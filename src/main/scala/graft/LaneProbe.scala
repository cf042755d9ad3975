package graft

import org.apache.spark.sql.SparkSession

/** Dev-only measurement harness for the optimization rounds: time or
  * explain individual lanes without paying the full 42-lane sweep.
  * Prints human-readable lines only (Bench.main owns the JSON contract
  * line). A name resolves to the Bench lane first (so the measured
  * DataFrame is byte-identical to what Bench times), then to the
  * registry (SparkEntry.queries), so registry-only lanes get the same
  * plan and job-count evidence.
  *
  * Usage: runMain graft.LaneProbe time l39_bigram_lm,l55_allpairs 5
  *        runMain graft.LaneProbe plan l57_pipeline plans/r19 _before
  */
object LaneProbe {
  def main(args: Array[String]): Unit = {
    val cmd = args(0)
    val lanes = args(1).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val all = SparkEntry.queries ++ Bench.headline
    val chosen = lanes.map(n => n -> all(n))

    cmd match {
      case "plan" =>
        val outDir = args(2)
        val suffix = if (args.length > 3) args(3) else "_before"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        chosen.foreach { case (name, fn) =>
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          spark.catalog.clearCache()
          println(s"wrote $outDir/$name$suffix.txt")
        }
      case "jobs" =>
        // per-lane Spark JOB count for one evaluation (serve-path
        // decomposition evidence): warmup first (index builds, JIT),
        // then count jobs during a single timed evaluation
        chosen.foreach { case (name, fn) =>
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
          catch { case e: Throwable => println(s"WARMUP FAIL $name: ${e.getMessage}") }
          spark.catalog.clearCache()
          val jobs = new java.util.concurrent.atomic.AtomicInteger()
          val listener = new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              jobs.incrementAndGet(); ()
            }
          }
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Thread.sleep(300) // listener bus is async; jobs started by now
          } finally spark.sparkContext.removeSparkListener(listener)
          val sec = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          println(f"$name%-24s jobs=${jobs.get()}%d  sec=$sec%.3f")
        }
      case "time" =>
        val iters = if (args.length > 2) args(2).toInt else 5
        def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
          (System.nanoTime() - t0) / 1e9
        }
        // warmup each lane once (JIT + index builds), then round-robin
        chosen.foreach { case (name, fn) =>
          spark.sparkContext.setJobDescription(s"warmup:$name")
          try { run(fn); () } catch { case e: Throwable =>
            println(s"WARMUP FAIL $name: ${e.getMessage}") }
        }
        val acc = scala.collection.mutable.LinkedHashMap(
          chosen.map { case (n, _) => n -> Vector.empty[Double] }: _*)
        for (_ <- 1 to iters; (name, fn) <- chosen) {
          spark.sparkContext.setJobDescription(s"time:$name")
          acc(name) = acc(name) :+ run(fn)
        }
        acc.foreach { case (name, ts) =>
          println(f"$name%-24s min=${ts.min}%.3f  med=${ts.sorted.apply(ts.size / 2)}%.3f  all=${ts.map(t => f"$t%.3f").mkString(",")}")
        }
      case other => sys.error(s"unknown cmd $other")
    }
    spark.stop()
  }
}
