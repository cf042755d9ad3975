package graft

import scala.jdk.CollectionConverters._

/** Forks real child JVMs on the test classpath — the cross-PROCESS leg of
  * the durability story. The in-process replay/locking specs drive every
  * crash point and locking interleave inside one JVM; these helpers let a
  * spec observe the same contracts across genuine process boundaries:
  * SIGKILL-during-commit (CrashRecoverySpec) and two concurrent appender
  * processes contending on the index file lock (DedupHammerSpec) — the
  * reference's own correctness harness is exactly this shape (stress A/B
  * across processes, reference benchmark/stress.go:44-152). */
object ChildJvm {

  /** The --add-opens pairs the current test JVM was launched with (Spark
    * 4.x on JDK 17 needs them; build.sbt injects them for forked tests) —
    * reconstructed from RuntimeMXBean so the child always matches the
    * parent instead of drifting from a second hardcoded list. */
  private def addOpens: Seq[String] = {
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val paired = in.sliding(2).collect {
      case List("--add-opens", v) => Seq("--add-opens", v)
    }.flatten.toList
    val fused = in.filter(_.startsWith("--add-opens="))
    paired ++ fused
  }

  /** Launch `mainClass` (resolved on this JVM's classpath) in a fresh
    * JVM; stdout+stderr go to `logFile` for post-mortem. */
  def start(mainClass: String, args: Seq[String],
      logFile: java.nio.file.Path, maxHeap: String = "3g"): Process = {
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      s"-Xmx$maxHeap",
      "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      mainClass) ++ args
    new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(logFile.toFile)
      .start()
  }

  /** Run to completion; fail loudly with the child log tail on non-zero
    * exit or timeout (SIGKILL the straggler rather than leak it). */
  def run(mainClass: String, args: Seq[String],
      logFile: java.nio.file.Path, timeoutSec: Long = 300): Unit = {
    val p = start(mainClass, args, logFile)
    // load-scaled like awaitFile: the child's whole run slows with the host
    val done = p.waitFor((timeoutSec * loadFactor()).toLong,
      java.util.concurrent.TimeUnit.SECONDS)
    if (!done) { p.destroyForcibly(); p.waitFor() }
    require(done && p.exitValue() == 0,
      s"$mainClass ${if (done) s"exited ${p.exitValue()}" else "timed out"}" +
        s" — log tail:\n${logTail(logFile)}")
  }

  def logTail(logFile: java.nio.file.Path, lines: Int = 40): String =
    if (java.nio.file.Files.exists(logFile)) {
      val all = java.nio.file.Files.readAllLines(logFile).asScala
      all.takeRight(lines).mkString("\n")
    } else "(no log)"

  /** Wait-scaling under host load (VERDICT r13 #6): a child JVM boots a
    * whole Spark session before reaching its rendezvous, and on the
    * shared host that boot has measured 3-4× slower while 32-thread
    * probes run — the base timeout then times the HOST, not the child.
    * Scale by loadavg-per-core, clamped to [1, 4]. */
  private def loadFactor(): Double = {
    val la = try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => 0.0 }
    math.min(4.0, math.max(1.0, la / Runtime.getRuntime.availableProcessors()))
  }

  /** Poll for a file the child writes as a rendezvous point. The
    * effective timeout stretches with the host's current load. */
  def awaitFile(p: java.nio.file.Path, timeoutSec: Long = 180): Boolean = {
    val deadline = System.nanoTime() +
      (timeoutSec * loadFactor() * 1e9).toLong
    while (System.nanoTime() < deadline) {
      if (java.nio.file.Files.exists(p)) return true
      Thread.sleep(100)
    }
    false
  }

  /** A child-side SparkSession builder shared by the child mains: local
    * mode, isolated warehouse, quiet logs. */
  def childSpark(name: String): org.apache.spark.sql.SparkSession = {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory(s"$name-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Child main for the kill-the-JVM curation e2e: runs the REAL streaming
  * pipeline (file source → curateIngest → checkpointed query) against
  * `inDir`. If `crashPoint` names one of applyCurateBatch's probe labels,
  * the child writes `sentinel` when execution reaches that point and then
  * parks — the parent SIGKILLs it there, mid-commit. With crashPoint
  * "none" it processes everything available, then exits 0. */
object CrashCurateChild {
  def main(args: Array[String]): Unit = {
    val Array(inDir, modelDir, pipeDir, ckptDir, crashPoint, sentinel) = args
    val spark = ChildJvm.childSpark("crash-curate-child")
    if (crashPoint != "none")
      graft.streaming.StreamJobs.crashProbe = p =>
        if (p == crashPoint) {
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(sentinel), p)
          Thread.sleep(600000) // park: the parent SIGKILLs this JVM here
        }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one input file per micro-batch
      .parquet(inDir)
    val q = graft.streaming.StreamJobs.curateIngest(src, modelDir, pipeDir)
      .option("checkpointLocation", ckptDir)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.stop()
  }
}

/** Child main for the per-family single-index ingest crash e2e: runs ONE
  * of the four standing-index ingest pipelines (exact-hash dedup, MinHash
  * near-dup, SimHash near-dup, exact-Jaccard) as a real checkpointed file
  * stream. With a crashPoint it writes `sentinel` on reaching that probe
  * and parks for the parent's SIGKILL; with "none" it drains the input
  * and exits 0. */
object CrashIngestChild {
  def main(args: Array[String]): Unit = {
    val Array(family, inDir, indexDir, ckptDir, crashPoint, sentinel) = args
    val spark = ChildJvm.childSpark(s"crash-$family-child")
    if (crashPoint != "none")
      graft.streaming.StreamJobs.crashProbe = p =>
        if (p == crashPoint) {
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(sentinel), p)
          Thread.sleep(600000) // park: the parent SIGKILLs this JVM here
        }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
    val writer = family match {
      case "dedup" => graft.streaming.StreamJobs.dedupIngest(src, indexDir)
      case "neardup" => graft.streaming.StreamJobs.nearDedupIngest(src, indexDir)
      case "simhash" => graft.streaming.StreamJobs.simhashDedupIngest(src, indexDir)
      case "jaccard" => graft.streaming.StreamJobs.exactDedupIngest(src, indexDir)
    }
    val q = writer.option("checkpointLocation", ckptDir).start()
    q.processAllAvailable()
    q.stop()
    spark.stop()
  }
}

/** Child main for the ANN append crash e2e (AnnCrashSpec): appends
  * `batchParquet` to the ANN index at `indexDir`. With a crashPoint
  * ("after_flat_write") it writes `sentinel` once the batch's flat tables
  * are down, before the sidecar extension and the generation commit, and
  * parks for the parent's SIGKILL; with "none" it appends cleanly and
  * exits 0. */
object AnnCrashChild {
  def main(args: Array[String]): Unit = {
    val Array(indexDir, batchParquet, crashPoint, sentinel) = args
    val spark = ChildJvm.childSpark("ann-crash-child")
    if (crashPoint != "none")
      graft.operators.AnnIndex.crashProbe = p =>
        if (p == crashPoint) {
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(sentinel), p)
          Thread.sleep(600000) // park: the parent SIGKILLs this JVM here
        }
    graft.operators.AnnIndex.append(spark, indexDir,
      spark.read.parquet(batchParquet))
    spark.stop()
  }
}

/** Child main for the refit crash e2e (AnnCrashSpec): appends
  * `batchParquet` with refitFactor pinned to 1.0, so any growth past the
  * fitted size refits the sidecar into the new generation's directory.
  * With crashPoint "before_commit" it writes `sentinel` once the refit
  * sidecar is built, before the generation commit, and parks for the
  * parent's SIGKILL; with "none" the append refits cleanly and exits 0. */
object AnnRefitChild {
  def main(args: Array[String]): Unit = {
    val Array(indexDir, batchParquet, crashPoint, sentinel) = args
    val spark = ChildJvm.childSpark("ann-refit-child")
    spark.conf.set(graft.operators.AnnIndex.FlatMaxBucketRowsKey, "0")
    spark.conf.set(graft.operators.AnnIndex.RefitFactorKey, "1.0")
    if (crashPoint != "none")
      graft.operators.AnnIndex.crashProbe = p =>
        if (p == crashPoint) {
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(sentinel), p)
          Thread.sleep(600000) // park: the parent SIGKILLs this JVM here
        }
    graft.operators.AnnIndex.append(spark, indexDir,
      spark.read.parquet(batchParquet))
    spark.stop()
  }
}

/** Child main for the SQ8 append crash e2e (AnnCrashSpec): appends
  * `batchParquet` with SQ8 serving opted in, so append extends the codes
  * table right after the flat write. With crashPoint "after_flat_write"
  * it writes `sentinel` before the codes write and parks for the
  * parent's SIGKILL. */
object AnnSq8Child {
  def main(args: Array[String]): Unit = {
    val Array(indexDir, batchParquet, crashPoint, sentinel) = args
    val spark = ChildJvm.childSpark("ann-sq8-child")
    spark.conf.set(graft.operators.AnnIndex.ServeSq8Key, "true")
    if (crashPoint != "none")
      graft.operators.AnnIndex.crashProbe = p =>
        if (p == crashPoint) {
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(sentinel), p)
          Thread.sleep(600000) // park: the parent SIGKILLs this JVM here
        }
    graft.operators.AnnIndex.append(spark, indexDir,
      spark.read.parquet(batchParquet))
    spark.stop()
  }
}

/** Child main for the two-process DedupIndex append hammer: waits on the
  * shared `goFile` rendezvous (so both processes enter the append window
  * together), then appends its batch in four sub-batches — eight
  * interleaved cross-process lock acquisitions per run between the two
  * children. */
object DedupAppendChild {
  def main(args: Array[String]): Unit = {
    val Array(indexDir, batchParquet, readyFile, goFile) = args
    val spark = ChildJvm.childSpark("dedup-append-child")
    import org.apache.spark.sql.functions.col
    val batch = spark.read.parquet(batchParquet)
    batch.count() // materialize the read before the rendezvous
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(readyFile), "ready")
    require(ChildJvm.awaitFile(java.nio.file.Paths.get(goFile)),
      "parent never dropped the go file")
    (0 until 4).foreach { i =>
      graft.operators.DedupIndex.append(spark, indexDir,
        batch.filter(col("doc_id") % 4 === i))
    }
    spark.stop()
  }
}
