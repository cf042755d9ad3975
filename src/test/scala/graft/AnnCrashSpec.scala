package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files => JF, Paths => JP}
import graft.operators.{AnnIndex, IvfPqIndex}

/** Kill-the-JVM e2e for AnnIndex's generation commit: a child JVM is
  * SIGKILLed inside an append — after the flat write, before the SQ8
  * codes write, or after a refit's sidecar build but before the commit —
  * and the spec pins that (a) the crash is real on disk (the batch's
  * tables sit under `g<N>/` with no `_gen/<N>`), (b) serving equals a
  * clean run at the previous generation on the same arm, and (c)
  * re-running the append commits generation N and serves what a
  * crash-free twin of the index serves. */
class AnnCrashSpec extends SparkSpec {

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kv.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** 20 near-dups of corpus vectors 0..19 under ids +900000, as parquet. */
  private def plantedBatch(idx: String, root: java.nio.file.Path): String = {
    val batchPq = s"$root/batch"
    spark.read.parquet(s"$idx/vectors")
      .filter(col("vec_id") < 20)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"))
      .write.parquet(batchPq)
    batchPq
  }

  /** Start `main` appending `batchPq` to `idx`, wait for it to park at
    * `point`, then SIGKILL it — no shutdown hooks, no finally. */
  private def crashAppend(main: String, idx: String, batchPq: String,
      point: String, root: java.nio.file.Path): Unit = {
    val sentinel = root.resolve(s"kill-$point")
    val log = root.resolve(s"child-$point.log")
    val child = ChildJvm.start(main, Seq(idx, batchPq, point, sentinel.toString), log)
    try assert(ChildJvm.awaitFile(sentinel),
      s"child never reached $point — log:\n${ChildJvm.logTail(log)}")
    finally {
      child.destroyForcibly()
      child.waitFor()
      ()
    }
  }

  private def probesOf(idx: String, ids: Long*): DataFrame =
    spark.read.parquet(s"$idx/vectors").filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))

  private def served(dir: String, probes: DataFrame, k: Int = 5) =
    AnnIndex.queryProbes(spark, dir, probes, k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  private def top1(rows: Seq[(Long, Int, Long)]): Map[Long, Long] =
    rows.filter(_._2 == 1).map(r => r._1 -> r._3).toMap

  private def committed(idx: String, n: Long): Boolean =
    JF.exists(JP.get(s"$idx/_gen/$n"))

  test("ANN append: SIGKILL between the arms is detected, served around, and repaired") {
    // The name predates the generation log. It now pins: a SIGKILL between
    // the arms serves generation 1, routed; the re-run commits generation 2
    // and matches a crash-free twin.
    val root = JF.createTempDirectory("ann-crash")
    withConf(AnnIndex.FlatMaxBucketRowsKey -> "0") { // routes like a 10^9-vector corpus
      val idx = s"$root/idx"
      AnnIndex.build(spark, sfDir, idx)
      assert(AnnIndex.chosenArm(spark, idx) == "ivfpq",
        "precondition: the index must be routing before the crash")
      // crash-free twin: a byte-copy of the SAME built index
      val ref = s"$root/ref"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(idx), new java.io.File(ref))
      val batchPq = plantedBatch(idx, root)
      val probes = probesOf(idx, 0L until 5L: _*)
      val gen1 = served(idx, probes)

      crashAppend("graft.AnnCrashChild", idx, batchPq, "after_flat_write", root)
      // the crash is real on disk: the flat tables landed, the sidecar
      // extension and the commit did not
      assert(spark.read.parquet(s"$idx/g2/vectors").count() == 20)
      assert(!JF.exists(JP.get(s"$idx/g2/ivfpq")))
      assert(!committed(idx, 2))
      // serving is generation 1, on the routed arm, byte for byte
      assert(AnnIndex.generation(spark, idx).number == 1)
      assert(AnnIndex.chosenArm(spark, idx) == "ivfpq", "routed must stay routed")
      assert(served(idx, probes) == gen1,
        "a crashed append must serve exactly the previous generation")

      // the re-run commits generation 2 and serves what the twin serves
      AnnIndex.append(spark, idx, spark.read.parquet(batchPq))
      AnnIndex.append(spark, ref, spark.read.parquet(batchPq))
      assert(committed(idx, 2) && !committed(idx, 3), "the re-run commits the same N")
      assert(AnnIndex.chosenArm(spark, idx) == "ivfpq")
      val rerun = served(idx, probes)
      assert(rerun == served(ref, probes),
        "re-run index diverges from the crash-free twin")
      (0L until 5L).foreach(p => assert(top1(rerun)(p) == p + 900000L,
        s"routed serve missed the appended dup of $p: ${top1(rerun)}"))
    }
  }

  test("SQ8 append: SIGKILL before the codes write degrades to float32 and repairs") {
    // The name predates the generation log. It now pins: a SIGKILL before
    // the codes write keeps serving generation 1 on SQ8; the re-run matches
    // a crash-free twin.
    val root = JF.createTempDirectory("ann-sq8-crash")
    withConf(AnnIndex.ServeSq8Key -> "true") {
      val idx = s"$root/idx"
      AnnIndex.build(spark, sfDir, idx)
      assert(AnnIndex.serveMode(spark, idx) == "sq8",
        "precondition: SQ8 serving before the crash")
      val ref = s"$root/ref"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(idx), new java.io.File(ref))
      val batchPq = plantedBatch(idx, root)
      val probes = probesOf(idx, 0L until 5L: _*)
      val gen1 = served(idx, probes)

      crashAppend("graft.AnnSq8Child", idx, batchPq, "after_flat_write", root)
      assert(spark.read.parquet(s"$idx/g2/vectors").count() == 20)
      assert(!JF.exists(JP.get(s"$idx/g2/sq8")))
      assert(!committed(idx, 2))
      assert(AnnIndex.serveMode(spark, idx) == "sq8", "sq8 must stay sq8")
      assert(served(idx, probes) == gen1,
        "a crashed append must serve exactly the previous generation")

      AnnIndex.append(spark, idx, spark.read.parquet(batchPq))
      AnnIndex.append(spark, ref, spark.read.parquet(batchPq))
      assert(committed(idx, 2) && !committed(idx, 3))
      assert(AnnIndex.serveMode(spark, idx) == "sq8")
      val rerun = served(idx, probes)
      assert(rerun == served(ref, probes))
      (0L until 5L).foreach(p => assert(top1(rerun)(p) == p + 900000L,
        s"SQ8 serve missed the appended dup of $p: ${top1(rerun)}"))
    }
  }

  /** Streams the real serve (annServeEachBatch) while a child JVM
    * crash-appends; the serving process then replays the append. */
  test("serving stream observes an external crashed append within the refresh cadence") {
    // The name predates the generation log. It now pins: the stream never
    // serves an external crashed append and serves its replay on the very
    // next batch.
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = JF.createTempDirectory("ann-stream-crash")
    withConf(AnnIndex.FlatMaxBucketRowsKey -> "0") {
      val idx = s"$root/idx"
      AnnIndex.build(spark, sfDir, idx)
      val probeRows = spark.read.parquet(s"$idx/vectors")
        .filter(col("vec_id").isin(0L, 3L, 4L))
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1)
      val gen1Probe3 = served(idx, probesOf(idx, 3L), k = 3)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
      val probes = mem.toDF().toDF("probe_id", "pv")
        .withColumn("pv", col("pv").cast("array<float>"))
      val outDir = s"$root/out"
      val q = graft.streaming.StreamJobs
        .annServeEachBatch(probes, idx, outDir, k = 3).start()
      val batchPq = plantedBatch(idx, root)
      try {
        mem.addData(probeRows(0)) // batch 0: generation 1, routed
        q.processAllAvailable()
        assert(AnnIndex.chosenArm(spark, idx) == "ivfpq")

        crashAppend("graft.AnnCrashChild", idx, batchPq, "after_flat_write", root)
        assert(spark.read.parquet(s"$idx/g2/vectors").count() == 20 &&
          !committed(idx, 2), "the crash must be real on disk")
        mem.addData(probeRows(1)) // batch 1: still generation 1
        q.processAllAvailable()
        AnnIndex.append(spark, idx, spark.read.parquet(batchPq)) // the replay
        mem.addData(probeRows(2)) // batch 2: the very next batch
        q.processAllAvailable()
      } finally q.stop()

      val g = AnnIndex.generation(spark, idx)
      assert(g.number == 2 && !committed(idx, 3), "the replay commits the same N")
      val answers = spark.read.parquet(s"$outDir/answers")
        .select(col("batch_id").cast("long"), col("probe_id"),
          col("rnk"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      val b1 = answers.filter(_._1 == 1L).map(a => (a._2, a._3, a._4)).sortBy(_._2).toSeq
      assert(b1 == gen1Probe3,
        s"the batch after the crash must serve generation 1 exactly: $b1")
      val b2Top = answers.filter(a => a._1 == 2L && a._3 == 1).map(a => a._2 -> a._4).toMap
      assert(b2Top.get(4L).contains(900004L),
        s"the batch after the replay must serve the appended dup: $b2Top")
    }
  }

  test("serving stream with auto-repair reconverges the sidecar and keeps routing") {
    // The name predates the generation log. It now pins: the stream serves
    // an external writer's commit on the very next batch, routed, with both
    // arms over one corpus.
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = JF.createTempDirectory("ann-stream-commit")
    withConf(AnnIndex.FlatMaxBucketRowsKey -> "0") {
      val idx = s"$root/idx"
      AnnIndex.build(spark, sfDir, idx)
      val probeRows = spark.read.parquet(s"$idx/vectors")
        .filter(col("vec_id").isin(0L, 4L))
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
      val probes = mem.toDF().toDF("probe_id", "pv")
        .withColumn("pv", col("pv").cast("array<float>"))
      val outDir = s"$root/out"
      val q = graft.streaming.StreamJobs
        .annServeEachBatch(probes, idx, outDir, k = 3).start()
      val batchPq = plantedBatch(idx, root)
      try {
        mem.addData(probeRows(0))
        q.processAllAvailable()
        ChildJvm.run("graft.AnnCrashChild", Seq(idx, batchPq, "none", s"$root/unused"),
          root.resolve("child-commit.log"))
        mem.addData(probeRows(1)) // the first batch after the commit
        q.processAllAvailable()
      } finally q.stop()

      // the external commit is generation 2, whose two arms hold one corpus
      val g = AnnIndex.generation(spark, idx)
      assert(g.number == 2)
      val flatN = spark.read.parquet(g.vectors: _*).count()
      val sideN = spark.read.parquet(g.ivfpq.get._2.vectors: _*).count()
      assert(flatN == 520 && sideN == 520 && g.rows == 520,
        s"arms must agree with n: flat=$flatN sidecar=$sideN n=${g.rows}")
      assert(AnnIndex.chosenArm(spark, idx) == "ivfpq")
      val answers = spark.read.parquet(s"$outDir/answers")
        .select(col("batch_id").cast("long"), col("probe_id"),
          col("rnk"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      val b1Top = answers.filter(a => a._1 == 1L && a._3 == 1)
        .map(a => a._2 -> a._4).toMap
      assert(b1Top.get(4L).contains(900004L),
        s"routed serve after the external commit must see the appended dup: $b1Top")
    }
  }

  test("serving stream auto-repair rebuilds a sidecar lost to an external refit crash") {
    // The name predates the generation log. It now pins: the stream keeps
    // routing through the old sidecar after an external refit crash and
    // serves the re-run refit's generation next.
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = JF.createTempDirectory("ann-stream-refit")
    withConf(AnnIndex.FlatMaxBucketRowsKey -> "0", AnnIndex.RefitFactorKey -> "1.0") {
      val idx = s"$root/idx"
      AnnIndex.build(spark, sfDir, idx)
      val probeRows = spark.read.parquet(s"$idx/vectors")
        .filter(col("vec_id").isin(0L, 3L, 4L))
        .select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1)
      val gen1Probe3 = served(idx, probesOf(idx, 3L), k = 3)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
      val probes = mem.toDF().toDF("probe_id", "pv")
        .withColumn("pv", col("pv").cast("array<float>"))
      val outDir = s"$root/out"
      val q = graft.streaming.StreamJobs
        .annServeEachBatch(probes, idx, outDir, k = 3).start()
      val batchPq = plantedBatch(idx, root)
      try {
        mem.addData(probeRows(0))
        q.processAllAvailable()
        // the external writer refits (refitFactor 1.0) and dies with the
        // new sidecar built but not committed
        crashAppend("graft.AnnRefitChild", idx, batchPq, "before_commit", root)
        assert(JF.exists(JP.get(s"$idx/g2/ivfpq/centroids")) && !committed(idx, 2),
          "the refit crash must be real on disk")
        mem.addData(probeRows(1)) // batch 1: generation 1's sidecar, routed
        q.processAllAvailable()
        AnnIndex.append(spark, idx, spark.read.parquet(batchPq)) // the re-run
        mem.addData(probeRows(2)) // batch 2: the refit generation
        q.processAllAvailable()
      } finally q.stop()

      val g = AnnIndex.generation(spark, idx)
      assert(g.number == 2 && g.ivfpq.get._1 == s"$idx/g2/ivfpq")
      assert(IvfPqIndex.fittedN(spark, g.ivfpq.get._1).contains(520L),
        "the re-run must refit over the grown corpus")
      val answers = spark.read.parquet(s"$outDir/answers")
        .select(col("batch_id").cast("long"), col("probe_id"),
          col("rnk"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      val b1 = answers.filter(_._1 == 1L).map(a => (a._2, a._3, a._4)).sortBy(_._2).toSeq
      assert(b1 == gen1Probe3,
        s"the batch after the crash must serve generation 1 exactly: $b1")
      val b2Top = answers.filter(a => a._1 == 2L && a._3 == 1)
        .map(a => a._2 -> a._4).toMap
      assert(b2Top.get(4L).contains(900004L),
        s"the refit generation must serve the appended dup: $b2Top")
    }
  }

  test("refit swap: SIGKILL in the no-sidecar window degrades to flat and re-refits cleanly") {
    // The name predates the generation log. It now pins: a SIGKILL before
    // the refit's commit keeps the old sidecar routing; the re-run commits
    // the refit and matches a crash-free twin.
    val root = JF.createTempDirectory("ann-refit-crash")
    withConf(AnnIndex.FlatMaxBucketRowsKey -> "0", AnnIndex.RefitFactorKey -> "1.0") {
      val idx = s"$root/idx"
      AnnIndex.build(spark, sfDir, idx)
      assert(IvfPqIndex.fittedN(spark, s"$idx/ivfpq").contains(500L),
        "precondition: fresh fit marker")
      val ref = s"$root/ref"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(idx), new java.io.File(ref))
      val batchPq = plantedBatch(idx, root)
      val probes = probesOf(idx, 0L until 5L: _*)
      val gen1 = served(idx, probes)

      // the child appends with refitFactor 1.0 (any growth refits) and is
      // SIGKILLed with the refit sidecar built but not committed
      crashAppend("graft.AnnRefitChild", idx, batchPq, "before_commit", root)
      assert(IvfPqIndex.fittedN(spark, s"$idx/g2/ivfpq").contains(520L),
        "the refit sidecar must be complete on disk")
      assert(!committed(idx, 2))
      // generation 1's sidecar keeps serving, routed, byte for byte
      val g1 = AnnIndex.generation(spark, idx)
      assert(g1.number == 1 && g1.ivfpq.get._1 == s"$idx/ivfpq")
      assert(AnnIndex.chosenArm(spark, idx) == "ivfpq", "routed must stay routed")
      assert(served(idx, probes) == gen1)

      AnnIndex.append(spark, idx, spark.read.parquet(batchPq))
      AnnIndex.append(spark, ref, spark.read.parquet(batchPq))
      val g2 = AnnIndex.generation(spark, idx)
      assert(g2.number == 2 && !committed(idx, 3))
      assert(IvfPqIndex.fittedN(spark, g2.ivfpq.get._1).contains(520L),
        "the re-run must record the grown corpus as the fitted size")
      val rerun = served(idx, probes)
      assert(rerun == served(ref, probes))
      (0L until 5L).foreach(p => assert(top1(rerun)(p) == p + 900000L,
        s"refit routed serve missed the planted dup of $p: ${top1(rerun)}"))
    }
  }
}
