package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamJobs

/** Streaming semantics via MemoryStream micro-batches (Q-T1..T5 streaming
  * side): streaming results equal the batch frame; watermark bounds state
  * and drops late data; dedup holds within the watermark. */
class StreamingSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  test("streaming tumbling counts equal batch frame") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(ts(5) -> 1L, ts(20) -> 2L, ts(65) -> 3L, ts(70) -> 4L, ts(130) -> 5L)
    val mem = MemoryStream[(Timestamp, Long)]
    val sdf = mem.toDF().toDF("ts", "event_id")
    val q = StreamJobs.tumblingCounts(sdf, watermark = true)
      .writeStream.format("memory").queryName("tumble")
      .outputMode("complete").start()
    mem.addData(data: _*)
    q.processAllAvailable()
    val streamed = spark.table("tumble").orderBy("ws")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    q.stop()
    val batch = StreamJobs.tumblingCounts(data.toDF("ts", "event_id")).orderBy("ws")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(streamed == batch)
    assert(streamed.map(_._2).sum == data.size)
  }

  test("publishEachBatch: each micro-batch commits a batch-atomic snapshot") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.{PufsFileSystem, SnapshotStore}
    val staging = java.nio.file.Files.createTempDirectory("stream-stage").toString
    val repo = java.nio.file.Files.createTempDirectory("stream-repo").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream-ckpt").toString
    val mem = MemoryStream[(Timestamp, Long)]
    val q = StreamJobs.publishEachBatch(
        mem.toDF().toDF("ts", "event_id"), staging, repo, "live")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      mem.addData(ts(1) -> 1L, ts(2) -> 2L, ts(3) -> 3L)
      q.processAllAvailable()
      val root1 = SnapshotStore.getRoot(repo, "live")
      assert(root1.isDefined, "no snapshot published after batch 1")
      mem.addData(ts(4) -> 4L, ts(5) -> 5L)
      q.processAllAvailable()
      val root2 = SnapshotStore.getRoot(repo, "live")
      assert(root2 != root1, "label did not advance with the second batch")
      // read the stream's full history back through a pufs mount of the
      // published label — the reference's push → mount round trip, fed by
      // a stream
      PufsFileSystem.mountSnapshot("live-snap", repo, "live")
      try {
        val hc = spark.sparkContext.hadoopConfiguration
        hc.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
        hc.set("fs.pufs.backing",
          java.nio.file.Files.createTempDirectory("stream-backing").toString)
        val ids = spark.read.parquet("pufs:///live-snap")
          .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
        assert(ids == Seq(1L, 2L, 3L, 4L, 5L),
          s"mounted snapshot rows: $ids")
      } finally PufsFileSystem.unmountSnapshot("live-snap")
    } finally q.stop()
  }

  test("publish replay matrix: a replayed batch never duplicates rows") {
    import graft.SparkSpec.spark.implicits._
    import graft.sources.SnapshotStore
    val staging = java.nio.file.Files.createTempDirectory("rp-stage").toString
    val repo = java.nio.file.Files.createTempDirectory("rp-repo").toString
    def batchDf(ids: Long*) = ids.toDF("event_id")
    def mountedIds(): Seq[Long] =
      SnapshotStore.mount(repo, "live").filter(_.path.endsWith(".parquet"))
        .flatMap { e =>
          val tmp = java.nio.file.Files.createTempFile("rp", ".parquet")
          java.nio.file.Files.write(tmp, SnapshotStore.readBlock(repo, e.sha256))
          spark.read.parquet(tmp.toString).select("event_id")
            .collect().map(_.getLong(0)).toSeq
        }.sorted
    StreamJobs.applyPublishBatch(batchDf(1L, 2L), 0L, staging, repo, "live")
    assert(mountedIds() == Seq(1L, 2L))
    // full replay of a committed batch (crash after marker): no-op
    StreamJobs.applyPublishBatch(batchDf(1L, 2L), 0L, staging, repo, "live")
    assert(mountedIds() == Seq(1L, 2L), "committed replay duplicated rows")
    // partial replay (crash between the staging write and the marker):
    // the batch rewrites ITS OWN partition, never appends a second copy —
    // simulate by removing the marker and replaying
    StreamJobs.applyPublishBatch(batchDf(3L), 1L, staging, repo, "live")
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      repo, ".stream-commits", "live", "commits", "1"))
    StreamJobs.applyPublishBatch(batchDf(3L), 1L, staging, repo, "live")
    assert(mountedIds() == Seq(1L, 2L, 3L),
      "uncommitted replay duplicated the batch into the snapshot")
  }

  test("dropDuplicates within watermark dedups by event_id") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val q = StreamJobs.dedupWithinWatermark(mem.toDF().toDF("ts", "event_id"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    mem.addData(ts(1) -> 1L, ts(2) -> 1L, ts(3) -> 2L)
    q.processAllAvailable()
    mem.addData(ts(4) -> 2L, ts(5) -> 3L)
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("late data past the watermark is dropped from append output") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val q = StreamJobs.tumblingCounts(mem.toDF().toDF("ts", "event_id"), watermark = true)
      .writeStream.format("memory").queryName("late")
      .outputMode("append").start()
    // batch 1: events in hour 0; advance watermark far past hour 0
    mem.addData(ts(5) -> 1L, ts(10) -> 2L)
    q.processAllAvailable()
    mem.addData(ts(300) -> 3L) // event time 05:00 -> watermark 04:50
    q.processAllAvailable()
    // batch 3: a LATE event for hour 0 — must be dropped
    mem.addData(ts(15) -> 4L)
    q.processAllAvailable()
    mem.addData(ts(600) -> 5L) // push watermark so hour-5 window finalizes
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late").orderBy("ws")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    // hour-0 window finalized with 2 events only (the late 4th dropped)
    assert(rows.contains((ts(0), 2L)), s"got $rows")
    assert(!rows.exists { case (w, c) => w == ts(0) && c != 2L })
  }

  test("file-source streaming: readStream over parquet equals batch") {
    import graft.SparkSpec.spark.implicits._
    // stage a parquet dir (events with micros ts, via Tables' converter)
    val dir = java.nio.file.Files.createTempDirectory("stream-src").toString
    val ev = Tables.t(spark, sfDir, "events").select("ts", "event_id", "user_id")
    ev.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    val q = StreamJobs.tumblingCounts(stream, watermark = true)
      .writeStream.format("memory").queryName("filesrc")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("filesrc").agg(sum("cnt")).head().getLong(0)
    assert(streamed == ev.count())
  }

  test("flatMapGroupsWithState accumulates per-user state across batches") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val ev = mem.toDF().toDF("ts", "user_id")
    val q = StreamJobs.runningUserStats(ev)
      .writeStream.format("memory").queryName("ustats")
      .outputMode("append").start()
    mem.addData(ts(1) -> 7L, ts(2) -> 7L, ts(3) -> 9L)
    q.processAllAvailable()
    mem.addData(ts(10) -> 7L)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ustats")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // batch 1 emissions: user 7 count 2, user 9 count 1; batch 2: user 7 count 3
    assert(rows.contains((7L, 2L, ts(2).getTime / 1000)))
    assert(rows.contains((9L, 1L, ts(3).getTime / 1000)))
    assert(rows.contains((7L, 3L, ts(10).getTime / 1000)), s"state not carried: $rows")
  }

  test("streaming EWMA: exact recurrence, batch-split invariant, ≈ batch t11") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (user, event_id, minute, value) — two users, interleaved
    val evs = Seq((7L, 1L, 1, 10.0), (7L, 2L, 2, 20.0), (9L, 3L, 3, 100.0),
      (7L, 4L, 4, 30.0), (9L, 5L, 5, 50.0), (7L, 6L, 6, 40.0))
    // sequential reference fold per user (e0 = v0; e = 0.5 v + 0.5 e)
    val expected = evs.groupBy(_._1).flatMap { case (u, rows) =>
      var e = 0.0; var first = true
      rows.sortBy(_._3).map { r =>
        e = if (first) r._4 else 0.5 * r._4 + 0.5 * e
        first = false
        (u, r._2, e)
      }
    }.toSet
    def run(name: String, batches: Seq[Seq[(Long, Long, Int, Double)]]): Set[(Long, Long, Double)] = {
      val mem = MemoryStream[(Long, Long, Timestamp, Double)]
      val sdf = mem.toDF().toDF("user_id", "event_id", "ts", "value")
      val q = StreamJobs.ewmaStream(sdf)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batches.foreach { b =>
        mem.addData(b.map(r => (r._1, r._2, ts(r._3), r._4)): _*)
        q.processAllAvailable()
      }
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val oneBatch = run("ewma1", Seq(evs))
    assert(oneBatch == expected, s"single batch diverged: $oneBatch")
    // the same events split across three batches: state must carry so the
    // fold is identical (in-order arrival, the recurrence contract)
    val split = run("ewma3", Seq(evs.take(2), evs.slice(2, 4), evs.drop(4)))
    assert(split == oneBatch, "batch split changed the recurrence")
    // and the batch t11 lane is this recurrence truncated at 16 terms:
    // on ≤16-event-per-user data the two agree to truncation tolerance
    // (t11 folds zeros for missing history; tolerance 2^-15 of max |v|)
    val batch = graft.operators.StreamOps.queries("t11_ewma")(
      spark, graft.SparkSpec.sfDir)
      .limit(0) // shape probe only: same columns
    assert(batch.columns.toSeq == Seq("user_id", "event_id", "ewma"))
    val t11OnFixture = {
      // run the t11 expression tree over the fixture via SQL views
      evs.map(r => (r._1, r._2, ts(r._3), r._4))
        .toDF("user_id", "event_id", "ts", "value")
        .createOrReplaceTempView("events_fix")
      spark.sql(
        (0 until 16).map(k =>
          s"coalesce(lag(value, $k) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0) * ${math.pow(2.0, -k)}")
          .mkString(
            "SELECT user_id, event_id, (", " + ",
            s") / ${2.0 - math.pow(2.0, -15)} AS ewma FROM events_fix"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    // Agreement bound: after n events the exact recurrence differs from
    // the normalized 16-term window only in how the OLDEST 2^(1-n) weight
    // mass is distributed, so |diff| ≤ maxV·2^(1-n) — tight for longer
    // histories (u7: n=4 → maxV/8), loose only at n=1 by construction.
    val maxV = evs.map(_._4.abs).max
    val perUserOrder = evs.groupBy(_._1).view.mapValues(
      _.sortBy(_._3).map(_._2).zipWithIndex.toMap).toMap
    t11OnFixture.foreach { case (u, id, e) =>
      val exact = oneBatch.find(x => x._1 == u && x._2 == id).get._3
      val n = perUserOrder(u)(id) + 1
      val tol = maxV * math.pow(2.0, 1 - n) + 1e-9
      assert(math.abs(e - exact) <= tol,
        s"user $u event $id (n=$n): stream $exact vs t11 $e tol $tol")
    }
  }

  test("stateful streaming runs on the RocksDB state store (large-state path)") {
    // The default HDFSBackedStateStoreProvider keeps every key on-heap —
    // fine for tests, a cap at 100 TB-scale state. RocksDB spills state to
    // executor-local disk with incremental checkpointing; this pins that
    // the same stateful query runs unchanged with the provider swapped in
    // (conf-only), carries state across batches, and actually engages
    // RocksDB (progress metrics say so), so the scale path stays live.
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Timestamp, Long)]
      val ev = mem.toDF().toDF("ts", "user_id")
      val q = StreamJobs.runningUserStats(ev)
        .writeStream.format("memory").queryName("ustats_rocks")
        .outputMode("append").start()
      mem.addData(ts(1) -> 7L, ts(2) -> 7L, ts(3) -> 9L)
      q.processAllAvailable()
      mem.addData(ts(10) -> 7L)
      q.processAllAvailable()
      val progress = q.lastProgress.json
      q.stop()
      assert(progress.contains("rocksdb"),
        s"expected RocksDB state-store metrics in progress: $progress")
      val rows = spark.table("ustats_rocks")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows.contains((7L, 3L, ts(10).getTime / 1000)),
        s"state not carried across batches on RocksDB: $rows")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState emits the same per-user stats as fMGWS") {
    // the modern typed-state API (ValueState handles, RocksDB-required)
    // must reproduce the flatMapGroupsWithState variant's emissions for
    // the same batch sequence — same state machine, new surface
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Timestamp, Long)]
      val ev = mem.toDF().toDF("ts", "user_id")
      val q = StreamJobs.runningUserStatsTws(ev)
        .writeStream.format("memory").queryName("ustats_tws")
        .outputMode("append").start()
      mem.addData(ts(1) -> 7L, ts(2) -> 7L, ts(3) -> 9L)
      q.processAllAvailable()
      mem.addData(ts(10) -> 7L)
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("ustats_tws")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(
        (7L, 2L, ts(2).getTime / 1000),
        (9L, 1L, ts(3).getTime / 1000),
        (7L, 3L, ts(10).getTime / 1000)), s"got: $rows")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming ingestion dedup: accepted/ gets each content exactly once") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files.createTempDirectory("stream-dedup").toString
    graft.operators.DedupIndex.build(spark,
      Seq((1L, "seed document")).toDF("doc_id", "text"), indexDir)
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamJobs.dedupIngest(docs, indexDir).start()
    // batch 1: a dup of the seed, a novel doc repeated WITHIN the batch
    mem.addData((10L, "seed document"), (11L, "alpha"), (12L, "alpha"))
    q.processAllAvailable()
    // batch 2: the batch-1 novel again, plus one new content
    mem.addData((20L, "alpha"), (21L, "beta"))
    q.processAllAvailable()
    q.stop()
    val accepted = spark.read.parquet(s"$indexDir/accepted")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(accepted == Set((11L, "alpha"), (21L, "beta")),
      s"accepted must hold each novel content once, min-id keeper: $accepted")
  }

  test("streaming ingest with OPTIMIZE cadence: clustered generations, row-lossless") {
    // VERDICT r16 #7: the per-trigger small-file debris a streaming sink
    // drops is exactly what optimizeIncremental exists to kill — give it
    // the standing maintenance seat under foreachBatch.
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("stream-opt")
    val (sink, opt) = (s"$root/sink", s"$root/opt")
    val mem = MemoryStream[(Long, Long)]
    val rows = mem.toDF().toDF("a", "b")
    val q = StreamJobs.optimizeIngest(rows, sink, opt,
      targetBytes = Long.MaxValue, cols = Seq("a", "b"), everyBatches = 2)
      .start()
    try {
      for (batch <- 0 until 6) {
        mem.addData((0 until 50).map(i =>
          (batch * 100L + i, (i * 7L) % 100)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // cadence 2 over 6 batches → passes after batches 1, 3, 5 → every
    // ingested row reached the optimized dir through some pass
    val sunk = spark.read.parquet(s"$sink/data")
    val clustered = spark.read.parquet(opt)
    assert(sunk.count() == 300L)
    def key(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
    assert(key(clustered) == key(sunk),
      "optimized dir must serve exactly the ingested rows")
    // generations exist and carry the z-order layout (gen files only)
    val gens = new java.io.File(opt).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(gens.nonEmpty && gens.forall(_.getName.startsWith("gen")),
      s"readers must see clustered generations: ${gens.map(_.getName).toSeq}")
    // a replayed maintenance pass is a no-op (manifest identity)
    val (rw, seen) = graft.operators.LayoutOps.optimizeIncremental(spark,
      s"$sink/data", opt, Long.MaxValue, Seq("a", "b"))
    assert(rw == 0 && seen > 0, s"replayed pass must be a no-op: ($rw, $seen)")
    assert(key(spark.read.parquet(opt)) == key(sunk))
  }

  test("streaming ANN serving answers each probe batch from the standing index") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files.createTempDirectory("stream-ann").toString
    val outDir = java.nio.file.Files.createTempDirectory("stream-ann-out").toString
    graft.operators.AnnIndex.build(spark, sfDir, indexDir)
    val probeRows = graft.Tables.t(spark, sfDir, "embeddings")
      .filter(col("vec_id").isin(3L, 7L, 11L))
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val probes = mem.toDF().toDF("probe_id", "pv")
      .withColumn("pv", col("pv").cast("array<float>"))
    val q = StreamJobs.annServeEachBatch(probes, indexDir, outDir, k = 3).start()
    mem.addData(probeRows(0))                 // batch with one probe
    q.processAllAvailable()
    mem.addData(probeRows(1), probeRows(2))   // batch with two probes
    q.processAllAvailable()
    q.stop()
    val served = spark.read.parquet(s"$outDir/answers")
      .select("probe_id", "rnk", "neighbor_id", "sim")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // parity: the streamed answers ARE the batch path's answers
    val direct = graft.operators.AnnIndex.queryProbes(spark, indexDir,
        graft.Tables.t(spark, sfDir, "embeddings")
          .filter(col("vec_id").isin(3L, 7L, 11L))
          .select(col("vec_id").as("probe_id"), col("embedding").as("pv")), 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(served == direct, s"served=$served direct=$direct")
    assert(served.map(_._1) == Set(3L, 7L, 11L))
  }

  test("streaming k-means serving labels each batch from the frozen centroids") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixDir = graft.operators.LlmOps.KmFix.fixture(spark, sfDir)
    val outDir = java.nio.file.Files.createTempDirectory("stream-km-out").toString
    val rows = graft.Tables.t(spark, sfDir, "embeddings")
      .filter(col("vec_id").isin(1L, 5L, 9L))
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val vecs = mem.toDF().toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val q = StreamJobs.kmeansServeEachBatch(vecs, fixDir, outDir).start()
    mem.addData(rows(0))
    q.processAllAvailable()
    mem.addData(rows(1), rows(2))
    q.processAllAvailable()
    q.stop()
    val served = spark.read.parquet(s"$outDir/assignments")
      .select("vec_id", "cid", "dist")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    // parity: the streamed labels ARE the batch lane's labels
    val cents = spark.read.parquet(fixDir).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).sortBy(_._1).toSeq
    val direct = graft.operators.LlmOps.KmFix.assign(
        graft.Tables.t(spark, sfDir, "embeddings")
          .filter(col("vec_id").isin(1L, 5L, 9L))
          .select(col("vec_id"), col("embedding")), cents)
      .select("vec_id", "cid", "dist")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(served == direct, s"served=$served direct=$direct")
    assert(served.map(_._1) == Set(1L, 5L, 9L))

    // refit pickup (r19: the fixture is CACHED per file identity, not
    // re-read per batch): overwriting the fixture between batches must
    // be served on the very next batch — the cache keys on the dir's
    // (name, len, mtime) listing, which an overwrite always changes
    val fix2 = java.nio.file.Files.createTempDirectory("stream-km-fix2").toString
    spark.read.parquet(fixDir).write.mode("overwrite").parquet(fix2)
    val out2 = java.nio.file.Files.createTempDirectory("stream-km-out2").toString
    val mem2 = MemoryStream[(Long, Seq[Float])]
    val vecs2 = mem2.toDF().toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val q2 = StreamJobs.kmeansServeEachBatch(vecs2, fix2, out2).start()
    mem2.addData(rows(0)); q2.processAllAvailable() // warm the cache
    val shifted = cents.map { case (cid, v) => (cid, v.map(_ + 10.0)) }
    shifted.toDF("cid", "cvec").write.mode("overwrite").parquet(fix2)
    mem2.addData(rows(1)); q2.processAllAvailable()
    q2.stop()
    val batch1 = spark.read.parquet(s"$out2/assignments")
      .filter(col("batch_id") === 1L).select("vec_id", "cid", "dist")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val wantShifted = graft.operators.LlmOps.KmFix.assign(
        graft.Tables.t(spark, sfDir, "embeddings")
          .filter(col("vec_id") === rows(1)._1)
          .select(col("vec_id"), col("embedding")), shifted)
      .select("vec_id", "cid", "dist")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(batch1 == wantShifted,
      "a re-fit fixture must be served on the next batch, not the cached one")
  }

  test("streaming PQ serving answers probe batches from the compressed store") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files.createTempDirectory("stream-pq").toString
    val outDir = java.nio.file.Files.createTempDirectory("stream-pq-out").toString
    graft.operators.PqIndex.build(spark, sfDir, indexDir)
    val probeRows = graft.Tables.t(spark, sfDir, "embeddings")
      .filter(col("vec_id").isin(3L, 7L, 11L))
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val probes = mem.toDF().toDF("probe_id", "pv")
      .withColumn("pv", col("pv").cast("array<float>"))
    val q = StreamJobs.pqServeEachBatch(probes, indexDir, outDir, k = 3).start()
    mem.addData(probeRows(0))
    q.processAllAvailable()
    mem.addData(probeRows(1), probeRows(2))
    q.processAllAvailable()
    q.stop()
    val served = spark.read.parquet(s"$outDir/answers")
      .select("probe_id", "rnk", "neighbor_id", "sim")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // parity: the streamed answers ARE the batch path's answers
    val direct = graft.operators.PqIndex.queryProbes(spark, indexDir,
        graft.Tables.t(spark, sfDir, "embeddings")
          .filter(col("vec_id").isin(3L, 7L, 11L))
          .select(col("vec_id").as("probe_id"), col("embedding").as("pv")), 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(served == direct, s"served=$served direct=$direct")
    assert(served.map(_._1) == Set(3L, 7L, 11L))
  }

  test("streaming DSIR gate scores batches against the standing model, batch ≡ stream") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val modelDir = java.nio.file.Files.createTempDirectory("dsir-model").toString
    val outDir = java.nio.file.Files.createTempDirectory("dsir-out").toString
    val corpus = graft.Tables.t(spark, sfDir, "documents")
    StreamJobs.buildDsirModel(corpus, modelDir)
    // the model covers the FULL bucket domain — a scored doc hashing to a
    // bucket the build corpus never populated must still get the
    // smoothed unseen-bucket lambda, not silently drop
    assert(spark.read.parquet(s"$modelDir/model").count() == 256)
    val rows = corpus.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamJobs.dsirGateEachBatch(docs, modelDir, outDir).start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq); q.processAllAvailable()
    mem.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$outDir/accepted")
      .select("doc_id", "weight_fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // parity: the streamed gate keeps EXACTLY the batch path's positive-
    // weight docs with identical fixed-point weights (the model is shared
    // state; scoring is deterministic integer arithmetic)
    val direct = graft.operators.LlmOps
      .dsirScore(corpus.select("doc_id", "text"),
        spark.read.parquet(s"$modelDir/model"))
      .filter(col("weight_fp") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == direct)
    assert(streamed.nonEmpty && streamed.size < rows.length,
      s"gate should pass some and cut some: ${streamed.size}/${rows.length}")
    // at-least-once replay: re-applying a committed batch is a no-op (the
    // marker short-circuits), and re-applying after a lost marker is a
    // byte-stable rewrite of that batch's own partition — never duplicates
    val replay = b1.toSeq.toDF("doc_id", "text")
    StreamJobs.applyDsirGateBatch(replay, 0L, modelDir, outDir)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/commits/0"), false)
    StreamJobs.applyDsirGateBatch(replay, 0L, modelDir, outDir)
    val afterReplay = spark.read.parquet(s"$outDir/accepted")
      .select("doc_id", "weight_fp")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(afterReplay.length == afterReplay.distinct.length,
      "replay must not duplicate accepted rows")
    assert(afterReplay.toSet == direct)
  }

  test("streaming quantile gate: per-language model gates batches, batch ≡ stream") {
    // VERDICT r17 #6 / r18 #5: the l69 corpus-relative quality gate's
    // streaming seat — build the per-language p05/p95 model ONCE from a
    // reference corpus, gate arriving micro-batches map-only against
    // the broadcast model, accepted/rejected split row-exact vs the
    // l69 batch lane over the same frame.
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val modelDir = java.nio.file.Files.createTempDirectory("qgate-model").toString
    val outDir = java.nio.file.Files.createTempDirectory("qgate-out").toString
    val corpus = graft.Tables.t(spark, sfDir, "documents")
    StreamJobs.buildQuantileGateModel(corpus, modelDir)
    val nLangs = corpus.select("lang").distinct().count()
    assert(spark.read.parquet(s"$modelDir/model").count() == nLangs,
      "one model row per language")
    val rows = corpus.select("doc_id", "lang", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mem = MemoryStream[(Long, String, Long)]
    val docs = mem.toDF().toDF("doc_id", "lang", "n_chars")
    val q = StreamJobs.quantileGateEachBatch(docs, modelDir, outDir).start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq); q.processAllAvailable()
    mem.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    type V = (Long, String, Long, Double, Double, String)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[V] =
      df.select("doc_id", "lang", "n_chars", "p05", "p95", "verdict")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getString(5))).toSet
    val accepted = rowsOf(spark.read.parquet(s"$outDir/accepted"))
    val rejected = rowsOf(spark.read.parquet(s"$outDir/rejected"))
    assert(accepted.forall(_._6 == "keep") &&
      rejected.forall(v => v._6 == "too_short" || v._6 == "too_long"))
    assert(accepted.nonEmpty && rejected.nonEmpty,
      "a p05/p95 gate over its own corpus cuts both tails")
    // row-exact vs the l69 batch lane on the same frame + same model
    val lane = rowsOf(graft.SparkEntry.queries("l69_quantile_gate")(spark, sfDir))
    assert((accepted ++ rejected) == lane,
      "streamed gate must equal the l69 batch lane row-for-row")
    // replay: marker short-circuits; lost marker → byte-stable rewrite
    val replay = b1.toSeq.toDF("doc_id", "lang", "n_chars")
    StreamJobs.applyQuantileGateBatch(replay, 0L, modelDir, outDir)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/commits/0"), false)
    StreamJobs.applyQuantileGateBatch(replay, 0L, modelDir, outDir)
    val after = spark.read.parquet(s"$outDir/accepted").select("doc_id")
      .collect().map(_.getLong(0))
    assert(after.length == after.distinct.length,
      "replay must not duplicate accepted rows")
    assert(rowsOf(spark.read.parquet(s"$outDir/accepted")) ++
      rowsOf(spark.read.parquet(s"$outDir/rejected")) == lane)
  }

  test("streaming exact-Jaccard ingestion: true near-dups can never slip past") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files.createTempDirectory("stream-jaccard").toString
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamJobs.exactDedupIngest(docs, indexDir).start()
    // batch 1 hits an EMPTY index: 11 is a last-word-changed near-dup of
    // 10 (J = 7/9 ≥ 3/5 — dropped within batch, min id survives), 12 is
    // unrelated
    mem.addData(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (12L, "one two three four five six seven eight nine ten eleven twelve"))
    q.processAllAvailable()
    // batch 2: 20 is a near-dup of INDEXED 10 (exact screen must catch
    // it), 21 is novel, 22 has no shingles (sub-5-token) and passes
    mem.addData(
      (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda xi"),
      (21L, "red orange yellow green blue indigo violet white black grey pink brown"),
      (22L, "tiny doc"))
    q.processAllAvailable()
    q.stop()
    val accepted = spark.read.parquet(s"$indexDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == Set(10L, 12L, 21L, 22L),
      s"exact screen must drop 11 (within batch) and 20 (vs index): $accepted")
  }

  test("streaming near-dup ingestion: candidates drop, survivors join the index") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files.createTempDirectory("stream-neardup").toString
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamJobs.nearDedupIngest(docs, indexDir).start()
    // batch 1 hits an EMPTY index: an internal exact near-dup pair (11
    // collides with 10 in every band — identical text ⇒ identical
    // signatures) and an unrelated doc
    mem.addData(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon zeta"),
      (12L, "one two three four five six"))
    q.processAllAvailable()
    // batch 2: a copy of indexed content (screened out against the
    // standing index), a novel doc, and a sub-5-token doc (no shingles —
    // passes the near-dup screen by construction)
    mem.addData(
      (20L, "alpha beta gamma delta epsilon zeta"),
      (21L, "seven eight nine ten eleven twelve"),
      (22L, "tiny"))
    q.processAllAvailable()
    q.stop()
    val accepted = spark.read.parquet(s"$indexDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == Set(10L, 12L, 21L, 22L),
      s"min-id survivors + novel + shingle-less expected: $accepted")
    // the index holds signatures for exactly the accepted shingled docs
    val indexed = spark.read.parquet(s"$indexDir/sigs")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(10L, 12L, 21L),
      s"index must hold accepted docs' signatures: $indexed")
  }

  test("streaming SimHash ingestion: verified near-dups drop, signatures append") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files.createTempDirectory("stream-simhash").toString
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamJobs.simhashDedupIngest(docs, indexDir).start()
    def long(prefix: String): String =
      (1 to 40).map(i => s"$prefix$i").mkString(" ")
    // batch 1 hits an EMPTY index: 11 duplicates 10 exactly (identical
    // signature ⇒ hamming 0, dropped within batch, min id survives)
    mem.addData(
      (10L, long("alpha")),
      (11L, long("alpha")),
      (12L, long("bravo")))
    q.processAllAvailable()
    // batch 2: 20 duplicates INDEXED 10 (the standing screen must catch
    // it at hamming 0), 21 is novel
    mem.addData(
      (20L, long("alpha")),
      (21L, long("civic")))
    q.processAllAvailable()
    q.stop()
    val accepted = spark.read.parquet(s"$indexDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == Set(10L, 12L, 21L),
      s"min-id survivor + novel docs expected: $accepted")
    // the standing table holds exactly the accepted docs' signatures
    val indexed = spark.read.parquet(s"$indexDir/sigs")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(10L, 12L, 21L),
      s"index must hold accepted docs' signatures: $indexed")
  }

  test("streaming curation runs the full pipeline per batch against standing state") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pipeDir = java.nio.file.Files.createTempDirectory("stream-curate").toString
    val modelDir = s"$pipeDir/eval-model"
    // the eval benchmark: one doc whose 8-gram shingles define
    // contamination
    StreamJobs.buildDecontamModel(
      Seq((1L, "exam question secret alpha bravo charlie delta echo " +
        "foxtrot golf hotel")).toDF("doc_id", "text"),
      modelDir)
    // 40-token base docs (~240 chars: inside the l7 quality window;
    // long enough that a one-token edit keeps exact Jaccard ≥ 3/5)
    def doc(prefix: String): String =
      (1 to 40).map(i => s"$prefix$i").mkString(" ")
    val docA = doc("alpha")
    val docANear1 = docA.replace("alpha20", "changed")
    val docANear2 = docA.replace("alpha21", "different")
    val docB = doc("bravo")
    val docC = doc("civic")
    // contaminated: carries the eval doc's 8-gram run inside a
    // quality-passing doc
    val docDirty = doc("delta") +
      " exam question secret alpha bravo charlie delta echo foxtrot"
    val mem = MemoryStream[(Long, String)]
    val q = StreamJobs.curateIngest(
      mem.toDF().toDF("doc_id", "text"), modelDir, pipeDir).start()
    // batch 1 against EMPTY indexes
    mem.addData(
      (10L, docA),
      (11L, docA),        // exact dup within batch → dropped
      (12L, docANear1),   // near-dup of 10 within batch → dropped
      (13L, "tiny doc"),  // fails quality
      (14L, docDirty),    // contaminated → dropped
      (15L, docB))
    q.processAllAvailable()
    // batch 2 against the advanced indexes
    mem.addData(
      (20L, docA),        // exact dup of INDEXED 10 → dropped
      (21L, docANear2),   // near-dup of INDEXED 10 → dropped
      (22L, docC))        // novel → accepted
    q.processAllAvailable()
    q.stop()
    val accepted = spark.read.parquet(s"$pipeDir/accepted")
    val ids = accepted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(10L, 15L, 22L),
      s"curation must keep exactly the clean novel docs: $ids")
    val splits = accepted.select("split").collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
  }

  test("curation replay is a no-op at every crash point, incl. between the appends") {
    import graft.SparkSpec.spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val pipeDir = JFiles.createTempDirectory("curate-replay").toString
    val modelDir = s"$pipeDir/eval-model"
    StreamJobs.buildDecontamModel(
      Seq((1L, "exam question secret alpha bravo charlie delta echo " +
        "foxtrot golf hotel")).toDF("doc_id", "text"), modelDir)
    def doc(prefix: String): String =
      (1 to 40).map(i => s"$prefix$i").mkString(" ")
    val docA = doc("alpha")
    val docB = doc("bravo")
    def accepted: Set[Long] =
      spark.read.parquet(s"$pipeDir/accepted")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val b0 = Seq((10L, docA), (15L, docB)).toDF("doc_id", "text")
    StreamJobs.applyCurateBatch(b0, 0L, modelDir, pipeDir)
    assert(accepted == Set(10L, 15L))
    // crash point A: after the marker — replay is a plain no-op
    StreamJobs.applyCurateBatch(b0, 0L, modelDir, pipeDir)
    assert(accepted == Set(10L, 15L), "post-marker replay changed accepted/")
    // crash point B: both appends done, marker missing — the replay's
    // exact screen empties the flow (an empty frame overwrites no
    // partition), so accepted/ survives and the marker is recreated
    val marker = JPaths.get(s"$pipeDir/commits/0")
    JFiles.delete(marker)
    StreamJobs.applyCurateBatch(b0, 0L, modelDir, pipeDir)
    assert(JFiles.exists(marker), "replay must recreate the missing marker")
    assert(accepted == Set(10L, 15L), "append-complete replay lost rows")
    // crash point C: Jaccard appended, exact NOT (the window the append
    // ORDER exists for) — simulated by reverting the exact index to its
    // pre-append (empty) state with the Jaccard rows + accepted/ intact.
    // The replay must pass the batch through the exact screen, survive
    // its own stored rows in the Jaccard re-screen (a=b excluded,
    // accepted docs pairwise below τ), rewrite accepted/ byte-stably,
    // and re-append the exact index.
    def deleteRec(p: java.nio.file.Path): Unit = {
      if (JFiles.isDirectory(p))
        JFiles.list(p).toArray.foreach(c => deleteRec(c.asInstanceOf[java.nio.file.Path]))
      JFiles.delete(p)
    }
    deleteRec(JPaths.get(s"$pipeDir/exact"))
    JFiles.delete(marker)
    StreamJobs.applyCurateBatch(b0, 0L, modelDir, pipeDir)
    assert(accepted == Set(10L, 15L), "between-appends replay changed accepted/")
    // both indexes are now healthy: a later batch dedups against them —
    // 20 exact-dups indexed 10, 21 near-dups indexed 10 (one token
    // changed), 22 is novel. The Jaccard index holds DUPLICATE stored
    // rows for 10/15 after the double append; the distinct-count verify
    // must not let that admit or reject anything wrongly.
    val b1 = Seq(
      (20L, docA),
      (21L, docA.replace("alpha20", "changed")),
      (22L, doc("civic"))).toDF("doc_id", "text")
    StreamJobs.applyCurateBatch(b1, 1L, modelDir, pipeDir)
    assert(accepted == Set(10L, 15L, 22L),
      s"post-recovery batch must dedup against both indexes: $accepted")
  }

  test("a curation batch evaluates its pipeline once: the model is read in one execution") {
    import graft.SparkSpec.spark.implicits._
    val pipeDir = java.nio.file.Files.createTempDirectory("curate-once").toString
    val modelDir = s"$pipeDir/eval-model"
    StreamJobs.buildDecontamModel(
      Seq((1L, "exam question secret alpha bravo charlie delta echo " +
        "foxtrot golf hotel")).toDF("doc_id", "text"), modelDir)
    def doc(prefix: String): String =
      (1 to 40).map(i => s"$prefix$i").mkString(" ")
    val docA = doc("alpha")
    def accepted(batch: Long): Set[Long] =
      spark.read.parquet(s"$pipeDir/accepted").filter(col("batch_id") === batch)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    def run(batch: Long, rows: (Long, String)*): Set[Long] = {
      val df = rows.toDF("doc_id", "text")
      val (_, rec) = JobAttribution.of(spark)(
        StreamJobs.applyCurateBatch(df, batch, modelDir, pipeDir))
      // the model is read with its pinned schema: no footer-inference job
      assert(!rec.jobs.exists(_.frame.startsWith("graft.operators.DecontamIndex$.screen")),
        s"batch $batch inferred the model's schema: ${rec.jobs}")
      rec.scansOf(s"$modelDir/g1/shingles")
    }
    // each batch carries a contaminated doc: with no bloom survivor the
    // adaptive plan would skip the model scan altogether
    def dirty(prefix: String): String =
      doc(prefix) + " exam question secret alpha bravo charlie delta echo foxtrot"
    // batch 0 bootstraps the indexes; batch 1 screens against them, so
    // `accepted`'s lineage reads jaccard/ and exact/ — the paths its own
    // appends write
    val reads0 = run(0L, (10L, docA), (14L, dirty("delta")), (15L, doc("bravo")))
    val reads1 = run(1L,
      (20L, docA),                                   // exact dup of 10
      (21L, docA.replace("alpha20", "changed")),     // near dup of 10
      (22L, doc("civic")),                           // novel
      (23L, dirty("echo")))                          // contaminated
    assert(accepted(0L) == Set(10L, 15L) && accepted(1L) == Set(22L))
    assert(reads0.size == 1, s"batch 0 read the model in executions $reads0")
    assert(reads1.size == 1,
      s"batch 1 read the model in executions $reads1: an index append " +
        "re-ran the pipeline")
  }

  test("a curation batch shingles once and screens near-dups in one pass") {
    import graft.SparkSpec.spark.implicits._
    val pipeDir = java.nio.file.Files.createTempDirectory("curate-jobs").toString
    val modelDir = s"$pipeDir/eval-model"
    StreamJobs.buildDecontamModel(
      Seq((1L, "exam question secret alpha bravo charlie delta echo " +
        "foxtrot golf hotel")).toDF("doc_id", "text"), modelDir)
    def doc(prefix: String): String =
      (1 to 40).map(i => s"$prefix$i").mkString(" ")
    val docA = doc("alpha")
    // standing indexes over a corpus, as a serving deployment has them
    val corpus = Seq((1L, docA), (2L, doc("bravo"))).toDF("doc_id", "text")
    graft.operators.DedupIndex.build(spark, corpus, s"$pipeDir/exact")
    graft.operators.JaccardIndex.build(spark, corpus, s"$pipeDir/jaccard")
    val civic = doc("civic")
    val batch = Seq(
      (10L, docA),                                   // exact dup of 1
      (11L, docA.replace("alpha20", "changed")),     // near dup of 1
      (12L, civic),                                  // novel
      (13L, civic.replace("civic20", "changed")),    // near dup of 12
      (14L, doc("delta") +                           // contaminated
        " exam question secret alpha bravo charlie delta echo foxtrot"),
      (15L, doc("echo")),                            // novel
      (16L, "tiny doc")).toDF("doc_id", "text")      // fails quality
    val (_, rec) = JobAttribution.of(spark)(
      StreamJobs.applyCurateBatch(batch, 0L, modelDir, pipeDir))
    val accepted = spark.read.parquet(s"$pipeDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == Set(12L, 15L), s"$accepted")
    // the batch's 5-gram shingle sets are computed in one execution (the
    // shingle checkpoint); both screens and the append read its blocks
    val shingled = rec.executionsWith(n =>
      n.startsWith("Generate") && n.contains("array_distinct"))
    assert(shingled.size == 1, s"the batch was shingled in executions $shingled")
    // the build's generation: the first screen loads it into the
    // resident model, and the append extends that model instead of
    // reading it again
    val reads = rec.scansOf(s"$pipeDir/jaccard/g1/shingles")
    assert(reads.size == 1, s"jaccard/g1/shingles was read in executions $reads")
    // jobs per batch, measured on this fixture with local[4]: 20 —
    // shingle checkpoint 7, reject set 2 (the resident model's load and
    // the batch collect; a warm model skips the load), pipeline
    // checkpoint 4, accepted write 1, Jaccard append 2 (the accepted
    // doc_ids' collect, the write), exact append 4. The distributed reject
    // set ran 27 (6 reject-set jobs, a pipeline checkpoint of 7); two
    // verify chains, a sizes table and a counting decontamination screen
    // ran 39; the sequential screens, each shingling the batch again, 51
    assert(rec.jobs.size <= 20, s"${rec.jobs.size} jobs:\n${rec.summary}")
  }

  test("an exactDedupIngest batch's append does not re-run the screens") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files.createTempDirectory("jaccard-once").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamJobs.exactDedupIngest(mem.toDF().toDF("doc_id", "text"),
      indexDir).start()
    try {
      mem.addData(
        (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
        (12L, "one two three four five six seven eight nine ten eleven twelve"))
      q.processAllAvailable()
      // batch 2 screens against generation 1, which batch 1's append
      // committed: the screen reads its shingles once, and the append of
      // generation 2 must not read them again
      val (_, rec) = JobAttribution.of(spark) {
        mem.addData(
          (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda xi"),
          (21L, "red orange yellow green blue indigo violet white black grey pink brown"))
        q.processAllAvailable()
      }
      val reads = rec.scansOf(s"$indexDir/g1/shingles")
      assert(reads.size == 1,
        s"the standing g1/shingles was read in executions $reads: the append " +
          "re-ran the screen")
    } finally q.stop()
    val accepted = spark.read.parquet(s"$indexDir/accepted")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == Set(10L, 12L, 21L), s"$accepted")
  }

  test("maintainAggEachBatch keeps the standing aggregate ≡ full recompute") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val aggDir = java.nio.file.Files.createTempDirectory("stream-incragg").toString
    val mem = MemoryStream[(Long, Double)]
    val sdf = mem.toDF().toDF("grp", "value")
    val q = StreamJobs.maintainAggEachBatch(sdf, aggDir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("incragg-ckpt").toString)
      .start()
    val batches = Seq(
      Seq(1L -> 10.0, 1L -> 5.0, 2L -> 7.0),
      Seq(2L -> 3.0, 3L -> 1.0),
      Seq(1L -> 2.0, 3L -> 4.0, 3L -> 6.0))
    var seen = Seq.empty[(Long, Double)]
    batches.foreach { b =>
      mem.addData(b: _*)
      q.processAllAvailable()
      seen = seen ++ b
      val cur = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$aggDir/CURRENT")).trim
      val standing = spark.read.parquet(s"$aggDir/$cur")
        .select(col("grp"), col("cnt"), col("total").cast("double"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val direct = seen.toDF("grp", "value")
        .groupBy("grp")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(standing == direct,
        s"standing aggregate diverged after batch: $standing vs $direct")
    }
    q.stop()
  }

  test("maintainAggEachBatch replay is a no-op at EVERY crash point") {
    import graft.SparkSpec.spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val aggDir = JFiles.createTempDirectory("incragg-replay").toString
    def standing: Set[(Long, Long, Double)] = {
      val cur = JFiles.readString(JPaths.get(s"$aggDir/CURRENT")).trim
      spark.read.parquet(s"$aggDir/$cur")
        .select(col("grp"), col("cnt"), col("total").cast("double"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val b0 = Seq(1L -> 10.0, 2L -> 7.0).toDF("grp", "value")
    StreamJobs.applyAggBatch(b0, 0L, aggDir)
    val b1 = Seq(1L -> 5.0).toDF("grp", "value")
    StreamJobs.applyAggBatch(b1, 1L, aggDir)
    val want = Set((1L, 2L, 15.0), (2L, 1L, 7.0))
    assert(standing == want)
    // crash point A: after the marker — replay is a plain no-op
    StreamJobs.applyAggBatch(b1, 1L, aggDir)
    assert(standing == want, "post-marker replay changed the aggregate")
    // crash point B: AFTER the CURRENT swap but BEFORE the marker (the
    // window ADVICE r4 flagged): the replay must neither crash on
    // read-from/overwrite-to the same path nor double-apply the deltas —
    // it just finishes the commit by writing the missing marker
    val marker = JPaths.get(s"$aggDir/commits/1")
    JFiles.delete(marker)
    StreamJobs.applyAggBatch(b1, 1L, aggDir)
    assert(JFiles.exists(marker), "replay must recreate the missing marker")
    assert(standing == want, "swap-but-no-marker replay double-applied deltas")
    // version retention: the immediately-previous snapshot survives each
    // commit (a reader that resolved CURRENT just before the swap may
    // still be scanning it); everything older is reclaimed
    val b2 = Seq(2L -> 3.0).toDF("grp", "value")
    StreamJobs.applyAggBatch(b2, 2L, aggDir)
    val versions = JFiles.list(JPaths.get(aggDir)).toArray.map(_.toString)
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(n => n.matches("v\\d+")).sorted.toSeq
    assert(versions == Seq("v1", "v2"),
      s"expected current + immediately-previous versions only, got $versions")
    // the retained previous version is still a readable snapshot
    assert(spark.read.parquet(s"$aggDir/v1").count() == 2)
  }

  test("stream-static join enriches streaming rows with dimension data") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((7L, "gold"), (9L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[(Timestamp, Long)]
    val joined = mem.toDF().toDF("ts", "user_id")
      .join(dim, Seq("user_id"), "left_outer")
    val q = joined.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    mem.addData(ts(1) -> 7L, ts(2) -> 9L, ts(3) -> 11L)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enriched").select("user_id", "tier")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(rows == Set((7L, Some("gold")), (9L, Some("silver")), (11L, None)))
  }

  test("stream-stream join matches pairs within the event-time bound") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val views = MemoryStream[(Timestamp, Long)]
    val joined = StreamJobs.clickViewJoin(
      clicks.toDF().toDF("cts", "c_user"),
      views.toDF().toDF("vts", "v_user"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    views.addData(ts(2) -> 7L, ts(6) -> 7L, ts(7) -> 7L, ts(8) -> 9L)
    clicks.addData(ts(10) -> 7L)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj")
      .collect().map(r => (r.getLong(0), r.getTimestamp(2))).toSet
    // views at 6 and 7 fall in [5, 10]; the view at 2 is too old; user 9
    // never clicked
    assert(rows == Set((7L, ts(6)), (7L, ts(7))), s"got $rows")
  }

  test("salted stream-stream join is row-identical on a zipf user distribution") {
    // VERDICT r18 #8: t13's scaladoc names the hot-user salting remedy;
    // this pins the implementation. One power user (id 1) holds ~60% of
    // both streams — the zipf head — plus a uniform tail. The salted
    // join (clicks pick one salt, views replicate to all) must emit
    // EXACTLY the unsalted join's pairs: every (click, view) pair meets
    // in precisely the click's salt partition.
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(42)
    def user(i: Int): Long = if (rnd.nextDouble() < 0.6) 1L else 2L + i % 7
    val clickRows = (0 until 120).map(i => ts(60 + i * 7) -> user(i))
    val viewRows = (0 until 400).map(i => ts(i * 3) -> user(i + 1000))
    def run(salted: Boolean, name: String): Set[(Long, Timestamp, Timestamp)] = {
      val clicks = MemoryStream[(Timestamp, Long)]
      val views = MemoryStream[(Timestamp, Long)]
      val cdf = clicks.toDF().toDF("cts", "c_user")
      val vdf = views.toDF().toDF("vts", "v_user")
      val joined =
        if (salted) StreamJobs.clickViewJoinSalted(cdf, vdf, salts = 8)
        else StreamJobs.clickViewJoin(cdf, vdf)
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      views.addData(viewRows); clicks.addData(clickRows)
      q.processAllAvailable(); q.stop()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      spark.sql(s"DROP TABLE IF EXISTS $name"); got
    }
    val plain = run(salted = false, "ssj_plain")
    val salted = run(salted = true, "ssj_salted")
    assert(plain.nonEmpty, "setup must produce matches")
    assert(salted == plain,
      s"salting changed the answer: ${(salted -- plain).take(3)} / " +
        s"${(plain -- salted).take(3)}")
    // the hot user actually dominates — the skew premise holds
    assert(plain.count(_._1 == 1L) * 2 > plain.size,
      "zipf head must dominate the matched pairs")
  }

  test("stream-stream OUTER join emits view-less clicks once the watermark passes") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val views = MemoryStream[(Timestamp, Long)]
    val joined = StreamJobs.clickViewJoinOuter(
      clicks.toDF().toDF("cts", "c_user"),
      views.toDF().toDF("vts", "v_user"))
    val q = joined.writeStream.format("memory").queryName("ssjo")
      .outputMode("append").start()
    // user 7 clicks at t=10 with a view at t=6 (matched); user 9 clicks
    // at t=10 with NO view in [5, 10]
    views.addData(ts(6) -> 7L)
    clicks.addData(ts(10) -> 7L, ts(10) -> 9L)
    q.processAllAvailable()
    val early = spark.table("ssjo").collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(2)))).toSet
    // the matched pair emits immediately; user 9 is NOT yet provably
    // view-less — its null row must wait for the watermark
    assert(early == Set((7L, Some(ts(6)))), s"got $early")
    // advance the watermark far past the click's join horizon
    // (cts + 10 min watermark) on BOTH sides (global watermark = min)
    clicks.addData(ts(3600) -> 1L)
    views.addData(ts(3600) -> 1L)
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssjo").collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(2)))).toSet
    assert(rows.contains((9L, None)),
      s"watermark-driven null emission missing: $rows")
  }

  test("streaming parquet sink writes through pufs:// and reads back") {
    import graft.SparkSpec.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val backing = java.nio.file.Files.createTempDirectory("stream-pufs").toString
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.pufs.impl", classOf[graft.sources.PufsFileSystem].getName)
    hc.set("fs.pufs.backing", backing)
    hc.set("fs.pufs.cache",
      java.nio.file.Files.createTempDirectory("stream-pufs-cache").toString)
    hc.set("fs.pufs.impl.disable.cache", "true")
    val mem = MemoryStream[(Timestamp, Long)]
    val q = mem.toDF().toDF("ts", "event_id")
      .writeStream.format("parquet")
      .option("path", "pufs:///stream/out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("stream-ckpt").toString)
      .outputMode("append").start()
    mem.addData(ts(1) -> 1L, ts(2) -> 2L)
    q.processAllAvailable()
    mem.addData(ts(3) -> 3L)
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet("pufs:///stream/out")
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(back == Seq(1L, 2L, 3L),
      s"streamed rows lost through the pufs sink: $back")
  }

  test("session windows merge runs and split on gap > 30min") {
    import graft.SparkSpec.spark.implicits._
    val data = Seq(
      (ts(0), 1L), (ts(10), 1L), (ts(25), 1L),  // one session (gaps < 30)
      (ts(70), 1L),                              // new session (gap 45)
      (ts(0), 2L), (ts(30), 2L),                 // user 2: exact 30 gap MERGES
      (ts(61), 2L))                              // 31-min gap -> new session
    val out = StreamJobs.sessionCounts(data.toDF("ts", "user_id"))
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (1L, ts(0), 3L), (1L, ts(70), 1L),
      (2L, ts(0), 2L), (2L, ts(61), 1L)))
  }
}
