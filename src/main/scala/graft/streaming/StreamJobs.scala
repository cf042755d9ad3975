package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming transform builders (SURVEY §2.3 "Streaming").
  *
  * Each takes a DataFrame with an event-time `ts` column — batch or
  * streaming — and returns the transformed frame. Batch callers get the
  * oracle-checkable frame (StreamOps); streaming callers
  * (readStream/MemoryStream) get watermarked stateful variants whose state
  * is bounded by the watermark horizon.
  *
  * The watermark is the analog of the reference's lease-expiry clock
  * (reference core/datastore.go:48-51, 240-253): a liveness horizon after
  * which state (there: leases; here: window/dedup state) is reclaimable.
  */
object StreamJobs {

  /** Test seam for the kill-the-JVM crash e2e: invoked with a point label
    * at each crash-relevant boundary inside applyCurateBatch
    * ("after_accepted_write", "after_jaccard_append",
    * "after_exact_append"). Production no-op. CrashRecoverySpec's child
    * JVM parks inside the probe at a chosen point so the parent can
    * SIGKILL the process mid-commit — turning the scaladoc's
    * crash-point-by-crash-point replay argument into an observed fact
    * with a REAL process death, not an in-process simulation. */
  private[graft] var crashProbe: String => Unit = _ => ()

  /** Committed-batch markers and pointers go through the HADOOP
    * filesystem of the target path, not java.io/java.nio: a java.io.File
    * of "hdfs://nn/idx/commits/0" never exists and java.nio would write
    * to a local directory literally named "hdfs:" — silently breaking
    * replay idempotence for any non-local index/out/agg dir (the same
    * trap DedupIndex documents for its bloom sidecar). */
  private def hadoopFs(s: org.apache.spark.sql.SparkSession,
      path: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  /** SnapshotStore addresses the repo via java.nio — always the LOCAL
    * filesystem — so repo-relative marker paths are pinned to `file:`
    * explicitly. A scheme-less path would otherwise resolve against
    * fs.defaultFS (e.g. HDFS), landing the publish markers on a
    * different filesystem than the repo whose commits they record. */
  private def localRepoPath(path: String): String =
    if (new org.apache.hadoop.fs.Path(path).toUri.getScheme == null)
      s"file:$path"
    else path

  private def markerExists(s: org.apache.spark.sql.SparkSession,
      dir: String, batchId: Long): Boolean = {
    val (fs, p) = hadoopFs(s, s"$dir/commits/$batchId")
    fs.exists(p)
  }

  private def writeMarker(s: org.apache.spark.sql.SparkSession,
      dir: String, batchId: Long): Unit = {
    val (fs, p) = hadoopFs(s, s"$dir/commits/$batchId")
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  /** Tumbling 1-hour counts; with a 10-minute watermark when streaming. */
  def tumblingCounts(ev: DataFrame, watermark: Boolean = false): DataFrame = {
    val in = if (watermark) ev.withWatermark("ts", "10 minutes") else ev
    in.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("ws"), col("cnt"))
  }

  /** Sliding 1 h / 15 min average value. */
  def slidingAvg(ev: DataFrame, watermark: Boolean = false): DataFrame = {
    val in = if (watermark) ev.withWatermark("ts", "10 minutes") else ev
    in.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg((sum(col("value").cast("decimal(18,2)")).cast("double")
        / count(lit(1))).as("avg_value"))
      .select(col("w.start").as("ws"), col("avg_value"))
  }

  /** Per-user session windows, 30-minute gap. */
  def sessionCounts(ev: DataFrame, watermark: Boolean = false): DataFrame = {
    val in = if (watermark) ev.withWatermark("ts", "10 minutes") else ev
    in.groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("w.start").as("session_start"), col("cnt"))
  }

  /** Streaming dedup by event_id; state expires past the watermark.
    * dropDuplicatesWithinWatermark, NOT dropDuplicates("event_id"): with
    * the event-time column absent from the dedup keys, plain
    * dropDuplicates keeps every event_id ever seen in the state store
    * forever (no watermark predicate on the keys) — unbounded state over
    * an unbounded id space. The WithinWatermark variant evicts a key once
    * the watermark passes its event time, which is the documented
    * contract here. */
  def dedupWithinWatermark(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join bounded by an event-time range: a view joins
    * a click by the same user when the view happened within the 5 minutes
    * BEFORE the click. Both sides are watermarked and the join condition
    * carries the time bound, so each side's buffered state is reclaimable
    * once the watermark passes the range (Spark's stream-stream join state
    * bound requirement). Schemas: clicks(c_user, cts), views(v_user, vts).
    */
  def clickViewJoin(clicks: DataFrame, views: DataFrame): DataFrame = {
    val c = clicks.withWatermark("cts", "10 minutes")
    val v = views.withWatermark("vts", "10 minutes")
    c.join(v, expr(
        "c_user = v_user AND vts BETWEEN cts - INTERVAL 5 MINUTES AND cts"))
      .select(col("c_user").as("user_id"), col("cts"), col("vts"))
  }

  /** [[clickViewJoin]]'s LEFT OUTER form — every click emits, view-less
    * ones null-padded. The outer side's emission is WATERMARK-DRIVEN:
    * an unmatched click can only be declared view-less once the global
    * watermark has passed its join horizon (cts + watermark delay), so
    * the null row appears in append output a watermark later — the
    * structural difference from the inner form, pinned in
    * StreamingSpec. Same state bound: both sides' buffers reclaim once
    * the watermark passes the range. */
  def clickViewJoinOuter(clicks: DataFrame, views: DataFrame): DataFrame = {
    val c = clicks.withWatermark("cts", "10 minutes")
    val v = views.withWatermark("vts", "10 minutes")
    c.join(v, expr(
        "c_user = v_user AND vts BETWEEN cts - INTERVAL 5 MINUTES AND cts"),
        "leftOuter")
      .select(col("c_user").as("user_id"), col("cts"), col("vts"))
  }

  /** SALTED [[clickViewJoin]] — the hot-user remedy t13's own scaladoc
    * names ("a skewed power user salts like any hot equi key") but
    * nothing implemented until r19 (VERDICT r18 #8). A zipfian power
    * user concentrates one join key's state AND matching work in a
    * single state-store partition; AQE's skew splitting does not apply
    * to streaming joins, so the fix is structural: each click carries
    * ONE deterministic salt (hash of its event-time — uniform across a
    * user's clicks), each view replicates to ALL `salts`, and the join
    * key becomes (user, salt). A (click, view) pair then matches in
    * EXACTLY one salt — the click's — so results are row-identical to
    * the unsalted join (StreamingSpec pins it on a zipf distribution)
    * while the hot user's probe work and click-side state spread over
    * `salts` partitions. The price is the standard one: view-side
    * state and shuffle volume grow ×salts (replication), so salt only
    * the skewed deployments and keep `salts` small (4–16); state per
    * side stays watermark-bounded exactly as in the unsalted form. */
  def clickViewJoinSalted(clicks: DataFrame, views: DataFrame,
      salts: Int): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    val c = clicks
      .withColumn("c_salt",
        pmod(xxhash64(col("cts")), lit(salts.toLong)).cast("int"))
      .withWatermark("cts", "10 minutes")
    val v = views
      .withColumn("v_salt",
        explode(array((0 until salts).map(i => lit(i)): _*)))
      .withWatermark("vts", "10 minutes")
    c.join(v, expr(
        "c_user = v_user AND c_salt = v_salt AND " +
          "vts BETWEEN cts - INTERVAL 5 MINUTES AND cts"))
      .select(col("c_user").as("user_id"), col("cts"), col("vts"))
  }

  /** Streaming snapshot publish: each micro-batch appends parquet into the
    * staging tree, then commits the WHOLE tree as the labeled snapshot —
    * stream-to-table with the catalog pointer advancing batch-atomically
    * (the reference's push cycle driven by a stream: M12/M13 under
    * foreachBatch). A reader mounting the label sees a consistent
    * manifest per batch, never a half-written directory; the incremental
    * stat-cache publish makes each commit O(new files), so commit cost
    * tracks the batch, not the table. */
  def publishEachBatch(ev: DataFrame, stagingDir: String, repo: String,
      label: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ev.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyPublishBatch(batch, batchId, stagingDir, repo, label)
    }

  /** One micro-batch of the streaming publish, replay-safe (package-
    * visible so the replay matrix is directly testable): a committed
    * marker skips fully-applied replays, and rows land in a per-batch
    * partition under DYNAMIC overwrite so a partial replay rewrites its
    * own partition instead of appending the batch twice — an
    * unconditional append would commit duplicated rows into the labeled
    * snapshot on every foreachBatch replay. Markers live in the repo
    * (always local), outside the published tree. */
  private[graft] def applyPublishBatch(batch: DataFrame, batchId: Long,
      stagingDir: String, repo: String, label: String): Unit = {
    val s = batch.sparkSession
    val markerDir = localRepoPath(s"$repo/.stream-commits/$label")
    if (!markerExists(s, markerDir, batchId)) {
      val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      try {
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id")
          .parquet(stagingDir)
      } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
      graft.sources.SnapshotStore.publish(s, stagingDir, repo, label)
      writeMarker(s, markerDir, batchId)
    }
  }

  /** Streaming ingestion dedup against the standing DedupIndex: each
    * micro-batch is first deduped within itself (min doc_id per content),
    * then screened against the index (bloom miss = provably new; hit =
    * exact confirm), and only the novel rows land in `accepted/` — with
    * the index advanced batch-atomically before the next batch runs. The
    * streaming face of the corpus-ingestion dedup loop: state is the
    * persisted index, not executor memory, so it survives restarts and is
    * shared across pipelines. */
  def dedupIngest(docs: DataFrame, indexDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val s = batch.sparkSession
      // foreachBatch is at-least-once: a crash mid-batch replays the same
      // batchId. Idempotence comes from three pieces: (1) a committed-
      // batch marker skips fully-applied replays; (2) accepted/ rows land
      // in a per-batch partition written with DYNAMIC overwrite, so a
      // partial replay overwrites its own partition instead of appending
      // duplicates; (3) the index append is last — a crash between it and
      // the marker re-appends hash entries on replay, which the index
      // tolerates (bloom stays a superset, the exact anti-join is
      // unaffected by duplicate index rows).
      if (!markerExists(s, indexDir, batchId)) {
        val inBatch = batch.groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id", "text")
        val novel = graft.operators.DedupIndex
          .newAgainst(s, indexDir, inBatch).persist()
        val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          novel.select("doc_id", "text")
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .parquet(s"$indexDir/accepted")
        } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
        graft.operators.DedupIndex.append(s, indexDir, novel)
        crashProbe("after_index_append")
        novel.unpersist()
        writeMarker(s, indexDir, batchId)
      }
      ()
    }

  /** One-time setup for the streaming curation: persist the eval
    * benchmark's decontamination model as a standing DecontamIndex
    * (distinct 8-gram shingles + bloom sidecar — the shingle definition
    * is shared with the batch l26/l57 lanes via LlmOps.shingles8, so
    * stream and batch cannot drift). Every micro-batch then screens at
    * the SCAN with the codegen'd bloom predicate + exact confirm
    * instead of broadcast-joining the full shingle set — the scale path
    * for when the eval suite outgrows a broadcast, for free on streams. */
  def buildDecontamModel(evalDocs: DataFrame, modelDir: String): Unit = {
    graft.operators.DecontamIndex.build(
      evalDocs.sparkSession, evalDocs, modelDir)
    ()
  }

  /** Streaming corpus CURATION — the l57 pipeline under foreachBatch:
    * each arriving micro-batch runs quality gate (l7's rule, n_chars
    * computed as length(text)) → within-batch exact dedup (min id per
    * content) → exact screen against the standing DedupIndex →
    * within-batch near-dup drop (exact Jaccard τ=3/5, larger id loses) →
    * near-dup screen against the standing JaccardIndex → 8-gram
    * decontamination vs the stored eval model → split assignment (l48's
    * content-hash rule); accepted rows land in `pipeDir/accepted` and
    * BOTH indexes advance before the batch commits. State is the two
    * persisted indexes + the 256-row-class model table — never executor
    * memory — so the pipeline survives restarts and is shared with the
    * batch lanes.
    *
    * at-least-once replay safety with TWO standing indexes: committed-
    * batch marker + per-batch dynamic partition overwrite as everywhere,
    * plus an APPEND ORDER that makes every crash point idempotent. The
    * exact-dedup screen is the replay FUSE: once the batch's contents
    * are in the exact index, a replay's flow empties at stage 2 and
    * touches nothing (an empty frame overwrites no partition). So the
    * exact append must be LAST of the two — Jaccard first, exact
    * second, marker third:
    *  - crash before any append: replay recomputes identically. Each
    *    index commits an append as one generation, so a crash inside
    *    an append, before its commit, is this case too: the re-run
    *    commits the same generation number;
    *  - crash between the appends (Jaccard in, exact not): the replay's
    *    exact screen passes the full batch; the Jaccard reject set
    *    (within-batch losers ∪ index matches of the WHOLE batch) now
    *    screens against the batch's own stored rows. The losers are
    *    computed within the batch and do not move. An accepted doc's
    *    match with its own stored rows is excluded (a ≠ b), and accepted
    *    docs are pairwise below τ by construction, so no accepted doc
    *    gains an index match; a loser that now matches a stored
    *    survivor was in the reject set already. So the same set
    *    survives, and the re-append's duplicate rows are tolerated (the
    *    verify counts DISTINCT shingles);
    *  - crash after the exact append: the replay empties, both indexes
    *    already hold the batch, accepted/ is untouched.
    * Appending the exact index FIRST instead would let a crash strand
    * the Jaccard index permanently: the emptied replay would never
    * deliver the batch's shingle rows, silently losing near-dup recall
    * for every future batch. */
  def curateIngest(docs: DataFrame, modelDir: String, pipeDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyCurateBatch(batch, batchId, modelDir, pipeDir)
    }

  /** One micro-batch of the streaming curation (package-visible so the
    * replay matrix is directly testable — the applyAggBatch pattern).
    *
    * The pipeline runs ONCE per batch: `accepted` is materialised with
    * an eager localCheckpoint before anything is written, and the
    * accepted/ write and both index appends read those blocks. A
    * persist() would not survive the appends: every parquet write ends
    * in Spark's CacheManager.recacheByPath, which drops each cached
    * frame whose lineage reads the written path — and `accepted`'s
    * lineage scans exact/hashes and the model, so the exact append's
    * bloom pass would re-run the pipeline against an index that already
    * holds the batch. Checkpointing cuts the lineage, so no path-based
    * recache can reach it; the blocks are released after the exact
    * append, before the marker.
    *
    * The near-dup stage is one pass ([[JaccardPass]]): the batch is
    * shingled once into a sized checkpoint, one side-tagged Jaccard
    * screen reads it into one small reject set, and the Jaccard append
    * writes the accepted docs' rows of the same batch. When the index's
    * committed generation and the batch fit
    * `spark.sql.autoBroadcastJoinThreshold`, the screen runs on the
    * driver from the generation's resident model, and the append extends
    * that model. The decontamination stage drops docs by a semi-join
    * against the model. A batch runs 20 Spark jobs (local[4],
    * StreamingSpec's fixture, a freshly built index): shingle checkpoint
    * 7 (with the exact screen it evaluates), reject set 2 (the model's
    * load, once per process and build, and the batch collect), pipeline
    * checkpoint 4 (the reject set is a local relation, so its joins need
    * no job), accepted write 1, Jaccard append 2 (the accepted doc_ids'
    * collect, the write of the held rows), exact append 4 (its bloom pass
    * 3, the rows write 1; the commits themselves are no jobs). Once the
    * model is resident a batch runs 19. On the distributed arm (an
    * index generation or a batch over the bound) the reject set runs 6
    * jobs and the pipeline checkpoint 7. */
  private[graft] def applyCurateBatch(batch: DataFrame, batchId: Long,
      modelDir: String, pipeDir: String): Unit = {
      val s = batch.sparkSession
      if (!markerExists(s, pipeDir, batchId)) {
        // stage 1: quality gate (stateless, deterministic)
        val q = batch.select(col("doc_id"), col("text"))
          .filter(length(col("text")).between(100, 5000) &&
            size(split(lower(col("text")), " ")) >= 20)
        // stage 2: exact dedup — within batch, then vs the standing index
        val inBatch = q.groupBy(col("text"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id", "text")
        val exactNew = graft.operators.DedupIndex
          .newAgainst(s, s"$pipeDir/exact", inBatch).persist()
        // stage 3: near-dup — within batch and vs the standing index, in
        // one pass over one shingle checkpoint
        val jaccard = new JaccardPass(s, s"$pipeDir/jaccard", exactNew)
        val nd = jaccard.survivors
        // stage 4: decontamination vs the standing DecontamIndex model
        // (bloom-prefiltered scan + exact confirm — never a broadcast of
        // the full eval shingle set)
        val dc = graft.operators.DecontamIndex
          .dropContaminated(s, modelDir, nd)
        // stage 5: split + accept (per-batch partition, dynamic overwrite).
        // Checkpointed, not persisted: the index appends below would drop
        // a cache whose lineage reads the indexes (see scaladoc)
        val b2 = substring(md5(col("text")), 1, 2)
        val accepted = dc.select(col("doc_id"), col("text"),
          when(b2 < "cd", "train").when(b2 < "e6", "val")
            .otherwise("test").as("split"))
          .localCheckpoint(true)
        exactNew.unpersist()
        val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          accepted.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .parquet(s"$pipeDir/accepted")
        } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
        crashProbe("after_accepted_write")
        // index appends: Jaccard FIRST, exact LAST (the replay fuse —
        // see scaladoc), marker after both
        jaccard.append(accepted)
        crashProbe("after_jaccard_append")
        graft.operators.DedupIndex.append(s, s"$pipeDir/exact",
          accepted.select("doc_id", "text"))
        crashProbe("after_exact_append")
        jaccard.release()
        graft.operators.LlmOps.dropCheckpoint(accepted)
        writeMarker(s, pipeDir, batchId)
      }
      ()
    }

  /** Streaming ANN serving — the query half of a vector store put under a
    * stream: probes `(probe_id, pv)` arrive as micro-batches, each batch
    * is answered from the standing AnnIndex (broadcast probe buckets →
    * bucket-join against the stored signatures → exact cosine re-rank,
    * or a small generation's driver-resident model; the IDENTICAL path
    * as the batch caller, AnnIndex.queryProbes), and
    * answers land under `outDir/answers`. Cost per batch is
    * O(batch × bucket density), never a corpus scan: the index is the
    * 100 TB side and stays untouched, the probe batch is the broadcast
    * side.
    *
    * at-least-once replay safety: committed-batch marker + per-batch
    * dynamic partition overwrite (the dedupIngest pieces). Serving
    * mutates no index state, so a replay is a pure byte-stable rewrite
    * of the batch's own partition.
    *
    * Each micro-batch serves the index's newest committed generation
    * (AnnIndex's generation log): another process's append is served
    * from the first batch after its commit, and its crashed append is
    * never served. */
  def annServeEachBatch(probes: DataFrame, indexDir: String, outDir: String,
      k: Int = 5): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    probes.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val s = batch.sparkSession
      if (!markerExists(s, outDir, batchId)) {
        val answers = graft.operators.AnnIndex.queryProbes(s, indexDir,
          batch.select(col("probe_id"), col("pv")), k)
        val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          answers.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .parquet(s"$outDir/answers")
        } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
        writeMarker(s, outDir, batchId)
      }
      ()
    }

  /** Streaming PQ serving — annServeEachBatch over the 32×-compressed
    * store (PqIndex.queryProbes: broadcast per-probe ADC distance
    * tables scanned over codes/ + bounded exact re-rank). The serving
    * path when the raw vectors don't fit the cluster's memory budget;
    * identical replay contract (marker + per-batch dynamic partition
    * overwrite; serving mutates no index state). */
  def pqServeEachBatch(probes: DataFrame, indexDir: String, outDir: String,
      k: Int = 5): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    probes.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val s = batch.sparkSession
      if (!markerExists(s, outDir, batchId)) {
        val answers = graft.operators.PqIndex.queryProbes(s, indexDir,
          batch.select(col("probe_id"), col("pv")), k)
        val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          answers.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .parquet(s"$outDir/answers")
        } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
        writeMarker(s, outDir, batchId)
      }
      ()
    }

  /** The collected centroid fixture, resident per the fixture dir's
    * (name, length, mtime) listing (ServeModelCache) — VERDICT r18
    * review: re-reading + re-collecting the K·d fixture was one needless
    * Spark job per micro-batch. The listing is pure metadata, no job, so
    * a RE-FIT (new parquet files) is picked up on the next batch while
    * the steady state costs nothing. */
  private def kmCentroids(s: org.apache.spark.sql.SparkSession,
      fixtureDir: String): Seq[(Int, Seq[Double])] = {
    val (fs, p) = hadoopFs(s, fixtureDir)
    val listing = fs.listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    graft.operators.ServeModelCache.resident(fixtureDir, Some(listing)) {
      s.read.parquet(fixtureDir).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
    }
  }

  /** Streaming k-means serving — the l70 assignment arm under
    * foreachBatch: each arriving (vec_id, embedding) micro-batch is
    * labeled with its nearest centroid from the FROZEN fixture
    * (`fixtureDir`, the KmFix layout: cid, cvec). The centroid table is
    * metadata (k·d doubles), CACHED per fixture file-identity
    * (r19 — one fixture-read job per re-fit, not per micro-batch) and
    * carried as a plan literal, so assignment is MAP-ONLY — no join,
    * no shuffle, no cross-batch state (batch ≡ stream by construction;
    * StreamingSpec pins parity). Serving mutates nothing; replay is idempotent via
    * the same marker + dynamic-partition-overwrite contract as the
    * other serve jobs. Re-fit cadence is the deployment's policy knob,
    * exactly like the ANN/PQ codebooks. */
  def kmeansServeEachBatch(vecs: DataFrame, fixtureDir: String,
      outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val s = batch.sparkSession
      if (!markerExists(s, outDir, batchId)) {
        val cents = kmCentroids(s, fixtureDir)
        val answers = graft.operators.LlmOps.KmFix
          .assign(batch.select(col("vec_id"), col("embedding")), cents)
          .select(col("vec_id"), col("cid"), col("dist"))
        val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          answers.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .parquet(s"$outDir/assignments")
        } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
        writeMarker(s, outDir, batchId)
      }
      ()
    }

  /** Streaming parquet ingest with layout maintenance on a cadence
    * (VERDICT r16 #7 — the build-once/maintain-incrementally seat for
    * OPTIMIZE, like maintainAggEachBatch and dedupIngest): each
    * micro-batch appends its rows to `sinkDir/data` (replay-safe via
    * the per-batch commit marker), and every `everyBatches` batches the
    * job runs [[graft.operators.LayoutOps.optimizeIncremental]] from
    * the raw sink into `optDir` — clustering ONLY the part files added
    * since the last pass (O(new bytes)), folding generations at
    * `maxGenerations` (O(table), 1-in-maxGenerations amortized).
    * Readers point at `optDir` for clustered, compacted, z-ordered
    * generations; `sinkDir/data` stays the write-once ingest log the
    * incremental manifest identities rely on. The maintenance pass runs
    * INLINE in the trigger that hits the cadence — the repo's standing
    * pattern for amortized maintenance; a latency-sensitive deployment
    * lowers targetBytes/everyBatches or schedules a separate job over
    * the same dirs (optimizeIncremental is crash-safe under SIGKILL, so
    * an out-of-band runner needs no coordination beyond the manifest).
    *
    * Replay contract: a replayed batch re-appends nothing (marker), and
    * a replayed maintenance pass is a no-op — already-represented files
    * are skipped by manifest identity, a half-moved generation is
    * cleared and re-moved, a committed fold completes from its intent
    * marker. */
  def optimizeIngest(rows: DataFrame, sinkDir: String, optDir: String,
      targetBytes: Long, cols: Seq[String], everyBatches: Int = 4,
      maxGenerations: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val s = batch.sparkSession
      if (!markerExists(s, sinkDir, batchId)) {
        batch.write.mode("append").parquet(s"$sinkDir/data")
        writeMarker(s, sinkDir, batchId)
      }
      if (everyBatches > 0 && batchId % everyBatches == (everyBatches - 1)) {
        graft.operators.LayoutOps.optimizeIncremental(s, s"$sinkDir/data",
          optDir, targetBytes, cols, maxGenerations)
        ()
      }
      ()
    }

  /** Build the standing DSIR model table — the train half of the
    * streaming quality gate: LlmOps.dsirModelOf over a labeled reference
    * corpus, written as a 256-row parquet under `modelDir/model`. Run
    * once (or on a retrain cadence); the gate below never re-reads the
    * reference corpus. */
  def buildDsirModel(labeledDocs: DataFrame, modelDir: String,
      targetLang: String = "en"): Unit = {
    graft.operators.LlmOps.dsirModelOf(labeledDocs, targetLang)
      .coalesce(1).write.mode("overwrite").parquet(s"$modelDir/model")
    ()
  }

  /** Streaming DSIR quality gate — the serve half of l56's importance
    * weighting under a stream: each arriving (doc_id, text) micro-batch
    * is scored against the STANDING model table (a 256-row broadcast
    * join + one partial-agg sum per doc — the model is a table, never
    * driver or executor state) and only target-like docs (weight_fp > 0)
    * land in `outDir/accepted`, each carrying its weight. The gating
    * step of a domain-matched ingestion pipeline: cost per batch is
    * O(batch tokens), the model-build corpus is never rescanned.
    *
    * at-least-once replay safety: committed-batch marker + per-batch
    * dynamic partition overwrite (the annServeEachBatch pieces —
    * scoring mutates no state, so a replay is a byte-stable rewrite of
    * the batch's own partition). Docs with no tokens have no features
    * and are dropped (no weight is defined for them). */
  def dsirGateEachBatch(docs: DataFrame, modelDir: String, outDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyDsirGateBatch(batch, batchId, modelDir, outDir)
    }

  private[graft] def applyDsirGateBatch(batch: DataFrame, batchId: Long,
      modelDir: String, outDir: String): Unit = {
    val s = batch.sparkSession
    if (!markerExists(s, outDir, batchId)) {
      val lam = s.read.parquet(s"$modelDir/model")
      val kept = graft.operators.LlmOps
        .dsirScore(batch.select("doc_id", "text"), lam)
        .filter(col("weight_fp") > 0)
        .join(batch.select("doc_id", "text"), Seq("doc_id"))
      val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      try {
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        kept.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id")
          .parquet(s"$outDir/accepted")
      } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
      writeMarker(s, outDir, batchId)
    }
  }

  /** Build the standing per-language quantile model — the train half of
    * the l69 corpus-relative quality gate (VERDICT r17 #6 / r18 #5):
    * one row per language with its own p05/p95 length quantiles over a
    * reference corpus (exact percentile agg — absolute thresholds
    * misfire across languages whose length distributions differ). Run
    * once or on a retrain cadence, the buildDsirModel discipline; the
    * gate below never re-reads the reference corpus. */
  def buildQuantileGateModel(docs: DataFrame, modelDir: String): Unit = {
    docs.groupBy("lang").agg(
      expr("percentile(n_chars, 0.05)").as("p05"),
      expr("percentile(n_chars, 0.95)").as("p95"))
      .coalesce(1).write.mode("overwrite").parquet(s"$modelDir/model")
    ()
  }

  /** Streaming corpus-relative quality gate — the serve half of the l69
    * lane under a stream: each arriving (doc_id, lang, n_chars, …)
    * micro-batch joins the STANDING per-language model (a
    * languages-sized broadcast — model-as-a-table, never driver or
    * executor state) for a MAP-ONLY verdict; keepers land in
    * `outDir/accepted`, outliers in `outDir/rejected` with their
    * verdict ("too_short"/"too_long") and the model bounds they
    * tripped. Cost per batch is O(batch); the reference corpus is never
    * rescanned — the same shape as every gate lane here
    * (dsirGateEachBatch, the decontam screens). Retraining is a
    * re-run of [[buildQuantileGateModel]]; in-flight batches see the
    * OLD model until the overwrite lands (parquet dir swap), the
    * standard model-rollover story.
    *
    * at-least-once replay safety: committed-batch marker + per-batch
    * dynamic partition overwrite on BOTH dirs (the gate mutates no
    * state, so a replay is a byte-stable rewrite of the batch's own
    * partitions). StreamingSpec pins streamed accepted ∪ rejected
    * row-exact against the l69 batch lane over the same frame. */
  def quantileGateEachBatch(docs: DataFrame, modelDir: String,
      outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyQuantileGateBatch(batch, batchId, modelDir, outDir)
    }

  private[graft] def applyQuantileGateBatch(batch: DataFrame, batchId: Long,
      modelDir: String, outDir: String): Unit = {
    val s = batch.sparkSession
    if (!markerExists(s, outDir, batchId)) {
      val model = s.read.parquet(s"$modelDir/model")
      // the l69 verdict expression, verbatim — lane and stream must
      // agree row-for-row on the same model
      val scored = batch.join(broadcast(model), "lang")
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          col("p05"), col("p95"),
          when(col("n_chars") < col("p05"), "too_short")
            .when(col("n_chars") > col("p95"), "too_long")
            .otherwise("keep").as("verdict"))
      val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      try {
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        scored.filter(col("verdict") === "keep")
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id")
          .parquet(s"$outDir/accepted")
        scored.filter(col("verdict") =!= "keep")
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id")
          .parquet(s"$outDir/rejected")
      } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
      writeMarker(s, outDir, batchId)
    }
  }

  /** Streaming NEAR-dup ingestion — dedupIngest's fuzzy sibling, wiring
    * the standing NearDupIndex into foreachBatch: each arriving batch is
    * (1) greedily deduped within itself (a doc drops if it LSH-pairs with
    * any smaller-id batch doc — the l2 `a < b` orientation as a survivor
    * policy), (2) screened against the index (any candidate against
    * stored signatures drops — conservative: LSH candidacy IS the
    * near-dup signal here; an exact Jaccard confirm needs the doc store
    * and stays a downstream choice), (3) survivors land in accepted/ and
    * their signatures join the index. Docs under 5 tokens have no
    * shingles, hence no signatures — they always pass the near-dup
    * screen (exact dedup is dedupIngest's job).
    *
    * at-least-once replay safety, same three pieces as dedupIngest:
    * committed-batch marker, dynamic per-batch partition overwrite for
    * accepted/, and signature append LAST — replayed appends only
    * duplicate signature rows, which candidatesAgainst's distinct
    * tolerates. One subtle case: a crash AFTER the append but BEFORE the
    * marker replays the batch against an index that already holds this
    * batch's own signatures. The replay still computes the identical
    * accepted set, by construction: a doc's match against its own stored
    * rows is filtered (new_id != index_id), and two within-batch
    * SURVIVORS can never share a (band, sig) bucket — if they did,
    * pairsWithin would have paired them and the greedy pass would have
    * dropped the larger id before anything was appended. So the
    * re-screen sees no new collisions and the partition rewrite is
    * byte-stable. */
  def nearDedupIngest(docs: DataFrame, indexDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val s = batch.sparkSession
      if (!markerExists(s, indexDir, batchId)) {
        val rows = batch.select("doc_id", "text").persist()
        val losers = graft.operators.NearDupIndex.pairsWithin(rows)
          .select(col("b").as("doc_id")).distinct()
        val inBatch = rows.join(losers, Seq("doc_id"), "left_anti")
        val screened = graft.operators.NearDupIndex
          .candidatesAgainst(s, indexDir, inBatch)
          .select(col("new_id").as("doc_id")).distinct()
        val accepted = inBatch.join(screened, Seq("doc_id"), "left_anti")
          .persist()
        val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          accepted.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .parquet(s"$indexDir/accepted")
        } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
        graft.operators.NearDupIndex.append(s, indexDir, accepted)
        crashProbe("after_index_append")
        accepted.unpersist()
        rows.unpersist()
        writeMarker(s, indexDir, batchId)
      }
      ()
    }

  /** Streaming SIMHASH near-dup ingestion — nearDedupIngest's shape over
    * the standing SimHashIndex (8 bytes of state per indexed doc, the
    * crawl-width screen): within-batch verified pairs (hamming ≤ 3) drop
    * the larger id, survivors screen against the stored signature table,
    * accepted docs land per-batch and their signatures append.
    *
    * at-least-once replay safety: marker + dynamic partition overwrite +
    * append LAST. A replay after the append re-screens against an index
    * already holding the batch's own signatures — self-matches are
    * excluded (new_id ≠ index_id), and two accepted SURVIVORS are
    * pairwise hamming > 3 by construction (else pairsWithin had dropped
    * one), so the re-screen admits exactly the original set and the
    * partition rewrite is byte-stable. The re-append duplicates
    * signature rows, which the screen tolerates outright: pairs dedup
    * on (new_id, index_id) before the verify and nothing counts rows —
    * a simpler tolerance story than the Jaccard index's distinct-shingle
    * argument. */
  def simhashDedupIngest(docs: DataFrame, indexDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val s = batch.sparkSession
      if (!markerExists(s, indexDir, batchId)) {
        val rows = batch.select("doc_id", "text").persist()
        val losers = graft.operators.SimHashIndex.pairsWithin(rows)
          .select(col("b").as("doc_id")).distinct()
        val inBatch = rows.join(losers, Seq("doc_id"), "left_anti")
        val dups = graft.operators.SimHashIndex
          .neighborsAgainst(s, indexDir, inBatch)
          .select(col("new_id").as("doc_id")).distinct()
        val accepted = inBatch.join(dups, Seq("doc_id"), "left_anti")
          .persist()
        val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          accepted.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .parquet(s"$indexDir/accepted")
        } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
        graft.operators.SimHashIndex.append(s, indexDir, accepted)
        crashProbe("after_index_append")
        accepted.unpersist()
        rows.unpersist()
        writeMarker(s, indexDir, batchId)
      }
      ()
    }

  /** The near-dup step both Jaccard ingests share, one pass per batch:
    * `docs` is shingled ONCE into an eager checkpoint, sized by an
    * observation on its own job, one side-tagged screen reads it into
    * one reject set (JaccardIndex.rejectsOf — within-batch losers ∪
    * index matches, equal to screening the within-batch survivors
    * alone), and the append writes the accepted docs' rows of the same
    * batch instead of shingling them again. When the screen ran on the
    * driver-resident arm it collected the batch's rows: the append then
    * collects only the accepted doc_ids and writes the held rows, which
    * also extend the index's resident model. Neither the checkpoint's
    * nor the reject set's lineage reads the index, so the append's write
    * cannot invalidate them; `release` frees both once the append has
    * landed. */
  private final class JaccardPass(s: org.apache.spark.sql.SparkSession,
      indexDir: String, docs: DataFrame) {
    private val (sh, bytes) = graft.operators.JaccardIndex.sizedCheckpoint(
      graft.operators.JaccardIndex.shingleSets(docs))
    private val (rejected, held) =
      graft.operators.JaccardIndex.rejectsOf(s, indexDir, sh, Some(bytes))
    val survivors: DataFrame = docs.join(rejected, Seq("doc_id"), "left_anti")
    def append(accepted: DataFrame): Unit = held match {
      case Some(rows) =>
        val ids = accepted.select(col("doc_id").cast("long")).collect()
          .filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
        graft.operators.JaccardIndex.appendRows(s, indexDir,
          rows.filter(r => !r.isNullAt(0) && ids(r.getLong(0))))
      case None =>
        graft.operators.JaccardIndex.appendShingles(s, indexDir,
          sh.join(accepted.select("doc_id"), Seq("doc_id"), "left_semi"))
    }
    def release(): Unit = {
      graft.operators.LlmOps.dropCheckpoint(rejected)
      graft.operators.LlmOps.dropCheckpoint(sh)
    }
  }

  /** Streaming EXACT-Jaccard near-dup ingestion — nearDedupIngest with
    * recall guarantees: within-batch exact τ-pairs drop the larger id,
    * survivors screen against the standing index with the one-sided
    * prefix filter (JaccardIndex.rejects; provably complete, so a
    * true near-dup can NEVER slip past — where the MinHash screen is
    * probabilistic), and accepted docs join the index.
    *
    * at-least-once replay safety, the nearDedupIngest argument made
    * exact: marker, per-batch dynamic partition overwrite, append last.
    * The append commits one index generation, so a crash inside it,
    * before its commit, replays as if it had not run. A replay after
    * the append screens the WHOLE batch against an index
    * already holding its own survivors (the one-pass reject set,
    * [[JaccardPass]]) — a doc's match with its own stored rows is
    * excluded (a ≠ b), two within-batch SURVIVORS have exact J < τ by
    * construction (else the within-batch screen would have dropped
    * one), and a within-batch loser that matches a stored survivor is
    * rejected either way, so the re-screen admits exactly the original
    * accepted set and the partition rewrite is byte-stable. The replay
    * then RE-APPENDS those rows; the index tolerates that because the
    * verify counts DISTINCT shingles — with a plain count, duplicated
    * stored rows would double n_common and admit false pairs for every
    * later batch. */
  def exactDedupIngest(docs: DataFrame, indexDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val s = batch.sparkSession
      if (!markerExists(s, indexDir, batchId)) {
        val rows = batch.select("doc_id", "text").persist()
        val jaccard = new JaccardPass(s, indexDir, rows)
        val accepted = jaccard.survivors.persist()
        val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        try {
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          accepted.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .parquet(s"$indexDir/accepted")
        } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
        jaccard.append(accepted)
        crashProbe("after_index_append")
        jaccard.release()
        accepted.unpersist()
        rows.unpersist()
        writeMarker(s, indexDir, batchId)
      }
      ()
    }

  /** Streaming incremental-aggregate maintenance — the streaming face of
    * o10: a standing per-group (cnt, total) parquet table absorbs each
    * micro-batch as "added" deltas via IncrementalAgg.applyDeltas, cost
    * O(batch rows + table groups) per batch, never re-reading history.
    * Input rows need (grp, value) columns.
    *
    * at-least-once foreachBatch is made idempotent by versioned commits:
    * the new aggregate lands at v<batchId>, then the CURRENT pointer swaps
    * (write temp + atomic move) and the batch marker is written. A crash
    * before the swap leaves CURRENT on the old version, so the replay
    * recomputes from unchanged state; a replay after the marker is a
    * no-op. The pointer itself is part of the commit check: a crash in
    * the window AFTER the swap but BEFORE the marker leaves CURRENT
    * already on v<batchId> — replaying the batch body then would read
    * base FROM v<batchId> while overwriting the same path (rejected by
    * Spark) and double-apply the deltas; instead the replay just
    * finishes the commit by writing the missing marker. The same
    * stage-then-swap shape as SnapshotStore's label pointer (reference
    * SetRoot, remote/gcs.go:114-127). */
  def maintainAggEachBatch(rows: DataFrame, aggDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyAggBatch(batch, batchId, aggDir)
    }

  /** One micro-batch of the standing-aggregate maintenance, replay-safe
    * at every crash point (package-visible so the replay matrix is
    * directly testable). */
  private[graft] def applyAggBatch(batch: DataFrame, batchId: Long,
      aggDir: String): Unit = {
    val s = batch.sparkSession
    val (fs, ptr) = hadoopFs(s, s"$aggDir/CURRENT")
    def readPtr(): Option[String] =
      if (!fs.exists(ptr)) None
      else {
        val in = fs.open(ptr)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim)
        finally in.close()
      }
    val current = readPtr()
    val alreadySwapped = current.contains(s"v$batchId")
    if (!markerExists(s, aggDir, batchId) && alreadySwapped) {
      // crashed between the pointer swap and the marker: the batch's
      // effects are fully visible, only the marker is missing
      writeMarker(s, aggDir, batchId)
    } else if (!markerExists(s, aggDir, batchId)) {
      val base = current match {
        case Some(v) => s.read.parquet(s"$aggDir/$v")
        case None =>
          import org.apache.spark.sql.types._
          s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            StructType(Seq(StructField("grp", LongType),
              StructField("cnt", LongType),
              StructField("total", DecimalType(18, 2)))))
      }
      val deltas = batch.select(col("grp").cast("long").as("grp"),
        lit(1L).as("dCnt"), col("value").cast("decimal(18,2)").as("dTotal"))
      graft.operators.IncrementalAgg.applyDeltas(base, deltas)
        .select(col("grp"), col("cnt"), col("total").cast("decimal(18,2)").as("total"))
        .write.mode("overwrite").parquet(s"$aggDir/v$batchId")
      // pointer swap: write-temp + atomic rename on the TARGET filesystem
      val tmp = new org.apache.hadoop.fs.Path(s"$aggDir/CURRENT.tmp$batchId")
      val out = fs.create(tmp, true)
      try out.write(s"v$batchId".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // FileContext rename+OVERWRITE is atomic on HDFS and local — a
      // delete-then-rename would open a window with NO pointer, and a
      // crash there would replay against an empty base (losing history)
      org.apache.hadoop.fs.FileContext
        .getFileContext(ptr.toUri, s.sparkContext.hadoopConfiguration)
        .rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      writeMarker(s, aggDir, batchId)
      // reclaim superseded versions: once the marker is down, replays
      // never read them again (markers stop old-batch replays), so a
      // long-running stream does not accumulate O(batches) full
      // snapshots. The IMMEDIATELY-previous version is retained: an
      // external reader that resolved CURRENT just before the pointer
      // swap may still be mid-scan on it; deleting it would turn a
      // linearizable read into FileNotFoundException. Anything older is
      // unreachable through any pointer value still in flight.
      val stale = fs.globStatus(new org.apache.hadoop.fs.Path(s"$aggDir/v*"))
      if (stale != null) {
        val others = stale.map(_.getPath)
          .filter(_.getName != s"v$batchId")
          .sortBy(_.getName.drop(1).toLong)
        others.dropRight(1).foreach(fs.delete(_, true))
      }
    }
  }

  /** Custom arbitrary state via flatMapGroupsWithState: per-user running
    * event count + high-water timestamp, emitted on every update. This is
    * the join/merge state-machine shape of the reference's pending-read
    * scheduler (reference region/pending.go:267-360): per-key state that
    * in-flight arrivals merge into, with timeout-based reclamation.
    */
  def runningUserStats(ev: DataFrame): org.apache.spark.sql.Dataset[UserStat] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = ev.sparkSession
    import spark.implicits._
    // State is reclaimed by event-time timeout: a user idle for 30 minutes
    // past the watermark has its state dropped — per-key state is bounded
    // by the active-user set within the horizon, not all users ever seen.
    // NOTE: the watermarked `ts` column must flow into the stateful op
    // unchanged — casting it would strip the event-time tag and fail the
    // "watermark must be specified" streaming check. Convert inside the
    // state function instead.
    ev.withWatermark("ts", "10 minutes")
      .selectExpr("user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserStat, UserStat](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[UserStat]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserStat(user, 0L, Long.MinValue))
            val secs = rows.map(_._2.getTime / 1000).toSeq
            val next = UserStat(user,
              prev.n + secs.size,
              math.max(prev.maxTs, if (secs.isEmpty) Long.MinValue else secs.max))
            state.update(next)
            // expire 30 min of EVENT time after the user's last event (but
            // never at-or-before the current watermark, which would throw)
            state.setTimeoutTimestamp(math.max(
              next.maxTs * 1000L + 30L * 60 * 1000,
              state.getCurrentWatermarkMs() + 60L * 1000))
            Iterator.single(next)
          }
      }
  }

  /** Per-user EXACT EWMA recurrence e_i = (1-a)·v_i + a·e_{i-1} — the
    * streaming twin of the batch t11 lane (StreamOps): a recurrence is
    * sequential by nature, which batch SQL can only approximate (t11's
    * fixed 16-term truncation) but per-key streaming state computes
    * exactly — one Double of state per user, O(batch) work per batch.
    * Rows within a batch are folded in (ts, event_id) order; across
    * batches the fold follows arrival order, with the watermark bounding
    * how out-of-order arrivals can be (the standard streaming-recurrence
    * contract). StreamingSpec pins batch-split invariance and equality
    * with a sequential reference fold. */
  def ewmaStream(ev: DataFrame, alpha: Double = 0.5)
      : org.apache.spark.sql.Dataset[EwmaOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = ev.sparkSession
    import spark.implicits._
    ev.withWatermark("ts", "10 minutes")
      .selectExpr("user_id", "event_id", "ts", "value")
      .as[(Long, Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Double)],
         state: GroupState[EwmaState]) =>
          if (state.hasTimedOut) {
            // idle user past the event-time horizon: reclaim the state so
            // the key space doesn't grow without bound (re-arrival after
            // eviction restarts the recurrence — the streaming contract)
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(EwmaState(0.0, first = true))
            val sorted = rows.toSeq.sortBy(r => (r._3.getTime, r._2))
            val out = sorted.map { r =>
              val e =
                if (st.first) r._4
                else (1.0 - alpha) * r._4 + alpha * st.e
              st = EwmaState(e, first = false)
              EwmaOut(user, r._2, e)
            }
            state.update(st)
            // expire 30 min of EVENT time after the user's last event (but
            // never at-or-before the current watermark, which would throw)
            val maxTs = sorted.map(_._3.getTime).max
            state.setTimeoutTimestamp(math.max(
              maxTs + 30L * 60 * 1000,
              state.getCurrentWatermarkMs() + 60L * 1000))
            out.iterator
          }
      }
  }

  /** The same per-user running stats on `transformWithState` — Spark 4's
    * successor to flatMapGroupsWithState: typed per-key state handles
    * (ValueState/ListState/MapState) with per-state TTL, timers, and
    * RocksDB-backed storage (the API *requires* the RocksDB provider —
    * it is the large-state path by construction). Kept alongside the
    * fMGWS variant so both stateful surfaces stay covered; StreamingSpec
    * pins they emit the same rows for the same batches. */
  def runningUserStatsTws(ev: DataFrame): org.apache.spark.sql.Dataset[UserStat] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = ev.sparkSession
    import spark.implicits._
    ev.withWatermark("ts", "10 minutes")
      .selectExpr("user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new UserStatsProcessor,
        TimeMode.None(), OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[UserStat])
  }
}

/** Per-user streaming state: event count + max event-time seconds. */
case class UserStat(user_id: Long, n: Long, maxTs: Long)

/** EWMA recurrence state (`first` distinguishes e=0.0 from no-state). */
case class EwmaState(e: Double, first: Boolean)

/** One EWMA observation: the smoothed value as of this event. */
case class EwmaOut(user_id: Long, event_id: Long, ewma: Double)

/** transformWithState processor: one ValueState[UserStat] per user, no
  * TTL (the fMGWS twin reclaims by event-time timeout; TTLConfig would be
  * the equivalent lever here — StreamingSpec's semantics test keeps state
  * alive across both its batches, so NONE keeps the two variants
  * comparable). */
class UserStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp), UserStat] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[UserStat] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[UserStat]("stat",
      org.apache.spark.sql.Encoders.product[UserStat], TTLConfig.NONE)

  override def handleInputRows(user: Long,
      rows: Iterator[(Long, java.sql.Timestamp)],
      timers: TimerValues): Iterator[UserStat] = {
    val prev = if (st.exists()) st.get() else UserStat(user, 0L, Long.MinValue)
    val secs = rows.map(_._2.getTime / 1000).toSeq
    val next = UserStat(user,
      prev.n + secs.size,
      math.max(prev.maxTs, if (secs.isEmpty) Long.MinValue else secs.max))
    st.update(next)
    Iterator.single(next)
  }
}
