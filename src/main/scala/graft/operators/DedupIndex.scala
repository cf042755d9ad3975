package graft.operators


import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted cross-run exact-dedup index — the operational form of l1/l29:
  * a 100 TB corpus is deduped ONCE, its content hashes become a standing
  * index, and each day's arrivals are checked against the index without
  * ever rescanning the corpus.
  *
  * Layout at `indexDir`:
  *   hashes/              parquet (sha, keeper_id) — one row per distinct
  *                        content
  *   blooms/shard-<i>.bin 16 serialized Blooms over xxhash64(sha), sharded
  *                        by the first hex nibble of sha. Each shard is
  *                        always a SUPERSET of its slice of hashes/ (append
  *                        merges blooms before writing rows), so a bloom
  *                        miss proves a document is new and skips the join
  *                        entirely; bloom hits (~dup rate + fpp of the
  *                        batch) are the only rows that reach the exact
  *                        anti-join confirm.
  *
  * At scale: the index is hash-partitioned parquet the confirm join
  * shuffles against; each shard bloom is a fixed-size broadcast (9.6 bits
  * per indexed doc at 1% fpp). Sharding by sha prefix makes total capacity
  * Shards × ShardCapacity while keeping every bloom ever built for a shard
  * mergeable (mergeInPlace requires identical bit size + hash count), and
  * lets appends touching few shards lock/rewrite only those. Growing a
  * deployment = raising Shards (a rebuild), not resizing blooms in place.
  */
object DedupIndex {

  private val Fpp = 0.01
  /** Shard count; sha's first hex nibble routes a document to its shard. */
  private[operators] val Shards = 16
  /** Per-shard capacity — fixed so all blooms of a shard are mergeable.
    * 16 shards × 1 Mi ≈ 16.8 M distinct contents at 1% fpp (~2.4 MB of
    * bloom per shard); production raises Shards, not this constant. */
  private val ShardCapacity = 1L << 20

  // coalesce: sha2(NULL) is NULL, and NULL = NULL never matches in the
  // confirm join — a NULL-text doc would pass the anti-join as "new" on
  // EVERY batch (while build() groups all NULLs into one keeper), so the
  // index would re-admit it forever. NULL text dedups as the empty string.
  private def withSha(docs: DataFrame): DataFrame =
    docs.withColumn("sha", sha2(coalesce(col("text"), lit("")), 256))
      .withColumn("h", xxhash64(col("sha")))

  /** First hex nibble of sha as an int in [0, 16) — codegen'd. */
  private def shardExpr: Column =
    conv(substring(col("sha"), 1, 1), 16, 10).cast("int")

  /** All shard blooms of a frame's (shard, h) keys, in ONE job. Each
    * task returns its partition's keys as one primitive array (16 bytes
    * a key), and the driver puts them into its blooms as each task's
    * result arrives, then drops them: the driver holds at most Shards
    * blooms plus the key arrays of tasks finishing at once, whatever the
    * frame's size. Per-partition blooms would ship Shards × 1.26 MB per
    * task however few keys it holds (80 MB for a 500-doc batch on four
    * partitions). A shard the frame never touched stays null — append
    * derives its touched-shard set from exactly that; use [[fillEmpty]]
    * where a full array is needed. */
  private def bloomsOf(df: DataFrame): Array[BloomFilter] = {
    val blooms = new Array[BloomFilter](Shards)
    val keys = df.select(shardExpr.as("shard"), col("h")).rdd.mapPartitions { rows =>
      val ks = Array.newBuilder[Long]
      rows.foreach { r => ks += r.getInt(0); ks += r.getLong(1) }
      Iterator.single(ks.result())
    }
    // the handler runs on the scheduler's single event thread, one task
    // result at a time
    df.sparkSession.sparkContext.runJob(keys, (it: Iterator[Array[Long]]) => it.next(),
      (_: Int, ks: Array[Long]) => {
        var i = 0
        while (i < ks.length) {
          val s = ks(i).toInt
          if (blooms(s) == null) blooms(s) = BloomFilter.create(ShardCapacity, Fpp)
          blooms(s).putLong(ks(i + 1))
          i += 2
        }
      })
    blooms
  }

  private def fillEmpty(blooms: Array[BloomFilter]): Array[BloomFilter] =
    blooms.map(bf =>
      if (bf == null) BloomFilter.create(ShardCapacity, Fpp) else bf)

  // Bloom I/O rides the Hadoop FileSystem of the indexDir's scheme so a
  // non-local index (hdfs://, pufs://) works end-to-end — java.nio would
  // treat "hdfs://x" as a relative local path and silently write a local
  // directory literally named "hdfs:" (ADVICE r5 class of bug).
  private def fsFor(spark: SparkSession, indexDir: String, shard: Int) = {
    val p = new org.apache.hadoop.fs.Path(indexDir, f"blooms/shard-$shard%x.bin")
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Publish a shard bloom ATOMICALLY: write to a temp name, then one
    * rename. `newAgainst` takes no lock (screens are read-only and the
    * append lock only serializes writers), so an in-place overwrite
    * would expose a concurrent reader to a torn bloom — EOF on a
    * truncated file at best, a silently bit-incomplete screen (breaking
    * the "bloom miss proves new" superset invariant) at worst. With
    * rename-publish a reader sees the old complete bloom or the new
    * complete bloom, never bytes in between. Filesystems without a
    * FileContext binding (pufs://) fall back to delete+rename — there
    * the single-writer contract already governs (see append). */
  private def writeBloom(spark: SparkSession, indexDir: String, shard: Int,
      bf: BloomFilter): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val (fs, p) = fsFor(spark, indexDir, shard)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      p.getName + ".tmp-" + java.util.UUID.randomUUID().toString)
    val out = fs.create(tmp, true)
    try out.write(bos.toByteArray) finally out.close()
    try
      org.apache.hadoop.fs.FileContext
        .getFileContext(p.toUri, spark.sessionState.newHadoopConf())
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // Try the plain rename FIRST: on a fresh publish (no target) it
        // succeeds directly and no no-file window ever opens. Only when
        // the target exists (rename-without-overwrite fails) do we
        // displace it — that brief gap is covered by the reader-side
        // FNF retry in readBloomBytes, so lock-free screens never die
        // on a concurrent republish.
        if (!fs.rename(tmp, p)) {
          if (fs.exists(p)) fs.delete(p, false)
          if (!fs.rename(tmp, p))
            throw new java.io.IOException(s"bloom publish rename failed: $p")
        }
    }
  }

  private def readBloomBytes(spark: SparkSession, indexDir: String,
      shard: Int): Array[Byte] =
    // bounded FNF retry over writeBloom's delete-then-rename window
    FsRetry.retryFnf(readBloomBytesOnce(spark, indexDir, shard))
      .getOrElse(throw new java.io.FileNotFoundException(
        fsFor(spark, indexDir, shard)._2.toString))

  private def readBloomBytesOnce(spark: SparkSession, indexDir: String,
      shard: Int): Array[Byte] = {
    val (fs, p) = fsFor(spark, indexDir, shard)
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  private def readBloom(spark: SparkSession, indexDir: String,
      shard: Int): BloomFilter =
    BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(readBloomBytes(spark, indexDir, shard)))

  /** Exclusive append-scope lock — the shared operators.AppendLock (per-
    * path JVM monitor + cross-process file lock on local FS, lifted out
    * of this file in round 10 so every standing index serializes appends
    * the same way). Here it covers the WHOLE append: bloom merges AND
    * the parquet row append, because concurrent parquet appends to one
    * directory also clobber each other's _temporary commit staging.
    * Elsewhere (object stores) the single-writer contract applies (see
    * append's scaladoc). */
  private def withAppendLock[A](spark: SparkSession, indexDir: String)
      (body: => A): A = AppendLock.withLock(spark, indexDir)(body)

  /** Publish a full set of shard blooms with shard 0 LAST. Shard 0 is
    * the layout sentinel (`ensureShardedLayout` and `newAgainst` probe
    * it), so ordering it last makes "shard-0.bin exists ⟹ every shard
    * exists" a crash-safe invariant: a build or migration that dies
    * mid-publish leaves shard 0 absent and the next touch re-runs the
    * whole publish, instead of stranding an index whose sentinel is
    * present but whose shards 1..15 are missing. */
  private def publishBlooms(spark: SparkSession, indexDir: String,
      blooms: Array[BloomFilter]): Unit = {
    (1 until Shards).foreach(i => writeBloom(spark, indexDir, i, blooms(i)))
    writeBloom(spark, indexDir, 0, blooms(0))
  }

  /** Dedup `docs` internally (min doc_id survives) and persist the index.
    * Returns the number of distinct contents indexed. */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String): Long = {
    // persist: the sha-aggregation feeds the parquet write, the bloom
    // build, and the count — one scan+shuffle instead of three
    val hashes = withSha(docs)
      .groupBy("sha").agg(min(col("doc_id")).as("keeper_id"),
        first(col("h")).as("h"))
      .persist()
    try {
      hashes.select("sha", "keeper_id")
        .write.mode("overwrite").parquet(s"$indexDir/hashes")
      publishBlooms(spark, indexDir, fillEmpty(bloomsOf(hashes)))
      hashes.count()
    } finally { hashes.unpersist(); () }
  }

  /** Rebuild the shard blooms from hashes/ whenever rows exist but the
    * sharded layout doesn't: the screen is DERIVED state — the
    * authoritative content set lives in the parquet rows — so migration
    * is one distributed pass over hashes/. This self-heals every
    * blooms-missing state from one code path: an index persisted by the
    * legacy single-bloom version (its bloom.bin becomes inert), a build
    * that crashed between the row write and the bloom publication, and
    * a migration that crashed halfway. A dir with NO hashes/ is a
    * never-built index and is left untouched (screens treat it as
    * empty, the first append publishes the full shard set).
    *
    * Crash- and race-safety: blooms publish with shard 0 LAST
    * (publishBlooms), so the `exists(shard-0)` fast path only fires once
    * ALL shards are in place — a migrator that dies halfway re-runs in
    * full on the next touch. Callers MUST hold the append lock (append
    * already does; newAgainst takes it only when shard 0 is absent):
    * an unlocked migrator racing a concurrent append could snapshot
    * hashes/ before the appended batch, then publish blooms missing the
    * batch's bits over the appender's merged bloom — breaking the
    * "bloom miss proves new" superset invariant and silently admitting
    * duplicates. */
  private def ensureShardedLayout(spark: SparkSession,
      indexDir: String): Unit = {
    val (fs, p0) = fsFor(spark, indexDir, 0)
    if (fs.exists(p0)) return
    if (!fs.exists(new org.apache.hadoop.fs.Path(indexDir, "hashes")))
      return // never-built index: the first build/append publishes blooms
    val hashes = spark.read.parquet(s"$indexDir/hashes")
      .withColumn("h", xxhash64(col("sha")))
    publishBlooms(spark, indexDir, fillEmpty(bloomsOf(hashes)))
  }

  /** Rows of `docs` whose content is NOT in the index. Bloom misses are
    * new by construction (no false negatives) and never reach the join;
    * only bloom hits are confirmed against hashes/ (left_anti kills the
    * false positives).
    *
    * The touched shard blooms ride ONE broadcast, probed by a small UDF
    * over (shard, h) — not per-shard plan literals. Literal embedding
    * was measured at ~10 s of pure overhead for a 500-doc screen
    * touching all 16 shards: each ~1.2 MB bloom literal is rehashed by
    * driver-side optimizer passes and re-shipped inside EVERY task's
    * serialized plan (twice, once per union branch), so plan weight was
    * O(shards × tasks). The broadcast moves each bloom to each executor
    * once and deserializes it once; per-row cost is a map lookup + one
    * bloom probe. Trading whole-stage codegen for that is a clear win —
    * the screen's cost driver is bloom bytes, not row arithmetic. The
    * touched set (one tiny distinct over the batch) still keeps a
    * two-shard streaming batch from paying all 16 shards' broadcast.
    *
    * Totality: a row whose shard was not observed at the collect()
    * (a nondeterministically re-evaluating `docs`) finds no bloom in
    * the broadcast map and screens as maybe-seen, routing to the exact
    * confirm join — correct for any row, never silently dropped. */
  def newAgainst(spark: SparkSession, indexDir: String,
      docs: DataFrame): DataFrame = {
    // The screen itself is lock-free; only a legacy-layout migration
    // mutates the index, and that must serialize with appenders (see
    // ensureShardedLayout), so the lock is taken IFF shard 0 is absent.
    val (fs0, p0) = fsFor(spark, indexDir, 0)
    if (!fs0.exists(p0))
      withAppendLock(spark, indexDir) { ensureShardedLayout(spark, indexDir) }
    // still no sentinel after the heal pass ⇒ the index was never built:
    // an empty index knows nothing, so the whole batch is new. This is
    // the streaming bootstrap (curateIngest/dedupIngest start against an
    // empty dir; the first append publishes the full shard set) —
    // JaccardIndex.pairsAgainst has the same contract.
    if (!fs0.exists(p0)) return docs
    val hashed = withSha(docs).withColumn("shard", shardExpr)
    // Resident shard blooms (r20, the ANN serve-model discipline): the
    // blooms ARE this index's bounded model (Shards × fixed bloom size,
    // never corpus-proportional), so the serving process keeps the
    // DESERIALIZED map broadcast-resident instead of re-reading and
    // re-broadcasting ~Shards × 1.2 MB per screen. The entry is guarded
    // by ServeModelCache's content fingerprint (an append/rebuild — even
    // same-length within one mtime granule — invalidates on the next
    // screen), and keyed by applicationId because a Broadcast dies with
    // its context. This also deletes the former per-screen `touched`
    // collect job: with all shards resident there is nothing to prune.
    val bcBlooms = ServeModelCache.cachedKeyed(spark, s"$indexDir/blooms",
      spark.sparkContext.applicationId) {
      spark.sparkContext.broadcast(
        (0 until Shards).map(i => i -> readBloom(spark, indexDir, i)).toMap)
    }
    // coalesce(..., true): shard/h are non-null by construction (sha is
    // computed over coalesce(text, '')), but a primitive-arg UDF yields
    // NULL without being called if an input were ever null — and a NULL
    // predicate silently drops the row from BOTH filter branches. Route
    // that impossible case to the exact confirm instead of losing rows.
    val maybeSeen = coalesce(
      udf((shard: Int, h: Long) =>
        bcBlooms.value.get(shard).forall(_.mightContainLong(h)))
        .apply(col("shard"), col("h")),
      lit(true))
    val definitelyNew = hashed.filter(!maybeSeen)
    // hashes/ can be legitimately absent with the sentinel present: a
    // BOOTSTRAP append that crashed between its bloom publication and
    // its row write. The blooms then carry the crashed batch's bits but
    // the authoritative row set is empty — so bloom hits confirm
    // against the empty set and pass (correct: nothing is indexed), and
    // the replayed append heals the rows. Reading the missing path
    // directly would throw and crash-loop the replay instead.
    val hashesPath = new org.apache.hadoop.fs.Path(indexDir, "hashes")
    val bloomHits = hashed.filter(maybeSeen)
    // Confirm WITHOUT ever shuffling the standing table (r20, guide §3):
    // the former anti-join against the full hashes/ scan shuffles (or
    // auto-broadcasts) the CORPUS side per screen once it outgrows the
    // broadcast threshold. Instead the batch's candidate shas broadcast
    // into a semi-join that prunes hashes/ down to the ≤|batch| rows it
    // actually contains ("seen"), and the anti-join then runs against
    // broadcast(seen) — the standing side streams scan→BHJ with zero
    // exchange at any corpus size. Explicit read schema: no per-screen
    // parquet footer inference on the standing side.
    val hashesSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sha",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("keeper_id",
        org.apache.spark.sql.types.LongType)))
    val confirmed =
      if (!fs0.exists(hashesPath)) bloomHits
      else {
        val seen = spark.read.schema(hashesSchema)
          .parquet(s"$indexDir/hashes").select("sha")
          .join(broadcast(bloomHits.select("sha")), Seq("sha"), "left_semi")
        bloomHits.join(broadcast(seen), Seq("sha"), "left_anti")
      }
    // drop ALL internal columns — leaking sha would pollute the
    // documented rows-of-docs output schema (append recomputes it)
    definitelyNew.unionByName(confirmed).drop("h", "sha", "shard")
  }

  /** Index a batch of (already internally-deduped) new rows: blooms first
    * (each shard's screen stays a superset of its slice of hashes/ at
    * every instant), then rows. Only shards the batch actually touches
    * are locked and rewritten.
    *
    * A shard's bloom update is a read-merge-write, and a parquet append
    * stages its commit in a shared _temporary dir; concurrent appenders
    * would lose each other's bloom bits (breaking the superset invariant
    * — "bloom miss proves new" would then admit duplicates silently) and
    * clobber each other's staging files. Appends to one index therefore
    * serialize under an append-scope lock (same-JVM monitor +
    * cross-process file lock on local FS); on object stores without
    * locks the contract is single-writer-per-index (the streaming
    * builders satisfy it: one query owns one indexDir). */
  def append(spark: SparkSession, indexDir: String, docs: DataFrame): Unit = {
    val hashes = withSha(docs)
      .groupBy("sha").agg(min(col("doc_id")).as("keeper_id"),
        first(col("h")).as("h"))
      .persist()
    val batchBlooms = bloomsOf(hashes)
    // touched shards fall out of the bloom aggregate itself (r20): the
    // former separate distinct+collect job re-ran the batch's sha pass
    // once per append for a fact the nulls in batchBlooms already carry
    val touched = batchBlooms.indices.filter(batchBlooms(_) != null).toSet
    withAppendLock(spark, indexDir) {
      ensureShardedLayout(spark, indexDir)
      val (fs0, p0) = fsFor(spark, indexDir, 0)
      if (!fs0.exists(p0))
        // never-built index: this append IS the build's bloom
        // publication — all 16 shards (empties included) land with
        // shard 0 last, establishing the sentinel invariant
        publishBlooms(spark, indexDir, fillEmpty(batchBlooms))
      else
        touched.foreach { i =>
          val merged = readBloom(spark, indexDir, i)
          merged.mergeInPlace(batchBlooms(i))
          writeBloom(spark, indexDir, i, merged)
        }
      hashes.select("sha", "keeper_id")
        .write.mode("append").parquet(s"$indexDir/hashes")
    }
    hashes.unpersist()
    ()
  }
}
