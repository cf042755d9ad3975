package graft.operators


import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted cross-run exact-dedup index — the operational form of l1/l29:
  * a 100 TB corpus is deduped ONCE, its content hashes become a standing
  * index, and each day's arrivals are checked against the index without
  * ever rescanning the corpus.
  *
  * Two tables: parquet (sha, keeper_id) rows, one per distinct content,
  * and 16 serialized Blooms over xxhash64(sha), sharded by the first hex
  * nibble of sha. A shard's bloom covers every row of its slice, so a
  * bloom miss proves a document is new and skips the join entirely;
  * bloom hits (~dup rate + fpp of the batch) are the only rows that
  * reach the exact anti-join confirm.
  *
  * GENERATIONS ([[IndexGenerations]], the AnnIndex discipline): every
  * build and append commits one manifest, `_gen/<N>`, that lists the
  * `hashes` files of the whole index and the newest bloom file of each
  * shard holding rows. Layout at `indexDir`:
  *   _gen/<N>                   the manifest of generation N
  *   g<N>/hashes/               parquet (sha, keeper_id): the rows
  *                              generation N added (a build's: all; a
  *                              rewrite's: all, see
  *                              [[IndexGenerations.rewrites]])
  *   g<N>/blooms/shard-<i>.bin  shard i's bloom, for each shard
  *                              generation N touched: the previous
  *                              generation's bloom merged with the
  *                              batch's
  * Every file is written once, by a plain create, into a directory no
  * reader looks at yet; the commit publishes them all at once. A screen
  * reads the newest complete manifest and exactly the files it names,
  * so a crash before a commit is invisible, files outside a commit
  * never screen, and a screen racing an append sees one generation
  * whole. A shard the manifest names no bloom for holds no rows. After
  * each commit the appender deletes every file and manifest that
  * neither the new generation nor the one it replaced names
  * ([[IndexGenerations.reclaim]]), so the index holds at most two
  * blooms a shard however many appends it took.
  *
  * A directory without `_gen/` — written before the log — serves as
  * generation 0: `hashes/` and `blooms/shard-<i>.bin`, whose writers
  * published shard 0 last, so shard 0's presence proves every shard's.
  * Its first append commits generation 1 over those files. One with
  * `hashes/` but no shard 0 (a single-bloom index, or a build that
  * crashed before its blooms) gets its blooms rebuilt from the rows and
  * committed as a generation on its first screen or append.
  *
  * At scale: the rows are hash-partitioned parquet the confirm join
  * reads; each shard bloom is fixed-size (9.6 bits per indexed doc at 1%
  * fpp). Sharding by sha prefix makes total capacity Shards ×
  * ShardCapacity while keeping every bloom ever built for a shard
  * mergeable (mergeInPlace requires identical bit size + hash count), and
  * lets an append rewrite only the shards it touches. Growing a
  * deployment = raising Shards (a rebuild), not resizing blooms in place.
  */
object DedupIndex {

  private val Fpp = 0.01
  /** Shard count; sha's first hex nibble routes a document to its shard. */
  private[operators] val Shards = 16
  /** Per-shard capacity — fixed so all blooms of a shard are mergeable.
    * 16 shards × 1 Mi ≈ 16.8 M distinct contents at 1% fpp (~1.2 MB of
    * bloom per shard); production raises Shards, not this constant. */
  private[operators] val ShardCapacity = 1L << 20

  private val HashesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sha",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("keeper_id",
      org.apache.spark.sql.types.LongType)))

  // coalesce: sha2(NULL) is NULL, and NULL = NULL never matches in the
  // confirm join — a NULL-text doc would pass the anti-join as "new" on
  // EVERY batch (while build() groups all NULLs into one keeper), so the
  // index would re-admit it forever. NULL text dedups as the empty string.
  private def withSha(docs: DataFrame): DataFrame =
    docs.withColumn("sha", sha2(coalesce(col("text"), lit("")), 256))
      .withColumn("h", xxhash64(col("sha")))

  /** One row per distinct content of `docs`: (sha, keeper_id, h), the
    * min doc_id keeping it. */
  private def contents(docs: DataFrame): DataFrame =
    withSha(docs).groupBy("sha").agg(min(col("doc_id")).as("keeper_id"),
      first(col("h")).as("h"))

  /** First hex nibble of sha as an int in [0, 16) — codegen'd. */
  private def shardExpr: Column =
    conv(substring(col("sha"), 1, 1), 16, 10).cast("int")

  /** All shard blooms of a frame's (shard, h) keys and the key count, in
    * ONE job. Each task returns its partition's keys as one primitive
    * array (16 bytes a key), and the driver puts them into its blooms as
    * each task's result arrives, then drops them: the driver holds at
    * most Shards blooms plus the key arrays of tasks finishing at once,
    * whatever the frame's size. Per-partition blooms would ship Shards ×
    * 1.26 MB per task however few keys it holds (80 MB for a 500-doc
    * batch on four partitions). A shard the frame never touched stays
    * null. */
  private def bloomsOf(df: DataFrame): (Array[BloomFilter], Long) = {
    val blooms = new Array[BloomFilter](Shards)
    var n = 0L
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
        n += ks.length / 2
      })
    (blooms, n)
  }

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Bloom I/O rides the Hadoop FileSystem of the indexDir's scheme so a
  // non-local index (hdfs://, pufs://) works end-to-end — java.nio would
  // treat "hdfs://x" as a relative local path and silently write a local
  // directory literally named "hdfs:" (ADVICE r5 class of bug).
  private def writeBloom(spark: SparkSession, file: String, bf: BloomFilter): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val p = new Path(file)
    val out = fsOf(spark, p).create(p, false)
    try out.write(bos.toByteArray) finally out.close()
  }

  private def readBloom(spark: SparkSession, file: String): BloomFilter = {
    val p = new Path(file)
    val in = fsOf(spark, p).open(p)
    val bytes = try in.readAllBytes() finally in.close()
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  private def bloomName(shard: Int): String = f"shard-$shard%x.bin"

  private def shardOf(file: String): Int =
    Integer.parseInt(new Path(file).getName.stripPrefix("shard-").stripSuffix(".bin"), 16)

  /** One generation, read back: the `hashes` files, and the bloom file
    * of each shard holding rows. */
  private[graft] final case class Generation(number: Long,
      hashes: Seq[String], blooms: Map[Int, String])

  private val Empty = Generation(0, Nil, Map.empty)

  /** The newest committed generation of `indexDir`, or generation 0 when
    * it has no log: `hashes/`, and all shard blooms once shard 0 exists. */
  private[graft] def generation(spark: SparkSession, indexDir: String): Generation =
    IndexGenerations.latest(spark, indexDir) match {
      case Some(m) => Generation(m.number, m("hashes"),
        m("blooms").map(f => shardOf(f) -> f).toMap)
      case None =>
        val fs = fsOf(spark, new Path(indexDir))
        val hashes = s"$indexDir/hashes"
        Generation(0,
          if (fs.exists(new Path(hashes))) IndexGenerations.files(spark, hashes) else Nil,
          if (!fs.exists(new Path(s"$indexDir/blooms/${bloomName(0)}"))) Map.empty
          else (0 until Shards).map(i => i -> s"$indexDir/blooms/${bloomName(i)}").toMap)
    }

  private def readHashes(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema(HashesSchema).parquet(files: _*)

  /** Generation 0 with rows but no shard blooms — a single-bloom index,
    * or a build from before the log that crashed before its blooms. */
  private def lacksBlooms(g: Generation): Boolean =
    g.number == 0 && g.hashes.nonEmpty && g.blooms.isEmpty

  /** `g`, or — when it [[lacksBlooms]] — the generation committing its
    * blooms, rebuilt from its rows: the blooms are DERIVED state, the
    * authoritative content set lives in the rows. The caller holds the
    * append lock and read `g` under it: a migrator racing an appender
    * could otherwise commit blooms missing the appended batch's bits. */
  private def withBlooms(spark: SparkSession, indexDir: String,
      g: Generation): Generation =
    if (!lacksBlooms(g)) g
    else {
      val (blooms, n) = bloomsOf(readHashes(spark, g.hashes)
        .withColumn("h", xxhash64(col("sha"))))
      commit(spark, indexDir, g, None, blooms, n)
    }

  /** Commit generation N = the next number over `g`, under the append
    * lock the caller holds: `rows` (sha, keeper_id) land in g<N>/hashes
    * (with all of `g`'s rows when the append rewrites them, see
    * [[IndexGenerations.rewrites]]; the rewrite reads every row once,
    * as every screen already does), each
    * shard `batch` touches gets `g`'s bloom merged with the batch's in
    * g<N>/blooms, and `_gen/N` lists them with everything of `g` they
    * do not replace; `n`, the batch's row count, is the manifest's
    * `rows`. A crash anywhere before the commit leaves `g` serving, and
    * the re-run rewrites g<N>/ and commits the same N. */
  private def commit(spark: SparkSession, indexDir: String, g: Generation,
      rows: Option[DataFrame], batch: Array[BloomFilter], n: Long): Generation = {
    val number = IndexGenerations.next(spark, indexDir)
    val out = s"$indexDir/g$number"
    IndexGenerations.delete(spark, out) // a crashed run's leftovers
    val rewrite = rows.isDefined && IndexGenerations.rewrites(spark, g.hashes)
    val hashes = rows.toSeq.flatMap { r =>
      (if (rewrite) readHashes(spark, g.hashes).unionByName(r) else r)
        .write.parquet(s"$out/hashes")
      IndexGenerations.files(spark, s"$out/hashes")
    }
    val blooms = batch.indices.filter(batch(_) != null).map { i =>
      val merged = g.blooms.get(i).fold(batch(i)) { f =>
        val bf = readBloom(spark, f)
        bf.mergeInPlace(batch(i))
        bf
      }
      val f = s"$out/blooms/${bloomName(i)}"
      writeBloom(spark, f, merged)
      i -> f
    }
    val next = Generation(number, (if (rewrite) Nil else g.hashes) ++ hashes,
      g.blooms ++ blooms)
    crashProbe("before_commit")
    IndexGenerations.commit(spark, indexDir, manifest(next, n))
    IndexGenerations.reclaim(spark, indexDir, FixedTables, manifest(g, 0), manifest(next, n))
    next
  }

  private def manifest(g: Generation, rows: Long): IndexGenerations.Manifest =
    IndexGenerations.Manifest(g.number, rows, Map("hashes" -> g.hashes,
      "blooms" -> g.blooms.toSeq.sortBy(_._1).map(_._2)))

  /** Generation 0's tables, which the first commits still list. */
  private val FixedTables = Set("hashes", "blooms")

  /** Crash-point probe (the AnnIndex.crashProbe discipline): fires after
    * a generation's files are written, before its commit. */
  private[graft] var crashProbe: String => Unit = _ => ()

  /** Dedup `docs` internally (min doc_id survives) and persist the index
    * as generation 1, replacing what `indexDir` held. Returns the number
    * of distinct contents indexed. */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String): Long = {
    // persist: the sha-aggregation feeds the bloom pass and the parquet
    // write — one scan+shuffle instead of two
    val hashes = contents(docs).persist()
    try AppendLock.withLock(spark, indexDir) {
      IndexGenerations.clear(spark, indexDir, FixedTables)
      val (blooms, n) = bloomsOf(hashes)
      commit(spark, indexDir, Empty, Some(hashes.select("sha", "keeper_id")), blooms, n)
      n
    } finally { hashes.unpersist(); () }
  }

  /** Rows of `docs` whose content is NOT in the index. Bloom misses are
    * new by construction (no false negatives) and never reach the join;
    * only bloom hits are confirmed against the generation's rows
    * (left_anti kills the false positives). A never-built index knows
    * nothing, so the whole batch is new: the streaming bootstrap
    * (curateIngest/dedupIngest start against an empty dir), the same
    * contract as JaccardIndex.pairsAgainst.
    *
    * The shard blooms ride ONE broadcast, probed by a small UDF over
    * (shard, h) — not per-shard plan literals. Literal embedding was
    * measured at ~10 s of pure overhead for a 500-doc screen touching
    * all 16 shards: each ~1.2 MB bloom literal is rehashed by driver-side
    * optimizer passes and re-shipped inside EVERY task's serialized plan
    * (twice, once per union branch), so plan weight was O(shards ×
    * tasks). The broadcast moves each bloom to each executor once and
    * deserializes it once; per-row cost is a map lookup + one bloom
    * probe. Trading whole-stage codegen for that is a clear win — the
    * screen's cost driver is bloom bytes, not row arithmetic. */
  def newAgainst(spark: SparkSession, indexDir: String,
      docs: DataFrame): DataFrame = {
    // lock-free: a committed generation never changes. Only a
    // generation 0 without blooms mutates the index, and that must
    // serialize with appenders (see withBlooms)
    val g = {
      val g0 = generation(spark, indexDir)
      if (!lacksBlooms(g0)) g0
      else AppendLock.withLock(spark, indexDir) {
        withBlooms(spark, indexDir, generation(spark, indexDir))
      }
    }
    // no shard holds a row: never built, or built over nothing
    if (g.blooms.isEmpty) return docs
    val hashed = withSha(docs).withColumn("shard", shardExpr)
    val bcBlooms = residentBlooms(spark, indexDir, g)
    // coalesce(..., true): shard/h are non-null by construction (sha is
    // computed over coalesce(text, '')), but a primitive-arg UDF yields
    // NULL without being called if an input were ever null — and a NULL
    // predicate silently drops the row from BOTH filter branches. Route
    // that impossible case to the exact confirm instead of losing rows.
    // A shard with no bloom holds no rows: its docs are new.
    val maybeSeen = coalesce(
      udf((shard: Int, h: Long) =>
        bcBlooms.value.get(shard).exists(_.mightContainLong(h)))
        .apply(col("shard"), col("h")),
      lit(true))
    val definitelyNew = hashed.filter(!maybeSeen)
    val bloomHits = hashed.filter(maybeSeen)
    // Confirm WITHOUT ever shuffling the standing table (r20, guide §3):
    // the former anti-join against the full rows scan shuffles (or
    // auto-broadcasts) the CORPUS side per screen once it outgrows the
    // broadcast threshold. Instead the batch's candidate shas broadcast
    // into a semi-join that prunes the rows down to the ≤|batch| it
    // actually contains ("seen"), and the anti-join then runs against
    // broadcast(seen) — the standing side streams scan→BHJ with zero
    // exchange at any corpus size. A generation 0 can hold blooms
    // without rows (a bootstrap append from before the log that crashed
    // between its blooms and its rows): its hits confirm against the
    // empty set and pass, and the replayed append heals the rows.
    val confirmed =
      if (g.hashes.isEmpty) bloomHits
      else {
        val seen = readHashes(spark, g.hashes).select("sha")
          .join(broadcast(bloomHits.select("sha")), Seq("sha"), "left_semi")
        bloomHits.join(broadcast(seen), Seq("sha"), "left_anti")
      }
    // drop ALL internal columns — leaking sha would pollute the
    // documented rows-of-docs output schema (append recomputes it)
    definitelyNew.unionByName(confirmed).drop("h", "sha", "shard")
  }

  /** The generation's deserialized shard blooms, broadcast-resident (the
    * ANN serve-model discipline): the blooms ARE this index's bounded
    * model (Shards × fixed bloom size, never corpus-proportional), so the
    * serving process keeps them instead of re-reading and
    * re-broadcasting ~Shards × 1.2 MB per screen. A committed
    * generation's entry is keyed on the manifest's identity and the
    * application id (a Broadcast dies with its context), so a warm
    * screen reads no file beyond the manifest. Generation 0 has no
    * immutable identity: each screen loads its blooms. */
  private def residentBlooms(spark: SparkSession, indexDir: String,
      g: Generation): Broadcast[Map[Int, BloomFilter]] =
    ServeModelCache.resident(indexDir, Option.when(g.number > 0)(
        spark.sparkContext.applicationId + "\n" + manifest(g, 0).identity)) {
      spark.sparkContext.broadcast(g.blooms.map { case (i, f) => i -> readBloom(spark, f) })
    }

  /** Index a batch of (already internally-deduped) new rows as one
    * generation: the batch's rows, and the merged bloom of each shard
    * it touches. An empty batch commits nothing.
    *
    * A shard's bloom update is a read-merge-write, and the next
    * generation number is one past the newest; concurrent appenders
    * would lose each other's bloom bits (breaking "bloom miss proves
    * new", which would then admit duplicates silently) or race for one
    * number. Appends to one index therefore serialize under the shared
    * [[AppendLock]] (same-JVM monitor + cross-process file lock on local
    * FS); on object stores without locks the contract is
    * single-writer-per-index (the streaming builders satisfy it: one
    * query owns one indexDir). */
  def append(spark: SparkSession, indexDir: String, docs: DataFrame): Unit = {
    val hashes = contents(docs).persist()
    try {
      val (batch, n) = bloomsOf(hashes)
      if (n > 0) AppendLock.withLock(spark, indexDir) {
        val g = withBlooms(spark, indexDir, generation(spark, indexDir))
        commit(spark, indexDir, g, Some(hashes.select("sha", "keeper_id")), batch, n)
      }
    } finally { hashes.unpersist(); () }
  }
}
