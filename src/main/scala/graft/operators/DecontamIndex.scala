package graft.operators

import graft.functions.BloomMembership
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing DECONTAMINATION index — the eval-benchmark shingle model as a
  * persisted build/serve split, completing the standing-index family:
  * exact content (DedupIndex), MinHash (NearDupIndex), exact Jaccard
  * (JaccardIndex), ANN (AnnIndex/PqIndex/IvfPqIndex) — and now eval
  * overlap. The l26/l29 lanes recompute the eval side per call; a real
  * pipeline's eval suite is FIXED across months of ingestion, so its
  * model belongs on disk, built once and served to every batch and every
  * pipeline (the reference's freeze-once/read-forever CAS discipline,
  * core/freezer.go:672-711, applied to the decontamination model).
  *
  * Layout under `indexDir`, committed by generation
  * ([[IndexGenerations]], `_gen/<N>`):
  *   g<N>/shingles/  parquet (sh STRING, h LONG) — the authoritative
  *                   distinct 8-gram shingle set (md5 text-shingles via
  *                   LlmOps.shingles8, so stream/batch/index can never
  *                   drift on the shingle definition), h = xxhash64(sh)
  *   g<N>/bloom.bin  derived scan-side prefilter (1% fpp) over every row
  *
  * The bloom is a containment PREFILTER: a shingle it wrongly drops
  * would silently MISS contamination, so it may only ever serve beside
  * the row set it covers. The commit makes that structural: a build
  * writes both into a generation directory no reader looks at yet and
  * commits a manifest naming both, and a screen reads exactly what the
  * newest manifest names. A build that crashes before its commit —
  * mid-way through its bloom, say — leaves the previous generation
  * serving, and the next build reclaims its files. The model is
  * write-once — eval suites version by building a new dir or
  * rebuilding this one, which is how benchmarks actually rev — so the
  * bloom can never lag a later append.
  *
  * A directory without `_gen/` (built before the log) is generation 0:
  * `shingles/`, and `bloom.bin` when present. Without it a screen skips
  * the prefilter (a build from before the log that crashed between its
  * rows and its bloom) and still answers exactly.
  *
  * 100 TB shape: the model is the SMALL side (a benchmark's shingles —
  * thousands to ~10^8 rows; ~120 MB of bloom at 10^8 keys/1% fpp). The
  * corpus side is screened at the SCAN by the codegen'd
  * `graft_might_contain` byte-literal predicate — no shuffle for the
  * ~99% of corpus shingles the bloom rejects — and only survivors reach
  * the exact confirm join that erases false positives, so the screened
  * answer is hash-identical to the unscreened formulation (the l29
  * contract, now served from a standing store). */
object DecontamIndex {

  /** Pinned physical layout of shingles/ (the build writes exactly these
    * types): an explicit read schema skips the per-screen parquet footer
    * inference job — the DedupIndex/JaccardIndex convention. */
  private val ShinglesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("sh",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("h",
      org.apache.spark.sql.types.LongType)))

  /** The newest committed generation of `indexDir` — its `shingles`
    * files and, when built, its `bloom` — or generation 0, from one
    * listing of the directory, when it has no log (nothing when the
    * directory does not exist). */
  private def generation(spark: SparkSession, indexDir: String): IndexGenerations.Manifest =
    IndexGenerations.latest(spark, indexDir).getOrElse {
      val p = new org.apache.hadoop.fs.Path(indexDir)
      val names =
        try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listStatus(p).map(_.getPath.getName).toSet
        catch { case _: java.io.FileNotFoundException => Set.empty[String] }
      IndexGenerations.Manifest(0, 0, Map("shingles" -> Seq(s"$indexDir/shingles"),
        "bloom" -> Seq(s"$indexDir/bloom.bin").filter(_ => names("bloom.bin"))))
    }

  /** Generation 0's fixed paths. */
  private val FixedTables = Set("shingles", "bloom.bin")

  /** Index an eval corpus `(doc_id, text)`: distinct shingles + hash to
    * parquet, then the bloom, both under `g<N>/`, committed as
    * generation N in place of whatever `indexDir` served. A rebuild
    * killed before its commit leaves the previous generation serving;
    * after the commit, what neither generation names is reclaimed.
    * Returns the distinct shingle count (0 = every doc under 8 tokens;
    * screen() then reports nothing contaminated, which is the honest
    * answer for an unshingleable benchmark). */
  def build(spark: SparkSession, evalDocs: DataFrame,
      indexDir: String): Long = {
    val sh = LlmOps.shingles8(evalDocs.select(col("doc_id"), col("text")))
      .select("sh").distinct()
      .withColumn("h", xxhash64(col("sh")))
      .persist()
    try AppendLock.withLock(spark, indexDir) {
      val prev = generation(spark, indexDir)
      val number = IndexGenerations.next(spark, indexDir)
      val out = s"$indexDir/g$number"
      IndexGenerations.delete(spark, out) // a crashed run's leftovers
      val n = IndexGenerations.writeCounted(sh, s"$out/shingles")
      // an EMPTY model commits rows only: Spark's bloomFilter NPEs on
      // zero input rows, and a screen without a bloom skips the
      // prefilter — against an empty shingle set the confirm join then
      // correctly reports nothing contaminated. Distributed build: the
      // driver holds only the filter bytes, never the shingle rows
      val bloom = Option.when(n > 0) {
        val bos = new java.io.ByteArrayOutputStream()
        sh.stat.bloomFilter("h", n, 0.01).writeTo(bos)
        val f = s"$out/bloom.bin"
        val p = new org.apache.hadoop.fs.Path(f)
        val o = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, false)
        try o.write(bos.toByteArray) finally o.close()
        f
      }
      val next = IndexGenerations.Manifest(number, n,
        Map("shingles" -> IndexGenerations.files(spark, s"$out/shingles"),
          "bloom" -> bloom.toSeq))
      IndexGenerations.commit(spark, indexDir, next)
      IndexGenerations.reclaim(spark, indexDir, FixedTables, prev, next)
      n
    } finally { sh.unpersist(); () }
  }

  /** Per-doc eval overlap for a `(doc_id, text)` corpus frame:
    * `(doc_id, n_shared, contaminated)` where n_shared counts DISTINCT
    * shingles shared with the model. Bloom prefilter when the sidecar
    * exists; identical answer without it.
    *
    * The prefilter runs BEFORE the distinct: the screen's one shuffle is
    * the (doc_id, sh) distinct that feeds the n_shared count, and at
    * corpus scale ~99% of shingle occurrences fail the bloom, so
    * screening first shrinks that exchange by the same ~99% (filtering a
    * deterministic function of the would-be grouping key commutes with
    * the distinct — survivors dedup to exactly the rows the old
    * distinct-then-filter order kept). Sidecar transport scales with the
    * model: ≤ [[graft.functions.BloomMembership.LiteralMaxBytes]] embeds
    * the bytes as a plan literal (rides the existing task-binary
    * broadcast); bigger models go through a true Broadcast variable so a
    * 10^7-10^8-key eval suite (12-114 MiB of filter) never bloats the
    * task binary of every referencing stage — see DecontamScaleSpec for
    * the measured 10^7-key point. */
  def screen(spark: SparkSession, indexDir: String,
      docs: DataFrame): DataFrame = {
    val g = generation(spark, indexDir)
    val hits = candidateShingles(spark, indexDir, g, docs)
      .distinct() // count DISTINCT shared shingles (the l26/l29 unit)
      .join(model(spark, g), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    docs.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
  }

  /** The curation verb: rows of `docs` sharing NO shingle with the
    * model — the standing-store form of l26's anti-join stage. Only
    * EXISTENCE decides, so a doc drops by a semi-join of its
    * bloom-passing shingles against the model: no distinct, no count,
    * no left join (those are [[screen]]'s, for n_shared). */
  def dropContaminated(spark: SparkSession, indexDir: String,
      docs: DataFrame): DataFrame = {
    val g = generation(spark, indexDir)
    val bad = candidateShingles(spark, indexDir, g, docs)
      .join(model(spark, g), Seq("sh"), "left_semi")
      .select("doc_id")
    docs.join(bad, Seq("doc_id"), "left_anti")
  }

  private def model(spark: SparkSession, g: IndexGenerations.Manifest): DataFrame =
    spark.read.schema(ShinglesSchema).parquet(g("shingles"): _*).select("sh")

  /** The docs' 8-gram shingle rows (doc_id, sh, h) that can be in the
    * model: those passing its bloom, or every row when it has none. The
    * bloom is resident per committed generation ([[ServeModelCache]],
    * keyed by the manifest's files and the application id), so a warm
    * screen opens no model file: its bytes, as a plan literal, or past
    * the literal ceiling as a Broadcast, which the cache unpersists
    * once a new generation replaces it. */
  private def candidateShingles(spark: SparkSession, indexDir: String,
      g: IndexGenerations.Manifest, docs: DataFrame): DataFrame = {
    val corpusSh = LlmOps.shingles8(docs.select(col("doc_id"), col("text")))
      .withColumn("h", xxhash64(col("sh")))
    g("bloom").headOption.fold(corpusSh) { f =>
      val bloom = ServeModelCache.resident(indexDir, Option.when(g.number > 0)(
          spark.sparkContext.applicationId + "\n" + g.identity)) {
        val p = new org.apache.hadoop.fs.Path(f)
        val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
        val bytes = try in.readAllBytes() finally in.close()
        if (bytes.length <= BloomMembership.LiteralMaxBytes) bytes
        else spark.sparkContext.broadcast(bytes)
      }
      corpusSh.filter(bloom match {
        case bytes: Array[Byte] => BloomMembership.mightContain(spark, lit(bytes), col("h"))
        case b: Broadcast[Array[Byte]] @unchecked =>
          BloomMembership.mightContainBroadcast(spark, b, col("h"))
      })
    }
  }
}
