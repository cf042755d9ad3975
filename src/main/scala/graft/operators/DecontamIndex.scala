package graft.operators

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
  * Layout under `indexDir`:
  *   shingles/   parquet (sh STRING, h LONG) — the authoritative distinct
  *               8-gram shingle set (md5 text-shingles via
  *               LlmOps.shingles8, so stream/batch/index can never drift
  *               on the shingle definition), h = xxhash64(sh)
  *   bloom.bin   derived scan-side prefilter (1% fpp), published AFTER
  *               the rows by temp-write + rename
  *
  * Publish ORDER matters here (DedupIndex commits its rows and blooms
  * as one generation instead). The bloom is a containment PREFILTER: a
  * shingle it wrongly drops would silently MISS contamination, so the
  * bloom may only ever exist when it covers the full row set.
  * Rows-first makes that structural: a build that crashes between the
  * row write and the bloom publish leaves a model whose screen() simply
  * skips the prefilter (missing sidecar = screen
  * everything) and still answers exactly. The model is write-once — eval
  * suites version by building a new dir, which is how benchmarks
  * actually rev — so the bloom can never lag a later append.
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

  private def fs(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** Index an eval corpus `(doc_id, text)`: distinct shingles + hash to
    * parquet, then the bloom sidecar. Returns the distinct shingle
    * count (0 = every doc under 8 tokens; screen() then reports nothing
    * contaminated, which is the honest answer for an unshingleable
    * benchmark). */
  def build(spark: SparkSession, evalDocs: DataFrame,
      indexDir: String): Long = {
    val sh = LlmOps.shingles8(evalDocs.select(col("doc_id"), col("text")))
      .select("sh").distinct()
      .withColumn("h", xxhash64(col("sh")))
      .persist()
    try {
      // Retire any PRIOR build's sidecar before the rows change hands:
      // a rebuild that crashes after the row overwrite (or returns early
      // on n==0) must leave NO bloom rather than a stale one, because a
      // stale prefilter silently drops new shingles — the one failure
      // mode the rows-first publish order exists to exclude. Missing
      // sidecar = screen everything, which stays exactly correct.
      val (bfs, bloomTgt) = fs(spark, s"$indexDir/bloom.bin")
      if (bfs.exists(bloomTgt)) bfs.delete(bloomTgt, false)
      sh.write.mode("overwrite").parquet(s"$indexDir/shingles")
      val n = sh.count()
      // an EMPTY model publishes rows only: Spark's bloomFilter NPEs on
      // zero input rows, and screen() already treats a missing sidecar
      // as "no prefilter" — against an empty shingle set the confirm
      // join then correctly reports nothing contaminated
      if (n == 0) return 0L
      // bloom LAST (see publish-order scaladoc); distributed build — the
      // driver holds only the filter bytes, never the shingle rows
      val bf = sh.stat.bloomFilter("h", n, 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val (hfs, target) = fs(spark, s"$indexDir/bloom.bin")
      val tmp = new org.apache.hadoop.fs.Path(
        s"$indexDir/.bloom.bin.tmp-${java.util.UUID.randomUUID()}")
      val out = hfs.create(tmp, true)
      try out.write(bos.toByteArray) finally out.close()
      if (!hfs.rename(tmp, target)) {
        hfs.delete(target, false)
        require(hfs.rename(tmp, target), s"bloom publish failed: $target")
      }
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
    val hits = candidateShingles(spark, indexDir, docs)
      .distinct() // count DISTINCT shared shingles (the l26/l29 unit)
      .join(model(spark, indexDir), "sh")
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
    val bad = candidateShingles(spark, indexDir, docs)
      .join(model(spark, indexDir), Seq("sh"), "left_semi")
      .select("doc_id")
    docs.join(bad, Seq("doc_id"), "left_anti")
  }

  private def model(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(ShinglesSchema).parquet(s"$indexDir/shingles").select("sh")

  /** The docs' 8-gram shingle rows (doc_id, sh, h) that can be in the
    * model: those passing the bloom sidecar, or every row when a build
    * crashed before publishing it. */
  private def candidateShingles(spark: SparkSession, indexDir: String,
      docs: DataFrame): DataFrame = {
    val corpusSh = LlmOps.shingles8(docs.select(col("doc_id"), col("text")))
      .withColumn("h", xxhash64(col("sh")))
    val (hfs, bloomPath) = fs(spark, s"$indexDir/bloom.bin")
    if (!hfs.exists(bloomPath)) corpusSh // crashed build: no prefilter
    else {
      val st = hfs.getFileStatus(bloomPath)
      def bytes: Array[Byte] = {
        val in = hfs.open(bloomPath)
        try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      }
      val pred =
        if (st.getLen <= graft.functions.BloomMembership.LiteralMaxBytes)
          graft.functions.BloomMembership.mightContain(
            spark, lit(bytes), col("h"))
        else // key on (path, len, mtime): a rebuilt model re-broadcasts
          graft.functions.BloomMembership.mightContainBroadcast(spark,
            s"$bloomPath@${st.getLen}:${st.getModificationTime}",
            col("h"))(bytes)
      corpusSh.filter(pred)
    }
  }
}
