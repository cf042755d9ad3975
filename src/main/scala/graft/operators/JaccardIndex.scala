package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Standing EXACT-Jaccard near-dup index — the exact-recall sibling of
  * [[NearDupIndex]] (which screens by MinHash bands, approximately): the
  * corpus's distinct 5-gram shingle sets are stored ONCE; each arriving
  * batch is screened by AllPairs prefix filtering (the l55 lane's
  * algorithm) and every reported (index doc `a`, batch doc `b`) pair
  * carries an exact integer-verified Jaccard ≥ 3/5 — no false
  * positives, no false negatives, by construction.
  *
  * Layout at `indexDir`:
  *   shingles/ (doc_id, sh)  distinct shingle rows — the corpus's sets
  *   sizes/    (doc_id, n)   set cardinalities
  *
  * Completeness under a GROWING index is the subtle part: the classic
  * two-sided prefix join (l55) requires BOTH sets' prefixes under ONE
  * global token order, but a standing index's token frequencies drift
  * with every append — stored prefixes computed under yesterday's order
  * would silently lose recall today. The screen here is ONE-SIDED:
  * only the BATCH doc's prefix is used, joined against the corpus's
  * FULL shingle rows. One-sided prefix filtering is complete under ANY
  * total order of the probe's own shingles — if J(A,B) ≥ τ then
  * |A∩B| ≥ ⌈τ·|B|⌉ (∪ ⊇ B), and B's first |B| − ⌈τ·|B|⌉ + 1 shingles
  * under any fixed order must contain an element of A∩B by pigeonhole
  * on B alone — so no order is frozen, nothing migrates on append. The
  * order still matters for COST, not correctness: prefixes sort
  * rarest-first by the INDEX's document frequencies (unseen shingles
  * rank rarest — their postings are empty, so probing them is free).
  *
  * At scale: screen cost is Σ over batch-prefix shingles of the stored
  * posting length; the verify join touches only candidate pairs.
  * Appends are per-row parquet appends (write-once; same two-table
  * non-atomicity contract as AnnIndex.append — re-run only a failed
  * table, or rebuild).
  *
  * Pre-shingled entry points: every screen and the append has a kernel
  * over `(doc_id, sh)` rows as [[shingleSets]] makes them
  * ([[pairsWithinShingles]], [[pairsAgainstShingles]],
  * [[appendShingles]]), and the `docs` entry points are wrappers that
  * shingle and call it. A caller that screens and then
  * appends one batch (the streaming ingests) shingles it once, screens
  * it in one pass with [[rejects]], and appends the accepted docs' rows
  * of the same shingle frame.
  */
object JaccardIndex {

  /** Integer-exact τ = 3/5 machinery (the l55 discipline): prefix
    * length |B| − ⌈3|B|/5⌉ + 1 with ⌈3n/5⌉ = (3n+4) DIV 5, and the
    * final test 5·∩ ≥ 3·(|A|+|B|−∩). No float ever decides membership. */
  private val PrefixLenExpr = "n - ((3 * n + 4) DIV 5) + 1"

  /** Pinned physical layouts of the stored tables (index contract since
    * r20; the build writes exactly these types). */
  private val ShinglesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sh",
      org.apache.spark.sql.types.StringType)))
  private val SizesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n",
      org.apache.spark.sql.types.LongType)))

  /** The batch side of every screen and append: distinct 5-gram
    * shingle rows (doc_id, sh) of a (doc_id, text) frame. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    LlmOps.shingleRows(docs.select("doc_id", "text"), distinctPerDoc = true)

  /** Exact intersection count + integer threshold over candidate id
    * pairs: `aSh`/`bSh` are (doc_id, sh) rows, `aSz`/`bSz` (doc_id, n).
    * DUPLICATE-TOLERANT by construction: n_common counts DISTINCT
    * shared shingles and sizes aggregate by max — so stored rows
    * duplicated by an at-least-once re-append (append is not
    * idempotent) inflate nothing; a plain count would double n_common
    * and admit false pairs at an effective threshold far below τ. */
  private def verify(cands: DataFrame, aSh: DataFrame, aSz: DataFrame,
      bSh: DataFrame, bSz: DataFrame): DataFrame = {
    val inter = cands
      .join(aSh.select(col("doc_id").as("a"), col("sh")), Seq("a"))
      .join(bSh.select(col("doc_id").as("b2"), col("sh").as("shb")),
        col("b") === col("b2") && col("sh") === col("shb"))
      .groupBy("a", "b").agg(countDistinct(col("sh")).as("n_common"))
    val aN = aSz.groupBy("doc_id").agg(max("n").as("n"))
    val bN = bSz.groupBy("doc_id").agg(max("n").as("n"))
    inter
      .join(aN.select(col("doc_id").as("a"), col("n").as("n_a")), "a")
      .join(bN.select(col("doc_id").as("b"), col("n").as("n_b")), "b")
      .filter(col("n_common") * 5 >=
        (col("n_a") + col("n_b") - col("n_common")) * 3)
      .select("a", "b", "n_common", "n_a", "n_b")
  }

  /** Rarest-first probe prefixes of `sh` under the given df table:
    * (sh, b) rows, one per prefix shingle per doc. */
  private def probePrefix(sh: DataFrame, dfreq: DataFrame): DataFrame =
    // set size n rides the SAME doc_id window pass as the prefix rank
    // (the l55 r19 change; the former `sizes` parameter was dead —
    // verify consumes sizes, this pass never did): re-joining sizes
    // here re-shuffled the probe shingles a second time for a count the
    // window partition already holds
    sh.join(dfreq, Seq("sh"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rn") <= expr(PrefixLenExpr))
      .select(col("sh"), col("doc_id").as("b"))

  /** Index a corpus: distinct shingle rows + set sizes. Docs under 5
    * tokens have no shingles and screen as never-similar (exact
    * CONTENT dedup is DedupIndex's job). */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String): Unit = {
    val sh = shingleSets(docs).persist()
    try {
      sh.write.mode("overwrite").parquet(s"$indexDir/shingles")
      sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$indexDir/sizes")
    } finally { sh.unpersist(); () }
  }

  /** Grow the index with new (already screened/accepted) docs — per-row
    * appends, nothing rewritten. Not atomic across the two tables: a
    * crash between the writes leaves the batch's docs candidate-visible
    * but size-less — the verify's inner size join drops them, never
    * emits wrong pairs. RE-appending the same batch (an at-least-once
    * replay) is tolerated: the screens count distinct shingles and
    * max-aggregate sizes, so duplicated stored rows change nothing.
    * Serialized under the shared AppendLock: two concurrent appenders
    * stage commits in the same _temporary tree and one's cleanup would
    * silently drop the other's rows (see AppendLock).
    *
    * The shingle frame is CHECKPOINTED, not persisted: `docs` is
    * typically the output of a screen against THIS index, so its lineage
    * scans shingles/ and sizes/. Every parquet write ends in Spark's
    * CacheManager.recacheByPath, which drops each cached frame whose
    * lineage reads the written path — a persisted frame would lose its
    * cache at the shingles/ write and the sizes/ write would re-run the
    * whole upstream screen (against an index that already holds the
    * batch). An eager localCheckpoint cuts the lineage, so no write can
    * invalidate it; its blocks are released once both writes land. */
  def append(spark: SparkSession, indexDir: String, docs: DataFrame): Unit = {
    val sh = shingleSets(docs).localCheckpoint(true)
    try appendShingles(spark, indexDir, sh) finally LlmOps.dropCheckpoint(sh)
  }

  /** [[append]] over pre-shingled (doc_id, sh) rows. `sh` is read twice
    * (shingles/, then sizes/), so its lineage must not read this index:
    * pass materialised rows, such as a checkpoint of [[shingleSets]]. */
  def appendShingles(spark: SparkSession, indexDir: String,
      sh: DataFrame): Unit =
    AppendLock.withLock(spark, indexDir) {
      sh.write.mode("append").parquet(s"$indexDir/shingles")
      sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .write.mode("append").parquet(s"$indexDir/sizes")
    }

  /** Both tables present → true; neither → false (never built — screen
    * everything as novel); exactly one → fail fast: a build crashed
    * between its two writes, and silently treating the corpus as empty
    * (or failing later with a bare path error inside a streaming query)
    * hides the repair the operator must make. */
  private def indexExists(spark: SparkSession, indexDir: String): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    def ex(name: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/$name")
      p.getFileSystem(conf).exists(p)
    }
    (ex("shingles"), ex("sizes")) match {
      case (true, true)   => true
      case (false, false) => false
      case (sh, _) =>
        throw new IllegalStateException(
          s"half-built JaccardIndex at $indexDir (" +
            (if (sh) "shingles/ without sizes/" else "sizes/ without shingles/") +
            ") — rebuild it")
    }
  }

  /** All (index doc `a`, batch doc `b`) pairs with exact Jaccard ≥ 3/5
    * and the verified counts: (a, b, n_common, n_a, n_b). The batch's
    * shingle sets are computed here; the corpus is read as stored rows
    * and never re-shingled. Probe prefixes order by the BATCH's own
    * document frequencies — any fixed probe-side order is complete, and
    * batch-local rarity approximates global rarity without paying a
    * full index scan per screen (the index's df would order postings
    * slightly better at O(index) per call). Pairs with a = b are
    * excluded — a doc screened against an index already holding its own
    * rows (an at-least-once replay) must not match itself. An index
    * that was never built screens everything as novel (empty result). */
  def pairsAgainst(spark: SparkSession, indexDir: String,
      batch: DataFrame): DataFrame =
    // eager localCheckpoint, NOT persist: a screen per micro-batch
    // with a pinned cache per call accumulates forever (the
    // NearDupIndex.pairsWithin lesson); checkpointed RDDs release with
    // the ContextCleaner
    pairsAgainstShingles(spark, indexDir, shingleSets(batch).localCheckpoint(true))

  /** [[pairsAgainst]] over pre-shingled batch rows `bsh` (doc_id, sh),
    * which the screen reads several times: pass materialised rows. */
  def pairsAgainstShingles(spark: SparkSession, indexDir: String,
      bsh: DataFrame): DataFrame = {
    val bsizes = bsh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    if (!indexExists(spark, indexDir))
      return verify(bsh.select(col("doc_id").as("a"),
          col("doc_id").as("b")).limit(0),
        bsh, bsizes, bsh, bsizes)
    // pinned physical layout (r20): explicit read schemas skip the
    // per-screen parquet footer inference on the standing side — the
    // build writes exactly these types
    val stored = spark.read.schema(ShinglesSchema)
      .parquet(s"$indexDir/shingles")
    val storedSizes = spark.read.schema(SizesSchema)
      .parquet(s"$indexDir/sizes")
    val dfreq = bsh.groupBy("sh").agg(count(lit(1)).as("df"))
    val cands = probePrefix(bsh, dfreq)
      .join(stored.select(col("sh"), col("doc_id").as("a")), "sh")
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
    verify(cands, stored, storedSizes, bsh, bsizes)
  }

  /** Exact τ-pairs WITHIN one frame, a < b — the one-sided screen
    * applied reflexively (prefix side is the larger id `b`, joined
    * against the frame's full rows): the within-batch pass of the
    * streaming ingest. */
  def pairsWithin(docs: DataFrame): DataFrame =
    pairsWithinShingles(shingleSets(docs).localCheckpoint(true))

  /** [[pairsWithin]] over pre-shingled rows `sh` (doc_id, sh), which the
    * screen reads several times: pass materialised rows. */
  def pairsWithinShingles(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val cands = probePrefix(sh, dfreq)
      .join(sh.select(col("sh"), col("doc_id").as("a")), "sh")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    verify(cands, sh, sizes, sh, sizes)
  }

  /** The near-dup reject set of one batch in ONE pass, as an eagerly
    * checkpointed (doc_id) frame: the within-batch losers (the larger id
    * of every within-batch τ-pair) ∪ every batch doc with a τ-match in
    * the standing index. `sh` is the whole batch's pre-shingled rows.
    *
    * This equals the sequential formula — losers first, then only the
    * SURVIVORS screened against the index — because a doc's
    * against-index verdict depends on its own shingle set alone (the
    * screen is complete under any probe order and the verify is exact;
    * the batch-wide prefix order changes cost, not the verified set).
    * So the index matches of the losers are a subset of the losers and
    * add nothing, and the survivors' matches are the sequential ones.
    * Screening the whole batch lets both screens read one shingle frame
    * and lets the caller's pipeline read this small set instead of
    * re-running the two verifies. The caller releases it with
    * LlmOps.dropCheckpoint once nothing reads it. */
  def rejects(spark: SparkSession, indexDir: String,
      sh: DataFrame): DataFrame =
    pairsWithinShingles(sh).select(col("b").as("doc_id"))
      .union(pairsAgainstShingles(spark, indexDir, sh).select(col("b").as("doc_id")))
      .distinct()
      .localCheckpoint(true)
}
