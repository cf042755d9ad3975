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
  * Layout at `indexDir`: shingles/ (doc_id, sh), the distinct shingle
  * rows of the corpus's sets. The verify counts a stored set's size
  * from these rows, so there is no second table (an index built before
  * keeps a sizes/ table nothing reads).
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
  * rarest-first by the BATCH's document frequencies, a stand-in for
  * the index's that costs no index scan per screen.
  *
  * At scale: screen cost is Σ over batch-prefix shingles of the stored
  * posting length; the verify join touches only candidate pairs.
  * Appends are per-row parquet appends, one write each (AnnIndex and
  * DedupIndex, by contrast, commit each append as one generation).
  *
  * One screen kernel ([[screen]]): the batch's prefix rows probe
  * side-tagged postings — the stored rows and, for the within-batch
  * screen, the batch's own — in one candidate join and one verify.
  * [[pairsAgainstShingles]] and [[pairsWithinShingles]] are its two
  * sides, [[rejects]] runs both at once, and the `docs` entry points
  * ([[pairsAgainst]], [[pairsWithin]], [[append]]) are wrappers that
  * shingle with [[shingleSets]] first. A caller that screens and then
  * appends one batch (the streaming ingests) shingles it once, screens
  * it with [[rejects]], and appends the accepted docs' rows of the same
  * shingle frame ([[appendShingles]]).
  */
object JaccardIndex {

  /** Integer-exact τ = 3/5 machinery (the l55 discipline): prefix
    * length |B| − ⌈3|B|/5⌉ + 1 with ⌈3n/5⌉ = (3n+4) DIV 5, and the
    * final test 5·∩ ≥ 3·(|A|+|B|−∩). No float ever decides membership. */
  private val PrefixLenExpr = "n - ((3 * n + 4) DIV 5) + 1"

  /** Pinned physical layout of the stored table (index contract since
    * r20; the build writes exactly these types). */
  private val ShinglesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sh",
      org.apache.spark.sql.types.StringType)))

  /** The batch side of every screen and append: distinct 5-gram
    * shingle rows (doc_id, sh) of a (doc_id, text) frame. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    LlmOps.shingleRows(docs.select("doc_id", "text"), distinctPerDoc = true)

  /** The one screen kernel: every exact τ-pair (a, b) whose `b` is a doc
    * of the pre-shingled batch `bsh` (doc_id, sh), with its verified
    * counts: (src, a, b, n_common, n_a, n_b). One candidate join and one
    * verify serve both screens, because the postings `a` is drawn from
    * are SIDE-TAGGED: src 0 is a stored doc of `stored` — the index's
    * shingle rows — and keeps pairs with a ≠ b (a doc screened
    * against an index already holding its own rows, an at-least-once
    * replay, must not match itself); src 1 is a doc of the batch itself,
    * present iff `within`, and keeps pairs with a < b (the reflexive
    * screen). The tag keeps a stored doc and a batch doc that share a
    * doc_id apart in every join.
    *
    * The probe prefix is the batch doc's: rarest first by the BATCH's
    * own document frequencies — any fixed probe-side order is complete,
    * and batch-local rarity approximates global rarity without paying a
    * full index scan per screen. Its window's per-doc count is the
    * batch doc's set size n_b. The verify joins each candidate to all of
    * `a`'s postings and marks the ones `b` shares, so one aggregate over
    * those rows counts both n_a and n_common.
    *
    * DUPLICATE-TOLERANT by construction: both counts are of DISTINCT
    * shingles — so stored rows duplicated by an at-least-once re-append
    * inflate nothing; a plain count would double n_common and admit
    * false pairs at an effective threshold far below τ. */
  private def screen(bsh: DataFrame, stored: Option[DataFrame],
      within: Boolean): DataFrame = {
    val ranked = bsh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    val prefix = ranked.filter(col("rn") <= expr(PrefixLenExpr))
      .select(col("sh"), col("doc_id").as("b"), col("n").as("n_b"))
    def side(rows: DataFrame, src: Int): DataFrame =
      rows.select(lit(src).as("src"), col("doc_id").as("a"), col("sh"))
    val postings = (stored.map(side(_, 0)).toSeq ++
      (if (within) Seq(side(bsh, 1)) else Nil)).reduce(_ unionByName _)
    val cands = prefix.join(postings, "sh")
      .filter(col("src") === 0 && col("a") =!= col("b") ||
        col("src") === 1 && col("a") < col("b"))
      .select("src", "a", "b", "n_b").distinct()
    cands.join(postings, Seq("src", "a"))
      .join(bsh.select(col("doc_id").as("b"), col("sh"), lit(true).as("shared")),
        Seq("b", "sh"), "left")
      .groupBy("src", "a", "b", "n_b", "sh").agg(max("shared").as("shared"))
      .groupBy("src", "a", "b", "n_b")
      .agg(count(lit(1)).as("n_a"), count("shared").as("n_common"))
      .filter(col("n_common") * 5 >=
        (col("n_a") + col("n_b") - col("n_common")) * 3)
      .select("src", "a", "b", "n_common", "n_a", "n_b")
  }

  /** Index a corpus: its distinct shingle rows. Docs under 5 tokens have
    * no shingles and screen as never-similar (exact CONTENT dedup is
    * DedupIndex's job). */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String): Unit =
    shingleSets(docs).write.mode("overwrite").parquet(s"$indexDir/shingles")

  /** Grow the index with new (already screened/accepted) docs — per-row
    * appends, nothing rewritten. RE-appending the same batch (an
    * at-least-once replay) is tolerated: the screens count distinct
    * shingles, so duplicated stored rows change nothing. Serialized
    * under the shared AppendLock: two concurrent appenders stage commits
    * in the same _temporary tree and one's cleanup would silently drop
    * the other's rows (see AppendLock). */
  def append(spark: SparkSession, indexDir: String, docs: DataFrame): Unit =
    appendShingles(spark, indexDir, shingleSets(docs))

  /** [[append]] over pre-shingled (doc_id, sh) rows. */
  def appendShingles(spark: SparkSession, indexDir: String,
      sh: DataFrame): Unit =
    AppendLock.withLock(spark, indexDir) {
      sh.write.mode("append").parquet(s"$indexDir/shingles")
    }

  /** The standing index's shingle rows, or None when it was never built
    * (screen everything as novel). Pinned physical layout (r20): an
    * explicit read schema skips the per-screen parquet footer inference
    * on the standing side — the build writes exactly these types. */
  private def stored(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/shingles")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else Some(spark.read.schema(ShinglesSchema).parquet(s"$indexDir/shingles"))
  }

  private def pairs(screened: DataFrame): DataFrame =
    screened.select("a", "b", "n_common", "n_a", "n_b")

  /** All (index doc `a`, batch doc `b`) pairs with exact Jaccard ≥ 3/5
    * and the verified counts: (a, b, n_common, n_a, n_b). The batch's
    * shingle sets are computed here; the corpus is read as stored rows
    * and never re-shingled. Pairs with a = b are excluded — a doc
    * screened against an index already holding its own rows (an
    * at-least-once replay) must not match itself. An index that was
    * never built screens everything as novel (empty result). */
  def pairsAgainst(spark: SparkSession, indexDir: String,
      batch: DataFrame): DataFrame =
    // eager localCheckpoint, NOT persist: a screen per micro-batch
    // with a pinned cache per call accumulates forever (the
    // NearDupIndex.pairsWithin lesson); checkpointed RDDs release with
    // the ContextCleaner
    pairsAgainstShingles(spark, indexDir, shingleSets(batch).localCheckpoint(true))

  /** [[pairsAgainst]] over pre-shingled batch rows `bsh` (doc_id, sh),
    * which the screen reads several times: pass materialised rows. The
    * stored side of [[screen]]. */
  def pairsAgainstShingles(spark: SparkSession, indexDir: String,
      bsh: DataFrame): DataFrame =
    stored(spark, indexDir) match {
      case Some(index) => pairs(screen(bsh, Some(index), within = false))
      case None => pairs(screen(bsh, None, within = true)).limit(0)
    }

  /** Exact τ-pairs WITHIN one frame, a < b — the one-sided screen
    * applied reflexively (prefix side is the larger id `b`, joined
    * against the frame's full rows): the within-batch pass of the
    * streaming ingest. */
  def pairsWithin(docs: DataFrame): DataFrame =
    pairsWithinShingles(shingleSets(docs).localCheckpoint(true))

  /** [[pairsWithin]] over pre-shingled rows `sh` (doc_id, sh), which the
    * screen reads several times: pass materialised rows. The batch side
    * of [[screen]]. */
  def pairsWithinShingles(sh: DataFrame): DataFrame =
    pairs(screen(sh, None, within = true))

  /** The near-dup reject set of one batch in ONE pass, as an eagerly
    * checkpointed (doc_id) frame: the within-batch losers (the larger id
    * of every within-batch τ-pair) ∪ every batch doc with a τ-match in
    * the standing index — both sides of one [[screen]], so the batch is
    * ranked once, probes one candidate join over the stored and its own
    * postings, and is verified once. `sh` is the whole batch's
    * pre-shingled rows. A doc appears once per pair that rejects it: the
    * caller's anti-join does not mind, and no distinct's shuffle is paid.
    *
    * This equals the sequential formula — losers first, then only the
    * SURVIVORS screened against the index — because a doc's
    * against-index verdict depends on its own shingle set alone (the
    * screen is complete under any probe order and the verify is exact;
    * the batch-wide prefix order changes cost, not the verified set).
    * So the index matches of the losers are a subset of the losers and
    * add nothing, and the survivors' matches are the sequential ones.
    * The caller's pipeline reads this small set instead of re-running
    * the verify. The caller releases it with LlmOps.dropCheckpoint once
    * nothing reads it. */
  def rejects(spark: SparkSession, indexDir: String,
      sh: DataFrame): DataFrame =
    screen(sh, stored(spark, indexDir), within = true)
      .select(col("b").as("doc_id"))
      .localCheckpoint(true)
}
