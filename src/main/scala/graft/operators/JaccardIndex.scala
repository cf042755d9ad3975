package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  * GENERATIONS ([[IndexGenerations]], the DedupIndex discipline): every
  * build and append commits one manifest, `_gen/<N>`, that lists the
  * `shingles` files of the whole index. Layout at `indexDir`:
  *   _gen/<N>          the manifest of generation N
  *   g<N>/shingles/    parquet (doc_id, sh): the rows generation N added
  *                     (a build's: the corpus's distinct shingle rows; a
  *                     rewrite's: every row, see
  *                     [[IndexGenerations.rewrites]])
  * A screen reads the newest complete manifest and exactly the files it
  * names, so a crash before a commit is invisible, files outside a
  * commit never screen, and a re-run append commits the same N. After
  * each commit the appender deletes what neither the new generation nor
  * the one it replaced names ([[IndexGenerations.reclaim]]). A stored
  * doc's set is the union of its rows: an at-least-once re-append
  * duplicates rows, and both arms count DISTINCT shingles. A directory
  * without `_gen/` — written before the log — is generation 0: its
  * `shingles/`, by one listing (a `sizes/` table beside it is read by
  * nothing and goes at the first commit). Its first append commits
  * generation 1 over those files.
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
  * TWO ARMS, one answer ([[screened]]). The distributed kernel
  * ([[screen]]): the batch's prefix rows probe side-tagged postings —
  * the stored rows and, for the within-batch screen, the batch's own —
  * in one candidate join and one verify; its cost is Σ over batch-prefix
  * shingles of the stored posting length. The resident arm: a committed
  * generation whose `shingles` files fit
  * `spark.sql.autoBroadcastJoinThreshold` (Spark's bound for a table
  * every process may hold whole) is held on the driver ([[Postings]],
  * in [[ServeModelCache]] under the manifest's identity), and a batch
  * that fits the same bound is collected in one job and screened there
  * with the same rules, into a local relation with the kernel's schema.
  * The model holds a shingle dictionary and, as primitive arrays, each
  * stored doc's sorted shingle ids and each shingle's docs: about 120
  * bytes of heap per distinct shingle plus 12 per stored row. An append
  * from a process holding generation N's model registers N+1's as N's
  * plus the appended rows, so a warm streaming ingest never re-reads
  * stored postings. Generation 0, larger generations or batches, and a
  * threshold of −1 screen distributed.
  *
  * [[pairsAgainstShingles]] and [[pairsWithinShingles]] are the two
  * sides, [[rejects]] runs both at once, and the `docs` entry points
  * ([[pairsAgainst]], [[pairsWithin]], [[append]]) are wrappers that
  * shingle with [[shingleSets]] first. A caller that screens and then
  * appends one batch (the streaming ingests) shingles it once into a
  * sized checkpoint ([[sizedCheckpoint]]), screens it with [[rejectsOf]],
  * and appends the accepted docs' rows of the same batch.
  */
object JaccardIndex {

  /** Integer-exact τ = 3/5 machinery (the l55 discipline): prefix
    * length |B| − ⌈3|B|/5⌉ + 1 with ⌈3n/5⌉ = (3n+4) DIV 5, and the
    * final test 5·∩ ≥ 3·(|A|+|B|−∩). No float ever decides membership. */
  private val PrefixLenExpr = "n - ((3 * n + 4) DIV 5) + 1"
  private def prefixLen(n: Int): Int = n - (3 * n + 4) / 5 + 1
  private def similar(common: Long, na: Long, nb: Long): Boolean =
    common * 5 >= (na + nb - common) * 3

  /** Pinned physical layout of the stored table (index contract since
    * r20; the writers write exactly these types). */
  private val ShinglesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sh",
      org.apache.spark.sql.types.StringType)))

  /** The kernel's output: (src, a, b, n_common, n_a, n_b). */
  private val ScreenSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("src", IntegerType, nullable = false),
      StructField("a", LongType), StructField("b", LongType),
      StructField("n_common", LongType, nullable = false),
      StructField("n_a", LongType, nullable = false),
      StructField("n_b", LongType, nullable = false)))
  }

  private val Table = "shingles"

  /** Generation 0's table, and the set-size table that indexes written
    * before the verify counted set sizes still hold. */
  private val FixedTables = Set(Table, "sizes")

  /** Crash-point probe (the DedupIndex.crashProbe discipline): fires
    * after an append's files are written, before its commit. */
  private[graft] var crashProbe: String => Unit = _ => ()

  /** The batch side of every screen and append: distinct 5-gram
    * shingle rows (doc_id, sh) of a (doc_id, text) frame. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    LlmOps.shingleRows(docs.select("doc_id", "text"), distinctPerDoc = true)

  /** `sh` materialised by an eager localCheckpoint, with its size in
    * bytes (24 a row plus its shingle's bytes, an UnsafeRow's footprint)
    * observed on the checkpoint's own job: the screens' arm choice costs
    * no job of its own. */
  private[graft] def sizedCheckpoint(sh: DataFrame): (DataFrame, Long) = {
    val size = org.apache.spark.sql.Observation()
    val cp = sh.observe(size, count(lit(1)).as("rows"),
      coalesce(sum(octet_length(col("sh"))), lit(0L)).as("chars"))
      .localCheckpoint(true)
    val m = size.get
    (cp, 24 * m("rows").asInstanceOf[Long] + m("chars").asInstanceOf[Long])
  }

  /** The newest committed generation of `indexDir`, or generation 0 —
    * `shingles/`, by one listing, or nothing when never built — when it
    * has no log. */
  private[operators] def generation(spark: SparkSession,
      indexDir: String): IndexGenerations.Manifest =
    IndexGenerations.latest(spark, indexDir).getOrElse(
      IndexGenerations.Manifest(0, 0, Map(Table ->
        (try IndexGenerations.files(spark, s"$indexDir/$Table")
        catch { case _: java.io.FileNotFoundException => Nil }))))

  /** A generation's shingle rows, or None when it holds no file (never
    * built: screen everything as novel). An explicit read schema skips
    * the per-screen parquet footer inference. */
  private def stored(spark: SparkSession,
      g: IndexGenerations.Manifest): Option[DataFrame] =
    Option.when(g(Table).nonEmpty)(
      spark.read.schema(ShinglesSchema).parquet(g(Table): _*))

  /** The distributed kernel: every exact τ-pair (a, b) whose `b` is a
    * doc of the pre-shingled batch `bsh` (doc_id, sh), with its verified
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

  /** The screen of batch `bsh` against the newest generation of
    * `indexDir` — stored pairs, plus the batch's own iff `within` — on
    * the arm that fits: the resident one when the generation's model is
    * held ([[resident]]) and the batch fits the same bound, by
    * `batchBytes` or, unknown, by Spark's own plan estimate; the
    * distributed [[screen]] otherwise. Also returns the batch's rows
    * when the resident arm collected them. */
  private[operators] def screened(spark: SparkSession, indexDir: String,
      bsh: DataFrame, within: Boolean,
      batchBytes: Option[Long]): (DataFrame, Option[Array[Row]]) = {
    val g = generation(spark, indexDir)
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    def fits = batchBytes.map(BigInt(_))
      .getOrElse(bsh.queryExecution.optimizedPlan.stats.sizeInBytes) <= limit
    resident(spark, indexDir, g).filter(_ => fits) match {
      case Some(m) =>
        val rows = bsh.select(col("doc_id").cast("long"), col("sh")).collect()
        (m.screen(spark, rows, within), Some(rows))
      case None => stored(spark, g) match {
        case None if !within =>
          (spark.createDataFrame(java.util.List.of[Row](), ScreenSchema), None)
        case index => (screen(bsh, index, within), None)
      }
    }
  }

  /** Index a corpus as generation 1, replacing what `indexDir` held: its
    * distinct shingle rows. Docs under 5 tokens have no shingles and
    * screen as never-similar (exact CONTENT dedup is DedupIndex's job). */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String): Unit =
    AppendLock.withLock(spark, indexDir) {
      IndexGenerations.clear(spark, indexDir, FixedTables)
      val n = IndexGenerations.writeCounted(shingleSets(docs), s"$indexDir/g1/$Table")
      IndexGenerations.commit(spark, indexDir, IndexGenerations.Manifest(1, n,
        Map(Table -> IndexGenerations.files(spark, s"$indexDir/g1/$Table"))))
    }

  /** Grow the index with new (already screened/accepted) docs as one
    * generation. RE-appending the same batch (an at-least-once replay)
    * is tolerated: the screens count distinct shingles, so duplicated
    * stored rows change nothing. */
  def append(spark: SparkSession, indexDir: String, docs: DataFrame): Unit =
    appendShingles(spark, indexDir, shingleSets(docs))

  /** [[append]] over pre-shingled (doc_id, sh) rows. When this process
    * holds the replaced generation's model, the new one's is registered
    * too, from one collect of `sh` after the write. */
  def appendShingles(spark: SparkSession, indexDir: String,
      sh: DataFrame): Unit =
    commitAppend(spark, indexDir, sh, None)

  /** [[appendShingles]] over rows this process already holds (the
    * resident screen's): the write reads them as a local relation, and
    * the new generation's model extends the held one with no job. */
  private[graft] def appendRows(spark: SparkSession, indexDir: String,
      rows: Array[Row]): Unit =
    commitAppend(spark, indexDir,
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), ShinglesSchema), Some(rows))

  /** Commit generation N = the next number, under the append lock
    * (serialized with every other appender: the next number and the
    * rewrite rule read the newest generation): `sh`'s rows land in
    * g<N>/shingles — with every listed row when the append rewrites them
    * ([[IndexGenerations.rewrites]]) — and `_gen/N` lists them after the
    * files of the previous generation they do not replace. An empty
    * batch commits nothing. A crash anywhere before the commit leaves
    * the previous generation serving, and the re-run commits the same
    * N. */
  private def commitAppend(spark: SparkSession, indexDir: String,
      sh: DataFrame, local: Option[Array[Row]]): Unit =
    AppendLock.withLock(spark, indexDir) {
      val g = generation(spark, indexDir)
      val number = IndexGenerations.next(spark, indexDir)
      val out = s"$indexDir/g$number"
      IndexGenerations.delete(spark, out) // a crashed run's leftovers
      val rewrite = IndexGenerations.rewrites(spark, g(Table))
      val added = org.apache.spark.sql.Observation()
      val rows = sh.select(col("doc_id").cast("long"), col("sh").cast("string"))
      val batch = rows.observe(added, count(lit(1)).as("n"))
      stored(spark, g).filter(_ => rewrite).fold(batch)(_.unionByName(batch))
        .write.parquet(s"$out/$Table")
      val n = added.get("n").asInstanceOf[Long]
      if (n == 0) IndexGenerations.delete(spark, out)
      else {
        val files = IndexGenerations.files(spark, s"$out/$Table")
        val next = IndexGenerations.Manifest(number, n,
          Map(Table -> ((if (rewrite) Nil else g(Table)) ++ files)))
        crashProbe("before_commit")
        IndexGenerations.commit(spark, indexDir, next)
        IndexGenerations.reclaim(spark, indexDir, FixedTables, g, next)
        writeThrough(spark, indexDir, g, next, files, rewrite,
          local.getOrElse(rows.collect()))
      }
    }

  /** One committed generation, sized by the file lengths its manifest
    * names, and its model when they fit the bound they were sized
    * against. */
  private final case class Entry(bytes: Long, model: Option[Postings])

  private def lengthOf(spark: SparkSession, files: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }

  /** The driver-resident model of committed generation `g`, when its
    * `shingles` files fit `spark.sql.autoBroadcastJoinThreshold` (−1
    * turns the arm off). The sum of their lengths is probed once per
    * manifest and remembered with the model, or with the over-bound
    * verdict, in [[ServeModelCache]] under the manifest's identity: a
    * warm screen reads no file beyond the manifest. Generation 0 (no
    * log) has no immutable identity and always screens distributed. */
  private def resident(spark: SparkSession, indexDir: String,
      g: IndexGenerations.Manifest): Option[Postings] = {
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (limit < 0 || g.number < 1 || g(Table).isEmpty) None
    else {
      val e = ServeModelCache.committed(indexDir, g.identity)(
          (e: Entry) => e.model.isDefined || e.bytes > limit) {
        val bytes = lengthOf(spark, g(Table))
        Entry(bytes, Option.when(bytes <= limit)(Postings.load(spark, g(Table))))
      }
      e.model.filter(_ => e.bytes <= limit)
    }
  }

  /** After committing `next` over `prev`: when this process holds
    * `prev`'s entry, register `next`'s — `prev`'s model plus the
    * appended `rows` (read only then), or the over-bound verdict — so
    * the next screen loads nothing. `prev`'s model is never changed: a
    * screen may still hold it. */
  private def writeThrough(spark: SparkSession, indexDir: String,
      prev: IndexGenerations.Manifest, next: IndexGenerations.Manifest,
      added: Seq[String], rewrite: Boolean, rows: => Array[Row]): Unit = {
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (limit >= 0) ServeModelCache.held[Entry](indexDir, prev.identity).foreach { e =>
      val bytes = (if (rewrite) 0L else e.bytes) + lengthOf(spark, added)
      val model = if (bytes > limit) None else e.model.map(_.extend(rows))
      if (model.isDefined || bytes > limit)
        ServeModelCache.committed(indexDir, next.identity)((_: Entry) => true)(
          Entry(bytes, model))
    }
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
      batch: DataFrame): DataFrame = {
    // eager localCheckpoint, NOT persist: a screen per micro-batch
    // with a pinned cache per call accumulates forever (the
    // NearDupIndex.pairsWithin lesson); checkpointed RDDs release with
    // the ContextCleaner
    val (bsh, bytes) = sizedCheckpoint(shingleSets(batch))
    pairsAgainstShingles(spark, indexDir, bsh, Some(bytes))
  }

  /** [[pairsAgainst]] over pre-shingled batch rows `bsh` (doc_id, sh),
    * which the screen reads several times: pass materialised rows, and
    * their size in bytes when known. The stored side of [[screened]]. */
  def pairsAgainstShingles(spark: SparkSession, indexDir: String,
      bsh: DataFrame, batchBytes: Option[Long] = None): DataFrame =
    pairs(screened(spark, indexDir, bsh, within = false, batchBytes)._1)

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

  /** The near-dup reject set of one batch in ONE pass, as a
    * materialised (doc_id) frame: the within-batch losers (the larger id
    * of every within-batch τ-pair) ∪ every batch doc with a τ-match in
    * the standing index — both sides of one screen, so the batch is
    * ranked once, probes one candidate join over the stored and its own
    * postings, and is verified once. `sh` is the whole batch's
    * pre-shingled rows. A doc
    * appears once per pair that rejects it: the caller's anti-join does
    * not mind, and no distinct's shuffle is paid.
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
  def rejects(spark: SparkSession, indexDir: String, sh: DataFrame): DataFrame =
    rejectsOf(spark, indexDir, sh, None)._1

  /** [[rejects]], and the batch's rows when the resident arm collected
    * them: the append of the batch's accepted docs reuses them
    * ([[appendRows]]). The resident arm's set is a local relation; the
    * distributed one is an eager checkpoint. */
  private[graft] def rejectsOf(spark: SparkSession, indexDir: String,
      sh: DataFrame, batchBytes: Option[Long]): (DataFrame, Option[Array[Row]]) = {
    val (out, rows) = screened(spark, indexDir, sh, within = true, batchBytes)
    val set = out.select(col("b").as("doc_id"))
    (if (rows.isDefined) set else set.localCheckpoint(true), rows)
  }

  /** Open addressing over a shingle dictionary: the slot of `sh` in
    * `slots` (id + 1 per slot, 0 empty; a power-of-two length), either
    * holding its id or the empty slot where it would go. */
  private def slotOf(slots: Array[Int], dict: Array[String], sh: String): Int = {
    val mask = slots.length - 1
    val h = sh.hashCode * 0x9E3779B9
    var i = (h ^ h >>> 16) & mask
    while (slots(i) != 0 && dict(slots(i) - 1) != sh) i = (i + 1) & mask
    i
  }

  /** One committed generation's stored side, held on the driver: a
    * shingle dictionary (`dict`, ids by first appearance, and its
    * `slots`); per stored doc its doc_id and its DISTINCT shingle ids,
    * sorted (`docStart`/`docSh`, a CSR layout), plus whether a stored
    * row of it has a null shingle (`nullSh`: the distributed verify
    * counts that as one more element of the doc's set, shared with no
    * batch doc); and per shingle id its docs (`postStart`/`postDoc`).
    * A stored row with a null doc_id pairs with nothing in either arm
    * and is not held. Immutable: [[extend]] builds a new model. */
  private final class Postings(val dict: Array[String], val nSh: Int,
      val slots: Array[Int], val docIds: Array[Long], val docStart: Array[Int],
      val docSh: Array[Int], val nullSh: java.util.BitSet,
      postStart: Array[Int], postDoc: Array[Int]) {

    /** The id of `sh`, or −1 when no stored doc holds it. */
    private def idOf(sh: String): Int = slots(slotOf(slots, dict, sh)) - 1

    private def setSize(d: Int): Long =
      docStart(d + 1) - docStart(d) + (if (nullSh.get(d)) 1 else 0)

    /** This generation plus the (doc_id, sh) `rows` of an append. */
    def extend(rows: Array[Row]): Postings = {
      val b = new Postings.Builder(Some(this))
      rows.foreach(r => b.add(r))
      b.result()
    }

    /** The kernel's rows for the batch `rows` (doc_id, sh), as a local
      * relation with its schema, by the kernel's rules: per batch doc
      * `b`, its n_b rows rarest first by the batch's own document
      * frequency (then by shingle; any fixed order is complete), the
      * first n_b − ⌈3n_b/5⌉ + 1 of them probe the stored docs' postings
      * (src 0, a ≠ b) and, iff `within`, the other batch docs' (src 1,
      * a < b), and each candidate is verified over distinct shingles by
      * 5·∩ ≥ 3·(n_a + n_b − ∩). Batch rows with a null doc_id count in
      * the document frequencies only; a null shingle is a set element
      * that no other set shares. */
    def screen(spark: SparkSession, rows: Array[Row], within: Boolean): DataFrame = {
      // batch-local shingle ids, with their batch document frequency
      val local = new java.util.HashMap[String, Integer]()
      val shOf = scala.collection.mutable.ArrayBuffer.empty[String]
      val df = scala.collection.mutable.ArrayBuffer.empty[Int]
      var nullDf = 0
      val byDoc = scala.collection.mutable.LongMap.empty[scala.collection.mutable.ArrayBuilder.ofInt]
      for (r <- rows) {
        val sh = r.getString(1)
        val id =
          if (sh == null) { nullDf += 1; -1 }
          else {
            val known = local.get(sh)
            if (known != null) { df(known) += 1; known.intValue }
            else { local.put(sh, shOf.size); shOf += sh; df += 1; shOf.size - 1 }
          }
        if (!r.isNullAt(0))
          byDoc.getOrElseUpdate(r.getLong(0), new scala.collection.mutable.ArrayBuilder.ofInt) += id
      }
      val stored = shOf.map(idOf).toArray
      val ids = byDoc.keys.toArray.sorted
      val raw = ids.map(byDoc(_).result())
      // per batch doc: distinct non-null local ids, sorted, and a null flag
      val sets = raw.map(r => r.filter(_ >= 0).distinct.sorted)
      val hasNull = raw.map(_.contains(-1))
      val batchPost =
        if (!within) Array.empty[Array[Int]]
        else {
          val post = Array.fill(shOf.size)(new scala.collection.mutable.ArrayBuilder.ofInt)
          for (i <- sets.indices; s <- sets(i)) post(s) += i
          post.map(_.result())
        }
      // every batch shingle's rank: rarest first, then by shingle (the
      // null one first among its frequency, as Spark sorts it)
      val order = (-1 until shOf.size).sortWith { (x, y) =>
        val (dx, dy) = (if (x < 0) nullDf else df(x), if (y < 0) nullDf else df(y))
        if (dx != dy) dx < dy else x < 0 || y >= 0 && shOf(x) < shOf(y)
      }
      val rankOf = new Array[Int](shOf.size + 1)
      order.zipWithIndex.foreach { case (s, r) => rankOf(s + 1) = r }
      val out = Array.newBuilder[Row]
      val seenStored = new Array[Int](docIds.length)
      val seenBatch = new Array[Int](ids.length)
      for (bi <- ids.indices) {
        val b = ids(bi)
        val nb = raw(bi).length.toLong
        val prefix = raw(bi).sortBy(s => rankOf(s + 1)).take(prefixLen(raw(bi).length))
          .filter(_ >= 0).distinct
        val bStored = sets(bi).map(stored(_)).filter(_ >= 0).sorted
        for (s <- prefix; sid = stored(s) if sid >= 0; k <- postStart(sid) until postStart(sid + 1)) {
          val d = postDoc(k)
          if (seenStored(d) != bi + 1 && docIds(d) != b) {
            seenStored(d) = bi + 1
            val common = Postings.intersect(docSh, docStart(d), docStart(d + 1),
              bStored, 0, bStored.length).toLong
            val na = setSize(d)
            if (similar(common, na, nb)) out += Row(0, docIds(d), b, common, na, nb)
          }
        }
        if (within) for (s <- prefix; ai <- batchPost(s)) {
          if (seenBatch(ai) != bi + 1 && ids(ai) < b) {
            seenBatch(ai) = bi + 1
            val common = Postings.intersect(sets(ai), 0, sets(ai).length,
              sets(bi), 0, sets(bi).length).toLong
            val na = sets(ai).length + (if (hasNull(ai)) 1L else 0L)
            if (similar(common, na, nb)) out += Row(1, ids(ai), b, common, na, nb)
          }
        }
      }
      spark.createDataFrame(java.util.Arrays.asList(out.result(): _*), ScreenSchema)
    }
  }

  private object Postings {

    /** |x[xFrom, xTo) ∩ y[yFrom, yTo)| of two sorted distinct runs. */
    def intersect(x: Array[Int], xFrom: Int, xTo: Int,
        y: Array[Int], yFrom: Int, yTo: Int): Int = {
      var (i, j, n) = (xFrom, yFrom, 0)
      while (i < xTo && j < yTo) {
        if (x(i) < y(j)) i += 1
        else if (x(i) > y(j)) j += 1
        else { n += 1; i += 1; j += 1 }
      }
      n
    }

    /** Read a generation's `shingles` files into a model in one job:
      * each task returns its partition's rows as two primitive columns,
      * and the driver adds them as the results arrive. */
    def load(spark: SparkSession, files: Seq[String]): Postings = {
      import spark.implicits._
      val b = new Builder(None)
      spark.read.schema(ShinglesSchema).parquet(files: _*)
        .filter(col("doc_id").isNotNull).as[(Long, String)]
        .mapPartitions { it =>
          val ids = Array.newBuilder[Long]
          val shs = Array.newBuilder[String]
          it.foreach { case (id, sh) => ids += id; shs += sh }
          Iterator.single((ids.result(), shs.result()))
        }
        .collect().foreach { case (ids, shs) =>
          var i = 0
          while (i < ids.length) { b.add(ids(i), shs(i)); i += 1 }
        }
      b.result()
    }

    /** Accumulates (doc_id, sh) rows over an optional base model, which
      * it copies and never changes. */
    final class Builder(base: Option[Postings]) {
      private var dict = base.fold(new Array[String](1024))(m =>
        java.util.Arrays.copyOf(m.dict, math.max(1024, m.dict.length)))
      private var nSh = base.fold(0)(_.nSh)
      private var slots = base.fold(new Array[Int](2048))(_.slots.clone())
      private val docOf = scala.collection.mutable.LongMap.empty[Int]
      private val docIds = new scala.collection.mutable.ArrayBuilder.ofLong
      private var nDocs = 0
      private val nullSh = base.fold(new java.util.BitSet)(_.nullSh.clone()
        .asInstanceOf[java.util.BitSet])
      // (doc << 32 | shingle id) per row, deduplicated in result()
      private val pairs = new scala.collection.mutable.ArrayBuilder.ofLong

      base.foreach { m =>
        for (d <- m.docIds.indices) {
          docOf(m.docIds(d)) = d
          docIds += m.docIds(d)
          for (k <- m.docStart(d) until m.docStart(d + 1))
            pairs += d.toLong << 32 | m.docSh(k)
        }
        nDocs = m.docIds.length
      }

      private def shingleId(sh: String): Int = {
        val i = slotOf(slots, dict, sh)
        if (slots(i) != 0) slots(i) - 1
        else {
          if (nSh == dict.length) dict = java.util.Arrays.copyOf(dict, nSh * 2)
          dict(nSh) = sh
          slots(i) = nSh + 1
          nSh += 1
          if (nSh * 2 > slots.length) {
            slots = new Array[Int](slots.length * 2)
            for (id <- 0 until nSh) slots(slotOf(slots, dict, dict(id))) = id + 1
          }
          nSh - 1
        }
      }

      def add(row: Row): Unit =
        if (!row.isNullAt(0)) add(row.getLong(0), row.getString(1))

      def add(docId: Long, sh: String): Unit = {
        val d = docOf.getOrElseUpdate(docId, { docIds += docId; nDocs += 1; nDocs - 1 })
        if (sh == null) nullSh.set(d)
        else pairs += d.toLong << 32 | shingleId(sh)
      }

      def result(): Postings = {
        val ps = pairs.result()
        java.util.Arrays.sort(ps)
        val docStart = new Array[Int](nDocs + 1)
        val docSh = Array.newBuilder[Int]
        val perSh = new Array[Int](nSh + 1)
        var last = -1L
        for (p <- ps if p != last) {
          last = p
          docStart((p >>> 32).toInt + 1) += 1
          docSh += p.toInt
          perSh(p.toInt + 1) += 1
        }
        for (d <- 0 until nDocs) docStart(d + 1) += docStart(d)
        for (s <- 0 until nSh) perSh(s + 1) += perSh(s)
        val sh = docSh.result()
        val postDoc = new Array[Int](sh.length)
        val fill = perSh.clone()
        for (d <- 0 until nDocs; k <- docStart(d) until docStart(d + 1)) {
          postDoc(fill(sh(k))) = d
          fill(sh(k)) += 1
        }
        new Postings(dict, nSh, slots, docIds.result(), docStart, sh, nullSh, perSh, postDoc)
      }
    }
  }
}
