package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** LLM-training-data pipeline operators (SURVEY §2.3 "LLM-data-pipeline
  * extension"; queries Q-L1..L4 + text-analysis/similarity extensions).
  * Q-L5 (pufs-meta aggregation) lives with the DSv2 source in MetaOps.
  *
  * The exact-dedup operator is the reference's CAS idea applied to rows:
  * content-addressed identity via sha256 (reference core/freezer.go:386-404).
  *
  * 100 TB design rules enforced here:
  *  - Near-dup discovery is BANDED (MinHash-LSH): candidates come from a
  *    shuffle-join on (band, signature) buckets — never an O(n²) cross join.
  *  - kNN keeps the probe side tiny and broadcast; ranking is a window per
  *    probe (per-partition top-k), no driver-side collect.
  *  - Embedding near-dup uses sign-random-projection LSH buckets, then
  *    exact cosine only within buckets.
  *  - All hashes are md5/sha2 built-ins (codegen'd, mirrored in DuckDB).
  */
object LlmOps {

  type Q = (SparkSession, String) => DataFrame

  // All cosine/dot math goes through the codegen'd dot_f32 / cosine_f32
  // Expressions (functions/VectorExpressions.scala) — bit-identical to the
  // sequential higher-order folds DuckDB's list_reduce mirrors
  // (VectorExprSpec pins the parity).

  /** Deterministic ±1 hyperplanes over 64 dims, derived from md5 so the
    * signature is reproducible across runs and languages. Shared with the
    * fused sign_lsh kernel (functions/VectorExpressions.scala LshKernels). */
  private[operators] def planesFor(n: Int): Seq[Seq[Double]] =
    graft.functions.LshKernels.planesFor(n).map(_.toSeq).toSeq
  private[operators] val lshPlanes: Seq[Seq[Double]] = planesFor(8)

  /** ANN index shape: L independent hash tables × b sign bits each, with
    * Hamming≤1 multiprobe at query time. Collision probability for a pair
    * at angle θ is p = 1 - θ/π per bit; a candidate survives a table with
    * P ≈ p^b + b(1-p)p^(b-1), and L tables OR-amplify to
    * 1 - (1 - P)^L — the same banding idea as l2's MinHash bands. */
  private val AnnTables = 24
  private val AnnBits = 8

  /** Embeddings exploded to one row per (vec_id, band, sig) — the banded
    * sign-LSH bucketing shared by l10/l13. Exposed for NearDupSpec's
    * bucket-size histogram check.
    *
    * All bands·bits plane dots run in ONE fused codegen'd sign_lsh call
    * per row (functions/VectorExpressions.scala). The per-plane dot_f32
    * formulation this replaces generated 192 inlined loops plus a
    * 12,288-element plan literal at 24×8 — most of the query's cost was
    * codegen compilation, not arithmetic. Signatures are bit-identical:
    * same md5 plane derivation, same ascending-index double accumulation,
    * same `> 0` sign rule (NearDupSpec's recall floors pin it). */
  private[operators] def embedBands(e: DataFrame, bands: Int, bits: Int): DataFrame = {
    graft.functions.VectorExpressions.register(e.sparkSession)
    e.select(col("*"),
      posexplode(expr(s"sign_lsh(embedding, $bands, $bits)"))
        .as(Seq("band", "sig")))
  }

  /** MinHash-LSH near-dup candidate pairs (a < b, distinct, unordered) —
    * the l2 query body, shared with the l21 clustering step. 5-gram word
    * shingles, 4 bands, signature = min md5 per band; candidate = same
    * (band, signature) bucket.
    *
    * Both sides of the self-join read `sigs`; the alias projections sit
    * below the exchanges, so ReuseExchange can NOT dedupe them — persist
    * materializes the shingle→signature subtree once (VERDICT r2 #7).
    * All 4 band-minima come from ONE pass over the shingles AND one md5
    * per shingle: band b's hash is the b-th 8-hex-char slice of the
    * digest (4 independent 32-bit min-hashes from one 128-bit digest —
    * quarter the hashing of the per-band md5("b:sh") formulation). */
  /** Banded MinHash signatures (doc_id, b, sig) for a (doc_id, text)
    * frame — the l2 signature scheme factored out so the standing
    * NearDupIndex indexes bit-identical signatures to the inline lane. */
  private[operators] def minhashSigs(docs: DataFrame): DataFrame =
    minhashSigsOfShingles(shingleRows(docs, distinctPerDoc = false))

  /** The signature half of [[minhashSigs]] over (doc_id, sh) shingle
    * rows — l12 signs its persisted distinct shingles through here, so
    * its signatures cannot drift from l2's. */
  private[operators] def minhashSigsOfShingles(sh: DataFrame): DataFrame = {
    // md5 hoisted into the pre-agg projection (r19): as four
    // min(substring(md5(sh))) aggregates it was evaluated once per BAND
    // per row; here once per row, with only the cheap substrings in the
    // partial-agg expressions
    val bandMins = (0 to 3).map(b =>
      min(substring(col("m"), b * 8 + 1, 8)).as(s"sig$b"))
    sh.select(col("doc_id"), md5(col("sh")).as("m"))
      .groupBy("doc_id")
      .agg(bandMins.head, bandMins.tail: _*)
      .select(col("doc_id"), posexplode(
        array((0 to 3).map(b => col(s"sig$b")): _*)).as(Seq("b", "sig")))
  }

  /** Exploded md5(8-word shingle) rows (doc_id, sh) — THE
    * decontamination unit (l26/l38/l57 semantics; docs under 8 tokens
    * have no shingles and are never contaminated), shared with the
    * streaming curation so the batch and stream pipelines cannot drift
    * on the shingle definition. */
  private[graft] def shingles8(docs: DataFrame): DataFrame = docs
    .withColumn("tk", split(lower(col("text")), " "))
    .filter(size(col("tk")) >= 8)
    .select(col("doc_id"), col("tk"),
      explode(sequence(lit(1), size(col("tk")) - 7)).as("i"))
    .select(col("doc_id"),
      md5(concat_ws(" ", slice(col("tk"), col("i"), lit(8)))).as("sh"))

  /** Exploded 5-word shingle rows (doc_id, sh) for a (doc_id, text)
    * frame — THE similarity unit of this file, shared by MinHash (l2 /
    * NearDupIndex, multiset form) and the exact AllPairs join (l55, set
    * form via distinctPerDoc) so the shingle definition (lowercasing,
    * width, tokenization) cannot drift between screens that must agree.
    * Docs under 5 tokens have no shingles.
    *
    * Shape note (r19): window strings are built in the Project ABOVE the
    * Generate — explode POSITIONS, then concat_ws/slice per output row.
    * Building them inside explode(transform(...)) evaluates the whole
    * higher-order-function tree interpreted (CodegenFallback) per
    * element, measured 2-6.7x slower than this whole-stage-codegen
    * shape; rows are identical. distinctPerDoc keeps the in-array
    * array_distinct (map-side dedup with no shuffle), which needs the
    * materialized window array and so stays on the transform path. */
  private[graft] def shingleRows(docs: DataFrame,
      distinctPerDoc: Boolean): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      .filter(size(col("tk")) >= 5)
    if (distinctPerDoc) {
      val arr = transform(sequence(lit(1), size(col("tk")) - 4),
        i => concat_ws(" ", slice(col("tk"), i, lit(5))))
      toks.select(col("doc_id"), explode(array_distinct(arr)).as("sh"))
    } else toks
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(1), size(col("tk")) - 4)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("tk"), col("i"), lit(5))).as("sh"))
  }

  /** 32-bit SimHash per document (doc_id, simhash) — per-token
    * md5-derived hash, per-bit majority vote, expressed relationally
    * (explode bits → two partial-agg groupBys) so DuckDB replays it
    * exactly; shared by the l9 signature lane and the l54 Hamming
    * near-dup join. */
  private[graft] def simhashDf(s: SparkSession, d: String): DataFrame = {
    val toks = t(s, d, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
    toks
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(31))).as("k"))
      .withColumn("contrib",
        when(expr("shiftright(h, k) % 2") === 1, 1).otherwise(-1))
      .groupBy("doc_id", "k")
      .agg(sum(col("contrib")).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), k)"))
        .otherwise(0L)).as("simhash"))
  }

  /** 64-bit SimHash — the crawl-scale signature width (the l54 SCALE.md
    * knob made real): per-token xxhash64 bit votes, bit set iff the vote
    * is positive. Since round 10 this rides the one-pass codegen'd
    * kernel (graft.functions.SimHash64): the relational formulation
    * below shuffled |tokens|·64 rows through two groupBys (~100M rows at
    * sf0.1 — it was the bench headline's entire cost), where the kernel
    * computes each signature inside whole-stage codegen. Null-text docs
    * are dropped, matching the relational form (no tokens → no rows).
    * JVM xxhash64 has no DuckDB twin, so signature SEMANTICS are
    * spec-verified (kernel ≡ relational ≡ built-ins in VectorExprSpec;
    * screen ≡ brute force in QueriesSpec) and the l54w lane's oracle
    * replays the screen over the engine-emitted signature table. */
  private[graft] def simhash64Of(docs: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    docs.select(col("doc_id"), expr("simhash64(text)").as("simhash"))
      .where(col("simhash").isNotNull)
  }

  /** l54's Hamming ≤ 3 near-dup join at the 64-bit width with 4×16-bit
    * bands: 65,536 buckets per band instead of 256, so band-bucket
    * density — the ONE super-linear term the K=100 probe surfaced in
    * the 32-bit lane — drops by 256× at identical completeness
    * (radius 3 < 4 bands ⟹ some band matches exactly, the same
    * pigeonhole as l54). The sign bit rides along: band values mask
    * with & 65535 (an arithmetic shiftright alone would sign-extend
    * band 3 negative), and bit_count(xor) is sign-agnostic. */
  private[graft] def simhash64NearDup(s: SparkSession, d: String): DataFrame =
    // no checkpoint (r20): the one-shuffle band screen consumes the
    // signature frame exactly once, so the former eager localCheckpoint
    // (which guarded the self-join's two concurrent reads) was a whole
    // extra blocking job per call
    simhash64BandScreen(simhash64Of(t(s, d, "documents")
      .select(col("doc_id"), col("text"))))

  /** The 4-band screen + exact Hamming ≤ 3 verify over ANY signature
    * table (doc_id, simhash) of 4·`bandBits` bits — 4×16 over 64-bit
    * signatures (the default: simhash64NearDup, which computes them
    * in-plan; the l54w lane, which reads them from the engine-emitted
    * fixture that also backs the DuckDB oracle; SimHashIndex; MediaOps)
    * and 4×8 over l54's 32-bit ones. Radius 3 < 4 bands ⟹ some band
    * of a true pair matches exactly, so the screen is complete at
    * either width. Band values mask with & (2^bandBits − 1): an
    * arithmetic shiftright alone would sign-extend 64-bit band 3
    * negative.
    *
    * One-shuffle shape (r20, the minhashPairsOf discipline): group
    * (doc_id, simhash) structs per (band, bv) bucket and expand a<b
    * pairs in-group (pairsInBucket) — the former banded self-join
    * exchanged the 4n band rows once per side and built join hash
    * tables for the same bucket rows. sort_array orders the structs by
    * doc_id (unique per frame), so a precedes b ⟺ a.doc_id < b.doc_id.
    * hamming is computed + filtered BEFORE the pair dedup (a pure
    * function of the pair's signatures, so it commutes with distinct),
    * leaving only true near-dup rows in the distinct's exchange. */
  private[graft] def simhash64BandScreen(sh: DataFrame,
      bandBits: Int = 16): DataFrame = {
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv",
        expr(s"shiftright(simhash, band * $bandBits) & ${(1 << bandBits) - 1}"))
    pairsInBucket(bands, Seq("band", "bv"), struct(col("doc_id"), col("simhash")))
      .withColumn("hamming",
        expr("bit_count(a.simhash ^ b.simhash)").cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        col("hamming"))
      .distinct()
  }

  /** Engine-emitted signature fixture backing the l54w oracle. JVM
    * xxhash64 has no DuckDB twin, so the lane's oracle is GENERATED from
    * engine output (the l41 frozen-table discipline): the first l54w call
    * per (process, corpus dir) writes the (doc_id, simhash) table to
    * parquet, the band screen reads the SAME files back, and the DuckDB
    * oracle replays the UNSCREENED brute-force Hamming join over them —
    * so screen completeness (the radius-3 pigeonhole) and verify
    * exactness are driver-oracle-checked against the signatures the
    * engine actually computed. Signature SEMANTICS (per-token bit votes,
    * bit_or assembly, sign-bit masking) are pinned separately by
    * QueriesSpec's screen ≡ brute-force test. Caching: lazy cell per
    * key, built outside the CHM bin lock (same pattern as
    * Bench.ServeIndexes); a fresh temp dir per build, so concurrent
    * processes never share a partially-written fixture. */
  /** Build-once standing decontamination models for the l60 lane: one
    * DecontamIndex per (process, corpus dir) over the fixed eval slice
    * (doc_id < 50), lazy-cell cached like L54wSigs so bench warmup pays
    * the build and timed/verify calls serve from the store. */
  private[graft] object DecontamModels {
    private final class Cell(mk: => String) { lazy val dir: String = mk }
    private val built =
      new java.util.concurrent.ConcurrentHashMap[String, Cell]()
    def fixture(s: SparkSession, d: String): String =
      built.computeIfAbsent(d, _ => new Cell({
        val dir = java.nio.file.Files
          .createTempDirectory("graft-decontam-model").toString
        DecontamIndex.build(s,
          t(s, d, "documents").filter(col("doc_id") < 50)
            .select("doc_id", "text"), dir)
        dir
      })).dir
  }

  /** Frozen-quantizer fixtures backing the l53/l20 generated oracles
    * (round 14, the L54wSigs GENERATED-oracle discipline): the k-means
    * FIT is the only step DuckDB cannot replay — everything after it
    * (nearest-codeword encode, ADC distance tables and sums, exact
    * cosine re-rank, ranking) is deterministic double arithmetic whose
    * fold order dot_f32/cosine_f32 pin (VectorExprSpec parity). So the
    * lane dumps the fitted model ONCE per (process, corpus dir), reads
    * it back from parquet (the table the oracle replays is the table
    * the engine served), and the generated SQL recomputes the whole
    * post-fit pipeline from `embeddings` + the fixture. */
  private[graft] object PqCbFix {
    private final class Cell(mk: => String) { lazy val dir: String = mk }
    private val built =
      new java.util.concurrent.ConcurrentHashMap[String, Cell]()
    /** Fixture path the generated oracle should read — resolved per the
      * ACTIVE verify dir, never last-write-wins (see [[OracleDir]]). */
    private[graft] def forOracle: Option[String] =
      OracleDir.select(built).map(_.dir)
    def fixture(s: SparkSession, d: String): String =
      built.computeIfAbsent(d, _ => new Cell({
        val dir = java.nio.file.Files
          .createTempDirectory("graft-l53-codebooks").toString
        PqIndex.fitCodebooks(s,
            t(s, d, "embeddings").select(col("vec_id"), col("embedding")))
          .write.mode("overwrite").parquet(dir)
        dir
      })).dir
  }

  /** l20's coarse-quantizer fixture: the fitted centroid table plus the
    * nprobe the lane derived from it (inlined into the generated SQL). */
  private[graft] object IvfCentFix {
    private final class Cell(mk: => (String, Int)) {
      lazy val v: (String, Int) = mk
    }
    private val built =
      new java.util.concurrent.ConcurrentHashMap[String, Cell]()
    /** (centroid path, nprobe) for the generated oracle — resolved per
      * the ACTIVE verify dir (see [[OracleDir]]). */
    private[graft] def forOracle: Option[(String, Int)] =
      OracleDir.select(built).map(_.v)
    def fixture(s: SparkSession, d: String): (String, Int) =
      built.computeIfAbsent(d, _ => new Cell({
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        val e0 = t(s, d, "embeddings")
        val n = e0.select("vec_id").count()
        val k = math.max(4, math.sqrt(n.toDouble).toInt)
        val model = fitKMeansOnSample(
          new KMeans().setK(k).setSeed(42).setMaxIter(8),
          e0.select(col("vec_id"),
            array_to_vector(col("embedding")).as("features")),
          "vec_id", n)
        val dir = java.nio.file.Files
          .createTempDirectory("graft-l20-centroids").toString
        val centers = {
          import s.implicits._
          model.clusterCenters.zipWithIndex.toSeq
            .map { case (v, i) => (i.toLong, v.toArray.map(_.toFloat)) }
            .toDF("cell", "cvec")
        }
        centers.write.mode("overwrite").parquet(dir)
        (dir, math.max(3, k / 3))
      })).v
  }

  /** l66's PCA fixture: the fitted principal axes plus the corpus mean,
    * frozen as ONE parquet table — row j ∈ [0, PcaK) holds axis j's
    * loading vector (eigenvalue-ordered), row j = -1 holds the
    * per-dimension mean. The FIT is the only step DuckDB cannot replay
    * (a distributed covariance pass + a driver-side d×d eigensolve);
    * everything after it — center on the mean, dot against each axis —
    * is deterministic double arithmetic in a pinned left-fold order, so
    * the generated SQL recomputes the projection from `embeddings` +
    * this fixture exactly. */
  private[graft] object PcaFix {
    private final class Cell(mk: => String) { lazy val dir: String = mk }
    private val built =
      new java.util.concurrent.ConcurrentHashMap[String, Cell]()
    private[graft] def forOracle: Option[String] =
      OracleDir.select(built).map(_.dir)
    def fixture(s: SparkSession, d: String): String =
      built.computeIfAbsent(d, _ => new Cell({
        import org.apache.spark.ml.feature.PCA
        import org.apache.spark.ml.functions.array_to_vector
        val feats = t(s, d, "embeddings")
          .select(array_to_vector(col("embedding")).as("features"))
        // the fit's distributed part is ONE pass building the d×d
        // covariance (O(n·d²) work, O(d²) driver state — d is the
        // embedding width, never the corpus); the eigensolve runs on
        // that d×d matrix driver-side. Same one-pass shape for the
        // centering vector.
        val model = new PCA().setInputCol("features").setOutputCol("pc")
          .setK(PcaK).fit(feats)
        val mean = feats.select(
            org.apache.spark.ml.stat.Summarizer.mean(col("features")).as("m"))
          .head().getAs[org.apache.spark.ml.linalg.Vector](0).toArray
        val pc = model.pc // d × k, column-major: column j = axis j
        val rows = (0 until PcaK).map { j =>
          (j, (0 until pc.numRows).map(i => pc(i, j)))
        } :+ (-1 -> mean.toIndexedSeq)
        val dir = java.nio.file.Files
          .createTempDirectory("graft-l66-pca").toString
        val fixDf = { import s.implicits._; rows.toDF("j", "cvec") }
        fixDf.write.mode("overwrite").parquet(dir)
        dir
      })).dir
  }

  /** k-means parameters (l70): 8 centroids, 4 Lloyd iterations over the
    * 64-dim embeddings — the corpus-clustering pre-pass of data-mixing /
    * semantic-sharding pipelines. */
  private[graft] val KmK = 8
  private[graft] val KmIters = 4

  /** l70's k-means fixture: the final centroids after [[KmIters]] Lloyd
    * iterations, frozen as ONE parquet table (cid, cvec). The FIT is the
    * only step DuckDB cannot replay (iterated distributed means);
    * everything after — squared-L2 against each centroid in a pinned
    * left-fold term order, argmin with (dist, cid) tie-break — is
    * deterministic double arithmetic the generated SQL recomputes from
    * `embeddings` + this fixture exactly.
    *
    * SAMPLE-FIT (VERDICT r18 #6, the l20/l37 discipline): past
    * [[FitSampleCap]] corpus rows the Lloyd iterations run over a
    * DETERMINISTIC id-hash sample (`xxhash64(vec_id) % stride == 0`,
    * stride = ceil(n/cap)) instead of the full corpus — k-means
    * centroids are a density summary, and K·d centroids fitted on a
    * content-stable few-thousand-row sample serve the same clustering
    * role while the fit cost goes FLAT in the corpus (one footer count
    * + KmIters passes over ≤~cap rows; the full-corpus version was
    * KmIters × O(n), the exact full-pass habit the repo's own IVF
    * quantizer fit already avoids). The frozen-fixture SERVE half is
    * untouched: assignment of EVERY row stays map-only against the
    * dumped centroid literal, and the generated oracle replays from
    * the fixture, so the lane's hash discipline is independent of how
    * the fit sampled. Init is the [[KmK]] smallest vec_ids OF THE
    * SAMPLE (deterministic); an emptied cluster keeps its previous
    * centroid. Fit cost per iteration: one MAP-ONLY assignment pass
    * (centroids are a k·d literal in the plan — model, not data) plus
    * one partial-agg mean over k·d groups; the k·d collect between
    * iterations is 512 doubles, driver state like PCA's eigensolve. */
  private[graft] object KmFix {
    private final class Cell(mk: => String) { lazy val dir: String = mk }
    private val built =
      new java.util.concurrent.ConcurrentHashMap[String, Cell]()
    private[graft] def forOracle: Option[String] =
      OracleDir.select(built).map(_.dir)

    /** Fit-sample ceiling (rows). Conf-tunable so specs exercise the
      * sampling on test-sized corpora; the default keeps the fit input
      * a driver-friendly few thousand rows at ANY corpus size. */
    private[graft] val FitSampleCapKey = "spark.graft.kmeans.fitSampleCap"
    private[graft] val FitSampleCap = 4096L
    /** Observed fit-input rows of the LAST fixture build (test
      * instrumentation — KmeansSpec pins it under the ceiling). */
    private[graft] val lastFitN =
      new java.util.concurrent.atomic.AtomicLong(-1L)

    /** MAP-ONLY nearest-centroid assignment: per row, fold the squared
      * distance to each centroid (ascending-index term order — the l66
      * discipline) and take the array_min of (dist, cid) structs.
      * private[graft]: the streaming serve arm (StreamJobs) shares it. */
    private[graft] def assign(vecs: DataFrame,
        cents: Seq[(Int, Seq[Double])]): DataFrame =
      vecs.withColumn("cents", typedlit(cents))
        .select(col("vec_id"), col("embedding"),
          expr("array_min(transform(cents, c -> struct(" +
            "aggregate(transform(sequence(0, size(c._2) - 1), " +
            "i -> (CAST(embedding[i] AS DOUBLE) - c._2[i]) * " +
            "(CAST(embedding[i] AS DOUBLE) - c._2[i])), 0D, " +
            "(acc, x) -> acc + x) AS dist, c._1 AS cid)))").as("m"))
        .select(col("vec_id"), col("embedding"),
          col("m.cid").as("cid"), col("m.dist").as("dist"))

    def fixture(s: SparkSession, d: String): String =
      built.computeIfAbsent(d, _ => new Cell({
        val all = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val n = all.count()
        val cap = s.conf.getOption(FitSampleCapKey).map(_.toLong)
          .getOrElse(FitSampleCap)
        val stride = math.max(1L, (n + cap - 1) / cap)
        val sampled = (if (stride == 1L) all
          else all.filter(
            pmod(xxhash64(col("vec_id")), lit(stride)) === 0)).persist()
        val sn = sampled.count()
        // a pathological cap/hash draw short of K seeds falls back to
        // the full corpus — a fixture must always carry KmK centroids
        val vecs = if (sn >= KmK) sampled
          else { sampled.unpersist(); all.persist() }
        lastFitN.set(if (sn >= KmK) sn else n)
        var cents: Seq[(Int, Seq[Double])] = vecs
          .orderBy("vec_id").limit(KmK).collect().zipWithIndex
          .map { case (r, i) =>
            (i, r.getSeq[Float](1).map(_.toDouble).toSeq) }.toSeq
        for (_ <- 0 until KmIters) {
          val means = assign(vecs, cents)
            .select(col("cid"), posexplode(col("embedding"))
              .as(Seq("i", "x")))
            .groupBy("cid", "i")
            .agg(avg(col("x").cast("double")).as("mx"))
            .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
            .groupBy(_._1).map { case (cid, rows) =>
              cid -> rows.sortBy(_._2).map(_._3).toSeq }
          cents = cents.map { case (cid, old) =>
            (cid, means.getOrElse(cid, old)) }
        }
        vecs.unpersist()
        val dir = java.nio.file.Files
          .createTempDirectory("graft-l70-km").toString
        val fixDf = { import s.implicits._; cents.toDF("cid", "cvec") }
        fixDf.write.mode("overwrite").parquet(dir)
        dir
      })).dir
  }

  /** k-means assignment from the frozen fixture (l70): every embedding
    * labeled with its nearest centroid and the squared distance.
    * Sort-free — lanes add their own output order. */
  private def assignFrozen(s: SparkSession, d: String): DataFrame = {
    val cents = s.read.parquet(KmFix.fixture(s, d)).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).sortBy(_._1).toSeq
    KmFix.assign(t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding")), cents)
      .select(col("vec_id"), col("cid"), col("dist"))
  }

  private[operators] def kmeansAssign(s: SparkSession, d: String): DataFrame =
    assignFrozen(s, d).orderBy("vec_id")

  /** Cluster coreset (l71): the 5 embeddings nearest each centroid. */
  private[operators] def kmeansCoreset(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.TopK(5),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    assignFrozen(s, d)
      .groupBy("cid")
      .agg(topk(negate(col("dist")), col("vec_id")).as("nb"))
      .select(col("cid"), posexplode(col("nb")).as(Seq("pos", "hit")))
      .select(col("cid"), (col("pos") + 1).cast("int").as("rnk"),
        col("hit.id").as("vec_id"), negate(col("hit.score")).as("dist"))
      .orderBy("cid", "rnk")
  }

  private[graft] object L54wSigs {
    private final class Cell(mk: => String) { lazy val dir: String = mk }
    private val built =
      new java.util.concurrent.ConcurrentHashMap[String, Cell]()
    /** Fixture path for the generated oracle SQL — resolved per the
      * ACTIVE verify dir (see [[OracleDir]]); when the lane never ran
      * (dev filter), the oracle entry is simply omitted and the driver
      * records the rows-only check. */
    private[graft] def forOracle: Option[String] =
      OracleDir.select(built).map(_.dir)
    def fixture(s: SparkSession, d: String): String =
      built.computeIfAbsent(d, _ => new Cell({
        val dir = java.nio.file.Files
          .createTempDirectory("graft-l54w-sigs").toString
        simhash64Of(t(s, d, "documents").select(col("doc_id"), col("text")))
          .write.mode("overwrite").parquet(dir)
        dir
      })).dir
  }

  /** Hashed-unigram DSIR features: one (doc_id, bucket) row per token,
    * bucket = md5-derived hash into [0, 256) — the shared feature space
    * of the l56 model builder and scorer. */
  private def dsirFeats(docs: DataFrame): DataFrame =
    docs
      .select(docs.columns.map(col) :+
        explode(split(lower(col("text")), " ")).as("tok"): _*)
      .filter(length(col("tok")) > 0)
      .withColumn("bucket",
        expr("CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS BIGINT) % 256"))

  /** The 256-row DSIR model (bucket, lam_fp) from a labeled corpus:
    * λ(b) = ln p_target(b) − ln p_raw(b) with add-one smoothing, target =
    * the `targetLang`-labeled slice, quantized once per bucket to BIGINT
    * fixed point (floor(λ·2^32)) so downstream weight sums are exact
    * integers (see the l56 lane comment). One corpus pass + two tiny
    * count jobs; the result is a broadcast-sized table — persist it or
    * write it to parquet as the standing model. */
  private[graft] def dsirModelOf(docs: DataFrame,
      targetLang: String = "en"): DataFrame = {
    val feats = dsirFeats(docs.select("doc_id", "lang", "text")).persist()
    // model-sizing scalars (two tiny count jobs; the l56 oracle recomputes
    // them as scalar subqueries — integers, so they agree exactly)
    val tR = feats.count()
    val tT = feats.filter(col("lang") === targetLang).count()
    val raw = feats.groupBy("bucket").agg(count(lit(1)).as("rc"))
    val tgt = feats.filter(col("lang") === targetLang)
      .groupBy("bucket").agg(count(lit(1)).as("tc"))
    // λ_fp per bucket over the FULL 256-bucket domain, not just buckets
    // the build corpus happened to populate: the model's consumers score
    // OTHER corpora (the streaming gate), and a scored token hashing to
    // an unmodeled bucket must get the add-one-smoothed unseen-bucket λ
    // — an inner model join would silently drop it (and a doc made
    // entirely of unmodeled buckets would vanish from the gate's output
    // with no record). One fixed expression tree (left-associated adds,
    // same text in the l56 oracle SQL).
    val domain = docs.sparkSession.range(256)
      .select(col("id").cast("long").as("bucket"))
    val lam = domain
      .join(raw, Seq("bucket"), "left")
      .join(tgt, Seq("bucket"), "left")
      .select(col("bucket"), expr(
        s"""CAST(floor((ln(coalesce(tc, 0) + 1) - ln(${tT}L + 256)
           | - ln(coalesce(rc, 0) + 1) + ln(${tR}L + 256)) * 4294967296.0) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("lam_fp"))
      .persist()
    lam.count() // materialize before the features cache is released
    feats.unpersist()
    lam
  }

  /** Exact-integer DSIR weight per document of `docs` (doc_id, text ...)
    * against a standing (bucket, lam_fp) model: weight_fp =
    * Σ_b c_d(b)·λ_fp(b) — one partial-agg groupBy + a broadcast model
    * join, the scoring pass a 100 TB corpus or a streaming micro-batch
    * runs without touching the model-build corpus. */
  private[graft] def dsirScore(docs: DataFrame, lam: DataFrame): DataFrame =
    dsirFeats(docs.select("doc_id", "text"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
      .join(broadcast(lam), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("c") * col("lam_fp")).as("weight_fp"))

  /** Fit a configured KMeans on a content-deterministic sample of at most
    * `cap` rows, never the full frame — the 100 TB shape for every
    * quantizer in this file (l20 IVF, l42 SemDeDup): k-means only needs a
    * density sketch to place centroids, so the O(iters × n × k) fit cost
    * must stay bounded while `model.transform` (a shuffle-free map) still
    * assigns the FULL corpus. The sample is a hash filter on the id —
    * no RNG, no partition-layout dependence, so the model (and every
    * lane built on it) is reproducible run-to-run and cluster-to-laptop.
    * Below `cap` rows it degenerates to a full fit (bit-identical lanes
    * at test scale). */
  private[operators] def fitKMeansOnSample(
      km: org.apache.spark.ml.clustering.KMeans, feats: DataFrame,
      idCol: String, n: Long, cap: Long = 100000L)
      : org.apache.spark.ml.clustering.KMeansModel = {
    val fitSet =
      if (n <= cap) feats
      else {
        val denom = 1000000L
        val keep = math.max(1L, (cap * denom) / n)
        feats.filter(pmod(xxhash64(col(idCol)), lit(denom)) < keep)
      }
    km.fit(fitSet)
  }

  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsOf(t(s, d, "documents"))

  /** a<b pairs (a, b) of the `id` values that share a `bucket` key:
    * group `rows` by the bucket, keep each bucket's sorted distinct ids
    * when it holds two or more, and expand them — the shared in-bucket
    * expansion of every one-shuffle candidate generator (minhashPairsOf
    * and l12, l55's prefix postings, j13's deletion variants, and the
    * SimHash band screen; r19 discipline). `id` may be a struct column:
    * pairs then carry the whole struct, ordered by its first field. An
    * empty `bucket` treats all rows as one bucket.
    *
    * Shape (r20): TWO stacked Generates — posexplode the bucket's ids,
    * then explode each id's tail slice. Per-row state is O(|bucket|)
    * (the ids array itself), where the r19 flatten(transform(transform))
    * form materialized the ENTIRE |bucket|²/2 pair array as one value
    * before the Generate could stream it: a duplicate-heavy bucket (the
    * 100 TB hot-key case) hit task OOM / the JVM array cap there, while
    * this shape streams pairs row-by-row exactly as the old self-join
    * did (HotBucketSpec pins a 2·10⁸-pair bucket completing). A
    * degenerate bucket still COSTS |bucket|² output rows in one task —
    * that is the operator's exact semantics; capping or salting away
    * cross-chunk pairs would change the declared result. */
  private[graft] def pairsInBucket(rows: DataFrame, bucket: Seq[String],
      id: Column): DataFrame =
    rows.groupBy(bucket.map(col): _*)
      .agg(sort_array(collect_set(id)).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("b"))

  /** MinHash-LSH candidate pairs (a < b) over an arbitrary (doc_id,
    * text) frame — l2's screen as a reusable stage (the l57 pipeline
    * runs it over dedup survivors, not the raw table; Bench's l2 lane
    * times exactly this operator). */
  private[graft] def minhashPairsOf(docs: DataFrame): DataFrame =
    minhashBucketPairs(minhashSigs(docs))

  /** Candidate pairs from (doc_id, b, sig) signature rows, deduped
    * across bands. ONE shuffle of the signature rows (r19, the l55/j13
    * discipline): group doc ids per (band, sig) bucket and expand a<b
    * pairs in-group — the self-join shuffled the signature table twice
    * and built join hash tables for the same bucket rows. Per-group
    * state is the LSH bucket's membership list, exactly the row set one
    * join key held. (r20: the pair stage is the signatures' ONE
    * consumer, so no persist barrier guards them.) */
  private[operators] def minhashBucketPairs(sigs: DataFrame): DataFrame =
    pairsInBucket(sigs, Seq("b", "sig"), col("doc_id")).distinct()

  /** BPE tokenizer TRAINING (Sennrich et al. 2016): merge rounds over the
    * corpus word-frequency table. Each round is two distributed jobs —
    * count adjacent symbol pairs (explode + partial-agg sum) and rewrite
    * the symbol arrays with the winning merges — plus a bounded collect of
    * the top pair counts (model scalars for the round; ties broken
    * lexicographically so the learned merges are deterministic across
    * runs, partitionings, and engines). State per round is the persisted
    * word table, bounded by |vocab|, not corpus size: the corpus is read
    * once to build word frequencies, never again. At 100 TB the collected
    * rows and the k-row merge table are exactly the driver state a
    * tokenizer trainer must hold — the model itself.
    *
    * `batch` = merges adopted per round (standard batched-BPE
    * approximation, m≈√k is a good default): the top-m pairs that are
    * mutually SYMBOL-DISJOINT (no element shared, no element equal to
    * another chosen merge's output) are applied in one rewrite pass.
    * Disjointness means each adopted pair's count is exactly what the
    * sequential trainer would have seen, and the one-pass rewrite equals
    * the m sequential rewrites; the approximation is only that a pair
    * FORMED by an earlier merge in the same round cannot be adopted until
    * the next round. batch=1 IS the sequential algorithm (QueriesSpec
    * pins it ≡ an in-test reference trainer); the driver loop runs
    * O(k/batch) rounds — 2 jobs per ROUND, not per merge, which is what
    * makes a 32k-merge vocab tractable (≈720 jobs at m=√32k instead of
    * 64k). */
  def bpeTrain(docs: DataFrame, k: Int, batch: Int = 1): DataFrame = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val spark = docs.sparkSession
    import spark.implicits._
    // apply a ranked batch of pair merges, each left-to-right
    // non-overlapping ("aaa" + (a,a) → [aa, a])
    def mergeUdf(batchMerges: Seq[(String, String)]) =
      udf((syms: Seq[String]) => {
        var cur: Seq[String] = syms
        batchMerges.foreach { case (a, b) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < cur.length) {
            if (i + 1 < cur.length && cur(i) == a && cur(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += cur(i); i += 1 }
          }
          cur = out.toSeq
        }
        cur
      })
    // eager localCheckpoint rather than persist: each round rewrites the
    // word table, and nested InMemoryRelations accumulate the WHOLE chain
    // of prior rounds in every plan — at a 32k-merge vocab the plan
    // string alone OOMs the driver. Checkpointing truncates lineage to a
    // LogicalRDD, so round r's plans are the same size as round 1's
    // (the components() lesson, dropCheckpoint scaladoc above).
    var words = docs
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(concat(split(col("w"), ""), array(lit("</w>"))).as("syms"),
        col("freq"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var r = 1
    var done = false
    while (r <= k && !done) {
      val want = math.min(batch, k - r + 1)
      // headroom over `want`: incompatible candidates are skipped, not
      // adopted — rather wait a round than violate disjointness
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(syms[i-1] AS a, syms[i] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(math.max(4 * want, 16)).collect()
      if (top.isEmpty) done = true
      else {
        val used = scala.collection.mutable.Set[String]()
        val chosen = scala.collection.mutable.ArrayBuffer[(String, String)]()
        top.iterator.foreach { row =>
          val (a, b) = (row.getString(0), row.getString(1))
          if (chosen.size < want && !used(a) && !used(b) && !used(a + b)) {
            chosen += ((a, b))
            used ++= Seq(a, b, a + b)
            merges += ((r.toLong, a, b, row.getLong(2)))
            r += 1
          }
        }
        val next = words
          .withColumn("syms", mergeUdf(chosen.toSeq)(col("syms")))
          .localCheckpoint(true) // eager: materialized now, lineage cut
        dropCheckpoint(words)
        words = next
      }
    }
    dropCheckpoint(words)
    merges.toSeq.toDF("rank", "left", "right", "cnt")
      .select(col("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("cnt"))
      .orderBy("rank")
  }

  /** BPE ENCODING with a learned merge table (the apply half of l40,
    * subword-nmt semantics: merges applied in rank order, each a
    * left-to-right non-overlapping rewrite). The merge table is k rows —
    * broadcast by closure capture into one UDF; encoding is a pure per-row
    * map, shuffle-free at any corpus size. */
  /** Frozen merge table for the l41 encode lane. Ordered (application
    * order is part of the tokenizer): th/the/the</w> chain across rules,
    * an/and chains, e</w> and s</w> pick up common suffixes AFTER the
    * "the" chain has consumed its share — the oracle replays the same
    * eight rules in the same order. */
  private[operators] val FixedBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("the", "</w>"), ("i", "n"),
    ("a", "n"), ("an", "d"), ("e", "</w>"), ("s", "</w>"))

  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val encodeUdf = udf((word: String) => {
      var syms: Vector[String] = word.map(_.toString).toVector :+ "</w>"
      merges.foreach { case (a, b) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toVector
      }
      syms.length
    })
    docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(encodeUdf(col("w"))).as("n_bpe_tokens"),
        sum(length(col("w")) + 1).as("n_chars_eow"))
      .withColumn("compression",
        col("n_chars_eow").cast("double") / col("n_bpe_tokens").cast("double"))
      .orderBy("doc_id")
  }

  /** The cached blocks behind an eagerly-localCheckpoint'ed DataFrame
    * (its analyzed plan is a single LogicalRDD over the checkpointed
    * RDD). Used to RELEASE superseded rounds of an iterative loop, and a
    * streaming micro-batch's checkpoints once the batch has committed —
    * without this, every round's labels (every batch's frames) stay in
    * the block manager for the rest of the session. Unpersisting makes
    * the DataFrame unusable (localCheckpoint truncates lineage), so only
    * ever call it on a frame nothing references anymore. */
  private[graft] def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Connected components over undirected pair edges (a, b) by
    * distributed min-label propagation: one shuffle join + one
    * partial-aggregated min per round, isEmpty convergence probe.
    * Returns (v, lab) for every vertex that appears in a pair; lab = min
    * vertex id in the component. Converges in O(component diameter)
    * rounds — shallow for dup clusters (clique unions). */
  private[operators] def components(pairs: DataFrame): DataFrame = {
    // localCheckpoint (eager) rather than persist: it TRUNCATES the
    // logical plan. Each round references the previous labels twice
    // (join + union), so without truncation the plan tree doubles per
    // round — on a chain-shaped component (cosine edges aren't
    // transitive) the loop runs deep and planning/plan-description cost
    // goes exponential long before the data does. The standard fix for
    // iterative algorithms on DataFrames.
    val p = pairs.toDF("a", "b").localCheckpoint(true)
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lab"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < 50) {
      val prop = edges.join(labels, col("dst") === col("v"))
        .select(col("src").as("v"), col("lab"))
        .union(labels)
        .groupBy("v").agg(min("lab").as("lab"))
        .localCheckpoint(true)
      converged = labels
        .join(prop.withColumnRenamed("lab", "nl"), "v")
        .filter(col("nl") =!= col("lab"))
        .isEmpty
      // the superseded round's blocks are dead weight from here on —
      // release them (blocks, not just plan refs) or 50 rounds of
      // labels accumulate in the block manager for the session
      dropCheckpoint(labels)
      labels = prop
      iter += 1
    }
    dropCheckpoint(p)
    dropCheckpoint(edges)
    labels
  }

  /** (doc_id, cluster_id) for every document: minhash near-dup candidate
    * pairs grouped by components(); cluster_id = min doc_id in the
    * component (the canonical survivor); singletons map to themselves. */
  private def dedupClusters(s: SparkSession, d: String): DataFrame = {
    // persist inside components(): both edge directions read the pairs,
    // and the candidate join they wrap is the expensive subtree (same
    // ReuseExchange limitation as the l2 signature persist)
    val labels = components(minhashPairs(s, d))
    t(s, d, "documents").select(col("doc_id"))
      .join(labels, col("doc_id") === col("v"), "left")
      .select(col("doc_id"),
        coalesce(col("lab"), col("doc_id")).as("cluster_id"))
  }

  /** PageRank centrality by distributed power iteration: each round is
    * one equi-join (edge ⋈ rank) + one partial-aggregated sum — the same
    * shuffle shape as l21's label propagation, damping 0.85, k fixed
    * rounds. Runs over the o9 hierarchy graph (undirected customer tree:
    * k ↔ 2k, 2k+1) rather than the near-dup graph: near-dup candidates
    * form CLIQUE unions, every component is regular, and PageRank on a
    * regular graph is exactly uniform — nothing to rank. The tree is
    * non-regular (leaf deg 1, internal deg 3), so centrality genuinely
    * orders nodes.
    *
    * The arithmetic is exact fixed-point BIGINT at SCALE = 10^12: a
    * node's per-edge contribution is `rank_fp div deg`, damping applies
    * as `(85·mass) div 100`, and the damping-floor constant is computed
    * once on the driver — every operation is integer, so BIGINT sums are
    * independent of partitioning/summation order and the lane is fully
    * DuckDB-oracle-checkable (the earlier double formulation could
    * never cross-engine hash-match: float summation order varies with
    * the physical plan). Ranks differ from true float PageRank by
    * < one part in 10^9 (floor losses are ≤ 1 unit per division). */
  private[operators] def pagerank(s: SparkSession, d: String,
      iters: Int = 8): DataFrame = {
    val keys = t(s, d, "customer").select(col("c_custkey").as("k"))
    val down = keys.select(col("k").as("src"), (col("k") * 2).as("dst"))
      .union(keys.select(col("k").as("src"), (col("k") * 2 + 1).as("dst")))
      .join(keys.select(col("k").as("dst")), Seq("dst"), "left_semi")
      .filter(col("src") >= 1)
      // a USING join moves the join column first — re-fix the order, or
      // the positional union below silently swaps src and dst
      .select("src", "dst")
    val edges = down
      .union(down.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    val n = deg.count()
    val init = PrScale / n          // floor(SCALE / n)
    val base = PrScale * 15 / 100 / n // floor(0.15·SCALE / n): damping floor
    var ranks = deg.select(col("src").as("v"), lit(init).as("rank_fp"))
      .persist()
    for (_ <- 1 to iters) {
      val next = edges.join(deg, "src")
        .join(ranks, col("src") === col("v"))
        .select(col("dst"), expr("rank_fp div deg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("in_mass"))
        .select(col("dst").as("v"),
          (lit(base) + expr("in_mass * 85 div 100")).as("rank_fp"))
        .persist()
      ranks.unpersist()
      ranks = next
    }
    ranks.join(deg, col("v") === col("src"))
      .select(col("v").as("node_id"), col("rank_fp"), col("deg"))
      .orderBy(desc("rank_fp"), col("node_id"))
  }

  /** Fixed-point scale for [[pagerank]]: 10^12 rank units = mass 1.0. */
  private[operators] val PrScale = 1000000000000L

  /** PQ parameters: 8 subspaces × 16 codewords over 64-dim embeddings —
    * 8 small codes per vector (≈32× compression vs 64 float32s). */
  private[graft] val PqM = 8
  private[graft] val PqK = 16
  /** ADC candidates kept per probe for the exact re-rank. */
  private[operators] val PqRerank = 50

  /** PCA parameters (l66): 8 principal axes over the 64-dim embeddings
    * (an 8× compression), projected for the standard probe slice. */
  private[graft] val PcaK = 8
  private[operators] val PcaProbes = 200

  /** Product-quantization kNN (see the l53 lane comment): the PqIndex
    * frame functions composed inline — the codebook fit comes from the
    * [[PqCbFix]] parquet fixture (fitted once per process+dir, read
    * back so the l53 generated oracle replays EXACTLY the model the
    * lane served), then nearest-codeword encode, ADC scan, bounded
    * exact re-rank for the ten standard probes. The standing-index form
    * of the same computation is PqIndex.build/queryProbes (NearDupSpec
    * pins stored ≡ inline). */
  private[operators] def annPq(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val vecs = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding")).persist()
    val cb = s.read.parquet(PqCbFix.fixture(s, d))
    val subDim = cb.select(size(col("cvec"))).first().getInt(0)
    val codes = PqIndex.encode(cb, subDim, vecs).persist()
    codes.count()
    PqIndex.scoreProbes(s, cb, codes, vecs,
      vecs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv")), 5)
  }

  /** PCA projection (l66): center each embedding on the corpus mean and
    * dot it against the k fitted principal axes — the embedding-
    * compression pre-pass of a 100 TB pipeline (store k doubles per row
    * instead of d floats before ANN indexing / clustering / semantic
    * dedup). The fit is frozen in [[PcaFix]]; the projection itself is
    * MAP-ONLY — no join, no shuffle: the axes and the mean are
    * dim-bounded literals ((PcaK+1)·64 = 576 doubles — the model, not
    * data) exploded per row, and each output value is one pinned
    * left-fold dot product the generated oracle replays term-for-term. */
  private[operators] def pcaProject(s: SparkSession, d: String): DataFrame =
    pcaProjectImpl(s, d, Some(PcaProbes))

  /** Full-corpus PCA projection — the ScaleBench probe form: the same
    * map-only plan as l66 WITHOUT the oracle's probe bound, so the K×
    * scale ratio measures the projection term over the whole embeddings
    * table. The fit stays out of timed sweeps (PcaFix caches the
    * fixture per dir; the warmup sweep pays it once, like
    * ServeIndexes) — the fit is the lane's only O(n·d²) term and is
    * amortized per corpus, not per query. */
  def pcaProjectCorpus(s: SparkSession, d: String): DataFrame =
    pcaProjectImpl(s, d, None)

  private def pcaProjectImpl(s: SparkSession, d: String,
      bound: Option[Int]): DataFrame = {
    val fix = s.read.parquet(PcaFix.fixture(s, d)).collect()
    val mean: Seq[Double] =
      fix.find(_.getInt(0) == -1).get.getSeq[Double](1)
    val axes: Seq[(Int, Seq[Double])] = fix.filter(_.getInt(0) >= 0)
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val base = t(s, d, "embeddings")
    bound.fold(base)(b => base.filter(col("vec_id") < b))
      .select(col("vec_id"), col("embedding"), typedlit(mean).as("m"),
        explode(typedlit(axes)).as("ax"))
      .select(col("vec_id"), col("embedding"), col("m"),
        col("ax._1").as("j"), col("ax._2").as("c"))
      .select(col("vec_id"), col("j"),
        expr("aggregate(transform(sequence(0, size(m) - 1), " +
          "i -> (CAST(embedding[i] AS DOUBLE) - m[i]) * c[i]), 0D, " +
          "(acc, x) -> acc + x)").as("pc"))
      .orderBy("vec_id", "j")
  }

  /** DuckDB replay of the fixed-point PageRank: the k power-iteration
    * rounds unroll into chained CTEs (pr1..prK), each one the same
    * edge-join + floor-division + integer-damped sum as the Spark round.
    * BIGINT arithmetic makes the replay exact — `//` (DuckDB floor div)
    * ≡ `div` (Spark integral div) on the all-positive domain. DuckDB
    * SUM(BIGINT) widens to HUGEINT, so each round casts back. */
  private def l33OracleSql: String = {
    val iters = 8
    val head =
      s"""WITH keys AS (SELECT c_custkey AS k FROM customer),
         |down AS (
         |  SELECT src, dst FROM (
         |    SELECT k AS src, k * 2 AS dst FROM keys
         |    UNION ALL
         |    SELECT k AS src, k * 2 + 1 AS dst FROM keys) d
         |  WHERE src >= 1 AND dst IN (SELECT k FROM keys)),
         |edges AS (SELECT src, dst FROM down
         |          UNION ALL SELECT dst AS src, src AS dst FROM down),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |prm AS (SELECT CAST($PrScale // COUNT(*) AS BIGINT) AS init,
         |               CAST(${PrScale * 15 / 100} // COUNT(*) AS BIGINT) AS base
         |        FROM deg),
         |pr0 AS (SELECT src AS v, init AS rank_fp FROM deg, prm)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |pr$i AS (
         |  SELECT e.dst AS v,
         |    (SELECT base FROM prm)
         |      + CAST(SUM(p.rank_fp // dg.deg) AS BIGINT) * 85 // 100 AS rank_fp
         |  FROM pr${i - 1} p
         |  JOIN edges e ON e.src = p.v
         |  JOIN deg dg ON dg.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString
    val tail =
      s"""
         |SELECT p.v AS node_id, CAST(p.rank_fp AS BIGINT) AS rank_fp, d.deg
         |FROM pr$iters p JOIN deg d ON d.src = p.v
         |ORDER BY p.rank_fp DESC, node_id""".stripMargin
    head + rounds + tail
  }

  val queries: Map[String, Q] = Map(
    // Q-L1: exact dedup by content hash (CAS for rows). Keeps the smallest
    // doc_id per hash group — a deterministic survivor, unlike
    // dropDuplicates' arbitrary pick.
    "l1_exact_dedup" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy(sha2(col("text"), 256).as("text_sha"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
        .orderBy("text_sha")
    }),

    // Q-L2: near-dup candidates via MinHash-LSH: 5-gram word shingles,
    // 4 bands, signature = min md5 per band; candidate pair = same
    // (band, signature) bucket. The join is on the bucket key — at 100 TB
    // this shuffles |docs|·|bands| signature rows, never pairs.
    "l2_minhash_lsh" -> ((s, d) => minhashPairs(s, d).orderBy("a", "b")),

    // Q-L3: brute-force cosine top-5 for 10 probe vectors. Probe side is
    // broadcast (10 rows); ranking is a bounded-heap TopK Aggregator —
    // partial aggregation reduces each partition to ≤5 candidates per probe
    // before the shuffle, so no task ever sorts a probe's full candidate
    // set (the row_number-over-10-keys plan was a single-task scale-killer;
    // VERDICT r2 #3). Cosine is computed with a sequential fold so DuckDB's
    // list_reduce reproduces the exact double.
    "l3_knn_cosine" -> ((s, d) => {
      graft.functions.VectorExpressions.register(s)
      val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val topk = udaf(new graft.functions.TopK(5),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      broadcast(probes)
        .join(e, col("probe_id") =!= col("vec_id"))
        // fused single-pass kernel — bit-identical to the fold/(norm·norm)
        // formulation DuckDB mirrors (VectorExprSpec proves parity)
        .withColumn("cos", expr("cosine_f32(pv, embedding)"))
        .groupBy("probe_id")
        .agg(topk(col("cos"), col("vec_id")).as("nb"))
        .select(col("probe_id"), posexplode(col("nb")).as(Seq("pos", "hit")))
        .select(col("probe_id"), (col("pos") + 1).cast("int").as("rnk"),
          col("hit.id").as("neighbor_id"), col("hit.score").as("sim"))
        .orderBy("probe_id", "rnk")
    }),

    // Q-L4: token statistics per language.
    "l4_token_stats" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tokens"))
        .orderBy("lang")
    }),

    // L6: language-ID heuristic — stopword-marker scoring. Deterministic
    // argmax with fixed precedence; 'und' when no marker hits.
    "l6_langid" -> ((s, d) => {
      def score(tk: Column, words: Seq[String]): Column =
        size(filter(tk, w => w.isin(words: _*))).cast("long")
      val base = t(s, d, "documents")
        .withColumn("tk", split(lower(col("text")), " "))
        .withColumn("en_s", score(col("tk"), Seq("the", "a", "of")))
        .withColumn("de_s", score(col("tk"), Seq("der", "die", "das")))
        .withColumn("fr_s", score(col("tk"), Seq("le", "la", "et")))
        .withColumn("es_s", score(col("tk"), Seq("el", "los", "y")))
      base.select(
          col("doc_id"),
          when(col("en_s") >= col("de_s") && col("en_s") >= col("fr_s") &&
               col("en_s") >= col("es_s") && col("en_s") > 0, "en")
            .when(col("de_s") >= col("fr_s") && col("de_s") >= col("es_s") &&
                  col("de_s") > 0, "de")
            .when(col("fr_s") >= col("es_s") && col("fr_s") > 0, "fr")
            .when(col("es_s") > 0, "es")
            .otherwise("und").as("pred_lang"),
          col("en_s"), col("de_s"), col("fr_s"), col("es_s"))
        .orderBy("doc_id")
    }),

    // L52: classifier EVALUATION — the confusion matrix + per-class recall
    // of the l6 language-ID heuristic against the gold `lang` column: the
    // standard calibrate-before-you-filter step of every pipeline that
    // gates data on a model's prediction (a quality/langid cut is only as
    // good as its measured error profile). Counts are exact integers; the
    // recall fraction is ONE division of identical cross-engine operands.
    // At 100 TB: two hash aggregations over (gold, pred) — the matrix is
    // |langs|² rows, the corpus is read once through l6's scorer.
    "l52_langid_eval" -> ((s, d) => {
      val pred = queries("l6_langid")(s, d).select(col("doc_id"), col("pred_lang"))
      val gold = t(s, d, "documents").select(col("doc_id"), col("lang"))
      val conf = gold.join(pred, "doc_id")
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      val totals = conf.groupBy("lang").agg(sum(col("n")).as("gold_total"))
      conf.join(totals, "lang")
        .select(col("lang"), col("pred_lang"), col("n"), col("gold_total"),
          (col("n").cast("double") / col("gold_total").cast("double")).as("frac"))
        .orderBy("lang", "pred_lang")
    }),

    // L7: quality scoring — length / punctuation / stopword-ratio heuristics.
    "l7_quality" -> ((s, d) => {
      val tk = split(lower(col("text")), " ")
      val nTok = size(tk).cast("long")
      val stops = size(filter(tk, w => w.isin("the", "a", "of", "and", "to"))).cast("long")
      val punct = (length(col("text")) -
        length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("long")
      val stopRatio = stops.cast("double") / nTok
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), nTok.as("n_tokens"),
          punct.as("punct_cnt"), stopRatio.as("stop_ratio"),
          when(col("n_chars").between(100, 5000) && nTok >= 20, "keep")
            .otherwise("drop").as("quality"))
        .orderBy("doc_id")
    }),

    // L8: document fingerprinting — md5 over whitespace-normalized text;
    // groups share a fingerprint iff normalized content matches.
    "l8_fingerprint" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy(md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
        .orderBy("fp")
    }),

    // L9: SimHash (32-bit) — per-token md5-derived hash, per-bit majority
    // vote. Expressed relationally (explode bits) for oracle parity; the
    // scale path is the same plan with partial aggregation per (doc, bit).
    "l9_simhash" -> ((s, d) => simhashDf(s, d).orderBy("doc_id")),

    // L54: SimHash NEAR-DUP JOIN — the Hamming-radius companion of l9
    // (Charikar 2002 / Manku et al. 2007, the Google web-crawl dedup
    // design): pairs within Hamming distance ≤ 3 of each other's 32-bit
    // SimHash. The screen is the pigeonhole band trick of Manku §3: split
    // the 32 bits into 4 bands of 8 — a pair differing in ≤ 3 bits leaves
    // at least one band UNTOUCHED, so every true pair shares an exact
    // (band, byte) key and the self-join is a plain equi join on that key,
    // O(Σ bucket²) with 2^8 buckets per band, never O(n²). The exact
    // bit_count(xor) verify then erases the band collisions that differ in
    // > 3 bits — screening is provably COMPLETE, so the banded plan is
    // hash-identical to the brute-force DuckDB oracle. Where l2/l10 answer
    // set-similarity (MinHash on shingles, cosine on embeddings), SimHash
    // Hamming answers weighted-feature similarity with a 4-byte signature —
    // the cheapest standing near-dup key a 100 TB crawl can keep per doc.
    "l54_simhash_neardup" -> ((s, d) =>
      // the shared one-shuffle band screen at 4×8 bits: the signatures
      // compute exactly once in-plan (single consumer)
      simhash64BandScreen(simhashDf(s, d), bandBits = 8).orderBy("a", "b")),

    // L54W: l54 at the 64-bit signature width with 4×16-bit bands — the
    // variant a real crawl runs (65,536 buckets per band instead of 256:
    // the K=100 probes measured ratio/K 0.092 vs the 32-bit lane's 0.281,
    // because band-bucket density is the one super-linear term in the
    // screen). Same radius-3 pigeonhole completeness. The signature hash
    // is JVM xxhash64 (no DuckDB twin), so the oracle is generated from
    // the engine's own signature fixture — see L54wSigs — and replays the
    // brute-force Hamming join over it.
    "l54w_simhash64" -> ((s, d) =>
      simhash64BandScreen(s.read.parquet(L54wSigs.fixture(s, d)))
        .orderBy("a", "b")),

    // L55: EXACT all-pairs Jaccard join (τ = 3/5) by prefix filtering —
    // the AllPairs/PPJoin family (Bayardo et al. 2007, Xiao et al. 2008):
    // where l2's MinHash answers set similarity APPROXIMATELY with a
    // fixed-size signature, this is the exact counterpart for when recall
    // guarantees matter (legal dedup, eval decontamination audits). The
    // similarity unit is the distinct 5-gram shingle set (l2/l12's);
    // shingles get a global canonical order (rarest first: ascending
    // document frequency, text tiebreak); each doc indexes only its
    // PREFIX — the first |d| − ⌈τ·|d|⌉ + 1 shingles — because two sets with
    // |A∩B| ≥ ⌈τ·|A|⌉ provably share a prefix token. Candidates come from
    // an equi self-join on the prefix token (rare tokens → tiny postings →
    // O(Σ posting²) bounded, never O(n²)); the exact intersection count
    // then keeps only true pairs, so the screened plan hash-matches the
    // brute-force oracle. All threshold arithmetic is integer-exact:
    // ⌈3n/5⌉ = (3n+4) DIV 5 and the final test 5·∩ ≥ 3·(|A|+|B|−∩) — no
    // float ever decides membership; the reported jaccard is one division
    // of identical BIGINT operands, rounded after.
    "l55_allpairs_jaccard" -> ((s, d) => {
      // distinct 5-gram shingle set per doc (l2/l12's similarity unit —
      // unigram sets over a bounded vocabulary saturate: EVERY pair of
      // this fixture's docs exceeds τ on shared single words, a 57%-dense
      // O(n²) output no algorithm could make sparse), shared by the
      // order/size/verify passes
      val toks = shingleRows(t(s, d, "documents"), distinctPerDoc = true)
        .withColumnRenamed("sh", "tok")
        .persist()
      toks.count()
      val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      // set size n rides the SAME doc_id window pass as the prefix rank
      // (r19): the former separate sizes agg + join re-shuffled toks a
      // third time for a count the window partition already holds
      val prefix = toks.join(dfreq, "tok")
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
        .filter(col("rn") <= expr("n - ((3 * n + 4) DIV 5) + 1"))
        .select("tok", "doc_id")
      // candidate pairs from ONE shuffle of the prefix rows (r19, the
      // j13 discipline): group posting ids per prefix token and expand
      // a<b pairs in-group — the former self-join evaluated the whole
      // dfreq-join + window prefix pipeline once PER SIDE. Per-group
      // state is the token's posting list: prefix tokens are
      // rarest-first by construction, so postings stay short — and the
      // self-join emitted the same |posting|² rows per token anyway.
      // two stacked Generates, not flatten(transform(transform)) (r20):
      // per-row state stays O(|posting|), never the materialized
      // |posting|² pair array — see pairsInBucket's shape note
      val cands = pairsInBucket(prefix, Seq("tok"), col("doc_id")).distinct()
      // exact verify via per-doc sorted shingle ARRAYS (r19): the former
      // cands ⋈ toks(a) ⋈ toks(b) → groupBy(a,b) exploded every candidate
      // pair to its full token lists and re-aggregated — a (pairs ×
      // tokens)-row shuffle. One row per doc is bounded by that doc's own
      // shingle count at any corpus size; array_intersect runs the
      // intersection inside the pair row, and n_a/n_b fall out of the
      // same frame (no sizes joins).
      val docArr = toks.groupBy("doc_id")
        .agg(sort_array(collect_list(col("tok"))).as("ta"),
          count(lit(1)).as("n"))
      cands
        .join(docArr.select(col("doc_id").as("a"), col("ta").as("taa"),
          col("n").as("n_a")), "a")
        .join(docArr.select(col("doc_id").as("b"), col("ta").as("tab"),
          col("n").as("n_b")), "b")
        .withColumn("n_common",
          size(array_intersect(col("taa"), col("tab"))).cast("long"))
        .filter(col("n_common") * 5 >= (col("n_a") + col("n_b") - col("n_common")) * 3)
        .select(col("a"), col("b"), col("n_common"),
          col("n_a"), col("n_b"),
          round(col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")), 4).as("jaccard"))
        .orderBy("a", "b")
    }),

    // L56: DSIR importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling") — the data-selection
    // op behind domain-matched pretraining mixes: score every raw doc by
    // how much more likely a TARGET domain's hashed-n-gram language model
    // finds it than the RAW corpus's model. Target = the labeled-'en'
    // slice; features = unigrams hashed into 256 md5-derived buckets
    // (the paper's hashed n-gram generative model); per-bucket
    // log-likelihood ratio λ(b) = ln p_target(b) − ln p_raw(b) with
    // add-one smoothing; per-doc log importance weight = Σ_b c_d(b)·λ(b).
    // Cross-engine exactness rides the l33 fixed-point discipline: λ is
    // computed ONCE per bucket as one fixed tree of identical IEEE ops
    // and quantized to BIGINT (λ_fp = floor(λ·2^32) — a 256-row model
    // table), so every per-doc weight is an exact INTEGER sum,
    // independent of partitioning/summation order, and the lane is fully
    // DuckDB-oracle-checked. Honest scope: +,−,×,/ are IEEE-pinned but
    // ln() is not — a libm whose last ulp differs from the JVM's could
    // flip a floor() by one unit (verified to agree on the gate host;
    // everything downstream of λ_fp is exact integers regardless, and a
    // production deployment would persist the λ table once rather than
    // recompute it per engine). At 100 TB: the model is a 256-row broadcast
    // table built in one corpus pass; scoring is one partial-agg groupBy
    // per doc — the same shape as l39's bigram scorer. (The paper
    // resamples by weight + Gumbel noise; selection here is the
    // deterministic weight>0 cut — docs more target-like than raw-like —
    // keeping the lane RNG-free and engine-portable.)
    "l56_dsir_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      dsirScore(docs, dsirModelOf(docs))
        .select(col("doc_id"), col("weight_fp"),
          when(col("weight_fp") > 0, 1L).otherwise(0L).as("keep"),
          // + 0.0 canonicalizes IEEE −0.0 (a tiny negative weight rounded
          // to zero keeps its sign bit, and the engines render it
          // differently) to +0.0; every other value is unchanged
          (round(col("weight_fp").cast("double") / 4294967296.0, 4) + 0.0)
            .as("log_weight"))
        .orderBy("doc_id")
    }),

    // L57: THE pipeline — the full corpus-curation user journey as ONE
    // DataFrame chain, the composition every per-stage lane exists to
    // serve: quality gate (l7's keep rule) → exact dedup (l1, min-id
    // survivor) → MinHash near-dup drop (l2's bands; the larger id of
    // each candidate pair drops — the pairwise survivor policy; l21's
    // component canonicals are the cluster-exact alternative) →
    // benchmark decontamination (l26's 8-gram overlap vs the doc_id<50
    // eval set, eval side broadcast) → stratified split (l48's
    // content-hash rule) → sequence packing of the train split (l27's
    // bucketed global cumsum). Per-doc output: every surviving doc with
    // its split, token count, and (train only) packed start offset/bin.
    //
    // At 100 TB each stage keeps its per-lane scale shape: hash aggs and
    // semi/anti joins shuffle once on their keys; the LSH screen
    // shuffles |docs|×|bands| signature rows, never pairs; the eval
    // shingle set broadcasts; packing is the two-pass bucket cumsum (no
    // global window). Stages pipeline inside one plan — the checkpoint
    // boundaries are exactly the frames ≥2 stages re-read (survivors,
    // signatures via minhashPairsOf).
    "l57_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      // the eval benchmark is external, fixed: doc_id < 50; the
      // training corpus is everything else
      val corpus = docs.filter(col("doc_id") >= 50)
      // stage 1: quality gate (l7 rule)
      val q = corpus.filter(col("n_chars").between(100, 5000) &&
        size(split(lower(col("text")), " ")) >= 20)
      // stage 2: exact dedup — min doc_id per content hash survives
      val keepIds = q.groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      // eager localCheckpoint (not persist): the two downstream readers
      // re-use the materialized survivors, and the blocks release via the
      // ContextCleaner when the plan is GC'd — no pinned cache per call.
      // r19: narrowed to (doc_id, text) — every downstream stage reads
      // only those two; lang/source/n_chars were checkpointed dead weight
      val e = q.select("doc_id", "text")
        .join(keepIds, Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      // stage 3: near-dup drop — LSH candidate pairs over the survivors
      val losers = minhashPairsOf(e.select(col("doc_id"), col("text")))
        .select(col("b").as("doc_id")).distinct()
      // stage 4: decontamination — drop docs sharing any 8-gram shingle
      // with the eval set (exact equi-join on hashed shingles; the eval
      // side is tiny and broadcast — l29's bloom screen is the drop-in
      // when even the eval shingle set outgrows a broadcast).
      // r19: contamination is computed over the SURVIVORS e, not the
      // intermediate nd = e∖losers, and both drop sets anti-join e in
      // ONE union — e∖losers∖contam(e∖losers) ≡ e∖(losers ∪ contam(e))
      // because extra contamination checks on loser docs can only name
      // docs already dropped. The former nd frame sat under BOTH the
      // shingle pass and the final anti join, so its whole subplan —
      // including the minhash self-join behind `losers` — evaluated
      // twice inside one action.
      val evalSh = shingles8(docs.filter(col("doc_id") < 50))
        .select("sh").distinct()
      val contaminated = shingles8(e)
        .join(broadcast(evalSh), "sh").select("doc_id").distinct()
      val dc = e.join(losers.union(contaminated), Seq("doc_id"), "left_anti")
      // stage 5: stratified split (l48's content-hash rule).
      // r20: the packing stage's max-train-doc_id scalar rides the SAME
      // checkpoint action as sp's materialization via observe() — the
      // former separate train.agg(max).head() job is gone, trimming the
      // lane to 2 blocking pre-actions (e, sp) + the final action.
      val b2 = substring(md5(col("text")), 1, 2)
      val obs = new org.apache.spark.sql.Observation()
      val sp = dc.select(col("doc_id"),
        when(b2 < "cd", "train").when(b2 < "e6", "val")
          .otherwise("test").as("split"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
        .observe(obs,
          max(when(col("split") === "train", col("doc_id"))).as("max_id"))
        .localCheckpoint(true)
      // stage 6: pack the train split (l27's bucketed global cumsum —
      // per-bucket offsets broadcast, never a single-partition window)
      val ctx = 2048L
      val nb = 32
      val train = sp.filter(col("split") === "train")
        .select("doc_id", "n_tok")
      val maxIdObs = obs.get("max_id") // checkpoint already ran: no wait
      val packed =
        if (maxIdObs == null) // no train docs: nothing to pack
          train.select(col("doc_id"), col("n_tok").as("start_tok"))
            .limit(0).withColumn("bin", lit(0L))
        else {
          val maxId = maxIdObs.asInstanceOf[Long]
          val pid = least(floor(col("doc_id") * nb / (maxId + 1)),
            lit(nb - 1)).cast("int")
          val parted = train.withColumn("pid", pid)
          val offW = Window.orderBy("pid")
            .rowsBetween(Window.unboundedPreceding, -1)
          val offsets = parted.groupBy("pid").agg(sum("n_tok").as("toks"))
            .select(col("pid"),
              coalesce(sum("toks").over(offW), lit(0L)).as("off"))
          val localW = Window.partitionBy("pid").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
          parted
            .withColumn("lcum", coalesce(sum("n_tok").over(localW), lit(0L)))
            .join(broadcast(offsets), "pid")
            .withColumn("start_tok", col("off") + col("lcum"))
            .select(col("doc_id"), col("start_tok"),
              floor(col("start_tok") / ctx).cast("long").as("bin"))
        }
      sp.join(packed.select("doc_id", "start_tok", "bin"),
          Seq("doc_id"), "left")
        .select("doc_id", "split", "n_tok", "start_tok", "bin")
        .orderBy("doc_id")
    }),

    // L58: SPAN-level decontamination — l26 answers "is this doc
    // contaminated" and drops whole documents; this lane performs the
    // surgical alternative used when eval overlap is incidental to an
    // otherwise-good document: every token covered by ANY contaminated
    // 8-gram window is removed and the document is rebuilt from the
    // surviving tokens (the span-removal discipline of l44's line dedup
    // applied to eval overlap). Output per corpus doc: the cleaned
    // text + kept/removed token counts — removed = 0 means untouched.
    // At 100 TB: shingle windows explode to (doc, pos) rows, the eval
    // shingle set broadcasts, covered positions dedup per doc, and the
    // rebuild is one ordered per-doc aggregation — every join is an
    // equi join on hashed shingles or doc_id, nothing pairwise.
    "l58_span_decontam" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val evalSh = shingles8(docs.filter(col("doc_id") < 50))
        .select("sh").distinct()
      val corpus = docs.filter(col("doc_id") >= 50)
        .select(col("doc_id"), col("text"),
          split(col("text"), " ").as("tk"))
      // original-case tokens carry 1-based positions for reconstruction;
      // shingles hash the LOWERCASED window (l26/l57's unit) — lower()
      // never changes tokenization, so positions align
      val toks = corpus.select(col("doc_id"),
        posexplode(col("tk")).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
      val wins = corpus.filter(size(col("tk")) >= 8)
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(1), size(col("tk")) - 7)).as("i"))
        .select(col("doc_id"), col("i"), md5(lower(
          concat_ws(" ", slice(col("tk"), col("i"), lit(8))))).as("sh"))
      val covered = wins.join(broadcast(evalSh), "sh")
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + 7)).as("pos"))
        .distinct()
      val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      val keptAgg = kept.groupBy("doc_id")
        .agg(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("clean_text"),
          count(lit(1)).as("n_kept"))
      corpus.select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"))
        .join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_tok") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
        .orderBy("doc_id")
    }),

    // L10: embedding near-dup via banded sign-random-projection LSH —
    // candidate = same signature in ANY band (OR-amplification, like l2's
    // MinHash bands), exact cosine only on candidates. Signature width
    // scales as ~log2(n): expected random-pair collisions per band are
    // n²/2^(bits+1) ≈ n/2, so the within-bucket join stays O(bands·n)
    // expected instead of O(n²/constant) (VERDICT r2 "What's wrong" #2).
    // Fully oracle-checked: the md5-derived ±1 planes, the ascending-
    // index double dot accumulation, and the fused cosine are all
    // replayed op-for-op in DuckDB SQL (list_transform/list_aggregate
    // iterate in list order, verified bit-exact); NearDupSpec additionally
    // checks candidates against brute force and the bucket histogram.
    "l10_embed_neardup" -> ((s, d) => {
      val e0 = t(s, d, "embeddings")
      // index-build step: size the signature to the corpus (one pruned
      // count over vec_id — the quantizer-sizing analog of an ANN build)
      val n = e0.select("vec_id").count()
      val bits = math.max(8,
        math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt)
      // both sides of the candidate self-join scan the signatures; persist
      // so the bands*bits plane dots run once per vector, not twice
      val bandsDf = embedBands(e0.select("vec_id", "embedding"), bands = 2, bits = bits)
        .select("band", "sig", "vec_id")
        .persist()
      bandsDf.count() // materialize before the self-join's stages fan out
      // candidate ids first (a pair may collide in both bands — dedup the
      // id pair, NOT rows carrying vector payloads), then join the vectors
      // back for the exact-cosine dispose step
      val cands = bandsDf.select(col("band"), col("sig"), col("vec_id").as("a"))
        .join(bandsDf.select(col("band").as("band2"), col("sig").as("sig2"),
            col("vec_id").as("b")),
          col("band") === col("band2") && col("sig") === col("sig2") &&
            col("a") < col("b"))
        .select("a", "b").distinct()
      val vecs = e0.select(col("vec_id"), col("embedding"))
      cands
        .join(vecs.select(col("vec_id").as("a"), col("embedding").as("va")), "a")
        .join(vecs.select(col("vec_id").as("b"), col("embedding").as("vb")), "b")
        .withColumn("cos", expr("cosine_f32(va, vb)"))
        .filter(col("cos") > 0.35)
        // sim is the RAW double: cosine_f32's op sequence (ascending-index
        // double accumulation, dot/(√na·√nb)) is reproduced verbatim by
        // the DuckDB oracle, so the values hash bit-identically; a
        // round() here would re-introduce the 1-ULP boundary hazard the
        // verify notes warn about
        .select(col("a"), col("b"), col("cos").as("sim"))
        .orderBy("a", "b")
    }),

    // L12: n-gram Jaccard verification of the banding candidates — the
    // standard two-phase near-dup pipeline: LSH banding proposes (cheap,
    // bucket-join), exact Jaccard over distinct 5-gram shingle sets
    // disposes (computed ONLY for candidate pairs, never all pairs).
    "l12_jaccard_verify" -> ((s, d) => {
      // `sh` feeds the signature build AND both sides of the intersection
      // join; persist so the shingle explosion runs once, not four times
      val sh = shingleRows(t(s, d, "documents"), distinctPerDoc = false)
        .distinct()
        .persist()
      sh.count() // materialize before the four consumer stages fan out
      // l2's signature and candidate kernels over the persisted shingles
      val cands = minhashBucketPairs(minhashSigsOfShingles(sh))
      // exact intersection via per-doc sorted arrays (the l55 r19
      // shape): the former cands ⋈ sh(a) ⋈ sh(b) + filter(sha=shb)
      // materialized the FULL n_a × n_b shingle cross product per
      // candidate pair before filtering
      val docArr = sh.groupBy("doc_id")
        .agg(sort_array(collect_list(col("sh"))).as("ta"),
          count(lit(1)).as("nsh"))
      cands
        .join(docArr.select(col("doc_id").as("a"), col("ta").as("taa"),
          col("nsh").as("na")), "a")
        .join(docArr.select(col("doc_id").as("b"), col("ta").as("tab"),
          col("nsh").as("nb")), "b")
        .withColumn("inter",
          size(array_intersect(col("taa"), col("tab"))).cast("long"))
        .withColumn("jac",
          col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .filter(col("jac") >= 0.2)
        .select("a", "b", "inter", "na", "nb", "jac")
        .orderBy("a", "b")
    }),

    // L21: near-dup CLUSTERS — the step after candidate generation in a
    // real dedup pipeline: group the l2 pairs into connected components
    // and elect a canonical survivor (min doc_id) per component. Computed
    // by distributed min-label propagation: each round every vertex takes
    // the min label among itself and its neighbors (one shuffle join + one
    // partial-aggregated groupBy per round, converging in O(component
    // diameter) rounds — near-dup clusters are shallow, so a handful).
    // No driver-side graph: the only per-round action is an isEmpty
    // convergence probe. Oracle: DuckDB recursive CTE computing min
    // reachable id per vertex over the same deterministic pairs.
    "l21_dedup_clusters" -> ((s, d) =>
      dedupClusters(s, d)
        .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
        .orderBy("doc_id")),

    // L22: token counting, whitespace vs BPE-ish — the GPT-2-style
    // pre-tokenizer shape (letter runs | single digits | single
    // punctuation; explicit whitespace class so Spark's Java regex and
    // DuckDB's RE2 agree byte-for-byte). chars_per_bpe is the usual
    // compression-ratio quality signal.
    "l22_token_bpe" -> ((s, d) => {
      val bpe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]"
      val nBpe = regexp_count(col("text"), lit(bpe)).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          nBpe.as("bpe_tokens"),
          when(nBpe > 0, col("n_chars").cast("double") / nBpe.cast("double"))
            .as("chars_per_bpe"))
        .orderBy("doc_id")
    }),

    // L25: the corpus-curation pipeline composed end-to-end — what a
    // pretraining data pass actually runs, as ONE query: Gopher-style
    // quality rules (l16) → deterministic per-lang mix sampling (l23) →
    // exact-dedup survivorship (l1: doc must be the min doc_id of its
    // content-hash group) → near-dup cluster canonicality (l21: doc must
    // be its cluster's canonical member). Every stage is individually
    // oracle-verified; this lane verifies their COMPOSITION hash-exactly.
    "l25_corpus_curation" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // stage 1: quality rules (l16 semantics)
      val tk = split(col("text"), " ")
      val nW = size(tk).cast("long")
      val sumLen = aggregate(tk, lit(0L), (a, x) => a + length(x).cast("long"))
      val meanLen = sumLen.cast("double") / nW.cast("double")
      val alphaW = size(filter(tk, x => x.rlike("[a-zA-Z]"))).cast("long")
      val stops = size(array_intersect(
        array_distinct(transform(tk, lower(_))),
        array(Seq("the", "a", "of", "and", "to").map(lit): _*))).cast("long")
      val qualityKeep = nW.between(50, 100000) && meanLen.between(3.0, 10.0) &&
        (alphaW.cast("double") / nW.cast("double")) > 0.7 && stops >= 2
      // stage 2: deterministic mix sampling (l23 semantics)
      val bucket = conv(substring(
        md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1000
      val rate = when(col("lang") === "en", 500)
        .when(col("lang") === "de", 1000).otherwise(200)
      val kept = docs.filter(qualityKeep && bucket < rate)
      // stage 3: exact-dedup survivors (l1 semantics) over the full corpus
      val survivors = docs
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("sid"))
        .select(col("sid"))
      // stage 4: near-dup cluster canonicals (l21 semantics)
      val canon = dedupClusters(s, d)
        .filter(col("doc_id") === col("cluster_id"))
        .select(col("doc_id").as("cid"))
      kept
        .join(survivors, col("doc_id") === col("sid"), "left_semi")
        .join(canon, col("doc_id") === col("cid"), "left_semi")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // L26: benchmark decontamination — flag training docs sharing any
    // 8-word shingle with the eval set (doc_id < 50 stands in for the
    // benchmark corpus). The canonical pre-release pipeline step: overlap
    // is found by an equi-join on hashed shingles (eval side is tiny and
    // broadcast-able at scale) — never a doc×doc comparison.
    "l26_decontaminate" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
        .filter(size(col("tk")) >= 8)
      // distinct (doc, shingle-hash) pairs feed BOTH sides — persist
      val sh = toks
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(1), size(col("tk")) - 7)).as("i"))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("tk"), col("i"), lit(8)))).as("sh"))
        .distinct()
        .persist()
      sh.count() // materialize before eval + corpus sides fan out
      val evalSh = sh.filter(col("doc_id") < 50).select("sh").distinct()
      val hits = sh.filter(col("doc_id") >= 50)
        .join(evalSh, "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      t(s, d, "documents").filter(col("doc_id") >= 50).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .withColumn("contaminated", col("n_shared") > 0)
        .orderBy("doc_id")
    }),

    // L38: contamination SCORE — l26 answers "is this doc contaminated";
    // this answers "how much": per corpus doc, the fraction of its
    // distinct 8-gram shingles that appear anywhere in the eval set (the
    // standard eval-overlap metric used to pick a removal threshold).
    // ONE pass over corpus shingles: a left join against the broadcast
    // eval shingles yields total and matched counts together.
    "l38_contamination_score" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
        .filter(size(col("tk")) >= 8)
      val sh = toks
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(1), size(col("tk")) - 7)).as("i"))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("tk"), col("i"), lit(8)))).as("sh"))
        .distinct()
        .persist()
      sh.count() // materialize before eval + corpus sides fan out
      val evalSh = sh.filter(col("doc_id") < 50).select("sh").distinct()
        .withColumn("hit", lit(1))
      sh.filter(col("doc_id") >= 50)
        .join(broadcast(evalSh), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_shared"))
        .withColumn("overlap_frac",
          col("n_shared").cast("double") / col("n_shingles"))
        .orderBy("doc_id")
    }),

    // L39: model-based quality scoring with a corpus-trained bigram LM —
    // the KenLM-perplexity-filter shape (CCNet/Wenzek et al. 2020) made
    // engine-portable: "train" = aggregate corpus bigram frequencies (one
    // groupBy, the model is a TABLE, never driver state); "score" = each
    // doc's fraction of bigram occurrences whose corpus frequency clears a
    // support floor. Integer counts + one final double ratio of identical
    // operands — cross-engine hash-safe where log-prob sums would differ
    // by summation order. At 100 TB the model table is corpus-sized
    // vocabulary²-bounded: the score join is a plain shuffle equi-join on
    // the bigram key (or a CMS screen, the l34 pattern, if the tail is
    // irrelevant).
    "l39_bigram_lm_score" -> ((s, d) => {
      // aliased tk + position explode (the shingleRows shape note): the
      // old in-explode transform referenced the un-aliased split() and
      // re-tokenized the document once PER BIGRAM — measured 6.7x slower
      val bigrams = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(1), size(col("tk")) - 1)).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("tk"), col("i"), lit(2))).as("bg"))
        .persist()
      bigrams.count() // materialize before model + score sides fan out
      val model = bigrams.groupBy("bg").agg(count(lit(1)).as("cnt"))
      bigrams.join(model, "bg")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          count(when(col("cnt") >= 3, 1)).as("n_common"))
        .withColumn("common_frac",
          col("n_common").cast("double") / col("n_bigrams").cast("double"))
        .orderBy("doc_id")
    }),

    // L40: BPE tokenizer training — the learned merge-rule table after 8
    // rounds (see bpeTrain). Oracle: the iterative argmax-and-rewrite
    // loop is not expressible as ONE generic SQL query, but at the lane's
    // FIXED k=8 it unrolls exactly into chained CTEs (the l33 PageRank
    // trick): each round recounts freq-weighted adjacent pairs, picks the
    // (cnt DESC, a, b) winner, and rewrites by leftmost non-overlapping
    // replace() over l41's double-delimited symbol string — replace()'s
    // scan semantics are bit-equivalent to mergeUdf's single pass.
    // QueriesSpec additionally proves the distributed implementation ≡ a
    // sequential in-test reference (the general-k guarantee the unrolled
    // oracle can't give) and pins the non-increasing max-count invariant.
    "l40_bpe_train" -> ((s, d) =>
      bpeTrain(t(s, d, "documents").select("text"), 8)),

    // L43: NORMALIZED exact dedup — canonicalize before hashing (the step
    // every real pipeline runs ahead of l1's raw-content dedup: case
    // folding, punctuation stripping, whitespace collapse), then group by
    // the normalized sha. Catches trivially-reformatted duplicates raw
    // hashing misses; still one hash-partitioned groupBy, no pairs.
    "l43_normalize_dedup" -> ((s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
        " +", " "))
      t(s, d, "documents")
        .select(col("doc_id"), sha2(norm, 256).as("norm_sha"))
        .groupBy("norm_sha")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
        .orderBy("norm_sha")
    }),

    // L42: SEMANTIC dedup (the SemDeDup shape, Abbas et al. 2023):
    // coarse cells over the embedding space, exact pairwise cosine ONLY
    // within a cell, duplicate groups = connected components of
    // above-threshold pairs, keep the min-id survivor per group. The
    // coarse quantizer here is a deterministic sign-LSH cell (one band,
    // ~log2(√n) bits → ~√n angular cells, the same granularity as the
    // k-means variant) rather than a learned k-means: cells are pure bit
    // math over md5-derived planes, so the WHOLE lane — quantizer, edge
    // set, components, survivors — replays exactly in the DuckDB oracle
    // (the learned-quantizer path stays covered by l20's IVF index). At
    // 100 TB the pairwise step is O(sum cell²) not O(n²) — bits tunes
    // the tradeoff — and every stage is a shuffle join or bounded
    // aggregation. NearDupSpec pins the two SemDeDup invariants (every
    // removed vector has a kept canonical in its component; no two kept
    // vectors in one cell are above-threshold neighbors).
    "l42_semantic_dedup" -> ((s, d) => {
      graft.functions.VectorExpressions.register(s)
      val tau = 0.35
      val e0 = t(s, d, "embeddings")
      val n = e0.select("vec_id").count()
      // ~√n cells: bits = ceil(log2(√n)) (ln-ratio form so the oracle's
      // ceil sees the same double)
      val bits = math.max(4, math.ceil(
        math.log(math.sqrt(n.toDouble)) / math.log(2.0)).toInt)
      val cells = e0.select(col("vec_id"), col("embedding"),
          expr(s"sign_lsh(embedding, 1, $bits)")(0).as("cell"))
        .persist()
      cells.count() // materialize before the self-join's stages fan out
      val edges = cells.select(col("cell"), col("vec_id").as("a"),
          col("embedding").as("va"))
        .join(cells.select(col("cell").as("cell2"), col("vec_id").as("b"),
          col("embedding").as("vb")),
          col("cell") === col("cell2") && col("a") < col("b"))
        .withColumn("cos", expr("cosine_f32(va, vb)"))
        .filter(col("cos") > tau)
        .select("a", "b")
      val labels = components(edges)
      cells.select(col("vec_id"), col("cell"))
        .join(labels, col("vec_id") === col("v"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("lab"), col("vec_id")).as("group_id"))
        .withColumn("keep", col("group_id") === col("vec_id"))
        .orderBy("vec_id")
    }),

    // L41: BPE encoding — tokenize the corpus with a FIXED literal merge
    // table (the serving-time tokenizer shape: the table is a frozen
    // artifact, the encode is a broadcast-table pure map with no shuffle
    // beyond the per-doc aggregation). A fixed table makes the lane
    // fully oracle-checkable: one encode pass per merge rule is a
    // left-to-right non-overlapping scan, which DuckDB replays as one
    // replace() per rule over a double-delimited symbol string. The
    // learned-table path (bpeTrain → bpeEncode) stays spec-covered:
    // QueriesSpec proves count parity with the sequential reference
    // encoder and pins the compression bounds.
    "l41_bpe_encode" -> ((s, d) =>
      bpeEncode(t(s, d, "documents").select("doc_id", "text"),
        FixedBpeMerges)),

    // L27: sequence packing — assign docs to fixed-size context windows by
    // GLOBAL token prefix sum (the group_texts step of LM training: concat
    // the corpus, chunk every 2048 tokens). The prefix sum is two-pass
    // (range-bucket by doc_id, per-bucket cumsum, broadcast bucket
    // offsets) — same no-single-partition-window discipline as w5.
    "l27_pack_sequences" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ctx = 2048L
      val nb = 32
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val pid = least(floor(col("doc_id") * nb / (maxId + 1)), lit(nb - 1))
        .cast("int")
      val parted = docs.withColumn("pid", pid)
      // per-bucket token totals → prefix offsets (≤nb rows, broadcast)
      val offW = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
      val offsets = parted.groupBy("pid").agg(sum("n_tok").as("toks"))
        .select(col("pid"), coalesce(sum("toks").over(offW), lit(0L)).as("off"))
      val localW = Window.partitionBy("pid").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      parted
        .withColumn("lcum", coalesce(sum("n_tok").over(localW), lit(0L)))
        .join(broadcast(offsets), "pid")
        .withColumn("start_tok", col("off") + col("lcum"))
        .withColumn("bin", floor(col("start_tok") / ctx).cast("long"))
        .select("doc_id", "n_tok", "start_tok", "bin")
        .orderBy("doc_id")
    }),

    // L24: winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    // algorithm) — the windowed-min document fingerprint: hash every
    // 8-char gram, keep the minimum hash of each 4-gram window. Guarantees
    // any shared substring ≥ k+w-1 chars yields a shared fingerprint, at
    // ~1/w the density of full gram sets — the standard
    // fingerprint-overlap dedup/provenance index. Per-doc window sort
    // parallelizes across docs (partitionBy doc_id).
    "l24_winnowing" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 8
      val w = 4
      val grams = t(s, d, "documents")
        .filter(length(col("text")) >= k)
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(1), length(col("text")) - (k - 1)),
            i => col("text").substr(i, lit(k)))).as(Seq("pos", "g")))
      val hashed = grams.withColumn("h",
        conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long"))
      val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
      hashed
        .withColumn("fp", min("h").over(win))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("fp")).as("n_fingerprints"))
        .orderBy("doc_id")
    }),

    // L23: deterministic stratified sampling for corpus mixing — per-class
    // keep rates (the data-mixing step of a pretraining pipeline) decided
    // by a CONTENT-DERIVED hash bucket, not an RNG: the same doc keeps or
    // drops identically on every run, every engine, every partitioning
    // (resumable + auditable, unlike sampleBy). Pure filter — no shuffle,
    // scale-free.
    "l23_mix_sample" -> ((s, d) => {
      val bucket = conv(substring(
        md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 1000
      val rate = when(col("lang") === "en", 500)
        .when(col("lang") === "de", 1000)
        .otherwise(200)
      t(s, d, "documents")
        .withColumn("bucket", bucket)
        .filter(col("bucket") < rate)
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy("doc_id")
    }),

    // L13: multi-table LSH approximate kNN (the scale path of Q-L3):
    // L independent sign-LSH tables × b bits with Hamming≤1 multiprobe —
    // a probe searches the union of L·(b+1) buckets instead of the full
    // table. OR-amplification across tables is what lifts recall: one
    // 8-bit table probed at Hamming≤1 catches ~9% of true neighbors on
    // this near-random corpus (measured); 24 independent tables catch
    // 1-(1-0.09)^24 ≈ 0.90 — measured recall@5 = 0.94 at sf0.001
    // (NearDupSpec asserts a ≥0.8 floor).
    // Candidates dedup on (probe, vec) BEFORE the exact re-rank, so the
    // codegen'd dot_f32 runs once per candidate; top-5 via the bounded-heap
    // TopK Aggregator (partial agg, no single-task window sort).
    "l13_ann_lsh" -> ((s, d) => {
      graft.functions.VectorExpressions.register(s)
      val e0 = t(s, d, "embeddings")
      val bandsDf = embedBands(e0.select("vec_id", "embedding"),
        bands = AnnTables, bits = AnnBits).select("band", "sig", "vec_id")
      val probeSigs = embedBands(
        e0.filter(col("vec_id") < 10).select("vec_id", "embedding"),
        bands = AnnTables, bits = AnnBits)
        .select(col("vec_id").as("probe_id"), col("band").as("pband"),
          col("sig").as("psig"))
      // Hamming≤1 multiprobe: the probe's own bucket + each 1-bit flip
      val probeBuckets = probeSigs.withColumn("bsig",
        explode(array(col("psig") +: (0 until AnnBits).map(k =>
          col("psig").bitwiseXOR(lit(1L << k))): _*)))
      val cands = broadcast(probeBuckets)
        .join(bandsDf,
          col("pband") === col("band") && col("bsig") === col("sig") &&
            col("probe_id") =!= col("vec_id"))
        .select("probe_id", "vec_id").distinct()
      val vecs = e0.select(col("vec_id"), col("embedding"))
      val probeVecs = vecs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val topk = udaf(new graft.functions.TopK(5),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      cands
        .join(vecs, "vec_id")
        .join(broadcast(probeVecs), "probe_id")
        .withColumn("cos", expr("cosine_f32(pv, embedding)"))
        .groupBy("probe_id")
        .agg(topk(col("cos"), col("vec_id")).as("nb"))
        .select(col("probe_id"), posexplode(col("nb")).as(Seq("pos", "hit")))
        .select(col("probe_id"), (col("pos") + 1).cast("int").as("rnk"),
          col("hit.id").as("neighbor_id"), round(col("hit.score"), 4).as("sim"))
        .orderBy("probe_id", "rnk")
    }),

    // L28: metadata-filtered (hybrid) kNN — vector similarity restricted
    // by relational predicates: neighbors must share the probe's label
    // AND their joined document must be lang='en'. The filter applies
    // BEFORE scoring (the filtered-vector-search shape: predicate prunes
    // the candidate set, cosine ranks the survivors), so selective
    // predicates cut the scored set proportionally.
    "l28_filtered_knn" -> ((s, d) => {
      graft.functions.VectorExpressions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val langs = t(s, d, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      val cand = e.join(langs, "vec_id").filter(col("lang") === "en")
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
          col("label").as("plabel"))
      val topk = udaf(new graft.functions.TopK(3),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      broadcast(probes)
        .join(cand,
          col("probe_id") =!= col("vec_id") && col("plabel") === col("label"))
        .withColumn("cos", expr("cosine_f32(pv, embedding)"))
        .groupBy("probe_id")
        .agg(topk(col("cos"), col("vec_id")).as("nb"))
        .select(col("probe_id"), posexplode(col("nb")).as(Seq("pos", "hit")))
        .select(col("probe_id"), (col("pos") + 1).cast("int").as("rnk"),
          col("hit.id").as("neighbor_id"), col("hit.score").as("sim"))
        .orderBy("probe_id", "rnk")
    }),

    // L20: IVF approximate kNN — the second ANN index family (coarse
    // k-means quantizer + nprobe, the FAISS IVF-flat shape) alongside
    // l13's multi-table LSH. Build: cluster into ~sqrt(n) cells (seeded —
    // deterministic); search: rank cells by probe→centroid cosine, scan
    // the top nprobe cells, exact dot_f32 re-rank, bounded-heap top-5.
    // Scales: the scan touches nprobe/k of the corpus, cell assignment is
    // a shuffle-free model.transform, and centroids are broadcast-sized.
    // Rows-only lane; NearDupSpec measures recall vs brute force.
    "l20_ann_ivf" -> ((s, d) => {
      graft.functions.VectorExpressions.register(s)
      val e0 = t(s, d, "embeddings")
      // nprobe = k/3 scans ~1/3 of the corpus; with top-2 multi-
      // assignment (below) recall@5 = 0.88 measured on this NEAR-RANDOM
      // benchmark corpus (no cluster structure for the quantizer to
      // exploit — the adversarial case for IVF; single-assignment
      // measured 0.60). On a real embedding corpus with cluster structure
      // the same index reaches higher recall at nprobe ≈ k/20. l13's
      // multi-table LSH (0.94) remains the quality path on this data.
      // The centroid fit comes from the IvfCentFix parquet fixture
      // (fitted once per process+dir, read back so the generated oracle
      // replays EXACTLY the model the lane served — the L54wSigs
      // discipline); everything below is deterministic double
      // arithmetic the oracle recomputes.
      val (centPath, nprobe) = IvfCentFix.fixture(s, d)
      // centroid table (k rows — broadcast-sized by construction)
      val centers = s.read.parquet(centPath)
      // MULTI-ASSIGNMENT: index every vector under its TOP-2 nearest
      // cells, not just the Voronoi winner. On a corpus without cluster
      // structure a true neighbor often sits just across a cell boundary;
      // replicating each vector into its runner-up cell roughly squares
      // the miss probability for 2× index size (the FAISS IVF
      // multi-assignment trick). Assignment cost is the same n×k centroid
      // scan k-means already pays per iteration; the per-vector top-2 is
      // a bounded-heap aggregation, no window.
      val topc = udaf(new graft.functions.TopK(2),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      val vecs = e0.select(col("vec_id"), col("embedding"))
      val cellsIdx = vecs.crossJoin(broadcast(centers))
        .withColumn("csim", expr("cosine_f32(embedding, cvec)"))
        .groupBy("vec_id")
        .agg(topc(col("csim"), col("cell").cast("long")).as("nb"))
        .select(col("vec_id"), explode(col("nb.id")).as("cell"))
        .persist()
      val probes = vecs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      // rank cells per probe by cosine(probe, centroid); keep top nprobe
      // (window over 10 probes × k centroids — broadcast-sized, bounded)
      val probeCells = broadcast(probes).crossJoin(broadcast(centers))
        .withColumn("csim", expr("cosine_f32(pv, cvec)"))
        .withColumn("crnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
            .orderBy(col("csim").desc, col("cell"))))
        .filter(col("crnk") <= nprobe)
        .select(col("probe_id"), col("cell").cast("long").as("cell"))
      // candidates dedup on (probe, vec) — multi-assignment would
      // otherwise feed the same pair to the re-rank twice
      val cands = broadcast(probeCells)
        .join(cellsIdx, Seq("cell"))
        .filter(col("probe_id") =!= col("vec_id"))
        .select("probe_id", "vec_id").distinct()
      val topk = udaf(new graft.functions.TopK(5),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      cands
        .join(vecs, "vec_id")
        .join(broadcast(probes), "probe_id")
        .withColumn("cos", expr("cosine_f32(pv, embedding)"))
        .groupBy("probe_id")
        .agg(topk(col("cos"), col("vec_id")).as("nb"))
        .select(col("probe_id"), posexplode(col("nb")).as(Seq("pos", "hit")))
        // raw cosine (the l3 discipline) — the generated oracle
        // hash-checks sim, and round() is the one cross-engine trap
        .select(col("probe_id"), (col("pos") + 1).cast("int").as("rnk"),
          col("hit.id").as("neighbor_id"), col("hit.score").as("sim"))
        .orderBy("probe_id", "rnk")
    }),

    // L53: product-quantization ANN (ADC) — the THIRD index family
    // (the FAISS PQ shape) alongside l13's multi-table LSH and l20's IVF
    // cells: each 64-dim vector compresses to 8 codes of 4 bits' worth
    // of information (one 16-codeword k-means per 8-dim subspace), a 32×
    // memory compression, and the query-time scan reads CODES, never raw
    // vectors — the asymmetric-distance (ADC) pass scores a vector as
    // Σ_sub dtable[sub][code] against a per-probe broadcast distance
    // table, then a bounded exact re-rank of the top-C ADC candidates
    // restores ranking quality. At 100 TB this is the family you reach
    // for when the VECTORS don't fit: the codes table is ~3% of the raw
    // bytes, distance tables are O(probes·m·k) broadcast scalars, and
    // the ADC scan is one codegen'd join + partial agg. Rows-only lane;
    // NearDupSpec pins the recall floor vs brute force.
    "l53_ann_pq" -> ((s, d) => annPq(s, d)),

    // L66: PCA projection — center + dot against the k fitted axes. The
    // 100 TB shape: fit = one covariance pass + a d×d driver eigensolve
    // (independent of corpus size past the pass); projection is map-only
    // against dim-bounded literal axes — no shuffle anywhere. This is
    // the dimensionality-reduction pre-pass that makes downstream ANN /
    // clustering / semantic dedup 8× cheaper per byte.
    "l66_pca_project" -> ((s, d) => pcaProject(s, d)),

    // L67: symmetric int8 embedding quantization — the standard 4×
    // serving compression between raw float32 and PQ's 32× (l53): each
    // vector scales by its own amax/127 and rounds each dimension to a
    // signed byte. At 100 TB this is the cheap win for memory-bound
    // ANN serving (the FAISS SQ8 shape): MAP-ONLY — per-row scale, no
    // shuffle except the output sort, codegen'd higher-order funcs.
    // Oracle discipline: every step is deterministic double arithmetic
    // replayed term-for-term (float→double casts are exact, max is
    // associative, floor(x+0.5) sidesteps the cross-engine round()
    // trap; a zero vector quantizes to all-zeros at scale 0).
    "l67_int8_quant" -> ((s, d) => {
      t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          (expr("aggregate(embedding, CAST(0 AS DOUBLE), " +
            "(a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))") / 127.0)
            .as("scale"))
        .select(col("vec_id"), col("scale"), posexplode(
          expr("transform(embedding, x -> CAST(least(127, greatest(-127, " +
            "CASE WHEN scale = 0 THEN 0 ELSE " +
            "floor(CAST(x AS DOUBLE) / scale + 0.5) END)) AS BIGINT))"))
          .as(Seq("i", "qv")))
        .orderBy("vec_id", "i")
    }),

    // L68: SQ8 dequantized cosine — the SERVING half of l67 and the
    // oracle for the codegen'd cosine_i8 kernel (the SQ8 ANN arm's
    // re-rank, AnnIndex.flatQueryProbes): float probes score 1-byte
    // codes directly; the per-vector scale cancels in cosine, so the
    // kernel never reads it. Every step is deterministic double
    // arithmetic — codes are exact small integers, the probe's
    // float→double casts are exact, and both engines accumulate
    // ascending-index (the l3/dot_f32 discipline) — so the oracle
    // replays the kernel bit-for-bit. MAP-ONLY against a broadcast
    // probe set; at 100 TB this is the candidates join's scoring term
    // reading 4× fewer corpus bytes.
    "l68_sq8_cosine" -> ((s, d) => {
      graft.functions.VectorExpressions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val codes = e.filter(col("vec_id") < 400)
        .select(col("vec_id"),
          (expr("aggregate(embedding, CAST(0 AS DOUBLE), " +
            "(a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))") / 127.0)
            .as("scale"),
          col("embedding"))
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(least(127, greatest(-127, " +
            "CASE WHEN scale = 0 THEN 0 ELSE " +
            "floor(CAST(x AS DOUBLE) / scale + 0.5) END)) AS TINYINT))")
            .as("q"))
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      codes.join(broadcast(probes), col("probe_id") =!= col("vec_id"))
        .select(col("probe_id"), col("vec_id"),
          expr("cosine_i8(pv, q)").as("sim"))
        .orderBy("probe_id", "vec_id")
    }),

    // L69: corpus-relative percentile quality gate — the standard
    // pretraining filter that drops LENGTH OUTLIERS per language
    // (absolute thresholds like l16's Gopher rules misfire across
    // languages whose length distributions differ; the robust form
    // gates on each language's own quantiles). 100 TB shape: the model
    // is one row per language (exact percentile agg), broadcast back
    // for a map-only verdict — the model-as-table join every gate lane
    // here uses. Oracle: Spark `percentile` ≡ DuckDB `quantile_cont`
    // (linear interpolation, the a11-proven pairing); the verdict is a
    // CASE over exact comparisons.
    "l69_quantile_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val model = docs.groupBy("lang").agg(
        expr("percentile(n_chars, 0.05)").as("p05"),
        expr("percentile(n_chars, 0.95)").as("p95"))
      docs.join(broadcast(model), "lang")
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          col("p05"), col("p95"),
          when(col("n_chars") < col("p05"), "too_short")
            .when(col("n_chars") > col("p95"), "too_long")
            .otherwise("keep").as("verdict"))
        .orderBy("doc_id")
    }),

    // L70: k-means corpus clustering — the semantic-sharding / data-
    // mixing pre-pass (cluster-then-sample is the standard curation
    // recipe for balancing a 100 TB corpus). The FIT (Lloyd iterations)
    // freezes into the KmFix fixture; the lane is the SERVING half:
    // nearest-centroid assignment of every embedding, MAP-ONLY — the
    // k·d centroid table rides the plan as a literal (model, not
    // data), each row folds k squared-distances in a pinned term order
    // and takes the (dist, cid) array_min, no join and no shuffle
    // except the output sort. The generated oracle replays assignment
    // from the fixture term-for-term (the l66/l68 double discipline),
    // so the hash match covers distance arithmetic, argmin, and
    // tie-break. At 100 TB: assignment scales as pure map work;
    // re-fit cadence is a policy knob, exactly like PCA/PQ codebooks.
    "l70_kmeans_cluster" -> ((s, d) => kmeansAssign(s, d)),

    // L71: cluster coreset — k-means' composition verb: the N
    // representatives nearest each centroid (cluster-then-sample, the
    // standard corpus-balancing / inspection recipe over l70's fit).
    // Shares the MAP-ONLY frozen-fixture assignment; the per-cluster
    // top-N runs as the bounded-heap TopK aggregator — partial agg,
    // k·N rows shuffle — never a window sort over k ≪ cores partitions
    // (the single-task killer at 100 TB; the l3/w6 argument). Negated
    // distance rides TopK's score-DESC order; negation is exact, so the
    // generated oracle's (dist, vec_id) replay matches bit-for-bit.
    "l71_cluster_coreset" -> ((s, d) => kmeansCoreset(s, d)),

    // L15: per-source corpus stats — the dashboard query of a dedup
    // pipeline: docs, distinct contents, dup rate, volume per source.
    "l15_source_stats" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(sha2(col("text"), 256)).as("n_distinct"),
          (lit(1.0) - countDistinct(sha2(col("text"), 256)).cast("double")
            / count(lit(1))).as("dup_rate"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("source")
    }),

    // L14: TF-IDF via spark.ml (HashingTF → IDF) — the classic sparse text
    // featurization (SURVEY §2.3 "text analysis"). Output is a stable
    // scalar per doc (sum of TF-IDF weights, rounded) so the rows-only
    // check has content; TfIdfSpec asserts the vector-level invariants.
    "l14_tfidf" -> ((s, d) => {
      import org.apache.spark.ml.feature.{HashingTF, IDF, Tokenizer}
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val tok = new Tokenizer().setInputCol("text").setOutputCol("words")
      val tf = new HashingTF().setInputCol("words").setOutputCol("tf")
        .setNumFeatures(1 << 12)
      val words = tf.transform(tok.transform(docs))
      val idf = new IDF().setInputCol("tf").setOutputCol("tfidf").fit(words)
      val sumUdf = udf((v: org.apache.spark.ml.linalg.Vector) =>
        BigDecimal(v.toArray.sum).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      idf.transform(words)
        .select(col("doc_id"), sumUdf(col("tfidf")).as("tfidf_sum"))
        .orderBy("doc_id")
    }),

    // L51: EXACT TF-IDF — l14's HashingTF lane made oracle-checkable by
    // dropping the hash trick: exact term frequencies (split/explode/count),
    // exact document frequencies over the tf table, idf = ln(N/df). One
    // multiply per OUTPUT ROW (never a float sum — summation order breaks
    // cross-engine parity), rounded after the arithmetic; tf ≥ 3 bounds the
    // output to informative terms. At 100 TB the shape is two hash
    // aggregations + a shuffle join on term — the hash trick (l14) trades
    // the df join for a fixed-width vector when the term table won't fit.
    "l51_tfidf_exact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      tf.join(dfT, "term")
        .crossJoin(broadcast(nDocs))
        .filter(col("tf") >= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df").cast("double")), 4)
            .as("tfidf"))
        .orderBy("doc_id", "term")
    }),

    // L16: Gopher-style quality rules (Rae et al. 2021 §A1.1 shape): word
    // count bounds, mean word length band, alphabetic-word ratio, distinct
    // stopword floor — the standard pretraining-corpus filter, one rule per
    // column so downstream can audit WHY a doc dropped. All integer-exact
    // or integer-ratio doubles (hash-safe vs DuckDB).
    "l16_gopher_quality" -> ((s, d) => {
      val tk = split(col("text"), " ")
      val nW = size(tk).cast("long")
      val sumLen = aggregate(tk, lit(0L), (a, w) => a + length(w).cast("long"))
      val meanLen = sumLen.cast("double") / nW.cast("double")
      val alphaW = size(filter(tk, w => w.rlike("[a-zA-Z]"))).cast("long")
      val stops = size(array_intersect(
        array_distinct(transform(tk, lower(_))),
        array(Seq("the", "a", "of", "and", "to").map(lit): _*))).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"), nW.as("n_words"), meanLen.as("mean_word_len"),
          (alphaW.cast("double") / nW.cast("double")).as("alpha_ratio"),
          stops.as("distinct_stops"),
          (nW.between(50, 100000) && meanLen.between(3.0, 10.0) &&
            (alphaW.cast("double") / nW.cast("double")) > 0.7 &&
            stops >= 2).as("keep"))
        .orderBy("doc_id")
    }),

    // L17: repetition detection — most-frequent-bigram fraction per doc
    // (high values flag boilerplate/spam for pretraining filtering). Two
    // hash aggregations, both partial-aggregated; never materializes the
    // per-doc bigram set in one task.
    "l17_repetition" -> ((s, d) => {
      val bigrams = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(1), size(col("tk")) - 1)).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("tk"), col("i"), lit(2))).as("bg"))
      bigrams
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(max(col("cnt")).as("top_bigram_cnt"),
          sum(col("cnt")).as("n_bigrams"))
        .withColumn("rep_frac",
          col("top_bigram_cnt").cast("double") / col("n_bigrams").cast("double"))
        .orderBy("doc_id")
    }),

    // L18: PII-pattern scan — counts of email-shaped and long-digit-run
    // matches per doc (the redaction pre-pass of a training pipeline; only
    // COUNTS leave the executor, never the matched text).
    "l18_pii_scan" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          regexp_count(col("text"),
            lit("[a-zA-Z0-9._]+@[a-zA-Z0-9.]+")).cast("long").as("n_emails"),
          regexp_count(col("text"), lit("[0-9]{6,}")).cast("long").as("n_digit_runs"))
        .orderBy("doc_id")
    }),

    // L59: PII REDACTION — l18's scan made write-side: emails then
    // long digit runs are replaced with fixed masks and the redaction
    // count is emitted per doc. The synthetic corpus carries no real
    // PII (l18's counts are all zero), so the input is DETERMINISTICALLY
    // ENRICHED from the table itself — every third doc gets a contact
    // line with an email and an account number derived from doc_id (the
    // l5-fixture discipline: the oracle recomputes the same enrichment,
    // so the redactor is exercised on real matches, not an identity
    // pass). The digit pass runs on the EMAIL-REDACTED text (an email's
    // own digits vanish with it, so counting runs on the raw text would
    // overstate the <NUM> insertions); masks contain no digits or @, so
    // the passes cannot interact further. Pure per-row map —
    // scale-free; the regex class (greedy character-class quantifiers,
    // no alternation) is the one l18 already proved cross-engine exact.
    "l59_pii_redact" -> ((s, d) => {
      val emailPat = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"
      val digitPat = "[0-9]{6,}"
      val enriched = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example.com account "),
          (col("doc_id") * 7919 + 1000000).cast("string")))
        .otherwise(col("text"))
      val afterEmail = regexp_replace(enriched, lit(emailPat), lit("<EMAIL>"))
      t(s, d, "documents")
        .select(col("doc_id"),
          regexp_replace(afterEmail, lit(digitPat), lit("<NUM>"))
            .as("redacted_text"),
          (regexp_count(enriched, lit(emailPat)) +
            regexp_count(afterEmail, lit(digitPat)))
            .cast("long").as("n_redactions"))
        .orderBy("doc_id")
    }),

    // L19 moved to MediaOps (round 12): rebuilt end-to-end on the real
    // JdkCodecs stack with a full key-arithmetic oracle — see
    // MediaOps."l19_multimodal_pipeline".

    // L11: multimodal column plumbing — text payloads as opaque binary with
    // typed metadata (the puFS blob model, SURVEY §1.4). The "decode" here
    // is a deterministic md5-derived fake (no image libs in-env); the
    // Spark-side schema/partitioning is the real contract.
    "l11_multimodal_meta" -> ((s, d) => {
      t(s, d, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(
          col("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          (conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long") % 1024)
            .as("fake_w"),
          (conv(substring(md5(col("text")), 5, 4), 16, 10).cast("long") % 1024)
            .as("fake_h"),
          sha2(col("text"), 256).as("payload_sha"))
        .orderBy("doc_id")
    }),

    // L29: Bloom-prefiltered decontamination — same contract (and same
    // oracle SQL) as l26, but the corpus side is screened by a broadcast
    // Bloom filter over the eval shingle hashes BEFORE any shuffle. At
    // 100 TB the eval set is tiny next to the corpus; l26's formulation
    // shuffles every corpus shingle into the equi-join, while this one
    // drops ~99% of them at the scan with a codegen'd bloom probe (1% fpp)
    // and shuffles only survivors. The exact confirm join then removes the
    // false positives, so the answer stays hash-identical to l26's.
    "l29_decontaminate_bloom" -> ((s, d) => {
      import graft.functions.BloomMembership
      // each side shingles its OWN subtree: the eval set (tiny — here
      // doc_id < 50) is scanned thrice (count, bloom build, confirm join)
      // but never forces a pass over the corpus; the corpus shingles — the
      // 100 TB side — are computed exactly once, in the final screened pass
      def shinglesOf(docs: DataFrame): DataFrame = {
        val toks = docs
          .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
          .filter(size(col("tk")) >= 8)
        toks
          .select(col("doc_id"), col("tk"),
            explode(sequence(lit(1), size(col("tk")) - 7)).as("i"))
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(col("tk"), col("i"), lit(8)))).as("sh"))
          .distinct()
          .withColumn("h", xxhash64(col("sh")))
      }
      val docs = t(s, d, "documents")
      val evalSh = shinglesOf(docs.filter(col("doc_id") < 50))
        .select("sh", "h").distinct().persist()
      // ONE treeAggregate builds the filter AND counts the keys (r20:
      // the former separate count() job existed only to size the
      // filter); the pass also materializes the persist for the confirm
      // join. The capacity hint over-sizes at test SFs (bit pattern is
      // a prefilter detail — the exact confirm keeps results identical)
      // and auto-resizes in a second pass only if the eval set outgrows
      // it. The driver holds only the filter, never the rows.
      val (bloom, _) =
        BloomMembership.buildBloomLiteralCounting(evalSh, "h", 1L << 18)
      val screened = shinglesOf(docs.filter(col("doc_id") >= 50))
        .filter(BloomMembership.mightContain(s, bloom, col("h")))
      val hits = screened
        .join(evalSh.select("sh"), "sh") // exact confirm: kills bloom FPs
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      t(s, d, "documents").filter(col("doc_id") >= 50).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .withColumn("contaminated", col("n_shared") > 0)
        .orderBy("doc_id")
    }),

    // L60: the standing decontamination index served as a lane — l29's
    // contract answered from a PERSISTED model (DecontamIndex: eval
    // shingles + bloom sidecar built once per corpus, the build/serve
    // split of the other six index families applied to decontamination).
    // The oracle is the same unscreened anti-join SQL as l26/l29: the
    // point is that the store-served, bloom-prefiltered screen stays
    // hash-identical to recomputing the eval side from scratch.
    "l60_decontam_index" -> ((s, d) => {
      val dir = DecontamModels.fixture(s, d)
      DecontamIndex.screen(s, dir,
          t(s, d, "documents").filter(col("doc_id") >= 50)
            .select("doc_id", "text"))
        .orderBy("doc_id")
    }),

    // L30: inverted index build — the term → postings structure of a
    // corpus search/provenance index. Per term: document frequency, total
    // term frequency, and the 8 LOWEST doc_ids as a posting sample. The
    // sample comes from the bounded-heap TopK Aggregator (score = -doc_id),
    // NOT collect_set: a stop-word's full posting list is corpus-sized, and
    // an aggregation whose per-group state is O(postings) dies at 100 TB —
    // the heap keeps O(k) state per term through partial aggregation.
    "l30_inverted_index" -> ((s, d) => {
      val topk = udaf(new graft.functions.TopK(8),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      // pre-aggregate to one row per (term, doc): df/tf fall out of the
      // second agg, and the TopK heap sees each posting exactly once
      val perDoc = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("term"))
        .filter(col("term").rlike("^[a-z]+$"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("cnt"))
      perDoc
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          sum(col("cnt")).as("tf"),
          topk((-col("doc_id")).cast("double"), col("doc_id")).as("nb"))
        .filter(col("df") >= 5)
        .select(col("term"), col("df"), col("tf"),
          array_join(transform(col("nb"),
            x => x.getField("id").cast("string")), ",").as("postings"))
        .orderBy("term")
    }),

    // L32: per-language top-quartile quality cut — "keep the best 25% of
    // docs per lang by n_chars" with rank()-style tie handling (ties at
    // the boundary all keep: deterministic, no RNG, no float percentile).
    // Scale shape: a rank cut per group is usually written as a window
    // over the group — a single-task sort per language at 100 TB. Here the
    // rank is DERIVED FROM A HISTOGRAM instead: groupBy (lang, n_chars)
    // counts (partial-agg, scale-free), a window over the tiny histogram
    // computes "# docs strictly better", and the per-lang value cutoff
    // broadcasts back as a scan filter. Only the histogram — bounded by
    // |langs|·|distinct lengths|, not by corpus rows — is ever sorted.
    "l32_quality_cut" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      val hist = docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
      val better = Window.partitionBy("lang").orderBy(desc("n_chars"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = hist.withColumn("cum_gt",
        coalesce(sum("c").over(better), lit(0L)))
      val tot = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      // rank of value v = cum_gt(v)+1; keep ranks ≤ ceil(n/4) = (n+3) div 4
      // (Column./ is DOUBLE division — floor() restores the integer div)
      val cut = cum.join(tot, "lang")
        .filter(col("cum_gt") < floor((col("n") + 3) / 4).cast("long"))
        .groupBy("lang").agg(min("n_chars").as("cut"))
      docs.join(broadcast(cut), "lang")
        .filter(col("n_chars") >= col("cut"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // L33: PageRank centrality by power iteration — over the customer
    // hierarchy tree, NOT the near-dup graph: near-dup components are
    // clique unions where PageRank is provably uniform (see pagerank()'s
    // doc). Spec lane — double summation order varies with partitioning.
    "l33_pagerank" -> ((s, d) => pagerank(s, d)),

    // L34: heavy hitters by Count-Min-Sketch screen + exact confirm — the
    // vocabulary/hot-key census of a corpus without shuffling the long
    // tail. The CMS (driver-built treeAggregate, broadcast to executors)
    // only OVERestimates, so `estimate >= T` is a superset of the true
    // heavy hitters: filtering at the scan drops ~all tail terms before
    // the shuffle, and the exact count + HAVING on the survivors makes
    // the result identical to the unscreened groupBy (same exact-result-
    // via-sketch-prefilter pattern as l29's Bloom). The UDF probe is
    // justified: Spark has no public CMS-membership expression.
    "l34_heavy_hitters" -> ((s, d) => {
      val T = 200L
      val terms = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("term"))
        .filter(col("term").rlike("^[a-z]+$"))
      val cms = terms.stat.countMinSketch("term", 0.001, 0.99, 42)
      val bc = s.sparkContext.broadcast(cms)
      val est = udf((t: String) => bc.value.estimateCount(t))
      terms.filter(est(col("term")) >= T)
        .groupBy("term").agg(count(lit(1)).as("tf"))
        .filter(col("tf") >= T)
        .orderBy("term")
    }),

    // L35: document chunking — fixed-size overlapping windows (500 chars,
    // 50 overlap), the RAG-indexing / context-window prep step. Pure
    // per-row generator (sequence + substring), no shuffle except the
    // verify sort; chunk identity is content-addressed (md5) so the
    // output is join-ready for a dedup or embedding pass downstream.
    "l35_chunk_documents" -> ((s, d) => {
      val size = 500
      val step = 450
      val len = length(col("text"))
      val nch = (lit(1) + greatest(
        ceil((len - size).cast("double") / step), lit(0.0))).cast("int")
      t(s, d, "documents")
        .filter(len > 0)
        .select(col("doc_id"), col("text"),
          posexplode(sequence(lit(0), nch - 1)).as(Seq("chunk_idx", "ci")))
        .select(col("doc_id"), col("text"), col("chunk_idx"),
          (col("ci") * step + 1).as("start"))
        .select(col("doc_id"), col("chunk_idx"),
          col("start").cast("long").as("chunk_start"),
          length(col("text").substr(col("start"), lit(size)))
            .cast("long").as("chunk_len"),
          md5(col("text").substr(col("start"), lit(size))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // L36: vocabulary build + token-id encoding — the tokenizer-prep step:
    // rank the corpus vocabulary by frequency (deterministic (tf DESC,
    // term) order), keep the top V as the vocab, broadcast it, and
    // re-encode every document as dense ids (OOV → 0). The ranking window
    // runs over the AGGREGATED term table — bounded by |vocabulary|, not
    // corpus rows (the same aggregated-frame exemption as l32's
    // histogram); the encode join is a broadcast, so the corpus-side pass
    // is shuffle-free. Per-doc output is checksum-shaped (counts + id sum
    // + 10-token prefix) to stay hash-comparable.
    "l36_vocab_encode" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val V = 100
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos0", "term")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("term"))
        .filter(col("term").rlike("^[a-z]+$"))
      // top-V selection is orderBy+limit → TakeOrderedAndProject (per-
      // partition heaps, distributed); only the ≤V-row survivor frame
      // sees the id-assignment window. Ranking the FULL term table with a
      // global window would single-task-sort the whole vocabulary — the
      // w5-class scale killer (PlanSpec pins the TakeOrdered shape).
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("tf"))
        .orderBy(desc("tf"), col("term")).limit(V)
        .withColumn("id",
          row_number().over(Window.orderBy(desc("tf"), col("term"))))
        .select("term", "id")
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          count(when(col("id").isNull, 1)).as("n_oov"),
          sum(coalesce(col("id"), lit(0)).cast("long")).as("ids_sum"),
          array_join(transform(
            array_sort(collect_list(when(col("pos") <= 10,
              struct(col("pos"), coalesce(col("id"), lit(0)).as("id"))))),
            x => x.getField("id").cast("string")), ",").as("prefix_ids"))
        .orderBy("doc_id")
    }),

    // L37: deterministic per-group sampling — exactly k docs per source,
    // chosen as the k smallest content hashes. A uniform sample that every
    // run, engine, and partitioning reproduces bit-identically (rand()/
    // TABLESAMPLE can't be oracle-checked and changes under repartition);
    // complements l23's rate-based mix sampling with an exact-count-k
    // contract. The bounded-heap BottomK aggregator shuffles |groups|·k
    // rows — no per-group window sort of the corpus.
    "l37_group_sample" -> ((s, d) => {
      val bk = udaf(new graft.functions.BottomK(10),
        org.apache.spark.sql.Encoders.product[graft.functions.Keyed])
      t(s, d, "documents")
        .select(col("source"), md5(col("text")).as("h"), col("doc_id"))
        .groupBy("source")
        .agg(bk(col("h"), col("doc_id")).as("picks"))
        .select(col("source"), explode(col("picks")).as("p"))
        .select(col("source"), col("p.id").as("doc_id"), col("p.key").as("h"))
        .orderBy("source", "h", "doc_id")
    }),

    // L46: domain mixing to a TOKEN BUDGET — the corpus-mixing op of
    // Pile/RedPajama-style recipes: each source's sampling rate is
    // COMPUTED from its token mass (rate = min(1, budget/source_tokens),
    // so under-budget sources keep everything and over-budget sources
    // downsample toward the budget), then docs are selected by a
    // content-derived uniform (md5 → [0,1)) under that rate —
    // deterministic across runs, engines, and partitionings, where
    // rand()-based sampling is none of those. Complements l23 (rates
    // GIVEN per class) and l37 (exact-k per group). Two hash
    // aggregations + one broadcast-size rate join; the corpus never
    // sorts or pairs. The one double division and the u < rate compare
    // are identical-operand ops — cross-engine hash-safe.
    "l46_token_budget_mix" -> ((s, d) => {
      val budget = 1000L
      val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(":"), col("text"))), 1, 8), 16, 10).cast("long") % 1000000)
        .cast("double") / 1000000.0
      val toks = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          u.as("u"))
      val rates = toks.groupBy(col("source").as("src"))
        .agg(sum("n_tok").as("tot"))
        .withColumn("rate", when(col("tot") <= budget, lit(1.0))
          .otherwise(lit(budget.toDouble) / col("tot").cast("double")))
      toks.join(rates, col("source") === col("src"))
        .groupBy("source", "tot", "rate")
        .agg(count(when(col("u") < col("rate"), 1)).as("picked_docs"),
          coalesce(sum(when(col("u") < col("rate"), col("n_tok"))), lit(0L))
            .as("picked_tokens"))
        .select(col("source"), col("tot").as("source_tokens"), col("rate"),
          col("picked_docs"), col("picked_tokens"))
        .orderBy("source")
    }),

    // L47: triangle count over the near-dup candidate graph — the graph-
    // density probe of a dedup pipeline (triangles ≈ transitive clusters:
    // many triangles → near-dup groups are cliques and cluster election
    // l21 will collapse them; few → chains, where greedy min-id survivors
    // over-keep). Computed by the ordered-edge (compact-forward) triple
    // join: edges are canonical a < b, so chaining e1(x,y) ⋈ e2(y,z) ⋈
    // e3(x,z) enumerates each triangle exactly once as x < y < z — no
    // orientation dedup, no per-node adjacency materialization. Scale
    // shape: two hash equi joins over the (sparse) edge table, output a
    // single summary row; the corpus itself is touched only to build
    // edges (shared MinHash banding). One row always — smoke-safe when
    // the tiny fixture has no triangles.
    "l47_triangle_count" -> ((s, d) => {
      val e = minhashPairs(s, d).localCheckpoint(true)
      val e1 = e.select(col("a").as("x"), col("b").as("y"))
      val e2 = e.select(col("a").as("y2"), col("b").as("z2"))
      val e3 = e.select(col("a").as("x3"), col("b").as("z3"))
      val tri = e1.join(e2, col("y") === col("y2"))
        .join(e3, col("x3") === col("x") && col("z3") === col("z2"))
        .agg(count(lit(1)).as("n_triangles"))
      val ecnt = e.agg(count(lit(1)).as("n_edges"))
      val ncnt = e.select(col("a").as("v"))
        .union(e.select(col("b").as("v"))).distinct()
        .agg(count(lit(1)).as("n_nodes"))
      ecnt.crossJoin(ncnt).crossJoin(tri)
    }),

    // L44: C4-style LINE-level dedup with document reconstruction — the
    // corpus is segmented into fixed units (the testdata has no newlines,
    // so "lines" are non-overlapping 10-word segments), any segment that
    // occurs more than once ANYWHERE in the corpus survives only at its
    // first occurrence (min doc_id, then min offset within it), and each
    // document is reassembled from its kept segments in order. This is
    // the C4 "discard duplicated lines across the corpus" pass (Raffel et
    // al. 2020 §2.2) as a relational pipeline: explode → one
    // hash-partitioned groupBy on the segment → join back → ordered
    // re-aggregation. No window over the corpus, no pairs; at 100 TB the
    // segment groupBy keys would be sha2 hashes rather than raw strings
    // (same membership, 32-byte shuffle rows) — raw here for oracle
    // transparency.
    "l44_line_dedup" -> ((s, d) => {
      val segLen = 10
      val ws = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 1)
      val segs = ws
        .select(col("doc_id"),
          explode(sequence(lit(0L),
            ceil(size(col("ws")) / lit(segLen.toDouble)).cast("long") - 1))
            .as("seg_idx"), col("ws"))
        .select(col("doc_id"), col("seg_idx"),
          concat_ws(" ", slice(col("ws"),
            (col("seg_idx") * segLen + 1).cast("int"), lit(segLen))).as("seg"))
      // ONE aggregation (r19): min(struct(doc_id, seg_idx)) is the
      // lexicographic minimum — keeper doc AND that keeper's first
      // occurrence index together — so the former second groupBy at
      // (seg, doc) granularity plus its two-key join collapse into this
      // per-seg agg and a single equi join
      val stats = segs.groupBy("seg")
        .agg(count(lit(1)).as("n"),
          min(struct(col("doc_id"), col("seg_idx"))).as("k"))
        .select(col("seg"), col("n"), col("k.doc_id").as("keeper_doc"),
          col("k.seg_idx").as("keeper_idx"))
      val flagged = segs
        .join(stats, "seg")
        .withColumn("kept",
          when(col("n") === 1, 1L)
            .when(col("doc_id") === col("keeper_doc") &&
              col("seg_idx") === col("keeper_idx"), 1L)
            .otherwise(0L))
      flagged.groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"), sum("kept").as("n_kept"),
          when(sum("kept") > 0,
            array_join(transform(
              array_sort(collect_list(
                when(col("kept") === 1, struct(col("seg_idx"), col("seg"))))),
              x => x.getField("seg")), " "))
            .as("text_clean"))
        .orderBy("doc_id")
    }),

    // L45: duplicated-SPAN detection — the ExactSubstr dedup shape of Lee
    // et al. 2021 ("Deduplicating Training Data Makes Language Models
    // Better") re-expressed relationally: every positional 8-word shingle
    // (stride 1) that appears in ≥2 distinct documents marks its [pos,
    // pos+8) word range as duplicated; per document, overlapping marked
    // ranges merge into maximal spans (the gaps-and-islands coalesce, the
    // same interval algebra as w11/u2), reported as span count + total
    // duplicated words. Where l2/MinHash answers "which DOCUMENT pairs
    // are similar", this answers "which BYTES are copied" — the substrate
    // for cut-the-span dedup. Scale shape: the shingle groupBy is one
    // hash shuffle (keys → sha2 at 100 TB), the island merge is a
    // per-document window (bounded keys), nothing is O(n²).
    "l45_dup_spans" -> ((s, d) => {
      val g = 8
      val ws = t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= g)
      val grams = ws
        .select(col("doc_id"),
          explode(sequence(lit(0L), (size(col("ws")) - g).cast("long")))
            .as("pos"), col("ws"))
        .select(col("doc_id"), col("pos"),
          concat_ws(" ", slice(col("ws"), (col("pos") + 1).cast("int"), lit(g)))
            .as("gram"))
      val shared = grams.groupBy("gram")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("gram")
      val hits = grams.join(shared, "gram")
        .select(col("doc_id"), col("pos"), (col("pos") + g).as("fin"))
      val wPrev = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val spans = hits
        .withColumn("new_island",
          when(col("pos") > coalesce(max("fin").over(wPrev), lit(-1L)), 1L)
            .otherwise(0L))
        .withColumn("isl", sum("new_island").over(wRun))
        .groupBy("doc_id", "isl")
        .agg(min("pos").as("span_start"), max("fin").as("span_end"))
      spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_end") - col("span_start")).as("dup_words"),
          min("span_start").as("first_span"))
        .orderBy("doc_id")
    }),

    // L48: stratified train/val/test split — every document assigned by a
    // content-deterministic hash rule (md5 hex-prefix thresholds,
    // lexicographic: < 'cd' ≈ 80% train, < 'e6' ≈ 10% val, rest test),
    // reported as per-(source, split) doc/token counts. The split step of
    // every LM data pipeline, done the reproducible way: no RNG, no
    // partition-layout dependence — the same document lands in the same
    // split on any engine or cluster (md5 is the cross-engine contract;
    // rand()/xxhash would not be). Scale: one map + one partial-agg
    // shuffle over (source, split) — bounded output, no skew.
    "l48_stratified_split" -> ((s, d) => {
      val b = substring(md5(col("text")), 1, 2)
      t(s, d, "documents")
        .withColumn("split",
          when(b < "cd", "train").when(b < "e6", "val").otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .orderBy("source", "split")
    }),

    // L49: deterministic global corpus shuffle — the shuffle-before-pack
    // step of LM training (examples must be well-mixed before l27's
    // packing), done reproducibly: the permutation key is md5(text), so
    // the SAME corpus yields the SAME order on any engine, any cluster,
    // any partition layout (rand() or zipWithIndex would give neither).
    // Positions come from the two-pass global rank (range-bucket by a
    // numeric key prefix, per-bucket row_number, broadcast bucket
    // offsets — WindowOps.withGlobalRank, the w5 machinery), NEVER a
    // single-partition global window: this is the scale-safe shape of
    // "assign every row its position in a global order". doc_id breaks
    // ties between byte-identical duplicate texts.
    "l49_global_shuffle" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"))
      // numeric range key = first 8 hex chars (monotone in the full hex
      // string, so range partitioning by it respects the md5 order);
      // DOUBLE because withGlobalRank's percentile cuts are doubles —
      // exact for any value < 2^32, which 8 hex chars guarantee
      val keyed = docs
        .withColumn("hk", conv(substring(col("h"), 1, 8), 16, 10).cast("double"))
        .withColumn("tb",
          concat(col("h"), lpad(col("doc_id").cast("string"), 12, "0")))
      WindowOps.withGlobalRank(keyed, 32, col("hk"), col("tb"))
        .select(col("doc_id"), col("grn").as("pos"))
        .orderBy("pos")
    }),

    // L50: HYBRID retrieval by reciprocal-rank fusion — the standard way
    // modern retrieval combines a lexical ranker with a vector ranker
    // (RRF, Cormack et al. 2009): each side retrieves its top-50, a doc's
    // fused score is Σ 1/(60 + rank_side), missing from a side = no
    // contribution. Text side: integer query-term-hit score (map + one
    // TakeOrdered — no global sort). Vector side: exact cosine against a
    // 1-row broadcast probe (cosine_f32, bit-identical to the oracle's
    // double formulation) + TakeOrdered. The row_number windows rank
    // 50-row frames (bounded — PlanGuard-allowlisted); the fusion is a
    // 50∪50-row full outer join. Each 1/(60+r) term and their 2-term sum
    // are fixed ops on identical integers — cross-engine hash-exact.
    "l50_rrf_hybrid" -> ((s, d) => {
      graft.functions.VectorExpressions.register(s)
      import org.apache.spark.sql.expressions.Window
      val qterms = Seq("hash", "join", "scan")
      val tscored = t(s, d, "documents")
        .select(col("doc_id"),
          size(filter(split(lower(col("text")), " "),
            w => w.isInCollection(qterms))).cast("long").as("tscore"))
        .filter(col("tscore") > 0)
        .orderBy(col("tscore").desc, col("doc_id")).limit(50)
      val ttop = tscored.withColumn("rt", row_number()
        .over(Window.orderBy(col("tscore").desc, col("doc_id"))).cast("int"))
      val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pv"))
      val vscored = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .withColumn("cos", expr("cosine_f32(pv, embedding)"))
        .orderBy(col("cos").desc, col("vec_id")).limit(50)
      val vtop = vscored
        .select(col("vec_id").as("doc_id"), col("cos"))
        .withColumn("rv", row_number()
          .over(Window.orderBy(col("cos").desc, col("doc_id"))).cast("int"))
      ttop.select(col("doc_id"), col("rt"))
        .join(vtop.select(col("doc_id"), col("rv")), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0))).as("rrf"),
          col("rt"), col("rv"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    })
  )

  /** Static oracles plus the one generated entry: l54w's oracle reads the
    * engine-emitted signature fixture, so it exists only once the lane has
    * run in this process (Verify runs every lane before dumping the map;
    * a dev-filtered run that skips l54w just omits the entry → the driver
    * records the rows-only check for it, nothing breaks). */
  def oracleSql: Map[String, String] = staticOracleSql ++
    L54wSigs.forOracle.map { p =>
      "l54w_simhash64" ->
        s"""WITH sh AS (
           |  SELECT doc_id, simhash FROM read_parquet('$p/*.parquet'))
           |SELECT x.doc_id AS a, y.doc_id AS b,
           |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
           |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
           |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
           |ORDER BY a, b""".stripMargin
    } ++
    // l53 replay from the frozen codebook fixture: nearest-codeword
    // encode (argmin d², code tiebreak), ADC = sub-ordered left fold of
    // the probe's distance-table entries, top-C by (d asc, id asc),
    // exact-cosine re-rank — every double op in the fold order
    // dot_f32/cosine_f32 pin. The probes ARE corpus vectors, so their
    // distance tables are the encode d² rows restricted to probe ids.
    PqCbFix.forOracle.map { p =>
      "l53_ann_pq" ->
        s"""WITH cb AS (
           |  SELECT sub, code, list_transform(cvec, x -> CAST(x AS DOUBLE)) AS c
           |  FROM read_parquet('$p/*.parquet')),
           |sd AS (SELECT len(c) AS sd FROM cb LIMIT 1),
           |e AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |sl AS (
           |  SELECT vec_id, sub, v[sub * sd + 1 : sub * sd + sd] AS sv
           |  FROM e CROSS JOIN sd
           |  CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS sub)),
           |d2 AS (
           |  SELECT sl.vec_id, sl.sub, cb.code,
           |    list_reduce(list_transform(generate_series(1, len(sv)),
           |      i -> sv[i] * sv[i]), (x, y) -> x + y)
           |    + list_reduce(list_transform(generate_series(1, len(c)),
           |        i -> c[i] * c[i]), (x, y) -> x + y)
           |    - 2 * list_reduce(list_transform(generate_series(1, len(sv)),
           |        i -> sv[i] * c[i]), (x, y) -> x + y) AS d2
           |  FROM sl JOIN cb ON cb.sub = sl.sub),
           |codes AS (
           |  SELECT vec_id, sub, code FROM (
           |    SELECT vec_id, sub, code,
           |      row_number() OVER (PARTITION BY vec_id, sub
           |        ORDER BY d2, code) AS rn
           |    FROM d2) WHERE rn = 1),
           |dt AS (SELECT vec_id AS probe_id, sub, code, d2 AS pd2
           |       FROM d2 WHERE vec_id < 10),
           |adc AS (
           |  SELECT dt.probe_id, c.vec_id,
           |    list_reduce(list(dt.pd2 ORDER BY dt.sub), (x, y) -> x + y) AS d
           |  FROM dt JOIN codes c ON c.sub = dt.sub AND c.code = dt.code
           |  WHERE c.vec_id <> dt.probe_id
           |  GROUP BY dt.probe_id, c.vec_id),
           |cand AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id
           |        ORDER BY d, vec_id) AS rn
           |    FROM adc) WHERE rn <= $PqRerank),
           |n AS (
           |  SELECT vec_id, v,
           |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
           |  FROM e),
           |rr AS (
           |  SELECT cand.probe_id, cand.vec_id AS neighbor_id,
           |    list_reduce(list_transform(generate_series(1, len(p.v)),
           |      i -> p.v[i] * b.v[i]), (x, y) -> x + y) / (p.nrm * b.nrm) AS cos
           |  FROM cand
           |  JOIN n b ON b.vec_id = cand.vec_id
           |  JOIN n p ON p.vec_id = cand.probe_id),
           |r AS (
           |  SELECT probe_id, neighbor_id, cos,
           |    CAST(row_number() OVER (PARTITION BY probe_id
           |      ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
           |  FROM rr)
           |SELECT probe_id, rnk, neighbor_id, cos AS sim
           |FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
    } ++
    // l20 replay from the frozen centroid fixture: top-2 cell
    // multi-assignment, top-nprobe probe cells (nprobe inlined at
    // generation time), cell-restricted candidates, exact-cosine top-5.
    IvfCentFix.forOracle.map { case (p, nprobe) =>
      "l20_ann_ivf" ->
        s"""WITH cent AS (
           |  SELECT cell, list_transform(cvec, x -> CAST(x AS DOUBLE)) AS c
           |  FROM read_parquet('$p/*.parquet')),
           |e AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |n AS (
           |  SELECT vec_id, v,
           |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
           |  FROM e),
           |cn AS (
           |  SELECT cell, c,
           |    sqrt(list_reduce(list_transform(c, x -> x * x), (a, b) -> a + b)) AS cnrm
           |  FROM cent),
           |csim AS (
           |  SELECT n.vec_id, cn.cell,
           |    list_reduce(list_transform(generate_series(1, len(n.v)),
           |      i -> n.v[i] * cn.c[i]), (x, y) -> x + y) / (n.nrm * cn.cnrm) AS cs
           |  FROM n CROSS JOIN cn),
           |cells AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT vec_id, cell,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
           |    FROM csim) WHERE rn <= 2),
           |pcells AS (
           |  SELECT vec_id AS probe_id, cell FROM (
           |    SELECT vec_id, cell,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
           |    FROM csim WHERE vec_id < 10) WHERE rn <= $nprobe),
           |cand AS (
           |  SELECT DISTINCT p.probe_id, cl.vec_id
           |  FROM pcells p JOIN cells cl ON cl.cell = p.cell
           |  WHERE cl.vec_id <> p.probe_id),
           |rr AS (
           |  SELECT cand.probe_id, cand.vec_id AS neighbor_id,
           |    list_reduce(list_transform(generate_series(1, len(p.v)),
           |      i -> p.v[i] * b.v[i]), (x, y) -> x + y) / (p.nrm * b.nrm) AS cos
           |  FROM cand
           |  JOIN n b ON b.vec_id = cand.vec_id
           |  JOIN n p ON p.vec_id = cand.probe_id),
           |r AS (
           |  SELECT probe_id, neighbor_id, cos,
           |    CAST(row_number() OVER (PARTITION BY probe_id
           |      ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
           |  FROM rr)
           |SELECT probe_id, rnk, neighbor_id, cos AS sim
           |FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
    } ++
    // l66 replay from the frozen PCA fixture: center each embedding on
    // the fixture's mean row (j = -1), dot against each axis row — the
    // same left-fold term order as the lane's aggregate(transform(...))
    // (DuckDB's no-init list_reduce differs only in folding 0.0 into the
    // first term, bitwise-identical off the all-zero diagonal).
    PcaFix.forOracle.map { p =>
      "l66_pca_project" ->
        s"""WITH fx AS (SELECT j, cvec FROM read_parquet('$p/*.parquet')),
           |m AS (SELECT cvec AS m FROM fx WHERE j = -1),
           |ax AS (SELECT j, cvec AS c FROM fx WHERE j >= 0),
           |e AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings WHERE vec_id < $PcaProbes)
           |SELECT e.vec_id, ax.j,
           |  list_reduce(list_transform(generate_series(1, len(v)),
           |    i -> (v[i] - m.m[i]) * ax.c[i]), (x, y) -> x + y) AS pc
           |FROM e CROSS JOIN m CROSS JOIN ax
           |ORDER BY vec_id, j""".stripMargin
    } ++
    // l70 replay from the frozen k-means fixture: squared distance to
    // each centroid in the lane's ascending-index term order (squares
    // are never -0.0, so DuckDB's no-init fold is bitwise-identical to
    // Spark's 0D-init fold), argmin via (dist, cid) ordering.
    KmFix.forOracle.map { p =>
      "l70_kmeans_cluster" ->
        s"""WITH cf AS (SELECT cid, cvec FROM read_parquet('$p/*.parquet')),
           |e AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |dd AS (
           |  SELECT e.vec_id, cf.cid,
           |    list_reduce(list_transform(generate_series(1, len(v)),
           |      i -> (v[i] - cvec[i]) * (v[i] - cvec[i])), (x, y) -> x + y)
           |      AS dist
           |  FROM e CROSS JOIN cf),
           |r AS (
           |  SELECT vec_id, cid, dist,
           |    row_number() OVER (PARTITION BY vec_id
           |      ORDER BY dist, cid) AS rn
           |  FROM dd)
           |SELECT vec_id, cid, dist FROM r WHERE rn = 1
           |ORDER BY vec_id""".stripMargin
    } ++
    // l71 replay: the same frozen-fixture assignment, then per-cluster
    // nearest-5 via (dist, vec_id) ordering — TopK's (-score, id) order
    // on negated distances, replayed as a plain window rank.
    KmFix.forOracle.map { p =>
      "l71_cluster_coreset" ->
        s"""WITH cf AS (SELECT cid, cvec FROM read_parquet('$p/*.parquet')),
           |e AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |dd AS (
           |  SELECT e.vec_id, cf.cid,
           |    list_reduce(list_transform(generate_series(1, len(v)),
           |      i -> (v[i] - cvec[i]) * (v[i] - cvec[i])), (x, y) -> x + y)
           |      AS dist
           |  FROM e CROSS JOIN cf),
           |a AS (
           |  SELECT vec_id, cid, dist FROM (
           |    SELECT vec_id, cid, dist,
           |      row_number() OVER (PARTITION BY vec_id
           |        ORDER BY dist, cid) AS rn
           |    FROM dd) WHERE rn = 1),
           |tk AS (
           |  SELECT cid, vec_id, dist,
           |    row_number() OVER (PARTITION BY cid
           |      ORDER BY dist, vec_id) AS rnk
           |  FROM a)
           |SELECT cid, CAST(rnk AS INT) AS rnk, vec_id, dist
           |FROM tk WHERE rnk <= 5 ORDER BY cid, rnk""".stripMargin
    }

  private val staticOracleSql: Map[String, String] = Map(
    "l37_group_sample" ->
      """SELECT source, doc_id, h FROM (
        |  SELECT source, doc_id, md5(text) AS h,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY md5(text), doc_id) AS rn
        |  FROM documents) s
        |WHERE rn <= 10
        |ORDER BY source, h, doc_id""".stripMargin,

    "l1_exact_dedup" ->
      """SELECT sha256(text) AS text_sha, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS dup_cnt
        |FROM documents GROUP BY 1 ORDER BY text_sha""".stripMargin,

    "l43_normalize_dedup" ->
      """SELECT sha256(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_sha,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS dup_cnt
        |FROM documents GROUP BY 1 ORDER BY norm_sha""".stripMargin,

    "l2_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 4),
        |      i -> array_to_string(tk[i:i+4], ' '))) AS sh
        |  FROM toks WHERE len(tk) >= 5),
        |bs AS (
        |  SELECT doc_id, b, min(substr(md5(sh), b * 8 + 1, 8)) AS sig
        |  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)
        |  GROUP BY doc_id, b)
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |FROM bs x JOIN bs y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id
        |ORDER BY a, b""".stripMargin,

    "l3_knn_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        |  FROM e),
        |p AS (
        |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
        |    list_reduce(list_transform(generate_series(1, len(a.v)),
        |      i -> a.v[i] * b.v[i]), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
        |r AS (
        |  SELECT probe_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
        |  FROM p)
        |SELECT probe_id, rnk, neighbor_id, cos AS sim
        |FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    "l67_int8_quant" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e),
        |x AS (
        |  SELECT vec_id, scale, v,
        |    unnest(generate_series(1, len(v))) AS i1
        |  FROM s)
        |SELECT vec_id, scale, CAST(i1 - 1 AS INT) AS i,
        |  CAST(least(127, greatest(-127,
        |    CASE WHEN scale = 0 THEN 0
        |         ELSE floor(v[i1] / scale + 0.5) END)) AS BIGINT) AS qv
        |FROM x ORDER BY vec_id, i""".stripMargin,

    // the cosine_i8 replay: codes from the l67 arithmetic (exact small
    // integers), dot/norms accumulated ascending like the kernel — the
    // scale column is deliberately absent from the cosine (it cancels)
    "l68_sq8_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e WHERE vec_id < 400),
        |c AS (
        |  SELECT vec_id,
        |    list_transform(v, x -> CAST(CAST(least(127, greatest(-127,
        |      CASE WHEN scale = 0 THEN 0
        |           ELSE floor(x / scale + 0.5) END)) AS BIGINT) AS DOUBLE)) AS q
        |  FROM s),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5)
        |SELECT p.probe_id, c.vec_id,
        |  list_reduce(list_transform(generate_series(1, len(p.pv)),
        |    i -> p.pv[i] * c.q[i]), (x, y) -> x + y)
        |  / (sqrt(list_reduce(list_transform(p.pv, x -> x * x), (a, b) -> a + b))
        |     * sqrt(list_reduce(list_transform(c.q, x -> x * x), (a, b) -> a + b)))
        |    AS sim
        |FROM c JOIN p ON p.probe_id <> c.vec_id
        |ORDER BY probe_id, vec_id""".stripMargin,

    "l69_quantile_gate" ->
      """WITH m AS (
        |  SELECT lang,
        |    quantile_cont(n_chars, 0.05) AS p05,
        |    quantile_cont(n_chars, 0.95) AS p95
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
        |  m.p05, m.p95,
        |  CASE WHEN d.n_chars < m.p05 THEN 'too_short'
        |       WHEN d.n_chars > m.p95 THEN 'too_long'
        |       ELSE 'keep' END AS verdict
        |FROM documents d JOIN m USING (lang)
        |ORDER BY d.doc_id""".stripMargin,

    "l4_token_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / count(*)
        |    AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "l51_tfidf_exact" ->
      """WITH tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  WHERE length(term) > 0 GROUP BY doc_id, term
        |), dfq AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
        |), nd AS (
        |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM documents)
        |SELECT doc_id, term, tf, df,
        |  round(CAST(tf AS DOUBLE)
        |        * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 4) AS tfidf
        |FROM tf JOIN dfq USING (term) CROSS JOIN nd
        |WHERE tf >= 3 ORDER BY doc_id, term""".stripMargin,

    "l6_langid" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t IN ('the', 'a', 'of'))) AS BIGINT) AS en_s,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t IN ('der', 'die', 'das'))) AS BIGINT) AS de_s,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t IN ('le', 'la', 'et'))) AS BIGINT) AS fr_s,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t IN ('el', 'los', 'y'))) AS BIGINT) AS es_s
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN en_s >= de_s AND en_s >= fr_s AND en_s >= es_s AND en_s > 0
        |         THEN 'en'
        |       WHEN de_s >= fr_s AND de_s >= es_s AND de_s > 0 THEN 'de'
        |       WHEN fr_s >= es_s AND fr_s > 0 THEN 'fr'
        |       WHEN es_s > 0 THEN 'es'
        |       ELSE 'und' END AS pred_lang,
        |  en_s, de_s, fr_s, es_s
        |FROM s ORDER BY doc_id""".stripMargin,

    "l52_langid_eval" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t IN ('the', 'a', 'of'))) AS BIGINT) AS en_s,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t IN ('der', 'die', 'das'))) AS BIGINT) AS de_s,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t IN ('le', 'la', 'et'))) AS BIGINT) AS fr_s,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t IN ('el', 'los', 'y'))) AS BIGINT) AS es_s
        |  FROM documents),
        |pred AS (
        |  SELECT doc_id,
        |    CASE WHEN en_s >= de_s AND en_s >= fr_s AND en_s >= es_s AND en_s > 0
        |           THEN 'en'
        |         WHEN de_s >= fr_s AND de_s >= es_s AND de_s > 0 THEN 'de'
        |         WHEN fr_s >= es_s AND fr_s > 0 THEN 'fr'
        |         WHEN es_s > 0 THEN 'es'
        |         ELSE 'und' END AS pred_lang
        |  FROM s),
        |conf AS (
        |  SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents d JOIN pred p USING (doc_id)
        |  GROUP BY d.lang, p.pred_lang),
        |tot AS (
        |  SELECT lang, CAST(sum(n) AS BIGINT) AS gold_total
        |  FROM conf GROUP BY lang)
        |SELECT lang, pred_lang, n, gold_total,
        |  CAST(n AS DOUBLE) / CAST(gold_total AS DOUBLE) AS frac
        |FROM conf JOIN tot USING (lang)
        |ORDER BY lang, pred_lang""".stripMargin,

    "l7_quality" ->
      """SELECT doc_id, n_chars,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
        |    AS BIGINT) AS punct_cnt,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
        |    / len(string_split(lower(text), ' ')) AS stop_ratio,
        |  CASE WHEN n_chars BETWEEN 100 AND 5000
        |         AND len(string_split(lower(text), ' ')) >= 20
        |       THEN 'keep' ELSE 'drop' END AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "l8_fingerprint" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS cnt
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "l9_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, k,
        |    SUM(CASE WHEN (h >> k) % 2 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS k)
        |  GROUP BY doc_id, k)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
        |    AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Brute force over all pairs: the banded screen is provably complete
    // (pigeonhole: ≤3 differing bits leave one of 4 bands intact), so the
    // Spark plan must hash-match the unscreened formulation exactly.
    "l54_simhash_neardup" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, k,
        |    SUM(CASE WHEN (h >> k) % 2 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS k)
        |  GROUP BY doc_id, k),
        |sh AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
        |      AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
        |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
        |ORDER BY a, b""".stripMargin,

    // Brute force: exact Jaccard over every token-sharing pair — the
    // prefix-filtered Spark plan must match it exactly (screen complete,
    // verify exact, all threshold arithmetic integer).
    "l55_allpairs_jaccard" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |toks AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 4),
        |      i -> array_to_string(tk[i:i+4], ' '))) AS tok
        |  FROM tk WHERE len(tk) >= 5),
        |sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
        |  FROM toks x JOIN toks y ON x.tok = y.tok AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.a, i.b, CAST(i.i AS BIGINT) AS n_common,
        |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
        |  round(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 4) AS jaccard
        |FROM inter i
        |JOIN sz sa ON sa.doc_id = i.a
        |JOIN sz sb ON sb.doc_id = i.b
        |WHERE 5 * i.i >= 3 * (sa.n + sb.n - i.i)
        |ORDER BY a, b""".stripMargin,

    // The λ model replays bucket-for-bucket: identical ln/floor tree,
    // identical scalar totals, then exact integer weight sums.
    "l56_dsir_weights" ->
      """WITH feats AS (
        |  SELECT doc_id, lang, tok,
        |    CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) % 256 AS bucket
        |  FROM (SELECT doc_id, lang,
        |          unnest(string_split(lower(text), ' ')) AS tok
        |        FROM documents)
        |  WHERE length(tok) > 0),
        |tot AS (
        |  SELECT count(*) AS tr,
        |    count(*) FILTER (WHERE lang = 'en') AS tt FROM feats),
        |raw AS (SELECT bucket, count(*) AS rc FROM feats GROUP BY 1),
        |tgt AS (SELECT bucket, count(*) AS tc FROM feats
        |        WHERE lang = 'en' GROUP BY 1),
        |lam AS (
        |  SELECT b.bucket,
        |    CAST(floor((ln(coalesce(t.tc, 0) + 1)
        |      - ln((SELECT tt FROM tot) + 256)
        |      - ln(coalesce(r.rc, 0) + 1)
        |      + ln((SELECT tr FROM tot) + 256)) * 4294967296.0) AS BIGINT)
        |      AS lam_fp
        |  FROM (SELECT unnest(generate_series(0, 255)) AS bucket) b
        |  LEFT JOIN raw r ON r.bucket = b.bucket
        |  LEFT JOIN tgt t ON t.bucket = b.bucket),
        |dc AS (SELECT doc_id, bucket, count(*) AS c FROM feats GROUP BY 1, 2)
        |SELECT dc.doc_id,
        |  CAST(SUM(dc.c * lam.lam_fp) AS BIGINT) AS weight_fp,
        |  CAST(CASE WHEN SUM(dc.c * lam.lam_fp) > 0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS keep,
        |  round(CAST(SUM(dc.c * lam.lam_fp) AS DOUBLE) / 4294967296.0, 4)
        |    + 0.0 AS log_weight
        |FROM dc JOIN lam ON lam.bucket = dc.bucket
        |GROUP BY dc.doc_id ORDER BY doc_id""".stripMargin,

    // Stage-for-stage replay of the six-stage pipeline: quality cut,
    // sha256 min-id dedup, the l2 minhash bands over the survivors,
    // 8-gram eval-overlap decontamination, the l48 split rule, and the
    // packing cumsum (DuckDB does it as one global window; the Spark
    // side's bucketed two-pass computes the identical prefix sums).
    "l57_pipeline" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id >= 50),
        |q AS (
        |  SELECT doc_id, text FROM corpus
        |  WHERE n_chars BETWEEN 100 AND 5000
        |    AND len(string_split(lower(text), ' ')) >= 20),
        |keep AS (
        |  SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
        |  FROM q GROUP BY sha256(text)),
        |e AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
        |toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM e),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 4),
        |      i -> array_to_string(tk[i:i+4], ' '))) AS sh
        |  FROM toks WHERE len(tk) >= 5),
        |bs AS (
        |  SELECT doc_id, b, min(substr(md5(sh), b * 8 + 1, 8)) AS sig
        |  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)
        |  GROUP BY doc_id, b),
        |losers AS (
        |  SELECT DISTINCT y.doc_id
        |  FROM bs x JOIN bs y
        |    ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |nd AS (
        |  SELECT * FROM e
        |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
        |etoks AS (
        |  SELECT string_split(lower(text), ' ') AS tk
        |  FROM documents WHERE doc_id < 50),
        |esh AS (
        |  SELECT DISTINCT
        |    unnest(list_transform(generate_series(1, len(tk) - 7),
        |      i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh
        |  FROM etoks WHERE len(tk) >= 8),
        |ntoks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM nd),
        |nsh AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(tk[i:i+7], ' ')) AS sh
        |  FROM ntoks, unnest(generate_series(1, len(tk) - 7)) AS u(i)
        |  WHERE len(tk) >= 8),
        |contaminated AS (
        |  SELECT DISTINCT nsh.doc_id FROM nsh JOIN esh USING (sh)),
        |dc AS (
        |  SELECT * FROM nd
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5(text), 1, 2) < 'cd' THEN 'train'
        |         WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM dc),
        |pk AS (
        |  SELECT doc_id,
        |    coalesce(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS start_tok
        |  FROM sp WHERE split = 'train')
        |SELECT sp.doc_id, sp.split, sp.n_tok,
        |  CAST(pk.start_tok AS BIGINT) AS start_tok,
        |  CAST(floor(pk.start_tok / 2048.0) AS BIGINT) AS bin
        |FROM sp LEFT JOIN pk ON sp.doc_id = pk.doc_id
        |ORDER BY sp.doc_id""".stripMargin,

    // Window positions, covered-position union and the ordered rebuild
    // all replay exactly; string_agg(... ORDER BY pos) mirrors the
    // Spark side's array_sort(struct(pos, tok)) reconstruction.
    "l58_span_decontam" ->
      """WITH corpus AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents WHERE doc_id >= 50),
        |etoks AS (
        |  SELECT string_split(lower(text), ' ') AS tk
        |  FROM documents WHERE doc_id < 50),
        |esh AS (
        |  SELECT DISTINCT
        |    unnest(list_transform(generate_series(1, len(tk) - 7),
        |      i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh
        |  FROM etoks WHERE len(tk) >= 8),
        |toks AS (
        |  SELECT doc_id, i AS pos, tk[i] AS tok
        |  FROM corpus, unnest(generate_series(1, len(tk))) AS u(i)),
        |wins AS (
        |  SELECT doc_id, i,
        |    md5(lower(array_to_string(tk[i:i+7], ' '))) AS sh
        |  FROM corpus, unnest(generate_series(1, len(tk) - 7)) AS u(i)
        |  WHERE len(tk) >= 8),
        |hits AS (
        |  SELECT wins.doc_id, wins.i FROM wins JOIN esh USING (sh)),
        |covered AS (
        |  SELECT DISTINCT hits.doc_id, u2.j AS pos
        |  FROM hits, unnest(generate_series(hits.i, hits.i + 7)) AS u2(j)),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.tok FROM toks t
        |  LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
        |  WHERE c.pos IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT c.doc_id,
        |  coalesce(a.clean_text, '') AS clean_text,
        |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(len(c.tk) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM corpus c LEFT JOIN agg a USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin,

    "l12_jaccard_verify" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 4),
        |      i -> array_to_string(tk[i:i+4], ' '))) AS sh
        |  FROM toks WHERE len(tk) >= 5),
        |nsh AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
        |bs AS (
        |  SELECT doc_id, b, min(substr(md5(sh), b * 8 + 1, 8)) AS sig
        |  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)
        |  GROUP BY doc_id, b),
        |cands AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bs x JOIN bs y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |inter AS (
        |  SELECT c.a, c.b, count(*) AS inter
        |  FROM cands c
        |    JOIN sh sa ON sa.doc_id = c.a
        |    JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh
        |  GROUP BY c.a, c.b)
        |SELECT i.a, i.b, CAST(i.inter AS BIGINT) AS inter,
        |  CAST(nA.nsh AS BIGINT) AS na, CAST(nB.nsh AS BIGINT) AS nb,
        |  CAST(i.inter AS DOUBLE) / (nA.nsh + nB.nsh - i.inter) AS jac
        |FROM inter i
        |  JOIN nsh nA ON nA.doc_id = i.a
        |  JOIN nsh nB ON nB.doc_id = i.b
        |WHERE CAST(i.inter AS DOUBLE) / (nA.nsh + nB.nsh - i.inter) >= 0.2
        |ORDER BY a, b""".stripMargin,

    "l21_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 4),
        |      i -> array_to_string(tk[i:i+4], ' '))) AS sh
        |  FROM toks WHERE len(tk) >= 5),
        |bs AS (
        |  SELECT doc_id, b, min(substr(md5(sh), b * 8 + 1, 8)) AS sig
        |  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)
        |  GROUP BY doc_id, b),
        |cands AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bs x JOIN bs y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM cands
        |  UNION ALL SELECT b AS src, a AS dst FROM cands),
        |reach(v, lab) AS (
        |  SELECT DISTINCT src AS v, src AS lab FROM edges
        |  UNION
        |  SELECT e.src AS v, r.lab FROM edges e JOIN reach r ON e.dst = r.v),
        |comp AS (SELECT v, min(lab) AS lab FROM reach GROUP BY v)
        |SELECT d.doc_id,
        |  CAST(coalesce(c.lab, d.doc_id) AS BIGINT) AS cluster_id,
        |  (d.doc_id = coalesce(c.lab, d.doc_id)) AS is_canonical
        |FROM documents d LEFT JOIN comp c ON c.v = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "l22_token_bpe" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r]')) AS BIGINT) AS bpe_tokens,
        |  CASE WHEN len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r]')) > 0
        |    THEN CAST(n_chars AS DOUBLE)
        |      / len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r]'))
        |    ELSE NULL END AS chars_per_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "l25_corpus_curation" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 4),
        |      i -> array_to_string(tk[i:i+4], ' '))) AS sh
        |  FROM toks WHERE len(tk) >= 5),
        |bs AS (
        |  SELECT doc_id, b, min(substr(md5(sh), b * 8 + 1, 8)) AS sig
        |  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)
        |  GROUP BY doc_id, b),
        |cands AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM bs x JOIN bs y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM cands
        |  UNION ALL SELECT b AS src, a AS dst FROM cands),
        |reach(v, lab) AS (
        |  SELECT DISTINCT src AS v, src AS lab FROM edges
        |  UNION
        |  SELECT e.src AS v, r.lab FROM edges e JOIN reach r ON e.dst = r.v),
        |comp AS (SELECT v, min(lab) AS lab FROM reach GROUP BY v),
        |q AS (
        |  SELECT doc_id, string_split(text, ' ') AS qtk FROM documents),
        |rules AS (
        |  SELECT doc_id,
        |    (CAST(len(qtk) AS BIGINT) BETWEEN 50 AND 100000
        |     AND CAST(list_reduce(list_transform(qtk, w -> CAST(length(w) AS BIGINT)),
        |       (a, b) -> a + b) AS DOUBLE) / len(qtk) BETWEEN 3.0 AND 10.0
        |     AND CAST(len(list_filter(qtk, w -> regexp_matches(w, '[a-zA-Z]')))
        |       AS DOUBLE) / len(qtk) > 0.7
        |     AND CAST(len(list_intersect(
        |       list_distinct(list_transform(qtk, w -> lower(w))),
        |       ['the', 'a', 'of', 'and', 'to'])) AS BIGINT) >= 2) AS keep
        |  FROM q),
        |sha AS (
        |  SELECT min(doc_id) AS sid FROM documents GROUP BY sha256(text))
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d
        |JOIN rules r ON r.doc_id = d.doc_id AND r.keep
        |JOIN sha ON sha.sid = d.doc_id
        |LEFT JOIN comp c ON c.v = d.doc_id
        |WHERE CAST('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        |    AS BIGINT) % 1000
        |    < CASE WHEN d.lang = 'en' THEN 500
        |           WHEN d.lang = 'de' THEN 1000 ELSE 200 END
        |  AND coalesce(c.lab, d.doc_id) = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "l28_filtered_knn" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    label
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v, label,
        |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        |  FROM e),
        |c AS (
        |  SELECT n.vec_id, n.v, n.nrm, n.label
        |  FROM n JOIN documents d ON d.doc_id = n.vec_id
        |  WHERE d.lang = 'en'),
        |p AS (
        |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
        |    list_reduce(list_transform(generate_series(1, len(a.v)),
        |      i -> a.v[i] * b.v[i]), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        |  FROM n a JOIN c b
        |    ON a.vec_id < 10 AND a.vec_id <> b.vec_id AND a.label = b.label),
        |r AS (
        |  SELECT probe_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
        |  FROM p)
        |SELECT probe_id, rnk, neighbor_id, cos AS sim
        |FROM r WHERE rnk <= 3 ORDER BY probe_id, rnk""".stripMargin,

    "l26_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 7),
        |      i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh
        |  FROM toks WHERE len(tk) >= 8),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50),
        |hits AS (
        |  SELECT s.doc_id, count(*) AS n_shared
        |  FROM sh s JOIN ev ON ev.sh = s.sh
        |  WHERE s.doc_id >= 50 GROUP BY s.doc_id)
        |SELECT d.doc_id, CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
        |  coalesce(h.n_shared, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        |WHERE d.doc_id >= 50 ORDER BY d.doc_id""".stripMargin,

    "l38_contamination_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 7),
        |      i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh
        |  FROM toks WHERE len(tk) >= 8),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50)
        |SELECT s.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(count(ev.sh) AS BIGINT) AS n_shared,
        |  CAST(count(ev.sh) AS DOUBLE) / count(*) AS overlap_frac
        |FROM sh s LEFT JOIN ev ON ev.sh = s.sh
        |WHERE s.doc_id >= 50
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "l39_bigram_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 1),
        |      i -> array_to_string(tk[i:i+1], ' '))) AS bg
        |  FROM toks WHERE len(tk) >= 2),
        |model AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg)
        |SELECT b.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(count(*) FILTER (WHERE m.cnt >= 3) AS BIGINT) AS n_common,
        |  CAST(count(*) FILTER (WHERE m.cnt >= 3) AS DOUBLE) / count(*)
        |    AS common_frac
        |FROM bg b JOIN model m ON m.bg = b.bg
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    "l27_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    coalesce(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
        |  FROM d)
        |SELECT doc_id, n_tok, CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(floor(start_tok / 2048.0) AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,

    "l24_winnowing" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, length(text) - 7)) AS pos, text
        |  FROM documents WHERE length(text) >= 8),
        |h AS (
        |  SELECT doc_id, pos,
        |    CAST('0x' || substr(md5(substr(text, pos, 8)), 1, 8) AS BIGINT) AS h
        |  FROM g),
        |f AS (
        |  SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM h)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "l23_mix_sample" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) % 1000 AS bucket,
        |    CASE WHEN lang = 'en' THEN 500
        |         WHEN lang = 'de' THEN 1000
        |         ELSE 200 END AS rate
        |  FROM documents)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < rate ORDER BY doc_id""".stripMargin,

    "l15_source_stats" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_distinct,
        |  1.0 - CAST(count(DISTINCT sha256(text)) AS DOUBLE) / count(*)
        |    AS dup_rate,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "l16_gopher_quality" ->
      """WITH s AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_words,
        |    CAST(list_reduce(list_transform(tk, w -> CAST(length(w) AS BIGINT)),
        |      (a, b) -> a + b) AS DOUBLE) / len(tk) AS mean_word_len,
        |    CAST(len(list_filter(tk, w -> regexp_matches(w, '[a-zA-Z]')))
        |      AS DOUBLE) / len(tk) AS alpha_ratio,
        |    CAST(len(list_intersect(list_distinct(list_transform(tk, w -> lower(w))),
        |      ['the', 'a', 'of', 'and', 'to'])) AS BIGINT) AS distinct_stops
        |  FROM s)
        |SELECT doc_id, n_words, mean_word_len, alpha_ratio, distinct_stops,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND alpha_ratio > 0.7 AND distinct_stops >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "l17_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 1),
        |      i -> array_to_string(tk[i:i+1], ' '))) AS bg
        |  FROM toks),
        |cnt AS (
        |  SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg)
        |SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bigram_cnt,
        |  CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |  CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS rep_frac
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "l18_pii_scan" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+'))
        |    AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT)
        |    AS n_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin,

    "l59_pii_redact" ->
      """WITH enr AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' ||
        |      CAST(doc_id AS VARCHAR) || '@mail.example.com account ' ||
        |      CAST(doc_id * 7919 + 1000000 AS VARCHAR)
        |    ELSE text END AS text
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+',
        |      '<EMAIL>', 'g') AS after_email
        |  FROM enr)
        |SELECT doc_id,
        |  regexp_replace(after_email, '[0-9]{6,}', '<NUM>', 'g')
        |    AS redacted_text,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+'))
        |    + len(regexp_extract_all(after_email, '[0-9]{6,}'))
        |    AS BIGINT) AS n_redactions
        |FROM e ORDER BY doc_id""".stripMargin,

    "l11_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST('0x' || substr(md5(text), 1, 4) AS BIGINT) % 1024 AS fake_w,
        |  CAST('0x' || substr(md5(text), 5, 4) AS BIGINT) % 1024 AS fake_h,
        |  sha256(text) AS payload_sha
        |FROM documents ORDER BY doc_id""".stripMargin,

    // l29 is l26's contract re-planned (bloom prefilter + exact confirm):
    // the oracle is the same anti-join SQL — the point IS that the screened
    // plan hash-matches the unscreened formulation.
    "l29_decontaminate_bloom" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 7),
        |      i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh
        |  FROM toks WHERE len(tk) >= 8),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50),
        |hits AS (
        |  SELECT s.doc_id, count(*) AS n_shared
        |  FROM sh s JOIN ev ON ev.sh = s.sh
        |  WHERE s.doc_id >= 50 GROUP BY s.doc_id)
        |SELECT d.doc_id, CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
        |  coalesce(h.n_shared, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        |WHERE d.doc_id >= 50 ORDER BY d.doc_id""".stripMargin,

    // l60 serves l29's exact contract from the standing DecontamIndex
    // store — same unscreened oracle: store-served must equal recomputed.
    "l60_decontam_index" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 7),
        |      i -> md5(array_to_string(tk[i:i+7], ' ')))) AS sh
        |  FROM toks WHERE len(tk) >= 8),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50),
        |hits AS (
        |  SELECT s.doc_id, count(*) AS n_shared
        |  FROM sh s JOIN ev ON ev.sh = s.sh
        |  WHERE s.doc_id >= 50 GROUP BY s.doc_id)
        |SELECT d.doc_id, CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
        |  coalesce(h.n_shared, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        |WHERE d.doc_id >= 50 ORDER BY d.doc_id""".stripMargin,

    "l30_inverted_index" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |f AS (
        |  SELECT term, doc_id FROM tk WHERE regexp_matches(term, '^[a-z]+$')),
        |pd AS (
        |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS cnt
        |  FROM f GROUP BY term, doc_id),
        |g AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(cnt) AS BIGINT) AS tf,
        |    array_to_string((list_sort(list(doc_id)))[1:8], ',') AS postings
        |  FROM pd GROUP BY term)
        |SELECT term, df, tf, postings FROM g
        |WHERE df >= 5 ORDER BY term""".stripMargin,

    "l35_chunk_documents" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len
        |  FROM documents WHERE length(text) > 0),
        |n AS (
        |  SELECT doc_id, text,
        |    CAST(1 + greatest(ceil((len - 500) / 450.0), 0) AS BIGINT) AS nch
        |  FROM d),
        |c AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0, nch - 1)) AS i
        |  FROM n)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(i * 450 + 1 AS BIGINT) AS chunk_start,
        |  CAST(length(substr(text, CAST(i * 450 + 1 AS INT), 500)) AS BIGINT)
        |    AS chunk_len,
        |  md5(substr(text, CAST(i * 450 + 1 AS INT), 500)) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "l36_vocab_encode" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(generate_series(1, len(tk))) AS pos, tk
        |  FROM toks),
        |f AS (
        |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, tk[pos] AS term
        |  FROM g WHERE regexp_matches(tk[pos], '^[a-z]+$')),
        |tf AS (SELECT term, count(*) AS tf FROM f GROUP BY term),
        |vocab AS (
        |  SELECT term, CAST(row_number() OVER (ORDER BY tf DESC, term) AS INT)
        |    AS id
        |  FROM tf QUALIFY id <= 100)
        |SELECT f.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE v.id IS NULL) AS BIGINT) AS n_oov,
        |  CAST(sum(coalesce(v.id, 0)) AS BIGINT) AS ids_sum,
        |  string_agg(CAST(coalesce(v.id, 0) AS VARCHAR), ',' ORDER BY f.pos)
        |    FILTER (WHERE f.pos <= 10) AS prefix_ids
        |FROM f LEFT JOIN vocab v ON v.term = f.term
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,

    // l34's CMS screen is exact-result-via-sketch (overestimates only):
    // the oracle is the plain HAVING aggregation
    "l34_heavy_hitters" ->
      """WITH tk AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |f AS (
        |  SELECT term FROM tk WHERE regexp_matches(term, '^[a-z]+$'))
        |SELECT term, CAST(count(*) AS BIGINT) AS tf FROM f
        |GROUP BY term HAVING count(*) >= 200 ORDER BY term""".stripMargin,

    "l32_quality_cut" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    rank() OVER (PARTITION BY lang ORDER BY n_chars DESC) AS rnk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM r
        |WHERE rnk <= (n + 3) // 4 ORDER BY doc_id""".stripMargin,

    "l47_triangle_count" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS tk
        |  FROM documents),
        |f AS (SELECT doc_id, tk FROM toks WHERE len(tk) >= 5),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(tk) - 4),
        |      i -> array_to_string(tk[i:i+4], ' '))) AS sh
        |  FROM f),
        |sigs AS (
        |  SELECT doc_id, b, min(substring(md5(sh), b*8+1, 8)) AS sig
        |  FROM sh, generate_series(0, 3) AS g(b) GROUP BY doc_id, b),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM sigs x
        |  JOIN sigs y ON x.b = y.b AND x.sig = y.sig AND x.doc_id < y.doc_id)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
        |  (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM (
        |     SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs))
        |    AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pairs e1
        |     JOIN pairs e2 ON e1.b = e2.a
        |     JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b)
        |    AS n_triangles""".stripMargin,

    "l46_token_budget_mix" ->
      """WITH toks AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
        |    (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      text), 1, 8)) AS UBIGINT) % 1000000) / 1000000.0 AS u
        |  FROM documents),
        |totals AS (
        |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS tot
        |  FROM toks GROUP BY 1),
        |rates AS (
        |  SELECT source, tot,
        |    CASE WHEN tot <= 1000 THEN 1.0
        |         ELSE CAST(1000 AS DOUBLE) / CAST(tot AS DOUBLE) END AS rate
        |  FROM totals)
        |SELECT t.source, r.tot AS source_tokens, r.rate,
        |  CAST(count(*) FILTER (WHERE t.u < r.rate) AS BIGINT)
        |    AS picked_docs,
        |  CAST(coalesce(sum(t.n_tok) FILTER (WHERE t.u < r.rate), 0)
        |    AS BIGINT) AS picked_tokens
        |FROM toks t JOIN rates r ON t.source = r.source
        |GROUP BY t.source, r.tot, r.rate
        |ORDER BY t.source""".stripMargin,

    "l44_line_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1),
        |idx AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0, CAST(ceil(len(ws)/10.0) AS INT))) AS seg_idx
        |  FROM words),
        |segs AS (
        |  SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
        |    array_to_string(ws[(seg_idx*10+1):(seg_idx*10+10)], ' ') AS seg
        |  FROM idx),
        |stats AS (
        |  SELECT seg, count(*) AS n, min(doc_id) AS keeper_doc
        |  FROM segs GROUP BY seg),
        |keeper_pos AS (
        |  SELECT seg, doc_id, min(seg_idx) AS keeper_idx
        |  FROM segs GROUP BY seg, doc_id),
        |flagged AS (
        |  SELECT k.doc_id, k.seg_idx, k.seg,
        |    CASE WHEN m.n = 1 THEN 1
        |         WHEN k.doc_id = m.keeper_doc AND k.seg_idx = mi.keeper_idx
        |           THEN 1 ELSE 0 END AS kept
        |  FROM segs k
        |  JOIN stats m ON k.seg = m.seg
        |  JOIN keeper_pos mi ON k.seg = mi.seg AND m.keeper_doc = mi.doc_id)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |  CAST(sum(kept) AS BIGINT) AS n_kept,
        |  string_agg(CASE WHEN kept = 1 THEN seg END, ' ' ORDER BY seg_idx)
        |    AS text_clean
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "l45_dup_spans" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |idx AS (
        |  SELECT doc_id, ws,
        |    unnest(range(0, GREATEST(len(ws) - 7, 0))) AS pos FROM words),
        |grams AS (
        |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |    array_to_string(ws[(pos+1):(pos+8)], ' ') AS gram FROM idx),
        |shared AS (
        |  SELECT gram FROM grams GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (
        |  SELECT g.doc_id, g.pos, g.pos + 8 AS fin
        |  FROM grams g JOIN shared s ON g.gram = s.gram),
        |flagged AS (
        |  SELECT doc_id, pos, fin,
        |    CASE WHEN pos > coalesce(max(fin) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM hits),
        |islands AS (
        |  SELECT doc_id, pos, fin,
        |    CAST(sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS isl
        |  FROM flagged),
        |spans AS (
        |  SELECT doc_id, isl, min(pos) AS span_start, max(fin) AS span_end
        |  FROM islands GROUP BY doc_id, isl)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(span_end - span_start) AS BIGINT) AS dup_words,
        |  CAST(min(span_start) AS BIGINT) AS first_span
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "l48_stratified_split" ->
      """SELECT source,
        |  CASE WHEN substr(md5(text), 1, 2) < 'cd' THEN 'train'
        |       WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "l49_global_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5(text), doc_id) AS BIGINT)
        |    AS pos
        |FROM documents ORDER BY pos""".stripMargin,

    "l50_rrf_hybrid" ->
      """WITH tscore AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |      t -> t IN ('hash', 'join', 'scan'))) AS BIGINT) AS tscore
        |  FROM documents),
        |ttop AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY tscore DESC, doc_id) AS INT) AS rt
        |  FROM (SELECT * FROM tscore WHERE tscore > 0
        |        ORDER BY tscore DESC, doc_id LIMIT 50)),
        |e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
        |  FROM e),
        |p AS (
        |  SELECT b.vec_id,
        |    list_reduce(list_transform(generate_series(1, len(a.v)),
        |      i -> a.v[i] * b.v[i]), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
        |  FROM n a, n b WHERE a.vec_id = 0 AND b.vec_id <> 0),
        |vtop AS (
        |  SELECT vec_id AS doc_id,
        |    CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rv
        |  FROM (SELECT * FROM p ORDER BY cos DESC, vec_id LIMIT 50))
        |SELECT coalesce(t.doc_id, v.doc_id) AS doc_id,
        |  coalesce(CAST(1.0 AS DOUBLE) / (60 + t.rt), CAST(0.0 AS DOUBLE))
        |    + coalesce(CAST(1.0 AS DOUBLE) / (60 + v.rv), CAST(0.0 AS DOUBLE))
        |    AS rrf,
        |  t.rt, v.rv
        |FROM ttop t FULL OUTER JOIN vtop v ON t.doc_id = v.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "l10_embed_neardup" -> l10OracleSql,
    "l42_semantic_dedup" -> l42OracleSql,
    "l41_bpe_encode" -> l41OracleSql,
    "l40_bpe_train" -> l40OracleSql,
    "l13_ann_lsh" -> l13OracleSql,
    "l33_pagerank" -> l33OracleSql
  )

  /** Shared SQL fragment: ±1 hyperplane list per plane index p (64 dims,
    * j-ordered), derived from md5("p:j") first-byte parity — the exact
    * LshKernels.planesFor derivation. `nPlanes` is a SQL expression over
    * `prm`; DuckDB's range() table function only takes constants, so 256
    * candidate planes are generated and filtered (covers l10/l42's
    * 2·bits with bits ≤ 63 AND l13's 24 tables × 8 bits = 192). */
  private def planesSql(nPlanes: String): String =
    s"""planes AS (
       |  SELECT p, list(CASE WHEN substring(
       |      md5(CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 2, 1)
       |      IN ('1','3','5','7','9','b','d','f')
       |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
       |    ORDER BY j) AS pl
       |  FROM (SELECT p FROM range(0, 256) t(p), prm
       |        WHERE p < $nPlanes),
       |       (SELECT j FROM range(0, 64) u(j))
       |  GROUP BY p),
       |dots AS (
       |  SELECT e.vec_id, pl.p,
       |    list_aggregate(list_transform(
       |      range(1, least(65, len(e.embedding) + 1)),
       |      i -> pl.pl[i] * CAST(e.embedding[i] AS DOUBLE)), 'sum') AS dot
       |  FROM embeddings e, planes pl)""".stripMargin

  /** The fused cosine_f32 replayed per pair: three ascending-index double
    * folds (dot, |a|², |b|²) then dot/(√na·√nb) — bit-identical to the
    * Catalyst kernel's op sequence. All three folds run over
    * min(len a, len b), exactly the kernel's shared loop bound (equal
    * lengths in practice; ragged data must not diverge the norms). */
  private def cosinePairSql =
    """SELECT c.a, c.b,
      |  list_aggregate(list_transform(
      |    range(1, least(len(ea.embedding), len(eb.embedding)) + 1),
      |    i -> CAST(ea.embedding[i] AS DOUBLE)
      |      * CAST(eb.embedding[i] AS DOUBLE)), 'sum')
      |  / (sqrt(list_aggregate(list_transform(
      |      range(1, least(len(ea.embedding), len(eb.embedding)) + 1),
      |      i -> CAST(ea.embedding[i] AS DOUBLE)
      |        * CAST(ea.embedding[i] AS DOUBLE)), 'sum'))
      |    * sqrt(list_aggregate(list_transform(
      |      range(1, least(len(ea.embedding), len(eb.embedding)) + 1),
      |      i -> CAST(eb.embedding[i] AS DOUBLE)
      |        * CAST(eb.embedding[i] AS DOUBLE)), 'sum'))) AS cos
      |FROM cands c
      |JOIN embeddings ea ON ea.vec_id = c.a
      |JOIN embeddings eb ON eb.vec_id = c.b""".stripMargin

  private def l10OracleSql: String =
    s"""WITH prm AS (
       |  SELECT GREATEST(8, CAST(ceil(
       |      ln(CAST((SELECT count(*) FROM embeddings) AS DOUBLE))
       |      / ln(CAST(2.0 AS DOUBLE))) AS INT)) AS bits),
       |${planesSql("(SELECT 2 * bits FROM prm)")},
       |sigs AS (
       |  SELECT d.vec_id, CAST(d.p // prm.bits AS INT) AS band,
       |    sum(CASE WHEN d.dot > 0
       |      THEN (CAST(1 AS BIGINT) << (d.p % prm.bits))
       |      ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM dots d, prm GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT s1.vec_id AS a, s2.vec_id AS b
       |  FROM sigs s1 JOIN sigs s2
       |    ON s1.band = s2.band AND s1.sig = s2.sig
       |      AND s1.vec_id < s2.vec_id),
       |cos AS ($cosinePairSql)
       |SELECT a, b, cos AS sim FROM cos
       |WHERE cos > CAST(0.35 AS DOUBLE) ORDER BY a, b""".stripMargin

  /** DuckDB replay of the l13 multi-table LSH ANN — approximate BY
    * CONSTRUCTION yet fully deterministic, so it oracle-checks exactly:
    * the 24×8 = 192 md5-derived planes, per-(vec, table) 8-bit
    * signatures, the probe-side Hamming≤1 multiprobe (own bucket + 8
    * one-bit flips), the distinct candidate set, and the exact fused
    * cosine re-rank (cosinePairSql ≡ the cosine_f32 kernel, proven by
    * l10) with the TopK heap's (score DESC, id ASC) order replayed as a
    * window rank. */
  private def l13OracleSql: String =
    s"""WITH prm AS (SELECT 8 AS bits),
       |${planesSql("(SELECT 24 * bits FROM prm)")},
       |sigs AS (
       |  SELECT d.vec_id, CAST(d.p // prm.bits AS INT) AS band,
       |    sum(CASE WHEN d.dot > 0
       |      THEN (CAST(1 AS BIGINT) << (d.p % prm.bits))
       |      ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM dots d, prm GROUP BY 1, 2),
       |probeb AS (
       |  SELECT s.vec_id AS probe_id, s.band AS pband,
       |    CASE WHEN t.f = 8 THEN s.sig
       |      ELSE xor(s.sig, (CAST(1 AS BIGINT) << t.f)) END AS bsig
       |  FROM sigs s, range(0, 9) t(f)
       |  WHERE s.vec_id < 10),
       |cands AS (
       |  SELECT DISTINCT p.probe_id AS a, s.vec_id AS b
       |  FROM probeb p JOIN sigs s
       |    ON s.band = p.pband AND s.sig = p.bsig
       |      AND s.vec_id <> p.probe_id),
       |cos AS ($cosinePairSql),
       |r AS (
       |  SELECT a AS probe_id, b AS neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY a
       |      ORDER BY cos DESC, b) AS INT) AS rnk
       |  FROM cos)
       |SELECT probe_id, rnk, neighbor_id, round(cos, 4) AS sim
       |FROM r WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin

  private def l42OracleSql: String =
    s"""WITH RECURSIVE prm AS (
       |  SELECT GREATEST(4, CAST(ceil(
       |      ln(sqrt(CAST((SELECT count(*) FROM embeddings) AS DOUBLE)))
       |      / ln(CAST(2.0 AS DOUBLE))) AS INT)) AS bits),
       |${planesSql("(SELECT bits FROM prm)")},
       |cells AS (
       |  SELECT d.vec_id, CAST(sum(CASE WHEN d.dot > 0
       |      THEN (CAST(1 AS BIGINT) << (d.p % prm.bits))
       |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS cell
       |  FROM dots d, prm GROUP BY 1),
       |cands AS (
       |  SELECT c1.vec_id AS a, c2.vec_id AS b
       |  FROM cells c1 JOIN cells c2
       |    ON c1.cell = c2.cell AND c1.vec_id < c2.vec_id),
       |cos AS ($cosinePairSql),
       |edges AS (SELECT a, b FROM cos WHERE cos > CAST(0.35 AS DOUBLE)),
       |bi AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
       |reach(v, lab) AS (
       |  SELECT vec_id, vec_id FROM cells
       |  UNION
       |  SELECT bi.b, reach.lab FROM reach JOIN bi ON reach.v = bi.a),
       |grp AS (SELECT v, min(lab) AS group_id FROM reach GROUP BY v)
       |SELECT c.vec_id, c.cell, g.group_id,
       |  (g.group_id = c.vec_id) AS keep
       |FROM cells c JOIN grp g ON g.v = c.vec_id
       |ORDER BY c.vec_id""".stripMargin

  /** l41's oracle, generated FROM FixedBpeMerges so the SQL and the
    * Scala table cannot drift. Each symbol sequence is rendered as a
    * double-chr(1)-delimited string; one merge rule = one replace() of
    * `D a D D b D` with `D ab D` — left-to-right, non-overlapping, and
    * able to match immediately-adjacent next pairs (the inner delimiter
    * pair is split between consecutive matches), which is exactly
    * bpeEncode's single-pass scan. The delimiter chr(1) sits outside the
    * document generator's charset (ASCII 32..121 observed) — a corpus
    * that could contain control chars would need a wider sentinel. */
  /** DuckDB replay of BPE TRAINING (l40, batch=1): the 8 merge rounds
    * unroll into chained CTEs — pair counts from freq-weighted adjacent
    * positions (overlapping occurrences counted per position, exactly
    * like the Spark transform), winner by (cnt DESC, a, b), rewrite by
    * leftmost non-overlapping replace() over the l41 double-delimited
    * symbol string (replace() scans left and never rescans replaced
    * output — the same contract as mergeUdf's single pass, so "aaa" +
    * (a,a) → [aa, a] in both). Trailing w8 CTE is unreferenced and
    * unevaluated (CTEs are lazy). */
  private def l40OracleSql: String = {
    val D = "chr(1)"
    val DD = s"$D || $D"
    val iters = 8
    val head =
      s"""WITH w0 AS (
         |  SELECT $DD || array_to_string(
         |      list_append(string_split(w, ''), '</w>'), $DD) || $DD AS s,
         |    CAST(count(*) AS BIGINT) AS freq
         |  FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS w
         |    FROM documents)
         |  WHERE length(w) > 0 GROUP BY w)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s""",
         |p$r AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b, SUM(freq) AS cnt
         |  FROM (SELECT list_filter(string_split(s, $DD), x -> x <> '')
         |          AS syms, freq FROM w${r - 1}),
         |    unnest(generate_series(1, len(syms) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |win$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |w$r AS (
         |  SELECT replace(s, $D || m.a || $DD || m.b || $D,
         |      $D || m.a || m.b || $D) AS s, freq
         |  FROM w${r - 1}, win$r m)""".stripMargin
    }.mkString
    val tail = "\n" + (1 to iters).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS rank, a AS "left", b AS "right",
         |  a || b AS merged, CAST(cnt AS BIGINT) AS cnt FROM win$r""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY rank")
    head + rounds + tail
  }

  private def l41OracleSql: String = {
    val D = "chr(1)"
    val base = s"$D || $D || array_to_string(" +
      s"list_append(string_split(w, ''), '</w>'), $D || $D) || $D || $D"
    val enc = FixedBpeMerges.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc,\n    $D || '$a' || $D || $D || '$b' || $D,\n" +
        s"    $D || '$a$b' || $D)"
    }
    s"""WITH words AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents)
       |  WHERE length(w) > 0),
       |enc AS (
       |  SELECT doc_id, w,
       |  $enc AS s
       |  FROM words)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum((length(s) - length(replace(s, chr(1), ''))) // 2 - 1)
       |    AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(length(w) + 1) AS BIGINT) AS n_chars_eow,
       |  CAST(sum(length(w) + 1) AS DOUBLE)
       |    / CAST(sum((length(s) - length(replace(s, chr(1), ''))) // 2 - 1)
       |        AS DOUBLE) AS compression
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}
