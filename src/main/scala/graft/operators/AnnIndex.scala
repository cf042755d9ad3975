package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Persisted ANN index — the build/query split of a production vector
  * store: `build` computes the multi-table sign-LSH signatures ONCE and
  * writes them as a parquet index table next to the vectors; `query`
  * serves kNN from the stored index without touching `sign_lsh` on the
  * corpus again. At 100 TB the index build is the expensive scan (one
  * pass, embarrassingly parallel, no shuffle) and queries are
  * bucket-joins against the stored table — rebuild only on corpus
  * change (or incrementally via append, signatures are per-row).
  *
  * Same index family and parameters as the l13 query lane (24 tables ×
  * 8 bits, Hamming≤1 multiprobe, exact cosine re-rank, bounded-heap
  * top-k), so results match l13 exactly — NearDupSpec pins the parity.
  *
  * GENERATIONS ([[IndexGenerations]]): every build, append and refit
  * commits one manifest, `_gen/<N>`, naming the data files of each table
  * — signatures, vectors, the SQ8 codes and the IVFPQ sidecar — and the
  * corpus size n. A build writes the fixed paths (`signatures/`,
  * `vectors/`, `sq8/codes`, `ivfpq/`) and commits generation 1; an
  * append writes its batch's tables under `g<N>/` and commits N. Serving
  * reads the newest complete manifest: both arms, and n for the router,
  * always describe one committed corpus, so a crashed append is
  * invisible and its re-run commits the same N. A directory without
  * `_gen/` (built before the log) is generation 0 — the fixed paths,
  * with n counted per call — and its first append commits generation 1.
  *
  * RESIDENT FLAT ARM: a committed generation is immutable, so the serving
  * process may hold it as state — built once, queried many times (REPOSE,
  * ICDE 2021). When the flat arm serves and the generation's flat tables
  * (signatures plus vectors, or plus SQ8 codes) fit
  * `spark.sql.autoBroadcastJoinThreshold`, the driver loads them once per
  * manifest ([[ServeModelCache]], keyed by the manifest's identity) and a
  * warm serve runs one Spark job, the probe collect; the answer is a
  * local relation equal row for row to the distributed plan's. Larger
  * generations, generation 0 and a threshold of −1 serve distributed.
  * The bound is one of memory, not a speed crossover: measured with
  * `AnnServeProbe` (500-probe batches, clusterless 64-d corpora, 4
  * cores), the resident arm served 5.3× faster than the distributed plan
  * at 3k vectors and 4.5× at 30k (8.4 MB of flat tables, near the 10 MB
  * default), 3.3× when every serve met a freshly appended generation
  * (model load included), and 8× at 90k with the bound raised; its
  * model took about 1.6× the tables' file bytes of driver heap.
  */
object AnnIndex {

  private val Tables = 24
  private val Bits = 8

  /** Cost-model routing (VERDICT r13 #1, the SimHashIndex discipline):
    * flat sign-LSH has a FIXED 2^Bits = 256-bucket/band key space, so
    * average bucket size — and the exact re-rank term probes ×
    * bucket-size — grows linearly with the corpus. IVFPQ at a fixed
    * nprobe scans 2·nprobe·√n candidates — √n growth, falling RELATIVE
    * to the corpus.
    *
    * MEASURED (round 14, AnnRouteProbe, 500-probe batch, min-of-2,
    * SCALE.md Round-14): flat serve is corpus-linear — 2.9 s at 2k
    * vectors (7 rows/bucket), 9.2 s at 200k (781), 114.9 s at 2M
    * (7,812). The routed IVFPQ arm at nprobe=64 took 7.3 s at 200k
    * (1.25× faster) and 20.9 s at 2M (5.5× faster), growing as √n
    * (7.3 → 20.9 for a 10× corpus ≈ √10). Both arms measured recall
    * 1.000 on those corpora.
    *
    * The threshold is AVERAGE ROWS PER BUCKET (n / 256): past it,
    * `build`/`append` maintain an IVFPQ sidecar under `dir`/ivfpq and
    * `queryProbes` serves from it at [[RouteNprobe]]. The default sits
    * DELIBERATELY above the measured cost break-even (≤781 rows/bucket):
    * the flat arm is the exact-recall multiprobe LSH, and the routed
    * arm's recall on a clusterless corpus falls with the scanned
    * fraction — so routing waits until the flat arm's linear term
    * genuinely dominates (≥4096 rows/bucket ≈ 1M vectors, where the
    * measured advantage is ≥5×), not until IVFPQ merely edges ahead.
    * Tunable per deployment (and set low by specs to exercise routing
    * on test-sized corpora).
    *
    * THE RECALL TRADE, MEASURED (round 15, clusterless SynthVectors
    * corpora + planted cos-0.95 near-dups, SCALE.md Round-15): routed
    * exact-top-5 recall on structureless data IS the scanned fraction
    * (0.315 at 200k, 0.270 at 2M — no sublinear method does better
    * there), but PLANTED near-duplicate recall — the dedup/similarity
    * signal — measured 1.000 on both arms at both sizes, and
    * NearDupSpec pins a ≥0.90 floor at a harder-than-production
    * scanned fraction. A caller needing high arbitrary-top-k recall on
    * an unstructured corpus raises [[RouteNprobeKey]] (more cells
    * scanned, recall tracks the fraction) or this threshold (exact
    * flat serving, corpus-linear cost). */
  private[graft] val FlatMaxBucketRowsKey = "spark.graft.ann.flatMaxBucketRows"
  private[graft] val FlatMaxBucketRows: Long = 4096

  /** nprobe the ROUTED IVFPQ arm serves at — a small FIXED cell count,
    * NOT IvfPqIndex's default k/3 (that default is the recall tuning for
    * the adversarial clusterless corpus, and at k/3 the round-14 probe
    * measured the IVFPQ arm's serve cost ABOVE flat's even at 2M vectors
    * — 175 vs 115 s — because it scans ~2/3 of the corpus). At a fixed
    * nprobe the candidate term is 2·nprobe·√n — falling RELATIVE to the
    * corpus — which is the whole point of routing: 20.9 vs 114.9 s at
    * 2M vectors, recall 1.000 on that corpus (SCALE.md Round-14). */
  private[graft] val RouteNprobeKey = "spark.graft.ann.routeNprobe"
  private[graft] val RouteNprobe = 64

  /** Refit-at-N× policy (VERDICT r14 #5): the sidecar's quantizers stay
    * FROZEN across appends (the FAISS add contract) — correct for
    * bounded drift, but once the corpus has grown past `refitFactor` ×
    * the fitted size, the centroids/codebooks describe a minority of
    * the data and routed recall decays silently. `append` then REFITS
    * the sidecar from the full corpus into its generation's directory;
    * until that generation commits, the old sidecar keeps serving, and
    * once two more generations commit, its files are deleted. The
    * fitted size is in each manifest. The default comes from the measured
    * drift table (SCALE.md Round-15, AnnDriftProbe): a 4× shifted
    * append under frozen quantizers vs a fresh fit. Refit cost is
    * corpus-linear but amortized — at factor F the total refit work
    * over any append history is ≤ F/(F−1) × one final-corpus fit.
    * 0 disables auto-refit. A sidecar whose generation records no
    * fitted size (pre-r15, or a log written before manifests held it)
    * never auto-refits (rebuild via buildFrom to opt in). */
  private[graft] val RefitFactorKey = "spark.graft.ann.refitFactor"
  private[graft] val RefitFactor = 4.0

  private def flatMaxBucketRows(spark: SparkSession): Long =
    spark.conf.getOption(FlatMaxBucketRowsKey).map(_.toLong)
      .getOrElse(FlatMaxBucketRows)

  private def routeNprobe(spark: SparkSession): Int =
    spark.conf.getOption(RouteNprobeKey).map(_.toInt).getOrElse(RouteNprobe)

  private def refitFactor(spark: SparkSession): Double =
    spark.conf.getOption(RefitFactorKey).map(_.toDouble)
      .getOrElse(RefitFactor)

  /** Opt-in SQ8 serving for the FLAT arm (VERDICT r16 #4) — the
    * memory-budget middle ground between raw float32 and PQ's 32×:
    * symmetric int8 quantization (the l67 lane's representation —
    * 4× in memory, 3.46× measured on disk) with the exact-cosine
    * re-rank reading the 1-byte codes instead of the float vectors.
    * The SQ8 scale cancels in cosine (functions.CosineI8), so serving
    * never touches the scale column and ranking quality is the
    * measured l67 story (dequantized-cosine top-1 = float top-1,
    * 20/20; NearDupSpec pins a top-5 overlap floor on the serve
    * path). When to flip it on: the flat arm is the MEMORY-bound one
    * at scale — its candidate join materializes corpus vectors per
    * batch — and SQ8 quadruples what a cluster holds exact-ish before
    * falling to PQ. Candidates are unchanged (the signature tables
    * hash the float vectors); only the re-rank bytes shrink, so recall
    * differs from float serving only by sub-quantization-error rank
    * swaps. The codes table is part of each generation, so it always
    * covers exactly the corpus the flat tables hold. */
  private[graft] val ServeSq8Key = "spark.graft.ann.serveSq8"

  private def serveSq8(spark: SparkSession): Boolean =
    spark.conf.getOption(ServeSq8Key).contains("true")

  /** Average rows per (band, sig) bucket for an n-vector corpus. */
  private def avgBucketRows(n: Long): Long = n >> Bits

  /** Past the routing threshold at the reference batch: build and append
    * keep an IVFPQ sidecar from here on. */
  private def sidecarDue(spark: SparkSession, n: Long): Boolean =
    avgBucketRows(n) > flatMaxBucketRows(spark)

  /** One committed generation, read back: the corpus size n and the data
    * files each table serves from. `ivfpq` is the sidecar's directory
    * with its tables and fitted size. */
  private[graft] final case class Generation(number: Long, rows: Long,
      signatures: Seq[String], vectors: Seq[String], sq8: Seq[String],
      ivfpq: Option[(String, IvfPqIndex.Tables)])

  /** The newest committed generation of `dir` (generation 0 when `dir`
    * has no log). */
  private[graft] def generation(spark: SparkSession, dir: String): Generation =
    IndexGenerations.latest(spark, dir) match {
      case Some(m) => Generation(m.number, m.rows, m("signatures"),
        m("vectors"), m("sq8"), m("ivfpq").headOption.map(model =>
          model -> IvfPqIndex.tablesOf(m, "ivfpq/", model)))
      case None =>
        val conf = spark.sparkContext.hadoopConfiguration
        val files = IndexGenerations.files(spark, _: String)
        def exists(p: String) = {
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(conf).exists(path)
        }
        // a sidecar fitted before the log recorded its fitted size in a
        // marker file
        def legacyFitted(marker: String) = Option.when(exists(marker)) {
          val p = new org.apache.hadoop.fs.Path(marker)
          val in = p.getFileSystem(conf).open(p)
          try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
        }
        val vectors = files(s"$dir/vectors")
        Generation(0, readVectors(spark, vectors).count(),
          files(s"$dir/signatures"), vectors,
          if (exists(s"$dir/sq8/codes")) files(s"$dir/sq8/codes") else Nil,
          Option.when(exists(s"$dir/ivfpq/centroids"))(s"$dir/ivfpq" -> IvfPqIndex
            .listed(spark, s"$dir/ivfpq", legacyFitted(s"$dir/ivfpq/_FITTED_N"))))
    }

  private def manifest(g: Generation): IndexGenerations.Manifest =
    IndexGenerations.Manifest(g.number, g.rows, Map("signatures" -> g.signatures,
      "vectors" -> g.vectors, "sq8" -> g.sq8) ++ g.ivfpq.toSeq.flatMap {
      case (model, t) => IvfPqIndex.entries(t, "ivfpq/") + ("ivfpq" -> Seq(model))
    }, g.ivfpq.flatMap(_._2.fitted))

  /** The tables of generation 0 and of a build. */
  private val FixedTables = Set("signatures", "vectors", "sq8", "ivfpq")

  private def readVectors(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>").parquet(files: _*)

  /** The probe-batch size the corpus-only routing threshold was
    * MEASURED at (AnnRouteProbe, 500-probe batches — SCALE.md
    * Round-14): [[chosenArm]]'s batch-aware rule preserves exactly the
    * old decision at this batch size and scales with the actual batch
    * either side of it. */
  private[graft] val RouteRefProbes = 500L

  /** Saturating non-negative multiply: a Long.MaxValue threshold (the
    * routing-off idiom specs use) must clamp, not wrap negative. */
  private def satMul(a: Long, b: Long): Long = {
    val r = a * b
    if (a != 0 && (r / a != b || r < 0)) Long.MaxValue else r
  }

  /** Which serving arm `queryProbes` will take for the stored index —
    * "flat" or "ivfpq". Exposed so specs pin the choice on both sides
    * of the threshold and ops can audit a deployment.
    *
    * BATCH-REGIME AWARE (VERDICT r17 #1 / r18 #1): the flat arm's
    * dominant serve term is the candidate shuffle — probes ×
    * avgBucketRows(n) rows through the bucket join — which is linear
    * in BOTH the corpus and the batch, while the routed IVFPQ arm's
    * candidates-per-probe FALL with corpus growth at a fixed nprobe.
    * The measured batch axis (SCALE.md Round-17: at the 5,000-probe
    * burst on a 4M corpus the flat arms took 167–204 s and converged —
    * candidate volume, not re-rank byte width, dominates there) says
    * the routing decision must scale with the batch, so the rule is a
    * candidate-VOLUME threshold: route when
    * `probes × avgBucketRows(n) > flatMaxBucketRows × RouteRefProbes`.
    * At the 500-probe reference batch this is EXACTLY the old
    * corpus-only rule (all prior thresholds/specs keep their meaning);
    * a 10× burst routes at a 10×-smaller corpus, and a trickle of
    * single probes stays on the exact-recall flat arm an order of
    * magnitude longer — the regime where SQ8/flat is measured 2.8–5.3×
    * faster. Routing still requires the sidecar to EXIST; a deployment
    * expecting burst batches below the corpus threshold lowers
    * [[FlatMaxBucketRowsKey]] so build/append fit the sidecar earlier.
    *
    * A pure function of the newest manifest and the conf: an arm serves
    * iff its tables are in the manifest, and n is the manifest's. */
  private[graft] def chosenArm(spark: SparkSession, dir: String,
      probeCount: Long = RouteRefProbes): String =
    arm(spark, generation(spark, dir), probeCount)

  private def arm(spark: SparkSession, g: Generation, probeCount: Long): String =
    if (g.ivfpq.isDefined && satMul(probeCount, avgBucketRows(g.rows)) >
        satMul(flatMaxBucketRows(spark), RouteRefProbes)) "ivfpq"
    else "flat"

  /** Which representation the exact re-rank will read — "sq8" (1-byte
    * codes, 4× fewer corpus bytes) or "float32" — for EITHER serving
    * arm (r19: the routed IVFPQ arm's bounded re-rank honors the same
    * decision). SQ8 serves when opted in ([[ServeSq8Key]]) and the
    * newest generation has codes, which then cover its whole corpus. */
  private[graft] def serveMode(spark: SparkSession, dir: String): String =
    mode(spark, generation(spark, dir))

  private def mode(spark: SparkSession, g: Generation): String =
    if (serveSq8(spark) && g.sq8.nonEmpty) "sq8" else "float32"

  private def sq8Codes(spark: SparkSession, g: Generation): Option[DataFrame] =
    if (mode(spark, g) == "sq8")
      Some(spark.read.schema("vec_id BIGINT, q ARRAY<TINYINT>").parquet(g.sq8: _*))
    else None

  /** One pass over the vectors: (vec_id, band, sig) signature rows plus
    * a co-located copy of the vectors, written under `dir`. Past the
    * routing threshold the build also fits the IVFPQ sidecar (ivfpq/) —
    * the serving tables `queryProbes` routes to at that scale. */
  def build(spark: SparkSession, sfDir: String, dir: String): Unit =
    buildFrom(spark, graft.Tables.t(spark, sfDir, "embeddings"), dir)

  /** Build from an arbitrary (vec_id, embedding) frame: replaces whatever
    * `dir` held, log included, and commits generation 1. */
  def buildFrom(spark: SparkSession, vecs: DataFrame, dir: String): Unit =
    AppendLock.withLock(spark, dir) {
      IndexGenerations.clear(spark, dir, FixedTables)
      val n = writeIndex(spark, vecs, dir)
      complete(spark, dir, dir, Generation(1, n,
        IndexGenerations.files(spark, s"$dir/signatures"),
        IndexGenerations.files(spark, s"$dir/vectors"), Nil, None),
        fit = sidecarDue(spark, n))
    }

  /** Symmetric int8 codes for a (vec_id, embedding) frame — the l67
    * lane's arithmetic, stored as array<tinyint> (measured on-disk win
    * vs hand-packed binary, SCALE.md r16). scale rides along for
    * dequantization debugging; serving never reads it ([[CosineI8]]'s
    * scale cancellation). MAP-ONLY — no shuffle. Returns the files. */
  private def writeSq8(spark: SparkSession, vecs: DataFrame,
      out: String): Seq[String] = {
    vecs.select(col("vec_id"),
      (expr("aggregate(embedding, CAST(0 AS DOUBLE), " +
        "(a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))") / 127.0)
        .as("scale"),
      col("embedding"))
      .select(col("vec_id"), col("scale"),
        expr("transform(embedding, x -> CAST(least(127, greatest(-127, " +
          "CASE WHEN scale = 0 THEN 0 ELSE " +
          "floor(CAST(x AS DOUBLE) / scale + 0.5) END)) AS TINYINT))")
          .as("q"))
      .write.mode("overwrite").parquet(out)
    IndexGenerations.files(spark, out)
  }

  /** Add what generation `g` lacks but the conf and its size call for,
    * under `out`, then commit it and return it: the SQ8 codes of the
    * whole corpus when SQ8 serving is opted in and `g` has none (an
    * existing codes table is extended by [[append]] whatever the conf),
    * and with `fit` a
    * fresh IVFPQ sidecar over the whole corpus — past the routing
    * threshold, or in place of one due a refit. The fit is
    * corpus-linear (sampled k-means + one encode pass), paid at
    * build/append time so serving never is. */
  private def complete(spark: SparkSession, dir: String, out: String,
      g: Generation, fit: Boolean): Generation = {
    val sq8 =
      if (g.sq8.isEmpty && serveSq8(spark))
        writeSq8(spark, readVectors(spark, g.vectors), s"$out/sq8/codes")
      else g.sq8
    val ivfpq =
      if (fit) Some(s"$out/ivfpq" ->
        IvfPqIndex.fit(spark, readVectors(spark, g.vectors), s"$out/ivfpq"))
      else g.ivfpq
    val next = g.copy(sq8 = sq8, ivfpq = ivfpq)
    crashProbe("before_commit")
    IndexGenerations.commit(spark, dir, manifest(next))
    next
  }

  /** Crash-point probe for the SIGKILL e2e (the StreamJobs.crashProbe
    * discipline): labels fire between append's writes and before its
    * commit. */
  private[graft] var crashProbe: String => Unit = _ => ()

  /** Incremental maintenance: signatures are per-row, so new vectors
    * append without touching the existing index (the write-once model —
    * no rebuild, no rewrite). `newVecs`: (vec_id, embedding).
    *
    * One generation per call, under the index's [[AppendLock]]: the
    * batch's signatures, vectors and SQ8 codes land under `g<N>/`, the
    * sidecar extends under its FROZEN quantizers into `g<N>/ivfpq` (or,
    * past [[RefitFactor]] × its fitted size, is refit there over the
    * whole corpus), and the manifest commit publishes all of it at once.
    * After it, the files neither generation N nor N−1 names go
    * ([[IndexGenerations.reclaim]]): a refit's replaced sidecar, an
    * uncommitted generation's directory, and the manifests before N−1.
    * A crash anywhere before the commit leaves generation N−1 serving
    * on both arms; re-running the append rewrites `g<N>/` and commits
    * the same N. Running it again AFTER a commit appends the batch a
    * second time — replay-safe ingestion still belongs behind a
    * committed-batch marker (the StreamJobs discipline). */
  def append(spark: SparkSession, dir: String, newVecs: DataFrame): Unit =
    AppendLock.withLock(spark, dir) {
      val g = generation(spark, dir)
      val number = IndexGenerations.next(spark, dir)
      val out = s"$dir/g$number"
      IndexGenerations.delete(spark, out) // a crashed run's leftovers
      // persisted across every write: a non-deterministic input evaluated
      // twice would leave the tables describing different batches
      val e = newVecs.select(col("vec_id"), col("embedding")).persist()
      try {
        val rows = g.rows + writeIndex(spark, e, out)
        crashProbe("after_flat_write")
        // the SQ8 codes extend per row (no fitted state)
        val sq8 =
          if (g.sq8.isEmpty) Nil
          else g.sq8 ++ writeSq8(spark, e, s"$out/sq8/codes")
        val refit = g.ivfpq.exists { case (_, t) =>
          val f = refitFactor(spark)
          f > 0 && t.fitted.exists(rows > f * _)
        }
        val ivfpq = g.ivfpq.filterNot(_ => refit).map { case (model, t) =>
          model -> IvfPqIndex.appendTo(spark, t, s"$out/ivfpq", e)._1
        }
        val next = complete(spark, dir, out, Generation(number, rows,
          g.signatures ++ IndexGenerations.files(spark, s"$out/signatures"),
          g.vectors ++ IndexGenerations.files(spark, s"$out/vectors"), sq8, ivfpq),
          fit = refit || (ivfpq.isEmpty && sidecarDue(spark, rows)))
        IndexGenerations.reclaim(spark, dir, FixedTables, manifest(g), manifest(next))
      } finally { e.unpersist(); () }
    }

  /** Shared write half: the input is PERSISTED across the two writes —
    * signatures/ and vectors/ must come from the SAME evaluation, or a
    * non-deterministic input (sample/limit, a re-read table that changed
    * between writes) leaves them inconsistent and queryProbes' inner join
    * silently drops or strands vectors. Also one corpus scan, not two.
    * Returns the row count, which the generation records as its n: an
    * observation on the vectors write, so no job exists just to count. */
  private def writeIndex(spark: SparkSession, vecs: DataFrame, dir: String): Long = {
    graft.functions.VectorExpressions.register(spark)
    val e = vecs.select(col("vec_id"), col("embedding")).persist()
    try {
      e.select(col("vec_id"), posexplode(
          expr(s"sign_lsh(embedding, $Tables, $Bits)")).as(Seq("band", "sig")))
        .write.mode("overwrite").parquet(s"$dir/signatures")
      IndexGenerations.writeCounted(e, s"$dir/vectors")
    } finally { e.unpersist(); () }
  }

  /** Top-k neighbors for every vector with `vec_id < nProbes`, served
    * from the stored index. */
  def query(spark: SparkSession, dir: String, nProbes: Int, k: Int): DataFrame = {
    val g = generation(spark, dir)
    // nProbes is the router's batch-size hint too (an upper bound when
    // ids are sparse — a cost-model input, not a correctness one)
    serve(spark, dir, g, readVectors(spark, g.vectors).filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv")), k,
      excludeSelf = true, probeCount = nProbes)
  }

  /** Top-k neighbors for an ARBITRARY probe set `(probe_id, pv)`, served
    * from the stored index: probe signatures are computed for the probe
    * rows only (tiny); candidates come from the bucket-join against the
    * signatures table; exact cosine re-ranks. This is the serving path —
    * batch callers pass a slice of the corpus (`query`), streaming
    * callers pass each arriving micro-batch of probes.
    *
    * `excludeSelf` (default true) drops candidates whose vec_id equals
    * the probe_id — correct when probes ARE corpus vectors. Pass false
    * for EXTERNAL probes whose ids merely share the corpus's id space,
    * or a corpus vector that happens to carry a probe's number silently
    * vanishes from that probe's results.
    *
    * ROUTED (round 14, batch-aware round 19): past [[chosenArm]]'s
    * candidate-volume threshold — probes × avgBucketRows(n), the flat
    * arm's dominant shuffle term — the batch serves from the IVFPQ
    * sidecar instead (cells grow as √n; candidates per probe fall with
    * corpus growth). Below it, the flat arm's exact-recall bucket-join
    * serves as before. The probe batch is collected once and both arms
    * serve from that local relation; the router takes the batch size
    * from it unless the caller passes `probeCount` (a burst caller that
    * wants routing to follow a nominal size). Every table, and n, come
    * from ONE read of the newest manifest.
    *
    * On the flat arm, a committed generation within the broadcast bound
    * serves from its driver-resident model: after the first serve of a
    * manifest, the probe collect is the call's only Spark job. */
  def queryProbes(spark: SparkSession, dir: String, probeVecs: DataFrame,
      k: Int, excludeSelf: Boolean = true, probeCount: Long = -1L): DataFrame =
    serve(spark, dir, generation(spark, dir), probeVecs, k, excludeSelf, probeCount)

  private def serve(spark: SparkSession, dir: String, g: Generation,
      probeVecs: DataFrame, k: Int, excludeSelf: Boolean,
      probeCount: Long): DataFrame = {
    val probes = PqIndex.collectProbes(spark, probeVecs)
    val pn = if (probeCount >= 0) probeCount else probes._1.length.toLong
    g.ivfpq match {
      case Some((_, t)) if arm(spark, g, pn) == "ivfpq" =>
        // the routed arm's bounded exact re-rank honors serveSq8 too
        // (VERDICT r17 #5 / r18 #4)
        IvfPqIndex.serve(spark, s"$dir/ivfpq", g.number > 0, t, probes, k,
          routeNprobe(spark), excludeSelf, sq8Codes(spark, g))
      case _ => residentFlat(spark, dir, g) match {
        case Some(m) => m.serve(spark, probes._1, k, excludeSelf)
        case None => flatServe(spark, g, probes._2, k, excludeSelf)
      }
    }
  }

  /** One committed generation's flat tables, sized, and loaded when they
    * fit: `model` is None when `bytes` exceeded the bound they were
    * sized against. */
  private final case class FlatEntry(bytes: Long, model: Option[ResidentFlat])

  /** The driver-resident flat arm of committed generation `g`, when its
    * flat tables fit `spark.sql.autoBroadcastJoinThreshold` — Spark's own
    * bound for a table every process may hold whole (−1 turns the arm
    * off). The sum of their file lengths is probed once per manifest and
    * remembered with the model, or with the over-bound verdict, in
    * [[ServeModelCache]] under the manifest's identity: a warm serve
    * reads no file beyond the manifest. Generation 0 (no log) has no
    * immutable identity and always serves distributed. */
  private def residentFlat(spark: SparkSession, dir: String,
      g: Generation): Option[ResidentFlat] = {
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (limit < 0 || g.number < 1) None
    else {
      // the re-rank reads the vectors or, in sq8 mode, the SQ8 codes
      val m = mode(spark, g)
      val sq8 = m == "sq8"
      val rerank = if (sq8) g.sq8 else g.vectors
      val files = g.signatures ++ rerank
      val identity = (s"${g.number}" +: m +: files).mkString("\n")
      val e = ServeModelCache.committed(dir, identity)(
          (e: FlatEntry) => e.model.isDefined || e.bytes > limit) {
        val conf = spark.sparkContext.hadoopConfiguration
        val bytes = files.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).getFileStatus(p).getLen
        }.sum
        FlatEntry(bytes,
          if (bytes <= limit) Some(ResidentFlat.load(spark, g.signatures, rerank, sq8))
          else None)
      }
      e.model.filter(_ => e.bytes <= limit)
    }
  }

  /** The flat sign-LSH serving arm (pre-r14 `queryProbes` body) — still
    * the right plan below the routing threshold, and callable directly
    * for arm-vs-arm measurement (NearDupSpec's routed-vs-flat parity). */
  private[graft] def flatQueryProbes(spark: SparkSession, dir: String,
      probeVecs: DataFrame, k: Int, excludeSelf: Boolean = true): DataFrame =
    flatServe(spark, generation(spark, dir),
      PqIndex.collectProbes(spark, probeVecs)._2, k, excludeSelf)

  /** `probeLocal`: the probe batch collected ONCE into a LocalRelation —
    * the pre-r19 plan evaluated the probe frame twice (bucket-probe
    * broadcast + re-rank broadcast), re-running its scan each time. */
  private def flatServe(spark: SparkSession, g: Generation,
      probeLocal: DataFrame, k: Int, excludeSelf: Boolean): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val sigs = spark.read.schema("vec_id BIGINT, band INT, sig BIGINT")
      .parquet(g.signatures: _*)
    val probeSigs = probeLocal.select(col("probe_id"), col("pv"), posexplode(
        expr(s"sign_lsh(pv, $Tables, $Bits)")).as(Seq("pband", "psig")))
    val probeBuckets = probeSigs.withColumn("bsig",
      explode(array(col("psig") +: (0 until Bits).map(b =>
        col("psig").bitwiseXOR(lit(1L << b))): _*)))
    val cands = broadcast(probeBuckets.select("probe_id", "pband", "bsig"))
      .join(sigs,
        col("pband") === col("band") && col("bsig") === col("sig") &&
          (if (excludeSelf) col("probe_id") =!= col("vec_id") else lit(true)))
      .select("probe_id", "vec_id").distinct()
    val topk = udaf(new graft.functions.TopK(k),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    // the re-rank reads SQ8 codes when the mode allows (4× fewer corpus
    // bytes through the candidates join; scale cancels in cosine_i8)
    val scored = sq8Codes(spark, g) match {
      case Some(codes) =>
        cands
          .join(codes, "vec_id")
          .join(broadcast(probeLocal), "probe_id")
          .withColumn("cos", expr("cosine_i8(pv, q)"))
      case None =>
        cands
          .join(readVectors(spark, g.vectors), "vec_id")
          .join(broadcast(probeLocal), "probe_id")
          .withColumn("cos", expr("cosine_f32(pv, embedding)"))
    }
    scored
      .groupBy("probe_id")
      .agg(topk(col("cos"), col("vec_id")).as("nb"))
      .select(col("probe_id"), posexplode(col("nb")).as(Seq("pos", "hit")))
      // raw cosine, matching the IVFPQ arm's output — a caller must see
      // the same sim precision whichever arm the router picks
      .select(col("probe_id"), (col("pos") + 1).cast("int").as("rnk"),
        col("hit.id").as("neighbor_id"), col("hit.score").as("sim"))
      .orderBy("probe_id", "rnk")
  }

  /** The flat arm of one committed generation, held on the driver: the
    * re-rank rows (`ids`, `rows` — float32 vectors, or SQ8 codes when
    * `sq8`) and, per (band, sig) bucket, the indexes of every re-rank row
    * whose id has a stored signature there. It answers exactly what
    * [[flatServe]] answers for the same generation: the same candidate
    * set (the probe's bucket and its Bits one-bit flips in every band,
    * distinct, minus the probe itself under `excludeSelf`), every vector
    * row of a candidate id scored (an id appended twice scores twice),
    * the same cosine kernel, and TopK's own reduce and ordering. */
  private final class ResidentFlat(ids: Array[Long],
      rows: Array[ArrayData],
      buckets: Array[Array[Int]], sq8: Boolean) {

    /** The answer rows `(probe_id, rnk, neighbor_id, sim)`, sorted, as a
      * local relation with the distributed arm's schema. Probe rows that
      * share an id pool their candidates and each score all of them, as
      * the distributed arm's probe join does; a probe with no candidate
      * emits no row. Probe groups are independent and are scored in
      * parallel on the driver's cores, as the distributed plan scores
      * them on the executors'. */
    def serve(spark: SparkSession, probes: Array[(Long, Array[Float])], k: Int,
        excludeSelf: Boolean): DataFrame = {
      import graft.functions.{CosineKernels, LshKernels, Scored, TopK}
      val topk = new TopK(k)
      val groups = probes.groupBy(_._1).toArray.sortBy(_._1)
      val answers = new Array[Seq[Row]](groups.length)
      java.util.stream.IntStream.range(0, groups.length).parallel().forEach { g =>
        val (pid, group) = groups(g)
        val pvs = group.map(p => UnsafeArrayData.fromPrimitiveArray(p._2))
        val seen = new java.util.BitSet(ids.length)
        val cands = Array.newBuilder[Int]
        for (pv <- pvs) {
          val sigs = LshKernels.sigs(pv, Tables, Bits)
          for (band <- 0 until Tables; flip <- -1 until Bits) {
            val sig = sigs.getLong(band) ^ (if (flip < 0) 0L else 1L << flip)
            for (r <- buckets(band << Bits | sig.toInt)
                 if !seen.get(r) && !(excludeSelf && ids(r) == pid)) {
              seen.set(r)
              cands += r
            }
          }
        }
        var top = topk.zero
        // a full top-k drops any sim below its last score, so reduce (and
        // its allocations) is skipped there; NaN still goes through reduce
        var bar = Double.NegativeInfinity
        for (r <- cands.result(); pv <- pvs) {
          val sim = if (sq8) CosineKernels.i8(pv, rows(r)) else CosineKernels.f32(pv, rows(r))
          if (!(sim < bar)) {
            top = topk.reduce(top, Scored(sim, ids(r)))
            if (top.length == k) bar = top.last.score
          }
        }
        answers(g) = topk.finish(top).zipWithIndex.map { case (hit, i) =>
          Row(pid, i + 1, hit.id, hit.score)
        }
      }
      spark.createDataFrame(java.util.Arrays.asList(answers.flatten: _*), ResidentFlat.Schema)
    }
  }

  private object ResidentFlat {
    import org.apache.spark.sql.types._
    val Schema: StructType = StructType(Seq(
      StructField("probe_id", LongType), StructField("rnk", IntegerType, nullable = false),
      StructField("neighbor_id", LongType), StructField("sim", DoubleType)))

    /** Read a generation's flat tables into a model, each streamed to the
      * driver one partition at a time as primitive columns: the driver
      * holds the model (per row an id, its vector or codes, and one Int
      * per stored signature) plus one partition of input. Rows with a
      * null key join nothing in the distributed arm and are skipped. */
    def load(spark: SparkSession, signatures: Seq[String], rerank: Seq[String],
        sq8: Boolean): ResidentFlat = {
      import spark.implicits._
      val ids = Array.newBuilder[Long]
      val rows = Array.newBuilder[ArrayData]
      val data = spark.read
        .schema(if (sq8) "vec_id BIGINT, q ARRAY<TINYINT>" else "vec_id BIGINT, embedding ARRAY<FLOAT>")
        .parquet(rerank: _*).filter(col("vec_id").isNotNull)
      // (an Array[Byte] field would decode as BINARY, not ARRAY<TINYINT>)
      if (sq8) data.select(col("vec_id"), col("q").cast("array<int>")).as[(Long, Array[Int])]
        .toLocalIterator().forEachRemaining { case (id, q) =>
          ids += id
          rows += (if (q == null) null else UnsafeArrayData.fromPrimitiveArray(q.map(_.toByte)))
        }
      else data.as[(Long, Array[Float])].toLocalIterator().forEachRemaining { case (id, v) =>
        ids += id; rows += (if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v))
      }
      val idOf = ids.result()
      // the rows of one id, chained: first row, then next(r) until -1
      val first = scala.collection.mutable.LongMap.empty[Int]
      val next = Array.fill(idOf.length)(-1)
      for (r <- idOf.indices.reverse) {
        first.get(idOf(r)).foreach(next(r) = _)
        first(idOf(r)) = r
      }
      val lists = Array.fill(Tables << Bits)(Array.newBuilder[Int])
      spark.read.schema("vec_id BIGINT, band INT, sig BIGINT").parquet(signatures: _*)
        .na.drop().as[(Long, Int, Long)].toLocalIterator().forEachRemaining {
          // a stored bucket outside the key space matches no probe bucket
          case (id, band, sig) if band >= 0 && band < Tables && sig >= 0 && sig < (1L << Bits) =>
            var r = first.getOrElse(id, -1)
            while (r >= 0) { lists(band << Bits | sig.toInt) += r; r = next(r) }
          case _ =>
        }
      new ResidentFlat(idOf, rows.result(), lists.map(_.result()), sq8)
    }
  }
}
