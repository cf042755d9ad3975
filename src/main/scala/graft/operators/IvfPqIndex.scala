package graft.operators

import graft.functions.CosineKernels
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._

/** Persisted IVF+PQ index — the composition of the coarse inverted-file
  * quantizer (the l20 IVF family) with product-quantization codes (the
  * l53/[[PqIndex]] family): FAISS's IVFADC layout, the standard
  * billion-vector serving design.
  *
  * Why the composition exists: [[PqIndex]]'s ADC pass scans the WHOLE
  * codes table per probe batch — 32× fewer bytes than the vectors, but
  * still linear in the corpus (the round-9 K=100 probe measured exactly
  * that: idx_pq_probe 6.2× at a 100× corpus, the steepest serve lane).
  * Restricting the scan to each probe's nprobe nearest cells makes the
  * ADC cost O(corpus × nprobe/cells) instead: with k = √n cells and
  * nprobe = k/3, a 100× corpus costs a fixed probe batch ~√100/… — the
  * scan term drops by the cell selectivity at any scale.
  *
  * Layout at `dir` (all write-once, the AnnIndex/PqIndex build/serve
  * split):
  *
  *   centroids/  (cell, cvec) — k = max(4, √n) coarse centers,
  *               broadcast-sized by construction
  *   codebooks/  (sub, code, cvec) — the PQ model (m·k rows)
  *   cells/      (vec_id, cell) — the inverted file; TOP-2
  *               multi-assignment (each vector listed under its two
  *               nearest cells — the l20 trick that roughly squares the
  *               boundary-miss probability, measured 0.60 → 0.88
  *               recall@5 on the clusterless benchmark corpus)
  *   codes/      (vec_id, sub, code) — PQ codes stored ONCE, not per
  *               cell: candidate (probe, vec) pairs resolve against the
  *               narrow cells/ table first (a two-long distinct), and
  *               only the surviving pairs expand to their m code rows —
  *               multi-assignment never inflates the code join or the
  *               dedup shuffle
  *   vectors/    raw vectors, touched only by the bounded exact re-rank
  *
  * Codes quantize the RAW vectors (shared encode with PqIndex, so codes
  * can't drift between the families); classic IVFADC encodes residuals
  * v − centroid for a tighter quantization — that refinement changes
  * only the encode/distance-table inputs and is the documented
  * production knob, not a structural change.
  *
  * HONEST SCALE NOTE (measured, SCALE.md): the scan saving is exactly
  * the cell selectivity nprobe/cells × assignment factor. The default
  * nprobe = cells/3 is tuned for RECALL on the clusterless benchmark
  * corpus (no structure for a coarse quantizer to exploit — IVF's
  * adversarial case), where it buys only a constant ~2/3 fraction. A
  * real embedding corpus clusters, and production serves at a small
  * FIXED nprobe (tens of cells out of √n) — pass `nprobe` explicitly
  * there; the scan term then falls with corpus growth instead of
  * tracking it.
  *
  * GENERATIONS ([[IndexGenerations]]): a build writes the five tables at
  * `dir` and commits generation 1, naming every data file and the fitted
  * corpus size; an append writes its batch's cells/, codes/ and vectors/
  * under `g<N>/` and commits N. A serve reads the newest complete
  * manifest and exactly the files it names, so a crashed append is
  * invisible and its re-run commits the same N. A directory without
  * `_gen/` (built before the log, or an AnnIndex sidecar's model
  * directory) is generation 0, its tables read by listing.
  *
  * Fitting, appending and serving each have a kernel over explicit
  * table files ([[fit]], [[appendTo]], [[serve]]). AnnIndex's sidecar
  * commits and serves through them from its own generation manifests.
  */
object IvfPqIndex {

  import LlmOps.PqRerank

  /** nprobe for a k-cell index: k/3 with top-2 assignment reaches the
    * l20-measured 0.88 recall@5 on the adversarial (clusterless)
    * benchmark corpus; real embedding corpora use far smaller
    * fractions. */
  def defaultNprobe(cells: Int): Int = math.max(3, cells / 3)

  def build(spark: SparkSession, sfDir: String, dir: String): Unit =
    buildFrom(spark, graft.Tables.t(spark, sfDir, "embeddings"), dir)

  /** Build from an arbitrary (vec_id, embedding) frame: replaces whatever
    * `dir` held, log included, and commits generation 1. */
  def buildFrom(spark: SparkSession, vecs: DataFrame, dir: String): Unit =
    AppendLock.withLock(spark, dir) {
      IndexGenerations.clear(spark, dir, FixedTables)
      val t = fit(spark, vecs, dir)
      IndexGenerations.commit(spark, dir, manifest(1, t.fitted.get, t))
    }

  /** The tables of generation 0 and of a build. */
  private val FixedTables = Set("centroids", "codebooks", "cells", "codes", "vectors")

  /** The fit kernel: k-means coarse centroids and PQ codebooks over
    * `vecsIn`, and its cells, codes and vectors, written to `out`;
    * returns their files and the fitted corpus size. */
  private[operators] def fit(spark: SparkSession, vecsIn: DataFrame,
      out: String): Tables = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    graft.functions.VectorExpressions.register(spark)
    // persisted: the fit, the assignment, and the PQ encode all read it
    val vecs = vecsIn.select(col("vec_id"), col("embedding")).persist()
    try {
      val n = vecs.count()
      val k = math.max(4, math.sqrt(n.toDouble).toInt)
      val model = LlmOps.fitKMeansOnSample(
        new KMeans().setK(k).setSeed(7).setMaxIter(8),
        vecs.select(col("vec_id"),
          array_to_vector(col("embedding")).as("features")),
        "vec_id", n)
      val centers = {
        import spark.implicits._
        model.clusterCenters.zipWithIndex.toSeq
          .map { case (v, i) => (i.toLong, v.toArray.map(_.toFloat)) }
          .toDF("cell", "cvec")
      }
      val (cb, codes) = PqIndex.buildFrames(spark, vecs)
      centers.write.mode("overwrite").parquet(s"$out/centroids")
      cb.write.mode("overwrite").parquet(s"$out/codebooks")
      cellsOf(vecs, centers).write.mode("overwrite").parquet(s"$out/cells")
      // wide, like PqIndex (round 13): the ADC scores one row per
      // candidate pair, no per-subspace fan-out or (probe, vec) re-agg
      PqIndex.widen(codes).write.mode("overwrite").parquet(s"$out/codes")
      vecs.write.mode("overwrite").parquet(s"$out/vectors")
      codes.unpersist()
      listed(spark, out, Some(n))
    } finally { vecs.unpersist(); () }
  }

  /** Top-2 multi-assignment of `vecs` to the cells of `centers` —
    * bounded-heap agg, no window. */
  private def cellsOf(vecs: DataFrame, centers: DataFrame): DataFrame = {
    val top2 = udaf(new graft.functions.TopK(2),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    vecs.crossJoin(broadcast(centers))
      .withColumn("csim", expr("cosine_f32(embedding, cvec)"))
      .groupBy("vec_id")
      .agg(top2(col("csim"), col("cell")).as("nb"))
      .select(col("vec_id"), explode(col("nb.id")).as("cell"))
  }

  /** The files of one IVFPQ index: the two model tables, written once by
    * a fit, the corpus tables, which appends extend, and the corpus size
    * the model was `fitted` on, when recorded. */
  private[graft] final case class Tables(centroids: Seq[String],
      codebooks: Seq[String], cells: Seq[String], codes: Seq[String],
      vectors: Seq[String], fitted: Option[Long])

  /** The tables under `dir`, by listing. */
  private[operators] def listed(spark: SparkSession, dir: String,
      fitted: Option[Long]): Tables =
    tablesOf(IndexGenerations.listed(spark, dir, FixedTables).copy(fitted = fitted), "", dir)

  /** The tables a manifest names under `prefix` (AnnIndex's sidecar:
    * "ivfpq/"). A manifest that names no model files (an AnnIndex log
    * from before they were listed) has them in `modelDir`. */
  private[operators] def tablesOf(m: IndexGenerations.Manifest, prefix: String,
      modelDir: String): Tables = {
    def model(t: String) = m.tables.getOrElse(s"$prefix$t", Seq(s"$modelDir/$t"))
    Tables(model("centroids"), model("codebooks"), m(s"${prefix}cells"),
      m(s"${prefix}codes"), m(s"${prefix}vectors"), m.fitted)
  }

  /** The manifest entries of `t` under `prefix`. */
  private[operators] def entries(t: Tables, prefix: String): Map[String, Seq[String]] =
    Map(s"${prefix}centroids" -> t.centroids, s"${prefix}codebooks" -> t.codebooks,
      s"${prefix}cells" -> t.cells, s"${prefix}codes" -> t.codes,
      s"${prefix}vectors" -> t.vectors)

  private def manifest(number: Long, rows: Long, t: Tables) =
    IndexGenerations.Manifest(number, rows, entries(t, ""), t.fitted)

  /** The newest committed generation of `dir` and its tables; generation
    * 0 when `dir` has no log. */
  private def generation(spark: SparkSession, dir: String): (Long, Tables) = {
    val m = IndexGenerations.current(spark, dir, FixedTables)
    (m.number, tablesOf(m, "", dir))
  }

  /** Incremental maintenance under the FROZEN build-time models: new
    * vectors assign to their top-2 cells under the stored centroids and
    * encode under the stored codebooks (PqIndex.encode — one shared
    * definition, so appended codes can never drift from built ones).
    * One generation per call, under the index's [[AppendLock]]: the
    * batch's cells, codes and vectors land under `g<N>/` and the
    * manifest commit publishes them at once. A crash anywhere before the
    * commit leaves generation N−1 serving; re-running the append
    * rewrites `g<N>/` and commits the same N. Running it again AFTER a
    * commit appends the batch a second time — replay-safe ingestion
    * still belongs behind a committed-batch marker (the StreamJobs
    * discipline). Quantizer drift (a corpus that outgrows the build-time
    * centroids/codebooks) is a REBUILD, the FAISS contract. */
  def append(spark: SparkSession, dir: String, newVecs: DataFrame): Unit =
    AppendLock.withLock(spark, dir) {
      val (number, t) = generation(spark, dir)
      val next = IndexGenerations.next(spark, dir)
      val out = s"$dir/g$next"
      IndexGenerations.delete(spark, out) // a crashed run's leftovers
      val (grown, n) = appendTo(spark, t, out, newVecs)
      val m = manifest(next, n, grown)
      IndexGenerations.commit(spark, dir, m)
      IndexGenerations.reclaim(spark, dir, FixedTables, manifest(number, 0, t), m)
    }

  /** The append kernel: encodes `newVecs` under the models of `t` and
    * writes their cells, codes and vectors under `outDir`; returns `t`
    * extended by those files, and the batch's row count. */
  private[operators] def appendTo(spark: SparkSession, t: Tables,
      outDir: String, newVecs: DataFrame): (Tables, Long) = {
    graft.functions.VectorExpressions.register(spark)
    val centers = spark.read.parquet(t.centroids: _*)
    val cb = spark.read.parquet(t.codebooks: _*)
    val subDim = cb.select(size(col("cvec"))).first().getInt(0)
    val vecs = newVecs.select(col("vec_id"), col("embedding")).persist()
    try {
      cellsOf(vecs, centers).write.mode("overwrite").parquet(s"$outDir/cells")
      // match the stored codes layout (wide r13+ / long pre-r13) — see
      // PqIndex.encodeMatchingLayout for why mixing schemas is fatal
      PqIndex.encodeMatchingLayout(spark, t.codes, cb, subDim, vecs)
        .write.mode("overwrite").parquet(s"$outDir/codes")
      val n = IndexGenerations.writeCounted(vecs, s"$outDir/vectors")
      def added(table: String) = IndexGenerations.files(spark, s"$outDir/$table")
      (t.copy(cells = t.cells ++ added("cells"), codes = t.codes ++ added("codes"),
        vectors = t.vectors ++ added("vectors")), n)
    } finally { vecs.unpersist(); () }
  }

  /** Top-k neighbors for a probe set (probe_id, pv), served from the
    * newest generation of `dir`: per-probe nearest cells from the
    * resident centroids, candidate (probe, vec) pairs from the narrow
    * cells/ join (distinct at PAIR granularity — a probe reaching BOTH
    * cells of a multi-assigned vector would otherwise sum its distance
    * table twice), cell-restricted ADC over codes/, bounded exact
    * re-rank. */
  def queryProbes(spark: SparkSession, dir: String, probeVecs: DataFrame,
      k: Int, nprobe: Int = 0, excludeSelf: Boolean = true,
      sq8Codes: Option[DataFrame] = None): DataFrame = {
    val (number, t) = generation(spark, dir)
    serve(spark, dir, number > 0, t, PqIndex.collectProbes(spark, probeVecs),
      k, nprobe, excludeSelf, sq8Codes)
  }

  /** The serving kernel: tables `t`, and a probe batch already collected
    * by [[PqIndex.collectProbes]]. The two MODEL tables are collected
    * once and held resident under `key` while `t` is `committed`
    * ([[ServeModelCache]], keyed by the model's files): the pre-r19
    * serve paid a centroid-count job, a subDim job, and a distance-table
    * crossJoin-collect job per probe batch — driver-blocking scheduling
    * latency, not compute, at any batch size. Generation 0 collects
    * them per serve. */
  private[operators] def serve(spark: SparkSession, key: String,
      committed: Boolean, t: Tables, probes: (Array[(Long, Array[Float])], DataFrame),
      k: Int, nprobe: Int, excludeSelf: Boolean,
      sq8Codes: Option[DataFrame]): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val (centersArr, cbArr) = ServeModelCache.resident(key,
        Option.when(committed)((t.centroids ++ t.codebooks).mkString("\n"))) {
      (spark.read.parquet(t.centroids: _*).collect().map(r => (r.getLong(0),
        UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](1).toArray))),
        PqIndex.collectCodebooks(spark.read.parquet(t.codebooks: _*)))
    }
    val subDim = cbArr.head._3.length
    val cells = spark.read.schema("vec_id BIGINT, cell BIGINT")
      .parquet(t.cells: _*)
    val codes = PqIndex.readCodes(spark, t.codes)
    val vecs = spark.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .parquet(t.vectors: _*)
    val np = if (nprobe > 0) nprobe else defaultNprobe(centersArr.length)
    val (probeArr, probeLocal) = probes
    // probe cells ON THE DRIVER — |probes| × k cosines against the
    // resident centroids, replicating the former crossJoin + row_number
    // plan exactly: cosine via cosine_f32's own kernel, ordering
    // (csim DESC with NaN largest-first — Spark's double ordering —
    // then cell ASC), top-np per probe
    val cellOrd = new Ordering[(Long, Double)] {
      def compare(a: (Long, Double), b: (Long, Double)): Int = {
        val c = java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    }
    val pcRows: Seq[org.apache.spark.sql.Row] = probeArr.toSeq.flatMap {
      case (pid, pv) =>
        val p = UnsafeArrayData.fromPrimitiveArray(pv)
        centersArr
          .map { case (cell, cv) => (cell, CosineKernels.f32(p, cv)) }
          .sorted(cellOrd).take(np)
          .map { case (cell, _) => org.apache.spark.sql.Row(pid, cell) }
    }
    val probeCells = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(java.util.Arrays.asList(pcRows: _*),
        StructType(Seq(StructField("probe_id", LongType),
          StructField("cell", LongType))))
    }
    // per-probe distance tables + ADC scoring + re-rank are the SHARED
    // PqIndex kernel pieces (round 14, VERDICT r13 #3: the interim
    // per-row Scala UDF boxed a Seq[Int] and probed a Map per candidate
    // row — one ADC implementation now serves both families)
    val bcTabs = PqIndex.distTablesLocal(spark, cbArr, probeArr, subDim)
    // accept both code layouts: wide (r13 builds) and pre-r13 long dirs
    val codesWide =
      if (codes.schema.fieldNames.contains("sub")) PqIndex.widen(codes)
      else codes
    // the IVF restriction: candidate pairs from the narrow inverted
    // file (two-long rows), deduped, then ONE wide code row per pair —
    // the kernel scores each pair's probe only (m table lookups), so
    // nothing ever re-aggregates at (probe, vec) granularity and the
    // only shuffled relations are the candidate pairs and the kernel's
    // ≤C-per-probe heap survivors (the pre-r13 per-subspace expansion +
    // groupBy(probe, vec) carried m× the pairs)
    val cands = cells.join(broadcast(probeCells), Seq("cell"))
      .filter(if (excludeSelf) col("probe_id") =!= col("vec_id") else lit(true))
      .select("probe_id", "vec_id").distinct()
    val scored = PqIndex.adcKernel(cands.join(codesWide, "vec_id"),
      bcTabs, PqRerank, excludeSelf = false) // self-pairs already filtered
    // sq8Codes: the exact re-rank reads 1-byte codes (cosine_i8)
    // instead of vectors/ — the AnnIndex router passes its gated SQ8
    // sidecar through here so BOTH serving arms honor serveSq8
    PqIndex.rerankTopK(scored, vecs, probeLocal, k, PqRerank, sq8Codes)
  }
}
