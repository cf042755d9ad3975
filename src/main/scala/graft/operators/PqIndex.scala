package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted product-quantization index — the build/query split of the
  * PQ ANN family (the l53 lane), mirroring [[AnnIndex]] for sign-LSH:
  * `build` fits the per-subspace codebooks and encodes the corpus ONCE,
  * writing three tables under `dir`:
  *
  *   codebooks/  m·k rows (sub, code, cvec) — broadcast-sized model
  *   codes/      n rows (vec_id, codes ARRAY<INT> ordered by sub) — the
  *               ~32×-compressed corpus every ADC query scans INSTEAD
  *               of the vectors (wide since round 13: one row per
  *               vector, the layout the per-partition ADC kernel scans;
  *               scoreProbes still accepts the pre-r13 long layout)
  *   vectors/    the raw vectors, touched only by the bounded exact
  *               re-rank of each probe's top-C ADC candidates
  *
  * At 100 TB this is the family for when the raw vectors don't fit the
  * query path's IO budget: queries read codes/ (~3% of the bytes) plus
  * O(probes·C) vector rows, and the expensive fit+encode runs once per
  * corpus change. The same immutable build/serve split as AnnIndex —
  * rebuild on corpus change, the serving tables are write-once.
  *
  * GENERATIONS ([[IndexGenerations]]): a build writes the three tables
  * at `dir` and commits generation 1; an append writes its batch's
  * codes/ and vectors/ under `g<N>/` and commits N. A serve reads the
  * newest complete manifest and exactly the files it names; its
  * collected codebooks stay resident per model files
  * ([[ServeModelCache]]). A directory without `_gen/` (built before the
  * log) is generation 0, its tables read by listing.
  *
  * Parameters and arithmetic are shared with the inline l53 lane
  * (LlmOps.annPq composes the same frame functions), so stored-index
  * results match the lane exactly — NearDupSpec pins the parity.
  */
object PqIndex {

  import LlmOps.{PqM, PqK, PqRerank}

  /** Squared L2 via the fused dot kernel: |a−b|² = a·a + b·b − 2a·b. */
  private def d2(a: String, b: String) =
    expr(s"dot_f32($a, $a) + dot_f32($b, $b) - 2 * dot_f32($a, $b)")

  /** The per-subspace codebook FIT alone: one seeded sample-fit k-means
    * per subspace (deterministic run-to-run) → (sub, code, cvec). Split
    * out of [[buildFrames]] so the l53 generated-oracle fixture can dump
    * exactly the fitted model without paying the encode. */
  private[operators] def fitCodebooks(s: SparkSession, vecs: DataFrame)
      : DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    graft.functions.VectorExpressions.register(s)
    val n = vecs.count()
    val dim = vecs.select(size(col("embedding"))).first().getInt(0)
    val subDim = dim / PqM
    val codebooks = (0 until PqM).flatMap { sub =>
      val sliceDf = vecs.select(col("vec_id"),
        array_to_vector(expr(s"slice(embedding, ${sub * subDim + 1}, $subDim)"))
          .as("features"))
      LlmOps.fitKMeansOnSample(
        new KMeans().setK(PqK).setSeed(42 + sub).setMaxIter(8),
        sliceDf, "vec_id", n)
        .clusterCenters.zipWithIndex
        .map { case (c, i) => (sub, i, c.toArray.map(_.toFloat)) }
    }
    import s.implicits._
    codebooks.toDF("sub", "code", "cvec")
  }

  /** Fit + encode as pure frames: (codebooks(sub, code, cvec),
    * codes(vec_id, sub, code)). `codes` comes back persisted+materialized
    * — callers unpersist (or let the session's cache teardown reclaim
    * it). */
  private[operators] def buildFrames(s: SparkSession, vecs: DataFrame)
      : (DataFrame, DataFrame) = {
    val cb = fitCodebooks(s, vecs)
    val subDim = cb.select(size(col("cvec"))).first().getInt(0)
    val codes = encode(cb, subDim, vecs).persist()
    codes.count() // materialize before downstream fan-out reads it twice
    (cb, codes)
  }

  /** Nearest-codeword encoding of (vec_id, embedding) rows under the
    * given codebooks — ONE definition shared by build and append, so
    * append-encoded codes can never drift from build-encoded ones. */
  private[operators] def encode(cb: DataFrame, subDim: Int,
      vecs: DataFrame): DataFrame = {
    val best1 = udaf(new graft.functions.TopK(1),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    vecs
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("sub"), col("embedding"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(embedding, sub * $subDim + 1, $subDim)").as("svec"))
      .join(broadcast(cb), "sub")
      .withColumn("negd2", -d2("svec", "cvec"))
      .groupBy("vec_id", "sub")
      .agg(best1(col("negd2"), col("code").cast("long")).as("nb"))
      .select(col("vec_id"), col("sub"),
        col("nb.id").getItem(0).cast("int").as("code"))
  }

  /** Long codes (vec_id, sub, code) → wide (vec_id, codes ARRAY ordered
    * by sub) — the layout the ADC kernel scans. One corpus-linear
    * shuffle, paid at BUILD time for stored indexes (never at serve). */
  private[operators] def widen(codesLong: DataFrame): DataFrame =
    codesLong.groupBy("vec_id").agg(
      transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x.getField("code")).as("codes"))

  /** Driver-side twin of [[graft.functions.DotF32]]: ascending-index
    * double accumulation over min(len) elements — the exact op sequence
    * the codegen'd expression runs, so values computed here are
    * bit-identical to plan-computed ones. */
  private[operators] def dotF32(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** slice(arr, start0+1, len) with SQL slice's truncation semantics. */
  private def sliceF(a: Array[Float], start0: Int, len: Int): Array[Float] =
    if (start0 >= a.length) Array.emptyFloatArray
    else java.util.Arrays.copyOfRange(a, start0, math.min(a.length, start0 + len))

  /** Per-probe ADC distance tables d²(probe slice, codeword) — computed
    * ON THE DRIVER from the collected codebooks and probe batch, both
    * bounded by model/batch size (m=8, k=16 → 128 doubles/probe). The
    * pre-r19 form ran a broadcast-crossJoin-collect Spark job per serve
    * call — a driver-blocking job whose scheduling latency dominated the
    * arithmetic by orders of magnitude. The arithmetic here is the same
    * fixed tree the old plan evaluated — dot(ps,ps) + dot(cv,cv) −
    * 2·dot(ps,cv) with each dot an ascending double fold ([[dotF32]]) —
    * so tables are bit-identical. ONE definition for both PQ families,
    * so their ADC arithmetic can never drift. Returns (sorted probe ids,
    * tabs indexed [probe][sub][code]). */
  private[operators] def distTablesLocal(s: SparkSession,
      cbArr: Array[(Int, Int, Array[Float])],
      probes: Array[(Long, Array[Float])], subDim: Int)
      : org.apache.spark.broadcast.Broadcast[
          (Array[Long], Array[Array[Array[Double]]])] = {
    val probeIds: Array[Long] = probes.map(_._1).distinct.sorted[Long]
    val pidx = probeIds.zipWithIndex.toMap
    val tabs = Array.ofDim[Double](probeIds.length, PqM, PqK)
    probes.foreach { case (pid, pv) =>
      val pi = pidx(pid)
      cbArr.foreach { case (sub, code, cvec) =>
        val ps = sliceF(pv, sub * subDim, subDim)
        tabs(pi)(sub)(code) =
          dotF32(ps, ps) + dotF32(cvec, cvec) - 2 * dotF32(ps, cvec)
      }
    }
    s.sparkContext.broadcast((probeIds, tabs))
  }

  /** Collect a codebooks frame to the driver-resident model form. */
  private[operators] def collectCodebooks(cb: DataFrame)
      : Array[(Int, Int, Array[Float])] =
    cb.select(col("sub"), col("code"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))

  /** Collect the probe batch ONCE and return both the driver array (for
    * the local distance tables / probe-cell selection) and a
    * LocalRelation twin for the plan side: the pre-r19 serve evaluated
    * the probe frame up to three times (distance-table job, cell-select
    * scan, re-rank broadcast), re-running its parquet scan each time. */
  private[operators] def collectProbes(s: SparkSession, probeVecs: DataFrame)
      : (Array[(Long, Array[Float])], DataFrame) = {
    import org.apache.spark.sql.types._
    val rows = probeVecs.select(col("probe_id"), col("pv")).collect()
    val arr = rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val local = s.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("probe_id", LongType),
        StructField("pv", ArrayType(FloatType)))))
    (arr, local)
  }

  /** The shared ADC scoring kernel: per-partition bounded heaps, NOT a
    * join+agg. Two input shapes:
    *
    *   (vec_id, codes)           — flat scan: every row scores EVERY
    *                               probe (m table lookups each)
    *   (probe_id, vec_id, codes) — cell-restricted IVFADC pairs: each
    *                               row scores only its pair's probe
    *
    * Each task keeps ≤C candidates per probe in a local heap; output is
    * (probe_id, vec_id, negd2) heap survivors — shuffled rows =
    * partitions × probes × C, corpus-independent. Callers re-aggregate
    * the global top-C with TopK (the heap ordering below evicts exactly
    * the rows TopK would, so the composition is an exact global top-C).
    *
    * Why not join+agg (codes ⋈ dt → groupBy(probe, vec) → topC): its
    * aggregation state and shuffle are probes × corpus — measured on the
    * round-13 batch-axis probe, a 5000-probe batch against a 20M-vector
    * corpus spilled >50 GB and died on ENOSPC, per-X ratio 1.8 at 10×
    * (super-linear). Round 14 unified IvfPqIndex onto this kernel too
    * (its interim per-row Scala UDF boxed a Seq[Int] and probed a Map
    * per candidate row — VERDICT r13 #3). */
  private[operators] def adcKernel(rows: DataFrame,
      bcTabs: org.apache.spark.broadcast.Broadcast[
        (Array[Long], Array[Array[Array[Double]]])],
      C: Int, excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
    import org.apache.spark.sql.types._
    val perPair = rows.schema.fieldNames.contains("probe_id")
    val in =
      if (perPair) rows.select("probe_id", "vec_id", "codes")
      else rows.select("vec_id", "codes")
    val exclude = excludeSelf
    val outSchema = StructType(Seq(
      StructField("probe_id", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("negd2", DoubleType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    in.mapPartitions { rows =>
      val (pids, dts) = bcTabs.value
      val np = pids.length
      // per-probe bounded min-heap on (negd2 asc, id desc): the root is
      // the WORST kept candidate under TopK's (score desc, id asc)
      // preference, so eviction keeps exactly the rows TopK would
      val ord = new java.util.Comparator[graft.functions.Scored] {
        def compare(a: graft.functions.Scored, b: graft.functions.Scored): Int = {
          val c = java.lang.Double.compare(a.score, b.score)
          if (c != 0) c else java.lang.Long.compare(b.id, a.id)
        }
      }
      val heaps = Array.fill(np)(
        new java.util.PriorityQueue[graft.functions.Scored](C + 1, ord))
      def offer(p: Int, vid: Long, cs: Seq[Int]): Unit = {
        val t = dts(p)
        var d = 0.0
        var m = 0
        while (m < PqM) { d += t(m)(cs(m)); m += 1 }
        val cand = graft.functions.Scored(-d, vid)
        val h = heaps(p)
        if (h.size < C) { h.offer(cand); () }
        else if (ord.compare(cand, h.peek) > 0) { h.poll(); h.offer(cand); () }
      }
      if (perPair) {
        val pmap = new java.util.HashMap[java.lang.Long, java.lang.Integer](np * 2)
        var i = 0
        while (i < np) { pmap.put(pids(i), i); i += 1 }
        rows.foreach { r =>
          val pid = r.getLong(0)
          val vid = r.getLong(1)
          if (!exclude || pid != vid) {
            // null = a pair whose probe is unknown to this batch's
            // tables — impossible by construction (pairs derive from the
            // same probe frame), guarded rather than scored as probe 0
            val p = pmap.get(pid)
            if (p != null) offer(p, vid, r.getSeq[Int](2))
          }
        }
      } else {
        rows.foreach { r =>
          val vid = r.getLong(0)
          val cs = r.getSeq[Int](1)
          var p = 0
          while (p < np) {
            if (!exclude || pids(p) != vid) offer(p, vid, cs)
            p += 1
          }
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, p) =>
        import scala.jdk.CollectionConverters._
        val pid = pids(p)
        h.iterator().asScala.map(sc => Row(pid, sc.id, sc.score))
      }
    }(enc)
  }

  /** Global top-C over the kernel's heap survivors, then the bounded
    * exact re-rank: top-C candidate vectors re-scored by exact cosine,
    * top-k kept — the serve tail both PQ families share. With
    * `sq8Codes` (vec_id, q — symmetric int8, the AnnIndex SQ8 sidecar)
    * the re-rank reads the 1-byte codes through `cosine_i8` instead of
    * the float vectors (VERDICT r17 #5 / r18 #4: the routed arm's
    * re-rank was the last float32 reader; 4× fewer candidate bytes,
    * scale cancels in cosine, ranking differs only by
    * sub-quantization-error swaps). The CALLER owns the divergence
    * gates (count + id-set fingerprint) — this just reads what it is
    * handed. */
  private[operators] def rerankTopK(scored: DataFrame, vecs: DataFrame,
      probeVecs: DataFrame, k: Int, C: Int,
      sq8Codes: Option[DataFrame] = None): DataFrame = {
    val topC = udaf(new graft.functions.TopK(C),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    val cands = scored.groupBy("probe_id")
      .agg(topC(col("negd2"), col("vec_id")).as("nb"))
      .select(col("probe_id"), explode(col("nb.id")).as("vec_id"))
    val topk = udaf(new graft.functions.TopK(k),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    (sq8Codes match {
      case Some(q) => cands.join(q.select("vec_id", "q"), "vec_id")
        .join(broadcast(probeVecs), "probe_id")
        .withColumn("cos", expr("cosine_i8(pv, q)"))
      case None => cands.join(vecs, "vec_id")
        .join(broadcast(probeVecs), "probe_id")
        .withColumn("cos", expr("cosine_f32(pv, embedding)"))
    })
      .groupBy("probe_id")
      .agg(topk(col("cos"), col("vec_id")).as("nb"))
      .select(col("probe_id"), posexplode(col("nb")).as(Seq("pos", "hit")))
      // sim is the RAW cosine double (the l3 discipline): rounding a
      // computed double is the one op Spark and DuckDB disagree on
      // within 1 ULP of a boundary, and the l53 generated oracle
      // hash-checks this column
      .select(col("probe_id"), (col("pos") + 1).cast("int").as("rnk"),
        col("hit.id").as("neighbor_id"), col("hit.score").as("sim"))
      .orderBy("probe_id", "rnk")
  }

  /** Flat ADC scan + bounded exact re-rank against supplied frames:
    * [[distTables]] → [[adcKernel]] over the whole wide-codes table →
    * [[rerankTopK]]. The scan term (probes × n × m lookups) is the
    * flat-PQ contract — cell-restricted IVFADC ([[IvfPqIndex]], same
    * kernel) is the path when even that scan is too much. */
  private[operators] def scoreProbes(s: SparkSession, cb: DataFrame,
      codesIn: DataFrame, vecs: DataFrame, probeVecs: DataFrame,
      k: Int, excludeSelf: Boolean = true): DataFrame =
    scoreProbesArr(s, collectCodebooks(cb), codesIn, vecs, probeVecs,
      k, excludeSelf)

  /** [[scoreProbes]] over an already-collected (possibly cached)
    * codebook model — the serve path for stored indexes, where the
    * model collect is paid once per dir, not per probe batch. */
  private[operators] def scoreProbesArr(s: SparkSession,
      cbArr: Array[(Int, Int, Array[Float])], codesIn: DataFrame,
      vecs: DataFrame, probeVecs: DataFrame,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val subDim = cbArr.head._3.length
    // accept both layouts: wide from a stored index, long from inline
    // buildFrames callers (l53) or a pre-round-13 index dir
    val codes =
      if (codesIn.schema.fieldNames.contains("sub")) widen(codesIn) else codesIn
    val (probeArr, probeLocal) = collectProbes(s, probeVecs)
    val bcTabs = distTablesLocal(s, cbArr, probeArr, subDim)
    val scored = adcKernel(codes, bcTabs, PqRerank, excludeSelf)
    rerankTopK(scored, vecs, probeLocal, k, PqRerank)
  }

  /** Build the index from the standard embeddings table. */
  def build(spark: SparkSession, sfDir: String, dir: String): Unit =
    buildFrom(spark,
      graft.Tables.t(spark, sfDir, "embeddings"), dir)

  /** Build from an arbitrary (vec_id, embedding) frame. The input is
    * persisted across the codebook fit, the encode, and the vector copy
    * — the three reads must see ONE evaluation or a non-deterministic
    * input leaves codes/ and vectors/ inconsistent (the AnnIndex
    * writeIndex discipline). */
  def buildFrom(spark: SparkSession, vecsIn: DataFrame, dir: String): Unit =
    AppendLock.withLock(spark, dir) {
      IndexGenerations.clear(spark, dir, FixedTables)
      val vecs = vecsIn.select(col("vec_id"), col("embedding")).persist()
      try {
        val (cb, codes) = buildFrames(spark, vecs)
        cb.write.mode("overwrite").parquet(s"$dir/codebooks")
        // stored WIDE (vec_id, codes array): the ADC kernel scans one row
        // per vector; the pivot shuffle is paid once here, never at serve
        widen(codes).write.mode("overwrite").parquet(s"$dir/codes")
        val n = IndexGenerations.writeCounted(vecs, s"$dir/vectors")
        codes.unpersist()
        IndexGenerations.commit(spark, dir,
          IndexGenerations.listed(spark, dir, FixedTables).copy(number = 1, rows = n))
      } finally { vecs.unpersist(); () }
    }

  /** The tables of generation 0 and of a build. */
  private val FixedTables = Set("codebooks", "codes", "vectors")

  /** The newest committed generation of `dir`: its codebooks, and the
    * codes and vectors every commit so far added. */
  private[graft] def generation(spark: SparkSession, dir: String): IndexGenerations.Manifest =
    IndexGenerations.current(spark, dir, FixedTables)

  /** Crash-point probe (the AnnIndex.crashProbe discipline): fires after
    * an append's files are written, before its commit. */
  private[graft] var crashProbe: String => Unit = _ => ()

  /** Incremental maintenance — the FAISS `add` semantics: new vectors
    * are encoded against the EXISTING codebooks (the model is frozen at
    * build time; codes are per-row, so they append without touching the
    * stored corpus). Quantization quality for the appended rows is the
    * build-time codebooks' — after enough distribution drift, rebuild
    * (the write-once snapshot discipline: a rebuild is a NEW index, not
    * an in-place mutation).
    *
    * One generation per call, under the index's [[AppendLock]]: the
    * batch's codes and vectors land under `g<N>/` and the manifest
    * commit publishes both at once. A crash anywhere before the commit
    * leaves generation N−1 serving; re-running the append rewrites
    * `g<N>/` and commits the same N, so no code row is ever served
    * twice. Running it again AFTER a commit appends the batch a second
    * time — replay-safe ingestion still belongs behind a committed-batch
    * marker (the StreamJobs discipline). */
  def append(spark: SparkSession, dir: String, newVecs: DataFrame): Unit =
    AppendLock.withLock(spark, dir) {
      graft.functions.VectorExpressions.register(spark)
      val g = generation(spark, dir)
      val number = IndexGenerations.next(spark, dir)
      val out = s"$dir/g$number"
      IndexGenerations.delete(spark, out) // a crashed run's leftovers
      val cb = spark.read.parquet(g("codebooks"): _*)
      val subDim = cb.select(size(col("cvec"))).first().getInt(0)
      val vecs = newVecs.select(col("vec_id"), col("embedding")).persist()
      try {
        encodeMatchingLayout(spark, g("codes"), cb, subDim, vecs)
          .write.mode("overwrite").parquet(s"$out/codes")
        val n = IndexGenerations.writeCounted(vecs, s"$out/vectors")
        def grown(t: String) = t -> (g(t) ++ IndexGenerations.files(spark, s"$out/$t"))
        val next = IndexGenerations.Manifest(number, n,
          g.tables ++ Seq(grown("codes"), grown("vectors")))
        crashProbe("before_commit")
        IndexGenerations.commit(spark, dir, next)
        IndexGenerations.reclaim(spark, dir, FixedTables, g, next)
      } finally { vecs.unpersist(); () }
    }

  /** Encode `vecs` in whatever layout the `codes` files already store —
    * wide (vec_id, codes) from an r13+ build, or long (vec_id, sub, code)
    * from a pre-r13 dir. Appending ONE fixed layout would mix two
    * parquet schemas in one table: later reads pick one file's schema
    * and null out the other's columns, silently breaking both the
    * `contains("sub")` layout dispatch and the ADC kernel. */
  private[operators] def encodeMatchingLayout(spark: SparkSession,
      codes: Seq[String], cb: DataFrame, subDim: Int,
      vecs: DataFrame): DataFrame = {
    val stored = footerFields(spark, codes)
    val fresh = encode(cb, subDim, vecs)
    if (stored.contains("sub")) fresh
    else if (stored.contains("codes")) widen(fresh)
    else throw new IllegalStateException(
      s"${codes.headOption.getOrElse("codes")} holds neither a wide (vec_id, codes) " +
        "nor a long (vec_id, sub, code) PQ layout — rebuild the index")
  }

  /** The top-level column names of the first data file under `paths`
    * (directories or files), from one parquet footer read on the driver
    * — where `spark.read.parquet(...).schema` would run a
    * footer-inference job. Empty when the paths hold no data file. */
  private def footerFields(spark: SparkSession, paths: Seq[String]): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.iterator.flatMap { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      if (path.getFileSystem(conf).getFileStatus(path).isDirectory)
        IndexGenerations.files(spark, p)
      else Seq(p)
    }.nextOption().fold(Set.empty[String]) { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try {
        val fields = r.getFooter.getFileMetaData.getSchema.getFields
        (0 until fields.size).map(fields.get(_).getName).toSet
      } finally r.close()
    }
  }

  /** The codes table at `paths` under a pinned read schema — wide
    * (vec_id, codes) from an r13+ build, or long (vec_id, sub, code) from
    * a pre-r13 dir, told apart by [[footerFields]] — so a serve runs no
    * footer-inference job. */
  private[operators] def readCodes(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(
      if (footerFields(spark, paths)("sub")) "vec_id BIGINT, sub INT, code INT"
      else "vec_id BIGINT, codes ARRAY<INT>")
      .parquet(paths: _*)

  /** Top-k neighbors for an arbitrary probe set (probe_id, pv), served
    * from the stored index: the corpus is read as CODES, raw vectors
    * only for the bounded re-rank.
    *
    * `excludeSelf` (default true) drops candidates whose vec_id equals
    * the probe_id — correct when probes ARE corpus vectors (the l53
    * lane, "neighbors of vector N"). Pass false for EXTERNAL probes
    * whose ids merely share the corpus's id space, or a corpus vector
    * that happens to carry a probe's number silently vanishes from that
    * probe's results. */
  def queryProbes(spark: SparkSession, dir: String, probeVecs: DataFrame,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val g = generation(spark, dir)
    scoreProbesArr(spark,
      ServeModelCache.resident(dir, Option.when(g.number > 0)(g("codebooks").mkString("\n"))) {
        collectCodebooks(spark.read.parquet(g("codebooks"): _*))
      },
      readCodes(spark, g("codes")),
      spark.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .parquet(g("vectors"): _*),
      probeVecs, k, excludeSelf)
  }
}
