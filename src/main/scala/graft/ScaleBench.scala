package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up probe: does every headline plan stay LINEAR when the data
  * grows K×? The driver's bench runs at sf0.1; this main synthesizes a
  * K×-scaled copy (default 10× ≈ sf1) from the sf0.1 tables and times the
  * same headline suite at both scales in one process, reporting the
  * per-query scale ratio normalized by K — the "would this survive a
  * 100× scale-up" question made measurable. A query whose normalized
  * ratio ≫ 1 has something super-linear in it (a pair blow-up, a
  * single-task sort, a broadcast that stopped fitting); ~1 means the
  * plan's cost is proportional to data, the local stand-in for "scales
  * across executors".
  *
  * Scaling scheme (shards, not noise): each replica i shifts every KEY
  * column by i·2^33, so replicas are disjoint self-consistent shards of
  * the same distribution — exactly how a bigger TPC-H SF behaves (more
  * customers/orders/suppliers, same per-key row counts). Dimension
  * tables (region, nation) stay fixed, like real scale-ups: per-nation
  * group sizes grow K×, stressing partial aggregation the right way.
  * Document text gets a per-replica marker appended to EVERY token —
  * one suffix token would leave all original shingles (and hence the
  * per-band MinHash minima) intact across replicas, making every
  * replica pair an LSH candidate: exactly the synthetic K²-pair
  * explosion this scheme exists to avoid. Per-token salting makes every
  * shingle differ, so minhash/dedup workloads scale by corpus size.
  *
  *   SPARK_GRAFT_SCALE_K     replicas (default 10)
  *   SPARK_GRAFT_SF_DIR      base dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_SCALE_DIR   output (default /tmp/graft_scale_x<K>)
  *   SPARK_GRAFT_SCALE_ONLY  comma-separated query-name filter
  *
  * Prints ONE JSON line:
  *   {"metric":"scale_ratio_mean", "value":…, "k":K,
  *    "base":{q:sec…}, "scaled":{q:sec…}, "ratio_per_k":{q:r…}}
  */
object ScaleBench {

  private[graft] val Off = 1L << 33

  private def replicate(spark: SparkSession, base: String, out: String,
      k: Int, name: String, keys: Seq[String],
      tweak: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
    // raw read, NOT Tables.t: events' nanos column must stay a plain
    // long so the scaled dir reads back through Tables.t unchanged
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = spark.read.parquet(s"$base/$name.parquet")
    val parts = (0 until k).map { i =>
      val shifted = keys.foldLeft(src)((d, c) =>
        d.withColumn(c, col(c) + lit(i * Off)))
      tweak(shifted, i)
    }
    parts.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/$name.parquet")
  }

  private[graft] def generate(spark: SparkSession, base: String,
      out: String, k: Int): Unit = {
    for (dim <- Seq("region", "nation"))
      spark.read.parquet(s"$base/$dim.parquet")
        .write.mode("overwrite").parquet(s"$out/$dim.parquet")
    // c_name is a function of the key in the base data (distinct per
    // customer, like real TPC-H) — regenerate it from the shifted key or
    // every name would exist K× and pair-joins over names (j13) would
    // measure a synthetic K² blow-up no true scale-up has
    replicate(spark, base, out, k, "customer", Seq("c_custkey"),
      (d, i) => if (i == 0) d
        else d.withColumn("c_name",
          format_string("Customer#%09d", col("c_custkey"))))
    replicate(spark, base, out, k, "supplier", Seq("s_suppkey"))
    replicate(spark, base, out, k, "part", Seq("p_partkey"))
    replicate(spark, base, out, k, "orders", Seq("o_orderkey", "o_custkey"))
    replicate(spark, base, out, k, "lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate(spark, base, out, k, "events", Seq("user_id"))
    replicate(spark, base, out, k, "documents", Seq("doc_id"),
      (d, i) => if (i == 0) d
        else d.withColumn("text", concat(
          regexp_replace(col("text"), " ", s"~$i "), lit(s"~$i"))))
    replicate(spark, base, out, k, "embeddings", Seq("vec_id"))
  }

  /** Scale-probed lanes that are not bench headlines: the probe wants
    * every new join/screen shape measured at K×, the headline suite
    * wants cross-round comparability. */
  private[graft] def extraProbes
      : Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "l54_simhash_neardup" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l54_simhash_neardup")(s, d)),
    // (l54w_simhash64 — the 64-bit/4×16-band variant — was probed here in
    // round 9 and promoted to a Bench headline + driver-registry lane in
    // round 10, so it now rides the headline suite above)
    "l56_dsir_weights" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l56_dsir_weights")(s, d)),
    // span decontamination: the round-9 window-cover join shape —
    // per-token positions vs covered-position union
    "l58_span_decontam" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l58_span_decontam")(s, d)),
    // full-corpus PCA projection (VERDICT r15 #4): the l66 map-only
    // plan without the oracle's 200-probe bound — the fit is paid once
    // per dir by the warmup sweep (PcaFix cache), timed sweeps measure
    // the projection term, which must scale as the corpus (ratio/K ~1)
    "l66_pca_full" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.pcaProjectCorpus(s, d)),
    // full-table z-order keys (VERDICT r15 #4/#6): the pure-codegen
    // Morton kernels over the whole lineitem table — no shuffle, no
    // oracle filter; ratio/K ~1 is the "pure map survives scale" pin
    "o17_zorder_full" -> ((s: SparkSession, d: String) => {
      graft.functions.ZOrder.register(s)
      graft.Tables.t(s, d, "lineitem")
        .select(org.apache.spark.sql.functions.expr(
          "zorder2(l_partkey % 65536, l_suppkey % 65536)").as("zval"))
    }),
    "o18_zorder3_full" -> ((s: SparkSession, d: String) => {
      graft.functions.ZOrder.register(s)
      graft.Tables.t(s, d, "lineitem")
        .select(org.apache.spark.sql.functions.expr(
          "zorder3(l_partkey % 65536, l_suppkey % 65536, " +
            "l_orderkey % 65536)").as("zval"))
    }),
    // int8 quantization at corpus width: the l67 lane is already
    // full-table (no oracle bound to strip) — per-row scale + rounding,
    // the 4× serving compression's cost measured against corpus growth
    "l67_quant_full" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l67_int8_quant")(s, d)),
    // round 18: stream-stream interval join at K× — user_id keys shift
    // per replica, so per-user pair counts stay constant and the join's
    // output (and cost) must scale as the corpus, never as its square
    "t13_stream_stream_join" -> ((s: SparkSession, d: String) =>
      graft.operators.StreamOps.queries("t13_stream_stream_join")(s, d)),
    // round 18: full-corpus k-means assignment — the l70 map-only plan;
    // the Lloyd fit is paid once per dir by the warmup sweep (KmFix
    // cache), timed sweeps measure the serving term (ratio/K ~1 = pure
    // map survives scale)
    "l70_kmeans_full" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l70_kmeans_cluster")(s, d)),
    // round 18: cluster coreset — assignment + bounded-heap top-5 per
    // centroid (k·N shuffle rows independent of corpus size)
    "l71_cluster_coreset" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l71_cluster_coreset")(s, d)),
    // round 18: Merkle snapshot diff — the two-label publish is paid by
    // the warmup sweep (SnapDiff cache); timed sweeps measure the diff
    // itself: manifest compare (metadata) + the ONE rewritten bucket's
    // blocks, whose size — not count — grows with K (O(changed bytes))
    "o20_snapshot_diff" -> ((s: SparkSession, d: String) =>
      graft.operators.ScanOps.queries("o20_snapshot_diff")(s, d)))

  def main(args: Array[String]): Unit = {
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", s"/tmp/graft_scale_x$k")
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    val done = java.nio.file.Paths.get(out, "_SCALE_DONE")
    if (!java.nio.file.Files.exists(done)) {
      generate(spark, base, out, k)
      java.nio.file.Files.write(done, k.toString.getBytes)
    } else {
      // the marker records the K the data was GENERATED at — silently
      // reusing K=10 data while normalizing ratios by a different K
      // would bias every reported number
      val prev = new String(java.nio.file.Files.readAllBytes(done)).trim
      require(prev == k.toString,
        s"$out was generated at K=$prev but this run wants K=$k — " +
          s"delete the dir or set SPARK_GRAFT_SCALE_K=$prev")
    }

    val suite = (Bench.headline ++ extraProbes).filter { case (n, _) =>
      only.isEmpty || only(n)
    }
    def timeOne(fn: (SparkSession, String) => DataFrame, d: String): Double = {
      val t0 = System.nanoTime()
      fn(spark, d).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      // cache teardown is isolation between measurements, not query work —
      // keep it outside the timed region or every ratio inflates
      spark.catalog.clearCache()
      secs
    }
    // warmup sweep at both scales, then 2 timed sweeps; min-of-2 per dir
    suite.foreach { case (_, fn) =>
      try { timeOne(fn, base); timeOne(fn, out) }
      catch { case _: Throwable => () }
    }
    val baseT = scala.collection.mutable.LinkedHashMap[String, Double]()
    val scaleT = scala.collection.mutable.LinkedHashMap[String, Double]()
    // a query that fails AT SCALE (OOM, blow-up) is the probe's most
    // important signal — record it by name instead of silently reporting
    // a healthy mean over the survivors
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    for (_ <- 1 to 2; (name, fn) <- suite) {
      try {
        val b = timeOne(fn, base)
        baseT(name) = math.min(baseT.getOrElse(name, Double.MaxValue), b)
        val s = timeOne(fn, out)
        scaleT(name) = math.min(scaleT.getOrElse(name, Double.MaxValue), s)
      } catch { case _: Throwable => failed += name }
    }
    def jm(m: scala.collection.Map[String, Double]): String =
      m.map { case (q, v) => "\"" + q + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    val ratios = baseT.collect {
      case (q, b) if b > 0 && scaleT.contains(q) =>
        q -> scaleT(q) / b / k
    }
    val mean =
      if (ratios.isEmpty) -1.0 else ratios.values.sum / ratios.size
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(f"""{"metric":"scale_ratio_mean","value":$mean%.3f,"unit":"x_per_k","k":$k,"base":${jm(baseT)},"scaled":${jm(scaleT)},"ratio_per_k":${jm(ratios)},"failed":$failedJson}""")
    spark.stop()
  }
}
