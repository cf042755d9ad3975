package graft

import org.apache.spark.sql.functions._

/** Plan-shape regression guards — the ".explain and iterate" discipline
  * encoded as assertions, so a future change that silently drops a
  * broadcast or un-pushes a filter fails CI, not the 100 TB run. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("s1 pushes the quantity filter into the parquet scan") {
    val p = plan("s1_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), p)
    // pruned read schema: exactly the 4 projected columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double>"), p)
  }

  test("j5 star join broadcasts all four dimensions — zero sort-merge joins") {
    val p = plan("j5_star_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("o1 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("o1_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("j6 bounded range join broadcasts the filtered probe side") {
    val p = plan("j6_range")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("j12 banded range join is an equi join — no nested loop even unbroadcast") {
    // the scale contract of bandedRangeJoin: both sides fact-sized must
    // still plan a hash/merge EQUI join on the band key; the exact range
    // predicate rides inside the join as a post-condition
    val p = plan("j12_range_banded")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // with broadcast disabled entirely the plan must STILL be an equi join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = plan("j12_range_banded")
      assert(!p2.contains("BroadcastNestedLoopJoin") &&
        !p2.contains("CartesianProduct"), p2)
      assert(p2.contains("SortMergeJoin") || p2.contains("ShuffledHashJoin"), p2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("j15 interval overlap is an equi join on the band key, no nested loop") {
    val p = plan("j15_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p2 = plan("j15_interval_overlap")
      assert(!p2.contains("BroadcastNestedLoopJoin") &&
        !p2.contains("CartesianProduct"), p2)
      assert(p2.contains("SortMergeJoin") || p2.contains("ShuffledHashJoin"), p2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("index-serve lanes: no cartesian anywhere, ANN probes ride a broadcast") {
    // the serve lanes live in Bench.headline, not SparkEntry.queries,
    // so PlanGuardSpec's sweep doesn't see them — guard their plan
    // shapes here (indexes build once at sf0.001 via ServeIndexes)
    val lanes = Bench.headline.toMap
    val serveNames = Seq("idx_dedup_screen", "idx_ann_probe",
      "idx_jaccard_screen", "idx_neardup_screen", "idx_simhash_screen",
      "idx_pq_probe", "idx_ivfpq_probe")
    for (n <- serveNames) {
      val p = lanes(n)(spark, sfDir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian:\n$p")
    }
    // the ANN probe's candidate join must broadcast the probe buckets
    // against the signature table — the index side is the 100 TB side.
    // That join exists on the distributed arm, which serves a generation
    // past the broadcast bound; the sf0.001 generation fits the bound and
    // serves from the driver-resident model, so the bound is switched
    // off (-1) to plan the distributed arm here
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val pAnn =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        lanes("idx_ann_probe")(spark, sfDir).queryExecution.executedPlan.toString
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(pAnn.contains("BroadcastHashJoin"), pAnn)
  }

  test("adaptive band width tracks the span distribution, results width-invariant") {
    import graft.SparkSpec.spark.implicits._
    // spans: 98× length-5, 2× length-50 outliers → p95 = 5, so the
    // derived width must follow the TYPICAL span, not the max (max-
    // driven width would thicken every band to the outlier's size)
    val iv = (1 to 100).map(i =>
        (i.toLong, i * 100L, i * 100L + (if (i > 98) 49L else 4L)))
      .toDF("id", "lo", "hi")
    val w = graft.operators.JoinOps.adaptiveBandWidth((iv, "lo", "hi"))
    assert(w == 5L, s"p95 span is 5, got $w")
    // the width shapes only the plan: auto and any fixed width agree
    val pts = (1 to 2000).map(i => (i.toLong, i * 5L)).toDF("pid", "p")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = pairs(
      graft.operators.JoinOps.bandedRangeJoin(pts, "p", iv, "lo", "hi"))
    val fixed = pairs(
      graft.operators.JoinOps.bandedRangeJoin(pts, "p", iv, "lo", "hi", 16L))
    assert(auto.nonEmpty && auto == fixed)
  }

  test("adaptive band width memoizes per data generation; ad-hoc frames never cache") {
    import graft.SparkSpec.spark.implicits._
    val day = (c: org.apache.spark.sql.Column) =>
      datediff(c, to_date(lit("1970-01-01")))
    // a file-backed interval frame with a construction unique to this
    // test (so no other suite pre-warms its cache entry)
    def probes() = graft.Tables.t(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("k"), day(col("o_orderdate")).as("d1"))
      .withColumn("lo", col("d1") + 2)
      .withColumn("hi", col("d1") + 9)
    val before = graft.operators.JoinOps.widthDerivations.get()
    val w1 = graft.operators.JoinOps.adaptiveBandWidth((probes(), "lo", "hi"))
    assert(graft.operators.JoinOps.widthDerivations.get() == before + 1)
    // a FRESH frame over the same files + same plan: cache hit, same width
    val w2 = graft.operators.JoinOps.adaptiveBandWidth((probes(), "lo", "hi"))
    assert(w2 == w1)
    assert(graft.operators.JoinOps.widthDerivations.get() == before + 1,
      "repeat call over the same generation re-ran the derivation job")
    // a different construction over the SAME files derives its own width
    val wider = probes().withColumn("hi", col("d1") + 20)
    val w3 = graft.operators.JoinOps.adaptiveBandWidth((wider, "lo", "hi"))
    assert(w3 != w1 &&
      graft.operators.JoinOps.widthDerivations.get() == before + 2)
    // an in-memory frame has no file generation to key on → per-call path
    val adhoc = Seq((1L, 10L, 14L)).toDF("id", "lo", "hi")
    graft.operators.JoinOps.adaptiveBandWidth((adhoc, "lo", "hi"))
    graft.operators.JoinOps.adaptiveBandWidth((adhoc, "lo", "hi"))
    assert(graft.operators.JoinOps.widthDerivations.get() == before + 4,
      "ad-hoc frames must keep the per-call derivation")
  }

  test("width cache is size-bounded: a full cache is cleared by the next insert") {
    val ops = graft.operators.JoinOps
    // fill to the threshold with synthetic keys, then drive one REAL
    // derivation through adaptiveBandWidth: its insert path must clear
    // the full map before caching, so the long-lived-service map can
    // never exceed widthCacheMax entries
    ops.widthCache.clear() // start from empty: other tests add real entries
    (0 until ops.widthCacheMax).foreach { i =>
      ops.widthCache.put(s"synthetic-$i", java.lang.Long.valueOf(1L))
    }
    assert(ops.widthCache.size() == ops.widthCacheMax)
    val probes = graft.Tables.t(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 89 === 0)
      .select(col("o_orderkey").as("lo"),
        (col("o_orderkey") + 7).as("hi"))
    ops.adaptiveBandWidth((probes, "lo", "hi"))
    assert(ops.widthCache.size() <= 2,
      s"insert into a full cache must clear it first, size=${ops.widthCache.size()}")
    ops.widthCache.clear() // leave no synthetic entries for other suites
  }

  test("j13 fuzzy join is an equi join on deletion variants, no cross join") {
    val p = plan("j13_fuzzy_neighbors")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("range-join rule: plain theta join auto-plans as a banded equi join") {
    graft.plans.BandedRangeJoinRule.register(spark)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "8")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val day = (c: org.apache.spark.sql.Column) =>
        datediff(c, to_date(lit("1970-01-01")))
      val probes = graft.Tables.t(spark, sfDir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey").as("k"), day(col("o_orderdate")).as("d1"))
        .withColumn("lo", col("d1") + 1).withColumn("hi", col("d1") + 7)
      val points = graft.Tables.t(spark, sfDir, "orders")
        .select(col("o_orderkey").as("k2"), day(col("o_orderdate")).as("d2"))
      // the naive formulation a user would write — NO manual banding
      val naive = points.join(probes,
          col("d2") >= col("lo") && col("d2") <= col("hi") &&
          col("k2") =!= col("k"))
        .groupBy("k").agg(count(lit(1)).as("n")).orderBy("k")
      val p = naive.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      // and it computes exactly what the hand-banded j12 computes
      val auto = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "0")
      val manual = SparkEntry.queries("j12_range_banded")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(auto == manual)
    } finally {
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  test("range-join rule differential: random data incl. negative coordinates") {
    // the rule must be invisible to results for ANY inputs — negative
    // values matter because banding uses floor division (integer '/'
    // truncates toward zero and would mis-band below zero)
    graft.plans.BandedRangeJoinRule.register(spark)
    import graft.SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(7)
    val points = (1 to 400)
      .map(i => (i.toLong, (rnd.nextInt(2001) - 1000).toLong)).toDF("pid", "x")
    val ivs = (1 to 120).map { i =>
      val lo = (rnd.nextInt(2001) - 1000).toLong
      // every 10th interval is EMPTY (hi < lo): must match nothing, and
      // must not crash the banded plan's sequence() explode
      val hi = if (i % 10 == 0) lo - 5 else lo + rnd.nextInt(60)
      (i.toLong, lo, hi)
    }.toDF("iid", "lo", "hi")
    def pairs() = points
      .join(ivs, col("x") >= col("lo") && col("x") <= col("hi"))
      .select("pid", "iid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = pairs() // rule dormant: conf unset
    try {
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "32")
      assert(pairs() == expected)
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "7")
      assert(pairs() == expected)
      // the max-bands guard fails fast (clear error, not a silent
      // shuffle explosion) when bandWidth is mis-scaled for the join
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "1")
      spark.conf.set("spark.graft.rangeJoin.maxBands", "3")
      val ex = intercept[Exception] { pairs() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("rangeJoin")), ex.toString)
    } finally {
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "0")
      spark.conf.unset("spark.graft.rangeJoin.maxBands")
    }
  }

  test("range-join rule: naive interval-OVERLAP join auto-bands, no dedup") {
    graft.plans.BandedRangeJoinRule.register(spark)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.graft.rangeJoin.overlapBandWidth", "16")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val day = (c: org.apache.spark.sql.Column) =>
        datediff(c, to_date(lit("1970-01-01")))
      val a = graft.Tables.t(spark, sfDir, "orders")
        .filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey").as("k"), day(col("o_orderdate")).as("alo"))
        .withColumn("ahi", col("alo") + 6)
      val b = graft.Tables.t(spark, sfDir, "orders")
        .filter(col("o_orderkey") % 20 === 10)
        .select(col("o_orderkey").as("k2"), day(col("o_orderdate")).as("blo"))
        .withColumn("bhi", col("blo") + 13)
      // the naive overlap predicate a user would write — NO banding
      val naive = a.join(b, col("alo") <= col("bhi") && col("blo") <= col("ahi"))
        .groupBy("k").agg(count(lit(1)).as("n")).orderBy("k")
      val p = naive.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      val auto = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      spark.conf.set("spark.graft.rangeJoin.overlapBandWidth", "0")
      val manual = SparkEntry.queries("j15_interval_overlap")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(auto == manual, "auto-banded overlap must equal hand-banded j15")
    } finally {
      spark.conf.set("spark.graft.rangeJoin.overlapBandWidth", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
    }
  }

  test("overlap rewrite only fires under its own conf key") {
    // ADVICE r5: the overlap matcher is broad (any opposing cross-side
    // inequality pair), so the point-in-interval bandWidth must NOT
    // re-plan overlap-shaped joins — only overlapBandWidth may.
    graft.plans.BandedRangeJoinRule.register(spark)
    import graft.SparkSpec.spark.implicits._
    val a = Seq((1L, 0L, 10L), (2L, 20L, 30L)).toDF("aid", "alo", "ahi")
    val b = Seq((1L, 5L, 6L)).toDF("bid", "blo", "bhi")
    // def, not val: queryExecution is cached per DataFrame instance and
    // would ignore the conf change
    def q = a.join(b, col("alo") <= col("bhi") && col("blo") <= col("ahi"))
    try {
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "8")
      val p1 = q.queryExecution.executedPlan.toString
      assert(!p1.contains("Generate"), s"bandWidth alone rewrote overlap:\n$p1")
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "0")
      spark.conf.set("spark.graft.rangeJoin.overlapBandWidth", "8")
      val p2 = q.queryExecution.executedPlan.toString
      assert(p2.contains("Generate"), s"overlapBandWidth did not rewrite:\n$p2")
      assert(q.count() == 1)
    } finally {
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "0")
      spark.conf.set("spark.graft.rangeJoin.overlapBandWidth", "0")
    }
  }

  test("range-join rule: NULL interval bounds match nothing, never raise") {
    // ADVICE r5 (medium): a null lo/hi made spanOk NULL and the CaseWhen
    // fell through to the raise_error branch. Inner-join semantics drop
    // such rows; the banded plan must do the same.
    graft.plans.BandedRangeJoinRule.register(spark)
    import graft.SparkSpec.spark.implicits._
    val points = Seq((1L, 5L), (2L, 25L)).toDF("pid", "x")
    val ivs = Seq((1L, Some(0L), Some(10L)), (2L, None, Some(10L)),
        (3L, Some(0L), None), (4L, None: Option[Long], None: Option[Long]))
      .toDF("iid", "lo", "hi")
    def run() = points
      .join(ivs, col("x") >= col("lo") && col("x") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = run() // dormant
    assert(expected == Set((1L, 1L)))
    try {
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "8")
      assert(run() == expected, "point-in-interval with null bounds diverged")
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "0")
      spark.conf.set("spark.graft.rangeJoin.overlapBandWidth", "8")
      val a = Seq((1L, Some(0L), Some(10L)), (2L, None, Some(3L)),
          (3L, Some(2L), None: Option[Long])).toDF("aid", "alo", "ahi")
      val b = Seq((7L, 5L, 6L)).toDF("bid", "blo", "bhi")
      val got = a.join(b, col("alo") <= col("bhi") && col("blo") <= col("ahi"))
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 7L)), s"overlap with null bounds: $got")
    } finally {
      spark.conf.set("spark.graft.rangeJoin.bandWidth", "0")
      spark.conf.set("spark.graft.rangeJoin.overlapBandWidth", "0")
    }
  }

  test("overlap rule differential: random intervals incl. empty + negative") {
    graft.plans.BandedRangeJoinRule.register(spark)
    import graft.SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(13)
    def mkIvs(n: Int, tag: String) = (1 to n).map { i =>
      val lo = (rnd.nextInt(2001) - 1000).toLong
      val hi = if (i % 9 == 0) lo - 4 else lo + rnd.nextInt(80)
      (i.toLong, lo, hi)
    }.toDF(s"${tag}id", s"${tag}lo", s"${tag}hi")
    // deliberately MIXED numeric widths across the sides (int vs long):
    // the canonical-band Greatest must resolve across them
    val xs = mkIvs(150, "x")
      .select(col("xid"), col("xlo").cast("int").as("xlo"),
        col("xhi").cast("int").as("xhi"))
    val ys = mkIvs(150, "y")
    def pairs() = xs
      .join(ys, col("xlo") <= col("yhi") && col("ylo") <= col("xhi"))
      .select("xid", "yid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = pairs() // rule dormant
    try {
      Seq("32", "7", "1000").foreach { w =>
        spark.conf.set("spark.graft.rangeJoin.overlapBandWidth", w)
        assert(pairs() == expected, s"overlapBandWidth=$w diverged")
      }
    } finally spark.conf.set("spark.graft.rangeJoin.overlapBandWidth", "0")
  }

  test("a1 aggregation is two-phase (partial before the shuffle)") {
    val p = plan("a1_tpch_q1")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("l2 minhash candidate join is an equi join on the bucket key") {
    val p = plan("l2_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("only j9 (and the tiny-probe joins) may be nested-loop shaped") {
    // cross join of two dims is fine; nothing fact-sized may be cartesian
    val p = plan("j9_cross")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"), p)
  }

  test("kNN top-k plans as partial aggregation, not a window sort") {
    // l3/l13 rank via the bounded-heap TopK Aggregator: a window over the
    // handful of probe keys would pin each probe's full candidate set to a
    // single task (VERDICT r2 #3)
    Seq("l3_knn_cosine", "l13_ann_lsh").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q ranks via a Window sort:\n$p")
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate") ||
        p.contains("HashAggregate"), s"$q missing aggregation-based top-k:\n$p")
    }
  }

  test("l17 repetition is two two-phase hash aggregations, no window") {
    val p = plan("l17_repetition")
    assert("HashAggregate".r.findAllIn(p).length >= 4, p) // partial+final x2
    assert(!p.contains("Window"), p)
  }

  test("j10/j11 join without cartesian products") {
    Seq("j10_right_outer", "j11_not_exists").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("l23 mix sampling prunes the scan to its three columns, no shuffle") {
    val p = plan("l23_mix_sample")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>") ||
      p.contains("ReadSchema: struct<lang:string,doc_id:bigint>"), p)
    // a pure filter + sort: the only exchange is the output rangepartition
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("l25 curation composition joins without cartesian products") {
    val p = plan("l25_corpus_curation")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("l29 screens the corpus with a codegen'd bloom probe before the join") {
    val p = plan("l29_decontaminate_bloom")
    // the broadcast Bloom filter must run as a scan-side Filter predicate
    // (bloomfilter literal + xxhash64 probe), not after the shuffle join
    assert(p.contains("might_contain"), p) // BloomFilterMightContain prettyName
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("l30 inverted index is bounded-state aggregation, no window") {
    val p = plan("l30_inverted_index")
    // per-(term,doc) partial agg then per-term ObjectHashAggregate (TopK
    // heap) — a window over terms would sort every posting list globally
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("l32 quality cut sorts only the histogram, never the corpus") {
    val p = plan("l32_quality_cut")
    // the rank-defining Window must sit above the (lang, n_chars) histogram
    // aggregate, and the per-lang cutoff must come back as a broadcast join
    assert(p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val winIdx = p.indexOf("Window")
    assert(p.substring(winIdx).contains("HashAggregate"),
      s"window must be fed by the histogram aggregate, not the raw scan:\n$p")
  }

  test("o7/o8 merge and diff plan a single full-outer equi join each") {
    Seq("o7_merge_upsert", "o8_table_diff").foreach { q =>
      val p = plan(q)
      assert(p.contains("FullOuter"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q:\n$p")
    }
  }

  test("l34 heavy hitters screens at the scan and aggregates two-phase") {
    val p = plan("l34_heavy_hitters")
    // the CMS probe must sit below the aggregation (scan-side filter), and
    // the surviving terms aggregate partial-then-final — no window, no join
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("t6 funnel rides the user_id equi join, not a nested loop") {
    val p = plan("t6_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("l35 chunking is a pure generator — no join, no window, no agg") {
    val p = plan("l35_chunk_documents")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"), p)
  }

  test("l36 encode join broadcasts the vocab; top-V is TakeOrdered, not a sort") {
    val p = plan("l36_vocab_encode")
    // the corpus-side encode must be a broadcast join (vocab is top-V by
    // construction); top-V selection must plan TakeOrderedAndProject
    // (per-partition heaps) so only the ≤V survivor frame sees a window
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("tpch pack (q5/q7/q10/q17) broadcasts dims, no cartesian anywhere") {
    // a17 q5: supplier + nation + region broadcast (3 of the 5 joins)
    val q5 = plan("a17_tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(q5).length >= 3, q5)
    assert(!q5.contains("CartesianProduct"), q5)
    // a20 q7: the nation dim broadcasts under BOTH roles
    val q7 = plan("a20_tpch_q7")
    assert("BroadcastHashJoin".r.findAllIn(q7).length >= 3, q7)
    assert(!q7.contains("CartesianProduct"), q7)
    // a18 q10: top-20 is TakeOrdered, never a global sort of the agg
    val q10 = plan("a18_tpch_q10")
    assert(q10.contains("TakeOrderedAndProject"), q10)
    assert(!q10.contains("CartesianProduct"), q10)
    // a19 q17: the per-part aggregate joins broadcast (|part|-bounded)
    val q17 = plan("a19_tpch_q17")
    assert("BroadcastHashJoin".r.findAllIn(q17).length >= 2, q17)
    assert(!q17.contains("CartesianProduct"), q17)
  }

  test("tpch pack round 5 (q9/q21/q8/q22) plans dims broadcast, no cartesian") {
    // a29 q9: part/supplier/nation broadcast — the only shuffle joins are
    // the orders fact join and the final groupBy
    val q9 = plan("a29_tpch_q9")
    assert("BroadcastHashJoin".r.findAllIn(q9).length >= 3, q9)
    assert(!q9.contains("CartesianProduct"), q9)
    // a33 q21: EXISTS plans a LeftSemi, NOT EXISTS a LeftAnti — both as
    // hash/merge equi joins on l_orderkey, never nested-loop over the fact
    val q21 = plan("a33_tpch_q21")
    assert(q21.contains("LeftSemi"), q21)
    assert(q21.contains("LeftAnti"), q21)
    assert(!q21.contains("CartesianProduct") &&
      !q21.contains("BroadcastNestedLoopJoin"), q21)
    // a28 q8: both nation roles + part + supplier broadcast
    val q8 = plan("a28_tpch_q8")
    assert("BroadcastHashJoin".r.findAllIn(q8).length >= 4, q8)
    assert(!q8.contains("CartesianProduct"), q8)
    // a34 q22: the one-row threshold is a broadcast nested-loop CROSS of
    // a single row (fine); the orders probe must be a hash anti join
    val q22 = plan("a34_tpch_q22")
    assert(q22.contains("LeftAnti"), q22)
    assert(!q22.contains("CartesianProduct"), q22)
  }

  test("a14 q3 plans a TakeOrdered top-10 over broadcast-pruned joins") {
    val p = plan("a14_tpch_q3")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the segment filter must reach the customer scan
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("join strategy hints are honored (broadcast / shuffle_hash / merge)") {
    // the manual overrides for when the optimizer's size estimates are
    // wrong at 100 TB — each hint must actually flip the physical join
    import graft.Tables.t
    val c = t(spark, sfDir, "customer").select("c_custkey")
    val o = t(spark, sfDir, "orders").select("o_custkey")
    def planOf(hint: String): String =
      o.join(c.hint(hint), col("o_custkey") === col("c_custkey"))
        .queryExecution.executedPlan.toString
    assert(planOf("broadcast").contains("BroadcastHashJoin"))
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planOf("merge").contains("SortMergeJoin"))
  }

  test("w5/w8 plan no single-partition window over the full table") {
    // ntile/percent_rank/cume_dist are two-pass (range repartition +
    // per-partition rank + broadcast offsets) — the only unpartitioned
    // window allowed is over the ≤#partitions-row offset frame
    Seq("w5_ntile", "w8_distribution").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Window"), s"$q expected per-partition rank windows:\n$p")
      // no Window may sort the whole customer table in one partition:
      // every Window node must be preceded by a partitioning on pid
      assert(!p.contains("Window [ntile"), s"$q still uses a global ntile window:\n$p")
      assert(!p.contains("Window [percent_rank"),
        s"$q still uses a global percent_rank window:\n$p")
    }
  }

  test("w6 rank-filter top-k gets partial+final WindowGroupLimit pushdown") {
    // Spark 4's InferWindowGroupLimit turns filter(rn <= k) over a
    // ranked window into a per-partition top-k BEFORE the shuffle (the
    // per-group-top-k rewrite we'd otherwise hand-roll) — pin both the
    // Partial (map-side) and Final stages so a conf or version change
    // can't silently fall back to sorting whole groups
    val p = plan("w6_topk_per_group")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial") && p.contains("Final"),
      s"expected two-phase WindowGroupLimit:\n$p")
  }

  test("l44/l45 corpus surgery: hash joins on segment keys, no cartesian") {
    Seq("l44_line_dedup", "l45_dup_spans").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"$q expected equi joins:\n$p")
    }
    // l45's island merge must be a per-document window, never global —
    // an unpartitioned window plans `Exchange SinglePartition` (one task
    // sorts everything), which must not appear
    val p45 = plan("l45_dup_spans")
    assert(!p45.contains("Exchange SinglePartition"),
      s"single-partition exchange in l45:\n$p45")
  }

  test("t7 gap fill windows per user; t8 retention is pure hash agg + join") {
    val p7 = plan("t7_resample_gapfill")
    assert(p7.contains("Window"), p7)
    // the fill window is keyed by user_id — no single-partition sort
    assert(!p7.contains("Exchange SinglePartition"),
      s"single-partition exchange in t7:\n$p7")
    assert(!p7.contains("CartesianProduct"), p7)
    val p8 = plan("t8_cohort_retention")
    assert(!p8.contains("Window"), s"t8 must not need windows:\n$p8")
    assert(!p8.contains("CartesianProduct") &&
      !p8.contains("BroadcastNestedLoopJoin"), p8)
  }
}
