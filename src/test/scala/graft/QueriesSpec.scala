package graft

import org.apache.spark.sql.functions._

/** Every registered query runs at sf0.001 and yields a sane frame.
  * Mirrors the reference's functional layer (whole-surface smoke,
  * reference core/functional_test.go:174-214) for the query inventory. */
class QueriesSpec extends SparkSpec {

  // Legitimately empty at sf0.001 (tiny data, selective predicates):
  private val mayBeEmpty =
    Set("l2_minhash_lsh", "l10_embed_neardup", "j4_anti", "l12_jaccard_verify",
      "a20_tpch_q7", // nation-pair × two-year filter: no survivors at sf0.001
      "l54_simhash_neardup", "l54w_simhash64",
      "l55_allpairs_jaccard") // no near-dups at sf0.001

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sfDir)
      assert(df.schema.nonEmpty, s"$name: empty schema")
      // Registry-wide gate guard: the driver's hasher canonicalizes
      // DECIMAL differently between Spark parquet and DuckDB, so a raw
      // DecimalType output column goes silently hash-red even when every
      // value matches (round-5 t7/w12). Internal arithmetic may ride
      // decimal; the FINAL schema must not.
      val decimalCols = df.schema.fields.collect {
        case f if hasDecimal(f.dataType) => f.name
      }
      assert(decimalCols.isEmpty,
        s"$name: output carries DecimalType column(s) ${decimalCols.mkString(",")} — " +
          "cast the final column to DOUBLE (cross-engine hash parity)")
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name: returned 0 rows")
    }
  }

  private def hasDecimal(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: DecimalType     => true
      case ArrayType(e, _)    => hasDecimal(e)
      case MapType(k, v, _)   => hasDecimal(k) || hasDecimal(v)
      case StructType(fields) => fields.exists(f => hasDecimal(f.dataType))
      case _                  => false
    }
  }

  test("l29 bloom-screened decontamination ≡ l26 exact formulation") {
    // the Bloom prefilter is an optimization, not a semantics change: the
    // exact confirm join must erase every false positive, making the two
    // plans row-identical (the oracle checks each against DuckDB; this
    // pins them against each other in-engine too)
    val a = graft.operators.LlmOps.queries("l26_decontaminate")(spark, sfDir)
    val b = graft.operators.LlmOps.queries("l29_decontaminate_bloom")(spark, sfDir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("l54 banded SimHash screen ≡ brute-force Hamming join") {
    // the 4×8-bit pigeonhole screen is provably complete for radius 3;
    // this pins the banded plan against the unscreened formulation on a
    // corpus that actually contains near-dup pairs (sf0.01 — sf0.001 has
    // none, making the comparison vacuous)
    val d = "/root/testdata/sf0.01"
    val sh = graft.operators.LlmOps.simhashDf(spark, d)
    val brute = sh.select(col("doc_id").as("a"), col("simhash").as("ha"))
      .join(sh.select(col("doc_id").as("b"), col("simhash").as("hb")),
        col("a") < col("b"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= 3)
      .select("a", "b", "hamming")
    val banded = graft.operators.LlmOps.queries("l54_simhash_neardup")(spark, d)
    assert(banded.count() > 0, "fixture lost its near-dup pairs")
    assert(banded.exceptAll(brute).isEmpty && brute.exceptAll(banded).isEmpty)
    // the generalised 64-bit screen at a band width of 8 is the same
    // complete screen over 32-bit signatures
    val screen8 = graft.operators.LlmOps.simhash64BandScreen(sh, bandBits = 8)
    assert(screen8.exceptAll(brute).isEmpty && brute.exceptAll(screen8).isEmpty)
  }

  test("l55 prefix-filtered exact Jaccard join ≡ brute force") {
    // prefix filtering is an optimization, not a semantics change: the
    // exact intersection verify must keep exactly the pairs the
    // all-token-sharing-pairs formulation finds
    val d = "/root/testdata/sf0.01"
    val toks = graft.operators.LlmOps
      .shingleRows(Tables.t(spark, d, "documents"), distinctPerDoc = true)
      .withColumnRenamed("sh", "tok")
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val brute = toks.select(col("doc_id").as("a"), col("tok"))
      .join(toks.select(col("doc_id").as("b"), col("tok").as("tokb")),
        col("tok") === col("tokb") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("a"), col("n").as("n_a")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("n_b")), "b")
      .filter(col("n_common") * 5 >= (col("n_a") + col("n_b") - col("n_common")) * 3)
      .select(col("a"), col("b"), col("n_common"), col("n_a"), col("n_b"))
    val screened = graft.operators.LlmOps
      .queries("l55_allpairs_jaccard")(spark, d)
      .select("a", "b", "n_common", "n_a", "n_b")
    assert(screened.count() > 0, "fixture lost its near-dup pairs")
    assert(screened.exceptAll(brute).isEmpty && brute.exceptAll(screened).isEmpty)
  }

  test("l40 distributed BPE training ≡ sequential reference implementation") {
    // differential oracle: a 25-line in-test sequential BPE trainer on the
    // same fixture must learn the identical merge table (same pairs, same
    // counts, same order) — the iterative loop isn't SQL-expressible, so
    // this replaces the DuckDB lane for l40
    val texts = Seq(
      "low low low low low", "lower lower", "newest newest newest",
      "widest widest", "low lower newest")
    val fixture = spark.createDataFrame(
      texts.map(Tuple1(_))).toDF("text")
    val k = 6
    val got = graft.operators.LlmOps.bpeTrain(fixture, k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))

    // sequential reference: word freq table, then k argmax-merge rounds
    var words: Map[Vector[String], Long] = texts
      .flatMap(_.toLowerCase.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        (w.map(_.toString).toVector :+ "</w>") -> ws.size.toLong }
    val expect = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    for (r <- 1 to k) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f) }
      if (counts.nonEmpty) {
        val ((a, b), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        expect += ((r.toLong, a, b, cnt))
        words = words.groupBy { case (syms, _) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.toVector
        }.map { case (syms, ws) => syms -> ws.values.sum }
      }
    }
    assert(got.toSeq == expect.toSeq,
      s"distributed merges ${got.toSeq} != reference ${expect.toSeq}")
    // invariant: winning pair counts never increase round-over-round
    assert(got.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("batched BPE (m>1) cuts driver rounds with near-sequential quality") {
    val texts = Seq(
      "low low low low low", "lower lower", "newest newest newest",
      "widest widest", "low lower newest", "lowest lowest wide wide")
    val fixture = spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }).toDF("doc_id", "text")
    val k = 8
    val sc = spark.sparkContext

    def trainCountingJobs(batch: Int, group: String): (Seq[(String, String)], Int) = {
      sc.setJobGroup(group, s"bpe batch=$batch", interruptOnCancel = false)
      val table = try graft.operators.LlmOps.bpeTrain(fixture, k, batch)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      finally sc.clearJobGroup()
      (table, sc.statusTracker.getJobIdsForGroup(group).length)
    }
    val (seqTable, seqJobs) = trainCountingJobs(1, "bpe-seq")
    val (batTable, batJobs) = trainCountingJobs(4, "bpe-bat")
    assert(seqTable.length == k && batTable.length == k)
    // the point of batching: O(k/m) rounds of driver-side argmax, so the
    // job count must drop by roughly the batch factor
    assert(batJobs <= seqJobs / 2,
      s"batch=4 ran $batJobs jobs vs sequential $seqJobs")
    // within a round, adopted merges are symbol-disjoint by construction:
    // ranks are 1..k and no pair repeats
    assert(batTable.distinct.length == k)
    // quality parity: encoding with the batched table compresses within
    // 10% of the sequential table on the training corpus
    def totalTokens(table: Seq[(String, String)]): Long =
      graft.operators.LlmOps.bpeEncode(fixture, table)
        .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens")).head().getLong(0)
    val (seqTok, batTok) = (totalTokens(seqTable), totalTokens(batTable))
    assert(batTok <= (seqTok * 1.10).ceil.toLong,
      s"batched table encodes to $batTok tokens vs sequential $seqTok")
  }

  test("l41 BPE encoding matches the sequential reference encoder") {
    val texts = Seq(
      "low low low low low", "lower lower", "newest newest newest",
      "widest widest", "low lower newest")
    val fixture = spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }).toDF("doc_id", "text")
    val merges = graft.operators.LlmOps.bpeTrain(fixture, 6).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val got = graft.operators.LlmOps.bpeEncode(fixture, merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    def encode(word: String): Int = {
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
    }
    val expect = texts.zipWithIndex.map { case (t, i) =>
      val ws = t.toLowerCase.split(" ").filter(_.nonEmpty)
      (i.toLong, ws.length.toLong, ws.map(encode(_).toLong).sum)
    }
    assert(got == expect, s"$got != $expect")
    // bounds: at least one token per word, at most chars+1 per word
    got.zip(expect).foreach { case ((_, nw, nb), _) => assert(nb >= nw) }
  }

  test("o12 incremental HLL union ≡ full re-sketch, within 5% of exact") {
    import graft.Tables.t
    val o = t(spark, sfDir, "orders")
      .select(col("o_orderpriority").as("grp"), col("o_custkey").as("v"),
        col("o_orderkey").as("key"))
    val incr = SparkEntry.queries("o12_incremental_hll")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = o.groupBy("grp")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("v"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(incr == full,
      s"incremental sketch estimates diverge from full re-sketch: $incr vs $full")
    val exact = o.groupBy("grp").agg(countDistinct(col("v")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, n) =>
      assert(math.abs(incr(g) - n) <= math.max(2L, (n * 0.05).toLong),
        s"group $g: sketch ${incr(g)} vs exact $n")
    }
  }

  test("o15 histogram-quantile maintenance ≡ full re-sketch, within one bin of exact") {
    import graft.Tables.t
    import graft.operators.IncrementalAgg
    val width = 10.0
    val e = t(spark, sfDir, "events")
      .select(col("event_type").as("grp"), col("value").as("v"),
        col("event_id").as("key"))
    // version 2 = base minus the removal set plus the appended batch —
    // must equal what the lane maintains incrementally
    val v2 = e.filter(col("key") % 5 === 0 ||
      (col("key") % 5 =!= 0 && col("key") % 17 =!= 0))
    val full = IncrementalAgg.histogramQuantiles(
        IncrementalAgg.binHistogram(v2.select(col("grp"), col("v")), width),
        width, Seq(50, 90, 99))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val incr = SparkEntry.queries("o15_incremental_quantile")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(incr == full,
      s"maintained histogram quantiles diverge from full re-sketch:\n$incr\nvs\n$full")
    // error contract: the reported upper edge is >= the exact order
    // statistic and within one bin width above it
    val byGrp = v2.collect().groupBy(_.getString(0))
      .map { case (g, rs) => g -> rs.map(_.getDouble(1)).sorted }
    incr.foreach { case (g, (n, p50, p90, p99)) =>
      val vs = byGrp(g)
      assert(n == vs.length, s"group $g row count $n != ${vs.length}")
      Seq(50 -> p50, 90 -> p90, 99 -> p99).foreach { case (p, est) =>
        val exact = vs((math.ceil(p * n / 100.0).toInt - 1).max(0))
        assert(est >= exact && est - exact <= width,
          s"group $g p$p: est $est vs exact $exact (width $width)")
      }
    }
  }

  test("o11 rescans only the groups the change feed touched") {
    // the point of maintainByRescan: the localized mutation (keys
    // 500-599 removed, 2000-2999 repriced) must touch a small fraction
    // of groups — if this grows, the maintenance path has degraded into
    // a full recompute
    val o = graft.Tables.t(spark, sfDir, "orders")
      .select(col("o_orderkey").as("key"))
    val total = o.select(floor(col("key") / 250).cast("long")).distinct().count()
    val touched = o
      .filter(col("key").between(500, 599) || col("key").between(2000, 2999))
      .select(floor(col("key") / 250).cast("long")).distinct().count()
    assert(touched > 0 && touched * 4 <= total,
      s"rescan covers $touched of $total groups — no longer incremental")
  }

  test("w11 island lengths sum to u2's covered length per group") {
    // same synthetic intervals, two independent formulations: the window
    // gaps-and-islands merge and the IntervalUnion Aggregator must agree
    val islands = SparkEntry.queries("w11_interval_islands")(spark, sfDir)
      .groupBy("g")
      .agg(sum(col("island_end") - col("island_start")).as("covered"))
    val u2 = SparkEntry.queries("u2_interval_union")(spark, sfDir)
      .select(col("g"), col("covered").as("covered2"))
    val joined = islands.join(u2, "g")
    assert(joined.count() > 0)
    assert(joined.filter(col("covered") =!= col("covered2")).count() == 0)
  }

  test("a7 approx_count_distinct within 10% of exact") {
    val rows = AggAccuracy.bounds(spark, sfDir)
    rows.foreach { case (flag, approx, exact) =>
      assert(math.abs(approx - exact).toDouble / exact <= 0.10,
        s"flag=$flag approx=$approx exact=$exact")
    }
  }

  test("a8 approx_percentile within 10% of exact") {
    graft.operators.AggOps.queries("a8_approx_percentile")(spark, sfDir)
      .collect().foreach { r =>
        val (p50a, p50e) = (r.getDouble(1), r.getDouble(2))
        val (p90a, p90e) = (r.getDouble(3), r.getDouble(4))
        assert(math.abs(p50a - p50e) / p50e <= 0.10, s"p50 $p50a vs $p50e")
        assert(math.abs(p90a - p90e) / p90e <= 0.10, s"p90 $p90a vs $p90e")
      }
  }

  // The unbounded-group sketch twins of the exact-percentile lanes: each
  // carries its exact column so the digest is bounded in-row, with no
  // engine-specific oracle needed.
  private def rel(a: Double, e: Double): Double =
    if (e == 0.0) math.abs(a) else math.abs(a - e) / math.abs(e)

  test("a38 approx percentiles within 10% of a11's exact (all three points)") {
    graft.operators.AggOps.queries("a38_approx_percentiles")(spark, sfDir)
      .collect().foreach { r =>
        Seq((1, 2, "p25"), (3, 4, "p50"), (5, 6, "p75")).foreach {
          case (ia, ie, tag) =>
            val (a, e) = (r.getDouble(ia), r.getDouble(ie))
            assert(rel(a, e) <= 0.10, s"${r.getString(0)} $tag approx=$a exact=$e")
        }
      }
  }

  test("a39 approx MAD within 15% of a36's exact") {
    // two stacked sketch passes (median, then MAD of deviations) — the
    // error compounds, so the bound is looser than single-pass a38
    graft.operators.AggOps.queries("a39_approx_mad")(spark, sfDir)
      .collect().foreach { r =>
        val (mada, made) = (r.getDouble(2), r.getDouble(3))
        assert(rel(mada, made) <= 0.15,
          s"${r.getString(0)} mad approx=$mada exact=$made")
      }
  }

  test("64-bit SimHash band screen ≡ brute-force Hamming join") {
    // the 4×16-band screen is complete at radius 3 by the same
    // pigeonhole as l54; this pins it (and the sign-bit masking) against
    // the unscreened formulation on the test corpus
    val sh = graft.operators.LlmOps
      .simhash64Of(graft.Tables.t(spark, sfDir, "documents")
        .select(col("doc_id"), col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b, java.lang.Long.bitCount(ha ^ hb).toLong)).toSet
    val screened = graft.operators.LlmOps.simhash64NearDup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(screened == brute,
      s"only-screened=${screened -- brute} only-brute=${brute -- screened}")
  }

  test("l54w lane ≡ direct 64-bit screen; oracle generated from the fixture it read") {
    // the registry lane serves the screen from the engine-emitted
    // signature fixture (the table the DuckDB oracle replays); it must be
    // row-identical to the in-plan formulation, and running it must leave
    // behind (a) a readable fixture and (b) an oracle entry that reads
    // exactly that fixture
    val lane = SparkEntry.queries("l54w_simhash64")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = graft.operators.LlmOps.simhash64NearDup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lane == direct,
      s"only-lane=${lane -- direct} only-direct=${direct -- lane}")
    // bind the generated oracles to THIS dir, as Verify does (another
    // suite in this JVM may have built fixtures for other dirs)
    graft.operators.OracleDir.active = Some(sfDir)
    val sql = SparkEntry.oracleSql.get("l54w_simhash64")
    assert(sql.isDefined, "l54w oracle missing after the lane ran")
    val path = graft.operators.LlmOps.L54wSigs.forOracle.get
    assert(sql.get.contains(s"read_parquet('$path/*.parquet')"),
      "oracle SQL does not read the served fixture")
    // the fixture is complete and well-typed: one signature row per doc
    val sigs = spark.read.parquet(path)
    assert(sigs.columns.sorted.toSeq == Seq("doc_id", "simhash"))
    assert(sigs.count() ==
      graft.Tables.t(spark, sfDir, "documents").count())
  }

  test("l53/l20 lanes leave frozen-quantizer fixtures and generated oracles") {
    // the r14 promotion (VERDICT r13 #2): the k-means FIT is the only
    // non-replayable step, so the lane dumps the fitted model and the
    // oracle replays encode + ADC + re-rank from that fixture. Running
    // the lanes must leave (a) readable, well-shaped fixtures and (b)
    // oracle entries reading exactly those fixtures.
    assert(SparkEntry.queries("l53_ann_pq")(spark, sfDir).count() > 0)
    assert(SparkEntry.queries("l20_ann_ivf")(spark, sfDir).count() > 0)
    graft.operators.OracleDir.active = Some(sfDir)
    val pq = SparkEntry.oracleSql.get("l53_ann_pq")
    assert(pq.isDefined, "l53 oracle missing after the lane ran")
    val pqPath = graft.operators.LlmOps.PqCbFix.forOracle.get
    assert(pq.get.contains(s"read_parquet('$pqPath/*.parquet')"),
      "l53 oracle does not read the served codebook fixture")
    val cb = spark.read.parquet(pqPath)
    assert(cb.columns.sorted.toSeq == Seq("code", "cvec", "sub"))
    assert(cb.count() ==
      graft.operators.LlmOps.PqM.toLong * graft.operators.LlmOps.PqK,
      "codebook fixture must hold m·k codewords")
    val ivf = SparkEntry.oracleSql.get("l20_ann_ivf")
    assert(ivf.isDefined, "l20 oracle missing after the lane ran")
    val (cPath, np) = graft.operators.LlmOps.IvfCentFix.forOracle.get
    assert(ivf.get.contains(s"read_parquet('$cPath/*.parquet')"),
      "l20 oracle does not read the served centroid fixture")
    assert(ivf.get.contains(s"rn <= $np"),
      "l20 oracle must inline the lane's nprobe")
    val cent = spark.read.parquet(cPath)
    assert(cent.columns.sorted.toSeq == Seq("cell", "cvec"))
    assert(cent.count() >= 4)
  }

  test("l66 PCA: orthonormal axes, Bessel bound, eigen-ordered variance, pinned fold") {
    val k = graft.operators.LlmOps.PcaK
    val lane = SparkEntry.queries("l66_pca_project")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(lane.nonEmpty && lane.length % k == 0,
      s"expected k=$k components per projected row, got ${lane.length}")

    val saved = graft.operators.OracleDir.active
    try {
      graft.operators.OracleDir.active = Some(sfDir)
      val p = graft.operators.LlmOps.PcaFix.forOracle.get
      assert(SparkEntry.oracleSql("l66_pca_project")
        .contains(s"read_parquet('$p/*.parquet')"),
        "l66 oracle does not read the served PCA fixture")
      val fix = spark.read.parquet(p).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      assert(fix.keySet == (-1 until k).toSet,
        "fixture must hold the mean row (-1) plus k axis rows")
      val d = fix(-1).length
      assert(fix.values.forall(_.length == d))
      // axes are orthonormal (the eigensolve contract)
      for (a <- 0 until k; b <- a until k) {
        val dot = (0 until d).map(i => fix(a)(i) * fix(b)(i)).sum
        val want = if (a == b) 1.0 else 0.0
        assert(math.abs(dot - want) < 1e-9, s"axes ${a}x$b = $dot, want $want")
      }
      val m = fix(-1)
      val vecs = graft.Tables.t(spark, sfDir, "embeddings")
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      // the lane's value IS the pinned left fold: acc = ((0 + t0) + t1)…
      val byVec = lane.groupBy(_._1)
      byVec.foreach { case (id, rows) =>
        val v = vecs(id)
        rows.foreach { case (_, j, pc) =>
          var acc = 0.0
          var i = 0
          while (i < d) { acc += (v(i).toDouble - m(i)) * fix(j)(i); i += 1 }
          assert(acc == pc, s"vec $id axis $j: fold $acc != lane $pc")
        }
        // Bessel: the k projected energies never exceed the centered norm
        val proj2 = rows.map { case (_, _, pc) => pc * pc }.sum
        val norm2 = (0 until d).map(i => {
          val c = v(i).toDouble - m(i); c * c
        }).sum
        assert(proj2 <= norm2 * (1 + 1e-12) + 1e-12,
          s"vec $id: projected energy $proj2 exceeds centered norm $norm2")
      }
      // axes come out eigenvalue-ordered: full-corpus projected variance
      // along axis j is non-increasing in j
      val vars = (0 until k).map { j =>
        val ps = vecs.values.map { v =>
          var acc = 0.0
          var i = 0
          while (i < d) { acc += (v(i).toDouble - m(i)) * fix(j)(i); i += 1 }
          acc
        }
        val mu = ps.sum / ps.size
        ps.map(x => (x - mu) * (x - mu)).sum / ps.size
      }
      (1 until k).foreach { j =>
        assert(vars(j) <= vars(j - 1) * (1 + 1e-9) + 1e-12,
          s"axis $j variance ${vars(j)} exceeds axis ${j - 1}'s ${vars(j - 1)}")
      }
    } finally graft.operators.OracleDir.active = saved
  }

  test("generated oracles bind to the ACTIVE verify dir, never last-write-wins") {
    // advisor r14: with the l54w lane run against TWO corpus dirs in one
    // JVM, the oracle entry must follow OracleDir.active — and with no
    // active dir and multiple fixtures built, it must be OMITTED (the
    // driver's rows-only check beats hashing against the wrong model).
    val dirA = sfDir
    val dirB = "/root/testdata/sf0.01"
    assert(SparkEntry.queries("l54w_simhash64")(spark, dirA).count() >= 0)
    assert(SparkEntry.queries("l54w_simhash64")(spark, dirB).count() >= 0)
    val saved = graft.operators.OracleDir.active
    try {
      graft.operators.OracleDir.active = Some(dirA)
      val pA = graft.operators.LlmOps.L54wSigs.forOracle.get
      assert(SparkEntry.oracleSql("l54w_simhash64").contains(s"'$pA/"),
        "oracle must read dir A's fixture when A is active")
      graft.operators.OracleDir.active = Some(dirB)
      val pB = graft.operators.LlmOps.L54wSigs.forOracle.get
      assert(pA != pB, "the two dirs must have distinct fixtures")
      assert(SparkEntry.oracleSql("l54w_simhash64").contains(s"'$pB/"),
        "oracle must follow the active dir, not the build order")
      graft.operators.OracleDir.active = None
      assert(!SparkEntry.oracleSql.contains("l54w_simhash64"),
        "ambiguous fixtures with no active dir must omit the entry")
      // the same contract holds for every fixture object, not just
      // L54wSigs — pin the round-15 PcaFix the same way
      assert(SparkEntry.queries("l66_pca_project")(spark, dirA).count() > 0)
      assert(SparkEntry.queries("l66_pca_project")(spark, dirB).count() > 0)
      graft.operators.OracleDir.active = Some(dirB)
      val pcaB = graft.operators.LlmOps.PcaFix.forOracle.get
      assert(SparkEntry.oracleSql("l66_pca_project").contains(s"'$pcaB/"),
        "l66 oracle must follow the active dir")
      graft.operators.OracleDir.active = Some(dirA)
      val pcaA = graft.operators.LlmOps.PcaFix.forOracle.get
      assert(pcaA != pcaB &&
        SparkEntry.oracleSql("l66_pca_project").contains(s"'$pcaA/"),
        "l66 oracle must rebind when the active dir flips back")
      graft.operators.OracleDir.active = None
      assert(!SparkEntry.oracleSql.contains("l66_pca_project"),
        "ambiguous PCA fixtures with no active dir must omit the entry")
    } finally graft.operators.OracleDir.active = saved
  }

  test("l57 pipeline: stages only shrink, packing is gap-free, eval never leaks") {
    val out = graft.operators.LlmOps.queries("l57_pipeline")(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    // the eval benchmark (doc_id < 50) must never appear in the output
    assert(out.forall(_.getLong(0) >= 50), "eval doc leaked into the corpus")
    // the pipeline only removes: output ⊆ corpus
    val corpusN = graft.Tables.t(spark, sfDir, "documents")
      .filter(col("doc_id") >= 50).count()
    assert(out.length <= corpusN)
    // every row has a split; only train rows are packed
    assert(out.forall(r => Set("train", "val", "test")(r.getString(1))))
    assert(out.forall(r => (r.getString(1) == "train") == !r.isNullAt(3)))
    // packing is a gap-free cumsum over train docs in doc_id order:
    // each start_tok equals the previous start_tok + n_tok
    val train = out.filter(_.getString(1) == "train")
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    train.foldLeft(0L) { case (expected, (id, nTok, start, bin)) =>
      assert(start == expected, s"doc $id start_tok $start != $expected")
      assert(bin == start / 2048, s"doc $id bin")
      expected + nTok
    }
    ()
  }

  test("t12 approx inter-arrival percentiles within 15% of t10's exact") {
    val rows = graft.operators.StreamOps.queries("t12_approx_interarrival")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    // per-user gap sets are small at sf0.001 — the digest should be
    // near-exact; 15% absorbs interpolation differences on tiny groups
    rows.foreach { r =>
      assert(rel(r.getDouble(2), r.getDouble(3)) <= 0.15,
        s"user=${r.get(0)} med ${r.getDouble(2)} vs ${r.getDouble(3)}")
      assert(rel(r.getDouble(4), r.getDouble(5)) <= 0.15,
        s"user=${r.get(0)} p95 ${r.getDouble(4)} vs ${r.getDouble(5)}")
    }
  }
}

object AggAccuracy {
  def bounds(spark: org.apache.spark.sql.SparkSession, d: String): Seq[(String, Long, Long)] =
    graft.operators.AggOps.queries("a7_approx_distinct")(spark, d)
      .select(col("l_returnflag"), col("approx_orders"), col("exact_orders"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
}
