package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Benchmark main (driver contract): runs headline queries at
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line.
  *
  * Measurement rules (VERDICT r1 "What's wrong" #3):
  *  - execute via the noop sink, NOT count() — count() lets Catalyst prune
  *    every column and skip the projections entirely;
  *  - one warmup pass (JIT + code cache + file-footer cache), then the
  *    timed pass; per-query seconds reported;
  *  - headline queries deliberately OMIT the global ORDER BY the verify
  *    canonicalizer needs, so the number reflects the operator, not a
  *    single-task output sort.
  */
object Bench {

  private[graft] def headline: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // scan → filter → hash agg (TPC-H Q1 shape)
    "q1_agg" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"),
          avg("l_quantity").as("avg_qty"), count(lit(1)).as("n"))),

    // 5-way broadcast star join + agg
    "q5_star_join" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))),

    // shuffle join + group (no broadcast: both sides large at scale)
    "q2_shuffle_join" -> ((s: SparkSession, d: String) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy("c_nationkey")
        .agg(sum("o_totalprice").as("total"), count(lit(1)).as("n"))),

    // window: per-group top-k (row_number + filter)
    "q6_window_topk" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, d, "lineitem")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    }),

    // global top-k (TakeOrderedAndProject — no full sort materialization)
    "q7_topk" -> ((s: SparkSession, d: String) =>
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)),

    // exact dedup by content hash
    "l1_dedup" -> ((s: SparkSession, d: String) =>
      t(s, d, "documents")
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min("doc_id").as("keep"), count(lit(1)).as("n"))),

    // MinHash-LSH near-dup candidates (banded bucket join)
    "l2_minhash" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.minhashPairsOf(t(s, d, "documents"))),

    // brute-force cosine kNN, broadcast probes, windowed top-k
    "l3_knn" -> ((s: SparkSession, d: String) => {
      def fold(c: org.apache.spark.sql.Column) = aggregate(c, lit(0.0), (a, x) => a + x)
      val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"),
        sqrt(fold(transform(col("embedding"), x => x.cast("double") * x.cast("double")))).as("nrm"))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"), col("nrm").as("pnrm"))
      graft.functions.VectorExpressions.register(s)
      val topk = udaf(new graft.functions.TopK(5),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored])
      broadcast(probes).join(e, col("probe_id") =!= col("vec_id"))
        .withColumn("cos", expr("dot_f32(pv, embedding)") / (col("pnrm") * col("nrm")))
        .groupBy("probe_id").agg(topk(col("cos"), col("vec_id")).as("nb"))
        .select(col("probe_id"), posexplode(col("nb")))
    }),

    // session windows over the event stream frame
    "t3_session" -> ((s: SparkSession, d: String) =>
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))),

    // running sum — per-key window sort after one hash shuffle (Q-W3 class)
    "w3_running_sum" -> ((s: SparkSession, d: String) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice")).over(w).as("running_total"))
    }),

    // two-pass global quantile (no single-partition window — Q-W5 class)
    "w5_ntile_2pass" -> ((s: SparkSession, d: String) =>
      graft.operators.WindowOps.queries("w5_ntile")(s, d)),

    // multi-table LSH ANN with exact re-rank (Q-L13 class)
    "l13_ann" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l13_ann_lsh")(s, d)),

    // TPC-H Q3 composite: filtered 3-way join + decimal agg + top-10
    "q3_shipping_priority" -> ((s: SparkSession, d: String) =>
      graft.operators.AggOps.queries("a14_tpch_q3")(s, d)),

    // bloom-screened decontamination (L29 class): broadcast Bloom probe
    // prunes the corpus shingles before the confirm join
    "l29_bloom_decontam" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l29_decontaminate_bloom")(s, d)),

    // TPC-H Q18 composite: HAVING-filtered agg joined back to customers
    "q18_large_orders" -> ((s: SparkSession, d: String) =>
      graft.operators.AggOps.queries("a15_tpch_q18")(s, d)),

    // banded range join: both sides fact-sized, equi join on the band key
    "j12_range_banded" -> ((s: SparkSession, d: String) =>
      graft.operators.JoinOps.queries("j12_range_banded")(s, d)),

    // fuzzy edit-distance self-join via deletion-neighborhood equi join
    "j13_fuzzy_join" -> ((s: SparkSession, d: String) =>
      graft.operators.JoinOps.queries("j13_fuzzy_neighbors")(s, d)),

    // TPC-H Q5 composite: 6-way join, three broadcast dims, non-key
    // nation condition
    "q5_tpch_local_supplier" -> ((s: SparkSession, d: String) =>
      graft.operators.AggOps.queries("a17_tpch_q5")(s, d)),

    // TPC-H Q9 composite: the widest join pipeline (3 broadcast dims +
    // orders fact join) with decimal profit arithmetic
    "q9_product_profit" -> ((s: SparkSession, d: String) =>
      graft.operators.AggOps.queries("a29_tpch_q9")(s, d)),

    // bigram-LM corpus scoring: train the frequency model + score in one
    // pipeline (L39 class)
    "l39_bigram_lm" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l39_bigram_lm_score")(s, d)),

    // banded interval-overlap join: both interval sets fact-sized,
    // canonical-band admission instead of a dedup shuffle (Q-J15 class)
    "j15_interval_overlap" -> ((s: SparkSession, d: String) =>
      graft.operators.JoinOps.queries("j15_interval_overlap")(s, d)),

    // C4-style cross-corpus segment dedup + document reconstruction
    // (L44 class): explode → hash groupBy on the segment → join back →
    // ordered re-aggregation
    "l44_line_dedup" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l44_line_dedup")(s, d)),

    // exact all-pairs Jaccard join via prefix filtering (L55 class:
    // rare-token postings self-join + exact intersection verify — the
    // exact-similarity-join shape, distinct from l2's approximate bands)
    "l55_allpairs" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l55_allpairs_jaccard")(s, d)),

    // 64-bit SimHash near-dup at crawl width (L54W class: in-plan
    // signature computation + the 4×16-bit band self-join at 65,536
    // buckets per band — the screen a real crawl runs; promoted from
    // ScaleBench probe to headline in round 10)
    "l54w_simhash64" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.simhash64NearDup(s, d)),

    // image near-dup over REAL decoded pixels (L64 class: JVM codec
    // kernel under mapPartitions + the shared 4×16-band Hamming screen;
    // the media pipeline's only headline — warmup pays the one-time
    // aHash fixture build (render + ImageIO decode + hash, cached per
    // dir like ServeIndexes), timed iterations measure the screen)
    "l64_image_neardup" -> ((s: SparkSession, d: String) =>
      graft.operators.MediaOps.queries("l64_image_neardup")(s, d)),

    // referential-integrity audit: three parallel anti joins (O14 class —
    // the anti-join/runtime-filter path has no other headline)
    "o14_fk_audit" -> ((s: SparkSession, d: String) =>
      graft.operators.ScanOps.queries("o14_fk_audit")(s, d)),

    // reproducible md5-threshold corpus split (L48 class: hash-heavy map
    // + bounded partial agg)
    "l48_stratified_split" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l48_stratified_split")(s, d)),

    // per-key exact percentiles over window lag diffs (T10 class:
    // percentile aggregation, not represented elsewhere)
    "t10_interarrival" -> ((s: SparkSession, d: String) =>
      graft.operators.StreamOps.queries("t10_interarrival")(s, d)),

    // hybrid lexical+vector retrieval with RRF fusion (L50 class)
    "l50_rrf_hybrid" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l50_rrf_hybrid")(s, d)),

    // fixed-lookback EWMA over per-user event chains (T11/W2 class)
    "t11_ewma" -> ((s: SparkSession, d: String) =>
      graft.operators.StreamOps.queries("t11_ewma")(s, d)),

    // the composed six-stage curation pipeline (L57): quality → exact
    // dedup → LSH near-dup drop → decontaminate → split → pack, one
    // plan — surfaces persist-boundary/stage-interaction costs the
    // per-stage lanes can't
    "l57_pipeline" -> ((s: SparkSession, d: String) =>
      graft.operators.LlmOps.queries("l57_pipeline")(s, d))
  ) ++ serveLanes ++ Seq(

    // custom Aggregator with partial aggregation (Q-U2 class)
    "u2_interval_union" -> ((s: SparkSession, d: String) => {
      val iu = org.apache.spark.sql.functions.udaf(
        new graft.functions.IntervalUnion,
        org.apache.spark.sql.Encoders.product[graft.functions.Interval])
      t(s, d, "lineitem")
        .select(col("l_suppkey").as("g"),
          ((col("l_orderkey") * 7 + col("l_linenumber") * 3) % 1000).as("start"),
          (((col("l_orderkey") * 7 + col("l_linenumber") * 3) % 1000) +
            floor(col("l_quantity")).cast("long") % 50 + 1).as("end"))
        .groupBy("g").agg(iu(col("start"), col("end")).as("covered"))
    })
  )

  // ---- standing-index SERVE lanes: the steady-state cost of a
  // standing index is its per-batch screen/probe, not its build. The
  // index is built ONCE per data dir (warmup pass pays it, see
  // ServeIndexes); timed iterations measure serving only. Probe/batch
  // sizes are pinned to base-replica ids so ScaleBench's K× corpus
  // growth scales the INDEX side while the arriving batch stays
  // fixed — exactly the 100 TB serving question ("does screen cost
  // track the batch or the corpus?") made measurable.
  private def serveLanes
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    // half duplicates the corpus, half is novel — both screen paths hot
    def novelMix(s: SparkSession, d: String, n: Long): DataFrame =
      t(s, d, "documents").filter(col("doc_id") < n)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          when(col("doc_id") % 2 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" novel-"), col("doc_id")))
            .as("text"))
    // near-duplicates of corpus docs, so candidates flow end-to-end
    def tailBatch(s: SparkSession, d: String, n: Long): DataFrame =
      t(s, d, "documents").filter(col("doc_id") < n)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text"))
    def probeBatch(s: SparkSession, d: String, n: Long): DataFrame =
      t(s, d, "embeddings").filter(col("vec_id") < n)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    Seq(
      // exact-dedup screen: sharded-bloom CASE + exact confirm of hits
      // (DedupIndex.newAgainst)
      "idx_dedup_screen" -> ((s: SparkSession, d: String) =>
        graft.operators.DedupIndex.newAgainst(s, ServeIndexes.dedup(s, d),
          novelMix(s, d, 500))),

      // ANN probe batch: broadcast multiprobe buckets → signature-table
      // bucket join → exact cosine re-rank (AnnIndex.queryProbes; 50
      // fixed probes per replica slice, k=5)
      "idx_ann_probe" -> ((s: SparkSession, d: String) =>
        graft.operators.AnnIndex.queryProbes(s, ServeIndexes.ann(s, d),
          probeBatch(s, d, 50), 5, probeCount = 50L)),

      // ROUTED ANN probe batch (VERDICT r14 #6): the same probes served
      // through the router with the threshold forced past, over an index
      // that carries the IVFPQ sidecar. At sf0.1 the corpus sits far
      // below the production threshold, so idx_ann_probe above always
      // serves the flat arm — without this lane a routed-serve
      // regression (centroid select, cell join, shared ADC kernel)
      // would never move a bench number. The conf is
      // pinned only around DataFrame CONSTRUCTION (chosenArm resolves
      // eagerly) and restored before the timed evaluation.
      "idx_ann_routed" -> ((s: SparkSession, d: String) => {
        val key = graft.operators.AnnIndex.FlatMaxBucketRowsKey
        val saved = s.conf.getOption(key)
        s.conf.set(key, "0")
        try graft.operators.AnnIndex.queryProbes(s,
          ServeIndexes.annRouted(s, d), probeBatch(s, d, 50), 5,
          probeCount = 50L)
        finally saved match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }),

      // SQ8 flat serve (VERDICT r16 #4): the same probe batch as
      // idx_ann_probe, re-ranked from 1-byte SQ8 codes instead of float
      // vectors (cosine_i8 — scale cancels; 4× fewer corpus bytes
      // through the candidates join). The conf is pinned only around
      // DataFrame CONSTRUCTION (serveMode resolves eagerly, the
      // idx_ann_routed discipline); contrast with idx_ann_probe is the
      // measured float-vs-SQ8 serve cost at this corpus size.
      "idx_sq8_probe" -> ((s: SparkSession, d: String) => {
        val key = graft.operators.AnnIndex.ServeSq8Key
        val saved = s.conf.getOption(key)
        s.conf.set(key, "true")
        try graft.operators.AnnIndex.queryProbes(s,
          ServeIndexes.annSq8(s, d), probeBatch(s, d, 50), 5,
          probeCount = 50L)
        finally saved match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }),

      // ROUTED + SQ8 (VERDICT r17 #5 / r18 #4): the routed IVFPQ arm
      // with its bounded exact re-rank reading the 1-byte SQ8 codes
      // (cosine_i8) instead of float vectors — contrast with
      // idx_ann_routed is the re-rank byte-width delta on the routed
      // path, like idx_sq8_probe vs idx_ann_probe on the flat path.
      // Confs pinned only around DataFrame CONSTRUCTION.
      "idx_routed_sq8" -> ((s: SparkSession, d: String) => {
        val tKey = graft.operators.AnnIndex.FlatMaxBucketRowsKey
        val sKey = graft.operators.AnnIndex.ServeSq8Key
        val savedT = s.conf.getOption(tKey)
        val savedS = s.conf.getOption(sKey)
        s.conf.set(tKey, "0")
        s.conf.set(sKey, "true")
        def restore(k: String, v: Option[String]): Unit = v match {
          case Some(x) => s.conf.set(k, x)
          case None => s.conf.unset(k)
        }
        try graft.operators.AnnIndex.queryProbes(s,
          ServeIndexes.annRoutedSq8(s, d), probeBatch(s, d, 50), 5,
          probeCount = 50L)
        finally { restore(tKey, savedT); restore(sKey, savedS) }
      }),

      // exact-Jaccard screen: one-sided prefix probe against the stored
      // postings + integer-exact verify (JaccardIndex.pairsAgainst)
      "idx_jaccard_screen" -> ((s: SparkSession, d: String) =>
        graft.operators.JaccardIndex.pairsAgainst(s,
          ServeIndexes.jaccard(s, d), tailBatch(s, d, 250))),

      // MinHash near-dup screen: batch signatures bucket-joined against
      // the stored signature table (NearDupIndex.candidatesAgainst —
      // the approximate sibling of idx_jaccard_screen)
      "idx_neardup_screen" -> ((s: SparkSession, d: String) =>
        graft.operators.NearDupIndex.candidatesAgainst(s,
          ServeIndexes.neardup(s, d), novelMix(s, d, 250))),

      // 64-bit SimHash screen against the standing signature table
      // (SimHashIndex.neighborsAgainst — 8 bytes/doc of standing state,
      // the crawl-scale near-dup serving path; band collisions and the
      // bit_count verify both flow)
      "idx_simhash_screen" -> ((s: SparkSession, d: String) =>
        graft.operators.SimHashIndex.neighborsAgainst(s,
          ServeIndexes.simhash(s, d), tailBatch(s, d, 250))),

      // standing IMAGE near-dup screen: the batch renders its images,
      // REALLY resizes them (decode → SCALE_SMOOTH → re-encode →
      // re-decode) and aHash64es the copies; the screen is the SAME
      // SimHashIndex serve path as idx_simhash_screen — image and text
      // near-dup share one standing-index layout, verify, and cost
      // model (l64 proves the batch path; this is its standing form).
      // Timed cost = batch-side codec kernel + the 8-byte-floor screen.
      // batch sigs passed LAZY (r20): the plain serve arm consumes them
      // exactly once, so the former eager localCheckpoint was an extra
      // blocking job per serve; the pruned arm materializes internally
      "idx_image_screen" -> ((s: SparkSession, d: String) =>
        graft.operators.SimHashIndex.neighborsAgainstSigs(s,
          ServeIndexes.imageSimhash(s, d),
          graft.operators.MediaOps.aHashSigsOf(
            t(s, d, "documents").filter(col("doc_id") < 250),
            resizeMaxDim = 64, idShift = 10000000L))),

      // PQ probe batch: broadcast per-probe ADC distance tables scanned
      // over the 32x-compressed codes + bounded exact re-rank
      // (PqIndex.queryProbes — the vectors-don't-fit serving path)
      "idx_pq_probe" -> ((s: SparkSession, d: String) =>
        graft.operators.PqIndex.queryProbes(s, ServeIndexes.pq(s, d),
          probeBatch(s, d, 50), 5)),

      // IVF+PQ probe batch: the same ADC restricted to each probe's
      // nprobe nearest cells (IvfPqIndex.queryProbes — FAISS's IVFADC;
      // the fix for idx_pq_probe's corpus-linear scan term)
      "idx_ivfpq_probe" -> ((s: SparkSession, d: String) =>
        graft.operators.IvfPqIndex.queryProbes(s, ServeIndexes.ivfpq(s, d),
          probeBatch(s, d, 50), 5))
    )
  }

  /** Build-once registry for the standing-index serve lanes: one index
    * per (kind, data dir), built lazily on the warmup sweep and reused
    * by every timed iteration — so the lanes time the SERVE path only.
    * Keyed by data dir because ScaleBench drives the same lane fn at
    * both the base and the K×-scaled dir in one JVM. Serve calls are
    * read-only, so repeated timed iterations see identical state. */
  private[graft] object ServeIndexes {
    // The map holds lazy cells, not built dirs: computeIfAbsent's compute
    // function must be short (it runs under the CHM bin lock, and a
    // multi-minute Spark index build in there would block unrelated kinds
    // hashing to the same bin if lanes ever run concurrently). Allocating
    // the cell is O(1); the build runs under the CELL's own lazy-val lock,
    // so two racing callers of the same key still build exactly once.
    private final class Cell(mk: => String) { lazy val dir: String = mk }
    private val dirs = new java.util.concurrent.ConcurrentHashMap[String, Cell]()
    private def cached(kind: String, d: String)(build: String => Unit): String =
      dirs.computeIfAbsent(s"$kind:$d", _ => new Cell({
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-bench-$kind").toString
        build(dir)
        dir
      })).dir
    def dedup(s: SparkSession, d: String): String =
      cached("dedupidx", d) { dir =>
        graft.operators.DedupIndex.build(s, t(s, d, "documents"), dir); ()
      }
    def ann(s: SparkSession, d: String): String =
      cached("annidx", d)(dir => graft.operators.AnnIndex.build(s, d, dir))
    def annRouted(s: SparkSession, d: String): String =
      cached("annroutedidx", d) { dir =>
        // threshold forced past at BUILD time so the sidecar is fitted;
        // the idx_ann_routed lane re-forces it at serve time
        val key = graft.operators.AnnIndex.FlatMaxBucketRowsKey
        val saved = s.conf.getOption(key)
        s.conf.set(key, "0")
        try graft.operators.AnnIndex.build(s, d, dir)
        finally saved match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }
    def annSq8(s: SparkSession, d: String): String =
      cached("annsq8idx", d) { dir =>
        // SQ8 opted in at BUILD time so the codes sidecar materializes;
        // the idx_sq8_probe lane re-opts-in at serve time
        val key = graft.operators.AnnIndex.ServeSq8Key
        val saved = s.conf.getOption(key)
        s.conf.set(key, "true")
        try graft.operators.AnnIndex.build(s, d, dir)
        finally saved match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }
    def annRoutedSq8(s: SparkSession, d: String): String =
      cached("annroutedsq8idx", d) { dir =>
        // both sidecars materialize at BUILD time: threshold forced
        // past (IVFPQ) and SQ8 opted in; the idx_routed_sq8 lane
        // re-pins both at serve time
        val tKey = graft.operators.AnnIndex.FlatMaxBucketRowsKey
        val sKey = graft.operators.AnnIndex.ServeSq8Key
        val savedT = s.conf.getOption(tKey)
        val savedS = s.conf.getOption(sKey)
        s.conf.set(tKey, "0")
        s.conf.set(sKey, "true")
        def restore(k: String, v: Option[String]): Unit = v match {
          case Some(x) => s.conf.set(k, x)
          case None => s.conf.unset(k)
        }
        try graft.operators.AnnIndex.build(s, d, dir)
        finally { restore(tKey, savedT); restore(sKey, savedS) }
      }
    def jaccard(s: SparkSession, d: String): String =
      cached("jacidx", d) { dir =>
        graft.operators.JaccardIndex.build(s, t(s, d, "documents"), dir)
      }
    def neardup(s: SparkSession, d: String): String =
      cached("ndidx", d) { dir =>
        graft.operators.NearDupIndex.build(s, t(s, d, "documents"), dir); ()
      }
    def simhash(s: SparkSession, d: String): String =
      cached("simhashidx", d) { dir =>
        graft.operators.SimHashIndex.build(s, t(s, d, "documents"), dir); ()
      }
    def imageSimhash(s: SparkSession, d: String): String =
      cached("imgsimidx", d) { dir =>
        // corpus-side signatures: render + decode + aHash64 every doc
        // (renderPng keys off the full doc_id, so scaled corpora hold
        // genuinely distinct images per replica shard — no salting step)
        graft.operators.SimHashIndex.buildFromSigs(s,
          graft.operators.MediaOps.aHashSigsOf(
            t(s, d, "documents").select(col("doc_id"))), dir)
        ()
      }
    def pq(s: SparkSession, d: String): String =
      cached("pqidx", d)(dir => graft.operators.PqIndex.build(s, d, dir))
    def ivfpq(s: SparkSession, d: String): String =
      cached("ivfpqidx", d)(dir => graft.operators.IvfPqIndex.build(s, d, dir))
  }

  /** Host-speed calibration: a fixed pure-JVM workload (SHA-256 over a
    * constant byte volume) timed at `nThreads` parallelism before Spark
    * starts. Query seconds only compare across rounds when the host's
    * speed is known — the same suite on identical code+data has measured
    * 2x apart hours apart on this shared host. The pair (1-thread,
    * all-thread) lets a reader normalize both serial speed and effective
    * parallel capacity out of a round-over-round comparison. */

  /** BENCH_r13 proved a pure-JVM hash loop can move OPPOSITE to the Spark
    * lanes (sha calib got faster while every lane got 1.4× slower — page
    * cache / disk / co-tenant JVMs throttle Spark but not an L1-resident
    * digest loop), so calib-adjustment AMPLIFIED that round's drift.
    * The anchor must share the workload's bottleneck: a fixed 10M-row
    * shuffle-and-aggregate Spark job (hash, exchange write+read, codegen)
    * timed min-of-3 after one warmup inside the SAME session. */
  private[graft] def calibrateSpark(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(10L * 1000 * 1000)
        .select((col("id") % 1000).as("k"), col("id"))
        .groupBy("k").agg(fsum("id").as("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup: codegen + task deserialization
    (1 to 3).map(_ => once()).min
  }

  /** The r15 anchor upgrade: the 10M-row job is OVERHEAD-BOUND — on the
    * idle host it times 0.30 s and a 100M-row version times 0.33 s (10×
    * the rows, same seconds; SCALE.md Round-15 "anchor autopsy"), so it
    * measures per-job scheduling latency, which slows far MORE under
    * co-tenant load than the lanes do (r14's loaded run: anchor 2.0×,
    * lanes ~1.1×) and over-corrects every normalized delta. At 1B rows
    * the same job shape is ~70% real aggregate throughput (1.13 s idle).
    * Both anchors are emitted; adjustment and deltas prefer this one
    * when both rounds carry it. */
  private[graft] def calibrateSpark1b(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(1000L * 1000 * 1000)
        .select((col("id") % 1000).as("k"), col("id"))
        .groupBy("k").agg(fsum("id").as("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // own warmup: the codegen'd range bound differs from the 10M job
    (1 to 2).map(_ => once()).min
  }

  /** First field of /proc/loadavg plus the host's live JVM count —
    * emitted into the artifact so a reader can tell "loaded host" from
    * "plan regression" without forensics. */
  private[graft] def hostLoad(): (Double, Int) = {
    val la = try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }
    val jvms = try ProcessHandle.allProcesses().filter(p =>
        p.info().command().map[Boolean](_.endsWith("java")).orElse(false))
      .count().toInt
    catch { case _: Throwable => -1 }
    (la, jvms)
  }

  /** The cumulative host-drift chain (VERDICT r15 #3 — the retirement of
    * the pinned quiet-host constants): `value_calib_adjusted` used to be
    * raw total × (pinned-quiet-calib / observed-calib), and every one of
    * those pins eventually went stale as the host changed (the species
    * of staleness behind r14's BENCH_DETAIL 53.023 artifact bug). Now the
    * chain multiplies only OBSERVED ratios: chain_N = chain_{N-1} ×
    * hostDriftFactor(prev_anchors, cur_anchors), seeded at 1.0 when the
    * previous artifact predates the chain (that round's host becomes the
    * epoch). `value_calib_adjusted` = raw total × chain_N — the total
    * expressed in epoch-host seconds, derived from measured anchor pairs
    * only, with the median-of-anchors outvoting machinery the deltas
    * already trust. The chain is emitted in the artifact's calib object
    * (and excluded from the anchor median by name). */
  private[graft] def chainedDrift(prevAnchors: Map[String, Double],
      curAnchors: Map[String, Double]): Double =
    prevAnchors.getOrElse("host_drift_chain", 1.0) *
      hostDriftFactor(prevAnchors, curAnchors)

  /** The round whose host is the chain's EPOCH — the units
    * `value_calib_adjusted` is expressed in (advisor r16: a silent chain
    * reset made adjusted totals incomparable across the reset with no
    * marker). Carried forward from the previous artifact; when the
    * previous artifact carries a chain but no epoch (pre-r17), the chain
    * was seeded one round earlier, so the epoch is prevRound − 1; when it
    * carries NO chain the chain reseeds THIS round and the previous
    * round's host becomes the new epoch — visibly different from the
    * carried value, which is the point. −1 = no previous artifact at all
    * (this run is its own epoch). */
  private[graft] def chainEpoch(prevRound: Int,
      prevAnchors: Map[String, Double]): Int =
    prevAnchors.get("host_drift_epoch").map(_.toInt).getOrElse(
      if (prevAnchors.contains("host_drift_chain")) prevRound - 1
      else prevRound)

  /** Round-over-round self-diagnosis (VERDICT r10 #1): load the newest
    * BENCH_r{N}.json the driver left in cwd and return (round, per-lane
    * min seconds, that round's calibration anchors — every numeric
    * `calib` field, keyed by its artifact name). Parsing failures return
    * None — the bench must never die on a malformed artifact. */
  private[graft] def loadPrevBench(dir: java.io.File)
      : Option[(Int, Map[String, Double], Map[String, Double])] = {
    val re = "BENCH_r0*(\\d+)\\.json".r
    val candidates = Option(dir.listFiles()).getOrElse(Array.empty)
      .flatMap(f => f.getName match {
        case re(n) => Some(n.toInt -> f)
        case _ => None
      }).sortBy(-_._1)
    candidates.headOption.flatMap { case (n, f) =>
      try {
        import org.json4s._
        val j = jackson.JsonMethods.parse(new String(
          java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8))
        def d(v: JValue): Option[Double] = v match {
          case JDouble(x) => Some(x)
          case JInt(x) => Some(x.toDouble)
          case JDecimal(x) => Some(x.toDouble)
          case _ => None
        }
        (j \ "parsed" \ "queries") match {
          case JObject(fields) =>
            val qs = fields.flatMap { case (k, v) => d(v).map(k -> _) }.toMap
            val anchors = (j \ "parsed" \ "calib") match {
              case JObject(cf) => cf.flatMap { case (k, v) =>
                d(v).filter(_ > 0).map(k -> _)
              }.toMap
              case _ => Map.empty[String, Double]
            }
            if (qs.nonEmpty) Some((n, qs, anchors)) else None
          case _ => None
        }
      } catch { case _: Throwable => None }
    }
  }

  /** Host-drift factor between two rounds: the MEDIAN of the per-anchor
    * speed ratios over every anchor both rounds measured (loadavg/jvms
    * metadata excluded). Any single anchor can be corrupted by a load
    * regime that hits it differently than the lanes — BENCH_r13's sha
    * loop moved OPPOSITE to the lanes, and BENCH_r14's 10M-row Spark job
    * (overhead-bound, see [[calibrateSpark1b]]) slowed 2.0× under a load
    * that slowed the lanes ~1.1× (both sha anchors agreed on 1.10×;
    * SCALE.md Round-15 anchor autopsy). The median across sha-1t,
    * sha-Nt, 10M-latency, and 1B-throughput anchors outvotes one liar;
    * with an even count the geometric mean of the middle two keeps the
    * estimate smooth. No shared anchors → 1.0 (raw comparison). */
  private[graft] def hostDriftFactor(prevAnchors: Map[String, Double],
      curAnchors: Map[String, Double]): Double = {
    // host_drift_chain rides the calib object for loadPrevBench's sake
    // but is cumulative state, not a measured anchor — a chain/chain
    // ratio in the median would double-count every past round's drift
    val meta = Set("loadavg", "jvms", "host_drift_chain", "host_drift_epoch")
    val ratios = (prevAnchors.keySet & curAnchors.keySet)
      .filterNot(meta)
      .toSeq
      .flatMap { k =>
        val (p, c) = (prevAnchors(k), curAnchors(k))
        if (p > 0 && c > 0) Some(p / c) else None
      }.sorted
    if (ratios.isEmpty) 1.0
    else if (ratios.size % 2 == 1) ratios(ratios.size / 2)
    else math.sqrt(ratios(ratios.size / 2 - 1) * ratios(ratios.size / 2))
  }

  /** Flag threshold for a normalized round-over-round lane move: a lane
    * drifting past 1.25x (either direction) after calibration is plan
    * drift, not host drift, and needs a named mechanism. */
  private[graft] val DeltaFlag = 1.25

  private def calibrate(nThreads: Int, mbTotal: Int): Double = {
    val buf = Array.fill[Byte](1 << 16)(0x5a)
    val perThread = mbTotal * 16 / nThreads // 64 KiB blocks per thread
    val t0 = System.nanoTime()
    val ts = (1 to nThreads).map { _ =>
      new Thread(() => {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        var i = 0
        while (i < perThread) { md.update(buf); i += 1 }
        md.digest(): Unit
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** `iters` round-robin sweeps over `lanes`: per-lane seconds of every
    * iteration that completed, plus the names of the lanes that threw in
    * any iteration. A crashed iteration records no time, so a lane that
    * always throws has no timings and must be reported as failed — never
    * as a fast lane. */
  private[graft] def timeLanes[F](lanes: Seq[(String, F)], iters: Int)(
      run: F => Unit): (Seq[(String, Seq[Double])], Seq[String]) = {
    val acc = scala.collection.mutable.LinkedHashMap(
      lanes.map { case (name, _) => name -> Vector.empty[Double] }: _*)
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    for (_ <- 1 to iters; (name, fn) <- lanes) {
      val t0 = System.nanoTime()
      val ok = try { run(fn); true } catch { case _: Throwable => false }
      if (ok) acc(name) = acc(name) :+ (System.nanoTime() - t0) / 1e9
      else failed += name
    }
    (acc.toSeq, failed.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val calib1t = calibrate(1, 256)
    val calibNt = calibrate(cpus.toInt, 4096)
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // Spark-job anchors: timed inside the session, before any lane state
    val calibSpark = calibrateSpark(spark)
    val calibSpark1b = calibrateSpark1b(spark)
    val (loadavg, jvmCount) = hostLoad()

    def run(fn: (SparkSession, String) => DataFrame): Unit = {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // drop any persist() a query did so the next iteration re-pays the
      // full materialization cost (fair per-iteration timing)
      spark.catalog.clearCache()
    }

    // warmup: JIT, codegen cache, parquet footers
    headline.foreach { case (_, fn) =>
      try run(fn) catch { case _: Throwable => () }
    }
    // 5 measured iterations per query; report min (engine capability on a
    // quiet host) AND median (robustness to a noisy/contended host —
    // VERDICT r2 flagged the driver's bench numbers as CPU-contention
    // artifacts 7-18x off; per-iteration times make that diagnosable)
    val iters = 5
    // Iterations run ROUND-ROBIN (sweep 1 of every query, then sweep 2,
    // ...), not 5-consecutive-per-query: BENCH_r04 showed a single host
    // contention burst swallowing all 5 back-to-back slots of one query
    // (q6 at 51-67 s vs 1.9 s quiet) while its neighbors recovered.
    // Spreading each query's iterations across the full bench wall-clock
    // means min-of-5 survives any burst shorter than a whole sweep.
    val (results, failed) = timeLanes(headline, iters)(run)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def jmap(f: Seq[Double] => Double): String = results
      .map { case (k, ts) => "\"" + k + "\":" + f"${if (ts.isEmpty) -1.0 else f(ts)}%.3f" }
      .mkString("{", ",", "}")
    val perIter = results.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map { case (_, ts) => if (ts.isEmpty) 0.0 else ts.min }.sum
    // The stdout contract line stays SHORT (min-of-5 per query only):
    // BENCH_r04's driver capture kept only a bounded tail of output and the
    // former ~2.5 KB line (median + per-iteration arrays inline) came back
    // truncated mid-JSON -> "parsed": null. Diagnostics (median + raw
    // iterations) go to a sidecar file instead.
    // Per-lane NORMALIZED deltas vs the previous round's artifact
    // (VERDICT r10 #1): delta = (cur_min/prev_min) x (prev_calib/cur_calib)
    // — i.e. the move that remains AFTER dividing out measured host-speed
    // drift. Emitted in the contract line as an array aligned with the
    // `queries` key order (a named map would blow the driver's 2000-char
    // stdout tail that already truncated BENCH_r04 mid-JSON; the named
    // map goes to BENCH_DETAIL.json), plus the flagged >1.25x movers by
    // name — making round-over-round comparison self-diagnosing instead
    // of hand-math over two artifacts.
    val prev = loadPrevBench(new java.io.File("."))
    // normalize by the MEDIAN anchor ratio over every anchor both rounds
    // measured (hostDriftFactor): one anchor corrupted by a load regime
    // that hits it differently than the lanes gets outvoted by the rest
    val curAnchors = Map(
      "sha256_1t_256mb_sec" -> calib1t,
      s"sha256_${cpus}t_4gb_sec" -> calibNt,
      "spark_10m_shuffle_sec" -> calibSpark,
      "spark_1b_agg_sec" -> calibSpark1b)
    val hostAdj = prev match {
      case Some((_, _, pa)) => hostDriftFactor(pa, curAnchors)
      case None => 1.0
    }
    // value_calib_adjusted (r16): raw total in epoch-host seconds via the
    // cumulative OBSERVED drift chain — no pinned quiet-host constant
    // left to go stale (VERDICT r15 #3; chainedDrift scaladoc)
    val (chain, chainEp) = prev match {
      case Some((r, _, pa)) => (chainedDrift(pa, curAnchors), chainEpoch(r, pa))
      case None => (1.0, -1)
    }
    val adj = total * chain
    val deltas: Seq[(String, Option[Double])] = results.map { case (k, ts) =>
      k -> prev.flatMap { case (_, pq, _) =>
        pq.get(k).filter(_ > 0)
          .flatMap(p => ts.minOption.map(m => m / p * hostAdj))
      }
    }
    val deltaArr = deltas
      .map(_._2.map(v => f"$v%.2f").getOrElse("null"))
      .mkString("[", ",", "]")
    // cap at the 6 worst movers: a badly-skewed calib run could flag all
    // 38 lanes and push the contract line past the driver's 2000-char
    // stdout tail — the full picture is always in deltas_norm anyway
    val flagged = deltas.collect {
      case (k, Some(v)) if v >= DeltaFlag || v <= 1.0 / DeltaFlag => (k, v)
    }.sortBy { case (_, v) => -math.abs(math.log(v)) }.take(6)
      .map { case (k, v) => f""""$k%s:$v%.2f"""" }
      .mkString("[", ",", "]")
    val vsRound = prev.map(_._1.toString).getOrElse("null")
    val deltaJson =
      s""""vs_round":$vsRound,"deltas_norm":$deltaArr,"flagged":$flagged"""
    val deltaNamed = deltas
      .map { case (k, v) =>
        "\"" + k + "\":" + v.map(x => f"$x%.3f").getOrElse("null") }
      .mkString("{", ",", "}")
    val calib = f""""calib":{"sha256_1t_256mb_sec":$calib1t%.3f,"sha256_${cpus}%st_4gb_sec":$calibNt%.3f,"spark_10m_shuffle_sec":$calibSpark%.3f,"spark_1b_agg_sec":$calibSpark1b%.3f,"host_drift_chain":$chain%.6f,"host_drift_epoch":$chainEp%d,"loadavg":$loadavg%.2f,"jvms":$jvmCount%d},"value_calib_adjusted":$adj%.3f"""
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val detail = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jmap(_.min)},"queries_median":${jmap(median)},"iterations":$perIter,$calib,"deltas_norm_named":$deltaNamed,$deltaJson,"failed":$failedJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jmap(_.min)},$calib,$deltaJson,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
