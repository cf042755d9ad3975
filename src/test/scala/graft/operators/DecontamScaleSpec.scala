package graft.operators

import graft.SparkSpec
import graft.functions.{BloomMembership, BloomMightContainBcast}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter, Join => LJoin}
import org.apache.spark.sql.functions._

/** DecontamIndex at eval-suite scale (VERDICT r10 #4): a ~10^7-key model
  * whose bloom sidecar (8 MiB at 1% fpp after Spark's power-of-two bit
  * rounding) exceeds the plan-literal ceiling, so the screen must ride a true Broadcast variable — the
  * task binary of every referencing stage stays bounded — while the
  * answer stays hash-identical to the unscreened formulation, and the
  * prefilter stays on the scan side of the screen's one shuffle.
  *
  * The model dir is written in DecontamIndex's layout directly (rows +
  * `df.stat.bloomFilter` sidecar): shingling 10^7 distinct real 8-grams
  * through build() would dominate suite wall-clock, and screen() sees
  * only the layout. A slice of REAL corpus shingles is unioned in so
  * the contaminated path (bloom hit -> confirm join -> count) is hot,
  * not just the ~1% false-positive trickle. */
class DecontamScaleSpec extends SparkSpec {

  private val Keys = 10000000L

  private def docs = graft.Tables.t(spark, sfDir, "documents")
    .select("doc_id", "text")

  /** (dir, sidecarBytes): 10^7 synthetic keys + the shingles of docs
    * 0..19, bloom built distributed over the union. Built once, shared
    * by every test in the suite. */
  private lazy val bigModel: (String, Long) = {
    val dir = java.nio.file.Files
      .createTempDirectory("decontam-scale").toString
    // distinct only the real-shingle slice: the synthetic keys are
    // distinct by construction and disjoint from md5-hex shingles, so
    // the union needs no 10^7-row dedup shuffle
    val sh = spark.range(Keys)
      .select(concat(lit("k"), col("id")).as("sh"))
      .unionByName(
        LlmOps.shingles8(docs.filter(col("doc_id") < 20))
          .select("sh").distinct())
      .withColumn("h", xxhash64(col("sh")))
    sh.write.mode("overwrite").parquet(s"$dir/shingles")
    val bf = sh.stat.bloomFilter("h", Keys, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "bloom.bin"), bos.toByteArray)
    (dir, bos.size().toLong)
  }

  test("10^7-key sidecar: size as designed, above the literal ceiling") {
    val (_, size) = bigModel
    // 10^7 keys at 1% fpp wants ~9.6 bits/key ≈ 11.4 MiB; Spark's
    // sketch rounds the bit array to a power of two, landing at 2^26
    // bits = 8 MiB (+16 B header). Pin the order of magnitude so a
    // sizing regression (fpp, key count, impl change) shows
    assert(size > BloomMembership.LiteralMaxBytes,
      s"sidecar $size B must exceed the ${BloomMembership.LiteralMaxBytes} B literal ceiling")
    assert(size > (6L << 20) && size < (20L << 20),
      s"10^7-key/1%-fpp sidecar expected ~8 MiB (power-of-two bits), got $size B")
  }

  test("big-model screen rides a Broadcast: no plan-resident byte literal") {
    val (dir, size) = bigModel
    val plan = DecontamIndex.screen(spark, dir, docs.filter(col("doc_id") < 100))
      .queryExecution.optimizedPlan
    var sawBcast = false
    var biggestLiteral = 0L
    plan.foreach(_.expressions.foreach(_.foreach {
      case _: BloomMightContainBcast => sawBcast = true
      case Literal(v: Array[Byte], _) =>
        biggestLiteral = math.max(biggestLiteral, v.length.toLong)
      case _ => ()
    }))
    assert(sawBcast, "screen over a >4 MiB sidecar must use the broadcast predicate")
    assert(biggestLiteral < (1L << 20),
      s"a $biggestLiteral-byte literal rides the plan — the $size-byte sidecar leaked into the task binary")
  }

  test("the prefilter sits below the screen's shuffle (scan-side, pre-distinct)") {
    val (dir, _) = bigModel
    val plan = DecontamIndex.screen(spark, dir, docs.filter(col("doc_id") < 100))
      .queryExecution.optimizedPlan
    val bloomFilters = plan.collect {
      case f: LFilter if f.condition.exists(_.isInstanceOf[BloomMightContainBcast]) => f
    }
    assert(bloomFilters.nonEmpty, "no bloom Filter node in the optimized plan")
    // scan-side = nothing shuffle-bearing below the prefilter: the
    // distinct (Aggregate) and the confirm Join must both consume its
    // SURVIVORS, so the exchange carries ~fpp of the corpus shingles
    bloomFilters.foreach { f =>
      f.child.foreach {
        case _: Aggregate => fail("distinct runs BELOW the bloom prefilter — the shuffle carries the full corpus shingle set")
        case _: LJoin => fail("confirm join runs below the bloom prefilter")
        case _ => ()
      }
    }
  }

  test("broadcast-path answer ≡ no-prefilter answer (hits, counts, erased FPs)") {
    val (dir, _) = bigModel
    val probe = docs.filter(col("doc_id") < 100) // 0..19 contaminated
    val withBloom = DecontamIndex.screen(spark, dir, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(withBloom.exists(_._3), "model includes docs<20 shingles — some doc must screen contaminated")
    assert(withBloom.exists(!_._3), "some doc must screen clean")
    val bloomBak = java.nio.file.Paths.get(dir, "bloom.bak")
    val bloomBin = java.nio.file.Paths.get(dir, "bloom.bin")
    java.nio.file.Files.move(bloomBin, bloomBak)
    try {
      val without = DecontamIndex.screen(spark, dir, probe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(withBloom == without,
        "broadcast prefilter must be a pure optimization — identical answer without it")
    } finally { java.nio.file.Files.move(bloomBak, bloomBin); () }
  }

  test("bcast predicate ≡ Spark's literal predicate on the same filter bytes") {
    val n = 100000L
    val model = spark.range(n).filter(col("id") % 3 === 0)
      .withColumn("h", xxhash64(col("id")))
    val bf = model.stat.bloomFilter("h", n, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bytes = bos.toByteArray
    val probes = spark.range(2 * n).withColumn("h", xxhash64(col("id")))
    val viaLiteral = probes
      .filter(BloomMembership.mightContain(spark, lit(bytes), col("h")))
      .select("id").collect().map(_.getLong(0)).toSet
    val viaBcast = probes
      .filter(BloomMembership.mightContainBroadcast(spark,
        spark.sparkContext.broadcast(bytes), col("h")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaLiteral == viaBcast,
      "broadcast-carried filter must accept exactly the literal-carried set")
    assert(viaBcast.size >= n.toInt / 3, "every true member must survive")
  }
}
