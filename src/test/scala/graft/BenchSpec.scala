package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the cross-round normalization contract of the bench artifact:
  * value_calib_adjusted = raw total × the cumulative OBSERVED host-drift
  * chain (r16 — no pinned quiet-host constant left to go stale), so a
  * 2x-slower host reports ~the same adjusted number for the same code
  * (SCALE.md "Host-speed drift"). */
class BenchSpec extends AnyFunSuite {

  test("chainedDrift multiplies the prior chain by the observed anchor median") {
    // r16 epoch seed: previous artifact has no chain → factor is just
    // this round's measured drift
    val prevNoChain = Map("spark_1b_agg_sec" -> 1.0)
    val cur = Map("spark_1b_agg_sec" -> 2.0) // host now 2× slower
    assert(math.abs(Bench.chainedDrift(prevNoChain, cur) - 0.5) < 1e-9,
      "seeded chain must equal hostDriftFactor alone")
    // composition: previous chain 0.8 × this round's 0.5 drift = 0.4 —
    // a slow-then-slower host walks the total back to epoch seconds
    val prevChained = Map("spark_1b_agg_sec" -> 1.0, "host_drift_chain" -> 0.8)
    assert(math.abs(Bench.chainedDrift(prevChained, cur) - 0.4) < 1e-9)
    // same engine work on a 2×-slower host: raw total doubles, chain
    // halves, adjusted total (total × chain) is unchanged
    assert(math.abs(30.0 * Bench.chainedDrift(prevNoChain, cur) - 15.0) < 1e-9)
    // no shared anchors → drift 1.0, chain passes through
    assert(Bench.chainedDrift(Map("host_drift_chain" -> 0.7),
      Map("a" -> 1.0)) == 0.7)
  }

  test("chainEpoch carries the epoch forward and surfaces a chain reset") {
    // steady state: the previous artifact's epoch is the epoch
    assert(Bench.chainEpoch(18,
      Map("host_drift_chain" -> 0.9, "host_drift_epoch" -> 15.0)) == 15)
    // pre-r17 artifact: chain present, no epoch field — the chain was
    // seeded one round before that artifact, so epoch = prevRound − 1
    assert(Bench.chainEpoch(16, Map("host_drift_chain" -> 0.9)) == 15)
    // RESET (the advisor-r16 case): previous artifact lost its chain
    // (missing/unparseable) — the epoch visibly jumps to prevRound
    // instead of silently keeping the stale units
    assert(Bench.chainEpoch(16, Map("spark_1b_agg_sec" -> 1.0)) == 16)
    // both fields present survive a reset marker comparison: a diff of
    // host_drift_epoch across artifacts is the reset detector
    assert(Bench.chainEpoch(17, Map("host_drift_epoch" -> 16.0)) == 16)
    // the epoch rides the calib object but must never vote in the median
    assert(Bench.hostDriftFactor(
      Map("a" -> 2.0, "host_drift_epoch" -> 15.0),
      Map("a" -> 1.0, "host_drift_epoch" -> 3.0)) == 2.0,
      "epoch/epoch ratio leaked into the anchor median")
  }

  test("host_drift_chain is cumulative state, never an anchor in the median") {
    // a chain value wildly different across rounds must not move the
    // drift estimate — only measured anchors vote
    val prev = Map("spark_1b_agg_sec" -> 1.0, "host_drift_chain" -> 100.0)
    val cur = Map("spark_1b_agg_sec" -> 1.0, "host_drift_chain" -> 0.001)
    assert(Bench.hostDriftFactor(prev, cur) == 1.0,
      "chain/chain ratio leaked into the anchor median")
  }

  test("loadPrevBench picks the newest round artifact and parses it") {
    val dir = java.nio.file.Files.createTempDirectory("bench-prev").toFile
    def write(name: String, body: String): Unit =
      java.nio.file.Files.writeString(dir.toPath.resolve(name), body)
    // driver-shaped wrapper: {"n":N,...,"parsed":{...}}
    write("BENCH_r09.json",
      """{"n":9,"parsed":{"queries":{"q1_agg":0.4},
        |"calib":{"sha256_1t_256mb_sec":0.2}}}""".stripMargin)
    write("BENCH_r10.json",
      """{"n":10,"parsed":{"queries":{"q1_agg":0.334,"l13_ann":0.659},
        |"calib":{"sha256_1t_256mb_sec":0.251}}}""".stripMargin)
    write("BENCH_r10_broken.json", "{not json") // ignored: name mismatch
    val Some((n, qs, anchors)) = Bench.loadPrevBench(dir)
    assert(n == 10)
    assert(qs == Map("q1_agg" -> 0.334, "l13_ann" -> 0.659))
    assert(anchors == Map("sha256_1t_256mb_sec" -> 0.251),
      "pre-r14 artifact carries only the sha anchor")
    // r14+/r15+ artifact: every numeric calib field parses as an anchor
    // (loadavg/jvms ride along; hostDriftFactor excludes them)
    write("BENCH_r11.json",
      """{"n":11,"parsed":{"queries":{"q1_agg":0.3},
        |"calib":{"sha256_1t_256mb_sec":0.2,"spark_10m_shuffle_sec":0.61,
        |"spark_1b_agg_sec":1.21,"loadavg":2.29,"jvms":2}}}""".stripMargin)
    val Some((_, _, a11)) = Bench.loadPrevBench(dir)
    assert(a11("spark_10m_shuffle_sec") == 0.61)
    assert(a11("spark_1b_agg_sec") == 1.21)
    assert(a11("loadavg") == 2.29) // parsed; excluded at ratio time
  }

  test("hostDriftFactor takes the median anchor ratio and outvotes one liar") {
    // the r14→r15 shape: both sha anchors say the host got 1.10× faster,
    // the overhead-bound 10M job claims 2.0× — median must side with
    // the pair, not the outlier
    val prev = Map("sha256_1t_256mb_sec" -> 0.287,
      "sha256_32t_4gb_sec" -> 0.186, "spark_10m_shuffle_sec" -> 0.59,
      "loadavg" -> 2.29, "jvms" -> 2.0)
    val cur = Map("sha256_1t_256mb_sec" -> 0.260,
      "sha256_32t_4gb_sec" -> 0.169, "spark_10m_shuffle_sec" -> 0.295,
      "spark_1b_agg_sec" -> 1.127, "loadavg" -> 0.3, "jvms" -> 2.0)
    val f = Bench.hostDriftFactor(prev, cur)
    assert(f > 1.0 && f < 1.2, s"median must track the sha pair: $f")
    // odd count: exact middle
    assert(Bench.hostDriftFactor(Map("a" -> 2.0), Map("a" -> 1.0)) == 2.0)
    // even count: geometric mean of the middle two
    val g = Bench.hostDriftFactor(Map("a" -> 2.0, "b" -> 8.0),
      Map("a" -> 1.0, "b" -> 1.0))
    assert(math.abs(g - 4.0) < 1e-9)
    // no shared anchors → raw comparison
    assert(Bench.hostDriftFactor(Map("a" -> 2.0), Map("b" -> 1.0)) == 1.0)
    // loadavg/jvms never count as anchors
    assert(Bench.hostDriftFactor(
      Map("loadavg" -> 4.0, "jvms" -> 8.0),
      Map("loadavg" -> 1.0, "jvms" -> 2.0)) == 1.0)
  }

  test("loadPrevBench surfaces a chain-carrying calib object to chainedDrift") {
    val dir = java.nio.file.Files.createTempDirectory("bench-chain").toFile
    java.nio.file.Files.writeString(dir.toPath.resolve("BENCH_r16.json"),
      """{"n":16,"parsed":{"queries":{"q1_agg":0.3},
        |"calib":{"spark_1b_agg_sec":1.2,"host_drift_chain":0.91,
        |"loadavg":1.0,"jvms":2}}}""".stripMargin)
    val Some((_, _, anchors)) = Bench.loadPrevBench(dir)
    assert(anchors("host_drift_chain") == 0.91)
    // the chain an r17 run would emit: 0.91 × (1.2/2.4) = 0.455
    val c = Bench.chainedDrift(anchors, Map("spark_1b_agg_sec" -> 2.4))
    assert(math.abs(c - 0.455) < 1e-9)
  }

  test("hostLoad reads loadavg and sees at least this JVM") {
    val (la, jvms) = Bench.hostLoad()
    assert(la >= 0.0, s"loadavg unreadable: $la")
    assert(jvms >= 1, s"JVM census missed the current process: $jvms")
  }

  test("loadPrevBench survives a truncated artifact and an empty dir") {
    val dir = java.nio.file.Files.createTempDirectory("bench-prev2").toFile
    assert(Bench.loadPrevBench(dir).isEmpty)
    java.nio.file.Files.writeString(
      dir.toPath.resolve("BENCH_r04.json"), """{"parsed": null}""")
    assert(Bench.loadPrevBench(dir).isEmpty,
      "a round whose stdout truncated (parsed:null) must be skipped, not crash")
  }

  test("SCALE.md's stated suite counts match the code (artifact lint)") {
    // VERDICT r9 AND r10 both caught this count drifting by hand; the
    // linted line at the top of SCALE.md is the single current-state
    // statement and must equal the registries it describes
    val scale = java.nio.file.Files.readString(
      java.nio.file.Paths.get("SCALE.md"))
    val re = """Current headline suite: (\d+) lanes \(\+(\d+) extra probes\)""".r
    val m = re.findFirstMatchIn(scale)
      .getOrElse(fail("SCALE.md lost its linted suite-count line"))
    assert(m.group(1).toInt == Bench.headline.size,
      s"SCALE.md says ${m.group(1)} headlines; Bench.headline has ${Bench.headline.size}")
    assert(m.group(2).toInt == ScaleBench.extraProbes.size,
      s"SCALE.md says ${m.group(2)} extras; ScaleBench.extraProbes has ${ScaleBench.extraProbes.size}")
  }

  test("a lane that throws is listed as failed, never timed as a fast lane") {
    var calls = 0
    val lanes = Seq[(String, () => Unit)](
      "ok" -> (() => ()),
      "boom" -> (() => throw new RuntimeException("lane crashed")),
      "flaky" -> (() => { calls += 1; if (calls == 1) sys.error("once") }))
    val (results, failed) = Bench.timeLanes(lanes, iters = 3)(f => f())
    assert(failed == Seq("boom", "flaky"))
    val times = results.toMap
    assert(results.map(_._1) == Seq("ok", "boom", "flaky"),
      "every lane keeps its slot in the artifact, in bench order")
    assert(times("ok").size == 3 && times("flaky").size == 2)
    assert(times("boom").isEmpty)
  }

  test("bench l2 and l54w lanes compute exactly the operators the oracle checks") {
    val spark = SparkSpec.spark
    // sf0.01 (the suite fixture's sibling) holds near-dup pairs to compare
    val d = new java.io.File(SparkSpec.sfDir).getParent + "/sf0.01"
    def same(x: org.apache.spark.sql.DataFrame,
        y: org.apache.spark.sql.DataFrame): Boolean =
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    val lanes = Bench.headline.toMap
    val l2 = lanes("l2_minhash")(spark, d)
    assert(l2.count() > 0, "fixture lost its near-dup candidates")
    assert(same(l2, SparkEntry.queries("l2_minhash_lsh")(spark, d)))
    val l54w = lanes("l54w_simhash64")(spark, d)
    assert(l54w.count() > 0, "fixture lost its near-dup pairs")
    assert(same(l54w, graft.operators.LlmOps.simhash64BandScreen(
      graft.operators.LlmOps.simhash64Of(
        Tables.t(spark, d, "documents").select("doc_id", "text")))))
  }
}
