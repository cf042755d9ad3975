package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** JaccardIndex's generation log ([[IndexGenerations]]) and its two
  * screen arms: a screen reads the newest complete manifest and exactly
  * the `shingles` files it names, and the driver-resident arm answers
  * row for row what the distributed kernel answers. */
class JaccardGenerationSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private def doc(prefix: String, n: Int = 40): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")
  private def edit(text: String, at: Int, word: String): String =
    text.split(" ").updated(at - 1, word).mkString(" ")

  private val corpus = Seq((1L, doc("alpha")), (2L, doc("bravo")), (3L, doc("civic")))
  // near-dups of what `extra` appends: one token changed
  private val extra = Seq((10L, doc("delta")), (11L, doc("echo")))
  private val probe = Seq((20L, edit(doc("alpha"), 7, "x")), (21L, edit(doc("delta"), 9, "y")),
    (22L, edit(doc("echo"), 30, "z")), (23L, doc("golf")))

  private def docs(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")

  /** The (a, b, n_common, n_a, n_b) pairs `probe` screens to at `dir`. */
  private def pairs(dir: String, rows: Seq[(Long, String)] = probe): Set[Row] =
    JaccardIndex.pairsAgainst(spark, dir, docs(rows)).collect().toSet

  private def matched(dir: String): Set[Long] = pairs(dir).map(_.getLong(1))

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  private def built(tag: String): String = {
    val dir = tmp(tag)
    JaccardIndex.build(spark, docs(corpus), dir)
    dir
  }

  private def copyTree(from: String, to: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(from), new java.io.File(to))

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val saved = spark.conf.getOption(k)
    try { spark.conf.set(k, v); body }
    finally saved match {
      case Some(s) => spark.conf.set(k, s)
      case None => spark.conf.unset(k)
    }
  }

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  test("a half-written manifest with no trailer is skipped: the previous generation serves") {
    val idx = built("jac-gen-torn")
    JaccardIndex.append(spark, idx, docs(extra))
    assert(JaccardIndex.generation(spark, idx).number == 2)
    assert(matched(idx) == Set(20L, 21L, 22L))
    val lines = Files.readAllLines(Paths.get(s"$idx/_gen/2"))
    assert(lines.get(lines.size - 1) == "end\t2")
    Files.deleteIfExists(Paths.get(s"$idx/_gen/.2.crc"))
    Files.write(Paths.get(s"$idx/_gen/2"), lines.subList(0, lines.size - 1))
    assert(JaccardIndex.generation(spark, idx).number == 1)
    assert(matched(idx) == Set(20L), "a torn manifest must not be served")
    // the next commit takes the number after the torn one, never over it
    JaccardIndex.append(spark, idx, docs(extra.take(1)))
    assert(JaccardIndex.generation(spark, idx).number == 3)
    assert(matched(idx) == Set(20L, 21L))
  }

  test("a crash before the commit leaves the previous generation serving; the re-run commits the same N") {
    val idx = built("jac-gen-crash")
    val twin = s"${tmp("jac-gen-crash-twin")}/twin"
    copyTree(idx, twin)
    object Boom extends RuntimeException("crash before the commit")
    JaccardIndex.crashProbe = p => if (p == "before_commit") throw Boom
    try intercept[Boom.type](JaccardIndex.append(spark, idx, docs(extra)))
    finally JaccardIndex.crashProbe = _ => ()
    // the crashed run wrote generation 2's files, and no screen sees them
    assert(Files.exists(Paths.get(s"$idx/g2/shingles")))
    assert(JaccardIndex.generation(spark, idx).number == 1)
    assert(matched(idx) == Set(20L), "an uncommitted generation must not screen")
    JaccardIndex.append(spark, idx, docs(extra))
    JaccardIndex.append(spark, twin, docs(extra))
    assert(JaccardIndex.generation(spark, idx).number == 2)
    assert(pairs(idx) == pairs(twin) && matched(idx) == Set(20L, 21L, 22L))
  }

  test("shingle files written outside a commit never screen") {
    val idx = built("jac-gen-stray")
    val g = JaccardIndex.generation(spark, idx)
    val before = pairs(idx)
    // a twin that did append the extra docs lends its files: into idx's
    // committed table directory, generation 0's fixed path, and as an
    // uncommitted generation 2
    val twin = s"${tmp("jac-gen-twin")}/twin"
    copyTree(idx, twin)
    JaccardIndex.append(spark, twin, docs(extra))
    assert(matched(twin) == Set(20L, 21L, 22L))
    copyTree(s"$twin/g2/shingles", s"$idx/g1/shingles")
    copyTree(s"$twin/g2/shingles", s"$idx/shingles")
    copyTree(s"$twin/g2", s"$idx/g2")
    assert(JaccardIndex.generation(spark, idx) == g)
    ServeModelCache.clear()
    assert(pairs(idx) == before && matched(idx) == Set(20L), "files outside a commit screened")
  }

  test("a generation-0 directory serves unchanged answers, and its first append commits generation 1") {
    val idx = built("jac-gen-legacy")
    val twin = s"${tmp("jac-gen-ref")}/ref"
    copyTree(idx, twin)
    // what a build from before the log left: shingles/, a sizes/ table
    // nothing reads, no log
    Files.move(Paths.get(idx, "g1/shingles"), Paths.get(idx, "shingles"))
    Seq("_gen", "g1").foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx, d)))
    Seq((1L, 36L)).toDF("doc_id", "n").write.parquet(s"$idx/sizes")
    assert(JaccardIndex.generation(spark, idx).number == 0)
    assert(pairs(idx) == pairs(twin))
    JaccardIndex.append(spark, idx, docs(extra))
    JaccardIndex.append(spark, twin, docs(extra))
    val g1 = JaccardIndex.generation(spark, idx)
    assert(g1.number == 1 && g1("shingles").exists(_.startsWith(s"$idx/shingles/")) &&
      g1("shingles").exists(_.startsWith(s"$idx/g1/shingles/")),
      s"generation 1 must list the fixed rows and the batch: $g1")
    assert(!Files.exists(Paths.get(idx, "sizes")), "the unread sizes/ table was kept")
    assert(pairs(idx) == pairs(twin) && matched(idx) == Set(20L, 21L, 22L))
  }

  test("appends reclaim what no generation serves and keep the shingles list short") {
    val idx = built("jac-gen-reclaim")
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    withConf(threshold, "4") {
      var prev = JaccardIndex.generation(spark, idx)
      var rewrites = 0
      for (k <- 0 until 8) {
        JaccardIndex.append(spark, idx, docs(Seq((100L + k, doc(s"k$k")))))
        val g = JaccardIndex.generation(spark, idx)
        if (g("shingles").forall(_.startsWith(s"$idx/g${g.number}/"))) rewrites += 1
        assert(prev("shingles").forall(f => Files.exists(Paths.get(f))),
          s"append $k deleted files of the generation it replaced")
        val onDisk = {
          val all = Files.walk(Paths.get(idx))
          try all.filter(p => p.getFileName.toString.endsWith(".parquet")).toArray.toSeq
            .map(_.toString)
          finally all.close()
        }
        assert(onDisk.toSet == (prev("shingles") ++ g("shingles")).toSet,
          s"append $k left files no live generation names")
        assert(g("shingles").size <= 12, s"append $k left ${g("shingles").size} files")
        prev = g
      }
      assert(rewrites > 0, "no append rewrote the shingles list")
      assert(matched(idx) == Set(20L))
      val last = docs(Seq((200L, edit(doc("k7"), 3, "q"))))
      assert(JaccardIndex.pairsAgainst(spark, idx, last).select("a").as[Long].collect()
        .toSeq == Seq(107L))
    }
  }

  // ---- the two arms ------------------------------------------------

  private def shingled(rows: Seq[(Long, String)]): DataFrame =
    JaccardIndex.shingleSets(docs(rows)).localCheckpoint(true)

  /** The kernel's (src, a, b, n_common, n_a, n_b) rows for `bsh` at
    * `dir` on the arm the conf picks, and whether it was the resident
    * one. */
  private def screen(dir: String, bsh: DataFrame, within: Boolean): (Set[Row], Boolean) = {
    val (out, rows) = JaccardIndex.screened(spark, dir, bsh, within, None)
    (out.collect().toSet, rows.isDefined)
  }

  /** Both arms' rows, asserted equal; the resident ones are returned. */
  private def bothArms(dir: String, bsh: DataFrame, within: Boolean): Set[Row] = {
    val (resident, wasResident) = screen(dir, bsh, within)
    val (distributed, wasDistributed) = withConf(Threshold, "-1")(screen(dir, bsh, within))
    assert(wasResident && !wasDistributed, "the conf did not pick the arms")
    assert(resident == distributed,
      s"within=$within: resident only ${resident -- distributed}, " +
        s"distributed only ${distributed -- resident}")
    resident
  }

  test("the resident arm answers what the distributed kernel answers (seeded cases)") {
    // a small vocabulary, so random documents share many shingles
    val vocab = (0 until 7).map(i => s"w$i")
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      def text(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      def mutate(t: String): String = {
        val tk = t.split(" ")
        if (tk.length < 2) t
        else tk.updated(rnd.nextInt(tk.length), vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      // docs under 5 tokens have no shingles
      val stored = (1L to 24L).map(i => i -> text(if (i % 6 == 0) 3 else 8 + rnd.nextInt(10)))
      val dir = tmp(s"jac-arms-$seed")
      JaccardIndex.build(spark, docs(stored.take(16)), dir)
      // an append with a re-appended duplicate (a replay) and a doc_id
      // already stored under another text (its set is the union)
      JaccardIndex.append(spark, dir, docs(stored.drop(16) ++ stored.take(2) ++
        Seq(3L -> mutate(stored(2)._2))))
      val batch = (1 to 20).map { i =>
        val id = 100L + i
        i % 5 match {
          case 0 => id -> text(2 + rnd.nextInt(12))
          case 1 => id -> mutate(stored(rnd.nextInt(stored.size))._2)
          case 2 => (1L + rnd.nextInt(24)) -> mutate(stored(rnd.nextInt(stored.size))._2)
          case _ => id -> mutate(mutate(stored(rnd.nextInt(stored.size))._2))
        }
      }
      // within-batch copies and near-dups, and batch doc_ids given twice
      val withDups = batch ++ batch.slice(2, 4).map { case (i, t) => (i + 400L) -> t } ++
        batch.take(4).map { case (_, t) => (300L + rnd.nextInt(3)) -> mutate(t) }
      val bsh = shingled(withDups)
      val against = bothArms(dir, bsh, within = false)
      val all = bothArms(dir, bsh, within = true)
      assert(against.nonEmpty && all.exists(_.getInt(0) == 1), s"seed $seed: no pairs to compare")
      assert(all.filter(_.getInt(0) == 0) == against)
    }
  }

  test("the arms agree on pairs exactly at 3/5 and one shingle below") {
    val t = (1 to 13).map(i => s"t$i")
    val dir = tmp("jac-arms-tau")
    // stored 1: 8 shingles; batch 10 shares 6 of its 8 — ∩ 6, ∪ 10
    // stored 2: 9 shingles; batch 11 shares 6 of its 8 — ∩ 6, ∪ 11
    JaccardIndex.build(spark, docs(Seq(1L -> t.take(12).mkString(" "),
      2L -> t.map(_ + "b").mkString(" "))), dir)
    val batch = Seq(10L -> (t.take(10) ++ Seq("y1", "y2")).mkString(" "),
      11L -> (t.take(10).map(_ + "b") ++ Seq("z1", "z2")).mkString(" "),
      // within the batch: 12 against 10 is at 3/5, 13 against 11 below
      12L -> (t.take(10) ++ Seq("y1", "v")).mkString(" ").replace("t1 ", "u1 "),
      13L -> "short doc")
    val rows = bothArms(dir, shingled(batch), within = true)
    val byPair = rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) -> r).toMap
    assert(byPair.get((0, 1L, 10L)).map(r => (r.getLong(3), r.getLong(4), r.getLong(5)))
      .contains((6L, 8L, 8L)), s"the pair at 3/5 is missing: $rows")
    assert(!byPair.contains((0, 2L, 11L)), s"a pair below 3/5 was reported: $rows")
  }

  test("a write-through model screens as a cold load of the same generation") {
    val dir = built("jac-write-through")
    val batch = shingled(probe ++ Seq(30L -> edit(doc("kilo"), 4, "k")))
    val g1 = screen(dir, batch, within = true)
    assert(g1._2)
    // the JaccardPass path: the resident screen's rows, appended
    val (_, held) = JaccardIndex.rejectsOf(spark, dir, shingled(extra), None)
    JaccardIndex.appendRows(spark, dir, held.get)
    // the generic path: collected after its write
    JaccardIndex.append(spark, dir, docs(Seq(40L -> doc("kilo"))))
    val g = JaccardIndex.generation(spark, dir)
    assert(g.number == 3)
    assert(ServeModelCache.held[AnyRef](dir, g.identity).isDefined,
      "the append registered no model for its generation")
    val warm = screen(dir, batch, within = true)
    ServeModelCache.clear()
    val cold = screen(dir, batch, within = true)
    val distributed = withConf(Threshold, "-1")(screen(dir, batch, within = true))
    assert(warm._2 && cold._2 && warm._1 == cold._1 && cold._1 == distributed._1)
    assert(warm._1.map(r => (r.getLong(1), r.getLong(2))) ==
      g1._1.map(r => (r.getLong(1), r.getLong(2))) ++ Set(10L -> 21L, 11L -> 22L, 40L -> 30L))
  }

  test("a warm reject set after an append opens no shingles file") {
    val idx = built("jac-gen-warm")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countopen.impl", classOf[CountingOpenFileSystem].getName)
    hc.setBoolean("fs.countopen.impl.disable.cache", true)
    try {
      val url = s"countopen://$idx"
      def opened(body: => Unit): Seq[String] =
        CountingOpenFileSystem.during(body)._1.filter(_.contains("/shingles/"))
      def rejects(rows: Seq[(Long, String)]): Set[Long] =
        JaccardIndex.rejects(spark, url, shingled(rows)).as[Long].collect().toSet
      assert(opened(assert(rejects(probe) == Set(20L))).nonEmpty,
        "a cold reject set opened no shingles file")
      assert(opened(assert(rejects(probe) == Set(20L))).isEmpty)
      // the streaming ingest's append: the resident screen's rows
      val (_, held) = JaccardIndex.rejectsOf(spark, url, shingled(extra.take(1)), None)
      JaccardIndex.appendRows(spark, url, held.get)
      val after = opened(assert(rejects(probe) == Set(20L, 21L)))
      assert(after.isEmpty, s"a warm reject set after an append opened $after")
      // and runs one job: the batch collect
      val sh = shingled(probe)
      val (_, rec) = graft.JobAttribution.of(spark)(JaccardIndex.rejects(spark, url, sh).collect())
      assert(rec.jobs.size == 1, s"a warm reject set ran ${rec.jobs.size} jobs\n${rec.summary}")
      JaccardIndex.append(spark, url, docs(extra.drop(1)))
      val generic = opened(assert(rejects(probe) == Set(20L, 21L, 22L)))
      assert(generic.isEmpty, s"a warm reject set after an append opened $generic")
    } finally {
      hc.unset("fs.countopen.impl")
      hc.unset("fs.countopen.impl.disable.cache")
    }
  }
}
