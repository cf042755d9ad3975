package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cross-run dedup index: build once, screen each arriving batch with the
  * bloom + exact confirm, append, repeat. The invariant under test is the
  * operational one: `newAgainst` returns EXACTLY the rows whose content
  * the index has never seen, across multiple build/append generations. */
class DedupIndexSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  /** The shard a content routes to: the first hex nibble of its sha. */
  private def shardOf(text: String): Int = Integer.parseInt(
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      .substring(0, 1), 16)

  test("build → screen → append → re-screen finds exactly the novel rows") {
    val indexDir = java.nio.file.Files.createTempDirectory("dedup-idx").toString
    val corpus = Seq(
      (1L, "the quick brown fox"),
      (2L, "jumped over the lazy dog"),
      (3L, "the quick brown fox"), // internal dup of 1
      (4L, "pack my box with five dozen jugs")
    ).toDF("doc_id", "text")
    val indexed = DedupIndex.build(spark, corpus, indexDir)
    assert(indexed == 3, s"3 distinct contents expected, got $indexed")

    // a new batch: two dups of indexed content, two novel docs
    val batch = Seq(
      (10L, "the quick brown fox"), // dup
      (11L, "a wholly new document"), // novel
      (12L, "pack my box with five dozen jugs"), // dup
      (13L, "another unseen text") // novel
    ).toDF("doc_id", "text")
    val fresh = DedupIndex.newAgainst(spark, indexDir, batch)
    assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(11L, 13L), "screen must return exactly the novel rows")

    // append the novel rows; the same batch now yields nothing new
    DedupIndex.append(spark, indexDir, fresh)
    assert(DedupIndex.newAgainst(spark, indexDir, batch).isEmpty,
      "after append the whole batch must be known")
    // and a later batch dedups against BOTH generations
    val batch2 = Seq(
      (20L, "a wholly new document"), // dup of appended gen
      (21L, "the quick brown fox"), // dup of built gen
      (22L, "never before seen")
    ).toDF("doc_id", "text")
    val fresh2 = DedupIndex.newAgainst(spark, indexDir, batch2)
    assert(fresh2.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(22L))
  }

  test("pre-shard (bloom.bin) index migrates in place: screen and append still exact") {
    // an index persisted by the single-bloom layout has hashes/ plus
    // bloom.bin; the first touch must rebuild the shard blooms from the
    // authoritative row table instead of dying on a missing
    // blooms/shard-0.bin — the standing index's durability promise
    val indexDir = java.nio.file.Files.createTempDirectory("dedup-legacy").toString
    val corpus = Seq(
      (1L, "the quick brown fox"),
      (2L, "jumped over the lazy dog")
    ).toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, indexDir)
    // simulate the legacy layout: rows at hashes/, no shard blooms, no
    // log, a lone bloom.bin
    DedupIndexSpec.toPreLog(spark, indexDir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(indexDir, "blooms"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(indexDir, "bloom.bin"), Array[Byte](1, 2, 3))
    val batch = Seq(
      (10L, "the quick brown fox"), // dup of the pre-migration index
      (11L, "a wholly new document")
    ).toDF("doc_id", "text")
    val fresh = DedupIndex.newAgainst(spark, indexDir, batch)
    assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L),
      "migrated screen must still know the pre-shard contents")
    val migrated = DedupIndex.generation(spark, indexDir)
    assert(migrated.number == 1 && DedupIndexSpec.rows(spark, migrated) == 2 &&
      migrated.blooms.keySet == corpus.collect().map(r => shardOf(r.getString(1))).toSet,
      s"migration must commit the sharded layout: $migrated")
    DedupIndex.append(spark, indexDir, fresh)
    assert(DedupIndex.newAgainst(spark, indexDir, batch).isEmpty)
  }

  test("partial migration self-heals: crash before shard 0 re-runs in full") {
    // a migrator from before the log published shard 0 LAST, so any crash
    // left shard 0 absent and the next touch re-migrates. This simulates
    // that crash shape — a few non-zero shards landed, sentinel missing —
    // and proves the next screen rebuilds every bloom from the rows into
    // a committed generation, never serving the stranded shard files.
    val indexDir = java.nio.file.Files.createTempDirectory("dedup-crash").toString
    val corpus = Seq(
      (1L, "the quick brown fox"),
      (2L, "jumped over the lazy dog")
    ).toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, indexDir)
    // legacy layout again: shard blooms gone, lone bloom.bin present
    DedupIndexSpec.toPreLog(spark, indexDir)
    val blooms = new java.io.File(indexDir, "blooms")
    blooms.listFiles().foreach(f => assert(f.delete()))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(indexDir, "bloom.bin"), Array[Byte](1, 2, 3))
    // a migrator crashed after publishing shards 3 and 7 (stale bytes to
    // prove they are never read), before reaching shard 0
    val stale = Seq(3, 7).map { i =>
      val f = java.nio.file.Paths.get(indexDir, f"blooms/shard-$i%x.bin")
      java.nio.file.Files.write(f, Array[Byte](9, 9, 9))
      f.toString
    }
    val batch = Seq(
      (10L, "the quick brown fox"), // dup of the indexed corpus
      (11L, "a wholly new document")
    ).toDF("doc_id", "text")
    val fresh = DedupIndex.newAgainst(spark, indexDir, batch)
    assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L),
      "re-run migration must screen exactly")
    val g = DedupIndex.generation(spark, indexDir)
    assert(g.number == 1 &&
      g.blooms.keySet == corpus.collect().map(r => shardOf(r.getString(1))).toSet &&
      g.blooms.values.forall(_.startsWith(s"$indexDir/g1/blooms/")),
      s"the healed migration must commit every shard's bloom afresh: $g")
    assert(stale.forall(f => !g.blooms.values.exists(_ == f)))
  }

  test("never-built index bootstraps: screen sees everything new, first append builds") {
    // the streaming-ingestion cold start: no build() ever ran. The
    // screen must treat the empty dir as an empty index (all new, like
    // JaccardIndex.pairsAgainst), and the first append must commit
    // generation 1 with a bloom for every shard it touched
    val indexDir = java.nio.file.Files.createTempDirectory("dedup-fresh").toString + "/idx"
    val batch = Seq(
      (10L, "the quick brown fox"),
      (11L, "pack my box with five dozen jugs")
    ).toDF("doc_id", "text")
    val fresh = DedupIndex.newAgainst(spark, indexDir, batch)
    assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(10L, 11L), "empty index must screen the whole batch as new")
    DedupIndex.append(spark, indexDir, fresh)
    val g = DedupIndex.generation(spark, indexDir)
    assert(g.number == 1 && DedupIndexSpec.rows(spark, g) == 2 && g.blooms.keySet ==
      Set("the quick brown fox", "pack my box with five dozen jugs").map(shardOf),
      s"first append must commit generation 1 with the batch's shards: $g")
    assert(DedupIndex.newAgainst(spark, indexDir, batch).isEmpty,
      "after the bootstrap append the batch is known")
    val batch2 = Seq(
      (20L, "the quick brown fox"), // dup of bootstrap gen
      (21L, "never before seen")
    ).toDF("doc_id", "text")
    assert(DedupIndex.newAgainst(spark, indexDir, batch2)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(21L))
  }

  test("bootstrap crash window: blooms without rows screens as empty and heals") {
    // a bootstrap append from before the log that died between its
    // bloom publication and its row write left the sentinel present with
    // hashes/ absent — the blooms carry the crashed batch's bits but the
    // authoritative set is empty. The screen must pass everything
    // (confirm against the empty set), not throw on the missing path,
    // and the replayed append must heal the rows.
    val indexDir = java.nio.file.Files.createTempDirectory("dedup-boot").toString + "/idx"
    val batch = Seq(
      (10L, "the quick brown fox"),
      (11L, "pack my box with five dozen jugs")
    ).toDF("doc_id", "text")
    DedupIndex.append(spark, indexDir, batch) // bootstrap
    // simulate the crash: rows vanish, blooms (with the batch's bits) stay
    DedupIndexSpec.toPreLog(spark, indexDir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(indexDir, "hashes"))
    val replayed = DedupIndex.newAgainst(spark, indexDir, batch)
    assert(replayed.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(10L, 11L), "blooms-without-rows must screen everything as new")
    DedupIndex.append(spark, indexDir, replayed)
    assert(DedupIndex.newAgainst(spark, indexDir, batch).isEmpty,
      "the healed index must know the batch")
  }

  test("exact-Jaccard index: screened pairs ≡ brute force across generations") {
    val indexDir = java.nio.file.Files.createTempDirectory("jac-idx").toString
    def brute(index: Seq[(Long, String)], batch: Seq[(Long, String)]) = {
      val sh = LlmOps.shingleRows(
        (index ++ batch).toDF("doc_id", "text"), distinctPerDoc = true)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val idxIds = index.map(_._1).toSet
      val batIds = batch.map(_._1).toSet
      sh.select(col("doc_id").as("a"), col("sh"))
        .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")),
          col("sh") === col("shb"))
        .filter(col("a").isin(idxIds.toSeq: _*) &&
          col("b").isin(batIds.toSeq: _*))
        .groupBy("a", "b").agg(count(lit(1)).as("i"))
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), "a")
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), "b")
        .filter(col("i") * 5 >= (col("na") + col("nb") - col("i")) * 3)
        .select("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val gen1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"))
    JaccardIndex.build(spark, gen1.toDF("doc_id", "text"), indexDir)
    // 10 = near-dup of 1 (last token changed: 7 of 9 union shingles
    // shared, J ≈ 0.78); 11 unrelated; 12 too short for any shingle
    val batch1 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (11L, "red orange yellow green blue indigo violet white black grey pink brown"),
      (12L, "tiny doc"))
    val p1 = JaccardIndex.pairsAgainst(spark, indexDir, batch1.toDF("doc_id", "text"))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 == brute(gen1, batch1) && p1 == Set((1L, 10L)),
      s"gen-1 screen: $p1")
    JaccardIndex.append(spark, indexDir, batch1.toDF("doc_id", "text"))
    // 20 = near-dup of the APPENDED 10 (and of 1 transitively close):
    // the screen must consult BOTH generations; brute force is the judge
    val batch2 = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda xi"),
      (21L, "red orange yellow green blue indigo violet white black grey pink brown"))
    def detail(): Set[(Long, Long, Long, Long, Long)] =
      JaccardIndex.pairsAgainst(spark, indexDir, batch2.toDF("doc_id", "text"))
        .select("a", "b", "n_common", "n_a", "n_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val p2d = detail()
    val p2 = p2d.map(t => (t._1, t._2))
    assert(p2 == brute(gen1 ++ batch1, batch2), s"gen-2 screen: $p2")
    assert(p2.contains((10L, 20L)) && p2.contains((11L, 21L)), s"p2: $p2")
    // at-least-once tolerance: a replayed append duplicates stored rows;
    // the screen counts DISTINCT shingles for n_common and n_a, so
    // neither the pair set nor any verified count may move — a plain
    // count would double n_common and admit false pairs
    JaccardIndex.append(spark, indexDir, batch1.toDF("doc_id", "text"))
    assert(detail() == p2d,
      "duplicated stored rows changed the screened pairs or their counts")
  }

  test("exact-Jaccard one-pass reject set ≡ the sequential within-then-index screen") {
    val indexDir = java.nio.file.Files.createTempDirectory("jac-rejects").toString
    // 40-token docs: one changed token keeps J = 31/41 ≥ 3/5, two
    // changed tokens far apart give J = 26/46 < 3/5
    def doc(prefix: String): String = (1 to 40).map(i => s"$prefix$i").mkString(" ")
    def edit(text: String, at: Int, word: String): String =
      text.split(" ").updated(at - 1, word).mkString(" ")
    val x = doc("xray")
    JaccardIndex.build(spark,
      Seq((100L, x), (101L, doc("yankee"))).toDF("doc_id", "text"), indexDir)
    val a = doc("alpha")
    val b = edit(a, 10, "b10")
    val batch = Seq(
      // a within-batch chain 1 ~ 2 ~ 3 with 1 !~ 3: both 2 and 3 lose
      (1L, a), (2L, b), (3L, edit(b, 30, "c30")),
      // 5 and 6 both match indexed 100; 6 also loses to 5 within the batch
      (5L, edit(x, 10, "d10")), (6L, edit(x, 10, "e10")),
      (7L, doc("zulu")), (8L, "tiny doc")).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    def sequential(): Set[Long] = {
      val losers = JaccardIndex.pairsWithin(batch).select(col("b").as("doc_id"))
      val survivors = batch.join(losers, Seq("doc_id"), "left_anti")
      ids(losers) ++ ids(JaccardIndex.pairsAgainst(spark, indexDir, survivors).select("b"))
    }
    def fused(): Set[Long] = {
      val sh = JaccardIndex.shingleSets(batch).localCheckpoint(true)
      ids(JaccardIndex.rejects(spark, indexDir, sh))
    }
    val expected = Set(2L, 3L, 5L, 6L)
    assert(sequential() == expected, s"sequential: ${sequential()}")
    assert(fused() == expected, s"fused: ${fused()}")
    // a replay: the index already holds the batch's survivors. Their
    // self-matches stay excluded (a ≠ b) and survivors are pairwise
    // below τ, so neither formula's reject set moves
    JaccardIndex.append(spark, indexDir,
      batch.filter(!col("doc_id").isin(expected.toSeq: _*)))
    assert(sequential() == expected, s"sequential replay: ${sequential()}")
    assert(fused() == expected, s"fused replay: ${fused()}")
  }

  test("exact-Jaccard side tags: the one chain ≡ the sequential set on colliding ids and shared matches") {
    // stored rows probe as src 0 (a ≠ b), the batch's own as src 1
    // (a < b): a stored doc with a LARGER id than its batch match must
    // still reject it, a within-batch pair that also matches a stored doc
    // rejects both, and a replay's stored copies of the survivors (same
    // doc_id, same text) must not match themselves
    val indexDir = java.nio.file.Files.createTempDirectory("jac-sides").toString
    def doc(prefix: String): String = (1 to 40).map(i => s"$prefix$i").mkString(" ")
    def edit(text: String, at: Int, word: String): String =
      text.split(" ").updated(at - 1, word).mkString(" ")
    val x = doc("xray")
    val kilo = doc("kilo")
    JaccardIndex.build(spark, Seq((100L, x), (101L, doc("yankee")), (9L, kilo))
      .toDF("doc_id", "text"), indexDir)
    val a = doc("alpha")
    val batch = Seq(
      (1L, a), (2L, edit(a, 10, "b10")), (3L, edit(edit(a, 10, "b10"), 30, "c30")),
      // a within-batch pair whose shingles also match stored 100
      (5L, edit(x, 10, "d10")), (6L, edit(x, 10, "e10")),
      (7L, doc("zulu")),
      // matches stored 9: an index pair with a > b
      (8L, edit(kilo, 20, "k20"))).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    def sequential(): Set[Long] = {
      val losers = JaccardIndex.pairsWithin(batch).select(col("b").as("doc_id"))
      val survivors = batch.join(losers, Seq("doc_id"), "left_anti")
      ids(losers) ++ ids(JaccardIndex.pairsAgainst(spark, indexDir, survivors).select("b"))
    }
    def oneChain(): Set[Long] = {
      val sh = JaccardIndex.shingleSets(batch).localCheckpoint(true)
      try ids(JaccardIndex.rejects(spark, indexDir, sh))
      finally LlmOps.dropCheckpoint(sh)
    }
    val expected = Set(2L, 3L, 5L, 6L, 8L)
    assert(sequential() == expected, s"sequential: ${sequential()}")
    assert(oneChain() == expected, s"one chain: ${oneChain()}")
    // the replay: the Jaccard append landed, so the survivors' doc_ids
    // are stored AND in the batch
    JaccardIndex.append(spark, indexDir,
      batch.filter(!col("doc_id").isin(expected.toSeq: _*)))
    assert(sequential() == expected, s"sequential replay: ${sequential()}")
    assert(oneChain() == expected, s"one chain replay: ${oneChain()}")
  }

  test("NULL-text docs dedup instead of being re-admitted every batch") {
    // sha2(NULL) is NULL and NULL = NULL never matches the confirm join —
    // without the coalesce a NULL-text doc would screen as "new" forever
    // and the index would grow a duplicate row per batch
    val indexDir = java.nio.file.Files.createTempDirectory("dedup-null").toString
    val corpus = Seq((1L, Option("real text")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    assert(DedupIndex.build(spark, corpus, indexDir) == 2)
    val batch = Seq((10L, Option.empty[String]), (11L, Option("novel")))
      .toDF("doc_id", "text")
    val fresh = DedupIndex.newAgainst(spark, indexDir, batch)
    assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L),
      "the NULL-text doc must match the indexed NULL-text content")
    // the screen output carries ONLY the caller's columns (no sha/h leak)
    assert(fresh.columns.toSeq == Seq("doc_id", "text"))
  }

  test("bloom screen keeps definite-new rows away from the confirm join") {
    // structural guarantee: rows failing the bloom take the no-join arm.
    // With 500 novel docs and 1% fpp, at most a handful may false-positive
    // into the confirm join — the join input must stay ~the dup rate, not
    // the batch size.
    val indexDir = java.nio.file.Files.createTempDirectory("dedup-idx2").toString
    val corpus = graft.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    DedupIndex.build(spark, corpus, indexDir)
    val novel = spark.range(500)
      .select(col("id").as("doc_id"),
        concat(lit("novel-"), col("id")).as("text"))
    val fresh = DedupIndex.newAgainst(spark, indexDir, novel)
    assert(fresh.count() == 500, "novel batch must come back whole")
    // all-dup batch: everything returns through the confirm join, nothing
    // survives
    val dups = corpus.limit(50)
    assert(DedupIndex.newAgainst(spark, indexDir, dups).isEmpty)
  }

  test("sharded blooms: append locks/rewrites only the touched shards") {
    val indexDir = java.nio.file.Files.createTempDirectory("dedup-shard").toString
    val corpus = (1L to 60L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, indexDir)
    // every shard the corpus touches has its bloom after build
    val built = DedupIndex.generation(spark, indexDir)
    assert(built.blooms.keySet == (1 to 60).map(i => shardOf(s"doc number $i")).toSet)

    // one novel doc routes to exactly one shard (first hex nibble of sha)
    val novelText = "a single novel appendix document"
    val expectShard = shardOf(novelText)
    DedupIndex.append(spark, indexDir, Seq((100L, novelText)).toDF("doc_id", "text"))
    val appended = DedupIndex.generation(spark, indexDir)
    (0 until DedupIndex.Shards).foreach { i =>
      if (i == expectShard)
        assert(appended.blooms.get(i).contains(f"$indexDir/g2/blooms/shard-$i%x.bin"),
          s"shard $i should have been rewritten: ${appended.blooms.get(i)}")
      else assert(appended.blooms.get(i) == built.blooms.get(i),
        s"shard $i untouched by the batch must not be rewritten")
    }
    // the appended doc now screens as known; novelty still exact
    val batch = Seq((200L, novelText), (201L, "still unseen")).toDF("doc_id", "text")
    assert(DedupIndex.newAgainst(spark, indexDir, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(201L))
  }

  test("same-JVM concurrent appends serialize instead of crashing") {
    // FileChannel.lock is process-level: without the per-path JVM monitor a
    // second same-JVM appender hits OverlappingFileLockException. Hammer
    // one index from 4 threads; every append must land.
    val indexDir = java.nio.file.Files.createTempDirectory("dedup-conc").toString
    DedupIndex.build(spark, Seq((0L, "seed doc")).toDF("doc_id", "text"), indexDir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence((1 to 4).map(t => Future {
      DedupIndex.append(spark, indexDir,
        (1 to 5).map(i => (t * 100L + i, s"thread $t doc $i"))
          .toDF("doc_id", "text"))
    })), 120.seconds)
    // all 20 appended contents are now known (screen returns nothing)
    val all = (1 to 4).flatMap(t => (1 to 5).map(i =>
      (t * 1000L + i, s"thread $t doc $i"))).toDF("doc_id", "text")
    assert(DedupIndex.newAgainst(spark, indexDir, all).isEmpty,
      "every concurrently-appended content must be indexed")
  }

  test("a screen still evaluates after a republish and a later screen replace its blooms") {
    // newAgainst is lazy and its filter reads the resident bloom
    // broadcast in its tasks; the next screen after an append reloads
    // the blooms, and the replaced broadcast must stay readable
    val indexDir = java.nio.file.Files.createTempDirectory("dedup-republish").toString
    DedupIndex.build(spark, Seq((1L, "an indexed doc")).toDF("doc_id", "text"), indexDir)
    val first = DedupIndex.newAgainst(spark, indexDir,
      Seq((10L, "an indexed doc"), (11L, "a fresh doc")).toDF("doc_id", "text"))
    DedupIndex.append(spark, indexDir,
      Seq((2L, "an appended doc")).toDF("doc_id", "text"))
    assert(DedupIndex.newAgainst(spark, indexDir,
      Seq((20L, "an appended doc")).toDF("doc_id", "text")).isEmpty)
    assert(first.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L))
  }

  test("near-dup index: screening composes exactly with inline discovery") {
    val indexDir = java.nio.file.Files.createTempDirectory("neardup-idx").toString
    val docs = graft.Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val gen1 = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    NearDupIndex.build(spark, gen1, indexDir)

    def norm(df: org.apache.spark.sql.DataFrame, c1: String, c2: String) =
      df.select(least(col(c1), col(c2)).as("x"),
          greatest(col(c1), col(c2)).as("y"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // the composition identity the index exists for:
    // pairs(old ∪ batch) = pairs(old) ∪ pairs(batch) ∪ cross-screen
    val whole = norm(NearDupIndex.pairsWithin(docs), "a", "b")
    val gen1P = norm(NearDupIndex.pairsWithin(gen1), "a", "b")
    val batchP = norm(NearDupIndex.pairsWithin(batch), "a", "b")
    val cross = norm(
      NearDupIndex.candidatesAgainst(spark, indexDir, batch),
      "new_id", "index_id")
    assert(gen1P.union(batchP).union(cross) == whole,
      "index screening must reproduce inline discovery exactly")

    // an exact copy of an indexed doc MUST collide (identical signatures)
    val probe = gen1.limit(1).select(lit(99999L).as("doc_id"), col("text"))
    val hits = NearDupIndex.candidatesAgainst(spark, indexDir, probe)
    assert(hits.filter(col("new_id") === 99999L).count() >= 1,
      "exact copy of indexed content must be screened as a candidate")

    // append the batch: re-screening it now also surfaces its internal
    // pairs (batch-vs-batch through the stored signatures), nothing more
    NearDupIndex.append(spark, indexDir, batch)
    val cross2 = norm(
      NearDupIndex.candidatesAgainst(spark, indexDir, batch),
      "new_id", "index_id")
    assert(cross2 == cross.union(batchP),
      "post-append screen = pre-append cross + batch-internal pairs")
    spark.catalog.clearCache()
  }

  test("near-dup screen lets a fatal error from the stored-size probe propagate") {
    // the join-side choice reads the stored signatures' size; a fatal JVM
    // error there must surface, not turn into the broadcast-side decision
    val indexDir = java.nio.file.Files.createTempDirectory("nd-fatal").toString
    val docs = graft.Tables.t(spark, sfDir, "documents").select("doc_id", "text")
    NearDupIndex.build(spark, docs, indexDir)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.fatalsummary.impl", classOf[FatalSummaryFileSystem].getName)
    hc.setBoolean("fs.fatalsummary.impl.disable.cache", true)
    try {
      val e = intercept[LinkageError] {
        NearDupIndex.candidatesAgainst(spark, s"fatalsummary://$indexDir",
          docs.limit(10))
      }
      assert(e.getMessage == FatalSummaryFileSystem.Message)
    } finally {
      hc.unset("fs.fatalsummary.impl")
      hc.unset("fs.fatalsummary.impl.disable.cache")
    }
  }
}

/** The local filesystem on the `fatalsummary` scheme, except that
  * getContentSummary throws a fatal JVM error. */
class FatalSummaryFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("fatalsummary:///")
  override def getContentSummary(
      f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.ContentSummary =
    throw new LinkageError(FatalSummaryFileSystem.Message)
}

object FatalSummaryFileSystem {
  val Message = "getContentSummary failed fatally"
}

object DedupIndexSpec {

  /** Rewrite a one-generation index into the layout a build from before
    * the generation log left: hashes/ and all 16 blooms/shard-<i>.bin
    * (an empty bloom for a shard without rows), and no log. */
  /** The rows generation `g` lists, counted from its `hashes` files. */
  def rows(spark: org.apache.spark.sql.SparkSession, g: DedupIndex.Generation): Long =
    spark.read.parquet(g.hashes: _*).count()

  def toPreLog(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val g = DedupIndex.generation(spark, dir)
    require(g.number == 1, s"$dir is at generation ${g.number}")
    Files.move(Paths.get(dir, "g1/hashes"), Paths.get(dir, "hashes"))
    Files.createDirectories(Paths.get(dir, "blooms"))
    (0 until DedupIndex.Shards).foreach { i =>
      val target = Paths.get(dir, f"blooms/shard-$i%x.bin")
      g.blooms.get(i) match {
        case Some(f) => Files.copy(Paths.get(f), target)
        case None =>
          val out = Files.newOutputStream(target)
          try org.apache.spark.util.sketch.BloomFilter
            .create(DedupIndex.ShardCapacity, 0.01).writeTo(out)
          finally out.close()
      }
    }
    Seq("_gen", "g1").foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir, d)))
  }
}
