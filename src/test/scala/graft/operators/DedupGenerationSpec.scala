package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** DedupIndex's generation log ([[IndexGenerations]]): a screen reads the
  * newest complete manifest and exactly the rows and bloom files it
  * lists. */
class DedupGenerationSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private val corpus = (1L to 40L).map(i => (i, s"indexed document $i"))
  private val extra = (100L to 119L).map(i => (i, s"appended document $i"))

  private def docs(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")

  /** The doc_ids of `probe` the index at `dir` screens as new. */
  private def novel(dir: String, probe: Seq[(Long, String)] = corpus ++ extra): Set[Long] =
    DedupIndex.newAgainst(spark, dir, docs(probe))
      .select("doc_id").collect().map(_.getLong(0)).toSet

  private val extraIds = extra.map(_._1).toSet

  private def rows(g: DedupIndex.Generation): Long = DedupIndexSpec.rows(spark, g)

  private def built(tag: String): String = {
    val dir = Files.createTempDirectory(tag).toString
    assert(DedupIndex.build(spark, docs(corpus), dir) == corpus.size)
    dir
  }

  private def copyTree(from: String, to: String): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(from), new java.io.File(to))

  test("a half-written manifest with no trailer is skipped: the previous generation serves") {
    val idx = built("dedup-gen-torn")
    DedupIndex.append(spark, idx, docs(extra))
    assert(DedupIndex.generation(spark, idx).number == 2 && novel(idx).isEmpty)
    // generation 2's commit torn mid-write: its trailer never landed
    val lines = Files.readAllLines(Paths.get(s"$idx/_gen/2"))
    assert(lines.get(lines.size - 1) == "end\t2")
    Files.deleteIfExists(Paths.get(s"$idx/_gen/.2.crc"))
    Files.write(Paths.get(s"$idx/_gen/2"), lines.subList(0, lines.size - 1))
    assert(DedupIndex.generation(spark, idx).number == 1)
    assert(novel(idx) == extraIds, "a torn manifest must not be served")
    // the next commit takes the number after the torn one, never over it
    DedupIndex.append(spark, idx, docs(extra.take(5)))
    val g = DedupIndex.generation(spark, idx)
    assert(g.number == 3 && rows(g) == corpus.size + 5, s"$g")
    assert(novel(idx) == extraIds -- extra.take(5).map(_._1))
  }

  test("a crash before the commit leaves the previous generation serving; the re-run commits the same N") {
    val idx = built("dedup-gen-crash")
    object Boom extends RuntimeException("crash before the commit")
    DedupIndex.crashProbe = p => if (p == "before_commit") throw Boom
    try intercept[Boom.type](DedupIndex.append(spark, idx, docs(extra)))
    finally DedupIndex.crashProbe = _ => ()
    // the crashed run wrote generation 2's files, and no reader sees them
    assert(Files.exists(Paths.get(s"$idx/g2/hashes")) &&
      Files.exists(Paths.get(s"$idx/g2/blooms")))
    assert(DedupIndex.generation(spark, idx).number == 1)
    assert(novel(idx) == extraIds, "an uncommitted generation must not screen")
    DedupIndex.append(spark, idx, docs(extra))
    val g = DedupIndex.generation(spark, idx)
    assert(g.number == 2 && rows(g) == corpus.size + extra.size, s"$g")
    assert(novel(idx).isEmpty)
  }

  test("bloom and hash files written outside a commit never screen") {
    val idx = built("dedup-gen-stray")
    val g = DedupIndex.generation(spark, idx)
    // a twin that did append the extra docs lends its files: its rows and
    // blooms land in idx's committed table directories, in generation 0's
    // fixed paths, and as an uncommitted generation 2
    val twin = s"${Files.createTempDirectory("dedup-gen-twin")}/twin"
    copyTree(idx, twin)
    DedupIndex.append(spark, twin, docs(extra))
    assert(novel(twin).isEmpty)
    copyTree(s"$twin/g2/hashes", s"$idx/g1/hashes")
    copyTree(s"$twin/g2/hashes", s"$idx/hashes")
    copyTree(s"$twin/g2/blooms", s"$idx/blooms")
    copyTree(s"$twin/g2", s"$idx/g2")
    assert(DedupIndex.generation(spark, idx) == g)
    assert(novel(idx) == extraIds, "files outside a commit screened")
  }

  test("a generation-0 directory serves as before, and its first append commits generation 1 with unchanged answers") {
    val idx = built("dedup-gen-legacy")
    val twin = s"${Files.createTempDirectory("dedup-gen-ref")}/ref"
    copyTree(idx, twin)
    // what a build from before the log left: hashes/, 16 blooms, no log
    DedupIndexSpec.toPreLog(spark, idx)
    val g0 = DedupIndex.generation(spark, idx)
    assert(g0.number == 0 && g0.blooms.size == DedupIndex.Shards)
    assert(novel(idx) == extraIds, "generation 0 must serve the fixed paths")
    DedupIndex.append(spark, idx, docs(extra.take(10)))
    DedupIndex.append(spark, twin, docs(extra.take(10)))
    val g1 = DedupIndex.generation(spark, idx)
    assert(Files.exists(Paths.get(s"$idx/_gen/1")))
    assert(g1.number == 1 && rows(g1) == corpus.size + 10, s"$g1")
    assert(g1.hashes.exists(_.startsWith(s"$idx/hashes/")) &&
      g1.hashes.exists(_.startsWith(s"$idx/g1/hashes/")),
      "generation 1 must list the fixed rows and the batch")
    val probe = corpus ++ extra ++ Seq((999L, "never indexed"))
    assert(novel(idx, probe) == novel(twin, probe) &&
      novel(idx, probe) == extraIds -- extra.take(10).map(_._1) + 999L)
  }

  test("a warm screen opens no bloom file") {
    val idx = built("dedup-gen-warm")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countopen.impl", classOf[CountingOpenFileSystem].getName)
    hc.setBoolean("fs.countopen.impl.disable.cache", true)
    try {
      val url = s"countopen://$idx"
      def opens(body: => Unit): Int = {
        CountingOpenFileSystem.bloomOpens.set(0)
        body
        CountingOpenFileSystem.bloomOpens.get
      }
      def screen(): Set[Long] = DedupIndex.newAgainst(spark, url, docs(corpus ++ extra))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val cold = opens(assert(screen() == extraIds))
      assert(cold == DedupIndex.generation(spark, idx).blooms.size,
        s"a cold screen opened $cold bloom files")
      assert(opens(assert(screen() == extraIds)) == 0,
        "a warm screen opened bloom files")
      // a commit changes the manifest: the next screen loads its blooms
      DedupIndex.append(spark, idx, docs(extra))
      assert(opens(assert(screen().isEmpty)) > 0)
      assert(opens(assert(screen().isEmpty)) == 0)
    } finally {
      hc.unset("fs.countopen.impl")
      hc.unset("fs.countopen.impl.disable.cache")
    }
  }

  test("appends reclaim what no generation serves: two blooms a shard, a rewritten rows list, the previous generation whole") {
    val idx = built("dedup-gen-reclaim")
    // a low listing threshold, so a handful of appends reaches a rewrite
    val threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(threshold, "4")
    try {
      def onDisk(name: String => Boolean): Long = Files.walk(Paths.get(idx))
        .filter(p => Files.isRegularFile(p) && name(p.getFileName.toString)).count()
      var prev = DedupIndex.generation(spark, idx)
      var rewrites = 0
      for ((b, k) <- extra.grouped(2).zipWithIndex) {
        DedupIndex.append(spark, idx, docs(b))
        val g = DedupIndex.generation(spark, idx)
        val own = g.hashes.count(_.startsWith(s"$idx/g${g.number}/hashes/"))
        if (own == g.hashes.size) rewrites += 1
        // a screen that read the previous manifest can still open its files
        assert((prev.hashes ++ prev.blooms.values).forall(f => Files.exists(Paths.get(f))),
          s"append $k deleted files of the generation it replaced")
        assert(onDisk(n => n.startsWith("shard-")) <= 2 * DedupIndex.Shards,
          s"append $k left ${onDisk(n => n.startsWith("shard-"))} bloom files")
        assert(onDisk(n => n.forall(_.isDigit)) <= 2, s"append $k left old manifests")
        // the list passes the threshold only while the files appended
        // since the last rewrite (the build, or a rewrite: the head of
        // the list) do not outnumber the rewrite's own
        val head = g.hashes.head.take(g.hashes.head.lastIndexOf('/') + 1)
        val base = g.hashes.count(_.startsWith(head))
        assert(g.hashes.size < math.max(4, 2 * base) + own,
          s"append $k left ${g.hashes.size} rows files")
        assert(rows(g) == corpus.size + 2 * (k + 1))
        prev = g
      }
      assert(rewrites > 0, "no append rewrote the rows list")
      val probe = corpus ++ extra ++ Seq((999L, "never indexed"))
      assert(novel(idx, probe) == Set(999L))
    } finally spark.conf.unset(threshold)
  }
}

/** The local filesystem on the `countopen` scheme, counting the opens of
  * shard bloom files. */
class CountingOpenFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countopen:///")
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName.startsWith("shard-")) CountingOpenFileSystem.bloomOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingOpenFileSystem {
  val bloomOpens = new java.util.concurrent.atomic.AtomicInteger
}
