package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.{FakeGcs, GcsAuth, GcsRefRegistry, PufsFileSystem,
  RemoteSnapshotRepo, SnapshotStore}
import org.apache.spark.sql.functions._

/** The standing indexes are scheme-portable: every path they touch goes
  * through the Hadoop FileSystem of the indexDir's scheme (the fsFor
  * seam), so an index can live on a pufs:// mount, and an index tree
  * published + pushed to a remote registry label answers queries
  * identically after the pull. Local-path specs prove semantics;
  * THIS spec proves the non-local claim those scaladocs make. */
class IndexPortabilitySpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private def pufsRoot(tag: String): String = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
    hc.set("fs.pufs.backing",
      Files.createTempDirectory(s"$tag-backing").toString)
    hc.set("fs.pufs.cache", Files.createTempDirectory(s"$tag-cache").toString)
    hc.set("fs.pufs.impl.disable.cache", "true")
    s"pufs:///$tag"
  }

  test("DedupIndex lives on a pufs:// mount: build, screen, append, re-screen") {
    val indexDir = pufsRoot("dedup-idx")
    val corpus = Seq(
      (1L, "alpha content"), (2L, "beta content"), (3L, "alpha content")
    ).toDF("doc_id", "text")
    assert(DedupIndex.build(spark, corpus, indexDir) == 2)
    // the generation and its bloom shards landed behind the scheme, not
    // on a literal local path
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/_gen/1")))
    val blooms = DedupIndex.generation(spark, indexDir).blooms.values
    assert(blooms.nonEmpty &&
      blooms.forall(f => fs.exists(new org.apache.hadoop.fs.Path(f))))
    assert(!Files.exists(Paths.get("pufs:")),
      "a java.nio fallback wrote a local dir literally named pufs:")

    val batch = Seq(
      (10L, "alpha content"), (11L, "novel one"), (12L, "novel two")
    ).toDF("doc_id", "text")
    val fresh = DedupIndex.newAgainst(spark, indexDir, batch)
    assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(11L, 12L))
    DedupIndex.append(spark, indexDir, fresh)
    assert(DedupIndex.newAgainst(spark, indexDir, batch).isEmpty,
      "appended contents must screen as known through the pufs scheme")
  }

  test("AnnIndex built on pufs:// answers identically to the local build") {
    val localDir = Files.createTempDirectory("ann-local").toString
    val remoteDir = pufsRoot("ann-idx")
    AnnIndex.build(spark, sfDir, localDir)
    AnnIndex.build(spark, sfDir, remoteDir)
    def answers(dir: String) =
      AnnIndex.query(spark, dir, nProbes = 10, k = 5)
        .collect().map(_.toSeq).toSet
    assert(answers(remoteDir) == answers(localDir),
      "the pufs-resident index must serve the same neighbors")
  }

  /** VERDICT r15 #5: the standing-index machinery and the snapshot/CAS
    * machinery it sits beside, closed into one loop — a ROUTED AnnIndex
    * with one appended generation (flat tables + IVFPQ sidecar + the
    * generation log, which records the sidecar's fitted size) is ONE write-once
    * tree, so one publish freezes all of it under a single snapshot
    * manifest and a consumer mounting the label gets an index that
    * routes and serves byte-identically. The atomicity claim is the
    * snapshot manifest's: there is no label state where the flat tables
    * arrive without the sidecar, or a generation's tables without its
    * log entry. */
  test("routed AnnIndex publishes to a label; mount serves byte-identically with sidecar + fit marker") {
    val key = AnnIndex.FlatMaxBucketRowsKey
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "0") // tiny corpus routes like a 10^9-vector one
      val dirA = Files.createTempDirectory("ann-pub-src").toString
      AnnIndex.build(spark, sfDir, dirA)
      assert(AnnIndex.chosenArm(spark, dirA) == "ivfpq",
        "precondition: source index must be routing")
      AnnIndex.append(spark, dirA, spark.read.parquet(s"$dirA/vectors")
        .filter(col("vec_id") < 10)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding")))
      assert(AnnIndex.generation(spark, dirA).number == 2,
        "precondition: source index must hold two generations")

      val repo = Files.createTempDirectory("ann-pub-repo").toString
      SnapshotStore.publish(dirA, repo, "ann-idx")

      // consumer ("another host"): mount the label, materialize a replica
      val entries = SnapshotStore.mount(repo, "ann-idx")
      assert(entries.exists(_.path.startsWith("signatures/")))
      assert(entries.exists(_.path.startsWith("ivfpq/centroids/")),
        "sidecar must ride the same manifest as the flat tables")
      assert(AnnIndex.generation(spark, dirA).ivfpq.get._2.fitted.contains(500L),
        "the generation must record the sidecar's fitted size")
      assert(Seq("_gen/1", "_gen/2").forall(p => entries.exists(_.path == p)) &&
        entries.exists(_.path.startsWith("g2/ivfpq/codes/")),
        "the generation log and the appended tables must ride the manifest")
      val dirB = Files.createTempDirectory("ann-pub-dst").toString
      entries.foreach { e =>
        val dst = Paths.get(dirB, e.path)
        Files.createDirectories(dst.getParent)
        Files.write(dst, SnapshotStore.readBlock(repo, e.sha256))
        ()
      }

      // the mounted replica routes, carries the same fitted size, and
      // serves the exact bytes of the source's answers
      assert(AnnIndex.chosenArm(spark, dirB) == "ivfpq",
        "mounted replica must route through its sidecar")
      assert(AnnIndex.generation(spark, dirB).number == 2)
      assert(AnnIndex.generation(spark, dirB).ivfpq.get._2.fitted ==
        AnnIndex.generation(spark, dirA).ivfpq.get._2.fitted)
      def served(dir: String) = AnnIndex
        .query(spark, dir, nProbes = 10, k = 5)
        .collect().map(_.toSeq).toSeq
      assert(served(dirB) == served(dirA),
        "label-distributed index must serve identically to the source")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("NearDupIndex round-trips a remote registry label intact") {
    val keyPair = {
      val g = java.security.KeyPairGenerator.getInstance("RSA")
      g.initialize(2048)
      g.generateKeyPair()
    }
    val srv = new FakeGcs(keyPair)
    try {
      val reg = new GcsRefRegistry(srv.endpoint, "bkt", "idx/",
        new GcsAuth.TokenProvider(srv.account))
      val docs = graft.Tables.t(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val gen1 = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)

      // producer: build locally, publish the index TREE, push the label
      val dirA = Files.createTempDirectory("neardup-src").toString
      NearDupIndex.build(spark, gen1, dirA)
      val repo = Files.createTempDirectory("neardup-repo").toString
      SnapshotStore.publish(dirA, repo, "neardup")
      RemoteSnapshotRepo.push(repo, "neardup", reg, "neardup")

      // consumer: mount the label, pull every entry, query the replica
      val dirB = Files.createTempDirectory("neardup-pulled").toString
      val cache = Files.createTempDirectory("neardup-cache").toString
      val (_, entries) = RemoteSnapshotRepo.mount(reg, "neardup")
      entries.foreach { e =>
        val dst = Paths.get(dirB, e.path)
        Files.createDirectories(dst.getParent)
        val buf = new Array[Byte](e.size.toInt)
        if (e.size > 0) {
          val in = RemoteSnapshotRepo.openFile(reg, e, cache, chunkSize = 64 * 1024)
          try in.readFully(0L, buf, 0, buf.length) finally in.close()
        }
        Files.write(dst, buf)
      }
      def pairs(dir: String) =
        NearDupIndex.candidatesAgainst(spark, dir, batch)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = pairs(dirB)
      assert(got == pairs(dirA),
        "registry-distributed index must screen identically to the source")
      assert(got.nonEmpty, "fixture must actually produce candidates")
    } finally srv.stop()
  }
}
