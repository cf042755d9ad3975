package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Commit/publish/mount round trip — the reference's TestFreezePush
  * (core/functional_test.go:174-214): create → publish(label) → mount from
  * a fresh view → content equality; plus idempotence and label repoint. */
class SnapshotSpec extends SparkSpec {

  private def mkTree(): String = {
    val src = Files.createTempDirectory("snap-src").toString
    Files.createDirectories(Paths.get(src, "sub"))
    Files.write(Paths.get(src, "a.txt"), "alpha".getBytes)
    Files.write(Paths.get(src, "sub/b.txt"), "beta".getBytes)
    Files.write(Paths.get(src, "sub/c.bin"), Array.tabulate(5000)(i => (i % 251).toByte))
    src
  }

  /** A snapshot's zone map as (path, column, min, max) tuples. */
  private def zones(repo: String, ref: String): Set[(String, String, Double, Double)] =
    SnapshotStore.zoneMapDF(spark, repo, ref).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .toSet

  /** The manifest paths a range probe on `column` keeps. */
  private def pruned(repo: String, ref: String, column: String, lo: Double,
      hi: Double): Seq[String] =
    SnapshotStore.prunedFilesDF(spark, repo, ref, column, lo, hi)
      .collect().map(_.getString(0)).toSeq

  test("publish → mount round trip preserves every byte") {
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-repo").toString
    val (sha, uploaded) = SnapshotStore.publish(src, repo, "main")
    assert(uploaded == 4) // 3 files + 1 manifest
    val entries = SnapshotStore.mount(repo, "main")
    assert(entries.map(_.path) == Seq("a.txt", "sub/b.txt", "sub/c.bin"))
    entries.foreach { e =>
      val orig = Files.readAllBytes(Paths.get(src, e.path))
      assert(java.util.Arrays.equals(SnapshotStore.readBlock(repo, e.sha256), orig),
        s"content mismatch for ${e.path}")
      assert(e.size == orig.length)
    }
    assert(SnapshotStore.getRoot(repo, "main").contains(sha))
  }

  test("re-publish of unchanged tree uploads nothing (CAS idempotence)") {
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-repo2").toString
    val (sha1, up1) = SnapshotStore.publish(src, repo, "main")
    val (sha2, up2) = SnapshotStore.publish(src, repo, "main")
    assert(sha1 == sha2, "identical tree must freeze to the same root")
    assert(up1 == 4 && up2 == 0, s"expected 0 re-uploads, got $up2")
  }

  test("label repoints atomically; old snapshot stays readable by sha") {
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-repo3").toString
    val (sha1, _) = SnapshotStore.publish(src, repo, "main")
    Files.write(Paths.get(src, "a.txt"), "alpha-v2".getBytes)
    val (sha2, up2) = SnapshotStore.publish(src, repo, "main")
    assert(sha1 != sha2)
    assert(up2 == 2, s"only changed file + new manifest should upload, got $up2")
    assert(SnapshotStore.getRoot(repo, "main").contains(sha2))
    // old manifest still dereferenceable — snapshot isolation
    val oldManifest = new String(SnapshotStore.readBlock(repo, sha1), "UTF-8")
    assert(oldManifest.contains("a.txt"))
  }

  test("snapshot as catalog DataFrame") {
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-repo4").toString
    SnapshotStore.publish(src, repo, "main")
    val df = SnapshotStore.asDataFrame(spark, repo, "main")
    assert(df.columns.sorted.toSeq == Seq("path", "sha256", "size"))
    assert(df.count() == 3)
  }

  test("incremental republish: 0 hashes and 0 uploads on an unchanged tree") {
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-repo5").toString
    val s1 = SnapshotStore.publish(spark, src, repo, "main")
    assert(s1.hashed == 3 && s1.uploaded == 4)
    val s2 = SnapshotStore.publish(spark, src, repo, "main")
    assert(s2.manifestSha == s1.manifestSha)
    assert(s2.hashed == 0, s"republish re-hashed ${s2.hashed} clean files")
    assert(s2.uploaded == 0, s"republish re-uploaded ${s2.uploaded} blocks")
    // touch ONE file: publish cost is O(changed), not O(tree)
    Files.write(Paths.get(src, "a.txt"), "alpha-v3".getBytes)
    val s3 = SnapshotStore.publish(spark, src, repo, "main")
    assert(s3.hashed == 1, s"expected 1 re-hash, got ${s3.hashed}")
    assert(s3.uploaded == 2, s"changed block + new manifest, got ${s3.uploaded}")
  }

  test("distributed publish (Spark-task hashing) matches driver-side publish") {
    val src = mkTree()
    val repoA = Files.createTempDirectory("snap-repoA").toString
    val repoB = Files.createTempDirectory("snap-repoB").toString
    val (shaSeq, _) = SnapshotStore.publish(src, repoA, "main")
    val statsPar = SnapshotStore.publish(spark, src, repoB, "main")
    assert(statsPar.manifestSha == shaSeq,
      "task-hashed manifest differs from driver-hashed manifest")
    assert(statsPar.uploaded == 4 && statsPar.hashed == 3)
  }

  test("diff reports exactly what a publish changed, by content not mtime") {
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-diff").toString
    val (sha1, _) = SnapshotStore.publish(src, repo, "main")
    // change one, remove one, add one; touch mtime of an unchanged file
    Files.write(Paths.get(src, "a.txt"), "alpha-v2".getBytes)
    Files.delete(Paths.get(src, "sub/b.txt"))
    Files.write(Paths.get(src, "sub/d.txt"), "delta".getBytes)
    Paths.get(src, "sub/c.bin").toFile.setLastModified(System.currentTimeMillis())
    val (sha2, _) = SnapshotStore.publish(src, repo, "main")
    val d = SnapshotStore.diff(repo, sha1, sha2)
      .map(e => e.path -> e.status).toMap
    assert(d == Map("a.txt" -> "changed", "sub/b.txt" -> "removed",
      "sub/d.txt" -> "added"), d.toString)
    // label refs resolve too; identical refs diff empty
    assert(SnapshotStore.diff(repo, "main", "main").isEmpty)
    assert(SnapshotStore.diff(repo, sha1, "main").map(_.path).toSet ==
      Set("a.txt", "sub/b.txt", "sub/d.txt"))
  }

  test("mount by sha: a superseded snapshot time-travels after label repoint") {
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-tt").toString
    val (sha1, _) = SnapshotStore.publish(src, repo, "main")
    Files.write(Paths.get(src, "a.txt"), "alpha-v2".getBytes)
    val (sha2, _) = SnapshotStore.publish(src, repo, "main")
    assert(sha1 != sha2)
    // label resolves to v2; the OLD manifest sha mounts v1 (reference
    // mount-by-BID, core/nodedb.go:522-555)
    PufsFileSystem.mountSnapshotAt("tt/v1", repo, sha1)
    PufsFileSystem.mountSnapshot("tt/live", repo, "main")
    try {
      def readThrough(p: String): String = {
        val conf = new org.apache.hadoop.conf.Configuration()
        conf.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
        conf.set("fs.pufs.backing", Files.createTempDirectory("tt-back").toString)
        conf.set("fs.pufs.cache", Files.createTempDirectory("tt-cache").toString)
        conf.setBoolean("fs.pufs.impl.disable.cache", true)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          java.net.URI.create("pufs:///"), conf)
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(p))
        val buf = new Array[Byte](st.getLen.toInt)
        val in = fs.open(new org.apache.hadoop.fs.Path(p))
        in.readFully(0L, buf, 0, buf.length)
        in.close(); fs.close()
        new String(buf, "UTF-8")
      }
      assert(readThrough("/tt/v1/a.txt") == "alpha")
      assert(readThrough("/tt/live/a.txt") == "alpha-v2")
    } finally {
      PufsFileSystem.unmountSnapshot("tt/v1")
      PufsFileSystem.unmountSnapshot("tt/live")
    }
  }

  test("uploadTree: objects at plain keys, dirty-only re-materialization (B14/M18)") {
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-upl").toString
    val (s1, copied1) = SnapshotStore.uploadTree(spark, src, repo, "drop1")
    assert(copied1 == 3, s"first upload must materialize all 3 files, got $copied1")
    // objects land at human-readable keys with exact bytes
    Seq("a.txt", "sub/b.txt", "sub/c.bin").foreach { p =>
      val obj = Paths.get(repo, "objects", "drop1", p)
      assert(Files.exists(obj), s"missing object $p")
      assert(java.util.Arrays.equals(Files.readAllBytes(obj),
        Files.readAllBytes(Paths.get(src, p))), s"object bytes differ: $p")
    }
    // unchanged tree: the M18 clean-remote-backed flip — nothing hashed,
    // nothing uploaded, nothing copied
    val (s2, copied2) = SnapshotStore.uploadTree(spark, src, repo, "drop1")
    assert(s2.hashed == 0 && s2.uploaded == 0 && copied2 == 0,
      s"unchanged re-upload did work: hashed=${s2.hashed} " +
        s"uploaded=${s2.uploaded} copied=$copied2")
    // touch one file: exactly that object re-materializes
    Files.write(Paths.get(src, "a.txt"), "alpha-v2".getBytes)
    val (s3, copied3) = SnapshotStore.uploadTree(spark, src, repo, "drop1")
    assert(s3.hashed == 1 && copied3 == 1,
      s"one-file change: hashed=${s3.hashed} copied=$copied3")
    assert(new String(Files.readAllBytes(
      Paths.get(repo, "objects", "drop1", "a.txt")), "UTF-8") == "alpha-v2")
    assert(s1.manifestSha != s3.manifestSha)
    // delete a source file: the stale object must disappear from the
    // plain-key tree on the next upload (consumers of objects/ see
    // exactly the published snapshot, nothing more)
    Files.delete(Paths.get(src, "sub", "b.txt"))
    SnapshotStore.uploadTree(spark, src, repo, "drop1")
    assert(!Files.exists(Paths.get(repo, "objects", "drop1", "sub/b.txt")),
      "deleted path still materialized under objects/")
    assert(Files.exists(Paths.get(repo, "objects", "drop1", "sub/c.bin")),
      "sibling object must survive the delete")
  }

  test("uploadTree resumes after a crash between publish and the copies") {
    // publish() advances the label pointer BEFORE the copy loop runs: if
    // the dirty set were derived from that pointer, a crash mid-copy would
    // make the rerun see an empty diff and leave objects/ stale forever.
    // The completed-upload marker is the source of truth instead.
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-crash").toString
    SnapshotStore.uploadTree(spark, src, repo, "drop")
    // simulate the crash: the tree changes and publish() runs (advancing
    // the pointer) but the copy loop never does
    Files.write(Paths.get(src, "a.txt"), "alpha-crashed".getBytes)
    SnapshotStore.publish(spark, src, repo, "drop")
    assert(new String(Files.readAllBytes(
      Paths.get(repo, "objects", "drop", "a.txt")), "UTF-8") != "alpha-crashed",
      "precondition: objects/ must be stale before the resumed upload")
    // the resumed upload must notice and re-copy despite the identical root
    val (_, copied) = SnapshotStore.uploadTree(spark, src, repo, "drop")
    assert(copied == 1, s"resumed upload copied $copied files, expected 1")
    assert(new String(Files.readAllBytes(
      Paths.get(repo, "objects", "drop", "a.txt")), "UTF-8") == "alpha-crashed")
  }

  test("gc tolerates crashed-write debris and publish rejects manifest-" +
      "breaking paths") {
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-debris").toString
    SnapshotStore.publish(src, repo, "main")
    // 0-byte .part temps from a crashed renewLease/setRoot atomic write:
    // gc must skip them, not MatchError and abort forever
    Files.createFile(Paths.get(repo, "lease", ".lease123.part"))
    Files.createFile(Paths.get(repo, "root", ".root456.part"))
    // and a malformed COMPLETE lease (e.g. hand-edited): skipped too
    Files.write(Paths.get(repo, "lease", "broken"), "not-a-lease".getBytes)
    assert(SnapshotStore.gc(repo) == 0) // label still pins everything
    // a path with a tab would publish fine and then MatchError every later
    // mount of the snapshot — publish must reject it loudly instead
    val badSrc = Files.createTempDirectory("snap-bad")
    Files.write(badSrc.resolve("a\tb"), "x".getBytes)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.publish(badSrc.toString, repo, "bad")
    }
    assert(e.getMessage.contains("tab"))
  }

  test("OPTIMIZE advances a label: one table rewrites, the rest byte-identical, pruning flows") {
    import org.apache.spark.sql.functions._
    // VERDICT r16 #5: layout maintenance label-to-label. A fragmented
    // 2-key table and a small side table publish under one label; the
    // verb rewrites ONLY t/ (z-order compaction), splices the new blocks
    // into a fresh manifest, refreshes the zone map, repoints the label.
    val src = Files.createTempDirectory("snap-opt-src").toString
    spark.range(0, 40000)
      .select((col("id") % 200).as("a"), ((col("id") * 7) % 200).as("b"),
        col("id").as("v"))
      .repartition(16).write.parquet(s"$src/t")
    spark.range(0, 100).select(col("id").as("k"))
      .coalesce(1).write.parquet(s"$src/s")
    val repo = Files.createTempDirectory("snap-opt-repo").toString
    val st = SnapshotStore.publish(spark, src, repo, "main")
    SnapshotStore.publishStats(spark, src, repo, st.manifestSha, Seq("a", "k"))
    val sha0 = st.manifestSha
    val before = SnapshotStore.mount(repo, "main")
    val tBytes = before.filter(_.path.startsWith("t/")).map(_.size).sum

    val (sha1, pre, post) = SnapshotStore.optimizeTable(spark, repo, "main",
      "t", targetBytes = tBytes / 4 + 1, cols = Seq("a", "b"),
      statsCols = Seq("v"))
    assert(pre == 16 && post < 16 && post >= 2, s"($pre, $post)")
    assert(SnapshotStore.getRoot(repo, "main").contains(sha1))
    val after = SnapshotStore.mount(repo, "main")
    // untouched subtree: same paths, sizes, SHAS — never read or written
    assert(after.filter(_.path.startsWith("s/")) ==
      before.filter(_.path.startsWith("s/")),
      "untouched table entries must be byte-identical")
    // row-exact through the new label (read straight from the CAS)
    def tableSum(entries: Seq[SnapshotStore.ManifestEntry]): (Long, Long) = {
      val fs = entries.filter(e => e.path.startsWith("t/") &&
        e.path.endsWith(".parquet"))
        .map(e => s"$repo/CAS/${e.sha256}")
      val r = spark.read.parquet(fs: _*).agg(count(lit(1)), sum("v"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(tableSum(after) == tableSum(before), "OPTIMIZE must be row-exact")
    // prune-after-optimize THROUGH THE LABEL: fresh per-file boxes on the
    // cluster key prune a range query to a strict subset
    val tFiles = after.map(_.path).filter(p => p.startsWith("t/") &&
      p.endsWith(".parquet"))
    val hit = pruned(repo, "main", "a", 10.0, 40.0)
      .filter(_.startsWith("t/"))
    assert(hit.nonEmpty && hit.size < tFiles.size,
      s"prune-after-optimize: ${hit.size} of ${tFiles.size}")
    // untouched files CARRY their old zone entries (k over s/)
    assert(zones(repo, "main")
      .exists(e => e._1.startsWith("s/") && e._2 == "k"),
      "untouched files must carry their zone-map entries forward")
    // statsCols got fresh entries over the rewritten files too
    assert(zones(repo, "main")
      .exists(e => e._1.startsWith("t/") && e._2 == "v"))
    // the superseded snapshot still serves: mount by sha, old zone map
    assert(SnapshotStore.mountAt(repo, sha0).size == before.size)
    assert(zones(repo, sha0).nonEmpty)

    // the CLI verb drives the same path label-to-label
    val code = graft.Cli.run(List("optimize", repo, "main", "t",
      (tBytes / 2 + 1).toString, "a,b", "v"))
    assert(code == 0)
    assert(!SnapshotStore.getRoot(repo, "main").contains(sha1),
      "CLI optimize must advance the label again")
  }

  test("OPTIMIZE of a Hive-partitioned table preserves partition-column values") {
    import org.apache.spark.sql.functions._
    // advisor r17: optimizeTable read blocks straight from the CAS by
    // sha, so partition VALUES encoded in manifest paths (t/p=2/...)
    // silently vanished from every rewritten row. The k=v layout is now
    // reconstructed before the rewrite and the columns land physical.
    val src = Files.createTempDirectory("snap-part-src").toString
    spark.range(0, 8000)
      .select((col("id") % 4).cast("int").as("p"), col("id").as("v"),
        (col("id") % 50).as("a"))
      .repartition(4).write.partitionBy("p").parquet(s"$src/t")
    val repo = Files.createTempDirectory("snap-part-repo").toString
    val st = SnapshotStore.publish(spark, src, repo, "main")
    assert(SnapshotStore.mount(repo, "main")
      .exists(e => e.path.startsWith("t/p=")), "setup: k=v manifest paths")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("p").cast("int").as("p"))
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val before = agg(spark.read.parquet(s"$src/t"))
    val (sha1, pre, post) = SnapshotStore.optimizeTable(spark, repo, "main",
      "t", targetBytes = Long.MaxValue, cols = Seq("a", "v"))
    assert(pre >= 4 && post >= 1, s"($pre, $post)")
    val files = SnapshotStore.mount(repo, "main")
      .filter(e => e.path.startsWith("t/") && e.path.endsWith(".parquet"))
      .map(e => s"$repo/CAS/${e.sha256}")
    val got = spark.read.parquet(files: _*)
    assert(got.columns.contains("p"),
      "partition column must land physical in the rewritten files")
    // advisor r18: the NARROWEST lossless integer type — Spark's own
    // partition inference reads p=2 as INT, so the rewritten physical
    // column must be int too, not a silently widened bigint
    assert(got.schema("p").dataType ==
      org.apache.spark.sql.types.IntegerType,
      s"int-ranged partition values must come back as int, " +
        s"got ${got.schema("p").dataType}")
    assert(agg(got) == before,
      "per-partition rows must be value-exact after OPTIMIZE")
    assert(SnapshotStore.getRoot(repo, "main").contains(sha1))
  }

  test("OPTIMIZE keeps string partition values lossless; mixed flat+k=v reads union") {
    import org.apache.spark.sql.functions._
    // reviewer r18: type inference would rewrite p=0001 to int 1 — the
    // advisor-r17 silent-corruption class in narrower form — and one
    // k=v entry next to a flat file crashed partition discovery.
    val src = Files.createTempDirectory("snap-lz-src").toString
    val base = spark.range(0, 600)
      .select(col("id").as("v"), (col("id") % 20).as("a"))
    base.filter(col("v") % 3 === 0)
      .withColumn("p", format_string("%04d", col("v") % 2))
      .repartition(2).write.partitionBy("p").parquet(s"$src/t")
    // a flat file directly under the same table root (no k=v segment)
    base.filter(col("v") % 3 =!= 0)
      .coalesce(1).write.parquet(s"$src/t_flat")
    Files.walk(Paths.get(s"$src/t_flat")).forEach { f =>
      if (f.toString.endsWith(".parquet")) {
        Files.move(f, Paths.get(s"$src/t", f.getFileName.toString)); ()
      }
    }
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(s"$src/t_flat"))
    val repo = Files.createTempDirectory("snap-lz-repo").toString
    SnapshotStore.publish(spark, src, repo, "main")
    val (sha1, pre, post) = SnapshotStore.optimizeTable(spark, repo, "main",
      "t", targetBytes = Long.MaxValue, cols = Seq("a", "v"))
    assert(pre >= 3 && post >= 1, s"($pre, $post)")
    val files = SnapshotStore.mount(repo, "main")
      .filter(e => e.path.startsWith("t/") && e.path.endsWith(".parquet"))
      .map(e => s"$repo/CAS/${e.sha256}")
    val got = spark.read.parquet(files: _*)
    // leading-zero values survive byte-exact as STRINGS
    assert(got.schema("p").dataType ==
      org.apache.spark.sql.types.StringType)
    val ps = got.select("p").distinct().collect()
      .map(r => Option(r.getString(0))).toSet
    assert(ps == Set(Some("0000"), Some("0001"), None),
      s"partition values must be lossless, flat rows null-padded: $ps")
    // row-complete across both classes
    assert(got.agg(count(lit(1)), sum("v")).collect()(0) ==
      base.agg(count(lit(1)), sum("v")).collect()(0))
    assert(SnapshotStore.getRoot(repo, "main").contains(sha1))
  }

  test("OPTIMIZE writes ONE sidecar format: fresh and carried entries land together") {
    import org.apache.spark.sql.functions._
    // advisor r17: with a big manifest, fresh stats went to a parquet
    // sidecar while the carried merge wrote text — zoneMapDF (prefers
    // parquet) lost the carried entries and the two read paths
    // disagreed. Pin both entry classes in the ONE parquet sidecar.
    val src = Files.createTempDirectory("snap-fmt-src").toString
    spark.range(0, 4000)
      .select((col("id") % 100).as("a"), col("id").as("v"))
      .repartition(4).write.parquet(s"$src/t")
    spark.range(0, 100).select(col("id").as("k"))
      .coalesce(1).write.parquet(s"$src/s")
    val repo = Files.createTempDirectory("snap-fmt-repo").toString
    val st = SnapshotStore.publish(spark, src, repo, "main")
    SnapshotStore.publishStats(spark, src, repo, st.manifestSha, Seq("a", "k"))
    val (sha1, _, _) = SnapshotStore.optimizeTable(spark, repo, "main", "t",
      targetBytes = Long.MaxValue, cols = Seq("a"), statsCols = Seq("v"))
    assert(Files.exists(Paths.get(repo, "CAS", s"statspq-$sha1")),
      "the sidecar must be parquet")
    assert(!Files.exists(Paths.get(repo, "CAS", s"stats-$sha1")),
      "exactly ONE sidecar format per snapshot")
    val zm = SnapshotStore.zoneMapDF(spark, repo, "main")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(zm.exists(e => e._1.startsWith("s/") && e._2 == "k"),
      "carried entries must land in the parquet sidecar")
    assert(zm.exists(e => e._1.startsWith("t/") && e._2 == "v"),
      "fresh entries must land in the same sidecar")
  }

  test("optimizeTable hashes executor-side above the byte threshold; identical entries either route") {
    import org.apache.spark.sql.functions._
    // VERDICT r17 #4 / r18 #3: the rewritten blocks' sha256 + CAS put
    // ran in a sequential driver loop; above distributedHashBytes they
    // now fan out over Spark tasks (the publishIncremental pattern).
    // Same staged bytes through both routes must yield identical
    // manifest entries — hence the identical manifest sha.
    val staged = Files.createTempDirectory("snap-hash-staged")
    spark.range(0, 5000).selectExpr("id AS k", "id * 2 AS v")
      .repartition(4).write.parquet(staged.resolve("t").toString)
    val repoA = Files.createTempDirectory("snap-hash-a").toString
    val repoB = Files.createTempDirectory("snap-hash-b").toString
    Files.createDirectories(Paths.get(repoA, "CAS"))
    Files.createDirectories(Paths.get(repoB, "CAS"))
    val eA = SnapshotStore.hashStagedEntries(spark, repoA, "t",
      staged.resolve("t"), Long.MaxValue) // driver route
    val eB = SnapshotStore.hashStagedEntries(spark, repoB, "t",
      staged.resolve("t"), 0L) // forced task route
    assert(eA.nonEmpty && eA == eB,
      s"hash routes must agree entry-for-entry: ${eA.take(2)} vs ${eB.take(2)}")
    eB.foreach(e => assert(Files.exists(Paths.get(repoB, "CAS", e.sha256)),
      s"task route must CAS-place ${e.path}"))
    // end-to-end: a forced-distributed OPTIMIZE round-trips row-exact
    // and advances the label like the driver route
    val src = Files.createTempDirectory("snap-hash-src").toString
    spark.range(0, 4000)
      .selectExpr("id AS key", "cast(id * 7 AS double) AS v")
      .repartition(5).write.parquet(s"$src/t")
    val repo = Files.createTempDirectory("snap-hash-repo").toString
    SnapshotStore.publish(spark, src, repo, "main")
    val (sha1, pre, post) = SnapshotStore.optimizeTable(spark, repo, "main",
      "t", targetBytes = Long.MaxValue, cols = Seq("key", "v"),
      distributedHashBytes = 0L)
    assert(pre == 5 && post >= 1)
    val files = SnapshotStore.mount(repo, "main")
      .filter(e => e.path.startsWith("t/") && e.path.endsWith(".parquet"))
      .map(e => s"$repo/CAS/${e.sha256}")
    val got = spark.read.parquet(files: _*)
      .agg(count(lit(1)), sum("key"), sum("v")).collect()(0)
    val want = spark.read.parquet(s"$src/t")
      .agg(count(lit(1)), sum("key"), sum("v")).collect()(0)
    assert(got == want, "distributed-hash OPTIMIZE must stay row-exact")
    assert(SnapshotStore.getRoot(repo, "main").contains(sha1))
  }

  test("zone-map sidecar prunes files by range; results never change") {
    import org.apache.spark.sql.functions._
    // a range-clustered table: 4 parquet files with disjoint key ranges
    val src = Files.createTempDirectory("snap-zm-src").toString
    val df = spark.range(0, 4000).select(
      col("id").as("key"), (col("id") * 2).cast("double").as("v"))
    df.orderBy("key").write
      .option("maxRecordsPerFile", 1000).mode("overwrite")
      .parquet(s"$src/t")
    val repo = Files.createTempDirectory("snap-zm-repo").toString
    val stats = SnapshotStore.publish(spark, src, repo, "main")
    val n = SnapshotStore.publishStats(spark, src, repo,
      stats.manifestSha, Seq("key"))
    assert(n > 0, "no zone entries collected")
    val dataFiles = SnapshotStore.mount(repo, "main")
      .map(_.path).filter(_.endsWith(".parquet"))
    assert(dataFiles.size >= 4, s"expected >=4 data files, got $dataFiles")
    // a one-quarter key range must prune to a strict subset of files
    val hit = pruned(repo, "main", "key", 100.0, 900.0)
      .filter(_.endsWith(".parquet"))
    assert(hit.nonEmpty && hit.size < dataFiles.size,
      s"pruning selected ${hit.size} of ${dataFiles.size} files")
    // reading ONLY the pruned files + the filter equals the full scan
    val viaPruned = spark.read
      .parquet(hit.map(p => s"file:$src/$p"): _*)
      .filter(col("key").between(100, 900))
    val viaFull = spark.read.parquet(s"$src/t")
      .filter(col("key").between(100, 900))
    assert(viaPruned.count() == viaFull.count())
    assert(viaPruned.agg(sum("v")).head().getDouble(0) ==
      viaFull.agg(sum("v")).head().getDouble(0))
    // a column with no sidecar entries keeps everything (conservative)
    assert(pruned(repo, "main", "nope", 0, 1).toSet ==
      SnapshotStore.mount(repo, "main").map(_.path).toSet)

    // composed path: zone-map prune + lazy pufs:// mount — fewer file
    // opens AND bytesPulled below the pruned files' total size
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
    hc.set("fs.pufs.backing", Files.createTempDirectory("zm-backing").toString)
    hc.set("fs.pufs.cache", Files.createTempDirectory("zm-cache").toString)
    PufsFileSystem.mountSnapshot("zm/main", repo, "main")
    PufsFileSystem.resetStats()
    val viaMount = SnapshotStore.readPruned(spark, repo, "main",
      "zm/main", "key", 100.0, 900.0)
      .filter(col("key").between(100, 900))
    assert(viaMount.count() == viaFull.count())
    val prunedTotal = SnapshotStore.mount(repo, "main")
      .filter(e => hit.contains(e.path)).map(_.size).sum
    assert(PufsFileSystem.bytesPulled.get() <= prunedTotal,
      s"pulled ${PufsFileSystem.bytesPulled.get()} > pruned file total $prunedTotal")
    PufsFileSystem.unmountSnapshot("zm/main")
    // publishing again replaces the sidecar: entries for the new columns only
    SnapshotStore.publishStats(spark, src, repo, stats.manifestSha, Seq("v"))
    assert(zones(repo, "main").map(_._2) == Set("v"))
  }

  test("distributed metadata: DF manifest/zone-map/prune ≡ driver path, gc-safe") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("snap-dm-src").toString
    spark.range(0, 4000).select(
        col("id").as("key"), (col("id") * 2).cast("double").as("v"))
      .orderBy("key").write.option("maxRecordsPerFile", 1000)
      .parquet(s"$src/t")
    val repo = Files.createTempDirectory("snap-dm-repo").toString
    val stats = SnapshotStore.publish(spark, src, repo, "main")

    // manifestDF ≡ mountAt, parsed by Spark tasks not the driver
    val viaDF = SnapshotStore.manifestDF(spark, repo, "main")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val viaDriver = SnapshotStore.mount(repo, "main")
      .map(e => (e.path, e.size, e.sha256)).toSet
    assert(viaDF == viaDriver, "manifestDF diverged from mountAt")

    // a legacy text sidecar (the retired `stats-<sha>` format) is never
    // read: a snapshot that has only it prunes nothing
    val legacy = Paths.get(repo, "CAS", s"stats-${stats.manifestSha}")
    Files.write(legacy, viaDriver.toSeq.map(e => s"${e._1}\tkey\t0.0\t0.0")
      .mkString("\n").getBytes("UTF-8"))
    assert(pruned(repo, "main", "key", 1e9, 2e9).toSet == viaDriver.map(_._1),
      "a legacy text sidecar must not prune")

    // task-written stats ≡ per-file min/max computed here on the driver,
    // with the NaN/ULP discipline: every bound widened by one ULP
    val nDist = SnapshotStore.publishStats(spark, src, repo,
      stats.manifestSha, Seq("key", "v"))
    assert(nDist > 0)
    val parquetPaths = viaDriver.map(_._1).filter(_.endsWith(".parquet"))
    val want = parquetPaths.flatMap { p =>
      val r = spark.read.parquet(s"$src/$p")
        .agg(min("key"), max("key"), min("v"), max("v")).head()
      Seq((p, "key", Math.nextDown(r.getLong(0).toDouble),
          Math.nextUp(r.getLong(1).toDouble)),
        (p, "v", Math.nextDown(r.getDouble(2)), Math.nextUp(r.getDouble(3))))
    }
    val got = zones(repo, "main")
    assert(got == want, s"stats diverged: ${(got -- want).take(3)} / " +
      s"${(want -- got).take(3)}")

    // prunedFilesDF keeps exactly the files whose box meets the range,
    // plus every file without an entry, for hit, miss, and uncovered columns
    for ((c, lo, hi) <- Seq(("key", 100.0, 900.0), ("key", 1e9, 2e9),
        ("v", 0.0, 10.0), ("nope", 0.0, 1.0))) {
      val boxes = want.filter(_._2 == c).map(e => e._1 -> e).toMap
      val keep = viaDriver.map(_._1).filter(p =>
        boxes.get(p).forall(e => e._4 >= lo && e._3 <= hi))
      assert(pruned(repo, "main", c, lo, hi).toSet == keep,
        s"prune mismatch for $c [$lo,$hi]")
    }

    // gc collects the legacy text sidecar although its manifest is live,
    // keeps the parquet sidecar while the label lives, and collects it
    // (without crashing on the parquet DIRECTORY) once orphaned
    assert(SnapshotStore.gc(repo) == 1, "gc must collect the legacy sidecar")
    assert(!Files.exists(legacy))
    assert(SnapshotStore.gc(repo) == 0, "gc ate a live sidecar")
    assert(SnapshotStore.zoneMapDF(spark, repo, "main").count() == nDist)
    val src2 = Files.createTempDirectory("snap-dm-src2").toString
    Files.write(Paths.get(src2, "x.txt"), "other".getBytes)
    SnapshotStore.publish(spark, src2, repo, "main") // repoint label
    val expired = java.time.Instant.now().plus(java.time.Duration.ofDays(3))
    assert(SnapshotStore.gc(repo, expired) > 0, "orphaned snapshot survived gc")
    assert(SnapshotStore.zoneMapDF(spark, repo, stats.manifestSha).count() == 0)
  }

  test("incremental zone-map: one-file touch scans one file, entries ≡ full") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("snap-izm-src").toString
    spark.range(0, 4000).select(
        col("id").as("key"), (col("id") * 2).cast("double").as("v"))
      .orderBy("key").write.option("maxRecordsPerFile", 1000)
      .parquet(s"$src/t")
    val repo = Files.createTempDirectory("snap-izm-repo").toString
    val s1 = SnapshotStore.publish(spark, src, repo, "main")
    // first call: no previous sidecar → full scan of all data files
    val (n1, scanned1) = SnapshotStore.publishStatsIncremental(
      spark, src, repo, s1.manifestSha, "main", Seq("key", "v"))
    assert(n1 > 0)
    assert(scanned1 >= 4, s"first build must scan everything: $scanned1")
    // touch exactly one data file (larger values, same schema)
    val files = new java.io.File(s"$src/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val victim = files.head
    spark.range(90000, 91000).select(
        col("id").as("key"), (col("id") * 2).cast("double").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$src/tmp_one")
    val one = new java.io.File(s"$src/tmp_one").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(one.toPath, victim.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the now-stale checksum sidecar or the local FS rejects the
    // swapped bytes on the next Spark read
    val crc = new java.io.File(victim.getParentFile, s".${victim.getName}.crc")
    if (crc.exists()) crc.delete()
    new java.io.File(s"$src/tmp_one").listFiles().foreach(_.delete())
    new java.io.File(s"$src/tmp_one").delete()
    val s2 = SnapshotStore.publish(spark, src, repo, "v2")
    assert(s2.manifestSha != s1.manifestSha)
    val (n2, scanned2) = SnapshotStore.publishStatsIncremental(
      spark, src, repo, s2.manifestSha, s1.manifestSha, Seq("key", "v"))
    assert(scanned2 == 1, s"touched one file, scanned $scanned2")
    // entries must equal a from-scratch distributed build of v2
    val incEntries = SnapshotStore.zoneMapDF(spark, repo, s2.manifestSha)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getDouble(3))).toSet
    SnapshotStore.publishStats(spark, src, repo,
      s2.manifestSha, Seq("key", "v"))
    val fullEntries = SnapshotStore.zoneMapDF(spark, repo, s2.manifestSha)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getDouble(3))).toSet
    assert(incEntries == fullEntries,
      s"incremental diverged: ${(incEntries -- fullEntries).take(3)} / " +
        s"${(fullEntries -- incEntries).take(3)}")
    assert(n2 == fullEntries.size.toLong)
    // and the new range actually prunes: only the touched file matches
    val hot = SnapshotStore.prunedFilesDF(spark, repo, s2.manifestSha,
      "key", 90000.0, 91000.0)
      .collect().map(_.getString(0)).filter(_.endsWith(".parquet"))
    assert(hot.length == 1, s"expected only the touched file: ${hot.toSeq}")
    // unchanged republish: same sha → sidecar kept, zero scanned
    val (n3, scanned3) = SnapshotStore.publishStatsIncremental(
      spark, src, repo, s2.manifestSha, s2.manifestSha, Seq("key", "v"))
    assert(scanned3 == 0 && n3 == n2)
  }

  test("stale .optstage-* staging debris sweeps; a live staging survives") {
    // advisor r18: staging moved inside the repo root (same-fs hard
    // links), so a hard-killed optimize leaves a permanent .optstage-*
    // holding a full rewritten-table copy. gc and the next optimize
    // sweep it — but only past the lease horizon of idleness, so an
    // in-flight optimize is never clobbered.
    val repo = Files.createTempDirectory("snap-sweep").toString
    val dead = Files.createDirectory(Paths.get(repo, ".optstage-dead"))
    Files.write(dead.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    val live = Files.createDirectory(Paths.get(repo, ".optstage-live"))
    Files.write(live.resolve("busy.parquet"), Array[Byte](4))
    val old = java.nio.file.attribute.FileTime.from(
      java.time.Instant.now().minus(SnapshotStore.LeaseDuration)
        .minusSeconds(3600))
    Files.setLastModifiedTime(dead.resolve("junk.parquet"), old)
    Files.setLastModifiedTime(dead, old)
    assert(SnapshotStore.sweepStaleStaging(repo) == 1,
      "exactly the idle-past-horizon staging dir sweeps")
    assert(!Files.exists(dead) && Files.exists(live),
      "dead staging gone, live staging untouched")
  }

  test("incremental zone-map: a newly requested column is scanned everywhere") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("snap-izm2-src").toString
    spark.range(0, 4000).select(
        col("id").as("key"), (col("id") * 2).cast("double").as("v"))
      .orderBy("key").write.option("maxRecordsPerFile", 1000)
      .parquet(s"$src/t")
    val repo = Files.createTempDirectory("snap-izm2-repo").toString
    val s1 = SnapshotStore.publish(spark, src, repo, "main")
    val (n1, _) = SnapshotStore.publishStatsIncremental(
      spark, src, repo, s1.manifestSha, "main", Seq("key"))
    assert(n1 > 0)
    // same manifest, but `v` was never in the sidecar: carrying only
    // covered columns would leave v with zero entries and pruning on v
    // would silently keep everything — the fix full-scans the new column
    val (n2, scanned2) = SnapshotStore.publishStatsIncremental(
      spark, src, repo, s1.manifestSha, s1.manifestSha, Seq("key", "v"))
    assert(scanned2 >= 4, s"new column must scan all files: $scanned2")
    val zm = SnapshotStore.zoneMapDF(spark, repo, s1.manifestSha)
    val vFiles = zm.filter(col("column") === "v").select("path")
      .distinct().count()
    val kFiles = zm.filter(col("column") === "key").select("path")
      .distinct().count()
    assert(vFiles == kFiles && vFiles >= 4,
      s"v covers $vFiles files, key covers $kFiles")
    assert(n2 == zm.count())
    // the fresh column actually prunes now
    val hot = SnapshotStore.prunedFilesDF(spark, repo, s1.manifestSha,
      "v", 0.0, 10.0).collect().map(_.getString(0))
      .filter(_.endsWith(".parquet"))
    assert(hot.length == 1, s"v should prune to one file: ${hot.toSeq}")
  }

  test("zone-map: NaN column keeps files; all-pruned read returns empty frame") {
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("snap-nan-src").toString
    // one NaN poisons max(v): an entry for v would prune the file for
    // EVERY range (NaN >= lo is false) despite real matching rows
    spark.range(0, 10).selectExpr("id AS key",
      "CASE WHEN id = 5 THEN cast('NaN' AS double) ELSE cast(id AS double) END AS v")
      .coalesce(1).write.parquet(s"$src/t")
    val repo = Files.createTempDirectory("snap-nan-repo").toString
    val stats = SnapshotStore.publish(spark, src, repo, "main")
    SnapshotStore.publishStats(spark, src, repo, stats.manifestSha, Seq("v", "key"))
    val all = SnapshotStore.mount(repo, "main")
      .map(_.path).filter(_.endsWith(".parquet")).toSet
    assert(pruned(repo, "main", "v", 3.0, 4.0)
      .filter(_.endsWith(".parquet")).toSet == all,
      "NaN-poisoned zone entry pruned a file with matching rows")
    // the clean column still prunes normally on an out-of-range probe,
    // and readPruned over ZERO surviving files must return an empty
    // frame with the snapshot's schema instead of failing inference
    assert(pruned(repo, "main", "key", 1e9, 2e9)
      .filter(_.endsWith(".parquet")).isEmpty)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
    hc.set("fs.pufs.backing", Files.createTempDirectory("nan-backing").toString)
    hc.set("fs.pufs.cache", Files.createTempDirectory("nan-cache").toString)
    PufsFileSystem.mountSnapshot("nan/main", repo, "main")
    val empty = SnapshotStore.readPruned(spark, repo, "main",
      "nan/main", "key", 1e9, 2e9)
    assert(empty.columns.toSet == Set("key", "v"),
      s"empty pruned read lost the schema: ${empty.columns.toSeq}")
    assert(empty.count() == 0)
    PufsFileSystem.unmountSnapshot("nan/main")
  }

  test("all-pruned read in a multi-table snapshot keeps the right schema") {
    // ADVICE r5: the empty-frame fallback inferred schema from an
    // arbitrary manifest file — in a snapshot holding several tables it
    // could return another table's columns. The schema source must come
    // from the zone-map-covered file set (and pathPrefix scopes it).
    import org.apache.spark.sql.functions._
    val src = Files.createTempDirectory("snap-multi-src").toString
    spark.range(0, 50).selectExpr("id AS key", "cast(id AS double) AS v")
      .coalesce(1).write.parquet(s"$src/facts")
    spark.range(0, 10).selectExpr("id AS dim_id", "concat('n', id) AS name")
      .coalesce(1).write.parquet(s"$src/dims")
    val repo = Files.createTempDirectory("snap-multi-repo").toString
    val stats = SnapshotStore.publish(spark, src, repo, "main")
    // stats ONLY for the facts table's key (dims has no such column)
    SnapshotStore.publishStats(spark, s"$src", repo, stats.manifestSha,
      Seq("key"))
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
    hc.set("fs.pufs.backing", Files.createTempDirectory("mt-backing").toString)
    hc.set("fs.pufs.cache", Files.createTempDirectory("mt-cache").toString)
    PufsFileSystem.mountSnapshot("mt/main", repo, "main")
    try {
      // scoped to facts/: pruning kills every file; schema must be facts'
      val empty = SnapshotStore.readPruned(spark, repo, "main",
        "mt/main", "key", 1e9, 2e9, pathPrefix = "facts/")
      assert(empty.columns.toSet == Set("key", "v"),
        s"expected facts schema, got ${empty.columns.toSeq}")
      assert(empty.count() == 0)
      // in-range probe: the facts file survives (file-level pruning —
      // the row filter is the caller's), and rows read back intact
      val kept = SnapshotStore.readPruned(spark, repo, "main",
        "mt/main", "key", 10.0, 19.5, pathPrefix = "facts/")
      assert(kept.where("key >= 10 AND key <= 19").count() == 10)
      // unscoped: dims/ has no `key` entry, so pruning keeps it and its
      // rows come back — a file without stats is never skipped
      val unscoped = SnapshotStore.readPruned(spark, repo, "main",
        "mt/main", "key", 1e9, 2e9)
      assert(unscoped.columns.toSet == Set("dim_id", "name"),
        s"expected the unpruned dims file, got ${unscoped.columns.toSeq}")
      assert(unscoped.count() == 10)
    } finally PufsFileSystem.unmountSnapshot("mt/main")
  }

  test("gc keeps label- and lease-reachable blocks, collects superseded ones") {
    import java.time.Instant
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-gc").toString
    val (sha1, _) = SnapshotStore.publish(src, repo, "main")
    Files.write(Paths.get(src, "a.txt"), "alpha-v2".getBytes)
    val (sha2, _) = SnapshotStore.publish(src, repo, "main")
    // a reader pins the superseded snapshot with its OWN lease (what a
    // mount does — leases are per-consumer liveness hints)
    SnapshotStore.renewLease(repo, "reader-1", sha1)
    assert(SnapshotStore.gc(repo) == 0,
      "gc deleted blocks reachable from an unexpired reader lease")
    // past the 48h lease horizon only the labeled snapshot survives
    val later = Instant.now().plus(SnapshotStore.LeaseDuration).plusSeconds(3600)
    val deleted = SnapshotStore.gc(repo, later)
    assert(deleted == 2, // old manifest + old a.txt block
      s"expected 2 superseded blocks collected, got $deleted")
    // the labeled snapshot still mounts and reads fully
    val entries = SnapshotStore.mount(repo, "main")
    entries.foreach { e =>
      assert(java.util.Arrays.equals(SnapshotStore.readBlock(repo, e.sha256),
        Files.readAllBytes(Paths.get(src, e.path))))
    }
    assert(SnapshotStore.getRoot(repo, "main").contains(sha2) && sha1 != sha2)
    // the old manifest is gone
    intercept[Exception](SnapshotStore.readBlock(repo, sha1))
  }

  test("lease heartbeat keeps renewing until closed") {
    val src = mkTree()
    val repo = Files.createTempDirectory("snap-hb").toString
    val (sha, _) = SnapshotStore.publish(src, repo, "main")
    val leasePath = Paths.get(repo, "lease", "hb-reader")
    def expiry(): Long =
      new String(Files.readAllBytes(leasePath), "UTF-8").split("\t")(1).toLong
    val hb = SnapshotStore.startLeaseHeartbeat(repo, "hb-reader", sha,
      java.time.Duration.ofMillis(120))
    try {
      val e1 = expiry()
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (expiry() == e1 && System.nanoTime() < deadline) Thread.sleep(40)
      assert(expiry() > e1, "heartbeat never renewed the lease")
    } finally hb.close()
    // after close, no further renewals happen
    Thread.sleep(300)
    val stopped = expiry()
    Thread.sleep(300)
    assert(expiry() == stopped, "heartbeat kept renewing after close()")
  }

  test("concurrent publishers to one repo don't corrupt the CAS") {
    val srcA = mkTree()
    val srcB = mkTree()
    Files.write(Paths.get(srcB, "a.txt"), "different-alpha".getBytes)
    val repo = Files.createTempDirectory("snap-conc").toString
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(
      new Thread(() => try SnapshotStore.publish(srcA, repo, "labA")
        catch { case t: Throwable => errs.add(t) }),
      new Thread(() => try SnapshotStore.publish(srcB, repo, "labB")
        catch { case t: Throwable => errs.add(t) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent publish threw: $errs")
    Seq(("labA", srcA), ("labB", srcB)).foreach { case (lab, src) =>
      SnapshotStore.mount(repo, lab).foreach { e =>
        assert(java.util.Arrays.equals(SnapshotStore.readBlock(repo, e.sha256),
          Files.readAllBytes(Paths.get(src, e.path))), s"$lab/${e.path} corrupt")
      }
    }
  }

  test("stress differential through a snapshot mount (random ranged reads)") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val src = Files.createTempDirectory("snap-stress-src").toString
    val rnd = new scala.util.Random(99) // reference stress seed
    val data = new Array[Byte](400 * 1024)
    rnd.nextBytes(data)
    Files.write(Paths.get(src, "blob.bin"), data)
    val repo = Files.createTempDirectory("snap-stress-repo").toString
    SnapshotStore.publish(src, repo, "stress")
    PufsFileSystem.mountSnapshot("snapstress", repo, "stress")
    try {
      val conf = new org.apache.hadoop.conf.Configuration()
      conf.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
      conf.set("fs.pufs.backing", Files.createTempDirectory("snap-stress-bk").toString)
      conf.set("fs.pufs.cache", Files.createTempDirectory("snap-stress-c").toString)
      conf.setLong("fs.pufs.chunk.size", 8192)
      conf.setBoolean("fs.pufs.impl.disable.cache", true)
      val fs = FileSystem.get(java.net.URI.create("pufs:///"), conf)
      val in = fs.open(new Path("/snapstress/blob.bin"))
      (1 to 120).foreach { i =>
        val len = math.max(1, math.exp(rnd.nextDouble() * math.log(48 * 1024)).toInt)
        val off = rnd.nextInt(data.length)
        val n = math.min(len, data.length - off)
        val buf = new Array[Byte](n)
        in.readFully(off.toLong, buf, 0, n)
        assert(java.util.Arrays.equals(buf,
          java.util.Arrays.copyOfRange(data, off, off + n)),
          s"mount stress mismatch at read $i off=$off len=$n")
      }
      in.close(); fs.close()
    } finally PufsFileSystem.unmountSnapshot("snapstress")
  }

  test("mount through pufs://: published parquet reads back lazily") {
    import org.apache.spark.sql.functions.col
    // publish a real parquet table as a snapshot
    val src = Files.createTempDirectory("snap-pq-src").toString
    val orig = spark.read.parquet(s"$sfDir/customer.parquet")
    orig.write.mode("overwrite").parquet(s"$src/customer.parquet")
    val repo = Files.createTempDirectory("snap-pq-repo").toString
    SnapshotStore.publish(spark, src, repo, "v1")
    // mount the label and read THROUGH the lazy pufs:// machinery
    PufsFileSystem.mountSnapshot("snap/v1", repo, "v1")
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
      hc.set("fs.pufs.backing", Files.createTempDirectory("snap-empty").toString)
      hc.set("fs.pufs.cache", Files.createTempDirectory("snap-cache").toString)
      hc.set("fs.pufs.impl.disable.cache", "true")
      hc.setLong("fs.pufs.chunk.size", 16 * 1024)
      hc.setLong("fs.pufs.readahead", 0)
      PufsFileSystem.simulateRestart()
      // measure from cold: schema-inference footer read + pruned column scan
      val mounted = spark.read.parquet("pufs:///snap/v1/customer.parquet")
      val cnt = mounted.select("c_custkey").count()
      val pulled = PufsFileSystem.bytesPulled.get()
      val totalSize = SnapshotStore.mount(repo, "v1").map(_.size).sum
      assert(cnt == orig.count())
      assert(pulled > 0 && pulled < totalSize,
        s"pruned read pulled $pulled of $totalSize — mount not lazy")
      // full-width read is row-identical to the original
      val a = mounted.orderBy("c_custkey").collect()
      val b = orig.orderBy("c_custkey").collect()
      assert(a.sameElements(b), "mounted snapshot rows differ from source")
      // mounts are write-once: no create/delete inside
      intercept[java.io.IOException] {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          java.net.URI.create("pufs:///"), hc)
        fs.delete(new org.apache.hadoop.fs.Path("/snap/v1/customer.parquet"), true)
      }
    } finally PufsFileSystem.unmountSnapshot("snap/v1")
  }

  test("CoW delete + CAS publish: only rewritten files upload or diff") {
    import org.apache.spark.sql.functions._
    // the DML-over-write-once value proposition end-to-end: a file-
    // granular delete rewrites O(touched) files, and because blocks are
    // content-addressed, republishing the table uploads only those — the
    // untouched files hash to blocks the CAS already has. The manifest
    // diff then reads as an audit of exactly what the delete touched.
    val tbl = Files.createTempDirectory("cow-pub-src").toString
    graft.operators.LayoutOps.clusterBy(spark,
      s"$sfDir/lineitem.parquet", s"$tbl/li", 8, "l_orderkey")
    val repo = Files.createTempDirectory("cow-pub-repo").toString
    val sha1 = SnapshotStore.publish(spark, tbl, repo, "tbl").manifestSha
    val tbl2 = Files.createTempDirectory("cow-pub-v2").toString
    val (hit, keep) = graft.operators.LayoutOps.deleteWhere(
      spark, s"$tbl/li", s"$tbl2/li", col("l_orderkey") < 100)
    assert(hit >= 1 && keep >= 6)
    val s2 = SnapshotStore.publish(spark, tbl2, repo, "tbl")
    // CAS dedup: uploads = rewritten data files + the new manifest, never
    // the untouched ones (their blocks are already in the store). The
    // delete job may also emit a fresh _SUCCESS marker — allow +1.
    assert(s2.uploaded <= hit + 2,
      s"expected ~${hit + 1} uploads (touched + manifest), got ${s2.uploaded}")
    val changed = SnapshotStore.diff(repo, sha1, s2.manifestSha)
      .filter(_.path.endsWith(".parquet"))
    // every parquet-level change is a touched file disappearing (its name
    // is job-scoped) or the rewritten output appearing
    assert(changed.nonEmpty && changed.size <= 2 * hit + 1,
      s"diff should read as the delete's audit: $changed")
  }

  test("time-travel diff: o8's relational diff across two mounted snapshots") {
    import org.apache.spark.sql.functions._
    // the end-to-end loop: publish v1 of a table → publish v2 under the
    // same label → mount the OLD manifest sha and the live label side by
    // side → run the full-outer version diff (the o8 shape) with both
    // scans served lazily by the snapshot store. This is the reference's
    // mount-by-BID time travel driving an actual relational audit.
    val src = Files.createTempDirectory("snap-tt-src").toString
    val repo = Files.createTempDirectory("snap-tt-repo").toString
    val v1 = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("key"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
    v1.write.mode("overwrite").parquet(s"$src/tbl.parquet")
    val sha1 = SnapshotStore.publish(spark, src, repo, "tbl").manifestSha
    // v2: delete key%13==0, bump bal by 100 where key%10==0, add 5 rows
    val v2 = v1.filter(col("key") % 13 =!= 0)
      .withColumn("bal", col("bal") +
        when(col("key") % 10 === 0, 100).otherwise(0).cast("decimal(18,2)"))
      .unionByName(spark.range(5).select(
        (col("id") + 900000L).as("key"),
        lit(java.math.BigDecimal.ONE).cast("decimal(18,2)").as("bal")))
    v2.write.mode("overwrite").parquet(s"$src/tbl.parquet")
    val sha2 = SnapshotStore.publish(spark, src, repo, "tbl").manifestSha
    assert(sha1 != sha2)
    PufsFileSystem.mountSnapshotAt("snap/tt1", repo, sha1)
    PufsFileSystem.mountSnapshot("snap/tt2", repo, "tbl")
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
      hc.set("fs.pufs.backing", Files.createTempDirectory("tt-empty").toString)
      hc.set("fs.pufs.cache", Files.createTempDirectory("tt-cache2").toString)
      hc.set("fs.pufs.impl.disable.cache", "true")
      val m1 = spark.read.parquet("pufs:///snap/tt1/tbl.parquet")
        .select(col("key"), col("bal").as("p1")).withColumn("w1", lit(true))
      val m2 = spark.read.parquet("pufs:///snap/tt2/tbl.parquet")
        .select(col("key"), col("bal").as("p2")).withColumn("w2", lit(true))
      val statuses = m1.join(m2, Seq("key"), "full_outer")
        .withColumn("status",
          when(col("w1").isNull, "added")
            .when(col("w2").isNull, "removed")
            .when(col("p1") =!= col("p2"), "changed")
            .otherwise("same"))
        .groupBy("status").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n13 = v1.filter(col("key") % 13 === 0).count()
      val nChanged = v1.filter(col("key") % 13 =!= 0 && col("key") % 10 === 0).count()
      assert(statuses.getOrElse("removed", 0L) == n13, statuses.toString)
      assert(statuses.getOrElse("changed", 0L) == nChanged, statuses.toString)
      assert(statuses.getOrElse("added", 0L) == 5L, statuses.toString)
    } finally {
      PufsFileSystem.unmountSnapshot("snap/tt1")
      PufsFileSystem.unmountSnapshot("snap/tt2")
    }
  }
}
