package graft.sources

import java.io.File
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption, StandardOpenOption}
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot commit / publish / mount protocol — the reference's
  * Freeze → Push → SetRoot → Mount cycle (reference
  * core/datastore.go:999-1217; remote/gcs.go:101-197) as a local-dir
  * "object store" (zero-egress stand-in; the same layout maps 1:1 onto a
  * bucket with conditional puts).
  *
  * Repo layout (mirrors the reference's bucket keys, core/remote.go:46-48,
  * remote/gcs.go:96-151):
  *   CAS/<sha256>      content-addressed blocks (files + manifests)
  *   root/<label>      label → manifest sha (atomic swap)
  *   lease/<label>     expiry heartbeat (48 h, reference datastore.go:48-51)
  *
  * A snapshot is one manifest block listing (path, size, sha) — the Merkle
  * root idea (a frozen tree is a single BID, reference
  * core/datastore.go:981-997). CAS writes are conditional-on-absence, so
  * re-publishing an unchanged tree uploads nothing (Freeze idempotence,
  * reference core/datastore.go:1123-1125) — at 100 TB this is what makes
  * incremental publishes O(changed bytes), not O(tree).
  */
object SnapshotStore {

  case class ManifestEntry(path: String, size: Long, sha256: String)

  /** Per-publish accounting: blocks actually uploaded and files actually
    * hashed — the observable difference between O(changed) and O(tree). */
  case class PublishStats(manifestSha: String, uploaded: Int, hashed: Int)

  val LeaseDuration: java.time.Duration = java.time.Duration.ofHours(48)

  private def casDir(repo: String) = Paths.get(repo, "CAS")
  private def rootDir(repo: String) = Paths.get(repo, "root")
  private def leaseDir(repo: String) = Paths.get(repo, "lease")
  private def statCacheDir(repo: String) = Paths.get(repo, "statcache")

  /** Idempotent CAS put (reference B12: conditional DoesNotExist upload).
    * Returns true if the block was actually written. */
  private def casPut(repo: String, sha: String, src: JPath): Boolean = {
    val dst = casDir(repo).resolve(sha)
    if (Files.exists(dst)) false
    else {
      val tmp = Files.createTempFile(casDir(repo), ".up", ".part")
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      try { Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE); true }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp); false }
    }
  }

  /** Stage → hash → CAS → manifest → label pointer. Returns (manifest sha,
    * number of blocks actually uploaded). Driver-side hashing; prefer the
    * SparkSession overload for large trees. */
  def publish(srcDir: String, repo: String, label: String): (String, Int) = {
    val s = publishIncremental(srcDir, repo, label, None)
    (s.manifestSha, s.uploaded)
  }

  /** Distributed publish: dirty files are hashed AND uploaded by Spark
    * tasks (the reference leaves a "Could do this in parallel" note at its
    * sequential upload loop, core/datastore.go:1032 — this is that fix). */
  def publish(spark: SparkSession, srcDir: String, repo: String,
      label: String): PublishStats =
    publishIncremental(srcDir, repo, label, Some(spark))

  /** Incremental commit (reference IsDirty dirty-subtree tracking,
    * core/nodedb.go:286-315; collectUnpushed skipping clean files,
    * core/datastore.go:1074-1114): a stat cache per label records
    * (path, size, mtime) → sha of the last publish. A file whose size and
    * mtime are unchanged (and whose block is still in the CAS) is clean —
    * it contributes its cached sha to the manifest with ZERO hashing and
    * ZERO upload, so a republish costs O(changed bytes), not O(tree).
    * The manifest itself stays content-pure (path/size/sha only): touching
    * mtimes without changing bytes re-hashes but yields the identical root.
    */
  private def publishIncremental(srcDir: String, repo: String, label: String,
      spark: Option[SparkSession]): PublishStats = {
    Files.createDirectories(casDir(repo))
    Files.createDirectories(rootDir(repo))
    Files.createDirectories(leaseDir(repo))
    Files.createDirectories(statCacheDir(repo))
    val root = Paths.get(srcDir)
    val files: Seq[(String, Long, Long)] = {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[JPath]).toSeq
        .map { f =>
          (root.relativize(f).toString.replace(File.separatorChar, '/'),
            Files.size(f), Files.getLastModifiedTime(f).toMillis)
        }
      finally s.close()
    }
    // the manifest and stat cache are tab/newline-delimited text: a path
    // carrying either separator would publish "successfully" and then
    // MatchError every later mount/gc/diff of the snapshot — reject it
    // loudly at the only write point instead
    files.find(_._1.exists(c => c == '\t' || c == '\n')).foreach { case (p, _, _) =>
      throw new IllegalArgumentException(
        s"publish: path contains a tab or newline (unrepresentable in the " +
          s"manifest): '${p.replace("\t", "\\t").replace("\n", "\\n")}'")
    }
    val prev = readStatCache(repo, label)
    val (clean, dirty) = files.partition { case (p, sz, mt) =>
      prev.get(p).exists { case (psz, pmt, psha) =>
        psz == sz && pmt == mt && Files.exists(casDir(repo).resolve(psha))
      }
    }
    // hash + conditional-upload each dirty file; Spark tasks when available
    // (each task writes straight into the CAS — puts are idempotent
    // tmp+ATOMIC_MOVE, so concurrent writers of one block are safe)
    val hashUpload: ((String, Long, Long)) => (String, Long, Long, String, Boolean) = {
      val srcRoot = srcDir
      val repoDir = repo
      tup => {
        val (p, sz, mt) = tup
        val f = new File(srcRoot, p)
        val sha = PufsFileSystem.sha256File(f)
        val up = casPut(repoDir, sha, f.toPath)
        (p, sz, mt, sha, up)
      }
    }
    val hashedResults: Seq[(String, Long, Long, String, Boolean)] = spark match {
      case Some(s) if dirty.nonEmpty =>
        val parts = math.max(1, math.min(dirty.size, s.sparkContext.defaultParallelism))
        // the collect here is manifest METADATA (path/size/mtime/sha per
        // dirty file), not data — the commit protocol is driver-side by
        // design, like every table-format commit
        s.sparkContext.parallelize(dirty, parts).map(hashUpload).collect().toSeq
      case _ => dirty.map(hashUpload)
    }
    val uploadedBlocks = hashedResults.count(_._5)
    val entries = (
      clean.map { case (p, sz, _) => ManifestEntry(p, sz, prev(p)._3) } ++
        hashedResults.map { case (p, sz, _, sha, _) => ManifestEntry(p, sz, sha) }
      ).sortBy(_.path)
    val (manifestSha, manifestUploaded) = commitManifest(repo, entries)
    setRoot(repo, label, manifestSha)
    renewLease(repo, label, manifestSha)
    val mtimes = files.map { case (p, _, mt) => p -> mt }.toMap
    writeStatCache(repo, label,
      entries.map(e => (e.path, e.size, mtimes(e.path), e.sha256)))
    PublishStats(manifestSha,
      uploadedBlocks + (if (manifestUploaded) 1 else 0), hashedResults.size)
  }

  /** Write `entries` as a manifest block (one `path\tsize\tsha` line
    * each) into the CAS — the manifest is itself a CAS block, the
    * snapshot's "root BID". Returns (manifest sha, whether the block was
    * newly uploaded). */
  private def commitManifest(repo: String,
      entries: Seq[ManifestEntry]): (String, Boolean) = {
    val bytes = entries
      .map(e => s"${e.path}\t${e.size}\t${e.sha256}").mkString("\n").getBytes("UTF-8")
    val sha = PufsFileSystem.sha256Bytes(bytes)
    val tmp = Files.createTempFile(casDir(repo), ".mf", ".part")
    try {
      Files.write(tmp, bytes)
      (sha, casPut(repo, sha, tmp))
    } finally Files.deleteIfExists(tmp)
  }

  private def readStatCache(repo: String, label: String): Map[String, (Long, Long, String)] = {
    val p = statCacheDir(repo).resolve(label)
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), "UTF-8").split("\n").iterator
      .filter(_.nonEmpty).map { line =>
        val Array(path, sz, mt, sha) = line.split("\t")
        path -> ((sz.toLong, mt.toLong, sha))
      }.toMap
  }

  private def writeStatCache(repo: String, label: String,
      rows: Seq[(String, Long, Long, String)]): Unit = {
    val tmp = Files.createTempFile(statCacheDir(repo), ".sc", ".part")
    Files.write(tmp, rows.map { case (p, sz, mt, sha) => s"$p\t$sz\t$mt\t$sha" }
      .mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, statCacheDir(repo).resolve(label),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Atomic label pointer swap (reference SetRoot, remote/gcs.go:114-127). */
  def setRoot(repo: String, label: String, manifestSha: String): Unit = {
    val tmp = Files.createTempFile(rootDir(repo), ".root", ".part")
    Files.write(tmp, manifestSha.getBytes("UTF-8"))
    Files.move(tmp, rootDir(repo).resolve(label),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def getRoot(repo: String, label: String): Option[String] = {
    val p = rootDir(repo).resolve(label)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  /** Every label pointer of a repo, (label, manifest sha), sorted — the
    * `pufs ls`-of-roots listing surface for the CLI. */
  def labels(repo: String): Seq[(String, String)] = {
    val d = rootDir(repo)
    if (!Files.exists(d)) Seq.empty
    else {
      val stream = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith("."))
          .map(p => p.getFileName.toString ->
            new String(Files.readAllBytes(p), "UTF-8").trim)
          .toSeq.sortBy(_._1)
      } finally stream.close()
    }
  }

  /** Lease heartbeat (reference renewLeases, core/datastore.go:240-253):
    * GC-liveness hint — a snapshot whose lease expired may be collected. */
  def renewLease(repo: String, label: String, manifestSha: String): Unit = {
    val expiry = Instant.now().plus(LeaseDuration)
    val tmp = Files.createTempFile(leaseDir(repo), ".lease", ".part")
    Files.write(tmp, s"$manifestSha\t${expiry.toEpochMilli}".getBytes("UTF-8"))
    Files.move(tmp, leaseDir(repo).resolve(label),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Background lease heartbeat (reference renewLeases: hourly renewal
    * against the 48 h expiry, core/datastore.go:48-51, 240-253). Returns
    * a handle whose close() stops renewing — after which the lease ages
    * out and gc may collect the snapshot. Daemon-threaded: it never keeps
    * a JVM alive. */
  def startLeaseHeartbeat(repo: String, name: String, manifestSha: String,
      interval: java.time.Duration = java.time.Duration.ofHours(1)): AutoCloseable = {
    renewLease(repo, name, manifestSha)
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, s"lease-$name"); t.setDaemon(true); t })
    exec.scheduleAtFixedRate(
      () => try renewLease(repo, name, manifestSha) catch { case _: Throwable => () },
      interval.toMillis, interval.toMillis, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => exec.shutdownNow()
  }

  /** Garbage-collect unreferenced CAS blocks. A block is LIVE if it is
    * reachable from (a) any labeled root, or (b) any unexpired lease —
    * leases are exactly this: GC liveness hints for snapshots no label
    * points at anymore (reference datastore.go:48-51; renewLeases
    * 240-253). Everything else in CAS/ is garbage from superseded
    * publishes. Returns the number of blocks deleted.
    *
    * Safety: mounts resolve through a manifest that is itself live via its
    * label or lease, so a mounted snapshot can't lose blocks unless its
    * label was repointed AND its lease expired — the reference's contract.
    */
  def gc(repo: String, now: Instant = Instant.now()): Int = {
    val live = scala.collection.mutable.Set[String]()
    def addReachable(manifestSha: String): Unit = {
      val mf = casDir(repo).resolve(manifestSha)
      if (manifestSha.nonEmpty && Files.isRegularFile(mf)) {
        live += manifestSha
        new String(Files.readAllBytes(mf), "UTF-8").split("\n")
          .filter(_.nonEmpty).foreach { line => live += line.split("\t")(2) }
      }
    }
    def listDir(p: JPath): Seq[JPath] =
      if (!Files.exists(p)) Seq.empty
      else { val s = Files.list(p); try s.toArray.map(_.asInstanceOf[JPath]).toSeq finally s.close() }
    // pointer dirs only list REGULAR non-dot files: .part temps from a
    // crashed atomic write (renewLease / setRoot stage as .lease*/.root*
    // before the move) are not pointers and must neither be parsed (a
    // 0-byte temp would MatchError and abort EVERY later gc) nor treated
    // as roots. Same filter as labels(). The CAS listing below stays
    // unfiltered — parquet zone-map sidecars are DIRECTORIES.
    def listPointers(p: JPath): Seq[JPath] =
      listDir(p).filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith("."))
    listPointers(rootDir(repo)).foreach { r =>
      addReachable(new String(Files.readAllBytes(r), "UTF-8").trim)
    }
    listPointers(leaseDir(repo)).foreach { l =>
      new String(Files.readAllBytes(l), "UTF-8").split("\t") match {
        case Array(sha, expiry) if expiry.nonEmpty && expiry.forall(_.isDigit) =>
          if (Instant.ofEpochMilli(expiry.toLong).isAfter(now)) addReachable(sha)
        case _ => // malformed/torn lease — conservative no-op, never abort gc
      }
    }
    sweepStaleStaging(repo, now)
    var deleted = 0
    listDir(casDir(repo)).foreach { b =>
      val name = b.getFileName.toString
      // a zone-map sidecar lives and dies with its manifest — it is keyed
      // statspq-<sha>, not by content sha, so resolve liveness through
      // the manifest's sha
      if (!name.startsWith(".") && !live.contains(name.stripPrefix("statspq-"))) {
        deleteRecursively(b); deleted += 1
      }
    }
    deleted
  }

  /** Remove crashed-optimize staging debris (advisor r18): optimizeTable
    * stages inside the repo root (same-fs hard links — the r18 fix), so
    * a hard kill's `.optstage-*` dir — a full rewritten-table copy plus
    * the _read link tree — persists where the old /tmp staging was
    * OS-cleaned. Swept opportunistically at gc and at the start of each
    * optimizeTable, but only past [[LeaseDuration]] of directory-tree
    * idleness (newest mtime in a shallow walk of the dir's direct
    * children): a LIVE optimize keeps writing inside its staging, so an
    * in-flight pass is never clobbered. Returns dirs deleted. */
  private[sources] def sweepStaleStaging(repo: String,
      now: Instant = Instant.now()): Int = {
    val cutoff = now.minus(LeaseDuration).toEpochMilli
    def newestMtime(p: JPath): Long = {
      var newest = Files.getLastModifiedTime(p).toMillis
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.forEach { c =>
          newest = math.max(newest, Files.getLastModifiedTime(c).toMillis)
        } finally s.close()
      }
      newest
    }
    val root = Paths.get(repo)
    if (!Files.isDirectory(root)) return 0
    val s = Files.list(root)
    val stale =
      try s.toArray.map(_.asInstanceOf[JPath]).toSeq.filter { p =>
        Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(".optstage-") &&
          newestMtime(p) < cutoff
      } finally s.close()
    stale.foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    stale.size
  }

  private def deleteRecursively(p: JPath): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.toArray.foreach(c => deleteRecursively(c.asInstanceOf[JPath]))
      finally s.close()
    }
    Files.delete(p)
  }

  /** Re-materialize a tree at an arbitrary human-readable object prefix
    * (reference `pufs upload`, B14: pufs/cmd/upload.go:39-106): unlike
    * publish alone (CAS keys), consumers that expect plain object paths
    * get `objects/<prefix>/<path>`. Internally publishes to the label
    * `prefix` first — so hashing/uploading is incremental — then copies
    * only the entries whose content CHANGED since the previous upload
    * (manifest diff = the reference's dirty-only re-materialization,
    * upload.go:69; the post-upload stat-cache state is the M18
    * "now clean remote-backed" flip: a follow-up publish of the unchanged
    * tree hashes and uploads nothing). Returns (publish stats, objects
    * copied). */
  def uploadTree(spark: SparkSession, srcDir: String, repo: String,
      prefix: String): (PublishStats, Int) = {
    // The previous-state source is a marker written AFTER the copy loop
    // completes — NOT the label pointer: publish() advances the pointer
    // before the copies run, so a crash mid-copy would otherwise make the
    // rerun read the already-advanced root, see an empty dirty set, and
    // leave objects/<prefix> permanently stale.
    val uploadedMarker = Paths.get(repo, "objects", prefix, ".uploaded-manifest")
    val prevShas: Map[String, String] = {
      val prevSha =
        if (Files.exists(uploadedMarker))
          Some(new String(Files.readAllBytes(uploadedMarker), "UTF-8").trim)
        else None
      prevSha match {
        case Some(sha) if Files.exists(casDir(repo).resolve(sha)) =>
          new String(Files.readAllBytes(casDir(repo).resolve(sha)), "UTF-8")
            .split("\n").filter(_.nonEmpty).map { line =>
              val Array(p, _, h) = line.split("\t"); p -> h
            }.toMap
        case _ => Map.empty
      }
    }
    val stats = publish(spark, srcDir, repo, prefix)
    val entries = mount(repo, prefix)
    val dirty = entries.filter(e => !prevShas.get(e.path).contains(e.sha256))
    // paths present in the PREVIOUS upload but gone from the new manifest
    // must disappear from objects/<prefix> too — otherwise a consumer
    // listing the plain-key tree reads files the snapshot no longer has
    val live = entries.map(_.path).toSet
    prevShas.keysIterator.filterNot(live.contains).foreach { gone =>
      Files.deleteIfExists(Paths.get(repo, "objects", prefix, gone))
    }
    if (dirty.nonEmpty) {
      val repoDir = repo
      val pfx = prefix
      val parts = math.max(1,
        math.min(dirty.size, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(dirty, parts).foreach { e =>
        val dst = Paths.get(repoDir, "objects", pfx, e.path)
        Files.createDirectories(dst.getParent)
        val tmp = Files.createTempFile(dst.getParent, ".up", ".part")
        Files.copy(Paths.get(repoDir, "CAS", e.sha256), tmp,
          StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // record the completed upload LAST — the rerun of a crash anywhere
    // above re-copies from the old marker state, which only over-copies
    Files.createDirectories(uploadedMarker.getParent)
    val mtmp = Files.createTempFile(uploadedMarker.getParent, ".upm", ".part")
    Files.write(mtmp, stats.manifestSha.getBytes("UTF-8"))
    Files.move(mtmp, uploadedMarker, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    (stats, dirty.size)
  }

  /** Read a published snapshot's manifest (reference MountByLabel →
    * GetRoot → lazy subtree, core/datastore.go:214-227). */
  def mount(repo: String, label: String): Seq[ManifestEntry] =
    mountAt(repo, getRoot(repo, label).getOrElse(
      throw new IllegalArgumentException(s"no such label: $label")))

  /** Mount by manifest sha directly (the reference's mount-by-BID,
    * core/nodedb.go:522-555): any historical manifest still in the CAS
    * resolves — time travel to superseded snapshots. */
  def mountAt(repo: String, manifestSha: String): Seq[ManifestEntry] = {
    val bytes = Files.readAllBytes(casDir(repo).resolve(manifestSha))
    new String(bytes, "UTF-8").split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val Array(p, s, h) = line.split("\t")
      ManifestEntry(p, s.toLong, h)
    }
  }

  /** Open a mounted file's content from CAS. */
  def readBlock(repo: String, sha: String): Array[Byte] =
    Files.readAllBytes(casDir(repo).resolve(sha))

  /** Ranged read of a stored block without materializing it — the serving
    * daemon's per-request read (blocks can be GBs; a control-API range
    * request must not buffer the whole object). */
  def readBlockRange(repo: String, sha: String, start: Long, len: Int): Array[Byte] = {
    val raf = new java.io.RandomAccessFile(
      casDir(repo).resolve(sha).toFile, "r")
    try {
      raf.seek(start)
      val b = new Array[Byte](len)
      raf.readFully(b)
      b
    } finally raf.close()
  }

  // --- zone-map data skipping (the Delta/Iceberg file-stats analog at
  //     the snapshot layer): per-file column min/max collected ONCE at
  //     publish time into a CAS sidecar keyed by the manifest sha — the
  //     data manifest itself stays content-pure, so roots and diffs are
  //     unchanged. At 100 TB the win over parquet footer pruning alone is
  //     skipping the file OPENS (one metadata round trip per file ×
  //     100k files); the footer stats still prune row groups inside the
  //     files that survive. ---

  /** One file's zone-map entry for one column (min/max over non-null
    * values, cast to double — numeric/date columns). */
  case class ZoneEntry(path: String, column: String, min: Double, max: Double)

  /** OPTIMIZE advances a label (VERDICT r16 #5) — the Delta
    * OPTIMIZE-inside-the-table analog over write-once storage: rewrite
    * ONE table subtree of a published snapshot through
    * [[graft.operators.LayoutOps.optimizeFrame]] (compact / cluster /
    * z-order by `cols`), upload the new blocks, splice them into a new
    * manifest next to every untouched entry (byte-identical, same shas —
    * no other table is read or written), refresh the zone-map sidecar,
    * and ATOMICALLY repoint the label. The old manifest stays in the
    * CAS, so readers mid-scan and time-travel (`mountAt`) keep serving
    * the pre-OPTIMIZE snapshot; a crash anywhere before the final
    * `setRoot` leaves the label untouched (new blocks are unreferenced
    * garbage for [[gc]]).
    *
    * Zone-map story: the rewritten table gets FRESH stats over
    * `statsCols ++ cols` (tight per-file boxes are the point of the
    * rewrite); untouched files carry their old entries forward, so
    * prune-after-optimize works across the whole snapshot through the
    * label; fresh and carried entries land together in the new
    * snapshot's sidecar. A Hive-partitioned subtree keeps its
    * partition-column VALUES: the k=v layout is
    * reconstructed from the manifest paths before the rewrite, and the
    * columns land physical in the new files (advisor r17) — losslessly:
    * type inference is off (it would rewrite p=0001 to int 1); a column
    * whose every path value round-trips comes back at the NARROWEST
    * integer type that fits (int before long — matching what Spark's
    * own inference gives a pre-OPTIMIZE mounted read, so the physical
    * type never silently widens across the OPTIMIZE; advisor r18),
    * anything else as the raw string; flat files mixed into a
    * partitioned subtree union in null-padded. New-block hashing +
    * CAS placement routes through SPARK TASKS above
    * `distributedHashBytes` of rewritten bytes (VERDICT r17 #4 / r18
    * #3 — the publishIncremental distributed discipline: tasks sha256
    * and idempotently casPut, the driver collects only (name, size,
    * sha) metadata), driver-side below it where job overhead would
    * dominate; both routes produce identical manifest entries for the
    * same staged bytes (the spec pins it).
    *
    * The label's publish stat cache is NOT touched: a later `push` from
    * the original source tree wins over the optimize (rebuilding the
    * source layout), exactly like a table write after a Delta OPTIMIZE.
    *
    * Returns (new manifest sha, table files before, after). */
  def optimizeTable(spark: SparkSession, repo: String, label: String,
      table: String, targetBytes: Long, cols: Seq[String],
      statsCols: Seq[String] = Nil,
      distributedHashBytes: Long = 256L << 20): (String, Int, Int) = {
    val sha0 = getRoot(repo, label).getOrElse(
      throw new IllegalArgumentException(s"no such label: $label"))
    val old = mountAt(repo, sha0)
    val prefix = s"$table/"
    // the WHOLE subtree is replaced: its parquet files feed the rewrite,
    // and its writer debris (_SUCCESS, .crc) describes the old layout —
    // carrying either forward would leave stale entries the zone-map
    // pruner must conservatively keep forever
    val (sub, kept) = old.partition(_.path.startsWith(prefix))
    val tbl = sub.filter(_.path.endsWith(".parquet"))
    require(tbl.nonEmpty, s"label $label has no parquet files under $prefix")
    // staging lives INSIDE the repo root (dot-prefixed, deleted in the
    // finally): same filesystem as the CAS, so the partition-relayout
    // hard links below always succeed — a /tmp staging on another
    // device would silently degrade to byte-copying the whole
    // pre-rewrite table (and on a tmpfs /tmp, into RAM)
    sweepStaleStaging(repo) // a crashed predecessor's debris (advisor r18)
    val staging = Files.createTempDirectory(Paths.get(repo), ".optstage-")
    try {
      val outDir = staging.resolve(table)
      // Hive-partitioned subtree (advisor r17): manifest paths like
      // `table/k=v/part.parquet` encode partition VALUES in the path.
      // Reading the blocks straight from the CAS by sha would silently
      // drop those columns from every rewritten row. Reconstruct the
      // k=v layout with hard links into a read-staging dir (never
      // hashed or stat'd — only `outDir` and explicit onlyPaths are) so
      // partition discovery restores the columns; they land in the
      // rewritten files as ordinary physical columns, same rows.
      // LOSSLESS reconstruction: discovery runs with partition-type
      // INFERENCE OFF — inference silently rewrites path-encoded values
      // (p=0001 → int 1, the advisor-r17 corruption class in narrower
      // form) — then a column whose every path value round-trips as a
      // LONG is cast back; everything else stays the raw string. A
      // MIXED subtree (flat files next to k=v dirs) reads each class
      // its own way and unions, flat rows null-padded on the partition
      // columns — never the partition-discovery AssertionError.
      val (partTbl, flatTbl) = tbl.partition(e => e.path.stripPrefix(prefix)
        .split('/').dropRight(1).exists(_.contains("=")))
      def bySha(es: Seq[ManifestEntry]) = spark.read.parquet(
        es.map(e => casDir(repo).resolve(e.sha256).toString): _*)
      val df =
        if (partTbl.isEmpty) bySha(tbl)
        else {
          import org.apache.spark.sql.functions.col
          val readRoot = staging.resolve("_read")
          partTbl.foreach { e =>
            val t = readRoot.resolve(e.path)
            Files.createDirectories(t.getParent)
            try { Files.createLink(t, casDir(repo).resolve(e.sha256)); () }
            catch { case _: UnsupportedOperationException |
                         _: java.nio.file.FileSystemException =>
              Files.copy(casDir(repo).resolve(e.sha256), t); ()
            }
          }
          val tableRoot = readRoot.resolve(table).toString
          val confKey =
            "spark.sql.sources.partitionColumnTypeInference.enabled"
          val saved = spark.conf.get(confKey)
          val raw =
            try {
              spark.conf.set(confKey, "false") // discovery is eager here
              spark.read.option("basePath", tableRoot).parquet(tableRoot)
            } finally spark.conf.set(confKey, saved)
          val rawVals: Map[String, Seq[String]] = partTbl
            .flatMap(_.path.stripPrefix(prefix).split('/').dropRight(1)
              .filter(_.contains("=")).map { seg =>
                val i = seg.indexOf('=')
                (seg.take(i), seg.drop(i + 1))
              })
            .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
          // NARROWEST lossless integer type (advisor r18): Spark's own
          // partition inference yields INT for int-ranged values, so a
          // blanket long cast would silently widen the physical column
          // a pre-OPTIMIZE mounted read sees — strict readers/unions
          // would then type-mismatch across the OPTIMIZE. int before
          // long, raw string when either round-trip fails.
          val intCols = rawVals.collect { case (c, vs)
              if vs.forall(v =>
                scala.util.Try(v.toInt).toOption.exists(_.toString == v)) =>
            c }.toSet
          val longCols = rawVals.collect { case (c, vs)
              if !intCols(c) && vs.forall(v =>
                scala.util.Try(v.toLong).toOption.exists(_.toString == v)) =>
            c }.toSet
          val typed = (intCols.map(_ -> "int") ++ longCols.map(_ -> "long"))
            .foldLeft(raw) { case (d, (c, ty)) =>
              d.withColumn(c, col(c).cast(ty)) }
          if (flatTbl.isEmpty) typed
          else typed.unionByName(bySha(flatTbl), allowMissingColumns = true)
        }
      graft.operators.LayoutOps.optimizeFrame(spark, df, tbl.map(_.size).sum,
        outDir.toString, targetBytes, cols)
      val newEntries =
        hashStagedEntries(spark, repo, table, outDir, distributedHashBytes)
      val (manifestSha, _) = commitManifest(repo, (kept ++ newEntries).sortBy(_.path))
      // stats sidecar BEFORE the pointer flip: fresh entries for the
      // rewritten files, carried entries for everything untouched
      val wantCols = (statsCols ++ cols).distinct
      val carriedDF = zoneMapDF(spark, repo, sha0).filter(
        !org.apache.spark.sql.functions.col("path").startsWith(prefix))
      val freshDF =
        if (wantCols.isEmpty) None
        else Some(statsFrame(spark, staging.toString, wantCols,
          Some(newEntries.map(_.path))))
      freshDF.map(_.unionByName(carriedDF)).getOrElse(carriedDF)
        .write.mode("overwrite").parquet(statsPqDir(repo, manifestSha).toString)
      setRoot(repo, label, manifestSha)
      renewLease(repo, label, manifestSha)
      (manifestSha, tbl.size, newEntries.size)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(staging.toFile)
      ()
    }
  }

  /** Hash + CAS-place optimizeTable's rewritten table files and return
    * their manifest entries. Above `distributedHashBytes` of staged
    * bytes, Spark tasks do the sha256 AND the idempotent casPut
    * (tmp+ATOMIC_MOVE — concurrent writers of one block are safe, the
    * publishIncremental contract) and the driver collects only
    * (name, size, sha) metadata — at 100 TB the sequential driver loop
    * this replaces was the optimize's serial tail (VERDICT r17 #4).
    * Below the threshold the driver hashes directly: for a
    * post-compaction handful of files a Spark job is pure overhead.
    * Both routes yield IDENTICAL entries for the same staged bytes. */
  private[sources] def hashStagedEntries(spark: SparkSession, repo: String,
      table: String, outDir: JPath,
      distributedHashBytes: Long): Seq[ManifestEntry] = {
    val outFiles = Option(outDir.toFile.listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    val stagedBytes = outFiles.map(_.length).sum
    if (stagedBytes > distributedHashBytes && outFiles.nonEmpty) {
      val repoDir = repo
      val paths = outFiles.map(f => (f.getName, f.length, f.getAbsolutePath))
      val parts = math.max(1,
        math.min(paths.size, spark.sparkContext.defaultParallelism))
      // the collect is manifest METADATA, not data
      spark.sparkContext.parallelize(paths, parts)
        .map { case (name, sz, abs) =>
          val sha = PufsFileSystem.sha256File(new File(abs))
          casPut(repoDir, sha, Paths.get(abs))
          (name, sz, sha)
        }.collect().toSeq.sortBy(_._1)
        .map { case (name, sz, sha) =>
          ManifestEntry(s"$table/$name", sz, sha) }
    } else outFiles.map { f =>
      val sha = PufsFileSystem.sha256File(f)
      casPut(repo, sha, f.toPath)
      ManifestEntry(s"$table/${f.getName}", f.length, sha)
    }
  }

  /** Zone-map-pruned parquet read THROUGH a pufs:// snapshot mount: the
    * sidecar cuts the file list before Spark ever opens a footer, then
    * the surviving files are served by the lazy chunk-pull cache (column
    * pruning still cuts bytes within each file). `mountPath` must already
    * be mounted (PufsFileSystem.mountSnapshot). The two layers compose:
    * O(matching files) opens × O(needed columns) bytes per file. */
  def readPruned(spark: SparkSession, repo: String, ref: String,
      mountPath: String, column: String, lo: Double, hi: Double,
      pathPrefix: String = ""): DataFrame = {
    def toUri(p: String) =
      s"pufs:///${mountPath.stripPrefix("/").stripSuffix("/")}/$p"
    // pathPrefix scopes a multi-table snapshot to one table's subtree —
    // both the surviving-file set and the empty-case schema source.
    def inScope(p: String) =
      p.endsWith(".parquet") && p.startsWith(pathPrefix)
    // prune via the DataFrame metadata path: the decision runs in Spark,
    // and only the SURVIVORS are collected (spark.read needs concrete
    // paths — same shape as Delta's post-prune file listing)
    val paths = prunedFilesDF(spark, repo, ref, column, lo, hi)
      .collect().map(_.getString(0)).toSeq
      .filter(inScope)
      .sorted
      .map(toUri)
    if (paths.nonEmpty) spark.read.parquet(paths: _*)
    else {
      // pruning eliminated every file (range outside all zone maps):
      // an empty-path parquet read fails schema inference, so serve an
      // empty result with the snapshot's real schema — one file read
      // under an always-false filter (footer-only work in practice).
      // Schema source: the first in-scope parquet file. Pruning keeps
      // every file without a zone entry for `column`, so each in-scope
      // file here has one — it holds `column`, and pathPrefix picks the
      // table when a snapshot holds several (ADVICE r5).
      val any = mountAt(repo, getRoot(repo, ref).getOrElse(ref))
        .map(_.path).find(inScope)
      require(any.nonEmpty, s"snapshot $ref contains no parquet files" +
        (if (pathPrefix.nonEmpty) s" under '$pathPrefix'" else ""))
      spark.read.parquet(toUri(any.get))
        .where(org.apache.spark.sql.functions.lit(false))
    }
  }

  case class DiffEntry(path: String, status: String,
      sizeA: Option[Long], sizeB: Option[Long])

  /** Manifest diff between two snapshots (labels or manifest shas):
    * what a publish actually changed — the audit/debug surface of the
    * commit protocol (the reference's `pufs dump` inspection role).
    * Content comparison is by sha, so a touched-but-identical file is
    * NOT a change (Merkle property). */
  def diff(repo: String, fromRef: String, toRef: String): Seq[DiffEntry] = {
    def resolve(ref: String): Map[String, ManifestEntry] = {
      val sha = getRoot(repo, ref).getOrElse(ref)
      mountAt(repo, sha).map(e => e.path -> e).toMap
    }
    val a = resolve(fromRef)
    val b = resolve(toRef)
    val paths = (a.keySet ++ b.keySet).toSeq.sorted
    paths.flatMap { p =>
      (a.get(p), b.get(p)) match {
        case (Some(x), Some(y)) if x.sha256 == y.sha256 => None
        case (Some(x), Some(y)) =>
          Some(DiffEntry(p, "changed", Some(x.size), Some(y.size)))
        case (Some(x), None) => Some(DiffEntry(p, "removed", Some(x.size), None))
        case (None, Some(y)) => Some(DiffEntry(p, "added", None, Some(y.size)))
        case _ => None
      }
    }
  }

  /** The snapshot as a catalog DataFrame (manifest → rows). */
  def asDataFrame(spark: SparkSession, repo: String, label: String): DataFrame = {
    import spark.implicits._
    mount(repo, label).toDF()
  }

  // ------------------------------------------------------------------
  // Distributed metadata — the 1M-file / 100 TB path. mountAt above
  // materializes the manifest on the driver, which is fine to ~100k
  // files; past that the metadata itself must be a DataFrame (the
  // Delta/Iceberg distributed-manifest move; the reference keeps
  // listings hierarchical via its dir-block Merkle tree,
  // core/datastore.go:981-997). These never hold more than the
  // SURVIVING file list on the driver.
  // ------------------------------------------------------------------

  private def statsPqDir(repo: String, manifestSha: String) =
    casDir(repo).resolve("statspq-" + manifestSha)

  /** The manifest as a DataFrame (path, size, sha256) — parsed by Spark
    * tasks straight from the CAS block, never collected. */
  def manifestDF(spark: SparkSession, repo: String, ref: String): DataFrame = {
    val sha = getRoot(repo, ref).getOrElse(ref)
    spark.read
      .schema("path STRING, size BIGINT, sha256 STRING")
      .option("sep", "\t")
      // the manifest is plain tab-separated, not quoted CSV — disable
      // quote handling (NUL quote char) so a path containing '"' parses
      // byte-identically to the driver-side split("\t")
      .option("quote", "\u0000")
      .csv(casDir(repo).resolve(sha).toString)
  }

  /** Zone-map stats as a DataFrame (path, column, min, max) read from
    * the snapshot's sidecar, or an empty frame when it has none —
    * pruning downgrades to keep-everything when no stats exist. */
  def zoneMapDF(spark: SparkSession, repo: String, ref: String): DataFrame = {
    val pq = statsPqDir(repo, getRoot(repo, ref).getOrElse(ref))
    if (Files.exists(pq)) spark.read.parquet(pq.toString) else noZones(spark)
  }

  private def noZones(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, column STRING, min DOUBLE, max DOUBLE"))

  /** The (path, column, min, max) zone entries for parquet under
    * `srcDir` — all files, or only `onlyPaths` (srcDir-relative) when
    * given. Computed, NaN-screened, and ULP-widened entirely in Spark
    * tasks. */
  private def statsFrame(spark: SparkSession, srcDir: String,
      cols: Seq[String], onlyPaths: Option[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions._
    // the staging tree nests tables under subdirs — walk it all, and
    // merge schemas so a multi-table tree exposes every stats column
    // (files lacking a column read it as null → no entry → kept)
    val reader = spark.read
      .option("recursiveFileLookup", "true")
      .option("mergeSchema", "true")
    val df = onlyPaths match {
      case Some(ps) if ps.isEmpty => return noZones(spark)
      case Some(ps) => reader.parquet(ps.map(p => s"$srcDir/$p"): _*)
      case None     => reader.parquet(srcDir)
    }
    // a stats column absent from this file subset's schema yields no
    // entries — same conservative-keep as the all-null case
    val present = cols.filter(df.schema.fieldNames.contains)
    require(onlyPaths.isDefined || present.nonEmpty,
      s"none of $cols exist under $srcDir")
    if (present.isEmpty) return noZones(spark)
    val aggs = present.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__min_$c"),
      max(col(c).cast("double")).as(s"__max_$c")))
    val perFile = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
    // manifest keys are srcDir-relative; input_file_name is a file: URI.
    // The normalization is a UDF so it runs where the rows are (no
    // driver round trip).
    val srcDirStr = srcDir
    val relOf = udf { f: String =>
      val root = Paths.get(srcDirStr).toAbsolutePath
      root.relativize(Paths.get(new java.net.URI(f).getPath).toAbsolutePath)
        .toString.replace(File.separatorChar, '/')
    }
    // Widen the finite bounds by one ULP so the double cast of wider
    // source types (bigint/decimal beyond 2^53) can't round a stored
    // bound past a true value. No built-in nextUp/nextDown expression
    // exists, and this is the metadata path, so a scalar UDF is the
    // right tool.
    val down = udf(Math.nextDown(_: Double))
    val up = udf(Math.nextUp(_: Double))
    val stackExpr = "stack(" + present.size + ", " + present.map(c =>
      s"'$c', `__min_$c`, `__max_$c`").mkString(", ") + ") AS (column, mn, mx)"
    // NaN bounds poison range checks (Spark sorts NaN largest, so a single
    // NaN makes max=NaN and `max >= lo` false for every lo — the file
    // would be pruned despite matching rows): no entry, the same
    // conservative keep as an all-null column
    perFile.select(relOf(col("__file")).as("path"), expr(stackExpr))
      .filter(col("mn").isNotNull && col("mx").isNotNull &&
        !isnan(col("mn")) && !isnan(col("mx")))
      .select(col("path"), col("column"),
        down(col("mn")).as("min"), up(col("mx")).as("max"))
  }

  /** Publish the zone map of the parquet tree at `srcDir` (the staging
    * tree just published as `manifestSha`): per-file min/max for `cols`,
    * computed and WRITTEN entirely by Spark tasks as the parquet sidecar
    * `CAS/statspq-<manifestSha>` — O(files) rows never touch the driver.
    * A file whose column is all-null or holds a NaN gets no entry for it,
    * so it is never pruned. Returns the entry count (one count over the
    * written sidecar — metadata-sized). */
  def publishStats(spark: SparkSession, srcDir: String, repo: String,
      manifestSha: String, cols: Seq[String]): Long = {
    require(cols.nonEmpty, "publishStats: no columns")
    statsFrame(spark, srcDir, cols, None)
      .write.mode("overwrite").parquet(statsPqDir(repo, manifestSha).toString)
    spark.read.parquet(statsPqDir(repo, manifestSha).toString).count()
  }

  /** Incremental sidecar maintenance — the zone-map analog of
    * publishIncremental: entries for files whose CONTENT is unchanged
    * since `prevRef` (same path, same sha — the Merkle property) carry
    * over from the previous sidecar without touching the data; only
    * changed/new parquet files are scanned. Stats cost is O(changed
    * bytes), not O(tree) — at 1M files a one-file touch re-scans one
    * file. Falls back to the full distributed scan when `prevRef` has no
    * sidecar. Returns (total entries written, files actually scanned). */
  def publishStatsIncremental(spark: SparkSession, srcDir: String,
      repo: String, manifestSha: String, prevRef: String,
      cols: Seq[String]): (Long, Int) = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "publishStatsIncremental: no columns")
    val prevSha = getRoot(repo, prevRef).getOrElse(prevRef)
    // an unchanged republish yields the SAME manifest sha (Merkle) — the
    // sidecar is already current, and overwriting it from itself would
    // corrupt the read-while-write
    val havePrev = Files.exists(statsPqDir(repo, prevSha))
    // a column requested now but absent from the previous sidecar has no
    // carry-over entries for unchanged files — those columns must be
    // scanned across ALL files, or pruning on them silently degrades to
    // keep-everything
    val prevCols: Set[String] =
      if (!havePrev) Set.empty
      else zoneMapDF(spark, repo, prevSha).select("column").distinct()
        .collect().map(_.getString(0)).toSet
    val newCols = cols.filterNot(prevCols.contains)
    val oldCols = cols.filter(prevCols.contains)
    if (prevSha == manifestSha && havePrev && newCols.isEmpty)
      return (zoneMapDF(spark, repo, prevSha)
        .filter(col("column").isin(cols: _*)).count(), 0)
    if (prevSha == manifestSha && havePrev) {
      // same manifest but fresh columns: carry the covered columns
      // (materialized first — the carried frame reads the very sidecar
      // we are about to overwrite) and full-scan only the new ones
      val carried = zoneMapDF(spark, repo, prevSha)
        .filter(col("column").isin(oldCols: _*)).localCheckpoint(true)
      carried.unionByName(statsFrame(spark, srcDir, newCols, None))
        .write.mode("overwrite").parquet(statsPqDir(repo, manifestSha).toString)
      val scanned = mountAt(repo, manifestSha).count(_.path.endsWith(".parquet"))
      return (spark.read.parquet(statsPqDir(repo, manifestSha).toString).count(),
        scanned)
    }
    if (!havePrev) {
      val n = publishStats(spark, srcDir, repo, manifestSha, cols)
      val scanned = mountAt(repo, manifestSha)
        .count(_.path.endsWith(".parquet"))
      return (n, scanned)
    }
    val newM = manifestDF(spark, repo, manifestSha)
    val prevM = manifestDF(spark, repo, prevSha)
      .select(col("path"), col("sha256").as("__psha"))
    val joined = newM.join(prevM, Seq("path"), "left")
    // O(changed) rows reach the driver — the same contract as
    // publishIncremental's dirty list
    val changed = joined
      .filter(col("__psha").isNull || col("__psha") =!= col("sha256"))
      .filter(col("path").endsWith(".parquet"))
      .select("path").collect().map(_.getString(0)).toSeq.sorted
    val unchanged = joined.filter(col("__psha") === col("sha256"))
      .select("path")
    val carried = zoneMapDF(spark, repo, prevSha)
      .filter(col("column").isin(oldCols: _*))
      .join(unchanged, Seq("path"), "left_semi")
    // previously-covered columns: scan only changed files; brand-new
    // columns: scan everything (their history doesn't exist to carry)
    var out = carried
    if (oldCols.nonEmpty && changed.nonEmpty)
      out = out.unionByName(statsFrame(spark, srcDir, oldCols, Some(changed)))
    if (newCols.nonEmpty)
      out = out.unionByName(statsFrame(spark, srcDir, newCols, None))
    out.write.mode("overwrite").parquet(statsPqDir(repo, manifestSha).toString)
    val scanned =
      if (newCols.nonEmpty) mountAt(repo, manifestSha).count(_.path.endsWith(".parquet"))
      else changed.size
    (spark.read.parquet(statsPqDir(repo, manifestSha).toString).count(),
      scanned)
  }

  /** Manifest paths whose `[min, max]` for `column` intersects
    * `[lo, hi]` — plus every file the zone map has NO entry for
    * (non-parquet, all-null, or uncovered column: skipping is only ever
    * an optimization, never allowed to change results). The manifest is
    * left-joined to the zone map and range-filtered, so the decision runs
    * where the metadata is. A caller
    * that needs concrete paths (spark.read takes a path list) collects
    * only the SURVIVORS, which pruning has already cut. */
  def prunedFilesDF(spark: SparkSession, repo: String, ref: String,
      column: String, lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    val zm = zoneMapDF(spark, repo, ref)
      .filter(col("column") === column)
      .select(col("path"), col("min"), col("max"))
    manifestDF(spark, repo, ref).join(zm, Seq("path"), "left")
      .filter(col("min").isNull || (col("max") >= lo && col("min") <= hi))
      .select("path")
  }
}
