package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{BlockRegistry, GcsAuth, GcsRefRegistry, PufsFileSystem,
  S3RefRegistry, SigV4, SnapshotStore}

/** Thin operational CLI over the snapshot store + pufs:// layer — the
  * role the reference fills with its command front-end (reference
  * pufs/cmd/: push / mount / ls / dump over the datastore): make the
  * storage layer usable without writing Scala. One verb per invocation,
  * plain stdout, exit 0/1 — composable from shell.
  *
  *   sbt "runMain graft.Cli push  <srcDir> <repo> <label> [statsCol,...]"
  *   sbt "runMain graft.Cli ls    <repo> <ref> [pathPrefix]"
  *   sbt "runMain graft.Cli labels <repo>"
  *   sbt "runMain graft.Cli diff  <repo> <fromRef> <toRef>"
  *   sbt "runMain graft.Cli cat   <repo> <ref> <path>"      (bytes → stdout)
  *   sbt "runMain graft.Cli gc    <repo>"
  *   sbt "runMain graft.Cli sql   <repo> <ref> <SQL>"       (tables = top-
  *       level snapshot dirs, served lazily through a pufs:// mount)
  *
  * `ref` is a label or a manifest sha — same resolution as the library
  * calls. Spark is started only for the verbs that need it (push's
  * distributed hashing, sql); metadata verbs are pure driver work.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val code = run(args.toList)
    if (code != 0) sys.exit(code)
  }

  /** Dispatch without the sys.exit — the testable surface. */
  def run(args: List[String]): Int = args match {
    case "push" :: src :: repo :: label :: rest   => push(src, repo, label, rest)
    case "ls" :: repo :: ref :: rest              => ls(repo, ref, rest.headOption.getOrElse(""))
    case "labels" :: repo :: Nil                  => labels(repo)
    case "diff" :: repo :: from :: to :: Nil      => diff(repo, from, to)
    case "cat" :: repo :: ref :: path :: Nil      => cat(repo, ref, path)
    case "gc" :: repo :: Nil                      => gc(repo)
    case "sql" :: repo :: ref :: query :: Nil     => sql(repo, ref, query)
    case "stats" :: repo :: ref :: rest           => stats(repo, ref, rest.headOption)
    case "prune" :: repo :: ref :: c :: lo :: hi :: Nil =>
      prune(repo, ref, c, lo.toDouble, hi.toDouble)
    case "rollback" :: repo :: label :: sha :: Nil => rollback(repo, label, sha)
    case "optimize" :: repo :: label :: table :: target :: rest =>
      optimize(repo, label, table, target.toLong, rest)
    case "serve" :: repo :: ref :: rest            =>
      serve(repo, ref, rest.headOption.map(_.toInt).getOrElse(0))
    case "serve-remote" :: scheme :: endpoint :: bucket :: prefix :: label :: rest =>
      serveRemote(scheme, endpoint, bucket, prefix, label,
        rest.headOption.map(_.toInt).getOrElse(0))
    case "gc-remote" :: scheme :: endpoint :: bucket :: prefix :: Nil =>
      remoteRegistry(scheme, endpoint, bucket, prefix) match {
        case None => 1
        case Some(reg) =>
          val (blocks, leases) = graft.sources.RemoteSnapshotRepo.gc(reg)
          println(s"collected $blocks blocks, dropped $leases expired leases")
          0
      }
    case "push-remote" :: scheme :: endpoint :: bucket :: prefix ::
        repo :: ref :: label :: rest =>
      remoteRegistry(scheme, endpoint, bucket, prefix) match {
        case None => 1
        case Some(reg) =>
          // --sharded: per-top-dir shard manifests + index root, the
          // 10M-file lake layout; default is the flat manifest
          val stats =
            if (rest.contains("--sharded"))
              graft.sources.RemoteSnapshotRepo.pushSharded(repo, ref, reg, label)
            else graft.sources.RemoteSnapshotRepo.push(repo, ref, reg, label)
          println(s"pushed $repo@$ref -> $scheme://$bucket/$prefix@$label " +
            s"(${stats.uploaded} uploaded, ${stats.skipped} already present)")
          0
      }
    case "link" :: backing :: path :: url :: Nil   => link(backing, path, url)
    // reference verb name (pufs/cmd/add.go:84) for the same operation
    case "add-url" :: backing :: path :: url :: Nil => link(backing, path, url)
    case "init" :: repo :: rest                    => init(repo, rest)
    case "dump" :: journalDir :: Nil               => dump(journalDir)
    case _ =>
      System.err.println(
        """usage: graft.Cli <verb> ...
          |  push <srcDir> <repo> <label> [statsCol,...]
          |  ls <repo> <ref> [pathPrefix]
          |  labels <repo>
          |  diff <repo> <fromRef> <toRef>
          |  cat <repo> <ref> <path>
          |  gc <repo>
          |  sql <repo> <ref> <SQL>
          |  stats <repo> <ref> [column]
          |  prune <repo> <ref> <column> <lo> <hi>
          |  rollback <repo> <label> <manifestSha>
          |  optimize <repo> <label> <table> <targetBytes> [clusterCol,...] [statsCol,...]
          |  serve <repo> <ref> [port]
          |  serve-remote <gs|s3> <endpoint> <bucket> <prefix> <label> [port]
          |  gc-remote <gs|s3> <endpoint> <bucket> <prefix>
          |  push-remote <gs|s3> <endpoint> <bucket> <prefix> <repo> <ref> <label> [--sharded]
          |      (gs: GOOGLE_APPLICATION_CREDENTIALS key file;
          |       s3: AWS_ACCESS_KEY_ID/AWS_SECRET_ACCESS_KEY[/AWS_REGION])
          |  link <backingDir> <path> <url>
          |  add-url <backingDir> <path> <url>   (alias of link)
          |  init <repo> [bucket [prefix]]
          |  dump <journalDir>""".stripMargin)
      1
  }

  /** Run `f` with a session, starting one only if none is active — and
    * stop only what we started (an embedding process, or a spec driving
    * the CLI, keeps its own session). */
  private def withSession[A](f: SparkSession => A): A = {
    val existing = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    val s = existing.getOrElse {
      val b = GraftSession.local("8")
      b.sparkContext.setLogLevel("ERROR")
      b
    }
    try f(s) finally { if (existing.isEmpty) s.stop() }
  }

  private def push(src: String, repo: String, label: String,
      rest: List[String]): Int = withSession { spark =>
    val stats = SnapshotStore.publish(spark, src, repo, label)
    println(s"published $label root=${stats.manifestSha} " +
      s"uploaded=${stats.uploaded} hashed=${stats.hashed}")
    rest.headOption.map(_.split(",").toSeq.filter(_.nonEmpty)) match {
      case Some(cols) if cols.nonEmpty =>
        val n = SnapshotStore.publishStats(spark, src, repo,
          stats.manifestSha, cols)
        println(s"zone-map entries=$n cols=${cols.mkString(",")}")
      case _ =>
    }
    0
  }

  private def ls(repo: String, ref: String, prefix: String): Int = {
    val sha = SnapshotStore.getRoot(repo, ref).getOrElse(ref)
    val entries = SnapshotStore.mountAt(repo, sha)
      .filter(_.path.startsWith(prefix))
    entries.foreach(e => println(f"${e.size}%12d  ${e.sha256.take(12)}  ${e.path}"))
    println(s"${entries.size} files, ${entries.map(_.size).sum} bytes")
    0
  }

  private def labels(repo: String): Int = {
    SnapshotStore.labels(repo).foreach { case (label, sha) =>
      println(s"$label\t$sha")
    }
    0
  }

  private def diff(repo: String, from: String, to: String): Int = {
    val ds = SnapshotStore.diff(repo, from, to)
    ds.foreach { d =>
      val sz = (d.sizeA, d.sizeB) match {
        case (Some(a), Some(b)) if a != b => s"$a -> $b"
        case (_, Some(b))                 => b.toString
        case (Some(a), _)                 => a.toString
        case _                            => ""
      }
      println(s"${d.status}\t${d.path}\t$sz")
    }
    println(s"${ds.size} changes")
    0
  }

  private def cat(repo: String, ref: String, path: String): Int = {
    val sha = SnapshotStore.getRoot(repo, ref).getOrElse(ref)
    SnapshotStore.mountAt(repo, sha).find(_.path == path) match {
      case Some(e) =>
        System.out.write(SnapshotStore.readBlock(repo, e.sha256))
        System.out.flush()
        0
      case None =>
        System.err.println(s"no such path in $ref: $path"); 1
    }
  }

  private def gc(repo: String): Int = {
    println(s"collected ${SnapshotStore.gc(repo)} blocks")
    0
  }

  /** Zone-map sidecar inspection: per-(file, column) min/max entries,
    * read through zoneMapDF — only the displayed entries reach the
    * driver. */
  private def stats(repo: String, ref: String, column: Option[String]): Int =
    withSession { s =>
      var df = SnapshotStore.zoneMapDF(s, repo, ref)
      column.foreach(c => df = df.filter(df("column") === c))
      val entries = df.collect().map(r => SnapshotStore.ZoneEntry(r.getString(0),
        r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq
      entries.foreach(e => println(s"${e.column}\t[${e.min}, ${e.max}]\t${e.path}"))
      println(s"${entries.size} zone entries")
      0
    }

  /** Dry-run pruning: which files a range probe on `column` would read.
    * Unconditionally the distributed decision path (prunedFilesDF) — the
    * prune itself runs where the metadata is; only SURVIVORS collect. */
  private def prune(repo: String, ref: String, column: String,
      lo: Double, hi: Double): Int = {
    val all = SnapshotStore.mountAt(repo,
      SnapshotStore.getRoot(repo, ref).getOrElse(ref)).size
    val kept = withSession { s =>
      SnapshotStore.prunedFilesDF(s, repo, ref, column, lo, hi)
        .collect().map(_.getString(0)).toSeq
    }
    kept.foreach(println)
    println(s"${kept.size} of $all files survive $column in [$lo, $hi]")
    0
  }

  /** Label-to-label layout maintenance (SnapshotStore.optimizeTable):
    * rewrite one table subtree compacted/clustered/z-ordered, splice it
    * into a new manifest next to every untouched entry, refresh the
    * zone-map sidecar, atomically repoint the label. Old snapshots keep
    * serving via their shas. */
  private def optimize(repo: String, label: String, table: String,
      targetBytes: Long, rest: List[String]): Int = withSession { spark =>
    def csv(s: Option[String]): Seq[String] =
      s.map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val (cols, statsCols) = (csv(rest.headOption), csv(rest.lift(1)))
    val prev = SnapshotStore.getRoot(repo, label)
    val (sha, pre, post) = SnapshotStore.optimizeTable(
      spark, repo, label, table, targetBytes, cols, statsCols)
    println(s"optimized $label/$table: files $pre -> $post, " +
      s"root ${prev.getOrElse("(unset)")} -> $sha" +
      (if (cols.nonEmpty) s", clustered by ${cols.mkString(",")}" else ""))
    0
  }

  /** Repoint a label at a historical manifest — the undo of a bad
    * publish. The target must still be resolvable in the CAS (it is, as
    * long as a label or unexpired lease kept it from gc); the swap is
    * the same atomic setRoot a publish uses, and a fresh lease pins the
    * restored snapshot from the moment it becomes current. */
  private def rollback(repo: String, label: String, sha: String): Int = {
    val resolvable =
      try SnapshotStore.mountAt(repo, sha).nonEmpty
      catch { case _: Exception => false }
    if (!resolvable) {
      System.err.println(s"manifest $sha resolves to an empty or missing snapshot")
      return 1
    }
    val prev = SnapshotStore.getRoot(repo, label)
    SnapshotStore.setRoot(repo, label, sha)
    SnapshotStore.renewLease(repo, label, sha)
    println(s"rolled back $label: ${prev.getOrElse("(unset)")} -> $sha")
    0
  }

  /** Link a remote HTTP(S)/gs:// object into a pufs backing tree — the
    * operational form of AddRemoteURL (reference pufs/cmd/ `add`):
    * attributes probed remotely, bytes pulled lazily on first read. */
  /** Create the repo skeleton (reference pufs/cmd/init.go:150-233): the
    * CAS/ and root/ dirs SnapshotStore writes into, plus `.pufs/info`
    * recording the repo type and (optionally) its remote registry
    * coordinates — the same config keys the reference writes
    * (type=repo, bucketName, keyPrefix). Refuses to re-init. */
  private def init(repo: String, rest: List[String]): Int = {
    val root = java.nio.file.Paths.get(repo)
    val info = root.resolve(".pufs").resolve("info")
    if (java.nio.file.Files.exists(info)) {
      System.err.println(s"$repo: already initialized"); return 1
    }
    java.nio.file.Files.createDirectories(root.resolve("CAS"))
    java.nio.file.Files.createDirectories(root.resolve("root"))
    java.nio.file.Files.createDirectories(info.getParent)
    val bucket = rest.headOption.getOrElse("")
    val prefix = rest.drop(1).headOption.getOrElse("")
    java.nio.file.Files.write(info,
      s"type=repo\nbucketName=$bucket\nkeyPrefix=$prefix\n".getBytes("UTF-8"))
    println(s"initialized repo at $repo")
    0
  }

  /** Debug-dump the durable inode journal (reference pufs/cmd/dump.go:72):
    * replay it, print the live generation pins and the mount table, then
    * a summary line. */
  private def dump(journalDir: String): Int = {
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(journalDir))) {
      System.err.println(s"no such dir: $journalDir"); return 1
    }
    graft.sources.InodeDb.attach(journalDir)
    try {
      val lines = graft.sources.InodeDb.dumpState()
      lines.foreach(println)
      println(s"${lines.count(_.startsWith("gen\t"))} generations, " +
        s"${lines.count(_.startsWith("mount\t"))} mounts")
      0
    } finally graft.sources.InodeDb.detach()
  }

  private def link(backing: String, path: String, url: String): Int = {
    // a gs:// link needs GCS access registered BEFORE addRemoteUrl probes
    // the object's attrs — wire it from the same conventional env as
    // serve-remote (http(s) links need nothing)
    if (url.startsWith("gs://")) {
      sys.env.get("GOOGLE_APPLICATION_CREDENTIALS") match {
        case None =>
          System.err.println("gs:// link: set GOOGLE_APPLICATION_CREDENTIALS")
          return 1
        case Some(keyFile) =>
          PufsFileSystem.registerGcs(
            sys.env.getOrElse("GCS_ENDPOINT", "https://storage.googleapis.com"),
            new GcsAuth.TokenProvider(GcsAuth.fromKeyFile(keyFile)))
      }
    }
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
    conf.set("fs.pufs.backing", backing)
    conf.setBoolean("fs.pufs.impl.disable.cache", true)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("pufs:///"), conf).asInstanceOf[PufsFileSystem]
    try {
      fs.addRemoteUrl(new org.apache.hadoop.fs.Path(path), url)
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(path))
      println(s"linked $path -> $url (${st.getLen} bytes)")
      0
    } finally fs.close()
  }

  /** Read-only control daemon over a snapshot (ApiServer) — blocks until
    * interrupted, like the reference's mount serving loop. */
  private def serve(repo: String, ref: String, port: Int): Int = {
    val handle = ApiServer.start(repo, ref, port)
    println(s"serving $repo@$ref on http://127.0.0.1:${handle.port} " +
      "(GET /v1/dir /v1/stat /v1/read; ctrl-c to stop)")
    try { while (true) Thread.sleep(60000) }
    catch { case _: InterruptedException => }
    finally handle.stop()
    0
  }

  /** Serve a REMOTE label (GCS- or S3-protocol registry) through the
    * same read-only daemon — the "front a bucket snapshot for non-Spark
    * tools" role of the reference's mount+serve loop. Credentials ride
    * the conventional environment, never argv. */
  /** Test seam: specs inject an in-process registry here because the real
    * credential path is environment variables, which a JVM test cannot
    * set. Production dispatch never touches it. */
  private[graft] var registryOverride: Option[BlockRegistry] = None

  /** Build a registry client from the scheme + conventional env
    * credentials; None (with a usage message) when they're absent. */
  private def remoteRegistry(scheme: String, endpoint: String,
      bucket: String, prefix: String): Option[BlockRegistry] =
    if (registryOverride.isDefined) registryOverride else scheme match {
    case "gs" =>
      sys.env.get("GOOGLE_APPLICATION_CREDENTIALS") match {
        case None =>
          System.err.println(s"$scheme registry: set GOOGLE_APPLICATION_CREDENTIALS")
          None
        case Some(keyFile) => Some(new GcsRefRegistry(endpoint, bucket,
          prefix, new GcsAuth.TokenProvider(GcsAuth.fromKeyFile(keyFile))))
      }
    case "s3" =>
      (sys.env.get("AWS_ACCESS_KEY_ID"), sys.env.get("AWS_SECRET_ACCESS_KEY")) match {
        case (Some(ak), Some(sk)) => Some(new S3RefRegistry(endpoint, bucket,
          prefix, sys.env.getOrElse("AWS_REGION", "us-east-1"),
          SigV4.Credentials(ak, sk)))
        case _ =>
          System.err.println(
            "s3 registry: set AWS_ACCESS_KEY_ID and AWS_SECRET_ACCESS_KEY")
          None
      }
    case other =>
      System.err.println(s"unknown registry scheme '$other' (gs|s3)")
      None
  }

  private def serveRemote(scheme: String, endpoint: String, bucket: String,
      prefix: String, label: String, port: Int): Int = {
    val reg = remoteRegistry(scheme, endpoint, bucket, prefix) match {
      case None => return 1
      case Some(r) => r
    }
    val cacheDir =
      java.nio.file.Files.createTempDirectory("graft-serve-cache").toString
    val handle = ApiServer.startRemote(reg, label, cacheDir, port)
    println(s"serving $scheme://$bucket/$prefix@$label on " +
      s"http://127.0.0.1:${handle.port} (GET /v1/dir /v1/stat /v1/read; " +
      s"chunk cache $cacheDir; ctrl-c to stop)")
    try { while (true) Thread.sleep(60000) }
    catch { case _: InterruptedException => }
    finally handle.stop()
    0
  }

  /** Query a snapshot with plain SQL: every top-level directory of the
    * snapshot becomes a temp view of the same name, backed by parquet
    * served through a lazy pufs:// mount — the CLI form of "switch your
    * warehouse to a snapshot". */
  private def sql(repo: String, ref: String, query: String): Int =
    withSession { spark =>
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.pufs.impl", classOf[PufsFileSystem].getName)
      if (hc.get("fs.pufs.backing") == null)
        hc.set("fs.pufs.backing",
          java.nio.file.Files.createTempDirectory("cli-backing").toString)
      if (hc.get("fs.pufs.cache") == null)
        hc.set("fs.pufs.cache",
          java.nio.file.Files.createTempDirectory("cli-cache").toString)
      val sha = SnapshotStore.getRoot(repo, ref).getOrElse(ref)
      val mountPath = s"cli/$sha"
      PufsFileSystem.mountSnapshotAt(mountPath, repo, sha)
      try {
        // only paths with an enclosing directory become views: a top-level
        // `data.parquet` would yield a view name with a dot, which temp
        // views reject
        val tables = SnapshotStore.mountAt(repo, sha).map(_.path)
          .filter(p => p.endsWith(".parquet") && p.contains('/'))
          .flatMap(_.split('/').headOption).distinct.sorted
        tables.foreach { tbl =>
          spark.read.parquet(s"pufs:///$mountPath/$tbl")
            .createOrReplaceTempView(tbl)
        }
        spark.sql(query).show(1000, truncate = false)
        0
      } finally PufsFileSystem.unmountSnapshot(mountPath)
    }
}
