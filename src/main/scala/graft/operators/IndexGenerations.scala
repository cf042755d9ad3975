package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Generation log of an index directory — the puFS discipline of
  * immutable blocks plus one published root (PAPER.md §1.1), applied to
  * a standing index. A writer puts every table of generation N in
  * directories no reader looks at yet, then commits one small manifest,
  * `_gen/<N>`, that lists the data files of every table plus the row
  * count. Readers take the newest complete manifest and read exactly
  * the files it names: a crash before the commit is invisible, and files
  * that land in a table directory outside a commit are never served.
  *
  * Three invariants:
  *   1. a manifest counts only once complete — its last line is the
  *      trailer `end <N>`; a torn one is skipped and the previous
  *      generation serves;
  *   2. committing a number that already exists fails
  *      (`create(overwrite = false)`), so two writers can never publish
  *      the same generation;
  *   3. readers list `_gen/` only, never a data directory.
  *
  * Built on the Hadoop FileSystem of the directory's scheme, so indexes
  * on pufs:// mounts keep a log like local ones. Manifest paths are
  * relative to the index directory: a copied or published tree serves
  * from its new place. */
private[operators] object IndexGenerations {

  /** Generation `number`: `rows` rows (AnnIndex's vectors; the rows
    * that generation added for the other indexes), per table name the
    * data files (absolute paths) a reader serves from, in commit order,
    * and the corpus size a quantizer the generation serves was `fitted`
    * on (IVFPQ), if any. */
  final case class Manifest(number: Long, rows: Long,
      tables: Map[String, Seq[String]], fitted: Option[Long] = None) {
    def apply(table: String): Seq[String] = tables.getOrElse(table, Nil)

    /** What a reader keys state it derives from this generation on: its
      * number and files. The files, not the number alone: a rebuild
      * clears the log and commits generation 1 again, under data files
      * of new names. */
    def identity: String = (number.toString +: tables.toSeq.sortBy(_._1)
      .flatMap(_._2)).mkString("\n")
  }

  private val LogDir = "_gen"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Numbers of every manifest present, complete or not. */
  private def numbers(spark: SparkSession, dir: String): Seq[Long] = {
    val log = new Path(dir, LogDir)
    val fs = fsOf(spark, log)
    if (!fs.exists(log)) Nil
    else fs.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
  }

  /** The newest complete manifest, or None when `dir` has no log yet. A
    * manifest listed but gone by its read was [[prune]]d by commits
    * since, so the log is listed again. */
  def latest(spark: SparkSession, dir: String): Option[Manifest] =
    try numbers(spark, dir).sorted(Ordering[Long].reverse).iterator
      .flatMap(read(spark, dir, _)).nextOption()
    catch { case _: java.io.FileNotFoundException => latest(spark, dir) }

  /** Generation 0 of `dir`, a directory without a log: the data files
    * of each of `tables`, by listing. */
  def listed(spark: SparkSession, dir: String, tables: Set[String]): Manifest =
    Manifest(0, 0, tables.map(t => t -> files(spark, s"$dir/$t")).toMap)

  /** The newest complete manifest of `dir`, or its generation 0
    * ([[listed]]) when it has no log. */
  def current(spark: SparkSession, dir: String, tables: Set[String]): Manifest =
    latest(spark, dir).getOrElse(listed(spark, dir, tables))

  /** The number the next commit takes: one past every manifest present,
    * torn ones included, so a torn manifest is never overwritten. */
  def next(spark: SparkSession, dir: String): Long =
    (0L +: numbers(spark, dir)).max + 1

  private def read(spark: SparkSession, dir: String, n: Long): Option[Manifest] = {
    val p = new Path(s"$dir/$LogDir/$n")
    val fs = fsOf(spark, p)
    val lines =
      try {
        val in = fs.open(p)
        try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq
        finally in.close()
      } catch {
        // a crash mid-write can leave the checksum of a local manifest
        // disagreeing with its bytes: the manifest is torn, not corrupt
        case _: org.apache.hadoop.fs.ChecksumException => Nil
      }
    if (!lines.lastOption.contains(s"end\t$n")) None
    else {
      val kv = lines.init.map(_.split("\t", 2)).collect { case Array(k, v) => k -> v }
      def count(key: String) = kv.collectFirst { case (`key`, v) => v.toLong }
      count("rows").map(r => Manifest(n, r, kv.filterNot(e => Counts(e._1))
        .groupBy(_._1).map { case (t, fs) => t -> fs.map(f => s"$dir/${f._2}") },
        count("fitted")))
    }
  }

  /** The manifest keys that hold a count, not a table's file. */
  private val Counts = Set("rows", "fitted")

  /** Commit `m` as the newest generation of `dir`; fails if its number
    * is already taken. Every path in `m` must lie under `dir`. */
  def commit(spark: SparkSession, dir: String, m: Manifest): Unit = {
    val body = new StringBuilder(s"rows\t${m.rows}\n")
    m.fitted.foreach(n => body ++= s"fitted\t$n\n")
    for ((t, files) <- m.tables.toSeq.sortBy(_._1); f <- files) {
      require(f.startsWith(s"$dir/"), s"$f lies outside the index $dir")
      body ++= s"$t\t${f.stripPrefix(s"$dir/")}\n"
    }
    body ++= s"end\t${m.number}"
    val p = new Path(s"$dir/$LogDir/${m.number}")
    val out = fsOf(spark, p).create(p, false)
    try out.write(body.toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Delete every manifest, complete or torn, numbered below `number`,
    * under the writer's lock: [[latest]] serves none of them once a
    * newer one is complete, and [[next]] still counts past them. */
  def prune(spark: SparkSession, dir: String, number: Long): Unit = {
    val fs = fsOf(spark, new Path(dir, LogDir))
    numbers(spark, dir).filter(_ < number)
      .foreach(n => fs.delete(new Path(s"$dir/$LogDir/$n"), false))
  }

  /** Data files of a table directory a writer has just written — Spark's
    * visibility rule: names starting with `_` or `.` are not data. */
  def files(spark: SparkSession, tableDir: String): Seq[String] = {
    val p = new Path(tableDir)
    fsOf(spark, p).listStatus(p).toSeq.map(_.getPath.getName)
      .filterNot(hidden).sorted.map(n => s"$tableDir/$n")
  }

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** Write `df` as parquet at `path`, a directory no reader looks at
    * yet, and return its row count: an observation on the write, so no
    * job exists just to count. */
  def writeCounted(df: org.apache.spark.sql.DataFrame, path: String): Long = {
    val rows = org.apache.spark.sql.Observation()
    df.observe(rows, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n")).write.mode("overwrite").parquet(path)
    rows.get("n").asInstanceOf[Long]
  }

  /** Delete `path` and everything under it, if it exists. */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fsOf(spark, p).delete(p, true)
    ()
  }

  /** Whether `name`, a child of an index directory, is the index's own:
    * a generation's directory, or one of `tables`, the fixed paths its
    * builds and generation 0 use. */
  private def owned(tables: Set[String], name: String): Boolean =
    tables(name) || name.matches("g[0-9]+")

  /** Empty `dir` for a rebuild: its log, every generation and the fixed
    * `tables` go. Anything else a caller keeps there (the append lock,
    * an ingest's accepted/ and batch markers) stays. */
  def clear(spark: SparkSession, dir: String, tables: Set[String]): Unit = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (fs.exists(p))
      fs.listStatus(p).map(_.getPath)
        .filter(q => q.getName == LogDir || owned(tables, q.getName))
        .foreach(fs.delete(_, true))
  }

  /** Delete what no reader can reach once `next` is committed over
    * `prev`, under the writer's lock: every path under the index's own
    * directories ([[owned]] by `tables`) that no file either manifest
    * lists equals, lies under, or holds — superseded files, an
    * uncommitted (crashed) generation's directory, generation 0's tables
    * once both generations moved past them — and the manifests before
    * `prev`. A reader takes its manifest without the lock and opens the
    * files after, so `prev`'s stay for one more generation. Hidden names
    * (`_SUCCESS`, checksums) in a directory that holds live files stay.
    * What a crash here leaves, the next commit deletes. */
  def reclaim(spark: SparkSession, dir: String, tables: Set[String],
      prev: Manifest, next: Manifest): Unit = {
    val live = Seq(prev, next).flatMap(_.tables.values.flatten)
      .map(_.stripPrefix(s"$dir/")).toSet
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    def sweep(rel: String, isDir: Boolean): Unit =
      if (live.exists(l => rel == l || rel.startsWith(s"$l/"))) ()
      else if (isDir && live.exists(_.startsWith(s"$rel/")))
        fs.listStatus(new Path(root, rel)).filterNot(s => hidden(s.getPath.getName))
          .foreach(s => sweep(s"$rel/${s.getPath.getName}", s.isDirectory))
      else { fs.delete(new Path(root, rel), true); () }
    fs.listStatus(root).filter(s => owned(tables, s.getPath.getName))
      .foreach(s => sweep(s.getPath.getName, s.isDirectory))
    prune(spark, dir, prev.number)
  }

  /** Whether an append over a table whose files are `files` rewrites all
    * of its rows into the append's own files (compaction). Each append
    * adds files to the list a reader reads, and Spark lists a read of
    * more paths than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * with a job of its own, on every read. So once the list reaches that
    * count, and the files appends added since the last rewrite (a build,
    * a rewrite, or generation 0's table, whose files head the list)
    * outnumber the rewrite's own, the next append rewrites them all. */
  def rewrites(spark: SparkSession, files: Seq[String]): Boolean =
    files.nonEmpty && {
      val base = files.head.take(files.head.lastIndexOf('/') + 1)
      val (rewritten, appended) = files.partition(_.startsWith(base))
      files.size >= spark.sessionState.conf.parallelPartitionDiscoveryThreshold &&
        appended.size >= rewritten.size
    }
}
