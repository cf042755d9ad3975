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

  /** Generation `number`: `rows` rows (AnnIndex's vectors; DedupIndex's
    * content hashes that generation added), and per table name the data
    * files (absolute paths) a reader serves from, in commit order. */
  final case class Manifest(number: Long, rows: Long,
      tables: Map[String, Seq[String]]) {
    def apply(table: String): Seq[String] = tables.getOrElse(table, Nil)
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
      val rows = kv.collectFirst { case ("rows", v) => v.toLong }
      rows.map(r => Manifest(n, r, kv.filter(_._1 != "rows")
        .groupBy(_._1).map { case (t, fs) => t -> fs.map(f => s"$dir/${f._2}") }))
    }
  }

  /** Commit `m` as the newest generation of `dir`; fails if its number
    * is already taken. Every path in `m` must lie under `dir`. */
  def commit(spark: SparkSession, dir: String, m: Manifest): Unit = {
    val body = new StringBuilder(s"rows\t${m.rows}\n")
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
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted
      .map(n => s"$tableDir/$n")
  }

  /** Delete `path` and everything under it, if it exists. */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fsOf(spark, p).delete(p, true)
    ()
  }

  /** Empty `dir` for a rebuild: its log, every generation and every
    * table go; the append lock file stays. */
  def clear(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (fs.exists(p))
      fs.listStatus(p).map(_.getPath)
        .filterNot(_.getName == ".append.lock")
        .foreach(fs.delete(_, true))
  }
}
