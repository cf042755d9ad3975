package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump every selected lane; a lane that THROWS gets an output dir
    * containing only an `_ERROR` file (its message), never silence.
    *
    * Round 12 proved the failure mode this kills: the old catch printed
    * to stderr and wrote nothing, the checker iterated only dirs that
    * exist, and a lane that crashed on every execution simply VANISHED
    * from the correctness artifact (182 entries for a 183-lane
    * registry) — a wrong answer masquerading as a pass. With the
    * sentinel the dir exists but holds no parquet, which every checker
    * (tools/check.py and the driver's) reports as a hard FAIL. */
  private[graft] def dumpLanes(spark: SparkSession, sfDir: String,
      outDir: String, only: Option[Set[String]],
      afterEach: () => Unit = () => (),
      queries: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = SparkEntry.queries): Unit = {
    val selected = queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val d = Paths.get(outDir, name)
        // a stale parquet dump from a previous run must not survive a
        // crash and report the OLD answer as this run's
        org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
        Files.createDirectories(d)
        Files.writeString(d.resolve("_ERROR"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      }
      // several lanes persist() shared subtrees (l2/l21/l25/l33/...);
      // without this, ~110 queries' dead caches accumulate in one
      // session, evicting useful blocks at larger scale factors
      afterEach()
    }
    // the registry the checker must see covered: output dirs != this set
    // means a lane was silently lost between Verify and the compare.
    // The invariant check.py enforces is lanes.json == output dirs, so:
    //  - FULL run: lanes.json = the whole registry, and any stray dir a
    //    prior differently-shaped run left behind is deleted (it would
    //    otherwise read as a lost/extra lane);
    //  - FILTERED dev run: lanes.json = selected ∪ the dirs already in
    //    outDir — overwriting it with just the subset made re-checking a
    //    previously-full outdir fail with spurious "dir not in registry".
    val existingDirs = Option(new java.io.File(outDir).listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSet
    val lanesOut =
      if (only.isEmpty) {
        (existingDirs -- selected.keySet).foreach { stray =>
          org.apache.commons.io.FileUtils
            .deleteQuietly(Paths.get(outDir, stray).toFile)
          ()
        }
        selected.keySet
      } else selected.keySet ++ existingDirs
    Files.writeString(Paths.get(s"$outDir/lanes.json"),
      lanesOut.toSeq.sorted
        .map(n => "\"" + n + "\"").mkString("[", ",", "]"))
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter (dev loop)]
    val (sfDir, outDir) = (args(0), args(1))
    // generated oracles (l54w/l53/l20/l64) bind to THIS dir's fixtures,
    // not to whichever dir's lane happened to run last (advisor r14)
    graft.operators.OracleDir.active = Some(sfDir)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    // clearCache() unpersists the JaccardIndex screens' eager
    // localCheckpoints; each emits a WARN ("lineage truncated, cannot
    // be recomputed") that is expected here — the RDDs are dead by
    // construction once a lane's dump is written. MapPartitionsRDD is
    // the logger of record for that WARN but also for many real ones,
    // so the ERROR level is scoped to the clearCache call only (the
    // lanes themselves run at the session's WARN level).
    def quietClearCache(): Unit = {
      val loggers = Seq(
        "org.apache.spark.rdd.LocalCheckpointRDD",
        "org.apache.spark.rdd.MapPartitionsRDD")
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.config.Configurator
      // restore each logger's PRIOR effective level, not a hardcoded
      // WARN — the session (or env) may have configured these differently
      val saved: Seq[(String, Level)] =
        loggers.map(n => n -> LogManager.getLogger(n).getLevel)
      loggers.foreach(Configurator.setLevel(_, Level.ERROR))
      try spark.catalog.clearCache()
      finally saved.foreach { case (n, lvl) => Configurator.setLevel(n, lvl) }
    }
    new java.io.File(outDir).mkdirs()
    dumpLanes(spark, sfDir, outDir, only, quietClearCache _)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
