package perfbench

import java.io.File
import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkEntry
import graft.ApiServer
import graft.operators.{AnnIndex, DedupIndex, JaccardIndex}
import graft.sources.{PufsFileSystem, SnapshotStore}
import graft.streaming.StreamJobs

/** One benchmark run inside one JVM: set-up, a closed loop of operations
  * from a single client thread for a fixed amount of measured time, and
  * answer checks outside the timed intervals. Everything the run saw goes
  * to `<work>/result.json`; run.py turns it into metrics.
  *
  * Arguments are `key=value`: mode (run | oracles), workload, data,
  * work, seconds, trace (0 | 1), reps (set-up repetitions), lanes (the
  * batch_mix rotation, comma-separated), out. */
object Runner {

  val ScanLane = "a1_tpch_q1"

  /** serve_ingest: rounds of serve reads after each ingest. An ingest
    * takes 15-20 s and a serve read about 1 s; three rounds give the
    * serve path enough samples per run. */
  val ServeRounds = 3

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    a("mode") match {
      case "oracles" =>
        val sql = SparkEntry.oracleSql
        Files.writeString(Paths.get(a("out")), Json.write(
          a("lanes").split(",").filter(sql.contains).map(l => l -> sql(l)).toMap))
      case "run" => new Runner(a).run()
    }
  }
}

final class Runner(a: Map[String, String]) {
  import Runner._

  private val workload = a("workload")
  private val data = new File(a("data")).getAbsolutePath
  private val work = new File(a("work")).getAbsolutePath
  private val seconds = a("seconds").toDouble
  private val tracing = a("trace") == "1"
  private val reps = a("reps").toInt
  private val batchLanes = a.getOrElse("lanes", "").split(",").filter(_.nonEmpty).toSeq

  private val clock = new Clock
  private val ops = ArrayBuffer.empty[Op]
  private val warm = ArrayBuffer.empty[Op]
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val setupReps = ArrayBuffer.empty[Map[String, Any]]
  private val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private var current: Op = _
  private var spark: SparkSession = _
  private var tracer: Tracer = _

  /** One timed operation; `t0`/`t1` are epoch ms. */
  final class Op(val id: Int, val kind: String, val lane: String) {
    var t0, t1 = 0.0
    var rows = 0L
    var error: String = ""
    val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind, "lane" -> lane,
      "t0" -> t0, "t1" -> t1, "rows" -> rows,
      "error" -> error, "counters" -> counters.toMap)
  }

  def run(): Unit = {
    val t0 = clock.now()
    val cpus = Runtime.getRuntime.availableProcessors()
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.pufs.impl", "graft.sources.PufsFileSystem")
    hc.set("fs.pufs.cache", s"$work/arena-setup")
    info("session_s") = (clock.now() - t0) / 1000
    info("cpus") = cpus
    if (tracing) {
      tracer = new Tracer(clock)
      spark.sparkContext.addSparkListener(tracer)
      spark.streams.addListener(tracer.streamListener)
    }
    try workload match {
      case "lake_scan" => lakeScan()
      case "batch_mix" => batchMix()
      case "serve_ingest" => serveIngest()
    } finally {
      if (tracing) {
        BusDrain.drain(spark.sparkContext)
        spans ++= tracer.spans
      }
      info("check_s") = checkMs / 1000
      info("rss_peak_mb") = Proc.vmHwmMb()
      info("heap_peak_mb") = Proc.heapPeakMb()
      info("jvm_gc_s") = Proc.gcSeconds()
      info("loadavg") = Proc.loadAvg()
      Files.writeString(Paths.get(a("out")), Json.write(Map(
        "info" -> info.toMap, "setup_reps" -> setupReps.toSeq,
        "ops" -> ops.map(_.toMap).toSeq, "warmup" -> warm.map(_.toMap).toSeq,
        "spans" -> spans.toSeq)))
      spark.stop()
    }
  }

  // ---- timing -------------------------------------------------------

  private def opTime: Double = ops.map(o => o.t1 - o.t0).sum / 1000

  /** Runs whole cycles until the measured operation time reaches
    * `seconds` and at least `minCycles` ran (or the inputs for
    * `maxCycles` cycles run out). With `warmup`, cycle 0 runs first and
    * is checked but not timed. */
  private def closedLoop(maxCycles: Int, warmup: Boolean, minCycles: Int = 1)(
      cycle: Int => Unit): Unit = {
    var c = 0
    if (warmup) {
      cycle(0)
      warm ++= ops
      ops.clear(); spans.clear()
      if (tracing) tracer.reset()
      c = 1
    }
    Proc.markGc()
    val first = c
    while ((c - first < minCycles || opTime < seconds) && c < maxCycles) { cycle(c); c += 1 }
    info("cycles") = c - first
  }

  private var nextId = 0
  private var checkMs = 0.0

  /** Times `body` as one operation; `check` runs after the timed
    * interval and returns an error message for a wrong answer. A throw
    * or a wrong answer marks the operation failed; its time is kept. */
  private def op[T](kind: String, lane: String = "")(body: => T)(check: T => String): Op = {
    val o = new Op(nextId, kind, lane)
    nextId += 1
    current = o
    if (tracing) spark.sparkContext.setJobGroup(s"op-${o.id}", s"$kind $lane")
    o.t0 = clock.now()
    val res = try Right(body) catch { case e: Exception => Left(e) }
    o.t1 = clock.now()
    current = null
    if (tracing) {
      spark.sparkContext.clearJobGroup()
      spans += span(o.id, "op", o.t0, o.t1)
    }
    o.error = res match {
      case Left(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      case Right(v) => try check(v) catch {
        case e: Exception => s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
    }
    checkMs += clock.now() - o.t1
    ops += o
    o
  }

  private def span(opId: Int, name: String, t0: Double, t1: Double): Map[String, Any] =
    Map("op" -> opId, "name" -> name, "t0" -> t0, "t1" -> t1)

  /** A span inside the current operation of a traced run. */
  private def sub[T](name: String)(f: => T): T =
    if (current == null || !tracing) f
    else {
      val s = clock.now()
      try f finally spans += span(current.id, name, s, clock.now())
    }

  /** Plans and executes a query, returning its rows. */
  private def collect(df: DataFrame): Array[Row] = {
    sub("plan")(df.queryExecution.executedPlan)
    sub("execute")(df.collect())
  }

  /** An answer as text, row by row: answers compared with each other
    * always come from this process with the same schema. */
  private def canon(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toString)

  private def mismatch(got: Seq[String], want: Seq[String]): String =
    if (got == want) ""
    else if (got.size != want.size) s"rows ${got.size} != ${want.size}"
    else {
      val i = got.indices.find(i => got(i) != want(i)).get
      s"row $i differs: ${got(i).take(120)} != ${want(i).take(120)}"
    }

  private def timedSetup(reps: Int)(one: Int => Map[String, Any]): Unit =
    for (r <- 0 until reps) {
      val t = clock.now()
      val parts = one(r)
      setupReps += parts + ("total_s" -> (clock.now() - t) / 1000)
    }

  // ---- lake_scan ----------------------------------------------------

  private def lakeScan(): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    var repo = ""
    var handle: ApiServer.Handle = null
    var backing = ""
    var linkFs: PufsFileSystem = null

    def relink(): Int = {
      val entries = SnapshotStore.mount(repo, "lake")
      entries.foreach { e =>
        val url = s"http://127.0.0.1:${handle.port}/v1/read?path=" +
          URLEncoder.encode(e.path, UTF_8)
        linkFs.addRemoteUrl(new Path("/" + e.path), url, "", e.size)
      }
      entries.size
    }

    timedSetup(reps) { r =>
      if (handle != null) handle.stop()
      repo = s"$work/repo-$r"
      backing = s"$work/backing-$r"
      new File(backing).mkdirs()
      val t0 = clock.now()
      val st = SnapshotStore.publish(spark, data, repo, "lake")
      val t1 = clock.now()
      handle = ApiServer.start(repo, "lake")
      val t2 = clock.now()
      val prefix = PufsFileSystem.registerBacking(s"link$r", backing)
      linkFs = FileSystem.get(java.net.URI.create(prefix + "/"), hc)
        .asInstanceOf[PufsFileSystem]
      val n = relink()
      Map("publish_s" -> (t1 - t0) / 1000, "daemon_s" -> (t2 - t1) / 1000,
        "relink_s" -> (clock.now() - t2) / 1000, "files" -> n,
        "files_hashed" -> st.hashed, "blocks_uploaded" -> st.uploaded)
    }

    // reference answer: the same lane over the local files
    val local = SparkEntry.queries(ScanLane)(spark, data)
    val ref = canon(local.collect())
    // the columns each table scan reads, from which run.py sums the bytes
    // a scan needs (Spark counts no bytes read through pufs://)
    info("scan_columns") = local.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.head.getName -> s.requiredSchema.fieldNames.toSeq
    }.toMap
    val rowsIn = declaredRows(SparkEntry.queries(ScanLane)(spark, data))
    val extras = new File(s"$work/extra").listFiles().map(_.getName).sorted
    var token = 0

    def counters(): (Long, Int, Int) = (PufsFileSystem.bytesPulled.get(),
      PufsFileSystem.fetchCount.get(), PufsFileSystem.vectoredRanges.get())
    def scan(kind: String, prefix: String): Unit = {
      val before = counters()
      val o = op(kind, ScanLane) {
        collect(SparkEntry.queries(ScanLane)(spark, prefix))
      }(rows => mismatch(canon(rows), ref))
      val after = counters()
      o.rows = rowsIn
      o.counters("pulled_bytes") = (after._1 - before._1).toDouble
      o.counters("fetches") = (after._2 - before._2).toDouble
      o.counters("vectored_ranges") = (after._3 - before._3).toDouble
    }

    closedLoop(extras.length, warmup = true) { c =>
      token += 1
      val arena = s"$work/arena-$token"
      hc.set("fs.pufs.cache", arena)
      val prefix = PufsFileSystem.registerBacking(s"cold$token", backing)
      if (c == 1) PufsFileSystem.latencySamples.reset()
      scan("cold_scan", prefix)
      scan("warm_scan", prefix)
      org.apache.commons.io.FileUtils.deleteQuietly(new File(arena))

      // a producer drops a new partition that no scan reads
      val name = extras(c)
      val dst = Paths.get(data, "extra.parquet", name)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(work, "extra", name), dst, StandardCopyOption.REPLACE_EXISTING)
      var st: SnapshotStore.PublishStats = null
      var files = 0
      val o = op("publish") {
        st = sub("publish")(SnapshotStore.publish(spark, data, repo, "lake"))
        sub("daemon_restart") {
          handle.stop()
          handle = ApiServer.start(repo, "lake")
        }
        files = sub("relink")(relink())
        st
      } { st =>
        val entries = SnapshotStore.mount(repo, "lake")
        val added = entries.find(_.path == s"extra.parquet/$name")
        if (!SnapshotStore.getRoot(repo, "lake").contains(st.manifestSha))
          "label does not point at the published manifest"
        else if (!added.exists(_.size == Files.size(dst)))
          s"published manifest lacks extra.parquet/$name"
        else ""
      }
      if (st != null) {
        o.counters("files_hashed") = st.hashed
        o.counters("blocks_uploaded") = st.uploaded
      }
      o.counters("files_linked") = files
    }
    val lat = PufsFileSystem.latencySamples.percentiles(Seq(0.5, 0.99))
    info("fetch_us_p50") = lat(0)
    info("fetch_us_p99") = lat(1)
    handle.stop()
  }

  private lazy val tableRows = Json.parseTables(Files.readString(Paths.get(work, "props.json")))

  /** Rows the generator wrote to the tables a query reads. */
  private def declaredRows(df: DataFrame): Long =
    df.inputFiles.map(f => new Path(f).getParent.getName.stripSuffix(".parquet"))
      .distinct.map(t => tableRows.getOrElse(t, 0L)).sum

  // ---- batch_mix ----------------------------------------------------

  private def batchMix(): Unit = {
    val first = scala.collection.mutable.Map.empty[String, Seq[String]]
    val rowsIn = scala.collection.mutable.Map.empty[String, Long]
    val answers = s"$work/answers"
    // no warm-up: a batch job pays JIT and code generation in every
    // process, and one rotation already takes longer than a run measures
    closedLoop(Int.MaxValue, warmup = false) { _ =>
      for (lane <- batchLanes) {
        var df: DataFrame = null
        val o = op("lane", lane) {
          df = SparkEntry.queries(lane)(spark, data)
          collect(df)
        } { rows =>
          val got = canon(rows)
          if (!rowsIn.contains(lane)) rowsIn(lane) = declaredRows(df)
          first.get(lane) match {
            case Some(want) => mismatch(got, want)
            case None =>
              // the first answer is dumped for the oracle comparison in
              // run.py; later answers must equal it
              first(lane) = got
              spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
                .write.mode("overwrite").parquet(s"$answers/$lane")
              ""
          }
        }
        o.rows = rowsIn.getOrElse(lane, 0L)
      }
    }
  }

  // ---- serve_ingest -------------------------------------------------

  private def serveIngest(): Unit = {
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val docs = spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
    val evalDocs = spark.read.parquet(s"$work/eval.parquet")
    var pipe, annDir, inDir = ""
    var query: StreamingQuery = null

    timedSetup(reps) { r =>
      if (query != null) query.stop()
      val base = s"$work/serve-$r"
      pipe = s"$base/pipe"; annDir = s"$base/ann"; inDir = s"$base/in"
      new File(inDir).mkdirs()
      def t[T](f: => T): Double = { val s = clock.now(); f; (clock.now() - s) / 1000 }
      val parts = Map(
        "exact_s" -> t(DedupIndex.build(spark, docs, s"$pipe/exact")),
        "jaccard_s" -> t(JaccardIndex.build(spark, docs, s"$pipe/jaccard")),
        "ann_s" -> t(AnnIndex.build(spark, data, annDir)),
        "decontam_s" -> t(StreamJobs.buildDecontamModel(evalDocs, s"$base/model")),
        "stream_s" -> t {
          query = StreamJobs.curateIngest(
            spark.readStream.schema(docSchema).parquet(inDir), s"$base/model", pipe)
            .option("checkpointLocation", s"$base/checkpoint")
            .start()
        })
      parts
    }

    // references, built once: the index texts for the exact screen,
    // exact kNN for the probes
    val screenExact = spark.read.parquet(s"$work/screen_exact.parquet")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val probes = spark.read.parquet(s"$work/probes.parquet")
    val indexTexts = scala.collection.mutable.HashSet.empty[String]
    indexTexts ++= docs.select("text").collect().map(_.getString(0))
    val knn = Knn.exact(spark, s"$data/embeddings.parquet", probes, 5)
    val screenDf = spark.createDataFrame(
      screenExact.toSeq.map { case (i, t) => Row(i, t) }.asJava, docSchema)
    val ingestFiles = new File(s"$work/ingest").listFiles().map(_.getName).sorted
    val expectedAll = ArrayBuffer.empty[Long]

    // no warm-up: the index builds run the same code paths. An ingest
    // takes longer than a run measures, so at least two cycles are timed
    closedLoop(ingestFiles.length, warmup = false, minCycles = 2) { c =>
      val name = ingestFiles(c)
      val batch = spark.read.parquet(s"$work/ingest/$name").select("doc_id", "kind").collect()
      val expected = batch.collect { case Row(id: Long, "new") => id }.toSet
      val staged = Paths.get(inDir, "." + name)
      Files.copy(Paths.get(work, "ingest", name), staged)
      val ingest = op("ingest") {
        Files.move(staged, Paths.get(inDir, name), StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
      } { _ =>
        // one micro-batch per ingest, numbered from 0
        val got = spark.read.parquet(s"$pipe/accepted").filter(col("batch_id") === c)
          .select("doc_id", "text").collect()
        indexTexts ++= got.map(_.getString(1))
        val ids = got.map(_.getLong(0)).toSet
        if (ids == expected) "" else
          s"accepted ${ids.size} docs, expected ${expected.size} " +
            s"(${(ids -- expected).size} unexpected, ${(expected -- ids).size} missing)"
      }
      ingest.rows = batch.length
      expectedAll ++= expected

      for (_ <- 1 to ServeRounds) {
        val screen = op("screen_exact")(
          collect(DedupIndex.newAgainst(spark, s"$pipe/exact", screenDf))) { rows =>
          val want = screenExact.collect { case (i, t) if !indexTexts(t) => i }.toSet
          val got = rows.map(_.getAs[Long]("doc_id")).toSet
          if (got == want) "" else s"screen kept ${got.size} docs, expected ${want.size}"
        }
        screen.rows = screenExact.length
        var recall = 0.0
        val probe = op("probe_ann")(collect(AnnIndex.queryProbes(spark, annDir, probes, 5))) { rows =>
          recall = Knn.recall(knn, rows)
          if (recall >= Knn.RecallFloor) "" else f"recall@5 $recall%.3f under ${Knn.RecallFloor}"
        }
        probe.rows = knn.size
        probe.counters("recall") = recall
        screen.counters("exact_mb") = Proc.dirMb(s"$pipe/exact")
      }
    }
    // the accepted set of the whole run, recomputed in one read
    val all = spark.read.parquet(s"$pipe/accepted").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    info("accepted_total") = all.size
    info("accepted_check") = if (all.size == expectedAll.size && all == expectedAll.toSet) ""
      else s"accepted ${all.size} docs over the run, expected ${expectedAll.size}"
    info("index_exact_files") = Proc.parquetFiles(s"$pipe/exact")
    info("index_jaccard_files") = Proc.parquetFiles(s"$pipe/jaccard")
    query.stop()
  }
}
