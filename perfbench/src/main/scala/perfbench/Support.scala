package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same scale as the timestamps of Spark's listener events. */
final class Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Just enough JSON for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case o => quote(o.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** table -> rows from the generator's props.json. */
  def parseTables(props: String): Map[String, Long] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(props).get("tables")
    m.fieldNames().asScala.map(t => t -> m.get(t).get("rows").asLong()).toMap
  }
}

/** Process and host readings. */
object Proc {
  private def status(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def vmHwmMb(): Double = status("VmHWM") / 1024

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private var gc0 = 0L
  def markGc(): Unit = gc0 = gcMs()
  def gcSeconds(): Double = (gcMs() - gc0) / 1000.0

  def loadAvg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble

  private def files(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  /** Parquet data files under a directory tree. */
  def parquetFiles(dir: String): Int = files(dir).count(_.toString.endsWith(".parquet"))

  /** Size of all files under a directory tree, in MB. */
  def dirMb(dir: String): Double = files(dir).map(Files.size(_)).sum / 1048576.0
}

/** Exact cosine kNN in the driver, the reference for the ANN probes. */
object Knn {
  /** Under the recall@5 the LSH index reached on every seed tried. */
  val RecallFloor = 0.8

  def exact(spark: SparkSession, embeddings: String, probes: DataFrame,
      k: Int): Map[Long, Set[Long]] = {
    def unit(v: scala.collection.Seq[Float]): Array[Double] = {
      val a = v.map(_.toDouble).toArray
      val n = math.sqrt(a.map(x => x * x).sum)
      a.map(_ / n)
    }
    val corpus = spark.read.parquet(embeddings).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> unit(r.getSeq[Float](1)))
    probes.select("probe_id", "pv").collect().map { r =>
      val p = unit(r.getSeq[Float](1))
      val top = corpus.map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * p(i); i += 1 }
        (-s, id)
      }.sorted.take(k).map(_._2).toSet
      r.getLong(0) -> top
    }.toMap
  }

  /** recall@k over all probes. */
  def recall(want: Map[Long, Set[Long]], rows: Array[Row]): Double = {
    val got = rows.groupBy(_.getAs[Long]("probe_id"))
      .map { case (p, rs) => p -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val hit = want.map { case (p, ids) => (got.getOrElse(p, Set.empty) & ids).size }.sum
    hit.toDouble / want.values.map(_.size).sum
  }
}

/** Spark and streaming listener of a traced run: job spans tied to their
  * operation through the job group, stage spans with task aggregates,
  * and streaming batch spans. Everything stays in memory until the end. */
final class Tracer(clock: Clock) extends SparkListener {
  private final class StageAgg {
    var tasks = 0
    val durations = ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, inBytes, inRecords, shRead, shWrite, fetchMs, spill = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAgg]()
  private val out = ArrayBuffer.empty[Map[String, Any]]

  def reset(): Unit = synchronized { out.clear() }
  def spans: Seq[Map[String, Any]] = synchronized(out.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, Map("t0" -> e.time.toDouble, "group" -> group.getOrElse(""),
      "stages" -> e.stageIds.size))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = Option(jobs.remove(e.jobId)).getOrElse(Map.empty[String, Any])
    synchronized {
      out += Map("name" -> "job", "job" -> e.jobId,
        "group" -> j.getOrElse("group", ""), "stages" -> j.getOrElse("stages", 0),
        "t0" -> j.getOrElse("t0", e.time.toDouble), "t1" -> e.time.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val agg = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAgg)
    agg.synchronized {
      agg.tasks += 1
      agg.durations += e.taskInfo.duration
      agg.runMs += m.executorRunTime
      agg.cpuNs += m.executorCpuTime
      agg.gcMs += m.jvmGCTime
      agg.inBytes += m.inputMetrics.bytesRead
      agg.inRecords += m.inputMetrics.recordsRead
      agg.shRead += m.shuffleReadMetrics.totalBytesRead
      agg.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      agg.shWrite += m.shuffleWriteMetrics.bytesWritten
      agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val agg = Option(stages.remove((si.stageId, si.attemptNumber()))).getOrElse(new StageAgg)
    val d = agg.durations.sorted
    val t1 = si.completionTime.map(_.toDouble).getOrElse(clock.now())
    synchronized {
      out += Map("name" -> "stage", "stage" -> si.stageId,
        "job" -> Option(stageJob.get(si.stageId)).getOrElse(-1),
        "t0" -> si.submissionTime.map(_.toDouble).getOrElse(t1), "t1" -> t1,
        "tasks" -> agg.tasks,
        "task_max_ms" -> d.lastOption.getOrElse(0L),
        "task_median_ms" -> (if (d.isEmpty) 0L else d(d.size / 2)),
        "run_ms" -> agg.runMs, "cpu_ns" -> agg.cpuNs, "gc_ms" -> agg.gcMs,
        "input_bytes" -> agg.inBytes, "input_records" -> agg.inRecords,
        "shuffle_read_bytes" -> agg.shRead, "shuffle_write_bytes" -> agg.shWrite,
        "fetch_wait_ms" -> agg.fetchMs, "spill_bytes" -> agg.spill)
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows == 0) return
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Tracer.this.synchronized {
        out += Map("name" -> "stream_batch",
          "batch" -> p.batchId, "t0" -> t0, "t1" -> (t0 + d.getOrElse("triggerExecution", 0L)),
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "offsets_ms" -> (d.getOrElse("latestOffset", 0L) + d.getOrElse("walCommit", 0L) +
            d.getOrElse("commitOffsets", 0L)),
          "rows" -> p.numInputRows)
      }
    }
  }
}
