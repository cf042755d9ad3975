package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}

/** Attributes every Spark job a body launches to the SQL execution that
  * launched it. Most jobs of an adaptive query run on AQE or broadcast
  * threads and carry no call site of their own; the job's
  * `spark.sql.execution.id` property still names its execution, whose
  * start event carries the caller's stack. The job's own execution is
  * preferred over `spark.sql.execution.root.id`: inside a streaming
  * foreachBatch every write is a nested execution of the micro-batch's
  * root, and the root's frame would name the stream, not the write. A
  * job outside any execution (an RDD action, a parquet footer-inference
  * job) is attributed by its own stages' call sites.
  *
  * It also records which executions actually READ a parquet location: a
  * scan node's SQL metrics are updated only by tasks that run it, so a
  * frame served from a live cache or checkpoint reads nothing, while a
  * frame whose cache was dropped re-scans — the observable behind "the
  * pipeline is evaluated once per batch". And it records each
  * execution's plan nodes, so a test can ask which executions computed
  * an operator rather than read its result from a checkpoint.
  *
  * Same drain → register → run → drain discipline as ShuffleMetrics. */
object JobAttribution {

  /** A job, the SQL execution it ran under (None outside any execution),
    * and the first `graft.` frame of the code that launched it. */
  final case class Job(id: Int, execution: Option[Long], frame: String)

  final case class Record(jobs: Seq[Job],
      private val scanReads: Seq[(Int, String)],
      private val planNodes: Set[(Long, String)]) {
    /** Where a parquet location containing `path` was read: the SQL
      * execution ids, plus `-1 - jobId` for a job outside any execution. */
    def scansOf(path: String): Set[Long] = {
      val byId = jobs.map(j => j.id -> j).toMap
      scanReads.collect { case (job, loc) if loc.contains(path) =>
        byId.get(job).flatMap(_.execution).getOrElse(-1L - job)
      }.toSet
    }

    /** One line per SQL execution, in launch order: its id, its job
      * count and the frame that launched it; jobs outside any execution
      * get one line per frame, with id `-`. A per-frame count hides
      * which execution of a frame grew. */
    def summary: String =
      jobs.groupBy(j => (j.execution, j.frame)).toSeq.sortBy(_._2.map(_.id).min)
        .map { case ((e, f), js) => s"${e.fold("-")(_.toString)}\t${js.size}\t$f" }
        .mkString("execution\tjobs\tframe\n", "\n", "")

    /** The SQL executions whose initial or adaptive plan has a node whose
      * one-line description satisfies `p`. */
    def executionsWith(p: String => Boolean): Set[Long] =
      planNodes.collect { case (exec, node) if p(node) => exec }
  }

  private def firstGraftFrame(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))

  def of[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    val lock = new Object
    val execFrame = scala.collection.mutable.Map.empty[Long, String]
    val jobStarts = scala.collection.mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val stageJob = scala.collection.mutable.Map.empty[Int, Int]
    val scanMetric = scala.collection.mutable.Map.empty[Long, String]
    val stageAccums = scala.collection.mutable.Set.empty[(Int, Long)]
    val planNodes = scala.collection.mutable.Set.empty[(Long, String)]
    def planned(exec: Long, p: SparkPlanInfo): Unit = {
      for (loc <- p.metadata.get("Location") if p.nodeName.startsWith("Scan");
           m <- p.metrics) scanMetric(m.accumulatorId) = loc
      planNodes += exec -> p.simpleString
      p.children.foreach(planned(exec, _))
    }
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = lock.synchronized {
        jobStarts += js
        js.stageIds.foreach(stageJob(_) = js.jobId)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = lock.synchronized {
        for (a <- te.taskInfo.accumulables if a.update.isDefined)
          stageAccums += te.stageId -> a.id
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
        e match {
          case s: SparkListenerSQLExecutionStart =>
            firstGraftFrame(s.details).foreach(execFrame(s.executionId) = _)
            planned(s.executionId, s.sparkPlanInfo)
          case u: SparkListenerSQLAdaptiveExecutionUpdate =>
            planned(u.executionId, u.sparkPlanInfo)
          case _ => ()
        }
      }
    }
    // drain BEFORE registering, so no earlier job's queued events land
    // here; drain AFTER, so every event of the body's jobs has arrived
    org.apache.spark.GraftBusAccess.drain(sc)
    sc.addSparkListener(listener)
    val result =
      try { val r = body; org.apache.spark.GraftBusAccess.drain(sc); r }
      finally sc.removeSparkListener(listener)
    lock.synchronized {
      val jobs = jobStarts.toSeq.map { js =>
        val prop = (k: String) =>
          Option(js.properties).flatMap(p => Option(p.getProperty(k))).map(_.toLong)
        val exec = prop("spark.sql.execution.id")
        val root = prop("spark.sql.execution.root.id").orElse(exec)
        val frame = exec.flatMap(execFrame.get).orElse(root.flatMap(execFrame.get))
          .orElse(js.stageInfos.iterator.flatMap(s => firstGraftFrame(s.details))
            .nextOption())
          .getOrElse("<no graft frame>")
        Job(js.jobId, exec, frame)
      }
      val scanReads = stageAccums.toSeq.flatMap { case (stage, acc) =>
        for (job <- stageJob.get(stage); loc <- scanMetric.get(acc)) yield job -> loc
      }
      (result, Record(jobs, scanReads, planNodes.toSet))
    }
  }
}
