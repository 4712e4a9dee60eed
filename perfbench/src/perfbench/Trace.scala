package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer attribution for the traced run, from Spark's public listeners only.
  *
  * Before each op the client thread adds the job tag `perfbench-op-<id>`;
  * Spark copies a thread's tags onto every job, SQL execution and stream
  * thread it starts, so jobs, SQL executions and streams name the op that
  * caused them. A QueryExecutionListener callback carries no tag, so its
  * QueryExecution is matched to an op through the SQL metric accumulator
  * ids that the tagged execution-start events list. The listeners only
  * append to in-memory queues; [[Tracer.ops]] joins them after the run.
  */
object Trace {
  val TagPrefix = "perfbench-op-"
  def tag(op: Int): String = TagPrefix + op
  def opOf(tags: Iterable[String]): Option[Int] =
    tags.collectFirst { case t if t.startsWith(TagPrefix) => t.drop(TagPrefix.length).toInt }

  final case class Job(id: Int, op: Int, start: Long, stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long,
                         output: Long)
  final case class Exec(accIds: Set[Long], analysisMs: Long, optimizationMs: Long, planningMs: Long,
                        files: Long, scanNs: Long, metadataMs: Long)
  final case class Batch(op: Int, durations: Map[String, Long], stateBytes: Long)
}

final class Tracer(spark: SparkSession) extends SparkListener {
  import Trace._
  private val sc: SparkContext = spark.sparkContext
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val failedTasks = new ConcurrentHashMap[Int, java.lang.Integer]()
  private val execOps = new ConcurrentHashMap[Long, Integer]()
  private val accOps = new ConcurrentHashMap[Long, Integer]()
  private val execs = new ConcurrentLinkedQueue[Exec]()
  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val streamOps = new ConcurrentHashMap[java.util.UUID, Integer]()
  @volatile private var lastEvent = System.nanoTime()

  private def touch(): Unit = lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    opOf(tags).foreach(op => jobs.add(Job(e.jobId, op, e.time, e.stageIds)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch(); jobEnds.put(e.jobId, e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
      .add(e.taskInfo.duration)
    if (e.taskInfo.failed || e.taskInfo.killed) failedTasks.merge(e.stageId, 1, (a: Integer, b: Integer) => a + b)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(Stage(i.stageId, i.numTasks, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten))
  }

  private def planAccs(op: Integer, info: SparkPlanInfo): Unit = {
    info.metrics.foreach(m => accOps.put(m.accumulatorId, op))
    info.children.foreach(planAccs(op, _))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      touch()
      opOf(s.jobTags).foreach { op =>
        execOps.put(s.executionId, op); planAccs(op, s.sparkPlanInfo)
      }
    case s: SparkListenerSQLAdaptiveExecutionUpdate =>
      touch(); Option(execOps.get(s.executionId)).foreach(planAccs(_, s.sparkPlanInfo))
    case _ => ()
  }

  /** Catalyst phase times and scan metrics of every finished action. */
  val executions: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      touch()
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val plan = scala.util.Try(qe.executedPlan).toOption
      val (files, scanNs, metaMs) = plan.map(Tracer.scans).getOrElse((0L, 0L, 0L))
      execs.add(Exec(plan.map(Tracer.accIds).getOrElse(Set.empty), ms("analysis"),
        ms("optimization"), ms("planning"), files, scanNs, metaMs))
    }
  }

  /** Streaming progress, attributed to the op that started the query. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit =
      opOf(sc.getJobTags()).foreach(op => streamOps.put(e.id, op))
    def onQueryProgress(e: QueryProgressEvent): Unit = {
      touch()
      val p = e.progress
      Option(streamOps.get(p.id)).foreach { op =>
        batches.add(Batch(op, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.memoryUsedBytes).sum))
      }
    }
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(executions)
    spark.streams.addListener(streams)
  }

  def uninstall(): Unit = {
    quiesce()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(executions)
    spark.streams.removeListener(streams)
  }

  /** Waits until the asynchronous listener bus has delivered the run's
    * events: every traced job has ended and nothing arrived for 0.5 s. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 15e9.toLong
    while (System.nanoTime() < deadline &&
      (System.nanoTime() - lastEvent < 5e8.toLong ||
        jobs.asScala.exists(j => !jobEnds.containsKey(j.id)))) Thread.sleep(100)
  }

  /** Per-op layer totals, keyed by the names run.py reads (times in
    * seconds); a layer an op never touched has no entry. `constructEnd`
    * maps an op to the wall-clock ms at which its construct step returned. */
  def ops(constructEnd: Map[Int, Long]): Map[Int, Map[String, Any]] = {
    val stageById = stages.asScala.toSeq.groupBy(_.id).view.mapValues(_.last).toMap
    val execByOp = execs.asScala.toSeq
      .flatMap(x => x.accIds.iterator.map(accOps.get).find(_ != null).map(op => (op.intValue, x)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val batchByOp = batches.asScala.toSeq.groupBy(_.op)
    val jobsByOp = jobs.asScala.toSeq.groupBy(_.op)
    val opIds = jobsByOp.keySet ++ execByOp.keySet ++ batchByOp.keySet
    opIds.iterator.map { op =>
      val js = jobsByOp.getOrElse(op, Nil)
      val spans = js.map(j => (j.start, Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.start)))
      val st = js.flatMap(_.stages).distinct.flatMap(stageById.get)
      val skew = st.map { s =>
        val ts = Option(taskMs.get(s.id)).map(_.asScala.map(_.longValue).toSeq.sorted).getOrElse(Nil)
        if (ts.isEmpty || ts(ts.size / 2) == 0) 1.0 else ts.last.toDouble / ts(ts.size / 2)
      }.foldLeft(1.0)(math.max)
      val ex = execByOp.getOrElse(op, Nil)
      val bs = batchByOp.getOrElse(op, Nil)
      def dur(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum / 1e3
      val cEnd = constructEnd.getOrElse(op, Long.MaxValue)
      op -> Map[String, Any](
        "jobs" -> js.size, "construct_jobs" -> js.count(_.start <= cEnd), "stages" -> st.size,
        "tasks" -> st.map(_.tasks).sum, "jobs_wall_s" -> Tracer.unionS(spans),
        "task_run_s" -> st.map(_.runMs).sum / 1e3, "task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
        "gc_s" -> st.map(_.gcMs).sum / 1e3,
        "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
        "shuffle_read_bytes" -> st.map(_.shuffleRead).sum, "spill_bytes" -> st.map(_.spill).sum,
        "input_bytes" -> st.map(_.input).sum, "output_bytes" -> st.map(_.output).sum,
        "failed_tasks" -> st.map(s => Option(failedTasks.get(s.id)).map(_.intValue).getOrElse(0)).sum,
        "task_skew" -> skew,
        "analysis_s" -> ex.map(_.analysisMs).sum / 1e3,
        "optimization_s" -> ex.map(_.optimizationMs).sum / 1e3,
        "planning_s" -> ex.map(_.planningMs).sum / 1e3,
        "files_read" -> ex.map(_.files).sum, "scan_s" -> ex.map(_.scanNs).sum / 1e9,
        "metadata_s" -> ex.map(_.metadataMs).sum / 1e3,
        "stream_batches" -> bs.size, "trigger_s" -> dur("triggerExecution"),
        "wal_s" -> dur("walCommit"), "stream_planning_s" -> dur("queryPlanning"),
        "addbatch_s" -> dur("addBatch"),
        "state_bytes" -> (if (bs.isEmpty) 0L else bs.map(_.stateBytes).max),
        "job_spans" -> spans.map { case (a, b) => Seq(a, b).asJava }.asJava)
    }.toMap
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Total length of the union of [start, end] ms intervals, in seconds. */
  def unionS(spans: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  def accIds(plan: SparkPlan): Set[Long] =
    collectWithSubqueries(plan) { case p => p.metrics.values.map(_.id) }.flatten.toSet

  /** (files read, scan ns, metadata ms) from the file-scan nodes of a plan,
    * adaptive stages and subqueries included. */
  def scans(plan: SparkPlan): (Long, Long, Long) = {
    val nodes = collectWithSubqueries(plan) { case p if p.metrics.contains("numFiles") => p }
    def sum(k: String, ns: Boolean): Long = nodes.flatMap(_.metrics.get(k)).map { m =>
      if (ns && m.metricType == "timing") m.value * 1000000L else m.value
    }.sum
    (sum("numFiles", ns = false), sum("scanTime", ns = true), sum("metadataTime", ns = false))
  }
}
