package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One shared local session for the whole test run (JVM-wide; suites must not
  * stop it). Mirrors the driver harness config: UTC, few shuffle partitions.
  * Also the specs' shared measuring tools: a job counter, a plan-shape
  * normaliser and the metrics of the last streaming run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("4", appName = Some("graft-tests"))
    // "No Partition Defined for Window operation!": every single-partition
    // window is pinned to AuditSpec's allowlist, so the warning is noise here
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    s.streams.addListener(StreamRuns)
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs it started, counted by a job tag.
    * The listener bus delivers events in order, so once a marker job's
    * start is seen every earlier job of `body` has been counted. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-of-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tags = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet)
        if (tags(tag)) jobs.incrementAndGet()
        if (tags(tag + "-end")) marker.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val r = try body finally sc.removeJobTag(tag)
      sc.addJobTag(tag + "-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag + "-end")
      require(marker.await(60, TimeUnit.SECONDS), "the marker job's start never arrived")
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** The final plan of an executed query with the ids that differ between
    * runs of one plan (expression, codegen stage, query stage, exchange
    * and lambda variable ids) blanked out. */
  def planShape(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "#")
      .replaceAll("\\*\\(\\d+\\)", "*()")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("QueryStage \\d+", "QueryStage")
      .replaceAll("lambda x_\\d+", "lambda x_")

  /** A streaming run's totals: its query name, the input rows over every
    * micro-batch, the most state-store rows any micro-batch held, and the
    * micro-batch count. */
  final case class StreamRun(sink: String, inputRows: Long, maxStateRows: Long,
                             numBatches: Int)

  /** The totals of the most recently started streaming run on [[spark]],
    * once its terminated event has arrived. Start events are delivered
    * synchronously with the run's start; progress and terminated events
    * come in order through the listener bus, so after the terminated event
    * every progress event of the run has been counted. */
  def lastStreamRun(): StreamRun = StreamRuns.last()

  private object StreamRuns extends StreamingQueryListener {
    import StreamingQueryListener._

    private final class Run(name: String) {
      var inputRows = 0L
      var maxStateRows = 0L
      var numBatches = 0
      val done = new CountDownLatch(1)
      def totals: StreamRun =
        synchronized(StreamRun(name, inputRows, maxStateRows, numBatches))
    }
    private val runs = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Run]()
    @volatile private var latest: Option[Run] = None

    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      val r = new Run(e.name)
      runs.put(e.runId, r)
      latest = Some(r)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      Option(runs.get(p.runId)).foreach(r => r.synchronized {
        r.inputRows += p.numInputRows
        r.maxStateRows = math.max(r.maxStateRows,
          p.stateOperators.map(_.numRowsTotal).foldLeft(0L)(math.max))
        r.numBatches += 1
      })
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Option(runs.remove(e.runId)).foreach(_.done.countDown())

    def last(): StreamRun = {
      val r = latest.getOrElse(throw new IllegalStateException("no streaming run started"))
      require(r.done.await(10, TimeUnit.SECONDS), "the streaming run's terminated event never arrived")
      r.totals
    }
  }
}
