package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured-Streaming lift of the event-time analytics: the same
  * declarative transforms as graft.operators.EventAnalytics, but over
  * `readStream` with watermarked state — the idiomatic upgrade path from the
  * reference's daily re-run batches (`airflow/dags/etl_api.py:85`,
  * `schedule_interval=timedelta(days=1)`) to continuous incremental
  * processing.
  *
  * Scale notes: state is keyed on (window, event_type) / (session, user_id) —
  * bounded by the watermark horizon, so executors hold O(active windows)
  * state, not O(history). Late events beyond the watermark are dropped
  * deterministically instead of corrupting totals.
  */
object EventStream {

  /** File-source stream of events-shaped JSON: schema declared, never
    * inferred (streaming requires it, and so does 100 TB batch — same rule). */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(Tables.events)
      .json(path)

  /** Tumbling 1-hour counts+sums per event type, tolerating 10 minutes of
    * event-time lateness. */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("unix_hour"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Per-user session aggregation (10-minute inactivity gap) with watermark —
    * the streaming form of q26_session_window. */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").cast("long").as("sess_start"),
        col("n_events"))

  /** Streaming ingest dedup: drop events whose `event_id` was already seen
    * within the watermark horizon — the standard first stage of a streaming
    * training-data pipeline (at-least-once sources redeliver; exactly-once
    * ingest is reconstructed here). `dropDuplicatesWithinWatermark` keeps
    * per-key state only until the watermark passes, so executor state is
    * O(events per horizon), not O(history) — the property a plain
    * `dropDuplicates` on a stream lacks (its state grows forever). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: attribute each action to a same-user
    * impression at most `horizonMin` minutes earlier. Both sides carry
    * watermarks and the join condition bounds event-time distance, so each
    * side's buffered state is capped by watermark + horizon — the canonical
    * bounded-state stream-stream join layout. An unbounded condition (plain
    * equi-join of two streams) would require infinite state; Spark rejects
    * it — by design, and so does this engine. */
  def attributeActions(impressions: DataFrame, actions: DataFrame,
                       horizonMin: Int = 60): DataFrame = {
    val i = impressions.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("i_user"), col("ts").as("i_ts"),
        col("event_id").as("impression_id"))
    val a = actions.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"),
        col("event_id").as("action_id"))
    a.join(i,
      col("a_user") === col("i_user") &&
        col("i_ts") <= col("a_ts") &&
        col("i_ts") >= col("a_ts") - expr(s"INTERVAL $horizonMin MINUTES"))
      .select(col("a_user").as("user_id"), col("action_id"),
        col("impression_id"),
        col("a_ts").cast("long").as("action_ts"),
        col("i_ts").cast("long").as("impression_ts"))
  }

  // ---- custom state: flatMapGroupsWithState ------------------------------

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** The running sum is carried as exact CENTS (the fixture `value` domain is
    * 2-dp) so a closed session's `sum_value` is independent of fold order and
    * hash-comparable against a DECIMAL-summing batch oracle — the same
    * exact-sum discipline as [[graft.functions.ExactAgg.exactSum]]. */
  case class UserSessionState(start: Long, lastTs: Long, n: Long, sumCents: Long)
  case class ClosedSession(user_id: Long, sess_start: Long, n_events: Long, sum_value: Double)

  /** Custom stateful sessionization via `flatMapGroupsWithState`: unlike the
    * declarative `session_window` aggregate, the state type is ours — here it
    * carries a running value sum, and a closed session is emitted the moment
    * the event-time watermark passes its gap deadline. State per key is
    * O(1); the watermark bounds how long a session can stay open, so
    * executor state doesn't grow with history — the property that keeps this
    * runnable forever on an unbounded stream. */
  def sessionizeWithState(events: Dataset[UserEvent], gapSec: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, batch: Iterator[UserEvent], state: GroupState[UserSessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.start, s.n, s.sumCents / 100.0))
          } else {
            // fold the batch in event-time order; emit sessions closed by
            // intra-batch gaps, keep the trailing one in state
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var cur = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            for (e <- sorted) {
              val t = e.ts.getTime / 1000
              val c = math.round(e.value * 100)
              cur match {
                case Some(s) if t <= s.lastTs + gapSec =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, sumCents = s.sumCents + c))
                case Some(s) =>
                  closed += ClosedSession(user, s.start, s.n, s.sumCents / 100.0)
                  cur = Some(UserSessionState(t, t, 1, c))
                case None =>
                  cur = Some(UserSessionState(t, t, 1, c))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.lastTs + gapSec) * 1000)
            }
            closed.result().iterator
          }
      }
  }

  case class TypedEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String)
  case class LastTouch(t: Long, event_id: Long, event_type: String)
  case class Attribution(user_id: Long, purchase_id: Long, purchase_t: Long,
                         touch_event_id: Option[Long], touch_type: Option[String],
                         gap_s: Option[Long])

  /** Streaming last-touch attribution — the q124 whole-row as-of lifted onto
    * an unbounded stream via `flatMapGroupsWithState`. The batch form is one
    * window pass; a stream can't sort history, so the window's running
    * `last(ignoreNulls)` becomes explicit O(1) per-user state: the most
    * recent click/view seen so far. Each micro-batch folds its events in
    * event-time order ((ts, event_id) — the batch query's exact total
    * order), updating the touch state and emitting one [[Attribution]] per
    * purchase. Purchases before any touch attribute to None (the LEFT-asof
    * semantic, same as batch). State never grows with history — one
    * [[LastTouch]] per user — so this runs forever on an unbounded stream;
    * late cross-batch arrivals follow the stream's watermark discipline
    * (an event-time-late touch that arrives after a purchase was emitted
    * cannot retro-attribute it — the streaming/batch parity holds for
    * in-order delivery, which StreamingSpec drives explicitly). */
  def attributeAsOfStream(events: Dataset[TypedEvent]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastTouch, Attribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[TypedEvent], state: GroupState[LastTouch]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var touch = state.getOption
          val out = Seq.newBuilder[Attribution]
          for (e <- sorted) {
            val t = e.ts.getTime / 1000
            e.event_type match {
              case "click" | "view" =>
                touch = Some(LastTouch(t, e.event_id, e.event_type))
              case "purchase" =>
                out += Attribution(user, e.event_id, t,
                  touch.map(_.event_id), touch.map(_.event_type),
                  touch.map(lt => t - lt.t))
              case _ => () // other event types neither touch nor convert
            }
          }
          touch.foreach(state.update)
          out.result().iterator
      }
  }

  /** Checkpoint root for the run-once streams, in the default temp dir,
    * deleted after termination (the checkpoint of an AvailableNow run-once
    * query is transient by design; these streams restart from scratch
    * every invocation). Production deployments point
    * checkpointLocation at durable storage. A tmpfs root buys nothing
    * measurable: four alternating graft.Bench pairs at sf0.1 on a 4-core
    * host (median of min-of-5) gave q384 4.27 s on /dev/shm against 4.23 s
    * here, and q379 2.38 s against 2.46 s. */
  private def transientCheckpointDir(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_ckpt_")

  /** Guard for the session-wide `resetTerminated()` calls below: this
    * engine's documented invariant is one stream at a time (Verify, Bench
    * and the specs all drive streams sequentially), and clearing the
    * manager's terminated set is only correct under it — a concurrent
    * stream's caller could be relying on awaitAnyTermination() or on
    * inspecting another query's terminated state. Fail loudly if the
    * invariant is ever broken rather than corrupting a neighbor. */
  private def assertNoActiveStreams(spark: SparkSession): Unit = {
    val active = spark.streams.active
    require(active.isEmpty,
      s"resetTerminated() under the one-stream-at-a-time invariant, but " +
        s"${active.length} stream(s) are still active: " +
        active.map(_.name).mkString(", "))
  }

  /** The ONE run-once stream lifecycle, shared by all three public runners
    * ([[runOnceToMemory]] / [[runOnceAppendToMemory]] /
    * [[runOnceForeachBatch]] — only the writer configuration differs):
    *
    *  - State-store sizing: a stateful stream instantiates one store per
    *    shuffle partition per stateful operator per micro-batch — at the
    *    session's batch-side 32 partitions that is pure fixed overhead for
    *    a low-cardinality stream (the stream-stream join paid ~5 s/run in
    *    it). Real deployments size state partitions to the stream's key
    *    cardinality, so the knob is explicit; the partition count is
    *    captured at stream START (and pinned by the checkpoint), after
    *    which the session conf is restored for the batch world. Streams
    *    here run one-at-a-time (Verify/Bench/specs are sequential), so the
    *    temporary conf swap cannot leak into a concurrent batch plan.
    *  - Transient checkpoint (see [[transientCheckpointDir]]) —
    *    deleted after termination.
    *  - Terminated-handle release: the manager's handle on a terminated
    *    run otherwise pins the MemorySink (and its rows) for the session
    *    lifetime even after the caller drops the temp view.
    *    resetTerminated() clears ALL terminated handles session-wide,
    *    which is only safe because streams here run one-at-a-time — the
    *    assert makes a future concurrent caller fail loudly instead of
    *    silently losing handles. */
  private def runOnce(df: DataFrame, statePartitions: Int)(
      configure: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]
        => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    if (statePartitions > 0) spark.conf.set(key, statePartitions.toString)
    val ckpt = transientCheckpointDir()
    try {
      val q = configure(df.writeStream).option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      // If the wait is interrupted (test-timeout abort, shutdown hook) the
      // query is still ACTIVE — stop it before the finally block deletes
      // its checkpoint, or the running micro-batch dies on a confusing
      // state-commit FileNotFound instead of a clean stop.
      try q.awaitTermination()
      catch {
        case t: Throwable =>
          try q.stop() catch { case _: Throwable => () }
          throw t
      }
      assertNoActiveStreams(spark)
      spark.streams.resetTerminated()
    } finally {
      if (statePartitions > 0) spark.conf.set(key, prev)
      graft.sources.TempRoots.deleteRecursively(ckpt, swallow = true) // best-effort
    }
  }

  /** Sink the aggregation to an in-memory table (tests / demos) and process
    * all data currently available, then stop. Lifecycle: [[runOnce]]. */
  def runOnceToMemory(agg: DataFrame, tableName: String,
                      statePartitions: Int = 8): Unit =
    runOnce(agg, statePartitions)(
      _.format("memory").queryName(tableName).outputMode(OutputMode.Complete()))

  /** foreachBatch twin of [[runOnceAppendToMemory]] for streaming
    * MAINTENANCE sinks: micro-batches drive an arbitrary batch-side writer
    * (e.g. `VersionedLayer.idempotentMergeBatch`) instead of a memory sink.
    * The sink fn must be idempotent per batchId: AvailableNow restarts
    * replay the last uncommitted batch (which is exactly what the
    * idempotent-merge marker protocol absorbs). Lifecycle: [[runOnce]]. */
  def runOnceForeachBatch(df: DataFrame, name: String,
                          fn: (DataFrame, Long) => Unit,
                          statePartitions: Int = 8): Unit =
    runOnce(df, statePartitions)(_.queryName(name).foreachBatch(fn))

  /** Append-mode twin of [[runOnceToMemory]] for stateful pipelines whose
    * rows are final the moment they are emitted (dedup pass-through, closed
    * sessions). `maxFilesPerTrigger` > 0 forces one file per micro-batch so
    * cross-batch state transitions (watermark advance, timeout firing,
    * redelivery arriving after the original) actually happen instead of
    * collapsing into one batch. Lifecycle: [[runOnce]]. */
  def runOnceAppendToMemory(df: DataFrame, tableName: String,
                            maxFilesPerTrigger: Int = 0,
                            statePartitions: Int = 8): Unit =
    runOnce(df, statePartitions) { w0 =>
      val w = w0.format("memory").queryName(tableName)
        .outputMode(OutputMode.Append())
      if (maxFilesPerTrigger > 0)
        w.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      else w
    }
}
