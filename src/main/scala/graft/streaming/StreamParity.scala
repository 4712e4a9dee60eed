package graft.streaming

import graft.QueryModule
import graft.functions.ExactAgg.exactSum
import graft.sources.{Tables, TempRoots}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Streaming⇄batch parity as an ORACLED query (q197): the round-12 verdict's
  * missing piece — `streaming/EventStream.scala` was spec-only because the
  * DuckDB oracle cannot execute a stream. This module closes the gap by
  * actually RUNNING a Structured Streaming query inside the registered
  * query function: the fixture events table is read back as a file-source
  * STREAM, aggregated with the watermarked windowed pipeline, sunk with
  * `Trigger.AvailableNow` to a memory table, and the registered result is
  * that table — so the driver's DuckDB hash compare proves, end to end,
  * that the streaming path computes exactly the batch answer (the
  * replayability contract a lambda-architecture pipeline depends on:
  * backfill-by-batch and serve-by-stream must agree bit-for-bit).
  *
  * Scale notes: the streaming plan is the production shape — file source,
  * event-time watermark, windowed partial aggregation; state is O(open
  * windows × event types). Only the SINK is harness-shaped: a memory sink
  * holds the final (hour × type) grid on the driver — bounded (~hours ×
  * |types| rows, a few thousand at any SF), and a real deployment swaps it
  * for a parquet/Kafka sink without touching the plan.
  *
  * Lifecycle: every query here runs its body inside [[TempRoots.scoped]].
  * Sink names come from `scope.sink` and staged drop folders from
  * `scope.dir`; the scope checkpoints the result, then drops the sink's
  * temp view and deletes the folders, also when the stream fails. A memory
  * sink left registered lives for the whole session and taxes every later
  * query's GC (the round-17 finding: q10 went from 0.38 s to 2.19 s).
  */
object StreamParity extends QueryModule {

  /** File-source STREAM of the fixture events table — the streaming twin of
    * [[Tables.read]]: same footer probe (ns-vs-µs physical drift, the
    * round-11 incident class), same declared schema (a stream can never
    * infer), same µs conversion on the legacy branch. */
  def readEventsStream(spark: SparkSession, dir: String,
                       scope: TempRoots.Scope): DataFrame = {
    val path = s"$dir/events.parquet"
    // batch footer probe (cheap — no data pages); the stream itself then
    // reads with the branch's declared schema
    Tables.read(spark, dir, "events") // runs probe + sanity check once
    // The file-stream source monitors a DIRECTORY (its production contract:
    // files land in a drop folder); fixtures ship events.parquet as a single
    // file, so stage it into a temp directory of the caller's scope via
    // symlink — zero copy, and the stream sees the standard
    // files-in-a-directory layout.
    val stage = scope.dir("graft_q197_events")
    java.nio.file.Files.createSymbolicLink(
      stage.resolve("events.parquet"), java.nio.file.Paths.get(path))
    streamFromStage(spark, stage.toString, legacyNsTs(spark, path))
  }

  /** Whether the fixture file carries the legacy raw-INT64 TIMESTAMP(NANOS)
    * physical unit (cached footer probe — no data pages read; see
    * Tables.read for the drift history this guards against). */
  private def legacyNsTs(spark: SparkSession, path: String): Boolean =
    Tables.eventsLegacyNs(spark, path)

  /** File-source stream over a staged directory, branching on the fixture's
    * physical timestamp unit exactly like the batch reader. */
  private def streamFromStage(spark: SparkSession, stage: String,
                              legacyNs: Boolean): DataFrame =
    if (legacyNs)
      spark.readStream.schema(Tables.eventsOnDisk).parquet(stage)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else
      spark.readStream.schema(Tables.events).parquet(stage)

  /** Tumbling 1-hour counts + DECIMAL-space sums per event type — the
    * [[EventStream.hourlyByType]] pipeline with the engine's exact-sum
    * discipline so the streaming result is order-independent and
    * hash-comparable (a plain double sum would differ from the oracle in
    * the last ulp depending on partition fold order). */
  def hourlyByTypeExact(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value"), 2).as("sum_value"))
      .select(col("event_type"),
        col("window.start").cast(LongType).as("unix_hour"),
        col("n_events"), col("sum_value"))

  /** The q379 streaming aggregation (per-hour HLL registers). */
  private def hllHourlyRegisters(s: SparkSession, dir: String,
                                 scope: TempRoots.Scope): DataFrame = {
    // (Measured, not assumed: the single-file source scans as ONE partition,
    // but fanning it out with a pre-hash repartition(32) made BOTH queries
    // SLOWER — the extra exchange costs more than the single-core hash pass
    // at this row count. Leave the source partitioning alone.)
    val ev = readEventsStream(s, dir, scope)
      .select(col("ts"),
        expr("cast(conv(substring(md5(concat('shll:', cast(user_id as string))), 1, 8), 16, 10) as bigint)").as("h"))
      .select(col("ts"), (col("h") % 64).as("bucket"), expr("h div 64").as("w"))
      .select(col("ts"), col("bucket"),
        expr(graft.functions.HllReplay.rhoCase).as("rho"))
    ev.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("bucket"))
      .agg(max(col("rho")).as("m_j"))
      .select(col("window.start").cast(LongType).as("unix_hour"),
        col("bucket"), col("m_j"))
  }

  /** The q384 streaming aggregation (per-hour 4×256 CMS cells). */
  private def cmsHourlyCells(s: SparkSession, dir: String,
                             scope: TempRoots.Scope): DataFrame = {
    def h(i: Int) =
      s"cast(conv(substring(md5(concat('scms$i:', cast(user_id as string))), 1, 8), 16, 10) as bigint) % 256"
    val ev = readEventsStream(s, dir, scope)
      .select(col("ts"), posexplode(array((0 until 4).map(i => expr(h(i))): _*)))
    ev.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("pos"), col("col"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").cast(LongType).as("unix_hour"),
        col("pos").as("r"), col("col").as("b"), col("c"))
  }

  /** Write a single far-future sentinel event (user_id = -1) as a parquet
    * file named `name` inside `stage`, matching the fixture's PHYSICAL
    * timestamp unit — a mixed-unit stream directory would corrupt whichever
    * branch the declared schema took. Sentinels are the standard watermark
    * flush: a real deployment's stream never ends, so "emit every closed
    * session" needs event time to ADVANCE past the deadlines; the harness
    * stands in for tomorrow's traffic with one synthetic event. The parquet
    * is written via a side directory then moved in (file sources require
    * files to appear atomically), and its mod-time is pinned `seq` minutes
    * after the fixture's so the file-stream's mod-time ordering processes
    * fixture first, sentinels in sequence. */
  private def writeSentinel(spark: SparkSession, scope: TempRoots.Scope,
                            stage: java.nio.file.Path, name: String, tsSec: Long,
                            legacyNs: Boolean, baseModTimeMs: Long, seq: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val row: org.apache.spark.sql.Row =
      if (legacyNs)
        org.apache.spark.sql.Row(-1L, tsSec * 1000000000L, -1L, "sentinel", 0.0, "{}")
      else
        org.apache.spark.sql.Row(-1L, new java.sql.Timestamp(tsSec * 1000L), -1L,
          "sentinel", 0.0, "{}")
    val schema = if (legacyNs) Tables.eventsOnDisk else Tables.events
    val side = scope.dir("graft_sentinel")
    spark.createDataFrame(Seq(row).asJava, schema)
      .coalesce(1).write.mode("overwrite").parquet(side.resolve("w").toString)
    val listing = java.nio.file.Files.list(side.resolve("w"))
    val part = try listing.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("sentinel write produced no parquet part"))
    finally listing.close()
    val dest = stage.resolve(name)
    java.nio.file.Files.move(part, dest)
    java.nio.file.Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(baseModTimeMs + seq * 60000L))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Streaming batch-equivalence (q197): see the module scaladoc. The
    // oracle is the plain batch SQL — a green hash row IS the proof that
    // the streaming path computes the batch answer.
    "q197_stream_batch_equiv" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      val agg = hourlyByTypeExact(readEventsStream(s, dir, sc))
      val sink = sc.sink("q197")
      EventStream.runOnceToMemory(agg, sink)
      s.table(sink).orderBy(col("event_type"), col("unix_hour"))
    }),

    // Streaming exactly-once ingest under at-least-once redelivery (q198):
    // the fixture events file is staged into the drop folder TWICE (two
    // symlinks — the source redelivering an entire batch, the standard
    // at-least-once failure mode), one file per micro-batch so the replay
    // arrives in a LATER batch than the original. `dropDuplicatesWithinWatermark`
    // on event_id reconstructs exactly-once ingest: redelivered rows are
    // either dropped by keyed state (recent events, state still live) or by
    // the watermark lateness cut (older events) — both paths end at the same
    // place, each event exactly once. The oracle aggregates the SINGLE-copy
    // batch table, so a green hash proves the duplicates vanished: without
    // the dedup every count and sum would be exactly 2×. State is O(events
    // per watermark horizon), never O(history) — the property that lets this
    // run forever; the memory sink holds one row per distinct event
    // (harness-shaped; a deployment sinks to parquet/Kafka without touching
    // the plan).
    "q198_stream_dedup_equiv" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      val path = s"$dir/events.parquet"
      Tables.read(s, dir, "events") // footer probe + ts sanity check
      val legacy = legacyNsTs(s, path)
      val stage = sc.dir("graft_q198_redeliver")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events_a.parquet"), java.nio.file.Paths.get(path))
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("events_b.parquet"), java.nio.file.Paths.get(path))
      val deduped = streamFromStage(s, stage.toString, legacy)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type"), col("value"))
      val sink = sc.sink("q198")
      EventStream.runOnceAppendToMemory(deduped, sink, maxFilesPerTrigger = 1)
      s.table(sink)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_distinct"),
          exactSum(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // Streaming custom-state sessionization parity (q199): the
    // flatMapGroupsWithState sessionizer (EventStream.sessionizeWithState —
    // 10-minute gap, exact-cents running sums, event-time timeouts) over the
    // fixture events as a file stream, flushed to completeness with two
    // far-future sentinel events: the first advances the watermark past every
    // fixture session's deadline (firing the timeouts that close the trailing
    // session of each user), the second closes the first sentinel's own
    // session so no fixture state is left pending. The registered result is
    // every closed session of every real user; the oracle replays the exact
    // gap semantics (floored epoch seconds, islands where t - prev > 600) in
    // window SQL — a green hash proves the hand-rolled streaming state
    // machine computes precisely the declarative batch answer, timeouts
    // included. Per-key state is O(1) (one open session), so the pipeline
    // runs forever on an unbounded stream.
    "q199_stream_session_equiv" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import s.implicits._
      val path = s"$dir/events.parquet"
      val batchEvents = Tables.read(s, dir, "events")
      val legacy = legacyNsTs(s, path)
      val maxSec = batchEvents.agg(max(unix_timestamp(col("ts")))).head.getLong(0)
      val stage = sc.dir("graft_q199_sessions")
      val fixture = java.nio.file.Paths.get(path)
      java.nio.file.Files.createSymbolicLink(stage.resolve("events.parquet"), fixture)
      val baseMs = java.nio.file.Files.getLastModifiedTime(fixture).toMillis
      writeSentinel(s, sc, stage, "z1_sentinel.parquet", maxSec + 86400L, legacy, baseMs, 1)
      writeSentinel(s, sc, stage, "z2_sentinel.parquet", maxSec + 2 * 86400L, legacy, baseMs, 2)
      val events = streamFromStage(s, stage.toString, legacy)
        .select(col("user_id"), col("ts"), col("value"))
        .as[EventStream.UserEvent]
      val sessions = EventStream.sessionizeWithState(events, gapSec = 600L).toDF()
      val sink = sc.sink("q199")
      EventStream.runOnceAppendToMemory(sessions, sink, maxFilesPerTrigger = 1)
      s.table(sink)
        .filter(col("user_id") >= 0) // drop the sentinel user's own session
        .orderBy(col("user_id"), col("sess_start"))
    }),

    // Stream-static near-dup quarantine parity (q201): the DocStream ingest
    // filter — arriving documents (the q200 batch slice, staged as a JSON
    // file stream with deterministic timestamps) probed against the
    // SimHash chunk index built in BATCH over the standing corpus, flagging
    // every arrival within hamming distance 3 of any reference document.
    // The stream side is STATELESS except the watermark-bounded per-arrival
    // dedup of multi-chunk matches — no signatures-ever-seen state. The
    // 4×16-bit chunk pigeonhole guarantees recall at k<=3, so the oracle is
    // the EXACT hamming join replayed in SQL (q58's md5-halves SimHash
    // replay) — a green hash proves the streaming probe flags precisely the
    // exact-join answer, index layout and chunk arithmetic included.
    "q201_stream_quarantine" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      val d = Tables.read(s, dir, "documents")
      val isBatch = col("doc_id") % 10 === 7
      val stage = sc.dir("graft_q201_arrivals")
      d.filter(isBatch)
        .select(col("doc_id"),
          timestamp_seconds(lit(1704067200L) + col("doc_id")).as("ts"), col("text"))
        .coalesce(1).write.mode("overwrite").json(stage.resolve("in").toString)
      val index = DocStream.referenceIndex(d.filter(!isBatch))
      val flagged = DocStream.flagNearDups(
        DocStream.readArrivals(s, stage.resolve("in").toString), index)
      val sink = sc.sink("q201")
      EventStream.runOnceAppendToMemory(flagged, sink)
      s.table(sink)
        .select(col("doc_id"), unix_timestamp(col("ts")).as("flag_ts"))
        .orderBy(col("doc_id"))
    }),

    // Stream-stream interval-join parity (q202): both sides of
    // [[EventStream.attributeActions]] read from the SAME fixture event
    // stream — impressions = views/clicks, actions = purchases — joined on
    // user with the action at most 60 minutes after the impression. Both
    // sides carry watermarks and the join condition bounds event-time
    // distance, so buffered state is capped by watermark + horizon (the
    // canonical bounded-state stream-stream join; an unbounded equi-join of
    // two streams needs infinite state and Spark rejects it — so does this
    // engine). Inner-join matches emit as they form, so AvailableNow
    // drains the complete answer; the oracle is the plain batch interval
    // join — a green hash proves the streaming join buffers, matches, and
    // emits exactly the batch pair set.
    // Streaming conformal admission parity (q212): the q205 governance gate
    // moved to the ingest path — tau is trained in BATCH over the standing
    // calibration slice (a bounded 1-value model fetch,
    // [[graft.operators.Expectations.conformalTau]]) and folded into the
    // stream's row-local predicate, so arriving documents (the q201 staging
    // convention: the doc_id % 10 == 7 slice as a JSON file stream) are
    // scored and admitted/rejected STATELESSLY — no watermark state, no
    // shuffle, pure append mode; exactly how a coverage-guaranteed admission
    // filter deploys in front of a 100 TB corpus (threshold refreshed on the
    // calibration cadence, stream untouched). The oracle replays score, tau
    // and verdict per arrival — a green hash proves the deployed stream gate
    // admits precisely the batch-computed conformal set, threshold included.
    "q212_stream_conformal" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      val d = Tables.read(s, dir, "documents")
      val isArr = col("doc_id") % 10 === 7
      val stage = sc.dir("graft_q212_arrivals")
      d.filter(isArr)
        .select(col("doc_id"),
          timestamp_seconds(lit(1704067200L) + col("doc_id")).as("ts"), col("text"))
        .coalesce(1).write.mode("overwrite").json(stage.resolve("in").toString)
      val tau = graft.operators.Expectations.conformalTau(s, dir)
      val scored = DocStream.readArrivals(s, stage.resolve("in").toString)
        .select(col("doc_id"),
          graft.operators.TextAnalytics.qualityScore.as("quality"))
        .select(col("doc_id"), col("quality"),
          when(col("quality") >= lit(tau), 1L).otherwise(0L).as("admitted"),
          lit(tau).as("tau"))
      val sink = sc.sink("q212")
      EventStream.runOnceAppendToMemory(scored, sink)
      s.table(sink).orderBy(col("doc_id"))
    }),

    // Streaming distinct-count via HLL registers (q379): per-hour distinct
    // users over the event STREAM with 64 registers of state per window —
    // the "sketch IS the streaming state" pattern that replaces an
    // unbounded distinct-set (state ∝ users) with 512 bytes/hour at any
    // arrival rate, the only way windowed COUNT DISTINCT survives an
    // unbounded 100 TB stream. The register update is an ordinary
    // watermarked windowed MAX aggregation (mergeable ⇒ streamable — the
    // q375 property doing real work); the estimate finalizes over the
    // bounded (hour × 64) sink. Registers and estimator are the q371
    // replayable construction ([[graft.functions.HllReplay]]), so the
    // DuckDB oracle rebuilds the per-hour registers exactly and the
    // relative error is audited against the exact per-hour distinct.
    "q379_stream_hll" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 12)
      val agg = hllHourlyRegisters(s, dir, sc)
      val sink = sc.sink("q379")
      EventStream.runOnceToMemory(agg, sink, statePartitions = 32)
      val est = s.table(sink)
        .groupBy(col("unix_hour"))
        .agg(count(lit(1)).as("n_present"),
          sum(round(pow(lit(2.0), -col("m_j")), 12).cast(dec)).as("s_present"))
        .select(col("unix_hour"), (lit(64L) - col("n_present")).as("v"),
          (col("s_present") + (lit(64L) - col("n_present")).cast(dec))
            .cast("double").as("s"))
        .select(col("unix_hour"),
          expr(graft.functions.HllReplay.estimateCase).as("e"))
      val exact = Tables.read(s, dir, "events")
        .select(expr("(cast(ts as long) div 3600) * 3600").as("unix_hour"),
          col("user_id"))
        .groupBy(col("unix_hour"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      // est is the ≤720-row per-hour rollup of the register sink —
      // broadcast it so the exact side's aggregation output joins in place
      // (same memory-sink-stats rationale as q384's probe join)
      exact.join(broadcast(est), "unix_hour")
        .select(col("unix_hour"), col("exact_users"),
          round(col("e"), 6).as("hll_est"),
          round(abs(col("e") - col("exact_users")) / col("exact_users"), 6)
            .as("rel_err"))
        .orderBy(col("unix_hour"))
    }),

    // Streaming heavy-hitters via Count-Min registers (q384) — q379's
    // "sketch IS the streaming state" pattern with frequency instead of
    // cardinality: per-hour top-5 users tracked through a 4×256 CMS whose
    // cells are the ONLY streaming state — 1024 counters/hour at ANY
    // arrival rate or key cardinality, where a per-(window, user) count
    // would grow with the user population. The register update is an
    // ordinary watermarked windowed COUNT over the 4 exploded (row,
    // bucket) coordinates per event (mergeable ⇒ streamable, exactly like
    // q379's MAX); finalization probes the bounded cell sink with the
    // per-hour true top-5 (the audit's candidates — a production monitor
    // probes its fixed watch-list of keys). Hashes are the q369 md5
    // construction, so the DuckDB oracle rebuilds the per-hour sketch
    // ITSELF and the estimates hash-match exactly; overcount is the
    // measured collision mass (CMS never undercounts — spec-pinned).
    // All-integer output: no float hazards anywhere.
    "q384_stream_cms_topk" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import org.apache.spark.sql.expressions.Window
      def h(i: Int) =
        s"cast(conv(substring(md5(concat('scms$i:', cast(user_id as string))), 1, 8), 16, 10) as bigint) % 256"
      val agg = cmsHourlyCells(s, dir, sc)
      val sink = sc.sink("q384")
      EventStream.runOnceToMemory(agg, sink, statePartitions = 32)
      val cells = s.table(sink)
      val li = Tables.read(s, dir, "events")
        .select(expr("(cast(ts as long) div 3600) * 3600").as("unix_hour"),
          col("user_id"))
      val tc = li.groupBy(col("unix_hour"), col("user_id"))
        .agg(count(lit(1)).as("true_count"))
      val wtop = Window.partitionBy(col("unix_hour"))
        .orderBy(col("true_count").desc, col("user_id"))
      val probes = tc.withColumn("rk", row_number().over(wtop).cast(LongType))
        .filter(col("rk") <= 5)
      val ph = probes
        .select(col("unix_hour"), col("rk"), col("user_id"), col("true_count"),
          posexplode(array((0 until 4).map(i => expr(h(i))): _*)))
        .select(col("unix_hour"), col("rk"), col("user_id"), col("true_count"),
          col("pos").as("r"), col("col").as("b"))
      // probe side is ≤20 rows/window by construction — broadcast it
      // EXPLICITLY: the cells side is a driver-local memory-sink table
      // whose stats AQE can't size ahead of the join, and letting it fall
      // into a shuffled join moves all ~300k cell rows through an exchange
      // for a ≤3,600-row result (measured: the probe leg, not the stream,
      // was the bigger half of q384's close cost). With the broadcast the
      // cell table is scanned once in place and never shuffled.
      cells.join(broadcast(ph), Seq("unix_hour", "r", "b"))
        .groupBy(col("unix_hour"), col("rk"), col("user_id"), col("true_count"))
        .agg(min(col("c")).as("cms_est"))
        .select(col("unix_hour"), col("rk"), col("user_id"), col("true_count"),
          col("cms_est"), (col("cms_est") - col("true_count")).as("overcount"))
        .orderBy(col("unix_hour"), col("rk"))
    }),

    // Streaming embedding admission (q388) — q201's stream-static quarantine
    // pattern on the DENSE side, the round-17 verdict's item 6: arriving
    // vectors are probed against the banded hyperplane-LSH index built in
    // BATCH over the standing corpus (q47's 6 bands × 16 sign bits — the
    // near-dup geometry where banding prunes 2^16 per band), and any arrival
    // with verified cosine >= 0.9 against a standing vector is flagged
    // before it can enter the corpus. The arrival fixture is q385's planted-
    // pair machinery reused verbatim: deterministically perturbed copies of
    // the standing quarter slice (cosine ≈ 0.999999, integer modular noise
    // both engines replay bit-for-bit), staged as a JSON file stream — so
    // recall is witnessed, not assumed: the oracle is the EXACT all-pairs
    // cosine SQL between arrivals and the standing slice, and a planted
    // pair the banding drops hash-fails the round. The stream side is
    // STATELESS except the watermark-bounded per-pair dedup of multi-band
    // matches (state ∝ arrivals per horizon, never corpus or history);
    // the index is narrow (band, band_val, ref_id) rows — 6 per standing
    // vector, the payload fetched by a second keyed join only for
    // band-colliding candidates, exactly how a 100 TB deployment keeps the
    // bucket join's shuffle narrow. JSON doubles round-trip exactly
    // (shortest-round-trip serialization), so the streamed vectors are
    // bit-identical to the oracle's recomputation.
    "q388_stream_embedding_admission" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import graft.operators.Similarity
      import graft.functions.VectorFunctions
      val base = Tables.read(s, dir, "embeddings")
        .filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
      val copies = base.select((col("vec_id") + 1000000L).as("vec_id"),
        expr("""transform(v, (x, i) ->
          | x + cast((vec_id * 31 + i * 17) % 2001 - 1000 as double) / 1000000.0)"""
          .stripMargin).as("v"))
      val stage = sc.dir("graft_q388_arrivals")
      val sink = sc.sink("q388")
      copies
        .select(col("vec_id"),
          timestamp_seconds(lit(1704067200L) + col("vec_id")).as("ts"), col("v"))
        .coalesce(1).write.mode("overwrite").json(stage.resolve("in").toString)
      val planes = Similarity.hyperplanes(6 * 16, 64)
      // batch-built probe index: narrow bucket rows + a keyed vector side
      val index = base
        .select(col("vec_id").as("ref_id"),
          posexplode(Similarity.bandValuesFast(s, col("v"), planes, 16)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
      val refVecs = base.select(col("vec_id").as("ref_id"), col("v").as("ref_v"))
      val arrivalSchema = new org.apache.spark.sql.types.StructType()
        .add("vec_id", LongType)
        .add("ts", TimestampType)
        .add("v", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))
      val flagged = s.readStream.schema(arrivalSchema)
        .json(stage.resolve("in").toString)
        .withWatermark("ts", "10 minutes")
        .select(col("vec_id"), col("ts"), col("v"),
          posexplode(Similarity.bandValuesFast(s, col("v"), planes, 16)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
        .join(index, Seq("band", "band_val"))
        .join(refVecs, Seq("ref_id"))
        .select(col("vec_id"), col("ts"), col("ref_id"),
          round(VectorFunctions.cosineFast(s, col("v"), col("ref_v")), 6).as("sim"))
        .filter(col("sim") >= 0.9)
        .dropDuplicatesWithinWatermark("vec_id", "ref_id")
      EventStream.runOnceAppendToMemory(flagged, sink)
      s.table(sink)
        .select(col("vec_id").as("arr_id"), col("ref_id"), col("sim"))
        .orderBy(col("arr_id"), col("ref_id"))
    }),

    // Streaming index maintenance (q391) — the maintainer set's STREAMING
    // form: the LSH band index (q389's VersionedLayer table) advanced not
    // by a nightly batch MERGE but by a REAL micro-batch stream of arriving
    // documents, each micro-batch applying an EXACTLY-ONCE idempotent merge
    // (VersionedLayer.idempotentMergeBatch — the txnAppId/txnVersion marker
    // protocol, so an AvailableNow restart's batch replay is absorbed, not
    // double-applied). Arrivals are the q200/q389 batch slice (doc_id % 10
    // = 7) staged as FOUR json files with maxFilesPerTrigger=1, so the
    // index genuinely advances through four separate merge commits — the
    // accumulation a continuously-ingesting deployment produces. Banding
    // runs INSIDE foreachBatch on just that batch's docs; band rows are
    // content-local per document, so micro-batch partitioning cannot change
    // the final rows — and the oracle is the SAME scratch rebuild as
    // q389/q390 (Dedup.lshIndexCte, one SQL text): all three maintenance
    // paths — batch MERGE, compact/vacuum lifecycle, streaming
    // exactly-once — are proven to converge to the identical index. The
    // stream itself is STATELESS (foreachBatch append; no watermark state,
    // no sink tables) — the only growing artifact is the maintained layer,
    // whose per-batch delta is 8 narrow rows per arriving doc.
    "q391_stream_index_maintenance" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import graft.operators.Dedup
      import graft.sources.VersionedLayer
      val d = Tables.read(s, dir, "documents")
      val root = sc.dir("graft_q391_lsh_idx").toString
      val stage = sc.dir("graft_q391_arrivals")
      VersionedLayer.write(
        Dedup.lshIndexRows(d.filter(!(col("doc_id") % 10 === 7))), root)
      // Staging assumption (same contract as q201/q212's JSON doc
      // streams): fixture text is valid UTF-8, which the JSON writer
      // round-trips exactly — the streamed text is then bit-identical to
      // what the oracle tokenizes from parquet. Malformed UTF-8 would be
      // re-encoded with replacement chars and hash-fail THIS query while
      // q389/q390 (direct parquet readers) pass; that asymmetry is the
      // diagnostic signature, not a silent divergence.
      d.filter(col("doc_id") % 10 === 7).select(col("doc_id"), col("text"))
        .repartition(4)
        .write.mode("overwrite").json(stage.resolve("in").toString)
      val arrivalSchema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", LongType)
        .add("text", org.apache.spark.sql.types.StringType)
      val arrivals = s.readStream.schema(arrivalSchema)
        .option("maxFilesPerTrigger", 1)
        .json(stage.resolve("in").toString)
      EventStream.runOnceForeachBatch(arrivals, "q391_maint",
        (b, id) => VersionedLayer.idempotentMergeBatch(
          root, Seq("doc_id", "band_id"), "q391")(Dedup.lshIndexRows(b), id))
      VersionedLayer.read(s, root)
        .orderBy(col("doc_id"), col("band_id"))
    }),

    // Streaming ANN-index maintenance (q392) — q391's exactly-once
    // foreachBatch pattern on the DENSE side, completing the maintenance
    // MATRIX: {exact-fp, LSH bands, IVF-PQ} × {batch MERGE, streaming
    // exactly-once} (q383/q389 × q386/q391/q392; the lifecycle ops proven
    // once in q390 apply to all). Arriving vectors (q386's batch slice,
    // staged as four json files — doubles round-trip exactly, the q388
    // contract) are ENCODED INSIDE foreachBatch against the frozen seeded
    // model (annIndexRowsOf — cell + m PQ codes from the corpus' seeded
    // quantizer, content-local per vector) and merged through the
    // txn-marker protocol. Oracle = the SAME ivfPqIndexSql scratch rebuild
    // as q386/q381/q382: the streaming path, the batch CDC path, and the
    // probe oracles all verify against ONE SQL text. Stateless stream;
    // the growing artifact is the maintained index (1 + m narrow rows per
    // arriving vector).
    "q392_stream_ann_index_maintenance" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import graft.operators.Similarity
      import graft.sources.VersionedLayer
      import graft.functions.VectorFunctions
      val root = sc.dir("graft_q392_ann_idx").toString
      val stage = sc.dir("graft_q392_arrivals")
      VersionedLayer.write(
        Similarity.annIndexRows(s, dir, col("vec_id") % 10 =!= 0), root)
      Tables.read(s, dir, "embeddings")
        .filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
        .repartition(4)
        .write.mode("overwrite").json(stage.resolve("in").toString)
      val arrivalSchema = new org.apache.spark.sql.types.StructType()
        .add("vec_id", LongType)
        .add("v", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))
      val arrivals = s.readStream.schema(arrivalSchema)
        .option("maxFilesPerTrigger", 1)
        .json(stage.resolve("in").toString)
      EventStream.runOnceForeachBatch(arrivals, "q392_maint",
        (b, id) => VersionedLayer.idempotentMergeBatch(
          root, Seq("vec_id", "b"), "q392")(Similarity.annIndexRowsOf(s, dir, b), id))
      VersionedLayer.read(s, root)
        .orderBy(col("vec_id"), col("b"))
    }),

    // Streaming index takedown (q396) — the DELETE column of the
    // maintenance matrix in its streaming form: takedown REQUESTS arrive as
    // a real micro-batch stream (four json files, maxFilesPerTrigger=1 —
    // the cadence of a compliance queue), and each batch is applied to the
    // standing LSH band index through the exactly-once idempotentDeleteBatch
    // sink (same _txn replay-cursor protocol as q391/q392's merges: an
    // AvailableNow restart's replayed batch is absorbed; the crash-window
    // re-delete is content-idempotent). Prefix-keyed: each arriving doc_id
    // removes all 8 of its band rows. The oracle is the SAME filtered
    // scratch rebuild as q394 (one text for the batch delete and the
    // streaming delete), so all takedown paths are proven to converge to
    // the identical index — the q389/q390/q391 one-oracle contract, now on
    // the delete side. Stateless stream; the only artifact is the
    // maintained layer, shrinking by exactly the requested documents.
    "q396_stream_index_takedown" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import graft.operators.Dedup
      import graft.sources.VersionedLayer
      val d = Tables.read(s, dir, "documents")
      val root = sc.dir("graft_q396_takedown_idx").toString
      val stage = sc.dir("graft_q396_requests")
      VersionedLayer.write(Dedup.lshIndexRows(d), root)
      d.filter(col("doc_id") % 13 === 5).select(col("doc_id"))
        .repartition(4)
        .write.mode("overwrite").json(stage.resolve("in").toString)
      val requestSchema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", LongType)
      val requests = s.readStream.schema(requestSchema)
        .option("maxFilesPerTrigger", 1)
        .json(stage.resolve("in").toString)
      EventStream.runOnceForeachBatch(requests, "q396_takedown",
        (b, id) => VersionedLayer.idempotentDeleteBatch(
          root, Seq("doc_id"), "q396")(b, id))
      VersionedLayer.read(s, root)
        .orderBy(col("doc_id"), col("band_id"))
    }),

    "q202_stream_join_equiv" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      val ev = readEventsStream(s, dir, sc)
      val impressions = ev.filter(col("event_type").isin("view", "click"))
      val actions = ev.filter(col("event_type") === "purchase")
      val joined = EventStream.attributeActions(impressions, actions, horizonMin = 60)
      val sink = sc.sink("q202")
      EventStream.runOnceAppendToMemory(joined, sink)
      s.table(sink).orderBy(col("action_id"), col("impression_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q379_stream_hll" ->
      s"""WITH li AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, user_id FROM events),
         |hh AS (SELECT (t // 3600) * 3600 AS unix_hour,
         |         CAST(concat('0x', substring(md5('shll:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
         |       FROM li),
         |bw AS (SELECT unix_hour, h % 64 AS bucket, h // 64 AS w FROM hh),
         |rh AS (SELECT unix_hour, bucket, ${graft.functions.HllReplay.rhoCase} AS rho FROM bw),
         |regs AS (SELECT unix_hour, bucket, max(rho) AS m_j FROM rh GROUP BY 1, 2),
         |est AS (SELECT unix_hour, CAST(64 - count(*) AS BIGINT) AS v,
         |          CAST(sum(CAST(round(pow(2.0, - m_j), 12) AS DECIMAL(38,12)))
         |               + CAST(64 - count(*) AS DECIMAL(38,12)) AS DOUBLE) AS s
         |        FROM regs GROUP BY 1),
         |ee AS (SELECT unix_hour, ${graft.functions.HllReplay.estimateCase} AS e FROM est),
         |ex AS (SELECT (t // 3600) * 3600 AS unix_hour,
         |         count(DISTINCT user_id) AS exact_users FROM li GROUP BY 1)
         |SELECT ex.unix_hour, ex.exact_users, round(e, 6) AS hll_est,
         |       round(abs(e - exact_users) / exact_users, 6) AS rel_err
         |FROM ex JOIN ee USING (unix_hour) ORDER BY unix_hour""".stripMargin,
    // q384: the oracle rebuilds the per-hour 4×256 CMS itself from the same
    // md5 hashes (q369 machinery windowed by hour) and probes it with the
    // identical top-5 candidates — sketch internals under the hash gate.
    "q384_stream_cms_topk" ->
      """WITH li AS (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS unix_hour, user_id FROM events),
        |h AS (SELECT unix_hour, user_id, i,
        |        (CAST(concat('0x', substring(md5('scms' || CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 256) AS b
        |      FROM li CROSS JOIN (SELECT unnest(range(4)) AS i)),
        |cms AS (SELECT unix_hour, i, b, count(*) AS c FROM h GROUP BY 1, 2, 3),
        |tc AS (SELECT unix_hour, user_id, count(*) AS true_count FROM li GROUP BY 1, 2),
        |pr AS (SELECT unix_hour, user_id, true_count, rk FROM
        |        (SELECT *, row_number() OVER (PARTITION BY unix_hour ORDER BY true_count DESC, user_id) AS rk FROM tc)
        |       WHERE rk <= 5),
        |ph AS (SELECT DISTINCT pr.unix_hour, pr.rk, pr.user_id, pr.true_count, h.i, h.b
        |       FROM pr JOIN h ON h.unix_hour = pr.unix_hour AND h.user_id = pr.user_id),
        |est AS (SELECT unix_hour, rk, user_id, true_count, min(c) AS cms_est
        |        FROM ph JOIN cms USING (unix_hour, i, b) GROUP BY 1, 2, 3, 4)
        |SELECT unix_hour, CAST(rk AS BIGINT) AS rk, user_id, true_count, cms_est,
        |       cms_est - true_count AS overcount
        |FROM est ORDER BY unix_hour, rk""".stripMargin,
    "q197_stream_batch_equiv" ->
      """SELECT event_type,
        |       CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS unix_hour,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // single-copy aggregate: the stream saw every row twice; matching this
    // proves exactly-once reconstruction
    "q198_stream_dedup_equiv" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       count(DISTINCT event_id) AS n_distinct,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the declarative replay of the streaming state machine: floored epoch
    // seconds, a session break where the gap to the previous event of the
    // same user exceeds 600 s, exact DECIMAL sums emitted as DOUBLE
    "q199_stream_session_equiv" ->
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |g AS (
        |  SELECT user_id, t, v,
        |         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 600
        |              THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |sess AS (
        |  SELECT user_id, t, v,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, min(t) AS sess_start,
        |       count(*) AS n_events,
        |       CAST(sum(v) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, sess_start""".stripMargin,

    // exact hamming-<=3 join between the arrival slice and the corpus,
    // SimHash replayed via md5 halves (q58's oracle machinery); the chunk
    // pigeonhole guarantees the streaming probe retrieves every such pair
    "q212_stream_conformal" ->
      (graft.operators.Expectations.conformalTauSql +
        """
          |SELECT doc_id, q AS quality,
          |       CAST(CASE WHEN q >= tau THEN 1 ELSE 0 END AS BIGINT) AS admitted, tau
          |FROM (SELECT doc_id, q FROM s WHERE doc_id % 10 = 7) CROSS JOIN tau
          |ORDER BY doc_id""".stripMargin),
    "q201_stream_quarantine" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tk FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(concat('0x', substring(md5(tk), 1, 8)) AS BIGINT) AS hi,
        |        CAST(concat('0x', substring(md5(tk), 9, 8)) AS BIGINT) AS lo
        |      FROM toks),
        |bits AS (
        |  SELECT doc_id, b,
        |         CASE WHEN sum(CASE WHEN (CASE WHEN b < 32 THEN (lo >> b) ELSE (hi >> (b - 32)) END & 1) = 1
        |                           THEN 1 ELSE -1 END) > 0
        |              THEN (CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |                         ELSE (CAST(1 AS BIGINT) << b) END)
        |              ELSE 0 END AS bv
        |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b)
        |  GROUP BY doc_id, b),
        |s AS (SELECT doc_id, CAST(sum(bv) AS BIGINT) AS sh FROM bits GROUP BY doc_id),
        |flag AS (SELECT DISTINCT a.doc_id
        |         FROM s a JOIN s b
        |           ON a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
        |          AND bit_count(xor(a.sh, b.sh)) <= 3)
        |SELECT doc_id, CAST(1704067200 + doc_id AS BIGINT) AS flag_ts
        |FROM flag ORDER BY doc_id""".stripMargin,

    // q388: exact all-pairs cosine between the perturbed arrivals and the
    // standing quarter slice (q385's planted-pair replay) — every planted
    // pair the streaming LSH probe must flag, recomputed from scratch.
    // q392: the SAME scratch-rebuild text as q386 (Similarity.ivfPqIndexSql)
    // — the streaming exactly-once path must converge to the identical
    // ANN index the batch MERGE path maintains.
    "q392_stream_ann_index_maintenance" ->
      (graft.operators.Similarity.ivfPqIndexSql +
      """
        |SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cell,
        |       CAST(codes.b AS BIGINT) AS b, CAST(codes.code AS BIGINT) AS code
        |FROM asg JOIN codes USING (vec_id)
        |ORDER BY vec_id, b""".stripMargin),

    // q391: the SAME scratch-rebuild text as q389/q390 (Dedup.lshIndexCte)
    // — the streaming exactly-once path must converge to the identical
    // index the batch MERGE path maintains.
    "q391_stream_index_maintenance" ->
      (graft.operators.Dedup.lshIndexCte +
      "\nSELECT doc_id, band_id, b0, b1, b2, b3 FROM bands ORDER BY doc_id, band_id"),

    // q396: the SAME filtered rebuild text as q394 — the streaming
    // exactly-once delete path must converge to the identical index the
    // batch deleteKeys path reaches.
    "q396_stream_index_takedown" ->
      (graft.operators.Dedup.lshIndexCte +
      "\nSELECT doc_id, band_id, b0, b1, b2, b3 FROM bands " +
      "WHERE doc_id % 13 <> 5 ORDER BY doc_id, band_id"),

    "q388_stream_embedding_admission" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |            FROM embeddings WHERE vec_id % 4 = 0),
      |cp AS (SELECT vec_id + 1000000 AS vec_id,
      |         list_transform(range(len(v)), i ->
      |           v[i+1] + CAST((vec_id * 31 + i * 17) % 2001 - 1000 AS DOUBLE) / 1000000.0) AS v
      |       FROM e0)
      |SELECT cp.vec_id AS arr_id, e0.vec_id AS ref_id,
      |       round(list_cosine_similarity(cp.v, e0.v), 6) AS sim
      |FROM cp CROSS JOIN e0
      |WHERE round(list_cosine_similarity(cp.v, e0.v), 6) >= 0.9
      |ORDER BY arr_id, ref_id""".stripMargin,

    // the batch interval join the streaming join must reproduce exactly
    "q202_stream_join_equiv" ->
      """SELECT a.user_id,
      |       a.event_id AS action_id,
      |       i.event_id AS impression_id,
      |       CAST(floor(epoch(a.ts)) AS BIGINT) AS action_ts,
      |       CAST(floor(epoch(i.ts)) AS BIGINT) AS impression_ts
      |FROM events a JOIN events i
      |  ON a.user_id = i.user_id
      | AND a.event_type = 'purchase'
      | AND i.event_type IN ('view', 'click')
      | AND i.ts <= a.ts
      | AND i.ts >= a.ts - INTERVAL 60 MINUTE
      |ORDER BY action_id, impression_id""".stripMargin
  )
}
