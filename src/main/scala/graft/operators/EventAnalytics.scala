package graft.operators

import graft.QueryModule
import graft.functions.ExactAgg._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, LongType}

/** Event-time analytics over the `events` table: tumbling, sliding and
  * session windows — the engine-side upgrade of the reference's "Incremental"
  * daily batch semantics (`airflow/dags/etl_api.py:74-78,85`), expressed with
  * Spark's native window operators so the same code lifts directly onto
  * Structured Streaming (see graft.streaming.EventStream).
  *
  * All window starts are emitted as epoch seconds (`BIGINT`) rather than
  * timestamps: epoch math is timezone-free and parquet-logical-type-free, so
  * the DuckDB oracle compares exactly. (Spark's ts→long cast floors; the
  * oracles floor `epoch()` explicitly to match.)
  *
  * Scale: windowed group-bys shuffle on (window, key) — bounded cardinality —
  * with map-side partial aggregation; session windows shuffle on user_id,
  * which is the natural high-cardinality well-distributed key.
  */
object EventAnalytics extends QueryModule {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.read(s, dir, "events")

  /** A user's experiment arm, md5(user_id || ':ab') % 2: a salted hash, so
    * assignment is stable under re-runs, appends and re-partitioning. */
  private def abArm: Column = expr(
    "cast(conv(substring(md5(concat(cast(user_id as string), ':ab')), 1, 4), 16, 10) as bigint) % 2")

  /** Censored time to conversion, one row per user with a view: `days` from
    * the first view to the first purchase at or after it (`event` = 1), or
    * to the corpus horizon for users who never convert (`event` = 0,
    * right-censored). Whole days by exact integer epoch-second division.
    * With `byArm` each row leads with the user's [[abArm]]. */
  private def timeToConversion(e: DataFrame, byArm: Boolean): DataFrame = {
    val firstView = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts").cast(LongType)).as("fv"))
    val fv = if (byArm) firstView.select(col("user_id"), abArm.as("arm"), col("fv"))
      else firstView
    val fp = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").cast(LongType).as("pt"))
      .join(fv.select(col("user_id"), col("fv")), Seq("user_id"))
      .filter(col("pt") >= col("fv"))
      .groupBy(col("user_id")).agg(min(col("pt")).as("fp"))
    val mx = e.agg(max(col("ts").cast(LongType)).as("mx"))
    val keys = if (byArm) Seq(col("arm")) else Nil
    fv.join(fp, Seq("user_id"), "left").crossJoin(broadcast(mx))
      .select(keys ++ Seq(
        when(col("fp").isNotNull, expr("(fp - fv) div 86400"))
          .otherwise(expr("(mx - fv) div 86400")).as("days"),
        when(col("fp").isNotNull, 1L).otherwise(0L).as("event")): _*)
  }

  /** Kaplan–Meier over a [[timeToConversion]] frame, per `keys` and
    * conversion day: `n_risk` (observations ending on or after the day, a
    * descending cumulative sum), `n_events`, and `survival` = Π(1 − d/n) as
    * a log10-space decimal cumulative sum of 12-dp factors with an
    * absorbing-zero flag (a day where every at-risk user converts sends S
    * to exactly 0, not to a -inf log). With `greenwood` the frame also
    * carries `gs`, the 12-dp decimal cumulative sum of d/(n(n−d)), and the
    * `dead` flag. The windows run over the per-day rollup only. */
  private def kaplanMeier(obs: DataFrame, keys: Seq[String],
                          greenwood: Boolean = false): DataFrame = {
    val k = keys.map(col)
    val conv = obs.filter(col("event") === 1)
      .groupBy(k :+ col("days").as("day"): _*).agg(count(lit(1)).as("d"))
    val ending = obs.groupBy(k :+ col("days").as("day"): _*)
      .agg(count(lit(1)).as("cnt"))
    val wDesc = Window.partitionBy(k: _*).orderBy(col("day").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = ending.withColumn("n_risk", sum(col("cnt")).over(wDesc))
      .select(k ++ Seq(col("day"), col("n_risk")): _*)
    val wAsc = Window.partitionBy(k: _*).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val factors = conv.join(risk, keys :+ "day")
      .withColumn("lf",
        when(col("d") >= col("n_risk"), lit(null).cast("double"))
          .otherwise(round(log10(lit(1.0) - col("d").cast("double") / col("n_risk")), 12)))
    val withGt = if (!greenwood) factors else factors.withColumn("gt",
      when(col("d") >= col("n_risk"), lit(null).cast("double"))
        .otherwise(round(col("d").cast("double")
          / (col("n_risk") * (col("n_risk") - col("d"))), 12)))
    val cum = withGt
      .withColumn("dead", max(when(col("lf").isNull, 1L).otherwise(0L)).over(wAsc))
      .withColumn("ls", sum(col("lf").cast(DecimalType(38, 12))).over(wAsc))
    val withGs = if (!greenwood) cum
      else cum.withColumn("gs", sum(col("gt").cast(DecimalType(38, 12))).over(wAsc))
    withGs.select(k ++ Seq(col("day"), col("n_risk"), col("d").as("n_events"),
      when(col("dead") === 1, lit(0.0))
        .otherwise(round(pow(lit(10.0), col("ls").cast("double")), 6)).as("survival")) ++
      (if (greenwood) Seq(col("gs"), col("dead")) else Nil): _*)
  }

  /** Hourly volume-anomaly buckets from a `(ts, event_type, …)` events
    * frame: per event type, the hourly buckets whose event count deviates
    * >= `threshold` standard deviations from that type's per-bucket mean
    * (the ops-monitoring z-score scan). Types with zero count variance
    * have no anomaly scale and are excluded.
    *
    * Determinism: the moment sums are exact integers (counts, summed in
    * decimal space so a 100 TB bucket-count square cannot overflow a
    * BIGINT), and every double operation downstream — two divisions, one
    * subtraction, one multiply, sqrt — is IEEE-correctly-rounded with the
    * oracle's exact operand sequence, so z-scores agree bit-for-bit.
    * Scale: bucket counting shuffles on (type, hour) with map-side
    * combine; the per-type stats frame is |event types| rows, broadcast
    * back. */
  def volumeAnomalies(events: DataFrame, threshold: Double = 1.5): DataFrame = {
    val buckets = events
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"), col("w.start").cast(LongType).as("unix_hour"),
        col("n_events"))
    val stats = buckets.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nb"),
        sum(col("n_events").cast(DecimalType(38, 0))).as("s1"),
        // square in decimal space: long*long would overflow ANSI-fatally
        // once a bucket tops ~3B events
        sum(col("n_events").cast(DecimalType(19, 0)) * col("n_events")).as("s2"))
    val mean = col("s1").cast("double") / col("nb")
    val variance = col("s2").cast("double") / col("nb") - mean * mean
    buckets.join(broadcast(stats), "event_type")
      .filter(variance > 0)
      .select(col("event_type"), col("unix_hour"), col("n_events"),
        round((col("n_events") - mean) / sqrt(variance), 6).as("zscore"))
      .filter(abs(col("zscore")) >= threshold)
  }

  /** q133's engine: view → click within `deadline` seconds of THAT view →
    * purchase within `deadline` of THAT click (see the q133 query comment
    * for the staged-aggregation scale shape). The global-first-click trap
    * is the point: a click BEFORE the user's first view, or after the
    * deadline, must not convert — asserted on planted users in
    * EventTextSpec. */
  def deadlineFunnel(events: DataFrame, deadline: Long = 3600L): DataFrame = {
    val e = events
      .select(col("user_id"), col("event_type"), col("ts").cast(LongType).as("t"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("vt"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("t") > col("vt") && col("t") <= col("vt") + deadline)
      .groupBy(col("user_id")).agg(min(col("t")).as("ct"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("t") > col("ct") && col("t") <= col("ct") + deadline)
      .groupBy(col("user_id")).agg(min(col("t")).as("pt"))
    v.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(c.agg(count(lit(1)).as("n_clicked_1h")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchased_1h")))
      .select(col("n_viewed"), col("n_clicked_1h"), col("n_purchased_1h"),
        // empty-stage guards: ANSI mode makes x/0 a JOB-KILLING error, so a
        // day with zero views must yield null rates, not a crashed run
        when(col("n_viewed") > 0,
          round(col("n_clicked_1h").cast("double") / col("n_viewed"), 6)).as("click_rate"),
        when(col("n_clicked_1h") > 0,
          round(col("n_purchased_1h").cast("double") / col("n_clicked_1h"), 6)).as("purchase_rate"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Bot-regularity audit (q223): per sufficiently-active user, the
    // coefficient of variation of inter-event gaps — humans are bursty
    // (CV >~ 1, heavy-tailed gaps), schedulers and scripted clients are
    // REGULAR (CV → 0), which is why gap regularity is the classic
    // first-line bot screen in traffic hygiene (and the event-log analog of
    // q67's text repetition filters: machine-generated data betrays itself
    // by low dispersion). Gap moments are exact integer sums (epoch-second
    // gaps), so mean/std/CV compute from the same exact operands on both
    // engines; flag at CV < 0.3 with n >= 10 events. One user-partitioned
    // lag window + one grouped rollup; output is per qualifying user.
    "q223_bot_regularity" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gaps = ev(s, dir)
        .select(col("user_id"), col("event_id"),
          (col("ts").cast(LongType) -
            lag(col("ts").cast(LongType), 1).over(w)).as("gap"))
        .filter(col("gap").isNotNull)
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap")).as("sg"), sum(col("gap") * col("gap")).as("sg2"))
        .filter(col("n_gaps") >= 9) // >= 10 events
        .select(col("user_id"), (col("n_gaps") + 1).as("n_events"),
          round(col("sg").cast("double") / col("n_gaps"), 6).as("mean_gap_s"),
          round(sqrt((col("sg2").cast("double") -
            col("sg").cast("double") * col("sg") / col("n_gaps")) / col("n_gaps")), 6)
            .as("std_gap_s"))
        .select(col("user_id"), col("n_events"), col("mean_gap_s"), col("std_gap_s"),
          when(col("mean_gap_s") === 0, lit(null).cast("double"))
            .otherwise(round(col("std_gap_s") / col("mean_gap_s"), 6)).as("cv_gap"))
        .withColumn("bot_flag",
          when(col("cv_gap").isNotNull && col("cv_gap") < 0.3, 1L).otherwise(0L))
        .orderBy(col("user_id"))
    }),

    // Deterministic A/B readout (q224): users hash-assigned to two arms
    // (md5(user_id || ':ab') % 2 — the same salted-hash discipline as the
    // q68 split, so assignment is stable under re-runs, appends and
    // re-partitioning), compared on purchase conversion with the two-
    // proportion pooled z statistic. This is the experimentation primitive
    // the reference's dashboards would sit on; on a null experiment (no
    // treatment exists here) |z| should be small — which is exactly the
    // A/A-test sanity check an experimentation platform runs to validate
    // its assignment hash, and the spec gates it. Two grouped passes over
    // (user, arm) rows; output is one row per arm plus pooled stats.
    "q224_ab_readout" -> ((s, dir) => {
      // conversion = "made a HIGH-VALUE purchase" (value >= 150): on this
      // fixture every user purchases SOMETHING, and a saturated metric
      // (p = 1) has zero variance — no experiment can read it
      val users = ev(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") >= 150, 1L)
          .otherwise(0L)).as("converted"))
        .select(col("user_id"), abArm.as("arm"), col("converted"))
      val arms = users.groupBy(col("arm"))
        .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
        .withColumn("conv_rate",
          round(col("n_converted").cast("double") / col("n_users"), 6))
      val a = arms.filter(col("arm") === 0)
        .select(col("n_users").as("na"), col("n_converted").as("ca"))
      val b = arms.filter(col("arm") === 1)
        .select(col("n_users").as("nb"), col("n_converted").as("cb"))
      val z = a.crossJoin(b).select(
        ((col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))).as("p"),
        col("na"), col("ca"), col("nb"), col("cb"))
        // a saturated pooled rate (p = 0 or 1) has zero variance: the z
        // statistic is undefined, not infinite — and under ANSI an
        // unguarded /0 aborts the job
        .select(when(col("p") <= 0 || col("p") >= 1, lit(null).cast("double"))
          .otherwise(round(
            (col("ca").cast("double") / col("na") - col("cb").cast("double") / col("nb")) /
              sqrt(col("p") * (lit(1.0) - col("p")) *
                (lit(1.0) / col("na") + lit(1.0) / col("nb"))), 6)).as("z_stat"))
      arms.crossJoin(broadcast(z))
        .select(col("arm"), col("n_users"), col("n_converted"), col("conv_rate"),
          col("z_stat"))
        .orderBy(col("arm"))
    }),

    // Sample-ratio-mismatch audit (q256) — the FIRST check an experiment
    // readout runs, before any uplift number is trusted: if the hash
    // assignment doesn't split users 50/50, the assignment itself is
    // broken (redirect loss, bot filtering applied to one arm, a biased
    // hash) and q224/q233/q257 are reading selection bias, not treatment
    // effect. Chi-square of observed arm sizes against the equal split,
    // flagged at the df=1 95% critical value (3.841). One grouped count
    // over users; the statistic is closed-form from two scalars.
    "q256_srm_audit" -> ((s, dir) => {
      val users = ev(s, dir).select(col("user_id")).distinct()
        .select(abArm.as("arm"))
      val counts = users.groupBy(col("arm")).agg(count(lit(1)).as("n_users"))
      val a = counts.filter(col("arm") === 0).select(col("n_users").as("na"))
      val b = counts.filter(col("arm") === 1).select(col("n_users").as("nb"))
      a.crossJoin(b).select(
        col("na"), col("nb"),
        round(pow(col("na") - (col("na") + col("nb")) / lit(2.0), 2)
          / ((col("na") + col("nb")) / lit(2.0))
          + pow(col("nb") - (col("na") + col("nb")) / lit(2.0), 2)
          / ((col("na") + col("nb")) / lit(2.0)), 6).as("chi2"))
        .select(col("na"), col("nb"), col("chi2"),
          when(col("chi2") > 3.841, 1L).otherwise(0L).as("srm_flag"))
    }),

    // CUPED variance-reduced uplift (q257) — Deng et al., WSDM 2013: the
    // industry-standard experiment readout. Per user, spend splits at the
    // calendar midpoint into a PRE-period covariate (unaffected by
    // treatment by construction) and a POST-period metric; theta =
    // cov(pre, post)/var(pre) from decimal-exact pooled moments, and the
    // adjusted metric post − theta·(pre − mean_pre) removes the
    // between-user variance the covariate explains — the same experiment
    // reads significance at a fraction of the sample size. Output: per
    // arm the raw and CUPED means, plus the pooled variance-reduction
    // ratio (1 − var_adj/var_post) and theta pinned into both rows so the
    // oracle hash-gates the MODEL, not just the means. All moments are
    // 12-dp decimal sums → 6-dp scalars (the q232 convention); the only
    // wide ops are two user-keyed grouped sums and |arms|-row rollups.
    "q257_cuped_uplift" -> ((s, dir) => {
      val dec = DecimalType(38, 12)
      val e0 = ev(s, dir)
      val mid = e0.agg(((min(col("ts").cast("long")) + max(col("ts").cast("long")))
        / lit(2L)).as("mid"))
      val users = e0.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(
          round(sum(when(col("ts").cast("long") < col("mid"),
            round(col("value"), 6)).otherwise(lit(0.0)).cast(dec)).cast("double"), 6)
            .as("pre"),
          round(sum(when(col("ts").cast("long") >= col("mid"),
            round(col("value"), 6)).otherwise(lit(0.0)).cast(dec)).cast("double"), 6)
            .as("post"))
        .select(col("user_id"), abArm.as("arm"), col("pre"), col("post"))
      // pre/post are 6-dp exact: second moments multiply IN decimal space —
      // rounding their ~1e8-magnitude products in double is the
      // cross-engine half-way class that struck q293
      val preD = col("pre").cast(DecimalType(18, 6))
      val postD = col("post").cast(DecimalType(18, 6))
      val m = users.agg(
        count(lit(1)).as("n"),
        round(sum(round(col("pre"), 6).cast(dec)).cast("double") / count(lit(1)), 6).as("mpre"),
        round(sum(round(col("post"), 6).cast(dec)).cast("double") / count(lit(1)), 6).as("mpost"),
        round(sum(preD * preD).cast("double") / count(lit(1)), 6).as("spp"),
        round(sum(postD * postD).cast("double") / count(lit(1)), 6).as("sqq"),
        round(sum(preD * postD).cast("double") / count(lit(1)), 6).as("spq"))
      val stats = m.select(col("mpre"), col("mpost"),
        round(col("spp") - col("mpre") * col("mpre"), 6).as("vpre"),
        round(col("sqq") - col("mpost") * col("mpost"), 6).as("vpost"),
        round(col("spq") - col("mpre") * col("mpost"), 6).as("cpq"))
        .select(col("mpre"), col("vpost"),
          when(col("vpre") <= 0, lit(0.0))
            .otherwise(round(col("cpq") / col("vpre"), 6)).as("theta"),
          col("cpq"), col("vpre"))
      val adj = users.crossJoin(broadcast(stats))
        .select(col("arm"),
          col("post"),
          round(col("post") - col("theta") * (col("pre") - col("mpre")), 6).as("adjusted"),
          col("theta"), col("vpost"), col("vpre"), col("cpq"))
      val adjD = col("adjusted").cast(DecimalType(18, 6))
      val varred = adj.agg(
        round(sum(adjD * adjD).cast("double")
          / count(lit(1)), 6).as("saa"),
        round(sum(round(col("adjusted"), 6).cast(dec)).cast("double")
          / count(lit(1)), 6).as("ma"))
        .crossJoin(broadcast(stats))
        .select(col("theta"),
          when(col("vpost") <= 0, lit(null).cast("double"))
            .otherwise(round(lit(1.0) -
              round(col("saa") - col("ma") * col("ma"), 6) / col("vpost"), 6))
            .as("var_reduction"))
      adj.groupBy(col("arm"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(round(col("post"), 6).cast(dec)).cast("double") / count(lit(1)), 6)
            .as("mean_post"),
          round(sum(round(col("adjusted"), 6).cast(dec)).cast("double") / count(lit(1)), 6)
            .as("mean_cuped"))
        .crossJoin(broadcast(varred))
        .select(col("arm"), col("n_users"), col("mean_post"), col("mean_cuped"),
          col("theta"), col("var_reduction"))
        .orderBy(col("arm"))
    }),

    // Kaplan–Meier time-to-conversion survival (q225): per user, days from
    // first view to first subsequent purchase, right-CENSORED at the corpus
    // horizon for users who never convert — the estimator product-analytics
    // uses because naive "mean days to convert" over converters only is
    // survivorship-biased (it silently drops everyone still waiting). The
    // KM table emits, per conversion day t: the at-risk count (observation
    // >= t), conversions d_t, and S(t) = Π(1 − d_s/n_s) — computed as a
    // log10-space cumulative sum of 12 dp-rounded factors with an explicit
    // absorbing-zero flag (a day where every at-risk user converts sends
    // S to exactly 0, not to a -inf log). Day arithmetic is exact integer
    // (epoch-second div 86400). The only windows run over the per-day
    // rollup (≤ horizon-days rows — bounded, AuditSpec-classified), never
    // the event log; everything user-level is grouped map-side.
    "q225_km_survival" -> ((s, dir) =>
      kaplanMeier(timeToConversion(ev(s, dir), byArm = false), Nil)
        .orderBy(col("day"))),

    // Restricted mean survival time (q325): the area under q225's KM curve
    // up to the observation horizon — "average conversion-free days per
    // user over the first τ days", the EFFECT-SIZE companion to q302's
    // log-rank significance (clinically the standard pair: log-rank says
    // whether curves differ, RMST says by how many days). The step-area
    // sum is EXACT: 6-dp survival values × integer day gaps live on the
    // 1e-6 grid, decimal-summed, so no float boundary exists. Windows run
    // over the per-day KM rollup (q225-class, audit-classified); the event
    // log passes the same two grouped scans as q225.
    "q325_rmst" -> ((s, dir) => {
      val obs = timeToConversion(ev(s, dir), byArm = false).localCheckpoint()
      val km = kaplanMeier(obs, Nil).select(col("day"), col("survival").as("surv"))
      val tau = obs.agg(max(col("days")).as("tau"))
      val wLead = Window.orderBy(col("day"))
      val areas = km.crossJoin(broadcast(tau))
        .withColumn("nxt", coalesce(lead(col("day"), 1).over(wLead), col("tau")))
        .select(col("day"),
          (col("surv") * (col("nxt") - col("day")).cast("double")).as("a"))
      val first = km.agg(min(col("day")).as("d1"))
      areas.agg(sum(col("a").cast(DecimalType(38, 6))).as("tail_area"))
        .crossJoin(broadcast(first)).crossJoin(broadcast(tau))
        .select(col("tau").as("horizon_days"), col("d1").as("first_event_day"),
          round((col("d1").cast("double") + col("tail_area").cast("double")), 6)
            .as("rmst_days"))
    }),

    // KM with Greenwood bands (q345): q225's survival curve plus the
    // standard error and 95% CI every published survival plot carries —
    // Greenwood's Var(S) = S²·Σ d/(n(n−d)), the delta-method variance that
    // says WHICH part of the curve is estimate and which is noise (the
    // right tail always looks dramatic and is usually just thin). The
    // variance accumulator is a 12-dp-rounded decimal cumsum over the same
    // bounded per-day rollup windows as q225 (audit-classified); bands
    // clamp to [0,1].
    "q345_km_greenwood" -> ((s, dir) =>
      kaplanMeier(timeToConversion(ev(s, dir), byArm = false), Nil, greenwood = true)
        .select(col("day"), col("n_risk"), col("n_events"), col("survival"),
          when(col("dead") === 1, lit(0.0))
            .otherwise(round(col("survival")
              * sqrt(col("gs").cast("double")), 6)).as("se_greenwood"))
        .select(col("day"), col("n_risk"), col("n_events"), col("survival"),
          col("se_greenwood"),
          greatest(lit(0.0), round(col("survival")
            - lit(1.96) * col("se_greenwood"), 6)).as("ci_lo"),
          least(lit(1.0), round(col("survival")
            + lit(1.96) * col("se_greenwood"), 6)).as("ci_hi"))
        .orderBy(col("day"))),

    // Per-arm Kaplan–Meier (q233): q225's censored time-to-conversion
    // estimator split by q224's hash-assigned arms — the readout an
    // experiment uses when the treatment should move WHEN users convert,
    // not just whether ("did checkout get faster?"). Comparing the two
    // survival curves is the Kaplan–Meier form of a log-rank test's input;
    // on this A/A null the curves should track each other (spec-gated
    // loosely). All windows partition on arm — partition-parallel; the
    // per-(arm, day) rollup stays bounded by 2 × horizon days.
    "q233_km_by_arm" -> ((s, dir) =>
      kaplanMeier(timeToConversion(ev(s, dir), byArm = true), Seq("arm"))
        .orderBy(col("arm"), col("day"))),

    // Log-rank test between the A/B arms' conversion processes (q302):
    // q233 draws the two Kaplan–Meier curves; this is the hypothesis test
    // that compares them — at every conversion day t, the observed arm-0
    // conversions d1t against the expectation dt·n1t/nt under "both arms
    // share one hazard", with the hypergeometric variance; χ² = (O1−E1)²/V.
    // On the q224 A/A hash split this should sit near 0 — the null
    // calibration every real experiment's test rides on. At-risk counts
    // come from a |per-arm-day rollup| × |event days| inequality join —
    // calendar², NEVER users² — and the event log is touched exactly
    // twice (the q233 first-view/first-purchase passes). Per-day terms
    // are 9-dp pre-rounded and decimal-summed (order-independent).
    "q302_logrank" -> ((s, dir) => {
      val dec9 = DecimalType(38, 9)
      val obs = timeToConversion(ev(s, dir), byArm = true)
      val ending = obs.groupBy(col("arm"), col("days"))
        .agg(count(lit(1)).as("cnt"), sum(col("event")).as("d"))
        .localCheckpoint()
      val evDays = ending.filter(col("d") > 0).select(col("days").as("day")).distinct()
      val risk = ending.join(evDays, col("days") >= col("day"))
        .groupBy(col("arm"), col("day"))
        .agg(sum(col("cnt")).as("n_risk"),
          sum(when(col("days") === col("day"), col("d")).otherwise(lit(0L))).as("d_arm"))
      val a0 = risk.filter(col("arm") === 0)
        .select(col("day"), col("n_risk").as("n1"), col("d_arm").as("d1"))
      val a1 = risk.filter(col("arm") === 1)
        .select(col("day"), col("n_risk").as("n2"), col("d_arm").as("d2"))
      val dd = a0.join(a1, Seq("day"), "full")
        .select(col("day"),
          coalesce(col("n1"), lit(0L)).as("n1"), coalesce(col("d1"), lit(0L)).as("d1"),
          coalesce(col("n2"), lit(0L)).as("n2"), coalesce(col("d2"), lit(0L)).as("d2"))
      val nt = col("n1") + col("n2"); val dt = col("d1") + col("d2")
      val terms = dd.select(col("day"), col("d1"),
        round(dt.cast("double") * col("n1") / nt, 9).as("e1t"),
        when(nt > 1,
          round(dt.cast("double") * (col("n1").cast("double") / nt)
            * (col("n2").cast("double") / nt) * (nt - dt) / (nt - lit(1L)), 9))
          .otherwise(lit(0.0)).as("vt"))
      terms.agg(count(lit(1)).as("n_days"), sum(col("d1")).as("o1"),
          round(sum(col("e1t").cast(dec9)).cast("double"), 6).as("e1"),
          round(sum(col("vt").cast(dec9)).cast("double"), 6).as("v"))
        .select(col("n_days"), col("o1"), col("e1"), col("v"),
          round((col("o1") - col("e1")) * (col("o1") - col("e1")) / col("v"), 6)
            .as("chi2"))
    }),

    // Tumbling 1-hour windows: events + exact value sum per hour.
    "q24_tumbling_window" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"), exactSum(col("value"), 2).as("sum_value"))
        .select(col("window.start").cast(LongType).as("unix_hour"), col("n_events"), col("sum_value"))
        .orderBy(col("unix_hour"))),

    // Sliding windows: 1-hour duration, 30-minute slide (each event lands in
    // exactly two windows).
    "q25_sliding_window" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").cast(LongType).as("w_start"), col("n_events"))
        .orderBy(col("w_start"))),

    // Session windows: per-user sessions closed by a 10-minute inactivity gap.
    // Spark merges touching windows: an event exactly at last_ts + gap still
    // joins the open session; only ts > last_ts + gap opens a new one. The
    // oracle reproduces this with a strict `>` gaps-and-islands split.
    "q26_session_window" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").cast(LongType).as("sess_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))),

    // Keyed tumbling windows: hourly activity per event type.
    "q27_event_type_hourly" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("event_type"), col("window.start").cast(LongType).as("unix_hour"), col("n_events"))
        .orderBy(col("event_type"), col("unix_hour"))),

    // Semi-structured props payload: extract the numeric field and roll up —
    // the schema-on-read pattern for loosely-typed event attributes.
    "q45_props_extract" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("k", regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast(LongType))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n_events"), exactSum(col("value"), 2).as("sum_value"))
        .orderBy(col("k_mod"))),

    // Pivot: one column per event type, counts per day — the wide-format
    // report shape. Pivot values are declared explicitly (never inferred
    // with an extra scan — at 100 TB the inference pass is a full read).
    "q51_pivot" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("day", dayofmonth(col("ts")))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("day"))),

    // Funnel: users whose first view precedes their first click precedes
    // their first purchase. One grouped pass (conditional min per step) —
    // no self-joins, no sequence scan.
    "q55_funnel" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("vt"),
          min(when(col("event_type") === "click", col("ts"))).as("ct"),
          min(when(col("event_type") === "purchase", col("ts"))).as("pt"))
        .filter(col("vt").isNotNull && col("ct").isNotNull && col("pt").isNotNull &&
          col("vt") < col("ct") && col("ct") < col("pt"))
        .select(col("user_id"),
          col("vt").cast(LongType).as("first_view"),
          col("pt").cast(LongType).as("first_purchase"))
        .orderBy(col("user_id"))),

    // Deadline funnel (q133): view → click within 1h of THAT view → purchase
    // within 1h of THAT click — the time-bounded conversion funnel (q55
    // only orders the steps; real funnels expire). The semantics need the
    // first click AFTER the user's first view, so this is three STAGED
    // per-user aggregations, each a conditional min over the events
    // filtered by the previous stage's time — the per-user stage tables
    // join back on user_id, the same key every stage shuffles on (AQE
    // reuses the partitioning; at 100 TB these are three co-partitioned
    // passes, never a sequence scan or a window over raw events). Output:
    // the funnel report row with per-stage survivors and 6-dp rates.
    "q133_funnel_deadline" -> ((s, dir) => deadlineFunnel(ev(s, dir))),

    // Day-over-day retention: users active on day d who return on d+1.

    // Distinct (user, day) pairs self-joined on the next calendar day.
    "q56_retention" -> ((s, dir) => {
      val activity = ev(s, dir)
        .select(col("user_id"), col("ts").cast(DateType).as("day")).distinct()
      activity.as("a")
        .join(activity.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("b.day") === date_add(col("a.day"), 1))
        .groupBy(col("a.day").as("day"))
        .agg(count(lit(1)).as("n_retained"))
        .orderBy(col("day"))
    }),

    // Weekly cohort retention matrix (q311): users bucketed by FIRST-seen
    // week, then the classic retention triangle — of cohort w's users, how
    // many were active k weeks later, as a rate of the cohort's size. The
    // longitudinal readout q56's day-over-day pairs can't give (it has no
    // cohort axis, so aging and acquisition mix). Distinct (user, week)
    // activity is the only corpus-sized frame (one distinct + one min-per-
    // user grouped pass, both map-side combined); the matrix itself is
    // |weeks|² rows, calendar-bounded at any corpus scale.
    "q311_cohort_retention" -> ((s, dir) => {
      val act = ev(s, dir)
        .select(col("user_id"),
          floor(col("ts").cast(LongType) / 604800L).cast(LongType).as("week"))
        .distinct().localCheckpoint()
      val cohort = act.groupBy(col("user_id")).agg(min(col("week")).as("cw"))
      val m = act.join(cohort, "user_id")
        .groupBy(col("cw"), (col("week") - col("cw")).as("k"))
        .agg(count(lit(1)).as("n_active"))
      val base = m.filter(col("k") === 0)
        .select(col("cw"), col("n_active").as("n_cohort"))
      m.join(base, "cw")
        .select(col("cw").as("cohort_week"), col("k").as("weeks_since"),
          col("n_active"), col("n_cohort"),
          round(col("n_active").cast("double") / col("n_cohort"), 6).as("retention"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    }),

    // Feature information gain for purchase prediction (q312): the
    // decision-stump / feature-selection readout — for each candidate
    // feature (6-hour time-of-day bucket, weekend flag, and the props k%10
    // field q142 proves uniform), the mutual information with "this event
    // is a purchase": IG(f) = H(y) − H(y|f). The uniform k feature is the
    // planted null (IG ≈ 0), so the ranking is self-calibrating — features
    // below the null's gain carry nothing. All three features cell-count in
    // ONE grouped pass over a union of narrow projections; entropies follow
    // the q206 log10 convention (12-dp pre-rounded decimal sums).
    "q312_info_gain" -> ((s, dir) => {
      val dec = DecimalType(38, 12)
      val base = ev(s, dir).select(
        col("ts").cast(LongType).as("t"),
        when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L)).as("y"),
        (regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast(LongType) % 10)
          .as("kf"))
        .select(col("y"),
          expr("((t div 3600) % 24) div 6").as("b1"),
          when(((expr("t div 86400") + lit(4L)) % 7).isin(0, 6), lit(1L))
            .otherwise(lit(0L)).as("b2"),
          col("kf").as("b3"))
        .localCheckpoint()
      val u = base.select(lit("f1_hod_bucket").as("feature"), col("b1").as("v"), col("y"))
        .unionByName(base.select(lit("f2_weekend").as("feature"), col("b2").as("v"), col("y")))
        .unionByName(base.select(lit("f3_props_k").as("feature"), col("b3").as("v"), col("y")))
      val cells = u.groupBy(col("feature"), col("v"), col("y"))
        .agg(count(lit(1)).as("c")).localCheckpoint()
      val nv = cells.groupBy(col("feature"), col("v")).agg(sum(col("c")).as("nv"))
      val nn = cells.filter(col("feature") === "f1_hod_bucket")
        .agg(sum(col("c")).as("n"))
      val hy = cells.filter(col("feature") === "f1_hod_bucket")
        .groupBy(col("y")).agg(sum(col("c")).as("cy"))
        .crossJoin(broadcast(nn))
        .agg(round(-sum(round((col("cy").cast("double") / col("n"))
            * log10(col("cy").cast("double") / col("n")) / log10(lit(2.0)), 12)
          .cast(dec)).cast("double"), 6).as("h_y"))
      cells.join(nv, Seq("feature", "v")).crossJoin(broadcast(nn))
        .groupBy(col("feature"))
        .agg(round(-sum(round((col("c").cast("double") / col("n"))
            * log10(col("c").cast("double") / col("nv")) / log10(lit(2.0)), 12)
          .cast(dec)).cast("double"), 6).as("h_cond"))
        .crossJoin(broadcast(hy))
        .select(col("feature"), col("h_y"), col("h_cond"),
          round(col("h_y") - col("h_cond"), 6).as("info_gain"))
        .orderBy(col("feature"))
    }),

    // Difference-in-differences readout (q313): the quasi-experimental
    // estimator for when randomization ISN'T available — arm A's pre→post
    // daily-revenue change minus arm B's, with "post" cut at the calendar
    // midpoint. Here both arm and cut are the q224 hash / a neutral date,
    // so this is the A/A placebo run of the estimator (did ≈ 0 is the
    // calibration every real DiD should be preceded by); the parallel-
    // trends input q281's sequential monitor watches is exactly this
    // frame. One grouped pass to the (arm, day) rollup; the four cell
    // means and the contrast run on a calendar-bounded frame in exact
    // decimal space.
    "q313_diff_in_diff" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(abArm.as("arm"),
          floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("arm"), col("day")).agg(exactSum(col("value"), 2).as("rev"))
        .localCheckpoint()
      val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val cells = daily.crossJoin(broadcast(bounds))
        .select(col("arm"),
          when(col("day") >= expr("(lo + hi + 1) div 2"), lit(1L))
            .otherwise(lit(0L)).as("post"),
          col("rev"))
        .groupBy(col("arm"), col("post"))
        .agg(round(sum(col("rev").cast(DecimalType(18, 2))).cast("double")
          / count(lit(1)), 9).as("m"))
        .localCheckpoint()
      def cell(a: Int, p: Int, nm: String): DataFrame =
        cells.filter(col("arm") === a && col("post") === p).select(col("m").as(nm))
      cell(0, 0, "m_a_pre").crossJoin(cell(0, 1, "m_a_post"))
        .crossJoin(cell(1, 0, "m_b_pre")).crossJoin(cell(1, 1, "m_b_post"))
        .select(col("m_a_pre"), col("m_a_post"), col("m_b_pre"), col("m_b_post"),
          round((col("m_a_post") - col("m_a_pre"))
            - (col("m_b_post") - col("m_b_pre")), 6).as("did"))
    }),

    // Session-depth geometric fit (q328): the distribution of events per
    // session (10-minute gaps, q26's cut) against the geometric law a
    // memoryless leave-after-every-event process implies — observed vs
    // fitted counts per depth bin (tail-collapsed at 10+). Humans leave
    // sessions non-memorylessly; bots often don't — the shape of the
    // obs/expected gap is the behavioral-authenticity readout behind
    // q148's entropy flags. Sessionization is one user-partitioned
    // lag+cumsum pass (partition-parallel); the fit algebra runs on ≤10
    // histogram rows, with p̂ = sessions/events a single exact-operand
    // division and the pow() calls confined to those rows.
    "q328_depth_geometric" -> ((s, dir) => {
      val wU = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val sess = ev(s, dir)
        .select(col("user_id"), col("event_id"), col("ts").cast(LongType).as("t"))
        .withColumn("gap", col("t") - lag(col("t"), 1).over(wU))
        .withColumn("snew",
          when(col("gap").isNull || col("gap") > 600, lit(1L)).otherwise(lit(0L)))
        .withColumn("sid", sum(col("snew"))
          .over(wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val depth = sess.groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("k")).localCheckpoint()
      val hist = depth.groupBy(least(col("k"), lit(10L)).as("kbin"))
        .agg(count(lit(1)).as("obs"))
      val stats = depth.agg(count(lit(1)).as("ns"), sum(col("k")).as("tk"))
      hist.crossJoin(broadcast(stats))
        .select(col("kbin"), col("obs"), col("ns"),
          round(col("ns").cast("double") / col("tk"), 9).as("phat"))
        .select(col("kbin"), col("obs"), col("phat"),
          when(col("kbin") < 10,
            round(col("ns") * col("phat")
              * pow(lit(1.0) - col("phat"), (col("kbin") - lit(1L)).cast("double")), 6))
            .otherwise(round(col("ns")
              * pow(lit(1.0) - col("phat"), lit(9.0)), 6)).as("expected"))
        .orderBy(col("kbin"))
    }),

    // Lead-lag cross-correlation (q331): corr(count_t, revenue_{t+k}) for
    // k ∈ [−3, 3] — does activity LEAD revenue (conversion delay), LAG it
    // (post-purchase browsing), or move synchronously? The two-series
    // companion to q275's single-series ACF, and the readout that decides
    // which lagged feature a revenue forecast should use. Revenue joins on
    // the cents grid (y = rev·100, exact integer), so every moment is a
    // pure integer and the correlation touches floats only at the final
    // divide-by-sqrt; lag pairs come from 7 equi-joins on day+k over the
    // calendar-bounded rollup.
    "q331_ccf" -> ((s, dir) => {
      import s.implicits._
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("x"),
          round(exactSum(col("value"), 2) * 100, 0).cast("long").as("y100"))
        .localCheckpoint()
      val ks = Seq(-3L, -2L, -1L, 0L, 1L, 2L, 3L).toDF("k")
      val a = daily.select(col("day"), col("x"))
      val b = daily.select(col("day").as("day2"), col("y100").as("y"))
      a.crossJoin(broadcast(ks))
        .join(b, col("day2") === col("day") + col("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(x as decimal(38,0))")).as("sx"),
          sum(expr("cast(y as decimal(38,0))")).as("sy"),
          sum(expr("cast(x as decimal(19,0)) * cast(x as decimal(19,0))")).as("sxx"),
          sum(expr("cast(y as decimal(19,0)) * cast(y as decimal(19,0))")).as("syy"),
          sum(expr("cast(x as decimal(19,0)) * cast(y as decimal(19,0))")).as("sxy"))
        .select(col("k").as("lag"), col("n"),
          round(expr("cast(cast(n as decimal(38,0)) * sxy - sx * sy as double)")
            / sqrt(expr("cast(cast(n as decimal(38,0)) * sxx - sx * sx as double)")
              * expr("cast(cast(n as decimal(38,0)) * syy - sy * sy as double)")), 6)
            .as("ccf"))
        .orderBy(col("lag"))
    }),

    // Partial autocorrelation (q332): PACF at lags 1-3 via the closed-form
    // Durbin–Levinson recursion over the daily-count ACF — the statistic
    // that separates "AR(1) whose echo reaches lag 3" from genuine
    // higher-order memory (q275's raw ACF can't tell them apart; PACF(k)
    // nets out the shorter lags). ACF inputs use the exact integer moment
    // machinery (counts are integers) rounded at 9 dp; the recursion is a
    // fixed double-arithmetic sequence both engines execute identically on
    // those identical inputs.
    "q332_pacf" -> ((s, dir) => {
      import s.implicits._
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val ks = Seq(1L, 2L, 3L).toDF("k")
      val a = daily.select(col("day"), col("x"))
      val b = daily.select(col("day").as("day2"), col("x").as("y"))
      val rk = a.crossJoin(broadcast(ks))
        .join(b, col("day2") === col("day") + col("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(x as decimal(38,0))")).as("sx"),
          sum(expr("cast(y as decimal(38,0))")).as("sy"),
          sum(expr("cast(x as decimal(19,0)) * cast(x as decimal(19,0))")).as("sxx"),
          sum(expr("cast(y as decimal(19,0)) * cast(y as decimal(19,0))")).as("syy"),
          sum(expr("cast(x as decimal(19,0)) * cast(y as decimal(19,0))")).as("sxy"))
        .select(col("k"),
          round(expr("cast(cast(n as decimal(38,0)) * sxy - sx * sy as double)")
            / sqrt(expr("cast(cast(n as decimal(38,0)) * sxx - sx * sx as double)")
              * expr("cast(cast(n as decimal(38,0)) * syy - sy * sy as double)")), 9)
            .as("r"))
      val r1 = rk.filter(col("k") === 1).select(col("r").as("r1"))
      val r2 = rk.filter(col("k") === 2).select(col("r").as("r2"))
      val r3 = rk.filter(col("k") === 3).select(col("r").as("r3"))
      r1.crossJoin(r2).crossJoin(r3)
        .select(col("r1"), col("r2"), col("r3"),
          round((col("r2") - col("r1") * col("r1"))
            / (lit(1.0) - col("r1") * col("r1")), 9).as("p2"))
        .select(col("r1"), col("r2"), col("r3"), col("p2"),
          round((col("r1") - col("p2") * col("r1")), 9).as("f21"))
        .select(col("r1").as("pacf1"), col("p2").as("pacf2"),
          round((col("r3") - col("f21") * col("r2") - col("p2") * col("r1"))
            / (lit(1.0) - col("f21") * col("r1") - col("p2") * col("r2")), 6)
            .as("pacf3"))
    }),

    // Seasonal-naive forecast quality (q333): Theil-style ratio of the
    // same-weekday-last-week forecast's RMSE to the yesterday-naive
    // baseline's, over days where both references exist — U < 1 means the
    // weekly pattern q321 detected actually FORECASTS (eta² can be real
    // yet useless one step ahead). Errors are differences of exact 2-dp
    // daily revenues, their squares exact 4-dp decimals — both SSEs are
    // exact until the final sqrt-of-ratio; lag references come from two
    // equi-joins, no windows.
    "q333_seasonal_naive" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day")).agg(exactSum(col("value"), 2).as("rev"))
        .localCheckpoint()
      val cur = daily.select(col("day"), col("rev"))
      val l1 = daily.select((col("day") + 1).as("day"), col("rev").as("rev1"))
      val l7 = daily.select((col("day") + 7).as("day"), col("rev").as("rev7"))
      cur.join(l1, "day").join(l7, "day")
        .select(
          expr("cast(rev as decimal(18,2)) - cast(rev1 as decimal(18,2))").as("e1"),
          expr("cast(rev as decimal(18,2)) - cast(rev7 as decimal(18,2))").as("e7"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(e1 as decimal(19,2)) * cast(e1 as decimal(19,2))")).as("sse1"),
          sum(expr("cast(e7 as decimal(19,2)) * cast(e7 as decimal(19,2))")).as("sse7"))
        .select(col("n").as("n_days"),
          round(sqrt(col("sse1").cast("double") / col("n")), 6).as("rmse_naive1"),
          round(sqrt(col("sse7").cast("double") / col("n")), 6).as("rmse_seasonal7"),
          round(sqrt(col("sse7").cast("double") / col("sse1").cast("double")), 6)
            .as("theil_u"))
    }),

    // Wilcoxon signed-rank pre/post test (q342): each user's second-half
    // revenue against their own first half — the PAIRED nonparametric
    // test (q264's Mann-Whitney compares independent groups; pairing
    // within users removes between-user variance, which is most of it).
    // On the calendar-midpoint A/A cut z should sit near 0. Diffs bucket
    // to whole units (integer-space half-up — the grid is bounded by the
    // VALUE range, not the corpus), tied ranks use the exact average-rank
    // identity in 2·rank integers, and the tie-corrected variance is pure
    // integer until the final z.
    "q342_signed_rank" -> ((s, dir) => {
      val dec2 = DecimalType(18, 2)
      val daily = ev(s, dir)
        .select(col("user_id"),
          floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
      val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val dd = daily.crossJoin(broadcast(bounds))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < expr("(lo + hi + 1) div 2"),
            col("value").cast(dec2)).otherwise(lit(0).cast(dec2))).as("pre"),
          sum(when(col("day") >= expr("(lo + hi + 1) div 2"),
            col("value").cast(dec2)).otherwise(lit(0).cast(dec2))).as("post"))
        .select((col("post") - col("pre")).as("d"))
        .filter(col("d") =!= 0)
        .select(when(col("d") > 0, lit(1L)).otherwise(lit(-1L)).as("sgn"),
          expr("(cast(abs(cast(d as double)) * 100 as bigint) + 50) div 100").as("b"))
        .localCheckpoint()
      val grid = dd.groupBy(col("b")).agg(count(lit(1)).as("c"))
      val wB = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
      val ranks = grid
        .withColumn("cum_below", coalesce(sum(col("c")).over(wB), lit(0L)))
        .select(col("b"), (lit(2L) * col("cum_below") + col("c") + lit(1L)).as("ar2"))
      val ties = grid.filter(col("c") > 1)
        .agg(coalesce(sum(col("c") * col("c") * col("c") - col("c")), lit(0L))
          .as("tie_term"))
      dd.join(ranks, "b")
        .agg(count(lit(1)).as("n"),
          sum(when(col("sgn") === 1, col("ar2")).otherwise(lit(0L))).as("w2"))
        .crossJoin(broadcast(ties))
        .select(col("n").as("n_pairs"),
          (col("w2").cast("double") / 2).as("w_plus"),
          round((col("w2").cast("double") / 2
            - col("n").cast("double") * (col("n") + lit(1L)) / 4)
            / sqrt(col("n").cast("double") * (col("n") + lit(1L))
              * (lit(2L) * col("n") + lit(1L)) / 24
              - col("tie_term").cast("double") / 48), 6).as("z_wilcoxon"))
    }),

    // Churn hazard by tenure (q339): for each tenure length t (weeks from
    // first to last activity), the conditional probability that a user's
    // engagement ENDS at t given it reached t — the discrete hazard curve
    // retention teams actually read ("week 3 is where we lose people"),
    // which neither q56's day pairs nor q311's cohort triangle isolates.
    // Users still active in the corpus's final week are censored (they
    // count at risk, never as churned — the q225 censoring discipline).
    // One grouped pass to per-user (first, last) weeks; at-risk counts via
    // a tenure²-bounded inequality join, never a corpus window.
    "q339_churn_hazard" -> ((s, dir) => {
      val wk = floor(col("ts").cast(LongType) / 604800L).cast(LongType)
      val u = ev(s, dir).select(col("user_id"), wk.as("w"))
        .groupBy(col("user_id")).agg(min(col("w")).as("fw"), max(col("w")).as("lw"))
      val mx = u.agg(max(col("lw")).as("mw"))
      val ten = u.crossJoin(broadcast(mx))
        .select((col("lw") - col("fw")).as("tenure"),
          when(col("lw") < col("mw"), lit(1L)).otherwise(lit(0L)).as("churned"))
        .groupBy(col("tenure"))
        .agg(count(lit(1)).as("cnt"), sum(col("churned")).as("n_churned"))
        .localCheckpoint()
      val risk = ten.select(col("tenure").as("tt"))
        .join(ten, col("tenure") >= col("tt"))
        .groupBy(col("tt"))
        .agg(sum(col("cnt")).as("n_at_risk"),
          sum(when(col("tenure") === col("tt"), col("n_churned"))
            .otherwise(lit(0L))).as("n_churned"))
      risk.select(col("tt").as("tenure_weeks"), col("n_at_risk"), col("n_churned"),
          round(col("n_churned").cast("double") / col("n_at_risk"), 6).as("hazard"))
        .orderBy(col("tenure_weeks"))
    }),

    // Rolling channel breakouts (q349): each day's revenue against the
    // prior 7 days' min/max band (the Donchian channel) — the windowed
    // outlier view that needs NO distributional assumption at all, and
    // catches regime breaks q105's global z-scores average away (a level
    // shift is a breakout streak here, one diluted z there). Exact 2-dp
    // comparisons, one trailing window over the calendar-bounded rollup
    // (audit-classified); only full 7-day channels emit.
    "q349_rolling_channel" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day")).agg(exactSum(col("value"), 2).as("rev"))
      val wPrior = Window.orderBy(col("day")).rowsBetween(-7, -1)
      daily
        .withColumn("hi", max(col("rev")).over(wPrior))
        .withColumn("lo", min(col("rev")).over(wPrior))
        .withColumn("wn", count(lit(1)).over(wPrior))
        .filter(col("wn") === 7)
        .select(col("day"), col("rev"),
          col("hi").as("channel_hi"), col("lo").as("channel_lo"),
          when(col("rev") > col("hi"), lit(1L)).otherwise(lit(0L)).as("breakout_up"),
          when(col("rev") < col("lo"), lit(1L)).otherwise(lit(0L)).as("breakout_down"))
        .orderBy(col("day"))
    }),

    // Weekday-adjusted calendar anomalies (q350): the 10 days whose
    // revenue deviates most from THEIR OWN weekday's mean, in that
    // weekday's sigma units — the holiday/outage detector q321's
    // seasonality ANOVA justifies (a huge Saturday is normal; a huge
    // Tuesday is news). Per-weekday moments ride the exact integer-grid
    // machinery (int-space means, 1e-18 variance numerators); the top-10
    // is a bounded TakeOrderedAndProject on |z|.
    "q350_calendar_anomalies" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day")).agg(exactSum(col("value"), 2).as("rev"))
        .select(col("day"), ((col("day") + 4) % 7).as("dow"), col("rev"))
        .localCheckpoint()
      val m = daily.groupBy(col("dow"))
        .agg(count(lit(1)).as("n"),
          expr("(2 * cast(sum(cast(rev as decimal(18,2))) * 1000000000 as decimal(38,0))" +
            " + count(1)) div (2 * count(1))").as("m9"),
          sum(expr("cast(rev as decimal(19,2)) * cast(rev as decimal(19,2))")).as("s2"))
        .filter(col("n") >= 2)
        .select(col("dow"), col("n"),
          (col("m9").cast("double") / 1e9).as("mu"),
          expr("cast(s2 * 1000000000000000000 as decimal(38,0))" +
            " - cast(n as decimal(38,0)) * (cast(m9 as decimal(19,0))" +
            " * cast(m9 as decimal(19,0)))").as("v18"))
        .select(col("dow"), col("mu"),
          round(sqrt(round(col("v18").cast("double")
            / (col("n") - lit(1L)) / 1e18, 9)), 9).as("sd"))
      daily.join(broadcast(m), "dow")
        .filter(col("sd") > 0)
        .select(col("day"), col("dow"), col("rev"),
          round((col("rev") - col("mu")) / col("sd"), 6).as("z"))
        .orderBy(abs(col("z")).desc, col("day"))
        .limit(10)
    }),

    // Daily-count overdispersion (q330): index of dispersion Var/Mean of
    // per-day event counts plus the implied negative-binomial size r̂ =
    // m²/(v−m) — a Poisson arrival process has ID ≈ 1; the corpus's ID
    // says how much burstier than Poisson real traffic runs, and r̂ is
    // the parameter a capacity model or anomaly threshold actually needs
    // (q159-class alerts assuming Poisson underflag at ID >> 1). Counts
    // are integers, so the mean is integer-space half-up and the variance
    // numerator lives exactly on the 1e-18 grid (the q318 discipline);
    // mean_daily reports UNROUNDED (m9/1e9 — no tie exists to strike).
    "q330_overdispersion" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
      daily.agg(count(lit(1)).as("n"),
          expr("(2 * cast(sum(c) as decimal(38,0)) * 1000000000 + count(1))" +
            " div (2 * count(1))").as("m9"),
          sum(expr("cast(c as decimal(19,0)) * cast(c as decimal(19,0))")).as("sc2"))
        .select(col("n"),
          (col("m9").cast("double") / 1e9).as("mean_daily"),
          expr("cast(sc2 * 1000000000000000000 as decimal(38,0))" +
            " - cast(n as decimal(38,0)) * (cast(m9 as decimal(19,0))" +
            " * cast(m9 as decimal(19,0)))").as("v18"))
        .select(col("n").as("n_days"), col("mean_daily"),
          round(col("v18").cast("double") / (col("n") - lit(1L)) / 1e18, 6)
            .as("var_daily"))
        .select(col("n_days"), col("mean_daily"), col("var_daily"),
          round(col("var_daily") / col("mean_daily"), 6).as("dispersion_index"),
          when(col("var_daily") > col("mean_daily"),
            round(col("mean_daily") * col("mean_daily")
              / (col("var_daily") - col("mean_daily")), 6)).as("nb_size"))
    }),

    // Mann-Kendall trend test on daily revenue (q316): is there a monotone
    // trend, with significance — the nonparametric test behind q176's
    // Theil-Sen slope (Theil-Sen says HOW steep; MK says WHETHER to believe
    // a trend at all): S = Σ sign(rev_j − rev_i) over ordered day pairs,
    // tie-corrected variance, continuity-corrected z. Pure integers until
    // the final two divisions; the pair stage is the calendar²-bounded
    // q296 layout, the event log passes one grouped sum.
    "q316_mann_kendall" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day")).agg(exactSum(col("value"), 2).as("rev"))
        .localCheckpoint()
      val a = daily.select(col("day").as("d1"), col("rev").as("r1"))
      val b = daily.select(col("day").as("d2"), col("rev").as("r2"))
      val sgn = a.join(b, col("d1") < col("d2"))
        .agg(sum(when(col("r2") > col("r1"), lit(1L))
          .when(col("r2") < col("r1"), lit(-1L)).otherwise(lit(0L))).as("s_mk"))
      val n = daily.agg(count(lit(1)).as("n"))
      val ties = daily.groupBy(col("rev")).agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .agg(coalesce(sum(col("t") * (col("t") - lit(1L))
          * (lit(2L) * col("t") + lit(5L))), lit(0L)).as("tie_term"))
      n.crossJoin(broadcast(sgn)).crossJoin(broadcast(ties))
        .select(col("n").as("n_days"), col("s_mk"),
          (col("n") * (col("n") - lit(1L)) * (lit(2L) * col("n") + lit(5L))).as("num"),
          col("tie_term"))
        .select(col("n_days"), col("s_mk"),
          round((col("num") - col("tie_term")).cast("double") / 18, 9).as("var_s"))
        .select(col("n_days"), col("s_mk"), col("var_s"),
          when(col("s_mk") > 0,
            round((col("s_mk") - lit(1L)).cast("double") / sqrt(col("var_s")), 6))
            .when(col("s_mk") < 0,
              round((col("s_mk") + lit(1L)).cast("double") / sqrt(col("var_s")), 6))
            .otherwise(lit(0.0)).as("z_mk"))
    }),

    // Wald–Wolfowitz runs test on daily revenue moves (q317): are the
    // up/down moves RANDOM, or do they streak (momentum) or alternate
    // (mean-reversion/oscillation)? The serial-dependence readout q275's
    // linear ACF can't give — runs count sign structure, not magnitude
    // correlation. Ties drop per the standard construction; R = 1 +
    // sign-changes, E[R] and Var[R] in closed form from the up/down census.
    // Both lag windows run over the per-day rollup (#days rows, audit-
    // classified); the event log passes one grouped sum.
    "q317_runs_test" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day")).agg(exactSum(col("value"), 2).as("rev"))
      val wD = Window.orderBy(col("day"))
      val mv = daily.withColumn("prev", lag(col("rev"), 1).over(wD))
        .filter(col("prev").isNotNull && col("rev") =!= col("prev"))
        .select(col("day"),
          when(col("rev") > col("prev"), lit(1L)).otherwise(lit(-1L)).as("mv"))
        .localCheckpoint()
      mv.withColumn("pm", lag(col("mv"), 1).over(wD))
        .agg(sum(when(col("mv") === 1, lit(1L)).otherwise(lit(0L))).as("n_up"),
          sum(when(col("mv") === -1, lit(1L)).otherwise(lit(0L))).as("n_down"),
          (lit(1L) + sum(when(col("pm").isNotNull && col("mv") =!= col("pm"), lit(1L))
            .otherwise(lit(0L)))).as("n_runs"))
        .select(col("n_up"), col("n_down"), col("n_runs"),
          round(lit(1.0) + lit(2.0) * col("n_up") * col("n_down")
            / (col("n_up") + col("n_down")), 9).as("e_runs"),
          round(lit(2.0) * col("n_up") * col("n_down")
            * (lit(2.0) * col("n_up") * col("n_down") - col("n_up") - col("n_down"))
            / ((col("n_up") + col("n_down")).cast("double")
              * (col("n_up") + col("n_down"))
              * (col("n_up") + col("n_down") - lit(1L))), 9).as("var_runs"))
        .select(col("n_up"), col("n_down"), col("n_runs"), col("e_runs"),
          col("var_runs"),
          round((col("n_runs") - col("e_runs")) / sqrt(col("var_runs")), 6)
            .as("z_runs"))
    }),

    // Circular peak-time statistics per event type (q320): WHEN in the day
    // does each event type concentrate, treated correctly as a CIRCLE —
    // a linear "mean hour" puts the peak of a type active around midnight
    // at noon; the circular mean resultant (Fisher, Statistical Analysis of
    // Circular Data) doesn't. R̄ near 1 = sharply peaked schedule (bot
    // cron signature), near 0 = uniform. Trig is evaluated on the bounded
    // 1440-minute histogram, NEVER per event (both the 100 TB plan and the
    // cross-engine-libm exposure cap: ~1440 cos/sin calls per type);
    // cnt·cos products are exact doubles decimal-summed; the mean
    // components divide integer-space (sign-split — C̄/S̄ can be negative,
    // and Spark's div truncates where DuckDB's // floors).
    "q320_circular_peak" -> ((s, dir) => {
      val dec12 = DecimalType(38, 12)
      val hist = ev(s, dir)
        .select(col("event_type"), expr("(cast(ts as long) % 86400) div 60").as("m"))
        .groupBy(col("event_type"), col("m")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val ang = lit(6.283185307179586) * (col("m").cast("double") / 1440.0)
      def halfUp9(sumCol: String): String =
        s"case when $sumCol >= 0 then " +
          s"(2 * cast($sumCol * 1000000000000 as decimal(38,0)) + 1000 * n_events)" +
          s" div (2000 * n_events) else " +
          s"-((2 * cast((- $sumCol) * 1000000000000 as decimal(38,0)) + 1000 * n_events)" +
          s" div (2000 * n_events)) end"
      hist.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n_events"),
          sum((col("cnt") * round(cos(ang), 12)).cast(dec12)).as("cs"),
          sum((col("cnt") * round(sin(ang), 12)).cast(dec12)).as("ss"))
        .select(col("event_type"), col("n_events"),
          (expr(halfUp9("cs")).cast("double") / 1e9).as("cb"),
          (expr(halfUp9("ss")).cast("double") / 1e9).as("sb"))
        .select(col("event_type"), col("n_events"),
          round(sqrt(col("cb") * col("cb") + col("sb") * col("sb")), 6).as("r_bar"),
          round(pmod(atan2(col("sb"), col("cb")) + lit(6.283185307179586),
            lit(6.283185307179586)) / 6.283185307179586 * 24, 4).as("peak_hour"))
        .orderBy(col("event_type"))
    }),

    // Weekly seasonality strength (q321): how much of daily-revenue
    // variance the day-of-week explains — exactly q318's ANOVA machinery
    // pointed at the (weekday, daily revenue) frame, whose eta² IS the
    // seasonal-strength statistic (Hyndman's STL-strength analogue on a
    // weekly period). F says whether the weekly pattern is real; eta² says
    // whether it's worth modeling before q275's ACF chases residual
    // structure. The rollup is calendar-bounded; revenue (2 dp) rides the
    // decimal-exact ANOVA path unchanged.
    "q321_weekly_seasonality" -> ((s, dir) =>
      Expectations.anovaOn(ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day")).agg(exactSum(col("value"), 2).as("rev"))
        .select(((col("day") + 4) % 7).as("g"), col("rev").as("x")))),

    // Exact per-type value percentiles (p50/p95/p99) — the ops-dashboard
    // distribution summary. Spark's exact interpolated `percentile` matches
    // DuckDB's percentile_cont (both return the same convex combination of
    // the two order statistics — the q71 determinism argument); per-type
    // groups aggregate in parallel, no global sort. At 100 TB the same
    // query downgrades to approx_percentile with a documented error bound
    // (the q53 sketch tier); the exact form is the oracle-checkable one.
    "q94_value_percentiles" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"))
        .orderBy(col("event_type"))),

    // Per-segment trend scan (q151): the OLS slope of `value` against
    // days-since-corpus-start, per event type — the drift detector a
    // metrics pipeline runs over every segment at once ("error values are
    // climbing 0.09/day; signups are decaying"). Grouped closed-form
    // regression via Ols.fit: ONE hash aggregation with map-side partial
    // moment sums — per-group cost is five decimal accumulators, output is
    // segment-cardinality. x anchors at the corpus min timestamp (one-row
    // broadcast, the q110 anchor shape) and counts fractional DAYS, which
    // keeps x² inside double precision (raw epoch² would exceed 2^53 and
    // make the rounding step resolution-dependent).
    "q151_trend_slopes" -> ((s, dir) => {
      val anchor = ev(s, dir).agg(min(col("ts").cast(LongType)).as("tmin"))
      val xy = ev(s, dir).crossJoin(broadcast(anchor))
        .select(col("event_type"),
          round((col("ts").cast(LongType) - col("tmin")).cast("double") / 86400.0, 6).as("x"),
          col("value").as("y"))
      graft.functions.Ols.fit(xy, Seq("event_type"), "n")
        .orderBy(col("event_type"))
    }),

    // Time-series gap filling (q157): the dense-grid repair every
    // downstream forecaster/dashboard assumes has already happened — build
    // the full (event_type × hour) calendar spine, left-join the observed
    // hourly rollup, zero-fill counts and forward-fill the hourly mean
    // (215 genuinely empty cells on the sf0.01 fixture). The spine is
    // sequence()-generated from a one-row broadcast bounds frame — never a
    // driver-side loop — and the fill window partitions on event_type, so
    // the only dense structure is the output grid itself (#types × #hours,
    // the report's intrinsic size). Mean sums ride DECIMAL(28,6) per the
    // exact-aggregation convention.
    "q157_gap_fill" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"),
          floor(col("ts").cast(LongType) / 3600L).cast(LongType).as("hour"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(round(col("value"), 6).cast(DecimalType(28, 6))).cast("double")
            / count(lit(1)), 6).as("avg_value"))
      val bounds = hourly.agg(min(col("hour")).as("lo"), max(col("hour")).as("hi"))
      val spine = hourly.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("hour"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(hourly, Seq("event_type", "hour"), "left")
        .select(col("event_type"), col("hour"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("avg_value"), ignoreNulls = true).over(w).as("avg_value_ff"))
        .orderBy(col("event_type"), col("hour"))
    }),

    // Session quality rollup (q178): 12 h-gap sessionization (the q26
    // construction) reduced to the engagement report product teams read —
    // session count, bounce rate (single-event sessions), exact dwell-time
    // percentiles, events per session. Windows partition on user_id; the
    // per-session rollup shuffles once on (user, session); the final
    // report is ONE row via exact percentile aggregates.
    // Session journey trigrams (q372): the top-20 most frequent consecutive
    // event-type TRIPLES inside user sessions (q178's 12-hour-gap islands)
    // — the sequence-mining readout behind funnel design: q165's Markov
    // matrix sees only pairwise transitions, so "view→click→purchase" vs
    // "click→view→purchase" are invisible to it; the trigram table is the
    // smallest order that exposes path shape. Entirely user-partitioned:
    // the sessionizer and the two leads run in per-user windows (never a
    // global sort), the count is map-side combined on the tiny type³ key
    // space, and the result is a bounded TakeOrderedAndProject. Counts are
    // integers; ordering is total (n desc, then the three types).
    "q372_journey_trigrams" -> ((s, dir) => {
      val byU = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val sess = ev(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast(LongType).as("t"))
        .withColumn("prev", lag(col("t"), 1).over(byU))
        .withColumn("ns",
          when(col("prev").isNull || col("t") - col("prev") > 43200L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("ns")).over(
          byU.rowsBetween(Window.unboundedPreceding, 0)))
      val bySess = Window.partitionBy(col("user_id"), col("sid"))
        .orderBy(col("t"), col("event_id"))
      sess
        .withColumn("e2", lead(col("event_type"), 1).over(bySess))
        .withColumn("e3", lead(col("event_type"), 2).over(bySess))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(col("event_type").as("t1"), col("e2").as("t2"), col("e3").as("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    }),

    "q178_session_stats" -> ((s, dir) => {
      val byU = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      ev(s, dir)
        .select(col("user_id"), col("event_id"), col("ts").cast(LongType).as("t"))
        .withColumn("prev", lag(col("t"), 1).over(byU))
        .withColumn("ns",
          when(col("prev").isNull || col("t") - col("prev") > 43200L, 1L).otherwise(0L))
        .withColumn("sid", sum(col("ns")).over(
          byU.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_events"), (max(col("t")) - min(col("t"))).as("dwell_s"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"),
          round(sum(when(col("n_events") === 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("bounce_rate"),
          round(expr("percentile(dwell_s, 0.5)"), 6).as("p50_dwell_s"),
          round(expr("percentile(dwell_s, 0.9)"), 6).as("p90_dwell_s"),
          round(sum(col("n_events")).cast("double") / count(lit(1)), 6)
            .as("avg_events_per_session"))
    }),

    // Retention decay fit (q180): how fast each acquisition cohort's
    // activity dies — per cohort (first-seen day), the grouped OLS of
    // ln(active users) on day offset; slope = the exponential decay rate,
    // the single number a growth model wants from the q113 retention grid.
    // Rides [[graft.functions.Ols.fit]] (decimal-summed moments, guarded
    // denominator); ln values are rounded at 9 dp before the moment sums
    // so a 1-ulp libm difference between engines cannot reach the fit.
    "q180_retention_decay" -> ((s, dir) => {
      val d = ev(s, dir)
        .select(col("user_id"),
          floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"))
        .distinct()
      val f = d.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      val xy = d.join(f, "user_id")
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("x0"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .select(col("cohort"), col("x0").cast("double").as("x"),
          round(log(col("n_active").cast("double")), 9).as("y"))
      graft.functions.Ols.fit(xy, Seq("cohort"), "n_points")
        .orderBy(col("cohort"))
    }),

    // Pearson correlation (q188): per type, the correlation between value
    // and hour-of-day — the "is this metric diurnal" screen run before
    // modeling a seasonality term (q170 then locates WHERE it deviates).
    // One aggregation from five decimal-exact moments; the r formula's
    // operand sequence is mirrored verbatim in the oracle and both
    // denominators are guarded (a constant column yields NULL, not NaN).
    "q188_pearson_corr" -> ((s, dir) => {
      val x = ev(s, dir).select(col("event_type"),
        pmod(floor(col("ts").cast(LongType) / 3600L).cast(LongType), lit(24L))
          .cast("double").as("h"),
        col("value").as("v"))
      val m = x.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("h").cast(DecimalType(38, 12))).cast("double").as("sx"),
        sum(col("v").cast(DecimalType(18, 2))).cast("double").as("sy"),
        sum(round(col("h") * col("v"), 6).cast(DecimalType(38, 6))).cast("double").as("sxy"),
        sum((col("h") * col("h")).cast(DecimalType(38, 6))).cast("double").as("sxx"),
        sum(round(col("v") * col("v"), 6).cast(DecimalType(38, 6))).cast("double").as("syy"))
      m.select(col("event_type"), col("n"),
        when((col("n") * col("sxx") - col("sx") * col("sx")) > 0
          && (col("n") * col("syy") - col("sy") * col("sy")) > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6))
          .as("pearson_r"))
        .orderBy(col("event_type"))
    }),

    // Spearman rank correlation (q266): per type, the rank-based companion
    // to q188's Pearson diurnality screen — identical question ("does value
    // co-move with hour-of-day?") but invariant to monotone transforms and
    // immune to the heavy tails event values actually have (one spike hour
    // can saturate Pearson; ranks cap its leverage at 1/n). Spearman-with-
    // ties = Pearson over AVERAGE ranks, computed distributed via the
    // distinct-value identity: group to distinct points per type, one
    // cumulative window per (type) assigns each tie group the DOUBLED rank
    // 2·cum_before + t + 1 — every intermediate an exact integer, summed in
    // decimal space (operand-cast BEFORE multiply so a 100 TB rank product
    // can't overflow a long), and rho is scale-invariant so the doubling
    // cancels. Windows partition per type over |distinct values| rows —
    // never corpus-ordered.
    "q266_spearman_corr" -> ((s, dir) => {
      val dec0 = DecimalType(38, 0)
      val dec18 = DecimalType(18, 0)
      val x = ev(s, dir).select(col("event_type"),
        pmod(floor(col("ts").cast(LongType) / 3600L).cast(LongType), lit(24L)).as("h"),
        round(col("value"), 6).as("v"))
      def rank2(keyed: DataFrame, key: String, out: String): DataFrame = {
        val w = Window.partitionBy(col("event_type")).orderBy(col(key))
          .rowsBetween(Window.unboundedPreceding, 0)
        keyed.groupBy(col("event_type"), col(key)).agg(count(lit(1)).as("t"))
          .withColumn("cc", sum(col("t")).over(w))
          .select(col("event_type"), col(key),
            (lit(2L) * (col("cc") - col("t")) + col("t") + 1L).as(out))
      }
      val joined = x
        .join(rank2(x, "h", "rx"), Seq("event_type", "h"))
        .join(rank2(x, "v", "ry"), Seq("event_type", "v"))
      val m = joined.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("rx").cast(dec0)).cast("double").as("sx"),
        sum(col("ry").cast(dec0)).cast("double").as("sy"),
        sum((col("rx").cast(dec18) * col("ry").cast(dec18)).cast(dec0))
          .cast("double").as("sxy"),
        sum((col("rx").cast(dec18) * col("rx").cast(dec18)).cast(dec0))
          .cast("double").as("sxx"),
        sum((col("ry").cast(dec18) * col("ry").cast(dec18)).cast(dec0))
          .cast("double").as("syy"))
      m.select(col("event_type"), col("n"),
        when((col("n") * col("sxx") - col("sx") * col("sx")) > 0
          && (col("n") * col("syy") - col("sy") * col("sy")) > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6))
          .as("spearman_rho"))
        .orderBy(col("event_type"))
    }),

    // Theil–Sen robust trend (q176): the median of all pairwise slopes of
    // the per-type daily-count series — the robust counterpart of q151's
    // OLS fit (one outlier day can swing least squares arbitrarily; the
    // median slope has a 29% breakdown point). Pairs come from a self-join
    // of the DAILY ROLLUP within each type, so the quadratic term is
    // bounded by (#days)², never event counts — the rollup-first shape
    // that makes an O(n²) estimator usable at corpus scale. Median via
    // Spark's exact percentile AGGREGATE (no window, no global sort).
    "q176_theil_sen" -> ((s, dir) => {
      val d = ev(s, dir)
        .groupBy(col("event_type"),
          floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"))
        .agg(count(lit(1)).as("n"))
      val a = d.groupBy(col("event_type")).agg(min(col("day")).as("d0"))
      val x = d.join(a, "event_type")
        .select(col("event_type"), (col("day") - col("d0")).as("x"), col("n").as("y"))
      val l = x.select(col("event_type"), col("x").as("xl"), col("y").as("yl"))
      val rr = x.select(col("event_type"), col("x").as("xr"), col("y").as("yr"))
      l.join(rr, "event_type")
        .filter(col("xl") < col("xr"))
        .select(col("event_type"),
          ((col("yr").cast("double") - col("yl")) / (col("xr") - col("xl"))).as("slope"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          round(expr("percentile(slope, 0.5)"), 6).as("theil_sen_slope"))
        .orderBy(col("event_type"))
    }),

    // Population stability index (q173): the model-monitoring drift metric
    // between a reference batch (even event_ids) and a candidate batch
    // (odd) — decile edges computed ONCE from the reference (an exact
    // percentile AGGREGATE, no window), both batches bucketed against the
    // broadcast 9-edge array with a row-local HOF, and the per-bucket PSI
    // term (Δp · ln-ratio) reported; Σ psi_term > 0.2 is the conventional
    // "retrain/re-examine" alarm. One scan per batch + a 10-row rollup;
    // the same shape monitors a feature column between training and
    // serving at any scale.
    "q173_psi_drift" -> ((s, dir) => {
      val ev0 = ev(s, dir).select(col("event_id"), col("value"))
      val ref = ev0.filter(col("event_id") % 2 === 0)
      val cand = ev0.filter(col("event_id") % 2 =!= 0)
      val edges = ref.agg(expr(
        "percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("edges"))
      def bucketed(df: DataFrame) = df.crossJoin(broadcast(edges))
        .select((lit(1) + size(filter(col("edges"), x => col("value") > x)))
          .cast(LongType).as("b"))
      val rp = bucketed(ref).groupBy(col("b")).agg(count(lit(1)).as("n_ref"))
      val cp = bucketed(cand).groupBy(col("b")).agg(count(lit(1)).as("n_cand"))
      val tot = ref.agg(count(lit(1)).as("nr"))
        .crossJoin(cand.agg(count(lit(1)).as("nc")))
      rp.join(cp, "b").crossJoin(broadcast(tot))
        .select(col("b").as("bucket"), col("n_ref"), col("n_cand"),
          round(col("n_ref").cast("double") / col("nr"), 6).as("p_ref"),
          round(col("n_cand").cast("double") / col("nc"), 6).as("p_cand"),
          round((col("n_cand").cast("double") / col("nc")
            - col("n_ref").cast("double") / col("nr"))
            * log((col("n_cand").cast("double") / col("nc"))
              / (col("n_ref").cast("double") / col("nr"))), 6).as("psi_term"))
        .orderBy(col("bucket"))
    }),

    // Seasonally-adjusted anomaly scan (q170): q90 z-scores hourly volume
    // against each type's GLOBAL mean, which mistakes every rush hour for
    // an incident; this one deseasonalizes first — the baseline is the
    // (type, hour-of-day) profile (mean + sample sd across the ~30 days
    // observing that hour), and only hours beating THEIR OWN hour's
    // profile by |z| > 2.5 surface. Two bounded aggregations (hourly
    // rollup, then the 5×24 profile) + a broadcast-sized join back; the
    // sd uses the sum/sum-of-squares identity so both engines execute the
    // identical operand sequence.
    "q170_seasonal_anomaly" -> ((s, dir) => {
      val k = ev(s, dir)
        .groupBy(col("event_type"),
          floor(col("ts").cast(LongType) / 3600L).cast(LongType).as("uh"))
        .agg(count(lit(1)).as("n"))
        .withColumn("hod", pmod(col("uh"), lit(24L)))
      val base = k.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("n")).as("sn"), sum(col("n") * col("n")).as("snn"))
        .select(col("event_type"), col("hod"),
          (col("sn").cast("double") / col("n_cells")).as("mu"),
          when(col("n_cells") > 1,
            sqrt((col("snn").cast("double") - col("sn").cast("double") * col("sn") / col("n_cells"))
              / (col("n_cells") - 1))).as("sd"))
      k.join(base, Seq("event_type", "hod"))
        .filter(col("sd").isNotNull && col("sd") > 0
          && abs((col("n") - col("mu")) / col("sd")) > 2.5)
        .select(col("event_type"), col("uh"), col("n"),
          round(col("mu"), 6).as("expected"),
          round((col("n") - col("mu")) / col("sd"), 6).as("z"))
        .orderBy(col("event_type"), col("uh"))
    }),

    // Linear multi-touch attribution (q166): every purchase splits one unit
    // of conversion credit equally across the user's touches in the
    // preceding 24 h (purchase excluded — strictly earlier events), then
    // per-type totals: the ad-tech signal last-touch counting (q57's as-of
    // shape) systematically biases. The purchase↔touch pairing is a
    // user-keyed self-join with a time predicate — expansion bounded by
    // per-user event counts (the q144 argument), and at 100 TB the same
    // join runs day-bucketed (the RangeJoin pattern) so a hot user cannot
    // pair across the whole corpus. Credits are 1/n rounded at 12 dp and
    // summed in DECIMAL space — an order-independent total, where a raw
    // double sum of reciprocals would drift with partition order.
    "q166_multitouch" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast(LongType).as("t"))
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"), col("t").as("pt"))
      val touch = pur.join(e, Seq("user_id"))
        .filter(col("t") >= col("pt") - 86400L && col("t") < col("pt"))
        .withColumn("n_touches", count(lit(1)).over(Window.partitionBy(col("pid"))))
      touch
        .select(col("event_type"),
          round(lit(1.0) / col("n_touches"), 12).cast(DecimalType(38, 12)).as("credit"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          round(sum(col("credit")).cast("double"), 6).as("credit"))
        .orderBy(col("event_type"))
    }),

    // Markov reachability (q165): the q95 transition counts normalized to a
    // first-order transition matrix P, then P² and P³ — "probability of
    // landing on `to_type` in exactly 1/2/3 steps from `from_type`", the
    // multi-step funnel/attribution signal a single-step transition table
    // can't answer. Matrix multiply IS a relational join: rows of P joined
    // to rows of P on the inner index, summed per (from, to) — the sparse
    // matmul shape that scales to graph-sized state spaces (cost Σ per-key
    // degree products, never |states|³ dense work; here both sides are
    // broadcast-small). Products are formed from 9-dp-rounded factors in
    // DECIMAL space and decimal-summed, so the accumulation is
    // order-independent (the ExactAgg discipline — a raw double dot
    // product would be partition-order-dependent).
    "q165_markov_power" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val tc = ev(s, dir)
        .select(col("event_type").as("next_type"),
          lag(col("event_type"), 1).over(byUser).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tc.groupBy(col("prev_type")).agg(sum(col("n")).as("tn"))
      val p1 = tc.join(tot, "prev_type")
        .select(col("prev_type").as("f"), col("next_type").as("t"),
          (col("n").cast("double") / col("tn").cast("double")).as("p"))
      def matmul(a: DataFrame, b: DataFrame): DataFrame =
        a.select(col("f"), col("t").as("k"), round(col("p"), 9).cast(DecimalType(10, 9)).as("pa"))
          .join(broadcast(b.select(col("f").as("k"), col("t"),
            round(col("p"), 9).cast(DecimalType(10, 9)).as("pb"))), "k")
          .groupBy(col("f"), col("t"))
          .agg(sum(col("pa") * col("pb")).cast("double").as("p"))
      val p2 = matmul(p1, p1)
      val p3 = matmul(p2, p1)
      p1.select(col("f"), col("t"), round(col("p"), 6).as("p1"))
        .join(p2.select(col("f"), col("t"), round(col("p"), 6).as("p2")), Seq("f", "t"))
        .join(p3.select(col("f"), col("t"), round(col("p"), 6).as("p3")), Seq("f", "t"))
        .select(col("f").as("from_type"), col("t").as("to_type"),
          col("p1"), col("p2"), col("p3"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // Interval union / coverage (q160): each event claims a ±300 s activity
    // interval; overlapping intervals per user merge into islands via the
    // running-max trick (an island starts where the interval's start
    // exceeds the max end seen so far), then per-user coverage seconds,
    // island count, and longest island. Every window partitions on
    // user_id and both windows share the SAME total order (s, event_id) —
    // with e = s + 600 identical-s rows tie on e too, and only a shared
    // tiebreak makes island numbering engine-identical. This is the
    // interval-algebra primitive behind downtime accounting, ad-exposure
    // unions, and contact-tracing coverage.
    "q160_interval_merge" -> ((s, dir) => {
      val iv = ev(s, dir).select(col("user_id"),
        (col("ts").cast(LongType) - 300L).as("s"),
        (col("ts").cast(LongType) + 300L).as("e"),
        col("event_id"))
      val ord = Seq(col("s"), col("event_id"))
      val wPrev = Window.partitionBy(col("user_id")).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy(col("user_id")).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      iv.withColumn("pmax", max(col("e")).over(wPrev))
        .withColumn("new_island",
          when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
        .withColumn("island", sum(col("new_island")).over(wCum))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("s")).as("istart"), max(col("e")).as("iend"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("iend") - col("istart")).cast(LongType).as("coverage_s"),
          max(col("iend") - col("istart")).cast(LongType).as("longest_s"))
        .orderBy(col("user_id"))
    }),

    // Activity streaks (q153): the gaps-and-islands pattern — per user,
    // consecutive-active-day runs found with the classic `day - row_number`
    // group key (constant within a gapless run, jumps at every gap), then
    // two aggregations roll runs up to longest streak / streak count /
    // total active days. Every window partitions on user_id (the natural
    // high-cardinality key — no single-partition sort anywhere), and the
    // distinct day grid is one (user, day) shuffle of narrow rows.
    "q153_activity_streaks" -> ((s, dir) => {
      val d = ev(s, dir)
        .select(col("user_id"),
          floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      d.withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("streak_len"))
        .groupBy(col("user_id"))
        .agg(max(col("streak_len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"),
          sum(col("streak_len")).as("active_days"))
        .orderBy(col("user_id"))
    }),


    // Session path analysis: event-type transition counts (the Markov /
    // clickstream bigram table). The lag window partitions on user_id —
    // the natural high-cardinality key, so no unpartitioned window exists —
    // with (ts, event_id) as the total event order (fixtures plant
    // same-instant events on purpose). Only (type, type) pairs shuffle
    // into the final count.
    "q95_event_transitions" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .select(col("user_id"), col("event_type").as("next_type"),
          lag(col("event_type"), 1).over(byUser).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n_transitions"))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // Volume-anomaly detection (z-score scan; see volumeAnomalies).
    "q90_event_anomaly" -> ((s, dir) =>
      volumeAnomalies(ev(s, dir))
        .orderBy(col("event_type"), col("unix_hour"))),

    // Cohort retention (q113): the day-grid activity matrix every growth /
    // engagement dashboard is built on — cohort = a user's first-seen day,
    // cell (cohort, d) = distinct users of that cohort active d days later.
    // Two shuffles, both on natural keys: first-seen is a map-side-combined
    // min over user_id; the (cohort, offset, user) distinct + count shuffles
    // once more on the bounded (cohort × offset) grid after the per-user
    // dedup. The first-seen table joins back on user_id — the same key the
    // min just shuffled on, so AQE reuses the partitioning; day math is
    // epoch-floored BIGINT (timezone-free, oracle-exact).
    "q113_cohort_retention" -> ((s, dir) => {
      val e = ev(s, dir)
        .select(col("user_id"), floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"))
      val first = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      e.join(first, Seq("user_id"))
        .select(col("user_id"), col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .dropDuplicates("user_id", "cohort_day", "day_offset")
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // Median absolute deviation (q132): per event type, MAD = median of
    // |value − median| — the robust dispersion scale (50% breakdown point
    // where stddev's is 0%: one corrupted reading moves stddev arbitrarily,
    // MAD not at all), with the consistency constant 1.4826·MAD reported as
    // the robust-σ. Two passes by necessity (the deviations need the
    // median first): per-type medians broadcast back onto the scan — same
    // tiny-fence-table shape as q105/q122 — then one exact percentile over
    // the 6-dp-rounded deviations.
    "q132_mad" -> ((s, dir) => {
      val med = ev(s, dir)
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
      ev(s, dir)
        .join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("med"),
          round(abs(col("value") - col("med")), 6).as("dev"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          first(col("med")).as("median"),
          round(expr("percentile(dev, 0.5)"), 6).as("mad"),
          round(expr("percentile(dev, 0.5)") * 1.4826, 6).as("robust_sigma"))
        .orderBy(col("event_type"))
    }),

    // Poisson-bootstrap CI (q131): a confidence interval for the mean of
    // `value` WITHOUT resampling passes — the streaming/MapReduce bootstrap
    // (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    // Google 2012): classic bootstrap draws n-with-replacement per
    // replicate (unshardable); Poisson(1) per-row weights approximate it
    // and need only ROW-LOCAL state, so all B replicates compute in ONE
    // corpus pass (explode by replicate id, weight, aggregate). Weights
    // are the inverse-CDF of a CONTENT HASH of (event_id, replicate) —
    // deterministic, rerun-identical, engine-replayable — quantized at the
    // exact Poisson(1) cumulative cuts e^{-1}·Σ1/k!. Replicate means use
    // 6-dp-rounded terms and DECIMAL sums; the CI is the exact p05/p95
    // interpolation over the B=32 replicate means. The explode costs 32×
    // map-side rows but the aggregation collapses to B partials per task
    // before the (B-row) shuffle.
    "q131_bootstrap_ci" -> ((s, dir) => {
      val u = expr(
        "cast(conv(substring(md5(concat(cast(event_id as string), ':', cast(b as string))), 1, 8), 16, 10) AS bigint)")
        .cast("double") / lit(4294967296.0)
      val w = when(u < 0.36787944117144233, 0)
        .when(u < 0.7357588823428847, 1)
        .when(u < 0.9196986029286058, 2)
        .when(u < 0.9810118431238462, 3)
        .when(u < 0.9963401531726563, 4)
        .otherwise(5)
      val reps = ev(s, dir)
        .select(col("event_id"), col("value"),
          explode(sequence(lit(0), lit(31))).as("b"))
        .select(col("b"), col("value"), w.cast("long").as("w"))
        .groupBy(col("b"))
        .agg((sum(round(col("w") * col("value"), 6).cast(DecimalType(28, 6))).cast("double") /
          sum(col("w"))).as("m"))
        .select(col("b"), round(col("m"), 6).as("m"))
      reps.agg(
        count(lit(1)).as("n_replicates"),
        round(expr("percentile(m, 0.05)"), 6).as("ci_lo"),
        round(expr("percentile(m, 0.5)"), 6).as("ci_mid"),
        round(expr("percentile(m, 0.95)"), 6).as("ci_hi"))
    }),

    // Weekday × hour load profile (q123): the seasonality heatmap behind
    // capacity planning and anomaly baselining ("is Tuesday 14:00 usually
    // this busy?"). Day-of-week and hour-of-day come from PURE EPOCH
    // INTEGER MATH — dow = (epoch_days + 4) mod 7 with 0 = Sunday
    // (1970-01-01 was a Thursday), hour = epoch_hours mod 24 — rather than
    // calendar functions, whose numbering conventions differ across engines
    // (Spark's dayofweek is 1=Sunday, DuckDB's 0=Sunday); integer math is
    // convention-free and timezone-free (UTC by construction). One
    // map-side-combined aggregation onto the bounded 7×24 grid.
    "q123_weekday_profile" -> ((s, dir) =>
      ev(s, dir)
        .select(
          ((floor(col("ts").cast(LongType) / 86400L) + 4) % 7).cast(LongType).as("dow"),
          (floor(col("ts").cast(LongType) / 3600L) % 24).cast(LongType).as("hour"),
          col("value"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events"), exactSum(col("value"), 2).as("sum_value"))
        .orderBy(col("dow"), col("hour"))),

    // Winsorized means (q122): per event type, the robust mean after
    // clipping values to the exact [p05, p95] fences — the outlier
    // treatment that KEEPS rows (unlike q105's census, which only counts
    // them): heavy-tailed `value` telemetry distorts a plain mean and
    // winsorizing bounds any single reading's leverage. Same two-pass
    // shape as q105: the per-type fence table is event-type-cardinality
    // tiny and joins back BROADCAST; fences round at 6 dp (cross-engine
    // reproducible clip points), clipped values re-round at 6 dp and sum
    // in DECIMAL space, and both means divide identically as doubles.
    "q122_winsorized_mean" -> ((s, dir) => {
      val fences = ev(s, dir)
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.05)"), 6).as("lo"),
          round(expr("percentile(value, 0.95)"), 6).as("hi"))
      val clipped = ev(s, dir)
        .join(broadcast(fences), Seq("event_type"))
        .select(col("event_type"),
          col("value"),
          round(least(greatest(col("value"), col("lo")), col("hi")), 6).as("w"))
      clipped.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("value").cast(DecimalType(18, 6))).cast("double") / count(lit(1)))
            .as("raw_mean"),
          (sum(col("w").cast(DecimalType(18, 6))).cast("double") / count(lit(1)))
            .as("winsorized_mean"))
        .select(col("event_type"), col("n_events"),
          round(col("raw_mean"), 6).as("raw_mean"),
          round(col("winsorized_mean"), 6).as("winsorized_mean"))
        .orderBy(col("event_type"))
    }),

    // Rolling 7-day active users (q119): for every day with activity, the
    // EXACT distinct-user count over the trailing 7-day window — the DAU/
    // WAU denominator. Exact rolling distinct doesn't decompose into
    // running sums (users overlap across days), so the scalable shape is:
    // dedup to (day, user) pairs first (the big shuffle, map-side
    // combined), then explode each pair onto the ≤7 window-anchor days it
    // supports — bounded 7× amplification of the ALREADY-deduped pairs,
    // never of raw events — and count distinct per anchor. Anchors are
    // restricted to days that actually had activity (semi-join against the
    // day list) so trailing-silence days emit nothing on either engine.
    "q119_rolling_active" -> ((s, dir) => {
      val dayUser = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("user_id"))
        .distinct()
      val days = dayUser.select(col("day")).distinct()
      dayUser
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("anchor"))
        .join(days.withColumnRenamed("day", "anchor"), Seq("anchor"), "left_semi")
        .groupBy(col("anchor"))
        .agg(countDistinct(col("user_id")).as("active_7d"))
        .select(col("anchor").as("day"), col("active_7d"))
        .orderBy(col("day"))
    }),

    // Behavioral entropy (q148): per user, the Shannon entropy of their
    // event-type distribution — the diversity score separating bots
    // (H → 0, one action repeated) from exploratory users (H → log2 k);
    // the same single-fold identity as q104's token entropy,
    // H = log2(n) − (Σ c·log2 c)/n, over (user, type) counts — two
    // partial-aggregating shuffles on natural keys, nothing global. The
    // c·log2 c terms round at 9 dp and sum in decimal space; top 20 by
    // entropy (ties to user_id) keeps the output bounded.
    "q148_user_entropy" -> ((s, dir) => {
      val counts = ev(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      counts.groupBy(col("user_id"))
        .agg(sum(col("c")).as("n"),
          count(lit(1)).as("n_types"),
          sum(round(col("c") * log2(col("c").cast("double")), 9)
            .cast(DecimalType(28, 9))).cast("double").as("clc"))
        .select(col("user_id"), col("n").as("n_events"), col("n_types"),
          round(log2(col("n").cast("double")) - col("clc") / col("n"), 6).as("entropy"))
        .orderBy(col("entropy").desc, col("user_id"))
        .limit(20)
    }),

    // Top-decile concentration (q147): per event type, the share of total
    // value mass held by events at or above the exact p90 — the
    // concentration read ("are 10% of readings carrying half the
    // signal?") that decides whether means or heavy-hitter treatment
    // apply downstream. Same broadcast-fence two-pass shape as q122;
    // 6-dp fences, decimal-space masses, identical final division.
    "q147_top_decile" -> ((s, dir) => {
      val fences = ev(s, dir)
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.9)"), 6).as("p90"))
      ev(s, dir)
        .join(broadcast(fences), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("value") >= col("p90"), 1L).otherwise(0L)).as("n_top"),
          sum(round(col("value"), 6).cast(DecimalType(28, 6))).as("mass_total"),
          sum(when(col("value") >= col("p90"), round(col("value"), 6))
            .otherwise(lit(0.0)).cast(DecimalType(28, 6))).as("mass_top"))
        .select(col("event_type"), col("n_events"), col("n_top"),
          round(col("mass_top").cast("double") / col("mass_total").cast("double"), 6)
            .as("top_decile_share"))
        .orderBy(col("event_type"))
    }),

    // Chi-square uniformity (q142): goodness-of-fit of the props `k % 10`
    // bucket distribution against uniform — the randomness health check a
    // pipeline runs on anything claiming to be uniformly assigned (shard
    // keys, salts, hash buckets): χ² = Σ (obs−exp)²/exp over the 10
    // buckets, dof = 9 (χ²₀.₉₅ ≈ 16.92 — a fixture value far above it
    // means the "uniform" source isn't). Exact integer counts; the 10
    // per-bucket terms round at 6 dp and sum in decimal space.
    "q142_chi_square" -> ((s, dir) => {
      val buckets = ev(s, dir)
        .select((regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast(LongType) % 10)
          .as("k_mod"))
        .groupBy(col("k_mod")).agg(count(lit(1)).as("obs"))
      val tot = buckets.agg(sum(col("obs")).as("total"), count(lit(1)).as("nb"))
      buckets.crossJoin(broadcast(tot))
        .select(col("k_mod"), col("obs"), col("total"), col("nb"),
          round(pow(col("obs") - col("total").cast("double") / col("nb"), 2) /
            (col("total").cast("double") / col("nb")), 6).as("term"))
        .agg(max(col("nb")).as("n_buckets"),
          sum(col("term").cast(DecimalType(28, 6))).cast("double").as("chi2"))
        .select(col("n_buckets"), round(col("chi2"), 6).as("chi2"),
          (col("n_buckets") - 1).as("dof"))
    }),

    // RANGE-frame rolling sum (q139): per user, each event's trailing-1-hour
    // value sum — a RANGE frame over epoch seconds ([t−3600, t]), which
    // rows-based frames (q48's moving average) cannot express: the window
    // extent depends on TIME, not row count, so bursts widen the row span
    // and quiet periods shrink it. Partitioned on user_id; value terms
    // round at 6 dp and the frame sum runs in decimal space (every frame
    // is a contiguous run over the same sorted partition on both engines,
    // and decimal addition is order-independent regardless). Bounded
    // top-200 output under a total order.
    "q139_range_frame" -> ((s, dir) => {
      val frame = Window.partitionBy(col("user_id")).orderBy(col("t"))
        .rangeBetween(-3600L, 0L)
      ev(s, dir)
        .select(col("user_id"), col("event_id"),
          col("ts").cast(LongType).as("t"), col("value"))
        .withColumn("roll_1h",
          sum(round(col("value"), 6).cast(DecimalType(28, 6))).over(frame).cast("double"))
        .select(col("user_id"), col("event_id"), col("t"), round(col("roll_1h"), 6).as("roll_1h"))
        .orderBy(col("user_id"), col("t"), col("event_id"))
        .limit(200)
    }),

    // Week-over-week growth (q140): weekly event volume with the previous
    // week's volume and the growth ratio — lag over the bounded week axis
    // (the window runs on |weeks| rows, never raw events). Weeks are
    // epoch-floored 7-day buckets (convention-free integer math, as q123).
    "q140_wow_growth" -> ((s, dir) =>
      ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 604800L).cast(LongType).as("week"))
        .groupBy(col("week")).agg(count(lit(1)).as("n_events"))
        .withColumn("prev_events", lag(col("n_events"), 1).over(Window.orderBy(col("week"))))
        .withColumn("wow_ratio",
          when(col("prev_events").isNotNull,
            round(col("n_events").cast("double") / col("prev_events"), 6)))
        .orderBy(col("week"))),

    // Weekend-vs-weekday Welch t (q293): do weekend days move different
    // revenue than weekdays? Unequal-variance two-sample t over the
    // per-day revenue rollup (weekend by the q123 timezone-free
    // (epoch_days+4) mod 7 convention), with the Welch–Satterthwaite
    // degrees of freedom — the test q123's heatmap eyeballs, as a number.
    // Moments from exact decimal sums (q232 discipline); the event log
    // passes ONE grouped sum, everything after is a 2-row frame.
    "q293_weekend_welch" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day")).agg(exactSum(col("value"), 2).as("rev"))
        .select(col("day"), col("rev"),
          when(((col("day") + 4) % 7).isin(0, 6), lit("weekend"))
            .otherwise(lit("weekday")).as("grp"))
      // rev is an exact 2-dp decimal: multiply IN decimal space so the
      // ~1e8-magnitude squares never round in double (round(rev², 6) at
      // that magnitude is the q93 boundary class — it struck here)
      val revD = col("rev").cast(DecimalType(18, 2))
      val m = daily.groupBy(col("grp"))
        .agg(count(lit(1)).as("n"),
          round(sum(revD).cast("double") / count(lit(1)), 6).as("mean"),
          round(sum(revD * revD).cast("double") / count(lit(1)), 6).as("s2"))
        .select(col("grp"), col("n"), col("mean"),
          round((col("s2") - col("mean") * col("mean"))
            * (col("n").cast("double") / (col("n") - lit(1L))), 6).as("variance"))
      val a = m.filter(col("grp") === "weekend")
        .select(col("n").as("n1"), col("mean").as("m1"), col("variance").as("v1"))
      val b = m.filter(col("grp") === "weekday")
        .select(col("n").as("n2"), col("mean").as("m2"), col("variance").as("v2"))
      val se1 = col("v1") / col("n1"); val se2 = col("v2") / col("n2")
      a.crossJoin(b).select(
        col("n1"), col("n2"), col("m1"), col("m2"), col("v1"), col("v2"),
        round((col("m1") - col("m2")) / sqrt(se1 + se2), 6).as("t_stat"),
        round((se1 + se2) * (se1 + se2)
          / (se1 * se1 / (col("n1") - lit(1L)) + se2 * se2 / (col("n2") - lit(1L))), 6)
          .as("df_welch"))
    }),

    // Kendall tau-b between daily activity and daily revenue (q296): the
    // tie-robust rank-association companion to q266's Spearman — tau works
    // directly on concordant/discordant pair counts (pure integers, no rank
    // midpoints), and the b-variant's denominator discounts the tied pairs
    // an integer count column inevitably produces. The pair join is on the
    // per-DAY rollup, so its O(days²) nested loop is bounded by the
    // calendar span regardless of corpus size; the event log itself passes
    // once through a map-side-combined grouped aggregation. Everything is
    // integer-exact until the single final divide.
    "q296_kendall_tau" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("c"), exactSum(col("value"), 2).as("rev"))
        .localCheckpoint()
      val a = daily.select(col("day").as("d1"), col("c").as("c1"), col("rev").as("r1"))
      val b = daily.select(col("day").as("d2"), col("c").as("c2"), col("rev").as("r2"))
      a.join(b, col("d1") < col("d2"))
        .agg(count(lit(1)).as("n0"),
          sum(when((col("c1") < col("c2") && col("r1") < col("r2")) ||
            (col("c1") > col("c2") && col("r1") > col("r2")), lit(1L))
            .otherwise(lit(0L))).as("conc"),
          sum(when((col("c1") < col("c2") && col("r1") > col("r2")) ||
            (col("c1") > col("c2") && col("r1") < col("r2")), lit(1L))
            .otherwise(lit(0L))).as("disc"),
          sum(when(col("c1") === col("c2"), lit(1L)).otherwise(lit(0L))).as("tx"),
          sum(when(col("r1") === col("r2"), lit(1L)).otherwise(lit(0L))).as("ty"))
        .select(col("n0"), col("conc"), col("disc"), col("tx"), col("ty"),
          round((col("conc") - col("disc")).cast("double") /
            sqrt((col("n0") - col("tx")).cast("double")
              * (col("n0") - col("ty")).cast("double")), 6).as("tau_b"))
    }),

    // Watermark-lateness audit (q290): how many events each candidate
    // watermark delay {1m, 10m, 1h} would DROP as too-late — the number
    // read before choosing the delay for the streaming tier (q24-q26,
    // q197+): too short silently loses data, too long bloats state. The
    // replay models Spark's actual per-trigger semantics: arrival order
    // is event_id, micro-batches of 1000, the watermark entering batch b
    // is the running max event-time over batches < b minus the delay —
    // a #batches-row cumulative window (bounded, q135-class), never an
    // event-level global sort; events join their batch's watermark by key.
    "q290_watermark_lateness" -> ((s, dir) => {
      import s.implicits._
      val e = ev(s, dir)
        .select(expr("event_id div 1000").as("b"),
          col("ts").cast(LongType).as("t"))
        .localCheckpoint()
      val bm = e.groupBy(col("b")).agg(max(col("t")).as("bmax"), count(lit(1)).as("nb"))
      val wB = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
      val wm = bm.withColumn("prior_max", max(col("bmax")).over(wB))
      val delays = Seq(("d1_60s", 60L), ("d2_600s", 600L), ("d3_3600s", 3600L))
        .toDF("delay_label", "delay_s")
      val tot = e.agg(count(lit(1)).as("n_events"))
      e.join(wm.select(col("b"), col("prior_max")), "b")
        .crossJoin(broadcast(delays))
        .filter(col("prior_max").isNotNull &&
          col("t") < col("prior_max") - col("delay_s"))
        .groupBy(col("delay_label"), col("delay_s"))
        .agg(count(lit(1)).as("n_late"))
        .join(broadcast(delays), Seq("delay_label", "delay_s"), "right")
        .crossJoin(broadcast(tot))
        .select(col("delay_label"), col("delay_s"),
          coalesce(col("n_late"), lit(0L)).as("n_late"), col("n_events"),
          round(coalesce(col("n_late"), lit(0L)).cast("double") / col("n_events"), 6)
            .as("late_rate"))
        .orderBy(col("delay_s"))
    }),

    // Session-gap sensitivity (q291): session count and mean length at
    // inactivity gaps {600s, 1800s, 3600s} — the tuning curve behind
    // q26/q178's fixed 10-minute cut (too short shreds engaged visits,
    // too long merges distinct ones; the knee of THIS curve is how the
    // gap is actually chosen). One user-partitioned lag pass shared by
    // all three cuts: a session starts where the gap exceeds g, so
    // n_sessions = users + threshold-exceeding gaps — no per-g re-scan.
    "q291_session_gap_curve" -> ((s, dir) => {
      import s.implicits._
      val wU = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val gaps = ev(s, dir)
        .select(col("user_id"), col("event_id"), col("ts").cast(LongType).as("t"))
        .withColumn("gap", col("t") - lag(col("t"), 1).over(wU))
        .localCheckpoint()
      val cuts = Seq(600L, 1800L, 3600L).toDF("gap_s")
      val users = gaps.agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      gaps.crossJoin(broadcast(cuts))
        .groupBy(col("gap_s"))
        .agg(sum(when(col("gap") > col("gap_s"), 1L).otherwise(0L)).as("n_breaks"))
        .crossJoin(broadcast(users))
        .select(col("gap_s"),
          (col("n_users") + col("n_breaks")).as("n_sessions"),
          round(col("n_events").cast("double") / (col("n_users") + col("n_breaks")), 6)
            .as("mean_events_per_session"))
        .orderBy(col("gap_s"))
    }),

    // Sequential A/B monitor (q281): the day-by-day cumulative z trajectory
    // of q224's experiment (same md5 arm hash, same high-value-purchase
    // conversion) with an always-valid 3.29 crossing boundary — the "can I
    // stop the experiment yet" curve, and the peeking-bias audit: reading
    // q224's single z at the end is valid, reading THIS curve daily needs
    // the inflated boundary it carries. Users enter at their first event
    // and convert at their first qualifying purchase; both cumulative
    // counts are per-ARM windows over the per-day rollup (2 partitions ×
    // #days rows — never the event log, which passes two grouped
    // aggregations only).
    "q281_sprt_monitor" -> ((s, dir) => {
      val u = ev(s, dir)
        .groupBy(col("user_id"))
        .agg(min(floor(col("ts").cast(LongType) / 86400L)).cast(LongType).as("day_in"),
          min(when(col("event_type") === "purchase" && col("value") >= 150,
            floor(col("ts").cast(LongType) / 86400L))).cast(LongType).as("day_conv"))
        .select(col("user_id"), abArm.as("arm"), col("day_in"), col("day_conv"))
        .localCheckpoint()
      val days = u.select(col("day_in").as("day")).distinct()
      val grid = days.crossJoin(broadcast(
        days.sparkSession.range(2).select(col("id").as("arm"))))
      val wArm = Window.partitionBy(col("arm")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val ins = u.groupBy(col("arm"), col("day_in").as("day")).agg(count(lit(1)).as("ni"))
      val convs = u.filter(col("day_conv").isNotNull)
        .groupBy(col("arm"), col("day_conv").as("day")).agg(count(lit(1)).as("ci"))
      val cum = grid
        .join(ins, Seq("arm", "day"), "left")
        .join(convs, Seq("arm", "day"), "left")
        .select(col("arm"), col("day"),
          coalesce(col("ni"), lit(0L)).as("ni"), coalesce(col("ci"), lit(0L)).as("ci"))
        .select(col("arm"), col("day"),
          sum(col("ni")).over(wArm).as("n"), sum(col("ci")).over(wArm).as("c"))
      val a0 = cum.filter(col("arm") === 0)
        .select(col("day"), col("n").as("na"), col("c").as("ca"))
      val a1 = cum.filter(col("arm") === 1)
        .select(col("day").as("day1"), col("n").as("nb"), col("c").as("cb"))
      val p = (col("ca") + col("cb")).cast("double") / (col("na") + col("nb"))
      a0.join(a1, col("day") === col("day1"))
        .select(col("day"), col("na"), col("nb"), col("ca"), col("cb"),
          when(col("na") > 0 && col("nb") > 0 && p > 0 && p < 1,
            round((col("ca").cast("double") / col("na") - col("cb").cast("double") / col("nb"))
              / sqrt(p * (lit(1.0) - p)
                * (lit(1.0) / col("na") + lit(1.0) / col("nb"))), 6)).as("z_stat"))
        .withColumn("crossed",
          when(abs(coalesce(col("z_stat"), lit(0.0))) >= 3.29, 1L).otherwise(0L))
        .orderBy(col("day"))
    }),

    // Daily-count autocorrelation (q275): Pearson r between the per-day
    // event count and itself shifted by lag 1..7 — the weekly-rhythm
    // detector (a lag-7 spike = weekday seasonality) that decides whether
    // q170's seasonal model is even warranted. NO window at all: each lag
    // leg is an equi-join of the per-day rollup on day+lag (partitioned,
    // parallel), moments are decimal-cast BEFORE multiplication (q266
    // convention — day counts at 100 TB overflow Long products), and the
    // day rollup is localCheckpointed once for all seven legs.
    "q275_daily_acf" -> ((s, dir) => {
      val dec = DecimalType(18, 0)
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val a = daily.select(col("day"), col("c").as("x"))
        .select(col("day"), col("x"),
          explode(array((1 to 7).map(l => lit(l.toLong)): _*)).as("lag"))
      val b = daily.select(col("day").as("dayb"), col("c").as("y"))
      val xd = col("x").cast(dec); val yd = col("y").cast(dec)
      val st = a.join(b, col("dayb") === col("day") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"),
          sum(xd).cast("double").as("sx"), sum(yd).cast("double").as("sy"),
          sum(xd * xd).cast("double").as("sxx"), sum(yd * yd).cast("double").as("syy"),
          sum(xd * yd).cast("double").as("sxy"))
      st.select(col("lag"), col("n").as("n_pairs"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) * (col("n") * col("syy") - col("sy") * col("sy")) > 0,
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                * (col("n") * col("syy") - col("sy") * col("sy"))), 6)).as("acf"))
        .orderBy(col("lag"))
    }),

    // CUSUM changepoint scan (q276): cumulative sum of the per-day revenue
    // deviation from the global daily mean — the classic level-shift
    // detector (|S_t| peaks AT the changepoint). The event log passes ONE
    // map-side-combined grouped sum; the cumulative window runs over the
    // per-day rollup only (#days rows, bounded by the calendar — allowlisted
    // like q135/q140), deviations subtract in exact DECIMAL(38,6) space so
    // the running sum is order-independent, and the top-10 |S| days emerge
    // from a bounded sort.
    "q276_cusum_changepoint" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day")).agg(exactSum(col("value"), 2).as("rev"))
      val m = daily.agg(
        round(sum(col("rev").cast(DecimalType(38, 6))).cast("double")
          / count(lit(1)), 6).as("mu"))
      val dev = daily.crossJoin(broadcast(m))
        .select(col("day"), col("rev"), col("mu"),
          (col("rev").cast(DecimalType(38, 6)) - col("mu").cast(DecimalType(38, 6))).as("dv"))
      dev
        .withColumn("s_cusum", sum(col("dv")).over(
            Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
        .select(col("day"), col("rev"), round(col("s_cusum"), 6).as("s_cusum"))
        .orderBy(abs(round(col("s_cusum"), 6)).desc, col("day"))
        .limit(10)
    }),

    // SCD-2 interval build (q138): turn a user's event-type change stream
    // into slowly-changing-dimension type-2 validity intervals —
    // (user_id, state, valid_from, valid_to, is_current), half-open
    // [from, to), current rows marked with a NULL-free sentinel end. The
    // warehouse-dimension pattern: one user_id-partitioned lead() window
    // over consecutive-state runs. Runs collapse first (a state repeated
    // back-to-back extends its interval rather than opening a new row) via
    // the lag-mark + conditional-count run-id idiom; both windows partition
    // on user_id — the natural high-cardinality key, nothing global.
    "q138_scd2_intervals" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val marked = ev(s, dir)
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").cast(LongType).as("t"), col("event_id"))
        .withColumn("chg",
          when(lag(col("state"), 1).over(byUser).isNull ||
            lag(col("state"), 1).over(byUser) =!= col("state"), 1L).otherwise(0L))
        .withColumn("run", sum(col("chg")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
      val runs = marked.groupBy(col("user_id"), col("run"))
        .agg(min(col("t")).as("valid_from"), first(col("state")).as("state"))
      val byRun = Window.partitionBy(col("user_id")).orderBy(col("run"))
      runs
        .withColumn("valid_to", coalesce(lead(col("valid_from"), 1).over(byRun),
          lit(Long.MaxValue)))
        .withColumn("is_current", (col("valid_to") === Long.MaxValue).cast("int"))
        .select(col("user_id"), col("state"), col("valid_from"), col("valid_to"),
          col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    }),

    // User-acquisition curve (q135): cumulative distinct users through each
    // active day — the growth curve over the same first-seen skeleton as
    // q113 (a user counts once, on their first day; a running sum over the
    // bounded day axis accumulates the curve; no day-by-day distinct
    // re-count, which would be O(days × users)). The cumulative window is
    // unpartitioned but day-cardinality-sized.
    "q135_user_growth" -> ((s, dir) => {
      val firstDay = ev(s, dir)
        .select(col("user_id"), floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"))
        .groupBy(col("user_id")).agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      firstDay
        .withColumn("total_users", sum(col("new_users")).over(
          Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy(col("day"))
    }),

    // Inter-arrival gap percentiles (q117): per event type (of the later
    // event), exact p50/p90 of the seconds between a user's consecutive
    // events — the latency-profile statistic behind session-timeout and
    // anomaly thresholds (q26's 30-minute session gap is exactly a choice
    // this table informs). The lag window partitions on user_id (natural
    // high-cardinality key; (ts, event_id) total order as in q95); gaps are
    // BIGINT seconds so percentile interpolation is the only float, rounded
    // at 6 dp (the q94 discipline).
    "q117_gap_percentiles" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .select(col("event_type"),
          (col("ts").cast(LongType) -
            lag(col("ts").cast(LongType), 1).over(byUser)).as("gap"))
        .filter(col("gap").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap, 0.5)"), 6).as("p50"),
          round(expr("percentile(gap, 0.9)"), 6).as("p90"))
        .orderBy(col("event_type"))
    }),

    // Time-decayed engagement (q110): per event type, the half-life-weighted
    // value mass sum(value · 2^(−age/half_life)) with a 7-day half-life
    // anchored at the corpus max timestamp — the freshness-weighted score a
    // recommendation/curation pipeline keeps per entity (recent signal
    // dominates, stale signal decays geometrically, nothing is ever
    // dropped). One pass: the 1-row max-ts anchor broadcasts back over the
    // scan, each row's decayed term is per-row math ROUNDED at 6 dp, and
    // the per-type sum runs in decimal space (order-independent, map-side
    // partial) — the same exact-sum discipline as q24. Scale: group
    // cardinality = |event types|; the anchor at 100 TB comes from the
    // ingest watermark rather than a corpus scan, but the corpus-max form
    // keeps the query self-contained and oracle-replayable.
    "q110_time_decay" -> ((s, dir) => {
      val e = ev(s, dir)
      val anchor = e.agg(max(col("ts").cast(LongType)).as("tmax"))
      e.crossJoin(broadcast(anchor))
        .select(col("event_type"),
          round(col("value") *
            pow(lit(0.5),
              (col("tmax") - col("ts").cast(LongType)).cast("double") / lit(604800.0)),
            6).as("w"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("w").cast(DecimalType(28, 6))).cast("double").as("decayed_value"))
        .orderBy(col("event_type"))
    }),

    // Tukey-fence outlier census per event type: exact quartiles (q94's
    // percentile machinery), fences at q1/q3 ∓ 1.5·IQR, then one counting
    // pass against the fences. The quartile table is event-type-cardinality
    // tiny, so the second pass joins it BROADCAST — the events scan streams
    // once per pass and nothing wide ever shuffles. Fences are rounded to
    // 6 dp before the comparison so the kept/outlier split is reproducible
    // across engines (an unrounded interpolated quantile differs in the
    // last ulp between implementations; a planted boundary value would flip).
    "q105_value_outliers" -> ((s, dir) => {
      val fences = ev(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(expr("percentile(value, 0.25)"), 6).as("q1"),
          round(expr("percentile(value, 0.75)"), 6).as("q3"))
        .withColumn("lo", round(col("q1") - (col("q3") - col("q1")) * 1.5, 6))
        .withColumn("hi", round(col("q3") + (col("q3") - col("q1")) * 1.5, 6))
      ev(s, dir).join(broadcast(fences), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(max(col("n_events")).as("n_events"),
          max(col("q1")).as("q1"), max(col("q3")).as("q3"),
          sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy(col("event_type"))
    }),

    // Session-path mining: the top 20 opening event-type sequences (first 5
    // events per user). Ranks the paths users actually take — the sequence
    // analogue of q95's transition bigrams. The row_number window partitions
    // on user_id (high-cardinality, well-distributed); each user then
    // reduces to ONE short path string via an ordered in-group sort of ≤5
    // structs, and only (path, count) rows reach the final (tiny) rollup,
    // which TakeOrderedAndProject caps at 20 — nothing driver-side, no
    // unpartitioned window anywhere.
    "q106_session_paths" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val first5 = ev(s, dir)
        .select(col("user_id"), col("event_type"),
          row_number().over(byUser).as("rn"))
        .filter(col("rn") <= 5)
      first5.groupBy(col("user_id"))
        .agg(concat_ws(">",
          transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type"))).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
        .limit(20)
    }),

    // Native JSON parsing of the props payload (from_json with a declared
    // schema) rather than regex extraction.
    "q52_from_json" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("k", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").cast(LongType))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))),

    // Ljung-Box portmanteau test (q351): pools the lag-1..7 daily-count
    // autocorrelations q275 reports individually into the single white-noise
    // statistic Q_m = n(n+2)·Σ r_k²/(n−k) — the test that says whether the
    // series has ANY linear memory before anyone fits q333's seasonal model
    // or reads q332's PACF. r_k deviations are exact integers (n·x_t − S on
    // the count grid; products decimal-cast so 100 TB daily counts cannot
    // overflow), each lag leg is an equi-join on day+lag over the per-day
    // rollup (the q275 layout — no corpus window), and the cumulative Q runs
    // over the 7-lag rollup only. Terms pre-round at 12 dp onto the decimal
    // grid so the cross-engine cumulative sum is order-exact.
    "q351_ljung_box" -> ((s, dir) => {
      val dec = DecimalType(18, 0)
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val ns = daily.agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      val dev = daily.crossJoin(broadcast(ns))
        .select(col("day"), col("n"),
          (col("c").cast(dec) * col("n").cast(dec) - col("s").cast(dec))
            .cast(DecimalType(19, 0)).as("d"))
        .localCheckpoint()
      val den = dev.agg(sum(col("d") * col("d")).as("den"), max(col("n")).as("n"))
      val a = dev.select(col("day"), col("d"),
        explode(array((1 to 7).map(l => lit(l.toLong)): _*)).as("lag"))
      val b = dev.select(col("day").as("dayb"), col("d").as("db"))
      val num = a.join(b, col("dayb") === col("day") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("d") * col("db")).as("num"))
      val wCum = Window.orderBy(col("lag")).rowsBetween(Window.unboundedPreceding, 0)
      num.crossJoin(broadcast(den))
        .select(col("lag"), col("n_pairs"),
          when(col("den") > 0,
            col("num").cast("double") / col("den").cast("double")).as("rk"),
          col("n"))
        .select(col("lag"), col("n_pairs"), round(col("rk"), 6).as("acf"),
          round(col("n").cast("double") * (col("n") + lit(2L)).cast("double")
            * col("rk") * col("rk") / (col("n") - col("lag")).cast("double"), 12)
            .cast(DecimalType(38, 12)).as("term"))
        .withColumn("lb_q", round(sum(col("term")).over(wCum).cast("double"), 6))
        .select(col("lag"), col("n_pairs"), col("acf"), col("lb_q"))
        .orderBy(col("lag"))
    }),

    // Hurst exponent via rescaled-range (q352): long-memory vs mean-reversion
    // in the daily event-count series — H ≈ 0.5 is a random walk, H > 0.5
    // trending persistence, H < 0.5 anti-persistence; the one-number answer
    // to "does load cluster across days?" that no fixed-lag ACF gives. Days
    // split into calendar blocks of m ∈ {5,10,15} (block id = offset div m —
    // no global row-number); per block the cumulative-deviation range R and
    // population σ come out of m-bounded partitioned windows in pure integer
    // space (Z'_j = m·cum_j − (j+1)·S_b), log(R/S) pre-rounds at 12 dp onto
    // the decimal grid, and H is the 3-point log-log OLS slope computed from
    // exact per-m sums — textually identical arithmetic both engines.
    "q352_hurst_rs" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("c"))
      val lo = daily.agg(min(col("day")).as("lo"))
      val idx = daily.crossJoin(broadcast(lo))
        .select((col("day") - col("lo")).as("t"), col("c"))
        .select(col("t"), col("c"),
          explode(array(Seq(5L, 10L, 15L).map(lit(_)): _*)).as("m"))
        .select(col("m"), expr("t div m").as("blk"), (col("t") % col("m")).as("j"),
          col("c"))
      val wBlk = Window.partitionBy(col("m"), col("blk")).orderBy(col("j"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(col("m"), col("blk"))
      val blocks = idx
        .withColumn("cum", sum(col("c")).over(wBlk))
        .withColumn("tot", sum(col("c")).over(wAll))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .filter(col("cnt") === col("m"))
        .select(col("m"), col("blk"),
          (col("cum") * col("m") - (col("j") + 1) * col("tot")).as("zp"),
          (col("c") * col("m") - col("tot")).as("dv"))
        .groupBy(col("m"), col("blk"))
        .agg((max(col("zp")) - min(col("zp"))).as("rng"),
          sum(expr("cast(dv as decimal(19,0)) * cast(dv as decimal(19,0))")).as("ssqp"))
        .filter(col("ssqp") > 0 && col("rng") > 0)
        .select(col("m"),
          round(log(col("rng").cast("double") * sqrt(col("m").cast("double"))
            / sqrt(col("ssqp").cast("double"))), 12)
            .cast(DecimalType(38, 12)).as("lrs"))
      val y = blocks.groupBy(col("m"))
        .agg(count(lit(1)).as("k"), sum(col("lrs")).as("s12"))
        .select(col("m"), col("k"), (col("s12").cast("double") / col("k")).as("y"))
      y.agg(
          max(when(col("m") === 5, col("k"))).as("n_blocks_5"),
          max(when(col("m") === 10, col("k"))).as("n_blocks_10"),
          max(when(col("m") === 15, col("k"))).as("n_blocks_15"),
          max(when(col("m") === 5, col("y"))).as("mean_log_rs_5"),
          max(when(col("m") === 10, col("y"))).as("mean_log_rs_10"),
          max(when(col("m") === 15, col("y"))).as("mean_log_rs_15"))
        .select(col("n_blocks_5"), col("n_blocks_10"), col("n_blocks_15"),
          col("mean_log_rs_5"), col("mean_log_rs_10"), col("mean_log_rs_15"),
          expr(HurstSlopeSql).as("hurst_h"))
    }),

    // Jarque-Bera normality test (q354): per event type, skewness, excess
    // kurtosis and JB = n/6·(S² + K²/4) on the order-value distribution —
    // the formal "is a z-score even meaningful here" gate for every
    // normal-assuming monitor downstream (q90's anomaly sigmas, q105's
    // outlier z's). Values live on the exact 2-dp grid; deviations are taken
    // about the INTEGER half-up mean mu0 so Σe²/Σe³/Σe⁴ stay exact integers
    // (e is value-range-bounded — e⁴ fits decimal(38) even at 10¹² rows),
    // and the mu0→true-mean shift is applied by the exact central-moment
    // identities in textually identical double arithmetic both engines.
    "q354_jarque_bera" -> ((s, dir) => {
      val dd = ev(s, dir)
        .select(col("event_type").as("g"),
          expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("v"))
        .localCheckpoint()
      val m0 = dd.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .select(col("g"), col("n"), col("sv"), expr("(2 * sv + n) div (2 * n)").as("mu0"))
      dd.join(broadcast(m0), "g")
        .select(col("g"), col("n"), col("sv"), col("mu0"), (col("v") - col("mu0")).as("e"))
        .groupBy(col("g"))
        .agg(max(col("n")).as("n"), max(col("sv")).as("sv"), max(col("mu0")).as("mu0"),
          sum(expr("cast(e as decimal(19,0)) * e")).as("a2"),
          sum(expr("cast(e as decimal(19,0)) * e * e")).as("a3"),
          sum(expr("cast(cast(e as decimal(19,0)) * e as decimal(19,0))" +
            " * (cast(e as decimal(19,0)) * e)")).as("a4"))
        .select(col("g"), col("n"),
          expr("cast(sv - n * mu0 as double) / cast(n as double)").as("d"),
          expr("cast(a2 as double) / cast(n as double)").as("r2"),
          expr("cast(a3 as double) / cast(n as double)").as("r3"),
          expr("cast(a4 as double) / cast(n as double)").as("r4"))
        .select(col("g"), col("n"),
          expr("r2 - d * d").as("m2"),
          expr("r3 - 3.0 * d * r2 + 2.0 * d * d * d").as("m3"),
          expr("r4 - 4.0 * d * r3 + 6.0 * d * d * r2 - 3.0 * d * d * d * d").as("m4"))
        .filter(col("m2") > 0)
        .select(col("g").as("event_type"), col("n").as("n_events"),
          expr("m3 / (sqrt(m2) * m2)").as("sk"),
          expr("m4 / (m2 * m2) - 3.0").as("kx"))
        .select(col("event_type"), col("n_events"),
          round(col("sk"), 6).as("skewness"),
          round(col("kx"), 6).as("kurtosis_excess"),
          expr("round(cast(n_events as double) / 6.0 * (sk * sk + kx * kx / 4.0), 6)")
            .as("jb_stat"))
        .orderBy(col("event_type"))
    }),

    // Nelson-Aalen cumulative hazard of event RECURRENCE (q355): Ĥ(t) =
    // Σ d_s/n_s with its Poisson-variance SE over inter-event gap durations
    // in hours — "given a user has been silent h hours, how much comeback
    // hazard have they accumulated" — the right-censored upgrade of q347's
    // cadence moments (each user's OPEN last gap, cut off by the corpus
    // edge, counts at risk but never as an arrival — dropping it, as a
    // naive gap histogram does, biases recurrence fast). Gap extraction is
    // one user-partitioned lead(); the hazard grid is hour-bounded
    // (corpus-size-independent), the at-risk counts a grid²-bounded
    // inequality join, terms pre-round at 12 dp so the cumulative sums are
    // cross-engine order-exact.
    "q355_nelson_aalen" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val base = ev(s, dir)
        .select(col("user_id"), col("ts").cast(LongType).as("t"), col("event_id"))
      val mx = base.agg(max(col("t")).as("tend"))
      val grid = base
        .withColumn("nt", lead(col("t"), 1).over(byUser))
        .crossJoin(broadcast(mx))
        .select(
          when(col("nt").isNotNull, expr("(nt - t) div 3600"))
            .otherwise(expr("(tend - t) div 3600")).as("h"),
          when(col("nt").isNotNull, lit(1L)).otherwise(lit(0L)).as("obs"))
        .groupBy(col("h"))
        .agg(sum(col("obs")).as("d"), count(lit(1)).as("c"))
        .localCheckpoint()
      val risk = grid.select(col("h").as("hh"))
        .join(grid, col("h") >= col("hh"))
        .groupBy(col("hh"))
        .agg(sum(col("c")).as("n_at_risk"),
          sum(when(col("h") === col("hh"), col("d")).otherwise(lit(0L))).as("d"))
        .filter(col("d") > 0)
      val wCum = Window.orderBy(col("hh")).rowsBetween(Window.unboundedPreceding, 0)
      risk
        .select(col("hh"), col("n_at_risk"), col("d"),
          expr("cast(round(cast(d as double) / cast(n_at_risk as double), 12)" +
            " as decimal(38,12))").as("t1"),
          expr("cast(round(cast(d as double) / (cast(n_at_risk as double)" +
            " * cast(n_at_risk as double)), 12) as decimal(38,12))").as("t2"))
        .withColumn("ch", sum(col("t1")).over(wCum))
        .withColumn("vh", sum(col("t2")).over(wCum))
        .select(col("hh").as("gap_hours"), col("n_at_risk"), col("d").as("n_events"),
          round(col("ch").cast("double"), 6).as("na_cumhaz"),
          expr("round(sqrt(cast(vh as double)), 6)").as("na_se"))
        .orderBy(col("gap_hours"))
    }),

    // EWMA control chart (q358): exponentially weighted moving average of
    // the daily event count with 3-sigma time-varying control limits
    // (Roberts 1959 / NIST §6.3.2.4) — the small-shift drift monitor
    // between q276's CUSUM (cumulative, best post-hoc) and q350's per-day
    // z (memoryless). The recursion Z_t = λx_t + (1−λ)Z_{t−1}, Z_0 = μ is
    // unrolled to its closed form Z_t = (1−λ)^t·μ + λΣ(1−λ)^{t−i}x_i and
    // evaluated as a day²-bounded pair join over the daily rollup (never a
    // sequential driver scan): each term pre-rounds at 12 dp after the
    // pow() (absorbing libm ulp skew) and decimal-sums, so the fold is
    // order-exact and the reported EWMA needs NO final rounding — it is
    // bit-identical across engines by construction. Limits widen by the
    // standard (1−(1−λ)^{2t}) startup factor; σ comes from exact integer
    // daily moments.
    "q358_ewma_chart" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("x"))
        .localCheckpoint()
      val idx = daily.withColumn("t",
        row_number().over(Window.orderBy(col("day"))).cast(LongType))
      val mom = daily.agg(count(lit(1)).as("nd"), sum(col("x")).as("sx"),
        sum(expr("cast(x as decimal(19,0)) * cast(x as decimal(19,0))")).as("sxx"))
        .select(col("nd"),
          expr("cast(sx as double) / cast(nd as double)").as("mu"),
          expr("sqrt(cast(cast(nd as decimal(38,0)) * sxx" +
            " - cast(sx as decimal(38,0)) * sx as double)) / cast(nd as double)")
            .as("sigma"))
      val b = idx.select(col("t").as("i"), col("x").as("xi"))
      val terms = idx.join(b, col("i") <= col("t"))
        .select(col("t"), col("day"), col("x"),
          expr("cast(round(0.2 * pow(0.8, cast(t - i as double))" +
            " * cast(xi as double), 12) as decimal(38,12))").as("w"))
        .groupBy(col("t"), col("day"), col("x"))
        .agg(sum(col("w")).as("zsum"))
      terms.crossJoin(broadcast(mom))
        .withColumn("ewma", col("zsum").cast("double")
          + expr("round(pow(0.8, cast(t as double)) * mu, 12)"))
        .withColumn("ucl", expr("round(mu + 3.0 * sigma * sqrt(cast(0.2 as double) / cast(1.8 as double)" +
          " * (1.0 - pow(0.8, cast(2 * t as double)))), 9)"))
        .withColumn("lcl", expr("round(mu - 3.0 * sigma * sqrt(cast(0.2 as double) / cast(1.8 as double)" +
          " * (1.0 - pow(0.8, cast(2 * t as double)))), 9)"))
        .select(col("day"), col("x").as("n_events"), col("ewma"),
          col("ucl"), col("lcl"),
          when(col("ewma") < col("lcl") || col("ewma") > col("ucl"), lit(1L))
            .otherwise(lit(0L)).as("ooc_flag"))
        .orderBy(col("day"))
    }),

    // Isotonic regression (q360): the best NONDECREASING fit of daily
    // revenue over time — the shape-constrained trend every "is revenue
    // still growing" readout wants (q135's exponential and the OLS lines
    // assume a functional form; isotonic assumes only monotonicity, and
    // its flat pools ARE the stagnation periods). PAVA's sequential pool-
    // adjacent-violators is replaced by the equivalent closed-form
    // max-min identity ŷ_i = max_{j≤i} min_{k≥i} mean(y_j..y_k)
    // (Robertson-Wright-Dykstra 1988), evaluated distributed: interval
    // means off exact integer-cent prefix sums on the day²-bounded pair
    // frame, a per-j suffix-min window, one grouped max. Every division is
    // the same correctly-rounded IEEE op on exact integers both engines —
    // the fit needs no rounding at all.
    "q360_isotonic_fit" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day"))
        .agg(expr("cast(sum(cast(value as decimal(18,2)) * 100) as decimal(38,0))")
          .as("yc"))
        .localCheckpoint()
      val idx = daily.withColumn("t",
        row_number().over(Window.orderBy(col("day"))).cast(LongType))
      val pre = idx.withColumn("p", sum(col("yc")).over(
        Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)))
      val a = pre.select(col("t").as("k"), col("p").as("pk"), col("day"), col("yc"))
      val b = pre.select(col("t").as("j"), (col("p") - col("yc")).as("pj1"))
      val pair = a.join(b, col("j") <= col("k"))
        .select(col("j"), col("k"), col("day"), col("yc"),
          (expr("cast(pk - pj1 as double)")
            / (col("k") - col("j") + 1).cast("double")).as("avg_jk"))
      val suf = pair.withColumn("mji", min(col("avg_jk")).over(
        Window.partitionBy(col("j")).orderBy(col("k").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      suf.groupBy(col("k"), col("day"), col("yc"))
        .agg(max(col("mji")).as("iso"))
        .select(col("day"), expr("cast(yc as double) / 100.0").as("revenue"),
          (col("iso") / 100.0).as("iso_fit"))
        .orderBy(col("day"))
    }),

    // Granger causality (q361): does yesterday's revenue help predict
    // today's event count beyond the count's own lag (and vice versa)?
    // F-test of the lag-1 restricted vs unrestricted OLS in BOTH
    // directions — the directional upgrade of q331's symmetric lead-lag
    // correlation (correlation can't say which side carries information).
    // Consecutive-day lag pairs come from one self-join of the daily
    // rollup; all ten regression moments are exact integers (19,0-operand
    // decimal products, the q332 discipline; centered forms n·Σ−ΣΣ stay
    // decimal(38)-exact at calendar-bounded day counts); Cramer's rule,
    // both RSS's and F run in ONE shared SQL string of double arithmetic
    // evaluated verbatim by both engines.
    "q361_granger" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(floor(col("ts").cast(LongType) / 86400L).cast(LongType).as("day"),
          col("value"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("cnt"),
          expr("cast(cast(sum(cast(value as decimal(18,2)) * 100) as decimal(38,0))" +
            " as bigint)").as("rev"))
        .localCheckpoint()
      val cur = daily
      val prev = daily.select((col("day") + 1).as("day"),
        col("cnt").as("pcnt"), col("rev").as("prev_rev"))
      val lagged = cur.join(prev, "day")
      val both = lagged.select(lit("rev_to_cnt").as("direction"),
          col("cnt").as("w"), col("pcnt").as("u"), col("prev_rev").as("v"))
        .unionByName(lagged.select(lit("cnt_to_rev").as("direction"),
          col("rev").as("w"), col("prev_rev").as("u"), col("pcnt").as("v")))
      val mom = both.groupBy(col("direction"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(w as decimal(38,0))")).as("sw"),
          sum(expr("cast(u as decimal(38,0))")).as("su"),
          sum(expr("cast(v as decimal(38,0))")).as("sv"),
          sum(expr("cast(w as decimal(19,0)) * cast(u as decimal(19,0))")).as("swu"),
          sum(expr("cast(w as decimal(19,0)) * cast(v as decimal(19,0))")).as("swv"),
          sum(expr("cast(u as decimal(19,0)) * cast(v as decimal(19,0))")).as("suv"),
          sum(expr("cast(w as decimal(19,0)) * cast(w as decimal(19,0))")).as("sww"),
          sum(expr("cast(u as decimal(19,0)) * cast(u as decimal(19,0))")).as("suu"),
          sum(expr("cast(v as decimal(19,0)) * cast(v as decimal(19,0))")).as("svv"))
      mom.select(col("direction"), col("n"),
          expr("cast(cast(n as decimal(38,0)) * suu - su * su as double)").as("duu"),
          expr("cast(cast(n as decimal(38,0)) * svv - sv * sv as double)").as("dvv"),
          expr("cast(cast(n as decimal(38,0)) * suv - su * sv as double)").as("duv"),
          expr("cast(cast(n as decimal(38,0)) * swu - sw * su as double)").as("duw"),
          expr("cast(cast(n as decimal(38,0)) * swv - sw * sv as double)").as("dvw"),
          expr("cast(cast(n as decimal(38,0)) * sww - sw * sw as double)").as("dww"))
        .select(col("direction"), col("n"),
          expr(GrangerBetaArSql).as("beta_ar"),
          expr(GrangerBetaCrossSql).as("beta_cross"),
          expr(GrangerFStatSql).as("f_stat"))
        .withColumn("granger_flag",
          when(col("f_stat") > 3.87, lit(1L)).otherwise(lit(0L)))
        .orderBy(col("direction"))
    })
  )

  /** Cramer's-rule lag-1 Granger statistics for q361, over the centered
    * double moments duu/dvv/duv/duw/dvw/dww and n — shared SQL strings
    * evaluated verbatim by both Spark (`expr`) and DuckDB so the double
    * arithmetic is bit-identical. rss1 is written out in full in the F so
    * each string stays self-contained. */
  private[operators] val GrangerBetaArSql: String =
    "round((duw * dvv - dvw * duv) / (duu * dvv - duv * duv), 9)"
  private[operators] val GrangerBetaCrossSql: String =
    "round((dvw * duu - duw * duv) / (duu * dvv - duv * duv), 9)"
  private[operators] val GrangerFStatSql: String =
    """round(((dww - duw * duw / duu)
      |       - (dww - ((duw * dvv - dvw * duv) * duw + (dvw * duu - duw * duv) * dvw)
      |                / (duu * dvv - duv * duv)))
      |      * (cast(n as double) - 3.0)
      |      / (dww - ((duw * dvv - dvw * duv) * duw + (dvw * duu - duw * duv) * dvw)
      |               / (duu * dvv - duv * duv)), 6)""".stripMargin

  /** 3-point log-log OLS slope for q352, over x = {ln 5, ln 10, ln 15} as
    * exact double literals — ONE shared SQL string evaluated verbatim by both
    * Spark (`expr`) and DuckDB, so the double arithmetic is bit-identical. */
  private[operators] val HurstSlopeSql: String = {
    val (x1, x2, x3) = ("1.6094379124341003", "2.302585092994046", "2.70805020110221")
    s"""round((($x1 * mean_log_rs_5 + $x2 * mean_log_rs_10 + $x3 * mean_log_rs_15)
       |        - ($x1 + $x2 + $x3)
       |          * (mean_log_rs_5 + mean_log_rs_10 + mean_log_rs_15) / 3)
       |      / (($x1 * $x1 + $x2 * $x2 + $x3 * $x3)
       |        - ($x1 + $x2 + $x3) * ($x1 + $x2 + $x3) / 3), 6)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q321_weekly_seasonality" ->
      Expectations.anovaSqlOn(
        """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
          |                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
          |               FROM events GROUP BY 1),
          |per AS (SELECT (day + 4) % 7 AS g, rev AS x FROM daily)""".stripMargin),
    "q320_circular_peak" ->
      """WITH hist AS (SELECT event_type,
        |                (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 60 AS m,
        |                count(*) AS cnt
        |              FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_events,
        |        sum(CAST(cnt * round(cos(6.283185307179586 * (CAST(m AS DOUBLE) / 1440.0)), 12) AS DECIMAL(38,12))) AS cs,
        |        sum(CAST(cnt * round(sin(6.283185307179586 * (CAST(m AS DOUBLE) / 1440.0)), 12) AS DECIMAL(38,12))) AS ss
        |      FROM hist GROUP BY 1),
        |u AS (SELECT event_type, n_events,
        |        CAST(CASE WHEN cs >= 0
        |                  THEN (2 * CAST(cs * 1000000000000 AS HUGEINT) + 1000 * n_events)
        |                       // (2000 * n_events)
        |                  ELSE -((2 * CAST((- cs) * 1000000000000 AS HUGEINT) + 1000 * n_events)
        |                         // (2000 * n_events)) END AS DOUBLE) / 1e9 AS cb,
        |        CAST(CASE WHEN ss >= 0
        |                  THEN (2 * CAST(ss * 1000000000000 AS HUGEINT) + 1000 * n_events)
        |                       // (2000 * n_events)
        |                  ELSE -((2 * CAST((- ss) * 1000000000000 AS HUGEINT) + 1000 * n_events)
        |                         // (2000 * n_events)) END AS DOUBLE) / 1e9 AS sb
        |      FROM t)
        |SELECT event_type, n_events,
        |       round(sqrt(cb * cb + sb * sb), 6) AS r_bar,
        |       round(fmod(atan2(sb, cb) + 6.283185307179586, 6.283185307179586)
        |             / 6.283185307179586 * 24, 4) AS peak_hour
        |FROM u ORDER BY event_type""".stripMargin,
    "q342_signed_rank" ->
      """WITH daily AS (SELECT user_id, CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, value
        |               FROM events),
        |bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |dd0 AS (SELECT user_id,
        |          sum(CASE WHEN day < (lo + hi + 1) // 2
        |                   THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS pre,
        |          sum(CASE WHEN day >= (lo + hi + 1) // 2
        |                   THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS post
        |        FROM daily CROSS JOIN bounds GROUP BY 1),
        |dd AS (SELECT CASE WHEN post - pre > 0 THEN 1 ELSE -1 END AS sgn,
        |         (CAST(abs(CAST(post - pre AS DOUBLE)) * 100 AS BIGINT) + 50) // 100 AS b
        |       FROM dd0 WHERE post - pre != 0),
        |grid AS (SELECT b, count(*) AS c FROM dd GROUP BY 1),
        |ranks AS (SELECT b,
        |            2 * coalesce(sum(c) OVER (ORDER BY b
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS ar2
        |          FROM grid),
        |ties AS (SELECT CAST(coalesce(sum(c * c * c - c), 0) AS BIGINT) AS tie_term
        |         FROM grid WHERE c > 1),
        |agg AS (SELECT count(*) AS n,
        |          CAST(sum(CASE WHEN sgn = 1 THEN ar2 ELSE 0 END) AS BIGINT) AS w2
        |        FROM dd JOIN ranks USING (b))
        |SELECT n AS n_pairs,
        |       CAST(w2 AS DOUBLE) / 2 AS w_plus,
        |       round((CAST(w2 AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4)
        |             / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
        |                    - CAST(tie_term AS DOUBLE) / 48), 6) AS z_wilcoxon
        |FROM agg CROSS JOIN ties""".stripMargin,
    "q349_rolling_channel" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
        |                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |               FROM events GROUP BY 1),
        |w AS (SELECT day, rev,
        |        max(rev) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS hi,
        |        min(rev) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS lo,
        |        count(*) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS wn
        |      FROM daily)
        |SELECT day, rev, hi AS channel_hi, lo AS channel_lo,
        |       CAST(CASE WHEN rev > hi THEN 1 ELSE 0 END AS BIGINT) AS breakout_up,
        |       CAST(CASE WHEN rev < lo THEN 1 ELSE 0 END AS BIGINT) AS breakout_down
        |FROM w WHERE wn = 7 ORDER BY day""".stripMargin,
    "q350_calendar_anomalies" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
        |                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |               FROM events GROUP BY 1),
        |dd AS (SELECT day, (day + 4) % 7 AS dow, rev FROM daily),
        |m AS (SELECT dow, count(*) AS n,
        |        (2 * CAST(CAST(sum(CAST(rev AS DECIMAL(18,2))) * 1000000000 AS DECIMAL(38,0)) AS HUGEINT)
        |         + count(*)) // (2 * count(*)) AS m9,
        |        sum(CAST(rev AS DECIMAL(19,2)) * CAST(rev AS DECIMAL(19,2))) AS s2
        |      FROM dd GROUP BY 1 HAVING count(*) >= 2),
        |v AS (SELECT dow, n, CAST(m9 AS DOUBLE) / 1e9 AS mu,
        |        CAST(s2 * 1000000000000000000 AS HUGEINT)
        |        - CAST(n AS HUGEINT) * (CAST(m9 AS HUGEINT) * CAST(m9 AS HUGEINT)) AS v18
        |      FROM m),
        |sdt AS (SELECT dow, mu,
        |          round(sqrt(round(CAST(v18 AS DOUBLE) / (n - 1) / 1e18, 9)), 9) AS sd
        |        FROM v)
        |SELECT day, dd.dow, rev, round((rev - mu) / sd, 6) AS z
        |FROM dd JOIN sdt ON sdt.dow = dd.dow
        |WHERE sd > 0
        |ORDER BY abs(round((rev - mu) / sd, 6)) DESC, day LIMIT 10""".stripMargin,
    "q339_churn_hazard" ->
      """WITH u AS (SELECT user_id,
        |             CAST(min(floor(epoch(ts)/604800)) AS BIGINT) AS fw,
        |             CAST(max(floor(epoch(ts)/604800)) AS BIGINT) AS lw
        |           FROM events GROUP BY 1),
        |mx AS (SELECT max(lw) AS mw FROM u),
        |ten AS (SELECT lw - fw AS tenure,
        |          count(*) AS cnt,
        |          CAST(sum(CASE WHEN lw < mw THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
        |        FROM u CROSS JOIN mx GROUP BY 1),
        |risk AS (SELECT g.tt, CAST(sum(ten.cnt) AS BIGINT) AS n_at_risk,
        |           CAST(sum(CASE WHEN ten.tenure = g.tt THEN ten.n_churned ELSE 0 END) AS BIGINT) AS n_churned
        |         FROM (SELECT tenure AS tt FROM ten) g JOIN ten ON ten.tenure >= g.tt
        |         GROUP BY 1)
        |SELECT tt AS tenure_weeks, n_at_risk, n_churned,
        |       round(CAST(n_churned AS DOUBLE) / n_at_risk, 6) AS hazard
        |FROM risk ORDER BY tenure_weeks""".stripMargin,
    "q331_ccf" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
        |                 count(*) AS x,
        |                 CAST(round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 100, 0) AS BIGINT) AS y100
        |               FROM events GROUP BY 1),
        |ks AS (SELECT CAST(unnest([-3, -2, -1, 0, 1, 2, 3]) AS BIGINT) AS k),
        |j AS (SELECT ks.k, a.x, b.y100 AS y
        |      FROM daily a CROSS JOIN ks JOIN daily b ON b.day = a.day + ks.k),
        |m AS (SELECT k, count(*) AS n,
        |        CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |        CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |        CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |      FROM j GROUP BY 1)
        |SELECT k AS lag, n,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE)
        |             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS ccf
        |FROM m ORDER BY lag""".stripMargin,
    "q332_pacf" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, count(*) AS x
        |               FROM events GROUP BY 1),
        |ks AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS k),
        |j AS (SELECT ks.k, a.x, b.x AS y
        |      FROM daily a CROSS JOIN ks JOIN daily b ON b.day = a.day + ks.k),
        |m AS (SELECT k, count(*) AS n,
        |        CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |        CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |        CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |      FROM j GROUP BY 1),
        |rk AS (SELECT k,
        |         round(CAST(n * sxy - sx * sy AS DOUBLE)
        |               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |                      * CAST(n * syy - sy * sy AS DOUBLE)), 9) AS r
        |       FROM m),
        |r1 AS (SELECT r AS r1 FROM rk WHERE k = 1),
        |r2 AS (SELECT r AS r2 FROM rk WHERE k = 2),
        |r3 AS (SELECT r AS r3 FROM rk WHERE k = 3),
        |p2t AS (SELECT r1, r2, r3,
        |          round((r2 - r1 * r1) / (1.0 - r1 * r1), 9) AS p2
        |        FROM r1 CROSS JOIN r2 CROSS JOIN r3),
        |f AS (SELECT r1, r2, r3, p2, round(r1 - p2 * r1, 9) AS f21 FROM p2t)
        |SELECT r1 AS pacf1, p2 AS pacf2,
        |       round((r3 - f21 * r2 - p2 * r1)
        |             / (1.0 - f21 * r1 - p2 * r2), 6) AS pacf3
        |FROM f""".stripMargin,
    "q333_seasonal_naive" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
        |                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |               FROM events GROUP BY 1),
        |j AS (SELECT c.rev, l1.rev AS rev1, l7.rev AS rev7
        |      FROM daily c JOIN daily l1 ON c.day = l1.day + 1
        |                   JOIN daily l7 ON c.day = l7.day + 7),
        |e AS (SELECT CAST(rev AS DECIMAL(18,2)) - CAST(rev1 AS DECIMAL(18,2)) AS e1,
        |        CAST(rev AS DECIMAL(18,2)) - CAST(rev7 AS DECIMAL(18,2)) AS e7
        |      FROM j),
        |m AS (SELECT count(*) AS n,
        |        sum(CAST(e1 AS DECIMAL(19,2)) * CAST(e1 AS DECIMAL(19,2))) AS sse1,
        |        sum(CAST(e7 AS DECIMAL(19,2)) * CAST(e7 AS DECIMAL(19,2))) AS sse7
        |      FROM e)
        |SELECT n AS n_days,
        |       round(sqrt(CAST(sse1 AS DOUBLE) / n), 6) AS rmse_naive1,
        |       round(sqrt(CAST(sse7 AS DOUBLE) / n), 6) AS rmse_seasonal7,
        |       round(sqrt(CAST(sse7 AS DOUBLE) / CAST(sse1 AS DOUBLE)), 6) AS theil_u
        |FROM m""".stripMargin,
    "q330_overdispersion" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, count(*) AS c
        |               FROM events GROUP BY 1),
        |a AS (SELECT count(*) AS n,
        |        (2 * CAST(CAST(sum(c) AS HUGEINT) AS HUGEINT) * 1000000000 + count(*))
        |          // (2 * count(*)) AS m9,
        |        sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS sc2
        |      FROM daily),
        |b AS (SELECT n, CAST(m9 AS DOUBLE) / 1e9 AS mean_daily,
        |        CAST(sc2 * 1000000000000000000 AS HUGEINT)
        |        - CAST(n AS HUGEINT) * (CAST(m9 AS HUGEINT) * CAST(m9 AS HUGEINT)) AS v18
        |      FROM a),
        |v AS (SELECT n AS n_days, mean_daily,
        |        round(CAST(v18 AS DOUBLE) / (n - 1) / 1e18, 6) AS var_daily
        |      FROM b)
        |SELECT n_days, mean_daily, var_daily,
        |       round(var_daily / mean_daily, 6) AS dispersion_index,
        |       CASE WHEN var_daily > mean_daily
        |            THEN round(mean_daily * mean_daily / (var_daily - mean_daily), 6)
        |       END AS nb_size
        |FROM v""".stripMargin,
    "q328_depth_geometric" ->
      """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |g AS (SELECT user_id, t, event_id,
        |        CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
        |                  OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 600
        |             THEN 1 ELSE 0 END AS snew
        |      FROM e),
        |s AS (SELECT user_id,
        |        sum(snew) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM g),
        |d AS (SELECT user_id, sid, count(*) AS k FROM s GROUP BY 1, 2),
        |h AS (SELECT least(k, 10) AS kbin, count(*) AS obs FROM d GROUP BY 1),
        |st AS (SELECT count(*) AS ns, CAST(sum(k) AS BIGINT) AS tk FROM d),
        |x AS (SELECT kbin, obs, ns, round(CAST(ns AS DOUBLE) / tk, 9) AS phat
        |      FROM h CROSS JOIN st)
        |SELECT kbin, obs, phat,
        |       CASE WHEN kbin < 10
        |            THEN round(ns * phat * pow(1.0 - phat, CAST(kbin - 1 AS DOUBLE)), 6)
        |            ELSE round(ns * pow(1.0 - phat, 9.0), 6) END AS expected
        |FROM x ORDER BY kbin""".stripMargin,
    "q316_mann_kendall" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
        |                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |               FROM events GROUP BY 1),
        |sgn AS (SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
        |                             WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_mk
        |        FROM daily a JOIN daily b ON a.day < b.day),
        |n AS (SELECT count(*) AS n FROM daily),
        |ties AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
        |         FROM (SELECT rev, count(*) AS t FROM daily GROUP BY 1) WHERE t > 1),
        |x AS (SELECT n.n AS n_days, s_mk,
        |        n.n * (n.n - 1) * (2 * n.n + 5) AS num, tie_term
        |      FROM n CROSS JOIN sgn CROSS JOIN ties),
        |v AS (SELECT n_days, s_mk,
        |        round(CAST(num - tie_term AS DOUBLE) / 18, 9) AS var_s FROM x)
        |SELECT n_days, s_mk, var_s,
        |       CASE WHEN s_mk > 0 THEN round(CAST(s_mk - 1 AS DOUBLE) / sqrt(var_s), 6)
        |            WHEN s_mk < 0 THEN round(CAST(s_mk + 1 AS DOUBLE) / sqrt(var_s), 6)
        |            ELSE 0.0 END AS z_mk
        |FROM v""".stripMargin,
    "q317_runs_test" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
        |                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |               FROM events GROUP BY 1),
        |mv0 AS (SELECT day, rev, lag(rev) OVER (ORDER BY day) AS prev FROM daily),
        |mv AS (SELECT day, CASE WHEN rev > prev THEN 1 ELSE -1 END AS mv
        |       FROM mv0 WHERE prev IS NOT NULL AND rev != prev),
        |mp AS (SELECT mv, lag(mv) OVER (ORDER BY day) AS pm FROM mv),
        |r AS (SELECT CAST(sum(CASE WHEN mv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
        |        CAST(sum(CASE WHEN mv = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
        |        1 + CAST(sum(CASE WHEN pm IS NOT NULL AND mv != pm THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        |      FROM mp),
        |e AS (SELECT n_up, n_down, n_runs,
        |        round(1.0 + 2.0 * n_up * n_down / (n_up + n_down), 9) AS e_runs,
        |        round(2.0 * n_up * n_down
        |              * (2.0 * n_up * n_down - n_up - n_down)
        |              / (CAST(n_up + n_down AS DOUBLE) * (n_up + n_down)
        |                 * (n_up + n_down - 1)), 9) AS var_runs
        |      FROM r)
        |SELECT n_up, n_down, n_runs, e_runs, var_runs,
        |       round((n_runs - e_runs) / sqrt(var_runs), 6) AS z_runs
        |FROM e""".stripMargin,
    "q313_diff_in_diff" ->
      """WITH d AS (SELECT CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 4)) AS BIGINT) % 2 AS arm,
        |             CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, value
        |           FROM events),
        |daily AS (SELECT arm, day, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |          FROM d GROUP BY 1, 2),
        |bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |cells AS (SELECT arm,
        |            CASE WHEN day >= (lo + hi + 1) // 2 THEN 1 ELSE 0 END AS post,
        |            round(CAST(sum(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) / count(*), 9) AS m
        |          FROM daily CROSS JOIN bounds GROUP BY 1, 2)
        |SELECT a0.m AS m_a_pre, a1.m AS m_a_post, b0.m AS m_b_pre, b1.m AS m_b_post,
        |       round((a1.m - a0.m) - (b1.m - b0.m), 6) AS did
        |FROM (SELECT m FROM cells WHERE arm = 0 AND post = 0) a0
        |  CROSS JOIN (SELECT m FROM cells WHERE arm = 0 AND post = 1) a1
        |  CROSS JOIN (SELECT m FROM cells WHERE arm = 1 AND post = 0) b0
        |  CROSS JOIN (SELECT m FROM cells WHERE arm = 1 AND post = 1) b1""".stripMargin,
    "q311_cohort_retention" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |               CAST(floor(epoch(ts)/604800) AS BIGINT) AS week FROM events),
        |co AS (SELECT user_id, min(week) AS cw FROM act GROUP BY 1),
        |m AS (SELECT cw, week - cw AS k, count(*) AS n_active
        |      FROM act JOIN co USING (user_id) GROUP BY 1, 2),
        |b AS (SELECT cw, n_active AS n_cohort FROM m WHERE k = 0)
        |SELECT m.cw AS cohort_week, m.k AS weeks_since, m.n_active, b.n_cohort,
        |       round(CAST(m.n_active AS DOUBLE) / b.n_cohort, 6) AS retention
        |FROM m JOIN b USING (cw) ORDER BY cohort_week, weeks_since""".stripMargin,
    "q312_info_gain" ->
      """WITH base AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |        CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 10 AS b3
        |      FROM events),
        |f AS (SELECT y, ((t // 3600) % 24) // 6 AS b1,
        |        CASE WHEN ((t // 86400 + 4) % 7) IN (0, 6) THEN 1 ELSE 0 END AS b2, b3
        |      FROM base),
        |u AS (SELECT 'f1_hod_bucket' AS feature, b1 AS v, y FROM f
        |      UNION ALL SELECT 'f2_weekend', b2, y FROM f
        |      UNION ALL SELECT 'f3_props_k', b3, y FROM f),
        |cells AS (SELECT feature, v, y, count(*) AS c FROM u GROUP BY 1, 2, 3),
        |nv AS (SELECT feature, v, CAST(sum(c) AS BIGINT) AS nv FROM cells GROUP BY 1, 2),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells WHERE feature = 'f1_hod_bucket'),
        |hy AS (SELECT round(-CAST(sum(CAST(round(
        |           (CAST(cy AS DOUBLE) / nn.n) * log10(CAST(cy AS DOUBLE) / nn.n) / log10(2.0),
        |           12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS h_y
        |       FROM (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells
        |             WHERE feature = 'f1_hod_bucket' GROUP BY 1)
        |         CROSS JOIN nn),
        |hc AS (SELECT feature,
        |         round(-CAST(sum(CAST(round(
        |             (CAST(c AS DOUBLE) / nn.n) * log10(CAST(c AS DOUBLE) / nv.nv) / log10(2.0),
        |             12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS h_cond
        |       FROM cells JOIN nv USING (feature, v) CROSS JOIN nn GROUP BY 1)
        |SELECT feature, h_y, h_cond, round(h_y - h_cond, 6) AS info_gain
        |FROM hc CROSS JOIN hy ORDER BY feature""".stripMargin,
    "q302_logrank" ->
      """WITH fv AS (SELECT user_id,
        |              CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 4)) AS BIGINT) % 2 AS arm,
        |              CAST(min(floor(epoch(ts))) AS BIGINT) AS fv
        |            FROM events WHERE event_type = 'view' GROUP BY user_id),
        |fp AS (SELECT e.user_id, CAST(min(floor(epoch(e.ts))) AS BIGINT) AS fp
        |       FROM events e JOIN fv ON fv.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND floor(epoch(e.ts)) >= fv.fv
        |       GROUP BY 1),
        |mx AS (SELECT CAST(max(floor(epoch(ts))) AS BIGINT) AS mx FROM events),
        |obs AS (SELECT fv.arm,
        |               CASE WHEN fp.fp IS NOT NULL THEN (fp.fp - fv.fv) // 86400
        |                    ELSE (mx.mx - fv.fv) // 86400 END AS days,
        |               CASE WHEN fp.fp IS NOT NULL THEN 1 ELSE 0 END AS event
        |        FROM fv LEFT JOIN fp USING (user_id) CROSS JOIN mx),
        |ending AS (SELECT arm, days, count(*) AS cnt, CAST(sum(event) AS BIGINT) AS d
        |           FROM obs GROUP BY 1, 2),
        |ed AS (SELECT DISTINCT days AS day FROM ending WHERE d > 0),
        |risk AS (SELECT arm, day, CAST(sum(cnt) AS BIGINT) AS n_risk,
        |           CAST(sum(CASE WHEN days = day THEN d ELSE 0 END) AS BIGINT) AS d_arm
        |         FROM ending JOIN ed ON days >= day GROUP BY 1, 2),
        |a0 AS (SELECT day, n_risk AS n1, d_arm AS d1 FROM risk WHERE arm = 0),
        |a1 AS (SELECT day, n_risk AS n2, d_arm AS d2 FROM risk WHERE arm = 1),
        |dd AS (SELECT coalesce(a0.day, a1.day) AS day,
        |         coalesce(n1, 0) AS n1, coalesce(d1, 0) AS d1,
        |         coalesce(n2, 0) AS n2, coalesce(d2, 0) AS d2
        |       FROM a0 FULL JOIN a1 ON a0.day = a1.day),
        |t AS (SELECT day, d1,
        |        round(CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2), 9) AS e1t,
        |        CASE WHEN n1 + n2 > 1
        |             THEN round(CAST(d1 + d2 AS DOUBLE) * (CAST(n1 AS DOUBLE) / (n1 + n2))
        |                        * (CAST(n2 AS DOUBLE) / (n1 + n2))
        |                        * ((n1 + n2) - (d1 + d2)) / ((n1 + n2) - 1), 9)
        |             ELSE 0.0 END AS vt
        |      FROM dd),
        |agg AS (SELECT count(*) AS n_days, CAST(sum(d1) AS BIGINT) AS o1,
        |          round(CAST(sum(CAST(e1t AS DECIMAL(38,9))) AS DOUBLE), 6) AS e1,
        |          round(CAST(sum(CAST(vt AS DECIMAL(38,9))) AS DOUBLE), 6) AS v
        |        FROM t)
        |SELECT n_days, o1, e1, v,
        |       round((o1 - e1) * (o1 - e1) / v, 6) AS chi2
        |FROM agg""".stripMargin,
    "q233_km_by_arm" ->
      """WITH fv AS (SELECT user_id,
        |              CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 4)) AS BIGINT) % 2 AS arm,
        |              CAST(min(floor(epoch(ts))) AS BIGINT) AS fv
        |            FROM events WHERE event_type = 'view' GROUP BY user_id),
        |fp AS (SELECT e.user_id, CAST(min(floor(epoch(e.ts))) AS BIGINT) AS fp
        |       FROM events e JOIN fv ON fv.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND floor(epoch(e.ts)) >= fv.fv
        |       GROUP BY 1),
        |mx AS (SELECT CAST(max(floor(epoch(ts))) AS BIGINT) AS mx FROM events),
        |obs AS (SELECT fv.arm,
        |               CASE WHEN fp.fp IS NOT NULL THEN (fp.fp - fv.fv) // 86400
        |                    ELSE (mx.mx - fv.fv) // 86400 END AS days,
        |               CASE WHEN fp.fp IS NOT NULL THEN 1 ELSE 0 END AS event
        |        FROM fv LEFT JOIN fp USING (user_id) CROSS JOIN mx),
        |conv AS (SELECT arm, days AS day, count(*) AS d FROM obs WHERE event = 1 GROUP BY 1, 2),
        |ending AS (SELECT arm, days AS day, count(*) AS cnt FROM obs GROUP BY 1, 2),
        |risk AS (SELECT arm, day, CAST(sum(cnt) OVER (PARTITION BY arm ORDER BY day DESC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |         FROM ending),
        |f AS (SELECT conv.arm, conv.day, risk.n_risk, conv.d,
        |        CASE WHEN conv.d >= risk.n_risk THEN NULL
        |             ELSE round(log10(1.0 - CAST(conv.d AS DOUBLE) / risk.n_risk), 12) END AS lf
        |      FROM conv JOIN risk USING (arm, day)),
        |c AS (SELECT arm, day, n_risk, d,
        |        max(CASE WHEN lf IS NULL THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY arm ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
        |        sum(CAST(lf AS DECIMAL(38,12)))
        |          OVER (PARTITION BY arm ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls
        |      FROM f)
        |SELECT arm, day, n_risk, d AS n_events,
        |       CASE WHEN dead = 1 THEN 0.0
        |            ELSE round(pow(10.0, CAST(ls AS DOUBLE)), 6) END AS survival
        |FROM c ORDER BY arm, day""".stripMargin,
    "q345_km_greenwood" ->
      """WITH fv AS (SELECT user_id, CAST(min(floor(epoch(ts))) AS BIGINT) AS fv
        |            FROM events WHERE event_type = 'view' GROUP BY 1),
        |fp AS (SELECT e.user_id, CAST(min(floor(epoch(e.ts))) AS BIGINT) AS fp
        |       FROM events e JOIN fv ON fv.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND floor(epoch(e.ts)) >= fv.fv
        |       GROUP BY 1),
        |mx AS (SELECT CAST(max(floor(epoch(ts))) AS BIGINT) AS mx FROM events),
        |obs AS (SELECT CASE WHEN fp.fp IS NOT NULL THEN (fp.fp - fv.fv) // 86400
        |                    ELSE (mx.mx - fv.fv) // 86400 END AS days,
        |               CASE WHEN fp.fp IS NOT NULL THEN 1 ELSE 0 END AS event
        |        FROM fv LEFT JOIN fp USING (user_id) CROSS JOIN mx),
        |conv AS (SELECT days AS day, count(*) AS d FROM obs WHERE event = 1 GROUP BY 1),
        |ending AS (SELECT days AS day, count(*) AS cnt FROM obs GROUP BY 1),
        |risk AS (SELECT day, CAST(sum(cnt) OVER (ORDER BY day DESC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |         FROM ending),
        |f AS (SELECT conv.day, risk.n_risk, conv.d,
        |        CASE WHEN conv.d >= risk.n_risk THEN NULL
        |             ELSE round(log10(1.0 - CAST(conv.d AS DOUBLE) / risk.n_risk), 12) END AS lf,
        |        CASE WHEN conv.d >= risk.n_risk THEN NULL
        |             ELSE round(CAST(conv.d AS DOUBLE)
        |                        / (risk.n_risk * (risk.n_risk - conv.d)), 12) END AS gt
        |      FROM conv JOIN risk USING (day)),
        |c AS (SELECT day, n_risk, d,
        |        max(CASE WHEN lf IS NULL THEN 1 ELSE 0 END)
        |          OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
        |        sum(CAST(lf AS DECIMAL(38,12)))
        |          OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls,
        |        sum(CAST(gt AS DECIMAL(38,12)))
        |          OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gs
        |      FROM f),
        |s1 AS (SELECT day, n_risk, d AS n_events,
        |         CASE WHEN dead = 1 THEN 0.0
        |              ELSE round(pow(10.0, CAST(ls AS DOUBLE)), 6) END AS survival,
        |         gs, dead
        |       FROM c),
        |s2 AS (SELECT day, n_risk, n_events, survival,
        |         CASE WHEN dead = 1 THEN 0.0
        |              ELSE round(survival * sqrt(CAST(gs AS DOUBLE)), 6) END AS se_greenwood
        |       FROM s1)
        |SELECT day, n_risk, n_events, survival, se_greenwood,
        |       greatest(0.0, round(survival - 1.96 * se_greenwood, 6)) AS ci_lo,
        |       least(1.0, round(survival + 1.96 * se_greenwood, 6)) AS ci_hi
        |FROM s2 ORDER BY day""".stripMargin,
    "q325_rmst" ->
      """WITH fv AS (SELECT user_id, CAST(min(floor(epoch(ts))) AS BIGINT) AS fv
        |            FROM events WHERE event_type = 'view' GROUP BY 1),
        |fp AS (SELECT e.user_id, CAST(min(floor(epoch(e.ts))) AS BIGINT) AS fp
        |       FROM events e JOIN fv ON fv.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND floor(epoch(e.ts)) >= fv.fv
        |       GROUP BY 1),
        |mx AS (SELECT CAST(max(floor(epoch(ts))) AS BIGINT) AS mx FROM events),
        |obs AS (SELECT CASE WHEN fp.fp IS NOT NULL THEN (fp.fp - fv.fv) // 86400
        |                    ELSE (mx.mx - fv.fv) // 86400 END AS days,
        |               CASE WHEN fp.fp IS NOT NULL THEN 1 ELSE 0 END AS event
        |        FROM fv LEFT JOIN fp USING (user_id) CROSS JOIN mx),
        |conv AS (SELECT days AS day, count(*) AS d FROM obs WHERE event = 1 GROUP BY 1),
        |ending AS (SELECT days AS day, count(*) AS cnt FROM obs GROUP BY 1),
        |risk AS (SELECT day, CAST(sum(cnt) OVER (ORDER BY day DESC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |         FROM ending),
        |f AS (SELECT conv.day, risk.n_risk, conv.d,
        |        CASE WHEN conv.d >= risk.n_risk THEN NULL
        |             ELSE round(log10(1.0 - CAST(conv.d AS DOUBLE) / risk.n_risk), 12) END AS lf
        |      FROM conv JOIN risk USING (day)),
        |c AS (SELECT day,
        |        max(CASE WHEN lf IS NULL THEN 1 ELSE 0 END)
        |          OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
        |        sum(CAST(lf AS DECIMAL(38,12)))
        |          OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls
        |      FROM f),
        |km AS (SELECT day, CASE WHEN dead = 1 THEN 0.0
        |                        ELSE round(pow(10.0, CAST(ls AS DOUBLE)), 6) END AS surv
        |       FROM c),
        |tau AS (SELECT max(days) AS tau FROM obs),
        |areas AS (SELECT day,
        |            surv * CAST(coalesce(lead(day) OVER (ORDER BY day), tau) - day AS DOUBLE) AS a
        |          FROM km CROSS JOIN tau),
        |ta AS (SELECT sum(CAST(a AS DECIMAL(38,6))) AS tail_area FROM areas),
        |fst AS (SELECT min(day) AS d1 FROM km)
        |SELECT tau.tau AS horizon_days, fst.d1 AS first_event_day,
        |       round(CAST(fst.d1 AS DOUBLE) + CAST(ta.tail_area AS DOUBLE), 6) AS rmst_days
        |FROM fst CROSS JOIN tau CROSS JOIN ta""".stripMargin,
    "q225_km_survival" ->
      """WITH fv AS (SELECT user_id, CAST(min(floor(epoch(ts))) AS BIGINT) AS fv
        |            FROM events WHERE event_type = 'view' GROUP BY 1),
        |fp AS (SELECT e.user_id, CAST(min(floor(epoch(e.ts))) AS BIGINT) AS fp
        |       FROM events e JOIN fv ON fv.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND floor(epoch(e.ts)) >= fv.fv
        |       GROUP BY 1),
        |mx AS (SELECT CAST(max(floor(epoch(ts))) AS BIGINT) AS mx FROM events),
        |obs AS (SELECT CASE WHEN fp.fp IS NOT NULL THEN (fp.fp - fv.fv) // 86400
        |                    ELSE (mx.mx - fv.fv) // 86400 END AS days,
        |               CASE WHEN fp.fp IS NOT NULL THEN 1 ELSE 0 END AS event
        |        FROM fv LEFT JOIN fp USING (user_id) CROSS JOIN mx),
        |conv AS (SELECT days AS day, count(*) AS d FROM obs WHERE event = 1 GROUP BY 1),
        |ending AS (SELECT days AS day, count(*) AS cnt FROM obs GROUP BY 1),
        |risk AS (SELECT day, CAST(sum(cnt) OVER (ORDER BY day DESC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |         FROM ending),
        |f AS (SELECT conv.day, risk.n_risk, conv.d,
        |        CASE WHEN conv.d >= risk.n_risk THEN NULL
        |             ELSE round(log10(1.0 - CAST(conv.d AS DOUBLE) / risk.n_risk), 12) END AS lf
        |      FROM conv JOIN risk USING (day)),
        |c AS (SELECT day, n_risk, d,
        |        max(CASE WHEN lf IS NULL THEN 1 ELSE 0 END)
        |          OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
        |        sum(CAST(lf AS DECIMAL(38,12)))
        |          OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls
        |      FROM f)
        |SELECT day, n_risk, d AS n_events,
        |       CASE WHEN dead = 1 THEN 0.0
        |            ELSE round(pow(10.0, CAST(ls AS DOUBLE)), 6) END AS survival
        |FROM c ORDER BY day""".stripMargin,
    "q256_srm_audit" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |ua AS (SELECT CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 4)) AS BIGINT) % 2 AS arm FROM u),
        |c AS (SELECT arm, count(*) AS n_users FROM ua GROUP BY 1),
        |ab AS (SELECT a.n_users AS na, b.n_users AS nb
        |       FROM (SELECT * FROM c WHERE arm = 0) a
        |       CROSS JOIN (SELECT * FROM c WHERE arm = 1) b)
        |SELECT na, nb,
        |       round(pow(na - (na + nb) / 2.0, 2) / ((na + nb) / 2.0)
        |           + pow(nb - (na + nb) / 2.0, 2) / ((na + nb) / 2.0), 6) AS chi2,
        |       CAST(CASE WHEN round(pow(na - (na + nb) / 2.0, 2) / ((na + nb) / 2.0)
        |           + pow(nb - (na + nb) / 2.0, 2) / ((na + nb) / 2.0), 6) > 3.841
        |            THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
        |FROM ab""".stripMargin,
    "q257_cuped_uplift" ->
      """WITH mid AS (SELECT (min(CAST(floor(epoch(ts)) AS BIGINT))
        |                   + max(CAST(floor(epoch(ts)) AS BIGINT))) / 2.0 AS mid FROM events),
        |users AS (SELECT user_id,
        |            round(CAST(sum(CAST(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < mid
        |                   THEN round(value, 6) ELSE 0 END AS DECIMAL(38,12))) AS DOUBLE), 6) AS pre,
        |            round(CAST(sum(CAST(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= mid
        |                   THEN round(value, 6) ELSE 0 END AS DECIMAL(38,12))) AS DOUBLE), 6) AS post
        |          FROM events CROSS JOIN mid GROUP BY user_id),
        |ua AS (SELECT user_id,
        |         CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 4)) AS BIGINT) % 2 AS arm,
        |         pre, post FROM users),
        |m AS (SELECT count(*) AS n,
        |        round(CAST(sum(CAST(round(pre, 6) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mpre,
        |        round(CAST(sum(CAST(round(post, 6) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mpost,
        |        round(CAST(sum(CAST(pre AS DECIMAL(28,6)) * CAST(pre AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS spp,
        |        round(CAST(sum(CAST(post AS DECIMAL(28,6)) * CAST(post AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS sqq,
        |        round(CAST(sum(CAST(pre AS DECIMAL(28,6)) * CAST(post AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS spq
        |      FROM ua),
        |st AS (SELECT mpre,
        |         round(sqq - mpost * mpost, 6) AS vpost,
        |         CASE WHEN round(spp - mpre * mpre, 6) <= 0 THEN 0.0
        |              ELSE round(round(spq - mpre * mpost, 6) / round(spp - mpre * mpre, 6), 6)
        |         END AS theta
        |       FROM m),
        |adj AS (SELECT arm, post,
        |          round(post - theta * (pre - mpre), 6) AS adjusted, theta, vpost
        |        FROM ua CROSS JOIN st),
        |vr AS (SELECT theta,
        |         CASE WHEN vpost <= 0 THEN NULL
        |              ELSE round(1.0 - round(
        |                round(CAST(sum(CAST(adjusted AS DECIMAL(28,6)) * CAST(adjusted AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
        |                - round(CAST(sum(CAST(round(adjusted, 6) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
        |                * round(CAST(sum(CAST(round(adjusted, 6) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6), 6)
        |                / vpost, 6)
        |         END AS var_reduction
        |       FROM adj GROUP BY theta, vpost)
        |SELECT arm, count(*) AS n_users,
        |       round(CAST(sum(CAST(round(post, 6) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mean_post,
        |       round(CAST(sum(CAST(round(adjusted, 6) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mean_cuped,
        |       vr.theta AS theta, vr.var_reduction AS var_reduction
        |FROM adj CROSS JOIN vr GROUP BY arm, vr.theta, vr.var_reduction ORDER BY arm""".stripMargin,
    "q224_ab_readout" ->
      """WITH u AS (SELECT user_id,
        |             CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 4)) AS BIGINT) % 2 AS arm,
        |             max(CASE WHEN event_type = 'purchase' AND value >= 150 THEN 1 ELSE 0 END) AS converted
        |           FROM events GROUP BY user_id),
        |arms AS (SELECT arm, count(*) AS n_users,
        |           CAST(sum(converted) AS BIGINT) AS n_converted,
        |           round(CAST(sum(converted) AS DOUBLE) / count(*), 6) AS conv_rate
        |         FROM u GROUP BY 1),
        |ab AS (SELECT a.n_users AS na, a.n_converted AS ca, b.n_users AS nb, b.n_converted AS cb
        |       FROM (SELECT * FROM arms WHERE arm = 0) a CROSS JOIN (SELECT * FROM arms WHERE arm = 1) b),
        |z AS (SELECT CASE WHEN CAST(ca + cb AS DOUBLE) / (na + nb) <= 0
        |                    OR CAST(ca + cb AS DOUBLE) / (na + nb) >= 1 THEN NULL
        |        ELSE round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) /
        |          sqrt((CAST(ca + cb AS DOUBLE) / (na + nb)) * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb)) *
        |               (1.0 / na + 1.0 / nb)), 6) END AS z_stat FROM ab)
        |SELECT arm, n_users, n_converted, conv_rate, z_stat
        |FROM arms CROSS JOIN z ORDER BY arm""".stripMargin,
    "q223_bot_regularity" ->
      """WITH g AS (SELECT user_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) -
        |               lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |           FROM events),
        |m AS (SELECT user_id, count(*) AS n_gaps,
        |        CAST(sum(gap) AS BIGINT) AS sg, CAST(sum(gap * gap) AS BIGINT) AS sg2
        |      FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING count(*) >= 9),
        |r AS (SELECT user_id, n_gaps + 1 AS n_events,
        |        round(CAST(sg AS DOUBLE) / n_gaps, 6) AS mean_gap_s,
        |        round(sqrt((CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * sg / n_gaps) / n_gaps), 6) AS std_gap_s
        |      FROM m),
        |c AS (SELECT user_id, n_events, mean_gap_s, std_gap_s,
        |        CASE WHEN mean_gap_s = 0 THEN NULL
        |             ELSE round(std_gap_s / mean_gap_s, 6) END AS cv_gap
        |      FROM r)
        |SELECT user_id, n_events, mean_gap_s, std_gap_s, cv_gap,
        |       CAST(CASE WHEN cv_gap IS NOT NULL AND cv_gap < 0.3 THEN 1 ELSE 0 END AS BIGINT) AS bot_flag
        |FROM c ORDER BY user_id""".stripMargin,
    "q157_gap_fill" ->
      """WITH hourly AS (SELECT event_type, CAST(floor(epoch(ts)/3600) AS BIGINT) AS hour,
        |                 count(*) AS n_events,
        |                 round(CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
        |                       / count(*), 6) AS avg_value
        |               FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(hour) AS lo, max(hour) AS hi FROM hourly),
        |spine AS (SELECT t.event_type, g.hour
        |          FROM (SELECT DISTINCT event_type FROM hourly) t
        |          CROSS JOIN (SELECT unnest(range(lo, hi + 1)) AS hour FROM bounds) g),
        |filled AS (SELECT s.event_type, s.hour,
        |             COALESCE(h.n_events, 0) AS n_events,
        |             last_value(h.avg_value IGNORE NULLS) OVER
        |               (PARTITION BY s.event_type ORDER BY s.hour ROWS UNBOUNDED PRECEDING) AS avg_value_ff
        |           FROM spine s LEFT JOIN hourly h
        |             ON h.event_type = s.event_type AND h.hour = s.hour)
        |SELECT event_type, hour, CAST(n_events AS BIGINT) AS n_events, avg_value_ff
        |FROM filled ORDER BY event_type, hour""".stripMargin,
    "q188_pearson_corr" ->
      """WITH x AS (SELECT event_type,
        |             CAST(CAST(floor(epoch(ts)/3600) AS BIGINT) % 24 AS DOUBLE) AS h,
        |             value AS v
        |           FROM events),
        |m AS (SELECT event_type, count(*) AS n,
        |        CAST(sum(CAST(h AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(round(h*v, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |        CAST(sum(CAST(h*h AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(round(v*v, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |      FROM x GROUP BY 1)
        |SELECT event_type, n,
        |       CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
        |         round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6)
        |       END AS pearson_r
        |FROM m ORDER BY event_type""".stripMargin,
    "q266_spearman_corr" ->
      """WITH x AS (SELECT event_type,
        |             CAST(floor(epoch(ts)/3600) AS BIGINT) % 24 AS h,
        |             round(value, 6) AS v
        |           FROM events),
        |gh AS (SELECT event_type, h, count(*) AS t FROM x GROUP BY 1, 2),
        |rh AS (SELECT event_type, h,
        |         2*(sum(t) OVER (PARTITION BY event_type ORDER BY h
        |                         ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS rx
        |       FROM gh),
        |gv AS (SELECT event_type, v, count(*) AS t FROM x GROUP BY 1, 2),
        |rv AS (SELECT event_type, v,
        |         2*(sum(t) OVER (PARTITION BY event_type ORDER BY v
        |                         ROWS UNBOUNDED PRECEDING) - t) + t + 1 AS ry
        |       FROM gv),
        |j AS (SELECT x.event_type, rx, ry
        |      FROM x JOIN rh USING (event_type, h) JOIN rv USING (event_type, v)),
        |m AS (SELECT event_type, count(*) AS n,
        |        CAST(sum(CAST(rx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(ry AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(CAST(rx AS DECIMAL(18,0)) * CAST(ry AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
        |        CAST(sum(CAST(CAST(rx AS DECIMAL(18,0)) * CAST(rx AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(CAST(ry AS DECIMAL(18,0)) * CAST(ry AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS DOUBLE) AS syy
        |      FROM j GROUP BY 1)
        |SELECT event_type, n,
        |       CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
        |         round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6)
        |       END AS spearman_rho
        |FROM m ORDER BY event_type""".stripMargin,
    "q372_journey_trigrams" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |g AS (SELECT *, CASE WHEN t - lag(t) OVER w > 43200
        |                     OR lag(t) OVER w IS NULL THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                              ROWS UNBOUNDED PRECEDING) AS sid FROM g),
        |tri AS (SELECT event_type AS t1,
        |          lead(event_type, 1) OVER w2 AS t2,
        |          lead(event_type, 2) OVER w2 AS t3
        |        FROM s WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY t, event_id))
        |SELECT t1, t2, t3, count(*) AS n
        |FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,
    "q178_session_stats" ->
      """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |g AS (SELECT user_id, event_id, t,
        |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 43200
        |             OR lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
        |             THEN 1 ELSE 0 END AS ns
        |      FROM e),
        |s AS (SELECT user_id, t, event_id,
        |        sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM g),
        |sess AS (SELECT user_id, sid, count(*) AS n_events, max(t) - min(t) AS dwell_s
        |         FROM s GROUP BY 1, 2)
        |SELECT count(*) AS n_sessions,
        |       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
        |       round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS bounce_rate,
        |       round(quantile_cont(dwell_s, 0.5), 6) AS p50_dwell_s,
        |       round(quantile_cont(dwell_s, 0.9), 6) AS p90_dwell_s,
        |       round(CAST(sum(n_events) AS DOUBLE) / count(*), 6) AS avg_events_per_session
        |FROM sess""".stripMargin,
    "q180_retention_decay" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(floor(epoch(ts)/86400) AS BIGINT) AS day
        |           FROM events),
        |f AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY 1),
        |act AS (SELECT f.cohort, d.day - f.cohort AS x0, count(DISTINCT d.user_id) AS n_active
        |        FROM d JOIN f USING (user_id) GROUP BY 1, 2),
        |xy AS (SELECT cohort, CAST(x0 AS DOUBLE) AS x,
        |         round(ln(CAST(n_active AS DOUBLE)), 9) AS y FROM act),
        |s AS (SELECT cohort, count(*) AS n,
        |        CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |        CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |      FROM xy GROUP BY cohort)
        |SELECT cohort, n AS n_points,
        |       CASE WHEN n * sxx - sx * sx <> 0 THEN
        |         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS slope,
        |       CASE WHEN n * sxx - sx * sx <> 0 THEN
        |         round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) END AS intercept
        |FROM s ORDER BY cohort""".stripMargin,
    "q176_theil_sen" ->
      """WITH d AS (SELECT event_type, CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, min(day) AS d0 FROM d GROUP BY 1),
        |x AS (SELECT d.event_type, d.day - a.d0 AS x, d.n AS y FROM d JOIN a USING (event_type)),
        |p AS (SELECT l.event_type, (CAST(r.y AS DOUBLE) - l.y) / (r.x - l.x) AS slope
        |      FROM x l JOIN x r ON l.event_type = r.event_type AND l.x < r.x)
        |SELECT event_type, count(*) AS n_pairs,
        |       round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q173_psi_drift" ->
      """WITH ref AS (SELECT value FROM events WHERE event_id % 2 = 0),
        |cand AS (SELECT value FROM events WHERE event_id % 2 = 1),
        |e AS (SELECT quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS edges FROM ref),
        |rb AS (SELECT 1 + len(list_filter(e.edges, x -> value > x)) AS b FROM ref CROSS JOIN e),
        |cb AS (SELECT 1 + len(list_filter(e.edges, x -> value > x)) AS b FROM cand CROSS JOIN e),
        |rp AS (SELECT b, count(*) AS n_ref FROM rb GROUP BY 1),
        |cp AS (SELECT b, count(*) AS n_cand FROM cb GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM ref) AS nr, (SELECT count(*) FROM cand) AS nc)
        |SELECT CAST(b AS BIGINT) AS bucket, n_ref, n_cand,
        |       round(CAST(n_ref AS DOUBLE)/nr, 6) AS p_ref,
        |       round(CAST(n_cand AS DOUBLE)/nc, 6) AS p_cand,
        |       round((CAST(n_cand AS DOUBLE)/nc - CAST(n_ref AS DOUBLE)/nr)
        |             * ln((CAST(n_cand AS DOUBLE)/nc) / (CAST(n_ref AS DOUBLE)/nr)), 6) AS psi_term
        |FROM rp JOIN cp USING (b) CROSS JOIN tot ORDER BY bucket""".stripMargin,
    "q170_seasonal_anomaly" ->
      """WITH h AS (SELECT event_type, CAST(floor(epoch(ts)/3600) AS BIGINT) AS uh, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |k AS (SELECT event_type, uh, n, CAST(uh % 24 AS BIGINT) AS hod FROM h),
        |base AS (SELECT event_type, hod, count(*) AS n_cells,
        |           CAST(sum(n) AS DOUBLE) / count(*) AS mu,
        |           CASE WHEN count(*) > 1 THEN
        |             sqrt((CAST(sum(n*n) AS DOUBLE) - CAST(sum(n) AS DOUBLE)*sum(n)/count(*))
        |                  / (count(*) - 1)) END AS sd
        |         FROM k GROUP BY 1, 2)
        |SELECT k.event_type, k.uh, k.n, round(base.mu, 6) AS expected,
        |       round((k.n - base.mu) / base.sd, 6) AS z
        |FROM k JOIN base USING (event_type, hod)
        |WHERE base.sd IS NOT NULL AND base.sd > 0
        |  AND abs((k.n - base.mu) / base.sd) > 2.5
        |ORDER BY event_type, uh""".stripMargin,
    "q166_multitouch" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |pur AS (SELECT user_id, event_id AS pid, t AS pt FROM e
        |        WHERE event_type = 'purchase'),
        |touch AS (SELECT p.pid, e.event_type,
        |            count(*) OVER (PARTITION BY p.pid) AS n_touches
        |          FROM pur p JOIN e ON e.user_id = p.user_id
        |          WHERE e.t >= p.pt - 86400 AND e.t < p.pt),
        |cr AS (SELECT event_type,
        |         CAST(round(1.0 / n_touches, 12) AS DECIMAL(38,12)) AS credit
        |       FROM touch)
        |SELECT event_type, count(*) AS n_touches,
        |       round(CAST(sum(credit) AS DOUBLE), 6) AS credit
        |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin,
    "q165_markov_power" ->
      """WITH seq AS (SELECT user_id, event_type AS next_type,
        |               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |             FROM events),
        |tc AS (SELECT prev_type, next_type, count(*) AS n
        |       FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev_type, sum(n) AS tn FROM tc GROUP BY 1),
        |p AS (SELECT tc.prev_type AS f, tc.next_type AS t,
        |        CAST(tc.n AS DOUBLE) / CAST(tot.tn AS DOUBLE) AS p
        |      FROM tc JOIN tot ON tc.prev_type = tot.prev_type),
        |p2 AS (SELECT a.f, b.t,
        |         CAST(sum(CAST(round(a.p, 9) AS DECIMAL(10,9))
        |                  * CAST(round(b.p, 9) AS DECIMAL(10,9))) AS DOUBLE) AS p
        |       FROM p a JOIN p b ON a.t = b.f GROUP BY 1, 2),
        |p3 AS (SELECT a.f, b.t,
        |         CAST(sum(CAST(round(a.p, 9) AS DECIMAL(10,9))
        |                  * CAST(round(b.p, 9) AS DECIMAL(10,9))) AS DOUBLE) AS p
        |       FROM p2 a JOIN p b ON a.t = b.f GROUP BY 1, 2)
        |SELECT p.f AS from_type, p.t AS to_type,
        |       round(p.p, 6) AS p1, round(p2.p, 6) AS p2, round(p3.p, 6) AS p3
        |FROM p JOIN p2 ON p.f = p2.f AND p.t = p2.t
        |       JOIN p3 ON p.f = p3.f AND p.t = p3.t
        |ORDER BY from_type, to_type""".stripMargin,
    "q160_interval_merge" ->
      """WITH iv AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) - 300 AS s,
        |              CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e, event_id
        |            FROM events),
        |m AS (SELECT user_id, s, e, event_id,
        |        max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM iv),
        |fl AS (SELECT user_id, s, e, event_id,
        |         CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS new_island
        |       FROM m),
        |isl AS (SELECT user_id, s, e,
        |          sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS island
        |        FROM fl),
        |mg AS (SELECT user_id, island, min(s) AS istart, max(e) AS iend
        |       FROM isl GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_intervals,
        |       CAST(sum(iend - istart) AS BIGINT) AS coverage_s,
        |       CAST(max(iend - istart) AS BIGINT) AS longest_s
        |FROM mg GROUP BY 1 ORDER BY 1""".stripMargin,
    "q151_trend_slopes" ->
      """WITH anchor AS (SELECT min(CAST(floor(epoch(ts)) AS BIGINT)) AS tmin FROM events),
        |xy AS (SELECT event_type,
        |         round(CAST(CAST(floor(epoch(ts)) AS BIGINT) - tmin AS DOUBLE) / 86400.0, 6) AS x,
        |         value AS y
        |       FROM events CROSS JOIN anchor),
        |s AS (SELECT event_type, count(*) AS n,
        |        CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |        CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |      FROM xy GROUP BY event_type)
        |SELECT event_type, n,
        |       CASE WHEN n * sxx - sx * sx <> 0 THEN
        |         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS slope,
        |       CASE WHEN n * sxx - sx * sx <> 0 THEN
        |         round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) END AS intercept
        |FROM s ORDER BY event_type""".stripMargin,
    "q153_activity_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(floor(epoch(ts)/86400) AS BIGINT) AS day
        |           FROM events),
        |r AS (SELECT user_id, day,
        |        day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |      FROM d),
        |s AS (SELECT user_id, grp, count(*) AS streak_len FROM r GROUP BY 1, 2)
        |SELECT user_id,
        |       max(streak_len) AS longest_streak,
        |       count(*) AS n_streaks,
        |       CAST(sum(streak_len) AS BIGINT) AS active_days
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q94_value_percentiles" ->
      """SELECT event_type, count(*) AS n_events,
        |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6) AS p50,
        |       round(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 6) AS p95,
        |       round(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 6) AS p99
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q105_value_outliers" ->
      """WITH f AS (SELECT event_type, count(*) AS n_events,
        |         round(percentile_cont(0.25) WITHIN GROUP (ORDER BY value), 6) AS q1,
        |         round(percentile_cont(0.75) WITHIN GROUP (ORDER BY value), 6) AS q3
        |       FROM events GROUP BY 1),
        |g AS (SELECT event_type, n_events, q1, q3,
        |             round(q1 - 1.5 * (q3 - q1), 6) AS lo,
        |             round(q3 + 1.5 * (q3 - q1), 6) AS hi FROM f)
        |SELECT e.event_type, max(g.n_events) AS n_events,
        |       max(g.q1) AS q1, max(g.q3) AS q3,
        |       CAST(sum(CASE WHEN e.value < g.lo OR e.value > g.hi THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers
        |FROM events e JOIN g ON e.event_type = g.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q106_session_paths" ->
      """WITH r AS (SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |       FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 5 GROUP BY 1)
        |SELECT path, count(*) AS n_users FROM p
        |GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20""".stripMargin,
    "q95_event_transitions" ->
      """WITH t AS (SELECT user_id, event_type AS next_type,
        |                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |           FROM events)
        |SELECT prev_type, next_type, count(*) AS n_transitions
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q113_cohort_retention" ->
      """WITH f AS (SELECT user_id, CAST(min(floor(epoch(ts)/86400)) AS BIGINT) AS cohort_day
        |           FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, f.cohort_day,
        |        CAST(floor(epoch(e.ts)/86400) AS BIGINT) - f.cohort_day AS day_offset
        |      FROM events e JOIN f USING (user_id))
        |SELECT cohort_day, day_offset, count(*) AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q132_mad" ->
      """WITH m AS (SELECT event_type,
        |             round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6) AS med
        |           FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, m.med, round(abs(e.value - m.med), 6) AS dev
        |      FROM events e JOIN m USING (event_type))
        |SELECT event_type, count(*) AS n_events, any_value(med) AS median,
        |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY dev), 6) AS mad,
        |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY dev) * 1.4826, 6) AS robust_sigma
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q131_bootstrap_ci" ->
      """WITH x AS (SELECT event_id, value, unnest(range(32)) AS b FROM events),
        |u AS (SELECT b, value,
        |        CAST(CAST(concat('0x', substring(md5(concat(CAST(event_id AS VARCHAR), ':', CAST(b AS VARCHAR))), 1, 8)) AS BIGINT)
        |             AS DOUBLE) / 4294967296.0 AS uu
        |      FROM x),
        |w AS (SELECT b, value,
        |        CASE WHEN uu < 0.36787944117144233 THEN 0
        |             WHEN uu < 0.7357588823428847 THEN 1
        |             WHEN uu < 0.9196986029286058 THEN 2
        |             WHEN uu < 0.9810118431238462 THEN 3
        |             WHEN uu < 0.9963401531726563 THEN 4
        |             ELSE 5 END AS w
        |      FROM u),
        |reps AS (SELECT b,
        |           round(CAST(sum(CAST(round(w * value, 6) AS DECIMAL(28,6))) AS DOUBLE) / sum(w), 6) AS m
        |         FROM w GROUP BY b)
        |SELECT count(*) AS n_replicates,
        |       round(percentile_cont(0.05) WITHIN GROUP (ORDER BY m), 6) AS ci_lo,
        |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY m), 6) AS ci_mid,
        |       round(percentile_cont(0.95) WITHIN GROUP (ORDER BY m), 6) AS ci_hi
        |FROM reps""".stripMargin,
    "q123_weekday_profile" ->
      """SELECT (CAST(floor(epoch(ts)/86400) AS BIGINT) + 4) % 7 AS dow,
        |       CAST(floor(epoch(ts)/3600) AS BIGINT) % 24 AS hour,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q122_winsorized_mean" ->
      """WITH f AS (SELECT event_type,
        |             round(percentile_cont(0.05) WITHIN GROUP (ORDER BY value), 6) AS lo,
        |             round(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 6) AS hi
        |           FROM events GROUP BY 1),
        |c AS (SELECT e.event_type, e.value,
        |             round(least(greatest(e.value, f.lo), f.hi), 6) AS w
        |      FROM events e JOIN f USING (event_type))
        |SELECT event_type, count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS raw_mean,
        |       round(CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS winsorized_mean
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q119_rolling_active" ->
      """WITH du AS (SELECT DISTINCT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, user_id
        |            FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |x AS (SELECT du.user_id, du.day + o.o AS anchor
        |      FROM du CROSS JOIN (SELECT unnest(range(7)) AS o) o)
        |SELECT anchor AS day, count(DISTINCT user_id) AS active_7d
        |FROM x WHERE anchor IN (SELECT day FROM days)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q148_user_entropy" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS c
        |           FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_types,
        |        CAST(sum(CAST(round(c * log2(CAST(c AS DOUBLE)), 9) AS DECIMAL(28,9))) AS DOUBLE) AS clc
        |      FROM c GROUP BY user_id)
        |SELECT user_id, n AS n_events, n_types,
        |       round(log2(CAST(n AS DOUBLE)) - clc / n, 6) AS entropy
        |FROM u ORDER BY entropy DESC, user_id LIMIT 20""".stripMargin,
    "q147_top_decile" ->
      """WITH f AS (SELECT event_type,
        |             round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 6) AS p90
        |           FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n_events,
        |       CAST(sum(CASE WHEN e.value >= f.p90 THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
        |       round(CAST(sum(CASE WHEN e.value >= f.p90 THEN CAST(round(e.value, 6) AS DECIMAL(28,6))
        |                           ELSE CAST(0.0 AS DECIMAL(28,6)) END) AS DOUBLE) /
        |             CAST(sum(CAST(round(e.value, 6) AS DECIMAL(28,6))) AS DOUBLE), 6) AS top_decile_share
        |FROM events e JOIN f USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q142_chi_square" ->
      """WITH b AS (SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 10 AS k_mod,
        |                  count(*) AS obs
        |           FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(obs) AS BIGINT) AS total, count(*) AS nb FROM b),
        |terms AS (SELECT round(pow(obs - CAST(total AS DOUBLE) / nb, 2) /
        |                       (CAST(total AS DOUBLE) / nb), 6) AS term, nb
        |          FROM b CROSS JOIN t)
        |SELECT max(nb) AS n_buckets,
        |       round(CAST(sum(CAST(term AS DECIMAL(28,6))) AS DOUBLE), 6) AS chi2,
        |       max(nb) - 1 AS dof
        |FROM terms""".stripMargin,
    "q139_range_frame" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS t, value
        |           FROM events)
        |SELECT user_id, event_id, t,
        |       round(CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6)))
        |               OVER (PARTITION BY user_id ORDER BY t
        |                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS roll_1h
        |FROM e ORDER BY user_id, t, event_id LIMIT 200""".stripMargin,
    "q293_weekend_welch" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
        |                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |               FROM events GROUP BY 1),
        |g AS (SELECT rev, CASE WHEN ((day + 4) % 7) IN (0, 6)
        |                       THEN 'weekend' ELSE 'weekday' END AS grp
        |      FROM daily),
        |m AS (SELECT grp, count(*) AS n,
        |        round(CAST(sum(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS mean,
        |        round(CAST(sum(CAST(rev AS DECIMAL(18,2)) * CAST(rev AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS s2
        |      FROM g GROUP BY 1),
        |v AS (SELECT grp, n, mean,
        |        round((s2 - mean * mean) * (CAST(n AS DOUBLE) / (n - 1)), 6) AS variance
        |      FROM m),
        |a AS (SELECT n AS n1, mean AS m1, variance AS v1 FROM v WHERE grp = 'weekend'),
        |b AS (SELECT n AS n2, mean AS m2, variance AS v2 FROM v WHERE grp = 'weekday')
        |SELECT n1, n2, m1, m2, v1, v2,
        |       round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
        |       round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
        |             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
        |                + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6) AS df_welch
        |FROM a CROSS JOIN b""".stripMargin,
    "q296_kendall_tau" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
        |                 count(*) AS c,
        |                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |               FROM events GROUP BY 1),
        |p AS (SELECT a.c AS c1, a.rev AS r1, b.c AS c2, b.rev AS r2
        |      FROM daily a JOIN daily b ON a.day < b.day),
        |agg AS (SELECT count(*) AS n0,
        |          CAST(sum(CASE WHEN (c1 < c2 AND r1 < r2) OR (c1 > c2 AND r1 > r2)
        |                        THEN 1 ELSE 0 END) AS BIGINT) AS conc,
        |          CAST(sum(CASE WHEN (c1 < c2 AND r1 > r2) OR (c1 > c2 AND r1 < r2)
        |                        THEN 1 ELSE 0 END) AS BIGINT) AS disc,
        |          CAST(sum(CASE WHEN c1 = c2 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        |          CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT) AS ty
        |        FROM p)
        |SELECT n0, conc, disc, tx, ty,
        |       round(CAST(conc - disc AS DOUBLE)
        |             / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)), 6) AS tau_b
        |FROM agg""".stripMargin,
    "q290_watermark_lateness" ->
      """WITH e AS (SELECT event_id // 1000 AS b,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |bm AS (SELECT b, max(t) AS bmax FROM e GROUP BY 1),
        |wm AS (SELECT b, max(bmax) OVER (ORDER BY b
        |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
        |       FROM bm),
        |delays AS (SELECT * FROM (VALUES ('d1_60s', CAST(60 AS BIGINT)),
        |                                 ('d2_600s', CAST(600 AS BIGINT)),
        |                                 ('d3_3600s', CAST(3600 AS BIGINT))) d(delay_label, delay_s)),
        |tot AS (SELECT count(*) AS n_events FROM e),
        |late AS (SELECT delay_label, delay_s, count(*) AS n_late
        |         FROM e JOIN wm USING (b) CROSS JOIN delays
        |         WHERE prior_max IS NOT NULL AND t < prior_max - delay_s
        |         GROUP BY 1, 2)
        |SELECT d.delay_label, d.delay_s,
        |       coalesce(late.n_late, 0) AS n_late, tot.n_events,
        |       round(CAST(coalesce(late.n_late, 0) AS DOUBLE) / tot.n_events, 6) AS late_rate
        |FROM delays d LEFT JOIN late USING (delay_label, delay_s) CROSS JOIN tot
        |ORDER BY d.delay_s""".stripMargin,
    "q291_session_gap_curve" ->
      """WITH g AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |             CAST(floor(epoch(ts)) AS BIGINT)
        |               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
        |                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |           FROM events),
        |u AS (SELECT count(DISTINCT user_id) AS n_users, count(*) AS n_events FROM g),
        |cuts AS (SELECT CAST(unnest([600, 1800, 3600]) AS BIGINT) AS gap_s),
        |br AS (SELECT gap_s,
        |         CAST(sum(CASE WHEN gap > gap_s THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks
        |       FROM g CROSS JOIN cuts GROUP BY 1)
        |SELECT gap_s, n_users + n_breaks AS n_sessions,
        |       round(CAST(n_events AS DOUBLE) / (n_users + n_breaks), 6) AS mean_events_per_session
        |FROM br CROSS JOIN u ORDER BY gap_s""".stripMargin,
    "q281_sprt_monitor" ->
      """WITH u AS (SELECT user_id,
        |             CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 4)) AS BIGINT) % 2 AS arm,
        |             CAST(min(floor(epoch(ts)/86400)) AS BIGINT) AS day_in,
        |             CAST(min(CASE WHEN event_type = 'purchase' AND value >= 150
        |                           THEN floor(epoch(ts)/86400) END) AS BIGINT) AS day_conv
        |           FROM events GROUP BY user_id),
        |days AS (SELECT DISTINCT day_in AS day FROM u),
        |grid AS (SELECT day, arm FROM days CROSS JOIN (SELECT unnest([0, 1]) AS arm)),
        |ins AS (SELECT arm, day_in AS day, count(*) AS ni FROM u GROUP BY 1, 2),
        |cv AS (SELECT arm, day_conv AS day, count(*) AS ci FROM u
        |       WHERE day_conv IS NOT NULL GROUP BY 1, 2),
        |cum AS (SELECT g.arm, g.day,
        |          sum(coalesce(ins.ni, 0)) OVER (PARTITION BY g.arm ORDER BY g.day
        |                                         ROWS UNBOUNDED PRECEDING) AS n,
        |          sum(coalesce(cv.ci, 0)) OVER (PARTITION BY g.arm ORDER BY g.day
        |                                        ROWS UNBOUNDED PRECEDING) AS c
        |        FROM grid g
        |        LEFT JOIN ins ON ins.arm = g.arm AND ins.day = g.day
        |        LEFT JOIN cv ON cv.arm = g.arm AND cv.day = g.day),
        |j AS (SELECT a.day, a.n AS na, b.n AS nb, a.c AS ca, b.c AS cb,
        |        CAST(a.c + b.c AS DOUBLE) / (a.n + b.n) AS p
        |      FROM (SELECT * FROM cum WHERE arm = 0) a
        |      JOIN (SELECT * FROM cum WHERE arm = 1) b ON b.day = a.day)
        |SELECT CAST(day AS BIGINT) AS day, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |       CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
        |       CASE WHEN na > 0 AND nb > 0 AND p > 0 AND p < 1
        |            THEN round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
        |                       / sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb)), 6)
        |       END AS z_stat,
        |       CAST(CASE WHEN abs(coalesce(
        |              CASE WHEN na > 0 AND nb > 0 AND p > 0 AND p < 1
        |                   THEN round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
        |                              / sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb)), 6)
        |              END, 0.0)) >= 3.29 THEN 1 ELSE 0 END AS BIGINT) AS crossed
        |FROM j ORDER BY day""".stripMargin,
    "q275_daily_acf" ->
      """WITH d AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day
        |           FROM events),
        |c AS (SELECT day, count(*) AS c FROM d GROUP BY day),
        |lg AS (SELECT CAST(unnest([1,2,3,4,5,6,7]) AS BIGINT) AS lag),
        |p AS (SELECT lg.lag, a.c AS x, b.c AS y
        |      FROM c a CROSS JOIN lg JOIN c b ON b.day = a.day + lg.lag),
        |st AS (SELECT lag, count(*) AS n,
        |         CAST(sum(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS syy,
        |         CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS sxy
        |       FROM p GROUP BY lag)
        |SELECT lag, n AS n_pairs,
        |       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
        |            THEN round((n * sxy - sx * sy)
        |                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |       END AS acf
        |FROM st ORDER BY lag""".stripMargin,
    "q276_cusum_changepoint" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
        |                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |               FROM events GROUP BY 1),
        |m AS (SELECT round(CAST(sum(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS mu
        |      FROM daily),
        |dev AS (SELECT day, rev,
        |          CAST(rev AS DECIMAL(38,6)) - CAST(mu AS DECIMAL(38,6)) AS dv
        |        FROM daily CROSS JOIN m),
        |cs AS (SELECT day, rev,
        |         CAST(sum(dv) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS s
        |       FROM dev)
        |SELECT day, rev, round(s, 6) AS s_cusum
        |FROM cs ORDER BY abs(round(s, 6)) DESC, day LIMIT 10""".stripMargin,
    "q140_wow_growth" ->
      """WITH w AS (SELECT CAST(floor(epoch(ts)/604800) AS BIGINT) AS week
        |           FROM events),
        |c AS (SELECT week, count(*) AS n_events FROM w GROUP BY week)
        |SELECT week, n_events,
        |       lag(n_events) OVER (ORDER BY week) AS prev_events,
        |       CASE WHEN lag(n_events) OVER (ORDER BY week) IS NOT NULL
        |            THEN round(CAST(n_events AS DOUBLE) / lag(n_events) OVER (ORDER BY week), 6)
        |       END AS wow_ratio
        |FROM c ORDER BY week""".stripMargin,
    "q138_scd2_intervals" ->
      """WITH m AS (SELECT user_id, event_type AS state,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
        |             CASE WHEN lag(event_type) OVER w IS NULL
        |                    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |           FROM events
        |           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS run
        |      FROM m),
        |runs AS (SELECT user_id, run, min(t) AS valid_from, any_value(state) AS state
        |         FROM r GROUP BY 1, 2)
        |SELECT user_id, state, valid_from,
        |       COALESCE(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run),
        |                9223372036854775807) AS valid_to,
        |       CASE WHEN lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) IS NULL
        |            THEN 1 ELSE 0 END AS is_current
        |FROM runs ORDER BY user_id, valid_from""".stripMargin,
    "q135_user_growth" ->
      """WITH f AS (SELECT user_id, CAST(min(floor(epoch(ts)/86400)) AS BIGINT) AS day
        |           FROM events GROUP BY 1),
        |d AS (SELECT day, count(*) AS new_users FROM f GROUP BY day)
        |SELECT day, new_users,
        |       CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |            AS BIGINT) AS total_users
        |FROM d ORDER BY day""".stripMargin,
    "q117_gap_percentiles" ->
      """WITH g AS (SELECT event_type,
        |             CAST(floor(epoch(ts)) AS BIGINT) -
        |             lag(CAST(floor(epoch(ts)) AS BIGINT))
        |               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |           FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap), 6) AS p50,
        |       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap), 6) AS p90
        |FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "q110_time_decay" ->
      """WITH anchor AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS tmax FROM events),
        |w AS (SELECT event_type,
        |             round(value * pow(0.5,
        |               CAST(tmax - CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) / 604800.0), 6) AS w
        |      FROM events CROSS JOIN anchor)
        |SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS decayed_value
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q90_event_anomaly" ->
      """WITH b AS (SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS unix_hour,
        |                  count(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS nb, sum(n_events) AS s1,
        |              sum(CAST(n_events AS HUGEINT) * n_events) AS s2
        |       FROM b GROUP BY 1),
        |z AS (SELECT b.event_type, b.unix_hour, b.n_events,
        |             round((b.n_events - CAST(s1 AS DOUBLE)/nb) /
        |                   sqrt(CAST(s2 AS DOUBLE)/nb - (CAST(s1 AS DOUBLE)/nb)*(CAST(s1 AS DOUBLE)/nb)), 6) AS zscore
        |      FROM b JOIN st USING (event_type)
        |      WHERE CAST(s2 AS DOUBLE)/nb - (CAST(s1 AS DOUBLE)/nb)*(CAST(s1 AS DOUBLE)/nb) > 0)
        |SELECT event_type, unix_hour, n_events, zscore FROM z
        |WHERE abs(zscore) >= 1.5
        |ORDER BY event_type, unix_hour""".stripMargin,
    "q24_tumbling_window" ->
      """SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS unix_hour,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_sliding_window" ->
      """SELECT w_start, count(*) AS n_events FROM (
        |  SELECT unnest([
        |    CAST(floor(epoch(ts)/1800)*1800 AS BIGINT) - 1800,
        |    CAST(floor(epoch(ts)/1800)*1800 AS BIGINT)]) AS w_start
        |  FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q26_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |         CASE WHEN prev IS NULL OR ts > prev + INTERVAL 600 SECOND THEN 1 ELSE 0 END AS new_s
        |  FROM o),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start, count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin,
    "q27_event_type_hourly" ->
      """SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS unix_hour,
        |       count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q45_props_extract" ->
      """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) % 10 AS k_mod,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q51_pivot" ->
      """SELECT CAST(day(ts) AS INTEGER) AS day,
        |       count(*) FILTER (WHERE event_type = 'click') AS click,
        |       count(*) FILTER (WHERE event_type = 'error') AS error,
        |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |       count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q133_funnel_deadline" ->
      """WITH e AS (SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |v AS (SELECT user_id, min(t) AS vt FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.t) AS ct
        |      FROM e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.t > v.vt AND e.t <= v.vt + 3600
        |      GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.t) AS pt
        |      FROM e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.t > c.ct AND e.t <= c.ct + 3600
        |      GROUP BY 1)
        |SELECT (SELECT count(*) FROM v) AS n_viewed,
        |       (SELECT count(*) FROM c) AS n_clicked_1h,
        |       (SELECT count(*) FROM p) AS n_purchased_1h,
        |       CASE WHEN (SELECT count(*) FROM v) > 0 THEN
        |         round(CAST((SELECT count(*) FROM c) AS DOUBLE) / (SELECT count(*) FROM v), 6)
        |       END AS click_rate,
        |       CASE WHEN (SELECT count(*) FROM c) > 0 THEN
        |         round(CAST((SELECT count(*) FROM p) AS DOUBLE) / (SELECT count(*) FROM c), 6)
        |       END AS purchase_rate""".stripMargin,
    "q55_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS vt,
        |         min(CASE WHEN event_type = 'click' THEN ts END) AS ct,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS pt
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |       CAST(floor(epoch(vt)) AS BIGINT) AS first_view,
        |       CAST(floor(epoch(pt)) AS BIGINT) AS first_purchase
        |FROM f
        |WHERE vt IS NOT NULL AND ct IS NOT NULL AND pt IS NOT NULL
        |  AND vt < ct AND ct < pt
        |ORDER BY user_id""".stripMargin,
    "q56_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT a.day AS day, count(*) AS n_retained
        |FROM act a JOIN act b ON a.user_id = b.user_id AND b.day = a.day + 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q52_from_json" ->
      """SELECT event_type, count(*) AS n_events,
        |       min(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS min_k,
        |       max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS max_k,
        |       CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q351_ljung_box" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, count(*) AS c
        |               FROM events GROUP BY 1),
        |ns AS (SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS s FROM daily),
        |dev AS (SELECT day, n,
        |          CAST(CAST(c AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0))
        |               - CAST(s AS DECIMAL(18,0)) AS DECIMAL(19,0)) AS d
        |        FROM daily CROSS JOIN ns),
        |den AS (SELECT sum(d * d) AS den, max(n) AS n FROM dev),
        |a AS (SELECT day, d, lag FROM dev
        |      CROSS JOIN (SELECT unnest(range(1, 8)) AS lag)),
        |num AS (SELECT a.lag AS lag, count(*) AS n_pairs, sum(a.d * b.d) AS num
        |        FROM a JOIN dev b ON b.day = a.day + a.lag GROUP BY 1),
        |r AS (SELECT lag, n_pairs,
        |        CASE WHEN den > 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS rk,
        |        n
        |      FROM num CROSS JOIN den),
        |t AS (SELECT lag, n_pairs, round(rk, 6) AS acf,
        |        CAST(round(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * rk * rk
        |             / CAST(n - lag AS DOUBLE), 12) AS DECIMAL(38,12)) AS term
        |      FROM r)
        |SELECT lag, n_pairs, acf,
        |       round(CAST(sum(term) OVER (ORDER BY lag
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
        |         AS lb_q
        |FROM t ORDER BY lag""".stripMargin,
    "q352_hurst_rs" -> {
      s"""WITH daily AS (SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, count(*) AS c
        |               FROM events GROUP BY 1),
        |lo AS (SELECT min(day) AS lo FROM daily),
        |idx AS (SELECT m, (day - lo) // m AS blk, (day - lo) % m AS j, c
        |        FROM daily CROSS JOIN lo
        |        CROSS JOIN (SELECT CAST(unnest([5,10,15]) AS BIGINT) AS m)),
        |z AS (SELECT m, blk, j, c,
        |        CAST(sum(c) OVER (PARTITION BY m, blk ORDER BY j
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(sum(c) OVER (PARTITION BY m, blk) AS BIGINT) AS tot,
        |        count(*) OVER (PARTITION BY m, blk) AS cnt
        |      FROM idx),
        |zz AS (SELECT m, blk, cum * m - (j + 1) * tot AS zp, c * m - tot AS dv
        |       FROM z WHERE cnt = m),
        |blocks AS (SELECT m, blk, max(zp) - min(zp) AS rng,
        |             sum(CAST(dv AS DECIMAL(19,0)) * CAST(dv AS DECIMAL(19,0))) AS ssqp
        |           FROM zz GROUP BY 1, 2),
        |lrs AS (SELECT m,
        |          CAST(round(ln(CAST(rng AS DOUBLE) * sqrt(CAST(m AS DOUBLE))
        |               / sqrt(CAST(ssqp AS DOUBLE))), 12) AS DECIMAL(38,12)) AS lrs
        |        FROM blocks WHERE ssqp > 0 AND rng > 0),
        |ag AS (SELECT m, count(*) AS k, sum(lrs) AS s12 FROM lrs GROUP BY 1),
        |y AS (SELECT m, k, CAST(s12 AS DOUBLE) / k AS y FROM ag),
        |piv AS (SELECT
        |          max(CASE WHEN m = 5 THEN k END) AS n_blocks_5,
        |          max(CASE WHEN m = 10 THEN k END) AS n_blocks_10,
        |          max(CASE WHEN m = 15 THEN k END) AS n_blocks_15,
        |          max(CASE WHEN m = 5 THEN y END) AS mean_log_rs_5,
        |          max(CASE WHEN m = 10 THEN y END) AS mean_log_rs_10,
        |          max(CASE WHEN m = 15 THEN y END) AS mean_log_rs_15
        |        FROM y)
        |SELECT n_blocks_5, n_blocks_10, n_blocks_15,
        |       mean_log_rs_5, mean_log_rs_10, mean_log_rs_15,
        |       $HurstSlopeSql AS hurst_h
        |FROM piv""".stripMargin
    },
    "q354_jarque_bera" ->
      """WITH dd AS (SELECT event_type AS g,
        |              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |            FROM events),
        |m0 AS (SELECT g, count(*) AS n, CAST(sum(v) AS BIGINT) AS sv,
        |         (2 * CAST(sum(v) AS BIGINT) + count(*)) // (2 * count(*)) AS mu0
        |       FROM dd GROUP BY 1),
        |e AS (SELECT dd.g AS g, n, sv, mu0, v - mu0 AS e FROM dd JOIN m0 USING (g)),
        |a AS (SELECT g, max(n) AS n, max(sv) AS sv, max(mu0) AS mu0,
        |        CAST(sum(CAST(e AS HUGEINT) * e) AS HUGEINT) AS a2,
        |        CAST(sum(CAST(e AS HUGEINT) * e * e) AS HUGEINT) AS a3,
        |        CAST(sum((CAST(e AS HUGEINT) * e) * (CAST(e AS HUGEINT) * e)) AS HUGEINT) AS a4
        |      FROM e GROUP BY 1),
        |r AS (SELECT g, n,
        |        CAST(sv - n * mu0 AS DOUBLE) / CAST(n AS DOUBLE) AS d,
        |        CAST(a2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        |        CAST(a3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        |        CAST(a4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
        |      FROM a),
        |m AS (SELECT g, n, r2 - d * d AS m2,
        |        r3 - 3.0 * d * r2 + 2.0 * d * d * d AS m3,
        |        r4 - 4.0 * d * r3 + 6.0 * d * d * r2 - 3.0 * d * d * d * d AS m4
        |      FROM r),
        |sk AS (SELECT g AS event_type, n AS n_events,
        |         m3 / (sqrt(m2) * m2) AS sk, m4 / (m2 * m2) - 3.0 AS kx
        |       FROM m WHERE m2 > 0)
        |SELECT event_type, n_events, round(sk, 6) AS skewness,
        |       round(kx, 6) AS kurtosis_excess,
        |       round(CAST(n_events AS DOUBLE) / 6.0 * (sk * sk + kx * kx / 4.0), 6) AS jb_stat
        |FROM sk ORDER BY event_type""".stripMargin,
    "q355_nelson_aalen" ->
      """WITH base AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id
        |              FROM events),
        |mx AS (SELECT max(t) AS tend FROM base),
        |g AS (SELECT user_id, t,
        |        lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nt
        |      FROM base),
        |grid AS (SELECT CASE WHEN nt IS NOT NULL THEN (nt - t) // 3600
        |                     ELSE (tend - t) // 3600 END AS h,
        |           CAST(sum(CASE WHEN nt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |           count(*) AS c
        |         FROM g CROSS JOIN mx GROUP BY 1),
        |risk AS (SELECT a.h AS hh,
        |           CAST(sum(b.c) AS BIGINT) AS n_at_risk,
        |           CAST(sum(CASE WHEN b.h = a.h THEN b.d ELSE 0 END) AS BIGINT) AS d
        |         FROM (SELECT h FROM grid) a JOIN grid b ON b.h >= a.h
        |         GROUP BY 1),
        |t AS (SELECT hh, n_at_risk, d,
        |        CAST(round(CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE), 12)
        |          AS DECIMAL(38,12)) AS t1,
        |        CAST(round(CAST(d AS DOUBLE) / (CAST(n_at_risk AS DOUBLE)
        |          * CAST(n_at_risk AS DOUBLE)), 12) AS DECIMAL(38,12)) AS t2
        |      FROM risk WHERE d > 0),
        |c AS (SELECT hh, n_at_risk, d,
        |        sum(t1) OVER (ORDER BY hh ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch,
        |        sum(t2) OVER (ORDER BY hh ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vh
        |      FROM t)
        |SELECT hh AS gap_hours, n_at_risk, d AS n_events,
        |       round(CAST(ch AS DOUBLE), 6) AS na_cumhaz,
        |       round(sqrt(CAST(vh AS DOUBLE)), 6) AS na_se
        |FROM c ORDER BY gap_hours""".stripMargin,
    "q358_ewma_chart" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |                 count(*) AS x
        |               FROM events GROUP BY 1),
        |idx AS (SELECT day, x,
        |          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        |        FROM daily),
        |mom AS (SELECT count(*) AS nd, CAST(sum(x) AS BIGINT) AS sx,
        |          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |        FROM daily),
        |mom2 AS (SELECT nd,
        |           cast(sx as double) / cast(nd as double) AS mu,
        |           sqrt(cast(cast(nd as HUGEINT) * sxx
        |             - cast(sx as HUGEINT) * sx as double)) / cast(nd as double) AS sigma
        |         FROM mom),
        |terms AS (SELECT a.t, a.day, a.x,
        |            cast(round(0.2 * pow(0.8, cast(a.t - b.t as double))
        |              * cast(b.x as double), 12) as decimal(38,12)) AS w
        |          FROM idx a JOIN idx b ON b.t <= a.t),
        |z AS (SELECT t, day, x, sum(w) AS zsum FROM terms GROUP BY 1, 2, 3),
        |fin AS (SELECT day, x, t,
        |          cast(zsum as double) + round(pow(0.8, cast(t as double)) * mu, 12) AS ewma,
        |          round(mu + 3.0 * sigma * sqrt(cast(0.2 as double) / cast(1.8 as double)
        |            * (1.0 - pow(0.8, cast(2 * t as double)))), 9) AS ucl,
        |          round(mu - 3.0 * sigma * sqrt(cast(0.2 as double) / cast(1.8 as double)
        |            * (1.0 - pow(0.8, cast(2 * t as double)))), 9) AS lcl
        |        FROM z CROSS JOIN mom2)
        |SELECT day, x AS n_events, ewma, ucl, lcl,
        |       CAST(CASE WHEN ewma < lcl OR ewma > ucl THEN 1 ELSE 0 END AS BIGINT)
        |         AS ooc_flag
        |FROM fin ORDER BY day""".stripMargin,
    "q360_isotonic_fit" ->
      """WITH daily AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |                 CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS HUGEINT) AS yc
        |               FROM events GROUP BY 1),
        |idx AS (SELECT day, yc,
        |          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        |        FROM daily),
        |pre AS (SELECT day, yc, t,
        |          sum(yc) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS p
        |        FROM idx),
        |pair AS (SELECT b.t AS j, a.t AS k, a.day, a.yc,
        |           cast(a.p - (b.p - b.yc) as double)
        |             / cast(a.t - b.t + 1 as double) AS avg_jk
        |         FROM pre a JOIN pre b ON b.t <= a.t),
        |suf AS (SELECT j, k, day, yc,
        |          min(avg_jk) OVER (PARTITION BY j ORDER BY k DESC
        |            ROWS UNBOUNDED PRECEDING) AS mji
        |        FROM pair)
        |SELECT day, cast(yc as double) / 100.0 AS revenue,
        |       max(mji) / 100.0 AS iso_fit
        |FROM suf GROUP BY k, day, yc ORDER BY day""".stripMargin,
    "q361_granger" ->
      s"""WITH daily AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |                 count(*) AS cnt,
        |                 CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS rev
        |               FROM events GROUP BY 1),
        |lagged AS (SELECT c.day, c.cnt, c.rev, p.cnt AS pcnt, p.rev AS prev_rev
        |           FROM daily c JOIN daily p ON p.day = c.day - 1),
        |pairs AS (SELECT 'rev_to_cnt' AS direction, cnt AS w, pcnt AS u, prev_rev AS v
        |          FROM lagged
        |          UNION ALL
        |          SELECT 'cnt_to_rev', rev, prev_rev, pcnt FROM lagged),
        |mom AS (SELECT direction, count(*) AS n,
        |          sum(CAST(w AS HUGEINT)) AS sw, sum(CAST(u AS HUGEINT)) AS su,
        |          sum(CAST(v AS HUGEINT)) AS sv,
        |          sum(CAST(w AS HUGEINT) * u) AS swu, sum(CAST(w AS HUGEINT) * v) AS swv,
        |          sum(CAST(u AS HUGEINT) * v) AS suv, sum(CAST(w AS HUGEINT) * w) AS sww,
        |          sum(CAST(u AS HUGEINT) * u) AS suu, sum(CAST(v AS HUGEINT) * v) AS svv
        |        FROM pairs GROUP BY 1),
        |d AS (SELECT direction, n,
        |        cast(CAST(n AS HUGEINT) * suu - su * su as double) AS duu,
        |        cast(CAST(n AS HUGEINT) * svv - sv * sv as double) AS dvv,
        |        cast(CAST(n AS HUGEINT) * suv - su * sv as double) AS duv,
        |        cast(CAST(n AS HUGEINT) * swu - sw * su as double) AS duw,
        |        cast(CAST(n AS HUGEINT) * swv - sw * sv as double) AS dvw,
        |        cast(CAST(n AS HUGEINT) * sww - sw * sw as double) AS dww
        |      FROM mom)
        |SELECT direction, n,
        |       $GrangerBetaArSql AS beta_ar,
        |       $GrangerBetaCrossSql AS beta_cross,
        |       $GrangerFStatSql AS f_stat,
        |       CAST(CASE WHEN $GrangerFStatSql > 3.87 THEN 1 ELSE 0 END AS BIGINT)
        |         AS granger_flag
        |FROM d ORDER BY direction""".stripMargin
  )
}
