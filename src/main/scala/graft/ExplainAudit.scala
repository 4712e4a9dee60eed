package graft
import org.apache.spark.sql.SparkSession
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    for (q <- Seq("q109_kmeans_refine", "q110_time_decay", "q111_stratum_topn",
        "q112_equidepth_hist", "q113_cohort_retention", "q114_triangle_census",
        "q115_zipf_slope", "q116_phrase_search", "q117_gap_percentiles",
        "q118_weighted_sample", "q119_rolling_active", "q120_column_profile",
        "q121_ivm_merge", "q122_winsorized_mean", "q123_weekday_profile",
        "q125_cross_source_dups", "q126_heaps_fit", "q127_cheapest_supplier",
        "q128_heavy_hitters", "q129_lead_time", "q130_pareto_share",
        "q131_bootstrap_ci", "q132_mad", "q133_funnel_deadline",
        "q134_embedding_drift", "q135_user_growth")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.count()
      val p = df.queryExecution.executedPlan.toString
      val cart = p.linesIterator.count(l => l.contains("CartesianProduct"))
      val bnlj = p.linesIterator.count(l => l.contains("BroadcastNestedLoopJoin"))
      val exch = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
      val scans = p.linesIterator.count(l => l.contains("FileScan"))
      val pushed = p.linesIterator.count(l => l.contains("PushedFilters: ["))
      println(f"[audit] $q%-24s exchanges=$exch%2d scans=$scans%2d cartesian=$cart bnlj=$bnlj")
    }
    // Full-surface single-partition sweep: an unpartitioned window plans
    // `Exchange SinglePartition` under its Sort — a single-node sort of
    // whatever frame feeds it. Fine when the frame is a bounded rollup
    // (days / nations / top-k rows); a scale hazard when it is corpus-
    // sized. Planning only — no execution — so sweeping all queries is
    // cheap. AuditSpec pins the flagged set to the documented allowlist,
    // so any NEW unpartitioned window fails the build until classified.
    println("[audit] --- unpartitioned-window sweep (Sort over Exchange SinglePartition) ---")
    for ((q, hits) <- singlePartitionWindows(spark, dir)) {
      val label = SinglePartitionAllowlist.getOrElse(q, "UNEXPECTED — classify or repartition")
      println(f"[audit] $q%-24s singlePartitionSorts=$hits%2d  $label")
    }
    spark.stop()
  }

  /** Queries whose physical plan contains >=1 `Exchange SinglePartition`
    * feeding a Sort (the unpartitioned-window shape), with the hit count.
    * Detection is on the initial plan text: the Sort parent prints on the
    * line block directly above its exchange child. */
  def singlePartitionWindows(spark: SparkSession, dir: String): Seq[(String, Int)] =
    SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val lines = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString.linesIterator.toVector
      val hits = lines.indices.count { i =>
        lines(i).contains("Exchange SinglePartition") &&
          (i - 2 to i - 1).exists(j => j >= 0 && lines(j).contains("Sort "))
      }
      if (hits > 0) Some(q -> hits) else None
    }

  /** Every known unpartitioned-window plan, with why it is acceptable.
    * All remaining entries sort bounded rollup frames, not the corpus —
    * q112/q143 (the round-8 verdict's two corpus-sized exact-mode sorts)
    * were rewired onto [[graft.functions.GlobalOrder]]'s distributed exact
    * ranking and dropped from this list, so their reappearance fails
    * AuditSpec. */
  val SinglePartitionAllowlist: Map[String, String] = Map(
    "q126_heaps_fit" -> "bounded: block-offset prefix over the #docs/4096 block rollup (per-doc windows are block-partitioned)",
    "q130_pareto_share" -> "bounded: cumulative share over the nation rollup (~25 rows)",
    "q135_user_growth" -> "bounded: running total over the per-day rollup (#days rows)",
    "q140_wow_growth" -> "bounded: lag over the per-week rollup (#weeks rows)",
    "q276_cusum_changepoint" -> "bounded: cumulative deviation over the per-day rollup (#days rows; the event log itself only passes one grouped sum)",
    "q279_bradley_terry" -> "bounded: final strength ranking over the per-source frame (|sources| rows; matches aggregate in one grouped pass first)",
    "q290_watermark_lateness" -> "bounded: running event-time max over the per-micro-batch rollup (#batches rows; the event log passes one grouped max + one keyed join)",
    "q205_conformal_gate" -> ("bounded: k-th order statistic over the CALIBRATION sample only " +
      "(split-conformal calibration sets are capped by design at deployment — a few thousand " +
      "rows; the corpus side is a plain grouped count and never sorts)"),
    "q225_km_survival" -> ("bounded: reverse-cumsum and KM product windows over the per-DAY " +
      "rollup (<= observation-horizon-days rows); the event log itself only passes grouped " +
      "aggregations"),
    "q230_tau_stability" -> ("bounded: the STANDING-tau leg is q205's calibration-sample " +
      "order statistic (same bounded-sample contract); the per-batch taus rank inside " +
      "batch partitions — partition-parallel"),
    "q238_unimax_alloc" -> ("bounded: water-filling windows over the per-source token " +
      "rollup (|sources| rows); the corpus itself only passes one map-side-combined " +
      "grouped sum"),
    "q317_runs_test" -> ("bounded: two lag windows over the per-day rollup (#days " +
      "rows, calendar-bounded); the event log only passes one grouped sum"),
    "q325_rmst" -> ("bounded: the q225 KM windows plus one lead over the per-day " +
      "rollup (<= horizon-days rows); the event log passes the same two grouped " +
      "scans as q225"),
    "q342_signed_rank" -> ("bounded: one cumulative window over the unit-bucketed " +
      "diff grid — rows bounded by the VALUE range (corpus-size-independent), " +
      "never the user population"),
    "q345_km_greenwood" -> ("bounded: the q225 KM windows plus the Greenwood " +
      "variance cumsum over the same per-day rollup (<= horizon-days rows)"),
    "q349_rolling_channel" -> ("bounded: trailing 7-row min/max windows over the " +
      "per-day rollup (#days rows, calendar-bounded); the event log passes one " +
      "grouped sum"),
    "q351_ljung_box" -> ("bounded: cumulative-Q window over the 7-lag rollup " +
      "(7 rows); the event log passes one grouped count and each lag leg " +
      "equi-joins the per-day rollup"),
    "q353_kruskal_wallis" -> ("bounded: one cumulative window over the 6-dp " +
      "quality GRID (rows bounded by the score range, corpus-size-" +
      "independent — the q342 rank-grid discipline)"),
    "q355_nelson_aalen" -> ("bounded: two cumulative-hazard windows over the " +
      "hour-gap grid (<= observation-horizon hours); gap extraction is a " +
      "user-partitioned lead"),
    "q358_ewma_chart" -> ("bounded: one row_number over the per-day rollup " +
      "(#days rows, calendar-bounded); the closed-form EWMA fan-out is a " +
      "day-squared pair join, not a window"),
    "q359_bh_fdr" -> ("bounded: the BH rank window runs over the " +
      "|sources|^2/2 pair frame (corpus-size-independent); the corpus is " +
      "touched only by q264's shared rank layer"),
    "q360_isotonic_fit" -> ("bounded: row_number + prefix-sum windows over " +
      "the per-day rollup (#days rows, calendar-bounded); the max-min " +
      "fan-out is a day-squared pair join with per-j partitioned windows"))
}
