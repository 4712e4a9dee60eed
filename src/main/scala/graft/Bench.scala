package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local(cpus)
    // Fixture-drift guard (the round-11 lesson): a benchmark of corrupted
    // reads is worse than no benchmark — fail loudly first.
    graft.sources.FixtureCheck.assertSane(spark, sfDir)
    // Warm the session (JIT, codegen, parquet footer cache) so the first
    // timed query doesn't absorb one-off startup cost — standard bench
    // hygiene; the warm-up query is the sf0.001 smoke pipeline.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Each query runs `reps` times and reports the MINIMUM: the host is a
    // shared box whose load whipsaws single-shot timings (BASELINE.md records
    // the same query at 8.4s / 90.8s / 9.4s across identical runs), and the
    // min is the standard contention-robust estimator of intrinsic cost.
    // Raw per-run timings are emitted alongside for auditability.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val raw = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    // Dev-only filter (same contract as Verify's): SPARK_GRAFT_ONLY=q40_ann_ivf
    // times just those queries; the driver leaves it unset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(kv => ks(kv._1)))
    // Untimed per-query warm-up rep (round-17 verdict item 4): 17 of the
    // driver run's 24 noisy markers were rep-1 JIT/codegen/cache warm-up
    // eating one of its three timed samples, so min-of-3 measured mixed
    // cold/steady state. Rep-0 runs the query once OFF the clock so every
    // timed rep sees warmed code paths; opt out (e.g. to measure cold-start
    // itself) with SPARK_GRAFT_BENCH_NOWARM=1.
    val warm = !sys.env.get("SPARK_GRAFT_BENCH_NOWARM").contains("1")
    val results = selected.flatMap { case (name, fn) =>
      // NonFatal only: an OOM/VM error in warm-up means the timed reps
      // would run in a poisoned JVM — propagate instead of silently
      // corrupting the min-of-N numbers the round verdicts rest on.
      if (warm) {
        try fn(spark, sfDir).count()
        catch { case scala.util.control.NonFatal(_) => () }
      }
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      raw(name) = runs.map(_._1)
      if (runs.forall(_._2)) Some(name -> runs.map(_._1).min)
      else { failed += name; None } // a failing query must not pollute totals
    }
    // The driver records only the LAST 2000 chars of stdout (observed in
    // BENCH_r14.json), and sbt's own "[success] Total time" line trails the
    // summary inside that window. Rounds 6, 8, and 14 each lost the summary
    // when the one-line per-query map outgrew the window (266 queries ≈
    // 3.5 KB — unfixable by compression). Round-15 fix, truncation-proof by
    // construction:
    //   1. The FULL per-query map streams first as ≤1 KB chunk lines
    //      ({"metric":"chunk",...}) — clipped harmlessly when the surface
    //      is large; human-readable in the full log either way.
    //   2. The LAST line is the canonical summary with a BOUNDED queries
    //      map: the top-60 slowest queries (2-dp, qNN keys ≈ 0.9 KB). Total,
    //      failure list, and the hot set always survive the tail window.
    //   3. Full fidelity (full names, 4-dp minima, raw per-rep timings)
    //      goes to BENCH_SUMMARY.json in the working directory, immune to
    //      stream truncation entirely.
    def fmt(v: Double): String = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def fmt2(v: Double): String = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    def short(name: String): String = name.takeWhile(_ != '_')
    val entries2 = results.toSeq.map { case (k, v) => (short(k), fmt2(v), v) }
    val topQs = entries2.sortBy(e => (-e._3, e._1)).take(60)
      .map { case (k, v2, _) => s"\"$k\":$v2" }.mkString("{", ",", "}")
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val rawJson = raw.map { case (k, vs) => "\"" + k + "\":" + vs.map(fmt).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // total aggregates successful queries only — comparable run-to-run
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Mechanical host-noise triage (round-16 verdict item 6): a query whose
    // max/min rep ratio exceeds 3x on the SAME input is showing scheduler /
    // neighbor contention, not intrinsic cost (identical source has measured
    // 2.7/5.8/12.4 s reps on the shared driver host). The marker lets a
    // reader separate host spikes from real regressions without re-running.
    val noisy = raw.collect {
      case (k, vs) if vs.nonEmpty && vs.min > 0 && vs.max / vs.min > 3.0 => k
    }.toSeq
    val noisyJson = noisy.map("\"" + _ + "\"").mkString("[", ",", "]")
    val summary =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":$topQs,"queries_note":"top-60 by time; full map in BENCH_SUMMARY.json","failed":$failedJson,"noisy":$noisyJson,"reps":$reps,"sf":"$sfDir"}"""
    val fileJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qsFull,"failed":$failedJson,"noisy":$noisyJson,"reps":$reps,"sf":"$sfDir","runs":$rawJson}"""
    try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SUMMARY.json"))
      java.nio.file.Files.write(p, (fileJson + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // file dump is best-effort; stdout is canonical
    // full map as bounded chunk lines BEFORE the canonical summary — each
    // line is complete JSON, so however the tail window lands, every fully
    // captured line parses and the final summary line always fits whole
    val chunkEntries = entries2.map { case (k, v2, _) => s"\"$k\":$v2" }
    val chunks = scala.collection.mutable.ArrayBuffer.empty[List[String]]
    var cur = List.empty[String]; var curLen = 0
    chunkEntries.foreach { e =>
      if (curLen + e.length > 900 && cur.nonEmpty) { chunks += cur.reverse; cur = Nil; curLen = 0 }
      cur = e :: cur; curLen += e.length + 1
    }
    if (cur.nonEmpty) chunks += cur.reverse
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"chunk","part":${i + 1},"of":${chunks.size},"queries":${c.mkString("{", ",", "}")}}""")
    }
    println(summary)
    spark.stop()
  }
}
