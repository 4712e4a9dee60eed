package graft

/** Dev-only scaling harness for the streaming-parity tier (q197–q202, q212)
  * — the round-15 verdict's item 8: micro-batch startup dominates wall time
  * at fixture scale, so WALL TIME is the wrong scaling statistic for
  * streams. The claim that must hold at 100 TB is state-boundedness: every
  * stateful pipeline's store holds only the watermark-live rows (open
  * windows × types for q197; events inside the lateness horizon for q198;
  * one open session per active user for q199; the join-horizon buffer for
  * q202), never the stream's history. This harness replays each stream
  * over scaled corpora (make_scale_corpora.py: arrivals grow Nx on a FIXED
  * calendar) and prints, per query per dir, total input rows vs the MAX
  * state rows any micro-batch held ([[streaming.EventStream.lastRunMetrics]])
  * — the evidence is state growing like its bound (constant for q197's
  * fixed grid; ∝ keys/density for q198/q199/q202), while input grows Nx.
  * Not part of the driver contract. */
object StreamScaleCheck {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt
    val spark = GraftSession.local(cpus)
    val queries = Seq("q197_stream_batch_equiv", "q198_stream_dedup_equiv",
      "q199_stream_session_equiv", "q202_stream_join_equiv",
      "q201_stream_quarantine", "q212_stream_conformal", "q379_stream_hll",
      "q384_stream_cms_topk",
      // round-18: embedding admission — state is the watermark-live
      // (arrival, ref) dedup entries, bound = flagged pairs in the horizon
      // (arrivals and their planted matches both grow with the replica
      // factor; state must track that bound, not history)
      "q388_stream_embedding_admission",
      // round-18 second wave: streaming index maintenance — the stream is
      // STATELESS (foreachBatch exactly-once merges; maxState must print 0
      // at every scale); the growing artifact is the maintained layer,
      // whose delta is 8 rows per arriving doc
      "q391_stream_index_maintenance",
      // dense twin of q391: stateless exactly-once ANN-index maintenance
      "q392_stream_ann_index_maintenance")
    for (dir <- dirs; q <- queries) {
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val m = graft.streaming.EventStream.lastRunMetrics
        (sec, n, m)
      }
      val best = runs.minBy(_._1)
      val m = best._3
      println(f"[stream-scale] $dir%-22s $q%-26s out=${best._2}%7d  " +
        f"in=${m.fold(-1L)(_.inputRows)}%9d  maxState=${m.fold(-1L)(_.maxStateRows)}%8d  " +
        f"batches=${m.fold(-1)(_.numBatches)}%3d  min=${best._1}%6.2f s")
    }
    spark.stop()
  }
}
