package graft

/** Dev-only scaling harness: times the document-dedup tier (q35 / q36 / q58)
  * across corpus sizes to separate contention noise from structural
  * (super-linear) cost growth — the check the round-6 advisor asked for on
  * q58's bucketed hamming retrieval. Corpus dirs are passed as args
  * (generated by duplicating the sf0.1 documents table with perturbed text
  * and offset ids); each query runs `SPARK_GRAFT_BENCH_REPS` times per dir
  * and the MIN is reported, same estimator as [[Bench]]. Not part of the
  * driver contract. */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    // Scaling must time the real pipelines: the session layers
    // (SessionLayers: pair counts, candidates, models) would otherwise
    // turn every post-first rep into a checkpointed read and flatten the
    // growth curves this harness exists to expose.
    System.setProperty("graft.noEdgeCache", "1")
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local(cpus)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // SPARK_GRAFT_SCALE_QUERIES=q35_ngram_jaccard,q76_dedup_clusters
    // narrows the sweep (e.g. the 8x linearity runs target the judge's
    // dedup/graph/ranking shortlist instead of the full tier list).
    val onlyQ = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val allQueries = Seq("q35_ngram_jaccard", "q36_minhash_lsh", "q58_simhash_hamming",
      "q200_incremental_lsh", "q211_ngram_novelty", "q222_dedup_pressure",
      // round-14 estimator/governance tier — all ride the candidate-pair
      // or inverted-index layers, so their growth must track q35's
      "q240_simhash_roc", "q252_minhash_k_curve", "q247_crosslingual_dup",
      "q248_dup_degree_hist", "q246_curation_funnel",
      // embedding tier (round 15): LSH-banded cosine near-dup, SemDeDup
      // clustering, PQ+ADC search, and eval-decontamination — embeddings
      // replicated with per-copy component nudges by make_scale_corpora.py
      // (cross-copy cosines just under 1, so cells/bands densify); the
      // noEdgeCache flag above also bypasses the session model layer, so
      // the seeded PQ codes build is timed, not cached
      "q47_embedding_neardup", "q99_semantic_dedup", "q108_pq_adc",
      "q214_semantic_decontam",
      // spectral/geometry tier (round-15 extension): the one-pass Gram
      // accumulation (q336) and the anisotropy component means (q334) —
      // the only NEW corpus-scaled embedding workloads of the wave; cost
      // must grow linearly in vectors (the dim×dim stage is constant)
      "q334_anisotropy", "q336_top_eigen", "q378_top2_spectrum",
      // round-16 wave: LPA/modularity ride the same edge layer as q76 (must
      // track its growth); JL projection is row-local + one narrow join;
      // HITS is four keyed joins over the purchase bipartite; the
      // cross-entropy rollup rides the bigram pass
      "q364_label_propagation", "q365_modularity", "q366_jl_projection",
      "q367_hits", "q368_source_crossentropy",
      // round-16 sketch/layout tier: every sketch is a one-pass map-side
      // combine into a bounded table; q376 is two GlobalOrder ntile passes
      "q369_countmin_audit", "q370_bloom_audit", "q371_hll_replay",
      "q372_journey_trigrams", "q373_join_cardinality_sketch", "q374_ams_f2",
      "q375_hll_merge", "q376_zorder_skipping",
      // round-17 wave: the composed IVF-PQ index + its recall audit ride
      // the seeded-cell/codebook layers (cell-restricted ADC, never
      // all-pairs); the CDC dedup-index maintenance touches only the delta
      // batch; the near-dup recall gate is the q47 LSH path over a planted
      // self-union (pairs densify super-linearly — adversarial for bands)
      "q381_ivf_pq", "q382_ivf_pq_audit", "q383_dedup_index_cdc",
      "q385_embedding_neardup_recall",
      // round-18 wave: the CDC-maintained ANN index (encode pass is linear
      // in vectors, the MERGE touches only the batch delta — must track
      // q383's shape) and the df-cap ledger (one df pass + the q91
      // candidate stage; its VALUES, not wall, carry the 1x→8x recall
      // collapse — see the round-17 q91 finding)
      "q386_ann_index_cdc", "q387_dfcap_coverage",
      // round-18 second wave: the LSH band-index CDC (band pass is linear
      // in docs, the MERGE touches only the batch delta — must track
      // q383/q386's shape) and the lifecycle audit (the COMPACT rewrite is
      // intentionally O(index) — that is the cost it trades for every
      // future read; the curve must stay linear, never super-linear)
      "q389_lsh_index_cdc", "q390_index_lifecycle",
      "q76_dedup_clusters", "q85_dup_spans", "q91_tfidf_cosine",
      "q97_cdc_chunks", "q98_bigram_logprob", "q102_nb_langid",
      "q104_token_entropy", "q107_pagerank", "q114_triangle_census",
      "q115_zipf_slope", "q116_phrase_search",
      // ranking/skew tier (round 9): the GlobalOrder two-pass exact
      // ranking and the aggregates around it — star tables replicated
      // with interleaved values by make_scale_corpora.py
      "q112_equidepth_hist", "q143_rfm_segments", "q158_exact_percentiles",
      "q380_sampled_quantile_audit",
      "q162_skew_report",
      // event-analytics tier (round 9): user-partitioned windows and
      // bounded self-joins — events replicated with new user ids on a
      // fixed calendar by make_scale_corpora.py
      "q160_interval_merge", "q165_markov_power", "q166_multitouch",
      "q170_seasonal_anomaly", "q176_theil_sen", "q178_session_stats")
    val queries = onlyQ.fold(allQueries)(ks => allQueries.filter(ks))
    for (dir <- dirs) {
      val nDocs = graft.sources.Tables.read(spark, dir, "documents").count()
      for (q <- queries) {
        val runs = (1 to reps).map { _ =>
          import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}
          val t0 = System.nanoTime()
          // Force FULL-result evaluation, not count(): under a bare count
          // Catalyst legitimately prunes left-join enrichment legs whose
          // right sides are key-unique aggregates (q200's verification legs
          // vanished and its "scaling" curve measured a fixture scan), so
          // hash every output column — the same work a consumer reading the
          // result would force, at one cheap hash per emitted row.
          val out = SparkEntry.queries(q)(spark, dir)
          // bit_xor, not sum: a hash sum overflows long under ANSI mode
          val r = out.agg(count(lit(1)).as("n"),
            bit_xor(xxhash64(struct(out.columns.map(col): _*))).as("h")).head
          val n = r.getLong(0)
          ((System.nanoTime() - t0) / 1e9, n)
        }
        println(f"[scale] $dir%-22s $q%-22s docs=$nDocs%7d  min=${runs.map(_._1).min}%7.2f s  " +
          f"(rows=${runs.head._2}, runs=${runs.map(r => f"${r._1}%.2f").mkString("/")})")
      }
    }
    spark.stop()
  }
}
