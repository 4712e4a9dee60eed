package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Session model/silver-layer dir isolation — the invariant every
  * [[SessionLayers]] layer (Dedup pair counts, MinHash candidates,
  * Retrieval term freqs, TextAnalytics NB scores, Similarity seeded codes,
  * seeded cells, dominant direction and Gram cells, Scrub winnow
  * fingerprints, Cluster entity labels) must hold: keys carry (session,
  * dir, params), so two different fixture dirs queried in ONE session must
  * never cross-serve each other's materialization. This spec pins
  * the registry-level invariant for ordinary use by warming each layer on
  * one dir, querying a second dir through the warm cache, and comparing
  * against a cache-bypassed fresh compute of the second dir. A stale-serve
  * bug would surface as the first dir's (smaller) answer. */
class ModelLayerIsolationSpec extends AnyFunSuite with Matchers {
  import TestSpark.{spark, sf0001}

  private val dirB = "/root/testdata/sf0.01"

  /** Deterministic snapshot: every row rendered and sorted. */
  private def snap(q: String, dir: String): Seq[String] =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq

  /** The same snapshot with every session cache bypassed (fresh compute). */
  private def freshSnap(q: String, dir: String): Seq[String] = {
    System.setProperty("graft.noEdgeCache", "1")
    try snap(q, dir) finally System.clearProperty("graft.noEdgeCache")
  }

  // one query per shared layer; each is cheap at these fixture sizes
  private val cacheBacked = Seq(
    "q36_minhash_lsh",        // Dedup.sharedMinhashCandidates
    "q35_ngram_jaccard",      // Dedup.sharedShinglePairCounts
    "q78_tfidf_topterms",     // Retrieval.sharedTermFreqs
    "q102_nb_langid",         // TextAnalytics.sharedNbScored
    "q74_winnow_fingerprints", // Scrub.sharedWinnowed
    "q217_entity_clusters",    // Cluster.sharedEntityLabels
    "q40_ann_ivf",             // Similarity seeded cells frame
    "q108_pq_adc",             // Similarity seeded PQ seed vectors + codes frame
    "q207_dominant_direction", // Similarity.sharedDominantDirection
    "q336_top_eigen"           // Similarity Gram cells
  )

  for (q <- cacheBacked) {
    test(s"$q: a cache warmed on one dir never serves another dir") {
      // warm the layer on sf0.001, then query sf0.01 through the warm cache
      SparkEntry.queries(q)(spark, sf0001).count()
      val served = snap(q, dirB)
      val fresh = freshSnap(q, dirB)
      served shouldBe fresh
      // and the warm dir still answers for itself, not for dirB
      snap(q, sf0001) shouldBe freshSnap(q, sf0001)
    }
  }
}
