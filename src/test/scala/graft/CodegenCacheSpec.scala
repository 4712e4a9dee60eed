package graft

import graft.functions.GraftExtensions
import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Spark's JVM-wide cache of compiled generated classes must hold the
  * engine's working set: with Spark's default of 100 entries, a mixed
  * stream of queries evicts every class before its next use and compiles
  * it again. */
class CodegenCacheSpec extends AnyFunSuite with Matchers {
  import TestSpark.{spark, sf0001}

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def run(q: String): Unit = SparkEntry.queries(q)(spark, sf0001).collect()

  test("the engine default sizes the cache and an explicit value wins") {
    val unset = new SparkConf(false)
    GraftExtensions.applyDefaults(unset)
    unset.get(GraftExtensions.CodegenCacheKey) shouldBe "400"
    val explicit = new SparkConf(false).set(GraftExtensions.CodegenCacheKey, "64")
    GraftExtensions.applyDefaults(explicit)
    explicit.get(GraftExtensions.CodegenCacheKey) shouldBe "64"
  }

  test("the session reports the engine's codegen cache size") {
    spark.conf.get(GraftExtensions.CodegenCacheKey) shouldBe "400"
  }

  test("a query re-run after more than 100 other cache entries compiles nothing") {
    // q255's plan is the same on every run (no AQE-numbered classes), so
    // every class its re-run needs was compiled by its first run. In a
    // fresh JVM the four queries in between compile about 145 classes; at
    // Spark's default of 100 entries the re-run compiles 17 again.
    run("q255_term_burstiness")
    Seq("q306_fleiss_kappa", "q252_minhash_k_curve", "q299_degree_assortativity",
      "q66_pattern_scrub").foreach(run)
    val before = compiles()
    run("q255_term_burstiness")
    (compiles() - before) shouldBe 0L
  }
}
