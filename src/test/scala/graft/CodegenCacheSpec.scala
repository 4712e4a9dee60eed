package graft

import graft.functions.GraftExtensions
import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Spark's JVM-wide cache of compiled generated classes must hold the
  * engine's working set: with Spark's default of 100 entries, a mixed
  * stream of queries evicts every class before its next use and compiles
  * it again. A re-run of one plan must also generate the same classes,
  * whatever ids AQE gives its stages. */
class CodegenCacheSpec extends AnyFunSuite with Matchers {
  import TestSpark.{spark, sf0001, planShape}

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def run(q: String): Unit = SparkEntry.queries(q)(spark, sf0001).collect()

  test("the engine default sizes the cache and an explicit value wins") {
    val unset = new SparkConf(false)
    GraftExtensions.applyDefaults(unset)
    unset.get(GraftExtensions.CodegenCacheKey) shouldBe "400"
    unset.get(GraftExtensions.CodegenIdInClassNameKey) shouldBe "false"
    val explicit = new SparkConf(false).set(GraftExtensions.CodegenCacheKey, "64")
      .set(GraftExtensions.CodegenIdInClassNameKey, "true")
    GraftExtensions.applyDefaults(explicit)
    explicit.get(GraftExtensions.CodegenCacheKey) shouldBe "64"
    explicit.get(GraftExtensions.CodegenIdInClassNameKey) shouldBe "true"
  }

  test("the session reports the engine's codegen cache size") {
    spark.conf.get(GraftExtensions.CodegenCacheKey) shouldBe "400"
    spark.conf.get(GraftExtensions.CodegenIdInClassNameKey) shouldBe "false"
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

  /** Run `q` and return its id-blanked final plan. */
  private def runShape(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf0001)
    df.collect()
    planShape(df)
  }

  test("a re-run of an already-compiled plan compiles nothing") {
    // AQE numbers codegen stages anew on every run, and with the stage id in
    // the class name q79's re-runs compiled 2-8 classes each. Each query
    // has one final plan, so every re-run repeats it and compiles nothing;
    // q216's seven re-runs also show that its self-join no longer picks a
    // build side by which query stage finishes first.
    Seq("q79_bm25_search" -> 3, "q216_label_noise" -> 7).foreach { case (q, reruns) =>
      val first = runShape(q)
      (1 to reruns).foreach { i =>
        val before = compiles()
        withClue(s"$q re-run $i: ") {
          runShape(q) shouldBe first
          (compiles() - before) shouldBe 0L
        }
      }
    }
  }
}
