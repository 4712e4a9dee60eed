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
  import TestSpark.{spark, sf0001}

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

  /** The final plan of an executed query with the ids that differ between
    * runs of one plan (expression, codegen stage, query stage, exchange
    * and lambda variable ids) blanked out. */
  private def shape(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "#")
      .replaceAll("\\*\\(\\d+\\)", "*()")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("QueryStage \\d+", "QueryStage")
      .replaceAll("lambda x_\\d+", "lambda x_")

  test("a re-run of an already-compiled plan compiles nothing") {
    // AQE numbers codegen stages anew on every run, and with the stage id in
    // the class name q79's re-runs compiled 2-8 classes each. q216's join
    // build side depends on which query stage finishes first, so it has
    // two final plans; only a re-run of a plan seen before must hit.
    Seq("q79_bm25_search", "q216_label_noise").foreach { q =>
      def runShape(): String = {
        val df = SparkEntry.queries(q)(spark, sf0001)
        df.collect()
        shape(df)
      }
      val seen = scala.collection.mutable.Set(runShape())
      var checked = 0
      (1 to 3).foreach { i =>
        val before = compiles()
        val s = runShape()
        if (seen(s)) {
          withClue(s"$q re-run $i: ") { (compiles() - before) shouldBe 0L }
          checked += 1
        }
        seen += s
      }
      withClue(s"$q: no re-run repeated a plan: ") { checked should be > 0 }
    }
  }
}
