package graft

import java.nio.file.{Files, NoSuchFileException, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.TempRoots
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.prop.TableDrivenPropertyChecks

/** The staged-query lifecycle, [[TempRoots.scoped]]: a query that stages
  * files or sinks a stream to memory returns a checkpointed result and
  * leaves neither its temp dirs nor its sink views behind, also when its
  * body fails partway. */
class StagedQueriesSpec extends AnyFunSuite with Matchers with TableDrivenPropertyChecks {
  import TestSpark.{spark, sf0001}

  private def tempEntries(): Set[String] = {
    val l = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try l.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("graft_")).toSet
    finally l.close()
  }

  private val stagedQueries = Table("query",
    "q377_layer_cdc", "q393_pruned_merge_audit", "q383_dedup_index_cdc",
    "q389_lsh_index_cdc", "q390_index_lifecycle", "q394_index_takedown",
    "q386_ann_index_cdc", "q395_ann_index_takedown",
    "q197_stream_batch_equiv", "q198_stream_dedup_equiv", "q199_stream_session_equiv",
    "q201_stream_quarantine", "q202_stream_join_equiv", "q212_stream_conformal",
    "q379_stream_hll", "q384_stream_cms_topk", "q388_stream_embedding_admission",
    "q391_stream_index_maintenance", "q392_stream_ann_index_maintenance",
    "q396_stream_index_takedown")

  test("every staged query leaves no graft_ temp entry behind and its result stays readable") {
    forAll(stagedQueries) { q =>
      val before = tempEntries()
      SparkEntry.queries(q)(spark, sf0001).count() should be > 0L
      withClue(s"$q left temp entries behind:") {
        (tempEntries() -- before) shouldBe empty
      }
    }
  }

  test("a scoped result is checkpointed: readable after its staged files are deleted") {
    var dir: Path = null
    val r = TempRoots.scoped(spark) { sc =>
      dir = sc.dir("graft_scope_spec")
      spark.range(5).write.parquet(dir.resolve("t").toString)
      spark.read.parquet(dir.resolve("t").toString)
    }
    Files.exists(dir) shouldBe false
    r.count() shouldBe 5L
  }

  test("a body that fails partway leaves neither its dir nor its sink view, and its exception propagates") {
    var dir: Path = null
    var sink: String = null
    val e = intercept[IllegalStateException] {
      TempRoots.scoped(spark) { sc =>
        dir = sc.dir("graft_scope_spec")
        Files.write(dir.resolve("f"), Array[Byte](1))
        sink = sc.sink("q000")
        spark.range(3).createOrReplaceTempView(sink)
        throw new IllegalStateException("partway")
      }
    }
    e.getMessage shouldBe "partway"
    e.getSuppressed shouldBe empty
    sink should fullyMatch regex "q000_sink_\\d+"
    Files.exists(dir) shouldBe false
    spark.catalog.tableExists(sink) shouldBe false
  }

  test("a failed release throws after a successful body and is suppressed after a failed one") {
    // a dir the body removed itself makes the scope's delete fail
    intercept[NoSuchFileException] {
      TempRoots.scoped(spark) { sc =>
        Files.delete(sc.dir("graft_scope_spec"))
        spark.range(1).toDF()
      }
    }
    val e = intercept[IllegalStateException] {
      TempRoots.scoped(spark) { sc =>
        Files.delete(sc.dir("graft_scope_spec"))
        throw new IllegalStateException("body")
      }
    }
    e.getMessage shouldBe "body"
    e.getSuppressed.toSeq.map(_.getClass) shouldBe Seq(classOf[NoSuchFileException])
  }
}
