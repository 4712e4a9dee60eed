package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-17 invariants: the composed seeded IVF-PQ index (q381/q382) —
  * candidate containment inside the query's coarse cell, re-rank exactness,
  * and recall parity with the PQ-only tier (the cell restriction must not
  * cost recall the q192 audit didn't already price). */
class Round17InvariantsSpec extends AnyFunSuite with Matchers {
  import TestSpark.{spark, sf0001}

  test("q381: every returned neighbor lives in its query's coarse cell (nprobe=1 containment)") {
    // Recompute the seeded cell assignment exactly as the index does
    // (lowest-8-id centroids, rounded-cosine argmax, -cid tiebreak) and
    // check the composed result never leaks a candidate across cells.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val cos = expr(
      """aggregate(zip_with(v, cv, (a, b) -> a * b), cast(0.0 as double), (acc, x) -> acc + x)
        | / (sqrt(aggregate(transform(v, x -> x * x), cast(0.0 as double), (acc, x) -> acc + x))
        |  * sqrt(aggregate(transform(cv, x -> x * x), cast(0.0 as double), (acc, x) -> acc + x)))""".stripMargin)
    val assigned = e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(round(cos, 6).as("c"), (-col("cid")).as("ncid")).as("sc"))
      .groupBy(col("vec_id")).agg(max(col("sc")).as("m"))
      .select(col("vec_id"), (-col("m.ncid")).as("cell"))
    val cellOf = assigned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val res = SparkEntry.queries("q381_ivf_pq")(spark, sf0001).collect()
    res should not be empty
    res.foreach { r =>
      val q = r.getAs[Long]("q_id"); val n = r.getAs[Long]("n_id")
      withClue(s"neighbor $n of query $q crossed cells:") {
        cellOf(n) shouldBe cellOf(q)
      }
    }
  }

  test("q381: emitted dist_sq is the exact rounded L2 (re-rank really re-scores full vectors)") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    val res = SparkEntry.queries("q381_ivf_pq")(spark, sf0001).collect()
    res.foreach { r =>
      val qv = e(r.getAs[Long]("q_id")); val nv = e(r.getAs[Long]("n_id"))
      val exact = qv.zip(nv).map { case (a, b) => (a - b) * (a - b) }.sum
      val expected = BigDecimal(exact).setScale(6, HALF_UP).toDouble
      r.getAs[Double]("dist_sq") shouldBe expected +- 1e-9
    }
  }

  test("q383: the merge delta touches ONLY the batch's fingerprints, and maintained == rebuilt") {
    import spark.implicits._
    import operators.Curation.{dedupIndexOf, dedupIndexDelta}
    // planted corpus: "dup" exists in the standing corpus AND today's batch
    // (the state-combine path), "new" only in the batch (the insert path),
    // "old" only in the corpus (must NOT be touched by the delta)
    val docsDf = Seq(
      (1L, "old text a"), (2L, "old text b"), (3L, "dup text"),
      (10L, "dup text"), (20L, "new text"), (30L, "new text"))
      .toDF("doc_id", "text")
    val corpus = docsDf.filter(col("doc_id") < 10)
    val batch = docsDf.filter(col("doc_id") >= 10)
    val delta = dedupIndexDelta(dedupIndexOf(batch), dedupIndexOf(corpus))
    val deltaRows = delta.collect()
    // delta cardinality = batch's DISTINCT fingerprints (2: dup, new) —
    // never the standing index size (3). This is the only-delta-partitions
    // property: the nightly merge upserts O(batch), not O(corpus).
    deltaRows.length shouldBe 2
    val byFp = deltaRows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val dupFp = org.apache.commons.codec.digest.DigestUtils.md5Hex("dup text")
    val newFp = org.apache.commons.codec.digest.DigestUtils.md5Hex("new text")
    byFp(dupFp) shouldBe ((3L, 2L))  // min(3, 10), 1 corpus + 1 batch
    byFp(newFp) shouldBe ((20L, 2L)) // batch-only pair collapses to first id
    // IVM identity: corpus-index upserted with the delta == scratch rebuild
    val maintained = dedupIndexOf(corpus)
      .join(delta.select(col("fp")), Seq("fp"), "left_anti")
      .unionByName(delta)
    val scratch = dedupIndexOf(docsDf)
    maintained.exceptAll(scratch).count() shouldBe 0
    scratch.exceptAll(maintained).count() shouldBe 0
  }

  test("q383 end-to-end leaves no staged layer roots behind") {
    val before = java.nio.file.Files.list(java.nio.file.Paths.get("/tmp"))
      .filter(p => p.getFileName.toString.startsWith("graft_q383")).count()
    SparkEntry.queries("q383_dedup_index_cdc")(spark, sf0001).count() should be > 0L
    val after = java.nio.file.Files.list(java.nio.file.Paths.get("/tmp"))
      .filter(p => p.getFileName.toString.startsWith("graft_q383")).count()
    after shouldBe before
  }

  test("q384: streaming CMS state is cells-per-window and the sketch never undercounts") {
    val r = SparkEntry.queries("q384_stream_cms_topk")(spark, sf0001).collect()
    r should not be empty
    val m = TestSpark.lastStreamRun()
    // state = at most 4×256 register cells per open hour window — never
    // ∝ the user population (the q379 boundedness claim, for frequency)
    val hours = r.map(_.getAs[Long]("unix_hour")).distinct.length
    m.maxStateRows should be <= 1024L * hours
    r.foreach { row =>
      // the one-sided CMS guarantee: estimate >= true count, always
      withClue(s"CMS undercounted at hour ${row.getAs[Long]("unix_hour")}:") {
        row.getAs[Long]("overcount") should be >= 0L
      }
      row.getAs[Long]("rk") should (be >= 1L and be <= 5L)
    }
  }

  test("q385: the recall gate retrieves EVERY planted copy pair (one per sliced original)") {
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") % 4 === 0).select(col("vec_id")).collect()
      .map(_.getLong(0)).sorted
    base.length should be > 0
    val r = SparkEntry.queries("q385_embedding_neardup_recall")(spark, sf0001).collect()
    // every sliced original must pair with its perturbed copy (id + 1e6);
    // the base corpus has no pair >= 0.9, so these are ALL the true pairs
    val pairs = r.map(row => (row.getAs[Long]("id_a"), row.getAs[Long]("id_b"))).toSet
    base.foreach { id =>
      withClue(s"planted pair ($id, ${id + 1000000L}) missed by the banding:") {
        pairs should contain((id, id + 1000000L))
      }
    }
    pairs.size shouldBe base.length // and nothing else crosses 0.9
    r.foreach(_.getAs[Double]("sim") should be >= 0.99)
  }

  test("q382: composed-index recall matches the PQ-only audit level (cells cost nothing here)") {
    val composed = SparkEntry.queries("q382_ivf_pq_audit")(spark, sf0001)
      .select(col("q_id"), col("recall")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pqOnly = SparkEntry.queries("q192_pq_adc_audit")(spark, sf0001)
      .select(col("q_id"), col("recall")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    composed.keySet shouldBe pqOnly.keySet
    composed.foreach { case (q, r) =>
      withClue(s"query $q: composed recall $r below PQ-only ${pqOnly(q)}:") {
        r should be >= pqOnly(q) - 1e-9
      }
    }
  }

  test("q379/q384 release their memory sinks (no session-lived sink tables or terminated handles)") {
    // The round-17 heap-tax finding: memory-sink tables and terminated-run
    // handles pinned ~300k rows per bench rep for the session lifetime and
    // taxed every query that ran later (q10 0.38s -> 2.19s in the close).
    // Pin the cure: after the query function returns, the sink temp view is
    // gone, the stream manager holds no terminated runs, and the RESULT is
    // still fully readable (materialized before the drop). Every query that
    // sinks a stream to memory is covered, not only the two that found it.
    for (q <- Seq("q197_stream_batch_equiv", "q198_stream_dedup_equiv",
                  "q199_stream_session_equiv", "q201_stream_quarantine",
                  "q202_stream_join_equiv", "q212_stream_conformal",
                  "q379_stream_hll", "q384_stream_cms_topk",
                  "q388_stream_embedding_admission")) {
      val r = SparkEntry.queries(q)(spark, sf0001)
      r.count() should be > 0L // readable after the sink is gone
      val leftover = spark.catalog.listTables()
        .filter(col("name").startsWith(q.takeWhile(_ != '_') + "_sink"))
        .count()
      withClue(s"$q left its memory-sink temp view registered:") {
        leftover shouldBe 0L
      }
      spark.streams.listListeners() // listener stays (metrics), handles must not
      // The round-17 form asserted `spark.streams.active.length == 0`, which
      // is vacuous — active never contains terminated queries (round-17
      // advice). What resetTerminated() actually clears in Spark 4.1 is the
      // manager's ONLY piece of terminated-run state, the
      // `lastTerminatedQueryException` var (verified via javap; there is no
      // terminated-query map in this Spark). Its sentinel protocol makes a
      // sharp pin: the manager sets it to Some/None when ANY query
      // terminates, and exactly resetTerminated() puts it back to null — so
      // null here proves the reset ran after the stream finished, while a
      // removed reset leaves a non-null None behind. The heap cure itself
      // is the dropped sink view asserted above plus the materialized
      // result.
      val f = spark.streams.getClass.getDeclaredField("lastTerminatedQueryException")
      f.setAccessible(true)
      withClue(s"$q left terminated-run state in the manager (resetTerminated not called?):") {
        assert(f.get(spark.streams) == null,
          s"lastTerminatedQueryException = ${f.get(spark.streams)}")
      }
    }
  }
}
