package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-18 invariants: the CDC-maintained ANN index (q386 — the q383 IVM
  * pattern on the embedding side), the df-cap spend ledger (q387), and
  * streaming embedding admission (q388). */
class Round18InvariantsSpec extends AnyFunSuite with Matchers {
  import TestSpark.{spark, sf0001}

  test("q386: the merge delta is exactly the batch's rows (m per vector), and maintained == rebuilt") {
    // only-delta-partitions property: the nightly merge upserts O(batch) —
    // m = 8 narrow rows per arriving vector — never O(standing index)
    val nBatchVecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") % 10 === 0).count()
    nBatchVecs should be > 0L
    val delta = operators.Similarity.annIndexRows(spark, sf0001, col("vec_id") % 10 === 0)
    delta.count() shouldBe nBatchVecs * 8
    // IVM identity: the MERGE-advanced layer == scratch rebuild over all
    // vectors. Content-locality means there is no cross-row combine to get
    // wrong, so what this pin actually catches is a drifted MODEL slice —
    // e.g. seeds/centroids accidentally taken from the filtered frame
    // instead of the full corpus, which would re-encode the standing rows
    // differently from the frozen-model contract.
    val maintained = SparkEntry.queries("q386_ann_index_cdc")(spark, sf0001)
    val scratch = operators.Similarity.annIndexRows(spark, sf0001, lit(true))
    maintained.exceptAll(scratch).count() shouldBe 0L
    scratch.exceptAll(maintained).count() shouldBe 0L
  }

  test("q386 end-to-end leaves no staged layer roots behind") {
    def staged386() = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get("/tmp"))
      try l.filter(p => p.getFileName.toString.startsWith("graft_q386")).count()
      finally l.close()
    }
    val before = staged386()
    SparkEntry.queries("q386_ann_index_cdc")(spark, sf0001).count() should be > 0L
    staged386() shouldBe before
  }

  test("q389: the merge delta is exactly the batch's band rows (8 per doc), and maintained == rebuilt") {
    // only-delta-partitions property on the TEXT index: the nightly merge
    // upserts 8 narrow band rows per arriving document that shingles —
    // never O(standing index)
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val nBatchDocs = operators.Dedup.shingledFrom(d.filter(col("doc_id") % 10 === 7)).count()
    nBatchDocs should be > 0L
    val delta = operators.Dedup.lshIndexRows(d.filter(col("doc_id") % 10 === 7))
    delta.count() shouldBe nBatchDocs * 8
    // IVM identity: the MERGE-advanced layer == scratch rebuild over all
    // documents (band rows are content-local per doc, so a drift here means
    // the signature pipeline saw different inputs per slice)
    val maintained = SparkEntry.queries("q389_lsh_index_cdc")(spark, sf0001)
    val scratch = operators.Dedup.lshIndexRows(d)
    maintained.exceptAll(scratch).count() shouldBe 0L
    scratch.exceptAll(maintained).count() shouldBe 0L
  }

  test("q389/q390 end-to-end leave no staged layer roots behind") {
    def staged(prefix: String) = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get("/tmp"))
      try l.filter(p => p.getFileName.toString.startsWith(prefix)).count()
      finally l.close()
    }
    val before = staged("graft_q389") + staged("graft_q390")
    SparkEntry.queries("q389_lsh_index_cdc")(spark, sf0001).count() should be > 0L
    SparkEntry.queries("q390_index_lifecycle")(spark, sf0001).count() should be > 0L
    (staged("graft_q389") + staged("graft_q390")) shouldBe before
  }

  test("q390 lifecycle: merges accumulate files, compact bounds them, vacuum drops superseded versions") {
    import graft.sources.VersionedLayer
    val rootPath = java.nio.file.Files.createTempDirectory("graft_q390spec")
    val root = rootPath.toString
    try {
      val idx = operators.Dedup.lshIndexRows(
        spark.read.parquet(s"$sf0001/documents.parquet")).localCheckpoint()
      VersionedLayer.write(idx.filter(col("doc_id") % 10 <= 6), root)
      for (b <- 7 to 9)
        VersionedLayer.merge(idx.filter(col("doc_id") % 10 === b),
          root, Seq("doc_id", "band_id"))
      val preCompact = VersionedLayer.latestVersion(spark, root).get
      val rowsBefore = VersionedLayer.read(spark, root).count()
      val vCompact = VersionedLayer.compact(spark, root, targetFiles = 2)
      vCompact should be > preCompact
      // the compaction CONTRACT: bounded file count, identical contents
      VersionedLayer.dataFiles(spark, root, vCompact).size should be <= 2
      VersionedLayer.read(spark, root).count() shouldBe rowsBefore
      VersionedLayer.read(spark, root)
        .exceptAll(VersionedLayer.read(spark, root, Some(preCompact)))
        .count() shouldBe 0L
      // vacuum drops every superseded version; the survivor stays readable
      VersionedLayer.vacuum(spark, root, keepLast = 1)
      VersionedLayer.committedVersions(spark, root) shouldBe Seq(vCompact)
      VersionedLayer.versions(spark, root) shouldBe Seq(vCompact)
      VersionedLayer.read(spark, root).count() shouldBe rowsBefore
    } finally graft.sources.TempRoots.deleteRecursively(rootPath)
  }

  test("q391: four exactly-once micro-batch merges, stateless stream, replay is a no-op, maintained == rebuilt") {
    import graft.sources.VersionedLayer
    import org.apache.spark.sql.DataFrame
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val rootPath = java.nio.file.Files.createTempDirectory("graft_q391spec_idx")
    val stage = java.nio.file.Files.createTempDirectory("graft_q391spec_arr")
    try {
      val root = rootPath.toString
      VersionedLayer.write(
        operators.Dedup.lshIndexRows(d.filter(!(col("doc_id") % 10 === 7))), root)
      d.filter(col("doc_id") % 10 === 7).select(col("doc_id"), col("text"))
        .repartition(4).write.mode("overwrite").json(stage.resolve("in").toString)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", org.apache.spark.sql.types.LongType)
        .add("text", org.apache.spark.sql.types.StringType)
      val arrivals = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(stage.resolve("in").toString)
      val sink = (b: DataFrame, id: Long) => VersionedLayer.idempotentMergeBatch(
        root, Seq("doc_id", "band_id"), "q391spec")(operators.Dedup.lshIndexRows(b), id)
      streaming.EventStream.runOnceForeachBatch(arrivals, "q391spec", sink)
      // four staged files -> four micro-batch merges on top of the standing write
      VersionedLayer.committedVersions(spark, root).size shouldBe 5
      // the stream carries NO state: foreachBatch append, no watermark ops
      val m = TestSpark.lastStreamRun()
      m.sink shouldBe "q391spec"
      m.maxStateRows shouldBe 0L
      m.numBatches should be >= 4
      // exactly-once: replaying an already-marked batchId is a no-op
      // (marker protocol — no new version, snapshot untouched)
      val rows = VersionedLayer.read(spark, root).count()
      sink(d.filter(col("doc_id") % 10 === 7).select(col("doc_id"), col("text")), 0L)
      VersionedLayer.committedVersions(spark, root).size shouldBe 5
      VersionedLayer.read(spark, root).count() shouldBe rows
      // stream-maintained == scratch rebuild (the q383/q386/q389 identity,
      // now through the micro-batch path)
      val maintained = VersionedLayer.read(spark, root)
      val scratch = operators.Dedup.lshIndexRows(d)
      maintained.exceptAll(scratch).count() shouldBe 0L
      scratch.exceptAll(maintained).count() shouldBe 0L
    } finally {
      graft.sources.TempRoots.deleteRecursively(rootPath)
      graft.sources.TempRoots.deleteRecursively(stage)
    }
  }

  test("q391 end-to-end leaves no staged roots behind") {
    def staged() = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get("/tmp"))
      try l.filter(p => p.getFileName.toString.startsWith("graft_q391_")).count()
      finally l.close()
    }
    val before = staged()
    SparkEntry.queries("q391_stream_index_maintenance")(spark, sf0001).count() should be > 0L
    staged() shouldBe before
  }

  test("q392: frame encoder == predicate encoder, stream-maintained == rebuilt, stateless") {
    // content-locality under the frozen model: encoding a passed (vec_id, v)
    // frame must be row-identical to the predicate-filtered corpus encode —
    // the identity that lets the streaming MERGE path share q386's oracle
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    val byFrame = operators.Similarity.annIndexRowsOf(spark, sf0001, vecs)
    val byPred = operators.Similarity.annIndexRows(spark, sf0001, col("vec_id") % 10 === 0)
    byFrame.exceptAll(byPred).count() shouldBe 0L
    byPred.exceptAll(byFrame).count() shouldBe 0L
    // the streaming path (four exactly-once merges) converges to the
    // scratch rebuild, and the stream itself carries no state
    val maintained = SparkEntry.queries("q392_stream_ann_index_maintenance")(spark, sf0001)
    val m = TestSpark.lastStreamRun()
    m.sink shouldBe "q392_maint"
    m.maxStateRows shouldBe 0L
    m.numBatches should be >= 4
    val scratch = operators.Similarity.annIndexRows(spark, sf0001, lit(true))
    maintained.exceptAll(scratch).count() shouldBe 0L
    scratch.exceptAll(maintained).count() shouldBe 0L
  }

  test("q392 end-to-end leaves no staged roots behind") {
    def staged() = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get("/tmp"))
      try l.filter(p => p.getFileName.toString.startsWith("graft_q392")).count()
      finally l.close()
    }
    val before = staged()
    SparkEntry.queries("q392_stream_ann_index_maintenance")(spark, sf0001).count() should be > 0L
    staged() shouldBe before
  }

  test("q388 releases its memory sink and its arrivals staging dir") {
    // the round-17 q10 heap-tax class: session-lived memory sinks + leaked
    // staging dirs accumulate across bench reps (q379/q384's cure, now
    // applied to q388 too — found by the round-18 self-review)
    def staged() = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get("/tmp"))
      try l.filter(p => p.getFileName.toString.startsWith("graft_q388")).count()
      finally l.close()
    }
    val before = staged()
    val r = SparkEntry.queries("q388_stream_embedding_admission")(spark, sf0001)
    r.count() should be > 0L // readable after the sink is gone (materialized)
    staged() shouldBe before
    spark.catalog.listTables()
      .filter(col("name").startsWith("q388_sink")).count() shouldBe 0L
  }

  test("q387: the ledger's own arithmetic bounds hold on the live corpus") {
    val r = SparkEntry.queries("q387_dfcap_coverage")(spark, sf0001).collect()
    r.length shouldBe 1
    val row = r.head
    val nTerms = row.getAs[Long]("n_terms")
    val nCapped = row.getAs[Long]("n_capped_terms")
    val mass = row.getAs[Long]("posting_mass")
    val dropped = row.getAs[Long]("posting_mass_dropped")
    val budget = row.getAs[Long]("pair_budget")
    val cand = row.getAs[Long]("n_candidate_pairs")
    nTerms should be > 0L
    nCapped should be <= nTerms
    dropped should be <= mass
    // Σ C(df,2) over surviving lists is the worst case the candidate stage
    // can generate; DISTINCT can only shrink it
    cand should be <= budget
    row.getAs[Double]("capped_term_share") should (be >= 0.0 and be <= 1.0)
    row.getAs[Double]("dropped_mass_share") should (be >= 0.0 and be <= 1.0)
  }

  test("q388: every arrival flags exactly its own original, and dedup state is bounded by flagged pairs") {
    val r = SparkEntry.queries("q388_stream_embedding_admission")(spark, sf0001).collect()
    r should not be empty
    // the planted-pair geometry: each perturbed copy (id + 1e6) is a
    // near-dup of its original and of NOTHING else above 0.9
    r.foreach { row =>
      withClue(s"arrival ${row.getAs[Long]("arr_id")} flagged a foreign reference:") {
        row.getAs[Long]("arr_id") - 1000000L shouldBe row.getAs[Long]("ref_id")
      }
      row.getAs[Double]("sim") should be >= 0.99
    }
    val nBase = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") % 4 === 0).count()
    r.length.toLong shouldBe nBase // full recall: one flag per planted copy
    // bounded-state evidence: the ONLY streaming state is the watermark-live
    // (arr_id, ref_id) dedup entries — one per flagged pair inside the
    // horizon, never ∝ corpus size or stream history
    val m = TestSpark.lastStreamRun()
    m.sink should startWith("q388_sink")
    m.maxStateRows should be <= r.length.toLong
  }
}
