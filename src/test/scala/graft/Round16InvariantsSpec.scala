package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-16 invariants: the negative-zero determinism class q309 exposed
  * (any double product whose factors can be 0 × negative — Spark's
  * BigDecimal round normalizes −0.0 to +0.0 while DuckDB's round preserves
  * the sign bit, so the cross-engine hash diverges on exact zeros reached
  * from the negative side), the q47 re-registration at real near-dup
  * geometry, and the q185/q158 plan-shape fixes. */
class Round16InvariantsSpec extends AnyFunSuite with Matchers {
  import TestSpark.{spark, sf0001}

  test("chao1: planted n1=0 source yields an unsigned +0.0, never -0.0") {
    import spark.implicits._
    // source "z" has every term at n=2 (no singletons): N1=0, so the
    // undetected numerator is the 0 × (−1) shape that minted −0.0 pre-fix
    val st = Seq(
      ("z", "aa", 2L), ("z", "bb", 2L), ("z", "cc", 2L),
      ("y", "aa", 1L), ("y", "bb", 2L), ("y", "cc", 3L))
      .toDF("source", "term", "n")
    val r = operators.Tokenizer.chao1From(st).collect()
    val z = r.find(_.getString(0) == "z").get
    val und = z.getAs[Double]("undetected")
    und shouldBe 0.0
    withClue("sign bit of undetected must be positive (raw bits 0):") {
      java.lang.Double.doubleToRawLongBits(und) shouldBe 0L
    }
    z.getAs[Double]("chao1") shouldBe 3.0
    z.getAs[Double]("completeness") shouldBe 1.0
    // a source WITH singletons still gets the bias-corrected estimate
    val y = r.find(_.getString(0) == "y").get
    y.getAs[Double]("undetected") shouldBe 0.0 // 1·0/(2·2) = 0, unsigned
    java.lang.Double.doubleToRawLongBits(y.getAs[Double]("undetected")) shouldBe 0L
  }

  test("chao1 on the fixture: no emitted double carries a negative-zero sign bit") {
    val r = SparkEntry.queries("q309_chao1_richness")(spark, sf0001).collect()
    r should not be empty
    r.foreach { row =>
      Seq("undetected", "chao1", "completeness").foreach { c =>
        val v = row.getAs[Double](c)
        if (v == 0.0)
          withClue(s"$c is -0.0 for ${row.getString(0)}:") {
            java.lang.Double.doubleToRawLongBits(v) shouldBe 0L
          }
      }
    }
  }

  test("q47 @ tau=0.9, 6x16 bands: exact recall and precision on planted near-dup geometry") {
    import spark.implicits._
    // 30 deterministic 64-dim bases; bases 0..9 get a near-copy at
    // cosine ~0.9995 (ids 100..109). True pairs >= 0.9 are exactly those
    // ten (verified by the in-test brute force, which also guards against
    // accidental cross-base collisions).
    val rnd = new scala.util.Random(42)
    val bases = Array.fill(30)(Array.fill(64)(rnd.nextDouble() * 2 - 1))
    val copies = (0 until 10).map { i =>
      (100L + i, bases(i).map(x => x + (rnd.nextDouble() - 0.5) * 0.02).toSeq)
    }
    val rows = bases.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++ copies
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val truePairs = (for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib
      s = BigDecimal(cos(va, vb)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if s >= 0.9
    } yield (ia, ib)).toSet
    truePairs should have size 10 // every planted copy, nothing else
    val vecs = rows.toSeq.toDF("vec_id", "v")
    val got = operators.Dedup
      .embeddingNeardupLshFrom(vecs, threshold = 0.9, rowsPerBand = 16, nBands = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got shouldBe truePairs
  }

  test("q185: the l_orderkey->o_custkey leg never exchanges lineitem") {
    val plan = SparkEntry.queries("q185_fd_audit")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // the leg reads lineitem only through a broadcast semi-join against the
    // (tiny) violating-orders key set — an exchange keyed on l_orderkey may
    // appear only ABOVE that join (the distinct over the ~empty survivor
    // set), never below it, where it would be the 100 TB fact-fact shuffle
    // this fix removed. executedPlan prints parents before children, so
    // every l_orderkey exchange must precede the broadcast join line.
    val joinAt = plan.indexOf("BroadcastHashJoin [l_orderkey")
    joinAt should be >= 0
    var idx = plan.indexOf("Exchange hashpartitioning(l_orderkey")
    while (idx >= 0) {
      withClue("l_orderkey exchange below the broadcast semi-join:") {
        idx should be < joinAt
      }
      idx = plan.indexOf("Exchange hashpartitioning(l_orderkey", idx + 1)
    }
  }

  test("streaming state holds only the watermark-live grid, never the history") {
    // q197 (windowed agg): state rows = the (hour-window × type) grid —
    // equal to the emitted grid and far below the event count. This is the
    // measurable form of the 100 TB claim: arrivals scale the INPUT, the
    // calendar scales the STATE.
    val grid = SparkEntry.queries("q197_stream_batch_equiv")(spark, sf0001).count()
    val m = TestSpark.lastStreamRun()
    val ev = graft.sources.Tables.read(spark, sf0001, "events")
    m.inputRows shouldBe ev.count()
    m.maxStateRows should be <= grid
    // the grid IS the batch-side distinct (hour, type) surface — state can
    // never exceed what the calendar×type product admits (at sf0.001 events
    // are sparse, ~1/window, so the DENSITY claim — input grows, grid
    // doesn't — needs a corpus with more events per window than this one)
    grid shouldBe ev.select(date_trunc("hour", col("ts")), col("event_type"))
      .distinct().count()
    // q199 (flatMapGroupsWithState sessionizer): at most one open session
    // per live key — users + the sentinel — regardless of event volume.
    SparkEntry.queries("q199_stream_session_equiv")(spark, sf0001).count()
    val m199 = TestSpark.lastStreamRun()
    val users = graft.sources.Tables.read(spark, sf0001, "events")
      .select(col("user_id")).distinct().count()
    m199.maxStateRows should be <= users + 1
  }

  test("q364: LPA communities refine the q76 components and sizes account for every doc") {
    val lpa = SparkEntry.queries("q364_label_propagation")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = SparkEntry.queries("q76_dedup_clusters")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    lpa.keySet shouldBe cc.keySet // every document is labeled
    // propagation can never cross a component boundary: two docs sharing an
    // LPA community must share a q76 component
    lpa.groupBy(_._2).values.foreach { members =>
      members.keys.map(cc).toSet.size shouldBe 1
    }
  }

  test("q365: every edge is intra under the CC partition and Q is a proper score") {
    val r = SparkEntry.queries("q365_modularity")(spark, sf0001).collect()
    r should not be empty
    val m = r.head.getAs[Long]("m_edges")
    r.map(_.getAs[Long]("intra_edges")).sum shouldBe m // CC labels: no cross edges
    r.map(_.getAs[Long]("degree_sum")).sum shouldBe 2 * m
    val q = r.map(_.getAs[Double]("contribution")).sum
    q should (be > 0.0 and be <= 1.0 + 1e-6) // dense dup families, not daisy chains
  }

  test("q366: JL distortion concentrates around 1 on the fixture pairs") {
    val r = SparkEntry.queries("q366_jl_projection")(spark, sf0001).collect()
    r.length should be >= 100
    val d = r.map(_.getAs[Double]("distortion"))
    d.foreach(_ should (be > 0.0 and be < 8.0)) // k=16: loose per-pair bound
    val mean = d.sum / d.length
    mean should (be > 0.6 and be < 1.6) // E[ratio] = 1 under the JL family
  }

  test("q367: HITS authority scores are max-normalized and rank-ordered") {
    val r = SparkEntry.queries("q367_hits")(spark, sf0001).collect()
    r.length should be <= 20
    r.head.getAs[Double]("auth_score") shouldBe 1.0 // the max normalizes to 1
    r.map(_.getAs[Long]("authority_raw")).sliding(2).foreach {
      case Array(a, b) => b should be <= a
      case _           => ()
    }
    r.foreach(_.getAs[Double]("auth_score") should (be > 0.0 and be <= 1.0))
  }

  test("q368: cross-entropy is positive and perplexity is its exact exponential") {
    val r = SparkEntry.queries("q368_source_crossentropy")(spark, sf0001).collect()
    r should not be empty
    r.foreach { row =>
      val h = row.getAs[Double]("h_cross")
      h should be > 0.0 // Laplace smoothing: every bigram has P < 1
      row.getAs[Double]("perplexity") shouldBe
        BigDecimal(math.pow(2.0, h)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      row.getAs[Long]("n_bigrams") should be > 0L
    }
  }

  test("q369: the count-min estimate never undercounts") {
    val r = SparkEntry.queries("q369_countmin_audit")(spark, sf0001).collect()
    r should have size 20
    r.foreach { row =>
      row.getAs[Long]("overcount") should be >= 0L // CMS one-sided error
      row.getAs[Long]("cms_est") should be >=
        row.getAs[Long]("true_count")
    }
  }

  test("frequency-derived CMS cells equal the per-row build (round-22 rewrite pin)") {
    // The round-22 q369/q373 rewrite derives sketch cells from per-key
    // frequencies (Σ_{keys in cell} f(k)) instead of counting rows directly;
    // this pins the algebraic identity in-engine on the fixture: both
    // constructions must produce the identical 4×1024 cell table.
    import org.apache.spark.sql.functions._
    def h(i: Int) =
      s"cast(conv(substring(md5(concat('cms$i:', cast(k as string))), 1, 8), 16, 10) as bigint) % 1024"
    val li = graft.sources.Tables.read(spark, sf0001, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_partkey").as("k"))
    val perRow = li
      .select(posexplode(array((0 until 4).map(i => expr(h(i))): _*)))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("c"))
    val perKey = li.groupBy(col("k")).agg(count(lit(1)).as("f"))
      .select(col("f"), posexplode(array((0 until 4).map(i => expr(h(i))): _*)))
      .groupBy(col("pos"), col("col")).agg(sum(col("f")).as("c"))
    val rows = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    rows(perKey) shouldBe rows(perRow)
  }

  test("q370: the bloom filter has zero false negatives and a sane bit budget") {
    val r = SparkEntry.queries("q370_bloom_audit")(spark, sf0001).collect().head
    r.getAs[Long]("n_false_negatives") shouldBe 0L // membership is never lost
    r.getAs[Long]("n_bloom_positive") should be >= r.getAs[Long]("n_members")
    val bits = r.getAs[Long]("bits_set")
    bits should be <= math.min(3 * r.getAs[Long]("n_members"), 32768L)
    r.getAs[Double]("fp_rate") should be >= 0.0
  }

  test("q371: the replayed HLL lands inside its m=64 error regime") {
    val r = SparkEntry.queries("q371_hll_replay")(spark, sf0001).collect()
    r should have size 3
    r.foreach { row =>
      row.getAs[Double]("hll_est") should be > 0.0
      row.getAs[Double]("rel_err") should be < 0.25 // rsd(64) ≈ 13%
    }
  }

  test("q372: trigram counts are bounded by the session pair/event counts") {
    val r = SparkEntry.queries("q372_journey_trigrams")(spark, sf0001).collect()
    r.length should be <= 20
    r.map(_.getAs[Long]("n")).sliding(2).foreach {
      case Array(a, b) => b should be <= a
      case _           => ()
    }
    // total trigrams <= total events (each event starts at most one trigram)
    val events = graft.sources.Tables.read(spark, sf0001, "events").count()
    r.map(_.getAs[Long]("n")).sum should be <= events
  }

  test("q373: the CMS join-size estimate never undercounts and tracks its theory") {
    val r = SparkEntry.queries("q373_join_cardinality_sketch")(spark, sf0001).collect().head
    r.getAs[Long]("overcount") should be >= 0L // one-sided inner product
    val (exact, est) = (r.getAs[Long]("exact_join_size"), r.getAs[Long]("cms_est"))
    est should be >= exact
    // expected overcount = (ΣfA·ΣfB − exact)/w; allow 5× slack for variance
    val o = graft.sources.Tables.read(spark, sf0001, "orders").count()
    val l = graft.sources.Tables.read(spark, sf0001, "lineitem").count()
    (est - exact) should be <= 5 * (o * l / 1024)
  }

  test("q374: the AMS estimate is non-negative and within the 8-estimator regime") {
    val r = SparkEntry.queries("q374_ams_f2")(spark, sf0001).collect().head
    r.getAs[Double]("ams_est") should be >= 0.0 // a mean of squares
    r.getAs[Double]("rel_err") should be < 1.0  // rsd ≈ sqrt(2/8) = 50%
  }

  test("q375: shard-merged HLL registers estimate identically to direct registers") {
    val r = SparkEntry.queries("q375_hll_merge")(spark, sf0001).collect()
    r should have size 3
    r.foreach { row =>
      row.getAs[Long]("merge_lossless") shouldBe 1L
      row.getAs[Double]("est_direct") shouldBe row.getAs[Double]("est_merged")
    }
  }

  test("q376: zone-map counts are consistent and the layouts trade as theory says") {
    val r = SparkEntry.queries("q376_zorder_skipping")(spark, sf0001).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getAs[Long]("files_scanned")).toMap
    r.values.foreach { v => v should (be >= 20L and be <= 640L) } // every probe reads >= 1 file
    // the date sort leaves custkey probes essentially unprunable (each
    // file's key range spans ~everything; tiny fixtures may exclude a few)
    r(("natural", "custkey_point")) should be >= (640L * 9) / 10
    // and is perfect for date probes; z-order must beat natural on custkey probes
    r(("natural", "date_point")) shouldBe 20L
    r(("zorder", "custkey_point")) should be < r(("natural", "custkey_point"))
    // conjunctive probes scan no more than either single-dim family
    r(("zorder", "both_point")) should be <= r(("zorder", "date_point"))
    r(("zorder", "both_point")) should be <= r(("zorder", "custkey_point"))
  }

  test("q377: the CDC change kinds partition exactly along the staged slices") {
    val r = SparkEntry.queries("q377_layer_cdc")(spark, sf0001).collect()
    val byKind = r.groupBy(_.getAs[String]("_change")).view.mapValues(_.length).toMap
    val keys = graft.sources.Tables.read(spark, sf0001, "orders")
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    byKind("update") shouldBe keys.count(_ % 10 < 2)
    byKind("insert") shouldBe keys.count(k => k % 10 == 5 || k % 10 == 6)
    byKind("delete") shouldBe keys.count(_ % 10 == 4)
    byKind.keySet shouldBe Set("update", "insert", "delete") // no phantom rows
  }

  test("q378: the deflated spectrum obeys PSD ordering and share bounds") {
    val r = SparkEntry.queries("q378_top2_spectrum")(spark, sf0001).collect().head
    val (tr, l1, l2) = (r.getAs[Double]("trace"),
      r.getAs[Double]("lambda1"), r.getAs[Double]("lambda2"))
    l1 should be > 0.0             // Gram matrices are PSD
    l2 should (be >= 0.0 and be <= l1 + 1e-6) // deflation finds a smaller pair
    (l1 + l2) should be <= tr + 1e-6          // two eigenvalues can't exceed the trace
    r.getAs[Double]("spectral_ratio") should (be >= 0.0 and be <= 1.0 + 1e-6)
    r.getAs[Double]("effective_rank") should (be >= 1.0 and be <= 64.0 + 1e-6)
  }

  test("q379: the streaming HLL's state is registers-per-window, and errors sit in the m=64 regime") {
    val r = SparkEntry.queries("q379_stream_hll")(spark, sf0001).collect()
    r should not be empty
    val m = TestSpark.lastStreamRun()
    // state = at most 64 registers per open hour window — never ∝ users
    m.maxStateRows should be <= 64L * r.length
    r.foreach { row =>
      row.getAs[Double]("hll_est") should be > 0.0
      // per-hour cardinalities are small at sf0.001 → linear-counting
      // branch; keep a generous regime bound
      row.getAs[Double]("rel_err") should be < 0.5
    }
  }

  test("q380: sampled quantiles honor the DKW band and ranks are monotone") {
    val r = SparkEntry.queries("q380_sampled_quantile_audit")(spark, sf0001).collect()
    r should have size 5
    r.foreach { row =>
      row.getAs[Long]("within_dkw") shouldBe 1L
      row.getAs[Double]("achieved_pct") should (be >= 0.0 and be <= 1.0)
    }
    // higher percentile ⇒ higher estimate and higher achieved rank
    r.map(_.getAs[Double]("estimate")).sliding(2).foreach {
      case Array(a, b) => b should be >= a
      case _           => ()
    }
    r.map(_.getAs[Long]("rank_full")).sliding(2).foreach {
      case Array(a, b) => b should be >= a
      case _           => ()
    }
  }

  test("q53: error-band flags are all green and the exact columns match q150") {
    val r53 = SparkEntry.queries("q53_sketch_stats")(spark, sf0001).collect()
    r53.foreach { r =>
      r.getAs[Long]("hll_ok") shouldBe 1L
      r.getAs[Long]("p25_ok") shouldBe 1L
      r.getAs[Long]("p75_ok") shouldBe 1L
    }
    val r150 = SparkEntry.queries("q150_distinct_exact")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("exact_parts")).toMap
    r53.foreach(r => r.getAs[Long]("exact_parts") shouldBe r150(r.getString(0)))
  }
}
