package graft

import graft.operators.Cluster
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Connected-components correctness on planted graphs (the fixture-corpus
  * values are covered by the q76/q77 oracle gate) plus the properties that
  * matter at scale: logarithmic round count on high-diameter graphs, a
  * constant number of jobs per round and an all-equi-join plan. */
class ClusterSpec extends AnyFunSuite with Matchers {
  import TestSpark.{spark, sf0001, jobsOf}

  private def cc(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    import spark.implicits._
    val (labels, rounds) =
      Cluster.connectedComponentsWithRounds(edges.toDF("a", "b"))
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (m, rounds)
  }

  /** Reference union-find for the planted graphs. */
  private def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap.filter { case (k, v) => k != v }
  }

  private val cliques =
    (for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)) ++
      (for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)) :+ ((3L, 10L))
  private val chain = (0L until 63L).map(i => (i, i + 1))

  /** Seeded random multigraph on `n` nodes with duplicate, reversed and
    * self-loop edges planted among `m` random ones. */
  private def messyGraph(seed: Int, n: Int = 150, m: Int = 160): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val base = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val dups = base.take(m / 8)
    val reversed = base.slice(m / 8, m / 4).map(_.swap)
    val loops = Seq.fill(m / 16)(rnd.nextInt(n).toLong).map(x => (x, x))
    rnd.shuffle(base ++ dups ++ reversed ++ loops)
  }

  test("a round costs at most four jobs, plus two for the input") {
    import spark.implicits._
    Seq(cliques, chain).foreach { g =>
      val edges = g.toDF("a", "b")
      val ((_, rounds), jobs) = jobsOf(Cluster.connectedComponentsWithRounds(edges))
      rounds should be > 0
      withClue(s"$rounds rounds: ") { jobs should be <= 2 + 4 * rounds }
    }
  }

  test("star contraction matches union-find on messy seeded multigraphs") {
    (1 to 5).foreach { seed =>
      val g = messyGraph(seed)
      withClue(s"seed $seed: ") { cc(g)._1 shouldBe brute(g) }
    }
  }

  test("round counts on the planted graphs are pinned") {
    val star = (0L until 100L).map(i => (i, 100L))
    val perm = new scala.util.Random(7).shuffle((0L until 64L).toVector)
    val shuffledChain = (0 until 63).map(i => (perm(i), perm(i + 1)))
    val got = Seq(cliques, chain, shuffledChain, star, messyGraph(1), messyGraph(2))
      .map(g => cc(g)._2)
    // a round's edge set is fixed by the algorithm, not by its physical
    // plan, so these counts hold for any correct formulation of a round
    got shouldBe Seq(3, 7, 6, 2, 5, 5)
  }

  test("two cliques joined by a bridge collapse to one component") {
    val (labels, _) = cc(cliques)
    labels.values.toSet shouldBe Set(0L)
    labels.keySet shouldBe (1L to 3L).toSet ++ (10L to 13L).toSet
  }

  test("a 64-node chain converges in O(log n) rounds, not O(diameter)") {
    val (labels, rounds) = cc(chain)
    labels.values.toSet shouldBe Set(0L)
    labels.keySet shouldBe (1L to 63L).toSet
    // naive min-label propagation needs ~63 rounds here; star contraction
    // is O(log² n) — leave slack above log2(64)=6 but stay far below 63
    rounds should be <= 12
  }

  test("star contraction matches union-find on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(200)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val (labels, _) = cc(edges)
    labels shouldBe brute(edges)
  }

  test("empty and self-loop-only edge sets yield no labels") {
    cc(Seq.empty)._1 shouldBe Map.empty
    cc(Seq((5L, 5L)))._1 shouldBe Map.empty
  }

  test("q76 plans only equi-joins (no cartesian / nested-loop)") {
    val p = SparkEntry.queries("q76_dedup_clusters")(spark, sf0001)
      .queryExecution.executedPlan.toString
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("q77 survivor counts are consistent with q76 cluster labels") {
    val cl = SparkEntry.queries("q76_dedup_clusters")(spark, sf0001).collect()
    val kept = cl.count(r => r.getLong(0) == r.getLong(1))
    val surv = SparkEntry.queries("q77_cluster_survivors")(spark, sf0001).collect()
    surv.map(_.getLong(2)).sum shouldBe kept
    surv.map(_.getLong(1)).sum shouldBe cl.length
  }

  /** Driver-side reference PageRank, the identical recurrence. */
  private def refPageRank(nodes: Seq[Long], edges: Seq[(Long, Long)],
                          iters: Int = 6, d: Double = 0.85): Map[Long, Double] = {
    val sym = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      .flatMap(e => Seq(e, e.swap))
    val deg = sym.groupBy(_._1).view.mapValues(_.size).toMap
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = sym.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = nodes.map(v => v -> ((1 - d) / n + d * in.getOrElse(v, 0.0))).toMap
    }
    r
  }

  private def pr(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Double] = {
    import spark.implicits._
    Cluster.pageRankFrom(nodes.toDF("node"), edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("pagerank matches the reference recurrence on a planted hub graph") {
    // hub 0 touches 1..4; 5-6 form an isolated pair; 7..9 fully isolated
    val nodes = (0L to 9L)
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (5L, 6L))
    val got = pr(nodes, edges)
    val want = refPageRank(nodes, edges)
    got.keySet shouldBe want.keySet
    got.foreach { case (v, r) => r shouldBe want(v) +- 1e-12 }
    // the hub outranks its spokes, spokes outrank the isolated pair's
    // members, and fully isolated nodes sit exactly at the teleport floor
    got(0L) should be > got(1L)
    got(1L) should be > got(7L)
    (7L to 9L).foreach(v => got(v) shouldBe (1 - 0.85) / 10 +- 1e-15)
    // total mass never exceeds 1 (dangling mass leaks, by construction)
    got.values.sum should be <= 1.0 + 1e-9
  }

  test("pagerank is invariant to edge orientation and duplicate edges") {
    val nodes = (0L to 4L)
    val a = pr(nodes, Seq((0L, 1L), (1L, 2L)))
    val b = pr(nodes, Seq((1L, 0L), (2L, 1L), (0L, 1L), (1L, 2L)))
    a.foreach { case (v, r) => r shouldBe b(v) +- 1e-15 }
  }

  test("q107 plans only equi-joins and tie-breaks deterministically") {
    val df = SparkEntry.queries("q107_pagerank")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    val rows = df.collect()
    rows.length should be <= 20
    // sorted by rank desc then doc_id asc
    val pairs = rows.map(r => (r.getDouble(1), r.getLong(0)))
    pairs.sliding(2).foreach { case Array((r1, d1), (r2, d2)) =>
      assert(r1 > r2 || (r1 == r2 && d1 < d2))
    case _ => ()
    }
  }

  test("triangle census: closed triple + chain + clique count exactly") {
    import spark.implicits._
    def census(edges: Seq[(Long, Long)]): (Long, Long, Long, Double) = {
      val r = Cluster.triangleCensus(edges.toDF("u", "v")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    }
    // one triangle: 3 edges, 3 wedges, cc = 1
    census(Seq((1L, 2L), (2L, 3L), (1L, 3L))) shouldBe ((3L, 1L, 3L, 1.0))
    // 4-chain: no triangles, 2 wedges, cc = 0
    census(Seq((1L, 2L), (2L, 3L), (3L, 4L))) shouldBe ((3L, 0L, 2L, 0.0))
    // K4: 6 edges, 4 triangles, 12 wedges, cc = 1; duplicate/reversed edges collapse
    val k4 = for (i <- 1L to 4L; j <- 1L to 4L if i != j) yield (i, j)
    census(k4) shouldBe ((6L, 4L, 12L, 1.0))
    // empty graph: all zeros, cc well-defined at 0
    census(Seq.empty[(Long, Long)]) shouldBe ((0L, 0L, 0L, 0.0))
  }

  test("cross-source matrix is canonical and conserves the pair count") {
    import org.apache.spark.sql.functions._
    val cells = SparkEntry.queries("q125_cross_source_dups")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    cells.foreach { case (a, b, n) => a should be <= b; n should be > 0L }
    val totalPairs = graft.operators.Dedup.ngramJaccardPairs(spark, sf0001)
      .filter(col("jaccard") >= 0.8).count()
    cells.map(_._3).sum shouldBe totalPairs   // every pair lands in exactly one cell
  }

  test("weekday profile covers the grid and conserves the event count") {
    val rows = SparkEntry.queries("q123_weekday_profile")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (d, h, _) =>
      d should (be >= 0L and be <= 6L)
      h should (be >= 0L and be <= 23L)
    }
    rows.map { case (d, h, _) => (d, h) }.distinct.length shouldBe rows.length
    rows.map(_._3).sum shouldBe
      graft.sources.Tables.read(spark, sf0001, "events").count()
  }

  test("cohort retention: offset-0 diagonal equals cohort size, offsets non-negative") {
    val rows = SparkEntry.queries("q113_cohort_retention")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (_, off, n) => off should be >= 0L; n should be > 0L }
    // every user appears on their cohort's offset-0 diagonal exactly once,
    // so the diagonal sums to the distinct-user total
    val diag = rows.filter(_._2 == 0L).map(_._3).sum
    val users = graft.sources.Tables.read(spark, sf0001, "events")
      .select("user_id").distinct().count()
    diag shouldBe users
    // no retention cell can exceed its cohort's size
    val size = rows.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    rows.foreach { case (c, _, n) => n should be <= size(c) }
  }
}
