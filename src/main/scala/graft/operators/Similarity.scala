package graft.operators

import scala.jdk.CollectionConverters._

import graft.{QueryModule, SessionLayers}
import graft.functions.VectorFunctions._
import graft.sources.{Tables, TempRoots}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Similarity search over the `embeddings` table (`ArrayType(FloatType)`,
  * 64-dim), the standard ANN ladder — random-hyperplane LSH (Charikar 2002)
  * and IVF coarse quantization with inverted lists plus PQ codes (Jégou et
  * al., "Product quantization for nearest neighbor search", 2011):
  *
  *  1. brute-force cosine top-k — the exact baseline: broadcast the (small)
  *     query set against the corpus, one pass, per-partition top-k;
  *  2. random-hyperplane LSH ANN — sign-bit signatures bucket the corpus so
  *     each probe only scans its bucket (the scale path: bucket count grows
  *     with 2^bits, candidate lists stay small and the join is a plain
  *     equi-join on the signature);
  *  3. IVF/PQ ANN — a SEEDED quantizer (the lowest-id vectors are the
  *     centroids and codebooks, every assignment rounded with deterministic
  *     tiebreaks, so DuckDB replays each step) buckets the corpus into
  *     inverted lists and encodes it as PQ codes; a probe scans only its
  *     own cell, and ADC shortlists are re-ranked exactly.
  *
  * Vector math uses the engine's codegen'd [[graft.functions.CosineSimilarity]]
  * expression when the session has GraftExtensions installed (Verify/Bench
  * do), falling back to built-in higher-order expressions — never a UDF.
  * The query side of every join is broadcast: the corpus — the 100 TB
  * side — is never shuffled.
  */
object Similarity extends QueryModule {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))

  private def litArr(a: Array[Double]): Column =
    array(scala.collection.immutable.ArraySeq.unsafeWrapArray(a.map(lit(_))): _*)

  /** The top-`k` rows per `q_id` of a scored `(q_id, n_id, metric)` frame,
    * best `metric` first (`desc` for a similarity, ascending for a
    * distance) with ties to the lower `n_id`: `(q_id, rn, n_id, metric)`. */
  private def topK(scored: DataFrame, k: Int, metric: String, desc: Boolean): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(if (desc) col(metric).desc else col(metric), col("n_id"))
    scored.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("n_id"), col(metric))
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane i derives
    * from md5(i:j), mapped to [-1, 1). Computed driver-side once (a constant
    * literal in the plan), reproducible across runs and engines. */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (i, j) =>
      val h = md.digest(s"$i:$j".getBytes("UTF-8"))
      val v = java.nio.ByteBuffer.wrap(h).getInt & 0x7fffffff
      (v % 2000) / 1000.0 - 1.0
    }
  }

  /** Banded sign-bit values: planes are grouped `rowsPerBand` at a time and
    * each band's bits pack into one long, yielding an array of
    * `planes.length / rowsPerBand` band values. Two vectors are LSH
    * candidates iff they agree on EVERY bit of at least one band — the
    * banding trade-off (MMDS ch. 3): larger `rowsPerBand` prunes harder but
    * recalls only closer pairs. Used by [[Dedup.embeddingNeardupLsh]].
    * Interpreted HOF form; see [[bandValuesFast]] for the codegen'd path. */
  def bandValues(v: Column, planes: Array[Array[Double]], rowsPerBand: Int): Column = {
    require(planes.length % rowsPerBand == 0, "planes must divide into whole bands")
    array((0 until planes.length / rowsPerBand).map { b =>
      (0 until rowsPerBand).map { i =>
        when(dot(v, litArr(planes(b * rowsPerBand + i))) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** [[bandValues]] via the native codegen'd `graft_lsh_bands` expression
    * when the session has GraftExtensions, else the (bit-identical) HOF
    * form. The banding kernel runs dim×nPlanes multiplies per corpus row —
    * the hottest vector loop in the near-dup/ANN pipelines after cosine. */
  def bandValuesFast(spark: SparkSession, v: Column,
                     planes: Array[Array[Double]], rowsPerBand: Int): Column =
    if (spark.catalog.functionExists("graft_lsh_bands"))
      call_function("graft_lsh_bands", v,
        typedlit(planes.toSeq.flatten), lit(rowsPerBand))
    else bandValues(v, planes, rowsPerBand)

  /** Exact brute-force cosine top-k of `corpus` for each row of `queriesDf`
    * (both with columns vec_id + v). Broadcast-joins the query set — the
    * corpus streams through exactly once. */
  def cosineTopK(queriesDf: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val sp = queriesDf.sparkSession
    val q = broadcast(queriesDf.select(col("vec_id").as("q_id"), col("v").as("qv")))
    topK(q.join(corpus, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(cosineFast(sp, col("qv"), col("v")), 6).as("sim")), k, "sim", desc = true)
  }

  /** ANN via hyperplane LSH: bucket corpus by signature, probe each query's
    * own bucket — plus, with `multiProbe`, every single-bit-flip neighbor
    * bucket (the standard multi-probe recall lever: a near neighbor that
    * disagrees on exactly one hyperplane lands one Hamming step away, and
    * probing those nPlanes buckets recovers it without adding hash tables).
    * The probe fan-out happens on the BROADCAST query side (queries ×
    * (nPlanes+1) rows — still tiny); the corpus is hashed once and the join
    * stays a plain equi-join on the signature, so the 100 TB side is never
    * shuffled and never rescanned. Approximate — recall measured against
    * the exact top-k in the ScalaTest spec, where multi-probe must dominate
    * the single-probe form. */
  def annLsh(s: SparkSession, dir: String, k: Int, nPlanes: Int = 8,
             queryPred: Column = col("vec_id") < 3,
             multiProbe: Boolean = true): DataFrame = {
    val planes = hyperplanes(nPlanes, 64)
    // one r=nPlanes band == the packed signature; native codegen when available
    val e = emb(s, dir).withColumn("sig",
      element_at(bandValuesFast(s, col("v"), planes, nPlanes), 1))
    val probes =
      if (!multiProbe) array(col("sig"))
      else array((Seq(col("sig")) ++
        (0 until nPlanes).map(i => col("sig").bitwiseXOR(lit(1L << i)))): _*)
    val q = broadcast(
      e.filter(queryPred)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          explode(probes).as("qsig")))
    topK(q.join(e, col("sig") === col("qsig") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(cosineFast(s, col("qv"), col("v")), 6).as("sim")), k, "sim", desc = true)
  }

  /** Fully-declarative Lloyd's k-means (q109) — the engine's one trained
    * clustering: squared-L2 assignment and mean update expressed end-to-end
    * as a DataFrame plan (centroids stay a k-row frame, nothing reaches the
    * driver) with every float rounded at 6 dp so DuckDB replays each
    * iteration bit-for-bit — a HASH-EXACT trained-clustering query. The ANN
    * operators below run the iteration-free seeded quantizer
    * ([[seededCells]]) instead.
    *
    * Deterministic configuration: seeds are the k lowest-`vec_id` vectors,
    * assignment is argmin ROUNDED squared-L2 with ties to the lowest
    * centroid id, the update mean is rounded per component, empty cells
    * drop out (both engines lose them from the group-by identically).
    *
    * Scale shape: per iteration, assignment expands the corpus against a
    * BROADCAST k-row centroid frame and collapses back with map-side
    * partial `min(struct(d2, cid))` — the shuffle carries ONE narrow row
    * per vector; the update is a (cid, pos) component mean — k×dim cells
    * with map-side partial sums — reassembled into k array rows by a
    * k-row `collect_list` (bounded by dim, never corpus-sized). The vector
    * itself rides the assignment shuffle (dim×8 B/row); at 100 TB the
    * k×dim centroid table would instead fold into plan literals each
    * iteration, so the corpus never shuffles. */
  def kmeansRefine(vecs: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val s = vecs.sparkSession
    val e = vecs.select(col("vec_id"), col("v"))
    var cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast(LongType).as("cid"), col("v").as("cv"))
    for (_ <- 1 to iters) {
      val assigned = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"),
          struct(round(distSqFast(s, col("v"), col("cv")), 6).as("d2"),
            col("cid")).as("dc"))
        .groupBy(col("vec_id"))
        // first(v) is well-defined: every grouped row carries the same v
        .agg(min(col("dc")).as("m"), first(col("v")).as("v"))
      cents = assigned
        .select(col("m.cid").as("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos"))
        // mean via order-independent DECIMAL sum (not avg(double): the
        // pre-rounding double sum depends on partition order, which can
        // flip a mean sitting on a 1e-6 rounding boundary between runs)
        .agg(round(
          sum(round(col("col"), 12).cast(DecimalType(38, 12))).cast("double")
            / count(lit(1)), 6).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos").as("p"), col("m").as("v")))),
          x => x.getField("v")).as("cv"))
    }
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(round(distSqFast(s, col("v"), col("cv")), 6).as("d2"), col("cid")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("dc")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"))
  }

  /** The seeded coarse quantizer's centroids: the `kCells` lowest-vec_id
    * vectors of `e` as `(cid, cv)` — k×dim cells, broadcast by every
    * assignment against them. */
  private def seededCentroids(e: DataFrame, kCells: Int): DataFrame =
    e.filter(col("vec_id") < kCells).select(col("vec_id").as("cid"), col("v").as("cv"))

  /** The seeded cell rule every IVF operator here shares: each `(vec_id, v)`
    * row of `vecs` goes to the centroid of `cents` ([[seededCentroids]])
    * with the highest ROUNDED cosine, ties to the lowest centroid id (the
    * `max(struct(cos, −cid))` argmax, which DuckDB replays exactly).
    * Returns `(vec_id, cell, carry…)`; the carried columns ride through the
    * per-vector group as `first` — well-defined, every grouped row carries
    * the same value. The corpus is never shuffled against the centroids:
    * the k centroid rows are broadcast and the group collapses back to one
    * row per vector. */
  private def seededCells(vecs: DataFrame, cents: DataFrame, carry: String*): DataFrame = {
    val s = vecs.sparkSession
    val sc = struct(round(cosineFast(s, col("v"), col("cv")), 6).as("cos"),
      (-col("cid")).as("ncid")).as("sc")
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id") +: carry.map(col) :+ sc: _*)
      .groupBy(col("vec_id"))
      .agg(max(col("sc")).as("m"), carry.map(c => first(col(c)).as(c)): _*)
      .select(col("vec_id") +: (-col("m.ncid")).as("cell") +: carry.map(col): _*)
  }

  /** Every vector of `dir`'s corpus with its seeded cell ([[seededCells]]
    * against the `kCells` lowest-id centroids) and the `carry` columns of
    * `(v, label)` — the blocking layer of the seeded IVF operators. The
    * `(vec_id, cell, v, label)` frame is a session layer, built once per
    * (dir, kCells) like the PQ codes of the same frozen model; each caller
    * selects the columns it carries. */
  private def seededAssigned(s: SparkSession, dir: String, kCells: Int,
                             carry: String*): DataFrame =
    SessionLayers.frame(s, "seededCells", dir, kCells) {
      val e = emb(s, dir)
      seededCells(e, seededCentroids(e, kCells), "v", "label")
    }.select(col("vec_id") +: col("cell") +: carry.map(col): _*)

  /** SemDeDup (q99) — Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" (2023): cluster the embedding
    * corpus with a coarse quantizer, then search for near-duplicates ONLY
    * within each cluster — pairwise cost drops from n² to Σ|cluster|² ≈
    * n²/k, and k grows with the corpus so per-cluster work stays bounded.
    * Deterministic fixture configuration so the DuckDB oracle replays every
    * step exactly: the clusters are the seeded quantizer's cells
    * ([[seededCells]]: the k lowest-vec_id vectors as centroids, no Lloyd's
    * iterations, argmax ROUNDED cosine with ties to the lowest centroid
    * id), and a vector is dropped iff some SAME-CLUSTER vector with
    * a lower vec_id has cosine >= `tau` (the paper's keep-one-per-group
    * rule with lowest-id survivorship).
    *
    * Scale shape: assignment is a broadcast of k centroid rows against the
    * corpus (per-row math, corpus unshuffled); the within-cluster pair
    * search is ONE equi-join keyed on the cluster id — the join Spark
    * shuffles both sides on, never a cartesian. Returns
    * `(vec_id, cluster_id, max_lower_cos, keep)`. */
  def semanticDedup(s: SparkSession, dir: String, k: Int = 8,
                    tau: Double = 0.4): DataFrame =
    semanticDedupFrom(emb(s, dir), k, tau)

  /** [[semanticDedup]] over any `(vec_id, v)` frame (spec hook). */
  def semanticDedupFrom(vecs: DataFrame, k: Int, tau: Double): DataFrame = {
    val s = vecs.sparkSession
    val e = vecs.select(col("vec_id"), col("v"))
    val assigned = seededCells(e, seededCentroids(e, k))
    val av = assigned.join(e, Seq("vec_id"))
    val maxLower = av.as("x").join(av.as("y"),
        col("x.cell") === col("y.cell") && col("y.vec_id") < col("x.vec_id"))
      .select(col("x.vec_id").as("vec_id"),
        round(cosineFast(s, col("x.v"), col("y.v")), 6).as("cos"))
      .groupBy(col("vec_id")).agg(max(col("cos")).as("mlc"))
    assigned.join(maxLower, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").as("cluster_id"),
        round(coalesce(col("mlc"), lit(-1.0)), 6).as("max_lower_cos"),
        when(coalesce(col("mlc"), lit(-1.0)) >= tau, lit(0L)).otherwise(lit(1L)).as("keep"))
  }

  /** Nearest-centroid code (0-based) of vector column `v` against the
    * centroid literals, with per-centroid squared-L2 distances ROUNDED at
    * 6 dp before the argmin (ties → lowest code via first-minimum
    * `array_position`) — the PQ code assignment of the seeded codebooks
    * (q108/q192/q381): DuckDB replays `round(d2, 6)` + `(d2, code)`
    * row_number ordering exactly, where an unrounded double argmin would be
    * bit-fragile at ties. Per-row map work only, no join, no shuffle; the
    * distance kernel is the native `graft_l2sq` expression when the session
    * has GraftExtensions. The input column is let-bound as a lambda
    * variable (the 1-element `transform` trick) so an expensive `v` — e.g.
    * a slice of the float→double cast — evaluates once, not once per
    * centroid. */
  def cellOfRounded(s: SparkSession, v: Column, cents: Array[Array[Double]]): Column = {
    def argmin(vv: Column): Column = {
      val ds = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(
        cents.map(c => round(distSqFast(s, vv, litArr(c)), 6))): _*)
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }
    element_at(transform(array(v), vv => argmin(vv)), 1)
  }

  /** Exact brute-force squared-L2 top-k — the L2-metric twin of
    * [[cosineTopK]]; the exact tier the PQ/ADC audit (q192) scores against.
    * Broadcast query side; the corpus streams through once. */
  def l2TopK(queriesDf: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val sp = queriesDf.sparkSession
    val q = broadcast(queriesDf.select(col("vec_id").as("q_id"), col("v").as("qv")))
    topK(q.join(corpus, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(distSqFast(sp, col("qv"), col("v")), 6).as("dist_sq")), k, "dist_sq", desc = false)
  }

  /** Per-query recall/precision of an approximate top-k result against the
    * exact top-k — the q145-style audit row an ANN rollout reads before
    * trusting the index. Both inputs carry (q_id, n_id); counts ride as
    * grouped aggregates (never a driver-side collect). */
  def recallAuditFrom(ann: DataFrame, exact: DataFrame): DataFrame = {
    val a = ann.select(col("q_id"), col("n_id"))
    val x = exact.select(col("q_id"), col("n_id"))
    val hits = x.join(a, Seq("q_id", "n_id"))
    x.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
      .join(a.groupBy(col("q_id")).agg(count(lit(1)).as("n_ann")), Seq("q_id"), "left")
      .join(hits.groupBy(col("q_id")).agg(count(lit(1)).as("n_hit")), Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_ann"), lit(0L)).as("n_ann"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"), 6).as("recall"))
      .orderBy(col("q_id"))
  }

  /** IVF ANN (q40, audited by q191) with the SEEDED (iteration-free)
    * coarse quantizer of [[seededCells]]: the corpus is bucketed into
    * inverted lists by its seeded cell, and a probe is the exact cosine
    * top-k within the query's own cell only (nProbe=1; [[ivfNprobeCurve]]
    * sweeps wider probes). Every step is SQL-replayable, so the oracle
    * verifies the probe pipeline bit-for-bit. The query side of the probe
    * join is broadcast; the corpus is never shuffled. */
  def annIvfSeeded(s: SparkSession, dir: String, k: Int, kCells: Int = 8,
                   queryPred: Column = col("vec_id") < 3): DataFrame = {
    val assigned = seededAssigned(s, dir, kCells, "v")
    val q = broadcast(assigned.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell").as("q_cell")))
    topK(q.join(assigned,
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(cosineFast(s, col("qv"), col("v")), 6).as("sim")), k, "sim", desc = true)
  }

  /** kNN majority-vote classification THROUGH the seeded IVF index (q204) —
    * the label-transfer operator a curation pipeline runs to tag unlabeled
    * documents from a labeled seed set (quality tier, domain, language
    * family) without training a model: held-out vectors (`vec_id % 5 == 0`,
    * a 20% probe set) are classified by the majority label of their top-`k`
    * cosine neighbors among the REMAINING (labeled) vectors, with the
    * candidate scan restricted to the probe's own IVF cell.
    *
    * Every step is the q40/q191 seeded machinery (lowest-id centroids,
    * rounded-cosine argmax assignment, rounded in-cell cosine, rn tie-break
    * on n_id) plus a deterministic vote: most votes wins, ties to the
    * smallest label. Fully SQL-replayable, so the oracle hash-gates the
    * whole classifier, and q169 (nearest-centroid confusion) gives the
    * model-quality baseline this kNN should beat.
    *
    * Scale shape: identical to [[annIvfSeeded]] — the corpus is assigned
    * once (broadcast k×dim centroids, no shuffle of vectors), candidates
    * come only from the probe's cell, and the vote is a (q_id, label)
    * grouped count over ≤ k rows per probe. The probe side is broadcast
    * here (fixture-sized); at a 20%-of-corpus probe set on a real cluster
    * the probe batch would be chunked, or the join shuffled on a
    * finer-than-cell key — the cell key alone (kCells values) must never
    * be the shuffle key. */
  def knnClassifySeeded(s: SparkSession, dir: String, k: Int = 5,
                        kCells: Int = 8): DataFrame = {
    val assigned = seededAssigned(s, dir, kCells, "v", "label")
    val probes = broadcast(assigned.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("cell").as("q_cell"), col("label").as("true_label")))
    val train = assigned.filter(col("vec_id") % 5 =!= 0)
    val scored = probes.join(train, col("cell") === col("q_cell"))
      .select(col("q_id"), col("true_label"), col("vec_id").as("n_id"),
        col("label").as("n_label"),
        round(cosineFast(s, col("qv"), col("v")), 6).as("sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val top = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    val votes = top.groupBy(col("q_id"), col("true_label"), col("n_label"))
      .agg(count(lit(1)).as("n_votes"))
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(col("n_votes").desc, col("n_label"))
    votes.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
      .select(col("q_id").as("vec_id"), col("true_label").as("label"),
        col("n_label").as("pred"), col("n_votes"))
  }

  /** IVF probe-budget recall curve (q253) — THE tuning decision an IVF
    * deployment makes: how many cells must a query probe before recall
    * stops paying for latency? For each query vector and nprobe in
    * {1,2,4}, the in-probed-cells exact-cosine top-10 is scored for
    * recall against the global exact top-10. q191 audits ONE operating
    * point; this sweeps the curve, and its shape (how fast recall
    * saturates) is the published-benchmark readout (Jégou et al., PAMI
    * 2011) that decides the production nprobe. All seeded-quantizer
    * machinery (lowest-id centroids, rounded-cosine argmax, rn tiebreaks)
    * so the whole sweep replays in SQL. Scale: the corpus is assigned
    * once (broadcast centroids), candidates fan out per (query, probed
    * cell) — probe cost ∝ nprobe·cell-size, never the corpus; the exact
    * leg scans the corpus once per query batch (the audit's price, not
    * the serving path's). */
  def ivfNprobeCurve(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = emb(s, dir)
    val cents = seededCentroids(e, 8)
    val assigned = seededAssigned(s, dir, 8, "v")
    val qs = broadcast(e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv")))
    val qc = qs.crossJoin(broadcast(cents))
      .select(col("q_id"), col("cid"),
        round(cosineFast(s, col("qv"), col("cv")), 6).as("cos"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cid"))
    val cellRank = qc.withColumn("crk", row_number().over(wq).cast(LongType))
    val wk = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val exact = qs.join(e.select(col("vec_id").as("n_id"), col("v")),
        col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        round(cosineFast(s, col("qv"), col("v")), 6).as("sim"))
      .withColumn("rn", row_number().over(wk)).filter(col("rn") <= k)
      .select(col("q_id"), col("n_id"))
    val legs = Seq(1, 2, 4).map { p =>
      val probed = cellRank.filter(col("crk") <= p)
        .select(col("q_id").as("pq"), col("cid"))
      val ann = assigned.join(broadcast(probed), col("cell") === col("cid"))
        .join(qs, col("q_id") === col("pq") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(cosineFast(s, col("qv"), col("v")), 6).as("sim"))
        .withColumn("rn", row_number().over(wk)).filter(col("rn") <= k)
        .select(col("q_id"), col("n_id"))
      val hits = ann.join(exact, Seq("q_id", "n_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("h"))
      qs.select(col("q_id")).join(hits, Seq("q_id"), "left")
        .select(col("q_id"), lit(p.toLong).as("nprobe"),
          coalesce(col("h"), lit(0L)).as("n_hits"))
    }
    // recall denominator is the ACTUAL exact-top-k size per query (≤ k):
    // on a corpus with fewer than k candidate vectors, dividing by the
    // constant k would cap recall below 1.0 even for a perfect probe
    val exN = exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_ex"))
    legs.reduce(_.union(_))
      .join(broadcast(exN), Seq("q_id"))
      .select(col("q_id"), col("nprobe"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_ex"), 6).as("recall"))
      .orderBy(col("q_id"), col("nprobe"))
  }

  /** Hard-negative triplet mining (q242) — the contrastive-training data
    * generator (DPR, Karpukhin et al. 2020; SimCSE's hard-negative
    * ablation): for each anchor in the probe slice (vec_id % 5 == 0), the
    * most-similar SAME-label corpus vector (the positive) and the
    * most-similar DIFFERENT-label vector (the hard negative), with the
    * triplet margin sim_pos − sim_neg. Small or negative margins are the
    * triplets worth training on — and, read the other way, the anchors
    * q216's noise audit should look at first. Candidates come from the
    * anchor's seeded-quantizer cell ([[seededAssigned]] — the same
    * blocking layer as q204, so the corpus is never pairwise-joined);
    * both argmaxes are one anchor-partitioned window over the cell-join
    * frame. Anchors whose cell lacks a same-label or different-label
    * neighbor drop out (no triplet exists in-cell). */
  def hardNegatives(s: SparkSession, dir: String, kCells: Int = 8): DataFrame = {
    val assigned = seededAssigned(s, dir, kCells, "v", "label")
    val probes = broadcast(assigned.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("cell").as("q_cell"), col("label").as("q_label")))
    val corpus = assigned.filter(col("vec_id") % 5 =!= 0)
    val scored = probes.join(corpus, col("cell") === col("q_cell"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("n_id"),
        col("label").as("n_label"),
        round(cosineFast(s, col("qv"), col("v")), 6).as("sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val pos = scored.filter(col("n_label") === col("q_label"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("q_label"), col("n_id").as("pos_id"),
        col("sim").as("sim_pos"))
    val neg = scored.filter(col("n_label") =!= col("q_label"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("n_id").as("neg_id"), col("sim").as("sim_neg"))
    pos.join(neg, Seq("q_id"))
      .select(col("q_id").as("anchor_id"), col("q_label").as("label"),
        col("pos_id"), col("sim_pos"), col("neg_id"), col("sim_neg"),
        round(col("sim_pos") - col("sim_neg"), 6).as("margin"))
      .orderBy(col("anchor_id"))
  }

  /** Dominant embedding direction via power iteration (q207) — the top
    * principal component of the centered embedding matrix, computed as
    * `iters` unrolled rounds of v ← X'ᵀ(X'v) with max-abs normalization
    * (no sqrt, no eigensolver), plus the sample variance along the final
    * direction. This is the diagnostics number behind "all-but-the-top"
    * post-processing (Mu & Viswanath, ICLR 2018) and anisotropy audits
    * (Ethayarajh 2019): embedding corpora concentrate mass in one dominant
    * direction, and a pipeline that feeds cosine-based dedup/ANN (q38-q40,
    * q47, q99) wants that direction measured — a very anisotropic corpus
    * makes cosine thresholds misleadingly tight.
    *
    * Never materializes the dim×dim covariance: each iteration is the
    * two-pass mat-vec — d = X'v (per-vector dot, grouped over pos-long
    * rows), then u = X'ᵀd (per-pos accumulation, grouped over vec-long
    * rows) — so the shuffled key spaces are (vec_id) and (pos), both
    * uniform, and the widest intermediate is the n×dim component
    * long-format frame. Determinism: means, d, and the normalized loading
    * are rounded at 6 dp each round, every sum is decimal-space over
    * 12 dp-rounded terms (the q134 convention), and normalization divides
    * by max(|u|) — an order-independent reduction, unlike a float L2 norm.
    * v₀ = 1 on every component (deterministic, and never orthogonal to the
    * top eigenvector in practice; 3 rounds separate the dominant direction
    * far beyond the 6 dp the output is rounded to). */
  /** Power-iteration training for [[dominantDirection]]: returns
    * (per-pos means, max-abs-normalized loading vector) — 2×dim cells, the
    * bounded model the session layer memoizes. */
  def trainDominantDirection(s: SparkSession, dir: String,
                             iters: Int): (Array[Double], Array[Double]) = {
    val e = emb(s, dir)
    // The iterate vector is a MODEL (dim cells), not data: each round folds
    // it into plan literals (a bounded dim-cell driver fetch), so
    // an iteration costs ONE aggregation — a row-local decimal dot against
    // the literal direction, then a (pos)-keyed 12 dp-term decimal sum with
    // map-side partials (dim groups). No corpus-sized join anywhere; the
    // only shuffled rows are the n×dim term rows, once per round.
    val means = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(round(sum(round(col("x"), 12).cast(DecimalType(38, 12))).cast("double")
        / count(lit(1)), 6).as("mu"))
      .orderBy(col("pos")).collect().map(_.getDouble(1)) // bounded: dim cells
    // decimal dot/sum kernels are the shared q207/q208 row-local helpers
    // below (decDot/decSumArr): exact decimal accumulation, so term order
    // is irrelevant — the oracle sums the same rounded terms unordered
    val xc = centered(means)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var w = Array.fill(means.length)(1.0)
    for (_ <- 1 to iters) {
      val u = e.select(col("v"), decDot(xc, w).as("d"))
        .select(posexplode(transform(xc,
          c => round(c * col("d"), 12).cast(DecimalType(38, 12)))).as(Seq("pos", "t")))
        .groupBy(col("pos")).agg(sum(col("t")).cast("double").as("u"))
        .orderBy(col("pos")).collect().map(_.getDouble(1)) // bounded: dim cells
      val m = u.map(math.abs).max
      w = u.map(x => round6(x / m))
    }
    (means, w)
  }

  /** [[trainDominantDirection]] through the session model layer — the
    * direction is a silver artifact, like the seeded PQ model
    * ([[seededPqModel]]): trained once per (session, dir, iters), folded
    * into plan literals by every consumer. */
  def sharedDominantDirection(s: SparkSession, dir: String,
                              iters: Int): (Array[Double], Array[Double]) =
    SessionLayers.value(s, "dominantDirection", dir, iters)(trainDominantDirection(s, dir, iters))

  // -- row-local decimal-exact vector kernels shared by q207/q208 ----------
  private val decZero12 = lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 12))
  /** Exact (order-independent) sum of a DECIMAL(38,12) term array → double. */
  private def decSumArr(terms: Column): Column =
    aggregate(terms, decZero12, (acc, t) => (acc + t).cast(DecimalType(38, 12)))
      .cast("double")
  /** v centered on the literal per-pos means. */
  private def centered(means: Array[Double]): Column =
    zip_with(col("v"), litArr(means), (x, m) => x - m)
  /** round-6 decimal dot of a column vector against a literal vector. */
  private def decDot(xc: Column, wArr: Array[Double]): Column =
    round(decSumArr(zip_with(xc, litArr(wArr),
      (a, b) => round(a * b, 12).cast(DecimalType(38, 12)))), 6)
  /** round-6 decimal L2 norm of a column vector. */
  private def decNorm(xc: Column): Column =
    round(sqrt(decSumArr(transform(xc,
      c => round(c * c, 12).cast(DecimalType(38, 12))))), 6)

  def dominantDirection(s: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val e = emb(s, dir)
    val (means, w) = sharedDominantDirection(s, dir, iters)
    val xc = centered(means)
    def dotW(wArr: Array[Double]): Column = decDot(xc, wArr)
    val varAlong = e.select(dotW(w).as("d"))
      .agg(round(sum(round(pow(col("d"), 2), 12).cast(DecimalType(38, 12))).cast("double")
        / (count(lit(1)) - 1), 6).as("var_along"))
    val loadings = s.createDataFrame(
      s.sparkContext.parallelize(w.toIndexedSeq.zipWithIndex.map {
        case (l, p) => org.apache.spark.sql.Row(p.toLong, l)
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pos", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("loading",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    loadings.crossJoin(broadcast(varAlong))
      .select(col("pos"), col("loading"), col("var_along"))
  }

  /** All-but-the-top residual (q208) — the post-processing transform of Mu &
    * Viswanath (ICLR 2018) applied with q207's trained direction: each
    * vector's projection coefficient onto the dominant direction is removed,
    * and the report emits (projection, centered norm, residual norm, residual
    * ratio) per vector. A corpus whose resid_ratio sits far below 1 is
    * dominated by the common direction — its cosine similarities (q38-q40,
    * q47, q99) are inflated by shared anisotropy rather than content, and the
    * downstream dedup thresholds should be recalibrated on the residuals.
    * proj = (x'·w)/(w·w) — no unit normalization, so no sqrt enters the
    * direction math (w·w is an exact decimal sum of rounded squares,
    * replicated bit-for-bit driver-side).
    *
    * Scale shape: the direction is a session-layer model ([[
    * sharedDominantDirection]]); the transform itself is ONE row-local pass
    * over the corpus — centered array, decimal dot, residual zip — nothing
    * shuffles, nothing joins. This is the shape that matters at 100 TB: the
    * correction is a map, not a fixpoint. */
  def abttResidual(s: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val e = emb(s, dir)
    val (means, w) = sharedDominantDirection(s, dir, iters)
    // w·w replicated with the oracle's arithmetic: decimal sum of 12
    // dp-rounded squares (HALF_UP == away-from-zero on positives)
    val ww = w.map(x => BigDecimal(x * x).setScale(12, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    val xc = centered(means)
    val base = e.select(col("vec_id"), col("v"),
      round(decDot(xc, w) / lit(ww), 6).as("proj"),
      decNorm(xc).as("norm_c"))
    base.select(col("vec_id"), col("proj"), col("norm_c"),
      decNorm(zip_with(centered(means), litArr(w),
        (c, wj) => c - col("proj") * wj)).as("norm_resid"))
      .select(col("vec_id"), col("proj"), col("norm_c"), col("norm_resid"),
        when(col("norm_c") === 0, lit(null).cast("double"))
          .otherwise(round(col("norm_resid") / col("norm_c"), 6)).as("resid_ratio"))
  }

  /** Label-noise estimate via kNN disagreement (q216) — the
    * confident-learning-style QA pass (Northcutt et al., JAIR 2021 reduces
    * to model self-consistency; the kNN form is its model-free proxy) a
    * labeled training set runs before anyone trusts per-class metrics:
    * EVERY labeled vector is re-classified by the majority label of its
    * top-`k` cosine neighbors (self excluded, candidates from its seeded
    * IVF cell — the q204 machinery with probes == corpus), and each label
    * class reports how often its members' neighborhoods vote against them.
    * A class with a high disagree_rate either has noisy labels or is not
    * separable in embedding space — both mean its labels should not gate a
    * release. Same deterministic vote as q204 (count desc, label asc), so
    * the audit is fully oracled. Scale: in-cell scan cost is the q40 IVF
    * trade, self-join restricted to cells; the rollup is |labels| rows. */
  def knnLabelNoise(s: SparkSession, dir: String, k: Int = 5,
                    kCells: Int = 8): DataFrame = {
    val assigned = seededAssigned(s, dir, kCells, "v", "label")
    // probe side == corpus, so NO broadcast: the self-join shuffles both
    // sides on the cell key (at real scale kCells ~ √n, the standard IVF
    // sizing, so the key spreads). The merge hint pins that plan at every
    // size: without it AQE picks a build side by which query stage
    // finishes first, and runs alternate between two final plans.
    val probes = assigned
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("cell").as("q_cell"), col("label").as("own_label"))
    val scored = probes.join(assigned.hint("merge"),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("own_label"), col("vec_id").as("n_id"),
        col("label").as("n_label"),
        round(cosineFast(s, col("qv"), col("v")), 6).as("sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    val top = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    val votes = top.groupBy(col("q_id"), col("own_label"), col("n_label"))
      .agg(count(lit(1)).as("n_votes"))
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(col("n_votes").desc, col("n_label"))
    votes.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
      .groupBy(col("own_label").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n_label") =!= col("own_label"), 1L).otherwise(0L))
          .as("n_disagree"))
      .select(col("label"), col("n_vecs"), col("n_disagree"),
        round(col("n_disagree").cast("double") / col("n_vecs"), 6)
          .as("disagree_rate"))
      .orderBy(col("label"))
  }

  /** Johnson–Lindenstrauss projection audit (q219) — the storage-reduction
    * counterpart of PQ (q108): project each embedding onto the engine's
    * k = 8 deterministic md5-derived hyperplanes (the q39 planes, entries ~
    * Uniform[-1,1) with variance 1/3) and report how well the projected
    * sketch preserves squared norms: est = (3/k)·Σ_j (p_j·v)², distortion =
    * est / ||v||². The distortion distribution is what decides whether an
    * 8-float sketch (32 B/vector) can stand in for the 64-float embedding
    * in coarse distance work — JL says concentration tightens as k grows;
    * the audit MEASURES it on this corpus instead of trusting the theorem's
    * constants. Fully oracled: planes, dots and squares replay in SQL with
    * the decimal-sum convention. One row-local pass; nothing shuffles. */
  def jlDistortion(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val e = emb(s, dir)
    val dim = e.select(org.apache.spark.sql.functions.size(col("v")))
      .head.getInt(0) // bounded 1-row fetch: the embedding width
    val planes = hyperplanes(k, dim)
    val dots = planes.map(p => decDot(col("v"), p))
    val normSq = round(decSumArr(transform(col("v"),
      c => round(c * c, 12).cast(DecimalType(38, 12)))), 6)
    val estimate = round(decSumArr(array(scala.collection.immutable.ArraySeq
      .unsafeWrapArray(dots.map(d => round(d * d, 12).cast(DecimalType(38, 12)))): _*))
      * lit(3.0 / k), 6)
    e.select(col("vec_id"), normSq.as("norm_sq"), estimate.as("est_norm_sq"))
      .select(col("vec_id"), col("norm_sq"), col("est_norm_sq"),
        when(col("norm_sq") === 0, lit(null).cast("double"))
          .otherwise(round(col("est_norm_sq") / col("norm_sq"), 6)).as("distortion"))
  }

  /** Semantic decontamination through the seeded IVF index (q214) — the
    * embedding-space companion to q72's n-gram decontamination: for every
    * EVAL vector (`vec_id % 17 == 0`, standing in for a benchmark/eval set),
    * find its highest-cosine corpus neighbor within its IVF cell and flag
    * contamination at cosine >= `threshold`. Paraphrased or reformatted
    * leakage defeats exact n-gram matching (Yang et al. 2023, "Rethinking
    * Benchmark and Contamination ... ") — the embedding check is the second
    * gate a release audit runs. Machinery is the q40/q204 seeded pipeline
    * (lowest-id centroids, rounded-cosine argmax assignment, in-cell scan,
    * rn tie-break), so the whole audit — best match included — hash-gates
    * against the oracle. Scale shape: identical to [[annIvfSeeded]]; the
    * eval side is the small broadcast side by construction. */
  def semanticDecontam(s: SparkSession, dir: String, kCells: Int = 8,
                       threshold: Double = 0.5): DataFrame = {
    val assigned = seededAssigned(s, dir, kCells, "v")
    val evalSide = broadcast(assigned.filter(col("vec_id") % 17 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell").as("q_cell")))
    val corpus = assigned.filter(col("vec_id") % 17 =!= 0)
    val scored = evalSide.join(corpus, col("cell") === col("q_cell"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(cosineFast(s, col("qv"), col("v")), 6).as("sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id").as("eval_id"), col("n_id").as("corpus_id"),
        col("sim").as("best_cos"),
        when(col("sim") >= threshold, 1L).otherwise(0L).as("contaminated"))
  }

  /** Seeded PQ model — codebooks + the corpus codes frame — shared by every
    * PQ consumer (q108 ADC, the q192 audit, q381 IVF-PQ): subspace
    * codebooks are the subvectors of the `ks` lowest-vec_id vectors (a
    * bounded driver fetch — k×dim cells, never the corpus); the CODES
    * frame is the PQ silver artifact (8 B/vector — in production persisted
    * next to the codebooks, never recomputed per query), materialized
    * once per (session, dir, m, ks) through the model layer. The
    * rounded-argmin tree (m × ks × subDim distance terms) is also the plan
    * whose codegen dominates a cold run — one more reason to build it
    * once. Returns (codebooks, subDim, codes frame). */
  private def seededPqModel(s: SparkSession, dir: String, m: Int, ks: Int)
      : (Array[Array[Array[Double]]], Int, DataFrame) = {
    val e = emb(s, dir)
    // The `ks` lowest-id seed vectors, collected ONCE per (session, dir) —
    // the seeded model's only driver fetch. Uncached it re-runs per call,
    // which q392's four per-micro-batch encodes would pay 4× per invocation
    // (the retrain-inside-the-timed-query anti-pattern in miniature).
    val seeds = SessionLayers.value(s, "pqSeedVectors", dir, ks)(
      e.orderBy(col("vec_id")).limit(ks).select(col("v")).collect()
        .map(_.getSeq[Double](0).toArray))
    require(seeds.length == ks, s"corpus has fewer than $ks vectors")
    // dim derives from the data — a different embedding width must fail
    // fast here, not let slice() silently misalign the subvectors
    val dim = seeds.head.length
    require(dim % m == 0, s"m=$m must divide the embedding dim=$dim")
    require(seeds.forall(_.length == dim),
      s"ragged embedding widths among the $ks seed vectors (expected $dim)")
    val subDim = dim / m
    val books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(b => seeds.map(v => v.slice(b * subDim, (b + 1) * subDim)))
    val coded = SessionLayers.frame(s, "pqSeededCodes", dir, m, ks)(
      e.select(col("vec_id"), seededCodes(s, books, subDim).as("codes")))
    (books, subDim, coded)
  }

  /** The PQ codes of vector column `v`: code b is the [[cellOfRounded]]
    * nearest centroid of subvector b in codebook b. */
  private def seededCodes(s: SparkSession, books: Array[Array[Array[Double]]],
                          subDim: Int): Column =
    array(books.indices.map(b =>
      cellOfRounded(s, slice(col("v"), b * subDim + 1, subDim), books(b))): _*)

  /** The ADC scan + exact re-rank of the seeded PQ model of `dir`, shared by
    * [[annPqAdcSeeded]] and [[annIvfPqSeeded]]: the query side `q`
    * `(q_id, qv, …)` is broadcast against `cand` of the codes frame (the
    * whole frame, or the candidates it restricts to) on `on`. Each
    * candidate's ADC distance sums per-subspace exact L2 to the looked-up
    * centroid (`element_at` into the codebook literal — codegen'd, no UDF),
    * each term rounded and summed in DECIMAL space (order-independent — a
    * plain double sum's last ulp would diverge from the oracle's unordered
    * SUM). The `rerank`-deep ADC shortlist per query is re-scored against
    * the raw vectors (one semi-join-sized fetch) and the exact top-`k` by
    * `dist_sq` returned. The corpus is scanned as codes only and never
    * shuffled. */
  private def adcRerank(s: SparkSession, dir: String, k: Int, m: Int, ks: Int,
                        rerank: Int, q: DataFrame, cand: DataFrame => DataFrame,
                        on: Column): DataFrame = {
    val e = emb(s, dir)
    val (books, subDim, coded) = seededPqModel(s, dir, m, ks)
    val adist = (0 until m).map { b =>
      round(distSqFast(s, slice(col("qv"), b * subDim + 1, subDim),
        element_at(typedlit(books(b).map(_.toSeq).toSeq),
          (element_at(col("codes"), b + 1) + 1).cast("int"))), 6)
        .cast(DecimalType(38, 12))
    }.reduce(_ + _).cast("double")
    val shortlist = broadcast(q).join(cand(coded), on)
      .select(col("q_id"), col("qv"), col("vec_id").as("n_id"), adist.as("adist"))
    val wa = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("n_id"))
    val survivors = shortlist.withColumn("arn", row_number().over(wa))
      .filter(col("arn") <= rerank)
      .select(col("q_id"), col("qv"), col("n_id"))
    val rescored = survivors
      .join(e.select(col("vec_id").as("n_id"), col("v").as("nv")), Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        round(distSqFast(s, col("qv"), col("nv")), 6).as("dist_sq"))
    topK(rescored, k, "dist_sq", desc = false)
  }

  /** ANN via PQ codes (q108, audited by q192) with SEEDED codebooks:
    * subspace centroids are the subvectors of the `ks` lowest-vec_id vectors
    * (no Lloyd's iterations) and code assignment is the ROUNDED argmin
    * ([[cellOfRounded]]); at (m=8, ks=32) a 64-dim float vector is stored
    * as 8 B of codes, 32× smaller. The scan is [[adcRerank]] over every
    * coded vector; the oracle replays codebook build, code assignment, ADC
    * scoring and re-rank exactly. Approximate — recall against the exact
    * L2 top-k is asserted in DedupSimilaritySpec. */
  def annPqAdcSeeded(s: SparkSession, dir: String, k: Int, m: Int = 8, ks: Int = 32,
                     rerank: Int = 64,
                     queryPred: Column = col("vec_id") < 3): DataFrame =
    adcRerank(s, dir, k, m, ks, rerank,
      emb(s, dir).filter(queryPred).select(col("vec_id").as("q_id"), col("v").as("qv")),
      identity, col("vec_id") =!= col("q_id"))

  /** Seeded IVF-PQ (q381) — the composed production billion-vector ANN
    * architecture (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", PAMI 2011): a coarse inverted-file quantizer restricts the
    * candidate set to the query's cell, an ADC scan over the 8-byte PQ
    * codes of ONLY those candidates builds the shortlist, and a
    * `rerank`-deep exact re-rank fixes quantization error. q40 proved the
    * coarse half and q108 the fine half; this is the composition a real
    * deployment serves, with both halves the hash-gated SEEDED variants
    * (lowest-id centroids / codebooks, rounded argmax/argmin, deterministic
    * tiebreaks) so the ENTIRE composed index replays in SQL.
    *
    * Scale shape: the cell frame (vec_id → cell, an int) and the codes
    * frame (vec_id → m bytes) are both keyed silver artifacts — at 100 TB
    * they are co-bucketed on vec_id so their join is a local zip, and the
    * ADC scan touches cell-size × 8 B, not the corpus (at 1B vectors /
    * 1024 cells ≈ 8 MB per probe). Queries broadcast; vectors are fetched
    * full-width only for the ≤`rerank` re-rank rows per query. */
  def annIvfPqSeeded(s: SparkSession, dir: String, k: Int, kCells: Int = 8,
                     m: Int = 8, ks: Int = 32, rerank: Int = 32,
                     queryPred: Column = col("vec_id") < 3): DataFrame = {
    val cells = seededAssigned(s, dir, kCells)
    adcRerank(s, dir, k, m, ks, rerank,
      seededAssigned(s, dir, kCells, "v").filter(queryPred)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell").as("q_cell")),
      // codes ⋈ cells on vec_id: two narrow keyed artifacts (co-bucketed in
      // production — no corpus-width rows move)
      _.join(cells, Seq("vec_id")),
      col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
  }

  /** The persisted rows of the composed IVF-PQ index for every vector
    * matching `pred`: `(vec_id, cell, b, code)` — one narrow row per
    * (vector, subspace), the silver artifact [[annIvfPqSeeded]] serves from.
    * The quantizer MODEL (seeded coarse centroids + seeded PQ codebooks
    * over the FULL corpus' lowest-id vectors) is shared by every slice —
    * the production contract: the model is frozen and retrained on its own
    * cadence, and GIVEN the frozen model a vector's cell and codes depend
    * only on that vector's content. That content-locality is what makes the
    * index CDC-maintainable: the delta for an ingest batch is just the
    * batch's own rows, and old ∪ delta ≡ scratch rebuild (the q121/q383 IVM
    * identity with set-union as the monoid — no cross-row combine at all). */
  private[graft] def annIndexRows(s: SparkSession, dir: String, pred: Column,
                                  kCells: Int = 8, m: Int = 8, ks: Int = 32): DataFrame = {
    val (_, _, coded) = seededPqModel(s, dir, m, ks)
    val cells = seededAssigned(s, dir, kCells)
    // both frames are keyed on vec_id (co-bucketed in production — the join
    // moves only (vec_id, cell) against (vec_id, m codes), never vectors)
    cells.filter(pred).join(coded.filter(pred), Seq("vec_id"))
      .select(col("vec_id"), col("cell"), posexplode(col("codes")))
      .select(col("vec_id"), col("cell").cast(LongType).as("cell"),
        col("pos").cast(LongType).as("b"), col("col").cast(LongType).as("code"))
  }

  /** Encode an ARBITRARY `(vec_id, v)` frame against the FROZEN seeded
    * model of `dir`'s corpus — the per-micro-batch encode step of the
    * streaming index maintainer (q392, `streaming/StreamParity`): cell from
    * [[seededCells]] against the kCells lowest-id centroids and m PQ codes
    * from [[seededCodes]] against the seeded codebooks. Because cell and
    * codes are content-local per vector under the frozen model, this is
    * row-identical to [[annIndexRows]] on the same ids — which is exactly
    * what lets the streaming MERGE path verify against the same scratch-
    * rebuild oracle. The model comes from `dir` (a production deployment
    * loads its persisted quantizer); only the encoded vectors come from the
    * caller's frame. */
  private[graft] def annIndexRowsOf(s: SparkSession, dir: String, vecs: DataFrame,
                                    kCells: Int = 8, m: Int = 8, ks: Int = 32): DataFrame = {
    val (books, subDim, _) = seededPqModel(s, dir, m, ks)
    seededCells(vecs, seededCentroids(emb(s, dir), kCells), "v")
      .select(col("vec_id"), col("cell"), seededCodes(s, books, subDim).as("codes"))
      .select(col("vec_id"), col("cell").cast(LongType).as("cell"),
        posexplode(col("codes")))
      .select(col("vec_id"), col("cell"),
        col("pos").cast(LongType).as("b"), col("col").cast(LongType).as("code"))
  }

  /** The quarter-sample Gram matrix shared by the spectral diagnostics
    * (q336 λ₁, q378 top-2 spectrum): upper-triangle products generated
    * row-locally, map-side combined to ≤2080 rows per partition before the
    * exchange, mirrored to full symmetry after the heavy stage. Returns the
    * checkpointed `(i, j, md decimal, mij double)` frame. */
  private def gramQuarter(s: SparkSession, dir: String): DataFrame = {
    val dec12 = DecimalType(38, 12)
    val upper = emb(s, dir).filter(col("vec_id") % 4 === 0)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(v) - 1), i ->
          |  transform(sequence(i, size(v) - 1), j ->
          |    struct(i AS i, j AS j,
          |      round(round(v[i], 12) * round(v[j], 12), 12) AS p))))""".stripMargin))
        .as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"), col("c.p").as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p").cast(dec12)).as("md"))
    upper.unionByName(
        upper.filter(col("i") =!= col("j"))
          .select(col("j").as("i"), col("i").as("j"), col("md")))
      .select(col("i"), col("j"), col("md"), col("md").cast("double").as("mij"))
      .localCheckpoint()
  }

  /** [[gramQuarter]] collected through the session model layer: the 64×64
    * cell array (≤4096 rows — a bounded model fetch, same class as the
    * seeded PQ model's seed vectors) is cached per (app, dir) so the spectral
    * diagnostics sharing one Gram model (q336 λ₁, q378 top-2) pay for ONE
    * corpus scan per session, not one each. */
  private def sharedGramCells(s: SparkSession, dir: String): Array[org.apache.spark.sql.Row] =
    SessionLayers.value(s, "gramCells", dir)(gramQuarter(s, dir).collect())

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (k output dims ×
    * d input dims), derived like [[hyperplanes]] from md5("jl:i:j") parity —
    * the Achlioptas (2003) database-friendly JL family: entries ±1 satisfy
    * the JL lemma with the same distortion guarantees as Gaussian entries
    * while projection stays pure integer-signed addition. Constants, so the
    * DuckDB oracle inlines the literal signs. */
  def jlSigns(k: Int, d: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k, d) { (i, j) =>
      val h = md.digest(s"jl:$i:$j".getBytes("UTF-8"))
      val v = java.nio.ByteBuffer.wrap(h).getInt & 0x7fffffff
      if ((v & 1) == 1) 1 else -1
    }
  }

  /** Shared q366 expression text, generated once from the sign constants so
    * Spark and DuckDB execute the IDENTICAL operand sequence (left-to-right
    * IEEE double folds bit-match). `idx(j)` renders the engine's array
    * indexing (Spark 0-based `v[j]`, DuckDB 1-based `v[j+1]`). */
  private def jlExprs(signs: Array[Array[Int]], idx: Int => String): (String, String) = {
    val d = signs.head.length
    def diff(j: Int) = s"(va[${idx(j)}] - vb[${idx(j)}])"
    val d2o = (0 until d).map(j => s"${diff(j)} * ${diff(j)}").mkString(" + ")
    val d2p = signs.indices.map { k =>
      val proj = (0 until d)
        .map(j => s"${if (signs(k)(j) > 0) "+" else "-"} ${diff(j)}").mkString(" ")
      s"($proj) * ($proj)"
    }.mkString(" + ")
    (d2o, d2p)
  }
  private val jlSigns16x64 = jlSigns(16, 64)
  // Spark arrays index from 0; DuckDB lists from 1.
  private val (jlD2oSpark, jlD2pSpark) = jlExprs(jlSigns16x64, j => j.toString)
  private[operators] val (jlD2oDuck, jlD2pDuck) =
    jlExprs(jlSigns16x64, j => (j + 1).toString)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Johnson–Lindenstrauss random-projection distortion audit (q366):
    // project every 64-dim embedding to 16 dims with the deterministic ±1
    // sign matrix and measure, on the adjacent-id pair sample, the ratio
    // ||R(a−b)||² / (k·||a−b||²) — the JL lemma says this concentrates
    // around 1, and THIS query is the audit a pipeline runs before trusting
    // a projected index (ANN on 16 dims costs 4× less memory bandwidth than
    // 64). Projection is row-local signed addition (no shuffle; at 100 TB
    // you project once, persist, and the audit rides a linear pair sample —
    // the adjacent-id join is one narrow equi-join). By linearity
    // R(a)−R(b) = R(a−b), so the audit projects the difference directly;
    // both engines run the same generated operand sequence, so the doubles
    // match bitwise before the 6-dp round.
    "q366_jl_projection" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("v"))
      val pairs = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        .join(e.select((col("vec_id") - 1L).as("id_a"), col("vec_id").as("id_b"),
          col("v").as("vb")), "id_a")
      pairs
        .select(col("id_a"), col("id_b"),
          expr(jlD2oSpark).as("o"), expr(jlD2pSpark).as("p"))
        .select(col("id_a"), col("id_b"),
          round(col("o"), 6).as("d2_orig"),
          round(col("p"), 6).as("d2_proj"),
          round(col("p") / (lit(16.0) * col("o")), 6).as("distortion"))
        .orderBy(col("id_a"))
    }),

    // Embedding hygiene gate (q186): the audit run BEFORE any cosine math —
    // a zero-norm vector makes cosine divide by zero, a denormal norm
    // makes it numerically meaningless, and a mostly-zero vector usually
    // marks an upstream featurizer bug. Per label: zero/tiny-norm and
    // majority-zero-component counts + the norm envelope (this fixture is
    // unit-normalized, so the gate reports a clean pass — min=max=1.0).
    // Row-local HOF fold per vector + one bounded rollup; norms fold in
    // identical left-to-right order on both engines.
    "q186_embedding_hygiene" -> ((s, dir) => {
      val nrm = graft.functions.VectorFunctions.norm(col("v"))
      emb(s, dir)
        .select(col("label"), nrm.as("nrm"),
          size(filter(col("v"), x => x === 0.0)).as("n_zero_comp"),
          size(col("v")).as("dim"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
          sum(when(col("nrm") < 0.001 && col("nrm") > 0.0, 1L).otherwise(0L))
            .as("n_tiny_norm"),
          sum(when(col("n_zero_comp") * 2 > col("dim"), 1L).otherwise(0L))
            .as("n_mostly_zero"),
          round(min(col("nrm")), 6).as("min_norm"),
          round(max(col("nrm")), 6).as("max_norm"))
        .orderBy(col("label"))
    }),

    // Nearest-centroid confusion matrix (q169): the probe-classifier eval
    // of embedding quality — per-label centroids (decimal means over
    // narrow (label, pos) rows, the q134 shape), each vector assigned to
    // its nearest label centroid via the codegen'd L2 kernel, confusion
    // cells (true, predicted, n) out. Diagonal mass = how linearly-
    // separable the labels are in embedding space (0.41 here vs 0.10
    // chance), the cheapest "are these embeddings any good" gate a
    // pipeline can run before spending on ANN indexing. Corpus never
    // shuffles: centroids broadcast (k × dim), assignment is row-local,
    // and the output is the k × k grid.
    "q169_centroid_confusion" -> ((s, dir) => {
      val e = emb(s, dir)
      val comps = e.select(col("label"), posexplode(col("v")))
        .groupBy(col("label"), col("pos"))
        .agg(round(
          sum(round(col("col"), 12).cast(DecimalType(38, 12))).cast("double")
            / count(lit(1)), 6).as("m"))
      val cents = comps.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos").as("p"), col("m").as("v")))),
          x => x.getField("v")).as("cv"))
        .select(col("label").as("clabel"), col("cv"))
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("label"),
          struct(round(distSqFast(s, col("v"), col("cv")), 6).as("d2"),
            col("clabel")).as("dc"))
        .groupBy(col("vec_id"), col("label"))
        .agg(min(col("dc")).as("mn"))
        .groupBy(col("label"), col("mn.clabel").as("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("pred"))
    }),

    // ANN via PQ codes + ADC shortlist + exact re-rank (q108) with the
    // SEEDED (iteration-free, SQL-replayable) codebooks, so the DuckDB
    // oracle verifies codebook build, code assignment, ADC scoring and
    // re-rank hash-exactly; recall is gated in DedupSimilaritySpec
    // (monotone-in-rerank floors).
    "q108_pq_adc" -> ((s, dir) =>
      annPqAdcSeeded(s, dir, 5).orderBy(col("q_id"), col("rn"))),

    // Embedding drift monitor (q134): per label, the L2 distance between
    // the centroid of the even-vec_id half and the odd half — the
    // distribution-shift check a production embedding pipeline runs when a
    // new model version or data batch lands (large per-label drift = the
    // space moved; re-index / re-threshold before reusing ANN structures).
    // The halves stand in for "reference batch vs candidate batch"; any
    // partition column works. Centroid means are per-(label, half, pos)
    // partial-aggregated rows (k × 2 × dim cells — never wide arrays
    // through the shuffle), rounded at 6 dp so the oracle replays the
    // exact drift value; the half-vs-half join is on the tiny label key.
    "q134_embedding_drift" -> ((s, dir) => {
      val comps = emb(s, dir)
        .select(col("label"), (col("vec_id") % 2).as("half"), posexplode(col("v")))
        .groupBy(col("label"), col("half"), col("pos"))
        // decimal-space mean — same order-independence rationale as
        // kmeansRefine's centroid update
        .agg(round(
          sum(round(col("col"), 12).cast(DecimalType(38, 12))).cast("double")
            / count(lit(1)), 6).as("m"))
      comps.filter(col("half") === 0).select(col("label"), col("pos"), col("m").as("m0"))
        .join(comps.filter(col("half") === 1)
          .select(col("label"), col("pos"), col("m").as("m1")), Seq("label", "pos"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("dim"),
          // squared-diff terms decimal-sum (order-independent) before sqrt
          round(sqrt(sum(round(pow(col("m0") - col("m1"), 2), 12)
            .cast(org.apache.spark.sql.types.DecimalType(38, 12))).cast("double")), 6)
            .as("drift_l2"))
        .orderBy(col("label"))
    }),

    // Hash-exact Lloyd's k-means: 2 declarative assignment/update rounds,
    // every float rounded at 6 dp so the DuckDB oracle replays the trained
    // clustering bit-for-bit.
    "q109_kmeans_refine" -> ((s, dir) =>
      kmeansRefine(emb(s, dir)).orderBy(col("vec_id"))),

    // Exact cosine top-5 for query vectors vec_id < 3.
    "q38_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      cosineTopK(e.filter(col("vec_id") < 3), e, 5)
        .orderBy(col("q_id"), col("rn"))
    }),

    // ANN via multi-probe hyperplane-LSH buckets (q39). ORACLED: the
    // planes are md5-derived constants, so DuckDB replays signature
    // assignment, the probe fan-out and the in-bucket top-k exactly
    // (recall is additionally audited by q190 and spec-gated).
    "q39_ann_lsh" -> ((s, dir) =>
      annLsh(s, dir, 5).orderBy(col("q_id"), col("rn"))),

    // ANN via IVF centroid probe (q40) with the SEEDED quantizer (q99's
    // convention: k lowest-id centroids, rounded-cosine assignment), so
    // every step is oracle-replayable; recall is audited by q191.
    "q40_ann_ivf" -> ((s, dir) =>
      annIvfSeeded(s, dir, 5).orderBy(col("q_id"), col("rn"))),

    // Composed seeded IVF-PQ (see [[annIvfPqSeeded]]) — q40's coarse cells
    // restricting q108's ADC scan + exact re-rank: the production
    // billion-vector architecture, fully hash-gated.
    "q381_ivf_pq" -> ((s, dir) =>
      annIvfPqSeeded(s, dir, 5).orderBy(col("q_id"), col("rn"))),

    // Recall-vs-exact audit of the composed index (q382): the q192-level
    // evidence — IVF-PQ top-5 scored against the global exact L2 top-5, so
    // the measured recall prices BOTH the cell restriction and the PQ
    // approximation at once.
    "q382_ivf_pq_audit" -> ((s, dir) => {
      val e = emb(s, dir)
      recallAuditFrom(annIvfPqSeeded(s, dir, 5),
        l2TopK(e.filter(col("vec_id") < 3), e, 5))
    }),

    // CDC-maintained ANN index (q386) — q383's nightly-maintenance pattern
    // on the EMBEDDING side, the round-17 verdict's headline ask: the
    // composed IVF-PQ artifacts (coarse-cell assignment + the m PQ codes
    // per vector, [[annIndexRows]]) are persisted as a VersionedLayer table
    // over the standing corpus (vec_id % 10 != 0 — q87's batch split), then
    // ADVANCED by MERGE of the arriving batch's rows (vec_id % 10 == 0).
    // Because cell and codes are content-local per vector under the frozen
    // quantizer model, the batch delta needs no old-state combine at all —
    // and the registered result is the maintained index itself, while the
    // oracle REBUILDS the index from scratch over all vectors: hash
    // equality IS the IVM proof (delta-advance ≡ scratch rebuild), exactly
    // the q383 contract. This is the operator a billion-vector deployment
    // runs nightly: nothing ever re-encodes the standing corpus — the merge
    // anti-join over narrow (vec_id, b) keys is the only pass over the big
    // index, and the batch side broadcasts (AQE decides). Lifecycle is
    // TempRoots.scoped: localCheckpoint the result, delete the root — no
    // side effects escape the query function.
    "q386_ann_index_cdc" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import graft.sources.VersionedLayer
      val root = sc.dir("graft_q386_ann_idx").toString
      // One encode pass serves both the initial standing-index build and
      // the batch delta (assignments are per-vector, so the split-after-
      // encode frame is row-identical to encoding each slice separately —
      // a production nightly run encodes ONLY the arriving batch and
      // never touches the standing rows; here the standing build is part
      // of the measured run anyway, so sharing the pass just avoids a
      // second corpus scan).
      val idx = annIndexRows(s, dir, lit(true)).localCheckpoint()
      VersionedLayer.write(idx.filter(col("vec_id") % 10 =!= 0), root)
      VersionedLayer.merge(idx.filter(col("vec_id") % 10 === 0),
        root, Seq("vec_id", "b"))
      VersionedLayer.read(s, root)
        .orderBy(col("vec_id"), col("b"))
    }),

    // ANN-index takedown (q395) — q394's compliance leg on the DENSE side,
    // completing the maintenance matrix {LSH bands, IVF-PQ} × {batch MERGE,
    // streaming exactly-once, keyed DELETE}: vectors leave the corpus and
    // the standing IVF-PQ index must forget them without a re-encode. The
    // index is key-sorted-compacted (disjoint per-file vec_id ranges —
    // the weekly OPTIMIZE layout), then deleteKeys removes every (cell +
    // code) row of the scattered takedown set (vec_id % 13 = 5) by PREFIX
    // key, rewriting only the files whose range holds a takedown id as
    // anti-join survivors. The frozen seeded quantizer model is NOT
    // retrained by a takedown (the model derives from the training-time
    // corpus; deletion removes indexed vectors, not codebooks) — exactly
    // how a production deployment handles deletion between refreshes. The
    // oracle rebuilds the full index from scratch (the shared ivfPqIndexSql
    // text) and filters the takedown ids: hash equality proves the delete
    // removed exactly the requested vectors' rows and nothing else.
    "q395_ann_index_takedown" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import graft.sources.VersionedLayer
      val root = sc.dir("graft_q395_ann_takedown").toString
      val idx = annIndexRows(s, dir, lit(true)).localCheckpoint()
      VersionedLayer.write(idx, root)
      VersionedLayer.compact(s, root, targetFiles = 4, sortBy = Seq("vec_id"))
      VersionedLayer.deleteKeys(
        emb(s, dir).filter(col("vec_id") % 13 === 5).select(col("vec_id")),
        root, Seq("vec_id"))
      VersionedLayer.read(s, root)
        .orderBy(col("vec_id"), col("b"))
    }),

    // kNN label transfer through the seeded IVF index (see
    // [[knnClassifySeeded]]): held-out 20% classified by in-cell top-5
    // cosine majority vote over the labeled 80%.
    "q204_knn_classifier" -> ((s, dir) =>
      knnClassifySeeded(s, dir).orderBy(col("vec_id"))),

    // Dominant embedding direction + variance along it (see
    // [[dominantDirection]]): 3 power-iteration rounds, fully oracled.
    "q207_dominant_direction" -> ((s, dir) =>
      dominantDirection(s, dir).orderBy(col("pos"))),

    // All-but-the-top anisotropy correction (see [[abttResidual]]).
    "q208_abtt_residual" -> ((s, dir) =>
      abttResidual(s, dir).orderBy(col("vec_id"))),

    // Embedding-space eval decontamination (see [[semanticDecontam]]).
    "q214_semantic_decontam" -> ((s, dir) =>
      semanticDecontam(s, dir).orderBy(col("eval_id"))),

    // kNN-disagreement label-noise audit (see [[knnLabelNoise]]).
    "q216_label_noise" -> ((s, dir) =>
      knnLabelNoise(s, dir).orderBy(col("label"))),

    // Hard-negative triplet mining (see [[hardNegatives]]).
    "q242_hard_negatives" -> ((s, dir) => hardNegatives(s, dir)),

    // IVF probe-budget recall curve (see [[ivfNprobeCurve]]).
    "q253_ivf_nprobe_curve" -> ((s, dir) => ivfNprobeCurve(s, dir)),

    // Cell-label NMI (q278): normalized mutual information between the
    // seeded-quantizer cell assignment and the declared label — "are the
    // ANN partitions label-coherent?", the information-theoretic upgrade
    // of q169's raw confusion counts (NMI prices the whole contingency
    // table against both marginals at once; 0 = cells ignore labels,
    // 1 = cells ARE the labels). Useful both ways: high NMI says
    // label-filtered ANN queries can prune to few cells; low NMI says the
    // quantizer splits on something labels don't capture. All entropies
    // from ONE bounded k×|labels| contingency frame (localCheckpointed for
    // its three marginal consumers), p·log2 p via the q206 log10-ratio
    // convention, decimal-summed.
    "q278_cell_label_nmi" -> ((s, dir) => {
      val dec = DecimalType(38, 12)
      val ct = seededAssigned(s, dir, 8, "label").select(col("cell"), col("label"))
        .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val nn = ct.agg(sum(col("c")).as("n"))
      def h(keyed: DataFrame, out: String): DataFrame =
        keyed.crossJoin(broadcast(nn))
          .select((col("c").cast("double") / col("n")).as("p"))
          .agg(round(-sum(round(col("p") * log10(col("p")) / log10(lit(2.0)), 12)
            .cast(dec)).cast("double"), 6).as(out))
      val hc = h(ct.groupBy(col("cell")).agg(sum(col("c")).as("c")), "h_cell")
      val hl = h(ct.groupBy(col("label")).agg(sum(col("c")).as("c")), "h_label")
      val hj = h(ct, "h_joint")
      hc.crossJoin(hl).crossJoin(hj)
        .select(col("h_cell"), col("h_label"), col("h_joint"),
          round(col("h_cell") + col("h_label") - col("h_joint"), 6).as("mi_bits"))
        .select(col("h_cell"), col("h_label"), col("h_joint"), col("mi_bits"),
          round(col("mi_bits") / sqrt(col("h_cell") * col("h_label")), 6).as("nmi"))
    }),

    // Per-cell simplified silhouette (q301): the partition-quality scalar
    // for the seeded IVF cells — a = cosine distance to the OWN centroid,
    // b = distance to the nearest OTHER centroid, s = (b−a)/max(a,b)
    // (Rousseeuw's silhouette with centroids standing in for cluster-mean
    // dissimilarity, the standard big-data variant: exact silhouette is
    // all-pairs). q278 asks "do cells align with labels"; this asks "are
    // the cells geometrically tight vs their neighbors" — the readout
    // that says whether kCells is carving real structure before an IVF
    // deployment trusts its recall curve (q253). Because assignment IS
    // the cosine argmax, a ≤ b by construction and every silhouette lands
    // in [0,1] (spec-pinned). One corpus × 8-centroid broadcast scan —
    // the same cost as assignment itself; both distances fall out of ONE
    // ranked frame (rn=1 own, rn=2 runner-up), 9-dp pre-rounded decimal
    // sums per cell.
    "q301_cell_silhouette" -> ((s, dir) => {
      val e = emb(s, dir)
      val allcos = e.crossJoin(broadcast(seededCentroids(e, 8)))
        .select(col("vec_id"), col("cid"),
          round(cosineFast(s, col("v"), col("cv")), 6).as("cos"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cid"))
      val ranked = allcos.withColumn("rn", row_number().over(w))
      val own = ranked.filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").as("cell"),
          round(lit(1.0) - col("cos"), 6).as("a"))
      val nxt = ranked.filter(col("rn") === 2)
        .select(col("vec_id"), round(lit(1.0) - col("cos"), 6).as("b"))
      own.join(nxt, "vec_id")
        .select(col("cell"),
          round((col("b") - col("a")) / greatest(col("a"), col("b")), 9).as("sil"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"),
          round(sum(col("sil").cast(DecimalType(38, 9))).cast("double")
            / count(lit(1)), 6).as("mean_silhouette"))
        .orderBy(col("cell"))
    }),

    // Embedding anisotropy audit (q334): ‖mean vector‖² / mean‖v‖² — the
    // fraction of embedding energy living in ONE common direction
    // (Ethayarajh 2019's anisotropy problem: contextual embeddings cluster
    // in a narrow cone, which inflates every cosine and flattens q38/q47's
    // similarity contrast; ≈0 is isotropic, →1 is a degenerate cone worth
    // mean-centering before any cosine tier runs). Per-position means are
    // sign-split integer-space half-up (components are ± and the /n mean
    // is the true-tie class); ‖μ‖² stays exact on the 1e-18 grid; per-
    // vector norms decimal-sum 12-dp-rounded squares (the q220
    // convention). One posexplode pass, everything after is bounded by
    // the dimension.
    "q334_anisotropy" -> ((s, dir) => {
      val dec12 = DecimalType(38, 12)
      val e = emb(s, dir)
      val comps = e.select(col("vec_id"), posexplode(col("v")))
        .select(col("vec_id"), col("pos"), round(col("col"), 12).as("x"))
        .localCheckpoint()
      val mu = comps.groupBy(col("pos"))
        .agg(expr("case when sum(cast(x as decimal(38,12))) >= 0 then " +
          "(2 * cast(sum(cast(x as decimal(38,12))) * 1000000000000 as decimal(38,0))" +
          " + 1000 * count(1)) div (2000 * count(1)) else " +
          "-((2 * cast((- sum(cast(x as decimal(38,12)))) * 1000000000000 as decimal(38,0))" +
          " + 1000 * count(1)) div (2000 * count(1))) end").as("m9"))
      val muNorm = mu.agg((expr(
        "cast(sum(cast(m9 as decimal(19,0)) * cast(m9 as decimal(19,0))) as decimal(38,0))")
        .cast("double") / 1e18).as("mu_norm2"))
      val vn = comps
        .select(col("vec_id"), round(col("x") * col("x"), 12).cast(dec12).as("x2"))
        .groupBy(col("vec_id")).agg(sum(col("x2")).as("n2"))
      val en2 = vn.agg((expr(
        "(2 * cast(sum(n2) * 1000000000000 as decimal(38,0)) + 1000 * count(1))" +
        " div (2000 * count(1))").cast("double") / 1e9).as("mean_norm2"),
        count(lit(1)).as("n_vectors"))
      en2.crossJoin(broadcast(muNorm))
        .select(col("n_vectors"), col("mu_norm2"), col("mean_norm2"),
          round(col("mu_norm2") / col("mean_norm2"), 6).as("anisotropy"),
          round(sqrt(col("mean_norm2")), 6).as("rms_norm"))
    }),

    // Top-eigenvalue share via power iteration (q336): the spectral
    // (gram construction shared with q378 — see [[gramQuarter]])
    // companion to q334 — what fraction of total embedding energy (the
    // Gram trace) the TOP principal direction owns. λ₁/tr near 1/dim is
    // healthy spread; a dominant λ₁ means the space is effectively
    // low-rank and every distance/ANN structure is cheaper AND blunter
    // than its dimension suggests. The corpus is touched ONCE to build
    // the dim×dim second-moment matrix (12-dp pre-rounded products,
    // exact decimal sums — at 100 TB this is the classic one-pass Gram
    // accumulation); FIVE fixed power-iteration rounds then run entirely
    // on the 64²-row matrix frame (bounded joins, 9-dp renormalization
    // each round — fixed count, not convergence, so the oracle unrolls
    // the identical recursion, the q107 PageRank discipline).
    "q336_top_eigen" -> ((s, dir) => {
      val dec12 = DecimalType(38, 12); val dec9 = DecimalType(38, 9)
      // estimator moves that keep 100 TB honest AND the bench clean: the
      // Gram accumulates over a DETERMINISTIC quarter sample (vec_id % 4 —
      // λ₁/tr is a ratio statistic; nobody Grams a full 100 TB corpus) and
      // only the upper triangle is aggregated — M is exactly symmetric
      // (products and rounds commute), so mirroring after the heavy stage
      // yields the identical matrix at half the aggregation cost
      // (18.5 s → ~2 s at sf0.1, measured)
      // upper-triangle products generated ROW-LOCALLY from the array (a
      // nested transform — no comps self-join, no i>j half to discard);
      // the groupBy's map-side combine collapses each partition to ≤2080
      // rows before any exchange, so at 100 TB the shuffle carries a few
      // KB per partition regardless of corpus size
      // the dim×dim matrix is a BOUNDED MODEL FETCH (4096 cells — the same
      // class as this module's centroid/model collects); iterating driver-
      // side replaces ten 64-row Spark job rounds (~2.5 s of scheduling,
      // measured) with microseconds of local arithmetic. Every operation
      // mirrors the oracle's bit-for-bit: scala BigDecimal(double) IS the
      // shortest-repr HALF_UP round Spark's round() performs, and the 9-dp
      // decimal sums are order-independent.
      import scala.math.BigDecimal.RoundingMode.HALF_UP
      def r(x: Double, sc: Int): Double = BigDecimal(x).setScale(sc, HALF_UP).toDouble
      val cells = sharedGramCells(s, dir)
      val dim = cells.map(_.getAs[Int]("i")).max + 1
      val m = Array.ofDim[Double](dim, dim)
      var trD = java.math.BigDecimal.ZERO
      cells.foreach { row =>
        val (i, j) = (row.getAs[Int]("i"), row.getAs[Int]("j"))
        m(i)(j) = row.getAs[Double]("mij")
        if (i == j) trD = trD.add(row.getAs[java.math.BigDecimal]("md"))
      }
      var wv = Array.fill(dim)(1.0)
      for (_ <- 1 to 5) {
        val u = Array.tabulate(dim) { i =>
          var acc = BigDecimal(0)
          var j = 0
          while (j < dim) { acc += BigDecimal(m(i)(j) * wv(j)).setScale(9, HALF_UP); j += 1 }
          acc.toDouble
        }
        var nsq = BigDecimal(0)
        u.foreach(x => nsq += BigDecimal(x * x).setScale(9, HALF_UP))
        val nm = r(math.sqrt(nsq.toDouble), 9)
        wv = u.map(x => r(x / nm, 9))
      }
      var quadD = BigDecimal(0)
      for (i <- 0 until dim; j <- 0 until dim)
        quadD += BigDecimal(wv(i) * m(i)(j) * wv(j)).setScale(9, HALF_UP)
      var wtwD = BigDecimal(0)
      wv.foreach(x => wtwD += BigDecimal(x * x).setScale(9, HALF_UP))
      val trace = trD.doubleValue
      val lambda1 = r(quadD.toDouble / wtwD.toDouble, 6)
      s.range(1).select(lit(trace).as("trace"), lit(lambda1).as("lambda1"),
        lit(r(lambda1 / trace, 6)).as("explained_share"))
    }),

    // Top-2 spectrum via deflated power iteration (q378): λ₂ alongside
    // q336's λ₁ — the pair a corpus geometry audit actually wants: the
    // spectral ratio λ₂/λ₁ says whether the anisotropy is ONE rogue
    // direction (ratio → 0: subtract it, q334/q207 style, and cosines are
    // healthy again) or a low-rank collapse (ratio → 1: the corpus lives in
    // a plane and no single-direction fix helps); top-2 explained share and
    // the effective rank tr/λ₁ quantify the same story. Hotelling deflation
    // (1933): iterate u = Mw − λ₁v₁(v₁ᵀw) so the second iteration converges
    // inside v₁'s orthogonal complement — every step mirrors the oracle's
    // 9-dp rounded operand sequence exactly (λ₁ is the 6-dp value both
    // engines already agree on). Same bounded Gram fetch as q336 (shared
    // [[gramQuarter]] — the corpus pass is one map-side-combined scan; all
    // iteration is on the 64×64 model).
    "q378_top2_spectrum" -> ((s, dir) => {
      import scala.math.BigDecimal.RoundingMode.HALF_UP
      def r(x: Double, sc: Int): Double = BigDecimal(x).setScale(sc, HALF_UP).toDouble
      val cells = sharedGramCells(s, dir)
      val dim = cells.map(_.getAs[Int]("i")).max + 1
      val m = Array.ofDim[Double](dim, dim)
      var trD = java.math.BigDecimal.ZERO
      cells.foreach { row =>
        val (i, j) = (row.getAs[Int]("i"), row.getAs[Int]("j"))
        m(i)(j) = row.getAs[Double]("mij")
        if (i == j) trD = trD.add(row.getAs[java.math.BigDecimal]("md"))
      }
      def mv(w: Array[Double]): Array[Double] = Array.tabulate(dim) { i =>
        var acc = BigDecimal(0); var j = 0
        while (j < dim) { acc += BigDecimal(m(i)(j) * w(j)).setScale(9, HALF_UP); j += 1 }
        acc.toDouble
      }
      def normalize(u: Array[Double]): Array[Double] = {
        var nsq = BigDecimal(0)
        u.foreach(x => nsq += BigDecimal(x * x).setScale(9, HALF_UP))
        val nm = r(math.sqrt(nsq.toDouble), 9)
        u.map(x => r(x / nm, 9))
      }
      def rayleigh(w: Array[Double]): Double = {
        var quad = BigDecimal(0)
        for (i <- 0 until dim; j <- 0 until dim)
          quad += BigDecimal(w(i) * m(i)(j) * w(j)).setScale(9, HALF_UP)
        var wtw = BigDecimal(0)
        w.foreach(x => wtw += BigDecimal(x * x).setScale(9, HALF_UP))
        r(quad.toDouble / wtw.toDouble, 6)
      }
      var v1 = Array.fill(dim)(1.0)
      for (_ <- 1 to 5) v1 = normalize(mv(v1))
      val lambda1 = rayleigh(v1)
      var v2 = Array.fill(dim)(1.0)
      for (_ <- 1 to 5) {
        var ipD = BigDecimal(0); var j = 0
        while (j < dim) { ipD += BigDecimal(v1(j) * v2(j)).setScale(9, HALF_UP); j += 1 }
        val ip = ipD.toDouble
        val base = mv(v2)
        v2 = normalize(Array.tabulate(dim)(i => base(i) - r(lambda1 * v1(i) * ip, 9)))
      }
      val lambda2raw = rayleigh(v2)
      // with a TIGHT spectrum (ratio near 1) five power rounds leave both
      // Rayleigh quotients near the top pair but not order-guaranteed
      // (convergence goes as (λ₂/λ₁)^k); the pair spans the top-2 subspace
      // either way and every emitted diagnostic is order-symmetric, so the
      // report sorts them — identically on both engines
      val hi = math.max(lambda1, lambda2raw)
      val lo = math.min(lambda1, lambda2raw)
      val trace = trD.doubleValue
      s.range(1).select(lit(trace).as("trace"),
        lit(hi).as("lambda1"), lit(lo).as("lambda2"),
        lit(r(lo / hi, 6)).as("spectral_ratio"),
        lit(r((hi + lo) / trace, 6)).as("top2_share"),
        lit(r(trace / hi, 6)).as("effective_rank"))
    }),

    // IVF elbow curve (q344): total and mean within-cell cosine distance
    // at kCells ∈ {2, 4, 8, 16} — the k-selection sweep that justifies
    // the 8 cells every seeded-ANN query here hardcodes (q253 tunes
    // nprobe GIVEN k; this is the knee that chooses k). One corpus ×
    // 30-centroid broadcast pass covers all four k's (cells for k share
    // the lowest-id centroid prefix, so the sweep is one argmax per
    // (k, vector), not four re-scans); distances are exact 6-dp values
    // decimal-summed, means integer-space.
    "q344_ivf_elbow" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val ks = Seq(2L, 4L, 8L, 16L).toDF("kc")
      val cents = seededCentroids(e, 16).crossJoin(broadcast(ks)).filter(col("cid") < col("kc"))
      e.crossJoin(broadcast(cents))
        .select(col("kc"), col("vec_id"),
          struct(round(cosineFast(s, col("v"), col("cv")), 6).as("cos"),
            (-col("cid")).as("ncid")).as("sc"))
        .groupBy(col("kc"), col("vec_id"))
        .agg(max(col("sc")).as("m"))
        .select(col("kc"), (lit(1.0) - col("m.cos")).as("dist"))
        .groupBy(col("kc"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("dist").cast(DecimalType(18, 6))).as("td"))
        .select(col("kc"), col("n_vectors"),
          col("td").cast("double").as("total_dist"),
          (expr("(2 * cast(td * 1000000 as decimal(38,0)) + n_vectors)" +
            " div (2 * n_vectors)").cast("double") / 1e6).as("mean_dist"))
        .orderBy(col("kc"))
    }),

    // JL-sketch norm-distortion audit (see [[jlDistortion]]).
    "q219_jl_distortion" -> ((s, dir) =>
      jlDistortion(s, dir).orderBy(col("vec_id"))),

    // Class-separability report (q220) — the Fisher-style readout behind
    // q169's confusion matrix and q216's noise audit: per label, the mean
    // member-to-own-centroid distance (intra-class spread) against the
    // distance to the NEAREST other centroid; separability < ~1 means the
    // nearest foreign centroid sits inside the class's own spread, so
    // centroid/kNN classifiers over these embeddings cannot separate that
    // class — read this BEFORE debugging a classifier. All distances in the
    // q134 decimal convention (order-independent sums, rounded 6), so the
    // report is fully oracled. Scale: narrow (label, pos) rows, one
    // member-keyed join against broadcast-sized centroid rows, |labels|²
    // centroid pairs.
    "q220_separability" -> ((s, dir) => {
      val dec = DecimalType(38, 12)
      val comps = emb(s, dir)
        .select(col("label"), col("vec_id"), posexplode(col("v")))
      val cents = comps.groupBy(col("label"), col("pos"))
        .agg(round(sum(round(col("col"), 12).cast(dec)).cast("double")
          / count(lit(1)), 6).as("m"))
      val dmem = comps.join(cents, Seq("label", "pos"))
        .groupBy(col("label"), col("vec_id"))
        .agg(round(sqrt(sum(round(pow(col("col") - col("m"), 2), 12).cast(dec))
          .cast("double")), 6).as("dist"))
      val intra = dmem.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("dist").cast(dec)).cast("double") / count(lit(1)), 6)
            .as("intra_mean"))
      val c2c = cents.select(col("label").as("la"), col("pos"), col("m").as("ma"))
        .join(cents.select(col("label").as("lb"), col("pos"), col("m").as("mb")),
          Seq("pos"))
        .filter(col("la") =!= col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(round(sqrt(sum(round(pow(col("ma") - col("mb"), 2), 12).cast(dec))
          .cast("double")), 6).as("d"))
      val nearest = c2c.withColumn("rn", row_number().over(
          Window.partitionBy(col("la")).orderBy(col("d"), col("lb"))))
        .filter(col("rn") === 1)
        .select(col("la").as("label"), col("lb").as("nearest_label"),
          col("d").as("inter_dist"))
      intra.join(nearest, Seq("label"))
        .select(col("label"), col("n_vecs"), col("intra_mean"),
          col("nearest_label"), col("inter_dist"),
          round(col("inter_dist") / col("intra_mean"), 6).as("separability"))
        .orderBy(col("label"))
    }),

    // Embedding corpus statistics per label: count + mean L2 norm.
    "q42_embedding_stats" -> ((s, dir) =>
      emb(s, dir)
        .select(col("label"), norm(col("v")).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("nrm")) / count(lit(1)), 6).as("avg_norm"))
        .orderBy(col("label"))),

    // Int8 scalar quantization: per-vector (min, max) range, 256 levels,
    // reconstruction RMSE — the storage tier under every large ANN index
    // (IVF lists store codes, not floats; 4x smaller scans). Row-local map
    // work. min/max are LET-BOUND as lambda variables (1-element transform)
    // so they are computed once per vector, not once per element — projected
    // aliases would be inlined into the lambda by CollapseProject.
    // floor(x + 0.5) rather than round(): identical halfway behavior in
    // Spark and DuckDB for the non-negative scaled domain, so the oracle
    // replays the quantizer bit-for-bit.
    "q69_embedding_quantize" -> ((s, dir) => {
      val rep = element_at(transform(array(col("v")), w =>
        element_at(transform(
          array(struct(array_min(w).as("mn"), array_max(w).as("mx"))), b => {
            val mn = b.getField("mn")
            val mx = b.getField("mx")
            val sc = when(mx === mn, lit(1.0)).otherwise((mx - mn) / lit(255.0))
            val sqErr = aggregate(w, lit(0.0), (acc, x) =>
              acc + pow(x - (mn + floor((x - mn) / sc + lit(0.5)) * sc), lit(2.0)))
            struct(mn.as("vmin"), mx.as("vmax"),
              sqrt(sqErr / size(w).cast("double")).as("rmse"))
          }), 1)), 1)
      emb(s, dir)
        .select(col("vec_id"), rep.as("r"))
        .select(col("vec_id"),
          round(col("r.vmin"), 6).as("vmin"),
          round(col("r.vmax"), 6).as("vmax"),
          round(col("r.rmse"), 6).as("rmse"))
        .orderBy(col("vec_id"))
    }),

    // Semantic (embedding-cluster) dedup — see [[semanticDedup]].
    "q99_semantic_dedup" -> ((s, dir) =>
      semanticDedup(s, dir).orderBy(col("vec_id"))),

    // ANN recall audits (q190–q192): the approximate tiers scored against
    // their exact top-k ENTIRELY in-engine, q145-style — and hash-gated:
    // q190 replays the md5-derived hyperplane LSH (signature, multi-probe
    // buckets, in-bucket top-k) in DuckDB from the same plane constants;
    // q191/q192 audit q40/q108 themselves: the SEEDED (iteration-free,
    // SQL-replayable) quantizers, so the oracle replays the whole probe and
    // ADC pipeline; DedupSimilaritySpec adds recall floors.
    "q190_ann_lsh_audit" -> ((s, dir) => {
      val e = emb(s, dir)
      recallAuditFrom(annLsh(s, dir, 5),
        cosineTopK(e.filter(col("vec_id") < 3), e, 5))
    }),
    "q191_ann_ivf_audit" -> ((s, dir) => {
      val e = emb(s, dir)
      recallAuditFrom(annIvfSeeded(s, dir, 5),
        cosineTopK(e.filter(col("vec_id") < 3), e, 5))
    }),
    "q192_pq_adc_audit" -> ((s, dir) => {
      val e = emb(s, dir)
      recallAuditFrom(annPqAdcSeeded(s, dir, 5),
        l2TopK(e.filter(col("vec_id") < 3), e, 5))
    })
  )

  /** The q39/q190 hyperplane constants as a DuckDB VALUES list — the SAME
    * md5-derived doubles the engine folds into its plan literals, so the
    * oracle replays signature assignment bit-for-bit (both engines run the
    * identical sequential dot-product fold over the identical constants). */
  private lazy val planesSqlValues: String =
    hyperplanes(8, 64).zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(", ")}])"
    }.mkString(",\n|            ")

  /** Seeded-IVF scored-candidate CTEs (through `sc`) — shared verbatim by
    * the q40 primary oracle and the q191 recall audit, so both replay the
    * IDENTICAL quantizer/probe SQL. */
  /** Power-iteration CTEs through the converged direction `w3`, its
    * projection frame `pj`, and the centered long-format frame `xl` —
    * shared verbatim by the q207 (dominant direction) and q208 (ABTT
    * residual) oracles. */
  private val powerIterSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |xl0 AS (SELECT vec_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM e),
      |mu AS (SELECT pos, round(CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mu
      |       FROM xl0 GROUP BY 1),
      |xl AS (SELECT vec_id, pos, x - mu AS xc FROM xl0 JOIN mu USING (pos)),
      |w0 AS (SELECT pos, 1.0 AS w FROM mu),
      |d1 AS (SELECT vec_id, round(CAST(sum(CAST(round(xc * w, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS d
      |       FROM xl JOIN w0 USING (pos) GROUP BY 1),
      |u1 AS (SELECT pos, CAST(sum(CAST(round(xc * d, 12) AS DECIMAL(38,12))) AS DOUBLE) AS u
      |       FROM xl JOIN d1 USING (vec_id) GROUP BY 1),
      |w1 AS (SELECT pos, round(u / (SELECT max(abs(u)) FROM u1), 6) AS w FROM u1),
      |d2 AS (SELECT vec_id, round(CAST(sum(CAST(round(xc * w, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS d
      |       FROM xl JOIN w1 USING (pos) GROUP BY 1),
      |u2 AS (SELECT pos, CAST(sum(CAST(round(xc * d, 12) AS DECIMAL(38,12))) AS DOUBLE) AS u
      |       FROM xl JOIN d2 USING (vec_id) GROUP BY 1),
      |w2 AS (SELECT pos, round(u / (SELECT max(abs(u)) FROM u2), 6) AS w FROM u2),
      |d3 AS (SELECT vec_id, round(CAST(sum(CAST(round(xc * w, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS d
      |       FROM xl JOIN w2 USING (pos) GROUP BY 1),
      |u3 AS (SELECT pos, CAST(sum(CAST(round(xc * d, 12) AS DECIMAL(38,12))) AS DOUBLE) AS u
      |       FROM xl JOIN d3 USING (vec_id) GROUP BY 1),
      |w3 AS (SELECT pos, round(u / (SELECT max(abs(u)) FROM u3), 6) AS w FROM u3),
      |pj AS (SELECT vec_id, round(CAST(sum(CAST(round(xc * w, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS d
      |       FROM xl JOIN w3 USING (pos) GROUP BY 1)""".stripMargin

  private val ivfSeededScSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      |a AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cv), 6) AS cos FROM e CROSS JOIN c),
      |asg AS (SELECT vec_id, cid FROM
      |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a)
      |        WHERE rn = 1),
      |av AS (SELECT asg.vec_id, asg.cid, e.v FROM asg JOIN e USING (vec_id)),
      |sc AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
      |         round(list_cosine_similarity(q.v, n.v), 6) AS sim
      |       FROM av q JOIN av n ON n.cid = q.cid AND n.vec_id != q.vec_id
      |       WHERE q.vec_id < 3)""".stripMargin

  /** Seeded-PQ/ADC re-ranked CTEs (through `rr`) — shared verbatim by the
    * q108 primary oracle and the q192 recall audit. */
  private val pqSeededRrSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sd AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v FROM
      |        (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 32)),
      |bs AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS b),
      |cb AS (SELECT sd.code, bs.b, list_slice(sd.v, bs.b*8+1, bs.b*8+8) AS cv FROM sd CROSS JOIN bs),
      |sv AS (SELECT e.vec_id, bs.b, list_slice(e.v, bs.b*8+1, bs.b*8+8) AS sv FROM e CROSS JOIN bs),
      |d AS (SELECT sv.vec_id, sv.b, cb.code,
      |        round(list_aggregate(list_transform(range(8),
      |              i -> pow(sv.sv[i+1] - cb.cv[i+1], 2)), 'sum'), 6) AS d2
      |      FROM sv JOIN cb USING (b)),
      |codes AS (SELECT vec_id, b, code FROM
      |           (SELECT *, row_number() OVER (PARTITION BY vec_id, b ORDER BY d2, code) AS rn FROM d)
      |          WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3),
      |qs AS (SELECT q.q_id, bs.b, list_slice(q.qv, bs.b*8+1, bs.b*8+8) AS sv FROM q CROSS JOIN bs),
      |ad AS (SELECT qs.q_id, c.vec_id AS n_id,
      |         CAST(sum(CAST(round(list_aggregate(list_transform(range(8),
      |                i -> pow(qs.sv[i+1] - cb.cv[i+1], 2)), 'sum'), 6) AS DECIMAL(38,12))) AS DOUBLE) AS adist
      |       FROM qs JOIN codes c ON c.b = qs.b AND c.vec_id != qs.q_id
      |       JOIN cb ON cb.b = c.b AND cb.code = c.code
      |       GROUP BY 1, 2),
      |sl AS (SELECT q_id, n_id FROM
      |        (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rn FROM ad)
      |       WHERE rn <= 64),
      |rr AS (SELECT sl.q_id, sl.n_id,
      |         round(list_aggregate(list_transform(range(64),
      |               i -> pow(q.qv[i+1] - ne.v[i+1], 2)), 'sum'), 6) AS dist_sq
      |       FROM sl JOIN q ON q.q_id = sl.q_id JOIN e ne ON ne.vec_id = sl.n_id)""".stripMargin

  /** Scratch-rebuild CTEs of the composed IVF-PQ index — everything through
    * per-vector coarse-cell assignment (`asg`) and PQ code assignment
    * (`codes`): [[ivfSeededScSql]]'s coarse half composed with
    * [[pqSeededRrSql]]'s codebook/code half over the full corpus. Shared as
    * the prefix of [[ivfPqRrSql]] (the q381/q382 probe oracles) and as the
    * body of the q386 index-maintenance oracle — one text, so the engine's
    * persisted index and the probes that consume it can never drift. */
  // private[graft]: shared with the q392 streaming-maintenance oracle
  // (streaming/StreamParity) — stream path and batch path verify against
  // ONE rebuild text, the lshIndexCte pattern on the dense side.
  private[graft] val ivfPqIndexSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      |a AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cv), 6) AS cos FROM e CROSS JOIN c),
      |asg AS (SELECT vec_id, cid FROM
      |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a)
      |        WHERE rn = 1),
      |sd AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v FROM
      |        (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 32)),
      |bs AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS b),
      |cb AS (SELECT sd.code, bs.b, list_slice(sd.v, bs.b*8+1, bs.b*8+8) AS cv FROM sd CROSS JOIN bs),
      |sv AS (SELECT e.vec_id, bs.b, list_slice(e.v, bs.b*8+1, bs.b*8+8) AS sv FROM e CROSS JOIN bs),
      |d AS (SELECT sv.vec_id, sv.b, cb.code,
      |        round(list_aggregate(list_transform(range(8),
      |              i -> pow(sv.sv[i+1] - cb.cv[i+1], 2)), 'sum'), 6) AS d2
      |      FROM sv JOIN cb USING (b)),
      |codes AS (SELECT vec_id, b, code FROM
      |           (SELECT *, row_number() OVER (PARTITION BY vec_id, b ORDER BY d2, code) AS rn FROM d)
      |          WHERE rn = 1)""".stripMargin

  /** Seeded IVF-PQ re-ranked CTEs (through `rr`) — shared by the q381
    * primary oracle and the q382 recall audit. [[ivfPqIndexSql]]'s index
    * plus the probe: the ADC aggregation additionally joins the candidate's
    * cell assignment against the query's cell (nprobe = 1), and the
    * shortlist depth is 32 (the cell already pruned the corpus). */
  private val ivfPqRrSql: String = ivfPqIndexSql +
    """,
      |q AS (SELECT e.vec_id AS q_id, e.v AS qv, asg.cid AS q_cell
      |      FROM e JOIN asg USING (vec_id) WHERE e.vec_id < 3),
      |qs AS (SELECT q.q_id, q.q_cell, bs.b, list_slice(q.qv, bs.b*8+1, bs.b*8+8) AS sv
      |       FROM q CROSS JOIN bs),
      |ad AS (SELECT qs.q_id, cd.vec_id AS n_id,
      |         CAST(sum(CAST(round(list_aggregate(list_transform(range(8),
      |                i -> pow(qs.sv[i+1] - cb.cv[i+1], 2)), 'sum'), 6) AS DECIMAL(38,12))) AS DOUBLE) AS adist
      |       FROM qs JOIN codes cd ON cd.b = qs.b AND cd.vec_id != qs.q_id
      |       JOIN asg na ON na.vec_id = cd.vec_id AND na.cid = qs.q_cell
      |       JOIN cb ON cb.b = cd.b AND cb.code = cd.code
      |       GROUP BY 1, 2),
      |sl AS (SELECT q_id, n_id FROM
      |        (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS rn FROM ad)
      |       WHERE rn <= 32),
      |rr AS (SELECT sl.q_id, sl.n_id,
      |         round(list_aggregate(list_transform(range(64),
      |               i -> pow(q.qv[i+1] - ne.v[i+1], 2)), 'sum'), 6) AS dist_sq
      |       FROM sl JOIN q ON q.q_id = sl.q_id JOIN e ne ON ne.vec_id = sl.n_id)""".stripMargin

  /** Shared oracle tail for the three ANN audits: exact/ann/hit counts per
    * query id + recall, mirroring [[recallAuditFrom]]'s null-safe joins. */
  private val auditTailSql: String =
    """xe AS (SELECT q_id, count(*) AS n_exact FROM ex GROUP BY 1),
      |xa AS (SELECT q_id, count(*) AS n_ann FROM ann GROUP BY 1),
      |xh AS (SELECT ex.q_id, count(*) AS n_hit FROM ex JOIN ann USING (q_id, n_id) GROUP BY 1)
      |SELECT xe.q_id, xe.n_exact,
      |       CAST(coalesce(xa.n_ann, 0) AS BIGINT) AS n_ann,
      |       CAST(coalesce(xh.n_hit, 0) AS BIGINT) AS n_hit,
      |       round(CAST(coalesce(xh.n_hit, 0) AS DOUBLE) / xe.n_exact, 6) AS recall
      |FROM xe LEFT JOIN xa USING (q_id) LEFT JOIN xh USING (q_id)
      |ORDER BY q_id""".stripMargin

  /** Multi-probe LSH scored-candidate CTEs (through `sc`) — shared verbatim
    * by the q39 primary oracle and the q190 recall audit. The planes are
    * md5-DERIVED CONSTANTS (not data-trained), so unlike a trained
    * quantizer the whole q39 pipeline — signature assignment, the
    * nPlanes+1 probe buckets, in-bucket cosine top-k — replays in DuckDB
    * bit-for-bit from [[planesSqlValues]]. */
  private lazy val lshScSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |pl AS (SELECT * FROM (VALUES
      |            $planesSqlValues) AS t(plane_id, p)),
      |sig AS (SELECT e.vec_id,
      |          CAST(sum(CASE WHEN list_aggregate(list_transform(range(64),
      |                 i -> e.v[i+1] * pl.p[i+1]), 'sum') >= 0
      |               THEN CAST(1 AS BIGINT) << pl.plane_id ELSE 0 END) AS BIGINT) AS sig
      |        FROM e CROSS JOIN pl GROUP BY e.vec_id),
      |qp AS (SELECT s.vec_id AS q_id, e.v AS qv, xor(s.sig, f.b) AS qsig
      |       FROM sig s JOIN e USING (vec_id)
      |       CROSS JOIN (SELECT CAST(unnest([0,1,2,4,8,16,32,64,128]) AS BIGINT) AS b) f
      |       WHERE s.vec_id < 3),
      |sc AS (SELECT q.q_id, s.vec_id AS n_id,
      |         round(list_cosine_similarity(q.qv, ne.v), 6) AS sim
      |       FROM qp q JOIN sig s ON s.sig = q.qsig AND s.vec_id != q.q_id
      |       JOIN e ne ON ne.vec_id = s.vec_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q366_jl_projection" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
         |       FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
         |x AS (SELECT id_a, id_b, ($jlD2oDuck) AS o, ($jlD2pDuck) AS pp FROM pr)
         |SELECT id_a, id_b, round(o, 6) AS d2_orig, round(pp, 6) AS d2_proj,
         |       round(pp / (16.0 * o), 6) AS distortion
         |FROM x ORDER BY id_a""".stripMargin,
    // q39's PRIMARY oracle: the multi-probe LSH top-5 itself (the audit
    // q190 reuses the same CTEs and scores it against the exact top-k).
    "q39_ann_lsh" ->
      (lshScSql +
        """
        |SELECT q_id, rn, n_id, sim FROM
        |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |   FROM sc)
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin),
    "q190_ann_lsh_audit" ->
      (lshScSql +
        """,
        |ann AS (SELECT q_id, n_id FROM
        |         (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |          FROM sc) WHERE rn <= 5),
        |exs AS (SELECT q.vec_id AS q_id, ne.vec_id AS n_id,
        |          round(list_cosine_similarity(q.v, ne.v), 6) AS sim
        |        FROM (SELECT * FROM e WHERE vec_id < 3) q
        |        JOIN e ne ON ne.vec_id != q.vec_id),
        |ex AS (SELECT q_id, n_id FROM
        |        (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |         FROM exs) WHERE rn <= 5),
        |""".stripMargin + auditTailSql),
    // q40's PRIMARY oracle: the seeded-IVF probe top-5 itself (the audit
    // q191 reuses the same CTEs and scores it against the exact top-k).
    "q40_ann_ivf" ->
      (ivfSeededScSql +
        """
        |SELECT q_id, rn, n_id, sim FROM
        |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |   FROM sc)
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin),
    "q207_dominant_direction" ->
      (powerIterSql +
        """,
          |va AS (SELECT round(CAST(sum(CAST(round(pow(d, 2), 12) AS DECIMAL(38,12))) AS DOUBLE) /
          |              ((SELECT count(*) FROM e) - 1), 6) AS var_along FROM pj)
          |SELECT CAST(pos AS BIGINT) AS pos, w AS loading, var_along
          |FROM w3 CROSS JOIN va ORDER BY pos""".stripMargin),
    "q208_abtt_residual" ->
      (powerIterSql +
        """,
          |ww AS (SELECT CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE) AS ww FROM w3),
          |p AS (SELECT vec_id, round(d / ww, 6) AS proj FROM pj CROSS JOIN ww),
          |nc AS (SELECT vec_id, round(sqrt(CAST(sum(CAST(round(xc * xc, 12) AS DECIMAL(38,12))) AS DOUBLE)), 6) AS norm_c
          |       FROM xl GROUP BY 1),
          |rs AS (SELECT xl.vec_id, xl.xc - p.proj * w3.w AS r
          |       FROM xl JOIN p USING (vec_id) JOIN w3 USING (pos)),
          |nr AS (SELECT vec_id, round(sqrt(CAST(sum(CAST(round(r * r, 12) AS DECIMAL(38,12))) AS DOUBLE)), 6) AS norm_resid
          |       FROM rs GROUP BY 1)
          |SELECT vec_id, p.proj, nc.norm_c, nr.norm_resid,
          |       round(nr.norm_resid / nullif(nc.norm_c, 0), 6) AS resid_ratio
          |FROM p JOIN nc USING (vec_id) JOIN nr USING (vec_id) ORDER BY vec_id""".stripMargin),
    "q220_separability" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT label, vec_id, unnest(range(len(v))) AS pos, unnest(v) AS c FROM e),
        |cents AS (SELECT label, pos,
        |            round(CAST(sum(CAST(round(c, 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS m
        |          FROM x GROUP BY 1, 2),
        |dmem AS (SELECT x.label, x.vec_id,
        |           round(sqrt(CAST(sum(CAST(round(pow(x.c - cents.m, 2), 12) AS DECIMAL(38,12))) AS DOUBLE)), 6) AS dist
        |         FROM x JOIN cents ON cents.label = x.label AND cents.pos = x.pos
        |         GROUP BY 1, 2),
        |intra AS (SELECT label, count(*) AS n_vecs,
        |            round(CAST(sum(CAST(dist AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS intra_mean
        |          FROM dmem GROUP BY 1),
        |c2c AS (SELECT a.label AS la, b.label AS lb,
        |          round(sqrt(CAST(sum(CAST(round(pow(a.m - b.m, 2), 12) AS DECIMAL(38,12))) AS DOUBLE)), 6) AS d
        |        FROM cents a JOIN cents b ON a.pos = b.pos AND a.label != b.label
        |        GROUP BY 1, 2),
        |near AS (SELECT la AS label, lb AS nearest_label, d AS inter_dist FROM
        |          (SELECT *, row_number() OVER (PARTITION BY la ORDER BY d, lb) AS rn FROM c2c)
        |         WHERE rn = 1)
        |SELECT label, n_vecs, intra_mean, nearest_label, inter_dist,
        |       round(inter_dist / intra_mean, 6) AS separability
        |FROM intra JOIN near USING (label) ORDER BY label""".stripMargin,
    "q219_jl_distortion" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pl AS (SELECT * FROM (VALUES
        |            $planesSqlValues) AS t(plane_id, p)),
        |ii AS (SELECT CAST(unnest(range(64)) AS INTEGER) AS i),
        |d AS (SELECT e.vec_id, pl.plane_id,
        |        round(CAST(sum(CAST(round(e.v[i+1] * pl.p[i+1], 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS d
        |      FROM e CROSS JOIN pl CROSS JOIN ii GROUP BY 1, 2),
        |n2 AS (SELECT vec_id,
        |         round(CAST(sum(CAST(round(v[i+1] * v[i+1], 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS norm_sq
        |       FROM e CROSS JOIN ii GROUP BY 1),
        |est AS (SELECT vec_id,
        |          round(CAST(sum(CAST(round(d * d, 12) AS DECIMAL(38,12))) AS DOUBLE) * 0.375, 6) AS est_norm_sq
        |        FROM d GROUP BY 1)
        |SELECT vec_id, n2.norm_sq, est.est_norm_sq,
        |       round(est.est_norm_sq / nullif(n2.norm_sq, 0), 6) AS distortion
        |FROM n2 JOIN est USING (vec_id) ORDER BY vec_id""".stripMargin,
    "q216_label_noise" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |a AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cv), 6) AS cos FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, cid FROM
        |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a)
        |        WHERE rn = 1),
        |av AS (SELECT asg.vec_id, asg.cid, e.v, e.label FROM asg JOIN e USING (vec_id)),
        |sc AS (SELECT q.vec_id AS q_id, q.label AS own_label, n.vec_id AS n_id, n.label AS n_label,
        |         round(list_cosine_similarity(q.v, n.v), 6) AS sim
        |       FROM av q JOIN av n ON n.cid = q.cid AND n.vec_id != q.vec_id),
        |top AS (SELECT * FROM
        |         (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM sc)
        |        WHERE rn <= 5),
        |votes AS (SELECT q_id, own_label, n_label, count(*) AS n_votes FROM top GROUP BY 1, 2, 3),
        |pred AS (SELECT q_id, own_label, n_label AS pred FROM
        |          (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, n_label) AS vr FROM votes)
        |         WHERE vr = 1)
        |SELECT own_label AS label, count(*) AS n_vecs,
        |       CAST(sum(CASE WHEN pred != own_label THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree,
        |       round(CAST(sum(CASE WHEN pred != own_label THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS disagree_rate
        |FROM pred GROUP BY own_label ORDER BY label""".stripMargin,
    "q214_semantic_decontam" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |a AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cv), 6) AS cos FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, cid FROM
        |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a)
        |        WHERE rn = 1),
        |av AS (SELECT asg.vec_id, asg.cid, e.v FROM asg JOIN e USING (vec_id)),
        |sc AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |         round(list_cosine_similarity(q.v, n.v), 6) AS sim
        |       FROM av q JOIN av n ON n.cid = q.cid AND n.vec_id % 17 != 0
        |       WHERE q.vec_id % 17 = 0),
        |b AS (SELECT q_id, n_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM sc)
        |SELECT q_id AS eval_id, n_id AS corpus_id, sim AS best_cos,
        |       CAST(CASE WHEN sim >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM b WHERE rn = 1 ORDER BY eval_id""".stripMargin,
    "q204_knn_classifier" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |a AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cv), 6) AS cos FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, cid FROM
        |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a)
        |        WHERE rn = 1),
        |av AS (SELECT asg.vec_id, asg.cid, e.v, e.label FROM asg JOIN e USING (vec_id)),
        |sc AS (SELECT q.vec_id AS q_id, q.label AS true_label, n.vec_id AS n_id, n.label AS n_label,
        |         round(list_cosine_similarity(q.v, n.v), 6) AS sim
        |       FROM av q JOIN av n ON n.cid = q.cid AND n.vec_id % 5 != 0
        |       WHERE q.vec_id % 5 = 0),
        |top AS (SELECT * FROM
        |         (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM sc)
        |        WHERE rn <= 5),
        |votes AS (SELECT q_id, true_label, n_label, count(*) AS n_votes FROM top GROUP BY 1, 2, 3)
        |SELECT q_id AS vec_id, true_label AS label, n_label AS pred, n_votes FROM
        |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, n_label) AS vr FROM votes)
        |WHERE vr = 1 ORDER BY vec_id""".stripMargin,
    "q336_top_eigen" -> {
      val iters = (1 to 5).map { k =>
        val prev = if (k == 1) "w0" else s"w${k - 1}"
        s"""u$k AS MATERIALIZED (
           |  SELECT i, CAST(sum(CAST(round(mij * w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS u
           |  FROM m2 JOIN $prev USING (j) GROUP BY 1),
           |n$k AS (SELECT round(sqrt(CAST(sum(CAST(round(u * u, 9) AS DECIMAL(38,9))) AS DOUBLE)), 9) AS nm FROM u$k),
           |w$k AS MATERIALIZED (SELECT i AS j, round(u / nm, 9) AS w FROM u$k CROSS JOIN n$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |           WHERE vec_id % 4 = 0),
         |comps AS (SELECT vec_id, unnest(range(len(v))) AS pos, round(unnest(v), 12) AS x FROM e),
         |mat AS MATERIALIZED (
         |  SELECT a.pos AS i, b.pos AS j,
         |         sum(CAST(round(a.x * b.x, 12) AS DECIMAL(38,12))) AS md
         |  FROM comps a JOIN comps b USING (vec_id) GROUP BY 1, 2),
         |m2 AS MATERIALIZED (SELECT i, j, md, CAST(md AS DOUBLE) AS mij FROM mat),
         |w0 AS (SELECT DISTINCT j, 1.0 AS w FROM m2),
         |$iters,
         |lam AS (SELECT CAST(sum(CAST(round(wi.w * mij * wj.w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS quad
         |        FROM m2 JOIN w5 wj ON wj.j = m2.j JOIN w5 wi ON wi.j = m2.i),
         |wtw AS (SELECT CAST(sum(CAST(round(w * w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS wtw FROM w5),
         |tr AS (SELECT CAST(sum(md) AS DOUBLE) AS trace FROM m2 WHERE i = j),
         |x AS (SELECT trace, round(quad / wtw, 6) AS lambda1 FROM lam CROSS JOIN wtw CROSS JOIN tr)
         |SELECT trace, lambda1, round(lambda1 / trace, 6) AS explained_share FROM x""".stripMargin
    },
    // q378: the q336 chain + 5 Hotelling-deflated rounds. Every deflated
    // round is (inner product with v1) + (mat-vec) − (rounded λ₁v₁(v₁ᵀw))
    // — the Spark driver-side loop runs the identical operand sequence.
    "q378_top2_spectrum" -> {
      val iters = (1 to 5).map { k =>
        val prev = if (k == 1) "w0" else s"w${k - 1}"
        s"""u$k AS MATERIALIZED (
           |  SELECT i, CAST(sum(CAST(round(mij * w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS u
           |  FROM m2 JOIN $prev USING (j) GROUP BY 1),
           |n$k AS (SELECT round(sqrt(CAST(sum(CAST(round(u * u, 9) AS DECIMAL(38,9))) AS DOUBLE)), 9) AS nm FROM u$k),
           |w$k AS MATERIALIZED (SELECT i AS j, round(u / nm, 9) AS w FROM u$k CROSS JOIN n$k)""".stripMargin
      }.mkString(",\n")
      val defl = (1 to 5).map { k =>
        val prev = if (k == 1) "d0" else s"d${k - 1}"
        s"""dip$k AS (SELECT CAST(sum(CAST(round(w5.w * p.w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS ip
           |          FROM w5 JOIN $prev p USING (j)),
           |dmv$k AS (SELECT i, CAST(sum(CAST(round(mij * p.w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS mv
           |          FROM m2 JOIN $prev p USING (j) GROUP BY 1),
           |du$k AS (SELECT dmv$k.i, mv - round(x.lambda1 * v1.w * dip$k.ip, 9) AS u
           |         FROM dmv$k JOIN (SELECT j AS i, w FROM w5) v1 USING (i)
           |         CROSS JOIN dip$k CROSS JOIN x),
           |dn$k AS (SELECT round(sqrt(CAST(sum(CAST(round(u * u, 9) AS DECIMAL(38,9))) AS DOUBLE)), 9) AS nm FROM du$k),
           |d$k AS MATERIALIZED (SELECT i AS j, round(u / nm, 9) AS w FROM du$k CROSS JOIN dn$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |           WHERE vec_id % 4 = 0),
         |comps AS (SELECT vec_id, unnest(range(len(v))) AS pos, round(unnest(v), 12) AS x FROM e),
         |mat AS MATERIALIZED (
         |  SELECT a.pos AS i, b.pos AS j,
         |         sum(CAST(round(a.x * b.x, 12) AS DECIMAL(38,12))) AS md
         |  FROM comps a JOIN comps b USING (vec_id) GROUP BY 1, 2),
         |m2 AS MATERIALIZED (SELECT i, j, md, CAST(md AS DOUBLE) AS mij FROM mat),
         |w0 AS (SELECT DISTINCT j, 1.0 AS w FROM m2),
         |$iters,
         |lam AS (SELECT CAST(sum(CAST(round(wi.w * mij * wj.w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS quad
         |        FROM m2 JOIN w5 wj ON wj.j = m2.j JOIN w5 wi ON wi.j = m2.i),
         |wtw AS (SELECT CAST(sum(CAST(round(w * w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS wtw FROM w5),
         |tr AS (SELECT CAST(sum(md) AS DOUBLE) AS trace FROM m2 WHERE i = j),
         |x AS (SELECT trace, round(quad / wtw, 6) AS lambda1 FROM lam CROSS JOIN wtw CROSS JOIN tr),
         |d0 AS (SELECT DISTINCT j, 1.0 AS w FROM m2),
         |$defl,
         |lam2 AS (SELECT CAST(sum(CAST(round(wi.w * mij * wj.w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS quad
         |         FROM m2 JOIN d5 wj ON wj.j = m2.j JOIN d5 wi ON wi.j = m2.i),
         |wtw2 AS (SELECT CAST(sum(CAST(round(w * w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS wtw FROM d5),
         |y AS (SELECT x.trace,
         |        greatest(x.lambda1, round(lam2.quad / wtw2.wtw, 6)) AS hi,
         |        least(x.lambda1, round(lam2.quad / wtw2.wtw, 6)) AS lo
         |      FROM x CROSS JOIN lam2 CROSS JOIN wtw2)
         |SELECT trace, hi AS lambda1, lo AS lambda2,
         |       round(lo / hi, 6) AS spectral_ratio,
         |       round((hi + lo) / trace, 6) AS top2_share,
         |       round(trace / hi, 6) AS effective_rank
         |FROM y""".stripMargin
    },
    "q344_ivf_elbow" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ks AS (SELECT CAST(unnest([2, 4, 8, 16]) AS BIGINT) AS kc),
        |c AS (SELECT ks.kc, e.vec_id AS cid, e.v AS cv
        |      FROM e CROSS JOIN ks WHERE e.vec_id < ks.kc),
        |a AS (SELECT c.kc, e.vec_id, c.cid,
        |        round(list_cosine_similarity(e.v, c.cv), 6) AS cos
        |      FROM e CROSS JOIN c),
        |asg AS (SELECT kc, vec_id, cos FROM
        |          (SELECT kc, vec_id, cos,
        |             row_number() OVER (PARTITION BY kc, vec_id
        |                                ORDER BY cos DESC, cid) AS rn FROM a)
        |        WHERE rn = 1),
        |g AS (SELECT kc, count(*) AS n_vectors,
        |        sum(CAST(1.0 - cos AS DECIMAL(18,6))) AS td
        |      FROM asg GROUP BY 1)
        |SELECT kc, n_vectors, CAST(td AS DOUBLE) AS total_dist,
        |       CAST((2 * CAST(CAST(td * 1000000 AS DECIMAL(38,0)) AS HUGEINT) + n_vectors)
        |            // (2 * n_vectors) AS DOUBLE) / 1e6 AS mean_dist
        |FROM g ORDER BY kc""".stripMargin,
    "q334_anisotropy" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |comps AS (SELECT vec_id, unnest(range(len(v))) AS pos,
        |            round(unnest(v), 12) AS x FROM e),
        |mu AS (SELECT pos,
        |         CASE WHEN sum(CAST(x AS DECIMAL(38,12))) >= 0
        |              THEN (2 * CAST(sum(CAST(x AS DECIMAL(38,12))) * 1000000000000 AS HUGEINT)
        |                    + 1000 * count(*)) // (2000 * count(*))
        |              ELSE -((2 * CAST((- sum(CAST(x AS DECIMAL(38,12)))) * 1000000000000 AS HUGEINT)
        |                      + 1000 * count(*)) // (2000 * count(*))) END AS m9
        |       FROM comps GROUP BY 1),
        |mn AS (SELECT CAST(sum(CAST(m9 AS HUGEINT) * CAST(m9 AS HUGEINT)) AS DOUBLE) / 1e18 AS mu_norm2
        |       FROM mu),
        |vn AS (SELECT vec_id, sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS n2
        |       FROM comps GROUP BY 1),
        |en AS (SELECT count(*) AS n_vectors,
        |         CAST((2 * CAST(sum(n2) * 1000000000000 AS HUGEINT) + 1000 * count(*))
        |              // (2000 * count(*)) AS DOUBLE) / 1e9 AS mean_norm2
        |       FROM vn)
        |SELECT n_vectors, mu_norm2, mean_norm2,
        |       round(mu_norm2 / mean_norm2, 6) AS anisotropy,
        |       round(sqrt(mean_norm2), 6) AS rms_norm
        |FROM en CROSS JOIN mn""".stripMargin,
    "q301_cell_silhouette" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |a AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cv), 6) AS cos FROM e CROSS JOIN c),
        |rk AS (SELECT vec_id, cid, cos,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a),
        |own AS (SELECT vec_id, cid AS cell, round(1.0 - cos, 6) AS a FROM rk WHERE rn = 1),
        |nxt AS (SELECT vec_id, round(1.0 - cos, 6) AS b FROM rk WHERE rn = 2),
        |sil AS (SELECT cell, round((b - a) / greatest(a, b), 9) AS sil
        |        FROM own JOIN nxt USING (vec_id))
        |SELECT cell, count(*) AS n_vectors,
        |       round(CAST(sum(CAST(sil AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS mean_silhouette
        |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin,
    "q278_cell_label_nmi" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |a AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cv), 6) AS cos FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, cid FROM
        |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a)
        |        WHERE rn = 1),
        |ct AS (SELECT asg.cid AS cell, e.label, count(*) AS c
        |       FROM asg JOIN e USING (vec_id) GROUP BY 1, 2),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ct),
        |hc AS (SELECT round(-CAST(sum(CAST(round(
        |           (CAST(c AS DOUBLE) / nn.n) * log10(CAST(c AS DOUBLE) / nn.n) / log10(2.0),
        |           12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS h_cell
        |       FROM (SELECT cell, sum(c) AS c FROM ct GROUP BY 1) CROSS JOIN nn),
        |hl AS (SELECT round(-CAST(sum(CAST(round(
        |           (CAST(c AS DOUBLE) / nn.n) * log10(CAST(c AS DOUBLE) / nn.n) / log10(2.0),
        |           12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS h_label
        |       FROM (SELECT label, sum(c) AS c FROM ct GROUP BY 1) CROSS JOIN nn),
        |hj AS (SELECT round(-CAST(sum(CAST(round(
        |           (CAST(c AS DOUBLE) / nn.n) * log10(CAST(c AS DOUBLE) / nn.n) / log10(2.0),
        |           12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS h_joint
        |       FROM ct CROSS JOIN nn),
        |mi AS (SELECT h_cell, h_label, h_joint,
        |         round(h_cell + h_label - h_joint, 6) AS mi_bits
        |       FROM hc CROSS JOIN hl CROSS JOIN hj)
        |SELECT h_cell, h_label, h_joint, mi_bits,
        |       round(mi_bits / sqrt(h_cell * h_label), 6) AS nmi
        |FROM mi""".stripMargin,
    "q253_ivf_nprobe_curve" -> {
      val legs = Seq(1, 2, 4).map { p =>
        s"""ann_$p AS (SELECT q_id, n_id FROM
           |         (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
           |          FROM cand WHERE crk <= $p) WHERE rn <= 10),
           |h_$p AS (SELECT q_id, count(*) AS n_hits FROM ann_$p JOIN ex USING (q_id, n_id) GROUP BY 1),
           |m_$p AS (SELECT q.q_id, CAST($p AS BIGINT) AS nprobe, COALESCE(h_$p.n_hits, 0) AS n_hits
           |       FROM q LEFT JOIN h_$p ON h_$p.q_id = q.q_id)""".stripMargin
      }.mkString(",\n|")
      val unions = Seq(1, 2, 4).map(p => s"SELECT * FROM m_$p").mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
         |a AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cv), 6) AS cos FROM e CROSS JOIN c),
         |asg AS (SELECT vec_id, cid FROM
         |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a)
         |        WHERE rn = 1),
         |av AS (SELECT asg.vec_id, asg.cid, e.v FROM asg JOIN e USING (vec_id)),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3),
         |qc AS (SELECT q_id, cid, round(list_cosine_similarity(qv, cv), 6) AS cos FROM q CROSS JOIN c),
         |cr AS (SELECT q_id, cid, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, cid) AS crk FROM qc),
         |sa AS (SELECT q_id, e.vec_id AS n_id, round(list_cosine_similarity(qv, e.v), 6) AS sim
         |       FROM q JOIN e ON e.vec_id != q.q_id),
         |ex AS (SELECT q_id, n_id FROM
         |        (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM sa)
         |       WHERE rn <= 10),
         |cand AS (SELECT cr.crk, q.q_id, av.vec_id AS n_id,
         |           round(list_cosine_similarity(q.qv, av.v), 6) AS sim
         |         FROM q JOIN cr ON cr.q_id = q.q_id
         |                JOIN av ON av.cid = cr.cid AND av.vec_id != q.q_id),
         |exn AS (SELECT q_id, count(*) AS n_ex FROM ex GROUP BY 1),
         |$legs
         |SELECT q_id, nprobe, n_hits,
         |       round(CAST(n_hits AS DOUBLE) / n_ex, 6) AS recall
         |FROM ($unions) JOIN exn USING (q_id) ORDER BY q_id, nprobe""".stripMargin
    },
    "q242_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |a AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cv), 6) AS cos FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, cid FROM
        |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a)
        |        WHERE rn = 1),
        |av AS (SELECT asg.vec_id, asg.cid, e.v, e.label FROM asg JOIN e USING (vec_id)),
        |sc AS (SELECT q.vec_id AS q_id, q.label AS q_label, n.vec_id AS n_id, n.label AS n_label,
        |         round(list_cosine_similarity(q.v, n.v), 6) AS sim
        |       FROM av q JOIN av n ON n.cid = q.cid AND n.vec_id % 5 != 0
        |       WHERE q.vec_id % 5 = 0),
        |pos AS (SELECT q_id, q_label, n_id AS pos_id, sim AS sim_pos FROM
        |         (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |          FROM sc WHERE n_label = q_label)
        |        WHERE rn = 1),
        |neg AS (SELECT q_id, n_id AS neg_id, sim AS sim_neg FROM
        |         (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |          FROM sc WHERE n_label != q_label)
        |        WHERE rn = 1)
        |SELECT q_id AS anchor_id, q_label AS label, pos_id, sim_pos, neg_id, sim_neg,
        |       round(sim_pos - sim_neg, 6) AS margin
        |FROM pos JOIN neg USING (q_id) ORDER BY anchor_id""".stripMargin,
    "q191_ann_ivf_audit" ->
      (ivfSeededScSql +
        """,
        |ann AS (SELECT q_id, n_id FROM
        |         (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |          FROM sc) WHERE rn <= 5),
        |exs AS (SELECT q.vec_id AS q_id, ne.vec_id AS n_id,
        |          round(list_cosine_similarity(q.v, ne.v), 6) AS sim
        |        FROM (SELECT * FROM e WHERE vec_id < 3) q
        |        JOIN e ne ON ne.vec_id != q.vec_id),
        |ex AS (SELECT q_id, n_id FROM
        |        (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
        |         FROM exs) WHERE rn <= 5),
        |""".stripMargin + auditTailSql),
    // q108's PRIMARY oracle: the seeded-PQ ADC + re-rank top-5 itself (the
    // audit q192 reuses the same CTEs and scores it against the exact top-k).
    "q108_pq_adc" ->
      (pqSeededRrSql +
        """
        |SELECT q_id, rn, n_id, dist_sq FROM
        |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist_sq, n_id) AS rn
        |   FROM rr)
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin),
    // q386: the oracle rebuilds the ENTIRE index from scratch over all
    // vectors (cell + m codes per vector from the same frozen seeded
    // model), so hash equality against the engine's MERGE-advanced
    // VersionedLayer table is the IVM correctness proof — the q383
    // contract on the embedding side.
    "q386_ann_index_cdc" ->
      (ivfPqIndexSql +
        """
          |SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cell,
          |       CAST(codes.b AS BIGINT) AS b, CAST(codes.code AS BIGINT) AS code
          |FROM asg JOIN codes USING (vec_id)
          |ORDER BY vec_id, b""".stripMargin),

    // q395: the same scratch rebuild MINUS the takedown vectors (index rows
    // are per-vector under the frozen model, so filtering the rebuild is
    // exactly the state a correct delete must reach).
    "q395_ann_index_takedown" ->
      (ivfPqIndexSql +
        """
          |SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cell,
          |       CAST(codes.b AS BIGINT) AS b, CAST(codes.code AS BIGINT) AS code
          |FROM asg JOIN codes USING (vec_id)
          |WHERE asg.vec_id % 13 <> 5
          |ORDER BY vec_id, b""".stripMargin),
    // q381's PRIMARY oracle: the composed IVF-PQ top-5 itself (the audit
    // q382 reuses the same CTEs and scores it against the exact top-k).
    "q381_ivf_pq" ->
      (ivfPqRrSql +
        """
        |SELECT q_id, rn, n_id, dist_sq FROM
        |  (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist_sq, n_id) AS rn
        |   FROM rr)
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin),
    "q382_ivf_pq_audit" ->
      (ivfPqRrSql +
        """,
        |ann AS (SELECT q_id, n_id FROM
        |         (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist_sq, n_id) AS rn FROM rr)
        |        WHERE rn <= 5),
        |exd AS (SELECT q.q_id, ne.vec_id AS n_id,
        |          round(list_aggregate(list_transform(range(64),
        |                i -> pow(q.qv[i+1] - ne.v[i+1], 2)), 'sum'), 6) AS dist_sq
        |        FROM q JOIN e ne ON ne.vec_id != q.q_id),
        |ex AS (SELECT q_id, n_id FROM
        |        (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist_sq, n_id) AS rn FROM exd)
        |       WHERE rn <= 5),
        |""".stripMargin + auditTailSql),
    "q192_pq_adc_audit" ->
      (pqSeededRrSql +
        """,
        |ann AS (SELECT q_id, n_id FROM
        |         (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist_sq, n_id) AS rn FROM rr)
        |        WHERE rn <= 5),
        |exd AS (SELECT q.q_id, ne.vec_id AS n_id,
        |          round(list_aggregate(list_transform(range(64),
        |                i -> pow(q.qv[i+1] - ne.v[i+1], 2)), 'sum'), 6) AS dist_sq
        |        FROM q JOIN e ne ON ne.vec_id != q.q_id),
        |ex AS (SELECT q_id, n_id FROM
        |        (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist_sq, n_id) AS rn FROM exd)
        |       WHERE rn <= 5),
        |""".stripMargin + auditTailSql),
    "q186_embedding_hygiene" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT label,
        |        sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm,
        |        len(list_filter(v, x -> x = 0)) AS n_zero_comp, len(v) AS dim
        |      FROM e)
        |SELECT label, count(*) AS n_vecs,
        |       CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
        |       CAST(sum(CASE WHEN nrm < 0.001 AND nrm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tiny_norm,
        |       CAST(sum(CASE WHEN n_zero_comp * 2 > dim THEN 1 ELSE 0 END) AS BIGINT) AS n_mostly_zero,
        |       round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    "q169_centroid_confusion" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT label, unnest(range(len(v))) AS i, unnest(v) AS x FROM e),
        |m AS (SELECT label, i,
        |        round(CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS m
        |      FROM x GROUP BY label, i),
        |c AS (SELECT label AS clabel, list(m ORDER BY i) AS cv FROM m GROUP BY label),
        |d AS (SELECT e.vec_id, e.label, c.clabel,
        |        round(list_aggregate(list_transform(range(len(e.v)),
        |              i -> pow(e.v[i+1] - c.cv[i+1], 2)), 'sum'), 6) AS d2
        |      FROM e CROSS JOIN c),
        |p AS (SELECT vec_id, label, clabel AS pred FROM
        |       (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
        |        FROM d) WHERE rn = 1)
        |SELECT label, pred, count(*) AS n
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q134_embedding_drift" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT label, vec_id % 2 AS half, unnest(range(len(v))) AS pos, unnest(v) AS c FROM e),
        |m AS (SELECT label, half, pos,
        |        round(CAST(sum(CAST(round(c, 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS m
        |      FROM x GROUP BY 1, 2, 3),
        |j AS (SELECT m0.label, m0.pos, m0.m AS m0, m1.m AS m1
        |      FROM (SELECT * FROM m WHERE half = 0) m0
        |      JOIN (SELECT * FROM m WHERE half = 1) m1 USING (label, pos))
        |SELECT label, count(*) AS dim,
        |       round(sqrt(CAST(sum(CAST(round(pow(m0 - m1, 2), 12) AS DECIMAL(38,12))) AS DOUBLE)), 6) AS drift_l2
        |FROM j GROUP BY label ORDER BY label""".stripMargin,
    // Two unrolled Lloyd's iterations; zipped unnest(range)/unnest(v) is the
    // per-component explode for the centroid-mean update.
    "q109_kmeans_refine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS cv FROM e WHERE vec_id < 8),
        |d1 AS (SELECT e.vec_id, c0.cid, e.v,
        |         round(list_aggregate(list_transform(range(len(e.v)), i -> pow(e.v[i+1] - c0.cv[i+1], 2)), 'sum'), 6) AS d2
        |       FROM e CROSS JOIN c0),
        |a1 AS (SELECT vec_id, cid, v FROM
        |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d1) WHERE rn = 1),
        |x1 AS (SELECT cid, unnest(range(len(v))) AS i, unnest(v) AS x FROM a1),
        |m1 AS (SELECT cid, i,
        |         round(CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS m
        |       FROM x1 GROUP BY cid, i),
        |c1 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m1 GROUP BY cid),
        |d2_ AS (SELECT e.vec_id, c1.cid, e.v,
        |         round(list_aggregate(list_transform(range(len(e.v)), i -> pow(e.v[i+1] - c1.cv[i+1], 2)), 'sum'), 6) AS d2
        |       FROM e CROSS JOIN c1),
        |a2 AS (SELECT vec_id, cid, v FROM
        |        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2_) WHERE rn = 1),
        |x2 AS (SELECT cid, unnest(range(len(v))) AS i, unnest(v) AS x FROM a2),
        |m2 AS (SELECT cid, i,
        |         round(CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS m
        |       FROM x2 GROUP BY cid, i),
        |c2 AS (SELECT cid, list(m ORDER BY i) AS cv FROM m2 GROUP BY cid),
        |fin AS (SELECT e.vec_id, c2.cid,
        |         round(list_aggregate(list_transform(range(len(e.v)), i -> pow(e.v[i+1] - c2.cv[i+1], 2)), 'sum'), 6) AS d2
        |       FROM e CROSS JOIN c2)
        |SELECT vec_id, cid, d2 FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM fin) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    "q38_cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3),
        |s AS (SELECT q_id, vec_id AS n_id,
        |             round(list_cosine_similarity(qv, v), 6) AS sim
        |      FROM q CROSS JOIN e WHERE vec_id != q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn FROM s)
        |SELECT q_id, rn, n_id, sim FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "q42_embedding_stats" ->
      """SELECT label, count(*) AS n_vecs,
        |       round(sum(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
        |             x -> x * x), 'sum'))) / count(*), 6) AS avg_norm
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "q69_embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_aggregate(v, 'min') AS mn, list_aggregate(v, 'max') AS mx FROM e),
        |q AS (SELECT vec_id, v, mn, mx,
        |        CASE WHEN mx = mn THEN 1.0 ELSE (mx - mn) / 255.0 END AS sc FROM m)
        |SELECT vec_id, round(mn, 6) AS vmin, round(mx, 6) AS vmax,
        |  round(sqrt(list_aggregate(list_transform(v,
        |          x -> pow(x - (mn + floor((x - mn) / sc + 0.5) * sc), 2)), 'sum') / len(v)), 6) AS rmse
        |FROM q ORDER BY vec_id""".stripMargin,
    "q99_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |a AS (SELECT vec_id, cid, round(list_cosine_similarity(v, cv), 6) AS cos FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, cid FROM
        |          (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a)
        |        WHERE rn = 1),
        |p AS (SELECT x.vec_id AS vec_id, max(round(list_cosine_similarity(xe.v, ye.v), 6)) AS mlc
        |      FROM asg x JOIN asg y ON x.cid = y.cid AND y.vec_id < x.vec_id
        |      JOIN e xe ON xe.vec_id = x.vec_id JOIN e ye ON ye.vec_id = y.vec_id
        |      GROUP BY 1)
        |SELECT asg.vec_id, asg.cid AS cluster_id,
        |       round(coalesce(p.mlc, -1.0), 6) AS max_lower_cos,
        |       CAST(CASE WHEN coalesce(p.mlc, -1.0) >= 0.4 THEN 0 ELSE 1 END AS BIGINT) AS keep
        |FROM asg LEFT JOIN p ON p.vec_id = asg.vec_id
        |ORDER BY asg.vec_id""".stripMargin
  )
}
