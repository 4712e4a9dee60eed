package graft.operators

import graft.QueryModule
import graft.sources.{Tables, TempRoots}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-curation operators over the `documents` table — the second
  * governance tier (first tier: [[Scrub]]), covering the dedup-adjacent
  * decisions a training-data pipeline makes between scrubbing and sampling:
  *
  *  1. duplicated-span fraction (q85) — per-document fraction of token
  *     8-gram windows whose exact text occurs in >= 2 distinct documents:
  *     the *exhaustive* exact-substring duplication signal of Lee et al.,
  *     "Deduplicating Training Data Makes Language Models Better" (2021)
  *     §4.1 (their suffix-array ExactSubstr at window granularity). The
  *     winnowing tier ([[Scrub]] q74/q75) *samples* fingerprints for pair
  *     finding; this measures, for every document, how much of its content
  *     is duplicated anywhere in the corpus — the drop/keep curation score.
  *  2. normalization-tier dedup (q86) — exact dedup after text
  *     canonicalization (lowercase, punctuation → space, whitespace
  *     collapse): catches the near-exact copies (case/punctuation variants)
  *     that raw-byte fingerprints miss and near-dup tiers over-pay for.
  *     Sits between [[Dedup]] tier 1 (exact) and tier 2 (Jaccard).
  *  3. incremental batch-vs-corpus dedup (q87) — dedup a NEW ingest batch
  *     against the existing corpus without re-deduping the corpus: batch
  *     fingerprints anti-join the corpus fingerprint set, then collapse
  *     within-batch copies to a deterministic survivor. The growing-corpus
  *     operation every continuously-ingesting pipeline runs daily.
  *  4. per-source document cap (q88) — keep at most N documents per source,
  *     chosen by a deterministic content-independent hash order (the
  *     C4/RefinedWeb-style domain cap that stops one crawl domain from
  *     dominating the mixture). Hash order, not "first N": stable under
  *     re-partitioning, re-ingestion order, and incremental appends.
  *
  * Scale design (the 100 TB reading):
  *  - q85 shuffles (doc_id, 32-char window hash) pairs — never text — and
  *    scores hits with the same one-pass marker left-join as q72: window
  *    counts and duplicated-window counts fall out of ONE aggregation. The
  *    corpus is scanned twice (the duplicated-hash set derives from its own
  *    countDistinct pass) — the deliberate trade: the one-scan alternative
  *    buffers a collect_list posting list per hash, which a hot boilerplate
  *    span makes unbounded, while window generation is cheap per-row map
  *    work. The duplicated-hash set is itself unbounded (it grows with
  *    corpus duplication), so it is joined on the hash key, NOT broadcast;
  *    Spark/AQE may still pick broadcast when it measures small.
  *  - q86's window functions partition on the 32-byte fingerprint: one
  *    shuffle of (doc_id, fp) rows, perfectly spread (fp is a hash), text
  *    never leaves the scan.
  *  - q87 joins fingerprints only (32 bytes/doc); the anti-join is a
  *    shuffled equi-join on fp — at a 100 TB corpus the fingerprint side is
  *    ~TB-scale, far beyond broadcast, and fp-keyed shuffle spreads
  *    uniformly by construction.
  *  - q88's rank window partitions by source, so a mega-source serializes
  *    its rows through one task's sort. The order key is a uniform hash,
  *    which at real scale admits the two-phase refinement (per-partition
  *    pre-cap to N before the window — local top-N bounds each task's
  *    input at N·partitions); the fixture registers the canonical
  *    single-window form and the cap keeps outputs small.
  */
object Curation extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.read(s, dir, "documents")

  /** Token window width for the duplicated-span scan. 8 tokens: long enough
    * that organic text rarely collides (the fixture vocabulary makes 8-grams
    * near-unique per document), short enough that a copied sentence still
    * spans several windows. Lee et al. use 50 unicode tokens at web scale;
    * the knob is a parameter. */
  val SpanWindow: Int = 8

  /** md5 hashes of every token `k`-gram window of `text` (positions, not
    * distinct — a doc repeating a span counts each occurrence). The token
    * array is LET-BOUND as an outer 1-element `transform` lambda variable so
    * the split runs once per document (CollapseProject would inline a
    * single-use alias into every element access — see [[Dedup.shingles5]]).
    * Domain: callers pre-filter to >= k tokens (`sequence` would run
    * backwards on shorter docs). */
  private def spanHashes(k: Int): Column =
    element_at(transform(array(split(trim(col("text")), " ")), w =>
      transform(sequence(lit(1), size(w) - lit(k - 1)),
        i => md5(array_join(slice(w, i, lit(k)), " ")))), 1)

  /** Per-document duplicated-span stats from a `(doc_id, text)` frame:
    * `(doc_id, n_windows, n_dup, dup_fraction)` where a window is
    * duplicated iff its exact text occurs in >= 2 *distinct* documents
    * (intra-document repeats are [[Scrub]] q67's signal, not duplication).
    * One explode pass; the duplicated-hash set marker-joins back so both
    * counts come from a single aggregation. */
  def dupSpanStatsFrom(docsDf: DataFrame, k: Int = SpanWindow): DataFrame = {
    val win = docsDf
      .filter(TextAnalytics.nTokens(col("text")) >= k)
      .select(col("doc_id"), explode(spanHashes(k)).as("h"))
    val dup = win.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"), lit(1).as("hit"))
    win.join(dup, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"), count(col("hit")).as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_windows"), 6).as("dup_fraction"))
  }

  /** Canonicalized-content fingerprint: md5 of lowercase text with
    * punctuation folded to spaces and whitespace collapsed. Punctuation maps
    * to a SPACE (not empty) so `"a.b"` and `"a b"` canonicalize equal but
    * `"ab"` stays distinct. */
  val normalizedFingerprint: Column =
    md5(trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")))

  /** Normalization-tier dedup labels from a `(doc_id, text)` frame:
    * `(doc_id, fp, cluster_size, keep)` — keep = this doc is its cluster's
    * deterministic survivor (minimum doc_id). Both window functions share
    * one fp-partitioned shuffle of narrow (doc_id, fp) rows. */
  def normalizedDedupFrom(docsDf: DataFrame): DataFrame = {
    val byFp = Window.partitionBy(col("fp"))
    docsDf.select(col("doc_id"), normalizedFingerprint.as("fp"))
      .select(col("doc_id"), col("fp"),
        count(lit(1)).over(byFp).as("cluster_size"),
        (col("doc_id") === min(col("doc_id")).over(byFp)).as("keep"))
  }

  /** Incremental dedup: rows of `batch` whose fingerprint does not already
    * exist in `corpus`, collapsed to one deterministic survivor (min doc_id)
    * per within-batch fingerprint. Both inputs are `(doc_id, text)` frames;
    * returns `(doc_id, fp)`. Only fingerprints are joined — text never
    * enters the shuffle. */
  def incrementalDedupFrom(batch: DataFrame, corpus: DataFrame): DataFrame = {
    val fpOf = (df: DataFrame) => df.select(col("doc_id"), md5(col("text")).as("fp"))
    fpOf(batch)
      .join(fpOf(corpus).select(col("fp")).distinct(), Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))
  }

  /** Per-fingerprint index state over `part`: (fp, first_doc_id, n_docs) —
    * a commutative monoid under (min, +), which is exactly what makes the
    * index incrementally maintainable: old state ⊕ batch partial = scratch
    * rebuild, the q121 IVM identity applied to the dedup index. */
  def dedupIndexOf(part: DataFrame): DataFrame =
    part.select(col("doc_id"), md5(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("first_doc_id"), count(lit(1)).as("n_docs"))

  /** The MERGE delta that advances a persisted dedup index by one ingest
    * batch: the standing index's state for ONLY the batch's keys (left
    * join — never a scan-join of the full index against itself) combined
    * with the batch partials under the (min, +) monoid. Row count equals
    * the batch's distinct-fingerprint count by construction — the "only
    * delta partitions are touched" property Round17InvariantsSpec pins. */
  def dedupIndexDelta(batchIndex: DataFrame, currentIndex: DataFrame): DataFrame =
    batchIndex
      .join(currentIndex.select(col("fp"), col("first_doc_id").as("old_first"),
        col("n_docs").as("old_n")), Seq("fp"), "left")
      .select(col("fp"),
        least(col("first_doc_id"),
          coalesce(col("old_first"), col("first_doc_id"))).as("first_doc_id"),
        (col("n_docs") + coalesce(col("old_n"), lit(0L))).as("n_docs"))

  /** Content-defined chunking (q97): the LBFS boundary scheme (Muthitacharoen
    * et al., "A Low-Bandwidth Network File System", SOSP 2001) at token
    * granularity — a chunk boundary falls after token `i+4` whenever the
    * rolling 5-gram hash starting at `i` is ≡ 0 (mod [[CdcDivisor]]), so
    * boundaries depend only on LOCAL content. That is the property byte-shift
    * dedup needs: inserting a sentence shifts every fixed-width window but
    * re-synchronizes CDC boundaries within one expected chunk, so all
    * unchanged chunks re-hash identically. Expected chunk length =
    * divisor + 4 tokens; the final boundary candidate (i = n-4) is excluded
    * so no empty trailing chunk exists.
    *
    * Entirely row-local array work (token array and cut positions are
    * let-bound lambda variables — one split, one hash pass per document);
    * only (source, chunk_md5, n_tokens) rows reach the one stats shuffle.
    * Text never leaves the scan. */
  val CdcDivisor: Int = 16

  /** `array<struct<h,n>>` of CDC chunks of `text`: md5 + token count per
    * chunk. Domain: callers pre-filter to >= 6 tokens (one boundary
    * candidate; `sequence` runs backwards below that). */
  def cdcChunks(divisor: Int = CdcDivisor): Column =
    element_at(transform(array(split(trim(col("text")), " ")), w => {
      val cuts = filter(sequence(lit(1), size(w) - 5), i =>
        conv(substring(md5(array_join(slice(w, i, lit(5)), " ")), 1, 8), 16, 10)
          .cast(LongType) % divisor === 0)
      val starts = concat(array(lit(1)), transform(cuts, c => c + 5))
      val ends = concat(transform(cuts, c => c + 4), array(size(w)))
      zip_with(starts, ends, (a, b) =>
        struct(md5(array_join(slice(w, a, b - a + 1), " ")).as("h"),
          (b - a + 1).cast(LongType).as("n")))
    }), 1)

  /** Per-source CDC chunk-dedup stats from a `(doc_id, source, text)` frame:
    * `(source, n_chunks, n_distinct, dup_fraction, avg_chunk_tokens)`. */
  def cdcChunkStatsFrom(docsDf: DataFrame, divisor: Int = CdcDivisor): DataFrame =
    docsDf.filter(TextAnalytics.nTokens(col("text")) >= 6)
      .select(col("source"), explode(cdcChunks(divisor)).as("ck"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("ck.h")).as("n_distinct"),
        round(lit(1.0) - countDistinct(col("ck.h")).cast("double") / count(lit(1)), 6)
          .as("dup_fraction"),
        round(avg(col("ck.n").cast("double")), 6).as("avg_chunk_tokens"))

  /** Per-source cap: the <= `n` documents kept per source, ranked by a
    * deterministic uniform hash of the doc id (content-independent, stable
    * across re-partitioning and appends), with doc_id itself as the total-
    * order tiebreak. Returns `(doc_id, source, rk)`. */
  def sourceCapFrom(docsDf: DataFrame, n: Int): DataFrame = {
    val order = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docsDf.select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(order).cast(LongType))
      .filter(col("rk") <= n)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Curation survival funnel (q246) — the per-source "where does my data
    // go" report a pipeline owner reads before debating any single filter:
    // each document walks the standard curation cascade IN ORDER — quality
    // gate (q31 score >= 0.5) → exact dedup among the quality survivors
    // (q34 semantics: min-doc_id survivor per raw fingerprint) → eval
    // holdout + decontamination (drop the q72 eval slice itself and any
    // doc with >= 20% shingle overlap against it) — and the funnel counts
    // survivors per source at every stage, with end-to-end retention.
    // Stage ORDER is load-bearing and mirrored exactly by the oracle:
    // dedup-after-quality means a duplicate whose better-quality copy was
    // filtered can still survive via its remaining copy. Scale: one
    // row-local scoring pass, one fingerprint-keyed grouped min (32-byte
    // keys), the q72 broadcast marker join for contamination, then a
    // |sources|-row conditional rollup — no corpus-sized join or window.
    "q246_curation_funnel" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.select(col("doc_id"), col("source"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"),
        (TextAnalytics.qualityScore >= 0.5).as("pass_q"))
      val surv = base.filter(col("pass_q"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("survivor_id"))
      val sh = Dedup.shingledFrom(d)
      val ev = sh.filter(col("doc_id") % 97 === 0)
        .select(explode(col("shingles")).as("s")).distinct()
      val contam = sh.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode(col("shingles")).as("s"))
        .join(broadcast(ev.withColumn("hit", lit(1))), Seq("s"), "left")
        .groupBy(col("doc_id"))
        .agg((count(col("hit")).cast("double") / count(lit(1))).as("contamination"))
      val staged = base
        .join(surv, Seq("fp"), "left")
        .join(contam, Seq("doc_id"), "left")
        .select(col("source"), col("pass_q"),
          (col("pass_q") && col("doc_id") === col("survivor_id")).as("pass_d"),
          (col("pass_q") && col("doc_id") === col("survivor_id")
            && col("doc_id") % 97 =!= 0
            && coalesce(col("contamination"), lit(0.0)) < 0.2).as("pass_c"))
      staged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass_q"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("pass_d"), 1L).otherwise(0L)).as("n_dedup"),
          sum(when(col("pass_c"), 1L).otherwise(0L)).as("n_clean"))
        .select(col("source"), col("n_docs"), col("n_quality"), col("n_dedup"),
          col("n_clean"),
          round(col("n_clean").cast("double") / col("n_docs"), 6).as("retention"))
        .orderBy(col("source"))
    }),

    // Cross-lingual near-dup matrix (q247): the q35 near-dup pairs
    // (Jaccard >= 0.5) cross-tabulated by the two documents' DECLARED
    // languages. Off-diagonal mass is the multilingual-curation smell the
    // per-language dedup runs miss entirely (they partition by lang
    // first): near-identical token streams labeled as different languages
    // mean mislabeled documents, untranslated boilerplate, or a lang-id
    // stage upstream that disagrees with itself — and deduping
    // per-language would KEEP both copies. One projection over the shared
    // materialized pair layer + two narrow id-lang joins; the (lang_a,
    // lang_b) key is order-normalized so each unordered language pair
    // lands in one cell.
    "q247_crosslingual_dup" -> ((s, dir) => {
      val pairs = Dedup.sharedNgramJaccardPairs(s, dir)
        .filter(col("jaccard") >= 0.5)
      val lg = docs(s, dir).select(col("doc_id"), col("lang"))
      pairs
        .join(lg.select(col("doc_id").as("id_a"), col("lang").as("la")), Seq("id_a"))
        .join(lg.select(col("doc_id").as("id_b"), col("lang").as("lb")), Seq("id_b"))
        .select(least(col("la"), col("lb")).as("lang_a"),
          greatest(col("la"), col("lb")).as("lang_b"), col("jaccard"))
        .groupBy(col("lang_a"), col("lang_b"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("jaccard").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double") / count(lit(1)), 6).as("avg_jaccard"))
        .select(col("lang_a"), col("lang_b"), col("n_pairs"), col("avg_jaccard"),
          when(col("lang_a") === col("lang_b"), 1L).otherwise(0L).as("same_lang"))
        .orderBy(col("lang_a"), col("lang_b"))
    }),

    // Near-dup graph degree histogram (q248): per-document degree in the
    // Jaccard >= 0.5 similarity graph, rolled into a degree histogram.
    // q84 reads CLUSTER sizes (connected components); degree is the other
    // lens — a heavy-tailed degree histogram with a few huge-degree hubs
    // is the signature of template/boilerplate text (one skeleton, many
    // instantiations), which inflates candidate volume quadratically in
    // the hub degree and is exactly what the df-cap and q227's opener
    // census exist to catch. Degrees come from ONE grouped count over the
    // shared pair layer (each edge counted from both endpoints via a
    // union of its two narrow projections); the histogram is a
    // degree-keyed rollup, all map-side combined.
    // Dedup threshold sensitivity (q285): the pair count and distinct
    // documents touched at every candidate Jaccard cutoff in one sweep —
    // the tuning curve read BEFORE committing a dedup threshold (how much
    // of the corpus does each τ implicate?), the cumulative companion to
    // q141's per-bin histogram. One projection of the shared pair layer
    // fanned out per cutoff (|pairs| × 5 narrow rows, never the corpus).
    "q285_threshold_curve" -> ((s, dir) => {
      import s.implicits._
      val pairs = Dedup.sharedNgramJaccardPairs(s, dir)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      val taus = Seq(0.5, 0.6, 0.7, 0.8, 0.9).toDF("tau")
      val el = pairs.crossJoin(broadcast(taus))
        .filter(col("jaccard") >= col("tau"))
        .localCheckpoint()
      val e = el.groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
      val d = el.select(col("tau"), explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct().groupBy(col("tau")).agg(count(lit(1)).as("n_docs_touched"))
      taus.join(e, Seq("tau"), "left").join(d, Seq("tau"), "left")
        .select(col("tau"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs_touched"), lit(0L)).as("n_docs_touched"))
        .orderBy(col("tau"))
    }),

    // k-core peel trajectory (q280): iteratively strip degree-<2 nodes
    // from the J >= 0.5 dup graph and report (nodes, edges) after each of
    // 6 FIXED peel rounds — the graph-robustness readout q248's one-shot
    // degree histogram can't give: chains and stars evaporate in round 1,
    // while the counts that survive all rounds are the 2-core — densely
    // interlinked template/boilerplate families that splitting or sampling
    // won't break up (the clusters worth manual review before dedup).
    // Fixed round count (not convergence) keeps both engines on the exact
    // same computation; per-round localCheckpoint truncates the iterative
    // lineage (the Cluster.scala discipline). Each round is two bounded
    // joins over narrow edge rows — never the corpus.
    "q280_kcore_peel" -> ((s, dir) => {
      var edges = Dedup.sharedNgramJaccardPairs(s, dir)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      var acc: DataFrame = null
      for (r <- 1 to 6) {
        val deg = edges.select(col("id_a").as("d"))
          .union(edges.select(col("id_b").as("d")))
          .groupBy(col("d")).agg(count(lit(1)).as("deg"))
        val keep = deg.filter(col("deg") >= 2).select(col("d"))
        edges = edges
          .join(keep.withColumnRenamed("d", "id_a"), "id_a")
          .join(keep.withColumnRenamed("d", "id_b"), "id_b")
          .select(col("id_a"), col("id_b")).localCheckpoint()
        val row = edges.agg(count(lit(1)).as("n_edges"))
          .crossJoin(
            edges.select(col("id_a").as("d")).union(edges.select(col("id_b").as("d")))
              .distinct().agg(count(lit(1)).as("n_nodes")))
          .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
        acc = if (acc == null) row else acc.unionByName(row)
      }
      acc.orderBy(col("round"))
    }),

    // Degree assortativity of the dup graph (q299): Pearson correlation of
    // endpoint degrees over edges (Newman 2002) — do template hubs link to
    // other hubs (assortative, one giant boilerplate family the large-star
    // rounds will slog through) or to leaves (disassortative star forests
    // that collapse in one round)? The scalar that tells you which shape
    // q248's histogram and q280's peel curve are looking at. Each
    // undirected edge contributes both orientations so the two endpoint
    // moments coincide; degrees come from one grouped count over the
    // shared pair layer, the moment pass runs over narrow (du, dv) rows,
    // and every square/cross-product stays in decimal space (q232
    // discipline).
    "q299_degree_assortativity" -> ((s, dir) => {
      val pairs = Dedup.sharedNgramJaccardPairs(s, dir)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      val deg = pairs.select(col("id_a").as("d"))
        .union(pairs.select(col("id_b").as("d")))
        .groupBy(col("d")).agg(count(lit(1)).as("deg"))
      val e = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
        .join(deg.select(col("d").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("d").as("v"), col("deg").as("dv")), "v")
      val dud = col("du").cast(org.apache.spark.sql.types.DecimalType(18, 0))
      val dvd = col("dv").cast(org.apache.spark.sql.types.DecimalType(18, 0))
      e.agg(count(lit(1)).as("m2"),
          round(sum(dud).cast("double") / count(lit(1)), 6).as("mu"),
          round(sum(dud * dud).cast("double") / count(lit(1)), 6).as("s2"),
          round(sum(dud * dvd).cast("double") / count(lit(1)), 6).as("sxy"))
        .select(col("m2"), col("mu"), col("s2"), col("sxy"),
          round((col("sxy") - col("mu") * col("mu"))
            / (col("s2") - col("mu") * col("mu")), 6).as("assortativity"))
    }),

    "q248_dup_degree_hist" -> ((s, dir) => {
      val pairs = Dedup.sharedNgramJaccardPairs(s, dir)
        .filter(col("jaccard") >= 0.5)
      val deg = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      deg.groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("degree"))
    }),

    // Source-overlap matrix (q183): corpus-level Jaccard between SOURCES'
    // shingle sets — the mixture-planning signal ("these two crawls are
    // 5% the same material") that doc-pair dedup reports can't aggregate
    // to. Same posting-list discipline as the doc tier, but the join fans
    // out per shingle by sources-sharing-it² ≤ |sources|² — a constant,
    // so the pair stage can never go corpus-quadratic. Only pairs with
    // ≥ 1 shared shingle appear (absent pair = zero overlap).
    "q183_source_overlap" -> ((s, dir) => {
      val d = docs(s, dir)
      // the distinct (source, shingle) frame feeds THREE consumers (sizes
      // + both self-join legs) — materialize once (the q144 lesson)
      val ss = Dedup.shingledFrom(d)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), explode(col("shingles")).as("s"))
        .distinct()
        .localCheckpoint()
      val sz = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
      ss.select(col("source").as("src_a"), col("s"))
        .join(ss.select(col("source").as("src_b"), col("s")), "s")
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_shared"))
        .join(sz.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
        .join(sz.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_shared"),
          round(col("n_shared").cast("double")
            / (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Split-leakage audit (q172): near-duplicate pairs (exact n-gram
    // Jaccard >= 0.8, the q35 pipeline) joined against the q68 holdout
    // assignment — any pair straddling train/val/test means the held-out
    // metric is contaminated by a near-copy of a training document, the
    // leak decontamination-vs-benchmark (q72) cannot see because it is
    // INTERNAL to the corpus. Output is the split×split pair matrix with
    // the off-diagonal leak count; the fix (re-split by cluster id, q76)
    // is one join away. Costs = one projection over the shared materialized
    // pair-count layer (Dedup.sharedPairCounts) + two broadcast-able key
    // joins — the posting-list pipeline itself is paid once per session.
    "q172_split_leakage" -> ((s, dir) => {
      val pairs = Dedup.sharedNgramJaccardPairs(s, dir)
        .filter(col("jaccard") >= 0.8)
      val b = expr(
        "cast(conv(substring(md5(concat(cast(doc_id as string), ':split')), 1, 4), 16, 10) as bigint) % 100")
      val sp = docs(s, dir).select(col("doc_id"),
        when(b < 80, lit("train")).when(b < 90, lit("val")).otherwise(lit("test")).as("split"))
      pairs
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L)).as("n_leaks"))
        .orderBy(col("split_a"), col("split_b"))
    }),

    // Per-source dedup ROI (q234): where each dedup tier spends its removal
    // budget, by source — the allocation view behind crawl re-prioritization
    // ("source X is 30% exact dups: stop re-crawling it" vs "source Y only
    // falls to the near-dup tier: cheap fingerprinting won't help there").
    // Three INDEPENDENT tier counts per source (a doc can fall to several —
    // the tiers are nested filters, not a partition): exact (raw-fingerprint
    // non-survivor, q34's key), normalized (canonicalized-fingerprint
    // non-survivor, q86's key), near-dup (multi-member q76 cluster
    // non-survivor). Fingerprint tiers are window marks over fp-keyed
    // shuffles of 32-byte rows; the cluster tier joins the shared component
    // labels. Output is |sources| rows.
    "q234_dedup_roi" -> ((s, dir) => {
      val d = docs(s, dir)
      val rawFp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      val wRaw = Window.partitionBy(col("rfp"))
      val wNorm = Window.partitionBy(col("nfp"))
      val marks = d.select(col("doc_id"), col("source"),
          rawFp.as("rfp"), normalizedFingerprint.as("nfp"))
        .select(col("doc_id"), col("source"),
          (col("doc_id") =!= min(col("doc_id")).over(wRaw)).as("exact_dup"),
          (col("doc_id") =!= min(col("doc_id")).over(wNorm)).as("norm_dup"))
      val labeled = Cluster.dedupClusters(s, dir)
        .select(col("doc_id"), col("cluster_id"))
      val csz = labeled.groupBy(col("cluster_id")).agg(count(lit(1)).as("csz"))
      val near = labeled.join(csz, Seq("cluster_id"))
        .select(col("doc_id"),
          (col("csz") >= 2 && col("doc_id") =!= col("cluster_id")).as("near_dup"))
      marks.join(near, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("exact_dup"), 1L).otherwise(0L)).as("n_exact_dup"),
          sum(when(col("norm_dup"), 1L).otherwise(0L)).as("n_norm_dup"),
          sum(when(col("near_dup"), 1L).otherwise(0L)).as("n_near_dup"))
        .select(col("source"), col("n_docs"), col("n_exact_dup"), col("n_norm_dup"),
          col("n_near_dup"),
          round(col("n_near_dup").cast("double") / col("n_docs"), 6).as("near_dup_rate"))
        .orderBy(col("source"))
    }),

    // Batch dedup-pressure replay (q222): q87 answers "dedup TODAY's batch
    // against the corpus"; this replays the WHOLE ingest history — every
    // batch (doc_id % 10, ordered) deduped against everything that arrived
    // before it, in one pass: a document is admitted iff its batch is its
    // normalized fingerprint's FIRST batch, with the within-batch survivor
    // the min doc_id (the q87 convention). The per-batch duplicate rate is
    // the dedup-pressure trendline — rising pressure means ingest is
    // re-collecting the corpus (the document-level companion of q211's
    // gram-level novelty). One fingerprint-keyed min aggregation + one
    // fingerprint-keyed join; 32-byte fingerprints are all that shuffles.
    "q222_dedup_pressure" -> ((s, dir) => {
      val fp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      val d = docs(s, dir)
        .select((col("doc_id") % 10).as("batch"), col("doc_id"), fp.as("fp"))
      val first = d.groupBy(col("fp"))
        .agg(min(col("batch")).as("first_batch"))
      val survivor = d.groupBy(col("fp"), col("batch"))
        .agg(min(col("doc_id")).as("survivor_id"))
      d.join(first, Seq("fp"))
        .join(survivor, Seq("fp", "batch"))
        .select(col("batch"),
          when(col("batch") === col("first_batch") &&
            col("doc_id") === col("survivor_id"), 1L).otherwise(0L).as("admitted"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_arrivals"),
          sum(col("admitted")).as("n_admitted"))
        .select(col("batch"), col("n_arrivals"), col("n_admitted"),
          round(lit(1.0) - col("n_admitted").cast("double") / col("n_arrivals"), 6)
            .as("dup_rate"))
        .orderBy(col("batch"))
    }),

    // Per-batch n-gram novelty (q211) — the corpus-freshness readout of a
    // continuously-ingesting pipeline: with ingest batches stood in by the
    // q87 convention (doc_id % 10), each batch reports how many of its
    // distinct token 3-grams were NEVER seen in any earlier batch. A
    // collapsing novelty_rate means new ingest is re-crawling what the
    // corpus already holds (diminishing data returns — the signal behind
    // dataset-growth stopping rules and crawl re-prioritization); a spike
    // flags a genuinely new source or a drifted tokenizer. Complements
    // q126's Heaps-law fit (smooth vocab growth model) with the exact
    // batch-resolution ledger.
    //
    // Scale shape: one explode to (batch, gram) rows, a distinct + a
    // gram-keyed min-batch aggregation (hash-spread — grams are the shuffle
    // key, never doc ids), and a gram-keyed equi-join of two gram-sized
    // frames; output is |batches| rows. No posting lists, no pairs.
    "q211_ngram_novelty" -> ((s, dir) => {
      val gramsArr = element_at(transform(array(split(trim(col("text")), " ")), w =>
        transform(sequence(lit(1), size(w) - 2), i =>
          array_join(slice(w, i, lit(3)), " "))), 1)
      val g = docs(s, dir)
        .filter(TextAnalytics.nTokens(col("text")) >= 3)
        .select((col("doc_id") % 10).as("batch"), explode(gramsArr).as("gram"))
      val occ = g.groupBy(col("batch")).agg(count(lit(1)).as("n_occurrences"))
      val dg = g.select(col("batch"), col("gram")).distinct()
      val fb = dg.groupBy(col("gram")).agg(min(col("batch")).as("first_batch"))
      val r = dg.join(fb, Seq("gram"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(when(col("first_batch") === col("batch"), 1L).otherwise(0L)).as("n_novel"))
      occ.join(r, Seq("batch"))
        .select(col("batch"), col("n_occurrences"), col("n_distinct"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_distinct"), 6).as("novelty_rate"))
        .orderBy(col("batch"))
    }),

    "q85_dup_spans" -> ((s, dir) =>
      dupSpanStatsFrom(docs(s, dir))
        .orderBy(col("doc_id"))),

    "q86_normalized_dedup" -> ((s, dir) =>
      normalizedDedupFrom(docs(s, dir))
        .orderBy(col("doc_id"))),

    // The fixture has no ingest-time column, so the batch/corpus split is a
    // deterministic id slice: doc_id % 10 == 0 stands in for "today's
    // batch", the rest for the standing corpus.
    "q87_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      incrementalDedupFrom(
        d.filter(col("doc_id") % 10 === 0),
        d.filter(col("doc_id") % 10 =!= 0))
        .orderBy(col("doc_id"))
    }),

    // Incremental dedup-index maintenance under CDC (q383) — the operator
    // a real 100 TB corpus runs nightly: the persisted fingerprint index
    // (VersionedLayer, the engine's ACID layer) is advanced by one ingest
    // batch via MERGE of a delta that touches ONLY the batch's keys, and
    // the registered result is the maintained index itself — the oracle
    // rebuilds the index FROM SCRATCH over all documents, so hash equality
    // IS the IVM correctness proof (the q121 identity: (min, +) is a
    // commutative monoid, hence old ⊕ delta = rebuild). Composes q87's
    // batch split (doc_id % 10 = 0 is "today"), q121's mergeable-state
    // discipline and q377's staged-layer lifecycle (localCheckpoint +
    // temp-root cleanup — no side effects escape). Scale shape: the batch
    // index broadcasts into the left join against the standing index (AQE
    // decides), the merge's anti-join is the only pass over the big index,
    // and nothing ever re-fingerprints the standing corpus.
    "q383_dedup_index_cdc" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import graft.sources.VersionedLayer
      val root = sc.dir("graft_q383_dedup_idx").toString
      val d = docs(s, dir)
      VersionedLayer.write(dedupIndexOf(d.filter(col("doc_id") % 10 =!= 0)), root)
      val delta = dedupIndexDelta(
        dedupIndexOf(d.filter(col("doc_id") % 10 === 0)),
        VersionedLayer.read(s, root))
      VersionedLayer.merge(delta, root, Seq("fp"))
      VersionedLayer.read(s, root)
        .orderBy(col("fp"))
    }),

    "q88_source_cap" -> ((s, dir) =>
      sourceCapFrom(docs(s, dir), n = 50)
        .orderBy(col("source"), col("rk"))),

    // Content-defined chunking dedup stats (see [[cdcChunkStatsFrom]]).
    "q97_cdc_chunks" -> ((s, dir) =>
      cdcChunkStatsFrom(docs(s, dir))
        .orderBy(col("source")))
  )

  /** The q35 candidate-pair pipeline as a WITH prefix ending in
    * `pr(id_a, id_b, jaccard)` — shared by the q247/q248 oracles (the
    * SQL mirror of Dedup.sharedNgramJaccardPairs). */
  private val jaccardPairsCte: String =
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |shg AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 4),
      |          i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS shingles
      |        FROM toks WHERE len(w) >= 5),
      |ex AS (SELECT doc_id, unnest(shingles) AS s FROM shg),
      |capped AS (SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 8192),
      |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |           FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |           WHERE a.s IN (SELECT s FROM capped)
      |           GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, len(shingles) AS n FROM shg),
      |pr AS (SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
      |       FROM common JOIN sizes sa ON sa.doc_id = id_a
      |                   JOIN sizes sb ON sb.doc_id = id_b)""".stripMargin

  /** q280 oracle: the 6 peel rounds unrolled as CTE stages from one
    * template, so engine and SQL can never drift on the round count. The
    * edge stages are MATERIALIZED — DuckDB inlines plain CTEs per
    * reference, so without the hint the 6-deep unroll re-expands the
    * shingle pipeline exponentially and exhausts file handles. */
  private val kcorePeelSql: String = {
    val stages = (1 to 6).map { r =>
      val prev = if (r == 1) "e0" else s"e${r - 1}"
      s"""k$r AS MATERIALIZED (SELECT d FROM
         |          (SELECT d, count(*) AS deg FROM
         |             (SELECT id_a AS d FROM $prev UNION ALL SELECT id_b FROM $prev)
         |           GROUP BY 1)
         |        WHERE deg >= 2),
         |e$r AS MATERIALIZED (SELECT id_a, id_b FROM $prev
         |        WHERE id_a IN (SELECT d FROM k$r) AND id_b IN (SELECT d FROM k$r)),
         |s$r AS (SELECT CAST($r AS BIGINT) AS round,
         |          (SELECT count(*) FROM (SELECT DISTINCT d FROM
         |             (SELECT id_a AS d FROM e$r UNION ALL SELECT id_b FROM e$r))) AS n_nodes,
         |          (SELECT count(*) FROM e$r) AS n_edges)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to 6).map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")
    jaccardPairsCte +
      ",\ne0 AS MATERIALIZED (SELECT id_a, id_b FROM pr WHERE jaccard >= 0.5),\n" +
      stages + s"\nSELECT * FROM ($unions) ORDER BY round"
  }

  val oracles: Map[String, String] = Map(
    "q285_threshold_curve" ->
      (jaccardPairsCte +
        """,
          |taus AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS tau),
          |el AS (SELECT tau, id_a, id_b FROM pr CROSS JOIN taus WHERE jaccard >= tau),
          |e AS (SELECT tau, count(*) AS n_pairs FROM el GROUP BY 1),
          |d AS (SELECT tau, count(*) AS n_docs_touched FROM
          |        (SELECT DISTINCT tau, doc_id FROM
          |           (SELECT tau, id_a AS doc_id FROM el
          |            UNION ALL SELECT tau, id_b FROM el))
          |      GROUP BY 1)
          |SELECT taus.tau, coalesce(e.n_pairs, 0) AS n_pairs,
          |       coalesce(d.n_docs_touched, 0) AS n_docs_touched
          |FROM taus LEFT JOIN e ON e.tau = taus.tau LEFT JOIN d ON d.tau = taus.tau
          |ORDER BY taus.tau""".stripMargin),
    "q280_kcore_peel" -> kcorePeelSql,
    "q247_crosslingual_dup" ->
      (jaccardPairsCte +
        """,
          |lp AS (SELECT least(da.lang, db.lang) AS lang_a,
          |         greatest(da.lang, db.lang) AS lang_b, jaccard
          |       FROM pr JOIN documents da ON da.doc_id = id_a
          |               JOIN documents db ON db.doc_id = id_b
          |       WHERE jaccard >= 0.5)
          |SELECT lang_a, lang_b, count(*) AS n_pairs,
          |       round(CAST(sum(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_jaccard,
          |       CAST(CASE WHEN lang_a = lang_b THEN 1 ELSE 0 END AS BIGINT) AS same_lang
          |FROM lp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "q299_degree_assortativity" ->
      (jaccardPairsCte +
        """,
          |e0 AS MATERIALIZED (SELECT id_a, id_b FROM pr WHERE jaccard >= 0.5),
          |deg AS (SELECT d, count(*) AS deg FROM
          |          (SELECT id_a AS d FROM e0 UNION ALL SELECT id_b FROM e0)
          |        GROUP BY 1),
          |ed AS (SELECT du.deg AS du, dv.deg AS dv
          |       FROM (SELECT id_a AS u, id_b AS v FROM e0
          |             UNION ALL SELECT id_b, id_a FROM e0) e
          |         JOIN deg du ON du.d = e.u
          |         JOIN deg dv ON dv.d = e.v),
          |m AS (SELECT count(*) AS m2,
          |        round(CAST(sum(CAST(du AS DECIMAL(18,0))) AS DOUBLE) / count(*), 6) AS mu,
          |        round(CAST(sum(CAST(du AS DECIMAL(18,0)) * CAST(du AS DECIMAL(18,0))) AS DOUBLE) / count(*), 6) AS s2,
          |        round(CAST(sum(CAST(du AS DECIMAL(18,0)) * CAST(dv AS DECIMAL(18,0))) AS DOUBLE) / count(*), 6) AS sxy
          |      FROM ed)
          |SELECT m2, mu, s2, sxy,
          |       round((sxy - mu * mu) / (s2 - mu * mu), 6) AS assortativity
          |FROM m""".stripMargin),
    "q248_dup_degree_hist" ->
      (jaccardPairsCte +
        """,
          |ed AS (SELECT id_a AS doc_id FROM pr WHERE jaccard >= 0.5
          |       UNION ALL SELECT id_b FROM pr WHERE jaccard >= 0.5),
          |deg AS (SELECT doc_id, count(*) AS degree FROM ed GROUP BY 1)
          |SELECT degree, count(*) AS n_docs
          |FROM deg GROUP BY degree ORDER BY degree""".stripMargin),
    "q246_curation_funnel" ->
      """WITH base AS (SELECT doc_id, source,
        |        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |        (round(0.5 * least(1.0, length(text) / 500.0)
        |             + 0.3 * (CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS DOUBLE) /
        |                      len(string_split(trim(text), ' ')))
        |             + 0.2 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |                      length(text)), 6) >= 0.5) AS pass_q
        |      FROM documents),
        |surv AS (SELECT fp, min(doc_id) AS survivor_id FROM base WHERE pass_q GROUP BY fp),
        |toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shg AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 4),
        |          i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS shingles
        |        FROM toks WHERE len(w) >= 5),
        |ev AS (SELECT DISTINCT unnest(shingles) AS s FROM shg WHERE doc_id % 97 = 0),
        |exd AS (SELECT doc_id, unnest(shingles) AS s FROM shg WHERE doc_id % 97 != 0),
        |ct AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN s IN (SELECT s FROM ev) THEN 1 ELSE 0 END) AS DOUBLE)
        |           / count(*) AS contamination
        |       FROM exd GROUP BY 1),
        |st AS (SELECT b.source, b.pass_q,
        |         (b.pass_q AND b.doc_id = sv.survivor_id) AS pass_d,
        |         (b.pass_q AND b.doc_id = sv.survivor_id AND b.doc_id % 97 != 0
        |            AND COALESCE(ct.contamination, 0) < 0.2) AS pass_c
        |       FROM base b LEFT JOIN surv sv USING (fp) LEFT JOIN ct USING (doc_id))
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |       CAST(sum(CASE WHEN pass_d THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
        |       CAST(sum(CASE WHEN pass_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |       round(CAST(sum(CASE WHEN pass_c THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS retention
        |FROM st GROUP BY source ORDER BY source""".stripMargin,
    "q183_source_overlap" ->
      """WITH toks AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w FROM documents),
        |sh AS (SELECT source, unnest(list_distinct(list_transform(range(len(w) - 4),
        |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5]))) AS s
        |       FROM toks WHERE len(w) >= 5),
        |ss AS (SELECT DISTINCT source, s FROM sh),
        |sz AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
        |inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS c
        |          FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
        |          GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, c AS n_shared,
        |       round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
        |FROM inter JOIN sz sa ON sa.source = src_a JOIN sz sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "q234_dedup_roi" ->
      (Cluster.clusterCte +
        """,
          |marks AS (SELECT doc_id, source,
          |            md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS rfp,
          |            md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS nfp
          |          FROM documents),
          |mr AS (SELECT doc_id, source,
          |         doc_id != min(doc_id) OVER (PARTITION BY rfp) AS exact_dup,
          |         doc_id != min(doc_id) OVER (PARTITION BY nfp) AS norm_dup
          |       FROM marks),
          |csz AS (SELECT cluster_id, count(*) AS csz FROM clusters GROUP BY 1),
          |nr AS (SELECT c.doc_id, (csz.csz >= 2 AND c.doc_id != c.cluster_id) AS near_dup
          |       FROM clusters c JOIN csz USING (cluster_id))
          |SELECT mr.source, count(*) AS n_docs,
          |       CAST(sum(CASE WHEN mr.exact_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
          |       CAST(sum(CASE WHEN mr.norm_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_norm_dup,
          |       CAST(sum(CASE WHEN nr.near_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
          |       round(CAST(sum(CASE WHEN nr.near_dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS near_dup_rate
          |FROM mr JOIN nr USING (doc_id)
          |GROUP BY mr.source ORDER BY mr.source""".stripMargin),
    "q222_dedup_pressure" ->
      """WITH d AS (SELECT doc_id % 10 AS batch, doc_id,
        |             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |           FROM documents),
        |first AS (SELECT fp, min(batch) AS first_batch FROM d GROUP BY 1),
        |surv AS (SELECT fp, batch, min(doc_id) AS survivor_id FROM d GROUP BY 1, 2),
        |a AS (SELECT d.batch,
        |        CASE WHEN d.batch = first.first_batch AND d.doc_id = surv.survivor_id
        |             THEN 1 ELSE 0 END AS admitted
        |      FROM d JOIN first USING (fp) JOIN surv ON surv.fp = d.fp AND surv.batch = d.batch)
        |SELECT batch, count(*) AS n_arrivals,
        |       CAST(sum(admitted) AS BIGINT) AS n_admitted,
        |       round(1.0 - CAST(sum(admitted) AS DOUBLE) / count(*), 6) AS dup_rate
        |FROM a GROUP BY batch ORDER BY batch""".stripMargin,
    "q211_ngram_novelty" ->
      """WITH t AS (SELECT doc_id % 10 AS batch, string_split(trim(text), ' ') AS w FROM documents),
        |g AS (SELECT batch, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
        |      FROM (SELECT batch, w, unnest(range(1, len(w) - 1)) AS i FROM t WHERE len(w) >= 3)),
        |occ AS (SELECT batch, count(*) AS n_occurrences FROM g GROUP BY 1),
        |dg AS (SELECT DISTINCT batch, gram FROM g),
        |fb AS (SELECT gram, min(batch) AS first_batch FROM dg GROUP BY 1),
        |r AS (SELECT batch, count(*) AS n_distinct,
        |        CAST(sum(CASE WHEN first_batch = batch THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |      FROM dg JOIN fb USING (gram) GROUP BY 1)
        |SELECT batch, n_occurrences, n_distinct, n_novel,
        |       round(CAST(n_novel AS DOUBLE) / n_distinct, 6) AS novelty_rate
        |FROM occ JOIN r USING (batch) ORDER BY batch""".stripMargin,
    "q172_split_leakage" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 4),
        |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS shingles
        |       FROM toks WHERE len(w) >= 5),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |capped AS (SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 8192),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |           FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |           WHERE a.s IN (SELECT s FROM capped) GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |pairs AS (SELECT id_a, id_b
        |          FROM common JOIN sizes sa ON sa.doc_id = id_a
        |                      JOIN sizes sb ON sb.doc_id = id_b
        |          WHERE round(CAST(c AS DOUBLE)/(sa.n + sb.n - c), 6) >= 0.8),
        |sp AS (SELECT doc_id,
        |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |       FROM (SELECT doc_id,
        |               CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 4)) AS BIGINT) % 100 AS b
        |             FROM documents)),
        |lk AS (SELECT a.split AS split_a, b.split AS split_b
        |       FROM pairs p JOIN sp a ON a.doc_id = p.id_a JOIN sp b ON b.doc_id = p.id_b)
        |SELECT split_a, split_b, count(*) AS n_pairs,
        |       CAST(sum(CASE WHEN split_a != split_b THEN 1 ELSE 0 END) AS BIGINT) AS n_leaks
        |FROM lk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q85_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |win AS (SELECT doc_id, unnest(list_transform(range(len(w) - 7),
        |          i -> md5(array_to_string(w[i+1:i+8], ' ')))) AS h
        |        FROM t WHERE len(w) >= 8),
        |dup AS (SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, count(*) AS n_windows,
        |       count(CASE WHEN h IN (SELECT h FROM dup) THEN 1 END) AS n_dup,
        |       round(CAST(count(CASE WHEN h IN (SELECT h FROM dup) THEN 1 END) AS DOUBLE)
        |             / count(*), 6) AS dup_fraction
        |FROM win GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q86_normalized_dedup" ->
      """WITH n AS (SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |                          ' +', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT doc_id, fp,
        |       count(*) OVER (PARTITION BY fp) AS cluster_size,
        |       doc_id = min(doc_id) OVER (PARTITION BY fp) AS keep
        |FROM n ORDER BY doc_id""".stripMargin,
    "q87_incremental_dedup" ->
      """WITH f AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |b AS (SELECT doc_id, fp FROM f WHERE doc_id % 10 = 0),
        |c AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 <> 0)
        |SELECT min(doc_id) AS doc_id, fp
        |FROM b WHERE fp NOT IN (SELECT fp FROM c)
        |GROUP BY fp ORDER BY doc_id""".stripMargin,
    // q383: the oracle rebuilds the fingerprint index from scratch over the
    // FULL corpus — equality with the incrementally-maintained layer is the
    // IVM proof (same contract as q121).
    "q383_dedup_index_cdc" ->
      """SELECT md5(text) AS fp, min(doc_id) AS first_doc_id,
        |       count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "q88_source_cap" ->
      """WITH r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 50
        |ORDER BY source, rk""".stripMargin,
    "q97_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, source, string_split(trim(text), ' ') AS w FROM documents),
        |d AS (SELECT * FROM t WHERE len(w) >= 6),
        |c AS (SELECT doc_id, source, w,
        |        list_filter(range(1, len(w) - 4), i ->
        |          CAST(concat('0x', substring(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]), 1, 8)) AS BIGINT) % 16 = 0) AS cuts
        |      FROM d),
        |b AS (SELECT doc_id, source, w,
        |        list_concat([1], list_transform(cuts, x -> x + 5)) AS starts,
        |        list_concat(list_transform(cuts, x -> x + 4), [len(w)]) AS ends
        |      FROM c),
        |ch AS (SELECT doc_id, source,
        |         unnest(list_transform(range(len(starts)), j ->
        |           struct_pack(h := md5(array_to_string(w[starts[j+1]:ends[j+1]], ' ')),
        |                       n := ends[j+1] - starts[j+1] + 1))) AS ck
        |       FROM b)
        |SELECT source, count(*) AS n_chunks,
        |       CAST(count(DISTINCT ck.h) AS BIGINT) AS n_distinct,
        |       round(1.0 - CAST(count(DISTINCT ck.h) AS DOUBLE) / count(*), 6) AS dup_fraction,
        |       round(avg(CAST(ck.n AS DOUBLE)), 6) AS avg_chunk_tokens
        |FROM ch GROUP BY source ORDER BY source""".stripMargin
  )
}
