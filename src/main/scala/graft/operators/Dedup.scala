package graft.operators

import graft.{QueryModule, SessionLayers}
import graft.sources.{Tables, TempRoots}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Corpus deduplication for a training-data pipeline, following the
  * published playbook — w-shingling + resemblance (Broder, "On the
  * resemblance and containment of documents", 1997), MinHash-LSH banding
  * (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch. 3), and
  * SimHash (Charikar, "Similarity estimation techniques from rounding
  * algorithms", 2002) — five tiers:
  *
  *  1. exact  — hash-groupBy on a normalized-content fingerprint;
  *  2. n-gram Jaccard + containment — *exact* pairwise resemblance AND
  *     asymmetric containment (quote/subset inclusion) computed via one
  *     inverted-index (shingle) join, never an all-pairs cross join;
  *  3. MinHash + LSH — approximate near-dup candidates via banded signature
  *     buckets, verified with exact Jaccard (bucket-join, scale path);
  *  4. SimHash — 64-bit content signature, plus *guaranteed-recall*
  *     hamming-radius pair retrieval via chunk buckets (pigeonhole);
  *  5. embedding near-dup — cosine-threshold pairs via banded hyperplane-LSH
  *     candidates with exact cosine verification.
  *
  * Scale design (the part that matters at 100 TB):
  *  - the inverted-index join keys on the shingle, so cost is
  *    Σ df(shingle)², not n² — and stays a plain shuffled equi-join. Ultra-
  *    frequent (boilerplate) shingles are dropped by a document-frequency
  *    cap so no single posting list can explode one reducer (see
  *    [[ngramJaccardPairsFrom]] for the dropped-pair semantics);
  *  - MinHash signatures are computed per-row with array lambdas (no explode,
  *    no shuffle); only the banded LSH bucket join shuffles, on
  *    (band_id, band_sig values) — the published MinHash-LSH layout, keyed
  *    on the raw band-signature values (no hash, so no collision-induced
  *    false-candidate class and the oracle replays bucket membership);
  *  - SimHash is pure per-row map work; hamming retrieval shuffles only
  *    (chunk_id, chunk_value, doc_id, signature) — a few dozen bytes per row;
  *  - no tier ever plans a CartesianProduct or BroadcastNestedLoopJoin
  *    (asserted in RelationalSpec).
  */
object Dedup extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.read(s, dir, "documents")

  /** Word 5-gram shingle set (distinct) over the whitespace tokens of
    * `text`. 5-grams (not 3-grams) on purpose: shingle document frequency
    * drives the inverted-index join's cost (Σ df²), and over a small
    * vocabulary 3-grams are common enough to blow the join up ~50×. Longer
    * shingles are near-unique per document while near-duplicates still share
    * almost all of them — the standard w-shingling trade-off.
    *
    * The token array is LET-BOUND as the lambda variable of an outer
    * single-element `transform` so the split runs exactly once per document.
    * Projecting it as a named column first doesn't survive the optimizer:
    * CollapseProject inlines a single-use alias into the shingle lambda,
    * re-running `split` for every element access (~5× per shingle — measured
    * 25× slower end-to-end on the sf0.1 corpus). A lambda variable cannot be
    * inlined. */
  val shingles5: Column =
    array_distinct(expr(
      """flatten(transform(array(split(trim(text), ' ')),
        |  w -> CASE WHEN size(w) >= 5
        |       THEN transform(sequence(1, size(w) - 4),
        |              i -> array_join(slice(w, i, 5), ' '))
        |       ELSE slice(w, 1, 0) END))""".stripMargin))

  /** doc_id + distinct 5-gram shingles from a `(doc_id, text)` frame. */
  def shingledFrom(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), shingles5.as("shingles"))
      .filter(size(col("shingles")) >= 1)

  /** doc_id + distinct 5-gram shingles, docs with >= 5 tokens only. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    shingledFrom(docs(s, dir))

  /** Default document-frequency cap for the posting-list join: posting lists
    * longer than this are dropped before pair generation. 2^13 bounds any
    * single reducer's pair fan-out at ~33.5M pairs (df²/2) — large enough
    * that no organic shingle at sane corpus sizes hits it, small enough that
    * boilerplate (license headers, navigation chrome) cannot melt a task. */
  val DefaultDfCap: Int = 8192

  /** Streams ordered pairs out of a posting-list column without ever
    * materializing the O(|bucket|²) pair array in one row: explode the list
    * once (each output row carries the one bucket list — O(|bucket|), a few
    * hundred KB at the df-cap ceiling), then explode the ordered suffix per
    * row. The old `flatten(transform(...))` form built the ENTIRE pair array
    * inside a single aggregation row first — at df=8,192 that is ~33.5M
    * structs ≈ 1 GB in one unsafe row, an executor OOM waiting for a hot
    * key; for the UNCAPPED bucket lists (MinHash bands, SimHash chunks, LSH
    * bands) the hazard was unbounded. This form bounds per-row memory by the
    * LIST size while keeping the same single-shuffle, no-self-join plan
    * (both Generates pipeline row-at-a-time).
    *
    * `postings` must carry an array column `ds`; `ordered` is the strict
    * ordering predicate over lambda variables `x`/`y` that keeps exactly one
    * of each unordered pair (`"y > x"` for scalar ids, `"y.doc_id >
    * x.doc_id"` for structs). Emits columns `x` and `y`. */
  private def streamPairs(postings: DataFrame, ordered: String = "y.doc_id > x.doc_id"): DataFrame =
    postings
      .select(col("ds"), explode(col("ds")).as("x"))
      .select(col("x"), explode(expr(s"filter(ds, y -> $ordered)")).as("y"))

  /** Shared-shingle pair counts `(id_a, id_b, na, nb, c)` over all pairs
    * sharing >= 1 uncapped shingle, via the inverted index: explode
    * shingles → group by shingle (posting list) → emit ordered pairs inside
    * each list → count common. Both resemblance (Jaccard) and containment
    * derive from these three numbers (Broder '97 §2).
    *
    * `dfCap` semantics: a shingle whose document frequency exceeds the cap
    * contributes NO pairs and NO intersection counts. Pairs that share only
    * boilerplate disappear entirely (the desired behavior — boilerplate
    * overlap is not duplication); pairs that also share organic shingles
    * keep those counts, so their similarity is a slight *underestimate* (the
    * capped shingle still counts in |A| and |B| via the carried set sizes).
    * This is the standard df-cut of the published shingling pipelines: at
    * corpus scale an uncapped hot shingle with df=10⁶ would emit 5·10¹¹
    * pairs through a single reducer. */
  private def sharedShinglePairCounts(docsDf: DataFrame, dfCap: Int): DataFrame = {
    // not cached: shingling is cheap per-row map work, and a cache pinned
    // here would outlive the query in a long-lived session (memory leak)
    val sh = shingledFrom(docsDf)
    // Posting-list formulation: one explode, one shuffle keyed on the
    // shingle, then ordered pairs generated inside each posting list — no
    // self-join (which would shuffle + sort the exploded table twice).
    // Each exploded row carries its document's shingle-set size, so the
    // final similarity needs no joins back to the (recomputed) shingle
    // table — the whole query is a single pipeline over one shingling pass.
    // Shingles with df=1 produce no pairs and vanish in the filter; shingles
    // with df>dfCap are boilerplate and are dropped (see scaladoc).
    val ex = sh.select(col("doc_id"), size(col("shingles")).as("n"), explode(col("shingles")).as("s"))
    val postings = ex.groupBy(col("s")).agg(collect_list(struct(col("doc_id"), col("n"))).as("ds"))
      .filter(size(col("ds")).between(2, dfCap))
    streamPairs(postings)
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .agg(count(lit(1)).as("c"))
  }

  /** Exact pairwise Jaccard |A∩B| / (|A|+|B|-|A∩B|) over all pairs sharing
    * >= 1 uncapped shingle (see [[sharedShinglePairCounts]] for the layout
    * and the df-cap semantics). */
  def ngramJaccardPairsFrom(docsDf: DataFrame, dfCap: Int = DefaultDfCap): DataFrame =
    sharedShinglePairCounts(docsDf, dfCap)
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6).as("jaccard"))

  /** Exact pairwise *containment* max(|A∩B|/|A|, |A∩B|/|B|) =
    * |A∩B|/min(|A|,|B|) over pairs sharing >= 1 uncapped shingle — Broder
    * '97's asymmetric resemblance, the signal Jaccard misses: a short
    * document quoted wholesale inside a much longer one has containment
    * ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so a Jaccard-threshold dedup never
    * sees it. Same single-pipeline posting-list layout as the Jaccard
    * tier; only the final scalar expression differs. */
  def ngramContainmentPairsFrom(docsDf: DataFrame, dfCap: Int = DefaultDfCap): DataFrame =
    sharedShinglePairCounts(docsDf, dfCap)
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") / least(col("na"), col("nb")), 6).as("containment"))

  /** [[ngramJaccardPairsFrom]] over the fixture `documents` table. */
  def ngramJaccardPairs(s: SparkSession, dir: String, dfCap: Int = DefaultDfCap): DataFrame =
    ngramJaccardPairsFrom(docs(s, dir), dfCap)

  /** Process-level materialized pair-count frame — the in-session model of
    * the SILVER EDGE LAYER a real curation pipeline persists once and feeds
    * to every downstream graph/cluster/audit query. A dozen queries (q35,
    * q76, q77, q84, q89, q107, q114, q125, q141, q145, q146, q172, q181,
    * q182) consume the same shingle→posting-list→pair-count computation;
    * each is standalone-correct per the driver contract, but recomputing the
    * dominant pipeline per query is exactly what a production deployment
    * would NOT do. The first caller per (session, dir, dfCap) materializes
    * the full (id_a, id_b, na, nb, c) COUNT frame via `localCheckpoint`
    * (narrow rows: four BIGINTs + one LONG — on a multi-executor cluster
    * this is the parquet-persisted silver table instead); later callers —
    * Jaccard, containment, threshold filters, histogram rollups — are one
    * scalar projection over the materialized rows. Caching the counts rather
    * than a derived score is what lets BOTH resemblance (q35) and
    * containment (q89) share one materialization (Broder '97: both derive
    * from |A|, |B|, |A∩B|).
    * Held in [[graft.SessionLayers]], which keys, bounds and bypasses it. */
  def sharedPairCounts(s: SparkSession, dir: String,
                       dfCap: Int = DefaultDfCap): DataFrame =
    SessionLayers.frame(s, "shinglePairCounts", dir, dfCap)(
      sharedShinglePairCounts(docs(s, dir), dfCap))

  def sharedNgramJaccardPairs(s: SparkSession, dir: String,
                              dfCap: Int = DefaultDfCap): DataFrame =
    sharedPairCounts(s, dir, dfCap)
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")), 6).as("jaccard"))

  /** Containment view over the same materialized count frame as
    * [[sharedNgramJaccardPairs]] — zero extra shingling/shuffle work. */
  def sharedNgramContainmentPairs(s: SparkSession, dir: String,
                                  dfCap: Int = DefaultDfCap): DataFrame =
    sharedPairCounts(s, dir, dfCap)
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") / least(col("na"), col("nb")), 6).as("containment"))

  /** q141: similarity-score histogram — candidate-pair counts per 0.1-wide
    * Jaccard bucket — the THRESHOLD-TUNING curve a dedup rollout reads
    * before committing to a cut ("0.8 keeps the near-dup mass and drops
    * the long tail; 0.6 would merge 4× more"). One extra bounded
    * aggregation on top of the single-pipeline pair computation; the
    * bucket floor is exact integer math on the 6-dp-rounded score. */
  def jaccardHistogram(s: SparkSession, dir: String): DataFrame =
    sharedNgramJaccardPairs(s, dir)
      .select((floor(col("jaccard") * 10).cast("long") / lit(10.0)).as("bucket_lo"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("bucket_lo"))

  /** MinHash signature, k permutations, computed the scalable way: the
    * (doc_id, shingle) pairs are exploded once, each shingle hashed ONCE
    * (the first 8 hex chars of md5 — a 32-bit value, so the permutation
    * arithmetic cannot overflow a long under ANSI mode; md5 rather than
    * xxhash64 so the DuckDB oracle can replay signatures bit-for-bit), and
    * the k permutation minima run as k codegen'd `min` aggregates in a
    * single doc_id-keyed hash aggregation — map-side partial mins first, so
    * the shuffle carries k longs per doc. (The array-lambda formulation is
    * shorter but evaluates interpreted: higher-order functions sit outside
    * whole-stage codegen, and at corpus scale that per-element dispatch
    * dominates.) Permutation i is the universal hash
    * ((2i+1)*h + i*PRIME) mod p with p = 4294967311 (the first prime past
    * 2^32). The mod is LOAD-BEARING: without it the map is monotone in h,
    * every "permutation" selects the same min-shingle, and the whole
    * signature degenerates to one hash repeated k times — the q252
    * k-sensitivity curve caught exactly that (every position-match
    * estimate collapsed to 0 or 1). (2i+1)*h < 2^38, so the arithmetic
    * stays overflow-safe under ANSI mode. */
  def minhashSignatures(shingled: DataFrame, k: Int = 32): DataFrame = {
    val ex = shingled.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), expr("cast(conv(substring(md5(s), 1, 8), 16, 10) AS bigint)").as("h"))
    val mins = (0 until k).map(i =>
      min(pmod(col("h") * lit(2L * i + 1) + lit(i.toLong * 1099511628211L),
        lit(4294967311L))).as(s"m$i"))
    ex.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** MinHash-LSH near-dup pairs: band the k=32 signature into 8 bands × 4
    * rows, bucket-join on (band, band-signature values), then verify candidates with
    * exact Jaccard and keep pairs >= `threshold`.
    *
    * Never an all-pairs join: candidates only form inside an LSH bucket.
    * With b=8, r=4 the detection probability at J=0.8 is
    * 1-(1-0.8^4)^8 ≈ 0.985.
    *
    * The verification stage shingles ONLY the candidate documents: the
    * candidate pair ids semi-join the corpus before the second shingling
    * pass, so its cost is proportional to the (tiny by construction)
    * survivor set, not the corpus. The candidate subtree appears several
    * times in the plan (two pair legs + the semi-join filter), but each
    * repeat sits above the same shuffle exchange, so Spark's ReuseExchange
    * computes the bucket pipeline once and the repeats read its shuffle
    * output — a property ASSERTED, not assumed: RelationalSpec's exchange-
    * reuse test finalizes this query's adaptive plan and checks the final
    * plan contains ReusedExchange nodes and at most 2 corpus FileScans
    * (signature pass + verification pass). The alternative — carrying the
    * wide shingle arrays through the signature shuffle — would multiply
    * that exchange's volume by the document size, a far worse trade at
    * corpus scale. */
  /** The q36 candidate stage on its own: distinct bucket-collision pairs
    * from the banded signatures — exposed separately so the audit tier
    * (q145) can price verification work against recall. Candidate
    * generation runs over NARROW rows only: (doc_id, band_id, band_sig) —
    * the wide shingle arrays never enter the explode or the bucket join;
    * at corpus scale the banded join shuffles a few dozen bytes per row.
    * Bucketing keys on the band-signature VALUES, not a hash of them:
    * same shuffle layout, no hash-collision false-candidate class, and
    * the DuckDB oracle replays bucket membership exactly. */
  /** Banded MinHash signatures `(doc_id, band_id, band_sig)` — the LSH INDEX
    * rows a production pipeline persists: 8 bands × 4-row slices of the
    * 32-permutation signature. Narrow (one long id, one int, four longs) so
    * the bucket shuffle carries a few dozen bytes per row regardless of
    * document size. Shared by the all-pairs candidate stage (q36/q145) and
    * the incremental batch-vs-corpus admission tier (q200). */
  def bandedSignatures(sh: DataFrame): DataFrame =
    minhashSignatures(sh)
      .select(col("doc_id"),
        posexplode(expr("transform(sequence(0, 7), b -> slice(sig, b * 4 + 1, 4))")))
      .withColumnRenamed("pos", "band_id").withColumnRenamed("col", "band_sig")

  /** The LSH band index in its PERSISTED form — [[bandedSignatures]] with
    * the 4-long band signature flattened to scalar columns: narrow
    * `(doc_id, band_id, b0..b3)` rows (~48 bytes), the silver artifact a
    * production near-dup pipeline keeps warm (q200's corpus side reads
    * exactly this at deployment instead of re-banding the standing corpus).
    * Scalars rather than the array so the layer's MERGE key-compare, the
    * DuckDB scratch-rebuild replay and parquet column stats all see plain
    * BIGINTs. */
  def lshIndexRows(docsDf: DataFrame): DataFrame =
    bandedSignatures(shingledFrom(docsDf))
      .select(col("doc_id"), col("band_id").cast(LongType).as("band_id"),
        col("band_sig")(0).as("b0"), col("band_sig")(1).as("b1"),
        col("band_sig")(2).as("b2"), col("band_sig")(3).as("b3"))

  def minhashLshCandidates(s: SparkSession, dir: String): DataFrame = {
    val sh = shingledFrom(docs(s, dir))
    val bands = bandedSignatures(sh)
    // Bucket members per (band, signature) via collect_list, then emit
    // ordered pairs inside each bucket — one pass over the signature
    // pipeline instead of a self-join that would compute it twice.
    val buckets = bands.groupBy(col("band_id"), col("band_sig"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
    streamPairs(buckets, "y > x")
      .select(col("x").as("id_a"), col("y").as("id_b"))
      .distinct()
  }

  /** Session-materialized LSH candidate pairs — the CANDIDATE silver layer,
    * same rationale and [[graft.SessionLayers]] lifecycle as
    * [[sharedPairCounts]]: q36's verification stage and q145's audit both
    * consume the identical banded bucket-join output, and at production
    * scale the candidate set is persisted once, not re-derived per
    * consumer. First caller per (session, dir) materializes the narrow
    * (id_a, id_b) frame; later callers read the materialized rows. */
  def sharedMinhashCandidates(s: SparkSession, dir: String): DataFrame =
    SessionLayers.frame(s, "minhashCandidates", dir)(minhashLshCandidates(s, dir))

  def minhashLshPairs(s: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val docsDf = docs(s, dir)
    val cand = sharedMinhashCandidates(s, dir)
    // Exact-Jaccard verification: shingle only the candidate docs, then one
    // pass over that pruned shingle table via pair legs.
    val candDocs = cand.select(col("id_a").as("doc_id"))
      .unionByName(cand.select(col("id_b").as("doc_id")))
      .distinct()
    val shCand = shingledFrom(docsDf.join(candDocs, "doc_id"))
    val legs = cand.select(col("id_a"), col("id_b"), col("id_a").as("doc_id"))
      .unionByName(cand.select(col("id_a"), col("id_b"), col("id_b").as("doc_id")))
    legs.join(shCand, "doc_id")
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        // exactly one non-null per side within a pair group; min = that value
        min(when(col("doc_id") === col("id_a"), col("shingles"))).as("sh_a"),
        min(when(col("doc_id") === col("id_b"), col("shingles"))).as("sh_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental near-dup ADMISSION (q200): today's crawl increment checked
    * against the existing corpus — the operator a production pipeline runs
    * daily, where re-pairing the whole corpus (q36's shape) would redo work
    * proportional to |corpus|² probabilities instead of |batch|. The batch
    * is the deterministic slice `doc_id % 10 = 7` (the fixture's stand-in
    * for an arrival partition); everything else is the standing corpus.
    *
    * Layout: both sides band into the SAME LSH index ([[bandedSignatures]] —
    * at deployment the corpus side is the persisted index, only the batch
    * side is computed fresh), candidates form ONLY where a batch row and a
    * corpus row share a (band, band-signature) bucket, and exact-Jaccard
    * verification shingles only the candidate documents (semi-join first,
    * q36's discipline). The corpus is never self-paired and never shuffled
    * against itself — per arriving document the cost is its bucket
    * collisions, which is what keeps daily ingest O(|batch|) while the
    * corpus grows toward 100 TB.
    *
    * Output: ONE ROW PER BATCH DOCUMENT — candidate count, the best verified
    * corpus match (max Jaccard, min corpus id on ties) or NULL, and the
    * admission verdict (`admitted` = no corpus near-dup at `threshold`).
    * Batch documents too short to shingle have no candidates and admit. */
  def incrementalLshAdmission(s: SparkSession, dir: String,
                              threshold: Double = 0.8): DataFrame = {
    val d = docs(s, dir)
    val isBatch = col("doc_id") % 10 === 7
    val bands = bandedSignatures(shingledFrom(d))
    val corpusB = bands.filter(!(col("doc_id") % 10 === 7))
      .select(col("band_id"), col("band_sig"), col("doc_id").as("corpus_id"))
    val batchB = bands.filter(col("doc_id") % 10 === 7)
      .select(col("band_id"), col("band_sig"), col("doc_id").as("batch_id"))
    val cand = batchB.join(corpusB, Seq("band_id", "band_sig"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    val candDocs = cand.select(col("batch_id").as("doc_id"))
      .unionByName(cand.select(col("corpus_id").as("doc_id"))).distinct()
    val shCand = shingledFrom(d.join(candDocs, "doc_id"))
    val legs = cand.select(col("batch_id"), col("corpus_id"), col("batch_id").as("doc_id"))
      .unionByName(cand.select(col("batch_id"), col("corpus_id"), col("corpus_id").as("doc_id")))
    val verified = legs.join(shCand, "doc_id")
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(
        min(when(col("doc_id") === col("batch_id"), col("shingles"))).as("sh_a"),
        min(when(col("doc_id") === col("corpus_id"), col("shingles"))).as("sh_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("j", round(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("j") >= threshold)
    // best match per batch doc: max Jaccard, min corpus id on ties — one
    // struct-max aggregate, no window shuffle (corpus ids are non-negative,
    // so negation is a valid tie-inverter)
    val best = verified
      .groupBy(col("batch_id"))
      .agg(max(struct(col("j"), (-col("corpus_id")).as("neg_id"))).as("b"))
      .select(col("batch_id"), (-col("b.neg_id")).as("dup_of"), col("b.j").as("jaccard"))
    val nCand = cand.groupBy(col("batch_id")).agg(count(lit(1)).as("n_candidates"))
    d.filter(isBatch).select(col("doc_id"))
      .join(nCand.withColumnRenamed("batch_id", "doc_id"), Seq("doc_id"), "left")
      .join(best.withColumnRenamed("batch_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("dup_of"), col("jaccard"),
        col("dup_of").isNull.as("admitted"))
      .orderBy(col("doc_id"))
  }

  /** 64-bit SimHash over whitespace tokens. Token hashes come from the first
    * 16 hex chars of md5 (not xxhash64) so the DuckDB oracle can replay the
    * computation bit-for-bit; the value assembles from two 32-bit halves
    * (`shiftleft(hi, 32) | lo` — pure bitwise, so ANSI overflow checks never
    * fire) because a single 16-hex-char `conv` would exceed BIGINT range.
    * Per-bit vote = Σ ±1 across tokens (repeats count); bit set iff the vote
    * is positive. 64 bits (not 32) on purpose: the hamming-retrieval chunk
    * buckets below get a 65,536-value space per chunk instead of 256, which
    * is what keeps in-bucket pair generation sub-quadratic at corpus scale.
    *
    * Single-pass formulation on purpose: the token-hash array is the
    * `aggregate`'s INPUT (evaluated once per document), and the accumulator
    * is the 64-element vote vector updated via `zip_with` per token. The
    * naive per-bit form — 64 inner aggregates each re-deriving the hashes —
    * re-runs md5 over every token 64×, and hiding the hash array behind a
    * prior projection doesn't help because CollapseProject inlines a
    * single-use alias straight back into the lambda. The md5 hex string is
    * let-bound by its own inner `transform` so the digest runs exactly once
    * per token even though both halves slice it. */
  val simhash64: Column = expr(
    """aggregate(
      |  transform(transform(split(trim(text), ' '), tk -> md5(tk)),
      |    m -> shiftleft(cast(conv(substring(m, 1, 8), 16, 10) AS bigint), 32)
      |         | cast(conv(substring(m, 9, 8), 16, 10) AS bigint)),
      |  array_repeat(0, 64),
      |  (acc, h) -> zip_with(acc, sequence(0, 63),
      |                       (a, b) -> a + (CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END)),
      |  acc -> aggregate(
      |    zip_with(acc, sequence(0, 63),
      |             (v, b) -> CASE WHEN v > 0 THEN shiftleft(cast(1 AS bigint), b) ELSE cast(0 AS bigint) END),
      |    cast(0 AS bigint), (s, x) -> s + x))""".stripMargin)

  /** [[simhash64]] via the native codegen'd `graft_simhash64` expression
    * when the active session has GraftExtensions, else the (bit-identical)
    * HOF form — same fast/fallback contract as `cosineFast`. The HOF tree
    * interprets a 64-slot zip_with PER TOKEN; the native kernel is one
    * static call on the codegen'd row loop (~4× on the sf0.1 corpus). */
  def simhash64Fast: Column = {
    val s = SparkSession.active
    if (s.catalog.functionExists("graft_simhash64"))
      call_function("graft_simhash64", col("text"))
    else simhash64
  }

  /** (doc_id, 64-bit simhash) for the fixture corpus — one md5 per token. */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), simhash64Fast.as("sh"))

  /** SimHash hamming-radius retrieval with GUARANTEED recall: all pairs of
    * documents whose 64-bit SimHash signatures differ in at most `k` bits.
    *
    * The 64-bit signature splits into `k+1` chunks of 16 bits; by pigeonhole,
    * any pair within hamming distance k agrees exactly on at least one whole
    * chunk — so bucketing on (chunk_id, chunk_value) and verifying candidates
    * with `bit_count(a ^ b) <= k` retrieves EVERY qualifying pair (unlike
    * cosine/Jaccard LSH, which is probabilistic). This is the classic
    * Charikar/Manku-Jain-Sarma near-duplicate layout.
    *
    * Scale shape: one per-row signature pass, one shuffle of narrow
    * (chunk_id, chunk_value, doc_id, sig) rows, pairs generated inside each
    * bucket's posting list, no join back (the signature rides along). Each
    * chunk ranges over 65,536 values (4 chunks × 16 bits — NOT the earlier
    * 4×8 layout, whose fixed 1,024-bucket space made in-bucket pair counts
    * grow Θ(n²/1024) with corpus size), so a bucket is hot only when many
    * documents share 16 identical signature bits — genuinely clustered
    * content, which near-dup retrieval *should* pair up. */
  def simhashHammingPairs(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    simhashHammingPairsFrom(docs(s, dir), k)

  /** [[simhashHammingPairs]] over any `(doc_id, text)` frame. */
  def simhashHammingPairsFrom(docsDf: DataFrame, k: Int = 3): DataFrame = {
    require(k == 3, "64-bit signature is chunked 4×16; pigeonhole guarantee holds for k <= 3")
    docsDf.select(col("doc_id"), simhash64Fast.as("sh"))
      .select(col("doc_id"), col("sh"),
        posexplode(expr("transform(sequence(0, 3), c -> shiftright(sh, c * 16) & 65535)")))
      .groupBy(col("pos"), col("col"))
      .agg(collect_list(struct(col("doc_id"), col("sh"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .transform(streamPairs(_))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        expr("bit_count(x.sh ^ y.sh)").cast(LongType).as("hamming"))
      .filter(col("hamming") <= k)
      .distinct()
  }

  /** Embedding-cosine near-dup pairs via banded hyperplane LSH: bucket on
    * (band_id, band_value) over `nBands` bands of `rowsPerBand` sign bits,
    * generate candidate pairs inside buckets, verify with exact cosine, keep
    * pairs >= `threshold`. Never an all-pairs join — the plan is a shuffled
    * equi-join pipeline (asserted in RelationalSpec).
    *
    * Honesty about the banding trade-off: hyperplane LSH's per-plane
    * agreement probability is 1 - θ/π, so at θ=60° (cosine 0.5) a 5-bit band
    * matches with p≈0.13 and 12 bands give ~81% expected recall per pair —
    * loose thresholds are intrinsically hostile to sign-bit LSH. At real
    * near-dup thresholds (cosine >= 0.9, θ<=26°) the same code with
    * rowsPerBand=8 prunes ~256× per band with >99% recall. The fixture
    * near-dup pairs at the sf0.001/sf0.01 gate SFs are verified
    * (deterministically — the hyperplanes are md5-derived constants) to
    * collide under the default 12×5 banding, so the oracle comparison
    * against the exact all-pairs SQL is green at the driver's gate;
    * MEASURED at sf0.1 the banding recovers 11/14 true pairs — the three
    * misses all sit at cosine 0.50–0.51 (θ ≈ 59.5°, per-pair band recall
    * ≈ 82%), exactly the hostile-regime tail the math above predicts.
    * That is the honest contract of sign-bit LSH at a loose threshold: a
    * production τ=0.5 sweep uses the cell-blocked tier (q99 SemDeDup)
    * instead — see BASELINE.md's round-15 scaling note. DedupSimilaritySpec
    * pins no-false-positives and a recall floor at a sub-threshold cut
    * where misses do occur.
    *
    * Round 16: the REGISTERED q47 moved to (τ=0.9, 6 bands × 16 rows) —
    * the real near-dup regime where banding prunes 2^16 per band — and the
    * loose-τ=0.5 defaults here remain the spec-only recall-audited
    * reference for the hostile regime. */
  def embeddingNeardupLsh(s: SparkSession, dir: String, threshold: Double = 0.5,
                          rowsPerBand: Int = 5, nBands: Int = 12): DataFrame =
    embeddingNeardupLshFrom(
      Tables.read(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("v")),
      threshold, rowsPerBand, nBands)

  /** [[embeddingNeardupLsh]] over any `(vec_id, v)` frame (spec hook —
    * planted high-cosine geometry pins exact recall/precision vs brute
    * force in DedupSimilaritySpec). */
  def embeddingNeardupLshFrom(vecs: DataFrame, threshold: Double,
                              rowsPerBand: Int, nBands: Int): DataFrame = {
    val s = vecs.sparkSession
    val planes = Similarity.hyperplanes(nBands * rowsPerBand, 64)
    val e = vecs.select(col("vec_id"), col("v"))
    // Narrow candidate generation: only (vec_id, band_id, band_value) enters
    // the bucket shuffle — the 64-dim payload is fetched afterwards for the
    // surviving candidate pairs via keyed equi-joins.
    val buckets = e
      .select(col("vec_id"), posexplode(Similarity.bandValuesFast(s, col("v"), planes, rowsPerBand)))
      .groupBy(col("pos"), col("col"))
      .agg(collect_list(col("vec_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
    val cand = streamPairs(buckets, "y > x")
      .select(col("x").as("id_a"), col("y").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(graft.functions.VectorFunctions.cosineFast(s, col("va"), col("vb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Edit-distance fuzzy match (q152): the entity-resolution tier the
    * shingle tiers can't express — levenshtein captures character-level
    * typos and word-order-preserving edits that n-gram sets blur. Never
    * all-pairs: candidates form only inside a blocking key (the first two
    * name tokens), the same Σ|block|² cost bound as the posting-list
    * tiers, with a block-size cap against boilerplate keys melting one
    * reducer (blocks past the cap are template families — route them to
    * the exact tier instead; the fixture's largest block is 46, so the
    * default cap drops nothing there). levenshtein is classic unit-cost
    * edit distance in BOTH engines, so the oracle replays distances
    * exactly; output is the dist-ranked total-order top-1000 (the
    * bounded-result discipline). */
  def fuzzyMatchPairs(s: SparkSession, dir: String, maxDist: Int = 2,
                      blockCap: Int = 1000): DataFrame = {
    // Formulation trade, MEASURED both ways on the sf0.1 fixture (64 blocks
    // of ~312 members, 3.1M pairs): the posting-list layout the shingle
    // tiers use (collect_list per block + in-list pair explode) is SLOWER
    // here — the carried member array costs O(|block|²) struct copies when
    // blocks run to the hundreds, where shingle df-lists stay single-digit.
    // The blk-keyed self-join wins at this block shape.
    //
    // Three exact per-pair cost cuts (none can change output — asserted in
    // DedupSimilaritySpec):
    //  1. COMMON-PREFIX STRIP: within a block both names start with the
    //     blocking key (blk IS their shared 2-token prefix by construction),
    //     and lev(p·x, p·y) = lev(x, y) for any common prefix p
    //     (Wagner–Fischer: the first |p| rows/cols of the DP table are
    //     identity), so the kernel runs on the ~3× shorter suffixes.
    //  2. LENGTH PREFILTER (lev >= |Δlen| ⇒ pairs with |Δlen| > maxDist
    //     can't pass): two ints per pair vs a DP kernel. On THIS fixture it
    //     prunes nothing (one short name vocabulary — measured round 12:
    //     3,123,236 of 3,123,236 pairs pass), but it's ~free and on a real
    //     entity corpus it's the first-line cut.
    //  3. THRESHOLDED KERNEL: banded DP is O(len·maxDist) per pair instead
    //     of O(len²), returns -1 the moment the band overflows, and is
    //     exact for every surviving pair.
    //
    // The blocked frame is materialized once per invocation
    // (localCheckpoint): both self-join legs and the block-cap census
    // otherwise re-scan part + re-aggregate — narrow rows (key, suffix
    // string, blk), tiny at any SF because it's ONE table's worth.
    fuzzyMatchPairsFrom(
      Tables.read(s, dir, "part").select(col("p_partkey"), col("p_name")),
      maxDist, blockCap)
  }

  /** [[fuzzyMatchPairs]] over any `(p_partkey, p_name)` frame (spec hook —
    * the edge-case corpus with 1-token and multi-space names drives this
    * directly). */
  def fuzzyMatchPairsFrom(parts: DataFrame, maxDist: Int = 2,
                          blockCap: Int = 1000): DataFrame =
    fuzzyPairsAllFrom(parts, maxDist, blockCap)
      .orderBy(col("dist"), col("key_a"), col("key_b"))
      .limit(1000)

  /** The COMPLETE fuzzy pair set (no rank/limit) — q152 ranks and caps it
    * for reporting; the entity-resolution closure (q217) consumes every
    * edge, because dropping a low-ranked edge can split an entity. */
  def fuzzyPairsAllFrom(parts: DataFrame, maxDist: Int = 2,
                        blockCap: Int = 1000): DataFrame = {
    val p = parts
      .select(col("p_partkey"), col("p_name"),
        concat_ws(" ", slice(split(col("p_name"), " "), 1, 2)).as("blk"))
      .select(col("blk"), col("p_partkey"),
        // suffix after the guaranteed-common |blk| chars (keeps the space
        // separator when present — the prefix stripped is exactly blk)
        expr("substring(p_name, length(blk) + 1)").as("sfx"))
    val capped = p.join(
      p.groupBy(col("blk")).agg(count(lit(1)).as("bc"))
        .filter(col("bc") <= blockCap).select(col("blk")),
      "blk").localCheckpoint()
    val a = capped.select(col("blk"), col("p_partkey").as("key_a"), col("sfx").as("sfx_a"))
    val b = capped.select(col("blk"), col("p_partkey").as("key_b"), col("sfx").as("sfx_b"))
    a.join(b, "blk")
      .filter(col("key_a") < col("key_b") &&
        abs(length(col("sfx_a")) - length(col("sfx_b"))) <= maxDist)
      .select(col("key_a"), col("key_b"),
        levenshtein(col("sfx_a"), col("sfx_b"), maxDist).as("dist"))
      .filter(col("dist") =!= -1)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Edit-distance fuzzy match (q152) — see [[fuzzyMatchPairs]].
    "q152_fuzzy_match" -> ((s, dir) => fuzzyMatchPairs(s, dir)),

    // Exact dedup: group by content fingerprint, deterministic survivor
    // (min doc_id), copy count. Hash-groupBy: one shuffle on the fingerprint.
    "q34_exact_dedup" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalytics.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
        .select(col("survivor_id"), col("fp"), col("n_copies"))
        .orderBy(col("survivor_id"))),

    // Exact n-gram Jaccard: top-20 most-similar pairs (fixtures contain
    // planted near-duplicates at J≈0.98). The df-cap is active (no fixture
    // shingle approaches it — verified in DedupSimilaritySpec with a planted
    // boilerplate corpus).
    // Weighted (multiset) token Jaccard over the candidate layer (q226):
    // the q35 shingle Jaccard treats a document as a SET, so a page that
    // repeats one paragraph 50 times and one that has it once can look
    // identical; the multiset form J_w = Σ_t min(c_a,c_b) / Σ_t max(c_a,c_b)
    // over per-token COUNTS (Ioffe 2010 frames the estimator family;
    // computed exactly here) separates true near-copies from
    // template-stuffed look-alikes. Scored ONLY on the shared candidate
    // pairs (never all pairs): per candidate, the two token-count maps
    // full-outer-join on (pair, token) so one-sided tokens contribute their
    // full mass to the denominator. Emitted next to the set Jaccard so the
    // divergence between the two IS the repetition signal.
    "q226_weighted_jaccard" -> ((s, dir) => {
      val pairs = sharedNgramJaccardPairs(s, dir)
        .select(col("id_a"), col("id_b"), col("jaccard").as("set_jaccard"))
      val tc = Tables.read(s, dir, "documents")
        .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      val xa = pairs.join(tc.select(col("doc_id").as("id_a"), col("tok"), col("c").as("ca")), Seq("id_a"))
        .select(col("id_a"), col("id_b"), col("tok"), col("ca"))
      val xb = pairs.join(tc.select(col("doc_id").as("id_b"), col("tok"), col("c").as("cb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("tok"), col("cb"))
      xa.join(xb, Seq("id_a", "id_b", "tok"), "full")
        .select(col("id_a"), col("id_b"),
          least(coalesce(col("ca"), lit(0L)), coalesce(col("cb"), lit(0L))).as("mn"),
          greatest(coalesce(col("ca"), lit(0L)), coalesce(col("cb"), lit(0L))).as("mx"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(round(sum(col("mn")).cast("double") / sum(col("mx")), 6).as("weighted_jaccard"))
        .join(pairs, Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"), col("set_jaccard"), col("weighted_jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q35_ngram_jaccard" -> ((s, dir) =>
      sharedNgramJaccardPairs(s, dir)
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(20)),

    // Exact n-gram containment: top-20 pairs by |A∩B|/min(|A|,|B|) — the
    // quote/subset-inclusion detector that a Jaccard threshold misses (see
    // ngramContainmentPairsFrom). Same posting-list pipeline as q35.
    "q89_containment" -> ((s, dir) =>
      sharedNgramContainmentPairs(s, dir)
        .orderBy(col("containment").desc, col("id_a"), col("id_b"))
        .limit(20)),

    // MinHash-LSH near-dup pairs at J>=0.8 (approximate candidates, exact
    // verification). Oracled: the md5-derived base hash and the band-value
    // bucketing are both DuckDB-replayable, so the oracle reproduces the
    // exact candidate set AND the exact verified pairs. The ScalaTest spec
    // additionally checks recall against q35's exact pairs.
    "q36_minhash_lsh" -> ((s, dir) =>
      minhashLshPairs(s, dir)
        .orderBy(col("id_a"), col("id_b"))),

    // Incremental batch-vs-corpus LSH admission — see
    // [[incrementalLshAdmission]]: daily-crawl near-dup gating whose cost
    // scales with the ARRIVING batch, not the standing corpus.
    "q200_incremental_lsh" -> ((s, dir) =>
      incrementalLshAdmission(s, dir)),

    // CDC-maintained LSH band index (q389) — the THIRD delta-maintained
    // index, completing the set that the 100 TB cost model's rule (2)
    // requires: exact-fingerprint (q383), IVF-PQ cells+codes (q386), and
    // now the MinHash band index that q200's admission probe reads at
    // deployment. Band rows are content-local per document (its 8 band
    // values derive from ITS OWN shingles alone), so the arriving batch's
    // rows need no old-state combine: the standing index (doc_id % 10 != 7,
    // q200's batch convention) is persisted via VersionedLayer and ADVANCED
    // by MERGE of the batch slice on (doc_id, band_id). The registered
    // result is the maintained index itself while the oracle REBUILDS it
    // from scratch over all documents — hash equality IS the IVM proof
    // (delta-advance ≡ scratch rebuild), the q383/q386 contract. Nothing
    // ever re-shingles the standing corpus: the merge's anti-join over
    // narrow (doc_id, band_id) keys is the only pass over the big index,
    // and at 25 B docs the nightly delta is 8 × batch rows ≈ 100 GB vs a
    // 10 TB standing index that is read, never re-banded.
    "q389_lsh_index_cdc" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import graft.sources.VersionedLayer
      val root = sc.dir("graft_q389_lsh_idx").toString
      // One shingle+signature pass serves both slices (q386's discipline:
      // band rows are per-document, so split-after-encode is row-identical
      // to encoding each slice separately — production bands ONLY the
      // arriving batch; here the standing build is part of the measured
      // run anyway, so sharing the pass just avoids a second corpus scan).
      // the standing index is persisted hive-layouted by band (the shape
      // q200's deployment probe wants: a single-band admission probe
      // partition-prunes 7/8 of the index at the manifest, spec-pinned in
      // VersionedLayerSpec); the CDC merge preserves the layout, so
      // nightly maintenance never erodes the probe path
      val idx = lshIndexRows(docs(s, dir)).localCheckpoint()
      VersionedLayer.write(idx.filter(!(col("doc_id") % 10 === 7)), root,
        layoutBy = Seq("band_id"))
      VersionedLayer.merge(idx.filter(col("doc_id") % 10 === 7),
        root, Seq("doc_id", "band_id"))
      VersionedLayer.read(s, root)
        .orderBy(col("doc_id"), col("band_id"))
    }),

    // Index-lifecycle audit (q390) — the nightly maintenance cadence END TO
    // END: standing write, three successive batch MERGEs (the small-file
    // accumulation a week of deltas actually produces), COMPACT (coalesce
    // rewrite bounding the file count — no shuffle), then VACUUM (dropping
    // every superseded version). The registered result is the per-band
    // bucket-occupancy audit of the SURVIVING snapshot — docs indexed,
    // distinct buckets, largest bucket: the skew numbers that price q36's
    // bucket join and decide whether a band needs salting. The oracle
    // rebuilds the same audit from scratch over all documents, so a compact
    // or vacuum that loses or duplicates even ONE index row breaks the hash
    // — the data-preservation proof for the maintenance operations
    // themselves, which q383/q386/q389 assume but never exercise.
    "q390_index_lifecycle" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import graft.sources.VersionedLayer
      val root = sc.dir("graft_q390_lsh_life").toString
      val idx = lshIndexRows(docs(s, dir)).localCheckpoint()
      VersionedLayer.write(idx.filter(col("doc_id") % 10 <= 6), root)
      for (b <- 7 to 9)
        VersionedLayer.merge(idx.filter(col("doc_id") % 10 === b),
          root, Seq("doc_id", "band_id"))
      VersionedLayer.compact(s, root, targetFiles = 2)
      VersionedLayer.vacuum(s, root, keepLast = 1)
      VersionedLayer.read(s, root)
        .groupBy(col("band_id"), col("b0"), col("b1"), col("b2"), col("b3"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("band_id"))
        .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_buckets"),
          max(col("n")).as("max_bucket"))
        .orderBy(col("band_id"))
    }),

    // Index takedown (q394) — the COMPLIANCE leg of the maintenance matrix:
    // documents leave the corpus (legal takedown, robots revocation, user
    // deletion) and every derived artifact must forget them WITHOUT a
    // rebuild. The standing LSH band index is laid out key-sorted (the
    // sorted-compact shape — disjoint per-file doc_id ranges, the layout a
    // weekly OPTIMIZE maintains), then VersionedLayer.deleteKeys removes
    // every band row of the takedown set (doc_id % 13 = 5, a scattered
    // per-document set — the realistic shape) by PREFIX key: the delete
    // rewrites only the files whose doc_id range holds a takedown id, as
    // anti-join survivors; at deployment scale (bounded takedown set vs a
    // 10 TB index in thousands of sorted files) that is ~|takedown| file
    // rewrites, not a table pass. The registered result is the index AFTER
    // takedown; the oracle rebuilds from scratch and filters the takedown
    // docs — hash equality proves the delete removed exactly the requested
    // documents' rows and nothing else (band rows are per-document, so
    // post-filtering the rebuild is the exact expected state).
    "q394_index_takedown" -> ((s, dir) => TempRoots.scoped(s) { sc =>
      import graft.sources.VersionedLayer
      val root = sc.dir("graft_q394_takedown").toString
      val d = docs(s, dir)
      val idx = lshIndexRows(d).localCheckpoint()
      VersionedLayer.write(idx, root)
      VersionedLayer.compact(s, root, targetFiles = 4, sortBy = Seq("doc_id"))
      VersionedLayer.deleteKeys(
        d.filter(col("doc_id") % 13 === 5).select(col("doc_id")),
        root, Seq("doc_id"))
      VersionedLayer.read(s, root)
        .orderBy(col("doc_id"), col("band_id"))
    }),

    // SimHash signatures.
    "q37_simhash" -> ((s, dir) =>
      simhashSignatures(s, dir)
        .select(col("doc_id"), col("sh").as("simhash"))
        .orderBy(col("doc_id"))),

    // SimHash bit-balance audit (q288): per bit position, the fraction of
    // documents with the bit set — a healthy token-hash mixes each of the
    // 64 positions to ~50/50, and a position stuck near 0 or 1 carries no
    // discriminating power (it silently shrinks q58's effective signature
    // and inflates its hamming-band collision rates). This is the hash-
    // quality QC run BEFORE trusting simhash distances; deviation is
    // |p_set − 0.5|. One bounded 64-way explode over the signature frame.
    "q288_simhash_bit_balance" -> ((s, dir) => {
      simhashSignatures(s, dir).select(col("sh"))
        .select(explode(expr("sequence(0, 63)")).as("b"), col("sh"))
        .select(col("b").cast(LongType).as("bit"),
          (expr("shiftright(sh, b)").cast(LongType).bitwiseAND(1L)).as("set"))
        .groupBy(col("bit"))
        .agg(count(lit(1)).as("n_docs"), sum(col("set")).as("n_set"))
        .select(col("bit"), col("n_docs"), col("n_set"),
          round(col("n_set").cast("double") / col("n_docs"), 6).as("p_set"),
          round(abs(col("n_set").cast("double") / col("n_docs") - 0.5), 6).as("dev"))
        .orderBy(col("bit"))
    }),

    // Embedding-cosine near-dup pairs at a REAL near-dup threshold
    // (cosine >= 0.9) via banded hyperplane-LSH candidates + exact cosine
    // verification. Registered at 6 bands × 16 sign bits: a random pair
    // collides per band with p = 2^-16, so the candidate floor is ~1e-4 of
    // all-pairs (the loose-τ=0.5 form kept in DedupSimilaritySpec had an
    // intrinsic ~0.3·C(n,2) floor — sign-bit LSH cannot prune at θ≈60°, the
    // round-15 scale finding). At near-dup geometry the banding is sharp:
    // a cosine-0.98 pair (θ≈11.5°) survives a 16-bit band with p≈0.35 and
    // is missed by all 6 with p≈0.08; at 0.999 (the scaled-corpus copy
    // families) the miss probability is ~6e-5. The oracle is the exact
    // all-pairs SQL at the same threshold; the base fixtures contain no
    // pair above 0.9 (verified, max cosine 0.60 at sf0.1), so the gate row
    // pins "no false positives" there; q385 (planted copies with cosines
    // just under 1) gates the dense-recall side. A planted high-cosine
    // frame in DedupSimilaritySpec pins exact recall/precision against
    // brute force.
    "q47_embedding_neardup" -> ((s, dir) =>
      embeddingNeardupLsh(s, dir, threshold = 0.9, rowsPerBand = 16, nBands = 6)
        .orderBy(col("id_a"), col("id_b"))),

    // q47's DENSE-RECALL gate companion (q385): the base fixtures contain
    // no pair ≥ 0.9 (max cosine 0.60 at sf0.1), so q47's green row pins
    // only the no-false-positive side. This row makes the hash gate
    // witness RECALL at every SF: a quarter slice of the corpus is
    // self-unioned with deterministically perturbed copies (component
    // noise ≤ 1e-3 from integer modular arithmetic both engines replay
    // bit-for-bit — cosine(original, copy) ≈ 0.999999), and the SAME
    // 6×16-band LSH pipeline must retrieve every planted pair; the oracle
    // is the exact all-pairs SQL over the identical union frame, so a
    // recall miss (a copy pair the banding dropped) hash-fails the round,
    // not just a spec. Tiny perturbations almost never flip a sign bit, so
    // every copy collides with its original in all 6 bands (miss p ~ 6e-5
    // at this geometry — the q47 doc's 0.999-cosine regime, under the
    // oracle gate).
    "q385_embedding_neardup_recall" -> ((s, dir) => {
      val base = Tables.read(s, dir, "embeddings")
        .filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      val copies = base.select((col("vec_id") + 1000000L).as("vec_id"),
        expr("""transform(v, (x, i) ->
          | x + cast((vec_id * 31 + i * 17) % 2001 - 1000 as double) / 1000000.0)"""
          .stripMargin).as("v"))
      embeddingNeardupLshFrom(base.unionByName(copies),
          threshold = 0.9, rowsPerBand = 16, nBands = 6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash hamming-radius pairs (guaranteed recall via chunk pigeonhole).
    "q58_simhash_hamming" -> ((s, dir) =>
      simhashHammingPairs(s, dir)
        .orderBy(col("id_a"), col("id_b"))),

    // Similarity-score histogram — the dedup threshold-tuning curve.
    "q141_jaccard_histogram" -> ((s, dir) => jaccardHistogram(s, dir)),

    // LSH quality audit (q145): the approximate tier scored against the
    // exact tier ENTIRELY in-engine — candidate volume (verification work
    // bought), verified pairs, recall vs the exact J>=0.8 pairs, and
    // precision of the verified set. The tuning dashboard for (bands,
    // rows): more bands buy recall with more candidates; this query prices
    // both sides of that trade on the live corpus. All counts ride as
    // broadcast 1-row aggregates — no driver-side counts.
    "q145_lsh_audit" -> ((s, dir) => {
      val exact = sharedNgramJaccardPairs(s, dir)
        .filter(col("jaccard") >= 0.8).select(col("id_a"), col("id_b"))
      val cand = sharedMinhashCandidates(s, dir)
      val lsh = minhashLshPairs(s, dir).select(col("id_a"), col("id_b"))
      val hit = exact.join(lsh, Seq("id_a", "id_b"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(lsh.agg(count(lit(1)).as("n_verified")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_exact"), col("n_candidates"), col("n_verified"),
          // guards: an already-clean corpus (zero exact pairs / candidates)
          // must report null rates, not an ANSI divide-by-zero job abort
          when(col("n_exact") > 0,
            round(col("n_hit").cast("double") / col("n_exact"), 6)).as("recall"),
          when(col("n_verified") > 0,
            round(col("n_hit").cast("double") / col("n_verified"), 6)).as("precision"))
    }),

    // MinHash k-sensitivity curve (q252): the estimator-budget question
    // q145/q240 don't answer — how many hash functions does the MinHash
    // Jaccard estimate actually need? For k in {4,8,16,32}, the mean
    // absolute error and bias of (matching positions)/k against the exact
    // Jaccard over the shared candidate-pair universe. The theoretical
    // MAE shrinks like ~1/√k (each position is a Bernoulli(J) trial);
    // this measures it ON THE LIVE CORPUS, which is what justifies (or
    // shrinks) the 32-long signature every q36 run pays to shuffle. One
    // k=32 signature pass serves all four curves (a k-prefix of a minhash
    // signature IS a valid k-hash signature); the per-pair position
    // matching is k-bounded array arithmetic on the narrow pair frame.
    "q252_minhash_k_curve" -> ((s, dir) => {
      val pairs = sharedNgramJaccardPairs(s, dir)
      val sig = minhashSignatures(shingledFrom(docs(s, dir)))
      val j = pairs
        .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sa")), Seq("id_a"))
        .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sb")), Seq("id_b"))
      val kv = Seq(4, 8, 16, 32)
      val rows = j.select(col("jaccard"), explode(array(kv.map { k =>
        struct(lit(k.toLong).as("k"),
          expr(s"aggregate(zip_with(slice(sa, 1, $k), slice(sb, 1, $k), " +
            "(x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)")
            .cast("double").as("m"))
      }: _*)).as("e"))
        .select(col("jaccard"), col("e.k").as("k"),
          (col("e.m") / col("e.k")).as("est"))
      rows.groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(round(abs(col("est") - col("jaccard")), 12)
            .cast(DecimalType(38, 12))).cast("double") / count(lit(1)), 6).as("mae"),
          round(sum(round(col("est") - col("jaccard"), 12)
            .cast(DecimalType(38, 12))).cast("double") / count(lit(1)), 6).as("bias"))
        .orderBy(col("k"))
    }),

    // SimHash threshold ROC (q240): q145 prices ONE operating point of the
    // MinHash-LSH tier; this sweeps the whole SimHash operating CURVE —
    // precision/recall of "hamming(simhash_a, simhash_b) <= t" against the
    // exact 5-gram-Jaccard >= 0.5 ground truth, for t in {0,4,...,32}.
    // The curve is what picks the production threshold: the knee where
    // recall stops buying and precision starts bleeding. Both scores are
    // computed over the SAME universe — the df-capped shingle-sharing
    // candidate pairs of the shared pair-count layer — so the comparison
    // is like-for-like and the corpus is never pairwise-joined. Scale
    // shape: the pair frame reduces to a <= 65-row hamming histogram
    // FIRST (map-side combined), and only that bounded rollup meets the
    // 9-row threshold frame; signatures ride the codegen'd
    // graft_simhash64 kernel and join the (narrow) pair frame by id.
    // Capture-recapture dedup-coverage estimate (q308): Lincoln–Petersen
    // over the two INDEPENDENT near-dup detectors this engine runs — how
    // many true duplicate pairs exist, estimated only from what the
    // MinHash-LSH bucketer (q36 candidates) and the SimHash hamming≤12
    // screen (q58) each caught and both caught: N̂ = n_lsh·n_simhash /
    // n_both. The estimator wildlife surveys use, pointed at the question
    // every dedup deployment actually has ("how much did we MISS?") —
    // and because the fixture's exact-Jaccard truth IS computable, the
    // query reports N̂ beside n_true, auditing the estimator itself
    // (est_ratio ≈ 1 ⇔ the detectors' misses are independent). All three
    // capture sets are semi-joins over the session pair/candidate layers;
    // the final algebra runs on four broadcast 1-row counts.
    "q308_capture_recapture" -> ((s, dir) => {
      val truth = sharedNgramJaccardPairs(s, dir).filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      val lsh = sharedMinhashCandidates(s, dir)
      val sig = simhashSignatures(s, dir)
      val capA = truth.join(lsh, Seq("id_a", "id_b"), "left_semi").localCheckpoint()
      val capB = truth
        .join(sig.select(col("doc_id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
        .join(sig.select(col("doc_id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
        .filter(expr("bit_count(sha ^ shb)") <= 12)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      val both = capA.join(capB, Seq("id_a", "id_b"), "left_semi")
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(broadcast(capA.agg(count(lit(1)).as("n_lsh"))))
        .crossJoin(broadcast(capB.agg(count(lit(1)).as("n_simhash"))))
        .crossJoin(broadcast(both.agg(count(lit(1)).as("n_both"))))
        .select(col("n_true"), col("n_lsh"), col("n_simhash"), col("n_both"),
          when(col("n_both") > 0,
            round(col("n_lsh").cast("double") * col("n_simhash") / col("n_both"), 6))
            .as("n_hat"),
          round(col("n_lsh").cast("double") / col("n_true"), 6).as("cov_lsh"),
          round(col("n_simhash").cast("double") / col("n_true"), 6).as("cov_simhash"))
        .select(col("n_true"), col("n_lsh"), col("n_simhash"), col("n_both"),
          col("n_hat"), col("cov_lsh"), col("cov_simhash"),
          round(col("n_hat") / col("n_true"), 6).as("est_ratio"))
    }),

    "q240_simhash_roc" -> ((s, dir) => {
      val pairs = sharedNgramJaccardPairs(s, dir)
      val sig = simhashSignatures(s, dir)
      val hp = pairs
        .join(sig.select(col("doc_id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
        .join(sig.select(col("doc_id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
        .select(expr("bit_count(sha ^ shb)").cast(LongType).as("hamming"),
          when(col("jaccard") >= 0.5, 1L).otherwise(0L).as("truth"))
      val hist = hp.groupBy(col("hamming"))
        .agg(count(lit(1)).as("n"), sum(col("truth")).as("nt"))
      val totals = hp.agg(count(lit(1)).as("n_pairs"), sum(col("truth")).as("n_true"))
      val thr = broadcast(s.range(1).select(explode(array(
        lit(0L), lit(4L), lit(8L), lit(12L), lit(16L),
        lit(20L), lit(24L), lit(28L), lit(32L))).as("threshold")))
      thr.join(hist, col("hamming") <= col("threshold"), "left")
        .groupBy(col("threshold"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_predicted"),
          coalesce(sum(col("nt")), lit(0L)).as("n_tp"))
        .crossJoin(broadcast(totals))
        .select(col("threshold"), col("n_predicted"), col("n_tp"), col("n_true"),
          when(col("n_predicted") > 0,
            round(col("n_tp").cast("double") / col("n_predicted"), 6)).as("precision"),
          when(col("n_true") > 0,
            round(col("n_tp").cast("double") / col("n_true"), 6)).as("recall"))
        .orderBy(col("threshold"))
    })
  )

  /** The 32 universal-hash minimum aggregates of the MinHash oracle
    * pipeline, generated ONCE — every MinHash oracle (q36/q145/q200/q252/
    * q308 and [[lshIndexCte]] for q389/q390/q391) derives its SQL from this
    * string, so the hash constants can never drift between oracles (they
    * mirror [[minhashSignatures]] exactly). */
  private val minhashMinsSql: String = (0 until 32)
    .map(i => s"min(((2*$i+1)*h + $i*1099511628211) % 4294967311) AS m$i").mkString(", ")

  /** The 8×4 band projections over `sigs` — the SQL mirror of
    * [[bandedSignatures]]'s slicing, shared by the same oracles. */
  private val bandSelectsSql: String = (0 until 8)
    .map(b => s"SELECT doc_id, $b AS band_id, m${4 * b} AS b0, m${4 * b + 1} AS b1, " +
      s"m${4 * b + 2} AS b2, m${4 * b + 3} AS b3 FROM sigs")
    .mkString(" UNION ALL ")

  /** Scratch rebuild of the persisted LSH band index ([[lshIndexRows]]) as a
    * WITH prefix ending in `bands(doc_id, band_id, b0..b3)` — the shared
    * body of the q389/q390 index-maintenance oracles: one text, so the
    * engine's maintained index and the oracle's rebuilt one cannot drift on
    * the signature/banding definition (the q386 `ivfPqIndexSql` pattern on
    * the text side). Shared with the streaming maintainer's oracle (q391,
    * `streaming/StreamParity`) — all three maintenance paths (batch MERGE,
    * lifecycle, streaming exactly-once) verify against ONE rebuild text. */
  private[graft] val lshIndexCte: String = {
    val mins = minhashMinsSql
    // CAST band_id to BIGINT here (the index tables emit it as a column;
    // the candidate-stage oracles keep it internal) — otherwise identical
    // to [[bandSelectsSql]]
    val bandSelects = (0 until 8)
      .map(b => s"SELECT doc_id, CAST($b AS BIGINT) AS band_id, m${4 * b} AS b0, " +
        s"m${4 * b + 1} AS b1, m${4 * b + 2} AS b2, m${4 * b + 3} AS b3 FROM sigs")
      .mkString(" UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 4),
       |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS shingles
       |       FROM toks WHERE len(w) >= 5),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |hs AS (SELECT doc_id, CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h FROM ex),
       |sigs AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
       |bands AS ($bandSelects)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // q389: the oracle rebuilds the band index FROM SCRATCH over ALL
    // documents — equality with the engine's write+MERGE-maintained layer
    // is the IVM correctness proof (q383/q386's contract).
    "q389_lsh_index_cdc" ->
      (lshIndexCte +
        "\nSELECT doc_id, band_id, b0, b1, b2, b3 FROM bands ORDER BY doc_id, band_id"),

    // q394: scratch rebuild MINUS the takedown docs (band rows are
    // per-document, so filtering the rebuild is exactly the state a correct
    // delete must reach) — same shared CTE text as q389/q390/q391.
    "q394_index_takedown" ->
      (lshIndexCte +
        "\nSELECT doc_id, band_id, b0, b1, b2, b3 FROM bands " +
        "WHERE doc_id % 13 <> 5 ORDER BY doc_id, band_id"),

    // q390: same scratch rebuild, aggregated to the per-band bucket audit —
    // a compact/vacuum that loses or duplicates one row breaks the hash.
    "q390_index_lifecycle" ->
      (lshIndexCte + """,
        |g AS (SELECT band_id, b0, b1, b2, b3, count(*) AS n
        |      FROM bands GROUP BY 1, 2, 3, 4, 5)
        |SELECT band_id, CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_buckets,
        |       CAST(max(n) AS BIGINT) AS max_bucket
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),

    "q152_fuzzy_match" ->
      """WITH p AS (SELECT p_partkey, p_name,
        |             string_split(p_name, ' ')[1] || ' ' || string_split(p_name, ' ')[2] AS blk
        |           FROM part),
        |ok AS (SELECT blk FROM p GROUP BY blk HAVING count(*) <= 1000),
        |c AS (SELECT p.* FROM p JOIN ok USING (blk)),
        |pairs AS (SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |            levenshtein(a.p_name, b.p_name) AS dist
        |          FROM c a JOIN c b ON a.blk = b.blk AND a.p_partkey < b.p_partkey)
        |SELECT key_a, key_b, dist FROM pairs WHERE dist <= 2
        |ORDER BY dist, key_a, key_b LIMIT 1000""".stripMargin,
    "q34_exact_dedup" ->
      """WITH fp AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |SELECT min(doc_id) AS survivor_id, fp, count(*) AS n_copies
        |FROM fp GROUP BY fp ORDER BY survivor_id""".stripMargin,
    "q141_jaccard_histogram" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 4),
        |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS shingles
        |       FROM toks WHERE len(w) >= 5),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |capped AS (SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 8192),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |           FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |           WHERE a.s IN (SELECT s FROM capped)
        |           GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
        |j AS (SELECT round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
        |      FROM common
        |        JOIN sizes sa ON sa.doc_id = id_a
        |        JOIN sizes sb ON sb.doc_id = id_b)
        |SELECT CAST(floor(jaccard * 10) AS BIGINT) / 10.0 AS bucket_lo,
        |       count(*) AS n_pairs
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q226_weighted_jaccard" ->
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
        |pairs AS (SELECT id_a, id_b,
        |            round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS set_jaccard
        |          FROM common JOIN sizes sa ON sa.doc_id = id_a
        |                      JOIN sizes sb ON sb.doc_id = id_b),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM
        |         (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents)
        |       GROUP BY 1, 2),
        |xa AS (SELECT p.id_a, p.id_b, tc.tok, tc.c AS ca FROM pairs p JOIN tc ON tc.doc_id = p.id_a),
        |xb AS (SELECT p.id_a, p.id_b, tc.tok, tc.c AS cb FROM pairs p JOIN tc ON tc.doc_id = p.id_b),
        |m AS (SELECT coalesce(xa.id_a, xb.id_a) AS id_a, coalesce(xa.id_b, xb.id_b) AS id_b,
        |        least(coalesce(ca, 0), coalesce(cb, 0)) AS mn,
        |        greatest(coalesce(ca, 0), coalesce(cb, 0)) AS mx
        |      FROM xa FULL JOIN xb ON xa.id_a = xb.id_a AND xa.id_b = xb.id_b AND xa.tok = xb.tok),
        |wj AS (SELECT id_a, id_b,
        |         round(CAST(sum(mn) AS DOUBLE) / sum(mx), 6) AS weighted_jaccard
        |       FROM m GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, p.set_jaccard, wj.weighted_jaccard
        |FROM wj JOIN pairs p USING (id_a, id_b) ORDER BY id_a, id_b""".stripMargin,
    "q35_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 4),
        |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS shingles
        |       FROM toks WHERE len(w) >= 5),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |capped AS (SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 8192),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |           FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |           WHERE a.s IN (SELECT s FROM capped)
        |           GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
        |SELECT id_a, id_b,
        |       round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
        |FROM common
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |ORDER BY jaccard DESC, id_a, id_b LIMIT 20""".stripMargin,
    "q89_containment" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 4),
        |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS shingles
        |       FROM toks WHERE len(w) >= 5),
        |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        |capped AS (SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 8192),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |           FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |           WHERE a.s IN (SELECT s FROM capped)
        |           GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
        |SELECT id_a, id_b,
        |       round(CAST(c AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
        |FROM common
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |ORDER BY containment DESC, id_a, id_b LIMIT 20""".stripMargin,
    // The q36 oracle replays the full MinHash-LSH pipeline — md5-derived
    // base hash, 32 universal-hash permutation minima, 8 bands × 4 rows,
    // band-value bucket join, exact-Jaccard verification — so it checks the
    // CANDIDATE GENERATION exactly, not just the verified similarity math.
    // The 32 min-aggregates and 8 band projections are generated by code.
    "q308_capture_recapture" -> {
      val mins = minhashMinsSql
      val bandSelects = bandSelectsSql
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
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
         |tr AS MATERIALIZED (
         |  SELECT id_a, id_b FROM common JOIN sizes sa ON sa.doc_id = id_a
         |                                JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.5),
         |hs AS (SELECT doc_id, CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h FROM ex),
         |sigs AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bands a JOIN bands b
         |           ON a.band_id = b.band_id AND a.b0 = b.b0 AND a.b1 = b.b1
         |          AND a.b2 = b.b2 AND a.b3 = b.b3 AND a.doc_id < b.doc_id),
         |capa AS MATERIALIZED (SELECT tr.id_a, tr.id_b FROM tr JOIN cand USING (id_a, id_b)),
         |tk2 AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tk FROM documents),
         |hh AS (SELECT doc_id,
         |         CAST(concat('0x', substring(md5(tk), 1, 8)) AS BIGINT) AS hi,
         |         CAST(concat('0x', substring(md5(tk), 9, 8)) AS BIGINT) AS lo
         |       FROM tk2),
         |bits AS (
         |  SELECT doc_id, b,
         |         CASE WHEN sum(CASE WHEN (CASE WHEN b < 32 THEN (lo >> b) ELSE (hi >> (b - 32)) END & 1) = 1
         |                           THEN 1 ELSE -1 END) > 0
         |              THEN (CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
         |                         ELSE (CAST(1 AS BIGINT) << b) END)
         |              ELSE 0 END AS bv
         |  FROM hh CROSS JOIN (SELECT unnest(range(64)) AS b)
         |  GROUP BY doc_id, b),
         |sg AS (SELECT doc_id, CAST(sum(bv) AS BIGINT) AS sig FROM bits GROUP BY doc_id),
         |capb AS MATERIALIZED (
         |  SELECT tr.id_a, tr.id_b FROM tr JOIN sg a ON a.doc_id = tr.id_a
         |                                  JOIN sg b ON b.doc_id = tr.id_b
         |  WHERE CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) <= 12),
         |mm AS (SELECT capa.id_a FROM capa JOIN capb USING (id_a, id_b)),
         |agg AS (SELECT (SELECT count(*) FROM tr) AS n_true,
         |          (SELECT count(*) FROM capa) AS n_lsh,
         |          (SELECT count(*) FROM capb) AS n_simhash,
         |          (SELECT count(*) FROM mm) AS n_both),
         |x AS (SELECT n_true, n_lsh, n_simhash, n_both,
         |        CASE WHEN n_both > 0
         |             THEN round(CAST(n_lsh AS DOUBLE) * n_simhash / n_both, 6) END AS n_hat,
         |        round(CAST(n_lsh AS DOUBLE) / n_true, 6) AS cov_lsh,
         |        round(CAST(n_simhash AS DOUBLE) / n_true, 6) AS cov_simhash
         |      FROM agg)
         |SELECT n_true, n_lsh, n_simhash, n_both, n_hat, cov_lsh, cov_simhash,
         |       round(n_hat / n_true, 6) AS est_ratio
         |FROM x""".stripMargin
    },
    "q36_minhash_lsh" -> {
      val mins = minhashMinsSql
      val bandSelects = bandSelectsSql
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 4),
         |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS shingles
         |       FROM toks WHERE len(w) >= 5),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |hs AS (SELECT doc_id, CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h FROM ex),
         |sigs AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bands a JOIN bands b
         |           ON a.band_id = b.band_id AND a.b0 = b.b0 AND a.b1 = b.b1
         |          AND a.b2 = b.b2 AND a.b3 = b.b3 AND a.doc_id < b.doc_id),
         |common AS (SELECT c.id_a, c.id_b, count(*) AS c
         |           FROM cand c JOIN ex ea ON ea.doc_id = c.id_a
         |                       JOIN ex eb ON eb.doc_id = c.id_b AND eb.s = ea.s
         |           GROUP BY c.id_a, c.id_b),
         |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
         |SELECT cm.id_a, cm.id_b,
         |       round(CAST(cm.c AS DOUBLE) / (sa.n + sb.n - cm.c), 6) AS jaccard
         |FROM common cm JOIN sizes sa ON sa.doc_id = cm.id_a
         |               JOIN sizes sb ON sb.doc_id = cm.id_b
         |WHERE round(CAST(cm.c AS DOUBLE) / (sa.n + sb.n - cm.c), 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin
    },
    // q200 replays the full incremental pipeline: same signature/band SQL as
    // q36, but candidates pair the batch slice (doc_id % 10 = 7) against the
    // corpus remainder only, and the final frame is one row per batch doc
    // with its best verified match and admission verdict.
    "q200_incremental_lsh" -> {
      val mins = minhashMinsSql
      val bandSelects = bandSelectsSql
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 4),
         |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS shingles
         |       FROM toks WHERE len(w) >= 5),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |hs AS (SELECT doc_id, CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h FROM ex),
         |sigs AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
         |         FROM bands a JOIN bands b
         |           ON a.band_id = b.band_id AND a.b0 = b.b0 AND a.b1 = b.b1
         |          AND a.b2 = b.b2 AND a.b3 = b.b3
         |         WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
         |common AS (SELECT c.batch_id, c.corpus_id, count(*) AS c
         |           FROM cand c JOIN ex ea ON ea.doc_id = c.batch_id
         |                       JOIN ex eb ON eb.doc_id = c.corpus_id AND eb.s = ea.s
         |           GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         |ver AS (SELECT cm.batch_id, cm.corpus_id,
         |               round(CAST(cm.c AS DOUBLE) / (sa.n + sb.n - cm.c), 6) AS j
         |        FROM common cm JOIN sizes sa ON sa.doc_id = cm.batch_id
         |                       JOIN sizes sb ON sb.doc_id = cm.corpus_id
         |        WHERE round(CAST(cm.c AS DOUBLE) / (sa.n + sb.n - cm.c), 6) >= 0.8),
         |best AS (SELECT batch_id, corpus_id AS dup_of, j AS jaccard,
         |                row_number() OVER (PARTITION BY batch_id
         |                                   ORDER BY j DESC, corpus_id) AS rn
         |         FROM ver),
         |ncand AS (SELECT batch_id, count(*) AS n_candidates FROM cand GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(n.n_candidates, 0) AS n_candidates,
         |       b.dup_of, b.jaccard,
         |       b.dup_of IS NULL AS admitted
         |FROM documents d
         |  LEFT JOIN ncand n ON n.batch_id = d.doc_id
         |  LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.batch_id = d.doc_id
         |WHERE d.doc_id % 10 = 7
         |ORDER BY d.doc_id""".stripMargin
    },

    "q145_lsh_audit" -> {
      val mins = minhashMinsSql
      val bandSelects = bandSelectsSql
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 4),
         |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS shingles
         |       FROM toks WHERE len(w) >= 5),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         |capped AS (SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 8192),
         |ecommon AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
         |            FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |            WHERE a.s IN (SELECT s FROM capped)
         |            GROUP BY 1, 2),
         |exact AS (SELECT id_a, id_b FROM ecommon
         |            JOIN sizes sa ON sa.doc_id = id_a
         |            JOIN sizes sb ON sb.doc_id = id_b
         |          WHERE round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.8),
         |hs AS (SELECT doc_id, CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h FROM ex),
         |sigs AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bands a JOIN bands b
         |           ON a.band_id = b.band_id AND a.b0 = b.b0 AND a.b1 = b.b1
         |          AND a.b2 = b.b2 AND a.b3 = b.b3 AND a.doc_id < b.doc_id),
         |vcommon AS (SELECT c.id_a, c.id_b, count(*) AS c
         |            FROM cand c JOIN ex ea ON ea.doc_id = c.id_a
         |                        JOIN ex eb ON eb.doc_id = c.id_b AND eb.s = ea.s
         |            GROUP BY c.id_a, c.id_b),
         |lsh AS (SELECT cm.id_a, cm.id_b
         |        FROM vcommon cm JOIN sizes sa ON sa.doc_id = cm.id_a
         |                        JOIN sizes sb ON sb.doc_id = cm.id_b
         |        WHERE round(CAST(cm.c AS DOUBLE) / (sa.n + sb.n - cm.c), 6) >= 0.8),
         |hit AS (SELECT exact.id_a, exact.id_b FROM exact JOIN lsh USING (id_a, id_b))
         |SELECT (SELECT count(*) FROM exact) AS n_exact,
         |       (SELECT count(*) FROM cand) AS n_candidates,
         |       (SELECT count(*) FROM lsh) AS n_verified,
         |       CASE WHEN (SELECT count(*) FROM exact) > 0 THEN
         |         round(CAST((SELECT count(*) FROM hit) AS DOUBLE) /
         |               (SELECT count(*) FROM exact), 6) END AS recall,
         |       CASE WHEN (SELECT count(*) FROM lsh) > 0 THEN
         |         round(CAST((SELECT count(*) FROM hit) AS DOUBLE) /
         |               (SELECT count(*) FROM lsh), 6) END AS precision""".stripMargin
    },
    "q47_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // q385: exact all-pairs over the SAME perturbed self-union frame — the
    // noise replays as 0-based-index integer modular arithmetic, identical
    // operand order so the doubles match bitwise; any pair the Spark-side
    // LSH banding drops hash-fails here.
    "q385_embedding_neardup_recall" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |            FROM embeddings WHERE vec_id % 4 = 0),
        |cp AS (SELECT vec_id + 1000000 AS vec_id,
        |         list_transform(range(len(v)), i ->
        |           v[i+1] + CAST((vec_id * 31 + i * 17) % 2001 - 1000 AS DOUBLE) / 1000000.0) AS v
        |       FROM e0),
        |e AS (SELECT * FROM e0 UNION ALL SELECT * FROM cp)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    // The 64-bit oracle reads the md5 halves separately (DuckDB's BIGINT <<
    // raises on overflow and its hex cast tops out at 15 hex chars, so the
    // combined value can't be assembled) and special-cases bit 63, whose
    // two's-complement place value is -2^63.
    "q288_simhash_bit_balance" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tk FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(concat('0x', substring(md5(tk), 1, 8)) AS BIGINT) AS hi,
        |        CAST(concat('0x', substring(md5(tk), 9, 8)) AS BIGINT) AS lo
        |      FROM toks),
        |bits AS (
        |  SELECT doc_id, b,
        |         CASE WHEN sum(CASE WHEN (CASE WHEN b < 32 THEN (lo >> b) ELSE (hi >> (b - 32)) END & 1) = 1
        |                           THEN 1 ELSE -1 END) > 0
        |              THEN 1 ELSE 0 END AS is_set
        |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b)
        |  GROUP BY doc_id, b)
        |SELECT CAST(b AS BIGINT) AS bit, count(*) AS n_docs,
        |       CAST(sum(is_set) AS BIGINT) AS n_set,
        |       round(CAST(sum(is_set) AS DOUBLE) / count(*), 6) AS p_set,
        |       round(abs(CAST(sum(is_set) AS DOUBLE) / count(*) - 0.5), 6) AS dev
        |FROM bits GROUP BY b ORDER BY bit""".stripMargin,
    "q37_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tk FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(concat('0x', substring(md5(tk), 1, 8)) AS BIGINT) AS hi,
        |        CAST(concat('0x', substring(md5(tk), 9, 8)) AS BIGINT) AS lo
        |      FROM toks),
        |bits AS (
        |  SELECT doc_id, b,
        |         CASE WHEN sum(CASE WHEN (CASE WHEN b < 32 THEN (lo >> b) ELSE (hi >> (b - 32)) END & 1) = 1
        |                           THEN 1 ELSE -1 END) > 0
        |              THEN (CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |                         ELSE (CAST(1 AS BIGINT) << b) END)
        |              ELSE 0 END AS bv
        |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b)
        |  GROUP BY doc_id, b)
        |SELECT doc_id, CAST(sum(bv) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q252_minhash_k_curve" -> {
      val mins = minhashMinsSql
      val kRows = Seq(4, 8, 16, 32).map { k =>
        val mm = (0 until k)
          .map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
        s"SELECT jaccard, $k AS k, CAST($mm AS DOUBLE) / $k AS est " +
          "FROM pr JOIN sigs a ON a.doc_id = pr.id_a JOIN sigs b ON b.doc_id = pr.id_b"
      }.mkString("\n|      UNION ALL ")
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(w) - 4),
         |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS shingles
         |       FROM toks WHERE len(w) >= 5),
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |capped AS (SELECT s FROM ex GROUP BY s HAVING count(*) BETWEEN 2 AND 8192),
         |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
         |           FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |           WHERE a.s IN (SELECT s FROM capped)
         |           GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         |pr AS (SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
         |       FROM common JOIN sizes sa ON sa.doc_id = id_a
         |                   JOIN sizes sb ON sb.doc_id = id_b),
         |hs AS (SELECT doc_id, CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS h FROM ex),
         |sigs AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id),
         |est AS ($kRows)
         |SELECT CAST(k AS BIGINT) AS k, count(*) AS n_pairs,
         |       round(CAST(sum(CAST(round(abs(est - jaccard), 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS mae,
         |       round(CAST(sum(CAST(round(est - jaccard, 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS bias
         |FROM est GROUP BY k ORDER BY k""".stripMargin
    },
    "q240_simhash_roc" ->
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
        |                   JOIN sizes sb ON sb.doc_id = id_b),
        |tk2 AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tk FROM documents),
        |hh AS (SELECT doc_id,
        |         CAST(concat('0x', substring(md5(tk), 1, 8)) AS BIGINT) AS hi,
        |         CAST(concat('0x', substring(md5(tk), 9, 8)) AS BIGINT) AS lo
        |       FROM tk2),
        |bits AS (
        |  SELECT doc_id, b,
        |         CASE WHEN sum(CASE WHEN (CASE WHEN b < 32 THEN (lo >> b) ELSE (hi >> (b - 32)) END & 1) = 1
        |                           THEN 1 ELSE -1 END) > 0
        |              THEN (CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |                         ELSE (CAST(1 AS BIGINT) << b) END)
        |              ELSE 0 END AS bv
        |  FROM hh CROSS JOIN (SELECT unnest(range(64)) AS b)
        |  GROUP BY doc_id, b),
        |sg AS (SELECT doc_id, CAST(sum(bv) AS BIGINT) AS sig FROM bits GROUP BY doc_id),
        |hp AS (SELECT CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming,
        |              CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END AS truth
        |       FROM pr JOIN sg a ON a.doc_id = pr.id_a
        |               JOIN sg b ON b.doc_id = pr.id_b),
        |tot AS (SELECT count(*) AS n_pairs, CAST(sum(truth) AS BIGINT) AS n_true FROM hp),
        |th AS (SELECT CAST(unnest([0, 4, 8, 12, 16, 20, 24, 28, 32]) AS BIGINT) AS threshold),
        |agg AS (SELECT threshold,
        |          CAST(count(hamming) AS BIGINT) AS n_predicted,
        |          CAST(COALESCE(sum(truth), 0) AS BIGINT) AS n_tp
        |        FROM th LEFT JOIN hp ON hamming <= threshold GROUP BY 1)
        |SELECT threshold, n_predicted, n_tp, n_true,
        |       CASE WHEN n_predicted > 0
        |            THEN round(CAST(n_tp AS DOUBLE) / n_predicted, 6) END AS precision,
        |       CASE WHEN n_true > 0
        |            THEN round(CAST(n_tp AS DOUBLE) / n_true, 6) END AS recall
        |FROM agg CROSS JOIN tot ORDER BY threshold""".stripMargin,
    "q58_simhash_hamming" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tk FROM documents),
        |h AS (SELECT doc_id,
        |        CAST(concat('0x', substring(md5(tk), 1, 8)) AS BIGINT) AS hi,
        |        CAST(concat('0x', substring(md5(tk), 9, 8)) AS BIGINT) AS lo
        |      FROM toks),
        |bits AS (
        |  SELECT doc_id, b,
        |         CASE WHEN sum(CASE WHEN (CASE WHEN b < 32 THEN (lo >> b) ELSE (hi >> (b - 32)) END & 1) = 1
        |                           THEN 1 ELSE -1 END) > 0
        |              THEN (CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
        |                         ELSE (CAST(1 AS BIGINT) << b) END)
        |              ELSE 0 END AS bv
        |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b)
        |  GROUP BY doc_id, b),
        |s AS (SELECT doc_id, CAST(sum(bv) AS BIGINT) AS sh FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY id_a, id_b""".stripMargin
  )
}
