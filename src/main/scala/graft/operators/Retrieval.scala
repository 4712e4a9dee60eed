package graft.operators

import graft.{QueryModule, SessionLayers}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Keyword retrieval over the corpus via the inverted-index statistics a
  * search tier needs: per-document term frequencies, corpus document
  * frequencies, TF-IDF term weighting, Okapi BM25 ranking (Robertson &
  * Zaragoza, "The Probabilistic Relevance Framework: BM25 and Beyond",
  * 2009 — the Lucene `ln(1 + (N-df+0.5)/(df+0.5))` idf variant, positive
  * for every df), and conjunctive (AND) keyword search by posting-list
  * intersection.
  *
  * Scale design (the part that matters at 100 TB):
  *  - the term-frequency table is the single source for everything
  *    downstream — one tokenize+explode pass, one (doc_id, term) shuffle;
  *    document frequencies, document lengths, and postings all derive from
  *    it without re-reading the corpus;
  *  - df joins tf on the TERM key — a plain shuffled equi-join that AQE can
  *    broadcast when the vocabulary is small (as here) but that degrades
  *    gracefully to shuffle when it is not (web-scale vocabularies do not
  *    broadcast);
  *  - corpus scalars (N, avgdl) attach via a broadcast of a ONE-ROW
  *    aggregate, never a driver collect in the query path;
  *  - ranking is top-k (TakeOrderedAndProject) or a per-document window —
  *    never a global sort of the full score table;
  *  - conjunctive search is a count-match over the posting rows of the query
  *    terms (`HAVING count = |terms|`), the standard posting-intersection
  *    shape — cost scales with the query terms' postings, not the corpus.
  *
  * Determinism vs the DuckDB oracle: scores are rounded to 6 decimals
  * BEFORE ranking on both sides (ties then break on the term / doc id), and
  * avgdl is itself rounded before use so double summation-order noise
  * cannot leak into any score.
  */
object Retrieval extends QueryModule {

  private val K1 = 1.2
  private val B = 0.75

  /** Default conjunctive / ranked query terms for the fixture queries. */
  val QueryTerms: Seq[String] = Seq("spark", "vector", "merge")

  /** (doc_id, term, tf) from a `(doc_id, text)` frame — the inverted-index
    * base table; one explode, one shuffle. */
  def termFreqs(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"), explode(split(trim(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** (term, df): number of documents containing each term. */
  def docFreqs(tf: DataFrame): DataFrame =
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** q91's rare-term candidate stage: posting lists with df ≤ `dfCap`
    * stream ordered distinct pairs via the bounded explode (the pair array
    * never materializes inside one row — the dedup tiers' pattern). ONE
    * implementation shared with the q387 ledger so the ledger prices
    * EXACTLY the stage q91 runs — a drifted copy would report a pair count
    * for a stage that no longer exists, and the ledger's oracle (which
    * mirrors the ledger, not q91) could not catch it. */
  private def rareTermCandidates(tf: DataFrame, dfq: DataFrame, dfCap: Int): DataFrame =
    tf.join(dfq, "term").filter(col("df") <= dfCap)
      .groupBy(col("term")).agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("ds"), explode(col("ds")).as("x"))
      .select(col("x"), explode(expr("filter(ds, y -> y > x)")).as("y"))
      .select(col("x").as("id_a"), col("y").as("id_b"))
      .distinct()

  /** Session-materialized (doc_id, term, tf) inverted-index base — the
    * SILVER INDEX a production retrieval stack persists once and serves
    * every ranking/intersection/similarity query from, held in
    * [[graft.SessionLayers]]. Five fixture queries (q78/q79/q80/q91/q92)
    * consume the identical tokenize→group pipeline; only positional phrase
    * search (q116) needs its own pass (positions don't survive the tf
    * rollup). */
  def sharedTermFreqs(s: SparkSession, dir: String): DataFrame =
    SessionLayers.frame(s, "termFreqs", dir)(termFreqs(docs(s, dir)))

  /** Top-`k` terms per document by TF-IDF (idf = ln(N/df)), with rank.
    * Scores are rounded before ranking; ties break on the term. */
  def tfidfTopTerms(docsDf: DataFrame, k: Int = 3): DataFrame =
    tfidfTopTermsTf(termFreqs(docsDf), k)

  /** [[tfidfTopTerms]] over a precomputed term-frequency frame. */
  def tfidfTopTermsTf(tf: DataFrame, k: Int = 3): DataFrame = {
    val df = docFreqs(tf)
    val n = tf.agg(countDistinct(col("doc_id")).as("n"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast("double") / col("df")), 6))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rnk"))
  }

  /** Per-document length `(doc_id, dl)`: the document's total term count. */
  private def docLengths(tf: DataFrame): DataFrame =
    tf.groupBy(col("doc_id")).agg(sum(col("tf")).cast("double").as("dl"))

  /** BM25's corpus constants from the document lengths, one row `(n, avgdl)`:
    * every document with a term has one `dl` row, so their count is n. */
  private def corpusStats(dl: DataFrame): DataFrame =
    dl.agg(count(col("doc_id")).as("n"), round(avg(col("dl")), 6).as("avgdl"))

  /** BM25 score of every document matching any of `terms`, top-`k`. */
  def bm25Search(docsDf: DataFrame, terms: Seq[String], k: Int = 20): DataFrame =
    bm25SearchTf(termFreqs(docsDf), terms, k)

  /** [[bm25Search]] over a precomputed term-frequency frame. */
  def bm25SearchTf(tf: DataFrame, terms: Seq[String], k: Int = 20): DataFrame = {
    val postings = tf.filter(col("term").isin(terms: _*))
    val dl = docLengths(tf)
    val stats = corpusStats(dl)
    val idf: Column = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm: Column = col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))
    postings
      .join(docFreqs(postings), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      // multiply as idf * (tf * (k1+1)) / norm — the exact association the
      // oracle uses, so the doubles agree bit-for-bit before rounding
      .select(col("doc_id"), (idf * (col("tf") * lit(K1 + 1)) / norm).as("w"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("w")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** ALL eval queries scored in ONE pass: per (query_id, doc_id), the
    * matched-term count, the term-mass gain, and the exact bm25SearchTf
    * score — the single-shuffle replacement for q228/q245's former
    * per-query legs (Q separate global sorts became one query-partitioned
    * window; at a production eval-set size the pass count no longer grows
    * with |queries|). Arithmetic is operand-for-operand the bm25SearchTf /
    * keywordAndSearchTf sequence, so the rewrite is hash-invariant. */
  def evalScored(s: SparkSession, dir: String): DataFrame = {
    val tf = sharedTermFreqs(s, dir)
    val df = docFreqs(tf)
    val dl = docLengths(tf)
    val stats = corpusStats(dl)
    val qt = EvalQueries.flatMap { case (qid, ts) =>
      ts.map(t => (qid, t, ts.length.toLong))
    }
    import s.implicits._
    val qtDf = broadcast(qt.toDF("query_id", "term", "n_terms_q"))
    val idf: Column = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm: Column = col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl"))
    tf.join(qtDf, "term")
      .join(df, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), col("n_terms_q"), col("tf"),
        (idf * (col("tf") * lit(K1 + 1)) / norm).as("w"))
      .groupBy(col("query_id"), col("doc_id"), col("n_terms_q"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("gain"),
        round(sum(col("w")), 6).as("bm25"))
  }

  /** Documents containing ALL of `terms` (posting-list intersection), with
    * the total number of hits across the query terms. */
  def keywordAndSearch(docsDf: DataFrame, terms: Seq[String]): DataFrame =
    keywordAndSearchTf(termFreqs(docsDf), terms)

  /** [[keywordAndSearch]] over a precomputed term-frequency frame. */
  def keywordAndSearchTf(tf: DataFrame, terms: Seq[String]): DataFrame =
    tf
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_hits"))
      .filter(col("n_terms") === terms.length)
      .select(col("doc_id"), col("total_hits"))

  /** df-cap for sparse-cosine candidate generation (rare-term blocking):
    * only terms with df <= cap generate candidate pairs. High-df terms are
    * the worst pair generators (Σ df² cost) and the weakest similarity
    * evidence (idf → 0 as df → N), which is exactly the prefix-filtering /
    * rare-token blocking argument of the set-similarity-join literature.
    *
    * The cap is deliberately ABSOLUTE, not ∝ corpus size: it bounds the
    * worst-case pairs a single posting list can emit (cap² = 65k) at any
    * scale, which is what keeps this query shuffle-safe at 100 TB. The
    * measured consequence (round-17 full-tier sweep): on a replica-scaled
    * corpus where every term's df multiplies with the copy count, rare
    * terms cross the cap and the candidate set empties (20 → 0 top pairs
    * at 8×) — recall, not cost, is what the absolute cap spends as df
    * distributions shift up. A real corpus's rare tail grows with new
    * vocabulary rather than uniform df inflation, so the effect is milder
    * there, and corpus-scale near-dup retrieval is the MinHash/SimHash/
    * embedding-LSH tiers' job (q36/q58/q47), whose banding keeps recall
    * at every scale; q91 is the exact small/medium-corpus tool. */
  val CosineDfCap: Int = 256

  /** Pairwise TF-IDF (bag-of-words) cosine similarity, top-`k` pairs:
    * candidates = pairs sharing at least one term with df <= `dfCap`
    * (rare-term blocking, see [[CosineDfCap]]); each candidate then gets
    * its EXACT cosine over ALL shared terms via keyed weight joins — the
    * same candidates-then-verify layout as the MinHash and hyperplane-LSH
    * tiers, so pair generation cost is Σ_{df<=cap} df², never n².
    *
    * Determinism: weights round to 6 decimals then live in DECIMAL(18,6);
    * dot products and squared norms are DECIMAL sums (exact, order-
    * independent — a cluster re-run cannot drift), and the final cosine is
    * a fixed IEEE sequence (one divide, two sqrts, one multiply) over
    * exact decimals, replayed verbatim by the oracle. */
  def tfidfCosinePairs(docsDf: DataFrame, dfCap: Int = CosineDfCap, k: Int = 20): DataFrame =
    tfidfCosinePairsTf(termFreqs(docsDf), dfCap, k)

  /** [[tfidfCosinePairs]] over a precomputed term-frequency frame. */
  def tfidfCosinePairsTf(tf: DataFrame, dfCap: Int = CosineDfCap, k: Int = 20): DataFrame = {
    val dfq = docFreqs(tf)
    val n = tf.agg(countDistinct(col("doc_id")).as("n"))
    val w = tf.join(dfq, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * round(log(col("n").cast("double") / col("df")), 6), 6)
          .cast(DecimalType(18, 6)).as("w"))
    val norms = w.groupBy(col("doc_id"))
      .agg(sum((col("w") * col("w")).cast(DecimalType(38, 12))).as("nsq"))
    val cand = rareTermCandidates(tf, dfq, dfCap)
    val dots = cand
      .join(w.select(col("doc_id").as("id_a"), col("term"), col("w").as("wa")), Seq("id_a"))
      .join(w.select(col("doc_id").as("id_b"), col("term"), col("w").as("wb")), Seq("id_b", "term"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum((col("wa") * col("wb")).cast(DecimalType(38, 12))).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("id_a"), col("nsq").as("na")), "id_a")
      .join(norms.select(col("doc_id").as("id_b"), col("nsq").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Hybrid retrieval: a sparse (BM25) leg and a dense (embedding-cosine)
    * leg fused by reciprocal-rank fusion, `rrf(d) = Σ_legs 1/(60 + rank)`
    * (Cormack, Clarke & Buettcher, "Reciprocal rank fusion outperforms
    * Condorcet and individual rank learning methods", SIGIR 2009) — the
    * standard fusion of keyword and vector search in a modern retrieval
    * stack. Documents and embeddings align on `doc_id = vec_id`.
    *
    * Scale: each leg is a bounded top-`legK` (TakeOrderedAndProject — the
    * corpus is never globally sorted); the only unpartitioned window ranks
    * the <= `legK` survivors of a leg, and the fusion join touches at most
    * 2·`legK` rows. Rank positions are integers and `1/(60+rank)` is one
    * IEEE division, so fused scores are deterministic to the bit. */
  def hybridRrf(docsDf: DataFrame, embDf: DataFrame, terms: Seq[String],
                queryVecId: Long = 0L, legK: Int = 100, k: Int = 20): DataFrame =
    hybridRrfTf(termFreqs(docsDf), embDf, terms, queryVecId, legK, k)

  /** [[hybridRrf]] with a precomputed term-frequency frame for the BM25 leg. */
  def hybridRrfTf(tf: DataFrame, embDf: DataFrame, terms: Seq[String],
                  queryVecId: Long = 0L, legK: Int = 100, k: Int = 20): DataFrame = {
    val sp = tf.sparkSession
    val sparse = bm25SearchTf(tf, terms, legK)
      .withColumn("rs", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("rs"))
    val qv = broadcast(embDf.filter(col("vec_id") === queryVecId)
      .select(col("v").as("qv")))
    val dense = embDf.filter(col("vec_id") =!= queryVecId)
      .crossJoin(qv)
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.VectorFunctions.cosineFast(sp, col("qv"), col("v")), 6).as("sim"))
      .orderBy(col("sim").desc, col("doc_id")).limit(legK)
      .withColumn("rd", row_number().over(
        Window.orderBy(col("sim").desc, col("doc_id"))))
      .select(col("doc_id"), col("rd"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** Default phrase for the fixture phrase query (a frequent fixture
    * trigram, so the oracle comparison exercises real multi-hit docs). */
  val PhraseTerms: Seq[String] = Seq("slow", "hash", "batch")

  /** Exact phrase search via POSITIONAL postings — the inverted-index
    * upgrade conjunctive AND (q80) can't express: "slow hash batch" must
    * appear as consecutive tokens, not merely co-occur. Positions come from
    * one `posexplode` pass (the same single tokenize pass as [[termFreqs]],
    * position-preserving); the phrase plan is w−1 self-equi-joins of the
    * FILTERED postings (only the query terms' rows survive the scan —
    * pushed predicate, so join input is the phrase terms' posting lists,
    * not the corpus), keyed on (doc_id, adjacent position). Returns
    * `(doc_id, n_hits)` for matching docs, hit-count descending.
    *
    * Scale: cost ∝ the SHORTEST query term's posting list (the other legs
    * semi-prune against it through the equi-join), the standard positional-
    * index bound; positions are BIGINTs riding the existing explode, so the
    * index adds one narrow column, not a second corpus pass. */
  def phraseSearch(docsDf: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2, "phrase search needs at least two terms")
    val pos = docsDf
      .select(col("doc_id"), posexplode(split(trim(col("text")), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("p"), col("col").as("term"))
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      pos.filter(col("term") === t)
        .select(col("doc_id"), (col("p") - i).as("anchor"))
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "anchor")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("n_hits").desc, col("doc_id"))
  }

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.read(s, dir, "documents")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Top-3 TF-IDF terms per document — the per-doc keyword profile a
    // curation/tagging pass emits. All tf-based queries serve from the
    // shared inverted-index layer (see sharedTermFreqs).
    "q78_tfidf_topterms" -> ((s, dir) =>
      tfidfTopTermsTf(sharedTermFreqs(s, dir))
        .orderBy(col("doc_id"), col("rnk"))),

    // Top-term RBO drift (q292): rank-biased overlap (Webber et al. 2010,
    // p=0.9, truncated at depth 50) between the top-term lists of the two
    // corpus halves (doc_id parity) — the vocabulary-drift metric that,
    // unlike set Jaccard, weights agreement at the TOP of the lists where
    // tokenizer and mixture decisions actually look. Both lists are
    // bounded top-50 heaps (TakeOrderedAndProject); the depth sweep is a
    // 50×50-bounded join; p^(d-1) terms are 12-dp decimal-summed.
    "q292_topterm_rbo" -> ((s, dir) => {
      val tf = sharedTermFreqs(s, dir)
      val src = docs(s, dir).select(col("doc_id"), (col("doc_id") % 2).as("half"))
      def top50(h: Int): DataFrame =
        tf.join(src, "doc_id").filter(col("half") === h)
          .groupBy(col("term")).agg(sum(col("tf")).as("n"))
          .orderBy(col("n").desc, col("term")).limit(50)
          .withColumn("r", row_number().over(
            Window.orderBy(col("n").desc, col("term"))).cast(LongType))
          .select(col("term"), col("r"))
      val a = top50(0).withColumnRenamed("r", "ra")
      val b = top50(1).withColumnRenamed("r", "rb")
      val both = a.join(b, "term").localCheckpoint()
      import s.implicits._
      val depths = (1 to 50).map(_.toLong).toDF("d")
      val ov = depths.crossJoin(broadcast(both))
        .filter(col("ra") <= col("d") && col("rb") <= col("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("ov"))
      val terms = depths.join(ov, Seq("d"), "left")
        .select(col("d"), coalesce(col("ov"), lit(0L)).as("ov"))
        .select(round(pow(lit(0.9), col("d") - lit(1.0))
          * col("ov").cast("double") / col("d"), 12)
          .cast(DecimalType(38, 12)).as("t"))
      val j = both.agg(count(lit(1)).as("n_common"))
      terms.agg(round(lit(0.1) * sum(col("t")).cast("double"), 6).as("rbo"))
        .crossJoin(broadcast(j))
        .select(col("rbo"), col("n_common"),
          round(col("n_common").cast("double")
            / (lit(100.0) - col("n_common")), 6).as("top50_jaccard"))
    }),

    // Per-source distinctive terms (q273): Monroe et al.'s "Fightin'
    // Words" log-odds with a Dirichlet prior — for each source, the terms
    // whose usage rate most exceeds the REST of the corpus, z-scored so
    // rare-but-extreme ratios don't outrank well-attested ones (the
    // failure mode of plain tf-idf-per-source). The per-(source, term)
    // rollup rides the shared inverted index and is localCheckpointed
    // once (it feeds the scores plus both margins — the q144 lesson);
    // prior α=0.5/term. Top-5 per source, support floor 5.
    // Burrows' Delta stylometric distance (q315): the authorship-attribution
    // metric (Burrows 2002) between SOURCES — z-score each source's relative
    // frequency of the top-50 corpus terms across the source population,
    // then Delta(a,b) = mean |z_a − z_b|. Function-word profiles separate
    // STYLE (who wrote it / what template generated it) where q221's JS
    // divergence sees topic; two crawls of the same generator cluster here
    // even when their topics differ. The grid is |sources|×50 (zero-filled
    // so absent terms count), every moment/z/pair stage runs on that
    // bounded frame; the corpus contributes one shared-index pass.
    "q315_burrows_delta" -> ((s, dir) => {
      val st = sharedTermFreqs(s, dir)
        .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"), col("term")).agg(sum(col("tf")).as("c"))
        .localCheckpoint()
      val stot = st.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val top = st.groupBy(col("term")).agg(sum(col("c")).as("tc"))
        .orderBy(col("tc").desc, col("term")).limit(50).select(col("term"))
      val rel = stot.crossJoin(broadcast(top))
        .join(st, Seq("source", "term"), "left")
        .select(col("source"), col("term"),
          round(coalesce(col("c"), lit(0L)).cast("double") / col("n"), 9).as("f"))
        .localCheckpoint()
      // mu/s2 are 9-dp means over |sources| (~20) values — a small EVEN
      // denominator, so the exact quotient can land on a TRUE 9-dp tie
      // (it did: term "value" at sf0.01) and the engines tie-break
      // differently. Integer-space half-up (the q93 pattern) on both.
      val ms = rel.groupBy(col("term"))
        .agg(count(lit(1)).as("ns"),
          (expr("(2 * cast(sum(cast(f as decimal(38,9))) * 1000000000 as decimal(38,0))" +
            " + count(1)) div (2 * count(1))").cast("double") / 1e9).as("mu"),
          (expr("(2 * cast(sum(cast(round(f * f, 12) as decimal(38,12))) * 1000000000000 as decimal(38,0))" +
            " + 1000 * count(1)) div (2000 * count(1))").cast("double") / 1e9).as("s2"))
        .select(col("term"), col("mu"),
          round(sqrt(round((col("s2") - col("mu") * col("mu"))
            * (col("ns").cast("double") / (col("ns") - lit(1L))), 12)), 9).as("sd"))
      val z = rel.join(ms, "term").filter(col("sd") > 0)
        .select(col("source"), col("term"),
          round((col("f") - col("mu")) / col("sd"), 9).as("z"))
      z.select(col("source").as("src_a"), col("term"), col("z").as("za"))
        .join(z.select(col("source").as("src_b"), col("term"), col("z").as("zb")),
          "term")
        .filter(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          round(abs(col("za") - col("zb")), 9).as("ad"))
        .groupBy(col("src_a"), col("src_b"))
        // 6-dp half-up mean ENTIRELY in integer space (the q93 boundary fix):
        // with S = Σ ad at scale 9, delta·10⁶ = (2·S·10⁹ + 1000n) div (2000n)
        // — round(S/n, 6) on a double struck the half-way class here
        .agg(count(lit(1)).as("n_terms"),
          (expr("(2 * cast(sum(cast(ad as decimal(38,9))) * 1000000000 as decimal(38,0))" +
            " + 1000 * count(1)) div (2000 * count(1))").cast("double") / 1e6)
            .as("delta"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    "q273_source_log_odds" -> ((s, dir) => {
      val tf = sharedTermFreqs(s, dir)
      val src = docs(s, dir).select(col("doc_id"), col("source"))
      val st = tf.join(src, "doc_id")
        .groupBy(col("source"), col("term")).agg(sum(col("tf")).as("n_in_source"))
        .localCheckpoint()
      val ns = st.groupBy(col("source")).agg(sum(col("n_in_source")).as("ns"))
      val yw = st.groupBy(col("term")).agg(sum(col("n_in_source")).as("n_corpus"))
      val tot = ns.agg(sum(col("ns")).as("nn"))
      val vs = yw.agg((count(lit(1)).cast("double") * 0.5).as("fa"))
      val rest = col("n_corpus") - col("n_in_source")
      val z = round(
        (log((col("n_in_source") + 0.5) / (col("ns") + col("fa") - col("n_in_source") - 0.5))
          - log((rest + 0.5) / (col("nn") - col("ns") + col("fa") - rest - 0.5)))
          / sqrt(lit(1.0) / (col("n_in_source") + 0.5) + lit(1.0) / (rest + 0.5)), 6)
      st.join(ns, "source").join(yw, "term")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(vs))
        .filter(col("n_in_source") >= 5)
        .select(col("source"), col("term"), col("n_in_source"), col("n_corpus"),
          z.as("z_odds"))
        .withColumn("rnk", row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("z_odds").desc, col("term"))).cast("long"))
        .filter(col("rnk") <= 5)
        .orderBy(col("source"), col("rnk"))
    }),

    // BM25-ranked keyword search, top 20 for the fixture query.
    "q79_bm25_search" -> ((s, dir) =>
      bm25SearchTf(sharedTermFreqs(s, dir), QueryTerms)),

    // Pseudo-relevance-feedback expansion (q237): the RM3-lite second
    // retrieval stage (Lavrenko & Croft's relevance-model family, the
    // Rocchio shape) — run the original BM25 query, treat its top-10 as
    // pseudo-relevant, pick the 3 highest summed-TF-IDF terms in that
    // feedback set (original terms excluded), and RERANK with the expanded
    // query. PRF is the standard zero-supervision recall booster: documents
    // about the topic that happen not to contain the literal query terms
    // enter through the expansion vocabulary. The chosen expansion terms
    // are a 3-term bounded model fetch (never a corpus-sized collect) and
    // are pinned into every output row, so the oracle hash-gates WHAT was
    // expanded, not just the final ranking; `in_first_pass` marks which
    // final-top-10 docs the original query alone would have found. */
    "q237_prf_expansion" -> ((s, dir) => {
      val tf = sharedTermFreqs(s, dir)
      val first = bm25SearchTf(tf, QueryTerms, 10).select(col("doc_id"))
      val dfr = docFreqs(tf)
      val n = tf.agg(countDistinct(col("doc_id")).as("n"))
      val cand = tf.join(first, Seq("doc_id"))
        .filter(!col("term").isin(QueryTerms: _*))
        .join(dfr, "term").crossJoin(broadcast(n))
        .select(col("term"),
          round(col("tf") * log(col("n").cast("double") / col("df")), 6).as("w"))
        .groupBy(col("term"))
        .agg(round(sum(col("w").cast(DecimalType(18, 6))).cast("double"), 6).as("score"))
        .orderBy(col("score").desc, col("term")).limit(3)
      val expTerms = cand.collect().map(_.getString(0)) // bounded: 3 terms
      val ranked = bm25SearchTf(tf, QueryTerms ++ expTerms, 10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      ranked.join(first.withColumn("in_first", lit(1L)), Seq("doc_id"), "left")
        .select(col("rank"), col("doc_id"), col("bm25"),
          coalesce(col("in_first"), lit(0L)).as("in_first_pass"),
          lit(expTerms.sorted.mkString(",")).as("exp_terms"))
        .orderBy(col("rank"))
    }),

    // MMR diversified rerank (q244) — maximal marginal relevance
    // (Carbonell & Goldstein, SIGIR '98), the context-assembly step of a
    // RAG pipeline: from the BM25 top-10, greedily pick 5 documents
    // maximizing 0.7·relevance − 0.3·max-similarity-to-already-picked, so
    // the selected context covers the query without spending its budget
    // on near-duplicate passages (the failure q35/q47 measure corpus-wide
    // shows up HERE as wasted context slots). Relevance is BM25
    // normalized by the top score; redundancy is the tf-cosine between
    // candidates, served from the shared inverted-index layer. The greedy
    // loop is inherently sequential over a top-k frame, so it runs on the
    // driver over TWO bounded fetches (<= 10 relevance rows, <= 90 pair
    // sims — the q237 bounded-fetch contract); every scalar the loop
    // touches is 6-dp-rounded Spark output, and the loop's own arithmetic
    // (0.7·r − 0.3·m, HALF_UP at 6 dp) is replayed verbatim by the
    // oracle's unrolled selection CTEs, so the two engines pick identical
    // sequences. At 100 TB nothing changes: the corpus-sized work is the
    // one BM25 pass; the rerank stays k²-bounded.
    "q244_mmr_rerank" -> ((s, dir) => {
      val tf = sharedTermFreqs(s, dir)
      val cand = bm25SearchTf(tf, QueryTerms, 10)
      val mx = cand.agg(max(col("bm25")).as("mx"))
      val rel = cand.crossJoin(broadcast(mx))
        .select(col("doc_id"), round(col("bm25") / col("mx"), 6).as("r"))
      val ctf = tf.join(cand.select(col("doc_id")), Seq("doc_id"))
      val ssq = ctf.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("ssq"))
      val dp = ctf.as("a").join(ctf.as("b"),
          col("a.term") === col("b.term") && col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
        .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
      val sim = dp
        .join(ssq.select(col("doc_id").as("ia"), col("ssq").as("sa")), Seq("ia"))
        .join(ssq.select(col("doc_id").as("ib"), col("ssq").as("sb")), Seq("ib"))
        .select(col("ia"), col("ib"),
          round(col("dot").cast("double") / (sqrt(col("sa")) * sqrt(col("sb"))), 6)
            .as("sim"))
      val relArr = rel.orderBy(col("doc_id")).collect()
        .map(r0 => r0.getLong(0) -> r0.getDouble(1))
      val simMap = sim.collect()
        .map(r0 => (r0.getLong(0), r0.getLong(1)) -> r0.getDouble(2)).toMap
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      var selected = Vector.empty[(Long, Double, Double)]
      // bound by the candidate count: on a corpus with <5 BM25 hits the
      // engine degrades to fewer rows exactly like the oracle (minBy on an
      // empty iterator would throw otherwise)
      for (_ <- 1 to math.min(5, relArr.length)) {
        val selIds = selected.map(_._1).toSet
        val best = relArr.iterator.filter(p => !selIds(p._1)).map { case (id, r) =>
          val m = if (selIds.isEmpty) 0.7 * r
            else 0.7 * r - 0.3 * selIds.iterator
              .map(sid => simMap.getOrElse((id, sid), 0.0)).max
          (id, r, r6(m))
        }.minBy(t => (-t._3, t._1))
        selected :+= best
      }
      import s.implicits._
      selected.zipWithIndex
        .map { case ((id, r, m), i) => (i + 1L, id, r, m) }
        .toDF("pos", "doc_id", "rel_norm", "mmr")
    }),

    // Graded nDCG@10 (q245) — the ranking-quality metric q228's binary
    // precision/recall can't express: relevance is GRADED by the
    // query-term mass a document carries (gain = Σ tf over the query
    // terms — tf-graded self-supervised relevance), and DCG@10 uses the
    // original linear-gain form (Järvelin & Kekäläinen 2002), discounting
    // each gain by log2(rank+1)
    // over the BM25 top-10, and IDCG re-ranks the whole graded set by
    // gain to price the ceiling — nDCG = DCG/IDCG is the number that
    // says "the ranker finds the right docs but orders them badly"
    // (high recall, low nDCG), which neither q228 metric can see. Every
    // discounted term is 12-dp-rounded and decimal-summed (q206
    // convention); both rankings are bounded top-10 heaps
    // (TakeOrderedAndProject), and gains ride the shared inverted index.
    "q245_ndcg_eval" -> ((s, dir) => {
      val dec = DecimalType(38, 12)
      import s.implicits._
      // ONE pass over the shared eval-scored frame (see evalScored): both
      // rankings are query-partitioned windows instead of per-query global
      // sorts, so the pass count no longer grows with the eval-set size.
      val perDoc = evalScored(s, dir).localCheckpoint()
      val spine = EvalQueries.map(_._1).toDF("query_id")
      val dcgTerm = round(col("gain").cast("double")
        / log2(col("rank") + lit(1.0)), 12).cast(dec)
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("bm25").desc, col("doc_id"))
      val dcg = perDoc.withColumn("rank", row_number().over(wq).cast("long"))
        .filter(col("rank") <= 10)
        .groupBy(col("query_id"))
        .agg(round(sum(dcgTerm).cast("double"), 6).as("dcg"))
      val wg = Window.partitionBy(col("query_id"))
        .orderBy(col("gain").desc, col("doc_id"))
      val idcg = perDoc.withColumn("rank", row_number().over(wg).cast("long"))
        .filter(col("rank") <= 10)
        .groupBy(col("query_id"))
        .agg(round(sum(dcgTerm).cast("double"), 6).as("idcg"),
          count(lit(1)).as("n_graded"))
      spine.join(dcg, Seq("query_id"), "left")
        .join(idcg, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_graded"), lit(0L)).as("n_graded"),
          col("dcg"), col("idcg"),
          round(col("dcg") / col("idcg"), 6).as("ndcg"))
        .orderBy(col("query_id"))
    }),

    // Retrieval-quality eval (q228): BM25's top-20 scored against the
    // EXACT conjunctive relevance set per eval query — precision@10,
    // recall@20, and reciprocal rank, the numbers a search rollout reads
    // before trusting a ranker. Relevance here is self-supervised (docs
    // containing every query term — q80's semantics), so the eval is fully
    // oracled and needs no judgments; BM25 ranking a conjunctive match
    // high is the sanity floor any lexical ranker must clear. All frames
    // serve from the shared inverted-index layer; the only windows rank
    // the 20-row BM25 results (bounded, AuditSpec-classified).
    "q228_retrieval_eval" -> ((s, dir) => {
      import s.implicits._
      // ONE pass over the shared eval-scored frame (see evalScored): the
      // former per-query bm25 legs (each with its own global sort) fold
      // into one query-partitioned ranking window; relevance is the
      // conjunctive n_terms == n_terms_q test on the same frame.
      val perDoc = evalScored(s, dir).localCheckpoint()
      val spine = EvalQueries.map(_._1).toDF("query_id")
      val isRel = col("n_terms") === col("n_terms_q")
      val nrel = spine.join(
          perDoc.filter(isRel).groupBy(col("query_id")).agg(count(lit(1)).as("nr")),
          Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("nr"), lit(0L)).as("n_rel"))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("bm25").desc, col("doc_id"))
      val hits = perDoc.withColumn("rank", row_number().over(wq).cast("long"))
        .filter(col("rank") <= 20 && isRel)
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("h20"),
          sum(when(col("rank") <= 10, 1L).otherwise(0L)).as("h10"),
          min(col("rank")).as("fr"))
      nrel.join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_rel"),
          coalesce(col("h10"), lit(0L)).as("hits_at_10"),
          coalesce(col("h20"), lit(0L)).as("hits_at_20"),
          round(coalesce(col("h10"), lit(0L)).cast("double") / 10, 6).as("p_at_10"),
          when(col("n_rel") === 0, lit(null).cast("double"))
            .otherwise(round(coalesce(col("h20"), lit(0L)).cast("double")
              / col("n_rel"), 6)).as("recall_at_20"),
          when(col("fr").isNull, lit(0.0))
            .otherwise(round(lit(1.0) / col("fr"), 6)).as("rr"))
        .orderBy(col("query_id"))
    }),

    // Conjunctive keyword search: docs containing every query term.
    "q80_keyword_and" -> ((s, dir) =>
      keywordAndSearchTf(sharedTermFreqs(s, dir), QueryTerms)
        .orderBy(col("doc_id"))),

    // Exact positional phrase search (see phraseSearch; positional — the
    // one retrieval query the tf rollup can't serve).
    "q116_phrase_search" -> ((s, dir) =>
      phraseSearch(docs(s, dir), PhraseTerms)),

    // Sparse (bag-of-words TF-IDF) cosine top-20 pairs.
    "q91_tfidf_cosine" -> ((s, dir) =>
      tfidfCosinePairsTf(sharedTermFreqs(s, dir))),

    // q91's df-cap spend made OBSERVABLE (q387) — the round-17 "no silent
    // caps" item: [[CosineDfCap]] deliberately bounds q91's worst-case pair
    // generation (cap² per posting list at any scale), and what that cost
    // bound SPENDS is recall as df distributions shift up — measured in the
    // round-17 sweeps as a 20 → 0 top-pair collapse by 8× replica scale,
    // but visible only in BASELINE.md notes until now. This row prices the
    // trade in-engine, per run: vocabulary size, the capped-term share, the
    // posting mass the cap drops (rows the candidate stage never reads),
    // the bounded pair budget Σ C(df,2) over surviving lists, and the
    // distinct candidate pairs actually generated. Run over a replica-
    // scaled corpus the same numbers reproduce the collapse curve; at the
    // driver's gate SF the row is hash-pinned. One pass over df + the same
    // rare-list explode as q91 — narrow rows only, no new shuffle shape.
    "q387_dfcap_coverage" -> ((s, dir) => {
      val cap = CosineDfCap
      val tf = sharedTermFreqs(s, dir)
      val dfq = docFreqs(tf)
      val termStats = dfq.agg(
        count(lit(1)).as("n_terms"),
        sum(when(col("df") > cap, 1L).otherwise(0L)).as("n_capped_terms"),
        sum(col("df")).as("posting_mass"),
        sum(when(col("df") > cap, col("df")).otherwise(0L)).as("posting_mass_dropped"),
        sum(when(col("df") <= cap && col("df") >= 2,
          expr("df * (df - 1) div 2")).otherwise(0L)).as("pair_budget"))
      // THE candidate stage q91 runs — the shared [[rareTermCandidates]],
      // not a copy, so the ledger cannot drift from the stage it prices
      val nCand = rareTermCandidates(tf, dfq, cap)
        .agg(count(lit(1)).as("n_candidate_pairs"))
      termStats.crossJoin(nCand)
        .select(col("n_terms"), col("n_capped_terms"),
          round(col("n_capped_terms").cast("double") / col("n_terms"), 6)
            .as("capped_term_share"),
          col("posting_mass"), col("posting_mass_dropped"),
          round(col("posting_mass_dropped").cast("double") / col("posting_mass"), 6)
            .as("dropped_mass_share"),
          col("pair_budget"), col("n_candidate_pairs"))
    }),

    // Hybrid sparse+dense retrieval fused by RRF (query vector: vec_id 0).
    "q92_hybrid_rrf" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      hybridRrfTf(sharedTermFreqs(s, dir), e, QueryTerms)
    })
  )

  /** The q228 eval query set: small conjunctive queries whose EXACT
    * relevant set (docs containing every term) is computable, so BM25's
    * ranking quality is measurable without human judgments — the standard
    * self-supervised IR eval shape. */
  val EvalQueries: Seq[(String, Seq[String])] = Seq(
    "e1" -> Seq("spark", "vector"), "e2" -> Seq("merge", "hash"),
    "e3" -> Seq("table", "scan"), "e4" -> Seq("query", "join"))

  private val invIndexCte: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM tf)""".stripMargin

  /** q228 oracle, built per eval query from one template so engine and SQL
    * can never drift on the query set: each block replays the q79 BM25
    * arithmetic for its terms, ranks the LIMIT-20 result, intersects the
    * conjunctive relevance set, and emits the metric row. */
  private val retrievalEvalSql: String = {
    val blocks = EvalQueries.map { case (qid, terms) =>
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""w_$qid AS (SELECT tf.doc_id,
         |             ln(1 + (n.n - df.df + 0.5) / (df.df + 0.5)) *
         |             (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl)) AS w
         |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad
         |      WHERE tf.term IN ($inList)),
         |rk_$qid AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
         |       FROM (SELECT doc_id, round(sum(w), 6) AS bm25 FROM w_$qid GROUP BY doc_id
         |             ORDER BY bm25 DESC, doc_id LIMIT 20)),
         |rel_$qid AS (SELECT doc_id FROM tf WHERE term IN ($inList)
         |        GROUP BY doc_id HAVING count(*) = ${terms.length}),
         |m_$qid AS (SELECT '$qid' AS query_id,
         |        (SELECT count(*) FROM rel_$qid) AS n_rel,
         |        (SELECT count(*) FROM rk_$qid JOIN rel_$qid USING (doc_id) WHERE rank <= 10) AS h10,
         |        (SELECT count(*) FROM rk_$qid JOIN rel_$qid USING (doc_id)) AS h20,
         |        (SELECT min(rank) FROM rk_$qid JOIN rel_$qid USING (doc_id)) AS fr)""".stripMargin
    }
    val unions = EvalQueries.map { case (qid, _) => s"SELECT * FROM m_$qid" }
      .mkString("\n|      UNION ALL ")
    (invIndexCte +
      s""",
         |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
         |ad AS (SELECT round(avg(dl), 6) AS avgdl FROM dl),
         |${blocks.mkString(",\n|")},
         |m AS (${unions})
         |SELECT query_id, n_rel, h10 AS hits_at_10, h20 AS hits_at_20,
         |       round(CAST(h10 AS DOUBLE) / 10, 6) AS p_at_10,
         |       CASE WHEN n_rel = 0 THEN NULL
         |            ELSE round(CAST(h20 AS DOUBLE) / n_rel, 6) END AS recall_at_20,
         |       CASE WHEN fr IS NULL THEN 0.0 ELSE round(1.0 / fr, 6) END AS rr
         |FROM m ORDER BY query_id""".stripMargin)
  }

  /** q245 oracle, one block per eval query from the same template as q228
    * (engine and SQL share the query set by construction): graded gains,
    * the BM25 top-10, and the DCG/IDCG decimal sums. */
  private val ndcgEvalSql: String = {
    val dcgSum = "round(CAST(sum(CAST(round(CAST(gain AS DOUBLE) / " +
      "log2(rank + 1.0), 12) AS DECIMAL(38,12))) AS DOUBLE), 6)"
    val blocks = EvalQueries.map { case (qid, terms) =>
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""w_$qid AS (SELECT tf.doc_id,
         |             ln(1 + (n.n - df.df + 0.5) / (df.df + 0.5)) *
         |             (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl)) AS w
         |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad
         |      WHERE tf.term IN ($inList)),
         |g_$qid AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS gain FROM tf
         |       WHERE term IN ($inList) GROUP BY doc_id),
         |rk_$qid AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
         |       FROM (SELECT doc_id, round(sum(w), 6) AS bm25 FROM w_$qid GROUP BY doc_id
         |             ORDER BY bm25 DESC, doc_id LIMIT 10)),
         |d_$qid AS (SELECT $dcgSum AS dcg FROM rk_$qid JOIN g_$qid USING (doc_id)),
         |i_$qid AS (SELECT $dcgSum AS idcg, count(*) AS n_graded
         |       FROM (SELECT gain, CAST(row_number() OVER (ORDER BY gain DESC, doc_id) AS BIGINT) AS rank
         |             FROM g_$qid) WHERE rank <= 10),
         |m_$qid AS (SELECT '$qid' AS query_id, n_graded, dcg, idcg,
         |             round(dcg / idcg, 6) AS ndcg
         |           FROM d_$qid CROSS JOIN i_$qid)""".stripMargin
    }
    val unions = EvalQueries.map { case (qid, _) => s"SELECT * FROM m_$qid" }
      .mkString("\n|      UNION ALL ")
    (invIndexCte +
      s""",
         |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
         |ad AS (SELECT round(avg(dl), 6) AS avgdl FROM dl),
         |${blocks.mkString(",\n|")}
         |SELECT * FROM ($unions) ORDER BY query_id""".stripMargin)
  }

  val oracles: Map[String, String] = Map(
    "q245_ndcg_eval" -> ndcgEvalSql,
    // Unrolled greedy selection: s1..s5 are the five MMR picks, each step
    // re-scoring the unpicked candidates against the selected-so-far list
    // (l2..l4) with the exact driver-loop arithmetic. The CTEs referenced
    // more than once are MATERIALIZED: DuckDB otherwise inlines each
    // reference, so every later step re-evaluates cand, rel and sim once
    // per path through the chain (242 s against 0.05 s at sf0.001).
    "q244_mmr_rerank" ->
      (invIndexCte +
        """,
          |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
          |ad AS (SELECT round(avg(dl), 6) AS avgdl FROM dl),
          |w AS (SELECT tf.doc_id,
          |             ln(1 + (n.n - df.df + 0.5) / (df.df + 0.5)) *
          |             (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl)) AS w
          |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad
          |      WHERE tf.term IN ('spark', 'vector', 'merge')),
          |cand AS MATERIALIZED (SELECT doc_id, round(sum(w), 6) AS bm25 FROM w GROUP BY doc_id
          |         ORDER BY bm25 DESC, doc_id LIMIT 10),
          |mx AS (SELECT max(bm25) AS mx FROM cand),
          |rel AS MATERIALIZED (SELECT doc_id, round(bm25 / mx, 6) AS r FROM cand CROSS JOIN mx),
          |ctf AS (SELECT tf.doc_id, tf.term, tf.tf FROM tf JOIN cand USING (doc_id)),
          |ssq AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS ssq FROM ctf GROUP BY 1),
          |dp AS (SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
          |       FROM ctf a JOIN ctf b ON a.term = b.term AND a.doc_id != b.doc_id
          |       GROUP BY 1, 2),
          |sim AS MATERIALIZED (SELECT ia, ib,
          |          round(CAST(dot AS DOUBLE) / (sqrt(sa.ssq) * sqrt(sb.ssq)), 6) AS sim
          |        FROM dp JOIN ssq sa ON sa.doc_id = ia JOIN ssq sb ON sb.doc_id = ib),
          |s1 AS MATERIALIZED (SELECT doc_id, r, round(0.7 * r, 6) AS mmr FROM rel
          |       ORDER BY mmr DESC, doc_id LIMIT 1),
          |p2 AS (SELECT rel.doc_id, rel.r,
          |         round(0.7 * rel.r - 0.3 * COALESCE((SELECT max(sim) FROM sim
          |             WHERE ia = rel.doc_id AND ib IN (SELECT doc_id FROM s1)), 0), 6) AS mmr
          |       FROM rel WHERE rel.doc_id NOT IN (SELECT doc_id FROM s1)),
          |s2 AS MATERIALIZED (SELECT doc_id, r, mmr FROM p2 ORDER BY mmr DESC, doc_id LIMIT 1),
          |l2 AS MATERIALIZED (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2),
          |p3 AS (SELECT rel.doc_id, rel.r,
          |         round(0.7 * rel.r - 0.3 * COALESCE((SELECT max(sim) FROM sim
          |             WHERE ia = rel.doc_id AND ib IN (SELECT doc_id FROM l2)), 0), 6) AS mmr
          |       FROM rel WHERE rel.doc_id NOT IN (SELECT doc_id FROM l2)),
          |s3 AS MATERIALIZED (SELECT doc_id, r, mmr FROM p3 ORDER BY mmr DESC, doc_id LIMIT 1),
          |l3 AS MATERIALIZED (SELECT doc_id FROM l2 UNION ALL SELECT doc_id FROM s3),
          |p4 AS (SELECT rel.doc_id, rel.r,
          |         round(0.7 * rel.r - 0.3 * COALESCE((SELECT max(sim) FROM sim
          |             WHERE ia = rel.doc_id AND ib IN (SELECT doc_id FROM l3)), 0), 6) AS mmr
          |       FROM rel WHERE rel.doc_id NOT IN (SELECT doc_id FROM l3)),
          |s4 AS MATERIALIZED (SELECT doc_id, r, mmr FROM p4 ORDER BY mmr DESC, doc_id LIMIT 1),
          |l4 AS MATERIALIZED (SELECT doc_id FROM l3 UNION ALL SELECT doc_id FROM s4),
          |p5 AS (SELECT rel.doc_id, rel.r,
          |         round(0.7 * rel.r - 0.3 * COALESCE((SELECT max(sim) FROM sim
          |             WHERE ia = rel.doc_id AND ib IN (SELECT doc_id FROM l4)), 0), 6) AS mmr
          |       FROM rel WHERE rel.doc_id NOT IN (SELECT doc_id FROM l4)),
          |s5 AS (SELECT doc_id, r, mmr FROM p5 ORDER BY mmr DESC, doc_id LIMIT 1)
          |SELECT * FROM (
          |  SELECT CAST(1 AS BIGINT) AS pos, doc_id, r AS rel_norm, mmr FROM s1
          |  UNION ALL SELECT CAST(2 AS BIGINT), doc_id, r, mmr FROM s2
          |  UNION ALL SELECT CAST(3 AS BIGINT), doc_id, r, mmr FROM s3
          |  UNION ALL SELECT CAST(4 AS BIGINT), doc_id, r, mmr FROM s4
          |  UNION ALL SELECT CAST(5 AS BIGINT), doc_id, r, mmr FROM s5)
          |ORDER BY pos""".stripMargin),
    "q237_prf_expansion" ->
      (invIndexCte +
        """,
          |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
          |ad AS (SELECT round(avg(dl), 6) AS avgdl FROM dl),
          |w1 AS (SELECT tf.doc_id,
          |             ln(1 + (n.n - df.df + 0.5) / (df.df + 0.5)) *
          |             (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl)) AS w
          |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad
          |      WHERE tf.term IN ('spark', 'vector', 'merge')),
          |top1 AS (SELECT doc_id FROM
          |          (SELECT doc_id, round(sum(w), 6) AS bm25 FROM w1 GROUP BY doc_id
          |           ORDER BY bm25 DESC, doc_id LIMIT 10)),
          |cand AS (SELECT tf.term,
          |           round(CAST(sum(CAST(round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS score
          |         FROM tf JOIN top1 USING (doc_id) JOIN df USING (term) CROSS JOIN n
          |         WHERE tf.term NOT IN ('spark', 'vector', 'merge')
          |         GROUP BY tf.term),
          |e3 AS (SELECT term FROM cand ORDER BY score DESC, term LIMIT 3),
          |w2 AS (SELECT tf.doc_id,
          |             ln(1 + (n.n - df.df + 0.5) / (df.df + 0.5)) *
          |             (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl)) AS w
          |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad
          |      WHERE tf.term IN ('spark', 'vector', 'merge') OR tf.term IN (SELECT term FROM e3)),
          |rk AS (SELECT doc_id, bm25, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
          |       FROM (SELECT doc_id, round(sum(w), 6) AS bm25 FROM w2 GROUP BY doc_id
          |             ORDER BY bm25 DESC, doc_id LIMIT 10)),
          |ex AS (SELECT string_agg(term, ',' ORDER BY term) AS exp_terms FROM e3)
          |SELECT rk.rank, rk.doc_id, rk.bm25,
          |       CAST(CASE WHEN t1.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_first_pass,
          |       ex.exp_terms
          |FROM rk LEFT JOIN top1 t1 USING (doc_id) CROSS JOIN ex
          |ORDER BY rank""".stripMargin),
    "q228_retrieval_eval" -> retrievalEvalSql,
    "q292_topterm_rbo" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |ha AS (SELECT term, CAST(sum(tf) AS BIGINT) AS n FROM tf WHERE doc_id % 2 = 0 GROUP BY 1),
        |hb AS (SELECT term, CAST(sum(tf) AS BIGINT) AS n FROM tf WHERE doc_id % 2 = 1 GROUP BY 1),
        |ta AS (SELECT term, row_number() OVER (ORDER BY n DESC, term) AS ra FROM
        |         (SELECT * FROM ha ORDER BY n DESC, term LIMIT 50)),
        |tb AS (SELECT term, row_number() OVER (ORDER BY n DESC, term) AS rb FROM
        |         (SELECT * FROM hb ORDER BY n DESC, term LIMIT 50)),
        |bo AS (SELECT term, ra, rb FROM ta JOIN tb USING (term)),
        |depths AS (SELECT CAST(unnest(range(1, 51)) AS BIGINT) AS d),
        |ov AS (SELECT d, count(*) AS ov FROM depths JOIN bo ON ra <= d AND rb <= d GROUP BY 1),
        |terms AS (SELECT CAST(round(pow(0.9, d - 1.0)
        |            * CAST(coalesce(ov.ov, 0) AS DOUBLE) / d, 12) AS DECIMAL(38,12)) AS t
        |          FROM depths LEFT JOIN ov USING (d)),
        |j AS (SELECT count(*) AS n_common FROM bo)
        |SELECT round(0.1 * CAST(sum(t) AS DOUBLE), 6) AS rbo, j.n_common,
        |       round(CAST(j.n_common AS DOUBLE) / (100.0 - j.n_common), 6) AS top50_jaccard
        |FROM terms CROSS JOIN j GROUP BY j.n_common""".stripMargin,
    "q315_burrows_delta" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |st AS (SELECT d.source, tf.term, CAST(sum(tf.tf) AS BIGINT) AS c
        |       FROM tf JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM st GROUP BY 1),
        |top AS (SELECT term FROM (SELECT term, sum(c) AS tc FROM st GROUP BY 1
        |                          ORDER BY tc DESC, term LIMIT 50)),
        |rel AS (SELECT stot.source, top.term,
        |          round(CAST(coalesce(st.c, 0) AS DOUBLE) / stot.n, 9) AS f
        |        FROM stot CROSS JOIN top
        |          LEFT JOIN st ON st.source = stot.source AND st.term = top.term),
        |ms AS (SELECT term, count(*) AS ns,
        |         CAST((2 * CAST(CAST(sum(CAST(f AS DECIMAL(38,9))) * 1000000000 AS DECIMAL(38,0)) AS HUGEINT)
        |               + count(*)) // (2 * count(*)) AS DOUBLE) / 1e9 AS mu,
        |         CAST((2 * CAST(CAST(sum(CAST(round(f * f, 12) AS DECIMAL(38,12))) * 1000000000000 AS DECIMAL(38,0)) AS HUGEINT)
        |               + 1000 * count(*)) // (2000 * count(*)) AS DOUBLE) / 1e9 AS s2
        |       FROM rel GROUP BY 1),
        |sdt AS (SELECT term, mu,
        |          round(sqrt(round((s2 - mu * mu) * (CAST(ns AS DOUBLE) / (ns - 1)), 12)), 9) AS sd
        |        FROM ms),
        |z AS (SELECT rel.source, rel.term, round((rel.f - sdt.mu) / sdt.sd, 9) AS z
        |      FROM rel JOIN sdt USING (term) WHERE sdt.sd > 0)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_terms,
        |       CAST((2 * CAST(CAST(sum(CAST(round(abs(a.z - b.z), 9) AS DECIMAL(38,9))) * 1000000000 AS DECIMAL(38,0)) AS HUGEINT)
        |             + 1000 * count(*)) // (2000 * count(*)) AS DOUBLE) / 1e6 AS delta
        |FROM z a JOIN z b ON a.term = b.term AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q273_source_log_odds" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |st AS (SELECT d.source, tf.term, CAST(sum(tf.tf) AS BIGINT) AS n_in_source
        |       FROM tf JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(n_in_source) AS BIGINT) AS ns FROM st GROUP BY 1),
        |yw AS (SELECT term, CAST(sum(n_in_source) AS BIGINT) AS n_corpus FROM st GROUP BY 1),
        |tot AS (SELECT CAST(sum(ns) AS BIGINT) AS nn FROM ns),
        |vs AS (SELECT count(*) * 0.5 AS fa FROM yw),
        |sc AS (SELECT st.source, st.term, st.n_in_source, yw.n_corpus,
        |         round((ln((st.n_in_source + 0.5) / (ns.ns + vs.fa - st.n_in_source - 0.5))
        |              - ln(((yw.n_corpus - st.n_in_source) + 0.5)
        |                   / (tot.nn - ns.ns + vs.fa - (yw.n_corpus - st.n_in_source) - 0.5)))
        |           / sqrt(1.0 / (st.n_in_source + 0.5)
        |                  + 1.0 / ((yw.n_corpus - st.n_in_source) + 0.5)), 6) AS z_odds
        |       FROM st JOIN ns USING (source) JOIN yw USING (term)
        |            CROSS JOIN tot CROSS JOIN vs
        |       WHERE st.n_in_source >= 5),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY source
        |                    ORDER BY z_odds DESC, term) AS rnk FROM sc)
        |SELECT source, term, n_in_source, n_corpus, z_odds, CAST(rnk AS BIGINT) AS rnk
        |FROM rk WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,
    "q78_tfidf_topterms" ->
      (invIndexCte +
        """,
          |scored AS (SELECT doc_id, tf.term, tf.tf, df.df,
          |                  round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
          |           FROM tf JOIN df USING (term) CROSS JOIN n),
          |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          |                        ORDER BY tfidf DESC, term) AS rnk
          |           FROM scored)
          |SELECT doc_id, term, tf, df, tfidf, rnk FROM ranked
          |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    "q79_bm25_search" ->
      (invIndexCte +
        """,
          |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
          |ad AS (SELECT round(avg(dl), 6) AS avgdl FROM dl),
          |w AS (SELECT tf.doc_id,
          |             ln(1 + (n.n - df.df + 0.5) / (df.df + 0.5)) *
          |             (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl)) AS w
          |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad
          |      WHERE tf.term IN ('spark', 'vector', 'merge'))
          |SELECT doc_id, round(sum(w), 6) AS bm25
          |FROM w GROUP BY doc_id
          |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),
    "q116_phrase_search" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |pos AS (SELECT doc_id, unnest(range(len(w))) AS p, unnest(w) AS term FROM toks),
        |l0 AS (SELECT doc_id, p AS anchor FROM pos WHERE term = 'slow'),
        |l1 AS (SELECT doc_id, p - 1 AS anchor FROM pos WHERE term = 'hash'),
        |l2 AS (SELECT doc_id, p - 2 AS anchor FROM pos WHERE term = 'batch')
        |SELECT doc_id, count(*) AS n_hits
        |FROM l0 JOIN l1 USING (doc_id, anchor) JOIN l2 USING (doc_id, anchor)
        |GROUP BY doc_id ORDER BY n_hits DESC, doc_id""".stripMargin,
    "q80_keyword_and" ->
      (invIndexCte +
        """
          |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_hits
          |FROM tf WHERE term IN ('spark', 'vector', 'merge')
          |GROUP BY doc_id HAVING count(*) = 3 ORDER BY doc_id""".stripMargin),
    "q91_tfidf_cosine" ->
      (invIndexCte +
        """,
          |wt AS (SELECT doc_id, term,
          |              CAST(round(tf.tf * round(ln(CAST(n.n AS DOUBLE) / df.df), 6), 6)
          |                   AS DECIMAL(18,6)) AS w
          |       FROM tf JOIN df USING (term) CROSS JOIN n),
          |nrm AS (SELECT doc_id, sum(CAST(w * w AS DECIMAL(38,12))) AS nsq
          |        FROM wt GROUP BY doc_id),
          |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |         FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
          |         WHERE a.term IN (SELECT term FROM df WHERE df <= 256)),
          |dt AS (SELECT id_a, id_b, sum(CAST(wa.w * wb.w AS DECIMAL(38,12))) AS dot
          |       FROM cand JOIN wt wa ON wa.doc_id = id_a
          |                 JOIN wt wb ON wb.doc_id = id_b AND wb.term = wa.term
          |       GROUP BY 1, 2)
          |SELECT id_a, id_b,
          |       round(CAST(dot AS DOUBLE) /
          |             (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))), 6) AS cosine
          |FROM dt JOIN nrm na ON na.doc_id = id_a
          |        JOIN nrm nb ON nb.doc_id = id_b
          |ORDER BY cosine DESC, id_a, id_b LIMIT 20""".stripMargin),
    // q387: the df-cap spend ledger — every column recomputed from the
    // same inverted index the q91 oracle replays (cap literal 256 =
    // CosineDfCap; a drifted cap or tokenizer hash-fails here).
    "q387_dfcap_coverage" ->
      (invIndexCte +
        """,
          |ts AS (SELECT count(*) AS n_terms,
          |         CAST(sum(CASE WHEN df > 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_terms,
          |         CAST(sum(df) AS BIGINT) AS posting_mass,
          |         CAST(sum(CASE WHEN df > 256 THEN df ELSE 0 END) AS BIGINT) AS posting_mass_dropped,
          |         CAST(sum(CASE WHEN df BETWEEN 2 AND 256 THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT) AS pair_budget
          |       FROM df),
          |cd AS (SELECT count(*) AS n_candidate_pairs FROM
          |        (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |         FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
          |         WHERE a.term IN (SELECT term FROM df WHERE df <= 256)))
          |SELECT n_terms, n_capped_terms,
          |       round(CAST(n_capped_terms AS DOUBLE) / n_terms, 6) AS capped_term_share,
          |       posting_mass, posting_mass_dropped,
          |       round(CAST(posting_mass_dropped AS DOUBLE) / posting_mass, 6) AS dropped_mass_share,
          |       pair_budget, n_candidate_pairs
          |FROM ts CROSS JOIN cd""".stripMargin),
    "q92_hybrid_rrf" ->
      (invIndexCte +
        """,
          |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
          |ad AS (SELECT round(avg(dl), 6) AS avgdl FROM dl),
          |w AS (SELECT tf.doc_id,
          |             ln(1 + (n.n - df.df + 0.5) / (df.df + 0.5)) *
          |             (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl)) AS w
          |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad
          |      WHERE tf.term IN ('spark', 'vector', 'merge')),
          |bm AS (SELECT doc_id, round(sum(w), 6) AS bm25 FROM w GROUP BY doc_id
          |       ORDER BY bm25 DESC, doc_id LIMIT 100),
          |bmr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rs FROM bm),
          |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
          |dn AS (SELECT vec_id AS doc_id,
          |              round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.v), 6) AS sim
          |       FROM embeddings CROSS JOIN qv WHERE vec_id <> 0
          |       ORDER BY sim DESC, doc_id LIMIT 100),
          |dnr AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rd FROM dn)
          |SELECT doc_id,
          |       round(COALESCE(1.0 / (60 + rs), 0) + COALESCE(1.0 / (60 + rd), 0), 6) AS rrf
          |FROM bmr FULL OUTER JOIN dnr USING (doc_id)
          |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin)
  )
}
