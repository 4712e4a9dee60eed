package graft.operators

import graft.{QueryModule, SessionLayers}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting (whitespace + BPE-ish regex), quality scoring, language
  * identification (marker-word n-gram heuristic), and document
  * fingerprinting (normalized-content hash).
  *
  * Everything is built from codegen'd built-in expressions (`split`,
  * `regexp_count`, `md5`, array lambdas) — per-row, shuffle-free map work
  * that scales embarrassingly: at 100 TB each task processes its partition
  * independently and only the (tiny) rollups shuffle.
  */
object TextAnalytics extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.read(s, dir, "documents")

  /** Whitespace token count (fixtures are single-space tokenized). */
  def nTokens(text: Column): Column = size(split(trim(text), " ")).cast(LongType)

  /** BPE-ish pre-tokenizer count: letter runs | digit runs | single
    * non-alphanumeric glyphs — the shape GPT-style pre-tokenizers use. */
  def nBpeTokens(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast(LongType)

  /** Canonical content fingerprint: md5 of lowercased, whitespace-collapsed,
    * trimmed text. Two documents with the same fingerprint are exact dups up
    * to case/whitespace — the standard first pass of corpus dedup. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  private val stopPat = "\\b(the|a|of|and|in|to|is)\\b"
  private val enPat = "\\b(the|a|of|and|in|to)\\b"
  private val dePat = "\\b(der|die|das|und|ist|nicht)\\b"
  private val esPat = "\\b(el|la|los|que|es|una)\\b"

  /** Marker-word language scores. On real corpora these would be char-n-gram
    * profiles; the heuristic stays deterministic + SQL-expressible so the
    * oracle can replay it. */
  private def langScore(text: Column, pat: String): Column =
    regexp_count(lower(text), lit(pat)).cast(LongType)

  /** Language ID: argmax of the marker scores, deterministic tiebreak
    * (en > de > es order on ties). */
  def predictedLang: Column = {
    val sEn = langScore(col("text"), enPat)
    val sDe = langScore(col("text"), dePat)
    val sEs = langScore(col("text"), esPat)
    when(sEn >= sDe && sEn >= sEs, lit("en"))
      .when(sDe >= sEs, lit("de"))
      .otherwise(lit("es"))
  }

  /** Stopword density over whitespace tokens. */
  def stopRatio: Column =
    langScore(col("text"), stopPat).cast("double") / nTokens(col("text")).cast("double")

  /** Punctuation density over characters. */
  def punctRatio: Column =
    regexp_count(col("text"), lit("[.,;:!?]")).cast("double") /
      length(col("text")).cast("double")

  /** Quality score (rounded 6dp): bounded length credit + stopword density
    * - punctuation density, a linear proxy for "natural prose" filters. */
  def qualityScore: Column =
    round(lit(0.5) * least(lit(1.0), length(col("text")).cast("double") / 500.0) +
      lit(0.3) * stopRatio + lit(0.2) * (lit(1.0) - punctRatio), 6)

  /** Trained naive-Bayes language classifier (q102) — the stand-in for the
    * fastText-style model-based filters every published LLM pipeline runs
    * (CCNet's language ID, Llama's quality classifier): TRAIN multinomial-NB
    * unigram log-probabilities (add-1 smoothing over the training
    * vocabulary) plus log priors on one corpus slice, CLASSIFY the held-out
    * slice by argmax summed log-likelihood. Unlike q30's fixed marker lists,
    * the model here is LEARNED from the data — the operator is the
    * train-then-score dataflow itself.
    *
    * Scale shape: training reduces to (lang × vocab) count rows with
    * map-side combine; the model (log-prob + prior tables) broadcasts back
    * onto the eval token stream, which is never shuffled — each document's
    * per-class sums aggregate from its scan partition (the q73 layout). At a
    * 100 TB vocabulary the model join graduates to a shuffled equi-join on
    * (lang, tok). Determinism: per-token log-probs pre-rounded at 9 dp and
    * summed in DECIMAL space; argmax ties break to the lexicographically
    * first class.
    *
    * Returns `(doc_id, true_lang, pred_lang, score, correct)` over the
    * held-out slice (`doc_id % 2 == 1`; training is the even slice). */
  /** The trained-NB per-(doc, class) score frame q102 ranks and q209
    * calibrates: (doc_id, true_lang, cand, score). */
  def nbScoredFrom(d: DataFrame): DataFrame = {
    val toks = d.select(col("doc_id"), col("lang"),
      explode(split(trim(col("text")), " ")).as("tok"))
    val tr = toks.filter(col("doc_id") % 2 === 0)
    val vocab = tr.agg(countDistinct(col("tok")).as("v"))
    val langs = tr.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val ltot = langs.agg(sum(col("n_lang")).as("n_all"))
    val cnt = tr.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    // Smoothed log-prob for EVERY (class, training-vocab token) pair, so a
    // token seen only under other classes still scores its floor.
    val grid = langs.crossJoin(tr.select(col("tok")).distinct())
      .join(cnt, Seq("lang", "tok"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("lang").as("cand"), col("tok"),
        round(log10((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("n_lang") + col("v"))), 9).as("logp"))
    val prior = langs.crossJoin(broadcast(ltot)).crossJoin(broadcast(vocab))
      .select(col("lang").as("cand"), col("n_lang"), col("v"),
        round(log10(col("n_lang").cast("double") / col("n_all")), 9).as("logprior"))
    val ev = toks.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang").as("true_lang"), col("tok"))
    val scored = ev.crossJoin(broadcast(prior))
      .join(broadcast(grid), Seq("cand", "tok"), "left")
      // unseen eval tokens fall back to the uniform smoothing floor per class
      .select(col("doc_id"), col("true_lang"), col("cand"), col("logprior"),
        coalesce(col("logp"),
          round(log10(lit(1.0) / (col("n_lang") + col("v"))), 9)).as("t"))
      .groupBy(col("doc_id"), col("true_lang"), col("cand"), col("logprior"))
      .agg(round(sum(col("t").cast("decimal(18,9)")), 6).cast("double").as("ssum"))
      .select(col("doc_id"), col("true_lang"), col("cand"),
        (col("ssum") + col("logprior")).as("score"))
    scored
  }

  /** [[nbScoredFrom]] over the fixture corpus, session-materialized: the
    * trained-NB score frame is a MODEL ARTIFACT shared by q102 (argmax),
    * q209 (margin calibration) and q243 (method agreement) — training it
    * three times per session is the q40-retraining anti-pattern the
    * round-12 verdict flagged. Held in [[graft.SessionLayers]]. */
  def sharedNbScored(s: SparkSession, dir: String): DataFrame =
    SessionLayers.frame(s, "nbScores", dir)(nbScoredFrom(docs(s, dir)))

  def nbLangIdFrom(d: DataFrame): DataFrame = nbLangIdScored(nbScoredFrom(d))

  /** [[nbLangIdFrom]] over a precomputed (possibly shared) score frame. */
  def nbLangIdScored(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("cand"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("true_lang"), col("cand").as("pred_lang"),
        round(col("score"), 6).as("score"),
        when(col("cand") === col("true_lang"), lit(1L)).otherwise(lit(0L)).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** Margin-calibration report for the trained NB classifier (q209) — the
    * reliability readout a pipeline checks before trusting a model-based
    * filter's confidence: eval docs bucketed by decision margin (top-1 minus
    * top-2 log10 score, the multiclass confidence proxy), with per-bucket
    * accuracy. A well-calibrated filter's accuracy rises monotonically with
    * margin; a flat curve means the margin is noise and any
    * threshold-on-confidence routing (e.g. "auto-keep above margin m") is
    * unfounded. Fixed log-space bucket edges (0.5/1/2/4) — data-independent,
    * so the report is comparable across corpora and the oracle replays it
    * without a quantile step. Margins derive from the SAME ranked frame as
    * q102's argmax (rounded at 6 dp like q102's displayed score), so the
    * report can never drift from the classifier it audits.
    *
    * Scale shape: q102's scored frame + one doc-keyed window (top-2), a
    * self-join on doc_id (both sides one row per doc), and a 5-bucket
    * grouped count with map-side partials. */
  def nbCalibrationFrom(d: DataFrame): DataFrame =
    nbCalibrationScored(nbScoredFrom(d))

  /** [[nbCalibrationFrom]] over a precomputed (possibly shared) score frame. */
  def nbCalibrationScored(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("cand"))
    val rk = scored.withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("true_lang"), col("cand"),
        round(col("score"), 6).as("s"), col("rn"))
    val top = rk.filter(col("rn") === 1)
      .select(col("doc_id"), col("true_lang"), col("cand").as("pred"), col("s").as("s1"))
    val second = rk.filter(col("rn") === 2)
      .select(col("doc_id"), col("s").as("s2"))
    val m = top.join(second, Seq("doc_id"))
      .select(round(col("s1") - col("s2"), 6).as("margin"),
        when(col("pred") === col("true_lang"), 1L).otherwise(0L).as("correct"))
    val bucket = when(col("margin") < 0.5, "m0_lt_0.5")
      .when(col("margin") < 1.0, "m1_lt_1")
      .when(col("margin") < 2.0, "m2_lt_2")
      .when(col("margin") < 4.0, "m3_lt_4")
      .otherwise("m4_ge_4")
    m.select(bucket.as("bucket"), col("correct"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("correct")).as("n_correct"))
      .select(col("bucket"), col("n_docs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_docs"), 6).as("accuracy"))
      .orderBy(col("bucket"))
  }

  /** Per-document unigram Shannon entropy + type-token ratio (see the q104
    * registration comment). H = log2(N) - (Σ c·log2 c)/N computed from the
    * per-(doc, token) counts in one fold. */
  def tokenEntropyFrom(d: DataFrame): DataFrame = {
    val wc = d
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    wc.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(col("c")).as("n_tokens"),
        round(log2(sum(col("c"))) -
          sum(col("c").cast("double") * log2(col("c"))) / sum(col("c")),
          6).as("entropy"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 6).as("ttr"),
        col("entropy"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Trained naive-Bayes language classifier over the held-out slice,
    // served from the session model layer (see [[sharedNbScored]]).
    "q102_nb_langid" -> ((s, dir) => nbLangIdScored(sharedNbScored(s, dir))),

    // Margin-calibration of the trained NB filter (see [[nbCalibrationFrom]]).
    "q209_nb_calibration" -> ((s, dir) =>
      nbCalibrationScored(sharedNbScored(s, dir))),

    // Lang-id method-agreement matrix (q243): the q30 regex heuristic vs
    // the q102 trained NB classifier, cross-tabulated over the NB eval
    // slice with each method's accuracy against the declared label inside
    // every cell. The operational read: cells where the two DISAGREE are
    // where routing-by-language is risky, and the per-cell accuracies say
    // WHICH method to trust there (the standard two-rater triage before
    // spending human review budget). The heuristic only knows {en,de,es},
    // so its fr/zh rows land in the es fallback — visible in the matrix
    // rather than papered over. One row-local projection per method (the
    // NB side reuses q102's broadcast-scored frame), one join on doc_id,
    // one |langs|²-bounded grouped count.
    "q243_langid_agreement" -> ((s, dir) => {
      val heur = docs(s, dir)
        .select(col("doc_id"), col("lang"), predictedLang.as("heur_pred"))
      val nb = nbLangIdScored(sharedNbScored(s, dir))
        .select(col("doc_id"), col("pred_lang").as("nb_pred"))
      heur.join(nb, Seq("doc_id"))
        .groupBy(col("heur_pred"), col("nb_pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("heur_pred") === col("lang"), 1L).otherwise(0L))
            .as("n_heur_correct"),
          sum(when(col("nb_pred") === col("lang"), 1L).otherwise(0L))
            .as("n_nb_correct"))
        .select(col("heur_pred"), col("nb_pred"), col("n_docs"),
          col("n_heur_correct"), col("n_nb_correct"),
          when(col("heur_pred") === col("nb_pred"), 1L).otherwise(0L).as("agree"))
        .orderBy(col("heur_pred"), col("nb_pred"))
    }),

    // Reliability diagram + Brier score (q298): is the en-marker density a
    // CALIBRATED probability of "document is English"? q209 bins the NB
    // margin by accuracy; this is the proper-scoring-rule companion against
    // the declared label — per predicted-probability decile: how many docs
    // land there, what the mean prediction was, what fraction actually IS
    // English (the reliability curve; |mean_pred − obs_rate| is the gap a
    // recalibration would close), and the decile's Brier contribution. The
    // decile cut and p share one marker-count projection; per-doc terms are
    // 9-dp pre-rounded then decimal-summed (q100 convention — order-
    // independent at any cluster size); one grouped pass, ≤10 output rows.
    "q298_calibration_brier" -> ((s, dir) => {
      val dec9 = DecimalType(38, 9)
      val sEn = langScore(col("text"), enPat)
      val nTok = nTokens(col("text"))
      val p = least(lit(1.0), sEn.cast("double") / nTok.cast("double"))
      val base = docs(s, dir).select(
        least(lit(9L), floor((sEn * 10).cast("double") / nTok.cast("double"))
          .cast(LongType)).as("bucket"),
        round(p, 9).as("p"),
        when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("y"))
      base.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
          round(sum(col("p").cast(dec9)).cast("double") / count(lit(1)), 6)
            .as("mean_pred"),
          round(sum(round((col("p") - col("y")) * (col("p") - col("y")), 9)
            .cast(dec9)).cast("double") / count(lit(1)), 6).as("brier"))
        .select(col("bucket"), col("n_docs"), col("n_pos"), col("mean_pred"),
          round(col("n_pos").cast("double") / col("n_docs"), 6).as("obs_rate"),
          col("brier"))
        .orderBy(col("bucket"))
    }),

    // Hash-bucket jackknife for mean corpus quality (q300): the estimator-
    // uncertainty readout every per-source/per-slice mean in this surface
    // implicitly needs — delete-one-bucket jackknife over 10 deterministic
    // doc_id buckets gives a standard error WITHOUT resampling the corpus:
    // ONE grouped pass produces per-bucket (count, quality sum); every
    // leave-one-out mean derives from the 10-row frame and the broadcast
    // total (theta_i = (S − s_i)/(N − n_i)); SE = sqrt((B−1)/B · Σ(theta_i
    // − thetā)²). At 100 TB this costs exactly one aggregation of the
    // corpus; the jackknife algebra runs on 10 rows.
    "q300_jackknife_quality" -> ((s, dir) => {
      val dec6 = DecimalType(38, 6); val dec9 = DecimalType(38, 9)
      val b = docs(s, dir)
        .select((col("doc_id") % 10).cast(LongType).as("bucket"),
          qualityScore.as("q"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("q").cast(dec6)).as("sq"))
        .localCheckpoint()
      val tot = b.agg(sum(col("n")).as("nn"), sum(col("sq")).as("ss"))
      val th = b.crossJoin(broadcast(tot))
        .select(round((col("ss") - col("sq")).cast("double")
          / (col("nn") - col("n")), 9).as("theta"))
      val ts = th.agg(count(lit(1)).as("bks"),
        round(sum(col("theta").cast(dec9)).cast("double") / count(lit(1)), 9)
          .as("tbar"))
      val dev = th.crossJoin(broadcast(ts))
        .agg(round(sum(round((col("theta") - col("tbar"))
            * (col("theta") - col("tbar")), 12).cast(DecimalType(38, 12)))
          .cast("double"), 12).as("ssd"))
      tot.crossJoin(broadcast(ts)).crossJoin(broadcast(dev))
        .select(col("nn").as("n_docs"), col("bks").as("n_buckets"),
          round(col("ss").cast("double") / col("nn"), 6).as("mean_quality"),
          round(sqrt((col("bks") - lit(1L)).cast("double") / col("bks")
            * col("ssd")), 9).as("se_jack"))
    }),

    // Readability profile per source (q314): Flesch reading ease with a
    // deterministic vowel-run syllable proxy — the document-complexity
    // dimension the q31 quality heuristic (length/stopword/punct) doesn't
    // measure: two sources can share quality scores while one is simple
    // prose and the other jargon, and readability is the standard knob a
    // curriculum/mixture designer adds for it. Sentences = [.!?]+ runs,
    // syllables ≈ [aeiouy]+ runs (both floor-1 guarded, pure regexp
    // counts, SQL-replayable); per-doc ratios 9-dp pre-rounded then
    // decimal-summed per source. One corpus pass, row-local extraction.
    "q314_readability" -> ((s, dir) => {
      val dec9 = DecimalType(38, 9)
      val w = nTokens(col("text"))
      val sent = greatest(lit(1L), regexp_count(col("text"), lit("[.!?]+")).cast(LongType))
      val syl = greatest(lit(1L),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast(LongType))
      val per = docs(s, dir).select(col("source"),
          round(w.cast("double") / sent, 9).as("wps"),
          round(syl.cast("double") / w, 9).as("spw"))
        .select(col("source"), col("wps"), col("spw"),
          round(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"), 6)
            .as("flesch"))
      per.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("wps").cast(dec9)).cast("double") / count(lit(1)), 6)
            .as("mean_wps"),
          round(sum(col("spw").cast(dec9)).cast("double") / count(lit(1)), 6)
            .as("mean_spw"),
          round(sum(col("flesch").cast(dec9)).cast("double") / count(lit(1)), 6)
            .as("mean_flesch"))
        .orderBy(col("source"))
    }),

    // Cumulative gains curve (q327): rank documents by the en-marker
    // density and read, decile by decile, what fraction of all true-English
    // docs the top k/10 of the ranking has captured — the "how deep must
    // review go" curve behind every classifier-thresholding decision, and
    // the ranking-quality view that q298's calibration deciles (binned by
    // SCORE, not rank) don't give; lift = gain/share is the per-decile
    // advantage over random. Deciles come from GlobalOrder's distributed
    // exact ntile (SQL-identical bucket membership, no single-partition
    // sort); cumulative sums ride a bounded 10² inequality join.
    "q327_gains_curve" -> ((s, dir) => {
      val sEn = langScore(col("text"), enPat)
      val nTok = nTokens(col("text"))
      val base = docs(s, dir).select(col("doc_id"),
        round(least(lit(1.0), sEn.cast("double") / nTok.cast("double")), 9).as("p"),
        when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("y"))
      val tiled = graft.functions.GlobalOrder
        .withNtile(base, 10, "decile", col("p").desc, col("doc_id"))
      val per = tiled.groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        .localCheckpoint()
      val tot = per.agg(sum(col("n")).as("nn"), sum(col("pos")).as("npos"))
      val cum = per.select(col("decile").as("dd"))
        .join(per, col("decile") <= col("dd"))
        .groupBy(col("dd"))
        .agg(sum(col("n")).as("cum_n"), sum(col("pos")).as("cum_pos"))
      cum.crossJoin(broadcast(tot))
        .select(col("dd").as("decile"), col("cum_n"), col("cum_pos"),
          round(col("cum_n").cast("double") / col("nn"), 6).as("share"),
          round(col("cum_pos").cast("double") / col("npos"), 6).as("gain"))
        .select(col("decile"), col("cum_n"), col("cum_pos"), col("share"),
          col("gain"), round(col("gain") / col("share"), 6).as("lift"))
        .orderBy(col("decile"))
    }),

    // Split-half reliability of the quality score (q341): score each
    // document's FIRST half and SECOND half independently, correlate, and
    // Spearman-Brown-correct to full length — the psychometric answer to
    // "is q31's quality a stable property of the document or an artifact
    // of whichever span you looked at?" (reliability < ~0.5 means the
    // filter is effectively coin-flipping near its threshold; run BEFORE
    // trusting any quality cutoff). Half scores land on the 1e-6 grid, so
    // the Pearson runs on exact integer moments (q331 machinery) and
    // floats appear only in the final two expressions.
    "q341_split_half" -> ((s, dir) => {
      def qOf(cExpr: String): String =
        s"""round(0.5 * least(1.0, cast(length($cExpr) as double) / 500.0)
           | + 0.3 * (cast(regexp_count(lower($cExpr), '\\\\b(the|a|of|and|in|to|is)\\\\b') as double)
           |          / size(split(trim($cExpr), ' ')))
           | + 0.2 * (1.0 - cast(regexp_count($cExpr, '[.,;:!?]') as double)
           |          / length($cExpr)), 6)""".stripMargin.replace("\n", " ")
      val halves = docs(s, dir)
        .filter(length(col("text")) >= 10)
        .select(
          expr(qOf("substring(text, 1, length(text) div 2)")).as("q1"),
          expr(qOf("substring(text, length(text) div 2 + 1)")).as("q2"))
        .select(round(col("q1") * 1e6, 0).cast("long").as("x"),
          round(col("q2") * 1e6, 0).cast("long").as("y"))
      halves.agg(count(lit(1)).as("n"),
          sum(expr("cast(x as decimal(38,0))")).as("sx"),
          sum(expr("cast(y as decimal(38,0))")).as("sy"),
          sum(expr("cast(x as decimal(19,0)) * cast(x as decimal(19,0))")).as("sxx"),
          sum(expr("cast(y as decimal(19,0)) * cast(y as decimal(19,0))")).as("syy"),
          sum(expr("cast(x as decimal(19,0)) * cast(y as decimal(19,0))")).as("sxy"))
        .select(col("n").as("n_docs"),
          round(expr("cast(cast(n as decimal(38,0)) * sxy - sx * sy as double)")
            / sqrt(expr("cast(cast(n as decimal(38,0)) * sxx - sx * sx as double)")
              * expr("cast(cast(n as decimal(38,0)) * syy - sy * sy as double)")), 9)
            .as("r_half"))
        .select(col("n_docs"), col("r_half"),
          round(lit(2.0) * col("r_half") / (lit(1.0) + col("r_half")), 6)
            .as("spearman_brown"))
    }),

    // Quality-threshold tuning sweep (q348): documents retained, keep
    // rate, and mean kept quality at every candidate cutoff τ — the curve
    // read BEFORE committing the quality filter's threshold (q285 is the
    // same decision for dedup's Jaccard τ; the fixed-cutoff consumers
    // q61/q246 inherit whatever this sweep justifies). One corpus pass
    // fanned per-τ (|taus| narrow rows per doc); kept-quality means are
    // integer-space half-up, absent-τ rows surface as zero-kept.
    "q348_quality_threshold_curve" -> ((s, dir) => {
      import s.implicits._
      val taus = Seq(0.5, 0.6, 0.7, 0.75, 0.8, 0.9).toDF("tau")
      val q = docs(s, dir).select(qualityScore.as("q")).localCheckpoint()
      val tot = q.agg(count(lit(1)).as("nn"))
      q.crossJoin(broadcast(taus)).filter(col("q") >= col("tau"))
        .groupBy(col("tau"))
        .agg(count(lit(1)).as("n_kept"),
          expr("(2 * cast(sum(cast(q as decimal(38,6))) * 1000000000 as decimal(38,0))" +
            " + count(1)) div (2 * count(1))").as("m9"))
        .join(broadcast(taus), Seq("tau"), "right")
        .crossJoin(broadcast(tot))
        .select(col("tau"), coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("nn"),
          round(coalesce(col("n_kept"), lit(0L)).cast("double") / col("nn"), 6)
            .as("keep_rate"),
          (col("m9").cast("double") / 1e9).as("mean_kept_quality"))
        .orderBy(col("tau"))
    }),

    // Discretized two-sample KS drift (q322): the max ECDF gap D between
    // the even- and odd-doc_id ingest halves' quality distributions on a
    // fixed 1000-bucket grid — the supremum-gap drift statistic beside
    // q173's PSI (PSI sums small log-ratio drifts; KS catches one sharp
    // localized shift PSI averages away). The grid makes it 100 TB-clean:
    // corpus → two 1000-row histograms in one grouped pass; the
    // cumulative ECDFs come from a bounded bucket≤bucket inequality join
    // (1000² rows, constant at any corpus size — no corpus window). D's
    // argmax bucket is reported so the drift is locatable.
    "q322_ks_drift" -> ((s, dir) => {
      val b = docs(s, dir).select(
        (col("doc_id") % 2).as("half"),
        least(lit(999L), floor(qualityScore * 1000).cast(LongType)).as("bucket"))
        .groupBy(col("half"), col("bucket")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val n = b.groupBy(col("half")).agg(sum(col("c")).as("n"))
      val grid = b.select(col("bucket")).distinct()
      val cum = grid.select(col("bucket").as("bk"))
        .join(b, col("bucket") <= col("bk"))
        .groupBy(col("bk"), col("half")).agg(sum(col("c")).as("cum"))
      val a0 = cum.filter(col("half") === 0).select(col("bk"), col("cum").as("c0"))
      val a1 = cum.filter(col("half") === 1).select(col("bk"), col("cum").as("c1"))
      val n0 = n.filter(col("half") === 0).select(col("n").as("n0"))
      val n1 = n.filter(col("half") === 1).select(col("n").as("n1"))
      a0.join(a1, Seq("bk"), "full")
        .crossJoin(broadcast(n0)).crossJoin(broadcast(n1))
        .select(col("bk"), col("n0"), col("n1"),
          round(abs(coalesce(col("c0"), lit(0L)).cast("double") / col("n0")
            - coalesce(col("c1"), lit(0L)).cast("double") / col("n1")), 9).as("gap"))
        .orderBy(col("gap").desc, col("bk").desc)
        .limit(1)
        .select(col("n0"), col("n1"), col("gap").as("ks_d"), col("bk").as("at_bucket"))
    }),

    // McNemar paired-rater test (q304): q274's kappa says how much the two
    // lang-id raters AGREE; McNemar says which one is BETTER, and whether
    // the difference is significant — it conditions on the discordant docs
    // only (heur-right/NB-wrong vs heur-wrong/NB-right), the paired design
    // that makes a rater comparison valid on the same eval slice. χ² =
    // (b−c)²/(b+c) over pure integer cells from one join + one grouped
    // pass; the concordant cells ride along for the full 2×2 readout.
    "q304_mcnemar" -> ((s, dir) => {
      val heur = docs(s, dir).select(col("doc_id"), col("lang"), predictedLang.as("a"))
      val nb = nbLangIdScored(sharedNbScored(s, dir))
        .select(col("doc_id"), col("pred_lang").as("bp"))
      heur.join(nb, Seq("doc_id"))
        .select(when(col("a") === col("lang"), lit(1L)).otherwise(lit(0L)).as("ha"),
          when(col("bp") === col("lang"), lit(1L)).otherwise(lit(0L)).as("nb"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ha") === 1 && col("nb") === 1, lit(1L)).otherwise(lit(0L)))
            .as("both_right"),
          sum(when(col("ha") === 0 && col("nb") === 0, lit(1L)).otherwise(lit(0L)))
            .as("both_wrong"),
          sum(when(col("ha") === 1 && col("nb") === 0, lit(1L)).otherwise(lit(0L)))
            .as("heur_only"),
          sum(when(col("ha") === 0 && col("nb") === 1, lit(1L)).otherwise(lit(0L)))
            .as("nb_only"))
        .select(col("n_docs"), col("both_right"), col("both_wrong"),
          col("heur_only"), col("nb_only"),
          when(col("heur_only") + col("nb_only") > 0,
            round((col("heur_only") - col("nb_only")).cast("double")
              * (col("heur_only") - col("nb_only"))
              / (col("heur_only") + col("nb_only")), 6))
            .otherwise(lit(0.0)).as("chi2"))
    }),

    // Fleiss' kappa for THREE raters (q306): the declared label, the q30
    // heuristic and the q102 NB treated as three annotators of the same
    // docs — the multi-rater generalization Cohen's kappa (q274, strictly
    // two raters) can't express, and the form real annotation QC uses once
    // a third labeler (or the "gold" label itself) enters the pool. The
    // per-doc agreement P_i = (Σ_j n_ij² − r)/(r(r−1)) is an exact multiple
    // of 1/6 at r=3, so Σ_i numerators stay pure integers until ONE final
    // division; chance agreement Σ p_j² squares the category totals in
    // decimal space (they're corpus-scaled). Two bounded grouped passes
    // over (doc, category) vote rows.
    "q306_fleiss_kappa" -> ((s, dir) => {
      val dec0 = DecimalType(38, 0)
      val heur = docs(s, dir).select(col("doc_id"), col("lang"), predictedLang.as("heur"))
      val nb = nbLangIdScored(sharedNbScored(s, dir))
        .select(col("doc_id"), col("pred_lang").as("nbp"))
      val nij = heur.join(nb, Seq("doc_id"))
        .select(col("doc_id"), explode(array(col("lang"), col("heur"), col("nbp"))).as("cat"))
        .groupBy(col("doc_id"), col("cat")).agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val sp = nij.groupBy(col("doc_id"))
        .agg((sum(col("c") * col("c")) - lit(3L)).as("num"))
        .agg(count(lit(1)).as("n"), sum(col("num")).as("spn"))
      val ssq = nij.groupBy(col("cat")).agg(sum(col("c")).as("cj"))
        .agg(sum(col("cj").cast(dec0) * col("cj").cast(dec0)).as("ssq"))
      sp.crossJoin(broadcast(ssq))
        .select(col("n").as("n_docs"),
          round(col("spn").cast("double") / (lit(6.0) * col("n")), 9).as("p_bar"),
          round(col("ssq").cast("double") / (lit(9.0) * col("n") * col("n")), 9)
            .as("p_e"))
        .select(col("n_docs"), col("p_bar"), col("p_e"),
          round((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")), 6).as("kappa"))
    }),

    // Empirical-Bayes shrinkage of per-source high-quality rates (q303):
    // the small-sample fix for every per-source rate this surface reports —
    // a source with 8 docs and 7 "high quality" should NOT outrank one
    // with 5,000 docs at 80%. Method-of-moments beta prior fitted from the
    // per-source rates themselves (prior strength α+β = m(1−m)/v − 1,
    // clamped to 1 when the rates are under-dispersed), then each source's
    // rate shrunk to (k + m·s)/(n + s) — the James-Stein-flavored
    // estimator rate dashboards actually ship. ONE corpus pass produces
    // the per-source (n, k); all prior algebra runs on the bounded
    // source frame (9/12-dp pre-rounded decimal sums).
    "q303_eb_shrinkage" -> ((s, dir) => {
      val dec9 = DecimalType(38, 9); val dec12 = DecimalType(38, 12)
      val per = docs(s, dir)
        .select(col("source"), when(qualityScore >= 0.75, lit(1L)).otherwise(lit(0L)).as("hi"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("hi")).as("k"))
        .select(col("source"), col("n"), col("k"),
          round(col("k").cast("double") / col("n"), 9).as("p"))
        .localCheckpoint()
      val s1 = per.agg(count(lit(1)).as("ns"),
        round(sum(col("p").cast(dec9)).cast("double") / count(lit(1)), 9).as("m"))
      val s2 = per.crossJoin(broadcast(s1))
        .agg(round(sum(round((col("p") - col("m")) * (col("p") - col("m")), 12)
          .cast(dec12)).cast("double") / count(lit(1)), 12).as("v"))
      val pri = s1.crossJoin(s2)
        .select(col("m"),
          when(col("v") > 0 &&
            (col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0)) > 0,
            round(col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0), 9))
            .otherwise(lit(1.0)).as("strength"))
      per.crossJoin(broadcast(pri))
        .select(col("source"), col("n").as("n_docs"), col("k").as("n_high"),
          round(col("p"), 6).as("raw_rate"),
          round((col("k") + col("m") * col("strength"))
            / (col("n") + col("strength")), 6).as("shrunk_rate"),
          col("m").as("prior_mean"), col("strength").as("prior_strength"))
        .orderBy(col("source"))
    }),

    // Leave-one-source-out ablation (q283): for each source, the corpus
    // mean quality WITHOUT it vs with it — the first-order data-ablation
    // readout a mixture planner runs before a real training ablation
    // (delta > 0: removing the source would RAISE corpus quality). One
    // grouped pass + a broadcast 1-row total; both means computed with
    // the q93 integer-space half-up division so no float boundary exists.
    "q283_source_ablation" -> ((s, dir) => {
      val per = docs(s, dir).select(col("source"), qualityScore.as("q"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_s"), sum(col("q").cast(DecimalType(18, 6))).as("sum_s"))
      val tot = per.agg(sum(col("n_s")).as("n_all"), sum(col("sum_s")).as("sum_all"))
      per.crossJoin(broadcast(tot)).selectExpr(
          "source", "n_s", "n_all",
          "cast((2 * cast(sum_all * 1000000 as decimal(38,0)) + n_all)" +
            " div (2 * n_all) as double) / 1e6 as mean_all",
          "cast((2 * cast((sum_all - sum_s) * 1000000 as decimal(38,0)) + (n_all - n_s))" +
            " div (2 * nullif(n_all - n_s, 0)) as double) / 1e6 as mean_without")
        .withColumn("delta", round(col("mean_without") - col("mean_all"), 6))
        .orderBy(col("delta").desc, col("source"))
    }),

    // Bradley-Terry source strength (q279): pairwise quality "matches"
    // between sources (the i-th doc of source A vs the i-th of source B
    // within a language — a deterministic, bounded pairing; ties 0.5) fed
    // through TWO fixed Bradley-Terry fixed-point iterations from s=1 —
    // the preference-strength model RLHF reward-data QC runs over graded
    // pairs, here grading the sources themselves. Fixed iteration count
    // (not convergence) keeps both engines on the same computation; the
    // iteration state is |sources| rows, the match frame |sources|²
    // after one grouped pass, and per-opponent terms are 9-dp-rounded and
    // decimal-summed so the update is order-independent.
    "q279_bradley_terry" -> ((s, dir) => {
      val byRank = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
      val sc = docs(s, dir)
        .select(col("lang"), col("source"), col("doc_id"), qualityScore.as("q"))
        .withColumn("r", row_number().over(byRank))
      val a = sc.select(col("lang"), col("r"), col("source").as("sa"), col("q").as("qa"))
      val b = sc.select(col("lang"), col("r"), col("source").as("sb"), col("q").as("qb"))
      val comp = a.join(b, Seq("lang", "r")).filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("qa") > col("qb"), lit(1.0))
            .when(col("qa") === col("qb"), lit(0.5)).otherwise(lit(0.0))
            .cast(DecimalType(18, 1))).as("wa"))
      val m = comp.select(col("sa").as("src"), col("sb").as("opp"), col("n"),
          col("wa").cast("double").as("w"))
        .unionByName(comp.select(col("sb").as("src"), col("sa").as("opp"), col("n"),
          (col("n").cast(DecimalType(18, 1)) - col("wa")).cast("double").as("w")))
        .localCheckpoint()
      val wt = m.groupBy(col("src"))
        .agg(sum(col("w").cast(DecimalType(18, 1))).cast("double").as("wins"),
          sum(col("n")).as("n_comparisons"))
      def iterate(sPrev: DataFrame): DataFrame =
        m.join(sPrev, "src")
          .join(sPrev.select(col("src").as("opp"), col("s").as("so")), "opp")
          .groupBy(col("src"))
          .agg(round(sum(round(col("n").cast("double") / (col("s") + col("so")), 9)
            .cast(DecimalType(38, 9))).cast("double"), 6).as("denom"))
          .join(wt, "src")
          .select(col("src"), round(col("wins") / col("denom"), 6).as("s"))
      val s0 = wt.select(col("src"), lit(1.0).as("s"))
      val s2 = iterate(iterate(s0))
      wt.join(s2, "src")
        .select(col("src").as("source"), col("n_comparisons"), col("wins"),
          col("s").as("bt_strength"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("bt_strength").desc, col("source"))).cast(LongType))
        .orderBy(col("rnk"))
    }),

    // Cohen's kappa for the two lang-id raters (q274): chance-corrected
    // agreement between the q30 heuristic and the q102 trained NB — the
    // scalar q243's confusion matrix doesn't give (raw agreement flatters
    // raters that both over-predict the majority language; kappa subtracts
    // the marginal-product chance floor). Everything derives from the
    // bounded |langs|² contingency frame, localCheckpointed once for its
    // four consumers; chance terms decimal-summed per the q206 convention.
    "q274_rater_kappa" -> ((s, dir) => {
      val dec = DecimalType(38, 12)
      val heur = docs(s, dir).select(col("doc_id"), predictedLang.as("a"))
      val nb = nbLangIdScored(sharedNbScored(s, dir))
        .select(col("doc_id"), col("pred_lang").as("b"))
      val ct = heur.join(nb, Seq("doc_id"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val nn = ct.agg(sum(col("n")).as("nn"))
      val dg = ct.filter(col("a") === col("b"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("nd"))
      val ra = ct.groupBy(col("a").as("l")).agg(sum(col("n")).as("na"))
      val cb = ct.groupBy(col("b").as("l")).agg(sum(col("n")).as("nb"))
      val pe = ra.join(cb, "l").crossJoin(broadcast(nn))
        .agg(round(sum(round(
            (col("na").cast("double") / col("nn")) * (col("nb").cast("double") / col("nn")),
            12).cast(dec)).cast("double"), 6).as("pe"))
      dg.crossJoin(broadcast(nn)).crossJoin(broadcast(pe))
        .select(col("nn").as("n_docs"),
          round(col("nd").cast("double") / col("nn"), 6).as("po"), col("pe"))
        .select(col("n_docs"), col("po"), col("pe"),
          round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6).as("kappa"))
    }),

    // Tokenizer fertility by language (q235): BPE-ish tokens per whitespace
    // word and bytes per BPE token, per language — the per-language COST
    // model of a tokenizer (high fertility = more compute and context
    // budget per sentence; the metric multilingual-tokenizer papers report
    // per language, and the number that turns a raw per-lang token budget
    // into an actual document quota). Exact integer sums only; one grouped
    // pass.
    "q235_tokenizer_fertility" -> ((s, dir) =>
      docs(s, dir)
        .select(col("lang"), nTokens(col("text")).as("nw"),
          nBpeTokens(col("text")).as("nb"),
          octet_length(col("text")).cast(LongType).as("bytes"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("ws_tokens"), sum(col("nb")).as("bpe_tokens"),
          sum(col("bytes")).as("bytes"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
          col("bytes"),
          round(col("bpe_tokens").cast("double") / col("ws_tokens"), 6).as("fertility"),
          round(col("bytes").cast("double") / col("bpe_tokens"), 6).as("bytes_per_token"))
        .orderBy(col("lang"))),

    // Per-source batch drift (q236): for every (source, ingest batch), the
    // Jensen-Shannon divergence between the batch's token distribution and
    // the source's OVERALL distribution, on the same bounded top-200 global
    // support as q221. q221 compares sources to each other; this watches
    // each source against its own history — the within-source drift signal
    // that catches a crawl whose content pivots (site redesign, spam
    // takeover, language shift) while cross-source comparisons still look
    // normal. Batches here are the SALTED-HASH slices (md5(doc_id||':batch')
    // % 5) — the fixture's doc_id%10 residues are perfectly correlated with
    // source (each source owns one residue), which would make every batch
    // identical to its source and the drift identically zero; the hash
    // slice cuts across sources, exactly like a real ingest day does. Same
    // determinism conventions as q221 (densified grid, two-sided JS, 12 dp
    // decimal terms). Output is |sources|×|batches| rows.
    "q236_source_batch_drift" -> ((s, dir) => {
      val batchCol = expr(
        "cast(conv(substring(md5(concat(cast(doc_id as string), ':batch')), 1, 4), 16, 10) as bigint) % 5")
      val toks = docs(s, dir)
        .select(col("source"), batchCol.as("batch"),
          explode(split(trim(col("text")), " ")).as("tok"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("gc"))
        .orderBy(col("gc").desc, col("tok")).limit(200).select(col("tok"))
      val capped = toks.join(broadcast(top), Seq("tok"))
      val sb = capped.groupBy(col("source"), col("batch"), col("tok"))
        .agg(count(lit(1)).as("cb"))
      val so = capped.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("co"))
      val grid = docs(s, dir).select(col("source"), batchCol.as("batch"))
        .distinct().crossJoin(broadcast(top))
        .join(sb, Seq("source", "batch", "tok"), "left")
        .join(so, Seq("source", "tok"), "left")
        .select(col("source"), col("batch"), col("tok"),
          coalesce(col("cb"), lit(0L)).as("cb"), coalesce(col("co"), lit(0L)).as("co"))
      val nb = grid.groupBy(col("source"), col("batch")).agg(sum(col("cb")).as("nb"))
      val no = grid.groupBy(col("source"), col("batch")).agg(sum(col("co")).as("no"))
      val p = grid.join(nb, Seq("source", "batch")).join(no, Seq("source", "batch"))
        .select(col("source"), col("batch"),
          (col("cb").cast("double") / col("nb")).as("p"),
          (col("co").cast("double") / col("no")).as("q"))
      val termP = when(col("p") > 0,
        round(col("p") * log10(lit(2.0) * col("p") / (col("p") + col("q")))
          / log10(lit(2.0)), 12)).otherwise(lit(0.0))
      val termQ = when(col("q") > 0,
        round(col("q") * log10(lit(2.0) * col("q") / (col("p") + col("q")))
          / log10(lit(2.0)), 12)).otherwise(lit(0.0))
      p.groupBy(col("source"), col("batch"))
        .agg(round((sum(termP.cast(DecimalType(38, 12)))
          + sum(termQ.cast(DecimalType(38, 12)))).cast("double") * 0.5, 6)
          .as("js_bits"))
        .orderBy(col("source"), col("batch"))
    }),

    // Hill tail-index estimate of document lengths per source (q231): the
    // heavy-tail diagnostic behind capacity planning — packing (q65/q210),
    // per-task memory sizing, and straggler risk all hinge on whether a
    // source's length distribution has a finite-variance tail. Hill (1975):
    // over the k largest lengths, alpha = k / Σ ln(x_i / x_threshold) with
    // x_threshold the (k+1)-th largest; alpha <= 2 means infinite variance
    // (plan for stragglers), large alpha means a light tail. Threshold
    // ties are broken by doc_id; logs rounded at 12 dp and
    // decimal-summed (the q206 convention). The per-source top-(k+1) comes
    // from a source-partitioned rank window — partition-parallel, and
    // WindowGroupLimit prunes below the sort at scale. k = 15 here (the
    // fixture holds ~25 docs/source); a production corpus uses k ~ √n_s.
    "q231_hill_tail_index" -> ((s, dir) => {
      val k = 15
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("doc_id"))
      val ranked = docs(s, dir)
        .select(col("source"), col("doc_id"), nTokens(col("text")).as("n"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k + 1)
      val thr = ranked.filter(col("rn") === k + 1)
        .select(col("source"), col("n").as("x_thr"))
      ranked.filter(col("rn") <= k)
        .join(thr, Seq("source"))
        .groupBy(col("source"), col("x_thr"))
        .agg(count(lit(1)).as("k_used"),
          sum(round(log(col("n").cast("double") / col("x_thr")), 12)
            .cast(DecimalType(38, 12))).cast("double").as("slog"))
        .select(col("source"), col("k_used"), col("x_thr"),
          when(col("slog") <= 0, lit(null).cast("double"))
            .otherwise(round(col("k_used").cast("double") / col("slog"), 6))
            .as("alpha_hill"))
        .orderBy(col("source"))
    }),

    // Source-pair Jensen-Shannon divergence (q221): the distribution-level
    // source-similarity matrix — each source's unigram distribution over
    // the corpus's top-200 tokens (bounded, deterministic support: global
    // count desc, token asc), pairwise JS divergence in bits. q183 counts
    // shared near-dup DOCUMENTS across sources; this measures how similar
    // two sources' LANGUAGE is even when no document is shared — the
    // signal a mixture designer reads to decide whether two crawls are
    // redundant (JS ≈ 0) or complementary, and symmetric/bounded ([0,1]
    // in bits) unlike raw KL. Computed in the direct two-sided form
    // JS = ½Σp·log2(2p/(p+q)) + ½Σq·log2(2q/(p+q)) over a DENSIFIED
    // (source × token) grid, so p>0,q=0 tokens contribute their full mass.
    // Determinism: the q206 convention (log10-ratio, 12 dp terms, decimal
    // sums). Scale: support is capped at 200 tokens (TakeOrdered — no
    // global sort), the grid is |sources|·200 rows, pairs |sources|²/2·200.
    "q221_source_divergence" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("source"), explode(split(trim(col("text")), " ")).as("tok"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("gc"))
        .orderBy(col("gc").desc, col("tok")).limit(200).select(col("tok"))
      val cnt = toks.join(broadcast(top), Seq("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      val grid = docs(s, dir).select(col("source")).distinct().crossJoin(broadcast(top))
        .join(cnt, Seq("source", "tok"), "left")
        .select(col("source"), col("tok"), coalesce(col("c"), lit(0L)).as("c"))
      val tot = grid.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val p = grid.join(tot, Seq("source"))
        .select(col("source"), col("tok"),
          (col("c").cast("double") / col("n")).as("p"))
      val j = p.select(col("source").as("src_a"), col("tok"), col("p").as("pa"))
        .join(p.select(col("source").as("src_b"), col("tok"), col("p").as("pb")),
          Seq("tok"))
        .filter(col("src_a") < col("src_b"))
      val termA = when(col("pa") > 0,
        round(col("pa") * log10(lit(2.0) * col("pa") / (col("pa") + col("pb")))
          / log10(lit(2.0)), 12)).otherwise(lit(0.0))
      val termB = when(col("pb") > 0,
        round(col("pb") * log10(lit(2.0) * col("pb") / (col("pa") + col("pb")))
          / log10(lit(2.0)), 12)).otherwise(lit(0.0))
      j.groupBy(col("src_a"), col("src_b"))
        .agg(round((sum(termA.cast(DecimalType(38, 12)))
          + sum(termB.cast(DecimalType(38, 12)))).cast("double") * 0.5, 6)
          .as("js_bits"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Per-document unigram Shannon entropy — the information-density quality
    // signal (a low-entropy document is template/boilerplate even when its
    // token COUNT looks healthy; Gopher-style repetition filters catch exact
    // repeats, entropy catches skewed-but-varied token distributions).
    // H = log2(N) - (Σ c·log2 c)/N over per-doc token counts — computed in
    // that single-aggregate form so the plan is two partial-aggregating
    // shuffles (doc×token count, then per-doc fold) over narrow rows; the
    // type-token ratio rides along for free. Both shuffles key on doc_id
    // (token-skew-free: the inner key is (doc_id, token), never the global
    // token), so the layout holds at corpus scale.
    "q104_token_entropy" -> ((s, dir) =>
      tokenEntropyFrom(docs(s, dir)).orderBy(col("doc_id"))),

    // Per-document surface metrics.
    "q28_text_metrics" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("len_chars"),
        nTokens(col("text")).as("n_tokens"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double") /
          nTokens(col("text")), 6).as("avg_token_len"))
        .orderBy(col("doc_id"))),

    // Corpus rollup by language and source. avg_chars is rounded to 6dp on
    // both sides per the determinism contract (README): an unrounded double
    // division is not guaranteed bit-identical across engines.
    "q29_text_rollup" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"))
        .orderBy(col("lang"), col("source"))),

    // Language ID per document (scores + argmax).
    "q30_lang_id" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        langScore(col("text"), enPat).as("s_en"),
        langScore(col("text"), dePat).as("s_de"),
        langScore(col("text"), esPat).as("s_es"),
        predictedLang.as("predicted"))
        .orderBy(col("doc_id"))),

    // Quality score per document.
    "q31_quality_score" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        round(stopRatio, 6).as("stop_ratio"),
        round(punctRatio, 6).as("punct_ratio"),
        qualityScore.as("quality"))
        .orderBy(col("doc_id"))),

    // Token counting: whitespace vs BPE-ish pre-tokenization.
    "q32_token_count" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        nTokens(col("text")).as("n_ws_tokens"),
        nBpeTokens(col("text")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))),

    // Content fingerprint per document.
    "q33_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    // The flagship training-data curation pipeline, end to end in ONE query:
    // language-ID → quality filter → exact dedup (deterministic min-doc_id
    // survivor) → per-language curated-corpus stats. Composes the proven
    // q30/q31/q33/q34 pieces; every stage is per-row map work or a
    // partial-aggregating shuffle, so the whole pipeline is two shuffles
    // (fingerprint groupBy, language groupBy) at any corpus size.
    // Corpus datasheet: governance stats at three grouping levels —
    // (lang, source), (lang), and corpus-wide — in ONE Expand pass over one
    // scan (never three). avg_quality sums the (already 6-decimal) scores
    // in decimal space so the average is summation-order-independent; the
    // char/token sums are exact integers. The standard "datasheet for a
    // dataset" reporting rollup.
    "q93_corpus_datasheet" -> ((s, dir) => {
      val scored = docs(s, dir).select(
        col("lang"), col("source"), col("n_chars"),
        nTokens(col("text")).as("n_toks"), qualityScore.as("q"))
      scored
        .groupingSets(
          Seq(Seq(col("lang"), col("source")), Seq(col("lang")), Seq()),
          col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          // half-up 6-dp averages computed ENTIRELY in integer space:
          // (2·sum·10⁶ + n) div (2n), then /10⁶ — exact integral division
          // in both engines, where round(sum/count, 6) on a double struck
          // a half-way boundary differently per engine at sf0.001
          // (0.518637 vs ...636)
          (expr("(2 * cast(sum(cast(n_chars as decimal(38,0))) * 1000000 as decimal(38,0))" +
            " + count(1)) div (2 * count(1))").cast("double") / 1e6).as("avg_chars"),
          (expr("(2 * cast(sum(cast(q as decimal(18,6))) * 1000000 as decimal(38,0))" +
            " + count(1)) div (2 * count(1))").cast("double") / 1e6).as("avg_quality"))
        .select(
          coalesce(col("lang"), lit("(all)")).as("lang"),
          coalesce(col("source"), lit("(all)")).as("source"),
          col("n_docs"), col("n_tokens"), col("avg_chars"), col("avg_quality"))
        .orderBy(col("lang"), col("source"))
    }),

    "q61_corpus_curation" -> ((s, dir) => {
      val scored = docs(s, dir).select(
        col("doc_id"), col("lang"),
        fingerprint(col("text")).as("fp"),
        nTokens(col("text")).as("n_tokens"),
        predictedLang.as("predicted"),
        qualityScore.as("quality"))
      scored.filter(col("quality") >= 0.5)
        .groupBy(col("fp"))
        .agg(min(struct(col("doc_id"), col("lang"), col("predicted"),
          col("quality"), col("n_tokens"))).as("r"))
        .select(col("r.lang").as("lang"), col("r.predicted").as("predicted"),
          col("r.quality").as("quality"), col("r.n_tokens").as("n_tokens"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          graft.functions.ExactAgg.exactAvg(col("quality"), 6).as("avg_quality"))
        .orderBy(col("lang"), col("predicted"))
    })
  )

  /** The trained-NB CTEs through the ranked frame `rk` — shared verbatim by
    * the q102 argmax oracle and the q209 margin-calibration oracle. */
  private val nbRankedSql: String =
    """WITH toks AS (SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
      |tr AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
      |vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tr),
      |langs AS (SELECT lang, count(*) AS n_lang FROM tr GROUP BY 1),
      |ltot AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_all FROM langs),
      |cnt AS (SELECT lang, tok, count(*) AS c FROM tr GROUP BY 1, 2),
      |grid AS (SELECT l.lang, t.tok, coalesce(c.c, 0) AS c, l.n_lang
      |         FROM langs l CROSS JOIN (SELECT DISTINCT tok FROM tr) t
      |         LEFT JOIN cnt c ON c.lang = l.lang AND c.tok = t.tok),
      |lp AS (SELECT lang, tok,
      |         round(log10(CAST(c + 1 AS DOUBLE) / (n_lang + (SELECT v FROM vocab))), 9) AS logp
      |       FROM grid),
      |prior AS (SELECT lang, n_lang,
      |            round(log10(CAST(n_lang AS DOUBLE) / n_all), 9) AS logprior
      |          FROM langs CROSS JOIN ltot),
      |ev AS (SELECT doc_id, lang AS true_lang, tok FROM toks WHERE doc_id % 2 = 1),
      |sc AS (SELECT ev.doc_id, ev.true_lang, p.lang AS cand,
      |         CAST(round(sum(CAST(coalesce(lp.logp,
      |              round(log10(1.0 / (p.n_lang + (SELECT v FROM vocab))), 9)) AS DECIMAL(18,9))), 6) AS DOUBLE)
      |           + p.logprior AS score
      |       FROM ev CROSS JOIN prior p
      |       LEFT JOIN lp ON lp.lang = p.lang AND lp.tok = ev.tok
      |       GROUP BY ev.doc_id, ev.true_lang, p.lang, p.n_lang, p.logprior),
      |rk AS (SELECT doc_id, true_lang, cand AS pred_lang, round(score, 6) AS score,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn
      |       FROM sc)""".stripMargin

  /** The q31 quality score as a single inline SQL expression (for oracles
    * that embed it inside a larger expression). */
  private val qualityInlineSql: String =
    """round(0.5 * least(1.0, length(text) / 500.0) + 0.3 * (CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS DOUBLE) / len(string_split(trim(text), ' '))) + 0.2 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text)), 6)"""

  val oracles: Map[String, String] = Map(
    "q104_token_entropy" ->
      """WITH wc AS (SELECT doc_id, w, count(*) AS c FROM
        |  (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
        |       round(log2(CAST(sum(c) AS DOUBLE)) -
        |             sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE),
        |             6) AS entropy
        |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q236_source_batch_drift" ->
      """WITH toks AS (SELECT source,
        |                CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || ':batch'), 1, 4)) AS BIGINT) % 5 AS batch,
        |                unnest(string_split(trim(text), ' ')) AS tok FROM documents),
        |top AS (SELECT tok FROM
        |          (SELECT tok, count(*) AS gc FROM toks GROUP BY 1 ORDER BY gc DESC, tok LIMIT 200)),
        |cap AS (SELECT toks.* FROM toks JOIN top USING (tok)),
        |sb AS (SELECT source, batch, tok, count(*) AS cb FROM cap GROUP BY 1, 2, 3),
        |so AS (SELECT source, tok, count(*) AS co FROM cap GROUP BY 1, 2),
        |grid AS (SELECT g.source, g.batch, t.tok,
        |           coalesce(sb.cb, 0) AS cb, coalesce(so.co, 0) AS co
        |         FROM (SELECT DISTINCT source,
        |                 CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || ':batch'), 1, 4)) AS BIGINT) % 5 AS batch
        |               FROM documents) g
        |         CROSS JOIN top t
        |         LEFT JOIN sb ON sb.source = g.source AND sb.batch = g.batch AND sb.tok = t.tok
        |         LEFT JOIN so ON so.source = g.source AND so.tok = t.tok),
        |nb AS (SELECT source, batch, CAST(sum(cb) AS BIGINT) AS nb FROM grid GROUP BY 1, 2),
        |no AS (SELECT source, batch, CAST(sum(co) AS BIGINT) AS no FROM grid GROUP BY 1, 2),
        |p AS (SELECT grid.source, grid.batch,
        |        CAST(cb AS DOUBLE) / nb.nb AS p, CAST(co AS DOUBLE) / no.no AS q
        |      FROM grid JOIN nb ON nb.source = grid.source AND nb.batch = grid.batch
        |                JOIN no ON no.source = grid.source AND no.batch = grid.batch)
        |SELECT source, batch,
        |       round(CAST(sum(CAST(CASE WHEN p > 0
        |               THEN round(p * log10(2.0 * p / (p + q)) / log10(2.0), 12)
        |               ELSE 0.0 END AS DECIMAL(38,12)))
        |           + sum(CAST(CASE WHEN q > 0
        |               THEN round(q * log10(2.0 * q / (p + q)) / log10(2.0), 12)
        |               ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) * 0.5, 6) AS js_bits
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q235_tokenizer_fertility" ->
      """WITH t AS (SELECT lang,
        |             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS nw,
        |             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS nb,
        |             CAST(octet_length(encode(text)) AS BIGINT) AS bytes
        |           FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(nw) AS BIGINT) AS ws_tokens,
        |       CAST(sum(nb) AS BIGINT) AS bpe_tokens,
        |       CAST(sum(bytes) AS BIGINT) AS bytes,
        |       round(CAST(sum(nb) AS DOUBLE) / sum(nw), 6) AS fertility,
        |       round(CAST(sum(bytes) AS DOUBLE) / sum(nb), 6) AS bytes_per_token
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q231_hill_tail_index" ->
      """WITH t AS (SELECT source, doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n
        |           FROM documents),
        |r AS (SELECT source, n, row_number() OVER (PARTITION BY source ORDER BY n DESC, doc_id) AS rn FROM t),
        |thr AS (SELECT source, n AS x_thr FROM r WHERE rn = 16),
        |g AS (SELECT r.source, thr.x_thr, count(*) AS k_used,
        |        CAST(sum(CAST(round(ln(CAST(r.n AS DOUBLE) / thr.x_thr), 12) AS DECIMAL(38,12))) AS DOUBLE) AS slog
        |      FROM r JOIN thr ON thr.source = r.source WHERE rn <= 15 GROUP BY 1, 2)
        |SELECT source, k_used, x_thr,
        |       CASE WHEN slog <= 0 THEN NULL
        |            ELSE round(CAST(k_used AS DOUBLE) / slog, 6) END AS alpha_hill
        |FROM g ORDER BY source""".stripMargin,
    "q221_source_divergence" ->
      """WITH toks AS (SELECT source, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
        |top AS (SELECT tok FROM
        |          (SELECT tok, count(*) AS gc FROM toks GROUP BY 1 ORDER BY gc DESC, tok LIMIT 200)),
        |cnt AS (SELECT source, tok, count(*) AS c FROM toks JOIN top USING (tok) GROUP BY 1, 2),
        |grid AS (SELECT s.source, t.tok, coalesce(cnt.c, 0) AS c
        |         FROM (SELECT DISTINCT source FROM documents) s CROSS JOIN top t
        |         LEFT JOIN cnt ON cnt.source = s.source AND cnt.tok = t.tok),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM grid GROUP BY 1),
        |p AS (SELECT grid.source, tok, CAST(c AS DOUBLE) / n AS p
        |      FROM grid JOIN tot ON tot.source = grid.source),
        |j AS (SELECT a.source AS src_a, b.source AS src_b, a.tok, a.p AS pa, b.p AS pb
        |      FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source)
        |SELECT src_a, src_b,
        |       round(CAST(sum(CAST(CASE WHEN pa > 0
        |               THEN round(pa * log10(2.0 * pa / (pa + pb)) / log10(2.0), 12)
        |               ELSE 0.0 END AS DECIMAL(38,12)))
        |           + sum(CAST(CASE WHEN pb > 0
        |               THEN round(pb * log10(2.0 * pb / (pa + pb)) / log10(2.0), 12)
        |               ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) * 0.5, 6) AS js_bits
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q102_nb_langid" ->
      (nbRankedSql +
        """
          |SELECT doc_id, true_lang, pred_lang, score,
          |       CAST(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END AS BIGINT) AS correct
          |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    "q283_source_ablation" ->
      """WITH sc AS (SELECT source,
        |  round(0.5 * least(1.0, length(text) / 500.0)
        |      + 0.3 * (CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS DOUBLE) /
        |               len(string_split(trim(text), ' ')))
        |      + 0.2 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |               length(text)), 6) AS q
        |  FROM documents),
        |per AS (SELECT source, count(*) AS n_s,
        |          sum(CAST(q AS DECIMAL(18,6))) AS sum_s
        |        FROM sc GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_all, sum(sum_s) AS sum_all FROM per),
        |j AS (SELECT source, n_s, n_all,
        |        CAST((2 * CAST(CAST(sum_all * 1000000 AS DECIMAL(38,0)) AS HUGEINT)
        |              + n_all) // (2 * n_all) AS DOUBLE) / 1e6 AS mean_all,
        |        CAST((2 * CAST(CAST((sum_all - sum_s) * 1000000 AS DECIMAL(38,0)) AS HUGEINT)
        |              + (n_all - n_s)) // (2 * nullif(n_all - n_s, 0)) AS DOUBLE) / 1e6 AS mean_without
        |      FROM per CROSS JOIN tot)
        |SELECT source, n_s, n_all, mean_all, mean_without,
        |       round(mean_without - mean_all, 6) AS delta
        |FROM j ORDER BY delta DESC, source""".stripMargin,
    "q279_bradley_terry" ->
      """WITH sc AS (SELECT lang, source, doc_id,
        |  round(0.5 * least(1.0, length(text) / 500.0)
        |      + 0.3 * (CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS DOUBLE) /
        |               len(string_split(trim(text), ' ')))
        |      + 0.2 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |               length(text)), 6) AS q
        |  FROM documents),
        |rk AS (SELECT lang, source, doc_id, q,
        |         row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS r
        |       FROM sc),
        |comp AS (SELECT a.source AS sa, b.source AS sb, count(*) AS n,
        |           CAST(sum(CASE WHEN a.q > b.q THEN 1.0
        |                         WHEN a.q = b.q THEN 0.5 ELSE 0.0 END) AS DECIMAL(18,1)) AS wa
        |         FROM rk a JOIN rk b ON a.lang = b.lang AND a.r = b.r AND a.source < b.source
        |         GROUP BY 1, 2),
        |m AS (SELECT sa AS src, sb AS opp, n, CAST(wa AS DOUBLE) AS w FROM comp
        |      UNION ALL
        |      SELECT sb, sa, n, CAST(CAST(n AS DECIMAL(18,1)) - wa AS DOUBLE) FROM comp),
        |wt AS (SELECT src, CAST(sum(CAST(w AS DECIMAL(18,1))) AS DOUBLE) AS wins,
        |         CAST(sum(n) AS BIGINT) AS n_comparisons
        |       FROM m GROUP BY 1),
        |s1 AS (SELECT m.src, round(wt.wins / round(CAST(sum(CAST(round(
        |           CAST(m.n AS DOUBLE) / (1.0 + 1.0), 9) AS DECIMAL(38,9))) AS DOUBLE), 6), 6) AS s
        |       FROM m JOIN wt ON wt.src = m.src GROUP BY m.src, wt.wins),
        |s2 AS (SELECT m.src, round(wt.wins / round(CAST(sum(CAST(round(
        |           CAST(m.n AS DOUBLE) / (sa.s + sb.s), 9) AS DECIMAL(38,9))) AS DOUBLE), 6), 6) AS s
        |       FROM m JOIN s1 sa ON sa.src = m.src JOIN s1 sb ON sb.src = m.opp
        |            JOIN wt ON wt.src = m.src
        |       GROUP BY m.src, wt.wins)
        |SELECT wt.src AS source, wt.n_comparisons, wt.wins, s2.s AS bt_strength,
        |       CAST(row_number() OVER (ORDER BY s2.s DESC, wt.src) AS BIGINT) AS rnk
        |FROM wt JOIN s2 USING (src) ORDER BY rnk""".stripMargin,
    "q274_rater_kappa" ->
      (nbRankedSql +
        """,
          |nb AS (SELECT doc_id, pred_lang AS b FROM rk WHERE rn = 1),
          |he AS (SELECT doc_id,
          |         CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b'))
          |               AND len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(el|la|los|que|es|una)\b'))
          |              THEN 'en'
          |              WHEN len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(el|la|los|que|es|una)\b'))
          |              THEN 'de' ELSE 'es' END AS a
          |       FROM documents),
          |ct AS (SELECT a, b, count(*) AS n FROM he JOIN nb USING (doc_id) GROUP BY 1, 2),
          |nn AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM ct),
          |dg AS (SELECT CAST(COALESCE(sum(CASE WHEN a = b THEN n END), 0) AS BIGINT) AS nd FROM ct),
          |ra AS (SELECT a AS l, CAST(sum(n) AS BIGINT) AS na FROM ct GROUP BY 1),
          |cb AS (SELECT b AS l, CAST(sum(n) AS BIGINT) AS nb FROM ct GROUP BY 1),
          |pe AS (SELECT round(CAST(sum(CAST(round(
          |           (CAST(na AS DOUBLE) / nn.nn) * (CAST(nb AS DOUBLE) / nn.nn),
          |           12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS pe
          |       FROM ra JOIN cb USING (l) CROSS JOIN nn),
          |po AS (SELECT round(CAST(nd AS DOUBLE) / nn.nn, 6) AS po FROM dg CROSS JOIN nn)
          |SELECT nn.nn AS n_docs, po.po, pe.pe,
          |       round((po.po - pe.pe) / (1.0 - pe.pe), 6) AS kappa
          |FROM nn CROSS JOIN po CROSS JOIN pe""".stripMargin),
    "q243_langid_agreement" ->
      (nbRankedSql +
        """,
          |nb AS (SELECT doc_id, pred_lang AS nb_pred FROM rk WHERE rn = 1),
          |he AS (SELECT doc_id, lang,
          |         CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b'))
          |               AND len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(el|la|los|que|es|una)\b'))
          |              THEN 'en'
          |              WHEN len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(el|la|los|que|es|una)\b'))
          |              THEN 'de' ELSE 'es' END AS heur_pred
          |       FROM documents)
          |SELECT heur_pred, nb_pred, count(*) AS n_docs,
          |       CAST(sum(CASE WHEN heur_pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_heur_correct,
          |       CAST(sum(CASE WHEN nb_pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_nb_correct,
          |       CAST(CASE WHEN heur_pred = nb_pred THEN 1 ELSE 0 END AS BIGINT) AS agree
          |FROM he JOIN nb USING (doc_id)
          |GROUP BY heur_pred, nb_pred ORDER BY heur_pred, nb_pred""".stripMargin),
    "q209_nb_calibration" ->
      (nbRankedSql +
        """,
          |top AS (SELECT doc_id, true_lang, pred_lang AS pred, score AS s1 FROM rk WHERE rn = 1),
          |snd AS (SELECT doc_id, score AS s2 FROM rk WHERE rn = 2),
          |mg AS (SELECT round(s1 - s2, 6) AS margin,
          |         CASE WHEN pred = true_lang THEN 1 ELSE 0 END AS correct
          |       FROM top JOIN snd USING (doc_id)),
          |b AS (SELECT CASE WHEN margin < 0.5 THEN 'm0_lt_0.5' WHEN margin < 1.0 THEN 'm1_lt_1'
          |               WHEN margin < 2.0 THEN 'm2_lt_2' WHEN margin < 4.0 THEN 'm3_lt_4'
          |               ELSE 'm4_ge_4' END AS bucket, correct FROM mg)
          |SELECT bucket, count(*) AS n_docs, CAST(sum(correct) AS BIGINT) AS n_correct,
          |       round(CAST(sum(correct) AS DOUBLE) / count(*), 6) AS accuracy
          |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
    "q28_text_metrics" ->
      """SELECT doc_id,
        |       length(text) AS len_chars,
        |       len(string_split(trim(text), ' ')) AS n_tokens,
        |       round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |             len(string_split(trim(text), ' ')), 6) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q29_text_rollup" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q298_calibration_brier" ->
      """WITH d AS (SELECT len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b')) AS s_en,
        |             len(string_split(trim(text), ' ')) AS n_tok,
        |             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |           FROM documents),
        |b AS (SELECT least(9, CAST(floor((10.0 * s_en) / n_tok) AS BIGINT)) AS bucket,
        |        round(least(1.0, CAST(s_en AS DOUBLE) / n_tok), 9) AS p, y
        |      FROM d)
        |SELECT bucket, count(*) AS n_docs, CAST(sum(y) AS BIGINT) AS n_pos,
        |       round(CAST(sum(CAST(p AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS mean_pred,
        |       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS obs_rate,
        |       round(CAST(sum(CAST(round((p - y) * (p - y), 9) AS DECIMAL(38,9))) AS DOUBLE)
        |             / count(*), 6) AS brier
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q300_jackknife_quality" ->
      """WITH b AS (SELECT doc_id % 10 AS bucket, count(*) AS n,
        |             sum(CAST(round(0.5 * least(1.0, length(text) / 500.0)
        |                 + 0.3 * (CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS DOUBLE) /
        |                          len(string_split(trim(text), ' ')))
        |                 + 0.2 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |                          length(text)), 6) AS DECIMAL(38,6))) AS sq
        |           FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, sum(sq) AS ss FROM b),
        |th AS (SELECT round(CAST(ss - sq AS DOUBLE) / (nn - n), 9) AS theta
        |       FROM b CROSS JOIN tot),
        |ts AS (SELECT count(*) AS bks,
        |         round(CAST(sum(CAST(theta AS DECIMAL(38,9))) AS DOUBLE) / count(*), 9) AS tbar
        |       FROM th),
        |dev AS (SELECT round(CAST(sum(CAST(round((theta - tbar) * (theta - tbar), 12)
        |                                  AS DECIMAL(38,12))) AS DOUBLE), 12) AS ssd
        |        FROM th CROSS JOIN ts)
        |SELECT nn AS n_docs, bks AS n_buckets,
        |       round(CAST(ss AS DOUBLE) / nn, 6) AS mean_quality,
        |       round(sqrt(CAST(bks - 1 AS DOUBLE) / bks * ssd), 9) AS se_jack
        |FROM tot CROSS JOIN ts CROSS JOIN dev""".stripMargin,
    "q306_fleiss_kappa" ->
      (nbRankedSql +
        """,
          |nb AS (SELECT doc_id, pred_lang AS nbp FROM rk WHERE rn = 1),
          |he AS (SELECT doc_id, lang,
          |         CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b'))
          |               AND len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(el|la|los|que|es|una)\b'))
          |              THEN 'en'
          |              WHEN len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(el|la|los|que|es|una)\b'))
          |              THEN 'de' ELSE 'es' END AS heur
          |       FROM documents),
          |votes AS (SELECT doc_id, unnest([lang, heur, nbp]) AS cat
          |          FROM he JOIN nb USING (doc_id)),
          |nij AS (SELECT doc_id, cat, count(*) AS c FROM votes GROUP BY 1, 2),
          |sp AS (SELECT count(*) AS n, CAST(sum(num) AS BIGINT) AS spn FROM
          |         (SELECT doc_id, CAST(sum(c * c) - 3 AS BIGINT) AS num
          |          FROM nij GROUP BY 1)),
          |ssq AS (SELECT sum(CAST(cj AS DECIMAL(38,0)) * CAST(cj AS DECIMAL(38,0))) AS ssq FROM
          |          (SELECT cat, CAST(sum(c) AS BIGINT) AS cj FROM nij GROUP BY 1)),
          |x AS (SELECT n AS n_docs,
          |        round(CAST(spn AS DOUBLE) / (6.0 * n), 9) AS p_bar,
          |        round(CAST(ssq AS DOUBLE) / (9.0 * n * n), 9) AS p_e
          |      FROM sp CROSS JOIN ssq)
          |SELECT n_docs, p_bar, p_e,
          |       round((p_bar - p_e) / (1.0 - p_e), 6) AS kappa
          |FROM x""".stripMargin),
    "q304_mcnemar" ->
      (nbRankedSql +
        """,
          |nb AS (SELECT doc_id, pred_lang AS bp FROM rk WHERE rn = 1),
          |he AS (SELECT doc_id, lang,
          |         CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b'))
          |               AND len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(el|la|los|que|es|una)\b'))
          |              THEN 'en'
          |              WHEN len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b'))
          |                   >= len(regexp_extract_all(lower(text), '\b(el|la|los|que|es|una)\b'))
          |              THEN 'de' ELSE 'es' END AS a
          |       FROM documents),
          |cells AS (SELECT CASE WHEN a = lang THEN 1 ELSE 0 END AS ha,
          |            CASE WHEN bp = lang THEN 1 ELSE 0 END AS nb
          |          FROM he JOIN nb USING (doc_id)),
          |m AS (SELECT count(*) AS n_docs,
          |        CAST(sum(CASE WHEN ha = 1 AND nb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
          |        CAST(sum(CASE WHEN ha = 0 AND nb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong,
          |        CAST(sum(CASE WHEN ha = 1 AND nb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS heur_only,
          |        CAST(sum(CASE WHEN ha = 0 AND nb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb_only
          |      FROM cells)
          |SELECT n_docs, both_right, both_wrong, heur_only, nb_only,
          |       CASE WHEN heur_only + nb_only > 0
          |            THEN round(CAST(heur_only - nb_only AS DOUBLE) * (heur_only - nb_only)
          |                       / (heur_only + nb_only), 6)
          |            ELSE 0.0 END AS chi2
          |FROM m""".stripMargin),
    "q348_quality_threshold_curve" ->
      s"""WITH q AS (SELECT $qualityInlineSql AS q FROM documents),
         |taus AS (SELECT unnest([0.5, 0.6, 0.7, 0.75, 0.8, 0.9]) AS tau),
         |tot AS (SELECT count(*) AS nn FROM q),
         |kept AS (SELECT tau, count(*) AS n_kept,
         |           (2 * CAST(CAST(sum(CAST(q AS DECIMAL(38,6))) * 1000000000 AS DECIMAL(38,0)) AS HUGEINT)
         |            + count(*)) // (2 * count(*)) AS m9
         |         FROM q CROSS JOIN taus WHERE q >= tau GROUP BY 1)
         |SELECT taus.tau, coalesce(kept.n_kept, 0) AS n_kept, tot.nn,
         |       round(CAST(coalesce(kept.n_kept, 0) AS DOUBLE) / tot.nn, 6) AS keep_rate,
         |       CAST(m9 AS DOUBLE) / 1e9 AS mean_kept_quality
         |FROM taus LEFT JOIN kept ON kept.tau = taus.tau CROSS JOIN tot
         |ORDER BY taus.tau""".stripMargin,
    "q341_split_half" -> {
      def qx(c: String): String =
        s"""round(0.5 * least(1.0, CAST(length($c) AS DOUBLE) / 500.0)
           | + 0.3 * (CAST(len(regexp_extract_all(lower($c), '\\b(the|a|of|and|in|to|is)\\b')) AS DOUBLE)
           |          / len(string_split(trim($c), ' ')))
           | + 0.2 * (1.0 - CAST(len(regexp_extract_all($c, '[.,;:!?]')) AS DOUBLE)
           |          / length($c)), 6)""".stripMargin.replace("\n", " ")
      s"""WITH h AS (SELECT substring(text, 1, length(text) // 2) AS t1,
         |             substring(text, length(text) // 2 + 1) AS t2
         |           FROM documents WHERE length(text) >= 10),
         |q AS (SELECT ${qx("t1")} AS q1, ${qx("t2")} AS q2 FROM h),
         |iv AS (SELECT CAST(round(q1 * 1e6, 0) AS BIGINT) AS x,
         |         CAST(round(q2 * 1e6, 0) AS BIGINT) AS y FROM q),
         |m AS (SELECT count(*) AS n,
         |        CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |        CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         |        CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
         |      FROM iv),
         |r AS (SELECT n AS n_docs,
         |        round(CAST(n * sxy - sx * sy AS DOUBLE)
         |              / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
         |                     * CAST(n * syy - sy * sy AS DOUBLE)), 9) AS r_half
         |      FROM m)
         |SELECT n_docs, r_half,
         |       round(2.0 * r_half / (1.0 + r_half), 6) AS spearman_brown
         |FROM r""".stripMargin
    },
    "q327_gains_curve" ->
      """WITH base AS (SELECT doc_id,
        |                round(least(1.0, CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b')) AS DOUBLE)
        |                                 / len(string_split(trim(text), ' '))), 9) AS p,
        |                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |              FROM documents),
        |tiled AS (SELECT y, ntile(10) OVER (ORDER BY p DESC, doc_id) AS decile FROM base),
        |per AS (SELECT decile, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
        |        FROM tiled GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS npos FROM per),
        |cum AS (SELECT d2.decile AS dd, CAST(sum(per.n) AS BIGINT) AS cum_n,
        |          CAST(sum(per.pos) AS BIGINT) AS cum_pos
        |        FROM (SELECT decile FROM per) d2 JOIN per ON per.decile <= d2.decile
        |        GROUP BY 1),
        |x AS (SELECT dd AS decile, cum_n, cum_pos,
        |        round(CAST(cum_n AS DOUBLE) / nn, 6) AS share,
        |        round(CAST(cum_pos AS DOUBLE) / npos, 6) AS gain
        |      FROM cum CROSS JOIN tot)
        |SELECT decile, cum_n, cum_pos, share, gain,
        |       round(gain / share, 6) AS lift
        |FROM x ORDER BY decile""".stripMargin,
    "q322_ks_drift" ->
      s"""WITH b AS (SELECT doc_id % 2 AS half,
         |             least(999, CAST(floor($qualityInlineSql * 1000) AS BIGINT)) AS bucket,
         |             count(*) AS c
         |           FROM documents GROUP BY 1, 2),
         |n AS (SELECT half, CAST(sum(c) AS BIGINT) AS n FROM b GROUP BY 1),
         |grid AS (SELECT DISTINCT bucket AS bk FROM b),
         |cum AS (SELECT grid.bk, b.half, CAST(sum(b.c) AS BIGINT) AS cum
         |        FROM grid JOIN b ON b.bucket <= grid.bk GROUP BY 1, 2),
         |a0 AS (SELECT bk, cum AS c0 FROM cum WHERE half = 0),
         |a1 AS (SELECT bk, cum AS c1 FROM cum WHERE half = 1),
         |n0 AS (SELECT n AS n0 FROM n WHERE half = 0),
         |n1 AS (SELECT n AS n1 FROM n WHERE half = 1),
         |g AS (SELECT coalesce(a0.bk, a1.bk) AS bk, n0, n1,
         |        round(abs(CAST(coalesce(c0, 0) AS DOUBLE) / n0
         |                  - CAST(coalesce(c1, 0) AS DOUBLE) / n1), 9) AS gap
         |      FROM a0 FULL JOIN a1 ON a0.bk = a1.bk CROSS JOIN n0 CROSS JOIN n1)
         |SELECT n0, n1, gap AS ks_d, bk AS at_bucket
         |FROM g ORDER BY gap DESC, bk DESC LIMIT 1""".stripMargin,
    "q314_readability" ->
      """WITH per AS (SELECT source,
        |               round(CAST(len(string_split(trim(text), ' ')) AS DOUBLE)
        |                     / greatest(1, len(regexp_extract_all(text, '[.!?]+'))), 9) AS wps,
        |               round(CAST(greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+'))) AS DOUBLE)
        |                     / len(string_split(trim(text), ' ')), 9) AS spw
        |             FROM documents),
        |f AS (SELECT source, wps, spw,
        |        round(206.835 - 1.015 * wps - 84.6 * spw, 6) AS flesch
        |      FROM per)
        |SELECT source, count(*) AS n_docs,
        |       round(CAST(sum(CAST(wps AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS mean_wps,
        |       round(CAST(sum(CAST(spw AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS mean_spw,
        |       round(CAST(sum(CAST(flesch AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS mean_flesch
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q303_eb_shrinkage" ->
      """WITH qd AS (SELECT source,
        |              CASE WHEN round(0.5 * least(1.0, length(text) / 500.0)
        |                   + 0.3 * (CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS DOUBLE) /
        |                            len(string_split(trim(text), ' ')))
        |                   + 0.2 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |                            length(text)), 6) >= 0.75
        |                   THEN 1 ELSE 0 END AS hi
        |            FROM documents),
        |per AS (SELECT source, count(*) AS n, CAST(sum(hi) AS BIGINT) AS k FROM qd GROUP BY 1),
        |pp AS (SELECT source, n, k, round(CAST(k AS DOUBLE) / n, 9) AS p FROM per),
        |s1 AS (SELECT count(*) AS ns,
        |         round(CAST(sum(CAST(p AS DECIMAL(38,9))) AS DOUBLE) / count(*), 9) AS m FROM pp),
        |s2 AS (SELECT round(CAST(sum(CAST(round((p - m) * (p - m), 12) AS DECIMAL(38,12))) AS DOUBLE)
        |               / count(*), 12) AS v
        |       FROM pp CROSS JOIN s1),
        |pri AS (SELECT m, CASE WHEN v > 0 AND (m * (1.0 - m) / v - 1.0) > 0
        |                       THEN round(m * (1.0 - m) / v - 1.0, 9) ELSE 1.0 END AS strength
        |        FROM s1 CROSS JOIN s2)
        |SELECT source, n AS n_docs, k AS n_high, round(p, 6) AS raw_rate,
        |       round((k + m * strength) / (n + strength), 6) AS shrunk_rate,
        |       m AS prior_mean, strength AS prior_strength
        |FROM pp CROSS JOIN pri ORDER BY source""".stripMargin,
    "q30_lang_id" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b')) AS s_en,
        |       len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS s_de,
        |       len(regexp_extract_all(lower(text), '\b(el|la|los|que|es|una)\b')) AS s_es,
        |       CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
        |            WHEN s_de >= s_es THEN 'de'
        |            ELSE 'es' END AS predicted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q31_quality_score" ->
      """SELECT doc_id,
        |       round(CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS DOUBLE) /
        |             len(string_split(trim(text), ' ')), 6) AS stop_ratio,
        |       round(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |             length(text), 6) AS punct_ratio,
        |       round(0.5 * least(1.0, length(text) / 500.0)
        |           + 0.3 * (CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS DOUBLE) /
        |                    len(string_split(trim(text), ' ')))
        |           + 0.2 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |                    length(text)), 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q32_token_count" ->
      """SELECT doc_id,
        |       len(string_split(trim(text), ' ')) AS n_ws_tokens,
        |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q33_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q93_corpus_datasheet" ->
      """WITH s AS (SELECT lang, source, n_chars,
        |  len(string_split(trim(text), ' ')) AS n_toks,
        |  round(0.5 * least(1.0, length(text) / 500.0)
        |      + 0.3 * (CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS DOUBLE) /
        |               len(string_split(trim(text), ' ')))
        |      + 0.2 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |               length(text)), 6) AS q
        |  FROM documents)
        |SELECT coalesce(lang, '(all)') AS lang, coalesce(source, '(all)') AS source,
        |       count(*) AS n_docs,
        |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |       CAST((2 * CAST(CAST(sum(n_chars) AS DECIMAL(38,0)) * 1000000 AS HUGEINT)
        |             + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS avg_chars,
        |       CAST((2 * CAST(CAST(sum(CAST(q AS DECIMAL(18,6))) * 1000000 AS DECIMAL(38,0)) AS HUGEINT)
        |             + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS avg_quality
        |FROM s GROUP BY GROUPING SETS ((lang, source), (lang), ())
        |ORDER BY lang, source""".stripMargin,
    "q61_corpus_curation" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |         len(string_split(trim(text), ' ')) AS n_tokens,
        |         CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b')) >= len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b'))
        |               AND len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to)\b')) >= len(regexp_extract_all(lower(text), '\b(el|la|los|que|es|una)\b'))
        |              THEN 'en'
        |              WHEN len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) >= len(regexp_extract_all(lower(text), '\b(el|la|los|que|es|una)\b'))
        |              THEN 'de' ELSE 'es' END AS predicted,
        |         round(0.5 * least(1.0, length(text) / 500.0)
        |             + 0.3 * (CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS DOUBLE) /
        |                      len(string_split(trim(text), ' ')))
        |             + 0.2 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |                      length(text)), 6) AS quality
        |  FROM documents),
        |filtered AS (SELECT * FROM scored WHERE quality >= 0.5),
        |survivors AS (SELECT fp, min(doc_id) AS doc_id FROM filtered GROUP BY fp),
        |curated AS (SELECT f.* FROM filtered f JOIN survivors s ON f.doc_id = s.doc_id)
        |SELECT lang, predicted, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |       CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_quality
        |FROM curated GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
