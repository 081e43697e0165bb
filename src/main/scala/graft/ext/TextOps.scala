package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * ([EXT] — no reference counterpart; SURVEY.md §7.2 P6). All pure
  * DataFrame transforms built from codegen'd built-ins (no UDFs):
  * whitespace tokenization, word shingles, quality scoring, stopword
  * language-ID voting, canonical fingerprinting.
  *
  * Scale notes: everything here is embarrassingly parallel per
  * document except the langid stopword join, which broadcasts a
  * 200-row dictionary. Shingle explosion multiplies rows by ~doc
  * length — downstream consumers aggregate back to doc_id or pair
  * keys, so the wide intermediate never materializes.
  */
object TextOps {

  /** Whitespace tokens of the lowercased, trimmed text. */
  def tokensCol(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** One row per (id, token) — duplicates kept (frequency-weighted). */
  def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokensCol(col(textCol))).as("w"))

  /** Distinct word n-shingles per id: (id, s). Docs shorter than n
    * words yield no shingles. Compiled sliding-window kernel — the
    * equivalent higher-order-function form (transform(sequence) +
    * slice + concat_ws + global distinct) evaluates interpreted
    * lambdas per window and shuffles for the distinct; this dedupes
    * per doc in one pass and produces identical (id, s) rows. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shinglesKeyed(df, Seq(idCol), textCol, n)

  /** [[shingles]] generalized to carry several key columns through the
    * explode — lets ONE Memo'd corpus shingling pass feed consumers
    * keyed on different columns (doc-level dedup, source-level
    * sketches, (source, lang) rollup partials) instead of re-running
    * the tokenizer per keying. */
  def shinglesKeyed(df: DataFrame, keyCols: Seq[String], textCol: String,
      n: Int): DataFrame = {
    val shingleUdf = udf((t: String) => {
      val toks = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      if (toks.length < n) Array.empty[String]
      else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
    })
    df.select(keyCols.map(col) :+ explode(shingleUdf(col(textCol))).as("s"): _*)
  }

  /** Stopword dictionaries (public high-frequency word lists), 20
    * languages × 10 words, used by language-ID voting and the quality
    * score's stopword ratio. Words were chosen to be distinctive —
    * no word is shared across languages — so votes never split on a
    * single token. Honest limits: the tokenizer is whitespace-based,
    * so unsegmented scripts (zh/ja running text without spaces, Thai)
    * only match when the corpus is pre-segmented; a production
    * pipeline would swap in a segmenter upstream, nothing else
    * changes. */
  val stopwords: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "of" -> "en", "and" -> "en", "to" -> "en",
    "in" -> "en", "is" -> "en", "it" -> "en", "that" -> "en", "for" -> "en",
    "der" -> "de", "die" -> "de", "das" -> "de", "und" -> "de", "ist" -> "de",
    "nicht" -> "de", "ein" -> "de", "eine" -> "de", "mit" -> "de", "zu" -> "de",
    "le" -> "fr", "la" -> "fr", "les" -> "fr", "des" -> "fr", "et" -> "fr",
    "est" -> "fr", "une" -> "fr", "dans" -> "fr", "que" -> "fr", "pour" -> "fr",
    "el" -> "es", "los" -> "es", "las" -> "es", "es" -> "es", "una" -> "es",
    "para" -> "es", "con" -> "es", "por" -> "es", "como" -> "es", "se" -> "es",
    "的" -> "zh", "是" -> "zh", "在" -> "zh", "了" -> "zh", "和" -> "zh",
    "我" -> "zh", "有" -> "zh", "他" -> "zh", "这" -> "zh", "不" -> "zh",
    "não" -> "pt", "também" -> "pt", "já" -> "pt", "você" -> "pt", "seu" -> "pt",
    "sua" -> "pt", "pelo" -> "pt", "pela" -> "pt", "às" -> "pt", "então" -> "pt",
    "il" -> "it", "gli" -> "it", "che" -> "it", "non" -> "it", "sono" -> "it",
    "della" -> "it", "nel" -> "it", "più" -> "it", "anche" -> "it", "questo" -> "it",
    "de" -> "nl", "het" -> "nl", "een" -> "nl", "van" -> "nl", "dat" -> "nl",
    "niet" -> "nl", "zijn" -> "nl", "voor" -> "nl", "met" -> "nl", "op" -> "nl",
    "и" -> "ru", "в" -> "ru", "не" -> "ru", "на" -> "ru", "что" -> "ru",
    "он" -> "ru", "как" -> "ru", "это" -> "ru", "по" -> "ru", "но" -> "ru",
    "の" -> "ja", "に" -> "ja", "は" -> "ja", "を" -> "ja", "た" -> "ja",
    "が" -> "ja", "で" -> "ja", "て" -> "ja", "と" -> "ja", "です" -> "ja",
    "이" -> "ko", "그" -> "ko", "저" -> "ko", "것" -> "ko", "수" -> "ko",
    "및" -> "ko", "등" -> "ko", "에서" -> "ko", "그리고" -> "ko", "하지만" -> "ko",
    "في" -> "ar", "من" -> "ar", "على" -> "ar", "أن" -> "ar", "إلى" -> "ar",
    "عن" -> "ar", "مع" -> "ar", "هذا" -> "ar", "كان" -> "ar", "لا" -> "ar",
    "है" -> "hi", "का" -> "hi", "की" -> "hi", "के" -> "hi", "में" -> "hi",
    "और" -> "hi", "से" -> "hi", "को" -> "hi", "पर" -> "hi", "यह" -> "hi",
    "bir" -> "tr", "ve" -> "tr", "bu" -> "tr", "için" -> "tr", "ile" -> "tr",
    "olarak" -> "tr", "çok" -> "tr", "daha" -> "tr", "gibi" -> "tr", "ama" -> "tr",
    "i" -> "pl", "w" -> "pl", "nie" -> "pl", "na" -> "pl", "się" -> "pl",
    "jest" -> "pl", "do" -> "pl", "z" -> "pl", "że" -> "pl", "jak" -> "pl",
    "och" -> "sv", "att" -> "sv", "det" -> "sv", "som" -> "sv", "en" -> "sv",
    "är" -> "sv", "av" -> "sv", "för" -> "sv", "den" -> "sv", "till" -> "sv",
    "yang" -> "id", "dan" -> "id", "di" -> "id", "ini" -> "id", "itu" -> "id",
    "dengan" -> "id", "untuk" -> "id", "tidak" -> "id", "dari" -> "id", "akan" -> "id",
    "và" -> "vi", "của" -> "vi", "là" -> "vi", "có" -> "vi", "không" -> "vi",
    "được" -> "vi", "trong" -> "vi", "cho" -> "vi", "này" -> "vi", "người" -> "vi",
    "και" -> "el", "το" -> "el", "να" -> "el", "του" -> "el", "με" -> "el",
    "για" -> "el", "είναι" -> "el", "από" -> "el", "την" -> "el", "στο" -> "el",
    "در" -> "fa", "به" -> "fa", "از" -> "fa", "که" -> "fa", "این" -> "fa",
    "را" -> "fa", "با" -> "fa", "است" -> "fa", "برای" -> "fa", "آن" -> "fa")

  /** SQL VALUES clause for the same dictionary (oracle parity). */
  def stopwordValuesSql: String =
    stopwords.map { case (w, l) => s"('$w','$l')" }.mkString(", ")

  /** All 200 stopwords as one literal array — the union dictionary for
    * the language-agnostic stopword ratio (words are distinct across
    * languages, so membership is unambiguous). */
  private val allStopArray: Column =
    array(stopwords.map(w => lit(w._1)): _*)

  /** SQL array literal of the same union dictionary (oracle parity). */
  def stopwordArraySql: String =
    stopwords.map(w => s"'${w._1}'").mkString("[", ",", "]")

  /** Quality scoring: length/word/punctuation/digit/stopword ratios
    * (all codegen'd expressions, one pass over the text). The stopword
    * ratio counts hits against the union dictionary of all 20
    * languages, so a fluent non-English doc scores high and gibberish
    * scores ~0 in any language the dictionary covers. */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // Memo'd shared pass (r17): five operators consume this frame —
    // the quality query itself, the calibrate cutoffs, the NB weak
    // label (quality_classifier + classifier_lift), and the curation
    // replan — each used to re-tokenize the corpus for the stopword
    // fold. One per-row pass per corpus, the tokenCounts discipline.
    graft.queries.Memo.cached(df.sparkSession, "qual", Seq(df), idCol, textCol) {
      val t = col(textCol)
      val toks = tokensCol(t)
      val chars = length(t)
      val noPunct = regexp_replace(t, "[.,;:!?()]", "")
      val noDigit = regexp_replace(t, "[0-9]", "")
      df.select(
        col(idCol),
        chars.cast("long").as("chars"),
        size(toks).cast("long").as("words"),
        round(chars.cast("double") / size(toks), 4).as("avg_word_len"),
        round((chars - length(noPunct)).cast("double") / chars, 6).as("punct_ratio"),
        round((chars - length(noDigit)).cast("double") / chars, 6).as("digit_ratio"),
        round(size(filter(toks, w => array_contains(allStopArray, w))).cast("double")
          / size(toks), 6).as("stopword_ratio"))
    }

  /** Per-source quality-threshold CALIBRATION: the step that turns a
    * quality score into per-source keep cutoffs (sources differ in
    * score distribution, so one global threshold over- or under-prunes
    * a source). Quantiles are rank-based and EXACT — cutoff_p = the
    * ceil(p·n)-th smallest score, pure integer arithmetic on ranks, no
    * float interpolation — so the cutoffs are engine-reproducible and
    * each is an actual observed score. Scale: one window sort per
    * source partition; at corpus scale calibration runs on a per-source
    * sample (cutoffs are distribution estimates — sampling is the
    * design, not a concession), so the sort never sees 100 TB. */
  def qualityCalibrate(df: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame =
    calibrateScores(quality(df, idCol, textCol)
      .select(col(idCol), col("stopword_ratio").as("score"))
      .join(df.select(col(idCol), col(srcCol)), Seq(idCol)), idCol, srcCol)

  /** Rank-exact cutoffs over an ALREADY-SCORED frame (idCol, score,
    * srcCol) — the entry point for pipelines that computed the quality
    * score once and need both the cutoffs and the per-doc gate from
    * the same pass. */
  def calibrateScores(scored: DataFrame, idCol: String,
      srcCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(srcCol))
    val rn = row_number().over(w.orderBy(col("score"), col(idCol)))
    val n = count(lit(1)).over(w)
    scored.select(col(srcCol), col("score"), rn.as("__rn"), n.as("__n"))
      .groupBy(srcCol)
      .agg(max(col("__n")).as("n_docs"),
        max(when(col("__rn") === expr("(__n + 9) div 10"), col("score"))).as("p10"),
        max(when(col("__rn") === expr("(__n + 1) div 2"), col("score"))).as("p50"),
        max(when(col("__rn") === expr("(__n * 9 + 9) div 10"), col("score"))).as("p90"))
  }

  /** Model-based quality classification: a Naive Bayes unigram
    * classifier TRAINED on the corpus from a weak rule label and
    * applied back to every document — the distributed form of the
    * classifier-filter step in public curation pipelines (CCNet /
    * GPT-3's WebText classifier: label a seed set by rule, learn
    * token weights, score the whole corpus). Naive Bayes is chosen
    * over an iterative optimizer deliberately: training and scoring
    * are pure counts + logs, so the fitted model and every score are
    * exact, engine-reproducible relational algebra.
    *
    * `labels` is (idCol, label: boolean) — the weak rule output.
    * Per-token Laplace-smoothed log-likelihood-ratio weights are
    * rounded to 1e-6 and summed as exact integer micros, so doc
    * scores are independent of partitioning and evaluation order.
    * Output: (idCol, label_weak, nb_score, nb_pass, agree).
    *
    * Scale: rides the Memo'd (id, w, tf) pass shared with TF-IDF /
    * BM25; class totals and the prior are 1-row broadcast cross-joins;
    * the weight table is vocabulary-sized (AQE broadcasts it under
    * threshold, sort-merge joins above); the per-doc reduce is one
    * map-side-combinable aggregation keyed by id. */
  def nbQuality(df: DataFrame, idCol: String, textCol: String,
      labels: DataFrame): DataFrame =
    // Memo'd (r17): the trained-and-applied score frame is consumed by
    // TWO registry queries (the classifier surface and its lift/gains
    // table) — each used to re-run train + score (four passes over the
    // Memo'd tf table). The model fit is ingest-shaped work: pay it
    // once per (corpus, labels), like the LM score frame.
    graft.queries.Memo.cached(df.sparkSession, "nbq", Seq(df, labels), idCol, textCol) {
      nbQualityBuild(df, idCol, textCol, labels)
    }

  private def nbQualityBuild(df: DataFrame, idCol: String, textCol: String,
      labels: DataFrame): DataFrame = {
    val lab = labels.select(col(idCol), col("label"))
    val tf = termFrequencies(df, idCol, textCol)
    val tfl = tf.join(lab, Seq(idCol))
    val cls = tfl.agg(
      sum(when(col("label"), col("tf")).otherwise(0L)).as("n1"),
      sum(when(not(col("label")), col("tf")).otherwise(0L)).as("n0"),
      countDistinct(col("w")).as("v"))
    val wt = tfl.groupBy(col("w")).agg(
        sum(when(col("label"), col("tf")).otherwise(0L)).as("c1"),
        sum(when(not(col("label")), col("tf")).otherwise(0L)).as("c0"))
      .crossJoin(broadcast(cls))
      .select(col("w"),
        round((log((col("c1") + lit(1.0)) / (col("n1") + col("v"))) -
               log((col("c0") + lit(1.0)) / (col("n0") + col("v")))) * 1e6, 0)
          .cast("long").as("llr_micro"))
    val sc = tf.join(wt, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("tf") * col("llr_micro")).as("s_micro"))
    // greatest(_,1): if the weak label ever degenerates to a single
    // class at some SF, the un-clamped ratio is 0 or Infinity and the
    // ANSI cast of round(ln) to long crashes — clamp both counts (the
    // DuckDB oracle clamps identically, keeping bit-parity)
    val prior = lab.agg(
        sum(when(col("label"), 1L).otherwise(0L)).as("d1"),
        sum(when(not(col("label")), 1L).otherwise(0L)).as("d0"))
      .select(round(log(greatest(col("d1"), lit(1L)).cast("double") /
                        greatest(col("d0"), lit(1L))) * 1e6, 0)
        .cast("long").as("p_micro"))
    val total = col("p_micro") + col("s_micro")
    lab.join(sc, Seq(idCol)).crossJoin(broadcast(prior))
      .select(col(idCol), col("label").as("label_weak"),
        round(total / 1e6, 6).as("nb_score"),
        (total > 0).as("nb_pass"),
        ((total > 0) === col("label")).as("agree"))
  }

  /** Score-bin LIFT / reliability table for a classifier's output
    * ([EXT]) — the gains-table artifact read before trusting a quality
    * classifier as a curation filter: equal-width bins over the score
    * range, per bin the doc count, positive-label fraction, and lift
    * (bin positive rate / corpus positive rate). A well-behaved
    * score has frac_pos rising monotonically with bin — flat lift
    * means the classifier adds nothing over the base rate at that
    * score range.
    *
    * SCALE SHAPE: deliberately NOT score deciles — an exact global
    * decile needs a corpus-wide rank (one-partition window or a
    * range-partitioned sort). Equal-width binning needs only a 1-row
    * (min, max) broadcast agg and per-row integer arithmetic into a
    * map-side-combined |bins|-row groupBy; nothing corpus-sized
    * shuffles.
    *
    * Determinism: the score re-enters as its exact micro integer
    * (round(score·10⁶) — [[nbQuality]] scores are 6-dp decimals, so
    * the round-trip is exact), and bin = (t − lo)·B div (hi − lo) is
    * pure integer arithmetic; frac/lift are single IEEE divisions of
    * exact counts, 6-dp on the halfway rule. A degenerate range
    * (hi == lo) collapses everything into bin 0. Empty bins are
    * absent (their edges are derivable; emitting observed min/max
    * per bin keeps every output column data-grounded).
    * Output: (bin, n_docs, n_pos, score_lo, score_hi, frac_pos,
    * lift). */
  def classifierLift(scored: DataFrame, scoreCol: String,
      labelCol: String, bins: Int): DataFrame = {
    require(bins >= 2, s"classifierLift: need bins >= 2, got $bins")
    val t = scored.select(
      expr(s"CAST(round($scoreCol * 1e6) AS LONG)").as("__t"),
      col(labelCol).cast("boolean").as("__y"))
    val edges = t.agg(min(col("__t")).as("__lo"), max(col("__t")).as("__hi"),
      count(lit(1)).as("__n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("__np"))
    t.crossJoin(broadcast(edges))
      .withColumn("__bin", when(col("__hi") === col("__lo"), lit(0L))
        .otherwise(least(lit(bins - 1L),
          expr(s"(__t - __lo) * $bins DIV (__hi - __lo)"))))
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        (min(col("__t")).cast("double") / lit(1e6)).as("score_lo"),
        (max(col("__t")).cast("double") / lit(1e6)).as("score_hi"),
        max(col("__n")).as("__nn"), max(col("__np")).as("__nnp"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        col("score_lo"), col("score_hi"),
        (floor(col("n_pos").cast("double") / col("n_docs").cast("double")
          * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("frac_pos"),
        when(col("__nnp") === 0L, lit(null).cast("double"))
          .otherwise(floor(col("n_pos").cast("double") / col("n_docs").cast("double")
            / (col("__nnp").cast("double") / col("__nn").cast("double"))
            * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("lift"))
  }

  /** Language-ID by stopword voting: most stopword hits wins, ties
    * broken by language code; no hits → 'und'. The dictionary is
    * broadcast (≪ data); one shuffle on id for the argmax. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val dict = broadcast(stopwords.toDF("w", "lang"))
    val hits = tokens(df, idCol, textCol)
      .join(dict, "w")
      .groupBy(col(idCol), col("lang")).agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("hits").desc, col("lang").asc)
    val best = hits.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col(idCol), col("lang"), col("hits"))
    df.select(col(idCol)).join(best, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("lang"), lit("und")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Mixed-language document audit ([EXT]): chunk each doc
    * ([[chunk]], no overlap), language-ID every chunk by stopword
    * voting ([[langId]]'s dictionary), and report per doc the chunk
    * count, distinct identified languages, majority label and its
    * fraction, and a `mixed` flag (≥ 2 identified languages). A
    * document-level langid hides code-switching — a doc that is half
    * English boilerplate wrapped around German content votes 'en'
    * and poisons a German training mix; chunk-level disagreement is
    * the cleaning signal.
    *
    * Determinism: all counts exact; per-chunk votes and the per-doc
    * majority both break ties toward the lexicographically smallest
    * language; 'und' chunks count toward the denominator but never
    * toward n_langs. Scale: the chunk explode is per-row compute;
    * everything after is map-side-combined groupBys keyed on
    * (doc, chunk) then (doc, lang) then doc — the corpus shuffles
    * only as its chunk-level vote counts.
    * Output: (idCol, n_chunks, n_langs, major_lang, major_frac 6dp,
    * mixed). */
  def langConsistency(df: DataFrame, idCol: String, textCol: String,
      chunkChars: Int): DataFrame = {
    val ch = chunk(df, idCol, textCol, chunkChars, 0)
      .select(col(idCol), col("chunk_id"), col("chunk"))
    val spark = df.sparkSession
    import spark.implicits._
    val dict = broadcast(stopwords.toDF("w", "lang"))
    val votes = ch
      .select(col(idCol), col("chunk_id"),
        explode(tokensCol(col("chunk"))).as("w"))
      .join(dict, "w")
      .groupBy(col(idCol), col("chunk_id"), col("lang"))
      .agg(count(lit(1)).as("__h"))
    val bestPerChunk = votes.groupBy(col(idCol), col("chunk_id"))
      .agg(min(struct((-col("__h")).as("nh"), col("lang"))).as("__b"))
      .select(col(idCol), col("chunk_id"), col("__b.lang").as("pred"))
    val pred = ch.select(col(idCol), col("chunk_id"))
      .join(bestPerChunk, Seq(idCol, "chunk_id"), "left")
      .select(col(idCol), coalesce(col("pred"), lit("und")).as("pred"))
    val perLang = pred.groupBy(col(idCol), col("pred"))
      .agg(count(lit(1)).as("__c"))
    perLang.groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_chunks"),
        countDistinct(when(col("pred") =!= "und", col("pred"))).as("n_langs"),
        min(struct((-col("__c")).as("nc"), col("pred"))).as("__m"))
      .select(col(idCol), col("n_chunks"), col("n_langs"),
        col("__m.pred").as("major_lang"),
        (floor((-col("__m.nc")).cast("double") / col("n_chunks").cast("double")
          * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("major_frac"),
        (col("n_langs") >= 2).as("mixed"))
  }

  /** Corpus SNAPSHOT DIFF — the daily-delta audit between two corpus
    * versions (yesterday's build vs today's): per doc id, whether it
    * was added, removed, changed (canonical fingerprint differs —
    * formatting-only edits don't count), or unchanged. The artifact
    * that tells an incremental pipeline what to re-embed / re-dedup /
    * re-shard instead of rebuilding everything. One full-outer join on
    * the id (one shuffle per side, fingerprints are row-local); at
    * corpus scale both sides are id-bucketed tables, so the join is
    * co-partitioned. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val of = fingerprint(oldDf, idCol, textCol).withColumnRenamed("fp", "__ofp")
    val nf = fingerprint(newDf, idCol, textCol).withColumnRenamed("fp", "__nfp")
    of.join(nf, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ofp").isNull, lit("added"))
          .when(col("__nfp").isNull, lit("removed"))
          .when(col("__ofp") =!= col("__nfp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Tokenizer fertility per language — tokens-per-word by predicted
    * language, the audit that tells you which languages your tokenizer
    * serves poorly (high fertility → more sequence length per word →
    * less effective context and higher training cost for that
    * language). Composes [[langId]] with [[tokenCounts]]; all
    * aggregates are exact integer sums (the one double, fertility, is
    * a single division of two exact longs), so the result is
    * partition-order-independent with no sorted-fold machinery. */
  def tokenizerFertility(df: DataFrame, idCol: String, textCol: String): DataFrame =
    langId(df, idCol, textCol)
      .join(tokenCounts(df, idCol, textCol), Seq(idCol))
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("total_words"),
        sum(col("n_bpe")).as("total_tokens"),
        round(sum(col("n_bpe")).cast("double") / sum(col("n_ws")), 4).as("fertility"))

  /** Canonical document fingerprint: md5 of lowercased text with
    * whitespace collapsed — the exact-dup key modulo formatting. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      md5(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")).cast("binary")).as("fp"))

  /** Winnowing document fingerprints (rolling-hash k-grams, Schleimer
    * et al., SIGMOD 2003 "Winnowing: Local Algorithms for Document
    * Fingerprinting"): hash every k-char-gram of the canonical text
    * with a base-31 polynomial (exact in BIGINT — max value
    * 127·31⁷·8 ≈ 2·10¹³, so no modular step and no cross-engine
    * drift), then select the trailing-window minima as the
    * fingerprint set. Output: per-doc fingerprint summary
    * (id, n_fp, fp_min, fp_max, fp_sum). */
  case class FpSummary(n_fp: Long, fp_min: Long, fp_max: Long, fp_sum: Long)
  case class SpanHashes(hs: Array[Long], fp: Array[Long])

  /** The shared rolling-hash + winnow kernel: all k-char-gram hashes in
    * document order plus the distinct winnowed minima sorted ascending.
    * True O(n) per doc: the hash of gram i derives from gram i−1 with
    * one multiply-add (exact 64-bit integer arithmetic, identical
    * values to the per-position polynomial the DuckDB oracle
    * evaluates — the SQL-expression form costs O(n·k) interpreted
    * substrings and a 10⁶-row window shuffle instead). Null for docs
    * shorter than k. */
  private[graft] def spanHashUdf(k: Int, w: Int) = {
    val top = math.pow(31, k - 1).toLong
    udf((t: String) => {
      val n = t.length
      if (n < k) None
      else {
        val m = n - k + 1
        val hs = new Array[Long](m)
        var h = 0L
        var j = 0
        while (j < k) { h = h * 31 + t.charAt(j).toLong; j += 1 }
        hs(0) = h
        var i = 1
        while (i < m) {
          h = (h - t.charAt(i - 1).toLong * top) * 31 + t.charAt(i + k - 1).toLong
          hs(i) = h
          i += 1
        }
        // winnow: keep h(i) iff it is the min of the trailing w-window
        val sel = scala.collection.mutable.SortedSet.empty[Long]
        i = 0
        while (i < m) {
          var mn = Long.MaxValue
          var p = math.max(0, i - w + 1)
          while (p <= i) { if (hs(p) < mn) mn = hs(p); p += 1 }
          if (hs(i) == mn) sel += hs(i)
          i += 1
        }
        Some(SpanHashes(hs, sel.toArray))
      }
    })
  }

  /** Canonical text for the k-gram kernels: lowercased, whitespace
    * collapsed, trimmed — formatting must not break span identity. */
  private[graft] def canonCol(textCol: String) =
    trim(regexp_replace(lower(col(textCol)), "\\s+", " "))

  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    df.select(col(idCol), spanHashUdf(k, w)(canonCol(textCol)).as("z"))
      .filter(col("z").isNotNull)
      .select(col(idCol), size(col("z.fp")).cast("long").as("n_fp"),
        element_at(col("z.fp"), 1).as("fp_min"),
        element_at(col("z.fp"), -1).as("fp_max"),
        aggregate(col("z.fp"), lit(0L), (acc, x) => acc + x).as("fp_sum"))

  /** Deterministic subword merge table for [[tokenCounts]]: common
    * English character n-grams (public frequency lists), longest
    * first, frequency-ordered within a length. Compiled into ONE
    * alternation regex with a single-char fallback: regex matching is
    * leftmost-first with in-order alternation preference in BOTH Java
    * regex and DuckDB's RE2, so "match the tokenizer regex repeatedly"
    * IS a greedy longest-preference subword tokenizer that the oracle
    * reproduces verbatim — the broadcast merge table is a literal in
    * the plan and the count stays codegen'd (no UDF). */
  private[graft] val bpeVocab: Seq[String] = Seq(
    "tion", "ment", "that", "with", "this", "here", "ther", "ight",
    "the", "ing", "and", "ion", "ent", "for", "her", "ter", "hat",
    "tha", "ere", "ate", "his", "con", "res", "ver", "all", "ons",
    "nce", "men", "ith", "ted", "ers", "pro", "are", "ess", "not",
    "ive", "was", "ect", "rea", "com", "eve", "per", "int", "est",
    "sta", "ica", "ist",
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd", "ti",
    "es", "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to",
    "nt", "ng", "se", "ha", "as", "ou", "io", "le", "ve", "co", "me",
    "de", "hi", "ri", "ro", "ic", "ne", "ea", "ra", "ce", "li", "ch",
    "ll", "be", "ma", "si", "om", "ur")
  private[graft] val bpeRe: String =
    (bpeVocab :+ "[a-z0-9]").mkString("(", "|", ")")

  /** Token counts: whitespace words, alnum regex tokens, an actual
    * greedy-subword tokenization over the fixed merge table above
    * (n_bpe), and the chars/4 rule of thumb kept for comparison
    * (n_bpe_est). */
  /** The per-doc count frame is the Memo'd unit: six operators share
    * it (token counting, mixture plan + execution, yield curves,
    * dedup yield, packing), and the BPE-ish regex over every document
    * is the dominant cost — pay it once per corpus, like the other
    * shared-pass families. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.queries.Memo.cached(df.sparkSession, "tokcnt", Seq(df), idCol, textCol) {
      df.select(col(idCol),
        size(tokensCol(col(textCol))).cast("long").as("n_ws"),
        size(expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")).cast("long").as("n_alnum"),
        size(regexp_extract_all(lower(col(textCol)), lit(bpeRe), lit(0)))
          .cast("long").as("n_bpe"),
        ceil(length(col(textCol)) / 4.0).cast("long").as("n_bpe_est"))
    }

  /** Data-mixture planning (the DoReMi/Pile-style static-mixing step,
    * [EXT] — no reference counterpart): given target mixture weights
    * over a grouping column (language, domain, source) and a total
    * training-token budget, derive per-group token availability and
    * what hitting the target implies — `tokens_target` (the budget
    * share), `epochs` (the repetition factor when the target exceeds
    * availability; >1 means the group will be over-sampled across
    * epochs) and `sample_rate` (the keep probability when availability
    * exceeds the target, capped at 1). Groups absent from `weights`
    * plan to zero. Tokens are the greedy-subword count (n_bpe) from
    * [[tokenCounts]].
    *
    * Scale: one map-side-combined groupBy on the grouping column
    * (cardinality = #languages/#sources ≪ corpus); the weight table is
    * a broadcast map literal, so the whole plan is a single tiny
    * shuffle regardless of corpus size. */
  def mixturePlan(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, weights: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val tok = tokenCounts(df, idCol, textCol).select(col(idCol), col("n_bpe"))
    df.select(col(idCol), col(groupCol))
      .join(tok, Seq(idCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bpe")).as("tokens_avail"))
      .withColumn("weight",
        coalesce(element_at(typedLit(weights), col(groupCol)), lit(0.0)))
      .withColumn("tokens_target",
        round(col("weight") * budgetTokens, 0).cast("long"))
      .withColumn("epochs", round(
        col("tokens_target").cast("double") / col("tokens_avail"), 6))
      .withColumn("sample_rate", round(least(lit(1.0),
        col("tokens_target").cast("double") / col("tokens_avail")), 6))
  }

  /** Mixture-plan EXECUTION ([EXT]): apply [[mixturePlan]]'s per-group
    * sample_rate as a deterministic keep-filter and report the
    * realized selection — the step that turns the plan into an actual
    * training-corpus subset. The rate is quantized to basis points
    * (floor, like [[sampleMixture]]) and a doc survives when its
    * content-stable md5 bucket falls under its group's rate, so the
    * selection is reproducible, incremental-friendly (a doc's verdict
    * never depends on other docs), and within one bucket-quantum of
    * rate × availability per group. Output per group: the plan's
    * target, the realized docs/tokens kept, and `fill_frac` =
    * tokens_kept / tokens_target (the number a mixing run audits —
    * under-filled groups need epochs > 1, i.e. repetition).
    *
    * Scale: the plan is a ≤|groups|-row broadcast; the keep-filter is
    * per-row column work; the report one map-side-combined groupBy. */
  def mixtureExecute(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, weights: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    val plan = mixturePlan(df, idCol, textCol, groupCol, weights, budgetTokens)
      .select(col(groupCol), col("tokens_target"),
        floor(col("sample_rate") * 10000).cast("long").as("rate_bp"))
    val tok = tokenCounts(df, idCol, textCol).select(col(idCol), col("n_bpe"))
    val bucket = expr(
      s"conv(substr(md5(cast($idCol AS STRING)), 1, 8), 16, 10) % 10000").cast("long")
    val kept = df.select(col(idCol), col(groupCol)).join(tok, Seq(idCol))
      .join(broadcast(plan.select(col(groupCol), col("rate_bp"))), Seq(groupCol))
      .withColumn("__b", bucket)
      .filter(col("__b") < col("rate_bp"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("docs_kept"), sum(col("n_bpe")).as("tokens_kept"))
    // both report sides are ≤|groups| rows — broadcast keeps the whole
    // post-filter tail shuffle-free
    plan.join(broadcast(kept), Seq(groupCol), "left")
      .select(col(groupCol), col("tokens_target"), col("rate_bp"),
        coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        round(coalesce(col("tokens_kept"), lit(0L)).cast("double") /
          greatest(col("tokens_target"), lit(1L)), 6).as("fill_frac"))
  }

  /** Mixture UPSAMPLING materializer ([EXT]): the missing half of
    * [[mixtureExecute]] — execute only DOWN-samples (rates cap at
    * keep-all) because over-requested groups are a repeat-epoch
    * decision; this operator MAKES that decision concrete. Per group,
    * [[mixturePlan]]'s `epochs` factor splits into ⌊epochs⌋ whole
    * passes plus one fractional pass a doc joins iff its
    * content-stable md5 bucket falls under the fractional share (the
    * same bucket rule as [[sampleMixture]]/[[mixtureExecute]], so
    * down-sampling groups reduce to execute's keep-filter). Output:
    * one training row per (doc, epoch_idx) — the actual repeated
    * corpus a static-mixing run feeds the trainer, with epoch_idx
    * available for curriculum/shard interleaving downstream.
    *
    * Deterministic and incremental-friendly: a doc's repetition count
    * depends only on its own id and its group's plan row. Scale: the
    * plan is a ≤|groups|-row broadcast; repetition is a per-row
    * sequence-explode whose output is exactly the training corpus
    * being materialized — no shuffle anywhere. */
  def mixtureMaterialize(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, weights: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    // a weighted group whose docs hold ZERO tokens has no defined epoch
    // factor (division by tokens_avail = 0 — engine-divergent: Spark
    // nulls, DuckDB +inf); such groups deterministically emit nothing
    // (ADVICE r9), same as a zero-weight group
    val plan = mixturePlan(df, idCol, textCol, groupCol, weights, budgetTokens)
      .filter(col("tokens_avail") > 0)
      .select(col(groupCol),
        floor(col("epochs")).cast("long").as("__full"),
        floor((col("epochs") - floor(col("epochs"))) * 10000)
          .cast("long").as("__frac_bp"))
    val bucket = expr(
      s"conv(substr(md5(cast($idCol AS STRING)), 1, 8), 16, 10) % 10000").cast("long")
    df.select(col(idCol), col(groupCol))
      .join(broadcast(plan), Seq(groupCol))
      .withColumn("__reps", col("__full") +
        when(bucket < col("__frac_bp"), 1L).otherwise(0L))
      .filter(col("__reps") > 0)
      .select(col(idCol), col(groupCol),
        explode(sequence(lit(0L), col("__reps") - 1)).as("epoch_idx"))
  }

  /** Deterministic TRAINING-ORDER interleave ([EXT]): the last step of
    * the static-mixing chain (plan → [[mixtureMaterialize]] → THIS) —
    * scatter the materialized (doc, epoch_idx) rows across `shards`
    * output shards and give each row a position, using a
    * content-stable md5 ordering key over (id, epoch_idx) so (a) the
    * stream is a reproducible pseudo-random shuffle (two runs, any
    * partitioning, same order), (b) a doc's repeated epochs land in
    * DIFFERENT shards/positions instead of adjacent rows (the
    * repetition-adjacency failure mode of naive upsampling), and (c)
    * groups interleave instead of concatenating. A trainer reading
    * shards round-robin by position consumes the exact mixture at
    * every prefix.
    *
    * Scale: shard assignment is a per-row hash; positions are a
    * row_number per shard — |rows|/shards per window partition, the
    * standard partitioned-window shape (no global ordering anywhere,
    * no single-partition window). */
  def trainingOrder(rows: DataFrame, idCol: String, epochCol: String,
      shards: Int): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val key = md5(concat_ws("|", col(idCol).cast("string"),
      col(epochCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__k"), col(idCol))
    rows.withColumn("__k", key)
      .withColumn("shard",
        pmod(conv(substring(col("__k"), 1, 8), 16, 10).cast("long"),
          lit(shards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__k")
  }

  /** Per-group quality GATE with a Wilson lower confidence bound
    * ([EXT]): the RefinedWeb/C4-style curation decision at the
    * source/domain level — a group is blocked when even the
    * OPTIMISTIC read of its good-document fraction (the Wilson score
    * interval's lower bound at z = 1.96, Wilson JASA 1927) falls
    * under `cutoff`. The bound is the point of the operator: a
    * 3-document group at p̂ = 1.0 is NOT trustworthy evidence of
    * quality, and a naive p̂ ≥ cutoff rule would whitelist it; the
    * Wilson bound shrinks toward 0 exactly as n does. "Good" =
    * words ≥ `minWords` and digit_ratio ≤ `maxDigitRatio` (two of
    * [[quality]]'s signals, computed with the identical expressions).
    *
    * Determinism: k and n are exact integers; the bound is evaluated
    * in ONE fixed expression order (z as the literal 1.96 on both
    * engines, sqrt/divide correctly rounded per IEEE 754), rounded to
    * 6dp, and the blocked verdict compares the ROUNDED value — so
    * even the booleans are engine-stable. Scale: per-row column work
    * + one map-side-combined groupBy to |groups| rows. */
  def qualityGate(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, minWords: Int, maxDigitRatio: Double,
      cutoff: Double): DataFrame = {
    val t = col(textCol)
    val words = size(tokensCol(t))
    val digitRatio = (length(t) - length(regexp_replace(t, "[0-9]", "")))
      .cast("double") / length(t)
    val good = words >= minWords && digitRatio <= maxDigitRatio
    val agg = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(good, 1L).otherwise(0L)).as("k"))
    val nD = col("n").cast("double")
    val ph = col("k").cast("double") / nD
    val z = lit(1.96)
    val z2 = z * z
    val lo = (ph + z2 / (lit(2.0) * nD)
      - z * sqrt(ph * (lit(1.0) - ph) / nD + z2 / (lit(4.0) * nD * nD))) /
      (lit(1.0) + z2 / nD)
    agg.select(col(groupCol), col("n"), col("k"),
      round(ph, 6).as("p_good"),
      round(lo, 6).as("wilson_lo"),
      (round(lo, 6) < cutoff).as("blocked"))
  }

  /** Poisson-bootstrap confidence interval on a per-group mean metric
    * ([EXT]; Chamandy, Muralidharan, Najmi & Naidu, "Estimating
    * uncertainty for massive data streams", Google TR 2012): the
    * distributed bootstrap. The classical multinomial bootstrap needs
    * n known up front and a global resample per replicate — impossible
    * in one pass over a sharded corpus. The Poisson form replaces it:
    * each row enters replicate b with weight w ~ Poisson(1), drawn
    * INDEPENDENTLY per (row, b), so all B replicates accumulate in the
    * same single pass, map-side combined — the shuffle carries
    * |groups|·B partial sums, never the corpus. This is the CI the
    * [[qualityGate]]'s Wilson bound gives for proportions,
    * generalized to any mean metric (mean quality score per source:
    * is source A's score really above B's, or is the gap noise?).
    *
    * Determinism: w inverts the Poisson(1) CDF on the house
    * md5-uniform (u from md5(id:b), the [[sampleWeighted]] idiom),
    * table capped at 6 (tail mass 5.9e-4 folds into the cap —
    * standard quantized-table inversion); the metric is micro-
    * quantized (round(q·10⁶), exact integer sums), so every replicate
    * mean is one identical IEEE division and the order statistics are
    * exact. CI = the empirical [⌊α/2·m⌋+1, m−⌊α/2·m⌋] order statistics
    * of the m surviving replicate means (a replicate that draws all
    * zero weights — P ≈ e⁻ⁿ — is dropped, not counted as 0).
    * Output: (groupCol, n_docs, mean_q, ci_lo, ci_hi), 6dp on the
    * floor(x·10⁶+0.5) halfway rule. */
  def poissonBootstrapCI(df: DataFrame, idCol: String, groupCol: String,
      metricCol: String, b: Int, alpha: Double): DataFrame = {
    require(b >= 20, s"poissonBootstrapCI: need B >= 20 replicates, got $b")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val q = df.select(col(groupCol), col(idCol).cast("long").as("__id"),
      expr(s"CAST(round(($metricCol) * 1e6) AS LONG)").as("__q"))
    // Poisson(1) inverse-CDF thresholds: cum_k = e⁻¹·Σ_{j≤k} 1/j!
    // (identical decimal literals on both engines)
    val w =
      """CASE WHEN __u < 0.36787944117144233 THEN 0L
        |     WHEN __u < 0.7357588823428847 THEN 1L
        |     WHEN __u < 0.9196986029286058 THEN 2L
        |     WHEN __u < 0.9810118431238462 THEN 3L
        |     WHEN __u < 0.9963401531726563 THEN 4L
        |     WHEN __u < 0.9994058151824183 THEN 5L
        |     ELSE 6L END""".stripMargin
    val repMeans = q
      .select(col(groupCol), col("__id"), col("__q"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .withColumn("__u", (expr(
        """CAST(conv(substr(md5(concat(cast(__id AS STRING), ':',
          |  cast(rep AS STRING))), 1, 8), 16, 10) AS DOUBLE)""".stripMargin)
        + lit(0.5)) / lit(4294967296.0))
      .withColumn("__w", expr(w))
      .groupBy(col(groupCol), col("rep"))
      .agg(sum(col("__w") * col("__q")).as("__s"), sum(col("__w")).as("__n"))
      .filter(col("__n") > 0L)
      .select(col(groupCol),
        (col("__s").cast("double") / col("__n").cast("double") / lit(1e6))
          .as("__m"))
    val point = q.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__q")).as("__sq"))
    val half = alpha / 2
    val ci = repMeans.groupBy(col(groupCol))
      .agg(sort_array(collect_list(col("__m"))).as("__ms"))
      .select(col(groupCol),
        element_at(col("__ms"),
          (floor(lit(half) * size(col("__ms"))).cast("int") + 1)).as("__lo"),
        element_at(col("__ms"),
          (size(col("__ms")) - floor(lit(half) * size(col("__ms"))).cast("int")))
          .as("__hi"))
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    point.join(ci, groupCol)
      .select(col(groupCol), col("n_docs"),
        q6(col("__sq").cast("double") / col("n_docs").cast("double") / lit(1e6))
          .as("mean_q"),
        q6(col("__lo")).as("ci_lo"), q6(col("__hi")).as("ci_hi"))
  }

  /** CALIBRATE → GATE → REPLAN: the composed curation round a real
    * pipeline runs as ONE artifact (VERDICT r9 #8 — the
    * corpus_health_report idiom applied to the quality tier):
    *
    *  1. [[qualityCalibrate]] fixes each source's keep cutoff at its
    *     own p10 score (rank-exact, an observed score) — one global
    *     threshold over- or under-prunes sources with different score
    *     distributions;
    *  2. [[qualityGate]]'s Wilson lower bound blocks entire sources
    *     whose good-doc evidence is weak (small-n sources shrink
    *     toward blocked instead of being whitelisted on 3 lucky docs);
    *  3. the surviving corpus — docs at-or-above their source's
    *     calibrated cutoff, from unblocked sources only — is handed to
    *     [[mixturePlan]], whose per-group epochs/sample_rate now
    *     reflect the post-curation availability (the interaction this
    *     operator pins: pruning shrinks tokens_avail, which RAISES
    *     epochs for over-requested groups — a replan that reads the
    *     pre-curation plan under-fills every group).
    *
    * Output: [[mixturePlan]]'s per-group contract over the curated
    * corpus. Every stage is rank/integer/fixed-IEEE deterministic, so
    * a DuckDB oracle replays the whole composition. Scale: the cutoff
    * and gate frames are |sources|-row broadcasts; the keep-filter is
    * per-row; the replan is the usual |groups|-row aggregate — nothing
    * beyond [[quality]]'s one corpus pass plus the token pass. */
  def qualityReplan(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, groupCol: String, weights: Map[String, Double],
      budgetTokens: Long, minWords: Int, maxDigitRatio: Double,
      gateCutoff: Double): DataFrame = {
    // ONE score-to-corpus join carries text + group along, so the
    // curated frame feeds the replan directly — no second corpus-side
    // shuffle to re-fetch columns by id
    val scored = quality(df, idCol, textCol)
      .select(col(idCol), col("stopword_ratio").as("score"))
      .join(df.select(col(idCol), col(srcCol), col(groupCol),
        col(textCol)), Seq(idCol))
    val cuts = calibrateScores(
        scored.select(col(idCol), col("score"), col(srcCol)), idCol, srcCol)
      .select(col(srcCol), col("p10"))
    val open = qualityGate(df, idCol, textCol, srcCol, minWords,
      maxDigitRatio, gateCutoff)
      .filter(not(col("blocked"))).select(col(srcCol))
    val curated = scored
      .join(broadcast(cuts), Seq(srcCol))
      .filter(col("score") >= col("p10"))
      .join(broadcast(open), Seq(srcCol), "left_semi")
      .select(col(idCol), col(textCol), col(groupCol))
    mixturePlan(curated, idCol, textCol, groupCol, weights, budgetTokens)
  }

  /** Temperature-flattened mixture planning ([EXT]): the multilingual
    * up-sampling rule of mBERT / XLM-R (Devlin et al. 2019 app.;
    * Conneau et al. 2020 §3.1) — instead of hand-set target weights
    * ([[mixturePlan]]), each group's sampling weight is its token
    * availability raised to `alpha` ∈ (0,1] and renormalized:
    * p_g = avail_g^α / Σ_h avail_h^α. α = 1 reproduces the natural
    * distribution; α → 0 approaches uniform, so low-resource groups
    * are up-sampled at the expense of the head. Output per group:
    * availability, the natural share, the flattened weight, `boost`
    * (weight / natural share — the up-sampling factor the paper
    * tunes), and the same tokens_target / epochs / sample_rate
    * contract as [[mixturePlan]] so the two plans are drop-in
    * interchangeable upstream of [[mixtureExecute]]-style selection.
    *
    * Cross-engine determinism: the flattened mass is quantized to
    * integer micro-units (floor(f(avail)·10⁶)) before normalizing, so
    * the denominator is an exact integer sum — no float-sum
    * order-dependence. α = 0.5 (the common published setting) routes
    * through `sqrt`, which IEEE 754 requires correctly rounded, so
    * the oracle reproduces the plan bit-for-bit; other α use `pow`
    * (documented ≤1-ulp engine variance, still deterministic per
    * engine).
    *
    * Scale: identical to [[mixturePlan]] — one map-side-combined
    * groupBy to ≤|groups| rows; the normalizing sums run in a single
    * unpartitioned window over that tiny post-aggregation frame
    * (documented regime, same as [[yieldCurve]]). */
  def mixtureTemperature(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, alpha: Double, budgetTokens: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val tok = tokenCounts(df, idCol, textCol).select(col(idCol), col("n_bpe"))
    val g = df.select(col(idCol), col(groupCol))
      .join(tok, Seq(idCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bpe")).as("tokens_avail"))
    val mass =
      if (alpha == 0.5) sqrt(col("tokens_avail").cast("double"))
      else pow(col("tokens_avail").cast("double"), alpha)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    g.withColumn("__mu", floor(mass * 1e6).cast("long"))
      .withColumn("nat_share", round(
        col("tokens_avail").cast("double") / sum(col("tokens_avail")).over(w), 6))
      .withColumn("weight", round(
        col("__mu").cast("double") / sum(col("__mu")).over(w), 6))
      .withColumn("boost", round(col("weight") / col("nat_share"), 4))
      .withColumn("tokens_target",
        round(col("weight") * budgetTokens, 0).cast("long"))
      .withColumn("epochs", round(
        col("tokens_target").cast("double") / col("tokens_avail"), 6))
      .withColumn("sample_rate", round(least(lit(1.0),
        col("tokens_target").cast("double") / col("tokens_avail")), 6))
      .drop("__mu")
  }

  /** Water-filling token-budget allocation ([EXT]): the OPTIMAL
    * answer to "spend budget B across sources proportionally to
    * temperature weights w_i = √cap_i, but never above a source's
    * availability cap_i" — i.e. maximize the min-boost allocation
    * alloc_i = min(cap_i, λ·w_i) with λ chosen so Σ alloc_i = B
    * (the classic water-filling level). [[mixtureTemperature]] plans
    * the UNCONSTRAINED temperature shares; this is the constrained
    * variant a real budget needs: small sources hit their cap (they
    * cannot absorb their √-proportional share) and the excess
    * redistributes to the rest through the single level λ — no
    * iterative rebalancing.
    *
    * Exactness: weights are integer micro-units (⌊√cap·10³⌋, the
    * [[mixtureTemperature]] idiom — 10³ keeps cap·Σw products within
    * int64 at 10⁹-token sources; drop the unit further at larger
    * scale), so the capped-set decision — cap_k·(Σw − cumw_k) ≤
    * (B − cumcap_k)·w_k in r-sorted order, the cross-multiplied form
    * of r_k ≤ λ_k — is EXACT integer arithmetic on both engines; only
    * the final level λ and the uncapped allocations are (identical)
    * float ops.
    *
    * Scale: one map-side-combined groupBy to ≤|sources| rows; every
    * window runs on that post-aggregation frame (the documented
    * tiny-frame regime shared with the temperature planner). */
  def waterfillAllocate(df: DataFrame, groupCol: String, sizeCol: String,
      budgetFrac: Double): DataFrame = {
    require(budgetFrac > 0 && budgetFrac < 1,
      s"budgetFrac must be in (0,1), got $budgetFrac")
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val caps = df.groupBy(col(groupCol))
      .agg(sum(col(sizeCol)).cast("long").as("cap"))
      .withColumn("w", floor(sqrt(col("cap").cast("double")) * lit(1e3))
        .cast("long"))
    val ord = Window.partitionBy()
      .orderBy((col("cap").cast("double") / col("w")).asc, col(groupCol).asc)
    val staged = caps
      .withColumn("__totcap", sum(col("cap")).over(all))
      .withColumn("__totw", sum(col("w")).over(all))
      .withColumn("__B",
        floor(col("__totcap").cast("double") * lit(budgetFrac)).cast("long"))
      .withColumn("__cumcap", sum(col("cap")).over(ord))
      .withColumn("__cumw", sum(col("w")).over(ord))
      .withColumn("capped", col("cap") * (col("__totw") - col("__cumw"))
        <= (col("__B") - col("__cumcap")) * col("w"))
    staged
      .withColumn("__ccap",
        sum(when(col("capped"), col("cap")).otherwise(0L)).over(all))
      .withColumn("__cw",
        sum(when(col("capped"), col("w")).otherwise(0L)).over(all))
      .withColumn("__lam", when(col("__totw") === col("__cw"),
          lit(null).cast("double"))
        .otherwise((col("__B") - col("__ccap")).cast("double")
          / (col("__totw") - col("__cw")).cast("double")))
      .select(col(groupCol), col("cap"), col("capped"),
        when(col("capped"), col("cap"))
          .otherwise(floor(col("__lam") * col("w")).cast("long")).as("alloc"),
        (floor(col("__lam") * lit(1e6) + lit(0.5)).cast("double") / lit(1e6))
          .as("lambda"))
  }

  /** Quality-threshold YIELD CURVE ([EXT]): for each observed quality
    * bin, how many documents and training tokens survive a keep-filter
    * at `score >= threshold` — the chart a curation run is tuned from
    * (pick the threshold where quality gain stops paying for token
    * loss). Scores are the 6-dp stopword-ratio from [[quality]];
    * binning is exact integer arithmetic on the micro-scaled score
    * (bin = score·10⁶ div (10⁶/nBins)), so engines agree bit-for-bit.
    *
    * Scale: one pass over the corpus into ≤ nBins+1 aggregation rows,
    * then the cumulative-from-top sums run in a single unpartitioned
    * window over those ≤ 21 rows (post-aggregation frame, same regime
    * as [[calibrateScores]] — documented, not a scale hazard). */
  def yieldCurve(df: DataFrame, idCol: String, textCol: String,
      nBins: Int = 20): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    import org.apache.spark.sql.expressions.Window
    val scored = quality(df, idCol, textCol)
      .select(col(idCol), col("stopword_ratio").as("score"))
    val tok = tokenCounts(df, idCol, textCol).select(col(idCol), col("n_bpe"))
    val binned = scored.join(tok, Seq(idCol))
      .withColumn("__bin", expr(
        s"cast(round(score * 1000000, 0) as bigint) div ${1000000 / nBins}"))
    val byBin = binned.groupBy(col("__bin"))
      .agg(count(lit(1)).as("__docs"), sum(col("n_bpe")).as("__toks"))
    val w = Window.orderBy(col("__bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byBin.select(
        round(col("__bin").cast("double") / nBins, 4).as("threshold"),
        sum(col("__docs")).over(w).as("docs_ge"),
        sum(col("__toks")).over(w).as("tokens_ge"))
      .orderBy(col("threshold"))
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023 — public
    * paper; [EXT], no reference counterpart). Featurizes every
    * document as hashed n-gram counts — whitespace unigrams + bigrams
    * md5-hashed into `m` buckets — fits add-one-smoothed bucket
    * distributions for the target subset (`targetPred`: the slice the
    * model should be steered toward) and the raw corpus, and scores
    * each document with the importance log-weight
    * `log w(x) = Σ_b c_b(x)·(ln p̂_tgt[b] − ln p̂_raw[b])`.
    * High-weight documents look like the target; resampling (or
    * top-k selecting) by `w` shifts the raw corpus toward it.
    *
    * Determinism: bucket hashing is content-stable md5 (no
    * engine-private hash seed), both smoothed log-ratios are computed
    * in one fixed double expression, and the per-doc sum is an
    * ordered left fold over bucket id — bit-identical on every
    * engine, partitioning, and parallelism.
    *
    * Scale: the per-doc (id, bucket, count) frame is the only
    * corpus-sized shuffle (one map-side-combined groupBy); both
    * bucket distributions aggregate to `m` rows, their totals are a
    * 2-scalar driver fetch (same regime as [[tfidfTopK]]'s doc
    * count), and the m-row ratio table joins back broadcast — the
    * corpus never shuffles a second time.
    *
    * Below 10⁵ documents ([[DsirDriverGate]]) with non-null integral
    * ids, the features `(id, __t, __cnts)` are collected once
    * (`graft.ml.Gate`) and the fit and the scores are computed on the
    * driver exactly as the plan computes them ([[dsirLocal]]); the
    * result is a local frame with the plan's schema, sorted by id, and
    * the feature cache is not filled. At or above the gate, or with
    * null or non-integral ids, the plan above runs unchanged. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, m: Int = 64): DataFrame =
    dsirWeights(df, idCol, textCol, targetPred, m, DsirDriverGate)

  /** Documents below which [[dsirWeights]] fits and scores on the
    * driver. */
  private[graft] val DsirDriverGate: Long = 100000L

  /** [[dsirWeights]] under an explicit gate in documents; `gate = 0`
    * forces the plan (the parity specs' lever). */
  private[graft] def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, m: Int, gate: Long): DataFrame = {
    require(m > 0, s"m must be positive, got $m")
    // the whole weight frame (one small row per doc) is the Memo'd
    // unit: the scorer (text_dsir_weights) builds it, the selector
    // (text_dsir_select) reuses it — scoring pays for the ngram pass
    // once per corpus, like every other shared-pass family
    graft.queries.Memo.cached(df.sparkSession, "dsir", Seq(df),
        m, targetPred, idCol, textCol, gate) {
      dsirLocal(df, idCol, textCol, targetPred, m, gate).getOrElse(
        dsirScoreWith(df, idCol, textCol, targetPred,
          dsirRatioTable(df, idCol, textCol, targetPred, m), m))
    }
  }

  /** The driver side of [[dsirWeights]]: one gated collect of the
    * (unmemoized) features, then what the plan computes — per-bucket
    * long sums (`when(__t)` counts only true), the two totals, `__lr`
    * with Spark's `log` (`StrictMath.log`) over the same long → double
    * casts, `n_ngrams` as a long sum and `log_w` as the left fold in
    * bucket order, rounded HALF_UP at 6 dp through
    * `BigDecimal.valueOf(d).setScale` as Spark's `round` does (NaN and
    * ±Inf pass through). None: the plan's side. */
  private def dsirLocal(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, m: Int, gate: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    import scala.jdk.CollectionConverters._
    val features = dsirFeaturePlan(df, idCol, textCol, targetPred, m)
    features.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case _ => return None
    }
    graft.ml.Gate.collectBelow(features, gate)(
        r => if (r.isNullAt(0)) Long.MinValue else r.getAs[Number](0).longValue)
      .filter(_.forall(!_.isNullAt(0)))
      .map(rows => df.sparkSession.createDataFrame(dsirLocalRows(rows, m).asJava,
        dsirScore(features, idCol, Seq.fill(m)(0.0)).schema))
  }

  /** [[dsirLocal]]'s fit and scores over id-sorted feature rows. */
  private def dsirLocalRows(rows: Array[Row], m: Int): Seq[Row] = {
    val cnts = rows.map(_.getSeq[Long](2).toArray)
    val ct = new Array[Long](m); val cr = new Array[Long](m)
    rows.indices.foreach { i =>
      val tgt = !rows(i).isNullAt(1) && rows(i).getBoolean(1)
      var b = 0
      while (b < m) {
        if (tgt) ct(b) += cnts(i)(b)
        cr(b) += cnts(i)(b)
        b += 1
      }
    }
    val (tt, tr) = (ct.sum, cr.sum)
    val lr = Array.tabulate(m)(b =>
      StrictMath.log((ct(b) + 1).toDouble / (tt + m).toDouble) -
        StrictMath.log((cr(b) + 1).toDouble / (tr + m).toDouble))
    rows.indices.map { i =>
      val c = cnts(i)
      var acc = 0.0; var b = 0
      while (b < m) { acc += c(b).toDouble * lr(b); b += 1 }
      val logW = if (acc.isNaN || acc.isInfinite) acc
        else java.math.BigDecimal.valueOf(acc)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      Row(rows(i).get(0), rows(i).get(1), c.sum, logW)
    }
  }

  /** Hashed-ngram featurization shared by the DSIR paths: ONE row per
    * doc — (idCol, __t = targetPred, __cnts = dense m-slot bucket
    * count array). The map-side FOLD design (VERDICT r8 #4): a single
    * per-doc kernel tokenizes, hashes every unigram/bigram (md5 first
    * 8 hex chars, base-16 → mod m — bit-identical to the SQL
    * `conv(substr(md5(ng),1,8),16,10) % m` the DuckDB oracle
    * recomputes), and folds counts into a fixed 64-length array
    * BEFORE anything shuffles. The old shape — explode O(ngrams)
    * rows → groupBy(doc, bucket) — paid a generator, a 200k-group
    * hash aggregate, and a shuffle per pass; this pays one map pass
    * and shuffles NOTHING (the ratio-table fit aggregates the arrays
    * to m rows; the scorer never shuffles at all). The kernel is a
    * UDF by necessity: Catalyst can express the fold only as the
    * explode+groupBy it replaces, or as an O(ngrams×m) HOF — the
    * same necessity class as the DTW/resize kernels. Carrying
    * targetPred here (key includes it) lets both consumers skip
    * their id-equi-joins entirely. Memo'd per (input, pred, params):
    * inside [[dsirWeights]] the fit and the scorer read the SAME
    * featurization once. */
  private def dsirFeatures(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, m: Int): DataFrame =
    graft.queries.Memo.cached(df.sparkSession, "dsirb2", Seq(df),
        m, targetPred, idCol, textCol)(dsirFeaturePlan(df, idCol, textCol, targetPred, m))

  /** [[dsirFeatures]]' plan, not memoized: the driver path collects it
    * once and never fills the feature cache. */
  private def dsirFeaturePlan(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, m: Int): DataFrame = {
    val bucketCounts = udf((text: String) =>
      if (text == null) null
      else {
        // replicate tokensCol = split(lower(trim(text)), "\s+")
        // exactly: Spark trim strips U+0020 only; lower is
        // locale-agnostic (ROOT)
        var b = 0; var e = text.length
        while (b < e && text.charAt(b) == ' ') b += 1
        while (e > b && text.charAt(e - 1) == ' ') e -= 1
        val toks = text.substring(b, e)
          .toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
        val md = java.security.MessageDigest.getInstance("MD5")
        val cnt = new Array[Long](m)
        def add(ng: String): Unit = {
          val d = md.digest(ng.getBytes("UTF-8"))
          // first 8 hex chars == first 4 digest bytes, unsigned
          val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
            ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
          cnt((h % m).toInt) += 1
          md.reset()
        }
        var i = 0
        while (i < toks.length) {
          add(toks(i))
          if (i + 1 < toks.length) add(toks(i) + " " + toks(i + 1))
          i += 1
        }
        cnt
      })
    df.select(col(idCol), targetPred.as("__t"),
        bucketCounts(col(textCol)).as("__cnts"))
      .filter(col("__cnts").isNotNull)
  }

  /** The fit half of [[dsirWeights]]' plan: the m-row importance
    * log-ratio table over the corpus, (__b, __lr) with
    * `__lr = ln p̂_tgt[b] − ln p̂_raw[b]`, add-one smoothed.
    * [[dsirScoreWith]] then scores the same corpus against it. */
  private def dsirRatioTable(ref: DataFrame, idCol: String, textCol: String,
      targetPred: Column, m: Int): DataFrame = {
    val spark = ref.sparkSession
    // per-bucket totals from the dense count arrays: posexplode to
    // (bucket, count) rows — O(docs × m), map-side combined to m rows
    // per partition before the one metadata-sized shuffle
    val byBucket = dsirFeatures(ref, idCol, textCol, targetPred, m)
      .select(col("__t"), posexplode(col("__cnts")).as(Seq("__b", "__c")))
      .groupBy(col("__b").cast("long").as("__b"))
      .agg(sum(when(col("__t"), col("__c")).otherwise(0L)).as("__ct"),
        sum(col("__c")).as("__cr"))
    // totals as a broadcast 1-row frame instead of a driver head()
    // fetch: one fewer eager job per fit, same exact integer sums
    val tots = byBucket.agg(
      coalesce(sum(col("__ct")), lit(0L)).as("__tt"),
      coalesce(sum(col("__cr")), lit(0L)).as("__tr"))
    spark.range(m).toDF("__b")
      .join(byBucket, Seq("__b"), "left")
      .crossJoin(broadcast(tots))
      .select(col("__b"),
        (log((coalesce(col("__ct"), lit(0L)) + 1).cast("double") /
            (col("__tt") + m).cast("double")) -
          log((coalesce(col("__cr"), lit(0L)) + 1).cast("double") /
            (col("__tr") + m).cast("double"))).as("__lr"))
  }

  /** The score half of [[dsirWeights]]' plan: each doc of `docs`
    * scored against the ratio table [[dsirRatioTable]] fit on the same
    * corpus. Output: (idCol, is_target, n_ngrams, log_w).
    *
    * The ratio table is m rows by construction (metadata-sized): it
    * collects to an m-element literal and scoring is a PURE MAP over
    * the per-doc count arrays — zero joins, zero shuffles; the plan
    * is scan → fold (PlanSpec pins it). log_w folds c_b·lr_b in
    * ascending bucket order via zip_with + aggregate — the same
    * ordered summation as the old per-(doc,bucket) sort_array fold
    * (one term per bucket, zero-count buckets contribute +0.0), so
    * the result is bit-identical at any parallelism. */
  private def dsirScoreWith(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, ratio: DataFrame, m: Int): DataFrame = {
    val lrByBucket = ratio.select(col("__b").cast("int"), col("__lr"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val lrArr = (0 until m).map(b => lrByBucket.getOrElse(b, 0.0))
    dsirScore(dsirFeatures(docs, idCol, textCol, targetPred, m), idCol, lrArr)
  }

  /** The per-doc scorer over features and a collected log-ratio array. */
  private def dsirScore(features: DataFrame, idCol: String, lrArr: Seq[Double]): DataFrame =
    features.select(col(idCol), col("__t").as("is_target"),
      aggregate(col("__cnts"), lit(0L), (acc, x) => acc + x).as("n_ngrams"),
      round(aggregate(
        zip_with(col("__cnts"), typedLit(lrArr), (c, lr) => c.cast("double") * lr),
        lit(0.0), (acc, x) => acc + x), 6).as("log_w"))

  /** Code-vs-prose document routing ([EXT] — the corpus-construction
    * step that sends source code and natural language down different
    * curation paths, as every code-capable data pipeline does):
    * per-document structural signals — code-sigil density
    * (`{}[]();=` per char), indented-line fraction, statement-
    * terminator line fraction, code-keyword count — and the routing
    * decision (`route = 'code'` when sigil density ≥ 0.02 on the
    * 6dp-rounded value AND ≥ 3 keyword hits, else `'prose'`).
    * All regexes are RE2-compatible character classes that mean the
    * same thing in Java regex and DuckDB; fractions divide exact
    * integer counts and round at 6dp, and the route thresholds
    * compare the ROUNDED density (integer-exact keyword count for
    * the other arm), so the decision is engine-stable. Per-row
    * column work only — no shuffle, no UDF. */
  def structureRoute(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val lines = split(t, "\n")
    val nL = size(lines)
    val indentFrac = round(
      size(filter(lines, l => l.rlike("^(    |\t)"))).cast("double") / nL, 6)
    val termFrac = round(
      size(filter(lines, l => l.rlike("[;{}]\\s*$"))).cast("double") / nL, 6)
    val sigilDensity = round(when(length(t) > 0,
      size(regexp_extract_all(t, lit("[{}\\[\\]();=]"), lit(0))).cast("double")
        / length(t)).otherwise(0.0), 6)
    val kw = regexp_count(t, lit(
      "\\b(val|var|def|class|import|return|if|for|while|fun|let|const)\\b"))
      .cast("long")
    df.select(col(idCol), nL.cast("long").as("n_lines"),
        indentFrac.as("indent_frac"), termFrac.as("term_frac"),
        sigilDensity.as("sigil_density"), kw.as("code_kw"))
      .withColumn("route",
        when(col("sigil_density") >= 0.02 && col("code_kw") >= 3, "code")
          .otherwise("prose"))
  }

  /** PII scrubbing: count and redact email addresses, URLs, phone
    * numbers and IPv4 addresses. The patterns are deliberately
    * conservative character-class regexes that mean the same thing in
    * Java regex and DuckDB's RE2 (no lookaround, no backrefs), so the
    * oracle reproduces the redacted text bit-for-bit; the redacted
    * column is fingerprinted (md5) rather than emitted raw. Per-row,
    * no shuffle.
    *
    * Conservative by design: the phone shape requires separators
    * (+CC / (NXX) / dashes / dots) so a bare 10-digit run is NOT
    * flagged — fewer false redactions at the cost of missing unpunctuated
    * numbers; the IPv4 \b boundaries are ASCII-identical in both
    * engines but will match the leading 4 octets of a longer dotted
    * run (e.g. a version string 1.2.3.4.5). Scrub order is URL →
    * email → phone → IP, so digits inside a URL are already gone when
    * the number passes run; the n_* counts are over the RAW text. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlRe = "https?://[^ \\t\\n]+"
  val phoneRe = "(\\+?[0-9]{1,3}[-. (]{1,2})?[0-9]{3}[-. )]{1,2}[0-9]{3}[-. ]?[0-9]{4}"
  val ipv4Re = "\\b(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}\\b"
  def redact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(t, urlRe, "<URL>"), emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>"), ipv4Re, "<IP>")
    // Column API, not expr(): a SQL string literal would eat the
    // regex backslashes (Spark parses \ escapes in literals)
    df.select(col(idCol),
      size(regexp_extract_all(t, lit(emailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(urlRe), lit(0))).cast("long").as("n_urls"),
      size(regexp_extract_all(t, lit(phoneRe), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(t, lit(ipv4Re), lit(0))).cast("long").as("n_ips"),
      md5(scrubbed.cast("binary")).as("redacted_fp"))
  }

  /** Deterministic train/val/test split by content-stable hash:
    * bucket = first 8 md5 hex digits of the id mod 100. Stable across
    * runs, partitionings, and engines (the standard way to split a
    * corpus without materializing an assignment table). */
  def splitAssign(df: DataFrame, idCol: String,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val bucket = expr(
      s"conv(substr(md5(cast($idCol AS STRING)), 1, 8), 16, 10) % 100").cast("int")
    df.select(col(idCol), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** GROUPED train/val/test split ([EXT]): bucket on the md5 of a
    * GROUP column (domain, source, author) so every document of a
    * group lands in the same split — the standard fix for the
    * leakage mode [[splitAssign]] is vulnerable to and `splitLeakage`
    * audits for: near-duplicate documents cluster within a domain, so
    * per-document hashing scatters a dup cluster across train and
    * test and the eval set silently overlaps training. Same
    * content-stable bucket arithmetic; per-row map-side work, zero
    * shuffle; split fractions hold in expectation over GROUPS (a huge
    * domain skews realized doc fractions — that is inherent to
    * grouped splitting, not a bug). */
  def splitAssignGrouped(df: DataFrame, idCol: String, groupCol: String,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    val bucket = expr(
      s"conv(substr(md5(cast($groupCol AS STRING)), 1, 8), 16, 10) % 100")
      .cast("int")
    df.select(col(idCol), col(groupCol), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Per-document top-k TF-IDF terms (SURVEY §7.2 names TF-IDF among
    * the built-in mappings): tf = term count within the doc, idf =
    * ln(N / df) over raw document frequency. Ties rank by term asc, so
    * output is deterministic across engines (identical double math on
    * both sides).
    *
    * Scale: two aggregations (per-doc tf, per-term df) + one join on
    * the term and one per-doc top-k window. The df table is
    * vocabulary-sized — it joins sort-merge at corpus scale rather
    * than broadcasting. */
  /** One (id, w, tf) pass per (session, input) — Memo-shared by the
    * TF-IDF and BM25 retrieval queries, which are registry-adjacent
    * (within the staleness window): both need exactly this tokenize +
    * per-doc-term count shuffle, so a suite running both pays once. */
  private[graft] def termFrequencies(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.queries.Memo.cached(df.sparkSession, "tf", Seq(df), idCol, textCol)(
      tokens(df, idCol, textCol)
        .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf")))

  /** Vocabulary-sized (w, df) table derived from [[termFrequencies]] —
    * Memo'd with the same key discipline: TF-IDF and BM25 both
    * aggregate it from the corpus-sized tf table, so the suite pays
    * for that reduce once. */
  private[graft] def docFrequencies(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.queries.Memo.cached(df.sparkSession, "dfreq", Seq(df), idCol, textCol)(
      termFrequencies(df, idCol, textCol)
        .groupBy(col("w")).agg(count(lit(1)).as("df")))

  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = df.count().toDouble
    val tf = termFrequencies(df, idCol, textCol)
    val dfreq = docFrequencies(df, idCol, textCol)
    val scored = tf.join(dfreq, "w")
      .withColumn("tfidf", col("tf") * log(lit(nDocs) / col("df")))
    val win = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("w").asc)
    scored.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk").cast("long").as("rk"),
        col("w").as("term"), round(col("tfidf"), 6).as("tfidf"))
  }

  /** Deterministic stratified sampling: keep a document iff its hash
    * bucket (same content-stable md5 bucket as [[splitAssign]]) falls
    * under its stratum's percentage. The standard corpus-curation move
    * — downsample the dominant language/source, keep the rest — with
    * zero randomness: the same doc is kept or dropped on every run,
    * every partitioning, every engine. Map-side filter only; no
    * shuffle, no sampling state. */
  /** Neyman-optimal stratified sample allocation (Neyman JRSS 1934):
    * for a fixed total budget `totalN`, allocate n_h ∝ N_h·S_h — more
    * budget to big AND internally-varied strata — against the naive
    * proportional n_h ∝ N_h. For the stratified-mean estimator,
    * Var = Σ (N_h/N)²·S_h²/n_h, which Neyman allocation minimizes; a
    * curation pipeline uses this to size per-source audit samples so
    * label effort goes where the quality signal actually varies.
    *
    * Determinism: per-stratum sums are exact integer folds (order
    * free), std_pop is ONE shared IEEE chain off those integers and
    * is micro-quantized BEFORE the cross-strata weight sum, so the
    * weight denominator is an exact BIGINT — the allocation integers
    * are engine- and partitioning-independent by construction.
    * Shape: one map-side-combined groupBy onto |strata| rows; the
    * totals ride a 1-row broadcast (lazy, no eager driver action).
    * Zero-variance strata draw the floor allocation of 1; if EVERY
    * stratum is zero-variance the weights degenerate and the
    * allocation falls back to proportional. Allocations are capped
    * at the stratum population.
    *
    * Exactness bound: the weight numerator n_h·std6 is an exact
    * BIGINT while n_h·S_h < 9.2·10¹² (e.g. 10¹⁰ docs per stratum at
    * length-std ≤ 900) — far past any labeling-budget use; beyond it,
    * pre-scale `valueCol` down rather than letting the product wrap. */
  def neymanAllocation(df: DataFrame, strataCol: String, valueCol: String,
      totalN: Long): DataFrame = {
    require(totalN >= 1, s"totalN must be >= 1, got $totalN")
    val per = df.na.drop(Seq(strataCol, valueCol))
      .select(col(strataCol).as("stratum"), col(valueCol).cast("long").as("__v"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__v")).as("__s"),
        sum(col("__v") * col("__v")).as("__s2"))
      // std_pop = sqrt(n·Σv² − (Σv)²) / n — the numerator products run
      // in DOUBLE (fl(fl(s2·n) − fl(s·s)), the identical chain the
      // oracle replays): all-long arithmetic wrapped (Σv)² past
      // Σv ≈ 3·10⁹ (ADVICE r10), e.g. 10⁷ docs × length 10³. The
      // double chain never wraps; past 2^53 it loses low bits
      // symmetrically on both engines, and greatest(…, 0) absorbs
      // cancellation. Micro-quantized ONCE and reused for both the
      // reported column and the weight arithmetic.
      .withColumn("__std6", floor(
        sqrt(greatest(col("__s2").cast("double") * col("n_rows").cast("double")
          - col("__s").cast("double") * col("__s").cast("double"), lit(0.0)))
          / col("n_rows") * lit(1e6)
          + lit(0.5)).cast("long"))
      .withColumn("__ns", col("n_rows") * col("__std6"))
    val tot = per.agg(sum(col("n_rows")).as("__N"),
      sum(col("__ns")).as("__nsT"))
    per.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_rows"),
        (col("__std6").cast("double") / lit(1e6)).as("std_value"),
        least(col("n_rows"), greatest(lit(1L),
          floor(lit(totalN) * col("n_rows").cast("double") / col("__N")
            + lit(0.5)).cast("long"))).as("alloc_prop"),
        least(col("n_rows"), greatest(lit(1L),
          when(col("__nsT") > 0L,
            floor(lit(totalN) * col("__ns").cast("double") / col("__nsT")
              + lit(0.5)).cast("long"))
          .otherwise(floor(lit(totalN) * col("n_rows").cast("double")
            / col("__N") + lit(0.5)).cast("long")))).as("alloc_neyman"))
  }

  def sampleStratified(df: DataFrame, idCol: String, strataCol: String,
      ratesPct: Map[String, Int], defaultPct: Int): DataFrame = {
    val bucket = expr(
      s"conv(substr(md5(cast($idCol AS STRING)), 1, 8), 16, 10) % 100").cast("int")
    val pct = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (k, p)) =>
      when(col(strataCol) === k, lit(p)).otherwise(acc)
    }
    df.withColumn("__b", bucket).filter(col("__b") < pct).drop("__b")
  }

  /** Mixture reweighting: sample each stratum at the rate that steers
    * the kept corpus toward `targetShares` (the data-mixing step of a
    * training pipeline — "25% English, 30% German, …"). Per-stratum
    * keep rate = min(1, target·N / n_s), quantized to basis points and
    * applied with the same content-stable md5 bucket as
    * [[sampleStratified]] (bucket-of-10000 for rate resolution), so
    * the same doc is kept or dropped on every run, partitioning, and
    * engine. Strata absent from `targetShares` get rate 0 (blocklist
    * semantics); over-requested strata cap at keeping everything —
    * this sampler only removes, it cannot replicate (upsampling is a
    * repeat-epoch decision downstream, not a row transform).
    *
    * Scale: one count aggregation for the stratum totals, rates joined
    * back as a broadcast (strata ≪ corpus), then a map-side filter —
    * the corpus itself never shuffles. */
  def sampleMixture(df: DataFrame, idCol: String, strataCol: String,
      targetShares: Map[String, Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    // grand total via an unpartitioned window over the per-stratum
    // counts (strata ≪ corpus, so the single-partition window is a
    // no-op cost) — a crossJoin of two aggregates of the same df trips
    // self-join attribute disambiguation. NOTE the two count columns
    // differ by more than case: Spark resolves names
    // case-INsensitively by default, so "__n"/"__N" would silently be
    // one column (withColumn REPLACES instead of adding).
    val totals = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n_s"))
      .withColumn("__n_tot", sum(col("__n_s")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val tgt = targetShares.toSeq.toDF(strataCol, "__share")
    val rates = totals.join(tgt, Seq(strataCol), "left")
      .withColumn("__rate_bp",
        least(lit(10000L),
          floor(coalesce(col("__share"), lit(0.0)) * col("__n_tot") / col("__n_s")
            * lit(10000.0)).cast("long")))
      .select(col(strataCol), col("__rate_bp"))
    val bucket = expr(
      s"conv(substr(md5(cast($idCol AS STRING)), 1, 8), 16, 10) % 10000").cast("long")
    df.join(broadcast(rates), Seq(strataCol))
      .withColumn("__b", bucket)
      .filter(col("__b") < col("__rate_bp"))
      .drop("__b", "__rate_bp")
  }

  /** Cross-source vocabulary (word-shingle) overlap matrix WITHOUT a
    * corpus self-join: per-source Datasketches HLL sketches (default
    * lgK=16 → ±0.4% RSE, ≤64 KB each, mergeable) are built in one
    * map-side-combined pass over the shingle frame, then
    * inclusion-exclusion over the |sources|² pairwise sketch unions
    * estimates every intersection — at 100 TB the corpus is scanned
    * once and only |sources| sketches move; no shingle ever crosses
    * the pair grid. (The house minhash `dedup_source_matrix` answers
    * "which DOCS are near-dups across sources"; this answers "how much
    * VOCABULARY do sources share" — the domain-diversity signal a
    * mixture planner reads.)
    *
    * The exact columns (overlap, union) come from a distinct-shingle
    * self-join — the oracle harness, fine at test scale, skipped at
    * corpus scale where the sketch estimate IS the product. Raw
    * estimates are deliberately NOT emitted: a Datasketches sketch's
    * final sparse-vs-dense mode can depend on partition merge order,
    * so the hash-stable surface is exact counts plus the tolerance
    * verdict |est − exact| ≤ max(5, 0.05·union). Inclusion-exclusion
    * error scales with the UNION (all three estimates contribute their
    * RSE), so the union-relative tolerance is the honest contract —
    * and ≥7σ at lgK=16, so the flag is deterministic in practice.
    *
    * `sh` is a (srcCol, "s") shingle frame (one row per doc-shingle,
    * e.g. [[shingles]] keyed by source) — passed in so the caller can
    * Memo-share the corpus-sized shingling pass. */
  def sourceVocabOverlap(sh: DataFrame, srcCol: String,
      lgK: Int = 16): DataFrame = {
    val sk = sh.groupBy(col(srcCol))
      .agg(hll_sketch_agg(col("s"), lit(lgK)).as("sk"))
    val ex = sh.select(col(srcCol), col("s")).distinct()
    val vocab = ex.groupBy(col(srcCol)).agg(count(lit(1)).as("vocab"))
    val pairsExact = ex.toDF(srcCol, "s").as("a")
      .join(ex.toDF(srcCol, "s").as("b"),
        col("a.s") === col("b.s") && col(s"a.$srcCol") < col(s"b.$srcCol"))
      .groupBy(col(s"a.$srcCol").as("source_a"),
        col(s"b.$srcCol").as("source_b"))
      .agg(count(lit(1)).as("overlap"))
    val grid = sk.select(col(srcCol).as("source_a"), col("sk").as("sk_a"))
      .crossJoin(sk.select(col(srcCol).as("source_b"), col("sk").as("sk_b")))
      .filter(col("source_a") < col("source_b"))
      .withColumn("est_inter",
        hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b"))
          - hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
    grid
      .join(pairsExact, Seq("source_a", "source_b"), "left")
      .join(broadcast(vocab.toDF(srcCol, "vocab"))
        .withColumnRenamed(srcCol, "source_a")
        .withColumnRenamed("vocab", "vocab_a"), Seq("source_a"))
      .join(broadcast(vocab.toDF(srcCol, "vocab"))
        .withColumnRenamed(srcCol, "source_b")
        .withColumnRenamed("vocab", "vocab_b"), Seq("source_b"))
      .withColumn("overlap", coalesce(col("overlap"), lit(0L)))
      .withColumn("union_sz", col("vocab_a") + col("vocab_b") - col("overlap"))
      .select(col("source_a"), col("source_b"), col("overlap"), col("union_sz"),
        (abs(col("est_inter") - col("overlap")) <=
          greatest(lit(5.0), lit(0.05) * col("union_sz"))).as("sketch_ok"))
  }

  /** Per-source corpus-stats drift between two snapshots — the TEXT
    * twin of [[graft.ext.Similarity.dimDrift]] and the gate a refresh
    * pipeline runs before retraining on snapshot B: a source whose
    * document count collapsed (crawler / robots change) or whose
    * length distribution shifted (template change, truncation bug)
    * invalidates downstream calibrations (quality cutoffs, mixture
    * plans, packing bins) fitted on A. Verdicts per source:
    * `len_drift` when |mean_b − mean_a| > relTol·mean_a, and
    * `coverage_drift` when n_b < coverTol·n_a (a vanished source —
    * full-outer join — counts 0 and trips it; its mean is NULL, a
    * drop candidate surfaced, not a divide-by-zero).
    *
    * Scale: two map-side-combined groupBys on the source key + one
    * |sources|-row join — the corpora never join each other. Means
    * are quotients of exact integer sums (length + count), so both
    * engines perform ONE identical IEEE division and the flag
    * comparisons are deterministic. */
  def statsDrift(a: DataFrame, b: DataFrame, srcCol: String,
      textCol: String, relTol: Double = 0.05,
      coverTol: Double = 0.9): DataFrame = {
    def side(df: DataFrame, sfx: String) =
      df.groupBy(col(srcCol)).agg(
        count(lit(1)).as(s"n$sfx"),
        sum(length(col(textCol)).cast("long")).as(s"chars$sfx"))
    side(a, "_a").join(side(b, "_b"), Seq(srcCol), "full")
      .withColumn("n_a", coalesce(col("n_a"), lit(0L)))
      .withColumn("n_b", coalesce(col("n_b"), lit(0L)))
      .withColumn("mean_len_a",
        when(col("n_a") > 0,
          round(col("chars_a") / col("n_a"), 6)))
      .withColumn("mean_len_b",
        when(col("n_b") > 0,
          round(col("chars_b") / col("n_b"), 6)))
      .select(col(srcCol).as("source"), col("n_a"), col("n_b"),
        col("mean_len_a"), col("mean_len_b"),
        coalesce(abs(col("chars_b") / col("n_b") - col("chars_a") / col("n_a"))
          > lit(relTol) * (col("chars_a") / col("n_a")), lit(true))
          .as("len_drift"),
        (col("n_b") < lit(coverTol) * col("n_a")).as("coverage_drift"))
  }

  /** Sketch-rollup mergeability audit — the incremental
    * pre-aggregation pattern that makes distinct-counting tractable at
    * 100 TB: partial HLL sketches are built per (srcCol, subCol) cell
    * (the "persisted daily partials" analog — in production they land
    * in a rollup table and new data only touches its own cell), then
    * UNIONED along subCol to answer the source-level question without
    * rescanning the corpus. Emits, per source, the exact distinct
    * count (oracle harness) and two verdicts: the rolled-up union
    * within tolerance of exact, and a directly-built source-level
    * sketch within the same tolerance — together they pin that union
    * loses nothing material vs sketching the stream whole. Tolerance
    * max(5, 3%·exact) ≈ 7.5σ at lgK=16, so the booleans are
    * deterministic in practice; raw estimates stay internal (sketch
    * mode can depend on partition merge order).
    *
    * `sh` is a (srcCol, subCol, "s") shingle frame (e.g.
    * [[shinglesKeyed]]) so callers Memo-share the corpus pass. */
  def sourceVocabRollup(sh: DataFrame, srcCol: String, subCol: String,
      lgK: Int = 16): DataFrame = {
    val partials = sh.groupBy(col(srcCol), col(subCol))
      .agg(hll_sketch_agg(col("s"), lit(lgK)).as("sk"))
    val rolled = partials.groupBy(col(srcCol))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_rollup"))
    val direct = sh.groupBy(col(srcCol))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("s"), lit(lgK))).as("est_direct"))
    val exact = sh.select(col(srcCol), col("s")).distinct()
      .groupBy(col(srcCol)).agg(count(lit(1)).as("vocab"))
    val tol = greatest(lit(5.0), lit(0.03) * col("vocab"))
    exact.join(rolled, srcCol).join(direct, srcCol)
      .select(col(srcCol).as("source"), col("vocab"),
        (abs(col("est_rollup") - col("vocab")) <= tol).as("rollup_ok"),
        (abs(col("est_direct") - col("vocab")) <= tol).as("direct_ok"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * via the exponential-race formulation): item i gets an arrival
    * time T_i = −ln(u_i)/w_i — an Exp(w_i) draw from a deterministic
    * md5-derived uniform — and the k earliest arrivals are exactly a
    * weighted sample without replacement (P(first) = w_i/Σw, then
    * renormalized over the remainder). Weighting by token mass is the
    * epoch-sampling idiom: a 10k-token doc should be k× as likely to
    * enter a token-budgeted subsample as a 1k-token one.
    *
    * Scale: `orderBy(T).limit(k)` compiles to TakeOrderedAndProject —
    * every partition keeps a local k-heap and ships only its top k to
    * the single merge; no global sort, no corpus shuffle (PlanSpec
    * pins the plan shape). This IS the distributed weighted reservoir:
    * the per-partition heap is the reservoir, the merge is the
    * tournament.
    *
    * Determinism: u_i derives from md5(id) (the house content-stable
    * bucket idiom — same sample on every run, partitioning, and
    * engine); u = (h + 0.5)/2^32 is exact IEEE arithmetic on both
    * engines, and the arrival time is floor-quantized to 1e-9 before
    * ordering (ties broken by id) so a last-ulp libm `ln` divergence
    * between the JVM and the oracle cannot flip the comparison. */
  def sampleWeighted(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"sampleWeighted: k must be > 0 (got $k)")
    val h = expr(
      s"conv(substr(md5(cast($idCol AS STRING)), 1, 8), 16, 10)").cast("double")
    val u = (h + lit(0.5)) / lit(4294967296.0)
    // nonpositive weights would turn the division into ±Inf/NaN, and
    // floor(NaN) casts to NULL which sorts FIRST ascending — silently
    // winning the race. Pin them to the worst possible arrival instead:
    // a w ≤ 0 row is deterministically never selected.
    val arrival = when(col(weightCol) <= 0, lit(Long.MaxValue))
      .otherwise(floor(-log(u) / col(weightCol).cast("double") * lit(1e9))
        .cast("long"))
    df.withColumn("__t", arrival)
      .orderBy(col("__t"), col(idCol))
      .limit(k)
      .drop("__t")
  }

  /** Greedy sequential token packing: assign docs (in id order, within
    * a partition key) to consecutive bins of ~`binTokens` tokens — the
    * shape of a training-shard packer. A doc lands in the bin its
    * cumulative predecessor count fills: bin = floor(cumsum_before /
    * binTokens); bins can overflow by at most one doc (greedy, no doc
    * splitting — documented semantics, matching how sequence packers
    * batch before truncation).
    *
    * Scale: the window partitions by `partCol` (e.g. the split-assign
    * bucket), so each partition's cumsum is independent — no global
    * ordering, one shuffle on the partition key. */
  def packBins(df: DataFrame, idCol: String, tokensCol: String,
      partCol: String, binTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(partCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // input columns pass through untouched (callers carry labels like
    // the split name alongside); only `bin` is added
    df.withColumn("__before",
        coalesce(sum(col(tokensCol).cast("long")).over(w), lit(0L)))
      .withColumn("bin", floor(col("__before") / binTokens).cast("long"))
      .drop("__before")
  }

  /** Packed-sequence BOUNDARY artifact: what a trainer actually
    * consumes next to the packed bins — for each (partition, bin), the
    * ordered docs with their start offsets inside the bin (the
    * attention-mask reset points), doc count, and the token mass of
    * docs starting in the bin. Same greedy-chop semantics as
    * [[packBins]] (a doc straddling a boundary belongs to the bin its
    * first token lands in). The per-bin doc list is assembled with a
    * sort_array over collected structs — deterministic regardless of
    * partition order — and emitted as a compact `id@offset;…` string.
    * Scale: one window per partition key (same shuffle as packBins),
    * then a map-side groupBy on (part, bin); bins hold ~binTokens/
    * avg-doc tokens docs, so no collect grows with the corpus. */
  def packedBoundaries(df: DataFrame, idCol: String, tokensCol: String,
      partCol: String, binTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(partCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__before",
        coalesce(sum(col(tokensCol).cast("long")).over(w), lit(0L)))
      .withColumn("bin", floor(col("__before") / binTokens).cast("long"))
      .withColumn("__off", col("__before") - col("bin") * binTokens)
      .groupBy(col(partCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("bin_tokens"),
        array_join(transform(
          sort_array(collect_list(struct(col("__off"), col(idCol).as("__id")))),
          x => concat(x("__id").cast("string"), lit("@"), x("__off").cast("string"))),
          ";").as("doc_offsets"))
  }

  /** Per-stratum cap: keep the top `n` rows of each stratum (domain,
    * source, site) by `qualityCol` descending, ties broken by `idCol`
    * ascending — the standard web-corpus curation move that stops one
    * hot domain from dominating the training mix.
    *
    * Scale: a single rank window partitioned by the stratum sorts every
    * hot stratum's rows in ONE task, so the cap is computed in two
    * phases instead — a salted pre-prune (each (stratum, salt) slice
    * keeps its local top n, bounding any task's sort to 1/`salts` of
    * the hottest stratum) followed by an exact rank over the surviving
    * ≤ n·salts rows per stratum. Output and ranks are identical to the
    * direct window: a stratum's true top n always survives its slice. */
  def sourceCap(df: DataFrame, idCol: String, strataCol: String,
      qualityCol: String, n: Int, salts: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col(qualityCol).desc, col(idCol).asc)
    val pre = Window.partitionBy(col(strataCol),
      pmod(hash(col(idCol)), lit(salts))).orderBy(ord: _*)
    val fin = Window.partitionBy(col(strataCol)).orderBy(ord: _*)
    df.withColumn("__r", row_number().over(pre)).filter(col("__r") <= n)
      .withColumn("rank", row_number().over(fin).cast("long"))
      .filter(col("rank") <= n)
      .drop("__r")
  }

  /** Corpus-level n-gram duplication coverage (the RefinedWeb /
    * MassiveText-style boilerplate signal): per doc, the fraction of
    * its shingles that also appear in at least one OTHER doc's shingle
    * set. High coverage with no single near-dup partner = boilerplate
    * assembled from common fragments — invisible to pairwise dedup.
    * One df-count pass over the (shared, memoized) shingle table and
    * one join back; docs too short to shingle produce no row. */
  def ngramCoverage(sh: DataFrame, idCol: String): DataFrame = {
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("__df"))
    sh.join(dfreq, "s")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("__df") >= 2, 1)).as("n_shared"))
      .withColumn("dup_coverage",
        round(col("n_shared") / col("n_shingles"), 6))
  }

  /** Corpus vocabulary: global top-k tokens by total occurrence count,
    * with per-token document frequency — the first pass of tokenizer /
    * vocab construction and the input to stopword-list induction.
    *
    * Scale: one hash aggregation over the exploded token stream (the
    * map side combines per partition, so the shuffle carries one row
    * per distinct (partition, token), not per occurrence), then a
    * global top-k that executes as TakeOrderedAndProject — k rows per
    * partition cross the wire, never the full vocabulary. Ties break
    * by token ascending so the cut is deterministic. */
  /** PMI collocation mining (Church & Hanks 1990): adjacent word
    * pairs scored by pointwise mutual information
    * ln(p(ab) / (p(a)·p(b))) — the corpus-analysis pass that surfaces
    * multi-word units ("new york", "machine learning") for tokenizer
    * merge candidates, stopword-phrase lists, and boilerplate
    * signatures. p(ab) over adjacent-bigram occurrences, p(·) over
    * unigram occurrences.
    *
    * Shape: one corpus pass explodes adjacent bigrams via a zip of
    * the token array with its own tail (codegen'd `zip_with`/`slice`,
    * no UDF), one map-side-combined groupBy per table; `minCount`
    * prunes the bigram tail BEFORE the margin joins (the hapax mass
    * carries no PMI evidence and would dominate row volume); the
    * unigram margins join onto the pruned bigrams; top-k rides
    * orderBy+limit (TakeOrderedAndProject — partition k-heaps, no
    * global sort). PMI is ONE shared IEEE chain over exact integer
    * counts (a single ln of a double ratio, micro-quantized), so the
    * ranking is engine-deterministic; ties break on (a, b). */
  def collocations(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L, k: Int = 100): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = df.select(tokensCol(col(textCol)).as("__t"))
    val uni = toks.select(explode(col("__t")).as("w"))
    val uc = uni.groupBy("w").agg(count(lit(1)).as("c"))
    val n1 = uni.agg(count(lit(1)).as("__n1"))
    val bi = toks.select(explode(expr(
        """zip_with(slice(__t, 1, size(__t) - 1),
          |         slice(__t, 2, size(__t) - 1),
          |         (x, y) -> named_struct('a', x, 'b', y))""".stripMargin))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val bc = bi.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val n2 = bi.agg(count(lit(1)).as("__n2"))
    bc.join(uc.select(col("w").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uc.select(col("w").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        (floor(log(
          (col("c_ab").cast("double") * col("__n1") * col("__n1"))
            / (col("__n2").cast("double") * col("c_a") * col("c_b")))
          * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("pmi"))
      .orderBy(desc("pmi"), asc("a"), asc("b"))
      .limit(k)
  }

  def vocabTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), explode(tokensCol(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_total"),
        countDistinct(col(idCol)).as("n_docs"))
      .orderBy(desc("n_total"), asc("token"))
      .limit(k)

  /** Vocabulary coverage curve ([EXT]): for each candidate vocabulary
    * size N, the fraction of token OCCURRENCES covered by the N most
    * frequent words — the chart a tokenizer budget is chosen from
    * (where coverage flattens, added vocab buys nothing; the
    * complement of the [[fertility]] trade-off).
    *
    * Scale: one token pass to the (word, freq) table (Memo'd —
    * |vocab| rows, ≪ corpus), then each cutoff's top-N sum runs
    * through sort+limit, which Spark compiles to
    * TakeOrderedAndProject (per-partition N-heaps) — NO global sort
    * or single-partition rank window over the vocabulary, which at a
    * 100-TB corpus is itself a big table. Ties at the cut break by
    * word ascending; coverage is quantized with the floor(x·1e6+0.5)
    * halfway rule. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ > 0), "sizes must be positive")
    val tf = tokenFreq(df, idCol, textCol)
    val totals = tf.agg(sum(col("f")).as("__tot"))
    sizes.map { n =>
      tf.orderBy(col("f").desc, col("w").asc).limit(n)
        .agg(coalesce(sum(col("f")), lit(0L)).as("covered"),
          count(col("f")).as("n_words"))
        .withColumn("vocab_size", lit(n.toLong))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(totals))
      .select(col("vocab_size"), col("n_words"), col("covered"),
        col("__tot").as("total_tokens"),
        (floor(col("covered").cast("double") / col("__tot") * lit(1e6)
          + lit(0.5)).cast("double") / lit(1e6)).as("coverage"))
  }

  /** The Memo'd (word, freq) table every vocabulary statistic shares —
    * one token pass per corpus per session, |vocab| rows (≪ corpus). */
  private def tokenFreq(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.queries.Memo.cached(df.sparkSession, "tokfreq", Seq(df), idCol, textCol)(
      df.select(explode(tokensCol(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f")))

  /** Per-source unigram KL divergence from the corpus distribution
    * ([EXT]): KL(p_src ‖ p_corpus) = Σ_w p(w|src)·ln(p(w|src)/p(w)) —
    * the mixture-design measure of how far each source's vocabulary
    * sits from the blend (a near-zero source adds nothing a uniform
    * sample wouldn't; a high-KL source is the distribution-shifting
    * one to up/down-weight deliberately). Every source word occurs in
    * the corpus, so the ratio is always finite and positive.
    *
    * Determinism: all counts exact; p and q are single BIGINT/BIGINT
    * double divisions, the per-word term p·ln(p/q) one identical IEEE
    * chain quantized to round(t·10⁹) — the cross-engine sum is an
    * exact integer sum (|Σt| ≤ ln vocab, so the integer total stays
    * ≲ 10¹⁰ at any corpus size). Output [[graft.ops.SeriesOps.q6]]-
    * style 6-dp.
    *
    * Scale: one tokenize pass → (source, word) map-side-combined
    * groupBy (THE corpus-sized shuffle); word totals re-aggregate that
    * |sources|·|vocab|-bounded table; source totals broadcast
    * (|sources| rows); the word join shuffles the sw table once more
    * on its natural key. Output: (source, n_tokens, n_words, kl). */
  def sourceKl(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val sw = df.select(col(srcCol).as("source"),
        explode(tokensCol(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
    val srcTot = sw.groupBy("source").agg(sum(col("c_sw")).as("c_s"))
    val wTot = sw.groupBy("w").agg(sum(col("c_sw")).as("c_w"))
    val tot = wTot.agg(sum(col("c_w")).as("c"))
    sw.join(wTot, Seq("w"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("__t", round(
        (col("c_sw").cast("double") / col("c_s"))
          * log((col("c_sw").cast("double") / col("c_s"))
            / (col("c_w").cast("double") / col("c"))) * lit(1e9), 0)
        .cast("long"))
      .groupBy("source")
      .agg(max(col("c_s")).as("n_tokens"),
        count(lit(1)).as("n_words"),
        (floor(sum(col("__t")).cast("double") / lit(1e9) * lit(1e6) + lit(0.5))
          .cast("double") / lit(1e6)).as("kl"))
  }

  /** Good–Turing unseen-mass estimate per source ([EXT]): from each
    * source's unigram counts, N (tokens), V (distinct words), n₁
    * (hapaxes), n₂ (dis legomena), and the Good–Turing estimate of
    * the UNSEEN vocabulary mass p₀ ≈ n₁/N — "how much of this
    * source's distribution have we not sampled yet", the saturation
    * check a crawl/tokenizer budget consults (a source with high
    * unseen mass rewards more collection; a saturated one doesn't).
    *
    * Determinism: every statistic is an exact integer count; the two
    * ratios are single BIGINT/BIGINT double divisions on the floor
    * halfway rule. Scale: one tokenize pass → (source, word)
    * map-side-combined groupBy, then a |sources|·|vocab|-bounded
    * re-aggregation — nothing corpus-sized past the first shuffle.
    * Output: (source, n_tokens, n_distinct, n_hapax, n_dis,
    * unseen_mass, coverage). */
  def goodTuring(df: DataFrame, srcCol: String, textCol: String): DataFrame =
    df.select(col(srcCol).as("source"),
        explode(tokensCol(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_dis"))
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        col("n_hapax"), col("n_dis"),
        (floor(col("n_hapax").cast("double") / col("n_tokens")
          * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("unseen_mass"),
        (floor((lit(1.0) - col("n_hapax").cast("double") / col("n_tokens"))
          * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("coverage"))

  /** Zipf rank-frequency fit ([EXT]): OLS slope/intercept of
    * ln(freq) on ln(rank) over the `topN` most frequent tokens — the
    * corpus-statistics sanity check (natural language sits near slope
    * −1; templated/synthetic corpora flatten or cliff). Shares the
    * Memo'd [[tokenFreq]] pass with [[vocabCoverage]]; the top-N cut
    * is sort+limit (TakeOrderedAndProject — per-partition heaps,
    * never a global rank window over the vocabulary), the rank window
    * runs over topN rows only.
    *
    * Determinism: each ln(rank)/ln(freq) is quantized to an exact
    * integer micro value, all OLS moments are integer sums, and the
    * closed-form slope/intercept is one identical IEEE chain on both
    * engines — outputs on the floor(x·1e4+0.5) halfway rule.
    * Output: one row (n_ranks, slope, intercept). */
  def zipfFit(df: DataFrame, idCol: String, textCol: String,
      topN: Int): DataFrame = {
    require(topN >= 3, s"need topN >= 3, got $topN")
    import org.apache.spark.sql.expressions.Window
    val top = tokenFreq(df, idCol, textCol)
      .orderBy(col("f").desc, col("w").asc).limit(topN)
    // bounded window: topN rows, not the vocabulary
    val w = Window.orderBy(col("f").desc, col("w").asc)
    val q = top.withColumn("r", row_number().over(w))
      .select(
        expr("CAST(round(ln(CAST(r AS DOUBLE)) * 1e6) AS LONG)").as("xq"),
        expr("CAST(round(ln(CAST(f AS DOUBLE)) * 1e6) AS LONG)").as("yq"))
    q.agg(count(lit(1)).as("n"),
        sum(col("xq")).as("sx"), sum(col("yq")).as("sy"),
        sum(col("xq") * col("yq")).as("sxy"),
        sum(col("xq") * col("xq")).as("sxx"))
      .withColumn("__slope",
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
        / (col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")))
      .select(col("n").as("n_ranks"),
        (floor(col("__slope") * lit(1e4) + lit(0.5)).cast("double") / lit(1e4))
          .as("slope"),
        (floor((col("sy").cast("double") - col("__slope") * col("sx").cast("double"))
          / col("n").cast("double") / lit(1e6) * lit(1e4) + lit(0.5))
          .cast("double") / lit(1e4)).as("intercept"))
  }

  /** Heaps'-law vocabulary growth curve ([EXT]): cumulative distinct
    * vocabulary vs cumulative token count, sampled at `nBuckets`
    * doc-id buckets — the sublinearity check (V ≈ K·N^β, β < 1 for
    * natural language) and the "is more data still adding words"
    * chart a tokenizer budget consults.
    *
    * Scale: a word's FIRST bucket is min(doc_id) over one token-keyed
    * map-side-combined shuffle; per-bucket token/doc counts are one
    * more; the cumulative window runs over nBuckets rows only. All
    * counts exact integers — nothing floating anywhere.
    * Output: (bucket, n_docs, tokens_cum, vocab_cum). */
  def heapsCurve(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"need nBuckets >= 2, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val mx = df.agg(max(col(idCol)).cast("long").as("__mx"))
    def bucketOf(idc: Column): Column =
      least(lit(nBuckets - 1).cast("long"),
        floor(idc.cast("double") * nBuckets / (col("__mx") + 1).cast("double"))
          .cast("long"))
    val tok = df.select(col(idCol).cast("long").as("__id"),
        explode(tokensCol(col(textCol))).as("w"))
      .crossJoin(broadcast(mx))
      .withColumn("__b", bucketOf(col("__id")))
    val perBucket = tok.groupBy("__b")
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("__id")).as("n_docs"))
    val newWords = tok.groupBy("w").agg(min(col("__b")).as("__fb"))
      .groupBy(col("__fb").as("__b")).agg(count(lit(1)).as("n_new"))
    val cum = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, 0) // nBuckets rows only
    perBucket.join(newWords, Seq("__b"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .select(col("__b").as("bucket"), col("n_docs"),
        sum(col("n_tok")).over(cum).as("tokens_cum"),
        sum(col("n_new")).over(cum).as("vocab_cum"))
  }

  /** Fixed-size character chunking with overlap: split each document
    * into windows of `chunkChars` characters starting every
    * `chunkChars - overlap` positions — the standard context-window /
    * RAG-passage chunker. The final chunk is short when the text runs
    * out (no padding); empty documents yield no chunks; every
    * character of a non-empty document is covered by ≥ 1 chunk, and no
    * chunk is fully contained in its predecessor (a start position is
    * emitted only while it contributes ≥ 1 new character, i.e.
    * start < len - overlap — so a doc shorter than one chunk yields
    * exactly one chunk, never a redundant all-overlap tail).
    *
    * Scale: per-row sequence + substr, no shuffle, no UDF — the chunk
    * explosion is the output, not an intermediate. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkChars: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && chunkChars > overlap,
      s"need 0 <= overlap < chunkChars, got $overlap/$chunkChars")
    val step = chunkChars - overlap
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol),
        posexplode(sequence(lit(0),
          greatest(length(col(textCol)) - overlap - 1, lit(0)), lit(step))))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        col(textCol).substr(col("col") + 1, lit(chunkChars)).as("chunk"))
      .withColumn("n_chars", length(col("chunk")).cast("long"))
  }

  /** Repetition signals (Gopher-style quality filters, Rae et al. 2021
    * §A1.1): unique-word ratio and the most-frequent-bigram fraction.
    * Pure array higher-order functions — per-row, no shuffle, no UDF;
    * the bigram scan is O(u·n) per doc (u = distinct bigrams), fine for
    * document-sized n. top_bigram_frac is null for single-word docs. */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokensCol(col(textCol)).as("w"))
      .withColumn("n", size(col("w")).cast("long"))
      .withColumn("bg", when(col("n") >= 2, expr(
        "transform(sequence(0, int(n) - 2), i -> concat(element_at(w, int(i) + 1), ' ', element_at(w, int(i) + 2)))")))
      .select(col(idCol),
        col("n").as("n_words"),
        round(size(array_distinct(col("w"))) / col("n"), 6).as("uniq_word_ratio"),
        round(expr(
          "array_max(transform(array_distinct(bg), b -> size(filter(bg, x -> x = b))))")
          / (col("n") - 1), 6).as("top_bigram_frac"))

  /** WITHIN-doc duplicate-line fractions (Rae et al. 2021 §A1.1's
    * dup_line_frac / dup_line_char_frac — the Gopher rules
    * [[repetition]]'s word/bigram ratios don't cover): fraction of a
    * doc's lines that are repeats of an earlier line in the SAME doc,
    * by line count and by character mass. Scraped pages fail these
    * when templating repeats nav/footer blocks inside one page —
    * cross-doc line dedup can't see it. Pure per-row array HOFs with
    * exact integer char sums; no shuffle. */
  def dupLineStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    df.withColumn("__ls", lines)
      .withColumn("__ds", array_distinct(col("__ls")))
      .select(col(idCol),
        size(col("__ls")).cast("long").as("n_lines"),
        (size(col("__ls")) - size(col("__ds"))).cast("long").as("n_dup_lines"),
        round((size(col("__ls")) - size(col("__ds"))).cast("double")
          / size(col("__ls")), 6).as("dup_line_frac"),
        round((expr("aggregate(transform(__ls, x -> length(x)), 0L, (a, x) -> a + x)")
          - expr("aggregate(transform(__ds, x -> length(x)), 0L, (a, x) -> a + x)"))
          .cast("double")
          / expr("aggregate(transform(__ls, x -> length(x)), 0L, (a, x) -> a + x)"), 6)
          .as("dup_char_frac"))
  }

  /** Benchmark decontamination (GPT-3 appendix C / PaLM style): flag
    * every training document that shares an n-gram shingle with the
    * held-out evaluation set. Input is the (id, s) shingle table (one
    * shared pass — the same table dedup and coverage read) plus a
    * predicate marking eval docs; output is one row per TRAIN doc with
    * its shingle count, the number of shingles also present in any
    * eval doc, and the contamination flag.
    *
    * Scale: the eval side collapses to its DISTINCT shingle set — a
    * benchmark suite is megabytes against a 100-TB corpus, so it is
    * broadcast and the corpus-side shingle stream never shuffles for
    * the probe; the per-doc rollup is the one keyed aggregation. */
  def decontaminate(sh: DataFrame, idCol: String, isEval: Column): DataFrame = {
    val evalSh = sh.filter(isEval).select(col("s")).distinct()
    sh.filter(!isEval)
      .join(broadcast(evalSh.withColumn("__hit", lit(1))), Seq("s"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_eval_hits"))
      .withColumn("contaminated", col("n_eval_hits") > 0)
  }

  /** Intra-document exact line dedup (the within-doc half of Lee et
    * al. 2022's "Deduplicating Training Data Makes Language Models
    * Better"): drop every repeat of a line already seen earlier in the
    * same document, keeping first occurrences in order. Output is the
    * per-doc summary — total lines, kept lines, and the md5 of the
    * cleaned text (so the oracle checks the reconstruction, not just
    * the counts).
    *
    * Scale: explode to (id, pos, line), one keyed aggregation to
    * first-occurrence per (id, line), one rollup back to id with the
    * kept lines reassembled by sorted struct — no window, no UDF, and
    * the only shuffle key is the doc id the pipeline is already
    * partitioned by. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    lines.groupBy(col(idCol), col("line"))
      .agg(min(col("pos")).as("__first"), count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_lines"),
        count(lit(1)).as("n_kept"),
        md5(concat_ws("\n",
          transform(
            array_sort(collect_list(struct(col("__first"), col("line")))),
            x => x("line"))).cast("binary")).as("clean_fp"))
      .withColumn("n_dropped", (col("n_lines") - col("n_kept")).cast("long"))
  }

  /** BM25 top-k retrieval (Robertson/Spärck Jones; the Lucene idf
    * variant ln((N−df+0.5)/(df+0.5)+1), always positive) — the
    * retrieval complement of [[tfidfTopK]]: score a fixed query set
    * against the corpus and keep each query's k best docs. The
    * data-pipeline uses: retrieval-based decontamination probes,
    * quality-by-retrievability audits, building eval sets.
    *
    * Scale: ONE token pass feeds tf, dl (=Σtf per doc) and df; the
    * query-term table is broadcast, so the corpus-sized tf table is
    * filtered to query terms before anything else joins; the df join
    * after that filter touches only the query terms' rows. Per-doc
    * scores fold contributions in sorted term order (the repo's
    * sorted-fold determinism convention), and ranking compares the
    * ROUNDED score so a last-ulp difference between engines can't
    * flip the order. Output: (q_id, rank, idCol, score). */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val nDocs = df.count().toDouble
    val tf = termFrequencies(df, idCol, textCol)
    // doc-length table: corpus-sized but one row per doc — Memo'd so
    // the per-run cost is the probe-side work, not this 10M-row reduce
    val dl = graft.queries.Memo.cached(spark, "dl", Seq(df), idCol, textCol)(
      tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl")))
    val avgdl = dl.agg(avg(col("dl"))).head().getDouble(0)
    val dfreq = docFrequencies(df, idCol, textCol)
    val qt = queries.flatMap { case (q, ts) => ts.map(q -> _) }.toDF("q_id", "w")
    val contrib = tf.join(broadcast(qt), "w")
      .join(dfreq, "w")
      .join(dl, idCol)
      .withColumn("contrib",
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
    val perDoc = contrib.groupBy(col("q_id"), col(idCol))
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("w"), col("contrib")))),
        lit(0.0), (acc, x) => acc + x("contrib")), 4).as("score"))
    val win = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    perDoc.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col(idCol), col("score"))
  }

  /** IR rank-quality metrics ([EXT]): per query, MRR (reciprocal rank
    * of the first relevant hit), precision@k, and nDCG@k (Järvelin &
    * Kekäläinen, TOIS 2002 — graded gains (2^rel − 1)/log₂(rank+1)
    * against the ideal ordering) of a ranked retrieval list judged by
    * a graded qrels table. The eval face of the retrieval tier: BM25 /
    * dense / RRF-fused lists all emit (q_id, doc_id, rank), so one
    * metrics pass grades any of them — the artifact a pipeline reads
    * before swapping retrievers.
    *
    * Determinism: every DCG/IDCG term is micro-quantized
    * (round(gain/discount·10⁶) — gains are exact small-int powers,
    * log₂ of small ints is the same double on both engines) so the
    * per-query sums are exact integers; MRR is 1/min-rank (one IEEE
    * division); all outputs 6dp on the halfway rule. Queries with no
    * relevant docs in the list score 0 (and nDCG 0 when the qrels are
    * empty for the query).
    *
    * Scale: one (q_id, doc_id) equi-join of the (|Q|·k)-row ranked
    * list against qrels, one groupBy per side on q_id — the list is
    * already bounded, the corpus never appears. */
  def rankMetrics(ranked: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"rankMetrics: k must be >= 1, got $k")
    val j = ranked.filter(col("rank") <= k)
      .join(qrels.select(col("q_id"), col("doc_id"),
        col("rel").cast("long").as("__rel0")), Seq("q_id", "doc_id"), "left")
      .withColumn("__rel", coalesce(col("__rel0"), lit(0L)))
    val per = j.groupBy("q_id").agg(
      min(when(col("__rel") > 0, col("rank"))).as("__fr"),
      sum(when(col("__rel") > 0, 1L).otherwise(0L)).as("n_rel_found"),
      sum(expr("""CASE WHEN __rel > 0 THEN
          CAST(round((pow(2, __rel) - 1) / log2(rank + 1) * 1e6) AS LONG)
        ELSE 0L END""")).as("__dcg"))
    val ideal = qrels.filter(col("rel") > 0)
      .groupBy("q_id")
      .agg(reverse(array_sort(collect_list(col("rel").cast("long"))))
        .as("__rels"))
      .select(col("q_id"), expr(
        s"""aggregate(slice(__rels, 1, $k), named_struct('i', 0, 's', 0L),
           |  (acc, r) -> named_struct('i', acc.i + 1,
           |    's', acc.s + CAST(round((pow(2, r) - 1) / log2(acc.i + 2)
           |      * 1e6) AS LONG))).s""".stripMargin).as("__idcg"))
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    per.join(ideal, Seq("q_id"), "left")
      .select(col("q_id"), col("n_rel_found"),
        q6(when(col("__fr").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("__fr").cast("double"))).as("mrr"),
        q6(col("n_rel_found").cast("double") / lit(k.toDouble)).as("p_at_k"),
        q6(when(col("__idcg").isNull || col("__idcg") === 0L, lit(0.0))
          .otherwise(col("__dcg").cast("double")
            / col("__idcg").cast("double"))).as("ndcg"))
  }

  /** Corpus-level boilerplate-line removal — the CCNet/RefinedWeb
    * cross-document line dedup: a line occurring in ≥ `minDf` DISTINCT
    * documents is template chrome (nav menus, cookie banners, footers),
    * not content, and every occurrence is stripped. [[dedupLines]] is
    * the intra-document complement. Lines shorter than `minLineChars`
    * after trim are exempt: blank/"—" separators would hit the df
    * threshold everywhere, and removing them changes no content.
    *
    * Scale: one distinct + groupBy on the line string computes df; the
    * boilerplate set is ≤ total_lines / minDf rows BY DEFINITION (each
    * survivor repeats ≥ minDf times), so the join back is against a
    * small side — AQE broadcasts it — and a document's text never fans
    * out beyond its own lines. Output per doc: (idCol, n_lines,
    * n_boiler, clean_fp) with clean_fp = md5 of the kept lines in
    * original order — the rewrite handle, same convention as
    * [[dedupLines]]. */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDf: Int, minLineChars: Int = 5): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val boiler = lines
      .filter(length(trim(col("line"))) >= minLineChars)
      .select(col(idCol), col("line")).distinct()
      .groupBy("line").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("line"), lit(1).as("__bp"))
    lines.join(boiler, Seq("line"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        count(col("__bp")).as("n_boiler"),
        md5(concat_ws("\n",
          transform(
            array_sort(collect_list(
              when(col("__bp").isNull, struct(col("pos"), col("line"))))),
            x => x("line"))).cast("binary")).as("clean_fp"))
  }

  /** Term-blocklist safety filter: flag every document containing any
    * blocklisted term as a whole token — the safety/compliance gate of
    * a curation pipeline (slurs, regulated terms, site blocklists).
    * Output keeps the evidence (hit count + alphabetically-first
    * matched term) so filtering decisions are auditable, not just a
    * boolean. The dictionary is broadcast (≪ data, the langId shape);
    * one keyed aggregation. Matching is exact-token — substring/fuzzy
    * variants compose from [[shingles]]/`rlike` upstream. */
  def blocklist(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dict = broadcast(terms.toDF("w"))
    val hits = tokens(df, idCol, textCol).join(dict, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nh"), min(col("w")).as("first_term"))
    df.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nh"), lit(0L)).as("n_hits"),
        col("first_term"),
        col("__nh").isNotNull.as("blocked"))
  }

  /** Corpus bigram language-model scoring (perplexity filtering, the
    * KenLM-shaped quality step of CCNet/LLaMA-style pipelines, here
    * with the LM trained on the corpus itself): every doc is scored by
    * the mean log-probability of its word bigrams under add-one
    * smoothing, P(b|a) = (C(ab)+1)/(C(a·)+V) — templated/boilerplate
    * text compresses well (low perplexity), gibberish does not.
    *
    * Engine parity: the per-doc mean of ln P is a SEQUENTIAL fold in
    * bigram-position order (the same sorted-fold discipline as
    * [[tokenEntropy]]) — an fp `sum()` would be partial-order
    * nondeterministic. Scale: two count aggregations (bigram +
    * context) and one bigram-keyed join back; the hot join key is a
    * Zipf-skewed bigram, collapsed by map-side partial aggregation
    * before the shuffle. Docs under 2 words yield no row.
    *
    * The whole score frame (one small row per doc) is the Memo'd
    * unit: the scorer (text_lm_score) builds it, the CCNet bucketer
    * ([[pplBuckets]], text_ppl_buckets) reuses it — the LM pass runs
    * once per corpus, like the other shared-pass families. */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.queries.Memo.cached(df.sparkSession, "lmscore", Seq(df), idCol, textCol) {
      lmScoreUncached(df, idCol, textCol)
    }

  private def lmScoreUncached(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), tokensCol(col(textCol)).as("w"))
    val bg = toks.filter(size(col("w")) >= 2)
      .select(col(idCol), posexplode(expr(
        "transform(sequence(0, size(w) - 2), i -> " +
          "struct(element_at(w, int(i) + 1) AS a, element_at(w, int(i) + 2) AS b))"))
        .as(Seq("pos", "ab")))
      .select(col(idCol), col("pos"), col("ab.a").as("a"), col("ab.b").as("b"))
    val cab = bg.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    val ca = bg.groupBy("a").agg(count(lit(1)).as("c_a"))
    val vocab = toks.select(explode(col("w")).as("x"))
      .agg(countDistinct(col("x")).as("__V"))
    bg.join(cab, Seq("a", "b")).join(ca, Seq("a"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", log((col("c_ab") + lit(1.0)) / (col("c_a") + col("__V"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("lp")))).as("__s"))
      .withColumn("__sum", expr(
        "aggregate(transform(__s, x -> x.lp), 0.0D, (acc, x) -> acc + x)"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__sum") / col("n_bigrams"), 6).as("avg_logp"),
        round(exp(-(col("__sum") / col("n_bigrams"))), 4).as("ppl"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC 2020 — public paper; [EXT]): per language group,
    * rank documents by LM perplexity ascending and split into
    * head/middle/tail TERCILES — head is the lowest-perplexity third
    * (the slice CCNet keeps outright), tail the highest (dropped or
    * down-weighted). Rank-exact determinism: ties on the 4dp-rounded
    * ppl break to the smaller id, and the terciles are `ntile(3)`
    * over that total order — integer-exact and identical in Spark
    * and DuckDB (earlier tiles take the remainder: a singleton group
    * is all head). Docs under 2 words carry no LM score and are
    * excluded (as in [[lmScore]]).
    *
    * Scale: rides the Memo'd [[lmScore]] pass; the ranking is one
    * window per language partition (languages ≪ corpus — the skew is
    * inherent to per-language ranking and bounded by the biggest
    * language's corpus share, the same regime as
    * [[qualityCalibrate]]'s per-source windows). */
  def pplBuckets(df: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = lmScore(df, idCol, textCol)
    val withG = scored.join(df.select(col(idCol), col(groupCol)), Seq(idCol))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("ppl").asc, col(idCol).asc)
    withG
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("__t", ntile(3).over(w))
      .withColumn("bucket",
        when(col("__t") === 1, "head")
          .when(col("__t") === 2, "middle")
          .otherwise("tail"))
      .select(col(idCol), col(groupCol), col("ppl"), col("rk"), col("bucket"))
  }

  /** Unicode-script profile per document: the fraction of characters
    * in each major script block (explicit codepoint RANGES, not
    * \p{script=...} classes — range syntax means byte-identical
    * semantics in Java regex and RE2, independent of either engine's
    * Unicode table version) plus the dominant script. This is the
    * segmentation-free complement to [[langId]]: stopword voting needs
    * word boundaries, script ratios do not — unsegmented zh/ja/ko text
    * classifies correctly here (the documented langId limitation).
    * Per-row codegen'd regex counts, no shuffle. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val total = length(t)
    // \x{...} codepoint syntax parses identically in Java regex and
    // RE2 (\uXXXX does not exist in RE2)
    val ranges = Seq(
      "latin" -> "A-Za-z",
      "han" -> "\\x{4e00}-\\x{9fff}",
      "kana" -> "\\x{3040}-\\x{309f}\\x{30a0}-\\x{30ff}",
      "hangul" -> "\\x{ac00}-\\x{d7af}",
      "cyrillic" -> "\\x{0400}-\\x{04ff}",
      "arabic" -> "\\x{0600}-\\x{06ff}",
      "devanagari" -> "\\x{0900}-\\x{097f}")
    val counts = ranges.map { case (name, cls) =>
      name -> (total - length(regexp_replace(t, s"[$cls]", ""))) }
    val ratios = counts.map { case (name, c) =>
      round(c.cast("double") / total, 6).as(s"${name}_ratio") }
    // dominant script: max count, ties by the fixed range order above
    val dominant = counts.tail.foldLeft(
      (lit("latin"), counts.head._2)) { case ((bestN, bestC), (name, c)) =>
      (when(c > bestC, lit(name)).otherwise(bestN),
        when(c > bestC, c).otherwise(bestC))
    }
    df.select(
      (Seq(col(idCol), total.cast("long").as("chars")) ++ ratios :+
        when(dominant._2 > 0, dominant._1).otherwise(lit("none"))
          .as("dominant_script")): _*)
  }

  /** Unigram token entropy + perplexity per document — the lexical-
    * diversity quality signal (templated/boilerplate text scores low,
    * fluent prose high; a standard curation feature alongside the
    * Gopher ratios). H = −Σ p·ln p over the doc's word frequencies,
    * perplexity = exp(H).
    *
    * Engine-parity note: the sum is a SEQUENTIAL FOLD over the terms
    * in sorted-word order (collect_list → sort_array → aggregate), not
    * a floating-point `sum()` aggregate — distributed sum order is
    * nondeterministic and last-ulp differences would flip the rounded
    * digit; the sorted fold makes the arithmetic identical in any
    * engine and at any parallelism. One keyed shuffle (the per-word
    * counts); the fold is per-row. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    tokens(df, idCol, textCol)
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).cast("double").as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_distinct"),
        sort_array(collect_list(struct(col("w"), col("c")))).as("__wc"))
      .withColumn("__h", -expr(
        "aggregate(transform(__wc, r -> (r.c / n) * ln(r.c / n)), 0.0D, (a, x) -> a + x)"))
      .select(col(idCol),
        col("n").cast("long").as("n_words"),
        col("n_distinct"),
        round(col("__h"), 6).as("entropy"),
        round(exp(col("__h")), 4).as("perplexity"))

  /** Per-domain URL profile: extract the host of every URL in every
    * document and aggregate to (domain, n_urls, n_docs) — the first
    * pass of domain-blocklist filtering and per-domain capping (the
    * curation moves FineWeb/RefinedWeb apply before anything else).
    * The host character class is written explicitly ([^/ \t\n]) so the
    * pattern means the same thing in Java regex and RE2.
    *
    * Scale: per-row extraction (codegen'd), one aggregation keyed on
    * domain; domain is Zipf-skewed, but the map-side partial agg
    * collapses each partition to one row per distinct domain before
    * the shuffle, so hot domains cost one merged counter, not a hot
    * reducer. */
  def urlDomains(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      explode(regexp_extract_all(col(textCol),
        lit("https?://([^/ \t\n]+)"), lit(1))).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col(idCol)).as("n_docs"))

  /** URL canonicalization — the normalization a crawl pipeline applies
    * BEFORE any url-level dedup, so syntactic variants of one page
    * collapse to one key: lowercase scheme and host, drop the scheme's
    * default port (443 for https, 80 for http — only its own), strip
    * trailing path slashes, drop tracking params (utm_*, fbclid,
    * gclid, ref_src), sort surviving params for order independence,
    * drop the fragment. Entirely codegen'd regexp/array-HOF column
    * work — no UDF, no shuffle; the downstream dedup's one shuffle is
    * on the canonical key. */
  def canonicalUrlCol(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(u, "^[^:/?#]+://([^/?#]*)", 1))
    val host = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val path = regexp_replace(
      regexp_extract(u, "^[^:/?#]+://[^/?#]*([^?#]*)", 1), "/+$", "")
    // anchor before any '#': a '?' inside the fragment (legal per RFC
    // 3986) must not mint fragment tokens into the canonical key
    val query = regexp_extract(u, "^[^#]*?\\?([^#]*)", 1)
    val kept = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid|ref_src)=")))
    val qs = array_join(kept, "&")
    // best-effort passthrough for non-absolute-URL input (relative
    // links, garbage rows): a crawl pipeline must not mint the
    // degenerate "://" key and silently group unrelated junk together
    when(scheme === "" || host === "", u)
      .otherwise(concat(scheme, lit("://"), host, path,
        when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
  }

  /** URL-level dedup: canonicalize, then one keep/drop decision per
    * row — keeper = min id per canonical key, with the variant count
    * as evidence. One shuffle on the canonical key (window over it);
    * at crawl scale the key is ~unique outside true dup clusters, so
    * no skew concern. */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("canon_url"))
    df.select(col(idCol), col(urlCol).as("url"),
        canonicalUrlCol(col(urlCol)).as("canon_url"))
      .withColumn("keep_id", min(col(idCol)).over(w))
      .withColumn("keep", col(idCol) === col("keep_id"))
      .withColumn("n_variants", count(lit(1)).over(w))
  }

  /** Extended Gopher quality rules (Rae et al. 2021 §A1.1) beyond
    * [[quality]]'s ratios: mean/max word length (over words, not
    * characters-including-spaces), fraction of words containing an
    * alphabetic character, fraction of purely-numeric words, and the
    * symbol-to-word ratio ('#' and '...' occurrences per word). All
    * per-row array HOFs and codegen'd string ops — no shuffle. */
  def qualityGopher(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokensCol(t)
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    val nEllipsis = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    df.select(
      col(idCol),
      size(toks).cast("long").as("n_words"),
      round(expr(s"aggregate(transform(split(lower(trim($textCol)), '\\\\s+'), x -> length(x)), 0L, (a, x) -> a + x)")
        .cast("double") / size(toks), 4).as("mean_word_len"),
      expr(s"array_max(transform(split(lower(trim($textCol)), '\\\\s+'), x -> length(x)))")
        .cast("long").as("max_word_len"),
      round(size(filter(toks, x => x.rlike("[a-z]"))).cast("double") / size(toks), 6)
        .as("alpha_word_ratio"),
      round(size(filter(toks, x => x.rlike("^[0-9]+$"))).cast("double") / size(toks), 6)
        .as("num_word_ratio"),
      round((nHash + nEllipsis).cast("double") / size(toks), 6).as("symbol_word_ratio"))
  }
}
