package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING over a corpus ([EXT] — no
  * reference counterpart; Sennrich, Haddow & Birch, ACL 2016 "Neural
  * Machine Translation of Rare Words with Subword Units"). The engine
  * already *applies* a fixed merge table ([[TextOps.tokenCounts]]'s
  * n_bpe); this module LEARNS one from the corpus — the actual
  * tokenizer-training step of an LLM data pipeline.
  *
  * Semantics (one convention, shared bit-for-bit by the driver path,
  * the distributed path, and the independent reimplementation in
  * BpeSpec):
  *  - training corpus = the distinct-word frequency table (classic BPE
  *    compresses the corpus to (word, freq) first — pair statistics
  *    are identical and the working set drops from corpus-size to
  *    vocabulary-size);
  *  - a word's initial symbols are its characters plus a final
  *    `</w>` end-of-word sentinel;
  *  - a step's pair count is Σ_w freq(w) · #adjacent occurrences of
  *    the pair in w's current symbols (overlapping occurrences each
  *    count: "aaa" contributes 2 to (a,a));
  *  - the winning pair maximizes (count, then lexicographically
  *    smallest left, then right) — total order, no RNG;
  *  - merging replaces occurrences left-to-right, non-overlapping;
  *  - training stops early when no adjacent pair remains.
  *
  * Scale: the groupBy(word) compression is the only corpus-sized
  * shuffle. The merge loop runs over the vocabulary table — ≤ millions
  * of rows even at 100 TB of text — via the same size-gate house
  * pattern as KMeans/DBSCAN: a driver loop when the vocabulary fits
  * (`maxDriverWords`), otherwise a distributed iteration (adjacent-
  * pair explode → map-side-combined groupBy → 1-row argmax collect →
  * column-wise merge rewrite, localCheckpoint every 8 rounds to cap
  * lineage). Both paths produce identical merge tables (BpeSpec
  * parity). Real trainers subsample the vocabulary at extreme scale;
  * callers can pre-sample the input the same way.
  */
object Bpe {

  /** (w, freq): the corpus compressed to its word-frequency table. */
  def wordFreq(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(explode(TextOps.tokensCol(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Initial symbol table (w, freq, syms = chars :+ "</w>"). The
    * empty-pattern split's edge artifacts (a leading/trailing "" —
    * JDK-version-dependent) are filtered so the symbol list is exactly
    * the characters, matching DuckDB's clean string_split(w, ''). */
  private def initialSymbols(wf: DataFrame): DataFrame =
    wf.withColumn("syms",
      concat(filter(split(col("w"), ""), s => length(s) > lit(0)),
        array(lit("</w>"))))

  /** Adjacent-pair counts of a symbol table, heaviest first —
    * (l, r, pair_freq) ordered by (pair_freq desc, l, r). The first
    * BPE training step, exposed on its own because it is fully
    * SQL-expressible (the merge loop is not) and so carries the
    * oracle row for this family. */
  def pairCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    pairCountsOf(initialSymbols(wordFreq(df, idCol, textCol)))
      .orderBy(desc("pair_freq"), col("l"), col("r"))

  /** (l, r, pair_freq) over an (…, freq, syms) frame. Pure HOF explode
    * — stays in whole-stage codegen; the groupBy map-side-combines to
    * ≤|alphabet|² rows. */
  private def pairCountsOf(sy: DataFrame): DataFrame =
    sy.select(col("freq"), explode(
        transform(sequence(lit(0), size(col("syms")) - lit(2)),
          i => struct(element_at(col("syms"), i + 1).as("l"),
            element_at(col("syms"), i + 2).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("pair_freq"))

  /** Merge adjacent (l, r) → l+r left-to-right non-overlapping. */
  private[graft] def mergeSyms(syms: IndexedSeq[String], l: String,
      r: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** Train `numMerges` merges; output (rank, left, right, merged,
    * pair_freq) with rank 1-based in training order (may stop short
    * when pairs are exhausted). `maxDriverWords` gates the driver
    * fast path; 0 forces the distributed loop (parity-tested). */
  def merges(df: DataFrame, idCol: String, textCol: String,
      numMerges: Int, maxDriverWords: Long = 2000000L): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    // the train is the family's shared pass: the merge-table query and
    // the fertility audit both consume it — pay it once per corpus
    graft.queries.Memo.cached(spark, "bpe", Seq(df),
        idCol, textCol, numMerges, maxDriverWords) {
      val wf = wordFreq(df, idCol, textCol)
      val nWords = wf.count()
      val rows: Seq[(Int, String, String, String, Long)] =
        if (nWords <= maxDriverWords) {
          val local = wf.select(col("w"), col("freq").cast("long"))
            .as[(String, Long)].collect()
          trainLocal(local, numMerges)
        } else trainDistributed(initialSymbols(wf), numMerges)
      rows.toDF("rank", "left", "right", "merged", "pair_freq")
    }
  }

  /** Driver loop over the collected (word, freq) table. */
  private[graft] def trainLocal(words: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    var syms: Array[(IndexedSeq[String], Long)] =
      words.map { case (w, f) => ((w.map(_.toString) :+ "</w>"): IndexedSeq[String], f) }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      syms.foreach { case (s, f) =>
        var i = 0
        while (i + 1 < s.length) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((rank, l, r, l + r, c))
        syms = syms.map { case (s, f) => (mergeSyms(s, l, r), f) }
        rank += 1
      }
    }
    out.result()
  }

  /** Distributed loop: per-round pair explode + groupBy + 1-row argmax
    * (the algorithm's global argmax — the only driver-side datum per
    * round), then a column-wise merge rewrite of the symbol table. */
  private[graft] def trainDistributed(sy0: DataFrame,
      numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    val mergeUdf = udf((syms: Seq[String], l: String, r: String) =>
      mergeSyms(syms.toIndexedSeq, l, r))
    var sy = sy0.cache()
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = pairCountsOf(sy)
        .orderBy(desc("pair_freq"), col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        val c = top(0).getLong(2)
        out += ((rank, l, r, l + r, c))
        val next0 = sy.withColumn("syms", mergeUdf(col("syms"), lit(l), lit(r)))
        // cap lineage growth across rounds
        val next = (if (rank % 8 == 0) next0.localCheckpoint(true) else next0).cache()
        next.count()
        sy.unpersist()
        sy = next
        rank += 1
      }
    }
    sy.unpersist()
    out.result()
  }

  /** Apply a learned merge table: per word, merges run sequentially in
    * rank order (each applied left-to-right non-overlapping — the
    * documented convention above), then the token count is the symbol
    * count with a still-standalone trailing `</w>` not counted.
    * Output: (id, n_learned). The merge list is a broadcast literal
    * (≤ numMerges rows) — the scan stays one pass, no join. */
  def tokenizeCounts(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val m = merges.toIndexedSeq
    val cntUdf = udf((t: String) => {
      if (t == null) 0L
      else {
        val words = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        var total = 0L
        words.foreach { w =>
          if (w.nonEmpty) {
            var s: IndexedSeq[String] = w.map(_.toString) :+ "</w>"
            m.foreach { case (l, r) => s = mergeSyms(s, l, r) }
            total += (if (s.last == "</w>") s.length - 1 else s.length)
          }
        }
        total
      }
    })
    df.select(col(idCol), cntUdf(col(textCol)).as("n_learned"))
  }

  /** Corpus fertility audit with a freshly trained vocabulary: train
    * `numMerges` merges, tokenize with them, and report per-group
    * (n_docs, total_words, total_tokens, fertility) — the before/after
    * number a tokenizer-training run is judged on (compare against
    * [[TextOps.tokenizerFertility]]'s fixed-vocab fertility). */
  def trainedFertility(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val m = merges(df, idCol, textCol, numMerges)
      .orderBy("rank").select("left", "right").as[(String, String)]
      .collect().toSeq
    val tok = tokenizeCounts(df, idCol, textCol, m)
    val words = df.select(col(idCol), col(groupCol),
      size(TextOps.tokensCol(col(textCol))).cast("long").as("n_ws"))
    words.join(tok, Seq(idCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("total_words"),
        sum(col("n_learned")).as("total_tokens"),
        round(sum(col("n_learned")).cast("double") / sum(col("n_ws")), 4)
          .as("fertility"))
  }
}
