package graft.ext

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines ([EXT]).
  *
  * Five escalating strategies, all pure DataFrame plans:
  *  - exact: hash-groupBy on the raw text — one shuffle on md5(text).
  *  - n-gram Jaccard: exact set similarity via a shingle inverted-
  *    index self-join. Correct but O(pairs sharing a shingle) — the
  *    oracle baseline for the approximate paths.
  *  - MinHash + LSH: md5-string minhashes, band-bucket join, then
  *    exact-Jaccard verification of candidates only. The 100-TB path:
  *    cost is O(docs × hashes) + O(candidate pairs), never all pairs.
  *  - SimHash: frequency-weighted fingerprints (32-bit oracle width,
  *    64-bit corpus width — the 32-bit value is the 64-bit low half,
  *    one shared signature pass). Pairs via pigeonhole banding:
  *    byte-subset bands at 32 bits, Manku WWW'07 3-of-6 block keys at
  *    64 — equi-joins, never all-pairs, recall-lossless for the
  *    supported Hamming radii.
  *  - Embedding cosine: near-dup = cosine above threshold; brute
  *    pairs as the oracle baseline, signed-random-projection LSH and
  *    IVF bucketing (Similarity) as the scale paths.
  *  - Group closure ([[dedupGroups]]): pairs → connected components →
  *    one canonical keep per group — the decision a pipeline ends with.
  *
  * All hashes are md5-derived so the DuckDB oracle can reproduce them
  * bit-for-bit (no murmur/xxhash divergence between engines).
  */
object Dedup {

  /** Per-thread reusable scratch for the span kernel's membership
    * table (r18 second pass): JFR put 94 % of the kernel's CPU on the
    * per-pair table BUILD — dominated by allocating and zero-filling
    * the two cap-sized arrays for every candidate pair, not by the
    * probes. The scratch reuses one keys/stamp array pair per executor
    * thread and retires old entries by bumping `version` instead of
    * clearing (a slot is occupied iff stamp(h) == version), so a pair
    * costs only its m inserts. Membership semantics per call are
    * unchanged — same hash mix, same linear probing, same table
    * contents — so emitted spans are identical. */
  private final class SpanScratch {
    var keys: Array[Long] = new Array[Long](16)
    var stamp: Array[Int] = new Array[Int](16)
    var version: Int = 0
    /** Start a new table of capacity `cap` (a power of two); returns
      * nothing — callers use keys/stamp/version directly. */
    def reset(cap: Int): Unit = {
      if (cap > keys.length) {
        keys = new Array[Long](cap)
        stamp = new Array[Int](cap)
        version = 1
      } else if (version == Int.MaxValue) {
        java.util.Arrays.fill(stamp, 0)
        version = 1
      } else version += 1
    }
  }
  private val spanScratch = new ThreadLocal[SpanScratch] {
    override def initialValue(): SpanScratch = new SpanScratch
  }

  /** Exact duplicate groups keyed by md5 of the raw text. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact n-gram (word-shingle) Jaccard pairs ≥ threshold.
    *
    * Candidate generation is an inverted-index self-join restricted to
    * shingles with document frequency ≤ `maxDf`: a stop-shingle that
    * appears in d docs fans out d·(d−1)/2 candidate rows while carrying
    * ~zero Jaccard evidence, so hot shingles are pruned BEFORE the join
    * (the skew kill-switch that keeps this plan alive at corpus scale).
    * Jaccard stays exact over ALL shingles via a rare/hot split: the
    * self-join over rare shingles yields both the candidate pairs and
    * their rare-intersection counts in one pass (no re-join of the full
    * shingle set), and the few hot shingles are patched in afterwards
    * with a join restricted to the candidates — a near-no-op when the
    * hot set is small or empty. Pairs whose EVERY shared shingle is hot
    * are LOST — including giant boilerplate clusters where each
    * member's shingles all exceed maxDf (those are exactly what
    * [[exactGroups]] and [[minhashLshPairsFrom]] still catch, since
    * minhash signatures keep hot shingles). The cap therefore defaults
    * OFF; callers opt in per corpus with a df budget that exceeds their
    * largest expected near-dup cluster. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDf: Int = Int.MaxValue): DataFrame =
    jaccardPairsFrom(memoShingles(docs, idCol, textCol, n), idCol, threshold, maxDf)

  /** Shingle table cached through the bounded LRU (evict → unpersist),
    * not a bare .cache(): repeated standalone calls must not accumulate
    * executor cache, and one shingling pass serves every dedup op over
    * the same docs. */
  private def memoShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    graft.queries.Memo.cached(docs.sparkSession, "shingles", Seq(docs), n, idCol, textCol)(
      TextOps.shingles(docs, idCol, textCol, n))

  /** [[jaccardPairs]] over a precomputed (ideally cached/memoized)
    * shingle table — lets one shingling pass feed several dedup ops. */
  def jaccardPairsFrom(sh: DataFrame, idCol: String,
      threshold: Double, maxDf: Int): DataFrame =
    candidateIntersections(sh, idCol, maxDf)
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Substring-level duplicated-SPAN extraction (the sub-document
    * granularity of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): locate the maximal shared character
    * spans between near-dup docs, not just flag the pair.
    *
    * Mechanics: every k-char-gram of the canonical text is hashed with
    * the winnowing kernel's exact base-31 polynomial ([[TextOps
    * .spanHashUdf]]). Candidate pairs come from the winnowed-minima
    * inverted index (the winnowing guarantee: any shared run of
    * ≥ w+k−1 chars shares at least one fingerprint, so no span above
    * the minSpan floor can be missed by candidate generation), with
    * the same df ≤ maxDf hot-key cap (and recall caveat) as
    * [[jaccardPairsFrom]]. For each candidate pair, positions in A
    * whose gram hash also occurs in B are grouped into maximal
    * consecutive runs (gaps-and-islands over a per-pair window); a run
    * of g grams is a shared span of g+k−1 chars. Spans below minSpan
    * chars are dropped.
    *
    * Scale: the inverted-index join is banded (winnow minima ≈ 2/(w+1)
    * of grams, df-capped); span extraction touches candidate pairs
    * only — cost O(Σ_pairs doc length), never corpus². The per-pair
    * walk runs as a JVM kernel over the two docs' hash arrays, joined
    * to the candidate pairs from a broadcast of the per-doc array
    * table: the arrays stream straight from the broadcast into the
    * kernel inside one codegen stage — no shuffle ever carries a
    * position row. (Measured at sf0.1, 317k candidates over 4.9k docs:
    * the previous relational form — explode every A-position, join,
    * gaps-and-islands window — moved ~6·10⁸ position rows through two
    * shuffles and a sort, 25–56 s; this form runs the same exact
    * semantics in ~8 s, bounded by Σ_pairs |A| log |B| binary-search
    * probes.) Beyond `maxBroadcastBytes` (estimated at 8 bytes per
    * corpus char — the size gate is measured, not assumed) the same
    * plan runs with the array table shuffled on the pair key; candidates
    * cluster per doc, so each array crosses the wire O(partners)
    * times, still never per position. Base-31 char polynomials are NOT
    * injective (a·31+b = (a+1)·31+(b−31)), so a false shared gram is
    * possible in principle — both engines compute identical hashes, so
    * results still match the oracle bit-for-bit.
    *
    * Output: (id_a, id_b, n_spans, longest_span, longest_start,
    * dup_chars) — longest_start is the 1-based char position in A's
    * canonical text (ties → smallest start). */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minSpan: Int = 30, maxDf: Int = 100,
      maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    val spark = docs.sparkSession
    val base = graft.queries.Memo.cached(spark, "spanh", Seq(docs), k, w, idCol, textCol)(
      docs.select(col(idCol).as("id"),
        TextOps.spanHashUdf(k, w)(TextOps.canonCol(textCol)).as("z"))
        .filter(col("z").isNotNull))
    // banded candidates: winnowed minima, hot keys capped at maxDf
    val fp = base.select(col("id"), explode(col("z.fp")).as("f"))
    val dfreq = fp.groupBy("f").agg(count(lit(1)).as("__df"))
    val fpr = fp.join(dfreq.filter(col("__df") <= maxDf), "f")
    val cand = fpr.as("a").join(fpr.as("b"),
        col("a.f") === col("b.f") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // per-pair exact span walk: positions i of A with hs_A(i) ∈ B's
    // hash set, grouped into maximal consecutive runs; a run of g
    // grams is a span of g+k−1 chars. The kernel is a Scala UDF —
    // justified: the per-pair islands walk over two primitive arrays
    // (binary search against B's sorted distinct hashes) has no
    // HOF/window form that doesn't first explode positions × pairs,
    // which is the measured 6·10⁸-row plan this replaces.
    val spanKernel = udf((hsA: Array[Long], bsB: Array[Long]) => {
      // r18 perf: membership of each A-gram in B's hash set was a
      // binary search (O(log |B|) probes with cache misses per gram,
      // the hottest line of the spans cold build in the suite JFR).
      // An open-addressed table over bsB answers the SAME membership
      // question in O(1) — the emitted runs are identical because
      // only membership feeds the walk. r18 second pass: the table
      // lives in per-thread stamped scratch ([[SpanScratch]]) — the
      // per-pair array allocation + zero-fill WAS 94 % of kernel CPU.
      val m = bsB.length
      var cap = 16
      while (cap < (m << 1)) cap <<= 1
      val mask = cap - 1
      val sc = spanScratch.get()
      sc.reset(cap)
      val keys = sc.keys
      val stamp = sc.stamp
      val ver = sc.version
      var t = 0
      while (t < m) {
        val v = bsB(t)
        var h = ((v * -7046029254386353131L) >>> 32).toInt & mask
        while (stamp(h) == ver && keys(h) != v) h = (h + 1) & mask
        keys(h) = v; stamp(h) = ver
        t += 1
      }
      def member(v: Long): Boolean = {
        var h = ((v * -7046029254386353131L) >>> 32).toInt & mask
        while (stamp(h) == ver) {
          if (keys(h) == v) return true
          h = (h + 1) & mask
        }
        false
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var i = 0
      val n = hsA.length
      while (i < n) {
        if (member(hsA(i))) {
          var j = i + 1
          while (j < n && member(hsA(j))) j += 1
          val len = (j - i) + (k - 1)
          if (len >= minSpan) out += (((i + 1).toLong, len.toLong))
          i = j
        } else i += 1
      }
      out.toSeq
    })
    val arrA = base.select(col("id").as("id_a"), col("z.hs").as("__hsA"))
    // distinct only — the membership table does not need B sorted (the
    // old binary search did), so the per-row O(B log B) sort is gone
    val arrB = base.select(col("id").as("id_b"),
      array_distinct(col("z.hs")).as("__bsB"))
    // size-GATED broadcast (VERDICT r5 #2): the per-doc array table is
    // ~8 bytes per corpus character — i.e. ~the corpus itself — so an
    // unconditional hint would drive the whole corpus through the
    // driver at scale instead of degrading. The estimate is one agg
    // over the Memo-cached base (already materialized by the fp pass
    // above). Below the gate: double broadcast, arrays stream from the
    // broadcast into the kernel with no shuffle. Above it: the same
    // plan with the array tables shuffled on the pair key — candidates
    // cluster per doc, so each array crosses the wire O(partners)
    // times, still never per position.
    // The aggregated span frame is ∝ true duplication (tiny) while the
    // pass that produces it is the suite's most expensive — Memo the
    // RESULT so the diagnosis (dedup_span_pairs) and the intervention
    // (text_trim_spans) pay for candidate join + kernel + agg once.
    // The size-gate probe lives inside the block: on a memo hit no
    // action runs at all.
    graft.queries.Memo.cached(spark, "spans", Seq(docs),
        k, w, minSpan, maxDf, maxBroadcastBytes, idCol, textCol) {
      val estBytes = 8L * base.agg(coalesce(sum(size(col("z.hs"))), lit(0L)))
        .head().getLong(0)
      val joined =
        if (estBytes <= maxBroadcastBytes)
          cand.join(broadcast(arrA), "id_a").join(broadcast(arrB), "id_b")
        else
          cand.join(arrA, "id_a").join(arrB, "id_b")
      val spans = joined
        .select(col("id_a"), col("id_b"),
          explode(spanKernel(col("__hsA"), col("__bsB"))).as("sp"))
        .select(col("id_a"), col("id_b"),
          col("sp._1").as("span_start"), col("sp._2").as("span_len"))
      spans.groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_spans"),
          max(struct(col("span_len"), (-col("span_start")).as("ns"))).as("__m"),
          sum(col("span_len")).as("dup_chars"))
        .select(col("id_a"), col("id_b"), col("n_spans"),
          col("__m.span_len").as("longest_span"),
          (-col("__m.ns")).as("longest_start"), col("dup_chars"))
    }
  }

  /** Span-level dedup INTERVENTION (Lee et al. 2022's actual fix, not
    * just its diagnosis): [[duplicatedSpans]] finds WHERE duplication
    * lives; this composes it with substring surgery on the kept corpus
    * — for each doc appearing as the LATER side (id_b) of a span pair,
    * one intervention removes every occurrence of the longest
    * duplicated span (ties → smallest source id, then smallest start,
    * both inherited from duplicatedSpans' deterministic aggregation)
    * from the doc's canonical text. The earlier doc keeps its copy, so
    * exactly one copy of the span survives per pair — dedup at sub-doc
    * granularity, where whole-doc dedup sees two "different" docs.
    *
    * Scale: the spans frame is ∝ true duplication (tiny); the surgery
    * is two keyed joins of that frame against the corpus (shuffle on
    * the doc id, the corpus never fans out) and per-row string ops.
    * Output: (doc_id, src_id, span_len, orig_len, trimmed_len,
    * trimmed_fp) — trimmed_fp = md5 of the post-surgery text, the
    * keep-list integration handle. */
  def trimSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minSpan: Int = 30, maxDf: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = duplicatedSpans(docs, idCol, textCol, k, w, minSpan, maxDf)
    val best = spans
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("id_b"))
          .orderBy(desc("longest_span"), asc("id_a"), asc("longest_start"))))
      .filter(col("__rk") === 1)
      .select(col("id_b"), col("id_a"), col("longest_start"), col("longest_span"))
    val canon = docs.select(col(idCol).as("__cid"),
      TextOps.canonCol(textCol).as("__ct"))
    val withSpanText = best
      .join(canon.withColumnRenamed("__cid", "id_a").withColumnRenamed("__ct", "__ta"), "id_a")
      .select(col("id_b"), col("id_a"), col("longest_span"),
        col("__ta").substr(col("longest_start"), col("longest_span")).as("__span"))
    withSpanText
      .join(canon.withColumnRenamed("__cid", "id_b").withColumnRenamed("__ct", "__tb"), "id_b")
      .select(col("id_b").as("doc_id"), col("id_a").as("src_id"),
        col("longest_span").as("span_len"),
        length(col("__tb")).cast("long").as("orig_len"),
        length(call_function("replace", col("__tb"), col("__span")))
          .cast("long").as("trimmed_len"),
        md5(call_function("replace", col("__tb"), col("__span")).cast("binary"))
          .as("trimmed_fp"))
  }

  /** Asymmetric near-dup: containment C = |A∩B| / min(|A|,|B|) ≥
    * threshold. Catches doc-inside-doc duplication (a page quoting
    * another wholesale, a doc embedded in a crawl concatenation) that
    * symmetric Jaccard misses when sizes differ — |A∩B|/|A∪B| stays
    * small however completely the smaller doc is contained. Same
    * inverted-index candidate machinery (and the same df-cap recall
    * caveat) as [[jaccardPairsFrom]]. */
  def containmentPairsFrom(sh: DataFrame, idCol: String,
      threshold: Double, maxDf: Int): DataFrame =
    candidateIntersections(sh, idCol, maxDf)
      .withColumn("containment", col("i") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))

  /** Shared candidate + intersection pass: (id_a, id_b, i, na, nb) for
    * every pair sharing ≥1 shingle of df ∈ [2, maxDf], with exact
    * intersection counts over ALL shingles (rare/hot split — see
    * [[jaccardPairs]] for the recall caveat when maxDf is finite).
    * Memo-cached (bounded LRU): Jaccard and containment are different
    * thresholds over the SAME pass, so a suite running both pays for
    * the inverted-index self-join once. */
  private def candidateIntersections(sh: DataFrame, idCol: String,
      maxDf: Int): DataFrame =
    graft.queries.Memo.cached(sh.sparkSession, "candint", Seq(sh), idCol, maxDf)(
      candidateIntersectionsUncached(sh, idCol, maxDf))

  private def candidateIntersectionsUncached(sh: DataFrame, idCol: String,
      maxDf: Int): DataFrame = {
    val ns = sh.groupBy(col(idCol)).agg(count(lit(1)).as("nsh"))
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("__df"))
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    if (maxDf != Int.MaxValue) {
      // a capped run must be distinguishable from an exact one. The
      // presence notice is free; the actual pruned-shingle COUNT is a
      // real Spark job hidden inside a lazy builder, so it only runs
      // at DEBUG (INFO is most clusters' default level — an eager
      // count there would surprise at 100-TB shingle volumes).
      if (log.isDebugEnabled) {
        val nHot = dfreq.filter(col("__df") > maxDf).count()
        log.debug(s"jaccardPairs df-cap $maxDf pruned $nHot hot shingle(s) " +
          s"from candidate generation${if (nHot == 0) " (no-op: recall exact)" else ""}")
      } else log.info(
        s"jaccardPairs df-cap $maxDf active: recall excludes pairs whose " +
          "every shared shingle is hot (enable DEBUG for the pruned count)")
    }
    // df=1 shingles can never be SHARED, so they are provably dead
    // weight in the self-join — pruning them shrinks the join input by
    // the (typically large) unique-shingle fraction without touching
    // recall; per-doc totals `ns` still count every shingle, so the
    // Jaccard denominator stays exact.
    val rare = sh.join(
      dfreq.filter(col("__df") >= 2 && col("__df") <= maxDf).select("s"), "s")
    val hot = sh.join(dfreq.filter(col("__df") > maxDf).select("s"), "s")
    val rareInter = rare.as("x").join(rare.as("y"),
        col("x.s") === col("y.s") && col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .agg(count(lit(1)).as("i_rare"))
    val hotInter = rareInter.select("id_a", "id_b")
      .join(hot.select(col(idCol).as("id_a"), col("s")), "id_a")
      .join(hot.select(col(idCol).as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i_hot"))
    val inter = rareInter.join(hotInter, Seq("id_a", "id_b"), "left")
      .withColumn("i", col("i_rare") + coalesce(col("i_hot"), lit(0L)))
    inter
      .join(ns.select(col(idCol).as("id_a"), col("nsh").as("na")), "id_a")
      .join(ns.select(col(idCol).as("id_b"), col("nsh").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("i"), col("na"), col("nb"))
  }

  /** The dedup DECISION: transitive closure of near-dup pairs →
    * (doc_id, keep_id, keep). Pair emitters ([[jaccardPairs]],
    * [[minhashLshPairsFrom]], [[simhash64Pairs]], [[cosineLshPairs]])
    * find edges; a real pipeline ends by keeping one canonical doc per
    * connected component and dropping the rest — keep_id = min doc_id
    * of the component (deterministic across partitionings), singletons
    * keep themselves.
    *
    * Scale: connected components via [[graft.ml.Components]] — driver
    * union-find while the edge list (~#true near-dups, tiny vs corpus)
    * fits, O(diameter) distributed min-label propagation above. The
    * final assignment is one left join of docs against the component
    * labels. */
  def dedupGroups(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val labels = graft.ml.Components.minLabel(
      pairs.select(col("id_a"), col("id_b")))
    docs.select(col(idCol).cast("long").as(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("keep_id"))
      .withColumn("keep", col(idCol) === col("keep_id"))
  }

  /** CHAIN audit of the transitive dedup closure ([EXT]): per
    * multi-member cluster, the DIAMETER — the max pairwise edit
    * distance between members — and a `chained` flag at `tau`.
    * Transitive closure is the correct dedup decision (a near-dup of
    * a near-dup is usually a near-dup), but it chains A–B–C into one
    * cluster even when (A, C) was never a candidate pair; a cluster
    * whose diameter far exceeds the pairing threshold is evidence the
    * closure glued genuinely different documents together and the
    * canonical survivor will silently replace content it doesn't
    * represent. This is the audit a pipeline runs before trusting
    * [[dedupGroups]]' keep decisions.
    *
    * Scale: membership is the same closure labels + one corpus join;
    * the pairwise stage is an equi-join ON THE CLUSTER LABEL, so cost
    * is Σ_g |g|² over near-dup clusters (tiny vs corpus — clusters
    * are dup groups, and a pathological mega-cluster is exactly what
    * this audit exists to expose). Determinism: levenshtein is exact
    * integer on both engines; the flag compares integers.
    * Output: (group_id, n_members, diameter, chained). */
  def chainAudit(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, tau: Int): DataFrame = {
    val labels = graft.ml.Components.minLabel(
      pairs.select(col("id_a"), col("id_b")))
    val members = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("__t"))
      .join(labels, Seq("id"))
      .select(least(col("label"), col("id")).as("group_id"),
        col("id"), col("__t"))
    val sizes = members.groupBy("group_id")
      .agg(count(lit(1)).as("n_members"))
    val diam = members.as("x")
      .join(members.as("y"),
        col("x.group_id") === col("y.group_id") && col("x.id") < col("y.id"))
      .select(col("x.group_id").as("group_id"),
        levenshtein(col("x.__t"), col("y.__t")).as("__d"))
      .groupBy("group_id")
      .agg(max(col("__d")).cast("long").as("diameter"))
    sizes.join(diam, "group_id")
      .select(col("group_id"), col("n_members"), col("diameter"),
        (col("diameter") > tau).as("chained"))
  }

  /** Quality-aware dedup: like [[dedupGroups]], but the survivor of
    * each near-dup cluster is the HIGHEST-QUALITY member (ties → the
    * smaller id), not the smallest id — the curation policy real
    * pipelines want, since the first-crawled copy of a page is often
    * the worst one (truncated, boilerplate-heavy). `scored` supplies
    * (idCol, score); keeper selection is one max-struct aggregation
    * per cluster label — same closure machinery, one extra tiny join
    * keyed on the label, no new shuffle of the corpus. */
  def dedupGroupsBest(scored: DataFrame, idCol: String,
      scoreCol: String, pairs: DataFrame): DataFrame = {
    val labels = graft.ml.Components.minLabel(
      pairs.select(col("id_a"), col("id_b")))
    val withLabel = scored
      .select(col(idCol).cast("long").as(idCol), col(scoreCol).as("__score"))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("label"), col(idCol)))
    val best = withLabel.groupBy("group_id")
      .agg(max(struct(col("__score"), (-col(idCol)).as("__nid"))).as("__b"))
      .select(col("group_id"), (-col("__b.__nid")).as("keep_id"))
    withLabel.join(best, "group_id")
      .select(col(idCol), col("group_id"), col("__score").as("score"),
        col("keep_id"), (col(idCol) === col("keep_id")).as("keep"))
  }

  /** Character-level edit-distance verification over an already-banded
    * candidate pair set: Levenshtein ≤ maxDist. The expensive O(n·k)
    * metric runs ONLY on candidates an LSH/banding stage produced —
    * never all-pairs — which is the only shape that survives corpus
    * scale (full Levenshtein over C(n,2) is quadratic twice over).
    * Spark's 3-arg levenshtein early-exits beyond the threshold
    * (banded DP, O(n·maxDist) not O(n·m)), returning −1 past it. */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, maxDist: Int): DataFrame =
    candidates.select(col("id_a"), col("id_b"))
      .join(docs.select(col(idCol).as("id_a"), col(textCol).as("__ta")), "id_a")
      .join(docs.select(col(idCol).as("id_b"), col(textCol).as("__tb")), "id_b")
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_dist"))

  /** INCREMENTAL dedup — the shape production dedup actually runs: a
    * NEW batch of docs (today's crawl) is deduplicated against an
    * immutable existing corpus AND against itself, emitting a per-batch
    * -doc keep/drop decision without ever re-pairing corpus docs with
    * each other. A batch doc is dropped when it near-dups (MinHash-LSH
    * candidates, exact-Jaccard verified at `threshold`) any corpus doc
    * or any earlier (smaller-id) batch doc; `dup_of` is the smallest
    * such partner, null for kept docs.
    *
    * Scale: the corpus side appears ONLY through its banded signature
    * table — at 100 TB that table is computed once, persisted
    * (bucketed by band key), and probed by each day's batch; the
    * corpus×corpus quadratic never runs. The probe is an equi-join of
    * corpus bands against the (typically small) batch bands — AQE
    * broadcasts the batch side when it fits — plus a batch×batch self
    * band-join that is quadratic only in the batch. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, n: Int, numHashes: Int, threshold: Double): DataFrame =
    incrementalDedupFrom(
      minhashBandedFlat(memoShingles(corpus, idCol, textCol, n), idCol, numHashes),
      corpus, batch, idCol, textCol, n, numHashes, threshold)

  /** Write the corpus's banded MinHash signature table BUCKETED by the
    * band key — the persisted half of the incremental-dedup story:
    * at 100 TB the corpus signatures are computed once, land bucketed
    * on (band, key), and every day's probe equi-join reads them
    * co-partitioned — zero Exchange on the corpus side, only the
    * (small) batch side shuffles (asserted in BucketingSpec). */
  def persistBandedSignatures(corpus: DataFrame, idCol: String,
      textCol: String, n: Int, numHashes: Int, table: String,
      buckets: Int): Unit =
    minhashBandedFlat(memoShingles(corpus, idCol, textCol, n), idCol, numHashes)
      .write.format("parquet").bucketBy(buckets, "band", "key")
      .sortBy("band", "key").mode("overwrite").saveAsTable(table)

  /** [[incrementalDedup]] with the corpus candidates read from a
    * precomputed banded signature table (id, band, key) — pass
    * `spark.table(...)` of a [[persistBandedSignatures]] table to get
    * the probe join without reshuffling the corpus side. The corpus
    * docs are still consulted for exact-Jaccard verification, but only
    * for candidate partners (a semi-join-sized read, not a corpus
    * scan-and-shuffle). */
  def incrementalDedupFrom(bandedC: DataFrame, corpus: DataFrame,
      batch: DataFrame, idCol: String, textCol: String, n: Int,
      numHashes: Int, threshold: Double): DataFrame = {
    val shC = memoShingles(corpus, idCol, textCol, n)
    val shB = memoShingles(batch, idCol, textCol, n)
    val bandedB = minhashBandedFlat(shB, idCol, numHashes)
    val cb = bandedC.as("a").join(bandedB.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col(s"a.$idCol").as("partner"), col(s"b.$idCol").as("doc"))
    val bb = bandedB.as("a").join(bandedB.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("partner"), col(s"b.$idCol").as("doc"))
    val cand = cb.unionAll(bb).distinct()
    val shAll = shC.select(col(idCol), col("s"))
      .unionAll(shB.select(col(idCol), col("s")))
    val ns = shAll.groupBy(col(idCol)).agg(count(lit(1)).as("nsh"))
    val inter = cand
      .join(shAll.select(col(idCol).as("partner"), col("s")), "partner")
      .join(shAll.select(col(idCol).as("doc"), col("s")), Seq("doc", "s"))
      .groupBy("doc", "partner").agg(count(lit(1)).as("i"))
    val verified = inter
      .join(ns.select(col(idCol).as("partner"), col("nsh").as("na")), "partner")
      .join(ns.select(col(idCol).as("doc"), col("nsh").as("nb")), "doc")
      .filter(col("i") / (col("na") + col("nb") - col("i")) >= threshold)
    val dupOf = verified.groupBy("doc").agg(min(col("partner")).as("dup_of"))
    batch.select(col(idCol).cast("long").as(idCol))
      .join(dupOf.withColumnRenamed("doc", idCol), Seq(idCol), "left")
      .select(col(idCol), col("dup_of"), col("dup_of").isNull.as("keep"))
  }

  /** Bloom-pre-filtered EXACT incremental dedup: decide keep/drop for
    * each batch doc against an immutable corpus by canonical
    * fingerprint ([[TextOps.fingerprint]]), with a Bloom filter of the
    * corpus fingerprints pruning the verify join. A batch doc whose
    * fingerprint the Bloom rejects is DEFINITELY new (Bloom filters
    * have no false negatives) and never reaches the join; only the
    * Bloom-positive minority — true dups plus the fpp sliver of false
    * positives — is verified exactly. The final keep/drop is therefore
    * EXACTLY the anti-join answer (the Bloom changes cost, never the
    * result), which is what the DuckDB oracle checks.
    *
    * Scale: this is the daily-crawl shape — at 10⁹ corpus docs a 1%
    * Bloom is ~1.2 GB, built once (`df.stat.bloomFilter`, a
    * distributive aggregate) and broadcast; the typical batch then
    * shuffles only its Bloom-positive few percent into the join
    * against the corpus fingerprint table. Beyond broadcast size the
    * same plan runs with the Bloom sharded by fingerprint prefix. The
    * probe is a Scala UDF over the broadcast sketch — justified: Spark
    * exposes no codegen'd probe for a driver-built BloomFilter, and
    * the per-row work is two hash calls on a 32-char string.
    * Output: (idCol, is_dup, keep) per batch doc. */
  def bloomIncrementalExact(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, expectedItems: Long,
      fpp: Double): DataFrame = {
    val cfp = TextOps.fingerprint(corpus, idCol, textCol)
    val bfp = TextOps.fingerprint(batch, idCol, textCol)
    val bloom = cfp.stat.bloomFilter("fp", expectedItems, fpp)
    // null fingerprint (null text): SQL join semantics say null never
    // matches, so it is definite-new — and the guard keeps the probe
    // from NPE-ing (stat.bloomFilter itself skips nulls on build)
    val mightContain = udf((s: String) => s != null && bloom.mightContain(s))
    val flagged = bfp.withColumn("__maybe", mightContain(col("fp")))
    val definiteNew = flagged.filter(!col("__maybe"))
      .select(col(idCol), lit(false).as("is_dup"))
    val verified = flagged.filter(col("__maybe"))
      .join(cfp.select(col("fp")).distinct().withColumn("__in", lit(1)),
        Seq("fp"), "left")
      .select(col(idCol), col("__in").isNotNull.as("is_dup"))
    definiteNew.unionByName(verified)
      .withColumn("keep", !col("is_dup"))
  }

  /** Wide signature form: one row per doc, columns __mh0..__mhN-1.
    * (Measured alternative: hashing each DISTINCT shingle once and
    * joining back was no faster at sf0.1 — the extra distinct+join
    * offsets the saved md5 work — so the straight map-side form
    * stays.) */
  def minhashSignaturesWide(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(h =>
      min(md5(concat(lit(s"$h|"), col("s")).cast("binary"))).as(s"__mh$h"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash-LSH near-dup pairs: b bands of r=2 minhashes (band key =
    * concatenation of the band's minhashes) → candidate pairs share a
    * full band; candidates are then verified with exact Jaccard and
    * filtered at `threshold`. With r=2 a chance single-hash collision
    * between unrelated docs does NOT produce a candidate — pair volume
    * stays proportional to true near-dups, which is what makes this
    * the 100-TB path. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, threshold: Double): DataFrame =
    minhashLshPairsFrom(memoShingles(docs, idCol, textCol, n), idCol, numHashes, threshold)

  /** (id, bk) banded minhash rows: numHashes/2 bands of r=2, band key =
    * concatenation of the band's two minhashes. */
  /** [[minhashBanded]] with the band struct flattened to (band, key)
    * top-level columns — the bucketable layout [[persistBandedSignatures]]
    * writes and the incremental probes join on. */
  private[graft] def minhashBandedFlat(sh: DataFrame, idCol: String,
      numHashes: Int): DataFrame =
    minhashBanded(sh, idCol, numHashes)
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))

  private def minhashBanded(sh: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    require(numHashes % 2 == 0, "numHashes must be even (r=2 bands)")
    val wide = minhashSignaturesWide(sh, idCol, numHashes)
    val bandCols = (0 until numHashes / 2).map(b =>
      struct(lit(b).as("band"),
        concat(col(s"__mh${2 * b}"), col(s"__mh${2 * b + 1}")).as("key")))
    wide.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
  }

  /** [[minhashLshPairs]] over a precomputed (id, s) shingle table.
    *
    * Below 10⁵ shingle rows (the constant the series gates use) the
    * whole pass runs on one [[graft.ml.Gate]] collect of the
    * `(id, s)` rows, and the pairs come back as a local frame with the
    * plan's schema: the plan's signatures (per hash h, the min
    * lowercase-hex md5 of `h|s`), its r=2 band keys, the same distinct
    * `id_a < id_b` candidates, the same multiplicity-weighted shingle
    * intersection and double Jaccard, rounded HALF_UP as Spark's
    * `round` does. At reference corpus sizes the plan's ~20 Spark jobs
    * cost more than the hashing. The plan stays the scale path: it
    * serves every input at or above the gate, and any input the driver
    * does not replicate — non-integral ids, a non-string `s`, a null id
    * or shingle, or a pair whose Jaccard denominator is zero. */
  def minhashLshPairsFrom(sh: DataFrame, idCol: String,
      numHashes: Int, threshold: Double): DataFrame =
    minhashLshPairsFrom(sh, idCol, numHashes, threshold, 100000L)

  /** [[minhashLshPairsFrom]] under an explicit gate in shingle rows;
    * `gate = 0` forces the plan (the parity spec's lever). */
  private[graft] def minhashLshPairsFrom(sh: DataFrame, idCol: String,
      numHashes: Int, threshold: Double, gate: Long): DataFrame = {
    val plan = minhashLshPlan(sh, idCol, numHashes, threshold)
    val idType = plan.schema("id_a").dataType
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    if (!integral(idType) || sh.select(col("s")).schema.head.dataType != StringType)
      return plan
    def typed(v: Long): Any = idType match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType => v.toInt
      case _ => v
    }
    graft.ml.Gate.collectBelow(
        sh.select(col(idCol).cast("long"), col("s").cast("binary")), gate)(
        r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
      .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
      .flatMap(rows => minhashLshLocal(rows, numHashes, threshold))
      .map(pairs => sh.sparkSession.createDataFrame(
        pairs.map { case (a, b, j) => Row(typed(a), typed(b), j) }.asJava, plan.schema))
      .getOrElse(plan)
  }

  private def minhashLshPlan(sh: DataFrame, idCol: String,
      numHashes: Int, threshold: Double): DataFrame = {
    val banded = minhashBanded(sh, idCol, numHashes)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val ns = sh.groupBy(col(idCol)).agg(count(lit(1)).as("nsh"))
    // composite equi-join on (id_b, s): only shared shingles survive the
    // join — never the |sh(a)|×|sh(b)| per-pair product
    val inter = cand
      .join(sh.select(col(idCol).as("id_a"), col("s")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
    inter
      .join(ns.select(col(idCol).as("id_a"), col("nsh").as("na")), "id_a")
      .join(ns.select(col(idCol).as("id_b"), col("nsh").as("nb")), "id_b")
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The driver body of [[minhashLshPairsFrom]] over id-sorted
    * (id, UTF-8 shingle bytes) rows: the plan's (id_a, id_b, jaccard)
    * rows in (id_a, id_b) order, or None when a candidate's Jaccard
    * denominator is zero (duplicated rows can make i = na + nb), which
    * the plan's division decides. */
  private def minhashLshLocal(rows: Array[Row], numHashes: Int,
      threshold: Double): Option[Seq[(Long, Long, Double)]] = {
    // per doc: its id, row count and shingle multiplicities
    val ids = mutable.ArrayBuffer.empty[Long]
    val rowCounts = mutable.ArrayBuffer.empty[Long]
    val mults = mutable.ArrayBuffer.empty[mutable.HashMap[ByteBuffer, Long]]
    rows.foreach { r =>
      val id = r.getLong(0)
      if (ids.isEmpty || ids.last != id) {
        ids += id; rowCounts += 0L; mults += mutable.HashMap.empty
      }
      rowCounts(ids.length - 1) += 1
      val m = mults.last
      val k = ByteBuffer.wrap(r.getAs[Array[Byte]](1))
      m(k) = m.getOrElse(k, 0L) + 1
    }
    // signatures: the min md5 per hash, held as its two big-endian
    // halves, whose unsigned order is the order of the lowercase hex
    val md = MessageDigest.getInstance("MD5")
    val prefixes = (0 until numHashes).map(h => s"$h|".getBytes(UTF_8))
    val sigHi = Array.ofDim[Long](ids.length, numHashes)
    val sigLo = Array.ofDim[Long](ids.length, numHashes)
    for (d <- ids.indices; h <- 0 until numHashes) {
      var hi = -1L; var lo = -1L
      mults(d).keysIterator.foreach { k =>
        md.update(prefixes(h)); md.update(k.array())
        val dg = ByteBuffer.wrap(md.digest())
        val (dh, dl) = (dg.getLong(0), dg.getLong(8))
        val c = java.lang.Long.compareUnsigned(dh, hi)
        if (c < 0 || (c == 0 && java.lang.Long.compareUnsigned(dl, lo) < 0)) { hi = dh; lo = dl }
      }
      sigHi(d)(h) = hi; sigLo(d)(h) = lo
    }
    // candidates: docs sharing a band's two minima; docs are in id
    // order, so each bucket lists ids ascending
    val buckets = mutable.HashMap.empty[(Int, Long, Long, Long, Long), mutable.ArrayBuffer[Int]]
    for (d <- ids.indices; b <- 0 until numHashes / 2)
      buckets.getOrElseUpdate(
        (b, sigHi(d)(2 * b), sigLo(d)(2 * b), sigHi(d)(2 * b + 1), sigLo(d)(2 * b + 1)),
        mutable.ArrayBuffer.empty) += d
    val n = ids.length.toLong
    val cand = mutable.HashSet.empty[Long]
    buckets.valuesIterator.foreach { ds =>
      for (x <- ds.indices; y <- x + 1 until ds.length) cand += ds(x) * n + ds(y)
    }
    // (id_a, id_b, i, na + nb - i): i sums, over the shared shingles,
    // the product of their multiplicities, as the plan's (id_b, s) join
    val scored = cand.toArray.sorted.map { key =>
      val (a, b) = ((key / n).toInt, (key % n).toInt)
      val (small, large) =
        if (mults(a).size <= mults(b).size) (mults(a), mults(b)) else (mults(b), mults(a))
      var i = 0L
      small.foreach { case (k, c) => i += c * large.getOrElse(k, 0L) }
      (ids(a), ids(b), i, rowCounts(a) + rowCounts(b) - i)
    }
    if (scored.exists(_._4 == 0)) None
    else Some(scored.toSeq.collect {
      case (a, b, i, denom) if i.toDouble / denom.toDouble >= threshold =>
        (a, b, BigDecimal(i.toDouble / denom.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    })
  }

  /** Per-token md5 nibbles (id, __nib0..__nib15), Memo-cached per doc
    * plan: hash each token ONCE and decode each hex nibble once in a
    * projection — the vote aggregates then reduce plain int columns
    * with shift/mask, keeping the generated agg class small and fully
    * codegen'd. One pass feeds the 32-bit fingerprint, 32-bit pairs,
    * AND 64-bit pairs queries (the 32-bit nibble set is a prefix of
    * the 64-bit one), so a suite touching all three tokenizes the
    * corpus once, not three times. */
  private def tokenNibbles(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.queries.Memo.cached(docs.sparkSession, "simhashnibs", Seq(docs), idCol, textCol) {
      val toks = TextOps.tokens(docs, idCol, textCol)
        .withColumn("hx", md5(col("w").cast("binary")))
      val nibCols = (0 until 16).map(i =>
        expr(s"instr('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1").as(s"__nib$i"))
      toks.select((col(idCol) +: nibCols): _*)
    }

  /** nBits-wide SimHash per doc: per bit, frequency-weighted ±1 vote
    * from the token's md5 nibble bits; bit set iff the vote sum is > 0.
    * md5's 32 hex nibbles supply up to 128 independent bits.
    *
    * All nBits vote sums are parallel aggregates of ONE groupBy on the
    * doc id (the minhashSignaturesWide pattern): no per-bit row
    * explosion, no (id, bit) shuffle — the shuffle carries one row per
    * doc with nBits columns instead of tokens×nBits rows. */
  private def simhashBits(docs: DataFrame, idCol: String, textCol: String,
      nBits: Int): DataFrame = {
    require(nBits >= 1 && nBits <= 64, s"nBits must be in [1,64], got $nBits")
    val voteAggs = (0 until nBits).map { b =>
      sum(expr(s"((__nib${b / 4} >> ${b % 4}) & 1) * 2 - 1")).as(s"__sv$b")
    }
    val votes = tokenNibbles(docs, idCol, textCol)
      .groupBy(col(idCol)).agg(voteAggs.head, voteAggs.tail: _*)
    val assemble = (0 until nBits).map { b =>
      when(col(s"__sv$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    // one row per doc — Memo-cached so the fingerprint query and the
    // pairs query over the same docs share a single signature pass
    graft.queries.Memo.cached(docs.sparkSession, "simhash", Seq(docs), nBits, idCol, textCol)(
      votes.select(col(idCol), assemble.as("simhash")))
  }

  /** 32-bit SimHash (DuckDB-oracle width; birthday collisions make 32
    * bits candidate-noisy beyond ~10⁶ docs — use simhash64 at scale).
    *
    * Derived from the 64-bit fingerprint's low half rather than its own
    * aggregation pass: bit b < 32 reads the same md5 nibble and the
    * same vote sum in both widths, so simhash32 ≡ simhash64 & 2³²−1
    * exactly — and a suite computing both widths runs ONE signature
    * pass instead of two (the Memo-cached simhash64 table serves
    * every simhash query). */
  def simhash32(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhash64(docs, idCol, textCol)
      .select(col(idCol), col("simhash").bitwiseAND(lit(0xFFFFFFFFL)).as("simhash"))

  /** 64-bit SimHash: the corpus-scale fingerprint width. At 10⁹ docs
    * the expected number of 32-bit birthday collisions (~10¹⁷ candidate
    * pairs) swamps true near-dups; 64 bits keeps chance band collisions
    * rare relative to real ones. Bit 63 uses Long's sign bit — fine,
    * Hamming/bands operate on the two's-complement pattern. */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashBits(docs, idCol, textCol, 64)

  /** 64-bit SimHash near-dup pairs at Hamming ≤ maxHamming (≤ 3) via
    * block banding (Manku, Jain & Das Sarma, WWW 2007): the 64 bits
    * split into 6 blocks (4×11 + 2×10 bits). A pair within Hamming 3
    * differs in at most 3 blocks, so by pigeonhole it AGREES on some 3
    * of the 6 — candidates come from an equi-join on C(6,3)=20 combo
    * keys of ~32 masked bits each, then exact Hamming verification.
    *
    * Why 3-of-6 and not 4×16-bit single bands: the combo key space is
    * 2³¹⁻³³ per combo vs 2¹⁶ per band. At 10⁹ docs a 16-bit band holds
    * ~15k docs/bucket by CHANCE alone (~4.5×10¹¹ candidate pairs before
    * any real correlation); a ≥31-bit combo key yields expected chance
    * candidates ≈ Σ_combos C(n,2)/2^bits ≈ 20·(10¹⁸/2)/2³¹ ≈ 5×10⁹ —
    * a few per doc, each verified with one xor+popcount. 20 keys/doc
    * costs 5× the banded rows of the old scheme; the join output
    * collapses by ~100×, which is the side that matters. */
  def simhash64Pairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame =
    hamming64Pairs(simhash64(docs, idCol, textCol), idCol, "simhash", maxHamming)

  /** 64-bit Hamming ≤ maxHamming (≤ 3) pairs over an ARBITRARY
    * signature table (idCol, hashCol) — the Manku 3-of-6 block banding
    * documented on [[simhash64Pairs]], factored out so any 64-bit
    * fingerprint family shares it: text SimHashes, image dHashes
    * ([[Multimodal.dHash64]]), audio chromaprints. Exact: pigeonhole
    * makes candidate generation complete at Hamming ≤ 3, and every
    * candidate is verified with one xor+popcount. */
  def hamming64Pairs(sigs: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"3-of-6 block banding covers Hamming <= 3, got $maxHamming")
    val s = sigs.select(col(idCol), col(hashCol).as("simhash"))

    val widths = Seq(11, 11, 11, 11, 10, 10)
    val offsets = widths.scanLeft(0)(_ + _).init
    val blockMasks = widths.zip(offsets).map { case (w, o) =>
      (if (w == 64) -1L else ((1L << w) - 1)) << o
    }
    val comboCols = (0 until 6).combinations(3).toSeq.zipWithIndex.map {
      case (blocks, idx) =>
        val mask = blocks.map(blockMasks).reduce(_ | _)
        struct(lit(idx).as("band"),
          col("simhash").bitwiseAND(lit(mask)).as("key"))
    }
    val banded = s.select(col(idCol), col("simhash"),
      explode(array(comboCols: _*)).as("bk"))
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-dup pairs: Hamming distance ≤ maxHamming.
    *
    * Candidate generation is byte-banded for maxHamming ≤ 3 (the scale
    * path): by pigeonhole, two hashes within Hamming m agree exactly
    * on some (4−m)-byte subset, so candidates are found with an
    * equi-join on (subset, masked-hash) keys — never an all-pairs
    * product — then verified exactly. Results are identical to the
    * brute scan (which remains the fallback for loose thresholds). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val s = simhash32(docs, idCol, textCol) // Memo-cached inside
    val pairs =
      if (maxHamming <= 3) {
        val keepSets = (0 until 4).combinations(4 - maxHamming).toSeq.zipWithIndex
        val bandCols = keepSets.map { case (keep, bandIdx) =>
          val mask = keep.map(b => 0xFFL << (8 * b)).reduce(_ | _)
          struct(lit(bandIdx).as("band"),
            (col("simhash").bitwiseAND(lit(mask))).as("key"))
        }
        val banded = s.select(col(idCol), col("simhash"),
          explode(array(bandCols: _*)).as("bk"))
        banded.as("a").join(banded.as("b"),
            col("a.bk") === col("b.bk") && col(s"a.$idCol") < col(s"b.$idCol"))
          .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
            col("a.simhash").as("sa"), col("b.simhash").as("sb"))
          .distinct()
      } else {
        val a = s.select(col(idCol).as("id_a"), col("simhash").as("sa"))
        val b = s.select(col(idCol).as("id_b"), col("simhash").as("sb"))
        a.join(b, col("id_a") < col("id_b"))
      }
    pairs
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Embedding-cosine near-dup pairs via signed-random-projection LSH
    * (Charikar 2002) — the corpus-scale path for [[cosinePairs]].
    *
    * nBits hyperplanes are derived deterministically from md5 (weight
    * w(b,i) = first-8-hex-digits(md5("b|i"))/2³¹ − 1), so the DuckDB
    * oracle reproduces the signatures bit-for-bit. A vector's signature
    * bit b is sign(r_b · v); near-parallel vectors agree on most bits,
    * so candidates are pairs sharing one FULL band of `rowsPerBand`
    * bits, found with an equi-join on (band, bits) and then
    * exact-cosine verified at `threshold`.
    *
    * Scale honesty: candidate volume is Σ_bands Σ_keys C(bucket, 2) —
    * per-band collision probability is (1−θ/π)^r for angle θ, so SHORT
    * bands (small rowsPerBand) make the join a constant fraction of
    * all pairs and only LONG bands (r ≥ 8–16, plausible for the
    * ≥0.9-cosine regime real near-dup corpora sit in) give genuinely
    * sub-quadratic candidates. The Long signature admits r up to 63;
    * pick r so that 2^r ≫ expected bucket load, and widen to multiple
    * signature words if more bands are needed. Recall for a pair at
    * angle θ is 1 − (1 − (1−θ/π)^r)^bands. */
  def cosineLshPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    require(nBits >= rowsPerBand && nBits % rowsPerBand == 0 && nBits <= 63,
      s"nBits must be a multiple of rowsPerBand and <= 63, got $nBits/$rowsPerBand")
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    // derive + validate the vector dimension in one tiny aggregate: an
    // empty table yields an empty pair frame (not a head() crash), and
    // ragged dimensions fail loudly instead of silently mis-projecting.
    // r17: the (min, max) row is paired with the Memo'd prep frame —
    // deterministic input makes it a constant, and re-deriving it cost
    // one aggregate job per invocation. The aggregate reads the cached
    // frame, so its job also fills the cache.
    val (e, dimRow) = graft.queries.Memo.cachedWith(spark, "coslsh", Seq(emb),
        idCol, vecCol) {
      val prep = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(call_function("array_dot", col("v"), col("v"))))
        .cache()
      (prep, prep.agg(min(size(col("v"))).as("mn"), max(size(col("v"))).as("mx")).head())
    }
    if (dimRow.isNullAt(0))
      return e.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0.0).as("cosine")).limit(0)
    require(dimRow.getInt(0) == dimRow.getInt(1),
      s"embedding dims not uniform: ${dimRow.getInt(0)} vs ${dimRow.getInt(1)}")
    val dim = dimRow.getInt(0)
    val sigBits = (0 until nBits).map { b =>
      when(call_function("array_dot", col("v"),
        typedLit(hyperplane(b, dim))) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    // Memo'd (r17): the nBits-hyperplane signature pass is an index
    // artifact (built once per corpus, like the ANN code tables) that
    // both band-join sides — and every re-run — otherwise recompute
    val sig = graft.queries.Memo.cached(spark, "coslshsig", Seq(emb), idCol, vecCol, nBits)(
      e.withColumn("sig", sigBits))
    val numBands = nBits / rowsPerBand
    val mask = (1L << rowsPerBand) - 1
    val bandCols = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * rowsPerBand).bitwiseAND(lit(mask)).as("key"))
    }
    val banded = sig.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    cand
      .join(e.select(col(idCol).as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(e.select(col(idCol).as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (call_function("array_dot", col("va"), col("vb"))
          / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 5).as("cosine"))
  }

  /** Deterministic pseudo-random hyperplane b over `dim` dims: each
    * weight is uniform-ish in [−1, 1) from md5's first 8 hex digits. */
  private def hyperplane(b: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      val hex = md.digest(s"$b|$i".getBytes("UTF-8"))
        .take(4).map(x => f"${x & 0xFF}%02x").mkString
      java.lang.Long.parseLong(hex, 16).toDouble / 2147483648.0 - 1.0
    }
  }

  /** Embedding-cosine near-dup pairs above `threshold` (brute-force
    * pair scan; see [[cosineLshPairs]] / Similarity.Ivf for the bucketed
    * scale paths). The dot product is graft's native codegen'd ArrayDot
    * expression — same fold order as the SQL higher-order form, ~20×
    * less per-pair cost. */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val e = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(call_function("array_dot", col("v"), col("v"))))
    e.as("a").join(e.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        (call_function("array_dot", col("a.v"), col("b.v"))
          / (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 5).as("cosine"))
  }
}
