package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column ([EXT]).
  *
  * Two paths:
  *  - bruteForceTopK: exact cosine top-k via query×corpus join +
  *    per-query bounded partial-agg rank ([[aggTopK]]). Correct
  *    baseline; the scan is O(|Q|·|C|) — only sane when the query set
  *    is small or the corpus is pre-filtered — but the top-k shuffle
  *    is bounded (partitions × |Q| k-heaps), never |Q|·|C| rows.
  *  - IVF (in graft.ml.Ivf, spark.ml KMeans coarse quantizer): probe
  *    only the nearest nprobe centroids' buckets — the 100-TB path,
  *    turning the scan into a bucket-pruned join on centroid_id.
  */
object Similarity {

  /** Normalize to (id, v: array<double>, nrm) using the native
    * codegen'd dot-product expression. */
  private[graft] def prep(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(call_function("array_dot", col("v"), col("v"))))
  }

  /** Exact cosine top-k neighbors for each query id (queries = rows of
    * `emb` satisfying `queryPred` SQL predicate; self excluded).
    * Deterministic: ties broken by neighbor id. `corpus` (default:
    * `emb` itself) restricts the NEIGHBOR side — the exact baseline a
    * filtered ANN search ([[graft.ml.Ivf.filteredTopK]]) is graded
    * against; queries always come from `emb`. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, k: Int,
      corpus: Option[DataFrame] = None): DataFrame = {
    val e = prep(emb, idCol, vecCol)
    val q = e.filter(expr(queryPred))
      .select(col(idCol).as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = q.join(corpus.map(prep(_, idCol, vecCol)).getOrElse(e),
        col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"),
        (call_function("array_dot", col("qv"), col("v"))
          / (col("qn") * col("nrm"))).as("cosine"))
    rankTopK(scored, k)
  }

  /** Cross-lingual bitext mining via margin-kNN scoring ([EXT] —
    * Artetxe & Schwenk, ACL 2019): candidate translation pairs
    * between a source-language and a target-language slice of the
    * corpus, scored by
    * score(x,y) = cos(x,y) / ((avgₖcos(x,NNₖ(x)) + avgₖcos(y,NNₖ(y)))/2);
    * the margin denominator de-biases hubness (vectors near
    * everything score near 1 everywhere), the forward argmax keeps
    * the best target per source, and `threshold` gates acceptance
    * (1.0 = "no better than x's average neighborhood").
    *
    * Determinism: the pair cosine is quantized ONCE to an integer
    * c5 = round(cos·10⁵) and every downstream aggregate (top-k sums,
    * averages, margin, argmax) works off that integer — sums are
    * order-free, the margin is one shared IEEE chain, and ties break
    * on (score, n_id) totals. The oracle replays the same integer
    * pipeline through window functions.
    *
    * Shape: the |src|·|tgt| pair scan is MATERIALIZED once behind a
    * Memo barrier and consumed three times (forward kNN, backward
    * kNN, final scoring); top-k runs through the bounded-heap
    * [[TopKRows]] partial aggregate and the final per-source pick is
    * a max_by AGGREGATE — no |pairs|-row window shuffle anywhere
    * (the VERDICT r9 #1 contract). At 100 TB the scan stage swaps
    * for the IVF-probed candidate generator ([[graft.ml.Ivf]]) with
    * everything downstream unchanged — the same prefilter-ladder
    * contract as the other full-scan tiers. */
  /** The Memo'd (q_id, n_id, c5) src→tgt pair table shared by
    * [[bitextMine]] and [[bitextMutual]] (one cross join, integer
    * quantized cosines — both directions read the SAME table, the
    * backward direction through a transpose, never a second scan). */
  private def bitextScored(emb: DataFrame, idCol: String, vecCol: String,
      langOf: DataFrame, langCol: String, srcLang: String,
      tgtLang: String): DataFrame = {
    val e = prep(emb, idCol, vecCol)
      .join(langOf.select(col(idCol), col(langCol).as("__lang")), Seq(idCol))
      .filter(col("nrm") > 0.0)
    val s = e.filter(col("__lang") === srcLang)
      .select(col(idCol).as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val t = e.filter(col("__lang") === tgtLang)
      .select(col(idCol).as("n_id"), col("v"), col("nrm"))
    val scored0 = s.crossJoin(t)
      .select(col("q_id"), col("n_id"),
        round(call_function("array_dot", col("qv"), col("v"))
          / (col("qn") * col("nrm")) * lit(1e5)).cast("long").as("c5"))
    graft.queries.Memo.cached(emb.sparkSession, "bitext", Seq(emb, langOf),
        idCol, vecCol, langCol, srcLang, tgtLang)(
      scored0)
  }

  def bitextMine(emb: DataFrame, idCol: String, vecCol: String,
      langOf: DataFrame, langCol: String, srcLang: String, tgtLang: String,
      k: Int = 4, threshold: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    bitextMarginTail(bitextScored(emb, idCol, vecCol, langOf, langCol,
      srcLang, tgtLang), k, threshold)
  }

  /** INTERSECTION bitext mining (Artetxe & Schwenk ACL'19 §3.2, the
    * high-precision mode): a pair survives only when each side is the
    * OTHER's margin-argmax — forward (src→tgt) and backward (tgt→src)
    * both computed from the ONE Memo'd pair table (the backward
    * direction is a transpose of the same (q, n, c5) rows, so mutual
    * costs one extra tail, never a second cross join) and inner-joined
    * on the agreeing pair. Output carries both margin scores; the
    * forward/backward score asymmetry (different kNN hubness
    * denominators) is the expected signal, not an error. */
  def bitextMutual(emb: DataFrame, idCol: String, vecCol: String,
      langOf: DataFrame, langCol: String, srcLang: String, tgtLang: String,
      k: Int = 4, threshold: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val scored = bitextScored(emb, idCol, vecCol, langOf, langCol,
      srcLang, tgtLang)
    mutualFromScored(scored, k, threshold)
  }

  /** Both directions' margin tails over one (q, n, c5) pool, sharing
    * the per-side k-nearest averages (r17: the forward tail's backward
    * average IS the backward tail's forward average — four aggregations
    * collapse to two, identical expressions). */
  private def mutualFromScored(scored: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    val (srcAvg, tgtAvg) = sideAvgs(scored, k)
    val transposed = scored.select(col("n_id").as("q_id"),
      col("q_id").as("n_id"), col("c5"))
    val fwd = bitextMarginTailFrom(scored,
      srcAvg.withColumnRenamed("__avg", "__fa"),
      tgtAvg.withColumnRenamed("q_id", "n_id")
        .withColumnRenamed("__avg", "__ba"), threshold)
    val bwd = bitextMarginTailFrom(transposed,
      tgtAvg.withColumnRenamed("__avg", "__fa"),
      srcAvg.withColumnRenamed("q_id", "n_id")
        .withColumnRenamed("__avg", "__ba"), threshold)
    fwd.join(bwd.select(col("src_id").as("tgt_id"),
        col("tgt_id").as("src_id"), col("score").as("score_bwd")),
        Seq("src_id", "tgt_id"))
      .select(col("src_id"), col("tgt_id"), col("cosine"),
        col("score").as("score_fwd"), col("score_bwd"))
  }

  /** The margin-kNN scoring tail shared by [[bitextMine]] (exact
    * all-pairs candidates) and [[bitextMineIvf]] (IVF-probed
    * candidates): ONE ordering/rounding definition, so the two tiers
    * can only differ in WHICH (q, n, c5) pairs they see, never in how
    * a pair is scored — the lockstep rule the binary-Hamming rerank
    * already follows (ADVICE r9). */
  private def bitextMarginTail(scored: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    val (srcAvg, tgtAvg) = sideAvgs(scored, k)
    bitextMarginTailFrom(scored,
      srcAvg.withColumnRenamed("__avg", "__fa"),
      tgtAvg.withColumnRenamed("q_id", "n_id")
        .withColumnRenamed("__avg", "__ba"), threshold)
  }

  /** The two per-side k-nearest-average frames over one (q, n, c5)
    * pool, Memo'd per (pool plan, k) — r18: the forward miner and the
    * mutual miner over the SAME Memo'd pool each re-aggregated both
    * sides (the aggregates are expression-identical across the two
    * queries, only the output column name differed); one build now
    * serves all four consumers, like the banded-Hamming pair memo
    * (r17 §5). Canonical key column is q_id; callers rename. */
  private def sideAvgs(scored: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val spark = scored.sparkSession
    val src = graft.queries.Memo.cached(spark, "bitextavg", Seq(scored), "f", k)(
      kNearestAvg(scored, k, "q_id"))
    val tgt = graft.queries.Memo.cached(spark, "bitextavg", Seq(scored), "b", k)(
      kNearestAvg(scored.select(col("n_id").as("q_id"),
        col("q_id").as("n_id"), col("c5")), k, "q_id"))
    (src, tgt)
  }

  /** Per-side k-nearest average (exact integer sum over the bounded
    * top-k heap) — factored out so [[bitextMutual]]/[[bitextMutualIvf]]
    * can compute each side's average ONCE and feed both directions'
    * tails (the forward tail's backward average IS the backward tail's
    * forward average — r17: mutual used to aggregate all four). */
  private def kNearestAvg(df: DataFrame, k: Int, keyOut: String): DataFrame = {
    val tk = udaf(new graft.functions.TopKRows(k, asc = false),
      graft.functions.TopKRows.inputEncoder)
    df.groupBy(col("q_id").as(keyOut))
      .agg(tk(col("c5").cast("double"), col("n_id").cast("long"), lit(0L))
        .as("__tk"))
      .withColumn("__avg", expr(
        "CAST(aggregate(__tk, 0L, (a, h) -> a + CAST(h.key AS LONG)) AS DOUBLE)"
          + " / size(__tk)"))
      .select(col(keyOut), col("__avg"))
  }

  /** The margin tail AFTER the two k-nearest-average frames: `fwd`
    * keyed q_id as __fa, `bwd` keyed n_id as __ba. */
  private def bitextMarginTailFrom(scored: DataFrame, fwd: DataFrame,
      bwd: DataFrame, threshold: Double): DataFrame = {
    scored.join(fwd, "q_id").join(bwd, "n_id")
      .withColumn("__score",
        lit(2.0) * col("c5") / (col("__fa") + col("__ba")))
      .groupBy(col("q_id").as("src_id"))
      .agg(max_by(struct(col("__score"), col("n_id"), col("c5")),
        struct(col("__score"), (lit(0L) - col("n_id")))).as("__w"))
      .filter(col("__w.__score") >= threshold)
      .select(col("src_id"), col("__w.n_id").as("tgt_id"),
        (col("__w.c5").cast("double") / lit(1e5)).as("cosine"),
        (floor(col("__w.__score") * lit(1e6) + lit(0.5)).cast("double")
          / lit(1e6)).as("score"))
  }

  /** [[bitextMine]] with IVF-PROBED candidate generation — the 100-TB
    * swap-in for the exact tier's |src|·|tgt| pair scan (the pruned
    * mining variant of Artetxe & Schwenk ACL'19 §3.3: margin scoring
    * over approximate-neighbor candidates). Candidates come from the
    * shared [[graft.ml.Ivf.filteredTopK]] probe (queries = the source
    * language, inverted lists pre-filtered to the target language
    * inside the probed cells), so the pair stage reads only probed
    * cells and carries |src|·cand rows instead of |src|·|tgt|. The
    * backward k-nearest average is computed over the MINED candidate
    * set (each target's incoming candidate edges) — the standard
    * pruned approximation; with `nprobe == nlist` and
    * `cand >= |tgt|` the candidate set is the full bipartite graph
    * and the output is bitwise [[bitextMine]] (BitextSpec pins this).
    * Zero vectors are excluded up front, matching the exact tier. */
  /** The IVF-probed (q, n, c5) candidate pool shared by
    * [[bitextMineIvf]] and [[bitextMutualIvf]] — the pruned twin of
    * [[bitextScored]]. */
  private def bitextScoredIvf(emb: DataFrame, idCol: String, vecCol: String,
      langOf: DataFrame, langCol: String, srcLang: String, tgtLang: String,
      cand: Int, nlist: Int, nprobe: Int, seed: Long): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val vd = col(vecCol).cast("array<double>")
    val withLang = emb
      .filter(call_function("array_dot", vd, vd) > lit(0.0))
      .join(langOf.select(col(idCol), col(langCol).as("__lang")), Seq(idCol))
      .filter(col("__lang").isin(srcLang, tgtLang))
    val pool = graft.ml.Ivf.filteredTopK(withLang, idCol, vecCol,
      s"__lang = '$srcLang'", s"__lang = '$tgtLang'", cand, nlist, nprobe,
      seed)
    // rankTopK already rounds cosine to 5dp, so c5 is the same
    // integer quantization the exact tier feeds the margin tail.
    // Memo'd like the exact tier's pair table: the forward and mutual
    // IVF miners (and the agreement gates) share ONE probe pool per
    // (inputs, params) — the fit + probe runs once, not per consumer.
    graft.queries.Memo.cached(emb.sparkSession, "bitextivf", Seq(emb, langOf),
        idCol, vecCol, langCol, srcLang, tgtLang, cand, nlist, nprobe, seed)(
      pool.select(col("q_id"), col("n_id"),
        round(col("cosine") * lit(1e5)).cast("long").as("c5")))
  }

  def bitextMineIvf(emb: DataFrame, idCol: String, vecCol: String,
      langOf: DataFrame, langCol: String, srcLang: String, tgtLang: String,
      k: Int = 4, threshold: Double = 1.0, cand: Int = 16,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42): DataFrame = {
    require(cand >= k, s"cand ($cand) must be >= k ($k)")
    bitextMarginTail(bitextScoredIvf(emb, idCol, vecCol, langOf, langCol,
      srcLang, tgtLang, cand, nlist, nprobe, seed), k, threshold)
  }

  /** [[bitextMutual]] at the IVF-probed regime: both directions'
    * margin-argmax computed over the SAME pruned candidate pool
    * (backward = transpose — each target's incoming probe edges), so
    * the high-precision intersection mode inherits the sublinear
    * candidate generation: |src|·cand pairs, probed inverted lists
    * only, one extra tail over the pool. Same shared
    * [[bitextMarginTail]]: with `nprobe == nlist` and
    * `cand >= |tgt|` the pool is the full bipartite graph and the
    * output is bitwise [[bitextMutual]] (BitextSpec pins it). */
  def bitextMutualIvf(emb: DataFrame, idCol: String, vecCol: String,
      langOf: DataFrame, langCol: String, srcLang: String, tgtLang: String,
      k: Int = 4, threshold: Double = 1.0, cand: Int = 16,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42): DataFrame = {
    require(cand >= k, s"cand ($cand) must be >= k ($k)")
    val scored = bitextScoredIvf(emb, idCol, vecCol, langOf, langCol,
      srcLang, tgtLang, cand, nlist, nprobe, seed)
    mutualFromScored(scored, k, threshold)
  }

  /** ROBUST per-dimension statistics ([EXT]): exact lower-quartile /
    * median / upper-quartile and IQR per embedding dimension — the
    * outlier-resistant twin of [[dimStats]] (a handful of corrupted
    * vectors shift a mean/std audit arbitrarily; they cannot move an
    * order statistic past its breakdown point). `dead` flags IQR = 0
    * dims (constant in the robust sense — quantizer poison).
    *
    * Determinism: every statistic is an explicit LOWER order
    * statistic — element ⌈q·n⌉ of the per-dim sort, integer index
    * arithmetic — so there is no interpolation arithmetic to
    * diverge; the sort is over exact doubles.
    *
    * Scale: one explode + one groupBy(dim) — d groups of n values;
    * exact per-dim sorts are the honest small-d regime (d ≈ 10²–10³,
    * n·d values shuffled once). At corpus scales where n no longer
    * sorts per group, the drop-in is the mergeable GK sketch already
    * in the registry (agg_approx_quantiles) at ε below the audit's
    * decision threshold. */
  def dimRobustStats(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(sort_array(collect_list(col("x"))).as("__s"))
      .select(col("dim"), size(col("__s")).cast("long").as("n"),
        expr("element_at(__s, CAST((size(__s) + 3) div 4 AS INT))").as("__q1"),
        expr("element_at(__s, CAST((size(__s) + 1) div 2 AS INT))").as("__q2"),
        expr("element_at(__s, CAST((3 * size(__s) + 3) div 4 AS INT))").as("__q3"))
      .select(col("dim"), col("n"),
        (floor(col("__q1") * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("q1"),
        (floor(col("__q2") * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("median"),
        (floor(col("__q3") * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("q3"),
        (floor((col("__q3") - col("__q1")) * lit(1e6) + lit(0.5)).cast("double")
          / lit(1e6)).as("iqr"))
      .withColumn("dead", col("iqr") <= lit(0.0))

  /** Per-dimension corpus statistics of the embedding column ([EXT]):
    * (dim, n, mean, std, min, max) — the whitening/pre-processing
    * audit (dead dims, dominant dims, mis-scaled dims) run before
    * fitting quantizers or PCA.
    *
    * Cross-engine determinism: cross-ROW sums of floats are
    * order-dependent, so the means ride integer micro-sums — each
    * value quantized to round(x·10⁶) (and its square to
    * round(x²·10⁶)) before summing; the two exact integer sums give
    * mean and E[x²] − mean² variance with identical double arithmetic
    * in Spark and DuckDB. Overflow bound: |x| ≲ 30 → summands ≤ 10⁹,
    * safe to ~10⁹ rows per dim; min/max are exact comparisons.
    *
    * Scale: one posexplode to (rows × dims) that immediately partial-
    * aggregates — shuffle volume is partitions × dims rows, never the
    * exploded set. */
  def dimStats(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "xd")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(round(col("xd") * 1e6, 0).cast("long")).as("__s1"),
        sum(round(col("xd") * col("xd") * 1e6, 0).cast("long")).as("__s2"),
        min(col("xd")).as("__mn"), max(col("xd")).as("__mx"))
      .select(col("dim"), col("n"),
        round(col("__s1").cast("double") / col("n") / 1e6, 6).as("mean"),
        // mean² via explicit product, not pow(): IEEE multiply is
        // correctly rounded, so both engines produce the same bits
        round(sqrt(greatest(lit(0.0),
          col("__s2").cast("double") / col("n") / 1e6
            - (col("__s1").cast("double") / col("n") / 1e6)
              * (col("__s1").cast("double") / col("n") / 1e6))), 6).as("std"),
        round(col("__mn"), 6).as("mn"), round(col("__mx"), 6).as("mx"))

  /** Embedding DRIFT audit between two snapshots of the same corpus —
    * the embedder-migration gate, and the production USE of
    * [[dimStats]]: per dimension, join the stats of snapshot A
    * (serving) and snapshot B (the re-embed candidate) and flag
    * dimensions whose mean moved by more than `tol` × the larger
    * per-dim std. A drifted geometry means coarse quantizers, PQ
    * codebooks, and frozen SemDeDup clusters fitted on A are stale for
    * B — re-fit before serving. Both stats frames ride dimStats'
    * integer micro-quantization and 6-dp rounding, and the drift
    * comparison runs on those rounded doubles with plain IEEE
    * multiply/compare, so the verdict is bit-deterministic across
    * engines and partitionings.
    *
    * Scale: two dimStats passes (each a map-side-combined shuffle to
    * |dims| rows) + one |dims|-row join — the corpora appear only in
    * the per-partition folds; nothing vector-sized ever joins. */
  def dimDrift(embA: DataFrame, embB: DataFrame, idCol: String,
      vecCol: String, tol: Double): DataFrame = {
    val a = dimStats(embA, idCol, vecCol).select(col("dim"),
      col("mean").as("mean_a"), col("std").as("std_a"))
    val b = dimStats(embB, idCol, vecCol).select(col("dim"),
      col("mean").as("mean_b"), col("std").as("std_b"))
    a.join(b, Seq("dim"))
      .select(col("dim"), col("mean_a"), col("mean_b"),
        round(col("mean_b") - col("mean_a"), 6).as("delta_mean"),
        col("std_a"), col("std_b"),
        (abs(col("mean_b") - col("mean_a")) >
          lit(tol) * greatest(col("std_a"), col("std_b"))).as("drifted"))
  }

  /** Matryoshka truncation audit (Kusupati et al., NeurIPS 2022
    * "Matryoshka Representation Learning"): for each prefix length k,
    * how much of each vector's norm the first k dimensions capture —
    * frac = sqrt(Σ_{i≤k} x_i² / Σ_i x_i²). High prefix fractions mean
    * the embedding can be served truncated (k·4 bytes instead of
    * d·4) with little retrieval loss; flat fractions mean it cannot.
    * Output per k: (k, n_vecs, avg_frac, min_frac, max_frac).
    *
    * Determinism: the per-vector sums fold the array in index order
    * on integer-quantized squares (round(x²·10⁶)), and the per-k
    * averages sum the micro-quantized fractions — no float-sum order
    * dependence anywhere. Scale: per-row column work + one
    * map-side-combined groupBy over |ks| keys. */
  def matryoshkaAudit(emb: DataFrame, idCol: String, vecCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "ks must be non-empty")
    val v = col(vecCol).cast("array<double>")
    def qsum(c: org.apache.spark.sql.Column) =
      aggregate(transform(c, x => round(x * x * 1e6, 0).cast("long")),
        lit(0L), (a, x) => a + x)
    // the zero vector (full norm 0) audits as frac 0 via greatest(·,1);
    // the fraction is carried ONLY as its micro-quantized integer
    // round(sqrt(·)·10⁶) so every cross-row aggregate is exact
    val perK = ks.map(k =>
      struct(lit(k).as("k"),
        round(sqrt(qsum(slice(col("__v"), 1, k)).cast("double") /
          greatest(col("__full"), lit(1L)).cast("double")) * 1e6, 0)
          .cast("long").as("fm")))
    emb.filter(col(vecCol).isNotNull)
      .select(v.as("__v"))
      .withColumn("__full", qsum(col("__v")))
      .select(explode(array(perK: _*)).as("p"))
      .select(col("p.k").as("k"), col("p.fm").as("__fm"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("__fm")).cast("double") / count(lit(1)) / 1e6, 6)
          .as("avg_frac"),
        round(min(col("__fm")).cast("double") / 1e6, 6).as("min_frac"),
        round(max(col("__fm")).cast("double") / 1e6, 6).as("max_frac"))
  }

  /** Reciprocal-rank fusion of ranked retrieval lists (Cormack,
    * Clarke & Büttcher, SIGIR 2009 — the standard hybrid-search
    * combiner: rank-based, so a BM25 score and a cosine never need
    * calibrating onto one scale). Each input is a (source-tag,
    * ranked frame) pair with columns (q_id, doc_id, rank); a doc's
    * fused score is Σ 1/(c + rank) over the lists that surfaced it,
    * and the output is the top-k per query by (rrf desc, doc_id asc)
    * with the supporting-list count riding along.
    *
    * Determinism: per-(q, doc) contributions fold in sorted
    * source-tag order (the house sorted-fold idiom — IEEE addition
    * is not associative across 3+ lists), the fused score compares
    * ROUNDED (6 dp), and ties break on doc_id.
    *
    * Scale: one unionByName of the (already bounded, |Q|·k-row) rank
    * lists, one keyed aggregation, and the bounded [[aggTopK]] tail —
    * the fusion never touches a corpus-sized frame; cost lives in the
    * upstream retrievers. */
  def rrfFuse(lists: Seq[(String, DataFrame)], k: Int,
      c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val tagged = lists.map { case (src, df) =>
      df.select(col("q_id"), col("doc_id"), lit(src).as("__src"),
        (lit(1.0) / (lit(c) + col("rank").cast("double"))).as("__contrib"))
    }.reduce(_ unionByName _)
    val fused = tagged.groupBy(col("q_id"), col("doc_id"))
      .agg(round(aggregate(
          array_sort(collect_list(struct(col("__src"), col("__contrib")))),
          lit(0.0), (acc, x) => acc + x("__contrib")), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
    aggTopK(fused.select(col("q_id"), col("doc_id").as("n_id"),
        col("rrf"), col("n_lists")), k, "rrf", asc = false,
        payCol = Some("n_lists"))
      .select(col("q_id"), col("rank"), col("n_id").as("doc_id"),
        col("rrf"), col("__pay").as("n_lists"))
  }

  /** Maximal Marginal Relevance diversity rerank (Carbonell &
    * Goldstein, SIGIR 1998): greedily select k of each query's `pool`
    * most-relevant candidates, each step maximizing
    * λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s) — relevance traded against
    * redundancy with what is ALREADY selected. The near-dup answer
    * problem this solves is the retrieval-serving face of the dedup
    * tier: top-k lists full of mutual near-duplicates waste a RAG
    * context window exactly the way corpus near-dups waste a training
    * epoch.
    *
    * Shape: this is a RERANK-stage operator — it runs on the bounded
    * per-query pool an upstream retriever (ANN tier, [[rrfFuse]])
    * already produced, never on the corpus. The candidate stage here
    * is the exact [[bruteForceTopK]] (the oracle baseline; swap in an
    * IVF tier at scale — identical downstream shape). The pairwise
    * stage is an equi-join on q_id confined to pool² rows per query;
    * the greedy selection is sequentially data-dependent (each pick
    * changes every remaining score) — the documented
    * non-relational-expressible class — and runs as a per-group local
    * kernel over the bounded pool (the house DTW/eigen pattern): one
    * groupBy collapses each query's candidates + pair sims, the
    * kernel walks ≤ k·pool steps, nothing corpus-sized moves after
    * the candidate stage.
    *
    * Determinism: rel and sim enter the kernel 5-dp rounded
    * ([[rankTopK]]'s contract), scores compare 6-dp rounded
    * (HALF_UP, matching both engines' round()), ties break on the
    * smaller doc id, candidates iterate in sorted id order. Output:
    * (q_id, step 1..k, doc_id, rel, score) where step 1's score is
    * λ·rel (empty selected set ⇒ redundancy 0). */
  def mmrRerank(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, k: Int, pool: Int, lam: Double): DataFrame = {
    require(k <= pool, s"k=$k must be <= pool=$pool")
    val spark = emb.sparkSession
    // the candidate pool feeds three DAG branches (the collapse, both
    // sides of the pairwise join) — Memo'd so the |Q|·n candidate scan
    // runs once, not once per branch; the cached frame is |Q|·pool rows
    val cand = graft.queries.Memo.cached(spark, "mmrcand", Seq(emb),
        idCol, vecCol, queryPred, pool)(
      bruteForceTopK(emb, idCol, vecCol, queryPred, pool)
        .select(col("q_id"), col("n_id"), col("cosine").as("rel")))
    val e = prep(emb, idCol, vecCol)
    val pairs = cand.select(col("q_id"), col("n_id").as("a"))
      .join(cand.select(col("q_id"), col("n_id").as("b")), Seq("q_id"))
      .filter(col("a") =!= col("b"))
      .join(e.select(col(idCol).as("a"), col("v").as("av"),
        col("nrm").as("an")), Seq("a"))
      .join(e.select(col(idCol).as("b"), col("v").as("bv"),
        col("nrm").as("bn")), Seq("b"))
      .select(col("q_id"), col("a"), col("b"),
        round(call_function("array_dot", col("av"), col("bv"))
          / (col("an") * col("bn")), 5).as("sim"))
    val kk = k
    val greedy = udf { (cands: Seq[Row], sims: Seq[Row]) =>
      val cs = cands.map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      val simMap = sims
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
      val picked = scala.collection.mutable.Set.empty[Long]
      while (sel.size < kk && picked.size < cs.size) {
        var bestId = -1L; var bestRel = 0.0
        var bestScore = Double.NegativeInfinity
        cs.foreach { case (id, rel) =>
          if (!picked(id)) {
            val maxsim =
              if (sel.isEmpty) 0.0
              else sel.iterator.map(s => simMap((id, s._1))).max
            val sc = BigDecimal(lam * rel - (1 - lam) * maxsim)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            // ascending-id iteration: strict > keeps the SMALLEST id
            // among score ties
            if (sc > bestScore) { bestScore = sc; bestId = id; bestRel = rel }
          }
        }
        picked += bestId
        sel += ((bestId, bestRel, bestScore))
      }
      sel.zipWithIndex
        .map { case ((id, rel, sc), i) => (i + 1L, id, rel, sc) }.toSeq
    }
    val cg = cand.groupBy(col("q_id"))
      .agg(collect_list(struct(col("n_id"), col("rel"))).as("__cands"))
    val pg = pairs.groupBy(col("q_id"))
      .agg(collect_list(struct(col("a"), col("b"), col("sim"))).as("__sims"))
    cg.join(pg, Seq("q_id"), "left")
      .select(col("q_id"), explode(greedy(col("__cands"),
        coalesce(col("__sims"), array()))).as("__s"))
      .select(col("q_id"), col("__s._1").as("step"), col("__s._2").as("doc_id"),
        col("__s._3").as("rel"), col("__s._4").as("score"))
  }

  /** Hard-negative mining for contrastive / embedding training: for
    * each query, the top-k most similar neighbors INSIDE a cosine band
    * [loSim, hiSim) — similar enough to be informative negatives,
    * strictly below the near-dup ceiling (a near-dup used as a
    * negative poisons the loss; a random negative teaches nothing).
    * Exact banded form — the oracle baseline; at corpus scale the
    * candidate set comes from the same IVF cells / LSH bands as ANN
    * ([[graft.ml.Ivf]], [[Dedup.cosineLshPairs]]) with this band
    * filter applied to the candidates, identical downstream shape.
    * Deterministic: ties broken by neighbor id. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, k: Int, loSim: Double, hiSim: Double): DataFrame = {
    require(loSim < hiSim, s"need loSim < hiSim, got [$loSim, $hiSim)")
    val e = prep(emb, idCol, vecCol)
    val q = e.filter(expr(queryPred))
      .select(col(idCol).as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = q.join(e, col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"),
        (call_function("array_dot", col("qv"), col("v"))
          / (col("qn") * col("nrm"))).as("cosine"))
      .filter(col("cosine") >= loSim && col("cosine") < hiSim)
    rankTopK(scored, k)
  }

  /** Quantization ERROR PROFILE — the audit run before committing a
    * corpus to the int8 ANN path ([[quantizedTopK]]'s scheme, same
    * scales, same floor(x+0.5) grid): per vector, mean/max absolute
    * reconstruction error, relative L2 error, and the cosine between
    * the vector and its dequantized self. The decision artifact: if
    * min cosine ~ 1 and relative L2 stays small, int8 is safe for this
    * corpus; outlier rows name the vectors that would degrade first.
    * Every float reduction is an ordered left fold over the array
    * (aggregate HOF), so results are engine- and partition-order-
    * independent; per-row HOF work only, no shuffle after the one
    * scale aggregation. */
  /** The int8 grid shared by [[quantizedTopK]] and
    * [[quantizationProfile]] — ONE definition so the audit can never
    * desynchronize from the ANN path it audits: per-dim scales
    * collected (metadata-sized) and broadcast as a literal, then
    * q_d = floor(v_d/s_d·127 + 0.5)·s_d/127 in a single codegen'd
    * transform writing `outCol`. Returns (scales, dequantized frame);
    * scales is empty iff the input has no rows. */
  private def dequantized(e0: DataFrame, outCol: String): (Array[Double], DataFrame) = {
    val spark = e0.sparkSession
    import spark.implicits._
    val scales = e0.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(max(abs(col("x"))).as("s"))
      .orderBy("i").select("s").as[Double].collect()
    val e = e0.withColumn("__s", typedLit(scales.toSeq))
      .withColumn(outCol, expr(
        """transform(v, (x, i) -> CASE WHEN __s[i] = 0 THEN 0.0D
          |  ELSE floor(x / __s[i] * 127 + 0.5) * __s[i] / 127 END)""".stripMargin))
      .drop("__s")
    (scales, e)
  }

  def quantizationProfile(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val e0 = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val (_, e) = dequantized(e0, "qv")
    val sumAbs = expr(
      "aggregate(zip_with(v, qv, (a, b) -> abs(a - b)), 0D, (acc, x) -> acc + x)")
    val sumSq = expr(
      "aggregate(zip_with(v, qv, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)")
    e.select(col(idCol),
      round(sumAbs / size(col("v")), 6).as("mean_abs_err"),
      round(expr("array_max(zip_with(v, qv, (a, b) -> abs(a - b)))"), 6).as("max_abs_err"),
      round(sqrt(sumSq) / sqrt(call_function("array_dot", col("v"), col("v"))), 6)
        .as("rel_l2_err"),
      round(call_function("array_dot", col("v"), col("qv"))
        / (sqrt(call_function("array_dot", col("v"), col("v")))
          * sqrt(call_function("array_dot", col("qv"), col("qv")))), 6).as("cos_self"))
  }

  /** Int8 symmetric per-dimension quantization + exact top-k over the
    * DEQUANTIZED vectors: q_d = floor(v_d/s_d·127 + 0.5) with
    * s_d = max|v_d| over the corpus (floor(x+0.5) instead of round —
    * identical halfway behavior on every engine). The memory story at
    * corpus scale: an int8 codebook is 4× smaller than fp32, so 4×
    * more vectors fit in executor memory / page cache during ANN
    * probing; the per-dim scale vector is one corpus aggregation of
    * `dim` doubles, collected (metadata-sized) and broadcast as a
    * literal into a single codegen'd transform — no per-row join, no
    * explode/re-agg shuffle of the vectors themselves. */
  def quantizedTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, k: Int): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val e0 = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val (scales, eq) = dequantized(e0, "__qv")
    if (scales.isEmpty)
      return e0.select(col(idCol).as("q_id"), lit(0L).as("rank"),
        col(idCol).as("n_id"), lit(0.0).as("cosine")).limit(0)
    // the coded table is the OFFLINE index artifact — Memo'd so the
    // dequantize transform runs once per corpus row, ever. Left inline
    // it sits under the |Q|·n theta join, where CollapseProject folds
    // it into the post-join cosine and re-evaluates it once PER QUERY
    // per row — measured 10× (=|Q|) slower than brute force at a 200k
    // corpus in the round-10 stress before this barrier
    val e = graft.queries.Memo.cached(spark, "int8codes", Seq(emb), idCol, vecCol)(
      eq.drop("v").withColumnRenamed("__qv", "v")
        .withColumn("nrm", sqrt(call_function("array_dot", col("v"), col("v")))))
    val q = e.filter(expr(queryPred))
      .select(col(idCol).as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = q.join(e, col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"),
        (call_function("array_dot", col("qv"), col("v"))
          / (col("qn") * col("nrm"))).as("cosine"))
    rankTopK(scored, k)
  }

  /** Embedding-space eval-set decontamination ([EXT]): for every
    * training vector, the nearest EVAL vector by exact cosine plus a
    * contamination flag at `tau` — the semantic twin of the n-gram
    * decontamination in [[graft.ext.TextOps]]: a train item whose
    * embedding near-dups an eval item leaks the benchmark even when
    * the texts share no n-grams (paraphrase, translation, OCR
    * re-render). Output: (idCol, nearest_eval, max_cos, contaminated).
    *
    * Determinism: the nearest-eval argmax is a max-struct over
    * (5dp-rounded cosine, −eval id) — ties at the comparison
    * precision resolve to the smallest eval id on every engine.
    *
    * Scale: eval sets are small by definition (benchmark-sized vs a
    * corpus), so the eval side normally broadcasts and the scan is a
    * single map-side pass over the corpus with a map-side-combined max
    * aggregation — the corpus never shuffles. But "small by
    * definition" is a promise, not a measurement (the span kernel made
    * the same promise in r5 and met a big input), so the broadcast is
    * size-GATED: one metadata-sized agg measures the eval side; above
    * `maxBroadcastBytes` the same pair coverage runs as a bucketed
    * equi-join — train rows keep one bucket, eval rows replicate to
    * all B buckets — so a large eval set degrades to a shuffle
    * instead of driving itself through the driver. Both paths feed
    * the identical scoring/argmax tail (spec-equal by construction +
    * SimilaritySpec pins it). The estimate is a Memo value keyed by
    * the eval plan, so a second call against the same eval frame runs
    * no probe job. The key is the plan, not the files: an eval set
    * rewritten in place keeps its old estimate until the entry leaves
    * Memo, which can only pick the other, equal-result path. */
  def evalContamination(train: DataFrame, evalSet: DataFrame, idCol: String,
      vecCol: String, tau: Double,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val t = prep(train, idCol, vecCol)
    val ev = prep(evalSet, idCol, vecCol)
      .select(col(idCol).as("__eid"), col("v").as("__ev"),
        col("nrm").as("__en"))
    // ~8 bytes per vector element + id/norm/struct overhead per row.
    // A Memo value per (eval plan, columns): a streaming sink scoring
    // epochs against a FROZEN eval set pays the probe once, not one
    // extra Spark job per micro-batch
    val estBytes = graft.queries.Memo.value(evalSet.sparkSession, "evalsize",
        Seq(evalSet), idCol, vecCol) {
      val est = ev.agg(coalesce(sum(size(col("__ev"))), lit(0L)).as("e"),
        count(lit(1)).as("n")).head()
      8L * est.getLong(0) + 32L * est.getLong(1)
    }
    val paired =
      if (estBytes <= maxBroadcastBytes) t.crossJoin(broadcast(ev))
      else {
        // "auto" (AQE-managed) or other non-numeric values parse-fail:
        // fall back to a fixed bucket count instead of throwing
        val b = math.max(1, scala.util.Try(
          t.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
          .getOrElse(32))
        val tb = t.withColumn("__bk", pmod(hash(col(idCol)), lit(b)))
        val eb = ev.withColumn("__bk", explode(sequence(lit(0), lit(b - 1))))
        tb.join(eb, "__bk").drop("__bk")
      }
    paired
      .select(col(idCol), col("__eid"),
        round(call_function("array_dot", col("v"), col("__ev"))
          / (col("nrm") * col("__en")), 5).as("__cos"))
      .groupBy(col(idCol))
      .agg(max(struct(col("__cos"), (-col("__eid")).as("__ne"))).as("__b"))
      .select(col(idCol), (-col("__b.__ne")).as("nearest_eval"),
        col("__b.__cos").as("max_cos"),
        (col("__b.__cos") >= tau).as("contaminated"))
  }

  /** Embedding↔corpus referential-integrity audit — the gate a
    * pipeline runs BEFORE handing an embedding table to the
    * dedup/ANN/mixture stages (no reference analogue; [EXT] tier):
    * every document must have a vector, no vector may point at a
    * missing document, all vectors must share the modal
    * dimensionality, and no vector may be all-zero (the classic
    * embedder-failure sentinel that silently poisons cosine math).
    * Output: a FIXED four-row surface — one row per issue, zero-count
    * rows included so a clean corpus still asserts all four checks —
    * with the offending count and the smallest offending id as the
    * auditable handle.
    *
    * Scale: the two referential checks are single-key anti-joins (one
    * shuffle each — or broadcast-anti when one side is
    * dimension-sized); the dim and zero-vector checks are per-row
    * column work feeding a |distinct dims|-row aggregate. Nothing is
    * all-pairs; the only driver materialization is the modal dim
    * (≤ |distinct dims| rows) and the four result rows. */
  /** Orthogonal Procrustes fit between two embedding snapshots
    * (Schönemann, Psychometrika 1966) — the REMEDY once [[dimDrift]]
    * flags an embedder migration: the orthogonal W minimizing
    * ‖B·W − A‖_F over the ids both snapshots share, so artifacts
    * fitted on A (codebooks, frozen centroids, IVF cells) keep
    * serving snapshot-B vectors after a map-side `b·W`. W = U·Vᵀ from
    * SVD(BᵀA).
    *
    * Scale: the id equi-join is the only shuffle; BᵀA is a dim×dim
    * matrix (64×64 = 32 KB) accumulated in ONE map-side pass —
    * per-partition outer-product sums, driver reduce — and the SVD
    * runs driver-side on dim×dim. Corpus size never reaches the
    * driver. Cross-partition float-sum order can move W by last ulps,
    * so consumers read it through tolerance contracts
    * ([[procrustesAudit]]), never bitwise pins. */
  def fitProcrustes(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String): Array[Array[Double]] =
    fitProcrustesPaired(a.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__va"))
      .join(b.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__vb")), "__id")
      .select("__va", "__vb"))

  /** [[fitProcrustes]] over an already-joined (__va, __vb) pair frame —
    * lets [[procrustesAudit]] pay the id equi-join ONCE for the fit
    * pass and the residual pass instead of twice. */
  private def fitProcrustesPaired(paired: DataFrame): Array[Array[Double]] = {
    val spark = paired.sparkSession
    import spark.implicits._
    val ds = paired.as[(Array[Double], Array[Double])]
    // column-major accumulation of M(i,j) = Σ vb(i)·va(j)  (= BᵀA).
    // r17: dim is derived from each partition's FIRST row instead of a
    // separate limit(1) probe job; empty partitions contribute null and
    // are dropped in the reduce. Same per-partition accumulation order,
    // same reduce order — bitwise the old M.
    val partials = ds.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val h = it.next()
        val dim = h._1.length
        val acc = Array.ofDim[Double](dim * dim)
        var cur = h
        var more = true
        while (more) {
          val (va, vb) = cur
          require(va.length == dim && vb.length == dim,
            s"fitProcrustes: ragged embedding (expected dim $dim, " +
              s"got ${va.length}/${vb.length})")
          var i = 0
          while (i < dim) {
            val bi = vb(i); var j = 0
            while (j < dim) { acc(i + j * dim) += bi * va(j); j += 1 }
            i += 1
          }
          if (it.hasNext) cur = it.next() else more = false
        }
        Iterator.single(acc)
      }
    }
    def mergeInto(x: Array[Double], y: Array[Double]): Array[Double] = {
      require(x.length == y.length,
        "fitProcrustes: ragged embedding dims across partitions")
      var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }; x
    }
    // Merge in ASCENDING PARTITION-INDEX order on BOUNDED driver memory
    // (ADVICE r17): collect()ing every per-partition dim×dim array held
    // O(numPartitions·dim²) on the driver at once — thousands of
    // partitions × dim 1024 ≈ 8 MB each risks driver OOM at the 100-TB
    // shape. ≤ 64 partitions (the local bench) keeps the one-job
    // collect; past that, partials are pre-merged on executors into
    // ≤ 64 index-range groups (each group folds its indices ascending,
    // groups fold ascending on the driver), so the overall fold order
    // is STILL ascending partition index — bitwise the collect path —
    // while the driver holds at most 64 arrays.
    val p = partials.rdd.getNumPartitions
    val m = (if (p <= 64) {
      partials.collect().reduceOption(mergeInto)
    } else {
      val nGroups = 64
      val groupSize = (p + nGroups - 1) / nGroups
      val grouped = partials.rdd
        .mapPartitionsWithIndex((i, it) => it.map(a => ((i / groupSize, i), a)))
        .repartitionAndSortWithinPartitions(new org.apache.spark.Partitioner {
          def numPartitions: Int = nGroups
          def getPartition(key: Any): Int = key.asInstanceOf[(Int, Int)]._1
        })
        .mapPartitions { it =>
          var acc: Array[Double] = null
          it.foreach { case (_, a) =>
            acc = if (acc == null) a else mergeInto(acc, a)
          }
          if (acc == null) Iterator.empty else Iterator.single(acc)
        }
      grouped.collect().reduceOption(mergeInto)
    }).getOrElse(Array.emptyDoubleArray)
    require(m.nonEmpty, "fitProcrustes: snapshots share no ids")
    val dim = math.sqrt(m.length).toInt
    val dec = breeze.linalg.svd(new breeze.linalg.DenseMatrix(dim, dim, m))
    val w = dec.U * dec.Vt
    Array.tabulate(dim, dim)((i, j) => w(i, j))
  }

  /** Boolean-contract audit of a Procrustes alignment (the
    * oracle-checkable face of [[fitProcrustes]], same pattern as the
    * IVF recall contracts): emits one row per theorem —
    * `n_aligned` (shared-id count), `orthogonality_micro`
    * (round(max|WᵀW−I|·10⁶), must be 0), `pre_residual_micro` /
    * `post_residual_micro` (Σ per-element round((Δ)²·10⁶) — exact
    * integer sums, the house index-ordered micro-quantized fold).
    * When B is an exact rotation of A the theorems are closed-form:
    * pre > 0, post == 0, WᵀW == I — a DuckDB oracle replays pre
    * bit-for-bit and pins the rest as literals. The mat-vec residual
    * is a UDF (a 64×64 dense kernel, the documented non-expressible
    * class); everything around it is one join + one aggregate. */
  def procrustesAudit(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    // ONE id equi-join feeds both the fit's outer-product pass and the
    // residual aggregate (r17: the audit used to run the join — and
    // snapshot B's derivation — twice). persist() scopes to this call:
    // both consumers are actions inside it, and the cache is released
    // before returning, so every bench run still pays the real build.
    val paired = a.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__va"))
      .join(b.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__vb")), "__id")
      .persist()
    val wMat = try fitProcrustesPaired(paired.select("__va", "__vb"))
      catch { case e: Throwable => paired.unpersist(false); throw e }
    val dim = wMat.length
    var maxDev = 0.0
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        var s = 0.0; var k = 0
        while (k < dim) { s += wMat(k)(i) * wMat(k)(j); k += 1 }
        val dev = math.abs(s - (if (i == j) 1.0 else 0.0))
        if (dev > maxDev) maxDev = dev
        j += 1
      }
      i += 1
    }
    val postRes = udf((va: Array[Double], vb: Array[Double]) => {
      var acc = 0L; var j = 0
      while (j < dim) {
        var s = 0.0; var i2 = 0
        while (i2 < dim) { s += vb(i2) * wMat(i2)(j); i2 += 1 }
        val d = s - va(j)
        acc += math.round(d * d * 1e6)
        j += 1
      }
      acc
    })
    val sums = try paired.agg(
      count(lit(1)).as("n"),
      sum(expr("""aggregate(zip_with(__va, __vb,
          (x, y) -> cast(round((y - x) * (y - x) * 1e6) as bigint)),
        0L, (acc, q) -> acc + q)""")).as("pre"),
      sum(postRes(col("__va"), col("__vb"))).as("post")).head()
      finally paired.unpersist(false)
    val (n, pre, post) = (sums.getLong(0), sums.getLong(1), sums.getLong(2))
    val spark = a.sparkSession
    import spark.implicits._
    Seq(
      ("n_aligned", n, n > 0),
      ("orthogonality_micro", math.round(maxDev * 1e6), maxDev <= 1e-6),
      ("post_residual_micro", post, post == 0L),
      ("pre_residual_micro", pre, pre > 0L))
      .toDF("audit", "v", "ok")
  }

  /** Embedding DIVERSITY audit ([EXT]): per label group (and one
    * corpus row, label −1), the mean pairwise cosine between all
    * member vectors and its complement `diversity = 1 − mean_cos` —
    * the training-data diversity metric that tells a curation pipeline
    * whether a source/cluster is adding new directions or piling mass
    * on one mode (the corpus-level face of what [[mmrRerank]] fixes
    * per query).
    *
    * THE SCALE TRICK: the O(n²)-looking quantity has an O(n) one-pass
    * identity — for unit vectors, Σ_{i≠j} v̂ᵢ·v̂ⱼ = ‖Σᵢ v̂ᵢ‖² − n, so
    * mean pairwise cosine = (‖S‖² − n) / (n(n−1)) where S is the
    * group's vector SUM. No pair join exists at any scale: the plan
    * is one map-side-combined per-(group, dim) aggregation (shuffle
    * volume |groups|·dims rows) and a dims-sized fold per group; the
    * corpus row derives by summing the per-label integer sums —
    * additive, so the corpus never re-scans.
    *
    * Determinism: normalization divides by sqrt of the micro-quantized
    * self-dot (Σ round(v_d²·10⁶), an exact integer on both engines);
    * each per-dim component sum is again an exact integer micro-sum
    * Σ round(v̂_d·10⁶); ‖S‖² folds the dims in index order. Groups with
    * n = 1 emit NULL mean_cos/diversity (no pairs). Zero-norm vectors
    * are excluded (the [[embeddingIntegrity]] sentinel class).
    * Output: (label, n_vecs, mean_cos 6dp, diversity 6dp). */
  def diversityAudit(emb: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val nrm2 = "aggregate(__v, 0L, (acc, x) -> acc + CAST(round(x * x * 1e6) AS LONG))"
    val dimSums = emb
      .select(col(labelCol).cast("long").as("label"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(expr(nrm2) > 0L)
      .select(col("label"), posexplode(expr(
        s"""transform(array(sqrt(CAST($nrm2 AS DOUBLE) / 1e6)), nrm ->
           |  transform(__v, x -> CAST(round(x / nrm * 1e6) AS LONG)))[0]"""
          .stripMargin)).as(Seq("dim", "__q")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("__q")).as("__s"),
        count(lit(1)).as("__n"))
    val corpus = dimSums.groupBy(col("dim"))
      .agg(sum(col("__s")).as("__s"), sum(col("__n")).as("__n"))
      .select(lit(-1L).as("label"), col("dim"), col("__s"), col("__n"))
    val meanCos =
      """CASE WHEN n_vecs > 1 THEN
        |  (aggregate(__ss, CAST(0 AS DOUBLE), (acc, s) ->
        |     acc + (CAST(s AS DOUBLE) / 1e6) * (CAST(s AS DOUBLE) / 1e6))
        |   - CAST(n_vecs AS DOUBLE))
        |  / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE))
        |ELSE CAST(NULL AS DOUBLE) END""".stripMargin
    dimSums.unionByName(corpus)
      .groupBy(col("label"))
      .agg(max(col("__n")).as("n_vecs"),
        transform(array_sort(collect_list(struct(col("dim"), col("__s")))),
          x => x("__s")).as("__ss"))
      .select(col("label"), col("n_vecs"),
        (floor(expr(meanCos) * lit(1e6) + lit(0.5)).cast("double") / lit(1e6))
          .as("mean_cos"),
        (floor((lit(1.0) - expr(meanCos)) * lit(1e6) + lit(0.5)).cast("double")
          / lit(1e6)).as("diversity"))
  }

  def embeddingIntegrity(docs: DataFrame, emb: DataFrame, docIdCol: String,
      vecIdCol: String, vecCol: String): DataFrame = {
    val d = docs.select(col(docIdCol).cast("long").as("id"))
    val e = emb.select(col(vecIdCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // a named failure beats head()'s NoSuchElementException on an
    // empty table (same guard class as pqTopK's empty-input require)
    val dimRows = e.groupBy(size(col("v")).as("dim"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("dim").asc)
      .select("dim").take(1)
    require(dimRows.nonEmpty,
      "embeddingIntegrity: embedding table is empty — no modal dimensionality to audit against")
    val modalDim = dimRows(0).getInt(0)
    def issueRow(name: String, offenders: DataFrame) =
      offenders.agg(count(lit(1)).as("n"), min(col("id")).as("min_id"))
        .select(lit(name).as("issue"), col("n"), col("min_id"))
    issueRow("dim_mismatch", e.filter(size(col("v")) =!= modalDim))
      .unionByName(issueRow("missing_embedding", d.join(e.select("id"), Seq("id"), "left_anti")))
      .unionByName(issueRow("orphan_vector", e.select("id").join(d, Seq("id"), "left_anti")))
      // exact max-|x| == 0 — float-exact on both engines, no tolerance
      .unionByName(issueRow("zero_norm",
        e.filter(array_max(transform(col("v"), x => abs(x))) === 0.0)))
      .orderBy("issue")
  }

  /** Binary (sign) quantization + Hamming prefilter top-k — the
    * 32×-compression ANN tier below int8 ([[quantizedTopK]], 4×) and
    * IVF-PQ ([[graft.ml.Ivf.pqTopK]], ~100× with codebooks): each
    * vector collapses to one sign bit per dimension, packed into
    * 64-bit words (`array<bigint>`, ⌈dim/64⌉ longs — a dim-64
    * embedding is ONE long per row). Charikar (STOC'02) SimHash
    * geometry: P[sign bit differs] = θ/π, so Hamming distance over
    * sign codes is a monotone estimate of angle, good enough to rank
    * CANDIDATES. Stage 1 scans codes only — `bit_count(a ^ b)` folded
    * over the word arrays, pure codegen'd integer HOFs, no UDF — and
    * keeps the `rerank` closest per query by (hamming asc, id asc).
    * Stage 2 fetches full vectors for survivors ONLY and reranks by
    * exact cosine through the same bounded [[aggTopK]] aggregation as
    * [[rankTopK]] (one ordering definition, hamming carried in the
    * payload slot).
    *
    * Scale: the prefilter's (q_id, n_id, int) candidate triples
    * combine MAP-SIDE into bounded per-query k-heaps
    * ([[graft.functions.TopKRows]]) — the shuffle carries
    * partitions × |Q| buffers, never the |Q|·n scored rows; the
    * survivor fetch joins a |Q|·R-row frame (broadcast-sized by
    * construction) back to the corpus, so the corpus itself is
    * scanned (twice) but never shuffled. At 100 TB the sign codes are
    * a 32×-smaller sidecar column that lives in page cache where the
    * fp32 vectors cannot. Determinism: stage 1 is integer arithmetic
    * (bit-identical everywhere); stage 2 is the house index-ordered
    * dot-product fold. Missing high dims of ragged vectors read as
    * sign-0 on both sides of the xor, contributing 0. */
  /** Corpus dimensionality as a LAZY 1-row broadcast agg (ADVICE r9:
    * the former max-size .head() was an eager full-scan driver action
    * at DataFrame-construction time, frozen from a separate scan).
    * The crossJoin side is a single int row, so the planner broadcasts
    * it and every code derives from the SAME plan it packs. An empty
    * corpus yields empty outputs with the full schema (no early-return
    * special case needed). */
  private def withDim(e0: DataFrame): DataFrame =
    e0.crossJoin(broadcast(e0.agg(max(size(col("v"))).as("__d"))))

  /** Packed sign codes (`__code`: array<bigint>, ⌈dim/64⌉ words, one
    * sign bit per dimension, missing high dims of ragged vectors read
    * as sign 0) over a [[withDim]] frame — shared by the Hamming scan
    * tier and the banded (multi-index) tier. Pure codegen'd integer
    * HOFs, no UDF. */
  private def withSignCode(e: DataFrame): DataFrame =
    e.withColumn("__code", expr(
      """transform(sequence(0, CAST((__d + 63) DIV 64 AS INT) - 1), w ->
        |  aggregate(sequence(0, 63), 0L, (acc, b) ->
        |    CASE WHEN w * 64 + b < size(v)
        |              AND element_at(v, w * 64 + b + 1) >= 0D
        |         THEN acc + shiftleft(1L, b) ELSE acc END))""".stripMargin))

  /** Memo'd (id, v, nrm, __d, __code) frame — the packed sign codes as
    * the OFFLINE index sidecar, shared by the Hamming scan tier, the
    * banded tier, and the recall gates. Materializing matters, not
    * just saving a pass: left inline, the packing fold sits under a
    * |Q|·n theta join where CollapseProject folds it into the
    * post-join expressions and re-evaluates it once per QUERY per
    * corpus row — the int8 tier measured that collapse at 10× (=|Q|)
    * slower than brute force on a 200k-vector corpus in the round-10
    * stress. */
  private def cachedCodes(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    graft.queries.Memo.cached(emb.sparkSession, "signcodes", Seq(emb), idCol, vecCol)(
      withSignCode(withDim(prep(emb, idCol, vecCol))))

  def binaryHammingTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val e = cachedCodes(emb, idCol, vecCol).drop("__d")
    val q = e.filter(expr(queryPred))
      .select(col(idCol).as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("__code").as("__qc"))
    val ham = q.select("q_id", "__qc")
      .join(e.select(col(idCol).as("n_id"), col("__code")),
        col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), expr(
        """CAST(aggregate(zip_with(__qc, __code, (a, b) -> bit_count(a ^ b)),
          |  0, (acc, x) -> acc + x) AS BIGINT)""".stripMargin).as("hamming"))
    // stage-1 prefilter: bounded top-`rerank` per query by (hamming
    // asc, id asc) as a partial aggregation — the 12-byte candidate
    // triples combine map-side instead of all |Q|·n shuffling into a
    // window sort; hamming rides the exact long payload slot
    val survivors = aggTopK(ham, rerank, "hamming", asc = true,
        payCol = Some("hamming"))
      .select(col("q_id"), col("n_id"), col("__pay").as("hamming"))
    val scored = survivors
      .join(e.select(col(idCol).as("n_id"), col("v"), col("nrm")), Seq("n_id"))
      .join(q.select(col("q_id"), col("qv"), col("qn")), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        (call_function("array_dot", col("qv"), col("v"))
          / (col("qn") * col("nrm"))).as("cosine"), col("hamming"))
    // stage-2 exact rerank through the SAME bounded aggregation as
    // rankTopK (one ordering definition — ADVICE r9 lockstep note),
    // with hamming carried through the payload slot
    aggTopK(scored, k, "cosine", asc = false, payCol = Some("hamming"))
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cosine"), 5).as("cosine"), col("__pay").as("hamming"))
  }

  /** Recall honesty gate for [[binaryHammingTopK]] at a PRUNED regime
    * (same contract pattern as `sim_ivf_recall`): recall@k of the
    * Hamming-prefiltered pipeline against the exact brute-force top-k
    * over the same queries, as one auditable row
    * (k, rerank, n_queries, hits, recall, pass-at-floor). Both stages
    * are deterministic, so the row is bit-stable and a DuckDB oracle
    * can replay the entire two-stage pipeline and land on the same
    * integers. */
  def binaryHammingRecall(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, k: Int, rerank: Int, floor: Double): DataFrame = {
    val exact = bruteForceTopK(emb, idCol, vecCol, queryPred, k)
      .select("q_id", "n_id")
    val approx = binaryHammingTopK(emb, idCol, vecCol, queryPred, k, rerank)
      .select("q_id", "n_id")
    // n_queries counted directly (ADVICE r9: n_exact/k undercounts
    // when a query has fewer than k neighbors); the recall divisions
    // guard against an empty exact frame with greatest(·, 1)
    exact.join(approx, Seq("q_id", "n_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact"),
        countDistinct(col("q_id")).as("n_queries")))
      .select(lit(k).as("k"), lit(rerank).as("rerank"),
        col("n_queries"),
        col("hits"),
        round(col("hits").cast("double")
          / greatest(col("n_exact"), lit(1L)), 5).as("recall"),
        (col("hits").cast("double")
          / greatest(col("n_exact"), lit(1L)) >= floor).as("pass"))
  }

  /** MULTI-INDEX HAMMING near-dup pairs (Norouzi, Punjani, Fleet,
    * "Fast Search in Hamming Space with Multi-Index Hashing",
    * CVPR 2012; the Manku banding of [[Dedup]] applied to the
    * embedding sign codes — VERDICT r9 #1's sublinear option): every
    * pair of vectors whose sign codes differ in at most `radius` bits,
    * found WITHOUT a theta join. The sign bits split into
    * `radius + 1` contiguous bands; by pigeonhole, any pair within
    * the radius matches EXACTLY in at least one band, so candidate
    * generation is an equi-join on (band_idx, band_value) — only rows
    * sharing a band bucket ever pair. Candidates verify against the
    * exact packed-code popcount and carry the exact cosine.
    * Output: (id_a, id_b, hamming, cosine), id_a < id_b.
    *
    * Scale: the band join is the [[Dedup.minhashLsh]] shape — shuffle
    * on a band key, candidates confined to band buckets. Sublinear
    * exactly in the near-dup regime this operator is FOR (real corpora
    * duplicate in tight clusters, so band buckets hold dup-groups, not
    * the whole corpus); on i.i.d. random codes a wide radius degrades
    * toward all-pairs — the honest mitigation is a smaller radius
    * (more selective bands), not a different join. Contract: recall
    * 1.0 vs the exact scan at the same radius, BY THEOREM — see
    * [[bandedHammingRecall]]. Requires radius + 1 ≤ dim (bands must be
    * non-empty) and dim ≤ 63·(radius+1) (band values fit one long).
    * Determinism: integer arithmetic end-to-end; cosine is the house
    * index-ordered fold, rounded at 5dp. */
  def bandedHammingPairs(emb: DataFrame, idCol: String, vecCol: String,
      radius: Int): DataFrame = {
    require(radius >= 0, s"radius must be non-negative, got $radius")
    val bands = radius + 1
    val e = cachedCodes(emb, idCol, vecCol)
      // band b covers bit positions [b·dim/B, (b+1)·dim/B) — as even a
      // split as integer division allows, every band non-empty for
      // B ≤ dim; missing dims of ragged vectors read as sign 0, same
      // as the packed code
      .withColumn("__bands", expr(
        s"""transform(sequence(0, ${bands - 1}), b ->
           |  named_struct('bi', b, 'bv',
           |    aggregate(sequence(CAST(b * __d DIV $bands AS INT),
           |        CAST((b + 1) * __d DIV $bands AS INT) - 1),
           |      0L, (acc, i) ->
           |        CASE WHEN i < size(v) AND element_at(v, i + 1) >= 0D
           |             THEN acc + shiftleft(1L,
           |               i - CAST(b * __d DIV $bands AS INT))
           |             ELSE acc END)))""".stripMargin))
    val bnd = e.select(col(idCol).as("id"), col("__code"),
      explode(col("__bands")).as("b"))
      .select(col("id"), col("__code"), col("b.bi").as("bi"),
        col("b.bv").as("bv"))
    // Memo'd (r17): the verified within-radius pair set is consumed by
    // TWO registry queries — the pair diagnosis and the dedup-groups
    // closure built on the same edges — each of which used to re-run
    // the band self-join + popcount verify. Build once per
    // (corpus, radius); the id-join for cosine and the components
    // closure stay per-run work.
    val verified = graft.queries.Memo.cached(emb.sparkSession, "bandham", Seq(emb),
        idCol, vecCol, radius) {
      bnd.as("x").join(bnd.as("y"),
          col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
          col("x.__code").as("__ca"), col("y.__code").as("__cb"))
        .distinct()
        .withColumn("hamming", expr(
          """CAST(aggregate(zip_with(__ca, __cb, (a, b) -> bit_count(a ^ b)),
            |  0, (acc, x) -> acc + x) AS BIGINT)""".stripMargin))
        .filter(col("hamming") <= radius)
    }
    verified
      .join(e.select(col(idCol).as("id_a"), col("v").as("__va"),
        col("nrm").as("__na")), Seq("id_a"))
      .join(e.select(col(idCol).as("id_b"), col("v").as("__vb"),
        col("nrm").as("__nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("hamming"),
        round(call_function("array_dot", col("__va"), col("__vb"))
          / (col("__na") * col("__nb")), 5).as("cosine"))
  }

  /** The pigeonhole THEOREM gate for [[bandedHammingPairs]]: recall vs
    * the exact all-pairs Hamming scan at the same radius must be
    * EXACTLY 1.0 — a banded pair set missing any within-radius pair is
    * a bug, not a tuning artifact (contrast the probabilistic floors
    * of the LSH/IVF gates). One auditable row: (radius, bands,
    * n_exact, n_found, recall, pass); deterministic integers, so a
    * DuckDB oracle replays both sides and lands on the same row. */
  def bandedHammingRecall(emb: DataFrame, idCol: String, vecCol: String,
      radius: Int): DataFrame = {
    val e = cachedCodes(emb, idCol, vecCol).drop("__d")
    val a = e.select(col(idCol).as("id_a"), col("__code").as("__ca"))
    val b = e.select(col(idCol).as("id_b"), col("__code").as("__cb"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming", expr(
        """CAST(aggregate(zip_with(__ca, __cb, (a, b) -> bit_count(a ^ b)),
          |  0, (acc, x) -> acc + x) AS BIGINT)""".stripMargin))
      .filter(col("hamming") <= radius)
      .select("id_a", "id_b")
    val found = bandedHammingPairs(emb, idCol, vecCol, radius)
      .select("id_a", "id_b")
    exact.join(found, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .select(lit(radius).as("radius"), lit(radius + 1).as("bands"),
        col("n_exact"), col("n_found"),
        round(col("n_found").cast("double")
          / greatest(col("n_exact"), lit(1L)), 5).as("recall"),
        (col("n_found") === col("n_exact")).as("pass"))
  }

  /** Per-query bounded top-k via map-side PARTIAL AGGREGATION — the
    * scale replacement for `row_number() OVER (PARTITION BY q_id)`
    * (VERDICT r9 #1): a [[graft.functions.TopKRows]] k-heap grouped by
    * q_id, so the Exchange carries partitions × |Q| bounded buffers
    * instead of every scored candidate row (|Q|·n for a full-scan
    * tier — THE shuffle that kills a linear-scan prefilter at 100×
    * corpus). Ordering is bitwise the window's: (keyCol asc|desc with
    * Spark double semantics, n_id asc). Emits (q_id, rank, n_id,
    * keyCol, __pay) in rank order; `payCol` rides along unsorted-on
    * (exact long). n_id must be integral — the house embedding-id
    * contract (it is cast to long through the aggregator). */
  private[graft] def aggTopK(scored: DataFrame, k: Int, keyCol: String,
      asc: Boolean, payCol: Option[String] = None): DataFrame = {
    val tk = udaf(new graft.functions.TopKRows(k, asc),
      graft.functions.TopKRows.inputEncoder)
    val pay = payCol.map(col).getOrElse(lit(0L))
    scored.groupBy(col("q_id"))
      .agg(tk(col(keyCol).cast("double"), col("n_id").cast("long"),
        pay.cast("long")).as("__tk"))
      .select(col("q_id"), posexplode(col("__tk")).as(Seq("__i", "__h")))
      .select(col("q_id"), (col("__i") + 1).cast("long").as("rank"),
        col("__h.id").as("n_id"), col("__h.key").as(keyCol),
        col("__h.pay").as("__pay"))
  }

  /** Shared deterministic ranking + output shape for exact and ANN
    * top-k (one definition keeps IvfSpec's recall comparison honest). */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    aggTopK(scored, k, "cosine", asc = false)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cosine"), 5).as("cosine"))
}
