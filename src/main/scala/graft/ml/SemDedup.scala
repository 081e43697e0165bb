package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper;
  * [EXT], no reference counterpart): SEMANTIC deduplication in
  * embedding space — the dedup stage that catches paraphrases and
  * re-renderings that share almost no n-grams, invisible to
  * MinHash/SimHash. A seeded KMeans buckets L2-normalized embeddings
  * into semantic clusters; within each cluster, pairs at cosine ≥
  * `eps` are semantic duplicates; per duplicate group the member with
  * the LOWEST cosine to its cluster centroid survives (the paper's
  * keep rule — the least-prototypical copy carries the most marginal
  * information), ties broken toward the smaller id.
  *
  * Scale: the quadratic cosine scan is confined WITHIN clusters —
  * the paper's own scaling trick: pair volume falls from C(n,2) to
  * ~k·C(n/k,2), and the within-cluster self-join is an equi-join on
  * centroid_id that AQE handles like any other skew-prone join.
  * Confinement trades recall for that bound: an eps-pair whose
  * members land in different clusters is invisible to the scan. The
  * standard mitigation (multi-probe, the paper's own suggestion) is
  * applied here: each vector also probes its SECOND-nearest
  * centroid, and [[epsPairs]] scans within the union of both
  * assignments — a pair is caught whenever the two members share
  * ANY probe cell. Cost stays an equi-join with ≤2 rows per vector
  * (≤4× the single-probe pair volume, still ≪ all-pairs); the keep
  * rule is untouched (cent_sim is always vs the PRIMARY centroid).
  * The measured effect is the sem_dedup_recall driver row: at the
  * forced 32-cluster regime the cross-cluster miss rate drops from
  * 0.610 (single-probe) to the pinned multi-probe value. The
  * KMeans fit reads [[CanonicalFit]]'s layout — a bounded seeded
  * sample in a fixed id-keyed partitioning — so the clustering,
  * hence the dedup decision, is identical at any parallelism AND the
  * fit cost is flat in corpus size (the full corpus is assigned
  * map-side via the model's broadcast centers, never reshaped for
  * the fit). The group closure reuses the shared union-find
  * ([[Components.minLabel]]) and the keeper selection reuses
  * [[graft.ext.Dedup.dedupGroupsBest]] with score = −cent_sim.
  * The assignment (fit + centroid similarity) is memoized per
  * (session, input, params): repeated calls at different `eps`
  * re-fit nothing.
  */
object SemDedup {

  /** The memoized cluster assignment: (idCol, vn, centroid_id,
    * centroid_id2, cent_sim) — one row per input vector, vn = the
    * L2-normalized embedding, centroid_id/centroid_id2 the two
    * nearest centroids (primary first; equal when nClusters == 1).
    * cent_sim is always vs the PRIMARY centroid — the keep rule never
    * sees the probe expansion. Both assignments come from ONE
    * broadcast-centers argmin pass (first-index tie break, the same
    * rule MLlib's transform applies), so the multi-probe adds no
    * extra scan. Exposed package-wide so the recall gate
    * (sem_dedup_recall) can measure cluster confinement against the
    * exact scan without re-deriving the fit. */
  private[graft] def assignments(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, seed: Long = 42): DataFrame = {
    require(nClusters > 0, s"nClusters must be positive, got $nClusters")
    val spark = emb.sparkSession
    import spark.implicits._
    graft.queries.Memo.cached(spark, "semdedup2", Seq(emb),
        nClusters, seed, idCol, vecCol) {
      val e = graft.ext.Similarity.prep(emb, idCol, vecCol)
        .withColumn("vn", transform(col("v"), x => x / col("nrm")))
        .withColumn("__f", array_to_vector(col("vn")))
      val model = new KMeans().setK(nClusters).setSeed(seed)
        .setFeaturesCol("__f").setPredictionCol("centroid_id")
        .fit(CanonicalFit.fitInput(e, idCol, seed))
      // the fitted centers, broadcast once: a single map-side pass
      // yields BOTH probe assignments (top-2 by squared L2, ties to
      // the lower index — model.transform's own argmin rule)
      val bcC = spark.sparkContext.broadcast(
        model.clusterCenters.map(_.toArray))
      val top2 = udf((vn: Array[Double]) => {
        val cs = bcC.value
        var b1 = -1; var d1 = Double.MaxValue
        var b2 = -1; var d2 = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val cc = cs(c); var d = 0.0; var i = 0
          while (i < vn.length) { val t = vn(i) - cc(i); d += t * t; i += 1 }
          if (d < d1) { b2 = b1; d2 = d1; b1 = c; d1 = d }
          else if (d < d2) { b2 = c; d2 = d }
          c += 1
        }
        (b1.toLong, (if (b2 < 0) b1 else b2).toLong)
      })
      // normalized centroids as a tiny broadcast lookup; cent_sim =
      // cosine(vn, centroid) via the codegen'd array_dot
      val centDf = model.clusterCenters.map(_.toArray).zipWithIndex
        .map { case (c, i) =>
          val n = math.sqrt(c.map(x => x * x).sum)
          (i.toLong, (if (n == 0.0) c else c.map(_ / n)).toSeq)
        }.toSeq.toDF("centroid_id", "cn")
      e.withColumn("__t2", top2(col("vn")))
        .select(col(idCol), col("vn"),
          col("__t2._1").as("centroid_id"), col("__t2._2").as("centroid_id2"))
        .join(broadcast(centDf), "centroid_id")
        .withColumn("cent_sim",
          call_function("array_dot", col("vn"), col("cn")))
        .select(col(idCol), col("vn"), col("centroid_id"),
          col("centroid_id2"), col("cent_sim"))
    }
  }

  /** The cluster-CONFINED eps-pair scan with MULTI-PROBE: each vector
    * probes its two nearest centroids, and a pair is scanned whenever
    * the members share ANY probe cell — catching eps-pairs that
    * straddle a primary-cluster boundary but agree on a second-nearest
    * cell. Still an equi-join on the cell key (≤2 rows per vector,
    * `distinct` collapses pairs found in both shared cells); the
    * quadratic scan never leaves the cells. Exposed for the recall
    * gate, which asserts this finds 100% of the exact eps-pairs that
    * are co-clustered under the PRIMARY assignment (confinement loses
    * nothing within clusters) and measures the residual miss rate
    * multi-probe leaves. */
  def epsPairs(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, eps: Double, seed: Long = 42): DataFrame = {
    val assigned = assignments(emb, idCol, vecCol, nClusters, seed)
    val probes = assigned.select(col(idCol), col("vn"),
      explode(array_distinct(array(col("centroid_id"), col("centroid_id2"))))
        .as("probe_cid"))
    probes.as("a").join(probes.as("b"),
        col("a.probe_cid") === col("b.probe_cid") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("__cos", call_function("array_dot", col("a.vn"), col("b.vn")))
      .filter(col("__cos") >= eps)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Fully oracle-able SemDeDup twin (VERDICT r11 #2): deterministic
    * cosine-LSH banding ([[graft.ext.Dedup.cosineLshPairs]] — md5-
    * derived hyperplanes the DuckDB oracle replays byte-identically)
    * stands in for the seeded KMeans cells, and the keep rule's
    * prototype is the duplicate GROUP's own mean direction instead of
    * a KMeans centroid: within each transitive eps-group the member
    * with the LOWEST cosine to the group mean survives — the paper's
    * least-prototypical principle with an SQL-expressible prototype.
    * Every stage (banding, eps-verify, closure, group mean, argmin)
    * replays in DuckDB, so THIS variant carries the full
    * rows+schema+hash contract; the KMeans path ([[semDedup]]) keeps
    * the paper's cell structure and is pinned by sem_dedup_recall +
    * SemDedupSpec + a GoldenSpec digest instead.
    *
    * Scale: the group-mean pass posexplodes ONLY duplicate-group
    * members (labeled rows — a small fraction of any real corpus);
    * singletons short-circuit to cent_sim = 1 with no shuffle. Groups
    * are near-dup components: small by construction, so the
    * (group_id, pos) aggregation is skew-free.
    *
    * `pairs` (id_a, id_b) is the eps-pair frame — normally the
    * Memo-shared [[graft.ext.Dedup.cosineLshPairs]] pass, the same
    * frame dedup_cosine_groups closes over.
    *
    * Output: (idCol, group_id, cent_sim 6dp, keep_id, keep). */
  def semDedupGroups(emb: DataFrame, idCol: String, vecCol: String,
      pairs0: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val pairs = pairs0.select(col("id_a"), col("id_b"))
    val labels = Components.minLabel(pairs)
      .select(col("id").as(idCol), col("label").as("group_id"))
    val e = graft.ext.Similarity.prep(emb, idCol, vecCol)
      .filter(col("nrm") > 0)
      .select(col(idCol).cast("long").as(idCol),
        transform(col("v"), x => x / col("nrm")).as("vn"))
    val labeled = e.join(labels, Seq(idCol)) // duplicate-group members only
    // group mean direction, per-dimension avg of the unit vectors;
    // cosine to the group SUM equals cosine to the mean (scale-
    // invariant), but avg keeps the oracle CTE readable
    val mvec = labeled
      .select(col("group_id"), posexplode(col("vn")).as(Seq("pos", "x")))
      .groupBy(col("group_id"), col("pos")).agg(avg(col("x")).as("mx"))
      .groupBy(col("group_id"))
      .agg(collect_list(struct(col("pos"), col("mx"))).as("__pm"))
      .select(col("group_id"),
        expr("transform(array_sort(__pm), s -> s.mx)").as("mvec"))
    // cent_sim ROUNDED FIRST (6dp), argmin on the rounded value with
    // the id tie-break — the comparison the oracle replays is then on
    // engine-stable quantized numbers, never raw float tails
    val scored = labeled.join(mvec, "group_id")
      .withColumn("cent_sim", round(
        call_function("array_dot", col("vn"), col("mvec"))
          / sqrt(call_function("array_dot", col("mvec"), col("mvec"))), 6))
      .select(col(idCol), col("group_id"), col("cent_sim"))
    val best = scored.groupBy("group_id")
      .agg(max(struct((-col("cent_sim")).as("__s"), (-col(idCol)).as("__nid")))
        .as("__b"))
      .select(col("group_id"), (-col("__b.__nid")).as("keep_id"))
    val dupRows = scored.join(best, "group_id")
      .select(col(idCol), col("group_id"), col("cent_sim"),
        col("keep_id"), (col(idCol) === col("keep_id")).as("keep"))
    val singletons = e.join(labels, Seq(idCol), "left_anti")
      .select(col(idCol), col(idCol).as("group_id"), lit(1.0).as("cent_sim"),
        col(idCol).as("keep_id"), lit(true).as("keep"))
    dupRows.unionByName(singletons)
  }

  /** Output: (idCol, centroid_id, group_id, cent_sim, keep_id, keep)
    * — one row per input vector; `keep = false` rows are the semantic
    * duplicates a curation pass drops. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, eps: Double, seed: Long = 42): DataFrame = {
    val assigned = assignments(emb, idCol, vecCol, nClusters, seed)
    val pairs = epsPairs(emb, idCol, vecCol, nClusters, eps, seed)
    graft.ext.Dedup.dedupGroupsBest(
        assigned.select(col(idCol), (-col("cent_sim")).as("__negsim")),
        idCol, "__negsim", pairs)
      .select(col(idCol), col("group_id"), col("keep_id"), col("keep"))
      .join(assigned.select(col(idCol), col("centroid_id"), col("cent_sim")),
        Seq(idCol))
      .select(col(idCol), col("centroid_id"), col("group_id"),
        round(col("cent_sim"), 6).as("cent_sim"), col("keep_id"), col("keep"))
  }
}
