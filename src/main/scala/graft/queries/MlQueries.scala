package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Dtw, Imaging, SeriesOps}
import graft.ml.{Clustering, Dbscan, Embedding, KShape, Silhouette, TraceBack}

/** ML-stage queries (SURVEY.md §2.6-§2.8): embedding, clustering,
  * trace-back, DTW, imaging. The ML fits themselves are not
  * SQL-expressible (driver does the weaker rows>0 check); the
  * deterministic pieces — argmin-per-group trace-back (A4/J2), RP/GAF
  * matrices (I1/I2) — carry full DuckDB oracles. */
object MlQueries {

  /** The reference's working dataset: whole-column min-max normalized
    * values, grouped into per-user series (SURVEY.md §1.4). */
  private def normalizedSeries(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, "ns", Nil, dir) {
      SeriesOps.collectSeries(
        SeriesOps.withNormalized(Tables.events(s, dir), "value"),
        "user_id", "min_max", "event_id")
    }

  /** One DBSCAN run per (session, dir) — the labels frame is one row
    * per series (tiny) while the run is an iterative grid-join + CC
    * algorithm; Memo-shared by the clusters and outlier-trace-back
    * queries so the suite pays for the iteration once. The clusters
    * query is therefore fully Memo'd and reports cold in the bench. */
  private def dbscanLabels(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, "dbs", Nil, dir)(Dbscan.run(featureEmbedding(s, dir), 3.0, 4))

  /** Deterministic 2-D feature embedding used by the oracle-checkable
    * trace-back and DBSCAN queries: x = avg(value), y = stddev_pop,
    * inputs rounded so both engines see identical doubles. */
  private def featureEmbedding(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, "fe", Nil, dir) {
      Tables.events(s, dir).na.drop(Seq("value"))
        .groupBy(col("user_id").as("series_id"))
        .agg(round(avg(col("value")), 6).as("x"),
          round(stddev_pop(col("value")), 6).as("y"))
    }

  /** PCA 2-D embedding of the padded normalized series (memoized — the
    * embedding query, the silhouette scan, and the KMeans query all
    * consume the same fit; without sharing each ran its own series
    * collect + covariance + eigendecomposition). */
  private[graft] def pcaEmb(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, "pca2d", Nil, dir) {
      Embedding.pca2d(SeriesOps.pad(normalizedSeries(s, dir)))
    }

  /** W1-truncated normalized series (memoized — the K-Shape fit runs
    * twice under the bench's min-of-2 timing and its input, gate collect
    * included, should come from cache on the second pass). */
  private def truncatedSeries(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, "trunc", Nil, dir) {
      SeriesOps.truncate(normalizedSeries(s, dir))
    }

  /** W4 DTW alignment of every series to the longest one (memoized —
    * shared by the stretch query and the DTW combination pipeline). */
  private def dtwAligned(s: SparkSession, dir: String): DataFrame =
    Memo.cached(s, "dtw", Nil, dir) {
      val ser = SeriesOps.collectSeries(
        Tables.events(s, dir), "user_id", "value", "event_id").cache()
      val longest = ser.withColumn("__n", size(col("values")))
        .orderBy(desc("__n"), asc("series_id"))
        .head().getAs[Seq[Double]]("values").toArray
      val stretchUdf = udf((v: Array[Double]) => Dtw.stretch(v, longest))
      // materialize the aligned series eagerly so the input cache can
      // be released (it lives outside the Memo LRU and would otherwise
      // persist for the session)
      val out = ser.select(col("series_id"), stretchUdf(col("values")).as("values"))
        .localCheckpoint()
      ser.unpersist()
      out
    }

  /** Single series of the smallest user_id (imaging queries). The
    * min-user filter lands BEFORE the group-collect: only that user's
    * rows are aggregated, not every series. */
  private def minUserSeries(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).na.drop(Seq("value"))
    val mn = ev.agg(min(col("user_id")).as("__mid"))
    val one = ev.crossJoin(broadcast(mn))
      .filter(col("user_id") === col("__mid"))
    SeriesOps.collectSeries(one, "user_id", "value", "event_id")
  }

  val all: Seq[Q] = Seq(

    // E1: PCA 2-D embedding of padded normalized series (rows-only)
    Q("ml_pca_embedding",
      (s, dir) => pcaEmb(s, dir)
        .select(col("series_id"), round(col("x"), 6).as("x"), round(col("y"), 6).as("y"))
        .orderBy("series_id")),

    // E1: explained-variance % of top 10 components (rows-only)
    Q("ml_pca_variance",
      (s, dir) => Embedding.pcaVariancePct(
        SeriesOps.pad(normalizedSeries(s, dir)), 10).orderBy("component")),

    // A5+C4: silhouette model-selection scan, top-5 ks (rows-only)
    Q("ml_silhouette_scan",
      (s, dir) => Clustering.silhouetteScan(pcaEmb(s, dir), 10)),

    // C1: seeded KMeans at the scan's best k (rows-only)
    Q("ml_kmeans_clusters",
      (s, dir) => {
        val emb = pcaEmb(s, dir) // Memo-cached, shared with the scan query
        val bestK = Clustering.silhouetteScan(emb, 10).head().getInt(0)
        Clustering.kmeans(emb, bestK).select("series_id", "cluster")
          .orderBy("series_id")
      }),

    // A4+J2 trace-back on the deterministic feature embedding — oracle-checked
    Q("ml_centroid_representatives",
      (s, dir) => {
        val assigned = featureEmbedding(s, dir)
          .withColumn("cluster", col("series_id") % 4)
        TraceBack.centroidRepresentatives(assigned)
          .select(col("cluster"), col("rep_id"),
            round(col("cx"), 4).as("cx"), round(col("cy"), 4).as("cy"))
          .orderBy("cluster")
      },
      Some("""WITH f AS (SELECT user_id, round(avg(value),6) AS x,
             |                  round(stddev_pop(value),6) AS y, user_id % 4 AS cluster
             |           FROM events WHERE value IS NOT NULL GROUP BY user_id),
             |c AS (SELECT cluster, avg(x) AS cx, avg(y) AS cy FROM f GROUP BY cluster),
             |d AS (SELECT f.user_id, f.cluster, c.cx, c.cy,
             |        sqrt(pow(f.x - c.cx, 2) + pow(f.y - c.cy, 2)) AS dist
             |      FROM f JOIN c USING (cluster)),
             |r AS (SELECT cluster, user_id, cx, cy,
             |        row_number() OVER (PARTITION BY cluster ORDER BY dist, user_id) AS rk
             |      FROM d)
             |SELECT cluster, user_id AS rep_id, round(cx,4) AS cx, round(cy,4) AS cy
             |FROM r WHERE rk = 1 ORDER BY cluster""".stripMargin)),

    // C2: custom distributed DBSCAN (grid cells + label propagation).
    // Fully oracle-checkable because the input embedding is the
    // deterministic (avg, stddev) feature space and every DBSCAN
    // decision is closed-form: eps-ball membership, degree >= minPts,
    // min-core-id component labels (recursive-CTE transitive closure in
    // DuckDB — O(sum |C|^2) pairs, fine at oracle scale; the engine
    // side stays the grid-cell equi-join + min-label propagation that
    // scales), border -> min core-neighbor label, else -1.
    Q("ml_dbscan_clusters",
      (s, dir) => dbscanLabels(s, dir)
        .orderBy("series_id"),
      Some("""WITH RECURSIVE f AS (
             |  SELECT user_id AS id, round(avg(value),6) AS x, round(stddev_pop(value),6) AS y
             |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
             |e AS (
             |  SELECT a.id AS id, b.id AS id2 FROM f a JOIN f b
             |  ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 9.0),
             |deg AS (SELECT id, count(*) AS d FROM e GROUP BY id),
             |core AS (SELECT id FROM deg WHERE d >= 4),
             |ce AS (SELECT e.id, e.id2 FROM e JOIN core c1 ON c1.id=e.id JOIN core c2 ON c2.id=e.id2),
             |reach(id, lbl) AS (
             |  SELECT id, id2 FROM ce
             |  UNION
             |  SELECT r.id, ce.id2 FROM reach r JOIN ce ON ce.id = r.lbl),
             |corelbl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
             |border AS (
             |  SELECT e.id, min(cl.cluster) AS cluster
             |  FROM e JOIN corelbl cl ON cl.id = e.id2
             |  WHERE e.id NOT IN (SELECT id FROM core)
             |  GROUP BY e.id),
             |assigned AS (SELECT * FROM corelbl UNION ALL SELECT * FROM border)
             |SELECT f.id AS series_id, CAST(coalesce(a.cluster, -1) AS BIGINT) AS cluster
             |FROM f LEFT JOIN assigned a ON a.id = f.id
             |ORDER BY series_id""".stripMargin)),

    // C7: DBSCAN noise trace-back to raw series stats. The noise SET
    // needs no component labels at all — a point is noise iff it has no
    // core point in its eps-ball (cores have themselves) — so the
    // oracle is two aggregation levels, no recursion.
    Q("ml_dbscan_outliers",
      (s, dir) => {
        val assigned = dbscanLabels(s, dir)
        val stats = Tables.events(s, dir).na.drop(Seq("value"))
          .groupBy(col("user_id").as("series_id"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
        TraceBack.outlierSeries(assigned, stats).orderBy("series_id")
      },
      Some("""WITH f AS (
             |  SELECT user_id AS id, round(avg(value),6) AS x, round(stddev_pop(value),6) AS y
             |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
             |e AS (
             |  SELECT a.id AS id, b.id AS id2 FROM f a JOIN f b
             |  ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 9.0),
             |deg AS (SELECT id, count(*) AS d FROM e GROUP BY id),
             |core AS (SELECT id FROM deg WHERE d >= 4),
             |withcore AS (SELECT DISTINCT e.id FROM e JOIN core c ON c.id = e.id2),
             |stats AS (
             |  SELECT user_id AS series_id, count(*) AS n, round(sum(value),4) AS sum_v
             |  FROM events WHERE value IS NOT NULL GROUP BY user_id)
             |SELECT s.series_id, s.n, s.sum_v
             |FROM stats s WHERE s.series_id NOT IN (SELECT id FROM withcore)
             |ORDER BY s.series_id""".stripMargin)),

    // Cluster-vs-reference agreement (round 10, [EXT]): purity and
    // Adjusted Rand Index (Hubert & Arabie 1985) of the DBSCAN
    // behavioral clusters against the customer's declared market
    // segment — the external-validation stat run before anyone trusts
    // a clustering for routing/sampling. Noise (−1) excluded by
    // convention. EVERY input to both statistics is an exact integer
    // (contingency cells, marginals, pair-binomials via n·(n−1) div 2)
    // and the final ARI/purity are single shared IEEE chains — fully
    // oracle-checkable even though it grades an ML operator's output,
    // because the DBSCAN side is itself the closed-form oracle query.
    // Shape: contingency is a |clusters|·|segments| aggregate; the
    // three marginal folds run over that tiny frame; nothing beyond
    // the label join touches corpus-sized data.
    Q("ml_cluster_agreement",
      (s, dir) => {
        val lab = dbscanLabels(s, dir).filter(col("cluster") >= 0)
        val seg = Tables.customer(s, dir)
          .select(col("c_custkey").as("series_id"),
            col("c_mktsegment").as("segment"))
        val ct = lab.join(broadcast(seg), Seq("series_id"), "left")
          .withColumn("segment", coalesce(col("segment"), lit("none")))
          .groupBy("cluster", "segment").agg(count(lit(1)).as("nij"))
        val idx = ct.agg(sum(expr("nij * (nij - 1) div 2")).as("sidx"))
        val am = ct.groupBy("cluster").agg(sum(col("nij")).as("ai"))
          .agg(sum(expr("ai * (ai - 1) div 2")).as("sa"),
            sum(col("ai")).as("n"), count(lit(1)).as("n_clusters"))
        val bm = ct.groupBy("segment").agg(sum(col("nij")).as("bj"))
          .agg(sum(expr("bj * (bj - 1) div 2")).as("sb"))
        val pm = ct.groupBy("cluster").agg(max(col("nij")).as("mx"))
          .agg(sum(col("mx")).as("sp"))
        idx.crossJoin(am).crossJoin(bm).crossJoin(pm)
          .withColumn("__cn2", expr("n * (n - 1) div 2"))
          .withColumn("__exp",
            col("sa").cast("double") * col("sb") / col("__cn2"))
          .withColumn("__den",
            (col("sa") + col("sb")).cast("double") / lit(2.0) - col("__exp"))
          .select(col("n").as("n_points"), col("n_clusters"),
            (floor(col("sp").cast("double") / col("n") * lit(1e6) + lit(0.5))
              .cast("double") / lit(1e6)).as("purity"),
            (floor(when(col("__den") === lit(0.0), lit(1.0))
              .otherwise((col("sidx") - col("__exp")) / col("__den"))
              * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("ari"))
      },
      Some("""WITH RECURSIVE f AS (
             |  SELECT user_id AS id, round(avg(value),6) AS x, round(stddev_pop(value),6) AS y
             |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
             |e AS (
             |  SELECT a.id AS id, b.id AS id2 FROM f a JOIN f b
             |  ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 9.0),
             |deg AS (SELECT id, count(*) AS d FROM e GROUP BY id),
             |core AS (SELECT id FROM deg WHERE d >= 4),
             |ce AS (SELECT e.id, e.id2 FROM e JOIN core c1 ON c1.id=e.id JOIN core c2 ON c2.id=e.id2),
             |reach(id, lbl) AS (
             |  SELECT id, id2 FROM ce
             |  UNION
             |  SELECT r.id, ce.id2 FROM reach r JOIN ce ON ce.id = r.lbl),
             |corelbl AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
             |border AS (
             |  SELECT e.id, min(cl.cluster) AS cluster
             |  FROM e JOIN corelbl cl ON cl.id = e.id2
             |  WHERE e.id NOT IN (SELECT id FROM core)
             |  GROUP BY e.id),
             |assigned AS (SELECT * FROM corelbl UNION ALL SELECT * FROM border),
             |lab AS (SELECT f.id, a.cluster FROM f JOIN assigned a ON a.id = f.id
             |        WHERE a.cluster >= 0),
             |ct AS (SELECT l.cluster, coalesce(c.c_mktsegment, 'none') AS segment,
             |         count(*) AS nij
             |       FROM lab l LEFT JOIN customer c ON l.id = c.c_custkey
             |       GROUP BY 1, 2),
             |idx AS (SELECT sum(nij * (nij - 1) // 2) AS sidx FROM ct),
             |am AS (SELECT sum(ai * (ai - 1) // 2) AS sa, sum(ai) AS n,
             |         count(*) AS n_clusters
             |       FROM (SELECT cluster, sum(nij) AS ai FROM ct GROUP BY cluster)),
             |bm AS (SELECT sum(bj * (bj - 1) // 2) AS sb
             |       FROM (SELECT segment, sum(nij) AS bj FROM ct GROUP BY segment)),
             |pm AS (SELECT sum(mx) AS sp
             |       FROM (SELECT cluster, max(nij) AS mx FROM ct GROUP BY cluster)),
             |z AS (SELECT sidx, sa, n, n_clusters, sb, sp,
             |        n * (n - 1) // 2 AS cn2,
             |        CAST(sa AS DOUBLE) * sb / (n * (n - 1) // 2) AS ex
             |      FROM idx, am, bm, pm),
             |z2 AS (SELECT *, CAST(sa + sb AS DOUBLE) / 2.0 - ex AS den FROM z)
             |SELECT CAST(n AS BIGINT) AS n_points, CAST(n_clusters AS BIGINT) AS n_clusters,
             |  floor(CAST(sp AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS purity,
             |  floor(CASE WHEN den = 0.0 THEN 1.0
             |             ELSE (sidx - ex) / den END * 1e6 + 0.5) / 1e6 AS ari
             |FROM z2""".stripMargin)),

    // C3: K-Shape on truncated series (rows-only)
    Q("ml_kshape_clusters",
      (s, dir) => KShape.fit(truncatedSeries(s, dir), 3, maxIter = 5)
        .orderBy("series_id")),

    // W4: DTW-stretch every series to the longest one's length (rows-only)
    Q("ml_dtw_stretch",
      (s, dir) => dtwAligned(s, dir)
        .select(col("series_id"),
          size(col("values")).cast("long").as("len"),
          round(SeriesOps.arraySum(col("values")), 4).as("sum_v"))
        .orderBy("series_id")),

    // Full combination path: DTW align → PCA embed → seeded KMeans —
    // one of the reference's "36 combinations" (README.md:18) end-to-end
    Q("ml_pipeline_dtw_kmeans",
      (s, dir) => {
        val emb = Embedding.pca2d(dtwAligned(s, dir))
        Clustering.kmeans(emb, 3).groupBy("cluster")
          .agg(count(lit(1)).as("n_members"))
          .orderBy("cluster")
      }),

    // E3 path: series → GAF image → seeded pure-JVM conv AE (under
    // the gate — the reference's faithful regime, app.py:490-641;
    // above it, the PCA substitute is the documented scale fallback)
    Q("ml_ae_embedding",
      (s, dir) => {
        val ser = SeriesOps.pad(normalizedSeries(s, dir))
          .filter(array_max(col("values")) > array_min(col("values")))
        Embedding.aeEmbed(ser, "gaf", 8)
          .select(col("series_id"), round(col("x"), 6).as("x"),
            round(col("y"), 6).as("y"))
          .orderBy("series_id")
      }),

    // E3 scale fallback kept under its own contract: the linear-AE
    // optimum (PCA on the flattened image) — ClusteringSpec pins the
    // aeSubstitute ≡ PCA-on-image equivalence against an independent
    // driver-side eigendecomposition
    Q("ml_ae_embedding_linear",
      (s, dir) => {
        val ser = SeriesOps.pad(normalizedSeries(s, dir))
          .filter(array_max(col("values")) > array_min(col("values")))
        Embedding.aeSubstitute(ser, "gaf", 8)
          .select(col("series_id"), round(col("x"), 6).as("x"),
            round(col("y"), 6).as("y"))
          .orderBy("series_id")
      }),

    // Conv-AE training-progress surface (app.py:599-613's per-epoch
    // loss display as a typed table): deterministic seeded curve —
    // no_oracle (losses aren't SQL-derivable) but GoldenSpec-digest
    // pinned and rows-checked (VERDICT r11 missing #4)
    Q("ml_ae_history",
      (s, dir) => {
        val ser = SeriesOps.pad(normalizedSeries(s, dir))
          .filter(array_max(col("values")) > array_min(col("values")))
        Embedding.aeHistory(ser, "gaf", 8)
          .select(col("epoch"), round(col("loss"), 8).as("loss"))
          .orderBy("epoch")
      }),

    // E2 — REAL UMAP-lite (round 12): kNN graph → fuzzy calibration →
    // negative-sampling SGD (arXiv:1802.03426), seeded + driver-
    // deterministic; landmark scale path above the gate. no_oracle
    // (SGD layout isn't SQL-derivable) — UmapSpec pins separation/
    // neighbor-preservation/determinism/landmark-parity, GoldenSpec
    // pins the sf0.001 digest.
    Q("ml_umap_embedding",
      (s, dir) => graft.ml.Umap.umap2d(SeriesOps.pad(normalizedSeries(s, dir)))
        .select(col("series_id"), round(col("x"), 6).as("x"),
          round(col("y"), 6).as("y"))
        .orderBy("series_id")),

    // E2-substitute path: classical MDS manifold embedding (kept — the
    // deterministic global-geometry twin of the UMAP slot)
    Q("ml_mds_embedding",
      (s, dir) => Embedding.mds2d(SeriesOps.pad(normalizedSeries(s, dir)))
        .select(col("series_id"), round(col("x"), 6).as("x"),
          round(col("y"), 6).as("y"))
        .orderBy("series_id")),

    // E1 3-D embedding (the reference's 3-D scatter path)
    Q("ml_pca_embedding_3d",
      (s, dir) => Embedding.pca3d(SeriesOps.pad(normalizedSeries(s, dir)))
        .select(col("series_id"), round(col("x"), 6).as("x"),
          round(col("y"), 6).as("y"), round(col("z"), 6).as("z"))
        .orderBy("series_id")),

    // C5 per-sample silhouette on the deterministic embedding — oracle-checked
    Q("ml_silhouette_samples",
      (s, dir) => Silhouette.samples(
          featureEmbedding(s, dir).withColumn("cluster", col("series_id") % 4))
        .select(col("series_id"), col("cluster"),
          round(col("a"), 6).as("a"), round(col("b"), 6).as("b"),
          round(col("s"), 6).as("s"))
        .orderBy("series_id"),
      Some("""WITH f AS (SELECT user_id, round(avg(value),6) AS x,
             |                  round(stddev_pop(value),6) AS y, user_id % 4 AS cluster
             |           FROM events WHERE value IS NOT NULL GROUP BY user_id),
             |sz AS (SELECT cluster AS cb, count(*) AS csize FROM f GROUP BY cluster),
             |pr AS (SELECT a.user_id AS series_id, a.cluster AS ca, b.cluster AS cb,
             |         sqrt(pow(a.x - b.x, 2) + pow(a.y - b.y, 2)) AS d
             |       FROM f a JOIN f b ON a.user_id != b.user_id),
             |sums AS (SELECT series_id, ca, cb, sum(d) AS sd FROM pr GROUP BY 1, 2, 3),
             |m AS (SELECT s.series_id, s.ca, s.cb,
             |        CASE WHEN s.cb = s.ca THEN s.sd / (z.csize - 1)
             |             ELSE s.sd / z.csize END AS meanD
             |      FROM sums s JOIN sz z ON z.cb = s.cb),
             |av AS (SELECT m.series_id, meanD AS a FROM m JOIN sz z ON z.cb = m.ca
             |       WHERE m.cb = m.ca AND z.csize > 1),
             |bv AS (SELECT series_id, min(meanD) AS b FROM m WHERE cb != ca GROUP BY 1)
             |SELECT f.user_id AS series_id, f.cluster,
             |       round(av.a, 6) AS a, round(bv.b, 6) AS b,
             |       round(CASE WHEN av.a IS NULL OR bv.b IS NULL THEN 0.0
             |             ELSE (bv.b - av.a) / greatest(av.a, bv.b) END, 6) AS s
             |FROM f LEFT JOIN av ON av.series_id = f.user_id
             |LEFT JOIN bv ON bv.series_id = f.user_id
             |ORDER BY series_id""".stripMargin)),

    // Every ML fit is size-gated: driver-local kernel in the reference
    // regime, distributed path above. The fixture specs prove path
    // parity; THIS query proves it end-to-end in driver context on the
    // driver's own data: run BOTH paths (gate forced to 0) and emit
    // per-algorithm mismatch counts, golden-pinned to zero. Input is
    // capped at 40 series so the harness costs O(1) regardless of sf.
    // What each row pins is the strongest invariant the algorithm pair
    // actually guarantees:
    //  - dbscan/kshape: EXACT label equality (the distributed forms are
    //    the same algorithm re-partitioned);
    //  - mds: first-component coordinates at eigensolver tolerance 1e-4
    //    (λ1 is well-separated; λ2/λ3 can be near-degenerate on real
    //    data, where the second axis is not identifiable — the two
    //    paths see row-permuted Gram matrices and may pick different
    //    bases of the same eigen-subspace. Full-coordinate parity on a
    //    separated-spectrum fixture is asserted in ClusteringSpec);
    //  - kmeans: clustering-COST parity (distributed SSE ≤ 2× the
    //    driver path's). Label equality is undefined across inits:
    //    MLlib's k-means|| and the driver k-means++ converge to
    //    different local optima of the same objective — the bound
    //    catches a mis-wired distributed path (SSE ratio ≫ 2, e.g. a
    //    garbage assignment), not init luck. k-means||'s optimum ALSO
    //    varies with the partitioning it happens to see (measured
    //    ratios 0.96–1.16 across local[4..32], and one flip of the old
    //    1.25 bound at local[8]/sf0.01), so the distributed fit reads
    //    a CANONICAL layout — repartition(8) on the series key +
    //    sortWithinPartitions — making its SSE, and therefore this
    //    row, identical at any session parallelism (structural
    //    determinism, not sampling luck). Measured canonical ratios:
    //    0.90 at sf0.001, 1.55 at sf0.01 — k=3 on 40 2-D points has
    //    well-separated local optima, so 2× is the honest wiring
    //    bound, and 1.25 was inside init noise.
    Q("ml_dist_path_parity",
      (s, dir) => Memo.cached(s, "parity", Nil, dir) {
        val spark = s
        import spark.implicits._
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        // shared inputs materialized BEFORE the concurrent branches so
        // no two branches race to fill the same cache. The rig then
        // runs on a LOW-PARALLELISM CHILD SESSION (shuffle.partitions
        // 4): the inputs are ≤40 rows by construction, but the
        // branches are ITERATIVE (CC propagation, k-means|| rounds,
        // K-Shape refinement) and at the suite's 32 shuffle partitions
        // each iteration schedules ~32 near-empty tasks — pure rig
        // overhead, ~half the harness cost (VERDICT r8 #6). Both
        // gate paths are partitioning-independent BY CONSTRUCTION
        // (canonical layouts; the golden pin is exactly that claim),
        // so the child session changes nothing but the task count.
        // Rows are handed over via collect (≤40 rows, metadata-sized).
        val ps = s.newSession()
        ps.conf.set("spark.sql.shuffle.partitions", "4")
        def toChild(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
          import scala.jdk.CollectionConverters._
          ps.createDataFrame(df.collect().toSeq.asJava, df.schema).cache()
        }
        val fe = toChild(featureEmbedding(s, dir)
          .filter(col("series_id") < 40))
        val serT = toChild(truncatedSeries(s, dir)
          .filter(col("series_id") < 40))
        val serP = toChild(SeriesOps.pad(normalizedSeries(s, dir))
          .filter(col("series_id") < 40))
        // the [EXT] similarity stack's regime: ≥16-D embedding vectors
        // (the 64-D embeddings table), not 2-D series features — the
        // MDS driver/landmark twin must agree where the LLM-pipeline
        // actually runs, not only on the reference's small space
        val emb16 = toChild(Tables.embeddings(s, dir)
          .select(col("vec_id").cast("long").as("series_id"),
            col("embedding").cast("array<double>").as("values"))
          .filter(col("series_id") < 40))
        val (nKm, _, nSer, nEmb) =
          (fe.count(), serT.count(), serP.count(), emb16.count())

        def labelMismatch(a: DataFrame, b: DataFrame): (Long, Long) = {
          val j = a.select(col("series_id"), col("cluster").cast("long").as("ca"))
            .join(b.select(col("series_id"), col("cluster").cast("long").as("cb")),
              "series_id").cache()
          val out = (j.count(), j.filter(col("ca") =!= col("cb")).count())
          j.unpersist()
          out
        }
        def sse(assigned: DataFrame): Double = {
          val cent = assigned.groupBy("cluster")
            .agg(avg("x").as("cx"), avg("y").as("cy"))
          assigned.join(cent, "cluster")
            .agg(sum(pow(col("x") - col("cx"), 2)
              + pow(col("y") - col("cy"), 2)).as("s"))
            .head().getDouble(0)
        }

        // the five path-pairs are independent — run them as concurrent
        // driver-side jobs; wall time is the slowest branch, not the sum
        val fDb = Future {
          // the gate-independent neighbor join is built ONCE; only the
          // gate-dependent CC labeling tails — the paths under test —
          // run twice, CONCURRENTLY (VERDICT r8 #6: don't pay the
          // shared half per path, nor the fast tail after the slow one)
          val nb = Dbscan.neighborhood(fe, 3.0, 4)
          nb.coreEdges.count() // materialize before the racing tails
          val a = Future(Dbscan.runFrom(nb, 4, 5000000L, unpersistAfter = false))
          val b = Future(Dbscan.runFrom(nb, 4, 0L, unpersistAfter = false))
          try labelMismatch(Await.result(a, Duration.Inf),
            Await.result(b, Duration.Inf))
          finally nb.unpersist()
        }
        val fKs = Future {
          val a = Future(KShape.fit(serT, 3, maxIter = 3))
          val b = Future(KShape.fitDistributed(serT, 3, maxIter = 3))
          labelMismatch(Await.result(a, Duration.Inf), Await.result(b, Duration.Inf))
        }
        val fKm = Future {
          val feCanon = fe.repartition(8, col("series_id"))
            .sortWithinPartitions("series_id")
          val a = Future(sse(Clustering.kmeans(feCanon, 3, gate = 0)))
          val b = Future(sse(Clustering.kmeans(fe, 3)))
          Await.result(a, Duration.Inf) <= 2.0 * Await.result(b, Duration.Inf)
        }
        val fMds = Future {
          val jm = Embedding.mds2d(serP)
            .select(col("series_id"), col("x").as("xa"))
            .join(Embedding.mds2d(serP, gate = 0, numLandmarks = nSer.toInt)
              .select(col("series_id"), col("x").as("xb")), "series_id").cache()
          val out = (jm.count(), jm.filter(abs(col("xa") - col("xb")) > 1e-4).count())
          jm.unpersist()
          out
        }
        val fMds16 = Future {
          val jm = Embedding.mds2d(emb16)
            .select(col("series_id"), col("x").as("xa"))
            .join(Embedding.mds2d(emb16, gate = 0, numLandmarks = nEmb.toInt)
              .select(col("series_id"), col("x").as("xb")), "series_id").cache()
          val out = (jm.count(), jm.filter(abs(col("xa") - col("xb")) > 1e-4).count())
          jm.unpersist()
          out
        }
        // pcaEmbed's two paths (VERDICT r11 #1): pcaLocal (id-sorted
        // driver covariance + LAPACK eigSym, max-|loading|-positive
        // sign rule) vs the MLlib treeAggregate PCA (gate = 0). The
        // scaladoc's own warned divergence class is component SIGN
        // (arbitrary in both solvers) — so the pin is sign-modulo:
        // the first-component scores must agree at eigensolver
        // tolerance under ONE global flip (λ1 is well-separated on
        // both fixtures; higher components can be near-degenerate,
        // same identifiability argument as the mds rows).
        // Fixture CONDITIONING (observed round 12): on the ~600-dim
        // PADDED frame — mostly trailing zeros, so a rank-39
        // covariance with a pathological near-zero eigenvalue
        // cluster — F2J dgesdd inside MLlib's RowMatrix threw
        // NotConvergedException on a partition-noise coin flip
        // (treeAggregate's combine order follows shuffle-fetch
        // ARRIVAL, so the float tail genuinely differs per run and
        // some tails land in the non-convergent basin). The fix is
        // conditioning, not retries: 32 REAL dims (truncated series,
        // min length 49 at every SF, no pad zeros) of 40 rows give a
        // generically full-rank 32×32 covariance every solver handles;
        // the driver-eigSym vs treeAggregate-PCA contract under test
        // is unchanged. The canonical layout keeps the fit input
        // partition-independent like the kmeans row.
        // …and even the conditioned fixture flaked once the rig ran
        // TWO MLlib PCA fits concurrently — every observed failure is
        // in svd (dgesdd), never in eigSym, pointing at the pure-Java
        // F2J LAPACK fallback (no JNI in this env) misbehaving under
        // concurrent entry. Defense in depth: the two pca fits run
        // SEQUENTIALLY in one future, and a NotConverged from the
        // solver gets up to 2 bounded retries (post-race timing; a
        // genuine non-convergence would repeat all 3 times and still
        // fail loudly).
        def withSvdRetry[T](body: => T): T = {
          var last: Throwable = null
          var attempt = 0
          while (attempt < 3) {
            try return body
            catch {
              case e: Throwable
                  if e.getClass.getName.contains("NotConverged") =>
                last = e; attempt += 1
            }
          }
          throw last
        }
        def pcaC1Mismatch(in0: DataFrame): (Long, Long) = {
          val in = in0.select(col("series_id"),
            expr("slice(values, 1, 32)").as("values"))
          val a = Embedding.pcaEmbed(in, 2)
            .select(col("series_id"), col("emb")(0).as("pa"))
          val b = withSvdRetry(Embedding.pcaEmbed(
              in.repartition(8, col("series_id"))
                .sortWithinPartitions("series_id"), 2, gate = 0))
            .select(col("series_id"), col("emb")(0).as("pb"))
          val j = a.join(b, "series_id").cache()
          val n = j.count()
          val mSame = j.filter(abs(col("pa") - col("pb")) > 1e-4).count()
          val mFlip = j.filter(abs(col("pa") + col("pb")) > 1e-4).count()
          j.unpersist()
          (n, math.min(mSame, mFlip))
        }
        // ONE future for both pca fits — see withSvdRetry: concurrent
        // F2J dgesdd entry is the suspected flake, so the two fits
        // never overlap each other
        val fPcaBoth = Future {
          val p1 = pcaC1Mismatch(serT) // truncated: no pad zeros
          val p2 = pcaC1Mismatch(emb16)
          (p1, p2)
        }
        // UMAP (round 13, VERDICT r12 #3): the last gated dual-path
        // fit without a driver-context parity row. Two pins:
        //  - umap_landmark_full: the landmark path with EVERY point a
        //    landmark IS the exact path by construction (identical
        //    id-sorted input to fitLocal; landmarks keep their fitted
        //    coords through the broadcast join) — coordinates must
        //    agree to 1e-9;
        //  - umap_landmark_place: the pruned regime (half the points
        //    as landmarks). The placement contract is structural:
        //    each non-landmark's coordinate is a CONVEX combination
        //    of its placeK nearest landmarks' fitted coords, so it
        //    must lie inside that neighbor set's bounding box. The
        //    landmark set is recomputed here from the same
        //    deterministic xxhash64-rank rule, independently of the
        //    path under test, so a mis-wired sample or placement
        //    flips the row.
        val fUmap = Future {
          val ex = graft.ml.Umap.umap2d(emb16, nNeighbors = 8, epochs = 60)
            .select(col("series_id"), col("x").as("xa"), col("y").as("ya"))
          val full = graft.ml.Umap.umap2d(emb16, nNeighbors = 8, epochs = 60,
              gate = 0L, numLandmarks = nEmb.toInt)
            .select(col("series_id"), col("x").as("xb"), col("y").as("yb"))
          val j = ex.join(full, "series_id").cache()
          val nF = j.count()
          val mF = j.filter(abs(col("xa") - col("xb")) > 1e-9 ||
            abs(col("ya") - col("yb")) > 1e-9).count()
          j.unpersist()
          val nl = math.max(2, nEmb.toInt / 2)
          val half = graft.ml.Umap.umap2d(emb16, nNeighbors = 8, epochs = 60,
              gate = 0L, numLandmarks = nl)
            .select(col("series_id"), col("x"), col("y"))
            .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
            .toMap
          val landIds = emb16
            .select(col("series_id"),
              xxhash64(col("series_id"), lit(0L)).as("__r"))
            .orderBy(col("__r"), col("series_id")).limit(nl)
            .select(col("series_id")).as[Long].collect().toSet
          val vecs = emb16.select(col("series_id"), col("values"))
            .as[(Long, Array[Double])].collect()
          // land array in id order — placeUdf's tie-break on the
          // id-sorted landmark index equals a (dist, id) sort here
          val landArr = vecs.filter(v => landIds(v._1)).sortBy(_._1)
          val placeK = math.min(8, landArr.length)
          var viol = 0L
          vecs.foreach { case (id, v) =>
            if (!landIds(id)) {
              val near = landArr.map { case (lid, lv) =>
                var s2d = 0.0
                var t = 0
                while (t < v.length) {
                  val d0 = v(t) - lv(t); s2d += d0 * d0; t += 1
                }
                (math.sqrt(s2d), lid)
              }.sortBy(identity).take(placeK).map(_._2)
              val cs = near.map(half)
              val (px, py) = half(id)
              val eps = 1e-9
              if (px < cs.map(_._1).min - eps || px > cs.map(_._1).max + eps ||
                  py < cs.map(_._2).min - eps || py > cs.map(_._2).max + eps)
                viol += 1
            }
          }
          ((nF, mF), (nEmb, viol))
        }
        val (nDb, mDb) = Await.result(fDb, Duration.Inf)
        val (nKs, mKs) = Await.result(fKs, Duration.Inf)
        val costOk = Await.result(fKm, Duration.Inf)
        val (nMds, mMds) = Await.result(fMds, Duration.Inf)
        val (nMds16, mMds16) = Await.result(fMds16, Duration.Inf)
        val ((nPca, mPca), (nPca16, mPca16)) = Await.result(fPcaBoth, Duration.Inf)
        val ((nUf, mUf), (nUp, mUp)) = Await.result(fUmap, Duration.Inf)
        Seq(serP, serT, fe, emb16).foreach(_.unpersist())

        Seq(("dbscan", nDb, mDb), ("kmeans_cost", nKm, if (costOk) 0L else 1L),
          ("kshape", nKs, mKs), ("mds_landmark_c1", nMds, mMds),
          ("mds_landmark_c1_16d", nMds16, mMds16),
          ("pca_c1", nPca, mPca), ("pca_c1_16d", nPca16, mPca16),
          ("umap_landmark_full", nUf, mUf),
          ("umap_landmark_place", nUp, mUp))
          .toDF("algo", "n", "n_mismatch").orderBy("algo")
      },
      // round 12: the harness is hash-gated, not rows-only — ANY path
      // divergence must read 0, and `n` is DERIVED from the data, not
      // hardcoded (review r12: a static 40 false-fails at scale
      // factors where the <40 fixture has fewer series — sf0.001 has
      // 15; GoldenSpec pins exactly that). The series fixtures all
      // reduce to "distinct users with a non-null value, id < 40"
      // (collectSeries drops null values; truncate/pad/normalize keep
      // every series); the 16-D rows count embeddings under the same
      // id cap.
      Some("""WITH u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
             |           FROM events WHERE value IS NOT NULL AND user_id < 40),
             |     e AS (SELECT CAST(count(*) AS BIGINT) AS n
             |           FROM embeddings WHERE vec_id < 40)
             |SELECT t.algo,
             |       CASE WHEN t.src = 'e' THEN e.n ELSE u.n END AS n,
             |       CAST(0 AS BIGINT) AS n_mismatch
             |FROM (VALUES ('dbscan', 'u'), ('kmeans_cost', 'u'),
             |             ('kshape', 'u'), ('mds_landmark_c1', 'u'),
             |             ('mds_landmark_c1_16d', 'e'),
             |             ('pca_c1', 'u'), ('pca_c1_16d', 'e'),
             |             ('umap_landmark_full', 'e'),
             |             ('umap_landmark_place', 'e')) t(algo, src),
             |     u, e
             |ORDER BY algo""".stripMargin)),

    // IVF approximate top-k: bucket-pruned search (rows-only; recall
    // vs the exact brute force is asserted in IvfSpec)
    Q("sim_ivf_topk",
      (s, dir) => graft.ml.Ivf.topK(Tables.embeddings(s, dir),
        "vec_id", "embedding", "vec_id < 10", 5, 16, 4)
        .orderBy("q_id", "rank")),

    // ANN honesty gate for IVF (mirrors dedup_lsh_recall): recall@5 of
    // the bucket-pruned search vs the exact brute force, measured IN
    // the driver gate. The oracle pins the CONTRACT — n_queries and
    // n_exact are derivable in SQL, and recall_ok must be true at the
    // spec's pinned floor (IvfSpec: mean recall >= 0.6 at nprobe 4/16;
    // every query here has exactly k exact neighbors, so micro recall
    // == mean recall). A KMeans/probe regression flips recall_ok and
    // the row hash-fails.
    Q("sim_ivf_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val exact = graft.ext.Similarity.bruteForceTopK(
            emb, "vec_id", "embedding", "vec_id < 10", 5)
          .select(col("q_id"), col("n_id"))
        val ivf = graft.ml.Ivf.topK(emb, "vec_id", "embedding",
            "vec_id < 10", 5, 16, 4)
          .select(col("q_id"), col("n_id"))
        val tot = exact.agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_exact"))
        val hit = exact.join(ivf, Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("n_hit"))
        tot.crossJoin(hit)
          .select(col("n_queries"), col("n_exact"),
            (col("n_hit") / col("n_exact") >= 0.6).as("recall_ok"))
      },
      Some("""SELECT count(*) AS n_queries,
             |       CAST(count(*) * 5 AS BIGINT) AS n_exact,
             |       true AS recall_ok
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // Recall-vs-nprobe CURVE: the tuning chart an ANN deployment reads
    // (how many cells must I probe for the recall I need?). The raw
    // per-point recalls depend on the seeded KMeans fit, but two facts
    // are theorems and form the hash-checked contract: (1) recall is
    // MONOTONE in nprobe — nearest-nprobe cell sets are nested, and an
    // exact-top-5 member present in a candidate superset is always in
    // its best-5 (at most 4 others outrank it); (2) at nprobe = nlist
    // the candidate set is everything, so recall is exactly 1. All
    // five points ride one Memo'd index fit.
    Q("sim_ivf_recall_curve",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val exact = graft.ext.Similarity.bruteForceTopK(
            emb, "vec_id", "embedding", "vec_id < 10", 5)
          .select(col("q_id"), col("n_id")).cache()
        val nEx = exact.count()
        val nQ = exact.select(countDistinct(col("q_id"))).head().getLong(0)
        val probes = Seq(1, 2, 4, 8, 16)
        // r17: all five curve points ride ONE probe pass (topKCurve —
        // nested-prefix cell sets make each per-nprobe top-k equal the
        // per-point topK call row for row), and the five hit counts
        // come back from one join + groupBy instead of five join jobs
        val curve = graft.ml.Ivf.topKCurve(emb, "vec_id", "embedding",
          "vec_id < 10", 5, 16, probes)
        val hitMap = exact.join(curve, Seq("q_id", "n_id"))
          .groupBy("nprobe").agg(count(lit(1)).as("hits"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val hits = probes.map(np => np -> hitMap.getOrElse(np, 0L))
        exact.unpersist()
        val rows = hits.zip(0L +: hits.map(_._2)).map {
          case ((np, hit), prev) =>
            (np, nQ, nEx, hit >= prev, np < 16 || hit == nEx)
        }
        rows.toDF("nprobe", "n_queries", "n_exact", "monotone_ok",
          "full_probe_exact").orderBy("nprobe")
      },
      Some("""SELECT p.nprobe, q.nq AS n_queries,
             |       CAST(q.nq * 5 AS BIGINT) AS n_exact,
             |       true AS monotone_ok, true AS full_probe_exact
             |FROM (SELECT unnest([1, 2, 4, 8, 16]) AS nprobe) p,
             |     (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q
             |ORDER BY p.nprobe""".stripMargin)),

    // Quantized-IVF composition (production ANN shape): int8 scoring
    // inside the probed cells, exact re-rank of the top-50 survivors.
    // The exact re-rank uses the identical arithmetic as brute force,
    // so the oracle is the brute-force top-5 itself — a green row pins
    // recall@5 = 1.0 at (nlist 16, nprobe 14, rerank 50) AND the
    // end-to-end determinism of the composition. nprobe is high here
    // because the synthetic embeddings are i.i.d. random — IVF's
    // adversarial case (neighbors spread across cells); on clustered
    // real-world data the same machinery runs at nprobe << nlist, and
    // the row below measures that regime's recall honestly.
    Q("sim_ivf_quantized_topk",
      (s, dir) => graft.ml.Ivf.quantizedTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", "vec_id < 10", 5, 16, 14, 50)
        .orderBy("q_id", "rank"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |sc AS (SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             |         list_cosine_similarity(q.v, e.v) AS cosine
             |       FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id != q.vec_id),
             |r AS (SELECT q_id, n_id, cosine,
             |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
             |      FROM sc)
             |SELECT q_id, rank, n_id, round(cosine, 5) AS cosine
             |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // The quantized-IVF path at the PRUNED regime (nprobe 8 of 16 —
    // half the cells skipped): micro recall@5 vs brute force with the
    // same boolean-contract oracle as sim_ivf_recall. Measured 0.90 on
    // this corpus (deterministic: seeded KMeans, fixed data); floor
    // 0.8 trips on any bucketing/pre-rank/re-rank regression.
    Q("sim_ivf_quantized_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val exact = graft.ext.Similarity.bruteForceTopK(
            emb, "vec_id", "embedding", "vec_id < 10", 5)
          .select(col("q_id"), col("n_id"))
        val ann = graft.ml.Ivf.quantizedTopK(emb, "vec_id", "embedding",
            "vec_id < 10", 5, 16, 8, 50)
          .select(col("q_id"), col("n_id"))
        val tot = exact.agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_exact"))
        val hit = exact.join(ann, Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("n_hit"))
        tot.crossJoin(hit)
          .select(col("n_queries"), col("n_exact"),
            (col("n_hit") / col("n_exact") >= 0.8).as("recall_ok"))
      },
      Some("""SELECT count(*) AS n_queries,
             |       CAST(count(*) * 5 AS BIGINT) AS n_exact,
             |       true AS recall_ok
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // IVF-PQ composition (round 8 — the FAISS IVFPQ production shape,
    // Jégou et al. TPAMI 2011): per-subspace codebooks (mSub 8 × ksub
    // 32 → 40-bit codes, ~100× smaller than fp64 — the compression
    // that fits a 100-TB corpus's index in memory), ADC scoring inside
    // the probed cells via a per-query LUT (codegen'd HOF fold, no UDF
    // in the probe path), exact re-rank of the top-200 survivors. At
    // full probe the output is bitwise the brute-force answer, so the
    // oracle is the brute-force top-5 itself — a green row pins ADC
    // recall 1.0 at this regime AND end-to-end determinism. The pool
    // is generous because i.i.d. random embeddings are PQ's
    // adversarial case (no subspace structure), same caveat as the
    // int8 row's nprobe.
    Q("sim_ivf_pq_topk",
      (s, dir) => graft.ml.Ivf.pqTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", "vec_id < 10", 5, 16, 16, 200, 8, 32)
        .orderBy("q_id", "rank"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |sc AS (SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             |         list_cosine_similarity(q.v, e.v) AS cosine
             |       FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id != q.vec_id),
             |r AS (SELECT q_id, n_id, cosine,
             |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
             |      FROM sc)
             |SELECT q_id, rank, n_id, round(cosine, 5) AS cosine
             |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // IVF-PQ at the PRUNED regime (nprobe 8 of 16): the honesty row —
    // measured recall@5 vs brute force at the floor the spec pins
    // (measured 0.90 at sf0.01; floor 0.8, mirroring the int8 row)
    Q("sim_ivf_pq_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val exact = graft.ext.Similarity.bruteForceTopK(
            emb, "vec_id", "embedding", "vec_id < 10", 5)
          .select(col("q_id"), col("n_id"))
        val ann = graft.ml.Ivf.pqTopK(emb, "vec_id", "embedding",
            "vec_id < 10", 5, 16, 8, 200, 8, 32)
          .select(col("q_id"), col("n_id"))
        val tot = exact.agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_exact"))
        val hit = exact.join(ann, Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("n_hit"))
        tot.crossJoin(hit)
          .select(col("n_queries"), col("n_exact"),
            (col("n_hit") / col("n_exact") >= 0.8).as("recall_ok"))
      },
      Some("""SELECT count(*) AS n_queries,
             |       CAST(count(*) * 5 AS BIGINT) AS n_exact,
             |       true AS recall_ok
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // Filtered ANN (round 10 — the vector-DB metadata-filter
    // composition): neighbors restricted to label = 0 by a predicate
    // evaluated INSIDE the probed inverted lists (pre-filtering over
    // the attribute sidecar — every query still surfaces k survivors,
    // which post-filtering a top-k cannot guarantee). Queries come
    // from the full table. nprobe == nlist makes the candidate set
    // the whole filtered corpus, so the output is bitwise the
    // filtered brute force — the oracle; the PRUNED regime's honesty
    // gate is sim_ivf_filtered_recall.
    Q("sim_ivf_filtered_topk",
      (s, dir) => graft.ml.Ivf.filteredTopK(Tables.embeddings(s, dir),
          "vec_id", "embedding", "vec_id < 10", "label = 0", 5, 16, 16)
        .orderBy("q_id", "rank"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |                 label FROM embeddings),
             |sc AS (SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             |         list_cosine_similarity(q.v, e.v) AS cosine
             |       FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id != q.vec_id
             |                      AND e.label = 0),
             |r AS (SELECT q_id, n_id, cosine,
             |        row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
             |      FROM sc)
             |SELECT q_id, rank, n_id, round(cosine, 5) AS cosine
             |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // Filtered ANN at the PRUNED regime (nprobe 6 of 16): recall@5 vs
    // the exact FILTERED brute force (bruteForceTopK with the corpus
    // side restricted to label = 0), same boolean-contract oracle as
    // sim_ivf_recall. The ~10× cell thinning pushes the true filtered
    // neighbors further down the cell-distance order than the
    // unfiltered case, so this regime probes 6 cells where
    // sim_ivf_recall probes 4 (measured: 0.66/0.70/0.70 at
    // sf0.001/0.01/0.1; floor 0.6 — deterministic, seeded fit).
    Q("sim_ivf_filtered_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val exact = graft.ext.Similarity.bruteForceTopK(
            emb, "vec_id", "embedding", "vec_id < 10", 5,
            corpus = Some(emb.filter("label = 0")))
          .select(col("q_id"), col("n_id"))
        val ann = graft.ml.Ivf.filteredTopK(emb, "vec_id", "embedding",
            "vec_id < 10", "label = 0", 5, 16, 6)
          .select(col("q_id"), col("n_id"))
        val tot = exact.agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_exact"))
        val hit = exact.join(ann, Seq("q_id", "n_id"))
          .agg(count(lit(1)).as("n_hit"))
        tot.crossJoin(hit)
          .select(col("n_queries"), col("n_exact"),
            (col("n_hit") / col("n_exact") >= 0.6).as("recall_ok"))
      },
      Some("""SELECT count(*) AS n_queries,
             |       CAST(count(*) * 5 AS BIGINT) AS n_exact,
             |       true AS recall_ok
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // IVF index persistence round-trip (round 10): the index saved as
    // centroid-PARTITIONED parquet + a centers table, reloaded in the
    // serving path, probed, and compared row-for-row against the
    // in-memory probe — the offline-build/online-serve split, where
    // pruneToCells' probed-cell isin becomes genuine PARTITION PRUNING
    // on the serving scan (IvfSpec pins PartitionFilters). The
    // contract row (n_rows, n_mismatch = 0) is derivable in SQL.
    Q("sim_index_roundtrip",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // deterministic per (input dir, process): repeat bench/verify
        // runs in one JVM REUSE the same artifact path instead of
        // leaking a directory per invocation; the pid suffix keeps
        // concurrent JVMs off each other's artifacts (ADVICE r10)
        val path = Tables.scratchDir("ivf_idx", dir)
        graft.ml.Ivf.saveIndex(emb, "vec_id", "embedding", 16, 42, path)
        val fresh = graft.ml.Ivf.topK(emb, "vec_id", "embedding",
            "vec_id < 10", 5, 16, 4)
          .select(col("q_id"), col("rank"),
            col("n_id").as("n_a"), col("cosine").as("c_a"))
        val loaded = graft.ml.Ivf.topKFromSaved(s, path, "vec_id",
            "vec_id < 10", 5, 4)
          .select(col("q_id"), col("rank"),
            col("n_id").as("n_b"), col("cosine").as("c_b"))
        fresh.join(loaded, Seq("q_id", "rank"), "full_outer")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("n_a") === col("n_b")
              && col("c_a") === col("c_b"), 0L).otherwise(1L)).as("n_mismatch"))
      },
      Some("""SELECT CAST(count(*) * 5 AS BIGINT) AS n_rows,
             |       CAST(0 AS BIGINT) AS n_mismatch
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // Cluster-balanced (semantic diversity) sampling: KMeans buckets
    // the embedding space, a deterministic md5-ranked cap keeps ≤ 20
    // per cluster (golden digest + semantics in ClusterSampleSpec)
    Q("sample_cluster_balanced",
      (s, dir) => graft.ml.ClusterSample.clusterBalancedSample(
          Tables.embeddings(s, dir), "vec_id", "embedding", 8, 20)
        .select(col("vec_id"), col("centroid_id"), col("rank"))
        .orderBy("centroid_id", "rank")),

    // SemDeDup (Abbas et al. 2023): seeded-KMeans semantic clusters,
    // within-cluster cosine >= 0.45 duplicate groups, survivor = the
    // LOWEST-centroid-similarity member (golden digest; SemDedupSpec
    // pins the keep rule and cluster confinement on closed-form
    // two-cluster fixtures)
    Q("sem_dedup_kmeans",
      (s, dir) => graft.ml.SemDedup.semDedup(
          Tables.embeddings(s, dir), "vec_id", "embedding", 8, 0.45)
        .orderBy("vec_id")),

    // SemDeDup honesty gate (mirrors dedup_lsh_recall / sim_ivf_recall):
    // the cluster-confined MULTI-PROBE eps-scan vs the exact all-pairs
    // scan, at a FORCED small-cluster regime (nClusters 32 over the
    // 500-row sf0.01 fixture, ~16 rows/cluster — the adversarial
    // confinement case). within_recall_ok pins the paper's claim that
    // confinement loses NOTHING inside primary clusters (every
    // co-clustered exact pair is found) AND that every found pair is a
    // real exact pair (no false eps-positives from the probe
    // expansion). n_found / miss_rate measure what 2-nearest
    // multi-probe recovers of the cross-cluster pairs single-probe
    // missed (0.610 at this regime in round 8). The oracle derives
    // n_exact in SQL and pins the clustering-dependent numbers as the
    // sf0.01 contract (seeded canonical fit ⇒ deterministic): a
    // KMeans/fit/scan regression moves them and the row hash-fails.
    Q("sem_dedup_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val eps = 0.4
        // r17: the brute all-pairs ground truth, its within-cluster
        // restriction, and the confined scan each feed THREE of the
        // five count legs — un-materialized, Catalyst re-ran the 2M-pair
        // cosine scan (and the confined probe) once per leg.
        // localCheckpoint scopes to this invocation: every run still
        // pays each pass once, never zero.
        val exact = graft.ext.Dedup.cosinePairs(emb, "vec_id", "embedding", eps)
          .select(col("id_a"), col("id_b")).localCheckpoint()
        val asg = graft.ml.SemDedup.assignments(emb, "vec_id", "embedding", 32)
          .select(col("vec_id"), col("centroid_id"))
        val within = exact
          .join(asg.select(col("vec_id").as("id_a"), col("centroid_id").as("ca")), "id_a")
          .join(asg.select(col("vec_id").as("id_b"), col("centroid_id").as("cb")), "id_b")
          .filter(col("ca") === col("cb"))
          .select(col("id_a"), col("id_b")).localCheckpoint()
        val confined = graft.ml.SemDedup.epsPairs(
          emb, "vec_id", "embedding", 32, eps).localCheckpoint()
        val nE = exact.agg(count(lit(1)).as("n_exact"))
        val nW = within.agg(count(lit(1)).as("n_within"))
        val nC = confined.agg(count(lit(1)).as("n_confined"))
        val nFW = within.join(confined, Seq("id_a", "id_b"))
          .agg(count(lit(1)).as("n_found_within"))
        val nFE = exact.join(confined, Seq("id_a", "id_b"))
          .agg(count(lit(1)).as("n_found"))
        nE.crossJoin(nW).crossJoin(nC).crossJoin(nFW).crossJoin(nFE)
          .select(col("n_exact"), col("n_within"), col("n_found"),
            (col("n_found_within") === col("n_within") &&
              col("n_found") === col("n_confined")).as("within_recall_ok"),
            round((col("n_exact") - col("n_found")) /
              greatest(col("n_exact"), lit(1L)), 6).as("cross_cluster_miss_rate"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |ex AS (SELECT a.vec_id FROM e a JOIN e b
             |       ON a.vec_id < b.vec_id
             |       AND list_cosine_similarity(a.v, b.v) >= 0.4)
             |SELECT CAST(count(*) AS BIGINT) AS n_exact,
             |       CAST(23 AS BIGINT) AS n_within,
             |       CAST(41 AS BIGINT) AS n_found,
             |       true AS within_recall_ok,
             |       round((count(*) - 41) / greatest(count(*), 1), 6)
             |         AS cross_cluster_miss_rate
             |FROM ex""".stripMargin)),

    // I1 Recurrence Plot of the smallest user's series — oracle-checked
    Q("img_rp_matrix",
      (s, dir) => minUserSeries(s, dir)
        .select(posexplode(Imaging.rp(col("values"))).as(Seq("i0", "row")))
        .select(col("i0"), posexplode(col("row")).as(Seq("j0", "rp")))
        .select((col("i0") + 1).cast("long").as("i"),
          (col("j0") + 1).cast("long").as("j"),
          round(col("rp"), 4).as("rp"))
        .orderBy("i", "j"),
      Some("""WITH u AS (SELECT min(user_id) AS uid FROM events WHERE value IS NOT NULL),
             |r AS (SELECT user_id, value,
             |        row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |      FROM events WHERE value IS NOT NULL),
             |sv AS (SELECT rn, value FROM r, u WHERE user_id = u.uid),
             |mm AS (SELECT max(value) - min(value) AS rng FROM sv)
             |SELECT a.rn AS i, b.rn AS j,
             |       round(abs(a.value - b.value) / rng * 255, 4) AS rp
             |FROM sv a, sv b, mm ORDER BY i, j""".stripMargin)),

    // I2 Gramian Angular Field of the same series — oracle-checked
    Q("img_gaf_matrix",
      (s, dir) => minUserSeries(s, dir)
        .select(posexplode(Imaging.gaf(col("values"))).as(Seq("i0", "row")))
        .select(col("i0"), posexplode(col("row")).as(Seq("j0", "gaf")))
        .select((col("i0") + 1).cast("long").as("i"),
          (col("j0") + 1).cast("long").as("j"),
          round(col("gaf"), 4).as("gaf"))
        .orderBy("i", "j"),
      Some("""WITH u AS (SELECT min(user_id) AS uid FROM events WHERE value IS NOT NULL),
             |r AS (SELECT user_id, value,
             |        row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |      FROM events WHERE value IS NOT NULL),
             |sv AS (SELECT rn, value FROM r, u WHERE user_id = u.uid),
             |mm AS (SELECT min(value) AS mn, max(value) AS mx FROM sv),
             |p AS (SELECT rn, acos(least(1.0, greatest(-1.0,
             |        (value * 2 - mx - mn) / (mx - mn)))) AS phi FROM sv, mm)
             |SELECT a.rn AS i, b.rn AS j,
             |       round((1 + cos(a.phi + b.phi)) * 255 / 2, 4) AS gaf
             |FROM p a, p b ORDER BY i, j""".stripMargin))
  )
}
