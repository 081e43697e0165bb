package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic-diversity (cluster-balanced) sampling ([EXT] — the
  * embedding-space curation move behind DCLM/SemDeDup-style corpus
  * balancing): a seeded KMeans over L2-normalized embeddings buckets
  * the corpus into semantic clusters, then a deterministic per-cluster
  * cap keeps at most `cap` members per cluster — dominant topic blobs
  * are downsampled, rare clusters survive intact, and the selection is
  * reproducible (md5-ranked, no RNG at query time).
  *
  * Scale: the quantizer is the IVF coarse-quantizer shape ([[Ivf]]) —
  * MLlib KMeans over nClusters ≪ corpus, centroids broadcast by the
  * fit; the cap reuses [[graft.ext.TextOps.sourceCap]]'s salted
  * two-phase top-n, so a giant cluster (the whole point of balancing)
  * never lands in a single task's sort. */
object ClusterSample {

  /** Output: (idCol, centroid_id, samp_key, rank) — rows surviving the
    * per-cluster cap, rank 1..cap within each cluster by md5 order.
    * The assignment (the KMeans fit) is memoized per (session, input,
    * params): repeated sampling calls — different caps over the same
    * clustering — re-fit nothing. */
  def clusterBalancedSample(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, cap: Int, seed: Long = 42): DataFrame = {
    val assigned = graft.queries.Memo.cached(emb.sparkSession, "cbs", Seq(emb),
        nClusters, seed, idCol, vecCol) {
      val e = graft.ext.Similarity.prep(emb, idCol, vecCol)
        .withColumn("vn", transform(col("v"), x => x / col("nrm")))
        .withColumn("__f", array_to_vector(col("vn")))
      // the fit reads [[CanonicalFit]]'s layout: a bounded seeded
      // sample in a fixed id-keyed partitioning — the model, hence
      // which rows survive the cap, is identical at any parallelism,
      // and the fit cost is flat in corpus size; the full corpus is
      // assigned map-side below via the model's broadcast centers
      val model = new KMeans().setK(nClusters).setSeed(seed)
        .setFeaturesCol("__f").setPredictionCol("centroid_id")
        .fit(CanonicalFit.fitInput(e, idCol, seed))
      model.transform(e)
        .select(col(idCol), col("centroid_id").cast("long").as("centroid_id"))
        .withColumn("samp_key",
          md5(concat(lit("cbs|"), col(idCol).cast("string")).cast("binary")))
    }
    graft.ext.TextOps.sourceCap(assigned, idCol, "centroid_id", "samp_key", cap)
  }
}
