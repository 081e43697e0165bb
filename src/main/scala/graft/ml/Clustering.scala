package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import scala.jdk.CollectionConverters._

/** C1/C4/A5 clustering built-ins (reference: app.py:704-720, 790-808).
  *
  * The reference's production KMeans is unseeded (app.py:712) — we pin
  * seeds everywhere (SURVEY.md §7.5 #2, documented deviation). Input is
  * a 2-D embedding DataFrame (series_id, x, y) exactly like the
  * reference feeds sklearn.
  */
object Clustering {

  private def withFeatures(emb: DataFrame): DataFrame =
    emb.withColumn("__f", array_to_vector(array(col("x"), col("y"))))

  /** C1: seeded KMeans assignment: adds `cluster` int column. Small
    * inputs use the driver-local seeded k-means++ (bitwise
    * deterministic — MLlib's k-means|| init samples per partition, so
    * its result depends on partitioning even with a fixed seed);
    * larger inputs use the distributed MLlib fit.
    *
    * Output: `emb`'s columns (series_id first, as the using-join of the
    * distributed path orders them) with `cluster` appended. The driver
    * path returns its collected rows plus labels as a local frame, so
    * no job joins the labels back (`emb` has one row per series_id, as
    * every embedding emits). The distributed path caches only the
    * DERIVED `__f` plan and releases it after an eager materialize, like
    * Ivf.topK. */
  def kmeans(emb: DataFrame, k: Int, seed: Long = 10,
      gate: Long = 100000L): DataFrame = {
    val spark = emb.sparkSession
    val cols = "series_id" +: emb.columns.filter(_ != "series_id")
    val local = Gate.collectBelow(emb.select(Seq(col("series_id").cast("long"),
      col("x").cast("double"), col("y").cast("double")) ++ cols.map(emb.col): _*),
      gate)(_.getLong(0))
    if (local.isDefined) {
      val rows = local.get
      val labels = Local.kmeans(rows.map(r => (r.getDouble(1), r.getDouble(2))), k, seed)
      return spark.createDataFrame(
        rows.indices.map(i => Row.fromSeq(rows(i).toSeq.drop(3) :+ labels(i))).asJava,
        StructType(cols.map(emb.schema(_))).add("cluster", IntegerType, nullable = false))
    }
    // distributed: MLlib's iterative fit re-reads its input every
    // iteration — persist the derived plan, materialize the (small)
    // assignment eagerly, release the working cache
    val f = withFeatures(emb).cache()
    val model = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("__f").setPredictionCol("cluster").fit(f)
    val out = model.transform(f).drop("__f").localCheckpoint()
    f.unpersist()
    out
  }

  /** C4: mean silhouette (squared-euclidean, like sklearn's default
    * euclidean silhouette up to the squared variant MLlib implements). */
  def silhouette(assigned: DataFrame): Double = {
    val f = withFeatures(assigned)
    new ClusteringEvaluator().setFeaturesCol("__f")
      .setPredictionCol("cluster").setMetricName("silhouette").evaluate(f)
  }

  /** A5: silhouette model-selection scan k = 2..maxK, top `keep` ks by
    * score desc (score×100 rounded 2, app.py:790-808; seed 10 like the
    * reference's scan).
    *
    * Reference-regime fast path: the embedding is one point per series
    * — tiny even at 100 TB of raw events — so for < 10⁵ points the
    * whole scan (seeded KMeans++ + EXACT euclidean silhouette, the
    * sklearn semantics the reference uses; MLlib's evaluator computes
    * the squared-euclidean variant) runs on the driver. Larger inputs
    * fall back to distributed MLlib fits. */
  def silhouetteScan(emb: DataFrame, maxK: Int, keep: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // id-sorted collect: the seeded k-means++ init indexes into this
    // array, so partitioning must not leak into results
    val local = Gate.collectBelow(emb.select(col("series_id").cast("long"),
      col("x").cast("double"), col("y").cast("double"))
      .as[(Long, Double, Double)], 100000L)(_._1)
    val scores =
      if (local.isDefined) {
        val pts = local.get.map(r => (r._2, r._3))
        (2 to maxK).map { k =>
          val labels = Local.kmeans(pts, k, seed = 10)
          (k, math.rint(Local.silhouette(pts, labels, k) * 100 * 100) / 100)
        }
      } else {
        // derived-plan cache for the k fits, released once the scores
        // (plain doubles — already materialized) are in hand
        val f = withFeatures(emb).cache()
        val out = (2 to maxK).map { k =>
          val m = new KMeans().setK(k).setSeed(10)
            .setFeaturesCol("__f").setPredictionCol("cluster").fit(f)
          val s = new ClusteringEvaluator().setFeaturesCol("__f")
            .setPredictionCol("cluster").evaluate(m.transform(f))
          (k, math.rint(s * 100 * 100) / 100)
        }
        f.unpersist()
        out
      }
    scores.sortBy { case (k, s) => (-s, k) }.take(keep)
      .toDF("k", "silhouette_pct")
  }
}
