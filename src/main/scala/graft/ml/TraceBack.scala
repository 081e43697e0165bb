package graft.ml

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** A4 + J1/J2 + C6/C7: centroid representatives, trace-back joins and
  * outlier extraction (reference: app.py:1003-1034, 976-988, 925-948).
  *
  * The reference's trace-back is a positional list-index join; here
  * every series carries `series_id` from creation, so trace-back is a
  * broadcast hash equi-join of the (small) embedding/assignment side
  * against the raw series table.
  */
object TraceBack {

  /** A4: per cluster, the centroid (member mean) and the member
    * nearest to it (argmin euclidean; ties → lowest series_id).
    * Noise (−1) is skipped like the reference. Input: (series_id, x,
    * y, cluster). Output: (cluster, rep_id, cx, cy).
    *
    * Under 10⁵ non-noise points (the reference regime: one point per
    * series) the whole computation runs on one [[Gate]] collect: member
    * means summed in series_id order, the argmin with the plan's own
    * sqrt/pow distance, returned as a local frame with the plan's
    * schema. Only the float summation order of the means differs from
    * the `Window` plan, which serves larger inputs and any input the
    * driver does not replicate: non-integral ids or clusters, decimal
    * coordinates (whose `avg` is decimal), null ids or coordinates. */
  def centroidRepresentatives(assigned: DataFrame): DataFrame =
    centroidRepresentatives(assigned, 100000L)

  /** [[centroidRepresentatives]] under an explicit gate; `gate = 0`
    * forces the `Window` plan (the parity spec's lever). */
  private[graft] def centroidRepresentatives(assigned: DataFrame, gate: Long): DataFrame = {
    val pts = assigned.filter(col("cluster") =!= -1)
    val cent = pts.groupBy("cluster")
      .agg(avg(col("x")).as("cx"), avg(col("y")).as("cy"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("dist").asc, col("series_id").asc)
    val windowed = pts.join(broadcast(cent), "cluster")
      .withColumn("dist",
        sqrt(pow(col("x") - col("cx"), 2) + pow(col("y") - col("cy"), 2)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("series_id").as("rep_id"),
        col("cx"), col("cy"))
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    val t = windowed.schema.map(_.dataType) // cluster, rep_id, cx, cy
    if (!(integral(t(0)) && integral(t(1)) && t(2) == DoubleType && t(3) == DoubleType))
      return windowed
    Gate.collectBelow(pts.select(col("series_id").cast("long"), col("cluster").cast("long"),
        col("x").cast("double"), col("y").cast("double"), col("cluster"), col("series_id")),
        gate)(r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
      .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(2) && !r.isNullAt(3)))
      .map(rows => assigned.sparkSession.createDataFrame(
        representatives(rows).asJava, windowed.schema))
      .getOrElse(windowed)
  }

  /** The driver body of [[centroidRepresentatives]] over id-sorted
    * (id, cluster, x, y, cluster as given, series_id as given) rows. */
  private def representatives(rows: Array[Row]): Seq[Row] =
    rows.groupBy(_.getLong(1)).toSeq.sortBy(_._1).map { case (_, ms) =>
      var sx = 0.0; var sy = 0.0
      ms.foreach { r => sx += r.getDouble(2); sy += r.getDouble(3) }
      val cx = sx / ms.length
      val cy = sy / ms.length
      def dist(r: Row): Double =
        math.sqrt(math.pow(r.getDouble(2) - cx, 2) + math.pow(r.getDouble(3) - cy, 2))
      // members are in id order, so a strict improvement keeps ties on
      // the lowest id; NaN sorts above every distance, as in Spark
      var rep = ms(0)
      var best = dist(rep)
      ms.foreach { r =>
        val d = dist(r)
        if (d < best || (best.isNaN && !d.isNaN)) { rep = r; best = d }
      }
      Row(rep.get(4), rep.get(5), cx, cy)
    }

  /** J2/C6: raw series of each cluster representative. */
  def representativeSeries(assigned: DataFrame, series: DataFrame): DataFrame =
    centroidRepresentatives(assigned)
      .join(series.withColumnRenamed("series_id", "rep_id"), "rep_id")

  /** C7/P4: raw series of DBSCAN noise points (cluster == −1). */
  def outlierSeries(assigned: DataFrame, series: DataFrame): DataFrame =
    assigned.filter(col("cluster") === -1)
      .select(col("series_id"))
      .join(series, "series_id")
}
