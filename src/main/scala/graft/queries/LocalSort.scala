package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** A query's final `orderBy` over rows already on the driver, sorted on
  * the driver. Spark plans `orderBy` over a `LocalRelation` as a range
  * sample, a range-partitioning shuffle and a sort: three jobs for rows
  * a driver path (the MinHash-LSH pairs, the DSIR weights) already
  * holds. Sorted here, the result is local rows again and its write is
  * one job.
  *
  * The sort is Catalyst's `InterpretedOrdering` over the plan's own
  * `SortOrder`s, so nulls, NaN, −0.0 and every type order as in Spark's
  * sort. It is stable: ties keep input order, as they do in the
  * range-partitioned sort. */
private[graft] object LocalSort {

  /** `df` sorted on the driver when its optimized plan is a global
    * `Sort` directly over local rows; any other plan comes back as the
    * same object. */
  def apply(df: DataFrame): DataFrame = df.queryExecution.optimizedPlan match {
    case Sort(order, true, local: LocalRelation, _) =>
      val ordering = new InterpretedOrdering(order, local.output)
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      val rows = local.data.sorted(ordering).map(r => toRow(r).asInstanceOf[Row])
      df.sparkSession.createDataFrame(rows.asJava, df.schema)
    case _ => df
  }
}
