package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col

/** The driver/distributed size gate of the reference-regime operators.
  * A row is one item of the driver kernel's input: one series or one
  * embedding point for the series kernels and [[TraceBack]] (so the
  * gate counts series, however many raw events they were aligned
  * from), one `(id, id2)` edge for [[Components]], one `(id, shingle)`
  * row for graft.ext.Dedup's MinHash-LSH pair pass.
  *
  * When the input is held in memory (every leaf of its plan is a cached
  * plan or local rows — what an interactive session keeps between its
  * align, embed and cluster steps), one limited collect both decides
  * the path and, below the gate, already holds the driver kernel's
  * input: one job rather than a limited count then an `orderBy`
  * collect, which ran five, because at reference scale each Spark job
  * costs more than the kernel. Any other input (a file scan, an
  * uncached aggregate) is first probed with the column-pruned limited
  * count, so at/above the gate none of its projected columns is
  * computed — a collect would compute and ship `gate` rows of them
  * (the align step's whole aggregation) only to drop them.
  *
  * `limit(gate)` returns at most `gate` rows of the caller's projection
  * — the same bound the driver path holds at n = gate − 1 — so the
  * decision needs no driver memory beyond what the driver path itself
  * needs; at or above the gate those rows are dropped before the
  * caller's distributed path runs. Callers project only the raw
  * columns their driver kernel needs and derive anything costly per
  * row (the AE images) on the driver, after the decision.
  *
  * Rows come back sorted by id on the driver (a stable sort), so kernels
  * that index or sum in row order see the same arrays however the input
  * is partitioned. The caller's plan is never cached or unpersisted:
  * Spark's cache manager matches by plan, so unpersisting a
  * caller-visible plan could evict an entry the caller shares.
  */
private[graft] object Gate {

  /** The rows of `rows` sorted by `id` when fewer than `gate` exist,
    * else None (the caller's distributed path). `gate <= 0` is None —
    * the parity specs' lever to force the distributed path. */
  def collectBelow[T](rows: Dataset[T], gate: Long)(id: T => Long): Option[Array[T]] = {
    if (gate <= 0) return None
    val n = math.min(gate, Int.MaxValue.toLong).toInt
    if (!inMemory(rows) && rows.limit(n).count() >= gate) return None
    val got = rows.limit(n).collect()
    if (got.length < gate) Some(got.sortBy(id)) else None
  }

  /** Every leaf of the plan is a cached plan or local rows. */
  private def inMemory(rows: Dataset[_]): Boolean =
    rows.queryExecution.withCachedData.collectLeaves().forall {
      case _: InMemoryRelation | _: LocalRelation => true
      case _ => false
    }

  /** [[collectBelow]] over the (series_id, values) projection that the
    * series kernels (PCA, MDS, AE, K-Shape, UMAP) take. */
  def seriesBelow(series: DataFrame, gate: Long): Option[Array[(Long, Array[Double])]] = {
    import series.sparkSession.implicits._
    collectBelow(series.select(col("series_id").cast("long"), col("values"))
      .as[(Long, Array[Double])], gate)(_._1)
  }
}
