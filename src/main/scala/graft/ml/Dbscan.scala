package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C2: DBSCAN over a 2-D embedding — not in MLlib, so a custom
  * distributed implementation (reference behavior: app.py:748-752,
  * sklearn semantics: the point itself counts toward min_samples;
  * label −1 = noise).
  *
  * Scale design (the reference regime is n ≤ 10⁵, but this plan holds
  * at 10⁹): grid-partition the plane into eps-sized cells; a point's
  * eps-neighbors can only live in its 3×3 cell neighborhood, so the
  * neighbor search is an equi-join on cell key (9× fan-out on one
  * side), never an all-pairs product. Cluster formation is connected
  * components over core-core edges via iterative min-label
  * propagation — O(diameter) joins, each shuffling only the edge list.
  * Labels are canonicalized to the minimum member series_id, making
  * output deterministic regardless of partitioning.
  */
object Dbscan {

  /** Input: (series_id, x, y). Output: (series_id, cluster) with
    * cluster = min series_id of the component's core points, −1 noise.
    * `maxDriverEdges` gates the driver union-find fast path; set 0 to
    * force the distributed label-propagation path (tested for parity
    * in ClusteringSpec). `maxDriverPoints` gates the whole-run driver
    * kernel (r18): under it the grid walk, degrees, CC and border
    * labeling all run on the collected points — the same closed-form
    * decisions (identical Math.floor cells, Math.pow distance test,
    * exact counts, min-id labels), minus the ~7 tiny jobs the
    * distributed build costs at reference scale; 0 forces the
    * distributed build (parity-tested in ClusteringSpec). Inputs with
    * null or duplicate ids fall through — their distributed join
    * semantics (null keys match nothing, duplicate ids merge degrees)
    * are the contract, and the kernel does not replicate them. */
  def run(points: DataFrame, eps: Double, minPts: Int,
      maxDriverEdges: Long = 5000000L,
      maxDriverPoints: Long = 100000L): DataFrame = {
    // n <= maxDriverPoints runs on the driver
    val gate =
      if (maxDriverPoints > 0) math.min(maxDriverPoints, (Int.MaxValue - 8).toLong) + 1 else 0L
    val local = Gate.collectBelow(points.select(col("series_id").cast("long"),
        col("x").cast("double"), col("y").cast("double")), gate)(
      r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
    if (local.exists(rows =>
        rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) &&
        rows.indices.drop(1).forall(i => rows(i).getLong(0) != rows(i - 1).getLong(0))))
      return runLocal(points.sparkSession, local.get.map(r =>
        (r.getLong(0), r.getDouble(1), r.getDouble(2))), eps, minPts)
    runFrom(neighborhood(points, eps, minPts), minPts, maxDriverEdges,
      unpersistAfter = true)
  }

  /** The reference-regime kernel: every decision is the distributed
    * plan's, computed on the driver — cells via Math.floor (Spark's
    * Floor), the eps-ball via Math.pow (Spark's Pow), degrees as exact
    * counts with the self-pair included, components as min-id
    * union-find (the Components driver engine), border labels as the
    * min core-neighbor label. Order-free throughout, so the output is
    * bit-identical to the distributed build. */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      pts: Array[(Long, Double, Double)], eps: Double, minPts: Int): DataFrame = {
    import spark.implicits._
    val n = pts.length
    val cells = scala.collection.mutable.HashMap.empty[(Long, Long), scala.collection.mutable.ArrayBuffer[Int]]
    val cx = new Array[Long](n)
    val cy = new Array[Long](n)
    var i = 0
    while (i < n) {
      cx(i) = math.floor(pts(i)._2 / eps).toLong
      cy(i) = math.floor(pts(i)._3 / eps).toLong
      cells.getOrElseUpdate((cx(i), cy(i)), scala.collection.mutable.ArrayBuffer.empty) += i
      i += 1
    }
    val e2 = eps * eps
    val nbrs = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    i = 0
    while (i < n) {
      val (_, x, y) = pts(i)
      var dx = -1L
      while (dx <= 1L) {
        var dy = -1L
        while (dy <= 1L) {
          cells.get((cx(i) + dx, cy(i) + dy)).foreach(_.foreach { j =>
            val (_, x2, y2) = pts(j)
            if (math.pow(x - x2, 2) + math.pow(y - y2, 2) <= e2) nbrs(i) += j
          })
          dy += 1L
        }
        dx += 1L
      }
      i += 1
    }
    val core = nbrs.map(_.length >= minPts)
    // min-id union-find over core-core edges (the Components engine)
    val uf = new Components.MinIdUnionFind
    i = 0
    while (i < n) {
      if (core(i)) nbrs(i).foreach { j => if (core(j)) uf.union(pts(i)._1, pts(j)._1) }
      i += 1
    }
    val out = (0 until n).map { k =>
      val id = pts(k)._1
      if (core(k)) (id, uf.find(id))
      else {
        var best = Long.MaxValue
        nbrs(k).foreach { j => if (core(j)) best = math.min(best, uf.find(pts(j)._1)) }
        (id, if (best == Long.MaxValue) -1L else best)
      }
    }
    out.toDF("series_id", "cluster")
  }

  /** The gate-independent HALF of a DBSCAN run: grid cells, the 9-cell
    * neighbor equi-join, degrees, core set, core-core edges — all
    * cached. Split out so the parity harness can build this ONCE and
    * run only the gate-DEPENDENT labeling tail down both paths (the
    * paths under test are the CC engines, not the neighbor join —
    * VERDICT r8 #6). Callers own the unpersist (via [[runFrom]]'s
    * `unpersistAfter`). */
  private[graft] case class Neighborhood(pts: DataFrame, edges: DataFrame,
      core: DataFrame, coreEdges: DataFrame) {
    def unpersist(): Unit =
      Seq(coreEdges, core, edges, pts).foreach(_.unpersist())
  }

  private[graft] def neighborhood(points: DataFrame, eps: Double,
      minPts: Int): Neighborhood = {
    val pts = points.select(col("series_id").cast("long").as("id"),
      col("x").cast("double"), col("y").cast("double"))
      .withColumn("cx", floor(col("x") / eps))
      .withColumn("cy", floor(col("y") / eps))
      .cache()

    // 9-cell fan-out on the left side, equi-join on cell key.
    val probes = pts.select(col("id"), col("x"), col("y"),
        explode(expr("sequence(-1, 1)")).as("dx"), col("cx"), col("cy"))
      .select(col("id"), col("x"), col("y"),
        (col("cx") + col("dx")).as("jcx"), col("cy"),
        explode(expr("sequence(-1, 1)")).as("dy"))
      .select(col("id"), col("x"), col("y"), col("jcx"),
        (col("cy") + col("dy")).as("jcy"))
    val rhs = pts.select(col("id").as("id2"), col("x").as("x2"),
      col("y").as("y2"), col("cx").as("jcx"), col("cy").as("jcy"))
    val edges = probes.join(rhs, Seq("jcx", "jcy"))
      .filter(pow(col("x") - col("x2"), 2) + pow(col("y") - col("y2"), 2)
        <= eps * eps)
      .select(col("id"), col("id2"))
      .cache()

    // Core points: |eps-ball| >= minPts (self included, sklearn-style).
    val core = edges.groupBy("id").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= minPts).select(col("id")).cache()

    // Connected components over core-core edges: min-label propagation.
    val coreEdges = edges
      .join(core, "id")
      .join(core.select(col("id").as("id2")), "id2")
      .select(col("id"), col("id2"))
      .cache()
    Neighborhood(pts, edges, core, coreEdges)
  }

  /** The gate-DEPENDENT labeling tail over a prebuilt [[Neighborhood]]. */
  private[graft] def runFrom(nb: Neighborhood, minPts: Int,
      maxDriverEdges: Long, unpersistAfter: Boolean): DataFrame = {
    import nb.{pts, edges, core, coreEdges}
    // Reference-regime fast path (SURVEY.md §7.5 #4): small edge lists
    // union-find on the driver, else O(diameter) min-label propagation —
    // both canonical min-id labels, extracted into the shared
    // [[Components]] helper (also the dedup-group-closure engine).
    // Every core has a self-edge (distance 0 ≤ eps), so the node set
    // Components derives from the edge list covers all cores.
    val labels = Components.minLabel(coreEdges, maxDriverEdges,
      alreadySymmetric = true) // the cell join emits both directions

    // Border points: non-core with >=1 core neighbor → that core's label.
    val borderLabels = edges
      .join(labels.select(col("id").as("id2"), col("label")), "id2")
      .join(core, Seq("id"), "left_anti")
      .groupBy("id").agg(min(col("label")).as("cluster"))

    val coreLabels = labels.select(col("id"), col("label").as("cluster"))
    val assigned = coreLabels.unionByName(borderLabels)
    // materialize the (small) result eagerly so the working caches can
    // be freed instead of accumulating across a long session
    val result = pts.select(col("id"))
      .join(assigned, Seq("id"), "left")
      .select(col("id").as("series_id"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
      .localCheckpoint()
    if (unpersistAfter) Seq(coreEdges, core, edges, pts).foreach(_.unpersist())
    result
  }
}
