package graft.ml

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Undirected connected components with canonical min-id labels —
  * shared by DBSCAN cluster formation ([[Dbscan]]) and dedup group
  * closure (graft.ext.Dedup.dedupGroups).
  *
  * Scale design: the driver union-find fast path is gated on edge
  * count (union-find is O(E α(E)) and the edge list for near-dup
  * graphs is ~#true-dups, tiny relative to the corpus); above the gate,
  * iterative min-label propagation runs O(graph diameter) rounds, each
  * one equi-join + groupBy shuffling only the edge list — the standard
  * large-graph CC shape. Labels are canonical (min member id), so both
  * paths produce identical output regardless of partitioning. */
private[graft] object Components {

  /** Driver union-find whose root is always the smallest id joined so
    * far, so `find` returns the canonical min-id label directly. */
  final class MinIdUnionFind {
    private val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
  }

  /** edges: first two columns are (id, id2) castable to long. Returns
    * (id, label) for every id that appears in `edges`; label = min id
    * of the component. `maxDriverEdges` gates the driver union-find
    * path, counted in edge rows: the list stays on the driver while its
    * effective edge count is at most `maxDriverEdges`, so `0` forces
    * the distributed path for any non-empty list (parity-tested in
    * ClusteringSpec and TextDedupSpec) and still leaves an empty one on
    * the driver. Set `alreadySymmetric = true` when the edge list
    * carries both directions (DBSCAN's cell join does) — propagation
    * then skips the symmetrizing union, and the gate compares the raw
    * edge count (the caller's historical semantics); with false, the
    * gate accounts for the doubling the symmetrize adds.
    *
    * The decision is one [[Gate]] collect of the `(id, id2)` long
    * projection: below the gate the collected edges are the union-find's
    * input, and the labels come back as a local frame, so an in-memory
    * edge list is decided and labelled by one limited collect. */
  def minLabel(edges0: DataFrame, maxDriverEdges: Long = 5000000L,
      alreadySymmetric: Boolean = false): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val c0 = edges0.columns(0)
    val c1 = edges0.columns(1)
    val proj = edges0.select(col(c0).cast("long").as("id"),
      col(c1).cast("long").as("id2"))
    // n < gate ⇔ effEdges <= maxDriverEdges, effEdges = 2n unless symmetric
    val gate = (if (alreadySymmetric) maxDriverEdges else maxDriverEdges / 2) + 1
    Gate.collectBelow(proj.as[(Long, Long)], gate)(_._1) match {
      case Some(collected) =>
        // union-find treats every edge as undirected, so the directed
        // list is used as-is — no symmetrization pass needed
        val uf = new MinIdUnionFind
        collected.foreach { case (a, b) => uf.union(a, b) }
        val ids = collected.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
        ids.toSeq.map(id => (id, uf.find(id))).toDF("id", "label")
      case None =>
        val dir = proj.cache()
        val nEdges = dir.count()
        // min-label propagation DOES need both directions — symmetrize
        // only when the caller's list is one-directional
        val edges =
          if (alreadySymmetric) dir
          else dir.union(dir.select(col("id2").as("id"), col("id").as("id2")))
        // Small edge lists compact to one partition before iterating —
        // per-round task-scheduling overhead otherwise dominates. Big
        // graphs stay distributed; the propagation logic is identical
        // either way.
        val small = nEdges < 50000
        val work = if (small) edges.coalesce(1).cache() else edges.cache()
        // under the small gate the label table is tiny too: broadcast
        // it into the propagation join so each round is one exchange
        // (the groupBy), not three. Big graphs keep shuffle joins —
        // labels are O(nodes) there and must not be broadcast.
        def lhs(df: DataFrame): DataFrame = if (small) broadcast(df) else df
        // localCheckpoint each round: truncates the iterative plan
        // lineage, which otherwise outgrows the driver's analyzer. The
        // previous label rides along in the checkpointed frame so the
        // convergence test is a filter over it, not another join —
        // 2 jobs per round instead of 3.
        var labels = work.select(col("id")).distinct()
          .select(col("id"), col("id").as("label")).localCheckpoint()
        var changed = 1L
        var iter = 0
        while (changed > 0 && iter < 200) {
          val prop = work
            .join(lhs(labels.select(col("id").as("id2"), col("label"))), "id2")
            .groupBy("id").agg(min(col("label")).as("nl"))
          val stepped = labels.join(lhs(prop), Seq("id"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
              col("label").as("old"))
          // pointer-jumping shortcut (label ← its label's label, min):
          // halves the remaining path to the component min each round,
          // so convergence takes O(log diameter) rounds instead of
          // O(diameter) — the classic CC acceleration, and the
          // difference between ~log₂(d) and d shuffle rounds on a
          // 100-TB chain component. Monotone-decreasing toward the
          // same min-id fixpoint, so labels are unchanged, only rounds.
          val next = stepped.join(
              lhs(stepped.select(col("id").as("__lid"), col("label").as("__ll"))),
              col("label") === col("__lid"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("__ll"), col("label"))).as("label"),
              col("old"))
            .localCheckpoint()
          changed = next.filter(col("label") =!= col("old")).count()
          labels = next.select("id", "label")
          iter += 1
        }
        // silently-unconverged labels would make the dedup keep/drop
        // decision WRONG on chain components longer than the round cap
        // — fail loudly instead (conservatively: a run whose FINAL
        // round still changed labels is unverified, even if it happened
        // to land on the fixpoint). Caches are released BEFORE the
        // throw so an aborted run leaks nothing. With pointer jumping
        // the cap covers diameter ~2^200 — it remains as a defensive
        // infinite-loop guard, no longer a real-graph limitation.
        work.unpersist()
        dir.unpersist()
        if (changed != 0)
          throw new IllegalStateException(
            s"min-label propagation did not converge in $iter rounds " +
              "(component diameter exceeds the cap) — raise the round cap " +
              "or use a contraction-based CC for this graph")
        labels
    }
  }
}
