package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics for corpus curation ([EXT]): PageRank
  * domain authority (Page, Brin, Motwani, Winograd 1999) over a link
  * graph — the classic "which sources does the web itself vouch for"
  * curation signal (inlink authority is a standard quality weight next
  * to classifier lift; e.g. Common-Crawl-derived corpora weight hosts
  * by harmonic centrality / rank percentile).
  *
  * Determinism contract (the repo's integer-exact discipline): ranks
  * live in PER-NODE NANO-UNITS — every node initializes to 10⁹, i.e.
  * rq = round(rank·N·10⁹), so the unit never divides by the corpus
  * size and the signal cannot erode at web-scale node counts (a
  * round-11 review caught the earlier 10⁹ div N unit collapsing to
  * all-zero ranks past N ≈ 10⁹ and degrading well before). Every
  * per-iteration step is integer-only: contribution = rq div outdeg
  * (exact long division), teleport base = ((100−d_pct)·10⁹) div 100
  * (a constant), and damping uses the EXACT decomposition
  * (s div 100)·d + ((s mod 100)·d) div 100 == (d·s) div 100, which
  * never forms the d·s product — so the incoming-edge sums are
  * order-free exact longs with headroom to Σ rank mass ≈ N·10⁹
  * (int64-safe to N ≈ 9·10⁸ nodes; past that, shrink the unit) and
  * EVERY iteration is bit-identical on any engine, partitioning, or
  * fold order. A DuckDB oracle replays the identical ladder as
  * `iters` unrolled CTEs (no recursive CTE, no float, every level
  * CAST to BIGINT). Rank mass leaks at dangling nodes and at edges
  * pointing outside the node set (documented: mass is NOT
  * renormalized — the standard simplification when ranks are consumed
  * as an ORDERING signal, which is what curation does with them).
  *
  * Scale: the Pregel shape — each iteration is one equi-join of the
  * rank frame onto the edge list plus one map-side-combined groupBy on
  * dst. The edge list is the big operand and it NEVER moves: iterating
  * joins shuffle the (node, rq) frame (one row per node) against the
  * edge partitioning, so a 100-TB edge list bucketed/partitioned by
  * src pays its shuffle once at ingest, and each of the `iters` rounds
  * moves only node-sized data. The loop materializes each iteration's
  * rank frame via localCheckpoint to keep the plan linear (10 chained
  * shuffles, not an exponentially re-derived lineage).
  */
object Graph {

  /** PageRank over `edges` (src, dst BIGINT) restricted to `nodes`
    * (node BIGINT): `iters` integer-exact damped iterations. Output:
    * (node, rank_nano BIGINT, n_in BIGINT) — rank in per-node
    * nano-units (mean-ish 10⁹; exact mean only on leak-free graphs)
    * plus the inlink count for the audit eye. `dampingPct` is the
    * damping factor in percent (85 = the classic 0.85). */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
      dampingPct: Int = 85, checkpoint: Boolean = true,
      maxDriverEdges: Long = 5000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be 1..50, got $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be 0..100, got $dampingPct")
    val nd = nodes.select(col("node").cast("long").as("node"))
    // outdeg over the node-restricted edge list: contributions divide
    // by the SAME degree the oracle computes
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .join(nd.select(col("node").as("src")), Seq("src"), "left_semi")
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
    // the edge-with-degree frame is consumed once PER ITERATION —
    // Memo-materialize it (the coded-ANN-table barrier pattern) so the
    // upstream scan + degree aggregation runs once, not `iters` times.
    // r17: the node count is paired with it — deterministic sources
    // make it a constant, and re-counting cost one full scan job on
    // every invocation.
    val (e2, nNodes) = graft.queries.Memo.cachedWith(nodes.sparkSession, "predge",
        Seq(nodes, edges)) {
      (e.join(outdeg, Seq("src")).select(col("src"), col("dst"), col("__deg")),
        nd.count())
    }
    // Enforce the scaladoc's int64-safety bound (ADVICE r11): past
    // ~9e8 nodes the nano-unit contribution sums can wrap 2^63 under
    // Spark's non-ANSI long sum() while the DuckDB oracle sums in
    // HUGEINT — the engines would diverge SILENTLY. Fail loudly at
    // the contract edge instead.
    require(nNodes <= 900000000L,
      s"pageRank int64-safety bound exceeded: $nNodes nodes > 9e8 — " +
        "nano-unit rank sums can wrap past 2^63 (silent divergence vs " +
        "a HUGEINT oracle); shrink the rank unit before raising this")
    // teleport base, shared by both paths below
    val base = (100L - dampingPct) * 1000000000L / 100L
    // Driver fast path (r18, the Components.minLabel gate idiom): the
    // ladder is integer-exact and ORDER-FREE by construction (see the
    // scaladoc) — every engine computes bit-identical iterations — so
    // when nodes + degree-carrying edges fit under the gate, replaying
    // it on the driver is the SAME arithmetic minus `iters` rounds of
    // join+aggregate+checkpoint jobs (the per-iteration round-trips
    // dominate wall time on small graphs; a domain-level graph is
    // node-bounded even when the underlying corpus is 100 TB). The
    // limit-probe collect bounds driver memory: one row past the gate
    // abandons the path and the distributed loop below runs unchanged
    // (forced in GraphSpec's parity test via maxDriverEdges = 0).
    if (maxDriverEdges > 0 && nNodes <= maxDriverEdges) {
      val probe = math.min(maxDriverEdges, (Int.MaxValue - 8).toLong).toInt
      val collected = e2.limit(probe + 1).collect()
      if (collected.length <= probe) {
        val spark = nodes.sparkSession
        import spark.implicits._
        val nodeRows = nd.select(col("node")).collect()
        // a null node id keeps a (null, base, 0) row in the distributed
        // output but would collapse to 0L here — out of the fast path's
        // scope, fall through (same discipline as the duplicate guard)
        if (!nodeRows.exists(_.isNullAt(0))) {
        val nodeArr = nodeRows.map(_.getLong(0))
        // a null dst matches neither the contribution nor the n_in join
        // in the distributed plan — drop those rows, exactly as the
        // null join keys do (src cannot be null past the semi-join)
        val edgeRows = collected.filter(r => !r.isNullAt(1))
        val src = new Array[Long](edgeRows.length)
        val dst = new Array[Long](edgeRows.length)
        val deg = new Array[Long](edgeRows.length)
        var i = 0
        while (i < edgeRows.length) {
          val r = edgeRows(i)
          src(i) = r.getLong(0); dst(i) = r.getLong(1); deg(i) = r.getLong(2)
          i += 1
        }
        var rq = scala.collection.mutable.LongMap.empty[Long]
        nodeArr.foreach(n => rq(n) = 1000000000L)
        // a duplicated node id would make the distributed loop carry
        // duplicate rank rows while a map dedups them — out of the fast
        // path's scope; fall through to the loop below for exact parity
        if (rq.size == nodeArr.length) {
        val d = dampingPct.toLong
        for (_ <- 1 to iters) {
          // exact long sums are order-free; rq and deg are nonnegative,
          // so Java / and % coincide with SQL div / mod here
          val sums = scala.collection.mutable.LongMap.empty[Long]
          var j = 0
          while (j < src.length) {
            sums(dst(j)) = sums.getOrElse(dst(j), 0L) + rq(src(j)) / deg(j)
            j += 1
          }
          val next = scala.collection.mutable.LongMap.empty[Long]
          nodeArr.foreach { n =>
            val s = sums.getOrElse(n, 0L)
            next(n) = base + (s / 100L) * d + ((s % 100L) * d) / 100L
          }
          rq = next
        }
        val nIn = scala.collection.mutable.LongMap.empty[Long]
        var k = 0
        while (k < dst.length) { nIn(dst(k)) = nIn.getOrElse(dst(k), 0L) + 1L; k += 1 }
        return nodeArr.toSeq.map(n => (n, rq(n), nIn.getOrElse(n, 0L)))
          .toDF("node", "rank_nano", "n_in")
        }
        }
      }
    }
    // ALL divisions are SQL `div` (exact integer division — Column./
    // on longs is DOUBLE division, which can round across an integer
    // boundary and diverge from DuckDB's `//`); the damping multiply
    // uses the exact (q·d + (r·d) div 100) decomposition so the d·s
    // product never forms (s can approach N·10⁹)
    var rank = nd.select(col("node"), lit(1000000000L).as("rq"))
    for (_ <- 1 to iters) {
      val contrib = rank.join(e2, rank("node") === e2("src"))
        .select(col("dst").as("node"), expr("rq div __deg").as("__c"))
        .groupBy("node").agg(sum(col("__c")).as("__s"))
      val next = rank.select(col("node"))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr(s"${base}L + (coalesce(__s, 0L) div 100L) * ${dampingPct}L"
            + s" + ((coalesce(__s, 0L) % 100L) * ${dampingPct}L) div 100L")
            .as("rq"))
      rank = if (checkpoint) next.localCheckpoint(false) else next
    }
    val nIn = e2.groupBy(col("dst").as("node")).agg(count(lit(1)).as("n_in"))
    rank.join(nIn, Seq("node"), "left")
      .select(col("node"), col("rq").as("rank_nano"),
        coalesce(col("n_in"), lit(0L)).as("n_in"))
  }

  /** The DuckDB replay of [[pageRank]] as `iters` UNROLLED CTE levels
    * (engine-version-robust: no recursive CTE, no float): callers
    * splice `nodesSql` (a CTE body yielding `node`) and `edgesSql`
    * (yielding `src, dst`) and consume the final `pr$iters(node, rq)`.
    * Integer ladder identical to the Spark loop, including the exact
    * damping decomposition; every level CAST to BIGINT (sum() is
    * HUGEINT in DuckDB — the round-11 driver-hash divergence class). */
  def pageRankOracleSql(nodesSql: String, edgesSql: String, iters: Int,
      dampingPct: Int = 85): String = {
    val base = (100L - dampingPct) * 1000000000L / 100L
    val levels = (1 to iters).map { i =>
      s"""pr$i AS (SELECT nd.node,
         |    CAST($base + (coalesce(s.s, 0) // 100) * $dampingPct
         |      + ((coalesce(s.s, 0) % 100) * $dampingPct) // 100
         |      AS BIGINT) AS rq
         |  FROM nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rq // d.deg) AS s
         |    FROM pr${i - 1} p JOIN e ON e.src = p.node
         |    JOIN deg d ON d.src = e.src GROUP BY e.dst) s
         |    ON s.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nd AS ($nodesSql),
       |e0 AS ($edgesSql),
       |e AS (SELECT e0.src, e0.dst FROM e0 SEMI JOIN nd ON nd.node = e0.src),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |pr0 AS (SELECT nd.node, CAST(1000000000 AS BIGINT) AS rq FROM nd),
       |$levels""".stripMargin
  }
}
