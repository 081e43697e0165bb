package graft.ml

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** IVF approximate nearest-neighbor search ([EXT] similarity scale
  * path): a KMeans coarse quantizer (nlist centroids, seeded) buckets
  * the corpus; each query probes only its nprobe nearest centroids'
  * buckets, then ranks candidates by exact cosine.
  *
  * Scale design: the corpus scan becomes an equi-join on centroid_id —
  * a bucket-pruned fraction (~nprobe/nlist) of the corpus per query —
  * instead of the full cross product. Centroids (nlist × dim doubles)
  * are broadcast. Vectors are L2-normalized before quantization so
  * euclidean cells approximate cosine neighborhoods.
  */
object Ivf {

  /** Dedicated bounded daemon pool for the PQ sub-fits: the build runs
    * while holding the global Memo monitor, so a wedged fit on the
    * shared global ExecutionContext could starve every other
    * Memo.cached caller in the JVM (ADVICE r8). 8 threads bounds
    * concurrent fit jobs; daemon threads never block JVM exit. */
  private lazy val pqFitEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => {
          val t = new Thread(r, "pq-subfit"); t.setDaemon(true); t
        }))

  /** NOTE on `queryPred`'s column contract: the predicate is resolved
    * against the memoized IVF index frame, which carries ONLY
    * (`idCol`, `vn` — the L2-normalized vector — , `centroid_id`).
    * Predicates over the raw vector column or other input columns are
    * not in scope; filter `emb` before calling if you need them. */
  /** Build (or fetch memoized) the IVF index: the frame
    * (idCol, vn, centroid_id) plus the fitted centroids.
    *
    * The index — normalized vectors + their centroid assignment — is
    * built once and probed by every subsequent search (that is the
    * production shape: index build is offline, probes are the query
    * path). Memoized per (session, input plan, nlist, seed) like the
    * other ML fits, with the centroids (nlist × dim doubles) paired
    * with the entry; the repeated-search cost is the bucket-pruned
    * join only, never a re-fit. */
  private def indexed(emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long): (DataFrame, Array[Array[Double]]) = {
    val spark = emb.sparkSession
    graft.queries.Memo.cachedWith(spark, "ivf", Seq(emb), nlist, seed, idCol, vecCol) {
      val e = graft.ext.Similarity.prep(emb, idCol, vecCol)
        .withColumn("vn", transform(col("v"), x => x / col("nrm")))
      val withVec = e.withColumn("__f", array_to_vector(col("vn")))
      val model = new KMeans().setK(nlist).setSeed(seed)
        .setFeaturesCol("__f").setPredictionCol("centroid_id").fit(withVec)
      val centers = model.clusterCenters.map(_.toArray)
      // assignment goes through assignWith's argmin — the probe's own
      // squared-distance fold — not MLlib's model.transform distance
      // path, whose norm-trick rounding can diverge from the plain fold
      // on near-ties. One argmin means a vector's cell is always the
      // first cell its own nprobe = 1 probe reads.
      (assignWith(emb, idCol, vecCol, centers), centers)
    }
  }

  /** nprobe-nearest-centroid prober over the broadcast centroids. */
  private def probeUdf(spark: org.apache.spark.sql.SparkSession,
      centers: Array[Array[Double]], nprobe: Int) = {
    val bc = spark.sparkContext.broadcast(centers)
    udf((vn: Array[Double]) => {
      val cs = bc.value
      cs.indices.map { c =>
        var d = 0.0; var i = 0
        while (i < vn.length) { val t = vn(i) - cs(c)(i); d += t * t; i += 1 }
        (c, d)
      }.sortBy(_._2).take(nprobe).map(_._1).toArray
    })
  }

  def topK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, k: Int, nlist: Int, nprobe: Int,
      seed: Long = 42): DataFrame = {
    val (bucketed, centers) = indexed(emb, idCol, vecCol, nlist, seed)
    probeAndRank(bucketed, centers, idCol, queryPred, k, nprobe)
  }

  /** Bounded cell pruning shared by every probe join (plain, int8,
    * PQ): materialize the probe side once, collect
    * its distinct probed cell ids (query-sized, capped at
    * `maxPrunedCells`), and push them as an `isin` on the index side
    * — partition pruning over a saved index ([[saveIndex]]), a pushed
    * filter elsewhere; untouched inverted lists are never read. Past the
    * cap the filter is skipped and the equi-join alone confines the
    * pairing. Returns (materialized queries, pruned index); results
    * are identical with or without the filter — only I/O changes. */
  private def pruneToCells(index: DataFrame, queriesRaw: DataFrame,
      maxPrunedCells: Int = 4096): (DataFrame, DataFrame) = {
    val queries = queriesRaw.localCheckpoint()
    val cells = queries.select(col("centroid_id")).distinct()
      .limit(maxPrunedCells + 1).collect().map(_.getInt(0))
    val pruned =
      if (cells.length > maxPrunedCells) index
      else index.filter(col("centroid_id").isin(cells.map(Int.box): _*))
    (queries, pruned)
  }

  /** The probe tail over an ALREADY-BUCKETED index frame
    * (idCol, vn, centroid_id) and its centers — shared by [[topK]]
    * and [[topKFromSaved]].
    *
    * Reads only the probed inverted lists via [[pruneToCells]] —
    * an IVF probe that scans the whole index defeats the coarse
    * quantizer; the pruning changes I/O, never results. */
  private def probeAndRank(bucketed: DataFrame, centers: Array[Array[Double]],
      idCol: String, queryPred: String, k: Int, nprobe: Int,
      maxPrunedCells: Int = 4096): DataFrame = {
    val spark = bucketed.sparkSession
    GraftFunctions.register(spark)
    val probe = probeUdf(spark, centers, nprobe)
    val (queries, index) = pruneToCells(bucketed,
      bucketed.filter(expr(queryPred))
        .select(col(idCol).as("q_id"), col("vn").as("qv"),
          explode(probe(col("vn"))).as("centroid_id")),
      maxPrunedCells)
    val scored = queries.join(index, "centroid_id")
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"),
        call_function("array_dot", col("qv"), col("vn")).as("cosine"))
    graft.ext.Similarity.rankTopK(scored, k)
  }

  /** ONE-PASS recall-curve probe (r17): per-query candidates from the
    * `probes.max` nearest cells, each carrying its CELL RANK, then one
    * bounded top-k per requested nprobe over the rank-prefix of that
    * single candidate set. Because [[probeUdf]]'s cell list is sorted
    * by distance, the cells probed at nprobe = p are EXACTLY the first
    * p entries of the list probed at probes.max — nested prefixes — so
    * each per-p top-k here equals [[topK]](..., nprobe = p) row for
    * row (same scoring expression, same [[graft.ext.Similarity.aggTopK]]
    * ordering), while the fit, the probe explode, the cell-pruned
    * index join and the scoring run ONCE instead of once per point.
    * Output: (nprobe, q_id, n_id). The curve query's five topK calls
    * (~20 jobs) collapse to one probe + one union job. */
  private[graft] def topKCurve(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, k: Int, nlist: Int, probes: Seq[Int],
      seed: Long = 42): DataFrame = {
    require(probes.nonEmpty && probes.forall(p => p >= 1 && p <= nlist),
      s"probes must be within 1..nlist, got $probes")
    val (bucketed, centers) = indexed(emb, idCol, vecCol, nlist, seed)
    val spark = bucketed.sparkSession
    GraftFunctions.register(spark)
    val probe = probeUdf(spark, centers, probes.max)
    val (queries, index) = pruneToCells(bucketed,
      bucketed.filter(expr(queryPred))
        .select(col(idCol).as("q_id"), col("vn").as("qv"),
          posexplode(probe(col("vn"))).as(Seq("__cellrank", "centroid_id"))))
    // materialize the scored candidate superset once (localCheckpoint,
    // the pruneToCells discipline) so the per-nprobe top-k union does
    // not re-run the probe join per point
    val scored = queries.join(index, "centroid_id")
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col("__cellrank"), col(idCol).as("n_id"),
        call_function("array_dot", col("qv"), col("vn")).as("cosine"))
      .localCheckpoint()
    probes.map { p =>
      graft.ext.Similarity.aggTopK(
          scored.filter(col("__cellrank") < p).drop("__cellrank"),
          k, "cosine", asc = false)
        .select(lit(p).as("nprobe"), col("q_id"), col("n_id"))
    }.reduce(_ unionAll _)
  }

  /** Map-side assignment of vectors to fitted centers (nearest
    * centroid = nprobe-1 probe over the broadcast center array).
    * Output (idCol, vn, centroid_id) — [[indexed]]'s frame shape, so
    * the probe tail is shared. */
  private def assignWith(emb: DataFrame, idCol: String, vecCol: String,
      centers: Array[Array[Double]]): DataFrame = {
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val probe = probeUdf(spark, centers, 1)
    graft.ext.Similarity.prep(emb, idCol, vecCol)
      .withColumn("vn", transform(col("v"), x => x / col("nrm")))
      .select(col(idCol), col("vn"),
        element_at(probe(col("vn")), 1).as("centroid_id"))
  }

  /** Production ANN composition: int8-quantized scoring INSIDE the IVF
    * probe, exact re-rank on the survivors. The probed cells' candidate
    * vectors are scored with the per-dim int8 grid (the same
    * floor(x·127/s + 0.5) scheme as [[graft.ext.Similarity.quantizedTopK]],
    * here over the L2-normalized vectors), the top `rerank` per query
    * by quantized score survive, and ONLY those are re-scored with the
    * exact cosine — computed with the identical expression shape as
    * [[graft.ext.Similarity.bruteForceTopK]] (raw-vector dot / norm
    * product), so when the candidate pool covers the true top-k the
    * output is bitwise the brute-force answer.
    *
    * Scale story (the reason real ANN stacks do this): the quantized
    * codebook is 4× smaller than fp32, so 4× more candidates fit in
    * memory/page-cache during the probe; the expensive exact dot runs
    * on ≤ rerank rows per query, not on every candidate in the probed
    * cells. Scales are one 64-double literal; the exact re-rank is two
    * id-equi-joins against the prep frame — no full-corpus work after
    * the probe. Deterministic end-to-end: seeded KMeans, all ranks
    * tie-broken by neighbor id. */
  def quantizedTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, k: Int, nlist: Int, nprobe: Int, rerank: Int,
      seed: Long = 42): DataFrame = {
    require(rerank >= k, s"rerank pool $rerank must be >= k=$k")
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val (bucketed, centers) = indexed(emb, idCol, vecCol, nlist, seed)
    val probe = probeUdf(spark, centers, nprobe)

    // int8 codes for the index frame, memoized beside it (same build
    // discipline: codes are part of the offline index, not query work)
    val coded = graft.queries.Memo.cached(spark, "ivfq", Seq(emb), nlist, seed, idCol, vecCol) {
      val scales = bucketed.select(posexplode(col("vn")).as(Seq("i", "x")))
        .groupBy("i").agg(max(abs(col("x"))).as("s"))
        .orderBy("i").select("s").collect().map(_.getDouble(0))
      bucketed.withColumn("__s", typedLit(scales.toSeq))
        .withColumn("code", expr(
          """transform(vn, (x, i) -> CASE WHEN __s[i] = 0 THEN 0.0D
            |  ELSE floor(x / __s[i] * 127 + 0.5) * __s[i] / 127 END)""".stripMargin))
        .drop("__s")
    }

    val (queries, codedPruned) = pruneToCells(coded,
      coded.filter(expr(queryPred))
        .select(col(idCol).as("q_id"), col("vn"),
          col("code").as("q_code"))
        .select(col("q_id"), col("q_code"),
          explode(probe(col("vn"))).as("centroid_id")))

    // quantized pre-rank: candidates in the probed cells (cell-pruned
    // read), scored on the int8 codes only; keep the top `rerank` per query
    val cand = queries.join(codedPruned, "centroid_id")
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"),
        call_function("array_dot", col("q_code"), col("code")).as("q_score"))
    val pool = graft.ext.Similarity.aggTopK(cand, rerank, "q_score",
      asc = false).select("q_id", "n_id")

    exactRerank(pool, emb, idCol, vecCol, k)
  }

  /** Exact cosine re-rank of a (q_id, n_id) candidate pool — the
    * identical expression shape as bruteForceTopK, so a pool covering
    * the true top-k yields bitwise the brute-force answer. Shared by
    * the int8 and PQ compositions; `band` restricts to a cosine
    * interval [lo, hi) BEFORE ranking (the hard-negative contract). */
  private def exactRerank(pool: DataFrame, emb: DataFrame, idCol: String,
      vecCol: String, k: Int,
      band: Option[(Double, Double)] = None): DataFrame = {
    val e = graft.ext.Similarity.prep(emb, idCol, vecCol)
    val scored0 = pool
      .join(e.select(col(idCol).as("q_id"), col("v").as("q_v"), col("nrm").as("q_n")), "q_id")
      .join(e.select(col(idCol).as("n_id"), col("v").as("n_v"), col("nrm").as("n_n")), "n_id")
      .select(col("q_id"), col("n_id"),
        (call_function("array_dot", col("q_v"), col("n_v"))
          / (col("q_n") * col("n_n"))).as("cosine"))
    val scored = band match {
      case Some((lo, hi)) =>
        scored0.filter(col("cosine") >= lo && col("cosine") < hi)
      case None => scored0
    }
    graft.ext.Similarity.rankTopK(scored, k)
  }

  /** Hard-negative mining over the IVF index — the scale path
    * [[graft.ext.Similarity.hardNegatives]]'s scaladoc promises
    * (candidates from the probed cells, band filter applied to the
    * candidates, identical downstream shape): each query pairs only
    * with residents of its nprobe nearest cells, then the SURVIVORS
    * are scored with the exact raw-vector cosine (the identical
    * expression as the exact operator), band-filtered, and ranked
    * through the shared bounded top-k. With a full probe
    * (nprobe == nlist) the candidate set is the whole corpus, so the
    * output is BITWISE the exact operator's — the oracle pin; a
    * pruned probe trades recall for reading only nprobe/nlist of the
    * corpus, the production regime (negatives near the query's cells
    * are exactly the informative ones — far-cell vectors score below
    * loSim anyway). */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, k: Int, nlist: Int, nprobe: Int,
      loSim: Double, hiSim: Double, seed: Long = 42): DataFrame = {
    require(loSim < hiSim, s"need loSim < hiSim, got [$loSim, $hiSim)")
    val (bucketed, centers) = indexed(emb, idCol, vecCol, nlist, seed)
    val spark = bucketed.sparkSession
    GraftFunctions.register(spark)
    val probe = probeUdf(spark, centers, nprobe)
    val (queries, index) = pruneToCells(bucketed,
      bucketed.filter(expr(queryPred))
        .select(col(idCol).as("q_id"),
          explode(probe(col("vn"))).as("centroid_id")))
    // a corpus vector lives in exactly ONE cell, so the (query-cell ×
    // residents) join yields each (q, n) pair at most once — no dedup
    val pool = queries.join(index.select(col(idCol), col("centroid_id")),
        "centroid_id")
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"))
    exactRerank(pool, emb, idCol, vecCol, k, band = Some((loSim, hiSim)))
  }

  /** Persist the fitted IVF index as an on-disk artifact: the
    * inverted lists as parquet PARTITIONED BY centroid_id plus the
    * centers as a tiny parquet table. This is the production
    * offline/online split — the index is built once (batch, the
    * expensive KMeans + assignment) and SERVED from disk by any later
    * job/JVM; and because each inverted list is a partition directory,
    * [[pruneToCells]]'s probed-cell `isin` becomes genuine PARTITION
    * PRUNING on the serving scan: untouched inverted lists are never
    * even opened (IvfSpec pins `PartitionFilters` on the loaded-probe
    * plan). Layout: per-centroid dirs under `$path/lists`, the
    * centers table under `$path/centers`. */
  def saveIndex(emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long, path: String): Unit = {
    val (bucketed, centers) = indexed(emb, idCol, vecCol, nlist, seed)
    // r17: shuffle onto the list key before the partitioned write —
    // one writer per inverted list instead of every scan task opening
    // a writer per cell it happens to hold (guide §6; same fix as the
    // compaction/prune artifacts). Probe results are layout-invariant.
    bucketed.repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$path/lists")
    val spark = emb.sparkSession
    import spark.implicits._
    centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centers")
  }

  /** Probe a [[saveIndex]] artifact: load the centers (metadata-sized
    * collect) and run the SHARED probe tail over the partitioned
    * lists. Bitwise the in-memory [[topK]] for the same build inputs —
    * the artifact round-trips doubles exactly and the probe tail is
    * one code path. */
  def topKFromSaved(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, queryPred: String, k: Int, nprobe: Int): DataFrame = {
    val lists = spark.read.parquet(s"$path/lists")
    val centers = spark.read.parquet(s"$path/centers")
      .orderBy("centroid_id").collect()
      .map(r => r.getSeq[Double](1).toArray)
    probeAndRank(lists, centers, idCol, queryPred, k, nprobe)
  }

  /** The index frame with the table's NON-vector columns riding the
    * inverted lists (one id-equi-join at index-BUILD time, memoized
    * with the index): the attribute sidecar every filtered search
    * probes. At 100 TB this is the offline half of index maintenance
    * — metadata lands next to (vn, centroid_id) once, so a query-time
    * filter is a pushed predicate on the inverted-list scan, never a
    * second corpus-sized join on the query path. */
  private def attributedIndex(emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long): (DataFrame, Array[Array[Double]]) = {
    val (bucketed, centers) = indexed(emb, idCol, vecCol, nlist, seed)
    val spark = emb.sparkSession
    val attributed = graft.queries.Memo.cached(spark, "ivfattr", Seq(emb),
        nlist, seed, idCol, vecCol)(
      bucketed.join(emb.drop(vecCol), Seq(idCol)))
    (attributed, centers)
  }

  /** Filtered ANN search — the vector-DB "metadata filter" composition
    * (FAISS IDSelector / payload-filter pre-filtering): approximate
    * top-k where the NEIGHBOR side is restricted to rows satisfying
    * `corpusPred`, a predicate over the table's non-vector columns
    * (label, source, recency…). Queries come from the FULL table via
    * `queryPred` — a query need not satisfy the corpus filter.
    *
    * This is PRE-filtering: the predicate evaluates inside the probed
    * inverted-list scan ([[attributedIndex]]'s sidecar makes the
    * columns available there), so ranking happens over the filtered
    * candidates and every query still surfaces k survivors — the shape
    * that stays correct when the filter is selective, where
    * post-filtering a top-k would return fewer than k (or nothing).
    * Survivors are scored with the exact raw-vector cosine through the
    * shared [[exactRerank]] tail, so with a full probe
    * (nprobe == nlist) the output is BITWISE the filtered brute-force
    * answer — the oracle pin; a pruned probe reads only the probed
    * cells' filtered residents, the production regime.
    *
    * Scale: cell pruning ([[pruneToCells]]) composes with the metadata
    * predicate — both push down to the index scan, so I/O is
    * (nprobe/nlist) × filter-selectivity of the corpus; the rerank
    * pool ships through the bounded top-k aggregation, never a window
    * over all scored pairs. */
  def filteredTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, corpusPred: String, k: Int, nlist: Int,
      nprobe: Int, seed: Long = 42): DataFrame = {
    val (attributed, centers) = attributedIndex(emb, idCol, vecCol, nlist, seed)
    val spark = attributed.sparkSession
    GraftFunctions.register(spark)
    val probe = probeUdf(spark, centers, nprobe)
    val (queries, index) = pruneToCells(attributed,
      attributed.filter(expr(queryPred))
        .select(col(idCol).as("q_id"),
          explode(probe(col("vn"))).as("centroid_id")))
    val pool = queries.join(
        index.filter(expr(corpusPred)).select(col(idCol), col("centroid_id")),
        "centroid_id")
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"))
    exactRerank(pool, emb, idCol, vecCol, k)
  }

  /** IVF-PQ: PRODUCT-quantized ADC scoring inside the IVF probe, exact
    * re-rank on the survivors — the FAISS-style IVFPQ production shape
    * (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    * Search", IEEE TPAMI 2011 — public paper; [EXT], no reference
    * counterpart).
    *
    * The normalized vector splits into `mSub` contiguous subvectors;
    * each subspace gets its own seeded ksub-centroid codebook (fit on
    * [[CanonicalFit]]'s bounded sample — deterministic at any
    * parallelism, flat in corpus size), and a vector's code is its
    * per-subspace nearest-centroid ids: mSub·log2(ksub) BITS per
    * vector (8×16 over 64 dims = 32 bits vs 512 bytes fp64 — the
    * compression that lets a 100-TB corpus's index live in memory,
    * where int8's fixed 4× cannot).
    *
    * Scoring is ADC (asymmetric distance computation): the query stays
    * full-precision and precomputes one mSub×ksub lookup table of
    * subspace dots against the codebook literal; each candidate's
    * approximate dot is then an ordered fold of mSub table lookups —
    * `aggregate(zip_with(code, sequence, ...), …)` over the broadcast
    * LUT column, whole-stage-codegen'd, no UDF in the probe path (the
    * one UDF is the offline ENCODER, a per-row argmin at index-build
    * time). Candidates come from the probed IVF cells only; the top
    * `rerank` per query by ADC score are re-scored with the exact
    * brute-force cosine, so when the pool covers the true top-k the
    * output is bitwise the brute-force answer. Deterministic
    * end-to-end: seeded fits on canonical layout, encoder argmin ties
    * to the smaller centroid id, ADC fold ordered by subspace, ranks
    * tie-broken by neighbor id. */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: String, k: Int, nlist: Int, nprobe: Int, rerank: Int,
      mSub: Int = 8, ksub: Int = 16, seed: Long = 42): DataFrame = {
    require(rerank >= k, s"rerank pool $rerank must be >= k=$k")
    require(mSub > 0 && ksub > 1, s"need mSub > 0, ksub > 1; got $mSub/$ksub")
    val spark = emb.sparkSession
    GraftFunctions.register(spark)
    val (bucketed, centers) = indexed(emb, idCol, vecCol, nlist, seed)
    val probe = probeUdf(spark, centers, nprobe)

    // offline index artifact: per-subspace codebooks + per-vector codes,
    // memoized beside the IVF index (same build discipline), the
    // codebooks (mSub × ksub × dsub doubles) paired with the codes
    val (coded, books) = graft.queries.Memo.cachedWith(spark, "pq", Seq(emb),
        nlist, mSub, ksub, seed, idCol, vecCol) {
      val dimRow = bucketed.agg(min(size(col("vn"))).as("mn"),
        max(size(col("vn"))).as("mx")).head()
      // empty input aggregates min/max to null — fail with a named
      // error instead of an NPE inside the Memo build (ADVICE r8)
      require(!dimRow.isNullAt(0),
        "pqTopK: empty embeddings input — nothing to index")
      val dim = dimRow.getInt(0)
      require(dim == dimRow.getInt(1),
        s"embedding dims not uniform: $dim vs ${dimRow.getInt(1)}")
      require(dim % mSub == 0, s"dim $dim not divisible by mSub=$mSub")
      val dsub = dim / mSub
      // cache the bounded sample once: all mSub sub-fits read it
      val fitIn = CanonicalFit.fitInput(bucketed, idCol, seed).cache()
      // the mSub sub-fits are independent seeded jobs over a 1024-row
      // frame — launch them concurrently (driver-side futures; Spark
      // schedules concurrent jobs fine) so index build pays one fit's
      // latency, not mSub of them. Future.sequence preserves subspace
      // order, each fit is seeded: deterministic. They run on a
      // DEDICATED bounded pool — this build holds the global Memo
      // monitor, so a wedged fit on the shared global pool could
      // starve every other Memo.cached caller (ADVICE r8); try/finally
      // guarantees the cached sample is released even when a fit throws.
      import scala.concurrent.{Await, Future}
      implicit val ec: scala.concurrent.ExecutionContext = pqFitEc
      val books: Array[Array[Array[Double]]] =
        try Await.result(
          Future.sequence((0 until mSub).map { m => Future {
            val sub = fitIn.select(array_to_vector(
              slice(col("vn"), m * dsub + 1, dsub)).as("__f"))
            val cs = new KMeans().setK(ksub).setSeed(seed + 31 * m)
              .setFeaturesCol("__f").setPredictionCol("__c").fit(sub)
              .clusterCenters.map(_.toArray)
            // KMeans returns FEWER than ksub centers when the sample has
            // fewer distinct subvectors (a constant/padded subspace —
            // common in padded embedding layouts). The m·ksub+c
            // flattening and the ADC LUT indexing assume exactly ksub
            // entries per subspace, so PAD with copies of center 0:
            // duplicates never win the encoder's strict-< argmin, codes
            // never reference a pad, and the flattening stays aligned.
            if (cs.length < ksub) cs ++ Array.fill(ksub - cs.length)(cs(0))
            else cs
          }}),
          // finite deadline with a named failure beats an infinite hang
          // holding the Memo monitor if a fit job wedges
          scala.concurrent.duration.Duration(10, "min")).toArray
        finally fitIn.unpersist()
      val bc = spark.sparkContext.broadcast(books)
      // the offline ENCODER: per-row per-subspace argmin against the
      // broadcast codebooks; strict < ties to the smaller centroid id
      val enc = udf((vn: Array[Double]) => {
        val bs = bc.value
        val ds = vn.length / bs.length
        Array.tabulate(bs.length) { m =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < bs(m).length) {
            var d = 0.0; var i = 0
            while (i < ds) { val t = vn(m * ds + i) - bs(m)(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          best
        }
      })
      (bucketed.withColumn("pq_code", enc(col("vn"))), books)
    }
    val dsub = books(0)(0).length
    // flattened codebook literal: entry m·ksub + c = centroid subvector
    val bookLit = typedLit(books.flatMap(_.map(_.toSeq)).toSeq)

    // per-query ADC lookup table: dot of query subvector (i / ksub)
    // against codebook entry i — one mSub×ksub array per query row
    val lut = transform(bookLit, (cb, i) =>
      aggregate(
        zip_with(
          slice(col("vn"), (i / lit(ksub)).cast("int") * dsub + lit(1), lit(dsub)),
          cb, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x))
    val (queries, codedPruned) = pruneToCells(coded,
      coded.filter(expr(queryPred))
        .select(col(idCol).as("q_id"), col("vn"))
        .withColumn("__lut", lut)
        .select(col("q_id"), col("__lut"),
          explode(probe(col("vn"))).as("centroid_id")))

    // ADC pre-rank: candidates in the probed cells (cell-pruned read),
    // scored by mSub ordered table lookups; keep the top `rerank` per query
    val cand = queries
      .join(codedPruned.select(col(idCol), col("pq_code"), col("centroid_id")),
        "centroid_id")
      .filter(col("q_id") =!= col(idCol))
      .select(col("q_id"), col(idCol).as("n_id"),
        aggregate(
          zip_with(col("pq_code"), sequence(lit(0), lit(mSub - 1)), (c, m) =>
            element_at(col("__lut"), m * lit(ksub) + c + lit(1))),
          lit(0.0), (acc, x) => acc + x).as("q_score"))
    val pool = graft.ext.Similarity.aggTopK(cand, rerank, "q_score",
      asc = false).select("q_id", "n_id")

    exactRerank(pool, emb, idCol, vecCol, k)
  }
}
