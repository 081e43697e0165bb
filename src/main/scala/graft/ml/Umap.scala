package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** UMAP-lite for the E2 slot (reference: app.py:661-667 —
  * umap.UMAP(n_components=2, n_neighbors, min_dist=0.1,
  * init='random', random_state=0)). Implements the actual UMAP
  * pipeline from the public paper (McInnes, Healy & Melville 2018,
  * arXiv:1802.03426): exact kNN graph → per-point (ρ_i, σ_i)
  * calibration to log₂(k) fuzzy cardinality → probabilistic t-conorm
  * symmetrization → negative-sampling SGD on the (1 + a·d^{2b})⁻¹
  * low-dimensional kernel. This replaces the classical-MDS substitute
  * as the manifold path: MDS preserves global distances; this
  * preserves the NEIGHBOR graph, which is what separates non-linear
  * structure (the r11 verdict's E2 gap).
  *
  * Determinism: the whole fit is sequential driver code — seeded
  * random init, seeded negative sampling, a fixed edge order — so the
  * embedding is bitwise identical at any parallelism (same contract
  * as pcaLocal/mdsLocal). Exact UMAP-library parity is impossible by
  * construction (the reference's own output is library-version
  * dependent — documented deviation, COVERAGE §2.7), so the contract
  * is the algorithm's own invariants: neighbor-structure preservation
  * (spec: two blobs separate), determinism, and the landmark
  * scale-path agreeing with the exact path when every point is a
  * landmark.
  *
  * Scale: under `gate` the exact O(n²) kNN runs on the driver (the
  * reference regime). At/above it, the landmark path fits UMAP on a
  * seeded bounded sample (the CanonicalFit discipline) and places
  * every remaining point at the softmax-weighted mean of its nearest
  * landmarks' coordinates — one broadcast of (landmark vecs + coords),
  * one map-side pass over the corpus, no shuffle.
  */
object Umap {

  /** Low-d kernel constants fitted for min_dist = 0.1 (the canonical
    * published values for UMAP's default spread = 1.0). */
  private val A = 1.5769434603113077
  private val B = 0.8950608781227859

  /** Indices of the `k` smallest entries of `d`, ascending under the
    * EXACT total order the boxed `zipWithIndex.sortBy((dist, idx))` it
    * replaces used — java.lang.Double.compare on the distance
    * (Ordering.Double.TotalOrdering), ties by ascending index — so the
    * selected set AND its order are bit-identical, minus the O(n)
    * tuple boxing and comparator dispatch per row (r18: JFR put ~70 %
    * of the kNN pass in that sort). O(n·k) primitive insertion. */
  private[ml] def selectSmallest(d: Array[Double], k: Int): Array[Int] = {
    val out = new Array[Int](k)
    var size = 0
    var j = 0
    while (j < d.length) {
      // strictly-less against the current worst admits j; ties on the
      // value lose to the already-present smaller index (j is scanned
      // ascending, so equal values already in `out` have smaller idx)
      if (size < k) {
        var pos = size
        while (pos > 0 && java.lang.Double.compare(d(out(pos - 1)), d(j)) > 0) {
          out(pos) = out(pos - 1); pos -= 1
        }
        out(pos) = j
        size += 1
      } else if (java.lang.Double.compare(d(out(k - 1)), d(j)) > 0) {
        var pos = k - 1
        while (pos > 0 && java.lang.Double.compare(d(out(pos - 1)), d(j)) > 0) {
          out(pos) = out(pos - 1); pos -= 1
        }
        out(pos) = j
      }
      j += 1
    }
    out
  }

  /** Exact driver-side fit. `vecs` row-aligned with `ids`. Returns
    * (id, x, y) in input order. */
  def fitLocal(ids: Array[Long], vecs: Array[Array[Double]],
      nNeighbors: Int = 15, epochs: Int = 200,
      seed: Long = 0L): Array[(Long, Double, Double)] = {
    val n = ids.length
    require(n == vecs.length && n >= 2, s"umap: need >= 2 rows, got $n")
    val k = math.min(nNeighbors, n - 1)
    // exact kNN. Rows are independent, so the O(n²·dim) distance pass
    // runs on a parallel stream — per-row writes into preallocated
    // arrays, no cross-row state, so the result (and everything
    // downstream) stays bitwise deterministic.
    val nbr = Array.ofDim[Int](n, k)
    val nbrD = Array.ofDim[Double](n, k)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      val d = new Array[Double](n)
      var j = 0
      while (j < n) {
        if (j != i) {
          var s = 0.0
          val a = vecs(i); val b = vecs(j)
          var t = 0
          while (t < a.length) { val x = a(t) - b(t); s += x * x; t += 1 }
          d(j) = math.sqrt(s)
        } else d(j) = Double.MaxValue
        j += 1
      }
      val sel = selectSmallest(d, k)
      var t = 0
      while (t < k) { nbr(i)(t) = sel(t); nbrD(i)(t) = d(sel(t)); t += 1 }
    }
    // per-point calibration: rho = nearest distance; sigma solves
    // sum_j exp(-(d_j - rho)/sigma) = log2(k)
    val target = math.log(k.toDouble) / math.log(2.0)
    val rho = Array.tabulate(n)(i2 => nbrD(i2)(0))
    val sigma = Array.tabulate(n) { i2 =>
      var lo = 1e-6; var hi = 1e4
      var it = 0
      while (it < 64) {
        val mid = (lo + hi) / 2
        var s = 0.0
        var t = 0
        while (t < k) {
          s += math.exp(-math.max(0.0, nbrD(i2)(t) - rho(i2)) / mid)
          t += 1
        }
        if (s > target) hi = mid else lo = mid
        it += 1
      }
      (lo + hi) / 2
    }
    // directed memberships -> symmetric edge list (t-conorm w1+w2-w1w2)
    val wDir = new java.util.HashMap[Long, Double]
    var i = 0
    while (i < n) {
      var t = 0
      while (t < k) {
        val j = nbr(i)(t)
        val w = math.exp(-math.max(0.0, nbrD(i)(t) - rho(i)) / sigma(i))
        wDir.put(i.toLong * n + j, w)
        t += 1
      }
      i += 1
    }
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    val it0 = wDir.entrySet().iterator()
    while (it0.hasNext) {
      val e = it0.next()
      val key = e.getKey
      val i2 = (key / n).toInt; val j2 = (key % n).toInt
      if (i2 < j2) {
        val w1 = e.getValue
        val w2r = wDir.get(j2.toLong * n + i2)
        val w2 = if (w2r == null) 0.0 else w2r.doubleValue()
        edges += ((i2, j2, w1 + w2 - w1 * w2))
      } else if (!wDir.containsKey(j2.toLong * n + i2)) {
        // j->i absent: the pair appears only here — emit it
        edges += ((j2, i2, e.getValue))
      }
    }
    val sortedEdges = edges.sortBy { case (a, b2, _) => (a, b2) }.toArray
    // SGD layout
    val rnd = new java.util.Random(seed)
    val pos = Array.fill(n, 2)(rnd.nextDouble() * 20.0 - 10.0) // init='random'
    val maxW = sortedEdges.map(_._3).max
    val epochsPerSample = sortedEdges.map(e => maxW / math.max(e._3, 1e-12))
    val nextEpoch = epochsPerSample.map(identity) // first application
    val negPerPos = 5
    def clip(v: Double): Double = if (v > 4.0) 4.0 else if (v < -4.0) -4.0 else v
    var epoch = 1
    while (epoch <= epochs) {
      val alpha = 1.0 - (epoch - 1).toDouble / epochs
      var e = 0
      while (e < sortedEdges.length) {
        if (nextEpoch(e) <= epoch) {
          val (h, t2, _) = sortedEdges(e)
          val dx = pos(h)(0) - pos(t2)(0)
          val dy = pos(h)(1) - pos(t2)(1)
          val d2 = dx * dx + dy * dy
          if (d2 > 0.0) {
            val g = (-2.0 * A * B * math.pow(d2, B - 1.0)) /
              (1.0 + A * math.pow(d2, B))
            val gx = clip(g * dx) * alpha
            val gy = clip(g * dy) * alpha
            pos(h)(0) += gx; pos(h)(1) += gy
            pos(t2)(0) -= gx; pos(t2)(1) -= gy
          }
          var neg = 0
          while (neg < negPerPos) {
            val r = rnd.nextInt(n)
            if (r != h) {
              val ndx = pos(h)(0) - pos(r)(0)
              val ndy = pos(h)(1) - pos(r)(1)
              val nd2 = ndx * ndx + ndy * ndy
              val g = (2.0 * B) /
                ((0.001 + nd2) * (1.0 + A * math.pow(nd2, B)))
              pos(h)(0) += clip(g * ndx) * alpha
              pos(h)(1) += clip(g * ndy) * alpha
            }
            neg += 1
          }
          nextEpoch(e) += epochsPerSample(e)
        }
        e += 1
      }
      epoch += 1
    }
    Array.tabulate(n)(i2 => (ids(i2), pos(i2)(0), pos(i2)(1)))
  }

  /** DataFrame surface mirroring [[Embedding.mds2d]]: (series_id, x,
    * y). Under `gate` the exact driver fit runs; at/above it the
    * seeded landmark path: fit on `numLandmarks` sampled rows, place
    * the rest at the softmax-weighted mean of their `placeK` nearest
    * landmarks' coordinates (temperature = mean landmark ρ, a scale
    * the calibration already computed). */
  def umap2d(series: DataFrame, nNeighbors: Int = 15, epochs: Int = 200,
      seed: Long = 0L, gate: Long = 5000L,
      numLandmarks: Int = 1024): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val local = Gate.seriesBelow(series, gate)
    if (local.isDefined) {
      val out = fitLocal(local.get.map(_._1), local.get.map(_._2),
        nNeighbors, epochs, seed)
      return out.toSeq.toDF("series_id", "x", "y")
    }
    // landmark path: seeded deterministic sample by xxhash64 rank —
    // partitioning-independent, no driver shuffle of the full corpus
    val ranked = series.select(col("series_id").cast("long").as("series_id"),
      col("values"), xxhash64(col("series_id"), lit(seed)).as("__r"))
    val land = ranked.orderBy(col("__r"), col("series_id")).limit(numLandmarks)
      .select(col("series_id"), col("values"))
      .as[(Long, Array[Double])].collect()
      .sortBy(_._1)
    val fitted = fitLocal(land.map(_._1), land.map(_._2), nNeighbors, epochs, seed)
    val coords = fitted.map { case (id, x, y) => id -> (x, y) }.toMap
    val bcLand = spark.sparkContext.broadcast(land.map(_._2))
    val bcCoord = spark.sparkContext.broadcast(land.map(r => coords(r._1)))
    val placeK = math.min(nNeighbors, land.length)
    // placement: landmarks keep their fitted coords (exact, via the
    // broadcast join); others get the softmax-weighted mean of their
    // placeK nearest landmarks
    val placeUdf = udf((v: Array[Double]) => {
      val lv = bcLand.value
      val lc = bcCoord.value
      val va = v
      val d = new Array[Double](lv.length)
      var i2 = 0
      while (i2 < lv.length) {
        var s = 0.0
        val b = lv(i2)
        var t = 0
        while (t < va.length) { val x = va(t) - b(t); s += x * x; t += 1 }
        d(i2) = math.sqrt(s)
        i2 += 1
      }
      // same selection order as the sort it replaces, so the dMin /
      // temperature / weighted-mean folds below accumulate in the
      // identical sequence (bit-equal placement)
      val sel = selectSmallest(d, placeK)
      val dMin = d(sel(0))
      var dSum = 0.0
      var t2 = 0
      while (t2 < placeK) { dSum += d(sel(t2)); t2 += 1 }
      val temp = math.max(1e-9, dSum / placeK * 0.5)
      var wx = 0.0; var wy = 0.0; var wSum = 0.0
      t2 = 0
      while (t2 < placeK) {
        val j2 = sel(t2)
        val w = math.exp(-(d(j2) - dMin) / temp)
        wx += w * lc(j2)._1; wy += w * lc(j2)._2; wSum += w
        t2 += 1
      }
      (wx / wSum, wy / wSum)
    })
    val landDf = fitted.toSeq.toDF("series_id", "__lx", "__ly")
    series.select(col("series_id").cast("long").as("series_id"), col("values"))
      .join(broadcast(landDf), Seq("series_id"), "left")
      .withColumn("__p", placeUdf(col("values")))
      .select(col("series_id"),
        coalesce(col("__lx"), col("__p._1")).as("x"),
        coalesce(col("__ly"), col("__p._2")).as("y"))
  }
}
