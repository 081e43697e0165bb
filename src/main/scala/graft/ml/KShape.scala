package graft.ml

import breeze.linalg.{eigSym, DenseMatrix}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C3: K-Shape clustering, implemented from the public SIGMOD'15 paper
  * (Paparrizos & Gravano, "k-Shape: Efficient and Accurate Clustering
  * of Time Series") — the reference calls a kshape library on the 2-D
  * embedding and is in fact broken as written (app.py:731-737 imports
  * the module and calls it; SURVEY.md §2.8 C3).
  *
  * Distance: SBD(x,y) = 1 − max_w NCCc_w(x,y). Shape extraction: the
  * max eigenvector of Q·M·Q with M = Σ aligned·alignedᵀ and
  * Q = I − 11ᵀ/m.
  *
  * Scale design (MLlib-KMeans-shaped): centroids (k×m doubles) are
  * broadcast; assignment is a map-side pass; refinement aggregates one
  * m×m Gram matrix per cluster (groupByKey + streamed fold — memory is
  * O(m²) per cluster, independent of member count); the k small Gram
  * matrices come to the driver for an eigendecomposition. Per-pair NCC
  * uses the paper's FFT correlation (O(m log m)) for series ≥ 128
  * points and the direct O(m²) loop below that crossover.
  */
object KShape {

  def znorm(x: Array[Double]): Array[Double] = {
    val m = x.sum / x.length
    val sd = math.sqrt(x.map(v => (v - m) * (v - m)).sum / x.length)
    if (sd == 0) x.map(_ - m) else x.map(v => (v - m) / sd)
  }

  private def norm2(x: Array[Double]): Double = math.sqrt(x.map(v => v * v).sum)

  /** Direct-form switchover: below this length the O(m²) loop beats
    * the FFT's constant factor (3 complex transforms + boxing). */
  private val FftMinLen = 128

  /** Cross-correlation at every shift s ∈ [-(m-1), m-1], returned as an
    * array indexed s + m − 1. Direct O(m²) form. */
  private[graft] def ccDirect(x: Array[Double], y: Array[Double]): Array[Double] = {
    val m = x.length
    val out = new Array[Double](2 * m - 1)
    var s = -(m - 1)
    while (s <= m - 1) {
      var cc = 0.0
      var i = math.max(0, -s)
      val end = math.min(m, m - s)
      while (i < end) { cc += x(i + s) * y(i); i += 1 }
      out(s + m - 1) = cc
      s += 1
    }
    out
  }

  /** Same correlation via FFT in O(m log m) (Paparrizos & Gravano §3.2:
    * NCC is the paper's own FFT-based step): zero-pad to the next power
    * of two ≥ 2m, CC = IFFT(FFT(x)·conj(FFT(y))); negative shifts wrap
    * to the tail of the circular result. */
  private[graft] def ccFft(x: Array[Double], y: Array[Double]): Array[Double] = {
    import breeze.linalg.DenseVector
    import breeze.signal.{fourierTr, iFourierTr}
    val m = x.length
    var n = 1
    while (n < 2 * m) n <<= 1
    def pad(a: Array[Double]) = DenseVector(java.util.Arrays.copyOf(a, n))
    val fx = fourierTr(pad(x))
    val fy = fourierTr(pad(y))
    val prod = DenseVector.tabulate(n)(i => fx(i) * fy(i).conjugate)
    val cc = iFourierTr(prod)
    val out = new Array[Double](2 * m - 1)
    var s = -(m - 1)
    while (s <= m - 1) {
      out(s + m - 1) = cc((s + n) % n).real
      s += 1
    }
    out
  }

  /** Max normalized cross-correlation over all shifts + argmax shift
    * (ascending-shift scan, strict >: ties pick the lowest shift). */
  def nccMax(x: Array[Double], y: Array[Double]): (Double, Int) = {
    val m = x.length
    val den = norm2(x) * norm2(y)
    if (den == 0) return (0.0, 0)
    val cc = if (m >= FftMinLen) ccFft(x, y) else ccDirect(x, y)
    var best = Double.NegativeInfinity
    var bestS = 0
    var s = -(m - 1)
    while (s <= m - 1) {
      val v = cc(s + m - 1) / den
      if (v > best) { best = v; bestS = s }
      s += 1
    }
    (best, bestS)
  }

  def sbd(x: Array[Double], y: Array[Double]): Double = 1.0 - nccMax(x, y)._1

  /** Shift x by s with zero fill (align x to the reference that
    * produced s via nccMax(x, ref)). */
  def shifted(x: Array[Double], s: Int): Array[Double] = {
    val out = Array.fill(x.length)(0.0)
    var i = 0
    while (i < x.length) {
      val j = i - s
      if (j >= 0 && j < x.length) out(j) = x(i)
      i += 1
    }
    out
  }

  /** Shape extraction: max eigenvector of Q·M·Q (Q = I − 11ᵀ/m) with
    * deterministic sign (max-|·| element positive), z-normalized.
    * Q·M·Q is computed by double-centering (M[i,j] − rowMean[i] −
    * colMean[j] + totalMean) — O(m²), vs the two O(m³) dense multiplies
    * of the literal form; M is symmetric (a sum of outer products), so
    * the centered matrix is exactly symmetric and feeds eigSym directly. */
  private def extractShape(gram: Array[Double], m: Int): Array[Double] = {
    val rowMean = new Array[Double](m)
    var i = 0
    while (i < m) {
      var s = 0.0; var j = 0
      while (j < m) { s += gram(i * m + j); j += 1 }
      rowMean(i) = s / m
      i += 1
    }
    val totalMean = rowMean.sum / m
    val centered = new Array[Double](m * m)
    i = 0
    while (i < m) {
      var j = 0
      while (j < m) {
        centered(i * m + j) = gram(i * m + j) - rowMean(i) - rowMean(j) + totalMean
        j += 1
      }
      i += 1
    }
    val es = eigSym(new DenseMatrix(m, m, centered))
    val top = es.eigenvectors(::, es.eigenvalues.length - 1).toArray
    val idx = top.indices.maxBy(i => math.abs(top(i)))
    znorm(if (top(idx) < 0) top.map(-_) else top)
  }

  private def addOuter(g: Array[Double], a: Array[Double], m: Int): Unit = {
    var i = 0
    while (i < m) {
      var j = 0
      while (j < m) { g(i * m + j) += a(i) * a(j); j += 1 }
      i += 1
    }
  }

  private def argminSbd(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = sbd(v, cents(c))
      if (d < bestD - 1e-12) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** Driver-local fit for the reference regime (SURVEY.md §7.5 #4) —
    * identical algorithm, no per-iteration job overhead. Refinement
    * parallelizes across CLUSTERS and assignment across fixed index
    * chunks (each cluster's Gram is accumulated sequentially in member
    * order and chunk results are concatenated in order, so labels are
    * bitwise identical to the sequential form). */
  private def localFit(data: Array[(Long, Array[Double])], k: Int,
      maxIter: Int): Array[(Long, Int)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val m = data.head._2.length
    val z = data.map { case (id, v) => (id, znorm(v)) }
    var labels = z.map { case (id, _) => (id % k).toInt }
    var centroids = Array.fill(k)(Array.fill(m)(0.0))
    val chunk = math.max(1, z.length / math.max(1, Runtime.getRuntime.availableProcessors()))
    var iter = 0
    while (iter < maxIter) {
      val cur = centroids
      val refined = (0 until k).map { c => Future {
        val members = z.indices.filter(labels(_) == c)
        if (members.isEmpty) None
        else {
          val zeroCent = cur(c).forall(_ == 0.0)
          val g = Array.fill(m * m)(0.0)
          members.foreach { i =>
            val v = z(i)._2
            val a = if (zeroCent) v else shifted(v, nccMax(v, cur(c))._2)
            addOuter(g, a, m)
          }
          Some(extractShape(g, m))
        }
      }}
      val next = centroids.clone()
      refined.zipWithIndex.foreach { case (fu, c) =>
        Await.result(fu, Duration.Inf).foreach(next(c) = _)
      }
      centroids = next
      val cents = centroids
      labels = Await.result(
        Future.sequence(z.indices.grouped(chunk).map(idxs =>
          Future(idxs.map(i => argminSbd(z(i)._2, cents)))).toSeq),
        Duration.Inf).flatten.toArray
      iter += 1
    }
    z.map(_._1).zip(labels)
  }

  /** Fit k shape clusters. Input (series_id, values) with equal-length
    * arrays; series are z-normalized internally (paper §3.1).
    * Deterministic: init cluster = series_id mod k (the reference is
    * nondeterministic here; documented deviation), ties to lowest k.
    * Small inputs (< 10⁵ series) run entirely on the driver; the
    * distributed path below is the same algorithm with per-cluster
    * Gram aggregation on executors. Output: (series_id, cluster). */
  def fit(series: DataFrame, k: Int, maxIter: Int = 10): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    // strict gate: n == 10⁵ goes distributed, like the sibling gates
    val local = Gate.seriesBelow(series, 100000L)
    if (local.isDefined)
      return localFit(local.get, k, maxIter).toSeq.toDF("series_id", "cluster")
    fitDistributed(series, k, maxIter)
  }

  private[graft] def fitDistributed(series: DataFrame, k: Int, maxIter: Int): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val ds = series.select(col("series_id").cast("long"), col("values"))
      .as[(Long, Array[Double])]
      .map { case (id, v) => (id, znorm(v)) }
      .toDF("series_id", "values").cache()
    val m = ds.head().getAs[Seq[Double]]("values").length

    var assigned = ds.withColumn("cluster",
      (col("series_id") % k).cast("int")).cache()
    var centroids: Array[Array[Double]] = Array.fill(k)(Array.fill(m)(0.0))

    var iter = 0
    while (iter < maxIter) {
      val bc = spark.sparkContext.broadcast(centroids)
      // Refinement: per-cluster Gram of centroid-aligned members.
      val grams = assigned.as[(Long, Array[Double], Int)]
        .groupByKey(_._3)
        .mapGroups { (c, it) =>
          val cent = bc.value(c)
          val zeroCent = cent.forall(_ == 0.0)
          val g = Array.fill(m * m)(0.0)
          var n = 0
          it.foreach { case (_, v, _) =>
            val a = if (zeroCent) v else shifted(v, nccMax(v, cent)._2)
            addOuter(g, a, m)
            n += 1
          }
          (c, n, g)
        }.collect()

      val newCentroids = centroids.clone()
      grams.foreach { case (c, n, g) =>
        if (n > 0) newCentroids(c) = extractShape(g, m)
      }
      centroids = newCentroids
      bc.destroy()

      // Assignment: argmin SBD to the broadcast centroids.
      val bc2 = spark.sparkContext.broadcast(centroids)
      val next = ds.as[(Long, Array[Double])]
        .map { case (id, v) => (id, v, argminSbd(v, bc2.value)) }
        .toDF("series_id", "values", "cluster").cache()

      // fixed-iteration loop: a distributed stability check would cost
      // two extra shuffles per round for a rare early exit
      assigned.unpersist()
      assigned = next
      iter += 1
    }
    // materialize the (small) label table eagerly so the working caches
    // are freed instead of accumulating across a long session
    val result = assigned.select(col("series_id"), col("cluster")).localCheckpoint()
    assigned.unpersist()
    ds.unpersist()
    result
  }
}
