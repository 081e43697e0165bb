package graft.ml

import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** E1/E4 embedding operators (reference: app.py:677-691).
  *
  * PCA via spark.ml on the rectangular series matrix. sklearn's PCA
  * mean-centers; MLlib's does not — we center explicitly so the
  * embedding matches the reference's geometry (up to component sign,
  * which is arbitrary in both).
  *
  * E2 (UMAP, app.py:661-667) and E3 (conv autoencoder, app.py:490-641)
  * have no Spark-native equivalents (SURVEY.md §2.7): both operator
  * slots are served by this deterministic linear embedding (PCA ≡ a
  * linear autoencoder's optimum) — a documented semantic deviation.
  */
object Embedding {

  /** Mean-center the `values` arrays (per-dimension global mean). */
  def centered(series: DataFrame): DataFrame = {
    val withVec = series.withColumn("__fv", array_to_vector(col("values")))
    val mean = withVec.select(Summarizer.mean(col("__fv")).as("m"))
      .head().getAs[Vector]("m").toArray
    series.withColumn("values",
      zip_with(col("values"), lit(mean), (x, m) => x - m))
  }

  /** Driver-local PCA for the reference regime: covariance from the
    * id-sorted collected matrix + LAPACK eigSym — bitwise deterministic
    * regardless of partitioning (MLlib's treeAggregate covariance and
    * near-degenerate eigenpairs rotate between partitionings on tiny
    * inputs, which flips downstream model selection). Sign rule:
    * max-|·| loading positive. Returns (ids, scores, varRatio). */
  private def pcaLocal(data: Array[(Long, Array[Double])], k: Int):
      (Array[Long], Array[Array[Double]], Array[Double]) = {
    import breeze.linalg.{eigSym, DenseMatrix}
    val n = data.length
    require(n >= 2, s"PCA needs at least 2 series, got $n")
    val m = data.head._2.length
    val mean = new Array[Double](m)
    data.foreach(r => { var j = 0; while (j < m) { mean(j) += r._2(j); j += 1 } })
    var j = 0
    while (j < m) { mean(j) /= n; j += 1 }
    val x = DenseMatrix.tabulate(n, m)((i, jj) => data(i)._2(jj) - mean(jj))
    val cov = (x.t * x) *:* (1.0 / (n - 1).toDouble)
    val es = eigSym((cov +:+ cov.t) *:* 0.5)
    val total = es.eigenvalues.toArray.map(math.max(0.0, _)).sum
    val kk = math.min(k, m)
    val comps = (0 until kk).map { c =>
      val v = es.eigenvectors(::, m - 1 - c).toArray
      val mi = v.indices.maxBy(i => math.abs(v(i)))
      if (v(mi) < 0) v.map(-_) else v
    }
    val scores = data.indices.map { i =>
      comps.map { comp =>
        var s = 0.0; var t = 0
        while (t < m) { s += (data(i)._2(t) - mean(t)) * comp(t); t += 1 }
        s
      }.toArray
    }.toArray
    val varRatio = (0 until kk).map(c =>
      math.max(0.0, es.eigenvalues(m - 1 - c)) / math.max(total, 1e-300)).toArray
    (data.map(_._1), scores, varRatio)
  }

  /** k-component PCA scores: (series_id, emb: array<double>[k]).
    * Requires equal-length `values` (run truncate/pad/DTW first).
    * Small inputs use the deterministic local path; larger ones the
    * distributed MLlib fit. `gate = 0` forces the distributed path
    * (the ml_dist_path_parity rig's lever, mirroring mds2d) —
    * production callers keep the default. */
  def pcaEmbed(series: DataFrame, k: Int, gate: Long = 100000L): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val local = Gate.seriesBelow(series, gate)
    if (local.isDefined) {
      val (ids, scores, _) = pcaLocal(local.get, k)
      return ids.zip(scores).toSeq.toDF("series_id", "emb")
    }
    // the distributed path reads its input three times (the mean
    // pass, the fit, the transform): hold it in memory through Memo,
    // which leaves a caller's own cache alone
    val cached = graft.queries.Memo.input(spark, "pcaembed", series)
    val c = centered(cached).withColumn("__fv", array_to_vector(col("values")))
    try {
      val model = new PCA().setK(k).setInputCol("__fv").setOutputCol("__pca").fit(c)
      model.transform(c)
        .withColumn("emb", vector_to_array(col("__pca")))
        .select(col("series_id"), col("emb"))
    } catch {
      // Production hardening (observed round 12): in a JNI-less env
      // MLlib's PCA.fit runs breeze's pure-Java F2J dgesdd on the
      // covariance, which NON-DETERMINISTICALLY fails to converge on
      // some float patterns (the treeAggregate covariance's low-order
      // bits vary per run, and some land in the solver's bad basin —
      // retrying on the cached input replays the same bits, so a
      // retry can't help). Recover with the SAME distributed
      // covariance pass + the symmetric eigensolver (dsyevd — never
      // observed failing) on the driver: the scale-relevant work
      // (one treeAggregate over the corpus) is unchanged, only the
      // tiny dim×dim eigen-solve differs; component sign follows
      // pcaLocal's max-|loading|-positive rule (sign is arbitrary in
      // both solvers).
      case e: Throwable if e.getClass.getName.contains("NotConverged") =>
        import breeze.linalg.{eigSym, DenseMatrix}
        val rm = new org.apache.spark.mllib.linalg.distributed.RowMatrix(
          c.select(col("__fv")).rdd.map(r =>
            org.apache.spark.mllib.linalg.Vectors.fromML(r.getAs[Vector](0))))
        val cov = rm.computeCovariance()
        val m = cov.numRows
        val dm = new DenseMatrix(m, m, cov.toArray)
        val es = eigSym((dm + dm.t) *:* 0.5)
        val kk = math.min(k, m)
        val comps = (0 until kk).map { ci =>
          val v = es.eigenvectors(::, m - 1 - ci).toArray
          val mi = v.indices.maxBy(i => math.abs(v(i)))
          (if (v(mi) < 0) v.map(-_) else v).toSeq
        }
        graft.functions.GraftFunctions.register(spark)
        c.select(col("series_id"),
          array(comps.map(cp =>
            call_function("array_dot", col("values"), typedLit(cp))): _*)
            .as("emb"))
    }
  }

  /** 2-D embedding export (E4, app.py:1983-1994): (series_id, x, y). */
  def pca2d(series: DataFrame): DataFrame =
    pcaEmbed(series, 2).select(col("series_id"),
      col("emb")(0).as("x"), col("emb")(1).as("y"))

  /** 3-D variant used by the reference's 3-D scatter. */
  def pca3d(series: DataFrame): DataFrame =
    pcaEmbed(series, 3).select(col("series_id"),
      col("emb")(0).as("x"), col("emb")(1).as("y"), col("emb")(2).as("z"))

  /** E2 substitute: the reference's UMAP slot (app.py:661-667) served
    * by classical metric MDS — double-centered euclidean Gram matrix,
    * top-2 eigenvectors scaled by √λ. Deterministic (no random init;
    * the reference seeds UMAP but its output is library-version
    * dependent — documented deviation).
    *
    * Size-gated like pcaEmbed/kmeans: under `gate` series the exact
    * O(n²) Gram is built on the driver; at or above it the landmark
    * (Nyström) path runs — m ≪ n landmarks get the exact driver MDS,
    * every point is then triangulated distributively from its squared
    * distances to the broadcast landmarks (de Silva & Tenenbaum 2004).
    * With numLandmarks ≥ n the landmark path reproduces the exact one
    * (parity-tested in ClusteringSpec). */
  def mds2d(series: DataFrame, gate: Long = 100000L,
      numLandmarks: Int = 1000): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    Gate.seriesBelow(series, gate) match {
      case Some(data) => mdsLocal(data).toSeq.toDF("series_id", "x", "y")
      case None => landmarkMds(series, numLandmarks)
    }
  }

  /** Exact classical MDS on the driver (reference regime, n < gate)
    * over the id-sorted rows: (series_id, x, y). */
  private def mdsLocal(data: Array[(Long, Array[Double])]): Array[(Long, Double, Double)] = {
    import breeze.linalg.{DenseMatrix}
    val n = data.length
    // squared distances via one BLAS gemm: d²(i,j) = q_i + q_j − 2·(XXᵀ)_ij
    val x = DenseMatrix(data.map(_._2).toIndexedSeq: _*)
    val xxt = x * x.t
    val q = (0 until n).map(i => xxt(i, i)).toArray
    val d2 = Array.tabulate(n, n)((i, j) =>
      math.max(0.0, q(i) + q(j) - 2.0 * xxt(i, j)))
    val rowMean = d2.map(r => r.sum / n)
    val totMean = rowMean.sum / n
    val g = DenseMatrix.tabulate(n, n) { (i, j) =>
      -0.5 * (d2(i)(j) - rowMean(i) - rowMean(j) + totMean)
    }
    // top-2 eigenpairs via deterministic power iteration with deflation
    // (full eigSym is O(n³); the Gram's leading eigenvalues are the
    // only ones MDS needs, and they are positive for euclidean input)
    val gs = (g +:+ g.t) *:* 0.5
    // r18 measured-and-rejected: parallelizing this 200-iteration gemv
    // as per-row ascending-j folds is 1.64× faster but NOT bit-equal to
    // breeze's dgemv (netlib's Java kernel groups its unrolled column
    // terms, a different per-element addition order) — the 6-dp-rounded
    // query output could flip on boundary values, so the serial breeze
    // call stays (the digest pins are the contract, not a target).
    def topComponent(prev: Seq[breeze.linalg.DenseVector[Double]]): (Double, Array[Double]) = {
      // init must NOT be the all-ones vector: double-centering puts 1⃗
      // exactly in gs's null space, so power iteration from it would
      // stall on rounding noise. A linear ramp with its mean removed is
      // deterministic and generically overlaps the top eigenvector.
      val init = breeze.linalg.DenseVector.tabulate(n)(i => i - (n - 1) / 2.0)
      var v = init / math.max(breeze.linalg.norm(init), 1e-300)
      var it = 0
      while (it < 200) {
        var w = gs * v
        prev.foreach { p => w = w - p * (p dot w) }
        val nm = breeze.linalg.norm(w)
        if (nm > 0) v = w / nm
        it += 1
      }
      val lambda = v dot (gs * v)
      val arr = v.toArray
      val mi = arr.indices.maxBy(i => math.abs(arr(i)))
      val sgn = if (arr(mi) < 0) -1.0 else 1.0
      (math.max(0.0, lambda), arr.map(_ * sgn))
    }
    val (l0, v0raw) = topComponent(Nil)
    val v0 = breeze.linalg.DenseVector(v0raw)
    val (l1, v1raw) = topComponent(Seq(v0))
    val c0 = v0raw.map(_ * math.sqrt(l0))
    val c1 = v1raw.map(_ * math.sqrt(l1))
    data.indices.map(i => (data(i)._1, c0(i), c1(i))).toArray
  }

  private def sqdist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Landmark (Nyström) MDS — the distributed scale path. Driver cost
    * is O(m²·dim + m³) for m landmarks regardless of n; the per-point
    * triangulation is an embarrassingly parallel map over the broadcast
    * landmark matrix (O(m·dim) per point, no shuffle at all). Landmark
    * choice is a deterministic md5-ordered sample, so results are
    * partitioning-invariant. */
  private[graft] def landmarkMds(series: DataFrame, numLandmarks: Int): DataFrame = {
    import breeze.linalg.{eigSym, DenseMatrix}
    val spark = series.sparkSession
    import spark.implicits._
    val lm = series.select(col("series_id").cast("long"), col("values"))
      .withColumn("__h", md5(col("series_id").cast("string")))
      .orderBy(col("__h"), col("series_id")) // deterministic pseudo-random spread
      .limit(numLandmarks)
      .select(col("series_id"), col("values"))
      .as[(Long, Array[Double])].collect()
      .sortBy(_._1) // stable driver-side order for the float sums below
    val m = lm.length
    require(m >= 3, s"landmark MDS needs >= 3 landmarks, got $m")
    // exact MDS on the landmark set: double-centered squared distances
    val d2 = Array.tabulate(m, m)((i, j) => sqdist(lm(i)._2, lm(j)._2))
    val rowMean = d2.map(_.sum / m)
    val totMean = rowMean.sum / m
    val b = DenseMatrix.tabulate(m, m) { (i, j) =>
      -0.5 * (d2(i)(j) - rowMean(i) - rowMean(j) + totMean)
    }
    val es = eigSym((b +:+ b.t) *:* 0.5)
    // projection rows p_k = v_k / √λ_k with deterministic sign
    def proj(c: Int): Array[Double] = {
      val l = es.eigenvalues(m - 1 - c)
      val v = es.eigenvectors(::, m - 1 - c).toArray
      if (l <= 1e-12) Array.fill(m)(0.0)
      else {
        val mi = v.indices.maxBy(i => math.abs(v(i)))
        val s = if (v(mi) < 0) -1.0 else 1.0
        v.map(x => s * x / math.sqrt(l))
      }
    }
    val bcVals = spark.sparkContext.broadcast(lm.map(_._2))
    val bcMu = spark.sparkContext.broadcast(rowMean)
    val bcP = spark.sparkContext.broadcast((proj(0), proj(1)))
    // x = −½·p_k·(δ − μ): distance-based triangulation; reproduces the
    // landmarks' own MDS coordinates exactly, and classical MDS when
    // the landmark set is the whole input
    val embed = udf { (v: Seq[Double]) =>
      val vals = bcVals.value; val mu = bcMu.value
      val (q0, q1) = bcP.value
      val va = v.toArray
      var x = 0.0; var y = 0.0; var i = 0
      while (i < vals.length) {
        val dd = sqdist(va, vals(i)) - mu(i)
        x += q0(i) * dd; y += q1(i) * dd
        i += 1
      }
      (-0.5 * x, -0.5 * y)
    }
    series.select(col("series_id"), embed(col("values")).as("__e"))
      .select(col("series_id"), col("__e._1").as("x"), col("__e._2").as("y"))
  }

  /** E3 substitute: the reference's AutoEncoder path (series → RP/GAF
    * image → resize → conv encoder → 2-D latent, app.py:490-641) with
    * a LINEAR encoder: image → flatten → mean-centered PCA-to-2 (the
    * optimum any linear autoencoder converges to). Deterministic,
    * seed-free; documented deviation (SURVEY.md §2.7 E3 — no conv nets
    * in MLlib / offline env). `imaging` ∈ {"rp", "gaf"}. */
  def aeSubstitute(series: DataFrame, imaging: String, imgSize: Int): DataFrame = {
    val flat = series.withColumn("values",
      graft.ops.Imaging.fusedImageUdf(imaging, imgSize)(col("values")))
    pca2d(flat)
  }

  /** E3 — the reference's convolutional AutoEncoder path
    * (app.py:490-641): series → RP/GAF image → seeded conv
    * encoder → 2-D latent. Under `gate`, the faithful regime runs: a
    * driver-local pure-JVM conv AE ([[ConvAE]] — Conv stride-2 stack,
    * Dense(2) latent, ConvT mirror, Adam + MSE, early stopping,
    * fixed seed), trained on a bounded seeded sample (CanonicalFit
    * pattern — fit cost flat in corpus size) and projecting EVERY
    * series. At/above the gate, [[aeDistributed]] keeps the SAME conv
    * latents at scale (round 12b — the linear substitute is no longer
    * the scale regime): the fit stays a bounded driver artifact
    * (training beyond ~10⁴ images stops being a driver-side task and a
    * faithful distributed conv-AE trainer is out of scope — no deep-
    * learning runtime in the env; COVERAGE.md §2.7), and the
    * PROJECTION becomes one weight broadcast + a map-side forward
    * pass, the same shuffle-free shape the PCA substitute's dot
    * product had, just the conv FLOPs.
    *
    * Deterministic at any parallelism: below the gate images are
    * collected in id order and every training step is sequential
    * driver code; above it the per-row encode is a pure function of
    * the broadcast weights. The fit on either side of the gate is a
    * Memo value keyed by the input plan and every parameter, which
    * [[aeHistory]] over the same input reuses. */
  def aeEmbed(series: DataFrame, imaging: String, imgSize: Int,
      gate: Long = 20000L, cfg: ConvAE.Config = ConvAE.Config()): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    aeFit(series, imaging, imgSize, gate, cfg) match {
      case Some((ids, z, _)) =>
        ids.zip(z).map { case (id, e) => (id, e(0), e(1)) }
          .toSeq.toDF("series_id", "x", "y")
      case None => aeDistributed(series, imaging, imgSize, cfg)
    }
  }

  /** Above-gate conv path: bounded seeded fit (xxhash64-ranked sample,
    * the UMAP-landmark selection rule — partition k-heaps, no global
    * sort), one broadcast of (trained tensors, global normalization
    * max), then a shuffle-free map-side forward pass per row. The
    * fit-set RULE differs from the driver regime's collected-shuffle
    * sample, but whenever the corpus fits inside `fitSample` both
    * rules select everything in id order, so the two paths are
    * bitwise identical there (ConvAESpec pin — the landmark==exact
    * discipline from [[Umap]]). */
  private def aeDistributed(series: DataFrame, imaging: String,
      imgSize: Int, cfg: ConvAE.Config): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val c = cfg.copy(imgSize = imgSize)
    require(c.latent == 2, s"aeEmbed emits (x, y); latent = ${c.latent}")
    val (weights, mx, _) = aeDistFit(series, imaging, imgSize, c)
    val bc = spark.sparkContext.broadcast((weights, mx))
    val imgs = series.select(col("series_id").cast("long").as("series_id"),
      graft.ops.Imaging.fusedImageUdf(imaging, imgSize)(col("values")).as("img"))
    imgs.as[(Long, Array[Double])].mapPartitions { it =>
      val (w, m) = bc.value
      val enc = ConvAE.encoder(w, c)
      it.map { case (id, img) =>
        val x = if (m > 0) img.map(_ / m) else img
        val z = enc(x)
        (id, z(0), z(1))
      }
    }.toDF("series_id", "x", "y")
  }

  /** Above-gate fit artifact: (trained tensors, global normalization
    * max, per-epoch loss history). Imaging — the dominant per-row
    * cost — runs over the full corpus exactly ONCE here (the
    * normalization max is a corpus-wide agg by reference semantics,
    * app.py:531-533); the fit sample is selected by (series_id, hash)
    * alone and only its ≤`fitSample` rows are imaged, so the sample
    * pass is O(fitSample) imaging work, not a third full scan
    * (review r12: the old shape imaged the corpus three times).
    * A Memo value like [[aeFit]], so the embedding and history
    * queries above the gate share ONE training run — the reported
    * curve is the curve of the weights the projection actually
    * broadcast. */
  private def aeDistFit(series: DataFrame, imaging: String, imgSize: Int,
      c: ConvAE.Config): (Array[Array[Double]], Double, Array[Double]) = {
    val spark = series.sparkSession
    import spark.implicits._
    graft.queries.Memo.value(spark, "aedistfit", Seq(series), imaging, imgSize, c) {
      // sample FIRST, on ids only (partition k-heaps via TakeOrdered —
      // no imaging, no global sort), then image just the sampled rows.
      // Same keys (xxhash64 of the cast id, then id) as the old
      // image-everything selection, so the selected set is unchanged
      // (ConvAESpec landmark==exact pin).
      val keyed = series.select(col("series_id").cast("long").as("series_id"),
        col("values"))
      val fitRows = keyed
        .withColumn("__h", xxhash64(col("series_id"), lit(c.seed)))
        .orderBy(col("__h"), col("series_id"))
        .limit(c.fitSample)
        .select(col("series_id"),
          graft.ops.Imaging.fusedImageUdf(imaging, imgSize)(col("values")).as("img"))
        .as[(Long, Array[Double])].collect()
        .sortBy(_._1)
      require(fitRows.nonEmpty, "aeEmbed: empty input")
      // global-max normalization (app.py:531-533): max is order-free, so
      // the distributed agg is bitwise the driver regime's value
      val mxRow = keyed.agg(max(array_max(
        graft.ops.Imaging.fusedImageUdf(imaging, imgSize)(col("values"))))).head()
      val mx = if (mxRow.isNullAt(0)) 0.0 else mxRow.getDouble(0)
      val fitSet = fitRows.map(r => if (mx > 0) r._2.map(_ / mx) else r._2)
      val (weights, hist) = ConvAE.fitWeightsWithHistory(fitSet, c)
      (weights, mx, hist)
    }
  }

  /** The conv-AE training-progress surface (reference:
    * app.py:599-613's per-epoch loss display): (epoch 1-based,
    * loss = mean train MSE). Deterministic — same seeded fit as
    * [[aeEmbed]], so the curve is a pinnable artifact, not a log.
    * Gated EXACTLY like [[aeEmbed]] (review r12: the old path always
    * collected the full corpus, and above the gate reported a
    * DIFFERENT training run than the one the embedding used): below
    * `gate` the history comes from the shared driver fit, above it
    * from the shared bounded distributed fit — either way the curve
    * describes the weights `aeEmbed` actually projects with. After
    * `aeEmbed` on the same input, both fits are Memo hits: the history
    * runs no Spark job. */
  def aeHistory(series: DataFrame, imaging: String, imgSize: Int,
      gate: Long = 20000L, cfg: ConvAE.Config = ConvAE.Config()): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val hist = aeFit(series, imaging, imgSize, gate, cfg).map(_._3).getOrElse(
      aeDistFit(series, imaging, imgSize, cfg.copy(imgSize = imgSize))._3)
    hist.zipWithIndex.map { case (l, i) => (i + 1L, l) }
      .toSeq.toDF("epoch", "loss")
  }

  /** Shared gated-path body: the driver fit, or None at/above `gate`.
    * The series are collected in id order through [[Gate]] and imaged
    * on the driver (so an input at/above the gate images nothing before
    * the distributed path), global-max normalized (app.py:531-533),
    * then a bounded seeded fit sample is trained. The outcome, fit or
    * None, is a Memo value per (input, imaging, imgSize, gate, cfg), so
    * a repeated call (the history after the embedding) runs no job. */
  private def aeFit(series: DataFrame, imaging: String, imgSize: Int, gate: Long,
      cfg: ConvAE.Config): Option[(Array[Long], Array[Array[Double]], Array[Double])] = {
    if (gate <= 0) return None
    graft.queries.Memo.value(series.sparkSession, "aefit", Seq(series),
        imaging, imgSize, gate, cfg) {
      val image = graft.ops.Imaging.fusedImage(imaging, imgSize)
      Gate.seriesBelow(series, gate).map { rows =>
        aeFitRows(rows.map { case (id, v) => (id, image(v)) }, imgSize, cfg)
      }
    }
  }

  private def aeFitRows(imgs: Array[(Long, Array[Double])], imgSize: Int,
      cfg: ConvAE.Config): (Array[Long], Array[Array[Double]], Array[Double]) = {
    require(imgs.nonEmpty, "aeEmbed: empty input")
    var mx = 0.0
    imgs.foreach { r => val m = r._2.max; if (m > mx) mx = m }
    val norm: Array[Array[Double]] =
      if (mx > 0) imgs.map(r => r._2.map(_ / mx)) else imgs.map(_._2)
    val c = cfg.copy(imgSize = imgSize)
    val fitSet =
      if (norm.length <= c.fitSample) norm
      else {
        val r = new java.util.Random(c.seed)
        val idx = norm.indices.toArray
        var i = idx.length - 1
        while (i > 0) {
          val j = r.nextInt(i + 1)
          val t = idx(i); idx(i) = idx(j); idx(j) = t
          i -= 1
        }
        idx.take(c.fitSample).sorted.map(norm)
      }
    val (z, hist) = ConvAE.fitEmbedWithHistory(fitSet, norm, c)
    (imgs.map(_._1), z, hist)
  }

  /** Explained-variance percentages of the top `n` components,
    * rounded to 1 decimal like the reference (app.py:680). */
  def pcaVariancePct(series: DataFrame, n: Int): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val local = Gate.seriesBelow(series, 100000L)
    if (local.isDefined) {
      val (_, _, ratio) = pcaLocal(local.get, n)
      return ratio.zipWithIndex
        .map { case (v, i) => (i + 1, math.rint(v * 1000) / 10) }
        .toSeq.toDF("component", "var_pct")
    }
    // cache the DERIVED plan (not the caller-visible one) for the
    // head + fit passes, and release it: the variance ratios live in
    // the fitted model, so nothing consumes the cache afterwards
    val c = centered(series).withColumn("__fv", array_to_vector(col("values")))
      .cache()
    val k = math.min(n, c.head().getAs[Vector]("__fv").size)
    val ratios =
      try {
        val model = new PCA().setK(k).setInputCol("__fv")
          .setOutputCol("__pca").fit(c)
        model.explainedVariance.toArray
      } catch {
        // same F2J dgesdd non-convergence recovery as pcaEmbed's
        // distributed path: identical treeAggregate covariance,
        // symmetric eigensolver instead of the flaky SVD
        case e: Throwable if e.getClass.getName.contains("NotConverged") =>
          import breeze.linalg.{eigSym, DenseMatrix}
          val rm = new org.apache.spark.mllib.linalg.distributed.RowMatrix(
            c.select(col("__fv")).rdd.map(r =>
              org.apache.spark.mllib.linalg.Vectors.fromML(r.getAs[Vector](0))))
          val cov = rm.computeCovariance()
          val m = cov.numRows
          val dm = new DenseMatrix(m, m, cov.toArray)
          val es = eigSym((dm + dm.t) *:* 0.5)
          val evs = es.eigenvalues.toArray.map(math.max(0.0, _))
          val total = math.max(evs.sum, 1e-300)
          (0 until math.min(k, m)).map(ci => evs(m - 1 - ci) / total).toArray
      }
    c.unpersist()
    ratios.zipWithIndex
      .map { case (v, i) => (i + 1, math.rint(v * 1000) / 10) }
      .toSeq.toDF("component", "var_pct")
  }
}
