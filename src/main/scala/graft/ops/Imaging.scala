package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** I1/I2/I3 imaging operators (reference: app.py:394-473).
  *
  * RP and GAF are pure Spark higher-order-function compositions (no
  * UDFs, fully codegen-eligible): a series of length m becomes an m×m
  * array<array<double>> column. The reference casts to uint8 for the
  * CNN input; we keep doubles (the AE substitute is linear — SURVEY.md
  * §2.7 E3) and let callers floor if byte parity matters.
  */
object Imaging {

  /** I1 Recurrence Plot: Z_ij = |v_i − v_j| scaled to 0..255 by the
    * matrix max (= series range). app.py:394-402. */
  def rp(values: Column): Column = {
    val range = array_max(values) - array_min(values)
    transform(values, x =>
      transform(values, y => abs(x - y) / range * lit(255.0)))
  }

  /** I2 Gramian Angular Field: min-max rescale to [−1,1] (clamped),
    * φ = arccos, G_ij = (1 + cos(φ_i + φ_j))·255/2. app.py:412-448. */
  def gaf(values: Column): Column = {
    val mn = array_min(values)
    val mx = array_max(values)
    val scaled = transform(values, v =>
      least(lit(1.0), greatest(lit(-1.0),
        (v * 2 - mx - mn) / (mx - mn))))
    val phi = transform(scaled, v => acos(v))
    transform(phi, a =>
      transform(phi, b => (lit(1.0) + cos(a + b)) * lit(255.0) / lit(2.0)))
  }

  /** Separable INTER_AREA taps: for target index i over n→size, the
    * covered source span is [i·scale, (i+1)·scale); each overlapped
    * source pixel contributes its fractional coverage — OpenCV's exact
    * float-path INTER_AREA weighting (integer ratios reduce to plain
    * box averages). Returns (first source index, weights). */
  private def areaTaps(n: Int, size: Int): Array[(Int, Array[Double])] = {
    val scale = n.toDouble / size
    Array.tabulate(size) { i =>
      val s0 = i * scale; val s1 = (i + 1) * scale
      val r0 = math.floor(s0).toInt
      val r1 = math.min(n, math.ceil(s1 - 1e-12).toInt)
      (r0, Array.tabulate(r1 - r0) { k =>
        val r = r0 + k
        math.min(s1, r + 1.0) - math.max(s0, r.toDouble)
      })
    }
  }

  /** I3 image resize to size×size: fractional-coverage area average
    * when shrinking, half-pixel-center bilinear when growing — the
    * exact cv2.INTER_AREA / INTER_LINEAR float-path formulas the
    * reference calls (app.py:457-473). Scalar UDF over
    * array<array<double>>. */
  val resize: (Seq[Seq[Double]], Int) => Seq[Seq[Double]] = (img, size) => {
    val n = img.length
    if (n == 0) Seq.empty
    else if (n == size) img
    else if (n > size) {
      val scale = n.toDouble / size
      val taps = areaTaps(n, size)
      (0 until size).map { i =>
        val (r0, wr) = taps(i)
        (0 until size).map { j =>
          val (c0, wc) = taps(j)
          var s = 0.0
          var a = 0
          while (a < wr.length) {
            var b = 0
            while (b < wc.length) { s += wr(a) * wc(b) * img(r0 + a)(c0 + b); b += 1 }
            a += 1
          }
          s / (scale * scale)
        }
      }
    } else {
      // bilinear upsample (align_corners=false convention, like cv2)
      (0 until size).map { i =>
        val fy = (i + 0.5) * n / size - 0.5
        val y0 = math.max(0, math.min(n - 1, math.floor(fy).toInt))
        val y1 = math.min(n - 1, y0 + 1)
        val wy = math.max(0.0, math.min(1.0, fy - y0))
        (0 until size).map { j =>
          val fx = (j + 0.5) * n / size - 0.5
          val x0 = math.max(0, math.min(n - 1, math.floor(fx).toInt))
          val x1 = math.min(n - 1, x0 + 1)
          val wx = math.max(0.0, math.min(1.0, fx - x0))
          (img(y0)(x0) * (1 - wy) * (1 - wx) + img(y0)(x1) * (1 - wy) * wx
            + img(y1)(x0) * wy * (1 - wx) + img(y1)(x1) * wy * wx)
        }
      }
    }
  }

  /** Fused imaging + area-resize kernel for the AE-substitute path:
    * series → RP/GAF matrix → size×size area average, computed per
    * output cell in one tight loop (never materializing the m×m
    * boxed matrix — the HOF form is kept for the oracle-checked
    * single-series matrix queries, this for the 10⁴+-series path).
    * Returns the flattened size×size image. */
  def fusedImageUdf(imaging: String, size: Int) = udf(fusedImage(imaging, size))

  /** The [[fusedImageUdf]] kernel as a function, for driver-side rows. */
  def fusedImage(imaging: String, size: Int): Array[Double] => Array[Double] = { values =>
    val v = values
    val n = v.length
    val mn = v.min; val mx = v.max
    val rng = mx - mn
    val cell: (Int, Int) => Double = imaging match {
      case "rp" => (i, j) => math.abs(v(i) - v(j)) / rng * 255.0
      case "gaf" =>
        val phi = v.map(x => math.acos(math.min(1.0, math.max(-1.0, (2 * x - mx - mn) / rng))))
        (i, j) => (1.0 + math.cos(phi(i) + phi(j))) * 127.5
      case other => throw new IllegalArgumentException(s"unknown imaging: $other")
    }
    val out = new Array[Double](size * size)
    if (n <= size) {
      // grow: bilinear on the virtual matrix (same convention as resize)
      var i = 0
      while (i < size) {
        val fy = (i + 0.5) * n / size - 0.5
        val y0 = math.max(0, math.min(n - 1, math.floor(fy).toInt))
        val y1 = math.min(n - 1, y0 + 1)
        val wy = math.max(0.0, math.min(1.0, fy - y0))
        var j = 0
        while (j < size) {
          val fx = (j + 0.5) * n / size - 0.5
          val x0 = math.max(0, math.min(n - 1, math.floor(fx).toInt))
          val x1 = math.min(n - 1, x0 + 1)
          val wx = math.max(0.0, math.min(1.0, fx - x0))
          out(i * size + j) =
            cell(y0, x0) * (1 - wy) * (1 - wx) + cell(y0, x1) * (1 - wy) * wx +
              cell(y1, x0) * wy * (1 - wx) + cell(y1, x1) * wy * wx
          j += 1
        }
        i += 1
      }
    } else {
      val scale = n.toDouble / size
      val taps = areaTaps(n, size)
      var i = 0
      while (i < size) {
        val (r0, wr) = taps(i)
        var j = 0
        while (j < size) {
          val (c0, wc) = taps(j)
          var s = 0.0
          var a = 0
          while (a < wr.length) {
            var b = 0
            while (b < wc.length) { s += wr(a) * wc(b) * cell(r0 + a, c0 + b); b += 1 }
            a += 1
          }
          out(i * size + j) = s / (scale * scale)
          j += 1
        }
        i += 1
      }
    }
    out
  }
}
