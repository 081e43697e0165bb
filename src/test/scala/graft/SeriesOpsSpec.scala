package graft

import org.apache.spark.sql.functions._
import graft.ops.SeriesOps

/** Properties from SURVEY.md §5 item 2, semantics per app.py:140-295. */
class SeriesOpsSpec extends SparkSpec {
  import spark.implicits._

  private def raggedFixture = Seq(
    ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0),
    ("b", 4L, 10.0), ("b", 5L, 20.0),
    ("c", 6L, 5.0), ("c", 7L, 6.0), ("c", 8L, 7.0), ("c", 9L, 8.0)
  ).toDF("p", "seq", "v")

  test("withNormalized: min_max ∈ [0,1] with min→0 max→1; z-score pop mean 0 std 1") {
    val n = SeriesOps.withNormalized(raggedFixture, "v")
    val mm = n.agg(min("min_max"), max("min_max")).head()
    assert(mm.getDouble(0) == 0.0 && mm.getDouble(1) == 1.0)
    val z = n.agg(avg("z_score"), stddev_pop("z_score")).head()
    assert(math.abs(z.getDouble(0)) < 1e-12 && math.abs(z.getDouble(1) - 1.0) < 1e-12)
  }

  test("withNormalized drops null values (P2, app.py:184)") {
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    assert(SeriesOps.withNormalized(df, "v").count() == 2)
  }

  test("collectSeries keeps seq order within ragged groups (A1)") {
    val s = SeriesOps.collectSeries(raggedFixture, "p", "v", "seq")
      .orderBy("series_id").as[(String, Seq[Double])].collect()
    assert(s.map(_._1).toSeq == Seq("a", "b", "c"))
    assert(s(0)._2 == Seq(1.0, 2.0, 3.0))
    assert(s(1)._2 == Seq(10.0, 20.0))
    assert(s(2)._2 == Seq(5.0, 6.0, 7.0, 8.0))
  }

  test("truncate cuts every series to the global min length (W1)") {
    val t = SeriesOps.truncate(SeriesOps.collectSeries(raggedFixture, "p", "v", "seq"))
      .select(col("series_id"), col("values")).as[(String, Seq[Double])].collect()
    assert(t.forall(_._2.length == 2))
    assert(t.find(_._1 == "c").get._2 == Seq(5.0, 6.0)) // prefix kept
  }

  test("pad right-pads with zeros to the global max length (W2)") {
    val p = SeriesOps.pad(SeriesOps.collectSeries(raggedFixture, "p", "v", "seq"))
      .select(col("series_id"), col("values")).as[(String, Seq[Double])].collect()
    assert(p.forall(_._2.length == 4))
    assert(p.find(_._1 == "b").get._2 == Seq(10.0, 20.0, 0.0, 0.0))
  }

  test("slidingWindow: floor((n-w)/s)+1 windows, each a contiguous slice (W3)") {
    val one = Seq(("s", (1 to 200).map(_.toDouble).toArray))
      .toDF("series_id", "values")
    assert(SeriesOps.slidingWindow(one, 10, 1).count() == 191)
    val w36 = SeriesOps.slidingWindow(one, 25, 5)
    assert(w36.count() == 36)
    val first = w36.filter(col("win_id") === 1).head()
      .getAs[collection.Seq[Double]]("window")
    assert(first.toSeq == (6 to 30).map(_.toDouble)) // window 1 starts at offset s=5
  }

  test("slidingWindow drops series shorter than w (drop_remainder)") {
    val df = Seq(("s", Array(1.0, 2.0))).toDF("series_id", "values")
    assert(SeriesOps.slidingWindow(df, 10, 1).count() == 0)
  }

  test("asof join: most recent right row at or before left time, per key") {
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(s * 1000L)
    val left = Seq((1L, 10L, ts(5)), (2L, 10L, ts(1)), (3L, 20L, ts(9)))
      .toDF("id", "k", "t")
    val right = Seq((10L, ts(2), "a"), (10L, ts(5), "b"), (10L, ts(7), "c"),
      (20L, ts(1), "x")).toDF("k", "t", "payload")
    val out = graft.ops.AsofJoin.asof(left, right, "k", "t")
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(out(1L) == "b") // equal timestamp is visible (>= semantics)
    assert(out(2L) == null) // no right row at or before t=1
    assert(out(3L) == "x")
  }

  test("resampleLocf: empty bins carry the last observed mean and are flagged") {
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(s * 1000L)
    // key 1: obs in bins 0 and 3 (gap bins 1-2 must carry bin 0's mean);
    // key 2: single bin (no grid expansion)
    val ev = Seq(
      (1L, ts(10), 2.0), (1L, ts(20), 4.0), (1L, ts(3 * 3600 + 5), 9.0),
      (2L, ts(7200 + 1), 5.0)
    ).toDF("user_id", "ts", "value")
    val out = graft.ops.SeriesOps.resampleLocf(ev, "user_id", "ts", "value", 3600L)
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(out.size == 5)
    assert(out((1L, 0L)) == (2L, 3.0, false))          // mean of 2,4
    assert(out((1L, 3600L)) == (0L, 3.0, true))        // gap: carries 3.0
    assert(out((1L, 7200L)) == (0L, 3.0, true))
    assert(out((1L, 3L * 3600)) == (1L, 9.0, false))
    assert(out((2L, 7200L)) == (1L, 5.0, false))
  }

  test("asofSalted == asof on a skewed fixture (one hot key, chunk-boundary carries)") {
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(s * 1000L)
    // hot key 1: long interleaved history; key 2: sparse right rows so
    // several chunks hold left rows with NO in-chunk right predecessor
    // (exercises the pass-2 boundary heal); key 3: left rows only
    val left = ((0 until 200).map(i => (i.toLong, 1L, ts(i * 3 + 1))) ++
      (200 until 240).map(i => (i.toLong, 2L, ts((i - 200) * 17))) ++
      Seq((240L, 3L, ts(50)))).toDF("id", "k", "t")
    val right = ((0 until 150).map(i => (1L, ts(i * 4), s"h$i")) ++
      Seq((2L, ts(2), "s0"), (2L, ts(300), "s1"))).toDF("k", "t", "payload")
    val plain = graft.ops.AsofJoin.asof(left, right, "k", "t")
      .select("id", "payload").as[(Long, String)].collect().toMap
    for (chunks <- Seq(1, 4, 32)) {
      val salted = graft.ops.AsofJoin.asofSalted(left, right, "k", "t", chunks)
        .select("id", "payload").as[(Long, String)].collect().toMap
      assert(salted == plain, s"salted($chunks) diverged from plain asof")
    }
  }

  test("asofSalted == asof on seeded random data (200 keys, ragged histories)") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(7)
    val left = (0 until 3000).map { i =>
      (i.toLong, rnd.nextInt(200).toLong, new Timestamp(rnd.nextInt(100000) * 1000L))
    }.toDF("id", "k", "t")
    val right = (0 until 1500).map { i =>
      (rnd.nextInt(200).toLong, new Timestamp(rnd.nextInt(100000) * 1000L), s"p$i")
    }.distinct.toDF("k", "t", "payload")
      // contract: right unique per (key, time)
      .groupBy("k", "t").agg(org.apache.spark.sql.functions.max("payload").as("payload"))
    val plain = graft.ops.AsofJoin.asof(left, right, "k", "t")
      .select("id", "payload").as[(Long, String)].collect().toMap
    val salted = graft.ops.AsofJoin.asofSalted(left, right, "k", "t", 16)
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(salted == plain)
  }

  test("resampleLocf invariants on seeded random data") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(11)
    val ev = (0 until 2000).map { _ =>
      (rnd.nextInt(30).toLong, new Timestamp(rnd.nextInt(50 * 3600) * 1000L),
        rnd.nextDouble() * 100)
    }.toDF("user_id", "ts", "value")
    val out = graft.ops.SeriesOps.resampleLocf(ev, "user_id", "ts", "value", 3600L)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    val byKey = out.groupBy(_._1)
    byKey.foreach { case (_, rows) =>
      val bins = rows.map(_._2).sorted
      // contiguous grid from first to last bin, step = interval
      assert(bins.zip(bins.tail).forall { case (a, b) => b - a == 3600L })
      // first bin is observed (grid starts at first observation)
      assert(!rows.minBy(_._2)._5)
      // gap rows have zero observations and a non-null carried value
      rows.foreach { r => assert(r._5 == (r._3 == 0L)) }
    }
  }

  test("resampleInterp invariants on seeded random data") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(13)
    val ev = (0 until 2000).map { _ =>
      (rnd.nextInt(30).toLong, new Timestamp(rnd.nextInt(50 * 3600) * 1000L),
        rnd.nextDouble() * 100)
    }.toDF("user_id", "ts", "value")
    val out = graft.ops.SeriesOps.resampleInterp(ev, "user_id", "ts", "value", 3600L)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      val bins = sorted.map(_._2)
      // contiguous grid; both endpoints observed (no extrapolation case)
      assert(bins.zip(bins.tail).forall { case (a, b) => b - a == 3600L })
      assert(!sorted.head._5 && !sorted.last._5)
      // every interpolated value lies between its nearest observed
      // neighbours (monotone blend — never overshoots)
      val obs = sorted.zipWithIndex.filter(!_._1._5).map(_._2)
      obs.zip(obs.tail).foreach { case (i, j) =>
        val (lo, hi) = (math.min(sorted(i)._4, sorted(j)._4),
          math.max(sorted(i)._4, sorted(j)._4))
        (i + 1 until j).foreach { g =>
          assert(sorted(g)._4 >= lo - 1e-9 && sorted(g)._4 <= hi + 1e-9,
            s"gap value ${sorted(g)._4} outside [$lo, $hi]")
        }
      }
      rows.foreach { r => assert(r._5 == (r._3 == 0L)) }
    }
  }

  test("resampleInterp: no window frame runs to unbounded following") {
    import java.sql.Timestamp
    import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedFollowing}
    val df = Seq((1L, new Timestamp(0L), 1.0), (1L, new Timestamp(7200000L), 3.0))
      .toDF("k", "t", "v")
    val plan = SeriesOps.resampleInterp(df, "k", "t", "v", 3600L).queryExecution.optimizedPlan
    val frames = plan.flatMap(_.expressions.flatMap(_.collect { case f: SpecifiedWindowFrame => f }))
    assert(frames.nonEmpty, "the operator has no window frame")
    // such a frame is re-aggregated from every row: quadratic per key
    assert(!frames.exists(_.upper == UnboundedFollowing), s"unbounded-following frame in $frames")
  }

  test("asof join carries the matched right row atomically (null fields survive)") {
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(s * 1000L)
    val left = Seq((1L, 10L, ts(3))).toDF("id", "k", "t")
    val right = Seq((10L, ts(1), Some(5.0), Some(6.0)),
      (10L, ts(2), None, Some(7.0))).toDF("k", "t", "a", "b")
    val row = graft.ops.AsofJoin.asof(left, right, "k", "t")
      .select("a", "b").head()
    // the t=2 row matches; its NULL a must not be backfilled from t=1
    assert(row.isNullAt(0) && row.getDouble(1) == 7.0)
  }

  test("resampleInterp: gaps blend nearest neighbours by bin distance") {
    import java.sql.Timestamp
    def ts(h: Int) = new Timestamp(h * 3600L * 1000L)
    // key 1 observes bins 0 and 3 (values 1.0, 7.0): gaps at bins 1, 2
    // interpolate to 3.0 and 5.0; observed bins keep their mean
    val df = Seq((1L, ts(0), 1.0), (1L, ts(3), 7.0))
      .toDF("k", "t", "v")
    val out = SeriesOps.resampleInterp(df, "k", "t", "v", 3600L)
      .orderBy("bin_start_s")
      .select("bin_start_s", "n_obs", "v", "is_gap")
      .as[(Long, Long, Double, Boolean)].collect()
    assert(out.map(_._3).toSeq == Seq(1.0, 3.0, 5.0, 7.0))
    assert(out.map(_._4).toSeq == Seq(false, true, true, false))
    assert(out.map(_._2).toSeq == Seq(1L, 0L, 0L, 1L))
  }

  test("resampleInterp == resampleLocf on gap-free data; multi-obs bins average") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val df = Seq((1L, ts(0), 2.0), (1L, ts(100), 4.0), // bin 0 mean 3.0
      (1L, ts(3700), 5.0)).toDF("k", "t", "v")
    val interp = SeriesOps.resampleInterp(df, "k", "t", "v", 3600L)
      .orderBy("bin_start_s").select("v").as[Double].collect().toSeq
    val locf = SeriesOps.resampleLocf(df, "k", "t", "v", 3600L)
      .orderBy("bin_start_s").select("v").as[Double].collect().toSeq
    assert(interp == Seq(3.0, 5.0) && interp == locf)
  }

  test("madOutlierStats: median/MAD exact on a fixture; planted spike counted") {
    // values 1..9 plus a 1000.0 spike: median = 5.5, deviations
    // {4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,994.5} -> MAD = 2.5;
    // only the spike's modified z (0.6745*994.5/2.5 = 268) > 3.5
    val df = ((1 to 9).map(v => (1L, v.toDouble)) :+ (1L, 1000.0))
      .toDF("k", "v")
    val r = SeriesOps.madOutlierStats(df, "k", "v")
      .select("n", "med", "mad", "n_outliers")
      .as[(Long, Double, Double, Long)].head()
    assert(r == ((10L, 5.5, 2.5, 1L)))
  }

  test("madOutlierStats: zero MAD (constant majority) flags no outliers") {
    // 5 identical values and one offset: MAD = 0 -> the guard must
    // report 0 outliers, not divide by zero
    val df = (Seq.fill(5)(3.0) :+ 100.0).map(("k", _)).toDF("k", "v")
    val r = SeriesOps.madOutlierStats(df, "k", "v")
      .select("mad", "n_outliers").as[(Double, Long)].head()
    assert(r == ((0.0, 0L)))
  }

  test("funnel stages: strict order, per-step horizon, min-based stage times") {
    import java.sql.Timestamp
    def ts(h: Int) = new Timestamp(h * 3600L * 1000L)
    val ev = Seq(
      // A completes in order within horizon
      (1L, ts(0), "view"), (1L, ts(1), "click"), (1L, ts(2), "purchase"),
      // B: click 25h after first view -> stops at stage 1
      (2L, ts(0), "view"), (2L, ts(25), "click"),
      // C: click with no view -> never enters the funnel
      (3L, ts(0), "click"), (3L, ts(1), "purchase"),
      // D: purchase BEFORE click doesn't count; later purchase does
      (4L, ts(0), "view"), (4L, ts(1), "purchase"), (4L, ts(2), "click"),
      (4L, ts(3), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val out = graft.ops.Funnel.stages(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), "24 HOURS")
      .orderBy("stage").as[(Long, String, Long)].collect().toSeq
    assert(out == Seq((1L, "view", 3L), (2L, "click", 2L), (3L, "purchase", 2L)))
  }

  test("matrixProfile: planted repeated shape is the motif, planted spike window is the discord") {
    // 48 points of a pure period-8 sawtooth: every clean window has
    // an EXACT twin 8 positions away (just outside the exclusion
    // zone), so clean nearest-neighbor distances are all 0 and the
    // motif is the first such pair — (1, 9) at distance 0. One spike
    // at position 20 contaminates exactly the windows containing it
    // (1-based starts 13-20); each has positive distance to its clean
    // twin, so the discord must be one of them.
    val base = (0 until 48).map(i => (i % 8).toDouble).toArray
    base(19) = 50.0
    val ser = Seq((1L, base.toSeq)).toDF("series_id", "values")
    val out = graft.ops.SeriesOps.matrixProfile(ser, 8)
      .as[(Long, Long, Long, Double, Long, Double)].head()
    assert(out._2 == 1L && out._3 == 9L && out._4 == 0.0, out.toString)
    assert(out._5 >= 13L && out._5 <= 20L, out.toString)
    assert(out._6 > 0.0)
    // too-short and constant series are dropped
    assert(graft.ops.SeriesOps.matrixProfile(
      Seq((2L, Seq.fill(20)(1.0))).toDF("series_id", "values"), 8).count() == 0)
    assert(graft.ops.SeriesOps.matrixProfile(
      Seq((3L, Seq.fill(48)(7.0))).toDF("series_id", "values"), 8).count() == 0)
  }

  test("ewma: hand-walked recurrence, constant-series fixpoint, first point = x1") {
    val ser = Seq(
      (1L, Seq(10.0, 20.0, 20.0)),  // y = 10, 13, 15.1 at α=0.3
      (2L, Seq(7.0, 7.0, 7.0, 7.0)) // constant series is a fixpoint
    ).toDF("series_id", "values")
    val out = graft.ops.SeriesOps.ewma(ser, 0.3)
      .select("series_id", "pos", "ewma")
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(out.filter(_._1 == 1L).map(_._3).toSeq == Seq(10.0, 13.0, 15.1),
      out.mkString(", "))
    assert(out.filter(_._1 == 2L).map(_._3).forall(_ == 7.0))
  }

  test("decompose: linear + zero-mean period-5 sawtooth separates exactly") {
    // x_i = i + s[(i-1)%5] with s zero-mean: a 5-point centered MA
    // spans one full period, so trend_i == i EXACTLY (integer sums,
    // exact /5), detrended == s_phase, seasonal == s_phase, and the
    // remainder vanishes — all in exact float arithmetic
    val s5 = Seq(4.0, -3.0, 2.0, -1.0, -2.0)
    val xs = (1 to 15).map(i => i.toDouble + s5((i - 1) % 5))
    val ser = Seq((1L, xs)).toDF("series_id", "values")
    val out = graft.ops.SeriesOps.decompose(ser, 5)
      .select("pos", "trend", "seasonal", "remainder")
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == (3L to 13L), out.mkString(", "))
    assert(out.forall(r => r._2 == r._1.toDouble), s"trend: ${out.mkString(", ")}")
    assert(out.forall(r => r._3 == s5(((r._1 - 1) % 5).toInt)),
      s"seasonal: ${out.mkString(", ")}")
    assert(out.forall(_._4 == 0.0), s"remainder: ${out.mkString(", ")}")
  }

  test("acf: alternating series has acf(ℓ) = (-1)^ℓ·(n-ℓ)/n; const series dropped") {
    val n = 12
    val alt = Seq(("s", (1 to n).map(i => if (i % 2 == 1) 1.0 else -1.0).toArray))
      .toDF("series_id", "values")
    val got = SeriesOps.acf(alt, 3).orderBy("lag")
      .as[(String, Long, Double)].collect()
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L))
    got.foreach { case (_, lag, a) =>
      val expect = math.pow(-1.0, lag.toDouble) * (n - lag).toDouble / n
      assert(math.abs(a - expect) < 2e-6, s"lag $lag: $a vs $expect")
    }
    val const = Seq(("k", Array.fill(n)(7.0))).toDF("series_id", "values")
    assert(SeriesOps.acf(const, 3).count() == 0) // zero variance → dropped
  }

  test("cusum: mean shift at k flagged with cp_pos = k; bounded alternation is not") {
    val step = Seq(("s", (Array.fill(10)(0.0) ++ Array.fill(10)(1.0))))
      .toDF("series_id", "values")
    val r = SeriesOps.cusum(step).as[(String, Long, Double, Boolean)].head()
    assert(r._2 == 10L, s"cp_pos ${r._2}")
    // |S_10| = 5 / (0.5·√20) = √5 ≈ 2.2360
    assert(math.abs(r._3 - 2.2360) < 2e-4 && r._4)
    val alt = Seq(("s", (1 to 20).map(i => if (i % 2 == 1) 1.0 else -1.0).toArray))
      .toDF("series_id", "values")
    val a = SeriesOps.cusum(alt).as[(String, Long, Double, Boolean)].head()
    assert(!a._4, s"alternation flagged: $a") // max |S| = 1/√20 « 1.358
  }

  test("theilSen: exact on a clean ramp; robust to a single outlier; minLen filter") {
    // v_i = 3i + 5: every pairwise slope is exactly 3.0 (integer-double
    // arithmetic), every residual exactly 5.0 — equality pins, no tolerance
    val ramp = Seq(("s", (1 to 12).map(i => 3.0 * i + 5.0).toArray))
      .toDF("series_id", "values")
    val r = SeriesOps.theilSen(ramp).as[(String, Long, Double, Double)].head()
    assert(r._2 == 12L && r._3 == 3.0 && r._4 == 5.0, s"ramp: $r")
    // one wild outlier at i=6 leaves the median of the 105 pairwise
    // slopes (only 14 touch the outlier) and the lower-median residual
    // untouched: slope exactly 2.0, intercept exactly 0.0 — the
    // breakdown-resistance OLS lacks
    val out = Seq(("s", (1 to 15).map(i => if (i == 6) 100.0 else 2.0 * i).toArray))
      .toDF("series_id", "values")
    val o = SeriesOps.theilSen(out).as[(String, Long, Double, Double)].head()
    assert(o._3 == 2.0 && o._4 == 0.0, s"outlier: $o")
    val short = Seq(("s", (1 to 9).map(_.toDouble).toArray))
      .toDF("series_id", "values")
    assert(SeriesOps.theilSen(short).count() == 0)
  }

  test("theilSen: sampled tier above the length gate — exact on affine series, " +
      "outlier-robust, close to the exact estimator, deterministic") {
    // affine series: EVERY pairwise slope is exactly 3.0, so whichever
    // pairs the sampler draws, its lower median is exactly 3.0 and the
    // intercept residuals are exactly 5.0 — equality pins the sampled
    // tier with no tolerance
    val affine = Seq(("s", (1 to 1200).map(i => 3.0 * i + 5.0).toArray))
      .toDF("series_id", "values")
    val a = SeriesOps.theilSen(affine).as[(String, Long, Double, Double)].head()
    assert(a._2 == 1200L && a._3 == 3.0 && a._4 == 5.0, s"affine sampled: $a")
    // 10% wild outliers: > 80% of sampled pairs avoid all outliers, so
    // the sampled lower median stays exactly 2.0 like the exact tier
    val out = Seq(("s", (1 to 1200)
        .map(i => if (i % 10 == 0) 5000.0 else 2.0 * i).toArray))
      .toDF("series_id", "values")
    val o = SeriesOps.theilSen(out).as[(String, Long, Double, Double)].head()
    assert(o._3 == 2.0, s"outlier sampled slope: $o")
    // agreement with the exact estimator on a noisy series: force the
    // SAMPLED path (gate 100) vs the EXACT path (default gate) on the
    // same n=400 series — deterministic pseudo-noise, slope ~0.5
    val noisy = Seq(("s", (1 to 400)
        .map(i => 0.5 * i + math.sin(i * 12.9898) * 7.0).toArray))
      .toDF("series_id", "values")
    val exact = SeriesOps.theilSen(noisy).as[(String, Long, Double, Double)].head()
    val sampled = SeriesOps.theilSen(noisy, lengthGate = 100)
      .as[(String, Long, Double, Double)].head()
    assert(math.abs(sampled._3 - exact._3) < 0.02,
      s"sampled ${sampled._3} vs exact ${exact._3}")
    assert(math.abs(sampled._4 - exact._4) < 2.0,
      s"sampled intercept ${sampled._4} vs exact ${exact._4}")
    // determinism: the xxhash64(series_id, s) sample is a pure function
    // of its inputs — two runs, bit-identical rows
    val r1 = SeriesOps.theilSen(noisy, lengthGate = 100).collect().toSeq
    val r2 = SeriesOps.theilSen(noisy, lengthGate = 100).collect().toSeq
    assert(r1 == r2)
  }

  test("theilSen sampled tier: rank error within the documented " +
      "O(1/√(s·n)) bound on series straddling the length gate (VERDICT r11 #10)") {
    // Property (seeded loop; the scaladoc's Matoušek bound): the
    // sampled estimate is the lower median of m = s·n uniform pair
    // draws, so its RANK within the exact n(n-1)/2 slope distribution
    // is Binomial(m, 1/2)-concentrated: sd = 0.5/√m. Assert the rank
    // fraction lands within 6 sd of 1/2 for every (n, shape) combo —
    // a deterministic sampler (xxhash64) makes this a hard pin, not a
    // flake. Shapes mix smooth trend, heavy sinusoid noise and 10%
    // wild outliers; n straddles the default gate (1000).
    val shapes = Seq[(String, (Int, Int) => Double)](
      ("trend+sin", (i, _) => 0.7 * i + math.sin(i * 12.9898) * 25.0),
      ("outliers", (i, k) => if (i % 10 == k % 10) 4000.0 else 1.3 * i
        + math.cos(i * 7.1234) * 11.0),
      ("pure-noise", (i, _) => math.sin(i * 3.33) * 50.0
        + math.cos(i * 0.771) * 30.0))
    for (n <- Seq(1001, 1500, 2500); (nm, f) <- shapes) {
      val vs = (1 to n).map(i => f(i, n)).toArray
      val df = Seq((s"s_${nm}_$n", vs)).toDF("series_id", "values")
      val got = SeriesOps.theilSen(df).as[(String, Long, Double, Double)].head()
      // exact slope distribution, driver-side (≤ 3.1M doubles at 2500)
      val slopes = new scala.collection.mutable.ArrayBuffer[Double](n * (n - 1) / 2)
      var i = 0
      while (i < n - 1) {
        var j = i + 1
        while (j < n) { slopes += (vs(j) - vs(i)) / (j - i); j += 1 }
        i += 1
      }
      val sorted = slopes.toArray; java.util.Arrays.sort(sorted)
      val total = sorted.length.toDouble
      // 6dp output quantization → tolerant rank interval
      val lo = sorted.count(_ < got._3 - 1e-6) / total
      val hi = sorted.count(_ <= got._3 + 1e-6) / total
      val m = math.min(16L * n, 10000000L).toDouble
      val bound = 6.0 * 0.5 / math.sqrt(m)
      assert(lo <= 0.5 + bound && hi >= 0.5 - bound,
        s"$nm n=$n: sampled slope ${got._3} rank interval [$lo,$hi] " +
          s"outside 0.5±$bound")
    }
  }

  test("forecastEval: drift is exact on a ramp (mase 0), naive pays the trend; " +
      "flat series dropped") {
    // v_i = 2i, n = 20, h = 8 → n_train 12, drift slope (24−2)/11 = 2
    // exactly, so drift forecasts the holdout perfectly; naive errs by
    // 2i → MAE = 2·(1+…+8)/8 = 9
    val ramp = Seq(("s", (1 to 20).map(i => 2.0 * i).toArray))
      .toDF("series_id", "values")
    val r = SeriesOps.forecastEval(ramp)
      .as[(String, Long, Double, Double, Double, Boolean)].head()
    assert(r._2 == 12L, s"n_train ${r._2}")
    assert(r._3 == 9.0 && r._4 == 0.0 && r._5 == 0.0 && r._6, s"ramp: $r")
    // constant series: in-sample naive MAE is 0 → MASE undefined → dropped
    val flat = Seq(("s", Array.fill(20)(5.0))).toDF("series_id", "values")
    assert(SeriesOps.forecastEval(flat).count() == 0)
  }

  test("stlStrength: ramp+alternation decomposes exactly (both strengths 1); pure ramp degenerate") {
    // v_i = i + 4·(−1)^(i+1): MA5 leaves det_i = (4/5)·s_i, every
    // phase's det values are identical, so the 6dp-quantized remainder
    // is exactly 0 → F_trend = F_seasonal = 1.0 as equalities
    val mix = Seq(("s", (1 to 24).map(i =>
      i.toDouble + (if (i % 2 == 1) 4.0 else -4.0)).toArray))
      .toDF("series_id", "values")
    val r = SeriesOps.stlStrength(mix, 4)
      .as[(String, Long, Double, Double)].head()
    assert(r._2 == 20L && r._3 == 1.0 && r._4 == 1.0, r.toString)
    // a pure ramp has zero detrended variance — the seasonal strength
    // is undefined (0/0) and the series must be dropped, not NaN'd
    val ramp = Seq(("s", (1 to 24).map(_.toDouble).toArray))
      .toDF("series_id", "values")
    assert(SeriesOps.stlStrength(ramp, 4).count() == 0)
  }

  test("holt: exact trend-following on a linear ramp (level == value, trend == d)") {
    // ramp x_i = 2i: init l₁ = x₁, b₁ = d = 2; inductively
    // l = 0.5·xᵢ + 0.5·(xᵢ₋₁ + d) = xᵢ and b stays d — every FP op is
    // exact on these integers, so the pin is equality, not tolerance.
    val ramp = Seq(("s", (1 to 12).map(i => 2.0 * i).toArray))
      .toDF("series_id", "values")
    val got = SeriesOps.holt(ramp, 0.5, 0.3).orderBy("pos")
      .as[(String, Long, Double, Double, Double)].collect()
    assert(got.length == 12)
    assert(got.forall(r => r._4 == r._3), s"level != value: ${got.mkString(", ")}")
    assert(got.forall(_._5 == 2.0), s"trend != 2: ${got.mkString(", ")}")
    // shorter than 3 points → dropped
    val tiny = Seq(("t", Array(1.0, 2.0))).toDF("series_id", "values")
    assert(SeriesOps.holt(tiny, 0.5, 0.3).count() == 0)
  }

  test("paa/sax: exact z-scores on a two-level step series; word pins the bins") {
    // [0,0,0,0,4,4,4,4]: mean 2, var 4, std 2 → z = ±1 EXACTLY; w=4
    // segments of 2 → paa [-1,-1,1,1]; bins: -1 < -0.6745 → 'a',
    // 1 ≥ 0.6745 → 'd' → word "aadd". Every FP op exact.
    val step = Seq(("s", Array(0.0, 0.0, 0.0, 0.0, 4.0, 4.0, 4.0, 4.0)))
      .toDF("series_id", "values")
    val p = SeriesOps.paa(step, 4, minLen = 4).orderBy("seg")
      .as[(String, Long, Double)].collect()
    assert(p.map(_._3).toSeq == Seq(-1.0, -1.0, 1.0, 1.0), p.mkString(", "))
    val w = SeriesOps.sax(step, 4, minLen = 4).as[(String, String)].head()
    assert(w._2 == "aadd")
    // constant series (variance 0) dropped; n < w dropped
    val const = Seq(("c", Array.fill(8)(3.0))).toDF("series_id", "values")
    assert(SeriesOps.paa(const, 4, minLen = 4).count() == 0)
    val tiny = Seq(("t", Array(1.0, 2.0, 3.0))).toDF("series_id", "values")
    assert(SeriesOps.paa(tiny, 4, minLen = 4).count() == 0)
    // ragged boundaries: n=10, w=4 → segments [1,2],[3,5],[6,7],[8,10]
    val ragged = Seq(("r", (1 to 10).map(_.toDouble).toArray))
      .toDF("series_id", "values")
    val segs = SeriesOps.paa(ragged, 4, minLen = 4).orderBy("seg")
      .as[(String, Long, Double)].collect()
    assert(segs.length == 4)
    assert(segs.map(_._3).sliding(2).forall(a => a(0) < a(1)),
      s"ramp paa not increasing: ${segs.mkString(", ")}")
  }

  test("periodogram: planted pure cosine at k=2 dominates; constant series dropped") {
    val n = 16
    val planted = Seq(("s", (1 to n).map(i =>
      math.cos(2 * math.Pi * 2 * i / n)).toArray)).toDF("series_id", "values")
    val rows = SeriesOps.periodogram(planted, 5).orderBy("k")
      .as[(String, Long, Double, Boolean)].collect()
    assert(rows.length == 5)
    val dom = rows.filter(_._4)
    assert(dom.length == 1 && dom.head._2 == 2L, rows.mkString(", "))
    // energy concentration: k=2 carries ≥ 100× any other frequency
    val p2 = rows.find(_._2 == 2L).get._3
    assert(rows.filter(_._2 != 2L).forall(r => r._3 * 100 <= p2),
      rows.mkString(", "))
    val const = Seq(("c", Array.fill(16)(3.0))).toDF("series_id", "values")
    assert(SeriesOps.periodogram(const, 5).count() == 0)
  }

  test("sax motifs: identical-shape series share a word") {
    // same shape at different offsets/scales — z-normalization maps
    // both to the same z sequence, so the SAX words are equal
    val df = Seq(
      ("a", Array(0.0, 0.0, 0.0, 0.0, 4.0, 4.0, 4.0, 4.0)),
      ("b", Array(10.0, 10.0, 10.0, 10.0, 30.0, 30.0, 30.0, 30.0)),
      ("c", Array(4.0, 4.0, 4.0, 4.0, 0.0, 0.0, 0.0, 0.0))
    ).toDF("series_id", "values")
    val words = SeriesOps.sax(df, 4, minLen = 4)
      .as[(String, String)].collect().toMap
    assert(words("a") == words("b"))
    assert(words("c") == "ddaa")
  }

  test("crossCorr: exact ±1 on linearly dependent series, pairs s_a < s_b only") {
    val df = Seq(
      ("a", Array(1.0, 2.0, 3.0, 4.0)),
      ("b", Array(2.0, 4.0, 6.0, 8.0)),
      ("c", Array(4.0, 3.0, 2.0, 1.0))).toDF("series_id", "values")
    val got = SeriesOps.crossCorr(df).orderBy("s_a", "s_b")
      .as[(String, String, Double)].collect()
    assert(got.map(p => (p._1, p._2)).toSeq == Seq(("a","b"), ("a","c"), ("b","c")))
    assert(got(0)._3 == 1.0 && got(1)._3 == -1.0 && got(2)._3 == -1.0,
      got.mkString(", "))
  }

  test("const series: normalization raises, matching the reference's ZeroDivisionError") {
    // FIXTURES.md const_series edge: max == min. The reference's Python
    // loop raises ZeroDivisionError (app.py:365); under Spark 4 ANSI
    // mode the engine likewise raises on the 0-range division — the
    // SAME defined behavior (fail loudly, no silent NaNs).
    val df = Seq(5.0, 5.0, 5.0).toDF("v")
    val ex = intercept[Exception] {
      SeriesOps.withNormalized(df, "v").select("min_max").head()
    }
    assert(ex.getMessage.contains("DIVIDE_BY_ZERO"))
  }
}
