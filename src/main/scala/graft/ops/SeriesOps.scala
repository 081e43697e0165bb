package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core time-series operators re-expressed Spark-first.
  *
  * Reference semantics (citations into /root/reference/):
  *  - align + normalize front door: app.py:140-238 (§1.4 of SURVEY.md)
  *  - min-max / z-score (whole-column, population std): app.py:358-382
  *  - truncation / padding: app.py:246-280
  *  - sliding window (drop_remainder): app.py:285-295
  *
  * Scale notes: the global stats used by normalize/truncate/pad are
  * one-row full-scan reductions (map-side partial agg), broadcast back
  * via a 1-row cross join — the data itself never shuffles for them.
  * The long→nested transform shuffles once on the series key, which is
  * the natural partitioning for every downstream per-series operator.
  */
object SeriesOps extends Serializable {

  /** Spark's round() on a DOUBLE, exactly as its codegen evaluates it:
    * java.math.BigDecimal.valueOf(x).setScale(0, HALF_UP) followed by
    * the double->long cast. ONE shared twin (round 13 review: the
    * periodogram and matrix-profile kernels each carried a private
    * copy; a future edit to one would silently not apply to the
    * other). Identical to BigDecimal.decimal(x)... .toLong for every
    * magnitude the series kernels quantize (|x| far below 2^53). */
  private def sparkRound(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** P2 + N1 + N2: drop null values, append whole-column `min_max` and
    * `z_score` columns (app.py:184-192; population stddev, ddof=0).
    * The reference appends both but feeds min_max downstream (§1.4). */
  def withNormalized(df: DataFrame, vc: String): DataFrame = {
    val v = col(vc)
    val clean = df.na.drop(Seq(vc))
    val stats = clean.agg(
      min(v).as("__mn"), max(v).as("__mx"),
      avg(v).as("__av"), stddev_pop(v).as("__sd"))
    clean.crossJoin(broadcast(stats))
      .withColumn("min_max", (v - col("__mn")) / (col("__mx") - col("__mn")))
      .withColumn("z_score", (v - col("__av")) / col("__sd"))
      .drop("__mn", "__mx", "__av", "__sd")
  }

  /** A1: long rows → one nested row per series, values in explicit
    * `seqCol` order. The reference depends on file order within each
    * group (app.py:212-217); Spark makes that an explicit sort key.
    * Output schema: series_id, values: Array[Double]. */
  def collectSeries(df: DataFrame, keyCol: String, vc: String, seqCol: String): DataFrame =
    df.na.drop(Seq(vc))
      .groupBy(col(keyCol).as("series_id"))
      .agg(transform(
        sort_array(collect_list(struct(col(seqCol).as("__s"), col(vc).cast("double").as("__v")))),
        x => x("__v")).as("values"))

  private def sumArr(c: Column): Column = aggregate(c, lit(0.0), (a, x) => a + x)

  /** Sum of an array column (sequential left fold, like numpy's walk). */
  def arraySum(c: Column): Column = sumArr(c)

  /** W1 truncation: cut every series to the global min length
    * (app.py:246-261). One-row agg broadcast, no data shuffle. */
  def truncate(series: DataFrame): DataFrame = {
    val m = series.agg(min(size(col("values"))).as("__L"))
    series.crossJoin(broadcast(m))
      .withColumn("values", slice(col("values"), lit(1), col("__L")))
      .drop("__L")
  }

  /** W2 zero padding: right-pad every series to the global max length
    * with 0.0 (app.py:266-280, np.pad constant). */
  def pad(series: DataFrame): DataFrame = {
    val m = series.agg(max(size(col("values"))).as("__M"))
    series.crossJoin(broadcast(m))
      .withColumn("values",
        concat(col("values"),
          array_repeat(lit(0.0), (col("__M") - size(col("values"))).cast("int"))))
      .drop("__M")
  }

  /** W3 + W3b sliding window, drop_remainder=True: series of length n
    * → floor((n-w)/s)+1 windows (app.py:285-295); the window index
    * becomes the new key (app.py:1788-1793). Series shorter than w
    * yield no windows. Output: series_id, win_id, window. */
  def slidingWindow(series: DataFrame, w: Int, s: Int): DataFrame = {
    val n = size(col("values"))
    series
      .filter(n >= w)
      .select(col("series_id"),
        posexplode(transform(
          sequence(lit(0), n - lit(w), lit(s)),
          i => slice(col("values"), i + lit(1), lit(w)))))
      .withColumnRenamed("pos", "win_id")
      .withColumnRenamed("col", "window")
  }

  /** Exponentially weighted moving average per series ([EXT]): the
    * classic time-series smoother y₁ = x₁, yᵢ = α·xᵢ + (1−α)·yᵢ₋₁ —
    * the denoising pre-pass a clustering pipeline runs before
    * DTW/K-Shape (raw sensor series cluster on noise otherwise).
    * Output: one row per point (series_id, pos 1-based, value, ewma).
    *
    * Determinism is the sequential fold itself: the recurrence is
    * order-dependent BY DEFINITION, so it runs as an index-ordered
    * array fold over the collected series (the [[collectSeries]]
    * shape the whole ts tier shares) — bit-identical at any
    * parallelism, and a DuckDB oracle replays the same multiply-add
    * chain with `list_reduce` over each prefix. The α constants are
    * SQL-evaluated (`CAST(α AS DOUBLE)`) on BOTH engines so the IEEE
    * ops match exactly.
    *
    * Scale: zero shuffle beyond the series groupBy the pipeline is
    * already partitioned by; the fold is O(n) multiply-adds per
    * series (the accumulator-array concat costs O(n²) COPYING in
    * expression eval — fine at sensor-series lengths; a mapPartitions
    * kernel is the drop-in for million-point series). */
  def ewma(series: DataFrame, alpha: Double): DataFrame =
    series
      .withColumn("__e", expr(
        s"""aggregate(values, CAST(array() AS ARRAY<DOUBLE>),
           |  (acc, x) -> acc || array(CASE WHEN size(acc) = 0 THEN x
           |    ELSE CAST($alpha AS DOUBLE) * x
           |         + (CAST(1 AS DOUBLE) - CAST($alpha AS DOUBLE))
           |           * element_at(acc, -1) END))""".stripMargin))
      .select(col("series_id"),
        posexplode(arrays_zip(col("values"), col("__e"))).as(Seq("__i", "__z")))
      .select(col("series_id"), (col("__i") + 1).cast("long").as("pos"),
        q6(col("__z.values")).as("value"),
        q6(col("__z.__e")).as("ewma"))

  /** 6-dp quantization via floor(x·1e6 + 0.5)/1e6 — the int8
    * quantizer's engine-agnostic halfway rule. `round(x, 6)` is NOT
    * cross-engine stable on arbitrary doubles: Spark rounds the exact
    * decimal expansion (BigDecimal HALF_UP) where DuckDB rounds in
    * float math, and a smoothed series hits the disagreement window at
    * ~10⁻⁴ per point (measured: 0.006% of sf0.1 rows before this). */
  private[graft] def q6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)

  /** EWMA-residual anomaly flags ([EXT]): the time-structure-aware
    * outlier detector — residual rᵢ = xᵢ − ewmaᵢ₋₁ (the one-step
    * smoother forecast), flagged when |rᵢ − mean(r)| > `nSigma`·std(r)
    * per series. The value-distribution detectors (`pt_zscore`,
    * `pt_mad`) flag globally-extreme VALUES; this flags extreme
    * JUMPS, which is what a sensor fault or level shift looks like on
    * a trending series whose values are all "normal".
    *
    * Determinism: the EWMA rides [[ewma]]'s sequential-fold contract;
    * the residual moments are EXACT INTEGER micro-sums
    * (round(r·10⁶), round(r²·10⁶) — the dimStats idiom, order-free),
    * so mean/std are single identical IEEE divisions on both engines
    * and the flag compares exactly. Emits ONLY flagged points:
    * (series_id, pos, value, resid, z) with resid [[q6]]-quantized
    * and z 4-dp on the same halfway rule.
    *
    * Scale: zero shuffle beyond the series groupBy; ONE per-series
    * fold computing the EWMA recurrence, residuals, and both moment
    * micro-sums in a single pass, bound once through a
    * `transform(array(fold), a -> …)` lambda. The obvious chained
    * `withColumn` spelling (ewma array → residual transform → two
    * moment folds → mean/std) is 85× slower here: CollapseProject
    * merges the chain into one projection, duplicating the fold into
    * every consumer, and lambda-bearing HOFs are EXCLUDED from
    * Spark's subexpression elimination — measured 42 s vs 0.5 s for
    * the single-consumer [[ewma]] on the same 1,500 series. */
  def ewmaAnomalies(series: DataFrame, alpha: Double,
      nSigma: Double): DataFrame = {
    val a = s"CAST($alpha AS DOUBLE)"
    // acc.prev = ewma_{i−1} when x_i arrives, so r_i = x − acc.prev
    // reproduces the chained spelling's IEEE ops bit-for-bit (the
    // DuckDB oracle replays the same multiply-add chain)
    val fold =
      s"""aggregate(values,
         |  named_struct('prev', CAST(NULL AS DOUBLE),
         |    'rs', CAST(array() AS ARRAY<DOUBLE>), 's1', 0L, 's2', 0L),
         |  (acc, x) -> named_struct(
         |    'prev', CASE WHEN acc.prev IS NULL THEN x
         |      ELSE $a * x + (CAST(1 AS DOUBLE) - $a) * acc.prev END,
         |    'rs', CASE WHEN acc.prev IS NULL THEN acc.rs
         |      ELSE acc.rs || array(x - acc.prev) END,
         |    's1', CASE WHEN acc.prev IS NULL THEN acc.s1
         |      ELSE acc.s1 + CAST(round((x - acc.prev) * 1e6) AS LONG) END,
         |    's2', CASE WHEN acc.prev IS NULL THEN acc.s2
         |      ELSE acc.s2 + CAST(round((x - acc.prev) * (x - acc.prev)
         |        * 1e6) AS LONG) END))""".stripMargin
    val mean = "(CAST(a.s1 AS DOUBLE) / size(a.rs) / 1e6)"
    val std = "sqrt(greatest(CAST(0 AS DOUBLE), " +
      s"CAST(a.s2 AS DOUBLE) / size(a.rs) / 1e6 - $mean * $mean))"
    // __std > 0 guard: quantized moments can reach zero variance on
    // sub-micro residual spreads while the RAW |r − mean| stays
    // positive — flagged=false keeps the z division (double /0 →
    // inf/NaN, never an ANSI error) out of the output
    val flagged =
      s"""flatten(transform(array($fold), a ->
         |  filter(
         |    transform(sequence(1, size(a.rs)), i -> named_struct(
         |      'pos', CAST(i + 1 AS BIGINT),
         |      'value', element_at(values, CAST(i + 1 AS INT)),
         |      'resid', element_at(a.rs, i),
         |      'z', (element_at(a.rs, i) - $mean) / $std,
         |      'flag', $std > CAST(0 AS DOUBLE)
         |        AND abs(element_at(a.rs, i) - $mean)
         |          > CAST($nSigma AS DOUBLE) * $std)),
         |    p -> p.flag)))""".stripMargin
    series
      .filter(size(col("values")) >= 3)
      .select(col("series_id"), explode(expr(flagged)).as("__p"))
      .select(col("series_id"), col("__p.pos").as("pos"),
        q6(col("__p.value")).as("value"),
        q6(col("__p.resid")).as("resid"),
        (floor(col("__p.z") * lit(1e4) + lit(0.5)).cast("double")
          / lit(1e4)).as("z"))
  }

  /** Classical additive seasonal decomposition, STL-lite ([EXT]):
    * per series, trend = centered 5-point moving average (defined for
    * interior points), seasonal = per-phase mean of the detrended
    * values at phase (i−1) mod `period`, remainder = detrended −
    * seasonal — the decomposition a time-series pipeline runs before
    * clustering/anomaly flags so periodic structure doesn't read as
    * distance.
    *
    * Determinism: every cross-point reduction is an INDEX-ORDERED
    * fold over the collected series array (the [[ewma]] discipline) —
    * the 5-point trend sum is written with explicit left association,
    * phase sums fold ascending — so DuckDB replays the identical IEEE
    * chains with list comprehensions + list_reduce. Output points are
    * [[q6]]-quantized.
    *
    * Scale: zero shuffle beyond the series groupBy; all arithmetic is
    * per-series array expressions (codegen'd HOFs, no UDF). */
  def decompose(series: DataFrame, period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val det =
      """transform(sequence(1, size(values)), i ->
        |  CASE WHEN i >= 3 AND i <= size(values) - 2 THEN
        |    element_at(values, i) -
        |    ((((element_at(values, i - 2) + element_at(values, i - 1))
        |        + element_at(values, i))
        |       + element_at(values, i + 1)) + element_at(values, i + 2)) / 5.0D
        |  END)""".stripMargin
    // ANSI guard: a phase with no interior points must yield NULL, not
    // a double division by zero (which raises under Spark 4 ANSI)
    val phaseList =
      s"""filter(transform(sequence(1, size(values)), i ->
         |      CASE WHEN (i - 1) % $period = p THEN element_at(__det, i) END),
         |      x -> x IS NOT NULL)""".stripMargin
    val seas =
      s"""transform(sequence(0, ${period - 1}), p ->
         |  CASE WHEN size($phaseList) > 0 THEN
         |    aggregate($phaseList, CAST(0 AS DOUBLE), (acc, x) -> acc + x)
         |    / size($phaseList)
         |  END)""".stripMargin
    val out =
      s"""filter(transform(sequence(1, size(values)), i ->
         |  CASE WHEN i >= 3 AND i <= size(values) - 2 THEN
         |    named_struct('pos', CAST(i AS BIGINT),
         |      'value', element_at(values, i),
         |      'trend', element_at(values, i) - element_at(__det, i),
         |      'det', element_at(__det, i),
         |      'seas', element_at(__seas, CAST((i - 1) % $period AS INT) + 1))
         |  END), x -> x IS NOT NULL)""".stripMargin
    series
      .filter(size(col("values")) >= 5)
      .withColumn("__det", expr(det))
      .withColumn("__seas", expr(seas))
      .select(col("series_id"), explode(expr(out)).as("o"))
      .select(col("series_id"), col("o.pos").as("pos"),
        q6(col("o.value")).as("value"), q6(col("o.trend")).as("trend"),
        q6(col("o.seas")).as("seasonal"),
        q6(col("o.det") - col("o.seas")).as("remainder"))
  }

  /** Seasonal/trend STRENGTH per series ([EXT] — Wang, Smith &
    * Hyndman 2006; the STL-feature pair): over the [[decompose]]
    * output, F_trend = max(0, 1 − var(R)/var(value − seasonal)) and
    * F_seasonal = max(0, 1 − var(R)/var(R + seasonal)) — the two
    * numbers that say whether the trend/seasonal components actually
    * explain anything, i.e. the triage stat a forecasting pipeline
    * uses to route series (seasonal model vs drift vs noise).
    *
    * Determinism: inputs are decompose's ALREADY cross-engine-equal
    * 6dp columns; all moments are exact integer micro-sums
    * (order-free), variances one identical IEEE chain, output on the
    * floor(x·10⁶+0.5) halfway rule.
    *
    * Scale: one partial-aggregated group-by over the decompose rows —
    * no extra shuffle beyond the series groupBy it inherits.
    * Output: (series_id, n, f_trend 6dp, f_seasonal 6dp); series with
    * fewer than 8 interior points or a degenerate variance dropped. */
  def stlStrength(series: DataFrame, period: Int): DataFrame = {
    def s1(c: Column) = sum(round(c * lit(1e6)).cast("long"))
    def s2(c: Column) = sum(round(c * c * lit(1e6)).cast("long"))
    def varOf(a: String, b: String) = {
      val m = col(a).cast("double") / col("n") / lit(1e6)
      col(b).cast("double") / col("n") / lit(1e6) - m * m
    }
    val rem = col("remainder")
    val ds = col("remainder") + col("seasonal")
    val tr = col("value") - col("seasonal")
    decompose(series, period)
      .groupBy("series_id")
      .agg(count(lit(1)).as("n"),
        s1(rem).as("__r1"), s2(rem).as("__r2"),
        s1(ds).as("__d1"), s2(ds).as("__d2"),
        s1(tr).as("__t1"), s2(tr).as("__t2"))
      .withColumn("__vr", varOf("__r1", "__r2"))
      .withColumn("__vd", varOf("__d1", "__d2"))
      .withColumn("__vt", varOf("__t1", "__t2"))
      .filter(col("n") >= 8 && col("__vd") > 0.0 && col("__vt") > 0.0)
      .select(col("series_id"), col("n"),
        (floor(greatest(lit(0.0), lit(1.0) - col("__vr") / col("__vt"))
          * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("f_trend"),
        (floor(greatest(lit(0.0), lit(1.0) - col("__vr") / col("__vd"))
          * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("f_seasonal"))
  }

  /** Holt's linear-trend (double exponential) smoothing per series
    * ([EXT]): the level/trend upgrade of [[ewma]] — l₁ = x₁,
    * b₁ = x₂ − x₁, then lᵢ = α·xᵢ + (1−α)(lᵢ₋₁ + bᵢ₋₁) and
    * bᵢ = β(lᵢ − lᵢ₋₁) + (1−β)bᵢ₋₁ — the smoother a trending sensor
    * series needs (plain EWMA lags a trend by a constant offset).
    *
    * Determinism: the [[ewma]] contract — the coupled recurrence is
    * order-dependent by definition and runs as ONE index-ordered
    * array fold (struct accumulator carrying (l, b)); all α/β
    * constants are SQL-evaluated casts so DuckDB replays the
    * identical IEEE multiply-add chain with list_reduce over struct
    * prefixes. Output [[q6]]-quantized.
    *
    * Scale: zero shuffle beyond the series groupBy; O(n) fold steps
    * (O(n²) accumulator copying in expression eval, the ewma note).
    * Output: (series_id, pos, value, level, trend), series shorter
    * than 3 dropped. */
  def holt(series: DataFrame, alpha: Double, beta: Double): DataFrame = {
    val a = s"CAST($alpha AS DOUBLE)"
    val b = s"CAST($beta AS DOUBLE)"
    val one = "CAST(1 AS DOUBLE)"
    val newl = s"$a * element_at(values, i) + ($one - $a) " +
      "* (element_at(acc, -1).l + element_at(acc, -1).b)"
    val fold =
      s"""aggregate(sequence(2, size(values)),
         |  array(named_struct('l', element_at(values, 1),
         |    'b', element_at(values, 2) - element_at(values, 1))),
         |  (acc, i) -> acc || array(named_struct(
         |    'l', $newl,
         |    'b', $b * (($newl) - element_at(acc, -1).l)
         |         + ($one - $b) * element_at(acc, -1).b)))""".stripMargin
    series
      .filter(size(col("values")) >= 3)
      .withColumn("__st", expr(fold))
      .select(col("series_id"),
        posexplode(arrays_zip(col("values"), col("__st"))).as(Seq("__i", "__z")))
      .select(col("series_id"), (col("__i") + 1).cast("long").as("pos"),
        q6(col("__z.values")).as("value"),
        q6(col("__z.__st.l")).as("level"),
        q6(col("__z.__st.b")).as("trend"))
  }

  /** Per-series autocorrelation function ([EXT]): acf(ℓ) =
    * Σᵢ(xᵢ−x̄)(xᵢ₊ℓ−x̄) / Σᵢ(xᵢ−x̄)² for ℓ = 1..`maxLag` — the lag
    * structure probe a clustering pipeline runs to pick window sizes
    * and to separate trending from mean-reverting series before
    * DTW/K-Shape.
    *
    * Determinism: the mean and both quadratic sums are EXACT INTEGER
    * micro-sums (round(term·10⁶) summed as LONG — the dimStats idiom,
    * order-free), so every engine computes the identical mean, the
    * identical numerator/denominator integers, and one identical IEEE
    * division per lag. Output acf is [[q6]]-quantized.
    *
    * Scale: zero shuffle beyond the series groupBy; O(maxLag·n)
    * multiply-adds per series, all codegen'd array HOFs.
    * Output: (series_id, lag, acf), series shorter than `minLen` or
    * with zero quantized variance dropped. */
  def acf(series: DataFrame, maxLag: Int, minLen: Int = 10): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    // ONE expression per series, moments bound once through nested
    // transform(array(·), v -> …) lambdas (the [[ewmaAnomalies]]
    // idiom): the chained-withColumn spelling let the optimizer inline
    // the mean/denominator folds into per-element lambda bodies —
    // O(n²) interpreted HOF steps per series, measured 11 s net vs
    // sub-second for this shape on the same 1,500 series. IEEE chains
    // are unchanged (same folds, same division), oracle untouched.
    val s1 = "aggregate(values, 0L, (acc, x) -> acc + CAST(round(x * 1e6) AS LONG))"
    val rows =
      s"""flatten(transform(array(CAST($s1 AS DOUBLE) / size(values) / 1e6), m ->
         |  flatten(transform(array(aggregate(values, 0L, (acc, x) ->
         |      acc + CAST(round((x - m) * (x - m) * 1e6) AS LONG))), den ->
         |    CASE WHEN den > 0L THEN
         |      transform(sequence(1, least($maxLag, size(values) - 1)), lag ->
         |        named_struct('lag', CAST(lag AS BIGINT), 'acf',
         |          floor(CAST(aggregate(sequence(1, size(values) - lag), 0L,
         |              (acc, i) -> acc + CAST(round((element_at(values, i) - m)
         |                * (element_at(values, i + lag) - m) * 1e6) AS LONG))
         |            AS DOUBLE) / CAST(den AS DOUBLE) * 1e6 + 0.5) / 1e6))
         |    ELSE CAST(array() AS ARRAY<STRUCT<lag: BIGINT, acf: DOUBLE>>)
         |    END))))""".stripMargin
    series
      .filter(size(col("values")) >= math.max(minLen, maxLag + 1))
      .select(col("series_id"), explode(expr(rows)).as("__p"))
      .select(col("series_id"), col("__p.lag").as("lag"), col("__p.acf").as("acf"))
  }

  /** Per-series CUSUM changepoint statistic ([EXT]): the standardized
    * cumulative-sum scan Sₖ = (Σᵢ≤ₖ xᵢ − k·x̄) / (σ·√n) for
    * k = 1..n−1; reports argmax |Sₖ| (the most likely single
    * changepoint), the max statistic, and a change flag at the
    * classical 95% Kolmogorov bound 1.358 — the level-shift detector
    * that complements [[ewmaAnomalies]]' point-jump flags.
    *
    * Determinism: mean/std come from exact integer micro-moments (the
    * [[ewmaAnomalies]] idiom) and every prefix sum Σᵢ≤ₖ xᵢ is itself
    * an exact integer micro-sum, so all |Sₖ| are bit-identical IEEE
    * chains on any engine — the argmax (first-max tie rule on exact
    * doubles) and the threshold compare are therefore exact.
    *
    * Scale: zero shuffle beyond the series groupBy; the prefix scan is
    * written as O(n²) slice-folds for oracle parity — fine at sensor
    * lengths (n ≈ 10³–10⁴); a single-pass running-sum kernel is the
    * drop-in for million-point series.
    * Output: one row per series (series_id, cp_pos, stat 4dp, changed). */
  def cusum(series: DataFrame, minLen: Int = 20,
      threshold: Double = 1.358): DataFrame =
    series
      .filter(size(col("values")) >= minLen)
      .withColumn("__n", size(col("values")))
      .withColumn("__s1", expr(
        "aggregate(values, 0L, (acc, x) -> acc + CAST(round(x * 1e6) AS LONG))"))
      .withColumn("__s2", expr(
        "aggregate(values, 0L, (acc, x) -> acc + CAST(round(x * x * 1e6) AS LONG))"))
      .withColumn("__mean", col("__s1").cast("double") / col("__n") / lit(1e6))
      .withColumn("__std", sqrt(greatest(lit(0.0),
        col("__s2").cast("double") / col("__n") / lit(1e6)
          - col("__mean") * col("__mean"))))
      .filter(col("__std") > lit(0.0))
      .withColumn("__S", expr(
        """transform(sequence(1, __n - 1), k ->
          |  abs((CAST(aggregate(slice(values, 1, k), 0L,
          |         (acc, x) -> acc + CAST(round(x * 1e6) AS LONG)) AS DOUBLE) / 1e6
          |       - CAST(k AS DOUBLE) * __mean)
          |      / (__std * sqrt(CAST(__n AS DOUBLE)))))""".stripMargin))
      .withColumn("__stat", array_max(col("__S")))
      .select(col("series_id"),
        expr("array_position(__S, __stat)").cast("long").as("cp_pos"),
        (floor(col("__stat") * lit(1e4) + lit(0.5)).cast("double") / lit(1e4))
          .as("stat"),
        (col("__stat") > lit(threshold)).as("changed"))

  /** Per-series Theil–Sen robust trend ([EXT]): slope = lower median
    * of all pairwise slopes (vⱼ−vᵢ)/(j−i), intercept = lower median of
    * the residuals vᵢ − slope·i — the outlier-resistant trend line
    * (breakdown point ~29%) a monitoring pipeline prefers over OLS on
    * spiky telemetry (Sen 1968, JASA 63; Theil 1950).
    *
    * Determinism: the LOWER median is an explicit order statistic —
    * element (m+1) div 2 of the sorted slope list — not an
    * interpolated quantile, so there is no midpoint arithmetic to
    * diverge; every slope is one identical IEEE divide on both
    * engines and the sort is a total order on exact doubles (equal
    * diffs of doubles yield +0.0, never −0.0). The intercept median
    * reuses the UNQUANTIZED slope; only outputs are quantized.
    *
    * Scale: zero shuffle beyond the series groupBy — the O(n²) slope
    * enumeration is per-series expression work. That is the honest
    * full estimator at telemetry lengths (n ≈ 10²–10³, ≤ ~500k slopes
    * per series). ABOVE `lengthGate` the operator switches to the
    * Matoušek-style randomized pair-sample (Matoušek 1991,
    * "Randomized optimal algorithm for slope selection"): the lower
    * median over `samplesPerPoint`·n pairs drawn deterministically by
    * xxhash64(series_id, s) — O(n·s log(n·s)) per series instead of
    * O(n²), the same downstream shape, quantile error O(1/√(s·n))
    * on the slope's rank (≈ ±0.2 % of the slope distribution at
    * n = 10⁴, s = 16; tighter still at 10⁶). The sample is a pure
    * function of (series_id, s), so the estimate is engine-,
    * partitioning- and run-independent. Both branches filter the ONE
    * series frame on size(values) — disjoint predicates, no extra
    * shuffle, exact results for every series the oracle can afford
    * to replay. Since the two branches scan the input twice, an input
    * the caller has not cached is held in memory as a Memo entry
    * (`Memo.input`); a cached or local input is read as it is.
    * Output: (series_id, n, slope 6dp, intercept 6dp). */
  def theilSen(series: DataFrame, minLen: Int = 10,
      lengthGate: Int = 1000, samplesPerPoint: Int = 16): DataFrame = {
    require(lengthGate >= 2, s"lengthGate must be >= 2, got $lengthGate")
    require(samplesPerPoint >= 1,
      s"samplesPerPoint must be >= 1, got $samplesPerPoint")
    // the two tiers scan the input once each (disjoint size(values)
    // filters, one union): an uncached input is held in memory through
    // Memo, so its upstream plan (e.g. the events group-collect) runs
    // once, and repeated calls over an equal plan share that copy
    val src = graft.queries.Memo.input(series.sparkSession, "theilsen", series)
    val maxExactPairs = 100000000L
    // EXACT tier (round 12 perf): a tight JVM loop + Arrays.sort per
    // series replaces the Catalyst higher-order-function expression —
    // the interpreted per-element closures (sequence → transform →
    // flatten → array_sort over n(n-1)/2 slopes) dominated the bench's
    // slowest query at ~10× the cost of the same arithmetic compiled.
    // Bitwise identical results: the same IEEE divides in the same
    // (i, j>i) enumeration, java.util.Arrays.sort(double[]) and
    // Catalyst's array_sort share Double.compare ordering, and the
    // lower-median index math is unchanged. The SAMPLED tier stays a
    // SQL expression — its xxhash64(series_id, s) draw hashes by the
    // id column's Catalyst type, which a JVM-side reimplementation
    // would have to mirror case-by-case to stay engine-identical.
    val minSize = math.max(2, minLen)
    val idField = series.schema("series_id")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      idField.copy(name = "series_id"),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("slope_raw",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("intercept_raw",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val exactPart = src
      .filter(size(col("values")) >= minSize &&
        size(col("values")) <= lengthGate)
      .select(col("series_id"), col("values"))
      .mapPartitions { it =>
        it.map { row =>
          val vs0 = row.getSeq[Double](1)
          val n = vs0.length
          val vs = new Array[Double](n)
          var c = 0
          vs0.foreach { v => vs(c) = v; c += 1 }
          val pairs = n.toLong * (n - 1) / 2
          // capacity guard (ADVICE r11): fail self-describingly before
          // allocating a >2e9-element slope array
          if (pairs > maxExactPairs) throw new IllegalStateException(
            s"theilSen exact tier: series ${row.get(0)} (n=$n) needs " +
              s"n(n-1)/2 > $maxExactPairs slope pairs in one task; lower " +
              s"lengthGate (currently $lengthGate) so series this long " +
              "take the sampled tier")
          val slopes = new Array[Double](pairs.toInt)
          var k = 0
          var i = 0
          while (i < n - 1) {
            val vi = vs(i)
            var j = i + 1
            while (j < n) {
              slopes(k) = (vs(j) - vi) / (j - i).toDouble
              k += 1
              j += 1
            }
            i += 1
          }
          java.util.Arrays.sort(slopes)
          val slope = slopes((((pairs + 1L) / 2L) - 1L).toInt)
          val resid = new Array[Double](n)
          var t = 0
          while (t < n) { resid(t) = vs(t) - slope * (t + 1).toDouble; t += 1 }
          java.util.Arrays.sort(resid)
          org.apache.spark.sql.Row(row.get(0), n.toLong, slope,
            resid((n + 1) / 2 - 1))
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    // ONE expression, slope bound once via transform(array(·), sl -> …)
    // (the [[acf]] anti-inlining idiom) so the slope sort never
    // re-evaluates per residual; the intercept tail is shared by both
    // tiers (identical definition — only the slope estimator differs).
    def tail(slopeArr: String) =
      s"""flatten(transform(
         |  array($slopeArr),
         |  sl -> array(named_struct(
         |    'slope', sl,
         |    'intercept', element_at(
         |      array_sort(transform(sequence(1, size(values)), i ->
         |        element_at(values, i) - sl * CAST(i AS DOUBLE))),
         |      CAST((size(values) + 1) div 2 AS INT))))))""".stripMargin
    // sampled pair s: i uniform in [1, n], j uniform in [1, n]\{i}
    // (j-raw in [1, n-1], bumped past i) — slope is direction-symmetric.
    // The sample count runs in LONG (a 32-bit s·n wrapped negative past
    // n ≈ 134M and crashed sequence()) and caps at 10⁷ pairs: one row
    // at the cap transiently holds the sequence longs + slope doubles
    // + an array_sort copy ≈ 3·80 MB in a single task — bounded and
    // spill-free — while the median's quantile error is already
    // ~3·10⁻⁴ of the slope distribution. The previous 10⁸ cap bought
    // one extra error digit for ~2.4 GB per task (ADVICE r11 — an
    // executor OOMs long before the cap's statistical rationale
    // matters).
    val mExpr = s"least(CAST($samplesPerPoint AS LONG) * size(values), " +
      "10000000L)"
    val sampledSlope =
      s"""element_at(
         |    array_sort(transform(
         |      sequence(0L, $mExpr - 1L), s ->
         |      element_at(transform(array(named_struct(
         |          'i', CAST(pmod(xxhash64(series_id, s, 0),
         |                 CAST(size(values) AS LONG)) AS INT) + 1,
         |          'r', CAST(pmod(xxhash64(series_id, s, 1),
         |                 CAST(size(values) - 1 AS LONG)) AS INT) + 1)),
         |        p -> (element_at(values, IF(p.r >= p.i, p.r + 1, p.r))
         |              - element_at(values, p.i))
         |          / CAST(IF(p.r >= p.i, p.r + 1, p.r) - p.i AS DOUBLE)), 1))),
         |    CAST(($mExpr + 1L) div 2L AS INT))""".stripMargin
    // Two disjoint tiers, one union: the exact tier is the typed loop
    // above (exactPart), the sampled tier keeps the SQL draw. The
    // input is scanned once per tier — callers should pass a cached /
    // Memo'd one-row-per-series frame (ts_theil_sen does) so the
    // second scan is a cache read; in return the exact tier (the hot
    // one: the oracle twin pins lengthGate = 10⁶, sending EVERY
    // driver series through it) runs compiled instead of interpreted.
    val sampledPart = src
      .filter(size(col("values")) >= minSize &&
        size(col("values")) > lengthGate)
      .select(col("series_id"), size(col("values")).cast("long").as("n"),
        explode(expr(tail(sampledSlope))).as("__p"))
      .select(col("series_id"), col("n"),
        col("__p.slope").as("slope_raw"),
        col("__p.intercept").as("intercept_raw"))
    exactPart.unionByName(sampledPart)
      .select(col("series_id"), col("n"),
        (floor(col("slope_raw") * lit(1e6) + lit(0.5)).cast("double") / lit(1e6))
          .as("slope"),
        (floor(col("intercept_raw") * lit(1e6) + lit(0.5)).cast("double") / lit(1e6))
          .as("intercept"))
  }

  /** Per-series forecast backtest ([EXT]): hold out the last `h`
    * points, forecast them with the two classical baselines — naive
    * (last training value) and drift (last + slope·i, slope =
    * (last−first)/(n_train−1)) — and score MAE on the holdout plus
    * MASE for drift (MAE scaled by the in-sample one-step naive MAE,
    * Hyndman & Koehler 2006): the honesty gate any fancier
    * forecaster (e.g. [[holt]]) must beat before shipping.
    *
    * Determinism: all three error sums are exact integer micro-sums
    * (the [[acf]] idiom) — fold order cannot matter — and the drift
    * slope is one IEEE divide reused unquantized in the forecast
    * chain; MASE divides the two exact sums in one identical chain.
    *
    * Scale: zero shuffle beyond the series groupBy; O(n) per series.
    * Output: (series_id, n_train, mae_naive 6dp, mae_drift 6dp,
    * mase_drift 6dp, drift_better). */
  def forecastEval(series: DataFrame, h: Int = 8, minLen: Int = 20): DataFrame = {
    require(h >= 1, s"holdout must be >= 1, got $h")
    val rows =
      s"""flatten(transform(array(CAST(size(values) - $h AS INT)), nt ->
         |  transform(array((element_at(values, nt) - element_at(values, 1))
         |      / CAST(nt - 1 AS DOUBLE)), d ->
         |    named_struct(
         |      'n_train', CAST(nt AS BIGINT),
         |      's_in', aggregate(sequence(2, nt), 0L, (a, t) ->
         |        a + CAST(round(abs(element_at(values, t)
         |          - element_at(values, t - 1)) * 1e6) AS LONG)),
         |      's_nv', aggregate(sequence(1, $h), 0L, (a, i) ->
         |        a + CAST(round(abs(element_at(values, nt + i)
         |          - element_at(values, nt)) * 1e6) AS LONG)),
         |      's_dr', aggregate(sequence(1, $h), 0L, (a, i) ->
         |        a + CAST(round(abs(element_at(values, nt + i)
         |          - (element_at(values, nt) + d * CAST(i AS DOUBLE)))
         |          * 1e6) AS LONG))))))""".stripMargin
    series
      .filter(size(col("values")) >= math.max(minLen, h + 2))
      .select(col("series_id"), explode(expr(rows)).as("__p"))
      .select(col("series_id"), col("__p.n_train").as("n_train"),
        col("__p.s_in").as("__si"), col("__p.s_nv").as("__sn"),
        col("__p.s_dr").as("__sd"))
      .filter(col("__si") > 0L)
      .select(col("series_id"), col("n_train"),
        (floor(col("__sn").cast("double") / lit(h) / lit(1e6) * lit(1e6)
          + lit(0.5)).cast("double") / lit(1e6)).as("mae_naive"),
        (floor(col("__sd").cast("double") / lit(h) / lit(1e6) * lit(1e6)
          + lit(0.5)).cast("double") / lit(1e6)).as("mae_drift"),
        (floor(col("__sd").cast("double") / lit(h)
          / (col("__si").cast("double") / (col("n_train") - lit(1L)))
          * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("mase_drift"),
        (col("__sd") < col("__sn")).as("drift_better"))
  }

  /** Pairwise series Pearson correlation at lag 0 ([EXT]): every
    * unordered pair of series, aligned by truncating all series to the
    * global min length (the [[truncate]] contract), corr =
    * Σ(aᵢ−ā)(bᵢ−b̄) / √(Σ(aᵢ−ā)²·Σ(bᵢ−b̄)²) — the co-movement matrix
    * a clustering pipeline inspects before choosing a distance.
    *
    * Determinism + the per-pair cost model: each series is centered
    * and QUANTIZED ONCE — qcᵢ = round((xᵢ − x̄)·10³), an integer held
    * as a double — so the pair numerator Σ qaᵢ·qbᵢ and the per-series
    * denominator Σ qcᵢ² are exact integer dot products (exact in
    * doubles while n·max|x−x̄|²·10⁶ < 2⁵³, i.e. max|x−x̄| ≤ 10³ out to
    * n ≈ 10⁴ points), and the 10³ scales cancel exactly in
    * num/√(da·db). Quantizing BEFORE the product (vs the tier's usual
    * round-after) is what lets the numerator run through the
    * codegen'd `array_dot` expression instead of an interpreted
    * zip_with fold — per-pair work is the difference between ~1 ns
    * and ~300 ns per element across |pairs|·n evaluations (measured
    * 18 s → sub-second on 1.1M pairs × 60 points). corr carries 4 dp
    * (the honest precision of the 10³ grid).
    *
    * Scale: the SERIES dimension is the small one (the nested table is
    * one row per series), so the pair generation is a broadcast theta
    * self-join on series_id — the point table never re-shuffles; the
    * stats frame is MATERIALIZED (Memo barrier) before the join so
    * the centering/quantization folds run once per series, never once
    * per pair (left inline the optimizer folds them under the theta
    * join — measured 85 s vs ~4 s on the same pairs). At very large
    * series counts the same numerator is a blocked Gram product (the
    * ml/Embedding covariance path); pairs ∝ k² stays the caller's
    * contract either way.
    * Output: (s_a, s_b, corr 4dp) for s_a < s_b, zero-variance series
    * dropped. */
  def crossCorr(series: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(series.sparkSession)
    val s1 = "aggregate(values, 0L, (acc, x) -> acc + CAST(round(x * 1e6) AS LONG))"
    // centered-and-quantized array bound once through the nested
    // lambda (the [[acf]] anti-inlining idiom)
    val qc =
      s"""flatten(transform(array(CAST($s1 AS DOUBLE) / size(values) / 1e6), m ->
         |  transform(values, x -> CAST(round((x - m) * 1e3) AS DOUBLE))))"""
        .stripMargin
    val stats0 = truncate(series)
      .filter(size(col("values")) >= 2)
      .withColumn("__qc", expr(qc))
      .withColumn("__den", call_function("array_dot", col("__qc"), col("__qc")))
      .filter(col("__den") > 0.0)
      .select(col("series_id"), col("__qc"), col("__den"))
    val stats = graft.queries.Memo.cached(series.sparkSession, "crosscorrstats",
      Seq(series))(stats0)
    val a = stats.select(col("series_id").as("s_a"), col("__qc").as("__qa"),
      col("__den").as("__da"))
    val b = stats.select(col("series_id").as("s_b"), col("__qc").as("__qb"),
      col("__den").as("__db"))
    a.join(broadcast(b), col("s_a") < col("s_b"))
      .select(col("s_a"), col("s_b"),
        (floor(call_function("array_dot", col("__qa"), col("__qb"))
          / sqrt(col("__da") * col("__db")) * lit(1e4) + lit(0.5))
          .cast("double") / lit(1e4)).as("corr"))
  }

  /** Resample to a fixed interval with LOCF gap-fill: bucket each
    * key's observations to `intervalSec`-wide bins (bin value = mean),
    * materialize every bin between the key's first and last
    * observation, and carry the last observed bin value forward into
    * empty bins (last-observation-carried-forward — the canonical
    * time-series regularization the reference lacks because its time
    * axis is positional).
    *
    * Scale: one shuffle onto the key for the bin aggregation; the bin
    * grid is generated per key with `sequence` + explode (rows ∝ bins,
    * never a cross join); the fill is one ordered window per key.
    * Output: (keyCol, bin_start_s, n_obs, v: filled mean, is_gap). */
  def resampleLocf(df: DataFrame, keyCol: String, tsCol: String,
      vc: String, intervalSec: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bin = floor(unix_timestamp(col(tsCol)) / intervalSec).cast("long")
    val agged = df.na.drop(Seq(vc))
      .withColumn("__bin", bin)
      .groupBy(col(keyCol), col("__bin"))
      .agg(count(lit(1)).as("n_obs"), avg(col(vc)).as("__v"))
    val grid = agged.groupBy(col(keyCol))
      .agg(min(col("__bin")).as("__b0"), max(col("__bin")).as("__b1"))
      .select(col(keyCol),
        explode(sequence(col("__b0"), col("__b1"))).as("__bin"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(agged, Seq(keyCol, "__bin"), "left")
      .withColumn("v", last(col("__v"), ignoreNulls = true).over(w))
      .select(col(keyCol), (col("__bin") * intervalSec).as("bin_start_s"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("v"), (col("n_obs").isNull).as("is_gap"))
  }

  /** Resample to a fixed interval with LINEAR interpolation gap-fill:
    * same binning/grid as [[resampleLocf]], but an empty bin takes
    * `prev + (next - prev) · (bin - prevBin)/(nextBin - prevBin)` from
    * its nearest observed neighbours. The grid spans each key's first
    * to last observed bin, so every gap has both neighbours — no
    * extrapolation case exists by construction.
    *
    * Scale: identical shape to LOCF — one shuffle onto the key, two
    * ordered running-frame window passes (ascending for the previous
    * observation, descending for the next) instead of one; linear in
    * each key's bin count.
    *
    * The bin means are quantized to `quantizeDp` decimals BEFORE
    * interpolating: the blend `pv + (nv−pv)·frac` amplifies last-ulp
    * engine differences in `avg` across the rounding boundary of the
    * reported value (measured: 11 of 105k rows at 6dp), so the
    * operator is defined as interpolating the reported bin values —
    * identical decimal inputs make the IEEE arithmetic, and thus the
    * output, bitwise engine-independent.
    * Output: (keyCol, bin_start_s, n_obs, v: filled mean, is_gap). */
  def resampleInterp(df: DataFrame, keyCol: String, tsCol: String,
      vc: String, intervalSec: Long, quantizeDp: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bin = floor(unix_timestamp(col(tsCol)) / intervalSec).cast("long")
    val agged = df.na.drop(Seq(vc))
      .withColumn("__bin", bin)
      .groupBy(col(keyCol), col("__bin"))
      .agg(count(lit(1)).as("n_obs"),
        round(avg(col(vc)), quantizeDp).as("__v"))
    val grid = agged.groupBy(col(keyCol))
      .agg(min(col("__bin")).as("__b0"), max(col("__bin")).as("__b1"))
      .select(col(keyCol),
        explode(sequence(col("__b0"), col("__b1"))).as("__bin"))
    // both neighbours are running frames (unbounded preceding to the
    // current row), which Spark extends row by row: the next observed
    // value is the last one so far in DESCENDING bin order. A frame to
    // unbounded FOLLOWING is re-aggregated from every row, quadratic
    // in each key's bin count. Bins are unique per key, so both orders
    // are total.
    def upTo(order: Column) = Window.partitionBy(col(keyCol)).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wPrev = upTo(col("__bin"))
    val wNext = upTo(col("__bin").desc)
    val obsBin = when(col("__v").isNotNull, col("__bin"))
    grid.join(agged, Seq(keyCol, "__bin"), "left")
      .withColumn("__pv", last(col("__v"), ignoreNulls = true).over(wPrev))
      .withColumn("__pb", last(obsBin, ignoreNulls = true).over(wPrev))
      .withColumn("__nv", last(col("__v"), ignoreNulls = true).over(wNext))
      .withColumn("__nb", last(obsBin, ignoreNulls = true).over(wNext))
      .withColumn("v", when(col("__v").isNotNull, col("__v")).otherwise(
        col("__pv") + (col("__nv") - col("__pv")) *
          ((col("__bin") - col("__pb")).cast("double") /
            (col("__nb") - col("__pb")).cast("double"))))
      .select(col(keyCol), (col("__bin") * intervalSec).as("bin_start_s"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("v"), (col("n_obs").isNull).as("is_gap"))
  }

  /** Robust per-key outlier statistics: median + MAD (median absolute
    * deviation) per key, and the count of points whose modified z-score
    * `0.6745·(v − median)/MAD` (Iglewicz–Hoaglin) exceeds 3.5. The
    * robust twin of the global z-score outlier scan — a handful of
    * extreme points cannot drag the threshold the way they drag
    * mean/stddev.
    *
    * Scale: three key-partitioned aggregations (median; MAD over the
    * deviations; the outlier count) with the data re-joined on the key
    * between them — each join is keyed the same way, so AQE reuses the
    * partitioning. Exact interpolated percentiles; at 100 TB the same
    * shape runs with `approx_percentile` and nothing else changes.
    * Output: (keyCol, n, med, mad, n_outliers). */
  def madOutlierStats(df: DataFrame, keyCol: String, vc: String): DataFrame = {
    val clean = df.na.drop(Seq(vc))
    val med = clean.groupBy(col(keyCol))
      .agg(percentile(col(vc), lit(0.5)).as("med"))
    val dev = clean.join(med, Seq(keyCol))
      .withColumn("__ad", abs(col(vc) - col("med")))
    val mad = dev.groupBy(col(keyCol))
      .agg(first(col("med")).as("med"),
        percentile(col("__ad"), lit(0.5)).as("mad"))
    dev.drop("med").join(mad, Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("mad") > 0 &&
            lit(0.6745) * col("__ad") / col("mad") > lit(3.5), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Piecewise Aggregate Approximation ([EXT], Keogh et al. KAIS 2001):
    * z-normalize each series, split it into `w` contiguous segments
    * (segment j covers positions floor((j−1)·n/w)+1 .. floor(j·n/w) —
    * non-empty whenever n ≥ w) and emit each segment's mean — the
    * dimensionality reduction a series-similarity index runs before
    * symbolizing ([[sax]]) or indexing.
    *
    * Determinism: mean and variance come from exact integer micro-sums
    * (the [[acf]] idiom), so z-scores are identical IEEE chains on both
    * engines; each segment sum is again an exact integer micro-sum of
    * quantized z-values and the final mean one identical division,
    * emitted on the [[q6]] halfway rule. Segment boundaries are
    * floor-of-double on exact integers — engine-agnostic.
    *
    * Scale: zero shuffle beyond the series groupBy; O(n) work per
    * series in codegen'd HOF folds. Constant series (variance 0) are
    * dropped, series shorter than max(minLen, w) are dropped.
    * Output: (series_id, seg, paa). */
  def paa(series: DataFrame, w: Int, minLen: Int = 10): DataFrame = {
    require(w >= 2, s"need w >= 2, got $w")
    // moments bound once through nested lambdas (the [[acf]] /
    // [[ewmaAnomalies]] anti-inlining idiom); IEEE chains and the
    // oracle are unchanged
    val s1 = "aggregate(values, 0L, (acc, x) -> acc + CAST(round(x * 1e6) AS LONG))"
    val lo = s"CAST(floor(CAST((seg - 1) * size(values) AS DOUBLE) / ${w.toDouble}) AS INT) + 1"
    val hi = s"CAST(floor(CAST(seg * size(values) AS DOUBLE) / ${w.toDouble}) AS INT)"
    val rows =
      s"""flatten(transform(array(CAST($s1 AS DOUBLE) / size(values) / 1e6), m ->
         |  flatten(transform(array(aggregate(values, 0L, (acc, x) ->
         |      acc + CAST(round((x - m) * (x - m) * 1e6) AS LONG))), s2 ->
         |    CASE WHEN s2 > 0L THEN
         |      flatten(transform(array(sqrt(CAST(s2 AS DOUBLE) / size(values) / 1e6)), sd ->
         |        transform(sequence(1, $w), seg ->
         |          named_struct('seg', CAST(seg AS BIGINT), 'paa',
         |            floor(CAST(aggregate(sequence($lo, $hi), 0L, (acc, i) ->
         |                acc + CAST(round((element_at(values, i) - m) / sd * 1e6)
         |                  AS LONG)) AS DOUBLE)
         |              / CAST($hi - ($lo) + 1 AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6))))
         |    ELSE CAST(array() AS ARRAY<STRUCT<seg: BIGINT, paa: DOUBLE>>)
         |    END))))""".stripMargin
    series
      .filter(size(col("values")) >= math.max(minLen, w))
      .select(col("series_id"), explode(expr(rows)).as("__p"))
      .select(col("series_id"), col("__p.seg").as("seg"), col("__p.paa").as("paa"))
  }

  /** Periodogram at the first `maxK` Fourier frequencies ([EXT]): per
    * series, power p_k = (a_k² + b_k²)/n of the z-normalized values at
    * frequency k cycles/series, k = 1..maxK, plus the dominant-k flag —
    * the seasonality probe run before [[decompose]] (which needs the
    * period as an input) and before choosing DTW window widths.
    *
    * Determinism: mean/std come from exact integer micro-sums; each
    * projection term is a product of TWO exact integers — round(z·10⁶)
    * and round(cos|sin(2πki/n)·10⁴) — so a_k/b_k are exact integer
    * sums (safe while n·|z|max ≲ 9·10⁸, far beyond any real series);
    * the trig argument 2·π()·k·i/n is the identical left-associated
    * IEEE chain on both engines, and a last-ulp libm cos divergence
    * only matters within 10⁻¹⁰ of a quantization boundary. Power is
    * one identical double chain, [[q6]]-quantized; dominant = first
    * max over maxK rows (bounded window).
    *
    * Scale: zero shuffle beyond the series groupBy; O(maxK·n)
    * codegen'd HOF multiply-adds; the dominant window partitions by
    * series over maxK rows. Output: (series_id, k, power, dominant). */
  def periodogram(series: DataFrame, maxK: Int, minLen: Int = 10): DataFrame = {
    require(maxK >= 1, s"need maxK >= 1, got $maxK")
    // COMPILED tier (round 13, VERDICT r12 #5 — the [[theilSen]]
    // exact-tier treatment): a tight JVM loop replaces the interpreted
    // higher-order-function expression whose per-element closures
    // (O(maxK·n) multiply-adds through `aggregate`/`transform`
    // lambdas) made this the bench's slowest ts query (2.4 s at
    // sf0.1). Bitwise identical results: every rounding step goes
    // through java.math.BigDecimal.valueOf(·).setScale(0, HALF_UP) —
    // exactly Round's codegen for DoubleType — the trig argument is
    // the same left-associated ((2π)·k)·i/n chain on java.lang.Math
    // cos/sin (what the Cos/Sin expressions call), the moment sums are
    // the same index-ordered integer folds, and the dominant flag is
    // the same first-argmax over the q6-quantized power array. Zero
    // exchanges after the series groupBy, unchanged.
    val minSize = math.max(minLen, 2 * maxK)
    val idField = series.schema("series_id")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      idField.copy(name = "series_id"),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("power",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("dominant",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    def rnd(x: Double): Long = sparkRound(x)
    series
      .filter(size(col("values")) >= minSize)
      .select(col("series_id"), col("values"))
      .mapPartitions { it =>
        it.flatMap { row =>
          val vs0 = row.getSeq[Double](1)
          val n = vs0.length
          val vs = new Array[Double](n)
          var c = 0
          vs0.foreach { v => vs(c) = v; c += 1 }
          var s1 = 0L
          var i = 0
          while (i < n) { s1 += rnd(vs(i) * 1e6); i += 1 }
          val m = s1.toDouble / n / 1e6
          var s2 = 0L
          i = 0
          while (i < n) { s2 += rnd((vs(i) - m) * (vs(i) - m) * 1e6); i += 1 }
          if (s2 <= 0L) Iterator.empty
          else {
            val sd = math.sqrt(s2.toDouble / n / 1e6)
            val z = new Array[Long](n)
            i = 0
            while (i < n) { z(i) = rnd((vs(i) - m) / sd * 1e6); i += 1 }
            val ps = new Array[Double](maxK)
            var k = 1
            while (k <= maxK) {
              var a = 0L
              var b = 0L
              i = 1
              while (i <= n) {
                val arg = 2 * math.Pi * k * i / n
                a += z(i - 1) * rnd(math.cos(arg) * 1e4)
                b += z(i - 1) * rnd(math.sin(arg) * 1e4)
                i += 1
              }
              val ad = a.toDouble / 1e10
              val bd = b.toDouble / 1e10
              ps(k - 1) = math.floor((ad * ad + bd * bd) / n * 1e6 + 0.5) / 1e6
              k += 1
            }
            var mx = ps(0)
            var arg1 = 1 // first k achieving the max (ties -> smallest k)
            k = 2
            while (k <= maxK) {
              if (ps(k - 1) > mx) { mx = ps(k - 1); arg1 = k }
              k += 1
            }
            (1 to maxK).iterator.map { kk =>
              org.apache.spark.sql.Row(row.get(0), kk.toLong, ps(kk - 1),
                kk == arg1)
            }
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** SAX symbolization ([EXT], Lin et al. DMKD 2007): bin each [[paa]]
    * segment mean at the standard-normal quartile breakpoints
    * (−0.6745, 0, 0.6745 — alphabet size 4) and concatenate the
    * segment symbols in order into one word per series — the discrete
    * series fingerprint that turns similarity into string equality
    * (motif buckets, series dedup, suffix indexing).
    *
    * Determinism: [[paa]] values are already engine-exact 6-dp
    * quantized doubles; the breakpoints are exact decimal literals, so
    * binning is exact comparison; the word concatenation is ordered by
    * the unique seg key. Scale: [[paa]]'s contract + one per-series
    * collect of w symbols. Output: (series_id, word). */
  def sax(series: DataFrame, w: Int, minLen: Int = 10): DataFrame =
    paa(series, w, minLen)
      .withColumn("__sym",
        when(col("paa") < lit(-0.6745), lit("a"))
          .when(col("paa") < lit(0.0), lit("b"))
          .when(col("paa") < lit(0.6745), lit("c"))
          .otherwise(lit("d")))
      .groupBy("series_id")
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("seg"), col("__sym").as("__y")))),
        x => x("__y")), "").as("word"))

  /** Matrix-profile-lite ([EXT]; Yeh et al., "Matrix Profile I",
    * ICDM 2016): per series, the closest pair of z-normalized
    * subsequences (the MOTIF — the series' most-repeated shape) and
    * the subsequence farthest from its own nearest neighbor (the
    * DISCORD — the canonical subsequence anomaly, Keogh's HOT SAX
    * target). Exclusion zone |i−j| ≥ w (non-overlapping windows — no
    * trivial matches). The motif/discord pass is the shape-level
    * counterpart of [[ewmaAnomalies]]' point flags and the numeric
    * refinement of [[sax]]'s motif buckets.
    *
    * Determinism: each window's mean/std come from exact integer
    * micro-sums; its z-values quantize once to round(z·10³) (exact
    * integers), so every pair distance Σ(za−zb)² is an exact integer
    * (bounded by w·(2·|z|max·10³)² ≪ 2⁶³) and argmin/argmax ride
    * lexicographic struct extremes (ties → smallest index). Windows
    * with zero variance (constant runs) are excluded from both roles;
    * series with fewer than 2 usable windows are dropped. Distances
    * emit as sqrt(d)/10³ on the 4-dp halfway rule.
    *
    * Scale: zero shuffle beyond the series groupBy. The whole
    * per-series pass (window moments → z-codes → O(n_w²·w) all-pairs
    * scan) runs as ONE primitive-long UDF kernel — the documented
    * non-expressible class (the DTW/eigen grounds): HOF folds express
    * it but cost ~300 ns per interpreted lambda step (measured 55 s
    * net at sf0.1 vs ~1 s primitive, a gap that only widens with
    * n_w²). Quantization inside the kernel calls the IDENTICAL
    * BigDecimal.decimal(·).setScale(0, HALF_UP) that Spark's round()
    * uses, and the pair scan is pure integer arithmetic — so the
    * kernel cannot diverge from the oracle's relational replay of the
    * same sums. At million-point series the same kernel upgrades to
    * STOMP's streaming dot products without changing the operator
    * surface.
    * Output: (series_id, motif_a, motif_b 1-based, motif_dist,
    * discord_pos, discord_dist). */
  def matrixProfile(series: DataFrame, w: Int, minLen: Int = 24): DataFrame = {
    require(w >= 4, s"need w >= 4, got $w")
    // One primitive kernel for the whole per-series pass (see the
    // scaladoc's Scale note for the 55 s HOF measurement and the
    // round() parity argument). Ties: motif keeps the
    // lexicographically smallest (d, i, j) (ascending scan + strict
    // <); discord keeps the smallest i at the max nearest-neighbor
    // distance (strict >).
    val ww = w
    val kernel = udf { (values: Seq[Double]) =>
      // Spark's round() on doubles — the shared codegen-exact twin
      // keeps the kernel's quantization bit-equal to the SQL spelling
      // the oracle replays
      def rnd(x: Double): Long = sparkRound(x)
      val xs = values.toArray
      val nw = xs.length - ww + 1
      // per-window z-codes: zq[i](k) = round((x − m)/sd · 10³);
      // null for zero-variance windows (no z-shape)
      val zs = Array.tabulate(nw) { i =>
        var s1 = 0L
        var k = 0
        while (k < ww) { s1 += rnd(xs(i + k) * 1e6); k += 1 }
        val m = s1.toDouble / ww / 1e6
        var s2 = 0L
        k = 0
        while (k < ww) {
          s2 += rnd((xs(i + k) - m) * (xs(i + k) - m) * 1e6); k += 1
        }
        if (s2 <= 0L) null
        else {
          val sd = math.sqrt(s2.toDouble / ww / 1e6)
          Array.tabulate(ww)(k2 => rnd((xs(i + k2) - m) / sd * 1e3))
        }
      }
      val prof = Array.fill(nw)(Long.MaxValue)
      var bd = Long.MaxValue; var bi = -1; var bj = -1
      var i = 0
      while (i < nw) {
        val a = zs(i)
        if (a != null) {
          var j = i + ww
          while (j < nw) {
            val b = zs(j)
            if (b != null) {
              var d = 0L; var k = 0
              while (k < ww) { val t = a(k) - b(k); d += t * t; k += 1 }
              if (d < prof(i)) prof(i) = d
              if (d < prof(j)) prof(j) = d
              if (d < bd) { bd = d; bi = i; bj = j }
            }
            j += 1
          }
        }
        i += 1
      }
      var dd = -1L; var dp = -1
      var i2 = 0
      while (i2 < nw) {
        if (zs(i2) != null && prof(i2) != Long.MaxValue && prof(i2) > dd) {
          dd = prof(i2); dp = i2
        }
        i2 += 1
      }
      if (bi < 0 || dp < 0) None else Some((bi, bj, bd, dp, dd))
    }
    series
      .filter(size(col("values")) >= math.max(minLen, 3 * w))
      .select(col("series_id"), kernel(col("values")).as("__r"))
      .filter(col("__r").isNotNull)
      .select(col("series_id"),
        (col("__r._1") + 1).cast("long").as("motif_a"),
        (col("__r._2") + 1).cast("long").as("motif_b"),
        (floor(sqrt(col("__r._3").cast("double")) / lit(1e3) * lit(1e4)
          + lit(0.5)).cast("double") / lit(1e4)).as("motif_dist"),
        (col("__r._4") + 1).cast("long").as("discord_pos"),
        (floor(sqrt(col("__r._5").cast("double")) / lit(1e3) * lit(1e4)
          + lit(0.5)).cast("double") / lit(1e4)).as("discord_dist"))
  }
}
