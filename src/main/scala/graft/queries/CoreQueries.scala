package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.SeriesOps

/** Core time-series operator queries over `events`, mirroring the
  * reference's pipeline semantics (SURVEY.md §2.2/§2.4/§2.5). A series
  * is one user_id's `value` sequence ordered by `event_id` (FIXTURES.md:
  * ts increases with event_id, so event_id is the canonical seq key —
  * it also sidesteps the parquet ns-vs-µs timestamp mismatch between
  * Spark and DuckDB). */
object CoreQueries {

  /** The ts tier's shared long→nested pass: one Memo'd
    * [[SeriesOps.collectSeries]] frame per events dir (round 13,
    * VERDICT r12 #1b). All 17 ts_* consumers used to rebuild the
    * identical events scan + group-collect independently — real
    * repeated work (~0.5-1 s each at sf0.1) that also made their
    * round-over-round numbers swing with ambient load. One pass per
    * corpus now, same shared-pass discipline as the token/minhash
    * tiers; Bench reports the consumers as `ts_family` so whoever
    * pays the build is arbitrable as the family sum. */
  private def eventSeries(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Memo.cached(s, "evser", Nil, dir) {
      SeriesOps.collectSeries(Tables.events(s, dir), "user_id", "value", "event_id")
    }

  val all: Seq[Q] = Seq(

    // A3a global stats + A3b RMS + P2 null-drop (app.py:1706-1710, 1037-1048)
    Q("ts_profile",
      (s, dir) => {
        val e = Tables.events(s, dir).na.drop(Seq("value"))
        e.agg(
          round(min(col("value")), 6).as("min_v"),
          round(max(col("value")), 6).as("max_v"),
          round(avg(col("value")), 6).as("avg_v"),
          round(var_pop(col("value")), 4).as("var_v"),
          round(sqrt(avg(col("value") * col("value"))), 6).as("rms_v"),
          count(lit(1)).as("n"))
      },
      Some("""SELECT round(min(value),6) AS min_v, round(max(value),6) AS max_v,
             |       round(avg(value),6) AS avg_v, round(var_pop(value),4) AS var_v,
             |       round(sqrt(avg(value*value)),6) AS rms_v, count(*) AS n
             |FROM events WHERE value IS NOT NULL""".stripMargin)),

    // A3c per-series length stats, rounded 3 like the reference (app.py:224-232)
    Q("ts_length_stats",
      (s, dir) => {
        val lens = Tables.events(s, dir).na.drop(Seq("value"))
          .groupBy("user_id").agg(count(lit(1)).as("n"))
        lens.agg(
          min(col("n")).as("min_len"),
          max(col("n")).as("max_len"),
          round(avg(col("n")), 3).as("avg_len"))
      },
      Some("""SELECT min(n) AS min_len, max(n) AS max_len, round(avg(n),3) AS avg_len
             |FROM (SELECT user_id, count(*) AS n FROM events
             |      WHERE value IS NOT NULL GROUP BY user_id)""".stripMargin)),

    // A2 distinct series keys (app.py:208-209)
    Q("ts_distinct_series",
      (s, dir) => Tables.events(s, dir)
        .select(col("user_id").as("series_id")).distinct().orderBy("series_id"),
      Some("SELECT DISTINCT user_id AS series_id FROM events ORDER BY series_id")),

    // N1 + N2 whole-column normalization appended per-row (app.py:358-382)
    Q("ts_normalize",
      (s, dir) => SeriesOps.withNormalized(Tables.events(s, dir), "value")
        .select(col("event_id"),
          round(col("min_max"), 6).as("min_max"),
          round(col("z_score"), 6).as("z_score"))
        .orderBy("event_id"),
      Some("""SELECT event_id, round((value - mn)/(mx - mn),6) AS min_max,
             |       round((value - av)/sd,6) AS z_score
             |FROM events, (SELECT min(value) AS mn, max(value) AS mx, avg(value) AS av,
             |              stddev_pop(value) AS sd FROM events WHERE value IS NOT NULL)
             |WHERE value IS NOT NULL ORDER BY event_id""".stripMargin)),

    // A1 group-split summary: first/last (by seq) + sum per series
    Q("ts_series_stats",
      (s, dir) => Tables.events(s, dir).na.drop(Seq("value"))
        .groupBy(col("user_id").as("series_id"))
        .agg(count(lit(1)).as("n"),
          round(min_by(col("value"), col("event_id")), 6).as("first_v"),
          round(max_by(col("value"), col("event_id")), 6).as("last_v"),
          round(sum(col("value")), 4).as("sum_v"))
        .orderBy("series_id"),
      Some("""SELECT user_id AS series_id, count(*) AS n,
             |       round(arg_min(value, event_id),6) AS first_v,
             |       round(arg_max(value, event_id),6) AS last_v,
             |       round(sum(value),4) AS sum_v
             |FROM events WHERE value IS NOT NULL
             |GROUP BY user_id ORDER BY series_id""".stripMargin)),

    // A1 full ragged collect: the long→nested transform itself (§1.4).
    // The nested arrays round-trip through posexplode back to long form
    // (series_id, idx, val) so the output is hashable scalars — the
    // driver's pandas compare cannot sort/hash array columns — while
    // still exercising collectSeries' group-collect + in-array ordering
    // end to end (a wrong order or dropped element shifts every idx).
    Q("ts_series_arrays",
      (s, dir) => eventSeries(s, dir)
        .select(col("series_id"), posexplode(col("values")).as(Seq("idx0", "val")))
        .select(col("series_id"), (col("idx0") + 1).cast("long").as("idx"),
          round(col("val"), 6).as("val"))
        .orderBy("series_id", "idx"),
      Some("""SELECT user_id AS series_id,
             |       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS idx,
             |       round(value, 6) AS val
             |FROM events WHERE value IS NOT NULL
             |ORDER BY series_id, idx""".stripMargin)),

    // W1 truncation to global min length (app.py:246-261)
    Q("ts_truncate",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.truncate(ser)
          .select(col("series_id"),
            size(col("values")).cast("long").as("n_kept"),
            round(SeriesOps.arraySum(col("values")), 4).as("sum_kept"))
          .orderBy("series_id")
      },
      Some("""WITH lens AS (SELECT user_id, count(*) AS n FROM events
             |              WHERE value IS NOT NULL GROUP BY user_id),
             |m AS (SELECT min(n) AS L FROM lens),
             |r AS (SELECT user_id, value,
             |        row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |      FROM events WHERE value IS NOT NULL)
             |SELECT user_id AS series_id, count(*) AS n_kept, round(sum(value),4) AS sum_kept
             |FROM r, m WHERE rn <= m.L GROUP BY user_id ORDER BY series_id""".stripMargin)),

    // W2 zero padding to global max length (app.py:266-280)
    Q("ts_pad",
      (s, dir) => {
        val ser = eventSeries(s, dir)
          .withColumn("orig_n", size(col("values")).cast("long"))
        SeriesOps.pad(ser)
          .select(col("series_id"),
            size(col("values")).cast("long").as("padded_len"),
            (size(col("values")).cast("long") - col("orig_n")).as("zeros_added"),
            round(SeriesOps.arraySum(col("values")), 4).as("sum_v"))
          .orderBy("series_id")
      },
      Some("""WITH lens AS (SELECT user_id, count(*) AS n, round(sum(value),4) AS sum_v
             |              FROM events WHERE value IS NOT NULL GROUP BY user_id),
             |m AS (SELECT max(n) AS M FROM lens)
             |SELECT user_id AS series_id, m.M AS padded_len, m.M - n AS zeros_added, sum_v
             |FROM lens, m ORDER BY series_id""".stripMargin)),

    // W3+W3b sliding window w=10 s=5, drop_remainder (app.py:285-295, 1788-1793)
    Q("ts_sliding_window",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.slidingWindow(ser, 10, 5)
          .select(col("series_id"), col("win_id").cast("long").as("win_id"),
            round(SeriesOps.arraySum(col("window")), 4).as("win_sum"))
          .orderBy("series_id", "win_id")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |             count(*) OVER (PARTITION BY user_id) AS n,
             |             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |           FROM events WHERE value IS NOT NULL),
             |w AS (SELECT user_id, rn, n,
             |        sum(value) OVER (PARTITION BY user_id ORDER BY rn
             |                         ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS sm
             |      FROM r)
             |SELECT user_id AS series_id, (rn-1)//5 AS win_id, round(sm,4) AS win_sum
             |FROM w WHERE (rn-1)%5 = 0 AND rn+9 <= n
             |ORDER BY series_id, win_id""".stripMargin)),

    // EWMA smoothing (round 10, [EXT]): the denoising pre-pass before
    // DTW/K-Shape. The recurrence is order-dependent by definition, so
    // both engines run the identical index-ordered multiply-add chain
    // — Spark as an array fold over the collected series, DuckDB as
    // list_reduce over each prefix (same op sequence per point).
    Q("ts_ewma",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.ewma(ser, 0.3).orderBy("series_id", "pos")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs
             |      FROM r GROUP BY user_id),
             |pts AS (SELECT user_id, i, vs[i] AS value,
             |          list_reduce(vs[1:i], (y, x) ->
             |            CAST(0.3 AS DOUBLE) * x
             |            + (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * y) AS ew
             |        FROM l, LATERAL (SELECT unnest(range(1, len(vs) + 1)) AS i) u)
             |SELECT user_id AS series_id, CAST(i AS BIGINT) AS pos,
             |  floor(value * 1e6 + 0.5) / 1e6 AS value,
             |  floor(ew * 1e6 + 0.5) / 1e6 AS ewma
             |FROM pts ORDER BY series_id, pos""".stripMargin)),

    // Holt linear-trend smoothing (round 10, [EXT]): the level/trend
    // upgrade of ts_ewma. Same sequential-fold contract — the coupled
    // (l, b) recurrence runs as one index-ordered array fold with a
    // struct accumulator; DuckDB replays the identical IEEE chain via
    // list_reduce over struct prefixes.
    Q("ts_holt",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.holt(ser, 0.5, 0.3).orderBy("series_id", "pos")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r GROUP BY user_id),
             |st AS (SELECT user_id, vs, len(vs) AS n FROM l WHERE len(vs) >= 3),
             |-- (l, b) state as a 2-list: DuckDB 1.0 list_reduce mis-evaluates
             |-- struct-building lambdas (field cross-talk), list accumulators
             |-- replay the exact IEEE chain
             |o AS (SELECT user_id, i, vs[i] AS value,
             |    list_reduce(
             |      list_prepend([vs[1], vs[2] - vs[1]],
             |        [[vs[j], CAST(0 AS DOUBLE)] for j in range(2, i + 1)]),
             |      (acc, ob) -> [
             |        CAST(0.5 AS DOUBLE) * ob[1]
             |          + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (acc[1] + acc[2]),
             |        CAST(0.3 AS DOUBLE)
             |          * ((CAST(0.5 AS DOUBLE) * ob[1]
             |              + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (acc[1] + acc[2]))
             |             - acc[1])
             |          + (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * acc[2]]) AS s
             |  FROM st, LATERAL (SELECT unnest(range(1, n + 1)) AS i) u)
             |SELECT user_id AS series_id, CAST(i AS BIGINT) AS pos,
             |  floor(value * 1e6 + 0.5) / 1e6 AS value,
             |  floor(s[1] * 1e6 + 0.5) / 1e6 AS level,
             |  floor(s[2] * 1e6 + 0.5) / 1e6 AS trend
             |FROM o ORDER BY series_id, pos""".stripMargin)),

    // Periodogram (round 10, [EXT]): per-series power at the first 5
    // Fourier frequencies of the z-normalized values + dominant-k flag
    // — the seasonality probe run before decompose (which needs the
    // period) and DTW window choice. Each projection term is a product
    // of two exact integers (z at 1e6, trig at 1e4) so a/b are exact
    // integer sums; the trig argument is the identical left-associated
    // IEEE chain on both engines.
    Q("ts_periodogram",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.periodogram(ser, 5).orderBy("series_id", "k")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r GROUP BY user_id),
             |s AS (SELECT user_id, vs, len(vs) AS n,
             |    list_sum([CAST(round(x * 1e6) AS BIGINT) for x in vs]) AS s1
             |  FROM l WHERE len(vs) >= 10),
             |m AS (SELECT *, CAST(s1 AS DOUBLE) / n / 1e6 AS mean FROM s),
             |d AS (SELECT *, list_sum([CAST(round((x - mean) * (x - mean) * 1e6)
             |        AS BIGINT) for x in vs]) AS s2 FROM m),
             |v AS (SELECT *, sqrt(CAST(s2 AS DOUBLE) / n / 1e6) AS std
             |  FROM d WHERE s2 > 0),
             |g AS (SELECT user_id, vs, n, mean, std, kk.k AS k
             |  FROM v, (SELECT unnest(range(1, 6)) AS k) kk),
             |p AS (SELECT user_id, k, n,
             |    CAST(list_sum([CAST(round((vs[i] - mean) / std * 1e6) AS BIGINT)
             |        * CAST(round(cos(2 * pi() * k * i / n) * 1e4) AS BIGINT)
             |        for i in range(1, n + 1)]) AS DOUBLE) / 1e10 AS a,
             |    CAST(list_sum([CAST(round((vs[i] - mean) / std * 1e6) AS BIGINT)
             |        * CAST(round(sin(2 * pi() * k * i / n) * 1e4) AS BIGINT)
             |        for i in range(1, n + 1)]) AS DOUBLE) / 1e10 AS b
             |  FROM g),
             |q AS (SELECT user_id, k,
             |    floor((a * a + b * b) / n * 1e6 + 0.5) / 1e6 AS power FROM p)
             |SELECT user_id AS series_id, CAST(k AS BIGINT) AS k, power,
             |  row_number() OVER (PARTITION BY user_id
             |    ORDER BY power DESC, k ASC) = 1 AS dominant
             |FROM q ORDER BY series_id, k""".stripMargin)),

    // PAA dimensionality reduction (round 10, [EXT], Keogh KAIS 2001):
    // z-normalized 8-segment means per series. Moments and segment
    // sums are exact integer micro-sums, so both engines walk one
    // identical IEEE chain; segment boundaries are floor-of-double on
    // exact integers.
    Q("ts_paa",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.paa(ser, 8).orderBy("series_id", "seg")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r GROUP BY user_id),
             |s AS (SELECT user_id, vs, len(vs) AS n,
             |    list_sum([CAST(round(x * 1e6) AS BIGINT) for x in vs]) AS s1
             |  FROM l WHERE len(vs) >= 10),
             |m AS (SELECT *, CAST(s1 AS DOUBLE) / n / 1e6 AS mean FROM s),
             |d AS (SELECT *, list_sum([CAST(round((x - mean) * (x - mean) * 1e6)
             |        AS BIGINT) for x in vs]) AS s2 FROM m),
             |v AS (SELECT *, sqrt(CAST(s2 AS DOUBLE) / n / 1e6) AS std
             |  FROM d WHERE s2 > 0),
             |b AS (SELECT user_id, vs, mean, std, sg.seg AS seg,
             |    CAST(floor((sg.seg - 1) * n / 8.0) AS BIGINT) + 1 AS lo,
             |    CAST(floor(sg.seg * n / 8.0) AS BIGINT) AS hi
             |  FROM v, (SELECT unnest(range(1, 9)) AS seg) sg)
             |SELECT user_id AS series_id, CAST(seg AS BIGINT) AS seg,
             |  floor(CAST(list_sum([CAST(round((vs[i] - mean) / std * 1e6) AS BIGINT)
             |      for i in range(lo, hi + 1)]) AS DOUBLE)
             |    / CAST(hi - lo + 1 AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS paa
             |FROM b ORDER BY series_id, seg""".stripMargin)),

    // SAX words (round 10, [EXT], Lin DMKD 2007): bin each PAA mean at
    // the standard-normal quartile breakpoints into a 4-letter
    // alphabet, concatenated per series — the discrete fingerprint
    // that turns series similarity into string equality. Binning is
    // exact comparison on the already-quantized paa values.
    Q("ts_sax",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.sax(ser, 8).orderBy("series_id")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r GROUP BY user_id),
             |s AS (SELECT user_id, vs, len(vs) AS n,
             |    list_sum([CAST(round(x * 1e6) AS BIGINT) for x in vs]) AS s1
             |  FROM l WHERE len(vs) >= 10),
             |m AS (SELECT *, CAST(s1 AS DOUBLE) / n / 1e6 AS mean FROM s),
             |d AS (SELECT *, list_sum([CAST(round((x - mean) * (x - mean) * 1e6)
             |        AS BIGINT) for x in vs]) AS s2 FROM m),
             |v AS (SELECT *, sqrt(CAST(s2 AS DOUBLE) / n / 1e6) AS std
             |  FROM d WHERE s2 > 0),
             |b AS (SELECT user_id, vs, mean, std, sg.seg AS seg,
             |    CAST(floor((sg.seg - 1) * n / 8.0) AS BIGINT) + 1 AS lo,
             |    CAST(floor(sg.seg * n / 8.0) AS BIGINT) AS hi
             |  FROM v, (SELECT unnest(range(1, 9)) AS seg) sg),
             |p AS (SELECT user_id, seg,
             |    floor(CAST(list_sum([CAST(round((vs[i] - mean) / std * 1e6) AS BIGINT)
             |        for i in range(lo, hi + 1)]) AS DOUBLE)
             |      / CAST(hi - lo + 1 AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS paa
             |  FROM b)
             |SELECT user_id AS series_id,
             |  string_agg(CASE WHEN paa < -0.6745 THEN 'a' WHEN paa < 0.0 THEN 'b'
             |    WHEN paa < 0.6745 THEN 'c' ELSE 'd' END, '' ORDER BY seg) AS word
             |FROM p GROUP BY user_id ORDER BY series_id""".stripMargin)),

    // SAX motif buckets (round 10, [EXT]): series sharing a 4-segment
    // SAX word — the shape-dedup / motif-candidate pass (string
    // equality instead of a pairwise distance scan; the time-series
    // twin of the text tier's fingerprint dedup). One map-side-
    // combined groupBy on the word.
    Q("ts_sax_motifs",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.sax(ser, 4).groupBy("word")
          .agg(count(lit(1)).as("n_series"), min("series_id").as("example"))
          .filter(col("n_series") >= 2)
          .orderBy(col("n_series").desc, col("word"))
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r GROUP BY user_id),
             |s AS (SELECT user_id, vs, len(vs) AS n,
             |    list_sum([CAST(round(x * 1e6) AS BIGINT) for x in vs]) AS s1
             |  FROM l WHERE len(vs) >= 10),
             |m AS (SELECT *, CAST(s1 AS DOUBLE) / n / 1e6 AS mean FROM s),
             |d AS (SELECT *, list_sum([CAST(round((x - mean) * (x - mean) * 1e6)
             |        AS BIGINT) for x in vs]) AS s2 FROM m),
             |v AS (SELECT *, sqrt(CAST(s2 AS DOUBLE) / n / 1e6) AS std
             |  FROM d WHERE s2 > 0),
             |b AS (SELECT user_id, vs, mean, std, sg.seg AS seg,
             |    CAST(floor((sg.seg - 1) * n / 4.0) AS BIGINT) + 1 AS lo,
             |    CAST(floor(sg.seg * n / 4.0) AS BIGINT) AS hi
             |  FROM v, (SELECT unnest(range(1, 5)) AS seg) sg),
             |p AS (SELECT user_id, seg,
             |    floor(CAST(list_sum([CAST(round((vs[i] - mean) / std * 1e6) AS BIGINT)
             |        for i in range(lo, hi + 1)]) AS DOUBLE)
             |      / CAST(hi - lo + 1 AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS paa
             |  FROM b),
             |w AS (SELECT user_id,
             |    string_agg(CASE WHEN paa < -0.6745 THEN 'a' WHEN paa < 0.0 THEN 'b'
             |      WHEN paa < 0.6745 THEN 'c' ELSE 'd' END, '' ORDER BY seg) AS word
             |  FROM p GROUP BY user_id)
             |SELECT word, count(*) AS n_series, min(user_id) AS example
             |FROM w GROUP BY word HAVING count(*) >= 2
             |ORDER BY n_series DESC, word""".stripMargin)),

    // EWMA-residual anomaly flags (round 10, [EXT]): extreme one-step
    // JUMPS per series (vs pt_zscore/pt_mad's extreme VALUES) —
    // residual r_i = x_i − ewma_{i−1}, flagged at |r − mean(r)| >
    // 3·std(r). Residual moments are exact integer micro-sums (the
    // dimStats idiom, order-free), the EWMA rides ts_ewma's
    // sequential-fold contract.
    Q("ts_anomaly",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.ewmaAnomalies(ser, 0.3, 3.0).orderBy("series_id", "pos")
      },
      Some("""WITH r0 AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r0 GROUP BY user_id),
             |w AS (SELECT user_id, vs, len(vs) AS n,
             |    [vs[i] - list_reduce(vs[1:i-1], (y, x) ->
             |       CAST(0.3 AS DOUBLE) * x
             |       + (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * y)
             |     for i in range(2, len(vs) + 1)] AS r
             |  FROM l WHERE len(vs) >= 3),
             |m AS (SELECT user_id, vs, r, len(r) AS nr,
             |    list_sum([CAST(round(x * 1e6) AS BIGINT) for x in r]) AS s1,
             |    list_sum([CAST(round(x * x * 1e6) AS BIGINT) for x in r]) AS s2
             |  FROM w),
             |st AS (SELECT *, CAST(s1 AS DOUBLE) / nr / 1e6 AS meanr,
             |    sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / nr / 1e6
             |      - (CAST(s1 AS DOUBLE) / nr / 1e6) * (CAST(s1 AS DOUBLE) / nr / 1e6))) AS stdr
             |  FROM m)
             |SELECT user_id AS series_id, CAST(i + 1 AS BIGINT) AS pos,
             |  floor(vs[i + 1] * 1e6 + 0.5) / 1e6 AS value,
             |  floor(r[i] * 1e6 + 0.5) / 1e6 AS resid,
             |  floor((r[i] - meanr) / stdr * 1e4 + 0.5) / 1e4 AS z
             |FROM st, LATERAL (SELECT unnest(range(1, nr + 1)) AS i) u
             |WHERE stdr > 0 AND abs(r[i] - meanr) > 3 * stdr
             |ORDER BY series_id, pos""".stripMargin)),

    // Matrix-profile-lite (round 10, [EXT]; Yeh et al. ICDM 2016):
    // per series the closest z-normalized subsequence pair (motif)
    // and the subsequence farthest from its nearest neighbor
    // (discord), exclusion zone |i-j| >= w. Window z-codes quantize
    // once to exact integers, pair distances are exact integer sums,
    // extremes ride lexicographic struct ordering — the oracle
    // replays the whole pass relationally.
    Q("ts_matrix_profile",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.matrixProfile(ser, 8).orderBy("series_id")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r GROUP BY user_id),
             |g AS (SELECT user_id, vs, len(vs) AS n FROM l WHERE len(vs) >= 24),
             |win AS (SELECT user_id, vs, u.i AS i
             |  FROM g, LATERAL (SELECT unnest(range(0, n - 8 + 1)) AS i) u),
             |st AS (SELECT user_id, vs, i,
             |    CAST(list_sum([CAST(round(vs[i + k] * 1e6) AS BIGINT)
             |      for k in range(1, 9)]) AS DOUBLE) / 8 / 1e6 AS m
             |  FROM win),
             |s2 AS (SELECT user_id, vs, i, m,
             |    list_sum([CAST(round((vs[i + k] - m) * (vs[i + k] - m) * 1e6)
             |      AS BIGINT) for k in range(1, 9)]) AS s2
             |  FROM st),
             |zz AS (SELECT user_id, i,
             |    [CAST(round((vs[i + k] - m) / sqrt(CAST(s2 AS DOUBLE) / 8 / 1e6)
             |       * 1e3) AS BIGINT) for k in range(1, 9)] AS zq
             |  FROM s2 WHERE s2 > 0),
             |p AS (SELECT a.user_id, a.i AS i, b.i AS j,
             |    list_sum([(a.zq[k] - b.zq[k]) * (a.zq[k] - b.zq[k])
             |      for k in range(1, 9)]) AS d
             |  FROM zz a JOIN zz b ON a.user_id = b.user_id AND b.i >= a.i + 8),
             |mo AS (SELECT user_id,
             |    first(i ORDER BY d, i, j) AS ma, first(j ORDER BY d, i, j) AS mb,
             |    min(d) AS md
             |  FROM p GROUP BY user_id),
             |pp AS (SELECT user_id, i, d FROM p
             |  UNION ALL SELECT user_id, j, d FROM p),
             |prof AS (SELECT user_id, i, min(d) AS nnd FROM pp GROUP BY 1, 2),
             |di AS (SELECT user_id, first(i ORDER BY nnd DESC, i) AS dp,
             |    max(nnd) AS dd
             |  FROM prof GROUP BY user_id)
             |SELECT mo.user_id AS series_id,
             |  CAST(mo.ma + 1 AS BIGINT) AS motif_a,
             |  CAST(mo.mb + 1 AS BIGINT) AS motif_b,
             |  floor(sqrt(CAST(mo.md AS DOUBLE)) / 1e3 * 1e4 + 0.5) / 1e4 AS motif_dist,
             |  CAST(di.dp + 1 AS BIGINT) AS discord_pos,
             |  floor(sqrt(CAST(di.dd AS DOUBLE)) / 1e3 * 1e4 + 0.5) / 1e4 AS discord_dist
             |FROM mo JOIN di ON mo.user_id = di.user_id
             |ORDER BY series_id""".stripMargin)),

    // Seasonal decomposition, STL-lite (round 10, [EXT]): per series,
    // trend = centered 5-point MA (interior points), seasonal =
    // per-phase mean of the detrended values (period 4), remainder =
    // detrended − seasonal. Every cross-point reduction is an
    // index-ordered fold with explicit left association, so DuckDB
    // replays the identical IEEE chains with list comprehensions +
    // list_reduce; outputs on the floor(x·1e6+0.5) halfway rule.
    Q("ts_decompose",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.decompose(ser, 4).orderBy("series_id", "pos")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r GROUP BY user_id),
             |d AS (SELECT user_id, vs, len(vs) AS n,
             |    [CASE WHEN i >= 3 AND i <= len(vs) - 2 THEN
             |       vs[i] - ((((vs[i-2] + vs[i-1]) + vs[i]) + vs[i+1]) + vs[i+2]) / 5
             |     END for i in range(1, len(vs) + 1)] AS det
             |  FROM l WHERE len(vs) >= 5),
             |sp AS (SELECT d.user_id, p.p,
             |    CASE WHEN len([x for x in [CASE WHEN (i-1) % 4 = p.p THEN det[i] END
             |                   for i in range(1, n+1)] if x IS NOT NULL]) > 0 THEN
             |      list_reduce([x for x in [CASE WHEN (i-1) % 4 = p.p THEN det[i] END
             |                   for i in range(1, n+1)] if x IS NOT NULL], (a, b) -> a + b)
             |      / len([x for x in [CASE WHEN (i-1) % 4 = p.p THEN det[i] END
             |             for i in range(1, n+1)] if x IS NOT NULL])
             |    END AS seas
             |  FROM d, (SELECT unnest(range(4)) AS p) p)
             |SELECT d.user_id AS series_id, CAST(u.i AS BIGINT) AS pos,
             |  floor(vs[u.i]*1e6 + 0.5)/1e6 AS value,
             |  floor((vs[u.i] - det[u.i])*1e6 + 0.5)/1e6 AS trend,
             |  floor(sp.seas*1e6 + 0.5)/1e6 AS seasonal,
             |  floor((det[u.i] - sp.seas)*1e6 + 0.5)/1e6 AS remainder
             |FROM d, LATERAL (SELECT unnest(range(3, n - 1)) AS i) u
             |JOIN sp ON sp.user_id = d.user_id AND sp.p = (u.i - 1) % 4
             |ORDER BY series_id, pos""".stripMargin)),

    // STL strength features per series (round 10, [EXT]): F_trend /
    // F_seasonal over the decompose output — the series-triage pair
    Q("ts_stl_strength",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.stlStrength(ser, 4).orderBy("series_id")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r GROUP BY user_id),
             |d AS (SELECT user_id, vs, len(vs) AS n,
             |    [CASE WHEN i >= 3 AND i <= len(vs) - 2 THEN
             |       vs[i] - ((((vs[i-2] + vs[i-1]) + vs[i]) + vs[i+1]) + vs[i+2]) / 5
             |     END for i in range(1, len(vs) + 1)] AS det
             |  FROM l WHERE len(vs) >= 5),
             |sp AS (SELECT d.user_id, p.p,
             |    CASE WHEN len([x for x in [CASE WHEN (i-1) % 4 = p.p THEN det[i] END
             |                   for i in range(1, n+1)] if x IS NOT NULL]) > 0 THEN
             |      list_reduce([x for x in [CASE WHEN (i-1) % 4 = p.p THEN det[i] END
             |                   for i in range(1, n+1)] if x IS NOT NULL], (a, b) -> a + b)
             |      / len([x for x in [CASE WHEN (i-1) % 4 = p.p THEN det[i] END
             |             for i in range(1, n+1)] if x IS NOT NULL])
             |    END AS seas
             |  FROM d, (SELECT unnest(range(4)) AS p) p),
             |dec AS (SELECT d.user_id AS series_id,
             |  floor(vs[u.i]*1e6 + 0.5)/1e6 AS value,
             |  floor((vs[u.i] - det[u.i])*1e6 + 0.5)/1e6 AS trend,
             |  floor(sp.seas*1e6 + 0.5)/1e6 AS seasonal,
             |  floor((det[u.i] - sp.seas)*1e6 + 0.5)/1e6 AS remainder
             |FROM d, LATERAL (SELECT unnest(range(3, n - 1)) AS i) u
             |JOIN sp ON sp.user_id = d.user_id AND sp.p = (u.i - 1) % 4),
             |a AS (SELECT series_id, count(*) AS n,
             |  sum(CAST(round(remainder*1e6) AS BIGINT)) AS r1,
             |  sum(CAST(round(remainder*remainder*1e6) AS BIGINT)) AS r2,
             |  sum(CAST(round((remainder+seasonal)*1e6) AS BIGINT)) AS d1,
             |  sum(CAST(round((remainder+seasonal)*(remainder+seasonal)*1e6) AS BIGINT)) AS d2,
             |  sum(CAST(round((value-seasonal)*1e6) AS BIGINT)) AS t1,
             |  sum(CAST(round((value-seasonal)*(value-seasonal)*1e6) AS BIGINT)) AS t2
             |FROM dec GROUP BY series_id),
             |v AS (SELECT series_id, n,
             |  CAST(r2 AS DOUBLE)/n/1e6 - (CAST(r1 AS DOUBLE)/n/1e6)*(CAST(r1 AS DOUBLE)/n/1e6) AS vr,
             |  CAST(d2 AS DOUBLE)/n/1e6 - (CAST(d1 AS DOUBLE)/n/1e6)*(CAST(d1 AS DOUBLE)/n/1e6) AS vd,
             |  CAST(t2 AS DOUBLE)/n/1e6 - (CAST(t1 AS DOUBLE)/n/1e6)*(CAST(t1 AS DOUBLE)/n/1e6) AS vt
             |FROM a)
             |SELECT series_id, n,
             |  floor(greatest(0.0, 1.0 - vr/vt)*1e6 + 0.5)/1e6 AS f_trend,
             |  floor(greatest(0.0, 1.0 - vr/vd)*1e6 + 0.5)/1e6 AS f_seasonal
             |FROM v WHERE n >= 8 AND vd > 0 AND vt > 0
             |ORDER BY series_id""".stripMargin)),

    // Per-series autocorrelation, lags 1..5 (round 10, [EXT]): the lag
    // structure probe. Mean and both quadratic sums are exact integer
    // micro-sums (order-free), so both engines compute identical
    // numerator/denominator integers and one identical division per
    // lag; acf on the floor(x·1e6+0.5) halfway rule.
    Q("ts_acf",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.acf(ser, 5).orderBy("series_id", "lag")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r GROUP BY user_id),
             |s AS (SELECT user_id, vs, len(vs) AS n,
             |    list_sum([CAST(round(x * 1e6) AS BIGINT) for x in vs]) AS s1
             |  FROM l WHERE len(vs) >= 10),
             |m AS (SELECT *, CAST(s1 AS DOUBLE) / n / 1e6 AS mean FROM s),
             |d AS (SELECT *, list_sum([CAST(round((x - mean) * (x - mean) * 1e6) AS BIGINT)
             |        for x in vs]) AS den
             |  FROM m),
             |x AS (SELECT user_id, vs, n, mean, den, lg.lag AS lag
             |  FROM d, (SELECT unnest(range(1, 6)) AS lag) lg
             |  WHERE den > 0 AND lag <= n - 1)
             |SELECT user_id AS series_id, CAST(lag AS BIGINT) AS lag,
             |  floor(CAST(list_sum([CAST(round((vs[i] - mean) * (vs[i + lag] - mean) * 1e6)
             |          AS BIGINT) for i in range(1, n - lag + 1)]) AS DOUBLE)
             |    / CAST(den AS DOUBLE) * 1e6 + 0.5) / 1e6 AS acf
             |FROM x ORDER BY series_id, lag""".stripMargin)),

    // CUSUM changepoint scan per series (round 10, [EXT]): argmax |S_k|
    // of the standardized cumulative sums, change flag at the 95%
    // Kolmogorov bound. Every prefix sum is an exact integer micro-sum
    // and mean/std come from exact integer micro-moments, so all |S_k|
    // are bit-identical IEEE chains on both engines — argmax
    // (first-max rule) and the threshold compare are exact.
    Q("ts_cusum",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.cusum(ser).orderBy("series_id")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r GROUP BY user_id),
             |s AS (SELECT user_id, vs, len(vs) AS n,
             |    list_sum([CAST(round(x * 1e6) AS BIGINT) for x in vs]) AS s1,
             |    list_sum([CAST(round(x * x * 1e6) AS BIGINT) for x in vs]) AS s2
             |  FROM l WHERE len(vs) >= 20),
             |m AS (SELECT *, CAST(s1 AS DOUBLE) / n / 1e6 AS mean,
             |    sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n / 1e6
             |      - (CAST(s1 AS DOUBLE) / n / 1e6) * (CAST(s1 AS DOUBLE) / n / 1e6))) AS stdv
             |  FROM s),
             |c AS (SELECT user_id, n, mean, stdv,
             |    [abs((CAST(list_sum([CAST(round(vs[j] * 1e6) AS BIGINT)
             |            for j in range(1, k + 1)]) AS DOUBLE) / 1e6
             |          - CAST(k AS DOUBLE) * mean)
             |         / (stdv * sqrt(CAST(n AS DOUBLE)))) for k in range(1, n)] AS S
             |  FROM m WHERE stdv > 0)
             |SELECT user_id AS series_id,
             |  CAST(list_position(S, list_max(S)) AS BIGINT) AS cp_pos,
             |  floor(list_max(S) * 1e4 + 0.5) / 1e4 AS stat,
             |  list_max(S) > 1.358 AS changed
             |FROM c ORDER BY series_id""".stripMargin)),

    // Pairwise series correlation matrix (round 10, [EXT]): Pearson
    // corr at lag 0 over min-length-truncated series, every unordered
    // pair. The series dim is the SMALL one, so pair generation is a
    // broadcast theta self-join on the one-row-per-series table; all
    // sums are exact integer micro-sums.
    Q("ts_crosscorr",
      (s, dir) => {
        val ser = eventSeries(s, dir)
        SeriesOps.crossCorr(ser).orderBy("s_a", "s_b")
      },
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs FROM r GROUP BY user_id),
             |mn AS (SELECT min(len(vs)) AS L FROM l),
             |t AS (SELECT user_id, vs[1:L] AS vs FROM l, mn WHERE L >= 2),
             |s AS (SELECT user_id, vs, len(vs) AS n,
             |    list_sum([CAST(round(x * 1e6) AS BIGINT) for x in vs]) AS s1
             |  FROM t),
             |m AS (SELECT user_id, vs, n, CAST(s1 AS DOUBLE) / n / 1e6 AS mean FROM s),
             |q AS (SELECT user_id, n,
             |    [CAST(CAST(round((x - mean) * 1e3) AS BIGINT) AS DOUBLE)
             |     for x in vs] AS qc
             |  FROM m),
             |d AS (SELECT user_id, n, qc,
             |    list_sum([x * x for x in qc]) AS den FROM q)
             |SELECT a.user_id AS s_a, b.user_id AS s_b,
             |  floor(list_sum([a.qc[i] * b.qc[i] for i in range(1, a.n + 1)])
             |    / sqrt(a.den * b.den) * 1e4 + 0.5) / 1e4 AS corr
             |FROM d a JOIN d b ON a.user_id < b.user_id
             |WHERE a.den > 0 AND b.den > 0
             |ORDER BY s_a, s_b""".stripMargin)),

    // P5 approx-equality point lookup: numpy isclose semantics
    // (rtol=1e-5, atol=1e-8, app.py:958-973). The reference probes a
    // hovered ACTUAL point, which by construction always matches — so
    // the probe here is derived from the data (the first event's value)
    // rather than a constant, guaranteeing the theta predicate is
    // exercised on ≥1 row. One-row agg broadcast; the scan itself never
    // shuffles.
    Q("pt_isclose_lookup",
      (s, dir) => {
        val ev = Tables.events(s, dir).na.drop(Seq("value"))
        val probe = ev.agg(min_by(col("value"), col("event_id")).as("__p"))
        ev.crossJoin(broadcast(probe))
          .filter(abs(col("value") - col("__p")) <= lit(1e-8) + lit(1e-5) * abs(col("__p")))
          .select(col("event_id"), col("user_id"), col("value"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT arg_min(value, event_id) AS pv FROM events
             |           WHERE value IS NOT NULL)
             |SELECT event_id, user_id, value FROM events, p
             |WHERE value IS NOT NULL AND abs(value - pv) <= 1e-8 + 1e-5*abs(pv)
             |ORDER BY event_id""".stripMargin)),

    // P4-flavored deterministic outlier predicate: |z| > 3 over the
    // whole-column z-score (the DBSCAN-noise variant is ml_dbscan_outliers)
    Q("pt_zscore_outliers",
      (s, dir) => SeriesOps.withNormalized(Tables.events(s, dir), "value")
        .filter(abs(col("z_score")) > 3.0)
        .select(col("event_id"), col("user_id"), round(col("z_score"), 6).as("z"))
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, round((value - av)/sd,6) AS z
             |FROM events, (SELECT avg(value) AS av, stddev_pop(value) AS sd
             |              FROM events WHERE value IS NOT NULL)
             |WHERE value IS NOT NULL AND abs((value - av)/sd) > 3.0
             |ORDER BY event_id""".stripMargin)),

    // Scalar-function surface (§2.9): round/abs/sqrt/pow/acos/cos/concat
    Q("fn_scalar_surface",
      (s, dir) => Tables.events(s, dir).na.drop(Seq("value"))
        .filter(col("event_id") < 100)
        .select(col("event_id"),
          round(col("value"), 2).as("r2"),
          round(abs(-col("value")), 6).as("abs_v"),
          round(sqrt(col("value")), 6).as("sqrt_v"),
          round(pow(col("value"), 2.0), 4).as("pow_v"),
          round(cos(acos(lit(1.0) / (lit(1.0) + col("value") / 1000.0))), 6).as("trig_v"),
          concat(lit("Process "), col("user_id").cast("string")).as("label"))
        .orderBy("event_id"),
      Some("""SELECT event_id, round(value,2) AS r2, round(abs(-value),6) AS abs_v,
             |       round(sqrt(value),6) AS sqrt_v, round(pow(value,2.0),4) AS pow_v,
             |       round(cos(acos(1.0/(1.0 + value/1000.0))),6) AS trig_v,
             |       'Process ' || CAST(user_id AS VARCHAR) AS label
             |FROM events WHERE value IS NOT NULL AND event_id < 100
             |ORDER BY event_id""".stripMargin)),

    // JSON extraction over events.props ([EXT], SURVEY.md §7.2 P6)
    Q("json_extract_props",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |FROM events ORDER BY event_id""".stripMargin)),

    Q("json_agg_by_type",
      (s, dir) => Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(avg(col("k")), 6).as("avg_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             |       round(avg(k),6) AS avg_k, min(k) AS min_k, max(k) AS max_k
             |FROM (SELECT event_type, CAST(json_extract_string(props,'$.k') AS BIGINT) AS k
             |      FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Resample per user to 1h bins with LOCF gap-fill — the canonical
    // time-series regularization (the reference's time axis is purely
    // positional, so it has no counterpart; any TS engine user needs
    // it). Empty bins carry the last observed bin mean forward and are
    // flagged is_gap.
    Q("evt_resample_locf",
      (s, dir) => SeriesOps.resampleLocf(
          Tables.events(s, dir), "user_id", "ts", "value", 3600L)
        .select(col("user_id"), col("bin_start_s"), col("n_obs"),
          round(col("v"), 6).as("v"), col("is_gap"))
        .orderBy("user_id", "bin_start_s"),
      Some("""WITH a AS (SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bin,
             |             count(*) AS n_obs, avg(value) AS v
             |           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
             |g AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bin
             |      FROM (SELECT user_id, min(bin) AS b0, max(bin) AS b1
             |            FROM a GROUP BY user_id)),
             |f AS (SELECT g.user_id, g.bin, coalesce(a.n_obs, 0) AS n_obs,
             |        last_value(a.v IGNORE NULLS) OVER (
             |          PARTITION BY g.user_id ORDER BY g.bin
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
             |        a.n_obs IS NULL AS is_gap
             |      FROM g LEFT JOIN a USING (user_id, bin))
             |SELECT user_id, bin * 3600 AS bin_start_s, n_obs,
             |       round(v, 6) AS v, is_gap
             |FROM f ORDER BY user_id, bin_start_s""".stripMargin)),

    // Linear-interpolation resample: same bin grid as LOCF, gaps take
    // the distance-weighted blend of nearest observed neighbours (the
    // grid spans first..last observed bin, so neighbours always exist).
    // Output quantization is floor(x·1e6 + 0.5)/1e6 rather than
    // round(x, 6): the blend of 6dp-quantized neighbours lands EXACTLY
    // on 7th-decimal ties (frac = 1/2, 1/4, …), where Spark's
    // BigDecimal round and DuckDB's multiply-based round disagree on
    // the same double — floor is the same cliff in both engines.
    Q("evt_resample_interp",
      (s, dir) => SeriesOps.resampleInterp(
          Tables.events(s, dir), "user_id", "ts", "value", 3600L)
        .select(col("user_id"), col("bin_start_s"), col("n_obs"),
          (floor(col("v") * 1e6 + 0.5) / 1e6).as("v"), col("is_gap"))
        .orderBy("user_id", "bin_start_s"),
      Some("""WITH a AS (SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bin,
             |             count(*) AS n_obs, round(avg(value), 6) AS v
             |           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
             |g AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bin
             |      FROM (SELECT user_id, min(bin) AS b0, max(bin) AS b1
             |            FROM a GROUP BY user_id)),
             |f AS (SELECT g.user_id, g.bin, coalesce(a.n_obs, 0) AS n_obs, a.v,
             |        last_value(a.v IGNORE NULLS) OVER (
             |          PARTITION BY g.user_id ORDER BY g.bin
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             |        last_value(CASE WHEN a.v IS NOT NULL THEN g.bin END IGNORE NULLS) OVER (
             |          PARTITION BY g.user_id ORDER BY g.bin
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             |        first_value(a.v IGNORE NULLS) OVER (
             |          PARTITION BY g.user_id ORDER BY g.bin
             |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             |        first_value(CASE WHEN a.v IS NOT NULL THEN g.bin END IGNORE NULLS) OVER (
             |          PARTITION BY g.user_id ORDER BY g.bin
             |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb,
             |        a.n_obs IS NULL AS is_gap
             |      FROM g LEFT JOIN a USING (user_id, bin))
             |SELECT user_id, bin * 3600 AS bin_start_s, n_obs,
             |       floor((CASE WHEN NOT is_gap THEN v
             |             ELSE pv + (nv - pv) *
             |                  (CAST(bin - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))
             |             END) * 1e6 + 0.5) / 1e6 AS v,
             |       is_gap
             |FROM f ORDER BY user_id, bin_start_s""".stripMargin)),

    // Robust per-user outlier stats: median + MAD + modified-z-score
    // outlier count (Iglewicz–Hoaglin 0.6745·|v−med|/MAD > 3.5) — the
    // robust twin of pt_zscore_outliers; exact interpolated medians
    // (the proven-parity percentile/quantile_cont pair)
    Q("pt_mad_outliers",
      (s, dir) => SeriesOps.madOutlierStats(
          Tables.events(s, dir), "user_id", "value")
        .select(col("user_id"), col("n"), round(col("med"), 6).as("med"),
          round(col("mad"), 6).as("mad"), col("n_outliers"))
        .orderBy("user_id"),
      Some("""WITH c AS (SELECT user_id, value FROM events WHERE value IS NOT NULL),
             |m AS (SELECT user_id, quantile_cont(value, 0.5) AS med
             |      FROM c GROUP BY user_id),
             |d AS (SELECT c.user_id, abs(c.value - m.med) AS ad, m.med AS med
             |      FROM c JOIN m USING (user_id)),
             |md AS (SELECT user_id, quantile_cont(ad, 0.5) AS mad
             |       FROM d GROUP BY user_id)
             |SELECT d.user_id, count(*) AS n,
             |       round(any_value(d.med), 6) AS med,
             |       round(any_value(md.mad), 6) AS mad,
             |       CAST(sum(CASE WHEN md.mad > 0 AND 0.6745 * d.ad / md.mad > 3.5
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM d JOIN md USING (user_id)
             |GROUP BY d.user_id ORDER BY d.user_id""".stripMargin)),

    // Distinct users per tumbling window (exact; the approx twin at
    // corpus scale is approx_count_distinct in the same shape)
    Q("evt_window_distinct",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .select(unix_timestamp(col("w.start")).as("wstart_s"),
          col("n_users"), col("n_events"))
        .orderBy("wstart_s"),
      Some("""SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS wstart_s,
             |       count(DISTINCT user_id) AS n_users, count(*) AS n_events
             |FROM events GROUP BY 1 ORDER BY wstart_s""".stripMargin)),

    // Hour-over-hour retention: of the users active in hour h, how
    // many are also active in hour h+1 (the cohort-retention kernel;
    // one shuffle on (user, hour), then a self-join on the hour+1 key)
    Q("evt_retention",
      (s, dir) => {
        val active = Tables.events(s, dir)
          .select(col("user_id"),
            floor(unix_timestamp(col("ts")) / 3600).cast("long").as("h"))
          .distinct()
        active.as("a").join(active.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("b.h") === col("a.h") + 1, "left")
          .groupBy(col("a.h").as("h"))
          .agg(count(lit(1)).as("n_active"),
            count(col("b.user_id")).as("n_retained"))
          .withColumn("retention", round(col("n_retained") / col("n_active"), 6))
          .orderBy("h")
      },
      Some("""WITH a AS (SELECT DISTINCT user_id,
             |             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
             |           FROM events)
             |SELECT a.h, count(*) AS n_active,
             |       count(b.user_id) AS n_retained,
             |       round(count(b.user_id) / count(*), 6) AS retention
             |FROM a LEFT JOIN a b ON b.user_id = a.user_id AND b.h = a.h + 1
             |GROUP BY a.h ORDER BY a.h""".stripMargin)),

    // U-shaped multi-touch attribution (round 10 session 3, [EXT]):
    // purchase revenue credited 40/40/20 across each user's first /
    // last / middle preceding touches, last-touch column for
    // contrast, explicit (unattributed) row, micro-quantized credits
    // summed as exact integers. The mega-user guard (10k touches)
    // fences the per-user quadratic.
    Q("evt_attribution",
      (s, dir) => graft.ops.Attribution.uShaped(Tables.events(s, dir),
        "user_id", "event_type", "ts", "event_id", "value",
        Seq("view", "click", "signup"), "purchase"),
      Some("""WITH ev AS (SELECT user_id AS u, event_type AS t,
             |    epoch_us(ts) AS us, event_id AS eid, value AS v FROM events),
             |mega AS (SELECT u FROM ev WHERE t IN ('view','click','signup')
             |         GROUP BY u HAVING count(*) > 10000),
             |conv AS (SELECT u, us AS cus, eid AS ceid,
             |           coalesce(v, 0.0) AS cv
             |         FROM ev WHERE t = 'purchase'),
             |okc AS (SELECT * FROM conv
             |        WHERE u NOT IN (SELECT u FROM mega)),
             |tch AS (SELECT u, t, us, eid FROM ev
             |        WHERE t IN ('view','click','signup')),
             |pairs AS (SELECT c.u, c.ceid, c.cv, t.t, t.us, t.eid
             |          FROM okc c JOIN tch t ON t.u = c.u
             |            AND (t.us < c.cus
             |                 OR (t.us = c.cus AND t.eid < c.ceid))),
             |pr AS (SELECT *,
             |    row_number() OVER (PARTITION BY u, ceid
             |      ORDER BY us, eid) AS rf,
             |    row_number() OVER (PARTITION BY u, ceid
             |      ORDER BY us DESC, eid DESC) AS rl,
             |    count(*) OVER (PARTITION BY u, ceid) AS m
             |  FROM pairs),
             |cr AS (SELECT t AS channel, cv, rl = 1 AS isl,
             |    CASE WHEN m = 1 THEN 1.0 WHEN m = 2 THEN 0.5
             |         WHEN rf = 1 OR rl = 1 THEN 0.4
             |         ELSE 0.2 / (m - 2) END AS share
             |  FROM pr),
             |agg AS (SELECT channel, count(*) AS n_credits,
             |    CAST(sum(CAST(floor(cv * share * 1e6 + 0.5) AS BIGINT))
             |      AS BIGINT) AS u6,
             |    CAST(sum(CASE WHEN isl
             |      THEN CAST(floor(cv * 1e6 + 0.5) AS BIGINT)
             |      ELSE 0 END) AS BIGINT) AS l6
             |  FROM cr GROUP BY channel),
             |unat AS (SELECT '(unattributed)' AS channel,
             |    count(*) AS n_credits,
             |    CAST(sum(CAST(floor(cv * 1e6 + 0.5) AS BIGINT))
             |      AS BIGINT) AS u6,
             |    CAST(sum(CAST(floor(cv * 1e6 + 0.5) AS BIGINT))
             |      AS BIGINT) AS l6
             |  FROM okc WHERE NOT EXISTS (SELECT 1 FROM pairs p
             |    WHERE p.u = okc.u AND p.ceid = okc.ceid)
             |  HAVING count(*) > 0),
             |skip AS (SELECT '(mega_user_skipped)' AS channel,
             |    count(*) AS n_credits,
             |    CAST(sum(CAST(floor(cv * 1e6 + 0.5) AS BIGINT))
             |      AS BIGINT) AS u6,
             |    CAST(sum(CAST(floor(cv * 1e6 + 0.5) AS BIGINT))
             |      AS BIGINT) AS l6
             |  FROM conv WHERE u IN (SELECT u FROM mega)
             |  HAVING count(*) > 0),
             |uni AS (SELECT * FROM agg UNION ALL SELECT * FROM unat
             |        UNION ALL SELECT * FROM skip)
             |SELECT channel, n_credits,
             |  CAST(u6 AS DOUBLE) / 1e6 AS rev_u_shaped,
             |  CAST(l6 AS DOUBLE) / 1e6 AS rev_last_touch
             |FROM uni ORDER BY channel""".stripMargin)),

    // Ordered funnel: users progressing view → click → purchase, each
    // step within 24h of the previous stage's first qualifying event
    // (strict in-order semantics, min-based — deterministic)
    Q("evt_funnel_stages",
      (s, dir) => graft.ops.Funnel.stages(Tables.events(s, dir),
          "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), "24 HOURS")
        .orderBy("stage"),
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
             |            WHERE event_type = 'view' GROUP BY user_id),
             |s2 AS (SELECT e.user_id, min(ts) AS t FROM events e
             |       JOIN s1 ON e.user_id = s1.user_id
             |       WHERE event_type = 'click' AND ts >= s1.t
             |         AND ts <= s1.t + INTERVAL 24 HOUR
             |       GROUP BY e.user_id),
             |s3 AS (SELECT e.user_id, min(ts) AS t FROM events e
             |       JOIN s2 ON e.user_id = s2.user_id
             |       WHERE event_type = 'purchase' AND ts >= s2.t
             |         AND ts <= s2.t + INTERVAL 24 HOUR
             |       GROUP BY e.user_id)
             |SELECT * FROM (
             |  SELECT 1 AS stage, 'view' AS name,
             |         (SELECT count(*) FROM s1) AS n_keys
             |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
             |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
             |ORDER BY stage""".stripMargin)),

    // Stream-static enrichment join, batch twin: events enriched with
    // the customer market segment (user_id = c_custkey), rolled up per
    // (segment, type). The streaming form is the same join
    // (EventStreams.enrichWithDim, broadcast dim, stateless append);
    // StreamingSpec asserts streaming == batch on a fixture.
    Q("evt_static_enrich",
      (s, dir) => {
        val dim = Tables.customer(s, dir)
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment"))
        graft.streaming.EventStreams
          .enrichWithDim(Tables.events(s, dir), dim, "user_id")
          .groupBy(coalesce(col("segment"), lit("none")).as("segment"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
          .orderBy("segment", "event_type")
      },
      Some("""SELECT coalesce(c.c_mktsegment, 'none') AS segment,
             |       e.event_type, count(*) AS n,
             |       round(sum(e.value), 4) AS sum_v
             |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin)),

    // Event-time tumbling window (streaming-ready form of W3; batch
    // semantics identical to Structured Streaming's window())
    Q("evt_tumbling_window",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
        .select(unix_timestamp(col("w.start")).as("wstart_s"), col("event_type"),
          col("n"), col("sum_v"))
        .orderBy("wstart_s", "event_type"),
      Some("""SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS wstart_s,
             |       event_type, count(*) AS n, round(sum(value),4) AS sum_v
             |FROM events GROUP BY 1, 2 ORDER BY wstart_s, event_type""".stripMargin)),

    // OHLC candle aggregation (round 10, [EXT]): per (user, hour),
    // open/high/low/close of value — the classic time-series bar
    // downsample. Open/close are min_by/max_by on the (ts, event_id)
    // struct order: a pure AGGREGATE form (partial-agg map-side
    // combine, no per-key window sort); event_id uniqueness makes the
    // pick deterministic, so DuckDB's window formulation lands on the
    // identical rows.
    Q("evt_ohlc",
      (s, dir) => Tables.events(s, dir).na.drop(Seq("value"))
        .groupBy(col("user_id"),
          unix_timestamp(window(col("ts"), "1 hour").getField("start"))
            .as("wstart_s"))
        .agg(
          round(min_by(col("value"), struct(col("ts"), col("event_id"))), 4)
            .as("open"),
          round(max(col("value")), 4).as("high"),
          round(min(col("value")), 4).as("low"),
          round(max_by(col("value"), struct(col("ts"), col("event_id"))), 4)
            .as("close"),
          count(lit(1)).as("n"))
        .orderBy("user_id", "wstart_s"),
      Some("""WITH r AS (SELECT user_id, value,
             |    CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS wstart_s,
             |    row_number() OVER (PARTITION BY user_id,
             |      time_bucket(INTERVAL '1 hour', ts)
             |      ORDER BY ts, event_id) AS rn_a,
             |    row_number() OVER (PARTITION BY user_id,
             |      time_bucket(INTERVAL '1 hour', ts)
             |      ORDER BY ts DESC, event_id DESC) AS rn_d
             |  FROM events WHERE value IS NOT NULL)
             |SELECT user_id, wstart_s,
             |  round(max(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
             |  round(max(value), 4) AS high, round(min(value), 4) AS low,
             |  round(max(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
             |  count(*) AS n
             |FROM r GROUP BY 1, 2 ORDER BY user_id, wstart_s""".stripMargin)),

    // Event-type transition matrix (round 10, [EXT]): first-order
    // Markov counts over each user's event_id-ordered stream —
    // (from_type, to_type, n, p) with p row-normalized per from_type.
    // One shuffle onto user_id for the lead() window (the partitioning
    // the whole evt tier shares), then a tiny (types²) aggregate;
    // counts are exact and p is one identical integer-ratio division,
    // quantized on the floor(x·1e6+0.5) halfway rule.
    Q("evt_transition",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
        val pairs = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"))
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
        val wf = Window.partitionBy("from_type")
        pairs
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            floor(col("n").cast("double") / sum(col("n")).over(wf)
              * lit(1e6) + lit(0.5)).cast("double") / lit(1e6))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH p AS (SELECT event_type AS from_type,
             |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS to_type
             |  FROM events),
             |c AS (SELECT from_type, to_type, count(*) AS n FROM p
             |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |  floor(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type)
             |    * 1e6 + 0.5) / 1e6 AS p
             |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // Inter-arrival time stats per user (round 10, [EXT]): mean gap +
    // coefficient of variation of consecutive-event gaps — the
    // burstiness screen (cv » 1 = bursty bot-like traffic, cv « 1 =
    // metronomic scripted traffic; human activity sits near
    // exponential cv ≈ 1). Gaps are exact integer SECONDS (micros div
    // 1e6 — gaps here are minutes-to-days, so second truncation is
    // noise-free), moments exact integer sums, cv one identical IEEE
    // chain. One lag() on the user partitioning the evt tier shares,
    // then a map-side-combined per-user aggregate.
    Q("evt_interarrival",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("__us", "event_id")
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("__us"))
          .withColumn("__gap",
            ((col("__us") - lag(col("__us"), 1).over(w)) / lit(1000000L))
              .cast("long"))
          .filter(col("__gap").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"),
            sum(col("__gap")).as("__s1"),
            sum(col("__gap") * col("__gap")).as("__s2"))
          .filter(col("n_gaps") >= 5 && col("__s1") > 0)
          .withColumn("__mean", col("__s1").cast("double") / col("n_gaps"))
          .withColumn("__var", col("__s2").cast("double") / col("n_gaps")
            - col("__mean") * col("__mean"))
          .select(col("user_id"), col("n_gaps"),
            (floor(col("__mean") * lit(1e2) + lit(0.5)).cast("double") / lit(1e2))
              .as("mean_gap_s"),
            (floor(sqrt(greatest(col("__var"), lit(0.0))) / col("__mean")
              * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("cv"))
          .withColumn("bursty", col("cv") > lit(1.0))
          .orderBy("user_id")
      },
      Some("""WITH g AS (SELECT user_id,
             |    (epoch_us(ts) - lag(epoch_us(ts))
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap
             |  FROM events),
             |a AS (SELECT user_id, count(*) AS n_gaps, sum(gap) AS s1,
             |    sum(gap * gap) AS s2
             |  FROM g WHERE gap IS NOT NULL GROUP BY user_id
             |  HAVING count(*) >= 5 AND sum(gap) > 0),
             |m AS (SELECT user_id, n_gaps,
             |    CAST(s1 AS DOUBLE) / n_gaps AS mean,
             |    CAST(s2 AS DOUBLE) / n_gaps
             |      - (CAST(s1 AS DOUBLE) / n_gaps) * (CAST(s1 AS DOUBLE) / n_gaps) AS var
             |  FROM a)
             |SELECT user_id, n_gaps,
             |  floor(mean * 1e2 + 0.5) / 1e2 AS mean_gap_s,
             |  floor(sqrt(greatest(var, 0.0)) / mean * 1e6 + 0.5) / 1e6 AS cv,
             |  floor(sqrt(greatest(var, 0.0)) / mean * 1e6 + 0.5) / 1e6 > 1.0 AS bursty
             |FROM m ORDER BY user_id""".stripMargin)),

    // Conversion-lag distribution per segment (round 10, [EXT]): per
    // user, first view → first purchase latency; per customer
    // segment, conversion rate + exact lower-order-statistic
    // median/p90 of the lag — the funnel-completion timing the stage
    // counts (evt_funnel_stages) don't show. Two min-aggregates per
    // user (map-side combined), a broadcast dim join, and per-segment
    // order stats over |converted| longs; lags are exact integer
    // seconds, cvr one integer-ratio division.
    Q("evt_conversion_lag",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val per = ev.groupBy(col("user_id"))
          .agg(
            min(when(col("event_type") === "view",
              unix_micros(col("ts")))).as("__v"),
            min(when(col("event_type") === "purchase",
              unix_micros(col("ts")))).as("__p"))
          .filter(col("__v").isNotNull)
        val dim = Tables.customer(s, dir)
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment"))
        per.join(broadcast(dim), Seq("user_id"), "left")
          .withColumn("segment", coalesce(col("segment"), lit("none")))
          .withColumn("__lag", when(col("__p") >= col("__v"),
            ((col("__p") - col("__v")) / lit(1000000L)).cast("long")))
          .groupBy("segment")
          .agg(count(lit(1)).as("n_viewers"),
            count(col("__lag")).as("n_converted"),
            sort_array(collect_list(col("__lag"))).as("__s"))
          .filter(col("n_converted") >= 1)
          .select(col("segment"), col("n_viewers"), col("n_converted"),
            (floor(col("n_converted").cast("double") / col("n_viewers")
              * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("cvr"),
            expr("element_at(__s, CAST((size(__s) + 1) div 2 AS INT))")
              .as("median_lag_s"),
            expr("element_at(__s, CAST((9 * size(__s) + 9) div 10 AS INT))")
              .as("p90_lag_s"))
          .orderBy("segment")
      },
      Some("""WITH per AS (SELECT user_id,
             |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
             |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
             |  FROM events GROUP BY user_id
             |  HAVING min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
             |    IS NOT NULL),
             |j AS (SELECT coalesce(c.c_mktsegment, 'none') AS segment,
             |        CASE WHEN p >= v THEN (p - v) // 1000000 END AS lag
             |      FROM per LEFT JOIN customer c ON per.user_id = c.c_custkey),
             |g AS (SELECT segment, count(*) AS n_viewers,
             |        count(lag) AS n_converted,
             |        list(lag ORDER BY lag) FILTER (WHERE lag IS NOT NULL) AS s
             |      FROM j GROUP BY segment HAVING count(lag) >= 1)
             |SELECT segment, n_viewers, n_converted,
             |  floor(CAST(n_converted AS DOUBLE) / n_viewers * 1e6 + 0.5) / 1e6
             |    AS cvr,
             |  s[(len(s) + 1) // 2] AS median_lag_s,
             |  s[(9 * len(s) + 9) // 10] AS p90_lag_s
             |FROM g ORDER BY segment""".stripMargin)),

    // Grouped top-n WITHOUT a window (round 10, [EXT]): top-3 events
    // by value per user through the bounded k-heap aggregate
    // (functions.TopKRows) — the relational face of the ANN tiers'
    // VERDICT r9 #1 shape: the shuffle carries one 3-slot buffer per
    // (partition, user), never the full event rows a row_number
    // window would sort. PlanSpec pins no-Window + partial_topkrows.
    // The oracle IS the window formulation — proving the heap's
    // (value desc, event_id asc) order bitwise equals it.
    Q("topk_events_heap",
      (s, dir) => {
        val scored = Tables.events(s, dir).na.drop(Seq("value"))
          .select(col("user_id").as("q_id"), col("event_id").as("n_id"),
            col("value").cast("double").as("v"))
        graft.ext.Similarity.aggTopK(scored, 3, "v", asc = false)
          .select(col("q_id").as("user_id"), col("rank"),
            col("n_id").as("event_id"), round(col("v"), 6).as("value"))
          .orderBy("user_id", "rank")
      },
      Some("""WITH r AS (SELECT user_id, event_id, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY value DESC, event_id) AS rank
             |  FROM events WHERE value IS NOT NULL)
             |SELECT user_id, CAST(rank AS BIGINT) AS rank, event_id,
             |  round(value, 6) AS value
             |FROM r WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin)),

    // As-of join: each purchase enriched with the user's most recent
    // prior-or-concurrent click value (DuckDB's native ASOF JOIN is the
    // independent oracle implementation)
    Q("evt_asof_join",
      (s, dir) => {
        val ev = Tables.events(s, dir).na.drop(Seq("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts")
          .agg(max_by(col("value"), col("event_id")).as("click_value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        graft.ops.AsofJoin.asof(purchases, clicks, "user_id", "ts")
          .select(col("event_id"), col("user_id"),
            round(col("value"), 6).as("purchase_value"),
            round(col("click_value"), 6).as("click_value"))
          .orderBy("event_id")
      },
      Some("""WITH c AS (SELECT user_id, ts, arg_max(value, event_id) AS click_value
             |           FROM events WHERE event_type = 'click' AND value IS NOT NULL
             |           GROUP BY user_id, ts),
             |p AS (SELECT event_id, user_id, ts, value FROM events
             |      WHERE event_type = 'purchase' AND value IS NOT NULL)
             |SELECT p.event_id, p.user_id, round(p.value,6) AS purchase_value,
             |       round(c.click_value,6) AS click_value
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    // Hot-key-safe as-of: same semantics through the time-chunk-salted
    // path (8 chunks) — checked against the SAME independent DuckDB
    // ASOF oracle as the unsalted query, so the salting's boundary
    // carries are proven result-identical, not just parity-tested
    Q("evt_asof_join_salted",
      (s, dir) => {
        val ev = Tables.events(s, dir).na.drop(Seq("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "ts")
          .agg(max_by(col("value"), col("event_id")).as("click_value"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        graft.ops.AsofJoin.asofSalted(purchases, clicks, "user_id", "ts", 8)
          .select(col("event_id"), col("user_id"),
            round(col("value"), 6).as("purchase_value"),
            round(col("click_value"), 6).as("click_value"))
          .orderBy("event_id")
      },
      Some("""WITH c AS (SELECT user_id, ts, arg_max(value, event_id) AS click_value
             |           FROM events WHERE event_type = 'click' AND value IS NOT NULL
             |           GROUP BY user_id, ts),
             |p AS (SELECT event_id, user_id, ts, value FROM events
             |      WHERE event_type = 'purchase' AND value IS NOT NULL)
             |SELECT p.event_id, p.user_id, round(p.value,6) AS purchase_value,
             |       round(c.click_value,6) AS click_value
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    // Sliding event-time window: 1h length, 30min slide → each event in 2 windows
    Q("evt_sliding_window",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
        .select(unix_timestamp(col("w.start")).as("wstart_s"), col("n"), col("sum_v"))
        .orderBy("wstart_s"),
      Some("""SELECT CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)
             |                 - to_seconds(k*1800)) AS BIGINT) AS wstart_s,
             |       count(*) AS n, round(sum(value),4) AS sum_v
             |FROM events, (SELECT unnest([0,1]) AS k)
             |GROUP BY 1 ORDER BY wstart_s""".stripMargin)),

    // Gap-based session windows per user (batch twin of
    // EventStreams.sessionCounts, same session_window() operator).
    // Spark merges an event into the open session iff ts < prev end
    // (= prev ts + gap, half-open), so the oracle's island break is
    // diff >= gap. Session end = last event + gap, like the operator.
    Q("evt_session_window",
      (s, dir) => Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("sess_start_s"),
          unix_timestamp(col("w.end")).as("sess_end_s"),
          col("n"), col("sum_v"))
        .orderBy("user_id", "sess_start_s"),
      Some("""WITH o AS (SELECT user_id, ts, value,
             |             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |                    OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800
             |                  THEN 1 ELSE 0 END AS brk
             |           FROM events),
             |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             |                               ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM o)
             |SELECT user_id,
             |       CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start_s,
             |       CAST(floor(epoch(max(ts))) + 1800 AS BIGINT) AS sess_end_s,
             |       count(*) AS n, round(sum(value),4) AS sum_v
             |FROM g GROUP BY user_id, sid
             |ORDER BY user_id, sess_start_s""".stripMargin)),

    // Event-time interval join (click → same-user purchases within 30
    // minutes after). THE SAME code runs as a stream-stream join with
    // watermark-bounded state (StreamingSpec asserts streaming ==
    // batch); this batch twin is the oracle-checked form.
    Q("evt_interval_join",
      (s, dir) => graft.streaming.EventStreams.clickPurchaseIntervalJoin(
          Tables.events(s, dir), "10 minutes", 1800)
        .orderBy("click_id", "purchase_id"),
      Some("""WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
             |           WHERE event_type = 'click'),
             |p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
             |      WHERE event_type = 'purchase')
             |SELECT c.click_id, p.purchase_id, c.user_id,
             |       CAST(floor(epoch(p.ts)) AS BIGINT)
             |         - CAST(floor(epoch(c.ts)) AS BIGINT) AS gap_s
             |FROM c JOIN p ON c.user_id = p.user_id AND p.ts > c.ts
             |  AND p.ts <= c.ts + INTERVAL 1800 SECOND
             |ORDER BY click_id, purchase_id""".stripMargin)),

    // Source-format round-trips: the documents corpus through the two
    // non-parquet corpus formats an LLM pipeline actually meets —
    // JSONL (write → explicit-schema PERMISSIVE read, quarantine path
    // empty on clean data) and ORC. The oracle is the parquet truth:
    // any writer/reader infidelity (escaping, unicode, nulls, numeric
    // width) breaks the hash. Corrupt-line quarantine + gzip reads are
    // pinned in SourcesRoundTripSpec.
    Q("source_jsonl_roundtrip",
      (s, dir) => graft.sources.DocSources.jsonlRoundTrip(
          Tables.documents(s, dir)).orderBy("doc_id"),
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id")),

    Q("source_orc_roundtrip",
      (s, dir) => graft.sources.DocSources.orcRoundTrip(
          Tables.documents(s, dir)).orderBy("doc_id"),
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id")),

    // SCD Type-2 history build (round 10 session 3, [EXT]): the
    // warehouse complement of evt_cdc_apply — instead of compacting
    // the change log to final state, materialize the FULL validity
    // history: each change opens a row valid over
    // [its ts, next change's ts), the key's latest row stays open
    // (valid_to NULL, is_current). Built as the aggregate shape
    // (per-key sorted array + transform over indices — zero Window
    // nodes; per-key array size is bounded by per-key activity, the
    // collectSeries caveat); the oracle IS the lead()/row_number
    // window formulation the aggregate deliberately avoids.
    Q("evt_scd2_history",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(
          unix_micros(col("ts")).as("vf"), col("event_id").as("eid"),
          col("event_type").as("et"), col("value").as("v")))).as("__c"))
        .select(col("user_id"), explode(expr(
          """transform(sequence(1, size(__c)), i -> named_struct(
            |  'valid_from_us', __c[i-1].vf,
            |  'event_id', __c[i-1].eid,
            |  'event_type', __c[i-1].et,
            |  'value', __c[i-1].v,
            |  'valid_to_us', IF(i < size(__c), __c[i].vf, NULL),
            |  'is_current', i = size(__c)))""".stripMargin)).as("r"))
        .select(col("user_id"), col("r.*"))
        .orderBy("user_id", "valid_from_us", "event_id"),
      Some("""SELECT user_id, epoch_us(ts) AS valid_from_us, event_id,
             |  event_type, value,
             |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
             |    ORDER BY epoch_us(ts), event_id) AS valid_to_us,
             |  row_number() OVER (PARTITION BY user_id
             |    ORDER BY epoch_us(ts) DESC, event_id DESC) = 1 AS is_current
             |FROM events
             |ORDER BY user_id, valid_from_us, event_id""".stripMargin)),

    // CDC log compaction / last-writer-wins merge (round 10, [EXT]):
    // the events stream read as a change log on user_id — each event
    // upserts the key's row, 'error' events are tombstones that DELETE
    // the key — materialized to the final table state. This is the
    // lakehouse MERGE/compaction idiom as a PURE AGGREGATE:
    // max_by(payload, (ts, event_id)) map-side-combines to one row per
    // key per partition, so the shuffle carries |keys| rows, never the
    // |changes| log — the shape that survives a 100-TB backlog replay.
    // event_id breaks ts ties, making the winner total-ordered; the
    // oracle derives the same rows via a row_number window (the
    // formulation the aggregate deliberately avoids at scale).
    Q("evt_cdc_apply",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          max_by(struct(col("ts"), col("event_id"), col("event_type"),
            col("value")), struct(col("ts"), col("event_id"))).as("__lw"),
          count(lit(1)).as("n_changes"))
        .filter(col("__lw.event_type") =!= lit("error"))
        .select(col("user_id"),
          unix_micros(col("__lw.ts")).as("last_ts_us"),
          col("__lw.event_id").as("last_event_id"),
          col("__lw.event_type").as("last_type"),
          round(col("__lw.value"), 4).as("value"),
          col("n_changes"))
        .orderBy("user_id"),
      Some("""WITH r AS (SELECT user_id, ts, event_id, event_type, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS n_changes
             |  FROM events)
             |SELECT user_id, epoch_us(ts) AS last_ts_us,
             |       event_id AS last_event_id, event_type AS last_type,
             |       round(value, 4) AS value, n_changes
             |FROM r WHERE rn = 1 AND event_type <> 'error'
             |ORDER BY user_id""".stripMargin)),

    // Theil–Sen robust trend per user series (round 10, [EXT]).
    // lengthGate is pinned FAR above any driver series length: the
    // oracle below replays only the exact all-pairs median, so a data
    // refresh that grew one series past a default gate would silently
    // hash-fail (DuckDB cannot replay the xxhash64 sample). The
    // sampled tier is exercised by SeriesOpsSpec + SCALE.md, not by
    // this oracle-checked entry.
    Q("ts_theil_sen",
      // the collected frame is Memo'd because theilSen's two tiers
      // (typed exact loop / SQL sampled draw) are disjoint filters
      // that each scan their input once — uncached, the second scan
      // would re-run the whole events collect_list aggregation
      // (review r12)
      (s, dir) => SeriesOps.theilSen(Memo.cached(s, "theilser", Nil, dir) {
          SeriesOps.collectSeries(
            Tables.events(s, dir), "user_id", "value", "event_id")
        }, lengthGate = 1000000)
        .orderBy("series_id"),
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs
             |      FROM r GROUP BY user_id),
             |f AS (SELECT user_id, vs, len(vs) AS n FROM l WHERE len(vs) >= 10),
             |s AS (SELECT user_id, vs, n,
             |    list_sort(flatten([[(vs[j] - vs[i]) / CAST(j - i AS DOUBLE)
             |        for j in range(i + 1, n + 1)] for i in range(1, n)])) AS sl
             |  FROM f),
             |m AS (SELECT user_id, vs, n,
             |    sl[CAST((CAST(n AS BIGINT) * (n - 1) // 2 + 1) // 2 AS INT)] AS slope
             |  FROM s)
             |SELECT user_id AS series_id, CAST(n AS BIGINT) AS n,
             |  floor(slope * 1e6 + 0.5) / 1e6 AS slope,
             |  floor(list_sort([vs[i] - slope * CAST(i AS DOUBLE)
             |      for i in range(1, n + 1)])[(n + 1) // 2] * 1e6 + 0.5) / 1e6
             |    AS intercept
             |FROM m ORDER BY series_id""".stripMargin)),

    // Forecast backtest per user series (round 10, [EXT]): naive vs
    // drift baselines on an 8-point holdout, MASE honesty gate
    Q("ts_forecast_eval",
      (s, dir) => SeriesOps.forecastEval(SeriesOps.collectSeries(
          Tables.events(s, dir), "user_id", "value", "event_id"))
        .orderBy("series_id"),
      Some("""WITH r AS (SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events WHERE value IS NOT NULL),
             |l AS (SELECT user_id, list(value ORDER BY rn) AS vs
             |      FROM r GROUP BY user_id),
             |f AS (SELECT user_id, vs, len(vs) AS n, len(vs) - 8 AS nt
             |      FROM l WHERE len(vs) >= 20),
             |d AS (SELECT user_id, vs, n, nt,
             |    (vs[nt] - vs[1]) / CAST(nt - 1 AS DOUBLE) AS dr
             |  FROM f),
             |e AS (SELECT user_id, nt,
             |    list_sum([CAST(round(abs(vs[t] - vs[t - 1]) * 1e6) AS BIGINT)
             |      for t in range(2, nt + 1)]) AS s_in,
             |    list_sum([CAST(round(abs(vs[nt + i] - vs[nt]) * 1e6) AS BIGINT)
             |      for i in range(1, 9)]) AS s_nv,
             |    list_sum([CAST(round(abs(vs[nt + i] - (vs[nt] + dr * CAST(i AS DOUBLE)))
             |        * 1e6) AS BIGINT) for i in range(1, 9)]) AS s_dr
             |  FROM d)
             |SELECT user_id AS series_id, CAST(nt AS BIGINT) AS n_train,
             |  floor(CAST(s_nv AS DOUBLE) / 8 / 1e6 * 1e6 + 0.5) / 1e6 AS mae_naive,
             |  floor(CAST(s_dr AS DOUBLE) / 8 / 1e6 * 1e6 + 0.5) / 1e6 AS mae_drift,
             |  floor(CAST(s_dr AS DOUBLE) / 8
             |    / (CAST(s_in AS DOUBLE) / (nt - 1)) * 1e6 + 0.5) / 1e6 AS mase_drift,
             |  s_dr < s_nv AS drift_better
             |FROM e WHERE s_in > 0 ORDER BY series_id""".stripMargin))
  )
}
