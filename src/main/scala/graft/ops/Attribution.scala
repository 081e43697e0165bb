package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-touch revenue attribution over an event stream — the
  * marketing-analytics face of the funnel tier (`Funnel.stages`,
  * `evt_conversion_lag` time the conversion; attribution decides which
  * preceding touch gets paid for it).
  *
  * Position-based (U-shaped) model: each conversion's value splits
  * 40% / 40% / 20% across its user's first touch, last touch, and the
  * middles (evenly); 1-touch conversions take 100%, 2-touch 50/50,
  * and conversions with no preceding touch land on an explicit
  * `(unattributed)` row instead of vanishing. A last-touch column
  * rides along for contrast — the two models disagreeing IS the
  * report's signal.
  *
  * Scale shape: one equi-join on the user key pairs every conversion
  * with that user's PRECEDING touches (strictly before, total order
  * (ts, event_id)), one map-side-combined aggregate per conversion
  * derives (m, first, last), and the credit math is per-pair-row
  * arithmetic into a |channels|-row groupBy. Per-user pair volume is
  * touches × conversions — quadratic ONLY in a single user's
  * activity, so a `maxTouches` guard drops hyperactive keys (bots,
  * the basket tier's mega-basket defense) and surfaces their skipped
  * revenue on an explicit `(mega_user_skipped)` row: the row count
  * changing, not a silent hang, is how skew shows up. Credits are
  * micro-quantized per pair BEFORE the channel sum, so totals are
  * exact integer folds — engine- and partitioning-independent.
  */
object Attribution {
  def uShaped(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, valueCol: String,
      touchTypes: Seq[String], convType: String,
      maxTouches: Int = 10000): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(maxTouches >= 1, s"maxTouches must be >= 1, got $maxTouches")
    val ev = events.select(col(userCol).as("u"), col(typeCol).as("t"),
      unix_micros(col(tsCol)).as("us"), col(idCol).cast("long").as("eid"),
      col(valueCol).cast("double").as("v"))
    val touches = ev.filter(col("t").isin(touchTypes: _*))
    val convs = ev.filter(col("t") === convType)
      .select(col("u"), col("us").as("cus"), col("eid").as("ceid"),
        coalesce(col("v"), lit(0.0)).as("cv"))
    val touchCounts = touches.groupBy("u").agg(count(lit(1)).as("__nt"))
    val mega = touchCounts.filter(col("__nt") > maxTouches).select("u")
    // conversions of skipped hyperactive users: explicit accounting row
    val skipped = convs.join(mega, Seq("u"), "left_semi")
      .agg(count(lit(1)).as("n_credits"),
        sum(floor(col("cv") * lit(1e6) + lit(0.5)).cast("long")).as("__u6"),
        sum(floor(col("cv") * lit(1e6) + lit(0.5)).cast("long")).as("__l6"))
      .select(lit("(mega_user_skipped)").as("channel"), col("n_credits"),
        col("__u6"), col("__l6"))
      .filter(col("n_credits") > 0)
    val okConvs = convs.join(mega, Seq("u"), "left_anti")
    // pair every conversion with its user's strictly-preceding touches
    // — Memo barrier: the pair frame feeds three consumers (the
    // per-conversion aggregate, the credit join, and the unattributed
    // anti-join), so it materializes once instead of re-running the
    // join per consumer (the bitextMine shared-pass idiom)
    val pairs = graft.queries.Memo.cached(events.sparkSession, "attrib",
      Seq(events), userCol, typeCol, tsCol, idCol, valueCol, touchTypes,
      convType, maxTouches)(
      okConvs.join(
          touches.select(col("u"), col("t"), col("us"), col("eid")), Seq("u"))
        .filter(col("us") < col("cus")
          || (col("us") === col("cus") && col("eid") < col("ceid"))))
    val per = pairs.groupBy("u", "ceid")
      .agg(count(lit(1)).as("m"),
        min(struct(col("us"), col("eid"))).as("__first"),
        max(struct(col("us"), col("eid"))).as("__last"))
    val credited = pairs.join(per, Seq("u", "ceid"))
      .withColumn("__isF", struct(col("us"), col("eid")) === col("__first"))
      .withColumn("__isL", struct(col("us"), col("eid")) === col("__last"))
      .withColumn("__share",
        when(col("m") === 1L, lit(1.0))
          .when(col("m") === 2L, lit(0.5))
          .otherwise(
            when(col("__isF") || col("__isL"), lit(0.4))
              .otherwise(lit(0.2) / (col("m") - lit(2L)).cast("double"))))
      .withColumn("__u6",
        floor(col("cv") * col("__share") * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("__l6", when(col("__isL"),
        floor(col("cv") * lit(1e6) + lit(0.5)).cast("long")).otherwise(lit(0L)))
    val byChannel = credited.groupBy(col("t").as("channel"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("__u6")).as("__u6"), sum(col("__l6")).as("__l6"))
    val unattributed = okConvs
      .join(pairs.select("u", "ceid").distinct(), Seq("u", "ceid"), "left_anti")
      .agg(count(lit(1)).as("n_credits"),
        sum(floor(col("cv") * lit(1e6) + lit(0.5)).cast("long")).as("__u6"),
        sum(floor(col("cv") * lit(1e6) + lit(0.5)).cast("long")).as("__l6"))
      .select(lit("(unattributed)").as("channel"), col("n_credits"),
        col("__u6"), col("__l6"))
      .filter(col("n_credits") > 0)
    byChannel.unionAll(unattributed).unionAll(skipped)
      .select(col("channel"), col("n_credits"),
        (col("__u6").cast("double") / lit(1e6)).as("rev_u_shaped"),
        (col("__l6").cast("double") / lit(1e6)).as("rev_last_touch"))
      .orderBy("channel")
  }
}
