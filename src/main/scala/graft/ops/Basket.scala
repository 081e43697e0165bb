package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence mining — [EXT], beyond the reference
  * surface: pairwise association statistics (support, confidence,
  * lift) over basket-grouped items, the recsys/affinity primitive
  * (Agrawal et al., SIGMOD'93 association-rule support/confidence;
  * lift per Brin et al., SIGMOD'97).
  *
  * Scale shape: ONE shuffle of the item-basket table onto the basket
  * key; pair generation is a within-basket self-join, so its cost is
  * Σ |basket|² — bounded by the caller's `maxBasket` guard, which
  * excludes the pathological mega-baskets (a single 10⁶-item basket
  * would otherwise emit 10¹² pairs; the classic skew bomb). Item
  * marginals are a second small aggregate joined back on the item key
  * (auto-broadcast at dimension size). No theta join anywhere; the
  * pair table is the only quadratic object and its size is the
  * support-filtered co-occurrence count, not |items|². */
object Basket {

  /** items: (basketCol, itemCol) rows, duplicates tolerated (de-duped
    * to presence). Returns pairs (item_a < item_b) with n_ab ≥
    * minSupport: (item_a, item_b, n_ab, lift 6dp, conf_a_b 6dp). */
  def liftPairs(items: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasket: Int = 1000): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    // Memo'd (r17): the deduped, size-capped presence table is consumed
    // FOUR times by one lift computation (both self-join sides, the
    // item marginals, the basket total) — un-materialized, Catalyst
    // re-derived the distinct + size window for each consumer (4
    // Window subtrees / ~14 Exchanges in the r17 before-plan). One
    // build per (items, maxBasket); the cached partitioning (__b, from
    // the window) feeds the self-join without a new Exchange.
    val sized = graft.queries.Memo.cached(items.sparkSession, "basket",
        Seq(items), basketCol, itemCol, maxBasket) {
      items
        .select(col(basketCol).as("__b"), col(itemCol).cast("long").as("__i"))
        .na.drop().distinct()
        .withColumn("__bn", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("__b")))
        .filter(col("__bn") <= maxBasket)
    }
    // basket total rides as a 1-row broadcast, not an eager driver
    // count at construction time (the ADVICE r9 lazy-stat rule)
    val nb = sized.agg(countDistinct(col("__b")).as("__N"))
    val marg = sized.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    val a = sized.select(col("__b"), col("__i").as("item_a"))
    val b = sized.select(col("__b"), col("__i").as("item_b"))
    a.join(b, Seq("__b")).filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
      .join(marg.select(col("__i").as("item_a"), col("__n").as("__na")), "item_a")
      .join(marg.select(col("__i").as("item_b"), col("__n").as("__nb")), "item_b")
      .crossJoin(broadcast(nb))
      .select(col("item_a"), col("item_b"), col("n_ab"),
        (floor(col("n_ab").cast("double") * col("__N")
          / (col("__na") * col("__nb")) * lit(1e6) + lit(0.5))
          .cast("double") / lit(1e6)).as("lift"),
        (floor(col("n_ab").cast("double") / col("__na") * lit(1e6) + lit(0.5))
          .cast("double") / lit(1e6)).as("conf_a_b"))
  }
}
