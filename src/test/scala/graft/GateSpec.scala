package graft

import graft.ml.Gate
import org.apache.spark.sql.functions.{col, udf}

/** The shared driver/distributed gate: strict `<`, id-sorted rows below
  * the gate, None at and above it; an in-memory input is decided by one
  * limited collect, any other by a column-pruned count first. */
class GateSpec extends SparkSpec {
  import spark.implicits._

  /** `n` rows with ids 0..n-1, scattered over 3 partitions in an order
    * that is not the id order. */
  private def rows(n: Int) =
    (0 until n).map(i => ((i * 7L) % n, s"v$i")).toDS().repartition(3)

  test("collectBelow: n = gate - 1 returns every row id-sorted; n = gate and gate + 1 fall through") {
    val gate = 10L
    val below = Gate.collectBelow(rows(9), gate)(_._1)
    assert(below.isDefined)
    assert(below.get.map(_._1).toSeq == (0L until 9L))
    assert(below.get.map(_._2).toSet == (0 until 9).map(i => s"v$i").toSet)
    assert(Gate.collectBelow(rows(10), gate)(_._1).isEmpty)
    assert(Gate.collectBelow(rows(11), gate)(_._1).isEmpty)
    // gate <= 0 forces the distributed path even for an empty input
    assert(Gate.collectBelow(rows(0), 0L)(_._1).isEmpty)
    assert(Gate.collectBelow(rows(0), gate)(_._1).map(_.length).contains(0))
  }

  test("collectBelow: the collect reads at most gate rows of a far larger input") {
    val gate = 10L
    val pulled = spark.sparkContext.longAccumulator("gate-pulled")
    val tag = udf { (id: Long) => pulled.add(1); id }
    val held = spark.range(0, 1000, 1, 1).cache()
    try {
      held.count()
      assert(Gate.collectBelow(held.select(tag(col("id"))).as[Long], gate)(identity).isEmpty)
      assert(pulled.value > 0 && pulled.value <= gate, s"${pulled.value} rows read for a gate of $gate")
    } finally held.unpersist()
  }

  test("collectBelow: an input not held in memory is probed by a column-pruned count first") {
    val evaluated = spark.sparkContext.longAccumulator("gate-evaluated")
    val twice = udf { (id: Long) => evaluated.add(1); id * 2 }
    val base = spark.range(0, 1000, 1, 2)
    def projected(df: org.apache.spark.sql.Dataset[_]) =
      df.select(col("id"), twice(col("id")).as("v")).as[(Long, Long)]
    // computed input at/above the gate: the count never evaluates `v`
    assert(Gate.collectBelow(projected(base), 10L)(_._1).isEmpty)
    assert(Gate.collectBelow(projected(base), 1000L)(_._1).isEmpty)
    assert(evaluated.value == 0)
    // below the gate: the rows, id-sorted, whichever way it was decided
    assert(Gate.collectBelow(projected(base), 1001L)(_._1).get.toSeq ==
      (0L until 1000L).map(i => (i, 2 * i)))
    // a cached input is decided by the collect itself, which evaluates
    // the projection over the rows it reads
    val held = base.cache()
    try {
      evaluated.reset()
      assert(Gate.collectBelow(projected(held), 10L)(_._1).isEmpty)
      assert(evaluated.value > 0)
    } finally held.unpersist()
  }

  test("seriesBelow: (series_id, values) rows, id-sorted, under the same strict gate") {
    val series = Seq((3, Array(3.0)), (1, Array(1.0)), (2, Array(2.0)))
      .toDF("series_id", "values").repartition(2)
    val got = Gate.seriesBelow(series, 4L).get
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_._2.toSeq).toSeq == Seq(Seq(1.0), Seq(2.0), Seq(3.0)))
    assert(Gate.seriesBelow(series, 3L).isEmpty)
  }
}
