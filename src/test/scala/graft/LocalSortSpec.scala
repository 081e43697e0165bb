package graft

import graft.queries.LocalSort
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** [[LocalSort]] sorts driver-held rows exactly as Spark's `orderBy`
  * does, keeps ties in input order, and leaves any other plan alone. */
class LocalSortSpec extends SparkSpec {
  import spark.implicits._

  private def local(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The driver sort of `sorted` equals Spark's, schema, rows and order,
    * and is local rows. */
  private def same(sorted: DataFrame): Seq[Row] = {
    val got = LocalSort(sorted)
    assert(got.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "the driver sort did not return local rows")
    assert(got.schema == sorted.schema)
    val want = sorted.collect().toSeq
    val rows = got.collect().toSeq
    assert(rows == want)
    rows
  }

  test("ties keep input order, as Spark's range-partitioned sort keeps them") {
    val df = (0 until 200).map(i => ((i * 7) % 5, i)).toDF("k", "seq")
    val rows = same(df.orderBy("k"))
    rows.groupBy(_.getInt(0)).values.foreach { g =>
      val seqs = g.map(_.getInt(1))
      assert(seqs == seqs.sorted, "a tie left input order")
    }
    same(df.orderBy(col("k").desc))
  }

  test("nulls: asc/desc with nulls first and last") {
    val df = Seq[(Option[Int], Int)]((Some(3), 0), (None, 1), (Some(1), 2), (None, 3),
      (Some(3), 4), (Some(-2), 5)).toDF("k", "seq")
    same(df.orderBy(col("k").asc))
    same(df.orderBy(col("k").desc))
    same(df.orderBy(col("k").asc_nulls_last))
    same(df.orderBy(col("k").desc_nulls_first))
  }

  test("NaN and -0.0 order as in Spark: NaN largest, -0.0 ties 0.0") {
    val df = Seq(0.0, Double.NaN, -0.0, 1.5, Double.NegativeInfinity, -0.0,
        Double.PositiveInfinity, 0.0, Double.NaN, -1.0)
      .zipWithIndex.toDF("x", "seq")
    val rows = same(df.orderBy("x"))
    // Row equality on boxed doubles tells -0.0 from 0.0: the tie kept
    // input order, as Spark's sort did
    assert(rows.map(_.getInt(1)).slice(2, 6) == Seq(0, 2, 5, 7))
    same(df.orderBy(col("x").desc))
  }

  test("several keys of mixed types") {
    val schema = StructType(Seq(StructField("s", StringType), StructField("b", BooleanType),
      StructField("d", DateType), StructField("t", TimestampType),
      StructField("x", DoubleType), StructField("seq", IntegerType, nullable = false)))
    val day = java.sql.Date.valueOf("2024-03-01")
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:00:00.123456")
    val rows = Seq(
      Row("b", true, day, ts, 1.0, 0), Row("a", false, day, ts, 2.0, 1),
      Row("b", false, null, ts, 0.5, 2), Row(null, true, day, null, 1.0, 3),
      Row("a", false, day, ts, 2.0, 4), Row("b", true, day, ts, -1.0, 5),
      Row("é", null, day, ts, Double.NaN, 6), Row("B", true, day, ts, 1.0, 7))
    val df = local(schema, rows: _*)
    same(df.orderBy(col("s"), col("b").desc, col("x")))
    same(df.orderBy(col("b").asc_nulls_last, col("d").desc, col("t"), col("s").desc))
    same(df.orderBy(col("x").desc_nulls_last, col("seq")))
  }

  test("decimal keys") {
    val schema = StructType(Seq(StructField("v", DecimalType(12, 4)),
      StructField("w", DecimalType(38, 18)), StructField("seq", IntegerType)))
    def d(s: String) = new java.math.BigDecimal(s)
    val df = local(schema,
      Row(d("10.5000"), d("1"), 0), Row(d("-3.2500"), d("0.000000000000000001"), 1),
      Row(null, d("2"), 2), Row(d("10.5000"), d("-1"), 3), Row(d("0.0001"), null, 4),
      Row(d("-3.2500"), d("12345678901234567890.123456789012345678"), 5))
    same(df.orderBy("v"))
    same(df.orderBy(col("v").desc, col("w")))
    same(df.orderBy(col("w").desc_nulls_last))
  }

  test("a noop write of the driver-sorted rows runs one job") {
    val df = (0 until 1000).map(i => ((i * 31) % 97, i.toLong)).toDF("k", "v").orderBy("k", "v")
    val got = LocalSort(df)
    val (jobs, _) = jobsOf(got.write.format("noop").mode("overwrite").save())
    assert(jobs == 1, s"noop write of the driver-sorted rows ran $jobs jobs")
  }

  test("any other plan comes back as the same object") {
    val ranged = spark.range(10).toDF("k").orderBy(col("k").desc)
    assert(LocalSort(ranged) eq ranged)
    val unsorted = Seq(3, 1, 2).toDF("k")
    assert(LocalSort(unsorted) eq unsorted)
    val limited = Seq(3, 1, 2).toDF("k").orderBy("k").limit(2)
    assert(LocalSort(limited) eq limited)
  }
}
