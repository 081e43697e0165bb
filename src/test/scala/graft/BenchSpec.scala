package graft

import org.apache.spark.sql.functions.{col, udf}

/** Pins Bench's sink: a query is timed through `noop`, which computes
  * every column, not through `count()`, whose plan Catalyst prunes. */
class BenchSpec extends SparkSpec {

  test("sink runs a projected column that count() prunes") {
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("pruned column ran")
      x
    }
    val df = spark.range(3).withColumn("y", boom(col("id")))
    // the deterministic UDF column is unused by the count, so it is pruned
    assert(df.count() == 3)
    val e = intercept[Exception](Bench.sink(df))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(_.getMessage == "pruned column ran"),
      s"sink must run the UDF column, got $e")
  }
}
