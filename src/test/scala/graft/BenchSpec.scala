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

  test("the JSON line stays within 1,700 chars when every query fails") {
    val zero = Bench.Timing(0, 0, 0, 0)
    val names = SparkEntry.queries.keys.toSeq.take(285)
    assert(names.size == 285)
    val families = Bench.families.keys.map(_ -> zero)
    val allFailed = Bench.jsonLine(zero, Nil, families, 0L, names, "sf0.1", Nil)
    assert(allFailed.length <= 1700, s"${allFailed.length} chars")
    assert(allFailed.contains("\"failed_n\":285"))
    // the names kept are the first ones, and at least one is kept
    assert(allFailed.contains("\"failed\":[\"" + names.head + "\""))
    // a few failures beside a full set of timed queries
    val timed = SparkEntry.queries.keys.toSeq.map(_ -> Bench.Timing(12.34, 12.34, 1, 1))
    val mixed = Bench.jsonLine(zero, Nil, families, 0L, names.take(3), "sf0.1", timed)
    assert(mixed.length <= 1700, s"${mixed.length} chars")
    assert(names.take(3).forall(n => mixed.contains("\"" + n + "\"")))
  }
}
