package graft

import org.apache.spark.sql.functions._

/** Co-located joins via bucketing — the 100-TB join strategy the plan
  * audit (COVERAGE.md) relies on: two tables bucketed on the join key
  * hash-join WITHOUT a shuffle on either side. Asserted structurally:
  * the executed plan of the bucketed join contains no ShuffleExchange
  * below the join, while the same join on plain parquet does. */
class BucketingSpec extends SparkSpec {

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // force AQE to finalize the executed plan
    // AQE's toString prints the Final Plan AND the Initial Plan —
    // count only the final section or every Exchange doubles
    val executed = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    "ShuffleExchange|Exchange hashpartitioning".r.findAllIn(executed).length
  }

  test("bucketed-by-key tables join with zero shuffles; unbucketed shuffle both sides") {
    val wh = new java.io.File(tempDir("graft-bucketing"))
    wh.deleteOnExit()
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    // db LOCATION keeps the test out of the default warehouse dir
    // (spark.sql.warehouse.dir is static and can't be set per-session)
    s.sql(s"CREATE DATABASE IF NOT EXISTS bspec LOCATION '${wh.getAbsolutePath}/bspec'")

    val ev = Tables.events(s, sf).select("event_id", "user_id", "value")
    val stats = ev.groupBy("user_id").agg(count(lit(1)).as("n"))

    ev.write.format("parquet").bucketBy(4, "user_id").sortBy("user_id")
      .mode("overwrite").saveAsTable("bspec.ev_b")
    stats.write.format("parquet").bucketBy(4, "user_id")
      .mode("overwrite").saveAsTable("bspec.st_b")

    val bucketed = s.table("bspec.ev_b").join(s.table("bspec.st_b"), "user_id")
    val plain = ev.join(stats, "user_id")

    assert(shuffleCount(bucketed) == 0,
      "bucketed join must be co-located (no Exchange)")
    assert(shuffleCount(plain) > 0,
      "control: the unbucketed join should shuffle")
    // same rows either way
    assert(bucketed.count() == plain.count())
    s.sql("DROP DATABASE bspec CASCADE")
  }

  test("persist-and-probe dedup: corpus side never reshuffles; results equal the direct form") {
    import graft.ext.Dedup
    val wh = new java.io.File(tempDir("graft-probe-spec"))
    wh.deleteOnExit()
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    s.sql(s"CREATE DATABASE IF NOT EXISTS pspec LOCATION '${wh.getAbsolutePath}/pspec'")
    import s.implicits._

    // 12 corpus docs (0-11, 10/11 duplicate 0/1) + 6 batch docs (100-105,
    // 100 duplicates corpus doc 0, 104/105 duplicate each other)
    def words(seed: Int) = (0 until 12).map(i => s"w${seed}x$i").mkString(" ")
    val corpus = ((0 until 10).map(i => (i.toLong, words(i)))
      ++ Seq((10L, words(0)), (11L, words(1)))).toDF("doc_id", "text")
    val batch = Seq((100L, words(0)), (101L, words(50)), (102L, words(51)),
      (103L, words(52)), (104L, words(60)), (105L, words(60))).toDF("doc_id", "text")

    Dedup.persistBandedSignatures(corpus, "doc_id", "text", 3, 8, "pspec.bands", 4)
    val bandedC = s.table("pspec.bands")

    // structural pin: the candidate equi-join reshuffles ONLY the
    // unbucketed batch side — the persisted corpus reads co-partitioned.
    // Both inputs are materialized to parquet first so the ONLY
    // Exchanges in these plans are the join's own (the signature
    // aggregation shuffles would otherwise pollute the count).
    Dedup.minhashBandedFlat(
      graft.ext.TextOps.shingles(batch, "doc_id", "text", 3), "doc_id", 8)
      .write.mode("overwrite").parquet(s"${wh.getAbsolutePath}/bands_b")
    Dedup.minhashBandedFlat(
      graft.ext.TextOps.shingles(corpus, "doc_id", "text", 3), "doc_id", 8)
      .write.mode("overwrite").parquet(s"${wh.getAbsolutePath}/bands_c_plain")
    val bandedB = s.read.parquet(s"${wh.getAbsolutePath}/bands_b")
    val probeJoin = bandedC.as("a").join(bandedB.as("b"),
      $"a.band" === $"b.band" && $"a.key" === $"b.key")
    assert(shuffleCount(probeJoin) == 1,
      "probe join must shuffle only the batch side")
    val plainJoin = s.read.parquet(s"${wh.getAbsolutePath}/bands_c_plain")
      .as("a").join(bandedB.as("b"), $"a.band" === $"b.band" && $"a.key" === $"b.key")
    assert(shuffleCount(plainJoin) == 2,
      "control: the unpersisted join shuffles both sides")

    // semantic pin: probing the persisted table decides exactly like
    // the direct incremental form
    val viaTable = Dedup.incrementalDedupFrom(bandedC, corpus, batch,
      "doc_id", "text", 3, 8, 0.5)
      .as[(Long, Option[Long], Boolean)].collect().sortBy(_._1)
    val direct = Dedup.incrementalDedup(corpus, batch,
      "doc_id", "text", 3, 8, 0.5)
      .as[(Long, Option[Long], Boolean)].collect().sortBy(_._1)
    assert(viaTable.toSeq == direct.toSeq)
    // and the decisions themselves are the planted ones
    val keep = viaTable.map(r => r._1 -> r._3).toMap
    assert(keep == Map(100L -> false, 101L -> true, 102L -> true,
      103L -> true, 104L -> true, 105L -> false), s"got ${viaTable.toSeq}")
    assert(viaTable.find(_._1 == 100L).get._2.contains(0L))
    assert(viaTable.find(_._1 == 105L).get._2.contains(104L))
    s.sql("DROP DATABASE pspec CASCADE")
  }
}
