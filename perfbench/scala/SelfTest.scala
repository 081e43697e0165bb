package graft.perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.Tables
import graft.sources.CsvSeries

/** Self-tests of the harness itself; each returns a process exit code. */
object SelfTest {
  def run(spark: SparkSession, name: String, o: Opts, work: File): Int = {
    val (ok, detail) = name match {
      case "noop-plan" => noopKeepsUdf(spark, work, new File(o.fixture))
      case "golden" => golden(spark, o.data.getOrElse(
        throw new IllegalArgumentException("--selftest golden needs --data DIR (events.parquet)")))
      case other => throw new IllegalArgumentException(s"unknown self-test $other")
    }
    println(s"selftest $name: ${if (ok) "PASS" else "FAIL"} $detail")
    if (ok) 0 else 1
  }

  /** The `dtw` align operation's noop write executes its stretch UDF; a
    * `count()` of the same frame prunes it. */
  private def noopKeepsUdf(spark: SparkSession, work: File, fixture: File): (Boolean, String) = {
    val csv = new File(work, "selftest/events.csv")
    Inputs.writeCsv(csv, 1L, fixture)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val base = Matrix.ingest(CsvSeries.readCsv(spark, csv.getPath, "value")).cache()
    val dtw = Matrix.dtw(base)
    def planOf(action: => Unit): String = {
      org.apache.spark.BusAccess.drain(spark.sparkContext)
      plans.clear(); spark.listenerManager.register(l)
      action
      org.apache.spark.BusAccess.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
      plans.toArray.mkString("\n")
    }
    val noop = planOf(new Runner(spark).sink(dtw))
    val counted = planOf(dtw.count())
    Inputs.rmTree(csv.getParentFile)
    val udf = "UDF("
    (noop.contains(udf) && !counted.contains(udf),
      s"noop plan has the UDF: ${noop.contains(udf)}; count plan has it: ${counted.contains(udf)}")
  }

  /** GoldenSpec's 36 pinned (n_clusters, n_items) pairs, reproduced by
    * the benchmark's own matrix pass over the sf0.001 `events` table. */
  private val Pins: Map[String, (Int, Int)] = {
    val perAlign = Map(
      "truncate" -> Seq(3, 3, 2, 3, 3, 2, 3, 3, 3),
      "pad" -> Seq(3, 3, 3, 3, 3, 3, 3, 3, 2),
      "window" -> Seq(3, 3, 2, 3, 3, 2, 3, 3, 2),
      "dtw" -> Seq(3, 3, 2, 3, 3, 2, 3, 3, 3))
    val items = Map("truncate" -> 15, "pad" -> 15, "window" -> 32, "dtw" -> 15)
    val combos = for (e <- Seq("pca", "mds", "ae"); c <- Seq("kmeans", "kshape", "dbscan")) yield s"$e/$c"
    perAlign.flatMap { case (a, ks) => combos.zip(ks).map { case (ec, k) => s"$a/$ec" -> ((k, items(a))) } }
  }

  private def golden(spark: SparkSession, dir: String): (Boolean, String) = {
    val r = new Runner(spark)
    val got = scala.collection.mutable.Map.empty[String, (Int, Int)]
    Matrix.pass(r, () => Tables.events(spark, dir), Matrix.Full,
      (combo, labels) => got(combo) = (labels.values.toSet.size, labels.size))
    val bad = Pins.filter { case (k, v) => !got.get(k).contains(v) }
    val problems = r.failedOps.map(f => s"${f.name} failed") ++ r.checkFailures
    (bad.isEmpty && got.size == 36 && problems.isEmpty,
      s"${got.size} combinations, ${36 - bad.size} of 36 pins match" +
        (if (bad.nonEmpty) s"; mismatches ${bad.keys.toSeq.sorted.map(k => s"$k=${got.get(k)}").mkString(", ")}" else "") +
        (if (problems.nonEmpty) s"; ${problems.mkString("; ")}" else ""))
  }
}
