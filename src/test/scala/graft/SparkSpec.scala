package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM; suites run
  * sequentially in the forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Tracked temp dir: like Files.createTempDirectory but deleted at
    * JVM exit — repeated test runs were leaving hundreds of graft_s-
    * and graft_rt-prefixed dirs in /tmp (same leak class as the
    * round-11 scratchDir fix). Registers with Tables' ONE shared
    * cleanup tracker so the deletion logic lives in a single place. */
  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    Tables.trackForCleanup(p)
    p
  }

  /** Spark jobs `body` submits, and its result. */
  protected def jobsOf[T](body: => T): (Int, T) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.TestBus.drain(spark.sparkContext)
      (jobs.get, out)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
