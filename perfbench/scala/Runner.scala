package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation as the end-to-end metrics see it. A failed
  * operation keeps its exception class and is never timed. */
final case class OpRec(pass: Int, phase: String, layer: String, name: String,
    wallNs: Long, cpuNs: Long, failed: Option[String])

/** The closed-loop client: issues one operation at a time, each only
  * after the previous one has fully materialized, and checks outputs
  * between operations (check time is excluded from every metric). */
final class Runner(val spark: SparkSession) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  val spans = mutable.ArrayBuffer.empty[Span]
  var pass = 0
  var phase = "main"
  var traced = false
  /** Largest Memo entry count seen after a traced operation. */
  var memoEntriesPeak = 0
  /** Throws inside the named operation: the self-test's injected fault. */
  var injectFailure: Option[String] = None
  private var nextSpan = 0
  private val firstDigest = mutable.Map.empty[String, String]

  /** Materialize every row and every column through the `noop` sink.
    * A `count()` would let the optimizer prune columns, UDFs and whole
    * operators the user's result needs. */
  def sink(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save()
    df
  }

  private def openSpan(layer: String, name: String): Span = {
    nextSpan += 1
    val s = new Span(nextSpan, layer, name, pass, phase, System.currentTimeMillis())
    spark.sparkContext.setLocalProperty(Tracer.SpanProp, s.id.toString)
    spans += s
    s
  }
  private def closeSpan(s: Span): Unit = {
    s.endMs = System.currentTimeMillis()
    spark.sparkContext.setLocalProperty(Tracer.SpanProp, null)
  }

  /** Time one call into `layer`. */
  def op[T](layer: String, name: String)(body: => T): Option[T] = {
    val span = if (traced) Some(openSpan(layer, name)) else None
    if (traced) graft.queries.Memo.startRecording()
    val c0 = Clock.cpuNs
    val t0 = System.nanoTime()
    val out = try {
      if (injectFailure.contains(name)) throw new IllegalStateException(s"injected failure in $name")
      Right(body)
    } catch { case e: Throwable => Left(e) }
    val wall = System.nanoTime() - t0
    val cpu = Clock.cpuNs - c0
    val failed = out.left.toOption.map(e => e.getClass.getName)
    span.foreach { s =>
      closeSpan(s)
      memoEntriesPeak = math.max(memoEntriesPeak, graft.queries.Memo.entryCount)
      val (miss, hit) = graft.queries.Memo.stopRecordingWithHits()
      s.wallNs = wall; s.cpuNs = cpu; s.failed = failed.orNull
      s.memoHits = hit.size; s.memoMisses = miss.size
    }
    ops += OpRec(pass, phase, layer, name, wall, cpu, failed)
    System.err.println(f"[perfbench] op $pass%d $layer%-15s $name%-40s ${wall / 1e6}%9.1f ms")
    out.left.foreach { e =>
      System.err.println(s"[perfbench] FAILED $layer $name: ${e.getClass.getName}: ${e.getMessage}")
    }
    out.toOption
  }

  /** An untimed output check; any exception or false assertion fails the run. */
  def check(name: String)(body: => Unit): Unit = {
    val span = if (traced) Some(openSpan("check", name)) else None
    try body catch {
      case e: Throwable => checkFailures += s"$name: ${e.getClass.getName}: ${e.getMessage}"
    }
    span.foreach(closeSpan)
  }

  def require(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  /** Row counts and digests must agree across repetitions in one invocation. */
  def agree(key: String, digest: String): Unit =
    firstDigest.get(key) match {
      case None => firstDigest(key) = digest
      case Some(d) => require(d == digest, s"$key digest $digest differs from first run's $d")
    }

  def failedOps: Seq[OpRec] = ops.filter(_.failed.isDefined).toSeq
}

object Digest {
  import org.apache.spark.sql.functions._
  /** Order-free (rows, xor, sum) digest of every column of a frame. */
  def of(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)))
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1000000007L)))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }
  def ofLines(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    s"${lines.size}:" + md.digest().map("%02x".format(_)).mkString
  }
}
