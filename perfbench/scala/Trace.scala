package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Clock {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** JVM process CPU: in local mode, driver kernels and executor tasks together. */
  def cpuNs: Long = os.getProcessCpuTime
}

/** One operation as the tracer sees it. Timing fields are set by the
  * runner; the Spark-side fields are filled from the listeners after
  * the bus has drained. */
final class Span(val id: Int, val layer: String, val name: String,
    val pass: Int, val phase: String, val startMs: Long) {
  var endMs = 0L
  var wallNs = 0L
  var cpuNs = 0L
  var failed: String = null
  var memoHits = 0
  var memoMisses = 0
  var jobs = 0
  var jobCoverMs = 0L
  var planMs = 0.0
  var waitMs = 0.0
  var shuffleBytes = 0L
  var resultBytes = 0L
  var taskCpuNs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Peak size of cached and checkpointed RDD blocks, from block events.
  * RDD unpersist removes blocks without reporting them one by one, so
  * the unpersist event drops every block of that RDD. Kept on in
  * untraced runs: `peak_storage_mb` is an end-to-end metric. */
final class StorageWatch extends SparkListener {
  private val sizes = new java.util.HashMap[String, java.lang.Long]
  private var total = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    i.blockId.asRDDId.foreach { b =>
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      val old = sizes.put(s"${b.rddId}/${b.splitIndex}/${i.blockManagerId.executorId}", now)
      total += now - (if (old == null) 0L else old.longValue)
      if (total > peak) peak = total
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"${e.rddId}/"
    val it = sizes.entrySet().iterator()
    while (it.hasNext) {
      val en = it.next()
      if (en.getKey.startsWith(prefix)) { total -= en.getValue; it.remove() }
    }
  }

  def resetPeak(): Unit = synchronized { peak = total }
  def peakBytes: Long = synchronized { peak }
}

/** Job, stage and task records for the traced passes. Jobs are later
  * attributed to the span that was open when they were submitted; the
  * `perfbench.span` local property is kept as a cross-check. */
final class JobCollector extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val prop: String) {
    @volatile var endMs: Long = -1L
  }
  final case class Task(stageId: Int, waitMs: Long, shuffleBytes: Long,
      resultBytes: Long, cpuNs: Long)

  val jobs = new ConcurrentLinkedQueue[Job]
  val tasks = new ConcurrentLinkedQueue[Task]
  private val jobById = new ConcurrentHashMap[Int, Job]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val stageSubmitted = new ConcurrentHashMap[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).map(_.getProperty(Tracer.SpanProp)).orNull
    val j = new Job(e.jobId, e.time, prop)
    jobById.put(e.jobId, j); jobs.add(j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo
    stageSubmitted.put((s.stageId, s.attemptNumber()),
      s.submissionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val submitted = stageSubmitted.getOrDefault((e.stageId, e.stageAttemptId), e.taskInfo.launchTime)
    val (shuffle, result, cpu) =
      if (m == null) (0L, 0L, 0L)
      else (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.resultSize, m.executorCpuTime)
    tasks.add(Task(e.stageId, math.max(0L, e.taskInfo.launchTime - submitted),
      shuffle, result, cpu))
  }
  def jobOfStage(stageId: Int): Option[Int] = Option(stageJob.get(stageId))
}

/** Analysis, optimization and planning phases of every executed query. */
final class PlanCollector extends QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[(Long, Long)] // (startMs, durationMs)
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean])
  private def record(qe: QueryExecution): Unit = {
    val fresh = seen.synchronized(seen.add(qe))
    if (fresh) qe.tracker.phases.foreach { case (_, p) =>
      phases.add((p.startTimeMs, p.durationMs))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** Layers, named after the module whose public function the harness calls. */
  val Layers = Seq("ingest", "align", "dtw", "embed.pca", "embed.mds", "embed.ae",
    "cluster.kmeans", "cluster.kshape", "cluster.dbscan", "traceback",
    "query.build", "query.exec")
  val LayerFields = Seq("calls", "wall_ms", "driver_ms", "cpu_ms", "plan_ms", "jobs",
    "wait_ms", "shuffle_mb", "result_mb", "failed")
  def unit(field: String): String = field match {
    case "calls" | "jobs" | "failed" => "count"
    case f if f.endsWith("_mb") => "MB"
    case _ => "ms"
  }
}

/** Registers the collectors for one traced pass and attributes what they
  * gathered to the pass's spans. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var jobsC: JobCollector = _
  private var plansC: PlanCollector = _
  var attributedJobs = 0
  var unattributedJobs = 0
  var propAgree = 0
  var propMissing = 0
  var propDisagree = 0

  def start(): Unit = {
    jobsC = new JobCollector; plansC = new PlanCollector
    sc.addSparkListener(jobsC); spark.listenerManager.register(plansC)
  }

  /** Drain the bus, detach the collectors and fill `spans` (one pass,
    * in start order, non-overlapping: the client is sequential). */
  def finish(spans: IndexedSeq[Span]): Unit = {
    org.apache.spark.BusAccess.drain(sc)
    sc.removeSparkListener(jobsC); spark.listenerManager.unregister(plansC)
    val starts = spans.map(_.startMs).toArray
    def at(t: Long): Option[Span] = {
      var i = java.util.Arrays.binarySearch(starts, t)
      if (i < 0) i = -i - 2
      // equal start stamps: the latest-started span owns the instant
      while (i + 1 < starts.length && starts(i + 1) == t) i += 1
      if (i >= 0 && t <= spans(i).endMs) Some(spans(i)) else None
    }
    val jobSpan = mutable.Map.empty[Int, Span]
    jobsC.jobs.asScala.foreach { j =>
      at(j.startMs) match {
        case Some(s) =>
          attributedJobs += 1
          jobSpan(j.id) = s
          s.jobs += 1
          s.jobIntervals += ((j.startMs, if (j.endMs < 0) s.endMs else math.min(j.endMs, s.endMs)))
          if (j.prop == null) propMissing += 1
          else if (j.prop == s.id.toString) propAgree += 1
          else propDisagree += 1
        case None => unattributedJobs += 1
      }
    }
    jobsC.tasks.asScala.foreach { t =>
      jobsC.jobOfStage(t.stageId).flatMap(jobSpan.get).foreach { s =>
        s.waitMs += t.waitMs; s.shuffleBytes += t.shuffleBytes
        s.resultBytes += t.resultBytes; s.taskCpuNs += t.cpuNs
      }
    }
    plansC.phases.asScala.foreach { case (t, d) => at(t).foreach(_.planMs += d) }
    spans.foreach { s =>
      // union of this span's job intervals: the time Spark jobs cover
      var covered = 0L; var reach = Long.MinValue
      s.jobIntervals.sortBy(_._1).foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) { covered += b - lo; reach = b }
      }
      s.jobCoverMs = covered
    }
  }
}
