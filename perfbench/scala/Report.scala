package graft.perfbench

import scala.collection.mutable

/** Per-layer metrics, the full result record and the span dump. */
object Report {
  import Main.median

  /** The traced passes' per-layer metrics, each as a per-pass mean. */
  def layerMetrics(spans: Seq[Span], passes: Int, entriesPeak: Int,
      evictions: Long): Seq[(String, Double, String)] = {
    val n = math.max(1, passes).toDouble
    val layers = Tracer.Layers.flatMap { l =>
      val ss = spans.filter(_.layer == l)
      def per(f: Span => Double) = ss.map(f).sum / n
      val values = Map(
        "calls" -> ss.size / n,
        "wall_ms" -> per(_.wallNs / 1e6),
        "driver_ms" -> per(s => math.max(0.0, s.wallNs / 1e6 - s.jobCoverMs)),
        "cpu_ms" -> per(_.cpuNs / 1e6),
        "plan_ms" -> per(_.planMs),
        "jobs" -> per(_.jobs.toDouble),
        "wait_ms" -> per(_.waitMs),
        "shuffle_mb" -> per(_.shuffleBytes / 1e6),
        "result_mb" -> per(_.resultBytes / 1e6),
        "failed" -> ss.count(_.failed != null) / n)
      Tracer.LayerFields.map(f => (s"$l.$f", values(f), Tracer.unit(f)))
    }
    val hits = spans.map(_.memoHits).sum
    val misses = spans.map(_.memoMisses).sum
    layers ++ Seq(
      ("memo.hits", hits / n, "count"),
      ("memo.misses", misses / n, "count"),
      ("memo.hit_ratio", hitRatio(spans), "ratio"),
      ("memo.entries_peak", entriesPeak.toDouble, "count"),
      ("memo.evictions", evictions / n, "count"))
  }

  def tailPercentile(n: Int): String = if (n > 10) f"p${100.0 * (n - 10) / n}%.1f" else "max"

  def hitRatio(spans: Seq[Span]): Double = {
    val h = spans.map(_.memoHits).sum.toDouble
    val m = spans.map(_.memoMisses).sum
    if (h + m == 0) 0.0 else h / (h + m)
  }

  private def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.max(0, (q * (s.size - 1)).round.toInt)))
  }

  /** Whether the trace confirms why the workload was chosen. */
  private def workloadChecks(workload: String, spans: Seq[Span]): Seq[(String, String)] = {
    val ml = spans.filter(s => s.layer.startsWith("cluster.") || s.layer.startsWith("embed."))
    val wall = ml.map(_.wallNs / 1e6).sum
    val driver = ml.map(s => math.max(0.0, s.wallNs / 1e6 - s.jobCoverMs)).sum
    val shuffle = ml.map(_.shuffleBytes).sum
    workload match {
      case "matrix_pairwise" | "matrix36" => Seq(
        "ml_driver_share" -> Json.num(if (wall > 0) driver / wall else Double.NaN),
        "ml_shuffle_bytes" -> shuffle.toString,
        "ml_jobs_per_call" -> Json.num(ml.map(_.jobs).sum.toDouble / math.max(1, ml.size)))
      case "matrix_scaled" => Seq(
        "ml_driver_share" -> Json.num(if (wall > 0) driver / wall else Double.NaN),
        "ml_shuffle_bytes" -> shuffle.toString,
        "ml_layers_with_shuffle" -> Json.arr(ml.filter(_.shuffleBytes > 0).map(_.layer).distinct.sorted.map(Json.str)))
      case _ =>
        val first = hitRatio(spans.filter(_.phase == "first"))
        val again = hitRatio(spans.filter(_.phase == "rerequest"))
        Seq("memo_hit_ratio_first" -> Json.num(first), "memo_hit_ratio_rerequest" -> Json.num(again),
          "rerequest_hits_more" -> Json.bool(again > first))
    }
  }

  def record(o: Opts, size: InputSize, line: String, endToEnd: Seq[(String, Double, String)],
      genS: Seq[Double], sessionS: Double, warmS: Double, readyS: Double, stats: Seq[PassStats], opsPerPass: Int,
      failed: Seq[OpRec], attempted: Int, checkFailures: Seq[String], overhead: Option[Double],
      tracer: Tracer, spans: Seq[Span]): String = {
    val lat = stats.flatMap(_.latMs)
    val fields = mutable.ArrayBuffer[(String, String)](
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> (if (o.trace) "1" else "0"), "seconds" -> o.seconds.toString,
      "result" -> line,
      "end_to_end" -> Json.obj(endToEnd.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "input" -> Json.obj(Seq("items" -> size.items.toString, "rows" -> size.rows.toString,
        "bytes" -> size.bytes.toString)),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS), "warmup_s" -> Json.num(warmS),
        "input_generation_s" -> Json.arr(genS.map(Json.num)), "ready_s" -> Json.num(readyS))),
      "client" -> Json.str("one closed-loop client, local[4]"),
      "op_latency_ms" -> Json.obj(Seq("samples" -> lat.size.toString,
        "p25" -> Json.num(pct(lat, 0.25)), "p50" -> Json.num(median(lat)), "p75" -> Json.num(pct(lat, 0.75)),
        "max" -> Json.num(if (lat.isEmpty) Double.NaN else lat.max))),
      "op_tail" -> Json.obj(Seq("percentile" -> Json.str(tailPercentile(opsPerPass)),
        "operations_per_pass" -> opsPerPass.toString, "beyond" -> "10")),
      "error_rate" -> Json.obj(Seq("value" -> Json.num(failed.size.toDouble / math.max(1, attempted)),
        "failed" -> failed.size.toString, "attempted" -> attempted.toString)),
      "failed_operations" -> Json.arr(failed.map(f => Json.str(s"${f.layer} ${f.name}: ${f.failed.get}"))),
      "check_failures" -> Json.arr(checkFailures.map(Json.str)),
      "passes" -> Json.arr(stats.map(p => Json.obj(Seq("pass" -> p.pass.toString,
        "wall_s" -> Json.num(p.wallS), "cpu_s" -> Json.num(p.cpuS),
        "ops" -> p.latMs.size.toString, "op_tail_ms" -> Json.num(p.tailMs),
        "peak_storage_mb" -> Json.num(p.peakMb))))))
    if (o.trace) {
      fields += "tracing_overhead_s" -> overhead.fold("null")(Json.num)
      fields += "job_attribution" -> Json.obj(Seq(
        "attributed" -> tracer.attributedJobs.toString, "unattributed" -> tracer.unattributedJobs.toString,
        "local_property_agrees" -> tracer.propAgree.toString,
        "local_property_missing" -> tracer.propMissing.toString,
        "local_property_disagrees" -> tracer.propDisagree.toString))
      fields += "workload_checks" -> Json.obj(workloadChecks(o.workload, spans))
    }
    Json.obj(fields.toSeq) + "\n"
  }

  def spans(all: Seq[Span]): String = all.map { s =>
    Json.obj(Seq("id" -> s.id.toString, "pass" -> s.pass.toString, "phase" -> Json.str(s.phase),
      "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "wall_ms" -> Json.num(s.wallNs / 1e6), "cpu_ms" -> Json.num(s.cpuNs / 1e6),
      "jobs" -> s.jobs.toString, "job_cover_ms" -> s.jobCoverMs.toString,
      "plan_ms" -> Json.num(s.planMs), "wait_ms" -> Json.num(s.waitMs),
      "shuffle_bytes" -> s.shuffleBytes.toString, "result_bytes" -> s.resultBytes.toString,
      "task_cpu_ms" -> Json.num(s.taskCpuNs / 1e6),
      "memo_hits" -> s.memoHits.toString, "memo_misses" -> s.memoMisses.toString,
      "failed" -> (if (s.failed == null) "null" else Json.str(s.failed))))
  }.mkString("[\n", ",\n", "\n]\n")
}
