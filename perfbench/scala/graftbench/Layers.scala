package graftbench

/** Turns a traced run's spans and listener counts into the per-layer
  * metrics. Every metric is reported for every workload; a layer a
  * workload bypasses reads 0. Time metrics are a span name plus a unit
  * suffix and read the mean, per operation, of that span's SELF time
  * (duration minus its children), so the times of one operation add up to
  * its wall time less `trace.root_self_ms`. */
object Layers {

  /** Self-time metrics: metric name -> (span name, divisor from ns). */
  val timed: Seq[(String, String, Double)] = Seq(
    // dashboard
    ("analytics.build_ms", "analytics.build", 1e6),
    ("catalyst.analyze_ms", "catalyst.analyze", 1e6),
    ("catalyst.optimize_ms", "catalyst.optimize", 1e6),
    ("catalyst.plan_ms", "catalyst.plan", 1e6),
    ("exec.run_ms", "exec.run", 1e6),
    // monthly_dag
    ("operators.ingest_s", "operators.ingest", 1e9),
    ("sources.write_s", "sources.write", 1e9),
    ("quality.gates_s", "quality.gates", 1e9),
    ("warehouse.load_s", "warehouse.load", 1e9),
    ("sources.tiles_merge_s", "sources.tiles_merge", 1e9),
    ("sources.tiles_compact_s", "sources.tiles_compact", 1e9),
    ("ml.load_s", "ml.load", 1e9),
    ("ml.features_s", "ml.features", 1e9),
    ("ml.score_s", "ml.score", 1e9))

  /** Metrics a workload fills in itself (0 where it has none). */
  val fromWorkload: Seq[String] = Seq(
    "sources.bytes_written_per_input_byte", "sources.files_written")

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def summarise(tr: Trace, perOp: Seq[Map[String, Double]], cores: Int): Map[String, Double] = {
    tr.drain()
    val nOps = perOp.size.max(1)
    val self = tr.selfNs
    // output checks run inside an op as `check` spans; they are not timed
    val measured = tr.spans.filter(s => s.op >= 0 && s.name != Trace.Check)
    val roots = measured.filter(_.parent < 0)
    val byOp = measured.groupBy(_.op)
    def perOpSum(f: Span => Double): Double = measured.map(f).sum / nOps

    val times = timed.map { case (metric, span, div) =>
      metric -> perOpSum(s => if (s.name == span) self(s.id) / div else 0.0)
    }
    def counts(s: Span) = tr.countsOf(s.id)
    val wallMs = perOp.map(_("__wall_ms"))
    val cpuNs = measured.map(counts(_).cpuNs.toDouble).sum
    // share of each op's wall time during which at least one job ran
    val jobShare = roots.zip(wallMs).map { case (r, wall) =>
      val ids = byOp(r.op).map(_.id).toSet
      val iv = tr.jobs.collect { case (s, a, b) if ids(s) => (a, b) }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      covered / math.max(1.0, wall)
    }
    val fromOps = fromWorkload.map(k => k -> mean(perOp.flatMap(_.get(k)))).toMap
    times.toMap ++ fromOps ++ Map(
      "sources.build_jobs" -> perOpSum(s =>
        if (s.name == "analytics.build") counts(s).jobs.toDouble else 0.0),
      "scheduler.jobs_per_op" -> perOpSum(counts(_).jobs.toDouble),
      "scheduler.tasks_per_op" -> perOpSum(counts(_).tasks.toDouble),
      "scheduler.task_launch_ms" -> perOpSum(counts(_).launchMs.toDouble),
      "shuffle.write_bytes_per_op" -> perOpSum(counts(_).shuffleWrite.toDouble),
      "shuffle.spill_bytes_per_op" -> perOpSum(counts(_).spill.toDouble),
      "sources.scan_bytes_per_op" -> perOpSum(counts(_).scanBytes.toDouble),
      "exec.task_skew" -> mean(byOp.values.map(ss => tr.taskSkew(ss.map(_.id).toSet))),
      "exec.cpu_util" -> cpuNs / (wallMs.sum * 1e6 * cores).max(1.0),
      "exec.job_wall_share" -> mean(jobShare),
      "jvm.gc_s" -> mean(perOp.map(_("jvm.gc_s"))),
      "trace.op_mean_ms" -> mean(wallMs),
      "trace.root_self_ms" -> mean(roots.map(r => self(r.id) / 1e6)))
  }
}
