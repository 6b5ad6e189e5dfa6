package graftbench

/** The traced run's per-layer metrics. Every name is reported for every
  * workload; a layer the workload does not exercise reads 0 (for example
  * `streaming.*` on analytics_mix, the control workload).
  *
  * Span-based values come from the traced round (round 1 of 3) and the
  * traced preparation; `spark.*` values are per unit operation (query,
  * period pass, lane drain) of the traced round, and `gap_s` is
  * that operation's wall time minus the union of its Spark job intervals
  * (driver planning, listing and commit time).
  */
object Layers {

  /** (name, unit) of every per-layer metric, in report order. */
  val all: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.job_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB", "spark.gap_s" -> "s",
    "core.session.build_s" -> "s",
    "core.model.load_ms" -> "ms",
    "engine.self_s" -> "s",
    "engine.period.self_s" -> "s", "engine.flow.self_s" -> "s",
    "core.io.files_written" -> "count", "core.io.bytes_written_mb" -> "MB",
    "core.io.skip_read_ratio" -> "ratio",
    "catalyst.plan_ms" -> "ms", "catalyst.exec_ms" -> "ms",
    "streaming.batch_jobs" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.planning_ms" -> "ms",
    "engine.streamrun.self_s" -> "s",
    "ingest.neardup.accepted_ratio" -> "ratio",
    "ingest.bm25.accepted_ratio" -> "ratio",
    "ingest.pq.accepted_ratio" -> "ratio",
    "ops.dedup.pairs_s" -> "s", "ops.dedup.build_s" -> "s",
    "ops.search.build_s" -> "s", "ops.pq.build_s" -> "s",
    "ops.dedup.vacuum_s" -> "s", "ops.dedup.compact_s" -> "s",
    "ops.search.vacuum_s" -> "s", "ops.search.compact_s" -> "s",
    "ops.pq.vacuum_s" -> "s", "ops.pq.compact_s" -> "s",
    "ops.search.topk_ms" -> "ms", "ops.pq.topk_ms" -> "ms",
    "index.files" -> "count", "index.tombstone_rows" -> "count",
    "index.bytes_written_per_user_byte" -> "ratio",
    "index.live_byte_ratio" -> "ratio",
    "trace.overhead_s" -> "s")
  // trace.overhead_s: the traced round minus the untraced round after it
  // (round 0 is the warm-up round of the traced run)

  def compute(ctx: Ctx, wl: Workload, traced: Seq[Ctx.Round],
              untraced: Seq[Ctx.Round],
              buildS: Double): Seq[(String, Double, String)] = {
    val t = ctx.trace
    val spans = t.spans.toSeq.filter(_.end >= 0)
    def named(n: String) = spans.filter(_.name == n)
    def meanS(n: String, self: Boolean = false): Option[Double] = {
      val xs = named(n)
      if (xs.isEmpty) None
      else Some(xs.map(s => if (self) s.selfNs else s.wallNs).sum / 1e9 / xs.size)
    }
    def medianMs(n: String): Option[Double] = {
      val xs = named(n)
      if (xs.isEmpty) None else Some(Stats.median(xs.map(_.wallNs / 1e6)))
    }

    // Spark's view of the traced unit operations
    val ops = named(wl.unitOp)
    val perOp = ops.map { s =>
      val js = t.jobsIn(s)
      (js, t.jobUnionNs(s), s.wallNs)
    }
    val nOps = math.max(1, ops.size).toDouble
    def sumJobs(f: (Trace#Job, Trace#TaskAgg, Int) => Double): Double =
      perOp.flatMap(_._1).map { case (j, a, st) => f(j, a, st) }.sum / nOps
    val mb = 1e6
    val spark: Seq[(String, Double)] = if (ops.isEmpty) Nil else Seq(
      "spark.jobs" -> sumJobs((_, _, _) => 1.0),
      "spark.stages" -> sumJobs((_, _, st) => st.toDouble),
      "spark.tasks" -> sumJobs((_, a, _) => a.tasks.toDouble),
      "spark.job_s" -> perOp.map(_._2).sum / 1e9 / nOps,
      "spark.task_cpu_s" -> sumJobs((_, a, _) => a.cpuNs / 1e9),
      "spark.gc_s" -> sumJobs((_, a, _) => a.gcMs / 1e3),
      "spark.shuffle_read_mb" -> sumJobs((_, a, _) => a.shuffleReadB / mb),
      "spark.shuffle_write_mb" -> sumJobs((_, a, _) => a.shuffleWriteB / mb),
      "spark.spill_mb" -> sumJobs((_, a, _) => a.spillB / mb),
      "spark.input_mb" -> sumJobs((_, a, _) => a.inputB / mb),
      "spark.output_mb" -> sumJobs((_, a, _) => a.outputB / mb),
      "spark.gap_s" -> perOp.map(p => p._3 - p._2).sum / 1e9 / nOps,
      // self time of the engine entry points (period pass, DAG run, stream
      // drain) inside the unit operations
      "engine.self_s" -> spans.filter(s => s.name.startsWith("engine.") &&
        ops.exists(o => o.start <= s.start && s.end <= o.end))
        .map(_.selfNs).sum / 1e9 / nOps)

    // streaming: progress of the traced micro-batches
    val batches = t.progress.toSeq.filter(p => p.traced && p.rows > 0 &&
      p.phase == "timed")
    def progMs(k: String): Option[Double] = {
      val xs = batches.flatMap(_.durations.get(k)).map(_.toDouble)
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    val streamRuns = named("engine.streamrun").filter(s =>
      ops.exists(o => o.start <= s.start && s.end <= o.end))
    val streaming: Seq[(String, Option[Double])] = Seq(
      "streaming.batch_jobs" -> (if (streamRuns.isEmpty || batches.isEmpty) None
        else Some(streamRuns.map(s => t.jobsIn(s).size).sum.toDouble /
          batches.size)),
      "streaming.add_batch_ms" -> progMs("addBatch"),
      "streaming.wal_commit_ms" -> progMs("walCommit"),
      "streaming.planning_ms" -> progMs("queryPlanning"))

    val baseline = untraced.filter(_.round > 0)
    val roundOverhead = Stats.median(traced.map(_.wallS)) -
      Stats.median((if (baseline.isEmpty) untraced else baseline).map(_.wallS))

    val values: Map[String, Double] = (spark.map { case (k, v) => k -> Some(v) } ++ Seq(
      "core.session.build_s" -> Some(buildS),
      "core.model.load_ms" -> medianMs("core.model.load"),
      "engine.period.self_s" -> meanS("engine.period", self = true),
      "engine.flow.self_s" -> meanS("engine.flow", self = true),
      "catalyst.plan_ms" -> medianMs("catalyst.plan"),
      "catalyst.exec_ms" -> medianMs("catalyst.exec"),
      "engine.streamrun.self_s" -> meanS("engine.streamrun", self = true),
      "ops.dedup.pairs_s" -> meanS("ops.dedup.pairs"),
      "ops.dedup.build_s" -> meanS("ops.dedup.build"),
      "ops.search.build_s" -> meanS("ops.search.build"),
      "ops.pq.build_s" -> meanS("ops.pq.build"),
      "ops.dedup.vacuum_s" -> meanS("ops.dedup.vacuum"),
      "ops.dedup.compact_s" -> meanS("ops.dedup.compact"),
      "ops.search.vacuum_s" -> meanS("ops.search.vacuum"),
      "ops.search.compact_s" -> meanS("ops.search.compact"),
      "ops.pq.vacuum_s" -> meanS("ops.pq.vacuum"),
      "ops.pq.compact_s" -> meanS("ops.pq.compact"),
      "ops.search.topk_ms" -> medianMs("ops.search.topk"),
      "ops.pq.topk_ms" -> medianMs("ops.pq.topk"),
      "trace.overhead_s" -> Some(roundOverhead)) ++ streaming)
      .collect { case (k, Some(v)) => k -> v }.toMap ++ wl.layers(ctx)
    all.map { case (n, unit) =>
      val v = values.getOrElse(n, 0.0)
      (n, if (v.isNaN) 0.0 else v, unit)
    }
  }
}
