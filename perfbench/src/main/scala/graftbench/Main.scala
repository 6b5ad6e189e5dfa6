package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** One benchmark run of one workload, in one JVM:
  *
  *  1. set-up, repeated `--setups` times (the median of their JVM CPU
  *     times is `setup_s`):
  *     build the session through [[GraftSession.local]] on `local[k]`,
  *     generate the seeded inputs, run the workload's warm-up action;
  *  2. the workload's untimed preparation (index builds and the like);
  *  3. the timed phase: the workload's fixed number of rounds, closed loop
  *     on one client thread. `--seconds` is only an upper limit: no
  *     further round starts once it has passed. With `--trace 1` three
  *     rounds run whatever `--seconds` says and the middle one is traced,
  *     so the run also measures the tracing overhead against the untraced
  *     round after it;
  *  4. output checks (untimed);
  *  5. the run record, written as one JSON object to `--out`.
  *
  * Spark's listener bus is drained before every phase change and every
  * round, outside the timed intervals, so each job and micro-batch is
  * credited to the phase and round it ran in.
  *
  * Usage: `graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <file> [--sf <x>] [--setups <n>]
  *   [--inject undeleted]`
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String,
                        sf: Option[Double], setups: Int, inject: Set[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), need("work"), need("out"),
      m.get("sf").map(_.toDouble), m.getOrElse("setups", "3").toInt,
      m.get("inject").map(_.split(",").toSet).getOrElse(Set.empty))
  }

  /** `local[k]`: k = nproc, at most 4. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  val workloads: Map[String, () => Workload] = Map(
    "analytics_mix" -> (() => new AnalyticsMix),
    "manifest_etl" -> (() => new ManifestEtl),
    "corpus_lifecycle" -> (() => new CorpusLifecycle))

  def main(argv: Array[String]): Unit = {
    HeapPeak.start()
    val a = parse(argv)
    val wl = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; one of " +
        workloads.keys.toSeq.sorted.mkString(", ")))()
    val loadStart = loadavg()
    val trace = new Trace
    val sf = a.sf.getOrElse(wl.defaultSf)
    val dataDir = s"${a.work}/data"

    // 1. set-ups
    val setupS = ArrayBuffer.empty[Double]
    val setupCpuS = ArrayBuffer.empty[Double]
    val buildS = ArrayBuffer.empty[Double]
    val genS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var sizes = Map.empty[String, (Long, Long)]
    var ctx: Ctx = null
    (0 until a.setups).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val sc0 = Ctx.processCpuNs()
      spark = GraftSession.local(cores = cores, appName = "graft-perfbench")
      buildS += (System.nanoTime() - t0) / 1e9
      trace.attach(spark)
      val g0 = System.nanoTime()
      sizes = Gen.write(spark, dataDir, a.seed, sf, wl.tables)
      genS += (System.nanoTime() - g0) / 1e9
      ctx = new Ctx(spark, a, sf, dataDir, a.work, trace)
      wl.warmUp(ctx)
      setupS += (System.nanoTime() - t0) / 1e9
      setupCpuS += (Ctx.processCpuNs() - sc0) / 1e9
    }

    def settle(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    // 2. untimed preparation (traced, so build-side layers are measured)
    settle()
    trace.enabled = a.trace
    ctx.phase = "prepare"
    val p0 = System.nanoTime()
    ctx.guard("prepare")(wl.prepare(ctx))
    val prepareS = (System.nanoTime() - p0) / 1e9

    // 3. timed phase: fixed work. The traced run traces round 1: round 0
    // warms up, and round 2 is the untraced baseline for the overhead.
    val planned = if (a.trace) 3 else wl.rounds
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var r = 0
    while (r < planned && (r == 0 || a.trace || System.nanoTime() < deadline)) {
      settle()
      trace.enabled = a.trace && r == 1
      ctx.phase = "timed"
      val rs = System.nanoTime()
      val rc = Ctx.processCpuNs()
      trace.span("round")(ctx.guard(s"round $r")(wl.round(ctx, r)))
      ctx.rounds += Ctx.Round(r, trace.enabled, (System.nanoTime() - rs) / 1e9,
        (Ctx.processCpuNs() - rc) / 1e9)
      r += 1
    }
    settle()
    trace.enabled = false

    // 4. checks
    ctx.phase = "check"
    val c0 = System.nanoTime()
    ctx.guard("check")(wl.check(ctx))
    settle()
    val checkS = (System.nanoTime() - c0) / 1e9

    // 5. record
    val untraced = ctx.rounds.filterNot(_.traced)
    val traced = ctx.rounds.filter(_.traced)
    val wallS = untraced.map(_.wallS).sum
    val cpuS = untraced.map(_.cpuS).sum
    val unitSamples = wl.unitSamples(ctx)
    val (tailP, tailV, beyond) = Stats.tail(unitSamples)
    // items per second of the unit operations that processed them
    val unitOps = ctx.allSamples.filter(x => x.kind == wl.unitOp &&
      (!a.trace || !x.traced))
    val itemsPerS = unitOps.map(_.items).sum /
      math.max(1e-9, unitOps.map(_.ms).sum / 1e3)
    // CPU per unit sample: the unit operations' CPU over the samples they
    // produced (a corpus_lifecycle lane drain commits several batches)
    val opCpuMs = unitOps.map(_.cpuMs).sum / math.max(1, unitSamples.size)
    val peakRss = peakRssMb()
    val peakHeap = HeapPeak.peakMb
    val gated = Seq(
      ("setup_s", Stats.median(setupCpuS.toSeq), "s"),
      ("peak_heap_mb", peakHeap, "MB"),
      ("cpu_s", cpuS, "s"),
      ("op_cpu_ms", opCpuMs, "ms"))
    val named = Seq(
      Named("setup_s", Stats.median(setupCpuS.toSeq), "s",
        s"JVM CPU time, median of ${setupS.size} set-ups"),
      Named("setup_wall_s", Stats.median(setupS.toSeq), "s",
        s"wall time, median of ${setupS.size} set-ups"),
      Named("wall_s", wallS, "s",
        s"sum of ${untraced.size} untraced rounds"),
      Named("cpu_s", cpuS, "s",
        s"JVM CPU time of ${untraced.size} untraced rounds"),
      Named("op_cpu_ms", opCpuMs, "ms",
        s"JVM CPU time of ${wl.unitOp} operations per sample"),
      Named("ops_failed_ratio",
        ctx.failed.toDouble / math.max(1, ctx.attempted), "ratio",
        s"${ctx.failed} of ${ctx.attempted}"),
      Named("peak_rss_mb", peakRss, "MB", "VmHWM of the benchmark JVM"),
      Named("peak_heap_mb", peakHeap, "MB",
        "largest post-GC heap occupancy plus peak non-heap use"),
      Named(s"${wl.latencyName}_p50_ms", Stats.median(unitSamples), "ms",
        s"${unitSamples.size} samples"),
      Named(s"${wl.latencyName}_tail_ms", tailV, "ms",
        s"p$tailP, $beyond samples beyond")) ++
      wl.throughputName.map { case (n, u) => Named(n, itemsPerS, u,
        s"per second of ${wl.unitOp} time") } ++
      wl.named(ctx)

    val layers: Seq[(String, Double, String)] =
      if (!a.trace) Nil
      else Layers.compute(ctx, wl, traced.toSeq, untraced.toSeq,
        Stats.median(buildS.toSeq))
    if (a.trace) {
      val w = new java.io.PrintWriter(s"${a.work}/spans.jsonl")
      try trace.spansJson.foreach(w.println) finally w.close()
    }

    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "sf" -> sf, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "k" -> cores, "master" -> spark.sparkContext.master,
      "client_threads" -> 1, "loop" -> "closed",
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "inputs" -> sizes.toSeq.sortBy(_._1).map { case (t, (rows, bytes)) =>
        Json.Raw(Json.obj("table" -> t, "rows" -> rows, "bytes" -> bytes)) },
      "setups_s" -> setupS.toSeq, "setups_cpu_s" -> setupCpuS.toSeq,
      "session_build_s" -> buildS.toSeq,
      "input_gen_s" -> genS.toSeq,
      "prepare_s" -> prepareS, "check_s" -> checkS,
      "rounds_planned" -> planned, "rounds" -> ctx.rounds.size,
      "round_times" -> ctx.rounds.map(r => Json.Raw(Json.obj(
        "round" -> r.round, "traced" -> r.traced, "wall_s" -> r.wallS,
        "cpu_s" -> r.cpuS))).toSeq,
      "unit_op" -> wl.unitOp, "unit_samples" -> unitSamples.size,
      "tail_percentile" -> tailP, "tail_beyond" -> beyond,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "checks" -> ctx.checks.map { case (n, ok, d) =>
        Json.Raw(Json.obj("check" -> n, "ok" -> ok, "detail" -> d)) }.toSeq,
      "gated" -> gated.map { case (n, v, u) => n -> Json.Raw(
        Json.obj("value" -> v, "unit" -> u)) }.toMap,
      "named" -> named.map(x => x.name -> Json.Raw(Json.obj(
        "value" -> x.value, "unit" -> x.unit, "note" -> x.note))).toMap,
      "per_layer" -> layers.map { case (n, v, u) => n -> Json.Raw(
        Json.obj("value" -> v, "unit" -> u)) }.toMap,
      "extra" -> wl.extra(ctx))
    val w = new java.io.PrintWriter(a.out)
    try w.println(record) finally w.close()
    spark.stop()
  }

  final case class Named(name: String, value: Double, unit: String, note: String)

  private def loadavg(): String =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim)
      .getOrElse("unknown")

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)
}

/** Per-run state shared by [[Main]] and the workloads. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val sf: Double,
                val dataDir: String, val workDir: String, val trace: Trace) {
  import Ctx._
  def phase: String = trace.phase
  def phase_=(p: String): Unit = trace.phase = p
  val rnd = new scala.util.Random(args.seed)
  val rounds = ArrayBuffer.empty[Round]
  private val sampleBuf = ArrayBuffer.empty[Sample]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  /** Time one user-visible operation of kind `kind` in the timed phase;
    * `body` returns the items (rows, docs) it processed. A throw counts as
    * a failed operation.
    */
  def op(kind: String, label: String = "")(body: => Long): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val c0 = processCpuNs()
    try {
      val items = trace.span(kind)(body)
      sampleBuf += Sample(kind, label, (System.nanoTime() - t0) / 1e6, items,
        trace.enabled, (processCpuNs() - c0) / 1e6)
    } catch { case NonFatal(e) =>
      failed += 1
      checks += ((s"$phase $kind $label".trim, false, e.toString.take(400)))
    }
  }

  /** Record the outcome of one output check. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, detail.take(400)))
  }

  /** Run a whole phase; an escaping throw is one failed operation. */
  def guard(what: String)(body: => Unit): Unit =
    try body catch { case NonFatal(e) =>
      attempted += 1; failed += 1
      checks += ((what, false, e.toString.take(400)))
    }

  def samples(kind: String, tracedToo: Boolean): Seq[Double] =
    sampleBuf.toSeq.filter(s => s.kind == kind && (tracedToo || !s.traced))
      .map(_.ms)

  def allSamples: Seq[Sample] = sampleBuf.toSeq
}

object Ctx {
  final case class Round(round: Int, traced: Boolean, wallS: Double,
                         cpuS: Double)
  /** `ms` is wall time; `cpuMs` the CPU time of every thread of the JVM
    * over the same interval.
    */
  final case class Sample(kind: String, label: String, ms: Double,
                          items: Long, traced: Boolean, cpuMs: Double)
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM, including threads that ended. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

/** What a workload defines; [[Main]] runs the phases around it. */
trait Workload {
  def defaultSf: Double
  /** The generated tables the workload reads. */
  def tables: Seq[String]
  /** The op kind of the workload's unit operation: its spans carry the
    * per-operation `spark.*` values, its items give the throughput and its
    * CPU time `op_cpu_ms`.
    */
  def unitOp: String
  /** Rounds in the untraced timed phase: the workload's fixed work. */
  def rounds: Int
  /** Published stem of the unit latency: `<stem>_p50_ms`, `<stem>_tail_ms`. */
  def latencyName: String
  /** Published name and unit of the throughput, where the workload has one. */
  def throughputName: Option[(String, String)] = None
  /** The unit latencies behind `<stem>_p50_ms`/`<stem>_tail_ms` (ms,
    * untraced); their count is the divisor of `op_cpu_ms`.
    */
  def unitSamples(ctx: Ctx): Seq[Double] =
    ctx.samples(unitOp, tracedToo = !ctx.args.trace)
  def warmUp(ctx: Ctx): Unit
  def prepare(ctx: Ctx): Unit = ()
  def round(ctx: Ctx, r: Int): Unit
  def check(ctx: Ctx): Unit
  /** Further end-to-end metrics of the workload, by published name. */
  def named(ctx: Ctx): Seq[Main.Named] = Nil
  /** Workload-specific per-layer values for the traced run. */
  def layers(ctx: Ctx): Map[String, Double] = Map.empty
  def extra(ctx: Ctx): Map[String, Any] = Map.empty
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile; NaN on no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (p == 50 && s.size % 2 == 0) (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      else s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }

  /** The highest whole percentile, at least the 50th, with at least 10
    * samples beyond it: (percentile, value, samples beyond). With fewer
    * than 21 samples none qualifies, and the maximum is reported instead
    * (percentile 100, 0 beyond).
    */
  def tail(xs: Seq[Double]): (Int, Double, Int) = {
    val n = xs.size
    val s = xs.sorted
    def idx(p: Int) = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
    (99 to 50 by -1).find(p => n - idx(p) - 1 >= 10) match {
      case Some(p) => (p, s(idx(p)), n - idx(p) - 1)
      case None => (100, if (s.isEmpty) Double.NaN else s.last, 0)
    }
  }
}
