package graftbench

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.functions._
import graft.core.model.{JobSpec, Manifest}
import graft.engine.{Etl, Flow, MultiPass}

/** `manifest_etl`: yaetos's core journey — a manifest the benchmark
  * writes itself, loaded with `Manifest.loadFile` and run by the engine.
  *
  *  - an incremental producer → consumer pair over lineitem ship-date
  *    periods: the producer's sink keeps a `stats_manifest` up to date on
  *    every write, and the consumer reads that sink through it as a
  *    `skip_manifest`, so each consumer pass reads only its period's
  *    files. One `period` operation is the producer pass plus the
  *    consumer pass for one day, writes and manifest tick included;
  *  - an events DAG (sessions → user_stats and session_hours, funnel,
  *    cohorts → events_report) run by `Flow.runPipeline` with in-memory
  *    chaining and `persistIntermediates` (sessions feeds two jobs).
  *
  * One round is `periodsPerRound` consecutive days of the seeded window,
  * then one DAG run. Write-heavy with small pruned reads; no index
  * families.
  */
final class ManifestEtl extends Workload {
  val defaultSf = 0.01
  val unitOp = "period"
  val latencyName = "period"
  override val throughputName = Some(("etl_rows_per_s", "rows/s"))
  val tables = Seq("lineitem", "events")
  val periodsPerRound = 6
  val rounds = 1

  private var root = ""
  private var firstDay: LocalDate = _
  private var days = Vector.empty[LocalDate]

  private def manifest(ctx: Ctx): String =
    s"""jobs:
       |  producer:
       |    inputs:
       |      li:
       |        path: ${ctx.dataDir}/lineitem.parquet
       |        inc_field: l_shipdate
       |    output:
       |      path: $root/sink
       |      inc_field: l_shipdate
       |      stats_manifest: $root/manifest
       |      stats_cols: [l_shipdate, l_orderkey]
       |    sql: "SELECT l_shipdate, l_orderkey, l_partkey, l_quantity,
       |      l_extendedprice, l_discount, l_returnflag FROM li"
       |  consumer:
       |    inputs:
       |      src:
       |        path: $root/sink
       |        inc_field: l_shipdate
       |        skip_manifest: $root/manifest
       |    output: {path: $root/final, inc_field: l_shipdate}
       |    sql: "SELECT l_shipdate, l_returnflag,
       |      CAST(count(*) AS BIGINT) AS n_items,
       |      round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       |      FROM src GROUP BY l_shipdate, l_returnflag"
       |  sessions:
       |    class: graft.jobs.SessionizeJob
       |    inputs:
       |      events: {path: ${ctx.dataDir}/events.parquet}
       |    params: {gap_seconds: "1800"}
       |  user_stats:
       |    dependencies: [sessions]
       |    inputs:
       |      sessions: {type: df}
       |    output: {path: "$root/dag/{{now}}/user_stats", type: parquet}
       |    sql: "SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
       |      round(sum(duration_us) / (count(*) * 1e6), 3) AS avg_duration_s,
       |      round(sum(sum_value), 2) AS total_value
       |      FROM sessions GROUP BY user_id"
       |  session_hours:
       |    dependencies: [sessions]
       |    inputs:
       |      sessions: {type: df}
       |    output: {path: "$root/dag/{{now}}/session_hours", type: parquet}
       |    sql: "SELECT hour(session_start) AS hour,
       |      CAST(count(*) AS BIGINT) AS n_sessions,
       |      CAST(sum(n_events) AS BIGINT) AS n_events
       |      FROM sessions GROUP BY hour(session_start)"
       |  funnel:
       |    class: graft.jobs.FunnelJob
       |    inputs:
       |      events: {path: ${ctx.dataDir}/events.parquet}
       |    output: {path: "$root/dag/{{now}}/funnel", type: parquet}
       |    params: {steps: "view,click,purchase"}
       |  cohorts:
       |    class: graft.jobs.CohortRetentionJob
       |    inputs:
       |      events: {path: ${ctx.dataDir}/events.parquet}
       |    output: {path: "$root/dag/{{now}}/cohorts", type: parquet}
       |  events_report:
       |    dependencies: [user_stats, session_hours, funnel, cohorts]
       |    inputs:
       |      user_stats: {type: df}
       |      session_hours: {type: df}
       |      funnel: {type: df}
       |      cohorts: {type: df}
       |    output: {path: "$root/dag/{{now}}/events_report", type: parquet}
       |    sql: "SELECT 'user_stats' AS part, count(*) AS n FROM user_stats
       |      UNION ALL SELECT 'session_hours', count(*) FROM session_hours
       |      UNION ALL SELECT 'funnel', count(*) FROM funnel
       |      UNION ALL SELECT 'cohorts', count(*) FROM cohorts"
       |""".stripMargin

  private def load(ctx: Ctx): Map[String, JobSpec] =
    ctx.trace.span("core.model.load")(Manifest.loadFile(s"$root/job.yml").jobs)

  private def writeManifest(ctx: Ctx, dir: String): Unit = {
    root = dir
    Files.rmTree(root)
    new java.io.File(root).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/job.yml"),
      manifest(ctx).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** One producer + consumer pass over day `d`; returns rows written. */
  private def period(ctx: Ctx, jobs: Map[String, JobSpec], d: LocalDate,
                     now: String): Long =
    ctx.trace.span("engine.period")(
      MultiPass.run(ctx.spark, jobs("producer"), d, d, now = now)
        .map(_.rows).sum +
      MultiPass.run(ctx.spark, jobs("consumer"), d, d, now = now)
        .map(_.rows).sum)

  private def dag(ctx: Ctx, jobs: Map[String, JobSpec], now: String): Unit =
    ctx.trace.span("engine.flow")(
      Flow.runPipeline(ctx.spark, jobs, "events_report", now = now,
        persistIntermediates = true)): Unit

  /** The manifest load and one period pass, against a scratch root (the
    * timed sink stays empty until the timed phase). The scratch root is
    * kept across set-ups: the first set-up's pass builds its stats
    * manifest, later ones take the append (delta-refresh) path every
    * timed pass after the first takes.
    */
  def warmUp(ctx: Ctx): Unit = {
    val dir = s"${ctx.workDir}/etl_warm"
    if (warmPasses == 0) writeManifest(ctx, dir) else root = dir
    period(ctx, load(ctx), LocalDate.parse("1995-02-01").plusDays(warmPasses),
      "w")
    warmPasses += 1
  }
  private var warmPasses = 0

  override def prepare(ctx: Ctx): Unit = {
    writeManifest(ctx, s"${ctx.workDir}/etl")
    // a seeded window start inside the generated ship-date range
    firstDay = LocalDate.parse("1995-03-01").plusDays(ctx.rnd.nextInt(1800))
  }

  def round(ctx: Ctx, r: Int): Unit = {
    val jobs = load(ctx)
    (0 until periodsPerRound).foreach { i =>
      val d = firstDay.plusDays(r.toLong * periodsPerRound + i)
      ctx.op("period", d.toString)(period(ctx, jobs, d, s"r$r"))
      days :+= d
    }
    ctx.op("dag") { dag(ctx, jobs, s"r$r"); 0L }
  }

  /** Recompute every output from the raw tables with plain Spark and
    * compare; also measure the consumer's pruning on the last period.
    */
  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val li = spark.read.parquet(s"${ctx.dataDir}/lineitem.parquet")
    val daySet = days.map(_.toString)
    val expFinal = li
      .filter(date_format(col("l_shipdate"), "yyyy-MM-dd").isin(daySet: _*))
      .groupBy("l_shipdate", "l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        functions.round(
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    val gotFinal = spark.read.parquet(s"$root/final/inc_*")
    same(ctx, "etl final = raw lineitem aggregate", gotFinal, expFinal)
    val sinkFiles = spark.read.parquet(s"$root/sink/inc_*").inputFiles.length
    val mfFiles = spark.read.parquet(s"$root/manifest")
      .select("file").distinct().count()
    ctx.check("etl stats manifest covers the sink", mfFiles == sinkFiles,
      s"$mfFiles of $sinkFiles files")
    val jobs = load(ctx)
    val probe = Etl.runJob(spark, jobs("consumer"),
      period = Some(days.last.toString), save = false)
    readRatio = probe.df.inputFiles.length.toDouble / math.max(1, sinkFiles)
    ctx.check("etl consumer pass prunes to its period",
      probe.df.inputFiles.nonEmpty && probe.df.inputFiles.length < sinkFiles,
      s"read ${probe.df.inputFiles.length} of $sinkFiles")

    // events DAG outputs of the last round against plain recomputation
    val last = s"$root/dag/r${ctx.rounds.last.round}"
    val ev = graft.core.Tables.load(spark, ctx.dataDir, "events")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy("ts", "event_id")
    val us = unix_micros(col("ts"))
    val sessions = ev.withColumn("_us", us)
      .withColumn("_brk", when(lag("_us", 1).over(w).isNull ||
        col("_us") - lag("_us", 1).over(w) > 1800L * 1000000L, 1L)
        .otherwise(0L))
      .withColumn("sid", sum("_brk").over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"),
        (max("_us") - min("_us")).as("duration_us"),
        functions.round(sum("value"), 2).as("sum_value"))
    same(ctx, "dag user_stats = plain recompute",
      spark.read.parquet(s"$last/user_stats"),
      sessions.groupBy("user_id").agg(count(lit(1)).as("n_sessions"),
        functions.round(sum("duration_us") / (count(lit(1)) * 1e6), 3)
          .as("avg_duration_s"),
        functions.round(sum("sum_value"), 2).as("total_value")))
    same(ctx, "dag session_hours = plain recompute",
      spark.read.parquet(s"$last/session_hours"),
      sessions.groupBy(hour(col("session_start")).as("hour"))
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_events").cast("long").as("n_events")))
    same(ctx, "dag cohorts = plain recompute",
      spark.read.parquet(s"$last/cohorts"),
      ev.withColumn("_day", to_date(col("ts")))
        .withColumn("_first", min("_day").over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
        .groupBy(date_format(col("_first"), "yyyy-MM-dd").as("cohort"),
          datediff(col("_day"), col("_first")).cast("int").as("offset_days"))
        .agg(count_distinct(col("user_id")).as("n_users")))
    same(ctx, "dag funnel = direct operator call",
      spark.read.parquet(s"$last/funnel"),
      graft.ops.Events.funnel(ev, "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase")))
    writtenFiles = Seq("sink", "final", "manifest")
      .map(d => Files.stats(s"$root/$d"))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  private var readRatio = Double.NaN
  private var writtenFiles = (0L, 0L)

  /** Both frames hold the same rows (as multisets, columns by name). */
  private def same(ctx: Ctx, name: String, got: DataFrame,
                   exp: DataFrame): Unit = {
    val cols = exp.columns.sorted
    val g = got.select(cols.map(col): _*)
    val e = exp.select(cols.map(c => col(c).cast(got.schema(c).dataType).as(c)): _*)
    val extra = g.exceptAll(e).count()
    val missing = e.exceptAll(g).count()
    ctx.check(name, extra == 0 && missing == 0 && g.count() > 0,
      s"${g.count()} rows, $extra unexpected, $missing missing")
  }

  override def layers(ctx: Ctx): Map[String, Double] = {
    val periods = math.max(1, days.size)
    Map("core.io.files_written" -> writtenFiles._1.toDouble / periods,
      "core.io.bytes_written_mb" -> writtenFiles._2 / 1e6 / periods,
      "core.io.skip_read_ratio" -> readRatio)
  }

  override def extra(ctx: Ctx): Map[String, Any] = Map(
    "first_day" -> Option(firstDay).map(_.toString).getOrElse(""),
    "periods" -> days.size,
    "period_ms" -> ctx.samples("period", tracedToo = true),
    "dag_ms" -> ctx.samples("dag", tracedToo = true))
}
