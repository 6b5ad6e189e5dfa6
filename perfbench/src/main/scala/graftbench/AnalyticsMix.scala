package graftbench

import graft.SparkEntry

/** `analytics_mix`: read-only catalog queries (`SparkEntry.queries`, each
  * with a DuckDB `oracleSql`) over the seeded sf0.1 tables. One round
  * runs every query once in a seeded shuffled order; each query is timed
  * from building its plan to a `noop`-format write, which materialises
  * every output column (a `count()` would let Catalyst prune columns).
  * No writes, indexes, streams or text pairing: this is the control
  * workload for changes to the write path, index maintenance and
  * streaming.
  */
final class AnalyticsMix extends Workload {
  val defaultSf = 0.03
  val unitOp = "query"
  val latencyName = "query"
  val rounds = 6
  // sqlBoth queries register every catalog table as a view
  val tables: Seq[String] = graft.core.Tables.all

  /** Joins, aggregates, windows, set ops, rollups, and event and stats
    * analytics (sessionize, funnel, percentiles, PSI/KS).
    */
  val queries: Seq[String] = AnalyticsMix.queries

  private def run(ctx: Ctx, name: String): Unit = {
    val df = ctx.trace.span("catalyst.build")(
      SparkEntry.queries(name)(ctx.spark, ctx.dataDir))
    if (ctx.trace.enabled)
      ctx.trace.span("catalyst.plan")(df.queryExecution.executedPlan)
    ctx.trace.span("catalyst.exec")(
      df.write.format("noop").mode("overwrite").save())
  }

  def warmUp(ctx: Ctx): Unit = run(ctx, "q06_running_total")

  def round(ctx: Ctx, r: Int): Unit =
    ctx.rnd.shuffle(queries).foreach(q => ctx.op("query", q) { run(ctx, q); 1L })

  /** The untimed check pass, which also warms every query before the
    * timed phase: write each query's result for the DuckDB oracle
    * comparison, which the launcher runs after this JVM exits (it owns
    * the `duckdb` module) and folds into the record.
    */
  override def prepare(ctx: Ctx): Unit = {
    val dir = s"${ctx.workDir}/check"
    queries.foreach { q =>
      try SparkEntry.queries(q)(ctx.spark, ctx.dataDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$q")
      catch { case scala.util.control.NonFatal(e) =>
        ctx.check(s"result $q", ok = false, e.toString) }
    }
    val oracles = queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q,
      sys.error(s"$q has no oracleSql"))).toMap
    val w = new java.io.PrintWriter(s"$dir/oracle_sql.json")
    try w.println(Json.render(oracles)) finally w.close()
  }

  def check(ctx: Ctx): Unit = ()

  override def extra(ctx: Ctx): Map[String, Any] = Map(
    "queries" -> queries,
    "query_median_ms" -> ctx.allSamples.groupBy(_.label)
      .map { case (q, xs) => q -> Stats.median(xs.map(_.ms)) })
}

object AnalyticsMix {
  val queries: Seq[String] = Seq(
    "q02_market_segment", "q06_running_total", "q14_setops", "q16_rollup",
    "q41_percentiles", "q115_funnel", "q186_psi_drift")
}
