package graft

import graft.model._
import graft.pipeline.LogsToMetrics
import graft.sinks.{ConsoleSink, MetricsSink}

/** CLI entry — the reference's `python -m beametrics.main` analog
  * (/root/reference/beametrics/main.py:276-326) for the batch path:
  * configure metrics (YAML file, inline `--metrics` JSON array, or
  * single-metric flags — reference precedence, main.py:288-308), run the
  * log→metrics pipeline over a parquet events table, export points as JSON
  * lines.
  *
  * Usage:
  *   runMain graft.Main --config <metrics.yaml> --events <dir>
  *     [--project <p>] [--window-size <sec>] [--limit <n>]
  *   runMain graft.Main --metrics '<json array of metric entries>' --events <dir> …
  *   runMain graft.Main --metric-name <n> --metric-type count|sum
  *     [--metric-field <f>] [--filter-conditions '<json array>']
  *     [--metric-labels '<json obj>'] [--dynamic-labels '<json obj>']
  *     [--export-type local|google-cloud-monitoring] --events <dir> …
  */
object Main {

  /** Config precedence, extracted for testability:
    * --config YAML > --metrics inline JSON > single-metric flags, where a
    * NON-JSON --metrics value falls back to the flags (main.py:302-306) but
    * a well-formed one with bad content fails loudly.
    */
  def resolveRoutes(opts: Map[String, String]): Seq[ConfigLoader.MetricRoute] = {
    val windowDefault = opts.get("--window-size").map(_.toLong).getOrElse(120L) // main.py:78
    def fromFlags: Seq[ConfigLoader.MetricRoute] = {
      val name = opts.getOrElse("--metric-name",
        sys.error("--config <yaml>, --metrics <json>, or --metric-name … is required"))
      Seq(ConfigLoader.singleMetric(
        name,
        opts.getOrElse("--metric-type", "count"),
        opts.get("--metric-field"),
        opts.get("--filter-conditions"),
        opts.get("--metric-labels"),
        opts.get("--dynamic-labels"),
        windowDefault,
        opts.getOrElse("--export-type", "local"),
        opts.get("--project")))
    }
    opts.get("--config") match {
      case Some(path) => ConfigLoader.fromFile(path, windowDefault, opts.get("--project"))
      case None =>
        opts.get("--metrics") match {
          case Some(json) =>
            ConfigLoader
              .fromMetricsJson(json, windowDefault, opts.get("--project"))
              .getOrElse(fromFlags)
          case None => fromFlags
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val eventsDir = opts.getOrElse("--events", sys.error("--events <dir> is required"))
    val limit = opts.get("--limit").map(_.toInt)

    val routes = resolveRoutes(opts)
    require(routes.nonEmpty, "config defines no metrics")

    val spark = GraftSession()
    try {
      val ev = Tables.events(spark, eventsDir)
      val points = LogsToMetrics(routes.map(_.definition), LogsToMetrics.Typed(ev.schema))(ev)
      val shaped = MetricsSink.formatted(points).orderBy("metric_name", "timestamp")
      MetricsSink.writeBatch(limit.map(shaped.limit).getOrElse(shaped), _ => new ConsoleSink)
    } finally spark.stop()
  }
}
