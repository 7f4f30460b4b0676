package graft.streaming

import graft.GraftSession
import graft.ingest.Ingest
import graft.model._
import graft.pipeline.LogsToMetrics
import graft.sinks.{ConsoleSink, MetricsSink}
import org.apache.spark.sql.functions._

/** Runnable end-to-end streaming demo: rate source → JSON log bytes →
  * multi-charset decode + parse → filter → tumbling window aggregation →
  * foreachBatch sink router → JSON points on stdout.
  *
  * Usage: runMain graft.streaming.StreamDemo [seconds] — mirrors the
  * reference's whole pipeline shape (Pub/Sub → … → local exporter,
  * /root/reference/beametrics/main.py:310-318) with Spark-native pieces.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val runSecs = args.headOption.map(_.toInt).getOrElse(12)
    val spark = GraftSession()

    // rate source → synthetic log messages: every 3rd message an ERROR
    // carrying a bytes payload, the rest INFO.
    val raw = spark.readStream
      .format("rate")
      .option("rowsPerSecond", "50")
      .load()
      .select(
        col("timestamp").as("ts"),
        encode(
          concat(
            lit("""{"severity": """"),
            when(col("value") % 3 === 0, "ERROR").otherwise("INFO"),
            lit("""", "bytes": """),
            (col("value") % 100).cast("string"),
            lit("}")),
          "UTF-8").as("raw"))

    val defs = Seq(
      MetricDefinition(
        "error_count",
        MetricType.Count,
        Seq(FilterCondition("severity", "ERROR", "equals")),
        staticLabels = Map("source" -> "demo"),
        windowSizeSec = 5),
      MetricDefinition(
        "error_bytes",
        MetricType.Sum("bytes"),
        Seq(FilterCondition("severity", "ERROR", "equals")),
        windowSizeSec = 5))

    val parsed = Ingest.parseSchemaless(raw, "raw")
    val Seq(points) =
      StreamingMetrics.attach(parsed, defs, LogsToMetrics.Schemaless("msg"), watermarkDelay = "0 seconds")

    // multi-target fan-out: one cached micro-batch serves both "targets"
    // (a local JSON-lines sink and a monitoring-prefixed sink) from a
    // single source read — the shape a real local+GCM deployment uses.
    val query = points.writeStream
      .outputMode("append")
      .foreachBatch(MetricsSink.multiRouter(Seq(
        MetricsSink.Target("", _ => new ConsoleSink),
        MetricsSink.Target("custom.googleapis.com/", _ => new ConsoleSink))))
      .start()
    query.awaitTermination(runSecs * 1000L)
    query.stop()
    spark.stop()
  }
}
