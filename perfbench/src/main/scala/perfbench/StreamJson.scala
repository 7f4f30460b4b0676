package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.filter.FilterCompiler
import graft.ingest.Ingest
import graft.model.ConfigLoader
import graft.pipeline.LogsToMetrics
import graft.sinks.MetricsSink
import graft.streaming.StreamingMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** The deployed shape: newline-delimited raw JSON bytes land in a file
  * source directory on an open-loop schedule and flow through
  * parseSchemaless → StreamingMetrics.attach(Schemaless) →
  * foreachBatch(idempotent(multiRouter(2 targets))).
  *
  * Files are generated before the session starts; one landing thread
  * renames each into the source directory at its due time, whatever the
  * engine is doing (open loop). Steady-phase landings are phase-aligned to
  * the processing-time trigger clock so run-to-run latency differences come
  * from the engine, not from where a run's schedule fell between triggers.
  */
object StreamJson {
  private val Prefixes = Seq("local" -> "", "monitoring" -> "custom.googleapis.com/")

  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(String, Double, String)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add((e.progress.name, Clock.nowMs, e.progress.json))
  }

  def run(dir: Path, work: Path, cpus: Int, trace: Boolean, tracer: Tracer): Map[String, Any] = {
    val params = Inputs.readJson(dir.resolve("params.json"))
    val triggerMs = Inputs.long(params, "trigger_ms")
    val delay = s"${Inputs.long(params, "watermark_delay_ms")} milliseconds"
    val warm = Inputs.strings(params, "warm_files")
    val steady = Inputs.strings(params, "steady_files")
    val bursts = Inputs.objects(params, "bursts")
      .map(b => Inputs.strings(b, "files") -> Inputs.long(b, "watermark_ms"))
    val burstGapMs = Inputs.long(params, "burst_gap_ms")
    val failMetric = Inputs.str(params, "fail_metric")
    val files = dir.resolve("files")

    val d = work.resolve("stream")
    Files.createDirectories(d.resolve("pending")); Files.createDirectories(d.resolve("source"))
    (warm ++ steady ++ bursts.flatMap(_._1))
      .foreach(n => Files.copy(files.resolve(n), d.resolve("pending").resolve(n)))
    val landed = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def land(name: String): Unit = {
      Files.move(d.resolve("pending").resolve(name), d.resolve("source").resolve(name),
        StandardCopyOption.ATOMIC_MOVE)
      landed += name -> Clock.nowMs
    }

    // set-up, from a cold JVM: session start; the warm-up files, landed
    // before the queries start, processed one file per micro-batch back to
    // back (available-now trigger), which warms the JVM and the queries'
    // state without waiting on the trigger clock; then the queries restart
    // from their checkpoints on the processing-time trigger
    val setupStart = Clock.nowMs
    val spark = Sessions.build("main", cpus, work)
    val progress = new Progress
    spark.streams.addListener(progress)
    val calls, bodies = new AtomicLong
    warm.foreach(land)
    def start(trigger: Trigger, filesPerBatch: Option[Int]): Seq[StreamingQuery] =
      startQueries(spark, d, dir, trigger, filesPerBatch, delay, failMetric, tracer, calls, bodies)
    tracer.span("setup.warm_up") { start(Trigger.AvailableNow(), Some(1)).foreach(_.awaitTermination()) }
    val queries = tracer.span("setup.start_queries") { start(Trigger.ProcessingTime(triggerMs), None) }
    val setupEnd = Clock.nowMs
    val setupS = (setupEnd - setupStart) / 1e3
    System.err.println(f"[perfbench] stream set-up: $setupS%.3f s")

    // steady phase: file k (k = 0..) lands at T0 + (k+1)·1 s, with T0 placed
    // half a second before a trigger boundary
    val now = Clock.nowMs
    val t0 = (math.ceil((now + 1000) / triggerMs) * triggerMs) - 500
    val late = scala.collection.mutable.ArrayBuffer.empty[Double]
    steady.zipWithIndex.foreach { case (n, k) =>
      val due = t0 + (k + 1) * 1000.0
      Clock.sleepUntil(due)
      land(n)
      late += (Clock.nowMs - due) / 1e3
    }
    val steadyEnd = Clock.nowMs
    // bursts: each burst's files and its closing event land at once, just
    // before a trigger boundary, once the previous burst has been emitted;
    // the first waits for the steady phase's last windows to be emitted
    def emitted(q: StreamingQuery, watermarkMs: Long): Boolean =
      Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
        .exists(w => java.time.Instant.parse(w).toEpochMilli >= watermarkMs)
    val deadline = Clock.nowMs + 60000
    var ready = steadyEnd + burstGapMs
    val burstLanded = bursts.map { case (names, watermarkMs) =>
      val due = math.ceil((ready + 500) / triggerMs) * triggerMs - 300
      Clock.sleepUntil(due)
      names.foreach(land)
      late += (Clock.nowMs - due) / 1e3
      while (!queries.forall(emitted(_, watermarkMs)) && Clock.nowMs < deadline) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(20)
      }
      ready = Clock.nowMs
      System.err.println(f"[perfbench] stream burst emitted ${(ready - due) / 1e3}%.3f s after landing")
      due
    }
    val drainedOk = queries.forall(emitted(_, bursts.last._2))
    queries.foreach(_.stop())

    val prefix = if (trace) prefixRuns(spark, d.resolve("source"), dir, tracer) else Map.empty
    spark.stop()

    val pointsFile = work.resolve("points.tsv")
    Files.write(pointsFile, Received.points.asScala.map { r =>
      s"${r.target}\t${r.point.metricName}\t${r.point.timestamp.getTime}\t" +
        s"${Received.labelText(r.point.labels)}\t${r.point.value}\t${r.atMs}"
    }.asJava)
    Map(
      "setup_s" -> setupS, "setup_end_ms" -> setupEnd,
      "steady_start_ms" -> t0, "steady_end_ms" -> steadyEnd, "burst_landed_ms" -> burstLanded,
      "generator_late_s" -> late.toSeq,
      "landed" -> landed.toSeq.map { case (n, at) => Seq(n, at) },
      "drained" -> drainedOk,
      "points_file" -> pointsFile.toString,
      "export_failures" -> Received.exportFailures.get,
      "foreach_batch_calls" -> calls.get, "foreach_batch_bodies" -> bodies.get,
      "progress" -> progress.events.asScala.toSeq.map { case (q, at, json) =>
        Map("query" -> q, "at_ms" -> at, "json" -> json) },
      "prefix" -> prefix)
  }

  private def ingestStream(spark: SparkSession, source: Path, filesPerBatch: Option[Int]): DataFrame = {
    val reader = spark.readStream.format("text")
    val raw = filesPerBatch.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong)).load(source.toString)
      .select(col("value").cast("binary").as("raw"))
      .observe("ingest_in", count(lit(1)).as("rows_in"),
        sum(when(call_function("is_valid_utf8", col("raw")), 0).otherwise(1)).as("legacy_charset_rows"))
    Ingest.parseSchemaless(raw, "raw")
      .withColumn("ts", timestamp_millis(try_element_at(col("msg"), lit("ts")).cast("long")))
      .observe("ingest_out", count(lit(1)).as("rows_parsed"))
  }

  private def startQueries(
      spark: SparkSession, d: Path, dir: Path, trigger: Trigger, filesPerBatch: Option[Int], delay: String,
      failMetric: String, tracer: Tracer, calls: AtomicLong, bodies: AtomicLong): Seq[StreamingQuery] = {
    val defs = tracer.span("model.fromFile") {
      ConfigLoader.fromFile(dir.resolve("metrics.yaml").toString).map(_.definition)
    }
    val parsed = tracer.span("ingest.parseSchemaless") { ingestStream(spark, d.resolve("source"), filesPerBatch) }
    val outs = tracer.span("streaming.attach") {
      StreamingMetrics.attach(parsed, defs, LogsToMetrics.Schemaless("msg"), "ts", delay)
    }
    val targets = Prefixes.map { case (name, prefix) =>
      val failOn = if (name == "monitoring") Some(prefix + failMetric) else None
      MetricsSink.Target(prefix, _ => new RecordingSink(name, failOn))
    }
    outs.zipWithIndex.map { case (df, i) =>
      val router = MetricsSink.multiRouter(targets)
      val body = MetricsSink.idempotent(d.resolve(s"commits-$i").toString) { (b: DataFrame, id: Long) =>
        bodies.incrementAndGet()
        tracer.span("sinks.multiRouter") { router(b, id) }
      }
      df.writeStream
        .queryName(s"window$i")
        .outputMode("append")
        .trigger(trigger)
        .option("checkpointLocation", d.resolve(s"checkpoint-$i").toString)
        .foreachBatch { (b: DataFrame, id: Long) =>
          calls.incrementAndGet()
          tracer.span("sinks.idempotent") { body(b, id) }
        }
        .start()
    }
  }

  /** Batch prefix runs over the landed input: scan → noop; plus
    * parseSchemaless; plus the definitions' OR gate; plus LogsToMetrics.
    * The differences between consecutive prefixes are the layers' costs;
    * the LogsToMetrics run's plan and task metrics give the fan-out and
    * shuffle counts. Export is timed alone, over points already computed.
    */
  private def prefixRuns(spark: SparkSession, source: Path, dir: Path, tracer: Tracer): Map[String, Any] = {
    val counters = new TaskCounters
    spark.sparkContext.addSparkListener(counters)
    val phases = new PhaseListener
    spark.listenerManager.register(phases)
    val yaml = dir.resolve("metrics.yaml").toString
    val configLoadS = (0 until 3).map(_ => Clock.timed(ConfigLoader.fromFile(yaml))._2)
    val defs = ConfigLoader.fromFile(yaml).map(_.definition)
    def scan = spark.read.format("text").load(source.toString).select(col("value").cast("binary").as("raw"))
    def parsed = Ingest.parseSchemaless(scan, "raw")
      .withColumn("ts", timestamp_millis(try_element_at(col("msg"), lit("ts")).cast("long")))
    def gated = parsed.filter(defs.map(d => FilterCompiler.compileSchemaless(d.filters, col("msg"))).reduce(_ || _))
    def points = LogsToMetrics(defs, LogsToMetrics.Schemaless("msg"))(parsed)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def time(name: String)(f: => Unit): Double = tracer.span(s"prefix.$name") { Clock.timed(f)._2 }
    val times = Seq("scan" -> (() => noop(scan)), "parse" -> (() => noop(parsed)), "filter" -> (() => noop(gated)))
      .map { case (n, f) => n -> Seq(time(n)(f())) }.toMap
    spark.sparkContext.setJobGroup("prefix.pipeline", "pipeline", interruptOnCancel = false)
    val pipeline = Seq(time("pipeline")(noop(points)))
    spark.sparkContext.clearJobGroup()
    val fanout = Plans.metric(phases.last.get._1.executedPlan, _ == "Generate", "numOutputRows")
    val cached = points.persist()
    cached.count()
    val export = (0 until 3).map(_ =>
      time("export")(MetricsSink.writeBatch(MetricsSink.formatted(cached), _ => new NullSink)))
    cached.unpersist()
    val anyMatch = gated.count()
    counters.settle()
    val g = counters.group("prefix.pipeline")
    Map("times" -> (times ++ Map("pipeline" -> pipeline, "export" -> export)),
      "config_load_s" -> configLoadS, "rows_any_match" -> anyMatch, "fanout_rows" -> fanout,
      "shuffle_bytes" -> g.shuffleBytes.get, "shuffle_records" -> g.shuffleRecords.get,
      "spill_bytes" -> g.spillBytes.get)
  }
}
