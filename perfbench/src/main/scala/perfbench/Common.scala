package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.sinks.{MetricPoint, MetricsSink}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for every timestamp the harness records: wall-clock
  * milliseconds with nanosecond resolution, so landing schedules, trigger
  * alignment and sink receive times compare directly.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def sleepUntil(ms: Double): Unit = {
    var left = ms - nowMs
    while (left > 0) {
      Thread.sleep(math.max(1L, math.min(left.toLong, 50L)))
      left = ms - nowMs
    }
  }
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Spans kept in memory and written out when the run ends. A disabled
  * tracer runs the body and records nothing.
  */
final class Tracer(enabled: Boolean, runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val start = Clock.nowMs
      try body
      finally {
        spans.add(Span(id, parent, name, start, Clock.nowMs))
        stack.set(stack.get.tail)
      }
    }

  def toJson: Seq[Map[String, Any]] =
    spans.asScala.toSeq.sortBy(_.id).map(s =>
      Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

/** Task, stage and job counters per Spark job group, from the public
  * listener bus. Jobs are tagged with the time they started so callers can
  * split "eager" jobs (submitted before an action) from the action's own.
  */
final class TaskCounters extends SparkListener {
  final class Group {
    val tasks = new AtomicLong; val stages = new AtomicLong; val singleTaskStages = new AtomicLong
    val shuffleBytes = new AtomicLong; val shuffleRecords = new AtomicLong
    val spillBytes = new AtomicLong
    val jobStarts = new ConcurrentLinkedQueue[(Int, Double)]()
    val jobEnds = new ConcurrentHashMap[Int, Double]()
  }
  private val groups = new ConcurrentHashMap[String, Group]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val events = new AtomicLong

  def group(g: String): Group = groups.computeIfAbsent(g, _ => new Group)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobGroup.put(js.jobId, g)
      group(g).jobStarts.add(js.jobId -> Clock.nowMs)
      js.stageInfos.foreach { si =>
        stageGroup.put(si.stageId, g)
      }
    }
  }
  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobGroup.get(je.jobId)).foreach(g => group(g).jobEnds.put(je.jobId, Clock.nowMs))
  }
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    Option(stageGroup.get(sc.stageInfo.stageId)).foreach { g =>
      val c = group(g)
      c.stages.incrementAndGet()
      if (sc.stageInfo.numTasks == 1) c.singleTaskStages.incrementAndGet()
    }
  }
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val g = stageGroup.get(te.stageId)
    if (g != null && te.taskMetrics != null) {
      val c = group(g)
      c.tasks.incrementAndGet()
      c.shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
      c.shuffleRecords.addAndGet(te.taskMetrics.shuffleWriteMetrics.recordsWritten)
      c.spillBytes.addAndGet(te.taskMetrics.diskBytesSpilled)
    }
  }

  /** Listener delivery is asynchronous: wait until no event arrives for a
    * short quiet period (bounded).
    */
  def settle(maxMs: Long = 3000): Unit = {
    var prev = -1L
    var waited = 0L
    while (waited < maxMs && events.get != prev) {
      prev = events.get
      Thread.sleep(100); waited += 100
    }
  }
}

/** Phase timings of each successful action, read from the action's own
  * `QueryExecution.tracker`, so no query is planned twice to time it.
  */
final class PhaseListener extends QueryExecutionListener {
  val last = new java.util.concurrent.atomic.AtomicReference[(QueryExecution, Long)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    last.set(qe -> durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** (optimization, planning, execution) seconds of the last action. Its
    * DataFrame was analysed when it was built, so the action's own tracker
    * has no analysis phase.
    */
  def phases(): Map[String, Double] = Option(last.get).map { case (qe, durNs) =>
    val ph = qe.tracker.phases
    def s(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
    Map("optimization_s" -> s("optimization"),
      "planning_s" -> s("planning"), "execution_s" -> durNs / 1e9)
  }.getOrElse(Map.empty)
}

object Plans {
  /** Every operator of an executed plan, through adaptive wrappers and stages. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec        => operators(q.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(operators)
  }

  /** Sum of one SQL metric over the operators whose node name matches. */
  def metric(p: SparkPlan, node: String => Boolean, metric: String): Long =
    operators(p).filter(o => node(o.nodeName)).flatMap(_.metrics.get(metric)).map(_.value).sum
}

/** Points received by the benchmark's sinks. Sinks run inside tasks of a
  * local-mode session, so they reach this object in the same JVM.
  */
object Received {
  final case class Receipt(target: String, point: MetricPoint, atMs: Double)
  val points = new ConcurrentLinkedQueue[Receipt]()
  val exportFailures = new AtomicLong

  def labelText(labels: Map[String, String]): String =
    labels.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
}

/** Records every point with its receive time; fails every point of `failOn`. */
final class RecordingSink(target: String, failOn: Option[String]) extends MetricsSink {
  def write(p: MetricPoint): Unit = {
    if (failOn.contains(p.metricName)) {
      Received.exportFailures.incrementAndGet()
      throw new RuntimeException(s"injected export failure for ${p.metricName}")
    }
    Received.points.add(Received.Receipt(target, p, Clock.nowMs))
  }
}

/** Accepts every point and keeps none: export cost without a destination. */
final class NullSink extends MetricsSink {
  def write(p: MetricPoint): Unit = ()
}

object Sessions {
  /** `main`: the shipped CLI's settings (graft.Main). `bench`: the declared
    * query bench's settings (graft.Bench).
    */
  def build(profile: String, cpus: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
    if (profile == "bench")
      b.config("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
        .config("spark.sql.files.openCostInBytes", (512L * 1024).toString)
        .config("spark.memory.storageFraction", "0.2")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Jvm {
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** The harness's result files, as JSON. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: Path, v: Any): Unit = Files.writeString(path, mapper.writeValueAsString(v) + "\n")
}
