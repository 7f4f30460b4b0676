package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.ext.Memo
import org.apache.spark.sql.SparkSession

/** A fixed sample of the declared query surface over tiny tables: a warm
  * pass writes each query's result for the oracle check, then timed passes
  * run each query to a noop write. With little data per query, query
  * planning, eager materialisations and partition counts dominate its wall.
  */
object QuerySample {
  private val Passes = 2

  /** Registry object of each declared query; queries in none of these are
    * SparkEntry's own.
    */
  private def families: Seq[(String, Set[String])] = Seq(
    "StreamParityQueries" -> graft.StreamParityQueries.queries.keySet,
    "RelationalTpchQueries" -> graft.ext.RelationalTpchQueries.queries.keySet,
    "RelationalScaleQueries" -> graft.ext.RelationalScaleQueries.queries.keySet,
    "RelationalStatsQueries" -> graft.ext.RelationalStatsQueries.queries.keySet,
    "RelationalInferenceQueries" -> graft.ext.RelationalInferenceQueries.queries.keySet,
    "RelationalTsQueries" -> graft.ext.RelationalTsQueries.queries.keySet,
    "RelationalForecastQueries" -> graft.ext.RelationalForecastQueries.queries.keySet,
    "TextQueries" -> graft.ext.TextQueries.queries.keySet,
    "TextEvalQueries" -> graft.ext.TextEvalQueries.queries.keySet,
    "DedupQueries" -> graft.ext.DedupQueries.queries.keySet,
    "SimilarityQueries" -> graft.ext.SimilarityQueries.queries.keySet,
    "MultimodalQueries" -> graft.ext.MultimodalQueries.queries.keySet,
    "CurationQueries" -> graft.ext.CurationQueries.queries.keySet,
    "GraphQueries" -> graft.ext.GraphQueries.queries.keySet,
    "Bpe" -> graft.ext.Bpe.queries.keySet)

  def family(name: String): String =
    families.collectFirst { case (f, names) if names(name) => f }.getOrElse("SparkEntry")

  /** Every `stride`-th declared query in sorted name order. */
  def sample(stride: Int): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }

  def run(dir: Path, work: Path, cpus: Int, trace: Boolean, tracer: Tracer): Map[String, Any] = {
    val params = Inputs.readJson(dir.resolve("params.json"))
    val names = sample(Inputs.long(params, "stride").toInt)
    val tables = dir.resolve("tables").toString
    val results = work.resolve("results")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    val t0 = System.nanoTime()
    val spark = Sessions.build("bench", cpus, work)
    // the warm pass writes each result for the oracle check, outside the
    // timed pass
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(name).toString)
      catch { case e: Throwable => failures += s"$name (warm): ${e.getMessage}".take(300) }
    }
    // every pass builds its own memoised intermediates: the eager jobs that
    // build them are part of each query's measured cost
    Memo.releaseDir(spark, tables)
    val setupS = (System.nanoTime() - t0) / 1e9

    val counters = new TaskCounters
    spark.sparkContext.addSparkListener(counters)
    val phases = new PhaseListener
    spark.listenerManager.register(phases)
    // a query's figures are those of its faster pass, as graft.Bench takes them
    val passes = (0 until Passes).map { rep =>
      val pass = names.map { name =>
        val group = s"q$rep:$name"
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
        phases.last.set(null)
        val start = Clock.nowMs
        var actionAt = start
        val ok =
          try {
            val df = tracer.span("surface.build") { SparkEntry.queries(name)(spark, tables) }
            actionAt = Clock.nowMs
            tracer.span("surface.action") { df.write.format("noop").mode("overwrite").save() }
            true
          } catch { case e: Throwable => failures += s"$name: ${e.getMessage}".take(300); false }
        val end = Clock.nowMs
        spark.sparkContext.clearJobGroup()
        name -> Map("ok" -> ok, "wall_s" -> (end - start) / 1e3, "build_s" -> (actionAt - start) / 1e3,
          "action_at_ms" -> actionAt, "group" -> group, "family" -> family(name), "phases" -> phases.phases())
      }.toMap
      Memo.releaseDir(spark, tables)
      pass
    }
    val perQuery = names.map { n =>
      n -> passes.map(_(n)).minBy(_("wall_s").asInstanceOf[Double])
    }
    counters.settle()
    val withTasks = perQuery.map { case (name, m) =>
      val g = counters.group(m("group").toString)
      val actionAt = m("action_at_ms").asInstanceOf[Double]
      val eager = g.jobStarts.asScala.toSeq.filter(_._2 < actionAt)
      val eagerS = eager.map { case (id, at) => Option(g.jobEnds.get(id)).map(e => (e - at) / 1e3).getOrElse(0.0) }.sum
      name -> (m ++ Map("eager_jobs" -> eager.size, "eager_s" -> eagerS, "stages" -> g.stages.get,
        "tasks" -> g.tasks.get, "single_task_stages" -> g.singleTaskStages.get,
        "shuffle_bytes" -> g.shuffleBytes.get, "spill_bytes" -> g.spillBytes.get))
    }
    graft.ext.Dedup.Intermediate.dropBucketedTables(spark, sweepStragglers = true)
    spark.stop()
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Json.write(work.resolve("oracle_sql.json"), oracle)
    Map("setup_s" -> setupS, "passes" -> Passes, "queries" -> withTasks.toMap,
      "failures" -> failures.toSeq,
      "results_dir" -> results.toString, "oracle_file" -> work.resolve("oracle_sql.json").toString)
  }
}
