package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Reads the parameters perfbench/run.py wrote next to the generated inputs. */
object Inputs {
  type Params = java.util.Map[String, Object]
  def readJson(p: Path): Params =
    new ObjectMapper().readValue(Files.readString(p), classOf[java.util.Map[String, Object]])
  private def get(p: Params, k: String): Object =
    Option(p.get(k)).getOrElse(throw new IllegalArgumentException(s"missing parameter $k"))
  def long(p: Params, k: String): Long = get(p, k).asInstanceOf[Number].longValue
  def str(p: Params, k: String): String = get(p, k).toString
  def strings(p: Params, k: String): Seq[String] =
    get(p, k).asInstanceOf[java.util.List[Object]].asScala.toSeq.map(_.toString)
  def objects(p: Params, k: String): Seq[Params] =
    get(p, k).asInstanceOf[java.util.List[Params]].asScala.toSeq
}

/** Runs one workload over inputs generated by perfbench/run.py and writes
  * the raw measurements as JSON; run.py checks them and derives metrics.
  *
  * Usage: perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <cpus> <out.json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, in, wk, seconds, trace, cpus, out) = args
    val (inputs, work) = (Paths.get(in), Paths.get(wk))
    val traced = trace == "1"
    val tracer = new Tracer(traced, s"$workload-${System.currentTimeMillis}")
    val result = workload match {
      case "stream_json"  => StreamJson.run(inputs, work, cpus.toInt, traced, tracer)
      case "query_sample" => QuerySample.run(inputs, work, cpus.toInt, traced, tracer)
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Json.write(Paths.get(out), result ++ Map(
      "spans" -> tracer.toJson,
      "jvm" -> Map("gc_s" -> Jvm.gcSeconds, "heap_peak_mb" -> Jvm.heapPeakMb, "peak_rss_mb" -> Jvm.peakRssMb)))
  }
}
