package graft

import graft.ext.Scale
import org.apache.spark.sql.functions._

/** Skew probe: the declared ×10 record for explicit salting
  * ([[graft.ext.Scale.saltedJoin]]) against the plain shuffle join on a
  * zipf-headed key — the shape AQE's skew-join split leaves alone because
  * the hot partition, while ~50× the median, sits under the 256 MB
  * skewedPartitionThresholdInBytes at this scale (the production incident
  * is the same: a "merely" 100 MB hot key serializes one reduce task while
  * 31 cores idle).
  *
  * Frame: the sf events table replicated ×`SPARK_GRAFT_SKEW_FACTOR`
  * (default 10), key = deterministic zipf-extreme mixture — half the rows
  * on ONE hot key, the rest uniform over 100k cold keys (hash-derived from
  * event_id × replica, so the frame is bit-reproducible). Dim = one row
  * per key; broadcast is disabled for the probe because the 100 TB analog
  * of the dim does not broadcast — that is the regime salting exists for.
  *
  * Emits one JSON line: wall seconds + shuffle/spill bytes for the plain
  * and salted plans, plus the row counts that prove result equality.
  * Recorded in BASELINE.md ("Skew-salted ×10 record").
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_SKEW_FACTOR", "10").toInt).getOrElse(10)
    val spark = GraftSession()
    // the 100 TB analog of the dim does not broadcast; forcing the shuffle
    // join is the point of the probe
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    // zipf-headed ×factor frame: hot key 0 carries ~half the rows, the
    // rest spread uniformly over 100k cold keys; deterministic in
    // (event_id, replica)
    val coldKeys = 100000
    val base = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    val fact = base
      .withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("h", abs(hash(col("event_id"), col("rep")).cast("long")))
      .withColumn("key",
        when(col("h") % 100 < 50, lit(0L)).otherwise(col("h") % coldKeys + 1))
      .select(col("key"), col("value"))
      .localCheckpoint() // freeze the frame: both plans read identical rows
    val dim = spark.range(0, coldKeys + 1).select(
      col("id").as("key"), (col("id") % 7).as("weight"))
      .localCheckpoint()

    val listener = new BytesListener
    spark.sparkContext.addSparkListener(listener)

    def run(name: String)(plan: () => Long): (Double, Long) = {
      val group = s"skew:$name"
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      System.gc()
      val t0 = System.nanoTime()
      val rows = plan()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      (wall, rows)
    }

    // identical downstream work: join fact⋈dim on the skewed key, then a
    // weighted aggregate (the agg output is tiny; the join shuffle is what
    // the probe measures)
    val (plainWall, plainRows) = run("plain") { () =>
      fact.hint("merge").join(dim.hint("merge"), Seq("key"))
        .groupBy(col("key") % 64)
        .agg(sum(col("value") * col("weight")))
        .count()
    }
    val (saltedWall, saltedRows) = run("salted") { () =>
      Scale.saltedJoin(fact, dim, "key", saltBuckets = 16)
        .groupBy(col("key") % 64)
        .agg(sum(col("value") * col("weight")))
        .count()
    }
    listener.settle()
    val (plainSh, plainSp) = listener.totals("skew:plain")
    val (saltedSh, saltedSp) = listener.totals("skew:salted")
    println(
      s"""{"metric":"skew_salted_x$factor","factor":$factor,""" +
        s""""plain":{"sec":$plainWall,"shuffle_bytes":$plainSh,"spill_bytes":$plainSp,"rows":$plainRows},""" +
        s""""salted":{"sec":$saltedWall,"shuffle_bytes":$saltedSh,"spill_bytes":$saltedSp,"rows":$saltedRows},""" +
        s""""sf":"$sfDir"}""")
    spark.stop()
  }
}
