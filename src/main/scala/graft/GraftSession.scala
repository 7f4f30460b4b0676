package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session configuration every entry point runs on: the CLI
  * ([[Main]]), the correctness dump ([[Verify]]), the benches and the
  * tests. The configuration the CLI ships is the one the bench times and
  * the tests pin; the only input is the core count, a deployment setting.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available core. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = GraftSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Split-size the single-file driver fixtures to the core count: the
      // defaults (128 MB partitions, 4 MB open cost) hand a one-file
      // 10 MB-compressed events table to 3 of 32 cores — measured 46×
      // instead of ~10× on the JSON-parse-bound q_label_missing at ×10.
      // This is the documented sizing knob (partitions track data ÷
      // executors); a real cluster sizes it to ITS core count the same way.
      .config("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (512L * 1024).toString)
      // ObjectHashAggregate (TypedImperativeAggregate: graft_topk_edges,
      // graft_topk, KMV/CMS sketches) falls back to SORT-based aggregation
      // after 128 distinct keys per partition BY DEFAULT — at x100 the
      // kNN top-k agg sorted its whole 57M-row candidate stream (7.4 GB
      // spill, 3.4x the stage wall). The states are O(k) each, so a
      // 1M-key hash map is a few MB: keep the agg hash-based.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      // Memo/intermediate localCheckpoint blocks are ADVISORY caches: the
      // unified-memory default protects HALF the heap for storage, and the
      // r14 whole-surface x100 run measured later queries' sorts spilling
      // 1-12 GB while early families' (or their OWN upstream's) blocks sat
      // in the protected region. 0.2 lets execution evict cached blocks
      // (MEMORY_AND_DISK - they re-read from disk, once) instead of
      // spilling sort runs; plans and results are unaffected.
      .config("spark.memory.storageFraction", "0.2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
