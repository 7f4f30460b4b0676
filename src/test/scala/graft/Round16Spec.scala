package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 optimization pins: the physical shapes and structural counts
  * this round's ×100 measurements rely on (narrow assoc-rules pair
  * aggregate, shared-postings prefix filter with a single-evaluation
  * verification kernel, fanned-out entity-match kernel, 2-micro-batch
  * streaming replays, literal-resolved bootstrap constants). Semantics stay
  * covered by the existing recompute tests + the oracle gate.
  */
class Round16Spec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val SfDir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SfDir).queryExecution.executedPlan.toString
  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q_assoc_rules: the pair join and aggregate run on narrow (tx, item) rows") {
    val p = plan("q_assoc_rules")
    // downward-closure prefilter is a semi join (broadcast at any scale)
    assert(p.contains("LeftSemi"), s"frequent-item prefilter must be a semi join:\n$p")
    // support counts attach to the output-bounded rule frame AFTER the pair
    // aggregate — no aggregate may key on item_cnt (the wide form's 4-long
    // keys; the ×100 probe charged it 996 MB of join-stage spill and a
    // 827.7 MB tx exchange, vs 478 MB / 589.2 MB narrow). The join strategy
    // itself is scale-dependent (broadcast at sf0.001, sort-merge at ×100),
    // so the pin is on the aggregate keys, not the join node.
    val aggKeys = "HashAggregate\\(keys=\\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(aggKeys.nonEmpty, s"expected hash aggregates in the plan:\n$p")
    assert(aggKeys.forall(!_.contains("item_cnt")),
      s"no aggregate may key on item_cnt (narrow pair keys):\n$p")
    assert(!p.contains("SortAggregate"), s"pair counting stays hash-aggregatable:\n$p")
  }

  test("q_dedup_prefix_filter: shared postings, single-evaluation verification kernel") {
    val p = plan("q_dedup_prefix_filter")
    assert(p.contains("graft_shared_postings"),
      s"the prefix filter must read the family-shared posting table:\n$p")
    // exactly 2 kernel occurrences: once in the pushed-down join condition
    // (per candidate pair), once in the surviving pair's projection — the
    // double-occurrence threshold algebra re-substituted the kernel per
    // occurrence (4 total, ×100 verification stage 58.9 s → 25.6 s)
    assert(count(p, "array_intersect") == 2,
      s"the intersection kernel must appear exactly twice:\n$p")
  }

  test("q_entity_match: the Levenshtein kernel stage is fanned out, not one scan task") {
    val p = plan("q_entity_match")
    // the probe side must carry a block-keyed exchange: a dim-sized record
    // table is one parquet file, and without the exchange the broadcast
    // join ran the whole kernel in ONE task (×100: 2.3 s single-task stage)
    assert(p.contains("Exchange hashpartitioning(c_nationkey"),
      s"probe side must repartition on the block keys:\n$p")
  }

  test("bootWeightAt(b) ≡ bootWeight(lit(b)) for every replicate") {
    // the literal-resolved form exists purely to shrink the expression tree
    // (PhaseProbe: 0.82–0.90 → 0.37–0.48 s of per-rep Column construction);
    // the draw must be bit-identical
    val df = (1L to 64L).map(i => (i, i * 37 % 97)).toDF("k", "v")
      .select(col("k"), col("v"),
        graft.ext.Dedup.md5Long(col("k").cast("string")).as("h"))
      .select(col("k"), col("v"),
        col("h").bitwiseAND(lit((1L << 30) - 1)).as("h_lo"),
        shiftright(col("h"), 30).as("h_hi"))
    val reps = 8
    val cols = (0 until reps).flatMap { b =>
      Seq(
        graft.ext.Relational.bootWeight(lit(b), col("h_lo"), col("h_hi"), reps).as(s"w_$b"),
        graft.ext.Relational.bootWeightAt(b, col("h_lo"), col("h_hi"), reps)
          .as(s"wa_$b"))
    }
    val rows = df.select(cols: _*).collect()
    for (r <- rows; b <- 0 until reps)
      assert(r.getInt(2 * b) == r.getInt(2 * b + 1),
        s"replicate $b draw must match between the two forms")
  }

  test("stream replay completes in 2 micro-batches (corpus+sentinel batch, one no-data flush)") {
    val maxBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name != null && e.progress.name.startsWith("stream_replay_"))
          maxBatch.getAndUpdate(m => math.max(m, e.progress.batchId))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      assert(SparkEntry.queries("q_stream_window_parity")(spark, SfDir).count() > 0)
      // listener delivery is async; poll briefly for the last progress event
      var waited = 0
      while (maxBatch.get() < 1L && waited < 10000) { Thread.sleep(200); waited += 200 }
      // delivery is FIFO but may lag: keep polling through a grace period
      // that must see no change, so a still-queued batch-2 event is counted
      val graceEnd = System.nanoTime() + 2000L * 1000 * 1000
      while (maxBatch.get() == 1L && System.nanoTime() < graceEnd) Thread.sleep(100)
      // batch 0 = corpus + pre-landed sentinel; batch 1 = the no-data flush.
      // A batchId ≥ 2 means the sentinel regressed to its own data batch.
      assert(maxBatch.get() == 1L,
        s"replay must run exactly batches 0 and 1, saw max batchId ${maxBatch.get()}")
    } finally spark.streams.removeListener(listener)
  }
}
