#!/usr/bin/env python3
"""The log→metrics benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine together with
the harness (perfbench/build.sbt) into .bench_build/; later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed;
the engine's outputs are checked against the generator's own tally. The
last line of stdout is one JSON object: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). A
traced run also runs the workload untraced first and reports the tracing
overhead, traced minus untraced, per end-to-end metric. Exits non-zero when
any check fails.

Workloads:
  stream_json   open-loop raw JSON bytes through the streaming pipeline
  query_sample  a fixed sample of the declared query surface
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("stream_json", "query_sample")
END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "throughput_per_s": "1/s"}
RUN_BUDGET_S = 170  # every engine run of one invocation, after the build
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build


def source_stamp():
    h = hashlib.sha256()
    for base in ("src/main/scala", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (first run in this checkout)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                             cwd=os.path.join(ROOT, "perfbench"), env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.exit(f"build failed (exit {rc}); see .bench_build/build.log")
    shutil.copy(os.path.join(ROOT, "perfbench", "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


# ---------------------------------------------------------------- running


def calibration_s():
    """A fixed CPU kernel; its time at the start and end of a run bounds host noise."""
    t = time.perf_counter()
    x = 0
    for i in range(1_500_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def prepare(workload, seed, seconds):
    """Generate (or reuse) the seed's inputs; returns (dir, expected)."""
    with open(inputs.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{seconds}-{version}")
    done = os.path.join(d, "expected.pickle")
    if os.path.exists(done):
        with open(done, "rb") as f:
            return d, pickle.load(f)
    shutil.rmtree(d, ignore_errors=True)
    if workload == "stream_json":
        expected = inputs.gen_stream(seed, seconds, d)
    else:
        expected = inputs.gen_queries(seed, d)
    with open(done, "wb") as f:
        pickle.dump(expected, f)
    return d, expected


def run_jvm(cp, workload, in_dir, seconds, trace, deadline):
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    # one core stays free for the JVM's compiler and collector threads and
    # the landing thread, so they do not take turns with the engine's tasks
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, in_dir, work, str(seconds), str(trace), str(cpus), out]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        log(f"{workload} JVM failed ({rc}):\n{tail}")
        return None, work
    with open(out) as f:
        return json.load(f), work


# ---------------------------------------------------------------- checks and metrics


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def check(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)

    def count(self, attempted, failed, what):
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.notes.append(f"{what}: {failed} of {attempted}")


def progress_records(res):
    out = []
    for p in res["progress"]:
        j = json.loads(p["json"])
        j["_query"], j["_at_ms"] = p["query"], p["at_ms"]
        out.append(j)
    return out


def p50(xs):
    return stats.median(xs) if xs else 0.0


def self_times(spans, name=None):
    """Self time of each span (its duration minus the part its children
    cover), in seconds; only spans called `name` when given."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        if name is not None and s["name"] != name:
            continue
        covered, edge = 0.0, s["start_ms"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], edge), min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out.append((s["end_ms"] - s["start_ms"] - covered) / 1000.0)
    return out


def self_time_by_name(spans):
    totals = {}
    for s, t in zip(spans, self_times(spans)):
        totals[s["name"]] = totals.get(s["name"], 0.0) + t
    return totals


def stream_metrics(res, exp, chk, trace):
    counts = exp["counts"]
    first, secs = exp["steady_first_second"], exp["steady_seconds"]
    recs = [line.split("\t") for line in open(res["points_file"], encoding="utf-8").read().splitlines()]
    got = {"local": {}, "monitoring": {}}
    recv = {}  # (target, point key) -> receive time
    dup = 0
    for target, metric, end, labels, value, at in recs:
        name = metric[len(inputs.STREAM_FAIL_PREFIX):] if target == "monitoring" else metric
        lab = tuple(tuple(kv.split("=", 1)) for kv in labels.split(",")) if labels else ()
        key = (name, int(end), lab)
        if key in got[target]:
            dup += 1
        got[target][key] = float(value)
        recv[(target, key)] = float(at)
    for target in ("local", "monitoring"):
        want = {k: v for k, v in exp["points"].items()
                if target == "local" or k[0] != inputs.STREAM_FAIL_METRIC}
        bad = sum(1 for k, v in want.items() if got[target].get(k) != v)
        extra = sum(1 for k in got[target] if k not in want)
        chk.count(len(want), bad + extra, f"{target} points wrong or missing")
    chk.check(dup == 0, f"{dup} points delivered twice")
    n_fail = sum(1 for k in exp["points"] if k[0] == inputs.STREAM_FAIL_METRIC)
    chk.check(res["export_failures"] == n_fail,
              f"export failures {res['export_failures']} != {n_fail}")
    chk.check(res["drained"], "stream did not drain within its deadline")
    late_p99 = max(res["generator_late_s"])
    chk.check(late_p99 < 0.25, f"generator fell behind schedule by {late_p99:.3f} s")

    progress = progress_records(res)
    q0 = [p for p in progress if p["_query"] == "window0"]
    obs = {}
    for p in q0:
        for name, row in p.get("observedMetrics", {}).items():
            for k, v in row.items():
                obs[k] = obs.get(k, 0) + (v or 0)
    aggregated = sum(v for (m, _, _), v in got["local"].items() if m == "events_total")
    parsed = obs.get("rows_parsed", 0)
    # rows_in = dropped + late + aggregated + pending (the final event, whose window stays open)
    late_events = parsed - aggregated - counts["flush"]
    chk.check(obs.get("rows_in") == counts["rows_in"], f"rows_in {obs.get('rows_in')} != {counts['rows_in']}")
    chk.check(obs.get("rows_in", 0) - parsed == counts["bad"],
              f"dropped {obs.get('rows_in', 0) - parsed} != {counts['bad']}")
    chk.check(late_events == counts["late"], f"late {late_events} != {counts['late']}")
    chk.check(aggregated == counts["ok"], f"aggregated {aggregated} != {counts['ok']}")

    # latency samples: every point, as each target receives it, of a window
    # inside the steady phase whose closing event (window end + watermark
    # delay) also lands in it, so the steady data alone emits it
    steady_ms = res["steady_start_ms"]
    last_closed = first + secs - 1 - inputs.STREAM_DELAY_MS // 1000
    lat, windows = [], set()
    for (_, (m, end, _)), at in recv.items():
        end_s = (end - inputs.EPOCH_MS) // 1000
        w = next(d["window"] for d in inputs.STREAM_DEFS if d["name"] == m)
        if end_s - w >= first and end_s < last_closed:
            lat.append((at - (steady_ms + (end_s - first) * 1000)) / 1000.0)
            windows.add((w, end_s))
    # catch-up, the fastest of the bursts (the bursts of a run share its JIT
    # state, and an early burst may still be warming it): a burst's events
    # over the time from its landing to the sink receiving the last window
    # that holds any of them
    win_ms = {d["name"]: d["window"] * 1000 for d in inputs.STREAM_DEFS}
    rates = []
    for b, landed_ms in zip(exp["bursts"], res["burst_landed_ms"]):
        lo, hi = (inputs.EPOCH_MS + b[k] * 1000 for k in ("first_second", "end_second"))
        last = max((at for (_, (m, end, _)), at in recv.items() if end > lo and end - win_ms[m] < hi),
                   default=None)
        rates.append(exp["burst_rows"] / ((last - landed_ms) / 1000.0) if last else 0.0)
    catchup = max(rates)
    e2e = {"setup_s": res["setup_s"], "latency_p50_s": p50(lat),
           "throughput_per_s": catchup}
    p90 = stats.percentile(lat, 90)
    log(f"stream_json: emit latency p50 {p50(lat):.3f} s, p90 {p90} s over {len(lat)} points "
        f"of {len(windows)} windows; "
        f"catch-up {catchup:.0f} events/s (bursts: {', '.join(f'{r:.0f}' for r in rates)}); "
        f"offered {inputs.STREAM_RATE} events/s")
    if not trace:
        return e2e, {}

    # batch timings after set-up: the warm-up batches run in a cold JVM
    data = [p for p in progress if p["numInputRows"] > 0 and p["_at_ms"] > res["setup_end_ms"]]
    dur = lambda k, ps=data: [p["durationMs"].get(k, 0) / 1e3 for p in ps]  # noqa: E731
    fit = stats.linear_fit([p["numInputRows"] for p in data], dur("triggerExecution"))
    steady = [p for p in progress if steady_ms <= p["_at_ms"] <= res["steady_end_ms"]]
    span_s = max(1e-9, (res["steady_end_ms"] - steady_ms) / 1e3)
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    peak_state = {}
    for p in progress:
        for k in ("numRowsTotal", "memoryUsedBytes"):
            if p.get("stateOperators"):
                key = (p["_query"], k)
                peak_state[key] = max(peak_state.get(key, 0), p["stateOperators"][0][k])
    # events waiting in the source directory when a batch of the first query
    # starts in the steady phase, in one-second files at the offered rate
    landed = [(at, exp["file_rows"][name]) for name, at in res["landed"]]
    processed, backlog = 0, 0
    for p in q0:
        start = p["_at_ms"] - p["durationMs"].get("triggerExecution", 0)
        if res["setup_end_ms"] < start < res["burst_landed_ms"][0]:
            waiting = sum(rows for at, rows in landed if at <= start) - processed
            backlog = max(backlog, waiting / inputs.STREAM_RATE)
        processed += p["numInputRows"]
    pre = res["prefix"]
    t = {k: min(v) for k, v in pre["times"].items()}
    ingest_s = t["parse"] - t["scan"]
    rows_in = obs.get("rows_in", 0)
    layers = {
        "ingest.rows_in": rows_in, "ingest.rows_parsed": parsed, "ingest.rows_dropped": rows_in - parsed,
        "ingest.legacy_charset_rows": obs.get("legacy_charset_rows", 0),
        "ingest.busy_s": ingest_s, "ingest.rows_per_s": rows_in / ingest_s if ingest_s > 0 else 0.0,
        "filter.rows_any_match": pre["rows_any_match"],
        "filter.match_ratio": pre["rows_any_match"] / parsed if parsed else 0.0,
        "pipeline.fanout_rows": pre["fanout_rows"],
        "pipeline.fanout_per_row": pre["fanout_rows"] / pre["rows_any_match"] if pre["rows_any_match"] else 0.0,
        "pipeline.busy_s": t["pipeline"] - t["filter"],
        "pipeline.points_out": len(got["local"]),
        "pipeline.shuffle_bytes": pre["shuffle_bytes"], "pipeline.spill_bytes": pre["spill_bytes"],
        "pipeline.shuffle_records_per_fanout_row":
            pre["shuffle_records"] / pre["fanout_rows"] if pre["fanout_rows"] else 0.0,
        "model.config_load_s": p50(pre["config_load_s"]),
        "streaming.batch_fixed_s": fit[0] if fit else 0.0,
        "streaming.marginal_us_per_event": fit[1] * 1e6 if fit else 0.0,
        "streaming.query_planning_s_p50": p50(dur("queryPlanning")),
        "streaming.wal_commit_s_p50": p50(dur("walCommit")),
        "streaming.commit_offsets_s_p50": p50(dur("commitOffsets")),
        "streaming.latest_offset_s_p50": p50(dur("latestOffset")),
        "streaming.trigger_s_p50": p50(dur("triggerExecution")),
        "streaming.add_batch_s_p50": p50(dur("addBatch")),
        # busy share of the steady phase, per query (two queries share it)
        "streaming.busy_fraction": sum(p["durationMs"].get("triggerExecution", 0) for p in steady) / 1e3 / span_s / 2,
        "streaming.state_rows_total": sum(v for (_, k), v in peak_state.items() if k == "numRowsTotal"),
        "streaming.state_memory_bytes": sum(v for (_, k), v in peak_state.items() if k == "memoryUsedBytes"),
        "streaming.state_commit_task_s": sum(s.get("commitTimeMs", 0) for s in state) / 1e3,
        "streaming.late_rows_dropped": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
        "streaming.source_backlog_files_max": backlog,
        "streaming.batches": len(progress),
        "streaming.emit_latency_p90_s": p90 if p90 is not None else 0.0,
        "streaming.emit_latency_samples": len(lat),
        "streaming.emit_latency_windows": len(windows),
        "sinks.points_local": len(got["local"]), "sinks.points_monitoring": len(got["monitoring"]),
        "sinks.export_failures": res["export_failures"],
        "sinks.export_s_p50": p50(pre["times"]["export"]),
        "sinks.commit_marker_s_p50": p50(self_times(res["spans"], "sinks.idempotent")),
        "sinks.replays_skipped": res["foreach_batch_calls"] - res["foreach_batch_bodies"],
        "load.generator_late_p99_s": late_p99, "load.offered_events_per_s": inputs.STREAM_RATE,
    }
    return e2e, layers


def query_metrics(res, exp, chk, trace):
    qs = res["queries"]
    for f in res["failures"]:
        log(f"query failed: {f}")
    chk.count((1 + res["passes"]) * len(qs), len(res["failures"]), "query runs failed")
    oracle_fail = check_oracle(exp["tables"], res["results_dir"], res["oracle_file"])
    chk.count(len(qs), len(oracle_fail), "oracle mismatches")
    for f in oracle_fail:
        log(f"oracle: {f}")
    walls = [q["wall_s"] for q in qs.values()]
    total = sum(walls)
    e2e = {"setup_s": res["setup_s"], "latency_p50_s": p50(walls),
           "throughput_per_s": len(walls) / total}
    log(f"query_sample: {len(qs)} queries, total {total:.3f} s, wall p50 {p50(walls):.3f} s")
    if not trace:
        return e2e, {}
    s = lambda k: sum(q.get(k, 0) for q in qs.values())  # noqa: E731
    ph = lambda k: sum(q["phases"].get(k, 0.0) for q in qs.values())  # noqa: E731
    layers = {
        "surface.build_s": s("build_s"),
        "surface.optimization_s": ph("optimization_s"), "surface.planning_s": ph("planning_s"),
        "surface.execution_s": ph("execution_s"), "surface.eager_jobs": s("eager_jobs"),
        "surface.eager_s": s("eager_s"), "surface.stages": s("stages"), "surface.tasks": s("tasks"),
        "surface.single_task_stages": s("single_task_stages"),
        "surface.shuffle_bytes": s("shuffle_bytes"), "surface.spill_bytes": s("spill_bytes"),
    }
    for q in qs.values():
        key = f"surface.family.{q['family']}_s"
        layers[key] = layers.get(key, 0.0) + q["wall_s"]
    return e2e, layers


def check_oracle(tables_dir, results_dir, oracle_file):
    """Each query's rows against its DuckDB oracle statement, canonicalised
    by tools/check_oracle.py: columns sorted by name, rows sorted."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import TABLES, canon
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    fails = []
    for name, sql in sorted(json.load(open(oracle_file)).items()):
        try:
            got = con.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'")
            got = canon(got.fetchall(), got.columns)
            want = con.sql(sql)
            want = canon(want.fetchall(), want.columns)
        except Exception as e:  # a missing result or a broken statement is a failed check
            fails.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if got != want:
            fails.append(f"{name}: {len(got[0])} rows vs oracle {len(want[0])}")
    return fails


METRICS = {"stream_json": stream_metrics, "query_sample": query_metrics}


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def measure(cp, workload, seed, seconds, trace, deadline):
    """One run: returns (Checks, e2e, layers)."""
    chk = Checks()
    cal0 = calibration_s()
    t0 = time.time()
    in_dir, expected = prepare(workload, seed, seconds)
    t1 = time.time()
    res, work = run_jvm(cp, workload, in_dir, seconds, trace, deadline)
    log(f"{workload}: inputs {t1 - t0:.1f} s, engine run {time.time() - t1:.1f} s")
    if res is None:
        chk.check(False, "workload run failed")
        return chk, None, None
    e2e, layers = METRICS[workload](res, expected, chk, trace)
    cal1 = calibration_s()
    log(f"{workload}: host calibration {cal0:.3f} s at start, {cal1:.3f} s at end; "
        f"peak RSS {res['jvm']['peak_rss_mb']:.0f} MB, GC {res['jvm']['gc_s']:.2f} s")
    if trace:
        layers.update({"jvm.gc_s": res["jvm"]["gc_s"], "jvm.heap_peak_mb": res["jvm"]["heap_peak_mb"],
                       "jvm.peak_rss_mb": res["jvm"]["peak_rss_mb"],
                       "host.calibration_start_s": cal0, "host.calibration_end_s": cal1})
        with open(os.path.join(BUILD, f"spans-{workload}.json"), "w") as f:
            json.dump({"spans": res["spans"], "self_s": self_time_by_name(res["spans"])}, f, indent=1)
        for n, t in sorted(self_time_by_name(res["spans"]).items()):
            log(f"{workload}: span {n} self time {t:.3f} s")
    return chk, e2e, layers


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("no engine sources under src/main/scala/graft: run from the repository root")
    cp = build()
    deadline = time.time() + RUN_BUDGET_S
    chk, e2e, layers = measure(cp, a.workload, a.seed, a.seconds, 0, deadline)
    if a.trace and e2e is not None:
        chk_t, e2e_t, layers = measure(cp, a.workload, a.seed, a.seconds, 1, deadline)
        chk.attempted += chk_t.attempted
        chk.failed += chk_t.failed
        chk.notes += chk_t.notes
        if e2e_t is not None:
            layers.update({f"trace_overhead.{k}": e2e_t[k] - e2e[k] for k in END_TO_END})
    for n in chk.notes:
        log(f"CHECK FAILED: {n}")
    if e2e is None or (a.trace and layers is None):
        print(json.dumps({"correct": False, "attempted": max(1, chk.attempted), "failed": max(1, chk.failed),
                          "metrics": {}}))
        return 1
    if a.trace:
        units = per_layer_names()
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
        metrics["run.failed_fraction"] = {"value": chk.failed / max(1, chk.attempted), "unit": "ratio"}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} failed_fraction = {chk.failed / max(1, chk.attempted):.6g} "
          f"({chk.failed} of {chk.attempted} operations)")
    print(json.dumps({"correct": chk.failed == 0, "attempted": chk.attempted, "failed": chk.failed,
                      "metrics": metrics}))
    return 0 if chk.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
