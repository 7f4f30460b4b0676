"""Seeded input generators and engine-free oracles for the benchmark.

Every generator takes a seed and returns the inputs together with the
expected results, tallied from the values it encoded: the engine's outputs
are checked against these, never against the engine itself.

The row-at-a-time functions (decode_cascade, parse_message, matches,
labels_of, Tally) state the reference pipeline's semantics in its
schemaless mode; the stream generator tallies with a vectorised equivalent,
and the tests hold the two equal.
"""
import json
import os

import numpy as np
import pandas as pd

EPOCH_MS = 1704067200000  # 2024-01-01T00:00:00Z, a multiple of every window size

# ---------------------------------------------------------------- semantics


def decode_cascade(raw):
    """First charset of the reference cascade that decodes strictly; None if none."""
    for cs in ("utf-8", "shift_jis", "euc_jp", "iso2022_jp"):
        try:
            return raw.decode(cs)
        except UnicodeDecodeError:
            pass
    return None


def parse_message(raw):
    """Schemaless parse: every top-level JSON value as a string, or None."""
    text = decode_cascade(raw)
    if text is None:
        return None
    try:
        doc = json.loads(text)
    except ValueError:
        return None
    if not isinstance(doc, dict):
        return None
    return {k: v if isinstance(v, str) else json.dumps(v) for k, v in doc.items()}


def _as_double(s):
    try:
        return float(s)
    except (TypeError, ValueError):
        return None


def matches(msg, conds):
    """Conjunction of filter conditions over a string map (schemaless mode)."""
    for c in conds:
        v = msg.get(c["field"])
        op, want = c["operator"], c["value"]
        if op == "equals":
            ok = v == want
        elif op == "contains":
            ok = v is not None and want in v
        elif op in ("greater_than", "less_than"):
            x = _as_double(v)
            ok = x is not None and (x > float(want) if op == "greater_than" else x < float(want))
        else:
            ok = False
        if not ok:
            return False
    return True


def labels_of(msg, d):
    """Static labels overlaid by dynamic ones; a missing field reads as ""."""
    labels = dict(d.get("labels", {}))
    for name, field in d.get("dynamic_labels", {}).items():
        labels[name] = msg.get(field) or ""
    return labels


class Tally:
    """Expected points {(metric, window end ms, labels): value} from parsed
    messages; SUM reads a missing field as 0."""

    def __init__(self, defs):
        self.defs = defs
        self.points = {}

    def add(self, msg, ts_ms):
        for d in self.defs:
            if not matches(msg, d["filters"]):
                continue
            w = d["window"] * 1000
            key = (d["name"], ts_ms - ts_ms % w + w, tuple(sorted(labels_of(msg, d).items())))
            v = 1.0 if d["type"] == "count" else (_as_double(msg.get(d["field"])) or 0.0)
            self.points[key] = self.points.get(key, 0.0) + v


def to_yaml(defs):
    """The metrics config as graft.model.ConfigLoader reads it (JSON is YAML)."""
    out = []
    for d in defs:
        e = {"name": d["name"], "type": d["type"], "labels": d.get("labels", {}),
             "dynamic_labels": d.get("dynamic_labels", {}),
             "filter-conditions": d["filters"], "window-size": d["window"],
             "export_type": "local"}
        if "field" in d:
            e["field"] = d["field"]
        out.append(e)
    return json.dumps({"metrics": out}, ensure_ascii=False, indent=1)


# ---------------------------------------------------------------- vectorised tally


def _mask(cols, conds):
    """Filter conditions over column arrays, as the schemaless mode applies
    them. Strings are object arrays with None for missing; JSON numbers are
    float arrays with NaN for missing (the engine try-casts their string
    form, which gives the same double)."""
    n = len(next(iter(cols.values())))
    m = np.ones(n, dtype=bool)
    for c in conds:
        col, op, want = cols.get(c["field"]), c["operator"], c["value"]
        if col is None:
            return np.zeros(n, dtype=bool)
        numeric = col.dtype.kind == "f"
        if op == "equals" and not numeric:
            m &= col == want
        elif op == "contains" and not numeric:
            m &= pd.Series(col).str.contains(want, regex=False, na=False).to_numpy()
        elif op in ("greater_than", "less_than") and numeric:
            with np.errstate(invalid="ignore"):
                m &= (col > float(want)) if op == "greater_than" else (col < float(want))
        else:
            raise ValueError(f"no vectorised form for {c}")
    return m


def tally(cols, ts_ms, d):
    """One definition's expected points {(metric, window end ms, labels): value}."""
    m = _mask(cols, d["filters"])
    w = d["window"] * 1000
    ts = ts_ms[m]
    dyn = sorted(d.get("dynamic_labels", {}).items())
    frame = pd.DataFrame({"end": ts - ts % w + w})
    for i, (_, field) in enumerate(dyn):
        src = cols.get(field)
        v = np.full(m.sum(), "", dtype=object) if src is None else src[m]
        frame[f"l{i}"] = np.where(pd.isna(v), "", v).astype(object)
    if d["type"] == "count":
        frame["v"] = 1.0
    else:
        src = cols.get(d["field"])
        v = np.full(m.sum(), np.nan) if src is None else np.asarray(src[m], dtype=float)
        frame["v"] = np.nan_to_num(v, nan=0.0) if d["type"] == "sum" else v
    g = frame.groupby(["end"] + [f"l{i}" for i in range(len(dyn))], sort=False)["v"]
    out = {"count": g.sum, "sum": g.sum, "min": g.min, "max": g.max}[d["type"]]()
    static = d.get("labels", {})
    points = {}
    for key, v in out.items():
        key = key if isinstance(key, tuple) else (key,)
        labels = dict(static)
        labels.update((name, val) for (name, _), val in zip(dyn, key[1:]))
        points[(d["name"], int(key[0]), tuple(sorted(labels.items())))] = float(v)
    return points


# ---------------------------------------------------------------- stream_json

STREAM_RATE = 5000           # offered events per second, fixed for every run
STREAM_TRIGGER_MS = 2000
STREAM_DELAY_MS = 2000       # watermark delay
STREAM_WARM_SECONDS = 4
STREAM_STEADY_FIRST_SECOND = 10  # on a 10 s window boundary, so steady data alone closes 10 s windows
STREAM_BURSTS = 3
STREAM_BURST_SECONDS = 16
STREAM_BURST_GAP_MS = 4000
STREAM_LATE_SHARE = 0.005
STREAM_LATE_BEHIND_S = 90    # late events are this far behind their file
STREAM_CLOSE_AHEAD_S = 14   # a burst's closing event is this far past its last second
STREAM_FAIL_METRIC = "slow_requests"
STREAM_FAIL_PREFIX = "custom.googleapis.com/"

STREAM_DEFS = [
    {"name": "events_total", "type": "count", "window": 2,
     "filters": [{"field": "seq", "value": "-1", "operator": "greater_than"}]},
    {"name": "errors_by_region", "type": "count", "window": 2, "labels": {"env": "bench"},
     "dynamic_labels": {"region": "region"},
     "filters": [{"field": "severity", "value": "ERROR", "operator": "equals"}]},
    {"name": "request_bytes", "type": "sum", "field": "bytes", "window": 2,
     "dynamic_labels": {"region": "region", "host": "host"},
     "filters": [{"field": "message", "value": "request", "operator": "contains"}]},
    {"name": "slow_requests", "type": "count", "window": 10, "dynamic_labels": {"region": "region"},
     "filters": [{"field": "response_time", "value": "800", "operator": "greater_than"}]},
    {"name": "fast_bytes", "type": "sum", "field": "bytes", "window": 10, "labels": {"tier": "fast"},
     "filters": [{"field": "response_time", "value": "100", "operator": "less_than"}]},
    {"name": "jp_messages", "type": "count", "window": 10, "dynamic_labels": {"host": "host"},
     "filters": [{"field": "message", "value": "テスト", "operator": "contains"}]},
]

_MESSAGES = ["request served", "request failed", "database connection failed", "cache miss",
             "user login"]
_SEVERITIES = ["ERROR", "WARN", "INFO", "DEBUG"]
# legacy-charset payloads: Shift_JIS, and EUC-JP text that Shift_JIS rejects,
# so the cascade reaches its third charset
_LEGACY = [("テスト", "shift_jis"), ("遅延", "euc_jp")]
MALFORMED = [b"invalid json data", b"\xff\xff\xff"]


def stream_second(rng, second, n, seq0, late_share):
    """One second of messages. Returns (lines, columns of the valid on-time
    events as the engine will parse them, counts by kind)."""
    draw = rng.random(n)
    bad = draw < 0.01
    late = ~bad & (draw < 0.01 + late_share)
    legacy = draw > 0.97
    sev = rng.choice(4, n, p=[0.1, 0.2, 0.6, 0.1])
    region = rng.integers(0, 10, n)
    host = rng.integers(0, 5, n)
    msg = rng.choice(len(_MESSAGES), n, p=[0.5, 0.1, 0.1, 0.2, 0.1])
    nbytes = rng.integers(0, 10000, n)
    has_bytes = legacy | (rng.random(n) >= 0.1)
    has_host = ~legacy | (np.arange(n) % 4 < 2)
    rt = rng.integers(1, 1000, n)
    ts = EPOCH_MS + (second - np.where(late, STREAM_LATE_BEHIND_S, 0)) * 1000 + rng.integers(0, 1000, n)
    seq = seq0 + np.arange(n)
    lines = []
    for i, (b, lg, s, r, h, mi, nb, hb, hh, t, q, tt) in enumerate(zip(
            bad.tolist(), legacy.tolist(), sev.tolist(), region.tolist(), host.tolist(), msg.tolist(),
            nbytes.tolist(), has_bytes.tolist(), has_host.tolist(), rt.tolist(), seq.tolist(), ts.tolist())):
        if b:
            lines.append(MALFORMED[i % 2])
            continue
        text, enc = _LEGACY[i % 2] if lg else (_MESSAGES[mi], "utf-8")
        parts = [f'{{"seq": {q}, "ts": {tt}, "severity": "{"ERROR" if lg else _SEVERITIES[s]}", "region": "r{r}"']
        if hh:
            parts.append(f', "host": "h{h}"')
        parts.append(f', "message": "{text}"')
        if hb:
            parts.append(f', "bytes": {nb}')
        parts.append(f', "response_time": {t}}}')
        lines.append("".join(parts).encode(enc))
    ok = ~bad & ~late
    legacy_text = np.array([decode_cascade(t.encode(e)) for t, e in _LEGACY], dtype=object)
    message = np.where(legacy, legacy_text[np.arange(n) % 2], np.array(_MESSAGES, dtype=object)[msg])
    cols = {
        "seq": seq.astype(float),
        "severity": np.where(legacy, "ERROR", np.array(_SEVERITIES, dtype=object)[sev]).astype(object),
        "region": np.char.add("r", region.astype(str)).astype(object),
        "host": np.where(has_host, np.char.add("h", host.astype(str)).astype(object), None),
        "message": message.astype(object),
        "bytes": np.where(has_bytes, nbytes, np.nan).astype(float),
        "response_time": rt.astype(float),
    }
    cols = {k: v[ok] for k, v in cols.items()}
    counts = {"bad": int(bad.sum()), "late": int(late.sum()), "ok": int(ok.sum())}
    return lines, cols, ts[ok], counts


def stream_tally(cols, ts_ms):
    """{(metric, window end ms, labels tuple): value} for on-time valid events."""
    points = {}
    for d in STREAM_DEFS:
        points.update(tally(cols, ts_ms, d))
    return points


def closing_event(seq, second):
    """One event at `second`, which moves the watermark to `second` minus the
    delay. Only events that match some definition reach a query's watermark,
    so it matches one definition of each window size (events_total,
    slow_requests). Returns (line, columns as the engine will parse them)."""
    line = json.dumps({"seq": seq, "ts": EPOCH_MS + second * 1000, "response_time": 999}).encode()
    none = np.array([None], dtype=object)
    cols = {"seq": np.array([float(seq)]), "severity": none, "region": none, "host": none, "message": none,
            "bytes": np.array([np.nan]), "response_time": np.array([999.0])}
    return line, cols


def gen_stream(seed, seconds, out_dir):
    """Files of one message per line, one file per event-time second, the
    landing plan, and the expected results. Event time runs warm-up, steady
    phase, then bursts, each followed by its closing event. The last closing
    event's windows stay open."""
    rng = np.random.default_rng(seed)
    files_dir = os.path.join(out_dir, "files")
    os.makedirs(files_dir, exist_ok=True)
    counts = {"rows_in": 0, "bad": 0, "late": 0, "ok": 0, "flush": 0}
    all_cols, all_ts = [], []
    file_rows = {}
    second = STREAM_STEADY_FIRST_SECOND - STREAM_WARM_SECONDS

    def emit(n_sec, late_share):
        nonlocal second
        names = []
        for _ in range(n_sec):
            lines, cols, ts, c = stream_second(rng, second, STREAM_RATE, counts["rows_in"], late_share)
            name = f"{second:05d}.json"
            with open(os.path.join(files_dir, name), "wb") as f:
                f.write(b"\n".join(lines) + b"\n")
            names.append(name)
            file_rows[name] = len(lines)
            counts["rows_in"] += len(lines)
            for k, v in c.items():
                counts[k] += v
            all_cols.append(cols)
            all_ts.append(ts)
            second += 1
        return names

    warm = emit(STREAM_WARM_SECONDS, 0.0)
    steady = emit(seconds, STREAM_LATE_SHARE)
    bursts = []
    for b in range(STREAM_BURSTS):
        first = second
        files = emit(STREAM_BURST_SECONDS, STREAM_LATE_SHARE)
        close_s = second + STREAM_CLOSE_AHEAD_S
        line, cols = closing_event(counts["rows_in"], close_s)
        name = f"{close_s:05d}.json"
        with open(os.path.join(files_dir, name), "wb") as f:
            f.write(line + b"\n")
        file_rows[name] = 1
        counts["rows_in"] += 1
        if b == STREAM_BURSTS - 1:
            counts["flush"] += 1
        else:  # closed by the next burst's events
            counts["ok"] += 1
            all_cols.append(cols)
            all_ts.append(np.array([EPOCH_MS + close_s * 1000]))
        bursts.append({"first_second": first, "end_second": second, "files": files + [name],
                       "watermark_ms": EPOCH_MS + close_s * 1000 - STREAM_DELAY_MS})
        second = close_s + 1
    cols = {k: np.concatenate([c[k] for c in all_cols]) for k in all_cols[0]}
    points = stream_tally(cols, np.concatenate(all_ts))
    with open(os.path.join(out_dir, "metrics.yaml"), "w", encoding="utf-8") as f:
        f.write(to_yaml(STREAM_DEFS))
    with open(os.path.join(out_dir, "params.json"), "w") as f:
        json.dump({
            "trigger_ms": STREAM_TRIGGER_MS, "watermark_delay_ms": STREAM_DELAY_MS,
            "warm_files": warm, "steady_files": steady,
            "bursts": [{k: b[k] for k in ("files", "watermark_ms")} for b in bursts],
            "burst_gap_ms": STREAM_BURST_GAP_MS, "fail_metric": STREAM_FAIL_METRIC,
        }, f)
    return {"points": points, "counts": counts, "steady_first_second": STREAM_STEADY_FIRST_SECOND,
            "steady_seconds": seconds, "burst_rows": STREAM_BURST_SECONDS * STREAM_RATE,
            "bursts": [{k: b[k] for k in ("first_second", "end_second")} for b in bursts],
            "file_rows": file_rows}


# ---------------------------------------------------------------- query_sample

QUERY_STRIDE = 64
QUERY_SF = 0.001
WORDS = ("a the row query stream fast spark line small customer group value hash batch sort "
         "data big filter dup key agg scan slow table part merge window order column join "
         "vector").split()


def gen_tables(rng, sf, out_dir):
    """The declared queries' ten tables, shaped like the repository's
    TESTDATA tables at scale factor `sf`."""
    os.makedirs(out_dir, exist_ok=True)

    def n(base):
        return max(1, int(round(base * sf)))

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def days(start, end, k):
        lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
        d = lo + rng.integers(0, (hi - lo).astype(int) + 1, k).astype("timedelta64[D]")
        return d.astype("datetime64[us]")

    def pick(words, k):
        return np.array(words)[rng.integers(0, len(words), k)]

    def save(name, cols):
        pd.DataFrame(cols).to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

    save("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc, ns, npt, no, nl, ne = n(150000), n(10000), n(200000), n(1500000), n(6000000), n(1000000)
    save("customer", {
        "c_custkey": np.arange(nc), "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], nc)})
    save("supplier", {
        "s_suppkey": np.arange(ns), "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    adj, noun = "small red blue hot old new cold large".split(), "ring widget bolt gear gizmo anvil plate rod".split()
    save("part", {
        "p_partkey": np.arange(npt),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adj, npt), pick(noun, npt))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npt)],
        "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], npt),
        "p_size": rng.integers(1, 51, npt).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npt) % 1000) / 10, 1)})
    save("orders", {
        "o_orderkey": np.arange(no), "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": pick(["P", "O", "F"], no), "o_totalprice": money(1000, 500000, no),
        "o_orderdate": days("1995-01-01", "2001-08-01", no),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)})
    save("lineitem", {
        "l_orderkey": rng.integers(0, no, nl), "l_partkey": rng.integers(0, npt, nl),
        "l_suppkey": rng.integers(0, ns, nl), "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(float), "l_extendedprice": money(900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0, "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], nl), "l_linestatus": pick(["O", "F"], nl),
        "l_shipdate": days("1995-01-02", "2001-11-04", nl)})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, ne)).astype("timedelta64[us]")
    save("events", {
        "event_id": np.arange(ne), "ts": (start + offsets).astype("datetime64[ns]"),
        "user_id": rng.integers(0, max(15, ne // 67), ne),
        "event_type": pick(["click", "signup", "error", "view", "purchase"], ne),
        "value": np.clip(np.round(rng.exponential(50, ne), 2), 0.01, None),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = 500 if sf <= 0.01 else n(50000)
    texts = [" ".join(pick(WORDS, k)) for k in rng.integers(10, 100, nd)]
    save("documents", {
        "doc_id": np.arange(nd), "text": texts,
        "lang": np.array(["en", "es", "zh", "de", "fr"])[rng.choice(5, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(nd)], "n_chars": np.array([len(t) for t in texts])})
    nv = 500 if sf <= 0.01 else n(20000)
    v = rng.normal(size=(nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    save("embeddings", {"vec_id": np.arange(nv), "embedding": list(v),
                        "label": rng.integers(0, 10, nv).astype(np.int32)})


def gen_queries(seed, out_dir):
    """Tables for the sampled queries."""
    gen_tables(np.random.default_rng(seed), QUERY_SF, os.path.join(out_dir, "tables"))
    with open(os.path.join(out_dir, "params.json"), "w") as f:
        json.dump({"stride": QUERY_STRIDE}, f)
    return {"tables": os.path.join(out_dir, "tables")}
