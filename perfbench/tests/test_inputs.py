"""Tests of the benchmark's input generator and engine-free oracle.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import inputs  # noqa: E402

T0 = inputs.EPOCH_MS  # an instant on every window boundary

DEFS = [
    {"name": "errors", "type": "count", "window": 60, "labels": {"env": "test"},
     "dynamic_labels": {"region": "region_field"},
     "filters": [{"field": "severity", "value": "ERROR", "operator": "equals"}]},
    {"name": "error_bytes", "type": "sum", "field": "bytes", "window": 60,
     "filters": [{"field": "severity", "value": "ERROR", "operator": "equals"}]},
    {"name": "slow_db", "type": "count", "window": 60,
     "filters": [{"field": "message", "value": "database", "operator": "contains"},
                 {"field": "response_time", "value": "100", "operator": "greater_than"}]},
]

# The reference's message shapes (FIXTURES.md): a Shift_JIS message, two
# malformed inputs, a bytes log, a log without the SUM field, and logs with
# and without the dynamic label's field.
CORPUS = [
    (json.dumps({"severity": "ERROR", "message": "test error", "ts": T0 + 1000,
                 "region_field": "us"}).encode(), True),
    (json.dumps({"severity": "ERROR", "message": "テスト", "ts": T0 + 2000},
                ensure_ascii=False).encode("shift_jis"), True),
    (b"invalid json data", False),
    (b"\xff\xff\xff", False),
    (json.dumps({"severity": "ERROR", "bytes": 100, "ts": T0 + 3000, "region_field": "us"}).encode(), True),
    (json.dumps({"severity": "ERROR", "bytes": 250, "ts": T0 + 61000}).encode(), True),
    (json.dumps({"severity": "INFO", "message": "database connection failed", "response_time": 150,
                 "ts": T0 + 4000}).encode(), True),
    (json.dumps({"severity": "INFO", "message": "database connection failed", "response_time": "slow",
                 "ts": T0 + 5000}).encode(), True),
]

# Worked by hand from the rules: missing SUM field counts 0, a missing
# dynamic label reads "", a non-numeric value never passes greater_than.
EXPECTED = {
    ("errors", T0 + 60000, (("env", "test"), ("region", "us"))): 2.0,
    ("errors", T0 + 60000, (("env", "test"), ("region", ""))): 1.0,
    ("errors", T0 + 120000, (("env", "test"), ("region", ""))): 1.0,
    ("error_bytes", T0 + 60000, ()): 100.0,
    ("error_bytes", T0 + 120000, ()): 250.0,
    ("slow_db", T0 + 60000, ()): 1.0,
}


def read(path):
    with open(path, "rb") as f:
        return f.read()


def columns(messages):
    """Parsed messages as the column arrays the vectorised tally reads."""
    fields = sorted({k for m in messages for k in m})
    cols = {}
    for f in fields:
        vals = [m.get(f) for m in messages]
        if f in ("bytes", "response_time"):
            cols[f] = np.array([float(v) if v is not None and v.lstrip("-").isdigit() else np.nan
                                for v in vals])
        else:
            cols[f] = np.array(vals, dtype=object)
    return cols


class FixtureTally(unittest.TestCase):
    def test_parse_drops_only_malformed(self):
        parsed = [inputs.parse_message(raw) is not None for raw, _ in CORPUS]
        self.assertEqual(parsed, [ok for _, ok in CORPUS])
        self.assertEqual(inputs.parse_message(CORPUS[1][0])["message"], "テスト")

    def test_row_tally_matches_hand_count(self):
        t = inputs.Tally(DEFS)
        for raw, _ in CORPUS:
            m = inputs.parse_message(raw)
            if m is not None:
                t.add(m, int(m["ts"]))
        self.assertEqual(t.points, EXPECTED)

    def test_vectorised_tally_matches_hand_count(self):
        msgs = [m for m in (inputs.parse_message(r) for r, _ in CORPUS) if m is not None]
        cols, ts = columns(msgs), np.array([int(m["ts"]) for m in msgs])
        got = {}
        for d in DEFS:
            got.update(inputs.tally(cols, ts, d))
        self.assertEqual(got, EXPECTED)

    def test_euc_jp_reaches_third_charset(self):
        raw = json.dumps({"message": "遅延"}, ensure_ascii=False).encode("euc_jp")
        self.assertEqual(inputs.parse_message(raw)["message"], "遅延")
        with self.assertRaises(UnicodeDecodeError):
            raw.decode("shift_jis")


class StreamGenerator(unittest.TestCase):
    def generate(self, seed, d):
        return inputs.gen_stream(seed, 1, d)

    def test_same_seed_same_bytes_and_tally(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ea, eb = self.generate(7, a), self.generate(7, b)
            self.assertEqual(ea, eb)
            names = sorted(os.listdir(os.path.join(a, "files")))
            self.assertEqual(names, sorted(os.listdir(os.path.join(b, "files"))))
            _, mismatch, errors = filecmp.cmpfiles(os.path.join(a, "files"), os.path.join(b, "files"),
                                                   names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertTrue(filecmp.cmp(os.path.join(a, "params.json"), os.path.join(b, "params.json"),
                                        shallow=False))

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.generate(7, a)
            self.generate(8, b)
            first = json.loads(read(os.path.join(a, "params.json")))["warm_files"][0]
            self.assertFalse(filecmp.cmp(os.path.join(a, "files", first),
                                         os.path.join(b, "files", first), shallow=False))

    def test_tally_equals_row_tally_of_the_files(self):
        with tempfile.TemporaryDirectory() as d:
            exp = self.generate(3, d)
            params = json.loads(read(os.path.join(d, "params.json")))
            t = inputs.Tally(inputs.STREAM_DEFS)
            counts = {"bad": 0, "late": 0, "ok": 0}
            files = params["warm_files"] + params["steady_files"] + [f for b in params["bursts"] for f in b["files"]]
            # the last closing event's windows stay open
            for name in files[:-1]:
                for raw in read(os.path.join(d, "files", name)).split(b"\n")[:-1]:
                    m = inputs.parse_message(raw)
                    if m is None:
                        counts["bad"] += 1
                    elif int(m["ts"]) < inputs.EPOCH_MS + int(name[:5]) * 1000:
                        counts["late"] += 1
                    else:
                        counts["ok"] += 1
                        t.add(m, int(m["ts"]))
            self.assertEqual(t.points, exp["points"])
            self.assertEqual({k: exp["counts"][k] for k in counts}, counts)
            self.assertGreater(counts["late"], 0)

    def test_late_events_are_behind_any_batch_span(self):
        # late events must trail their file by more than the watermark delay
        # plus the widest event-time span one micro-batch can cover (a burst
        # with its closing event)
        span_s = max(inputs.STREAM_BURST_SECONDS + inputs.STREAM_CLOSE_AHEAD_S, inputs.STREAM_WARM_SECONDS)
        self.assertGreater(inputs.STREAM_LATE_BEHIND_S * 1000, inputs.STREAM_DELAY_MS + span_s * 1000)
        # a closing event must close every window of its burst
        self.assertGreater(inputs.STREAM_CLOSE_AHEAD_S * 1000,
                           max(d["window"] for d in inputs.STREAM_DEFS) * 1000 + inputs.STREAM_DELAY_MS)

    def test_bursts_close_in_turn(self):
        with tempfile.TemporaryDirectory() as d:
            exp = inputs.gen_stream(5, 1, d)
            params = json.loads(read(os.path.join(d, "params.json")))
            self.assertEqual(len(params["bursts"]), inputs.STREAM_BURSTS)
            ends = [b["end_second"] for b in exp["bursts"]]
            marks = [b["watermark_ms"] for b in params["bursts"]]
            for end, mark, nxt in zip(ends, marks, exp["bursts"][1:] + [None]):
                # the watermark passes every window of the burst
                self.assertGreaterEqual(mark, inputs.EPOCH_MS + (end + 10 - end % 10) * 1000)
                if nxt is not None:  # and no event of the next burst is behind it
                    self.assertGreater(inputs.EPOCH_MS + nxt["first_second"] * 1000, mark)


if __name__ == "__main__":
    unittest.main()
