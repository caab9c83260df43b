"""Self-tests of the benchmark's own logic; they need neither Spark nor a
build.

    python3 -m unittest discover -s perfbench/tests
"""
import io
import json
import os
import sys
import statistics
import tempfile
import time
import types
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import numpy as np  # noqa: E402

import check  # noqa: E402
import drivers  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                                   "BENCHMARK.json")))


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 201)]  # 200 samples
        # p95 leaves 10 samples above rank 190; p99 would leave only 2
        self.assertEqual(metrics.tail(xs), (190.0, 95, 10))

    def test_small_samples_fall_back_to_the_median(self):
        v, p, beyond = metrics.tail([5.0, 1.0, 3.0])
        self.assertEqual((v, p, beyond), (3.0, 50, 1))

    def test_order_does_not_matter(self):
        xs = [float(i % 37) for i in range(100)]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_tail_at_least_the_median(self):
        xs = [0.5 + (i * 7919 % 101) / 100.0 for i in range(60)]
        self.assertGreaterEqual(metrics.tail(xs)[0], statistics.median(xs))


def span(i, name, start, end, parent=-1, tag="", failed=False):
    return {"id": i, "name": name, "tag": tag, "start": start, "end": end,
            "parent": parent, "op": 0, "failed": failed}


def job(span_id, start, end, **kw):
    j = {"span": span_id, "start": start, "end": end, "cpu_s": 0.0,
         "shuffle_bytes": 0, "records_read": 0, "records_written": 0,
         "bytes_written": 0, "files_written": 0}
    j.update(kw)
    return j


class SelfTime(unittest.TestCase):
    # op [0, 10): extraction [1, 6) holding stores [2, 3) and [3.5, 5);
    # tables [6, 9)
    SPANS = [span(0, "op.w", 0, 10), span(1, "extraction.runJob", 1, 6, 0),
             span(2, "stores.read", 2, 3, 1), span(3, "stores.write", 3.5, 5, 1),
             span(4, "tables.writeAll", 6, 9, 0, tag="mapping")]

    def test_self_is_wall_minus_children(self):
        s = metrics.self_times(self.SPANS)
        self.assertAlmostEqual(s[0], 10 - 5 - 3)
        self.assertAlmostEqual(s[1], 5 - 1 - 1.5)
        self.assertAlmostEqual(s[2], 1)
        self.assertAlmostEqual(s[4], 3)

    def test_layer_reduction(self):
        jobs = [job(1, 1.2, 1.8, cpu_s=0.5), job(3, 3.6, 4.6, records_read=7),
                job(4, 6.5, 7.5, records_read=100, records_written=90),
                job(4, 7.0, 8.0, bytes_written=4096, files_written=2)]
        m = metrics.layer_metrics(self.SPANS, jobs, {"sql.result_rows": 3})
        self.assertEqual(m["stores.calls"], 2)
        self.assertAlmostEqual(m["extraction.busy_s"], 5)
        self.assertAlmostEqual(m["extraction.self_s"], 2.5)
        # 0.6 s of the extraction span's self time ran inside its job
        self.assertAlmostEqual(m["extraction.outside_jobs_s"], 1.9)
        # overlapping jobs count once: [6.5, 8.0) covers 1.5 of 3 s
        self.assertAlmostEqual(m["tables.outside_jobs_s"], 1.5)
        self.assertAlmostEqual(m["trace.unattributed_s"], 2)
        self.assertEqual(m["mapping.rows_in"], 100)
        self.assertEqual(m["mapping.rows_out"], 90)
        self.assertEqual(m["tables.files_written"], 2)
        self.assertEqual(m["sql.result_rows"], 3)

    def test_union_length_clips(self):
        self.assertAlmostEqual(
            metrics.union_length([(0, 2), (1, 3), (5, 9)], 1, 6), 3)


class Names(unittest.TestCase):
    def test_spec_names_and_limits(self):
        e2e = [m["name"] for m in SPEC["end_to_end"]]
        per = [m["name"] for m in SPEC["per_layer"]]
        names = e2e + per + [w["name"] for w in SPEC["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        self.assertEqual(len(set(e2e + per)), len(e2e + per))
        self.assertLessEqual(len(e2e), 16)
        self.assertLessEqual(len(per), 128)
        self.assertIn("setup_s", e2e)

    def test_spec_matches_reduction(self):
        want = [n for n, _, _ in metrics.per_layer_spec()]
        self.assertEqual([m["name"] for m in SPEC["per_layer"]], want)
        for w in SPEC["workloads"]:
            self.assertIn(w["name"], drivers.DRIVERS)


class FakeProc:
    """JVM stand-in: replays protocol records, records the commands."""

    def __init__(self, records):
        self.stdout = io.StringIO("".join(
            "noise from the engine\n" + run.PREFIX + json.dumps(r) + "\n"
            for r in records))
        self.stdin = io.StringIO()


class CorruptOutput(unittest.TestCase):
    def driver(self, tmp):
        con = check.silver_connection(tmp)
        con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'a'), "
                    "(2, 'b')) v(k, s)")
        d = drivers.AnalystSql.__new__(drivers.AnalystSql)
        d.con, d.plan = con, {}
        d.after_setup = lambda run_dir: None
        d.command = lambda op: (d.plan.__setitem__(op, ("SELECT * FROM t", ["t"]))
                                or {"cmd": "next"})
        return d

    def test_wrong_rows_fail_the_op(self):
        with tempfile.TemporaryDirectory() as tmp:
            good = {"columns": ["k", "s"], "rows": [[2, "b"], [1, "a"]]}
            bad = {"columns": ["k", "s"], "rows": [[1, "a"], [2, "B"]]}
            recs = [{"ev": "setup", "dir": tmp, "session_s": 1, "setup_s": [1]}]
            recs += [{"ev": "op", "op": i, "lat_s": 0.1, "start_ms": 0,
                      "traced": False, "jobs": 1, "out": o}
                     for i, o in enumerate([good, bad, {"failed": "boom"}])]
            recs += [{"ev": "end", "heap_mb": 1.0}]
            args = types.SimpleNamespace(seconds=0.0, trace=0)
            ops, _, _ = run.drive(FakeProc(recs), self.driver(tmp), args,
                                  time.monotonic())
            errors = [o["error"] for o in ops]
            self.assertIsNone(errors[0])
            self.assertIn("digest", errors[1])
            self.assertEqual(errors[2], "boom")

    def test_missed_planted_duplicate_fails(self):
        d = drivers.CorpusRefresh.__new__(drivers.CorpusRefresh)
        vec = {i: np.eye(4)[i % 4] for i in range(8)}
        d.gen = types.SimpleNamespace(s={"batch": 3}, planted={0: {
            "dups": {5, 6}, "kept": {7}, "queries": np.eye(4)[:1],
            "vec_of": vec}})
        d.ids, d.vecs = np.arange(4), np.eye(4)
        d.recalls, d.kept_frac = [], []
        with tempfile.TemporaryDirectory() as tmp:
            os.makedirs(os.path.join(tmp, "index", "cell=0"))
            check.duckdb.connect().execute(
                "COPY (SELECT * FROM range(5)) TO "
                f"'{tmp}/index/cell=0/p.parquet' (FORMAT PARQUET)")
            self.assertIn("near-duplicates", d.check(0, {
                "dups": [5], "kept": [7], "index": tmp, "topk": [[0, 0]]}))

    def test_digest_ignores_row_and_column_order(self):
        a = check.digest(["x", "y"], [(1, 2.0), (3, None)])
        b = check.digest(["y", "x"], [(None, 3), (2.0000000001, 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, check.digest(["x", "y"], [(1, 2.0), (3, 0)]))


if __name__ == "__main__":
    unittest.main()
