"""Tests of the benchmark's own logic: input generation, span arithmetic,
failure counting, and agreement of BENCHMARK.json with the registry.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import trace  # noqa: E402
import workloads  # noqa: E402

REPO = os.path.dirname(os.path.dirname(HERE))


def digests(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(root, f), d)] = \
                        hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        t = cls.tmp.name
        cls.a = gen.write(os.path.join(t, "a"), 7, docs=200)
        cls.b = gen.write(os.path.join(t, "b"), 7, docs=200)
        cls.c = gen.write(os.path.join(t, "c"), 8, docs=200)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_is_byte_identical(self):
        da = digests(os.path.join(self.tmp.name, "a"))
        self.assertEqual(len(da), len(gen.TABLES) + 4)
        self.assertEqual(da, digests(os.path.join(self.tmp.name, "b")))
        self.assertEqual(self.a["tables"], self.b["tables"])

    def test_other_seed_gives_other_rows_of_equal_count(self):
        for t in gen.TABLES:
            a, c = self.a["tables"][t], self.c["tables"][t]
            self.assertEqual(a["rows"], c["rows"], t)
            self.assertLess(abs(a["bytes"] - c["bytes"]), 0.1 * a["bytes"], t)
            if t not in ("region", "nation"):
                self.assertNotEqual(a["sha256_16"], c["sha256_16"], t)

    def test_foreign_keys_resolve(self):
        ts = gen.tables(3, docs=100)
        n_orders = ts["orders"].num_rows
        self.assertLess(max(ts["lineitem"].column("l_orderkey").to_pylist()), n_orders)
        self.assertLess(max(ts["orders"].column("o_custkey").to_pylist()),
                        ts["customer"].num_rows)

    def test_stream_backlog_holds_every_event_in_day_order(self):
        d = os.path.join(self.tmp.name, "a", "stream", "events")
        files = sorted(os.listdir(d))
        mtimes = [os.path.getmtime(os.path.join(d, f)) for f in files]
        self.assertEqual(mtimes, sorted(mtimes))
        import pyarrow.parquet as pq
        rows = sum(pq.read_table(os.path.join(d, f)).num_rows for f in files)
        self.assertEqual(rows, self.a["tables"]["events"]["rows"])

    def test_corpus_follows_the_measured_statistics(self):
        docs = gen.tables(5, docs=400)["documents"]
        texts = docs.column("text").to_pylist()
        dups = [t for t in texts if t.endswith(" dup")]
        self.assertEqual(len(dups), 400 // 20)
        words = {w for t in texts for w in t.split(" ")}
        self.assertEqual(words, set(gen.WORDS) | {"dup"})
        lengths = [len(t.split(" ")) for t in texts if not t.endswith(" dup")]
        self.assertGreaterEqual(min(lengths), 10)
        self.assertLessEqual(max(lengths), 99)

    def test_nothing_written_outside_the_target(self):
        with tempfile.TemporaryDirectory() as t:
            gen.write(os.path.join(t, "x"), 1, docs=50)
            self.assertEqual(os.listdir(t), ["x"])


def span(i, parent, start, end, kind="op", name=None):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
            "kind": kind, "name": name or f"s{i}"}


class SpanArithmeticTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_intervals(self):
        s = 10**9
        spans = [
            span(0, -1, 0, 10 * s, "workload"),
            span(1, 0, 1 * s, 4 * s, "pass"),
            span(2, 1, 1 * s, 2 * s),      # op
            span(3, 2, 1 * s, 1.5 * s),    # build
            span(4, 2, 1.5 * s, 2 * s),    # exec
            span(5, 1, 2.5 * s, 4 * s),    # op with overlapping children
            span(6, 5, 2.5 * s, 3.5 * s),
            span(7, 5, 3 * s, 3.75 * s),
            span(8, 0, 6 * s, 7 * s, "pass"),
        ]
        st = trace.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - 3 - 1)
        self.assertAlmostEqual(st[1], 3 - 1 - 1.5)
        self.assertAlmostEqual(st[2], 0)
        self.assertAlmostEqual(st[5], 1.5 - 1.25)
        self.assertAlmostEqual(st[3], 0.5)
        self.assertAlmostEqual(st[8], 1)

    def test_union_of_job_intervals(self):
        self.assertEqual(trace.union_s([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(trace.union_s([(0, 2), (1, 3), (5, 6)], 2.5, 5.5), 1)

    def test_jobs_attributed_by_tag_then_by_time(self):
        ms = 10**6
        result = {"cores": 2, "trace": {
            "origin_ms": 1000,
            "spans": [span(0, -1, 0, 100 * ms, "workload"),
                      span(1, 0, 10 * ms, 90 * ms, "pass"),
                      span(2, 1, 10 * ms, 50 * ms), span(3, 2, 10 * ms, 30 * ms, "build"),
                      span(4, 2, 30 * ms, 50 * ms, "exec"),
                      span(5, 1, 50 * ms, 90 * ms)],
            "listener": {
                "jobs": [{"id": 0, "span": 3, "start_ms": 1015, "end_ms": 1020, "stages": [0]},
                         {"id": 1, "span": -1, "start_ms": 1060, "end_ms": 1070, "stages": [1, 0]},
                         {"id": 2, "span": 4, "start_ms": 1035, "end_ms": 1045, "stages": [2]}],
                "stages": [{"id": 0, "attempt": 0, "tasks": 2, "cpu_ns": 5},
                           {"id": 1, "attempt": 0, "tasks": 3, "cpu_ns": 7},
                           {"id": 2, "attempt": 0, "tasks": 1, "cpu_ns": 1}],
                "sql": [{"id": 0, "start_ms": 1031, "end_ms": 1045}]}}}
        tr = trace.Trace(result)
        self.assertEqual(tr.job_span, {0: 3, 1: 5, 2: 4})
        # stage 0 ran in job 0; job 1 lists it again but only ran stage 1
        self.assertEqual(tr.stats(5), {"jobs": 1, "stages": 1, "tasks": 3, "cpu_ns": 7})
        self.assertEqual(tr.stats(2)["tasks"], 3)
        self.assertEqual(tr.stats(1)["jobs"], 3)
        p = {"span": 1, "ops": [], "streams": [], "modelcache_builds": 0,
             "modelcache_build_s": 0.0, "cached_bytes": 0, "cow_merge_s": 0.0}
        m = trace.pass_metrics(tr, p, 2)
        self.assertEqual(m["spark.sql_executions"], 1)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.080 - 0.025)


def op(name, status="ok", rows=5, hash_="h1"):
    o = {"name": name, "module": "M", "span": 0, "status": status}
    if status == "ok":
        o.update(rows=rows, hash=hash_, build_s=0.1, exec_s=0.2)
    else:
        o["error"] = "java.util.NoSuchElementException: key not found: " + name
    return o


def result(*passes):
    return {"passes": [{"kind": "cold" if i == 0 else "warm", "index": i, "wall_s": 1.0 + i,
                        "ops": ops} for i, ops in enumerate(passes)],
            "setups": [{"setup_s": 3.0}, {"setup_s": 1.0}, {"setup_s": 2.0}],
            "cached_bytes_after_cold": 2 * run.MB, "heap_peak_old_after_gc_bytes": run.MB,
            "checks": []}


class FailureCountingTest(unittest.TestCase):
    def test_injected_failing_operation_is_counted_not_timed(self):
        # an operation name no module registers fails in the harness with
        # "key not found"; its executions are counted, never timed
        bad = "perfbench.injected_failure"
        res = result([op("q_a"), op(bad, "error")], [op("q_a"), op(bad, "error")])
        attempted, failed, reasons = run.evaluate([res], {})
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(list(reasons), [bad])
        e2e = run.end_to_end(res)
        self.assertEqual(e2e["cold_s"], 1.0)
        self.assertEqual(e2e["warm_s"], 2.0)
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertTrue(all(v > 0 for v in e2e.values()))

    def test_wrong_outputs_fail_every_execution_of_the_operation(self):
        res = result([op("q_a"), op("q_b"), op("q_c", rows=0), op("q_d")],
                     [op("q_a", hash_="h2"), op("q_b"), op("q_c", rows=0), op("q_d")])
        oracle = {"q_b": None, "q_d": "FAIL q_d: rows 4 vs 5"}
        attempted, failed, reasons = run.evaluate([res], oracle)
        self.assertEqual((attempted, failed), (8, 6))
        self.assertEqual(sorted(reasons), ["q_a", "q_c", "q_d"])

    def test_direct_call_checked_against_its_recomputation(self):
        res = result([op("CowTable.merge", rows=7, hash_="x")],
                     [op("CowTable.merge", rows=7, hash_="x")])
        res["checks"] = [{"op": "CowTable.merge", "rows": 7, "hash": "x"}]
        self.assertEqual(run.evaluate([res], {})[1], 0)
        res["checks"] = [{"op": "CowTable.merge", "rows": 8, "hash": "x"}]
        self.assertEqual(run.evaluate([res], {})[1], 2)


class BenchmarkJsonTest(unittest.TestCase):
    def test_matches_the_registry(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(workloads.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]],
                         [tuple(m) for m in workloads.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         workloads.per_layer())
        self.assertLessEqual(len(b["per_layer"]), 128)

    def test_json_leaves_out_only_times_and_rates(self):
        kept = {n for n, _, _ in workloads.per_layer()}
        dropped = [(n, u) for n, u in workloads.all_layers() if n not in kept]
        self.assertTrue(dropped)
        for n, u in dropped:
            self.assertIn(u, ("s", "1/s"), n)


if __name__ == "__main__":
    unittest.main()
