"""The benchmark's own tests. No JVM needed:

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, seed, name):
        out = os.path.join(self.tmp, name)
        gen.generate(seed, out, gen.TABLES, events_scale=0.05, docs_scale=0.05)
        return out

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(digests(self.gen(5, "a")), digests(self.gen(5, "b")))

    def test_other_seed_same_counts_other_order(self):
        a, b = self.gen(5, "a"), self.gen(6, "b")
        ma = json.load(open(os.path.join(a, "manifest.json")))
        mb = json.load(open(os.path.join(b, "manifest.json")))
        self.assertEqual({t: v["rows"] for t, v in ma["tables"].items()},
                         {t: v["rows"] for t, v in mb["tables"].items()})
        ia = pq.read_table(os.path.join(a, "events.parquet")).column("event_id").to_pylist()
        ib = pq.read_table(os.path.join(b, "events.parquet")).column("event_id").to_pylist()
        self.assertEqual(sorted(ia), sorted(ib))
        self.assertNotEqual(ia, ib)

    def test_physical_schema_and_row_groups(self):
        d = self.gen(5, "a")
        self.assertEqual(sorted(f[:-8] for f in os.listdir(d) if f.endswith(".parquet")),
                         sorted(gen.TABLES))
        ev = pq.ParquetFile(os.path.join(d, "events.parquet"))
        self.assertEqual(str(ev.schema_arrow.field("ts").type), "timestamp[us]")
        self.assertGreater(ev.metadata.num_row_groups, 1)


class CacheKeyTest(unittest.TestCase):
    def test_data_key_follows_the_scales(self):
        spec = run.WORKLOADS["sensor_batch"]
        before = run.data_key("sensor_batch")
        saved = dict(spec["scales"])
        spec["scales"]["events_scale"] = saved["events_scale"] * 2
        try:
            self.assertNotEqual(run.data_key("sensor_batch"), before)
        finally:
            spec["scales"].update(saved)
        self.assertEqual(run.data_key("sensor_batch"), before)


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_names_and_units_fit_the_grammar(self):
        names = [w["name"] for w in self.spec["workloads"]]
        for group in ("end_to_end", "per_layer"):
            for m in self.spec[group]:
                names.append(m["name"])
                self.assertRegex(m["unit"], UNIT)
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_workloads_match_the_runner(self):
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]),
                         sorted(run.WORKLOADS))

    def fake_result(self, workload):
        engine = {k: 1 for k in ("jobs", "tasks", "failed_tasks", "job_busy_s", "cpu_s",
                                 "input_bytes", "shuffle_write_bytes",
                                 "shuffle_read_bytes", "fetch_wait_s", "spill_bytes")}
        calls = [{"layer": "etl.wide", "gate": "q_etl_wide", "tables": ["events"],
                  "index": i, "start_ms": 1000 * i, "s": 0.5, "gc_s": 0.0, "memo_s": 0.0,
                  "file_read_bytes": 10, "out": f"/o/flow/{i}", "error": None,
                  "engine": engine} for i in range(3)]
        return {"workload": workload, "calls": calls, "warm": [], "timed_s": 3.0,
                "ready_ms": 0, "launch_ms": 0, "peak_rss_mb": 1.0, "round_size": 3,
                "streaming": {"batches": 0, "rows": 0, "trigger_ms_p50": 0.0,
                              "state_commit_ms_p50": 0.0}}

    def test_emitted_metrics_are_the_declared_ones(self):
        manifest = {"tables": {"events": {"rows": 10, "bytes": 100}}}
        for w in run.WORKLOADS:
            r = self.fake_result(w)
            e2e, _ = run.end_to_end(r, manifest)
            self.assertEqual(sorted(e2e), sorted(m["name"] for m in self.spec["end_to_end"]))
            layers = run.per_layer(r, manifest, 1.0)
            self.assertEqual(sorted(layers), sorted(m["name"] for m in self.spec["per_layer"]))
            for m in self.spec["end_to_end"] + self.spec["per_layer"]:
                got = (e2e if m in self.spec["end_to_end"] else layers)[m["name"]][1]
                self.assertEqual(got, m["unit"], m["name"])


class P90Test(unittest.TestCase):
    def test_ten_samples_beyond_p90_from_100_samples(self):
        for n in (100, 101, 137, 250):
            xs = [float((i * 7919) % n) for i in range(n)]
            p90 = run.quantile(xs, 0.9)
            self.assertGreaterEqual(sum(1 for x in xs if x > p90), 10, n)

    def test_p90_within_samples(self):
        xs = [1.0, 2.0, 3.0, 400.0]
        self.assertLessEqual(run.quantile(xs, 0.9), max(xs))
        self.assertEqual(run.quantile([5.0], 0.9), 5.0)


class FailureCountTest(unittest.TestCase):
    """A call that threw, or whose rows differ from the oracle, is failed."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.con = duckdb.connect()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write(self, sql, path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")

    def test_throw_and_wrong_rows_count_as_failed(self):
        want = "SELECT i::BIGINT AS k, i * 0.5 AS v FROM range(50) t(i)"
        self.write(want, os.path.join(self.tmp, "oracle", "q_x.parquet"))
        out = os.path.join(self.tmp, "work", "run", "sensor_batch", "out")
        # same rows in another order and width, off by 1e-12: a match
        self.write("SELECT (49 - i)::INT AS k, (49 - i) * 0.5 + 1e-12 AS v "
                   "FROM range(50) t(i)", os.path.join(out, "ok", "part-0.parquet"))
        self.write("SELECT i::BIGINT AS k, i * 0.5 AS v FROM range(49) t(i)",
                   os.path.join(out, "short", "part-0.parquet"))
        self.write("SELECT i::BIGINT AS k, i * 0.25 AS v FROM range(50) t(i)",
                   os.path.join(out, "wrong", "part-0.parquet"))

        def call(i, name, error=None):
            return {"index": i, "layer": "etl.wide", "gate": "q_x",
                    "out": os.path.join(out, name), "error": error}
        r = {"workload": "sensor_batch", "warm": [],
             "calls": [call(0, "ok"), call(1, "short"), call(2, "wrong"),
                       call(3, "missing", error="java.lang.RuntimeException: boom")]}
        saved = run.WORK
        run.WORK = os.path.join(self.tmp, "work")
        try:
            failed = run.check_outputs(r, oracle.Checker(os.path.join(self.tmp, "oracle")))
        finally:
            run.WORK = saved
        self.assertEqual([f[0] for f in failed], [1, 2, 3])
        self.assertIn("rows", failed[0][2])
        self.assertIn("boom", failed[2][2])


class HoltOracleTest(unittest.TestCase):
    def test_trim_and_fold_match_the_kernel_definition(self):
        self.assertEqual(oracle.holt_fit([3.0]), (3.0, 0.0))
        level, trend = oracle.holt_fit([1.0, 2.0, 3.0, 4.0])
        self.assertAlmostEqual(level, 4.0)
        self.assertAlmostEqual(trend, 1.0)
        self.assertEqual(oracle.quantile_trim([1.0, 2.0]), [1.0, 2.0])
        self.assertEqual(oracle.quantile_trim([1.0, 2.0, 3.0, 4.0, 100.0]), [2.0, 3.0, 4.0])


if __name__ == "__main__":
    unittest.main()
