"""Tests of the benchmark itself. From the repository root:

    python3 -m unittest discover -s wxbench/tests -v

Tiny runs build the benchmark on first use, then take about half a
minute each.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def tiny(workload, trace, cwd=ROOT, seed=5):
    return subprocess.run(
        SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                           "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class TinyRuns(unittest.TestCase):
    def check_line(self, workload, trace):
        p = tiny(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(list(res["metrics"]), [m["name"] for m in want])
        for m in want:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        if not trace:
            for m in want:
                self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
        return res

    def test_every_listed_workload_emits_every_metric_with_its_unit(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.check_line(w["name"], trace)
                    if trace:
                        spans = os.path.join(
                            BENCH, "out", f"spans-{w['name']}-seed5-trace1.jsonl")
                        with open(spans) as f:
                            first = json.loads(f.readline())
                        self.assertLessEqual(
                            {"id", "parent", "op", "name", "start_ns", "end_ns",
                             "self_ns"}, set(first))

    def test_analytics_mix_replays_every_oracle(self):
        p = tiny("analytics_mix", 0)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(res["correct"], res)
        with open(os.path.join(BENCH, "out",
                               "artifact-analytics_mix-seed5-trace0.json")) as f:
            art = json.load(f)["artifact"]
        self.assertEqual(art["oracle_checks"], 9)


class OracleReplay(unittest.TestCase):
    def test_rejects_a_result_that_differs_from_its_oracle(self):
        import duckdb
        d = tempfile.mkdtemp()
        try:
            sf = os.path.join(d, "sf")
            con = duckdb.connect()
            for t in run.TABLES:
                os.makedirs(os.path.join(sf, f"{t}.parquet"))
                con.execute(f"COPY (SELECT 1 AS x) TO "
                            f"'{sf}/{t}.parquet/part-0.parquet' (FORMAT PARQUET)")
            oracle = os.path.join(d, "oracle")
            for name, value in (("q_good", 1.0), ("q_bad", 2.0)):
                os.makedirs(os.path.join(oracle, name))
                con.execute(f"COPY (SELECT CAST({value} AS DOUBLE) AS v) TO "
                            f"'{oracle}/{name}/part-0.parquet' (FORMAT PARQUET)")
            with open(os.path.join(oracle, "oracle_sql.json"), "w") as f:
                json.dump({"q_good": "SELECT CAST(x AS DOUBLE) AS v FROM region",
                           "q_bad": "SELECT CAST(x AS DOUBLE) AS v FROM region"}, f)
            n, failures = run.oracle_replay(d, sf)
            self.assertEqual(n, 2)
            self.assertEqual(len(failures), 1)
            self.assertIn("q_bad", failures[0])
        finally:
            shutil.rmtree(d)


class WithoutEngine(unittest.TestCase):
    def test_fails_without_printing_a_result(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("target", "out"))
            p = tiny(SPEC["workloads"][0]["name"], 0, cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
