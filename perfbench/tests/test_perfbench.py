"""Self-checks of the benchmark (no JVM needed):

    python3 -m unittest discover -s perfbench/tests

- the generators are pure functions of the seed: the same seed gives
  byte-identical files and identical counts, another seed other data;
- BENCHMARK.json keeps to its contract, and every metric it names is
  produced by the harness with a unit.
"""
import filecmp
import glob
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def same_tree(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
               for n in names)


class GeneratorTest(unittest.TestCase):
    def generate(self, kind, seed):
        d = tempfile.mkdtemp(dir=self.tmp)
        getattr(gen, kind)(seed, d)
        return d

    def setUp(self):
        self._t = tempfile.TemporaryDirectory()
        self.tmp = self._t.name

    def tearDown(self):
        self._t.cleanup()

    def test_cdc_same_seed_is_byte_identical(self):
        a, b = self.generate("cdc", 7), self.generate("cdc", 7)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, self.generate("cdc", 8)))

    def test_cdc_counts_follow_the_plan(self):
        import pyarrow.parquet as pq
        d = self.generate("cdc", 7)
        plan = json.load(open(os.path.join(d, "plan.json")))
        files = sorted(glob.glob(os.path.join(d, "flush-*.parquet")))
        self.assertEqual(len(files), plan["backlog"] + plan["steady"])
        rows = [pq.read_metadata(f).num_rows for f in files]
        self.assertEqual(rows, [plan["flush_events"]] * len(files))
        t = pq.read_table(files[0]).to_pydict()
        self.assertGreaterEqual(t["user_id"].count(plan["hot_key"]),
                                gen.CDC["hot_key_events"])
        self.assertTrue({"signup", "error", "heartbeat"} <= set(t["event_type"]))
        self.assertIn(plan["hot_key"], plan["lookup_keys"])

    def test_tables_same_seed_is_byte_identical(self):
        a, b = self.generate("tables", 3), self.generate("tables", 3)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, self.generate("tables", 4)))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_shape(self):
        b = bench()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        names = []
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            names.append(w["name"])
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
            names.append(m["name"])
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            names.append(m["name"])
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(m["bound"] for m in b["end_to_end"])},
                      b["end_to_end"])

    def test_every_metric_is_printed_with_its_unit(self):
        b = bench()
        for trace, wanted in ((0, b["end_to_end"]), (1, b["per_layer"])):
            values = {m["name"]: 1.5 for m in wanted}
            out = run.select_metrics(b, dict(values), trace)
            self.assertEqual(out, {m["name"]: {"value": 1.5, "unit": m["unit"]}
                                   for m in wanted})
            first = wanted[0]
            missing = {k: v for k, v in values.items() if k != first["name"]}
            if trace:  # an unexercised layer reads 0, with its unit
                self.assertEqual(run.select_metrics(b, missing, 1)[first["name"]],
                                 {"value": 0, "unit": first["unit"]})
            else:
                with self.assertRaises(SystemExit):
                    run.select_metrics(b, missing, 0)
            with self.assertRaises(SystemExit):
                run.select_metrics(b, dict(values, **{first["name"]: None}), trace)
            with self.assertRaises(SystemExit):
                run.select_metrics(b, dict(values, unlisted=1.0), trace)

    def test_harness_sources_name_every_listed_metric(self):
        """Each listed metric (for per-query metrics, the query) is named in
        the harness sources, so none of them silently reads 0."""
        src = "\n".join(open(p).read() for p in glob.glob(
            os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
        src += open(os.path.join(BENCH_DIR, "run.py")).read()
        b = bench()
        for m in b["end_to_end"] + b["per_layer"]:
            n = m["name"]
            q = re.match(r"queries\.(\w+)\.(prep|exec)_ms$", n)
            self.assertIn(f'"{q.group(1)}"' if q else f'"{n}"', src, n)


if __name__ == "__main__":
    unittest.main()
