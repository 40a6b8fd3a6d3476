"""Tests of the benchmark's own machinery.

Run from the repository root: python3 -m unittest perfbench/test_perfbench.py
The last test runs one short `migrate` benchmark end to end (about a
minute, and a build first if the sources changed).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fold  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class Scratch(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(HERE, "work"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)


class GeneratorTest(Scratch):
    def generate(self, name, seed):
        d = os.path.join(self.tmp, name)
        gen.gen_star(os.path.join(d, "star"), seed, 3000)
        gen.gen_catalog(os.path.join(d, "catalog"), seed, 0.1)
        return {k: digests(os.path.join(d, k)) for k in ("star", "catalog")}

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self.generate("a", 7), self.generate("b", 7))

    def test_other_seed_gives_other_bytes(self):
        a, b = self.generate("a", 7), self.generate("b", 8)
        for family in ("star", "catalog"):
            # every generated table except the fixed dimension tables differs
            same = [f for f in a[family] if a[family][f] == b[family][f]]
            self.assertLessEqual(set(same), {"region.parquet", "nation.parquet"}, family)

    def test_star_filters_keep_a_share_of_each_source(self):
        t = gen.star_tables(3, 20000)
        contact = t["table_contact"].column("x_cust_id").to_pylist()
        kept = sum(100000 <= x <= 500000 for x in contact) / len(contact)
        self.assertAlmostEqual(kept, 0.4, delta=0.05)
        objids = t["x_payment_source"].column("objid").to_pylist()
        self.assertEqual(len(set(objids)), len(objids))
        self.assertTrue(gen.OBJID_LO <= min(objids) and max(objids) <= gen.OBJID_HI)


class PrinterTest(unittest.TestCase):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    def fake_result(self):
        return {"e2e": {n: {"value": 1.5, "unit": "x"} for n in run.END_TO_END},
                "layers": {}, "counters": {"reps": 2.0}, "samples": {}, "spans": [],
                "conditions": {"cores": 4}}

    def test_end_to_end_metrics_are_the_declared_ones(self):
        m = run.end_to_end(self.fake_result())
        self.assertEqual(list(m), [x["name"] for x in self.bench["end_to_end"]])

    def test_per_layer_metrics_are_the_declared_ones_with_units(self):
        m = fold.per_layer(self.fake_result())
        declared = {x["name"]: x["unit"] for x in self.bench["per_layer"]}
        self.assertEqual(set(m), set(declared))
        self.assertEqual({k: fold.PER_LAYER[k] for k in m}, declared)

    def test_self_time_subtracts_children(self):
        spans = [[1, 0, "migrate", 0, 10_000_000_000],
                 [2, 1, "pipeline.append", 2_000_000_000, 5_000_000_000],
                 [3, 1, "pipeline.append", 4_000_000_000, 6_000_000_000]]
        t = fold.self_times(spans)
        self.assertAlmostEqual(t["migrate"][2], 6.0)
        self.assertAlmostEqual(t["pipeline.append"][1], 5.0)

    def test_accounting_fails_on_time_outside_the_phase_split(self):
        s = 1_000_000_000

        def migration(tail_s):
            return {"spans": [[1, 0, "migrate", 0, (10 + tail_s) * s],
                              [2, 1, "relational.source", 0, 1 * s],
                              [3, 1, "pipeline.append", 4 * s, 6 * s],
                              [4, 1, "keyedtable.maintain", 8 * s, 10 * s]]}
        self.assertTrue(fold.accounting(migration(0))[0])
        self.assertFalse(fold.accounting(migration(5))[0])
        # a migration without its maintenance span has no phase split
        bare = migration(0)
        bare["spans"].pop()
        self.assertFalse(fold.accounting(bare)[0])


class RunTest(Scratch):
    def test_refuses_to_run_without_the_program(self):
        shutil.copytree(HERE, os.path.join(self.tmp, "perfbench"),
                        ignore=shutil.ignore_patterns("work", "build", "out", "target"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), self.tmp)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "migrate",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=self.tmp, capture_output=True, text=True, timeout=120)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)

    def test_injected_failure_fires_once_per_repetition(self):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "migrate",
                            "--seed", "5", "--seconds", "1", "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(last["correct"])
        declared = PrinterTest.bench["end_to_end"]
        self.assertEqual({k: v["unit"] for k, v in last["metrics"].items()},
                         {x["name"]: x["unit"] for x in declared})
        with open(os.path.join(HERE, "out", "migrate-seed5-trace0.json")) as f:
            res = json.load(f)["harness"]
        fired = [c for c in res["checks"] if c["name"] == "injected failure fired once"]
        # one per repetition: every warm-up and every timed repetition
        self.assertEqual(len(fired), res["info"]["warmups"] + res["info"]["timed_reps"])
        self.assertTrue(all(c["ok"] for c in fired))


if __name__ == "__main__":
    unittest.main()
