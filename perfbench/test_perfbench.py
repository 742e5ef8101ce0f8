"""Self-check of the benchmark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a checkout. The generator tests take seconds; the run
tests build the program on first use and then take about a minute each.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "selfcheck")
sys.path.insert(0, HERE)
import run  # noqa: E402


def tree(path):
    return sorted(os.path.relpath(os.path.join(d, f), path)
                  for d, _, fs in os.walk(path) for f in fs)


def same_tree(a, b):
    names = tree(a)
    return names == tree(b) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class InputsTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_seed_decides_inputs(self):
        for w in run.SETTINGS["inputs"]:
            with self.subTest(workload=w):
                dirs = {}
                for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                    dirs[tag] = os.path.join(SCRATCH, w, tag)
                    run.make_inputs(w, seed, dirs[tag])
                self.assertTrue(same_tree(dirs["a"], dirs["b"]), "same seed, different bytes")
                self.assertFalse(same_tree(dirs["a"], dirs["c"]), "different seed, same bytes")

    def test_history_carries_the_dirty_cases(self):
        rng = run.np.random.default_rng(7)
        rows = run.gen.gen_v1_history(rng, os.path.join(SCRATCH, "v1"), tickers=4, days=10)
        self.assertTrue(any(r[0] is None for r in rows), "no null cod")
        keys = [(r[0], r[5]) for r in rows if r[0] is not None]
        self.assertGreater(len(keys), len(set(keys)), "no duplicate (cod, date)")
        model = run.gen.model_v1(rows)
        self.assertEqual(len(model), 4 * 10)
        first = model[("T0003", "2024-01-02")]
        self.assertEqual((first["mean"], first["max"], first["min"]), (first["part"],) * 3)


class RunTest(unittest.TestCase):
    def run_bench(self, trace, cwd=ROOT, script=os.path.join("perfbench", "run.py")):
        return subprocess.run(
            [sys.executable, script, "--workload", "b3_full_refresh", "--seed", "3",
             "--seconds", "2", "--trace", str(trace)],
            cwd=cwd, capture_output=True, text=True, timeout=900)

    def test_every_metric_printed_with_its_unit(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            with self.subTest(trace=trace):
                p = self.run_bench(trace)
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                out = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(out["correct"])
                self.assertEqual(out["failed"], 0)
                want = {m["name"]: m["unit"] for m in run.BENCH[key]}
                self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)

    def test_refuses_without_program_sources(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__", "project/project"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = self.run_bench(0, cwd=bare)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn("metrics", p.stdout)


if __name__ == "__main__":
    unittest.main()
