"""Self-tests of the benchmark: python3 perfbench/test_perfbench.py

Unit checks of the metric reduction, then two smoke runs on sf0.001 inputs:
`curation` traced with every output checked, and `eda` with one expected
fingerprint planted wrong, which must be reported as exactly one failure.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import run  # noqa: E402


PASSES = ((0, True), (1, False), (2, False), (3, False), (4, True))


def fake_raw(n_ops=3):
    """A minimal raw document from the harness: cold pass, two warm-up
    passes, then one untraced and one traced measured pass."""
    ops = []
    for p, traced in PASSES:
        for i in range(n_ops):
            o = {"pass": p, "name": f"op{i}", "module": "operators", "build_s": 0.1,
                 "plan_s": 0.01, "exec_s": 0.2 + i, "ok": True}
            if traced:
                o.update(jobs=1, tasks=4, cpu_s=0.3, gc_s=0.0, sched_delay_s=0.01,
                         shuffle_bytes=10, spill_bytes=0)
            ops.append(o)
    return {"setup": {"total_s": 1.0, "session_s": 0.5, "register_s": 0.1, "open_s": 0.4},
            "calib_s": 0.05, "peak_rss_kb": 1024, "retained_mb": 50.0, "recall_at5": -1.0,
            "passes": [{"pass": p, "measured": p > 2, "traced": t, "wall_s": 1.0 + p,
                        "check_s": 0.1} for p, t in PASSES],
            "ops": ops, "output_bytes": {},
            "checks": [{"name": f"op{i}", "got": "rows=1", "want": "rows=1"} for i in range(n_ops)],
            "info": {}}


MANIFEST = {"rows": {t: 10 for t in run.BASE_TABLES + run.CORPUS_TABLES},
            "bytes": {t: 100 for t in run.BASE_TABLES + run.CORPUS_TABLES}}


class Reduce(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        e2e, layer, _ = run.reduce(fake_raw(), "eda", MANIFEST)
        self.assertEqual(set(e2e), run.declared(trace=False))
        self.assertEqual(set(layer), run.declared(trace=True))

    def test_p90_withheld_below_ten_samples_beyond(self):
        self.assertIsNone(run.p90_with_tail([float(i) for i in range(99)]))
        self.assertIsNone(run.p90_with_tail([1.0] * 200))
        self.assertEqual(run.p90_with_tail([float(i) for i in range(100)]), 89.0)

    def test_p90_reported_only_on_eda(self):
        raw = fake_raw(n_ops=120)
        self.assertIn("op_p90_s", run.reduce(raw, "eda", MANIFEST)[2])
        self.assertNotIn("op_p90_s", run.reduce(raw, "curation", MANIFEST)[2])
        self.assertNotIn("op_p90_s", run.reduce(fake_raw(), "eda", MANIFEST)[2])

    def test_cold_and_warm_up_passes_are_not_measured(self):
        raw = fake_raw()
        for o in raw["ops"]:
            if o["pass"] < 3:
                o["exec_s"] = 100.0
        e2e, _, facts = run.reduce(raw, "eda", MANIFEST)
        self.assertEqual(e2e["pass_s"][0], 4.0)  # the untraced measured pass 3
        self.assertEqual(e2e["cold_pass_s"][0], 1.0)
        self.assertAlmostEqual(e2e["op_gmean_s"][0], (0.31 * 1.31 * 2.31) ** (1 / 3))
        self.assertAlmostEqual(facts["op_p50_s"], 1.31)  # op1 of pass 3
        self.assertEqual(facts["steady_passes"], 1)

    def test_mismatch_counts_as_failure(self):
        raw = fake_raw()
        raw["checks"][0]["want"] = "rows=2"
        e2e, _, facts = run.reduce(raw, "eda", MANIFEST)
        self.assertEqual(facts["failed"], 1)
        self.assertLess(e2e["ok_frac"][0], 1.0)


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke", "--seconds", "1",
                        *args], capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(r.stderr[-3000:])
    return r.stdout.splitlines()


class Smoke(unittest.TestCase):
    def test_curation_traced_all_outputs_match(self):
        out = bench("--workload", "curation", "--seed", "7", "--trace", "1")
        res = json.loads(out[-1])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertEqual(set(res["metrics"]), run.declared(trace=True))
        info = json.loads(next(l for l in out if l.startswith("# run "))[6:])
        self.assertEqual(info["leftovers"], 0)
        self.assertTrue(os.path.isfile(os.path.join(run.ROOT, info["spans"])))

    def test_eda_planted_wrong_expected_is_one_failure(self):
        data, manifest = run.dataset("eda", smoke=True)
        book = run.load_json(os.path.join(HERE, "expected.json"))
        want = dict(book[manifest["data_fp"]])
        want["q01_agg"] = "rows=0 hash=0"
        planted = os.path.join(run.OUT, "planted_expected.json")
        with open(planted, "w") as f:
            json.dump({manifest["data_fp"]: want}, f)
        try:
            out = bench("--workload", "eda", "--seed", "7", "--trace", "0", "--expected", planted)
        finally:
            os.remove(planted)
        res = json.loads(out[-1])
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertEqual(set(res["metrics"]), run.declared(trace=False))
        self.assertTrue(any(l.startswith("# check FAILED q01_agg") for l in out))


if __name__ == "__main__":
    unittest.main()
