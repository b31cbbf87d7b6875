"""Tests of the benchmark itself.

  python3 -m unittest discover -s perfbench/tests -v

The HarnessTest tests build the program and start Spark (several
minutes).
"""
import argparse
import contextlib
import filecmp
import io
import json
import math
import os
import subprocess
import sys
import tempfile
import unittest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, PERFBENCH)

import inputs  # noqa: E402
import run  # noqa: E402


def run_spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class InputsTest(unittest.TestCase):

    def test_same_seed_gives_identical_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            for w in run.WORKLOADS:
                a, b, c = f"{d}/{w}-a", f"{d}/{w}-b", f"{d}/{w}-c"
                inputs.stage(w, 7, a)
                inputs.stage(w, 7, b)
                inputs.stage(w, 8, c)
                names = sorted(os.listdir(a))
                self.assertEqual(names, sorted(os.listdir(b)))
                _, diff, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((diff, errors), ([], []), w)
                _, diff, _ = filecmp.cmpfiles(a, c, names, shallow=False)
                self.assertTrue(diff, f"{w}: seed 8 gave seed 7's inputs")

    def test_gvt_sequence_is_seeded_and_fixed_in_work(self):
        self.assertEqual(inputs.gvt_plan(7, 60000), inputs.gvt_plan(7, 60000))
        self.assertNotEqual(inputs.gvt_plan(7, 60000), inputs.gvt_plan(8, 60000))

        def work(plan):
            return [(s["op"], s.get("hi", 0) - s.get("lo", 0), s.get("back"))
                    for s in plan]
        # the seed picks only the ranges: every operation, its order and
        # the width of every range stay the same
        self.assertEqual(work(inputs.gvt_plan(7, 60000)),
                         work(inputs.gvt_plan(8, 60000)))


class ScheduleTest(unittest.TestCase):

    def test_schedule_is_a_function_of_workload_and_run_length(self):
        for w in run.WORKLOADS:
            for seconds in (1, 10, 60):
                warmup, measured = run.schedule(w, seconds)
                self.assertEqual((warmup, measured), run.schedule(w, seconds))
                self.assertEqual(warmup, run.WARMUP_PASSES[w])
                self.assertEqual(measured, max(
                    1, math.ceil(seconds / run.NOMINAL_PASS_S[w])))


class HarnessTest(unittest.TestCase):

    def test_pass_count_does_not_follow_speed(self):
        """The same run pinned to one CPU and on all of them: the slower
        JVM runs the same passes of the same operations."""
        jars = run.spark_jars()
        classes = run.build(run.BUILD_DIR, jars)
        w = "gvt_commit_mix"
        seen = {}
        with tempfile.TemporaryDirectory(dir=run.BUILD_DIR) as d:
            inputs.stage(w, 1, f"{d}/data")
            for pin in ([], ["taskset", "-c", "0"]):
                out = f"{d}/out{len(pin)}"
                os.makedirs(out)
                args = {"workload": w, "seed": 1, "warmup": 1, "measured": 1,
                        "trace": 0, "data": f"{d}/data", "out": out,
                        "cores": run.CORES, "run": "test"}
                proc = subprocess.run(
                    pin + run.jvm_command(classes, jars, f"{d}/jvm{len(pin)}",
                                          ["graft.perfbench.Harness"] +
                                          [f"{k}={v}" for k, v in args.items()]),
                    capture_output=True, text=True)
                self.assertEqual(proc.returncode, 0, proc.stdout[-2000:] + proc.stderr[-2000:])
                with open(f"{out}/result.json") as f:
                    seen[bool(pin)] = json.load(f)
        slow, fast = seen[True], seen[False]
        self.assertEqual(slow["failures"], [])
        self.assertEqual(len(slow["passes"]), 3)
        self.assertEqual([[n for n, _ in p["ops"]] for p in slow["passes"]],
                         [[n for n, _ in p["ops"]] for p in fast["passes"]])
        self.assertGreater(sum(p["wall_s"] for p in slow["passes"]),
                           1.2 * sum(p["wall_s"] for p in fast["passes"]))

    def test_wrong_expected_fingerprint_fails_the_run(self):
        with open(run.EXPECTED) as f:
            expected = json.load(f)
        expected["fn_hash"][1] += 1
        with tempfile.NamedTemporaryFile("w", suffix=".json") as f:
            json.dump(expected, f)
            f.flush()
            res = run.run("query_mix", 1, 1, 0, expected=f.name)
        out = io.StringIO()
        args = argparse.Namespace(workload="query_mix", seed=1, seconds=1, trace=0)
        with contextlib.redirect_stdout(out), self.assertRaises(SystemExit) as exit:
            run.report(args, run_spec(), res)
        self.assertNotEqual(exit.exception.code, 0)
        lines = out.getvalue().strip().splitlines()
        result = json.loads(lines[-1])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        # every pass fails the corrupted key, and no other key fails
        failed = [l for l in lines if l.startswith("FAILED")]
        self.assertEqual(len(failed), 1 + sum(run.schedule("query_mix", 1)))
        self.assertEqual(len(failed), result["failed"])
        self.assertTrue(all(" fn_hash: " in l for l in failed), failed)

    def test_traced_run_writes_the_ngram_candidates_span(self):
        """The traced run times DedupVariants.ngramCandidates after the
        passes; its span and the Spark jobs it causes are in the spans
        file."""
        res = run.run("query_mix", 1, 1, 1)
        self.assertEqual(res["failures"], [])
        self.assertGreater(res["layers"]["llm.candidate_ms"], 0)
        with open(os.path.join(run.RESULTS, "query_mix-seed1-spans.jsonl")) as f:
            spans = [json.loads(l) for l in f]
        ngram = [s for s in spans if s["name"] == "ngramCandidates"]
        self.assertEqual(len(ngram), 3)
        self.assertTrue(all(s["layer"] == "llm" for s in ngram), ngram)
        ids = {s["id"] for s in ngram}
        self.assertTrue(any(s["layer"] == "exec.job" and s["parent"] in ids
                            for s in spans))

    def test_timed_action_keeps_the_exchange_count_drops(self):
        jars = run.spark_jars()
        classes = run.build(run.BUILD_DIR, jars)
        with tempfile.TemporaryDirectory(dir=run.BUILD_DIR) as d:
            inputs.stage("query_mix", 1, f"{d}/data")
            proc = subprocess.run(
                run.jvm_command(classes, jars, d, [
                    "graft.perfbench.PlanCheck", f"{d}/data"]),
                capture_output=True, text=True)
        self.assertEqual(proc.returncode, 0, proc.stdout[-2000:] + proc.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
