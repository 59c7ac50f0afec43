"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

They run traced workloads on tiny inputs (--scale) and check that the span
file reconciles with the Spark listener and the reported metrics:

- every job the listener saw is claimed by exactly one span, and in a timed
  iteration that span is an operation, a public call inside one, or a check;
- every job lies inside the span that claimed it;
- the job time of an operation's calls adds up to at most the operation's
  own job time (the union of its jobs' intervals);
- the run's spark.jobs, spark.job_s and spark.driver_s metrics are the
  medians of job count, job union and span minus job union over the spans.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
# job times are whole epoch milliseconds; span times are exact
TOL_MS = 2.0


def union_ms(intervals, lo, hi):
    total, cur = 0.0, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur else 0.0)


def run(workload, seed):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "1",
                        "--scale", "0.05"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(BENCH, "out", f"spans-{workload}-{seed}.json")) as f:
        spans = json.load(f)["spans"]
    return result, spans


class TraceReconciles(unittest.TestCase):
    def check(self, workload):
        result, spans = run(workload, 7)
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        by_id = {s["id"]: s for s in spans}
        kids = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)

        def subtree_jobs(s):
            return s["jobs"] + [j for k in kids.get(s["id"], []) for j in subtree_jobs(k)]

        self.assertFalse([s for s in spans if s["kind"] == "gap" and s["iter"] >= 0],
                         "jobs ran outside every span of a timed iteration")
        # Spark numbers a context's jobs one by one, so a job that no span
        # claimed, or that two spans claimed, breaks the sequence
        ids = sorted(j["job"] for s in spans for j in s["jobs"])
        self.assertTrue(ids)
        self.assertEqual(ids, list(range(ids[0], ids[0] + len(ids))))
        for s in spans:
            if s["iter"] >= 0 and s["jobs"]:
                self.assertIn(s["kind"], ("op", "call", "check"), s["name"])
        for s in spans:
            for j in s["jobs"]:
                self.assertGreaterEqual(j["end_ms"], j["start_ms"])
                self.assertGreaterEqual(j["start_ms"], s["start_ms"] - TOL_MS, (s["name"], j))
                self.assertLessEqual(j["end_ms"], s["end_ms"] + TOL_MS, (s["name"], j))
            if s["parent"]:
                p = by_id[s["parent"]]
                self.assertLessEqual(p["start_ms"], s["start_ms"])
                self.assertLessEqual(s["end_ms"], p["end_ms"])
                self.assertEqual(p["iter"], s["iter"])

        def job_ms(s):
            return union_ms([(j["start_ms"], j["end_ms"]) for j in subtree_jobs(s)],
                            s["start_ms"], s["end_ms"])

        ops = {}
        for s in spans:
            if s["kind"] == "op" and s["iter"] >= 0:
                job = job_ms(s)
                calls = sum(job_ms(k) for k in kids.get(s["id"], []))
                self.assertLessEqual(calls, job + TOL_MS, s["name"])
                ops.setdefault(s["name"], []).append(
                    (len(subtree_jobs(s)), job / 1000, (s["end_ms"] - s["start_ms"] - job) / 1000))
        self.assertTrue(ops)
        m = result["metrics"]
        for name, xs in ops.items():
            self.assertAlmostEqual(m[f"spark.job_s.{name}"]["value"], statistics.median(x[1] for x in xs), places=6)
            self.assertAlmostEqual(m[f"spark.driver_s.{name}"]["value"], statistics.median(x[2] for x in xs), places=6)
            self.assertEqual(m[f"spark.jobs.{name}"]["value"], sorted(x[0] for x in xs)[(len(xs) - 1) // 2])
            self.assertGreater(m[f"spark.jobs.{name}"]["value"], 0)

    def test_sample_reduce(self):
        self.check("sample_reduce")

    def test_txlog_commits(self):
        self.check("txlog_commits")

    def test_index_follow(self):
        self.check("index_follow")


class FailsWithoutProgram(unittest.TestCase):
    def test_no_result_without_sources(self):
        os.makedirs(os.path.join(BENCH, "work"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(BENCH, "work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("build", "out", "work", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "sample_reduce",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
