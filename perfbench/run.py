#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from the checkout's sources first when needed (see
build.py), then runs it in one JVM: Spark local[4], one client thread, a
closed loop. Inputs are generated from --seed. With --trace 0 the result
holds the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics; a traced run also writes its span file and per-layer
table to perfbench/out/. Every file the run writes stays under perfbench/.

Exits non-zero, without a result line, if the program cannot be built, the
run fails or overruns, or its metrics do not match BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH = build.BENCH
ROOT = build.ROOT
OUT = os.path.join(BENCH, "out")
WORK = os.path.join(BENCH, "work")
# a whole run, build excepted, must end within 180 s
RUN_TIMEOUT_S = 165
WORKLOADS = ("sample_reduce", "txlog_commits", "index_follow")

# -UsePerfData: the JVM would otherwise write its counters under /tmp
JVM_FLAGS = ["-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as the
# JavaModuleOptions Spark's launcher injects)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def expected_metrics(trace):
    """Metric names BENCHMARK.json promises for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def valid_result(line, trace):
    try:
        res = json.loads(line)
    except ValueError:
        return "last line is not JSON"
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys are {sorted(res)}"
    want = expected_metrics(trace)
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    if got != want:
        missing, extra = set(want) - set(got), set(got) - set(want)
        return f"metrics differ from BENCHMARK.json: missing {sorted(missing)}, extra {sorted(extra)}"
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        return "attempted must be a whole number >= 1"
    return None


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    # smaller inputs, for the benchmark's own tests
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    a = ap.parse_args(argv)

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(OUT, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", OUT,
              "--scale", str(a.scale)])
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.communicate()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s (log: {os.path.relpath(log_path, ROOT)})",
                      file=sys.stderr)
                return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: program exited {proc.returncode} (log: {os.path.relpath(log_path, ROOT)})",
              file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        return 4
    problem = valid_result(lines[-1], a.trace)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 5
    for ln in lines:
        print(ln)
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main(sys.argv[1:])
    print(f"perfbench: finished in {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
