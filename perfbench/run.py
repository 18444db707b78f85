"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (see
build.py), makes the workload's inputs from the seed, runs the workload
closed-loop with one client for --seconds in a fresh JVM, checks the
outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).
Exits 1 when an output check fails, 2 when the run cannot be made.

Workloads (see BENCHMARK.json and perfbench/notes.json):
  scd_trickle   ~1% CSV deltas into a 100k-key dimension, faithful mode
  operator_mix  oracled rows of SparkEntry.queries over seeded input tables

Everything it writes goes under the build dir ($CARGO_TARGET_DIR, else
.bench_build).
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("scd_trickle", "operator_mix")
MIX_SF = 0.005
DEADLINE_S = 170
JVM_HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


T0 = time.time()


def log(msg):
    print(f"[perfbench] {time.time() - T0:6.1f}s {msg}", file=sys.stderr)


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def mix_data(seed):
    """Seeded operator_mix tables, generated once per (seed, scale)."""
    d = os.path.join(build.build_dir(), "data", f"mix-sf{MIX_SF}-seed{seed}")
    if not os.path.exists(os.path.join(d, "_done")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, MIX_SF)
        open(os.path.join(tmp, "_done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def run_jvm(classes, args, work, deadline):
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", "-Xss4m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}", "perfbench.Main"]
           + args)
    env = dict(os.environ, SPARK_GRAFT_FIXTURE_DIR=os.path.join(work, "fixtures"))
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = None
    finally:
        log.close()
    return rc


def oracle_failures(data, out, deadline):
    """Failures reported by tools/check_oracle.py for the dumped rows."""
    try:
        p = subprocess.run([sys.executable, "tools/check_oracle.py", data, out],
                           capture_output=True, text=True,
                           timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("oracle check did not finish in time")
    fails = [l for l in p.stdout.splitlines() if l.startswith("FAIL ")]
    m = re.search(r"^OK \((\d+)\)", p.stdout, re.M)
    if p.returncode != 0 or m is None:
        fails.append(f"check_oracle exited {p.returncode}: {p.stderr.strip()[-300:]}")
    return fails, int(m.group(1)) if m else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    for need in ("src/main/scala", "tools/check_oracle.py"):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the repository root")
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    try:
        classes = build.build()
    except (RuntimeError, subprocess.CalledProcessError) as e:
        fail(f"build failed: {e}")

    log("built")
    work = os.path.join(build.build_dir(), "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = mix_data(a.seed) if a.workload == "operator_mix" else os.path.join(work, "none")
    result_file = os.path.join(work, "result.json")
    log("inputs ready")
    rc = run_jvm(classes, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                           str(len(os.sched_getaffinity(0))), work, data, result_file],
                 work, deadline)
    if rc != 0 or not os.path.exists(result_file):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"benchmark JVM exited {rc}:\n{tail}")
    res = json.load(open(result_file))
    log(f"JVM done, phases {res['info'].get('phases_s')}")

    failures = list(res["failures"])
    failed = res["failed"]
    if a.workload == "operator_mix":
        fails, ok = oracle_failures(data, res["info"]["oracle_dir"], deadline)
        n_rows = len(res["info"]["row_median_s"])
        if ok != n_rows:
            fails.append(f"oracle check passed {ok} of {n_rows} rows")
        failures += fails
        failed += len(fails)
        log("oracle check done")

    if a.trace:
        got = res["per_layer"]
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        with open(result_file + ".info.json", "w") as fh:
            json.dump(res["info"], fh)
    else:
        got = res["end_to_end"]
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in got]
        if missing:
            fail(f"metrics not measured: {missing}")
        metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for f in failures:
        print(f"[perfbench] check failed: {f}", file=sys.stderr)
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
