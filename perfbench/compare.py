"""A/B comparator: runs the benchmark on two checkouts in alternating
parent/change pairs and reports, per workload and end-to-end metric, each
side's median and quartiles, the change's win fraction, and a verdict.

    python3 perfbench/compare.py --parent <checkout> --change <checkout> \
        [--workloads scd_trickle,operator_mix] [--pairs 10] \
        [--seed 1000] [--out ab.json]

Both sides run this directory's run.py (identical benchmark code and
settings; each checkout supplies its own program sources and build dir).
Pair i uses seed <seed>+i on both sides and runs the parent first when i
is even, the change first when it is odd.

Verdicts, per metric and workload, with the bound from BENCHMARK.json:
  gain        the change wins >= 90% of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              own interquartile range
  regression  the change's median is worse than the parent's by more
              than the bound
  unresolved  fewer than 10 pairs, or the parent's own spread is wider
              than the bound and the change does not read better than the
              parent on every pair
  same        otherwise
A side whose run fails a check makes the workload's verdicts "failed".
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))


def run(checkout, workload, seed):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
                        "--trace", "0"], cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        return None
    res = json.loads(lines[-1])
    return res if res["correct"] else None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    win_frac = wins / len(parent)
    worse = (cmed - pmed) if lower else (pmed - cmed)
    spread = pq3 - pq1
    if len(parent) < 10:
        v = "unresolved"
    elif win_frac >= 0.9 and -worse > spread:
        v = "gain"
    elif worse > metric["bound"] * abs(pmed):
        v = "regression"
    elif spread > metric["bound"] * abs(pmed) and not (
            (max(change) < min(parent)) if lower else (min(change) > max(parent))):
        v = "unresolved"
    else:
        v = "same"
    return win_frac, v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--out")
    a = ap.parse_args()
    report = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change),
              "pairs": a.pairs, "run_seconds": SPEC["run_seconds"], "workloads": {}}
    for w in a.workloads.split(","):
        sides = {"parent": [], "change": []}
        failed = False
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run(getattr(a, side), w, a.seed + i)
                print(f"[compare] {w} pair {i} {side}: "
                      f"{'ok' if res else 'FAILED'}", file=sys.stderr)
                failed |= res is None
                sides[side].append(res)
        rows = {}
        if not failed:
            for m in SPEC["end_to_end"]:
                p = [r["metrics"][m["name"]]["value"] for r in sides["parent"]]
                c = [r["metrics"][m["name"]]["value"] for r in sides["change"]]
                win, v = verdict(m, p, c)
                rows[m["name"]] = {
                    "unit": m["unit"], "better": m["better"], "bound": m["bound"],
                    "parent": dict(zip(("q1", "median", "q3"), quartiles(p))),
                    "change": dict(zip(("q1", "median", "q3"), quartiles(c))),
                    "ratio": statistics.median(c) / statistics.median(p),
                    "win_fraction": win, "verdict": v}
        report["workloads"][w] = {"failed": failed, "metrics": rows}
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
