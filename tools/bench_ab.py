#!/usr/bin/env python3
"""Interleaved A/B of the workload benchmark: a parent revision against the
working tree, one pair of untraced runs per seed.

    python3 tools/bench_ab.py --parent <rev> --workload <name> --seeds <a>-<b>

Run from the repository root. The parent is exported with `git archive`
into .bench_build/ab/<sha>/ (reused when already there) and runs its own
perfbench/run.py there; the change is the working tree. Which tree runs
first alternates from seed to seed, so a drift in host load lands on both
sides; every run lasts BENCHMARK.json's `run_seconds`. Prints one row per
run, then for `setup_s` (lower is better) and `records_per_cpu_s` (higher
is better) the median and quartiles of each side and the pairs the change
wins, plus the failed counts. Writes nothing outside .bench_build/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import time

ROOT = os.getcwd()
AB = os.path.join(ROOT, ".bench_build", "ab")
METRICS = [("setup_s", "lower"), ("records_per_cpu_s", "higher")]


def export(rev):
    """The parent tree for `rev`, exported once and reused."""
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout.strip()
    tree = os.path.join(AB, sha)
    done = os.path.join(tree, ".exported")
    if not os.path.exists(done):
        os.makedirs(tree, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        with tarfile.open(fileobj=archive.stdout, mode="r|") as tar:
            tar.extractall(tree, filter="data")
        if archive.wait() != 0:
            sys.exit("bench_ab: git archive %s failed" % sha)
        open(done, "w").close()
    return sha, tree


def run(tree, workload, seed, seconds):
    """One untraced run in `tree`: its last stdout line parsed, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=tree, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if r.returncode == 0 and lines else None
    if out is None:
        sys.stderr.write("bench_ab: run in %s failed (exit %d): %s\n"
                         % (tree, r.returncode, r.stderr.strip()[-400:]))
    return out, time.time() - t0


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def seeds(spec):
    a, _, b = spec.partition("-")
    return range(int(a), int(b or a) + 1)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True, help="parent revision (any git rev)")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="inclusive range, e.g. 950-959")
    a = p.parse_args()
    if not os.path.exists(os.path.join(ROOT, "perfbench", "run.py")):
        sys.exit("bench_ab: run from the repository root")
    seconds = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
    sha, parent_tree = export(a.parent)
    trees = {"parent": parent_tree, "change": ROOT}
    rows = {}
    print("seed  side    first  %-8s %-17s correct failed/attempted  wall_s"
          % tuple(m for m, _ in METRICS))
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            out, wall = run(trees[side], a.workload, seed, seconds)
            vals = {m: (out or {}).get("metrics", {}).get(m, {}).get("value") for m, _ in METRICS}
            row = {"seed": seed, "side": side, "first": side == order[0],
                   "correct": bool(out and out.get("correct")),
                   "failed": out.get("failed") if out else None,
                   "attempted": out.get("attempted") if out else None,
                   "wall_s": round(wall, 1), **vals}
            rows[(seed, side)] = row
            print("%-5d %-7s %-6s %-8s %-17s %-7s %-18s %.1f" % (
                seed, side, "yes" if row["first"] else "no",
                "%.2f" % vals["setup_s"] if vals["setup_s"] is not None else "-",
                "%.1f" % vals["records_per_cpu_s"]
                if vals["records_per_cpu_s"] is not None else "-",
                row["correct"], "%s/%s" % (row["failed"], row["attempted"]), wall), flush=True)
    done = sorted({s for s, _ in rows})
    print("\nparent %s vs working tree, %s, %d seeds" % (sha[:12], a.workload, len(done)))
    for m, better in METRICS:
        pairs = [(rows[(s, "parent")][m], rows[(s, "change")][m]) for s in done
                 if rows[(s, "parent")][m] is not None and rows[(s, "change")][m] is not None]
        wins = sum(1 for pv, cv in pairs if (cv < pv if better == "lower" else cv > pv))
        for side, k in (("parent", 0), ("change", 1)):
            q1, q2, q3 = quartiles([pr[k] for pr in pairs])
            print("  %-17s %-6s median %9.2f  q1 %9.2f  q3 %9.2f" % (m, side, q2, q1, q3))
        print("  %-17s change wins %d of %d pairs (%s is better)" % (m, wins, len(pairs), better))
    for side in ("parent", "change"):
        rs = [rows[(s, side)] for s in done]
        print("  %-6s failed runs %d, incorrect %d, failed passes %d" % (
            side, sum(r["failed"] is None for r in rs), sum(not r["correct"] for r in rs),
            sum(r["failed"] or 0 for r in rs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
