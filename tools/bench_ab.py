#!/usr/bin/env python3
"""Interleaved A/B of the workload benchmark: a parent revision against the
working tree, one pair of untraced runs per seed.

    python3 tools/bench_ab.py --parent <rev> --workload <name> --seeds <a>-<b>

Run from the repository root. The parent is exported with `git archive`
into .bench_build/ab/<sha>/ (reused when already there) and runs its own
perfbench/run.py there; the change is the working tree. Which tree runs
first alternates from seed to seed, so a drift in host load lands on both
sides; every run lasts BENCHMARK.json's `run_seconds`. Prints one row per
run, then for each end-to-end metric of BENCHMARK.json the median and
quartiles of each side, the pairs the change wins and a verdict under the
metric's `bound` (a relative change of the median):

    within bound        the change's median is not worse than the parent's
                        by more than the bound
    worse beyond bound  it is
    unresolved          the parent's quartile spread, relative to its
                        median, is wider than the bound (too noisy to
                        tell), unless every change run beats every parent
                        run

plus the failed counts. Writes nothing outside .bench_build/.
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


def verdict(parent, change, better, bound):
    """The no-regression verdict of one metric from each side's values."""
    q1, p, q3 = quartiles(parent)
    c = quartiles(change)[1]
    every_better = (max(change) < min(parent) if better == "lower"
                    else min(change) > max(parent))
    if (q3 - q1) / abs(p) > bound and not every_better:
        return "unresolved"
    worse = (c - p) / abs(p) if better == "lower" else (p - c) / abs(p)
    return "worse beyond bound" if worse > bound else "within bound"


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
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    metrics = [(m["name"], m["better"], m["bound"]) for m in bench["end_to_end"]]
    sha, parent_tree = export(a.parent)
    trees = {"parent": parent_tree, "change": ROOT}
    rows = {}
    print("seed  side    first  %s correct failed/attempted  wall_s"
          % " ".join("%-17s" % m for m, _, _ in metrics))
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            out, wall = run(trees[side], a.workload, seed, seconds)
            vals = {m: (out or {}).get("metrics", {}).get(m, {}).get("value")
                    for m, _, _ in metrics}
            row = {"seed": seed, "side": side, "first": side == order[0],
                   "correct": bool(out and out.get("correct")),
                   "failed": out.get("failed") if out else None,
                   "attempted": out.get("attempted") if out else None,
                   "wall_s": round(wall, 1), **vals}
            rows[(seed, side)] = row
            print("%-5d %-7s %-6s %s %-7s %-18s %.1f" % (
                seed, side, "yes" if row["first"] else "no",
                " ".join("%-17s" % ("%.2f" % v if v is not None else "-") for v in vals.values()),
                row["correct"], "%s/%s" % (row["failed"], row["attempted"]), wall), flush=True)
    done = sorted({s for s, _ in rows})
    print("\nparent %s vs working tree, %s, %d seeds" % (sha[:12], a.workload, len(done)))
    for m, better, bound in metrics:
        pairs = [(rows[(s, "parent")][m], rows[(s, "change")][m]) for s in done
                 if rows[(s, "parent")][m] is not None and rows[(s, "change")][m] is not None]
        wins = sum(1 for pv, cv in pairs if (cv < pv if better == "lower" else cv > pv))
        for side, k in (("parent", 0), ("change", 1)):
            q1, q2, q3 = quartiles([pr[k] for pr in pairs])
            print("  %-17s %-6s median %9.2f  q1 %9.2f  q3 %9.2f" % (m, side, q2, q1, q3))
        print("  %-17s change wins %d of %d pairs (%s is better)" % (m, wins, len(pairs), better))
        if pairs:
            print("  %-17s %s (bound %.2f)" % (
                m, verdict([pv for pv, _ in pairs], [cv for _, cv in pairs], better, bound),
                bound))
    for side in ("parent", "change"):
        rs = [rows[(s, side)] for s in done]
        print("  %-6s failed runs %d, incorrect %d, failed passes %d" % (
            side, sum(r["failed"] is None for r in rs), sum(not r["correct"] for r in rs),
            sum(r["failed"] or 0 for r in rs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
