#!/usr/bin/env python3
"""Summarises a tools/jfr_bench.sh recording: CPU-sample shares of the timed
passes, by thread and by a fixed list of categories.

    python3 tools/jfr_top.py <out_dir>

<out_dir> holds bench.jfr and bench.log as tools/jfr_bench.sh writes them.
Only samples taken after the run's "set-up took" progress line count, so
session start, input generation and warm-up are left out. Stacks are read
with `jfr print --stack-depth 600`: at jfr's default depth of 5 frames every
caller is cut off and most samples would land in "other". The share of
samples whose stack the recorder itself truncated is printed too: a high share
means the recording needs a deeper `stackdepth` (tools/jfr_bench.sh records
512 frames).

A sample goes to the first category, in list order, any of whose patterns
occurs in any frame of its stack.
"""
import collections
import datetime
import json
import os
import re
import subprocess
import sys

CATEGORIES = [
    ("codegen compile", ["org.codehaus.janino.", "org.codehaus.commons.compiler."]),
    ("codegen source", ["expressions.codegen.", "WholeStageCodegenExec.doCodeGen"]),
    ("task deserialize", ["JavaSerializerInstance.deserialize", "java.io.ObjectInputStream."]),
    ("task serialize", ["JavaSerializerInstance.serialize", "java.io.ObjectOutputStream."]),
    ("closure cleaning", ["org.apache.spark.util.ClosureCleaner"]),
    ("planning", ["catalyst.rules.RuleExecutor.", "QueryExecution$.prepareForExecution",
                  "QueryExecution.createSparkPlan", "AdaptiveSparkPlanExec.reOptimize",
                  "catalyst.trees.TreeNode.transform"]),
    ("record parse", ["graft.sources.BibSources"]),
    ("record read", ["LineRecordReader.", "HadoopFileLinesReader."]),
    ("json repair", ["graft.functions.JsonRepair"]),
    ("http client", ["graft.operators.HttpClients", "jdk.internal.net.http.", "java.net.http."]),
    ("mock service", ["perfbench.MockServer", "sun.net.httpserver."]),
    ("xlsx", ["org.apache.poi.", "graft.sources.Excel"]),
    ("object hash aggregate", ["ObjectHashAggregateExec", "ObjectAggregationIterator"]),
    ("window", ["org.apache.spark.sql.execution.window."]),
    ("checkpoint store", ["MemoryStore.putIterator", "org.apache.spark.util.SizeEstimator"]),
    ("shuffle", ["org.apache.spark.shuffle.", "ShuffleExternalSorter.",
                 "ShuffleBlockFetcherIterator.", "UnsafeShuffleWriter."]),
    ("generated code", ["GeneratedClass$", "GeneratedIteratorForCodegenStage"]),
]


def die(msg):
    print("jfr_top: " + msg, file=sys.stderr)
    sys.exit(2)


def cutoff_ns(log_path):
    """Epoch nanoseconds at which the run's set-up ended."""
    launch_ms, setup_s = None, None
    with open(log_path, encoding="utf-8", errors="replace") as f:
        for line in f:
            if line.startswith("launch_ms="):
                launch_ms = int(line.split("=", 1)[1])
            m = re.search(r"set-up took ([0-9.]+) s", line)
            if m:
                setup_s = float(m.group(1))
    if launch_ms is None or setup_s is None:
        die("%s has no launch_ms= or 'set-up took' line" % log_path)
    return launch_ms * 1_000_000 + int(setup_s * 1e9)


def epoch_ns(stamp):
    """JFR's ISO-8601 start time (nanosecond fraction) as epoch nanoseconds."""
    m = re.match(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)$", stamp)
    if not m:
        die("unexpected time stamp %r" % stamp)
    zone = "+00:00" if m.group(3) == "Z" else m.group(3)
    base = datetime.datetime.fromisoformat(m.group(1) + zone)
    frac = (m.group(2) or "0")[:9].ljust(9, "0")
    return int(base.timestamp()) * 1_000_000_000 + int(frac)


def thread_group(name):
    """Thread name with task, stage and pool numbers folded away."""
    name = re.sub(r"\(TID \d+\)", "", name)
    name = re.sub(r"\d+(\.\d+)?", "N", name)
    return name.strip()


def frame_text(frame):
    method = frame.get("method", {})
    cls = method.get("type", {}).get("name", "")
    return "%s.%s" % (cls.replace("/", "."), method.get("name", ""))


def category(frames):
    for name, patterns in CATEGORIES:
        if any(p in f for f in frames for p in patterns):
            return name
    return "other"


def main(argv):
    if len(argv) != 1:
        die("usage: jfr_top.py <out_dir>")
    out = argv[0]
    jfr_file, log = os.path.join(out, "bench.jfr"), os.path.join(out, "bench.log")
    start = cutoff_ns(log)
    dump = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "600", "--events",
         "jdk.ExecutionSample", jfr_file],
        capture_output=True, text=True, check=True).stdout
    events = json.loads(dump)["recording"]["events"]
    by_thread, by_cat = collections.Counter(), collections.Counter()
    truncated = 0
    for e in events:
        v = e["values"]
        if epoch_ns(v["startTime"]) < start:
            continue
        thread = (v.get("sampledThread") or {}).get("javaName") or "?"
        stack = v.get("stackTrace") or {}
        frames = [frame_text(f) for f in stack.get("frames", [])]
        truncated += bool(stack.get("truncated"))
        by_thread[thread_group(thread)] += 1
        by_cat[category(frames)] += 1
    total = sum(by_cat.values())
    if total == 0:
        die("no CPU samples after set-up")
    print("%d CPU samples after set-up; %.1f%% of their stacks truncated by the recorder"
          % (total, 100.0 * truncated / total))
    for title, counts, n in (("by thread", by_thread, 12), ("by category", by_cat, None)):
        print("\n" + title)
        for name, k in counts.most_common(n):
            print("  %6.1f%%  %6d  %s" % (100.0 * k / total, k, name))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
