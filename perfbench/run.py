#!/usr/bin/env python3
"""Runs one benchmark workload and prints its JSON result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the library and the
benchmark with sbt (the benchmark's own build in perfbench/); later runs
reuse the build until a source file changes. All outputs go under
.bench_build/. Exits non-zero, printing no result, if the library sources
are missing or the build or the run fails.
"""
import hashlib
import os
import signal
import subprocess
import sys
import time

BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(OUT, "launch.txt")
STAMP = os.path.join(OUT, "launch.digest")

# Everything whose change calls for a rebuild.
SOURCES = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
           "perfbench/project", "perfbench/src/main"]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        base = os.path.join(ROOT, top)
        paths = []
        if os.path.isfile(base):
            paths = [base]
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in files]
        for p in sorted(paths):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and returns (exit code, stdout).
    On a timeout, or when this script is told to stop, the whole group is
    killed and waited for, so no build or benchmark process outlives it."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(3)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        print("perfbench: %s timed out" % cmd[0], file=sys.stderr)
        stop()
    return proc.returncode, out


def build(digest):
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return
    os.makedirs(OUT, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"]
    code, _ = run_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.exists(LAUNCH):
        die("build failed")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def git_sha():
    """HEAD of the repository rooted here; empty in a plain source tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return ""
    lines = r.stdout.split()
    ok = r.returncode == 0 and len(lines) == 2 and os.path.samefile(lines[0], ROOT)
    return lines[1] if ok else ""


def main(argv):
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die("run from the repository root: %s is missing" % need)
    digest = source_digest()
    build(digest)
    cp, opts = "", []
    for line in open(LAUNCH, encoding="utf-8").read().splitlines():
        key, _, val = line.partition("=")
        if key == "cp":
            cp = val
        elif key == "opt":
            opts.append(val)
    tmp = os.path.join(OUT, "perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    sha = git_sha()
    launch_ms = int(time.time() * 1000)
    cmd = [java] + opts + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Main"] + \
        argv + ["--launch-ms", str(launch_ms), "--git-sha", sha, "--source-digest", digest]
    code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                          text=True, encoding="utf-8")
    if code != 0:
        die("run failed with exit code %d" % code, code if code > 0 else 1)
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
