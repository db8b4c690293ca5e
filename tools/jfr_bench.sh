#!/usr/bin/env bash
# Runs one untraced benchmark workload under Java Flight Recorder.
#
#   tools/jfr_bench.sh <workload> <seed> <seconds> [out_dir]
#
# Run from the repository root after one `python3 perfbench/run.py ...` has
# built the benchmark (that writes .bench_build/launch.txt, the classpath and
# JVM options this script launches with). Writes to out_dir (default
# .bench_build/jfr/<workload>-<seed>): bench.jfr (the recording, `profile`
# settings, stacks up to 512 frames deep: at JFR's default of 64 a Spark
# task's stack is cut off before the operator frames that name its work),
# bench.log (the run's progress lines, first line
# `launch_ms=<epoch ms>`) and result.json (its JSON result). Then summarise:
#
#   python3 tools/jfr_top.py <out_dir>
#
# Reads perfbench/ only through launch.txt; changes nothing there.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <workload> <seed> <seconds> [out_dir]" >&2
  exit 2
fi
workload=$1 seed=$2 seconds=$3
out=${4:-.bench_build/jfr/$workload-$seed}
launch=.bench_build/launch.txt
if [ ! -f "$launch" ]; then
  echo "$0: $launch is missing; run python3 perfbench/run.py once first" >&2
  exit 2
fi

cp= opts=()
while IFS= read -r line; do
  case $line in
    cp=*) cp=${line#cp=} ;;
    opt=*) opts+=("${line#opt=}") ;;
  esac
done <"$launch"

mkdir -p "$out" .bench_build/perfbench/tmp
java=${JAVA_HOME:+$JAVA_HOME/bin/}java
launch_ms=$(date +%s%3N)
echo "launch_ms=$launch_ms" >"$out/bench.log"
"$java" "${opts[@]}" -XX:FlightRecorderOptions:stackdepth=512 \
  "-XX:StartFlightRecording=filename=$out/bench.jfr,settings=profile,dumponexit=true" \
  -Djava.io.tmpdir=.bench_build/perfbench/tmp -cp "$cp" perfbench.Main \
  --workload "$workload" --seed "$seed" --seconds "$seconds" --trace 0 \
  --launch-ms "$launch_ms" >"$out/result.json" 2>>"$out/bench.log"
echo "$out/bench.jfr"
