#!/bin/sh
# Where an executor thread's time goes in one benchmark run, by kernel stage.
#
#   tools/profile_kernel.sh extract-longturn 3
#
# Builds the benchmark, runs `perfbench/run.py --workload W --seed SEED
# --seconds 20 --trace 0` with a JFR recording (`settings=profile`, stack
# depth 512) passed through JDK_JAVA_OPTIONS, and prints the executor-thread
# execution samples per kernel stage, then the kernel's other samples and
# the non-kernel ones. A sample goes to the innermost stage method on its
# stack. `jfr print` gets `--stack-depth 512` too: its default of 5 frames
# ends below every stage method. The recording lives in a temporary
# directory that is removed on exit.
set -eu
usage="usage: tools/profile_kernel.sh WORKLOAD SEED"
W=${1:?$usage}
SEED=${2:?$usage}
cd "$(dirname "$0")/.."
# compile before the recording, so the only JVM it sees is the run's
python3 perfbench/build.py >/dev/null
out=$(mktemp -d "${TMPDIR:-/tmp}/profile_kernel.XXXXXX")
trap 'rm -rf "$out"' EXIT
JDK_JAVA_OPTIONS="-XX:FlightRecorderOptions:stackdepth=512 -XX:StartFlightRecording:settings=profile,filename=$out/run.jfr" \
  python3 perfbench/run.py --workload "$W" --seed "$SEED" --seconds 20 --trace 0 >&2
jfr print --stack-depth 512 --events jdk.ExecutionSample "$out/run.jfr" > "$out/samples.txt"
python3 - "$out/samples.txt" <<'EOF'
import re
import sys

# stage -> the methods that run it, as `jfr print` names them
STAGES = [
    ("clean", "graft.kernel.TextKernel.cleanText("),
    ("confused", "graft.kernel.TextKernel.correctConfusedCharacters("),
    ("spelling", "graft.kernel.TextKernel.correctSpelling("),
    ("patterns", "graft.kernel.TextKernel.detectAndFormatPatterns("),
    ("abbrev", "graft.kernel.TextKernel.correctAbbreviations("),
    ("format", "graft.kernel.TextKernel.formatText("),
    ("validate", "graft.kernel.TextKernel.validateConsistency("),
    ("identify", "graft.kernel.SpanTemplates$.identify("),
    ("fields", "graft.kernel.SpanTemplate.extractFields("),
    ("doctype", "graft.kernel.DocType$.classify"),
]
KERNEL = "graft.pipeline.ExtractionJob$.processTurn("

counts = {name: 0 for name, _ in STAGES}
counts["kernel other"] = 0
counts["non-kernel"] = 0
total = 0
thread = None
frames = None
for line in open(sys.argv[1], encoding="utf-8", errors="replace"):
    s = line.strip()
    if s.startswith("sampledThread = "):
        thread = s
    elif s.startswith("stackTrace = ["):
        frames = []
    elif frames is not None and s == "]":
        if thread is not None and '"Executor task launch worker' in thread:
            total += 1
            stage = next((name for f in frames for name, m in STAGES if f.startswith(m)), None)
            if stage is None:
                stage = "kernel other" if any(f.startswith(KERNEL) for f in frames) else "non-kernel"
            counts[stage] += 1
        thread = None
        frames = None
    elif frames is not None and s and s != "...":
        frames.append(s)

print(f"{total} executor samples")
for name, n in counts.items():
    share = 100.0 * n / total if total else 0.0
    print(f"{name:14s} {n:6d} {share:5.1f} %")
EOF
