#!/usr/bin/env bash
# Sampling profile of a graft.Profile run with Java Flight Recorder, which
# ships with the JDK: method samples every 1 ms from every thread, including
# the driver-side work of each micro-batch (planning, code generation,
# commit), histogrammed per thread group.
#
# Usage (from the repository root; the arguments go to graft.Profile):
#   scripts/stackprof.sh --reps 2 t q21_sliding_window
#   scripts/stackprof.sh q150_stream_nexmark_hot
#
# Prints, for each thread group (stream thread, executor tasks, AQE and
# broadcast helpers, other), its sample count and hottest top frames; then
# every static initialiser (`<clinit>`) by the samples taken anywhere under
# it (inclusive, all threads), so a one-off class initialisation shows up by
# name instead of as the ICU or table-building frames it runs; then the path
# of the recording for `jfr print` / JDK Mission Control.
# The settings are JDK's profile.jfc with method sampling at 1 ms.
set -euo pipefail
[[ $# -gt 0 ]] || { sed -n '2,17p' "$0"; exit 1; }

OUT=$(mktemp -d -t graft-stackprof-XXXXXX)
JFC="$OUT/profile-1ms.jfc"
JFR="$OUT/profile.jfr"
JAVA_HOME=${JAVA_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v java)")")")}
# profile.jfc samples Java methods every 10 ms (20 ms for native)
sed -e 's|<setting name="period" control="method-sampling-java-interval">[^<]*<|<setting name="period" control="method-sampling-java-interval">1 ms<|' \
    -e 's|<setting name="period" control="method-sampling-native-interval">[^<]*<|<setting name="period" control="method-sampling-native-interval">1 ms<|' \
  "$JAVA_HOME/lib/jfr/profile.jfc" > "$JFC"
grep -q 'method-sampling-java-interval">1 ms<' "$JFC" || { echo "could not derive $JFC"; exit 1; }

sbt --batch "set javaOptions += \"-XX:StartFlightRecording=settings=$JFC,filename=$JFR,dumponexit=true\"" \
  "runMain graft.Profile $*"

# depth 64 (the recording's own stack depth): the <clinit> roll-up needs
# the frames below the top one
jfr print --json --events jdk.ExecutionSample --stack-depth 64 "$JFR" > "$OUT/samples.json"
python3 - "$OUT/samples.json" <<'EOF'
import collections, json, re, sys

GROUPS = [
    ("stream thread", re.compile(r"^stream execution thread")),
    ("executor tasks", re.compile(r"^Executor task launch worker")),
    ("AQE / broadcast helpers", re.compile(r"QueryStageCreator|broadcast-exchange|subquery")),
]

def group(thread):
    return next((g for g, rx in GROUPS if rx.search(thread)), "other")

samples = collections.Counter()
frames = collections.defaultdict(collections.Counter)
clinits = collections.Counter()
for ev in json.load(open(sys.argv[1]))["recording"]["events"]:
    v = ev["values"]
    g = group((v.get("sampledThread") or {}).get("javaName") or "")
    stack = (v.get("stackTrace") or {}).get("frames") or []
    top = stack[0]["method"] if stack else None
    name = f'{top["type"]["name"]}.{top["name"]}' if top else "<no frame>"
    samples[g] += 1
    frames[g][name] += 1
    # a class initialised inside another's <clinit> counts for both
    for t in {f'{f["method"]["type"]["name"]}.<clinit>'
              for f in stack if f["method"]["name"] == "<clinit>"}:
        clinits[t] += 1

total = sum(samples.values())
for g, n in samples.most_common():
    print(f"=== {g}: {n} samples ({100.0 * n / max(total, 1):.1f}%) ===")
    for name, c in frames[g].most_common(15):
        print(f"{c:7d}  {name}")
print("=== static initialisers: samples under each <clinit>, all threads ===")
for name, c in clinits.most_common(15):
    print(f"{c:7d}  {100.0 * c / max(total, 1):5.1f}%  {name}")
EOF
echo "recording: $JFR"
