#!/usr/bin/env bash
# JIT compile time and generated classes of one perfbench run.
#
#   scripts/jit_profile.sh <workload> <seed>
#
# Runs `python3 perfbench/run.py --workload <workload> --seed <seed>
# --seconds 1 --trace 0` from the root of the checkout with a JFR
# recording started through JAVA_TOOL_OPTIONS (jdk.Compilation at a 0 ms
# threshold, jdk.ClassDefine), then prints
#   - the JIT compiler's time by package of the compiled method, with
#     Spark's generated classes (Janino) apart;
#   - the Janino compile count: each compile defines one GeneratedClass;
#   - the classes Spark generated, by kind (SpecificUnsafeProjection,
#     GeneratedIteratorForCodegenStage, ...), the GeneratedClass of each
#     compile and the classes nested in it counted together.
# The harness ends with Runtime.halt, which skips JFR's dump at exit, so
# the recording is read from its disk repository, written in 1 MB chunks;
# every chunk that parses is read (the last one, cut by the halt, may
# not). JFR's own overhead inflates the compile times. perfbench/ is
# only read; the recording stays in a temporary directory, printed at
# the end.
set -euo pipefail
[ $# -eq 2 ] || { echo "usage: $0 <workload> <seed>" >&2; exit 2; }
root=$(cd "$(dirname "$0")/.." && pwd)
work=$(mktemp -d "${TMPDIR:-/tmp}/jit_profile.XXXXXX")
repo="$work/repository"
mkdir -p "$repo"

# "+" adds an event setting that the (empty) template does not name
events="+jdk.Compilation#enabled=true,+jdk.Compilation#threshold=0ms,+jdk.ClassDefine#enabled=true"
export JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:-} -XX:FlightRecorderOptions:repository=$repo,maxchunksize=1M -XX:StartFlightRecording:settings=none,disk=true,$events"
(cd "$root" && python3 perfbench/run.py --workload "$1" --seed "$2" --seconds 1 --trace 0) \
  > "$work/run.json" 2> "$work/run.log" || { tail -20 "$work/run.log" >&2; exit 1; }
unset JAVA_TOOL_OPTIONS

# each JVM records into its own subdirectory; the harness starts last
rec=$(ls -dt "$repo"/*/ | head -1)
for c in "$rec"*.jfr; do
  jfr print --json --events jdk.Compilation,jdk.ClassDefine "$c" > "$c.json" 2>/dev/null \
    || rm -f "$c.json"
done

python3 - "$rec" <<'EOF'
import collections, glob, json, re, sys

def seconds(iso):  # ISO-8601 duration such as PT0.0123S or PT1M2.5S
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", iso or "PT0S")
    h, mi, s = (float(x) if x else 0.0 for x in m.groups())
    return h * 3600 + mi * 60 + s

def owner(name):
    name = name.replace("/", ".")
    if "GeneratedClass" in name:
        return "(generated classes)"
    parts = name.split(".")[:-1]
    return ".".join(parts[:3]) or "(default package)"

compile_s, compile_n, tier2 = collections.Counter(), collections.Counter(), 0.0
kinds = collections.Counter()
files = sorted(glob.glob(sys.argv[1] + "*.jfr.json"))
for f in files:
    for e in json.load(open(f))["recording"]["events"]:
        v = e["values"]
        if e["type"] == "jdk.Compilation":
            s = seconds(v.get("duration"))
            k = owner(v["method"]["type"]["name"])
            compile_s[k] += s
            compile_n[k] += 1
            if v.get("compileLevel") == 4:
                tier2 += s
        elif e["type"] == "jdk.ClassDefine":
            name = v["definedClass"]["name"]
            if "GeneratedClass" in name:
                # GeneratedClass itself (one per compile), or a class in it
                # such as GeneratedClass$SpecificOrdering
                kind = re.sub(r"\d+$", "", name.rsplit("$", 1)[-1]) if "$" in name else "GeneratedClass"
                kinds[kind or "(anonymous)"] += 1

total = sum(compile_s.values())
print(f"chunks read: {len(files)} of {len(glob.glob(sys.argv[1] + '*.jfr'))}")
print(f"JIT: {sum(compile_n.values())} compilations, {total:.1f} s ({tier2:.1f} s at C2)")
print("JIT compile time by package of the compiled method:")
for k, s in compile_s.most_common(15):
    print(f"  {s:8.2f} s  {compile_n[k]:6d}  {k}")
print(f"Janino compiles: {kinds['GeneratedClass']}")
print(f"generated classes: {sum(kinds.values())}")
for k, n in kinds.most_common():
    print(f"  {n:6d}  {k}")
EOF
echo "perfbench result: $(tail -1 "$work/run.json")"
echo "recording: $rec"
