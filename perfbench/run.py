#!/usr/bin/env python3
"""graft's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload hits_olap --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The first call builds graft and the
JVM harness with sbt into `.bench_build/perfbench` (once per checkout);
each seed's inputs are generated once into the same directory. The last
line of standard output is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(WORK, "sbt-target", "scala-2.13", "classes")
DEADLINE_S = 170
T_START = T_READY = time.monotonic()

sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import hits_queries  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("hits_olap", "pipeline_sf01", "ingest_http")
# pipeline operators and kernels: dedup against history, sessionize, BPE,
# IVF ANN; they read documents/embeddings/events. The others are left
# out to keep a run short: see README.md.
PIPELINE_QUERIES = (
    "q111_dedup_against_history", "q98_sessionize", "q108_bpe_tokenize", "q100_ivf_ann")
# the multi-job operators
PIPELINE_HEAVY = ("q111_dedup_against_history", "q98_sessionize")
INGEST_BATCHES, INGEST_ROWS, INGEST_KEYS = 4, 2000, 3000
INGEST_HEAVY = ("optimize.", "final.")
KEEP_SEEDS = 12

E2E_UNITS = {"setup_s": "s", "suite_cpu_s": "s", "query_cpu_geomean_ms": "ms",
             "heavy_cpu_s": "s", "retained_heap_mb": "MB"}


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def remaining():
    """Seconds left of a run's DEADLINE_S, counted after the build (a
    checkout's first run may also build, which takes longer)."""
    return DEADLINE_S - (time.monotonic() - T_READY)


# ---------------------------------------------------------------- build

def spark_home():
    """The installed Spark: $SPARK_HOME, else the one whose spark-submit
    is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return home


def _source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft plus the harness once per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft sources (src/main/scala/graft) not found "
                         "next to perfbench/; run from a graft checkout")
    os.makedirs(WORK, exist_ok=True)
    digest = _source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(CLASSES) and os.path.exists(stamp) and \
                open(stamp).read() == digest:
            return
        sbt = shutil.which("sbt")
        if sbt is None:
            raise SystemExit("perfbench: sbt not found on PATH")
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(), SBT_OPTS=(
            "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"))
        log("building graft + harness with sbt ...")
        t0 = time.monotonic()
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: sbt compile failed ({r.returncode})")
        with open(stamp, "w") as f:
            f.write(digest)
        log(f"build done in {time.monotonic() - t0:.0f} s")


# ---------------------------------------------------------------- inputs

def _fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def inputs(workload, seed):
    """Generate the workload's inputs for `seed` once (keyed also by the
    generator's source and sizes); keep the newest KEEP_SEEDS sets."""
    h = hashlib.sha256(open(gen.__file__, "rb").read())
    h.update(repr((INGEST_BATCHES, INGEST_ROWS, INGEST_KEYS)).encode())
    tag = h.hexdigest()[:12]
    base = os.path.join(WORK, "data", workload)
    d = os.path.join(base, f"seed{seed}-{tag}")
    if not os.path.exists(os.path.join(d, ".done")):
        os.makedirs(base, exist_ok=True)
        old = sorted((os.path.join(base, x) for x in os.listdir(base)), key=os.path.getmtime)
        stale = [x for x in old if not x.endswith(tag)]
        stale += [x for x in old if x.endswith(tag)][:max(0, len(old) - len(stale) - KEEP_SEEDS + 1)]
        for x in stale:
            shutil.rmtree(x, ignore_errors=True)
        _fresh(d)
        t0 = time.monotonic()
        if workload == "hits_olap":
            gen.hits(os.path.join(d, "hits"), gen.HITS_ROWS, seed)
        elif workload == "pipeline_sf01":
            gen.pipeline(os.path.join(d, "full"), seed)
            gen.pipeline(os.path.join(d, "tiny"), seed, **gen.TINY_PIPELINE)
        else:
            batches = gen.ingest_batches(seed, INGEST_BATCHES, INGEST_ROWS, INGEST_KEYS)
            for e, bs in batches.items():
                os.makedirs(os.path.join(d, "full", e))
                for i, rs in enumerate(bs):
                    with open(os.path.join(d, "full", e, f"b{i:02d}.tsv"), "w") as f:
                        f.write("".join("\t".join(map(str, r)) + "\n" for r in rs))
        open(os.path.join(d, ".done"), "w").close()
        log(f"generated {workload} inputs for seed {seed} in {time.monotonic() - t0:.1f} s")
    # the operation lists the harness reads
    with open(os.path.join(d, "hits_queries.sql"), "w") as f:
        f.write("".join(q["ch"] + "\n" for q in hits_queries.queries(gen.EXAMPLE_RU_HASH, gen.HITS_ROWS)))
    with open(os.path.join(d, "pipeline_queries.txt"), "w") as f:
        f.write("\n".join(PIPELINE_QUERIES) + "\n")
    return d


# ---------------------------------------------------------------- harness

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def harness(workload, data, out, seconds, trace):
    _fresh(out)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    jars = os.path.join(spark_home(), "jars", "*")
    cmd = [shutil.which("java") or "java", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{jars}", "perfbench.Harness",
            "--workload", workload, "--data", data, "--out", out,
            "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    budget = remaining() - 8
    if budget < 30:
        raise SystemExit("perfbench: not enough time left to run the harness")
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=budget)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: harness exited with {r.returncode}")


# ---------------------------------------------------------------- metrics

def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-6)) for x in xs) / len(xs))


def end_to_end(workload, ops, summary):
    """The end-to-end metrics of an untraced run. Operation costs are the
    process CPU time spent inside each operation (see README.md: wall
    times follow the host's steal time); per operation the median over
    the measured rounds."""
    by_round, by_op = {}, {}
    for o in ops:
        if o["op"] == "__round__":
            continue
        ms = o["cpu_us"] / 1000.0
        by_round[o["round"]] = by_round.get(o["round"], 0.0) + ms
        by_op.setdefault(o["op"], []).append(ms)
    med = {k: statistics.median(v) for k, v in by_op.items()}
    if workload == "hits_olap":
        heavy = [f"q{i:02d}" for i in hits_queries.HEAVY]
    elif workload == "pipeline_sf01":
        heavy = list(PIPELINE_HEAVY)
    else:
        heavy = [k for k in med if k.startswith(INGEST_HEAVY)]
    setup = summary["session_s"] + summary["warmup_s"] + statistics.median(summary["register_s"])
    return {
        "setup_s": setup,
        "suite_cpu_s": statistics.median(by_round.values()) / 1000.0,
        "query_cpu_geomean_ms": geomean(list(med.values())),
        "heavy_cpu_s": sum(med[k] for k in heavy) / 1000.0,
        "retained_heap_mb": summary["retained_heap_mb"],
    }


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    phases = {}

    def stamp(name):
        phases[name] = time.monotonic() - T_START - sum(phases.values())

    build()
    stamp("build")
    global T_READY
    T_READY = time.monotonic()
    data = inputs(a.workload, a.seed)
    stamp("inputs")
    out = os.path.join(WORK, "run", a.workload)
    harness(a.workload, data, out, a.seconds, bool(a.trace))
    stamp("harness")
    ops = layers.read_jsonl(out, "ops.jsonl")
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    attempted, failed, unexpected, notes = check.check(a.workload, data, out, ops)
    for n in notes[:20]:
        log("check:", n)
    if a.trace:
        metrics = layers.per_layer(out, ops)
        units = layers.UNITS
    else:
        metrics = end_to_end(a.workload, ops, summary)
        units = E2E_UNITS
    stamp("check")
    rounds = len({o["round"] for o in ops})
    log(f"{a.workload}: {rounds} round(s), {attempted} ops, {failed} failed; "
        + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    print(json.dumps({
        "correct": unexpected == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
