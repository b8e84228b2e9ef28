"""Per-layer metrics from a traced run.

Inputs, all written by the harness at the end of the run:
- spans.jsonl: the benchmark's own spans around each call into a layer
  (op, sql.translate, sql.execute, action, plans.build, sources.write,
  sources.parse, server.request), epoch microseconds;
- plans.jsonl: Catalyst phase intervals (QueryExecution.tracker) and
  analyzed-plan node counts, one record per action;
- jobs.jsonl / stages.jsonl: SparkListener job intervals and per-stage
  task-metric sums.

Listener records are attributed to the operation whose time window holds
their start. Every metric is a total over round 0 of the workload, which
starts like the untraced runs' round 0, except the trace.* ones: the
median round's CPU time, defined as suite_cpu_s in the untraced runs (so
that trace.suite_cpu_s less suite_cpu_s is the tracing overhead), and its
wall time.
A span's self time is its duration less the part of it that its child
intervals cover (harness spans, then plan phases, then jobs).
"""
import bisect
import json
import os
import statistics

# name -> unit; the order is the order they are printed in
UNITS = {
    "sql.translate_ms": "ms", "sql.execute_ms": "ms",
    "plans.analysis_ms": "ms", "plans.optimizer_ms": "ms", "plans.planning_ms": "ms",
    "plans.plan_nodes": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_ms": "ms",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "scan.bytes_read": "bytes", "scan.rows_read": "rows",
    "scan.rows_read_per_row_returned": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.write_records": "records",
    "shuffle.read_bytes": "bytes", "spill.bytes": "bytes",
    "storage.bytes_written": "bytes", "storage.optimize_jobs": "count",
    "storage.optimize_ms": "ms",
    "sources.parse_ms": "ms",
    "server.request_ms": "ms", "server.self_ms": "ms", "server.response_bytes": "bytes",
    "trace.suite_cpu_s": "s", "trace.suite_s": "s",
}

# nesting depth of each interval kind: a span's children are the
# intervals of greater depth inside it
DEPTH = {"op": 0, "server.request": 1, "sql.translate": 2, "sql.execute": 2,
         "action": 2, "plans.build": 2, "sources.write": 2, "sources.parse": 2,
         "plans.parsing": 3, "plans.analysis": 3, "plans.optimization": 3,
         "plans.planning": 3, "spark.job": 4}


def read_jsonl(out, name):
    """The records of one of the harness's JSON-lines files ([] if absent)."""
    p = os.path.join(out, name)
    if not os.path.exists(p):
        return []
    with open(p, encoding="utf-8") as f:
        return [json.loads(x) for x in f if x.strip()]


def _covered(lo, hi, ivs):
    """Length of [lo, hi) covered by the union of intervals ivs."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in ivs if b > lo and a < hi)
    total, end = 0, lo
    for a, b in cut:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


class Ops:
    """Operation windows of the traced rounds, for attribution by time."""

    def __init__(self, ops, rounds):
        self.ops = sorted((o for o in ops if o["op"] != "__round__" and o["round"] in rounds),
                          key=lambda o: o["start_us"])
        self.starts = [o["start_us"] for o in self.ops]

    def owner(self, t_us):
        i = bisect.bisect_right(self.starts, t_us) - 1
        if i >= 0 and t_us <= self.ops[i]["end_us"]:
            return self.ops[i]
        return None


def per_layer(out, ops):
    """Layer metrics of traced round 0."""
    windows = Ops(ops, {0})
    key = {id(o): f"{o['op']}#{o['round']}" for o in windows.ops}
    ivs = {}  # op key -> list of (depth, name, start, end)

    def add(o, name, a, b):
        ivs.setdefault(key[id(o)], []).append((DEPTH[name], name, a, b))

    for s in read_jsonl(out, "spans.jsonl"):
        o = windows.owner(s["start_us"])
        if o is not None and s["name"] in DEPTH:
            add(o, s["name"], s["start_us"], s["end_us"])
    nodes = 0
    for p in read_jsonl(out, "plans.jsonl"):
        starts = [v[0] for v in p["phases"].values()]
        o = windows.owner(min(starts) * 1000) if starts else None
        if o is None:
            continue
        nodes += p["plan_nodes"]
        for ph, (a, b) in p["phases"].items():
            if f"plans.{ph}" in DEPTH:
                add(o, f"plans.{ph}", a * 1000, b * 1000)
    job_owner = {}
    for j in read_jsonl(out, "jobs.jsonl"):
        o = windows.owner(j["start_ms"] * 1000)
        if o is None:
            continue
        add(o, "spark.job", j["start_ms"] * 1000, j["end_ms"] * 1000)
        for st in j["stages"]:
            job_owner[st] = o
    stages = [(job_owner[s["stage"]], s) for s in read_jsonl(out, "stages.jsonl")
              if s["stage"] in job_owner]

    # self time of every interval, summed by name
    self_ms = {}
    total_ms = {}
    for items in ivs.values():
        for d, name, a, b in items:
            kids = [(x, y) for dd, _, x, y in items if dd > d and x < b and y > a]
            self_ms[name] = self_ms.get(name, 0) + (b - a - _covered(a, b, kids)) / 1000
            total_ms[name] = total_ms.get(name, 0) + (b - a) / 1000

    def ssum(field, pred=lambda o: True):
        return sum(s[field] for o, s in stages if pred(o))

    is_opt = lambda o: o["kind"] == "optimize"  # noqa: E731
    rows_out = sum(max(0, o["rows"]) for o in windows.ops) + ssum("out_rows")
    engine_ms = 0  # engine time (plan phases + jobs) inside server requests
    for items in ivs.values():
        eng = [(a, b) for d, _, a, b in items if d >= 3]
        engine_ms += sum(_covered(a, b, eng) for _, name, a, b in items
                         if name == "server.request") / 1000
    resp_bytes = 0
    for o in windows.ops:
        p = os.path.join(out, "results", f"{o['op']}.r{o['round']}.tsv")
        if os.path.exists(p):
            resp_bytes += os.path.getsize(p)
    job_ms = {}
    for k, items in ivs.items():
        jobs = [(a, b) for _, name, a, b in items if name == "spark.job"]
        for _, name, a, b in items:
            if name == "op":
                job_ms[k] = (b - a - _covered(a, b, jobs)) / 1000
    round_ms, round_cpu_ms = {}, {}
    for o in ops:
        if o["op"] != "__round__":
            round_ms[o["round"]] = round_ms.get(o["round"], 0) + (o["end_us"] - o["start_us"]) / 1000
            round_cpu_ms[o["round"]] = round_cpu_ms.get(o["round"], 0) + o["cpu_us"] / 1000
    rows_read = ssum("in_rows")
    m = {
        "sql.translate_ms": total_ms.get("sql.translate", 0),
        "sql.execute_ms": self_ms.get("sql.execute", 0),
        "plans.analysis_ms": total_ms.get("plans.parsing", 0) + total_ms.get("plans.analysis", 0)
        + self_ms.get("plans.build", 0),
        "plans.optimizer_ms": total_ms.get("plans.optimization", 0),
        "plans.planning_ms": total_ms.get("plans.planning", 0),
        "plans.plan_nodes": nodes,
        "spark.jobs": sum(1 for items in ivs.values() for i in items if i[1] == "spark.job"),
        "spark.stages": len(stages),
        "spark.tasks": ssum("tasks"),
        "spark.driver_ms": sum(job_ms.values()),
        "exec.task_run_ms": ssum("run_ms"),
        "exec.task_cpu_ms": ssum("cpu_ns") / 1e6,
        "exec.gc_ms": ssum("gc_ms"),
        "scan.bytes_read": ssum("in_bytes"),
        "scan.rows_read": rows_read,
        "scan.rows_read_per_row_returned": rows_read / rows_out if rows_out else 0.0,
        "shuffle.write_bytes": ssum("shw_bytes"),
        "shuffle.write_records": ssum("shw_rows"),
        "shuffle.read_bytes": ssum("shr_bytes"),
        "spill.bytes": ssum("spill_disk"),
        "storage.bytes_written": ssum("out_bytes", is_opt),
        "storage.optimize_jobs": sum(1 for k, items in ivs.items() for i in items
                                     if i[1] == "spark.job" and k.startswith("optimize.")),
        "storage.optimize_ms": sum((o["end_us"] - o["start_us"]) / 1000
                                   for o in windows.ops if is_opt(o)),
        "sources.parse_ms": total_ms.get("sources.parse", 0),
        "server.request_ms": total_ms.get("server.request", 0),
        "server.self_ms": total_ms.get("server.request", 0) - engine_ms,
        "server.response_bytes": resp_bytes,
        "trace.suite_cpu_s": statistics.median(round_cpu_ms.values()) / 1000,
        "trace.suite_s": statistics.median(round_ms.values()) / 1000,
    }
    with open(os.path.join(out, "layers.json"), "w") as f:
        json.dump({"self_ms": dict(sorted(self_ms.items())),
                   "total_ms": dict(sorted(total_ms.items())),
                   "metrics": m}, f, indent=1)
    return {k: m[k] for k in UNITS}
