"""Metrics from one run's records.

The end-to-end metrics are the same five for every workload; what an
"operation" is depends on the workload:

- dashboard: one SELECT, collected;
- ingest: one statement of the change stream (INSERT, ALTER UPDATE,
  DELETE, OPTIMIZE FINAL, or the read that follows each batch);
- pipeline: one operator stage call, materialised.

In a traced run every second timed operation is traced (see
`Tracer.traced` in the harness); the per-layer metrics come from those
and the tracing overhead from comparing them with the untraced ones.
"""
import json
import os
import statistics
from collections import defaultdict

import inputs

END_TO_END = ["setup_s", "op_ms_mean", "ops_per_s", "rows_per_s", "heap_live_mb"]
UNITS = {"setup_s": "s", "op_ms_mean": "ms", "ops_per_s": "1/s", "rows_per_s": "rows/s", "heap_live_mb": "MB"}

PER_OP = {  # per-layer metric -> (traced-op field, unit), averaged per traced operation
    "plans.parse_ms": ("parse_ms", "ms"),
    "plans.analysis_ms": ("analysis_ms", "ms"),
    "plans.optimize_ms": ("optimize_ms", "ms"),
    "plans.planning_ms": ("planning_ms", "ms"),
    "plans.graft_rules_ms": ("graft_rules_ms", "ms"),
    "sources.bytes_read": ("bytes_read", "bytes"),
    "exec.jobs_per_stmt": ("jobs", "count"),
    "exec.tasks_per_stmt": ("tasks", "count"),
    "exec.job_ms": ("job_ms", "ms"),
    "exec.outside_jobs_ms": ("outside_jobs_ms", "ms"),
    "exec.unattributed_ms": ("unattributed_ms", "ms"),
    "exec.scheduler_delay_ms": ("scheduler_delay_ms", "ms"),
    "exec.executor_run_ms": ("executor_run_ms", "ms"),
    "exec.executor_cpu_ms": ("executor_cpu_ms", "ms"),
    "exec.gc_ms": ("gc_ms", "ms"),
    "exec.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "exec.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "exec.spill_bytes": ("spill_bytes", "bytes"),
}
STAGES = ["exact_dedup", "minhash", "simhash", "ann_lsh", "curate"]
WRITES = ["insert", "update", "delete", "optimize"]
PER_LAYER_UNITS = dict({k: u for k, (_, u) in PER_OP.items()}, **{
    "plans.graft_rules_effective_ratio": "ratio",
    "operators.ann_recall": "ratio",
    "exec.task_skew": "ratio",
    "exec.tasks_failed": "count",
}, **{f"operators.{s}_s": "s" for s in STAGES})
# Write-side metrics of the ingest workload, which BENCHMARK.json does
# not list: they are printed in its report but not in the JSON line.
WRITE_UNITS = dict({
    "sources.bytes_written": "bytes",
    "sources.write_amplification": "ratio",
    "sources.files_written": "count",
    "sources.table_files": "count",
    "sources.table_bytes": "bytes",
}, **{f"operators.{w}_ms": "ms" for w in WRITES})


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pct(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(1, -(-p * len(s) // 100))
    return s[int(k) - 1]


def op_latencies(timed):
    """Each distinct operation's mean latency over its timed repetitions.

    A dashboard statement or a pipeline stage repeats once per cycle.
    Ingest statements do not repeat, so there each value is one
    execution."""
    reps = defaultdict(list)
    for o in timed:
        if o["ok"]:
            reps[o["id"]].append(o["ms"])
    return [statistics.mean(xs) for xs in reps.values()] or [float("nan")]


def end_to_end(workload, timed, summary, gen_s):
    """The end-to-end metrics, each a mean over the whole timed window:
    the host's speed drifts by tens of percent within a minute, and a
    mean over the window averages that drift where a median over a few
    cycles would pick one moment of it."""
    ok = [o for o in timed if o["ok"]]
    busy_s = sum(o["ms"] for o in ok) / 1000.0
    window_s = (max(o["start"] + o["ms"] for o in timed) - min(o["start"] for o in timed)) / 1000.0
    if workload == "pipeline":
        passes = len({o["group"] for o in timed})
        rows = (int(summary["docs"]) + int(summary["vectors"])) * passes / busy_s
    elif workload == "ingest":
        writes = [o for o in ok if o["kind"] != "read"]
        rows = sum(o["rows"] for o in writes) / (sum(o["ms"] for o in writes) / 1000.0)
    else:
        rows = sum(o["rows"] for o in ok) / busy_s
    setup = gen_s + float(summary["session_s"]) + float(summary.get("build_s", 0.0)) + float(summary["warm_s"])
    return {
        "setup_s": setup,
        "op_ms_mean": statistics.mean(op_latencies(timed)),
        "ops_per_s": len(ok) / window_s,
        "rows_per_s": rows,
        "heap_live_mb": float(summary["heap_live_mb"]),
    }


def latency_percentiles(timed):
    """Median and 90th percentile over every timed execution, for the
    human report only: with 16 or 5 distinct operations per cycle they
    jump between operations from run to run (see README.md)."""
    lat = [o["ms"] for o in timed if o["ok"]] or [float("nan")]
    return {"op_ms_p50": statistics.median(lat), "op_ms_p90": pct(lat, 90)}


def per_layer(workload, timed, traced, extra):
    m = {}
    n = max(1, len(traced))
    for name, (field, _) in PER_OP.items():
        m[name] = sum(t.get(field, 0.0) for t in traced) / n
    runs = sum(t.get("graft_rule_runs", 0.0) for t in traced)
    m["plans.graft_rules_effective_ratio"] = sum(t.get("graft_rule_effective", 0.0) for t in traced) / max(1.0, runs)
    m["sources.bytes_written"] = sum(t.get("bytes_written", 0.0) for t in traced) / n
    written = [t for t in traced if "table_bytes" in t]
    m["sources.files_written"] = sum(t["files_written"] for t in written) / max(1, len(written))
    m["sources.table_files"] = written[-1]["table_files"] if written else 0.0
    m["sources.table_bytes"] = written[-1]["table_bytes"] if written else 0.0
    m["sources.write_amplification"] = extra.get("write_amplification", 0.0)
    for s in STAGES:
        xs = [o["ms"] / 1000.0 for o in timed if o["kind"] == s and o["ok"]]
        m[f"operators.{s}_s"] = statistics.median(xs) if xs else 0.0
    m["operators.ann_recall"] = extra.get("ann_recall", 0.0)
    for w in WRITES:
        xs = [o["ms"] for o in timed if o["kind"] == w and o["ok"]]
        m[f"operators.{w}_ms"] = statistics.median(xs) if xs else 0.0
    m["exec.task_skew"] = statistics.median([t["task_skew"] for t in traced]) if traced else 0.0
    m["exec.tasks_failed"] = sum(t.get("tasks_failed", 0.0) for t in traced)
    units = dict(PER_LAYER_UNITS, **WRITE_UNITS)
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def write_amplification(timed, traced, table_rows):
    """Bytes the writes produced per byte of rows they changed."""
    written = [t for t in traced if "table_bytes" in t and t["kind"] != "read"]
    if not written:
        return 0.0
    by_id = {o["id"]: o for o in timed}
    rows = sum(by_id[t["id"]]["rows"] for t in written if t["id"] in by_id)
    bytes_per_row = written[-1]["table_bytes"] / max(1.0, table_rows)
    return sum(t["bytes_written"] for t in written) / max(1.0, rows * bytes_per_row)


def self_times(spans):
    """Self time per (layer, span name), in ms summed over the run."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    out = defaultdict(float)
    for s in spans:
        iv = sorted((max(a, s["start_ms"]), min(b, s["end_ms"])) for a, b in children.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0.0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += (cur_e - cur_s) if cur_e is not None else 0.0
        out[f"{s['layer']}/{s['name']}"] += (s["end_ms"] - s["start_ms"]) - covered
    return dict(out)


def summarise(workload, executed, summary, gen_s, out, extra, trace):
    timed = [o for o in executed if o["phase"] == "timed"]
    attempted = [o for o in executed if o["phase"] in ("warm", "timed")]
    failed = sum(1 for o in attempted if not o["ok"])
    if workload == "pipeline":
        summary = dict(summary, docs=extra["docs"], vectors=extra["vectors"])
    e2e = end_to_end(workload, timed, summary, gen_s)
    result = {"attempted": len(attempted), "failed": failed, "operations": len(timed),
              "summary": summary, "gen_s": gen_s, "percentiles": latency_percentiles(timed)}
    if not trace:
        result["metrics"] = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
        return result
    traced_records = read_jsonl(os.path.join(out, "traced_ops.jsonl"))
    if workload == "ingest":
        inserted = sum(o["rows"] for o in executed if o["kind"] == "insert" and o["ok"])
        deleted = sum(o["rows"] for o in executed if o["kind"] == "delete" and o["ok"])
        extra["write_amplification"] = write_amplification(
            timed, traced_records, inputs.INGEST_ROWS + inserted - deleted)
    layers = per_layer(workload, timed, traced_records, extra)
    result["metrics"] = {k: layers[k] for k in PER_LAYER_UNITS}
    result["write_layers"] = {k: layers[k] for k in WRITE_UNITS}
    # the tracing overhead: traced minus untraced operations of each kind
    traced_flags, group, pos = [], None, 0
    for o in timed:  # mirrors Tracer.traced
        pos = pos + 1 if o["group"] == group else 0
        group = o["group"]
        traced_flags.append((group + pos) % 2 == 1)
    by_kind = defaultdict(lambda: ([], []))
    for o, t in zip(timed, traced_flags):
        if o["ok"]:
            by_kind[o["kind"] if workload != "dashboard" else o["id"]][0 if t else 1].append(o["ms"])
    diffs = [statistics.median(a) - statistics.median(b) for a, b in by_kind.values() if a and b]
    result["tracing_overhead_ms_per_op"] = statistics.mean(diffs) if diffs else None
    result["traced_end_to_end"] = e2e
    spans = read_jsonl(os.path.join(out, "spans.jsonl"))
    result["self_ms"] = self_times(spans)
    families = defaultdict(list)
    for t in traced_records:
        families[t["id"] if workload == "dashboard" else t["kind"]].append(t)
    result["wall_split_ms"] = {
        f: {k: statistics.mean(t[k] for t in ts) for k in
            ("wall_ms", "job_ms", "outside_jobs_ms", "unattributed_ms", "parse_ms", "analysis_ms",
             "optimize_ms", "planning_ms", "graft_rules_ms")} | {"n": len(ts)}
        for f, ts in sorted(families.items())}
    return result


def print_human(result):
    s = result["summary"]
    print(f"run: {json.dumps(result['run'])}")
    print(f"set-up: inputs {result['gen_s']:.2f}s, session {float(s['session_s']):.2f}s, "
          f"tables {float(s.get('build_s', 0)):.2f}s, warm-up {float(s['warm_s']):.2f}s")
    print(f"operations: {result['operations']} timed, {result['attempted']} attempted, "
          f"{result['failed']} failed")
    print("latency over every timed operation (not in the JSON line): "
          + ", ".join(f"{k} {v:.1f}" for k, v in result["percentiles"].items()))
    for k, v in dict(result["metrics"], **result.get("write_layers", {})).items():
        print(f"  {k:38s} {v['value']:14.4f} {v['unit']}")
    if "wall_split_ms" in result:
        overhead = result["tracing_overhead_ms_per_op"]
        print("tracing overhead: " + ("n/a (no operation kind was both traced and untraced)" if overhead is None
                                      else f"{overhead:.2f} ms per operation, traced minus untraced"))
        print("wall split per traced operation (ms): family n wall = jobs + outside_jobs; "
              "outside_jobs includes unattributed")
        for f, v in result["wall_split_ms"].items():
            print(f"  {f:16s} {v['n']:4d} {v['wall_ms']:9.1f} = {v['job_ms']:9.1f} + {v['outside_jobs_ms']:8.1f}"
                  f"  (phases parse {v['parse_ms']:.1f} analysis {v['analysis_ms']:.1f} "
                  f"optimize {v['optimize_ms']:.1f} planning {v['planning_ms']:.1f}; "
                  f"unattributed {v['unattributed_ms']:.1f})")
        print("self time by span, ms over the run:")
        for k, v in sorted(result["self_ms"].items(), key=lambda x: -x[1]):
            print(f"  {k:30s} {v:10.1f}")
