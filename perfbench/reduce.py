"""Reduces the harness's raw samples to the reported metrics.

End-to-end metrics (untraced run) and per-layer metrics (traced run) are
defined in README.md; the names here are the ones BENCHMARK.json lists.
Per-layer values are totals per timed pass (mean over passes), except
`exec.peak_mem_mb`, the largest task peak seen.
"""
import statistics

MODULES = ["sources", "operators", "functions", "llm", "ml"]
MODULE_METRICS = ["construct_s", "construct.jobs", "construct.task_cpu_s",
                  "exec_s", "exec.task_cpu_s", "exec.gc_s", "exec.peak_mem_mb",
                  "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes"]
PHASES = ["analysis", "optimization", "planning"]
CENSUS = ["nodes", "exchanges", "reused_exchanges", "codegen_stages"]
INGEST_LAYERS = {  # harness pass counter -> metric
    "collect_s": "sources.Collector.collect_s",
    "pages": "sources.Collector.pages",
    "advance_s": "sources.Checkpoint.advance_s",
    "neardup_s": "streaming.Ingest.nearDupBatch_s",
    "replays_skipped": "streaming.Ingest.replays_skipped",
    "compact_s": "sources.Lake.compact_s",
    "bytes_rewritten": "sources.Lake.bytes_rewritten",
    "read_s": "sources.Lake.read_s",
    "files_written": "lake.files_written",
    "state_files_live": "state.files_live",
    "write_amp": "lake.write_amp",
    "space_amp": "lake.space_amp",
    "files_live": "lake.files_live"}


def tail(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile). Below eleven samples it is the maximum."""
    s = sorted(xs)
    i = len(s) - 11 if len(s) >= 11 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes") or name.endswith("bytes_rewritten"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_amp"):
        return "ratio"
    return "count"


def per_layer(workload: str, raw: dict) -> dict:
    """Per-pass totals from the traced run's spans. A span's listener
    counts are the jobs fired while it was the innermost open span, so
    summing over spans counts every job once."""
    byid = {s["id"]: s for s in raw["spans"]}
    m = dict.fromkeys(layer_names(), 0.0)

    def add(name, v, mod):
        m[name] += v
        if mod and name in MODULE_METRICS:
            m[f"{mod}.{name}"] += v

    for s in raw["spans"]:
        if s["pass"] < 0:
            continue
        top = s
        while top["parent"] >= 0:
            top = byid[top["parent"]]
        parts = top["name"].split(":")  # op:<key>:<module> on query workloads
        mod = parts[2] if len(parts) == 3 else None
        c = s["counts"]
        dur = (s["end_ns"] - s["start_ns"]) / 1e9
        if s["name"] == "construct":
            add("construct_s", dur, mod)
            add("construct.jobs", c.get("jobs", 0.0), mod)
            add("construct.task_cpu_s", c.get("task_cpu_s", 0.0), mod)
        else:
            for k in ["jobs", "stages", "tasks", "sched_delay_s", "task_cpu_s", "gc_s"]:
                add(f"exec.{k}", c.get(k, 0.0), mod)
        add("shuffle.write_bytes", c.get("shuffle_write_bytes", 0.0), mod)
        add("shuffle.read_bytes", c.get("shuffle_read_bytes", 0.0), mod)
        add("spill.bytes", c.get("spill_bytes", 0.0), mod)
        if s["name"] == "write":
            phases = [c.get(f"plan_{p}_s", 0.0) for p in PHASES]
            for p, v in zip(PHASES, phases):
                add(f"plan.{p}_s", v, mod)
            add("exec_s", dur - sum(phases), mod)
            for k in CENSUS:
                add(f"plan.{k}", c.get(f"plan_{k}", 0.0), mod)
        if s is top:  # codegen counters are process-wide; read per operation
            add("codegen.compile_s", c.get("codegen_compile_s", 0.0), mod)
            add("codegen.compiles", c.get("codegen_compiles", 0.0), mod)
        peak = c.get("peak_mem_mb", 0.0)
        m["exec.peak_mem_mb"] = max(m["exec.peak_mem_mb"], peak)
        if mod:
            k = f"{mod}.exec.peak_mem_mb"
            m[k] = max(m[k], peak)
    passes = len(raw["pass_wall_s"])
    for k in m:
        if not k.endswith("peak_mem_mb"):
            m[k] /= passes
    if workload == "ingest":
        for k, name in INGEST_LAYERS.items():
            m[name] = statistics.mean(p[k] for p in raw["ingest_passes"])
    m["session.start_s"] = raw["session_start_s"]
    m["trace.wall_s"] = statistics.median(pass_sums(raw["ops"]))
    return m


def layer_names() -> list:
    base = ["session.start_s", "construct_s",
            "construct.jobs", "construct.task_cpu_s", "plan.analysis_s",
            "plan.optimization_s", "plan.planning_s", "plan.nodes",
            "plan.exchanges", "plan.reused_exchanges", "plan.codegen_stages",
            "codegen.compile_s", "codegen.compiles", "exec_s", "exec.jobs",
            "exec.stages", "exec.tasks", "exec.sched_delay_s",
            "exec.task_cpu_s", "exec.gc_s", "exec.peak_mem_mb",
            "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes"]
    mods = [f"{mod}.{k}" for mod in MODULES for k in MODULE_METRICS]
    return base + mods + list(INGEST_LAYERS.values()) + ["trace.wall_s"]


def pass_sums(ops) -> list:
    """Time spent in operations per timed pass (the clean-up between
    operations is not counted)."""
    sums = {}
    for o in ops:
        sums[o["pass"]] = sums.get(o["pass"], 0.0) + o["s"]
    return [sums[p] for p in sorted(sums)]


def reduce(workload, sizes, raw, trace, failures, checked):
    ops = raw["ops"]
    if workload == "ingest":
        # the median is over kline batch commits; the tail also sees the
        # document batch commit, the slowest commit of a pass
        batch = [o["s"] for o in ops if o["kind"] == "batch"]
        commits = [o["s"] for o in ops if o["kind"] != "read"]
        reads = [o["s"] for o in ops if o["kind"] == "read"]
        wrong = len(ops) if failures else 0
    else:
        batch = commits = reads = [o["s"] for o in ops]
        failed_keys = {f["op"] for f in failures}
        wrong = sum(1 for o in ops if o["key"] in failed_keys)
    crashed = sum(1 for o in ops if not o.get("ok", True))
    attempted = len(ops)
    failed = min(attempted, wrong + crashed)
    walls = pass_sums(ops)
    rows = sum(v["rows"] for v in sizes.values())
    t_val, t_pct = tail(commits)
    e2e = {
        "setup_s": (raw["setup_s"], "s"),
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_s": (statistics.median(batch), "s"),
        "op_tail_s": (t_val, "s"),
        "read_p50_s": (statistics.median(reads), "s"),
        "rows_per_s": (rows * len(walls) / sum(walls), "rows/s"),
        "heap_after_gc_mb": (statistics.median(raw["heap_after_gc_mb"]), "MB"),
    }
    detail = {
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "op_tail_percentile": round(t_pct, 2),
        "samples": {"ops": len(batch), "commits": len(commits), "reads": len(reads),
                    "passes": len(walls)},
        "fail_frac": failed / attempted,
        "checked_outputs": checked,
        "contention": {k: raw.get(k, 0) for k in ["steal_ticks", "loadavg_start",
                                                   "loadavg_end", "retries"]},
        "cold_pass_s": raw["cold_pass_s"],
    }
    if workload == "ingest":
        ps = raw["ingest_passes"]
        detail["ingest"] = {INGEST_LAYERS[k]: statistics.mean(p[k] for p in ps)
                            for k in ["write_amp", "space_amp", "files_live"]}
    if trace:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in per_layer(workload, raw).items()}
    else:
        metrics = detail["end_to_end"]
    final = {"correct": failed == 0 and not failures, "attempted": attempted,
             "failed": failed, "metrics": metrics}
    return {"detail": detail, "final": final}
