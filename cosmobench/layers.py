"""Per-layer split of a traced cosmobench run.

The harness dumps spans (id, parent, name, start, end), Spark jobs (with
the id of the span that submitted them and their stage/task counters) and
Catalyst phase intervals. Each traced pass's wall time is partitioned
exactly: inside a span, time goes first to its child spans, then to
Catalyst phases, then to Spark jobs (each counting only time not yet
covered); what is left is the span's self time. Summed over all layers
the partition equals the traced passes' wall time (`trace.self_sum_frac`
reports the ratio). All values are per traced pass.
"""
import statistics

MB = 1048576.0

# span name -> layer metric receiving its self time
SELF = {
    "pass": "harness.self_s",
    "gen": "harness.gen_s",
    "query.build": "queries.build_self_s",
    "query.consume": "core.consume_s",
    "release": "core.release_s",
    "ingest.sms": "ingest.self_s",
    "streaming.ingest": "streaming.self_s",
    "monitors.runall": "monitors.runner_self_s",
    "monitors.sink": "monitors.sink_self_s",
}
PHASES = {"analysis": "catalyst.analysis_s", "optimization": "catalyst.optimization_s",
          "planning": "catalyst.planning_s"}

# every per-layer metric with its unit, in report order
UNITS = {
    **{m: "s" for m in SELF.values()},
    **{m: "s" for m in PHASES.values()},
    "exec.wall_s": "s",
    "trace.wall_s": "s", "trace.self_sum_frac": "frac", "trace.overhead_frac": "frac",
    "harness.retained_heap_mb": "MB",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "codegen.compile_s": "s", "codegen.classes": "count", "codegen.setup_compile_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.sched_wait_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.peak_exec_memory_mb": "MB", "exec.task_failures": "count",
    "core.tables_s": "s",
    "ingest.sms_s": "s", "ingest.files_new": "count", "ingest.rows_parsed": "count",
    "ingest.table_rows": "count", "ingest.write_mb": "MB", "ingest.write_amp": "ratio",
    "streaming.ingest_s": "s", "streaming.batches": "count", "streaming.rows": "count",
    "streaming.write_amp": "ratio",
    "monitors.runall_s": "s", "monitors.sink_s": "s", "monitors.runner_s": "s",
    "monitors.jobs_per_monitor": "count", "monitors.errors": "count",
}


def _union_len(ivs):
    total, end = 0.0, None
    for s, e in sorted(ivs):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _claim(iv, covered):
    """Length of `iv` not yet in `covered`; adds it to `covered`."""
    before = _union_len(covered)
    covered.append(iv)
    return _union_len(covered) - before


def partition(spans, jobs, phases):
    """Exclusive seconds per layer metric over all recorded spans."""
    out = {m: 0.0 for m in list(SELF.values()) + list(PHASES.values()) + ["exec.wall_s"]}
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    own_jobs = {}
    for j in jobs:
        own_jobs.setdefault(j["span"], []).append(j)
    own_phases = {}
    for p in phases:  # innermost recorded span containing the phase start
        best = None
        for s in spans:
            if s["start"] <= p["start"] <= s["end"] and (
                    best is None or s["start"] >= best["start"]):
                best = s
        if best is not None:
            own_phases.setdefault(best["id"], []).append(p)
    for s in by_id.values():
        lo, hi = s["start"], s["end"]

        def clip(a, b):
            return (max(lo, a), min(hi, max(lo, b)))
        covered = [clip(k["start"], k["end"]) for k in kids.get(s["id"], [])]
        for p in own_phases.get(s["id"], []):
            out[PHASES.get(p["name"], "catalyst.planning_s")] += _claim(
                clip(p["start"], p["end"]), covered)
        for j in own_jobs.get(s["id"], []):
            out["exec.wall_s"] += _claim(clip(j["start"], j["end"]), covered)
        out[SELF.get(s["name"], "harness.self_s")] += (hi - lo) - _union_len(covered)
    return out


def _subtree(spans, root_names):
    """Ids of spans named in `root_names` and all their descendants."""
    ids = {s["id"] for s in spans if s["name"] in root_names}
    grew = True
    while grew:
        new = {s["id"] for s in spans if s["parent"] in ids} - ids
        ids |= new
        grew = bool(new)
    return ids


def per_layer(raw):
    t = raw["trace"]
    spans, jobs, phases = t["spans"], t["jobs"], t["phases"]
    passes = [s for s in spans if s["name"] == "pass"]
    n = max(1, len(passes))
    jobs = [j for j in jobs if j["span"] in {s["id"] for s in spans}]
    m = {k: v / n for k, v in partition(spans, jobs, phases).items()}

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / n

    def jsum(key, js=jobs):
        return sum(j[key] for j in js) / n

    traced_wall = sum(s["end"] - s["start"] for s in passes) / n
    # the first pass is still warming up; overhead compares the later ones
    later = [p for p in raw["passes"][1:] if p["complete"]]
    untraced = [p["wall_s"] for p in later if not p["traced"]]
    traced = [p["wall_s"] for p in later if p["traced"]]
    m["trace.wall_s"] = traced_wall
    m["trace.self_sum_frac"] = sum(m[k] for k in list(m) if k != "trace.wall_s") / traced_wall
    m["trace.overhead_frac"] = (statistics.median(traced) / statistics.median(untraced) - 1
                                if traced and untraced else 0.0)
    build_ids = {s["id"] for s in spans if s["name"] == "query.build"}
    m["queries.build_s"] = dur("query.build")
    m["queries.build_jobs"] = sum(1 for j in jobs if j["span"] in build_ids) / n
    m["harness.retained_heap_mb"] = max(raw["heap_mb"])
    m["codegen.compile_s"] = sum(s["compile_s"] for s in passes) / n
    m["codegen.classes"] = sum(s["compiles"] for s in passes) / n
    m["codegen.setup_compile_s"] = raw.get("setup_compile_s", 0.0)
    m["exec.jobs"] = len(jobs) / n
    for k in ("stages", "tasks", "run_s", "cpu_s", "gc_s", "sched_wait_s", "task_failures"):
        m[f"exec.{k}"] = jsum(k)
    m["exec.shuffle_read_mb"] = jsum("shuffle_read_b") / MB
    m["exec.shuffle_write_mb"] = jsum("shuffle_write_b") / MB
    m["exec.spill_mb"] = jsum("spill_b") / MB
    m["exec.peak_exec_memory_mb"] = max([j["peak_exec_mem_b"] for j in jobs] or [0]) / MB
    m["core.tables_s"] = raw.get("tables_call_s", 0.0)
    m["ingest.sms_s"] = dur("ingest.sms")
    m["streaming.ingest_s"] = dur("streaming.ingest")
    m["monitors.runall_s"] = dur("monitors.runall")
    m["monitors.sink_s"] = dur("monitors.sink")
    m["monitors.runner_s"] = m["monitors.runall_s"] - m["monitors.sink_s"]
    mon = _subtree(spans, {"monitors.runall"})
    m["monitors.jobs_per_monitor"] = (
        sum(1 for j in jobs if j["span"] in mon) / n / 12 if mon else 0.0)
    cyc = raw.get("cycle_stats", {})
    for k in ("ingest.files_new", "ingest.rows_parsed", "ingest.table_rows", "ingest.write_mb",
              "ingest.write_amp", "streaming.batches", "streaming.rows", "streaming.write_amp",
              "monitors.errors"):
        m[k] = statistics.fmean(cyc[k]) if cyc.get(k) else 0.0
    return {k: (m[k], UNITS[k]) for k in UNITS}
