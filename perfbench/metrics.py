"""Turns the harness's raw result file into the benchmark's metrics.

End-to-end metrics come from the untraced steady passes, apart from
first_pass_s (the cold first pass) and the set-up and heap figures.
Per-layer metrics come from the traced steady passes: each is summed over the
queries of one pass and reported as the median across traced passes.
"""
import statistics


def union_length(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return (span[1] - span[0]) - union_length(children, span[0], span[1])


def pass_seconds(p):
    return sum(q["s"] for q in p["queries"])


def query_medians(passes):
    """Each query's median time across the given passes, failed executions
    left out."""
    times = {}
    for p in passes:
        for q in p["queries"]:
            if q["error"] is None:
                times.setdefault(q["name"], []).append(q["s"])
    return [statistics.median(t) for t in times.values()]


def steady_pass_seconds(passes):
    """Steady time of one pass: the sum of the queries' median times, so one
    slow execution moves it less than it moves any single pass's sum."""
    return sum(query_medians(passes))


def end_to_end(res):
    passes = res["passes"]
    steady = [p for p in passes if p["kind"] == "steady" and not p["traced"]]
    metrics = {
        "setup_s": statistics.median(res["setup_s"]),
        "pass_s": steady_pass_seconds(steady),
        "first_pass_s": pass_seconds(passes[0]),
        "query_p50_s": statistics.median(query_medians(steady)),
        "heap_retained_mb": res["heap_retained_mb"],
    }
    notes = {"pass_s": f"{len(steady)} steady passes",
             "setup_s": f"median of {len(res['setup_s'])} set-ups"}
    return metrics, notes


def _stage_sum(stages, key):
    return sum(s[key] for s in stages)


def trace_pass(res, p):
    """Per-layer sums for one traced pass."""
    tr = res["trace"]
    queries = [q for q in tr["queries"] if q["pass"] == p["pass"]]
    stages_by_job = {}
    for s in tr["stages"]:
        stages_by_job.setdefault(s["job"], []).append(s)
    cores = res["cores"]
    out = {k: 0.0 for k in (
        "ops.build_s", "ops.build_jobs", "plans.analysis_s", "plans.optimizer_s",
        "plans.physical_s", "plans.exchanges", "codegen.compiles", "codegen.compile_s",
        "exec.write_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
        "exec.task_cpu_s", "exec.task_wait_s", "exec.gc_s", "shuffle.write_bytes",
        "shuffle.read_bytes", "shuffle.records", "shuffle.fetch_wait_s", "shuffle.spill_bytes",
        "sources.input_bytes", "sources.input_records", "streaming.batches",
        "streaming.trigger_s", "streaming.input_rows", "jvm.gc_s", "jvm.classes_loaded",
        "trace.unattributed_jobs", "self.query_s", "self.ops.build_s", "self.plans.plan_s",
        "self.exec.write_s", "self.job_s", "self.stage_s")}
    op_rows = result_rows = wall = cache_bytes = cache_blocks = 0.0
    for q in queries:
        spans = {s["name"]: (s["start"], s["end"]) for s in q["spans"]}
        query = spans.pop("query")
        wall += (query[1] - query[0]) / 1e3
        # one query runs at a time, so every job that starts inside its
        # window is its work; some carry another job group (micro-batches,
        # threads that inherited an earlier group)
        jobs = [j for j in tr["jobs"] if query[0] <= j["start"] <= query[1]]
        out["trace.unattributed_jobs"] += sum(1 for j in jobs if j["group"] != q["qid"])
        job_iv = {j["id"]: (j["start"], j["end"] if j["end"] is not None else query[1]) for j in jobs}
        # span tree: query -> layer spans -> jobs -> stages
        out["self.query_s"] += self_time(query, list(spans.values())
                                         + [job_iv[j["id"]] for j in jobs if j["span"] not in spans]) / 1e3
        for name, iv in spans.items():
            children = [job_iv[j["id"]] for j in jobs if j["span"] == name]
            out["self." + name + "_s"] += self_time(iv, children) / 1e3
        stages = []
        for j in jobs:
            js = stages_by_job.get(j["id"], [])
            stages += js
            out["self.job_s"] += self_time(job_iv[j["id"]], [(s["submit"], s["complete"]) for s in js]) / 1e3
        out["self.stage_s"] += sum(s["complete"] - s["submit"] for s in stages) / 1e3
        if "ops.build" in spans:
            out["ops.build_s"] += (spans["ops.build"][1] - spans["ops.build"][0]) / 1e3
        if "exec.write" in spans:
            out["exec.write_s"] += (spans["exec.write"][1] - spans["exec.write"][0]) / 1e3
        out["ops.build_jobs"] += sum(1 for j in jobs if j["span"] == "ops.build")
        out["exec.jobs"] += len(jobs)
        out["exec.stages"] += len(stages)
        phases = q["phases"] or {}
        out["plans.analysis_s"] += phases.get("analysis", 0.0)
        out["plans.optimizer_s"] += phases.get("optimization", 0.0)
        out["plans.physical_s"] += phases.get("planning", 0.0)
        out["plans.exchanges"] += q["exchanges"] or 0
        op_rows += q["op_rows"] or 0
        rows = res["result_rows"].get(q["name"])
        result_rows += rows or 0
        for src, dst in (("compiles", "codegen.compiles"), ("compile_s", "codegen.compile_s"),
                         ("gc_s", "jvm.gc_s"), ("classes", "jvm.classes_loaded"),
                         ("stream_batches", "streaming.batches"),
                         ("stream_trigger_s", "streaming.trigger_s"),
                         ("stream_input_rows", "streaming.input_rows")):
            out[dst] += q[src]
        cache_bytes = max(cache_bytes, q["cache_bytes"])
        cache_blocks = max(cache_blocks, q["cache_blocks"])
        for src, dst in (("tasks", "exec.tasks"), ("run_s", "exec.task_run_s"),
                         ("cpu_s", "exec.task_cpu_s"), ("wait_s", "exec.task_wait_s"),
                         ("gc_s", "exec.gc_s"), ("shuffle_write_bytes", "shuffle.write_bytes"),
                         ("shuffle_read_bytes", "shuffle.read_bytes"),
                         ("shuffle_records", "shuffle.records"),
                         ("fetch_wait_s", "shuffle.fetch_wait_s"),
                         ("spill_bytes", "shuffle.spill_bytes"),
                         ("input_bytes", "sources.input_bytes"),
                         ("input_records", "sources.input_records")):
            out[dst] += _stage_sum(stages, src)
    out["plans.rows_per_result"] = op_rows / result_rows if result_rows else 0.0
    out["exec.slot_busy"] = out["exec.task_run_s"] / (wall * cores) if wall else 0.0
    out["cache.bytes"] = cache_bytes
    out["cache.blocks"] = cache_blocks
    out["sources.files_written"] = p["files_written"] or 0
    out["sources.bytes_written"] = p["bytes_written"] or 0
    return out


def per_layer(res):
    steady = [p for p in res["passes"] if p["kind"] == "steady"]
    traced = [p for p in steady if p["traced"]]
    untraced = [p for p in steady if not p["traced"]]
    sums = [trace_pass(res, p) for p in traced]
    metrics = {name: statistics.median(s[name] for s in sums) for name in sums[0]}
    metrics["trace.overhead_frac"] = steady_pass_seconds(traced) / steady_pass_seconds(untraced) - 1.0
    return metrics
