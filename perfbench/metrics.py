"""Metrics of one benchmark run, computed from the engine process's
result.json (end-to-end) and trace.json (per layer).

Accounting rules, shared by every metric:
  * a call that failed or passed its deadline is charged at its deadline,
    so fixing a timeout can never read as a slowdown;
  * a pass's time is the sum of its calls' charged times;
  * pass 0 is the cold pass; pass 1 only settles the JIT; every later pass
    is a warm sample.
"""
import statistics

END_TO_END = [  # name, unit
    ("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("warm_cpu_s", "s"),
    ("peak_rss_mb", "MB"), ("write_mb", "MB")]

# layers the harness calls into, each reporting the same ten numbers
CALL_LAYERS = ["Relational", "Events", "Baskets", "GraphOps", "Dedup",
               "Similarity", "TextOps", "streaming", "apps"]
LAYER_FIELDS = [  # suffix, unit, better
    ("wall_s", "s", "lower"), ("self_s", "s", "lower"),
    ("plan_s", "s", "lower"), ("jobs", "count", "lower"),
    ("tasks", "count", "lower"), ("task_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"), ("shuffle_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"), ("driver_gap_s", "s", "lower")]
EXTRA = [  # name, unit, better
    ("sources.input_mb", "MB", "lower"),
    ("sources.scan_stage_s", "s", "lower"),
    ("Baskets.son_phase1_s", "s", "lower"),
    ("Baskets.son_phase2_s", "s", "lower"),
    ("apps.corating_edges_s", "s", "lower"),
    ("GraphOps.betweenness_gn_s", "s", "lower"),
    ("GraphOps.communities_gn_s", "s", "lower"),
    ("Dedup.cold_wall_s", "s", "lower"),
    ("Similarity.cold_wall_s", "s", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.query_planning_s", "s", "lower"),
    ("streaming.wal_commit_s", "s", "lower"),
    ("streaming.commit_offsets_s", "s", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mb", "MB", "lower"),
    ("runtime.cached_mb", "MB", "lower"),
    ("runtime.cached_relations", "count", "lower"),
    ("runtime.gc_s", "s", "lower"),
    ("runtime.jobs", "count", "lower"),
    ("runtime.tasks", "count", "lower"),
    ("runtime.shuffle_mb", "MB", "lower"),
    ("runtime.spill_mb", "MB", "lower"),
    ("runtime.trace_overhead_frac", "ratio", "lower")]


def per_layer_names():
    names = [(f"{layer}.{f}", u, b) for layer in CALL_LAYERS
             for f, u, b in LAYER_FIELDS]
    return names + EXTRA


def charged(call):
    return call["elapsed_s"] if call["status"] == "ok" else call["deadline_s"]


def pass_seconds(p):
    return sum(charged(c) for c in p["calls"])


def spread(values):
    """(median, q1, q3) of a sample; quartiles need two or more values."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def counts(result):
    calls = [c for p in result["passes"] for c in p["calls"]]
    return len(calls), sum(1 for c in calls if c["status"] != "ok")


def warm_passes(result, traced):
    return [p for p in result["passes"]
            if p["kind"] == "warm" and p["traced"] == traced]


def end_to_end(result):
    """{name: (value, unit, samples)} for every end-to-end metric.
    setup_s is the median of the run's fresh-JVM set-ups. write_mb is what
    one cold pass plus the median warm pass write, so it does not grow
    with the number of warm passes that fit in a run."""
    passes = result["passes"]
    cold = passes[0]
    # cold-only workloads have no warm sample: their cold pass stands in
    warm = warm_passes(result, False)
    write_mb = cold["write_mb"] + (
        statistics.median(p["write_mb"] for p in warm) if warm else 0.0)
    warm = warm or [cold]
    warm_times = [pass_seconds(p) for p in warm]
    attempted, failed = counts(result)
    return {
        "setup_s": (statistics.median(result["setup_s"]), "s",
                    result["setup_s"]),
        "cold_s": (pass_seconds(cold), "s", [pass_seconds(cold)]),
        "warm_s": (statistics.median(warm_times), "s", warm_times),
        "warm_cpu_s": (statistics.fmean(p["cpu_s"] for p in warm), "s",
                       [p["cpu_s"] for p in warm]),
        "fail_frac": (failed / attempted, "ratio", [failed / attempted]),
        "peak_rss_mb": (result["peak_rss_mb"], "MB", [result["peak_rss_mb"]]),
        "write_mb": (write_mb, "MB", [write_mb]),
    }


def _union(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(s, e, lo, hi):
    return max(s, lo), min(e, hi)


def layer_pass(spans, pass_id):
    """Per-layer numbers of one traced pass."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    for layer in CALL_LAYERS:
        for f, _, _ in LAYER_FIELDS:
            out[f"{layer}.{f}"] = 0.0
    for name, _, _ in EXTRA:
        out[name] = 0.0
    passes = [s for s in spans if s["id"] == pass_id]
    if not passes:
        return out
    p = passes[0]
    for call in kids.get(pass_id, []):
        if call["kind"] != "call":
            continue
        lo, hi = call["start_ms"], call["end_ms"]
        layer = call["layer"]
        wall = (hi - lo) / 1e3
        jobs = [s for s in kids.get(call["id"], []) if s["kind"] == "spark_job"]
        plans = [s for s in kids.get(call["id"], []) if s["kind"] == "plan"]
        batches = [s for s in kids.get(call["id"], [])
                   if s["kind"] == "micro_batch"]
        stages = [st for j in jobs for st in kids.get(j["id"], [])]
        job_iv = [_clip(j["start_ms"], j["end_ms"], lo, hi) for j in jobs]
        child_iv = job_iv + [_clip(s["start_ms"], s["end_ms"], lo, hi)
                             for s in plans + batches]
        plan_s = sum(s["counts"].get("plan_s", 0.0) for s in plans)
        cs = lambda k: sum(st["counts"].get(k, 0.0) for st in stages)
        if layer in CALL_LAYERS:
            add(f"{layer}.wall_s", wall)
            add(f"{layer}.self_s", wall - _union(child_iv) / 1e3)
            add(f"{layer}.plan_s", plan_s)
            add(f"{layer}.jobs", len(jobs))
            add(f"{layer}.tasks", cs("tasks"))
            add(f"{layer}.task_cpu_s", cs("task_cpu_s"))
            add(f"{layer}.gc_s", cs("gc_s"))
            add(f"{layer}.shuffle_mb",
                cs("shuffle_write_mb") + cs("shuffle_read_mb"))
            add(f"{layer}.spill_mb", cs("spill_mb"))
            add(f"{layer}.driver_gap_s",
                max(0.0, wall - plan_s - _union(job_iv) / 1e3))
        add("sources.input_mb", cs("input_mb"))
        add("sources.scan_stage_s", sum(
            (st["end_ms"] - st["start_ms"]) / 1e3 for st in stages
            if st["counts"].get("input_mb", 0.0) > 0))
        add("runtime.jobs", len(jobs))
        add("runtime.tasks", cs("tasks"))
        add("runtime.shuffle_mb", cs("shuffle_write_mb") + cs("shuffle_read_mb"))
        add("runtime.spill_mb", cs("spill_mb"))
        for key in ("add_batch_s", "query_planning_s", "wal_commit_s",
                    "commit_offsets_s"):
            add(f"streaming.{key}",
                sum(b["counts"].get(key, 0.0) for b in batches))
        # state is a level, not a flow: the largest a query's state grew
        for key in ("state_rows", "state_mb"):
            add(f"streaming.{key}",
                max((b["counts"].get(key, 0.0) for b in batches), default=0.0))
        add("streaming.batches", len(batches))
        for m in kids.get(call["id"], []):
            if m["kind"] == "mark" and m["name"].startswith("son_phase"):
                add(f"Baskets.{m['name']}_s",
                    (m["end_ms"] - m["start_ms"]) / 1e3)
        named = {"corating_edges": "apps.corating_edges_s",
                 "betweenness_gn": "GraphOps.betweenness_gn_s",
                 "communities_gn": "GraphOps.communities_gn_s"}
        if call["name"] in named:
            add(named[call["name"]], wall)
    out["runtime.gc_s"] = p["counts"].get("gc_s", 0.0)
    out["runtime.cached_mb"] = p["counts"].get("cached_mb", 0.0)
    out["runtime.cached_relations"] = p["counts"].get("cached_relations", 0.0)
    return out


def per_layer(result, trace):
    """{name: (value, unit)}: the median over traced warm passes, plus the
    cold pass's Dedup/Similarity wall and the tracer's overhead, measured
    against the untraced warm passes of the same run."""
    spans = trace["spans"]
    # cold-only workloads have no warm sample: their cold pass stands in
    on = warm_passes(result, True) or result["passes"][:1]
    plain = [pass_seconds(p) for p in warm_passes(result, False)]
    rows = [layer_pass(spans, f"p{p['index']}") for p in on]
    cold = layer_pass(spans, "p0")
    out = {}
    for name, unit, _ in per_layer_names():
        out[name] = (statistics.median(r[name] for r in rows), unit)
    out["Dedup.cold_wall_s"] = (cold["Dedup.wall_s"], "s")
    out["Similarity.cold_wall_s"] = (cold["Similarity.wall_s"], "s")
    if plain:
        out["runtime.trace_overhead_frac"] = (
            statistics.median(pass_seconds(p) for p in on)
            / statistics.median(plain) - 1.0, "ratio")
    return out
