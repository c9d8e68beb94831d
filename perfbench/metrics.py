"""Arithmetic of the benchmark: reduces one harness record (record.json)
to the end-to-end metrics, the per-layer metrics and a per-op, per-layer
table. Pure functions of the record; test_metrics.py covers them.

Times in the record: op and phase intervals and every listener event
are on the epoch-millisecond axis; `wall_s` and phase `s` are exact
nanosecond-clock durations.
"""
import math
import statistics

FAILED_LATENCY_S = 1e9  # a failed op misses every latency figure
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
GRID_SPANS = ("raster.tile_build", "raster.focal", "raster.normalize", "distance.cost",
              "hydrology.flow_accum", "catalog.write", "catalog.read", "zonal.stats")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(latencies):
    """Latency at the highest ladder percentile with >= 10 samples
    beyond it (nearest rank). Returns (value, percentile, n). With
    fewer than 40 samples no ladder percentile qualifies, and the tail
    is the median (percentile 50)."""
    xs = sorted(latencies)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = math.ceil(p / 100.0 * n)
        if n - rank >= 10:
            return xs[rank - 1], p, n
    return median(xs), 50.0, n


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(children, start, end)


def stage_overhead(submit, complete, task_durations):
    """Stage wall time not covered by its longest task (scheduling,
    serialization, result handling); never negative."""
    longest = max(task_durations) if task_durations else 0
    return max(0.0, (complete - submit) - longest)


def skew(task_durations):
    """Longest task over the median task of one stage (1.0 = balanced)."""
    if not task_durations:
        return 1.0
    med = statistics.median(task_durations)
    return max(task_durations) / med if med > 0 else 1.0


def driver_residual(op_start, op_end, job_intervals, planning_intervals):
    """Op wall time in which neither a Spark job nor Catalyst planning
    ran: driver-side compute (collected results, driver walks, glue)."""
    return self_time(op_start, op_end, list(job_intervals) + list(planning_intervals))


# ---------------------------------------------------------------- tracing

def _op_events(events):
    """Group listener events by op tag "pass:seq"."""
    jobs, stages, codegen, qe = {}, {}, {}, []
    starts = {}
    for e in events:
        t = e["type"]
        if t == "job_start":
            starts[e["job"]] = e
        elif t == "job_end" and e["job"] in starts:
            s = starts[e["job"]]
            if s.get("op"):
                jobs.setdefault(s["op"], []).append((s["t"], e["t"], e["ok"]))
        elif t == "stage" and e.get("op"):
            stages.setdefault(e["op"], []).append(e)
        elif t == "codegen":
            codegen.setdefault(e["op"], []).append(e)
        elif t == "qe":
            qe.append(e["phases"])
    return jobs, stages, codegen, qe


PLAN_PHASES = (("analysis", "plan.analysis_s"), ("optimization", "plan.optimizer_s"),
               ("planning", "plan.physical_s"))


def op_layers(op, tag, jobs, stages, codegen, qe):
    """Per-layer numbers and spans of one traced op."""
    a, b = op["start_ms"], op["end_ms"]
    js = jobs.get(tag, [])
    ss = stages.get(tag, [])
    plan = {k: [] for _, k in PLAN_PHASES}
    for phases in qe:
        for name, key in PLAN_PHASES:
            ph = phases.get(name)
            if ph and a <= ph["start"] <= b:
                plan[key].append((ph["start"], ph["end"]))
    marks = codegen.get(tag, [])
    cg = 0.0
    if len(marks) >= 2:
        cg = max(0, marks[-1]["count"] - marks[0]["count"]) * marks[-1]["mean_ms"] / 1000.0
    all_plan = [iv for ivs in plan.values() for iv in ivs]
    row = {
        "wall_s": op["wall_s"],
        "jvm.jit_s": op["jit_s"],
        "plan.codegen_s": cg,
        "spark.jobs": len(js),
        "spark.stages": len(ss),
        "spark.tasks": sum(s["tasks"] for s in ss),
        "spark.stage_overhead_s": sum(
            stage_overhead(s["submit"], s["complete"], s["durations_ms"]) for s in ss) / 1e3,
        "spark.task_run_s": sum(s["run_ms"] for s in ss) / 1e3,
        "spark.task_cpu_s": sum(s["cpu_ns"] for s in ss) / 1e9,
        "spark.task_deser_s": sum(s["deser_ms"] for s in ss) / 1e3,
        "spark.result_ser_s": sum(s["result_ser_ms"] for s in ss) / 1e3,
        "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in ss) / 2**20,
        "spark.shuffle_read_mb": sum(s["shuffle_read_b"] for s in ss) / 2**20,
        "spark.spill_mb": sum(s["spill_b"] for s in ss) / 2**20,
        "spark.gc_s": sum(s["gc_ms"] for s in ss) / 1e3,
        "spark.failed_tasks": sum(s["failed_tasks"] for s in ss),
        "driver.residual_s": driver_residual(a, b, [(s, e) for s, e, _ in js], all_plan) / 1e3,
        "loop.rounds": len({n for s in ss for n in s["graft_accums"]}),
    }
    for key, ivs in plan.items():
        row[key] = sum(e - s for s, e in ivs) / 1e3
    for ph in op["phases"]:
        row["query." + ph["name"] + "_s"] = ph["s"]
    longest = max(ss, key=lambda s: s["complete"] - s["submit"], default=None)
    row["longest_stage_skew"] = skew(longest["durations_ms"]) if longest else 1.0
    row["longest_stage_ms"] = (longest["complete"] - longest["submit"]) if longest else 0

    spans = [{"name": op["name"], "parent": None, "start": a, "end": b}]
    for ph in op["phases"]:
        spans.append({"name": ph["name"], "parent": op["name"],
                      "start": ph["start_ms"], "end": ph["end_ms"]})

    def parent_of(t):
        for ph in op["phases"]:
            if ph["start_ms"] <= t <= ph["end_ms"]:
                return ph["name"]
        return op["name"]
    for key, ivs in plan.items():
        for s, e in ivs:
            spans.append({"name": key[:-2], "parent": parent_of(s), "start": s, "end": e})
    for i, (s, e, _) in enumerate(js):
        spans.append({"name": f"job{i}", "parent": parent_of(s), "start": s, "end": e})
    for st in ss:
        owner = [f"job{i}" for i, (s, e, _) in enumerate(js) if s <= st["submit"] <= e]
        spans.append({"name": f"stage{st['stage']}", "parent": owner[-1] if owner else op["name"],
                      "start": st["submit"], "end": st["complete"]})
    for sp in spans:
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == sp["name"]]
        sp["self_ms"] = self_time(sp["start"], sp["end"], kids)
    return row, spans


# ---------------------------------------------------------------- reduce

def pass_wall(p):
    return sum(o["wall_s"] for o in p["ops"])


def end_to_end(rec, gen, wrong_ops):
    """End-to-end metrics from the untraced passes, as (cpu, wall,
    attempted, failed, detail). `cpu` holds the bounded metrics: JVM CPU
    seconds (every thread: tasks, driver, GC, JIT), which CPU stolen by
    other tenants of the host does not inflate. `wall` holds the same
    figures in wall-clock seconds. `gen` is the input generation's
    {"cpu_s", "wall_s"}; `wrong_ops` maps (pass index, op name) pairs,
    or op names for every pass, to the reason the op's output was wrong."""
    passes = [p for p in rec["passes"] if not p["traced"]]
    lat = {"cpu_s": [], "wall_s": []}
    attempted = failed = 0
    for p in passes:
        for o in p["ops"]:
            attempted += 1
            bad = (not o["ok"]) or o["name"] in wrong_ops or (p["index"], o["name"]) in wrong_ops
            failed += bad
            for k, xs in lat.items():
                xs.append(FAILED_LATENCY_S if bad else o[k])

    def family(clock, setup):
        per_pass = median([sum(o[clock] for o in p["ops"]) for p in passes])
        tail_v, tail_p, n = tail(lat[clock])
        return {"pass": per_pass, "p50": median(lat[clock]), "tail": tail_v,
                "rows": rec["input_rows"] / per_pass if per_pass > 0 else 0.0,
                "setup": gen[clock] + median([setup(s) for s in rec["setups"]])}, tail_p, n
    c, tail_p, n = family("cpu_s", lambda s: s["cpu_s"])
    w, _, _ = family("wall_s", lambda s: s["session_s"] + s["warmup_s"])
    shared = {
        "ok_frac": (attempted - failed) / attempted if attempted else 0.0,
        "heap_retained_mb": median([p["heap_retained_mb"] for p in passes]),
    }
    cpu = {"pass_cpu_s": c["pass"], "query_p50_cpu_s": c["p50"], "query_tail_cpu_s": c["tail"],
           "rows_per_cpu_s": c["rows"], "setup_s": c["setup"], **shared}
    wall = {"pass_s": w["pass"], "query_p50_s": w["p50"], "query_tail_s": w["tail"],
            "rows_per_s": w["rows"], "setup_s": w["setup"]}
    detail = {"passes": len(passes), "samples": n, "tail_percentile": tail_p,
              "pass_walls_s": [pass_wall(p) for p in passes],
              "setups_s": [s["session_s"] + s["warmup_s"] for s in rec["setups"]],
              "gen": gen}
    return cpu, wall, attempted, failed, detail


def per_layer(rec, e2e_failed_frac, wall):
    """Per-layer metrics (medians over traced passes of per-pass sums,
    plus the run's wall-clock end-to-end figures as wall.*) and the
    per-op table with spans."""
    cores = rec["cores"]
    jobs, stages, codegen, qe = _op_events(rec["events"])
    traced = [p for p in rec["passes"] if p["traced"]]
    untraced = [p for p in rec["passes"] if not p["traced"]]
    per_pass, table = [], []
    for p in traced:
        rows = []
        for o in p["ops"]:
            tag = f"{p['index']}:{o['seq']}"
            row, spans = op_layers(o, tag, jobs, stages, codegen, qe)
            rows.append(row)
            table.append({"pass": p["index"], "op": o["name"], "ok": o["ok"], **row,
                          "spans": spans})
        pass_s = pass_wall(p)
        agg = {k: sum(r.get(k, 0.0) for r in rows) for k in (
            "plan.analysis_s", "plan.optimizer_s", "plan.physical_s", "plan.codegen_s",
            "query.build_s", "query.sink_s", "spark.jobs", "spark.stages", "spark.tasks",
            "spark.stage_overhead_s", "spark.task_run_s", "spark.task_cpu_s",
            "spark.task_deser_s", "spark.result_ser_s", "spark.shuffle_write_mb",
            "spark.shuffle_read_mb", "spark.spill_mb", "spark.gc_s", "spark.failed_tasks",
            "driver.residual_s", "loop.rounds", "jvm.jit_s")}
        agg["spark.core_util"] = agg["spark.task_run_s"] / (pass_s * cores) if pass_s > 0 else 0.0
        blocking = max(rows, key=lambda r: r["longest_stage_ms"], default=None)
        agg["spark.task_skew"] = blocking["longest_stage_skew"] if blocking else 1.0
        loop_jobs = sum(r["spark.jobs"] for r in rows if r["loop.rounds"] > 0)
        agg["loop.jobs_per_round"] = loop_jobs / agg["loop.rounds"] if agg["loop.rounds"] else 0.0
        for name in GRID_SPANS:
            agg[name + "_s"] = sum(o["wall_s"] for o in p["ops"] if o["name"] == name)
        agg["_wall"] = pass_s
        per_pass.append(agg)
    keys = [k for k in (per_pass[0] if per_pass else {}) if not k.startswith("_")]
    layers = {k: median([a[k] for a in per_pass]) for k in keys}
    checks = [p["checks"] for p in rec["passes"] if isinstance(p["checks"].get("catalog_bytes"), int)]
    layers["catalog.bytes_per_cell"] = median(
        [c["catalog_bytes"] / c["cells"] for c in checks]) if checks else 0.0
    layers["memo.misses"] = max([p["memo_after"] - p["memo_before"] for p in rec["passes"]],
                                default=0)
    untraced_s = median([pass_wall(p) for p in untraced])
    traced_s = median([a["_wall"] for a in per_pass])
    layers["trace.overhead_frac"] = traced_s / untraced_s - 1.0 if untraced_s > 0 else 0.0
    layers["failed_frac"] = e2e_failed_frac
    layers.update({"wall." + k: v for k, v in wall.items()})
    return layers, table
