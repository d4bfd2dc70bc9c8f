"""Reductions from the harness's raw records to the benchmark's metrics.

Times in the raw records are epoch milliseconds (spans, jobs, stages,
query phases) or seconds (entry, pass and tick walls).
"""
import statistics

MIN_TAIL = 10  # samples that must lie beyond a reported percentile


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supports(n, q):
    """True when `n` samples leave at least MIN_TAIL beyond quantile q."""
    return n * (1.0 - q) >= MIN_TAIL - 1e-9


def highest_supported(n, candidates=(0.99, 0.95, 0.9, 0.75, 0.5)):
    """The highest candidate quantile that `n` samples support, or None."""
    return next((q for q in candidates if supports(n, q)), None)


def union(intervals):
    """Sorted, disjoint cover of the given (start, end) intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def union_length(intervals):
    return sum(e - s for s, e in union(intervals))


def covered(interval, intervals):
    """Length of `interval` that the union of `intervals` covers."""
    s0, e0 = interval
    clipped = [(max(s, s0), min(e, e0)) for s, e in intervals]
    return union_length(clipped)


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered(
        (span["start"], span["end"]), [(c["start"], c["end"]) for c in children])


def median(values):
    return statistics.median(values) if values else 0.0


def slope(xs, ys):
    """Least-squares slope of ys against xs (0 when xs do not vary)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


# --- per-layer metrics from a traced run -----------------------------------

CONNECTOR_FAMILIES = {"http": "http_", "kv": "kv_", "zk": "zk_",
                      "kafka": "kf_"}


def exec_metrics(trace, cores, n_units, wall_s):
    """The `exec.*` layer: Spark jobs, stages and tasks of the traced
    passes or rounds, per pass (or round). `wall_s` is their total wall
    time."""
    spans = {s["id"]: s for s in trace["spans"]}
    jobs = [j for j in trace["jobs"] if j.get("span") in spans and "end" in j]
    stage_ids = {sid for j in jobs for sid in j["stages"]}
    stages = [s for s in trace["stages"] if s["stage"] in stage_ids]
    tasks = sum(s["tasks"] for s in stages)
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    job_union_s = union_length([(j["start"], j["end"]) for j in jobs]) / 1e3
    failed_tasks = sum(s["failed"] for s in stages)
    retried = sum(1 for s in stages if s["attempt"] > 0)
    mb = 1024.0 * 1024.0
    per = float(max(1, n_units))
    return {
        "exec.jobs": len(jobs) / per,
        "exec.stages": len(stages) / per,
        "exec.tasks": tasks / per,
        "exec.task_run_s": run_s / per,
        "exec.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9 / per,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3 / per,
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / mb / per,
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / mb / per,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) / mb / per,
        "exec.peak_exec_mem_mb": max([s["peak_mem_b"] for s in stages] or [0]) / mb,
        "exec.input_records": sum(s["input_records"] for s in stages) / per,
        "exec.straggler_s": sum(s["task_max_ms"] - s["task_median_ms"]
                                for s in stages) / 1e3 / per,
        "exec.busy_frac": run_s / (job_union_s * cores) if job_union_s else 0.0,
        "exec.driver_gap_s": (wall_s - job_union_s) / per,
        "exec.task_fail_ratio": (failed_tasks + retried) / tasks if tasks else 0.0,
    }


def entry_layer_metrics(raw, cores):
    """Per-layer metrics of an entry workload's traced passes, per pass."""
    tr = raw["trace"]
    spans = tr["spans"]
    passes = [p for p in raw["passes"] if p["traced"]]
    n = len(passes)
    per = float(max(1, n))
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss) / 1e3
    build_ids = {s["id"] for s in by_kind.get("build", [])}
    exec_spans = by_kind.get("exec", [])
    pass_wall = dur(by_kind.get("pass", []))

    def in_exec(t):
        return any(s["start"] <= t <= s["end"] for s in exec_spans)

    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for q in tr["query_phases"]:
        p = q.get("planning") or q.get("analysis")
        if p and in_exec(p["start"]):
            for k in phases:
                if k in q:
                    phases[k] += (q[k]["end"] - q[k]["start"]) / 1e3
    runs = [r for r in raw["runs"] if r["traced"]]
    fam = {k: sum(r["s"] for r in runs if r["name"].startswith(p)) / per
           for k, p in CONNECTOR_FAMILIES.items()}
    m = {
        "queries.build_s": dur(by_kind.get("build", [])) / per,
        "queries.eager_jobs": sum(1 for j in tr["jobs"] if j.get("span") in build_ids) / per,
        "queries.analysis_s": phases["analysis"] / per,
        "queries.optimization_s": phases["optimization"] / per,
        "queries.planning_s": phases["planning"] / per,
        "exec.s": dur(exec_spans) / per,
        "connectors.http_s": fam["http"], "connectors.kv_s": fam["kv"],
        "connectors.zk_s": fam["zk"], "connectors.kafka_s": fam["kafka"],
        "etl.script_s": sum(r["s"] for r in runs if r["name"].startswith("etl_")) / per,
    }
    m.update(exec_metrics(tr, cores, n, pass_wall))
    m.update(stream_metrics(tr, per))
    return m


def stream_metrics(tr, per):
    """The `streaming.*` layer. A streaming query belongs to the entry
    whose span holds its start (one client runs one entry at a time)."""
    entries = [s for s in tr["spans"] if s["kind"] == "entry"]

    def entry_at(t):
        return next((e["id"] for e in entries if e["start"] <= t <= e["end"]), None)

    owners = {st["run"]: entry_at(st["start"]) for st in tr["stream_starts"]}
    prog = [p for p in tr["stream_progress"] if owners.get(p["run"])]
    walls = {e["id"]: (e["end"] - e["start"]) / 1e3 for e in entries}
    stream_entries = {o for o in owners.values() if o}
    trig = sum(p.get("triggerExecution", 0) for p in prog)
    return {
        "streaming.queries": sum(1 for o in owners.values() if o) / per,
        "streaming.batches": len(prog) / per,
        "streaming.trigger_ms": trig / per,
        "streaming.add_batch_ms": sum(p.get("addBatch", 0) for p in prog) / per,
        "streaming.wal_commit_ms": sum(p.get("walCommit", 0) for p in prog) / per,
        "streaming.query_planning_ms": sum(p.get("queryPlanning", 0) for p in prog) / per,
        "streaming.state_rows": max([p.get("state_rows", 0) for p in prog] or [0]),
        "streaming.lifecycle_gap_s":
            (sum(walls[e] for e in stream_entries) - trig / 1e3) / per,
    }


def runner_layer_metrics(raw, cores):
    """Per-layer metrics of the Runner's traced rounds, per tick."""
    tr = raw["trace"]
    spans = tr["spans"]
    ticks = [s for s in spans if s["kind"] == "tick"]
    n = max(1, len(ticks))
    kind = lambda k: [s for s in spans if s["kind"] == k]
    ms = lambda ss: [s["end"] - s["start"] for s in ss]
    reads, writes, comps, jobs = kind("journal_read"), kind("journal_write"), \
        kind("compile"), kind("job")
    tick_ms = sum(ms(ticks))
    comp_ms = sum(ms(comps))
    job_ms = sum(ms(jobs)) - comp_ms
    journal_ids = {s["id"] for s in reads + writes}
    children = {}
    for s in reads + writes + jobs:
        children.setdefault(s["parent"], []).append(s)
    rounds = [r for r in raw["rounds"] if r["traced"]]
    compiles = sum(r["compiles"] for r in rounds)
    lookups = sum(r["lookups"] for r in rounds)
    # slope of tick time against the journal rows the tick started with;
    # compile time is left out, as the recompile schedule, not the
    # history, sets it
    comp_by_tick = {}
    for c in comps:
        tick = c["parent"].rsplit(".job", 1)[0]
        comp_by_tick[tick] = comp_by_tick.get(tick, 0.0) + c["end"] - c["start"]
    rows = {f"r{t['round']}.t{t['tick']}": t["history_rows"] for t in raw["ticks"]}
    xs = [rows[t["id"]] / 1000.0 for t in ticks]
    ys = [t["end"] - t["start"] - comp_by_tick.get(t["id"], 0.0) for t in ticks]
    wall_s = tick_ms / 1e3
    m = {
        "engine.journal_read_ms": sum(ms(reads)) / n,
        "engine.journal_read_p50_ms": median(ms(reads)),
        "engine.journal_write_ms": sum(ms(writes)) / n,
        "engine.journal_write_p50_ms": median(ms(writes)),
        "engine.compile_ms": comp_ms / n,
        "engine.job_ms": job_ms / n,
        "engine.other_ms": sum(self_time(t, children.get(t["id"], [])) for t in ticks) / n,
        "engine.recompiles": compiles / float(max(1, len(rounds))),
        "engine.compile_hit_ratio": (lookups - compiles) / lookups if lookups else 0.0,
        "engine.journal_files": median([r["journal_files"] for r in rounds]),
        "engine.journal_jobs_per_tick": sum(
            1 for j in tr["jobs"] if j.get("span") in journal_ids) / n,
        "engine.tick_growth_ms_per_krow": slope(xs, ys),
    }
    m.update(exec_metrics(tr, cores, n, wall_s))
    return m
