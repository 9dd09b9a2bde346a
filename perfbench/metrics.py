"""Turns one run's raw observations (written by the benchmark JVM) into the
benchmark's metrics. Pure functions; perfbench/test_metrics.py covers the
percentile and tail rule, span self time and the open-loop lateness
accounting."""
import statistics

# Percentiles the tail rule may pick from, highest last.
TAIL_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# An open-loop send more than this late counts as the generator falling
# behind; more than LATE_SHARE of sends that late invalidates the run.
LATE_MS = 100.0
LATE_SHARE = 0.01


def percentile(xs, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = p / 100.0 * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs):
    """The highest percentile of TAIL_GRID with at least ten samples
    beyond it: returns (label, value, n). Fewer than 20 samples leave no
    such percentile; the tail is then the maximum, labelled "max"."""
    n = len(xs)
    fits = [p for p in TAIL_GRID if n * (1.0 - p / 100.0) >= 10.0 - 1e-9]
    if not fits:
        return "max", max(xs), n
    p = fits[-1]
    return f"p{p:g}", percentile(xs, p), n


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of (start, end) intervals, each clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
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


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_ms(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def decompose(start, end, child_intervals, job_intervals):
    """Splits [start, end] into time covered by a child span, time outside
    children covered by a Spark job, and the rest (off-job self time).
    The three parts sum to the span by construction."""
    span = end - start
    child = union_ms(child_intervals, start, end)
    either = union_ms(list(child_intervals) + list(job_intervals), start, end)
    return {"child": child, "self_job": either - child,
            "self_offjob": span - either}


def lateness(late_ms):
    """Open-loop generator lateness: how late sends ran behind schedule,
    and whether the generator fell behind."""
    if not late_ms:
        return {"p50": 0.0, "p99": 0.0, "max": 0.0, "late_share": 0.0,
                "behind": False}
    late = sum(1 for x in late_ms if x > LATE_MS) / len(late_ms)
    return {"p50": percentile(late_ms, 50), "p99": percentile(late_ms, 99),
            "max": max(late_ms), "late_share": late,
            "behind": late > LATE_SHARE}


def backlog_grew(lag_ms):
    """Lag in the last tenth of the schedule against the first tenth: a
    growing backlog shows as the last tenth's median well above the
    first's."""
    k = len(lag_ms) // 10
    if k == 0:
        return {"first": 0.0, "last": 0.0, "grew": False}
    first = statistics.median(lag_ms[:k])
    last = statistics.median(lag_ms[-k:])
    return {"first": first, "last": last, "grew": last > 1.5 * first + 250.0}


def end_to_end(raw):
    """The untraced run's end-to-end metrics (see perfbench/README.md for
    what each means on each workload)."""
    lag = [x for x in raw["lag_ms"] if x is not None]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "heap_peak_mb": raw["heap_peak_mb"],
        "apply_events_per_s": raw["events_per_s"],
        "apply_lag_p50_ms": percentile(lag, 50),
        "apply_lag_tail_ms": tail(lag)[1],
    }


def lookups(raw):
    """Point-read latency of the closed-loop reader (cdc_steady only)."""
    look = raw.get("lookup_ms") or []
    if not look:
        return None
    label, value, n = tail(look)
    return {"p50_ms": percentile(look, 50), "tail_ms": value,
            "tail": label, "n": n, "failed": raw.get("lookups_failed", 0)}


# Traces of work beside the batches or syncs: the reader and maintenance.
SIDE_TRACES = ("read", "maintenance")


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(raw):
    """Per-layer metrics of a traced run, from its spans, jobs and stages."""
    lo, hi = raw["measure_start_ms"], raw["measure_end_ms"]
    spans = [dict(zip(("id", "parent", "trace", "layer", "name", "start",
                       "end"), s)) for s in raw["spans"]]
    by_id = {s["id"]: s for s in spans}
    jobs = [dict(zip(("id", "layer", "span", "trace", "start", "end",
                      "stages"), j)) for j in raw["jobs"]]
    jobs = [j for j in jobs if j["layer"] != "sentinel"]
    for j in jobs:
        if j["end"] < j["start"]:
            j["end"] = j["start"]
        sp = by_id.get(int(j["span"])) if j["span"] else None
        j["span_name"] = sp["name"] if sp else None
    stage = {}
    for s in raw["stages"]:
        stage[s[0]] = {"tasks": s[1], "shuffle": s[2], "out": s[3], "cpu": s[4]}
    owner = {}
    for j in jobs:
        for sid in j["stages"]:
            owner.setdefault(sid, j["id"])

    def stage_sum(js, key):
        ids = {j["id"] for j in js}
        return sum(v[key] for sid, v in stage.items() if owner.get(sid) in ids)

    def stage_count(js):
        ids = {j["id"] for j in js}
        return sum(1 for sid in stage if owner.get(sid) in ids)

    measured = [j for j in jobs if lo <= j["start"] <= hi]
    in_window = [s for s in spans if lo <= s["start"] <= hi]
    m = {}

    # units: micro-batches (cdc_*) or syncs (dedup_sync), in time order
    units = sorted(raw.get("batches", []), key=lambda b: b["begin_ms"])
    is_sync = raw["workload"] == "dedup_sync"
    events = raw["events"]

    # job -> unit: by the trace property, else (sequential units only) by
    # the unit window the job started in; jobs whose own properties do
    # not name their unit are the attribution gap
    windows = [(u["begin_ms"], u["commit_ms"], u) for u in units]
    prefix = "s" if is_sync else "b"
    unit_jobs = {id(u): [] for u in units}
    by_trace = {f"{prefix}{u['id']}": u for u in units}
    sequential = is_sync or raw["workload"] == "cdc_catchup"
    unattributed = 0
    for j in measured:
        u = by_trace.get(j["trace"])
        if u is not None and not (u["begin_ms"] - 1.0 <= j["start"]
                                  <= u["commit_ms"] + 1.0):
            u = None  # a stale property from a reused pool thread
        if u is None and j["trace"] not in SIDE_TRACES:
            unattributed += 1
            if sequential:
                u = next((w[2] for w in windows
                          if w[0] - 1.0 <= j["start"] <= w[1] + 1.0), None)
        if u is not None:
            unit_jobs[id(u)].append(j)
    m["jobs.unattributed"] = float(unattributed)
    m["jobs.total"] = float(len(measured))

    # self time per layer, over the measured phase, per unit
    selfs = self_times(spans)
    for layer in ("pipeline", "sinks", "sources", "operators"):
        tot = sum(selfs[s["id"]] for s in in_window if s["layer"] == layer)
        m[f"self_ms_per_unit.{layer}"] = tot / len(units) if units else 0.0

    batches = [] if is_sync else units
    nb = len(batches)
    spans_named = lambda n: [s for s in in_window if s["name"] == n]
    if batches:
        batch_span = {s["trace"]: s for s in spans_named("pipeline.batch")}
        decomp_err = 0.0
        parts = {"child": [], "self_job": [], "self_offjob": []}
        offjob = []
        for b in batches:
            tr = f"b{b['id']}"
            bs = batch_span.get(tr)
            if bs is None:
                continue
            kids = [(s["start"], s["end"]) for s in spans
                    if s["parent"] == bs["id"]]
            js = [(j["start"], j["end"]) for j in unit_jobs[id(b)]]
            d = decompose(bs["start"], bs["end"], kids, js)
            for k in parts:
                parts[k].append(d[k])
            decomp_err = max(decomp_err, abs(sum(d.values()) -
                                             (bs["end"] - bs["start"])))
            offjob.append((bs["end"] - bs["start"]) -
                          union_ms(js, bs["start"], bs["end"]))
        m["pipeline.jobs_per_batch"] = sum(len(unit_jobs[id(b)])
                                           for b in batches) / nb
        m["pipeline.offjob_ms_per_batch"] = _mean(offjob)
        m["pipeline.child_ms_per_batch"] = _mean(parts["child"])
        m["pipeline.self_job_ms_per_batch"] = _mean(parts["self_job"])
        m["pipeline.self_offjob_ms_per_batch"] = _mean(parts["self_offjob"])
        m["trace.accounting_error_ms"] = decomp_err
        m["pipeline.batch_ms_p50"] = percentile(
            [b["commit_ms"] - b["begin_ms"] for b in batches], 50)
        m["pipeline.decode_plan_ms"] = sum(
            s["end"] - s["start"] for s in spans_named("pipeline.decode")) / nb
        m["pipeline.commit_ms_per_batch"] = _mean(
            [b["durations"].get("walCommit", 0) +
             b["durations"].get("commitOffsets", 0) for b in batches])
        rounds = raw.get("rounds")
        m["pipeline.batches"] = (statistics.median(r["batches"] for r in rounds)
                                 if rounds else float(nb))
        m["sources.offset_ms_per_batch"] = _mean(
            [b["durations"].get("latestOffset", 0) for b in batches])
        m["sources.get_batch_ms_per_batch"] = _mean(
            [b["durations"].get("getBatch", 0) for b in batches])
        m["sources.rows_per_batch"] = _mean([b["rows"] for b in batches])
        writes = spans_named("sinks.write")
        wjobs = [j for j in measured if j["span_name"] == "sinks.write"]
        m["sinks.write_events_ms_p50"] = percentile(raw["write_ms"], 50)
        m["sinks.jobs_per_write"] = len(wjobs) / max(1, len(writes))
        per_span = {}
        for j in wjobs:
            per_span.setdefault(int(j["span"]), []).append((j["start"], j["end"]))
        m["sinks.offjob_ms_per_write"] = _mean(
            [(s["end"] - s["start"]) -
             union_ms(per_span.get(s["id"], []), s["start"], s["end"])
             for s in writes])
        batch_jobs = [j for b in batches for j in unit_jobs[id(b)]]
        sink_jobs = [j for j in batch_jobs if j["layer"] == "sinks"]
        m["sinks.shuffle_bytes_per_event"] = stage_sum(sink_jobs, "shuffle") / events
        all_sink = [j for j in measured if j["layer"] == "sinks"
                    and j["span_name"] != "sinks.lookup"]
        m["sinks.bytes_written_per_event"] = stage_sum(all_sink, "out") / events
        m["sources.decode_ns_per_frame"] = raw["decode_ns"] / max(1, raw["frames"])
    maint = raw.get("maintenance_ms") or []
    m["sinks.maintenance_ms_p50"] = percentile(maint, 50) if maint else 0.0
    m["sinks.maintenance_ms_max"] = max(maint) if maint else 0.0
    m["sinks.maintenance_runs"] = float(len(maint))
    m["sinks.layers_at_end"] = float(raw["layers_at_end"])
    m["sinks.files_at_end"] = float(raw["files_at_end"])
    look_jobs = [j for j in measured if j["span_name"] == "sinks.lookup"]
    m["sinks.lookup_jobs_per_call"] = len(look_jobs) / max(1, raw.get("lookups", 0))
    copy_jobs = [j for j in jobs if j["span_name"] in ("sinks.copy",)]
    setups = len(raw["setup_s"])
    m["sinks.copy_ms"] = statistics.median(raw["copy_s"]) * 1000.0
    m["sinks.copy_jobs"] = len(copy_jobs) / setups
    if is_sync:
        n = len(units)
        sync_jobs = [j for u in units for j in unit_jobs[id(u)]]
        m["operators.jobs_per_sync"] = len(sync_jobs) / n
        m["operators.stages_per_sync"] = stage_count(sync_jobs) / n
        m["operators.offjob_s_per_sync"] = _mean(
            [((u["commit_ms"] - u["begin_ms"]) -
              union_ms([(j["start"], j["end"]) for j in unit_jobs[id(u)]],
                       u["begin_ms"], u["commit_ms"])) / 1000.0
             for u in units])
        m["operators.shuffle_bytes_per_sync"] = stage_sum(sync_jobs, "shuffle") / n
        m["operators.executor_cpu_s_per_sync"] = stage_sum(sync_jobs, "cpu") / n / 1e9
        m["sinks.commits_per_sync"] = _mean(raw["commits"])
    return {k: float(m.get(k, 0.0)) for k in PER_LAYER}


PER_LAYER = (
    "pipeline.jobs_per_batch", "pipeline.offjob_ms_per_batch",
    "pipeline.batch_ms_p50", "pipeline.decode_plan_ms",
    "pipeline.commit_ms_per_batch", "pipeline.batches",
    "pipeline.child_ms_per_batch", "pipeline.self_job_ms_per_batch",
    "pipeline.self_offjob_ms_per_batch",
    "sinks.write_events_ms_p50", "sinks.jobs_per_write",
    "sinks.offjob_ms_per_write", "sinks.shuffle_bytes_per_event",
    "sinks.maintenance_ms_p50", "sinks.maintenance_ms_max",
    "sinks.maintenance_runs", "sinks.layers_at_end",
    "sinks.bytes_written_per_event", "sinks.lookup_jobs_per_call",
    "sinks.files_at_end", "sinks.copy_ms", "sinks.copy_jobs",
    "sources.decode_ns_per_frame", "sources.offset_ms_per_batch",
    "sources.get_batch_ms_per_batch", "sources.rows_per_batch",
    "operators.jobs_per_sync", "operators.stages_per_sync",
    "operators.offjob_s_per_sync", "operators.shuffle_bytes_per_sync",
    "operators.executor_cpu_s_per_sync", "sinks.commits_per_sync",
    "self_ms_per_unit.pipeline", "self_ms_per_unit.sinks",
    "self_ms_per_unit.sources", "self_ms_per_unit.operators",
    "jobs.unattributed", "jobs.total", "trace.accounting_error_ms",
)
