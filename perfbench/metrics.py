"""Turns the raw records the Scala harness writes into benchmark metrics.

Pure functions over plain dicts, so the rules (percentiles, open-loop
latency, self time, correctness and bypass facts) are unit-tested without
Spark; see tests/test_metrics.py.
"""
import math
import statistics

MODULES = ["ops.Etl", "ops.Splits", "ops.Joins", "ops.Aggs", "ops.Relational",
           "ops.Sketches", "ops.Pipeline", "ops.Similarity", "ops.Graph"]
STREAM_QUERIES = ["dwd_dedup", "dws_window", "dws_uu", "dim_upsert"]
E2E = ["setup_s", "cold_pass_s", "warm_pass_s", "latency_p50_s"]
MB = 1e6


# ---- statistics -------------------------------------------------------------

def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def tail(values, beyond=10):
    """Highest whole percentile with at least `beyond` samples above it.

    Returns (percentile, value) by the nearest-rank rule, or (None, None)
    when the sample is too small to support even the median."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None
    p = math.floor(100 * (n - beyond) / n)
    if p < 50:
        return None, None
    rank = math.ceil(p * n / 100)
    return p, xs[rank - 1]


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to [lo, hi]."""
    ivs = []
    for a, b in intervals:
        if a is None or b is None:
            continue
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            ivs.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(ivs):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---- spans ------------------------------------------------------------------

def self_times(spans):
    """Per span name, the summed duration not covered by the span's children."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = children.get(s["id"], [])
        covered = union_length([(k["start"], k["end"]) for k in kids],
                               s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def batch_spans(phase):
    """Spans of one traced batch phase: query -> build/run -> job -> stage."""
    spans, by_op = [], {}

    def add(name, trace, parent, start, end, **attrs):
        sid = len(spans)
        spans.append(dict(id=sid, name=name, trace=trace, parent=parent,
                          start=start, end=end, attrs=attrs))
        return sid

    for op in phase["ops"]:
        root = add("query", op["id"], None, op["start"], op["end"], query=op["name"])
        b = add("build", op["id"], root, op["start"], op["build_end"])
        r = add("run", op["id"], root, op["build_end"], op["end"])
        add("memo", op["id"], root, op["end"], op["end"], builds=op.get("memo") or {})
        by_op[op["id"]] = (op, b, r)
    tr = phase.get("trace") or {}
    job_span = {}
    for j in tr.get("jobs", []):
        hit = by_op.get(j.get("group"))
        if hit is None or j.get("end") is None:
            continue
        op, b, r = hit
        parent = b if j["start"] < op["build_end"] else r
        job_span[j["id"]] = add("job", op["id"], parent, j["start"], j["end"], job=j["id"])
    for st in tr.get("stages", []):
        if st["job"] in job_span and st["end"] >= st["start"] > 0:
            p = spans[job_span[st["job"]]]
            add("stage", p["trace"], p["id"], st["start"], st["end"], tasks=st["tasks"])
    return spans


def stream_spans(phase, lat):
    """Spans of one traced stream phase: chunk roots and trigger -> job -> stage."""
    spans = []

    def add(name, trace, parent, start, end, **attrs):
        sid = len(spans)
        spans.append(dict(id=sid, name=name, trace=trace, parent=parent,
                          start=start, end=end, attrs=attrs))
        return sid

    for c, l in zip(phase["chunks"], lat):
        if l is not None:
            add("chunk", "chunk-%d" % c["k"], None, c["due"], c["due"] + l)
    ids = {v: k for k, v in (phase.get("query_ids") or {}).items()}
    triggers = []
    for p in phase["progress"]:
        t = "%s#%d" % (p["query"], p["batch"])
        sid = add("trigger", t, None, p["start"], p["start"] + p["trigger_s"],
                  **{k: v for k, v in (p.get("durations") or {}).items()})
        triggers.append((p["query"], sid))
    tr = phase.get("trace") or {}
    job_span = {}
    for j in tr.get("jobs", []):
        q = ids.get(j.get("stream_query"))
        if q is None or j.get("end") is None:
            continue
        for tq, sid in triggers:
            s = spans[sid]
            if tq == q and s["start"] <= j["start"] <= s["end"]:
                job_span[j["id"]] = add("job", s["trace"], sid, j["start"], j["end"])
                break
    for st in tr.get("stages", []):
        if st["job"] in job_span and st["end"] >= st["start"] > 0:
            p = spans[job_span[st["job"]]]
            add("stage", p["trace"], p["id"], st["start"], st["end"], tasks=st["tasks"])
    return spans


# ---- end-to-end metrics -----------------------------------------------------

def batch_latencies(phase):
    """Per-query latencies of the warm passes."""
    return [o["end"] - o["start"] for o in phase["ops"]
            if o["ok"] and o["pass"].startswith("warm")]


def batch_e2e(phase):
    passes = phase["passes"]
    cold = [p["end"] - p["start"] for p in passes if p["kind"] == "cold"]
    warm = [p["end"] - p["start"] for p in passes if p["kind"] == "warm"]
    return {
        "cold_pass_s": median(cold),
        "warm_pass_s": median(warm),
        "latency_p50_s": median(batch_latencies(phase)),
    }


def chunk_latencies(chunks, progress, queries=STREAM_QUERIES):
    """Open-loop latency of each chunk, measured from when it was due to
    when the last query committed a batch containing it (None if never)."""
    commits = {q: sorted((int(p["end_offset"]), p["start"] + p["trigger_s"])
                         for p in progress
                         if p["query"] == q and p.get("end_offset") is not None)
               for q in queries}
    out = []
    for c in chunks:
        last = None
        for q in queries:
            t = next((t for off, t in commits[q] if off >= c["offset"]), None)
            if t is None:
                last = None
                break
            last = t if last is None else max(last, t)
        out.append(None if last is None else last - c["due"])
    return out


def generator_lateness(chunks):
    """How late the generator sent chunks: the largest sent-minus-due."""
    return max((c["sent"] - c["due"] for c in chunks), default=0.0)


def backlog_max(chunks, lat):
    """Most chunks sent but not yet committed by every query at any send."""
    done = [c["due"] + l if l is not None else math.inf for c, l in zip(chunks, lat)]
    best = 0
    for c in chunks:
        t = c["sent"]
        best = max(best, sum(1 for c2, d in zip(chunks, done) if c2["sent"] <= t < d))
    return best


def drain_s(drains):
    """Median of [start, end] drains, or None if any never finished."""
    if not drains or any(d[1] is None for d in drains):
        return None
    return median([d[1] - d[0] for d in drains])


def stream_e2e(phase):
    t = phase["times"]
    lat = chunk_latencies(phase["chunks"], phase["progress"])
    warm = drain_s(t["warm"])
    cold = drain_s(t["cold"])
    return {
        "cold_pass_s": cold,
        "warm_pass_s": warm,
        "latency_p50_s": median([l for l in lat if l is not None]),
    }


def e2e(raw, phase):
    if raw["workload"] == "stream_ingest":
        return stream_e2e(phase)
    return batch_e2e(phase)


# ---- correctness and bypass facts -------------------------------------------

def check_outputs(checks, expected):
    """Failures among per-query content checks, as (name, reason)."""
    bad = []
    for c in checks:
        exp = expected.get(c["name"])
        if "error" in c:
            bad.append((c["name"], "threw: " + c["error"]))
        elif exp is None:
            bad.append((c["name"], "no recorded expectation"))
        elif c["rows"] != exp["rows"]:
            bad.append((c["name"], "rows %d != %d" % (c["rows"], exp["rows"])))
        elif not exp.get("rows_only") and (c["hash"] != exp["hash"] or c["cols"] != exp["cols"]):
            bad.append((c["name"], "content hash differs"))
    return bad


def memo_builds(ops):
    return sum(len(o.get("memo") or {}) for o in ops)


def bypass_facts(raw, expected):
    """The memo facts each workload must show, as (fact, holds).

    stream_ingest builds no memo. In batch_release, the queries that built
    no memo at the seed (the warehouse queries and gr5) build none in any
    pass, and every cold pass rebuilds every memo name the seed saw."""
    if raw["workload"] == "stream_ingest":
        n = sum(len(p.get("memo") or {}) for p in raw["phases"])
        return [("stream_ingest records zero memo builds", n == 0)]
    qs = expected.get("queries", {})
    free = {q for q, e in qs.items() if not e.get("memo")}
    want = {m for e in qs.values() for m in e.get("memo", [])}
    facts = []
    for ph in raw["phases"]:
        stray = sorted({o["name"] for o in ph["ops"] if o["name"] in free and o.get("memo")})
        facts.append(("%s phase: memo-free queries build no memo%s" % (
            "traced" if ph["traced"] else "untraced",
            " (%s did)" % ",".join(stray) if stray else ""), not stray))
        cold = {}
        for o in ph["ops"]:
            if o["pass"].startswith("cold"):
                cold.setdefault(o["pass"], set()).update((o.get("memo") or {}).keys())
        for name, built in sorted(cold.items()):
            missing = sorted(want - built)
            facts.append(("%s rebuilds every memo seen at the seed%s"
                          % (name, " (missing %s)" % ",".join(missing) if missing else ""),
                          bool(want) and not missing))
    return facts


# ---- per-layer metrics ------------------------------------------------------

def _engine(jobs, scale):
    def s(k):
        return sum(j.get(k) or 0 for j in jobs) / scale
    return {
        "engine.jobs": len(jobs) / scale,
        "engine.stages": s("stages"),
        "engine.tasks": s("tasks"),
        "engine.task_run_s": s("run_s"),
        "engine.task_cpu_s": s("cpu_s"),
        "engine.gc_s": s("gc_s"),
        "engine.shuffle_write_mb": s("shuffle_write") / MB,
        "engine.shuffle_read_mb": s("shuffle_read") / MB,
        "engine.spill_mb": s("spill") / MB,
        "engine.peak_exec_mem_mb": max((j.get("peak_mem") or 0 for j in jobs), default=0) / MB,
        "Tables.scan_mb": s("in_bytes") / MB,
        "Tables.scan_rows": s("in_rows"),
    }


def _plans(plans, scale):
    return {
        "plans.analysis_s": sum(p["analysis_s"] for p in plans) / scale,
        "plans.optimization_s": sum(p["optimization_s"] for p in plans) / scale,
        "plans.physical_s": sum(p["physical_s"] for p in plans) / scale,
        "plans.nodes": sum(p["nodes"] for p in plans) / scale,
    }


def batch_layers(phase):
    """Per-layer metrics of a traced batch phase, averaged per pass."""
    scale = max(1, len(phase["passes"]))
    tr = phase.get("trace") or {}
    ops = phase["ops"]
    by_op = {o["id"]: o for o in ops}
    jobs = [j for j in tr.get("jobs", []) if j.get("group") in by_op]
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["group"], []).append(j)
    out = _engine(jobs, scale)
    out.update(_plans(tr.get("plans", []), scale))

    def gap(o):
        js = jobs_of.get(o["id"], [])
        return (o["end"] - o["start"]) - union_length(
            [(j["start"], j["end"]) for j in js], o["start"], o["end"])

    out["engine.driver_gap_s"] = sum(gap(o) for o in ops) / scale
    out["SparkEntry.build_s"] = sum(o["build_end"] - o["start"] for o in ops) / scale
    out["SparkEntry.run_s"] = sum(o["end"] - o["build_end"] for o in ops) / scale
    out["SparkEntry.eager_jobs"] = sum(
        1 for j in jobs if j["start"] < by_op[j["group"]]["build_end"]) / scale
    out["ops.Memo.build_s"] = sum(sum((o.get("memo") or {}).values()) for o in ops) / scale
    out["ops.Memo.builds"] = memo_builds(ops) / scale
    for m in MODULES:
        mo = [o for o in ops if m in o["modules"]]
        out[m + ".wall_s"] = sum(o["end"] - o["start"] for o in mo) / scale
        out[m + ".jobs"] = sum(len(jobs_of.get(o["id"], [])) for o in mo) / scale
        out[m + ".driver_gap_s"] = sum(gap(o) for o in mo) / scale
    return out


def stream_layers(phase, lat):
    """Per-layer metrics of a traced stream phase, as totals over the phase."""
    tr = phase.get("trace") or {}
    jobs = tr.get("jobs", [])
    out = _engine(jobs, 1)
    out.update(_plans(tr.get("plans", []), 1))
    t = phase["times"]
    end = max([d[1] for d in t["warm"] if d[1] is not None] + [t.get("settled") or t["open_end"]])
    begin = t["cold"][0][0]
    out["engine.driver_gap_s"] = (end - begin) - union_length(
        [(j["start"], j["end"]) for j in jobs if j.get("end")], begin, end)
    for q in STREAM_QUERIES:
        ps = [p for p in phase["progress"] if p["query"] == q]
        d = [p.get("durations") or {} for p in ps]
        last = ps[-1] if ps else {}
        out["streaming.%s.batches" % q] = len(ps)
        out["streaming.%s.trigger_s" % q] = sum(p["trigger_s"] for p in ps)
        out["streaming.%s.add_batch_s" % q] = sum(x.get("addBatch", 0) for x in d)
        out["streaming.%s.planning_s" % q] = sum(x.get("queryPlanning", 0) for x in d)
        out["streaming.%s.checkpoint_s" % q] = sum(
            x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d)
        out["streaming.%s.state_rows" % q] = last.get("state_rows", 0)
        out["streaming.%s.state_mb" % q] = last.get("state_bytes", 0) / MB
        out["streaming.%s.state_commit_s" % q] = sum(p["state_commit_s"] for p in ps)
        out["streaming.%s.late_dropped" % q] = sum(p["late_dropped"] for p in ps)
    upsert_id = (phase.get("query_ids") or {}).get("dim_upsert")
    written = sum(j.get("out_bytes") or 0 for j in jobs if j.get("stream_query") == upsert_id)
    target = phase.get("target_bytes") or 0
    out["streaming.dim_upsert.write_amp"] = written / target if target else 0.0
    out["streaming.dim_upsert.target_mb"] = target / MB
    out["stream.backlog_max_chunks"] = backlog_max(phase["chunks"], lat)
    out["stream.generator_late_s"] = generator_lateness(phase["chunks"])
    warm = drain_s(t["warm"])
    out["stream.drain_events_per_s"] = phase["drain_events"] / warm if warm else 0.0
    return out


def layers(raw, phase, base_phase):
    """Every per-layer metric for one traced phase; layers the workload does
    not exercise read 0."""
    stream = raw["workload"] == "stream_ingest"
    if stream:
        lat = chunk_latencies(phase["chunks"], phase["progress"])
        out = stream_layers(phase, lat)
        spans = stream_spans(phase, lat)
        samples = [l for l in lat if l is not None]
        scale = 1
    else:
        out = batch_layers(phase)
        spans = batch_spans(phase)
        samples = batch_latencies(phase)
        scale = max(1, len(phase["passes"]))
    zero = dict.fromkeys(LAYER_NAMES, 0.0)
    zero.update(out)
    out = zero
    st = phase.get("storage") or {}
    out["mem.pinned_mb"] = st.get("storage_used_bytes", 0) / MB
    out["ops.Memo.pinned_mb"] = st.get("rdd_bytes", 0) / MB
    if stream:
        out["ops.Memo.builds"] = len(phase.get("memo") or {})
        out["ops.Memo.build_s"] = sum((phase.get("memo") or {}).values())
    pct, val = tail(samples)
    out["latency.tail_pct"] = pct or 0
    out["latency.tail_s"] = val or 0.0
    out["latency.samples"] = len(samples)
    st = self_times(spans)
    for name in ["query", "build", "run", "job", "stage", "trigger", "chunk"]:
        out["self.%s_s" % name] = st.get(name, 0.0) / scale
    out["bench.warmup_s"] = raw.get("warmup_s", 0.0)
    traced, base = e2e(raw, phase), e2e(raw, base_phase)
    for k in E2E:
        if k == "setup_s":
            a, b = median(raw.get("traced_setup_s") or []), median(raw["setup_s"])
        else:
            a, b = traced.get(k), base.get(k)
        out["trace_overhead." + k] = (a - b) if a is not None and b is not None else 0.0
    return out, spans


LAYER_NAMES = (
    ["Tables.scan_mb", "Tables.scan_rows",
     "SparkEntry.build_s", "SparkEntry.run_s", "SparkEntry.eager_jobs",
     "plans.analysis_s", "plans.optimization_s", "plans.physical_s", "plans.nodes",
     "engine.jobs", "engine.stages", "engine.tasks", "engine.task_run_s",
     "engine.task_cpu_s", "engine.gc_s", "engine.shuffle_write_mb",
     "engine.shuffle_read_mb", "engine.spill_mb", "engine.peak_exec_mem_mb",
     "engine.driver_gap_s",
     "ops.Memo.build_s", "ops.Memo.builds", "ops.Memo.pinned_mb"]
    + [m + s for m in MODULES for s in (".wall_s", ".jobs", ".driver_gap_s")]
    + ["streaming.%s.%s" % (q, s) for q in STREAM_QUERIES
       for s in ("batches", "trigger_s", "add_batch_s", "planning_s", "checkpoint_s",
                 "state_rows", "state_mb", "state_commit_s", "late_dropped")]
    + ["streaming.dim_upsert.write_amp", "streaming.dim_upsert.target_mb",
       "stream.backlog_max_chunks", "stream.generator_late_s",
       "stream.drain_events_per_s", "mem.pinned_mb",
       "latency.tail_pct", "latency.tail_s", "latency.samples"]
    + ["self.%s_s" % n for n in ["query", "build", "run", "job", "stage", "trigger", "chunk"]]
    + ["bench.warmup_s"]
    + ["trace_overhead." + k for k in E2E])


# ---- the result -------------------------------------------------------------

def untraced(raw):
    return next(p for p in raw["phases"] if not p["traced"])


def traced(raw):
    return next((p for p in raw["phases"] if p["traced"]), None)


def evaluate(raw, expected):
    """Failures and attempts of one run, and its untraced end-to-end metrics.

    Returns (attempted, failures, e2e_values, tail) where failures is a list
    of human-readable reasons."""
    w = raw["workload"]
    base = untraced(raw)
    failures, attempted = [], 0
    if w == "stream_ingest":
        for ph in raw["phases"]:
            lat = chunk_latencies(ph["chunks"], ph["progress"])
            attempted += len(lat) + 2 + len(ph["checks"])
            failures += ["chunk %d never committed" % c["k"]
                         for c, l in zip(ph["chunks"], lat) if l is None]
            for kind in ("cold", "warm"):
                drains = ph["times"][kind]
                attempted += len(drains) - 1
                failures += ["%s drain %d never finished" % (kind, i)
                             for i, d in enumerate(drains) if d[1] is None]
            failures += ["%s: %s" % (c["name"], c["detail"]) for c in ph["checks"] if not c["ok"]]
        samples = [l for l in chunk_latencies(base["chunks"], base["progress"]) if l is not None]
    else:
        exp = expected.get("queries", {})
        attempted += len(raw["checks"])
        failures += ["%s: %s" % b for b in check_outputs(raw["checks"], exp)]
        for ph in raw["phases"]:
            attempted += len(ph["ops"])
            failures += ["%s threw: %s" % (o["id"], o["error"]) for o in ph["ops"] if not o["ok"]]
        samples = batch_latencies(base)
    facts = bypass_facts(raw, expected)
    attempted += len(facts)
    failures += [f for f, ok in facts if not ok]
    vals = e2e(raw, base)
    vals["setup_s"] = median(raw["setup_s"])
    return attempted, failures, vals, (tail(samples), len(samples)), facts
