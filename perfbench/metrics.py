"""Pure arithmetic over the harness records: percentiles, spans, metrics."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(values, beyond=10):
    """The highest whole percentile p in [50, 99] that leaves at least
    `beyond` samples above it (nearest rank), as (p, value). With fewer
    than 2 * beyond samples this is the median (p = 50)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 50, 0.0
    best = 50
    for p in range(50, 100):
        rank = math.ceil(p * n / 100)
        if n - rank >= beyond:
            best = p
    return best, xs[max(1, math.ceil(best * n / 100)) - 1]


# ---- spans -------------------------------------------------------------

# Kinds a span may hang under, innermost first, when the harness gave it
# no explicit link.
PARENT_KINDS = {
    "entry.build": ("query",),
    "entry.result": ("query",),
    "batch": ("entry.build", "entry.result", "query"),
    "sql": ("batch", "entry.build", "entry.result", "query"),
    "job": ("sql", "batch", "entry.build", "entry.result", "query"),
    "stage": ("job",),
}


def query_spans(q):
    """Root and entry spans of one timed query record."""
    qid = q["qid"]
    return [
        dict(kind="query", qid=qid, id=qid, start_ms=q["start_ms"], end_ms=q["end_ms"]),
        dict(kind="entry.build", qid=qid, id=qid + "/build",
             start_ms=q["start_ms"], end_ms=q["build_ms"]),
        dict(kind="entry.result", qid=qid, id=qid + "/result",
             start_ms=q["build_ms"], end_ms=q["end_ms"]),
    ]


def link_parents(spans):
    """Set `parent` (an index into spans, or None) on every span. An
    explicit link (a job's SQL execution, a stage's job, a nested SQL
    execution's root) wins; otherwise the parent is the innermost span of
    an allowed kind in the same query that contains the span's start."""
    by_id = {(s["kind"], s["id"]): i for i, s in enumerate(spans)}
    by_qid = {}
    for i, s in enumerate(spans):
        by_qid.setdefault(s["qid"], []).append(i)
    link_kind = {"job": "sql", "stage": "job", "sql": "sql"}
    for i, s in enumerate(spans):
        s["parent"] = None
        link = s.get("link") or ""
        if link and (link_kind.get(s["kind"]), link) in by_id:
            s["parent"] = by_id[(link_kind[s["kind"]], link)]
            continue
        kinds = PARENT_KINDS.get(s["kind"], ())
        best = None
        for j in by_qid.get(s["qid"], ()):
            p = spans[j]
            if j == i or p["kind"] not in kinds:
                continue
            if p["start_ms"] <= s["start_ms"] <= p["end_ms"]:
                rank = (-kinds.index(p["kind"]), p["start_ms"])
                if best is None or rank > best[0]:
                    best = (rank, j)
        if best is not None:
            s["parent"] = best[1]
    return spans


def covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans):
    """Per span: duration minus the part of it its children cover. Also
    returns how many children end outside their parent (tolerance 1 ms)."""
    children = {}
    escaped = 0
    for s in spans:
        p = s.get("parent")
        if p is not None:
            children.setdefault(p, []).append((s["start_ms"], s["end_ms"]))
            par = spans[p]
            if s["start_ms"] < par["start_ms"] - 1 or s["end_ms"] > par["end_ms"] + 1:
                escaped += 1
    out = []
    for i, s in enumerate(spans):
        dur = s["end_ms"] - s["start_ms"]
        out.append(dur - covered(children.get(i, ()), s["start_ms"], s["end_ms"]))
    return out, escaped


# ---- metrics -----------------------------------------------------------

def stream_metrics(batches):
    """Median trigger latency over all micro-batches and input rows per
    second of trigger time over the batches that had input."""
    trig = [b["trigger_ms"] for b in batches]
    busy = [b for b in batches if b["rows"] > 0]
    secs = sum(b["trigger_ms"] for b in busy) / 1000.0
    return median(trig), (sum(b["rows"] for b in busy) / secs if secs > 0 else 0.0)


def end_to_end(records):
    """End-to-end metrics from an untraced run's records, plus the tail
    latency with its percentile and sample count for the info line. Each
    query's latency is taken as the median of its timed executions, which
    discards a one-off stall of the shared machine; `elapsed_s` is one pass
    over the sample at those latencies and `query_p50_s` their median."""
    setups = [r["s"] for r in records if r["k"] == "setup"]
    by_query = {}
    for r in records:
        if r["k"] == "q" and r["phase"] == "timed":
            by_query.setdefault(r["name"], []).append(r["build_s"] + r["result_s"])
    per_query = [median(v) for v in by_query.values()]
    tail_p, tail = tail_percentile([x for v in by_query.values() for x in v])
    heap = [r["mb"] for r in records if r["k"] == "heap"]
    return {
        "setup_s": (median(setups), "s"),
        "elapsed_s": (sum(per_query), "s"),
        "query_p50_s": (median(per_query), "s"),
        "retained_heap_mb": (min(heap) if heap else 0.0, "MB"),
    }, {"query_tail_s": tail, "tail_percentile": tail_p,
        "latency_samples": sum(len(v) for v in by_query.values())}


def per_layer(records, cores):
    """Per-layer metrics from a traced run's records: counts and times
    summed over one traced pass over the sample; time shares use the traced
    executions' summed latency. Trigger latency and rate come from the
    untraced executions of the same run."""
    traced = [r for r in records if r["k"] == "q" and r["phase"] == "traced"]
    ctr = {}
    by_q = {}
    for r in records:
        if r["k"] == "ctr":
            name = r["name"]
            if name == "shuffle.skew":
                ctr[name] = max(ctr.get(name, 1.0), r["v"])
            else:
                ctr[name] = ctr.get(name, 0.0) + r["v"]
            by_q.setdefault(r["qid"], {})[name] = r["v"]
    rows = {r["qid"]: (r["rows"] or 0) for r in traced}
    result_rows = sum(rows.values())
    join_rows = ctr.get("exec.join_rows", 0.0)
    join_result = sum(rows.get(q, 0) for q, c in by_q.items() if c.get("exec.join_rows", 0) > 0)

    spans = [s for r in traced for s in query_spans(r)]
    spans += [r for r in records if r["k"] == "span" and r["qid"].startswith("traced.")]
    batches = [b for b in records if b["k"] == "batch" and b["phase"] == "traced"]
    for b in batches:
        spans.append(dict(kind="batch", qid=b["qid"], id=f"{b['run']}/{b['start_ms']}",
                          start_ms=b["start_ms"], end_ms=b["start_ms"] + b["trigger_ms"]))
    link_parents(spans)
    selfs, escaped = self_times(spans)
    self_by_kind = {}
    for s, t in zip(spans, selfs):
        self_by_kind[s["kind"]] = self_by_kind.get(s["kind"], 0.0) + t

    # Trigger latency and rate come from the untraced timed phase.
    trig_p50, rows_per_s = stream_metrics(
        [b for b in records if b["k"] == "batch" and b["phase"] == "timed"])
    traced_s = sum(r["build_s"] + r["result_s"] for r in traced)
    untraced_s = sum(r["build_s"] + r["result_s"] for r in records
                     if r["k"] == "q" and r["phase"] == "timed")
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    put("entry.build_ms", sum(r["build_s"] for r in traced) * 1000, "ms")
    put("entry.result_ms", sum(r["result_s"] for r in traced) * 1000, "ms")
    put("entry.self_ms", self_by_kind.get("entry.build", 0) + self_by_kind.get("entry.result", 0), "ms")
    for k in ("plans.analysis_ms", "plans.optimize_ms", "plans.physical_ms"):
        put(k, ctr.get(k, 0.0), "ms")
    put("plans.executions", ctr.get("plans.executions", 0.0), "count")
    put("plans.codegen_fallback_exprs", ctr.get("plans.codegen_fallback_exprs", 0.0), "count")
    put("plans.self_ms", self_by_kind.get("sql", 0.0), "ms")
    for k in ("sched.jobs", "sched.stages", "sched.tasks"):
        put(k, ctr.get(k, 0.0), "count")
    stages = ctr.get("sched.stages", 0.0)
    put("sched.tasks_per_stage", ctr.get("sched.tasks", 0.0) / stages if stages else 0.0,
        "count")
    put("sched.wait_ms", ctr.get("sched.wait_ms", 0.0), "ms")
    put("sched.self_ms", self_by_kind.get("job", 0.0), "ms")
    for k in ("exec.task_ms", "exec.cpu_ms", "exec.gc_ms"):
        put(k, ctr.get(k, 0.0), "ms")
    put("exec.spill_bytes", ctr.get("exec.spill_bytes", 0.0), "bytes")
    put("exec.busy_frac", ctr.get("exec.task_ms", 0.0) / (traced_s * 1000 * cores)
        if traced_s > 0 else 0.0, "ratio")
    put("exec.join_rows", join_rows, "count")
    put("exec.join_yield", join_result / join_rows if join_rows else 0.0, "ratio")
    put("shuffle.write_bytes", ctr.get("shuffle.write_bytes", 0.0), "bytes")
    put("shuffle.read_bytes", ctr.get("shuffle.read_bytes", 0.0), "bytes")
    put("shuffle.fetch_wait_ms", ctr.get("shuffle.fetch_wait_ms", 0.0), "ms")
    put("shuffle.skew", ctr.get("shuffle.skew", 1.0), "ratio")
    put("tables.read_bytes", ctr.get("tables.read_bytes", 0.0), "bytes")
    put("tables.read_rows", ctr.get("tables.read_rows", 0.0), "count")
    put("tables.rows_per_result_row", ctr.get("tables.read_rows", 0.0) / result_rows
        if result_rows else 0.0, "ratio")
    put("stream.batches", len(batches), "count")
    put("stream.nodata_frac", sum(1 for b in batches if b["rows"] == 0) / len(batches)
        if batches else 0.0, "ratio")
    put("stream.trigger_p50_ms", trig_p50, "ms")
    put("stream.rows_per_s", rows_per_s, "rows/s")
    for k, f in (("stream.plan_ms", "plan_ms"), ("stream.exec_ms", "exec_ms"),
                 ("stream.wal_ms", "wal_ms"), ("stream.source_ms", "source_ms")):
        put(k, sum(b[f] for b in batches), "ms")
    put("stream.self_ms", self_by_kind.get("batch", 0.0), "ms")
    last = {}
    for b in sorted(batches, key=lambda b: b["start_ms"]):
        last[b["run"]] = b
    put("state.rows", sum(b["state_rows"] for b in last.values()), "count")
    put("state.mem_bytes", sum(b["state_mem"] for b in last.values()), "bytes")
    put("state.commit_ms", sum(b["state_commit_ms"] for b in batches), "ms")
    put("trace.overhead_frac", traced_s / untraced_s - 1.0 if untraced_s else 0.0, "ratio")
    return m, {"spans": len(spans), "spans_escaping_parent": escaped}
