"""The benchmark's arithmetic: latency percentiles, interval unions,
self time, and the reduction of one run's raw record into metrics."""
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
FAILED = math.inf  # a failed operation misses every latency percentile

# Per workload: the batch operation kind behind `batch_s` (the median
# batch) and the request operation kind behind `request_ms.*`. A batch is
# the operations whose names share the part before the first ".": a
# cycle; a round's cold calls.
SHAPES = {
    "report_cycle": ("cycle", "lookup"),
    "ann_serve": ("ann_cold", "ann_warm"),
}

# Memo tags whose build seconds are reported one by one.
MEMO_TAGS = ("pq_train", "rq_train", "ivfpq_train", "ivfrq_train", "knn_graph",
             "ann_policy_env", "sq8_codes")


def nearest_rank(samples, p):
    """The p-th percentile as an observed sample (nearest rank)."""
    s = sorted(samples)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it, or
    None below 11 samples: 100 * (n - 10) / n, so p95 needs 200."""
    return None if n <= 10 else 100.0 * (n - 10) / n


def tail(samples):
    """(percentile, value) of the tail rule: the 11th-largest sample."""
    p = tail_percentile(len(samples))
    return (None, None) if p is None else (p, sorted(samples)[len(samples) - 11])


def op_samples(ops, kind, scale):
    """Durations of the operations of one kind; a failure is FAILED."""
    return [FAILED if o["error"] is not None else (o["t1Ms"] - o["t0Ms"]) * scale
            for o in ops if o["kind"] == kind]


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def driver_gap(op_interval, job_intervals):
    """Wall time of an operation not covered by the union of its jobs."""
    lo, hi = op_interval
    return (hi - lo) - union_length(clip(job_intervals, lo, hi))


def self_times(spans):
    """Span id -> duration minus the part its direct children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0Ms"], s["t1Ms"]))
    return {s["id"]: (s["t1Ms"] - s["t0Ms"])
            - union_length(clip(kids.get(s["id"], []), s["t0Ms"], s["t1Ms"]))
            for s in spans}


def layer_of(span_name):
    return span_name.split(".", 1)[0]


def check_names(names):
    bad = [n for n in names if not NAME_RE.fullmatch(n)]
    if bad:
        raise ValueError(f"metric names outside [A-Za-z0-9_.-]+: {bad}")


def end_to_end(rec):
    """The end-to-end metrics of one untraced run, plus diagnostics."""
    batch_kind, request_kind = SHAPES[rec["workload"]]
    ops = rec["ops"]
    groups = {}
    for o in ops:
        if o["kind"] == batch_kind:
            groups.setdefault(o["name"].split(".", 1)[0], []).append(o)
    batch = [sum(op_samples(g, batch_kind, 1e-3)) for g in groups.values()]
    requests = op_samples(ops, request_kind, 1.0)
    tail_p, tail_v = tail(requests)
    metrics = {
        "setup_s": statistics.median(rec["setup_s"]),
        "storage_mb.peak": rec["storage_peak_bytes"] / 2**20,
        "batch_s": nearest_rank(batch, 50),
        "request_ms.p50": nearest_rank(requests, 50),
        "request_ms.tail": tail_v if tail_v is not None else max(requests),
    }
    diag = {"batch_ops": len(batch), "request_ops": len(requests),
            "request_tail_percentile": tail_p,
            "timed_s": (rec["timed_ms"][1] - rec["timed_ms"][0]) / 1e3}
    return metrics, diag


def per_layer(rec):
    """The per-layer metrics of one traced run, plus the trace tables."""
    t = rec["trace"]
    spans = {s["id"]: s for s in t["spans"]}
    ops = {o["id"]: o for o in rec["ops"]}

    # the program's work: jobs submitted inside a span
    jobs = [j for j in t["jobs"] if j["span"] in spans]
    stages = [s for s in t["stages"] if s["span"] in spans]

    def named(name):
        return [s for s in spans.values() if s["name"] == name]

    def span_ms(name):
        return sum(s["t1Ms"] - s["t0Ms"] for s in named(name))

    # driver gap: per operation, wall time outside its jobs
    op_jobs = {}
    for j in jobs:
        op = spans[j["span"]]["op"]
        op_jobs.setdefault(op, []).append((j["t0_ms"], j["t1_ms"] if j["t1_ms"] >= 0 else j["t0_ms"]))
    gap = sum(driver_gap((o["t0Ms"], o["t1Ms"]), op_jobs.get(i, [])) for i, o in ops.items())

    def stage_sum(key, of=stages):
        return float(sum(s[key] for s in of))

    m0, m1 = rec["memo"]["before"], rec["memo"]["after"]
    hits = m1["hits"] - m0["hits"]
    evictions = m1["evictions"] - m0["evictions"]
    misses = m1["entries"] - m0["entries"] + evictions
    build = {k: v - m0["build_s"].get(k, 0.0) for k, v in m1["build_s"].items()}
    ann_calls = sum(1 for o in rec["ops"] if o["kind"].startswith("ann_"))
    ex = t["extras"]
    upsert_spans = {s["id"] for s in named("operators.upsert")}
    upsert_out = stage_sum("output", [s for s in stages if s["span"] in upsert_spans])
    read_docs = ex.get("sources.read_docs", 0.0)
    cat = t["catalyst"]

    metrics = {
        "catalyst.analysis_ms": cat["analysis_ms"],
        "catalyst.optimizer_ms": cat["optimizer_ms"],
        "catalyst.planning_ms": cat["planning_ms"],
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": int(stage_sum("tasks")),
        "scheduler.driver_gap_ms": gap,
        "executor.run_ms": stage_sum("runMs"),
        "executor.cpu_ms": stage_sum("cpuNs") / 1e6,
        "executor.gc_ms": stage_sum("gcMs"),
        "shuffle.write_bytes": stage_sum("shuffleWrite"),
        "shuffle.read_bytes": stage_sum("shuffleRead"),
        "shuffle.spill_bytes": stage_sum("spill"),
        "io.input_bytes": stage_sum("input"),
        "io.output_bytes": stage_sum("output"),
        "sources.extract_ms": span_ms("sources.extract"),
        "sources.dropped_frac": (read_docs - ex.get("sources.kept_docs", 0.0)) / read_docs
                                 if read_docs else 0.0,
        "operators.report_ms": span_ms("operators.report"),
        "operators.upsert_ms": span_ms("operators.upsert"),
        "operators.upsert_write_amp": upsert_out / ex["operators.incoming_bytes"]
                                       if ex.get("operators.incoming_bytes") else 0.0,
        "operators.upsert_useful_frac": ex["operators.useful_rows"] / ex["operators.rows_rewritten"]
                                         if ex.get("operators.rows_rewritten") else 0.0,
        "operators.reports_files": ex.get("operators.reports_files", 0.0),
        "functions.memo_hits": hits,
        "functions.memo_misses": misses,
        "functions.memo_hit_frac": hits / (hits + misses) if hits + misses else 0.0,
        "functions.memo_evictions": evictions,
        "functions.memo_build_s": sum(build.values()),
        "functions.ann_policy_env_ms": 1e3 * build.get("ann_policy_env", 0.0) / ann_calls
                                        if ann_calls else 0.0,
        "functions.ann_recall_milli": ex.get("functions.ann_recall_milli", 0.0),
    }
    for tag in MEMO_TAGS:
        metrics[f"functions.memo_build_s.{tag}"] = build.get(tag, 0.0)

    # trace tables: self time per layer, and per operation
    self_ms = {}
    for sid, v in self_times(list(spans.values())).items():
        layer = layer_of(spans[sid]["name"])
        self_ms[layer] = self_ms.get(layer, 0.0) + v
    per_op = {}
    for j in jobs:
        per_op.setdefault(spans[j["span"]]["op"], {"jobs": 0, "stages": 0, "tasks": 0})["jobs"] += 1
    for s in stages:
        row = per_op.setdefault(spans[s["span"]]["op"], {"jobs": 0, "stages": 0, "tasks": 0})
        row["stages"] += 1
        row["tasks"] += s["tasks"]
    rows = [dict(kind=o["kind"], name=o["name"], ms=o["t1Ms"] - o["t0Ms"], error=o["error"],
                 **per_op.get(i, {"jobs": 0, "stages": 0, "tasks": 0})) for i, o in ops.items()]
    tables = {"layer_self_ms": self_ms, "ops": rows, "memo_build_s": build,
              "catalyst_queries": cat["queries"]}
    return metrics, tables
