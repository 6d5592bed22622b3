"""Metrics from a perfbench run record.

`perfbench.Main` (Scala) runs one workload and writes a raw record:
set-up rounds, every timed operation, failures, and in a traced run the
spans, Spark jobs and stages. This module turns that record into the
named end-to-end and per-layer metrics. It has no dependencies beyond
the standard library, so its rules are unit-tested without Spark
(`python3 -m unittest discover perfbench/tests`).
"""
import math
import statistics

# Percentiles a tail may be reported at, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# A tail percentile needs at least this many samples beyond it.
MIN_BEYOND = 10

# End-to-end metrics: name -> (unit, better). The ones BENCHMARK.json
# gates are printed in the result line; the rest are printed as
# informational metric lines.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_tail_ms": ("ms", "lower"),
    "throughput_qps": ("1/s", "higher"),
    "cpu_ms_per_query": ("ms", "lower"),
    "recall_at_10": ("ratio", "higher"),
    "ingest_docs_per_s": ("1/s", "higher"),
    "bytes_stored_per_input_byte": ("ratio", "lower"),
    "retained_heap_mb": ("MB", "lower"),
    "failed_frac": ("ratio", "lower"),
}

# Per-layer metrics: name -> (unit, better). A layer a workload does not
# exercise reads 0 there.
PER_LAYER = {
    # serve -> latency_p50_ms, latency_tail_ms, throughput_qps
    "core.engine.plan_ms": ("ms", "lower"),
    "core.engine.exec_ms": ("ms", "lower"),
    "core.engine.driver_ms": ("ms", "lower"),
    "core.engine.jobs_per_req": ("count", "lower"),
    "core.engine.stages_per_req": ("count", "lower"),
    "plans.rewrite_fired_ratio": ("ratio", "higher"),
    "ops.bm25.search_ms": ("ms", "lower"),
    "ops.bm25.jobs_per_req": ("count", "lower"),
    "ops.fusion.rrf_ms": ("ms", "lower"),
    "service.http_ms": ("ms", "lower"),
    "service.overhead_ms": ("ms", "lower"),
    # batch -> throughput_qps
    "ops.ann.batch_ms": ("ms", "lower"),
    "ops.ann.exec_cpu_ms": ("ms", "lower"),
    "ops.ann.cpu_ns_per_candidate": ("ns", "lower"),
    "ops.ann.input_bytes_per_query": ("bytes", "lower"),
    "ops.ann.shuffle_bytes_per_query": ("bytes", "lower"),
    "ops.ann.spill_bytes": ("bytes", "lower"),
    "ops.ann.task_skew": ("ratio", "lower"),
    "ops.bm25.batch_exec_cpu_ms": ("ms", "lower"),
    "ops.fusion.batch_ms": ("ms", "lower"),
    "eval.metrics_ms": ("ms", "lower"),
    # bulk ingest (every set-up) -> setup_s, ingest_docs_per_s
    "text.chunk_ms": ("ms", "lower"),
    "text.embed_ms": ("ms", "lower"),
    "core.registry.copy_bulk_ms": ("ms", "lower"),
    "ops.ann.kmeans_ms": ("ms", "lower"),
    "ops.ann.kmeans_jobs": ("count", "lower"),
    # near-duplicate detection, once per batch run (untimed)
    "ops.dedup.minhash_ms": ("ms", "lower"),
    "ops.dedup.planted_recall": ("ratio", "higher"),
    # the traced run itself
    "trace.overhead_pct": ("%", "lower"),
}


def rank(p, n):
    """1-based nearest rank of percentile p (0..100) among n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def tail(values):
    """The highest LADDER percentile that has at least MIN_BEYOND samples
    beyond it, as (percentile, value, samples beyond). With fewer than
    2 * MIN_BEYOND samples no percentile qualifies and the maximum is
    reported as percentile 100 with 0 beyond."""
    s = sorted(values)
    n = len(s)
    best = None
    for p in LADDER:
        r = rank(p, n)
        if n - r >= MIN_BEYOND:
            best = (p, s[r - 1], n - r)
    if best is None:
        if not s:
            raise ValueError("no samples")
        best = (100.0, s[-1], 0)
    return best


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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
    """Span id -> self time: the span's duration minus the part of its
    interval that its child spans cover (children may overlap)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        t0, t1 = s["t0"], s["t1"]
        covered = union_length(
            (max(c["t0"], t0), min(c["t1"], t1))
            for c in children.get(s["id"], []))
        out[s["id"]] = (t1 - t0) - covered
    return out


COUNTERS = ("cpu_ns", "in_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes", "out_bytes", "spill_bytes")


def span_counters(spans, jobs, stages):
    """Span id -> counters of the Spark work it caused, its child spans'
    included: jobs, stages, tasks, the COUNTERS, the largest task-time
    skew of its stages, and its jobs' intervals.

    A job carrying a span id belongs to that span. A job without one was
    launched by a thread the benchmark does not own (the HTTP service
    pool) and belongs to the `service.http` span open when it started;
    there is one client, so at most one such span is open at a time."""
    by_id = {s["id"]: s for s in spans}
    http = sorted((s for s in spans if s["name"] == "service.http"),
                  key=lambda s: s["t0"])
    own = {s["id"]: [] for s in spans}
    for j in jobs:
        sid = j["span"]
        if sid < 0:
            sid = next((h["id"] for h in http
                        if h["t0"] - 1 <= j["t0"] <= h["t1"] + 1), -1)
        if sid in own:
            own[sid].append(j)
    # a stage belongs to the job that ran it: among jobs listing the
    # stage id, the one whose interval holds the stage's completion
    stage_job = {}
    for j in sorted(jobs, key=lambda j: j["t0"]):
        for st in j["stages"]:
            stage_job.setdefault(st, []).append(j)
    job_stages = {}
    for st in stages:
        cands = stage_job.get(st["id"], [])
        if not cands:
            continue
        inside = [j for j in cands if j["t0"] - 1 <= st["t1"] <= j["t1"] + 1]
        j = (inside or cands)[-1]
        job_stages.setdefault(j["id"], []).append(st)

    def blank():
        d = {"jobs": 0, "stages": 0, "tasks": 0, "skew": 0.0,
             "job_intervals": []}
        d.update({c: 0 for c in COUNTERS})
        return d

    agg = {}
    for sid, js in own.items():
        d = blank()
        for j in js:
            d["jobs"] += 1
            d["job_intervals"].append((j["t0"], j["t1"]))
            for st in job_stages.get(j["id"], []):
                d["stages"] += 1
                d["tasks"] += st["tasks"]
                for c in COUNTERS:
                    d[c] += st[c]
                if st["tasks"] >= 2 and st["med_task_ms"] > 0:
                    d["skew"] = max(d["skew"],
                                    st["max_task_ms"] / st["med_task_ms"])
        agg[sid] = d
    # fold children into parents, deepest first
    depth = {}
    for s in spans:
        k, p = 0, s["parent"]
        while p >= 0 and p in by_id:
            k, p = k + 1, by_id[p]["parent"]
        depth[s["id"]] = k
    for s in sorted(spans, key=lambda s: -depth[s["id"]]):
        p = s["parent"]
        if p in agg:
            c, d = agg[s["id"]], agg[p]
            for key in ("jobs", "stages", "tasks") + COUNTERS:
                d[key] += c[key]
            d["skew"] = max(d["skew"], c["skew"])
            d["job_intervals"] += c["job_intervals"]
    return agg


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def span_table(rec):
    """Per span name, the uniform counter set: calls, wall p50, self p50,
    and per-call means of jobs, stages, tasks, executor CPU and bytes."""
    spans, stats = rec.get("spans", []), _span_stats(rec)
    table = {}
    for name in sorted({s["name"] for s in spans}):
        rows = [st for st in stats if st["name"] == name]
        row = {"calls": len(rows),
               "wall_p50_ms": _p50([r["dur"] for r in rows]),
               "self_p50_ms": _p50([r["self"] for r in rows])}
        for key in ("jobs", "stages", "tasks") + COUNTERS:
            row[key] = _mean([r[key] for r in rows])
        table[name] = row
    return table


def _span_stats(rec):
    spans = rec.get("spans", [])
    selfs = self_times(spans)
    counters = span_counters(spans, rec.get("jobs", []), rec.get("stages", []))
    out = []
    for s in spans:
        d = dict(counters[s["id"]])
        d.update(name=s["name"], id=s["id"], ref=s.get("ref", -1),
                 t0=s["t0"], t1=s["t1"], dur=s["t1"] - s["t0"],
                 self=selfs[s["id"]])
        d["driver"] = d["dur"] - union_length(
            (max(a, s["t0"]), min(b, s["t1"])) for a, b in d["job_intervals"])
        out.append(d)
    return out


def latency_samples(rec):
    """Latencies (ms) of the window's operations: serve requests or batch
    frames. A failed operation counts as missing every limit, so it enters
    as the whole window's length."""
    window = rec["window"]["t1"] - rec["window"]["t0"]
    return [(o["t1"] - o["t0"]) if o["ok"] else window for o in rec["ops"]]


def end_to_end(rec):
    """End-to-end metrics of an untraced run record."""
    ops = rec["ops"]
    lat = latency_samples(rec)
    pct, tail_ms, beyond = tail(lat)
    wall_s = (rec["window"]["t1"] - rec["window"]["t0"]
              - rec["window"]["excluded_ms"]) / 1000.0
    # a serve operation is one request, a batch operation a frame of n
    done = sum(o["n"] for o in ops if o["ok"])
    rounds = rec["setup_rounds"]
    m = {
        "setup_s": statistics.median(r["setup_s"] for r in rounds),
        "latency_p50_ms": statistics.median(lat),
        "latency_tail_ms": tail_ms,
        "throughput_qps": done / wall_s,
        "cpu_ms_per_query": rec["window"]["cpu_ns"] / 1e6 / done,
        "recall_at_10": rec["recall_at_10"],
        "ingest_docs_per_s": rec["raw_docs"] / statistics.median(
            r["bulk_s"] for r in rounds),
        "bytes_stored_per_input_byte": rec["stored_bytes"] / rec["input_bytes"],
        "retained_heap_mb": rec["heap_mb"],
        "failed_frac": rec["failed"] / rec["attempted"],
    }
    info = {"latency_tail_pct": pct, "latency_samples": len(lat),
            "latency_tail_beyond": beyond}
    return m, info


def per_layer(rec):
    """Per-layer metrics of a traced run record."""
    stats = _span_stats(rec)
    t_window = rec["window"]["t0"]
    vals = rec.get("values", {})

    def sel(name, phase):
        """Spans of `name` that ended before the window ("setup") or in it
        ("window")."""
        return [s for s in stats if s["name"] == name and
                (phase == "setup") == (s["t1"] <= t_window)]

    def p50(name, key="dur", phase="window"):
        return _p50([s[key] for s in sel(name, phase)])

    def mean(name, key, phase="window"):
        return _mean([s[key] for s in sel(name, phase)])

    def ratio(a, b):
        return a / b if b else 0.0

    frame_q = vals.get("frame_queries", 0)
    cand = vals.get("candidates_per_frame", 0)
    by_id = {s["id"]: s for s in stats}
    overhead = [by_id[s["ref"]]["dur"] - s["dur"]
                for s in sel("pipeline.run_search", "window") +
                sel("core.registry.select_by", "window") if s["ref"] in by_id]
    m = {
        "core.engine.plan_ms": p50("core.engine.plan", phase="window"),
        "core.engine.exec_ms": p50("core.engine.exec", phase="window"),
        "core.engine.driver_ms": p50("core.engine.search", "driver", "window"),
        "core.engine.jobs_per_req": mean("core.engine.search", "jobs", "window"),
        "core.engine.stages_per_req": mean("core.engine.search", "stages",
                                           "window"),
        "plans.rewrite_fired_ratio": ratio(vals.get("rewrite_fired", 0),
                                           vals.get("declarative", 0)),
        "ops.bm25.search_ms": p50("ops.bm25.search", phase="window"),
        "ops.bm25.jobs_per_req": mean("ops.bm25.search", "jobs", "window"),
        "ops.fusion.rrf_ms": p50("ops.fusion.rrf", phase="window"),
        "service.http_ms": p50("service.http", phase="window"),
        "service.overhead_ms": _p50(overhead),
        "ops.ann.batch_ms": p50("ops.ann.batch", phase="window"),
        "ops.ann.exec_cpu_ms": mean("ops.ann.batch", "cpu_ns", "window") / 1e6,
        "ops.ann.cpu_ns_per_candidate": ratio(
            mean("ops.ann.batch", "cpu_ns", "window"), cand),
        "ops.ann.input_bytes_per_query": ratio(
            mean("ops.ann.batch", "in_bytes", "window"), frame_q),
        "ops.ann.shuffle_bytes_per_query": ratio(
            mean("ops.ann.batch", "shuffle_write_bytes", "window"), frame_q),
        "ops.ann.spill_bytes": mean("ops.ann.batch", "spill_bytes", "window"),
        "ops.ann.task_skew": p50("ops.ann.batch", "skew", "window"),
        "ops.bm25.batch_exec_cpu_ms": mean("ops.bm25.batch", "cpu_ns",
                                           "window") / 1e6,
        "ops.fusion.batch_ms": p50("ops.fusion.batch", phase="window"),
        "eval.metrics_ms": p50("eval.metrics", phase="window"),
        "text.chunk_ms": p50("text.chunk", phase="setup"),
        "text.embed_ms": p50("text.embed", phase="setup"),
        "ops.dedup.minhash_ms": p50("ops.dedup.minhash", phase="setup"),
        "ops.dedup.planted_recall": rec.get("planted_recall", 0.0),
        "core.registry.copy_bulk_ms": p50("core.registry.copy_bulk",
                                          phase="setup"),
        "ops.ann.kmeans_ms": p50("ops.ann.kmeans", phase="setup"),
        "ops.ann.kmeans_jobs": mean("ops.ann.kmeans", "jobs", "setup"),
        "trace.overhead_pct": tracing_overhead_pct(rec),
    }
    return m


def tracing_overhead_pct(rec):
    """Traced against untraced halves of the same window: the relative
    difference of their median request latency, in percent."""
    ops = [o for o in rec["ops"] if o["ok"]]
    on = [o["t1"] - o["t0"] for o in ops if o["traced"]]
    off = [o["t1"] - o["t0"] for o in ops if not o["traced"]]
    if not on or not off:
        return 0.0
    return (statistics.median(on) / statistics.median(off) - 1.0) * 100.0
