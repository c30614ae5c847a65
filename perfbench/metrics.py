"""Metrics of one run, computed from the record the benchmark JVM writes.

End-to-end metrics come from op timings (every run); per-layer metrics
from the spans and Spark events of a traced run. `detail` keeps what the
printed metrics summarize: per-op-type layer splits, serve latency with
its tail percentile and sample count, batch pass times.
"""
import statistics

import datagen
from stats import clip, layer_split, median, percentile, tail_percentile, union

CALL_SPANS = ("engine.session", "textindex.build", "annindex.build",
              "annindex.append", "textindex.append", "catalog.commit_deployment",
              "catalog.prune", "catalog.resolve", "similarity.serve_call",
              "serve.materialize")
BATCH_JOBS = datagen.BATCH_JOBS


def _dur(o):
    return (o["end"] - o["start"]) / 1000.0


def _latencies(ops):
    """Op latencies in seconds; a failed op counts as never finishing."""
    return [_dur(o) if o["ok"] else float("inf") for o in ops]


def _finite(x):
    return x if x is not None and x != float("inf") else None


def _kind(ops, kind):
    return [o for o in ops if o["kind"] == kind]


def _loop_units(ops):
    """The workload's timed loop as units of work: each serve of a serve
    loop, or each whole pass of a batch loop (its jobs together).
    """
    passes = {}
    for o in ops:
        if o["kind"] == "job" and o["pass"] > 0:
            passes.setdefault(o["pass"], []).append(o)
    return [[o] for o in _kind(ops, "serve")] + [passes[p] for p in sorted(passes)]


def end_to_end(rec, input_bytes):
    ops = rec["ops"]
    serves = _latencies(_kind(ops, "serve"))
    units = _loop_units(ops)
    loop = [o for u in units for o in u]
    metrics = {
        # what a user waits for before the first request: session start plus
        # the stack's set-up (median of the run's set-ups)
        "setup_s": (median(_latencies(_kind(ops, "session")))
                    + median(_latencies(_kind(ops, "setup"))), "s"),
        "commit_p50_s": (median(_latencies(_kind(ops, "commit"))), "s"),
        "fresh_serve_p50_s": (median(_latencies(_kind(ops, "fresh_serve"))), "s"),
        # Loop ops per second at the median loop unit: 1 / the median serve
        # latency, or the jobs of a pass / the median pass time. A failed op
        # makes its unit never finish.
        "ops_per_s": (len(units[0]) / median([sum(_latencies(u)) for u in units])
                      if units else None, "1/s"),
        "store_bytes_per_input_byte": (rec["run"]["store_bytes"] / input_bytes, "ratio"),
        "retained_heap_mb": (rec["retained_heap_bytes"] / 2**20, "MB"),
    }
    tail_p = tail_percentile(len(serves))
    passes = [sum(_latencies(u)) for u in units if u[0]["kind"] == "job"]
    detail = {
        "serve_p50_s": _finite(median(serves)),
        "serve_n": len(serves),
        "serve_tail_percentile": tail_p,
        "serve_tail_s": _finite(percentile(serves, tail_p)) if tail_p else None,
        "batch_pass_s": _finite(median(passes)),
        "batch_pass_n": len(passes),
        "loop_s": sum(_dur(o) for o in loop),
        "input_bytes": input_bytes,
        "store_bytes": rec["run"]["store_bytes"],
    }
    return {k: {"value": _finite(v), "unit": u} for k, (v, u) in metrics.items()}, detail


def _depths(spans):
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            d += 1
        return d
    return {s["id"]: depth(s) for s in spans}


def _within(events, o):
    """Events (start first) that start inside op `o`."""
    return [e for e in events if o["start"] <= e[0] < o["end"]]


def per_layer(rec, n_vectors, rows_indexed):
    """Per-layer metrics of a traced run, and the per-op layer splits."""
    ops, spans, sp = rec["ops"], rec["spans"], rec["spark"]
    execs = [(e[0], e[1]) for e in sp["execs"]]
    depth = _depths(spans)
    # batch jobs are read from the timed passes when the run has them (the
    # batch loop), else from the checked pass (a traced serve run)
    jobs = [o for o in _kind(ops, "job") if o["pass"] > 0] or _kind(ops, "job")
    job_ids = {o["id"] for o in jobs}
    warmups = {o["id"] for o in _kind(ops, "warmup")}
    by_name = {}
    for s in spans:
        if s["op"] in warmups or (s["name"].startswith("batch.") and s["op"] not in job_ids):
            continue
        by_name.setdefault(s["name"], []).append(s)

    def call_median(name):
        return median([(s["end"] - s["start"]) / 1000.0 for s in by_name.get(name, [])])

    def execs_in(o):
        return [(s, e) for s, e in execs if o["start"] <= s < o["end"]]

    m = {f"{n}_s": (call_median(n), "s") for n in CALL_SPANS}
    m.update({f"batch.{j}_s": (call_median(f"batch.{j}"), "s") for j in BATCH_JOBS})
    resolves = by_name.get("catalog.resolve", [])
    m["catalog.resolve_executions"] = (
        statistics.mean(len(execs_in(s)) for s in resolves) if resolves else None, "count")
    writes = [c for c in rec.get("counters", []) if c["name"] == "catalog.write"]
    m["catalog.bytes_written"] = (median([c["bytes"] for c in writes]), "bytes")
    m["catalog.files_written"] = (median([c["files"] for c in writes]), "count")
    m["catalog.versions_live"] = (rec["run"]["versions_live"], "count")

    # overlap the engine achieves through tools.Par in set-up and commits
    ingest = [e for o in ops if o["kind"] in ("setup", "commit") for e in execs_in(o)]
    u = union(ingest)
    m["par.exec_concurrency"] = (sum(e - s for s, e in ingest) / u if u else None, "x")

    # per second of SQL-execution time: x8 scores every query against every
    # vector; the ANN build trains PQ codebooks and encodes every indexed one
    def rate(rows, ops):
        return median([rows / (union(execs_in(o)) / 1000.0) for o in ops
                       if o.get("ok", True) and union(execs_in(o)) > 0])
    m["vector.pairs_per_s"] = (rate(datagen.KNN_QUERIES * n_vectors,
                                    [o for o in jobs if o["job"] == "x8_knn_brute"]), "1/s")
    m["vector.pq_rows_per_s"] = (rate(rows_indexed, by_name.get("annindex.build", [])),
                                 "1/s")

    # Spark work per loop unit: a serve (serve loop) or a whole pass (batch
    # loop); with no loop serves or passes, the warm-up's fresh serve.
    units = _loop_units(ops) or [[o] for o in _kind(ops, "fresh_serve")]
    phases = [(p[0], p[1]) for p in sp["phases"]]
    per = {k: [] for k in ("sql_executions", "jobs", "tasks", "plan_s", "exec_union_s",
                           "driver_gap_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                           "shuffle_write_bytes", "spill_bytes")}
    for unit in units:
        if not all(o["ok"] for o in unit):
            continue
        ex = [x for o in unit for x in clip(execs_in(o), o["start"], o["end"])]
        tasks = [t for o in unit for t in _within(sp["tasks"], o)]
        per["sql_executions"].append(len(ex))
        per["jobs"].append(sum(len(_within(sp["jobs"], o)) for o in unit))
        per["tasks"].append(len(tasks))
        per["plan_s"].append(sum(union(clip(phases, o["start"], o["end"]))
                                 for o in unit) / 1000.0)
        eu = union(ex) / 1000.0
        per["exec_union_s"].append(eu)
        per["driver_gap_s"].append(sum(_dur(o) for o in unit) - eu)
        per["task_cpu_s"].append(sum(t[2] for t in tasks))
        per["gc_s"].append(sum(o["gc_ms"] for o in unit) / 1000.0)
        per["shuffle_read_bytes"].append(sum(t[3] for t in tasks))
        per["shuffle_write_bytes"].append(sum(t[4] for t in tasks))
        per["spill_bytes"].append(sum(t[5] for t in tasks))
    units_of = {"plan_s": "s", "exec_union_s": "s", "driver_gap_s": "s", "task_cpu_s": "s",
                "gc_s": "s", "sql_executions": "count", "jobs": "count", "tasks": "count"}
    for k, v in per.items():
        # GC comes in bursts: its mean, not its median, is the per-unit cost
        agg = statistics.mean(v) if k == "gc_s" and v else median(v)
        m[f"spark.{k}"] = (agg, units_of.get(k, "bytes"))

    # every op's wall split into layers, each instant counted once
    splits, worst = {}, 0.0
    for o in ops:
        own = [(s["name"], s["start"], s["end"], depth[s["id"]]) for s in spans
               if s["op"] == o["id"]]
        parts = layer_split((o["start"], o["end"]), own, clip(execs, o["start"], o["end"]))
        worst = max(worst, sum(parts.values()) - (o["end"] - o["start"]))
        kind = f"job.{o['job']}" if o["kind"] == "job" else o["kind"]
        splits.setdefault(kind, []).append(parts)
    split_medians = {
        kind: {name: median([p.get(name, 0.0) / 1000.0 for p in ps])
               for name in sorted({n for p in ps for n in p})}
        for kind, ps in splits.items()}
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    return metrics, {"layer_split_s": split_medians, "split_overcount_ms": worst}
