"""Per-layer metrics of a traced run, computed from its spans, ops, object
inventories and the Spark status store.

Search-side numbers are means per request (``search_hot``: the timed REST
requests; ``ingest_search``: the timed probes), ingest numbers means per
batch, merge and GC numbers means per call, build numbers medians per
``build_index`` call. A layer a workload never enters reports 0.
``by_class`` repeats the per-request numbers for each request class.

``rest.self_ms`` and ``search.driver_ms`` are driver time: their layer's
self time that no Spark job overlaps (``search_endpoint`` collects lazy
results itself, so its self time would otherwise hold whole jobs). The
jobs' time is in ``spark.job_ms``; ``spark.gap_ms`` is the request's wall
time that no job covers.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import MANIFEST_COMMITS, ROUTES, subtract, total, union

# (name, unit, better); BENCHMARK.json's per_layer list mirrors this
PER_LAYER = [
    ("rest.self_ms", "ms", "lower"),
    ("plans.parse_ms", "ms", "lower"),
    ("search.driver_ms", "ms", "lower"),
    ("search.py4j_calls", "count", "lower"),
    ("session.local_rows_ms", "ms", "lower"),
    ("spark.gap_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.job_ms", "ms", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.result_kb", "KB", "lower"),
    ("spark.jobs_topk", "count", "lower"),
    ("spark.tasks_topk", "count", "lower"),
    ("spark.input_mb", "MB", "lower"),
    ("spark.executor_run_ms", "ms", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("search.splits_listed", "count", "lower"),
    ("search.route.leaf", "count", "higher"),
    ("search.route.general", "count", "lower"),
    ("search.route.wand", "count", "lower"),
    ("search.leaf_bails", "count", "lower"),
    ("reader.warm_ms", "ms", "lower"),
    ("cache.mem_mb", "MB", "lower"),
    ("reader.refresh_ms", "ms", "lower"),
    ("manifest.read_ms", "ms", "lower"),
    ("manifest.commit_ms", "ms", "lower"),
    ("ingest.batch_ms", "ms", "lower"),
    ("ingest.probe_ms", "ms", "lower"),
    ("build.ms", "ms", "lower"),
    ("build.splits", "count", "lower"),
    ("build.compressed_mb", "MB", "lower"),
    ("build.shuffle_write_mb", "MB", "lower"),
    ("build.executor_run_ms", "ms", "lower"),
    ("storage.objects_written", "count", "lower"),
    ("storage.mb_written", "MB", "lower"),
    ("storage.write_amp", "ratio", "lower"),
    ("storage.live_mb", "MB", "lower"),
    ("merge.ms", "ms", "lower"),
    ("merge.ops", "count", "lower"),
    ("merge.splits_merged", "count", "lower"),
    ("merge.mb_rewritten", "MB", "lower"),
    ("gc.ms", "ms", "lower"),
    ("gc.objects_deleted", "count", "lower"),
    ("proc.driver_rss_mb", "MB", "lower"),
    ("proc.jvm_rss_mb", "MB", "lower"),
    ("proc.workers_rss_mb", "MB", "lower"),
    ("proc.python_workers", "count", "lower"),
]
UNITS = {name: unit for name, unit, _ in PER_LAYER}

# classes that fetch a scored top-k page (ROADMAP's 3 jobs / 13 tasks shape)
TOPK_CLASSES = {"term_rare", "term_common", "and", "or", "not", "termset",
                "phrase", "paged", "time_range"}


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _jobs_of(op, jobs):
    return [j for j in jobs
            if j["group"] == op.id or (j["group"] is None and op.t0 <= j["t0"] <= op.t1)]


def _self_intervals(spans: list, idx: list[int]) -> dict[str, list]:
    """Layer -> the intervals where one of its spans is the innermost open
    span (span time minus its children's time)."""
    kids = defaultdict(list)
    for i in idx:
        if spans[i].parent is not None:
            kids[spans[i].parent].append((spans[i].t0, spans[i].t1))
    own = defaultdict(list)
    for i in idx:
        s = spans[i]
        own[s.layer] += subtract([(s.t0, s.t1)], kids[i])
    return own


def request_metrics(op, spans, idx, jobs) -> dict[str, float]:
    own = _self_intervals(spans, idx)
    mine = _jobs_of(op, jobs)
    job_iv = [(j["t0"], j["t1"]) for j in mine]
    stages = [s for j in mine for s in j["stages"]]
    names = [spans[i].name for i in idx]
    man = [spans[i] for i in idx if spans[i].name.startswith("Manifest.")]
    commit = [(s.t0, s.t1) for s in man if s.name.split(".", 1)[1] in MANIFEST_COMMITS]
    read = [(s.t0, s.t1) for s in man if s.name.split(".", 1)[1] not in MANIFEST_COMMITS]
    route = defaultdict(int)
    for n in names:
        if n.startswith("Searcher.") and n.split(".", 1)[1] in ROUTES:
            route[ROUTES[n.split(".", 1)[1]]] += 1
    return {
        "rest.self_ms": total(subtract(own["rest"], job_iv)) * 1e3,
        "plans.parse_ms": total(own["plans.query"]) * 1e3,
        "search.driver_ms": total(subtract(own["operators.search"], job_iv)) * 1e3,
        "search.py4j_calls": op.py4j,
        "session.local_rows_ms": total(own["session"]) * 1e3,
        "spark.gap_ms": total(subtract([(op.t0, op.t1)], job_iv)) * 1e3,
        "spark.jobs": len(mine),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.job_ms": sum(j["t1"] - j["t0"] for j in mine) * 1e3,
        "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / 1e6,
        "spark.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / 1e6,
        "spark.result_kb": sum(s["result_b"] for s in stages) / 1e3,
        "spark.input_mb": sum(s["input_b"] for s in stages) / 1e6,
        "spark.executor_run_ms": sum(s["run_ms"] for s in stages),
        "spark.executor_cpu_ms": sum(s["cpu_ms"] for s in stages),
        "search.splits_listed": sum(spans[i].info.get("n", 0) for i in idx
                                    if spans[i].name == "Manifest.list_published"),
        "search.route.leaf": route["leaf"],
        "search.route.general": route["general"],
        "search.route.wand": route["wand"],
        "search.leaf_bails": sum(1 for i in idx if spans[i].info.get("bail")),
        "manifest.read_ms": total(union(read)) * 1e3,
        "manifest.commit_ms": total(union(commit)) * 1e3,
    }


def compute(tracer, jobs, *, request_kind: str, peaks: dict, cache_mb: float,
            live_bytes: int, input_bytes: int) -> tuple[dict, dict]:
    """-> (per-layer metrics, per-class per-request metrics)."""
    spans, ops = tracer.spans, tracer.ops
    by_op = defaultdict(list)
    for i, s in enumerate(spans):
        by_op[s.op].append(i)
    kind_of = {o.id: o.kind for o in ops}
    requests = [o for o in ops if o.kind == request_kind]
    per_req = [(o.cls, request_metrics(o, spans, by_op[o.id], jobs)) for o in requests]
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    for name in per_req[0][1] if per_req else ():
        out[name] = _mean(m[name] for _, m in per_req)
    topk = [m for c, m in per_req if c in TOPK_CLASSES]
    out["spark.jobs_topk"] = _mean(m["spark.jobs"] for m in topk)
    out["spark.tasks_topk"] = _mean(m["spark.tasks"] for m in topk)
    classes = defaultdict(list)
    for c, m in per_req:
        classes[c].append(m)
    by_class = {c: {k: _mean(m[k] for m in ms) for k in ms[0]} for c, ms in classes.items()}

    def named(name, kind=None):
        return [s for s in spans if s.name == name
                and (kind is None or kind_of.get(s.op) == kind)]

    batches = [o for o in ops if o.kind == "batch"]
    if batches:  # ingest: per batch, over the timed window's operations
        window = [o for o in ops if not o.kind.startswith("setup")]
        window_idx = [i for o in window for i in by_op[o.id]]
        n = len(batches)
        man = [spans[i] for i in window_idx if spans[i].name.startswith("Manifest.")]
        commits = [(s.t0, s.t1) for s in man if s.name.split(".", 1)[1] in MANIFEST_COMMITS]
        out["manifest.commit_ms"] = total(union(commits)) * 1e3 / n
        out["manifest.read_ms"] = total(union(
            [(s.t0, s.t1) for s in man if s.name.split(".", 1)[1] not in MANIFEST_COMMITS]
        )) * 1e3 / n
        out["ingest.batch_ms"] = _mean((s.t1 - s.t0) * 1e3
                                       for s in named("StreamingIndexer.process_batch", "batch"))
        out["reader.refresh_ms"] = _mean((s.t1 - s.t0) * 1e3
                                         for s in named("IndexReader.refresh", "batch"))
        out["ingest.probe_ms"] = _mean((o.t1 - o.t0) * 1e3 for o in requests)
        writers = [o for o in window if o.kind in ("batch", "merge")]
        out["storage.objects_written"] = sum(o.written for o in window) / n
        out["storage.mb_written"] = sum(o.written_bytes for o in window) / 1e6 / n
        out["storage.write_amp"] = sum(o.written_bytes for o in writers) / input_bytes
    else:  # bulk build in set-up: per build
        builds = [o for o in ops if o.kind == "setup-build"]
        out["storage.objects_written"] = _mean(o.written for o in builds)
        out["storage.mb_written"] = _mean(o.written_bytes / 1e6 for o in builds)
        out["storage.write_amp"] = sum(o.written_bytes for o in builds) / input_bytes
    out["storage.live_mb"] = live_bytes / 1e6

    # the builds the end-to-end build metrics time: the window's batches
    # (ingest) or the set-up's appends (search); medians, as the first
    # set-up build pays the JVM's and the workers' start-up
    build_spans = named("build_index", "batch" if batches else "setup-build")
    out["build.ms"] = _median((s.t1 - s.t0) * 1e3 for s in build_spans)
    out["build.splits"] = _median(s.info["splits"] for s in build_spans)
    out["build.compressed_mb"] = _median(s.info["compressed_b"] / 1e6 for s in build_spans)
    build_stages = [[st for j in jobs if s.t0 <= j["t0"] <= s.t1 for st in j["stages"]]
                    for s in build_spans]
    out["build.shuffle_write_mb"] = _median(sum(st["shuffle_write_b"] for st in b) / 1e6
                                            for b in build_stages)
    out["build.executor_run_ms"] = _median(sum(st["run_ms"] for st in b) for b in build_stages)
    out["reader.warm_ms"] = _median((s.t1 - s.t0) * 1e3 for s in named("IndexReader.warm"))
    out["cache.mem_mb"] = cache_mb

    merges = [o for o in ops if o.kind == "merge"]
    merge_spans = named("run_merge_pipeline", "merge")
    out["merge.ms"] = _mean((s.t1 - s.t0) * 1e3 for s in merge_spans)
    out["merge.ops"] = _mean(s.info["ops"] for s in merge_spans)
    out["merge.splits_merged"] = _mean(s.info["splits_merged"] for s in merge_spans)
    out["merge.mb_rewritten"] = _mean(o.written_bytes / 1e6 for o in merges)
    out["gc.ms"] = _mean((s.t1 - s.t0) * 1e3 for s in named("garbage_collect", "gc"))
    out["gc.objects_deleted"] = _mean(o.deleted for o in ops if o.kind == "gc")

    out["proc.driver_rss_mb"] = peaks.get("driver", 0.0)
    out["proc.jvm_rss_mb"] = peaks.get("jvm", 0.0)
    out["proc.workers_rss_mb"] = peaks.get("workers", 0.0)
    out["proc.python_workers"] = peaks.get("n_workers", 0)
    return out, by_class
