"""The benchmark's workloads.

Each sets up ``SETUPS`` times (``setup_s`` is the median), warms every
request shape it will time, runs its timed window, and only then checks
every response: the checker runs after the memory sampler has stopped,
never inside the timed window.

* ``search_hot``: one closed-loop client sends whole rounds of the seeded
  REST mix (one request per class, class order shuffled per round) through
  ``rest.search_endpoint`` to a 60k-doc, 30-split index warmed with
  ``warm(mode="full")``. The work is the per-query floor: planning, py4j,
  job launch, root merge and fetch; builds happen only in set-up.
* ``ingest_search``: writes beside reads on the ``dir_object_store``
  backend. Starting from a fresh index, each of a fixed number of rounds
  (``--seconds / INGEST_ROUND_BUDGET_S``) appends ``MERGE_EVERY`` seeded
  batches with disjoint ids through ``StreamingIndexer.process_batch``
  (each followed by ``refresh()`` and ``PROBES_PER_OP`` ``count_hits("*")``
  REST probes), then ``run_merge_pipeline`` and
  ``garbage_collect(deletion_grace_secs=0)``, each followed by probes. The
  reader is never warmed; the probe is answered from the manifest.
"""

from __future__ import annotations

import dataclasses
import gc
import math
import os
import shutil
import statistics
import time
import traceback

import numpy as np

from quickwit_spark import rest
from quickwit_spark.index import manifest, storage
from quickwit_spark.operators import build, merge, search
from quickwit_spark.streaming import indexer

import check
import corpus
import layers
import procs
import spans

SETUPS = 3

SEARCH_DOCS = 60_000  # ROADMAP's baseline shape: sf0.1
SEARCH_SPLITS = 30
APPENDS = 5  # the first pays JIT and worker start-up; the median is warm
MIX_VARIANTS = 2  # distinct draws per request class
# a round of the mix (one request per class) takes about this long on a
# 4-core host; like ingest rounds, the count is fixed by --seconds alone so
# every run of a seed sends the same requests
SEARCH_ROUND_BUDGET_S = 5.5

WARMUP_DOCS = 1_000
BATCH_DOCS = 4_000
SPLITS_PER_BATCH = 4
MERGE_EVERY = 3
# reads beside the writes: after every operation the probe is sent this many
# times; the first one's return is when the operation's docs were seen
# searchable, and all of them are query-latency samples (45 per run, so
# query_p75_s has about ten beyond it)
PROBES_PER_OP = 3
# an ingest round (MERGE_EVERY batches, a merge, a GC) takes about this
# long on a 4-core host; the round count is fixed by --seconds alone, so
# two commits always end the window with the same ingest history
INGEST_ROUND_BUDGET_S = 7.0

COUNT_ALL = {"query": "*", "max_hits": 0}


class HitCapture:
    """Keeps the (split_id, docid, score) rows ``search_endpoint``
    collects from ``search()``, which its rendered hits no longer carry.
    Installed the same way in traced and untraced runs."""

    def __init__(self):
        self.rows = None
        self._search = rest.search
        rest.search = self._call

    def _call(self, *args, **kwargs):
        out = self._search(*args, **kwargs)
        if kwargs.get("with_count"):
            return _Rows(out[0], self), out[1]
        return _Rows(out, self)


class _Rows:
    def __init__(self, df, capture: HitCapture):
        self.df, self.capture = df, capture

    def collect(self):
        rows = self.df.collect()
        self.capture.rows = [(r["split_id"], r["docid"], r["score"]) for r in rows]
        return rows


def _percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile; failed operations are +inf."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def _record(cls: str, params: dict, t0: float, t1: float, body, capture, err) -> dict:
    rec = {"cls": cls, "params": params, "latency": t1 - t0, "error": err,
           "num_hits": None, "rows": None, "hit_urls": [], "buckets": None}
    if body is not None:
        rec["num_hits"] = body["num_hits"]
        rec["hit_urls"] = [h.get("url") for h in body["hits"]]
        rec["rows"] = capture.rows if params.get("max_hits", 20) > 0 else []
        if "aggs" in body:
            rec["buckets"] = {int(b["key"]): b["doc_count"]
                              for b in body["aggs"]["t"]["buckets"]}
    return rec


def _send(reader, kind: str, cls: str, params: dict, capture: HitCapture, tracer) -> dict:
    """One timed REST request; an exception is recorded, not raised."""
    capture.rows = None
    body, err = None, None
    with tracer.op(kind, cls):
        t0 = time.perf_counter()
        try:
            body = rest.search_endpoint(reader, params)
        except Exception:  # noqa: BLE001 — a failed request is a result
            err = traceback.format_exc(limit=1).strip().splitlines()[-1]
        t1 = time.perf_counter()
    return _record(cls, params, t0, t1, body, capture, err)


def _sizes_mb(objects: dict) -> dict[str, float]:
    """Index bytes by top-level prefix (postings, docstore, manifest)."""
    out: dict[str, float] = {}
    for key, (size, _) in objects.items():
        top = key.split("/", 1)[0] if "/" in key else "other"
        out[top] = out.get(top, 0.0) + size / 1e6
    return {k: round(v, 3) for k, v in out.items()}


class Run:
    """What a workload hands back to ``run.py``."""

    def __init__(self):
        self.metrics: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.selftest_missed: list[str] = []
        self.info: dict = {}
        self.layers: dict = {}
        self.by_class: dict = {}


def _finish(run: Run, lat: list[float], ops: int, completed: int, wall: float,
            setups: list[dict], peaks: dict) -> None:
    run.metrics.update({
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "query_p50_s": _percentile(lat, 50),
        "query_p75_s": _percentile(lat, 75),
        "qps": completed / wall,
        "peak_rss_mb": peaks["total"],
    })
    run.info.update({
        "setup_s_each": [round(s["setup_s"], 3) for s in setups],
        "query_samples": len(lat),
        "samples_beyond_p75": sum(1 for x in lat if x > run.metrics["query_p75_s"]),
        "window_s": round(wall, 3),
        "window_ops": ops,
        "peak_pss_mb": {k: round(v, 1) for k, v in peaks.items()},
    })


def search_hot(spark, seed: int, seconds: float, tracer, work: str) -> Run:
    """Set-up builds the 60k-doc, 30-split index as ``APPENDS`` equal
    appends (``ingest_docs_per_s`` and ``time_to_searchable_p50_s`` are
    their medians), then opens, probes and warms a reader ``SETUPS`` times
    (``setup_s``): three full 60k-doc builds per run would not fit the
    benchmark's time budget."""
    run = Run()
    capture = HitCapture()
    c = corpus.Corpus(seed, 0, SEARCH_DOCS)
    text_bytes = c.text_bytes()
    table = c.table()
    per = SEARCH_DOCS // APPENDS
    page_dirs = [os.path.join(work, f"pages{k}") for k in range(APPENDS)]
    for k, d in enumerate(page_dirs):
        corpus.stage(table.slice(k * per, per), d, files=8)
    del table
    mix = corpus.search_mix(seed, MIX_VARIANTS)
    n_cls = len(mix) // MIX_VARIANTS
    sampler = procs.PeakSampler().start()

    idx = os.path.join(work, "index")
    cfg = build.IndexConfig(num_splits=SEARCH_SPLITS // APPENDS)
    appends, reader = [], None
    t_first = time.perf_counter()
    for k, d in enumerate(page_dirs):
        tracer.storage_root = idx
        with tracer.op("setup-build"):
            tb = time.perf_counter()
            build.build_index(spark, spark.read.parquet(d), idx,
                              dataclasses.replace(cfg, generation=k))
            build_s = time.perf_counter() - tb
        tracer.storage_root = None
        reader = search.IndexReader(spark, idx)
        probe = _send(reader, "setup-probe", "count_all", COUNT_ALL, capture, tracer)
        appends.append({"build_s": build_s, "tts_s": time.perf_counter() - tb})
        run.attempted += 1
        if probe["error"] or probe["num_hits"] != per * (k + 1):
            run.failed += 1
            run.problems.append(f"set-up probe: {probe['error'] or probe['num_hits']}")
    t_built = time.perf_counter()
    objects = spans.inventory(idx)
    index_bytes = sum(size for size, _ in objects.values())
    setups = []
    for _ in range(SETUPS):
        reader.refresh()  # unpersists the previous set-up's cache
        t0 = time.perf_counter()
        reader = search.IndexReader(spark, idx)
        probe = _send(reader, "setup-probe", "count_all", COUNT_ALL, capture, tracer)
        with tracer.op("setup-warm"):
            reader.warm(mode="full")
        setups.append({"setup_s": time.perf_counter() - t0})
        run.attempted += 1
        if probe["error"] or probe["num_hits"] != SEARCH_DOCS:
            run.failed += 1
            run.problems.append(f"set-up probe: {probe['error'] or probe['num_hits']}")
    t_setups = time.perf_counter()

    # warm every request shape once (JVM codegen, Python worker start-up)
    for cls, params in mix[:n_cls]:
        _send(reader, "warmup", cls, params, capture, tracer)
    t_warm = time.perf_counter()

    rng = np.random.Generator(np.random.PCG64([seed, 0x0DE]))
    records = []
    gc.collect()
    gc.freeze()  # the long-lived objects above are never rescanned
    cpu0 = procs.cpu_times()
    t_start = time.perf_counter()
    for r in range(max(1, round(seconds / SEARCH_ROUND_BUDGET_S))):
        base = (r % MIX_VARIANTS) * n_cls
        for j in rng.permutation(n_cls):
            cls, params = mix[base + j]
            records.append(_send(reader, "search", cls, params, capture, tracer))
    wall = time.perf_counter() - t_start
    run.info["steal_pct"] = round(100 * procs.steal_share(cpu0, procs.cpu_times()), 2)
    gc.unfreeze()
    peaks = sampler.stop()
    cache_mb = tracer.cache_mb()

    # -- checks, after the window and outside memory sampling --------------
    t_check = time.perf_counter()
    oracle, bad_index = check.build_oracle(idx, c, [p["query"] for _, p in mix])
    run.problems += bad_index
    run.failed += len(bad_index)
    exp, urls = {}, {}
    for _, params in mix:
        key = repr(params)
        exp[key] = check.expected(oracle, params)
        urls[key] = [check.url_of_row(oracle, c, s, d) for s, d, _ in exp[key]["rows"]]
    run.selftest_missed = check.selftest_search(
        [(exp[repr(p)], urls[repr(p)]) for _, p in mix[:n_cls]])
    lat = []
    for rec in records:
        key = repr(rec["params"])
        bad = check.search_problems(exp[key], rec, urls[key])
        if bad:
            run.failed += 1
            run.problems.append(f"{rec['cls']} {rec['params']['query']!r}: {bad[0]}")
        lat.append(math.inf if bad else rec["latency"])
    run.attempted += len(records)

    completed = sum(1 for x in lat if math.isfinite(x))
    _finish(run, lat, len(records), completed, wall, setups, peaks)
    run.metrics.update({
        "ingest_docs_per_s": statistics.median(per / a["build_s"] for a in appends),
        "time_to_searchable_p50_s": statistics.median(a["tts_s"] for a in appends),
        "bytes_per_input_byte": index_bytes / text_bytes,
    })
    run.info.update({
        "corpus": {"docs": SEARCH_DOCS, "splits": SEARCH_SPLITS, "text_mb": text_bytes / 1e6},
        "index_mb": {**_sizes_mb(objects), "cached": round(cache_mb, 3)},
        "append_s": [round(a["build_s"], 3) for a in appends],
        "class_p50_ms": {
            cls: round(1e3 * statistics.median(r["latency"] for r in records if r["cls"] == cls))
            for cls, _ in mix[:n_cls]},
        "phase_s": {"build": round(t_built - t_first, 2), "setups": round(t_setups - t_built, 2),
                    "shape_warmup": round(t_warm - t_setups, 2),
                    "check": round(time.perf_counter() - t_check, 2)},
    })
    if tracer.enabled:
        run.layers, run.by_class = layers.compute(
            tracer, tracer.spark_jobs(), request_kind="search", peaks=peaks,
            cache_mb=cache_mb, live_bytes=index_bytes, input_bytes=text_bytes)
    return run


def ingest_search(spark, seed: int, seconds: float, tracer, work: str) -> Run:
    run = Run()
    capture = HitCapture()
    warm = corpus.Corpus(seed, 0, WARMUP_DOCS)
    warm_dir = os.path.join(work, "warmup")
    corpus.stage(warm.table(), warm_dir, files=SPLITS_PER_BATCH)
    rounds = max(1, round(seconds / INGEST_ROUND_BUDGET_S))
    n_batches = rounds * MERGE_EVERY
    c = corpus.Corpus(seed, WARMUP_DOCS, n_batches * BATCH_DOCS)
    table = c.table()
    batch_dirs, batch_bytes = [], []
    for j in range(n_batches):
        d = os.path.join(work, f"batch{j}")
        corpus.stage(table.slice(j * BATCH_DOCS, BATCH_DOCS), d, files=SPLITS_PER_BATCH)
        batch_dirs.append(d)
        batch_bytes.append(c.text_bytes(j * BATCH_DOCS, (j + 1) * BATCH_DOCS))
    del table, c
    cfg = build.IndexConfig(num_splits=SPLITS_PER_BATCH)
    sampler = procs.PeakSampler().start()

    setups, idx = [], None
    for k in range(SETUPS):
        if idx is not None:
            shutil.rmtree(idx)
        idx = os.path.join(work, f"index{k}")
        tracer.storage_root = idx
        t0 = time.perf_counter()
        storage.init_storage(idx, "dir_object_store")
        sink = indexer.StreamingIndexer(idx, cfg)
        with tracer.op("setup-batch"):
            sink.process_batch(spark.read.parquet(warm_dir), 0)
        reader = search.IndexReader(spark, idx)
        probe = _send(reader, "setup-probe", "count_all", COUNT_ALL, capture, tracer)
        t1 = time.perf_counter()
        run.attempted += 1
        if probe["error"] or probe["num_hits"] != WARMUP_DOCS:
            run.failed += 1
            run.problems.append(f"set-up probe: {probe['error'] or probe['num_hits']}")
        setups.append({"setup_s": t1 - t0})
    warm_bytes = warm.text_bytes()
    del warm

    ingested, window_bytes, busy, j = WARMUP_DOCS, 0, 0.0, 0
    probes, lat = [], []
    appended = []  # (seconds in process_batch + refresh, index of its probe)
    ops = failed_ops = 0

    def timed(kind, fn):
        nonlocal busy, ops, failed_ops
        ops += 1
        with tracer.op(kind):
            t0 = time.perf_counter()
            try:
                fn()
                err = None
            except Exception:  # noqa: BLE001 — a failed operation is a result
                err = traceback.format_exc(limit=1).strip().splitlines()[-1]
            dt = time.perf_counter() - t0
        busy += dt
        if err:
            failed_ops += 1
            run.problems.append(f"{kind}: {err}")
        return dt, err

    def probe_now():
        nonlocal ops
        for _ in range(PROBES_PER_OP):
            ops += 1
            rec = _send(reader, "probe", "count_all", COUNT_ALL, capture, tracer)
            rec["expected"] = ingested
            probes.append(rec)
            lat.append(rec["latency"])

    gc.collect()
    gc.freeze()
    cpu0 = procs.cpu_times()
    t_start = time.perf_counter()
    for _ in range(rounds):
        for _ in range(MERGE_EVERY):
            df = spark.read.parquet(batch_dirs[j])
            j += 1

            def append(df=df, batch_id=j):
                sink.process_batch(df, batch_id)
                reader.refresh()

            dt, err = timed("batch", append)
            if not err:
                ingested += BATCH_DOCS
                window_bytes += batch_bytes[j - 1]
            probe_now()
            appended.append((dt, len(probes) - PROBES_PER_OP))
        timed("merge", lambda: (merge.run_merge_pipeline(spark, idx), reader.refresh()))
        probe_now()
        timed("gc", lambda: (merge.garbage_collect(idx, deletion_grace_secs=0),
                             reader.refresh()))
        probe_now()
    wall = time.perf_counter() - t_start
    run.info["steal_pct"] = round(100 * procs.steal_share(cpu0, procs.cpu_times()), 2)
    gc.unfreeze()
    peaks = sampler.stop()

    # -- checks, after the window and outside memory sampling --------------
    objects = spans.inventory(idx)
    published = [(m.split_id, m.num_docs) for m in manifest.Manifest(idx).list_published()]
    run.selftest_missed = check.selftest_ingest()
    for i, p in enumerate(probes):
        if not check.probe_ok(p):
            failed_ops += 1
            lat[i] = math.inf
            run.problems.append(f"probe: {p['error'] or p['num_hits']} != {p['expected']}")
    final = check.ingest_problems([], published, set(objects), ingested)
    run.problems += final
    run.failed += failed_ops + len(final)
    run.attempted += ops

    # a batch whose probe failed was never seen searchable: +inf
    tts = [dt + lat[k] for dt, k in appended]
    live = sum(size for size, _ in objects.values())
    text_bytes = warm_bytes + window_bytes
    _finish(run, lat, ops, ops - failed_ops, wall, setups, peaks)
    docs_in_window = ingested - WARMUP_DOCS
    run.metrics.update({
        "ingest_docs_per_s": docs_in_window / busy if busy else 0.0,
        "time_to_searchable_p50_s": _percentile(tts, 50),
        "bytes_per_input_byte": live / text_bytes,
    })
    run.info.update({
        "batches": j, "batch_docs": BATCH_DOCS, "docs_ingested": ingested,
        "published_splits": len(published), "index_mb": _sizes_mb(objects),
        "text_mb": text_bytes / 1e6, "busy_s": round(busy, 3),
    })
    if tracer.enabled:
        run.layers, run.by_class = layers.compute(
            tracer, tracer.spark_jobs(), request_kind="probe", peaks=peaks,
            cache_mb=tracer.cache_mb(), live_bytes=live, input_bytes=window_bytes)
    return run


WORKLOADS = {"search_hot": search_hot, "ingest_search": ingest_search}
