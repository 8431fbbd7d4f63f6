"""Outside-in layer trace, recorded from the benchmark's side.

Nothing in the engine is edited. In a traced run the benchmark wraps the
public functions and methods of each engine module listed in ``LAYERS``
(rebinding every name that refers to them inside the already-imported
``quickwit_spark`` modules), counts py4j round trips at the gateway client,
tags every operation's Spark jobs with a job group, and takes an inventory
of the index's objects before and after each operation (artifact writes
happen in Python workers, where no wrapper can see them).

A span carries name, layer, start, end, parent span and op id. Spans stay in
memory and are written out with the Spark status-store numbers when the run
ends. A layer's self time is its spans' time minus the part covered by their
child spans; ``driver`` time is self time that no Spark job overlaps.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

# (layer, module, function names) and (layer, module, class, method names or
# None for every public method)
FUNCTIONS = [
    ("rest", "quickwit_spark.rest", ["search_endpoint"]),
    ("plans.query", "quickwit_spark.plans.query", ["parse_query"]),
    ("operators.search", "quickwit_spark.operators.search",
     ["search", "count_hits", "search_aggs"]),
    ("session", "quickwit_spark.session", ["local_rows_df"]),
    ("operators.build", "quickwit_spark.operators.build", ["build_index"]),
    ("operators.merge", "quickwit_spark.operators.merge",
     ["run_merge_pipeline", "garbage_collect"]),
]
CLASSES = [
    ("operators.search", "quickwit_spark.operators.search", "Searcher", None),
    ("operators.search", "quickwit_spark.operators.search", "IndexReader",
     ["warm", "refresh"]),
    ("index.manifest", "quickwit_spark.index.manifest", "Manifest", None),
    ("streaming.indexer", "quickwit_spark.streaming.indexer",
     "StreamingIndexer", ["process_batch"]),
]
ROUTES = {
    "scored_topk_leaf": "leaf", "leaf_matching": "leaf",
    "leaf_matching_fields": "leaf", "leaf_bucket_partials": "leaf",
    "leaf_count": "leaf", "matching": "general", "scored_topk_wand": "wand",
}
MANIFEST_COMMITS = {
    "stage", "stage_many", "publish", "remove_split", "record_lineage",
    "drop_lineage", "clear", "reset_checkpoints", "save_index_config",
    "update_index_config", "add_source", "remove_source",
    "set_source_enabled", "append_delete_task", "update_delete_task",
}


@dataclass
class Span:
    op: str | None
    layer: str
    name: str
    t0: float
    parent: int | None
    t1: float = 0.0
    info: dict = field(default_factory=dict)


@dataclass
class Op:
    id: str
    kind: str
    cls: str
    t0: float = 0.0
    t1: float = 0.0
    py4j: int = 0
    written: int = 0
    written_bytes: int = 0
    deleted: int = 0


def inventory(root: str) -> dict[str, tuple[int, int]]:
    """Every object under ``root``: relative path -> (size, mtime_ns)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue  # removed between listing and stat
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    """Spans, ops and counters of one run; inert unless ``enabled``."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.py4j_calls = 0
        self.storage_root: str | None = None
        self._tls = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        if enabled:
            self._install()

    # -- operations ------------------------------------------------------
    def op(self, kind: str, cls: str = ""):
        return self._op(kind, cls) if self.enabled else nullcontext()

    @contextmanager
    def _op(self, kind: str, cls: str):
        op = Op(f"op-{len(self.ops)}", kind, cls)
        self.ops.append(op)
        sc = self.spark.sparkContext
        sc.setJobGroup(op.id, kind)
        before = inventory(self.storage_root) if self.storage_root else {}
        p0 = self.py4j_calls
        self._tls.op = op.id
        op.t0 = time.time()
        try:
            yield op
        finally:
            op.t1 = time.time()
            self._tls.op = None
            op.py4j = self.py4j_calls - p0
            if self.storage_root:
                after = inventory(self.storage_root)
                new = [k for k, v in after.items() if before.get(k) != v]
                op.written = len(new)
                op.written_bytes = sum(after[k][0] for k in new)
                op.deleted = len(before.keys() - after.keys())
            sc.setLocalProperty("spark.jobGroup.id", None)

    # -- wrappers --------------------------------------------------------
    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tls = tracer._tls
            stack = tls.__dict__.setdefault("stack", [])
            span = Span(getattr(tls, "op", None), layer, name, time.time(),
                        stack[-1] if stack else None)
            stack.append(len(tracer.spans))
            tracer.spans.append(span)
            try:
                out = fn(*args, **kwargs)
            finally:
                span.t1 = time.time()
                stack.pop()
            span.info = _span_info(name, out)
            return out

        return traced

    def _install(self) -> None:
        for layer, modname, names in FUNCTIONS:
            mod = sys.modules[modname]
            for name in names:
                orig = getattr(mod, name)
                wrapped = self._wrap(layer, name, orig)
                for m in list(sys.modules.values()):
                    if not getattr(m, "__name__", "").startswith("quickwit_spark"):
                        continue
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            self._restore.append((m, attr, orig))
                            setattr(m, attr, wrapped)
        for layer, modname, clsname, names in CLASSES:
            cls = getattr(sys.modules[modname], clsname)
            for name, val in list(vars(cls).items()):
                if names is None and (name.startswith("_") or not callable(val)
                                      or isinstance(val, (staticmethod, classmethod))):
                    continue
                if names is not None and name not in names:
                    continue
                self._restore.append((cls, name, val))
                setattr(cls, name, self._wrap(layer, f"{clsname}.{name}", val))
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._restore.append((client, "send_command", None))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)
        self._restore = []

    # -- Spark status store ----------------------------------------------
    def spark_jobs(self) -> list[dict]:
        """Every job the status store holds, with its run stages' metrics."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if not (j.submissionTime().isDefined() and j.completionTime().isDefined()):
                continue
            stages = []
            ids = j.stageIds()
            for k in range(ids.size()):
                s = store.lastStageAttempt(ids.apply(k))
                if s.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                stages.append({
                    "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ms": s.executorCpuTime() / 1e6,
                    "input_b": s.inputBytes(),
                    "shuffle_read_b": s.shuffleReadBytes(),
                    "shuffle_write_b": s.shuffleWriteBytes(),
                    "result_b": s.resultSize(),
                })
            group = j.jobGroup()
            out.append({
                "id": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "t0": j.submissionTime().get().getTime() / 1e3,
                "t1": j.completionTime().get().getTime() / 1e3,
                "stages": stages,
            })
        return out

    def cache_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(infos[i].memSize() for i in range(len(infos))) / 1e6

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "ops": [vars(o) for o in self.ops],
                "spans": [vars(s) for s in self.spans],
                **extra,
            }, f)


def _span_info(name: str, out) -> dict:
    if name == "Searcher.leaf_plan":
        return {"bail": out is None}
    if name == "Manifest.list_published":
        return {"n": len(out)}
    if name == "build_index":
        return {"splits": out.num_splits, "compressed_b": out.compressed_bytes}
    if name == "run_merge_pipeline":
        return {"ops": out.num_ops, "splits_merged": out.splits_merged}
    return {}


# -- interval arithmetic over (start, end) lists ---------------------------
def union(ivs) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(ivs):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(ivs, minus) -> list[tuple[float, float]]:
    out = []
    minus = union(minus)
    for a, b in union(ivs):
        cur = a
        for c, d in minus:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def total(ivs) -> float:
    return sum(b - a for a, b in union(ivs))
