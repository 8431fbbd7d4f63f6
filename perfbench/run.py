"""Seeded, oracle-checked benchmark of the quickwit_spark engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload search_hot --seed 1 --seconds 22 --trace 0

``--workload`` is ``search_hot`` or ``ingest_search`` (see workloads.py);
``--seed`` fixes the corpus, the request mix and the ingest batches;
``--seconds`` sizes the timed window (a number of whole rounds derived from
it alone, see workloads.py). The engine is driven only through its
public Python API, in one fresh Spark session (``local[N]`` with N shuffle
partitions, N the usable cores), and every timed response is checked
against ``quickwit_spark/oracle.py`` after the window.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones (``END_TO_END``); with ``--trace 1`` the run
wraps the engine's layers (spans.py) and reports the per-layer ones
(layers.PER_LAYER), and prints its own end-to-end numbers on the line
before so overhead.py can report what tracing costs. Earlier lines
describe the host, the corpus and index sizes, the sample counts and any
failed check. Spans are written to ``.perfbench_out/``.

Everything the run writes stays inside the checkout: Spark's local dirs,
the JVM and Python temp dirs, staged corpora and indexes live under
``.perfbench_work/`` and are removed at the end. The run exits non-zero,
without a result line, if the engine's sources are not beside it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit; BENCHMARK.json's end_to_end list mirrors this
END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "query_p75_s": "s",
    "qps": "1/s",
    "peak_rss_mb": "MB",
    "ingest_docs_per_s": "1/s",
    "time_to_searchable_p50_s": "s",
    "bytes_per_input_byte": "ratio",
}
# a failed operation misses every latency limit; JSON has no infinity
FAILED_LATENCY_S = 1e9


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _env(work: str) -> None:
    """Confine every temp and spill file to the checkout; make the engine
    importable in Spark's Python workers."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # a fixed, pre-touched heap: how far the JVM grows a lazily sized
        # heap is a GC-policy decision that varies run to run by ~1 GB,
        # which would swamp the engine's own memory in peak_rss_mb
        "SPARK_DRIVER_MEMORY": "2g",
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-java-options '-Xms2g -XX:+AlwaysPreTouch' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        # every JVM, the launcher's too: temp files in the checkout, and no
        # perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    import procs

    deadline = time.time() + 30
    while time.time() < deadline:
        kids = procs.children().get(os.getpid(), [])
        if not kids:
            return
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def _host(work: str) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    fs = subprocess.run(["stat", "-f", "-c", "%T", work], capture_output=True, text=True)
    return {
        "cores": _cores(), "mem_gb": round(mem_kb / 2**20, 1),
        "cpu": platform.processor() or platform.machine(),
        "python": platform.python_version(), "work_fs": fs.stdout.strip(),
    }


def _clean(v):
    if isinstance(v, float) and not math.isfinite(v):
        return FAILED_LATENCY_S
    return v


def main(argv: list[str]) -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "quickwit_spark", "__init__.py")):
        print("perfbench: quickwit_spark/ not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    import spans
    from quickwit_spark.session import get_spark

    t0 = time.perf_counter()
    n = _cores()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = spans.Tracer(spark, enabled=bool(args.trace))
        run = workloads.WORKLOADS[args.workload](
            spark, args.seed, args.seconds, tracer, os.path.join(work, "data"))
        if args.trace:
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}.json"),
                {"layers": run.layers, "by_class": run.by_class})
            tracer.uninstall()
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass

    correct = not run.selftest_missed and not run.problems
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": _host(ROOT), "session_start_s": round(session_s, 3),
            "run_s": round(time.perf_counter() - t_main, 2), **run.info}
    print(json.dumps({"info": info}))
    if run.selftest_missed:
        print(json.dumps({"checker_selftest_missed": run.selftest_missed}))
    if run.problems:
        print(json.dumps({"failed_checks": run.problems[:20]}))
    e2e = {k: {"value": _clean(run.metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    if args.trace:
        import layers

        print(json.dumps({"traced_end_to_end": e2e, "by_class": run.by_class}))
        metrics = {k: {"value": run.layers[k], "unit": u} for k, u in layers.UNITS.items()}
    else:
        metrics = e2e
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
