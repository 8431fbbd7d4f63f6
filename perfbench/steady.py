"""Run-to-run spread of the end-to-end metrics.

Runs ``perfbench/run.py`` once per seed on one workload (untraced) and
prints, for each end-to-end metric, the median and the distance between
the first and third quartiles (``statistics.quantiles(n=4)``) as a share of
the median, next to the metric's bound from BENCHMARK.json. A benchmark is
steady when every spread except ``setup_s``'s is below a third of its
bound. Run from the root of a checkout::

    python3 perfbench/steady.py --workload search_hot --seeds 1-10

Every run's result line is appended to ``.perfbench_out/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> list[dict]:
    """-> every JSON line the run printed; the last is its result."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=900)
    return [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]


def spread(values: list[float]) -> tuple[float, float]:
    """-> (median, (Q3 - Q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        lines = run_once(args.workload, seed, bench["run_seconds"], 0)
        result = lines[-1]
        with open(os.path.join(ROOT, ".perfbench_out", "steady.jsonl"), "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed,
                                "info": lines[0].get("info"), **result}) + "\n")
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':28} {'median':>12} {'spread':>8} {'bound':>6}  steady")
    for k, vs in values.items():
        med, sp = spread(vs)
        ok = k == "setup_s" or sp < bounds[k] / 3
        print(f"{k:28} {med:12.5g} {sp:8.4f} {bounds[k]:6.2f}  {'yes' if ok else 'NO'}")


if __name__ == "__main__":
    main()
