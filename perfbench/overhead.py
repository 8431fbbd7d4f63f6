"""What tracing costs: one untraced and one traced run per workload on the
same seed, with each end-to-end metric's traced-minus-untraced difference
printed by name. The traced run's own end-to-end numbers come from the
``traced_end_to_end`` line ``run.py --trace 1`` prints. Run from the root
of a checkout::

    python3 perfbench/overhead.py --seed 1

Results are appended to ``.perfbench_out/overhead.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os

from steady import ROOT, run_once


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default="search_hot,ingest_search")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    for workload in args.workloads.split(","):
        plain = run_once(workload, args.seed, seconds, 0)[-1]["metrics"]
        traced_lines = run_once(workload, args.seed, seconds, 1)
        traced = next(x["traced_end_to_end"] for x in traced_lines if "traced_end_to_end" in x)
        layers = traced_lines[-1]["metrics"]
        diff = {k: {"untraced": plain[k]["value"], "traced": traced[k]["value"],
                    "diff": traced[k]["value"] - plain[k]["value"],
                    "diff_share": (traced[k]["value"] - plain[k]["value"]) / plain[k]["value"],
                    "unit": plain[k]["unit"]}
                for k in plain}
        with open(os.path.join(ROOT, ".perfbench_out", "overhead.jsonl"), "a") as f:
            f.write(json.dumps({"workload": workload, "seed": args.seed,
                                "overhead": diff, "layers": layers}) + "\n")
        print(f"{workload} seed {args.seed}: traced - untraced")
        for k, d in diff.items():
            print(f"  {k:28} {d['untraced']:12.5g} {d['traced']:12.5g} "
                  f"{d['diff']:+12.5g} {d['unit']:6} ({d['diff_share']:+.1%})")


if __name__ == "__main__":
    main()
