"""Summarize the runs recorded under ``.perfbench_work/`` as one record.

    python3 perfbench/summarize.py [--work DIR] > record.json

For each workload: the median, quartiles and spread (quartile distance ÷
median) of every end-to-end metric over the untraced runs, and the median
per-layer metrics, span self times and tracing overhead over the traced
runs. Smoke runs are left out.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import statistics
import sys


def _stats(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def _machine() -> dict:
    with open("/proc/cpuinfo") as f:
        model = next((line.split(":", 1)[1].strip() for line in f if line.startswith("model name")), "")
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    import pyspark

    return {"cpu": model, "cores": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1),
            "python": platform.python_version(), "spark": pyspark.__version__}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--work", default=".perfbench_work", help="directory run.py recorded its runs in")
    work = ap.parse_args().work
    with open(os.path.join(work, "history.jsonl")) as f:
        untraced = [r for r in map(json.loads, f) if not r["smoke"]]
    traced = []
    for path in glob.glob(os.path.join(work, "traces", "*.json")):
        with open(path) as f:
            r = json.load(f)
        if not r["smoke"]:
            traced.append(r)
    out = {"machine": _machine(), "workloads": {}}
    for w in sorted({r["workload"] for r in untraced}):
        runs = [r for r in untraced if r["workload"] == w]
        walls = [r["end_to_end"]["wall_s"] for r in runs]
        rec = {
            "untraced": {
                "runs": len(runs),
                "seeds": [r["seed"] for r in runs],
                "failed_ops": sum(r["failed"] for r in runs),
                "end_to_end": {m: _stats([r["end_to_end"][m] for r in runs]) for m in runs[0]["end_to_end"]},
                "peak_rss_mb": _stats([r["peak_rss_mb"] for r in runs]),
                "op_wall_s": {op["name"]: statistics.median(
                    r2["ops"][i]["wall_s"] for r2 in runs) for i, op in enumerate(runs[0]["ops"])},
            }
        }
        tr = [r for r in traced if r["workload"] == w]
        if tr:
            layers = tr[0]["layers"]["metrics"]
            spans = {k for r in tr for k in r["layers"]["self_s"]}
            rec["traced"] = {
                "runs": len(tr),
                "per_layer": {k: statistics.median(r["layers"]["metrics"][k] for r in tr) for k in layers},
                "self_s": {k: statistics.median(r["layers"]["self_s"].get(k, 0.0) for r in tr) for k in sorted(spans)},
                "tracing_overhead_s": statistics.median(r["end_to_end"]["wall_s"] for r in tr)
                - statistics.median(walls),
            }
        out["workloads"][w] = rec
    json.dump(out, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
