#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize it.

    python3 perfbench/collect.py --workloads query,stream --seeds 1-10 \
        --seconds 8 [--traced-seed 1] [--out perfbench/baseline.json]

Runs ``perfbench/run.py`` once per (workload, seed), one after another,
from the root of the checkout. For every end-to-end metric it prints the
median, the quartiles (``statistics.quantiles(values, n=4)``) and the
spread, the distance between the quartiles as a share of the median.
``--traced-seed`` adds one ``--trace 1`` run per workload, whose per-layer
table goes into the output. ``--out`` writes everything as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    info = json.loads(lines[-2])
    info["wall_s"] = time.perf_counter() - t0
    return info, json.loads(lines[-1])


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": statistics.median(values), "q1": q1, "q3": q3,
        "spread": (q3 - q1) / statistics.median(values), "values": values,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="query,stream")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--traced-seed", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    report = {}
    for wl in args.workloads.split(","):
        per_metric: dict[str, list[float]] = {}
        units, runs = {}, []
        for seed in _seeds(args.seeds):
            info, res = run_once(wl, seed, args.seconds, 0)
            runs.append({"seed": seed, "wall_s": round(info["wall_s"], 1), "correct": res["correct"], "attempted": res["attempted"],
                         "failed": res["failed"], "op_tail_percentile": info["op_tail_percentile"],
                         "pass_walls_s": info["pass_walls_s"], "setup": info["setup"],
                         "peak_rss_parts_mb": info["peak_rss_parts_mb"], "host_ref_s": info["stamp"]["host_ref_s"],
                         "observations": info.get("observations", {}), "problems": info["problems"]})
            for k, m in res["metrics"].items():
                per_metric.setdefault(k, []).append(m["value"])
                units[k] = m["unit"]
            print(wl, seed, json.dumps({k: round(m["value"], 4) for k, m in res["metrics"].items()}),
                  "correct" if res["correct"] else f"FAILED {res['failed']}/{res['attempted']}",
                  f"wall {info['wall_s']:.1f} s", f"passes {info['pass_walls_s']}",
                  f"host_ref {info['stamp']['host_ref_s']:.3f}",
                  flush=True)
        entry = {
            "stamp": info["stamp"] | {"seed": None},
            "runs": runs,
            "end_to_end": {k: summarize(v) | {"unit": units[k]} for k, v in per_metric.items()},
        }
        for k, s in entry["end_to_end"].items():
            print(f"  {wl} {k}: median {s['median']:.4f} {s['unit']}  q1 {s['q1']:.4f}  "
                  f"q3 {s['q3']:.4f}  spread {s['spread']:.3f}", flush=True)
        if args.traced_seed is not None:
            info, res = run_once(wl, args.traced_seed, args.seconds, 1)
            entry["traced"] = {"seed": args.traced_seed, "trace_overhead_s": info["trace_overhead_s"],
                               "per_layer": {k: [m["value"], m["unit"]] for k, m in res["metrics"].items()}}
        report[wl] = entry
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
