"""Record the committed traced-run artifact, ``perfbench/TRACE.json``.

For every workload this runs ``PAIRS`` untraced/traced pairs of the
benchmark with the same seed, interleaved, the order within a pair
alternating so that a drifting host does not favour either mode. It
records the workload's description (why it was chosen, its input sizes,
core count, loop type, and the layer -> end-to-end predictions), the first
traced run's per-layer metrics, self-time table and per-op table, and the
tracing overhead: for every end-to-end metric, the median over the pairs
of the traced minus the untraced value. The file is written fresh.

    python3 perfbench/record_trace.py [--seed 1] [--seconds S]

``--seconds`` defaults to ``run_seconds`` of ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import CPUS, E2E_UNITS, LAYER_UNITS, SETUP_REPS, WORK_ROOT  # noqa: E402
from workloads import PREDICTIONS, WORKLOADS  # noqa: E402

PAIRS = 3


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} failed:\n{proc.stderr[-4000:]}")
    with open(os.path.join(WORK_ROOT, f"{workload}-trace{trace}.json")) as fh:
        return json.load(fh)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        run_seconds = json.load(fh)["run_seconds"]
    p.add_argument("--seconds", type=float, default=run_seconds)
    args = p.parse_args()

    doc = {
        "cpus": CPUS, "seed": args.seed, "seconds": args.seconds,
        "hardware": {"cpus": os.cpu_count(), "machine": platform.machine()},
        "setup_reps": SETUP_REPS, "tracing_pairs": PAIRS,
        "units": {**E2E_UNITS, **LAYER_UNITS},
        "predictions": PREDICTIONS, "workloads": {},
    }
    for name in WORKLOADS:
        runs = {0: [], 1: []}
        for i in range(PAIRS):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                runs[trace].append(run_once(name, args.seed, args.seconds, trace))
        plain = [r["end_to_end"] for r in runs[0]]
        traced = [r["end_to_end"] for r in runs[1]]
        first = runs[1][0]
        overhead = {}
        for k in E2E_UNITS:
            diffs = [t[k] - p[k] for p, t in zip(plain, traced)
                     if p[k] is not None and t[k] is not None]
            overhead[k] = statistics.median(diffs) if diffs else None
        wl = WORKLOADS[name]
        doc["workloads"][name] = {
            "why": wl.why,
            "loop": "closed, 1 client",
            "ops": list(wl.ops),
            "inputs": first["inputs"],
            "input_rows": sum(t["rows"] for t in first["inputs"].values()),
            "input_bytes": sum(t["bytes"] for t in first["inputs"].values()),
            "passes": first["passes"],
            "samples": first["samples"],
            "end_to_end_untraced": plain,
            "end_to_end_traced": traced,
            "tracing_overhead": overhead,
            "per_layer": first["per_layer"],
            "self_time": first["self_time"],
            "per_op": first["per_op"],
            "failed_checks": sorted({n for r in runs[0] + runs[1]
                                     for n, c in r["checks"].items() if not c["ok"]}),
        }
        print(f"{name}: recorded", flush=True)
    with open(os.path.join(HERE, "TRACE.json"), "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
