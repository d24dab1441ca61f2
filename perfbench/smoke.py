#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

For each workload it makes two runs in this process:

- an untraced run whose correctness sample is deliberately perturbed: it
  must report ``correct: false`` and still emit every end-to-end metric
  named in BENCHMARK.json, with its unit;
- a traced run on untouched outputs: it must be correct and emit every
  per-layer metric named in BENCHMARK.json, with its unit.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run as bench  # noqa: E402

TINY = {
    "season_backfill": {"matches": 2, "frames": 40},
    "dedup_graph": {"docs": 60},
}


def perturb_tracking(sample: dict) -> None:
    row = sample["pressing"].index[0]
    tti = [list(r) for r in sample["pressing"].at[row, "time_to_intercept"]]
    tti[0][0] += 1.0
    sample["pressing"].at[row, "time_to_intercept"] = tti


def perturb_dedup(sample: dict) -> None:
    cols, rows = sample["d_pagerank"]
    first = list(rows[0])
    first[cols.index("pr")] += 1.0
    sample["d_pagerank"] = (cols, [tuple(first)] + rows[1:])


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def emitted(result: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in result["metrics"].items()}


def main() -> int:
    work = os.path.join(bench.WORK_ROOT, f"smoke-{os.getpid()}")
    bench.fit_environment(work)
    failures = []
    perturbations = {"season_backfill": perturb_tracking, "dedup_graph": perturb_dedup}
    try:
        for workload in bench.WORKLOADS:
            sizes = TINY[workload]
            perturbed = bench.run(workload, 1, 0.0, False, os.path.join(work, "p"), sizes,
                                  perturb=perturbations[workload])
            if perturbed["correct"] or perturbed["failed"] == 0:
                failures.append(f"{workload}: a perturbed output passed the correctness check")
            if emitted(perturbed) != declared("end_to_end"):
                failures.append(f"{workload}: end-to-end metrics {sorted(emitted(perturbed))}")
            traced = bench.run(workload, 2, 0.0, True, os.path.join(work, "t"), sizes)
            if not traced["correct"]:
                failures.append(f"{workload}: the traced run failed its correctness check")
            if emitted(traced) != declared("per_layer"):
                missing = set(declared("per_layer")) ^ set(emitted(traced))
                failures.append(f"{workload}: per-layer metrics differ from BENCHMARK.json: {sorted(missing)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"smoke: {f}", file=sys.stderr)
    print("smoke: ok" if not failures else f"smoke: {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
