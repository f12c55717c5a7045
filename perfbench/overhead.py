"""Tracing overhead: the traced run's end-to-end report against the
untraced run's, for the same workload and seed.

    python3 perfbench/overhead.py --workload stream_lake --seeds 1,2,3

Runs ``run.py`` with ``--trace 0`` and ``--trace 1`` alternately (which one
goes first alternates per seed), for BENCHMARK.json's ``run_seconds`` unless
``--seconds`` says otherwise, and prints, for each end-to-end metric, the
median over seeds of traced / untraced. The result is also written to
``.bench_work/traces/overhead-<workload>.json``, which the traced run of
that workload prints with its own tracer time.
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
TRACES = os.path.join(ROOT, ".bench_work", "traces")


def report(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    return {k: v["value"] for k, v in json.loads(out[-2])["report"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        benchmark = json.load(f)
    names = [m["name"] for m in benchmark["end_to_end"]]
    seconds = args.seconds or benchmark["run_seconds"]
    ratios: dict[str, list[float]] = {n: [] for n in names}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        got = {t: report(args.workload, seed, seconds, t) for t in order}
        for n in names:
            if got[0].get(n):
                ratios[n].append(got[1][n] / got[0][n])
    result = {"workload": args.workload, "seeds": args.seeds, "seconds": seconds,
              "traced_over_untraced": {n: statistics.median(r) for n, r in ratios.items() if r}}
    os.makedirs(TRACES, exist_ok=True)
    with open(os.path.join(TRACES, f"overhead-{args.workload}.json"), "w") as f:
        json.dump(result, f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
