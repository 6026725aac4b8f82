"""Run a workload on several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workload rag --seeds 1-10
    python3 perfbench/steadiness.py --workload query_mix --seeds 1-10 \\
        --json perfbench/out/steadiness-query_mix.json

Each seed is one ``run.py`` process with the ``run_seconds`` of
BENCHMARK.json. For every metric the summary gives the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread: the
distance between the first and the third quartile as a share of the
median. A run that fails or reports ``correct: false`` is listed and
left out of the statistics.
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


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--json", help="also write the summary here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    values: dict[str, list[float]] = {}
    runs = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 else None
        ok = bool(result and result["correct"])
        runs.append({"seed": seed, "exit": proc.returncode, "correct": ok,
                     "wall_s": wall})
        print(f"seed {seed}: exit {proc.returncode}, correct {ok}, "
              f"{wall:.1f} s", file=sys.stderr)
        if ok:
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])

    summary = {
        "workload": args.workload,
        "cpus": len(os.sched_getaffinity(0)), "runs": runs,
        "metrics": {n: summarize(v) for n, v in values.items()
                    if len(v) >= 2},
    }
    for name, s in summary["metrics"].items():
        spread = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
        print(f"{args.workload:16s} {name:28s} median {s['median']:12.4f}"
              f"  spread {spread}")
    if args.json:
        os.makedirs(os.path.dirname(os.path.abspath(args.json)),
                    exist_ok=True)
        with open(args.json, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
