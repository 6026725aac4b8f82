"""One benchmark run: a single closed-loop client drives the engine through
its public functions on ``local[nproc]``.

    python3 perfbench/run.py --workload rag --seed 7 --seconds 10 --trace 0

Workloads: ``rag`` and ``query_mix`` (listed in BENCHMARK.json) and
``corpus_pipeline`` (run the same way; README.md says why it is not
listed). Inputs are generated from ``--seed`` into a scratch directory
under ``perfbench/.work/`` that is deleted at exit.

Output: the last stdout line is the result ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the end-to-end
metrics of BENCHMARK.json; with ``--trace 1`` its per-layer metrics
(layers idle in the workload read 0), and the spans are written to
``perfbench/out/``. The line before the result is a report with the
workload's own named metrics and their sample counts. Exit code 1 when a
correctness check fails or an op fails, 2 when the engine package cannot
be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from common import HERE, ROOT, Context

OUT = os.path.join(HERE, "out")
ENGINE = "data_engineering_1_spark"
WORKLOADS = {
    "rag": "rag",
    "corpus_pipeline": "corpus",
    "query_mix": "querymix",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's input sizes")
    return ap.parse_args(argv)


def declared_metrics(workload: str, trace: int) -> dict[str, str] | None:
    """name -> unit from BENCHMARK.json for a listed workload, else None."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if workload not in {w["name"] for w in spec["workloads"]}:
        return None
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def result_metrics(workload: str, trace: int,
                   measured: dict[str, tuple[float, str]]) -> dict:
    declared = declared_metrics(workload, trace)
    if declared is None:  # not a listed workload: report what it measured
        return {k: {"value": v, "unit": u} for k, (v, u) in measured.items()}
    unknown = sorted(set(measured) - set(declared))
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    for name, (_, unit) in measured.items():
        if unit != declared[name]:
            raise RuntimeError(f"{name}: unit {unit} != {declared[name]}")
    return {
        name: {"value": measured.get(name, (0, unit))[0], "unit": unit}
        for name, unit in declared.items()
    }


def set_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the engine
    importable in Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:  # also when a terminated run left py4j mid-call
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    # a terminated run still stops Spark and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the engine is the checkout's own source, never an installed copy
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no engine package {ENGINE}/ in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        set_environment(work)
        from data_engineering_1_spark.session import get_spark
        from spans import Tracer

        t = time.perf_counter()
        spark = get_spark("perfbench", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
        session_s = time.perf_counter() - t
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(args, spark, tracer, work, t_start, session_s)
        workload = importlib.import_module(WORKLOADS[args.workload])
        out = workload.run(ctx)
        gc_s = ctx.driver_gc_s() - ctx.gc_at_setup
        if args.trace:
            tracer.write(
                os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "report": out["report"]},
            )
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):  # other runs may still use it
                os.rmdir(os.path.dirname(work))

    if args.trace:
        measured = {"session.get_spark_s": (ctx.session_s, "s"),
                    "session.driver_gc_s": (gc_s, "s"),
                    **out["per_layer"]}
    else:
        measured = {"setup_s": (ctx.setup_cpu_s or 0.0, "s"),
                    **out["end_to_end"]}
    correct = ctx.failed == 0 and all(c["ok"] for c in ctx.checks)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "setup_cpu_s": ctx.setup_cpu_s, "setup_wall_s": ctx.setup_wall_s,
        "session_s": ctx.session_s,
        "driver_gc_s": gc_s,
        "ops_attempted": ctx.attempted, "ops_failed": ctx.failed,
        "correct": correct, "checks": ctx.checks, **out["report"],
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": result_metrics(args.workload, args.trace, measured),
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
