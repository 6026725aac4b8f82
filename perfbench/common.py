"""Helpers shared by the benchmark's workloads: the run context that
counts ops and checks, a wall and CPU clock, and sample statistics."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures")
TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants: the Spark JVM, with its JIT and GC threads, and the
    Python workers. A child that has exited counts through its parent's
    ``cutime``/``cstime``. Time the host's hypervisor takes the CPU away
    (steal) is not in it."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited meanwhile
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        # utime, stime, cutime, cstime
        cpu[int(entry)] = sum(int(x) for x in fields[11:15]) / TICKS
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo += children.get(pid, [])
    return total


class Clock:
    """Wall and CPU time of the block it wraps (``tree_cpu_s``)."""

    def __enter__(self):
        self.wall = self.cpu = 0.0
        self._t, self._c = time.perf_counter(), tree_cpu_s()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t
        # whole clock ticks, without float noise from the subtraction
        self.cpu = round((tree_cpu_s() - self._c) * TICKS) / TICKS
        return False


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> dict | None:
    """The highest percentile that still has at least ten samples above
    it, with its sample count; None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 10  # 1-based rank of the order statistic
    return {"value": sorted(xs)[k - 1], "percentile": round(100 * k / n, 1),
            "n": n}


def summary(xs: list[float], unit: str) -> dict:
    out = {"value": median(xs), "unit": unit, "n": len(xs)}
    t = tail(xs)
    if t is not None:
        out["tail"] = t
    return out


class Context:
    """What a workload gets: the session, its tracer, the run's arguments
    and the bookkeeping of ops and checks."""

    def __init__(self, args, spark, tracer, work: str, t_start: float,
                 session_s: float):
        self.args = args
        self.size = args.size
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.t_start = t_start
        self.session_s = session_s
        self.setup_wall_s: float | None = None
        self.setup_cpu_s: float | None = None
        self.t_timed = 0.0
        self.gc_at_setup = 0.0
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []

    def setup_done(self) -> None:
        """Mark the start of the first timed op."""
        self.gc_at_setup = self.driver_gc_s()
        self.t_timed = time.perf_counter()
        self.setup_wall_s = self.t_timed - self.t_start
        # everything this process tree ran before: interpreter start,
        # imports, the JVM's launch, input generation and any warm-up
        self.setup_cpu_s = tree_cpu_s()

    def driver_gc_s(self) -> float:
        """Total collection time of the driver JVM's garbage collectors."""
        beans = self.spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def time_left(self) -> bool:
        return time.perf_counter() - self.t_timed < self.args.seconds

    def op(self, fn, *a, **kw):
        """Run one op of the closed loop; a failure is counted and logged,
        and the op's result is None."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:  # the run goes on; the failure is reported
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        if not ok:
            print(f"check failed: {name}: {detail}", file=sys.stderr)
