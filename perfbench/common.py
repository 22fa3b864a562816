"""Shared harness pieces: Spark session lifecycle, process-tree memory,
latency statistics and the closed request loop."""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

#: driver JVM heap; the largest workload collects at most a few thousand
#: result rows, so this keeps the benchmark small on a shared machine
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, trace: bool):
    """local[cores] session whose scratch space (block manager, JVM temp,
    warehouse) lives under ``work``. The UI (and its REST API) is on only
    for traced runs."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    root = os.getcwd()
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])
    from qdrant_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.ui.retainedTasks": "1000000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    spark = get_spark("perfbench", cpus=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def _proc_kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def peak_memory_mb() -> float:
    """Memory of the process tree, read once after the measured loop: the
    peak resident set (VmHWM) of this driver and of the JVM it launched,
    plus the proportional set size of the Python workers the JVM forked.
    The workers share most pages with their daemon, so their resident
    sizes would count those pages once per worker."""
    children = _children()
    me = os.getpid()
    total = _proc_kb(f"/proc/{me}/status", "VmHWM:")
    for jvm in children.get(me, []):
        total += _proc_kb(f"/proc/{jvm}/status", "VmHWM:")
        frontier = list(children.get(jvm, []))
        while frontier:
            p = frontier.pop()
            total += _proc_kb(f"/proc/{p}/smaps_rollup", "Pss:")
            frontier.extend(children.get(p, []))
    return total / 1024.0


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        return float("nan")
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def mean(xs: list[float], empty: float = float("nan")) -> float:
    return sum(xs) / len(xs) if xs else empty


def ratio(a: float, b: float) -> float:
    return a / b if b else float("nan")


def tail(name: str, xs: list[float]) -> tuple[str, float, str]:
    """(name, value, unit) of the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would not lie
    above the median, so the value is NaN and the unit says why."""
    s = sorted(xs)
    n = len(s)
    if n < 21:
        return name, float("nan"), f"s (only {n} samples, 21 needed)"
    r = n - 11
    return name, s[r], f"s (p{100.0 * (r + 1) / n:.0f} of {n})"


@dataclass
class Op:
    """One closed-loop request: ``call`` is timed; ``check(result)`` runs
    after it, untimed, and returns (failed-check names, recall@10 or
    None)."""

    kind: str
    call: Callable[[], Any]
    check: Callable[[Any], tuple[list[str], float | None]]
    units: int = 1
    queries: int = 0
    read: bool = True
    #: workload-specific figures filled in by ``call`` or ``check``
    stats: dict[str, float] = field(default_factory=dict)


@dataclass
class Record:
    rid: str
    kind: str
    seconds: float
    units: int
    queries: int
    read: bool
    failures: list[str] = field(default_factory=list)
    recall: float | None = None
    stats: dict[str, float] = field(default_factory=dict)


def run_op(op: Op, rid: str, tracer) -> Record:
    rec = Record(rid, op.kind, 0.0, op.units, op.queries, op.read,
                 stats=op.stats)
    t0 = time.perf_counter()
    try:
        with tracer.request_span(rid, op.kind):
            result = op.call()
    except Exception:
        rec.seconds = time.perf_counter() - t0
        rec.failures.append(f"{op.kind}: raised")
        traceback.print_exc(file=sys.stderr)
        return rec
    rec.seconds = time.perf_counter() - t0
    try:
        failures, rec.recall = op.check(result)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        failures = [f"{op.kind}: check raised"]
    rec.failures.extend(failures)
    return rec


def closed_loop(cycle: Callable[[], list[Op]], cycles: int, tracer,
                first_rid: int = 0) -> list[Record]:
    """One client, one request at a time, over ``cycles`` whole cycles of
    the workload's fixed op sequence, so every run does the same work."""
    recs: list[Record] = []
    for _ in range(cycles):
        for op in cycle():
            recs.append(run_op(op, f"r{first_rid + len(recs):05d}", tracer))
    return recs
