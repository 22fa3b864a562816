"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_knn --seed 1 --seconds 8 --trace 0

Run from the repository root. Starts one local[cores] SparkSession in this
process, builds the workload's seeded inputs, warms up, then runs a
closed loop (one client, one request at a time) over a fixed number of
cycles of the workload, nominally ``--seconds`` long. Every
result is checked against a NumPy oracle. Human-readable lines come first;
the last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("bulk_knn", "client_mix")


def make_workload(name: str, spark, work: str, seed: int, tracer):
    if name == "bulk_knn":
        from perfbench.bulk_knn import BulkKnn
        return BulkKnn(spark, work, seed)
    from perfbench.client_mix import ClientMix
    return ClientMix(spark, work, seed, tracer)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def end_to_end(recs, setup_s: float) -> dict[str, tuple[float, str]]:
    """Timings cover the requests that passed every check; with none
    passed they are NaN."""
    from perfbench.common import mean, ratio

    ok = [r for r in recs if not r.failures]
    return {
        "setup_s": (setup_s, "s"),
        "work_per_s": (ratio(sum(r.units for r in ok),
                             sum(r.seconds for r in ok)), "1/s"),
        # the mean, not the median: a cycle of client_mix holds one call of
        # each read kind, so its median is the latency of a single call
        "read_mean_s": (mean([r.seconds for r in ok if r.read]), "s"),
        "recall_at_10": (mean([r.recall for r in recs if r.recall is not None]),
                         "ratio"),
    }


def per_layer(setup: dict[str, float], rss_mb: float, base, traced, tracer,
              spark_raw) -> dict[str, tuple[float, str]]:
    from perfbench.client_mix import CYCLE
    from perfbench.common import cores, mean, median
    from perfbench.trace import per_request_spark

    n = len(traced)
    sp = per_request_spark(spark_raw)
    own = tracer.self_times()

    def mean_spark(key: str) -> float:
        return sum(sp.get(r.rid, {}).get(key, 0.0) for r in traced) / n

    def mean_self(layer: str) -> float:
        return sum(own.get(r.rid, {}).get(layer, 0.0) for r in traced) / n

    untraced_p50 = median([r.seconds for r in base])
    traced_p50 = median([r.seconds for r in traced])
    wall = sum(r.seconds for r in traced)
    queries = sum(r.queries for r in traced
                  if sp.get(r.rid, {}).get("kernel_rows_out"))
    out: dict[str, tuple[float, str]] = {
        "setup.spark_start_s": (setup["spark_start_s"], "s"),
        "setup.datagen_s": (setup["datagen_s"], "s"),
        "setup.load_s": (setup["load_s"], "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        # a per-layer figure, not an end-to-end one: with the same inputs it
        # varied by more than a quarter from run to run (JVM heap growth)
        "memory.peak_rss_mb": (rss_mb, "MiB"),
        "trace.overhead_s": (traced_p50 - untraced_p50, "s"),
        "trace.overhead_share": ((traced_p50 - untraced_p50) / untraced_p50,
                                 "ratio"),
        # a client call is the request itself: its root span's self time is
        # the time spent in the client outside the planner and Spark actions
        "client.self_s": (mean([own.get(r.rid, {}).get("harness", 0.0)
                                for r in traced if r.kind in CYCLE], 0.0), "s"),
        "query.plan_s": (mean_self("query"), "s"),
        "query.collect_s": (mean_self("spark"), "s"),
        "query.spark_jobs": (mean_spark("spark_jobs"), "count"),
        "query.sql_executions": (mean_spark("sql_executions"), "count"),
        "query.py4j_calls": (tracer.py4j_calls / n, "count"),
    }
    for kind in dict.fromkeys(CYCLE):
        secs = [r.seconds for r in traced if r.kind == kind]
        out[f"client.{kind}_s"] = (median(secs) if secs else 0.0, "s")
    out.update({
        "kernel.python_run_s": (mean_spark("kernel_run_s"), "s"),
        "kernel.python_init_s": (mean_spark("kernel_init_s"), "s"),
        "kernel.bytes_to_python": (mean_spark("kernel_bytes_in"), "B"),
        "kernel.rows_scored": (mean_spark("kernel_rows_in"), "count"),
        "kernel.rows_out": (mean_spark("kernel_rows_out"), "count"),
        "scan.bytes": (mean_spark("scan_bytes"), "B"),
        "scan.files": (mean_spark("scan_files"), "count"),
        "scan.rows": (mean_spark("scan_rows"), "count"),
        "scan.time_s": (mean_spark("scan_time_s"), "s"),
        "scan.tasks": (mean_spark("scan_tasks"), "count"),
        "shuffle.records": (mean_spark("shuffle_records"), "count"),
        "shuffle.bytes": (mean_spark("shuffle_bytes"), "B"),
        "topk.candidates_per_query": (
            mean_spark("kernel_rows_out") * n / queries if queries else 0.0,
            "count"),
        "stage.run_s": (mean_spark("stage_run_s"), "s"),
        "stage.cpu_s": (mean_spark("stage_cpu_s"), "s"),
        "stage.gc_s": (mean_spark("stage_gc_s"), "s"),
        "stage.parallelism": (mean_spark("stage_run_s") * n / (wall * cores()),
                              "ratio"),
    })
    # ingest rounds whose check filled in their figures: means over the
    # rounds, not over all requests; 0 in a workload without rounds
    rounds = [r for r in traced if "corpus_rows" in r.stats]
    spans = {name: tracer.durations(name) for name in
             ("ann.fit", "ann.persist", "ingest.apply_batch")}

    def mean_span(name: str) -> float:
        return mean([spans[name].get(r.rid, 0.0) for r in rounds], 0.0)

    def mean_round(key: str) -> float:
        return mean([r.stats[key] for r in rounds], 0.0)

    probe = [sp.get(r.rid, {}).get("scan_rows:ann.query", 0.0)
             / (r.queries * r.stats["corpus_rows"]) for r in rounds]

    out.update({
        "ann.fit_s": (mean_span("ann.fit"), "s"),
        "ann.assign_persist_s": (mean_span("ann.persist"), "s"),
        "ann.probe_rows_fraction": (mean(probe, 0.0), "ratio"),
        "ingest.apply_batch_s": (mean_span("ingest.apply_batch"), "s"),
        "ingest.bytes_written": (mean_round("bytes_written"), "B"),
        "ingest.files_written": (mean_round("files_written"), "count"),
        "ingest.write_amplification": (mean_round("write_amplification"),
                                       "ratio"),
        "ingest.dirty_bucket_fraction": (mean_round("dirty_bucket_fraction"),
                                         "ratio"),
    })
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "qdrant_spark", "__init__.py")):
        print("perfbench: no qdrant_spark package under the current "
              "directory; run from the repository root", file=sys.stderr)
        return 2
    # import the benchmark as a package from the root, not its modules by
    # bare name from the script directory
    sys.path[0] = ROOT
    from perfbench.common import (closed_loop, median, peak_memory_mb,
                                  run_op, start_spark, stop_spark)
    from perfbench.trace import Tracer, fetch_spark

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tracer = Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, trace=bool(args.trace))
        spark_start_s = time.perf_counter() - t0
        wl = make_workload(args.workload, spark, work, args.seed, tracer)
        datagen_s, load_s = wl.setup()
        setup_s = spark_start_s + datagen_s + load_s
        log(f"spark {spark_start_s:.2f}s, datagen {datagen_s:.2f}s, "
            f"load {load_s:.2f}s")
        t0 = time.perf_counter()
        warm = [run_op(op, "warmup", tracer)
                for _ in range(wl.warmup_cycles) for op in wl.cycle()]
        warmup_s = time.perf_counter() - t0
        log("warmup " + ", ".join(f"{r.kind} {r.seconds:.2f}s" for r in warm))

        def cycles(seconds: float) -> int:
            return max(1, round(seconds / wl.cycle_seconds))

        if args.trace:
            # first half untraced, second half traced: the difference of
            # the two request medians is the tracing overhead
            half = cycles(args.seconds / 2)
            log(f"measuring {half} untraced + {half} traced cycles")
            base = closed_loop(wl.cycle, half, tracer)
            tracer.install(spark)
            try:
                traced = closed_loop(wl.cycle, half, tracer,
                                     first_rid=len(base))
            finally:
                tracer.uninstall()
            raw = fetch_spark(spark)
            recs = base + traced
        else:
            log(f"measuring {cycles(args.seconds)} cycles")
            recs = closed_loop(wl.cycle, cycles(args.seconds), tracer)
        rss_mb = peak_memory_mb()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    kinds: dict[str, list[float]] = {}
    for r in recs:
        kinds.setdefault(r.kind, []).append(r.seconds)
    log("per-kind median seconds: " + ", ".join(
        f"{k} {median(v):.3f} (n={len(v)})" for k, v in kinds.items()))
    # warmup requests are checked too; they only stay out of the timings
    failed = [r for r in warm + recs if r.failures]
    for r in failed:
        for f in r.failures:
            print(f"FAILED CHECK {r.rid}: {f}")
    attempted = len(warm) + len(recs)
    print(f"workload {args.workload} seed {args.seed}: {attempted} requests "
          f"({len(warm)} warmup), {len(failed)} failed", flush=True)
    print(f"failed_share {len(failed) / attempted:.4f} ratio")
    if args.trace:
        setup = {"spark_start_s": spark_start_s, "datagen_s": datagen_s,
                 "load_s": load_s, "warmup_s": warmup_s}
        metrics = per_layer(setup, rss_mb, base, traced, tracer, raw)
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(
            trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"spans": tracer.spans,
                       "requests": [vars(r) for r in recs],
                       "spark": raw}, f)
        log(f"trace written to {os.path.relpath(trace_file, ROOT)}")
    else:
        metrics = end_to_end(recs, setup_s)
        print(f"setup_s {setup_s:.4f} s")
        print(f"peak_rss_mb {rss_mb:.1f} MiB")
        for name, value, unit in wl.named(recs):
            print(f"{name} {value:.6g} {unit}")
    for name, (value, unit) in metrics.items():
        print(f"  {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
