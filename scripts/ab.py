"""Same-window A/B of the repository benchmark: a parent commit against
the working tree, in alternating runs.

Usage:
    python3 scripts/ab.py PARENT [--workload W ...] [--seeds N] [--trace]

Exports ``PARENT`` with ``git archive`` and the working tree (every
tracked file plus every untracked file that ``.gitignore`` does not
exclude, as ``git add -A`` would commit it) into fresh temporary
directories, so each side runs from its files only, the way the
benchmark is judged.

For each workload and each seed 1..N it runs the ``command`` of
``BENCHMARK.json`` with

    --workload W --seed N --seconds <run_seconds> --trace 0

once in the parent and once in the change; the parent goes first on odd
seeds and second on even ones, so drift in the machine's load falls on
both sides alike. It then prints one markdown row per end-to-end metric
of ``BENCHMARK.json``: median (interquartile range / median) per side,
by how much the change's median is worse (negative: better), in how many
of the N same-seed pairs the change was better, and the failed checks of
each side. Under them it prints one row per request kind from the
``per-kind median seconds`` line each run writes to stderr: the median
over the runs of each side's per-run median, so a mixed workload shows
which kind of request moved.

With ``--trace`` every run gets ``--trace 1`` instead, and the table has
one row per ``per_layer`` metric of ``BENCHMARK.json`` that either side
reported, in the same form: layer evidence from the same pairs. A traced
run times its requests under the tracer, so end-to-end claims come from
untraced runs.

Run no other Spark job while it runs: every run is timed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: one "<kind> <seconds> (n=<count>)" item of the per-kind stderr line
KIND_ITEM = re.compile(r"(\S+) ([0-9.]+) \(n=\d+\)")


def git(*args: str, **kw) -> subprocess.CompletedProcess:
    return subprocess.run(["git", "-C", REPO, *args], check=True, **kw)


def export_commit(commit: str, dest: str) -> None:
    """The committed files of ``commit`` in ``dest``."""
    os.makedirs(dest)
    archive = git("archive", "--format=tar", commit,
                  capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def export_worktree(dest: str) -> None:
    """The working tree's files as ``git add -A`` would commit them."""
    files = git("ls-files", "-z", "--cached", "--others", "--exclude-standard",
                capture_output=True).stdout.decode().split("\0")
    for rel in filter(None, files):
        src = os.path.join(REPO, rel)
        if not os.path.isfile(src):  # deleted but still in the index
            continue
        os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
        shutil.copy2(src, os.path.join(dest, rel))


def run_once(side_dir: str, bench: dict, workload: str, seed: int,
             trace: bool = False) -> dict:
    """One benchmark run: its final JSON line, or a failed record."""
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(int(trace))]
    p = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-2000:])
        return {"correct": False, "attempted": 0, "failed": 1,
                "metrics": {}, "returncode": p.returncode}
    out["returncode"] = p.returncode
    out["kinds"] = per_kind(p.stderr)
    return out


def per_kind(stderr: str) -> dict[str, float]:
    """kind -> median seconds, from a run's ``per-kind median seconds``
    line (empty when the run printed none)."""
    for line in stderr.splitlines():
        _, sep, items = line.partition("per-kind median seconds: ")
        if sep:
            return {k: float(s) for k, s in KIND_ITEM.findall(items)}
    return {}


def value(run: dict, metric: str) -> float:
    m = run["metrics"].get(metric)
    return float(m["value"]) if m is not None else math.nan


def spread(xs: list[float]) -> tuple[float, float]:
    """(median, interquartile range / median) of the finite values."""
    xs = [x for x in xs if not math.isnan(x)]
    if not xs:
        return math.nan, math.nan
    med = statistics.median(xs)
    if len(xs) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, ((q3 - q1) / med if med else math.nan)


def table(results: dict, metrics: list[dict]) -> list[str]:
    rows = ["| workload | metric | parent | change | change worse by "
            "| change better in | failed checks (parent / change) |",
            "|---|---|---|---|---|---|---|"]
    for workload, runs in results.items():
        failed = tuple(sum(r["failed"] for r in runs[side])
                       for side in ("parent", "change"))
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            a = [value(r, name) for r in runs["parent"]]
            b = [value(r, name) for r in runs["change"]]
            if all(math.isnan(x) for x in a + b):
                continue  # a metric this workload does not report
            (ma, sa), (mb, sb) = spread(a), spread(b)
            worse = ((mb - ma) if lower else (ma - mb)) / ma if ma else math.nan
            better = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
            rows.append(
                f"| {workload} | {name} | {ma:.4g} ({sa:.3f}) "
                f"| {mb:.4g} ({sb:.3f}) | {worse:+.1%} "
                f"| {better}/{len(a)} | {failed[0]} / {failed[1]} |")
    return rows


def kind_table(results: dict) -> list[str]:
    """One row per (workload, request kind): the median over each side's
    runs of the run's median seconds for that kind (lower is better)."""
    rows = ["| workload | kind | parent s | change s | change worse by "
            "| change better in |",
            "|---|---|---|---|---|---|"]
    for workload, runs in results.items():
        kinds = sorted({k for side in runs.values() for r in side
                        for k in r.get("kinds", {})})
        for kind in kinds:
            a, b = ([r.get("kinds", {}).get(kind, math.nan)
                     for r in runs[side]] for side in ("parent", "change"))
            ma, mb = spread(a)[0], spread(b)[0]
            worse = (mb - ma) / ma if ma else math.nan
            better = sum(y < x for x, y in zip(a, b))
            rows.append(f"| {workload} | {kind} | {ma:.4g} | {mb:.4g} "
                        f"| {worse:+.1%} | {better}/{len(a)} |")
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="parent commit (any git revision)")
    ap.add_argument("--workload", action="append",
                    help="workload name, repeatable (default: all in "
                         "BENCHMARK.json)")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--trace", action="store_true",
                    help="traced runs; one row per per_layer metric")
    args = ap.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    work = tempfile.mkdtemp(prefix="ab-")
    dirs = {"parent": os.path.join(work, "parent"),
            "change": os.path.join(work, "change")}
    try:
        export_commit(args.parent, dirs["parent"])
        export_worktree(dirs["change"])
        results = run_pairs(dirs, bench, workloads, args.seeds, args.trace)
    finally:
        shutil.rmtree(work)
    metrics = bench["per_layer"] if args.trace else bench["end_to_end"]
    print("\n".join(table(results, metrics)))
    print()
    print("\n".join(kind_table(results)))
    return 0


def run_pairs(dirs: dict, bench: dict, workloads: list[str],
              seeds: int, trace: bool = False) -> dict:
    """workload -> side -> the runs of seeds 1..N, alternating sides."""
    shown = [] if trace else bench["end_to_end"]  # on the progress line
    results: dict = {}
    for workload in workloads:
        runs = results.setdefault(workload, {"parent": [], "change": []})
        for seed in range(1, seeds + 1):
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            for side in order:
                r = run_once(dirs[side], bench, workload, seed, trace)
                runs[side].append(r)
                print(f"[ab] {workload} seed {seed} {side}: "
                      + "".join(f"{m['name']}={value(r, m['name']):.4g}, "
                                for m in shown)
                      + f"failed={r['failed']}", file=sys.stderr,
                      flush=True)
    return results


if __name__ == "__main__":
    sys.exit(main())
