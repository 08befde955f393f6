#!/usr/bin/env python3
"""Benchmark of the addax_spark pipeline: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Workloads (see README.md in this
directory): ingest_bulk, daily_increments.

With ``--trace 0`` the last line of stdout is one JSON object with the
end-to-end metrics; with ``--trace 1`` the same run is repeated with spans
and Spark's event log on and the JSON carries the per-layer metrics instead
(the span list is kept in ``.perfbench_out/``). Earlier lines list every
metric by name and unit, for people.

All scratch lives in ``.perfbench_tmp/run-<pid>`` under the checkout and is
deleted when the run ends; the JVM and its Python workers are stopped and
waited for before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_bulk", "daily_increments")
#: driver heap: room for the session on a 15 GB host shared with others
DRIVER_MEM = "2g"


def configure_env(work: str, cores: int) -> None:
    """Everything the session, the JVM and the Python workers need, set
    before pyspark is imported."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_EXTERNAL_MASTER", None)


def report(metrics: dict, extra: list[str]) -> None:
    for name, (value, unit) in metrics.items():
        print(f"{name:48s} {value:>16.6g} {unit}")
    for line in extra:
        print(line)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "addax_spark", "job.py")):
        print(f"perfbench: no addax_spark sources under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    configure_env(work, cores)
    sys.path.insert(0, ROOT)

    from procs import TreeRss, stop_processes  # noqa: E402 — needs the environment above
    from workloads import Bench  # noqa: E402

    rss = TreeRss()
    rss.start()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work,
                  os.path.join(ROOT, ".perfbench_out"), cores)
    t_start = time.time()
    try:
        metrics = bench.run(rss)
    finally:
        t_run = time.time()
        bench.stop()
        rss.stop()
        stop_processes()
        print(f"perfbench: run {t_run - t_start:.1f}s, shutdown {time.time() - t_run:.1f}s",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    correct = not bench.mismatches
    for m in bench.mismatches:
        print(f"MISMATCH {m}", file=sys.stderr)
    extra = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds} cores={cores}",
        f"ops attempted={bench.attempted} failed={bench.failed} "
        f"ops_failed_ratio={bench.failed / max(1, bench.attempted):.6g}",
        f"samples: ingest={len(bench.s['ingest'])} increment={len(bench.s['increment'])} "
        f"query={len(bench.s['query'])}",
        "tail percentiles: " + " ".join(f"{k}=p{v:.1f}" for k, v in bench.tail_pcts.items()),
        f"host steal during the window: {bench.steal_share:.1%} of CPU time",
    ]
    if args.trace:
        extra.append("tracing overhead = traced minus untraced end-to-end result (trace.overhead.*)")
    report(metrics, extra)
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
