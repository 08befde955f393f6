#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1: measure first).

NOT the driver bench — bench.py stays frozen. This tool:

- times each declared query with the noop sink (guide §1.4), N repeats,
  reporting min/median per query (single-box walls vary 2x+);
- captures `.explain("formatted")` for each query into plans/<tag>/;
- labels every job (guide §1.5) so the UI/eventlog is attributable;
- optionally times the full run_job pipeline (the bench headline) with a
  chosen topology.

Usage:
  python bench_extra.py                      # all queries, 1 repeat
  python bench_extra.py -r 3 minhash_dedup dedup_clusters
  python bench_extra.py --plans plans/r06 --suffix _before
  python bench_extra.py --pipeline 2000000   # headline pipeline only

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from addax_spark import api  # noqa: E402
from addax_spark.session import DEFAULT_SF_DIR, cpu_count, get_spark  # noqa: E402


def consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="subset of query names (default: all)")
    ap.add_argument("-r", "--repeats", type=int, default=1)
    ap.add_argument("--plans", default=None, help="dir to write explain('formatted') files")
    ap.add_argument("--suffix", default="", help="suffix for plan files (_before/_after)")
    ap.add_argument("--pipeline", type=int, default=0,
                    help="time run_job at ~N synthetic turns instead of queries")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    cores = cpu_count()
    spark = get_spark("bench_extra", cores=cores, shuffle_partitions=2 * cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext

    if args.pipeline:
        import tempfile

        from addax_spark import synth
        from addax_spark.job import RollupJobSpec, run as run_job

        work = tempfile.mkdtemp(prefix="addax_bx_")
        raw = f"{work}/transcripts.parquet"
        avg = 100
        n_convs = max(200, int(args.pipeline / (avg * 1.42)))
        synth.transcripts(spark, n_convs=n_convs, avg_turns=avg).write.mode(
            "overwrite").parquet(raw)
        # warm-up exactly like bench.py
        synth.transcripts(spark, n_convs=50, avg_turns=20).write.mode("overwrite").parquet(
            f"{work}/warm.parquet")
        run_job(spark, RollupJobSpec(f"{work}/warm.parquet", f"{work}/warm_out", job_id="warm"))
        walls = []
        for i in range(args.repeats):
            sc.setJobDescription(f"pipeline rep{i}")
            t0 = time.time()
            s = run_job(spark, RollupJobSpec(raw, f"{work}/out{i}", job_id=f"bx{i}"))
            walls.append(round(time.time() - t0, 3))
            print(json.dumps({"rep": i, "wall": walls[-1], "phases": s.get("phases")}),
                  flush=True)
        print(json.dumps({"pipeline_walls": walls, "min": min(walls), "turns": args.pipeline}))
        import shutil

        shutil.rmtree(work, ignore_errors=True)
        return

    # untimed serving build, as bench.py does
    api._serving_output(spark, sf_dir)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = args.queries or list(qs)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    results: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(args.repeats):
        for name in names:
            sc.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            consume(qs[name](spark, sf_dir))
            results[name].append(round(time.time() - t0, 3))
        sc.setJobDescription(None)

    if args.plans:
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(plan)

    out = {
        n: {"min": min(v), "med": round(statistics.median(v), 3), "all": v}
        for n, v in results.items()
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
