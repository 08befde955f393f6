#!/usr/bin/env python
"""spark-submit entry point for the rollup pipeline (``job.run``):

    zip -r rollup.zip addax_spark
    spark-submit --master <cluster> --py-files rollup.zip \
        scripts/run_job.py --input <transcripts> --output <root> \
        [--job-id my-job]

Writes every tier (1m/5m/1h/1d) and the one-day Gorilla chunks, and prints
the job's metrics summary as one JSON line.

The session builder only sets SQL conf when a master is supplied externally
(SPARK_GRAFT_EXTERNAL_MASTER=1 or spark-submit), so the same script runs
local[] or on a cluster. Reruns with the same --job-id resume from the
manifest (completed day units are skipped).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--job-id", default="")
    args = ap.parse_args()

    from addax_spark.job import RollupJobSpec, run
    from addax_spark.session import get_spark

    spark = get_spark("addax_spark_job")
    spec = RollupJobSpec(
        input_path=args.input,
        output_root=args.output,
        job_id=args.job_id,
    )
    summary = run(spark, spec)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
