#!/usr/bin/env python
"""spark-submit entrypoint for the parse→enrich→route→aggregate job.

Usage (cluster):
    zip -r elb_pipeline.zip elb_pipeline
    spark-submit --py-files elb_pipeline.zip run_pipeline.py \
        --input  <parquet path | table name with --table> \
        --output <dir> [--mode skip|strict|strict-fast] [--groups 8] [--no-resume]

Usage (local smoke, synthesized input):
    python run_pipeline.py --synth-rows 100000 --output /tmp/elb_out
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="transcripts parquet path")
    p.add_argument("--table", help="transcripts table name (e.g. Iceberg)")
    p.add_argument("--synth-rows", type=int, help="synthesize N transcript rows")
    p.add_argument("--output", required=True)
    p.add_argument(
        "--mode", choices=["skip", "strict", "strict-fast"], default="skip"
    )
    p.add_argument("--groups", type=int, default=8)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument(
        "--ndjson",
        action="store_true",
        help="also export raw NDJSON text per valid sink (the reference "
        "CLI's stdout artifact) under <output>/ndjson/",
    )
    p.add_argument(
        "--ndjson-ordered",
        action="store_true",
        help="also export ONE NDJSON file totally ordered by "
        "(conv_id, turn_idx) — the reference stdin mode's input-order "
        "observable (main.rs:89-101) — under <output>/ndjson_ordered/",
    )
    args = p.parse_args(argv)

    from elb_pipeline.job import run_job
    from elb_pipeline.session import get_spark

    spark = get_spark(app="elb_pipeline_job")
    try:
        if args.table:
            from elb_pipeline.sources import read_transcripts_table

            transcripts = read_transcripts_table(spark, args.table)
        elif args.input:
            transcripts = spark.read.parquet(args.input)
        elif args.synth_rows:
            from elb_pipeline.synth import synth_transcripts

            transcripts = synth_transcripts(spark, args.synth_rows)
        else:
            p.error("one of --input / --table / --synth-rows is required")

        result = run_job(
            spark,
            transcripts,
            args.output,
            mode=args.mode,
            n_groups=args.groups,
            resume=not args.no_resume,
        )
        payload = {
            "groups_run": result.groups_run,
            "groups_skipped": result.groups_skipped,
            "sink_counts": result.sink_counts,
            "wall_seconds": round(result.wall_seconds, 3),
        }
        if args.ndjson:
            from elb_pipeline.job import export_ndjson

            payload["ndjson"] = export_ndjson(spark, args.output)
        if args.ndjson_ordered:
            from elb_pipeline.job import export_ndjson_ordered

            payload["ndjson_ordered"] = export_ndjson_ordered(spark, args.output)
        print(json.dumps(payload))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
