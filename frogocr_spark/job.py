"""spark-submit entrypoint for the extraction pipeline.

Cluster usage (multi-executor):

    zip -r frogocr_spark.zip frogocr_spark
    spark-submit --py-files frogocr_spark.zip \\
        frogocr_spark/job.py \\
        --input  <transcripts parquet/iceberg path> \\
        --output <output table root> \\
        --run-id r1 [--partitions 2048] [--salt-buckets N] [--no-resume]

Local smoke (also what bench.py measures):

    python -m frogocr_spark.job --generate-convs 1000 --output /tmp/out

Spark's event log is Spark's own setting, which the session leaves
alone: ``spark-submit --conf spark.eventLog.enabled=true --conf
spark.eventLog.dir=<dir>`` (add ``--conf spark.eventLog.compress=false``
for plain JSON lines), or the same ``--conf`` flags followed by
``pyspark-shell`` in ``PYSPARK_SUBMIT_ARGS`` for ``python -m``.

The pipeline itself is in plans.pipeline — this module is only argument
parsing + session setup, so the same code path runs under spark-submit on
a real cluster and under pytest locally (the reference's equivalent is the
``frog process`` CLI dispatcher — /root/reference/Source/Application.cpp:410-491).
"""

from __future__ import annotations

import argparse
import json

# absolute imports: spark-submit executes this file as a top-level script
# (no parent package); the package itself ships via --py-files
from frogocr_spark.operators.skew import DEFAULT_SALT_BUCKETS
from frogocr_spark.plans.pipeline import PipelineConfig, run_extraction
from frogocr_spark.session import get_spark
from frogocr_spark.sources import transcripts
from frogocr_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="frogocr_spark extraction job")
    p.add_argument("--input", help="transcripts table path (parquet)")
    p.add_argument("--generate-convs", type=int, default=0,
                   help="generate a synthetic transcripts table instead of "
                        "--input (deterministic, seed-stable)")
    p.add_argument("--skew-conv-turns", type=int, default=0)
    p.add_argument("--output", required=True, help="output table root")
    p.add_argument("--run-id", default="r1",
                   help="commit id of the output and its sidecar; a "
                        "rerun of a committed id raises if the input has "
                        "new turns, so give new input a new id")
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--salt-buckets", type=int, default=DEFAULT_SALT_BUCKETS)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--bucketed-table", default=None,
                   help="write output to a conv_id-bucketed session table "
                        "of this name (storage-partitioned resume "
                        "anti-join — the 10^12-row layout)")
    p.add_argument("--buckets", type=int, default=PipelineConfig.buckets)
    p.add_argument("--cores", type=int, default=None,
                   help="local[] cores; ignored under a real cluster master")
    args = p.parse_args(argv)

    spark = get_spark(app_name="frogocr-extract", cores=args.cores)
    try:
        if args.generate_convs:
            tdf = transcripts.generate(spark, args.generate_convs,
                                       args.skew_conv_turns)
        elif args.input:
            tdf = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(args.input)
        else:
            p.error("one of --input / --generate-convs is required")
        cfg = PipelineConfig(output_dir=args.output, run_id=args.run_id,
                             num_partitions=args.partitions,
                             salt_buckets=args.salt_buckets,
                             resume=not args.no_resume,
                             bucketed_table=args.bucketed_table,
                             buckets=args.buckets)
        stats = run_extraction(spark, tdf, cfg)
        print(json.dumps({"run_id": args.run_id, **stats}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
