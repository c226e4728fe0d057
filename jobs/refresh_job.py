"""spark-submit entry point: continuous index refresh from a parquet
drop directory (Structured Streaming), with periodic tiered compaction.

  spark-submit --py-files dist/elasticsearch_spark.zip jobs/refresh_job.py \
    --input /data/incoming_parquet --index /data/index \
    --fields content=code --partitions 256 \
    [--trigger-seconds 5] [--compact-every 20] [--max-batches N]

The input directory is a streaming source: every new parquet file is a
micro-batch ingested as one index segment batch (streaming/refresh.py
ingest_batch — crash-safe: the batch checkpoint + idempotent segment
dirs make replay a no-op). Every ``--compact-every`` batches the job
runs the tiered compaction (compact_index) so posting blocks stay
merge-deep rather than batch-deep. ``--max-batches`` stops after N
non-empty batches (smoke runs); default runs until killed.

The session is the one spark-submit configures
(``SparkSession.builder.getOrCreate()``), not ``get_spark``: that one
forks Python workers from ``elasticsearch_spark.worker_daemon``, and a
daemon module must be importable when the daemon launches, which
``--py-files`` does not guarantee (an executor fetches the zip per
task). So the job's workers run the stock ``pyspark.daemon``.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--index", required=True)
    ap.add_argument("--fields", required=True,
                    help="comma list of col=analyzer")
    ap.add_argument("--partitions", type=int, default=8)
    ap.add_argument("--trigger-seconds", type=int, default=5)
    ap.add_argument("--compact-every", type=int, default=20)
    ap.add_argument("--max-batches", type=int, default=0)
    ap.add_argument("--schema", default=None,
                    help="DDL schema for the stream source (default: "
                    "infer from existing files in --input)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from elasticsearch_spark.streaming.refresh import (
        compact_index, ingest_batch, refresh_stream,
    )

    fields = dict(kv.split("=", 1) for kv in args.fields.split(","))
    spark = SparkSession.builder.appName("es_spark_refresh").getOrCreate()
    schema = args.schema or spark.read.parquet(args.input).schema
    stream = spark.readStream.schema(schema).parquet(args.input)

    seen = {"batches": 0}

    # wrap refresh_stream's per-batch ingest with compaction cadence
    # and the optional stop condition
    import elasticsearch_spark.streaming.refresh as _r

    orig_ingest = ingest_batch

    def counting_ingest(batch_df, index_dir, flds, nparts, batch_id):
        orig_ingest(batch_df, index_dir, flds, nparts, batch_id)
        seen["batches"] += 1
        if args.compact_every and seen["batches"] % args.compact_every == 0:
            compact_index(spark, index_dir)
        print(json.dumps({"batch_id": batch_id,
                          "batches_done": seen["batches"]}))

    _r.ingest_batch = counting_ingest
    try:
        query = refresh_stream(
            stream, args.index, fields,
            num_partitions=args.partitions,
            trigger_seconds=args.trigger_seconds,
        )
        if args.max_batches:
            import time

            while seen["batches"] < args.max_batches:
                time.sleep(0.5)
                if query.exception():
                    raise query.exception()
            query.processAllAvailable()
            query.stop()
        else:
            query.awaitTermination()
    finally:
        _r.ingest_batch = orig_ingest
    print(json.dumps({"done": True, "batches": seen["batches"]}))


if __name__ == "__main__":
    sys.exit(main())
