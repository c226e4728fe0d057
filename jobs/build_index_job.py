"""spark-submit entry point: build (or resume) an inverted index.

  spark-submit --py-files dist/elasticsearch_spark.zip \
    jobs/build_index_job.py \
    --input /data/corpus_parquet --output /data/index \
    --fields content=code,path=ascii_word --id-cols repo,path,commit \
    --partitions 256 [--resume] [--snapshot v1]

On a cluster, --partitions is the shard count: size it so one
partition's postings fit an executor task (the ES shard-sizing rule).
The job is idempotent per partition — rerunning with --resume skips
completed partitions via the checkpoint manifests.

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
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir of docs")
    ap.add_argument("--output", required=True, help="index output dir")
    ap.add_argument("--fields", default="content=code",
                    help="col=analyzer[,col=analyzer...]")
    ap.add_argument("--id-cols", default=None,
                    help="columns forming the natural doc key")
    ap.add_argument("--partitions", type=int, default=8)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--snapshot", default="")
    ap.add_argument("--verify-sha256", action="store_true",
                    help="enforce the per-row invariant: a `sha256` "
                         "column must equal sha2(<first field col>, 256) "
                         "for EVERY row; the job aborts on any mismatch")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("es_spark_build_index").getOrCreate()
    from elasticsearch_spark.index.builder import build_index

    fields = dict(kv.split("=", 1) for kv in args.fields.split(","))
    docs = spark.read.parquet(args.input)
    sha_checked = None
    if args.verify_sha256:
        from pyspark.sql import functions as F

        content_col = next(iter(fields))
        if "sha256" not in docs.columns:
            raise SystemExit("--verify-sha256: input has no `sha256` column")
        mismatches = docs.filter(
            F.sha2(F.col(content_col), 256) != F.col("sha256")
        ).count()
        if mismatches:
            raise SystemExit(
                f"sha256 invariant violated on {mismatches} rows — aborting"
            )
        sha_checked = True
    t0 = time.time()
    idx = build_index(
        docs,
        args.output,
        fields=fields,
        num_partitions=args.partitions,
        id_cols=args.id_cols.split(",") if args.id_cols else None,
        resume=args.resume,
        input_snapshot=args.snapshot,
    )
    wall = time.time() - t0
    manifests = idx.manifests()
    total_docs = sum(m.get("num_docs", 0) for m in manifests)
    print(json.dumps({
        "status": "ok",
        "wall_sec": round(wall, 2),
        "partitions": len(manifests),
        "docs": total_docs,
        "docs_per_sec": round(total_docs / wall, 1) if wall else None,
        "sha256_verified": sha_checked,
    }))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
