"""spark-submit entry point: run a query against a built index.

  spark-submit --py-files dist/elasticsearch_spark.zip jobs/search_job.py \
    --index /data/index --field content --query "parseBuffer import" \
    [--operator or] [--k 10] [--quantize] [--query-string "a AND b"]

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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--field", default="content")
    ap.add_argument("--query", default=None)
    ap.add_argument("--query-string", default=None)
    ap.add_argument("--operator", default="or")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--quantize", action="store_true",
                    help="Lucene-parity 1-byte norm quantization")
    ap.add_argument("--docs", default=None,
                    help="docs parquet (required when the query has "
                         "filter-context clauses, e.g. NOT field:value)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("es_spark_search").getOrCreate()
    from elasticsearch_spark.analysis import analyze
    from elasticsearch_spark.index.builder import index_meta, load_index
    from elasticsearch_spark.search.bm25 import BM25Params
    from elasticsearch_spark.search.executor import match_topk

    idx = load_index(spark, args.index)
    params = BM25Params(quantize_norms=args.quantize)
    if args.query_string:
        from elasticsearch_spark.search.query_string import parse_query_string
        from elasticsearch_spark.search.api import _scored_df, search
        from pyspark.sql import functions as F

        qdict = parse_query_string(args.query_string, default_field=args.field)
        if args.docs:
            docs = spark.read.parquet(args.docs)
            from elasticsearch_spark.index.builder import assign_doc_ids

            if "doc_id" not in docs.columns:
                docs = assign_doc_ids(docs, ["repo", "path", "commit"])
            out = search(idx, docs, qdict, k=args.k, params=params).select(
                "doc_id", "score"
            ).collect()
        else:
            out = (
                _scored_df(idx, qdict, params)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(args.k)
                .collect()
            )
    else:
        analyzer = index_meta(args.index)["fields"].get(args.field, "standard")
        terms = [t for t, _ in analyze(args.query, analyzer)]
        out = match_topk(
            idx, args.field, terms, k=args.k, operator=args.operator,
            params=params,
        ).collect()
    print(json.dumps({
        "hits": [{"doc_id": r["doc_id"], "score": round(r["score"], 4)} for r in out]
    }))


if __name__ == "__main__":
    main()
