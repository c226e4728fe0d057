"""combined_fields query — BM25F-style multi-field scoring.

Reference: index/query/CombinedFieldsQueryBuilder.java:51,398
(XCombinedFieldQuery): the fields are treated as ONE synthetic field —
per-doc term frequency is the weighted sum of per-field tfs, field
length is the weighted sum of per-field lengths, and collection
statistics are merged (df = docs containing the term in ANY field,
sum_ttf = sum of weighted per-field totals) — then scored with plain
BM25 once.

Expressed relationally (decoded postings join + groupBy): the per-field
posting lists for the query terms are tiny, so this path trades the
numpy kernel for pure Catalyst ops. Its df counts docs holding the
term in ANY field, which a per-shard kernel cannot see without a
shard-level DFS pass first, so it stays off the posting-scan skeleton.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from elasticsearch_spark.index.builder import InvertedIndex
from elasticsearch_spark.search.bm25 import BM25Params
from elasticsearch_spark.search.executor import _bm25_only, decoded_postings


def combined_fields_topk(
    index: InvertedIndex,
    field_weights: dict[str, float],
    terms: list[str],
    k: int = 10,
    params: BM25Params | None = None,
) -> DataFrame:
    """Top-k BM25F over weighted fields. quantize_norms is not applied
    (combined lengths are synthetic; reference operates pre-quantization
    on the same principle). BM25 similarity only: another one raises
    ValueError."""
    params = params or BM25Params()
    _bm25_only(params, "combined_fields_topk")
    seen: set[str] = set()
    terms = [t for t in terms if not (t in seen or seen.add(t))]
    coll = index.collection_stats()
    n_docs = max(coll[f]["n_docs"] for f in field_weights)
    avgdl = sum(
        w * coll[f]["sum_ttf"] for f, w in field_weights.items()
    ) / n_docs

    per_field = []
    for f, w in field_weights.items():
        rows = decoded_postings(index, f, terms).select(
            "doc_id", "term",
            (F.col("tf") * F.lit(float(w))).alias("wtf"),
            (F.col("dl") * F.lit(float(w))).alias("wdl_part"),
        )
        per_field.append(rows)
    u = per_field[0]
    for d in per_field[1:]:
        u = u.unionByName(d)

    # combined per-doc length = sum over ALL fields of w_f * dl_f — the
    # doc_lengths sidecar (build_index(store_doc_lengths=True)) supplies
    # every field's length even where no query term matched
    wdl = None
    for f, w in field_weights.items():
        part = (
            index.doc_lengths.filter(F.col("field") == f)
            .select("doc_id", (F.col("dl") * F.lit(float(w))).alias("wdl"))
        )
        wdl = part if wdl is None else wdl.unionByName(part)
    doc_dl = wdl.groupBy("doc_id").agg(F.sum("wdl").alias("dl"))

    tf = u.groupBy("doc_id", "term").agg(F.sum("wtf").alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))

    k1, b = params.k1, params.b
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .join(doc_dl, "doc_id")
        .withColumn(
            "idf",
            F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "contrib",
            (F.lit(k1 + 1.0) * F.col("idf") * F.col("tf"))
            / (F.col("tf") + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.lit(avgdl))),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"), F.count("*").alias("matched"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
