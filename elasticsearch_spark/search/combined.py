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
numpy kernel for pure Catalyst ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from elasticsearch_spark.index.builder import InvertedIndex
from elasticsearch_spark.search.bm25 import BM25Params
from elasticsearch_spark.search.executor import _no_hits, decoded_postings


def combined_fields_topk(
    index: InvertedIndex,
    field_weights: dict[str, float],
    terms: list[str],
    k: int = 10,
    params: BM25Params | None = None,
) -> DataFrame:
    """Top-k BM25F over weighted fields. quantize_norms is not applied
    (combined lengths are synthetic; reference operates pre-quantization
    on the same principle)."""
    params = params or BM25Params()
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


def cross_fields_topk(
    index: InvertedIndex,
    fields: list[str],
    terms: list[str],
    k: int | None = 10,
    tie_breaker: float = 0.0,
    params: BM25Params | None = None,
) -> DataFrame:
    """multi_match type=cross_fields (MultiMatchQueryBuilder.java:783,
    MultiMatchQueryParser cross-fields grouping): per query TERM the
    fields form one BlendedTermQuery — document frequency is BLENDED to
    the MAX df across the fields (so a term common in `title` but rare
    in `body` is not over-rewarded in body) — and the per-field scores
    for that term combine as dismax + tie_breaker; terms then sum like
    bool-OR clauses.

    Relational plan: the per-field posting rows of the query terms are
    tiny (pushed-down block scan + decode), so this stays in Catalyst:
    union -> per-(doc,term) max/sum -> per-doc sum."""
    params = params or BM25Params()
    seen: set[str] = set()
    terms = [t for t in terms if not (t in seen or seen.add(t))]
    coll = index.collection_stats()
    n_docs = max(coll[f]["n_docs"] for f in fields)

    # blended df = max over fields (BlendedTermQuery.adjustDF)
    df_blend: dict[str, int] = {}
    for f in fields:
        for r in index.term_stats(f, terms):
            df_blend[r["term"]] = max(df_blend.get(r["term"], 0), int(r["df"]))
    if not df_blend:
        return _no_hits(index.spark)
    import math

    idf_map = {
        t: math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5))
        for t, d in df_blend.items()
    }
    live_terms = list(idf_map)
    idf_col = F.create_map(
        *[x for t in live_terms for x in (F.lit(t), F.lit(idf_map[t]))]
    )

    k1, b = params.k1, params.b
    per_field = []
    for f in fields:
        avgdl_f = coll[f]["avgdl"]
        rows = decoded_postings(index, f, live_terms).select(
            "doc_id", "term",
            (
                F.lit(k1 + 1.0) * idf_col[F.col("term")] * F.col("tf")
                / (F.col("tf") + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.lit(avgdl_f)))
            ).alias("s"),
        )
        per_field.append(rows)
    u = per_field[0]
    for d in per_field[1:]:
        u = u.unionByName(d)
    per_term = u.groupBy("doc_id", "term").agg(
        F.max("s").alias("best"), F.sum("s").alias("total")
    )
    term_score = F.col("best") + F.lit(float(tie_breaker)) * (
        F.col("total") - F.col("best")
    )
    scored = per_term.groupBy("doc_id").agg(
        F.sum(term_score).alias("score"), F.count("*").alias("matched")
    )
    if k is None:
        return scored
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
