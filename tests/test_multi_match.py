"""multi_match as one scored leaf: scores per similarity, phrase slop,
and the fetch phase's ordering."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.search.bm25 import BM25Params

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index(spark):
    import __spark_entry__ as e

    return e._doc_index(spark, SF)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _cross_fields_terms(index, fields, terms, similarity):
    """cross_fields in plain Python from decoded postings: ``{(doc,
    term): [one score per field holding it]}`` with the df blended to
    its max over the fields and N the largest field doc count."""
    from elasticsearch_spark.search.executor import decoded_postings

    coll = index.collection_stats()
    n = max(coll[f]["n_docs"] for f in fields)
    rows = {f: decoded_postings(index, f, terms).collect() for f in fields}
    df = {t: max(sum(r["term"] == t for r in rows[f]) for f in fields)
          for t in terms}
    per: dict = {}
    for f in fields:
        for r in rows[f]:
            if similarity == "classic":
                idf = (1.0 + math.log(n / (df[r["term"]] + 1.0))) ** 2
                s = idf * math.sqrt(r["tf"]) / math.sqrt(max(r["dl"], 1))
            else:
                s = 1.0
            per.setdefault((r["doc_id"], r["term"]), []).append(s)
    return per


@pytest.mark.parametrize("similarity", ["classic", "boolean"])
def test_multi_field_scorers_follow_similarity(index, docs, similarity):
    """cross_fields takes its weights from the selected similarity
    (under boolean at tie 0 a doc scores the number of distinct query
    terms it matches in any field); combined_fields, whose BM25F
    formula is BM25's, refuses another similarity."""
    from elasticsearch_spark.search.api import search
    from elasticsearch_spark.search.combined import combined_fields_topk
    from elasticsearch_spark.search.executor import multi_match_topk

    p = BM25Params(quantize_norms=False, similarity=similarity)
    fields, terms = ["text", "source"], ["src5", "table", "scan"]
    per = _cross_fields_terms(index, fields, terms, similarity)
    for tie in (0.3, 0.0):
        got = {r["doc_id"]: r["score"] for r in multi_match_topk(
            index, {f: terms for f in fields}, "cross_fields", k=None,
            tie_breaker=tie, params=p).collect()}
        want: dict = {}
        for (d, _), ss in per.items():
            want[d] = want.get(d, 0.0) + max(ss) + tie * (sum(ss) - max(ss))
        assert got.keys() == want.keys() and got
        for d, s in want.items():
            assert got[d] == pytest.approx(s, rel=1e-9), d
    if similarity == "boolean":
        # tie 0: one point per distinct query term matched in any field
        for d, s in got.items():
            assert s == sum(dd == d for dd, _ in per), d
    hits = search(index, docs, {"multi_match": {
        "query": "src5 table scan", "fields": fields,
        "type": "cross_fields"}}, k=10, params=p).collect()
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [r["doc_id"] for r in hits] == [d for d, _ in top]
    with pytest.raises(ValueError, match=similarity):
        combined_fields_topk(index, {"text": 1.0, "source": 2.0},
                             ["table", "src5"], params=p)


def test_multi_match_phrase_passes_slop(index, docs):
    """type phrase with ``slop`` scores each field's sloppy phrase and
    keeps a doc's best field."""
    from elasticsearch_spark.search.api import search
    from elasticsearch_spark.search.executor import phrase_topk

    p = BM25Params(quantize_norms=False)
    fields = ["text", "all_text"]
    best: dict = {}
    for f in fields:
        for r in phrase_topk(index, f, ["table", "scan"], k=None, params=p,
                             slop=1).collect():
            best[r["doc_id"]] = max(best.get(r["doc_id"], 0.0), r["score"])
    want = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = search(index, docs, {"multi_match": {
        "query": "table scan", "fields": fields, "type": "phrase",
        "slop": 1}}, k=10, params=p).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
        [(d, round(s, 9)) for d, s in want]
    # the slop matters here: an exact phrase scores differently
    exact = search(index, docs, {"multi_match": {
        "query": "table scan", "fields": fields, "type": "phrase"}},
        k=10, params=p).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in exact] != \
        [(r["doc_id"], round(r["score"], 9)) for r in got]


def test_fetch_orders_without_range_exchange(spark, index, docs):
    """The fetch phase orders its hits in one partition: no range
    exchange, and the same rows as a global sort, also when ``docs``
    holds a duplicated id."""
    from elasticsearch_spark.search.api import search
    from elasticsearch_spark.search.executor import fetch, match_topk

    q = {"bool": {"must": [{"match": {"text": "table scan"}}],
                  "filter": [{"term": {"lang": "en"}}]}}
    out = search(index, docs, q, k=10)
    rows = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan[:3000]
    assert len(rows) == 10

    topk = match_topk(index, "text", ["table", "scan"], k=10)
    dup = docs.unionByName(
        docs.filter(F.col("doc_id") == topk.first()["doc_id"]))
    for frame in (docs, dup):
        want = frame.join(F.broadcast(topk), "doc_id").orderBy(
            F.desc("score"), F.asc("doc_id")).collect()
        got = fetch(topk, frame).collect()
        assert got == want
    assert len(fetch(topk, dup).collect()) == 11


@pytest.mark.parametrize("tie", [0.0, 0.3])
def test_cross_fields_groups_fields_by_analyzer(index, docs, tie):
    """cross_fields over fields with different analyzers analyzes the
    query per analyzer and combines the groups as a dis_max (reference
    MultiMatchQueryParser.buildCrossFieldQuery): over ``text``
    (ascii_word) and ``text_en`` (english_light, which indexes
    ``window``), each group is one field, so the query scores exactly as
    the dis_max of the two fields' plain matches with the same tie."""
    from elasticsearch_spark.search.api import _scored_df, search

    params = BM25Params(quantize_norms=False)
    text = "windows filtering"
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in search(index, docs, {"multi_match": {
            "query": text, "fields": ["text", "text_en"],
            "type": "cross_fields", "tie_breaker": tie}}, k=10,
            params=params).collect()
    ]
    want = [
        (r["doc_id"], round(r["score"], 6))
        for r in _scored_df(index, {"dis_max": {"tie_breaker": tie, "queries": [
            {"match": {"text": text}}, {"match": {"text_en": text}}]}},
            params).orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
        .collect()
    ]
    assert got and got == want
