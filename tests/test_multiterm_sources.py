"""Multi-term rewrites on the indexed field, completion suggest,
versioned-table snapshots (PIT/time-travel shim)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.search.executor import (
    completion_suggest,
    expand_terms,
    multi_term_topk,
)
from elasticsearch_spark.sources.catalog import (
    VersionedTable,
    open_point_in_time,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def index(spark, docs):
    import __spark_entry__ as e

    return e._doc_index(spark, SF)


def test_expand_terms_kinds(index):
    assert "table" in expand_terms(index, "text", "prefix", "tab")
    assert expand_terms(index, "text", "wildcard", "s?an") == ["scan"]
    assert "scan" in expand_terms(index, "text", "regexp", "sc.n|stream")
    assert expand_terms(index, "text", "fuzzy", "tabel") == ["table"]
    assert expand_terms(index, "text", "prefix", "zzzz") == []


def test_multi_term_constant_score(index, docs):
    out = multi_term_topk(index, "text", "prefix", "tab", k=None).collect()
    want = docs.filter(
        F.exists(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"),
            lambda t: t.startswith("tab"),
        )
    ).count()
    assert len(out) == want
    assert all(r["score"] == 1.0 for r in out)


def test_multi_term_boost_and_k(index):
    out = multi_term_topk(index, "text", "fuzzy", "tabel", k=5, boost=2.5).collect()
    assert len(out) == 5
    assert all(r["score"] == 2.5 for r in out)
    ids = [r["doc_id"] for r in out]
    assert ids == sorted(ids)


def test_completion_suggest(index):
    out = completion_suggest(index, "text", "s", size=3).collect()
    assert 0 < len(out) <= 3
    dfs = [r["df"] for r in out]
    assert dfs == sorted(dfs, reverse=True)
    assert all(r["term"].startswith("s") for r in out)


def test_versioned_table_snapshots(spark, docs, tmp_path):
    t = VersionedTable(str(tmp_path / "vt"))
    v1 = t.write(docs.limit(100), mode="append")
    pit = open_point_in_time(t)
    assert pit == v1
    t.write(docs.filter(F.col("doc_id") >= 100).limit(50), mode="append")

    assert t.read(spark).count() == 150          # latest sees both
    assert t.read(spark, version=pit).count() == 100  # PIT is stable

    v3 = t.write(docs.limit(10), mode="overwrite")
    assert t.read(spark).count() == 10
    assert t.read(spark, version=v3).count() == 10
    assert t.read(spark, version=v1).count() == 100  # time travel intact


def test_versioned_table_as_of(spark, docs, tmp_path):
    t = VersionedTable(str(tmp_path / "vt2"))
    t.write(docs.limit(20))
    mark = time.time()
    time.sleep(0.01)
    t.write(docs.limit(30))
    assert t.read(spark, as_of=mark).count() == 20
    assert t.read(spark).count() == 50


def test_intervals_ordered_vs_unordered(index):
    from elasticsearch_spark.search.executor import intervals_match

    o = {r["doc_id"] for r in intervals_match(
        index, "text", ["key", "order"], max_gaps=2, ordered=True, k=None
    ).collect()}
    u = {r["doc_id"] for r in intervals_match(
        index, "text", ["key", "order"], max_gaps=2, ordered=False, k=None
    ).collect()}
    assert o <= u  # unordered is a superset
    zero = {r["doc_id"] for r in intervals_match(
        index, "text", ["key", "order"], max_gaps=0, ordered=True, k=None
    ).collect()}
    assert zero <= o  # adjacency is the tightest


def test_intervals_matches_phrase_at_zero_gaps(index):
    from elasticsearch_spark.search.bm25 import BM25Params
    from elasticsearch_spark.search.executor import intervals_match, phrase_topk

    ph = {r["doc_id"] for r in phrase_topk(
        index, "text", ["key", "order"], k=None,
        params=BM25Params(quantize_norms=False),
    ).collect()}
    iv = {r["doc_id"] for r in intervals_match(
        index, "text", ["key", "order"], max_gaps=0, ordered=True, k=None
    ).collect()}
    assert ph == iv


def test_intervals_repeated_term_needs_two_occurrences(index):
    """An interval of a repeated term takes one occurrence per position,
    as spans do: an unordered ["table", "table"] interval matches only
    docs with "table" twice, the same docs as the ordered one and as the
    span_near it compiles to (a doc with one "table" does not match)."""
    from elasticsearch_spark.search.executor import (
        decoded_postings, intervals_match)
    from elasticsearch_spark.search.spans import span_match

    tf = {r["doc_id"]: r["tf"]
          for r in decoded_postings(index, "text", ["table"]).collect()}
    twice = {d for d, n in tf.items() if n >= 2}
    assert twice and len(twice) < len(tf)
    for ordered in (False, True):
        got = {r["doc_id"] for r in intervals_match(
            index, "text", ["table", "table"], max_gaps=50,
            ordered=ordered, k=None).collect()}
        near = {r["doc_id"] for r in span_match(index, "text", {"span_near": {
            "clauses": [{"span_term": {"text": "table"}}] * 2,
            "slop": 50, "in_order": ordered}}, k=None).collect()}
        assert got == near and got <= twice and got, ordered


def test_index_stats(index):
    from elasticsearch_spark.search.extras import index_stats

    s = index_stats(index)
    assert s["partitions"] == 8
    assert s["docs"] > 0 and s["terms"] > 0 and s["postings"] >= s["terms"]
    assert "text" in s["fields"] and "source" in s["fields"]
    assert all(v >= 1 for v in s["segments_per_partition"].values())


def test_completion_geo_contexts(spark):
    """GeoContextMapping: query cell + neighbours filter candidates;
    boost multiplies weight; cells computed identically driver-side
    (geo_query_cells) and doc-side (index_geo_contexts)."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.search.completion import (
        completion_suggest_geo, geo_query_cells, index_geo_contexts)

    rows = [
        ("seattle coffee", 10, 47.6, -122.3),
        ("seattle rain", 8, 47.61, -122.33),     # same/neighbour cell
        ("sydney opera", 50, -33.86, 151.2),     # far away
        ("nothing", 99, 47.6, -122.3),           # wrong prefix
    ]
    df = spark.createDataFrame(
        rows, "suggestion string, weight long, lat double, lon double"
    ).withColumn("geo_contexts", index_geo_contexts("lat", "lon", 4))
    out = completion_suggest_geo(
        df, "se", lat=47.6, lon=-122.3, precision=4, boost=3.0)
    got = {r["suggestion"]: r["score"] for r in out.collect()}
    assert got == {"seattle coffee": 30.0, "seattle rain": 24.0}

    # neighbour expansion: 9 cells inland, fewer at the pole
    assert len(geo_query_cells(0.0, 0.0, 4)) == 9
    assert len(geo_query_cells(89.99, 0.0, 4)) == 6
    # determinism vs the Catalyst encoder
    enc = df.select(F.element_at("geo_contexts", 1).alias("c"),
                    "lat", "lon").collect()
    for r in enc:
        assert geo_query_cells(r["lat"], r["lon"], 4,
                               neighbours=False) == [r["c"]]


def test_fuzzy_prefix_length(index):
    """prefix_length restricts fuzzy candidates to a shared prefix."""
    loose = set(expand_terms(index, "text", "fuzzy", "table",
                             fuzziness=2, prefix_length=0))
    p1 = set(expand_terms(index, "text", "fuzzy", "table",
                          fuzziness=2, prefix_length=1))
    p3 = set(expand_terms(index, "text", "fuzzy", "table",
                          fuzziness=2, prefix_length=3))
    assert p3 <= p1 <= loose
    assert all(t.startswith("tab") for t in p3)
    assert "table" in p3
