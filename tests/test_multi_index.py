"""Multi-index search: MultiIndex == one merged index, rank-identical
(cross-index DFS statistics)."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.analysis import analyze
from elasticsearch_spark.index.builder import (
    MultiIndex, build_index, load_index, load_indices,
)
from elasticsearch_spark.search.api import search
from elasticsearch_spark.search.executor import match_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def three(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    base = tmp_path_factory.mktemp("multi")
    a, b, m = str(base / "a"), str(base / "b"), str(base / "merged")
    left = docs.where(F.col("doc_id") % 2 == 0)
    right = docs.where(F.col("doc_id") % 2 == 1)
    build_index(left, a, fields={"text": "ascii_word"},
                num_partitions=4, input_snapshot="ma")
    build_index(right, b, fields={"text": "ascii_word"},
                num_partitions=4, input_snapshot="mb")
    build_index(docs, m, fields={"text": "ascii_word"},
                num_partitions=4, input_snapshot="mm")
    return a, b, m


def test_multi_index_rank_identity(spark, three):
    a, b, m = three
    multi = load_indices(spark, [a, b])
    terms = [t for t, _ in analyze("table scan merge data", "ascii_word")]
    got = match_topk(multi, "text", terms, k=12).collect()
    want = match_topk(load_index(spark, m), "text", terms, k=12).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
           [(r["doc_id"], round(r["score"], 9)) for r in want]
    # combined DFS stats equal the merged build's
    assert multi.collection_stats()["text"] == pytest.approx(
        load_index(spark, m).collection_stats()["text"])


def test_multi_index_routing_guard(spark, three, tmp_path):
    a, b, m = three
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text").limit(50)
    other = str(tmp_path / "p8")
    build_index(docs, other, fields={"text": "ascii_word"},
                num_partitions=8, input_snapshot="p8")
    mixed = load_indices(spark, [a, other])
    ids = spark.createDataFrame([(2,), (4,)], "doc_id long")
    with pytest.raises(ValueError, match="num_partitions"):
        mixed.route_ids(ids)
    # uniform members route fine
    uni = load_indices(spark, [a, b])
    assert uni.route_ids(ids).count() == 2
    with pytest.raises(ValueError):
        MultiIndex([])


def test_multi_index_search_analyzes_like_its_members(spark, three,
                                                      tmp_path):
    """search() analyzes a match leaf over a MultiIndex with the
    analyzer its members index the field with, and ranks as the merged
    build; members that index the field differently refuse."""
    a, b, m = three
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text")
    q = {"match": {"text": "table scan merge data"}}
    got = search(load_indices(spark, [a, b]), docs, q, k=12).collect()
    want = search(load_index(spark, m), docs, q, k=12).collect()
    assert got and [(r["doc_id"], round(r["score"], 9)) for r in got] == \
        [(r["doc_id"], round(r["score"], 9)) for r in want]
    other = str(tmp_path / "code")
    build_index(docs.limit(50), other, fields={"text": "code"},
                num_partitions=4, input_snapshot="code")
    with pytest.raises(ValueError, match="analysis"):
        search(load_indices(spark, [a, other]), docs, q, k=12)


def test_aliases(spark, three, tmp_path):
    """_aliases add/remove atomic registry, filtered alias resolution,
    write-index rule."""
    from elasticsearch_spark.ops.alias import (
        get_aliases, resolve_alias, update_aliases, write_index,
    )

    a, b, m = three
    reg = str(tmp_path / "reg")
    update_aliases(reg, [
        {"add": {"index": a, "alias": "docs", "is_write_index": True}},
        {"add": {"index": b, "alias": "docs"}},
        {"add": {"index": m, "alias": "evens",
                 "filter": {"term": {"doc_id": 42}}}},
    ])
    assert set(get_aliases(reg)) == {"docs", "evens"}

    idx, filt = resolve_alias(spark, reg, "docs")
    assert filt is None
    terms = [t for t, _ in analyze("table scan", "ascii_word")]
    merged = match_topk(load_index(spark, m), "text", terms, k=5).collect()
    got = match_topk(idx, "text", terms, k=5).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
           [(r["doc_id"], round(r["score"], 9)) for r in merged]

    # filtered alias: the compiled filter applies on the docs side
    idx2, filt2 = resolve_alias(spark, reg, "evens")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert docs.where(filt2).count() == 1

    assert write_index(reg, "docs") == a
    update_aliases(reg, [{"remove": {"index": a, "alias": "docs"}}])
    assert write_index(reg, "docs") == b  # single member left
    with pytest.raises(ValueError, match="does not point"):
        update_aliases(reg, [{"remove": {"index": a, "alias": "docs"}}])
    with pytest.raises(ValueError, match="unknown alias"):
        resolve_alias(spark, reg, "nope")


def test_index_templates(tmp_path, spark):
    """Composable template resolution: priority wins, composed_of merge
    order, same-priority overlap rejected, simulation drives a build."""
    from elasticsearch_spark.index.builder import build_index, load_index
    from elasticsearch_spark.ops.templates import (
        put_component_template, put_index_template, simulate_index,
    )

    reg = str(tmp_path / "tpl")
    put_component_template(reg, "base",
                           settings={"num_partitions": 4},
                           mappings={"text": "standard"})
    put_component_template(reg, "code_overrides",
                           mappings={"text": "ascii_word"})
    put_index_template(reg, "logs", ["logs-*"], priority=10,
                       composed_of=["base", "code_overrides"],
                       settings={"num_partitions": 2})
    put_index_template(reg, "catchall", ["*"], priority=0,
                       mappings={"text": "standard"})

    sim = simulate_index(reg, "logs-2026.08")
    # composed_of order: code_overrides wins the mapping; the
    # template's own settings merge LAST
    assert sim["matched_template"] == "logs"
    assert sim["mappings"] == {"text": "ascii_word"}
    assert sim["settings"] == {"num_partitions": 2}
    assert sim["overlapping"] == ["catchall"]
    assert simulate_index(reg, "other")["matched_template"] == "catchall"
    assert simulate_index(reg, "x")["mappings"] == {"text": "standard"}

    with pytest.raises(ValueError, match="conflict"):
        put_index_template(reg, "logs2", ["logs-*"], priority=10)
    with pytest.raises(ValueError, match="unknown component"):
        put_index_template(reg, "bad", ["b-*"], composed_of=["nope"])

    # the simulated config drives a real build
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text").limit(40)
    out = str(tmp_path / "logs-2026.08")
    build_index(docs, out, fields=sim["mappings"],
                num_partitions=sim["settings"]["num_partitions"],
                input_snapshot="tpl")
    assert load_index(spark, out).num_partitions() == 2


def test_indices_boost(spark, three):
    """indices_boost: per-index LOCAL stats x boost, merged top-k
    (SearchSourceBuilder.indicesBoost, query_then_fetch default)."""
    from elasticsearch_spark.search.api import indices_boost_topk

    a, b, _ = three
    idx_a, idx_b = load_index(spark, a), load_index(spark, b)
    terms = [t for t, _ in analyze("table scan merge", "ascii_word")]

    out = indices_boost_topk([idx_a, idx_b], ["a", "b"],
                             {"a": 2.0, "b": 0.5},
                             "text", terms, k=10).collect()
    assert len(out) == 10
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)

    # boost scales each index's own scores exactly
    base_a = {r["doc_id"]: r["score"]
              for r in match_topk(idx_a, "text", terms, k=10).collect()}
    for r in out:
        if r["_index"] == "a":
            assert r["score"] == pytest.approx(2.0 * base_a[r["doc_id"]])

    # boost 1.0 everywhere == plain per-index merge; a big enough boost
    # pushes every 'a' hit above every 'b' hit
    boosted = indices_boost_topk([idx_a, idx_b], ["a", "b"], {"a": 1e6},
                              "text", terms, k=10).collect()
    head = [r["_index"] for r in boosted]
    assert set(head[:head.count("a")]) == {"a"}
