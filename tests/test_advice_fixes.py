"""Regression tests for ES-vs-SQL semantic gaps and exactly-once fixes.

Covers: NULL-field set semantics in filter context (ES keeps docs whose
field is missing under must_not; one NULL should-clause must not poison
minimum_should_match), constant_score-over-filter routing through
search(), duplicate-query-term multiplicity (Lucene BooleanQuery sums
duplicate TermQuery clauses), stop-analyzer field length (emitted tokens,
not position gaps), streaming replay idempotency, and the build-resume
crash window (partial partition output is replaced, not doubled).
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.corpus import generate_corpus
from elasticsearch_spark.index.builder import (
    assign_doc_ids,
    build_index,
    load_index,
)
from elasticsearch_spark.search import dsl
from elasticsearch_spark.search.api import search
from elasticsearch_spark.search.bm25 import BM25Params
from elasticsearch_spark.search.executor import match_topk, phrase_topk

EXACT = BM25Params(quantize_norms=False)


@pytest.fixture(scope="module")
def nullable_df(spark):
    return spark.createDataFrame(
        [(1, "en", 10), (2, None, 20), (3, "fr", None)],
        "doc_id long, lang string, n int",
    )


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_must_not_keeps_null_field_docs(nullable_df):
    # ES: must_not(term lang=en) keeps every doc where the inner query
    # does NOT match — including docs with no lang at all (doc 2)
    q = {"bool": {"must_not": [{"term": {"lang": "en"}}]}}
    assert _ids(nullable_df.filter(dsl.compile_filter(q))) == [2, 3]


def test_should_msm_with_null_clause(nullable_df):
    # doc 2: lang clause is NULL, range clause matches -> msm=1 satisfied;
    # SQL ternary logic would make the clause sum NULL and drop it
    q = {"bool": {"should": [
        {"term": {"lang": "en"}},
        {"range": {"n": {"gte": 15}}},
    ], "minimum_should_match": 1}}
    assert _ids(nullable_df.filter(dsl.compile_filter(q))) == [1, 2]


def test_terms_set_null_field(nullable_df):
    q = {"terms_set": {"lang": {"terms": ["en", "fr"],
                                 "minimum_should_match": 1}}}
    assert _ids(nullable_df.filter(dsl.compile_filter(q))) == [1, 3]


@pytest.fixture(scope="module")
def small_corpus(spark):
    df = assign_doc_ids(
        generate_corpus(spark, 80, seed=3), ["repo", "path", "commit"]
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def small_index(spark, small_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("advice_idx"))
    return build_index(
        small_corpus, out, fields={"content": "code"}, num_partitions=2,
        input_snapshot="advice-v1",
    )


def test_search_constant_score_over_filter(small_index, small_corpus):
    # the canonical constant_score usage must not raise inside search()
    hits = search(
        small_index, small_corpus,
        {"constant_score": {"filter": {"prefix": {"path": "src/"}},
                            "boost": 2.5}},
        k=5, params=EXACT,
    ).collect()
    assert hits and all(r["score"] == 2.5 for r in hits)


def test_search_pure_filter_bool_inside_scored_must(small_index, small_corpus):
    inner = {"bool": {"filter": [{"exists": {"field": "path"}}]}}
    hits = search(
        small_index, small_corpus,
        {"bool": {"must": [{"match": {"content": "import"}}, inner]}},
        k=5, params=EXACT,
    ).collect()
    want = search(
        small_index, small_corpus,
        {"match": {"content": "import"}}, k=5, params=EXACT,
    ).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in hits] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


def test_search_constant_score_must_adds_boost(small_index, small_corpus):
    base = search(
        small_index, small_corpus, {"match": {"content": "import"}},
        k=5, params=EXACT,
    ).collect()
    boosted = search(
        small_index, small_corpus,
        {"bool": {"must": [
            {"match": {"content": "import"}},
            {"constant_score": {"filter": {"exists": {"field": "path"}},
                                "boost": 3.0}},
        ]}},
        k=5, params=EXACT,
    ).collect()
    assert [r["doc_id"] for r in boosted] == [r["doc_id"] for r in base]
    for b, a in zip(boosted, base):
        assert math.isclose(b["score"], a["score"] + 3.0, rel_tol=1e-9)


def test_duplicate_query_term_scores_per_occurrence(small_index):
    # Lucene BooleanQuery sums duplicate TermQuery clauses
    single = match_topk(small_index, "content", ["import"], k=5,
                        params=EXACT).collect()
    double = match_topk(small_index, "content", ["import", "import"], k=5,
                        params=EXACT).collect()
    assert [r["doc_id"] for r in double] == [r["doc_id"] for r in single]
    for d, s in zip(double, single):
        assert math.isclose(d["score"], 2.0 * s["score"], rel_tol=1e-9)


def test_duplicate_term_rank_identical_vs_oracle(small_index, small_corpus):
    from elasticsearch_spark.oracle import oracle_topk

    docs = {r["doc_id"]: r["content"]
            for r in small_corpus.select("doc_id", "content").collect()}
    params = BM25Params(quantize_norms=True)
    got = match_topk(small_index, "content", ["import", "import", "return"],
                     k=10, params=params).collect()
    want = oracle_topk(docs, "import import return", k=10, analyzer="code",
                       params=params)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9, abs_tol=1e-9)


def test_stop_analyzer_dl_counts_emitted_tokens(spark, tmp_path):
    # "the quick fox of doom" -> stop removes "the"/"of": 3 emitted tokens
    docs = spark.createDataFrame(
        [(1, "the quick fox of doom"), (2, "quick quick fox")],
        "doc_id long, body string",
    )
    idx = build_index(docs, str(tmp_path / "stopidx"),
                      fields={"body": "stop"}, num_partitions=1,
                      input_snapshot="v1", store_doc_lengths=True)
    dls = {r["doc_id"]: r["dl"] for r in idx.doc_lengths.collect()}
    assert dls == {1: 3, 2: 3}


def test_ingest_batch_replay_is_idempotent(spark, small_corpus, tmp_path):
    import json

    from elasticsearch_spark.streaming.refresh import ingest_batch

    idx_dir = str(tmp_path / "replay_idx")
    os.makedirs(idx_dir, exist_ok=True)
    with open(os.path.join(idx_dir, "index_meta.json"), "w") as f:
        json.dump({"num_partitions": 2, "fields": {"content": "code"},
                   "input_snapshot": "stream"}, f)
    batch = small_corpus.limit(40)
    ingest_batch(batch, idx_dir, {"content": "code"}, 2, batch_id=0)
    n1 = load_index(spark, idx_dir).collection_stats()["content"]["n_docs"]
    # crash-replay: foreachBatch re-delivers the SAME batch id
    ingest_batch(batch, idx_dir, {"content": "code"}, 2, batch_id=0)
    n2 = load_index(spark, idx_dir).collection_stats()["content"]["n_docs"]
    assert (n1, n2) == (40, 40)


def test_resume_replaces_partial_partition_output(spark, small_corpus, tmp_path):
    # simulate a crash AFTER partition 0's parquet commit but BEFORE its
    # manifest: the resume run must replace partition 0's output, not
    # append a second copy
    out = str(tmp_path / "crash_idx")
    build_index(small_corpus, out, fields={"content": "code"},
                num_partitions=2, input_snapshot="v1", _only_parts=[0])
    os.remove(os.path.join(out, "checkpoints", "part-0.json"))
    idx = build_index(small_corpus, out, fields={"content": "code"},
                      num_partitions=2, input_snapshot="v1", resume=True)
    assert idx.collection_stats()["content"]["n_docs"] == 80


def test_date_ip_range_agg_empty_input(spark):
    """F.sum over zero rows is NULL — empty input must yield zero-count
    buckets, not a TypeError."""
    from elasticsearch_spark.aggs.analytics import date_range_agg, ip_range_agg

    empty_ts = spark.createDataFrame([], "ts timestamp")
    out = date_range_agg(empty_ts, "ts", [("2020-01-01", "2021-01-01"), (None, "2020-01-01")])
    assert [r["doc_count"] for r in out.collect()] == [0, 0]

    empty_ip = spark.createDataFrame([], "ip string")
    out = ip_range_agg(empty_ip, "ip", [("10.0.0.0", "10.255.255.255")])
    assert [r["doc_count"] for r in out.collect()] == [0]


def test_word_shingles_respread_is_round_robin(spark):
    """A constant-id side (ngram_containment's benchmark frame) must not
    collapse onto one partition when the small-input re-spread kicks in."""
    from elasticsearch_spark.ops.dedup import word_shingles

    df = spark.createDataFrame(
        [(0, f"alpha beta gamma delta token{i}") for i in range(64)],
        "doc_id long, text string",
    ).coalesce(1)
    sh = word_shingles(df, "text", "doc_id", k=3)
    sizes = sh.rdd.glom().map(len).collect()
    assert sum(1 for s in sizes if s > 0) > 1, sizes


def test_metric_agg_field_plus_script_refuses(spark):
    """field+script together is value-script semantics the engine does
    not implement — must refuse loudly, not silently prefer the field."""
    from elasticsearch_spark.aggs import aggregate

    df = spark.createDataFrame([(1, "a", 2.0)], "id long, k string, v double")
    with pytest.raises(ValueError, match="value-script"):
        aggregate(df, {"t": {
            "terms": {"field": "k"},
            "aggs": {"s": {"sum": {"field": "v",
                                   "script": "doc['v'].value * 2"}}},
        }})


def test_mad_survives_existing_mad_m_column(spark):
    from elasticsearch_spark.aggs.translate import median_absolute_deviation

    df = spark.createDataFrame(
        [(float(i), float(i)) for i in range(1, 6)],
        "v double, _mad_m double")
    out = median_absolute_deviation(df, "v").collect()
    assert out[0]["mad"] == 1.0


def test_knn_rejects_vector_and_builder_together(spark):
    from elasticsearch_spark.ops.similarity import knn_search

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="not both"):
        knn_search(df, query_vector=[1.0, 0.0],
                   query_vector_builder={"text_embedding": {
                       "model_id": "m", "model_text": "x"}}, k=1)


def test_eql_sample_requires_by_and_filter_bound(spark):
    from elasticsearch_spark.ops.eql import parse_eql

    with pytest.raises(ValueError, match="requires a `by`"):
        parse_eql('sample [ a where true ] [ b where true ]')
    six = " ".join(f"[ e{i} where true ]" for i in range(6))
    with pytest.raises(ValueError, match="at most 5"):
        parse_eql(f'sample by k {six}')
    ok = parse_eql('sample by k [ a where true ] [ b where true ]')
    assert ok["by"] == "k" and len(ok["steps"]) == 2


def test_painless_string_plus_opaque_refuses(spark):
    """`String s = doc['a'].value + doc['b'].value` would compile to SQL
    arithmetic (silent NULL on string fields) — must refuse loudly."""
    from elasticsearch_spark.scripts.painless import (
        PainlessError, compile_painless_program,
    )

    with pytest.raises(PainlessError, match="type-opaque"):
        compile_painless_program(
            "String s = doc['a'].value + doc['b'].value; return s;")


def test_painless_string_local_concatenates(spark):
    """A String-typed local makes downstream '+' concatenation, and a
    string-literal operand always did — both must evaluate as concat."""
    from elasticsearch_spark.scripts.painless import compile_painless_program

    df = spark.createDataFrame([("ab", "cd")], "a string, b string")
    expr = compile_painless_program(
        "String s = doc['a'].value; return s + doc['b'].value;")
    assert df.selectExpr(f"({expr}) AS r").first()["r"] == "abcd"
    expr2 = compile_painless_program(
        "String s = doc['a'].value; s += doc['b'].value; return s;")
    assert df.selectExpr(f"({expr2}) AS r").first()["r"] == "abcd"


def test_semantic_query_validates_model_id(spark):
    from elasticsearch_spark.ops.similarity import (
        map_semantic_text, register_text_embedding_model, semantic_query,
    )

    register_text_embedding_model("m-a", dims=4)
    register_text_embedding_model("m-b", dims=4)
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, body string")
    mapped = map_semantic_text(df, "body", model_id="m-a")
    # matching model works
    assert semantic_query(mapped, "body", "alpha", model_id="m-a",
                          k=1).count() == 1
    with pytest.raises(ValueError, match="does not match"):
        semantic_query(mapped, "body", "alpha", model_id="m-b", k=1)


def _map_in_arrow_outputs(df) -> list[list[str]]:
    """Output column names of every MapInArrow node of the optimized plan."""
    def walk(node):
        if node.nodeName() == "MapInArrow":
            out = node.output()
            yield [out.apply(i).name() for i in range(out.size())]
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    return list(walk(df._jdf.queryExecution().optimizedPlan()))


def test_semantic_query_fences_two_columns(spark):
    """semantic_query applies the caller's filter BEFORE its
    materialize_fence and fences only (id, vector): a mapInArrow
    boundary blocks column pruning, so every fenced column is shipped
    through Arrow. Rows equal the whole-frame fence's."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.ops.similarity import (
        knn_search, map_semantic_text, register_text_embedding_model,
        semantic_query,
    )
    from elasticsearch_spark.spread import materialize_fence

    register_text_embedding_model("m-fence", dims=8)
    df = spark.createDataFrame(
        [(i, f"posting list merge {i % 7} term dictionary {i % 3}",
          "en" if i % 2 else "de", "x" * 200)
         for i in range(60)],
        "doc_id long, body string, lang string, pad string")
    mapped = map_semantic_text(df, "body", model_id="m-fence")
    cond = F.col("lang") == "en"
    got = semantic_query(mapped, "body", "merge term list", k=5,
                         model_id="m-fence", filter_cond=cond)
    fences = _map_in_arrow_outputs(got)
    assert fences == [["doc_id", "body__inference"]], fences
    vec = "body__inference"
    want = knn_search(
        materialize_fence(mapped).filter(
            F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x) > 0),
        None, k=5, id_col="doc_id", vec_col=vec, filter_cond=cond,
        query_vector_builder={"text_embedding": {
            "model_id": "m-fence", "model_text": "merge term list"}})
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in want.collect()]


def test_salted_block_join_pairs_identical(spark):
    """The salted within-block pair join must produce exactly the
    brute-force pair set (same blocks, same cosines)."""
    import itertools
    import math

    from elasticsearch_spark.ops.dedup import embedding_cosine_pairs

    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(4)], i % 3)
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    got = {(r.id_a, r.id_b): r.cosine
           for r in embedding_cosine_pairs(
               df, threshold=-1.0, block_col="label").collect()}
    want = {}
    by_id = {i: (v, b) for i, v, b in rows}
    for a, b in itertools.combinations(range(40), 2):
        va, ba = by_id[a]
        vb, bb = by_id[b]
        if ba != bb:
            continue
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        if na == 0 or nb == 0:
            continue
        want[(a, b)] = sum(x * y for x, y in zip(va, vb)) / (na * nb)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_salted_block_join_salt_is_capped(spark, monkeypatch):
    """The b-side explodes once per salt, so the salt factor must stay
    bounded when the cluster's default parallelism is huge."""
    import re

    from pyspark import SparkContext

    from elasticsearch_spark.ops.dedup import embedding_cosine_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)],
        "vec_id long, embedding array<double>, label int")
    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda self: 2000))
    plan = (embedding_cosine_pairs(df, threshold=-1.0, block_col="label")
            ._jdf.queryExecution().analyzed().toString())
    bounds = {int(m) for m in re.findall(r"sequence\(0, (\d+)", plan)}
    assert bounds == {31}  # the 32-salt cap, not 2000 salts


def test_materialize_fence_preserves_rows_and_schema(spark):
    from pyspark.sql import functions as F

    from elasticsearch_spark.spread import materialize_fence

    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 1.5).alias("x"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"))
    fenced = materialize_fence(df)
    assert fenced.schema == df.schema
    assert sorted(map(tuple, fenced.collect())) == \
        sorted(map(tuple, df.collect()))
