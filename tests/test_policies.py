"""Engine-wide policy enforcement (SURVEY.md §7.3 hard parts).

  - No per-row Python UDFs anywhere in the engine (input_hint: pandas/
    Arrow-batched only) — enforced by scanning the source.
  - Plan shape: query-term predicates must reach the Parquet scan
    (PushedFilters), and no exchange may sit between the bucketed
    postings scan and a scorer's pandas kernel — regression guards for
    the physical plan.
"""

from __future__ import annotations

import os
import re

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "elasticsearch_spark")
KERNELS = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _subtree(lines: list[str], i: int) -> list[str]:
    """The lines of the plan tree below node ``lines[i]``."""
    out = []
    for ln in lines[i + 1:]:
        if _depth(ln) <= _depth(lines[i]):
            break
        out.append(ln)
    return out


def _children(lines: list[str], i: int) -> list[list[str]]:
    """Each child subtree of node ``lines[i]``, in plan order."""
    below = _subtree(lines, i)
    if not below:
        return []
    d = _depth(below[0])
    out: list[list[str]] = []
    for ln in below:
        if _depth(ln) == d:
            out.append([])
        out[-1].append(ln)
    return out


def _is_exchange(line: str) -> bool:
    return "Exchange" in line or "AQEShuffleRead" in line


def _exchanges_below_kernels(plan: str) -> list[str]:
    """Every exchange below a scorer kernel's postings input: the whole
    input of a FlatMapGroupsInPandas, the first (blocks) side of a
    FlatMapCoGroupsInPandas. Asserts the plan has a kernel."""
    lines = plan.splitlines()
    kernels = [i for i, ln in enumerate(lines) if any(k in ln for k in KERNELS)]
    assert kernels, plan[:3000]
    bad = []
    for i in kernels:
        side = (_children(lines, i)[0] if "CoGroups" in lines[i]
                else _subtree(lines, i))
        bad += [ln.strip() for ln in side if _is_exchange(ln)]
    return bad


def test_no_row_at_a_time_udfs():
    bad = []
    pat = re.compile(r"(?<!pandas_)\budf\s*\(|@F\.udf|functions\.udf\(")
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                src = f.read()
            if pat.search(src):
                bad.append(path)
    assert not bad, f"row-at-a-time Python UDFs found in: {bad}"


_HOT_PATHS = {
    "match_topk", "match_topk_batch", "phrase_topk", "phrase_prefix_topk",
    "synonym_match_topk", "multi_term_topk", "multi_match_topk",
    "match_node", "phrase_node", "synonym_node", "_scored_scan",
    "_phrase_kernel", "_fold", "tree_topk", "_tree_kernel",
}


def test_no_collect_in_hot_paths():
    """collect() is allowed only for driver-side statistics (term_dict /
    coll_stats / manifests / agg shells) — never over postings rows."""
    with open(os.path.join(PKG, "search", "executor.py")) as f:
        src = f.read()
    # the scorer path must not collect posting/doc frames
    checked = set()
    for fn_src in re.split(r"\ndef ", src):
        name = fn_src.split("(", 1)[0]
        if name in _HOT_PATHS:
            checked.add(name)
            assert ".collect()" not in fn_src, f"collect() in {name}"
    # a renamed or deleted scorer must not leave the check empty
    assert checked == _HOT_PATHS, sorted(_HOT_PATHS - checked)


@pytest.fixture(scope="module")
def index(spark):
    import __spark_entry__ as e

    return e._doc_index(spark, "/root/testdata/sf0.001")


def test_term_filter_pushdown(spark, tmp_path):
    from elasticsearch_spark.index.builder import build_index
    from elasticsearch_spark.search.bm25 import BM25Params
    from elasticsearch_spark.search.executor import match_topk

    # an index at its OWN path: any handle sharing the entry-point
    # index's path would be substituted by the CacheManager with the
    # pinned InMemoryRelation (the cached fast path); pushdown must
    # hold on the uncached parquet path used at scale
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fresh = build_index(
        docs.select("doc_id", "text"), str(tmp_path / "pushdown_idx"),
        fields={"text": "ascii_word"}, num_partitions=4,
        input_snapshot="pushdown",
    )
    df = match_topk(fresh, "text", ["table", "scan"], k=10,
                     params=BM25Params(quantize_norms=False))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert re.search(r"In\(term, \[.*scan.*table.*\]\)|In\(term, \[.*table.*scan.*\]\)", plan), plan[:2000]
    # the bucketed scan feeds the scorer with no exchange
    assert "Bucketed: true" in plan, plan[:2000]
    assert not _exchanges_below_kernels(plan), plan[:2000]
    # column pruning: positions are not read by the match scorer
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "positions" not in m.group(1), m.group(1)


def test_phrase_prefix_single_pass(spark, tmp_path):
    """phrase_prefix must be ONE scan feeding its kernel with no
    exchange — round 1 unioned up to 50 per-expansion phrase plans (50x
    scan + shuffle)."""
    from elasticsearch_spark.index.builder import build_index
    from elasticsearch_spark.search.bm25 import BM25Params
    from elasticsearch_spark.search.executor import phrase_prefix_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fresh = build_index(
        docs.select("doc_id", "text"), str(tmp_path / "ppidx"),
        fields={"text": "ascii_word"}, num_partitions=4,
        input_snapshot="pp",
    )
    df = phrase_prefix_topk(fresh, "text", ["key", "ord"], k=10,
                            params=BM25Params(quantize_norms=False))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not _exchanges_below_kernels(plan), plan[:2000]
    assert plan.count("Scan parquet") == 1


def test_filter_query_pushdown(spark, tmp_path):
    import shutil

    from elasticsearch_spark.search.dsl import filter_query

    # read from a private copy: other tests .cache() the shared path and
    # the CacheManager would substitute this scan with InMemoryRelation
    path = str(tmp_path / "documents.parquet")
    shutil.copy("/root/testdata/sf0.001/documents.parquet", path)
    docs = spark.read.parquet(path)
    df = filter_query(docs, {"bool": {"filter": [
        {"term": {"lang": "en"}},
        {"range": {"n_chars": {"gte": 100}}},
    ]}}).select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(lang,en)" in plan
    assert "GreaterThanOrEqual(n_chars,100)" in plan
    # column pruning: the scan must not read `text`
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1), m.group(1) if m else plan[:500]


def test_filtered_search_keeps_pruning_plan(spark, index):
    """bool{must: match, filter: ...} must push the filter INTO the
    scorer (WAND/theta pruning stays active), not run a k=None
    full-scoring pass followed by a semi-join. search() uses the
    cogroup strategy (single plan, no driver round-trip)."""
    from elasticsearch_spark.search.api import search
    from elasticsearch_spark.search.bm25 import BM25Params
    from elasticsearch_spark.search.executor import match_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = {"bool": {"must": [{"match": {"text": "query data"}}],
                  "filter": [{"term": {"lang": "en"}}]}}
    out = search(index, docs, q, k=10,
                 params=BM25Params(quantize_norms=False))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the scored side must NOT be semi-joined against the filter
    assert "LeftSemi" not in plan, plan[:3000]
    # the cogroup is on bkey alone: the blocks side keeps the bucketed
    # scan's partitioning (no exchange) and only the allowlist takes one
    # exchange, onto the scan's buckets (grouping on (bkey, part_id)
    # would shuffle both sides)
    assert not _exchanges_below_kernels(plan), plan
    lines = plan.splitlines()
    cog = next(i for i, ln in enumerate(lines)
               if "FlatMapCoGroupsInPandas" in ln)
    blocks, ids = _children(lines, cog)
    assert any("InMemoryTableScan" in ln or "Bucketed: true" in ln
               for ln in blocks), plan
    exchanges = [ln for ln in ids if "Exchange" in ln]
    b = index.bucketing["buckets"]
    assert len(exchanges) == 1 and re.search(
        rf"Exchange hashpartitioning\(bkey#\d+, {b}\)", exchanges[0]), plan
    # match_topk itself routes the allowlist into a cogroup
    allowed = docs.filter(docs.lang == "en").select("doc_id")
    big = match_topk(index, "text", ["query", "data"], k=10,
                     params=BM25Params(quantize_norms=False),
                     allowed=allowed)
    plan2 = big._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan2, plan2[:3000]


def test_filtered_search_parity_with_fallback(spark, index):
    """Pushed-allowlist scoring must be row-identical to the unpruned
    score-everything + semi-join fallback, across operators, msm,
    exact and sloppy phrase leaves and a match/phrase dis_max."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.search import dsl
    from elasticsearch_spark.search.api import _scored_df, search
    from elasticsearch_spark.search.bm25 import BM25Params

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    params = BM25Params(quantize_norms=False)
    zero_hit = {"bool": {"must": [{"match": {"text": "table"}}],
                         "filter": [{"term": {"lang": "zz_nope"}}]}}
    cases = [
        {"bool": {"must": [{"match": {"text": "table scan merge"}}],
                  "filter": [{"range": {"n_chars": {"gte": 300}}}]}},
        {"bool": {"must": [{"match": {"text": {"query": "window filter",
                                               "operator": "and"}}}],
                  "filter": [{"term": {"lang": "fr"}}]}},
        {"bool": {"must": [{"match": {"text": {
                      "query": "table scan merge",
                      "minimum_should_match": 2}}}],
                  "filter": [{"term": {"lang": "en"}}]}},
        zero_hit,
        # phrase leaves take the pushed allowlist too
        {"bool": {"must": [{"match_phrase": {"text": "order fast"}}],
                  "filter": [{"term": {"lang": "en"}}]}},
        {"bool": {"must": [{"match_phrase": {"text": {
                      "query": "key order", "slop": 1}}}],
                  "filter": [{"term": {"lang": "en"}}]}},
        {"bool": {"must": [{"dis_max": {"queries": [
                      {"match": {"text": "window filter"}},
                      {"match_phrase": {"text": "scan merge"}}]}}],
                  "filter": [{"range": {"n_chars": {"gte": 300}}}]}},
    ]
    for q in cases:
        got = [
            (r["doc_id"], r["s"])
            for r in search(index, docs, q, k=10, params=params)
            .select("doc_id", F.round("score", 6).alias("s")).collect()
        ]
        body = q["bool"]
        scores = _scored_df(
            index, {"bool": {"must": body["must"], "should": []}}, params)
        allowed = docs.filter(dsl.compile_filter(
            {"bool": {"filter": body["filter"], "must_not": []}}, "doc_id"
        )).select("doc_id")
        want = [
            (r["doc_id"], r["s"])
            for r in scores.join(allowed, "doc_id", "left_semi")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select("doc_id", F.round("score", 6).alias("s")).collect()
        ]
        assert got == want, q
        # only the zero-hit filter may return nothing: parity over an
        # empty result would prove nothing
        assert bool(got) != (q is zero_hit), q


def test_filtered_phrase_pushes_allowlist(spark, index):
    """A filtered phrase leaf cogroups the allowlist into its kernel
    (one FlatMapCoGroupsInPandas) instead of scoring every phrase match
    and semi-joining the filter above the scorer."""
    from elasticsearch_spark.search.api import search
    from elasticsearch_spark.search.bm25 import BM25Params

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = {"bool": {"must": [{"match_phrase": {"text": "order fast"}}],
                  "filter": [{"term": {"lang": "en"}}]}}
    out = search(index, docs, q, k=10,
                 params=BM25Params(quantize_norms=False))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan[:3000]
    assert "LeftSemi" not in plan, plan[:3000]


def _pin_cases():
    from elasticsearch_spark.search import executor as ex
    from elasticsearch_spark.search.api import _scored_df
    from elasticsearch_spark.search.bm25 import BM25Params
    from elasticsearch_spark.search.spans import span_match

    params = BM25Params()

    near = {"span_near": {"clauses": [{"span_term": {"text": "key"}},
                                      {"span_term": {"text": "order"}}],
                          "slop": 2, "in_order": True}}
    return {
        "match_topk": lambda idx: ex.match_topk(
            idx, "text", ["query", "data"]),
        "match_topk_batch": lambda idx: ex.match_topk_batch(
            idx, "text", [["query", "data"], ["table", "scan"]]),
        "phrase_topk": lambda idx: ex.phrase_topk(
            idx, "text", ["key", "order"], slop=1),
        "synonym_match_topk": lambda idx: ex.synonym_match_topk(
            idx, "text", [["query", "data"], ["table"]]),
        "phrase_prefix_topk": lambda idx: ex.phrase_prefix_topk(
            idx, "text", ["key", "or"]),
        "intervals_match": lambda idx: ex.intervals_match(
            idx, "text", ["key", "order"], max_gaps=2),
        "multi_term_topk": lambda idx: ex.multi_term_topk(
            idx, "text", "prefix", "qu"),
        "span_match": lambda idx: span_match(idx, "text", near),
        "multi_match_best_fields": lambda idx: ex.multi_match_topk(
            idx, {"text": ["table", "scan"], "text_en": ["tabl", "scan"]}),
        "multi_match_most_fields": lambda idx: ex.multi_match_topk(
            idx, {"text": ["table", "scan"], "source": ["table", "scan"]},
            "most_fields"),
        "multi_match_phrase": lambda idx: ex.multi_match_topk(
            idx, {"text": ["key", "order"], "all_text": ["key", "order"]},
            "phrase", slop=1),
        "multi_match_cross_fields": lambda idx: ex.multi_match_topk(
            idx, {"text": ["src5", "table"], "source": ["src5", "table"]},
            "cross_fields", tie_breaker=0.3),
        "dis_max_tie": lambda idx: _scored_df(idx, {"dis_max": {
            "tie_breaker": 0.3, "queries": [
                {"match": {"text": "table scan"}},
                {"match_phrase": {"text": "key order"}}]}}, params),
        "bool_must_should_msm": lambda idx: _scored_df(idx, {"bool": {
            "must": [{"match": {"text": "table"}}],
            "should": [{"match": {"text": "scan"}},
                       {"match": {"source": "src5"}}],
            "minimum_should_match": 2}}, params),
        "constant_score": lambda idx: _scored_df(idx, {"constant_score": {
            "filter": {"bool": {"should": [{"match": {"text": "table"}},
                                           {"match": {"source": "src5"}}]}},
            "boost": 2.0}}, params),
        "match_bool_prefix_topk": lambda idx: ex.match_bool_prefix_topk(
            idx, "text", ["window", "ord"]),
    }


@pytest.mark.parametrize("scorer", sorted(_pin_cases()))
def test_scorer_exchange_pinned_to_shard_count(spark, index, scorer):
    """Every posting scorer's parallelism is pinned by the index's
    bucketing, not by an exchange: its pandas kernel reads the
    shard-bucketed scan directly — no ``Exchange`` or ``AQEShuffleRead``
    anywhere below it — over all B = min(shards, cores at build)
    buckets, which AQE cannot coalesce. Checked on the AQE final plan
    after execution, with coalescing switched on. (Under a filter, see
    ``test_filtered_search_keeps_pruning_plan``.)"""
    from elasticsearch_spark.index.builder import bucket_spec

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = _pin_cases()[scorer](index)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, before)
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final[:3000]
    assert not _exchanges_below_kernels(final), final
    spec = index.bucketing
    p = index.num_partitions()
    assert spec == bucket_spec(p, spec["buckets"]) and spec["buckets"] <= p
    b = spec["buckets"]
    assert re.findall(r"SelectedBucketsCount: (\d+ out of \d+)", final) == [
        f"{b} out of {b}"], final


def test_phrase_pushes_sorted_terms(spark, index):
    """Scorers push their terms as a sorted ``In`` list, so a request's
    physical plan does not depend on the process's string-hash seed
    (a ``set`` iterates in that seed's order)."""
    from elasticsearch_spark.search.executor import phrase_topk

    terms = ["table", "scan", "query", "data", "merge"]
    plan = phrase_topk(index, "text", terms)._jdf.queryExecution() \
        .executedPlan().toString()
    lists = re.findall(r"Filter .*\bterm#\d+ IN \(([^)]*)\)", plan)
    assert lists, plan[:3000]
    for found in lists:
        assert found.split(",") == sorted(terms), plan[:3000]


def test_term_stats_fallback_pushdown(spark, tmp_path):
    """When the term dictionary exceeds the driver cache budget, the
    per-query stats lookup must push In(term, ...) to the parquet scan
    (not scan the whole dictionary)."""
    from elasticsearch_spark.index.builder import build_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fresh = build_index(
        docs.select("doc_id", "text"), str(tmp_path / "ts_idx"),
        fields={"text": "ascii_word"}, num_partitions=2,
        input_snapshot="ts",
    )
    fresh._term_cache_state = "too_big"  # force the fallback path
    df = fresh._term_stats_scan("text", ["table", "scan"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(term" in plan, plan[:2000]
    rows = fresh.term_stats("text", ["table", "scan"])
    assert {r["term"] for r in rows} == {"table", "scan"}


def test_term_stats_cache_matches_scan(spark, tmp_path):
    """Tuple-backed cache rows must agree with the pushed-scan rows."""
    from elasticsearch_spark.index.builder import build_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fresh = build_index(
        docs.select("doc_id", "text"), str(tmp_path / "tc_idx"),
        fields={"text": "ascii_word"}, num_partitions=2,
        input_snapshot="tc",
    )
    cached = {r["term"]: (r["df"], r["cf"], r["max_tf"], r["min_dl"])
              for r in fresh.term_stats("text", ["table", "scan"])}
    assert fresh._term_cache_state == "cached"
    scanned = {r["term"]: (r["df"], r["cf"], r["max_tf"], r["min_dl"])
               for r in fresh._term_stats_scan("text", ["table", "scan"]).collect()}
    assert cached == scanned and cached


def test_disjunction_decomposition_parity(spark, index):
    """dis_max / multi_match best_fields at tie_breaker=0 keep each
    leaf's PRUNED shard top-k before the max; rows and scores must be
    identical to the k=None score-everything fallback, with and
    without a filter."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.search import dsl
    from elasticsearch_spark.search.api import _scored_df, _tree, search
    from elasticsearch_spark.search.bm25 import BM25Params
    from elasticsearch_spark.search.executor import _leaves, _push_k

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    params = BM25Params(quantize_norms=False)
    cases = [
        {"multi_match": {"query": "table scan merge",
                         "fields": ["text", "text_en"]}},
        {"dis_max": {"queries": [
            {"match": {"text": "window filter"}},
            {"match": {"text_en": {"query": "windows filtering",
                                   "boost": 1.5}}}]}},
        {"bool": {"must": [{"multi_match": {
                      "query": "table scan merge",
                      "fields": ["text", "text_en"]}}],
                  "filter": [{"range": {"n_chars": {"gte": 300}}}]}},
        {"bool": {"must": [{"dis_max": {"queries": [
                      {"match": {"text": "window filter"}},
                      {"match": {"text_en": "windows filtering"}}]}}],
                  "filter": [{"term": {"lang": "en"}}]}},
    ]
    for q in cases:
        got = [
            (r["doc_id"], r["s"])
            for r in search(index, docs, q, k=10, params=params)
            .select("doc_id", F.round("score", 6).alias("s")).collect()
        ]
        if next(iter(q)) == "bool":
            scored = {"bool": {"must": q["bool"]["must"], "should": []}}
            flt = dsl.compile_filter(
                {"bool": {"filter": q["bool"]["filter"], "must_not": []}},
                "doc_id")
            base = _scored_df(index, scored, params).join(
                docs.filter(flt).select("doc_id"), "doc_id", "left_semi")
        else:
            base = _scored_df(index, q, params)
        want = [
            (r["doc_id"], r["s"])
            for r in base.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10).select("doc_id", F.round("score", 6).alias("s"))
            .collect()
        ]
        assert got == want, q
    # where k reaches the tree (executor._push_k): a nonzero tie_breaker
    # must NOT prune (scores need every leaf)
    def pushed(q):
        return _push_k(_tree(index, q, params), 10)

    two = [{"match": {"text": "table"}},
           {"match_phrase": {"text": "scan merge"}}]
    assert [lf.k for lf in _leaves(pushed(
        {"dis_max": {"tie_breaker": 0.3, "queries": two}}))] == [None, None]
    assert [lf.k for lf in _leaves(pushed({"dis_max": {"queries": two}}))] \
        == [10, 10]
    # a multi_match of any type prunes like one leaf: under a dis_max at
    # tie 0 it takes k, and its fields prune as they do alone
    for mtype in sorted(_MULTI_MATCH_CASES):
        mm = {"multi_match": {"query": "table scan merge",
                              "fields": ["text", "all_text"],
                              **_MULTI_MATCH_CASES[mtype]}}
        alone = pushed(mm)
        inside = pushed({"dis_max": {"queries": [mm, two[0]]}}).kids
        assert inside[0].k == alone.k == 10 and inside[1].k == 10, mtype
        assert [lf.k for lf in _leaves(inside[0])] == \
            [lf.k for lf in _leaves(alone)], mtype
        if mtype in ("best_fields", "most_fields"):
            assert {lf.k for lf in _leaves(alone)} == {
                10 if mtype == "best_fields" else None}, mtype


def _combined(index, q, params) -> dict:
    """{doc: score} of a compound query, combined in Python from its
    leaves' own ``match_topk``/``phrase_topk(k=None)`` rows."""
    from elasticsearch_spark.search.api import _match_terms
    from elasticsearch_spark.search.executor import match_topk, phrase_topk

    kind, body = next(iter(q.items()))
    if kind in ("match", "match_phrase"):
        field, spec = next(iter(body.items()))
        terms, operator, msm = _match_terms(index, field, spec)
        df = (match_topk(index, field, terms, k=None, operator=operator,
                         minimum_should_match=msm, params=params)
              if kind == "match" else
              phrase_topk(index, field, terms, k=None, params=params))
        b = spec.get("boost", 1.0) if isinstance(spec, dict) else 1.0
        return {r["doc_id"]: r["score"] * b for r in df.collect()}
    if kind == "dis_max":
        tie = body.get("tie_breaker", 0.0)
        subs = [_combined(index, c, params) for c in body["queries"]]
        out = {}
        for d in set().union(*subs):
            ss = [s[d] for s in subs if d in s]
            out[d] = max(ss) + tie * (sum(ss) - max(ss))
        return out
    if kind == "bool":
        must = [_combined(index, c, params) for c in body.get("must", [])]
        should = [_combined(index, c, params) for c in body.get("should", [])]
        msm = body.get("minimum_should_match", 0 if must else 1)
        return {d: sum(s[d] for s in must + should if d in s)
                for d in set().union(*must, *should)
                if all(d in s for s in must)
                and sum(d in s for s in should) >= msm}
    if kind == "constant_score":
        return {d: body.get("boost", 1.0)
                for d in _combined(index, body["filter"], params)}
    assert kind == "function_score", kind
    return {d: s * body["weight"]
            for d, s in _combined(index, body["query"], params).items()}


def test_compound_tree_matches_its_leaves(spark, index):
    """Every compound node of the query tree scores what its leaves'
    own scorers combine to: all rows of ``_scored_df`` and the top-k of
    ``search()``, with and without a filter, to 1e-9."""
    from elasticsearch_spark.search.api import _scored_df, search
    from elasticsearch_spark.search.bm25 import BM25Params

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    params = BM25Params(quantize_norms=False)
    en = {r["doc_id"] for r in docs.filter(docs.lang == "en")
          .select("doc_id").collect()}
    window = [{"match": {"text": "window filter"}},
              {"match": {"text_en": {"query": "windows filtering",
                                     "boost": 1.5}}}]
    clauses = {"must": [{"match": {"text": "table"}}],
               "should": [{"match": {"text": "scan merge"}},
                          {"match_phrase": {"text": "key order"}},
                          {"match": {"source": "src5"}}]}
    cases = [
        {"bool": {**clauses, "minimum_should_match": 1}},
        {"bool": {**clauses, "minimum_should_match": 2}},
        {"dis_max": {"queries": window}},
        {"dis_max": {"tie_breaker": 0.3, "queries": window}},
        {"dis_max": {"tie_breaker": 0.3, "queries": [
            {"bool": {"should": [{"match": {"text": "table"}},
                                 {"match": {"text": "scan"}}]}},
            {"match_phrase": {"text": "key order"}}]}},
        {"constant_score": {"filter": {"match": {"text": "table scan"}},
                            "boost": 2.5}},
        {"function_score": {"query": {"dis_max": {"queries": window}},
                            "weight": 2.0}},
    ]
    for q in cases:
        want = _combined(index, q, params)
        got = {r["doc_id"]: r["score"]
               for r in _scored_df(index, q, params).collect()}
        assert got.keys() == want.keys() and got, q
        for d, s in want.items():
            assert got[d] == pytest.approx(s, rel=1e-9, abs=1e-12), (q, d)
        for flt in (False, True):
            req = ({"bool": {"must": [q], "filter": [{"term": {"lang": "en"}}]}}
                   if flt else q)
            top = sorted(((d, s) for d, s in want.items()
                          if not flt or d in en),
                         key=lambda ds: (-ds[1], ds[0]))[:10]
            hits = [(r["doc_id"], r["score"])
                    for r in search(index, docs, req, k=10, params=params)
                    .select("doc_id", "score").collect()]
            assert [d for d, _ in hits] == [d for d, _ in top] and hits, \
                (q, flt)
            assert [s for _, s in hits] == pytest.approx(
                [s for _, s in top], rel=1e-9, abs=1e-12), (q, flt)


def test_tree_scan_reads_only_its_leaves_pairs(index):
    """A query tree's one scan reads the (field, term) pairs its leaves
    ask for, not the cross product of their fields and terms."""
    from elasticsearch_spark.search import executor as ex
    from elasticsearch_spark.search.bm25 import BM25Params

    params = BM25Params()
    tree = ex.bool_node([], [
        ex.match_node(index, "text", ["table"], params=params),
        ex.match_node(index, "source", ["src5"], params=params),
        ex.phrase_node(index, "text", ["key"], ["order"], params)], 1)
    leaves = list(ex._leaves(tree))
    assert len(leaves) == 3
    rows = (index.postings.filter(ex._pairs_cond(
                (lf.field, t) for lf in leaves for t in lf.terms))
            .select("field", "term").distinct().collect())
    assert {(r["field"], r["term"]) for r in rows} == {
        ("text", "table"), ("source", "src5"),
        ("text", "key"), ("text", "order")}


def _one_leaf_cases():
    from elasticsearch_spark.search import executor as ex
    from elasticsearch_spark.search.bm25 import BM25Params

    p = BM25Params()
    terms = ["table", "scan"]
    return {
        "match_or": (
            lambda idx, a: ex.match_topk(idx, "text", terms),
            lambda idx, a: ex.tree_topk(
                idx, ex.match_node(idx, "text", terms), 10)),
        "match_and": (
            lambda idx, a: ex.match_topk(idx, "text", terms, operator="and"),
            lambda idx, a: ex.tree_topk(
                idx, ex.match_node(idx, "text", terms, "and"), 10)),
        "match_allowed": (
            lambda idx, a: ex.match_topk(idx, "text", terms, allowed=a),
            lambda idx, a: ex.tree_topk(
                idx, ex.match_node(idx, "text", terms), 10, a)),
        "phrase": (
            lambda idx, a: ex.phrase_topk(idx, "text", ["key", "order"],
                                          slop=1),
            lambda idx, a: ex.tree_topk(idx, ex.phrase_node(
                idx, "text", ["key"], ["order"], p, 1), 10)),
        "phrase_prefix": (
            lambda idx, a: ex.phrase_prefix_topk(idx, "text", ["key", "or"]),
            lambda idx, a: ex.tree_topk(idx, ex.phrase_node(
                idx, "text", ["key"],
                ex.expand_terms(idx, "text", "prefix", "or"), p), 10)),
        "synonym": (
            lambda idx, a: ex.synonym_match_topk(
                idx, "text", [["query", "data"], ["table"]]),
            lambda idx, a: ex.tree_topk(idx, ex.synonym_node(
                idx, "text", [["query", "data"], ["table"]], 1, p), 10)),
    }


def _masked_plan(df) -> str:
    """The executed physical plan without its expression and plan ids."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+|plan_id=\d+", "#", plan)


@pytest.mark.parametrize("shape", sorted(_one_leaf_cases()))
def test_single_request_is_a_one_leaf_tree(spark, index, shape):
    """Every single-request scorer is ``tree_topk`` over one leaf: its
    physical plan is the tree's, so a match (or a phrase) has one plan
    whichever entry runs it."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    allowed = docs.filter("lang = 'en'").select("doc_id")
    direct, tree = _one_leaf_cases()[shape]
    want = _masked_plan(tree(index, allowed))
    assert _masked_plan(direct(index, allowed)) == want
    assert "field#" in want, want[:3000]


def test_filtered_disjunction_keeps_pruning_plan(spark, index):
    """A filtered multi_match pushes the filter id set into its one
    kernel (one cogroup for all fields), never semi-joins after scoring
    everything."""
    from elasticsearch_spark.search.api import search
    from elasticsearch_spark.search.bm25 import BM25Params

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = {"bool": {"must": [{"multi_match": {
             "query": "query data", "fields": ["text", "text_en"]}}],
         "filter": [{"term": {"lang": "en"}}]}}
    out = search(index, docs, q, k=10,
                 params=BM25Params(quantize_norms=False))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan, plan[:3000]
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan[:3000]


_MULTI_MATCH_CASES = {
    "best_fields": {"type": "best_fields"},
    "best_fields_tie": {"type": "best_fields", "tie_breaker": 0.3},
    "most_fields": {"type": "most_fields"},
    "phrase": {"type": "phrase", "slop": 1},
    "phrase_prefix": {"type": "phrase_prefix"},
    "cross_fields": {"type": "cross_fields"},
}


@pytest.mark.parametrize("filtered", [False, True])
@pytest.mark.parametrize("mtype", sorted(_MULTI_MATCH_CASES))
def test_multi_match_is_one_scored_leaf(spark, index, mtype, filtered):
    """Every multi_match type runs as one scored leaf: one postings
    scan behind one part_id exchange and one pandas kernel that
    combines the fields per shard — no per-field union, no hash
    exchange, no decode pass, no semi-join — and the fetch orders its
    few hits without a range exchange."""
    from elasticsearch_spark.search.api import search

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = {"multi_match": {"query": "key order", "fields": ["text", "all_text"],
                         **_MULTI_MATCH_CASES[mtype]}}
    if filtered:
        q = {"bool": {"must": [q], "filter": [{"term": {"lang": "en"}}]}}
    out = search(index, docs, q, k=10)
    assert out.collect()
    final = out._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final[:3000]
    kernel = "FlatMapCoGroupsInPandas" if filtered else "FlatMapGroupsInPandas"
    assert final.count(kernel) == 1, final
    assert final.count("InPandas") == 1, final
    # the blocks reach the kernel with no exchange; only the allowlist
    # side of a cogroup is hash-exchanged, onto the scan's buckets
    assert not _exchanges_below_kernels(final), final
    assert final.count("hashpartitioning") == filtered, final
    for absent in ("rangepartitioning", "MapInPandas", "LeftSemi"):
        assert absent not in final, (absent, final)


def _tasks(rows, key) -> dict[int, set]:
    """{task: set of groups} from rows carrying a ``task`` column."""
    out: dict[int, set] = {}
    for r in rows:
        out.setdefault(r["task"], set()).add(key(r))
    return out


@pytest.mark.parametrize("parts", [4, 8, 16])
def test_scorer_shards_fill_one_wave(spark, tmp_path, parts):
    """The bucketed scan puts shard p in bucket p mod B, B = min(P,
    cores): B non-empty scorer tasks, none with more than ceil(P / B)
    shards. (A hash repartition on part_id puts 8 shards on 5 tasks, 3
    on one.)"""
    from pyspark.sql import functions as F

    from elasticsearch_spark.index.builder import build_index
    from elasticsearch_spark.search.executor import _posting_groups

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(
        docs.select("doc_id", "text"), str(tmp_path / f"place{parts}"),
        fields={"text": "ascii_word"}, num_partitions=parts,
        input_snapshot="place",
    )
    rows = (
        _posting_groups(idx, F.col("field") == "text", ("part_id",))
        .applyInPandas(lambda pdf: pdf[["part_id"]].drop_duplicates(),
                       schema="part_id int")
        .select(F.spark_partition_id().alias("task"), "part_id")
        .collect()
    )
    tasks = _tasks(rows, lambda r: r["part_id"])
    b = min(parts, spark.sparkContext.defaultParallelism)
    assert idx.bucketing["buckets"] == b
    assert sorted(p for g in tasks.values() for p in g) == list(range(parts))
    assert len(tasks) == b, tasks
    assert max(len(g) for g in tasks.values()) <= -(-parts // b), tasks


def test_encode_groups_fill_one_wave(spark, tmp_path):
    """The writer's encode stage places each (part_id, field) group of a
    2-field, 4-part build on its own task (8 groups on local[8]). The
    write runs in the encode stage, so a block file's name carries the
    encode task's partition index."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.index.builder import build_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(
        docs.select("doc_id", "text", "lang"), str(tmp_path / "encplace"),
        fields={"text": "ascii_word", "lang": "keyword"}, num_partitions=4,
        input_snapshot="encplace",
    )
    task = F.regexp_extract(F.input_file_name(), r"/part-(\d+)-", 1)
    rows = (
        idx.postings.select(task.cast("int").alias("task"), "part_id", "field")
        .distinct().collect()
    )
    tasks = _tasks(rows, lambda r: (r["part_id"], r["field"]))
    assert sorted(g for gs in tasks.values() for g in gs) == sorted(
        (p, f) for p in range(4) for f in ("lang", "text"))
    t = min(8, spark.sparkContext.defaultParallelism)
    assert len(tasks) == t, tasks
    assert max(len(g) for g in tasks.values()) <= -(-8 // t), tasks
