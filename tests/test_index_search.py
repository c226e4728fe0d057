"""End-to-end: corpus -> index build -> BM25 top-k == pure-Python oracle.

Mirrors the reference's test strategy (SURVEY.md §5): golden rank-identity
(rank-eval-style gate) + randomized property checks + resume test
(qa/rolling-upgrade analogue) + parallelism invariance (ESIntegTestCase
multi-node analogue).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.corpus import generate_corpus
from elasticsearch_spark.index.builder import build_index, load_index
from elasticsearch_spark.oracle import oracle_topk
from elasticsearch_spark.search.bm25 import BM25Params
from elasticsearch_spark.search.executor import decoded_postings, fetch, match_topk

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, N_DOCS, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def corpus_docs(corpus):
    """{doc_id: content} for the oracle."""
    from elasticsearch_spark.index.builder import assign_doc_ids

    rows = assign_doc_ids(corpus, ["repo", "path", "commit"]).select(
        "doc_id", "content"
    ).collect()
    docs = {r["doc_id"]: r["content"] for r in rows}
    assert len(docs) == N_DOCS  # no doc_id collisions at this scale
    return docs


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    idx = build_index(
        corpus,
        out,
        fields={"content": "code"},
        num_partitions=4,
        id_cols=["repo", "path", "commit"],
        input_snapshot="test-corpus-v1",
    )
    return idx


QUERIES = [
    ("import", "or", 1),
    ("return public static", "or", 1),
    ("getFooBar", "or", 1),
    ("read_buf_cfg", "or", 1),
    ("def lambda yield", "or", 1),
    ("index query score", "and", 1),
    ("term doc score block", "or", 3),
    ("zzznonexistent", "or", 1),
    ("import zzznonexistent", "and", 1),
]


@pytest.mark.parametrize("query,op,msm", QUERIES)
def test_rank_identical_vs_oracle(index, corpus_docs, query, op, msm):
    from elasticsearch_spark.analysis import analyze

    params = BM25Params(quantize_norms=True)
    terms = [t for t, _ in analyze(query, "code")]
    got = match_topk(
        index, "content", terms, k=10, operator=op,
        minimum_should_match=msm, params=params,
    ).collect()
    want = oracle_topk(
        corpus_docs, query, k=10, analyzer="code", operator=op,
        minimum_should_match=msm, params=params,
    )
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9, abs_tol=1e-9)


def test_prune_equals_exhaustive(index):
    from elasticsearch_spark.analysis import analyze

    for query in ["import return def", "scanIndex buf_idx", "public class void static"]:
        terms = [t for t, _ in analyze(query, "code")]
        a = match_topk(index, "content", terms, k=10, prune=True).collect()
        b = match_topk(index, "content", terms, k=10, prune=False).collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
            (r["doc_id"], round(r["score"], 9)) for r in b
        ]


@pytest.fixture(scope="module")
def index_one_part(corpus, tmp_path_factory):
    """The same corpus in ONE partition: high-DF terms then span several
    posting blocks, so block-max pruning engages."""
    return build_index(
        corpus,
        str(tmp_path_factory.mktemp("index_one_part")),
        fields={"content": "code"},
        num_partitions=1,
        id_cols=["repo", "path", "commit"],
        input_snapshot="test-corpus-v1",
    )


BATCH_QUERIES = [
    # On the one-partition index ``indexwriter75`` has two blocks with
    # upper bounds 2.288 and 2.097. Here it is the last term, scanned
    # against the theta taken after ``makedoc65`` (2.205), so its 2.097
    # block is restricted to accumulator members (a masked view of the
    # block).
    "makedoc65 indexwriter75",
    # ... and here it is the unrestricted first term, reading the same
    # shared blocks after the query above has visited them.
    "indexwriter75 lit11",
    "import import return",  # repeated term: one clause of weight 2
    "import return def",
    "public class void static",
    "read_buf_cfg",
    "zzznonexistent",
    "import",
]


def test_batch_matches_single_query_path(index, index_one_part):
    """match_topk_batch == per-query match_topk == the exhaustive
    (prune=False) scorer for every slot. The batch scores all queries
    of a partition against one shared term view, so a block decoded
    (or masked) for one query must score identically for the next."""
    from elasticsearch_spark.analysis import analyze
    from elasticsearch_spark.search.executor import match_topk_batch

    term_lists = [[t for t, _ in analyze(q, "code")] for q in BATCH_QUERIES]

    def ranked(rows):
        return [(r["doc_id"], round(r["score"], 9), r["matched"]) for r in rows]

    variants = [
        {},
        {"operator": "and"},
        {"minimum_should_match": 2},
        {"params": BM25Params(quantize_norms=False)},
    ]
    for idx, kws in ((index, variants[:1]), (index_one_part, variants)):
        for kw in kws:
            batch = match_topk_batch(idx, "content", term_lists, k=10, **kw).collect()
            by_slot: dict[int, list] = {}
            for r in batch:
                by_slot.setdefault(r["query_id"], []).append(r)
            for qid, terms in enumerate(term_lists):
                got = ranked(by_slot.get(qid, []))
                single = ranked(match_topk(idx, "content", terms, k=10, **kw).collect())
                exhaustive = ranked(match_topk(
                    idx, "content", terms, k=10, prune=False, **kw).collect())
                assert got == single == exhaustive, (
                    f"slot {qid} ({BATCH_QUERIES[qid]!r}, {kw}) diverged")


def test_zero_hits_plan_no_partitions(index):
    """A request no doc can match returns an empty frame over zero
    partitions: collecting it runs no task."""
    from elasticsearch_spark.search.executor import match_topk_batch

    for df in (
        match_topk(index, "content", ["zzznonexistent"], k=10),
        match_topk_batch(index, "content", [["zzznonexistent"], []], k=10),
    ):
        assert df.collect() == []
        assert df.rdd.getNumPartitions() == 0


@pytest.mark.parametrize("similarity", ["classic", "boolean"])
def test_phrase_and_synonym_refuse_other_similarities(index, similarity):
    """Phrase, phrase-prefix and synonym weights are BM25's; another
    similarity raises instead of scoring a hybrid (e.g. classic idf²
    times a BM25 tf-norm)."""
    from elasticsearch_spark.search.executor import (
        phrase_prefix_topk, phrase_topk, synonym_match_topk)

    p = BM25Params(quantize_norms=False, similarity=similarity)
    for run in (
        lambda: phrase_topk(index, "content", ["public", "static"], params=p),
        lambda: phrase_prefix_topk(index, "content", ["public", "st"], params=p),
        lambda: synonym_match_topk(
            index, "content", [["import", "return"]], params=p),
    ):
        with pytest.raises(ValueError, match=similarity):
            run()


def test_phrase_prefix_one_expansion_is_a_phrase(index):
    """A phrase prefix whose last term expands to exactly one term is
    the phrase completed with that term: same rows, same scores."""
    from elasticsearch_spark.search.executor import (
        expand_terms, phrase_prefix_topk, phrase_topk)

    last = expand_terms(index, "content", "prefix", "st", max_expansions=1)
    assert len(last) == 1
    got = phrase_prefix_topk(
        index, "content", ["public", "st"], k=20, max_expansions=1).collect()
    want = phrase_topk(index, "content", ["public"] + last, k=20).collect()
    assert got
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_doc_stats_and_collection_stats(index, corpus_docs):
    from elasticsearch_spark.analysis import ANALYZERS

    coll = index.collection_stats()["content"]
    assert coll["n_docs"] == N_DOCS
    fn = ANALYZERS["code"]
    ttf = sum(len(fn(t)[0]) for t in corpus_docs.values())
    assert coll["sum_ttf"] == ttf
    assert math.isclose(coll["avgdl"], ttf / N_DOCS)


def test_decoded_postings_roundtrip(index, corpus_docs):
    from elasticsearch_spark.analysis import ANALYZERS

    fn = ANALYZERS["code"]
    rows = decoded_postings(index, "content", ["import"]).collect()
    got = {r["doc_id"]: r["tf"] for r in rows}
    want = {}
    for doc_id, text in corpus_docs.items():
        tf = sum(1 for t in fn(text)[0] if t == "import")
        if tf:
            want[doc_id] = tf
    assert got == want


def test_fetch_phase(index, corpus, corpus_docs):
    from elasticsearch_spark.index.builder import assign_doc_ids

    topk = match_topk(index, "content", ["import"], k=5)
    docs = assign_doc_ids(corpus, ["repo", "path", "commit"])
    hits = fetch(topk, docs).collect()
    assert len(hits) == 5
    assert all("content" in r.asDict() for r in hits)
    scores = [r["score"] for r in hits]
    assert scores == sorted(scores, reverse=True)


def test_resume_after_partial_build(spark, corpus, tmp_path_factory):
    """Build parts {0,1}, 'crash', resume -> identical index to clean build."""
    out_partial = str(tmp_path_factory.mktemp("idx_partial"))
    out_clean = str(tmp_path_factory.mktemp("idx_clean"))
    kwargs = dict(
        fields={"content": "code"},
        num_partitions=4,
        id_cols=["repo", "path", "commit"],
        input_snapshot="v1",
    )
    build_index(corpus, out_partial, _only_parts=[0, 1], **kwargs)
    manifests = load_index(spark, out_partial).manifests()
    assert sorted(m["partition_id"] for m in manifests) == [0, 1]

    idx_resumed = build_index(corpus, out_partial, resume=True, **kwargs)
    manifests = idx_resumed.manifests()
    assert sorted(m["partition_id"] for m in manifests) == [0, 1, 2, 3]
    assert all(m["status"] == "done" for m in manifests)

    idx_clean = build_index(corpus, out_clean, **kwargs)

    def canon(idx):
        rows = idx.postings.select(
            "part_id", "field", "term", "block_id", "n", "doc_ids", "tfs",
            "dls", "positions",
        ).collect()
        return sorted(
            (r["part_id"], r["field"], r["term"] or "", r["block_id"], r["n"],
             bytes(r["doc_ids"]), bytes(r["tfs"]), bytes(r["dls"]),
             bytes(r["positions"])) for r in rows
        )

    assert canon(idx_resumed) == canon(idx_clean)
    td_a = sorted(map(tuple, idx_resumed.term_dict.collect()))
    td_b = sorted(map(tuple, idx_clean.term_dict.collect()))
    assert td_a == td_b


def test_sha256_invariant(corpus):
    import hashlib

    rows = corpus.select("content", "sha256").limit(20).collect()
    for r in rows:
        assert hashlib.sha256(r["content"].encode()).hexdigest() == r["sha256"]


def test_corpus_deterministic(spark):
    a = generate_corpus(spark, 50, seed=42).select("repo", "path", "commit", "content")
    b = generate_corpus(spark, 50, seed=42, partitions=3).select(
        "repo", "path", "commit", "content"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_empty_corpus_build_and_query(spark, tmp_path):
    """Zero-doc builds (e.g. a resume filter matching nothing) must
    produce a loadable, queryable-empty index, not a schema error."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    idx = build_index(
        empty, str(tmp_path / "empty_idx"), fields={"text": "ascii_word"},
        num_partitions=2, input_snapshot="empty",
    )
    assert idx.collection_stats() == {}
    assert match_topk(idx, "text", ["x"], k=5).count() == 0
    assert match_topk(idx, "unknown_field", ["x"], k=5).count() == 0


def test_meta_commit_is_atomic(spark, monkeypatch, tmp_path):
    """index_meta.json is the commit point: a rebuild over an existing
    index whose meta write dies mid-dump must leave the previous meta
    in place, whole."""
    import json
    import os

    from elasticsearch_spark.index import builder

    docs = spark.createDataFrame([(1, "alpha beta"), (2, "beta gamma")],
                                 "doc_id long, text string")
    out = str(tmp_path / "meta_idx")
    kwargs = dict(fields={"text": "ascii_word"}, num_partitions=2)
    build_index(docs, out, input_snapshot="v1", **kwargs)
    meta_path = os.path.join(out, "index_meta.json")
    with open(meta_path) as f:
        before = f.read()

    real_dump = json.dump

    def torn_dump(obj, fp, *args, **kw):
        if "num_partitions" in obj:  # the meta, not a manifest
            fp.write(json.dumps(obj)[:10])
            raise OSError("disk full")
        return real_dump(obj, fp, *args, **kw)

    monkeypatch.setattr(builder.json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        build_index(docs, out, input_snapshot="v2", **kwargs)
    monkeypatch.undo()
    with open(meta_path) as f:
        assert f.read() == before
    assert json.loads(before)["input_snapshot"] == "v1"


def test_sorted_index_range_pruning(spark, corpus, tmp_path_factory):
    """Index sorting (index.sort.field / IndexSortConfig): doc ids are
    sort ranks; a sort-field range == a doc-id range, and
    match_topk(allowed_range=...) equals the allowed-id-set path."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.analysis import analyze
    from elasticsearch_spark.index.builder import (
        assign_sorted_doc_ids, build_index,
    )
    from elasticsearch_spark.search.executor import doc_id_range_for

    docs = corpus.withColumn("clen", F.length("content"))
    ranked = assign_sorted_doc_ids(
        docs, "clen", ["repo", "path", "commit"], num_ranges=4).cache()
    rows = ranked.select("doc_id", "clen").orderBy("doc_id").collect()
    assert [r["doc_id"] for r in rows] == list(range(len(rows)))
    lens = [r["clen"] for r in rows]
    assert lens == sorted(lens)  # ids ARE sort ranks

    out = str(tmp_path_factory.mktemp("sorted_idx"))
    idx = build_index(ranked, out, fields={"content": "code"},
                      num_partitions=4, input_snapshot="sorted")
    lo_len = sorted(lens)[len(lens) // 4]
    hi_len = sorted(lens)[3 * len(lens) // 4]
    lo, hi = doc_id_range_for(ranked, "clen", lo_len, hi_len)
    assert 0 <= lo <= hi < len(lens)
    terms = [t for t, _ in analyze("import return def", "code")]
    got = match_topk(idx, "content", terms, k=10,
                     allowed_range=(lo, hi)).collect()
    ids_df = ranked.where(
        (F.col("clen") >= lo_len) & (F.col("clen") <= hi_len)
    ).select("doc_id")
    want = match_topk(idx, "content", terms, k=10, allowed=ids_df).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
           [(r["doc_id"], round(r["score"], 9)) for r in want]
    assert got and all(lo <= r["doc_id"] <= hi for r in got)
    # empty range short-circuits
    assert match_topk(idx, "content", terms, k=10,
                      allowed_range=(5, 4)).count() == 0

    # the kernel's pruning counters: with theta pruning off, exactly the
    # blocks overlapping [lo, hi] decode and every other block is
    # skipped by its [first_doc, last_doc] range, undecoded. Rare terms
    # have blocks of a few docs, so some lie outside the range.
    rare = [r["term"] for r in idx.term_dict.filter(
        (F.col("field") == "content") & F.col("df").between(2, 6))
        .orderBy("term").limit(40).collect()]
    blocks = idx.postings.filter(
        (F.col("field") == "content") & F.col("term").isin(rare))
    n_in = blocks.filter(
        (F.col("last_doc") >= lo) & (F.col("first_doc") <= hi)).count()
    assert 0 < n_in < blocks.count()
    stats_dir = str(tmp_path_factory.mktemp("prune_stats"))
    env = spark.sparkContext.environment
    env["ES_SPARK_PRUNE_STATS_DIR"] = stats_dir  # read by the workers
    try:
        exhaustive = match_topk(idx, "content", rare, k=None, prune=False,
                                allowed_range=(lo, hi)).collect()
    finally:
        del env["ES_SPARK_PRUNE_STATS_DIR"]
    stats = []
    for name in os.listdir(stats_dir):
        with open(os.path.join(stats_dir, name)) as f:
            stats.append(json.load(f))
    assert stats
    total = {c: sum(st[c] for st in stats)
             for c in ("blocks", "decoded", "skip_sort")}
    assert total["decoded"] == n_in, total
    assert total["skip_sort"] == total["blocks"] - n_in, total
    assert exhaustive and all(lo <= r["doc_id"] <= hi for r in exhaustive)


def test_msearch_template_renders_and_batches(index):
    """_msearch/template: rendered templates == the same queries run
    individually; sections drop cleanly; non-match bodies refuse."""
    import pytest as _pytest
    from elasticsearch_spark.analysis import analyze
    from elasticsearch_spark.search.extras import msearch_template

    tpl = '{"match": {"content": "{{w1}}{{#w2}} {{w2}}{{/w2}}"}}'
    items = [(tpl, {"w1": "import", "w2": "return"}),
             (tpl, {"w1": "public", "w2": ""})]
    got = msearch_template(index, "content", items, k=8, analyzer="code")
    by_slot: dict[int, list] = {}
    for r in got.collect():
        by_slot.setdefault(r["query_id"], []).append(r)
    for qid, text in enumerate(["import return", "public"]):
        terms = [t for t, _ in analyze(text, "code")]
        single = match_topk(index, "content", terms, k=8).collect()
        assert [(r["doc_id"], round(r["score"], 9))
                for r in by_slot.get(qid, [])] == [
            (r["doc_id"], round(r["score"], 9)) for r in single]
    with _pytest.raises(ValueError, match="match bodies"):
        msearch_template(
            index, "content", [('{"term": {"content": "x"}}', {})])


def test_copy_to_field(spark, corpus, tmp_path_factory):
    """copy_to (FieldMapper.CopyTo): the target field's postings equal
    an index built directly over the pre-concatenated sources, and a
    match over the target spans values from either source."""
    out = str(tmp_path_factory.mktemp("copyto"))
    small = corpus.limit(60)
    idx = build_index(
        small,
        out,
        fields={"content": "code", "everything": "code"},
        num_partitions=2,
        id_cols=["repo", "path", "commit"],
        copy_to={"everything": ["lang", "content"]},
        input_snapshot="copyto-v1",
    )
    # manual twin: same docs with the concat done by hand
    out2 = str(tmp_path_factory.mktemp("copyto_manual"))
    idx2 = build_index(
        small.withColumn(
            "everything", F.concat_ws(" ", F.col("lang"), F.col("content"))
        ),
        out2,
        fields={"everything": "code"},
        num_partitions=2,
        id_cols=["repo", "path", "commit"],
        input_snapshot="copyto-v2",
    )
    got = match_topk(idx, "everything", ["python", "import"], k=10).collect()
    want = match_topk(idx2, "everything", ["python", "import"], k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]
    assert len(got) > 0
    # target missing from fields -> loud validation error
    with pytest.raises(ValueError, match="copy_to targets"):
        build_index(
            small,
            str(tmp_path_factory.mktemp("copyto_bad")),
            fields={"content": "code"},
            num_partitions=2,
            id_cols=["repo", "path", "commit"],
            copy_to={"everything": ["lang", "content"]},
        )


def test_source_filter_and_post_filter(spark, corpus, index):
    """_source include/exclude wildcards + post_filter hit narrowing."""
    from elasticsearch_spark.index.builder import assign_doc_ids
    from elasticsearch_spark.search.executor import (
        post_filter_hits,
        source_filter,
    )

    docs = assign_doc_ids(corpus, ["repo", "path", "commit"])
    topk = match_topk(index, "content", ["import"], k=20)
    hits = fetch(topk, docs)
    cols = source_filter(hits, includes=["re*", "lang"],
                         excludes=["repo"]).columns
    assert "lang" in cols and "repo" not in cols
    assert "doc_id" in cols and "score" in cols  # hit metadata kept
    assert "content" not in cols
    # post_filter: hits narrowed, scores unchanged
    pf = post_filter_hits(topk, docs, {"term": {"lang": "python"}})
    got = {(r["doc_id"], round(r["score"], 9)) for r in pf.collect()}
    want = {(r["doc_id"], round(r["score"], 9))
            for r in hits.collect() if r["lang"] == "python"}
    assert got == want


def test_cat_indices(spark, index):
    from elasticsearch_spark.index.builder import cat_indices

    out = cat_indices(spark, [index.path]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["docs_count"] == N_DOCS and r["health"] == "green"
    assert r["store_bytes"] > 0 and r["pri"] == 4
    assert r["distinct_terms"] > 0 and r["postings"] > 0
