"""Tests for the benchmark's statistics, tracer, checks and layer readers.

    python3 -m pytest perfbench/tests -q

The reader tests start a local[2] Spark session and build a 300-doc
index, so they take a minute.
"""

from __future__ import annotations

import statistics

import numpy as np
import pytest

import checks
import inputs
import layers


# ------------------------------------------------------------ statistics

@pytest.mark.parametrize("n", [1, 2, 5, 21, 100])
def test_percentile_matches_numpy_linear(n):
    xs = np.random.default_rng(n).exponential(size=n)
    for p in (0, 10, 50, 90, 99, 100):
        assert layers.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        layers.percentile([], 50)


@pytest.mark.parametrize("n,expected", [
    (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0)])
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    p = layers.tail_percentile(n)
    assert p == expected
    if p is not None:
        assert n * (100 - p) / 100 >= 10


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 12.0, 9.9, 10.4, 10.1, 10.8, 9.7]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert layers.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)
    assert layers.quartile_spread([5.0] * 10) == 0.0


# ---------------------------------------------------------------- tracer

def _span(t, name, start, end, parent=None):
    t.spans.append(layers.Span(name, start, end, parent, 1))
    return len(t.spans) - 1


def test_self_time_subtracts_covered_child_intervals():
    t = layers.Tracer(True)
    root = _span(t, "op", 0.0, 10.0)
    _span(t, "plan", 1.0, 3.0, root)
    _span(t, "fetch", 2.0, 6.0, root)   # overlaps plan: covered 1..6
    _span(t, "rows", 8.0, 12.0, root)   # clipped to the parent: 8..10
    st = t.self_times()
    assert st["op"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["plan"] == pytest.approx(2.0)
    assert st["rows"] == pytest.approx(4.0)


def test_span_nesting_records_parent_and_request():
    t = layers.Tracer(True)
    with t.span("op", request=7):
        with t.span("plan") as inner:
            pass
    assert inner.parent == 0 and inner.request == 7
    assert all(s.end >= s.start for s in t.spans)


def test_disabled_tracer_records_nothing():
    t = layers.Tracer(False)
    with t.span("op") as s:
        assert s is None
    assert t.spans == []


# ---------------------------------------------------------------- checks

def test_same_topk_accepts_tie_reorder_and_rejects_wrong_docs():
    want = [(1, 3.0), (2, 2.0), (3, 1.0), (4, 1.0)]
    assert checks.same_topk(want, want)
    # docs tied at the cut may differ
    assert checks.same_topk([(1, 3.0), (2, 2.0), (3, 1.0), (9, 1.0)], want)
    # a doc clearly above the cut may not
    assert not checks.same_topk([(1, 3.0), (9, 2.0), (3, 1.0), (4, 1.0)], want)
    assert not checks.same_topk(want[:3], want)
    assert not checks.same_topk([(1, 3.1)] + want[1:], want)
    assert checks.same_topk([], [])


def test_phrase_reference_counts_adjacent_occurrences():
    from elasticsearch_spark.search.bm25 import BM25Params

    docs = {1: "return import return import", 2: "import return",
            3: "return x import"}
    o = checks.Oracle(docs, "code", BM25Params())
    hits = o.phrase_topk(["return", "import"], 10)
    assert [d for d, _ in hits] == [1]
    assert o.phrase_topk(["return", "missingterm"], 10) == []


def test_oracle_topk_matches_uncached_oracle():
    from elasticsearch_spark.oracle.bm25_oracle import oracle_topk
    from elasticsearch_spark.search.bm25 import BM25Params

    docs = {i: " ".join(["parseIndex", "return"] * (i % 4 + 1) + ["x"] * i)
            for i in range(1, 30)}
    o = checks.Oracle(docs, "code", BM25Params())
    for text in ("parseIndex", "return parse", inputs.ZERO_HIT):
        assert o.topk(text, 5) == oracle_topk(docs, text, k=5, analyzer="code",
                                             params=BM25Params())


def test_probe_tokens_are_single_distinct_terms():
    toks = {inputs.probe_token(3, c) for c in range(50)}
    assert len(toks) == 50
    for t in list(toks)[:5]:
        assert inputs._analyze(t) == [t]


def test_facet_expectations():
    import pandas as pd

    pdf = pd.DataFrame({"doc_id": [1, 2, 3, 4], "repo": ["b", "a", "b", "a"],
                        "lang": ["x", "x", "y", "x"], "length": [5, 9, 1, 9]})
    assert checks.facet_terms_expected(pdf, "repo", 1) == [("a", 2)]
    assert checks.top_hits_expected(pdf, "lang", "length", 2) == {
        ("x", 2, 1), ("x", 4, 2), ("y", 3, 1)}


# ---------------------------------------------------------------- readers

@pytest.fixture(scope="module")
def small_index(tmp_path_factory):
    import run

    workdir = str(tmp_path_factory.mktemp("perfbench"))
    run.pin_environment(workdir, trace=False)
    from elasticsearch_spark.corpus import generate_corpus
    from elasticsearch_spark.index.builder import build_index
    from elasticsearch_spark.session import get_spark

    spark = get_spark("perfbench-tests", cores=2)
    idx = build_index(generate_corpus(spark, 300, seed=5), workdir + "/idx",
                      fields={"content": "code"}, num_partitions=4,
                      id_cols=inputs.ID_COLS)
    yield spark, idx


def test_readers_report_scan_rows_and_stage_time(small_index):
    from elasticsearch_spark.search.executor import match_topk

    spark, idx = small_index
    jobs = layers.JobGroups(spark)
    group = jobs.start("known-query")
    df = match_topk(idx, "content", ["return", "import"], k=10)
    rows = df.toArrow()
    jobs.stop()
    assert rows.num_rows == 10
    plan = layers.plan_metrics(df)
    assert plan["scan.rows_read"] > 0
    assert 0 < plan["scan.rows_kept"] <= plan["scan.rows_read"]
    assert plan["scan.files"] > 0
    assert plan["exchange.records"] > 0
    assert plan["scorer.nodes"] == 1
    assert plan["scorer.arrow_sent_bytes"] > 0
    stages = layers.JobGroups.read(jobs, group)
    assert stages["jobs"] >= 1 and stages["stages"] >= 1
    assert stages["tasks"] >= stages["stages"]
    assert stages["run_s"] > 0
    assert stages["post_shuffle_run_s"] > 0
    # a group with no jobs reads as zero
    assert jobs.read("perfbench-no-such-group")["jobs"] == 0


def test_driver_readers(small_index):
    spark, _ = small_index
    assert layers.jvm_gc_s(spark) >= 0
    assert layers.jvm_heap_used_mb(spark) > 0
    assert layers.peak_rss_mb(layers.jvm_pid(spark)) > 100
