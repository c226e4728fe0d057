"""The /verify skill's build-and-drive recipe as a script: corpus ->
index -> query through the public API, plan-shape assertions, plus a
smoke of the newest operator surface. Exits nonzero on failure."""
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elasticsearch_spark import get_spark
from elasticsearch_spark.corpus import generate_corpus
from elasticsearch_spark.index import build_index
from elasticsearch_spark.index.builder import assign_doc_ids
from elasticsearch_spark.analysis import analyze
from elasticsearch_spark.search.executor import (
    fetch, match_topk, multi_term_topk, phrase_prefix_topk, phrase_topk,
    synonym_match_topk)


def main() -> int:
    work = tempfile.mkdtemp(prefix="esidx_")
    try:
        return drive(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def drive(work: str) -> int:
    spark = get_spark("drive", cores=8)
    daemon = spark.sparkContext.getConf().get("spark.python.daemon.module")
    assert daemon == "elasticsearch_spark.worker_daemon", daemon
    corpus = generate_corpus(spark, 300, seed=7).cache()
    idx = build_index(
        corpus, work,
        fields={"content": "code", "path": "code"}, num_partitions=4,
        id_cols=["repo", "path", "commit"], input_snapshot="v1",
    )
    terms = [t for t, _ in analyze("parseIndex import", "code")]
    topk = match_topk(idx, "content", terms, k=5)
    docs = assign_doc_ids(corpus, ["repo", "path", "commit"])
    rows = fetch(topk, docs).collect()
    assert len(rows) == 5, rows
    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        topk.explain("formatted")
    plan = buf.getvalue()
    assert "In(term" in plan, "term filter not pushed down"
    assert "TakeOrderedAndProject" in plan, "top-k not a TakeOrdered"
    # every posting scorer runs on the one skeleton: the shard-bucketed
    # scan feeds the kernel with zero exchanges below it
    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    def below(lines: list[str], at: int) -> list[str]:
        out = []
        for ln in lines[at + 1:]:
            if depth(ln) <= depth(lines[at]):
                break
            out.append(ln)
        return out

    for name, df in (
        ("match_topk", topk),
        ("phrase_topk", phrase_topk(idx, "content", ["public", "static"], k=5)),
        ("phrase_prefix_topk", phrase_prefix_topk(
            idx, "content", ["public", "st"], k=5)),
        ("synonym_match_topk", synonym_match_topk(
            idx, "content", [["import", "return"], ["public"]], k=5)),
        ("multi_term_topk", multi_term_topk(idx, "content", "prefix", "pars")),
    ):
        df.collect()
        lines = df._jdf.queryExecution().executedPlan().toString() \
            .split("== Initial Plan ==")[0].splitlines()
        at = next(i for i, ln in enumerate(lines)
                  if "FlatMapGroupsInPandas" in ln)
        blocks = below(lines, at)
        n = sum("Exchange" in ln or "AQEShuffleRead" in ln for ln in blocks)
        assert n == 0 and any("Bucketed: true" in ln for ln in blocks), \
            f"{name}: {n} exchanges below the kernel"
    from elasticsearch_spark.search.api import search

    # a filtered compound query is one query tree: one posting scan,
    # whose blocks reach the tree's cogroup kernel with no exchange
    q = {"bool": {"must": [{"dis_max": {"tie_breaker": 0.3, "queries": [
             {"match": {"content": "parseIndex import"}},
             {"match_phrase": {"content": "public static"}}]}}],
         "filter": [{"term": {"lang": "python"}}]}}
    hits = search(idx, docs, q, k=5)
    assert hits.collect(), "filtered dis_max: no hits"
    lines = hits._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0].splitlines()
    at = [i for i, ln in enumerate(lines) if "FlatMapCoGroupsInPandas" in ln]
    assert len(at) == 1, f"filtered dis_max: {len(at)} kernels"
    blocks = below(lines, at[0])
    blocks = [ln for ln in blocks[:next(
        (j for j, ln in enumerate(blocks[1:], 1)
         if depth(ln) == depth(blocks[0])), len(blocks))]]
    n = sum("Exchange" in ln or "AQEShuffleRead" in ln for ln in blocks)
    scans = sum("Bucketed: true" in ln for ln in lines)
    assert n == 0 and scans == 1, \
        f"filtered dis_max: {scans} posting scans, {n} exchanges below the kernel"
    # a filtered multi_match is one scored leaf: its allowlist enters
    # one kernel for all fields, never a semi-join

    for mtype in ("best_fields", "cross_fields"):
        q = {"bool": {"must": [{"multi_match": {
                 "query": "parseIndex import src", "type": mtype,
                 "fields": ["content", "path"]}}],
             "filter": [{"term": {"lang": "python"}}]}}
        hits = search(idx, docs, q, k=5)
        assert hits.collect(), mtype
        plan = hits._jdf.queryExecution().executedPlan().toString() \
            .split("== Initial Plan ==")[0]
        n = plan.count("FlatMapCoGroupsInPandas")
        assert n == 1 and "LeftSemi" not in plan, f"{mtype}: {n} cogroups"
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    missing = [k for k in os_ if k not in qs]
    assert not missing, f"oracles without queries: {missing}"
    print(f"DRIVE_OK rows=5 queries={len(qs)} oracles={len(os_)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
