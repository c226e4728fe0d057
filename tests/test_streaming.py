"""Incremental index refresh: streamed batches == one-shot batch build."""

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
from elasticsearch_spark.search.bm25 import BM25Params
from elasticsearch_spark.search.executor import match_topk
from elasticsearch_spark.streaming.refresh import (
    compact_index,
    ingest_batch,
    refresh_stream,
)

EXACT = BM25Params(quantize_norms=False)
N = 240


@pytest.fixture(scope="module")
def corpus(spark):
    df = assign_doc_ids(
        generate_corpus(spark, N, seed=11), ["repo", "path", "commit"]
    ).cache()
    df.count()
    return df


def _topk(idx, terms, k=10):
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in match_topk(idx, "content", terms, k=k, params=EXACT).collect()
    ]


def _block_rows(idx):
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in idx.postings.filter(F.col("term").isNotNull()).collect()
    )


def _marker_sums(idx):
    # max_tf (distinct terms) is left out: compaction carries each
    # segment's roster row, so its sum counts a term once per segment
    return sorted(map(tuple, idx.stats_rows.groupBy("part_id", "field").agg(
        *[F.sum(c) for c in ("n", "sum_tf", "first_doc", "last_doc")]
    ).collect()))


def test_incremental_batches_equal_batch_build(spark, corpus, tmp_path):
    # one doc with no indexed tokens: it has no postings, yet must stay
    # in n_docs through ingest and compaction
    empty = assign_doc_ids(spark.createDataFrame(
        [(N, "empty/repo", "empty.py", "0", "python", "")],
        "id long, repo string, path string, commit string, lang string, "
        "content string"), ["repo", "path", "commit"])
    docs = corpus.unionByName(empty, allowMissingColumns=True)
    batch_dir = str(tmp_path / "batch_idx")
    build_index(docs, batch_dir, fields={"content": "code"}, num_partitions=4,
                input_snapshot="v1")
    batch = load_index(spark, batch_dir)
    assert batch.collection_stats()["content"]["n_docs"] == N + 1
    want = _topk(batch, ["import", "return"])

    inc_dir = str(tmp_path / "inc_idx")
    os.makedirs(inc_dir, exist_ok=True)
    import json

    with open(os.path.join(inc_dir, "index_meta.json"), "w") as f:
        json.dump({"num_partitions": 4, "fields": {"content": "code"},
                   "input_snapshot": "stream"}, f)
    # three "micro-batches" by id range
    for lo, hi in [(0, 80), (80, 160), (160, N + 1)]:
        part = docs.filter((F.col("id") >= lo) & (F.col("id") < hi))
        ingest_batch(part, inc_dir, {"content": "code"}, 4, batch_id=lo)
    inc = load_index(spark, inc_dir)
    got = _topk(inc, ["import", "return"])
    assert got == want
    assert sorted(inc.coll_stats.collect()) == sorted(batch.coll_stats.collect())

    # segment merge (tiered-merge analogue) preserves results + phrase data
    compact_index(spark, inc_dir)
    compacted = load_index(spark, inc_dir)
    assert _topk(compacted, ["import", "return"]) == want
    # ... and writes the batch build's blocks: same writer, same bytes
    assert _block_rows(compacted) == _block_rows(batch)
    assert _marker_sums(compacted) == _marker_sums(batch)
    assert sorted(compacted.coll_stats.collect()) == \
        sorted(batch.coll_stats.collect())
    # one segment per (part, term): block_ids contiguous from 0
    from elasticsearch_spark.search.executor import phrase_topk

    ph_before = [
        (r["doc_id"], round(r["score"], 9))
        for r in phrase_topk(
            load_index(spark, batch_dir), "content", ["import", "return"],
            params=EXACT,
        ).collect()
    ]
    ph_after = [
        (r["doc_id"], round(r["score"], 9))
        for r in phrase_topk(compacted, "content", ["import", "return"],
                              params=EXACT).collect()
    ]
    assert ph_after == ph_before


def test_compact_crash_window_does_not_inflate_df(spark, corpus, tmp_path):
    """A crash between the meta commit and the segment GC leaves folded
    segment dirs on disk; the reader must skip them (df/tf must not
    double-count)."""
    import json
    import shutil

    inc_dir = str(tmp_path / "crash_idx")
    os.makedirs(inc_dir, exist_ok=True)
    with open(os.path.join(inc_dir, "index_meta.json"), "w") as f:
        json.dump({"num_partitions": 4, "fields": {"content": "code"},
                   "input_snapshot": "stream"}, f)
    for lo, hi in [(0, 120), (120, N)]:
        batch = corpus.filter((F.col("id") >= lo) & (F.col("id") < hi))
        ingest_batch(batch, inc_dir, {"content": "code"}, 4, batch_id=lo)
    want = _topk(load_index(spark, inc_dir), ["import", "return"])

    seg_root = os.path.join(inc_dir, "segments")
    seg_copy = str(tmp_path / "seg_copy")
    shutil.copytree(seg_root, seg_copy)

    compact_index(spark, inc_dir)

    # reconstruct the crash window: folded segment dirs back on disk,
    # meta still listing them as folded (GC + prune never happened)
    shutil.rmtree(seg_root, ignore_errors=True)
    shutil.copytree(seg_copy, seg_root)
    with open(os.path.join(inc_dir, "index_meta.json")) as f:
        meta = json.load(f)
    meta["folded_batches"] = ["0", "120"]
    with open(os.path.join(inc_dir, "index_meta.json"), "w") as f:
        json.dump(meta, f)

    got = _topk(load_index(spark, inc_dir), ["import", "return"])
    assert got == want  # folded segments invisible -> no df inflation

    # a second compaction over the crash-window state is also clean
    compact_index(spark, inc_dir)
    assert _topk(load_index(spark, inc_dir), ["import", "return"]) == want
    assert not os.path.isdir(seg_root) or not os.listdir(seg_root)


def test_refresh_stream_end_to_end(spark, corpus, tmp_path):
    src_dir = str(tmp_path / "stream_src")
    corpus.limit(100).coalesce(2).write.parquet(src_dir)
    idx_dir = str(tmp_path / "stream_idx")
    stream = (
        spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = refresh_stream(stream, idx_dir, {"content": "code"}, num_partitions=4)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    idx = load_index(spark, idx_dir)
    stats = idx.collection_stats()["content"]
    assert stats["n_docs"] == 100
    hits = _topk(idx, ["import"])
    assert hits
    manifests = [m for m in idx.manifests() if "batch_id" in m]
    assert manifests, "expected per-batch refresh manifests"


def test_refresh_stream_restart_exactly_once(spark, corpus, tmp_path):
    """Restarting the stream from its checkpoint must not re-ingest
    already-processed batches (WAL + idempotent batch ids — the
    translog-replay analogue)."""
    src_dir = str(tmp_path / "restart_src")
    idx_dir = str(tmp_path / "restart_idx")
    ckpt = str(tmp_path / "restart_ckpt")
    corpus.limit(60).coalesce(1).write.mode("append").parquet(src_dir)

    def run_stream():
        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1).parquet(src_dir)
        )
        q = refresh_stream(stream, idx_dir, {"content": "code"},
                            num_partitions=4, checkpoint_dir=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_stream()
    n1 = load_index(spark, idx_dir).collection_stats()["content"]["n_docs"]
    assert n1 == 60
    # new data arrives while the stream is DOWN; restart picks up only it
    corpus.filter((F.col("id") >= 60) & (F.col("id") < 100)).coalesce(1) \
        .write.mode("append").parquet(src_dir)
    run_stream()
    n2 = load_index(spark, idx_dir).collection_stats()["content"]["n_docs"]
    assert n2 == 100, f"expected exactly-once total 100, got {n2}"
