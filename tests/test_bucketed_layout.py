"""The shard-bucketed block layout: every writer records one bucket
spec, every block row carries its shard's ``bkey``, a scorer over base +
live segments reads the blocks with no exchange below its kernel, and
an index or MultiIndex that is not bucketed still returns the same
rows (behind an exchange, reported once)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.corpus import generate_corpus
from elasticsearch_spark.index import builder
from elasticsearch_spark.index.builder import (
    MultiIndex,
    _murmur3_int,
    assign_doc_ids,
    bucket_spec,
    build_index,
    index_meta,
    load_index,
)
from elasticsearch_spark.ops.resize import split_index
from elasticsearch_spark.search import executor
from elasticsearch_spark.search.bm25 import BM25Params
from elasticsearch_spark.search.executor import match_topk, phrase_topk
from elasticsearch_spark.streaming.refresh import compact_index, ingest_batch

EXACT = BM25Params(quantize_norms=False)
N = 240
FIELDS = {"content": "code"}


@pytest.fixture(scope="module")
def corpus(spark):
    df = assign_doc_ids(
        generate_corpus(spark, N, seed=23), ["repo", "path", "commit"]
    ).cache()
    df.count()
    return df


def _rows(df) -> list:
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def _kernel_inputs(df) -> list[str]:
    """The plan lines below the scorer's FlatMapGroupsInPandas."""
    lines = df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0].splitlines()

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    at = next(i for i, ln in enumerate(lines) if "FlatMapGroupsInPandas" in ln)
    below = []
    for ln in lines[at + 1:]:
        if depth(ln) <= depth(lines[at]):
            break
        below.append(ln)
    return below


def _assert_bucketed(idx) -> None:
    """Meta records the spec, and every block row's bkey is its
    shard's under that spec."""
    spec = index_meta(idx.path)["bucketing"]
    p = int(index_meta(idx.path)["num_partitions"])
    assert spec == idx.bucketing
    assert spec["buckets"] == min(p, idx.spark.sparkContext.defaultParallelism)
    pairs = {(r["part_id"], r["bkey"])
             for r in idx.postings.select("part_id", "bkey").distinct().collect()}
    assert pairs and pairs == {(q, spec["bkeys"][q]) for q, _ in pairs}


def test_bucket_spec_matches_spark_hash(spark):
    """``bkey`` of shard p lands in bucket p mod B under Spark's own
    bucket hash ``pmod(hash(bkey), B)``."""
    ks = spark.range(0, 64).select(F.col("id").cast("int").alias("k"))
    assert all(_murmur3_int(r["k"]) == r["h"] for r in
               ks.select("k", F.hash("k").alias("h")).collect())
    assert bucket_spec(4, 4) == {"buckets": 4, "bkeys": [12, 6, 2, 0]}
    for shards, cores in ((8, 4), (3, 8), (16, 8), (1, 4)):
        spec = bucket_spec(shards, cores)
        b = spec["buckets"]
        assert b == min(shards, cores)
        got = spark.createDataFrame(
            [(p, k) for p, k in enumerate(spec["bkeys"])], "p int, k int"
        ).select("p", F.pmod(F.hash("k"), F.lit(b)).alias("bucket")).collect()
        assert all(r["bucket"] == r["p"] % b for r in got)


def test_every_writer_records_one_bucket_spec(spark, corpus, tmp_path):
    """Build, three ingests, compaction and split each write the
    bucketed layout and record its spec; a match over the base + live
    segments reads them with no exchange below its kernel and returns
    the batch build's rows."""
    batch = build_index(corpus, str(tmp_path / "batch"), fields=FIELDS,
                        num_partitions=4, input_snapshot="v1")
    _assert_bucketed(batch)
    want = _rows(match_topk(batch, "content", ["import", "return"],
                            params=EXACT))

    base_docs = corpus.filter(F.col("id") < 60)
    inc_dir = str(tmp_path / "inc")
    build_index(base_docs, inc_dir, fields=FIELDS, num_partitions=4,
                input_snapshot="v1")
    for lo, hi in [(60, 120), (120, 180), (180, N)]:
        ingest_batch(corpus.filter((F.col("id") >= lo) & (F.col("id") < hi)),
                     inc_dir, FIELDS, 4, batch_id=lo)
    inc = load_index(spark, inc_dir)
    assert len(inc.block_dirs()) == 4
    _assert_bucketed(inc)
    df = match_topk(inc, "content", ["import", "return"], params=EXACT)
    assert _rows(df) == want
    below = _kernel_inputs(df)
    assert not [ln for ln in below if "Exchange" in ln
                or "AQEShuffleRead" in ln], below
    assert sum("Bucketed: true" in ln for ln in below) == 4, below

    compact_index(spark, inc_dir)
    compacted = load_index(spark, inc_dir)
    assert len(compacted.block_dirs()) == 1
    _assert_bucketed(compacted)
    assert _rows(match_topk(compacted, "content", ["import", "return"],
                            params=EXACT)) == want

    split_dir = str(tmp_path / "split")
    split_index(spark, str(tmp_path / "batch"), split_dir, 8)
    split = load_index(spark, split_dir)
    _assert_bucketed(split)
    assert _rows(match_topk(split, "content", ["import", "return"],
                            params=EXACT)) == want


def test_writers_reuse_the_recorded_spec(spark, corpus, tmp_path):
    """A spec already recorded in index_meta.json wins over the writing
    session's cores, for a resumed build and for an ingest."""
    out = str(tmp_path / "recorded")
    os.makedirs(out)
    spec = bucket_spec(4, 2)
    with open(os.path.join(out, "index_meta.json"), "w") as f:
        json.dump({"num_partitions": 4, "fields": FIELDS, "bucketing": spec}, f)
    idx = build_index(corpus.filter(F.col("id") < 120), out, fields=FIELDS,
                      num_partitions=4, input_snapshot="v1", resume=True)
    ingest_batch(corpus.filter(F.col("id") >= 120), out, FIELDS, 4, batch_id=1)
    idx = load_index(spark, out)
    assert idx.bucketing == spec and index_meta(out)["bucketing"] == spec
    df = phrase_topk(idx, "content", ["import", "return"], slop=50,
                     params=EXACT)
    assert df.collect()
    below = _kernel_inputs(df)
    assert not [ln for ln in below if "Exchange" in ln], below
    assert "SelectedBucketsCount: 2 out of 2" in "\n".join(below), below


def test_resume_rebuilds_parts_without_the_recorded_spec(
        spark, corpus, tmp_path, monkeypatch):
    """A resumed build keeps its finished parts only when the meta
    records the spec they were written with. Parts finished before a
    crash that left no meta, under another session's cores, and parts
    of an index older than the layout are built again, so the blocks
    match the spec the meta then records and a filtered match returns
    the batch build's rows."""
    want_idx = build_index(corpus, str(tmp_path / "batch"), fields=FIELDS,
                           num_partitions=4, input_snapshot="v1")
    allowed = corpus.filter(F.col("lang") == "python").select("doc_id")
    terms = ["import", "return"]

    def rows(idx):
        return _rows(match_topk(idx, "content", terms, params=EXACT,
                                allowed=allowed))

    want = rows(want_idx)
    assert want

    # parts 0-1 finished on 2 cores, then a crash before the meta
    out = str(tmp_path / "crashed")
    two_cores = builder.bucket_spec
    with monkeypatch.context() as m:
        m.setattr(builder, "bucket_spec",
                  lambda shards, cores: two_cores(shards, 2))
        build_index(corpus, out, fields=FIELDS, num_partitions=4,
                    input_snapshot="v1", _only_parts=[0, 1])
    os.remove(os.path.join(out, "index_meta.json"))
    idx = build_index(corpus, out, fields=FIELDS, num_partitions=4,
                      input_snapshot="v1", resume=True)
    assert idx.bucketing["buckets"] == 4
    _assert_bucketed(idx)
    assert rows(idx) == want

    # every part done, but written before the layout: plain Parquet
    # files with no bucket ids and a meta with no spec
    post = os.path.join(want_idx.path, "postings")
    plain = str(tmp_path / "plain")
    spark.read.parquet(post).drop("bkey").write.partitionBy("part_id") \
        .parquet(plain)
    shutil.rmtree(post)
    shutil.move(plain, post)
    meta = index_meta(want_idx.path)
    del meta["bucketing"]
    with open(os.path.join(want_idx.path, "index_meta.json"), "w") as f:
        json.dump(meta, f)
    idx = build_index(corpus, want_idx.path, fields=FIELDS,
                      num_partitions=4, input_snapshot="v1", resume=True)
    _assert_bucketed(idx)
    assert rows(idx) == want


def test_unbucketed_scans_return_the_same_rows(spark, corpus, tmp_path,
                                                capsys, monkeypatch):
    """A MultiIndex whose members have different bucket specs, and an
    index whose meta records none, group their blocks behind Spark's
    exchange and return the rows of a merged, bucketed build — with and
    without a filter allowlist — and say so once on stderr. An index
    without a spec refuses a new segment until it is compacted."""
    left = corpus.filter(F.col("id") % 2 == 0)
    right = corpus.filter(F.col("id") % 2 == 1)
    merged = build_index(corpus, str(tmp_path / "merged"), fields=FIELDS,
                         num_partitions=4, input_snapshot="m")
    a = build_index(left, str(tmp_path / "a"), fields=FIELDS,
                    num_partitions=4, input_snapshot="a")
    b_dir = str(tmp_path / "b")
    os.makedirs(b_dir)
    with open(os.path.join(b_dir, "index_meta.json"), "w") as f:
        json.dump({"bucketing": bucket_spec(4, 2)}, f)
    b = build_index(right, b_dir, fields=FIELDS, num_partitions=4,
                    input_snapshot="b")
    assert a.bucketing["buckets"] != b.bucketing["buckets"]
    multi = MultiIndex([a, b])
    assert multi.bucketing is None

    allowed = corpus.filter(F.col("lang") == "python").select("doc_id")
    terms = ["import", "return"]
    monkeypatch.setattr(executor, "_unbucketed_reported", False)
    for k in (10, None):
        want = _rows(match_topk(merged, "content", terms, k=k, params=EXACT)
                     .orderBy(F.desc("score"), F.asc("doc_id")))
        got = _rows(match_topk(multi, "content", terms, k=k, params=EXACT)
                    .orderBy(F.desc("score"), F.asc("doc_id")))
        assert got and got == want
    want = _rows(match_topk(merged, "content", terms, params=EXACT,
                            allowed=allowed))
    assert want and _rows(match_topk(multi, "content", terms, params=EXACT,
                                     allowed=allowed)) == want

    # the same index with its spec dropped from the meta (an index
    # written before the layout)
    meta = index_meta(merged.path)
    del meta["bucketing"]
    with open(os.path.join(merged.path, "index_meta.json"), "w") as f:
        json.dump(meta, f)
    legacy = load_index(spark, merged.path)
    assert legacy.bucketing is None
    assert _rows(match_topk(legacy, "content", terms, params=EXACT,
                            allowed=allowed)) == want
    err = capsys.readouterr().err
    assert err.count("not shard-bucketed") == 1, err
    with pytest.raises(ValueError, match="bucket spec"):
        ingest_batch(corpus.limit(5), merged.path, FIELDS, 4, batch_id=7)
