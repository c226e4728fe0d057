"""Incremental index refresh via Structured Streaming.

The reference makes writes searchable through periodic refresh (default
1s) that turns the in-memory buffer into a new immutable SEGMENT, later
background-merged (index/IndexSettings.java:171-173 refresh interval,
index/engine/InternalEngine.java refresh -> new Lucene segment,
EsTieredMergePolicy.java merging).

Spark analogue, exploiting that our postings layout is already
segment-shaped: each micro-batch writes its posting blocks (a
"segment") into its own ``segments/batch=<id>`` directory (part_id-
partitioned inside); the query scorer accumulates across ALL block rows
of a term, so multiple segments per (part, term) are transparently
unioned at read time — exactly Lucene's multi-segment search. Global term/collection stats are re-aggregated
from block metadata after each batch (cheap).

Both writers here use the builder's one segment writer
(index/builder.py ``write_segment``): ingest feeds it tokenized docs
exactly as ``build_index`` does, compaction feeds it postings decoded
from the live segments. So ingest + compaction writes byte-for-byte
the blocks a batch build of the same docs writes, and every
``index_meta.json`` update goes through the atomic ``write_index_meta``.

``refresh_stream`` wires readStream -> foreachBatch(ingest) with
checkpointing, so exactly-once batch appends survive restarts (the
translog analogue is Structured Streaming's WAL + our per-batch
manifests). ``compact_index`` is the tiered-merge analogue: rewrite a
partition's segments into one sorted segment set.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from elasticsearch_spark.index.builder import (
    InvertedIndex,
    _part_id,
    _write_json_atomic,
    decoded_rows,
    index_meta,
    rebuild_global_stats,
    tokenize_docs,
    write_index_meta,
    write_segment,
    writer_spec,
)


def ingest_batch(
    batch_df: DataFrame,
    index_dir: str,
    fields: dict[str, str],
    num_partitions: int,
    batch_id: int = -1,
) -> None:
    """Ingest one micro-batch of docs as a new segment + refresh stats.

    Idempotent by construction: each batch writes its blocks to its OWN
    directory ``segments/batch=<id>`` in overwrite mode, so a
    foreachBatch REPLAY after a crash (anywhere between the write and
    the streaming checkpoint commit) rewrites that directory instead of
    appending a duplicate segment — df/tf/n_docs can never inflate.
    The batch manifest is observability only, not a correctness gate."""
    from elasticsearch_spark.ops.ccr import assert_writable

    assert_writable(index_dir)
    spark = batch_df.sparkSession
    spec, recorded = writer_spec(spark, index_dir, num_partitions)
    if not recorded:
        # a segment shares the scan's buckets only with blocks of its
        # own spec, so an index whose blocks carry none must be
        # compacted or rebuilt first; an index with no blocks yet names
        # the spec before the segment is written (a crash after that
        # leaves a meta naming the spec of the segment it was writing)
        idx = InvertedIndex(index_dir, spark)
        if idx.block_dirs():
            raise ValueError(
                f"{index_dir}: its blocks carry no {num_partitions}-shard "
                "bucket spec; compact_index or rebuild it before ingesting")
        write_index_meta(index_dir, {**idx._meta(), "bucketing": spec})
    write_segment(
        tokenize_docs(batch_df.withColumn("part_id", _part_id(num_partitions)),
                      fields),
        os.path.join(index_dir, "segments", f"batch={batch_id}"),
        num_partitions, list(fields), spec,
    )
    refresh_stats(spark, index_dir)
    _write_json_atomic(
        os.path.join(index_dir, "checkpoints", f"batch-{batch_id}.json"),
        {"batch_id": batch_id, "status": "done",
         "refreshed_at_unix": int(time.time())},
    )


def refresh_stats(spark: SparkSession, index_dir: str) -> None:
    """Re-aggregate term_dict / coll_stats from block metadata (the
    DFS-phase globals) — the cheap part of a refresh."""
    rebuild_global_stats(InvertedIndex(index_dir, spark))


def refresh_stream(
    stream_df: DataFrame,
    index_dir: str,
    fields: dict[str, str],
    num_partitions: int = 8,
    checkpoint_dir: str | None = None,
    trigger_seconds: int = 1,
):
    """Wire a streaming docs source into continuous index refresh.

    Returns the StreamingQuery; call .processAllAvailable()/.stop() in
    tests, or let it run with the 1s-style trigger in production.
    """
    os.makedirs(index_dir, exist_ok=True)
    # preserve compaction state (postings_dir/folded_batches) across
    # stream restarts — only the identity fields are (re)written
    prev: dict = {}
    try:
        prev = index_meta(index_dir)
    except (OSError, ValueError):
        pass
    prev.update(
        {"num_partitions": num_partitions, "fields": fields,
         "input_snapshot": "stream"}
    )
    write_index_meta(index_dir, prev)
    checkpoint_dir = checkpoint_dir or os.path.join(index_dir, "_stream_checkpoint")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest_batch(batch_df, index_dir, fields, num_partitions, batch_id)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def compact_index(spark: SparkSession, index_dir: str) -> None:
    """Tiered-merge analogue: rewrite accumulated segments so each
    (part_id, term) has one contiguous sorted block run again.

    Crash-safe publish: the new base is written to its own GENERATION
    directory (``postings_gen_<n>``) and becomes visible through ONE
    atomic ``os.replace`` of index_meta.json that simultaneously (a)
    points ``postings_dir`` at the new generation and (b) appends the
    folded batch ids to ``folded_batches`` (which the reader skips —
    index/builder.py InvertedIndex.postings). A crash before the meta
    swap leaves the old base + segments fully live (the half-written
    generation dir is invisible); a crash after it leaves folded
    segments invisible even though their dirs still exist. df/tf can
    therefore never double-count across a crash — the garbage-collect
    of the old generation and folded segment dirs below is pure
    cleanup, not a correctness step."""
    from elasticsearch_spark.ops.ccr import assert_writable

    assert_writable(index_dir)

    idx = InvertedIndex(index_dir, spark)
    meta = index_meta(index_dir)
    gen = int(meta.get("postings_gen", 0)) + 1
    old_base = meta.get("postings_dir", "postings")
    new_base = f"postings_gen_{gen}"
    # carry the per-(part, field) doc-roster stats rows through the merge;
    # the merge rewrites every live block, so an index without a bucket
    # spec takes one here
    spec, _ = writer_spec(spark, index_dir, int(meta["num_partitions"]))
    write_segment(
        decoded_rows(idx, meta["fields"]), os.path.join(index_dir, new_base),
        int(meta["num_partitions"]), list(meta["fields"]), spec,
        roster=idx.stats_rows,
    )
    import shutil

    seg_root = os.path.join(index_dir, "segments")
    folding = [
        d.split("=", 1)[1]
        for d in (sorted(os.listdir(seg_root)) if os.path.isdir(seg_root) else [])
        if d.startswith("batch=")
    ]
    new_meta = dict(meta)
    new_meta["postings_gen"] = gen
    new_meta["postings_dir"] = new_base
    new_meta["bucketing"] = spec
    new_meta["folded_batches"] = sorted(
        {str(b) for b in meta.get("folded_batches", [])} | set(folding)
    )
    write_index_meta(index_dir, new_meta)  # COMMIT

    # garbage-collect the superseded generation and folded segment dirs
    old_dir = os.path.join(index_dir, old_base)
    if os.path.isdir(old_dir):
        shutil.rmtree(old_dir, ignore_errors=True)
    for b in folding:
        shutil.rmtree(os.path.join(seg_root, f"batch={b}"), ignore_errors=True)

    # prune folded ids whose dirs are actually gone (keeps the list
    # bounded; an id whose rmtree failed stays listed = stays skipped)
    still = {
        b for b in new_meta["folded_batches"]
        if os.path.isdir(os.path.join(seg_root, f"batch={b}"))
    }
    if still != set(new_meta["folded_batches"]):
        new_meta["folded_batches"] = sorted(still)
        write_index_meta(index_dir, new_meta)
    refresh_stats(spark, index_dir)


def force_merge(
    spark: SparkSession, index_dir: str, max_num_segments: int = 1
) -> None:
    """indices.forcemerge (RestForceMergeAction): fold every accumulated
    segment back into one contiguous sorted block run per (part, field).
    Only ``max_num_segments=1`` is meaningful here — intermediate tier
    targets are a Lucene file-count concern; a parquet generation is
    already one "segment" per partition."""
    if int(max_num_segments) != 1:
        raise ValueError(
            "force_merge: only max_num_segments=1 is supported "
            "(a compacted generation is already one segment per shard)")
    compact_index(spark, index_dir)
