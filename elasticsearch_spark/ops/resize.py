"""Index resize: the _shrink API.

Reference: server/.../action/admin/indices/shrink/ (ResizeRequest,
TransportResizeAction) — shrink requires the target shard count to be
a FACTOR of the source count, precisely because ES routes with
``hash % num_shards``: when target | source, ``h % target ==
(h % source) % target``, so every source shard maps wholesale onto one
target shard and shrinking is a file-level regroup, never a per-doc
re-route. This engine uses the identical routing
(``pmod(xxhash64(doc_id), P)``, index/builder.py), so the same factor
rule gives the same zero-rehash shrink.

Spark shape: ONE pass over the posting blocks rewriting
``part_id % target`` (a projection — block payloads, doc ids, and all
global statistics are untouched), written back partitioned by the new
part_id. Unfolded streaming segments fold into the shrunk postings in
the same pass. term_dict / coll_stats copy verbatim. The new
``index_meta.json`` is written LAST (the commit point, as everywhere
else in this engine).

_split (increasing shards) mirrors the reference's ShardSplittingQuery
(server/.../index/shard/ShardSplittingQuery.java): the target count
must be a MULTIPLE of the source count
(IndexMetadata.getRoutingFactor), and each source shard's docs spread
only among its own ``target/source`` target shards, because
``h % kP ≡ (h % P) (mod P)``. Splitting therefore never re-tokenizes
— it decodes posting blocks back to rows, re-routes each posting by
``pmod(xxhash64(doc_id), newP)``, and re-encodes per new shard through
the builder's one segment writer (index/builder.py ``write_segment``,
the same encoder, pinned exchange and marker rows as ``build_index``;
the analysis pass, the dominant build cost, is skipped entirely —
exactly the reference's recover-then-delete-non-owned shape). Global
term / collection statistics are partition-independent and copy
verbatim, so BM25 scores are bit-identical before and after the split.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession, functions as F

from elasticsearch_spark.index.builder import (
    _marker_rows,
    _part_id,
    _write_manifests,
    decoded_rows,
    index_meta,
    load_index,
    write_index_meta,
    write_segment,
)


def shrink_index(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_shards: int,
) -> dict:
    """Shrink ``src_dir`` into ``dst_dir`` with ``target_shards``
    partitions. Returns the new index meta."""
    from elasticsearch_spark.ops.ccr import assert_writable

    meta = dict(index_meta(src_dir))
    p = int(meta["num_partitions"])
    t = int(target_shards)
    if t <= 0 or p % t != 0:
        raise ValueError(
            f"target shard count {t} must be a positive factor of the "
            f"source's {p} (ES ResizeRequest rule)")
    if os.path.exists(os.path.join(dst_dir, "index_meta.json")):
        raise ValueError(f"{dst_dir} already holds an index")
    assert_writable(src_dir)  # followers/snapshots shrink via restore
    os.makedirs(dst_dir, exist_ok=True)

    idx = load_index(spark, src_dir)
    (
        idx.postings.withColumn(
            "part_id", F.pmod(F.col("part_id"), F.lit(t)).cast("int"))
        .write.partitionBy("part_id")
        .parquet(os.path.join(dst_dir, "postings"))
    )
    dl = os.path.join(src_dir, "doc_lengths")
    if os.path.isdir(dl):
        (
            spark.read.parquet(dl).withColumn(
                "part_id", F.pmod(F.col("part_id"), F.lit(t)).cast("int"))
            .write.partitionBy("part_id")
            .parquet(os.path.join(dst_dir, "doc_lengths"))
        )
    for d in ("term_dict", "coll_stats", "bigrams_text"):
        sd = os.path.join(src_dir, d)
        if os.path.isdir(sd):
            shutil.copytree(sd, os.path.join(dst_dir, d))

    meta["num_partitions"] = t
    meta["postings_dir"] = "postings"
    meta["folded_batches"] = []  # segments folded into the rewrite
    meta["shrunk_from"] = {"path": src_dir, "num_partitions": p}
    write_index_meta(dst_dir, meta)
    return meta


def split_index(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_shards: int,
) -> dict:
    """Split ``src_dir`` into ``dst_dir`` with ``target_shards``
    partitions (a MULTIPLE of the source count — the ES routing-factor
    rule). Decode -> re-route -> re-encode; no re-analysis. Returns
    the new index meta."""
    from elasticsearch_spark.ops.ccr import assert_writable

    meta = dict(index_meta(src_dir))
    p = int(meta["num_partitions"])
    t = int(target_shards)
    if t <= p or t % p != 0:
        raise ValueError(
            f"target shard count {t} must be a multiple of (and greater "
            f"than) the source's {p} (ES routing-factor rule)")
    if os.path.exists(os.path.join(dst_dir, "index_meta.json")):
        raise ValueError(f"{dst_dir} already holds an index")
    assert_writable(src_dir)
    os.makedirs(dst_dir, exist_ok=True)

    # re-route: h % kP lands in {h % P, h % P + P, ...} so each source
    # shard's postings scatter only among its own k target shards. The
    # encoder recomputes the per-(part, field) marker rows for the new
    # layout from the decoded postings (docs with zero indexed tokens
    # are absent from postings and so from the new rosters — they carry
    # no postings either, so query results are unaffected).
    rows = decoded_rows(load_index(spark, src_dir), meta["fields"])
    write_segment(rows.withColumn("part_id", _part_id(t)),
                  os.path.join(dst_dir, "postings"), t, len(meta["fields"]))
    dl = os.path.join(src_dir, "doc_lengths")
    if os.path.isdir(dl):
        (
            spark.read.parquet(dl).withColumn("part_id", _part_id(t))
            .write.partitionBy("part_id")
            .parquet(os.path.join(dst_dir, "doc_lengths"))
        )
    # global stats are partition-independent: copy verbatim
    for d in ("term_dict", "coll_stats", "bigrams_text"):
        sd = os.path.join(src_dir, d)
        if os.path.isdir(sd):
            shutil.copytree(sd, os.path.join(dst_dir, d))

    # fresh per-partition checkpoint manifests (the _stats lineage
    # surface) from the new marker rows
    _write_manifests(dst_dir, _marker_rows(load_index(spark, dst_dir)),
                     range(t), meta.get("input_snapshot"), 0)

    meta["num_partitions"] = t
    meta["postings_dir"] = "postings"
    meta["postings_gen"] = 0
    meta["folded_batches"] = []  # segments folded into the rewrite
    meta["split_from"] = {"path": src_dir, "num_partitions": p}
    write_index_meta(dst_dir, meta)
    return meta


def clone_index(src_dir: str, dst_dir: str) -> dict:
    """_clone (RestCloneIndexAction): same shard count, same data — a
    metadata-preserving copy. The reference hard-links segment files;
    parquet dirs are copied (hard-link where the OS allows) since Spark
    jobs may outlive either directory. The clone is writable (ES clones
    drop the write block on the target). Returns the new index meta."""
    import shutil

    if os.path.exists(os.path.join(dst_dir, "index_meta.json")):
        raise ValueError(f"{dst_dir} already holds an index")
    meta = dict(index_meta(src_dir))
    os.makedirs(os.path.dirname(dst_dir) or ".", exist_ok=True)

    def _link_or_copy(s: str, d: str) -> None:
        try:
            os.link(s, d)
        except OSError:
            shutil.copy2(s, d)

    shutil.copytree(src_dir, dst_dir, copy_function=_link_or_copy)
    # a restored/copied index must not inherit follower read-only state
    guard = os.path.join(dst_dir, "ccr_follower.json")
    if os.path.exists(guard):
        os.remove(guard)
    return meta
