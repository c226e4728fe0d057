"""Distributed inverted-index build: docs -> postings blocks + global stats.

Architecture (Spark-first re-creation of the reference's index path,
action/bulk/TransportBulkAction.java:88 -> index/shard/IndexShard.java:802
-> Lucene IndexWriter; doc->shard routing
cluster/routing/OperationRouting.java:240-246):

  - ``part_id = pmod(xxhash64(doc_id), num_partitions)`` — the shard
    routing hash. The index is DOC-partitioned (like ES shards): every
    partition holds ALL terms for its slice of documents, so query-time
    scoring needs NO shuffle — each partition scores its docs and emits
    a local top-k, merged by one global TakeOrderedAndProject.
  - One tokenize pass (``tokenize_docs``: mapInPandas, Arrow-batched
    pandas — never per-row Python at the Spark level) emits one row per
    (doc, field): its terms plus VByte tf / position blobs.
  - ``write_segment`` is the ONE step that turns postings into stored
    blocks, for every writer: ``build_index``, streaming ingest and
    compaction (streaming/refresh.py) and split (ops/resize.py). One
    shuffle (``place_groups`` on the (part_id, field) slot, which puts
    every group on its own task up to the core count -> applyInPandas
    ``_encode_blocks``) plays the role of ES's segment merge
    (index/EsTieredMergePolicy.java:24-27): each partition's postings
    are term-sorted and encoded into Lucene-style blocks of 128 docs
    (delta+VByte doc ids, VByte tfs/dls/positions) with per-block skip
    metadata (first/last doc, max_tf, min_dl) for block-max-WAND
    pruning, plus one per-(part, field) doc-roster marker row. The
    encoder takes tokenized doc rows (build, ingest) or postings
    decoded from existing blocks (compaction, split) and shares one
    vectorized back half between them. The blocks are stored as a
    ``part_id``-partitioned table bucketed by ``bkey`` (``bucket_spec``),
    so a query's scan is already grouped by shard bucket and its
    scorer needs no exchange.
  - ``index_meta.json`` is the commit point of every writer and is
    only ever replaced atomically (``write_index_meta``).
  - term_dict / coll_stats are aggregated from block METADATA (not raw
    postings) — a cheap second agg, equivalent to the DFS phase's
    global TermStatistics/CollectionStatistics
    (search/dfs/DfsPhase.java:39-55).
  - Per-partition checkpoint manifests (``_write_manifests``, JSON:
    docs/terms/postings counts + lineage; build and split) make the
    build resumable — the analogue of the translog +
    LocalCheckpointTracker (index/translog/Translog.java:78-89,
    index/seqno/LocalCheckpointTracker.java:98,132). Re-running
    ``build_index(..., resume=True)`` skips completed partitions via a
    partition-pruning filter and rebuilds only the cheap global stats.

Scale notes (100 TB / 1000 executors): the only wide shuffle is the
postings merge, keyed by (part_id, field) — balanced by doc-hash
routing, so high-DF terms (``import``, ``return``) spread across ALL
partitions instead of hot-spotting one reducer (this doc-routing IS the
skew strategy; term-keyed layouts need salting, doc-keyed ones don't).
``num_partitions`` is chosen so one partition's postings fit a task
(same sizing rule as ES shards). Files are term-sorted within each
partition so Parquet row-group min/max stats skip non-matching terms at
query time; ``part_id`` is a physical partition column, so doc-routed
point lookups prune directories. The bucket count is min(shards, cores
at build time): at cluster size cores exceed shards and each shard is
its own bucket; a query session with fewer cores than buckets gets the
same answer in more waves.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from elasticsearch_spark.analysis import ANALYZERS
from elasticsearch_spark.index import codec
from elasticsearch_spark.spread import place_groups

# ONE ROW PER (doc, field): terms + aligned VByte-encoded tf / positions
# blobs. Exploding to posting-level rows happens INSIDE the encoder in
# numpy — posting-level rows never cross the Arrow/shuffle boundary
# (125 rows/doc of serialization overhead was the build bottleneck).
TOKENIZED_SCHEMA = (
    "part_id int, doc_id long, field string, dl int, ttf int, "
    "terms array<string>, tfs binary, positions array<binary>"
)


def _posting_stream(plist) -> list[int]:
    """positions array -> [len, first, deltas...] ints."""
    plist = list(plist)
    enc = [len(plist)]
    if plist:
        enc.append(int(plist[0]))
        for i in range(1, len(plist)):
            enc.append(int(plist[i]) - int(plist[i - 1]))
    return enc


def _vb_small(vals: list[int]) -> bytes:
    """Pure-python VByte for tiny int lists (positions of one posting).

    Used by the per-doc reference tokenizer (``vectorized=False``) only;
    VByte is value-independent, so per-posting encodings concatenate
    into exactly the stream ``_position_stream`` writes."""
    for v in vals:
        if v >= 0x80:
            break
    else:
        # all single-byte (the common case: tfs and position deltas)
        return bytes(vals)
    out = bytearray()
    for v in vals:
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def _position_stream(pos: np.ndarray, lens: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Per-posting ``[tf, first, deltas...]`` position streams, VByte-
    encoded in ONE pass. ``pos`` holds every posting's (ascending)
    positions back to back, ``lens[i]`` of them for posting i. Returns
    (buffer, bounds): posting i's bytes are buffer[bounds[i]:bounds[i+1]]
    — the per-posting slices concatenate into exactly the block stream
    codec.decode_positions reads."""
    n = pos.size
    n_groups = lens.size
    g_starts = np.cumsum(lens) - lens
    deltas = np.empty(n, dtype=np.int64)
    deltas[1:] = pos[1:] - pos[:-1]
    deltas[g_starts] = pos[g_starts]
    stream = np.empty(n + n_groups, dtype=np.int64)
    tf_slots = g_starts + np.arange(n_groups)
    stream[tf_slots] = lens
    stream[np.arange(n) + np.repeat(np.arange(n_groups), lens) + 1] = deltas
    enc, offs = codec.vbyte_encode_with_offsets(stream)
    return enc, offs[np.append(tf_slots, n + n_groups)]


def _slices(buf: bytes, bounds: np.ndarray) -> list[bytes]:
    b = bounds.tolist()
    return [buf[lo:hi] for lo, hi in zip(b[:-1], b[1:])]


BLOCKS_SCHEMA = (
    "part_id int, field string, term string, block_id int, n int, "
    "doc_ids binary, tfs binary, dls binary, positions binary, "
    "max_tf int, min_dl int, sum_tf long, first_doc long, last_doc long"
)

# ---------------------------------------------------------------------
# the shard-bucketed block layout
# ---------------------------------------------------------------------
#
# Every block directory (the base generation and each streaming segment)
# is an external Parquet table PARTITIONED BY (part_id) and CLUSTERED BY
# (bkey) INTO B BUCKETS, B = min(shards, cores at build time). ``bkey``
# is an int chosen per shard so that Spark's bucket hash
# ``pmod(hash(bkey), B)`` sends shard p to bucket p mod B: a scan of the
# table reports ``HashPartitioning(bkey, B)``, which already satisfies a
# ``groupBy("bkey")``, so a scorer's kernel runs in the scan's own stage
# with no exchange. The spec is recorded in ``index_meta.json``
# (``bucketing``) and every later writer of the index reuses it.

# the table's columns: BLOCKS_SCHEMA's data columns plus ``bkey``, with
# the partition column last (the order ``insertInto`` matches by)
_TABLE_COLS = [c.split()[0] for c in BLOCKS_SCHEMA.split(", ")][1:] + [
    "bkey", "part_id"]
_TABLE_DDL = BLOCKS_SCHEMA.split(", ", 1)[1] + ", bkey int, part_id int"


def _murmur3_int(k: int, seed: int = 42) -> int:
    """Spark's ``hash(k)`` of an int ``k`` (Murmur3_x86_32.hashInt with
    the SQL seed 42) as a signed 32-bit int — the hash a bucketed write
    and a bucketed scan place ``bkey`` with."""
    m = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    k1 = rotl((k & m) * 0xCC9E2D51 & m, 15) * 0x1B873593 & m
    h = (rotl(seed ^ k1, 13) * 5 + 0xE6546B64) & m
    h ^= 4
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & m
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h >= 1 << 31 else h


def bucket_spec(shards: int, cores: int) -> dict:
    """The bucketing of a ``shards``-shard index built on ``cores``:
    ``{"buckets": B, "bkeys": [bkey of shard p]}`` with B = min(shards,
    cores) — one wave of scorer tasks, each holding at most
    ceil(shards / B) shards — and, for shard p, the smallest int k with
    ``pmod(hash(k), B) == p mod B``."""
    b = max(1, min(shards, cores))
    first: dict[int, int] = {}
    k = 0
    while len(first) < b:
        first.setdefault(_murmur3_int(k) % b, k)
        k += 1
    return {"buckets": b, "bkeys": [first[p % b] for p in range(shards)]}


def shard_bkey(spec: dict | None, part_id: Column) -> Column:
    """The ``bkey`` of shard ``part_id`` under ``spec``; an index with no
    spec keys its groups by the shard itself."""
    if spec is None:
        return part_id
    return F.element_at(F.array(*[F.lit(k) for k in spec["bkeys"]]),
                        part_id + 1)


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _blocks_table(spark: SparkSession, path: str, spec: dict) -> str:
    """Register the block directory ``path`` as an external table
    bucketed with ``spec`` and return its name. The table is made once
    per session, path and bucket count (all its DDL depends on) and
    never dropped, so a query planned on an older handle of ``path``
    always finds it with its partitions. A later registration refreshes
    its file listing instead, so a handle opened after a rewrite of
    ``path`` (a resumed build, a replayed ingest) never reads a stale
    one, and adds the ``part_id`` directories that exist by now."""
    path = os.path.abspath(path)
    b = int(spec["buckets"])
    name = (f"esidx_blocks_{hashlib.sha1(path.encode()).hexdigest()[:20]}"
            f"_b{b}")
    if spark.catalog.tableExists(name):
        spark.sql(f"REFRESH TABLE {name}")
    else:
        # the table's own partitionOverwriteMode: an INSERT OVERWRITE
        # replaces only the part_id directories it writes (a writer
        # option does not reach an insert into a catalog table)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({_TABLE_DDL}) USING parquet "
            f"OPTIONS (partitionOverwriteMode 'dynamic') "
            f"PARTITIONED BY (part_id) CLUSTERED BY (bkey) "
            f"SORTED BY (field, term, block_id) INTO {b} "
            f"BUCKETS LOCATION {_sql_str(path)}")
    parts = sorted(
        int(d.split("=", 1)[1]) for d in
        (os.listdir(path) if os.path.isdir(path) else [])
        if d.startswith("part_id=") and d.split("=", 1)[1].isdigit())
    if parts:
        spark.sql(f"ALTER TABLE {name} ADD IF NOT EXISTS " + " ".join(
            f"PARTITION (part_id={p})" for p in parts))
    return name


@dataclass
class InvertedIndex:
    """Handle to a built index (paths + lazily-read DataFrames)."""

    path: str
    spark: SparkSession

    _postings_df: DataFrame | None = None
    _spec: dict | None = None

    def _meta(self) -> dict:
        try:
            return index_meta(self.path)
        except (OSError, ValueError):
            return {}  # partially-built index: fall back to the layout

    def block_dirs(self, meta: dict | None = None) -> list[str]:
        """The live block directories: the base generation, then every
        streaming segment (``segments/batch=<id>``) not yet folded.

        index_meta.json is the COMMIT POINT for compaction: it names the
        live base-postings generation dir and lists the segment batch
        ids already folded into it. Both fields flip in one atomic
        os.replace (streaming/refresh.py compact_index), so a crash
        mid-compaction can never make a folded segment visible twice
        (df/tf would inflate) nor hide one that was not yet folded.
        Streaming appends land in their OWN batch directory, overwritten
        per part_id, so a foreachBatch replay after a crash rewrites the
        same directory instead of duplicating postings (exactly-once by
        construction; see streaming/refresh.py)."""
        meta = self._meta() if meta is None else meta
        folded = {str(b) for b in meta.get("folded_batches", [])}
        paths = []
        base = os.path.join(self.path, meta.get("postings_dir", "postings"))
        if os.path.exists(base):
            paths.append(base)
        seg_root = os.path.join(self.path, "segments")
        if os.path.isdir(seg_root):
            paths += [
                os.path.join(seg_root, d)
                for d in sorted(os.listdir(seg_root))
                if d.startswith("batch=") and d.split("=", 1)[1] not in folded
            ]
        return paths

    @property
    def bucketing(self) -> dict | None:
        """The ``bucket_spec`` this index's blocks were written with;
        None for an index without one."""
        self.postings  # noqa: B018 - the spec is read with the layout
        return self._spec

    @property
    def postings(self) -> DataFrame:
        """Every live block directory's blocks (``block_dirs``), with
        ``bkey``. One DataFrame per handle; the tables' file listings
        are cached in the session, so repeated queries skip re-listing
        the partition directories, and a new handle (``load_index``)
        refreshes every table it reads, so they are listed afresh.

        Each directory is a table bucketed by ``bkey`` with the index's
        one spec, so their union is still partitioned by bkey and a
        scorer's ``groupBy("bkey")`` needs no exchange. An index whose
        meta records no spec (or has no meta yet, mid-build) is read as
        plain Parquet with bkey = part_id: the same rows, grouped behind
        an exchange."""
        if self._postings_df is None:
            meta = self._meta()
            self._spec = meta.get("bucketing")
            df = None
            for p in self.block_dirs(meta):
                if self._spec is None:
                    # explicit schema: no footer sampling, and an EMPTY
                    # directory reads as an empty frame
                    part = self.spark.read.schema(BLOCKS_SCHEMA).parquet(p) \
                        .withColumn("bkey", F.col("part_id"))
                else:
                    part = self.spark.table(
                        _blocks_table(self.spark, p, self._spec))
                df = part if df is None else df.unionByName(part)
            self._postings_df = df if df is not None else \
                self.spark.createDataFrame([], f"{BLOCKS_SCHEMA}, bkey int")
        return self._postings_df

    def cache(self) -> "InvertedIndex":
        """Pin the posting blocks in executor memory (the reference's
        filesystem-cache-warm analogue for hot indexes)."""
        self.postings.persist()
        return self

    @property
    def doc_lengths(self) -> DataFrame:
        """Optional sidecar (build_index(store_doc_lengths=True)):
        (part_id, doc_id, field, dl, ttf) — needed only by operators
        that must know every field's length for arbitrary docs
        (combined_fields/BM25F); plain BM25 reads dl from postings."""
        return self.spark.read.parquet(os.path.join(self.path, "doc_lengths"))

    @property
    def stats_rows(self) -> DataFrame:
        """Per-(part, field) doc-roster aggregate rows (term IS NULL in
        the postings table): n=n_docs, sum_tf=sum_ttf, first_doc=sum_dl."""
        return self.postings.filter(F.col("term").isNull())

    @property
    def term_dict(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "term_dict"))

    @property
    def coll_stats(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "coll_stats"))

    _coll_cache: dict | None = None

    def collection_stats(self) -> dict[str, dict[str, float]]:
        """{field: {n_docs, sum_ttf, sum_dl, avgdl}} — tiny; collected
        once per handle (the DFS-phase global stats every query needs)."""
        if self._coll_cache is not None:
            return self._coll_cache
        rows = self.coll_stats.collect()
        self._coll_cache = {
            r["field"]: {
                "n_docs": float(r["n_docs"]),
                "sum_ttf": float(r["sum_ttf"]),
                "sum_dl": float(r["sum_dl"]),
                "avgdl": float(r["avgdl"]),
            }
            for r in rows
        }
        return self._coll_cache

    _term_cache: dict | None = None
    _term_cache_state: str = "unchecked"  # unchecked | cached | too_big

    def _term_stats_scan(self, field: str, terms: list[str]) -> DataFrame:
        """Pushed-down per-query TermStatistics scan (the no-cache
        path): the In(term, ...) predicate reaches the parquet reader,
        so only the queried terms' row groups are read."""
        return self.term_dict.filter(
            (F.col("field") == field) & F.col("term").isin(terms)
        )

    def term_stats(self, field: str, terms: list[str]) -> list:
        """TermStatistics lookup for a query's terms. Term dicts within
        a bounded driver budget (<= 250k entries) are collected ONCE
        per handle into plain tuples (the coordinator-side stats cache
        — saves one Spark job per query; tuples, not Rows: 2M pyspark
        Rows in a dict is multi-GB of driver heap). Larger dictionaries
        always use the pushed-down filter + collect path."""
        if self._term_cache_state == "unchecked":
            if self.term_dict.count() <= 250_000:
                pdf = self.term_dict.toPandas()
                self._term_cache = {
                    (f, t): (int(df_), int(cf), int(mt), int(md))
                    for f, t, df_, cf, mt, md in zip(
                        pdf["field"], pdf["term"], pdf["df"], pdf["cf"],
                        pdf["max_tf"], pdf["min_dl"])
                }
                self._term_cache_state = "cached"
            else:
                self._term_cache_state = "too_big"
        if self._term_cache_state == "cached":
            out = []
            for t in terms:
                v = self._term_cache.get((field, t))
                if v is not None:
                    out.append({"field": field, "term": t, "df": v[0],
                                "cf": v[1], "max_tf": v[2], "min_dl": v[3]})
            return out
        return self._term_stats_scan(field, terms).collect()

    _nparts: int | None = None

    def num_partitions(self) -> int:
        """Shard count the builder routed docs with — needed by any
        operator that must co-locate external doc ids with the index
        partitions (e.g. pushing a filter's allowlist into the scorer:
        part_id = pmod(xxhash64(doc_id), num_partitions))."""
        if self._nparts is None:
            self._nparts = int(index_meta(self.path)["num_partitions"])
        return self._nparts

    def analyzer(self, field: str) -> str:
        """The analyzer ``field`` was indexed with."""
        return index_meta(self.path)["fields"].get(field, "standard")

    def route_ids(self, ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
        """Attach the index's routing part_id and its bkey to a frame of
        doc ids (the builder's expressions, so ids land in the group
        holding their postings)."""
        return _routed(ids_df, id_col, self.num_partitions(), self.bucketing)

    def manifests(self) -> list[dict]:
        ckpt_dir = os.path.join(self.path, "checkpoints")
        out = []
        if os.path.isdir(ckpt_dir):
            for name in sorted(os.listdir(ckpt_dir)):
                if name.endswith(".json"):
                    with open(os.path.join(ckpt_dir, name)) as f:
                        out.append(json.load(f))
        return out


def _tokenize_field_flat(pdf: pd.DataFrame, field: str, analyzer_name: str) -> pd.DataFrame:
    """Vectorized tokenize+assemble for one field of one Arrow batch:
    ONE C-level regex pass (analyze_flat), then numpy grouping kernels
    (factorize + lexsort + reduceat-style boundary math) and ONE VByte
    pass per stream — no per-document or per-token Python. This replaced
    a per-doc loop that was the 100-TB index-build cost center."""
    from elasticsearch_spark.analysis.analyzers import analyze_flat_codes

    n_rows = len(pdf)
    part_arr = pdf["part_id"].to_numpy()
    docid_arr = pdf["doc_id"].to_numpy(dtype=np.int64)
    doc_idx, codes, uniques, pos = analyze_flat_codes(pdf[field], analyzer_name)

    terms_col: list = [[] for _ in range(n_rows)]
    tfs_col: list = [b""] * n_rows
    pos_col: list = [[] for _ in range(n_rows)]
    if doc_idx.size == 0:
        return pd.DataFrame({
            "part_id": part_arr, "doc_id": docid_arr, "field": field,
            "dl": np.zeros(n_rows, dtype=np.int64),
            "ttf": np.zeros(n_rows, dtype=np.int64),
            "terms": terms_col, "tfs": tfs_col, "positions": pos_col,
        })

    n = doc_idx.size
    ttf = np.bincount(doc_idx, minlength=n_rows)
    # dl = position-advancing tokens (discountOverlaps; stop-gaps ignored)
    adv = np.empty(n, dtype=bool)
    adv[0] = True
    adv[1:] = (doc_idx[1:] != doc_idx[:-1]) | (pos[1:] > pos[:-1])
    dl = np.bincount(doc_idx[adv], minlength=n_rows)

    # group to (doc, term) postings. analyze_flat_codes output is already
    # (doc, position)-ordered, so ONE stable sort on the fused
    # (doc, term-code) key groups postings while keeping positions
    # ascending per group — numpy's stable int sort is a radix sort,
    # ~5x cheaper than a 3-key lexsort here.
    key = doc_idx * np.int64(len(uniques)) + codes
    order = np.argsort(key, kind="stable")
    doc_s = doc_idx[order]
    code_s = codes[order]
    pos_s = pos[order]
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    new_group[1:] = (doc_s[1:] != doc_s[:-1]) | (code_s[1:] != code_s[:-1])
    g_starts = np.flatnonzero(new_group)
    n_groups = g_starts.size
    tf = np.diff(np.append(g_starts, n))

    # per-posting position blobs are byte slices of ONE VByte pass
    blobs = _slices(*_position_stream(pos_s, tf))

    enc_tf, offs_tf = codec.vbyte_encode_with_offsets(tf)
    g_terms = uniques[code_s[g_starts]]
    g_docs = doc_s[g_starts]
    new_doc = np.empty(n_groups, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = g_docs[1:] != g_docs[:-1]
    d_starts = np.flatnonzero(new_doc)
    d_ends = np.append(d_starts[1:], n_groups)
    g_terms_list = g_terms.tolist()
    for a, b, di in zip(d_starts.tolist(), d_ends.tolist(), g_docs[d_starts].tolist()):
        terms_col[di] = g_terms_list[a:b]
        tfs_col[di] = enc_tf[offs_tf[a]:offs_tf[b]]
        pos_col[di] = blobs[a:b]

    return pd.DataFrame({
        "part_id": part_arr, "doc_id": docid_arr, "field": field,
        "dl": dl.astype(np.int64), "ttf": ttf.astype(np.int64),
        "terms": terms_col, "tfs": tfs_col, "positions": pos_col,
    })


def _make_tokenizer(fields: dict[str, str], vectorized: bool = True):
    """fields: {column_name: analyzer_name}. Returns a mapInPandas fn
    emitting ONE row per (doc, field) with term lists + VByte blobs.
    ``vectorized=False`` keeps the original per-doc reference path
    (used by the parity test)."""

    # Sub-batch cap: an Arrow batch is up to 10k docs (~5M tokens for
    # code), and the flat kernels materialize ~10 token-sized arrays —
    # at 32 concurrent tasks that working set saturates one box's
    # memory bandwidth. 2k-doc chunks keep each task's arrays ~L3-ish
    # while preserving the vectorization win.
    CHUNK = 2048

    def tokenize_vec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            for lo in range(0, len(pdf), CHUNK):
                chunk = pdf.iloc[lo:lo + CHUNK].reset_index(drop=True)
                outs = [
                    _tokenize_field_flat(chunk, field, analyzer_name)
                    for field, analyzer_name in fields.items()
                ]
                yield outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    def tokenize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "part_id": [], "doc_id": [], "field": [], "dl": [],
                "ttf": [], "terms": [], "tfs": [], "positions": [],
            }
            for field, analyzer_name in fields.items():
                fn = ANALYZERS[analyzer_name]
                texts = pdf[field].fillna("").tolist()
                part_ids = pdf["part_id"].tolist()
                doc_ids = pdf["doc_id"].tolist()
                for part, doc, text in zip(part_ids, doc_ids, texts):
                    terms, positions = fn(text)
                    per_term: dict[str, list[int]] = {}
                    for t, p in zip(terms, positions):
                        per_term.setdefault(t, []).append(p)
                    # dl = number of position-ADVANCING tokens (Lucene
                    # FieldInvertState length with discountOverlaps):
                    # overlap tokens (posIncr 0) count once, and position
                    # GAPS (e.g. stop-filter removals) do not count —
                    # positions[-1]+1 would overcount removed stopwords.
                    dl = len(set(positions))
                    rows["part_id"].append(part)
                    rows["doc_id"].append(doc)
                    rows["field"].append(field)
                    rows["dl"].append(dl)
                    rows["ttf"].append(len(terms))
                    rows["terms"].append(list(per_term.keys()))
                    rows["tfs"].append(
                        _vb_small([len(p) for p in per_term.values()])
                    )
                    rows["positions"].append(
                        [_vb_small(_posting_stream(p)) for p in per_term.values()]
                    )
            yield pd.DataFrame(rows)

    return tokenize_vec if vectorized else tokenize


def _doc_row_postings(pdf: pd.DataFrame):
    """Encoder front for tokenized DOC rows (TOKENIZED_SCHEMA; build and
    ingest): the group IS the doc roster (zero-token docs included), and
    the per-doc term lists and blobs numpy-explode to flat postings —
    posting-level rows never cross the Arrow/shuffle boundary."""
    roster = (int(pdf["doc_id"].nunique()), int(pdf["ttf"].sum()),
              int(pdf["dl"].sum()))
    terms_lists = pdf["terms"].tolist()
    lens = np.fromiter((len(t) for t in terms_lists), dtype=np.int64,
                       count=len(terms_lists))
    total = int(lens.sum())
    doc_rep = np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), lens)
    dl_rep = np.repeat(pdf["dl"].to_numpy(dtype=np.int64), lens)
    tf_flat = codec.vbyte_decode(b"".join(pdf["tfs"].tolist()))
    terms_flat = np.empty(total, dtype=object)
    pos_flat = np.empty(total, dtype=object)
    i = 0
    for tl, pl in zip(terms_lists, pdf["positions"].tolist()):
        n = len(tl)
        terms_flat[i : i + n] = tl
        pos_flat[i : i + n] = pl
        i += n
    return roster, doc_rep, dl_rep, tf_flat, terms_flat, pos_flat


def _decoded_row_postings(pdf: pd.DataFrame):
    """Encoder front for postings decoded from existing blocks
    (compaction, split; columns term, doc_id, tf, dl, positions): the
    roster is the distinct docs that have postings, and every position
    list is re-encoded in ONE ``_position_stream`` pass."""
    doc = pdf["doc_id"].to_numpy(dtype=np.int64)
    dl = pdf["dl"].to_numpy(dtype=np.int64)
    tf = pdf["tf"].to_numpy(dtype=np.int64)
    first = np.unique(doc, return_index=True)[1]
    roster = (int(first.size), int(tf.sum()), int(dl[first].sum()))
    plists = pdf["positions"].tolist()
    lens = np.fromiter(map(len, plists), dtype=np.int64, count=len(plists))
    pos_flat = np.empty(len(plists), dtype=object)
    pos_flat[:] = _slices(*_position_stream(
        np.concatenate(plists).astype(np.int64), lens))
    return roster, doc, dl, tf, pdf["term"].to_numpy(dtype=object), pos_flat


def _encode_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas fn for one (part_id, field) group — the one block
    encoder of every writer (see ``write_segment``). Takes either
    tokenized doc rows or decoded posting rows, reduces them to flat
    posting arrays, then term-sorts and emits Lucene-style blocks + ONE
    aggregate stats row (term=NULL, n=n_docs, sum_tf=sum_ttf,
    first_doc=sum_dl)."""
    front = _doc_row_postings if "terms" in pdf.columns else _decoded_row_postings
    roster, doc_rep, dl_rep, tf_flat, terms_flat, pos_flat = front(pdf)
    n_docs, sum_ttf, sum_dl = roster
    part_id = int(pdf["part_id"].iloc[0])
    field = pdf["field"].iloc[0]
    out: dict[str, list] = {k: [] for k in (
        "part_id", "field", "term", "block_id", "n", "doc_ids", "tfs",
        "dls", "positions", "max_tf", "min_dl", "sum_tf", "first_doc",
        "last_doc",
    )}
    # stats row: the group's doc roster. Two otherwise-unused marker
    # fields carry the group's index-size metrics so NO post-build job
    # ever re-scans the posting metadata to count them: max_tf = distinct
    # terms, last_doc = posting count (both are filled in below once the
    # group is term-sorted).
    out["part_id"].append(part_id)
    out["field"].append(field)
    out["term"].append(None)
    out["block_id"].append(-1)
    out["n"].append(n_docs)
    out["doc_ids"].append(b"")
    out["tfs"].append(b"")
    out["dls"].append(b"")
    out["positions"].append(b"")
    out["max_tf"].append(0)
    out["min_dl"].append(0)
    out["sum_tf"].append(sum_ttf)
    out["first_doc"].append(sum_dl)
    out["last_doc"].append(0)
    if doc_rep.size == 0:
        return pd.DataFrame(out)
    # sorted unique terms + per-posting codes, then one global lexsort
    codes, uniques = pd.factorize(terms_flat, sort=True)
    out["max_tf"][0] = int(len(uniques))   # marker: num_terms
    out["last_doc"][0] = int(codes.size)   # marker: num_postings
    order = np.lexsort((doc_rep, codes))
    codes = codes[order]
    doc_rep = doc_rep[order]
    dl_rep = dl_rep[order]
    tf_flat = tf_flat[order]
    pos_flat = pos_flat[order]
    n = codes.size
    # term runs -> block boundaries (every BLOCK_SIZE within a run);
    # a block's candidate "next start" at a run edge IS the next run's
    # start, so block_ends never cross term boundaries
    run_bounds = np.flatnonzero(np.diff(codes)) + 1
    run_starts = np.concatenate(([0], run_bounds))
    run_ends = np.concatenate((run_bounds, [n]))
    run_lens = run_ends - run_starts
    off_in_run = np.arange(n) - np.repeat(run_starts, run_lens)
    block_starts = np.flatnonzero(off_in_run % codec.BLOCK_SIZE == 0)
    block_ends = np.concatenate((block_starts[1:], [n]))
    block_ids = off_in_run[block_starts] // codec.BLOCK_SIZE

    # doc-id deltas with an ABSOLUTE value at every block start (each
    # block decodes independently), then ONE VByte pass per stream
    deltas = np.empty_like(doc_rep)
    deltas[0] = doc_rep[0]
    np.subtract(doc_rep[1:], doc_rep[:-1], out=deltas[1:])
    deltas[block_starts] = doc_rep[block_starts]
    enc_d, off_d = codec.vbyte_encode_with_offsets(deltas)
    enc_t, off_t = codec.vbyte_encode_with_offsets(tf_flat)
    enc_l, off_l = codec.vbyte_encode_with_offsets(dl_rep)

    max_tf = np.maximum.reduceat(tf_flat, block_starts)
    min_dl = np.minimum.reduceat(dl_rep, block_starts)
    sum_tf = np.add.reduceat(tf_flat, block_starts)
    pos_list = pos_flat.tolist()

    block_terms = uniques[codes[block_starts]]
    for i in range(block_starts.size):
        lo = int(block_starts[i])
        hi = int(block_ends[i])
        out["part_id"].append(part_id)
        out["field"].append(field)
        out["term"].append(block_terms[i])
        out["block_id"].append(int(block_ids[i]))
        out["n"].append(hi - lo)
        out["doc_ids"].append(enc_d[off_d[lo]:off_d[hi]])
        out["tfs"].append(enc_t[off_t[lo]:off_t[hi]])
        out["dls"].append(enc_l[off_l[lo]:off_l[hi]])
        out["positions"].append(b"".join(pos_list[lo:hi]))
        out["max_tf"].append(int(max_tf[i]))
        out["min_dl"].append(int(min_dl[i]))
        out["sum_tf"].append(int(sum_tf[i]))
        out["first_doc"].append(int(doc_rep[lo]))
        out["last_doc"].append(int(doc_rep[hi - 1]))
    return pd.DataFrame(out)


def _marker_rows(idx: "InvertedIndex") -> list:
    """Collect the per-(part, field) marker rows (a few per index)."""
    return (
        idx.stats_rows
        .select("part_id", "field", "n", "sum_tf", "first_doc",
                "max_tf", "last_doc")
        .collect()
    )


def rebuild_global_stats(idx: "InvertedIndex") -> list:
    """Re-aggregate term_dict + coll_stats from block METADATA (the
    DFS-phase global TermStatistics/CollectionStatistics) — cheap, no
    raw-posting decode.

    term_dict is the only wide aggregation (one job).  coll_stats comes
    from the per-(part, field) marker rows — a few rows per index — so
    they are COLLECTED once (filter ``term IS NULL`` prunes to the
    first row group of each term-sorted file via parquet null counts),
    summed driver-side, and written back as a one-partition parquet;
    a second full metadata scan + shuffle would cost more than the
    whole aggregate.  Returns the collected marker rows so the build
    can derive its per-partition manifest metrics from the same pass.
    """
    out_dir = idx.path
    spark = idx.spark
    # Same AQE pathology as the encode stage (see build_index): the
    # final-agg stage of this CPU-bound metadata aggregation is
    # byte-coalesced to ONE task at sandbox sizes (a few tens of MB of
    # term rows), turning a parallel merge into a flat serial second or
    # two on every build — pure non-scaling overhead in the N -> 4N
    # gate. Pin coalescing off for just this job; at 100-TB term
    # dictionaries the partitions exceed the advisory size and the
    # toggle is a no-op.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    try:
        spark.conf.set(coalesce_key, "false")
        (
            idx.postings.filter(F.col("term").isNotNull())
            .groupBy("field", "term")
            .agg(
                F.sum("n").alias("df"),
                F.sum("sum_tf").alias("cf"),
                F.max("max_tf").alias("max_tf"),
                F.min("min_dl").alias("min_dl"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "term_dict"))
        )
    finally:
        spark.conf.set(coalesce_key, prev)
    markers = _marker_rows(idx)
    per_field: dict[str, list[int]] = {}
    for r in markers:
        acc = per_field.setdefault(r["field"], [0, 0, 0])
        acc[0] += int(r["n"])
        acc[1] += int(r["sum_tf"])
        acc[2] += int(r["first_doc"])
    # Lucene avgdl = sumTotalTermFreq / docCount (includes overlap
    # tokens even though per-doc norms discount them)
    rows = [
        (f, n_docs, sum_ttf, sum_dl,
         (sum_ttf / n_docs) if n_docs else 0.0)
        for f, (n_docs, sum_ttf, sum_dl) in sorted(per_field.items())
    ]
    # coll_stats is a handful of driver-side rows; a Spark job
    # (createDataFrame + coalesce(1) + committer) costs ~1s of flat
    # per-build overhead for what is a single tiny file. Write it
    # directly with pyarrow — same schema, same directory layout the
    # Spark reader expects.
    import pyarrow as pa
    import pyarrow.parquet as pq

    cs_dir = os.path.join(out_dir, "coll_stats")
    os.makedirs(cs_dir, exist_ok=True)
    for fn in os.listdir(cs_dir):
        os.remove(os.path.join(cs_dir, fn))
    table = pa.table(
        {
            "field": pa.array([r[0] for r in rows], pa.string()),
            "n_docs": pa.array([r[1] for r in rows], pa.int64()),
            "sum_ttf": pa.array([r[2] for r in rows], pa.int64()),
            "sum_dl": pa.array([r[3] for r in rows], pa.int64()),
            "avgdl": pa.array([r[4] for r in rows], pa.float64()),
        }
    )
    pq.write_table(table, os.path.join(cs_dir, "part-00000.parquet"))
    idx._coll_cache = None
    return markers


def assign_doc_ids(df: DataFrame, id_cols: list[str]) -> DataFrame:
    """Stable distributed doc ids: xxhash64 over the natural key
    (reference analogue: _id + murmur3 routing hash,
    OperationRouting.java:240-246). 64-bit — collision odds are
    ~n^2/2^65; at 10^12 docs switch id_cols to include a wider hash."""
    return df.withColumn("doc_id", F.xxhash64(*[F.col(c) for c in id_cols]))


def assign_sorted_doc_ids(
    df: DataFrame,
    sort_col: str,
    tiebreak_cols: list[str] | None = None,
    num_ranges: int | None = None,
) -> DataFrame:
    """INDEX SORTING: doc ids assigned in sort-key order.

    Reference: ES ``index.sort.field`` (index/IndexSortConfig.java) /
    Lucene IndexWriterConfig.setIndexSort — docs are renumbered so doc
    order == sort order, which turns a range filter on the sort field
    into a doc-id RANGE; posting blocks outside it skip via their
    (first_doc, last_doc) metadata without decoding (Lucene's
    sorted-index early termination). Pair with
    ``match_topk(allowed_range=...)``.

    Distributed rank without a single-reducer sort: ONE range-exchange
    (repartitionByRange on the sort key) + sortWithinPartitions, then
    per-partition counts (P tiny numbers) collected once and cumulative
    offsets broadcast back; each task numbers its rows
    offset + ordinal in a narrow mapInPandas pass. The persisted frame
    pins the sampled range boundaries so both passes see one
    partitioning.
    """
    import numpy as np

    spark = df.sparkSession
    tiebreak_cols = tiebreak_cols or []
    nparts = num_ranges or spark.sparkContext.defaultParallelism
    key = [F.col(sort_col)] + [F.col(c) for c in tiebreak_cols]
    ranged = (
        df.repartitionByRange(nparts, *key)
        .sortWithinPartitions(*key)
        .persist()
    )
    counts = {
        int(r["pid"]): int(r["c"])
        for r in ranged.select(
            F.spark_partition_id().alias("pid")
        ).groupBy("pid").agg(F.count("*").alias("c")).collect()
    }
    offsets = {}
    acc = 0
    for pid in range(max(counts) + 1 if counts else 0):
        offsets[pid] = acc
        acc += counts.get(pid, 0)
    bc = spark.sparkContext.broadcast(offsets)

    def number(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = bc.value.get(pid, 0)
        seen = 0
        for pdf in iterator:
            pdf = pdf.assign(doc_id=np.arange(
                base + seen, base + seen + len(pdf), dtype="int64"))
            seen += len(pdf)
            yield pdf

    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in ranged.schema.fields)
    return ranged.mapInPandas(number, schema=f"{fields}, doc_id long")


def build_index(
    docs: DataFrame,
    out_dir: str,
    fields: dict[str, str],
    num_partitions: int = 8,
    id_cols: list[str] | None = None,
    resume: bool = False,
    input_snapshot: str = "",
    store_doc_lengths: bool = False,
    copy_to: dict[str, list[str]] | None = None,
    _only_parts: list[int] | None = None,
) -> InvertedIndex:
    """Build (or resume) the inverted index at ``out_dir``.

    docs: must contain a long ``doc_id`` column, or pass ``id_cols``.
    fields: {text_column: analyzer_name}.
    copy_to: {target_field: [source_columns]} — the mapping parameter
    (reference server/src/main/java/org/elasticsearch/index/mapper/
    FieldMapper.java CopyTo + DocumentParser.parseCopyFields): each
    source value is re-parsed into the TARGET field's analyzer chain,
    so the target carries its own postings, df and length norms. The
    target must appear in ``fields`` with its analyzer; null sources
    contribute nothing (concat_ws skips NULL). The synthesized column
    is a pure projection — one extra field in the same tokenize pass,
    no additional scan or shuffle.
    _only_parts: test hook — build only these partitions (simulates a
    mid-build failure for the resume test).
    """
    spark = docs.sparkSession
    t0 = time.time()
    phase_ms: dict[str, int] = {}

    def _mark(name: str, since: float) -> float:
        now = time.time()
        phase_ms[name] = int((now - since) * 1000)
        return now

    if id_cols:
        docs = assign_doc_ids(docs, id_cols)
    if copy_to:
        missing = [t for t in copy_to if t not in fields]
        if missing:
            raise ValueError(
                f"copy_to targets {missing} need an analyzer entry in fields"
            )
        for target, srcs in copy_to.items():
            docs = docs.withColumn(
                target,
                F.concat_ws(
                    " ", *[F.col(c).cast("string") for c in srcs]
                ),
            )
    docs = docs.withColumn("part_id", _part_id(num_partitions))

    done_parts: set[int] = set()
    if resume:
        idx = InvertedIndex(out_dir, spark)
        for m in idx.manifests():
            if m.get("status") == "done" and m.get("input_snapshot") == input_snapshot:
                done_parts.add(int(m["partition_id"]))

    spec, recorded = writer_spec(spark, out_dir, num_partitions)
    if not recorded:
        # parts finished under no spec or another one (a crash before
        # the meta below, an index older than the layout) do not share
        # the new spec's buckets: build them again
        done_parts = set()
    todo_parts = [p for p in range(num_partitions) if p not in done_parts]
    if _only_parts is not None:
        todo_parts = [p for p in todo_parts if p in _only_parts]

    if todo_parts:
        build_docs = docs
        if len(todo_parts) < num_partitions:
            build_docs = docs.filter(F.col("part_id").isin(todo_parts))
        tokenized = tokenize_docs(build_docs, fields)
        if store_doc_lengths:
            from pyspark import StorageLevel

            tokenized = tokenized.persist(StorageLevel.MEMORY_AND_DISK)
        tp = time.time()
        write_segment(tokenized, os.path.join(out_dir, "postings"),
                      len(todo_parts), list(fields), spec)
        tp = _mark("tokenize_encode_write", tp)
        if store_doc_lengths:
            # (unlike blocks, tokenized is scan-partitioned — without the
            # exchange every task would open a writer per part_id dir)
            (
                place_groups(
                    tokenized.select("part_id", "doc_id", "field", "dl", "ttf"),
                    "part_id", len(todo_parts))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part_id")
                .parquet(os.path.join(out_dir, "doc_lengths"))
            )
            tokenized.unpersist()

    # global stats are rebuilt from ALL partitions' block metadata — the
    # DFS-phase global statistics, cheap (no raw-posting scan).
    tg = time.time()
    idx = InvertedIndex(out_dir, spark)
    markers = rebuild_global_stats(idx)
    tg = _mark("global_stats", tg)

    # per-partition checkpoint manifests — written after the job commits,
    # from the marker rows the global-stats pass already collected
    if todo_parts:
        _mark("manifest_agg", tg)
        _write_manifests(out_dir, markers, todo_parts, input_snapshot,
                         int((time.time() - t0) * 1000))

    write_index_meta(
        out_dir,
        {
            "num_partitions": num_partitions,
            "fields": fields,
            "copy_to": copy_to or {},
            "input_snapshot": input_snapshot,
            "bucketing": spec,
            # build-phase wall-clock breakdown (lineage/metrics):
            # the main tokenize->encode->write job, the global-stats
            # rebuild job, and the manifest metadata aggregation
            "phase_ms": phase_ms,
        },
    )
    # a new handle: the one above read the blocks before the meta named
    # their bucket spec
    return InvertedIndex(out_dir, spark)


def _part_id(num_partitions: int):
    """The shard routing expression ``pmod(xxhash64(doc_id), P)``."""
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(num_partitions)).cast("int")


def tokenize_docs(docs: DataFrame, fields: dict[str, str]) -> DataFrame:
    """The write path's front for raw docs (build and streaming ingest):
    routed docs (``part_id``, ``doc_id`` + text columns) -> one
    TOKENIZED_SCHEMA row per (doc, field)."""
    # re-spread few-split inputs before the tokenizer (guide §2.5): a
    # 1-row-group parquet source would run the whole analysis pass on
    # one core; no-op when the input is already well-split
    from elasticsearch_spark.spread import spread_input

    return spread_input(docs.select("part_id", "doc_id", *fields)).mapInPandas(
        _make_tokenizer(fields), schema=TOKENIZED_SCHEMA
    )


def decoded_rows(idx: "InvertedIndex", fields) -> DataFrame:
    """The write path's front for existing blocks (compaction and split):
    every field's postings decoded back to rows, positions included."""
    from elasticsearch_spark.search.executor import decoded_postings

    rows = None
    for field in fields:
        part = decoded_postings(idx, field, with_positions=True).withColumn(
            "field", F.lit(field)
        )
        rows = part if rows is None else rows.unionByName(part)
    return rows


def write_segment(
    rows: DataFrame,
    path: str,
    n_parts: int,
    fields: list[str],
    spec: dict,
    roster: DataFrame | None = None,
) -> None:
    """THE posting-block write step of every writer (build, streaming
    ingest, compaction, split): encode ``rows`` — tokenized doc rows or
    decoded posting rows, with ``part_id`` already routed — into
    term-sorted blocks plus per-(part, field) marker rows, stored under
    ``path`` as a ``part_id``-partitioned table bucketed by ``bkey`` with
    ``spec`` (``bucket_spec``; a writer of an existing index passes
    ``writer_spec``'s, so every directory of the index shares one).

    ``roster``: marker rows to write INSTEAD of the encoder's. Compaction
    carries the existing ones, because docs with zero indexed tokens
    have no postings to count but belong in ``n``.
    """
    # Segment "merge": ONE wide shuffle keyed (part_id, field), one
    # output pass. _encode_blocks is CPU-bound (numpy VByte + sorts), so
    # AQE's byte-targeted coalescing of a plain groupBy exchange would
    # under-parallelize it. The (part, field) groups are numbered
    # ``slot = part_id * n_fields + field ordinal`` and placed by
    # ``place_groups``: slot s on task s mod min(parts x fields, cores),
    # one wave of encode tasks with no collisions. Grouping by (slot,
    # part_id, field) is satisfied by that exchange, so the plan keeps
    # ONE exchange.
    ordinal = F.array_position(F.array(*map(F.lit, fields)), F.col("field")) - 1
    slot = (F.col("part_id") * len(fields) + ordinal).cast("int")
    blocks = (
        place_groups(rows.withColumn("slot", slot), "slot",
                     max(n_parts, 1) * len(fields))
        .groupBy("slot", "part_id", "field")
        .applyInPandas(_encode_blocks, schema=BLOCKS_SCHEMA)
    )
    if roster is not None:
        blocks = blocks.filter(F.col("term").isNotNull()).unionByName(
            roster.drop("bkey"))
    # dynamic partition overwrite: ONLY the part_id directories this
    # run produces are replaced. That closes the build's resume crash
    # window (a previous attempt that appended files but died before its
    # manifest committed leaves partial output in exactly the todo
    # partitions, which this write now replaces instead of doubling);
    # the other writers target a fresh directory or re-write their own
    # batch directory with the same rows on a replay.
    #
    # NO second shuffle before the write: a bucketed write needs no
    # distribution, only each task's rows sorted by (part_id, bucket,
    # field, term, block_id) — the table's partition, bucket and sort
    # columns, which the planned write sorts by in the encode stage. A
    # task writes one file per part_id it holds (bkey is a function of
    # part_id), in (field, term, block)-order, so Parquet row-group
    # min/max skipping on `term` is unaffected.
    write_blocks(blocks, path, spec)


def write_blocks(blocks: DataFrame, path: str, spec: dict) -> None:
    """Store encoded ``blocks`` (BLOCKS_SCHEMA, any extra ``bkey``
    replaced) under ``path`` as the ``spec``-bucketed table, replacing
    only the ``part_id`` directories the rows reach."""
    os.makedirs(path, exist_ok=True)
    table = _blocks_table(blocks.sparkSession, path, spec)
    (
        blocks.withColumn("bkey", shard_bkey(spec, F.col("part_id")))
        .select(*_TABLE_COLS)
        .write.insertInto(table, overwrite=True)
    )


def writer_spec(spark: SparkSession, index_dir: str,
                shards: int) -> tuple[dict, bool]:
    """``(spec, recorded)``: the bucketing every writer of ``index_dir``
    writes its blocks with. When ``index_meta.json`` records one for
    ``shards`` shards it is that one (``recorded``), so every generation
    and segment of an index shares one layout whatever the writing
    session's cores. Otherwise it is a new ``bucket_spec`` for this
    session, and no block already in the index was written with it: a
    writer that keeps such blocks rewrites them (a resumed build) or
    refuses (an ingest), and the writer records the new spec no later
    than the blocks it writes become visible."""
    try:
        spec = index_meta(index_dir).get("bucketing")
    except (OSError, ValueError):
        spec = None
    if spec and len(spec["bkeys"]) == shards:
        return spec, True
    return bucket_spec(shards, spark.sparkContext.defaultParallelism), False


def _write_manifests(index_dir: str, markers: list, parts, input_snapshot,
                     wall_ms: int) -> None:
    """Per-partition checkpoint manifests (translog/LocalCheckpointTracker
    analogue), each written atomically. Every metric comes from the
    per-(part, field) marker rows, so manifests cost ZERO additional
    Spark jobs: docs = the largest field roster (a split's rosters hold
    only docs with tokens in that field), terms = the per-field distinct
    counts the encoder stamped into max_tf, summed across fields,
    postings = last_doc summed."""
    metrics: dict[int, list[int]] = {}
    for r in markers:
        acc = metrics.setdefault(int(r["part_id"]), [0, 0, 0])
        acc[0] = max(acc[0], int(r["n"]))
        acc[1] += int(r["max_tf"])
        acc[2] += int(r["last_doc"])
    ckpt_dir = os.path.join(index_dir, "checkpoints")
    for p in parts:
        m = metrics.get(p, [0, 0, 0])
        _write_json_atomic(os.path.join(ckpt_dir, f"part-{p}.json"), {
            "partition_id": p,
            "status": "done",
            "num_docs": m[0],
            "num_terms": m[1],
            "num_postings": m[2],
            "input_snapshot": input_snapshot,
            "wall_ms": wall_ms,
        })


def _write_json_atomic(path: str, obj: dict) -> None:
    """tmp file + os.replace: readers see the old or the new file, never
    a torn one."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def write_index_meta(index_dir: str, meta: dict) -> None:
    """Commit ``index_meta.json`` — the commit point of every writer
    (build, refresh, compaction, shrink, split) — atomically."""
    _write_json_atomic(os.path.join(index_dir, "index_meta.json"), meta)


def _routed(ids_df: DataFrame, id_col: str, shards: int,
            spec: dict | None) -> DataFrame:
    """(part_id, bkey, doc_id) of every id of ``ids_df``."""
    part_id = F.pmod(F.xxhash64(F.col(id_col).cast("long")),
                     F.lit(shards)).cast("int")
    return ids_df.select(part_id.alias("part_id"), F.col(id_col).cast("long")
                         .alias("doc_id")).withColumn(
        "bkey", shard_bkey(spec, F.col("part_id")))


def load_index(spark: SparkSession, path: str) -> InvertedIndex:
    return InvertedIndex(path, spark)


def index_meta(path: str) -> dict:
    with open(os.path.join(path, "index_meta.json")) as f:
        return json.load(f)


class MultiIndex:
    """Search across SEVERAL indices in one query — the reference's
    everyday ``GET idx1,idx2,logs-*/_search`` multi-index request
    (resolved in TransportSearchAction; shards from every matched
    index join one search, term/collection statistics combine across
    them in DFS mode).

    Duck-typed to the InvertedIndex surface the scorer uses:

      - ``postings``: unionByName of every member's blocks. part_id
        values COLLIDE across members by design — the scorer's kernel
        only needs each doc's blocks in one group, and doc ids
        (xxhash64 of the natural key) stay distinct, so accumulation is
        per-doc correct; colliding shards just share a kernel call.
        Members with one bucket spec keep their bkey, so the union is
        still bucketed; otherwise every member's bkey is its part_id
        (``bucketing`` is None) and the scorer's groupBy takes an
        exchange.
      - ``term_stats`` / ``collection_stats``: df/cf/n_docs/sum_ttf
        SUM across members, max_tf maxes, min_dl mins — exactly the
        cross-index DFS statistics, so one BM25 score space spans all
        members (a doc ranks identically to a single merged index).
      - ``num_partitions``: max member P.

    Routing-dependent ops (route_ids, allowed-id pushdown, single-doc
    lookups) need ONE routing modulus; they raise unless every member
    was built with the same num_partitions.
    """

    def __init__(self, indices: list["InvertedIndex"]):
        if not indices:
            raise ValueError("MultiIndex needs at least one index")
        self.indices = list(indices)
        self.spark = indices[0].spark
        self.path = ",".join(i.path for i in indices)
        self._coll_cache: dict | None = None

    @property
    def bucketing(self) -> dict | None:
        specs = [i.bucketing for i in self.indices]
        return specs[0] if all(s == specs[0] for s in specs) else None

    @property
    def postings(self) -> DataFrame:
        shared = self.bucketing is not None
        df = None
        for i in self.indices:
            part = i.postings if shared else i.postings.withColumn(
                "bkey", F.col("part_id"))
            df = part if df is None else df.unionByName(part)
        return df

    @property
    def stats_rows(self) -> DataFrame:
        return self.postings.filter(F.col("term").isNull())

    @property
    def term_dict(self) -> DataFrame:
        df = self.indices[0].term_dict
        for i in self.indices[1:]:
            df = df.unionByName(i.term_dict)
        return df.groupBy("field", "term").agg(
            F.sum("df").alias("df"),
            F.sum("cf").alias("cf"),
            F.max("max_tf").alias("max_tf"),
            F.min("min_dl").alias("min_dl"),
        )

    @property
    def coll_stats(self) -> DataFrame:
        df = self.indices[0].coll_stats
        for i in self.indices[1:]:
            df = df.unionByName(i.coll_stats)
        return df.groupBy("field").agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_ttf").alias("sum_ttf"),
            F.sum("sum_dl").alias("sum_dl"),
        ).withColumn("avgdl", F.col("sum_ttf") / F.col("n_docs"))

    def collection_stats(self) -> dict:
        if self._coll_cache is None:
            self._coll_cache = {
                r["field"]: {
                    "n_docs": float(r["n_docs"]),
                    "sum_ttf": float(r["sum_ttf"]),
                    "sum_dl": float(r["sum_dl"]),
                    "avgdl": float(r["avgdl"]),
                }
                for r in self.coll_stats.collect()
            }
        return self._coll_cache

    def term_stats(self, field: str, terms: list[str]) -> list:
        combined: dict[str, dict] = {}
        for i in self.indices:
            for r in i.term_stats(field, terms):
                c = combined.setdefault(r["term"], {
                    "field": field, "term": r["term"], "df": 0, "cf": 0,
                    "max_tf": 0, "min_dl": 1 << 62})
                c["df"] += int(r["df"])
                c["cf"] += int(r["cf"])
                c["max_tf"] = max(c["max_tf"], int(r["max_tf"]))
                c["min_dl"] = min(c["min_dl"], int(r["min_dl"]))
        return [combined[t] for t in terms if t in combined]

    def num_partitions(self) -> int:
        return max(i.num_partitions() for i in self.indices)

    def _uniform_parts(self) -> int:
        ps = {i.num_partitions() for i in self.indices}
        if len(ps) != 1:
            raise ValueError(
                "routing across a MultiIndex needs every member built "
                f"with the same num_partitions; got {sorted(ps)}")
        return ps.pop()

    def analyzer(self, field: str) -> str:
        names = {i.analyzer(field) for i in self.indices}
        if len(names) != 1:
            raise ValueError(
                f"field {field!r} is indexed with {sorted(names)} across "
                "the MultiIndex; a query needs one analysis")
        return names.pop()

    def route_ids(self, ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
        return _routed(ids_df, id_col, self._uniform_parts(), self.bucketing)


def load_indices(spark: SparkSession, paths: list[str]) -> MultiIndex:
    """Open several indices as one searchable MultiIndex."""
    return MultiIndex([load_index(spark, p) for p in paths])


def index_stats(idx: "InvertedIndex") -> dict:
    """The _stats / _cat/indices introspection surface (reference:
    action/admin/indices/stats): per-partition lineage + metrics from
    the build's checkpoint manifests (docs / terms / postings /
    wall_ms / input snapshot per partition — the north-star's
    resumability evidence) plus whole-index totals from the metadata
    tables. Zero posting decode: manifests are JSON, totals come from
    coll_stats/term_dict row counts."""
    parts = idx.manifests()
    meta = index_meta(idx.path)
    totals = {
        "num_partitions": meta.get("num_partitions"),
        "fields": meta.get("fields"),
        "docs": sum(p.get("num_docs", 0) for p in parts),
        "terms_per_partition_sum": sum(p.get("num_terms", 0)
                                       for p in parts),
        "postings": sum(p.get("num_postings", 0) for p in parts),
        "distinct_terms": int(idx.term_dict.count()),
        "build_wall_ms": sum(p.get("wall_ms", 0) for p in parts),
        "partitions_done": sum(1 for p in parts
                               if p.get("status") == "done"),
    }
    return {"partitions": parts, "totals": totals,
            "collection_stats": idx.collection_stats()}


def disk_usage(idx: "InvertedIndex") -> dict:
    """_disk_usage analogue (action/admin/indices/diskusage/
    TransportAnalyzeIndexDiskUsageAction.java): per-field breakdown of
    what the index spends its bytes on. The reference re-reads Lucene
    files per field; here the posting payloads are plain binary
    columns, so ONE metadata-light aggregation over the blocks returns
    exact per-field bytes for doc-id deltas, term freqs, norms (dls),
    and positions, plus the on-disk parquet total from the filesystem.
    """
    per_field = (
        idx.postings.filter(F.col("term").isNotNull())
        .groupBy("field")
        .agg(
            F.sum(F.length("doc_ids")).alias("doc_ids_bytes"),
            F.sum(F.length("tfs")).alias("tfs_bytes"),
            F.sum(F.length("dls")).alias("norms_bytes"),
            F.sum(F.length("positions")).alias("positions_bytes"),
            F.count("*").alias("blocks"),
            F.sum("n").alias("postings"),
        )
        .collect()
    )
    total = 0
    base = idx.path
    for root, _, files in os.walk(base):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    fields = {
        r["field"]: {
            "doc_ids_bytes": int(r["doc_ids_bytes"]),
            "tfs_bytes": int(r["tfs_bytes"]),
            "norms_bytes": int(r["norms_bytes"]),
            "positions_bytes": int(r["positions_bytes"]),
            "blocks": int(r["blocks"]),
            "postings": int(r["postings"]),
        }
        for r in per_field
    }
    return {"store_size_bytes": total, "fields": fields}


def cat_indices(spark: SparkSession, paths: list[str]) -> DataFrame:
    """_cat/indices analogue (rest/action/cat/RestIndicesAction.java):
    one row per index with health-ish counters — docs, distinct terms,
    postings, shard count, on-disk bytes, build wall-clock. Reads only
    manifests + metadata JSON + filesystem sizes (no posting decode);
    the result is a tiny driver-built frame, like the reference's
    coordinator-assembled cat table."""
    rows = []
    for p in paths:
        idx = load_index(spark, p)
        st = index_stats(idx)["totals"]
        store = 0
        for root, _dirs, files in os.walk(p):
            store += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
        rows.append((
            os.path.basename(p.rstrip("/")),
            int(st["num_partitions"] or 0),
            int(st["docs"]), int(st["distinct_terms"]),
            int(st["postings"]), int(store),
            int(st["build_wall_ms"]),
            "green" if st["partitions_done"] == st["num_partitions"]
            else "yellow",
        ))
    return spark.createDataFrame(
        rows,
        "index string, pri int, docs_count long, distinct_terms long, "
        "postings long, store_bytes long, build_wall_ms long, "
        "health string")
