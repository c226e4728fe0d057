"""Query execution: analyzed text -> BM25 top-k over the inverted index.

Physical plan (Spark re-creation of the reference's query_then_fetch with
DFS-global stats — action/search/TransportSearchAction.java:91,
search/query/QueryPhase.java:86, merge SearchPhaseController.java:144-208):

  1. driver: analyze the query text (tiny), look up TermStatistics in
     ``term_dict`` (filter + collect: a handful of rows) and
     CollectionStatistics in ``coll_stats`` — the DFS phase, always-on.
  2. ``postings.filter(field == f & term isin qterms)`` — Parquet
     predicate pushdown + term-sorted row-group skipping; only blocks
     of the query terms are read (per-term scan, like a term-dictionary
     seek).
  3. one skeleton shared by every posting scorer (``_posting_groups``,
     ``_scored_scan``): the pushed scan, ONE ``part_id`` exchange
     (``place_groups``: shard p on task p mod min(shards, cores), so
     every task is busy and a request pays one wave of Python tasks),
     then ``groupBy(part_id).applyInPandas(kernel)`` — each index
     partition (ES shard) scores its docs independently
     (doc-routing guarantees a doc's postings for ALL terms share one
     part_id) and emits a LOCAL top-k (``_local_topk``). Only the numpy
     kernels differ per scorer; the positional ones (phrase, phrase
     prefix, intervals, spans) read ``_position_lists``. The BM25
     kernel prunes with a
     term-at-a-time MaxScore/block-max strategy (reference: WAND
     activated by the 10k total-hits cap,
     search/query/TopDocsCollectorContext.java:202-206,
     search/internal/SearchContext.java:60-62). Each group first
     builds a per-term view of its blocks (skip metadata as arrays,
     block upper bounds) in which a delta+VByte block is decoded and
     quantized at most once, on first use; a ``match_topk_batch``
     partition shares that view across all of its queries.
  4. global merge (``_topk_merge``): ``orderBy(score desc, doc_id
     asc).limit(k)`` —
     Catalyst's TakeOrderedAndProject == Lucene TopDocs.merge
     (SearchPhaseController.java:205-208), same tie-break.

Pruning safety: before scoring term i (terms ordered by max-impact
desc), any doc NOT yet in the accumulator can reach at most
``sum(ub_j, j >= i)``; once a full local top-k exists with k-th score
theta, if that bound < theta strictly, new docs are provably outside
the top-k and term i only updates accumulator members (block decode is
skipped when a block holds no members). Property-tested against the
exhaustive scorer.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, GroupedData, functions as F

from elasticsearch_spark.index import codec
from elasticsearch_spark.index.builder import InvertedIndex
from elasticsearch_spark.search import bm25
from elasticsearch_spark.search.bm25 import BM25Params
from elasticsearch_spark.spread import place_groups

TOPK_SCHEMA = "doc_id long, score double, matched int"


@dataclass
class TermStats:
    term: str
    df: int
    idf: float
    ub: float  # global max impact (score upper bound for one posting,
    #            multiplicity included)
    weight: int = 1  # multiplicity of the term in the query: Lucene
    #                  BooleanQuery keeps duplicate TermQuery clauses and
    #                  SUMS them, so a repeated term scores `weight` times


def _stats_from_rows(
    terms: list[str],
    by_term: dict,
    n_docs: float,
    avgdl: float,
    params: BM25Params,
) -> list[TermStats]:
    """TermStats for one query given already-fetched term_dict rows."""
    from collections import Counter

    mult = Counter(terms)
    seen: set[str] = set()
    uniq = [t for t in terms if not (t in seen or seen.add(t))]
    out = []
    for t in uniq:
        r = by_term.get(t)
        if r is None:
            continue
        df = int(r["df"])
        term_idf = bm25.idf_sim(df, n_docs, params)
        tfn_ub = float(
            bm25.tf_norm_sim(
                np.array([r["max_tf"]], dtype=np.float64),
                np.array([r["min_dl"]], dtype=np.int64),
                avgdl,
                params,
            )[0]
        )
        w = int(mult[t])
        out.append(TermStats(t, df, term_idf, w * term_idf * tfn_ub, w))
    return out


def _lookup_terms(
    index: InvertedIndex, field: str, terms: list[str], params: BM25Params
) -> tuple[list[TermStats], float, float]:
    """DFS phase: global term + collection statistics (driver-side)."""
    coll = _collection_stats(index, field)
    if coll is None:
        return [], 0.0, 1.0
    n_docs, avgdl = coll
    rows = index.term_stats(field, terms)
    by_term = {r["term"]: r for r in rows}
    return _stats_from_rows(terms, by_term, n_docs, avgdl, params), n_docs, avgdl


def _collection_stats(
    index: InvertedIndex, field: str
) -> tuple[float, float] | None:
    """DFS CollectionStatistics of ``field`` as ``(n_docs, avgdl)``;
    None for an unknown or empty field, which no doc can match."""
    coll = index.collection_stats().get(field)
    if coll is None or not coll["n_docs"]:
        return None
    return coll["n_docs"], coll["avgdl"]


# ---------------------------------------------------------------------
# the posting-scan skeleton every scorer shares: scan -> one part_id
# exchange -> per-partition kernel -> local top-k -> global merge
# ---------------------------------------------------------------------

def _posting_groups(
    index: InvertedIndex, cond: Column, cols: tuple[str, ...]
) -> GroupedData:
    """The posting blocks matching ``cond`` (field/term predicates are
    pushed to the Parquet scan), projected to ``cols`` and grouped by
    index partition behind exactly ONE exchange.

    The exchange (``place_groups``) puts shard ``p`` on task
    ``p mod T``, ``T = min(shards, defaultParallelism)``: one wave of
    Python tasks, each assigned at most ``ceil(shards / T)`` shards.
    The scoring applyInPandas is CPU-bound, not byte-bound: AQE's
    byte-targeted partition coalescing (64 MB advisory) would fuse
    these small-but-expensive groups into a few fat tasks and leave
    most cores idle (measured: 4.8/8 busy cores coalesced vs 7.4/8
    pinned, a 1.4x round-time win at local[8] / 500k docs —
    BENCH/BASELINE.md). A ``REPARTITION_BY_NUM`` exchange is exempt
    from that coalescing and satisfies the groupBy's required
    distribution, so the plan still carries exactly ONE exchange."""
    blocks = index.postings.filter(cond).select(*cols)
    return _by_shard(index, blocks)


def _by_shard(index: InvertedIndex, df: DataFrame) -> GroupedData:
    """``df`` grouped by ``part_id`` behind the scorer's shard placement;
    both sides of a cogroup go through here so neither is re-shuffled."""
    return place_groups(df, "part_id", index.num_partitions()).groupBy(
        "part_id")


def _topk_merge(local: DataFrame, k: int | None) -> DataFrame:
    """Global merge of the partitions' local top-k; ``k=None`` keeps
    every row (a post-filter or an outer combination cuts later)."""
    if k is None:
        return local
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _scored_scan(
    index: InvertedIndex,
    cond: Column,
    cols: tuple[str, ...],
    kernel,
    k: int | None,
) -> DataFrame:
    """Run ``kernel`` (one partition's blocks -> its local top-k in
    TOPK_SCHEMA) over the shared posting scan, then merge globally."""
    local = _posting_groups(index, cond, cols).applyInPandas(
        kernel, schema=TOPK_SCHEMA)
    return _topk_merge(local, k)


def _position_lists(
    pdf: pd.DataFrame, key: str | list[str] = "term"
) -> tuple[dict, dict[int, int]]:
    """Decode one partition's blocks (projected with ``n``, ``doc_ids``
    and ``positions``) into ``{key: {doc: positions}}``, grouped by the
    ``key`` column(s). When the projection also carries ``dls`` the
    second result maps every decoded doc to its field length; it is
    empty otherwise."""
    with_dl = "dls" in pdf.columns
    per_term: dict = {}
    dl_map: dict[int, int] = {}
    for term, g in pdf.groupby(key, sort=False):
        docs: dict[int, np.ndarray] = {}
        for row in g.itertuples(index=False):
            d = codec.delta_decode(codec.vbyte_decode(row.doc_ids))
            plists = codec.decode_positions(bytes(row.positions), int(row.n))
            for doc, pos in zip(d, plists):
                docs[int(doc)] = pos
            if with_dl:
                for doc, dl in zip(d, codec.vbyte_decode(row.dls)):
                    dl_map[int(doc)] = int(dl)
        per_term[term] = docs
    return per_term, dl_map


def _empty_topk() -> pd.DataFrame:
    """A kernel's no-hit result, typed as TOPK_SCHEMA."""
    return pd.DataFrame({"doc_id": [], "score": [], "matched": []}).astype(
        {"doc_id": "int64", "score": "float64", "matched": "int32"}
    )


def _local_topk(
    ids: np.ndarray, scores: np.ndarray, matched: np.ndarray, k: int | None
) -> pd.DataFrame:
    """A partition's local top-k with the global tie-break (score desc,
    doc_id asc); ``k=None`` keeps every row."""
    order = np.lexsort((ids, -scores))
    if k is not None and ids.size > k:
        order = order[:k]
    return pd.DataFrame(
        {
            "doc_id": ids[order],
            "score": scores[order],
            "matched": matched[order].astype(np.int32),
        }
    )


def _dump_prune_stats(nstat: dict) -> None:
    """Opt-in per-partition skip diagnostics: when
    ``ES_SPARK_PRUNE_STATS_DIR`` is set, each scorer invocation drops
    one tiny JSON of its block counters there (workers are separate
    processes — a file per call is the lightweight accumulator).
    Off = zero overhead beyond this env lookup."""
    import json as _json
    import os as _os
    import uuid as _uuid

    d = _os.environ.get("ES_SPARK_PRUNE_STATS_DIR")
    if not d:
        return
    try:
        path = _os.path.join(d, _uuid.uuid4().hex + ".json")
        with open(path, "w") as f:
            _json.dump(nstat, f)
    except OSError:
        pass


class _TermBlocks:
    """One term's posting blocks within one partition, shared by every
    scorer that runs over that partition (all Q queries of a batch).

    Holds the block skip metadata as arrays, the block upper-bound
    tf-norm (max_tf at min_dl) for the view's ``(avgdl, params)``, and
    a lazily filled per-block cache of the decoded doc ids and their
    tf-norm (tf as float64 against the effective dl, quantized once).
    The cache always holds a block's FULL decode; restricted scans mask
    a copy of it."""

    __slots__ = ("n", "first_doc", "last_doc", "max_tf", "min_dl",
                 "_doc_ids", "_tfs", "_dls", "_avgdl", "_params", "_ub",
                 "_decoded")

    def __init__(self, cols: dict, rows: np.ndarray, avgdl: float,
                 params: BM25Params):
        self.n = rows.size
        self.first_doc = cols["first_doc"][rows]
        self.last_doc = cols["last_doc"][rows]
        self.max_tf = cols["max_tf"][rows]
        self.min_dl = cols["min_dl"][rows]
        self._doc_ids = cols["doc_ids"][rows]
        self._tfs = cols["tfs"][rows]
        self._dls = cols["dls"][rows]
        self._avgdl, self._params = avgdl, params
        self._ub = None
        self._decoded: list = [None] * self.n

    def ub_tfn(self) -> np.ndarray:
        """Per-block upper bound of the tf-norm."""
        if self._ub is None:
            self._ub = bm25.tf_norm_sim(
                self.max_tf.astype(np.float64), self.min_dl.astype(np.int64),
                self._avgdl, self._params,
            )
        return self._ub

    def block(self, j: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, tf-norm) of block ``j``, decoded on first use and
        read-only: every later query of the partition reads the same
        arrays."""
        hit = self._decoded[j]
        if hit is None:
            ids = codec.delta_decode(codec.vbyte_decode(self._doc_ids[j]))
            tf = codec.vbyte_decode(self._tfs[j]).astype(np.float64)
            dl = codec.vbyte_decode(self._dls[j])
            dl_eff = (
                bm25.quantize_dl(dl) if self._params.quantize_norms else dl
            ).astype(np.float64)
            tfn = bm25.tfn_eff(tf, dl_eff, self._avgdl, self._params)
            ids.flags.writeable = tfn.flags.writeable = False
            hit = self._decoded[j] = (ids, tfn)
        return hit


def _term_view(pdf: pd.DataFrame, avgdl: float,
               params: BM25Params) -> dict[str, _TermBlocks]:
    """Split one partition's posting blocks by term, once. Block order
    within a term is the partition's row order."""
    cols = {c: pdf[c].to_numpy() for c in (
        "first_doc", "last_doc", "max_tf", "min_dl", "doc_ids", "tfs", "dls")}
    return {
        t: _TermBlocks(cols, rows, avgdl, params)
        for t, rows in pdf.groupby("term", sort=False).indices.items()
    }


def _make_scorer(
    term_stats: list[TermStats],
    avgdl: float,
    params: BM25Params,
    k: int | None,
    operator: str,
    minimum_should_match: int,
    prune: bool,
):
    """The BM25 kernel for one part_id group of posting blocks:
    ``score(pdf, allowed, allowed_range=None)`` -> local top-k."""
    # highest impact first; for AND, rarest (highest idf) first anyway
    stats = sorted(term_stats, key=lambda s: -s.ub)
    ubs = np.array([s.ub for s in stats], dtype=np.float64)
    # clause counts are weight-summed: a doc matching a term of weight w
    # matches w (duplicate) clauses, exactly Lucene BooleanQuery
    cumw = np.cumsum([s.weight for s in stats])
    total_w = int(cumw[-1]) if stats else 0
    msm = total_w if operator == "and" else max(minimum_should_match, 1)
    # theta-pruning is only SAFE when every accumulated doc is a valid
    # final candidate; with msm>1 (or AND) some accumulated docs are later
    # disqualified, so the k-th accumulated score is not a lower bound of
    # the final k-th score.
    # k=None -> emit every matching doc (no local top-k, no pruning);
    # used when a post-filter runs before the global top-k cut.
    use_theta = prune and k is not None and operator == "or" and msm == 1

    def score(
        pdf: pd.DataFrame | dict,
        allowed: np.ndarray | None,
        allowed_range: tuple[int, int] | None = None,
    ) -> pd.DataFrame:
        """Score one partition's blocks; ``allowed`` (sorted int64 doc
        ids) restricts scoring to docs that passed a filter clause —
        pruning stays SAFE because every accumulated doc is then a true
        candidate, so theta remains a lower bound of the final k-th
        score (the reference intersects the filter bitset inside the
        collector the same way: TopDocsCollectorContext.java:202-206).

        ``pdf`` may also be a prebuilt ``_term_view`` of the partition
        (built with this scorer's avgdl and params) — the batched
        multi-query scorer builds it ONCE and shares its decoded blocks
        across every query."""
        view = pdf if isinstance(pdf, dict) else _term_view(pdf, avgdl, params)
        nstat = {"blocks": 0, "decoded": 0, "skip_theta_range": 0,
                 "skip_member": 0, "skip_filter": 0, "skip_sort": 0,
                 "skip_restrict_empty": 0}
        acc_ids = np.empty(0, dtype=np.int64)
        acc_scores = np.empty(0, dtype=np.float64)
        acc_counts = np.empty(0, dtype=np.int64)

        for i, ts in enumerate(stats):
            tb = view.get(ts.term)
            remaining_ub = float(ubs[i:].sum())
            rem_after = remaining_ub - float(ubs[i])
            theta = None
            if use_theta and acc_ids.size >= k:
                # k-th best accumulated score is a LOWER bound on the
                # final k-th score (scores only grow)
                theta = float(np.partition(acc_scores, acc_scores.size - k)[acc_scores.size - k])
                # accumulator pruning: a doc whose score plus EVERY
                # remaining term's upper bound still misses theta can
                # never be top-k — dropping it shrinks each later
                # unique-merge and makes restricted blocks selective.
                # (Safe only because use_theta implies msm == 1.)
                if acc_ids.size > k:
                    keepm = acc_scores + remaining_ub >= theta
                    if not keepm.all():
                        acc_ids = acc_ids[keepm]
                        acc_scores = acc_scores[keepm]
                        acc_counts = acc_counts[keepm]
            restrict = (
                theta is not None and remaining_ub < theta
            ) or (operator == "and" and i > 0)
            if tb is None:
                if operator == "and":
                    _dump_prune_stats(nstat)
                    return _empty_topk()
                continue

            # block-max WAND: a block whose own upper bound (max_tf at
            # min_dl — the skip metadata the builder stores per block)
            # plus every later term's ub cannot reach theta can add no
            # NEW top-k candidate; such blocks are restricted to docs
            # already in the accumulator (their partial sums must stay
            # exact), and skipped outright when no accumulator doc
            # falls in the block's [first_doc, last_doc] range.
            # acc_ids is sorted by construction (np.unique), so both
            # the range test and membership are searchsorted, not isin.
            block_ubs = None
            if (use_theta or theta is not None) and not restrict:
                block_ubs = ts.weight * ts.idf * tb.ub_tfn()

            n_blocks = tb.n
            # IMPACT-ORDERED scan (Lucene's impact-sorted posting slices
            # behind WANDScorer): highest block impact first.  A doc
            # occurs in exactly ONE block per term, so the k-th
            # accumulated score remains a valid lower bound MID-term —
            # chunked merges refresh theta while the term is still
            # scanning and the low-impact ordered tail flips to
            # restricted (range-skipped, usually undecoded).
            # ONLY where it can pay: for a single-term query, and for
            # the LAST term of a multi-term OR (rem_after == 0, so a
            # rising theta immediately restricts the tail).  For
            # earlier terms theta can rarely beat the remaining terms'
            # full upper bounds, and the extra merges were measured to
            # cost more than the ordering saves (BENCH/BASELINE.md).
            impact_zone = (
                use_theta and block_ubs is not None and n_blocks > 1
                and (len(stats) == 1 or i == len(stats) - 1)
            )
            if impact_zone:
                scan = np.argsort(-block_ubs, kind="stable")
            else:
                scan = range(n_blocks)
            first_doc, last_doc = tb.first_doc, tb.last_doc

            widf = ts.weight * ts.idf
            wgt = ts.weight
            merged_this_term = False

            def merge_pending(parts):
                nonlocal acc_ids, acc_scores, acc_counts, theta
                nonlocal merged_this_term
                merged_this_term = True
                ids = np.concatenate([p[0] for p in parts])
                scores = widf * np.concatenate([p[1] for p in parts])
                all_ids = np.concatenate([acc_ids, ids])
                all_scores = np.concatenate([acc_scores, scores])
                all_counts = np.concatenate(
                    [acc_counts, np.full(ids.size, wgt, dtype=np.int64)]
                )
                uniq, inv = np.unique(all_ids, return_inverse=True)
                new_scores = np.zeros(uniq.size, dtype=np.float64)
                new_counts = np.zeros(uniq.size, dtype=np.int64)
                np.add.at(new_scores, inv, all_scores)
                np.add.at(new_counts, inv, all_counts)
                acc_ids, acc_scores, acc_counts = uniq, new_scores, new_counts
                if use_theta and acc_ids.size >= k:
                    theta = float(np.partition(
                        acc_scores, acc_scores.size - k)[acc_scores.size - k])
                    # mid-term accumulator pruning: remaining_ub still
                    # includes THIS term (a pruned doc's own block may
                    # be unscanned), so the bound is safe
                    if acc_ids.size > k:
                        keepm = acc_scores + remaining_ub >= theta
                        if not keepm.all():
                            acc_ids = acc_ids[keepm]
                            acc_scores = acc_scores[keepm]
                            acc_counts = acc_counts[keepm]

            # merge cadence: the first merge is small so theta activates
            # early in the term; the target then DOUBLES per merge, so
            # total merge work stays within ~2x of a single end-of-term
            # merge while theta refreshes O(log n_blocks) times
            chunk_target = max(4 * k, 1024) if impact_zone else None
            pending: list[tuple] = []
            pending_n = 0
            nstat["blocks"] += n_blocks
            n_seen = 0
            for oi in scan:
                n_seen += 1
                restricted = restrict or (
                    theta is not None and block_ubs is not None
                    and block_ubs[oi] + rem_after < theta
                )
                if restricted and acc_ids.size == 0 and not pending:
                    if restrict:
                        nstat["skip_restrict_empty"] += n_blocks - n_seen + 1
                        break
                    nstat["skip_restrict_empty"] += 1
                    continue
                if restricted:
                    lo = np.searchsorted(acc_ids, first_doc[oi], "left")
                    hi = np.searchsorted(acc_ids, last_doc[oi], "right")
                    if lo == hi:
                        nstat["skip_theta_range"] += 1
                        continue  # range-skip: nothing to update, no decode
                elif allowed is not None:
                    # filter-aware skip: a block whose [first_doc,
                    # last_doc] range holds no allowed doc decodes
                    # nothing (the allowlist is sorted)
                    lo = np.searchsorted(allowed, first_doc[oi], "left")
                    hi = np.searchsorted(allowed, last_doc[oi], "right")
                    if lo == hi:
                        nstat["skip_filter"] += 1
                        continue
                elif allowed_range is not None:
                    # index-sort range skip: doc ids ARE sort ranks, so
                    # a block outside [lo, hi] never decodes (Lucene
                    # sorted-index early termination)
                    if (last_doc[oi] < allowed_range[0]
                            or first_doc[oi] > allowed_range[1]):
                        nstat["skip_sort"] += 1
                        continue
                # counts blocks this query needed decoded, whether or
                # not an earlier query already filled the cache
                d, tfn = tb.block(oi)
                nstat["decoded"] += 1
                if restricted:
                    pos = np.searchsorted(acc_ids, d)
                    pos[pos >= acc_ids.size] = acc_ids.size - 1
                    mask = acc_ids[pos] == d
                    if not mask.any():
                        nstat["skip_member"] += 1
                        continue  # block-skip: no accumulator members
                    d, tfn = d[mask], tfn[mask]
                elif allowed is not None:
                    pos = np.searchsorted(allowed, d)
                    pos[pos >= allowed.size] = allowed.size - 1
                    mask = allowed[pos] == d
                    if not mask.any():
                        continue
                    d, tfn = d[mask], tfn[mask]
                elif allowed_range is not None:
                    mask = (d >= allowed_range[0]) & (d <= allowed_range[1])
                    if not mask.any():
                        continue
                    d, tfn = d[mask], tfn[mask]
                pending.append((d, tfn))
                pending_n += int(d.size)
                if chunk_target is not None and pending_n >= chunk_target:
                    merge_pending(pending)
                    pending, pending_n = [], 0
                    chunk_target *= 2
            if pending:
                merge_pending(pending)
            if operator == "and" and merged_this_term:
                # docs must have matched every clause (weight) so far
                keep = acc_counts == cumw[i]
                acc_ids, acc_scores, acc_counts = (
                    acc_ids[keep], acc_scores[keep], acc_counts[keep],
                )

        _dump_prune_stats(nstat)
        if acc_ids.size == 0:
            return _empty_topk()
        keep = acc_counts >= msm
        return _local_topk(acc_ids[keep], acc_scores[keep], acc_counts[keep], k)

    return score


def match_topk(
    index: InvertedIndex,
    field: str,
    terms: list[str],
    k: int | None = 10,
    operator: str = "or",
    minimum_should_match: int = 1,
    params: BM25Params | None = None,
    prune: bool = True,
    allowed: DataFrame | None = None,
    allowed_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Top-k BM25 for analyzed query ``terms``.

    ``allowed_range=(lo, hi)`` restricts scoring to a doc-id RANGE —
    the index-sorting fast path (assign_sorted_doc_ids: doc ids are
    sort ranks, so a range filter on the sort field IS a doc-id
    range). The range predicate is pushed to the posting scan
    (first_doc/last_doc parquet min/max stats prune row groups) and
    blocks outside it never decode; theta pruning stays valid because
    every accumulated doc is a true candidate.

    Returns DataFrame(doc_id long, score double, matched int), globally
    ordered by (score desc, doc_id asc), limited to k.

    ``allowed`` (a DataFrame with a ``doc_id`` column) restricts
    scoring to docs passing a filter clause WITHOUT giving up top-k
    pruning — the Spark shape of the reference's "filter bitset
    intersected inside the collector while WAND prunes"
    (search/query/TopDocsCollectorContext.java:202-206). The ids are
    routed to their index partition with the builder's hash (one
    in-plan shuffle of bare longs) and cogrouped with the posting
    blocks — ONE job, no driver round-trip, executor memory bounded at
    any filter size.

    Measured at 1M docs / local[16] (BENCH/BASELINE.md): the cogroup,
    a broadcast id array and the score-all + semi-join plan are all
    within host noise, because scoring is not the bottleneck at 8k-doc
    shards and hash-routed doc ids leave no empty block ranges to skip.
    The structural difference — each shard emits only k rows and theta
    pruning stays VALID under the filter — is what matters at
    1000-executor scale, where the k=None plan's per-shard full
    emission and disabled pruning dominate.
    """
    params = params or BM25Params()
    spark = index.spark
    term_stats, n_docs, avgdl = _lookup_terms(index, field, terms, params)
    if not term_stats or (operator == "and" and len(term_stats) < len(set(terms))):
        return spark.createDataFrame([], TOPK_SCHEMA)
    qterms = [s.term for s in term_stats]
    cond = (F.col("field") == field) & F.col("term").isin(qterms)
    cols = ("part_id", "term", "doc_ids", "tfs", "dls",
            "max_tf", "min_dl", "first_doc", "last_doc")
    rng = None
    if allowed_range is not None:
        rng = (int(allowed_range[0]), int(allowed_range[1]))
        if rng[0] > rng[1]:
            return spark.createDataFrame([], TOPK_SCHEMA)
        # scan-level block pruning: parquet row-group min/max stats on
        # the pushed first_doc/last_doc predicates
        cond = cond & (
            (F.col("last_doc") >= rng[0]) & (F.col("first_doc") <= rng[1]))
    scorer = _make_scorer(
        term_stats, avgdl, params, k, operator, minimum_should_match, prune
    )
    if allowed is not None:
        allow_parts = index.route_ids(allowed)

        def score_cogroup(
            left: pd.DataFrame, right: pd.DataFrame
        ) -> pd.DataFrame:
            ids = np.sort(right["doc_id"].to_numpy(dtype=np.int64))
            if ids.size == 0 or left.empty:
                return _empty_topk()
            return scorer(left, ids)

        local = (
            _posting_groups(index, cond, cols)
            .cogroup(_by_shard(index, allow_parts))
            .applyInPandas(score_cogroup, schema=TOPK_SCHEMA)
        )
        return _topk_merge(local, k)

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return scorer(pdf, None, allowed_range=rng)

    return _scored_scan(index, cond, cols, score_group, k)


def doc_id_range_for(
    docs_with_ids: DataFrame,
    sort_col: str,
    lo=None,
    hi=None,
) -> tuple[int, int]:
    """Translate a sort-field range [lo, hi] into the doc-id range of
    an index built with ``assign_sorted_doc_ids`` (doc ids are sort
    ranks): lo_id = #docs with sort < lo, hi_id = #docs with sort <=
    hi, minus one. ONE aggregate job; at scale the comparisons push to
    the parquet scan, where file min/max stats answer most files
    without reading rows. Returns an empty range as (0, -1)."""
    c = F.col(sort_col)
    lo_expr = (
        F.lit(0).cast("long") if lo is None
        else F.coalesce(F.sum((c < F.lit(lo)).cast("long")), F.lit(0))
    )
    hi_expr = (
        F.count("*").cast("long") if hi is None
        else F.coalesce(F.sum((c <= F.lit(hi)).cast("long")), F.lit(0))
    )
    row = docs_with_ids.agg(lo_expr.alias("lo"), hi_expr.alias("hi")).first()
    return int(row["lo"]), int(row["hi"]) - 1


BATCH_TOPK_SCHEMA = "query_id int, doc_id long, score double, matched int"


def match_topk_batch(
    index: InvertedIndex,
    field: str,
    queries: list[list[str]],
    k: int = 10,
    operator: str = "or",
    minimum_should_match: int = 1,
    params: BM25Params | None = None,
    prune: bool = True,
) -> DataFrame:
    """Top-k BM25 for MANY analyzed queries in ONE Spark job.

    Per-query results are identical to ``match_topk`` (same scorer
    code, parity-tested) but the physical plan amortizes everything
    that is per-JOB in the one-at-a-time path: ONE term-dict stats
    lookup for the union of query terms, ONE postings scan with a
    pushed ``In(term, ...)`` filter, ONE applyInPandas pass in which
    each partition builds one term view of its blocks and scores every
    query against it, then ONE per-query window top-k over the
    (n_shards x Q x k)-row local results. A block is decoded at most
    once per partition and shared by every query of the batch that
    visits it; each query's pruning decisions are its own, and a query
    that restricts a block masks a copy of the shared decode.

    This is the throughput shape for a query STREAM at cluster scale —
    the reference's `_msearch` endpoint batches searches into one
    round trip for the same reason (action/search/
    TransportMultiSearchAction.java batches per-node shard requests);
    here the batching also turns Q scheduler round-trips into one job
    whose tasks each carry Q queries' worth of CPU work, which is what
    lets query throughput scale with executors instead of being capped
    by driver/scheduler fixed costs.

    Returns DataFrame(query_id int, doc_id long, score double,
    matched int): top-k per query_id (the position of the query in
    ``queries``), ordered within each query by (score desc, doc_id
    asc). Queries with no indexed terms simply emit no rows.
    """
    params = params or BM25Params()
    spark = index.spark
    coll = _collection_stats(index, field)
    if coll is None:
        return spark.createDataFrame([], BATCH_TOPK_SCHEMA)
    n_docs, avgdl = coll
    union_terms = sorted({t for q in queries for t in q})
    rows = index.term_stats(field, union_terms)
    by_row = {r["term"]: r for r in rows}
    scorers: list[tuple[int, object]] = []
    known_terms: set[str] = set()
    for qid, qterms in enumerate(queries):
        stats = _stats_from_rows(qterms, by_row, n_docs, avgdl, params)
        if not stats or (
            operator == "and" and len(stats) < len(set(qterms))
        ):
            continue
        scorers.append((qid, _make_scorer(
            stats, avgdl, params, k, operator, minimum_should_match, prune
        )))
        known_terms.update(s.term for s in stats)
    if not scorers:
        return spark.createDataFrame([], BATCH_TOPK_SCHEMA)
    def score_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        # every query shares one term view: a block is decoded at most
        # once per partition, however many queries visit it
        view = _term_view(pdf, avgdl, params)
        outs = []
        for qid, sc in scorers:
            res = sc(view, None)
            if not res.empty:
                res.insert(0, "query_id", np.int32(qid))
                outs.append(res)
        if not outs:
            empty = _empty_topk()
            empty.insert(0, "query_id", np.int32(0))
            return empty
        return pd.concat(outs, ignore_index=True)

    cond = (F.col("field") == field) & F.col("term").isin(sorted(known_terms))
    cols = ("part_id", "term", "doc_ids", "tfs", "dls",
            "max_tf", "min_dl", "first_doc", "last_doc")
    local = _posting_groups(index, cond, cols).applyInPandas(
        score_batch, schema=BATCH_TOPK_SCHEMA)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k).drop("_rn")
    )


def _sloppy_phrase_freq(plists: list, slop: int) -> float:
    """Sloppy phrase frequency over per-term position lists (one sorted
    array per phrase term, raw token positions).

    Lucene SloppyPhraseMatcher semantics for non-repeating phrases: a
    min-heap sweep over OFFSET-SHIFTED positions; every sweep state
    whose shifted window fits in ``slop`` counts one match weighted
    ``1/(1+matchLength)`` (PhraseWeight's sloppyWeight), then the
    minimal list advances. At slop=0 this counts exact adjacencies with
    weight 1.0 — identical to the intersection path (property-tested).
    Overlapping-match tie-breaks can diverge from Lucene's repeat
    handling; repeated phrase terms therefore refuse at the API layer.
    """
    import heapq

    shifted = [np.asarray(p, dtype=np.int64) - i for i, p in enumerate(plists)]
    if any(s.size == 0 for s in shifted):
        return 0.0
    idx = [0] * len(shifted)
    heap = [(int(s[0]), j) for j, s in enumerate(shifted)]
    heapq.heapify(heap)
    cur_max = max(v for v, _ in heap)
    freq = 0.0
    while True:
        mn, j = heap[0]
        window = cur_max - mn
        if window <= slop:
            freq += 1.0 / (1.0 + float(window))
        idx[j] += 1
        if idx[j] >= shifted[j].size:
            return freq
        nxt = int(shifted[j][idx[j]])
        heapq.heapreplace(heap, (nxt, j))
        if nxt > cur_max:
            cur_max = nxt


def phrase_topk(
    index: InvertedIndex,
    field: str,
    terms: list[str],
    k: int | None = 10,
    params: BM25Params | None = None,
    slop: int = 0,
) -> DataFrame:
    """match_phrase: phrase top-k (exact adjacency, or sloppy when
    ``slop`` > 0).

    Reference: MatchQueryParser.java:243 createPhraseQuery -> Lucene
    PhraseQuery. Scoring follows Lucene's PhraseWeight: tf = number of
    phrase occurrences (slop=0) or the sum of ``1/(1+matchLength)``
    sloppy weights (slop>0, SloppyPhraseMatcher), idf = SUM of the
    terms' idfs, same tf/dl normalization as a term query.

    Physical plan: the shared posting-scan skeleton (blocks of the
    phrase's terms, one part_id exchange), plus per-candidate position-list
    intersection: cand = pos(t0); cand = (cand+1) ∩ pos(t1); ...
    |cand| = phrase frequency. Candidates are docs containing ALL terms
    (conjunction prunes before any position decode). The sloppy path
    swaps the intersection for the min-heap window sweep
    (:func:`_sloppy_phrase_freq`) on the same decoded lists.
    """
    params = params or BM25Params()
    if slop and len(set(terms)) != len(terms):
        raise ValueError(
            "phrase_topk: slop>0 with repeated phrase terms is not "
            "supported (Lucene repeat-group handling not implemented)")
    spark = index.spark
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    term_stats, n_docs, avgdl = _lookup_terms(index, field, terms, params)
    idf_by_term = {s.term: s.idf for s in term_stats}
    if any(t not in idf_by_term for t in terms):
        return spark.createDataFrame([], TOPK_SCHEMA)
    # Lucene PhraseWeight sums idf over ALL phrase positions, counting
    # a repeated term once per position
    idf_sum = float(sum(idf_by_term[t] for t in terms))
    k1, b, quant = params.k1, params.b, params.quantize_norms
    ordered_terms = list(terms)  # keep phrase order (duplicates allowed)

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        per_term, dl_map = _position_lists(pdf)
        if any(t not in per_term for t in ordered_terms):
            return _empty_topk()
        # conjunction of doc sets
        cand_docs = set(per_term[ordered_terms[0]])
        for t in ordered_terms[1:]:
            cand_docs &= set(per_term[t])
        if not cand_docs:
            return _empty_topk()
        out_ids, out_tfs = [], []
        for doc in cand_docs:
            if slop:
                tf = _sloppy_phrase_freq(
                    [per_term[t][doc] for t in ordered_terms], slop)
                if tf == 0.0:
                    continue
            else:
                cand = per_term[ordered_terms[0]][doc]
                for i, t in enumerate(ordered_terms[1:], start=1):
                    cand = np.intersect1d(
                        cand + 1, per_term[t][doc], assume_unique=True)
                    if cand.size == 0:
                        break
                if cand.size == 0:
                    continue
                tf = float(cand.size)
            out_ids.append(doc)
            out_tfs.append(tf)
        if not out_ids:
            return _empty_topk()
        ids = np.array(out_ids, dtype=np.int64)
        tf = np.array(out_tfs, dtype=np.float64)
        dl = np.array([dl_map[doc] for doc in out_ids], dtype=np.int64)
        dl_eff = (bm25.quantize_dl(dl) if quant else dl).astype(np.float64)
        tfn = tf / (tf + k1 * (1.0 - b + b * dl_eff / avgdl))
        scores = (k1 + 1.0) * idf_sum * tfn
        return _local_topk(
            ids, scores, np.full(ids.size, len(ordered_terms)), k)

    cond = (F.col("field") == field) & F.col("term").isin(list(set(terms)))
    cols = ("part_id", "term", "n", "doc_ids", "tfs", "dls", "positions")
    return _scored_scan(index, cond, cols, score_group, k)


def synonym_match_topk(
    index: InvertedIndex,
    field: str,
    groups: list[list[str]],
    k: int | None = 10,
    minimum_should_match: int = 1,
    params: BM25Params | None = None,
) -> DataFrame:
    """match with query-time synonym expansion. Each group (the analyzed
    token plus its synonyms) scores as ONE Lucene SynonymQuery
    (org.apache.lucene.search.SynonymQuery, built by
    MatchQueryParser/SynonymGraphFilter chains registered in
    CommonAnalysisPlugin.java:320): docFreq = MAX of the members' dfs,
    tf = SUM of the members' tfs in the doc, one BM25 contribution per
    group; groups sum like bool-OR clauses.

    Same physical plan as match_topk (the shared posting-scan skeleton):
    one pushed-down block scan of all member terms, one part_id
    exchange, local top-k + global merge."""
    params = params or BM25Params()
    spark = index.spark
    coll = _collection_stats(index, field)
    if coll is None:
        return spark.createDataFrame([], TOPK_SCHEMA)
    n_docs, avgdl = coll
    all_terms = list(dict.fromkeys(t for g in groups for t in g))
    rows = index.term_stats(field, all_terms)
    by_term = {r["term"]: r for r in rows}
    group_idf: list[float] = []
    live_groups: list[list[str]] = []
    for g in groups:
        dfs = [int(by_term[t]["df"]) for t in g if t in by_term]
        if not dfs:
            continue
        live_groups.append([t for t in g if t in by_term])
        group_idf.append(float(bm25.idf(max(dfs), n_docs)))
    if not live_groups:
        return spark.createDataFrame([], TOPK_SCHEMA)
    term_to_group = {t: i for i, g in enumerate(live_groups) for t in g}
    msm = max(minimum_should_match, 1)
    k1, b, quant = params.k1, params.b, params.quantize_norms
    qterms = list(term_to_group)

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        acc_ids = np.empty(0, dtype=np.int64)
        acc_scores = np.empty(0, dtype=np.float64)
        acc_counts = np.empty(0, dtype=np.int64)
        by = dict(tuple(pdf.groupby("term", sort=False)))
        for gi, g in enumerate(live_groups):
            ids_p, tf_p, dl_p = [], [], []
            for t in g:
                sub = by.get(t)
                if sub is None:
                    continue
                for row in sub.itertuples(index=False):
                    ids_p.append(codec.delta_decode(codec.vbyte_decode(row.doc_ids)))
                    tf_p.append(codec.vbyte_decode(row.tfs))
                    dl_p.append(codec.vbyte_decode(row.dls))
            if not ids_p:
                continue
            ids = np.concatenate(ids_p)
            tfs = np.concatenate(tf_p).astype(np.float64)
            dls = np.concatenate(dl_p)
            # SynonymQuery: per-doc tf = sum over member terms
            uniq, inv = np.unique(ids, return_inverse=True)
            tf_sum = np.zeros(uniq.size, dtype=np.float64)
            np.add.at(tf_sum, inv, tfs)
            dl_first = np.zeros(uniq.size, dtype=np.int64)
            dl_first[inv[::-1]] = dls[::-1]  # any member's dl (same doc-field)
            dl_eff = (
                bm25.quantize_dl(dl_first).astype(np.float64)
                if quant else dl_first.astype(np.float64)
            )
            scores = (k1 + 1.0) * group_idf[gi] * tf_sum / (
                tf_sum + k1 * (1.0 - b + b * dl_eff / avgdl)
            )
            all_ids = np.concatenate([acc_ids, uniq])
            all_scores = np.concatenate([acc_scores, scores])
            all_counts = np.concatenate(
                [acc_counts, np.ones(uniq.size, dtype=np.int64)]
            )
            u2, inv2 = np.unique(all_ids, return_inverse=True)
            ns = np.zeros(u2.size, dtype=np.float64)
            nc = np.zeros(u2.size, dtype=np.int64)
            np.add.at(ns, inv2, all_scores)
            np.add.at(nc, inv2, all_counts)
            acc_ids, acc_scores, acc_counts = u2, ns, nc
        if acc_ids.size == 0:
            return _empty_topk()
        keep = acc_counts >= msm
        return _local_topk(acc_ids[keep], acc_scores[keep], acc_counts[keep], k)

    cond = (F.col("field") == field) & F.col("term").isin(qterms)
    cols = ("part_id", "term", "doc_ids", "tfs", "dls")
    return _scored_scan(index, cond, cols, score_group, k)


def decoded_postings(
    index: InvertedIndex,
    field: str,
    terms: list[str] | None = None,
    with_positions: bool = False,
    doc_id: int | list[int] | None = None,
) -> DataFrame:
    """Decode posting blocks back to rows (part_id, term, doc_id, tf, dl
    [, positions]).

    Debug/verification path and building block for non-top-k operators
    (more_like_this term vectors, significant_text, segment compaction,
    the _termvectors API).

    ``doc_id`` prunes BEFORE decode: the doc's shard is known from the
    builder's hash routing (one part_id survives the scan filter) and
    blocks whose [first_doc, last_doc] range excludes the id are never
    read — a single-doc lookup touches a handful of blocks, not the
    index. Rows of other docs sharing those blocks still decode;
    callers filter the exact id.
    """
    blocks = index.postings.filter(
        (F.col("field") == field) & F.col("term").isNotNull()
    )
    if terms is not None:
        blocks = blocks.filter(F.col("term").isin(terms))
    if doc_id is not None:
        ids = [int(doc_id)] if isinstance(doc_id, int) else sorted(
            {int(i) for i in doc_id})
        # per id: its shard (the builder's hash routing) + block range
        # containment; the OR folds constant (literal xxhash64) at
        # planning, so the scan still sees pushable comparisons
        def one(i: int):
            part_expr = F.pmod(
                F.xxhash64(F.lit(i).cast("long")),
                F.lit(index.num_partitions()),
            ).cast("int")
            return ((F.col("part_id") == part_expr)
                    & (F.col("first_doc") <= i)
                    & (F.col("last_doc") >= i))

        cond = one(ids[0])
        for i in ids[1:]:
            cond = cond | one(i)
        blocks = blocks.filter(cond)
    cols = ["part_id", "term", "n", "doc_ids", "tfs", "dls"]
    if with_positions:
        cols.append("positions")
    blocks = blocks.select(*cols)

    def decode(batches):
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                d = codec.delta_decode(codec.vbyte_decode(row.doc_ids))
                data = {
                    "part_id": np.full(d.size, row.part_id, dtype=np.int32),
                    "term": row.term,
                    "doc_id": d,
                    "tf": codec.vbyte_decode(row.tfs).astype(np.int32),
                    "dl": codec.vbyte_decode(row.dls).astype(np.int32),
                }
                if with_positions:
                    data["positions"] = codec.decode_positions(
                        bytes(row.positions), int(row.n)
                    )
                outs.append(pd.DataFrame(data))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    schema = "part_id int, term string, doc_id long, tf int, dl int"
    if with_positions:
        schema += ", positions array<long>"
    return blocks.mapInPandas(decode, schema=schema)


def phrase_prefix_topk(
    index: InvertedIndex,
    field: str,
    terms: list[str],
    k: int | None = 10,
    max_expansions: int = 50,
    params: BM25Params | None = None,
) -> DataFrame:
    """match_phrase_prefix (MatchQueryParser.java:251): the LAST term is
    a prefix, expanded against the term dictionary (like the reference's
    MultiPhrasePrefixQuery, capped at max_expansions); a doc matches if
    the phrase completes with ANY expansion, scored as the best-scoring
    completed phrase.

    SINGLE-PASS plan: the posting blocks of the prefix terms AND every
    expansion are loaded once, and the position intersection runs
    against the expansion SET inside one applyInPandas — one scan, one
    part_id exchange (round 1 unioned up to max_expansions separate
    phrase plans: 50x scan + 50x shuffle of the same prefix blocks)."""
    params = params or BM25Params()
    spark = index.spark
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    expansions = expand_terms(
        index, field, "prefix", terms[-1], max_expansions=max_expansions
    )
    if not expansions:
        return spark.createDataFrame([], TOPK_SCHEMA)
    prefix_terms = list(terms[:-1])
    all_terms = list(dict.fromkeys(prefix_terms + expansions))
    term_stats, n_docs, avgdl = _lookup_terms(index, field, all_terms, params)
    idf_by = {s.term: s.idf for s in term_stats}
    if any(t not in idf_by for t in prefix_terms):
        return spark.createDataFrame([], TOPK_SCHEMA)
    idf_prefix = float(sum(idf_by[t] for t in prefix_terms))
    exp_set = [e for e in expansions if e in idf_by]
    if not exp_set:
        return spark.createDataFrame([], TOPK_SCHEMA)
    k1, b, quant = params.k1, params.b, params.quantize_norms
    m = len(terms)

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        per_term, dl_map = _position_lists(pdf)
        if any(t not in per_term for t in prefix_terms):
            return _empty_topk()
        present_exp = [e for e in exp_set if e in per_term]
        if not present_exp:
            return _empty_topk()
        # candidate docs: contain ALL prefix terms and >=1 expansion
        if prefix_terms:
            cand_docs = set(per_term[prefix_terms[0]])
            for t in prefix_terms[1:]:
                cand_docs &= set(per_term[t])
        else:
            cand_docs = set()
            for e in present_exp:
                cand_docs |= set(per_term[e])
        cand_docs = list(cand_docs)
        dl = np.array([dl_map[doc] for doc in cand_docs], dtype=np.int64)
        dl_eff_of = dict(zip(cand_docs, (
            bm25.quantize_dl(dl) if quant else dl).astype(np.float64).tolist()))
        out_ids, out_scores = [], []
        for doc in cand_docs:
            if prefix_terms:
                cand = per_term[prefix_terms[0]][doc]
                for t in prefix_terms[1:]:
                    cand = np.intersect1d(
                        cand + 1, per_term[t][doc], assume_unique=True
                    )
                    if cand.size == 0:
                        break
                if cand.size == 0:
                    continue
                end_next = cand + 1
            else:
                end_next = None
            best = None
            for e in present_exp:
                pos_e = per_term[e].get(doc)
                if pos_e is None:
                    continue
                if end_next is None:
                    tf = float(pos_e.size)
                else:
                    tf = float(
                        np.intersect1d(end_next, pos_e, assume_unique=True).size
                    )
                if tf == 0.0:
                    continue
                dl_eff = dl_eff_of[doc]
                tfn = tf / (tf + k1 * (1.0 - b + b * dl_eff / avgdl))
                score = (k1 + 1.0) * (idf_prefix + idf_by[e]) * tfn
                if best is None or score > best:
                    best = score
            if best is not None:
                out_ids.append(doc)
                out_scores.append(best)
        if not out_ids:
            return _empty_topk()
        ids = np.array(out_ids, dtype=np.int64)
        scores = np.array(out_scores, dtype=np.float64)
        return _local_topk(ids, scores, np.full(ids.size, m), k)

    cond = (F.col("field") == field) & F.col("term").isin(all_terms)
    cols = ("part_id", "term", "n", "doc_ids", "tfs", "dls", "positions")
    return _scored_scan(index, cond, cols, score_group, k)


def intervals_match(
    index: InvertedIndex,
    field: str,
    terms: list[str],
    max_gaps: int = 0,
    ordered: bool = True,
    k: int | None = 10,
    boost: float = 1.0,
) -> DataFrame:
    """intervals query (IntervalQueryBuilder.java:155) in filter
    context: docs where the terms occur as an interval — ordered (or
    any order) with at most ``max_gaps`` non-matching positions inside
    the span. Constant-score (boost), so the shared (score desc, doc_id
    asc) merge orders by doc_id asc.

    Greedy per-doc check over decoded position lists (numpy), same
    posting-scan skeleton as phrase_topk."""
    spark = index.spark
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    uniq = list(dict.fromkeys(terms))
    m = len(terms)

    def check_group(pdf: pd.DataFrame) -> pd.DataFrame:
        per_term, _ = _position_lists(pdf)
        if any(t not in per_term for t in terms):
            return _empty_topk()
        cand = set(per_term[terms[0]])
        for t in terms[1:]:
            cand &= set(per_term[t])
        hits = []
        for doc in cand:
            pls = [per_term[t][doc] for t in terms]
            if ordered:
                # greedy: earliest admissible position per step
                ok = False
                for start in pls[0]:
                    prev = start
                    good = True
                    for pl in pls[1:]:
                        nxt = pl[pl > prev]
                        if nxt.size == 0:
                            good = False
                            break
                        prev = int(nxt[0])
                    if good and (prev - start) - (m - 1) <= max_gaps:
                        ok = True
                        break
                if ok:
                    hits.append(doc)
            else:
                # any-order window: min span containing one of each.
                # O(prod tf) — fine for few query terms; swap for the
                # k-way sliding-window algorithm if m grows.
                lo_span = None
                import itertools

                for combo in itertools.product(*[pl.tolist() for pl in pls]):
                    span = max(combo) - min(combo)
                    lo_span = span if lo_span is None else min(lo_span, span)
                if lo_span is not None and lo_span - (m - 1) <= max_gaps:
                    hits.append(doc)
        if not hits:
            return _empty_topk()
        ids = np.array(hits, dtype=np.int64)
        return _local_topk(ids, np.full(ids.size, float(boost)),
                           np.full(ids.size, m), k)

    cond = (F.col("field") == field) & F.col("term").isin(uniq)
    cols = ("part_id", "term", "n", "doc_ids", "positions")
    return _scored_scan(index, cond, cols, check_group, k)


def expand_terms(
    index: InvertedIndex,
    field: str,
    kind: str,
    pattern: str,
    fuzziness: int = 2,
    prefix_length: int = 1,
    max_expansions: int = 50,
) -> list[str]:
    """Multi-term query rewrite: scan the term dictionary for matching
    terms (reference: PrefixQueryBuilder/WildcardQueryBuilder/
    RegexpQueryBuilder/FuzzyQueryBuilder -> Lucene automaton scans over
    the terms dict). Returns up to max_expansions terms by df desc
    (ES's top_terms rewrite ordering), term asc on ties."""
    import re as _re

    td = index.term_dict.filter(F.col("field") == field)
    if kind == "prefix":
        cond = F.col("term").startswith(pattern)
    elif kind == "wildcard":
        regex = "^" + "".join(
            ".*" if c == "*" else "." if c == "?" else _re.escape(c)
            for c in pattern
        ) + "$"
        cond = F.col("term").rlike(regex)
    elif kind == "regexp":
        cond = F.col("term").rlike(f"^(?:{pattern})$")
    elif kind == "fuzzy":
        # prefix_length (FuzzyQueryBuilder.prefixLength): candidates
        # must share the first N chars exactly — the Lucene automaton's
        # common-prefix restriction, which keeps the dictionary scan
        # selective. Default 1 (this engine's long-standing behavior;
        # ES's own default is 0, stated for parity).
        cond = (
            (F.abs(F.length("term") - len(pattern)) <= fuzziness)
            & (F.levenshtein(F.col("term"), F.lit(pattern)) <= fuzziness)
        )
        if prefix_length > 0:
            cond = cond & F.col("term").startswith(
                pattern[:prefix_length])
    else:
        raise ValueError(kind)
    rows = (
        td.filter(cond)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def multi_term_topk(
    index: InvertedIndex,
    field: str,
    kind: str,
    pattern: str,
    k: int | None = 10,
    boost: float = 1.0,
    fuzziness: int = 2,
    max_expansions: int = 50,
) -> DataFrame:
    """prefix/wildcard/regexp/fuzzy query over the INDEXED field with
    the reference's default CONSTANT_SCORE rewrite: every doc containing
    any expanded term scores ``boost`` (MultiTermQuery rewrite method;
    tie-break doc_id asc)."""
    spark = index.spark
    terms = expand_terms(index, field, kind, pattern, fuzziness,
                         max_expansions=max_expansions)
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    blocks = index.postings.filter(
        (F.col("field") == field) & F.col("term").isin(terms)
    ).select("part_id", "term", "n", "doc_ids", "tfs", "dls")

    def collect_docs(batches):
        for pdf in batches:
            ids = [
                codec.delta_decode(codec.vbyte_decode(row.doc_ids))
                for row in pdf.itertuples(index=False)
            ]
            if ids:
                yield pd.DataFrame({"doc_id": np.unique(np.concatenate(ids))})

    docs = blocks.mapInPandas(collect_docs, schema="doc_id long").distinct()
    out = docs.select(
        "doc_id",
        F.lit(float(boost)).alias("score"),
        F.lit(1).alias("matched"),
    )
    if k is None:
        return out
    return out.orderBy(F.asc("doc_id")).limit(k)


def match_bool_prefix_topk(
    index: InvertedIndex,
    field: str,
    terms: list[str],
    k: int | None = 10,
    max_expansions: int = 50,
    params: BM25Params | None = None,
) -> DataFrame:
    """match_bool_prefix (the search_as_you_type query path,
    MatchBoolPrefixQueryBuilder / mapper-extras SearchAsYouTypeFieldMapper):
    every term but the last is a SHOULD TermQuery (BM25), the last is a
    PrefixQuery with the constant-score rewrite (contributes 1.0) —
    clauses sum, minimum_should_match=1."""
    params = params or BM25Params()
    spark = index.spark
    if not terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    head, last = terms[:-1], terms[-1]
    pref = multi_term_topk(
        index, field, "prefix", last, k=None, max_expansions=max_expansions
    ).select("doc_id", "score", "matched")
    if not head:
        out = pref
    else:
        base = match_topk(index, field, head, k=None, params=params).select(
            "doc_id", "score", "matched"
        )
        out = (
            base.unionByName(pref)
            .groupBy("doc_id")
            .agg(
                F.sum("score").alias("score"),
                F.sum("matched").cast("int").alias("matched"),
            )
        )
    return _topk_merge(out, k)


def fuzzy_match_topk(
    index: InvertedIndex,
    field: str,
    terms: list[str],
    fuzziness: int = 2,
    max_expansions: int = 50,
    k: int | None = 10,
    minimum_should_match: int = 1,
    params: BM25Params | None = None,
) -> DataFrame:
    """match with fuzziness (MatchQueryBuilder fuzziness option): each
    analyzed term expands against the term dictionary (same automaton
    constraints as the standalone fuzzy query: shared first letter,
    length within fuzziness, edit distance <= fuzziness; top
    max_expansions by df). The expansion set of each term scores as one
    blended group (df = max member df, tf = sum member tfs — the
    SynonymQuery-style blending Lucene's top_terms_blended_freqs rewrite
    approximates); groups sum like bool-OR clauses."""
    from elasticsearch_spark.search.executor import expand_terms  # self

    groups = []
    for t in terms:
        exp = expand_terms(
            index, field, "fuzzy", t,
            fuzziness=fuzziness, max_expansions=max_expansions,
        )
        if exp:
            groups.append(exp)
    if not groups:
        return index.spark.createDataFrame([], TOPK_SCHEMA)
    return synonym_match_topk(
        index, field, groups, k=k,
        minimum_should_match=minimum_should_match, params=params,
    )


def completion_suggest(
    index: InvertedIndex, field: str, prefix: str, size: int = 5
) -> DataFrame:
    """completion-suggester analogue (CompletionSuggester.java / FST
    prefix autocomplete): most frequent terms with the given prefix —
    the term-sorted dictionary plays the FST's role."""
    return (
        index.term_dict.filter(
            (F.col("field") == field) & F.col("term").startswith(prefix)
        )
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(size)
    )


def fetch(topk: DataFrame, docs: DataFrame, on: str = "doc_id") -> DataFrame:
    """Fetch phase: join winning doc ids back to the source table
    (reference: search/fetch/FetchPhase.java:61,71). The top-k side is
    tiny -> broadcast it."""
    return docs.join(F.broadcast(topk), on=on, how="inner").orderBy(
        F.desc("score"), F.asc(on)
    )


def source_filter(
    df: DataFrame,
    includes: list[str] | None = None,
    excludes: list[str] | None = None,
    always: tuple[str, ...] = ("doc_id", "score"),
) -> DataFrame:
    """_source includes/excludes (fetch/subphase/FetchSourcePhase.java +
    FetchSourceContext wildcard patterns): resolved against the column
    list at PLAN time, so the projection prunes all the way into the
    parquet scan — excluded columns are never read. ``always`` keeps
    the hit metadata columns regardless of patterns (like _id/_score
    in the reference's hit envelope)."""
    from fnmatch import fnmatch

    cols = df.columns
    if includes:
        keep = [c for c in cols
                if any(fnmatch(c, p) for p in includes)]
    else:
        keep = list(cols)
    if excludes:
        keep = [c for c in keep
                if not any(fnmatch(c, p) for p in excludes)]
    out, seen = [], set()
    for c in cols:
        if (c in keep or c in always) and c not in seen:
            out.append(c)
            seen.add(c)
    return df.select(*out)


def post_filter_hits(topk: DataFrame, docs: DataFrame, query: dict,
                     on: str = "doc_id") -> DataFrame:
    """The request ``post_filter`` section
    (SearchSourceBuilder.postFilter): narrows the HIT LIST after
    scoring — aggregations run over the pre-filter frame, which is why
    this is not just another bool filter clause. The predicate lands
    on the fetch join's doc side, where it pushes into the scan."""
    from elasticsearch_spark.search.dsl import compile_filter

    return fetch(topk, docs.filter(compile_filter(query, on)), on=on)
