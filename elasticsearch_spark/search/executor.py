"""Query execution: analyzed text -> BM25 top-k over the inverted index.

Physical plan (Spark re-creation of the reference's query_then_fetch with
DFS-global stats — action/search/TransportSearchAction.java:91,
search/query/QueryPhase.java:86, merge SearchPhaseController.java:144-208):

  1. driver: analyze the query text (tiny), look up TermStatistics in
     ``term_dict`` and CollectionStatistics in ``coll_stats``
     (``_term_rows``, one lookup per request) — the DFS phase,
     always-on.
  2. ``postings.filter(field == f & term isin sorted(qterms))`` —
     Parquet predicate pushdown + term-sorted row-group skipping; only
     blocks of the query terms are read (per-term scan, like a
     term-dictionary seek). ``match_topk`` and ``match_topk_batch``
     are one BM25 scan (``_bm25_local``): a single request is a batch
     of one query.
  3. one skeleton shared by every posting scorer (``_posting_groups``,
     ``_scored_scan``): the pushed scan of the shard-bucketed blocks
     (index/builder.py ``bucket_spec``: shard p in bucket p mod
     min(shards, cores at build), so every task is busy and a request
     pays one wave of Python tasks), then
     ``groupBy(bkey).applyInPandas(kernel)`` with NO exchange — the
     scan's bucketing already satisfies the grouping, so the kernel
     runs in the scan's stage and a match request is one job of one
     stage. Inside a bucket the kernel runs once per index partition
     (ES shard), which scores its docs independently (doc-routing
     guarantees a doc's postings for ALL terms share one part_id) and
     emits a LOCAL top-k (``_local_topk``). A filter's doc-id
     allowlist enters here too, once for every scorer: it is routed to
     its shard's bkey and cogrouped with the blocks — only the
     allowlist is exchanged — and the kernel scores only allowed
     docs. Only the numpy kernels differ
     per scorer; the positional ones (phrase and phrase prefix — one
     kernel, ``_phrase_kernel`` —, intervals, spans) read
     ``_position_lists``, and every BM25 weight comes from
     ``bm25.idf_sim`` and ``bm25.tf_norm_sim``. A multi-field query
     (``multi_match_topk``, every type) is one such scan too: its
     kernel runs the BM25 or phrase kernel per field of the shard and
     combines the fields per doc before the local top-k. The BM25 kernel
     prunes with a term-at-a-time MaxScore/block-max strategy
     (reference: WAND activated by the 10k total-hits cap,
     search/query/TopDocsCollectorContext.java:202-206,
     search/internal/SearchContext.java:60-62): each term's blocks are
     scanned in row order against the theta taken at the term
     boundary, and merged into the accumulator once, at the term's
     end. Each group first builds a per-term view of its blocks (skip
     metadata as arrays, block upper bounds) in which a delta+VByte
     block is decoded and quantized at most once, on first use; every
     query of the partition shares that view.
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

import sys
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, GroupedData, functions as F

from elasticsearch_spark.index import codec
from elasticsearch_spark.index.builder import InvertedIndex
from elasticsearch_spark.search import bm25
from elasticsearch_spark.search.bm25 import BM25Params

TOPK_SCHEMA = "doc_id long, score double, matched int"
BATCH_TOPK_SCHEMA = "query_id int, doc_id long, score double, matched int"


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


def _term_rows(
    index: InvertedIndex, field: str, terms: list[str]
) -> tuple[dict, float, float] | None:
    """DFS phase (driver-side): ``({term: term_dict row}, n_docs,
    avgdl)`` for the indexed ``terms`` of ``field``; None for an
    unknown or empty field, which no doc can match."""
    coll = index.collection_stats().get(field)
    if coll is None or not coll["n_docs"]:
        return None
    rows = index.term_stats(field, terms)
    return {r["term"]: r for r in rows}, coll["n_docs"], coll["avgdl"]


def _bm25_only(params: BM25Params, scorer: str) -> None:
    """Phrase and synonym weights are BM25's. Lucene's classic phrase
    weight squares the idf SUM, which per-term ``bm25.idf_sim`` cannot
    express, so another similarity fails loudly instead of scoring a
    hybrid (e.g. classic idf² times a BM25 tf-norm)."""
    if params.similarity != "bm25":
        raise ValueError(
            f"{scorer}: similarity {params.similarity!r} is not supported "
            "(only 'bm25')")


def _no_hits(spark, schema: str = TOPK_SCHEMA) -> DataFrame:
    """An empty result over ZERO partitions: collecting it runs no task
    (``createDataFrame([], schema)`` would plan a Python scan over
    defaultParallelism partitions)."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


# ---------------------------------------------------------------------
# the posting-scan skeleton every scorer shares: bucketed scan ->
# per-shard kernel in the scan's stage -> local top-k -> global merge
# ---------------------------------------------------------------------

_unbucketed_reported = False


def _posting_groups(
    index: InvertedIndex, cond: Column, cols: tuple[str, ...]
) -> GroupedData:
    """The posting blocks matching ``cond`` (field/term predicates are
    pushed to the Parquet scan), projected to ``cols`` (which name
    ``part_id``) and grouped by ``bkey`` with NO exchange.

    The blocks are a table bucketed by ``bkey`` (index/builder.py
    ``bucket_spec``): shard p sits in bucket p mod B, B = min(shards,
    cores at build time), so the scan is already partitioned the way
    ``groupBy("bkey")`` needs — one wave of B Python tasks, each holding
    at most ``ceil(shards / B)`` shards, in the scan's own stage. With
    no exchange, AQE's byte-targeted coalescing cannot fuse these
    small-but-CPU-bound groups into a few fat tasks either (measured
    before the layout: 4.8/8 busy cores coalesced vs 7.4/8 pinned at
    local[8] / 500k docs — BENCH/BASELINE.md). The kernel still runs
    once per shard (``_scored_scan``). A scan that is
    not bucketed (an index without a spec, a MultiIndex whose members
    differ) carries ``bkey = part_id``, and Spark's own exchange groups
    it: the same rows, one stage more — reported once per process."""
    global _unbucketed_reported
    if index.bucketing is None and not _unbucketed_reported:
        _unbucketed_reported = True
        print(f"executor: the postings of {index.path} are not "
              "shard-bucketed; scorers group them behind an exchange "
              "(reported once)", file=sys.stderr)
    return index.postings.filter(cond).select("bkey", *cols).groupBy("bkey")


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
    allowed: DataFrame | None = None,
    schema: str = TOPK_SCHEMA,
) -> DataFrame:
    """Run ``kernel(pdf, ids)`` (one shard's blocks -> its local top-k
    in ``schema``) over the shared posting scan, then merge globally
    (``k=None``: no merge). ``ids`` is None unless ``allowed`` is
    given.

    ``allowed`` (a DataFrame with a ``doc_id`` column) restricts
    scoring to docs passing a filter clause WITHOUT giving up top-k
    pruning — the Spark shape of the reference's "filter bitset
    intersected inside the collector while WAND prunes"
    (search/query/TopDocsCollectorContext.java:202-206). The ids are
    routed to their shard and its ``bkey`` with the builder's
    expressions and cogrouped with the posting blocks on ``bkey``
    alone: only the allowlist side is exchanged (to the scan's
    ``hashpartitioning(bkey, B)``); grouping on (bkey, part_id) would
    shuffle the blocks too. The kernel receives its shard's allowlist
    as sorted int64 ``ids``. ONE job, no driver round-trip, executor
    memory bounded at any filter size.

    Measured at 1M docs / local[16] (BENCH/BASELINE.md): the cogroup,
    a broadcast id array and the score-all + semi-join plan are all
    within host noise, because scoring is not the bottleneck at 8k-doc
    shards and hash-routed doc ids leave no empty block ranges to skip.
    The structural difference — each shard emits only k rows and theta
    pruning stays VALID under the filter — is what matters at
    1000-executor scale, where the k=None plan's per-shard full
    emission and disabled pruning dominate."""
    groups = _posting_groups(index, cond, cols)

    def per_shard(pdf: pd.DataFrame, ids: dict | None) -> pd.DataFrame:
        """The kernel once per shard of a bucket's blocks, so each
        shard's local top-k is scored over its own blocks only; with an
        allowlist, only shards holding allowed ids are scored."""
        outs = [kernel(g, None if ids is None else ids[p])
                for p, g in pdf.groupby("part_id", sort=False)
                if ids is None or p in ids]
        outs = [o for o in outs if not o.empty]
        if not outs:
            return _empty_topk(schema)
        return outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    if allowed is None:
        local = groups.applyInPandas(lambda pdf: per_shard(pdf, None),
                                     schema=schema)
        return _topk_merge(local, k)

    def score_cogroup(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return per_shard(left, {
            p: np.sort(v.to_numpy(dtype=np.int64))
            for p, v in right.groupby("part_id", sort=False)["doc_id"]})

    local = groups.cogroup(index.route_ids(allowed).groupBy("bkey")) \
        .applyInPandas(score_cogroup, schema=schema)
    return _topk_merge(local, k)


def _member_mask(sorted_ids: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Which of ``d`` occur in the non-empty sorted ``sorted_ids``."""
    pos = np.searchsorted(sorted_ids, d)
    pos[pos >= sorted_ids.size] = sorted_ids.size - 1
    return sorted_ids[pos] == d


def _position_lists(
    pdf: pd.DataFrame, key: str | list[str] = "term",
    allowed: np.ndarray | None = None,
) -> tuple[dict, dict[int, int]]:
    """Decode one partition's blocks (projected with ``n``, ``doc_ids``
    and ``positions``) into ``{key: {doc: positions}}``, grouped by the
    ``key`` column(s), keeping only the docs in ``allowed`` (sorted
    int64) when it is given. When the projection also carries ``dls``
    the second result maps every kept doc to its field length; it is
    empty otherwise."""
    with_dl = "dls" in pdf.columns
    per_term: dict = {}
    dl_map: dict[int, int] = {}
    for term, g in pdf.groupby(key, sort=False):
        docs: dict[int, np.ndarray] = {}
        for row in g.itertuples(index=False):
            d = codec.delta_decode(codec.vbyte_decode(row.doc_ids))
            rows = (range(d.size) if allowed is None
                    else np.flatnonzero(_member_mask(allowed, d)))
            if len(rows) == 0:
                continue
            plists = codec.decode_positions(bytes(row.positions), int(row.n))
            for j in rows:
                docs[int(d[j])] = plists[j]
            if with_dl:
                dls = codec.vbyte_decode(row.dls)
                for j in rows:
                    dl_map[int(d[j])] = int(dls[j])
        per_term[term] = docs
    return per_term, dl_map


def _empty_topk(schema: str = TOPK_SCHEMA) -> pd.DataFrame:
    """A kernel's no-hit result, typed as ``schema`` (TOPK_SCHEMA or
    BATCH_TOPK_SCHEMA)."""
    empty = pd.DataFrame({"doc_id": [], "score": [], "matched": []}).astype(
        {"doc_id": "int64", "score": "float64", "matched": "int32"}
    )
    if schema == BATCH_TOPK_SCHEMA:
        empty.insert(0, "query_id", np.int32(0))
    return empty


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


def _fold(ids: np.ndarray, scores: np.ndarray, matched: np.ndarray,
          tie: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per distinct doc of ``ids``: max + tie·(sum − max) of its
    ``scores`` (the plain sum at tie 1) and the sum of its ``matched``."""
    u, inv = np.unique(ids, return_inverse=True)
    total, n = np.zeros(u.size), np.zeros(u.size, dtype=np.int64)
    np.add.at(total, inv, scores)
    np.add.at(n, inv, matched)
    if tie != 1.0:
        best = np.full(u.size, -np.inf)
        np.maximum.at(best, inv, scores)
        total = best + tie * (total - best)
    return u, total, n


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
    """The BM25 kernel of one query over one partition's
    ``_term_view`` (built with this scorer's avgdl and params):
    ``score(view, allowed, allowed_range=None)`` -> local top-k."""
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
        view: dict[str, _TermBlocks],
        allowed: np.ndarray | None,
        allowed_range: tuple[int, int] | None = None,
    ) -> pd.DataFrame:
        """Score one partition's blocks; ``allowed`` (sorted int64 doc
        ids) restricts scoring to docs that passed a filter clause —
        pruning stays SAFE because every accumulated doc is then a true
        candidate, so theta remains a lower bound of the final k-th
        score (the reference intersects the filter bitset inside the
        collector the same way: TopDocsCollectorContext.java:202-206)."""
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
            # Blocks are scanned in row order against this term-boundary
            # theta; the term's hits merge into the accumulator once,
            # after its last block.
            block_ubs = None
            if theta is not None and not restrict:
                block_ubs = ts.weight * ts.idf * tb.ub_tfn()
            nstat["blocks"] += tb.n
            if restrict and acc_ids.size == 0:
                # no accumulator doc to update, and no new doc may enter
                nstat["skip_restrict_empty"] += tb.n
                continue
            first_doc, last_doc = tb.first_doc, tb.last_doc
            hits: list[tuple] = []
            for j in range(tb.n):
                restricted = restrict or (
                    block_ubs is not None and block_ubs[j] + rem_after < theta
                )
                if restricted:
                    lo = np.searchsorted(acc_ids, first_doc[j], "left")
                    hi = np.searchsorted(acc_ids, last_doc[j], "right")
                    if lo == hi:
                        nstat["skip_theta_range"] += 1
                        continue  # range-skip: nothing to update, no decode
                elif allowed is not None:
                    # filter-aware skip: a block whose [first_doc,
                    # last_doc] range holds no allowed doc decodes
                    # nothing (the allowlist is sorted)
                    lo = np.searchsorted(allowed, first_doc[j], "left")
                    hi = np.searchsorted(allowed, last_doc[j], "right")
                    if lo == hi:
                        nstat["skip_filter"] += 1
                        continue
                elif allowed_range is not None:
                    # index-sort range skip: doc ids ARE sort ranks, so
                    # a block outside [lo, hi] never decodes (Lucene
                    # sorted-index early termination)
                    if (last_doc[j] < allowed_range[0]
                            or first_doc[j] > allowed_range[1]):
                        nstat["skip_sort"] += 1
                        continue
                # counts blocks this query needed decoded, whether or
                # not an earlier query already filled the cache
                d, tfn = tb.block(j)
                nstat["decoded"] += 1
                if restricted:
                    mask = _member_mask(acc_ids, d)
                    if not mask.any():
                        nstat["skip_member"] += 1
                        continue  # block-skip: no accumulator members
                elif allowed is not None:
                    mask = _member_mask(allowed, d)
                elif allowed_range is not None:
                    mask = (d >= allowed_range[0]) & (d <= allowed_range[1])
                else:
                    mask = None
                if mask is not None:
                    d, tfn = d[mask], tfn[mask]
                hits.append((d, tfn))
            if not hits:
                continue
            ids = np.concatenate([acc_ids] + [d for d, _ in hits])
            acc_ids, acc_scores, acc_counts = _fold(
                ids,
                np.concatenate(
                    [acc_scores] + [ts.weight * ts.idf * t for _, t in hits]),
                np.concatenate(
                    [acc_counts, np.full(ids.size - acc_ids.size, ts.weight)]),
                1.0)
            if operator == "and":
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


def _query_scorer(terms: list[str], by_term: dict, n_docs: float,
                  avgdl: float, params: BM25Params, k: int | None,
                  operator: str, minimum_should_match: int, prune: bool):
    """One query's BM25 kernel over one field's ``by_term`` rows and the
    terms it reads; None when no doc can match (no indexed term, or an
    AND query missing one)."""
    stats = _stats_from_rows(terms, by_term, n_docs, avgdl, params)
    if not stats or (operator == "and" and len(stats) < len(set(terms))):
        return None
    return (_make_scorer(stats, avgdl, params, k, operator,
                         minimum_should_match, prune),
            [s.term for s in stats])


# the block columns the BM25 kernel (``_term_view``) reads
_BM25_COLS = ("part_id", "term", "doc_ids", "tfs", "dls",
              "max_tf", "min_dl", "first_doc", "last_doc")


def _bm25_local(
    index: InvertedIndex,
    field: str,
    queries: list[list[str]],
    k: int | None,
    operator: str,
    minimum_should_match: int,
    params: BM25Params,
    prune: bool,
    allowed: DataFrame | None = None,
    rng: tuple[int, int] | None = None,
) -> DataFrame | None:
    """The one BM25 scan behind ``match_topk`` (a batch of one) and
    ``match_topk_batch``: ONE term-dict lookup for the sorted union of
    the queries' terms, ONE postings scan with a pushed
    ``In(term, ...)`` filter, and ONE applyInPandas pass in which each
    partition builds one ``_term_view`` of its blocks and scores every
    query against it. A block is decoded at most once per partition and
    shared by every query that visits it; each query's pruning
    decisions are its own, and a query that restricts a block masks a
    copy of the shared decode.

    Returns every partition's local top-k of each query in
    BATCH_TOPK_SCHEMA (``query_id`` = the query's position in
    ``queries``; queries with no indexed terms emit no rows), or None
    when no query can match. ``allowed`` and ``rng`` restrict scoring
    as in ``match_topk``."""
    if rng is not None:
        rng = (int(rng[0]), int(rng[1]))
        if rng[0] > rng[1]:
            return None
    looked = _term_rows(index, field, sorted({t for q in queries for t in q}))
    if looked is None:
        return None
    by_term, n_docs, avgdl = looked
    scorers: list[tuple[int, object]] = []
    live_terms: set[str] = set()
    for qid, qterms in enumerate(queries):
        q = _query_scorer(qterms, by_term, n_docs, avgdl, params, k,
                          operator, minimum_should_match, prune)
        if q is not None:
            scorers.append((qid, q[0]))
            live_terms.update(q[1])
    if not scorers:
        return None

    def score_queries(pdf: pd.DataFrame, ids) -> pd.DataFrame:
        view = _term_view(pdf, avgdl, params)
        outs = []
        for qid, score in scorers:
            res = score(view, ids, rng)
            if not res.empty:
                res.insert(0, "query_id", np.int32(qid))
                outs.append(res)
        if not outs:
            return _empty_topk(BATCH_TOPK_SCHEMA)
        return pd.concat(outs, ignore_index=True)

    cond = (F.col("field") == field) & F.col("term").isin(sorted(live_terms))
    if rng is not None:
        # scan-level block pruning: parquet row-group min/max stats on
        # the pushed first_doc/last_doc predicates
        cond = cond & (
            (F.col("last_doc") >= rng[0]) & (F.col("first_doc") <= rng[1]))
    return _scored_scan(index, cond, _BM25_COLS, score_queries, None,
                        allowed, BATCH_TOPK_SCHEMA)


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
    scoring to docs passing a filter clause, pushed into the scorer by
    the shared skeleton (``_scored_scan``).
    """
    local = _bm25_local(
        index, field, [terms], k, operator, minimum_should_match,
        params or BM25Params(), prune, allowed, allowed_range)
    if local is None:
        return _no_hits(index.spark)
    return _topk_merge(local.drop("query_id"), k)


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

    Per-query results are identical to ``match_topk``: both run the
    same scan (``_bm25_local``), which amortizes everything that is
    per-JOB in the one-at-a-time path — one stats lookup, one postings
    scan, one applyInPandas pass sharing each partition's decoded
    blocks across every query — followed here by ONE per-query window
    top-k over the (n_shards x Q x k)-row local results.

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
    from pyspark.sql import Window

    local = _bm25_local(
        index, field, queries, k, operator, minimum_should_match,
        params or BM25Params(), prune)
    if local is None:
        return _no_hits(index.spark, BATCH_TOPK_SCHEMA)
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


def _phrase_kernel(
    index: InvertedIndex,
    field: str,
    head: list[str],
    lasts: list[str],
    k: int | None,
    params: BM25Params,
    slop: int,
):
    """The one positional phrase kernel: docs where the ``head`` terms
    occur as a phrase followed by ANY term of ``lasts`` — exactly
    adjacent, or within ``slop`` (:func:`_sloppy_phrase_freq`) —
    restricted to the ``allowed`` doc ids when given.

    Lucene's MultiPhraseQuery shape (the reference's
    MultiPhrasePrefixQuery, MatchQueryParser.java:251, is a phrase
    whose last position accepts a set of terms); a PhraseQuery is the
    case ``len(lasts) == 1``. Scoring follows PhraseWeight: each (doc,
    completion) scores ``idf_sum * tf_norm(phrase freq, dl)`` with the
    idf summed over every phrase position (a repeated term once per
    position) and tf the number of occurrences (slop=0) or the sum of
    ``1/(1+matchLength)`` sloppy weights; a doc keeps its best
    completion.

    Plan: the shared posting-scan skeleton over the blocks of every
    phrase term (one bucketed scan, no exchange), then per candidate
    doc a position-list intersection: end = pos(h0); end = (end+1) ∩
    pos(h1); ...; freq = |(end+1) ∩ pos(last)|. Candidates are docs
    holding every head term (the conjunction prunes before any
    position decode).

    Returns ``(sorted scan terms, kernel(pdf, ids))`` for blocks
    projected to ``_PHRASE_COLS``, or None when no doc can match."""
    if slop and len(set(head) | set(lasts)) < len(head) + len(lasts):
        raise ValueError(
            "slop>0 with repeated phrase terms is not supported (Lucene "
            "repeat-group handling not implemented)")
    qterms = sorted(set(head) | set(lasts))
    looked = _term_rows(index, field, qterms)
    if looked is None:
        return None
    by_term, n_docs, avgdl = looked
    lasts = [t for t in lasts if t in by_term]
    if not lasts or any(t not in by_term for t in head):
        return None
    idf = {t: bm25.idf_sim(int(r["df"]), n_docs, params)
           for t, r in by_term.items()}
    idf_head = float(sum(idf[t] for t in head))
    m = len(head) + 1

    def score_group(pdf: pd.DataFrame, ids) -> pd.DataFrame:
        per_term, dl_map = _position_lists(pdf, allowed=ids)
        present = [t for t in lasts if t in per_term]
        if not present or any(t not in per_term for t in head):
            return _empty_topk()
        if head:
            cand_docs = set(per_term[head[0]]).intersection(
                *(per_term[t] for t in head[1:]))
        else:
            cand_docs = set().union(*(per_term[t] for t in present))
        out_ids, out_tfs, out_idfs = [], [], []
        for doc in cand_docs:
            plists = [per_term[t][doc] for t in head]
            if head and not slop:
                end = plists[0]
                for pl in plists[1:]:
                    end = np.intersect1d(end + 1, pl, assume_unique=True)
                if end.size == 0:
                    continue
            for t in present:
                pos = per_term[t].get(doc)
                if pos is None:
                    continue
                if slop:
                    tf = _sloppy_phrase_freq(plists + [pos], slop)
                elif head:
                    tf = float(np.intersect1d(
                        end + 1, pos, assume_unique=True).size)
                else:
                    tf = float(pos.size)
                if tf:
                    out_ids.append(doc)
                    out_tfs.append(tf)
                    out_idfs.append(idf_head + idf[t])
        if not out_ids:
            return _empty_topk()
        ids = np.array(out_ids, dtype=np.int64)
        dl = np.array([dl_map[doc] for doc in out_ids], dtype=np.int64)
        scores = np.array(out_idfs) * bm25.tf_norm_sim(
            np.array(out_tfs), dl, avgdl, params)
        # a doc keeps its best-scoring completion
        order = np.lexsort((-scores, ids))
        ids, scores = ids[order], scores[order]
        best = np.r_[True, ids[1:] != ids[:-1]]
        return _local_topk(ids[best], scores[best],
                           np.full(int(best.sum()), m), k)

    return qterms, score_group


# the block columns the phrase kernel (``_position_lists``) reads
_PHRASE_COLS = ("part_id", "term", "n", "doc_ids", "tfs", "dls", "positions")


def _phrase_scan(
    index: InvertedIndex,
    field: str,
    head: list[str],
    lasts: list[str],
    k: int | None,
    params: BM25Params,
    slop: int,
    allowed: DataFrame | None,
) -> DataFrame:
    """``_phrase_kernel`` over the shared posting-scan skeleton."""
    kern = _phrase_kernel(index, field, head, lasts, k, params, slop)
    if kern is None:
        return _no_hits(index.spark)
    qterms, score_group = kern
    cond = (F.col("field") == field) & F.col("term").isin(qterms)
    return _scored_scan(index, cond, _PHRASE_COLS, score_group, k, allowed)


def phrase_topk(
    index: InvertedIndex,
    field: str,
    terms: list[str],
    k: int | None = 10,
    params: BM25Params | None = None,
    slop: int = 0,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """match_phrase: phrase top-k (exact adjacency, or sloppy when
    ``slop`` > 0), restricted to the ``allowed`` doc ids when given
    (pushed into the kernel like ``match_topk``'s).

    Reference: MatchQueryParser.java:243 createPhraseQuery -> Lucene
    PhraseQuery, scored by ``_phrase_scan`` with a one-term last
    position. BM25 similarity only: another one raises ValueError."""
    params = params or BM25Params()
    _bm25_only(params, "phrase_topk")
    if not terms:
        return _no_hits(index.spark)
    return _phrase_scan(index, field, list(terms[:-1]), [terms[-1]], k,
                        params, slop, allowed)


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
    one pushed-down bucketed block scan of all member terms, no
    exchange, local top-k + global merge. BM25 similarity only."""
    params = params or BM25Params()
    _bm25_only(params, "synonym_match_topk")
    looked = _term_rows(index, field, sorted({t for g in groups for t in g}))
    if looked is None:
        return _no_hits(index.spark)
    by_term, n_docs, avgdl = looked
    group_idf: list[float] = []
    live_groups: list[list[str]] = []
    for g in groups:
        dfs = [int(by_term[t]["df"]) for t in g if t in by_term]
        if not dfs:
            continue
        live_groups.append([t for t in g if t in by_term])
        group_idf.append(bm25.idf_sim(max(dfs), n_docs, params))
    if not live_groups:
        return _no_hits(index.spark)
    msm = max(minimum_should_match, 1)

    def score_group(pdf: pd.DataFrame, _ids) -> pd.DataFrame:
        hits = []
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
            hits.append((uniq, group_idf[gi] * bm25.tf_norm_sim(
                tf_sum, dl_first, avgdl, params)))
        if not hits:
            return _empty_topk()
        # groups sum like bool-OR clauses, one matched clause each
        ids, scores, counts = _fold(
            *(np.concatenate(a) for a in zip(*hits)),
            np.ones(sum(u.size for u, _ in hits), dtype=np.int64), 1.0)
        keep = counts >= msm
        return _local_topk(ids[keep], scores[keep], counts[keep], k)

    cond = (F.col("field") == field) & F.col("term").isin(
        sorted({t for g in live_groups for t in g}))
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
    allowed: DataFrame | None = None,
) -> DataFrame:
    """match_phrase_prefix (MatchQueryParser.java:251): the LAST term is
    a prefix, expanded against the term dictionary (like the reference's
    MultiPhrasePrefixQuery, capped at max_expansions); a doc matches if
    the phrase completes with ANY expansion, scored as the best-scoring
    completed phrase. ``allowed`` restricts it to those doc ids, as in
    ``match_topk``.

    SINGLE-PASS plan (``_phrase_scan`` with the expansions as the last
    position): the posting blocks of the prefix terms AND every
    expansion are loaded once — one bucketed scan, no exchange (round 1
    unioned up to max_expansions separate phrase plans: 50x scan + 50x
    shuffle of the same prefix blocks). BM25 similarity only."""
    params = params or BM25Params()
    _bm25_only(params, "phrase_prefix_topk")
    if not terms:
        return _no_hits(index.spark)
    expansions = expand_terms(
        index, field, "prefix", terms[-1], max_expansions=max_expansions
    )
    return _phrase_scan(index, field, list(terms[:-1]), expansions, k,
                        params, 0, allowed)


def multi_match_topk(
    index: InvertedIndex,
    field_terms: dict[str, list[str]],
    mtype: str = "best_fields",
    k: int | None = 10,
    tie_breaker: float = 0.0,
    operator: str = "or",
    minimum_should_match: int = 1,
    slop: int = 0,
    params: BM25Params | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """multi_match (MultiMatchQueryBuilder.Type) over ``{field: analyzed
    terms}`` as ONE scored leaf: one scan pushing sorted ``field`` and
    ``term`` IN lists read with no exchange, and one kernel that runs
    each field's BM25 (``_make_scorer``) or phrase (``_phrase_kernel``)
    kernel on its shard and combines the fields per doc — exact
    locally, as a doc's postings for every field share its shard.
    best_fields and most_fields score each field's BM25 match
    (``operator``, ``minimum_should_match``); best_fields and the
    phrase types (``slop`` for phrase) take max + tie·(sum − max),
    most_fields the sum. cross_fields scores each (field, term) with
    the term's df blended to its max over the fields
    (BlendedTermQuery), takes max + tie·(sum − max) per term and sums
    the terms — within each group of fields indexed with one analyzer
    (``index.analyzer``); the groups' scores combine as a dis_max,
    max + tie·(sum − max), as in the reference's
    MultiMatchQueryParser.buildCrossFieldQuery, so a one-field group is
    that field's plain match. best_fields at tie 0 keeps pruning: each field
    keeps its shard top-k, which holds every doc of the max's shard
    top-k (the argument of ``api._max_disjunction_leaves``); the other
    types score exhaustively and cut after combining. ``allowed``
    restricts scoring as in ``match_topk``."""
    params = params or BM25Params()
    if mtype not in ("best_fields", "most_fields", "cross_fields",
                     "phrase", "phrase_prefix"):
        raise ValueError(f"multi_match: unsupported type {mtype!r}")
    phrase = mtype.startswith("phrase")
    if phrase:
        _bm25_only(params, f"multi_match type={mtype}")
    tie = 1.0 if mtype == "most_fields" else float(tie_breaker)
    # {field: (scan terms, avgdl, [((group, term), kernel)])}: the kernels
    # of one (group, term) fold first, then each group sums its terms,
    # then the groups fold. Only cross_fields has more than one key.
    units: dict = {}
    if phrase:
        for f, terms in field_terms.items():
            if not terms:
                continue
            lasts = terms[-1:] if mtype == "phrase" else expand_terms(
                index, f, "prefix", terms[-1])
            kern = _phrase_kernel(index, f, list(terms[:-1]), lasts, None,
                                  params, slop if mtype == "phrase" else 0)
            if kern is not None:
                units[f] = (kern[0], None, [((0, 0), kern[1])])
    looked = {} if phrase else {
        f: r for f, terms in field_terms.items()
        if (r := _term_rows(index, f, sorted(set(terms)))) is not None}
    if mtype == "cross_fields":
        groups: dict[str, list[str]] = {}
        for f in looked:
            groups.setdefault(index.analyzer(f), []).append(f)
        for g, group in enumerate(groups.values()):
            members = {f: looked[f] for f in group}
            n_docs = max(n for _, n, _ in members.values())
            df_max: dict[str, int] = {}
            for by_term, _, _ in members.values():
                for t, r in by_term.items():
                    df_max[t] = max(df_max.get(t, 0), int(r["df"]))
            for f, (by_term, _, avgdl) in members.items():
                blended = {t: {"df": df_max[t], "max_tf": r["max_tf"],
                               "min_dl": r["min_dl"]}
                           for t, r in by_term.items()}
                stats = _stats_from_rows(list(dict.fromkeys(field_terms[f])),
                                         blended, n_docs, avgdl, params)
                if stats:
                    units[f] = ([s.term for s in stats], avgdl, [
                        ((g, s.term), _make_scorer([s], avgdl, params, None,
                                                   "or", 1, False))
                        for s in stats])
    elif not phrase:
        pruned = mtype == "best_fields" and tie == 0.0
        for f, (by_term, n_docs, avgdl) in looked.items():
            q = _query_scorer(field_terms[f], by_term, n_docs, avgdl, params,
                              k if pruned else None, operator,
                              minimum_should_match, prune=True)
            if q is not None:
                units[f] = (q[1], avgdl, [((0, 0), q[0])])
    if not units:
        return _no_hits(index.spark)

    def score_fields(pdf: pd.DataFrame, ids) -> pd.DataFrame:
        by_field = pdf.groupby("field", sort=False).indices
        by_key: dict = {}
        for f, (_, avgdl, kernels) in units.items():
            if f in by_field:
                sub = pdf.iloc[by_field[f]]
                src = sub if phrase else _term_view(sub, avgdl, params)
                for key, kernel in kernels:
                    by_key.setdefault(key, []).append(kernel(src, ids))
        per_group: dict = {}
        for (g, _), hits in by_key.items():
            per_group.setdefault(g, []).append(_fold(*(
                np.concatenate([h[c].to_numpy() for h in hits])
                for c in ("doc_id", "score", "matched")), tie))
        folded = [f[0] if len(f) == 1 else
                  _fold(*map(np.concatenate, zip(*f)), 1.0)
                  for f in per_group.values()]
        if len(folded) > 1:
            folded = [_fold(*map(np.concatenate, zip(*folded)), tie)]
        if not folded:
            return _empty_topk()
        return _local_topk(*folded[0], k)

    terms = sorted({t for scan_terms, _, _ in units.values()
                    for t in scan_terms})
    cond = F.col("field").isin(sorted(units)) & F.col("term").isin(terms)
    cols = _PHRASE_COLS if phrase else _BM25_COLS
    return _scored_scan(index, cond, (cols[0], "field") + cols[1:],
                        score_fields, k, allowed)


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
    if not terms:
        return _no_hits(index.spark)
    m = len(terms)

    def check_group(pdf: pd.DataFrame, ids) -> pd.DataFrame:
        per_term, _ = _position_lists(pdf, allowed=ids)
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

    cond = (F.col("field") == field) & F.col("term").isin(sorted(set(terms)))
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
    tie-break doc_id asc). A constant-score kernel on the shared
    posting-scan skeleton: each partition emits its unique doc ids —
    a doc lives in exactly one shard, so they are globally distinct."""
    terms = expand_terms(index, field, kind, pattern, fuzziness,
                         max_expansions=max_expansions)
    if not terms:
        return _no_hits(index.spark)

    def docs_group(pdf: pd.DataFrame, _ids) -> pd.DataFrame:
        ids = np.unique(np.concatenate([
            codec.delta_decode(codec.vbyte_decode(b)) for b in pdf["doc_ids"]
        ]))
        return _local_topk(ids, np.full(ids.size, float(boost)),
                           np.ones(ids.size, dtype=np.int32), k)

    cond = (F.col("field") == field) & F.col("term").isin(sorted(terms))
    return _scored_scan(index, cond, ("part_id", "doc_ids"), docs_group, k)


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
    if not terms:
        return _no_hits(index.spark)
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
    groups = []
    for t in terms:
        exp = expand_terms(
            index, field, "fuzzy", t,
            fuzziness=fuzziness, max_expansions=max_expansions,
        )
        if exp:
            groups.append(exp)
    if not groups:
        return _no_hits(index.spark)
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
    tiny -> broadcast it. The hits are few, so they are ordered in one
    partition: a global ``orderBy`` would add a range exchange and its
    sampling job, and a ``limit(k)`` would drop rows if ``docs`` held
    duplicate ids."""
    return (docs.join(F.broadcast(topk), on=on, how="inner")
            .repartition(1)
            .sortWithinPartitions(F.desc("score"), F.asc(on)))


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
