"""Span query family + intervals source algebra over position lists.

Reference: the span query registrations in SearchModule.java:788-798
(span_term, span_near, span_or, span_not, span_first, span_within /
span_containing, field_masking_span) and the intervals sources
(match / any_of / all_of combinators) of IntervalQueryBuilder.java:155.

A span query evaluates, per document, to a list of (start, end)
position spans; combinators compose those lists:

  {"span_term": {"field": t}}                         -> [(p, p) ...]
  {"span_near": {"clauses": [...], "slop": n,
                 "in_order": true}}                   -> joined spans
  {"span_or":   {"clauses": [...]}}                   -> union
  {"span_not":  {"include": q, "exclude": q}}         -> non-overlapping
  {"span_first": {"match": q, "end": n}}              -> spans ending < n
  {"span_within"/"span_containing": {"little": q, "big": q}}

Intervals sources reuse the same evaluator: ``match`` == span_near with
max_gaps, ``any_of`` == span_or, ``all_of`` == span_near(ordered?).

Docs match when >=1 span survives; like the engine's intervals query
this executes in FILTER context (constant score = boost, so the
(score desc, doc_id asc) merge orders by doc_id asc). Physical plan:
the posting-scan skeleton every scorer shares (executor._scored_scan)
— the shard-bucketed blocks of the span tree's (field, term) pairs,
selected by the query tree's own scan condition (executor._pairs_cond)
and read with no exchange, an applyInPandas position evaluation over
the shared ``_position_lists`` decode, local top-k and global merge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from elasticsearch_spark.index.builder import InvertedIndex
from elasticsearch_spark.search.executor import (
    _empty_topk, _local_topk, _no_hits, _pairs_cond, _position_lists,
    _scored_scan,
)


def span_pairs(tree: dict) -> list[tuple[str, str]]:
    """All (field, term) pairs referenced by a span tree. The
    span_term body key IS the field, so a ``span_field_masking``
    wrapper (FieldMaskingSpanQueryBuilder.java) needs no term-level
    rewriting — its inner clauses keep their own fields and the mask
    only changes what the wrapper CLAIMS for outer compatibility."""
    kind, body = next(iter(tree.items()))
    if kind == "span_term":
        f, t = next(iter(body.items()))
        return [(f, t)]
    if kind in ("span_near", "span_or"):
        out: list[tuple[str, str]] = []
        for c in body["clauses"]:
            out += span_pairs(c)
        return out
    if kind == "span_not":
        return span_pairs(body["include"]) + span_pairs(body["exclude"])
    if kind == "span_first":
        return span_pairs(body["match"])
    if kind in ("span_within", "span_containing"):
        return span_pairs(body["little"]) + span_pairs(body["big"])
    if kind == "span_field_masking":
        return span_pairs(body["query"])
    raise ValueError(f"unsupported span query: {kind}")


def span_terms(tree: dict) -> list[str]:
    """All span_term terms referenced by a span tree."""
    return [t for _, t in span_pairs(tree)]


# spans are (start, end, content_len) triples: content_len = positions
# OCCUPIED by matched terms (1 per span_term; a composed span occupies
# its whole width when nested further). Slop consumed by a span_near
# combination = (end - start + 1) - sum(child content_len).


def _near(
    span_lists: list[list[tuple[int, int, int]]], slop: int, in_order: bool
) -> list[tuple[int, int, int]]:
    """Join sub-span lists into composite spans where the positions NOT
    covered by the sub-spans number at most ``slop`` (Lucene
    SpanNearQuery slop semantics); sub-spans must not overlap, and must
    appear in clause order when ``in_order``."""
    if any(not sl for sl in span_lists):
        return []
    out: set[tuple[int, int, int]] = set()
    if in_order:
        def rec(i: int, prev_end: int, start: int, clen: int):
            for (s, e, c) in span_lists[i]:
                if s > prev_end:
                    if i == len(span_lists) - 1:
                        width = e - start + 1
                        if width - (clen + c) <= slop:
                            out.add((start, e, width))
                    else:
                        rec(i + 1, e, start, clen + c)

        if len(span_lists) == 1:
            out.update(span_lists[0])
        else:
            for (s0, e0, c0) in span_lists[0]:
                rec(1, e0, s0, c0)
    else:
        import itertools

        for combo in itertools.product(*span_lists):
            order = sorted(range(len(combo)), key=lambda i: combo[i][0])
            ok = all(
                combo[order[i + 1]][0] > combo[order[i]][1]
                for i in range(len(order) - 1)
            )
            if not ok:
                continue
            s = min(c[0] for c in combo)
            e = max(c[1] for c in combo)
            clen = sum(c[2] for c in combo)
            width = e - s + 1
            if width - clen <= slop:
                out.add((s, e, width))
    return sorted(out)


def eval_span(
    tree: dict, pos_by_term: dict[str, np.ndarray]
) -> list[tuple[int, int, int]]:
    kind, body = next(iter(tree.items()))
    if kind == "span_term":
        f, t = next(iter(body.items()))
        pos = pos_by_term.get((f, t))
        if pos is None:
            return []
        return [(int(p), int(p), 1) for p in pos]
    if kind == "span_field_masking":
        # positions come from the INNER field's postings verbatim;
        # the mask exists only so outer combiners accept the clause
        return eval_span(body["query"], pos_by_term)
    if kind == "span_or":
        out: set[tuple[int, int, int]] = set()
        for c in body["clauses"]:
            out.update(eval_span(c, pos_by_term))
        return sorted(out)
    if kind == "span_near":
        slop = int(body.get("slop", 0))
        in_order = bool(body.get("in_order", True))
        sub = [eval_span(c, pos_by_term) for c in body["clauses"]]
        return _near(sub, slop, in_order)
    if kind == "span_not":
        inc = eval_span(body["include"], pos_by_term)
        exc = eval_span(body["exclude"], pos_by_term)
        return [
            (s, e, c) for (s, e, c) in inc
            if not any(xs <= e and xe >= s for (xs, xe, _xc) in exc)
        ]
    if kind == "span_first":
        end = int(body["end"])
        return [
            (s, e, c) for (s, e, c) in eval_span(body["match"], pos_by_term)
            if e < end
        ]
    if kind == "span_within":
        little = eval_span(body["little"], pos_by_term)
        big = eval_span(body["big"], pos_by_term)
        return [
            (s, e, c) for (s, e, c) in little
            if any(bs <= s and e <= be for (bs, be, _bc) in big)
        ]
    if kind == "span_containing":
        little = eval_span(body["little"], pos_by_term)
        big = eval_span(body["big"], pos_by_term)
        return [
            (s, e, c) for (s, e, c) in big
            if any(s <= ls and le <= e for (ls, le, _lc) in little)
        ]
    raise ValueError(f"unsupported span query: {kind}")


def rewrite_span_multi(
    index: InvertedIndex, field: str, tree: dict,
    max_expansions: int = 50,
) -> dict:
    """SpanMultiTermQueryBuilder analogue: rewrite every ``span_multi``
    node into a ``span_or`` of ``span_term`` clauses by expanding the
    wrapped multi-term query (prefix/wildcard/regexp/fuzzy) against the
    term dictionary — exactly Lucene's SpanMultiTermQueryWrapper
    top-terms rewrite (reference server/.../query/
    SpanMultiTermQueryBuilder.java). The expansion is a bounded
    term-dict scan (executor.expand_terms), so the driver holds at most
    ``max_expansions`` terms."""
    kind, body = next(iter(tree.items()))
    if kind == "span_multi":
        from elasticsearch_spark.search.executor import expand_terms

        mkind, mbody = next(iter(body["match"].items()))
        f, spec = next(iter(mbody.items()))
        pattern = spec["value"] if isinstance(spec, dict) else spec
        fuzz = (int(spec.get("fuzziness", 2))
                if isinstance(spec, dict) else 2)
        terms = expand_terms(index, field, mkind, pattern,
                             fuzziness=fuzz,
                             max_expansions=max_expansions)
        return {"span_or": {"clauses": [
            {"span_term": {f: t}} for t in terms]}}
    rec = lambda t: rewrite_span_multi(index, field, t, max_expansions)  # noqa: E731
    if kind in ("span_near", "span_or"):
        return {kind: {**body, "clauses": [rec(c) for c in body["clauses"]]}}
    if kind == "span_not":
        return {kind: {**body, "include": rec(body["include"]),
                       "exclude": rec(body["exclude"])}}
    if kind == "span_first":
        return {kind: {**body, "match": rec(body["match"])}}
    if kind in ("span_within", "span_containing"):
        return {kind: {**body, "little": rec(body["little"]),
                       "big": rec(body["big"])}}
    if kind == "span_field_masking":
        return {kind: {**body, "query": rec(body["query"])}}
    return tree


def _has_span_multi(tree: dict) -> bool:
    kind, body = next(iter(tree.items()))
    if kind == "span_multi":
        return True
    kids = (body.get("clauses", [])
            + [body[x] for x in ("include", "exclude", "match",
                                 "little", "big", "query") if x in body])
    return any(isinstance(c, dict) and _has_span_multi(c) for c in kids)


def _bind_field(tree: dict, field: str) -> dict:
    """Replace the ``_f`` placeholder field (emitted by
    intervals_to_span) with the query's actual field."""
    kind, body = next(iter(tree.items()))
    if kind == "span_term":
        f, t = next(iter(body.items()))
        return {kind: {(field if f == "_f" else f): t}}
    if isinstance(body, dict):
        nb = dict(body)
        if "clauses" in nb:
            nb["clauses"] = [_bind_field(c, field) for c in nb["clauses"]]
        for x in ("include", "exclude", "match", "little", "big", "query"):
            if x in nb and isinstance(nb[x], dict) and kind != "span_multi":
                nb[x] = _bind_field(nb[x], field)
        return {kind: nb}
    return tree


def span_match(
    index: InvertedIndex,
    field: str,
    tree: dict,
    k: int | None = 10,
    boost: float = 1.0,
) -> DataFrame:
    """Docs with >=1 surviving span (constant score = boost, doc_id asc).
    One pushed-down bucketed block scan of the tree's terms, no exchange
    (the shared posting-scan skeleton)."""
    if _has_span_multi(tree):
        tree = rewrite_span_multi(index, field, tree)
    tree = _bind_field(tree, field)
    pairs = list(dict.fromkeys(span_pairs(tree)))
    if not pairs:
        return _no_hits(index.spark)

    def check_group(pdf: pd.DataFrame, ids) -> pd.DataFrame:
        per_term, _ = _position_lists(pdf, ["field", "term"], ids)
        all_docs: set[int] = set().union(*per_term.values())
        hits = []
        for doc in all_docs:
            pos_by_term = {
                p: per_term[p][doc] for p in pairs
                if p in per_term and doc in per_term[p]
            }
            spans = eval_span(tree, pos_by_term)
            if spans:
                hits.append((doc, len(spans)))
        if not hits:
            return _empty_topk()
        ids = np.array([h[0] for h in hits], dtype=np.int64)
        nm = np.array([h[1] for h in hits], dtype=np.int32)
        return _local_topk(ids, np.full(ids.size, float(boost)), nm, k)

    cols = ("part_id", "field", "term", "n", "doc_ids", "tfs", "positions")
    return _scored_scan(index, _pairs_cond(pairs), cols, check_group, k)


# ---------------------------------------------------------------------
# intervals source algebra -> span tree (IntervalQueryBuilder sources)
# ---------------------------------------------------------------------

def intervals_to_span(
    source: dict, analyzer: str = "ascii_word", expand=None
) -> dict:
    """Compile an intervals SOURCE dict to the span algebra above.

    match    -> span_near(span_terms, slop=max_gaps, in_order=ordered)
    any_of   -> span_or(compiled sub-sources)
    all_of   -> span_near(compiled sub-sources, slop=max_gaps, ordered)
    prefix / wildcard / fuzzy -> span_or over the dictionary expansion
    (``expand(kind, pattern) -> [terms]``; wire executor.expand_terms
    for an index-backed expansion — the reference's multi-term interval
    sources do the same automaton walk over the terms dict).
    """
    from elasticsearch_spark.analysis import analyze

    kind, body = next(iter(source.items()))
    if kind == "match":
        terms = [t for t, _ in analyze(body["query"], analyzer)]
        clauses = [{"span_term": {"_f": t}} for t in terms]
        if len(clauses) == 1:
            return clauses[0]
        return {"span_near": {"clauses": clauses,
                               "slop": int(body.get("max_gaps", 0)),
                               "in_order": bool(body.get("ordered", True))}}
    if kind in ("prefix", "wildcard", "fuzzy"):
        if expand is None:
            raise ValueError(f"intervals `{kind}` needs an expander")
        pattern = body.get("prefix") or body.get("pattern") or body.get("term")
        terms = expand(kind, pattern)
        if not terms:
            return {"span_or": {"clauses": []}}
        return {"span_or": {"clauses": [
            {"span_term": {"_f": t}} for t in terms
        ]}}
    if kind == "any_of":
        return {"span_or": {"clauses": [
            intervals_to_span(s, analyzer, expand) for s in body["intervals"]
        ]}}
    if kind == "all_of":
        return {"span_near": {"clauses": [
            intervals_to_span(s, analyzer, expand) for s in body["intervals"]
        ], "slop": int(body.get("max_gaps", 0)),
            "in_order": bool(body.get("ordered", True))}}
    raise ValueError(f"unsupported intervals source: {kind}")
