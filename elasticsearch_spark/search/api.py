"""Top-level search API: ES-style query dict -> top-k hits DataFrame.

Composes the two executors:
  - scoring context -> one query tree per request (``_tree``): match,
    term, match_phrase and multi_match leaves (a multi_match rewritten
    into per-field leaves, executor.multi_match_tree) under bool,
    dis_max, constant_score and function_score weight nodes with the
    reference's semantics (BoolQueryBuilder: score = sum of matching
    scored clauses; DisMaxQueryBuilder: max + tie_breaker * rest;
    ConstantScoreQueryBuilder boost; a boost or weight scales). The
    whole tree is ONE posting scan and ONE kernel that scores it per
    shard, as the reference runs the rewritten Query inside each shard's
    query phase (executor.tree_topk).
  - filter context -> dsl.compile_filter native predicates applied to
    the docs table; the surviving doc ids are pushed into the tree's
    kernel as an allowlist BEFORE the top-k cut (ES filter clauses run
    before collection).

function_score functions and boosting join the scored docs with the
docs table. The global cut is orderBy(score desc, doc_id asc).limit(k)
— Catalyst TakeOrderedAndProject == the coordinator's TopDocs.merge
(action/search/SearchPhaseController.java:144-208).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

from elasticsearch_spark.analysis import analyze
from elasticsearch_spark.index.builder import InvertedIndex
from elasticsearch_spark.search import dsl, executor as ex
from elasticsearch_spark.search.bm25 import BM25Params
from elasticsearch_spark.search.executor import fetch, match_topk

SCORED_KINDS = {
    "match", "match_phrase", "multi_match", "bool", "dis_max",
    "constant_score", "function_score", "match_all", "term_scored",
    "boosting",
}

def _is_pure_filter(query: dict[str, Any]) -> bool:
    """True when the query carries NO index-scored clause anywhere, i.e.
    it can be compiled entirely by dsl.compile_filter against the docs
    table. A ``bool`` is pure-filter when every must/should clause is
    (filter/must_not always are); a ``constant_score`` when its inner
    filter is. Reference: filter context in Query DSL — such clauses
    skip scoring entirely."""
    kind, body = next(iter(query.items()))
    if kind == "bool":
        return all(
            _is_pure_filter(q)
            for q in (body.get("must") or []) + (body.get("should") or [])
        )
    if kind == "constant_score":
        return _is_pure_filter(body["filter"])
    if kind in ("match_all", "match_none"):
        # compile to TRUE/FALSE predicates; score handled by the caller
        return True
    return kind not in SCORED_KINDS


_FVF_MODIFIERS = {
    "none": lambda c: c,
    "log": lambda c: F.log10(c),
    "log1p": lambda c: F.log10(c + 1),
    "log2p": lambda c: F.log10(c + 2),
    "ln": lambda c: F.log(c),
    "ln1p": lambda c: F.log(c + 1),
    "ln2p": lambda c: F.log(c + 2),
    "square": lambda c: c * c,
    "sqrt": lambda c: F.sqrt(c),
    "reciprocal": lambda c: F.lit(1.0) / c,
}


def _function_value(fn_spec: dict[str, Any]):
    """One function_score function -> (condition Column|None, value Column).

    Reference: functionscore/FunctionScoreQueryBuilder.java (600 LoC) +
    the function registry in SearchModule.java:657-679 (weight,
    field_value_factor, script_score, gauss/exp/linear decay)."""
    import math

    from elasticsearch_spark.search import dsl

    cond = None
    if "filter" in fn_spec:
        cond = dsl.compile_filter(fn_spec["filter"])
    if "field_value_factor" in fn_spec:
        s = fn_spec["field_value_factor"]
        c = F.coalesce(
            F.col(s["field"]).cast("double"), F.lit(float(s.get("missing", 1.0)))
        ) * F.lit(float(s.get("factor", 1.0)))
        val = _FVF_MODIFIERS[s.get("modifier", "none")](c)
    elif "script_score" in fn_spec:
        # default lang is painless, as in the reference
        # (Script.DEFAULT_SCRIPT_LANG); "expression" selects the
        # lucene-expression engine (modules/lang-expression); raw SQL
        # passes through
        from elasticsearch_spark.scripts import (
            compile_expression, maybe_painless)

        s = fn_spec["script_score"].get("script", fn_spec["script_score"])
        if s.get("lang") == "expression":
            val = F.expr(compile_expression(
                s["source"], s.get("params"), score_col="score"))
        else:
            val = F.expr(maybe_painless(
                s["source"], s.get("params"), score_col="score"))
    elif any(k in fn_spec for k in ("gauss", "exp", "linear")):
        kind = next(k for k in ("gauss", "exp", "linear") if k in fn_spec)
        field, s = next(iter(fn_spec[kind].items()))
        origin = float(s["origin"])
        scale = float(s["scale"])
        offset = float(s.get("offset", 0.0))
        decay = float(s.get("decay", 0.5))
        dist = F.greatest(
            F.abs(F.col(field).cast("double") - F.lit(origin)) - F.lit(offset),
            F.lit(0.0),
        )
        if kind == "gauss":
            sigma2 = -(scale * scale) / (2.0 * math.log(decay))
            val = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
        elif kind == "exp":
            lam = math.log(decay) / scale
            val = F.exp(F.lit(lam) * dist)
        else:  # linear
            s_prime = scale / (1.0 - decay)
            val = F.greatest(
                (F.lit(s_prime) - dist) / F.lit(s_prime), F.lit(0.0)
            )
    elif "random_score" in fn_spec:
        # RandomScoreFunctionBuilder: with (seed, field) the value is a
        # deterministic hash of both — reproducible across requests and
        # engines (the reference requires a field when seeded for the
        # same reason). Unseeded random is refused: a batch engine has
        # no per-request RNG state that would be reproducible.
        s = fn_spec["random_score"] or {}
        if "seed" not in s or "field" not in s:
            raise ValueError(
                "random_score needs seed AND field for deterministic "
                "scoring (RandomScoreFunctionBuilder seeded mode)")
        h = F.xxhash64(F.lit(int(s["seed"])),
                       F.col(s["field"]).cast("string"))
        # map int64 -> [0,1): shift into unsigned range, scale by 2^64
        val = (h.cast("double") / F.lit(2.0 ** 64)) + F.lit(0.5)
    else:
        val = F.lit(1.0)
    weight = float(fn_spec.get("weight", 1.0))
    return cond, val * F.lit(weight)


def _match_terms(index: InvertedIndex, field: str, spec: Any) -> tuple[list[str], str, int]:
    if isinstance(spec, str):
        text, operator, msm = spec, "or", 1
        analyzer = None
    else:
        text = spec["query"]
        operator = spec.get("operator", "or")
        msm = int(spec.get("minimum_should_match", 1))
        analyzer = spec.get("analyzer")
    if analyzer is None:
        analyzer = index.analyzer(field)
    terms = [t for t, _ in analyze(text, analyzer)]
    return terms, operator, msm


def _tree(
    index: InvertedIndex, query: dict[str, Any], params: BM25Params
) -> ex.Node | None:
    """Compile a scoring-context clause onto the executor's query tree
    (None: no doc can match). A leaf analyzes its text with its field's
    analyzer (each multi_match field with its own) and scales by its
    ``boost``; a function_score scales by its ``weight``."""
    kind, body = next(iter(query.items()))

    if kind == "multi_match":
        return ex.scale_node(float(body.get("boost", 1.0)), ex.multi_match_tree(
            index, {f: _match_terms(index, f, body["query"])[0]
                    for f in body["fields"]},
            body.get("type", "best_fields"),
            float(body.get("tie_breaker", 0.0)), body.get("operator", "or"),
            int(body.get("minimum_should_match", 1)),
            int(body.get("slop", 0)), params))

    if kind in ("match", "term_scored", "match_phrase"):
        field, spec = next(iter(body.items()))
        if kind == "term_scored":
            # term query on an indexed text field: single un-analyzed term
            value = spec["value"] if isinstance(spec, dict) else spec
            node = ex.match_node(index, field, [value], params=params)
        else:
            terms, operator, msm = _match_terms(index, field, spec)
            if kind == "match":
                node = ex.match_node(index, field, terms, operator, msm, params)
            else:
                slop = int(spec.get("slop", 0)) if isinstance(spec, dict) else 0
                node = ex.phrase_node(index, field, terms[:-1], terms[-1:],
                                      params, slop)
        b = float(spec.get("boost", 1.0)) if isinstance(spec, dict) else 1.0
        return ex.scale_node(b, node)

    if kind == "dis_max":
        return ex.max_node(float(body.get("tie_breaker", 0.0)), [
            _tree(index, q, params) for q in body["queries"]])

    if kind == "bool":
        if body.get("must_not") or body.get("filter") or any(
            next(iter(q)) not in SCORED_KINDS for q in (body.get("must") or [])
        ):
            raise ValueError(
                "bool with filter-context clauses must go through search() "
                "(needs the docs table); _scored_df only combines scored clauses"
            )
        must = [q for q in (body.get("must") or []) if next(iter(q)) in SCORED_KINDS]
        should = [q for q in (body.get("should") or []) if next(iter(q)) in SCORED_KINDS]
        if not must + should:
            raise ValueError("scored bool needs at least one scored clause")
        msm = int(body.get("minimum_should_match", 0 if must else 1)) if should else 0
        return ex.bool_node([_tree(index, q, params) for q in must],
                            [_tree(index, q, params) for q in should], msm)

    if kind == "constant_score":
        inner = body["filter"]
        if next(iter(inner)) not in SCORED_KINDS:
            raise ValueError(
                "constant_score over a pure filter needs the docs table; use search()"
            )
        return ex.const_node(float(body.get("boost", 1.0)),
                             _tree(index, inner, params))

    if kind == "function_score":
        return ex.scale_node(float(body.get("weight", 1.0)),
                             _tree(index, body["query"], params))

    raise ValueError(f"unsupported scoring query: {kind}")


def _scored_df(
    index: InvertedIndex,
    query: dict[str, Any],
    params: BM25Params,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Evaluate a scoring-context clause -> DataFrame(doc_id, score),
    ALL matching docs, scores already boosted: the clause's query tree
    at k=None. ``allowed`` (a DataFrame with a ``doc_id`` column — the
    enclosing filter's id set) is pushed into the tree's kernel, so a
    compound query under a filter scores only filtered docs instead of
    scoring the whole corpus and semi-joining at the top — restriction
    commutes with max/sum/count combination, so scores are unchanged."""
    return ex.tree_topk(index, _tree(index, query, params), None,
                        allowed).select("doc_id", "score")


def search(
    index: InvertedIndex,
    docs: DataFrame,
    query: dict[str, Any],
    k: int = 10,
    params: BM25Params | None = None,
    id_col: str = "doc_id",
    min_score: float | None = None,
) -> DataFrame:
    """Run a full query (scored + filter clauses) and return the top-k
    joined back to the docs table (fetch phase)."""
    params = params or BM25Params()
    kind = next(iter(query))

    if kind == "function_score":
        body = query["function_score"]
        base = _scored_df(index, body["query"], params)
        joined = base.join(docs, id_col)
        funcs = body.get("functions")
        if not funcs:
            shorthand = {
                k: v for k, v in body.items()
                if k in ("field_value_factor", "script_score", "gauss", "exp",
                          "linear", "weight")
            }
            funcs = [shorthand] if shorthand else []
        vals = []
        for fs in funcs:
            cond, val = _function_value(fs)
            vals.append(F.when(cond, val) if cond is not None else val)
        if vals:
            arr = F.array(*vals)
            active = F.filter(arr, lambda x: x.isNotNull())
            mode = body.get("score_mode", "multiply")
            if mode == "multiply":
                fscore = F.aggregate(active, F.lit(1.0), lambda a, x: a * x)
            elif mode == "sum":
                fscore = F.aggregate(active, F.lit(0.0), lambda a, x: a + x)
            elif mode == "avg":
                fscore = F.aggregate(active, F.lit(0.0), lambda a, x: a + x) / F.size(active)
            elif mode == "max":
                fscore = F.array_max(active)
            elif mode == "min":
                fscore = F.array_min(active)
            elif mode == "first":
                fscore = F.element_at(active, 1)
            else:
                raise ValueError(f"unsupported score_mode {mode}")
            fscore = F.when(F.size(active) > 0, fscore)  # null = no function matched
            if "max_boost" in body:
                fscore = F.least(fscore, F.lit(float(body["max_boost"])))
            bmode = body.get("boost_mode", "multiply")
            sc = F.col("score")
            if bmode == "multiply":
                new_score = sc * F.coalesce(fscore, F.lit(1.0))
            elif bmode == "sum":
                new_score = sc + F.coalesce(fscore, F.lit(0.0))
            elif bmode == "replace":
                new_score = F.coalesce(fscore, sc)
            elif bmode == "avg":
                new_score = F.when(fscore.isNull(), sc).otherwise((sc + fscore) / 2)
            elif bmode == "max":
                new_score = F.when(fscore.isNull(), sc).otherwise(F.greatest(sc, fscore))
            elif bmode == "min":
                new_score = F.when(fscore.isNull(), sc).otherwise(F.least(sc, fscore))
            else:
                raise ValueError(f"unsupported boost_mode {bmode}")
            joined = joined.withColumn("score", new_score)
        if min_score is not None:
            joined = joined.filter(F.col("score") >= F.lit(min_score))
        if "min_score" in body:
            joined = joined.filter(F.col("score") >= F.lit(float(body["min_score"])))
        return joined.orderBy(F.desc("score"), F.asc(id_col)).limit(k)

    if kind == "boosting":
        body = query["boosting"]
        pos = _scored_df(index, body["positive"], params)
        neg_q = body["negative"]
        if next(iter(neg_q)) in SCORED_KINDS:
            neg_ids = _scored_df(index, neg_q, params).select(id_col)
        else:
            neg_ids = docs.filter(dsl.compile_filter(neg_q, id_col)).select(id_col)
        nb = float(body.get("negative_boost", 0.5))
        scored = pos.join(
            neg_ids.withColumn("_neg", F.lit(1)), id_col, "left"
        ).withColumn(
            "score",
            F.col("score") * F.when(F.col("_neg") == 1, F.lit(nb)).otherwise(F.lit(1.0)),
        ).drop("_neg")
        topk = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
        return fetch(topk, docs, id_col)

    if kind == "constant_score" and _is_pure_filter(query):
        # canonical usage {"constant_score": {"filter": <filter query>}}:
        # every matching doc scores the boost (ConstantScoreQueryBuilder)
        body = query["constant_score"]
        b = float(body.get("boost", 1.0))
        out = docs.filter(dsl.compile_filter(body["filter"], id_col))
        return (
            out.withColumn("score", F.lit(b)).orderBy(F.asc(id_col)).limit(k)
        )

    filter_pred = None
    scored_query = query
    const_boost = 0.0  # pure-filter constant_score must-clauses still
    #                    contribute their boost to every surviving doc
    optional_should = False
    if kind == "bool":
        body = query["bool"]
        if _is_pure_filter(query):
            # fully filter-context bool (incl. should + msm set logic):
            # compile as one predicate, constant score
            filter_pred = dsl.compile_filter(query, id_col)
            scored_query = None
        else:
            fclauses = list(body.get("filter") or [])
            for q in body.get("must") or []:
                if _is_pure_filter(q):
                    fclauses.append(q)
                    if next(iter(q)) == "constant_score":
                        const_boost += float(q["constant_score"].get("boost", 1.0))
            must_not = list(body.get("must_not") or [])
            if fclauses or must_not:
                filter_pred = dsl.compile_filter(
                    {"bool": {"filter": fclauses, "must_not": must_not}}, id_col
                )
            scored_body = {
                "must": [q for q in (body.get("must") or []) if not _is_pure_filter(q)],
                "should": [q for q in (body.get("should") or []) if next(iter(q)) in SCORED_KINDS],
            }
            if "minimum_should_match" in body:
                scored_body["minimum_should_match"] = body["minimum_should_match"]
            # a must or filter clause makes should optional
            # (minimum_should_match defaults to 0): with only
            # filter-context ones, every allowed doc is a hit
            optional_should = bool(fclauses) and not scored_body["must"] \
                and int(body.get("minimum_should_match", 0)) == 0
            has_scored = scored_body["must"] or scored_body["should"]
            scored_query = {"bool": scored_body} if has_scored else None
    elif _is_pure_filter(query):
        filter_pred = dsl.compile_filter(query, id_col)
        scored_query = None

    if scored_query is None:
        # pure filter: constant score 1.0 (filter context), top-k by id
        out = docs
        if filter_pred is not None:
            out = out.filter(filter_pred)
        return (
            out.withColumn("score", F.lit(1.0))
            .orderBy(F.asc(id_col))
            .limit(k)
        )

    allowed = None
    if filter_pred is not None:
        allowed = docs.filter(filter_pred).select(F.col(id_col).alias("doc_id"))
    # the request's k reaches the tree's shards (executor._push_k)
    scores = ex.tree_topk(index, _tree(index, scored_query, params), k,
                          allowed).select("doc_id", "score")
    if optional_should:
        # every allowed doc is a hit; those matching no should clause
        # score 0, after the scored ones
        scores = allowed.join(scores, "doc_id", "left").fillna(0.0, ["score"])
    if const_boost:
        scores = scores.withColumn("score", F.col("score") + F.lit(const_boost))
    if min_score is not None:
        scores = scores.filter(F.col("score") >= F.lit(min_score))
    topk = scores.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    return fetch(topk, docs, id_col)


def sort_hits(
    hits: DataFrame,
    sort: list,
    k: int | None = None,
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """The request ``sort`` section (search/sort/SortBuilder.java
    hierarchy: FieldSortBuilder, ScoreSortBuilder, ScriptSortBuilder;
    GeoDistanceSortBuilder lives in search/geo.py) applied to a hit
    frame.

    Each element: ``"_score"`` | ``"field"`` |
    ``{"field": {"order": "asc"|"desc", "missing": "_first"|"_last"}}``
    | ``{"_script": {"script": {"source", "params"}, "order"}}``
    (painless or raw SQL — compiled ONCE to a Catalyst expression).
    A trailing ``id_col`` ascending tie-break is always appended (the
    engine's stable _shard_doc analogue). ``k`` bounds the result via
    TakeOrderedAndProject — sorts never materialize a global order
    beyond the k requested."""
    from elasticsearch_spark.scripts import maybe_painless

    cols = []
    for spec in sort:
        if isinstance(spec, str):
            spec = {spec: {}}
        (key, opts), = spec.items()
        opts = opts or {}
        if key == "_script":
            s = opts.get("script", opts)
            col = F.expr(maybe_painless(
                s["source"], s.get("params"), score_col=score_col))
            order = opts.get("order", "asc")
        elif key == "_score":
            col = F.col(score_col)
            order = opts.get("order", "desc")
        else:
            col = F.col(key)
            order = opts.get("order", "asc")
        missing = opts.get("missing", "_last")
        if order == "desc":
            cols.append(col.desc_nulls_first() if missing == "_first"
                        else col.desc_nulls_last())
        else:
            cols.append(col.asc_nulls_first() if missing == "_first"
                        else col.asc_nulls_last())
    cols.append(F.col(id_col).asc())
    out = hits.orderBy(*cols)
    return out.limit(k) if k is not None else out


def indices_boost_topk(
    indices: list,
    names: list[str],
    boosts: dict[str, float],
    field: str,
    terms: list[str],
    k: int = 10,
    params: BM25Params | None = None,
) -> DataFrame:
    """``indices_boost`` search-body section: per-index boost factors
    applied at score time before the global merge
    (server/src/main/java/org/elasticsearch/search/builder/
    SearchSourceBuilder.java indicesBoost; applied as the query boost of
    each shard's context).  ES-default query_then_fetch semantics: each
    index scores with its OWN collection stats, the boost multiplies its
    scores (a constant factor preserves per-index rank, so per-index
    top-k before the merge loses nothing), and the coordinator merge is
    one TakeOrderedAndProject over the k·n_indices survivors — tiny, so
    the global cut never shuffles full posting output."""
    per: list[DataFrame] = []
    for name, idx in zip(names, indices):
        b = float(boosts.get(name, 1.0))
        t = match_topk(idx, field, terms, k=k, params=params)
        per.append(
            t.withColumn("score", F.col("score") * F.lit(b))
             .withColumn("_index", F.lit(name)))
    merged = per[0]
    for nxt in per[1:]:
        merged = merged.unionByName(nxt)
    return merged.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
