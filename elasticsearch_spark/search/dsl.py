"""ES-query-DSL -> Spark compiler.

The reference's query registry (search/SearchModule.java:763-826, 48
builders in index/query/) splits into:
  - FILTER CONTEXT (non-scoring predicates) — compiled here to native
    Catalyst ``Column`` expressions, so Parquet pushdown / partition
    pruning / codegen all apply for free (SURVEY.md §2.3).
  - SCORING CONTEXT (match/multi_match/bool-scored/dis_max/...) —
    executed against the inverted index (executor.match_topk) and
    combined arithmetically; see ``search()`` below.

Queries are plain dicts in the reference's JSON shape, e.g.::

    {"bool": {
        "must":     [{"term": {"lang": "en"}}],
        "filter":   [{"range": {"n_chars": {"gte": 100, "lt": 400}}}],
        "must_not": [{"prefix": {"source": "src1"}}],
        "should":   [{"terms": {"lang": ["en", "fr"]}}],
        "minimum_should_match": 1}}

Reference builders re-created: TermQueryBuilder.java, TermsQueryBuilder,
TermsSetQueryBuilder, RangeQueryBuilder, ExistsQueryBuilder,
PrefixQueryBuilder, WildcardQueryBuilder, RegexpQueryBuilder,
FuzzyQueryBuilder, IdsQueryBuilder, BoolQueryBuilder,
MatchAllQueryBuilder, MatchNoneQueryBuilder, ConstantScoreQueryBuilder.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F


def _not_null(pred: Column) -> Column:
    """ES sets semantics, not SQL ternary logic: a predicate over a NULL
    field means "does not match" (False), never NULL. Without this,
    must_not(~pred) evaluates to NULL and DROPS docs with a missing
    field (ES keeps them), and casting a NULL should-clause to int
    poisons the whole minimum_should_match sum."""
    return F.coalesce(pred, F.lit(False))


def sloppy_phrase_pred(
    tokens: Column, terms: list[str], slop: int = 0
) -> Column:
    """Sloppy-phrase containment over an analyzed-token array column.

    Lucene PhraseQuery match semantics (PhraseQuery.java javadoc /
    SloppyPhraseMatcher): the phrase matches iff there is a choice of
    occurrence positions p_i for each phrase term t_i such that the
    OFFSET-SHIFTED positions fit in a ``slop``-wide window:
    ``max_i(p_i - i) - min_i(p_i - i) <= slop`` (so a transposition
    costs 2, an in-order gap costs its width). Repeated phrase terms
    must sit at distinct positions. Compiled as nested higher-order
    EXISTS over per-term position arrays — pure codegen, no UDF; cost
    is the product of the terms' tfs, bounded in practice by tiny
    per-doc position lists."""
    if not terms:
        return F.lit(False)
    def _positions_of(t: str) -> Column:
        return F.filter(
            F.transform(tokens, lambda x, i: F.when(x == F.lit(t), i)),
            lambda p: p.isNotNull(),
        )

    pos_arrays = [_positions_of(t) for t in terms]
    dup_pairs = [
        (i, j)
        for i in range(len(terms))
        for j in range(i + 1, len(terms))
        if terms[i] == terms[j]
    ]

    def rec(i: int, raw: list[Column]) -> Column:
        if i == len(pos_arrays):
            shifted = [p - F.lit(k) for k, p in enumerate(raw)]
            if len(shifted) == 1:
                window = F.lit(0)
            else:
                window = F.greatest(*shifted) - F.least(*shifted)
            cond = window <= F.lit(int(slop))
            for a, b in dup_pairs:
                cond = cond & (raw[a] != raw[b])
            return cond
        return F.exists(pos_arrays[i], lambda p: rec(i + 1, raw + [p]))

    return F.coalesce(rec(0, []), F.lit(False))


def _wildcard_to_regex(pattern: str) -> str:
    """ES wildcard (* any, ? one) -> anchored Java regex."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def compile_filter(
    query: dict[str, Any], id_col: str = "doc_id", resolve=None
) -> Column:
    """Compile a filter-context query dict to a boolean Column.

    ``resolve``: field-name -> Column mapper (default F.col). The
    ``nested`` query rebinds it to the lambda variable of F.exists so
    inner clauses evaluate per array element with field correlation
    preserved (reference: NestedQueryBuilder.java — block-join over
    sub-documents; here the sub-documents are the struct elements of an
    ArrayType column)."""
    if resolve is None:
        resolve = F.col
    if len(query) != 1:
        raise ValueError(f"query object must have exactly one key: {query}")
    kind, body = next(iter(query.items()))

    if kind == "match_all":
        return F.lit(True)
    if kind == "match_none":
        return F.lit(False)
    if kind == "match":
        # match in FILTER context over a source column (no index, no
        # score): every analyzed token must appear as a whole word
        # (operator=and) or any token (or). SQL twin: regexp_matches
        # with the same \b-anchored pattern.
        field, spec = next(iter(body.items()))
        text = spec["query"] if isinstance(spec, dict) else spec
        operator = (spec.get("operator", "or") if isinstance(spec, dict) else "or")
        toks = re.findall(r"[a-z0-9_]+", str(text).lower())
        if not toks:
            return F.lit(False)
        conds = [
            F.lower(resolve(field)).rlike(r"\b" + re.escape(t) + r"\b")
            for t in toks
        ]
        out = conds[0]
        for c in conds[1:]:
            out = (out & c) if operator == "and" else (out | c)
        return out
    if kind == "match_phrase":
        # MatchPhraseQueryBuilder in filter context over a source
        # column: analyzed-token positions must fit a slop-wide
        # shifted window (Lucene PhraseQuery semantics; slop=0 is
        # exact adjacency). SQL twin: a per-term position self-join
        # with the same greatest-least window bound.
        field, spec = next(iter(body.items()))
        text = spec["query"] if isinstance(spec, dict) else spec
        slop = int(spec.get("slop", 0)) if isinstance(spec, dict) else 0
        toks = re.findall(r"[a-z0-9_]+", str(text).lower())
        tokens = F.regexp_extract_all(
            F.lower(resolve(field)), F.lit("[a-z0-9_]+"), 0)
        return sloppy_phrase_pred(tokens, toks, slop)
    if kind == "term":
        # case_insensitive: TermQueryBuilder.java:33 (and the other
        # term-level builders) — fold both sides, still pushdown-able
        field, spec = next(iter(body.items()))
        value = spec["value"] if isinstance(spec, dict) else spec
        if isinstance(spec, dict) and spec.get("case_insensitive"):
            return F.lower(resolve(field)) == F.lit(str(value).lower())
        return resolve(field) == F.lit(value)
    if kind == "terms":
        field, values = next(iter(body.items()))
        return resolve(field).isin(list(values))
    if kind == "terms_set":
        field, spec = next(iter(body.items()))
        values = list(spec["terms"])
        required = int(spec.get("minimum_should_match", len(values)))
        # number of matching values (on an array column use array_intersect)
        hits = sum(
            _not_null(resolve(field) == F.lit(v)).cast("int") for v in values
        ) if not spec.get("array") else F.coalesce(
            F.size(
                F.array_intersect(resolve(field), F.array(*[F.lit(v) for v in values]))
            ),
            F.lit(0),
        )
        return hits >= F.lit(required)
    if kind == "range":
        from elasticsearch_spark.search.datemath import (
            is_date_math, parse_date_math)

        field, spec = next(iter(body.items()))
        c = resolve(field)

        def _bound(v, round_up):
            # date-math literals resolve driver-side (foldable, pushable);
            # gt/lte round UP, gte/lt round DOWN (RangeQueryBuilder)
            return F.lit(
                parse_date_math(v, round_up=round_up) if is_date_math(v) else v
            )

        conds = []
        if "gte" in spec:
            conds.append(c >= _bound(spec["gte"], False))
        if "gt" in spec:
            conds.append(c > _bound(spec["gt"], True))
        if "lte" in spec:
            conds.append(c <= _bound(spec["lte"], True))
        if "lt" in spec:
            conds.append(c < _bound(spec["lt"], False))
        if not conds:
            return F.lit(True)
        out = conds[0]
        for x in conds[1:]:
            out = out & x
        return out
    if kind == "exists":
        return resolve(body["field"]).isNotNull()
    if kind == "prefix":
        field, spec = next(iter(body.items()))
        value = spec["value"] if isinstance(spec, dict) else spec
        if isinstance(spec, dict) and spec.get("case_insensitive"):
            return F.lower(resolve(field)).startswith(str(value).lower())
        return resolve(field).startswith(value)
    if kind == "wildcard":
        field, spec = next(iter(body.items()))
        value = spec["value"] if isinstance(spec, dict) else spec
        if isinstance(spec, dict) and spec.get("case_insensitive"):
            return F.lower(resolve(field)).rlike(
                _wildcard_to_regex(str(value).lower()))
        return resolve(field).rlike(_wildcard_to_regex(value))
    if kind == "regexp":
        field, spec = next(iter(body.items()))
        value = spec["value"] if isinstance(spec, dict) else spec
        # ES regexp is anchored (matches the WHOLE term)
        if isinstance(spec, dict) and spec.get("case_insensitive"):
            return resolve(field).rlike(f"(?i)^(?:{value})$")
        return resolve(field).rlike(f"^(?:{value})$")
    if kind == "fuzzy":
        field, spec = next(iter(body.items()))
        value = spec["value"] if isinstance(spec, dict) else spec
        fuzz = int(spec.get("fuzziness", 2)) if isinstance(spec, dict) else 2
        return F.levenshtein(resolve(field), F.lit(value)) <= F.lit(fuzz)
    if kind == "ids":
        return F.col(id_col).isin(list(body["values"]))
    if kind == "script":
        # ScriptQueryBuilder.java: a painless boolean in filter
        # context. The transpiler emits one SQL predicate, so the
        # filter stays inside whole-stage codegen (and pushes down
        # when it folds to plain column comparisons).
        from elasticsearch_spark.scripts import maybe_painless

        spec = body["script"] if "script" in body else body
        src = spec["source"] if isinstance(spec, dict) else spec
        params = spec.get("params") if isinstance(spec, dict) else None
        return F.expr(maybe_painless(src, params)).cast("boolean")
    if kind == "wrapper":
        # base64-embedded query JSON (WrapperQueryBuilder,
        # reg. SearchModule.java:801): decode and delegate
        import base64
        import json as _json

        decoded = _json.loads(base64.b64decode(body["query"]))
        return compile_filter(decoded, id_col, resolve)
    if kind == "constant_score":
        return compile_filter(body["filter"], id_col, resolve)
    if kind == "nested":
        # sub-document query with field correlation: ANY array element
        # satisfies the whole inner query (ESToParentBlockJoinQuery
        # semantics in filter context)
        path = body["path"]
        inner = body["query"]

        def make_resolver(x):
            prefix = path + "."
            def r(f: str):
                return x[f[len(prefix):]] if f.startswith(prefix) else x[f]
            return r

        return F.exists(
            resolve(path),
            lambda x: compile_filter(inner, id_col, make_resolver(x)),
        )

    if kind == "bool":
        clauses: list[Column] = []
        for q in body.get("must", []) or []:
            clauses.append(compile_filter(q, id_col, resolve))
        for q in body.get("filter", []) or []:
            clauses.append(compile_filter(q, id_col, resolve))
        for q in body.get("must_not", []) or []:
            clauses.append(~_not_null(compile_filter(q, id_col, resolve)))
        should = [compile_filter(q, id_col, resolve) for q in (body.get("should") or [])]
        if should:
            msm = body.get("minimum_should_match")
            if msm is None:
                # ES default: if there are must/filter clauses, should is
                # optional (msm=0); otherwise msm=1 — must_not alone
                # leaves should required
                msm = 0 if body.get("must") or body.get("filter") else 1
            if msm > 0:
                n_matched = sum(_not_null(c).cast("int") for c in should)
                clauses.append(n_matched >= F.lit(int(msm)))
        if not clauses:
            return F.lit(True)
        out = clauses[0]
        for c in clauses[1:]:
            out = out & c
        return out
    raise ValueError(f"unsupported filter-context query: {kind}")


def filter_query(df: DataFrame, query: dict[str, Any], id_col: str = "doc_id") -> DataFrame:
    """Apply a filter-context query to a source table."""
    return df.filter(compile_filter(query, id_col))


def terms_lookup(
    df: DataFrame,
    field: str,
    lookup: DataFrame,
    lookup_field: str,
) -> DataFrame:
    """terms query with LOOKUP (TermsQueryBuilder.java terms-lookup):
    keep rows whose ``field`` appears in another table's column — a
    left-semi join (broadcast when the lookup side is small, Catalyst
    decides)."""
    keys = lookup.select(F.col(lookup_field).alias("_lk")).distinct()
    return df.join(keys, df[field] == keys["_lk"], "left_semi")


def validate_query(
    df: DataFrame, query: dict[str, Any], id_col: str = "doc_id",
    explain: bool = False,
) -> dict[str, Any]:
    """_validate/query API (server/.../action/admin/indices/validate/
    query/TransportValidateQueryAction.java): compile the DSL without
    executing it; return {"valid": bool} plus, with ``explain``, either
    the rewritten query (here: the optimized Catalyst plan for the
    compiled predicate — the engine's canonical rewrite) or the parse
    error message. Zero jobs run either way."""
    try:
        pred = compile_filter(query, id_col=id_col)
    except Exception as e:  # noqa: BLE001 - the API reports any parse error
        out: dict[str, Any] = {"valid": False}
        if explain:
            out["error"] = f"{type(e).__name__}: {e}"
        return out
    out = {"valid": True}
    if explain:
        out["explanation"] = (
            df.where(pred)._jdf.queryExecution().optimizedPlan().toString()
        )
    return out
