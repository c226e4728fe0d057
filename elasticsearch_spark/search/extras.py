"""Secondary search operators: more_like_this, term suggester, field
collapse, search_after, rescore, highlight, explain, significant terms.

Each re-creates the corresponding reference operator with Spark
primitives (SURVEY.md §2.3/§2.5-2.7):
  - more_like_this: MoreLikeThisQueryBuilder.java (1154 LoC) — pick the
    example doc's top tf-idf terms, feed the match pipeline.
  - term suggester: search/suggest/term/ — edit-distance candidates
    from term_dict ranked by (distance, df desc).
  - collapse: search/collapse/CollapseBuilder.java — one hit per key.
  - search_after: search/searchafter/SearchAfterBuilder.java — strict
    (score, doc_id) cursor.
  - rescore: search/rescore/QueryRescorer.java:26,153 — re-rank the top
    window with a secondary query, weighted combine.
  - highlight: fetch/subphase/highlight/ — fragment extraction around
    matched terms (Arrow-batched pandas, never per-row Spark Python).
  - explain: fetch/subphase/ExplainPhase.java — per-hit BM25 breakdown.
  - significant_text: JLH heuristic (SearchModule.java:710-719).
"""

from __future__ import annotations

import math
import os
import re
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from elasticsearch_spark.analysis import ANALYZERS
from elasticsearch_spark.index.builder import InvertedIndex
from elasticsearch_spark.search.bm25 import BM25Params
from elasticsearch_spark.search.executor import _no_hits, match_topk


def more_like_this(
    index: InvertedIndex,
    docs: DataFrame,
    like_id: int | None = None,
    field: str = "text",
    text_col: str | None = None,
    id_col: str = "doc_id",
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
    k: int = 10,
    include_self: bool = False,
    params: BM25Params | None = None,
    like_text: str | None = None,
) -> DataFrame:
    """Select the example's top tf-idf terms, run a match query.

    ``like`` accepts a stored document id (``like_id``) OR free text
    (``like_text``) — MoreLikeThisQueryBuilder.java accepts both forms
    in its ``like`` array; free text is analyzed with the field's own
    analyzer and needs no doc fetch.

    Term selection score = tf * ln((N+1)/(df+1)) (classic tf-idf like
    the reference's MLT priority queue); ties -> term asc for
    determinism. Defaults are relaxed vs ES (min_term_freq=2,
    min_doc_freq=5) because test corpora are small.
    """
    if (like_id is None) == (like_text is None):
        raise ValueError("more_like_this needs exactly one of "
                         "like_id / like_text")
    text_col = text_col or field
    analyzer = index.analyzer(field)
    if like_text is not None:
        source_text = like_text
    else:
        row = docs.filter(
            F.col(id_col) == like_id).select(text_col).collect()
        if not row:
            return _no_hits(index.spark)
        source_text = row[0][0] or ""
    terms_list, _ = ANALYZERS[analyzer](source_text)
    tf: dict[str, int] = {}
    for t in terms_list:
        tf[t] = tf.get(t, 0) + 1
    tf = {t: c for t, c in tf.items() if c >= min_term_freq}
    if not tf:
        return _no_hits(index.spark)
    stats = index.collection_stats()[field]
    n_docs = stats["n_docs"]
    rows = (
        index.term_dict.filter(
            (F.col("field") == field) & F.col("term").isin(list(tf))
        )
        .select("term", "df")
        .collect()
    )
    scored = []
    for r in rows:
        if int(r["df"]) < min_doc_freq:
            continue
        s = tf[r["term"]] * math.log((n_docs + 1.0) / (int(r["df"]) + 1.0))
        scored.append((-s, r["term"]))
    scored.sort()
    chosen = [t for _, t in scored[:max_query_terms]]
    out = match_topk(index, field, chosen, k=None, params=params)
    if not include_self and like_id is not None:
        out = out.filter(F.col("doc_id") != like_id)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def term_suggest(
    index: InvertedIndex,
    field: str,
    word: str,
    max_edits: int = 2,
    size: int = 5,
    suggest_mode: str = "missing",
) -> DataFrame:
    """Spelling suggestions: term_dict candidates within edit distance,
    same first letter (ES prefix_length=1 default), ranked by
    (distance asc, df desc, term asc).

    ``suggest_mode`` (TermSuggestionBuilder.java SuggestMode):
    ``missing`` — no suggestions when the input term itself is indexed;
    ``popular`` — only candidates with a HIGHER df than the input term;
    ``always`` — suggest regardless. The input term's df is a one-row
    lookup against the same term_dict, folded in as a broadcast scalar.
    """
    if suggest_mode not in ("missing", "popular", "always"):
        raise ValueError(f"unknown suggest_mode: {suggest_mode}")
    fdict = index.term_dict.filter(F.col("field") == field)
    cand = fdict.filter(
        F.col("term").startswith(word[:1])
        & (F.abs(F.length("term") - len(word)) <= max_edits)
    ).withColumn("distance", F.levenshtein(F.col("term"), F.lit(word)))
    cand = cand.filter(
        (F.col("distance") <= max_edits) & (F.col("distance") > 0))
    if suggest_mode != "always":
        self_df = (fdict.filter(F.col("term") == word)
                   .agg(F.coalesce(F.max("df"), F.lit(0)).alias("_self_df")))
        cand = cand.crossJoin(F.broadcast(self_df))
        if suggest_mode == "missing":
            cand = cand.filter(F.col("_self_df") == 0)
        else:  # popular
            cand = cand.filter(F.col("df") > F.col("_self_df"))
    return (
        cand.select("term", "df", "distance")
        .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
        .limit(size)
    )


def collapse_topk(
    scored: DataFrame,
    docs: DataFrame,
    collapse_field: str,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Field collapse: best hit per collapse key, then global top-k."""
    joined = scored.join(docs.select(id_col, collapse_field), id_col)
    w = Window.partitionBy(collapse_field).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def collapse_inner_hits(
    scored: DataFrame,
    docs: DataFrame,
    collapse_field: str,
    k: int = 10,
    inner_size: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Field collapse WITH inner_hits (CollapseBuilder.setInnerHits /
    ExpandSearchPhase.java): the top-k collapse groups (ranked by their
    best hit) plus each group's top-``inner_size`` hits. One window for
    the per-group rank, one broadcast semi-join for the winning groups —
    the expand phase never rescans the corpus."""
    joined = scored.join(docs.select(id_col, collapse_field), id_col)
    w = Window.partitionBy(collapse_field).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    ranked = joined.withColumn("inner_rank", F.row_number().over(w))
    winners = (
        ranked.filter(F.col("inner_rank") == 1)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
        .select(
            F.col(collapse_field),
            F.col("score").alias("group_score"),
        )
    )
    return (
        ranked.filter(F.col("inner_rank") <= inner_size)
        .join(F.broadcast(winners), collapse_field)
        .orderBy(
            F.desc("group_score"), F.asc(collapse_field),
            F.asc("inner_rank"),
        )
        .select(collapse_field, "inner_rank", id_col, "score")
    )


def search_after(
    scored: DataFrame,
    after_score: float,
    after_id: int,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cursor pagination: strictly after (score desc, doc_id asc)."""
    cond = (F.col("score") < F.lit(after_score)) | (
        (F.col("score") == F.lit(after_score)) & (F.col(id_col) > F.lit(after_id))
    )
    return scored.filter(cond).orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def rescore(
    index: InvertedIndex,
    base_scored: DataFrame,
    rescore_terms: list[str],
    field: str = "text",
    window_size: int = 10,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    k: int = 10,
    params: BM25Params | None = None,
) -> DataFrame:
    """Re-rank the top window with a secondary match query:
    final = query_weight*orig + rescore_query_weight*secondary."""
    window = base_scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(window_size)
    sec = match_topk(index, field, rescore_terms, k=None, params=params).select(
        "doc_id", F.col("score").alias("_rescore")
    )
    combined = (
        window.join(sec, "doc_id", "left")
        .withColumn(
            "score",
            F.lit(query_weight) * F.col("score")
            + F.lit(rescore_query_weight) * F.coalesce(F.col("_rescore"), F.lit(0.0)),
        )
        .drop("_rescore")
    )
    return combined.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# PinnedQueryBuilder ranks pinned docs above any organic score with
# descending constants (the reference uses Float.MAX_VALUE-derived
# pinned scores); 2^30 keeps the arithmetic exact in float64 on both
# engines.
PINNED_SCORE_BASE = float(2 ** 30)


def pinned_topk(
    organic: DataFrame,
    pinned_ids: list[int],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """pinned query (x-pack search-business-rules
    PinnedQueryBuilder.java): ``pinned_ids`` rank first IN LIST ORDER
    above every organic hit; organic results follow by score. Pinned
    docs match even when the organic query does not match them (the
    reference composes a DisjunctionMaxQuery of an ids query with
    capped-above scores and the organic query).

    ``organic`` is the (doc_id, score) frame of ALL organic matches
    (k=None scoring path). The pinned list is a query constant —
    broadcast, no extra shuffle beyond the organic plan's.
    """
    spark = organic.sparkSession
    rows = [(int(i), float(len(pinned_ids) - j))
            for j, i in enumerate(pinned_ids)]
    pin = spark.createDataFrame(rows, f"{id_col} long, _pin double")
    merged = organic.join(F.broadcast(pin), id_col, "full_outer")
    scored = merged.withColumn(
        "score",
        F.when(F.col("_pin").isNotNull(),
               F.lit(PINNED_SCORE_BASE) + F.col("_pin"))
        .otherwise(F.col("score")),
    ).drop("_pin")
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def highlight(
    hits: DataFrame,
    terms: list[str],
    text_col: str = "text",
    fragment_size: int = 60,
    n_fragments: int = 2,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    order: str = "none",
    max_passages: int = 32,
    prefix_terms: list[str] = (),
    no_match_size: int = 0,
) -> DataFrame:
    """Multi-fragment unified-highlighter-style passages, Arrow-batched
    (reference: search/fetch/subphase/highlight/ HighlightBuilder
    options number_of_fragments / fragment_size / pre_tags / post_tags /
    order).

    A passage is one NON-OVERLAPPING match of the lazy window regex
    ``.{0,half}?\\bterm\\b.{0,half}`` scanned left to right — nearby
    matches inside one window share a passage, and successive passages
    never overlap (finditer semantics). Python re and RE2 agree on this
    scan, which is what gives the operator an exact DuckDB twin
    (regexp_extract_all of the same pattern). ``order='score'`` sorts
    passages by match count desc (ES ``order: score``; ties keep
    document order, Lucene's passage sort is stable); default document
    order.

    ``prefix_terms`` highlight as ``\\bterm\\w*`` — the surface forms a
    STEMMED sub-field matched (``matched_fields`` on the unified
    highlighter: matches from differently-analyzed variants of the same
    text combine into one highlighted field; a stem covers every
    surface inflection as a prefix).

    ``no_match_size`` (HighlightBuilder.noMatchSize): when a doc has NO
    matching passage, return the leading ``no_match_size`` chars as one
    untagged fragment instead of an empty list. ``n_fragments=0``
    returns the WHOLE field as one tagged fragment (ES
    number_of_fragments: 0).
    """
    half = fragment_size // 2
    alts = [rf"\b(?:{'|'.join(re.escape(t.lower()) for t in terms)})\b"] \
        if terms else []
    if prefix_terms:
        alts.append(
            rf"\b(?:{'|'.join(re.escape(t.lower()) for t in prefix_terms)})\w*")
    if not alts:
        raise ValueError("highlight: no terms to highlight")
    alt = "|".join(alts)
    win = re.compile(
        rf"(?s).{{0,{half}}}?(?:{alt}).{{0,{half}}}", re.IGNORECASE
    )
    inner = re.compile("(" + alt + ")", re.IGNORECASE)
    rep = pre_tag.replace("\\", "\\\\") + r"\1" + post_tag.replace("\\", "\\\\")

    def frag_batch(it):
        from itertools import islice

        for pdf in it:
            frags = []
            for text in pdf[text_col].fillna(""):
                if n_fragments == 0:
                    # number_of_fragments: 0 — whole field, tagged
                    frags.append([inner.sub(rep, text)]
                                 if inner.search(text)
                                 else ([text[:no_match_size]]
                                       if no_match_size else []))
                    continue
                cap = n_fragments if order == "none" else max_passages
                wins = [m.group(0) for m in islice(win.finditer(text), cap)]
                if order == "score":
                    # stable sort: equal-count passages keep doc order
                    wins.sort(key=lambda w: -len(inner.findall(w)))
                sel = wins[:n_fragments]
                if not sel and no_match_size:
                    frags.append([text[:no_match_size]])
                    continue
                frags.append([inner.sub(rep, w) for w in sel])
            yield pdf.assign(highlights=frags)

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in hits.schema.fields
    ) + ", highlights array<string>"
    return hits.mapInPandas(frag_batch, schema=schema)


def highlight_plain(
    hits: DataFrame,
    terms: list[str],
    text_col: str = "text",
    fragment_size: int = 60,
    n_fragments: int = 2,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    order: str = "none",
) -> DataFrame:
    """``type: plain`` highlighter (reference: search/fetch/subphase/
    highlight/PlainHighlighter.java over Lucene's SimpleFragmenter):
    the text is cut into CONSECUTIVE fixed-size fragments from offset
    0, each fragment scores by its number of term matches, and the
    top ``n_fragments`` scoring fragments are returned — by document
    offset by default, by score under ``order='score'`` (ties keep
    offset order).  Divergence from Lucene, documented: SimpleFragmenter
    snaps the cut to the nearest token end, here cuts land on exact
    char offsets — that keeps the fragment grid a pure function of
    (text, fragment_size), which is what gives the operator an exact
    DuckDB twin (substring grid + regexp match count).  Zero-match
    fragments are never returned.
    """
    if not terms:
        raise ValueError("highlight_plain: no terms to highlight")
    alt = "|".join(re.escape(t.lower()) for t in terms)
    inner = re.compile(rf"(\b(?:{alt})\b)", re.IGNORECASE)
    rep = pre_tag.replace("\\", "\\\\") + r"\1" + post_tag.replace("\\", "\\\\")

    def frag_batch(it):
        for pdf in it:
            frags = []
            for text in pdf[text_col].fillna(""):
                chunks = [text[i:i + fragment_size]
                          for i in range(0, len(text), fragment_size)]
                scored = [(len(inner.findall(c)), i, c)
                          for i, c in enumerate(chunks)]
                top = sorted((s for s in scored if s[0] > 0),
                             key=lambda s: (-s[0], s[1]))[:n_fragments]
                if order != "score":
                    top.sort(key=lambda s: s[1])
                frags.append([inner.sub(rep, c) for _, _, c in top])
            yield pdf.assign(highlights=frags)

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in hits.schema.fields
    ) + ", highlights array<string>"
    return hits.mapInPandas(frag_batch, schema=schema)


def highlight_fvh(
    hits: DataFrame,
    phrases: list[list[str]],
    text_col: str = "text",
    fragment_size: int = 60,
    n_fragments: int = 2,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    boundary_chars: str = ".,!?\n",
    boundary_max_scan: int = 20,
) -> DataFrame:
    """``type: fvh`` highlighter (reference: search/fetch/subphase/
    highlight/FastVectorHighlighter.java): PHRASE-AWARE — a phrase
    query only highlights positions where the whole phrase matches
    (Lucene FieldQuery phraseHighlight), never its terms individually,
    and fragment edges snap to boundary characters within
    ``boundary_max_scan`` (SimpleBoundaryScanner's boundaryChars /
    boundaryMaxScan).

    A phrase of analyzer terms matches the raw text as the terms
    joined by one-or-more non-token chars (``[^a-z0-9_]+`` — the
    ascii_word token separator), i.e. term vectors with positions
    re-derived from the source. Fragments are the non-overlapping lazy
    windows around each phrase hit (same scan as :func:`highlight`),
    then both edges are trimmed to the nearest boundary char by two
    regex rewrites Python re and RE2 perform identically — the DuckDB
    twin replays the exact same three regexes.
    """
    if not phrases:
        raise ValueError("highlight_fvh: no phrases to highlight")
    sep = r"[^a-z0-9_]+"
    alts = []
    for p in phrases:
        if not p:
            continue
        alts.append(r"\b" + sep.join(re.escape(t.lower()) for t in p) + r"\b")
    alt = "|".join(alts)
    half = fragment_size // 2
    win = re.compile(rf"(?s).{{0,{half}}}?(?:{alt}).{{0,{half}}}",
                     re.IGNORECASE)
    inner = re.compile("(" + alt + ")", re.IGNORECASE)
    bcls = re.escape(boundary_chars)
    # edge snap: trim through the FIRST boundary char within the lead
    # scan / after the LAST boundary char within the trail scan; when no
    # boundary char sits inside the scan window, the edge is kept as-is
    # (SimpleBoundaryScanner's offset fallback)
    lead = re.compile(rf"(?s)^.{{0,{boundary_max_scan}}}?[{bcls}]\s*")
    trail = re.compile(rf"(?s)([{bcls}])[^{bcls}]{{0,{boundary_max_scan}}}$")
    rep = pre_tag.replace("\\", "\\\\") + r"\1" + post_tag.replace("\\", "\\\\")

    def frag_batch(it):
        from itertools import islice

        for pdf in it:
            frags = []
            for text in pdf[text_col].fillna(""):
                wins = [m.group(0)
                        for m in islice(win.finditer(text), n_fragments)]
                out = []
                for w in wins:
                    w = lead.sub("", w, count=1)
                    w = trail.sub(r"\1", w, count=1)
                    out.append(inner.sub(rep, w))
                frags.append(out)
            yield pdf.assign(highlights=frags)

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in hits.schema.fields
    ) + ", highlights array<string>"
    return hits.mapInPandas(frag_batch, schema=schema)


def highlight_terms(
    query: dict,
    analyzer: str = "ascii_word",
    matched_fields_analyzers: list[str] = (),
) -> tuple[list[str], list[str]]:
    """Resolve (exact_terms, prefix_terms) for :func:`highlight` from a
    highlight_query / query body.

    ``highlight_query`` (HighlightBuilder.highlightQuery): the
    highlighter runs a DIFFERENT query than the scorer — pass that
    query here and feed the result to :func:`highlight`.

    ``matched_fields`` (AbstractHighlighterBuilder.matchedFields, unified
    highlighter): additionally analyze the query text under each
    sub-field's analyzer; non-surface variants (stems) highlight as
    prefixes so every inflection the stemmed sub-field matched gets
    tagged.

    Supported query kinds: match / match_phrase / term / terms /
    prefix / bool (must/should/filter recursion; must_not contributes
    nothing — it cannot produce a highlightable match).
    """
    from elasticsearch_spark.analysis.analyzers import analyze

    exact: list[str] = []
    prefix: list[str] = []

    def texts(q: dict) -> list[str]:
        (kind, body), = q.items()
        if kind == "bool":
            out = []
            for sec in ("must", "should", "filter"):
                for sub in body.get(sec) or []:
                    out += texts(sub)
            return out
        if kind in ("match", "match_phrase"):
            (_f, b), = body.items()
            return [b["query"] if isinstance(b, dict) else b]
        if kind == "term":
            (_f, b), = body.items()
            return [str(b["value"] if isinstance(b, dict) else b)]
        if kind == "terms":
            (_f, vals), = body.items()
            return [str(v) for v in vals]
        if kind == "prefix":
            (_f, b), = body.items()
            v = b["value"] if isinstance(b, dict) else b
            prefix.append(str(v).lower())
            return []
        raise ValueError(
            f"highlight: unsupported highlight_query kind {kind!r}")

    all_texts = texts(query)
    for t in all_texts:
        exact += [tok for tok, _ in analyze(t, analyzer)]
    surface = set(exact)
    for sub_an in matched_fields_analyzers:
        for t in all_texts:
            for tok, _ in analyze(t, sub_an):
                # a stem that IS a surface token adds nothing; a new
                # stem covers its inflections as a prefix
                if tok not in surface:
                    prefix.append(tok)
    return (list(dict.fromkeys(exact)), list(dict.fromkeys(prefix)))


def explain_scores(
    index: InvertedIndex,
    field: str,
    terms: list[str],
    doc_ids: list[int],
    params: BM25Params | None = None,
) -> DataFrame:
    """Per-(doc, term) score component breakdown: tf, dl, df, idf,
    tf_norm, contribution — the ExplainPhase analogue, invaluable for
    score-parity debugging. ``idf`` and ``tf_norm`` are the kernel's
    own factors under ``params.similarity`` (``bm25.idf_sim``,
    ``bm25.tf_norm_sim``), so a doc's contributions sum to its
    ``match_topk`` score. df, N and avgdl come from the scorers' DFS
    lookup (``executor._term_rows``)."""
    import numpy as np

    from elasticsearch_spark.search import bm25
    from elasticsearch_spark.search.executor import _term_rows, decoded_postings

    params = params or BM25Params()
    looked = _term_rows(index, field, sorted(set(terms)))
    if looked is None:
        raise ValueError(f"explain_scores: no indexed docs in {field!r}")
    by_term, n_docs, avgdl = looked
    dfs = {t: int(r["df"]) for t, r in by_term.items()}
    idfs = {t: bm25.idf_sim(df, n_docs, params) for t, df in dfs.items()}
    rows = decoded_postings(index, field, terms).filter(
        F.col("doc_id").isin(doc_ids)
    )

    def explain_batch(it):
        for pdf in it:
            tfs = pdf["tf"].to_numpy(dtype=np.float64)
            dls = pdf["dl"].to_numpy(dtype=np.int64)
            df_arr = np.array([dfs[t] for t in pdf["term"]], dtype=np.float64)
            idf = np.array([idfs[t] for t in pdf["term"]], dtype=np.float64)
            tfn = bm25.tf_norm_sim(tfs, dls, avgdl, params)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "term": pdf["term"],
                    "tf": tfs,
                    "dl": dls,
                    "df": df_arr,
                    "idf": idf,
                    "tf_norm": tfn,
                    "contribution": idf * tfn,
                }
            )

    return rows.mapInPandas(
        explain_batch,
        schema="doc_id long, term string, tf double, dl long, df double, "
               "idf double, tf_norm double, contribution double",
    )


def rank_feature_score(field: str, *, saturation_pivot: float | None = None,
                        log_scaling_factor: float | None = None,
                        sigmoid: tuple[float, float] | None = None,
                        boost: float = 1.0):
    """rank_feature query scoring column (mapper-extras rank_feature):
    saturation x/(x+pivot) (default), log ln(scaling_factor + x), or
    sigmoid x^exp/(x^exp + pivot^exp)."""
    col = F.col(field).cast("double")
    if log_scaling_factor is not None:
        return F.lit(boost) * F.log(F.lit(log_scaling_factor) + col)
    if sigmoid is not None:
        pivot, exp = sigmoid
        xe = F.pow(col, F.lit(exp))
        return F.lit(boost) * xe / (xe + F.lit(pivot ** exp))
    pivot = saturation_pivot if saturation_pivot is not None else 1.0
    return F.lit(boost) * col / (col + F.lit(pivot))


def rank_features_score(
    map_col: Column | str,
    feature: str,
    *,
    positive_score_impact: bool = True,
    saturation_pivot: float = 1.0,
    log_scaling_factor: float | None = None,
    sigmoid: tuple[float, float] | None = None,
    boost: float = 1.0,
) -> Column:
    """rank_feature query addressing one feature of a rank_features
    field (mapper-extras RankFeaturesFieldMapper: the field is a sparse
    feature->weight map; a rank_feature query targets ``field.feature``
    with the same saturation/log/sigmoid scoring as rank_feature).

    Spark shape: the rank_features field is a ``map<string,float>``
    column; the lookup plus the scoring formula stay one Catalyst
    expression. ``positive_score_impact=False`` flips saturation to
    pivot/(x+pivot) (reference: negative-impact features store 1/x and
    score with the positive formula — algebraically identical).
    Docs missing the feature yield NULL (the query does not match
    them) — filter ``.isNotNull()`` or coalesce per the bool context.
    """
    m = F.col(map_col) if isinstance(map_col, str) else map_col
    x = F.try_element_at(m, F.lit(feature)).cast("double")
    if log_scaling_factor is not None:
        score = F.log(F.lit(log_scaling_factor) + x)
    elif sigmoid is not None:
        pivot, exp = sigmoid
        xe = F.pow(x, F.lit(exp))
        score = xe / (xe + F.lit(pivot ** exp))
    elif positive_score_impact:
        score = x / (x + F.lit(saturation_pivot))
    else:
        score = F.lit(saturation_pivot) / (x + F.lit(saturation_pivot))
    return F.lit(boost) * score


def distance_feature_score(field: str, origin: float, pivot: float,
                            boost: float = 1.0):
    """distance_feature query (DistanceFeatureQueryBuilder, reg.
    SearchModule.java:820): boost * pivot / (pivot + |value - origin|)."""
    dist = F.abs(F.col(field).cast("double") - F.lit(float(origin)))
    return F.lit(boost) * F.lit(float(pivot)) / (F.lit(float(pivot)) + dist)


def feature_topk(docs: DataFrame, score_col, k: int = 10,
                  id_col: str = "doc_id") -> DataFrame:
    """Top-k docs by a feature-scoring column (rank_feature /
    distance_feature in isolation, or added to a bool's should sum)."""
    return (
        docs.withColumn("score", score_col)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def index_stats(index) -> dict:
    """_stats/_segments-style index statistics from checkpoint manifests
    + block metadata (no posting decode)."""
    manifests = index.manifests()
    parts = [m for m in manifests if "partition_id" in m]
    seg_counts = (
        index.postings.filter(F.col("term").isNull())
        .groupBy("part_id")
        .count()
        .collect()
    )
    coll = index.collection_stats()
    return {
        "partitions": len(parts),
        "docs": sum(m.get("num_docs", 0) for m in parts),
        "terms": sum(m.get("num_terms", 0) for m in parts),
        "postings": sum(m.get("num_postings", 0) for m in parts),
        "segments_per_partition": {int(r["part_id"]): r["count"] for r in seg_counts},
        "fields": coll,
    }


def profile(df: DataFrame) -> dict:
    """_search profile analogue (search/profile/Profilers.java): the
    reference returns a per-query execution tree with timings; the Spark
    engine's equivalent artifact is the Catalyst plan trio — what was
    asked (logical), what the optimizer decided (optimized: pushdowns,
    prunes, join strategies) and what ran (physical: exchanges,
    codegen). Stage/task timings live in the Spark UI / history server
    event log, which is the runtime half of the profile."""
    qe = df._jdf.queryExecution()
    return {
        "logical": str(qe.analyzed()),
        "optimized": str(qe.optimizedPlan()),
        "physical": str(qe.executedPlan()),
    }


def ensure_bigram_stats(index, field: str = "text") -> DataFrame:
    """Persisted adjacent-token (bigram) counts for ``field``, derived
    from the INDEX's posting positions — never from raw text. Built
    once and cached under ``<index>/bigrams_<field>``; rebuilt when the
    field's total token count (coll_stats.sum_ttf) changes, so segment
    appends/compaction invalidate it automatically.

    The reference's PhraseSuggester reads index term statistics the
    same way (suggest/phrase/PhraseSuggester.java). The build is one
    distributed pass: explode positions -> per-doc ordered window ->
    lead(term) adjacency -> count. O(tokens) rows through two
    shuffles, run once per index generation — not per suggestion."""
    import json

    from elasticsearch_spark.search.executor import decoded_postings

    spark = index.spark
    out = os.path.join(index.path, f"bigrams_{field}")
    meta_p = os.path.join(out, "_stats_meta.json")
    cur_ttf = int(
        index.coll_stats.filter(F.col("field") == field)
        .select("sum_ttf").collect()[0][0]
    )
    if os.path.exists(meta_p):
        with open(meta_p) as f:
            if json.load(f).get("sum_ttf") == cur_ttf:
                return spark.read.parquet(out)
    toks = decoded_postings(index, field, with_positions=True).select(
        "doc_id", "term", F.explode("positions").alias("pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.withColumn("_w2", F.lead("term").over(w))
        .withColumn("_p2", F.lead("pos").over(w))
        .filter(F.col("_p2") == F.col("pos") + 1)
        .groupBy(F.col("term").alias("w1"), F.col("_w2").alias("w2"))
        .agg(F.count("*").alias("c"))
    )
    pairs.write.mode("overwrite").parquet(out)
    with open(meta_p, "w") as f:
        json.dump({"sum_ttf": cur_ttf}, f)
    return spark.read.parquet(out)


def phrase_suggest(
    docs: DataFrame,
    text: str,
    text_col: str = "text",
    size: int = 3,
    max_edits: int = 2,
    candidates_per_term: int = 3,
    backoff: float = 0.4,
    index=None,
    field: str = "text",
    collate: bool = False,
    collate_prune: bool = True,
) -> DataFrame:
    """phrase suggester ("did-you-mean",
    search/suggest/phrase/PhraseSuggester.java + the StupidBackoff
    smoothing model reg. SearchModule.java:615-619): per input term,
    generate spelling candidates from the corpus vocabulary (edit
    distance <= max_edits, ranked distance asc / frequency desc), then
    score every candidate phrase with a bigram language model under
    stupid backoff:

        P(w0) = c(w0)/N;  P(wi|wi-1) = c(wi-1,wi)/c(wi-1)
                          or backoff * c(wi)/N when the bigram is unseen

    With ``index`` (the scale path): unigram counts are term_dict.cf,
    the total is coll_stats.sum_ttf, bigrams come from the persisted
    ``ensure_bigram_stats`` table, and ALL input terms' candidates are
    ranked in ONE job (broadcast the query words against the term
    dictionary, window-rank per word) — two metadata-sized Spark jobs
    per suggestion, no corpus scan. Without ``index``, falls back to
    tokenizing ``docs`` (small-data/debug path). Only the tiny
    candidate grid (<= candidates_per_term^n_terms) is scored
    driver-side."""
    import re as _re
    from itertools import product

    spark = docs.sparkSession
    words = _re.findall(r"[a-z0-9_]+", text.lower())
    if not words:
        return spark.createDataFrame([], "text string, score double")
    empty = lambda: spark.createDataFrame([], "text string, score double")

    if index is not None:
        uni = index.term_dict.filter(F.col("field") == field).select(
            "term", F.col("cf").alias("c")
        )
        total = float(
            index.coll_stats.filter(F.col("field") == field)
            .select("sum_ttf").collect()[0][0]
        )
        big_df = ensure_bigram_stats(index, field)
        words_df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(words)], "wi int, w string"
        )
        rank_w = Window.partitionBy("wi").orderBy(
            F.asc("_d"), F.desc("c"), F.asc("term")
        )
        cand_rows = (
            uni.join(
                F.broadcast(words_df),
                F.levenshtein(F.col("term"), F.col("w")) <= max_edits,
            )
            .withColumn("_d", F.levenshtein(F.col("term"), F.col("w")))
            .withColumn("_rn", F.row_number().over(rank_w))
            .filter(F.col("_rn") <= candidates_per_term)
            .collect()
        )
        cands = [[] for _ in words]
        uni_c: dict[str, float] = {}
        for r in sorted(cand_rows, key=lambda r: (r["wi"], r["_rn"])):
            cands[r["wi"]].append(r["term"])
            uni_c[r["term"]] = float(r["c"])
        if any(not cl for cl in cands):
            return empty()
        pair_keys = {
            (a, b)
            for i in range(len(cands) - 1)
            for a in cands[i]
            for b in cands[i + 1]
        }
        if pair_keys:
            big = (
                big_df.filter(F.col("w1").isin([a for a, _ in pair_keys]))
                .filter(F.col("w2").isin([b for _, b in pair_keys]))
                .collect()
            )
            big_c = {(r["w1"], r["w2"]): float(r["c"]) for r in big}
        else:
            big_c = {}
    else:
        toks = docs.select(
            F.col("doc_id"),
            F.posexplode(
                F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0)")
            ).alias("pos", "term"),
        )
        uni = toks.groupBy("term").agg(F.count("*").alias("c")).cache()
        total = float(uni.agg(F.sum("c")).collect()[0][0])

        cands = []
        for w_ in words:
            rows = (
                uni.filter(F.levenshtein(F.col("term"), F.lit(w_)) <= max_edits)
                .orderBy(
                    F.levenshtein(F.col("term"), F.lit(w_)).asc(),
                    F.desc("c"), F.asc("term"),
                )
                .limit(candidates_per_term)
                .collect()
            )
            if not rows:
                return empty()
            cands.append([r["term"] for r in rows])

        cand_terms = sorted({t for cl in cands for t in cl})
        uni_c = {
            r["term"]: float(r["c"])
            for r in uni.filter(F.col("term").isin(cand_terms)).collect()
        }
        pair_keys = {
            (a, b)
            for i in range(len(cands) - 1)
            for a in cands[i]
            for b in cands[i + 1]
        }
        if pair_keys:
            w2 = toks.select(
                F.col("doc_id"), F.col("pos"), F.col("term").alias("w1")
            )
            nxt = toks.select(
                F.col("doc_id"), (F.col("pos") - 1).alias("pos"),
                F.col("term").alias("w2"),
            )
            big = (
                w2.join(nxt, ["doc_id", "pos"])
                .filter(F.col("w1").isin([a for a, _ in pair_keys]))
                .filter(F.col("w2").isin([b for _, b in pair_keys]))
                .groupBy("w1", "w2").agg(F.count("*").alias("c"))
                .collect()
            )
            big_c = {(r["w1"], r["w2"]): float(r["c"]) for r in big}
        else:
            big_c = {}
        uni.unpersist()

    results = []
    for combo in product(*cands):
        score = uni_c[combo[0]] / total
        for a, b in zip(combo, combo[1:]):
            bc = big_c.get((a, b))
            if bc is not None and bc > 0:
                score = score * (bc / uni_c[a])
            else:
                score = score * (backoff * (uni_c[b] / total))
        results.append((" ".join(combo), score))
    results.sort(key=lambda x: (-x[1], x[0]))
    top = results[:size]
    if collate:
        # collate (PhraseSuggester.java collate/prune): verify each
        # surviving suggestion actually matches documents — the
        # reference fires the collate template per suggestion per
        # shard; here one AND match per suggestion (<= size of them)
        # against the index, k=1 short-circuit. collate_prune=False
        # keeps non-matching suggestions flagged instead of dropped.
        if index is None:
            raise ValueError("collate requires the index")
        from elasticsearch_spark.search.executor import match_topk

        flagged = []
        for phrase, sc in top:
            hit = bool(match_topk(
                index, field, phrase.split(" "), k=1, operator="and",
            ).take(1))
            flagged.append((phrase, sc, hit))
        if collate_prune:
            flagged = [r for r in flagged if r[2]]
        return spark.createDataFrame(
            flagged, "text string, score double, collate_match boolean")
    return spark.createDataFrame(top, "text string, score double")


def nested_inner_hits(
    df: DataFrame,
    path: str,
    query: dict,
    size: int = 3,
    id_col: str = "doc_id",
    sort_by: list[tuple[str, bool]] | None = None,
) -> DataFrame:
    """inner_hits for a nested query (search/fetch/subphase/
    InnerHitsPhase.java, reg. SearchModule.java): for every parent doc
    that matches the nested query, return its top-``size`` matching
    CHILD sub-documents.

    Plan: posexplode the array column, apply the inner predicate with
    the field-correlated resolver (same compiler as the nested query),
    window rank per parent — no shuffle beyond the window's
    partitionBy(parent), and Catalyst prunes non-selected child fields.
    Default child order is array offset (index order, the reference's
    default when the inner hits are unscored); pass ``sort_by`` as
    [(child_field, ascending), ...] to rank by child fields instead."""
    from pyspark.sql import Window

    from elasticsearch_spark.search import dsl

    exploded = df.select(
        F.col(id_col), F.posexplode(F.col(path)).alias("_offset", "_child")
    )

    prefix = path + "."

    def resolve(f: str):
        name = f[len(prefix):] if f.startswith(prefix) else f
        return F.col("_child")[name]

    pred = dsl.compile_filter(query, id_col, resolve)
    matched = exploded.filter(pred)
    if sort_by:
        order = [
            (resolve(f).asc() if asc else resolve(f).desc()) for f, asc in sort_by
        ] + [F.asc("_offset")]
    else:
        order = [F.asc("_offset")]
    w = Window.partitionBy(id_col).orderBy(*order)
    return (
        matched.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= size)
        .select(id_col, F.col("_offset").alias("offset"), "rank", "_child.*")
    )


def significant_terms(
    df: DataFrame,
    field: str,
    fg_filter,
    size: int = 10,
    min_doc_count: int = 3,
    background_filter=None,
    heuristic: str = "jlh",
    include_negatives: bool = False,
) -> DataFrame:
    """significant_terms over a keyword field (SearchModule.java:400):
    values over-represented in the foreground vs the background.
    ``background_filter`` narrows the background set (the reference's
    background_filter option); default is the whole table.

    ``heuristic``: "jlh" (default, integer-exact rational — see
    _rank_jlh) or one of the other registered significance heuristics
    (SearchModule.java:711-714, all with background_is_superset
    semantics over the N11/N01/N10/N00 contingency of
    NXYSignificanceHeuristic.computeNxys):

      - "chi_square"          N * (N11*N00 - N01*N10)^2 / (N_1*N1_*N0_*N_0)
                              (ChiSquare.java:65; include_negatives
                              drops under-represented terms)
      - "mutual_information"  sum of the four Nxy MI terms / ln 2
                              (MutualInformation.java:61-96)
      - "gnd"                 exp(-(max(ln fx, ln fy) - ln fxy) /
                              (ln N - min(ln fx, ln fy)))
                              (GND.java:68-89)
      - "percentage"          subsetFreq / supersetFreq
                              (PercentageScore.java:64-71)
    """
    bg = F.lit(True) if background_filter is None else background_filter
    totals = df.select(
        F.sum(bg.cast("long")).alias("n_all"),
        F.sum(fg_filter.cast("long")).alias("n_fg"),
    ).collect()[0]
    n_all, n_fg = int(totals["n_all"]), int(totals["n_fg"])
    counts = df.groupBy(F.col(field).alias("term")).agg(
        F.sum(fg_filter.cast("long")).alias("fg_count"),
        F.sum(bg.cast("long")).alias("bg_count"),
    )
    if heuristic == "jlh":
        return _rank_jlh(counts, n_all, n_fg, min_doc_count, size)
    return _rank_nxy(counts, n_all, n_fg, min_doc_count, size,
                     heuristic, include_negatives)


def _rank_nxy(counts: DataFrame, n_all: int, n_fg: int,
              min_doc_count: int, size: int, heuristic: str,
              include_negatives: bool) -> DataFrame:
    """The non-JLH significance heuristics as Catalyst expressions over
    the background-is-superset contingency (computeNxys):
    N11=fg, N01=n_fg-fg, N10=bg-fg, N00=n_all-bg-(n_fg-fg),
    N1_=bg, N_1=n_fg, N0_=n_all-bg, N_0=n_all-n_fg, N=n_all."""
    fg = F.col("fg_count").cast("double")
    bg = F.col("bg_count").cast("double")
    n11, n01, n10 = fg, F.lit(float(n_fg)) - fg, bg - fg
    n00 = F.lit(float(n_all)) - bg - (F.lit(float(n_fg)) - fg)
    n1_, n_1 = bg, F.lit(float(n_fg))
    n0_, n_0 = F.lit(float(n_all)) - bg, F.lit(float(n_all - n_fg))
    n = F.lit(float(n_all))
    if heuristic == "chi_square":
        # square spelled d*d (not pow): correctly-rounded IEEE ops in
        # the same association order on any engine
        diff = n11 * n00 - n01 * n10
        score = n * diff * diff / (n_1 * n1_ * n0_ * n_0)
    elif heuristic == "mutual_information":
        def mi_term(nxy, nx_, n_y):
            # MutualInformation.getMITerm: 0 when Nxy ~ 0 (0*log0)
            return F.when(
                nxy < F.lit(1e-7),
                F.lit(0.0),
            ).otherwise((nxy / n) * F.log((n * nxy) / (nx_ * n_y)))

        score = (mi_term(n00, n0_, n_0) + mi_term(n01, n0_, n_1)
                 + mi_term(n10, n1_, n_0) + mi_term(n11, n1_, n_1)
                 ) / F.lit(math.log(2.0))
    elif heuristic == "gnd":
        raw = (F.greatest(F.log(n1_), F.log(n_1)) - F.log(n11)) / (
            F.log(n) - F.least(F.log(n1_), F.log(n_1)))
        score = (
            F.when(n11 == 0, F.lit(0.0))
            .when((n1_ == n_1) & (n1_ == n11), F.lit(1.0))
            .otherwise(F.exp(F.lit(-1.0) * raw))
        )
    elif heuristic == "percentage":
        score = F.when(bg == 0, F.lit(0.0)).otherwise(fg / bg)
    else:
        raise ValueError(f"unknown significance heuristic {heuristic!r}")
    out = counts.filter(
        (F.col("fg_count") >= min_doc_count) & (F.col("bg_count") > 0)
    )
    if not include_negatives and heuristic in (
            "chi_square", "mutual_information"):
        # drop terms whose in-class rate is below their out-of-class
        # rate (the reference returns -inf for them)
        out = out.filter(n11 / n_1 >= n10 / n_0)
    return (
        out.withColumn("score", score)
        .orderBy(F.desc("score"), F.asc("term"))
        .limit(size)
    )


def _rank_jlh(counts: DataFrame, n_all: int, n_fg: int,
              min_doc_count: int, size: int) -> DataFrame:
    """Attach the JLH significance score and take the top ``size`` terms.

    JLH = (fg_pct - bg_pct) * (fg_pct / bg_pct).  With integer counts it
    is the exact rational

        num / den = fg*(fg*n_all - bg*n_fg) / (bg*n_fg*n_fg)

    ``jlh_num`` / ``jlh_den`` are computed entirely in 64-bit INTEGER
    arithmetic — exact in any engine (counts are < 2^31, so num/den stay
    far below 2^63).  The float ``jlh`` column exists for callers/ordering
    only; oracle-hash-checked outputs should select the integer pair, not
    the float (driver-gate hash flaked two rounds running on raw doubles
    whose last-bit rounding differed between Spark and the checker's
    DuckDB build).  Ordering by num/den as ONE division of exactly-
    representable longs (< 2^53) is correctly rounded and therefore
    engine-independent, so the top-``size`` cut is deterministic too."""
    fg = F.col("fg_count").cast("long")
    bg = F.col("bg_count").cast("long")
    num = fg * (fg * F.lit(n_all) - bg * F.lit(n_fg))
    den = (bg * F.lit(n_fg)) * F.lit(n_fg)
    return (
        counts.filter(
            (F.col("fg_count") >= min_doc_count) & (F.col("bg_count") > 0)
        )
        .withColumn("jlh_num", num)
        .withColumn("jlh_den", den)
        .filter(F.col("jlh_num") > 0)
        .withColumn(
            "jlh",
            F.col("jlh_num").cast("double") / F.col("jlh_den").cast("double"),
        )
        .orderBy(F.desc("jlh"), F.asc("term"))
        .limit(size)
    )


def significant_text(
    docs: DataFrame,
    fg_filter,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 10,
    min_doc_count: int = 3,
    index=None,
    field: str = "text",
    filter_duplicate_text: bool = False,
) -> DataFrame:
    """significant_text agg with the JLH heuristic:
    score = (fg_pct - bg_pct) * (fg_pct / bg_pct), terms over-represented
    in the foreground set vs the whole corpus.

    When ``index`` (an InvertedIndex whose ``field`` was built with the
    same analyzer) is given, BACKGROUND doc counts come from the term
    dictionary (df = number of docs containing the term, exactly the
    distinct-token count) instead of re-tokenizing the whole corpus —
    at 100 TB the bg side is then a metadata read, and only the
    (usually small) foreground partition is tokenized. Same result.

    ``filter_duplicate_text``: the reference's boilerplate guard
    (SignificantTextAggregationBuilder ``filter_duplicate_text``,
    backed by DeDuplicatingTokenFilter's 6-gram sequence trie).
    Re-expressed order-independently: duplicated ``text_col`` values
    contribute ONCE to term counts (one dropDuplicates on the text
    hash before counting — map-side combine makes it a partial-agg,
    not an extra shuffle of content). Granularity divergence vs the
    reference (whole-field duplicates, not intra-field 6-gram runs)
    is documented here."""
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0)")
    totals = docs.select(
        F.count("*").alias("n_all"),
        F.sum(fg_filter.cast("long")).alias("n_fg"),
    ).collect()[0]
    n_all, n_fg = int(totals["n_all"]), int(totals["n_fg"])
    if filter_duplicate_text:
        # totals keep every doc (as in the reference — a duplicate doc
        # still counts toward set sizes); only TERM counts dedup
        docs = docs.dropDuplicates([text_col])
    if index is not None:
        fg_counts = (
            docs.filter(fg_filter)
            .select(F.explode(F.array_distinct(toks)).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("fg_count"))
        )
        bg = index.term_dict.filter(F.col("field") == field).select(
            "term", F.col("df").alias("bg_count")
        )
        counts = fg_counts.join(bg, "term")  # fg terms ⊆ corpus terms
    else:
        exploded = docs.select(
            F.col(id_col), fg_filter.alias("is_fg"),
            F.explode(F.array_distinct(toks)).alias("term"),
        )
        counts = exploded.groupBy("term").agg(
            F.sum(F.col("is_fg").cast("long")).alias("fg_count"),
            F.count("*").alias("bg_count"),
        )
    return _rank_jlh(counts, n_all, n_fg, min_doc_count, size)


def terms_enum(
    index,
    field: str,
    prefix: str = "",
    size: int = 10,
    case_insensitive: bool = False,
) -> DataFrame:
    """_terms_enum API (reference: x-pack/plugin/... TermsEnumAction;
    RestTermsEnumAction): autocomplete over the index's term
    dictionary — terms of ``field`` starting with ``prefix``, sorted,
    first ``size``. The term dictionary is already one row per term
    with its doc frequency, so this is a pushed-down prefix filter +
    TakeOrdered over the tiny dict table — no postings touched."""
    t = F.col("term")
    p = F.lit(prefix)
    cond = (F.lower(t).startswith(F.lower(p)) if case_insensitive
            else t.startswith(p))
    return (
        index.term_dict
        .filter((F.col("field") == field) & cond)
        .groupBy("term").agg(F.sum("df").alias("doc_count"))
        .orderBy(F.asc("term"))
        .limit(size)
    )


_MUSTACHE_VAR = re.compile(r"\{\{([#^/])?\s*([\w.]+)\s*\}\}")


def render_search_template(source: str, params: dict) -> dict:
    """Search templates (reference: modules/lang-mustache/.../
    MustacheScriptEngine.java driving TransportSearchTemplateAction):
    render the mustache source with ``params``, parse the result as
    the query JSON. Supported subset: {{var}} substitution
    (JSON-encoded for non-string values), {{#var}}…{{/var}} truthy
    sections and {{^var}}…{{/var}} inverted sections."""
    import json as _json

    def render(src: str) -> str:
        out, i = [], 0
        while True:
            m = _MUSTACHE_VAR.search(src, i)
            if not m:
                out.append(src[i:])
                return "".join(out)
            out.append(src[i:m.start()])
            kind, name = m.group(1), m.group(2)
            if kind in ("#", "^"):
                close = re.compile(
                    r"\{\{/\s*" + re.escape(name) + r"\s*\}\}")
                c = close.search(src, m.end())
                if not c:
                    raise ValueError(f"unclosed section {{{{#{name}}}}}")
                truthy = bool(params.get(name))
                if (kind == "#") == truthy:
                    out.append(render(src[m.end():c.start()]))
                i = c.end()
            elif kind == "/":
                raise ValueError(f"unmatched {{{{/{name}}}}}")
            else:
                v = params.get(name, "")
                out.append(v if isinstance(v, str) else _json.dumps(v))
                i = m.end()

    return _json.loads(render(source))


def msearch_template(
    index,
    field: str,
    items: list[tuple[str, dict]],
    k: int = 10,
    analyzer: str = "standard",
    operator: str = "or",
    minimum_should_match: int = 1,
    params=None,
):
    """_msearch/template: render each mustache template, then execute
    ALL rendered searches as one batched job.

    Reference: modules/lang-mustache/.../TransportMultiSearchTemplateAction.java
    — renders every template with its own params, collects the
    resulting search requests into a single MultiSearchRequest, and
    delegates to _msearch. Here the delegate is ``match_topk_batch``,
    so Q rendered queries ride one postings scan / one applyInPandas
    pass (the scale shape for template-driven query streams: dashboards
    fan out hundreds of parameterized searches per refresh).

    ``items``: (template_source, params) pairs; each must render to a
    ``{"match": {field: text-or-spec}}`` body over ``field`` (the
    scored path — filter-context templates go through
    ``render_search_template`` + ``filter_query`` individually).
    Returns (query_id, doc_id, score, matched) with query_id = the
    item's position, exactly as _msearch responses keep request order.
    """
    from elasticsearch_spark.analysis import analyze
    from elasticsearch_spark.search.executor import match_topk_batch

    queries = []
    for source, tparams in items:
        body = render_search_template(source, tparams)
        if set(body) != {"match"}:
            raise ValueError(
                f"msearch_template handles match bodies, got {set(body)}")
        f, spec = next(iter(body["match"].items()))
        if f != field:
            raise ValueError(f"template targets field {f!r}, index carries"
                             f" {field!r}")
        text = spec["query"] if isinstance(spec, dict) else spec
        queries.append([t for t, _ in analyze(str(text), analyzer)])
    return match_topk_batch(
        index, field, queries, k=k, operator=operator,
        minimum_should_match=minimum_should_match, params=params)


def script_fields(hits: DataFrame, fields: dict[str, Any]) -> DataFrame:
    """Fetch-subphase script fields (reference: server/.../search/fetch/
    subphase/ScriptFieldsPhase.java; request parsing in
    SearchService.java `script_fields`). Each entry computes a derived
    value per hit from the fetched doc columns. The reference runs a
    painless script per hit; the Spark analogue of `doc['f'].value`
    arithmetic is a Catalyst expression, so script fields stay inside
    whole-stage codegen instead of a per-hit interpreter. Values accept
    a painless expression (``doc['f'].value`` / ``params.x`` /
    ``Math.*`` route through scripts.compile_painless — the default
    lang, as in the reference), a raw SQL expression string, a Column,
    or an ES-shaped ``{"script": {"source": ..., "params": ...}}``
    dict."""
    from elasticsearch_spark.scripts import maybe_painless

    out = hits
    for name, expr in fields.items():
        if isinstance(expr, dict):
            s = expr.get("script", expr)
            col = F.expr(maybe_painless(s["source"], s.get("params")))
        elif isinstance(expr, str):
            col = F.expr(maybe_painless(expr))
        else:
            col = expr
        out = out.withColumn(name, col)
    return out


def termvectors(
    index: InvertedIndex,
    field: str,
    doc_id: int,
    term_statistics: bool = False,
) -> DataFrame:
    """_termvectors API — the term vector of one stored document.

    Reference: server/.../action/termvectors/TermVectorsService.java:
    per (doc, field) return each term with its term_freq and positions;
    with term_statistics=true also doc_freq and ttf from the term
    dictionary (the same global stats the DFS phase reads).

    Physical shape: the doc-hash routing pins ONE part_id and the
    per-block [first_doc, last_doc] skip metadata prunes to the blocks
    that can hold the doc — a single-doc lookup reads a handful of
    blocks, never the index (see decoded_postings(doc_id=...)).
    Positions are rendered as a comma-joined string (stable across
    engines for the oracle hash).
    """
    from elasticsearch_spark.search.executor import decoded_postings

    rows = decoded_postings(
        index, field, with_positions=True, doc_id=int(doc_id)
    ).where(F.col("doc_id") == int(doc_id))
    out = rows.select(
        "term",
        F.col("tf").alias("term_freq"),
        F.array_join(F.transform(
            "positions", lambda p: p.cast("string")), ",").alias("positions"),
    )
    if term_statistics:
        dict_rows = index.term_dict.filter(
            F.col("field") == field
        ).select("term", F.col("df").alias("doc_freq"),
                 F.col("cf").alias("ttf"))
        # the doc's term list is tiny; the dictionary side stays an
        # ordinary (pushed-filter) scan feeding a broadcast-able join
        out = out.join(dict_rows, "term", "left")
    return out.orderBy("term")


def mtermvectors(
    index: InvertedIndex,
    field: str,
    doc_ids: list[int],
    term_statistics: bool = False,
) -> DataFrame:
    """_mtermvectors (reference: server/.../action/termvectors/
    TransportMultiTermVectorsAction.java — shard-grouped multi-doc
    termvectors). One decoded-postings scan serves EVERY requested doc:
    the id set pushes into the posting scan as an In() filter plus the
    per-block [first_doc, last_doc] skip, so the request costs one job
    regardless of how many ids it carries (the reference's
    shard-grouping collapses round-trips the same way).

    Returns (doc_id, term, term_freq, positions [, doc_freq, ttf]),
    ordered by (doc_id, term)."""
    from elasticsearch_spark.search.executor import decoded_postings

    ids = sorted({int(i) for i in doc_ids})
    if not ids:
        raise ValueError("_mtermvectors needs at least one doc id")
    rows = decoded_postings(
        index, field, with_positions=True, doc_id=ids
    ).where(F.col("doc_id").isin(ids))
    out = rows.select(
        "doc_id",
        "term",
        F.col("tf").alias("term_freq"),
        F.array_join(F.transform(
            "positions", lambda p: p.cast("string")), ",").alias("positions"),
    )
    if term_statistics:
        dict_rows = index.term_dict.filter(
            F.col("field") == field
        ).select("term", F.col("df").alias("doc_freq"),
                 F.col("cf").alias("ttf"))
        out = out.join(dict_rows, "term", "left")
    return out.orderBy("doc_id", "term")
