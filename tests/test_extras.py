"""more_like_this / suggest / collapse / search_after / rescore /
highlight / explain / significant_text over the sf0.001 documents index."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.search import extras
from elasticsearch_spark.search.bm25 import BM25Params
from elasticsearch_spark.search.executor import match_topk

SF = "/root/testdata/sf0.001"
EXACT = BM25Params(quantize_norms=False)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def index(spark, docs):
    import __spark_entry__ as e

    return e._doc_index(spark, SF)


def test_more_like_this(index, docs):
    out = extras.more_like_this(index, docs, like_id=0, k=5, params=EXACT).collect()
    assert 0 < len(out) <= 5
    assert all(r["doc_id"] != 0 for r in out)
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_term_suggest(index):
    out = extras.term_suggest(index, "text", "tabel").collect()
    assert out, "expected suggestions for misspelled 'tabel'"
    assert out[0]["term"] == "table"
    assert out[0]["distance"] <= 2


def test_collapse(index, docs):
    scored = match_topk(index, "text", ["table", "scan"], k=None, params=EXACT)
    out = extras.collapse_topk(scored, docs, "lang", k=10).collect()
    langs = [r["lang"] for r in out]
    assert len(langs) == len(set(langs))  # one hit per key
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_search_after_pagination(index):
    full = match_topk(index, "text", ["table"], k=20, params=EXACT).collect()
    page1 = full[:5]
    after = page1[-1]
    page2 = extras.search_after(
        match_topk(index, "text", ["table"], k=None, params=EXACT),
        after["score"], after["doc_id"], k=5,
    ).collect()
    assert [r["doc_id"] for r in page2] == [r["doc_id"] for r in full[5:10]]


def test_rescore(index):
    base = match_topk(index, "text", ["table"], k=None, params=EXACT)
    out = extras.rescore(
        index, base, ["scan"], window_size=10, rescore_query_weight=2.0,
        k=5, params=EXACT,
    ).collect()
    assert len(out) == 5
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_highlight(index, docs):
    topk = match_topk(index, "text", ["table"], k=3, params=EXACT)
    hits = docs.join(F.broadcast(topk), "doc_id")
    out = extras.highlight(hits, ["table"], n_fragments=2).collect()
    assert len(out) == 3
    for r in out:
        assert r["highlights"]
        assert "<em>" in r["highlights"][0]


def test_explain_matches_scores(index):
    """A hit's explained contributions sum to its score under every
    similarity the kernel supports."""
    for params in (EXACT,
                   BM25Params(quantize_norms=False, similarity="classic"),
                   BM25Params(quantize_norms=False, similarity="boolean")):
        topk = match_topk(index, "text", ["table", "scan"], k=3,
                          params=params).collect()
        ids = [r["doc_id"] for r in topk]
        ex = extras.explain_scores(index, "text", ["table", "scan"], ids,
                                   params=params)
        by_doc = {}
        for r in ex.collect():
            by_doc.setdefault(r["doc_id"], 0.0)
            by_doc[r["doc_id"]] += r["contribution"]
        for r in topk:
            assert math.isclose(by_doc[r["doc_id"]], r["score"],
                                rel_tol=1e-9), (params.similarity, r)


def test_significant_text(docs):
    out = extras.significant_text(
        docs, F.col("lang") == "en", size=5, min_doc_count=2
    ).collect()
    assert out
    assert all(r["jlh"] > 0 for r in out)
    jlhs = [r["jlh"] for r in out]
    assert jlhs == sorted(jlhs, reverse=True)


def test_significant_text_filter_duplicate(spark):
    """filter_duplicate_text: a boilerplate doc duplicated many times
    inflates its terms' significance without the filter and not with
    it (duplicate field values count once; totals keep every doc)."""
    rows = [(i, "spam boilerplate advert", "en") for i in range(8)]
    rows += [(100 + i, f"real signal content variant{i}", "en")
             for i in range(4)]
    rows += [(200 + i, f"background words everywhere variant{i}", "fr")
             for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    fg = F.col("lang") == "en"
    plain = {r["term"]: r["fg_count"] for r in extras.significant_text(
        df, fg, size=20, min_doc_count=1).collect()}
    dedup = {r["term"]: r["fg_count"] for r in extras.significant_text(
        df, fg, size=20, min_doc_count=1,
        filter_duplicate_text=True).collect()}
    assert plain["spam"] == 8      # every duplicate counted
    assert dedup["spam"] == 1      # duplicates collapsed
    assert dedup["signal"] == plain["signal"] == 4  # uniques unchanged


def test_geo_distance(spark):
    import math

    from elasticsearch_spark.search.geo import geo_distance

    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.0, 1.0), (3, 52.52, 13.405), (4, 48.8566, 2.3522)],
        "doc_id long, lat double, lon double",
    )
    out = {r["doc_id"]: r["distance_km"]
           for r in geo_distance(df, origin=(0.0, 0.0), sort=False).collect()}
    assert out[1] == 0.0
    # one degree of longitude at the equator ~= 111.19 km
    assert math.isclose(out[2], 111.19, rel_tol=1e-3)
    # Berlin->origin vs Paris->origin sanity: Paris is closer to (0,0)
    assert out[4] < out[3]
    near = geo_distance(df, origin=(0.0, 0.0), distance_km=200.0, k=10).collect()
    assert [r["doc_id"] for r in near] == [1, 2]


def test_phrase_suggest_index_path_matches_text_path(index, docs):
    """The index-backed suggester (term_dict.cf unigrams + persisted
    posting-position bigrams) must reproduce the raw-text path exactly
    — same candidates, same stupid-backoff scores."""
    legacy = extras.phrase_suggest(docs, "dat san", size=3).collect()
    backed = extras.phrase_suggest(
        docs, "dat san", size=3, index=index, field="text"
    ).collect()
    assert [(r["text"], r["score"]) for r in backed] == \
           [(r["text"], r["score"]) for r in legacy]
    assert backed, "expected suggestions"


def test_phrase_suggest_collate(index, docs):
    """collate: every surviving suggestion matches >=1 doc with ALL its
    terms (the reference fires the collate query per suggestion);
    collate_prune=False keeps non-matching ones flagged."""
    from elasticsearch_spark.search.executor import match_topk

    pruned = extras.phrase_suggest(
        docs, "dat san", size=3, index=index, field="text",
        collate=True).collect()
    assert pruned, "expected collated suggestions"
    for r in pruned:
        assert r["collate_match"] is True
        assert match_topk(index, "text", r["text"].split(" "), k=1,
                          operator="and").take(1)
    flagged = extras.phrase_suggest(
        docs, "dat san", size=3, index=index, field="text",
        collate=True, collate_prune=False).collect()
    assert {r["text"] for r in pruned} <= {r["text"] for r in flagged}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="index"):
        extras.phrase_suggest(docs, "dat san", collate=True)


def test_bigram_stats_cached_until_index_changes(index, tmp_path):
    """ensure_bigram_stats builds once per index generation: a second
    call must read the persisted table, not rebuild (same mtime)."""
    import os

    extras.ensure_bigram_stats(index, "text")
    meta = os.path.join(index.path, "bigrams_text", "_stats_meta.json")
    m1 = os.path.getmtime(meta)
    extras.ensure_bigram_stats(index, "text")
    assert os.path.getmtime(meta) == m1


def test_highlight_multi_fragment_options(spark):
    from elasticsearch_spark.search import extras

    text = ("alpha table beta " + "x" * 80 + " gamma table delta table end "
            + "y" * 80 + " table last")
    hits = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = extras.highlight(
        hits, ["table"], fragment_size=30, n_fragments=3,
        pre_tag="[", post_tag="]").collect()[0]["highlights"]
    assert len(out) == 3
    # every fragment tags its matches; nearby matches share a passage
    assert all("[table]" in f for f in out)
    assert "[table] delta [table]" in out[1]
    # order=score puts the 2-match passage first (stable ties)
    scored = extras.highlight(
        hits, ["table"], fragment_size=30, n_fragments=1,
        pre_tag="[", post_tag="]", order="score").collect()[0]["highlights"]
    assert scored[0].count("[table]") == 2
    # custom tags + fragment budget respected
    one = extras.highlight(
        hits, ["table"], fragment_size=10, n_fragments=1).collect()[0]
    assert len(one["highlights"]) == 1 and "<em>table</em>" in one["highlights"][0]


# --- graph explore (round 4) -----------------------------------------


def test_graph_vertices_significance_and_count_ranking(spark):
    from elasticsearch_spark.search.graph import graph_vertices

    # cat 'a' is 3/4 fg, 'b' 1/4 fg, 'c' 0 fg (dropped: jlh_num <= 0)
    rows = [(i, "a" if i < 4 else ("b" if i < 8 else "c"), i in (0, 1, 2, 4))
            for i in range(12)]
    df = spark.createDataFrame(rows, "id int, cat string, hit boolean")
    out = graph_vertices(df, F.col("hit"), "cat", size=5).collect()
    # 'b' (fg 1/4 vs bg 4/12) is UNDER-represented -> jlh_num < 0,
    # dropped; 'c' has zero fg
    assert [r["term"] for r in out] == ["a"]
    # exact JLH rational: fg*(fg*n_all - bg*n_fg) / (bg*n_fg*n_fg)
    a = out[0]
    assert (a["fg_count"], a["bg_count"]) == (3, 4)
    assert a["jlh_num"] == 3 * (3 * 12 - 4 * 4)
    assert a["jlh_den"] == 4 * 4 * 4
    by_count = graph_vertices(df, F.col("hit"), "cat", size=2,
                              use_significance=False).collect()
    assert [r["term"] for r in by_count] == ["a", "b"]
    assert [r["fg_count"] for r in by_count] == [3, 1]


def test_graph_explore_edges(spark):
    from elasticsearch_spark.search.graph import graph_explore

    # seed hits only group 'x'; hop-2 finds langs significant among
    # x-docs; edges count (group, lang) co-occurrence over x-docs
    rows = [
        (0, "x", "en", True), (1, "x", "en", True), (2, "x", "de", True),
        (3, "y", "fr", False), (4, "y", "fr", False), (5, "y", "en", False),
    ]
    df = spark.createDataFrame(rows, "id int, grp string, lang string, hit boolean")
    edges = {(r["source"], r["target"]): r["doc_count"]
             for r in graph_explore(df, F.col("hit"), "grp", "lang",
                                    size=3).collect()}
    # 'y' never enters: zero fg in hop 1; 'fr' never enters: zero fg
    # among hop-2 (grp='x') docs
    assert edges == {("x", "en"): 2, ("x", "de"): 1}


# --- terms_enum / search template / mvt (round 4) --------------------


def test_terms_enum_prefix(index, docs):
    import duckdb

    out = extras.terms_enum(index, "text", prefix="s", size=10).collect()
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = con.execute("""
        WITH tok AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text),
                 '[a-z0-9_]+')) AS term FROM documents)
        SELECT term, count(DISTINCT doc_id) AS doc_count FROM tok
        WHERE term LIKE 's%' GROUP BY term ORDER BY term LIMIT 10
    """).fetchall()
    assert [(r["term"], r["doc_count"]) for r in out] == want


def test_render_search_template():
    body = extras.render_search_template(
        '{"bool": {"filter": [{"term": {"lang": "{{lang}}"}}'
        '{{#max}}, {"range": {"n": {"lte": {{max}}}}}{{/max}}'
        '{{^max}}, {"match_all": {}}{{/max}}]}}',
        {"lang": "en", "max": 500})
    assert body == {"bool": {"filter": [
        {"term": {"lang": "en"}}, {"range": {"n": {"lte": 500}}}]}}
    body2 = extras.render_search_template(
        '{"a": "{{x}}"{{#flag}}, "b": 1{{/flag}}}', {"x": "v"})
    assert body2 == {"a": "v"}  # falsy section dropped
    lst = extras.render_search_template(
        '{"terms": {"ids": {{ids}}}}', {"ids": [1, 2, 3]})
    assert lst == {"terms": {"ids": [1, 2, 3]}}


def test_mvt_grid_and_encode(spark):
    import math as m

    from elasticsearch_spark.search import mvt

    pts = [(5.0, 0.0), (10.0, 10.0), (10.2, 10.2), (-40.0, 100.0),
           (85.0, 179.0), (-85.0, -179.0), (40.0, -100.0)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    # z=1, tile (1, 0): lon >= 0, lat >= 0 (upper-right world quadrant)
    rows = mvt.mvt_grid(df, z=1, x=1, y=0, grid_precision=4).collect()
    got = {(r["cell_x"], r["cell_y"]): r["count"] for r in rows}

    def cell(lat, lon):
        n = 1 << 5
        fx = min(int((lon + 180) / 360 * n), n - 1)
        r = m.radians(max(min(lat, 85.05112878), -85.05112878))
        fy = min(int((1 - m.log(m.tan(r) + 1 / m.cos(r)) / m.pi) / 2 * n),
                 n - 1)
        assert fx >> 4 == 1 and fy >> 4 == 0
        return fx - 1 * 16, fy - 0 * 16  # minus the tile origin (x=1, y=0)
    want = {}
    for lat, lon in [(5.0, 0.0), (10.0, 10.0), (10.2, 10.2),
                     (85.0, 179.0)]:
        want[cell(lat, lon)] = want.get(cell(lat, lon), 0) + 1
    assert got == want

    blob = mvt.encode_mvt([(0, 0, 3), (5, 7, 1)], grid_precision=4)
    assert isinstance(blob, bytes) and len(blob) > 20
    # decode the outer frame: field 3 (layer), wire type 2
    assert blob[0] == (3 << 3) | 2
    # layer contains the name and the extent marker
    assert b"aggs" in blob and b"count" in blob


def test_search_mvt_cell_count_bounded(spark):
    from elasticsearch_spark.search import mvt

    df = spark.range(0, 2000).select(
        ((F.col("id") % 171) - 85).cast("double").alias("lat"),
        ((F.col("id") * 7 % 360) - 180).cast("double").alias("lon"))
    blob = mvt.search_mvt(df, z=0, x=0, y=0, grid_precision=3)
    n_cells = mvt.mvt_grid(df, 0, 0, 0, grid_precision=3).count()
    assert n_cells <= 64  # 4^3 grid bound regardless of doc count
    assert isinstance(blob, bytes) and len(blob) > 0


def test_termvectors_matches_reanalysis(index, docs):
    """_termvectors: per-doc (term, term_freq, positions) == a direct
    re-analysis of the stored text; term_statistics joins df/ttf."""
    from collections import Counter

    from elasticsearch_spark.analysis import analyze
    from elasticsearch_spark.search.extras import termvectors

    row = docs.where("doc_id = 7").select("text").first()
    toks = analyze(row["text"], "ascii_word")
    want_tf = Counter(t for t, _ in toks)
    want_pos: dict[str, list[int]] = {}
    for t, p in toks:
        want_pos.setdefault(t, []).append(p)
    got = termvectors(index, "text", 7).collect()
    assert {r["term"]: r["term_freq"] for r in got} == dict(want_tf)
    for r in got:
        assert r["positions"] == ",".join(str(p) for p in want_pos[r["term"]])
    stats = termvectors(index, "text", 7, term_statistics=True).collect()
    dict_rows = {r["term"]: (r["df"], r["cf"]) for r in
                 index.term_dict.where("field = 'text'").collect()}
    for r in stats:
        assert (r["doc_freq"], r["ttf"]) == dict_rows[r["term"]]


def test_mtermvectors_matches_singles(index, docs):
    """_mtermvectors: one scan serving many ids == per-id termvectors
    unioned (TransportMultiTermVectorsAction shard-grouping shape)."""
    from elasticsearch_spark.search.extras import mtermvectors, termvectors

    ids = [3, 7, 11]
    got = mtermvectors(index, "text", ids, term_statistics=True).collect()
    want = []
    for i in ids:
        for r in termvectors(index, "text", i,
                             term_statistics=True).collect():
            want.append((i, r["term"], r["term_freq"], r["positions"],
                         r["doc_freq"], r["ttf"]))
    got_t = [(r["doc_id"], r["term"], r["term_freq"], r["positions"],
              r["doc_freq"], r["ttf"]) for r in got]
    assert sorted(got_t) == sorted(want)
    assert {r["doc_id"] for r in got} == set(ids)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        mtermvectors(index, "text", [])


def test_validate_query(docs):
    from elasticsearch_spark.search.dsl import validate_query

    ok = validate_query(docs, {"bool": {"filter": [
        {"term": {"lang": "en"}}, {"range": {"n_chars": {"gte": 10}}}]}},
        explain=True)
    assert ok["valid"] and "Filter" in ok["explanation"]
    bad = validate_query(docs, {"noSuchQuery": {"x": 1}}, explain=True)
    assert bad["valid"] is False and "error" in bad
    # no explain -> no explanation keys either way
    assert set(validate_query(docs, {"match_all": {}})) == {"valid"}


def test_significance_heuristics_match_reference_formulas(spark):
    """chi_square / mutual_information / gnd / percentage vs direct
    python evaluation of the reference formulas (ChiSquare.java:65,
    MutualInformation.java:61-96, GND.java:68-89,
    PercentageScore.java:64-71; background_is_superset)."""
    import math as m

    rows = [(i, "a" if i < 40 else ("b" if i < 70 else "c"), i % 2 == 0)
            for i in range(100)]
    df = spark.createDataFrame(rows, "id int, cat string, fg boolean")
    fg_n = 50
    n_all = 100
    by_cat = {"a": (20, 40), "b": (15, 30), "c": (15, 30)}

    def nxys(fgc, bgc):
        n11, n01, n10 = fgc, fg_n - fgc, bgc - fgc
        n00 = n_all - bgc - (fg_n - fgc)
        return n11, n01, n10, n00, bgc, fg_n, n_all - bgc, n_all - fg_n

    def chi2(fgc, bgc):
        n11, n01, n10, n00, n1_, n_1, n0_, n_0 = nxys(fgc, bgc)
        d = n11 * n00 - n01 * n10
        return n_all * d * d / (n_1 * n1_ * n0_ * n_0)

    def mi(fgc, bgc):
        n11, n01, n10, n00, n1_, n_1, n0_, n_0 = nxys(fgc, bgc)

        def t(nxy, nx_, n_y):
            return 0.0 if nxy < 1e-7 else (
                nxy / n_all) * m.log(n_all * nxy / (nx_ * n_y))
        return (t(n00, n0_, n_0) + t(n01, n0_, n_1)
                + t(n10, n1_, n_0) + t(n11, n1_, n_1)) / m.log(2)

    def gnd(fgc, bgc):
        fx, fy, fxy = bgc, fg_n, fgc
        if fxy == 0:
            return 0.0
        if fx == fy == fxy:
            return 1.0
        raw = (max(m.log(fx), m.log(fy)) - m.log(fxy)) / (
            m.log(n_all) - min(m.log(fx), m.log(fy)))
        return m.exp(-raw)

    from elasticsearch_spark.search.extras import significant_terms

    for heur, ref in (("chi_square", chi2), ("mutual_information", mi),
                      ("gnd", gnd), ("percentage",
                                     lambda f, b: f / b)):
        got = {r["term"]: r["score"] for r in significant_terms(
            df, "cat", F.col("fg"), size=10, min_doc_count=1,
            heuristic=heur, include_negatives=True).collect()}
        for cat, (fgc, bgc) in by_cat.items():
            assert got[cat] == pytest.approx(ref(fgc, bgc),
                                             rel=1e-12), (heur, cat)
    with pytest.raises(ValueError):
        significant_terms(df, "cat", F.col("fg"), heuristic="tfidf")


def test_significance_include_negatives_filter(spark):
    """include_negatives=False drops under-represented terms (the
    reference scores them -inf)."""
    rows = [(i, "over" if i < 30 else "under", i < 35) for i in range(100)]
    df = spark.createDataFrame(rows, "id int, cat string, fg boolean")
    from elasticsearch_spark.search.extras import significant_terms

    # 'over': fg 30/35 in-class vs 0/65 out; 'under': fg 5/35 vs 60/65
    got = [r["term"] for r in significant_terms(
        df, "cat", F.col("fg"), min_doc_count=1,
        heuristic="chi_square").collect()]
    assert got == ["over"]
    both = [r["term"] for r in significant_terms(
        df, "cat", F.col("fg"), min_doc_count=1, heuristic="chi_square",
        include_negatives=True).collect()]
    assert sorted(both) == ["over", "under"]


def test_highlight_terms_resolver():
    """highlight_query term extraction + matched_fields stem prefixes
    (AbstractHighlighterBuilder.matchedFields / highlightQuery)."""
    from elasticsearch_spark.search.extras import highlight_terms

    ex, pre = highlight_terms({"bool": {"must": [
        {"match": {"text": "scan merge"}},
        {"term": {"lang": "en"}}],
        "must_not": [{"match": {"text": "ignored"}}]}})
    assert ex == ["scan", "merge", "en"] and pre == []
    ex, pre = highlight_terms(
        {"match": {"text": "tables queries merges"}},
        matched_fields_analyzers=["english_light"])
    assert ex == ["tables", "queries", "merges"]
    assert pre == ["table", "query", "merge"]
    # prefix query contributes a prefix term directly
    ex, pre = highlight_terms({"prefix": {"text": "tab"}})
    assert ex == [] and pre == ["tab"]


def test_highlight_prefix_terms(spark):
    from elasticsearch_spark.search.extras import highlight

    df = spark.createDataFrame(
        [(1, "the tables were merged after merging runs")],
        "doc_id long, text string")
    out = highlight(df, ["runs"], prefix_terms=["merg", "table"],
                    n_fragments=3, fragment_size=200).collect()[0]
    frag = out["highlights"][0]
    assert "<em>tables</em>" in frag
    assert "<em>merged</em>" in frag and "<em>merging</em>" in frag
    assert "<em>runs</em>" in frag


# --- plain + fvh highlighter types (round 5) --------------------------


def test_highlight_plain_char_grid_scoring(spark):
    from elasticsearch_spark.search import extras

    # grid of 20-char fragments: frag0 has 1 match, frag2 has 2, frag1
    # none — top-2 by score are frags 2 and 0, emitted in offset order
    text = "table aaaa bbbb cccc" + "z" * 20 + "table dd table eeeee"
    hits = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = extras.highlight_plain(
        hits, ["table"], fragment_size=20, n_fragments=2,
        pre_tag="[", post_tag="]").collect()[0]["highlights"]
    assert out == ["[table] aaaa bbbb cccc", "[table] dd [table] eeeee"]
    # order=score flips them: the 2-match fragment first
    sc = extras.highlight_plain(
        hits, ["table"], fragment_size=20, n_fragments=2,
        pre_tag="[", post_tag="]", order="score").collect()[0]["highlights"]
    assert sc == ["[table] dd [table] eeeee", "[table] aaaa bbbb cccc"]
    # zero-match fragments never appear even with budget to spare
    assert len(extras.highlight_plain(
        hits, ["table"], fragment_size=20,
        n_fragments=5).collect()[0]["highlights"]) == 2


def test_highlight_fvh_phrase_only_and_boundary_snap(spark):
    from elasticsearch_spark.search import extras

    # 'table' alone never highlights — only the whole phrase does; the
    # fragment edge snaps forward through the first boundary char
    text = ("stray table here. more words around the table hash pair "
            "and a tail, trailing junk after")
    hits = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = extras.highlight_fvh(
        hits, [["table", "hash"]], fragment_size=40, n_fragments=2,
        pre_tag="[", post_tag="]").collect()[0]["highlights"]
    assert len(out) == 1
    frag = out[0]
    assert "[table hash]" in frag and "[table]" not in frag.replace(
        "[table hash]", "")
    # lead snapped past 'here.'; trail snapped back to the comma
    assert not frag.startswith("stray") and frag.endswith(",")


def test_highlight_fvh_keeps_edges_without_boundary(spark):
    from elasticsearch_spark.search import extras

    # no boundary chars anywhere -> window edges are kept verbatim
    # (the lazy window starts at the scan position, so the short lead
    # fits entirely inside the half-size budget)
    text = "aaa bbb table hash ccc ddd"
    hits = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = extras.highlight_fvh(
        hits, [["table", "hash"]], fragment_size=20, n_fragments=1,
        pre_tag="[", post_tag="]").collect()[0]["highlights"]
    assert out == ["aaa bbb [table hash] ccc ddd"]


def test_highlight_no_match_size_and_whole_field(spark):
    from elasticsearch_spark.search.extras import highlight

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "nothing relevant here")],
        "doc_id long, text string")
    # no_match_size: non-matching doc gets a leading untagged snippet
    out = {r["doc_id"]: r["highlights"] for r in highlight(
        df, ["beta"], n_fragments=2, fragment_size=20,
        no_match_size=7).collect()}
    assert out[1] and "<em>beta</em>" in out[1][0]
    assert out[2] == ["nothing"]
    # number_of_fragments=0: whole field, every occurrence tagged
    out = {r["doc_id"]: r["highlights"] for r in highlight(
        df, ["alpha", "delta"], n_fragments=0).collect()}
    assert out[1] == ["<em>alpha</em> beta gamma <em>delta</em>"]
    assert out[2] == []


def test_multi_match_phrase_prefix_type(spark):
    """multi_match type=phrase_prefix == best per-field phrase_prefix."""
    import os
    import tempfile

    from elasticsearch_spark.corpus import generate_corpus
    from elasticsearch_spark.index.builder import build_index
    from elasticsearch_spark.search.api import search as api_search
    from elasticsearch_spark.search.executor import phrase_prefix_topk

    corpus = generate_corpus(spark, 150, seed=11).cache()
    out_dir = tempfile.mkdtemp(prefix="mmpp_")
    idx = build_index(
        corpus.withColumn("content2", F.col("content")),
        out_dir, fields={"content": "code", "content2": "code"},
        num_partitions=2, id_cols=["repo", "path", "commit"],
        input_snapshot="mmpp")
    from elasticsearch_spark.index.builder import assign_doc_ids

    docs = assign_doc_ids(corpus, ["repo", "path", "commit"])
    got = api_search(
        idx, docs,
        {"multi_match": {"query": "import re",
                         "fields": ["content", "content2"],
                         "type": "phrase_prefix"}}, k=8).collect()
    # identical duplicated field -> equals single-field phrase_prefix
    want = phrase_prefix_topk(idx, "content", ["import", "re"],
                              k=8).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
        [(r["doc_id"], round(r["score"], 9)) for r in want]
    assert len(got) > 0
