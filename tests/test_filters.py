from elasticsearch_spark.analysis import ANALYZERS, analyze
from elasticsearch_spark.analysis.filters import (
    asciifolding,
    compose,
    edge_ngram_filter,
    length_filter,
    ngram_filter,
    reverse_filter,
    shingle_filter,
    trim_filter,
    truncate_filter,
    unique_filter,
)


def test_ngram():
    t, p = ngram_filter(2, 3)(["abcd"], [0])
    assert t == ["ab", "bc", "cd", "abc", "bcd"]
    assert p == [0] * 5


def test_edge_ngram():
    t, p = edge_ngram_filter(1, 3)(["spark"], [4])
    assert t == ["s", "sp", "spa"]
    assert p == [4, 4, 4]


def test_shingle():
    t, p = shingle_filter(2, 3)(["a", "b", "c"], [0, 1, 2])
    assert t == ["a b", "b c", "a b c"]
    assert p == [0, 1, 0]


def test_asciifolding():
    t, _ = asciifolding(["éclair", "naïve", "東京"], [0, 1, 2])
    assert t == ["eclair", "naive", "東京"]  # unfoldable stays


def test_misc_filters():
    assert trim_filter([" x "], [0])[0] == ["x"]
    assert truncate_filter(2)(["abcdef"], [0])[0] == ["ab"]
    assert unique_filter(["a", "b", "a"], [0, 1, 2]) == (["a", "b"], [0, 1])
    assert length_filter(2, 3)(["a", "ab", "abcd"], [0, 1, 2]) == (["ab"], [1])
    assert reverse_filter(["abc"], [0])[0] == ["cba"]


def test_path_hierarchy_analyzer():
    out = analyze("/src/main/Foo.java", "path_hierarchy")
    assert [t for t, _ in out] == [
        "/src", "/src/main", "/src/main/Foo.java"
    ]
    assert all(p == 0 for _, p in out)


def test_pattern_and_letter():
    assert [t for t, _ in analyze("Foo-Bar_baz 42", "pattern")] == [
        "foo", "bar_baz", "42"
    ]
    assert [t for t, _ in analyze("Foo42bar", "letter")] == ["Foo", "bar"]


def test_registered_composites():
    assert "edge_ngram" in ANALYZERS and "trigram" in ANALYZERS
    t = [x for x, _ in analyze("Hello World", "trigram")]
    assert t == []  # only 2 tokens, trigram shingles need 3
    t2 = [x for x, _ in analyze("a b c d", "trigram")]
    assert t2 == ["a b c", "b c d"]


def test_compose_chain():
    base = ANALYZERS["standard"]
    an = compose(base, edge_ngram_filter(2, 3), unique_filter)
    t, _ = an("spark spark")
    assert t == ["sp", "spa"]


def test_char_filters():
    from elasticsearch_spark.analysis.filters import (
        html_strip_char_filter,
        mapping_char_filter,
        pattern_replace_char_filter,
        with_char_filters,
    )

    base = ANALYZERS["standard"]
    an = with_char_filters(base, mapping_char_filter({"c++": "cplusplus"}))
    assert [t for t, _ in zip(*an("I like c++ a lot"))] == [
        "i", "like", "cplusplus", "a", "lot"
    ]
    an2 = with_char_filters(base, pattern_replace_char_filter(r"\d+", "N"))
    assert [t for t, _ in zip(*an2("x9 y42"))] == ["xn", "yn"]
    an3 = with_char_filters(base, html_strip_char_filter())
    assert [t for t, _ in zip(*an3("<b>bold</b> text"))] == ["bold", "text"]


def test_synonym_filter_expand_set():
    from elasticsearch_spark.analysis.filters import synonym_filter
    from elasticsearch_spark.analysis.analyzers import ANALYZERS

    syn = synonym_filter(["join, merge"])
    t, p = syn(*ANALYZERS["ascii_word"]("hash join and merge sort"))
    # each set member emits ALL members at its own position
    assert list(zip(t, p)) == [
        ("hash", 0), ("join", 1), ("merge", 1), ("and", 2),
        ("join", 3), ("merge", 3), ("sort", 4),
    ]


def test_synonym_filter_contraction_and_noexpand():
    from elasticsearch_spark.analysis.filters import synonym_filter

    syn = synonym_filter(["table => relation"])
    t, p = syn(["scan", "table", "fast"], [0, 1, 2])
    assert list(zip(t, p)) == [("scan", 0), ("relation", 1), ("fast", 2)]

    noexp = synonym_filter(["fast, quick, rapid"], expand=False)
    t, p = noexp(["quick", "rapid", "slow"], [0, 1, 2])
    assert list(zip(t, p)) == [("fast", 0), ("fast", 1), ("slow", 2)]


def test_synonym_filter_multiword_lhs_greedy():
    from elasticsearch_spark.analysis.filters import synonym_filter

    syn = synonym_filter(["machine learning => ml", "machine => device"])
    # longest match wins: "machine learning" -> ml, lone "machine" -> device
    t, p = syn(["machine", "learning", "machine", "shop"], [0, 1, 2, 3])
    assert list(zip(t, p)) == [("ml", 0), ("device", 2), ("shop", 3)]


def test_synonym_multiword_output_rejected():
    import pytest as _pytest

    from elasticsearch_spark.analysis.filters import parse_synonym_rules

    with _pytest.raises(ValueError):
        parse_synonym_rules(["ml => machine learning"])


def test_synonym_index_time_df_and_dl(spark, tmp_path):
    """Index-time synonyms must change df (docs saying only 'join' are
    found by 'merge') and must NOT inflate dl (same-position overlaps
    discounted, Lucene discountOverlaps)."""
    from elasticsearch_spark.index.builder import build_index, load_index
    from elasticsearch_spark.search.executor import match_topk

    docs = spark.createDataFrame(
        [(0, "hash join fast"), (1, "merge sort slow"), (2, "scan only here")],
        "doc_id long, text string",
    )
    idx = build_index(docs, str(tmp_path / "synidx"),
                      fields={"text": "ascii_word_syn"}, num_partitions=2,
                      input_snapshot="t")
    td = {r["term"]: r for r in idx.term_dict.collect()}
    assert td["merge"]["df"] == 2 and td["join"]["df"] == 2
    hits = {r["doc_id"] for r in
            match_topk(idx, "text", ["merge"], k=10).collect()}
    assert hits == {0, 1}
    # dl: 3 position-advancing tokens per doc despite 4 emitted tokens
    cs = idx.coll_stats.collect()[0]
    assert cs["sum_dl"] == 9.0 and cs["sum_ttf"] == 11


def test_keep_and_keep_types():
    from elasticsearch_spark.analysis.filters import (
        keep_filter, keep_types_filter,
    )

    t, p = keep_filter(["scan", "join"])(
        ["hash", "scan", "then", "join"], [0, 1, 2, 3])
    assert list(zip(t, p)) == [("scan", 1), ("join", 3)]

    nums_only = keep_types_filter(["<NUM>"])
    t, p = nums_only(["v2", "42", "beta", "7"], [0, 1, 2, 3])
    assert list(zip(t, p)) == [("42", 1), ("7", 3)]
    no_nums = keep_types_filter(["<NUM>"], mode="exclude")
    t, p = no_nums(["v2", "42", "beta", "7"], [0, 1, 2, 3])
    assert list(zip(t, p)) == [("v2", 0), ("beta", 2)]


def test_pattern_capture():
    from elasticsearch_spark.analysis.filters import pattern_capture_filter

    f = pattern_capture_filter([r"([a-z]+)_([a-z]+)"])
    t, p = f(["snake_case", "plain"], [0, 1])
    # original + each capture group, all at the source position
    assert list(zip(t, p)) == [
        ("snake_case", 0), ("snake", 0), ("case", 0), ("plain", 1)]
    f2 = pattern_capture_filter([r"(\d+)"], preserve_original=False)
    t, p = f2(["v42x7", "none"], [0, 1])
    assert list(zip(t, p)) == [("42", 0), ("7", 0), ("none", 1)]


def test_common_grams_filter():
    from elasticsearch_spark.analysis.filters import common_grams_filter

    f = common_grams_filter(["the", "a"])
    t, p = f(["scan", "the", "table", "fast"], [0, 1, 2, 3])
    # grams at the FIRST word's position (posInc 0)
    assert list(zip(t, p)) == [
        ("scan", 0), ("scan_the", 0), ("the", 1), ("the_table", 1),
        ("table", 2), ("fast", 3)]
    q = common_grams_filter(["the"], query_mode=True)
    t, p = q(["scan", "the", "table"], [0, 1, 2])
    assert list(zip(t, p)) == [
        ("scan", 0), ("scan_the", 0), ("the_table", 1), ("table", 2)]


def test_elision_filter():
    from elasticsearch_spark.analysis.filters import elision_filter

    f = elision_filter()
    t, p = f(["l'avion", "d'eau", "qu'il", "laporte"], [0, 1, 2, 3])
    assert t == ["avion", "eau", "il", "laporte"] and p == [0, 1, 2, 3]


def test_dictionary_decompounder():
    from elasticsearch_spark.analysis.filters import (
        dictionary_decompounder_filter,
    )

    f = dictionary_decompounder_filter(["base", "ball", "foot", "note"])
    t, p = f(["baseball", "footnote", "tiny"], [0, 1, 2])
    # original kept + one subword token per matching start offset (so
    # emission follows offset order, as the Lucene filter scans)
    assert list(zip(t, p)) == [
        ("baseball", 0), ("base", 0), ("ball", 0),
        ("footnote", 1), ("foot", 1), ("note", 1), ("tiny", 2)]
    # a word occurring twice inside one token is emitted once per
    # occurrence (DictionaryCompoundWordTokenFilter emits per offset)
    fd = dictionary_decompounder_filter(["boot"])
    t, p = fd(["bootboot"], [0])
    assert list(zip(t, p)) == [("bootboot", 0), ("boot", 0), ("boot", 0)]
    # min_word_size gates the whole token
    f2 = dictionary_decompounder_filter(["tin"], min_word_size=5)
    t, _ = f2(["tiny"], [0])
    assert t == ["tiny"]
    # only_longest_match: one (longest) hit per start offset
    f3 = dictionary_decompounder_filter(
        ["foot", "foo"], only_longest_match=True)
    t, _ = f3(["footnote"], [0])
    assert t == ["footnote", "foot"]


def test_multiplexer_filter():
    from elasticsearch_spark.analysis.filters import (
        multiplexer_filter, reverse_filter, truncate_filter,
    )

    f = multiplexer_filter(reverse_filter, truncate_filter(3))
    t, p = f(["stream"], [0])
    # original + each branch variant stacked at position 0, deduped
    assert set(zip(t, p)) == {("stream", 0), ("maerts", 0), ("str", 0)}
    # dedup: identity branch collapses into the original
    f2 = multiplexer_filter(truncate_filter(50))
    t, _ = f2(["x"], [0])
    assert t == ["x"]


def test_condition_and_predicate_filters():
    from elasticsearch_spark.analysis.filters import (
        condition_filter, predicate_token_filter, reverse_filter,
    )

    f = condition_filter(lambda t: len(t) > 3, reverse_filter)
    t, p = f(["abc", "abcd"], [0, 1])
    assert list(zip(t, p)) == [("abc", 0), ("dcba", 1)]

    g = predicate_token_filter(lambda t: not t.isdigit())
    t, p = g(["a1", "42", "b"], [0, 1, 2])
    assert list(zip(t, p)) == [("a1", 0), ("b", 2)]


def test_min_hash_filter():
    from elasticsearch_spark.analysis.filters import min_hash_filter

    f = min_hash_filter(hash_count=1, bucket_count=8, hash_set_size=1)
    t1, p1 = f(["alpha", "beta", "gamma"], [1, 2, 3])
    # fixed-width signature: rotation fills all buckets
    assert len(t1) == 8 and p1 == [1] * 8
    assert all(len(x) == 16 for x in t1)
    # deterministic, order-insensitive (set semantics of min-hashing)
    t2, _ = f(["gamma", "alpha", "beta", "alpha"], [1, 2, 3, 4])
    assert t1 == t2
    # similar docs share most buckets, disjoint docs share none
    t3, _ = f(["alpha", "beta", "delta"], [1, 2, 3])
    assert sum(a == b for a, b in zip(t1, t3)) >= 4
    t4, _ = f(["zz1", "zz2", "zz3"], [1, 2, 3])
    assert t1 != t4


def test_min_hash_no_rotation():
    from elasticsearch_spark.analysis.filters import min_hash_filter

    f = min_hash_filter(bucket_count=16, with_rotation=False)
    t, _ = f(["only"], [1])
    assert len(t) == 1  # one token -> one occupied bucket


def test_hyphenation_decompounder():
    from elasticsearch_spark.analysis.filters import (
        hyphenation_decompounder_filter,
    )

    # Liang scoring: odd max digit = break, even overrides odd, "." is
    # the word anchor (patterns inline instead of the reference's
    # external FOP XML grammar)
    f = hyphenation_decompounder_filter(["t1b"], ["soft", "ball"])
    t, p = f(["softball", "tiny"], [0, 1])
    assert list(zip(t, p)) == [
        ("softball", 0), ("soft", 0), ("ball", 0), ("tiny", 1)]
    # anchored even digit suppresses the unanchored odd one at position
    f2 = hyphenation_decompounder_filter(["o1f", ".so2f"], None,
                                         min_subword_size=2)
    t, _ = f2(["sofas"], [0])
    assert t == ["sofas"]  # no break allowed -> only the original
    t, _ = f2(["xsofyz"], [0])
    assert t == ["xsofyz", "xso", "fyz"]
    # no-dictionary mode emits every syllable SPAN within size bounds
    f3 = hyphenation_decompounder_filter(["t1b", "l1b"], None,
                                         min_subword_size=3)
    t, _ = f3(["softballbat"], [0])
    assert t == ["softballbat", "soft", "softball", "ball", "ballbat",
                 "bat"]
    # dictionary check filters spans; only_longest_match keeps the
    # longest dictionary hit per start syllable
    f4 = hyphenation_decompounder_filter(
        ["t1b", "l1b"], ["soft", "softball", "ball"],
        only_longest_match=True)
    t, _ = f4(["softballbat"], [0])
    assert t == ["softballbat", "softball", "ball"]
    # min_word_size gates the whole token
    f5 = hyphenation_decompounder_filter(["i1n"], ["ti"], min_word_size=5)
    t, _ = f5(["tin"], [0])
    assert t == ["tin"]


def test_hyphenation_decompounder_entry_parity():
    """The analyze_hyphen_decompound contract entry re-expresses the
    filter in Catalyst (marker insert -> syllable spans). Assert the
    real filter and the marker/span formulation agree on the corpus
    vocabulary for the entry's pattern set."""
    from elasticsearch_spark.analysis.filters import (
        hyphenation_decompounder_filter,
    )

    hyph_dict = ["cus", "tomer", "vec", "tor", "win", "dow", "fil",
                 "ter"]
    f = hyphenation_decompounder_filter(
        ["1to", "1do", "l1t"], hyph_dict, min_subword_size=3)
    vocab = ["batch", "customer", "column", "filter", "small", "merge",
             "order", "vector", "table", "value", "stream", "window",
             "spark", "group", "query", "tofu", "ltola"]
    for tok in vocab:
        got = f([tok], [0])[0][1:]  # filter output minus the original
        marked = (tok.replace("to", "\x01to").replace("do", "\x01do")
                  .replace("lt", "l\x01t"))
        ss = [s for s in marked.split("\x01") if s]
        spans = ["".join(ss[a:b]) for a in range(len(ss))
                 for b in range(a + 1, len(ss) + 1)]
        want = [w for w in spans
                if w != tok and 3 <= len(w) <= 15 and w in hyph_dict
                and len(tok) >= 5]
        assert sorted(got) == sorted(want), (tok, got, want)


def test_uax_url_email_tokenizer():
    out = analyze(
        "Visit https://spark.apache.org/docs or mail Dev-Help@Example.org"
        " now", "uax_url_email")
    terms = [t for t, _ in out]
    assert "https://spark.apache.org/docs" in terms
    assert "dev-help@example.org" in terms
    assert "visit" in terms and "now" in terms
    # positions are sequential
    assert [p for _, p in out] == list(range(len(out)))


def test_classic_tokenizer():
    out = [t for t, _ in analyze(
        "The U.S.A. loves O'Neill's work at mail.example.com", "classic")]
    assert "usa" in out              # acronym dots stripped
    assert "o'neill" in out          # possessive 's dropped
    assert "mail.example.com" in out  # hostname kept whole
    assert "o'neill's" not in out


def test_char_group_and_simple_pattern_tokenizers():
    from elasticsearch_spark.analysis.filters import (
        char_group_tokenizer,
        simple_pattern_split_tokenizer,
        simple_pattern_tokenizer,
    )

    cg = char_group_tokenizer(["whitespace", "-", "_"])
    assert cg("Foo-bar_baz qux")[0] == ["foo", "bar", "baz", "qux"]
    sp = simple_pattern_tokenizer(r"[0-9]{3}")
    assert sp("ab 1234 cd 567")[0] == ["123", "567"]
    sps = simple_pattern_split_tokenizer(r"::")
    assert sps("A::b::C")[0] == ["a", "b", "c"]


def test_range_date_math_bounds(spark):
    from datetime import datetime

    from pyspark.sql import functions as F

    from elasticsearch_spark.search import datemath
    from elasticsearch_spark.search.dsl import filter_query

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = filter_query(
        ev, {"range": {"ts": {"gte": "2024-01-05||/w",
                              "lte": "2024-01-20||+1w/d"}}}
    ).count()
    want = ev.filter(
        (F.col("ts") >= F.lit(datetime(2024, 1, 1)))
        & (F.col("ts") <= F.lit(datetime(2024, 1, 27, 23, 59, 59, 999000)))
    ).count()
    assert got == want and got > 0
    # `now` anchor with a pinned clock; gt rounds UP (whole day excluded)
    datemath.set_fixed_now(datetime(2024, 1, 10, 12, 0))
    try:
        gt = filter_query(ev, {"range": {"ts": {"gt": "now/d"}}}).count()
        want_gt = ev.filter(
            F.col("ts") > F.lit(datetime(2024, 1, 10, 23, 59, 59, 999000))
        ).count()
        assert gt == want_gt
    finally:
        datemath.set_fixed_now(None)


def test_filter_bool_must_not_keeps_should_required(spark):
    from elasticsearch_spark.search.dsl import compile_filter

    df = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, "fr"), (4, "en")], "doc_id long, lang string")

    def ids(q):
        return sorted(r["doc_id"] for r in df.filter(compile_filter(q)).collect())

    # must_not alone does not make should optional: msm defaults to 1
    assert ids({"bool": {"must_not": [{"term": {"lang": "de"}}],
                         "should": [{"term": {"lang": "en"}}]}}) == [1, 4]
    # a filter clause does
    assert ids({"bool": {"filter": [{"term": {"lang": "fr"}}],
                         "should": [{"term": {"lang": "en"}}]}}) == [3]
