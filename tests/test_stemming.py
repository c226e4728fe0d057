"""Stemming + synonym analysis chain (CommonAnalysisPlugin.java:217,320).

Porter is golden-tested against the 1980 paper's example vectors; the
S-stemmer is tested both in Python and against its generated SQL twin
(the property the english_light oracle relies on); synonym_match_topk
is checked against a hand-computed SynonymQuery score.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from elasticsearch_spark.analysis import analyze
from elasticsearch_spark.analysis.stem import (
    porter_stem,
    s_stem,
    s_stem_sql,
)

PORTER_VECTORS = {
    "caresses": "caress", "ponies": "poni", "ties": "ti", "cats": "cat",
    "feed": "feed", "agreed": "agre", "plastered": "plaster",
    "motoring": "motor", "hopping": "hop", "sized": "size",
    "happy": "happi", "sky": "sky", "relational": "relat",
    "conditional": "condit", "rational": "ration", "digitizer": "digit",
    "operator": "oper", "feudalism": "feudal", "decisiveness": "decis",
    "hopefulness": "hope", "formaliti": "formal", "formative": "form",
    "formalize": "formal", "electriciti": "electr", "electrical": "electr",
    "hopeful": "hope", "goodness": "good", "revival": "reviv",
    "allowance": "allow", "inference": "infer", "adjustable": "adjust",
    "defensible": "defens", "replacement": "replac", "adjustment": "adjust",
    "dependent": "depend", "adoption": "adopt", "communism": "commun",
    "activate": "activ", "effective": "effect", "probate": "probat",
    "rate": "rate", "cease": "ceas", "controll": "control", "roll": "roll",
    "running": "run", "generalization": "gener", "oscillators": "oscil",
}


def test_porter_vectors():
    bad = {
        w: (porter_stem(w), want)
        for w, want in PORTER_VECTORS.items()
        if porter_stem(w) != want
    }
    assert not bad, bad


S_VECTORS = {
    "caresses": "caress", "ponies": "pony", "boxes": "box",
    "churches": "church", "cats": "cat", "glass": "glass", "bus": "bus",
    "crashes": "crash", "files": "file", "tables": "table",
    "queries": "query", "gas": "gas", "sizes": "size", "buses": "bus",
    "makes": "make", "breathes": "breathe", "taxes": "tax",
    "classes": "class", "scanned": "scanned",
}


def test_s_stem_vectors():
    bad = {w: (s_stem(w), want) for w, want in S_VECTORS.items()
           if s_stem(w) != want}
    assert not bad, bad


def test_s_stem_sql_twin_parity():
    words = list(S_VECTORS) + [
        "running", "stopped", "xs", "ss", "a", "es", "ses",
        "indexes", "caches", "entries", "windows", "merges",
    ]
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT t, {s_stem_sql('t')} AS s FROM (SELECT unnest(?) AS t)",
        [words],
    ).fetchall()
    mism = [(w, got, s_stem(w)) for w, got in rows if got != s_stem(w)]
    assert not mism, mism


def test_english_analyzers():
    # stop removal keeps position gaps; stemming applies per token
    toks = analyze("the tables are scanned by the filters", "english_light")
    assert toks == [("table", 1), ("scanned", 3), ("filter", 6)]
    toks = analyze("the tables were scanned", "english")
    assert toks == [("tabl", 1), ("were", 2), ("scan", 3)]


def test_english_index_roundtrip(spark, tmp_path):
    from elasticsearch_spark.index.builder import build_index
    from elasticsearch_spark.search.bm25 import BM25Params
    from elasticsearch_spark.search.executor import match_topk

    docs = spark.createDataFrame(
        [
            (1, "the server indexes documents quickly"),
            (2, "an index of the document"),
            (3, "nothing relevant here at all"),
        ],
        "doc_id long, body string",
    )
    idx = build_index(docs, str(tmp_path / "enidx"),
                      fields={"body": "english"}, num_partitions=1,
                      input_snapshot="v1")
    terms = [t for t, _ in analyze("indexed documents", "english")]
    hits = match_topk(idx, "body", terms, k=3,
                      params=BM25Params(quantize_norms=False)).collect()
    # both docs match on both stems (index/indexes, document/documents);
    # doc 2 is shorter so it wins on dl normalization
    assert sorted(r["doc_id"] for r in hits) == [1, 2]
    assert all(r["matched"] == 2 for r in hits)


def test_synonym_query_scores(spark, tmp_path):
    import numpy as np

    from elasticsearch_spark.index.builder import build_index
    from elasticsearch_spark.search.bm25 import BM25Params
    from elasticsearch_spark.search.executor import (
        synonym_match_topk, synonym_node, tree_topk)

    docs = spark.createDataFrame(
        [
            (1, "fast car"),
            (2, "quick car"),
            (3, "fast quick car"),
            (4, "slow boat"),
        ],
        "doc_id long, body string",
    )
    idx = build_index(docs, str(tmp_path / "synidx"),
                      fields={"body": "ascii_word"}, num_partitions=1,
                      input_snapshot="v1")
    out = synonym_match_topk(
        idx, "body", [["fast", "quick"]], k=4,
        params=BM25Params(quantize_norms=False),
    ).collect()
    got = {r["doc_id"]: r["score"] for r in out}
    assert set(got) == {1, 2, 3}
    # SynonymQuery: df = max(df_fast, df_quick) = 2; doc3 tf = 2
    n, df = 4.0, 2.0
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    avgdl = (2 + 2 + 3 + 2) / 4.0

    def bm25(tf, dl):
        return 2.2 * idf * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    assert math.isclose(got[1], bm25(1, 2), rel_tol=1e-9)
    assert math.isclose(got[3], bm25(2, 3), rel_tol=1e-9)
    assert got[3] > got[1] > 0
    # as a query-tree leaf it scores only the allowed docs, unchanged
    allowed = spark.createDataFrame([(2,), (3,), (4,)], "doc_id long")
    node = synonym_node(idx, "body", [["fast", "quick"]], 1,
                        BM25Params(quantize_norms=False))
    assert {r["doc_id"]: r["score"] for r in tree_topk(
        idx, node, 4, allowed).collect()} == {2: got[2], 3: got[3]}


def test_light_language_analyzers():
    # aggressive sequential cascades (light stemmers over-strip by
    # design); the retrieval-relevant property is CONSISTENCY: the same
    # rules apply at index and query time
    fr = analyze("les chevaux mangent des pommes vertes", "french_light")
    assert [t for t, _ in fr] == ["cheval", "mangent", "pomm", "vert"]
    assert analyze("pomme", "french_light") == analyze("pommes", "french_light")
    de = analyze("die Häuser der Straßen schön", "german_light")
    assert [t for t, _ in de] == ["hau", "stras", "scho"]
    assert analyze("haus", "german_light")[0][0] == \
        analyze("häuser", "german_light")[0][0]


def test_light_language_sql_twin():
    import duckdb

    from elasticsearch_spark.analysis.stem import (
        FRENCH_LIGHT_RULES,
        cascade_sql,
        french_light_stem,
    )

    words = ["chevaux", "pommes", "vertes", "eaux", "journaux",
             "rapidement", "chats", "table", "paris"]
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT t, {cascade_sql(FRENCH_LIGHT_RULES, 't')} AS s "
        "FROM (SELECT unnest(?) AS t)", [words],
    ).fetchall()
    mism = [(w, got, french_light_stem(w)) for w, got in rows
            if got != french_light_stem(w)]
    assert not mism, mism


def test_light_language_sql_twin_german():
    """German's umlaut maps are UNANCHORED — without the 'g' regexp
    option DuckDB replaces only the first occurrence per rule while
    Python re.sub replaces all, so multi-umlaut words diverge."""
    import duckdb

    from elasticsearch_spark.analysis.stem import (
        GERMAN_LIGHT_RULES,
        cascade_sql,
        german_light_stem,
    )

    words = ["überflüssig", "häuser", "straße", "größenänderung",
             "bücherregale", "möglichkeiten", "grün", "schönen"]
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT t, {cascade_sql(GERMAN_LIGHT_RULES, 't')} AS s "
        "FROM (SELECT unnest(?) AS t)", [words],
    ).fetchall()
    mism = [(w, got, german_light_stem(w)) for w, got in rows
            if got != german_light_stem(w)]
    assert not mism, mism


@pytest.mark.parametrize("lang,words", [
    ("spanish", ["canciones", "luces", "gatos", "rapidos", "mesa",
                 "cancion", "grandes", "filtros"]),
    ("italian", ["stazioni", "gatti", "veloce", "tavola", "grandi",
                 "colonne", "libri"]),
    ("portuguese", ["aviões", "coções", "rapidos", "mesas", "grande",
                    "colunas", "livros"]),
    ("dutch", ["mogelijkheden", "huisje", "boeken", "tafels", "kolommen",
               "snelle"]),
])
def test_new_light_language_sql_twins(lang, words):
    """Python cascade == DuckDB cascade_sql for every new language
    (accented inputs exercise the global-replace option)."""
    import duckdb

    from elasticsearch_spark.analysis import stem as S

    rules = getattr(S, f"{lang.upper()}_LIGHT_RULES")
    py_stem = getattr(S, f"{lang}_light_stem")
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT t, {S.cascade_sql(rules, 't')} AS s "
        "FROM (SELECT unnest(?) AS t)", [words],
    ).fetchall()
    mism = [(w, got, py_stem(w)) for w, got in rows if got != py_stem(w)]
    assert not mism, mism


def test_new_language_analyzers_registered():
    from elasticsearch_spark.analysis.analyzers import (
        ANALYZERS, FLAT_ANALYZERS, analyze,
    )

    for name in ["spanish_light", "italian_light", "portuguese_light",
                 "dutch_light"]:
        assert name in ANALYZERS and name in FLAT_ANALYZERS
    # stopword removal + stemming end-to-end (positions keep stop gaps)
    assert analyze("los gatos y las mesas", "spanish_light") == \
        [("gat", 1), ("mes", 4)]
    assert analyze("gato", "spanish_light") == analyze(
        "gatos", "spanish_light")
    assert analyze("de boeken en tafels", "dutch_light") == \
        [("boek", 1), ("tafel", 3)]
    assert analyze("kolommen", "dutch_light") == [("kolom", 0)]


@pytest.mark.parametrize("lang,words", [
    ("swedish", ["flickorna", "bilarna", "husen", "böcker", "springande",
                 "stora", "snabbt"]),
    ("norwegian", ["guttene", "bilene", "bøkene", "løpende", "store",
                   "husets"]),
    ("danish", ["pigerne", "bilerne", "bøgerne", "løbende", "hurtigste",
                "huset"]),
    ("finnish", ["taloissa", "autolla", "kirjasta", "kaupungille",
                 "tyttöjen", "nopeasti"]),
    ("russian", ["книгами", "столов", "быстрый", "хорошее", "домах",
                 "окнами", "синяя"]),
])
def test_nordic_fi_ru_sql_twins(lang, words):
    """Python cascade == DuckDB cascade_sql for the sv/no/da/fi/ru tier
    (non-ASCII suffix alternations exercise multibyte regex parity)."""
    import duckdb

    from elasticsearch_spark.analysis import stem as S

    rules = getattr(S, f"{lang.upper()}_LIGHT_RULES")
    py_stem = getattr(S, f"{lang}_light_stem")
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT t, {S.cascade_sql(rules, 't')} AS s "
        "FROM (SELECT unnest(?) AS t)", [words],
    ).fetchall()
    mism = [(w, got, py_stem(w)) for w, got in rows if got != py_stem(w)]
    assert not mism, mism


def test_nordic_fi_ru_analyzers_registered():
    from elasticsearch_spark.analysis.analyzers import (
        ANALYZERS, FLAT_ANALYZERS,
    )

    for name in ["swedish_light", "norwegian_light", "danish_light",
                 "finnish_light", "russian_light"]:
        assert name in ANALYZERS and name in FLAT_ANALYZERS
    # singular and plural meet at the same stem
    assert analyze("bilarna", "swedish_light") == \
        analyze("bilar", "swedish_light")
    # russian: cyrillic tokens survive the standard tokenizer and stem
    assert analyze("книгами", "russian_light") == \
        analyze("книга", "russian_light")


def test_nordic_stopwords_native_diacritic_form():
    # the standard tokenizer keeps diacritics and stop-removal runs
    # before any stemmer folding, so the lists must be native-form
    # (Lucene snowball stopword files) to actually remove real tokens
    def toks(text, name):
        return [t for t, _ in analyze(text, name)]

    assert toks("på är för bil", "swedish_light") == ["bil"]
    assert toks("så på nå bil", "norwegian_light") == ["bil"]
    assert toks("på så auto", "danish_light") == ["auto"]
    assert toks("että hän tämä auto", "finnish_light") == ["auto"]


@pytest.mark.parametrize("lang,words", [
    ("arabic", ["والكتاب", "المكتبة", "كتابها", "مدرسون", "بالبيت",
                "وقالت", "معلمين"]),
    ("turkish", ["kitaplardan", "evlerin", "arabalar", "okulda",
                 "sularını", "gözlerinden"]),
    ("greek", ["μηχανές", "αναζητήσεις", "βιβλίου", "προγράμματα",
               "γλώσσας", "συστήματος"]),
    ("czech", ["databázích", "tabulkách", "systémem", "programové",
               "knihami", "městech"]),
    ("romanian", ["tabelele", "coloanelor", "sistemului", "cărțile",
                  "programele", "limbajul"]),
])
def test_r4_language_sql_twins(lang, words):
    """Python cascade == DuckDB cascade_sql for the ar/tr/el/cs/ro tier
    (RTL script, agglutinative stacks, Greek sigma, cedilla variants)."""
    import duckdb

    from elasticsearch_spark.analysis import stem as S

    rules = getattr(S, f"{lang.upper()}_LIGHT_RULES")
    py_stem = getattr(S, f"{lang}_light_stem")
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT t, {S.cascade_sql(rules, 't')} AS s "
        "FROM (SELECT unnest(?) AS t)", [words],
    ).fetchall()
    mism = [(w, got, py_stem(w)) for w, got in rows if got != py_stem(w)]
    assert not mism, mism


def test_r4_language_analyzers_registered():
    from elasticsearch_spark.analysis.analyzers import (
        ANALYZERS, FLAT_ANALYZERS,
    )

    for name in ["arabic_light", "turkish_light", "greek_light",
                 "czech_light", "romanian_light", "cjk"]:
        assert name in ANALYZERS and name in FLAT_ANALYZERS
    # consistency: inflected and base forms meet at one stem
    assert analyze("kitaplardan", "turkish_light") == \
        analyze("kitap", "turkish_light")
    assert [t for t, _ in analyze("والكتاب في المكتبة", "arabic_light")] \
        == ["كتاب", "مكتب"]


def test_cjk_bigram_analyzer():
    toks = analyze("検索エンジン", "cjk")
    assert toks == [("検索", 0), ("索エ", 1), ("エン", 2), ("ンジ", 3),
                    ("ジン", 4)]
    # lone ideogram stays a unigram; latin passes through; english
    # stopwords removed with position increments preserved
    assert analyze("索 the index", "cjk") == [("索", 0), ("index", 2)]
    # mixed-script token: segments bigram independently
    assert [t for t, _ in analyze("漢字abc定", "cjk")] == \
        ["漢字", "abc", "定"]
    # han + kana bigram across adjacent runs within each run only
    assert [t for t, _ in analyze("한국어 데이터", "cjk")] == \
        ["한국", "국어", "데이", "이터"]


def test_cjk_flat_parity():
    import pandas as pd

    from elasticsearch_spark.analysis.analyzers import (
        FLAT_ANALYZERS, _analyze_cjk,
    )

    texts = pd.Series([
        "検索エンジンの仕組み", "plain ascii text", "", "한국어 데이터 処理",
        "the 索引 and 検索 system", "漢 字 漢字漢字漢字",
    ])
    d, c, u, p = FLAT_ANALYZERS["cjk"](texts)
    got = {}
    for di, ci, pi in zip(d, c, p):
        got.setdefault(int(di), []).append((u[ci], int(pi)))
    for i, text in enumerate(texts):
        expect = [(t, pos) for t, pos in
                  zip(*_analyze_cjk(text))] if text else []
        assert got.get(i, []) == expect, (i, text, got.get(i), expect)


@pytest.mark.parametrize("lang,words", [
    ("hungarian", ["asztalokat", "székeknek", "házban", "könyvek",
                   "emberek", "gyorsan"]),
    ("bulgarian", ["книгите", "столовете", "хубавият", "жените",
                   "градове"]),
    ("hindi", ["किताबों", "लड़कियों", "अच्छाइयों", "जाने", "करता"]),
    ("persian", ["کتاب‌ها", "بهترین", "خانه‌هایی", "بزرگتر"]),
    ("indonesian", ["menggunakan", "bukunya", "memberikan", "perbaikan",
                    "belajar"]),
])
def test_r4b_language_sql_twins(lang, words):
    """Python cascade == DuckDB cascade_sql for the hu/bg/hi/fa/id tier
    (Devanagari matras, ZWNJ, Cyrillic articles, agglutinative cases)."""
    import duckdb

    from elasticsearch_spark.analysis import stem as S

    rules = getattr(S, f"{lang.upper()}_LIGHT_RULES")
    py_stem = getattr(S, f"{lang}_light_stem")
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT t, {S.cascade_sql(rules, 't')} AS s "
        "FROM (SELECT unnest(?) AS t)", [words],
    ).fetchall()
    mism = [(w, got, py_stem(w)) for w, got in rows if got != py_stem(w)]
    assert not mism, mism


def test_r4b_language_analyzers_registered():
    from elasticsearch_spark.analysis.analyzers import (
        ANALYZERS, FLAT_ANALYZERS,
    )

    for name in ["hungarian_light", "bulgarian_light", "hindi_light",
                 "persian_light", "indonesian_light", "deva_word"]:
        assert name in ANALYZERS and name in FLAT_ANALYZERS
    # Devanagari base keeps matras inside tokens; singular == plural
    assert analyze("लड़का", "hindi_light") == analyze("लड़के", "hindi_light")
    assert [t for t, _ in analyze("az asztalokat és", "hungarian_light")] \
        == ["asztal"]
    assert [t for t, _ in analyze("menggunakan bukunya", "indonesian_light")] \
        == ["guna", "buku"]


def test_deva_word_flat_parity():
    import pandas as pd

    from elasticsearch_spark.analysis.analyzers import (
        FLAT_ANALYZERS, _analyze_deva_word,
    )

    texts = pd.Series(["किताबों और लड़कियों", "mixed हिंदी latin", ""])
    d, c, u, p = FLAT_ANALYZERS["deva_word"](texts)
    got = {}
    for di, ci, pi in zip(d, c, p):
        got.setdefault(int(di), []).append((u[ci], int(pi)))
    for i, text in enumerate(texts):
        expect = list(zip(*_analyze_deva_word(text))) if text else []
        assert got.get(i, []) == expect, (i, got.get(i), expect)


@pytest.mark.parametrize("lang,words", [
    ("brazilian", ["aviões", "brasileiro", "nações", "rapidamente",
                   "casas"]),
    ("catalan", ["nacions", "biblioteques", "cases", "catalans",
                 "història"]),
    ("galician", ["nacións", "cans", "primeiro", "libros", "galegas"]),
    ("basque", ["etxeetako", "mendietan", "liburuak", "gizonaren",
                "herriak"]),
    ("irish", ["bhfuinneog", "n-athair", "scoileanna", "leabhair",
               "hoifige"]),
    ("estonian", ["raamatutele", "linnades", "majast", "lapsed",
                  "koolidesse"]),
    ("latvian", ["grāmatas", "pilsētām", "bērniem", "skolas",
                 "lielajiem"]),
    ("lithuanian", ["knygos", "miestuose", "vaikams", "mokyklose",
                    "namais"]),
    ("armenian", ["գրքերը", "տներում", "ուսանողների", "ազատություն",
                  "մարդկանց"]),
    ("sorani", ["کتێبەکان", "ماڵەکەی", "منداڵان", "شارەوە", "کوردی"]),
    ("bengali", ["বইগুলো", "ছেলেদের", "বাড়িতে", "মানুষের", "শহরটা"]),
])
def test_final_tier_language_sql_twins(lang, words):
    """Python cascade == DuckDB cascade_sql for the final analyzer tier
    (Irish mutations, Basque/Estonian case stacks, Sorani normalization,
    Bengali classifiers, Armenian plurals)."""
    import duckdb

    from elasticsearch_spark.analysis import stem as S

    rules = getattr(S, f"{lang.upper()}_LIGHT_RULES")
    py_stem = getattr(S, f"{lang}_light_stem")
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT t, {S.cascade_sql(rules, 't')} AS s "
        "FROM (SELECT unnest(?) AS t)", [words],
    ).fetchall()
    mism = [(w, got, py_stem(w)) for w, got in rows if got != py_stem(w)]
    assert not mism, mism


def test_final_tier_language_analyzers_registered():
    from elasticsearch_spark.analysis.analyzers import (
        ANALYZERS, FLAT_ANALYZERS,
    )

    for name in ["brazilian_light", "catalan_light", "galician_light",
                 "basque_light", "irish_light", "estonian_light",
                 "latvian_light", "lithuanian_light", "armenian_light",
                 "sorani_light", "bengali_light", "beng_word", "thai"]:
        assert name in ANALYZERS and name in FLAT_ANALYZERS
    # singular/plural meet at the stem; native-form stopwords removed
    assert [t for t, _ in analyze("os aviões", "brazilian_light")] \
        == ["avia"]
    assert analyze("avião", "brazilian_light")[0][0] == "avia"
    assert [t for t, _ in analyze("i les nacions", "catalan_light")] \
        == ["nacion"]
    # Irish eclipsis (bhfuinneog -> fuinneog family stem)
    assert [t for t, _ in analyze("bhfuinneog", "irish_light")] \
        == ["uinneog"]
    # Bengali base keeps matras; plural classifier strips
    assert analyze("বই", "bengali_light") == [("বই", 0)]
    assert analyze("বইগুলো", "bengali_light") == [("বই", 0)]


def test_thai_analyzer():
    # cluster bigrams: แมวน้ำ -> แม มว วน้ น้ำ (combining marks stay
    # glued to their base consonant)
    assert analyze("แมวน้ำ", "thai") == [("แม", 0), ("มว", 1),
                                         ("วน้", 2), ("น้ำ", 3)]
    # stopword run dropped with ONE position increment; latin passes
    # through with english stop removal
    assert analyze("และ แมว the cat", "thai") == [("แม", 1), ("มว", 2),
                                                  ("cat", 4)]
    # lone cluster stays a unigram
    assert [t for t, _ in analyze("ดี", "thai")] == ["ดี"]


def test_thai_flat_parity():
    import pandas as pd

    from elasticsearch_spark.analysis.analyzers import (
        FLAT_ANALYZERS, _analyze_thai,
    )

    texts = pd.Series(["และ แมว the cat", "แมวน้ำ", "", "plain text",
                       "การค้นหาข้อมูล mixed ไทย"])
    d, c, u, p = FLAT_ANALYZERS["thai"](texts)
    got = {}
    for di, ci, pi in zip(d, c, p):
        got.setdefault(int(di), []).append((u[ci], int(pi)))
    for i, text in enumerate(texts):
        expect = list(zip(*_analyze_thai(text))) if text else []
        assert got.get(i, []) == expect, (i, text, got.get(i), expect)


def test_thai_dict_analyzer():
    # greedy longest match against the embedded lexicon
    assert analyze("แมวน้ำ", "thai_dict") == [("แมว", 0), ("น้ำ", 1)]
    assert analyze("ระบบค้นหา", "thai_dict") == [("ระบบ", 0), ("ค้นหา", 1)]
    assert analyze("ประมวลผล", "thai_dict") == [("ประมวล", 0), ("ผล", 1)]
    # stopword SEGMENT drops but advances: การค้นหา -> [การ|ค้นหา],
    # การ is a Thai stopword so ค้นหา lands at position 1
    assert analyze("การค้นหา ข้อมูล", "thai_dict") == [
        ("ค้นหา", 1), ("ข้อมูล", 2)]
    # OOV span falls back to grapheme-cluster unigrams
    assert analyze("ฬุฬ", "thai_dict") == [("ฬุ", 0), ("ฬ", 1)]
    # a dict match never ends immediately before a combining mark
    # (น้ำ must not match bare น with the ้ orphaned)
    assert analyze("น้ำ", "thai_dict") == [("น้ำ", 0)]
    # latin passes through with english stop removal, position gaps kept
    assert analyze("แมว the cat", "thai_dict") == [("แมว", 0), ("cat", 2)]


def test_thai_dict_flat_parity():
    import pandas as pd

    from elasticsearch_spark.analysis.analyzers import (
        FLAT_ANALYZERS, _analyze_thai_dict,
    )

    texts = pd.Series(["การค้นหา ข้อมูล", "แมวน้ำ ประมวลผล", "",
                       "plain text", "ฬุฬ mixed ไทย", "และ ที่ ของ"])
    d, c, u, p = FLAT_ANALYZERS["thai_dict"](texts)
    got = {}
    for di, ci, pi in zip(d, c, p):
        got.setdefault(int(di), []).append((u[ci], int(pi)))
    for i, text in enumerate(texts):
        expect = list(zip(*_analyze_thai_dict(text))) if text else []
        assert got.get(i, []) == expect, (i, text, got.get(i), expect)


def test_beng_word_flat_parity():
    import pandas as pd

    from elasticsearch_spark.analysis.analyzers import (
        FLAT_ANALYZERS, _analyze_beng_word,
    )

    texts = pd.Series(["বই বইগুলো এবং", "mixed বাংলা latin", ""])
    d, c, u, p = FLAT_ANALYZERS["beng_word"](texts)
    got = {}
    for di, ci, pi in zip(d, c, p):
        got.setdefault(int(di), []).append((u[ci], int(pi)))
    for i, text in enumerate(texts):
        expect = list(zip(*_analyze_beng_word(text))) if text else []
        assert got.get(i, []) == expect, (i, text, got.get(i), expect)
