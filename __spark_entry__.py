"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-
insensitive value-hash -> CORRECTNESS_r{N}.json).

Conventions used throughout so Spark and DuckDB hash-match:
  - every computed column is aliased identically on both sides;
  - floating-point aggregates are rounded to 4-6 decimals on both
    sides (both engines compute in float64 with the same formula);
  - full-text queries use the engine's inverted index with the
    ``ascii_word`` analyzer + exact-dl BM25 (quantize_norms=False),
    whose SQL twin is regexp_extract_all(lower(text),'[a-z0-9_]+') —
    Lucene-parity quantized scoring is gated separately in tests/
    (pure-Python oracle), since 1-byte SmallFloat norms are not
    reasonably expressible in ANSI SQL.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_spark.aggs import aggregate, pipeline_agg
from elasticsearch_spark.aggs.translate import top_hits
from elasticsearch_spark.analysis import analyze
from elasticsearch_spark.index.builder import InvertedIndex, build_index, load_index
from elasticsearch_spark.ops import dedup, similarity, text as text_ops
from elasticsearch_spark.oracle.sql_oracle import (
    bm25_ctes, bm25_topk_sql, phrase_topk_sql,
)
from elasticsearch_spark.search.api import search
from elasticsearch_spark.search.bm25 import BM25Params
from elasticsearch_spark.search.dsl import filter_query
from elasticsearch_spark.search.executor import match_topk

_SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scratch")
_EXACT = BM25Params(quantize_norms=False)
_INDEX_PARTS = 8


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# Deterministic non-Latin columns for the CJK / Arabic analyzer oracle
# entries: both engines pick the same words from constant lists by
# doc_id arithmetic, so the analyzed field is bit-identical without any
# external data.
CJK_WORDS_A = ["検索エンジン", "索引データ", "分散処理", "全文検索"]
CJK_WORDS_B = ["システム", "クエリ", "処理速度"]
AR_WORDS_A = ["والكتاب", "الكتاب", "كتابها", "مكتبة"]
AR_WORDS_B = ["المدرسة", "مدرسون", "معلمين", "قالت"]
HI_WORDS_A = ["किताबों", "किताब", "लड़कियों", "लड़का"]
HI_WORDS_B = ["जाने", "करता", "अच्छा"]
BN_WORDS_A = ["বইগুলো", "বই", "ছেলেদের", "ছেলে"]
BN_WORDS_B = ["মানুষের", "শহরটা", "এখন"]
TH_WORDS_A = ["การค้นหา", "ข้อมูล", "ระบบค้นหา", "เอกสาร"]
TH_WORDS_B = ["แมวน้ำ", "รวดเร็ว", "ประมวลผล"]


def _synth_words_col(words_a: list[str], words_b: list[str]):
    a = F.element_at(F.array(*[F.lit(w) for w in words_a]),
                     F.pmod(F.col("doc_id"), F.lit(len(words_a)))
                     .cast("int") + 1)
    b = F.element_at(F.array(*[F.lit(w) for w in words_b]),
                     F.pmod(F.col("doc_id"), F.lit(len(words_b)))
                     .cast("int") + 1)
    return F.concat(a, F.lit(" "), b)


def _synth_words_sql(words_a: list[str], words_b: list[str]) -> str:
    la = ", ".join(f"'{w}'" for w in words_a)
    lb = ", ".join(f"'{w}'" for w in words_b)
    return (f"(([{la}])[CAST(doc_id % {len(words_a)} AS INT) + 1]"
            f" || ' ' || ([{lb}])[CAST(doc_id % {len(words_b)} AS INT) + 1])")


_INDEX_CACHE: dict[str, InvertedIndex] = {}


def _doc_index(spark: SparkSession, sf_dir: str) -> InvertedIndex:
    """Inverted index over documents.text, built once per sf_dir."""
    key = os.path.abspath(sf_dir)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    tag = key.strip("/").replace("/", "_")
    path = os.path.join(_SCRATCH, f"docindex_{tag}_v14")
    if not os.path.exists(os.path.join(path, "index_meta.json")):
        docs = _t(spark, sf_dir, "documents")
        build_index(
            docs.select("doc_id", "text", "source")
            .withColumn("text_en", F.col("text"))
            .withColumn("text_syn", F.col("text"))
            .withColumn("text_es", F.col("text"))
            .withColumn("text_grams", F.col("text"))
            .withColumn("text_cjk", _synth_words_col(CJK_WORDS_A, CJK_WORDS_B))
            .withColumn("text_ar", _synth_words_col(AR_WORDS_A, AR_WORDS_B))
            .withColumn("text_hi", _synth_words_col(HI_WORDS_A, HI_WORDS_B))
            .withColumn("text_bn", _synth_words_col(BN_WORDS_A, BN_WORDS_B))
            .withColumn("text_th", _synth_words_col(TH_WORDS_A, TH_WORDS_B)),
            path,
            fields={
                "text": "ascii_word",
                "source": "ascii_word",
                # copy_to target: text + source re-parsed as one field
                # with its own postings/df/norms (FieldMapper.CopyTo)
                "all_text": "ascii_word",
                # stop-filtered + S-stemmed English field (exact SQL twin)
                "text_en": "english_light",
                # index-time synonym expansion (df/cf/norms reflect it)
                "text_syn": "ascii_word_syn",
                # Spanish light analyzer (oracle-checked language rep)
                "text_es": "spanish_light",
                # common_grams filter ("the"/"a" bigrams at posInc 0)
                "text_grams": "ascii_word_grams",
                # CJK bigram analyzer over a deterministic CJK column
                "text_cjk": "cjk",
                # Arabic light analyzer (RTL, prefix+suffix strip)
                "text_ar": "arabic_light",
                # Hindi light analyzer (deva_word base keeps matras)
                "text_hi": "hindi_light",
                # Bengali light analyzer (beng_word base)
                "text_bn": "bengali_light",
                # Thai cluster-bigram analyzer
                "text_th": "thai",
            },
            num_partitions=_INDEX_PARTS,
            input_snapshot=key,
            store_doc_lengths=True,
            copy_to={"all_text": ["text", "source"]},
        )
    _INDEX_CACHE[key] = load_index(spark, path).cache()
    return _INDEX_CACHE[key]


def _bm25(
    spark: SparkSession,
    sf_dir: str,
    text: str,
    k: int = 10,
    operator: str = "or",
    msm: int = 1,
) -> DataFrame:
    idx = _doc_index(spark, sf_dir)
    terms = [t for t, _ in analyze(text, "ascii_word")]
    out = match_topk(
        idx, "text", terms, k=k, operator=operator,
        minimum_should_match=msm, params=_EXACT,
    )
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _bm25_oracle(text: str, k: int = 10, operator: str = "or", msm: int = 1) -> str:
    terms = [t for t, _ in analyze(text, "ascii_word")]
    return bm25_topk_sql(terms, k=k, operator=operator, minimum_should_match=msm)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 match top-10 over sf0.001 documents."""
    return _bm25(spark, "/root/testdata/sf0.001", "spark query data", k=10)


# ---------------------------------------------------------------------
# queries / oracles (SURVEY.md §2 inventory)
# ---------------------------------------------------------------------

GEO_PENTAGON = [(0.0, -60.0), (45.0, -20.0), (30.0, 40.0),
                (-25.0, 55.0), (-45.0, -15.0)]

# geo_shape constants (WKT order is lon lat): the pentagon above as an
# outer ring plus a triangular hole; a dateline-crossing envelope
GEO_SHAPE_WKT = (
    "POLYGON ((-60 0, -20 45, 40 30, 55 -25, -15 -45, -60 0), "
    "(-20 0, 10 20, 20 -10, -20 0))"
)
GEO_SHAPE_ENVELOPE = "ENVELOPE (150, -120, 60, -20)"

# cartesian shape query (x-pack spatial): planar polygon with a hole,
# vertices far outside geographic range to prove no lat/lon clamping
XY_SHAPE_WKT = (
    "POLYGON ((-600 -400, 700 -350, 250 500, -500 450, -600 -400), "
    "(-100 -50, 150 0, 0 200, -100 -50))"
)
# small planar envelope the doc shape must fully CONTAIN
XY_DOC_QUERY = "ENVELOPE (3.5, 7.5, 6.5, 2.5)"

# sparse_vector query (dim -> weight) and the wildcard-field pattern:
# shared constants so the Spark query and the SQL twin can't drift
SPARSE_QUERY = {0: 1.0, 5: 0.5, 10: 0.25, 20: 1.5}
WILDCARD_PATTERN = "src1*-e?-1*"

# ES SQL statement shared by the Spark endpoint and the DuckDB oracle
# (the dialect overlap the reference's x-pack sql plugin supports)
ESSQL_STATEMENT = (
    "SELECT lang, source, count(*) AS n, round(avg(n_chars), 3) AS avg_c, "
    "max(n_chars) AS max_c FROM documents WHERE n_chars >= 100 "
    "GROUP BY lang, source HAVING count(*) > 1 ORDER BY lang, source"
)

# ES SQL fulltext statements (MATCH/QUERY predicates + SCORE(), per
# x-pack/plugin/sql/.../predicate/fulltext/ and Score.java) — shared
# constants so the Spark rewrite and the bm25_ctes oracle can't drift
ESSQL_FT_MATCH = (
    "SELECT d.doc_id, round(SCORE(), 4) AS score, d.lang FROM documents d "
    "WHERE MATCH(text, 'spark query data') AND d.lang = 'en' "
    "ORDER BY SCORE() DESC, d.doc_id ASC LIMIT 10"
)
ESSQL_FT_MULTI = (
    "SELECT d.doc_id, round(SCORE(), 4) AS score FROM documents d "
    "WHERE MATCH(text, 'spark query', 'operator=and') "
    "AND MATCH(source, 'src5') "
    "ORDER BY SCORE() DESC, d.doc_id ASC LIMIT 10"
)
ESSQL_FT_QUERY = (
    "SELECT d.doc_id, round(SCORE(), 4) AS score FROM documents d "
    "WHERE QUERY('spark AND data') "
    "ORDER BY SCORE() DESC, d.doc_id ASC LIMIT 10"
)
# OR / NOT fulltext combinations take the bool-tree plan (left-join
# flag frame; QueryTranslator folds these into the query DSL tree)
ESSQL_FT_OR = (
    "SELECT d.doc_id, round(SCORE(), 4) AS score FROM documents d "
    "WHERE (MATCH(text, 'spark query', 'operator=and') "
    "OR MATCH(source, 'src5')) AND d.lang = 'en' "
    "ORDER BY SCORE() DESC, d.doc_id ASC LIMIT 10"
)
ESSQL_HIST = (
    "SELECT HISTOGRAM(ts, INTERVAL 1 DAY) AS day, "
    "HISTOGRAM(value, 50) AS bin, count(*) AS n "
    "FROM events GROUP BY day, bin ORDER BY day, bin"
)
# ES-SQL PIVOT (x-pack/plugin/sql/.../plan/logical/Pivot.java,
# grammar in pivot.csv-spec): Spark SQL shares the clause syntax, so
# the statement runs through essql() untouched — Catalyst plans it as
# a single partial/final pivot aggregation (no driver hop).
ESSQL_PIVOT = (
    "SELECT month, round(click, 4) AS click, round(view, 4) AS view, "
    "round(purchase, 4) AS purchase FROM "
    "(SELECT date_trunc('DAY', ts) AS month, event_type, value "
    "FROM events) PIVOT (SUM(value) FOR event_type IN "
    "('click' AS click, 'view' AS view, 'purchase' AS purchase)) "
    "ORDER BY month"
)
ESSQL_FT_NOT = (
    "SELECT d.doc_id, round(SCORE(), 4) AS score FROM documents d "
    "WHERE MATCH(text, 'spark data', 'operator=and') "
    "AND NOT MATCH(source, 'src5') "
    "ORDER BY SCORE() DESC, d.doc_id ASC LIMIT 10"
)

# EQL text statements shared by the parser path and the SQL oracles
EQL_TEXT_SEQ = (
    'sequence by user_id with maxspan=86400s '
    '[ any where event_type == "click" and value >= 50 ] '
    '[ any where event_type == "purchase" ] | head 20'
)
EQL_TEXT_JOIN = (
    'join by user_id '
    '[ any where event_type == "click" and value >= 120 ] '
    '[ any where event_type == "error" ] '
    'until [ any where event_type == "signup" ]'
)

EQL_TEXT_SAMPLE = (
    'sample by user_id '
    '[ purchase where value >= 150 ] '
    '[ signup where true ]'
)

# user_agent processor fixtures: both engines pick the same UA string
# by doc_id arithmetic and run the identical RE2-safe pattern chain
UA_STRINGS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/119.0",
    "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) "
    "Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_5 like Mac OS X) "
    "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.5 Mobile/15E148 "
    "Safari/604.1",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
]

# inference-model fixture: 64 deterministic regression weights shared
# by the Spark registration and the DuckDB dot-product twin
INFER_W = [((i * 7) % 13 - 6) / 10.0 for i in range(64)]

# stored percolator queries (PercolateQueryBuilder.java:83): decomposed
# into requirement rows on both engines — see search/percolate.py
UAX_TEXT = ("Visit https://spark.apache.org/docs/latest or email "
            "dev-help@example.org then see www.example.com/a_b and "
            "plain words")

ANALYZE_TEXT = ("The tables were scanned and the queries re-filtered "
                "for merges")

PERCOLATE_STORED = [
    (1, {"match": {"text": "table scan"}}),
    (2, {"match": {"text": {"query": "window merge filter",
                            "operator": "and"}}}),
    (3, {"term": {"lang": "en"}}),
    (4, {"bool": {"must": [
        {"term": {"source": "src3"}},
        {"range": {"n_chars": {"gte": 200, "lt": 500}}}]}}),
    (5, {"terms": {"lang": ["fr", "de"]}}),
    (6, {"bool": {"must": [
        {"match": {"text": {"query": "query index batch",
                            "minimum_should_match": 2}}},
        {"range": {"n_chars": {"gt": 100}}}]}}),
    # round-4 percolator growth: pattern groups + should-with-msm
    (7, {"prefix": {"text": "tabl"}}),
    (8, {"wildcard": {"text": "sc?n"}}),
    (9, {"bool": {
        "should": [{"term": {"lang": "en"}},
                   {"prefix": {"text": "merg"}},
                   {"terms": {"lang": ["fr", "de"]}}],
        "minimum_should_match": 2}}),
    # round-4 continuation: phrase groups (slop=0 position check)
    (10, {"match_phrase": {"text": "table scan"}}),
    (11, {"bool": {"must": [
        {"match_phrase": {"text": "the index"}},
        {"term": {"lang": "en"}}]}}),
    # round-5: must_not -> complemented requirement groups (doc matches
    # iff must-coverage AND NOT must_not-coverage)
    (12, {"bool": {"must": [{"term": {"lang": "en"}}],
                   "must_not": [{"match": {"text": "error"}}]}}),
    (13, {"bool": {"must": [{"prefix": {"text": "tabl"}}],
                   "must_not": [{"term": {"source": "src3"}},
                                {"range": {"n_chars": {"lt": 150}}}]}}),
    # round-5 growth: exists (dual pattern/range path) + geo bounding
    # boxes as range groups (lat group + one- or two-leg lon group)
    (14, {"exists": {"field": "opt_tag"}}),
    (15, {"bool": {"must": [
        {"geo_bounding_box": {"loc": {
            "top_left": {"lat": 40.0, "lon": -100.0},
            "bottom_right": {"lat": -40.0, "lon": 60.0}}}},
        {"term": {"lang": "en"}}]}}),
    (16, {"geo_bounding_box": {"loc": {"top_left": (70.0, 150.0),
                                       "bottom_right": (-70.0, -150.0)}}}),
]

# stored queries OUTSIDE the requirement-decomposable subset — routed
# through the universal verify path (candidate pruning + compiled
# per-query verification; search/percolate.py percolate_verified,
# reference PercolateQuery's candidate/verify two-phase weight)
PERCOLATE_NESTED_STORED = [
    (1, {"nested": {"path": "orders", "query": {"bool": {"must": [
        {"term": {"orders.status": "F"}},
        {"range": {"orders.total": {"gte": 250000.0}}}]}}}}),
    (2, {"bool": {"must": [{"term": {"segment": "building"}}],
                  "must_not": [{"nested": {"path": "orders", "query":
                                {"term": {"orders.priority":
                                          "1-urgent"}}}}]}}),
    (3, {"bool": {"must": [
        {"range": {"bal": {"gte": 9000.0}}},
        {"nested": {"path": "orders", "query": {"bool": {"must": [
            {"term": {"orders.priority": "5-low"}},
            {"range": {"orders.total": {"lt": 50000.0}}}]}}}}]}}),
]

PERCOLATE_VERIFY_STORED = [
    # pure-negative: extraction fails -> verify-all candidates
    (1, {"bool": {"must_not": [{"match": {"text": "merge"}}]}}),
    # double negation: NOT(hash AND NOT window)
    (2, {"bool": {"must": [{"term": {"lang": "en"}}],
                  "must_not": [{"bool": {
                      "must": [{"match": {"text": "hash"}}],
                      "must_not": [{"match": {"text": "window"}}]}}]}}),
    # regexp over analyzed tokens (anchored, whole-term)
    (3, {"regexp": {"text": "quer(y|ies)"}}),
    # scoring wrapper around a fuzzy keyword clause
    (4, {"function_score": {"query": {"fuzzy": {
        "lang": {"value": "enn", "fuzziness": 1}}}}}),
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- full-text scoring (match family) over the inverted index ---
    q["match_or"] = lambda s, d: _bm25(s, d, "spark query data")
    q["match_and"] = lambda s, d: _bm25(s, d, "table scan", operator="and")
    q["match_msm2"] = lambda s, d: _bm25(s, d, "window filter merge", msm=2)
    q["match_high_df"] = lambda s, d: _bm25(s, d, "table")
    q["match_zero_hits"] = lambda s, d: _bm25(s, d, "zzznoterm qqqmissing")
    q["match_k50"] = lambda s, d: _bm25(s, d, "stream batch", k=50)

    def match_classic(s: SparkSession, d: str) -> DataFrame:
        # classic TF-IDF similarity (SimilarityService.java "classic"):
        # idf_c^2 * sqrt(tf)/sqrt(dl), queryNorm omitted (rank-identical)
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("spark query data", "ascii_word")]
        out = match_topk(
            idx, "text", terms, k=10,
            params=BM25Params(quantize_norms=False, similarity="classic"))
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_classic"] = match_classic

    def match_boolean(s: SparkSession, d: str) -> DataFrame:
        # boolean similarity: each matching clause contributes its boost
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("table scan merge", "ascii_word")]
        out = match_topk(
            idx, "text", terms, k=20,
            params=BM25Params(quantize_norms=False, similarity="boolean"))
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_boolean"] = match_boolean

    def match_phrase(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.executor import phrase_topk

        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("key order", "ascii_word")]
        out = phrase_topk(idx, "text", terms, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_phrase"] = match_phrase

    def match_phrase_prefix(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.executor import phrase_prefix_topk

        idx = _doc_index(s, d)
        out = phrase_prefix_topk(idx, "text", ["key", "ord"], k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_phrase_prefix"] = match_phrase_prefix

    def match_stemmed(s: SparkSession, d: str) -> DataFrame:
        # english_light field: stop removal + S-stemmer, so "tables
        # scanned" matches docs saying "table scan"
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("tables scanned", "english_light")]
        out = match_topk(idx, "text_en", terms, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_stemmed"] = match_stemmed

    def match_synonym_index(s: SparkSession, d: str) -> DataFrame:
        # INDEX-TIME synonyms: text_syn was tokenized through the
        # synonym filter ("join, merge" expand set; "table => relation"
        # contraction), so df/cf/dl already reflect the expansion.
        # Querying the single analyzed term "merge" therefore matches
        # docs that said only "join", with the union df — unlike
        # query-time SynonymQuery blending (match_synonym entry).
        idx = _doc_index(s, d)
        # query analyzed with PLAIN ascii_word: the expansion lives in
        # the index (ES practice: synonyms either index- or query-side)
        terms = [t for t, _ in analyze("merge relation", "ascii_word")]
        out = match_topk(idx, "text_syn", terms, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_synonym_index"] = match_synonym_index

    def ann_lsh_buckets_q(s: SparkSession, d: str) -> DataFrame:
        # hyperplane-LSH bucket codes: the plane matrix is a seeded
        # constant, so the sign-pattern buckets are oracle-checkable
        # (the self-join pair stage stays rows-only — bucket-local
        # numpy top-k has no tractable SQL twin)
        from elasticsearch_spark.ops.similarity import (
            hyperplane_signatures,
        )

        emb = _t(s, d, "embeddings")
        sig = hyperplane_signatures(emb, dim=64, n_planes=8, seed=42,
                                    n_tables=2)
        return sig.orderBy("vec_id", "table")

    q["ann_lsh_buckets"] = ann_lsh_buckets_q

    def dedup_minhash_md5_sig_q(s: SparkSession, d: str) -> DataFrame:
        # md5-hashed MinHash signatures: the exact per-doc min values
        # are oracle-hash-checked (same affine constants both sides)
        from elasticsearch_spark.ops.dedup import minhash_signatures

        docs = _t(s, d, "documents")
        out = minhash_signatures(docs, n_hashes=16, hash_fn="md5")
        return out.orderBy("doc_id").select(
            "doc_id", *[f"mh{i}" for i in range(16)])

    q["dedup_minhash_md5_sig"] = dedup_minhash_md5_sig_q

    def dedup_simhash_md5_q(s: SparkSession, d: str) -> DataFrame:
        # the md5-hashed 60-bit SimHash: bit-identical across engines,
        # so the signature itself is oracle-hash-checked (the xxhash64
        # default stays rows-only — seeded JVM hash)
        from elasticsearch_spark.ops.dedup import simhash

        docs = _t(s, d, "documents")
        return (simhash(docs, hash_fn="md5")
                .orderBy("doc_id").select("doc_id", "simhash"))

    q["dedup_simhash_md5"] = dedup_simhash_md5_q

    def post_filter_q(s: SparkSession, d: str) -> DataFrame:
        # post_filter: hits narrowed AFTER scoring (aggs would see the
        # unfiltered frame); scores are the unfiltered query's scores
        from elasticsearch_spark.search.executor import (
            post_filter_hits, source_filter)

        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        topk = match_topk(idx, "text", ["table", "scan"], k=50,
                          params=_EXACT)
        hits = post_filter_hits(topk, docs, {"term": {"lang": "en"}})
        hits = source_filter(hits, includes=["lang", "n_*"],
                             excludes=["n_chars"])
        return (hits.select("doc_id",
                            F.round("score", 4).alias("score"), "lang")
                .orderBy(F.desc("score"), F.asc("doc_id")))

    q["post_filter"] = post_filter_q

    def multi_match_phrase_q(s: SparkSession, d: str) -> DataFrame:
        # multi_match type=phrase: per-field PHRASE queries combined
        # best_fields-style (max); all_text is the copy_to field, so
        # the same phrase scores under two different field statistics
        from elasticsearch_spark.search.api import search as api_search

        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        out = api_search(
            idx, docs,
            {"multi_match": {"query": "key order",
                             "fields": ["text", "all_text"],
                             "type": "phrase"}},
            k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["multi_match_phrase"] = multi_match_phrase_q

    def match_copy_to(s: SparkSession, d: str) -> DataFrame:
        # copy_to mapping (FieldMapper.CopyTo): all_text was built as
        # copy_to(text, source), so ONE match over a single posting
        # space spans values that live in different source fields —
        # "src3" only ever appears in `source`, "spark" only in `text`,
        # yet both score against all_text's own df/norms.
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("src3 spark", "ascii_word")]
        out = match_topk(idx, "all_text", terms, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_copy_to"] = match_copy_to

    def match_stemmed_es(s: SparkSession, d: str) -> DataFrame:
        # spanish_light field: "filtros rapidos" would match "filtro
        # rapido"; over the ASCII corpus the cascade still applies
        # end-to-end (plural -es/-os strip etc), exercising the whole
        # analyzer chain against its SQL twin
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("tables columns", "spanish_light")]
        out = match_topk(idx, "text_es", terms, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_stemmed_es"] = match_stemmed_es

    def match_common_grams(s: SparkSession, d: str) -> DataFrame:
        # text_grams was indexed through common_grams("the","a"): the
        # gram tokens exist alongside the originals at posInc 0, so a
        # query on the grams scores stopword-adjacent phrases cheaply
        # (the filter's purpose)
        idx = _doc_index(s, d)
        out = match_topk(idx, "text_grams", ["a_table", "the_batch"],
                         k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_common_grams"] = match_common_grams

    def match_cjk(s: SparkSession, d: str) -> DataFrame:
        # cjk analyzer (CJKBigramFilter semantics) over the synthesized
        # text_cjk field: query bigrams score BM25 against bigram
        # postings with bigram-derived dl/df
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("検索 処理", "cjk")]
        out = match_topk(idx, "text_cjk", terms, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_cjk"] = match_cjk

    def match_stemmed_ar(s: SparkSession, d: str) -> DataFrame:
        # arabic_light (RTL; light10-style prefix+suffix strip): query
        # "الكتاب مدرسة" meets inflected corpus forms (والكتاب, كتابها,
        # مدرسون) at the same stems
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("الكتاب مدرسة", "arabic_light")]
        out = match_topk(idx, "text_ar", terms, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_stemmed_ar"] = match_stemmed_ar

    def match_stemmed_hi(s: SparkSession, d: str) -> DataFrame:
        # hindi_light over the deva_word base: "किताब लड़के" meets the
        # inflected corpus forms (किताबों, लड़कियों, लड़का) at shared stems
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("किताब लड़के", "hindi_light")]
        out = match_topk(idx, "text_hi", terms, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_stemmed_hi"] = match_stemmed_hi

    def match_stemmed_bn(s: SparkSession, d: str) -> DataFrame:
        # bengali_light over the beng_word base: "বই ছেলে" meets the
        # inflected corpus forms (বইগুলো, ছেলেদের) at shared stems
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("বই ছেলে", "bengali_light")]
        out = match_topk(idx, "text_bn", terms, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_stemmed_bn"] = match_stemmed_bn

    def match_thai(s: SparkSession, d: str) -> DataFrame:
        # thai analyzer (cluster bigrams over Thai runs, no dictionary):
        # query "ค้นหา ข้อมูล" scores bigram postings with bigram dl/df
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("ค้นหา ข้อมูล", "thai")]
        out = match_topk(idx, "text_th", terms, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_thai"] = match_thai

    def track_total_hits_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.scan import track_total_hits

        r = track_total_hits(
            _t(s, d, "documents").filter(F.col("lang") == "en"),
            threshold=1000,
        )
        return s.createDataFrame(
            [(r["value"], r["relation"])], "value long, relation string"
        )

    q["track_total_hits"] = track_total_hits_q

    def terminate_after_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.scan import terminate_after

        # single scan slice -> early termination takes the first n rows
        # in file order (doc_id-ordered parquet), making it exact-checkable
        docs = _t(s, d, "documents").coalesce(1)
        return terminate_after(docs, 100).select("doc_id")

    q["terminate_after"] = terminate_after_q

    def highlight_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import highlight

        hits = (
            _t(s, d, "documents")
            .filter(F.col("text").rlike(r"\btable\b"))
            .orderBy("doc_id").limit(20)
        )
        out = highlight(hits, ["table"], n_fragments=2)
        return out.select(
            "doc_id",
            F.try_element_at("highlights", F.lit(1)).alias("frag1"),
            F.try_element_at("highlights", F.lit(2)).alias("frag2"),
        ).orderBy("doc_id")

    q["highlight"] = highlight_q

    # highlight_query (HighlightBuilder.highlightQuery): the fragments
    # come from a DIFFERENT query than the scorer's
    def highlight_query_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import (
            highlight, highlight_terms)

        hits = (
            _t(s, d, "documents")
            .filter(F.col("text").rlike(r"\btable\b"))
            .orderBy("doc_id").limit(20)
        )
        ex, pre = highlight_terms({"match": {"text": "scan merge"}})
        out = highlight(hits, ex, n_fragments=2, prefix_terms=pre)
        return out.select(
            "doc_id",
            F.try_element_at("highlights", F.lit(1)).alias("frag1"),
            F.try_element_at("highlights", F.lit(2)).alias("frag2"),
        ).orderBy("doc_id")

    q["highlight_query"] = highlight_query_q

    # matched_fields on the unified path: the english_light sub-field's
    # stems highlight every surface inflection as a prefix match
    def highlight_matched_fields_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import (
            highlight, highlight_terms)

        hits = (
            _t(s, d, "documents")
            .filter(F.col("text").rlike(r"\btable"))
            .orderBy("doc_id").limit(20)
        )
        ex, pre = highlight_terms(
            {"match": {"text": "tables queries merges"}},
            matched_fields_analyzers=["english_light"])
        out = highlight(hits, ex, n_fragments=2, prefix_terms=pre)
        return out.select(
            "doc_id",
            F.try_element_at("highlights", F.lit(1)).alias("frag1"),
            F.try_element_at("highlights", F.lit(2)).alias("frag2"),
        ).orderBy("doc_id")

    q["highlight_matched_fields"] = highlight_matched_fields_q

    # type: plain — fixed char-grid fragments scored by match count
    def highlight_plain_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import highlight_plain

        hits = (
            _t(s, d, "documents")
            .filter(F.col("text").rlike(r"\btable\b"))
            .orderBy("doc_id").limit(20)
        )
        out = highlight_plain(hits, ["table", "scan"],
                              fragment_size=60, n_fragments=2)
        return out.select(
            "doc_id",
            F.try_element_at("highlights", F.lit(1)).alias("frag1"),
            F.try_element_at("highlights", F.lit(2)).alias("frag2"),
        ).orderBy("doc_id")

    q["highlight_plain_type"] = highlight_plain_q

    # type: fvh — phrase-aware: only whole-phrase occurrences highlight
    def highlight_fvh_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import highlight_fvh

        hits = (
            _t(s, d, "documents")
            .filter(F.col("text").rlike(r"\btable hash\b"))
            .orderBy("doc_id").limit(20)
        )
        out = highlight_fvh(hits, [["table", "hash"]],
                            fragment_size=60, n_fragments=2)
        return out.select(
            "doc_id",
            F.try_element_at("highlights", F.lit(1)).alias("frag1"),
            F.try_element_at("highlights", F.lit(2)).alias("frag2"),
        ).orderBy("doc_id")

    q["highlight_fvh_phrase"] = highlight_fvh_q

    def match_bool_prefix_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.executor import match_bool_prefix_topk

        idx = _doc_index(s, d)
        out = match_bool_prefix_topk(
            idx, "text", ["window", "ord"], k=10, params=_EXACT
        )
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_bool_prefix"] = match_bool_prefix_q

    def match_fuzzy_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.executor import fuzzy_match_topk

        idx = _doc_index(s, d)
        out = fuzzy_match_topk(
            idx, "text", ["tabel", "scna"], fuzziness=2, k=10, params=_EXACT
        )
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_fuzzy"] = match_fuzzy_q

    def match_synonym(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.executor import synonym_match_topk

        idx = _doc_index(s, d)
        out = synonym_match_topk(
            idx, "text",
            [["table", "data"], ["scan", "filter"]],
            k=10, params=_EXACT,
        )
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_synonym"] = match_synonym

    def significant_terms_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import significant_terms

        docs = _t(s, d, "documents")
        out = significant_terms(
            docs, "lang", F.col("n_chars") >= 300, size=10, min_doc_count=3
        )
        # INTEGER-EXACT output: jlh_num/jlh_den are the exact BIGINT
        # numerator/denominator of the JLH rational — no floats cross
        # the oracle hash (raw doubles flaked at the driver two rounds
        # running despite identical-op-order canonicalization).
        return out.select("term", "fg_count", "bg_count", "jlh_num", "jlh_den")

    q["significant_terms"] = significant_terms_q

    def significant_terms_bg_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import significant_terms

        docs = _t(s, d, "documents")
        out = significant_terms(
            docs, "lang", F.col("n_chars") >= 300, size=10, min_doc_count=3,
            background_filter=F.col("n_chars") >= 100,
        )
        return out.select("term", "fg_count", "bg_count", "jlh_num", "jlh_den")

    q["significant_terms_bg"] = significant_terms_bg_q

    # --- scored query + filter context combined (bool) ---
    def bool_match_filter(s: SparkSession, d: str) -> DataFrame:
        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        hits = search(
            idx, docs,
            {"bool": {
                "must": [{"match": {"text": "query data"}}],
                "filter": [
                    {"term": {"lang": "en"}},
                    {"range": {"n_chars": {"gte": 150}}},
                ],
            }},
            k=10, params=_EXACT,
        )
        return hits.select("doc_id", "lang", F.round("score", 4).alias("score"))

    q["bool_match_filter"] = bool_match_filter

    # --- query_string / multi_match / dis_max / extras ---
    def query_string_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.query_string import parse_query_string

        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        qdict = parse_query_string("table AND scan NOT lang:zh", default_field="text")
        hits = search(idx, docs, qdict, k=10, params=_EXACT)
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    q["query_string"] = query_string_q

    def multi_match_best(s: SparkSession, d: str) -> DataFrame:
        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        hits = search(
            idx, docs,
            {"multi_match": {"query": "src5 table", "fields": ["text", "source"],
                              "type": "best_fields"}},
            k=10, params=_EXACT,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    q["multi_match_best"] = multi_match_best

    def multi_match_cross(s: SparkSession, d: str) -> DataFrame:
        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        hits = search(
            idx, docs,
            {"multi_match": {"query": "src5 table scan",
                              "fields": ["text", "source"],
                              "type": "cross_fields"}},
            k=10, params=_EXACT,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    q["multi_match_cross"] = multi_match_cross

    def dis_max_q(s: SparkSession, d: str) -> DataFrame:
        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        hits = search(
            idx, docs,
            {"dis_max": {"tie_breaker": 0.3, "queries": [
                {"match": {"text": "table"}},
                {"match": {"source": "src5"}},
            ]}},
            k=10, params=_EXACT,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    q["dis_max"] = dis_max_q

    def mlt_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import more_like_this

        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        out = more_like_this(idx, docs, like_id=0, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["more_like_this"] = mlt_q

    def mlt_text_q(s: SparkSession, d: str) -> DataFrame:
        # the free-text `like` form: no doc fetch, text analyzed with
        # the field's analyzer, same tf-idf term selection
        from elasticsearch_spark.search.extras import more_like_this

        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        out = more_like_this(
            idx, docs, like_text="table scan merge key order fast "
            "table scan", k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["more_like_this_text"] = mlt_text_q

    def pinned_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import pinned_topk

        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("table scan", "ascii_word")]
        organic = match_topk(idx, "text", terms, k=None, params=_EXACT)
        out = pinned_topk(organic.select("doc_id", "score"),
                          [7, 3, 1203], k=10)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["pinned"] = pinned_q

    def suggest_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import term_suggest

        idx = _doc_index(s, d)
        return term_suggest(idx, "text", "tabel", max_edits=2, size=5)

    q["term_suggest"] = suggest_q

    def suggest_popular_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import term_suggest

        # suggest_mode=popular on an INDEXED word: only candidates
        # with df strictly above the input term's own df survive
        idx = _doc_index(s, d)
        return term_suggest(idx, "text", "a", max_edits=2, size=5,
                            suggest_mode="popular")

    q["term_suggest_popular"] = suggest_popular_q

    def phrase_suggest_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import phrase_suggest

        # index-backed: unigrams = term_dict.cf, bigrams = persisted
        # adjacency table — no raw-text scan per suggestion
        docs = _t(s, d, "documents")
        return phrase_suggest(docs, "dat san", size=3,
                              index=_doc_index(s, d), field="text")

    q["phrase_suggest"] = phrase_suggest_q

    def collapse_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import collapse_topk

        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        scored = match_topk(
            idx, "text", ["table", "scan"], k=None, params=_EXACT
        ).select("doc_id", "score")
        out = collapse_topk(scored, docs, "lang", k=10)
        return out.select("doc_id", "lang", F.round("score", 4).alias("score"))

    q["collapse"] = collapse_q

    def collapse_inner_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import collapse_inner_hits

        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        scored = match_topk(
            idx, "text", ["table", "scan"], k=None, params=_EXACT
        ).select("doc_id", "score")
        out = collapse_inner_hits(scored, docs, "lang", k=3, inner_size=2)
        return out.select(
            "lang", "inner_rank", "doc_id", F.round("score", 4).alias("score")
        )

    q["collapse_inner_hits"] = collapse_inner_q

    def search_after_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import search_after

        idx = _doc_index(s, d)
        page1 = match_topk(idx, "text", ["table"], k=5, params=_EXACT).collect()
        last = page1[-1]
        out = search_after(
            match_topk(idx, "text", ["table"], k=None, params=_EXACT),
            last["score"], last["doc_id"], k=5,
        )
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["search_after"] = search_after_q

    def rescore_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import rescore

        idx = _doc_index(s, d)
        base = match_topk(idx, "text", ["table"], k=None, params=_EXACT)
        out = rescore(
            idx, base, ["scan"], window_size=20,
            rescore_query_weight=2.0, k=10, params=_EXACT,
        )
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["rescore"] = rescore_q

    def significant_text_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import significant_text

        docs = _t(s, d, "documents")
        # bg counts from the inverted index's term dictionary (df) —
        # only the foreground slice is tokenized; bg is a metadata read.
        out = significant_text(
            docs, F.col("lang") == "en", size=10, min_doc_count=3,
            index=_doc_index(s, d),
        )
        return out.select("term", "fg_count", "bg_count", "jlh_num", "jlh_den")

    q["significant_text"] = significant_text_q

    def function_score_fvf(s: SparkSession, d: str) -> DataFrame:
        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        hits = search(
            idx, docs,
            {"function_score": {
                "query": {"match": {"text": "table"}},
                "field_value_factor": {"field": "n_chars", "factor": 0.001,
                                         "modifier": "log1p", "missing": 1},
                "boost_mode": "multiply",
            }},
            k=10, params=_EXACT,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    q["function_score_fvf"] = function_score_fvf

    def function_score_decay(s: SparkSession, d: str) -> DataFrame:
        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        hits = search(
            idx, docs,
            {"function_score": {
                "query": {"match": {"text": "table"}},
                "functions": [
                    {"gauss": {"n_chars": {"origin": 300, "scale": 100,
                                             "decay": 0.5}}},
                ],
                "boost_mode": "multiply",
            }},
            k=10, params=_EXACT,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    q["function_score_decay"] = function_score_decay

    def boosting_q(s: SparkSession, d: str) -> DataFrame:
        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        hits = search(
            idx, docs,
            {"boosting": {
                "positive": {"match": {"text": "table"}},
                "negative": {"term": {"lang": "zh"}},
                "negative_boost": 0.4,
            }},
            k=10, params=_EXACT,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    q["boosting"] = boosting_q

    # --- filter-context queries (native Catalyst predicates) ---
    def _docs_filter(query: dict, cols: list[str]):
        def fn(s: SparkSession, d: str) -> DataFrame:
            return filter_query(_t(s, d, "documents"), query).select(*cols)
        return fn

    q["term_filter"] = _docs_filter({"term": {"lang": "fr"}}, ["doc_id", "lang"])
    # script query (ScriptQueryBuilder): painless boolean, transpiled
    # to one codegen predicate
    q["script_query_filter"] = _docs_filter(
        {"script": {"script": {
            "source": "doc['n_chars'].value % params.m == 0 "
                      "&& doc['lang'].value == 'en'",
            "params": {"m": 7}}}},
        ["doc_id", "n_chars"])
    q["terms_filter"] = _docs_filter(
        {"terms": {"lang": ["de", "zh"]}}, ["doc_id", "lang"]
    )
    q["range_filter"] = _docs_filter(
        {"range": {"n_chars": {"gte": 100, "lt": 300}}}, ["doc_id", "n_chars"]
    )
    q["prefix_filter"] = _docs_filter(
        {"prefix": {"source": "src1"}}, ["doc_id", "source"]
    )

    # date-math bounds (JavaDateMathParser): /w rounds down to Monday,
    # lte +1w/d rounds UP to the last ms of the day
    def range_date_math_q(s: SparkSession, d: str) -> DataFrame:
        return filter_query(
            _t(s, d, "events"),
            {"range": {"ts": {"gte": "2024-01-05||/w",
                              "lte": "2024-01-20||+1w/d"}}},
        ).select("event_id")

    q["range_date_math"] = range_date_math_q
    q["wildcard_filter"] = _docs_filter(
        {"wildcard": {"source": "src*5"}}, ["doc_id", "source"]
    )
    q["regexp_filter"] = _docs_filter(
        {"regexp": {"source": "src1[0-3]"}}, ["doc_id", "source"]
    )
    q["ids_filter"] = _docs_filter(
        {"ids": {"values": [1, 2, 3, 5, 8, 13, 21]}}, ["doc_id"]
    )
    q["fuzzy_filter"] = _docs_filter(
        {"fuzzy": {"lang": {"value": "eng", "fuzziness": 1}}}, ["doc_id", "lang"]
    )
    q["exists_filter"] = _docs_filter({"exists": {"field": "lang"}}, ["doc_id"])
    # --- aggregations (SURVEY.md §2.4) over the TPC-H-ish tables ---
    def agg_terms_metrics(s, d):
        out = aggregate(
            _t(s, d, "lineitem"),
            {"by_flag": {
                "terms": {"field": "l_returnflag", "order": {"_key": "asc"},
                           "key_name": "l_returnflag"},
                "aggs": {
                    "sum_qty": {"sum": {"field": "l_quantity"}},
                    "avg_price": {"avg": {"field": "l_extendedprice"}},
                    "uniq_parts": {"cardinality": {"field": "l_partkey", "exact": True}},
                },
            }},
        )
        return out.select(
            "l_returnflag", "doc_count",
            F.round("sum_qty", 4).alias("sum_qty"),
            F.round("avg_price", 4).alias("avg_price"),
            "uniq_parts",
        )

    q["agg_terms_metrics"] = agg_terms_metrics

    def agg_terms_script_q(s: SparkSession, d: str) -> DataFrame:
        # script value sources: the terms KEY and the metric INPUT are
        # both painless scripts compiled to codegen expressions
        # (ValuesSourceAggregationBuilder.script)
        from elasticsearch_spark.aggs import aggregate

        li = _t(s, d, "lineitem")
        out = aggregate(li, {"by_band": {
            "terms": {"script": {
                "source": ("doc['l_quantity'].value >= params.hi"
                           " ? 'high' : 'low'"),
                "params": {"hi": 25}}, "order": {"_key": "asc"}},
            "aggs": {"rev": {"sum": {"script":
                "doc['l_extendedprice'].value"
                " * (1 - doc['l_discount'].value)"}}},
        }})
        return out.select(
            "key", F.col("doc_count").cast("long").alias("doc_count"),
            F.round("rev", 2).alias("rev"))

    q["agg_terms_script"] = agg_terms_script_q

    q["agg_terms_topn"] = lambda s, d: aggregate(
        _t(s, d, "orders"),
        {"p": {"terms": {"field": "o_orderpriority", "size": 3,
                          "key_name": "o_orderpriority"}}},
    )

    q["agg_histogram"] = lambda s, d: aggregate(
        _t(s, d, "orders"),
        {"h": {"histogram": {"field": "o_totalprice", "interval": 50000}}},
    ).select(F.col("key").cast("double").alias("key"), "doc_count")

    q["agg_date_histogram"] = lambda s, d: aggregate(
        _t(s, d, "orders"),
        {"m": {"date_histogram": {"field": "o_orderdate",
                                    "calendar_interval": "month"},
                "aggs": {"rev": {"sum": {"field": "o_totalprice"}}}}},
    ).select("key", "doc_count", F.round("rev", 4).alias("rev"))

    # time_zone: daily buckets aligned to the +05:30 local calendar,
    # reported as UTC instants (Rounding.java timeZone rounding)
    q["agg_date_histogram_tz"] = lambda s, d: aggregate(
        _t(s, d, "events"),
        {"h": {"date_histogram": {"field": "ts", "calendar_interval": "day",
                                  "time_zone": "+05:30"}}},
    ).select("key", "doc_count")

    # offset: 12h buckets shifted to 06:00/18:00 boundaries
    q["agg_date_histogram_offset"] = lambda s, d: aggregate(
        _t(s, d, "events"),
        {"h": {"date_histogram": {"field": "ts", "fixed_interval": "12h",
                                  "offset": "+6h"}}},
    ).select("key", "doc_count")

    # min_doc_count 0 + extended_bounds: zero-filled in-plan ladder
    q["agg_histogram_empty"] = lambda s, d: aggregate(
        _t(s, d, "documents"),
        {"h": {"histogram": {"field": "n_chars", "interval": 500.0,
                             "min_doc_count": 0,
                             "extended_bounds": {"min": 0, "max": 4000}}}},
    ).select("key", F.col("doc_count").cast("long").alias("doc_count"))

    q["agg_range_buckets"] = lambda s, d: aggregate(
        _t(s, d, "customer"),
        {"r": {"range": {"field": "c_acctbal", "ranges": [
            {"key": "low", "to": 0},
            {"key": "mid", "from": 0, "to": 5000},
            {"key": "high", "from": 5000},
        ]}}},
    )

    q["agg_filters"] = lambda s, d: aggregate(
        _t(s, d, "events"),
        {"f": {"filters": {"filters": {
            "clicks": {"term": {"event_type": "click"}},
            "big": {"range": {"value": {"gte": 50}}},
        }}, "aggs": {"v": {"avg": {"field": "value"}}}}},
    ).select("key", "doc_count", F.round("v", 6).alias("v"))

    # terms agg `missing` param: NULLs bucket under the substitute
    def agg_terms_missing_q(s: SparkSession, d: str) -> DataFrame:
        docs = _t(s, d, "documents").withColumn(
            "lang_n",
            F.when(F.col("doc_id") % 5 == 0, F.lit(None))
            .otherwise(F.col("lang")))
        return aggregate(
            docs,
            {"t": {"terms": {"field": "lang_n", "missing": "(none)",
                             "size": 20}}},
        ).select("key", "doc_count")

    q["agg_terms_missing_param"] = agg_terms_missing_q

    # filters agg with the keyed other-bucket (docs matching neither)
    q["agg_filters_other"] = lambda s, d: aggregate(
        _t(s, d, "events"),
        {"f": {"filters": {"filters": {
            "clicks": {"term": {"event_type": "click"}},
            "big": {"range": {"value": {"gte": 50}}},
        }, "other_bucket_key": "rest"},
            "aggs": {"v": {"avg": {"field": "value"}}}}},
    ).select("key", "doc_count", F.round("v", 6).alias("v"))

    q["agg_composite_page"] = lambda s, d: aggregate(
        _t(s, d, "lineitem"),
        {"c": {"composite": {
            "sources": [
                {"flag": {"terms": {"field": "l_returnflag"}}},
                {"status": {"terms": {"field": "l_linestatus"}}},
            ],
            "size": 3,
            "after": {"flag": "A", "status": "F"},
        }}},
    )

    def agg_stats_global(s, d):
        out = aggregate(
            _t(s, d, "lineitem"),
            {"g": {"global": {}, "aggs": {
                "s": {"stats": {"field": "l_quantity"}},
                "e": {"extended_stats": {"field": "l_discount"}},
                "w": {"weighted_avg": {"value": {"field": "l_extendedprice"},
                                         "weight": {"field": "l_quantity"}}},
                "p": {"percentiles": {"field": "l_extendedprice",
                                        "percents": [50, 95], "exact": True}},
            }}},
        )
        return out.select(
            "doc_count", "s_count",
            F.round("s_avg", 4).alias("s_avg"),
            F.round("s_sum", 4).alias("s_sum"),
            F.round("e_variance", 8).alias("e_variance"),
            F.round("w", 4).alias("w"),
            F.round("p_p50", 4).alias("p_p50"),
            F.round("p_p95", 4).alias("p_p95"),
        )

    q["agg_stats_global"] = agg_stats_global

    q["agg_top_hits"] = lambda s, d: top_hits(
        _t(s, d, "orders"), "o_orderpriority", "o_totalprice", size=2,
        tie_col="o_orderkey",
    ).select("o_orderpriority", "o_orderkey", "hit_rank")

    def agg_pipeline(s, d):
        buckets = aggregate(
            _t(s, d, "orders"),
            {"m": {"date_histogram": {"field": "o_orderdate",
                                        "calendar_interval": "month"},
                    "aggs": {"rev": {"sum": {"field": "o_totalprice"}}}}},
        )
        out = pipeline_agg(
            pipeline_agg(buckets, "cumulative_sum", "rev", out_name="cum"),
            "derivative", "rev", out_name="deriv",
        )
        return out.select(
            "key", "doc_count",
            F.round("rev", 4).alias("rev"),
            F.round("cum", 4).alias("cum"),
            F.round("deriv", 4).alias("deriv"),
        )

    q["agg_pipeline_cum_deriv"] = agg_pipeline

    def agg_cumulative_cardinality_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import cumulative_cardinality

        return cumulative_cardinality(
            _t(s, d, "events"), "ts", "user_id", calendar="day"
        ).select(
            F.col("bucket").cast("string").alias("bucket"),
            "new_keys", "cumulative_cardinality",
        )

    q["agg_cumulative_cardinality"] = agg_cumulative_cardinality_q

    def agg_normalize_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import normalize_agg

        out = normalize_agg(
            _t(s, d, "events"), "ts", "value",
            method="rescale_0_1", calendar="day",
        )
        return out.select(
            F.col("bucket").cast("string").alias("bucket"),
            F.round("value", 4).alias("value"),
            F.round("normalized", 6).alias("normalized"),
        )

    q["agg_normalize"] = agg_normalize_q

    def agg_bucket_pipeline_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import (
            bucket_script, bucket_selector, bucket_sort,
        )

        buckets = aggregate(
            _t(s, d, "lineitem"),
            {"t": {"terms": {"field": "l_returnflag", "key_name": "l_returnflag"},
                    "aggs": {"qty": {"sum": {"field": "l_quantity"}},
                              "rev": {"sum": {"field": "l_extendedprice"}}}}},
        )
        out = bucket_sort(
            bucket_selector(
                bucket_script(buckets, "rev / qty", "price_per_unit"),
                "doc_count > 100",
            ),
            [("price_per_unit", "desc"), ("l_returnflag", "asc")],
        )
        return out.select(
            "l_returnflag", "doc_count",
            F.round("price_per_unit", 6).alias("price_per_unit"),
        )

    q["agg_bucket_pipeline"] = agg_bucket_pipeline_q

    # extended_stats_bucket + percentiles_bucket over a date_histogram
    def agg_ext_stats_bucket_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import (
            bucket_extended_stats,
        )

        buckets = aggregate(
            _t(s, d, "events"),
            {"h": {"date_histogram": {"field": "ts",
                                      "calendar_interval": "day"},
                   "aggs": {"v": {"sum": {"field": "value"}}}}},
        )
        out = bucket_extended_stats(buckets, "v")
        return out.select(
            F.col("v_count").cast("long").alias("v_count"),
            F.round("v_min", 4).alias("v_min"),
            F.round("v_max", 4).alias("v_max"),
            F.round("v_avg", 4).alias("v_avg"),
            F.round("v_sum", 4).alias("v_sum"),
            F.round("v_variance", 4).alias("v_variance"),
            F.round("v_std_upper", 4).alias("v_std_upper"),
            F.round("v_std_lower", 4).alias("v_std_lower"))

    q["agg_ext_stats_bucket"] = agg_ext_stats_bucket_q

    def agg_percentiles_bucket_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import bucket_percentiles

        buckets = aggregate(
            _t(s, d, "events"),
            {"h": {"date_histogram": {"field": "ts",
                                      "calendar_interval": "day"},
                   "aggs": {"v": {"sum": {"field": "value"}}}}},
        )
        out = bucket_percentiles(buckets, "v", [25.0, 50.0, 75.0])
        return out.select(
            F.round("p25_0", 4).alias("p25_0"),
            F.round("p50_0", 4).alias("p50_0"),
            F.round("p75_0", 4).alias("p75_0"))

    q["agg_percentiles_bucket"] = agg_percentiles_bucket_q

    # the singular filter agg: one filtered sub-scope in the same scan
    q["agg_filter_scope"] = lambda s, d: aggregate(
        _t(s, d, "events"),
        {"f": {"filter": {"term": {"event_type": "click"}},
               "aggs": {"v": {"avg": {"field": "value"}}}}},
    ).select(F.col("doc_count"), F.round("v", 6).alias("v"))

    def agg_percentile_ranks_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import percentile_ranks

        out = percentile_ranks(
            _t(s, d, "lineitem"), "l_extendedprice", [10000, 50000]
        )
        return out.select(
            F.round("rank_10000", 6).alias("rank_10000"),
            F.round("rank_50000", 6).alias("rank_50000"),
        )

    q["agg_percentile_ranks"] = agg_percentile_ranks_q

    q["agg_rare_terms"] = lambda s, d: aggregate(
        _t(s, d, "lineitem"),
        {"r": {"rare_terms": {"field": "l_orderkey", "max_doc_count": 1,
                                "key_name": "l_orderkey"}}},
    )

    q["agg_missing"] = lambda s, d: aggregate(
        _t(s, d, "orders").withColumn(
            "maybe", F.when(F.col("o_orderstatus") != "F", F.col("o_orderstatus"))
        ),
        {"m": {"missing": {"field": "maybe"}}},
    )

    def combined_fields_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.combined import combined_fields_topk

        idx = _doc_index(s, d)
        out = combined_fields_topk(
            idx, {"text": 1.0, "source": 2.0}, ["table", "src5"], k=10,
            params=_EXACT,
        )
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["combined_fields"] = combined_fields_q

    def eql_sequence_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.eql import sequence

        ev = _t(s, d, "events")
        return sequence(
            ev, ["click", "purchase"], maxspan_seconds=86400
        ).select("user_id", "id_0", "id_1")

    q["eql_sequence"] = eql_sequence_q

    # -- EQL text queries through the recursive-descent parser
    #    (x-pack/plugin/eql/.../parser/EqlParser.java) and the
    #    non-sequenced join plan (.../plan/logical/Join.java)

    def eql_text_sequence_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.eql import eql

        ev = _t(s, d, "events")
        return eql(ev, EQL_TEXT_SEQ).select("user_id", "id_0", "id_1")

    q["eql_text_sequence"] = eql_text_sequence_q

    def eql_join_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.eql import eql

        ev = _t(s, d, "events")
        return eql(ev, EQL_TEXT_JOIN).select("user_id", "id_0", "id_1")

    q["eql_join"] = eql_join_q

    def eql_sample_q(s: SparkSession, d: str) -> DataFrame:
        # EQL `sample by`: one event per filter per key, ANY order, no
        # time window (x-pack/plugin/eql samples); deterministic
        # earliest-per-step exhibit
        from elasticsearch_spark.ops.eql import eql

        ev = _t(s, d, "events")
        return eql(ev, EQL_TEXT_SAMPLE).select("user_id", "id_0", "id_1")

    q["eql_sample"] = eql_sample_q

    def rollup_hourly_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.rollup import rollup

        ev = _t(s, d, "events")
        out = rollup(ev, "ts", "1 hour", ["event_type"],
                     {"value": ["min", "max", "sum", "value_count"]})
        return out.select(
            F.col("bucket_ts").cast("string").alias("bucket_ts"),
            "event_type", "_doc_count",
            F.round("value_min", 4).alias("value_min"),
            F.round("value_max", 4).alias("value_max"),
            F.round("value_sum", 2).alias("value_sum"),
            F.col("value_value_count").alias("value_value_count"),
        )

    q["rollup_hourly"] = rollup_hourly_q

    # _rollup_search: a DAY-granularity agg answered FROM the hourly
    # summary by merging partials — certified against the direct
    # day-aggregation of the raw events (RollupResponseTranslator)
    def rollup_search_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.rollup import rollup, rollup_search

        # integer-exact pipeline (the scaled_float convention): cents
        # keep partial-merge sums exact, so avg-from-partials is
        # bit-identical across engines regardless of summation order
        ev = _t(s, d, "events").withColumn(
            "value_c", F.round(F.col("value") * 100).cast("long"))
        mets = {"value_c": ["sum", "min", "max", "avg", "value_count"]}
        hourly = rollup(ev, "ts", "1 hour", ["event_type"], mets)
        out = rollup_search(hourly, interval="day",
                            group_cols=["event_type"], metrics=mets)
        return out.select(
            F.col("bucket").cast("string").alias("bucket"),
            "event_type", "_doc_count",
            F.round(F.col("value_c_sum") / 100.0, 2).alias("value_sum"),
            F.round(F.col("value_c_min") / 100.0, 2).alias("value_min"),
            F.round(F.col("value_c_max") / 100.0, 2).alias("value_max"),
            F.round(F.col("value_c_avg") / 100.0, 6).alias("value_avg"),
            F.col("value_c_value_count").alias("value_value_count"))

    q["rollup_search"] = rollup_search_q

    # downsample (RollupV2): hourly tsid buckets with a numeric
    # histogram group, metric fields kept under their original names as
    # aggregate_metric_double structs, then a day-granularity search
    # over the downsampled index — certified vs the direct aggregation
    def downsample_agg_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.rollup import (
            downsample, downsample_search)

        ev = _t(s, d, "events").withColumn(
            "value_c", F.round(F.col("value") * 100).cast("long"))
        mets = {"value_c": ["min", "max", "sum", "value_count", "avg"]}
        ds = downsample(ev, "ts", "1 hour", ["event_type"], mets,
                        histogram_groups={"user_id": 40.0})
        out = downsample_search(ds, "ts", interval="day",
                                group_cols=["user_id"], metrics=mets)
        return out.select(
            F.col("ts").cast("string").alias("bucket"),
            F.col("user_id").cast("long").alias("user_bucket"),
            "_doc_count",
            F.round(F.col("value_c_sum") / 100.0, 2).alias("value_sum"),
            F.round(F.col("value_c_min") / 100.0, 2).alias("value_min"),
            F.round(F.col("value_c_max") / 100.0, 2).alias("value_max"),
            F.round(F.col("value_c_avg") / 100.0, 6).alias("value_avg"),
            F.col("value_c_value_count").alias("value_count"))

    q["downsample_agg"] = downsample_agg_q

    def transform_pivot_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.rollup import transform_pivot

        ev = _t(s, d, "events")
        out = transform_pivot(ev, ["user_id"],
                              {"value": ["sum", "avg", "max"]})
        return out.select(
            "user_id", "_doc_count",
            F.round("value_sum", 2).alias("value_sum"),
            F.round(F.col("value_avg_sum")
                    / F.col("value_avg_count"), 4).alias("value_avg"),
            F.round("value_max", 4).alias("value_max"),
        )

    q["transform_pivot"] = transform_pivot_q

    # transform `latest` (x-pack/plugin/transform/.../latest/Latest.java):
    # newest event per user — ONE partial-agg max(struct) per key, ties
    # on ts break by the remaining columns lexicographically
    def transform_latest_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.rollup import transform_latest

        ev = _t(s, d, "events")
        out = transform_latest(ev, ["user_id"], "ts")
        return out.select(
            "user_id", "event_id", "ts", "event_type",
            F.round("value", 2).alias("value"))

    q["transform_latest"] = transform_latest_q

    def eql_until_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.eql import sequence

        ev = _t(s, d, "events")
        return sequence(
            ev, ["click", "purchase"], maxspan_seconds=86400, until="error",
        ).select("user_id", "id_0", "id_1")

    q["eql_sequence_until"] = eql_until_q

    def slice_scan_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.scan import slice_scan

        return slice_scan(_t(s, d, "documents"), 1, 4).select("doc_id")

    q["slice_scan"] = slice_scan_q

    def paginate_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.scan import paginate

        docs = _t(s, d, "documents").orderBy(
            F.desc("n_chars"), F.asc("doc_id")
        )
        return paginate(docs, from_=20, size=10).select("doc_id", "n_chars")

    q["from_size_page"] = paginate_q

    def agg_adjacency_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import adjacency_matrix

        return adjacency_matrix(
            _t(s, d, "events"),
            {"click": {"term": {"event_type": "click"}},
             "big": {"range": {"value": {"gte": 50}}}},
        )

    q["agg_adjacency_matrix"] = agg_adjacency_q

    def agg_terms_order_metric_q(s: SparkSession, d: str) -> DataFrame:
        # terms buckets ORDERED BY a sub-aggregation value (order:
        # {"avg_price": "desc"} — TermsAggregationBuilder order paths)
        out = aggregate(
            _t(s, d, "lineitem"),
            {"flags": {"terms": {"field": "l_returnflag", "size": 3,
                                   "order": {"avg_price": "desc"},
                                   "key_name": "l_returnflag"},
                        "aggs": {"avg_price": {"avg": {"field": "l_extendedprice"}}}}},
        )
        return out.select(
            "l_returnflag", "doc_count", F.round("avg_price", 4).alias("avg_price")
        )

    q["agg_terms_order_metric"] = agg_terms_order_metric_q

    # --- x-pack analytics aggs (x-pack/plugin/analytics/) ---
    def agg_boxplot_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import boxplot

        out = boxplot(_t(s, d, "lineitem"), "l_extendedprice")
        return out.select(
            F.round("min", 4).alias("min"), F.round("q1", 4).alias("q1"),
            F.round("q2", 4).alias("q2"), F.round("q3", 4).alias("q3"),
            F.round("max", 4).alias("max"),
        )

    q["agg_boxplot"] = agg_boxplot_q

    def agg_string_stats_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import string_stats

        out = string_stats(_t(s, d, "documents"), "text")
        return out.select(
            "count", "min_length", "max_length",
            F.round("avg_length", 4).alias("avg_length"),
            (F.floor(F.col("entropy") * 1e6 + F.lit(0.5)) / 1e6).alias("entropy"),
        )

    q["agg_string_stats"] = agg_string_stats_q

    # terms agg with the coordinator's doc_count_error_upper_bound
    # (InternalTerms merge). Shards are a derived routing column so the
    # oracle can replicate the exact same shard split.
    def agg_terms_shard_error_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import terms_with_error

        li = _t(s, d, "lineitem")
        out = terms_with_error(
            li, "l_suppkey", F.col("l_orderkey") % 4, size=10, shard_size=5
        )
        return out.select(
            "l_suppkey",
            F.col("doc_count").cast("long").alias("doc_count"),
            F.col("doc_count_error_upper_bound").cast("long").alias(
                "doc_count_error_upper_bound"
            ),
        )

    q["agg_terms_shard_error"] = agg_terms_shard_error_q

    def agg_top_metrics_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import top_metrics

        out = top_metrics(
            _t(s, d, "lineitem"), ["l_quantity", "l_discount"],
            sort_field="l_extendedprice", size=3, tie_breaker="l_orderkey",
        )
        return out.select(
            F.round("l_extendedprice", 2).alias("l_extendedprice"),
            "l_quantity", "l_discount", "l_orderkey",
        )

    q["agg_top_metrics"] = agg_top_metrics_q

    def agg_t_test_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import t_test

        out = t_test(
            _t(s, d, "lineitem"), "l_extendedprice",
            F.col("l_returnflag") == "R", F.col("l_returnflag") == "A",
        )
        return out.select(F.round("t_stat", 4).alias("t_stat"), "na", "nb")

    q["agg_t_test"] = agg_t_test_q

    def agg_rate_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import rate_agg

        out = rate_agg(_t(s, d, "events"), "ts", "value",
                       calendar="month", unit="day")
        return out.select(
            F.date_format("bucket", "yyyy-MM").alias("bucket"),
            F.round("total", 4).alias("total"),
            F.round("rate", 4).alias("rate"),
        )

    q["agg_rate"] = agg_rate_q

    def agg_multi_terms_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import multi_terms

        return multi_terms(
            _t(s, d, "lineitem"), ["l_returnflag", "l_linestatus"], size=10
        )

    q["agg_multi_terms"] = agg_multi_terms_q

    def agg_moving_percentiles_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import moving_percentiles

        out = moving_percentiles(
            _t(s, d, "events"), "ts", "value", percent=0.5, window=3,
            calendar="month",
        )
        return out.select(
            F.date_format("bucket", "yyyy-MM").alias("bucket"),
            F.round("p", 4).alias("p"),
        )

    q["agg_moving_percentiles"] = agg_moving_percentiles_q

    def agg_vwh_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import variable_width_histogram

        out = variable_width_histogram(_t(s, d, "documents"), "n_chars", buckets=4)
        return out.select(
            "bucket_id", "min", "max", "doc_count",
            F.round("centroid", 4).alias("centroid"),
        )

    q["agg_variable_width_histogram"] = agg_vwh_q

    def agg_date_range_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import date_range_agg

        return date_range_agg(
            _t(s, d, "orders"), "o_orderdate",
            [(None, "2024-06-01"), ("2024-06-01", "2025-01-01"),
             ("2025-01-01", None)],
        )

    q["agg_date_range"] = agg_date_range_q

    def agg_ip_range_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import ip_range_agg

        # deterministic synthetic IPs from user_id (testdata has no ip col)
        events = _t(s, d, "events").withColumn(
            "ip",
            F.concat_ws(
                ".", F.lit(10), F.pmod(F.col("user_id"), F.lit(256)),
                F.pmod(F.floor(F.col("user_id") / 256).cast("long"), F.lit(256)),
                F.pmod(F.col("event_id"), F.lit(256)),
            ),
        )
        return ip_range_agg(
            events, "ip",
            [(None, "10.64.0.0"), ("10.64.0.0", "10.192.0.0"),
             ("10.192.0.0", None)],
        )

    q["agg_ip_range"] = agg_ip_range_q

    def agg_mad_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import median_absolute_deviation

        out = median_absolute_deviation(_t(s, d, "lineitem"), "l_extendedprice")
        return out.select(F.round("mad", 4).alias("mad"))

    q["agg_mad"] = agg_mad_q

    def agg_matrix_stats_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import matrix_stats

        out = matrix_stats(_t(s, d, "lineitem"), ["l_quantity", "l_extendedprice"])
        return out.select(
            F.round("cov_l_quantity_l_extendedprice", 4).alias("cov"),
            F.round("corr_l_quantity_l_extendedprice", 8).alias("corr"),
        )

    q["agg_matrix_stats"] = agg_matrix_stats_q

    def agg_auto_dh_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import auto_date_histogram

        out = auto_date_histogram(_t(s, d, "orders"), "o_orderdate", 10)
        return out.select("key", "doc_count")

    q["agg_auto_date_histogram"] = agg_auto_dh_q

    def agg_scripted_metric_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import scripted_metric
        import pandas as _pd

        def sum_sq(pdf):
            return _pd.DataFrame({
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "ss": [float((pdf["l_quantity"] ** 2).sum())],
            })

        out = scripted_metric(
            _t(s, d, "lineitem"), ["l_returnflag"], sum_sq,
            "l_returnflag string, ss double",
        )
        return out.select("l_returnflag", F.round("ss", 4).alias("ss"))

    q["agg_scripted_metric"] = agg_scripted_metric_q

    def _multi_term(kind: str, pattern: str, **kw):
        def fn(s: SparkSession, d: str) -> DataFrame:
            from elasticsearch_spark.search.executor import multi_term_topk

            idx = _doc_index(s, d)
            out = multi_term_topk(idx, "text", kind, pattern, k=10, **kw)
            return out.select("doc_id", "score")
        return fn

    q["prefix_match_indexed"] = _multi_term("prefix", "tab")
    q["wildcard_match_indexed"] = _multi_term("wildcard", "s?an")
    q["fuzzy_match_indexed"] = _multi_term("fuzzy", "tabel")

    def intervals_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.executor import intervals_match

        idx = _doc_index(s, d)
        out = intervals_match(
            idx, "text", ["key", "order"], max_gaps=2, ordered=True, k=10
        )
        return out.select("doc_id", "score")

    q["intervals_ordered"] = intervals_q

    def span_near_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.spans import span_match

        idx = _doc_index(s, d)
        out = span_match(
            idx, "text",
            {"span_near": {"clauses": [
                {"span_term": {"text": "key"}},
                {"span_term": {"text": "order"}},
            ], "slop": 2, "in_order": True}},
            k=50,
        )
        return out.select("doc_id", "score", "matched")

    q["span_near"] = span_near_q

    def span_first_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.spans import span_match

        idx = _doc_index(s, d)
        out = span_match(
            idx, "text",
            {"span_first": {"match": {"span_term": {"text": "table"}},
                             "end": 5}},
            k=50,
        )
        return out.select("doc_id", "score", "matched")

    q["span_first"] = span_first_q

    def span_not_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.spans import span_match

        idx = _doc_index(s, d)
        out = span_match(
            idx, "text",
            {"span_not": {
                "include": {"span_term": {"text": "key"}},
                "exclude": {"span_near": {"clauses": [
                    {"span_term": {"text": "key"}},
                    {"span_term": {"text": "order"}},
                ], "slop": 0, "in_order": True}},
            }},
            k=50,
        )
        return out.select("doc_id", "score", "matched")

    q["span_not"] = span_not_q

    def span_multi_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.spans import span_match

        # span_multi(prefix ord*) inside span_near: the wrapper
        # rewrites to span_or of the dictionary expansion, then the
        # positional constraint applies to every expanded term
        idx = _doc_index(s, d)
        out = span_match(
            idx, "text",
            {"span_near": {"clauses": [
                {"span_term": {"text": "key"}},
                {"span_multi": {"match": {"prefix": {"text": "ord"}}}},
            ], "slop": 2, "in_order": True}},
            k=50,
        )
        return out.select("doc_id", "score", "matched")

    q["span_multi"] = span_multi_q

    def span_field_masking_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.spans import span_match

        # field_masking_span (FieldMaskingSpanQueryBuilder): the inner
        # span keeps its OWN field's postings (source), the mask lets
        # it combine with text-field spans in one span_or
        idx = _doc_index(s, d)
        out = span_match(
            idx, "text",
            {"span_or": {"clauses": [
                {"span_term": {"text": "key"}},
                {"span_field_masking": {
                    "query": {"span_term": {"source": "src3"}},
                    "field": "text"}},
            ]}},
            k=50,
        )
        return out.select("doc_id", "score", "matched")

    q["span_field_masking"] = span_field_masking_q

    def intervals_any_of_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.spans import intervals_to_span, span_match

        idx = _doc_index(s, d)
        tree = intervals_to_span({"all_of": {"intervals": [
            {"match": {"query": "window"}},
            {"any_of": {"intervals": [
                {"match": {"query": "filter"}},
                {"match": {"query": "merge"}},
            ]}},
        ], "max_gaps": 3, "ordered": True}})
        out = span_match(idx, "text", tree, k=50)
        return out.select("doc_id", "score", "matched")

    q["intervals_any_of"] = intervals_any_of_q

    def intervals_prefix_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.executor import expand_terms
        from elasticsearch_spark.search.spans import intervals_to_span, span_match

        idx = _doc_index(s, d)
        tree = intervals_to_span(
            {"all_of": {"intervals": [
                {"match": {"query": "key"}},
                {"prefix": {"prefix": "ord"}},
            ], "max_gaps": 1, "ordered": True}},
            expand=lambda kind, pat: expand_terms(idx, "text", kind, pat),
        )
        out = span_match(idx, "text", tree, k=50)
        return out.select("doc_id", "score", "matched")

    q["intervals_prefix"] = intervals_prefix_q

    def geo_distance_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.geo import geo_distance

        # deterministic synthetic coordinates (testdata has no geo cols)
        docs = _t(s, d, "documents").withColumn(
            "lat", (F.pmod(F.col("doc_id"), F.lit(171)) - 85).cast("double")
        ).withColumn(
            "lon", (F.pmod(F.col("doc_id") * 7, F.lit(360)) - 180).cast("double")
        )
        out = geo_distance(docs, origin=(10.0, 20.0), distance_km=3000.0,
                           sort=False)
        return (
            out.select("doc_id", F.round("distance_km", 4).alias("distance_km"))
            .orderBy(F.asc("distance_km"), F.asc("doc_id"))
            .limit(20)
        )

    q["geo_distance_sort"] = geo_distance_q

    def _geo_docs(s: SparkSession, d: str) -> DataFrame:
        # deterministic synthetic coordinates (testdata has no geo cols)
        return _t(s, d, "documents").withColumn(
            "lat", (F.pmod(F.col("doc_id"), F.lit(171)) - 85).cast("double")
        ).withColumn(
            "lon", (F.pmod(F.col("doc_id") * 7, F.lit(360)) - 180).cast("double")
        )

    def geo_bbox_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.geo import geo_bounding_box

        # left lon (150) > right lon (-120): crosses the antimeridian,
        # exercising the date-line split into two range legs
        out = geo_bounding_box(
            _geo_docs(s, d), top_left=(60.0, 150.0), bottom_right=(-20.0, -120.0)
        )
        return (
            out.select("doc_id", "lat", "lon")
            .orderBy(F.asc("doc_id")).limit(50)
        )

    q["geo_bbox"] = geo_bbox_q

    def geo_polygon_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.geo import geo_polygon

        out = geo_polygon(_geo_docs(s, d), GEO_PENTAGON)
        return (
            out.select("doc_id", "lat", "lon")
            .orderBy(F.asc("doc_id")).limit(50)
        )

    q["geo_polygon"] = geo_polygon_q

    def geo_shape_intersects_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.geo import geo_shape

        # WKT polygon with a HOLE (even-odd parity over both rings)
        out = geo_shape(_geo_docs(s, d), GEO_SHAPE_WKT, "intersects")
        return (
            out.select("doc_id", "lat", "lon")
            .orderBy(F.asc("doc_id")).limit(100)
        )

    q["geo_shape_intersects"] = geo_shape_intersects_q

    def geo_shape_disjoint_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.geo import geo_shape

        # ENVELOPE crossing the dateline, complement relation
        out = geo_shape(_geo_docs(s, d), GEO_SHAPE_ENVELOPE, "disjoint")
        return (
            out.select("doc_id", "lat", "lon")
            .orderBy(F.asc("doc_id")).limit(50)
        )

    q["geo_shape_disjoint"] = geo_shape_disjoint_q

    def agg_geohash_grid_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import geohash_grid_agg

        return geohash_grid_agg(_geo_docs(s, d), "lat", "lon",
                                precision=2, size=15)

    q["agg_geohash_grid"] = agg_geohash_grid_q

    def agg_geotile_grid_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import geotile_grid_agg

        return geotile_grid_agg(_geo_docs(s, d), "lat", "lon",
                                zoom=4, size=15)

    q["agg_geotile_grid"] = agg_geotile_grid_q

    def agg_geo_distance_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import geo_distance_agg

        return geo_distance_agg(
            _geo_docs(s, d), "lat", "lon", origin=(10.0, 20.0),
            ranges=[(None, 3000.0), (3000.0, 8000.0), (8000.0, None)],
        )

    q["agg_geo_distance"] = agg_geo_distance_q

    def agg_geo_bounds_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import (
            geo_bounds_agg, geo_centroid_agg,
        )

        g = _geo_docs(s, d).filter(F.col("lang") == "en")
        b = geo_bounds_agg(g, "lat", "lon")
        c = geo_centroid_agg(g, "lat", "lon").select(
            F.round("lat", 6).alias("c_lat"), F.round("lon", 6).alias("c_lon"),
            "count",
        )
        return b.crossJoin(c)  # two 1-row aggs -> one 1-row frame

    q["agg_geo_bounds"] = agg_geo_bounds_q

    def percolate_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.percolate import percolate

        docs = _t(s, d, "documents").withColumn(
            "loc", F.struct(
                (F.pmod(F.col("doc_id"), F.lit(171)) - 85)
                .cast("double").alias("lat"),
                (F.pmod(F.col("doc_id") * 7, F.lit(360)) - 180)
                .cast("double").alias("lon"))
        ).withColumn(
            "opt_tag",
            F.when(F.pmod(F.col("doc_id"), F.lit(7)) == 0, F.lit("tagged")))
        out = percolate(
            s, docs, PERCOLATE_STORED, text_fields=["text"],
            keyword_fields=["lang", "source", "opt_tag"],
            numeric_fields=["n_chars", "loc.lat", "loc.lon"],
        )
        return out.select(
            F.col("doc_id").cast("long"), F.col("query_id").cast("long"))

    q["percolate"] = percolate_q

    def percolate_nested_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.percolate import percolate_verified

        cust = _t(s, d, "customer")
        nest = (_t(s, d, "orders")
                .groupBy("o_custkey")
                .agg(F.collect_list(F.struct(
                    F.col("o_orderstatus").alias("status"),
                    F.col("o_orderpriority").alias("priority"),
                    F.col("o_totalprice").alias("total"))).alias("orders")))
        docs = (cust.join(nest, cust.c_custkey == nest.o_custkey, "left")
                .select(F.col("c_custkey").alias("doc_id"),
                        F.col("c_mktsegment").alias("segment"),
                        F.col("c_acctbal").alias("bal"), "orders"))
        out = percolate_verified(
            s, docs, PERCOLATE_NESTED_STORED, text_fields=[],
            keyword_fields=["segment"], numeric_fields=["bal"],
            nested_fields={"orders": {"keyword": ["status", "priority"],
                                      "numeric": ["total"]}})
        return out.select(F.col("doc_id").cast("long"),
                          F.col("query_id").cast("long"))

    q["percolate_nested"] = percolate_nested_q

    def percolate_verify_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.percolate import percolate_verified

        out = percolate_verified(
            s, _t(s, d, "documents"), PERCOLATE_VERIFY_STORED,
            text_fields=["text"], keyword_fields=["lang", "source"],
            numeric_fields=["n_chars"])
        return out.select(F.col("doc_id").cast("long"),
                          F.col("query_id").cast("long"))

    q["percolate_verify"] = percolate_verify_q

    def match_phrase_slop_q(s: SparkSession, d: str) -> DataFrame:
        # filter-context sloppy phrase (Lucene PhraseQuery slop
        # semantics: offset-shifted positions fit a slop-wide window;
        # transposition costs 2) — SQL twin is a token-position join
        from elasticsearch_spark.search.dsl import filter_query

        docs = _t(s, d, "documents")
        cases = [
            (1, {"match_phrase": {"text": {"query": "fast table",
                                           "slop": 0}}}),
            (2, {"match_phrase": {"text": {"query": "fast table",
                                           "slop": 2}}}),
            (3, {"match_phrase": {"text": {"query": "data stream filter",
                                           "slop": 1}}}),
        ]
        out = None
        for qid, dsl in cases:
            part = (filter_query(docs, dsl)
                    .select(F.col("doc_id").cast("long"),
                            F.lit(qid).cast("int").alias("qid")))
            out = part if out is None else out.unionByName(part)
        return out

    q["match_phrase_slop"] = match_phrase_slop_q

    def percolate_spans_q(s: SparkSession, d: str) -> DataFrame:
        # span stored queries through the percolator verify path
        # (SpanNearQuery / SpanFirstQuery / SpanOrQuery semantics as
        # compiled position-array predicates)
        from elasticsearch_spark.search.percolate import percolate_verified

        stored = [
            (1, {"span_near": {"clauses": [
                {"span_term": {"text": "data"}},
                {"span_term": {"text": "filter"}}],
                "slop": 2, "in_order": True}}),
            (2, {"span_near": {"clauses": [
                {"span_term": {"text": "table"}},
                {"span_term": {"text": "join"}}],
                "slop": 1, "in_order": False}}),
            (3, {"span_first": {"match": {"span_term": {"text": "key"}},
                                "end": 3}}),
            (4, {"span_or": {"clauses": [
                {"span_term": {"text": "stream"}},
                {"span_term": {"text": "merge"}}]}}),
            # nested composition: span_or under span_near (full span
            # algebra on the verify path)
            (5, {"span_near": {"clauses": [
                {"span_or": {"clauses": [
                    {"span_term": {"text": "stream"}},
                    {"span_term": {"text": "merge"}}]}},
                {"span_term": {"text": "table"}}],
                "slop": 3, "in_order": True}}),
            # span_not: ordered pair with no 'key' inside the span
            (6, {"span_not": {
                "include": {"span_near": {"clauses": [
                    {"span_term": {"text": "table"}},
                    {"span_term": {"text": "join"}}],
                    "slop": 2, "in_order": True}},
                "exclude": {"span_term": {"text": "key"}}}}),
        ]
        out = percolate_verified(
            s, _t(s, d, "documents"), stored, text_fields=["text"])
        return out.select(F.col("doc_id").cast("long"),
                          F.col("query_id").cast("long"))

    q["percolate_spans"] = percolate_spans_q

    DECOMP_DICT = ["col", "umn", "wind", "order", "val", "ream", "park"]

    def analyze_decompound_q(s: SparkSession, d: str) -> DataFrame:
        # dictionary_decompounder over the corpus token stream
        # (filters.dictionary_decompounder_filter semantics: token len
        # >= min_word_size, dict word a strict substring, ONE EMIT PER
        # MATCHING START OFFSET as DictionaryCompoundWordTokenFilter
        # does) expressed as a broadcast contains-join + a codegen
        # higher-order offset count so the token stream never collects
        docs = _t(s, d, "documents")
        toks = docs.select(
            F.explode(F.regexp_extract_all(
                F.lower("text"), F.lit("[a-z0-9_]+"), 0)).alias("tok")
        ).where(F.length("tok") >= 5)
        words = s.createDataFrame([(w,) for w in DECOMP_DICT], "word string")
        n_occ = F.expr(
            "size(filter(sequence(1, length(tok) - length(word) + 1), "
            "i -> substring(tok, i, length(word)) = word))")
        return (
            toks.join(F.broadcast(words),
                      F.col("tok").contains(F.col("word"))
                      & (F.col("tok") != F.col("word")))
            .groupBy("word").agg(F.sum(n_occ).alias("occurrences"))
        )

    q["analyze_decompound"] = analyze_decompound_q

    HYPH_DICT = ["cus", "tomer", "vec", "tor", "win", "dow", "fil", "ter"]

    def analyze_hyphen_decompound_q(s: SparkSession, d: str) -> DataFrame:
        # hyphenation_decompounder with inline Liang patterns
        # ("1to", "1do", "l1t") re-expressed in Catalyst: a marker char
        # at every odd break point -> syllable split -> all consecutive
        # syllable SPANS -> dictionary + size check -> grouped counts.
        # Parity with filters.hyphenation_decompounder_filter on the
        # same patterns is asserted in tests/test_filters.py.
        docs = _t(s, d, "documents")
        toks = docs.select(
            F.explode(F.regexp_extract_all(
                F.lower("text"), F.lit("[a-z0-9_]+"), 0)).alias("tok")
        ).where(F.length("tok") >= 5)
        marked = F.regexp_replace(F.regexp_replace(F.regexp_replace(
            F.col("tok"), "to", "\x01to"), "do", "\x01do"), "lt", "l\x01t")
        sylls = F.filter(F.split(marked, "\x01"),
                         lambda x: x != F.lit(""))
        spans = F.expr(
            "flatten(transform(sequence(1, size(ss)), a -> "
            "transform(sequence(a, size(ss)), b -> "
            "array_join(slice(ss, a, b - a + 1), ''))))")
        return (
            toks.withColumn("ss", sylls)
            .select("tok", F.explode(spans).alias("word"))
            .where((F.col("word") != F.col("tok"))
                   & (F.length("word") >= 3) & (F.length("word") <= 15)
                   & F.col("word").isin(HYPH_DICT))
            .groupBy("word").agg(F.count("*").alias("occurrences"))
        )

    q["analyze_hyphen_decompound"] = analyze_hyphen_decompound_q

    def rank_feature_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import (
            feature_topk, rank_feature_score,
        )

        docs = _t(s, d, "documents")
        out = feature_topk(
            docs, rank_feature_score("n_chars", saturation_pivot=200.0), k=10
        )
        return out.select("doc_id", F.round("score", 6).alias("score"))

    q["rank_feature"] = rank_feature_q

    def distance_feature_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import (
            distance_feature_score, feature_topk,
        )

        docs = _t(s, d, "documents")
        out = feature_topk(
            docs, distance_feature_score("n_chars", origin=300, pivot=50), k=10
        )
        return out.select("doc_id", F.round("score", 6).alias("score"))

    q["distance_feature"] = distance_feature_q

    def completion_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.executor import completion_suggest

        idx = _doc_index(s, d)
        return completion_suggest(idx, "text", "s", size=5)

    q["completion_suggest"] = completion_q

    def _suggestions(s: SparkSession, d: str) -> DataFrame:
        # deterministic suggestion table both engines derive from
        # documents: the first 5 tokens as suggestions, n_chars as
        # weight, (lang, source) as category contexts
        return _t(s, d, "documents").select(
            F.explode(F.expr(
                "slice(regexp_extract_all(lower(text), '[a-z0-9_]+', 0), 1, 5)"
            )).alias("suggestion"),
            F.col("n_chars").cast("long").alias("weight"),
            F.array("lang", "source").alias("contexts"),
        ).where(F.length("suggestion") > 0)

    def completion_fuzzy_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.completion import completion_suggest

        out = completion_suggest(_suggestions(s, d), "tabel",
                                 size=5, fuzziness=1)
        return out.select("suggestion", F.round("score", 4).alias("score"))

    q["completion_fuzzy"] = completion_fuzzy_q

    def completion_contexts_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.completion import completion_suggest

        out = completion_suggest(
            _suggestions(s, d), "s", size=5,
            contexts={"en": 2.0, "fr": 1.0})
        return out.select("suggestion", F.round("score", 4).alias("score"))

    q["completion_contexts"] = completion_contexts_q

    # geo contexts (GeoContextMapping): suggestion cells from the
    # doc_id-derived point at precision 3; query point + 8 neighbours
    def completion_geo_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.completion import (
            completion_suggest_geo, index_geo_contexts)

        from elasticsearch_spark.spread import spread_input

        sugg = spread_input(_t(s, d, "documents")).select(
            F.explode(F.expr(
                "slice(regexp_extract_all(lower(text), '[a-z0-9_]+', 0), 1, 5)"
            )).alias("suggestion"),
            F.col("n_chars").cast("long").alias("weight"),
            ((F.col("doc_id") % 171 + 171) % 171 - 85)
            .cast("double").alias("lat"),
            ((F.col("doc_id") * 7 % 360 + 360) % 360 - 180)
            .cast("double").alias("lon"),
        ).where(F.length("suggestion") > 0).withColumn(
            "geo_contexts", index_geo_contexts("lat", "lon", 3))
        out = completion_suggest_geo(
            sugg, "s", lat=-83.0, lon=-166.0, size=5, precision=3,
            boost=2.0)
        return out.select("suggestion", F.round("score", 4).alias("score"))

    q["completion_geo"] = completion_geo_q

    def runtime_field_q(s: SparkSession, d: str) -> DataFrame:
        # runtime field (script-on-read, search/runtime/*): a computed
        # column defined at query time, filterable and returnable
        docs = _t(s, d, "documents").withColumn(
            "tokens_per_char",
            F.size(F.expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"))
            / F.col("n_chars"),
        )
        return (
            docs.filter(F.col("tokens_per_char") > 0.18)
            .select("doc_id", F.round("tokens_per_char", 6).alias("tokens_per_char"))
        )

    q["runtime_field"] = runtime_field_q

    def runtime_field_string_q(s: SparkSession, d: str) -> DataFrame:
        # runtime field from a painless script USING String methods
        # (java.lang.String whitelist) — compiled once to codegen SQL
        from elasticsearch_spark.scripts import compile_painless_program

        expr = compile_painless_program(
            "String t = doc['o_orderpriority'].value.trim().toLowerCase();"
            " if (t.contains('urgent') || t.endsWith('low')) {"
            "   return t.substring(2); }"
            " return t.substring(0, 1);")
        li = _t(s, d, "orders").withColumn("tag", F.expr(expr))
        return (li.groupBy("tag")
                .agg(F.count("*").cast("long").alias("doc_count"))
                .orderBy(F.desc("doc_count"), "tag").limit(10))

    q["runtime_field_string"] = runtime_field_string_q

    def terms_lookup_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.dsl import terms_lookup

        urgent = filter_query(
            _t(s, d, "orders"), {"term": {"o_orderpriority": "1-URGENT"}},
            id_col="o_orderkey",
        )
        out = terms_lookup(_t(s, d, "lineitem"), "l_orderkey", urgent, "o_orderkey")
        return out.select("l_orderkey", "l_linenumber")

    q["terms_lookup"] = terms_lookup_q

    def wrapper_q(s: SparkSession, d: str) -> DataFrame:
        import base64
        import json as _json

        inner = {"bool": {"filter": [{"term": {"lang": "en"}},
                                       {"range": {"n_chars": {"lt": 200}}}]}}
        b64 = base64.b64encode(_json.dumps(inner).encode()).decode()
        return filter_query(
            _t(s, d, "documents"), {"wrapper": {"query": b64}}
        ).select("doc_id", "lang", "n_chars")

    q["wrapper_query"] = wrapper_q

    def has_child_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.joins import has_child

        out = has_child(
            _t(s, d, "orders"), _t(s, d, "lineitem"),
            "o_orderkey", "l_orderkey",
            {"range": {"l_quantity": {"gte": 45}}},
            score_mode="sum",
            child_score=F.col("l_quantity"),
            min_children=2,
        )
        return out.select(
            "o_orderkey", F.round("score", 4).alias("score")
        )

    q["has_child"] = has_child_q

    def has_child_inner_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.joins import has_child_inner_hits

        out = has_child_inner_hits(
            _t(s, d, "orders").select("o_orderkey", "o_totalprice"),
            _t(s, d, "lineitem"),
            "o_orderkey", "l_orderkey",
            {"range": {"l_quantity": {"gte": 49}}},
            size=2,
            sort_by=[("l_extendedprice", False), ("l_linenumber", True)],
        )
        return out.select(
            "o_orderkey", "rank", "l_linenumber", "l_quantity",
            F.round("l_extendedprice", 2).alias("l_extendedprice"),
        )

    q["has_child_inner_hits"] = has_child_inner_q

    def has_parent_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.joins import has_parent

        out = has_parent(
            _t(s, d, "orders"), _t(s, d, "lineitem"),
            "o_orderkey", "l_orderkey",
            {"term": {"o_orderpriority": "1-URGENT"}},
            score=True,
            parent_score=F.col("o_totalprice"),
        )
        return out.select(
            "l_orderkey", "l_linenumber", F.round("score", 4).alias("score")
        )

    q["has_parent"] = has_parent_q

    def parent_id_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.joins import parent_id

        return parent_id(_t(s, d, "lineitem"), "l_orderkey", 7).select(
            "l_orderkey", "l_linenumber"
        )

    q["parent_id"] = parent_id_q

    def nested_filter_q(s: SparkSession, d: str) -> DataFrame:
        orders = _t(s, d, "orders")
        items = (
            _t(s, d, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.collect_list(
                F.struct("l_quantity", "l_extendedprice")
            ).alias("items"))
        )
        nested = orders.join(
            items, orders.o_orderkey == items.l_orderkey, "left"
        )
        out = filter_query(
            nested,
            {"nested": {"path": "items", "query": {"bool": {"filter": [
                {"range": {"items.l_quantity": {"gte": 49}}},
                {"range": {"items.l_extendedprice": {"lt": 10000}}},
            ]}}}},
        )
        return out.select("o_orderkey")

    q["nested_filter"] = nested_filter_q

    def nested_agg_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import nested_agg

        orders = _t(s, d, "orders")
        items = (
            _t(s, d, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.collect_list(
                F.struct("l_quantity", "l_returnflag")
            ).alias("items"))
        )
        nested = orders.join(items, orders.o_orderkey == items.l_orderkey)
        out = nested_agg(
            nested, "items",
            {"by_flag": {"terms": {"field": "l_returnflag", "order": {"_key": "asc"},
                                     "key_name": "l_returnflag"},
                          "aggs": {"q": {"sum": {"field": "l_quantity"}}}}},
        )
        return out.select(
            "l_returnflag", "doc_count", F.round("q", 4).alias("q")
        )

    q["nested_agg"] = nested_agg_q

    def inner_hits_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import nested_inner_hits

        orders = _t(s, d, "orders")
        items = (
            _t(s, d, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice")
            ).alias("items"))
        )
        nested = orders.join(items, orders.o_orderkey == items.l_orderkey)
        out = nested_inner_hits(
            nested, "items",
            {"range": {"items.l_quantity": {"gte": 49}}},
            size=2, id_col="o_orderkey",
            sort_by=[("items.l_extendedprice", False),
                     ("items.l_linenumber", True)],
        )
        return out.select(
            "o_orderkey", "rank", "l_linenumber", "l_quantity",
            F.round("l_extendedprice", 2).alias("l_extendedprice"),
        )

    q["inner_hits"] = inner_hits_q

    def reverse_nested_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import reverse_nested_agg

        orders = _t(s, d, "orders")
        items = (
            _t(s, d, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.collect_list(
                F.struct("l_quantity", "l_returnflag")
            ).alias("items"))
        )
        nested = orders.join(items, orders.o_orderkey == items.l_orderkey)
        out = reverse_nested_agg(
            nested, "items", "l_returnflag",
            {"avg_total": ("avg", "o_totalprice")},
            id_col="o_orderkey",
        )
        return out.select(
            "l_returnflag", "doc_count", F.round("avg_total", 4).alias("avg_total")
        ).orderBy("l_returnflag")

    q["agg_reverse_nested"] = reverse_nested_q

    # --- training-data pipeline ops ---
    q["dedup_exact_groups"] = lambda s, d: dedup.exact_duplicate_groups(
        _t(s, d, "documents")
    ).select("digest", "n_dupes", "keep_id")

    q["dedup_ngram_jaccard"] = lambda s, d: dedup.ngram_jaccard_pairs(
        _t(s, d, "documents"), k=2, threshold=0.5
    )

    def decontaminate_q(s: SparkSession, d: str) -> DataFrame:
        docs = _t(s, d, "documents")
        return dedup.ngram_containment(
            docs, docs.filter(F.col("lang") == "zh"), k=2, threshold=0.2
        )

    q["decontaminate_ngram"] = decontaminate_q

    q["dedup_minhash_lsh"] = lambda s, d: dedup.minhash_lsh_pairs(
        _t(s, d, "documents"), k=2, n_hashes=64, bands=32
    )  # rows-only check (hash-permutation seeds not SQL-expressible)

    q["dedup_simhash"] = lambda s, d: dedup.simhash_pairs(
        _t(s, d, "documents"), max_hamming=8
    )  # rows-only check

    # ExactSubstr dedup (Lee et al. 2021): maximal duplicated k-token
    # spans. Casts to long so the value hash can't diverge on int width.
    def dedup_substring_q(s: SparkSession, d: str) -> DataFrame:
        sp = dedup.duplicate_substring_spans(_t(s, d, "documents"), k=15)
        return sp.select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            F.col("n_windows").cast("long").alias("n_windows"),
        )

    q["dedup_substring_spans"] = dedup_substring_q

    def substring_stats_q(s: SparkSession, d: str) -> DataFrame:
        st = dedup.substring_dup_stats(_t(s, d, "documents"), k=15)
        return st.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            "dup_frac",
        )

    q["substring_dup_stats"] = substring_stats_q

    def ann_cosine(s, d):
        emb = _t(s, d, "embeddings")
        qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
        out = similarity.cosine_topk(emb, list(qvec), k=10)
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    q["ann_cosine_topk"] = ann_cosine

    # int8 scalar-quantized knn (Lucene ScalarQuantizer two-phase):
    # integer-dot candidate scan over in-plan codes -> exact rescore
    def ann_int8(s, d):
        emb = _t(s, d, "embeddings")
        qvec = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
        out = similarity.quantized_topk(emb, list(qvec), k=10, oversample=3)
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    q["ann_int8_topk"] = ann_int8

    def ann_batch(s, d):
        emb = _t(s, d, "embeddings")
        qdf = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        out = similarity.cosine_topk_batch(emb, qdf, k=5)
        return out.select(
            "q_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
        )

    q["ann_cosine_batch"] = ann_batch

    q["ann_lsh_self_join"] = lambda s, d: similarity.ann_self_join(
        _t(s, d, "embeddings"), dim=64, k=3, n_planes=8
    ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"), "rank")
    # rows-only check (random hyperplanes not SQL-expressible)

    def ann_ivf(s, d):
        # IVF with nprobe == n_clusters probes every inverted list, so
        # the result is EXACTLY brute force — the deterministic k-means
        # + assignment + probe plumbing all runs, oracle = the plain
        # cosine SQL. Recall at nprobe < n_clusters is pytest-gated.
        emb = _t(s, d, "embeddings")
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == 1).first()["embedding"]]
        out = similarity.ivf_topk(emb, qv, k=10, n_clusters=8, nprobe=8,
                                  iters=1)
        return out.select("vec_id", F.round("cosine", 6).alias("cosine"))

    q["ann_ivf_topk"] = ann_ivf

    def vector_l2_topk(s, d):
        # script_score l2norm (ScoreScriptUtils.java): nearest by
        # euclidean distance to vec_id=2's embedding
        emb = _t(s, d, "embeddings")
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == 2).first()["embedding"]]
        out = similarity.vector_score_topk(emb, qv, fn="l2norm", k=10)
        return out.select("vec_id", F.round("score", 6).alias("score"))

    q["vector_l2norm_topk"] = vector_l2_topk

    def vector_dot_topk(s, d):
        emb = _t(s, d, "embeddings")
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == 2).first()["embedding"]]
        out = similarity.vector_score_topk(emb, qv, fn="dot_product", k=10)
        return out.select("vec_id", F.round("score", 6).alias("score"))

    q["vector_dot_product_topk"] = vector_dot_topk

    def ingest_pipeline_q(s: SparkSession, d: str) -> DataFrame:
        # a representative processor chain (ingest-common): set ->
        # uppercase -> gsub -> split -> fingerprint — all JVM exprs
        from elasticsearch_spark.ops.ingest import apply_pipeline

        docs = _t(s, d, "documents").select("doc_id", "lang", "source")
        out = apply_pipeline(docs, [
            {"set": {"field": "pipe", "value": "v1"}},
            {"uppercase": {"field": "lang"}},
            {"gsub": {"field": "source", "pattern": "src",
                      "replacement": "origin_"}},
            {"split": {"field": "source", "separator": "_"}},
            {"fingerprint": {"fields": ["doc_id", "lang"],
                             "target_field": "fp"}},
        ])
        return out.select(
            "doc_id", "lang", F.col("source").getItem(1).alias("src_num"),
            "pipe", "fp")

    q["ingest_pipeline"] = ingest_pipeline_q

    def analyze_api_q(s: SparkSession, d: str) -> DataFrame:
        # the _analyze endpoint: run a text through a named analyzer
        # chain, return (token, position) — the engine's full python
        # chain (tokenize -> stop -> stem) vs the SQL-twin chain
        toks = analyze(ANALYZE_TEXT, "english_light")
        return s.createDataFrame(
            [(t, p) for t, p in toks], "token string, position int")

    q["analyze_api"] = analyze_api_q

    # uax_url_email tokenizer: URLs/emails stay single tokens
    def analyze_uax_q(s: SparkSession, d: str) -> DataFrame:
        toks = analyze(UAX_TEXT, "uax_url_email")
        return s.createDataFrame(
            [(t, p) for t, p in toks], "token string, position int")

    q["analyze_uax_url_email"] = analyze_uax_q

    def msearch_q(s: SparkSession, d: str) -> DataFrame:
        # _msearch: several searches in one round trip — one plan, a
        # UNION of independently-scored top-k blocks tagged by slot
        a = _bm25(s, d, "table scan", k=5).withColumn("slot", F.lit(0))
        b = _bm25(s, d, "window merge", k=5).withColumn("slot", F.lit(1))
        return a.unionByName(b).select("slot", "doc_id", "score")

    q["msearch"] = msearch_q

    def rank_eval_q(s: SparkSession, d: str) -> DataFrame:
        # _rank_eval (modules/rank-eval): P@10 / recall@10 / MRR / nDCG
        # over the engine's own top-10, judgments = doc_id % 7 == 0
        from elasticsearch_spark.search.rank_eval import (
            mean_reciprocal_rank, ndcg_at_k, precision_at_k, recall_at_k,
        )

        docs = _t(s, d, "documents")
        ranked = [r["doc_id"] for r in _bm25(s, d, "spark query data",
                                             k=10).collect()]
        relevant = {r["doc_id"] for r in
                    docs.where(F.col("doc_id") % 7 == 0)
                    .select("doc_id").collect()}
        gains = {i: 1.0 for i in relevant}
        row = [(
            round(precision_at_k(ranked, relevant, 10), 6),
            round(recall_at_k(ranked, relevant, 10), 6),
            round(mean_reciprocal_rank(ranked, relevant, 10), 6),
            round(ndcg_at_k(ranked, gains, 10), 6),
        )]
        return s.createDataFrame(
            row, "p_at_10 double, recall_at_10 double, mrr_at_10 double, "
                 "ndcg_at_10 double")

    q["rank_eval"] = rank_eval_q

    def agg_children_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.joins import children_agg

        orders = _t(s, d, "orders")
        items = _t(s, d, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey")
        return children_agg(
            orders, items, "o_orderkey", "o_orderstatus",
            [F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_price")],
        )

    q["agg_children"] = agg_children_q

    def agg_parent_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.joins import parent_agg

        orders = _t(s, d, "orders")
        items = _t(s, d, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey")
        return parent_agg(
            orders, items, "o_orderkey", "l_returnflag",
            [F.round(F.avg("o_totalprice"), 4).alias("avg_total")],
        )

    q["agg_parent"] = agg_parent_q

    def pii_scrub_q(s: SparkSession, d: str) -> DataFrame:
        # testdata carries no PII, so append a deterministic fake
        # email/IP/phone per doc, then scrub — the redaction chain is
        # the operator under test; both engines build the same input
        from elasticsearch_spark.ops.text import pii_scrub

        docs = _t(s, d, "documents").select(
            "doc_id",
            F.concat(
                F.col("text"), F.lit(" contact user"),
                F.col("doc_id").cast("string"), F.lit("@example.com or 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1 tel 415-555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            ).alias("text"),
        )
        return pii_scrub(docs).select("doc_id", "text_scrubbed")

    q["pii_scrub"] = pii_scrub_q

    def boilerplate_lines_q(s: SparkSession, d: str) -> DataFrame:
        # synthesize multi-line docs: a corpus-wide banner plus a
        # 7-way-shared tail (both df > max_df -> stripped) around a
        # per-doc-unique body line (kept verbatim)
        from elasticsearch_spark.ops.text import remove_boilerplate_lines

        did = F.col("doc_id")
        docs = _t(s, d, "documents").select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.lit("COPYRIGHT BANNER EVERY DOC"),
                F.concat(did.cast("string"), F.lit(" "), F.col("text")),
                F.format_string("shared tail %d",
                                F.pmod(did, F.lit(7)).cast("int")),
            ).alias("text"))
        out = remove_boilerplate_lines(docs, max_df=10, min_chars=10)
        return out.select("doc_id", "text_clean").orderBy("doc_id")

    q["boilerplate_lines"] = boilerplate_lines_q

    def dedup_url_q(s: SparkSession, d: str) -> DataFrame:
        # URL-keyed dedup: synthesized URLs where doc pairs (2k, 2k+1)
        # differ only by case/tracking-param/fragment noise — the
        # canonical form collapses them to one survivor per pair
        from elasticsearch_spark.ops.text import dedup_by_url

        did = F.col("doc_id")
        docs = _t(s, d, "documents").select(
            "doc_id",
            F.concat(
                F.when(did % 2 == 0, F.lit("https://Example.com/p/"))
                .otherwise(F.lit("https://example.com/p/")),
                (did / F.lit(2)).cast("long").cast("string"),
                F.when(did % 2 == 1,
                       F.lit("?utm_source=feed#top")).otherwise(F.lit("")),
            ).alias("url"))
        out = dedup_by_url(docs)
        return out.orderBy("canonical_url").select(
            "canonical_url", "doc_id")

    q["dedup_url"] = dedup_url_q

    q["text_token_count"] = lambda s, d: text_ops.token_count(
        _t(s, d, "documents")
    ).select("doc_id", "n_tokens")

    q["text_fingerprint"] = lambda s, d: text_ops.fingerprint(
        _t(s, d, "documents")
    ).select("doc_id", "fingerprint")

    q["text_language_id"] = lambda s, d: text_ops.language_id(
        _t(s, d, "documents")
    ).select("doc_id", "lang_pred")

    q["text_quality_score"] = lambda s, d: text_ops.quality_score(
        _t(s, d, "documents")
    ).select("doc_id", "quality")

    q["bool_filter"] = _docs_filter(
        {"bool": {
            "filter": [{"range": {"n_chars": {"gte": 100}}}],
            "must_not": [{"term": {"lang": "zh"}}],
            "should": [{"term": {"lang": "en"}}, {"term": {"lang": "fr"}}],
            "minimum_should_match": 1,
        }},
        ["doc_id", "lang", "n_chars"],
    )

    # -- doc-side geo_shape: WKT shape FIELDS, shape-vs-shape relations
    # (GeoShapeQueryBuilder ShapeRelation over indexed geometries).
    # Docs carry deterministic integer ENVELOPEs; the query envelope's
    # bounds end in .5 so no doc edge can sit exactly on the query
    # boundary (keeps both engines off the touching-edge knife edge).

    def _shape_docs(s: SparkSession, d: str) -> DataFrame:
        did = F.col("doc_id")
        minlon = F.pmod(did * 7, F.lit(300)) - 170
        maxlon = minlon + F.pmod(did, F.lit(23)) + 5
        minlat = F.pmod(did * 3, F.lit(140)) - 80
        maxlat = minlat + F.pmod(did, F.lit(17)) + 4
        return _t(s, d, "documents").select(
            "doc_id",
            F.format_string("ENVELOPE (%d, %d, %d, %d)",
                            minlon.cast("long"), maxlon.cast("long"),
                            maxlat.cast("long"), minlat.cast("long"))
            .alias("shape"),
        )

    DOC_SHAPE_QUERY = "ENVELOPE (-60.5, 70.5, 45.5, -30.5)"

    def doc_geo_shape_q(rel):
        def run(s: SparkSession, d: str) -> DataFrame:
            from elasticsearch_spark.search.geo import doc_geo_shape

            out = doc_geo_shape(_shape_docs(s, d), DOC_SHAPE_QUERY,
                                relation=rel)
            return out.orderBy(F.asc("doc_id")).limit(100)
        return run

    q["doc_geo_shape_intersects"] = doc_geo_shape_q("intersects")
    q["doc_geo_shape_within"] = doc_geo_shape_q("within")

    # BKD analogue: coarse cover-cell index + JVM arrays_overlap
    # prefilter, exact verify on candidates only (GeoShapeIndexer.java)
    def doc_geo_shape_indexed_q(rel):
        def run(s: SparkSession, d: str) -> DataFrame:
            from elasticsearch_spark.search.geo import (
                doc_geo_shape_indexed, index_doc_shapes)

            docs = index_doc_shapes(_shape_docs(s, d), precision=2)
            out = doc_geo_shape_indexed(docs, DOC_SHAPE_QUERY, relation=rel)
            return (out.select("doc_id", "shape")
                    .orderBy(F.asc("doc_id")).limit(100))
        return run

    q["doc_geo_shape_indexed"] = doc_geo_shape_indexed_q("intersects")
    q["doc_geo_shape_indexed_disjoint"] = doc_geo_shape_indexed_q("disjoint")

    # -- cartesian point/shape fields + shape query (x-pack spatial:
    # ShapeQueryBuilder / PointFieldMapper / ShapeFieldMapper): planar
    # (x, y) math, coordinates far outside +-180 (no wrap/clamp)

    def _xy_docs(s: SparkSession, d: str) -> DataFrame:
        did = F.col("doc_id")
        return _t(s, d, "documents").select(
            "doc_id",
            (F.pmod(did * 13, F.lit(2000)) - 1000).cast("double").alias("x"),
            (F.pmod(did * 29, F.lit(2000)) - 1000).cast("double").alias("y"),
        )

    def xy_shape_point_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.xy import xy_shape

        out = xy_shape(_xy_docs(s, d), XY_SHAPE_WKT, "intersects")
        return (out.select("doc_id", "x", "y")
                .orderBy(F.asc("doc_id")).limit(100))

    q["xy_shape_point"] = xy_shape_point_q

    def _xy_shape_docs(s: SparkSession, d: str) -> DataFrame:
        did = F.col("doc_id")
        minx = F.pmod(did * 11, F.lit(160)) - 80
        maxx = minx + F.pmod(did, F.lit(37)) + 10
        miny = F.pmod(did * 5, F.lit(120)) - 60
        maxy = miny + F.pmod(did, F.lit(29)) + 8
        return _t(s, d, "documents").select(
            "doc_id",
            F.format_string("ENVELOPE (%d, %d, %d, %d)",
                            minx.cast("long"), maxx.cast("long"),
                            maxy.cast("long"), miny.cast("long"))
            .alias("shape"),
        )

    def doc_xy_shape_contains_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.xy import doc_xy_shape

        out = doc_xy_shape(_xy_shape_docs(s, d), XY_DOC_QUERY,
                           relation="contains")
        return out.orderBy(F.asc("doc_id")).limit(100)

    q["doc_xy_shape_contains"] = doc_xy_shape_contains_q

    # -- DLS/FLS security (x-pack security authz: DocumentPermissions
    # disjunction + FieldPermissions union pruning at the scan)

    def secured_search_dls_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.security import Role, secured_search

        roles = [
            Role("reader_mid", indices=("docs*",),
                 query={"range": {"n_chars": {"gte": 200, "lt": 800}}},
                 grant=("n_chars", "lang")),
            Role("reader_en", indices=("docs", "logs-*"),
                 query={"term": {"lang": "en"}},
                 grant=("lang", "source")),
        ]
        out = secured_search(_t(s, d, "documents"), roles, index="docs")
        return out.orderBy(F.asc("doc_id")).limit(100)

    q["secured_search_dls"] = secured_search_dls_q

    # -- lookup-backed ingest processors (enrich / geoip / user_agent)

    def ingest_enrich_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops import ingest as ing

        ing.register_enrich_policy(
            "regions", _t(s, d, "region"), "r_regionkey", ["r_name"])
        docs = _t(s, d, "documents").select(
            "doc_id", F.pmod(F.col("doc_id"), F.lit(5)).alias("rkey"))
        out = ing.apply_pipeline(docs, [
            {"enrich": {"policy_name": "regions", "field": "rkey",
                        "target_field": "reg"}},
        ])
        return (out.select("doc_id", F.col("reg.r_name").alias("region_name"))
                .orderBy("doc_id").limit(200))

    q["ingest_enrich"] = ingest_enrich_q

    def ingest_network_direction_q(s: SparkSession, d: str) -> DataFrame:
        # NetworkDirectionProcessor: synthesized endpoints — src
        # alternates private/public by doc_id parity, dst by doc_id%3
        from elasticsearch_spark.ops import ingest as ing

        did = F.col("doc_id")
        docs = _t(s, d, "documents").select(
            "doc_id",
            F.when(did % 2 == 0, F.format_string(
                "10.0.%d.1", F.pmod(did, F.lit(256)).cast("int")))
            .otherwise(F.format_string(
                "8.8.%d.1", F.pmod(did, F.lit(256)).cast("int")))
            .alias("src"),
            F.when(did % 3 == 0, F.format_string(
                "192.168.%d.2", F.pmod(did, F.lit(256)).cast("int")))
            .otherwise(F.format_string(
                "1.1.%d.2", F.pmod(did, F.lit(256)).cast("int")))
            .alias("dst"))
        out = ing.apply_pipeline(docs, [{"network_direction": {
            "source_ip": "src", "destination_ip": "dst",
            "internal_networks": ["private"]}}])
        return out.select("doc_id", "network_direction").orderBy("doc_id")

    q["ingest_network_direction"] = ingest_network_direction_q

    def ingest_geoip_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops import ingest as ing

        db = s.createDataFrame(
            [("10.0.0.0/9", "XA"), ("10.128.0.0/10", "XB"),
             ("203.0.113.0/24", "XC")],
            "network string, country_iso_code string")
        ing.register_geoip_database("default", db)
        did = F.col("doc_id")
        docs = _t(s, d, "documents").select(
            "doc_id",
            F.format_string(
                "10.%d.%d.%d",
                F.pmod(did, F.lit(256)).cast("int"),
                F.pmod(did * 3, F.lit(256)).cast("int"),
                F.pmod(did * 7, F.lit(256)).cast("int")).alias("ip"))
        out = ing.apply_pipeline(docs, [{"geoip": {"field": "ip"}}])
        return (out.select("doc_id", "ip",
                           F.col("geoip.country_iso_code").alias("country"))
                .orderBy("doc_id").limit(200))

    q["ingest_geoip"] = ingest_geoip_q

    def ingest_user_agent_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops import ingest as ing

        docs = _t(s, d, "documents").select(
            "doc_id",
            F.element_at(
                F.array(*[F.lit(u) for u in UA_STRINGS]),
                F.pmod(F.col("doc_id"), F.lit(len(UA_STRINGS)))
                .cast("int") + 1).alias("ua"))
        out = ing.apply_pipeline(docs, [{"user_agent": {"field": "ua"}}])
        return (out.select(
            "doc_id",
            F.col("user_agent.name").alias("browser"),
            F.col("user_agent.version").alias("browser_version"),
            F.col("user_agent.os_name").alias("os_name"),
            F.col("user_agent.os_version").alias("os_version"),
            F.col("user_agent.device").alias("device"))
            .orderBy("doc_id").limit(200))

    q["ingest_user_agent"] = ingest_user_agent_q

    # -- knn search section (KnnSearchBuilder): exact gather, filtered
    # gather, and the knn+query sum-combine

    def _qvec(s: SparkSession, d: str, vid: int) -> list[float]:
        emb = _t(s, d, "embeddings")
        return [float(x) for x in
                emb.filter(F.col("vec_id") == vid).first()["embedding"]]

    def knn_cosine_q(s: SparkSession, d: str) -> DataFrame:
        out = similarity.knn_search(
            _t(s, d, "embeddings"), _qvec(s, d, 3), k=10)
        return out.select("vec_id", F.round("score", 6).alias("score"))

    q["knn_search_cosine"] = knn_cosine_q

    _QVB_TEXT = "merge sorted posting lists into the stream table"

    def knn_text_embedding_q(s: SparkSession, d: str) -> DataFrame:
        # text_embedding inference model + knn query_vector_builder
        # (KnnSearchBuilder.queryVectorBuilder / x-pack ml
        # TextEmbeddingQueryVectorBuilder): docs embedded by the
        # md5-hashed-sign model at ingest, the query text through the
        # SAME model at search time
        from elasticsearch_spark.ops.similarity import (
            embed_texts,
            knn_search,
            register_text_embedding_model,
        )

        from elasticsearch_spark.spread import materialize_fence

        register_text_embedding_model("mini-embed", dims=8,
                                      max_tokens=64)
        docs = _t(s, d, "documents").select("doc_id", "text")
        # fence: the zero-norm filter below would otherwise be pushed
        # under the embedding projection and re-evaluate the md5 folds
        emb = materialize_fence(
            embed_texts(docs, "text", model_id="mini-embed"))
        emb = emb.filter(F.aggregate(
            "embedding", F.lit(0.0), lambda a, x: a + x * x) > 0)
        hits = knn_search(
            emb, None, k=10, id_col="doc_id",
            query_vector_builder={"text_embedding": {
                "model_id": "mini-embed", "model_text": _QVB_TEXT}})
        return hits.select(F.col("doc_id").cast("long"),
                           F.round("score", 6).alias("score"))

    q["knn_text_embedding"] = knn_text_embedding_q

    def knn_l2_filtered_q(s: SparkSession, d: str) -> DataFrame:
        # pre-filter applied DURING candidate collection: only even
        # labels compete for the k slots (not a post-filter of them)
        out = similarity.knn_search(
            _t(s, d, "embeddings"), _qvec(s, d, 3), k=10,
            similarity="l2_norm",
            filter_cond=F.pmod(F.col("label"), F.lit(2)) == 0)
        return out.select("vec_id", F.round("score", 6).alias("score"))

    q["knn_search_l2_filtered"] = knn_l2_filtered_q

    def knn_query_combined_q(s: SparkSession, d: str) -> DataFrame:
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("spark query data", "ascii_word")]
        qhits = match_topk(idx, "text", terms, k=10, params=_EXACT)
        khits = (similarity.knn_search(
                     _t(s, d, "embeddings"), _qvec(s, d, 3), k=10,
                     boost=2.0)
                 .withColumnRenamed("vec_id", "doc_id"))
        out = similarity.combine_knn_query(
            qhits.select("doc_id", "score"), khits, k=10)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["knn_query_combined"] = knn_query_combined_q

    # -- retriever fusion: RRF + linear over a BM25 and a knn child

    def _fusion_children(s: SparkSession, d: str):
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("spark query data", "ascii_word")]
        qhits = match_topk(idx, "text", terms, k=20,
                           params=_EXACT).select("doc_id", "score")
        khits = (similarity.knn_search(
                     _t(s, d, "embeddings"), _qvec(s, d, 3), k=20)
                 .withColumnRenamed("vec_id", "doc_id")
                 .select("doc_id", "score"))
        return qhits, khits

    def retriever_rrf_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.retriever import rrf_fusion

        qhits, khits = _fusion_children(s, d)
        out = rrf_fusion([qhits, khits], rank_constant=60,
                         window_size=20, k=10)
        return out.select("doc_id", F.round("score", 6).alias("score"))

    q["retriever_rrf"] = retriever_rrf_q

    def retriever_linear_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.retriever import linear_fusion

        qhits, khits = _fusion_children(s, d)
        out = linear_fusion([qhits, khits], weights=[0.7, 0.3],
                            normalizers="minmax", window_size=20, k=10)
        return out.select("doc_id", F.round("score", 6).alias("score"))

    q["retriever_linear"] = retriever_linear_q

    # -- embedding-cosine near-dup pairs (exact within-block scorer)

    def dedup_embedding_q(s: SparkSession, d: str) -> DataFrame:
        out = dedup.embedding_cosine_pairs(
            _t(s, d, "embeddings"), threshold=0.25, block_col="label")
        return out.select(
            "id_a", "id_b", F.round("cosine", 6).alias("cosine"))

    q["dedup_embedding_cosine"] = dedup_embedding_q

    # SemDeDup: deterministic lowest-id centroid seeding so the oracle
    # can replicate the assignment; greedy keep-lowest-id per ball.
    q["dedup_semantic"] = lambda s, d: dedup.semantic_dedup(
        _t(s, d, "embeddings"), n_clusters=8, threshold=0.35
    )

    # -- inference + attachment ingest processors

    def ingest_inference_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops import ingest as ing

        ing.register_inference_model(
            "len_clf", kind="classification",
            weights=[0.001], intercept=-0.5,
            feature_fields=["n_chars"],
            classification_labels=["short", "long"])
        docs = _t(s, d, "documents").select("doc_id", "n_chars")
        out = ing.apply_pipeline(docs, [
            {"inference": {"model_id": "len_clf", "target_field": "ml"}},
        ])
        return (out.select(
            "doc_id",
            F.col("ml.predicted_value").alias("predicted"),
            F.round(F.col("ml.prediction_probability"), 6).alias("prob"))
            .orderBy("doc_id").limit(300))

    q["ingest_inference"] = ingest_inference_q

    def ingest_inference_vector_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops import ingest as ing

        ing.register_inference_model(
            "emb_reg", kind="regression", weights=INFER_W,
            intercept=0.25, vector_field="embedding")
        emb = _t(s, d, "embeddings").select("vec_id", "embedding")
        out = ing.apply_pipeline(emb, [
            {"inference": {"model_id": "emb_reg", "target_field": "ml"}},
        ])
        return (out.select(
            "vec_id",
            F.round(F.col("ml.predicted_value"), 6).alias("predicted"))
            .orderBy("vec_id"))

    q["ingest_inference_vector"] = ingest_inference_vector_q

    def ingest_attachment_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops import ingest as ing

        m = F.pmod(F.col("doc_id"), F.lit(3))
        payload = (
            F.when(m == 0, F.concat(
                F.lit("<html><body><h1>"),
                F.substring("text", 1, 40),
                F.lit("</h1> &amp; more</body></html>")))
            .when(m == 1, F.substring("text", 1, 60))
            .otherwise(F.concat(F.lit("%PDF-1.4 "),
                                F.substring("text", 1, 20)))
        )
        docs = _t(s, d, "documents").select(
            "doc_id", F.base64(payload.cast("binary")).alias("data"))
        out = ing.apply_pipeline(docs, [
            {"attachment": {"field": "data"}},
        ])
        return (out.select(
            "doc_id",
            F.col("attachment.content").alias("content"),
            F.col("attachment.content_type").alias("content_type"),
            F.col("attachment.content_length").alias("content_length"))
            .orderBy("doc_id").limit(300))

    q["ingest_attachment"] = ingest_attachment_q

    # -- graph explore (x-pack graph): significant-vertex hops + edges

    def graph_vertices_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.graph import graph_vertices

        out = graph_vertices(
            _t(s, d, "documents"), F.col("n_chars") >= 400, "source",
            size=5, min_doc_count=1)
        return out.select("term", "fg_count", "bg_count",
                          "jlh_num", "jlh_den")

    q["graph_explore_vertices"] = graph_vertices_q

    def graph_connections_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.graph import graph_explore

        out = graph_explore(
            _t(s, d, "documents"), F.col("n_chars") >= 400,
            vertex_field="source", connection_field="lang",
            size=5, min_doc_count=1)
        return out.select("source", "target", "doc_count")

    q["graph_explore_connections"] = graph_connections_q

    # -- _search_mvt aggs layer (grid cells; tile encode is pytest-side)

    def search_mvt_grid_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.mvt import mvt_grid

        out = mvt_grid(_geo_docs(s, d), z=2, x=1, y=1, grid_precision=6)
        return out.select("cell_x", "cell_y", "count")

    q["search_mvt_grid"] = search_mvt_grid_q

    # -- _terms_enum over the index term dictionary

    def terms_enum_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import terms_enum

        idx = _doc_index(s, d)
        return terms_enum(idx, "text", prefix="s", size=10)

    q["terms_enum"] = terms_enum_q

    # -- search template: mustache render -> DSL -> filter plan

    def search_template_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import render_search_template

        body = render_search_template(
            '{"bool": {"filter": [{"term": {"lang": "{{lang}}"}},'
            ' {"range": {"n_chars": {"gte": {{min_chars}}}}}'
            '{{#cap}}, {"range": {"n_chars": {"lte": {{cap}}}}}{{/cap}}]}}',
            {"lang": "en", "min_chars": 300, "cap": 900},
        )
        docs = _t(s, d, "documents")
        return (filter_query(docs, body)
                .select("doc_id", "lang", "n_chars")
                .orderBy("doc_id").limit(200))

    q["search_template"] = search_template_q

    # -- version field type (mapper-version): semver-aware ordering

    def version_sort_q(s: SparkSession, d: str) -> DataFrame:
        did = F.col("doc_id")
        ver = F.concat(
            F.pmod(did, F.lit(3)).cast("string"), F.lit("."),
            F.pmod(did * 7, F.lit(12)).cast("string"), F.lit("."),
            F.pmod(did, F.lit(5)).cast("string"),
            F.when(F.pmod(did, F.lit(4)) == 0, F.lit("-alpha.1"))
            .otherwise(F.lit("")),
        )
        docs = _t(s, d, "documents").select("doc_id", ver.alias("version"))
        return (docs
                .orderBy(F.asc(text_ops.version_sort_key("version")),
                         F.asc("doc_id"))
                .limit(150))

    q["version_sort"] = version_sort_q

    # -- script_fields fetch subphase (ScriptFieldsPhase.java): derived
    #    per-hit values as Catalyst exprs over the fetched columns

    def script_fields_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import script_fields

        hits = _bm25(s, d, "table scan", k=10)
        joined = hits.join(_t(s, d, "documents"), "doc_id")
        out = script_fields(joined, {
            "chars_x2": "n_chars * 2",
            "src_up": F.upper(F.col("source")),
        })
        return out.select("doc_id", "score", "chars_x2", "src_up")

    q["script_fields"] = script_fields_q

    # -- sparse_vector field + script_score (x-pack vectors
    #    ScoreScriptUtils cosineSimilaritySparse): map<int,double>
    #    vectors synthesized deterministically from the embeddings table

    def sparse_vector_cosine_q(s: SparkSession, d: str) -> DataFrame:
        emb = _t(s, d, "embeddings")
        dims = F.sequence(F.lit(0), F.size("embedding") - 1)
        ent = F.filter(
            F.zip_with(dims, F.col("embedding").cast("array<double>"),
                       lambda i, v: F.struct(i.alias("key"),
                                             v.alias("value"))),
            lambda st: F.pmod(st["key"] + F.col("vec_id"), F.lit(5)) == 0)
        sparse = emb.select(
            "vec_id", F.map_from_entries(ent).alias("sparse"))
        out = similarity.sparse_score_topk(
            sparse, SPARSE_QUERY, fn="cosine", k=10)
        return out.select("vec_id", F.round("score", 6).alias("score"))

    q["sparse_vector_cosine"] = sparse_vector_cosine_q

    # -- wildcard field type (x-pack wildcard WildcardFieldMapper):
    #    anchored-3-gram candidate pruning + rlike verification ==
    #    the full-scan answer

    def wildcard_field_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search import wildcard_field as wfld

        docs = _t(s, d, "documents").select(
            "doc_id",
            F.concat_ws("-", "source", "lang",
                        F.pmod(F.col("doc_id"), F.lit(50)).cast("string")
                        ).alias("v"))
        postings = wfld.wildcard_postings(docs, "v")
        out = wfld.wildcard_field_search(postings, docs, "v",
                                         WILDCARD_PATTERN)
        return out.select("doc_id", "v")

    q["wildcard_field"] = wildcard_field_q

    # -- annotated_text mapper (mapper-annotated-text plugin):
    #    [anchor](VALUE) injects VALUE at the anchor's first position

    def annotated_terms_q(s: SparkSession, d: str) -> DataFrame:
        docs = _t(s, d, "documents").select(
            "doc_id",
            F.concat(F.lit("["), F.col("source"), F.lit("](SRC_"),
                     F.upper("lang"), F.lit(") "), F.col("text")
                     ).alias("ann"))

        def run(batches):
            import pandas as pd

            from elasticsearch_spark.analysis import ANALYZERS

            fn = ANALYZERS["annotated_text"]
            for pdf in batches:
                toks = [fn(t) for t in pdf["ann"].fillna("")]
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"],
                    # the injected annotation shares position 0 with the
                    # anchor token; total count = anchor + value + text
                    "ann_token": [next((t for t, p in zip(*tp)
                                        if t.startswith("SRC_")), None)
                                  for tp in toks],
                    "n_tokens": [len(tp[0]) for tp in toks],
                })

        out = docs.mapInPandas(
            run, "doc_id long, ann_token string, n_tokens long")
        return (out.groupBy("ann_token")
                .agg(F.count("*").alias("doc_count"),
                     F.sum("n_tokens").alias("sum_tokens"))
                .orderBy("ann_token"))

    q["annotated_terms"] = annotated_terms_q

    # -- aggregate_metric_double (mapper-aggregate-metric): aggs over
    #    pre-aggregated sub-metric structs == aggs over raw rows

    def aggregate_metric_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops import fields

        li = _t(s, d, "lineitem").withColumn(
            "g", F.pmod("l_suppkey", F.lit(7)))
        pre = fields.pre_aggregate(li, ["l_suppkey", "g"], "l_quantity")
        out = fields.aggregate_metric_agg(pre, ["g"])
        return out.select(
            "g", "min_v", "max_v", F.round("sum_v", 3).alias("sum_v"),
            "value_count", F.round("avg_v", 6).alias("avg_v"))

    q["aggregate_metric_double"] = aggregate_metric_q

    # -- constant_keyword (mapper-constant-keyword): the term filter
    #    resolves against partition directories (PartitionFilters),
    #    zero bytes of non-matching partitions read

    def constant_keyword_q(s: SparkSession, d: str) -> DataFrame:
        import tempfile

        from elasticsearch_spark.ops import fields

        out_dir = tempfile.mkdtemp(prefix="es_ck_")
        docs = _t(s, d, "documents")
        fields.write_constant_keyword(docs, out_dir, "lang")
        hit = fields.constant_keyword_term(s, out_dir, "lang", "de")
        return hit.agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"))

    q["constant_keyword_prune"] = constant_keyword_q

    # -- unsigned_long (mapper-unsigned-long): sort + range under the
    #    unsigned reinterpretation of raw signed-64 bits

    def unsigned_long_q(s: SparkSession, d: str) -> DataFrame:
        from pyspark.sql import Window

        from elasticsearch_spark.ops import fields

        did = F.col("doc_id")
        h = F.when(F.pmod(did, F.lit(3)) == 0,
                   -(did * 1234567 + 1)).otherwise(did * 7654321)
        docs = _t(s, d, "documents").select(
            "doc_id", h.cast("long").alias("h"))
        key = fields.unsigned_long_key("h")
        w = Window.orderBy(key.asc(), F.asc("doc_id"))
        return (docs
                .where(fields.unsigned_range("h", gte=2 ** 63))
                .select("doc_id", "h", key.cast("string").alias("ukey"),
                        F.row_number().over(w).alias("rk"))
                .orderBy("rk").limit(100))

    q["unsigned_long_sort"] = unsigned_long_q

    # -- phonetic (analysis-phonetic, soundex encoder): group doc
    #    tokens by phonetic class, codegen expression on both engines

    def phonetic_match_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.spread import spread_input

        # soundex is a per-token regex chain; spread the 1-row-group
        # scan so it parallelizes (results unchanged: grouped+ordered)
        docs = spread_input(_t(s, d, "documents"))
        toks = docs.select(
            "doc_id", F.explode(text_ops.tokens("text")).alias("token"))
        return (toks
                .where(text_ops.soundex_expr("token") ==
                       text_ops.soundex("merge"))
                .groupBy("token")
                .agg(F.count_distinct("doc_id").alias("n_docs"))
                .orderBy("token"))

    q["phonetic_match"] = phonetic_match_q

    # -- data stream + rollover (x-pack data-streams / ILM): writes
    #    land in the open generation; each forced rollover closes it

    def data_stream_q(s: SparkSession, d: str) -> DataFrame:
        import tempfile

        from elasticsearch_spark.ops.datastream import DataStream

        ev = _t(s, d, "events")
        ds = DataStream(tempfile.mkdtemp(prefix="es_ds_"))
        for i in range(4):
            ds.append(ev.where(F.pmod(F.col("event_id"), F.lit(4)) == i))
            if i < 3:
                ds.rollover(force=True)
        return (ds.read(s)
                .groupBy("_generation")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("value"), 3).alias("sum_value"),
                     F.min("event_id").alias("min_id"),
                     F.max("event_id").alias("max_id"))
                .orderBy("_generation"))

    q["data_stream_rollover"] = data_stream_q

    # -- ES SQL endpoint (x-pack sql): the statement runs on the
    #    native planner; pushdown is Catalyst's, not a translator's

    def essql_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.essql import essql

        return essql(s, ESSQL_STATEMENT, d)

    q["essql"] = essql_q

    # -- ES SQL fulltext: MATCH()/QUERY() predicates resolved through
    #    the BM25 engine, SCORE() as a SQL-visible column
    #    (x-pack/plugin/sql/.../predicate/fulltext/, Score.java)

    def essql_match_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.essql import essql_fulltext

        return essql_fulltext(
            s, ESSQL_FT_MATCH, d, _doc_index(s, d), params=_EXACT)

    q["essql_match"] = essql_match_q

    def essql_match_multi_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.essql import essql_fulltext

        return essql_fulltext(
            s, ESSQL_FT_MULTI, d, _doc_index(s, d), params=_EXACT)

    q["essql_match_multi"] = essql_match_multi_q

    def essql_query_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.essql import essql_fulltext

        return essql_fulltext(
            s, ESSQL_FT_QUERY, d, _doc_index(s, d), params=_EXACT)

    q["essql_query"] = essql_query_q

    # HISTOGRAM() grouping function -> portable date_trunc/floor rewrite
    def essql_histogram_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.essql import essql

        out = essql(s, ESSQL_HIST, d)
        return out.select(
            F.col("day").cast("string").alias("day"), "bin", "n")

    q["essql_histogram"] = essql_histogram_q

    # PIVOT clause (plan/logical/Pivot.java) — shared syntax, direct plan
    def essql_pivot_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.essql import essql

        out = essql(s, ESSQL_PIVOT, d)
        return out.select(
            F.col("month").cast("string").alias("month"),
            "click", "view", "purchase")

    q["essql_pivot"] = essql_pivot_q

    def essql_cursor_q(s: SparkSession, d: str) -> DataFrame:
        # sql.query cursor paging: walk to page 3 via opaque cursors
        # (statement-digest + offset), return that page
        from elasticsearch_spark.ops.essql import essql_page

        sql = ("SELECT o_orderkey, o_totalprice FROM orders "
               "ORDER BY o_orderkey")
        cursor = None
        for _ in range(3):
            page, cursor = essql_page(s, sql, d, fetch_size=40,
                                      cursor=cursor)
        return page.select(F.col("o_orderkey").cast("long"),
                           F.round("o_totalprice", 4)
                           .alias("o_totalprice"))

    q["essql_cursor"] = essql_cursor_q

    def essql_match_or_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.essql import essql_fulltext

        return essql_fulltext(
            s, ESSQL_FT_OR, d, _doc_index(s, d), params=_EXACT)

    q["essql_match_or"] = essql_match_or_q

    def essql_not_match_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.essql import essql_fulltext

        return essql_fulltext(
            s, ESSQL_FT_NOT, d, _doc_index(s, d), params=_EXACT)

    q["essql_not_match"] = essql_not_match_q

    # _split (ShardSplittingQuery analogue): decode -> re-route ->
    # re-encode at 2x shards, no re-analysis; global stats copy
    # verbatim so BM25 scores are bit-identical — certified by running
    # the standard match oracle against the SPLIT index.
    def match_after_split_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.resize import split_index

        idx = _doc_index(s, d)
        tag = os.path.abspath(d).strip("/").replace("/", "_")
        path = os.path.join(_SCRATCH, f"docindex_{tag}_v13_split")
        if not os.path.exists(os.path.join(path, "index_meta.json")):
            split_index(s, idx.path, path, _INDEX_PARTS * 2)
        sidx = load_index(s, path)
        terms = [t for t, _ in analyze("table scan merge", "ascii_word")]
        out = match_topk(sidx, "text", terms, k=10, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["match_after_split"] = match_after_split_q

    # -- ML single-metric anomaly detection (x-pack ml, MAD analogue):
    #    bucket -> median/MAD broadcast -> per-bucket score

    def ml_single_metric_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import single_metric_anomalies

        ev = _t(s, d, "events")
        out = single_metric_anomalies(ev, span="day")
        return out.select(
            F.col("bucket").cast("string").alias("bucket"),
            F.round("metric", 3).alias("metric"),
            F.round("score", 6).alias("score"),
            "is_anomaly").orderBy("bucket")

    q["ml_single_metric"] = ml_single_metric_q

    # multi-metric job: per-entity baseline (partition_field_name)
    def ml_multi_metric_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import multi_metric_anomalies

        ev = _t(s, d, "events")
        out = multi_metric_anomalies(ev, "event_type", span="day")
        return out.select(
            "entity",
            F.col("bucket").cast("string").alias("bucket"),
            F.round("metric", 3).alias("metric"),
            F.round("score", 6).alias("score"),
            "is_anomaly").orderBy("entity", "bucket")

    q["ml_multi_metric"] = ml_multi_metric_q

    # influencers: per-anomalous-bucket influencer field values scored
    # by the deviation share their removal explains
    def ml_influencers_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import influencers

        ev = _t(s, d, "events")
        out = influencers(ev, "event_type", span="day", threshold=1.5)
        return out.select(
            F.col("bucket").cast("string").alias("bucket"),
            "influencer",
            F.round("bucket_score", 6).alias("bucket_score"),
            F.round("influencer_score", 6).alias("influencer_score"),
        ).orderBy("bucket", "influencer")

    q["ml_influencers"] = ml_influencers_q

    # overall buckets: top-n average of per-job scores per bucket
    def ml_overall_buckets_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import (
            multi_metric_anomalies,
            overall_buckets,
        )

        ev = _t(s, d, "events")
        jobs = multi_metric_anomalies(ev, "event_type", span="day")
        out = overall_buckets(jobs, job_col="entity", top_n=2)
        return out.select(
            F.col("bucket").cast("string").alias("bucket"),
            F.round("overall_score", 6).alias("overall_score"),
            F.col("jobs_counted").cast("long").alias("jobs_counted"),
        ).orderBy("bucket")

    q["ml_overall_buckets"] = ml_overall_buckets_q

    # calendar scheduled events: suppress anomaly flags in the window
    def ml_calendar_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import (
            apply_calendar,
            single_metric_anomalies,
        )

        ev = _t(s, d, "events")
        base = single_metric_anomalies(ev, span="day", threshold=1.0)
        cal = apply_calendar(base, [("2024-01-05 00:00:00",
                                     "2024-01-09 00:00:00")])
        return cal.select(
            F.col("bucket").cast("string").alias("bucket"),
            F.round("metric", 3).alias("metric"),
            F.round("score", 6).alias("score"),
            "is_anomaly").orderBy("bucket")

    q["ml_calendar"] = ml_calendar_q

    # detector custom rules: conditional skip_result with entity scope
    def ml_detector_rules_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import (
            apply_detector_rules,
            multi_metric_anomalies,
        )

        ev = _t(s, d, "events")
        base = multi_metric_anomalies(ev, "event_type", span="day",
                                      threshold=1.0)
        out = apply_detector_rules(base, [{
            "actions": ["skip_result"],
            "conditions": [{"applies_to": "actual", "operator": "lt",
                            "value": 3000.0}],
            "scope": {"event_type": {"filter_values": ["click", "view"],
                                     "filter_type": "include"}},
        }], entity_col="event_type")
        return out.select(
            "entity", F.col("bucket").cast("string").alias("bucket"),
            F.round("metric", 3).alias("metric"),
            F.round("score", 6).alias("score"),
            "is_anomaly").orderBy("entity", "bucket")

    q["ml_detector_rules"] = ml_detector_rules_q

    # DFA regression training: one Gram-matrix aggregation + driver
    # solve (exact least squares; single-feature twin = regr_slope)
    def ml_train_regression_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.ml import train_linear_regression

        li = _t(s, d, "lineitem")
        m = train_linear_regression(li, ["l_quantity"], "l_extendedprice")
        return s.createDataFrame(
            [(round(m["intercept"], 3),
              round(m["coefficients"]["l_quantity"], 3), m["n"])],
            "intercept double, c0 double, n long")

    q["ml_train_regression"] = ml_train_regression_q

    # rare function (detector "rare" with by_field): rarity IS the
    # anomaly — (user, event_type) combos seen at most 3 times
    def ml_rare_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import rare_anomalies

        ev = _t(s, d, "events")
        out = rare_anomalies(ev, "event_type", by_col="user_id",
                             max_count=8)
        return out.select(
            "user_id", "event_type", "count",
            F.round("score", 6).alias("score"),
        ).orderBy("user_id", "event_type")

    q["ml_rare"] = ml_rare_q

    # count/high_count detector functions: the modelled metric is the
    # per-bucket EVENT RATE; high_ gates alerts to upward deviations
    def ml_high_count_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import count_anomalies

        ev = _t(s, d, "events")
        out = count_anomalies(ev, span="day", side="high")
        return out.select(
            F.col("bucket").cast("string").alias("bucket"), "n",
            F.round("score", 6).alias("score"),
            "is_anomaly").orderBy("bucket")

    q["ml_high_count"] = ml_high_count_q

    # mean metric function (the DetectorFunction MEAN family)
    def ml_metric_mean_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import single_metric_anomalies

        ev = _t(s, d, "events")
        out = single_metric_anomalies(ev, span="day", func="mean")
        return out.select(
            F.col("bucket").cast("string").alias("bucket"),
            F.round("metric", 4).alias("metric"),
            F.round("score", 6).alias("score"),
            "is_anomaly").orderBy("bucket")

    q["ml_metric_mean"] = ml_metric_mean_q

    # time_of_day: information-content profile of the daily cycle
    def ml_time_of_day_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import time_of_day_anomalies

        ev = _t(s, d, "events")
        out = time_of_day_anomalies(ev, threshold=3.5)
        return out.select(
            "hour_of_day", "n", F.round("score", 6).alias("score"),
            "is_anomaly").orderBy("hour_of_day")

    q["ml_time_of_day"] = ml_time_of_day_q

    # distinct_count: per-bucket count(DISTINCT user_id) as the metric
    def ml_distinct_count_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import (
            distinct_count_anomalies,
        )

        ev = _t(s, d, "events")
        out = distinct_count_anomalies(ev, "user_id", span="day")
        return out.select(
            F.col("bucket").cast("string").alias("bucket"), "n_distinct",
            F.round("score", 6).alias("score"),
            "is_anomaly").orderBy("bucket")

    q["ml_distinct_count"] = ml_distinct_count_q

    # DFA classification training: Gaussian naive Bayes — training is
    # ONE groupBy(label) aggregation; scoring is a pure codegen argmax
    # over rounded literal parameters (ops/ml.py train_gaussian_nb)
    def ml_train_classification_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.ml import (
            gaussian_nb_classify,
            train_gaussian_nb,
        )

        ev = _t(s, d, "events")
        feat = ev.select(
            "event_id", "event_type",
            F.col("value").cast("double").alias("f_value"),
            F.length("props").cast("double").alias("f_plen"),
            (F.col("user_id") % 97).cast("double").alias("f_umod"),
        )
        model = train_gaussian_nb(
            feat, ["f_value", "f_plen", "f_umod"], "event_type")
        pred = gaussian_nb_classify(feat, model)
        return (pred.groupBy("pred")
                .agg(F.count("*").alias("doc_count"))
                .orderBy("pred"))

    q["ml_train_classification"] = ml_train_classification_q

    # population job: per-bucket cross-entity baseline (over_field_name)
    def ml_population_anomaly_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import population_anomalies

        ev = _t(s, d, "events")
        out = population_anomalies(ev, "user_id", span="day")
        return out.select(
            F.col("bucket").cast("string").alias("bucket"),
            F.col("entity").cast("long").alias("entity"),
            F.round("metric", 3).alias("metric"),
            F.round("score", 6).alias("score"),
            "is_anomaly").orderBy("bucket", "entity")

    q["ml_population_anomaly"] = ml_population_anomaly_q

    # ml.evaluate_data_frame: deterministic synthetic predictors so both
    # engines derive identical inputs (EvaluateDataFrameAction.java)
    def ml_eval_classification_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.ml import evaluate_classification

        docs = _t(s, d, "documents").withColumn(
            "predicted",
            F.when(F.col("doc_id") % 3 == 0, F.lit("en")).otherwise(
                F.col("lang")),
        )
        out = evaluate_classification(docs, "lang", "predicted")
        return out.select(
            "clazz",
            F.col("n_actual").cast("long").alias("n_actual"),
            F.col("n_predicted").cast("long").alias("n_predicted"),
            F.col("tp").cast("long").alias("tp"),
            F.round("precision", 6).alias("precision"),
            F.round("recall", 6).alias("recall"),
        )

    q["ml_eval_classification"] = ml_eval_classification_q

    def ml_eval_regression_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.ml import evaluate_regression

        ev = _t(s, d, "events").withColumn(
            "predicted", F.col("value") * 0.9 + 5.0)
        out = evaluate_regression(ev, "value", "predicted", huber_delta=1.0)
        return out.select(
            F.round("mse", 6).alias("mse"),
            F.round("rmse", 6).alias("rmse"),
            F.round("mae", 6).alias("mae"),
            F.round("r_squared", 6).alias("r_squared"),
            F.round("huber", 6).alias("huber"),
        )

    q["ml_eval_regression"] = ml_eval_regression_q

    def ml_eval_auc_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.ml import evaluate_auc_roc

        docs = _t(s, d, "documents").select(
            (F.col("lang") == "en").cast("int").alias("y"),
            (F.col("n_chars") % 97).cast("double").alias("s"),
        )
        out = evaluate_auc_roc(docs, "y", "s")
        return out.select(
            F.round("auc", 6).alias("auc"),
            F.col("n_positive").cast("long").alias("n_positive"),
            F.col("n_negative").cast("long").alias("n_negative"),
        )

    q["ml_eval_auc"] = ml_eval_auc_q

    # forecast: Holt linear-trend projection of the modelled series
    # (TransportForecastJobAction) — fit folds in ONE F.aggregate
    def ml_forecast_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.anomaly import forecast_job

        ev = _t(s, d, "events")
        out = forecast_job(ev, span="day", horizon=7)
        return out.select(
            F.col("bucket").cast("string").alias("bucket"),
            F.round("forecast", 4).alias("forecast"),
            F.round("lower", 4).alias("lower"),
            F.round("upper", 4).alias("upper")).orderBy("bucket")

    q["ml_forecast"] = ml_forecast_q

    # -- scaled_float (mapper-extras): integer-exact aggregation over
    #    the scaled longs, one division at the end

    def scaled_float_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops import fields

        li = _t(s, d, "lineitem").select(
            "l_returnflag",
            fields.scaled_float_store("l_extendedprice", 100).alias("sp"))
        return (li.groupBy("l_returnflag")
                .agg((F.sum("sp") / 100.0).alias("sum_price"),
                     F.count("*").alias("n"))
                .select("l_returnflag",
                        F.round("sum_price", 2).alias("sum_price"), "n")
                .orderBy("l_returnflag"))

    q["scaled_float_agg"] = scaled_float_q

    # -- range FIELD type (RangeFieldMapper): per-doc interval column,
    #    relation queries are pure codegen predicates over the bounds

    def range_field_relation_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops import fields

        li = _t(s, d, "lineitem").select(
            fields.range_struct(
                F.col("l_shipdate"),
                F.date_add("l_shipdate", F.col("l_linenumber") * 5),
            ).alias("r"))
        qlo, qhi = F.lit("1995-06-01").cast("date"), \
            F.lit("1995-06-30").cast("date")
        return li.agg(
            F.sum(fields.range_query("r", qlo, qhi, "intersects")
                  .cast("long")).alias("n_intersects"),
            F.sum(fields.range_query("r", qlo, qhi, "within")
                  .cast("long")).alias("n_within"),
            F.sum(fields.range_query("r", qlo, qhi, "contains")
                  .cast("long")).alias("n_contains"))

    q["range_field_relation"] = range_field_relation_q

    # -- histogram field (x-pack analytics): percentiles/metrics over
    #    pre-aggregated (values, counts) doc values

    def histogram_field_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops import fields

        li = _t(s, d, "lineitem")
        per = (li.groupBy("l_suppkey", "l_quantity").count()
               .groupBy("l_suppkey")
               .agg(F.sort_array(F.collect_list(
                   F.struct("l_quantity", "count"))).alias("p"))
               .select("l_suppkey", fields.histogram_struct(
                   F.col("p.l_quantity"), F.col("p.count")).alias("hist"))
               .withColumn("g", F.pmod("l_suppkey", F.lit(5))))
        out = fields.histogram_agg(per, ["g"])
        return out.select(
            "g", "min_v", "max_v", F.round("sum_v", 3).alias("sum_v"),
            "value_count", F.round("avg_v", 6).alias("avg_v"),
            "pct_v").orderBy("g")

    q["histogram_field_pct"] = histogram_field_q

    # -- flattened field (server/.../mapper/flattened/
    #    FlattenedFieldMapper.java): whole-JSON-object keyed pairs;
    #    the nested object is built from event columns so both engines
    #    see the identical JSON

    def _flattened_pairs(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search import flattened as fl
        from elasticsearch_spark.spread import spread_input

        # per-row JSON flattening parallelizes across the spread scan
        ev = spread_input(_t(s, d, "events"))
        j = F.concat(F.lit('{"et":"'), F.col("event_type"),
                     F.lit('","nest":'), F.col("props"), F.lit("}"))
        return ev.select("event_id", fl.flattened(j).alias("f"))

    def flattened_keyed_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search import flattened as fl

        df = _flattened_pairs(s, d)
        return (df.where(fl.keyed_term("f", "nest.k", "12"))
                .select("event_id",
                        fl.keyed_value("f", "et").alias("et"))
                .orderBy("event_id"))

    q["flattened_keyed_term"] = flattened_keyed_q

    def flattened_terms_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search import flattened as fl

        df = _flattened_pairs(s, d)
        # root term "7" matches ANY leaf — here only nest.k can be "7"
        return fl.keyed_terms_agg(
            df.where(fl.root_term("f", "7")), "f", "et", size=10)

    q["flattened_terms_agg"] = flattened_terms_q

    # -- _msearch as ONE job: the batched scorer shares the postings
    #    scan and per-partition term split across every slot

    def msearch_batch_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.executor import match_topk_batch

        idx = _doc_index(s, d)
        tls = [[t for t, _ in analyze(x, "ascii_word")]
               for x in ("table scan", "window merge", "spark query data")]
        out = match_topk_batch(idx, "text", tls, k=5, params=_EXACT)
        return out.select("query_id", "doc_id",
                          F.round("score", 4).alias("score"))

    q["msearch_batch"] = msearch_batch_q

    # -- _msearch/template: mustache render x N -> ONE batched job

    def msearch_template_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import msearch_template

        idx = _doc_index(s, d)
        tpl = '{"match": {"text": "{{w1}}{{#w2}} {{w2}}{{/w2}}"}}'
        out = msearch_template(
            idx, "text",
            [(tpl, {"w1": "table", "w2": "scan"}),
             (tpl, {"w1": "window", "w2": "merge"}),
             (tpl, {"w1": "spark", "w2": ""})],
            k=5, analyzer="ascii_word", params=_EXACT)
        return out.select("query_id", "doc_id",
                          F.round("score", 4).alias("score"))

    q["msearch_template"] = msearch_template_q

    # -- token_count field (mapper-extras TokenCountFieldMapper):
    #    index-time analyzed-token count, range-queried like any int

    def token_count_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.fields import token_count_field

        docs = _t(s, d, "documents")
        tc = docs.select(
            "doc_id", token_count_field("text", "ascii_word").alias("n_tokens"))
        return (tc.where((F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 25))
                .orderBy("doc_id"))

    q["token_count_range"] = token_count_q

    # -- rank_features field (mapper-extras RankFeaturesFieldMapper):
    #    sparse feature map, per-feature saturation scoring, top-k

    def rank_features_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import rank_features_score

        ev = _t(s, d, "events")
        feats = ev.select(
            "event_id",
            F.create_map(
                F.lit("engagement"), F.col("value").cast("double"),
                F.lit("spam"),
                F.get_json_object("props", "$.k").cast("double"),
            ).alias("feats"))
        scored = feats.select(
            "event_id",
            (rank_features_score("feats", "engagement",
                                 saturation_pivot=50.0)
             + rank_features_score("feats", "spam",
                                   positive_score_impact=False,
                                   saturation_pivot=10.0)).alias("score"))
        return (scored.where(F.col("score").isNotNull())
                .select("event_id", F.round("score", 6).alias("score"))
                .orderBy(F.desc("score"), F.asc("event_id")).limit(20))

    q["rank_features_topk"] = rank_features_q

    # -- watcher (x-pack/plugin/watcher): input search -> array_compare
    #    condition over the agg buckets -> index-action alert rows

    def watcher_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.watcher import Watch, compare, execute_watch

        def input_fn(spark: SparkSession) -> DataFrame:
            return (_t(spark, d, "events")
                    .groupBy(F.date_trunc("day", "ts").alias("day"),
                             "event_type")
                    .agg(F.count("*").alias("doc_count"),
                         F.round(F.avg("value"), 3).alias("avg_value")))

        w = Watch("daily_spike", input_fn,
                  compare("doc_count", "gte", 80), "some")
        out = execute_watch(s, w)
        return (out.select("watch_id",
                           F.col("day").cast("date").cast("string")
                           .alias("day"),
                           "event_type", "doc_count", "avg_value")
                .orderBy("day", "event_type"))

    q["watcher_alerts"] = watcher_q

    # -- ML data-frame analytics outlier detection (x-pack/plugin/
    #    core/.../dataframe/analyses/OutlierDetection.java): mean-kNN-
    #    distance scores over the embedding table

    def ml_outlier_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.ml import outlier_detection

        emb = _t(s, d, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias(
                "embedding"))
        out = outlier_detection(emb, n_neighbors=5, method="distance_knn")
        return (out.select("vec_id",
                           F.round("outlier_score", 6).alias("outlier_score"))
                .orderBy(F.desc("outlier_score"), F.asc("vec_id")).limit(20))

    q["ml_outlier_knn"] = ml_outlier_q

    # -- trained-model tree-ensemble inference (x-pack/plugin/core/
    #    .../inference/trainedmodel/ensemble/Ensemble.java): the model
    #    folds into CASE WHEN codegen; bucketized predictions

    def ml_tree_infer_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.ml import ensemble_infer

        model = {
            "trained_models": [
                {"nodes": [
                    {"node_index": 0, "split_feature": 0,
                     "threshold": 100.0, "left_child": 1, "right_child": 2},
                    {"leaf_value": 1.0},
                    {"node_index": 2, "split_feature": 1,
                     "threshold": 50.0, "left_child": 3, "right_child": 4},
                    {"leaf_value": 2.0},
                    {"leaf_value": 3.0},
                ]},
                {"nodes": [
                    {"node_index": 0, "split_feature": 1,
                     "threshold": 25.0, "left_child": 1, "right_child": 2,
                     "default_left": False},
                    {"leaf_value": 10.0},
                    {"leaf_value": 20.0},
                ]},
            ],
            "aggregate_output": {"weighted_sum": {"weights": [0.5, 1.0]}},
        }
        ev = _t(s, d, "events").select(
            F.col("value").alias("f0"),
            F.get_json_object("props", "$.k").cast("double").alias("f1"))
        pred = ensemble_infer(model, ["f0", "f1"])["predicted_value"]
        return (ev.select(pred.alias("predicted_value"))
                .groupBy("predicted_value")
                .agg(F.count("*").alias("n"))
                .orderBy("predicted_value"))

    q["ml_tree_infer"] = ml_tree_infer_q

    # -- _termvectors (server/.../action/termvectors/
    #    TermVectorsService.java): one doc's (term, term_freq,
    #    positions) — part_id + block-range pruned single-doc lookup

    def termvectors_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import termvectors

        idx = _doc_index(s, d)
        return termvectors(idx, "text", 42).select(
            "term", "term_freq", "positions")

    q["termvectors"] = termvectors_q

    # -- significance heuristics beyond JLH (SearchModule.java:711-714)

    def sig_chi2_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import significant_terms

        docs = _t(s, d, "documents")
        out = significant_terms(
            docs, "lang", F.col("n_chars") >= 300, size=10,
            min_doc_count=3, heuristic="chi_square",
            include_negatives=True)
        return out.select("term", "fg_count", "bg_count",
                          F.round("score", 6).alias("score"))

    q["significant_terms_chi2"] = sig_chi2_q

    def sig_pct_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import significant_terms

        docs = _t(s, d, "documents")
        out = significant_terms(
            docs, "source", F.col("lang") == "en", size=10,
            min_doc_count=3, heuristic="percentage")
        return out.select("term", "fg_count", "bg_count",
                          F.round("score", 6).alias("score"))

    q["significant_terms_pct"] = sig_pct_q

    # -- geo_line agg (x-pack spatial GeoLineAggregationBuilder):
    #    per-bucket sort-ordered LineString, truncated at size

    def geo_line_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import geo_line_agg

        docs = _t(s, d, "documents").withColumn(
            "lat", (F.pmod(F.col("doc_id"), F.lit(171)) - 85).cast("double")
        ).withColumn(
            "lon", (F.pmod(F.col("doc_id") * 7, F.lit(360)) - 180)
            .cast("double"))
        return geo_line_agg(
            docs, ["lang"], "lat", "lon", "doc_id", size=5).orderBy("lang")

    q["agg_geo_line"] = geo_line_q

    # -- terms agg include regex (bucket/terms/IncludeExclude.java:
    #    whole-term-anchored pattern)

    def terms_include_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.translate import aggregate

        docs = _t(s, d, "documents")
        spec = {"t": {"terms": {"field": "lang", "size": 10,
                                "include": "e.*|d.*"}}}
        return aggregate(docs, spec)

    q["agg_terms_include"] = terms_include_q

    # -- bucket_correlation pipeline agg (x-pack ml
    #    CountCorrelationFunction): indicator = value-histogram keys,
    #    correlating counts = clicks per bucket

    def ml_bucket_corr_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.analytics import bucket_count_correlation

        ev = _t(s, d, "events")
        buckets = (
            ev.groupBy((F.floor(F.col("value") / 50) * 50)
                       .cast("double").alias("x"))
            .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                       .otherwise(0)).cast("double").alias("y")))
        n = ev.count()
        out = bucket_count_correlation(buckets, "x", "y", n)
        return out.select(F.round("correlation", 6).alias("correlation"))

    q["ml_bucket_correlation"] = ml_bucket_corr_q

    # -- match_only_text similarity (mapper-extras
    #    MatchOnlyTextFieldMapper: freqs + norms omitted, score =
    #    sum of matched terms' BM25 idf)

    def match_only_text_q(s: SparkSession, d: str) -> DataFrame:
        idx = _doc_index(s, d)
        terms = [t for t, _ in analyze("table scan merge", "ascii_word")]
        out = match_topk(
            idx, "text", terms, k=15,
            params=BM25Params(quantize_norms=False,
                              similarity="match_only_text"))
        return out.select("doc_id", F.round("score", 6).alias("score"))

    q["match_only_text"] = match_only_text_q

    # -- index sorting (index.sort.field / IndexSortConfig): a sorted
    #    index over documents.text with n_chars as the sort key; a
    #    range filter on n_chars becomes a doc-id range the scorer
    #    skips blocks against (Lucene sorted-index early termination)

    def _sorted_doc_index(s: SparkSession, d: str):
        from elasticsearch_spark.index.builder import assign_sorted_doc_ids

        tag = os.path.abspath(d).strip("/").replace("/", "_")
        path = os.path.join(_SCRATCH, f"sorted_docindex_{tag}_v2")
        map_path = os.path.join(path, "docmap")
        if not os.path.exists(os.path.join(path, "index_meta.json")):
            docs = _t(s, d, "documents").withColumnRenamed(
                "doc_id", "orig_id")
            ranked = assign_sorted_doc_ids(
                docs, "n_chars", ["orig_id"], num_ranges=8)
            ranked.select("doc_id", "orig_id", "n_chars").write.mode(
                "overwrite").parquet(map_path)
            build_index(ranked, path, fields={"text": "ascii_word"},
                        num_partitions=8, input_snapshot="sorted-v1")
        return load_index(s, path), s.read.parquet(map_path)

    def sorted_range_match_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.executor import doc_id_range_for

        idx, mapping = _sorted_doc_index(s, d)
        lo, hi = doc_id_range_for(mapping, "n_chars", 300, 900)
        terms = [t for t, _ in analyze("table scan data", "ascii_word")]
        out = match_topk(idx, "text", terms, k=None, params=_EXACT,
                         allowed_range=(lo, hi))
        res = out.join(mapping, "doc_id").select(
            F.col("orig_id").alias("doc_id"),
            F.round("score", 4).alias("score"))
        return res.orderBy(F.desc("score"), F.asc("doc_id")).limit(15)

    q["sorted_index_range_match"] = sorted_range_match_q

    # -- painless script_score (modules/lang-painless: the default
    #    script lang, compiled to Catalyst by scripts.compile_painless)

    def script_score_painless_q(s: SparkSession, d: str) -> DataFrame:
        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        hits = search(
            idx, docs,
            {"function_score": {
                "query": {"match": {"text": "table"}},
                "functions": [
                    {"script_score": {"script": {
                        "source": ("Math.log(1 + doc['n_chars'].value)"
                                   " * params.w"
                                   " + (doc['lang'].value == 'en'"
                                   " ? 0.5 : 0.0)"),
                        "params": {"w": 0.25},
                    }}},
                ],
                "boost_mode": "sum",
            }},
            k=10, params=_EXACT,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    q["script_score_painless"] = script_score_painless_q

    # lucene-expression engine ("lang": "expression"): unprefixed math
    # fns + logn rewrite through the same SQL pipeline
    def script_score_expression_q(s: SparkSession, d: str) -> DataFrame:
        idx = _doc_index(s, d)
        docs = _t(s, d, "documents")
        hits = search(
            idx, docs,
            {"function_score": {
                "query": {"match": {"text": "table"}},
                "functions": [
                    {"script_score": {"script": {
                        "lang": "expression",
                        "source": ("logn(2, 1 + doc['n_chars'].value)"
                                   " * params.w"
                                   " + sqrt(abs(doc['n_chars'].value))"
                                   " / 100"),
                        "params": {"w": 0.125},
                    }}},
                ],
                "boost_mode": "sum",
            }},
            k=10, params=_EXACT,
        )
        return hits.select("doc_id", F.round("score", 4).alias("score"))

    q["script_score_expression"] = script_score_expression_q

    # -- painless STATEMENT subset in _update_by_query context:
    #    locals, for-each over a params list (compile-time unroll),
    #    if/else-if chain, ctx._source mutation, ctx.op noop/delete
    #    (UpdateHelper.java contract; compiled to pure CASE WHEN
    #    projections by scripts.compile_painless_update)

    def update_by_query_painless_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.scan import apply_update_script

        li = _t(s, d, "lineitem")
        script = {
            "source": (
                "def bump = 0.0;"
                " for (def st : params.steps) { bump = bump + st; }"
                " if (ctx._source.l_quantity >= params.hi) {"
                "   ctx._source.l_extendedprice ="
                "     ctx._source.l_extendedprice * (1.0 + bump);"
                "   ctx._source.l_returnflag = 'H';"
                " } else if (ctx._source.l_quantity <= params.lo) {"
                "   ctx.op = 'delete';"
                " } else { ctx.op = 'noop'; }"),
            "params": {"steps": [0.05, 0.05], "hi": 45, "lo": 2},
        }
        out = apply_update_script(li, script)
        return (out.select(
                    "l_orderkey", "l_linenumber", "l_returnflag",
                    F.round("l_extendedprice", 2).alias("price"))
                .orderBy("l_orderkey", "l_linenumber").limit(200))

    q["update_by_query_painless"] = update_by_query_painless_q

    def update_by_query_fn_q(s: SparkSession, d: str) -> DataFrame:
        # painless USER-DEFINED FUNCTIONS (modules/lang-painless function
        # grammar): bodies inline at call sites during symbolic
        # execution, so the whole script still compiles to one codegen
        # CASE expression shared with the DuckDB twin.
        from elasticsearch_spark.ops.scan import apply_update_script

        li = _t(s, d, "lineitem")
        script = {
            "source": (
                "double taxed(double p, double r) {"
                "  if (r > 0.05) { return p * (1.0 + r); }"
                "  return p;"
                "}"
                "int tier(int qty) {"
                "  if (qty >= 40) { return 3; }"
                "  if (qty >= 20) { return 2; }"
                "  return 1;"
                "}"
                " ctx._source.l_extendedprice ="
                "   taxed(ctx._source.l_extendedprice, ctx._source.l_tax);"
                " ctx._source.l_linestatus ="
                "   tier(ctx._source.l_quantity) >= 2 ? 'B' : 'S';"),
        }
        out = apply_update_script(li, script)
        return (out.select(
                    "l_orderkey", "l_linenumber", "l_linestatus",
                    F.round("l_extendedprice", 2).alias("price"))
                .orderBy("l_orderkey", "l_linenumber").limit(200))

    q["update_by_query_fn"] = update_by_query_fn_q

    # -- painless loops + Map subset: classic counter for / while /
    #    do-while unroll at compile time (constant-foldable conditions,
    #    locals re-folded to literals each iteration), HashMap locals
    #    with compile-time keys (put/get/getOrDefault/containsKey/size)

    def update_by_query_loop_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.scan import apply_update_script

        li = _t(s, d, "lineitem")
        script = {
            "source": (
                "Map disc = new HashMap();"
                " disc['rate'] = 0.5;"
                " double factor = 0.0;"
                " for (int i = 1; i <= 4; i++) {"
                "   factor += disc.getOrDefault('rate', 0.0) * i; }"
                " int w = 0; long pow2 = 1;"
                " while (w < 3) { pow2 *= 2; w += 1; }"
                " if (disc.containsKey('missing')) {"
                "   ctx._source.adj = 0.0;"
                " } else {"
                "   ctx._source.adj = ctx._source.l_extendedprice"
                "     * (1.0 + factor) + pow2 - disc.size(); }"),
        }
        out = apply_update_script(li, script)
        return (out.select("l_orderkey", "l_linenumber",
                           F.round("adj", 2).alias("adj"))
                .orderBy("l_orderkey", "l_linenumber").limit(200))

    q["update_by_query_loop"] = update_by_query_loop_q

    # -- moving_fn full MovingFunctions model set
    #    (MovingFunctions.java; window excludes the current bucket)

    def agg_moving_fn_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.aggs.movefn import moving_fn

        buckets = aggregate(
            _t(s, d, "orders"),
            {"m": {"date_histogram": {"field": "o_orderdate",
                                        "calendar_interval": "month"},
                    "aggs": {"rev": {"sum": {"field": "o_totalprice"}}}}},
        )
        out = moving_fn(buckets, "rev", "ewma", window=4, alpha=0.3)
        out = moving_fn(out, "rev", "linear_weighted_avg", window=4)
        out = moving_fn(out, "rev", "std_dev", window=4)
        return out.select(
            "key", "doc_count",
            F.round("rev", 4).alias("rev"),
            F.round("rev_ewma", 4).alias("ewma"),
            F.round("rev_linear_weighted_avg", 4).alias("lin"),
            F.round("rev_std_dev", 4).alias("sd"),
        )

    q["agg_moving_fn"] = agg_moving_fn_q

    # -- ML log categorization (ml_classic tokenizer + default
    #    stopwords; category = analyzed token sequence)

    def ml_categorize_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.ml import categorize_messages

        ev = _t(s, d, "events")
        msgs = ev.select(
            F.concat(
                F.lit("Task "), F.col("event_type"),
                F.lit(" finished in "),
                F.floor(F.abs(F.col("value"))).cast("long").cast("string"),
                F.lit(" ms"),
            ).alias("message"))
        return categorize_messages(msgs, "message")

    q["ml_categorize"] = ml_categorize_q

    # -- _mtermvectors (TransportMultiTermVectorsAction: one scan
    #    serves every requested id)

    def mtermvectors_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import mtermvectors

        idx = _doc_index(s, d)
        return mtermvectors(idx, "text", [7, 42, 99]).select(
            "doc_id", "term", "term_freq", "positions")

    q["mtermvectors"] = mtermvectors_q

    # -- EQL pipes (Head.java / Tail.java): TakeOrderedAndProject over
    #    the matched-sequence frame

    def eql_head_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.eql import pipe, sequence

        ev = _t(s, d, "events")
        m = sequence(ev, ["click", "purchase"], maxspan_seconds=86400)
        return pipe(m, "head", 5).select(
            "user_id", "id_0", "id_1",
            F.col("ts_0").cast("string").alias("ts0"))

    q["eql_pipe_head"] = eql_head_q

    # -- explain API (fetch/subphase/ExplainPhase.java): per-(doc,
    #    term) BM25 component breakdown for chosen hits

    def explain_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.extras import explain_scores

        idx = _doc_index(s, d)
        out = explain_scores(idx, "text", ["table", "scan"],
                             [7, 42, 99], params=_EXACT)
        return out.select(
            "doc_id", "term",
            F.round("contribution", 6).alias("contribution"))

    q["explain_api"] = explain_q

    # -- request sort section (ScriptSortBuilder / FieldSortBuilder)

    def sort_section_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.api import sort_hits

        docs = _t(s, d, "documents").where(F.col("lang") == "en")
        out = sort_hits(
            docs,
            [{"_script": {"script": {
                "source": "Math.log(1 + doc['n_chars'].value) * params.w",
                "params": {"w": 2.5}}, "order": "desc"}},
             {"source": {"order": "asc"}}],
            k=15)
        return out.select("doc_id", "n_chars", "source")

    q["sort_section"] = sort_section_q

    # -- dataset assembly: deterministic split + sequence packing
    #    (training-data pipeline ops; portable md5 bucketing)

    def dataset_split_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.dataset import dataset_split

        out = dataset_split(_t(s, d, "documents"), seed="r4")
        return out.groupBy("split").agg(
            F.count("*").alias("doc_count"),
            F.sum("n_chars").alias("chars"))

    q["dataset_split"] = dataset_split_q

    def pack_sequences_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.dataset import pack_sequences

        docs = _t(s, d, "documents").withColumn(
            "n_tokens", F.size(F.expr(
                "regexp_extract_all(lower(text), '[a-z0-9_]+', 0)")))
        packed = pack_sequences(docs, "n_tokens", 512,
                                partition_col="lang")
        return packed.groupBy("lang", "pack_id").agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("tokens"))

    q["pack_sequences"] = pack_sequences_q

    # corpus mixing: per-source deterministic up/downsampling
    def dataset_mix_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.dataset import stratified_sample

        out = stratified_sample(
            _t(s, d, "documents"),
            {"src0": 2.0, "src1": 0.4, "src2": 0.0}, seed="r5")
        return (out.select("doc_id", "source", "copy_id")
                .orderBy("doc_id", "copy_id"))

    q["dataset_mix"] = dataset_mix_q

    # bigram-LM perplexity-proxy quality scoring (CCNet-style filter):
    # train on the en slice, score the de slice, both engines share
    # tokenizer/counts/smoothing exactly
    def quality_lm_nll_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.text import (
            ngram_lm_score, ngram_lm_train)

        docs = _t(s, d, "documents")
        bi, uni, v = ngram_lm_train(docs.filter(F.col("lang") == "en"))
        out = ngram_lm_score(docs.filter(F.col("lang") == "de"), bi, uni, v)
        return (out.select("doc_id", F.round("nll", 4).alias("nll"))
                .orderBy("doc_id"))

    q["quality_lm_nll"] = quality_lm_nll_q

    def dsir_weights_q(s: SparkSession, d: str) -> DataFrame:
        # DSIR importance weights: target domain = lang='en' docs,
        # base = the whole corpus; log_weight > 0 means target-like
        from elasticsearch_spark.ops.text import dsir_weights

        docs = _t(s, d, "documents")
        out = dsir_weights(docs, docs.filter(F.col("lang") == "en"))
        return (out.select("doc_id",
                           F.round("nll_target", 4).alias("nll_target"),
                           F.round("nll_base", 4).alias("nll_base"),
                           F.round("log_weight", 4).alias("log_weight"))
                .orderBy("doc_id"))

    q["dsir_weights"] = dsir_weights_q

    # semantic_text-style chunking: overlapping word windows, pure
    # Catalyst one-projection stage (no shuffle / UDF)
    def chunk_documents_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.dataset import chunk_documents

        out = chunk_documents(_t(s, d, "documents"), size=24, overlap=8)
        return out.select("doc_id", "chunk_id", "n_tokens", "chunk")

    q["chunk_documents"] = chunk_documents_q

    def repetition_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.text import repetition_signals

        return repetition_signals(_t(s, d, "documents")).select(
            "doc_id", "dup_line_frac", "dup_line_char_frac",
            "dup_word_frac", "top_bigram_share")

    q["text_repetition_signals"] = repetition_q

    # -- near-dup clusters: connected components over the
    #    deterministic Jaccard pair table, then keep-best dedup

    def dedup_components_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.dedup import connected_components

        pairs = dedup.ngram_jaccard_pairs(
            _t(s, d, "documents"), k=2, threshold=0.5)
        comps = connected_components(pairs, "id_a", "id_b")
        return comps.groupBy("component").agg(
            F.count("*").alias("members"),
            F.max("node").alias("max_node"))

    q["dedup_components"] = dedup_components_q

    # -- multi-index search (GET idx_a,idx_b/_search): two half-corpus
    #    indexes, cross-index DFS stats == one corpus-wide BM25 space

    def _split_indices(s: SparkSession, d: str):
        from elasticsearch_spark.index.builder import load_indices

        tag = os.path.abspath(d).strip("/").replace("/", "_")
        paths = []
        for par in (0, 1):
            path = os.path.join(_SCRATCH, f"multiidx_{tag}_p{par}_v2")
            if not os.path.exists(os.path.join(path, "index_meta.json")):
                docs = _t(s, d, "documents").where(
                    F.pmod(F.col("doc_id"), F.lit(2)) == par)
                build_index(docs.select("doc_id", "text"), path,
                            fields={"text": "ascii_word"},
                            num_partitions=4,
                            input_snapshot=f"multi-{par}")
            paths.append(path)
        return load_indices(s, paths)

    def multi_index_q(s: SparkSession, d: str) -> DataFrame:
        multi = _split_indices(s, d)
        terms = [t for t, _ in analyze("table scan merge", "ascii_word")]
        out = match_topk(multi, "text", terms, k=12, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["multi_index_search"] = multi_index_q

    # indices_boost (SearchSourceBuilder.indicesBoost): per-index boost
    # at score time, ES-default local stats per index, global merge
    def indices_boost_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.search.api import indices_boost_topk

        multi = _split_indices(s, d)
        terms = [t for t, _ in analyze("table scan merge", "ascii_word")]
        out = indices_boost_topk(
            multi.indices, ["even", "odd"], {"even": 1.3, "odd": 0.7},
            "text", terms, k=12, params=_EXACT)
        return out.select("doc_id", F.round("score", 4).alias("score"),
                          "_index")

    q["indices_boost"] = indices_boost_q

    # _count endpoint: filter-context count, no top-k, no fetch
    def count_api_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.scan import count_api

        return count_api(_t(s, d, "documents"), {"bool": {
            "filter": [{"range": {"n_chars": {"gte": 200}}},
                       {"term": {"lang": "en"}}],
            "must_not": [{"term": {"source": "src3"}}],
        }})

    q["count_api"] = count_api_q

    # _bulk endpoint: one mixed index/create/update/delete batch
    # rewritten as broadcast set-algebra over the doc table — the
    # doc table never shuffles (TransportBulkAction per-item contract)
    def bulk_api_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops.bulk import bulk_apply

        docs = _t(s, d, "documents")
        new_docs, items = bulk_apply(docs, [
            {"delete": {"doc_id": 3}},
            {"index": {"doc_id": 100001, "text": "bulk indexed doc",
                       "lang": "xx", "source": "srcB", "n_chars": 16}},
            {"create": {"doc_id": 5, "text": "conflict",
                        "lang": "xx", "source": "srcB", "n_chars": 8}},
            {"create": {"doc_id": 100002, "text": "bulk created doc",
                        "lang": "yy", "source": "srcB", "n_chars": 16}},
            {"update": {"doc_id": 7, "doc": {"lang": "zz"}}},
            {"update": {"doc_id": 999999999, "doc": {"lang": "zz"}}},
        ])
        # items contract (positions fixed by the request): conflict at
        # #2 and missing-doc at #5 must NOT have mutated the table
        assert items[2].get("error") and items[5].get("error")
        total = new_docs.agg(
            F.count("*").cast("long").alias("total"))
        touched = new_docs.filter(
            F.col("doc_id").isin([100001, 100002, 7, 5, 3]))
        return (touched.crossJoin(F.broadcast(total))
                .select("doc_id", "lang", "n_chars", "total")
                .orderBy("doc_id"))

    q["bulk_api"] = bulk_api_q

    # circle ingest processor (CircleProcessor + SpatialUtils
    # createRegularShapePolygon): circle -> regular polygon, vertex
    # count from the error_distance sagitta bound, pure codegen
    def ingest_circle_q(s: SparkSession, d: str) -> DataFrame:
        from elasticsearch_spark.ops import ingest as ing

        did = F.col("doc_id")
        docs = _t(s, d, "documents").select(
            "doc_id",
            F.struct(
                (F.pmod(did * 7, F.lit(300)).cast("double") / 1.7 - 88)
                .alias("x"),
                (F.pmod(did * 3, F.lit(170)).cast("double") / 2.1 - 40)
                .alias("y"),
                (F.pmod(did, F.lit(37)).cast("double") + 8.0)
                .alias("radius"),
            ).alias("circ"))
        out = ing.apply_pipeline(docs, [
            {"circle": {"field": "circ", "target_field": "poly",
                        "error_distance": 1.0}}])
        k = (F.size("poly") / 3).cast("int")
        probe = F.element_at("poly", k + 1)
        return (out.select(
                    "doc_id",
                    (F.size("poly") - 1).cast("long").alias("n_sides"),
                    F.round(probe["x"], 3).alias("vx"),
                    F.round(probe["y"], 3).alias("vy"))
                .orderBy("doc_id").limit(300))

    q["ingest_circle"] = ingest_circle_q

    # Arrow driver transfers (guide §6): every declared query's
    # ``collect()`` crosses JVM->Python as ONE Arrow stream instead of
    # pickled row batches — measured 150 s -> ~11 s on the sf1.0
    # dedup_minhash_lsh 35.9M-pair frame, byte-identical rows
    # (elasticsearch_spark/arrow_collect.py; parity pinned by
    # tests/test_arrow_collect.py + tools/check_collect_parity.py).
    return {name: _with_arrow_collect(fn) for name, fn in q.items()}


def _with_arrow_collect(fn):
    from elasticsearch_spark.arrow_collect import arrow_collected

    def wrapped(s: SparkSession, d: str) -> DataFrame:
        return arrow_collected(fn(s, d))

    return wrapped


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["match_or"] = _bm25_oracle("spark query data")
    o["match_and"] = _bm25_oracle("table scan", operator="and")
    o["match_msm2"] = _bm25_oracle("window filter merge", msm=2)

    _cl_terms = "', '".join(
        t for t, _ in analyze("spark query data", "ascii_word"))
    o["match_classic"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ('{_cl_terms}') GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
nd AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id,
         sum(pow(1.0 + ln(nd.n / (df.df + 1.0)), 2)
             * sqrt(tf.tf) / sqrt(greatest(dl.dl, 1))) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), nd
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    _bl_terms = "', '".join(
        t for t, _ in analyze("table scan merge", "ascii_word"))
    o["match_boolean"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents)
SELECT doc_id, round(CAST(count(DISTINCT term) AS DOUBLE), 4) AS score
FROM toks WHERE term IN ('{_bl_terms}')
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 20
"""
    o["match_high_df"] = _bm25_oracle("table")
    o["match_zero_hits"] = _bm25_oracle("zzznoterm qqqmissing")
    o["match_k50"] = _bm25_oracle("stream batch", k=50)
    o["match_phrase"] = phrase_topk_sql(["key", "order"], k=10)
    # 'ord' expands only to 'order' in this corpus, so the completed
    # phrase oracle is exact (verified: SELECT DISTINCT term LIKE 'ord%')
    o["match_phrase_prefix"] = phrase_topk_sql(["key", "order"], k=10)
    from elasticsearch_spark.oracle.sql_oracle import (
        english_light_list_sql,
        synonym_topk_sql,
    )

    # LSH-bucket twin: the same seeded plane constants, embedded as
    # list literals; bucket bit j = (embedding . plane_j) > 0
    import numpy as _np_lsh

    _lsh_planes = _np_lsh.random.default_rng(42).standard_normal(
        (2, 64, 8))
    _lsh_rows = []
    for _t_i in range(2):
        _bits = " + ".join(
            "(CASE WHEN list_dot_product(embedding::DOUBLE[], ["
            + ", ".join(repr(float(x)) for x in _lsh_planes[_t_i, :, _j])
            + f"]) > 0 THEN 1::BIGINT ELSE 0 END << {_j})"
            for _j in range(8))
        _lsh_rows.append(
            f"SELECT vec_id, {_t_i} AS \"table\", ({_bits}) AS bucket "
            "FROM embeddings")
    o["ann_lsh_buckets"] = (
        "SELECT * FROM (" + " UNION ALL ".join(_lsh_rows)
        + ") ORDER BY vec_id, \"table\"")

    # md5-minhash twin: identical shingles (1-based inclusive list
    # slice == Spark's slice), identical 32-bit md5-prefix base hash,
    # identical affine constants from the same seeded numpy stream
    import numpy as _np

    _mh_rng = _np.random.default_rng(42)
    _M31 = (1 << 31) - 1
    _mh_coeffs = [
        (int(_mh_rng.integers(1, _M31)), int(_mh_rng.integers(0, _M31)))
        for _ in range(16)]
    _mh_mins = ",\n".join(
        f"  min((h * {a} + {b}) % {_M31}) AS mh{i}"
        for i, (a, b) in enumerate(_mh_coeffs))
    o["dedup_minhash_md5_sig"] = f"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(0, greatest(len(ts) - 3, 0)),
           i -> array_to_string(ts[i + 1 : i + 3], ' ')))) AS shingle
  FROM t),
h AS (
  SELECT doc_id,
         ((('0x' || substr(md5(shingle), 1, 8))::BIGINT % {_M31})
          + {_M31}) % {_M31} AS h
  FROM sh WHERE length(shingle) > 0)
SELECT doc_id,
{_mh_mins}
FROM h GROUP BY doc_id ORDER BY doc_id
"""

    # md5-simhash twin: identical 60 bit-sum columns; the hex->int
    # parse is verified byte-identical across engines
    _sh_bits = "\n".join(
        f"  sum(CASE WHEN (h >> {i}) & 1 = 1 THEN tf ELSE -tf END)"
        f" AS b{i}," for i in range(60))
    _sh_sig = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN 1::BIGINT ELSE 0 END << {i})"
        for i in range(60))
    o["dedup_simhash_md5"] = f"""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
  FROM documents),
tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM t GROUP BY 1, 2),
h AS (SELECT doc_id, tf,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tf),
bits AS (
  SELECT doc_id,
{_sh_bits}
  count(*) AS _n
  FROM h GROUP BY doc_id)
SELECT doc_id, ({_sh_sig})::BIGINT AS simhash
FROM bits ORDER BY doc_id
"""

    # post_filter twin: top-50 scored WITHOUT the lang predicate, then
    # the hit list narrows — different from a filtered query, whose
    # top-50 would admit lower-scoring en docs
    from elasticsearch_spark.oracle.sql_oracle import bm25_ctes as _pf_bc

    o["post_filter"] = f"""
WITH {_pf_bc(['table', 'scan'])},
topk AS (
  SELECT doc_id, round(score, 4) AS score FROM scored
  ORDER BY score DESC, doc_id ASC LIMIT 50)
SELECT t.doc_id, t.score, d.lang
FROM topk t JOIN documents d USING (doc_id)
WHERE d.lang = 'en'
ORDER BY t.score DESC, t.doc_id ASC
"""

    # multi_match phrase twin: each leaf is the standard phrase oracle
    # under its OWN field stats; best_fields combine = greatest (round
    # is monotone, so per-leaf rounding commutes with max)
    o["multi_match_phrase"] = f"""
WITH a AS ({phrase_topk_sql(['key', 'order'], k=1000000)}),
b AS ({phrase_topk_sql(['key', 'order'], k=1000000,
                       text_col="(text || ' ' || source)")})
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       greatest(coalesce(a.score, 0), coalesce(b.score, 0)) AS score
FROM a FULL JOIN b ON a.doc_id = b.doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    # copy_to twin: the target field's token stream IS the ascii_word
    # parse of the space-joined sources, so the SQL side tokenizes the
    # same concatenation (concat_ws(" ", text, source) == text||' '||source
    # for non-null columns) and re-derives df/avgdl over it
    o["match_copy_to"] = bm25_topk_sql(
        ["src3", "spark"], k=10,
        text_col="(text || ' ' || source)",
    )

    o["match_stemmed"] = bm25_topk_sql(
        [t for t, _ in analyze("tables scanned", "english_light")],
        k=10, tok_list_expr=english_light_list_sql("text"),
    )

    from elasticsearch_spark.analysis.analyzers import SPANISH_STOPWORDS
    from elasticsearch_spark.analysis.stem import SPANISH_LIGHT_RULES
    from elasticsearch_spark.oracle.sql_oracle import light_language_list_sql

    o["match_stemmed_es"] = bm25_topk_sql(
        [t for t, _ in analyze("tables columns", "spanish_light")],
        k=10,
        tok_list_expr=light_language_list_sql(
            SPANISH_STOPWORDS, SPANISH_LIGHT_RULES, "text"
        ),
    )
    o["match_synonym"] = synonym_topk_sql(
        [["table", "data"], ["scan", "filter"]], k=10
    )

    # CJK bigrams over the synthesized column (pure-CJK words, so the
    # english stop filter is a no-op and every token is a \p{L} run)
    _cjk_synth = _synth_words_sql(CJK_WORDS_A, CJK_WORDS_B)
    _cjk_tok = f"""flatten(list_transform(
        regexp_extract_all(lower({_cjk_synth}), '[\\p{{L}}\\p{{N}}_]+'),
        t -> CASE WHEN length(t) = 1 THEN [t]
             ELSE list_transform(range(1, length(t)),
                                 i -> substr(t, CAST(i AS INT), 2)) END))"""
    o["match_cjk"] = bm25_topk_sql(
        [t for t, _ in analyze("検索 処理", "cjk")],
        k=10, tok_list_expr=_cjk_tok,
    )

    from elasticsearch_spark.analysis.analyzers import ARABIC_STOPWORDS
    from elasticsearch_spark.analysis.stem import ARABIC_LIGHT_RULES, cascade_sql

    _ar_synth = _synth_words_sql(AR_WORDS_A, AR_WORDS_B)
    _ar_stops = ", ".join(f"'{w}'" for w in sorted(ARABIC_STOPWORDS))
    _ar_tok = (
        f"list_transform(list_filter(regexp_extract_all(lower({_ar_synth}),"
        f" '[\\p{{L}}\\p{{N}}_]+'), t -> t NOT IN ({_ar_stops})),"
        f" t -> {cascade_sql(ARABIC_LIGHT_RULES, 't')})"
    )
    o["match_stemmed_ar"] = bm25_topk_sql(
        [t for t, _ in analyze("الكتاب مدرسة", "arabic_light")],
        k=10, tok_list_expr=_ar_tok,
    )

    from elasticsearch_spark.analysis.analyzers import HINDI_STOPWORDS
    from elasticsearch_spark.analysis.stem import HINDI_LIGHT_RULES
    from elasticsearch_spark.oracle.sql_oracle import light_language_list_sql

    _hi_synth = _synth_words_sql(HI_WORDS_A, HI_WORDS_B)
    _hi_tok = light_language_list_sql(
        HINDI_STOPWORDS, HINDI_LIGHT_RULES, _hi_synth,
        token_re=r"[\p{L}\p{N}_ऀ-ॿ]+")
    o["match_stemmed_hi"] = bm25_topk_sql(
        [t for t, _ in analyze("किताब लड़के", "hindi_light")],
        k=10, tok_list_expr=_hi_tok,
    )

    from elasticsearch_spark.analysis.analyzers import (
        BENGALI_STOPWORDS,
        THAI_STOPWORDS,
    )
    from elasticsearch_spark.analysis.stem import BENGALI_LIGHT_RULES

    _bn_synth = _synth_words_sql(BN_WORDS_A, BN_WORDS_B)
    _bn_tok = light_language_list_sql(
        BENGALI_STOPWORDS, BENGALI_LIGHT_RULES, _bn_synth,
        token_re=r"[\p{L}\p{N}_ঀ-৿]+")
    o["match_stemmed_bn"] = bm25_topk_sql(
        [t for t, _ in analyze("বই ছেলে", "bengali_light")],
        k=10, tok_list_expr=_bn_tok,
    )

    # thai twin: the synthesized corpus tokens are pure-script, so the
    # CASE needs only the no-thai / lone-cluster / bigram arms (the
    # engine's mixed-script per-segment path can't occur here). Cluster
    # regex = lead char + combining sara/mai marks, same as the engine.
    _th_synth = _synth_words_sql(TH_WORDS_A, TH_WORDS_B)
    _th_stops = ", ".join(
        f"'{w}'" for w in sorted(THAI_STOPWORDS))
    _th_cl = "regexp_extract_all(t, '[฀-๿][ัิ-ฺ็-๎]*')"
    _th_tok = f"""flatten(list_transform(
        list_filter(regexp_extract_all(lower({_th_synth}),
                                       '[\\p{{L}}\\p{{N}}_฀-๿]+'),
                    t -> t NOT IN ({_th_stops})),
        t -> CASE WHEN NOT regexp_matches(t, '[฀-๿]') THEN [t]
             WHEN len({_th_cl}) = 1 THEN {_th_cl}
             ELSE list_transform(range(1, len({_th_cl})),
                  i -> {_th_cl}[CAST(i AS INT)]
                       || {_th_cl}[CAST(i AS INT) + 1]) END))"""
    o["match_thai"] = bm25_topk_sql(
        [t for t, _ in analyze("ค้นหา ข้อมูล", "thai")],
        k=10, tok_list_expr=_th_tok,
    )

    from elasticsearch_spark.analysis.analyzers import DOC_SYNONYM_RULES
    from elasticsearch_spark.oracle.sql_oracle import (
        bm25_ctes,
        synonym_expanded_tok_select,
    )

    o["track_total_hits"] = """
WITH c AS (SELECT count(*)::BIGINT AS n FROM documents WHERE lang = 'en')
SELECT CASE WHEN n <= 1000 THEN n ELSE 1000 END AS value,
       CASE WHEN n <= 1000 THEN 'eq' ELSE 'gte' END AS relation
FROM c
"""

    o["terminate_after"] = """
SELECT doc_id FROM documents ORDER BY doc_id LIMIT 100
"""

    # unified-highlighter first fragment: 30 chars of context either
    # side of the FIRST \btable\b match, all in-fragment matches tagged.
    # The context prefix is LAZY ({0,30}?): a greedy prefix would bind
    # the match to the latest occurrence reachable within 30 chars,
    # while the engine anchors on m.start() of the first occurrence.
    o["highlight"] = r"""
WITH h AS (
  SELECT doc_id,
         regexp_extract_all(text, '.{0,30}?\btable\b.{0,30}') AS fr
  FROM documents
  WHERE regexp_matches(text, '\btable\b')
  ORDER BY doc_id LIMIT 20)
SELECT doc_id,
       regexp_replace(fr[1], '\btable\b', '<em>table</em>', 'g') AS frag1,
       CASE WHEN len(fr) >= 2
            THEN regexp_replace(fr[2], '\btable\b', '<em>table</em>', 'g')
       END AS frag2
FROM h ORDER BY doc_id
"""

    # highlight_query: hits selected by \btable\b (the scorer), but the
    # fragments anchor on scan|merge (the highlight query) — rows whose
    # text lacks both produce NULL fragments
    o["highlight_query"] = r"""
WITH h AS (
  SELECT doc_id,
         regexp_extract_all(text,
             '.{0,30}?\b(?:scan|merge)\b.{0,30}') AS fr
  FROM documents
  WHERE regexp_matches(text, '\btable\b')
  ORDER BY doc_id LIMIT 20)
SELECT doc_id,
       regexp_replace(fr[1], '(\b(?:scan|merge)\b)', '<em>\1</em>', 'g')
           AS frag1,
       CASE WHEN len(fr) >= 2
            THEN regexp_replace(fr[2], '(\b(?:scan|merge)\b)',
                                '<em>\1</em>', 'g')
       END AS frag2
FROM h ORDER BY doc_id
"""

    # matched_fields: surface tokens exact + english_light stems as
    # \w* prefixes, one combined alternation on both engines
    o["highlight_matched_fields"] = r"""
WITH h AS (
  SELECT doc_id,
         regexp_extract_all(text,
             '.{0,30}?(?:\b(?:tables|queries|merges)\b|\b(?:table|query|merge)\w*).{0,30}') AS fr
  FROM documents
  WHERE regexp_matches(text, '\btable')
  ORDER BY doc_id LIMIT 20)
SELECT doc_id,
       regexp_replace(fr[1],
           '(\b(?:tables|queries|merges)\b|\b(?:table|query|merge)\w*)',
           '<em>\1</em>', 'g') AS frag1,
       CASE WHEN len(fr) >= 2
            THEN regexp_replace(fr[2],
                '(\b(?:tables|queries|merges)\b|\b(?:table|query|merge)\w*)',
                '<em>\1</em>', 'g')
       END AS frag2
FROM h ORDER BY doc_id
"""

    # plain type: the char-grid fragmenter replayed as a substring grid
    # + regexp match-count ranking (score desc, offset asc), selected
    # fragments re-emitted in offset order
    o["highlight_plain_type"] = r"""
WITH h AS (
  SELECT doc_id, text FROM documents
  WHERE regexp_matches(text, '\btable\b')
  ORDER BY doc_id LIMIT 20),
g AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(ceil(length(text) / 60.0) AS BIGINT))) AS i
  FROM h),
fr AS (
  SELECT doc_id, i,
         substring(text, CAST(1 + i * 60 AS INT), 60) AS frag
  FROM g),
sc AS (
  SELECT doc_id, i, frag,
         len(regexp_extract_all(frag, '\b(?:table|scan)\b')) AS cnt
  FROM fr),
top AS (
  SELECT doc_id, i, frag,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, i ASC) AS rk
  FROM sc WHERE cnt > 0),
sel AS (
  SELECT doc_id, frag,
         row_number() OVER (PARTITION BY doc_id ORDER BY i ASC) AS j
  FROM top WHERE rk <= 2)
SELECT h.doc_id,
       max(CASE WHEN j = 1 THEN regexp_replace(
           frag, '(\b(?:table|scan)\b)', '<em>\1</em>', 'g') END) AS frag1,
       max(CASE WHEN j = 2 THEN regexp_replace(
           frag, '(\b(?:table|scan)\b)', '<em>\1</em>', 'g') END) AS frag2
FROM h LEFT JOIN sel ON h.doc_id = sel.doc_id
GROUP BY h.doc_id ORDER BY h.doc_id
"""

    # fvh type: whole-phrase windows, then the two edge-snap rewrites
    # (no-ops on this corpus — the synthetic text has no boundary
    # chars; the boundary path is unit-tested on punctuated text), then
    # phrase tagging — the exact regex sequence the engine applies
    o["highlight_fvh_phrase"] = r"""
WITH h AS (
  SELECT doc_id,
         regexp_extract_all(text,
             '.{0,30}?\btable[^a-z0-9_]+hash\b.{0,30}') AS fr
  FROM documents
  WHERE regexp_matches(text, '\btable[^a-z0-9_]+hash\b')
  ORDER BY doc_id LIMIT 20)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(fr[1],
           '^.{0,20}?[.,!?\n]\s*', ''),
           '([.,!?\n])[^.,!?\n]{0,20}$', '\1'),
           '(\btable[^a-z0-9_]+hash\b)', '<em>\1</em>', 'g') AS frag1,
       CASE WHEN len(fr) >= 2
            THEN regexp_replace(regexp_replace(regexp_replace(fr[2],
                '^.{0,20}?[.,!?\n]\s*', ''),
                '([.,!?\n])[^.,!?\n]{0,20}$', '\1'),
                '(\btable[^a-z0-9_]+hash\b)', '<em>\1</em>', 'g')
       END AS frag2
FROM h ORDER BY doc_id
"""

    from elasticsearch_spark.analysis.analyzers import DOC_COMMON_WORDS
    from elasticsearch_spark.oracle.sql_oracle import common_grams_tok_select

    o["match_common_grams"] = f"""
WITH {bm25_ctes(['a_table', 'the_batch'],
                tok_select=common_grams_tok_select(DOC_COMMON_WORDS),
                dl_expr='count(DISTINCT pos)')}
SELECT doc_id, round(score, 4) AS score
FROM scored
WHERE matched >= 1
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""

    o["match_synonym_index"] = f"""
WITH {bm25_ctes(['merge', 'relation'],
                tok_select=synonym_expanded_tok_select(DOC_SYNONYM_RULES),
                dl_expr='count(DISTINCT pos)')}
SELECT doc_id, round(score, 4) AS score
FROM scored
WHERE matched >= 1
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""

    from elasticsearch_spark.oracle.sql_oracle import bm25_ctes as _bc

    o["match_bool_prefix"] = f"""
WITH {_bc(['window'])},
pref AS (SELECT DISTINCT doc_id FROM tok WHERE term LIKE 'ord%')
SELECT coalesce(s.doc_id, p.doc_id) AS doc_id,
       round(coalesce(s.score, 0)
             + CASE WHEN p.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END, 4) AS score
FROM scored s FULL OUTER JOIN pref p ON p.doc_id = s.doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    # match with fuzziness: expansion rule == executor.expand_terms
    # (shared first letter, |len diff| <= 2, lev <= 2, top-50 by df);
    # each term's expansion set scores as one blended group
    o["match_fuzzy"] = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents),
stats AS (
  SELECT (SELECT count(*) FROM tok) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl,
         (SELECT count(*) FROM documents) * 1.0 AS n),
dl AS (SELECT doc_id, count(*) * 1.0 AS dl FROM tok GROUP BY doc_id),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
c0 AS (SELECT term FROM dfq
       WHERE substr(term, 1, 1) = 't' AND abs(length(term) - 5) <= 2
         AND levenshtein(term, 'tabel') <= 2
       ORDER BY df DESC, term ASC LIMIT 50),
c1 AS (SELECT term FROM dfq
       WHERE substr(term, 1, 1) = 's' AND abs(length(term) - 4) <= 2
         AND levenshtein(term, 'scna') <= 2
       ORDER BY df DESC, term ASC LIMIT 50),
g0 AS (SELECT doc_id, count(*) * 1.0 AS tf FROM tok
       WHERE term IN (SELECT term FROM c0) GROUP BY doc_id),
g1 AS (SELECT doc_id, count(*) * 1.0 AS tf FROM tok
       WHERE term IN (SELECT term FROM c1) GROUP BY doc_id),
g0df AS (SELECT max(df) * 1.0 AS df FROM dfq WHERE term IN (SELECT term FROM c0)),
g1df AS (SELECT max(df) * 1.0 AS df FROM dfq WHERE term IN (SELECT term FROM c1)),
allscores AS (
  SELECT g.doc_id,
         2.2 * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * g.tf / (g.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS score
  FROM g0 g JOIN dl ON dl.doc_id = g.doc_id
  CROSS JOIN g0df d CROSS JOIN stats s
  UNION ALL
  SELECT g.doc_id,
         2.2 * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
           * g.tf / (g.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS score
  FROM g1 g JOIN dl ON dl.doc_id = g.doc_id
  CROSS JOIN g1df d CROSS JOIN stats s)
SELECT doc_id, round(sum(score), 4) AS score
FROM allscores GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""
    o["significant_terms"] = """
WITH tot AS (
  SELECT count(*)::BIGINT AS n_all,
         sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)::BIGINT AS n_fg
  FROM documents),
c AS (
  SELECT lang AS term,
         sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)::BIGINT AS fg_count,
         count(*)::BIGINT AS bg_count
  FROM documents GROUP BY lang),
j AS (
  -- exact BIGINT numerator/denominator of the JLH rational — the
  -- hash-compared columns carry NO floats (driver flake r1+r2);
  -- the single num/den division used only for ORDER BY is one
  -- correctly-rounded IEEE op on exact longs, engine-independent
  SELECT term, fg_count, bg_count,
         (fg_count * (fg_count * tot.n_all - bg_count * tot.n_fg))::BIGINT AS jlh_num,
         ((bg_count * tot.n_fg) * tot.n_fg)::BIGINT AS jlh_den
  FROM c, tot
  WHERE fg_count >= 3 AND bg_count > 0)
SELECT term, fg_count, bg_count, jlh_num, jlh_den
FROM j
WHERE jlh_num > 0
ORDER BY jlh_num::DOUBLE / jlh_den::DOUBLE DESC, term ASC LIMIT 10
"""

    o["significant_terms_bg"] = """
WITH tot AS (
  SELECT sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END)::BIGINT AS n_all,
         sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)::BIGINT AS n_fg
  FROM documents),
c AS (
  SELECT lang AS term,
         sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)::BIGINT AS fg_count,
         sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END)::BIGINT AS bg_count
  FROM documents GROUP BY lang),
j AS (
  SELECT term, fg_count, bg_count,
         (fg_count * (fg_count * tot.n_all - bg_count * tot.n_fg))::BIGINT AS jlh_num,
         ((bg_count * tot.n_fg) * tot.n_fg)::BIGINT AS jlh_den
  FROM c, tot
  WHERE fg_count >= 3 AND bg_count > 0)
SELECT term, fg_count, bg_count, jlh_num, jlh_den
FROM j
WHERE jlh_num > 0
ORDER BY jlh_num::DOUBLE / jlh_den::DOUBLE DESC, term ASC LIMIT 10
"""

    o["bool_match_filter"] = f"""
WITH cand AS ({bm25_topk_sql([t for t, _ in analyze('query data', 'ascii_word')], k=1000000)})
SELECT d.doc_id, d.lang, c.score
FROM cand c JOIN documents d ON c.doc_id = d.doc_id
WHERE d.lang = 'en' AND d.n_chars >= 150
ORDER BY c.score DESC, d.doc_id ASC
LIMIT 10
"""

    from elasticsearch_spark.oracle.sql_oracle import bm25_ctes

    o["query_string"] = f"""
WITH {bm25_ctes(['table', 'scan'])}
SELECT c.doc_id, round(c.score, 4) AS score
FROM scored c JOIN documents d ON d.doc_id = c.doc_id
WHERE c.matched >= 2 AND NOT regexp_matches(lower(d.lang), '\\bzh\\b')
ORDER BY c.score DESC, c.doc_id ASC LIMIT 10
"""

    o["multi_match_best"] = f"""
WITH {bm25_ctes(['src5', 'table'], prefix='t_')},
{bm25_ctes(['src5', 'table'], prefix='s_', text_col='source')}
SELECT coalesce(t.doc_id, s.doc_id) AS doc_id,
       round(greatest(coalesce(t.score, 0), coalesce(s.score, 0)), 4) AS score
FROM t_scored t FULL OUTER JOIN s_scored s ON t.doc_id = s.doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    # cross_fields: BLENDED df = max(df_text, df_source) per term; per
    # (doc, term) dismax across fields (tie_breaker 0); terms sum
    o["multi_match_cross"] = """
WITH tokA AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents),
tokB AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(source), '[a-z0-9_]+')) AS term
  FROM documents),
nn AS (SELECT count(*) * 1.0 AS n FROM documents),
avgA AS (SELECT (SELECT count(*) FROM tokA) * 1.0 / (SELECT count(*) FROM documents) AS avgdl),
avgB AS (SELECT (SELECT count(*) FROM tokB) * 1.0 / (SELECT count(*) FROM documents) AS avgdl),
dlA AS (SELECT doc_id, count(*) * 1.0 AS dl FROM tokA GROUP BY doc_id),
dlB AS (SELECT doc_id, count(*) * 1.0 AS dl FROM tokB GROUP BY doc_id),
tfA AS (SELECT doc_id, term, count(*) * 1.0 AS tf FROM tokA
        WHERE term IN ('src5', 'table', 'scan') GROUP BY doc_id, term),
tfB AS (SELECT doc_id, term, count(*) * 1.0 AS tf FROM tokB
        WHERE term IN ('src5', 'table', 'scan') GROUP BY doc_id, term),
dfA AS (SELECT term, count(*) * 1.0 AS df FROM tfA GROUP BY term),
dfB AS (SELECT term, count(*) * 1.0 AS df FROM tfB GROUP BY term),
dfx AS (
  SELECT coalesce(a.term, b.term) AS term,
         greatest(coalesce(a.df, 0), coalesce(b.df, 0)) AS df
  FROM dfA a FULL OUTER JOIN dfB b ON a.term = b.term),
sA AS (
  SELECT t.doc_id, t.term,
         2.2 * ln(1.0 + (nn.n - d.df + 0.5) / (d.df + 0.5))
           * t.tf / (t.tf + 1.2 * (0.25 + 0.75 * dlA.dl / avgA.avgdl)) AS s
  FROM tfA t JOIN dfx d ON d.term = t.term
  JOIN dlA ON dlA.doc_id = t.doc_id CROSS JOIN nn CROSS JOIN avgA),
sB AS (
  SELECT t.doc_id, t.term,
         2.2 * ln(1.0 + (nn.n - d.df + 0.5) / (d.df + 0.5))
           * t.tf / (t.tf + 1.2 * (0.25 + 0.75 * dlB.dl / avgB.avgdl)) AS s
  FROM tfB t JOIN dfx d ON d.term = t.term
  JOIN dlB ON dlB.doc_id = t.doc_id CROSS JOIN nn CROSS JOIN avgB),
pt AS (
  SELECT doc_id, term, max(s) AS best
  FROM (SELECT * FROM sA UNION ALL SELECT * FROM sB)
  GROUP BY doc_id, term)
SELECT doc_id, round(sum(best), 4) AS score
FROM pt GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    o["dis_max"] = f"""
WITH {bm25_ctes(['table'], prefix='t_')},
{bm25_ctes(['src5'], prefix='s_', text_col='source')},
u AS (
  SELECT coalesce(t.doc_id, s.doc_id) AS doc_id,
         coalesce(t.score, 0) AS st, coalesce(s.score, 0) AS ss
  FROM t_scored t FULL OUTER JOIN s_scored s ON t.doc_id = s.doc_id)
SELECT doc_id,
       round(greatest(st, ss) + 0.3 * ((st + ss) - greatest(st, ss)), 4) AS score
FROM u ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    o["more_like_this"] = f"""
WITH seltok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents),
mltf AS (SELECT term, count(*) * 1.0 AS tf FROM seltok WHERE doc_id = 0 GROUP BY term),
mldf AS (SELECT term, count(DISTINCT doc_id) * 1.0 AS df FROM seltok GROUP BY term),
chosen AS (
  SELECT f.term
  FROM mltf f JOIN mldf d USING (term)
  ORDER BY f.tf * ln(((SELECT count(*) FROM documents) + 1.0) / (d.df + 1.0)) DESC,
           f.term ASC
  LIMIT 25),
{bm25_ctes(None, terms_cte='chosen')}
SELECT doc_id, round(score, 4) AS score FROM scored
WHERE doc_id != 0
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    # free-text MLT twin: tf comes from the literal query text (the
    # same ascii_word parse), df/selection/scoring identical
    o["more_like_this_text"] = f"""
WITH qt AS (
  SELECT unnest(regexp_extract_all(lower(
    'table scan merge key order fast table scan'),
    '[a-z0-9_]+')) AS term),
mltf AS (SELECT term, count(*) * 1.0 AS tf FROM qt GROUP BY term),
seltok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents),
mldf AS (SELECT term, count(DISTINCT doc_id) * 1.0 AS df FROM seltok GROUP BY term),
chosen AS (
  SELECT f.term
  FROM mltf f JOIN mldf d USING (term)
  ORDER BY f.tf * ln(((SELECT count(*) FROM documents) + 1.0) / (d.df + 1.0)) DESC,
           f.term ASC
  LIMIT 25),
{bm25_ctes(None, terms_cte='chosen')}
SELECT doc_id, round(score, 4) AS score FROM scored
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    from elasticsearch_spark.search.extras import PINNED_SCORE_BASE

    o["pinned"] = f"""
WITH {bm25_ctes([t for t, _ in analyze("table scan", "ascii_word")])},
pin AS (SELECT * FROM (VALUES (7, 3.0), (3, 2.0), (1203, 1.0))
        AS p(doc_id, pin)),
m AS (
  SELECT coalesce(s.doc_id, p.doc_id) AS doc_id,
         CASE WHEN p.pin IS NOT NULL THEN {PINNED_SCORE_BASE!r} + p.pin
              ELSE s.score END AS score
  FROM scored s FULL OUTER JOIN pin p ON s.doc_id = p.doc_id)
SELECT doc_id, round(score, 4) AS score
FROM m ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    # bigram-LM stupid-backoff phrase suggester; float op order matches
    # extras.phrase_suggest exactly (score emitted unrounded)
    o["phrase_suggest"] = """
WITH t0 AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents),
tok AS (
  SELECT doc_id, unnest(ts) AS term, unnest(range(1, len(ts) + 1)) AS pos
  FROM t0),
uni AS (SELECT term, count(*) * 1.0 AS c FROM tok GROUP BY term),
tot AS (SELECT sum(c) AS total FROM uni),
c0 AS (SELECT term, c FROM uni WHERE levenshtein(term, 'dat') <= 2
       ORDER BY levenshtein(term, 'dat') ASC, c DESC, term ASC LIMIT 3),
c1 AS (SELECT term, c FROM uni WHERE levenshtein(term, 'san') <= 2
       ORDER BY levenshtein(term, 'san') ASC, c DESC, term ASC LIMIT 3),
big AS (
  SELECT a.term AS w1, b.term AS w2, count(*) * 1.0 AS c
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term IN (SELECT term FROM c0) AND b.term IN (SELECT term FROM c1)
  GROUP BY 1, 2),
combos AS (
  SELECT c0.term AS t0, c0.c AS cc0, c1.term AS t1, c1.c AS cc1, big.c AS bc
  FROM c0 CROSS JOIN c1
  LEFT JOIN big ON big.w1 = c0.term AND big.w2 = c1.term),
scored AS (
  SELECT t0 || ' ' || t1 AS text,
         (cc0 / tot.total) * (CASE WHEN bc IS NOT NULL AND bc > 0
             THEN (bc / cc0) ELSE (0.4 * (cc1 / tot.total)) END) AS score
  FROM combos, tot)
SELECT text, score FROM scored ORDER BY score DESC, text ASC LIMIT 3
"""

    o["term_suggest"] = """
WITH td AS (
  SELECT term, count(*) AS df FROM (
    SELECT DISTINCT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
    FROM documents)
  GROUP BY term)
SELECT term, df, levenshtein(term, 'tabel') AS distance
FROM td
WHERE substr(term, 1, 1) = 't'
  AND abs(length(term) - 5) <= 2
  AND levenshtein(term, 'tabel') BETWEEN 1 AND 2
ORDER BY distance ASC, df DESC, term ASC
LIMIT 5
"""

    o["term_suggest_popular"] = """
WITH td AS (
  SELECT term, count(*) AS df FROM (
    SELECT DISTINCT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
    FROM documents)
  GROUP BY term),
self_df AS (
  SELECT coalesce(max(df), 0) AS sdf FROM td WHERE term = 'a')
SELECT term, df, levenshtein(term, 'a') AS distance
FROM td, self_df
WHERE substr(term, 1, 1) = 'a'
  AND abs(length(term) - 1) <= 2
  AND levenshtein(term, 'a') BETWEEN 1 AND 2
  AND df > sdf
ORDER BY distance ASC, df DESC, term ASC
LIMIT 5
"""

    o["collapse"] = f"""
WITH {bm25_ctes(['table', 'scan'])},
j AS (
  SELECT c.doc_id, c.score, d.lang,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY c.score DESC, c.doc_id ASC) AS rn
  FROM scored c JOIN documents d ON d.doc_id = c.doc_id)
SELECT doc_id, lang, round(score, 4) AS score
FROM j WHERE rn = 1
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    o["collapse_inner_hits"] = f"""
WITH {bm25_ctes(['table', 'scan'])},
j AS (SELECT s.doc_id, s.score, d.lang
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
r AS (SELECT doc_id, score, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score DESC, doc_id ASC) AS inner_rank
      FROM j),
win AS (SELECT lang FROM r WHERE inner_rank = 1
        ORDER BY score DESC, doc_id ASC LIMIT 3)
SELECT r.lang, r.inner_rank, r.doc_id, round(r.score, 4) AS score
FROM r JOIN win ON win.lang = r.lang
WHERE r.inner_rank <= 2
"""

    o["search_after"] = f"""
WITH {bm25_ctes(['table'])}
SELECT doc_id, round(score, 4) AS score FROM scored
ORDER BY score DESC, doc_id ASC LIMIT 5 OFFSET 5
"""

    o["rescore"] = f"""
WITH {bm25_ctes(['table'], prefix='b_')},
{bm25_ctes(['scan'], prefix='r_')},
win AS (
  SELECT doc_id, score FROM b_scored
  ORDER BY score DESC, doc_id ASC LIMIT 20)
SELECT w.doc_id,
       round(w.score + 2.0 * coalesce(r.score, 0), 4) AS score
FROM win w LEFT JOIN r_scored r ON r.doc_id = w.doc_id
ORDER BY score DESC, w.doc_id ASC LIMIT 10
"""

    o["significant_text"] = """
WITH t AS (
  SELECT doc_id, lang = 'en' AS is_fg,
         unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9_]+'))) AS term
  FROM documents),
tot AS (
  SELECT count(*)::BIGINT AS n_all,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_fg
  FROM documents),
c AS (
  SELECT term,
         sum(CASE WHEN is_fg THEN 1 ELSE 0 END)::BIGINT AS fg_count,
         count(*)::BIGINT AS bg_count
  FROM t GROUP BY term),
j AS (
  -- exact BIGINT numerator/denominator of the JLH rational — the
  -- hash-compared columns carry NO floats (driver flake r1+r2)
  SELECT term, fg_count, bg_count,
         (fg_count * (fg_count * tot.n_all - bg_count * tot.n_fg))::BIGINT AS jlh_num,
         ((bg_count * tot.n_fg) * tot.n_fg)::BIGINT AS jlh_den
  FROM c, tot
  WHERE fg_count >= 3 AND bg_count > 0)
SELECT term, fg_count, bg_count, jlh_num, jlh_den
FROM j
WHERE jlh_num > 0
ORDER BY jlh_num::DOUBLE / jlh_den::DOUBLE DESC, term ASC
LIMIT 10
"""

    o["function_score_fvf"] = f"""
WITH {bm25_ctes(['table'])}
SELECT c.doc_id,
       round(c.score * log10(d.n_chars * 0.001 + 1), 4) AS score
FROM scored c JOIN documents d ON d.doc_id = c.doc_id
ORDER BY c.score * log10(d.n_chars * 0.001 + 1) DESC, c.doc_id ASC
LIMIT 10
"""
    import math as _math

    _sigma2 = -(100.0 * 100.0) / (2.0 * _math.log(0.5))
    o["function_score_decay"] = f"""
WITH {bm25_ctes(['table'])}
SELECT c.doc_id,
       round(c.score * exp(-pow(greatest(abs(d.n_chars - 300), 0), 2)
                            / (2.0 * {_sigma2!r})), 4) AS score
FROM scored c JOIN documents d ON d.doc_id = c.doc_id
ORDER BY c.score * exp(-pow(greatest(abs(d.n_chars - 300), 0), 2)
                        / (2.0 * {_sigma2!r})) DESC, c.doc_id ASC
LIMIT 10
"""
    o["boosting"] = f"""
WITH {bm25_ctes(['table'])}
SELECT c.doc_id,
       round(c.score * (CASE WHEN d.lang = 'zh' THEN 0.4 ELSE 1.0 END), 4) AS score
FROM scored c JOIN documents d ON d.doc_id = c.doc_id
ORDER BY c.score * (CASE WHEN d.lang = 'zh' THEN 0.4 ELSE 1.0 END) DESC,
         c.doc_id ASC
LIMIT 10
"""

    o["combined_fields"] = """
WITH tokt AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents),
toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(source), '[a-z0-9_]+')) AS term
  FROM documents),
nn AS (SELECT count(*) * 1.0 AS n FROM documents),
sumttf AS (
  SELECT (SELECT count(*) FROM tokt) * 1.0
       + 2.0 * (SELECT count(*) FROM toks) AS v),
cdl AS (
  SELECT d.doc_id,
         (SELECT count(*) FROM tokt WHERE doc_id = d.doc_id) * 1.0
       + 2.0 * (SELECT count(*) FROM toks WHERE doc_id = d.doc_id) AS dl
  FROM documents d),
ctf AS (
  SELECT doc_id, term, sum(w) AS tf FROM (
    SELECT doc_id, term, 1.0 AS w FROM tokt WHERE term IN ('table','src5')
    UNION ALL
    SELECT doc_id, term, 2.0 FROM toks WHERE term IN ('table','src5'))
  GROUP BY doc_id, term),
cdf AS (SELECT term, count(*) * 1.0 AS df FROM ctf GROUP BY term),
cscored AS (
  SELECT ctf.doc_id,
         sum(2.2 * ln(1.0 + (nn.n - cdf.df + 0.5) / (cdf.df + 0.5)) * ctf.tf
             / (ctf.tf + 1.2 * (0.25 + 0.75 * cdl.dl / (sumttf.v / nn.n)))) AS score
  FROM ctf JOIN cdf USING (term) JOIN cdl USING (doc_id), nn, sumttf
  GROUP BY ctf.doc_id)
SELECT doc_id, round(score, 4) AS score
FROM cscored ORDER BY score DESC, doc_id ASC LIMIT 10
"""
    # 1-hour Spark windows are epoch-aligned, so date_trunc('hour') is
    # the exact DuckDB twin of window(ts, '1 hour').start
    o["rollup_hourly"] = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket_ts,
       event_type,
       count(*) AS _doc_count,
       round(min(value), 4) AS value_min,
       round(max(value), 4) AS value_max,
       round(sum(value), 2) AS value_sum,
       count(value) AS value_value_count
FROM events
GROUP BY 1, 2
"""

    # rollup_search: the direct day-granularity aggregation IS the
    # contract — merged hourly partials must reproduce it exactly
    o["rollup_search"] = """
WITH c AS (
  SELECT ts, event_type,
         CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events)
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type,
       count(*)::BIGINT AS _doc_count,
       round(sum(value_c) / 100.0, 2) AS value_sum,
       round(min(value_c) / 100.0, 2) AS value_min,
       round(max(value_c) / 100.0, 2) AS value_max,
       round(sum(value_c)::DOUBLE / count(value_c) / 100.0, 6)
         AS value_avg,
       count(value_c)::BIGINT AS value_value_count
FROM c
GROUP BY 1, 2
"""

    o["downsample_agg"] = """
WITH c AS (
  SELECT ts,
         CAST(floor(user_id / 40.0) * 40 AS BIGINT) AS user_bucket,
         CAST(round(value * 100) AS BIGINT) AS value_c
  FROM events)
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       user_bucket,
       count(*)::BIGINT AS _doc_count,
       round(sum(value_c) / 100.0, 2) AS value_sum,
       round(min(value_c) / 100.0, 2) AS value_min,
       round(max(value_c) / 100.0, 2) AS value_max,
       round(sum(value_c)::DOUBLE / count(value_c) / 100.0, 6)
         AS value_avg,
       count(value_c)::BIGINT AS value_count
FROM c
GROUP BY 1, 2
"""

    o["transform_pivot"] = """
SELECT user_id,
       count(*) AS _doc_count,
       round(sum(value), 2) AS value_sum,
       round(sum(value) / count(value), 4) AS value_avg,
       round(max(value), 4) AS value_max
FROM events
GROUP BY 1
"""

    # transform latest: newest row per user; tie order mirrors the
    # Spark max(struct(ts, event_id, event_type, value, props))
    o["transform_latest"] = """
SELECT user_id, event_id, ts, event_type, round(value, 2) AS value
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY user_id
      ORDER BY ts DESC, event_id DESC, event_type DESC,
               value DESC, props DESC) AS rn
  FROM events
) WHERE rn = 1
"""

    o["eql_sequence"] = """
WITH a AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
b AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT a.user_id, a.event_id AS id_0, b.event_id AS id_1,
         row_number() OVER (PARTITION BY a.user_id, a.event_id
                            ORDER BY b.ts ASC, b.event_id ASC) AS rn
  FROM a JOIN b ON a.user_id = b.user_id
  WHERE b.ts > a.ts AND epoch(b.ts) - epoch(a.ts) <= 86400)
SELECT user_id, id_0, id_1 FROM j WHERE rn = 1
"""
    o["eql_text_sequence"] = """
WITH a AS (SELECT user_id, ts, event_id FROM events
           WHERE event_type = 'click' AND value >= 50),
b AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT a.user_id, a.ts AS ts_0, a.event_id AS id_0, b.event_id AS id_1,
         row_number() OVER (PARTITION BY a.user_id, a.event_id
                            ORDER BY b.ts ASC, b.event_id ASC) AS rn
  FROM a JOIN b ON a.user_id = b.user_id
  WHERE b.ts > a.ts AND epoch(b.ts) - epoch(a.ts) <= 86400)
SELECT user_id, id_0, id_1 FROM j WHERE rn = 1
ORDER BY ts_0 ASC, id_0 ASC LIMIT 20
"""

    from elasticsearch_spark.ops.similarity import (
        text_embedding_vector as _tev)
    _qv = _tev("merge sorted posting lists into the stream table",
               dims=8, max_tokens=64)
    _qn = repr(float(sum(x * x for x in _qv)) ** 0.5)
    _qvals = ", ".join(f"({j}, {v!r})" for j, v in enumerate(_qv))
    o["knn_text_embedding"] = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_slice(
           regexp_extract_all(lower(text), '[a-z0-9_]+'), 1, 64)) AS t
  FROM documents),
comp AS (
  SELECT doc_id, j,
         sum(CASE WHEN substr(md5(t || ':' || CAST(j AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7')
             THEN 1.0 ELSE -1.0 END) AS v
  FROM toks CROSS JOIN (SELECT unnest(range(8)) AS j) GROUP BY 1, 2),
qv(j, q) AS (VALUES {_qvals}),
dotn AS (
  SELECT c.doc_id, sum(c.v * qv.q) AS dot, sqrt(sum(c.v * c.v)) AS dn
  FROM comp c JOIN qv ON qv.j = c.j GROUP BY 1)
SELECT doc_id, round((1 + dot / (dn * {_qn})) / 2, 6) AS score
FROM dotn WHERE dn > 0
ORDER BY (1 + dot / (dn * {_qn})) / 2 DESC, doc_id
LIMIT 10
"""

    o["agg_terms_script"] = """
SELECT CASE WHEN l_quantity >= 25 THEN 'high' ELSE 'low' END AS key,
       count(*)::BIGINT AS doc_count,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
FROM lineitem GROUP BY 1 ORDER BY key
"""

    o["eql_sample"] = """
WITH s0 AS (SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS rn
       FROM events WHERE event_type = 'purchase' AND value >= 150),
s1 AS (SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS rn
       FROM events WHERE event_type = 'signup')
SELECT s0.user_id, s0.event_id AS id_0, s1.event_id AS id_1
FROM s0 JOIN s1 ON s1.user_id = s0.user_id
WHERE s0.rn = 1 AND s1.rn = 1
"""

    o["eql_join"] = """
WITH u AS (SELECT user_id, min(ts) AS uts FROM events
           WHERE event_type = 'signup' GROUP BY 1),
e AS (SELECT ev.user_id, ev.ts, ev.event_id, ev.event_type, ev.value
      FROM events ev LEFT JOIN u ON u.user_id = ev.user_id
      WHERE u.uts IS NULL OR ev.ts < u.uts),
s0 AS (SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS rn
       FROM e WHERE event_type = 'click' AND value >= 120),
s1 AS (SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS rn
       FROM e WHERE event_type = 'error')
SELECT s0.user_id, s0.event_id AS id_0, s1.event_id AS id_1
FROM s0 JOIN s1 ON s1.user_id = s0.user_id
WHERE s0.rn = 1 AND s1.rn = 1
"""

    o["eql_sequence_until"] = """
WITH a AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
b AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT a.user_id, a.ts AS ts_0, b.ts AS ts_1,
         a.event_id AS id_0, b.event_id AS id_1,
         row_number() OVER (PARTITION BY a.user_id, a.event_id
                            ORDER BY b.ts ASC, b.event_id ASC) AS rn
  FROM a JOIN b ON a.user_id = b.user_id
  WHERE b.ts > a.ts AND epoch(b.ts) - epoch(a.ts) <= 86400)
SELECT user_id, id_0, id_1 FROM j
WHERE rn = 1 AND NOT EXISTS (
  SELECT 1 FROM events u
  WHERE u.event_type = 'error' AND u.user_id = j.user_id
    AND u.ts > j.ts_0 AND u.ts < j.ts_1)
"""
    o["slice_scan"] = "SELECT doc_id FROM documents WHERE doc_id % 4 = 1"
    o["from_size_page"] = """
SELECT doc_id, n_chars FROM documents
ORDER BY n_chars DESC, doc_id ASC LIMIT 10 OFFSET 20
"""
    o["agg_terms_order_metric"] = """
SELECT l_returnflag, count(*) AS doc_count,
       round(avg(l_extendedprice), 4) AS avg_price
FROM lineitem GROUP BY l_returnflag
ORDER BY avg(l_extendedprice) DESC, l_returnflag ASC LIMIT 3
"""

    o["agg_boxplot"] = """
SELECT round(min(l_extendedprice), 4) AS min,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS q2,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS q3,
       round(max(l_extendedprice), 4) AS max
FROM lineitem
"""

    o["agg_string_stats"] = """
WITH l AS (SELECT length(text) AS len FROM documents),
ch AS (
  SELECT unnest(list_transform(range(1, length(text) + 1),
                               i -> substr(text, i, 1))) AS c
  FROM documents),
hist AS (SELECT c, count(*) * 1.0 AS n FROM ch GROUP BY c),
tot AS (SELECT sum(n) AS total FROM hist),
ent AS (
  SELECT list_reduce(
           list(-(n / tot.total) * log2(n / tot.total) ORDER BY c),
           (a, b) -> a + b) AS e
  FROM hist, tot GROUP BY tot.total)
SELECT (SELECT count(*) FROM l) AS count,
       (SELECT min(len) FROM l) AS min_length,
       (SELECT max(len) FROM l) AS max_length,
       (SELECT round(avg(len), 4) FROM l) AS avg_length,
       floor(e * 1e6 + 0.5) / 1e6 AS entropy
FROM ent
"""

    o["agg_terms_shard_error"] = """
WITH ps AS (
  SELECT l_orderkey % 4 AS shard, l_suppkey AS term, count(*) AS cnt
  FROM lineitem GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY shard
                               ORDER BY cnt DESC, term ASC) AS rn
  FROM ps),
kept AS (SELECT * FROM ranked WHERE rn <= 5),
cut AS (
  SELECT shard, CASE WHEN count(*) >= 5 THEN min(cnt) ELSE 0 END AS cutoff
  FROM kept GROUP BY shard),
tot AS (SELECT sum(cutoff) AS t FROM cut),
merged AS (
  SELECT term, sum(cnt) AS doc_count, sum(cutoff) AS present
  FROM kept JOIN cut USING (shard) GROUP BY term)
SELECT term AS l_suppkey, doc_count::BIGINT AS doc_count,
       (t - present)::BIGINT AS doc_count_error_upper_bound
FROM merged, tot
ORDER BY doc_count DESC, l_suppkey ASC LIMIT 10
"""

    o["agg_top_metrics"] = """
SELECT round(l_extendedprice, 2) AS l_extendedprice,
       l_quantity, l_discount, l_orderkey
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC LIMIT 3
"""

    o["agg_t_test"] = """
WITH s AS (
  SELECT avg(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS ma,
         avg(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS mb,
         var_samp(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS va,
         var_samp(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS vb,
         count(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS na,
         count(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS nb
  FROM lineitem)
SELECT round((ma - mb) / sqrt(va / na + vb / nb), 4) AS t_stat, na, nb
FROM s
"""

    o["agg_rate"] = """
SELECT strftime(date_trunc('month', ts), '%Y-%m') AS bucket,
       round(sum(value), 4) AS total,
       round(sum(value) / extract(day FROM last_day(date_trunc('month', ts))), 4) AS rate
FROM events
GROUP BY date_trunc('month', ts)
ORDER BY bucket
"""

    o["agg_multi_terms"] = """
SELECT l_returnflag, l_linestatus, count(*) AS doc_count
FROM lineitem GROUP BY 1, 2
ORDER BY doc_count DESC, l_returnflag ASC, l_linestatus ASC LIMIT 10
"""

    o["agg_moving_percentiles"] = """
WITH b AS (
  SELECT date_trunc('month', ts) AS bucket, list(value) AS vals
  FROM events GROUP BY 1),
w AS (
  SELECT bucket,
         list_sort(flatten(list(vals) OVER (
           ORDER BY bucket ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))) AS wv
  FROM b)
SELECT strftime(bucket, '%Y-%m') AS bucket,
       round(wv[1 + CAST(floor((len(wv) - 1) * 0.5) AS INT)]
             + ((len(wv) - 1) * 0.5 - floor((len(wv) - 1) * 0.5))
               * (wv[least(2 + CAST(floor((len(wv) - 1) * 0.5) AS INT), len(wv))]
                  - wv[1 + CAST(floor((len(wv) - 1) * 0.5) AS INT)]), 4) AS p
FROM w ORDER BY bucket
"""

    o["agg_variable_width_histogram"] = """
WITH v AS (SELECT n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
d AS (SELECT DISTINCT v FROM v),
g AS (SELECT v, v - lag(v) OVER (ORDER BY v) AS gap FROM d),
cuts AS (SELECT v AS cut FROM g WHERE gap IS NOT NULL
         ORDER BY gap DESC, v ASC LIMIT 3),
bk AS (SELECT v.v, (SELECT count(*) FROM cuts WHERE cuts.cut <= v.v) AS bucket_id
       FROM v)
SELECT bucket_id, min(v) AS min, max(v) AS max, count(*) AS doc_count,
       round(avg(v), 4) AS centroid
FROM bk GROUP BY bucket_id ORDER BY bucket_id
"""

    o["agg_date_range"] = """
SELECT key, doc_count FROM (
  SELECT '*..2024-06-01' AS key,
         sum(CASE WHEN o_orderdate < '2024-06-01' THEN 1 ELSE 0 END)::BIGINT AS doc_count
  FROM orders
  UNION ALL
  SELECT '2024-06-01..2025-01-01',
         sum(CASE WHEN o_orderdate >= '2024-06-01'
                   AND o_orderdate < '2025-01-01' THEN 1 ELSE 0 END)::BIGINT
  FROM orders
  UNION ALL
  SELECT '2025-01-01..*',
         sum(CASE WHEN o_orderdate >= '2025-01-01' THEN 1 ELSE 0 END)::BIGINT
  FROM orders)
"""

    o["agg_ip_range"] = """
WITH e AS (
  SELECT (10 * 16777216
          + (user_id % 256) * 65536
          + (CAST(floor(user_id / 256) AS BIGINT) % 256) * 256
          + (event_id % 256)) AS ipnum
  FROM events)
SELECT key, doc_count FROM (
  SELECT '*..10.64.0.0' AS key,
         sum(CASE WHEN ipnum < 171966464 THEN 1 ELSE 0 END)::BIGINT AS doc_count FROM e
  UNION ALL
  SELECT '10.64.0.0..10.192.0.0',
         sum(CASE WHEN ipnum >= 171966464 AND ipnum < 180355072 THEN 1 ELSE 0 END)::BIGINT FROM e
  UNION ALL
  SELECT '10.192.0.0..*',
         sum(CASE WHEN ipnum >= 180355072 THEN 1 ELSE 0 END)::BIGINT FROM e)
"""

    o["agg_adjacency_matrix"] = """
SELECT * FROM (
  SELECT 'click' AS key, count(*) AS doc_count FROM events WHERE event_type='click'
  UNION ALL
  SELECT 'big', count(*) FROM events WHERE value >= 50
  UNION ALL
  SELECT 'click&big', count(*) FROM events WHERE event_type='click' AND value >= 50
) WHERE doc_count > 0
"""
    o["agg_mad"] = """
SELECT round(quantile_cont(abs(l_extendedprice -
  (SELECT quantile_cont(l_extendedprice, 0.5) FROM lineitem)), 0.5), 4) AS mad
FROM lineitem
"""
    o["agg_matrix_stats"] = """
SELECT round(covar_samp(l_quantity, l_extendedprice), 4) AS cov,
       round(corr(l_quantity, l_extendedprice), 8) AS corr
FROM lineitem
"""
    o["agg_auto_date_histogram"] = """
SELECT date_trunc('year', o_orderdate)::TIMESTAMP AS key, count(*) AS doc_count
FROM orders GROUP BY 1
"""
    o["agg_scripted_metric"] = """
SELECT l_returnflag, round(sum(l_quantity * l_quantity), 4) AS ss
FROM lineitem GROUP BY 1
"""

    def _multi_term_oracle(term_pred: str) -> str:
        return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents),
tdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
cand AS (SELECT term FROM tdf WHERE {term_pred}
         ORDER BY df DESC, term ASC LIMIT 50)
SELECT DISTINCT doc_id, 1.0 AS score
FROM tok JOIN cand USING (term)
ORDER BY doc_id ASC LIMIT 10
"""

    o["prefix_match_indexed"] = _multi_term_oracle("term LIKE 'tab%'")
    o["wildcard_match_indexed"] = _multi_term_oracle(
        "regexp_matches(term, '^s.an$')"
    )
    o["fuzzy_match_indexed"] = _multi_term_oracle(
        "substr(term,1,1) = 't' AND abs(length(term) - 5) <= 2 "
        "AND levenshtein(term, 'tabel') <= 2"
    )
    o["intervals_ordered"] = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents),
pos AS (
  SELECT doc_id,
         list_filter(generate_series(1, len(ts)), i -> ts[i] = 'key') AS p1,
         list_filter(generate_series(1, len(ts)), i -> ts[i] = 'order') AS p2
  FROM tok)
SELECT doc_id, 1.0 AS score FROM pos
WHERE len(list_filter(p1,
        a -> len(list_filter(p2, b -> b > a AND b - a - 1 <= 2)) > 0)) > 0
ORDER BY doc_id ASC LIMIT 10
"""
    # span family: 0-based engine positions == 1-based SQL `pos` shifted,
    # offsets cancel inside width/gap arithmetic
    _tokpos = """
t0 AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents),
tok AS (
  SELECT doc_id, unnest(ts) AS term, unnest(range(1, len(ts) + 1)) AS pos
  FROM t0)"""

    o["span_near"] = f"""
WITH {_tokpos}
SELECT a.doc_id, 1.0 AS score, count(*)::INT AS matched
FROM tok a JOIN tok b ON b.doc_id = a.doc_id
WHERE a.term = 'key' AND b.term = 'order' AND b.pos > a.pos
  AND (b.pos - a.pos + 1) - 2 <= 2
GROUP BY a.doc_id
ORDER BY a.doc_id ASC LIMIT 50
"""

    o["span_field_masking"] = f"""
WITH {_tokpos},
u AS (
  SELECT doc_id, pos FROM tok WHERE term = 'key'
  UNION
  SELECT doc_id, 1 AS pos FROM documents WHERE source = 'src3')
SELECT doc_id, 1.0 AS score, count(*)::INT AS matched
FROM u GROUP BY doc_id ORDER BY doc_id ASC LIMIT 50
"""

    o["span_multi"] = f"""
WITH {_tokpos}
SELECT a.doc_id, 1.0 AS score, count(*)::INT AS matched
FROM tok a JOIN tok b ON b.doc_id = a.doc_id
WHERE a.term = 'key' AND b.term LIKE 'ord%' AND b.pos > a.pos
  AND (b.pos - a.pos + 1) - 2 <= 2
GROUP BY a.doc_id
ORDER BY a.doc_id ASC LIMIT 50
"""

    o["span_first"] = f"""
WITH {_tokpos}
SELECT doc_id, 1.0 AS score, count(*)::INT AS matched
FROM tok WHERE term = 'table' AND pos <= 5
GROUP BY doc_id ORDER BY doc_id ASC LIMIT 50
"""

    o["span_not"] = f"""
WITH {_tokpos}
SELECT a.doc_id, 1.0 AS score, count(*)::INT AS matched
FROM tok a
WHERE a.term = 'key' AND NOT EXISTS (
  SELECT 1 FROM tok b
  WHERE b.doc_id = a.doc_id AND b.term = 'order' AND b.pos = a.pos + 1)
GROUP BY a.doc_id ORDER BY a.doc_id ASC LIMIT 50
"""

    o["intervals_any_of"] = f"""
WITH {_tokpos}
SELECT a.doc_id, 1.0 AS score, count(*)::INT AS matched
FROM tok a JOIN tok b ON b.doc_id = a.doc_id
WHERE a.term = 'window' AND b.term IN ('filter', 'merge') AND b.pos > a.pos
  AND (b.pos - a.pos + 1) - 2 <= 3
GROUP BY a.doc_id
ORDER BY a.doc_id ASC LIMIT 50
"""

    o["intervals_prefix"] = f"""
WITH {_tokpos}
SELECT a.doc_id, 1.0 AS score, count(*)::INT AS matched
FROM tok a JOIN tok b ON b.doc_id = a.doc_id
WHERE a.term = 'key' AND b.term LIKE 'ord%' AND b.pos > a.pos
  AND (b.pos - a.pos + 1) - 2 <= 1
GROUP BY a.doc_id
ORDER BY a.doc_id ASC LIMIT 50
"""

    from elasticsearch_spark.search.geo import haversine_km_sql as _hav

    o["geo_distance_sort"] = f"""
WITH g AS (
  SELECT doc_id,
         CAST((doc_id % 171 + 171) % 171 - 85 AS DOUBLE) AS lat,
         CAST((doc_id * 7 % 360 + 360) % 360 - 180 AS DOUBLE) AS lon
  FROM documents),
dd AS (
  SELECT doc_id, {_hav('lat', 'lon', '10.0', '20.0')} AS distance_km
  FROM g)
SELECT doc_id, round(distance_km, 4) AS distance_km
FROM dd WHERE distance_km <= 3000.0
ORDER BY distance_km ASC, doc_id ASC LIMIT 20
"""

    _GEO_CTE = """g AS (
  SELECT doc_id,
         CAST((doc_id % 171 + 171) % 171 - 85 AS DOUBLE) AS lat,
         CAST((doc_id * 7 % 360 + 360) % 360 - 180 AS DOUBLE) AS lon
  FROM documents)"""

    from elasticsearch_spark.search.percolate import (
        percolate_requirements_sql as _perc_sql,
    )

    _perc_table = (
        "(SELECT *,"
        " struct_pack(lat := CAST(doc_id % 171 - 85 AS DOUBLE),"
        "             lon := CAST(doc_id * 7 % 360 - 180 AS DOUBLE))"
        "   AS loc,"
        " CASE WHEN doc_id % 7 = 0 THEN 'tagged' END AS opt_tag"
        " FROM documents)")
    o["percolate"] = _perc_sql(
        PERCOLATE_STORED, table=_perc_table,
        keyword_fields=["lang", "source", "opt_tag"],
        numeric_fields=["n_chars", "loc.lat", "loc.lon"],
    )

    # verify-path twins: each stored query hand-expressed as one SQL
    # predicate (nested -> EXISTS over the child table; token clauses
    # -> the shared \b / unnest-token expressions)
    o["percolate_nested"] = """
SELECT c_custkey AS doc_id, CAST(1 AS BIGINT) AS query_id FROM customer
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
              AND lower(o.o_orderstatus) = 'f'
              AND o.o_totalprice >= 250000.0)
UNION ALL
SELECT c_custkey, 2 FROM customer
WHERE lower(c_mktsegment) = 'building'
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
                  AND lower(o.o_orderpriority) = '1-urgent')
UNION ALL
SELECT c_custkey, 3 FROM customer
WHERE c_acctbal >= 9000.0
  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
              AND lower(o.o_orderpriority) = '5-low'
              AND o.o_totalprice < 50000.0)
"""

    o["percolate_verify"] = r"""
WITH t AS (SELECT doc_id, lower(text) AS lt, lower(lang) AS ll
           FROM documents)
SELECT doc_id, CAST(1 AS BIGINT) AS query_id FROM t
WHERE NOT coalesce(regexp_matches(lt, '\bmerge\b'), FALSE)
UNION ALL
SELECT doc_id, 2 FROM t
WHERE ll = 'en'
  AND NOT (coalesce(regexp_matches(lt, '\bhash\b'), FALSE)
           AND NOT coalesce(regexp_matches(lt, '\bwindow\b'), FALSE))
UNION ALL
SELECT doc_id, 3 FROM t
WHERE EXISTS (SELECT 1
              FROM unnest(regexp_extract_all(lt, '[a-z0-9_]+')) AS u(tok)
              WHERE regexp_matches(tok, '^(?:quer(y|ies))$'))
UNION ALL
SELECT doc_id, 4 FROM t WHERE levenshtein(coalesce(ll, ''), 'enn') <= 1
"""

    o["match_phrase_slop"] = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
         generate_subscripts(
           regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS pos
  FROM documents)
SELECT DISTINCT doc_id, CAST(1 AS INT) AS qid
FROM toks a JOIN toks b USING (doc_id)
WHERE a.tok = 'fast' AND b.tok = 'table'
  AND greatest(a.pos, b.pos - 1) - least(a.pos, b.pos - 1) <= 0
UNION ALL
SELECT DISTINCT doc_id, 2
FROM toks a JOIN toks b USING (doc_id)
WHERE a.tok = 'fast' AND b.tok = 'table'
  AND greatest(a.pos, b.pos - 1) - least(a.pos, b.pos - 1) <= 2
UNION ALL
SELECT DISTINCT doc_id, 3
FROM toks a JOIN toks b USING (doc_id) JOIN toks c USING (doc_id)
WHERE a.tok = 'data' AND b.tok = 'stream' AND c.tok = 'filter'
  AND greatest(a.pos, b.pos - 1, c.pos - 2)
      - least(a.pos, b.pos - 1, c.pos - 2) <= 1
"""

    o["percolate_spans"] = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok,
         generate_subscripts(
           regexp_extract_all(lower(text), '[a-z0-9_]+'), 1) AS pos
  FROM documents)
SELECT DISTINCT doc_id, CAST(1 AS BIGINT) AS query_id
FROM toks a JOIN toks b USING (doc_id)
WHERE a.tok = 'data' AND b.tok = 'filter'
  AND b.pos > a.pos AND (b.pos - a.pos + 1) - 2 <= 2
UNION ALL
SELECT DISTINCT doc_id, 2
FROM toks a JOIN toks b USING (doc_id)
WHERE a.tok = 'table' AND b.tok = 'join' AND a.pos <> b.pos
  AND (greatest(a.pos, b.pos) - least(a.pos, b.pos) + 1) - 2 <= 1
UNION ALL
SELECT DISTINCT doc_id, 3 FROM toks
WHERE tok = 'key' AND pos <= 3
UNION ALL
SELECT DISTINCT doc_id, 4 FROM toks
WHERE tok IN ('stream', 'merge')
UNION ALL
SELECT DISTINCT doc_id, 5
FROM toks a JOIN toks b USING (doc_id)
WHERE a.tok IN ('stream', 'merge') AND b.tok = 'table'
  AND b.pos > a.pos AND (b.pos - a.pos + 1) - 2 <= 3
UNION ALL
SELECT DISTINCT a.doc_id, 6
FROM toks a JOIN toks b USING (doc_id)
WHERE a.tok = 'table' AND b.tok = 'join'
  AND b.pos > a.pos AND (b.pos - a.pos + 1) - 2 <= 2
  AND NOT EXISTS (SELECT 1 FROM toks c
                  WHERE c.doc_id = a.doc_id AND c.tok = 'key'
                    AND c.pos BETWEEN a.pos AND b.pos)
"""

    from elasticsearch_spark.ops.text import pii_scrub_sql as _pii_sql

    _pii_inner = (
        "SELECT doc_id, text || ' contact user' || doc_id::VARCHAR"
        " || '@example.com or 10.0.' || (doc_id % 256)::VARCHAR"
        " || '.1 tel 415-555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0')"
        " AS text FROM documents"
    )
    o["pii_scrub"] = _pii_sql(table=f"({_pii_inner})")

    o["agg_children"] = """
SELECT o.o_orderstatus, count(*) AS child_doc_count,
       round(avg(l.l_quantity), 4) AS avg_qty,
       round(sum(l.l_extendedprice), 2) AS sum_price
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
"""

    o["agg_parent"] = """
SELECT c.l_returnflag, count(*) AS parent_doc_count,
       round(avg(o.o_totalprice), 4) AS avg_total
FROM (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem) c
JOIN orders o ON o.o_orderkey = c.l_orderkey
GROUP BY c.l_returnflag
"""

    from elasticsearch_spark.analysis.analyzers import (
        ENGLISH_STOPWORDS as _EN_STOPS,
    )
    from elasticsearch_spark.analysis.stem import s_stem_sql as _s_stem_sql

    _stops_sql = ", ".join(f"'{w}'" for w in sorted(_EN_STOPS))
    o["analyze_api"] = f"""
SELECT {_s_stem_sql('tok')} AS token, pos AS position
FROM (
  SELECT unnest(ts) AS tok, unnest(range(0, len(ts))) AS pos
  FROM (SELECT regexp_extract_all(lower('{ANALYZE_TEXT}'),
                                  '[a-z0-9_]+') AS ts)
)
WHERE tok NOT IN ({_stops_sql})
"""

    # same alternation order as the Python tokenizer (URL | EMAIL |
    # word); '' doubles the quote inside the SQL literal
    _UAX_SQL_RE = (
        r"(?:https?|ftp)://[^\s<>\"'']+|www\.[^\s<>\"'']+"
        r"|[A-Za-z0-9.!#$%&''*+/=?^_`{|}~-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+"
        r"|\w+(?:[''.]\w+)*"
    )
    o["analyze_uax_url_email"] = f"""
SELECT unnest(ts) AS token, unnest(range(0, len(ts)))::INT AS position
FROM (SELECT regexp_extract_all(lower('{UAX_TEXT}'),
                                '{_UAX_SQL_RE}') AS ts)
"""

    o["ingest_pipeline"] = """
SELECT doc_id, upper(lang) AS lang,
       string_split(replace(source, 'src', 'origin_'), '_')[2] AS src_num,
       'v1' AS pipe,
       sha256(doc_id::VARCHAR || '|' || upper(lang)) AS fp
FROM documents
"""

    from elasticsearch_spark.oracle.sql_oracle import bm25_ctes as _ctes

    _ts_a = [t for t, _ in analyze("table scan", "ascii_word")]
    _ts_b = [t for t, _ in analyze("window merge", "ascii_word")]
    o["msearch"] = f"""
WITH {_ctes(_ts_a, prefix="a_")},
{_ctes(_ts_b, prefix="b_")},
ta AS (SELECT 0 AS slot, doc_id, round(score, 4) AS score
       FROM a_scored WHERE matched >= 1
       ORDER BY score DESC, doc_id ASC LIMIT 5),
tb AS (SELECT 1 AS slot, doc_id, round(score, 4) AS score
       FROM b_scored WHERE matched >= 1
       ORDER BY score DESC, doc_id ASC LIMIT 5)
SELECT * FROM ta UNION ALL SELECT * FROM tb
"""

    _ts_r = [t for t, _ in analyze("spark query data", "ascii_word")]
    o["rank_eval"] = f"""
WITH {_ctes(_ts_r)},
topk AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored WHERE matched >= 1
  ORDER BY score DESC, doc_id ASC LIMIT 10
),
j AS (SELECT rank, CASE WHEN doc_id % 7 = 0 THEN 1.0 ELSE 0.0 END AS rel
      FROM topk),
tot AS (SELECT count(*) AS n_rel FROM documents WHERE doc_id % 7 = 0),
idcg AS (
  SELECT sum(1.0 / log2(i + 1)) AS v
  FROM (SELECT unnest(range(1, least((SELECT n_rel FROM tot), 10) + 1)) AS i)
)
SELECT round(avg(rel), 6) AS p_at_10,
       round(sum(rel) / (SELECT n_rel FROM tot), 6) AS recall_at_10,
       round(coalesce(max(rel / rank), 0.0), 6) AS mrr_at_10,
       round(sum(rel / log2(rank + 1)) / (SELECT v FROM idcg), 6)
         AS ndcg_at_10
FROM j
"""

    _decomp_vals = ", ".join(f"('{w}')" for w in
                             ["col", "umn", "wind", "order", "val",
                              "ream", "park"])
    o["analyze_decompound"] = f"""
SELECT w.word,
       CAST(sum(len(list_filter(
           range(1, len(t.tok) - len(w.word) + 2),
           i -> substr(t.tok, i, len(w.word)) = w.word))) AS BIGINT)
         AS occurrences
FROM (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
  FROM documents
) t JOIN (VALUES {_decomp_vals}) AS w(word)
  ON len(t.tok) >= 5 AND position(w.word IN t.tok) > 0
  AND w.word <> t.tok
GROUP BY w.word
"""

    _hyph_dict = ", ".join(f"'{w}'" for w in
                           sorted(["cus", "tomer", "vec", "tor", "win",
                                   "dow", "fil", "ter"]))
    o["analyze_hyphen_decompound"] = f"""
WITH toks AS (
  SELECT tok FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS tok
    FROM documents)
  WHERE length(tok) >= 5),
syl AS (
  SELECT tok,
         list_filter(string_split(replace(replace(replace(tok,
             'to', chr(1) || 'to'), 'do', chr(1) || 'do'),
             'lt', 'l' || chr(1) || 't'), chr(1)),
           s -> s <> '') AS ss
  FROM toks),
spans AS (
  SELECT tok,
         unnest(flatten(list_transform(range(1, len(ss) + 1), a ->
           list_transform(range(a, len(ss) + 1), b ->
             array_to_string(ss[a:b], ''))))) AS word
  FROM syl)
SELECT word, count(*)::BIGINT AS occurrences
FROM spans
WHERE word <> tok AND length(word) BETWEEN 3 AND 15
  AND word IN ({_hyph_dict})
GROUP BY word
"""

    o["geo_bbox"] = f"""
WITH {_GEO_CTE}
SELECT doc_id, lat, lon FROM g
WHERE lat >= -20.0 AND lat <= 60.0
  AND (lon >= 150.0 OR lon <= -120.0)
ORDER BY doc_id ASC LIMIT 50
"""

    from elasticsearch_spark.search.geo import (
        geo_polygon_sql as _poly_sql,
        geo_shape_sql as _shape_sql,
        geohash_sql as _gh_sql,
        geotile_sql as _gt_sql,
    )

    o["geo_polygon"] = f"""
WITH {_GEO_CTE}
SELECT doc_id, lat, lon FROM g
WHERE {_poly_sql(GEO_PENTAGON, 'lat', 'lon')}
ORDER BY doc_id ASC LIMIT 50
"""

    o["geo_shape_intersects"] = f"""
WITH {_GEO_CTE}
SELECT doc_id, lat, lon FROM g
WHERE {_shape_sql(GEO_SHAPE_WKT, 'lat', 'lon', 'intersects')}
ORDER BY doc_id ASC LIMIT 100
"""

    o["geo_shape_disjoint"] = f"""
WITH {_GEO_CTE}
SELECT doc_id, lat, lon FROM g
WHERE {_shape_sql(GEO_SHAPE_ENVELOPE, 'lat', 'lon', 'disjoint')}
ORDER BY doc_id ASC LIMIT 50
"""

    _DIST = _hav('lat', 'lon', '10.0', '20.0')
    o["agg_geo_distance"] = f"""
WITH {_GEO_CTE},
dd AS (SELECT {_DIST} AS dist FROM g)
SELECT key, doc_count FROM (
  SELECT '*-3000' AS key,
         count(*) FILTER (dist < 3000.0) AS doc_count, 1 AS ord FROM dd
  UNION ALL
  SELECT '3000-8000',
         count(*) FILTER (dist >= 3000.0 AND dist < 8000.0), 2 FROM dd
  UNION ALL
  SELECT '8000-*', count(*) FILTER (dist >= 8000.0), 3 FROM dd
) ORDER BY ord
"""

    o["agg_geohash_grid"] = f"""
WITH {_GEO_CTE}
SELECT {_gh_sql('lat', 'lon', 2)} AS key, count(*) AS doc_count
FROM g GROUP BY 1
ORDER BY doc_count DESC, key ASC LIMIT 15
"""

    o["agg_geotile_grid"] = f"""
WITH {_GEO_CTE}
SELECT {_gt_sql('lat', 'lon', 4)} AS key, count(*) AS doc_count
FROM g GROUP BY 1
ORDER BY doc_count DESC, key ASC LIMIT 15
"""

    o["agg_geo_bounds"] = f"""
WITH {_GEO_CTE}
SELECT max(g.lat) AS top, min(g.lat) AS bottom,
       min(g.lon) AS "left", max(g.lon) AS "right",
       round(avg(g.lat), 6) AS c_lat, round(avg(g.lon), 6) AS c_lon,
       count(*) AS count
FROM g JOIN documents d ON d.doc_id = g.doc_id
WHERE d.lang = 'en'
"""

    o["rank_feature"] = """
SELECT doc_id, round(n_chars * 1.0 / (n_chars + 200.0), 6) AS score
FROM documents
ORDER BY n_chars * 1.0 / (n_chars + 200.0) DESC, doc_id ASC LIMIT 10
"""
    o["distance_feature"] = """
SELECT doc_id, round(50.0 / (50.0 + abs(n_chars - 300)), 6) AS score
FROM documents
ORDER BY 50.0 / (50.0 + abs(n_chars - 300)) DESC, doc_id ASC LIMIT 10
"""
    from elasticsearch_spark.search.completion import completion_suggest_sql

    _SUGG_SUB = ("(SELECT unnest(regexp_extract_all(lower(text), "
                 "'[a-z0-9_]+')[1:5]) AS suggestion, "
                 "CAST(n_chars AS BIGINT) AS weight, "
                 "[lang, source] AS contexts FROM documents) sg")
    o["completion_fuzzy"] = completion_suggest_sql(
        "tabel", size=5, fuzziness=1, table=_SUGG_SUB, round_decimals=4)
    o["completion_contexts"] = completion_suggest_sql(
        "s", size=5, contexts={"en": 2.0, "fr": 1.0},
        table=_SUGG_SUB, round_decimals=4)

    from elasticsearch_spark.search.completion import (
        completion_suggest_geo_sql as _geo_sugg_sql,
    )
    from elasticsearch_spark.search.geo import geohash_sql as _gh_sql

    _SUGG_GEO_SUB = (
        "(SELECT unnest(regexp_extract_all(lower(text), "
        "'[a-z0-9_]+')[1:5]) AS suggestion, "
        "CAST(n_chars AS BIGINT) AS weight, "
        f"[{_gh_sql('((doc_id % 171 + 171) % 171 - 85)::DOUBLE', '((doc_id * 7 % 360 + 360) % 360 - 180)::DOUBLE', 3)}]"
        " AS geo_contexts FROM documents) sg")
    o["completion_geo"] = _geo_sugg_sql(
        "s", lat=-83.0, lon=-166.0, size=5, precision=3, boost=2.0,
        table=_SUGG_GEO_SUB, round_decimals=4)

    o["completion_suggest"] = """
WITH tok AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents)
SELECT term, count(*) AS df FROM tok
WHERE term LIKE 's%'
GROUP BY term ORDER BY df DESC, term ASC LIMIT 5
"""

    o["runtime_field"] = """
SELECT doc_id,
       round(len(regexp_extract_all(lower(text), '[a-z0-9_]+'))
             * 1.0 / n_chars, 6) AS tokens_per_char
FROM documents
WHERE len(regexp_extract_all(lower(text), '[a-z0-9_]+')) * 1.0 / n_chars > 0.18
"""
    from elasticsearch_spark.scripts import compile_painless_program \
        as _cpp
    _rf_str = _cpp(
        "String t = doc['o_orderpriority'].value.trim().toLowerCase();"
        " if (t.contains('urgent') || t.endsWith('low')) {"
        "   return t.substring(2); }"
        " return t.substring(0, 1);", dialect="duckdb")
    o["runtime_field_string"] = f"""
SELECT {_rf_str} AS tag, count(*)::BIGINT AS doc_count
FROM orders
GROUP BY 1 ORDER BY doc_count DESC, tag LIMIT 10
"""
    o["terms_lookup"] = """
SELECT l_orderkey, l_linenumber FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT')
"""
    o["wrapper_query"] = """
SELECT doc_id, lang, n_chars FROM documents
WHERE lang = 'en' AND n_chars < 200
"""
    o["has_child_inner_hits"] = """
WITH m AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice,
         row_number() OVER (
           PARTITION BY l.l_orderkey
           ORDER BY l.l_extendedprice DESC, l.l_linenumber ASC
         ) AS rank
  FROM lineitem l
  WHERE l.l_quantity >= 49)
SELECT o.o_orderkey, m.rank, m.l_linenumber, m.l_quantity,
       round(m.l_extendedprice, 2) AS l_extendedprice
FROM m JOIN orders o ON o.o_orderkey = m.l_orderkey
WHERE m.rank <= 2
"""

    o["has_child"] = """
SELECT o.o_orderkey, round(c.score, 4) AS score
FROM orders o JOIN (
  SELECT l_orderkey, count(*) AS n, sum(l_quantity) AS score
  FROM lineitem WHERE l_quantity >= 45 GROUP BY 1 HAVING count(*) >= 2
) c ON c.l_orderkey = o.o_orderkey
"""
    o["has_parent"] = """
SELECT l.l_orderkey, l.l_linenumber, round(o.o_totalprice, 4) AS score
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
"""
    o["parent_id"] = """
SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey = 7
"""

    o["nested_filter"] = """
SELECT o_orderkey FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_quantity >= 49 AND l.l_extendedprice < 10000)
"""
    o["nested_agg"] = """
SELECT l_returnflag, count(*) AS doc_count,
       round(sum(l_quantity), 4) AS q
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""

    o["inner_hits"] = """
WITH m AS (
  SELECT o.o_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice,
         row_number() OVER (
           PARTITION BY o.o_orderkey
           ORDER BY l.l_extendedprice DESC, l.l_linenumber ASC
         ) AS rank
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity >= 49)
SELECT o_orderkey, rank, l_linenumber, l_quantity,
       round(l_extendedprice, 2) AS l_extendedprice
FROM m WHERE rank <= 2
"""

    o["agg_reverse_nested"] = """
SELECT l_returnflag, count(*) AS doc_count,
       round(avg(o_totalprice), 4) AS avg_total
FROM (SELECT DISTINCT l.l_returnflag, o.o_orderkey, o.o_totalprice
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
GROUP BY l_returnflag ORDER BY l_returnflag
"""

    o["term_filter"] = "SELECT doc_id, lang FROM documents WHERE lang = 'fr'"
    o["script_query_filter"] = (
        "SELECT doc_id, n_chars FROM documents "
        "WHERE n_chars % 7 = 0 AND lang = 'en'"
    )
    o["terms_filter"] = (
        "SELECT doc_id, lang FROM documents WHERE lang IN ('de','zh')"
    )
    o["range_filter"] = (
        "SELECT doc_id, n_chars FROM documents WHERE n_chars >= 100 AND n_chars < 300"
    )
    o["prefix_filter"] = (
        "SELECT doc_id, source FROM documents WHERE source LIKE 'src1%'"
    )
    o["range_date_math"] = (
        "SELECT event_id FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' "
        "AND ts <= TIMESTAMP '2024-01-27 23:59:59.999'"
    )
    o["wildcard_filter"] = (
        "SELECT doc_id, source FROM documents WHERE regexp_matches(source, '^src.*5$')"
    )
    o["regexp_filter"] = (
        "SELECT doc_id, source FROM documents WHERE regexp_matches(source, '^(?:src1[0-3])$')"
    )
    o["ids_filter"] = (
        "SELECT doc_id FROM documents WHERE doc_id IN (1,2,3,5,8,13,21)"
    )
    o["fuzzy_filter"] = (
        "SELECT doc_id, lang FROM documents WHERE levenshtein(lang, 'eng') <= 1"
    )
    o["exists_filter"] = "SELECT doc_id FROM documents WHERE lang IS NOT NULL"
    o["bool_filter"] = """
SELECT doc_id, lang, n_chars FROM documents
WHERE n_chars >= 100 AND NOT lang = 'zh'
  AND ((CASE WHEN lang='en' THEN 1 ELSE 0 END) + (CASE WHEN lang='fr' THEN 1 ELSE 0 END)) >= 1
"""

    # --- aggregations ---
    o["agg_terms_metrics"] = """
SELECT l_returnflag, count(*) AS doc_count,
       round(sum(l_quantity), 4) AS sum_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       count(DISTINCT l_partkey) AS uniq_parts
FROM lineitem GROUP BY 1
"""
    o["agg_terms_topn"] = """
SELECT o_orderpriority, count(*) AS doc_count FROM orders
GROUP BY 1 ORDER BY doc_count DESC, o_orderpriority ASC LIMIT 3
"""
    o["agg_histogram"] = """
SELECT (floor(o_totalprice / 50000) * 50000)::DOUBLE AS key, count(*) AS doc_count
FROM orders GROUP BY 1
"""
    o["agg_date_histogram"] = """
SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS key,
       count(*) AS doc_count, round(sum(o_totalprice), 4) AS rev
FROM orders GROUP BY 1
"""
    o["agg_date_histogram_tz"] = """
SELECT (date_trunc('day', ts + INTERVAL '5 hours 30 minutes')
        - INTERVAL '5 hours 30 minutes') AS key,
       count(*) AS doc_count
FROM events GROUP BY 1
"""
    o["agg_date_histogram_offset"] = """
SELECT make_timestamp(
         ((floor((epoch(ts) - 21600) / 43200) * 43200 + 21600)
          * 1000000)::BIGINT) AS key,
       count(*) AS doc_count
FROM events GROUP BY 1
"""
    o["agg_histogram_empty"] = """
WITH g AS (
  SELECT floor(n_chars / 500.0) * 500.0 AS key, count(*) AS doc_count
  FROM documents GROUP BY 1),
b AS (SELECT least(min(key), 0.0) AS lo, greatest(max(key), 4000.0) AS hi
      FROM g),
ladder AS (
  SELECT unnest(generate_series(0, ((hi - lo) / 500.0)::INT)) * 500.0 + lo
           AS key
  FROM b)
SELECT l.key, coalesce(g.doc_count, 0) AS doc_count
FROM ladder l LEFT JOIN g USING (key)
"""
    o["agg_range_buckets"] = """
SELECT 'low' AS key, count(*) AS doc_count FROM customer WHERE c_acctbal < 0
UNION ALL
SELECT 'mid', count(*) FROM customer WHERE c_acctbal >= 0 AND c_acctbal < 5000
UNION ALL
SELECT 'high', count(*) FROM customer WHERE c_acctbal >= 5000
"""
    o["agg_filters"] = """
SELECT 'clicks' AS key, count(*) AS doc_count, round(avg(value), 6) AS v
FROM events WHERE event_type = 'click'
UNION ALL
SELECT 'big', count(*), round(avg(value), 6) FROM events WHERE value >= 50
"""
    o["agg_terms_missing_param"] = """
SELECT coalesce(CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END,
                '(none)') AS key,
       count(*)::BIGINT AS doc_count
FROM documents GROUP BY 1
ORDER BY doc_count DESC, key ASC LIMIT 20
"""

    o["agg_filters_other"] = """
SELECT 'clicks' AS key, count(*) AS doc_count, round(avg(value), 6) AS v
FROM events WHERE event_type = 'click'
UNION ALL
SELECT 'big', count(*), round(avg(value), 6) FROM events WHERE value >= 50
UNION ALL
SELECT 'rest', count(*), round(avg(value), 6) FROM events
WHERE NOT coalesce(event_type = 'click' OR value >= 50, FALSE)
"""
    o["agg_composite_page"] = """
SELECT l_returnflag AS flag, l_linestatus AS status, count(*) AS doc_count
FROM lineitem GROUP BY 1, 2
HAVING (l_returnflag, l_linestatus) > ('A', 'F')
ORDER BY 1, 2 LIMIT 3
"""
    o["agg_stats_global"] = """
SELECT count(*) AS doc_count, count(l_quantity) AS s_count,
       round(avg(l_quantity), 4) AS s_avg,
       round(sum(l_quantity), 4) AS s_sum,
       round(var_pop(l_discount), 8) AS e_variance,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS w,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p_p50,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p_p95
FROM lineitem
"""
    o["agg_top_hits"] = """
SELECT o_orderpriority, o_orderkey, hit_rank FROM (
  SELECT o_orderpriority, o_orderkey,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS hit_rank
  FROM orders) WHERE hit_rank <= 2
"""
    o["agg_cumulative_cardinality"] = """
WITH b AS (
  SELECT DISTINCT date_trunc('day', ts)::TIMESTAMP AS bucket FROM events),
f AS (
  SELECT user_id, min(date_trunc('day', ts)::TIMESTAMP) AS bucket
  FROM events GROUP BY user_id),
n AS (SELECT bucket, count(*)::BIGINT AS new_keys FROM f GROUP BY bucket)
SELECT b.bucket::VARCHAR AS bucket,
       coalesce(n.new_keys, 0)::BIGINT AS new_keys,
       (sum(coalesce(n.new_keys, 0)) OVER (ORDER BY b.bucket))::BIGINT
         AS cumulative_cardinality
FROM b LEFT JOIN n ON n.bucket = b.bucket
ORDER BY bucket
"""

    o["agg_normalize"] = """
WITH per AS (
  SELECT date_trunc('day', ts)::TIMESTAMP AS bucket,
         sum(value) AS value
  FROM events GROUP BY 1)
SELECT bucket::VARCHAR AS bucket, round(value, 4) AS value,
       round((value - min(value) OVER ())
             / (max(value) OVER () - min(value) OVER ()), 6) AS normalized
FROM per ORDER BY bucket
"""

    o["agg_pipeline_cum_deriv"] = """
WITH b AS (
  SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS key,
         count(*) AS doc_count, sum(o_totalprice) AS rev
  FROM orders GROUP BY 1)
SELECT key, doc_count, round(rev, 4) AS rev,
       round(sum(rev) OVER (ORDER BY key), 4) AS cum,
       round(rev - lag(rev) OVER (ORDER BY key), 4) AS deriv
FROM b
"""
    o["agg_bucket_pipeline"] = """
WITH b AS (
  SELECT l_returnflag, count(*) AS doc_count,
         sum(l_quantity) AS qty, sum(l_extendedprice) AS rev
  FROM lineitem GROUP BY 1)
SELECT l_returnflag, doc_count, round(rev / qty, 6) AS price_per_unit
FROM b WHERE doc_count > 100
ORDER BY rev / qty DESC, l_returnflag ASC
"""
    o["agg_ext_stats_bucket"] = """
WITH b AS (
  SELECT date_trunc('day', ts) AS bucket, sum(value) AS v
  FROM events GROUP BY 1)
SELECT count(v)::BIGINT AS v_count,
       round(min(v), 4) AS v_min, round(max(v), 4) AS v_max,
       round(avg(v), 4) AS v_avg, round(sum(v), 4) AS v_sum,
       round(var_pop(v), 4) AS v_variance,
       round(avg(v) + 2 * stddev_pop(v), 4) AS v_std_upper,
       round(avg(v) - 2 * stddev_pop(v), 4) AS v_std_lower
FROM b
"""
    o["agg_percentiles_bucket"] = """
WITH b AS (
  SELECT date_trunc('day', ts) AS bucket, sum(value) AS v
  FROM events GROUP BY 1)
SELECT round(quantile_cont(v, 0.25), 4) AS p25_0,
       round(quantile_cont(v, 0.50), 4) AS p50_0,
       round(quantile_cont(v, 0.75), 4) AS p75_0
FROM b
"""
    o["agg_filter_scope"] = """
SELECT count(*)::BIGINT AS doc_count, round(avg(value), 6) AS v
FROM events WHERE event_type = 'click'
"""
    o["agg_percentile_ranks"] = """
SELECT round(avg(CASE WHEN l_extendedprice <= 10000 THEN 1.0 ELSE 0.0 END) * 100, 6)
         AS rank_10000,
       round(avg(CASE WHEN l_extendedprice <= 50000 THEN 1.0 ELSE 0.0 END) * 100, 6)
         AS rank_50000
FROM lineitem
"""
    o["agg_rare_terms"] = """
SELECT l_orderkey, count(*) AS doc_count FROM lineitem
GROUP BY 1 HAVING count(*) <= 1
"""
    o["agg_missing"] = """
SELECT count(*) AS doc_count FROM orders WHERE o_orderstatus = 'F'
"""

    # --- training-data pipeline ops ---
    o["dedup_exact_groups"] = """
SELECT sha256(text) AS digest, count(*) AS n_dupes, min(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""
    o["dedup_ngram_jaccard"] = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id, unnest(
    list_transform(generate_series(1, len(ts) - 1),
                   i -> array_to_string(ts[i:i+1], ' '))) AS shingle
  FROM tok WHERE len(ts) >= 2),
-- stop-shingle cap: same max_shingle_df=1000 default as the engine
keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 1000),
sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(common * 1.0 / (sa.sz + sb.sz - common), 6) AS jaccard
FROM pairs JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.5
"""
    o["decontaminate_ngram"] = """
WITH tok AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id, lang, unnest(
    list_filter(
      list_transform(generate_series(1, greatest(len(ts) - 1, 1)),
                     i -> array_to_string(ts[i:i+1], ' ')),
      x -> length(x) > 0)) AS shingle
  FROM tok),
bench AS (SELECT DISTINCT shingle FROM sh WHERE lang = 'zh'),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
hit AS (
  SELECT sh.doc_id, count(*) AS n_hits
  FROM sh JOIN bench ON bench.shingle = sh.shingle
  GROUP BY sh.doc_id)
SELECT t.doc_id, t.n_shingles, coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) / t.n_shingles AS containment
FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
WHERE coalesce(h.n_hits, 0) / t.n_shingles >= 0.2
"""
    # ExactSubstr spans: same tokenizer, md5 window keys, and
    # gaps-and-islands merge as ops/dedup.py:duplicate_substring_spans.
    o["dedup_substring_spans"] = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents),
sized AS (SELECT doc_id, ts FROM tok WHERE len(ts) >= 15),
wins AS (
  SELECT doc_id, unnest(generate_series(1, len(ts) - 14)) AS pos, ts
  FROM sized),
hashed AS (
  SELECT doc_id, pos, md5(array_to_string(ts[pos:pos+14], ' ')) AS h
  FROM wins),
dup AS (SELECT h FROM hashed GROUP BY h HAVING count(*) >= 2),
marked AS (SELECT doc_id, pos FROM hashed WHERE h IN (SELECT h FROM dup)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    <= 15 THEN 0 ELSE 1 END AS brk
  FROM marked),
grp AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM isl)
SELECT doc_id, min(pos)::BIGINT AS span_start,
       (max(pos) + 14)::BIGINT AS span_end, count(*)::BIGINT AS n_windows
FROM grp GROUP BY doc_id, g
"""
    o["substring_dup_stats"] = """
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents),
sized AS (SELECT doc_id, ts FROM tok WHERE len(ts) >= 15),
wins AS (
  SELECT doc_id, unnest(generate_series(1, len(ts) - 14)) AS pos, ts
  FROM sized),
hashed AS (
  SELECT doc_id, pos, md5(array_to_string(ts[pos:pos+14], ' ')) AS h
  FROM wins),
dup AS (SELECT h FROM hashed GROUP BY h HAVING count(*) >= 2),
marked AS (SELECT doc_id, pos FROM hashed WHERE h IN (SELECT h FROM dup)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    <= 15 THEN 0 ELSE 1 END AS brk
  FROM marked),
grp AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM isl),
spans AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + 14 AS span_end
  FROM grp GROUP BY doc_id, g),
cover AS (
  SELECT doc_id, sum(span_end - span_start + 1) AS dup_tokens
  FROM spans GROUP BY doc_id)
SELECT t.doc_id, len(t.ts)::BIGINT AS n_tokens,
       coalesce(c.dup_tokens, 0)::BIGINT AS dup_tokens,
       CASE WHEN len(t.ts) > 0
            THEN round(coalesce(c.dup_tokens, 0) * 1.0 / len(t.ts), 6)
            ELSE 0.0 END AS dup_frac
FROM tok t LEFT JOIN cover c USING (doc_id)
"""

    o["ann_cosine_topk"] = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT vec_id,
         list_dot_product(embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings, q)
SELECT vec_id, round(cosine, 6) AS cosine
FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""

    # int8 quantized knn: the twin replays BOTH phases — unit-normalize
    # (Lucene cosine), quantize to floor((v-vmin)/scale + .5) codes
    # (floor, not round: HALF_UP vs banker's would diverge), rank by the
    # integer dot, then exact-rescore the 30 candidates
    o["ann_int8_topk"] = """
WITH nz AS (
  SELECT vec_id, embedding,
         list_transform(
           embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))) AS nv
  FROM embeddings),
s AS (SELECT min(list_aggregate(nv, 'min')) AS vmin,
             max(list_aggregate(nv, 'max')) AS vmax
      FROM nz),
q AS (SELECT embedding::DOUBLE[] AS qv, nv AS nqv
      FROM nz WHERE vec_id = 0),
qz AS (SELECT list_transform(
                nqv,
                x -> greatest(0, least(255,
                       floor((x - vmin) / ((vmax - vmin) / 255.0) + 0.5)))
              ) AS qc, qv
       FROM q, s),
cand AS (
  SELECT n.vec_id, n.embedding,
         list_dot_product(cd.c, qz.qc)
           + (vmin / ((vmax - vmin) / 255.0)) * list_sum(cd.c) AS qdot
  FROM nz n, s, qz,
       LATERAL (SELECT list_transform(
                  n.nv,
                  x -> floor((x - vmin) / ((vmax - vmin) / 255.0) + 0.5)
                ) AS c) cd
  ORDER BY qdot DESC, n.vec_id ASC LIMIT 30),
r AS (
  SELECT c.vec_id,
         list_dot_product(c.embedding::DOUBLE[], qz.qv)
           / (sqrt(list_dot_product(c.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]))
              * sqrt(list_dot_product(qz.qv, qz.qv))) AS cosine
  FROM cand c, qz)
SELECT vec_id, round(cosine, 6) AS cosine
FROM r ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""
    o["vector_l2norm_topk"] = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 2),
s AS (
  SELECT vec_id,
         sqrt(list_sum(list_transform(
           list_zip(embedding::DOUBLE[], q.qv),
           p -> (p[1] - p[2]) * (p[1] - p[2])))) AS score
  FROM embeddings, q)
SELECT vec_id, round(score, 6) AS score
FROM s ORDER BY score ASC, vec_id ASC LIMIT 10
"""

    o["vector_dot_product_topk"] = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 2),
s AS (
  SELECT vec_id, list_dot_product(embedding::DOUBLE[], q.qv) AS score
  FROM embeddings, q)
SELECT vec_id, round(score, 6) AS score
FROM s ORDER BY score DESC, vec_id ASC LIMIT 10
"""

    o["ann_ivf_topk"] = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 1),
s AS (
  SELECT vec_id,
         list_dot_product(embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings, q)
SELECT vec_id, round(cosine, 6) AS cosine
FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""

    o["ann_cosine_batch"] = """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 3),
s AS (
  SELECT q.q_id, e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e, q),
r AS (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM s)
SELECT q_id, vec_id, round(cosine, 6) AS cosine, rank FROM r WHERE rank <= 5
"""
    o["text_token_count"] = text_ops.token_count_sql()
    o["text_fingerprint"] = text_ops.fingerprint_sql()

    def _ratio_sql(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in text_ops.STOPWORDS[lang])
        return (
            f"len(list_filter(ts, x -> list_contains([{words}], x))) * 1.0"
            f" / greatest(len(ts), 1)"
        )

    o["text_language_id"] = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents),
r AS (
  SELECT doc_id,
         {_ratio_sql('en')} AS r_en,
         {_ratio_sql('fr')} AS r_fr,
         {_ratio_sql('de')} AS r_de,
         {_ratio_sql('es')} AS r_es
  FROM t)
SELECT doc_id, CASE
  WHEN r_en > 0 AND r_en = greatest(r_en, r_fr, r_de, r_es) THEN 'en'
  WHEN r_fr > 0 AND r_fr = greatest(r_en, r_fr, r_de, r_es) THEN 'fr'
  WHEN r_de > 0 AND r_de = greatest(r_en, r_fr, r_de, r_es) THEN 'de'
  WHEN r_es > 0 AND r_es = greatest(r_en, r_fr, r_de, r_es) THEN 'es'
  ELSE 'unk' END AS lang_pred
FROM r
"""
    en_words = ", ".join(f"'{w}'" for w in text_ops.STOPWORDS["en"])
    o["text_quality_score"] = f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents),
m AS (
  SELECT doc_id,
         least(len(ts) / 200.0, 1.0) AS len_score,
         coalesce(list_aggregate(list_transform(ts, x -> len(x)), 'sum'), 0)
           * 1.0 / greatest(len(ts), 1) AS mean_wl,
         len(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 1.0
           / greatest(len(text), 1) AS alpha_ratio,
         len(list_filter(ts, x -> list_contains([{en_words}], x))) * 1.0
           / greatest(len(ts), 1) AS stop_en
  FROM t)
SELECT doc_id,
       round(0.25 * len_score
             + 0.25 * (CASE WHEN mean_wl >= 3 AND mean_wl <= 10
                            THEN 1.0 ELSE 0.3 END)
             + 0.3 * alpha_ratio
             + 0.2 * least(stop_en * 5, 1.0), 6) AS quality
FROM m
"""
    # doc-side geo_shape: rectangle-vs-rectangle relations reduce to
    # interval arithmetic the oracle states directly, while the engine
    # goes through the full WKT parse + edge-cross/parity kernel. The
    # .5 query bounds make strict-vs-touching comparisons unreachable.
    _SHAPE_CTE = """sh AS (
  SELECT doc_id,
         (doc_id * 7 % 300 + 300) % 300 - 170 AS minlon,
         (doc_id * 3 % 140 + 140) % 140 - 80 AS minlat,
         (doc_id * 7 % 300 + 300) % 300 - 170
           + (doc_id % 23 + 23) % 23 + 5 AS maxlon,
         (doc_id * 3 % 140 + 140) % 140 - 80
           + (doc_id % 17 + 17) % 17 + 4 AS maxlat
  FROM documents)"""
    _SHAPE_SEL = ("SELECT doc_id, 'ENVELOPE (' || minlon || ', ' || maxlon"
                  " || ', ' || maxlat || ', ' || minlat || ')' AS shape")

    o["doc_geo_shape_intersects"] = f"""
WITH {_SHAPE_CTE}
{_SHAPE_SEL}
FROM sh
WHERE minlon <= 70.5 AND maxlon >= -60.5
  AND minlat <= 45.5 AND maxlat >= -30.5
ORDER BY doc_id ASC LIMIT 100
"""

    o["doc_geo_shape_within"] = f"""
WITH {_SHAPE_CTE}
{_SHAPE_SEL}
FROM sh
WHERE minlon > -60.5 AND maxlon < 70.5
  AND minlat > -30.5 AND maxlat < 45.5
ORDER BY doc_id ASC LIMIT 100
"""

    # the indexed (prefilter+verify) path returns exactly the exact
    # scan's answer — same bbox twin
    o["doc_geo_shape_indexed"] = f"""
WITH {_SHAPE_CTE}
{_SHAPE_SEL}
FROM sh
WHERE minlon <= 70.5 AND maxlon >= -60.5
  AND minlat <= 45.5 AND maxlat >= -30.5
ORDER BY doc_id ASC LIMIT 100
"""

    o["doc_geo_shape_indexed_disjoint"] = f"""
WITH {_SHAPE_CTE}
{_SHAPE_SEL}
FROM sh
WHERE NOT (minlon <= 70.5 AND maxlon >= -60.5
           AND minlat <= 45.5 AND maxlat >= -30.5)
ORDER BY doc_id ASC LIMIT 100
"""

    # cartesian point/shape (x-pack spatial): the point twin is
    # generated from the same vertex walk as the Spark predicate; the
    # contains twin is pure envelope-containment arithmetic
    from elasticsearch_spark.search.xy import xy_shape_sql as _xy_sql

    o["xy_shape_point"] = f"""
WITH xy AS (
  SELECT doc_id,
         CAST((doc_id * 13 % 2000 + 2000) % 2000 - 1000 AS DOUBLE) AS x,
         CAST((doc_id * 29 % 2000 + 2000) % 2000 - 1000 AS DOUBLE) AS y
  FROM documents)
SELECT doc_id, x, y FROM xy
WHERE {_xy_sql(XY_SHAPE_WKT, 'x', 'y', 'intersects')}
ORDER BY doc_id ASC LIMIT 100
"""

    o["doc_xy_shape_contains"] = """
WITH xysh AS (
  SELECT doc_id,
         (doc_id * 11 % 160 + 160) % 160 - 80 AS minx,
         (doc_id * 5 % 120 + 120) % 120 - 60 AS miny,
         (doc_id * 11 % 160 + 160) % 160 - 80
           + (doc_id % 37 + 37) % 37 + 10 AS maxx,
         (doc_id * 5 % 120 + 120) % 120 - 60
           + (doc_id % 29 + 29) % 29 + 8 AS maxy
  FROM documents)
SELECT doc_id, 'ENVELOPE (' || minx || ', ' || maxx
       || ', ' || maxy || ', ' || miny || ')' AS shape
FROM xysh
WHERE minx <= 3.5 AND maxx >= 7.5 AND miny <= 2.5 AND maxy >= 6.5
ORDER BY doc_id ASC LIMIT 100
"""

    # DLS = disjunction of the two roles' queries; FLS = union of the
    # two grant sets plus the always-visible id metadata column
    o["secured_search_dls"] = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE (n_chars >= 200 AND n_chars < 800) OR lang = 'en'
ORDER BY doc_id ASC LIMIT 100
"""

    # lookup-backed ingest processors: enrich is a plain left join, the
    # geoip CIDR containment collapses to second-octet arithmetic for
    # the synthetic 10/8 address space, and user_agent restates the
    # identical RE2 pattern chain (DuckDB regexp_* is RE2 like Spark's
    # patterns are written to be; no-match extract is '' on both).
    o["ingest_enrich"] = """
SELECT d.doc_id, r.r_name AS region_name
FROM documents d
LEFT JOIN region r ON (d.doc_id % 5 + 5) % 5 = r.r_regionkey
ORDER BY d.doc_id ASC LIMIT 200
"""

    # boilerplate twin: the banner (df = all docs) and the 7-way tail
    # (df ~ n/7 > 10) strip, the id-prefixed body line is unique by
    # construction — expected text_clean is computable in closed form
    o["boilerplate_lines"] = """
SELECT doc_id, doc_id::VARCHAR || ' ' || text AS text_clean
FROM documents ORDER BY doc_id
"""

    # dedup_url twin: the canonical collapse is provable in closed
    # form — both members of pair (2k, 2k+1) canonicalize to the same
    # URL, so the expected table is computed directly
    o["dedup_url"] = """
SELECT 'https://example.com/p/' || (doc_id // 2)::VARCHAR
         AS canonical_url,
       min(doc_id)::BIGINT AS doc_id
FROM documents GROUP BY 1 ORDER BY 1
"""

    o["ingest_network_direction"] = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 AND doc_id % 3 = 0 THEN 'internal'
            WHEN doc_id % 2 = 0 THEN 'outbound'
            WHEN doc_id % 3 = 0 THEN 'inbound'
            ELSE 'external' END AS network_direction
FROM documents ORDER BY doc_id
"""

    o["ingest_geoip"] = """
WITH ips AS (
  SELECT doc_id,
         '10.' || (doc_id % 256 + 256) % 256
             || '.' || (doc_id * 3 % 256 + 256) % 256
             || '.' || (doc_id * 7 % 256 + 256) % 256 AS ip,
         (doc_id % 256 + 256) % 256 AS oct2
  FROM documents)
SELECT doc_id, ip,
       CASE WHEN oct2 < 128 THEN 'XA'
            WHEN oct2 < 192 THEN 'XB'
            ELSE NULL END AS country
FROM ips
ORDER BY doc_id ASC LIMIT 200
"""

    _ua_list = ", ".join("'" + u.replace("'", "''") + "'"
                         for u in UA_STRINGS)
    o["ingest_user_agent"] = f"""
WITH u AS (
  SELECT doc_id,
         ([{_ua_list}])[(doc_id % {len(UA_STRINGS)}
                          + {len(UA_STRINGS)}) % {len(UA_STRINGS)} + 1]
           AS ua
  FROM documents)
SELECT doc_id,
  CASE WHEN regexp_matches(ua, 'Edg[eA]?/') THEN 'Edge'
       WHEN regexp_matches(ua, 'OPR/') THEN 'Opera'
       WHEN regexp_matches(ua, 'Chrome/') THEN 'Chrome'
       WHEN regexp_matches(ua, 'Firefox/') THEN 'Firefox'
       WHEN regexp_matches(ua, 'Version/[0-9.]+.*Safari/') THEN 'Safari'
       WHEN regexp_matches(ua, 'MSIE [0-9.]+|Trident/')
         THEN 'Internet Explorer'
       ELSE 'Other' END AS browser,
  CASE WHEN regexp_matches(ua, 'Edg[eA]?/')
         THEN regexp_extract(ua, 'Edg[eA]?/([0-9.]+)', 1)
       WHEN regexp_matches(ua, 'OPR/')
         THEN regexp_extract(ua, 'OPR/([0-9.]+)', 1)
       WHEN regexp_matches(ua, 'Chrome/')
         THEN regexp_extract(ua, 'Chrome/([0-9.]+)', 1)
       WHEN regexp_matches(ua, 'Firefox/')
         THEN regexp_extract(ua, 'Firefox/([0-9.]+)', 1)
       WHEN regexp_matches(ua, 'Version/[0-9.]+.*Safari/')
         THEN regexp_extract(ua, 'Version/([0-9.]+)', 1)
       WHEN regexp_matches(ua, 'MSIE [0-9.]+')
         THEN regexp_extract(ua, 'MSIE ([0-9.]+)', 1)
       WHEN regexp_matches(ua, 'Trident/')
         THEN regexp_extract(ua, 'rv:([0-9.]+)', 1)
       ELSE '' END AS browser_version,
  CASE WHEN regexp_matches(ua, 'Windows NT') THEN 'Windows'
       WHEN regexp_matches(ua, 'iPhone OS|CPU OS') THEN 'iOS'
       WHEN regexp_matches(ua, 'Mac OS X') THEN 'Mac OS X'
       WHEN regexp_matches(ua, 'Android') THEN 'Android'
       WHEN regexp_matches(ua, 'Linux') THEN 'Linux'
       ELSE 'Other' END AS os_name,
  CASE WHEN regexp_matches(ua, 'Windows NT')
         THEN regexp_extract(ua, 'Windows NT ([0-9.]+)', 1)
       WHEN regexp_matches(ua, 'iPhone OS|CPU OS')
         THEN replace(regexp_extract(ua,
                '(?:iPhone OS|CPU OS) ([0-9_]+)', 1), '_', '.')
       WHEN regexp_matches(ua, 'Mac OS X')
         THEN replace(regexp_extract(ua, 'Mac OS X ([0-9_.]+)', 1),
                      '_', '.')
       WHEN regexp_matches(ua, 'Android')
         THEN regexp_extract(ua, 'Android ([0-9.]+)', 1)
       ELSE '' END AS os_version,
  CASE WHEN regexp_matches(ua, '(?i)bot|spider|crawl') THEN 'Spider'
       WHEN regexp_matches(ua, 'iPad|Tablet') THEN 'Tablet'
       WHEN regexp_matches(ua, 'Mobile|iPhone|Android') THEN 'Phone'
       ELSE 'Desktop' END AS device
FROM u
ORDER BY doc_id ASC LIMIT 200
"""

    # knn section: the similarity→score transforms stated directly;
    # the filtered variant's predicate prunes candidates BEFORE the
    # top-k (same as the engine's filter-below-sort plan)
    _KNN_COS = """
SELECT vec_id,
       (1.0 + list_dot_product(embedding::DOUBLE[], q.qv)
          / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             * sqrt(list_dot_product(q.qv, q.qv)))) / 2 AS score
FROM embeddings, q"""

    o["knn_search_cosine"] = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3),
s AS ({_KNN_COS})
SELECT vec_id, round(score, 6) AS score
FROM s ORDER BY score DESC, vec_id ASC LIMIT 10
"""

    o["knn_search_l2_filtered"] = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3),
s AS (
  SELECT vec_id,
         1.0 / (1.0 + list_sum(list_transform(
           list_zip(embedding::DOUBLE[], q.qv),
           p -> (p[1] - p[2]) * (p[1] - p[2])))) AS score
  FROM embeddings, q
  WHERE (label % 2 + 2) % 2 = 0)
SELECT vec_id, round(score, 6) AS score
FROM s ORDER BY score DESC, vec_id ASC LIMIT 10
"""

    _comb_terms = [t for t, _ in analyze("spark query data", "ascii_word")]
    o["knn_query_combined"] = f"""
WITH {bm25_ctes(_comb_terms)},
qk AS (
  SELECT doc_id, score FROM scored WHERE matched >= 1
  ORDER BY score DESC, doc_id ASC LIMIT 10),
kv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3),
kk AS (
  SELECT vec_id AS doc_id,
         2.0 * (1.0 + list_dot_product(embedding::DOUBLE[], kv.qv)
           / (sqrt(list_dot_product(embedding::DOUBLE[],
                                    embedding::DOUBLE[]))
              * sqrt(list_dot_product(kv.qv, kv.qv)))) / 2 AS score
  FROM embeddings, kv
  ORDER BY score DESC, vec_id ASC LIMIT 10),
comb AS (
  SELECT coalesce(qk.doc_id, kk.doc_id) AS doc_id,
         coalesce(qk.score, 0) + coalesce(kk.score, 0) AS score
  FROM qk FULL OUTER JOIN kk ON qk.doc_id = kk.doc_id)
SELECT doc_id, round(score, 4) AS score
FROM comb ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    # retriever fusion twins: the same BM25 + knn children ranked with
    # row_number() under the engine's (score desc, id asc) tie-break,
    # then the published RRF / weighted-minmax formulas
    _fusion_ctes = f"""
WITH {bm25_ctes(_comb_terms)},
qr AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored WHERE matched >= 1),
qtop AS (SELECT doc_id, score, rank FROM qr WHERE rank <= 20),
kv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3),
ks AS (
  SELECT vec_id AS doc_id,
         (1.0 + list_dot_product(embedding::DOUBLE[], kv.qv)
            / (sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]))
               * sqrt(list_dot_product(kv.qv, kv.qv)))) / 2 AS score
  FROM embeddings, kv),
kr AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM ks),
ktop AS (SELECT doc_id, score, rank FROM kr WHERE rank <= 20)"""

    o["retriever_rrf"] = f"""
{_fusion_ctes},
u AS (
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM qtop
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rank) AS c FROM ktop)
SELECT doc_id, round(sum(c), 6) AS score
FROM u GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    o["retriever_linear"] = f"""
{_fusion_ctes},
qn AS (
  SELECT doc_id,
         CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0
              ELSE (score - min(score) OVER ())
                   / (max(score) OVER () - min(score) OVER ()) END AS n
  FROM qtop),
kn AS (
  SELECT doc_id,
         CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0
              ELSE (score - min(score) OVER ())
                   / (max(score) OVER () - min(score) OVER ()) END AS n
  FROM ktop),
u AS (
  SELECT doc_id, 0.7 * n AS c FROM qn
  UNION ALL
  SELECT doc_id, 0.3 * n AS c FROM kn)
SELECT doc_id, round(sum(c), 6) AS score
FROM u GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
"""

    # embedding-cosine near-dup: within-block (label) exact pairs
    o["dedup_embedding_cosine"] = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
         6) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
       * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
    >= 0.25
"""

    # SemDeDup twin: same lowest-id centroid seeds, same argmax-cosine
    # assignment (ties -> lowest cluster), same greedy keep rule.
    o["dedup_semantic"] = """
WITH seeds AS (
  SELECT embedding::DOUBLE[] AS sv,
         row_number() OVER (ORDER BY vec_id) - 1 AS cl
  FROM embeddings ORDER BY vec_id LIMIT 8),
cosim AS (
  SELECT e.vec_id, s.cl,
         list_dot_product(e.embedding::DOUBLE[], s.sv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(s.sv, s.sv))) AS c
  FROM embeddings e CROSS JOIN seeds s),
asg AS (
  SELECT vec_id, cl FROM (
    SELECT vec_id, cl,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY c DESC, cl ASC) AS rn
    FROM cosim) WHERE rn = 1),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM embeddings a, embeddings b, asg aa, asg ab
  WHERE aa.vec_id = a.vec_id AND ab.vec_id = b.vec_id
    AND aa.cl = ab.cl AND a.vec_id < b.vec_id
    AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                 a.embedding::DOUBLE[]))
           * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]))) >= 0.35)
SELECT asg.vec_id, asg.cl::INT AS cluster,
       (dups.vec_id IS NULL) AS keep
FROM asg LEFT JOIN dups ON dups.vec_id = asg.vec_id
"""

    # inference: the registered coefficients restated as arithmetic —
    # expression shape mirrored exactly (intercept + col * w) so both
    # engines produce bit-identical doubles before rounding
    o["ingest_inference"] = """
WITH s AS (
  SELECT doc_id, -0.5 + n_chars * 0.001 AS raw FROM documents),
p AS (
  SELECT doc_id, 1.0 / (1.0 + exp(-raw)) AS prob1 FROM s)
SELECT doc_id,
       CASE WHEN prob1 >= 0.5 THEN 'long' ELSE 'short' END AS predicted,
       round(greatest(prob1, 1.0 - prob1), 6) AS prob
FROM p ORDER BY doc_id ASC LIMIT 300
"""

    _w_list = ", ".join(repr(w) for w in INFER_W)
    o["ingest_inference_vector"] = f"""
SELECT vec_id,
       round(0.25 + list_sum(list_transform(
         list_zip(embedding::DOUBLE[], [{_w_list}]::DOUBLE[]),
         p -> p[1] * p[2])), 6) AS predicted
FROM embeddings ORDER BY vec_id ASC
"""

    # attachment: payload construction + sniff + text/html extraction
    # restated; pdf-typed rows keep NULL content (parser stubbed on
    # the engine side, stated as NULL here)
    o["ingest_attachment"] = """
WITH pay AS (
  SELECT doc_id,
         CASE (doc_id % 3 + 3) % 3
           WHEN 0 THEN '<html><body><h1>' || substr(text, 1, 40)
                    || '</h1> &amp; more</body></html>'
           WHEN 1 THEN substr(text, 1, 60)
           ELSE '%PDF-1.4 ' || substr(text, 1, 20) END AS payload,
         (doc_id % 3 + 3) % 3 AS m
  FROM documents),
typed AS (
  SELECT doc_id, payload,
         CASE WHEN m = 2 THEN 'application/pdf'
              WHEN m = 0 THEN 'text/html'
              ELSE 'text/plain' END AS content_type,
         CASE WHEN m = 0 THEN
           replace(replace(replace(replace(replace(
             trim(regexp_replace(regexp_replace(payload,
               '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')),
             '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
             '&quot;', '"'), '&#39;', chr(39))
           WHEN m = 1 THEN payload END AS content
  FROM pay)
SELECT doc_id, content, content_type, length(content) AS content_length
FROM typed ORDER BY doc_id ASC LIMIT 300
"""

    # graph explore: each hop is the significant_terms JLH rational
    # (exact BIGINT num/den, ordered by one correctly-rounded division)
    # and edges count co-occurrences between the two In-list vertex sets
    _GRAPH_HOP1 = """tot AS (
  SELECT count(*)::BIGINT AS n_all,
         sum(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END)::BIGINT AS n_fg
  FROM documents),
c1 AS (
  SELECT source AS term,
         sum(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END)::BIGINT AS fg_count,
         count(*)::BIGINT AS bg_count
  FROM documents GROUP BY source),
j1 AS (
  SELECT term, fg_count, bg_count,
         (fg_count * (fg_count * tot.n_all - bg_count * tot.n_fg))::BIGINT
           AS jlh_num,
         ((bg_count * tot.n_fg) * tot.n_fg)::BIGINT AS jlh_den
  FROM c1, tot
  WHERE fg_count >= 1 AND bg_count > 0 AND
        fg_count * (fg_count * tot.n_all - bg_count * tot.n_fg) > 0),
src AS (
  SELECT term, fg_count, bg_count, jlh_num, jlh_den FROM j1
  ORDER BY jlh_num::DOUBLE / jlh_den::DOUBLE DESC, term ASC LIMIT 5)"""

    o["graph_explore_vertices"] = f"""
WITH {_GRAPH_HOP1}
SELECT term, fg_count, bg_count, jlh_num, jlh_den FROM src
"""

    o["graph_explore_connections"] = f"""
WITH {_GRAPH_HOP1},
tot2 AS (
  SELECT count(*)::BIGINT AS n_all,
         sum(CASE WHEN source IN (SELECT term FROM src)
             THEN 1 ELSE 0 END)::BIGINT AS n_fg
  FROM documents),
c2 AS (
  SELECT lang AS term,
         sum(CASE WHEN source IN (SELECT term FROM src)
             THEN 1 ELSE 0 END)::BIGINT AS fg_count,
         count(*)::BIGINT AS bg_count
  FROM documents GROUP BY lang),
j2 AS (
  SELECT term, fg_count, bg_count,
         (fg_count * (fg_count * tot2.n_all - bg_count * tot2.n_fg))::BIGINT
           AS jlh_num,
         ((bg_count * tot2.n_fg) * tot2.n_fg)::BIGINT AS jlh_den
  FROM c2, tot2
  WHERE fg_count >= 1 AND bg_count > 0 AND
        fg_count * (fg_count * tot2.n_all - bg_count * tot2.n_fg) > 0),
tgt AS (
  SELECT term FROM j2
  ORDER BY jlh_num::DOUBLE / jlh_den::DOUBLE DESC, term ASC LIMIT 5)
SELECT d.source AS source, d.lang AS target, count(*)::BIGINT AS doc_count
FROM documents d
WHERE d.source IN (SELECT term FROM src)
  AND d.lang IN (SELECT term FROM tgt)
GROUP BY d.source, d.lang
"""

    # _search_mvt aggs grid: the WebMercator -> fine-tile -> in-tile
    # cell arithmetic stated directly (z=2, x=1, y=1, precision 6 ->
    # 256 fine tiles per axis, tile covers fine range [64, 128))
    o["search_mvt_grid"] = """
WITH pts AS (
  SELECT ((doc_id % 171 + 171) % 171 - 85)::DOUBLE AS lat,
         ((doc_id * 7 % 360 + 360) % 360 - 180)::DOUBLE AS lon
  FROM documents),
f AS (
  SELECT least(floor((lon + 180.0) / 360.0 * 256)::BIGINT, 255) AS fx,
         least(floor((1.0 - ln(tan(radians(greatest(least(lat, 85.05112878),
                 -85.05112878)))
               + 1.0 / cos(radians(greatest(least(lat, 85.05112878),
                 -85.05112878)))) / pi()) / 2.0 * 256)::BIGINT, 255) AS fy
  FROM pts)
SELECT fx - 64 AS cell_x, fy - 64 AS cell_y, count(*)::BIGINT AS count
FROM f
WHERE fx // 64 = 1 AND fy // 64 = 1
GROUP BY fx, fy
"""

    # _terms_enum: the term dictionary's prefix slice == distinct-doc
    # frequencies of the analyzed tokens
    o["terms_enum"] = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS term
  FROM documents)
SELECT term, count(DISTINCT doc_id)::BIGINT AS doc_count
FROM tok WHERE term LIKE 's%'
GROUP BY term ORDER BY term ASC LIMIT 10
"""

    # version field (mapper-version): the semver key restated via the
    # shared SQL twin builder
    from elasticsearch_spark.ops.text import version_sort_key_sql

    o["version_sort"] = f"""
WITH v AS (
  SELECT doc_id,
         (doc_id % 3 + 3) % 3 || '.' || (doc_id * 7 % 12 + 12) % 12
           || '.' || (doc_id % 5 + 5) % 5
           || CASE WHEN (doc_id % 4 + 4) % 4 = 0
                   THEN '-alpha.1' ELSE '' END AS version
  FROM documents)
SELECT doc_id, version
FROM v
ORDER BY {version_sort_key_sql('version')} ASC, doc_id ASC
LIMIT 150
"""

    # script_fields: derived per-hit values over the fetched columns
    o["script_fields"] = f"""
WITH hits AS ({_bm25_oracle('table scan', k=10)})
SELECT h.doc_id, h.score, d.n_chars * 2 AS chars_x2,
       upper(d.source) AS src_up
FROM hits h JOIN documents d USING (doc_id)
"""

    # sparse_vector cosine: the map<dim,val> vectors restated as
    # (vec_id, dim, val) rows — a relational dot product + norms
    _sq_vals = ", ".join(f"({d}, {v})" for d, v in sorted(SPARSE_QUERY.items()))
    _sq_norm = sum(v * v for v in SPARSE_QUERY.values())
    o["sparse_vector_cosine"] = f"""
WITH e AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings),
sp AS (SELECT vec_id, dim, val FROM e WHERE (vec_id + dim) % 5 = 0),
q(dim, qv) AS (VALUES {_sq_vals}),
dotp AS (SELECT sp.vec_id, sum(sp.val * q.qv) AS dp
         FROM sp JOIN q USING (dim) GROUP BY sp.vec_id),
nrm AS (SELECT vec_id, sqrt(sum(val * val)) AS dn FROM sp GROUP BY vec_id)
SELECT n.vec_id,
       round(coalesce(d.dp, 0) / (n.dn * sqrt({_sq_norm!r})), 6) AS score
FROM nrm n LEFT JOIN dotp d ON n.vec_id = d.vec_id
ORDER BY coalesce(d.dp, 0) / (n.dn * sqrt({_sq_norm!r})) DESC, n.vec_id ASC
LIMIT 10
"""

    # wildcard field: the ngram-accelerated match must equal the plain
    # full-scan regex answer
    from elasticsearch_spark.search.wildcard_field import wildcard_regex

    o["wildcard_field"] = f"""
SELECT doc_id,
       source || '-' || lang || '-' || (doc_id % 50)::VARCHAR AS v
FROM documents
WHERE regexp_matches(source || '-' || lang || '-' || (doc_id % 50)::VARCHAR,
                     '{wildcard_regex(WILDCARD_PATTERN)}')
"""

    # aggregate_metric_double: the identical two-level aggregation
    o["aggregate_metric_double"] = """
WITH pre AS (
  SELECT l_suppkey, l_suppkey % 7 AS g,
         min(l_quantity) AS mn, max(l_quantity) AS mx,
         sum(l_quantity) AS sm, count(l_quantity) AS vc
  FROM lineitem GROUP BY 1, 2)
SELECT g, min(mn) AS min_v, max(mx) AS max_v,
       round(sum(sm), 3) AS sum_v, sum(vc)::BIGINT AS value_count,
       round(sum(sm) / sum(vc), 6) AS avg_v
FROM pre GROUP BY g
"""

    # constant_keyword: partition-pruned term == plain filter
    o["constant_keyword_prune"] = """
SELECT count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
FROM documents WHERE lang = 'de'
"""

    # unsigned_long: HUGEINT twin of the decimal(20,0) unsigned key
    from elasticsearch_spark.ops.fields import unsigned_long_key_sql

    _ul_h = ("CASE WHEN doc_id % 3 = 0 THEN -(doc_id * 1234567 + 1) "
             "ELSE doc_id * 7654321 END")
    _ul_key = unsigned_long_key_sql("h")
    o["unsigned_long_sort"] = f"""
WITH v AS (SELECT doc_id, ({_ul_h})::BIGINT AS h FROM documents),
r AS (
  SELECT doc_id, h, ({_ul_key})::VARCHAR AS ukey,
         row_number() OVER (ORDER BY {_ul_key} ASC, doc_id ASC) AS rk
  FROM v
  WHERE {_ul_key} >= 9223372036854775808)
SELECT doc_id, h, ukey, rk::INT AS rk FROM r ORDER BY rk LIMIT 100
"""

    # phonetic: the soundex chain restated via the shared SQL builder
    from elasticsearch_spark.ops.text import soundex as _soundex
    from elasticsearch_spark.ops.text import soundex_sql as _soundex_sql

    o["phonetic_match"] = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_]+'))
           AS token
  FROM documents)
SELECT token, count(DISTINCT doc_id)::BIGINT AS n_docs
FROM tok
WHERE {_soundex_sql('token')} = '{_soundex('merge')}'
GROUP BY token ORDER BY token
"""

    # ES SQL: the statement itself is the oracle
    o["essql"] = ESSQL_STATEMENT

    # ES SQL fulltext: bm25_ctes twins of the resolved statements
    _ft_terms = [t for t, _ in analyze("spark query data", "ascii_word")]
    o["essql_match"] = f"""
WITH {bm25_ctes(_ft_terms)}
SELECT s.doc_id, round(s.score, 4) AS score, d.lang
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
WHERE s.matched >= 1 AND d.lang = 'en'
ORDER BY s.score DESC, s.doc_id ASC
LIMIT 10
"""

    _ftm_a = [t for t, _ in analyze("spark query", "ascii_word")]
    _ftm_b = [t for t, _ in analyze("src5", "ascii_word")]
    o["essql_match_multi"] = f"""
WITH {bm25_ctes(_ftm_a, prefix="a_")},
{bm25_ctes(_ftm_b, prefix="b_", text_col="source")}
SELECT a.doc_id, round(a.score + b.score, 4) AS score
FROM a_scored a JOIN b_scored b ON b.doc_id = a.doc_id
WHERE a.matched >= {len(_ftm_a)} AND b.matched >= 1
ORDER BY a.score + b.score DESC, a.doc_id ASC
LIMIT 10
"""

    _ftq = [t for t, _ in analyze("spark data", "ascii_word")]
    o["essql_query"] = f"""
WITH {bm25_ctes(_ftq)}
SELECT doc_id, round(score, 4) AS score
FROM scored
WHERE matched >= {len(_ftq)}
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""

    # OR / NOT bool-tree twins: per-clause scored CTEs LEFT-joined onto
    # the table so docs matching no clause survive for NOT; a clause
    # "matches" iff its msm is met; SCORE() sums matched non-negated
    # clause scores (must_not contributes nothing)
    o["essql_match_or"] = f"""
WITH {bm25_ctes(_ftm_a, prefix="a_")},
{bm25_ctes(_ftm_b, prefix="b_", text_col="source")},
ft AS (
  SELECT d.doc_id,
         CASE WHEN a.matched >= {len(_ftm_a)} THEN a.score END AS s0,
         CASE WHEN b.matched >= 1 THEN b.score END AS s1,
         d.lang
  FROM documents d
  LEFT JOIN a_scored a ON a.doc_id = d.doc_id
  LEFT JOIN b_scored b ON b.doc_id = d.doc_id
)
SELECT doc_id,
       round(coalesce(s0, 0) + coalesce(s1, 0), 4) AS score
FROM ft
WHERE (s0 IS NOT NULL OR s1 IS NOT NULL) AND lang = 'en'
ORDER BY coalesce(s0, 0) + coalesce(s1, 0) DESC, doc_id ASC
LIMIT 10
"""

    _ftn = [t for t, _ in analyze("spark data", "ascii_word")]
    o["essql_not_match"] = f"""
WITH {bm25_ctes(_ftn, prefix="a_")},
{bm25_ctes(_ftm_b, prefix="b_", text_col="source")},
ft AS (
  SELECT d.doc_id,
         CASE WHEN a.matched >= {len(_ftn)} THEN a.score END AS s0,
         CASE WHEN b.matched >= 1 THEN b.score END AS s1
  FROM documents d
  LEFT JOIN a_scored a ON a.doc_id = d.doc_id
  LEFT JOIN b_scored b ON b.doc_id = d.doc_id
)
SELECT doc_id, round(coalesce(s0, 0), 4) AS score
FROM ft
WHERE s0 IS NOT NULL AND s1 IS NULL
ORDER BY coalesce(s0, 0) DESC, doc_id ASC
LIMIT 10
"""

    # _split preserves scores bit-identically, so the SPLIT index must
    # reproduce the plain match oracle
    o["match_after_split"] = _bm25_oracle("table scan merge")

    # HISTOGRAM(): the twin is the portable rewrite itself (DuckDB's
    # own histogram() is an unrelated aggregate, so the raw ES-SQL
    # can't run there verbatim)
    from elasticsearch_spark.ops.essql import rewrite_histogram

    o["essql_histogram"] = f"""
WITH r AS ({rewrite_histogram(ESSQL_HIST)})
SELECT strftime(day, '%Y-%m-%d %H:%M:%S') AS day, bin, n::BIGINT AS n
FROM r ORDER BY day, bin
"""

    # PIVOT: the twin is the classic conditional-aggregation expansion
    # (exactly what the reference's PivotExec folds the grouped rows
    # into — one column per IN value)
    o["essql_pivot"] = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS month,
       round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
       round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view,
       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4)
           AS purchase
FROM events GROUP BY 1 ORDER BY month
"""

    # cursor paging: page 3 at fetch_size 40 == rows 81-120 of the
    # totally ordered statement
    o["essql_cursor"] = """
SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
FROM orders ORDER BY o_orderkey LIMIT 40 OFFSET 80
"""

    # ML single-metric: the shared MAD pipeline builder, day buckets
    from elasticsearch_spark.ops.anomaly import (
        multi_metric_anomalies_sql,
        population_anomalies_sql,
        single_metric_anomalies_sql,
    )

    o["ml_single_metric"] = f"""
WITH r AS ({single_metric_anomalies_sql(span='day')})
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(metric, 3) AS metric, round(score, 6) AS score, is_anomaly
FROM r ORDER BY bucket
"""

    from elasticsearch_spark.ops.anomaly import (
        count_anomalies_sql as _count_sql,
        distinct_count_anomalies_sql as _dcount_sql,
        rare_anomalies_sql as _rare_sql,
    )

    from elasticsearch_spark.ops.anomaly import (
        time_of_day_anomalies_sql as _tod_sql,
    )

    o["ml_metric_mean"] = f"""
WITH r AS ({single_metric_anomalies_sql(span='day', func='mean')})
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(metric, 4) AS metric, round(score, 6) AS score, is_anomaly
FROM r ORDER BY bucket
"""

    o["ml_time_of_day"] = f"""
WITH r AS ({_tod_sql('events', threshold=3.5)})
SELECT hour_of_day, n, round(score, 6) AS score, is_anomaly
FROM r ORDER BY hour_of_day
"""

    o["ml_high_count"] = f"""
WITH r AS ({_count_sql('events', span='day', side='high')})
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, n,
       round(score, 6) AS score, is_anomaly
FROM r ORDER BY bucket
"""

    o["ml_distinct_count"] = f"""
WITH r AS ({_dcount_sql('events', 'user_id', span='day')})
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, n_distinct,
       round(score, 6) AS score, is_anomaly
FROM r ORDER BY bucket
"""

    o["ml_rare"] = f"""
WITH r AS ({_rare_sql('events', 'event_type', by_col='user_id',
                      max_count=8)})
SELECT user_id, event_type, count, round(score, 6) AS score
FROM r ORDER BY user_id, event_type
"""

    o["ml_train_regression"] = """
SELECT round(regr_intercept(l_extendedprice, l_quantity), 3)
         AS intercept,
       round(regr_slope(l_extendedprice, l_quantity), 3) AS c0,
       count(*)::BIGINT AS n
FROM lineitem
"""

    from elasticsearch_spark.ops.ml import gaussian_nb_sql

    o["ml_train_classification"] = gaussian_nb_sql(
        ["f_value", "f_plen", "f_umod"], "event_type", "event_id",
        table="feat",
        prelude=("feat AS (SELECT event_id, event_type, "
                 "value::DOUBLE AS f_value, "
                 "length(props)::DOUBLE AS f_plen, "
                 "(user_id % 97)::DOUBLE AS f_umod FROM events), "),
    )

    o["ml_multi_metric"] = f"""
WITH r AS ({multi_metric_anomalies_sql(entity_col='event_type',
                                       span='day')})
SELECT entity, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(metric, 3) AS metric, round(score, 6) AS score, is_anomaly
FROM r ORDER BY entity, bucket
"""

    from elasticsearch_spark.ops.anomaly import influencers_sql

    o["ml_influencers"] = f"""
WITH r AS ({influencers_sql(influencer_col='event_type', span='day',
                            threshold=1.5)})
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, influencer,
       round(bucket_score, 6) AS bucket_score,
       round(influencer_score, 6) AS influencer_score
FROM r ORDER BY bucket, influencer
"""

    o["ml_overall_buckets"] = f"""
WITH r AS ({multi_metric_anomalies_sql(entity_col='event_type',
                                       span='day')}),
t AS (SELECT bucket, score,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY score DESC, entity ASC) AS rn
      FROM r)
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(avg(score), 6) AS overall_score,
       count(*)::BIGINT AS jobs_counted
FROM t WHERE rn <= 2 GROUP BY bucket ORDER BY bucket
"""

    o["ml_calendar"] = f"""
WITH r AS ({single_metric_anomalies_sql(span='day', threshold=1.0)})
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(metric, 3) AS metric, round(score, 6) AS score,
       is_anomaly AND NOT (bucket >= TIMESTAMP '2024-01-05 00:00:00'
                           AND bucket < TIMESTAMP '2024-01-09 00:00:00')
           AS is_anomaly
FROM r ORDER BY bucket
"""

    o["ml_detector_rules"] = f"""
WITH r AS ({multi_metric_anomalies_sql(entity_col='event_type',
                                       span='day', threshold=1.0)})
SELECT entity, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(metric, 3) AS metric, round(score, 6) AS score,
       is_anomaly AND NOT (metric < 3000.0
                           AND entity IN ('click', 'view'))
           AS is_anomaly
FROM r ORDER BY entity, bucket
"""

    o["ml_eval_classification"] = """
WITH d AS (SELECT lang AS actual,
                  CASE WHEN doc_id % 3 = 0 THEN 'en' ELSE lang END AS predicted
           FROM documents),
act AS (SELECT actual AS clazz, count(*) AS n_actual FROM d GROUP BY 1),
pred AS (SELECT predicted AS clazz, count(*) AS n_predicted FROM d GROUP BY 1),
tp AS (SELECT actual AS clazz, count(*) AS tp FROM d
       WHERE actual = predicted GROUP BY 1)
SELECT coalesce(a.clazz, p.clazz) AS clazz,
       coalesce(n_actual, 0)::BIGINT AS n_actual,
       coalesce(n_predicted, 0)::BIGINT AS n_predicted,
       coalesce(tp.tp, 0)::BIGINT AS tp,
       round(coalesce(tp.tp, 0) * 1.0
             / nullif(coalesce(n_predicted, 0), 0), 6) AS "precision",
       round(coalesce(tp.tp, 0) * 1.0
             / nullif(coalesce(n_actual, 0), 0), 6) AS recall
FROM act a FULL OUTER JOIN pred p ON a.clazz = p.clazz
LEFT JOIN tp ON tp.clazz = coalesce(a.clazz, p.clazz)
"""
    o["ml_eval_regression"] = """
WITH d AS (SELECT value::DOUBLE AS a, (value * 0.9 + 5.0)::DOUBLE AS p
           FROM events),
s AS (SELECT avg((a - p) * (a - p)) AS mse, avg(abs(a - p)) AS mae,
             avg(CASE WHEN abs(a - p) <= 1.0 THEN (a - p) * (a - p) / 2.0
                      ELSE 1.0 * (abs(a - p) - 0.5) END) AS huber,
             var_pop(a) AS va
      FROM d)
SELECT round(mse, 6) AS mse, round(sqrt(mse), 6) AS rmse,
       round(mae, 6) AS mae, round(1.0 - mse / va, 6) AS r_squared,
       round(huber, 6) AS huber
FROM s
"""
    o["ml_eval_auc"] = """
WITH d AS (SELECT (lang = 'en')::INT AS y, (n_chars % 97)::DOUBLE AS s
           FROM documents),
per AS (SELECT s, sum(y) AS np, sum(1 - y) AS nn FROM d GROUP BY s),
r AS (SELECT s, np, nn,
        coalesce(sum(np + nn) OVER (ORDER BY s ROWS BETWEEN
          UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM per),
sums AS (SELECT sum(np * (below + (np + nn + 1) / 2.0)) AS rp,
                sum(np) AS p, sum(nn) AS n
         FROM r)
SELECT round((rp - p * (p + 1) / 2.0) / (p * n), 6) AS auc,
       p::BIGINT AS n_positive, n::BIGINT AS n_negative
FROM sums
"""
    o["ml_population_anomaly"] = f"""
WITH r AS ({population_anomalies_sql(entity_col='user_id', span='day')})
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       entity::BIGINT AS entity,
       round(metric, 3) AS metric, round(score, 6) AS score, is_anomaly
FROM r ORDER BY bucket, entity
"""

    from elasticsearch_spark.ops.anomaly import forecast_job_sql

    o["ml_forecast"] = f"""
WITH r AS ({forecast_job_sql(span='day', horizon=7)})
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       round(forecast, 4) AS forecast,
       round(lower, 4) AS lower, round(upper, 4) AS upper
FROM r ORDER BY bucket
"""

    # scaled_float: identical integer-exact pipeline
    o["scaled_float_agg"] = """
SELECT l_returnflag,
       round(sum(round(l_extendedprice * 100))::BIGINT / 100.0, 2)
         AS sum_price,
       count(*)::BIGINT AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

    # range field: the three relation predicates over the stored interval
    # [l_shipdate, l_shipdate + l_linenumber*5 days]
    o["range_field_relation"] = """
WITH r AS (
  SELECT l_shipdate AS gte,
         l_shipdate + (l_linenumber * 5) * INTERVAL 1 DAY AS lte
  FROM lineitem
)
SELECT
  sum((gte <= DATE '1995-06-30' AND lte >= DATE '1995-06-01')::INT)::BIGINT
    AS n_intersects,
  sum((gte >= DATE '1995-06-01' AND lte <= DATE '1995-06-30')::INT)::BIGINT
    AS n_within,
  sum((gte <= DATE '1995-06-01' AND lte >= DATE '1995-06-30')::INT)::BIGINT
    AS n_contains
FROM r
"""

    # histogram field: raw-row twin of the merged-histogram metrics +
    # the lower-bound weighted median
    o["histogram_field_pct"] = """
WITH m AS (
  SELECT l_suppkey % 5 AS g, l_quantity AS v, count(*) AS c
  FROM lineitem GROUP BY 1, 2),
w AS (
  SELECT g, v, c,
         sum(c) OVER (PARTITION BY g ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY g) AS total
  FROM m),
p AS (SELECT g, min(v) AS pct_v FROM w WHERE cum >= 0.5 * total GROUP BY g),
b AS (
  SELECT g, min(v) AS min_v, max(v) AS max_v,
         round(sum(v * c), 3) AS sum_v, sum(c)::BIGINT AS value_count,
         round(sum(v * c) / sum(c), 6) AS avg_v
  FROM m GROUP BY g)
SELECT b.g::INT AS g, min_v, max_v, sum_v, value_count, avg_v, pct_v
FROM b JOIN p ON b.g = p.g ORDER BY b.g
"""

    # data stream: generation g holds the event_id % 4 == g-1 slice
    o["data_stream_rollover"] = """
SELECT (event_id % 4 + 1)::INT AS _generation,
       count(*)::BIGINT AS n,
       round(sum(value), 3) AS sum_value,
       min(event_id) AS min_id, max(event_id) AS max_id
FROM events GROUP BY 1 ORDER BY 1
"""

    # annotated_text: [source](SRC_LANG) text — one annotation doc
    # count per injected value; token total = anchor + value + text
    o["annotated_terms"] = """
SELECT 'SRC_' || upper(lang) AS ann_token,
       count(*)::BIGINT AS doc_count,
       sum(2 + len(regexp_extract_all(lower(text), '[a-z0-9_]+')))::BIGINT
         AS sum_tokens
FROM documents
GROUP BY 1 ORDER BY 1
"""

    # search template: the rendered mustache -> bool filter restated
    o["search_template"] = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE lang = 'en' AND n_chars >= 300 AND n_chars <= 900
ORDER BY doc_id ASC LIMIT 200
"""

    # flattened field: keyed term on nest.k + doc-values read of et;
    # the JSON object is {"et": event_type, "nest": props}
    o["flattened_keyed_term"] = """
SELECT event_id, event_type AS et
FROM events
WHERE json_extract_string(props, '$.k') = '12'
ORDER BY event_id
"""

    # flattened root term "7" can only hit the nest.k leaf; terms agg
    # on the et leaf path over the matching docs
    o["flattened_terms_agg"] = """
SELECT event_type AS value, count(*)::BIGINT AS doc_count
FROM events
WHERE json_extract_string(props, '$.k') = '7' OR event_type = '7'
GROUP BY event_type
ORDER BY doc_count DESC, value ASC
LIMIT 10
"""

    from elasticsearch_spark.oracle.sql_oracle import bm25_ctes as _bctes

    _mb = [[t for t, _ in analyze(x, "ascii_word")]
           for x in ("table scan", "window merge", "spark query data")]
    o["msearch_batch"] = f"""
WITH {_bctes(_mb[0], prefix="a_")},
{_bctes(_mb[1], prefix="b_")},
{_bctes(_mb[2], prefix="c_")},
ta AS (SELECT 0 AS query_id, doc_id, round(score, 4) AS score
       FROM a_scored WHERE matched >= 1
       ORDER BY score DESC, doc_id ASC LIMIT 5),
tb AS (SELECT 1 AS query_id, doc_id, round(score, 4) AS score
       FROM b_scored WHERE matched >= 1
       ORDER BY score DESC, doc_id ASC LIMIT 5),
tc AS (SELECT 2 AS query_id, doc_id, round(score, 4) AS score
       FROM c_scored WHERE matched >= 1
       ORDER BY score DESC, doc_id ASC LIMIT 5)
SELECT * FROM ta UNION ALL SELECT * FROM tb UNION ALL SELECT * FROM tc
"""

    # msearch_template: the rendered texts, analyzed with the same
    # chain, through the identical per-query bm25 CTE twins
    _mt = [[t for t, _ in analyze(x, "ascii_word")]
           for x in ("table scan", "window merge", "spark")]
    o["msearch_template"] = f"""
WITH {_bctes(_mt[0], prefix="ta_")},
{_bctes(_mt[1], prefix="tb_")},
{_bctes(_mt[2], prefix="tc_")},
ra AS (SELECT 0 AS query_id, doc_id, round(score, 4) AS score
       FROM ta_scored WHERE matched >= 1
       ORDER BY score DESC, doc_id ASC LIMIT 5),
rb AS (SELECT 1 AS query_id, doc_id, round(score, 4) AS score
       FROM tb_scored WHERE matched >= 1
       ORDER BY score DESC, doc_id ASC LIMIT 5),
rc AS (SELECT 2 AS query_id, doc_id, round(score, 4) AS score
       FROM tc_scored WHERE matched >= 1
       ORDER BY score DESC, doc_id ASC LIMIT 5)
SELECT * FROM ra UNION ALL SELECT * FROM rb UNION ALL SELECT * FROM rc
"""

    # token_count over the ascii_word analyzer == the SQL twin tokenizer
    o["token_count_range"] = """
SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z0-9_]+'))::INT AS n_tokens
FROM documents
WHERE len(regexp_extract_all(lower(text), '[a-z0-9_]+')) BETWEEN 20 AND 25
ORDER BY doc_id
"""

    # rank_features: saturation on engagement + negative-impact spam
    o["rank_features_topk"] = """
SELECT event_id,
       round(value / (value + 50.0)
             + 10.0 / (json_extract_string(props, '$.k')::DOUBLE + 10.0),
             6) AS score
FROM events
WHERE value IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
ORDER BY score DESC, event_id ASC
LIMIT 20
"""

    # watcher: agg-bucket payload, array_compare(some, doc_count>=80),
    # index action = matching buckets tagged with the watch id
    o["watcher_alerts"] = """
WITH b AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         count(*)::BIGINT AS doc_count,
         round(avg(value), 3) AS avg_value
  FROM events GROUP BY 1, 2)
SELECT 'daily_spike' AS watch_id, day::VARCHAR AS day, event_type,
       doc_count, avg_value
FROM b
WHERE doc_count >= 80
ORDER BY day, event_type
"""

    # outlier_detection distance_knn: mean distance to the 5 nearest
    # neighbors, exact all-pairs at this scale
    o["ml_outlier_knn"] = """
WITH d AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         sqrt(list_sum(list_transform(
           list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
           p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
r AS (
  SELECT ia, dist,
         row_number() OVER (PARTITION BY ia ORDER BY dist, ib) AS rn
  FROM d)
SELECT ia AS vec_id, round(avg(dist), 6) AS outlier_score
FROM r WHERE rn <= 5
GROUP BY ia
ORDER BY outlier_score DESC, vec_id ASC
LIMIT 20
"""

    # tree-ensemble inference restated as the same CASE WHEN algebra
    o["ml_tree_infer"] = """
SELECT p AS predicted_value, count(*)::BIGINT AS n
FROM (
  SELECT 0.5 * (CASE WHEN value < 100.0 THEN 1.0
                     WHEN json_extract_string(props, '$.k')::DOUBLE < 50.0
                       THEN 2.0 ELSE 3.0 END)
       + 1.0 * (CASE WHEN json_extract_string(props, '$.k')::DOUBLE < 25.0
                       THEN 10.0 ELSE 20.0 END) AS p
  FROM events)
GROUP BY p ORDER BY p
"""

    # _termvectors: re-tokenize doc 42 with the same ascii_word twin,
    # positions are 0-based emission order
    o["termvectors"] = """
WITH toks AS (
  SELECT unnest(ts) AS term, unnest(range(0, len(ts))) AS pos
  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
        FROM documents WHERE doc_id = 42))
SELECT term, count(*)::INT AS term_freq,
       string_agg(pos::VARCHAR, ',' ORDER BY pos) AS positions
FROM toks GROUP BY term ORDER BY term
"""

    # chi_square significance (background_is_superset contingency),
    # identical association order to the Spark expression
    o["significant_terms_chi2"] = """
WITH t AS (
  SELECT lang AS term,
         sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)::DOUBLE AS fg,
         count(*)::DOUBLE AS bg
  FROM documents GROUP BY lang),
g AS (
  SELECT count(*)::DOUBLE AS n_all,
         sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)::DOUBLE AS n_fg
  FROM documents)
SELECT term, fg::BIGINT AS fg_count, bg::BIGINT AS bg_count,
       round(n_all
             * (fg * (n_all - bg - (n_fg - fg)) - (n_fg - fg) * (bg - fg))
             * (fg * (n_all - bg - (n_fg - fg)) - (n_fg - fg) * (bg - fg))
             / (n_fg * bg * (n_all - bg) * (n_all - n_fg)), 6) AS score
FROM t, g
WHERE fg >= 3 AND bg > 0
ORDER BY score DESC, term ASC
LIMIT 10
"""

    # percentage significance: subsetFreq / supersetFreq
    o["significant_terms_pct"] = """
WITH t AS (
  SELECT source AS term,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE AS fg,
         count(*)::DOUBLE AS bg
  FROM documents GROUP BY source)
SELECT term, fg::BIGINT AS fg_count, bg::BIGINT AS bg_count,
       round(fg / bg, 6) AS score
FROM t
WHERE fg >= 3 AND bg > 0
ORDER BY score DESC, term ASC
LIMIT 10
"""

    # geo_line: per-lang LineString over the synthetic coordinates,
    # first 5 points in doc_id order
    o["agg_geo_line"] = """
WITH g AS (
  SELECT lang, doc_id,
         (doc_id % 171 - 85)::DOUBLE AS lat,
         ((doc_id * 7) % 360 - 180)::DOUBLE AS lon
  FROM documents),
r AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM g)
SELECT lang, max(cnt)::BIGINT AS doc_count, count(*)::INT AS n_points,
       'LINESTRING (' || string_agg(lon::VARCHAR || ' ' || lat::VARCHAR,
                                    ', ' ORDER BY doc_id) || ')' AS geometry
FROM r WHERE rn <= 5
GROUP BY lang ORDER BY lang
"""

    # terms agg include regex, whole-term anchored
    o["agg_terms_include"] = """
SELECT lang AS key, count(*)::BIGINT AS doc_count
FROM documents
WHERE regexp_full_match(lang, 'e.*|d.*')
GROUP BY lang
ORDER BY doc_count DESC, key ASC
LIMIT 10
"""

    # bucket_correlation: CountCorrelationFunction restated (uniform
    # fractions 1/n_buckets, Bernoulli y side)
    o["ml_bucket_correlation"] = """
WITH b AS (
  SELECT (floor(value / 50) * 50)::DOUBLE AS x,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE AS y
  FROM events GROUP BY 1),
s AS (SELECT avg(x) AS xm, var_pop(x) AS xv, sum(y) AS ys,
             count(*)::DOUBLE AS n FROM b),
g AS (SELECT count(*)::DOUBLE AS N FROM events),
c AS (
  SELECT sum(-(g.N * (1.0 / s.n) - b.y) * (b.x - s.xm) * (s.ys / g.N)
             + b.y * (b.x - s.xm) * (1 - s.ys / g.N)) / max(g.N) AS cov
  FROM b, s, g)
SELECT round(c.cov / sqrt(s.xv
         * ((1 - s.ys / g.N) * (s.ys / g.N) * (s.ys / g.N)
            + (s.ys / g.N) * (1 - s.ys / g.N) * (1 - s.ys / g.N))),
       6) AS correlation
FROM c, s, g
"""

    # match_only_text: score = sum of matched DISTINCT terms' BM25 idf
    # (tf=1, no norms; (k1+1)/(1+k1) == 1)
    o["match_only_text"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(
           regexp_extract_all(lower(text), '[a-z0-9_]+'))) AS term
  FROM documents),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM toks GROUP BY term),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
m AS (
  SELECT t.doc_id, ln(1 + (n.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS idf
  FROM toks t, dfreq, n
  WHERE t.term = dfreq.term AND t.term IN ('table', 'scan', 'merge'))
SELECT doc_id, round(sum(idf), 6) AS score
FROM m GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT 15
"""

    # index sorting: same BM25 (full-corpus stats) + n_chars range;
    # doc ids in the oracle are the table's — the entry maps its sort
    # ranks back before returning
    _ts_sr = [t for t, _ in analyze("table scan data", "ascii_word")]
    o["sorted_index_range_match"] = f"""
WITH {_ctes(_ts_sr)}
SELECT s.doc_id, round(s.score, 4) AS score
FROM scored s JOIN documents dd ON dd.doc_id = s.doc_id
WHERE s.matched >= 1 AND dd.n_chars BETWEEN 300 AND 900
ORDER BY score DESC, s.doc_id ASC
LIMIT 15
"""

    # painless script_score: hand-written SQL equivalent (independent
    # of the transpiler, so it checks the compiled Catalyst text too)
    o["script_score_painless"] = f"""
WITH {bm25_ctes(['table'])}
SELECT c.doc_id,
       round(c.score + ln(1 + d.n_chars) * 0.25
             + (CASE WHEN d.lang = 'en' THEN 0.5 ELSE 0.0 END), 4) AS score
FROM scored c JOIN documents d ON d.doc_id = c.doc_id
ORDER BY c.score + ln(1 + d.n_chars) * 0.25
         + (CASE WHEN d.lang = 'en' THEN 0.5 ELSE 0.0 END) DESC,
         c.doc_id ASC
LIMIT 10
"""

    # lucene-expression script_score: hand-written SQL twin
    # (logn(2, x) = ln(x)/ln(2), unprefixed sqrt/abs)
    o["script_score_expression"] = f"""
WITH {bm25_ctes(['table'])}
SELECT c.doc_id,
       round(c.score + (ln(1 + d.n_chars) / ln(2)) * 0.125
             + sqrt(abs(d.n_chars)) / 100, 4) AS score
FROM scored c JOIN documents d ON d.doc_id = c.doc_id
ORDER BY c.score + (ln(1 + d.n_chars) / ln(2)) * 0.125
         + sqrt(abs(d.n_chars)) / 100 DESC,
         c.doc_id ASC
LIMIT 10
"""

    # painless statement subset under _update_by_query: hand-written
    # SQL equivalent of the symbolic execution (bump unrolls to
    # 0.0+0.05+0.05 == the 0.1 double exactly; delete-branch rows
    # filtered; noop keeps originals)
    o["update_by_query_painless"] = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity >= 45 THEN 'H' ELSE l_returnflag END
           AS l_returnflag,
       round(CASE WHEN l_quantity >= 45
                  THEN l_extendedprice * (1.0 + (0.0 + 0.05 + 0.05))
                  ELSE l_extendedprice END, 2) AS price
FROM lineitem
WHERE NOT (l_quantity < 45 AND l_quantity <= 2)
ORDER BY l_orderkey, l_linenumber
LIMIT 200
"""

    # user functions inline: taxed() is a tax-conditional price, tier()
    # a quantity band; the twin mirrors the inlined CASE chains
    o["update_by_query_fn"] = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN (CASE WHEN l_quantity >= 40 THEN 3
                       WHEN l_quantity >= 20 THEN 2
                       ELSE 1 END) >= 2
            THEN 'B' ELSE 'S' END AS l_linestatus,
       round(CASE WHEN l_tax > 0.05 THEN l_extendedprice * (1.0 + l_tax)
                  ELSE l_extendedprice END, 2) AS price
FROM lineitem
ORDER BY l_orderkey, l_linenumber
LIMIT 200
"""

    # loop script unrolls to: factor = 0.5*(1+2+3+4) = 5.0 (exact in
    # binary, and integer-valued so price*(1+factor) keeps 2 decimals —
    # no .xx5 round-tie divergence), pow2 = 8, disc.size() = 1; the
    # twin mirrors the exact op sequence ((price * (1.0+5.0)) + 8) - 1
    o["update_by_query_loop"] = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1.0 + 5.0) + 8 - 1, 2) AS adj
FROM lineitem
ORDER BY l_orderkey, l_linenumber
LIMIT 200
"""

    # moving_fn models over monthly buckets; window = 4 PRECEDING to
    # 1 PRECEDING (excludes current, MovFnPipelineAggregator.java:100).
    # ewma via list_reduce (acc starts at the first value, as in
    # MovingFunctions.ewma); linear weights are 1..n with totalWeight
    # starting at 1 (reference quirk); std_dev is population.
    o["agg_moving_fn"] = """
WITH b AS (
  SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS key,
         count(*) AS doc_count, sum(o_totalprice)::DOUBLE AS rev
  FROM orders GROUP BY 1),
w AS (
  SELECT key, doc_count, rev,
         list(rev) OVER (ORDER BY key
                         ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS arr
  FROM b)
SELECT key, doc_count, round(rev, 4) AS rev,
       round(list_reduce(arr, (a, v) -> v * 0.3 + a * 0.7), 4) AS ewma,
       CASE WHEN arr IS NULL OR len(arr) = 0 THEN NULL
            ELSE round(list_sum(list_transform(arr, (x, i) -> x * i))
                       / (1 + list_sum(list_transform(arr, (x, i) -> i * 1.0))), 4)
       END AS lin,
       CASE WHEN arr IS NULL OR len(arr) = 0 THEN NULL
            ELSE round(sqrt(list_sum(list_transform(
                     arr, x -> (x - list_avg(arr)) * (x - list_avg(arr))))
                     / len(arr)), 4)
       END AS sd
FROM w
"""

    # ML log categorization: the same ml_classic tokenizer pipeline in
    # DuckDB (regexp_extract_all + list_filter); variable numeric parts
    # drop, so one category per event_type remains
    _ml_stop = ", ".join(
        f"'{w}'" for w in
        ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
         "Saturday", "Sunday", "Mon", "Tue", "Wed", "Thu", "Fri",
         "Sat", "Sun", "January", "February", "March", "April", "May",
         "June", "July", "August", "September", "October", "November",
         "December", "Jan", "Feb", "Mar", "Apr", "Jun", "Jul", "Aug",
         "Sep", "Oct", "Nov", "Dec", "GMT", "UTC"])
    o["ml_categorize"] = f"""
WITH m AS (
  SELECT 'Task ' || event_type || ' finished in '
         || CAST(CAST(floor(abs(value)) AS BIGINT) AS VARCHAR)
         || ' ms' AS message
  FROM events),
t AS (
  SELECT message,
         array_to_string(list_filter(
           regexp_extract_all(message,
             '[a-zA-Z0-9](?:[a-zA-Z0-9._-]*[a-zA-Z0-9])?'),
           t -> NOT regexp_matches(t, '^[0-9a-fA-F.-]+$')
                AND NOT regexp_matches(t, '^[0-9]')
                AND NOT list_contains([{_ml_stop}], t)), ' ') AS key
  FROM m),
g AS (
  SELECT key AS category_key, count(*) AS doc_count,
         [min(message)] AS examples
  FROM t WHERE key <> '' GROUP BY 1)
SELECT row_number() OVER (ORDER BY doc_count DESC, category_key ASC)
         AS mlcategory,
       category_key,
       '.*?' || replace(category_key, ' ', '.+?') || '.*?' AS regex,
       doc_count, examples
FROM g
"""

    o["mtermvectors"] = """
WITH toks AS (
  SELECT doc_id, unnest(ts) AS term, unnest(range(0, len(ts))) AS pos
  FROM (SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
        FROM documents WHERE doc_id IN (7, 42, 99)))
SELECT doc_id, term, count(*)::INT AS term_freq,
       string_agg(pos::VARCHAR, ',' ORDER BY pos) AS positions
FROM toks GROUP BY doc_id, term ORDER BY doc_id, term
"""

    # EQL | head 5 — same as-of sequence, ordered by (first-event ts,
    # first-event id) ascending, first 5
    o["eql_pipe_head"] = """
WITH a AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
b AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT a.user_id, a.ts AS ts_0, a.event_id AS id_0, b.event_id AS id_1,
         row_number() OVER (PARTITION BY a.user_id, a.event_id
                            ORDER BY b.ts ASC, b.event_id ASC) AS rn
  FROM a JOIN b ON a.user_id = b.user_id
  WHERE b.ts > a.ts AND epoch(b.ts) - epoch(a.ts) <= 86400)
SELECT user_id, id_0, id_1, CAST(ts_0 AS VARCHAR) AS ts0
FROM j WHERE rn = 1
ORDER BY ts_0 ASC, id_0 ASC LIMIT 5
"""

    # explain API: per-(doc, term) contribution from the same CTE
    # components the top-k twin sums
    o["explain_api"] = f"""
WITH {bm25_ctes(['table', 'scan'])}
SELECT tf.doc_id, tf.term,
       round((1.2 + 1.0)
             * ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)),
             6) AS contribution
FROM tf JOIN df ON tf.term = df.term
JOIN dl ON tf.doc_id = dl.doc_id
CROSS JOIN stats s
WHERE tf.doc_id IN (7, 42, 99)
ORDER BY tf.doc_id, tf.term
"""

    # request sort section: painless script sort + field sort + the
    # engine's always-appended doc_id tie-break
    o["sort_section"] = """
SELECT doc_id, n_chars, source
FROM documents WHERE lang = 'en'
ORDER BY ln(1 + n_chars) * 2.5 DESC, source ASC, doc_id ASC
LIMIT 15
"""

    from elasticsearch_spark.ops.dataset import (
        dataset_split_sql as _split_sql,
        pack_sequences_sql as _pack_sql,
    )

    o["dataset_split"] = f"""
SELECT {_split_sql(seed='r4')} AS split,
       count(*)::BIGINT AS doc_count, sum(n_chars)::BIGINT AS chars
FROM documents GROUP BY 1
"""

    from elasticsearch_spark.ops.dataset import (
        stratified_sample_sql as _mix_sql,
    )
    from elasticsearch_spark.ops.text import (
        ngram_lm_score_sql as _lm_sql,
    )

    o["dataset_mix"] = f"""
SELECT doc_id, source, copy_id FROM (
{_mix_sql('documents', {"src0": 2.0, "src1": 0.4, "src2": 0.0}, seed='r5')}
) ORDER BY doc_id, copy_id
"""

    o["quality_lm_nll"] = f"""
WITH {_lm_sql('documents', ref_filter="lang = 'en'",
              doc_filter="lang = 'de'")}
SELECT doc_id, round(nll, 4) AS nll FROM scored_lm ORDER BY doc_id
"""

    o["dsir_weights"] = f"""
WITH {_lm_sql('documents', ref_filter="lang = 'en'", prefix='t_')},
{_lm_sql('documents', prefix='b_')}
SELECT t.doc_id, round(t.nll, 4) AS nll_target,
       round(b.nll, 4) AS nll_base,
       round(b.nll - t.nll, 4) AS log_weight
FROM t_scored_lm t JOIN b_scored_lm b ON b.doc_id = t.doc_id
ORDER BY t.doc_id
"""

    o["pack_sequences"] = f"""
WITH t AS (
  SELECT lang, doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9_]+')) AS n_tokens
  FROM documents),
p AS (
  SELECT lang,
         {_pack_sql('n_tokens', 512, partition_col='lang')} AS pack_id,
         n_tokens
  FROM t)
SELECT lang, pack_id, count(*)::BIGINT AS docs,
       sum(n_tokens)::BIGINT AS tokens
FROM p GROUP BY 1, 2
"""

    from elasticsearch_spark.ops.dataset import chunk_documents_sql

    o["chunk_documents"] = chunk_documents_sql(size=24, overlap=8)

    # Gopher repetition heuristics: lines via split+trim, bigrams via
    # position self-join; identical rounding
    o["text_repetition_signals"] = """
WITH l AS (
  SELECT doc_id,
         unnest(list_filter(
           list_transform(string_split(text, chr(10)), s -> trim(s)),
           s -> len(s) > 0)) AS line
  FROM documents),
lc AS (
  SELECT doc_id, count(*) AS n, count(DISTINCT line) AS d,
         sum(len(line)) AS tc
  FROM l GROUP BY 1),
ld AS (
  SELECT doc_id, sum(len(line)) AS dc
  FROM (SELECT DISTINCT doc_id, line FROM l) GROUP BY 1),
tk AS (
  SELECT doc_id,
         generate_subscripts(ts, 1) AS ord, unnest(ts) AS term
  FROM (SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
        FROM documents)),
wc AS (
  SELECT doc_id, count(*) AS n, count(DISTINCT term) AS d,
         sum(len(term)) AS tc
  FROM tk GROUP BY 1),
bg AS (
  SELECT a.doc_id, a.term || ' ' || b.term AS g,
         count(*) AS c, len(a.term || b.term) AS glen
  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
  GROUP BY 1, 2, 4),
tb AS (SELECT doc_id, max(c * glen) AS top_chars FROM bg GROUP BY 1)
SELECT d.doc_id,
       round(coalesce((lc.n - lc.d) * 1.0 / nullif(lc.n, 0), 0), 6)
         AS dup_line_frac,
       round(coalesce((lc.tc - ld.dc) * 1.0 / nullif(lc.tc, 0), 0), 6)
         AS dup_line_char_frac,
       round(coalesce((wc.n - wc.d) * 1.0 / nullif(wc.n, 0), 0), 6)
         AS dup_word_frac,
       round(coalesce(tb.top_chars * 1.0 / nullif(wc.tc, 0), 0), 6)
         AS top_bigram_share
FROM documents d
LEFT JOIN lc ON lc.doc_id = d.doc_id
LEFT JOIN ld ON ld.doc_id = d.doc_id
LEFT JOIN wc ON wc.doc_id = d.doc_id
LEFT JOIN tb ON tb.doc_id = d.doc_id
"""

    # connected components over the same pair table via recursive-CTE
    # transitive closure (fine at oracle scale; the engine runs the
    # SoCC'14 alternating algorithm instead)
    o["dedup_components"] = """
WITH RECURSIVE tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ts
  FROM documents),
sh0 AS (
  SELECT DISTINCT doc_id, unnest(
    list_transform(generate_series(1, len(ts) - 1),
                   i -> array_to_string(ts[i:i+1], ' '))) AS shingle
  FROM tok WHERE len(ts) >= 2),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 1000),
sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
cp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM cp
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.5),
e AS (SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT u, u FROM e
  UNION
  SELECT e.u, reach.r FROM e JOIN reach ON reach.node = e.v),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT component, count(*) AS members, max(node) AS max_node
FROM comp GROUP BY component
"""

    # multi-index search: cross-index DFS statistics make two
    # half-corpus indexes score IDENTICALLY to one whole-corpus BM25
    # space — the oracle is the ordinary single-table twin
    o["multi_index_search"] = _bm25_oracle("table scan merge", k=12)

    # indices_boost: per-parity index = its OWN collection stats
    # (query_then_fetch), boost multiplies, merge takes global top-k
    _ib_terms = [t for t, _ in analyze("table scan merge", "ascii_word")]
    o["indices_boost"] = f"""
WITH idx_even AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
idx_odd AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
{bm25_ctes(_ib_terms, prefix="e", table="idx_even")},
{bm25_ctes(_ib_terms, prefix="d", table="idx_odd")},
merged AS (
  SELECT doc_id, score * 1.3 AS score, 'even' AS _index
  FROM escored WHERE matched >= 1
  UNION ALL
  SELECT doc_id, score * 0.7 AS score, 'odd' AS _index
  FROM dscored WHERE matched >= 1)
SELECT doc_id, round(score, 4) AS score, _index
FROM merged ORDER BY score DESC, doc_id ASC LIMIT 12
"""

    o["count_api"] = """
SELECT count(*)::BIGINT AS count FROM documents
WHERE n_chars >= 200 AND lang = 'en' AND NOT (source = 'src3')
"""

    # bulk twin: the same set algebra spelled in SQL — doc 3 deleted,
    # 100001 indexed, create on 5 conflicts (no-op), 100002 created,
    # update merges lang onto doc 7, update on the missing id no-ops
    o["bulk_api"] = """
WITH final AS (
  SELECT doc_id,
         CASE WHEN doc_id = 7 THEN 'zz' ELSE lang END AS lang,
         n_chars
  FROM documents WHERE doc_id <> 3
  UNION ALL SELECT 100001::BIGINT, 'xx', 16::BIGINT
  UNION ALL SELECT 100002::BIGINT, 'yy', 16::BIGINT
)
SELECT doc_id, lang, n_chars,
       (SELECT count(*)::BIGINT FROM final) AS total
FROM final WHERE doc_id IN (100001, 100002, 7, 5, 3)
ORDER BY doc_id
"""

    # circle processor: same regular-polygon math, one probed vertex
    # (k = floor((n+1)/3), 0-based) instead of the full ring
    o["ingest_circle"] = """
WITH c AS (
  SELECT doc_id,
         (((doc_id * 7) % 300 + 300) % 300) / 1.7 - 88 AS x,
         (((doc_id * 3) % 170 + 170) % 170) / 2.1 - 40 AS y,
         ((doc_id % 37 + 37) % 37) + 8.0 AS r
  FROM documents),
sides AS (
  SELECT doc_id, x, y, r,
         least(1000, greatest(4,
             ceiling(2 * pi() / acos(1 - 1.0 / r))::INT)) AS n
  FROM c),
probe AS (
  SELECT doc_id, x, y, r, n, floor((n + 1) / 3)::INT AS k FROM sides)
SELECT doc_id, n::BIGINT AS n_sides,
       round(r * cos(radians((k % n) * (360.0 / n))) + x, 3) AS vx,
       round(r * sin(radians((k % n) * (360.0 / n))) + y, 3) AS vy
FROM probe ORDER BY doc_id LIMIT 300
"""

    return o
