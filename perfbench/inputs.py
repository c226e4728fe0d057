"""Seeded benchmark inputs: the code corpus, the query sets and the
refresh batches.

Everything derives from the workload seed. The corpus comes from the
engine's own generator (``corpus.generate_corpus``) and is written to
parquet once; queries are sampled from that corpus's vocabulary,
stratified by document frequency:

- high-DF language keywords (``corpus.KEYWORDS``);
- frequent identifiers (the 50 highest DF) and rare identifiers (the
  100 lowest DF);
- camelCase/snake_case subword splits of an identifier, which the code
  analyzer indexes as separate terms;
- one query whose only term occurs nowhere (zero hits).

The engine receives only these generated inputs.
"""

from __future__ import annotations

import hashlib
import json
import re
from collections import Counter
from dataclasses import asdict, dataclass

import numpy as np

ID_COLS = ["repo", "path", "commit"]
FIELD = "content"
ANALYZER = "code"
ZERO_HIT = "qzxjvnohitqz"
MAX_TRIES = 100_000  # sampling attempts before a stratum counts as empty

_IDENT = re.compile(r"^[A-Za-z][A-Za-z0-9_]*$")


@dataclass
class Query:
    kind: str  # or | and | k50 | phrase | filtered | facet_terms | facet_top_hits | batch
    text: str
    terms: list  # analyzed terms, in order
    k: int = 10
    lang: str | None = None
    max_length: int | None = None


def write_corpus(spark, n_docs: int, seed: int, path: str):
    """Generate the seeded corpus, write it to parquet and return
    (documents DataFrame read back with doc ids, pandas copy)."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.corpus import generate_corpus
    from elasticsearch_spark.index.builder import assign_doc_ids

    parts = spark.sparkContext.defaultParallelism
    generate_corpus(spark, n_docs, seed=seed, partitions=parts).write.mode(
        "overwrite").parquet(path)
    docs = assign_doc_ids(spark.read.parquet(path), ID_COLS).withColumn(
        "length", F.length(FIELD))
    pdf = docs.select("doc_id", "repo", "lang", "length", FIELD,
                      "sha256").toPandas()
    return docs, pdf


def refresh_pool(spark, n_docs: int, seed: int):
    """Documents for the refresh batches: a second seeded corpus whose
    natural keys (random commits) never collide with the base corpus."""
    from elasticsearch_spark.corpus import generate_corpus
    from elasticsearch_spark.index.builder import assign_doc_ids

    parts = spark.sparkContext.defaultParallelism
    df = assign_doc_ids(generate_corpus(spark, n_docs, seed=seed, partitions=parts),
                        ID_COLS)
    return df.select("doc_id", FIELD).toPandas()


def probe_token(seed: int, cycle: int) -> str:
    """A lowercase, letters-only token (one analyzed term) unique to one
    refresh batch."""
    n = seed * 1000 + cycle
    letters = []
    while True:
        n, r = divmod(n, 26)
        letters.append(chr(ord("a") + r))
        if n == 0:
            break
    return "zfresh" + "".join(letters) + "q"


def _analyze(text: str) -> list:
    from elasticsearch_spark.analysis import analyze

    return [t for t, _ in analyze(text, ANALYZER)]


class QuerySampler:
    """Samples query text from the corpus, stratified by DF."""

    def __init__(self, pdf, rng: np.random.Generator):
        from elasticsearch_spark.corpus import KEYWORDS

        self.rng = rng
        self.pdf = pdf
        kw = {w for ws in KEYWORDS.values() for w in ws}
        self.lang_keywords = {lang: list(ws) for lang, ws in KEYWORDS.items()}
        df: Counter = Counter()
        self.doc_idents = []
        for text in pdf[FIELD]:
            idents = sorted({t for t in text.split()
                             if _IDENT.match(t) and t not in kw
                             and not t.startswith("lit")})
            self.doc_idents.append(idents)
            df.update(idents)
        by_df = sorted(df, key=lambda t: (-df[t], t))
        self.frequent = by_df[:50]
        self.rare = by_df[-100:]
        self.camel = [t for t in by_df[:400] if re.search(r"[a-z][A-Z]", t)
                      or "_" in t]
        self.keywords = sorted(kw)

    def _pick(self, seq):
        return seq[int(self.rng.integers(0, len(seq)))]

    def subword(self) -> str:
        ident = self._pick(self.camel)
        parts = [t for t in _analyze(ident) if t != ident.lower()]
        return " ".join(parts[:2]) or ident

    def or_text(self, strata: list[int]) -> str:
        """One pick per listed stratum: 0 keyword, 1 frequent identifier,
        2 rare identifier, 3 subword split."""
        pickers = [
            lambda: self._pick(self.keywords),
            lambda: self._pick(self.frequent),
            lambda: self._pick(self.rare),
            self.subword,
        ]
        return " ".join(pickers[s]() for s in strata)

    def and_text(self) -> str:
        """Two identifiers that co-occur in one document (non-empty AND)."""
        for _ in range(MAX_TRIES):
            i = int(self.rng.integers(0, len(self.doc_idents)))
            idents = self.doc_idents[i]
            if len(idents) >= 2:
                a, b = self.rng.choice(len(idents), size=2, replace=False)
                return f"{idents[int(a)]} {idents[int(b)]}"
        raise RuntimeError("no document with two identifiers")

    def phrase_terms(self) -> list:
        """Two adjacent single-term positions of one document."""
        from elasticsearch_spark.analysis import ANALYZERS

        for _ in range(MAX_TRIES):
            i = int(self.rng.integers(0, len(self.pdf)))
            terms, positions = ANALYZERS[ANALYZER](self.pdf[FIELD].iloc[i])
            by_pos: dict = {}
            for t, p in zip(terms, positions):
                by_pos.setdefault(p, []).append(t)
            pairs = [(by_pos[p][0], by_pos[p + 1][0]) for p in sorted(by_pos)
                     if len(by_pos[p]) == 1 and len(by_pos.get(p + 1, [])) == 1
                     and by_pos[p][0] != by_pos[p + 1][0]]
            if pairs:
                return list(self._pick(pairs))
        raise RuntimeError("no document with two adjacent single-term positions")

    def filtered(self) -> tuple[str, str, int]:
        lang = self._pick(sorted(self.lang_keywords))
        text = f"{self._pick(self.lang_keywords[lang])} {self._pick(self.frequent)}"
        return text, lang, int(np.median(self.pdf["length"]))


def search_queries(sampler: QuerySampler) -> dict[str, list[Query]]:
    """The fixed request set of the ``search`` workload, per kind."""
    q: dict[str, list[Query]] = {}
    ors = [sampler.or_text([0, 1, 2]) for _ in range(4)] + [sampler.subword(), ZERO_HIT]
    q["or"] = [Query("or", t, _analyze(t)) for t in ors]
    q["and"] = [Query("and", t, _analyze(t))
                for t in (sampler.and_text() for _ in range(4))]
    q["k50"] = [Query("k50", t, _analyze(t), k=50)
                for t in (sampler.or_text([0, 1]) for _ in range(3))]
    q["phrase"] = [Query("phrase", " ".join(p), p)
                   for p in (sampler.phrase_terms() for _ in range(4))]
    q["filtered"] = []
    for _ in range(3):
        text, lang, max_len = sampler.filtered()
        q["filtered"].append(Query("filtered", text, _analyze(text),
                                   lang=lang, max_length=max_len))
    q["facet_terms"] = [Query("facet_terms", "repo", [], k=10)]
    q["facet_top_hits"] = [Query("facet_top_hits", "lang", [], k=3)]
    return q


# strata of the msearch pool's queries, by position modulo 4: every
# batch draws the same number from each class, so batches of one seed
# and of different seeds carry the same mix of DF strata and lengths
BATCH_CLASSES = ([2], [0, 3], [1, 2, 3], [0, 1, 2, 3])


def batch_pool(sampler: QuerySampler, n: int) -> list[Query]:
    """Distinct OR queries for the ``msearch`` batches: query i picks the
    strata ``BATCH_CLASSES[i % 4]``; query 0 is the zero-hit query."""
    seen = {ZERO_HIT}
    out = [Query("batch", ZERO_HIT, _analyze(ZERO_HIT))]
    for _ in range(MAX_TRIES):
        if len(out) == n:
            return out
        t = sampler.or_text(BATCH_CLASSES[len(out) % len(BATCH_CLASSES)])
        if t not in seen:
            seen.add(t)
            out.append(Query("batch", t, _analyze(t)))
    raise RuntimeError(f"could not sample {n} distinct batch queries")


def digest(pdf, queries: list[Query], extra=()) -> str:
    """sha256 over the corpus rows (doc id + content hash), every query
    and any extra inputs, in a fixed order."""
    h = hashlib.sha256()
    for d, s in sorted(zip(pdf["doc_id"].tolist(), pdf["sha256"].tolist())):
        h.update(f"{d}:{s}\n".encode())
    for q in queries:
        h.update(json.dumps(asdict(q), sort_keys=True).encode())
    for e in extra:
        h.update(str(e).encode())
    return h.hexdigest()[:16]
