"""Okapi BM25 (the reference's default similarity) + SmallFloat norms.

Reference semantics re-created (not ported):
  - default similarity "BM25": index/similarity/SimilarityService.java:43
  - params k1=1.2, b=0.75, discount_overlaps=true:
    index/similarity/SimilarityProviders.java:234-244
  - LegacyBM25Similarity multiplies the Lucene-8 score by (k1+1):
      idf  = ln(1 + (N - df + 0.5) / (df + 0.5))
      tfn  = tf / (tf + k1 * (1 - b + b * dl / avgdl))
      score = (k1 + 1) * idf * tfn
    with N = docCount, avgdl = sumTotalTermFreq / docCount (global /
    DFS-mode statistics — search/dfs/DfsPhase.java:39-55).
  - Field length dl is quantized to ONE byte at index time via
    SmallFloat#intToByte4 (4-bit-mantissa float; values 0..23 exact) —
    this is what makes scores "Lucene-identical". We store exact dl in
    the index and apply quantization at scoring time when
    ``quantize_norms=True`` (parity mode); ``False`` gives exact-dl
    scores that a plain-SQL oracle (DuckDB) can reproduce bit-for-bit
    in float64.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


@dataclass(frozen=True)
class BM25Params:
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    quantize_norms: bool = True  # Lucene-parity mode
    # per-field similarity selection (SimilarityService.java:43 —
    # "BM25" default, "classic" TF-IDF, "boolean"):
    #   bm25    : (k1+1) * idf * tf/(tf + k1(1-b+b·dl/avgdl))
    #   classic : idf_c^2 * sqrt(tf)/sqrt(dl), idf_c = 1+ln(N/(df+1))
    #             (queryNorm omitted — constant per query, rank-identical)
    #   boolean : matching term contributes its boost (weight) only
    similarity: str = "bm25"


# ---- SmallFloat (Lucene 8 semantics, reimplemented on numpy) ----------

def _long_to_int4(v: np.ndarray) -> np.ndarray:
    """4-bit-mantissa encode of non-negative int64 (vectorized)."""
    v = np.asarray(v, dtype=np.int64)
    out = np.empty(v.shape, dtype=np.int64)
    num_bits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    nz = tmp > 0
    while nz.any():
        num_bits[nz] += 1
        tmp >>= 1
        nz = tmp > 0
    sub = num_bits < 4
    out[sub] = v[sub]
    shift = num_bits - 4
    norm = ~sub
    if norm.any():
        enc = (v[norm] >> shift[norm]) & 0x07
        out[norm] = enc | ((shift[norm] + 1) << 3)
    return out


def _int4_to_long(e: np.ndarray) -> np.ndarray:
    e = np.asarray(e, dtype=np.int64)
    bits = e & 0x07
    shift = (e >> 3) - 1
    sub = shift == -1
    out = np.where(sub, bits, (bits | 0x08) << np.maximum(shift, 0))
    return out


_MAX_INT4 = int(_long_to_int4(np.array([2**31 - 1]))[0])
_NUM_FREE_VALUES = 255 - _MAX_INT4  # 24 in Lucene 8


def int_to_byte4(v: np.ndarray) -> np.ndarray:
    """Lucene SmallFloat#intToByte4: int -> unsigned byte code."""
    v = np.asarray(v, dtype=np.int64)
    small = v < _NUM_FREE_VALUES
    out = np.empty(v.shape, dtype=np.int64)
    out[small] = v[small]
    if (~small).any():
        out[~small] = _NUM_FREE_VALUES + _long_to_int4(v[~small] - _NUM_FREE_VALUES)
    return out.astype(np.uint8)


def byte4_to_int(b: np.ndarray) -> np.ndarray:
    """Lucene SmallFloat#byte4ToInt: unsigned byte code -> int."""
    b = np.asarray(b, dtype=np.int64)
    small = b < _NUM_FREE_VALUES
    out = np.empty(b.shape, dtype=np.int64)
    out[small] = b[small]
    if (~small).any():
        out[~small] = _NUM_FREE_VALUES + _int4_to_long(b[~small] - _NUM_FREE_VALUES)
    return out


# every value a 1-byte norm can decode to, ascending (byte4_to_int is
# strictly increasing over the 256 codes)
_BYTE4_VALUES = byte4_to_int(np.arange(256))


def quantize_dl(dl: np.ndarray) -> np.ndarray:
    """Round-trip dl through the 1-byte norm encoding (index-time loss).

    intToByte4 truncates, so the round trip maps dl to the largest
    decodable value <= dl: one table lookup, identical to
    ``byte4_to_int(int_to_byte4(dl))`` for every non-negative int32."""
    return _BYTE4_VALUES[
        np.searchsorted(_BYTE4_VALUES, np.asarray(dl, dtype=np.int64), "right") - 1
    ]


# ---- scoring ----------------------------------------------------------

def idf(df: np.ndarray | float, n_docs: float) -> np.ndarray | float:
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


# ---- similarity dispatch (SimilarityService registrations) ----------

def idf_sim(df: float, n_docs: float, params: BM25Params) -> float:
    """Per-term document-frequency factor under the selected similarity
    (classic squares its idf because Lucene applies it to both query
    and document vectors)."""
    if params.similarity == "classic":
        v = 1.0 + np.log(n_docs / (df + 1.0))
        return float(v * v)
    if params.similarity == "boolean":
        return 1.0
    return float(idf(df, n_docs))


def tfn_eff(tf: np.ndarray, dl_eff: np.ndarray, avgdl: float,
            params: BM25Params) -> np.ndarray:
    """Per-posting factor with dl ALREADY effective (quantized or
    exact). score = weight * idf_sim * tfn_eff. Monotone increasing in
    tf and non-increasing in dl for every similarity, so (max_tf,
    min_dl) remains a valid block upper bound."""
    tf = np.asarray(tf, dtype=np.float64)
    if params.similarity == "classic":
        return np.sqrt(tf) / np.sqrt(np.maximum(dl_eff, 1.0))
    if params.similarity == "boolean":
        return np.ones_like(tf)
    if params.similarity == "match_only_text":
        # mapper-extras MatchOnlyTextFieldMapper: freqs and norms are
        # not indexed, so every match scores as BM25 with tf=1 and no
        # length normalization — (k1+1)*1/(1+k1) == 1, i.e. score =
        # sum of matched terms' idf. Constant per posting, so the
        # (max_tf, min_dl) block bound stays valid trivially.
        return np.ones_like(tf)
    return (params.k1 + 1.0) * tf / (
        tf + params.k1 * (1.0 - params.b + params.b * dl_eff / avgdl)
    )


def tf_norm_sim(tf: np.ndarray, dl: np.ndarray, avgdl: float,
                params: BM25Params) -> np.ndarray:
    dl_eff = (
        quantize_dl(dl).astype(np.float64)
        if params.quantize_norms else np.asarray(dl, dtype=np.float64)
    )
    return tfn_eff(tf, dl_eff, avgdl, params)

