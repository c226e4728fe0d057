import math

import numpy as np
from hypothesis import given, settings, strategies as st

from elasticsearch_spark.search import bm25


def test_smallfloat_exact_below_24():
    v = np.arange(0, 24)
    assert np.array_equal(bm25.quantize_dl(v), v)


def test_smallfloat_lossy_monotonic():
    v = np.arange(0, 100000)
    enc = bm25.int_to_byte4(v)
    dec = bm25.byte4_to_int(enc)
    # decoded value never exceeds input, and is monotonic non-decreasing
    assert (dec <= v).all()
    assert (np.diff(dec) >= 0).all()
    # codes are idempotent: encode(decode(b)) == b
    codes = np.arange(0, 256)
    rt = bm25.int_to_byte4(bm25.byte4_to_int(codes))
    assert np.array_equal(rt, codes)


def test_quantize_table_matches_reference_round_trip():
    """The 256-entry lookup equals the intToByte4/byte4ToInt round trip
    over 0..2^21 and over random int32 values."""
    ref = lambda v: bm25.byte4_to_int(bm25.int_to_byte4(v))  # noqa: E731
    dense = np.arange(0, 2**21 + 1, dtype=np.int64)
    assert np.array_equal(bm25.quantize_dl(dense), ref(dense))
    rng = np.random.default_rng(7)
    sparse = rng.integers(0, 2**31 - 1, size=1_000_000, endpoint=True,
                          dtype=np.int64)
    sparse[:2] = (0, 2**31 - 1)
    assert np.array_equal(bm25.quantize_dl(sparse), ref(sparse))


@given(st.integers(min_value=0, max_value=2**30))
@settings(max_examples=300, deadline=None)
def test_smallfloat_quantize_fixpoint(x):
    a = np.array([x])
    q = bm25.quantize_dl(a)
    assert np.array_equal(bm25.quantize_dl(q), q)  # quantization idempotent
    assert q[0] <= x


def test_idf_formula():
    # idf = ln(1 + (N - df + 0.5)/(df + 0.5))
    assert math.isclose(float(bm25.idf(1, 3)), math.log(1 + 2.5 / 1.5))


def test_score_known_value():
    p = bm25.BM25Params(quantize_norms=False)
    s = bm25.idf_sim(1, 3, p) * bm25.tf_norm_sim(
        np.array([2.0]), np.array([10]), 8.0, p)
    idf = math.log(1 + (3 - 1 + 0.5) / 1.5)
    tfn = 2.0 / (2.0 + 1.2 * (1 - 0.75 + 0.75 * 10 / 8.0))
    assert math.isclose(float(s[0]), 2.2 * idf * tfn, rel_tol=1e-12)


def test_similarity_dispatch_scores():
    """classic/boolean similarity formulas (SimilarityService.java)."""
    import numpy as np

    from elasticsearch_spark.search import bm25

    pc = bm25.BM25Params(quantize_norms=False, similarity="classic")
    # idf_c^2 * sqrt(tf)/sqrt(dl)
    idf = bm25.idf_sim(10, 100, pc)
    assert abs(idf - (1 + np.log(100 / 11)) ** 2) < 1e-12
    tfn = bm25.tfn_eff(np.array([4.0]), np.array([16.0]), 10.0, pc)
    assert abs(tfn[0] - 2.0 / 4.0) < 1e-12

    pb = bm25.BM25Params(quantize_norms=False, similarity="boolean")
    assert bm25.idf_sim(10, 100, pb) == 1.0
    assert bm25.tfn_eff(np.array([7.0]), np.array([3.0]), 10.0, pb)[0] == 1.0

    pd_ = bm25.BM25Params(quantize_norms=False)
    got = bm25.tfn_eff(np.array([2.0]), np.array([5.0]), 5.0, pd_)
    want = (pd_.k1 + 1) * 2.0 / (2.0 + pd_.k1 * (1 - pd_.b + pd_.b * 1.0))
    assert abs(got[0] - want) < 1e-12


def test_match_only_text_similarity():
    """match_only_text (mapper-extras MatchOnlyTextFieldMapper): tf and
    dl are ignored; tfn == 1 so score == idf per matched term."""
    import numpy as np

    from elasticsearch_spark.search import bm25

    p = bm25.BM25Params(quantize_norms=False, similarity="match_only_text")
    tf = np.array([1.0, 7.0, 100.0])
    dl = np.array([5, 500, 50000])
    assert np.allclose(bm25.tf_norm_sim(tf, dl, 100.0, p), 1.0)
    # idf stays the BM25 form
    assert bm25.idf_sim(10, 1000, p) == bm25.idf_sim(
        10, 1000, bm25.BM25Params())
