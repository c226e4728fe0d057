import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from elasticsearch_spark.index import codec


def _vbyte(a) -> bytes:
    return codec.vbyte_encode_with_offsets(np.asarray(a, dtype=np.int64))[0]


def _write_blocks(sizes, ids, tf, dl, pos):
    """Encode postings the writer's way: deltas with an absolute id at
    every block start and one VByte pass per stream, sliced per block."""
    bounds = np.concatenate(([0], np.cumsum(sizes)))
    starts = bounds[:-1]
    deltas = np.empty_like(ids)
    deltas[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=deltas[1:])
    deltas[starts] = ids[starts]

    def per_block(buf, offs):
        return [buf[offs[a]:offs[b]] for a, b in zip(bounds[:-1], bounds[1:])]

    return (per_block(*codec.vbyte_encode_with_offsets(deltas)),
            per_block(*codec.vbyte_encode_with_offsets(tf)),
            per_block(*codec.vbyte_encode_with_offsets(dl)),
            per_block(*codec.encode_positions(pos, tf)))


def _per_block_reference(sizes, doc_bufs, tf_bufs, dl_bufs, pos_bufs):
    """Decode block by block and posting by posting."""
    ids, tfs, dls, plists = [], [], [], []
    for k, db, tb, lb, pb in zip(sizes, doc_bufs, tf_bufs, dl_bufs, pos_bufs):
        ids.append(np.cumsum(codec.vbyte_decode(db)))
        tfs.append(codec.vbyte_decode(tb))
        dls.append(codec.vbyte_decode(lb))
        flat, i = codec.vbyte_decode(pb), 0
        for _ in range(k):
            ln = int(flat[i])
            plists.append(np.cumsum(flat[i + 1:i + 1 + ln]))
            i += 1 + ln
    return (np.concatenate(ids), np.concatenate(tfs), np.concatenate(dls),
            plists)


@given(sizes=st.lists(st.integers(1, codec.BLOCK_SIZE), min_size=1,
                      max_size=8),
       top=st.sampled_from([2**7, 2**21, 2**35, 2**62]),
       seed=st.integers(0, 2**32 - 1))
@example(sizes=[1, codec.BLOCK_SIZE, 1], top=2**35, seed=0)
@settings(max_examples=60, deadline=None)
def test_block_decoders_match_per_block_reference(sizes, top, seed):
    rng = np.random.default_rng(seed)
    n = sum(sizes)
    # sorted distinct doc ids, negative ones included (xxhash64 ids)
    ids = rng.integers(-top, top) + np.cumsum(
        rng.integers(1, max(2, top // n), size=n))
    tf = rng.integers(1, 5, size=n)
    dl = rng.integers(1, min(top, 2**31), size=n)
    gaps = rng.integers(1, min(top, 2**24), size=int(tf.sum()))
    plists = [np.cumsum(g) - 1 for g in np.split(gaps, np.cumsum(tf)[:-1])]
    bufs = _write_blocks(sizes, ids, tf, dl, np.concatenate(plists))
    ref_ids, ref_tf, ref_dl, ref_pos = _per_block_reference(sizes, *bufs)
    doc_bufs, tf_bufs, dl_bufs, pos_bufs = bufs

    offsets, got_ids = codec.decode_blocks(sizes, doc_bufs)
    assert np.array_equal(offsets, np.concatenate(([0], np.cumsum(sizes))))
    assert np.array_equal(got_ids, ref_ids) and np.array_equal(got_ids, ids)
    got_tf = codec.decode_stream(tf_bufs)
    assert np.array_equal(got_tf, ref_tf) and np.array_equal(got_tf, tf)
    assert np.array_equal(codec.decode_stream(dl_bufs), ref_dl)
    flat, poff = codec.decode_positions(pos_bufs, got_tf)
    assert np.array_equal(poff, np.concatenate(([0], np.cumsum(tf))))
    got_pos = np.split(flat, poff[1:-1])
    assert len(got_pos) == len(ref_pos) == n
    for a, b, c in zip(got_pos, ref_pos, plists):
        assert np.array_equal(a, b) and np.array_equal(a, c)


def test_position_stream_tf_mismatch_raises():
    buf, _ = codec.encode_positions(np.array([2, 5, 7]), np.array([2, 1]))
    with pytest.raises(ValueError):
        codec.decode_positions([buf], [1, 2])   # same total, wrong slots
    with pytest.raises(ValueError):
        codec.decode_positions([buf], [2, 2])   # stream too short
    with pytest.raises(ValueError):
        codec.decode_blocks([3], [_vbyte([4, 1])])


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(vals):
    a = np.array(vals, dtype=np.int64)
    assert np.array_equal(codec.vbyte_decode(_vbyte(a)), a)


@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(vals):
    # one block: the absolute first id, then gaps
    a = np.sort(np.unique(np.array(vals, dtype=np.int64)))
    buf = _vbyte(np.diff(a, prepend=0))
    offsets, ids = codec.decode_blocks([a.size], [buf])
    assert np.array_equal(offsets, [0, a.size])
    assert np.array_equal(ids, a)


def test_vbyte_empty():
    assert _vbyte([]) == b""
    assert codec.vbyte_decode(b"").size == 0


def test_vbyte_compactness():
    small = np.arange(128, dtype=np.int64)  # all < 128 -> 1 byte each
    assert len(_vbyte(small)) == 128


def test_positions_roundtrip():
    plists = [np.array([0, 3, 9]), np.array([], dtype=np.int64), np.array([5])]
    lens = np.array([p.size for p in plists])
    buf, bounds = codec.encode_positions(np.concatenate(plists), lens)
    per_posting = [buf[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
    flat, offsets = codec.decode_positions(per_posting, lens)
    out = np.split(flat, offsets[1:-1])
    assert len(out) == len(plists)
    for a, b in zip(plists, out):
        assert np.array_equal(a, b)
