"""Posting-list codec: delta + variable-byte, numpy-vectorized.

Mirrors the *capability* of the Lucene87 postings format the reference
selects (index/codec/CodecService.java:39-45): doc ids stored as deltas
in blocks of 128 with per-block skip metadata, freqs as small varints.
This is a fresh implementation on numpy (not FOR/PackedInts): classic
VByte — 7 data bits per byte, high bit = continuation.

A block of ``n`` postings stores VByte streams: ``doc_ids`` as deltas
that restart at the block (its first value is the ABSOLUTE doc id),
``tfs`` and ``dls`` per posting, and ``positions`` as ``[tf, first,
deltas...]`` per posting (``encode_positions``; ``tf`` is the length
slot). VByte values are self-delimiting, so many blocks' buffers
concatenate into one stream, and every reader decodes a whole column
in one pass: ``decode_blocks`` (doc ids: one cumsum with a per-block
restart), ``decode_stream`` (tfs, dls) and ``decode_positions``.

All encode/decode paths are array-at-a-time numpy; no per-value Python
in the hot loop beyond a bounded (<=10) pass over byte-width classes.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # docs per block, mirroring Lucene's FOR block size


# byte-width thresholds: value v needs 1 + (#thresholds <= v) bytes
_VB_THRESHOLDS = np.array(
    [1 << (7 * k) for k in range(1, 10)], dtype=np.uint64
)


def vbyte_encode_with_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """VByte-encode an int64 array (little-endian 7-bit groups, high
    bit set on all but the terminal byte of each value; a negative
    value encodes its uint64 bits) and return (buffer, start_offsets)
    where start_offsets has len(values)+1 entries; the encoding of
    value i is buffer[start_offsets[i]:start_offsets[i+1]]. Because VByte is
    per-value, any contiguous slice of values maps to a contiguous byte
    slice — one encode pass serves every posting block of a group.

    Fast paths: all-small arrays (tf/delta streams are overwhelmingly
    single-byte) are a plain uint8 cast; the generic path computes byte
    widths with ONE searchsorted pass instead of a shift loop."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b"", np.zeros(1, dtype=np.int64)
    nbytes = 1 + np.searchsorted(_VB_THRESHOLDS, v, side="right")
    if nbytes.max() == 1:
        return v.astype(np.uint8).tobytes(), np.arange(n + 1, dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    max_w = int(nbytes.max())
    for j in range(max_w):
        mask = nbytes > j
        idx = offsets[:-1][mask] + j
        group = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1) > j
        out[idx] = group.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out.tobytes(), offsets


def vbyte_decode(buf: bytes) -> np.ndarray:
    """Decode a VByte buffer to an int64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.flatnonzero(b < 128)  # terminal byte of each value
    starts = np.concatenate(([0], ends[:-1] + 1))
    widths = ends - starts + 1
    n = ends.size
    vals = np.zeros(n, dtype=np.uint64)
    max_w = int(widths.max())
    for j in range(max_w):
        mask = widths > j
        byte = b[starts[mask] + j].astype(np.uint64)
        vals[mask] |= (byte & np.uint64(0x7F)) << np.uint64(7 * j)
    return vals.astype(np.int64)


def decode_stream(bufs) -> np.ndarray:
    """The values of many VByte buffers (a ``tfs`` or ``dls`` column),
    back to back, in one pass."""
    return vbyte_decode(b"".join(bufs))


def _run_sums(vals: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Running sums of ``vals`` restarting at every run of ``lens``
    values (all ``lens`` >= 1): one cumsum minus each run's repeated
    base. int64 wraps the same way in both terms, so a sum that
    overflows across runs still gives each run's exact value."""
    cs = np.cumsum(vals)
    starts = np.cumsum(lens) - lens
    return cs - np.repeat(cs[starts] - vals[starts], lens)


def decode_blocks(n, doc_ids) -> tuple[np.ndarray, np.ndarray]:
    """Doc ids of many blocks in one pass: ``n[i]`` (>= 1) postings in
    block i, whose buffer ``doc_ids[i]`` starts at an absolute id.
    Returns (block_offsets, ids): block i's ids are
    ``ids[block_offsets[i]:block_offsets[i + 1]]``."""
    n = np.asarray(n, dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(n)))
    raw = decode_stream(doc_ids)
    if raw.size != offsets[-1]:
        raise ValueError(
            f"doc-id stream holds {raw.size} values, blocks say {offsets[-1]}")
    return offsets, _run_sums(raw, n)


def encode_positions(pos: np.ndarray, lens: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Per-posting ``[tf, first, deltas...]`` position streams, VByte-
    encoded in ONE pass. ``pos`` holds every posting's (ascending)
    positions back to back, ``lens[i]`` of them for posting i. Returns
    (buffer, bounds): posting i's bytes are buffer[bounds[i]:bounds[i+1]]
    — the per-posting slices concatenate into exactly the block stream
    ``decode_positions`` reads."""
    n = pos.size
    n_groups = lens.size
    g_starts = np.cumsum(lens) - lens
    deltas = np.empty(n, dtype=np.int64)
    deltas[1:] = pos[1:] - pos[:-1]
    first = g_starts[lens > 0]
    deltas[first] = pos[first]
    stream = np.empty(n + n_groups, dtype=np.int64)
    tf_slots = g_starts + np.arange(n_groups)
    stream[tf_slots] = lens
    stream[np.arange(n) + np.repeat(np.arange(n_groups), lens) + 1] = deltas
    enc, offs = vbyte_encode_with_offsets(stream)
    return enc, offs[np.append(tf_slots, n + n_groups)]


def decode_positions(bufs, tf) -> tuple[np.ndarray, np.ndarray]:
    """Positions of many postings in one pass: ``bufs`` are position
    buffers whose streams hold ``tf[i]`` positions for posting i.
    Returns (flat_positions, posting_offsets): posting i's positions
    are ``flat[posting_offsets[i]:posting_offsets[i + 1]]``. Raises
    ValueError when the stream's length slots disagree with ``tf``."""
    tf = np.asarray(tf, dtype=np.int64)
    raw = decode_stream(bufs)
    slots = np.cumsum(tf + 1) - (tf + 1)
    if raw.size != slots.size + int(tf.sum()) or not np.array_equal(
            raw[slots], tf):
        raise ValueError("position stream does not match the postings' tf")
    offsets = np.concatenate(([0], np.cumsum(tf)))
    keep = np.ones(raw.size, dtype=bool)
    keep[slots] = False
    return _run_sums(raw[keep], tf[tf > 0]), offsets
