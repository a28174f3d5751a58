"""Posting-list physical format: delta + varbyte, skip pointers, block-max.

The reference delegates index storage to its external engine
(reference: modules/mrc_service/search_functions.py:91); this codec is the
native physical format, designed per the classic inverted-index literature
(delta-gap + variable-byte compression, per-block skip pointers, block-max
impact bounds for WAND pruning).

Layout per (term, segment):
  gaps     binary  varbyte stream: doc_ids[0]+1, then deltas (d[i]-d[i-1])
  tfs      binary  varbyte stream of term frequencies (>=1)
  skips    binary  int64 array triplets per block:
                   (last_doc_id, gaps_byte_offset, tfs_byte_offset)
  blockmax binary  float64 array: max BM25 impact per block
  blockmaxtf binary int64 array: max raw tf per block — weight-FREE, so
                   field-weighted scorers (BM25F) can derive valid
                   per-block upper bounds for ANY query-time weights,
                   which the impact-based blockmax (computed under fixed
                   per-field stats) cannot provide

All encode/decode is vectorized numpy (no per-int Python loops); this is
the Python that earns its UDF slot. BLOCK_SIZE postings per block
(constants.py).
"""

from __future__ import annotations

from typing import Tuple

import numpy as np

from ..constants import BLOCK_SIZE

_SHIFTS = np.array([0, 7, 14, 21, 28, 35, 42, 49, 56, 63], dtype=np.uint64)


def _varbyte_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized varbyte returning (buffer, per-value byte lengths)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    for s in range(1, 10):
        nbits[v >= (np.uint64(1) << np.uint64(7 * s))] = s
    nbytes = nbits + 1
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(offsets[-1], dtype=np.uint8)
    for g in range(10):
        mask = nbytes > g
        if not mask.any():
            break
        idx = offsets[:-1][mask] + g
        chunk = ((v[mask] >> np.uint64(7 * g)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > g + 1).astype(np.uint8) << 7
        out[idx] = chunk | cont
    return out.tobytes(), nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte (7-bit groups, little-endian, MSB=continuation)."""
    return _varbyte_encode_with_lengths(values)[0]


def varbyte_decode(
    buf, offset: int = 0, count: int | None = None, end: int | None = None
) -> np.ndarray:
    """Decode ``count`` values (or all) starting at byte ``offset`` of
    the bytes-like ``buf``.

    ``end`` bounds the byte scan: without it the continuation-bit pass
    runs over the entire remaining buffer, making every block load
    O(list bytes) instead of O(block) — callers with skip pointers pass
    the next block's byte offset.
    """
    raw = np.frombuffer(buf, dtype=np.uint8)[offset:end]
    ends = np.flatnonzero(raw < 0x80)
    if count is not None:
        ends = ends[:count]
    if ends.size == 0:
        return np.zeros(0, dtype=np.uint64)
    raw = raw[: ends[-1] + 1]
    if ends.size == raw.size:  # every value is one byte
        return raw.astype(np.uint64)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vals = (raw[starts] & 0x7F).astype(np.uint64)
    # OR in the j-th byte of the values that have one: a pass per byte
    # position (at most 10), over the multi-byte values only
    multi = np.flatnonzero(ends > starts)
    for j in range(1, 10):
        at = starts[multi] + j
        vals[multi] |= (raw[at] & 0x7F).astype(np.uint64) << _SHIFTS[j]
        multi = multi[ends[multi] > at]
        if multi.size == 0:
            break
    return vals


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    impacts: np.ndarray | None = None,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Encode one sorted posting list -> physical columns.

    ``impacts`` (float64 per posting, the exact BM25 term score) feeds the
    block-max metadata; pass None to store zero bounds (scoring then cannot
    prune but remains correct).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    assert doc_ids.size == tfs.size and doc_ids.size > 0
    assert (np.diff(doc_ids) > 0).all(), "doc_ids must be strictly increasing"

    n = doc_ids.size
    n_blocks = (n + block_size - 1) // block_size
    starts = np.arange(0, n, block_size)
    ends = np.minimum(starts + block_size, n)

    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    gaps[1:] = np.diff(doc_ids).astype(np.uint64)
    # each block restarts with an absolute doc_id so skips can jump in;
    # two's-complement view lets negative (hash-derived) ids wrap on
    # encode and wrap back on the int64 cast at decode (+1 so 0 encodes)
    gaps[starts] = (doc_ids[starts] + 1).astype(np.uint64)

    # single vectorized varbyte pass over the whole list; per-block byte
    # offsets come from the cumulative per-value byte lengths
    g_buf, g_lens = _varbyte_encode_with_lengths(gaps)
    t_buf, t_lens = _varbyte_encode_with_lengths(tfs.astype(np.uint64))
    g_cum = np.concatenate(([0], np.cumsum(g_lens)))
    t_cum = np.concatenate(([0], np.cumsum(t_lens)))

    skips = np.empty((n_blocks, 3), dtype=np.int64)
    skips[:, 0] = doc_ids[ends - 1]
    skips[:, 1] = g_cum[starts]
    skips[:, 2] = t_cum[starts]

    if impacts is not None:
        bm = np.maximum.reduceat(np.asarray(impacts, dtype=np.float64), starts)
    else:
        bm = np.zeros(n_blocks, dtype=np.float64)
    bmtf = np.maximum.reduceat(tfs, starts)

    return {
        "n": n,
        "block_size": block_size,
        "gaps": g_buf,
        "tfs": t_buf,
        "skips": skips.tobytes(),
        "blockmax": bm.tobytes(),
        "blockmaxtf": bmtf.astype(np.int64).tobytes(),
        "max_impact": float(bm.max()) if impacts is not None else 0.0,
    }


def decode_skips(skips: bytes) -> np.ndarray:
    return np.frombuffer(skips, dtype=np.int64).reshape(-1, 3)


def decode_blockmax(blockmax: bytes) -> np.ndarray:
    return np.frombuffer(blockmax, dtype=np.float64)


def decode_blockmaxtf(blockmaxtf: bytes) -> np.ndarray:
    return np.frombuffer(blockmaxtf, dtype=np.int64)


def decode_postings_many(
    gaps, tfs, n, block_size=BLOCK_SIZE
) -> Tuple[np.ndarray, np.ndarray]:
    """Full decode of posting lists stored back to back -> their
    concatenated ``(doc_ids int64, tfs int64)``.

    ``gaps``/``tfs`` are the lists' varbyte streams concatenated (bytes-
    like: a list's streams end on a value boundary, so one varbyte pass
    decodes them all), ``n`` the postings per list and ``block_size`` one
    size or one per list. Loop-free: a list restarts at an absolute id at
    every block, so doc ids are one segmented prefix sum over all gaps
    (int64 wraps alike in every step, so negative and hash-derived ids
    come back exact)."""
    n = np.asarray(n, dtype=np.int64).reshape(-1)
    bs = np.broadcast_to(np.asarray(block_size, dtype=np.int64), n.shape)
    g = varbyte_decode(gaps).astype(np.int64)
    t = varbyte_decode(tfs).astype(np.int64)
    total = int(n.sum())
    assert g.size == total and t.size == total
    if not total:
        return g, t
    # the first posting of every block: its list's start plus whole blocks
    nb = -(-n // bs)
    lst = np.repeat(np.arange(n.size), nb)
    block_in_list = np.arange(lst.size) - (np.cumsum(nb) - nb)[lst]
    starts = (np.cumsum(n) - n)[lst] + block_in_list * bs[lst]
    g[starts] -= 1  # remove the +1 bias on absolutes
    # a block's sum is its last id; rebasing each absolute on the block
    # before turns the within-block sums into one prefix sum
    last = np.add.reduceat(g, starts)
    g[starts[1:]] -= last[:-1]
    return np.cumsum(g), t


def decode_postings(
    enc: dict | None = None,
    *,
    gaps: bytes | None = None,
    tfs: bytes | None = None,
    n: int | None = None,
    skips: bytes | None = None,
    block_size: int = BLOCK_SIZE,
) -> Tuple[np.ndarray, np.ndarray]:
    """Full decode of one list -> (doc_ids int64, tfs int64): the
    one-list case of :func:`decode_postings_many` (``skips`` is not
    needed for a full decode)."""
    if enc is not None:
        gaps, tfs, n = enc["gaps"], enc["tfs"], enc["n"]
        block_size = enc.get("block_size", block_size)
    return decode_postings_many(gaps, tfs, [n], block_size)


def decode_block(
    gaps: bytes,
    tfs: bytes,
    skips: bytes,
    block: int,
    n: int,
    block_size: int = BLOCK_SIZE,
) -> Tuple[np.ndarray, np.ndarray]:
    """Random-access decode of one block via its skip pointer; the next
    block's offsets bound the byte scan to O(block)."""
    sk = decode_skips(skips)
    n_blocks = sk.shape[0]
    lo = block * block_size
    cnt = min(block_size, n - lo)
    g_end = int(sk[block + 1, 1]) if block + 1 < n_blocks else None
    t_end = int(sk[block + 1, 2]) if block + 1 < n_blocks else None
    g = varbyte_decode(gaps, offset=int(sk[block, 1]), count=cnt, end=g_end).astype(np.int64)
    t = varbyte_decode(tfs, offset=int(sk[block, 2]), count=cnt, end=t_end).astype(np.int64)
    g[0] -= 1
    return np.cumsum(g), t
