"""Roundtrip + skip/block-max property tests (FIXTURES.md §5)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sifter_mrc_search_engine_spark.constants import BLOCK_SIZE
from sifter_mrc_search_engine_spark.operators.postings_codec import (
    decode_block,
    decode_blockmax,
    decode_postings,
    decode_postings_many,
    decode_skips,
    encode_postings,
    varbyte_decode,
    varbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert list(varbyte_decode(varbyte_encode(arr))) == vals


def test_varbyte_five_byte_gap():
    # gaps > 2^28 force 5-byte varbyte codes (FIXTURES.md §5)
    arr = np.array([2**28 + 7, 2**35, 1, 0], dtype=np.uint64)
    enc = varbyte_encode(arr)
    assert len(enc) == 5 + 6 + 1 + 1
    assert list(varbyte_decode(enc)) == list(arr)


def _rng_list(size, gap_kind, seed):
    rng = np.random.RandomState(seed)
    if gap_kind == "one":
        gaps = np.ones(size, dtype=np.int64)
    elif gap_kind == "huge":
        gaps = rng.randint(2**28, 2**30, size=size).astype(np.int64)
    else:
        gaps = rng.randint(1, 10_000, size=size).astype(np.int64)
    doc_ids = np.cumsum(gaps) - 1
    tfs = rng.randint(1, 300, size=size).astype(np.int64)
    return doc_ids, tfs


@pytest.mark.parametrize("size", [1, 2, BLOCK_SIZE - 1, BLOCK_SIZE, BLOCK_SIZE + 1, 10 * BLOCK_SIZE])
@pytest.mark.parametrize("gap_kind", ["one", "random", "huge"])
def test_postings_roundtrip(size, gap_kind):
    doc_ids, tfs = _rng_list(size, gap_kind, seed=size)
    impacts = tfs / (tfs + 1.2)
    enc = encode_postings(doc_ids, tfs, impacts)
    d, t = decode_postings(enc)
    assert (d == doc_ids).all()
    assert (t == tfs).all()

    sk = decode_skips(enc["skips"])
    bm = decode_blockmax(enc["blockmax"])
    n_blocks = (size + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert sk.shape[0] == bm.size == n_blocks
    for b in range(n_blocks):
        lo, hi = b * BLOCK_SIZE, min((b + 1) * BLOCK_SIZE, size)
        # skip points at block start; last_doc matches
        assert sk[b, 0] == doc_ids[hi - 1]
        bd, bt = decode_block(enc["gaps"], enc["tfs"], enc["skips"], b, size)
        assert (bd == doc_ids[lo:hi]).all()
        assert (bt == tfs[lo:hi]).all()
        # block-max bound dominates every true impact in block
        assert bm[b] >= impacts[lo:hi].max() - 0.0
    assert enc["max_impact"] == bm.max()


def test_compression_beats_raw():
    doc_ids, tfs = _rng_list(5000, "random", seed=7)
    enc = encode_postings(doc_ids, tfs)
    raw = doc_ids.nbytes + tfs.nbytes
    comp = len(enc["gaps"]) + len(enc["tfs"]) + len(enc["skips"]) + len(enc["blockmax"])
    assert comp < raw / 2


def _random_list(rng, n, kind):
    """``n`` ascending doc ids of one ``kind`` and their tfs."""
    if kind == "dense":
        ids = np.cumsum(rng.integers(1, 40, n)) - 1
    elif kind == "hashed":
        # hash-derived ids: negative, spread over all of int64
        ids = np.unique(rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64))
        while ids.size < n:
            ids = np.unique(np.append(ids, rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)))
        ids = ids[:n]
    else:
        # small gaps with up to 8 jumps of 2^59 (9-byte varbyte codes);
        # the negative absolutes take 10 bytes
        gaps = rng.integers(1, 1000, n, dtype=np.int64)
        gaps[rng.choice(n, min(n, 8), replace=False)] = 2**59
        ids = -(2**62) + np.cumsum(gaps)
    return ids.astype(np.int64), rng.integers(1, 2**20, n)


@pytest.mark.parametrize("block_size", [BLOCK_SIZE, 7])
@pytest.mark.parametrize("kind", ["dense", "hashed", "wide"])
def test_decode_many_equals_per_list_decode(block_size, kind):
    """One :func:`decode_postings_many` over lists stored back to back is
    ``==`` to :func:`decode_postings` list by list: lengths around the
    block size and of different lengths concatenated, negative
    hash-derived ids and 9-10 byte varbyte codes."""
    rng = np.random.default_rng([block_size, len(kind)])
    sizes = [1, 127, 128, 129, 1000]
    for trial in range(4):
        lists = [_random_list(rng, int(n), kind) for n in rng.permutation(sizes)[: 2 + trial]]
        encs = [encode_postings(i, t, block_size=block_size) for i, t in lists]
        ids, tfs = decode_postings_many(
            b"".join(e["gaps"] for e in encs),
            b"".join(e["tfs"] for e in encs),
            [e["n"] for e in encs],
            block_size,
        )
        one = [decode_postings(e) for e in encs]
        assert ids.dtype == tfs.dtype == np.int64
        assert np.array_equal(ids, np.concatenate([i for i, _ in one]))
        assert np.array_equal(tfs, np.concatenate([t for _, t in one]))
        assert np.array_equal(ids, np.concatenate([i for i, _ in lists]))
        if kind == "wide":
            assert len(varbyte_encode(np.array([2**59], np.uint64))) == 9
            assert any(np.diff(i).max(initial=0) == 2**59 for i, _ in lists)


def test_decode_many_per_list_block_sizes_and_empty():
    """Lists with different block sizes decode together, and no lists
    decode to empty arrays."""
    rng = np.random.default_rng(3)
    lists = [_random_list(rng, n, "dense") for n in (300, 5, 129)]
    sizes = [BLOCK_SIZE, 4, 64]
    encs = [encode_postings(i, t, block_size=b) for (i, t), b in zip(lists, sizes)]
    ids, tfs = decode_postings_many(
        b"".join(e["gaps"] for e in encs), b"".join(e["tfs"] for e in encs),
        [e["n"] for e in encs], sizes,
    )
    assert np.array_equal(ids, np.concatenate([i for i, _ in lists]))
    assert np.array_equal(tfs, np.concatenate([t for _, t in lists]))
    ids, tfs = decode_postings_many(b"", b"", [])
    assert ids.size == tfs.size == 0


@pytest.mark.parametrize("n_rows,n,space", [(40, 400, 10_000), (1, 60_000, 10**7), (3, 20_000, 10**5)])
def test_term_impacts_memory_within_decode_charge(n_rows, n, space):
    """The columnar decode's driver memory (kept arrays plus one slice's
    transients) stays under :func:`decode_charge`, whatever the batch:
    the peak tracks the slice, not the whole batch."""
    import tracemalloc

    import pyarrow as pa

    from sifter_mrc_search_engine_spark.operators.wand import decode_charge, term_impacts

    rng = np.random.default_rng(n_rows)
    rows = []
    for i in range(n_rows):
        ids = np.sort(rng.choice(space, n, replace=False))
        e = encode_postings(ids, rng.integers(1, 50, n))
        rows.append({"term": f"t{i:03d}", "df": n, "n": n, "block_size": BLOCK_SIZE,
                     "gaps": e["gaps"], "tfs": e["tfs"]})
    table = pa.Table.from_pylist(rows)
    doclen = np.full(space, 10, np.int64)
    tracemalloc.start()
    try:
        store = term_impacts(table, doclen, space, 10.0)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert sum(i.size for pieces in store.values() for i, _ in pieces) == n_rows * n
    assert peak <= decode_charge([n] * n_rows)
