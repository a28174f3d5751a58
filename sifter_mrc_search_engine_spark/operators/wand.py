"""Block-max WAND top-k over the compressed index.

Query lifecycle (SURVEY.md §3.1 Spark mapping): analyze question ->
partition-pruned index scan (bucket IN query buckets AND term IN terms) ->
WAND kernel -> top-k (score desc, doc_id asc), exactly reproducing the
brute-force oracle's scores (same float64 expression shapes, same
ascending-term summation order — operators/bm25.py pins both).

The kernel is document-at-a-time WAND with block-max refinement:
  * term cursors ordered by current doc_id
  * pivot = first cursor where the prefix sum of GLOBAL max impacts
    reaches the top-k threshold θ; docs below the pivot doc cannot beat θ
  * at the pivot, the tighter per-BLOCK max sum is checked; if it still
    can't beat θ the kernel jumps past the smallest current block boundary
    (skip pointers give direct block access, skipped blocks are never
    decoded) without scoring
  * pruning uses strict < so score ties are never dropped (tie-break is
    doc_id asc, matching the reference's stable sort, server.py:94)

Salted segments (disjoint doc-id ranges per term) are separate cursors of
the same term; a doc appears in exactly one segment so scoring is unchanged.

Distribution: one query's postings are a handful of rows — the kernel runs
driver-side per query (the reference serves queries from one process too,
server.py:198-236). Below the dense limits, a query and a query BATCH
(plans/query.py ``search_many``) score from one pruned read as an Arrow
table: :func:`term_impacts` decodes it in a few vectorized slices, and
:func:`accumulate_topk` folds each distinct term set. The cluster-side
batch plan is ``search_many_relational``, whose fold is Catalyst's.
"""

from __future__ import annotations

import heapq
from typing import Dict, List, Sequence, Tuple

import numpy as np

from ..constants import BLOCK_SIZE, BM25_B, BM25_K1, DEFAULT_TOP_K
from . import bm25
from .postings_codec import (  # noqa: F401  (decode_postings: traced by perfbench)
    decode_blockmax,
    decode_postings,
    decode_postings_many,
    decode_skips,
    varbyte_decode,
)

#: the postings columns the BM25 kernels here read (:class:`_Cursor`,
#: :func:`term_impacts`, :func:`wand_topk`): serving scans select only
#: these, so a positional index's ``poss`` is never read for them
KERNEL_COLUMNS = (
    "term", "df", "n", "block_size", "max_doc", "max_impact",
    "gaps", "tfs", "skips", "blockmax",
)
#: the subset :func:`term_impacts` reads: the dense kernel's fetch
DENSE_COLUMNS = ("term", "df", "n", "block_size", "gaps", "tfs")


class _Cursor:
    """Lazy block-decoding cursor over one encoded posting segment."""

    __slots__ = (
        "term", "idf", "max_impact", "gaps", "tfs", "skips", "blockmax",
        "blockmaxtf",
        "n", "block", "n_blocks", "block_size", "ids", "tf", "i", "exhausted",
    )

    def __init__(self, row, idf: float):
        self.term = row["term"]
        self.idf = idf
        self.max_impact = float(row["max_impact"])
        self.gaps = bytes(row["gaps"])
        self.tfs = bytes(row["tfs"])
        self.skips = decode_skips(bytes(row["skips"]))
        self.blockmax = decode_blockmax(bytes(row["blockmax"]))
        # weight-free per-block max tf (BM25F block pruning); absent on
        # indexes encoded before the column existed -> None disables it
        try:
            bmtf = row["blockmaxtf"]
        except (KeyError, ValueError, IndexError):
            bmtf = None
        from .postings_codec import decode_blockmaxtf

        self.blockmaxtf = decode_blockmaxtf(bytes(bmtf)) if bmtf is not None else None
        self.n = int(row["n"])
        try:
            self.block_size = int(row["block_size"])
        except (KeyError, IndexError, ValueError):
            self.block_size = BLOCK_SIZE
        self.n_blocks = self.skips.shape[0]
        self.exhausted = False
        self._load_block(0)

    def _load_block(self, b: int) -> None:
        if b >= self.n_blocks:
            self.exhausted = True
            return
        lo = b * self.block_size
        cnt = min(self.block_size, self.n - lo)
        # bound the byte scan with the NEXT block's offset: without it
        # every load is O(remaining list bytes), erasing the skip benefit
        g_end = int(self.skips[b + 1, 1]) if b + 1 < self.n_blocks else None
        t_end = int(self.skips[b + 1, 2]) if b + 1 < self.n_blocks else None
        g = varbyte_decode(self.gaps, offset=int(self.skips[b, 1]), count=cnt, end=g_end).astype(np.int64)
        t = varbyte_decode(self.tfs, offset=int(self.skips[b, 2]), count=cnt, end=t_end).astype(np.int64)
        g[0] -= 1
        self.ids = np.cumsum(g)
        self.tf = t
        self.block = b
        self.i = 0

    @property
    def doc(self) -> int:
        return int(self.ids[self.i])

    @property
    def cur_tf(self) -> int:
        return int(self.tf[self.i])

    def block_max_at(self, target: int) -> Tuple[float, int]:
        """(block-max impact, block last doc) of the block containing the
        first doc >= target — reads only skip/blockmax metadata."""
        b = self.block
        if self.skips[b, 0] < target:
            b = int(np.searchsorted(self.skips[:, 0], target, side="left"))
            if b >= self.n_blocks:
                return 0.0, 2**62
        return float(self.blockmax[b]), int(self.skips[b, 0])

    def block_maxtf_at(self, target: int) -> Tuple[int, int]:
        """(block-max tf, block last doc) of the block containing the
        first doc >= target — the weight-free twin of :meth:`block_max_at`
        for field-weighted scorers. Requires ``blockmaxtf`` metadata."""
        b = self.block
        if self.skips[b, 0] < target:
            b = int(np.searchsorted(self.skips[:, 0], target, side="left"))
            if b >= self.n_blocks:
                return 0, 2**62
        return int(self.blockmaxtf[b]), int(self.skips[b, 0])

    def next_doc(self) -> None:
        self.i += 1
        if self.i >= self.ids.size:
            self._load_block(self.block + 1)

    def seek(self, target: int) -> None:
        """Advance to first doc >= target; skipped blocks are not decoded."""
        while not self.exhausted:
            if self.skips[self.block, 0] < target:
                b = int(np.searchsorted(self.skips[:, 0], target, side="left"))
                if b >= self.n_blocks:
                    self.exhausted = True
                    return
                self._load_block(b)
            j = int(np.searchsorted(self.ids, target, side="left"))
            if j < self.ids.size:
                self.i = j
                return
            self._load_block(self.block + 1)


def _score_doc(cursors: List[_Cursor], doc: int, dl: float, avgdl: float,
               k1: float, b: float) -> float:
    """Sum matching-term contributions in ASCENDING TERM order (float64
    order pinned to the oracle's array_sort fold, bm25.py)."""
    parts: List[Tuple[str, float]] = []
    for c in cursors:
        if not c.exhausted and c.doc == doc:
            parts.append((c.term, bm25.impacts(c.idf, float(c.cur_tf), dl, avgdl, k1, b)))
    score = 0.0
    for _, v in sorted(parts, key=lambda p: p[0]):
        score += v
    return score


#: auto-mode ceiling for the dense scorer: total decoded postings
DENSE_POSTINGS_LIMIT = 20_000_000
#: and for the dense accumulator width (max doc_id)
DENSE_DOCSPACE_LIMIT = 64_000_000


def dense_fits(total_n: int, max_doc: int) -> bool:
    """Whether postings this many and this wide take the dense kernel
    (:func:`term_impacts` plus :func:`accumulate_topk`) in auto mode."""
    return total_n <= DENSE_POSTINGS_LIMIT and max_doc <= DENSE_DOCSPACE_LIMIT


def packed_ids(lo: int, hi: int, count: int) -> bool:
    """True when ``count`` doc ids spanning ``[lo, hi]`` suit an array
    indexed by doc id: nonnegative, and under 1M or at most 8x wider
    than their count."""
    return lo >= 0 and hi < max(8 * count, 1_000_000)


def doc_lens(doclen, ids: np.ndarray) -> np.ndarray:
    """float64 lengths of ``ids`` from the driver norms (a dense array
    indexed by doc id, or a dict for sparse id spaces)."""
    if isinstance(doclen, np.ndarray):
        return doclen[ids].astype(np.float64)
    return np.fromiter((doclen[int(i)] for i in ids), dtype=np.float64, count=ids.size)


#: postings :func:`term_impacts` decodes per slice (a longer row is a
#: slice of its own): the decode's transients scale with the slice, not
#: with the batch. 16k-posting slices raised a preloaded 10k-doc
#: searcher's peak RSS by 1.7 MB; smaller ones cost more Python per batch
DECODE_SLICE_POSTINGS = 1 << 13
#: driver bytes a decoded posting keeps: its doc id and impact
DECODED_BYTES = 16
#: driver bytes per posting of a slice's transients (the varbyte pass,
#: tfs, doc lengths, the impact expression's temporaries): 40-50 under
#: ``tracemalloc`` (tests/test_postings_codec.py)
DECODE_TRANSIENT_BYTES = 64


def decode_charge(n: np.ndarray) -> int:
    """The driver bytes :func:`term_impacts` may hold decoding rows of
    ``n`` postings: the decoded arrays, plus the transients of its
    largest slice."""
    n = np.asarray(n, dtype=np.int64)
    if not n.size:
        return 0
    total = int(n.sum())
    return DECODED_BYTES * total + DECODE_TRANSIENT_BYTES * min(
        total, max(DECODE_SLICE_POSTINGS, int(n.max()))
    )


def _blobs(arr) -> tuple[np.ndarray, np.ndarray]:
    """(bytes, row offsets) of an Arrow binary array, without a copy: the
    rows' values back to back as Arrow stores them, row ``i`` at
    ``bytes[offsets[i]:offsets[i + 1]]``."""
    import pyarrow as pa

    _, offsets, data = arr.buffers()
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(offsets, dtype=width)[arr.offset : arr.offset + len(arr) + 1]
    raw = np.zeros(0, np.uint8) if data is None else np.frombuffer(data, dtype=np.uint8)
    return raw, off.astype(np.int64)


def term_impacts(table, doclen, n_docs: int, avgdl: float,
                 k1: float = BM25_K1, b: float = BM25_B) -> Dict[str, list]:
    """term -> its postings as ``(doc_ids int64, impacts float64)``
    pieces, one per row in row order, for the postings ``table`` (Arrow,
    columns ``term``, ``df``, ``n``, ``block_size``, ``gaps``, ``tfs``):
    each posting's BM25 contribution from :func:`bm25.idf` of its row's
    df and :func:`bm25.impacts` — the values WAND's ``_score_doc``
    computes, ``==`` to the oracle's ``bm25_contrib_expr``. A doc is in
    one row of a term, so folding a term's pieces folds its list.

    Each record batch's rows decode in slices of about
    :data:`DECODE_SLICE_POSTINGS` postings, each with ONE
    :func:`decode_postings_many` over the slice's concatenated ``gaps``
    and ``tfs`` bytes (read in place) and one vectorized impact
    expression; :func:`decode_charge` bounds the driver memory."""
    out: Dict[str, list] = {}
    idf_of: Dict[int, float] = {}
    for batch in table.to_batches():
        terms = batch["term"].to_pylist()
        df = batch["df"].to_numpy().tolist()
        idf_of.update((d, bm25.idf(d, n_docs)) for d in set(df) - idf_of.keys())
        idf = np.array([idf_of[d] for d in df])
        n = batch["n"].to_numpy().astype(np.int64)
        bs = batch["block_size"].to_numpy().astype(np.int64)
        gaps, g_off = _blobs(batch["gaps"])
        tfs, t_off = _blobs(batch["tfs"])
        row_end = np.cumsum(n)
        lo = 0
        while lo < n.size:
            base = row_end[lo] - n[lo]
            hi = max(lo + 1, int(np.searchsorted(row_end, base + DECODE_SLICE_POSTINGS, "right")))
            ids, tf = decode_postings_many(
                gaps[g_off[lo] : g_off[hi]], tfs[t_off[lo] : t_off[hi]], n[lo:hi], bs[lo:hi]
            )
            imp = bm25.impacts(
                np.repeat(idf[lo:hi], n[lo:hi]), tf.astype(np.float64), doc_lens(doclen, ids),
                avgdl, k1, b,
            )
            cuts = row_end[lo : hi - 1] - base
            for t, i, w in zip(terms[lo:hi], np.split(ids, cuts), np.split(imp, cuts)):
                out.setdefault(t, []).append((i, w))
            lo = hi
    return out


def accumulate_topk(per_term: Sequence[Tuple[np.ndarray, np.ndarray]],
                    top_k: int) -> List[Tuple[int, float]]:
    """Exact top-k from per-term ``(doc_ids, impacts)`` pairs given in
    ASCENDING TERM order: ``np.bincount(weights=...)`` over the
    term-ordered concatenation starts each doc's float64 sum at 0.0 and
    adds its impacts in that order, the summation order of the oracle
    and of WAND; numpy top-k with doc_id tie-break.

    Packed ids (:func:`packed_ids`) are counted straight into an array
    indexed by doc id; negative or sparse ids are first mapped to dense
    ranks with ``np.unique``."""
    if top_k < 1 or not per_term:
        return []
    ids = np.concatenate([i for i, _ in per_term])
    if ids.size == 0:
        return []
    imp = np.concatenate([w for _, w in per_term])
    hi = int(ids.max())
    if packed_ids(int(ids.min()), hi, ids.size):
        seen = np.zeros(hi + 1, dtype=bool)
        seen[ids] = True
        cand = np.flatnonzero(seen)
        scores = np.bincount(ids, weights=imp, minlength=hi + 1)[cand]
    else:
        cand, inv = np.unique(ids, return_inverse=True)
        scores = np.bincount(inv, weights=imp, minlength=cand.size)
    k = min(top_k, cand.size)
    # keep every row tied with the k-th-best score so the doc_id
    # tie-break sees all tied candidates, then lexsort the small set
    kth_score = np.partition(scores, cand.size - k)[cand.size - k]
    mask = scores >= kth_score
    cand_ids, cand_scores = cand[mask], scores[mask]
    order = np.lexsort((cand_ids, -cand_scores))[:k]
    return [(int(cand_ids[i]), float(cand_scores[i])) for i in order]


def wand_topk(
    index_rows: Sequence[dict],
    query_terms: Sequence[str],
    doclen,
    n_docs: int,
    avgdl: float,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    use_blockmax: bool = True,
    method: str = "auto",
) -> List[Tuple[int, float]]:
    """Top-k (doc_id, score) for one query over encoded index rows.

    ``index_rows``: the (term, segment) rows matching the query's terms
    (dict-like with INDEX_SCHEMA fields). ``doclen``: doc_id -> doc length
    (dict or dense numpy array indexed by doc_id).

    ``method``: 'wand' (pruning kernel, decodes only needed blocks),
    'dense' (vectorized full-decode scorer), or 'auto' — dense when the
    candidate volume fits the dense limits (in-memory serving sweet spot),
    WAND otherwise. Both produce IDENTICAL results (same float64 order).
    """
    qset = set(query_terms)
    rows = [r for r in index_rows if r["term"] in qset]
    if not rows:
        return []

    if method not in ("auto", "wand", "dense"):
        raise ValueError(f"unknown method {method!r}")
    if method != "wand":
        total_n = sum(int(r["n"]) for r in rows)
        max_doc = max(int(r["max_doc"]) for r in rows)
        if method == "dense" or dense_fits(total_n, max_doc):
            import pyarrow as pa

            table = pa.table({c: [r[c] for r in rows] for c in DENSE_COLUMNS})
            store = term_impacts(table, doclen, n_docs, avgdl, k1, b)
            return accumulate_topk([p for t in sorted(store) for p in store[t]], top_k)

    cursors = [_Cursor(r, bm25.idf(int(r["df"]), n_docs)) for r in rows]

    heap: List[Tuple[float, int]] = []  # (score, -doc_id) min-heap, size k

    def threshold() -> float:
        return heap[0][0] if len(heap) >= top_k else -1.0

    def offer(doc: int, score: float) -> None:
        item = (score, -doc)
        if len(heap) < top_k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)

    live = [c for c in cursors if not c.exhausted]
    while live:
        live.sort(key=lambda c: c.doc)
        theta = threshold()
        acc = 0.0
        pivot = -1
        for i, c in enumerate(live):
            acc += c.max_impact
            if theta < 0.0 or acc >= theta:
                pivot = i
                break
        if pivot < 0:
            break  # sum of ALL upper bounds can't reach θ — done
        pivot_doc = live[pivot].doc

        if live[0].doc == pivot_doc:
            # prefix = every cursor at or before the pivot doc, INCLUDING
            # cursors tied at pivot_doc beyond the pivot index — their
            # contribution is part of pivot_doc's true score, so the
            # block-max bound must count them or the jump may skip a hit
            end = pivot + 1
            while end < len(live) and live[end].doc == pivot_doc:
                end += 1
            prefix = live[:end]
            if use_blockmax and theta >= 0.0:
                # advance over bounded-out blocks on METADATA ALONE (skip
                # pointers + blockmax lookups); only the final landing
                # block is decoded — consecutive cold blocks cost zero
                # decodes, not one decode per block boundary
                target = pivot_doc
                while True:
                    infos = [c.block_max_at(target) for c in prefix]
                    if sum(bm for bm, _ in infos) >= theta:
                        break
                    nt = min(last for _, last in infos) + 1
                    if end < len(live):
                        # past the next cursor's doc the prefix changes —
                        # stop and let the outer loop re-pivot
                        nt = min(nt, live[end].doc)
                    if nt <= target:
                        break
                    target = nt
                if target > pivot_doc:
                    for c in prefix:
                        c.seek(target)
                    live = [c for c in live if not c.exhausted]
                    continue
            dl = float(doclen[pivot_doc])
            offer(pivot_doc, _score_doc(live, pivot_doc, dl, avgdl, k1, b))
            for c in live:
                if not c.exhausted and c.doc == pivot_doc:
                    c.next_doc()
            live = [c for c in live if not c.exhausted]
        else:
            for c in live[:pivot]:
                c.seek(pivot_doc)
            live = [c for c in live if not c.exhausted]

    out = sorted(heap, key=lambda it: (-it[0], -it[1]))
    return [(-nd, s) for s, nd in out]
