"""Rank-identity: block-max WAND over the compressed index must reproduce
the brute-force DataFrame oracle EXACTLY — same doc_ids, bit-equal float64
scores (FIXTURES.md §4: tolerance 0, same summation order)."""

import numpy as np
import pytest

from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force
from sifter_mrc_search_engine_spark.operators.compressed_index import (
    build_compressed_index,
)
from sifter_mrc_search_engine_spark.operators.index_build import (
    corpus_stats,
    doc_lengths,
)
from sifter_mrc_search_engine_spark.operators.wand import wand_topk
from sifter_mrc_search_engine_spark.sources.pages import VOCAB, synthesize_pages

# head / mid / tail Zipf ranks + absent terms + multi-term (FIXTURES.md §4)
QUERIES = (
    [VOCAB[0], VOCAB[1], f"{VOCAB[0]} {VOCAB[1]} {VOCAB[5]}"]
    + [VOCAB[50], VOCAB[500], VOCAB[1999], "zzznotaterm"]
    + [f"{VOCAB[0]} {VOCAB[200]}", f"{VOCAB[3]} {VOCAB[30]} {VOCAB[300]} {VOCAB[1500]}"]
    + [f"{VOCAB[0]} zzznotaterm", f"{VOCAB[10]} {VOCAB[11]} {VOCAB[12]}"]
)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = (
        synthesize_pages(spark, 2000, partitions=8)
        .selectExpr("cast(split(url, '/')[4] as long) as doc_id", "text")
        .cache()
    )
    docs.count()
    # low salt threshold + tiny blocks force segmentation AND multi-block
    index = build_compressed_index(docs, salt_threshold=300, salt_fanout=4, block_size=32).collect()
    dl_rows = doc_lengths(docs).collect()
    doclen = np.zeros(2000, dtype=np.int64)
    for r in dl_rows:
        doclen[r["doc_id"]] = r["doc_len"]
    stats = corpus_stats(doc_lengths(docs)).collect()[0]
    return docs, index, doclen, int(stats["n_docs"]), float(stats["avgdl"])


def test_salting_fired(corpus):
    _, index, _, _, _ = corpus
    segs = {}
    for r in index:
        segs.setdefault(r["term"], set()).add(r["segment"])
    multi = {t: s for t, s in segs.items() if len(s) > 1}
    assert multi, "expected at least one salted (multi-segment) hot term"
    # segments of a term must cover disjoint, ordered doc ranges
    for t in multi:
        rows = sorted((r for r in index if r["term"] == t), key=lambda r: r["segment"])
        for a, b in zip(rows, rows[1:]):
            assert a["max_doc"] < b["min_doc"]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_wand_rank_identity(corpus, qi):
    docs, index, doclen, n_docs, avgdl = corpus
    q = QUERIES[qi]
    expected = [
        (r["doc_id"], r["score"]) for r in bm25_brute_force(docs, q, top_k=10).collect()
    ]
    from sifter_mrc_search_engine_spark.functions.analyzer import analyze

    for method in ("wand", "dense"):
        got = wand_topk(index, analyze(q), doclen, n_docs, avgdl, top_k=10, method=method)
        assert [d for d, _ in got] == [d for d, _ in expected], (q, method)
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gs == es, (q, method, gd, gs, es)
    # the two kernels agree bit-for-bit with each other
    w = wand_topk(index, analyze(q), doclen, n_docs, avgdl, top_k=10, method="wand")
    d = wand_topk(index, analyze(q), doclen, n_docs, avgdl, top_k=10, method="dense")
    assert w == d, q


@pytest.mark.parametrize("k", [1, 5, 10])
def test_wand_topk_sizes(corpus, k):
    docs, index, doclen, n_docs, avgdl = corpus
    from sifter_mrc_search_engine_spark.functions.analyzer import analyze

    q = f"{VOCAB[0]} {VOCAB[7]}"
    expected = [
        (r["doc_id"], r["score"]) for r in bm25_brute_force(docs, q, top_k=k).collect()
    ]
    got = wand_topk(index, analyze(q), doclen, n_docs, avgdl, top_k=k, method="wand")
    assert got == expected


def test_blockmax_pruning_equals_exhaustive(corpus):
    _, index, doclen, n_docs, avgdl = corpus
    for q in QUERIES[:6]:
        terms = q.split()
        a = wand_topk(index, terms, doclen, n_docs, avgdl, use_blockmax=True, method="wand")
        b = wand_topk(index, terms, doclen, n_docs, avgdl, use_blockmax=False, method="wand")
        assert a == b, q


def test_blockmax_skips_block_decodes():
    """Bounded-out blocks must never be DECODED: the skip walk runs on
    metadata alone. Flat tf=1 postings with an early coinciding spike
    mean term-level UBs can't prune but per-block bounds rule out every
    post-spike block."""
    from sifter_mrc_search_engine_spark.operators import bm25
    from sifter_mrc_search_engine_spark.operators import wand as wand_mod
    from sifter_mrc_search_engine_spark.operators.postings_codec import encode_postings
    from sifter_mrc_search_engine_spark.constants import BM25_B, BM25_K1

    n, bs = 20_000, 128
    ids = np.arange(n, dtype=np.int64)
    doclen = np.full(n, 100, dtype=np.int64)
    avgdl = 100.0

    def row(term):
        tfs = np.ones(n, dtype=np.int64)
        tfs[7] = 50
        idf = bm25.idf(n, n)
        tf_f = tfs.astype(np.float64)
        impacts = idf * tf_f * (BM25_K1 + 1.0) / (
            tf_f + BM25_K1 * ((1.0 - BM25_B) + BM25_B * 100.0 / avgdl)
        )
        e = encode_postings(ids, tfs, impacts, block_size=bs)
        return {
            "term": term, "segment": 0, "df": n, "n": e["n"], "block_size": bs,
            "min_doc": 0, "max_doc": n - 1, "max_impact": e["max_impact"],
            "gaps": e["gaps"], "tfs": e["tfs"], "skips": e["skips"],
            "blockmax": e["blockmax"], "blockmaxtf": e["blockmaxtf"],
        }

    index = [row("alpha"), row("beta")]
    loads = {"n": 0}
    orig = wand_mod._Cursor._load_block

    def counting(self, blk):
        loads["n"] += 1
        return orig(self, blk)

    wand_mod._Cursor._load_block = counting
    try:
        got = wand_topk(index, ["alpha", "beta"], doclen, n, avgdl, top_k=1, method="wand")
    finally:
        wand_mod._Cursor._load_block = orig
    assert [d for d, _ in got] == [7]
    assert loads["n"] <= 8, f"{loads['n']} block loads — skip walk is decoding"


def _fold_reference(per_term, top_k):
    """accumulate_topk's contract in plain Python: each doc's float sum
    starts at 0.0 and adds its weights in the given order; (score desc,
    doc_id asc)."""
    acc = {}
    for ids, weights in per_term:
        for d, w in zip(ids.tolist(), weights.tolist()):
            acc[d] = acc.get(d, 0.0) + w
    return sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]


@pytest.mark.parametrize("seed", range(4))
def test_accumulate_topk_equals_plain_fold(seed):
    """The dense fold selects its top-k among the docs at or above a
    sampled floor: ``==`` the plain fold over dense and sparse id spaces,
    tied, zero and negative weights, and k past the candidate count."""
    from sifter_mrc_search_engine_spark.operators.wand import accumulate_topk

    rng = np.random.default_rng(seed)
    for trial in range(200):
        n = int(rng.integers(1, 4000))
        span = int(rng.choice([50, 5000, 10**9]))
        ids = rng.integers(0 if trial % 3 else -span, span, n)
        if trial % 2:
            weights = rng.choice([0.5, 1.0, 2.0, 0.0, -1.0], n)
        else:
            weights = rng.random(n)
        cut = int(rng.integers(0, n + 1))
        per_term = [(ids[:cut], weights[:cut]), (ids[cut:], weights[cut:])]
        for k in (1, 2, 10, 100, 5000):
            assert accumulate_topk(per_term, k) == _fold_reference(per_term, k), (trial, k)
