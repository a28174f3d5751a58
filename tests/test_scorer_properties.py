"""Property-based scorer equivalence: WAND (blockmax on/off), the dense
kernel, and a naive reference scorer must agree on random corpora —
including adversarial tie patterns (FIXTURES.md §4: ties in score)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from sifter_mrc_search_engine_spark.constants import BM25_B, BM25_K1
from sifter_mrc_search_engine_spark.operators import bm25
from sifter_mrc_search_engine_spark.operators.postings_codec import encode_postings
from sifter_mrc_search_engine_spark.operators.wand import wand_topk


def _naive(rows_by_term, doclen, n_docs, avgdl, terms, k):
    """Independent reference: python dict accumulation, ascending-term
    sum; only the log is shared (bm25.idf, Spark's)."""
    acc = {}
    for term in sorted(set(terms) & set(rows_by_term)):
        ids, tfs, df = rows_by_term[term]
        idf = bm25.idf(df, n_docs)
        for d, tf in zip(ids, tfs):
            tf = float(tf)
            dl = float(doclen[d])
            c = idf * tf * (BM25_K1 + 1.0) / (
                tf + BM25_K1 * ((1.0 - BM25_B) + (BM25_B * dl) / avgdl)
            )
            acc[d] = acc.get(d, 0.0) + c
    ranked = sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:k]
    return [(d, s) for d, s in ranked]


@st.composite
def corpus(draw):
    n_docs = draw(st.integers(20, 120))
    n_terms = draw(st.integers(1, 5))
    doclen = np.array(
        draw(
            st.lists(st.integers(1, 50), min_size=n_docs, max_size=n_docs)
        ),
        dtype=np.int64,
    )
    rows_by_term = {}
    for t in range(n_terms):
        size = draw(st.integers(1, n_docs))
        ids = np.sort(
            np.random.RandomState(draw(st.integers(0, 10_000))).choice(
                n_docs, size=size, replace=False
            )
        ).astype(np.int64)
        tfs = np.array(
            draw(st.lists(st.integers(1, 9), min_size=size, max_size=size)),
            dtype=np.int64,
        )
        rows_by_term[f"t{t}"] = (ids, tfs, size)
    return n_docs, doclen, rows_by_term


@given(corpus(), st.integers(1, 10), st.integers(0, 4))
@settings(max_examples=60, deadline=None)
def test_all_kernels_agree(c, k, block_pow):
    n_docs, doclen, rows_by_term = c
    block_size = 2**block_pow  # 1..16: forces many blocks
    avgdl = float(doclen.mean())
    terms = list(rows_by_term)

    # exact impacts for valid block-max bounds
    rows = []
    for term, (ids, tfs, df) in rows_by_term.items():
        idf = bm25.idf(df, n_docs)
        tf_f = tfs.astype(np.float64)
        dls = doclen[ids].astype(np.float64)
        impacts = idf * tf_f * (BM25_K1 + 1.0) / (
            tf_f + BM25_K1 * ((1.0 - BM25_B) + (BM25_B * dls) / avgdl)
        )
        e = encode_postings(ids, tfs, impacts, block_size)
        rows.append(
            {
                "term": term, "df": df, "n": e["n"], "block_size": block_size,
                "min_doc": int(ids[0]), "max_doc": int(ids[-1]),
                "max_impact": e["max_impact"], "gaps": e["gaps"],
                "tfs": e["tfs"], "skips": e["skips"], "blockmax": e["blockmax"],
            }
        )

    expected = _naive(rows_by_term, doclen, n_docs, avgdl, terms, k)
    for kwargs in (
        {"method": "wand", "use_blockmax": True},
        {"method": "wand", "use_blockmax": False},
        {"method": "dense"},
    ):
        got = wand_topk(rows, terms, doclen, n_docs, avgdl, top_k=k, **kwargs)
        assert got == expected, kwargs


def test_tie_breaking_exhaustive():
    """Uniform tf/doclen -> every matching doc ties; top-k must be the k
    smallest doc_ids."""
    ids = np.arange(0, 50, dtype=np.int64) * 3  # sparse ids
    tfs = np.ones(50, dtype=np.int64)
    doclen = np.full(200, 10, dtype=np.int64)
    avgdl = 10.0
    idf = bm25.idf(50, 200)
    impacts = np.full(50, idf * 1 * 2.2 / (1 + 1.2))
    e = encode_postings(ids, tfs, impacts, 8)
    row = {
        "term": "t", "df": 50, "n": 50, "block_size": 8,
        "min_doc": 0, "max_doc": int(ids[-1]), "max_impact": e["max_impact"],
        "gaps": e["gaps"], "tfs": e["tfs"], "skips": e["skips"],
        "blockmax": e["blockmax"],
    }
    for kwargs in (
        {"method": "wand", "use_blockmax": True},
        {"method": "wand", "use_blockmax": False},
        {"method": "dense"},
    ):
        got = wand_topk([row], ["t"], doclen, 200, avgdl, top_k=7, **kwargs)
        assert [d for d, _ in got] == list(ids[:7]), kwargs
