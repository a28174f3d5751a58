"""Adversarial skew: a stopword present in EVERY document (df = 100%)
must salt into segments, keep exact df, and stay rank-identical."""

import pytest
from pyspark.sql import functions as F  # noqa: F401

from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force
from sifter_mrc_search_engine_spark.operators.compressed_index import (
    build_compressed_index,
)
from sifter_mrc_search_engine_spark.operators.index_build import (
    corpus_stats,
    doc_lengths,
)
from sifter_mrc_search_engine_spark.operators.wand import wand_topk

N = 8_000


@pytest.fixture(scope="module")
def stopword_corpus(spark):
    docs = spark.range(N).selectExpr(
        "id as doc_id",
        "concat('the the common word tail', cast(pmod(id, 199) as string),"
        " ' extra', cast(pmod(id, 17) as string)) as text",
    ).cache()
    docs.count()
    return docs


def test_universal_term_salts_and_stays_exact(spark, stopword_corpus):
    docs = stopword_corpus
    idx = build_compressed_index(docs, salt_threshold=1_000, salt_fanout=8).collect()
    the_rows = [r for r in idx if r["term"] == "the"]
    assert len(the_rows) >= 2, "100%-df term must split into segments"
    assert all(r["df"] == N for r in the_rows), "df must be exact across segments"
    # segments disjoint + ordered
    rows = sorted(the_rows, key=lambda r: r["segment"])
    for a, b in zip(rows, rows[1:]):
        assert a["max_doc"] < b["min_doc"]

    dl = {r["doc_id"]: r["doc_len"] for r in doc_lengths(docs).collect()}
    st = corpus_stats(doc_lengths(docs)).collect()[0]
    for q in ("the tail5", "the", "common extra3 tail100"):
        exp = [
            (r["doc_id"], r["score"])
            for r in bm25_brute_force(docs, q, top_k=10).collect()
        ]
        for m in ("wand", "dense"):
            got = wand_topk(
                idx, q.split(), dl, int(st["n_docs"]), float(st["avgdl"]),
                top_k=10, method=m,
            )
            assert [d for d, _ in got] == [d for d, _ in exp], (q, m)
            for (gd, gs), (_, es) in zip(got, exp):
                assert gs == es


def test_distributed_batch_paths_on_salted_index(spark, stopword_corpus, tmp_path):
    """The decoded-scan batch paths (search_many / search_many_relational)
    must merge a term's salted segments correctly: each decoded row
    carries the exact total df, doc ranges are disjoint, and results stay
    rank-identical to brute force."""
    from sifter_mrc_search_engine_spark.plans.checkpoint import build_index_resumable
    from sifter_mrc_search_engine_spark.plans.query import IndexSearcher

    docs = stopword_corpus
    idx_dir = str(tmp_path / "salted_idx")
    build_index_resumable(
        docs, idx_dir, buckets=8, salt_threshold=1_000, salt_fanout=8
    )
    searcher = IndexSearcher(spark, idx_dir)
    # sanity: the universal term really is salted in the stored index
    n_seg = (
        searcher.postings.filter(F.col("term") == "the").count()
    )
    assert n_seg >= 2

    queries = ["the tail5", "common extra3 tail100"]
    exp = {
        q: [(r["doc_id"], r["score"]) for r in bm25_brute_force(docs, q, top_k=10).collect()]
        for q in queries
    }
    for method in ("search_many", "search_many_relational"):
        out = getattr(searcher, method)(queries, top_k=10).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        for i, q in enumerate(queries):
            got = [(d, s) for _, d, s in sorted(by_q[i])]
            assert [d for d, _ in got] == [d for d, _ in exp[q]], (method, q)
            for (gd, gs), (_, es) in zip(got, exp[q]):
                assert gs == es


SPIKE_TF = 100_000
#: doc_id -> tf of the low-df token "spike": three documents at tf ~10^5
#: make its one (term, segment) encoder group ~300k occurrences at df 7
SPIKE = {0: SPIKE_TF, 1: SPIKE_TF + 1, 2: SPIKE_TF + 2, 7: 1, 57: 1, 107: 1, 157: 1}


@pytest.fixture(scope="module")
def tf_skew_corpus(spark):
    docs = spark.range(200).selectExpr(
        "id as doc_id",
        f"concat(if(id < 3, repeat('spike ', {SPIKE_TF} + cast(id as int)), ''),"
        " if(pmod(id, 50) = 7, 'spike ', ''),"
        " 'word', cast(pmod(id, 13) as string), ' tail') as text",
    ).cache()
    docs.count()
    return docs


def test_tf_skew_encodes_exactly(spark, tf_skew_corpus):
    """tf skew, not df skew: the fused occurrence encoder keeps df, tfs
    and the block-max bounds exact for a token at tf ~10^5 in a few
    documents, and WAND over it is ``==`` to brute force."""
    import numpy as np

    from sifter_mrc_search_engine_spark.operators import bm25
    from sifter_mrc_search_engine_spark.operators.postings_codec import (
        decode_blockmax,
        decode_postings,
    )

    docs = tf_skew_corpus
    dl = {r["doc_id"]: r["doc_len"] for r in doc_lengths(docs).collect()}
    n_docs, avgdl = len(dl), sum(dl.values()) / len(dl)
    idx = build_compressed_index(
        docs, buckets=8, block_size=4, stats=(n_docs, avgdl)
    ).collect()
    (row,) = [r for r in idx if r["term"] == "spike"]
    assert row["df"] == row["n"] == len(SPIKE)
    ids, tfs = decode_postings(
        gaps=bytes(row["gaps"]), tfs=bytes(row["tfs"]), n=int(row["n"]),
        skips=bytes(row["skips"]), block_size=int(row["block_size"]),
    )
    assert ids.tolist() == sorted(SPIKE)
    assert tfs.tolist() == [SPIKE[d] for d in sorted(SPIKE)]
    dls = np.array([dl[int(d)] for d in ids], dtype=np.float64)
    imp = bm25.impacts(bm25.idf(len(SPIKE), n_docs), tfs.astype(np.float64), dls, avgdl)
    assert decode_blockmax(bytes(row["blockmax"])).tolist() == [
        imp[i : i + 4].max() for i in range(0, imp.size, 4)
    ]
    assert row["max_impact"] == imp.max()

    for q in ("spike", "spike word7"):
        exp = [
            (r["doc_id"], r["score"])
            for r in bm25_brute_force(docs, q, top_k=10).collect()
        ]
        for m in ("wand", "dense"):
            got = wand_topk(idx, q.split(), dl, n_docs, avgdl, top_k=10, method=m)
            assert got == exp, (q, m)
