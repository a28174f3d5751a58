"""The pinned reference query set (FIXTURES.md §4, north-rule contract).

``tests/fixtures/reference_queries.json`` is the committed golden artifact:
81 (query, top_k) cases over the deterministic 2000-doc corpus with
expected (doc_id, score) lists produced by the brute-force oracle. BOTH
engines (brute-force DataFrame scorer and the compressed WAND/dense path)
must reproduce it — this catches any cross-round drift in tokenization,
cleaning, codec, or scoring."""

import json
from pathlib import Path

import pytest

from sifter_mrc_search_engine_spark.functions.analyzer import analyze
from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force
from sifter_mrc_search_engine_spark.operators.compressed_index import (
    build_compressed_index,
)
from sifter_mrc_search_engine_spark.operators.index_build import (
    corpus_stats,
    doc_lengths,
)
from sifter_mrc_search_engine_spark.operators.wand import wand_topk
from sifter_mrc_search_engine_spark.sources.pages import synthesize_pages

GOLD = json.loads(
    (Path(__file__).parent / "fixtures" / "reference_queries.json").read_text()
)


@pytest.fixture(scope="module")
def corpus(spark):
    g = GOLD["corpus"]
    docs = synthesize_pages(spark, g["n_docs"], partitions=8, seed=g["seed"]).selectExpr(
        "cast(split(url, '/')[4] as long) as doc_id", "text"
    ).cache()
    docs.count()
    index = build_compressed_index(docs).collect()
    dl = {r["doc_id"]: r["doc_len"] for r in doc_lengths(docs).collect()}
    st = corpus_stats(doc_lengths(docs)).collect()[0]
    return docs, index, dl, int(st["n_docs"]), float(st["avgdl"])


def test_brute_force_reproduces_golden(spark, corpus):
    docs, *_ = corpus
    # spot-check a deterministic subset with the Spark scorer (full sweep
    # via WAND below keeps runtime sane)
    for case in GOLD["queries"][::7]:
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_brute_force(docs, case["query"], top_k=case["top_k"]).collect()
        ]
        exp = [(d, s) for d, s in case["expected"]]
        assert [d for d, _ in got] == [d for d, _ in exp], case["query"]
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == es


def test_wand_reproduces_golden_full_sweep(corpus):
    _, index, dl, n_docs, avgdl = corpus
    for case in GOLD["queries"]:
        exp = [(d, s) for d, s in case["expected"]]
        for method in ("wand", "dense"):
            got = wand_topk(
                index, analyze(case["query"]), dl, n_docs, avgdl,
                top_k=case["top_k"], method=method,
            )
            assert [d for d, _ in got] == [d for d, _ in exp], (case["query"], method)
            for (gd, gs), (_, es) in zip(got, exp):
                assert gs == es
