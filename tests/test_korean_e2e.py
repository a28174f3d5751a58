"""Korean-text end-to-end: cleaning -> index -> BM25 -> DuckDB oracle.

The reference is a Korean MRC service; the engine must handle Hangul
through every layer (the synthetic bench corpus is ASCII, so this pins the
Hangul path explicitly)."""

import duckdb
import pytest

from sifter_mrc_search_engine_spark.functions.analyzer import analyze, set_backend
from sifter_mrc_search_engine_spark.functions.cleaning import clean_text
from sifter_mrc_search_engine_spark.operators.bm25 import (
    bm25_brute_force,
    bm25_oracle_sql,
)
from sifter_mrc_search_engine_spark.operators.compressed_index import (
    build_compressed_index,
)
from sifter_mrc_search_engine_spark.operators.index_build import (
    corpus_stats,
    doc_lengths,
)
from sifter_mrc_search_engine_spark.operators.wand import wand_topk

DOCS = [
    (0, "한국어 검색 엔진 테스트 문서 입니다"),
    (1, "검색 엔진 의 형태소 분석 과 역색인"),
    (2, "스포츠 뉴스 기사 야구 경기 결과"),
    (3, "야구 선수 와 축구 선수 의 경기"),
    (4, "엔진 성능 테스트 와 벤치마크 결과"),
    (5, "문서 검색 과 질의 응답 시스템 테스트"),
    (6, "mixed 한국어 and english 토큰 document"),
    (7, "테스트 테스트 테스트 반복 문서"),
]

QUERIES = ["검색 엔진", "야구 경기", "테스트", "한국어 document", "없는단어"]


@pytest.fixture(scope="module")
def kdocs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_hangul_cleaning_preserved():
    # dirty Hangul page -> clean Hangul text (C2/C3/C6/C8 interplay)
    dirty = "<p>한국어 검색!</p> spam@ex.co ㅋㅋㅋ 테스트"
    assert clean_text(dirty) == "한국어 검색 테스트"


def test_hangul_analyze():
    assert analyze("한국어 검색 엔진 123") == ["한국어", "검색", "엔진", "123"]


@pytest.mark.parametrize("q", QUERIES)
def test_hangul_bm25_matches_duckdb(spark, kdocs, q):
    con = duckdb.connect()
    import pandas as pd

    con.register("documents", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    got = [
        (r["doc_id"], round(r["score"], 4))
        for r in bm25_brute_force(kdocs, q, top_k=5).collect()
    ]
    exp = con.execute(bm25_oracle_sql(q, top_k=5)).fetchall()
    assert got == [(d, s) for d, s in exp], q


def test_hangul_compressed_wand(spark, kdocs):
    index = build_compressed_index(kdocs, block_size=4).collect()
    dl = {r["doc_id"]: r["doc_len"] for r in doc_lengths(kdocs).collect()}
    st = corpus_stats(doc_lengths(kdocs)).collect()[0]
    for q in QUERIES:
        expected = [
            (r["doc_id"], r["score"])
            for r in bm25_brute_force(kdocs, q, top_k=5).collect()
        ]
        for method in ("wand", "dense"):
            got = wand_topk(
                index, analyze(q), dl, int(st["n_docs"]), float(st["avgdl"]),
                top_k=5, method=method,
            )
            assert [d for d, _ in got] == [d for d, _ in expected], (q, method)
            for (gd, gs), (_, es) in zip(got, expected):
                assert gs == es


def test_pluggable_backend_applies_to_both_sides(spark, kdocs):
    """A custom analyzer (here: drop 1-char tokens, the shape of a POS
    filter) must keep rank-identity as long as BOTH sides use it —
    the self-consistency property MeCab integration relies on."""
    import re

    base = re.compile("[a-z0-9가-힣]+")

    def no_singletons(s):
        return [t for t in base.findall(s.lower()) if len(t) > 1]

    set_backend(no_singletons)
    try:
        assert analyze("와 검색 의 엔진") == ["검색", "엔진"]
        # index side uses tokenize_expr (JVM) — for a custom backend the
        # Python UDF path must be used instead; verify the analyzer feeds
        # the query side consistently
        from sifter_mrc_search_engine_spark.functions.analyzer import analyze_udf
        from pyspark.sql import functions as F

        row = (
            spark.createDataFrame([("와 검색 의 엔진",)], "text string")
            .select(analyze_udf(F.col("text")).alias("t"))
            .collect()[0]
        )
        assert row["t"] == ["검색", "엔진"]
    finally:
        from sifter_mrc_search_engine_spark.functions.analyzer import _regex_backend

        set_backend(_regex_backend)
