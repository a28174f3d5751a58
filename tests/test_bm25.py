"""BM25 brute-force scorer vs an independent DuckDB implementation."""

import duckdb
import pytest

from sifter_mrc_search_engine_spark.operators.bm25 import (
    bm25_brute_force,
    bm25_oracle_sql,
)
from sifter_mrc_search_engine_spark.operators.index_build import (
    build_postings,
    corpus_stats,
    doc_frequencies,
    doc_lengths,
    term_frequencies,
)

QUESTIONS = [
    "the fast query",
    "spark join merge",
    "customer order line",
    "nonexistentterm",
    "window",
]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_tf_df_doclen_against_duckdb(docs, sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    tf = term_frequencies(docs)
    got_tf = {(r["term"], r["doc_id"]): r["tf"] for r in tf.collect()}
    exp = con.execute(
        "SELECT term, doc_id, count(*) FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9가-힣]+')) AS term FROM documents) GROUP BY 1,2"
    ).fetchall()
    assert got_tf == {(t, d): c for t, d, c in exp}

    dl = {r["doc_id"]: r["doc_len"] for r in doc_lengths(docs).collect()}
    exp_dl = dict(
        con.execute(
            "SELECT doc_id, count(*) FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9가-힣]+')) AS term FROM documents) GROUP BY 1"
        ).fetchall()
    )
    assert dl == exp_dl

    stats = corpus_stats(doc_lengths(docs)).collect()[0]
    n, avgdl = con.execute(
        "SELECT count(*), avg(n) FROM (SELECT doc_id, count(*) n FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9가-힣]+')) AS term FROM documents) GROUP BY 1)"
    ).fetchone()
    assert stats["n_docs"] == n
    assert abs(stats["avgdl"] - avgdl) < 1e-9


@pytest.mark.parametrize("q", QUESTIONS)
def test_bm25_topk_matches_duckdb(docs, sf_dir, q):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    got = [
        (r["doc_id"], round(r["score"], 4))
        for r in bm25_brute_force(docs, q, top_k=10).collect()
    ]
    exp = con.execute(bm25_oracle_sql(q, top_k=10)).fetchall()
    assert got == [(d, s) for d, s in exp], q


def test_postings_sorted_and_df_consistent(docs):
    post = build_postings(docs).collect()
    tf = term_frequencies(docs)
    df_exp = {r["term"]: r["df"] for r in doc_frequencies(tf).collect()}
    for row in post:
        ids = [p["doc_id"] for p in row["postings"]]
        assert ids == sorted(ids)
        assert row["df"] == len(ids) == df_exp[row["term"]]
        assert 0 <= row["bucket"] < 64


def test_slot_fold_sums_duplicate_slot_rows_like_score_fold(spark):
    """Two rows in one (keys, slot) are both counted, as score_fold
    counts two rows of one term; values are exact in binary, so the
    order duplicates are added in cannot matter."""
    from sifter_mrc_search_engine_spark.operators.bm25 import score_fold, slot_fold

    rows = [(1, "a", 0, 1.0), (1, "a", 0, 2.0), (1, "b", 1, 0.5), (2, "b", 1, 0.25)]
    frame = spark.createDataFrame(rows, "doc_id long, term string, _slot int, contrib double")
    slotted = slot_fold(frame.drop("term"), ["doc_id"], 2).collect()
    folded = score_fold(frame.drop("_slot"), ["doc_id"]).collect()
    assert sorted(map(tuple, slotted)) == sorted(map(tuple, folded)) == [(1, 3.5), (2, 0.25)]


def _idf_grid():
    """(df, N) pairs: df = 1 and df = N at every N, N = 1, the small dfs,
    a geometric sweep, and df = N at large N, where the argument
    ``1 + 0.5/(N + 0.5)`` reaches fdlibm's ``|f| < 2^-20`` branch."""
    grid = set()
    for n in (1, 2, 7, 100, 10_000, 120_000, 2_400_000, 1_000_000_000):
        dfs = set(range(1, min(n, 150) + 1)) | {n - 1, n}
        q = 1
        while q < n:
            dfs |= {q, n - q}
            q = q * 9 // 8 + 1
        grid |= {(df, n) for df in dfs if df >= 1}
    return sorted(grid)


def test_idf_equals_spark_idf_expr(spark):
    """bm25.idf is ``==`` to Spark's idf_expr (StrictMath.log) on every
    grid point, computed in one Spark job. The grid is sensitive: libm's
    log misses Spark's value on a share of it."""
    import numpy as np
    from pyspark.sql import functions as F

    from sifter_mrc_search_engine_spark.operators.bm25 import idf, idf_expr

    grid = _idf_grid()
    frame = spark.createDataFrame(grid, "df long, n long")
    rows = frame.select("df", "n", idf_expr(F.col("df"), F.col("n")).alias("idf")).collect()
    assert len(rows) == len(grid)
    bad = [(r["df"], r["n"], r["idf"]) for r in rows if idf(r["df"], r["n"]) != r["idf"]]
    assert not bad, bad[:10]
    libm = sum(
        float(np.log(1.0 + (r["n"] - r["df"] + 0.5) / (r["df"] + 0.5))) != r["idf"]
        for r in rows
    )
    assert libm > 0


def test_library_has_no_libm_log():
    """Every driver idf goes through bm25.idf: a numpy or math log in the
    library would differ from Spark's in the last bit. Catalyst
    ``F.log`` is allowed."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "sifter_mrc_search_engine_spark"
    pattern = re.compile(r"\b(?:np|numpy|math)\.log\(")
    hits = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, hits
