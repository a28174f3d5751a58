"""Phrase / proximity / prefix / boolean query semantics + the positional
index serving path — each *_topk cross-checked against its DuckDB twin on
the same rows (the driver-gate shape) and against hand-computed fixtures."""

import duckdb
import pytest
from pyspark.sql import functions as F

import sifter_mrc_search_engine_spark.operators.positional as P
from sifter_mrc_search_engine_spark.operators.compressed_index import (
    IndexSnapshot,
    decode_index_df,
    snapshot,
)


def _ids(df):
    return {r["doc_id"] for r in df.collect()}


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "beta alpha beta gamma"),
        (3, "gamma beta alpha"),
        (4, "alpha x x x beta"),
        (5, "alpha beta alpha beta"),
        (6, "zeta eta theta"),
        (7, "alphabet betatron"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _duck(docs_df, sql):
    con = duckdb.connect()
    con.register("documents", docs_df.toPandas())
    return con.sql(sql).df()


def _assert_matches_oracle(spark_df, docs_df, sql):
    got = sorted(
        (int(r["doc_id"]), round(float(r["score"]), 4))
        for r in spark_df.select(
            "doc_id", F.round("score", 4).alias("score")
        ).collect()
    )
    want = sorted(
        (int(r.doc_id), round(float(r.score), 4))
        for r in _duck(docs_df, sql).itertuples()
    )
    assert got == want, (got, want)
    return got


#: plan nodes that mean a Python worker runs for the query
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "ExistingRDD")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _driver_twin(monkeypatch, run):
    """``run()``'s rows on the driver path and on its cluster twin, which
    a zero driver budget forces. The driver frame plans with no Python
    worker; the twin's plan decodes in the executor UDF."""
    driver = run()
    plan = _plan(driver)
    assert not any(n in plan for n in _PYTHON_NODES), plan
    with monkeypatch.context() as m:
        m.setattr(P, "DEFAULT_PRELOAD_BUDGET_BYTES", 0)
        twin = run()
    assert "ArrowEvalPython" in _plan(twin), _plan(twin)
    return _rows(driver), _rows(twin)


def _three_way(monkeypatch, relational, run, nonempty=False):
    """driver == cluster twin == relational twin, bit for bit."""
    want = _rows(relational)
    driver, twin = _driver_twin(monkeypatch, run)
    assert driver == want and twin == want, (driver, twin, want)
    assert want or not nonempty


# ---------------------------------------------------------------- phrase


def test_phrase_match_semantics(docs):
    assert _ids(P.phrase_match_ids(docs, "alpha beta")) == {1, 2, 5}
    # repeated-token phrase: one token may serve two slots
    assert _ids(P.phrase_match_ids(docs, "beta alpha beta")) == {2, 5}
    # order matters
    assert _ids(P.phrase_match_ids(docs, "delta gamma")) == set()
    # phrase at exact doc end
    assert _ids(P.phrase_match_ids(docs, "gamma delta")) == {1}
    # single-token phrase degenerates to containment
    assert _ids(P.phrase_match_ids(docs, "gamma")) == {1, 2, 3}
    # unanalyzable phrase -> empty
    assert P.phrase_match_ids(docs, "!!!").count() == 0


def test_phrase_topk_vs_oracle(docs):
    got = _assert_matches_oracle(
        P.phrase_topk(docs, "alpha beta"), docs, P.sql_phrase_topk("alpha beta")
    )
    assert {d for d, _ in got} == {1, 2, 5}
    _assert_matches_oracle(
        P.phrase_topk(docs, "beta alpha beta"),
        docs,
        P.sql_phrase_topk("beta alpha beta"),
    )


def test_phrase_tokens_validated():
    with pytest.raises(ValueError, match="analyzer token"):
        P._checked_terms(["ok", "bad'quote"])


# ------------------------------------------------------------- proximity


def test_near_match_semantics(docs):
    near = lambda terms, w: _ids(P.near_match_ids(docs, terms, w))
    assert near(["alpha", "beta"], 5) == {1, 2, 3, 4, 5}
    assert near(["alpha", "beta"], 2) == {1, 2, 3, 5}  # span<=1: adjacency
    # doc 4: alpha@0 beta@4 -> span 4 needs window >= 5
    assert 4 not in near(["alpha", "beta"], 4)
    # a doc MISSING one term can never match (least() ignores NULLs —
    # the all-seen guard is load-bearing): doc 1 has no 'eta'
    assert near(["alpha", "eta"], 100) == set()
    # single term: any occurrence
    assert near(["gamma"], 1) == {1, 2, 3}
    # three terms, unordered window (doc 3 "gamma beta alpha" spans 0..2)
    assert near(["alpha", "beta", "gamma"], 3) == {1, 2, 3}
    # shrink to window 2: no doc fits three distinct terms in 2 slots
    assert near(["alpha", "beta", "gamma"], 2) == set()
    with pytest.raises(ValueError, match="window"):
        P.near_match_ids(docs, ["alpha"], 0)


def test_near_topk_vs_oracle(docs):
    for q, w in [("alpha beta", 2), ("alpha beta gamma", 3), ("alpha eta", 50)]:
        _assert_matches_oracle(
            P.near_topk(docs, q, w), docs, P.sql_near_topk(q, w)
        )


# -------------------------------------------------------- ordered (slop)


def test_phrase_slop_semantics(docs):
    m = lambda p, s: _ids(P.phrase_slop_topk(docs, p, slop=s))
    # slop=0 == contiguous phrase
    assert m("alpha beta", 0) == _ids(P.phrase_match_ids(docs, "alpha beta"))
    # doc 4 "alpha x x x beta": 3 interleaved tokens need slop >= 3
    assert 4 not in m("alpha beta", 2)
    assert 4 in m("alpha beta", 3)
    # ORDER is required: doc 3 "gamma beta alpha" never matches "alpha ... beta"
    # under any slop that its length allows
    assert 3 not in m("alpha beta", 1)
    # but unordered near DOES admit doc 3 at the same window
    assert 3 in _ids(P.near_match_ids(docs, ["alpha", "beta"], 3))
    # repeated-token phrase, ordered: "beta alpha beta" in doc 2 exactly
    assert m("beta alpha beta", 0) == {2, 5}
    with pytest.raises(ValueError, match="slop"):
        P.phrase_slop_topk(docs, "alpha beta", slop=-1)


def test_phrase_slop_vs_oracle(docs):
    for p, s in [("alpha beta", 0), ("alpha beta", 3), ("beta alpha beta", 1),
                 ("alpha eta", 5)]:
        _assert_matches_oracle(
            P.phrase_slop_topk(docs, p, slop=s), docs, P.sql_phrase_slop_topk(p, slop=s)
        )


# ---------------------------------------------------------------- prefix


def test_prefix_topk(docs):
    got = _assert_matches_oracle(
        P.prefix_topk(docs, "alpha"), docs, P.sql_prefix_topk("alpha")
    )
    # expands to {alpha, alphabet}: doc 7 matches only via the expansion
    assert {d for d, _ in got} == {1, 2, 3, 4, 5, 7}
    assert P.prefix_topk(docs, "nosuchprefix").count() == 0
    # expansion cap keeps the highest-df terms: 'alpha' (df 5) stays,
    # 'alphabet' (df 1) drops -> doc 7 no longer matches
    capped = P.prefix_topk(docs, "alpha", max_expansions=1)
    assert {r["doc_id"] for r in capped.collect()} == {1, 2, 3, 4, 5}
    with pytest.raises(ValueError, match="max_expansions"):
        P.prefix_topk(docs, "alpha", max_expansions=0)
    with pytest.raises(ValueError, match="prefix"):
        P.prefix_topk(docs, "bad%like")
    with pytest.raises(ValueError, match="prefix"):
        P.sql_prefix_topk("x'); DROP TABLE documents; --")


def test_wildcard_topk(docs):
    got = _assert_matches_oracle(
        P.wildcard_topk(docs, "*eta*"), docs, P.sql_wildcard_topk("*eta*")
    )
    # expands to {beta, eta, theta, zeta, betatron}
    assert {d for d, _ in got} == {1, 2, 3, 4, 5, 6, 7}
    got2 = _assert_matches_oracle(
        P.wildcard_topk(docs, "alpha*"), docs, P.sql_wildcard_topk("alpha*")
    )
    assert {d for d, _ in got2} == {1, 2, 3, 4, 5, 7}
    # interior star
    got3 = _assert_matches_oracle(
        P.wildcard_topk(docs, "a*t"), docs, P.sql_wildcard_topk("a*t")
    )
    assert {d for d, _ in got3} == {7}  # alphabet
    for bad in ["*", "***", "bad%pat", "a b"]:
        with pytest.raises(ValueError, match="pattern"):
            P.wildcard_topk(docs, bad)
        with pytest.raises(ValueError, match="pattern"):
            P.sql_wildcard_topk(bad)


def test_fuzzy_topk(docs):
    got = _assert_matches_oracle(
        P.fuzzy_topk(docs, "zeta", max_edits=1), docs, P.sql_fuzzy_topk("zeta", 1)
    )
    # within 1 edit of 'zeta': zeta, beta, eta — NOT theta (2 edits)
    assert {d for d, _ in got} == {1, 2, 3, 4, 5, 6}
    got2 = _assert_matches_oracle(
        P.fuzzy_topk(docs, "zeta", max_edits=0), docs, P.sql_fuzzy_topk("zeta", 0)
    )
    assert {d for d, _ in got2} == {6}  # exact only
    assert P.fuzzy_topk(docs, "qqqqqq", max_edits=1).count() == 0
    # expansion cap keeps highest-df expansions
    capped = P.fuzzy_topk(docs, "zeta", max_edits=1, max_expansions=1)
    assert {r["doc_id"] for r in capped.collect()} == {1, 2, 3, 4, 5}  # beta df=5
    with pytest.raises(ValueError, match="max_edits"):
        P.fuzzy_topk(docs, "zeta", max_edits=-1)
    with pytest.raises(ValueError, match="ASCII"):
        P.sql_fuzzy_topk("ze'ta")


def test_fuzzy_script_consistency(spark):
    # engine is CHARACTER-level on Hangul (가나→가다 = 1 edit) and
    # script-consistent: ASCII queries never expand to Hangul-bearing
    # terms (where DuckDB's byte-based levenshtein would diverge)
    rows = [(1, "가나 텍스트"), (2, "가다 왼손"), (3, "ab cd"), (4, "가b xy")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"] for r in P.fuzzy_topk(docs, "가나", max_edits=1).collect()}
    # char-level: 가다 (1 sub) and mixed-script 가b (1 sub) both match
    assert got == {1, 2, 4}
    # ASCII query: doc 4's mixed-script '가b' (1 char edit from 'ab')
    # is EXCLUDED by script-consistent expansion -> twin parity holds
    got2 = {r["doc_id"] for r in P.fuzzy_topk(docs, "ab", max_edits=1).collect()}
    assert got2 == {3}
    import duckdb

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want2 = set(con.sql(P.sql_fuzzy_topk("ab", 1)).df()["doc_id"])
    assert got2 == want2
    # Hangul query has no SQL twin — refuses loudly
    with pytest.raises(ValueError, match="ASCII"):
        P.sql_fuzzy_topk("가나")


# --------------------------------------------------------------- boolean


def test_bool_topk(docs):
    got = _assert_matches_oracle(
        P.bool_topk(docs, must=["alpha"], must_not=["delta"]),
        docs,
        P.sql_bool_topk(must=["alpha"], must_not=["delta"]),
    )
    assert {d for d, _ in got} == {2, 3, 4, 5}
    # must: ALL terms required
    got2 = _assert_matches_oracle(
        P.bool_topk(docs, must=["alpha", "gamma"]),
        docs,
        P.sql_bool_topk(must=["alpha", "gamma"]),
    )
    assert {d for d, _ in got2} == {1, 2, 3}
    # should-only: any scored term admits; score covers present terms
    got3 = _assert_matches_oracle(
        P.bool_topk(docs, should=["delta", "theta"]),
        docs,
        P.sql_bool_topk(should=["delta", "theta"]),
    )
    assert {d for d, _ in got3} == {1, 6}
    # multi-word clause strings analyze into their tokens
    assert _ids(P.bool_topk(docs, must=["alpha gamma"])) == {1, 2, 3}
    assert P.bool_topk(docs).count() == 0


# ------------------------------------------------------ positional index


def test_positional_codec_roundtrip(spark, docs):
    idx = P.build_positional_index(docs)
    back = decode_index_df(idx, keep_cols=("term",), positions=True)
    got = {
        (r["term"], r["doc_id"]): list(r["positions"]) for r in back.collect()
    }
    want_rows = P.token_positions(docs).collect()
    want = {}
    for r in want_rows:
        want.setdefault((r["term"], r["doc_id"]), []).append(r["pos"])
    assert got == {k: sorted(v) for k, v in want.items()}
    # df is exact across segments
    dfs = {r["term"]: r["df"] for r in idx.select("term", "df").distinct().collect()}
    truth = {
        r["term"]: r["df"]
        for r in P.token_positions(docs)
        .select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    assert dfs == truth


def test_phrase_topk_indexed_parity(spark, docs, tmp_path, monkeypatch):
    path = str(tmp_path / "posidx")
    stats = P.write_positional_index(docs, path)
    assert stats["n_docs"] == 7
    for phrase in ["alpha beta", "beta alpha beta", "gamma", "zeta zeta"]:
        _three_way(
            monkeypatch, P.phrase_topk(docs, phrase),
            lambda: P.phrase_topk_indexed(spark, path, phrase),
            nonempty=phrase != "zeta zeta",
        )
    # unanalyzable -> typed empty
    empty = P.phrase_topk_indexed(spark, path, "!!!")
    assert empty.columns == ["doc_id", "score"] and empty.count() == 0


def test_phrase_plans_have_no_python_fed_tables(spark, docs, tmp_path):
    """The phrase slot table is built JVM-side: neither the indexed nor
    the corpus phrase plan contains a ``createDataFrame(list)`` scan
    (``ExistingRDD``), which would run a Python worker per query."""
    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)
    local_docs = spark.createDataFrame(docs.toPandas(), "doc_id long, text string")
    for q in (
        P.phrase_topk_indexed(spark, path, "beta alpha beta"),
        P.phrase_topk(local_docs, "beta alpha beta"),
    ):
        assert _ids(q) == {2, 5}
        assert "ExistingRDD" not in _plan(q), _plan(q)


def test_near_topk_indexed_parity(spark, docs, tmp_path, monkeypatch):
    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)
    for q, w in [("alpha beta", 2), ("alpha beta gamma", 3), ("alpha eta", 50)]:
        _three_way(
            monkeypatch, P.near_topk(docs, q, w),
            lambda: P.near_topk_indexed(spark, path, q, w),
            nonempty=q != "alpha eta",
        )
    empty = P.near_topk_indexed(spark, path, "!!!", 3)
    assert empty.columns == ["doc_id", "score"] and empty.count() == 0
    with pytest.raises(ValueError, match="window"):
        P.near_topk_indexed(spark, path, "alpha", 0)


def test_phrase_indexed_scan_is_bucket_pruned(spark, docs, tmp_path, monkeypatch):
    """Both the read the driver path makes and the over-budget cluster
    plan prune the postings to the phrase terms' bucket partitions."""
    import pyarrow.parquet as pq

    from sifter_mrc_search_engine_spark.functions.xxhash import term_bucket

    path = str(tmp_path / "posidx")
    stats = P.write_positional_index(docs, path)

    def formatted(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    reads, opened = [], []
    rows, init = IndexSnapshot.rows, pq.ParquetFile.__init__

    def spy_rows(*args):
        reads.append(args[1:])
        return rows(*args)

    def spy_open(self, source, *args, **kwargs):
        opened.append(str(source))
        return init(self, source, *args, **kwargs)

    monkeypatch.setattr(IndexSnapshot, "rows", spy_rows)
    monkeypatch.setattr(pq.ParquetFile, "__init__", spy_open)
    assert _ids(P.phrase_topk_indexed(spark, path, "alpha beta")) == {1, 2, 5}
    assert len(reads) == 1
    dirs = {f"{path}/postings/bucket={term_bucket(t, stats['buckets'])}/" for t in ("alpha", "beta")}
    assert opened and all(any(f.startswith(d) for d in dirs) for f in opened), (opened, dirs)

    monkeypatch.setattr(P, "DEFAULT_PRELOAD_BUDGET_BYTES", 0)
    q = P.phrase_topk_indexed(spark, path, "alpha beta")
    plan = formatted(q)
    assert "ArrowEvalPython" in plan and "PartitionFilters: [bucket" in plan, plan[:2000]
    assert _ids(q) == {1, 2, 5}


def test_indexed_serving_reads_bucket_modulus_from_stats(spark, docs, tmp_path, monkeypatch):
    # write with a NON-default modulus; serving must pick it up from
    # stats.json — a caller-supplied mismatch would silently drop postings
    path = str(tmp_path / "posidx7")
    stats = P.write_positional_index(docs, path, buckets=7)
    assert stats["buckets"] == 7
    assert len(P.phrase_topk(docs, "alpha beta").collect()) == 3
    _three_way(
        monkeypatch, P.phrase_topk(docs, "alpha beta"),
        lambda: P.phrase_topk_indexed(spark, path, "alpha beta"),
    )
    _three_way(
        monkeypatch, P.phrase_slop_topk(docs, "alpha gamma", 2),
        lambda: P.phrase_slop_topk_indexed(spark, path, "alpha gamma", 2),
        nonempty=True,
    )
    _three_way(
        monkeypatch, P.near_topk(docs, "beta gamma", 2),
        lambda: P.near_topk_indexed(spark, path, "beta gamma", 2),
        nonempty=True,
    )


def test_positional_on_real_corpus(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # pick a phrase that actually occurs: first two tokens of doc 0
    first = docs.orderBy("doc_id").select("text").first()["text"]
    t = first.lower().split()
    phrase = f"{t[0]} {t[1]}"
    brute = P.phrase_topk(docs, phrase, top_k=10)
    assert brute.count() > 0
    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)
    served = P.phrase_topk_indexed(spark, path, phrase, top_k=10)
    assert [
        (r["doc_id"], r["score"]) for r in brute.collect()
    ] == [(r["doc_id"], r["score"]) for r in served.collect()]


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_indexed_structured_family_parity(spark, docs, tmp_path, monkeypatch):
    # ONE index; every structured shape served from it must be
    # rank-identical (same float64 fold) to its relational twin — which
    # is the DuckDB-oracled contract query, so parity here transitively
    # certifies the indexed tier against the oracle
    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)

    for phrase, slop in [("alpha beta", 0), ("alpha gamma", 2), ("beta alpha beta", 1)]:
        _three_way(
            monkeypatch, P.phrase_slop_topk(docs, phrase, slop),
            lambda: P.phrase_slop_topk_indexed(spark, path, phrase, slop),
            nonempty=True,
        )

    for p in ["alpha", "alphab", "z"]:
        assert _rows(P.prefix_topk(docs, p)) == _rows(
            P.prefix_topk_indexed(spark, path, p)
        ), p

    for pat in ["*eta", "alpha*", "*a*"]:
        assert _rows(P.wildcard_topk(docs, pat)) == _rows(
            P.wildcard_topk_indexed(spark, path, pat)
        ), pat

    for q, e in [("alpha", 1), ("bets", 1), ("gamm", 2)]:
        assert _rows(P.fuzzy_topk(docs, q, e)) == _rows(
            P.fuzzy_topk_indexed(spark, path, q, e)
        ), (q, e)

    cases = [
        dict(must=["alpha beta"], must_not=["delta"]),
        dict(should=["zeta", "gamma"]),
        dict(must=["beta"], should=["theta"], must_not=[]),
    ]
    for kw in cases:
        assert _rows(P.bool_topk(docs, **kw)) == _rows(
            P.bool_topk_indexed(spark, path, **kw)
        ), kw


def test_indexed_expansion_caps_and_edges(spark, docs, tmp_path):
    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)
    # max_expansions keeps the same highest-df terms as the relational
    # rewrite (df desc, term asc) -> identical capped rankings
    for cap in [1, 2]:
        assert _rows(P.prefix_topk(docs, "a", max_expansions=cap)) == _rows(
            P.prefix_topk_indexed(spark, path, "a", max_expansions=cap)
        ), cap
    with pytest.raises(ValueError, match="max_expansions"):
        P.prefix_topk_indexed(spark, path, "a", max_expansions=0)
    # typed-empty edges match the relational behavior
    empty = P.phrase_slop_topk_indexed(spark, path, "!!!", 1)
    assert empty.columns == ["doc_id", "score"] and empty.count() == 0
    assert P.bool_topk_indexed(spark, path, must_not=["alpha"]).count() == 0
    assert P.prefix_topk_indexed(spark, path, "nosuchprefix").count() == 0
    with pytest.raises(ValueError, match="slop"):
        P.phrase_slop_topk_indexed(spark, path, "alpha", slop=-1)
    with pytest.raises(ValueError, match="analyzer"):
        P.wildcard_topk_indexed(spark, path, "**")


def test_vocab_scan_never_reads_positions(spark, docs, tmp_path):
    # the scoring-only shapes must leave the positions payload on disk:
    # ReadSchema of the postings scan excludes `poss`
    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)
    for q in [
        P.prefix_topk_indexed(spark, path, "alpha"),
        P.bool_topk_indexed(spark, path, must=["alpha"]),
    ]:
        plan = q._sc._jvm.PythonSQLUtils.explainString(
            q._jdf.queryExecution(), "formatted"
        )
        # the postings scan is the one reading the codec columns
        scans = [
            ln for ln in plan.splitlines()
            if ln.strip().startswith("ReadSchema:") and "gaps" in ln
        ]
        assert scans, plan[:2000]
        for ln in scans:
            assert "poss" not in ln, ln


def test_positional_dir_is_main_format_plus_poss(spark, docs, tmp_path):
    from sifter_mrc_search_engine_spark.operators.compressed_index import (
        INDEX_SCHEMA,
        POSS_FIELD,
    )

    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)
    got = {(f.name, f.dataType) for f in spark.read.parquet(f"{path}/postings").schema}
    want = {(f.name, f.dataType) for f in [*INDEX_SCHEMA.fields, POSS_FIELD]}
    assert got == want


def test_postings_footers_keep_term_stats_only(spark, docs, tmp_path):
    """The writer keeps parquet min/max statistics on ``term`` (row-group
    pruning reads them) and writes none for the binary payload columns."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)
    blobs = {"gaps", "tfs", "skips", "blockmax", "blockmaxtf", "poss"}
    files = glob.glob(f"{path}/postings/bucket=*/*.parquet")
    assert files
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            cols = {
                meta.row_group(g).column(i).path_in_schema: meta.row_group(g).column(i)
                for i in range(meta.num_columns)
            }
            assert blobs <= set(cols), sorted(cols)
            term = cols["term"].statistics
            assert term is not None and term.has_min_max, f
            for c in blobs:
                st = cols[c].statistics
                assert st is None or not st.has_min_max, (f, c)


def test_indexed_positional_on_negative_and_sparse_ids(spark, tmp_path, monkeypatch):
    """Negative and sparse doc ids (two's-complement block restarts, gaps
    beyond 2^32) through the indexed phrase, slop and near shapes, each
    == its relational twin. 'alpha' spans more than one 128-posting
    block, so block restarts at negative ids are exercised."""
    words = ["alpha", "beta", "gamma", "delta"]
    rows = [
        (-5, "alpha beta gamma delta"),
        (0, "beta alpha beta gamma"),
        (1 << 40, "gamma beta alpha beta"),
    ]
    for i in range(300):
        text = " ".join(words[(i * k + k // 2) % 4] for k in range(1, 7))
        rows.append((-(1 << 41) + i * ((1 << 34) + 7), text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)
    assert spark.read.parquet(f"{path}/postings").filter("term = 'alpha'").first()["n"] > 128

    for phrase in ["alpha beta", "beta alpha beta", "gamma delta"]:
        _three_way(
            monkeypatch, P.phrase_topk(docs, phrase),
            lambda: P.phrase_topk_indexed(spark, path, phrase), nonempty=True,
        )
    for phrase, slop in [("alpha beta", 0), ("alpha gamma", 2), ("delta alpha", 1)]:
        _three_way(
            monkeypatch, P.phrase_slop_topk(docs, phrase, slop),
            lambda: P.phrase_slop_topk_indexed(spark, path, phrase, slop),
            nonempty=True,
        )
    for q, w in [("alpha beta", 2), ("alpha gamma delta", 4)]:
        _three_way(
            monkeypatch, P.near_topk(docs, q, w),
            lambda: P.near_topk_indexed(spark, path, q, w), nonempty=True,
        )


def test_positional_budget_routes_to_cluster_plan(spark, docs, tmp_path, monkeypatch):
    """Before any decode the driver path charges its decode and match
    bound (``_decode_charge``) against the budget; one byte short, the
    query runs the cluster plan, with == rows, from the frame and the
    list cores."""
    from sifter_mrc_search_engine_spark.operators.wand import KERNEL_COLUMNS
    from sifter_mrc_search_engine_spark.plans.structured import StructuredSearchService

    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)
    snap = snapshot(spark, path)
    charge = P._decode_charge(
        snap.pruned(["alpha", "beta"]).select(*KERNEL_COLUMNS, "poss").collect()
    )
    svc = StructuredSearchService(spark, path)
    want = _rows(P.phrase_topk(docs, "beta alpha beta"))
    driver = P.phrase_topk_indexed(spark, path, "beta alpha beta")
    hits = svc.search({"type": "phrase", "phrase": "beta alpha beta"})["hits"]
    monkeypatch.setattr(P, "DEFAULT_PRELOAD_BUDGET_BYTES", charge - 1)
    twin = P.phrase_topk_indexed(spark, path, "beta alpha beta")
    assert "ArrowEvalPython" in _plan(twin) and "ArrowEvalPython" not in _plan(driver)
    assert want == _rows(driver) == _rows(twin) and len(want) == 2
    assert svc.search({"type": "phrase", "phrase": "beta alpha beta"})["hits"] == hits
    assert [(h["doc_id"], h["score"]) for h in hits] == want


def test_positional_driver_follows_rebuild_in_place(spark, docs, tmp_path, monkeypatch):
    """After ``rmtree`` and a rebuild at the same path, the driver path
    answers like a fresh call on the new corpus (new postings relation,
    new norms), and == its cluster twin."""
    import shutil

    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)
    assert _ids(P.phrase_topk_indexed(spark, path, "alpha beta")) == {1, 2, 5}
    assert _ids(P.near_topk_indexed(spark, path, "alpha beta", 2)) == {1, 2, 3, 5}
    shutil.rmtree(path)
    new = spark.createDataFrame(
        [(10, "alpha beta alpha beta x"), (11, "beta y alpha"), (12, "x alpha beta")],
        "doc_id long, text string",
    )
    P.write_positional_index(new, path)
    _three_way(
        monkeypatch, P.phrase_topk(new, "alpha beta"),
        lambda: P.phrase_topk_indexed(spark, path, "alpha beta"), nonempty=True,
    )
    _three_way(
        monkeypatch, P.near_topk(new, "alpha beta", 2),
        lambda: P.near_topk_indexed(spark, path, "alpha beta", 2), nonempty=True,
    )
    assert _ids(P.phrase_topk_indexed(spark, path, "alpha beta")) == {10, 12}


def test_positional_matches_stay_inside_one_doc(spark, tmp_path, monkeypatch):
    """A slop chain or a near window never spans two docs: 'alpha' ends
    the longest doc and 'beta' opens the next one, which the packed match
    keys place just ``window`` apart."""
    docs = spark.createDataFrame(
        [(1, "beta x x x x alpha"), (2, "beta x x x x alpha"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "posidx")
    P.write_positional_index(docs, path)
    _three_way(
        monkeypatch, P.phrase_slop_topk(docs, "alpha beta", 2),
        lambda: P.phrase_slop_topk_indexed(spark, path, "alpha beta", 2), nonempty=True,
    )
    _three_way(
        monkeypatch, P.near_topk(docs, "alpha beta", 4),
        lambda: P.near_topk_indexed(spark, path, "alpha beta", 4), nonempty=True,
    )
    assert _ids(P.near_topk_indexed(spark, path, "alpha beta", 4)) == {3}


def test_oracle_parity_with_zero_token_doc(spark):
    # engine corpus stats count token-less docs (doc_len 0 rows); the
    # twins' dl CTE now derives per-row from the table so both agree
    # (r5 review) — exercised across the restricted and expanded
    # skeletons plus the highlight twin
    from sifter_mrc_search_engine_spark.operators import snippets as S

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "beta alpha beta gamma"),
        (3, "alpha x x x beta"),
        (9, "??? !!!"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _assert_matches_oracle(
        P.phrase_topk(docs, "alpha beta"), docs, P.sql_phrase_topk("alpha beta")
    )
    _assert_matches_oracle(
        P.prefix_topk(docs, "alp"), docs, P.sql_prefix_topk("alp")
    )
    import duckdb as _duck

    con = _duck.connect()
    con.register("documents", docs.toPandas())
    got = [
        (r["doc_id"], round(r["score"], 4), r["snippet"])
        for r in S.highlight_topk(docs, "alpha beta", window=3).collect()
    ]
    want = [
        (int(r.doc_id), round(float(r.score), 4), r.snippet)
        for r in con.sql(S.sql_highlight_topk("alpha beta", window=3)).df().itertuples()
    ]
    assert got == want


def test_decode_charge_covers_measured_peak(spark, tmp_path):
    """The driver path charges, before it decodes, at least the numpy
    peak that ``tracemalloc`` measures while it decodes and matches a
    head phrase (and its slop and near forms). The former charge, 16
    bytes per posting and per position byte, falls short of it."""
    import tracemalloc

    from sifter_mrc_search_engine_spark.operators.wand import KERNEL_COLUMNS
    from sifter_mrc_search_engine_spark.sources.pages import VOCAB, synthesize_pages

    pages = synthesize_pages(spark, 3000, partitions=2).selectExpr(
        "cast(split(url, '/')[4] as long) as doc_id", "text"
    )
    path = str(tmp_path / "posidx")
    P.write_positional_index(pages, path)
    head = f"{VOCAB[0]} {VOCAB[1]}"
    for query in (P.phrase_query(head), P.slop_query(head, 2), P.near_query(head, 4)):
        rows = snapshot(spark, path).pruned(query.terms).select(*KERNEL_COLUMNS, "poss").collect()
        by_term = {}
        for r in rows:
            by_term.setdefault(r["term"], []).append(r)
        tracemalloc.start()
        try:
            post = {t: P._decode_term(segs) for t, segs in by_term.items()}
            matched = P._match_docs(post, query)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert matched is not None and matched.size > 0, query
        assert P._decode_charge(rows) >= peak, (query, P._decode_charge(rows), peak)
        assert 16 * sum(r["n"] + len(r["poss"]) for r in rows) < peak, query
