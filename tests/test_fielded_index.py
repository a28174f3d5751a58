"""Fielded index: BM25F served from persisted per-field postings must be
rank- and score-identical (``==``) to the query-time brute force."""

import pytest
from pyspark.sql import functions as F

from sifter_mrc_search_engine_spark.operators.bm25f import bm25f_brute_force
from sifter_mrc_search_engine_spark.operators.fielded_index import (
    FIELD_SEP,
    build_fielded_index,
    search_bm25f,
)

WEIGHTS = {"title": 2.0, "content": 1.0}
QUESTIONS = ["the fast query", "window", "spark join merge table"]


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)).alias("title"),
        F.col("text").alias("content"),
    ).cache()


@pytest.fixture(scope="module")
def fielded_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fielded_idx"))
    stats = build_fielded_index(corpus, ["title", "content"], d, buckets=16)
    assert stats["fields"] == ["content", "title"] or stats["fields"] == sorted(["title", "content"])
    return d


@pytest.mark.parametrize("q", QUESTIONS)
def test_fielded_matches_brute_force(spark, corpus, fielded_dir, q):
    exp = [
        (r["doc_id"], r["score"])
        for r in bm25f_brute_force(corpus, q, WEIGHTS, top_k=10).collect()
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in search_bm25f(spark, fielded_dir, q, WEIGHTS, top_k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in exp], q
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == es


def test_weights_are_query_time(spark, corpus, fielded_dir):
    """The same persisted index serves DIFFERENT weightings correctly."""
    alt = {"title": 5.0, "content": 0.5}
    exp = [
        (r["doc_id"], r["score"])
        for r in bm25f_brute_force(corpus, "the fast query", alt, top_k=10).collect()
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in search_bm25f(spark, fielded_dir, "the fast query", alt, top_k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == es


def test_stored_terms_are_field_prefixed(spark, fielded_dir):
    rows = spark.read.parquet(f"{fielded_dir}/postings").select("term").limit(20).collect()
    assert rows and all(FIELD_SEP in r["term"] for r in rows)


def test_search_bm25f_no_full_doclens_aggregate(spark, fielded_dir):
    """avg_wdl must be a build-time literal (stats.json length sums), not
    a per-query aggregate over the whole doclens table — the r2 plan had
    an avg(wdl) over ALL docs in every query."""
    plan = (
        search_bm25f(spark, fielded_dir, "the fast query", WEIGHTS, top_k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "avg(" not in plan.lower(), plan[:2000]


def test_pruned_scan_shape(spark, fielded_dir):
    """The fielded query touches only the query terms' buckets — partition
    filters appear in the physical scan."""
    plan = search_bm25f(
        spark, fielded_dir, "the fast query", WEIGHTS, top_k=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan or "bucket#" in plan, plan[:2000]


@pytest.mark.parametrize("preload", [False, True])
def test_fielded_searcher_serving_kernel(spark, corpus, fielded_dir, preload):
    """The driver-side serving kernel (scan-mode and preloaded) matches
    brute force for multiple weightings."""
    from sifter_mrc_search_engine_spark.operators.fielded_index import FieldedSearcher

    s = FieldedSearcher(spark, fielded_dir, preload=preload)
    for w in (WEIGHTS, {"title": 5.0, "content": 0.5}):
        for q in QUESTIONS:
            exp = [
                (r["doc_id"], r["score"])
                for r in bm25f_brute_force(corpus, q, w, top_k=10).collect()
            ]
            got = s.search(q, w, top_k=10)
            assert [d for d, _ in got] == [d for d, _ in exp], (q, w, preload)
            for (gd, gs), (_, es) in zip(got, exp):
                assert gs == es
    # empty/unknown questions behave like the engine contract
    assert s.search("", WEIGHTS) == []
    assert s.search("zzznotaterm", WEIGHTS) == []


@pytest.mark.parametrize("method", ["wand", "exhaustive"])
def test_fielded_wand_vs_exhaustive(spark, corpus, fielded_dir, method):
    """Pruned multi-field WAND == exhaustive kernel == brute force, at a
    small top_k where the threshold actually bites."""
    from sifter_mrc_search_engine_spark.operators.fielded_index import FieldedSearcher

    s = FieldedSearcher(spark, fielded_dir, preload=True)
    assert s._term_df  # build wrote the union-df sidecar
    for q in QUESTIONS + ["the the the", "window table"]:
        exp = [
            (r["doc_id"], r["score"])
            for r in bm25f_brute_force(corpus, q, WEIGHTS, top_k=3).collect()
        ]
        got = s.search(q, WEIGHTS, top_k=3, method=method)
        assert [d for d, _ in got] == [d for d, _ in exp], (q, method)
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == es


def test_fielded_join_norms_no_driver_state(spark, corpus, fielded_dir):
    """FieldedSearcher(norms='join') serves without collecting any
    per-field doclens to the driver — results match the preload kernel."""
    from sifter_mrc_search_engine_spark.operators.fielded_index import FieldedSearcher

    pre = FieldedSearcher(spark, fielded_dir, preload=True)
    joined = FieldedSearcher(spark, fielded_dir, norms="join")
    assert all(not m for m in joined._flen.values())  # nothing collected
    for q in QUESTIONS:
        a = pre.search(q, WEIGHTS, top_k=5)
        b = joined.search(q, WEIGHTS, top_k=5)
        assert [d for d, _ in a] == [d for d, _ in b], q
        for (_, sa), (_, sb) in zip(a, b):
            assert sb == sa
    # join mode cannot honor the driver WAND kernel — must fail loudly,
    # not silently run a different execution strategy
    with pytest.raises(ValueError, match="wand"):
        joined.search(QUESTIONS[0], WEIGHTS, top_k=5, method="wand")


@pytest.mark.parametrize("method", ["wand", "exhaustive"])
def test_fielded_wand_subset_weights(spark, corpus, fielded_dir, method):
    """Weights covering a SUBSET of the indexed fields must still match
    brute force: the term_df sidecar (union df over ALL fields) is not
    the right idf then — WAND must derive the union df over the queried
    fields from the fetched rows."""
    from sifter_mrc_search_engine_spark.operators.fielded_index import FieldedSearcher

    s = FieldedSearcher(spark, fielded_dir, preload=True)
    w = {"title": 3.0}  # subset of ["content", "title"]
    for q in QUESTIONS:
        exp = [
            (r["doc_id"], r["score"])
            for r in bm25f_brute_force(corpus, q, w, top_k=5).collect()
        ]
        got = s.search(q, w, top_k=5, method=method)
        assert [d for d, _ in got] == [d for d, _ in exp], (q, method)
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == es


def test_fielded_wand_skips_blocks():
    """The weight-free per-block max-tf metadata must let multi-field
    WAND skip decoding blocks. Scenario where TERM-level bounds cannot
    prune but BLOCK-level ones do: every term is flat tf=1 except a
    coinciding tf=50 spike at doc 7, so the global max tf keeps every
    term's UB above the threshold while every post-spike block's max tf
    of 1 bounds it below."""
    import numpy as np

    from sifter_mrc_search_engine_spark.operators import wand as wand_mod
    from sifter_mrc_search_engine_spark.operators.fielded_index import (
        FIELD_SEP,
        bm25f_wand_topk,
    )
    from sifter_mrc_search_engine_spark.operators.postings_codec import encode_postings

    n, bs = 20_000, 128
    ids = np.arange(n, dtype=np.int64)

    def tfs_with_spike():
        t = np.ones(n, dtype=np.int64)
        t[7] = 50
        return t

    def row(field, term, tfs):
        e = encode_postings(ids, tfs, impacts=None, block_size=bs)
        return {
            "term": f"{field}{FIELD_SEP}{term}", "segment": 0, "df": n,
            "n": e["n"], "block_size": bs, "min_doc": 0,
            "max_doc": n - 1, "max_impact": 0.0, "gaps": e["gaps"],
            "tfs": e["tfs"], "skips": e["skips"], "blockmax": e["blockmax"],
            "blockmaxtf": e["blockmaxtf"],
        }

    rows = [
        row("body", "alpha", tfs_with_spike()),
        row("title", "alpha", tfs_with_spike()),
        row("body", "beta", tfs_with_spike()),
    ]
    flen = {
        "body": {int(d): 100 for d in ids},
        "title": {int(d): 10 for d in ids},
    }
    df_by_term = {"alpha": n, "beta": n}
    weights = {"body": 1.0, "title": 2.0}
    avg_wdl = 1.0 * 100 + 2.0 * 10

    loads = {"n": 0}
    orig = wand_mod._Cursor._load_block

    def counting(self, blk):
        loads["n"] += 1
        return orig(self, blk)

    wand_mod._Cursor._load_block = counting
    try:
        got = bm25f_wand_topk(rows, weights, flen, n, avg_wdl, df_by_term, top_k=1)
    finally:
        wand_mod._Cursor._load_block = orig
    assert [d for d, _ in got] == [7]
    total_blocks = 3 * ((n + bs - 1) // bs)
    assert loads["n"] <= 12, (
        f"{loads['n']} block loads of {total_blocks} — block-max-tf "
        "pruning is not skipping"
    )


def test_fielded_interrupted_then_resumed_equals_uninterrupted(
    spark, corpus, tmp_path_factory
):
    """Kill/resume identity for the FIELDED build: a run truncated to 3 of
    16 buckets plus a resume must produce byte-identical postings, the
    same term_df sidecar, and the same stats as a one-shot build."""
    from sifter_mrc_search_engine_spark.plans.checkpoint import (
        build_fielded_index_resumable,
        read_manifest,
    )

    full_dir = str(tmp_path_factory.mktemp("fidx_full"))
    part_dir = str(tmp_path_factory.mktemp("fidx_part"))
    fields = ["title", "content"]

    r_full = build_fielded_index_resumable(corpus, fields, full_dir, buckets=16)
    assert sorted(r_full["built_buckets"]) == list(range(16))

    r1 = build_fielded_index_resumable(
        corpus, fields, part_dir, buckets=16, max_buckets_this_run=3
    )
    assert len(r1["built_buckets"]) == 3
    kinds = {m.get("kind") for m in read_manifest(part_dir)}
    assert "doclens" in kinds and "term_df" not in kinds  # sidecar waits

    r2 = build_fielded_index_resumable(corpus, fields, part_dir, buckets=16)
    assert r2["resumed"] and r2["skipped"] == 3
    assert set(r1["built_buckets"]).isdisjoint(r2["built_buckets"])
    assert "term_df" in {m.get("kind") for m in read_manifest(part_dir)}

    def sig(d):
        rows = spark.read.parquet(f"{d}/postings").collect()
        return sorted(
            (r["term"], r["segment"], r["bucket"], r["df"], r["n"],
             bytes(r["gaps"]), bytes(r["tfs"]), bytes(r["skips"]),
             bytes(r["blockmax"]), bytes(r["blockmaxtf"]))
            for r in rows
        )

    assert sig(part_dir) == sig(full_dir)
    tdf = lambda d: sorted(
        (r["term"], r["df"]) for r in spark.read.parquet(f"{d}/term_df").collect()
    )
    assert tdf(part_dir) == tdf(full_dir)

    # third run is a no-op; served results match brute force
    r3 = build_fielded_index_resumable(corpus, fields, part_dir, buckets=16)
    assert r3["built_buckets"] == [] and r3["skipped"] == 16
    # same return shape as a real build (no KeyError on idempotent re-run)
    assert r3["n_docs"] == r_full["n_docs"] and r3["wall_ms"] == 0
    exp = [
        (r["doc_id"], r["score"])
        for r in bm25f_brute_force(corpus, "the fast query", WEIGHTS, top_k=5).collect()
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in search_bm25f(spark, part_dir, "the fast query", WEIGHTS, top_k=5).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in exp]


def test_fielded_term_df_sidecar_is_union_df(spark, corpus, fielded_dir):
    """term_df must be the UNION df (docs containing the term in ANY
    field) — the idf driving both kernels and the oracle."""
    import duckdb

    from pyspark.sql import functions as F

    got = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{fielded_dir}/term_df").collect()
    }
    exp_df = (
        corpus.select(
            "doc_id",
            F.explode(
                F.array_union(
                    F.regexp_extract_all(F.lower("title"), F.lit("[a-z0-9가-힣]+"), F.lit(0)),
                    F.regexp_extract_all(F.lower("content"), F.lit("[a-z0-9가-힣]+"), F.lit(0)),
                )
            ).alias("term"),
        )
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    exp = {r["term"]: r["df"] for r in exp_df.collect()}
    assert got == exp


def test_unknown_weight_field_raises(spark, corpus, fielded_dir):
    from sifter_mrc_search_engine_spark.operators.fielded_index import FieldedSearcher

    s = FieldedSearcher(spark, fielded_dir, preload=True)
    with pytest.raises(ValueError, match="unindexed"):
        s.search("the fast query", {"headline": 2.0}, top_k=5)
    with pytest.raises(ValueError, match="unindexed"):
        search_bm25f(
            spark, fielded_dir, "the fast query", {"headline": 2.0},
            top_k=5,
        )


def test_auto_cost_model_decisions(spark, corpus, fielded_dir):
    """The 'auto' cost model picks WAND exactly on the measured-winner
    shape: >=2 terms, enough total volume, a dominant prunable dense
    list (small candidate ratio), and candidate spacing within a few
    codec blocks. All decisions are pure functions of the union-df
    sidecar — pinned here with synthetic df tables."""
    from sifter_mrc_search_engine_spark.operators.fielded_index import FieldedSearcher

    s = FieldedSearcher(spark, fielded_dir, preload=True)

    def pick(dfs):
        s._term_df = {f"t{i}": d for i, d in enumerate(dfs)}
        return s._pick_method([f"t{i}" for i in range(len(dfs))])

    assert pick([116940]) == "exhaustive"            # single term: no pruning
    assert pick([101530, 116940]) == "exhaustive"    # head2: dense tie
    assert pick([653, 1062]) == "exhaustive"         # mid2: tiny volume
    assert pick([128, 192]) == "exhaustive"          # tail2: tiny volume
    assert pick([128, 116940]) == "exhaustive"       # head_tail: spacing 914 blocks
    assert pick([1713, 85914]) == "wand"             # head_mid: measured winner
    assert pick([175, 791, 101530]) == "wand"        # three_mix: measured winner
    # 2.4M-scale head_mid: ratio/spacing unchanged but ~34k candidates —
    # the Python pivot loop measured 7.6 s vs ~5 s; the absolute
    # candidate cap must route it to the vectorized kernel
    assert pick([34260, 1718280]) == "exhaustive"
    s._term_df = {}
    assert s._pick_method(["anything"]) == "exhaustive"  # no sidecar

    # and auto == the fixed methods on real queries (identical results)
    s2 = FieldedSearcher(spark, fielded_dir, preload=True)
    w = {"title": 2.0, "content": 1.0}
    for q in ("the fast query", "window", "spark join merge table"):
        assert s2.search(q, w, top_k=10, method="auto") == s2.search(
            q, w, top_k=10, method="exhaustive"
        )


def test_fielded_searchers_read_bucket_modulus_from_stats(spark, corpus, tmp_path):
    """A fielded index records the bucket modulus it was built with, and
    every searcher prunes with it: built with ``buckets=8`` and opened
    with no modulus, the relational plan and both driver tiers answer
    == the brute-force oracle (pruning with the default modulus would
    drop postings)."""
    from sifter_mrc_search_engine_spark.operators.fielded_index import FieldedSearcher

    d = str(tmp_path / "fidx8")
    assert build_fielded_index(corpus, ["title", "content"], d, buckets=8)["buckets"] == 8
    searchers = [FieldedSearcher(spark, d), FieldedSearcher(spark, d, preload=True),
                 FieldedSearcher(spark, d, norms="join")]
    for q in QUESTIONS:
        want = [
            (r["doc_id"], r["score"])
            for r in bm25f_brute_force(corpus, q, WEIGHTS, top_k=10).collect()
        ]
        got = [
            (r["doc_id"], r["score"])
            for r in search_bm25f(spark, d, q, WEIGHTS, top_k=10).collect()
        ]
        assert want and got == want, q
        for s in searchers:
            assert s.search(q, WEIGHTS, top_k=10) == want, q
