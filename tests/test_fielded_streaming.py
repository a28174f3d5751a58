"""Fielded (BM25F) streaming segments: per-batch fielded indexes must
answer weighted queries identically to a batch fielded build — and to
the brute-force oracle — over the full corpus. Exactness across
segments is structural here: the relational BM25F plan re-derives df
from the unioned candidate rows and n_docs/len_sums merge additively,
so no stale-bound compensation exists to get wrong."""

import pytest

from sifter_mrc_search_engine_spark.operators.bm25f import bm25f_brute_force
from sifter_mrc_search_engine_spark.operators.fielded_index import FieldedSearcher
from sifter_mrc_search_engine_spark.sources.pages import VOCAB, synthesize_pages
from sifter_mrc_search_engine_spark.streaming.incremental import (
    FieldedMultiSegmentSearcher,
    commit_segment,
    compact_fielded_segments,
    list_segments,
    stream_build_fielded_index,
)

N_DOCS = 480
FIELDS = ["content", "title"]
WEIGHTS = {"title": 3.0, "content": 1.0}
QUERIES = [VOCAB[0], f"{VOCAB[0]} {VOCAB[40]}", f"{VOCAB[2]} {VOCAB[7]} {VOCAB[100]}"]


def _pages(spark, n):
    from pyspark.sql import functions as F

    return synthesize_pages(spark, n, partitions=4).selectExpr(
        "cast(split(url, '/')[4] as long) as doc_id", "text"
    ).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 6)).alias("title"),
        F.col("text").alias("content"),
    )


@pytest.fixture(scope="module")
def fstreamed(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("fstream")
    in_dir, idx_dir, ckpt = str(root / "in"), str(root / "idx"), str(root / "ckpt")
    docs = _pages(spark, N_DOCS).cache()
    for i, (lo, hi) in enumerate([(0, 160), (160, 320), (320, 480)]):
        docs.filter(f"doc_id >= {lo} and doc_id < {hi}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/chunk={i}")
    stream_build_fielded_index(
        spark, f"{in_dir}/chunk=*", idx_dir, ckpt, FIELDS, buckets=8,
        max_files_per_trigger=1,
    )
    return docs, idx_dir


def test_fielded_segments_created(spark, fstreamed):
    _, idx_dir = fstreamed
    assert len(list_segments(idx_dir)) >= 2  # chunks arrived as batches


@pytest.mark.parametrize("q", QUERIES)
def test_fielded_multisegment_matches_brute_force(spark, fstreamed, q):
    docs, idx_dir = fstreamed
    s = FieldedMultiSegmentSearcher(spark, idx_dir)
    exp = [
        (r["doc_id"], r["score"])
        for r in bm25f_brute_force(docs, q, WEIGHTS, top_k=10).collect()
    ]
    got = s.search(q, WEIGHTS, top_k=10)
    assert [d for d, _ in got] == [d for d, _ in exp], q
    for (_, gs), (_, es) in zip(got, exp):
        assert gs == es


def test_fielded_multisegment_subset_weights(spark, fstreamed):
    docs, idx_dir = fstreamed
    s = FieldedMultiSegmentSearcher(spark, idx_dir)
    w = {"title": 2.0}  # subset of indexed fields
    exp = [
        (r["doc_id"], r["score"])
        for r in bm25f_brute_force(docs, QUERIES[1], w, top_k=5).collect()
    ]
    got = s.search(QUERIES[1], w, top_k=5)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert gs == es


def test_fielded_overlap_detected_and_compacted(spark, tmp_path):
    """A doc re-delivered with NEW field content in a later batch: the
    merged searcher refuses; compaction dedupes keep-latest and the
    compacted dir serves through the ordinary FieldedSearcher."""
    from sifter_mrc_search_engine_spark.operators.fielded_index import (
        build_fielded_index,
    )

    idx_dir = str(tmp_path / "fidx")
    seg0 = spark.createDataFrame(
        [(1, "alpha headline", "alpha beta body words"),
         (2, "beta headline", "beta gamma body words")],
        "doc_id long, title string, content string",
    )
    # doc 2 re-delivered with NEW content in the later segment
    seg1 = spark.createDataFrame(
        [(2, "delta headline", "alpha alpha delta body"),
         (3, "gamma headline", "gamma delta body words")],
        "doc_id long, title string, content string",
    )
    for i, seg in enumerate([seg0, seg1]):
        d = f"{idx_dir}/segments/seg={i}"
        build_fielded_index(seg, FIELDS, d, buckets=4)
        commit_segment(d, spark)

    with pytest.raises(ValueError, match="overlap"):
        FieldedMultiSegmentSearcher(spark, idx_dir)

    out = compact_fielded_segments(spark, idx_dir, buckets=4)
    latest = spark.createDataFrame(
        [(1, "alpha headline", "alpha beta body words"),
         (2, "delta headline", "alpha alpha delta body"),
         (3, "gamma headline", "gamma delta body words")],
        "doc_id long, title string, content string",
    )
    s = FieldedSearcher(spark, out, preload=True)
    for q in ["alpha", "gamma delta", "beta", "headline"]:
        exp = [
            (r["doc_id"], r["score"])
            for r in bm25f_brute_force(latest, q, WEIGHTS, top_k=10).collect()
        ]
        for method in ("exhaustive", "wand"):
            got = s.search(q, WEIGHTS, top_k=10, method=method)
            assert [d for d, _ in got] == [d for d, _ in exp], (q, method)
            for (_, gs), (_, es) in zip(got, exp):
                assert gs == es


def test_mixed_field_segments_refused(spark, tmp_path):
    from sifter_mrc_search_engine_spark.operators.fielded_index import (
        build_fielded_index,
    )

    idx_dir = str(tmp_path / "fidx2")
    seg0 = spark.createDataFrame(
        [(1, "alpha headline", "alpha beta body")],
        "doc_id long, title string, content string",
    )
    seg1 = spark.createDataFrame(
        [(2, "beta body only")], "doc_id long, content string"
    )
    build_fielded_index(seg0, FIELDS, f"{idx_dir}/segments/seg=0", buckets=4)
    build_fielded_index(seg1, ["content"], f"{idx_dir}/segments/seg=1", buckets=4)
    for i in range(2):
        commit_segment(f"{idx_dir}/segments/seg={i}", spark)
    with pytest.raises(ValueError, match="mixed-field"):
        FieldedMultiSegmentSearcher(spark, idx_dir)


def test_fielded_multisegment_preload_kernels(spark, fstreamed):
    """The preload serving tier over streamed fielded segments: every
    driver kernel (exhaustive, WAND full-fields via summed sidecars,
    WAND subset-weights via exact union df, cost-model auto) is
    score-identical to brute force over the full corpus — the same
    contract the relational path already carries."""
    docs, idx_dir = fstreamed
    s = FieldedMultiSegmentSearcher(spark, idx_dir, preload=True)
    for q in QUERIES:
        exp = [
            (r["doc_id"], r["score"])
            for r in bm25f_brute_force(docs, q, WEIGHTS, top_k=10).collect()
        ]
        for method in ("exhaustive", "wand", "auto"):
            got = s.search(q, WEIGHTS, top_k=10, method=method)
            assert [d for d, _ in got] == [d for d, _ in exp], (q, method)
            for (_, gs), (_, es) in zip(got, exp):
                assert gs == es
    # subset weights route through the exact union-df derivation
    w = {"title": 2.0}
    exp = [
        (r["doc_id"], r["score"])
        for r in bm25f_brute_force(docs, QUERIES[1], w, top_k=5).collect()
    ]
    for method in ("exhaustive", "wand"):
        got = s.search(QUERIES[1], w, top_k=5, method=method)
        assert [d for d, _ in got] == [d for d, _ in exp], method
    # no-preload 'wand' and unknown fields still fail loudly
    s2 = FieldedMultiSegmentSearcher(spark, idx_dir)
    with pytest.raises(ValueError, match="preload"):
        s2.search(QUERIES[0], WEIGHTS, method="wand")
    with pytest.raises(ValueError, match="unindexed"):
        s.search(QUERIES[0], {"headline": 1.0})


def test_fielded_multiseg_partial_sidecar_stays_exact(spark, fstreamed, tmp_path):
    """A store mixing sidecar-less (legacy) and current segments must
    NOT treat the partial term_df sum as the union df — understated df
    inflates idf and WAND drops terms that live only in the legacy
    segment. Contract: the partial sidecar is discarded (auto falls to
    exhaustive, wand derives the exact union df) and every method stays
    brute-force-identical."""
    import shutil

    docs, idx_dir = fstreamed
    # clone the store and strip ONE segment's sidecar
    clone = str(tmp_path / "partial")
    shutil.copytree(idx_dir, clone)
    segs = list_segments(clone)
    assert len(segs) >= 2
    shutil.rmtree(f"{segs[0]}/term_df")
    s = FieldedMultiSegmentSearcher(spark, clone, preload=True)
    assert s._term_df == {}  # partial sum rejected, not silently used
    for q in QUERIES[:2]:
        exp = [
            (r["doc_id"], r["score"])
            for r in bm25f_brute_force(docs, q, WEIGHTS, top_k=10).collect()
        ]
        for method in ("auto", "exhaustive", "wand"):
            got = s.search(q, WEIGHTS, top_k=10, method=method)
            assert [d for d, _ in got] == [d for d, _ in exp], (q, method)
            for (_, gs), (_, es) in zip(got, exp):
                assert gs == es


def test_fielded_multisegment_preload_budget(spark, fstreamed):
    """preload=True on the streamed fielded tier must refuse an
    over-budget postings/doclens collect with a clear error (VERDICT r4
    item 6) instead of OOMing the driver at scale."""
    from sifter_mrc_search_engine_spark.operators.compressed_index import (
        PreloadBudgetExceeded,
    )

    _, idx_dir = fstreamed
    with pytest.raises(PreloadBudgetExceeded, match="preload_budget_bytes"):
        FieldedMultiSegmentSearcher(
            spark, idx_dir, preload=True, preload_budget_bytes=16
        )
    # non-preload construction ignores the budget (nothing collected)
    s = FieldedMultiSegmentSearcher(
        spark, idx_dir, preload_budget_bytes=16
    )
    assert s._mem is None
