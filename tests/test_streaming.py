"""Structured Streaming incremental index: segments must answer queries
identically to a batch build over the full corpus."""

import pytest

from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force
from sifter_mrc_search_engine_spark.operators.compressed_index import IndexSnapshot
from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
from sifter_mrc_search_engine_spark.sources.pages import VOCAB, synthesize_pages
from sifter_mrc_search_engine_spark.streaming.incremental import (
    _write_segment,
    commit_segment,
    compact_segments,
    list_segments,
    stream_build_index,
)

N_DOCS = 600


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    in_dir, idx_dir, ckpt = str(root / "in"), str(root / "idx"), str(root / "ckpt")
    docs = synthesize_pages(spark, N_DOCS, partitions=4).selectExpr(
        "cast(split(url, '/')[4] as long) as doc_id", "text"
    ).cache()
    # three arriving chunks
    for i, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 600)]):
        docs.filter(f"doc_id >= {lo} and doc_id < {hi}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/chunk={i}")
    stream_build_index(spark, f"{in_dir}/chunk=*", idx_dir, ckpt, buckets=8)
    return docs, idx_dir


def test_segments_created(spark, streamed):
    _, idx_dir = streamed
    assert len(list_segments(idx_dir)) >= 1


QUERIES = [VOCAB[0], f"{VOCAB[0]} {VOCAB[40]}", f"{VOCAB[2]} {VOCAB[7]} {VOCAB[100]}"]


def _no_driver_norms(monkeypatch):
    """Make any driver norms collect fail the test."""

    def refuse(self, budget_bytes):
        raise AssertionError("join mode collected doclens to the driver")

    monkeypatch.setattr(IndexSnapshot, "norms", refuse)


def test_multisegment_join_norms_no_driver_state(spark, streamed, monkeypatch):
    """norms='join' must serve identical results with ZERO doclens on the
    driver — the 10^12-doc serving shape."""
    docs, idx_dir = streamed
    pre = IndexSearcher(spark, idx_dir)
    want = {q: pre.search(q, top_k=10) for q in QUERIES + ["zzznotaterm"]}
    _no_driver_norms(monkeypatch)
    joined = IndexSearcher(spark, idx_dir, norms="join")
    for q in QUERIES + ["zzznotaterm"]:
        a, b = want[q], joined.search(q, top_k=10)
        assert [d for d, _ in a] == [d for d, _ in b], q
        for (_, sa), (_, sb) in zip(a, b):
            assert sb == sa


@pytest.mark.parametrize("q", QUERIES)
def test_multisegment_search_equals_batch_oracle(spark, streamed, q):
    docs, idx_dir = streamed
    s = IndexSearcher(spark, idx_dir)
    expected = [
        (r["doc_id"], r["score"]) for r in bm25_brute_force(docs, q, top_k=10).collect()
    ]
    got = s.search(q, top_k=10)
    assert [d for d, _ in got] == [d for d, _ in expected], q
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gs == es


def test_multisegment_prunes_with_each_segments_modulus(spark, tmp_path):
    """The searcher takes no bucket count: each segment's stats.json
    records the modulus it was written with. A 300-doc stream built with
    ``buckets=8`` answers == the brute-force oracle, and so does a store
    mixing that stream with a ``buckets=4`` segment and a segment whose
    stats.json predates the field (written with ``TERM_BUCKETS``)."""
    import json

    docs = synthesize_pages(spark, 300, partitions=2).selectExpr(
        "cast(split(url, '/')[4] as long) + 1000 as doc_id", "text"
    ).cache()
    in_dir, idx = str(tmp_path / "in"), str(tmp_path / "idx")
    docs.coalesce(1).write.parquet(in_dir)
    stream_build_index(spark, in_dir, idx, str(tmp_path / "ckpt"), buckets=8)
    segs = list_segments(idx)
    assert [json.loads(open(f"{s}/stats.json").read())["buckets"] for s in segs] == [8]

    def check(corpus):
        s = IndexSearcher(spark, idx)
        for q in QUERIES:
            want = [
                (r["doc_id"], r["score"])
                for r in bm25_brute_force(corpus, q, top_k=10).collect()
            ]
            assert want and s.search(q, top_k=10) == want, q

    check(docs)
    extra = spark.createDataFrame(
        [(1, f"{VOCAB[0]} {VOCAB[40]} {VOCAB[2]}"), (2, f"{VOCAB[7]} {VOCAB[100]}")],
        "doc_id long, text string",
    )
    old = spark.createDataFrame(
        [(3, f"{VOCAB[0]} {VOCAB[7]} {VOCAB[100]} {VOCAB[2]}")], "doc_id long, text string"
    )
    _write_segment(extra, f"{idx}/segments/seg=100", buckets=4)
    _write_segment(old, f"{idx}/segments/seg=101", buckets=64)
    stats_path = f"{idx}/segments/seg=101/stats.json"
    st = json.loads(open(stats_path).read())
    del st["buckets"]
    with open(stats_path, "w") as f:
        f.write(json.dumps(st))
    commit_segment(f"{idx}/segments/seg=101")  # re-commit the edited stats
    check(docs.unionByName(extra).unionByName(old))


def test_streaming_checkpoint_no_reprocess(spark, streamed):
    docs, idx_dir = streamed
    n_before = len(list_segments(idx_dir))
    # re-running the stream with the same checkpoint ingests nothing new
    import re

    ckpt = idx_dir.replace("idx", "ckpt")
    in_dir = idx_dir.replace("idx", "in")
    stream_build_index(spark, f"{in_dir}/chunk=*", idx_dir, ckpt, buckets=8)
    assert len(list_segments(idx_dir)) == n_before


def test_compaction_preserves_results(spark, streamed):
    docs, idx_dir = streamed
    compact_dir = compact_segments(spark, idx_dir, buckets=8)
    s = IndexSearcher(spark, compact_dir)
    for q in QUERIES:
        expected = [
            (r["doc_id"], r["score"])
            for r in bm25_brute_force(docs, q, top_k=10).collect()
        ]
        got = s.search(q, top_k=10)
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gs == es


def test_compaction_blockmax_tight(spark, streamed):
    """Post-compaction the per-block impact bounds are exact maxima under
    the merged stats (segment-era bounds were stale-but-safe): every
    block's stored max equals the max recomputed impact of its postings,
    so WAND pruning over the compacted index is as tight as a batch build."""
    import json
    import numpy as np
    from sifter_mrc_search_engine_spark.constants import BM25_B, BM25_K1
    from sifter_mrc_search_engine_spark.operators import bm25
    from sifter_mrc_search_engine_spark.operators.postings_codec import (
        decode_blockmax,
        decode_postings,
    )

    _, idx_dir = streamed
    compact_dir = f"{idx_dir}/compacted"
    stats = json.loads(open(f"{compact_dir}/stats.json").read())
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    dl = {
        r["doc_id"]: r["doc_len"]
        for r in spark.read.parquet(f"{compact_dir}/doclens").collect()
    }
    rows = spark.read.parquet(f"{compact_dir}/postings").collect()
    assert rows
    for r in rows[:50]:
        ids, tfs = decode_postings(
            gaps=bytes(r["gaps"]), tfs=bytes(r["tfs"]), n=int(r["n"]),
            skips=bytes(r["skips"]), block_size=int(r["block_size"]),
        )
        df = int(r["df"])
        idf = bm25.idf(df, n_docs)
        tf = tfs.astype(np.float64)
        dls = np.array([dl[int(i)] for i in ids], dtype=np.float64)
        imp = idf * tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * ((1.0 - BM25_B) + BM25_B * dls / avgdl))
        bm = decode_blockmax(bytes(r["blockmax"]))
        bs = int(r["block_size"])
        for b in range(bm.size):
            true_max = imp[b * bs : (b + 1) * bs].max()
            assert bm[b] == true_max


def test_overlapping_segments_detected_and_compacted(spark, tmp_path):
    """A doc_id re-delivered in a later batch: the searcher refuses the
    inconsistent segment set; compaction dedupes keep-latest."""
    idx_dir = str(tmp_path / "idx")
    seg0 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    # doc 2 re-delivered with NEW content in the later segment
    seg1 = spark.createDataFrame(
        [(2, "alpha alpha delta"), (3, "gamma delta")], "doc_id long, text string"
    )
    _write_segment(seg0, f"{idx_dir}/segments/seg=0", buckets=4)
    _write_segment(seg1, f"{idx_dir}/segments/seg=1", buckets=4)

    with pytest.raises(ValueError, match="overlap"):
        IndexSearcher(spark, idx_dir)

    compact_dir = compact_segments(spark, idx_dir, buckets=4)
    # latest content wins: exactly-once corpus == docs 1,3 + NEW doc 2
    latest = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha alpha delta"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force

    s = IndexSearcher(spark, compact_dir)
    for q in ["alpha", "gamma delta", "beta"]:
        expected = [
            (r["doc_id"], r["score"])
            for r in bm25_brute_force(latest, q, top_k=10).collect()
        ]
        got = s.search(q, top_k=10)
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gs == es


def test_segment_order_numeric_past_ten(spark, tmp_path):
    """seg=10 must order AFTER seg=9, not after seg=1: keep-latest
    compaction picks the wrong winner under lexicographic order once a
    stream passes ten micro-batches."""
    idx_dir = str(tmp_path / "idx")
    # 11 segments; doc 7 appears in seg=9 with OLD text and in seg=10 with NEW
    for b in range(11):
        if b == 9:
            rows = [(7, "old stale content alpha"), (900, f"filler doc {b}")]
        elif b == 10:
            rows = [(7, "new fresh content beta"), (1000, f"filler doc {b}")]
        else:
            rows = [(b * 10, f"filler doc number {b} gamma")]
        _write_segment(
            spark.createDataFrame(rows, "doc_id long, text string"),
            f"{idx_dir}/segments/seg={b}",
            buckets=4,
        )
    segs = list_segments(idx_dir)
    assert [s.rsplit("=", 1)[1] for s in segs] == [str(i) for i in range(11)]

    compact_dir = compact_segments(spark, idx_dir, buckets=4)
    s = IndexSearcher(spark, compact_dir)
    # the batch-10 content must win: 'beta' finds doc 7, 'alpha' does not
    assert [d for d, _ in s.search("beta", top_k=5)] == [7]
    assert [d for d, _ in s.search("alpha", top_k=5)] == []


def test_mixed_schema_segments_search_and_compact(spark, tmp_path):
    """A segment written BEFORE the blockmaxtf codec column existed (old
    on-disk layout) must still union with post-upgrade segments: search
    and compaction run, and scores match the batch oracle. Simulates the
    old layout by dropping blockmaxtf from one segment's postings."""
    idx_dir = str(tmp_path / "idx")
    seg0 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    seg1 = spark.createDataFrame(
        [(3, "alpha delta"), (4, "gamma delta epsilon")],
        "doc_id long, text string",
    )
    _write_segment(seg0, f"{idx_dir}/segments/seg=0", buckets=4)
    _write_segment(seg1, f"{idx_dir}/segments/seg=1", buckets=4)
    # rewrite seg=0's postings without the blockmaxtf column (old layout)
    old = spark.read.parquet(f"{idx_dir}/segments/seg=0/postings")
    stripped = old.drop("blockmaxtf").collect()
    schema = old.drop("blockmaxtf").schema
    spark.createDataFrame(stripped, schema).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(f"{idx_dir}/segments/seg=0/postings")

    full = seg0.unionByName(seg1)
    from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force

    for norms in ("preload", "join"):
        s = IndexSearcher(spark, idx_dir, norms=norms)
        for q in ["alpha", "gamma delta"]:
            expected = [
                (r["doc_id"], r["score"])
                for r in bm25_brute_force(full, q, top_k=10).collect()
            ]
            got = s.search(q, top_k=10)
            assert [d for d, _ in got] == [d for d, _ in expected], (norms, q)
            for (_, gs), (_, es) in zip(got, expected):
                assert gs == es

    # compaction re-encodes (restoring blockmaxtf for every term)
    compact_dir = compact_segments(spark, idx_dir, buckets=4)
    assert "blockmaxtf" in spark.read.parquet(f"{compact_dir}/postings").columns
    s2 = IndexSearcher(spark, compact_dir)
    got = s2.search("alpha", top_k=10)
    expected = [
        (r["doc_id"], r["score"])
        for r in bm25_brute_force(full, "alpha", top_k=10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]


HITS = ["query_id", "rank", "doc_id", "score"]


def test_multisegment_relational_contract(spark, streamed):
    """The zero-driver-norms relational plan (in-plan merged df) matches
    search() and keeps the engine's empty-question contract: 0 rows,
    same schema."""
    _, idx_dir = streamed
    s = IndexSearcher(spark, idx_dir, norms="join")
    df = s.search_many_relational([QUERIES[1]], top_k=5)
    assert [f.name for f in df.schema.fields] == HITS
    got = [(r["doc_id"], r["score"]) for r in sorted(df.collect(), key=lambda r: r["rank"])]
    assert got and got == IndexSearcher(spark, idx_dir).search(QUERIES[1], top_k=5)
    empty = s.search_many_relational(["!!! ..."], top_k=5)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == HITS


def test_multisegment_norms_preload_budget(spark, streamed, tmp_path):
    """norms='preload' must size-estimate the unioned doclens before
    collecting and refuse above the budget, naming the knob. A copy of
    the store (its commit point lists relative paths) gives a snapshot
    whose norms are not loaded yet."""
    import shutil

    from sifter_mrc_search_engine_spark.operators.compressed_index import (
        PreloadBudgetExceeded,
    )

    _, idx_dir = streamed
    clone = str(tmp_path / "clone")
    shutil.copytree(idx_dir, clone)
    s = IndexSearcher(spark, clone, preload_budget_bytes=16)
    with pytest.raises(PreloadBudgetExceeded, match="preload_budget_bytes"):
        s.search(QUERIES[0], top_k=5)
    # join mode never collects norms: the tiny budget is irrelevant
    j = IndexSearcher(spark, clone, norms="join", preload_budget_bytes=16)
    assert j.search(QUERIES[0], top_k=5) == IndexSearcher(spark, idx_dir).search(
        QUERIES[0], top_k=5
    )


def test_searcher_follows_a_new_commit(spark, tmp_path):
    """A scan-mode searcher over a streamed dir sees a batch committed
    after it was built: its next search is == the brute-force oracle
    over the grown corpus. A preloaded searcher keeps its snapshot, and
    re-committing a segment changes nothing."""
    docs = synthesize_pages(spark, 300, partitions=2).selectExpr(
        "cast(split(url, '/')[4] as long) as doc_id", "text"
    ).cache()
    in_dir, idx, ckpt = str(tmp_path / "in"), str(tmp_path / "idx"), str(tmp_path / "ckpt")
    first = docs.filter("doc_id < 150")
    first.coalesce(1).write.parquet(f"{in_dir}/chunk=0")
    stream_build_index(spark, f"{in_dir}/chunk=*", idx, ckpt, buckets=8)
    scan, pinned = IndexSearcher(spark, idx), IndexSearcher(spark, idx, preload=True)

    def want(corpus, q):
        return [(r["doc_id"], r["score"]) for r in bm25_brute_force(corpus, q, top_k=10).collect()]

    before = {q: want(first, q) for q in QUERIES}
    assert all(before.values())
    assert {q: scan.search(q, top_k=10) for q in QUERIES} == before

    docs.filter("doc_id >= 150").coalesce(1).write.parquet(f"{in_dir}/chunk=1")
    stream_build_index(spark, f"{in_dir}/chunk=*", idx, ckpt, buckets=8)
    segs = list_segments(idx)
    assert len(segs) == 2
    after = {q: want(docs, q) for q in QUERIES}
    assert after != before
    assert {q: scan.search(q, top_k=10) for q in QUERIES} == after
    assert scan.search_many_local(QUERIES, top_k=10) == [after[q] for q in QUERIES]
    assert {q: pinned.search(q, top_k=10) for q in QUERIES} == before

    commit_segment(segs[0], spark)
    assert list_segments(idx) == segs
    assert {q: IndexSearcher(spark, idx).search(q, top_k=10) for q in QUERIES} == after
