"""Sidecar I/O on remote-style (scheme-bearing) index dirs.

``file://`` URIs deliberately take fsio's JVM Hadoop-FileSystem branch
— the same code path an ``s3a://`` / ``hdfs://`` dir takes in a real
deployment — while backing onto the local disk, so the remote plumbing
is exercised for real without an object store in the container."""

import json

import pytest

from sifter_mrc_search_engine_spark.functions import fsio


def test_fsio_primitives_local_and_remote(spark, tmp_path):
    for base in [str(tmp_path / "loc"), f"file://{tmp_path}/rem"]:
        p = fsio.join(base, "a", "b.txt")
        assert not fsio.exists(p, spark)
        fsio.write_text(p, "one\n", spark)
        assert fsio.exists(p, spark)
        assert fsio.read_text(p, spark) == "one" or fsio.read_text(p, spark) == "one\n"
        fsio.append_text(p, "two\n", spark)
        got = [ln for ln in fsio.read_text(p, spark).splitlines() if ln]
        assert got == ["one", "two"], base
        assert fsio.mtime_ns(p, spark) > 0
        kids = fsio.listdir(fsio.join(base, "a"), spark)
        assert len(kids) == 1 and kids[0].endswith("b.txt")
        # children must round-trip through fsio: Hadoop stringifies
        # them AUTHORITY-LESS (file:/x, no //) — misclassifying that as
        # a local path made list_segments return [] (live-repro'd)
        assert fsio.exists(kids[0], spark), kids[0]
        assert "two" in fsio.read_text(kids[0], spark)
        fsio.delete(p, spark)
        assert not fsio.exists(p, spark)
        # deleting a missing path is a no-op, listing a missing dir is []
        fsio.delete(p, spark)
        assert fsio.listdir(fsio.join(base, "nope"), spark) == []


def test_local_write_is_atomic(tmp_path):
    """A local write_text renames a temp sibling over the target: a
    reader polling while another thread rewrites stats.json between two
    different-length documents always parses one of them whole, and no
    temp file is left behind."""
    import threading

    p = str(tmp_path / "idx" / "stats.json")
    docs = [json.dumps({"n_docs": i, "pad": "x" * (i * 997 % 50_000)}) for i in range(1, 41)]
    fsio.write_text(p, docs[0])
    stop = threading.Event()

    def writer():
        for i in range(600):
            fsio.write_text(p, docs[i % len(docs)])
        stop.set()

    t = threading.Thread(target=writer)
    t.start()
    reads = 0
    while not stop.is_set():
        assert fsio.read_text(p) in docs
        reads += 1
    t.join()
    assert reads > 0
    assert sorted(x.name for x in (tmp_path / "idx").iterdir()) == ["stats.json"]


def test_fsio_join_preserves_scheme():
    assert fsio.join("s3a://bkt/idx", "stats.json") == "s3a://bkt/idx/stats.json"
    assert fsio.join("/tmp/x/", "a", "b") == "/tmp/x/a/b"


class IOException(Exception):
    """Stands in for PySpark's converted ``java.io.IOException``: the
    classifier reads the class name and the message."""


def test_no_append_message_matched_by_prefix():
    assert fsio._is_no_append_error(IOException("Not supported"))
    assert fsio._is_no_append_error(
        IOException("Append is not supported by org.apache.hadoop.fs.XFileSystem")
    )


def test_not_supported_mid_sentence_reraises():
    assert not fsio._is_no_append_error(
        IOException("lease recovery failed: operation not supported by the namenode")
    )
    # the message alone never decides: other classes re-raise
    assert not fsio._is_no_append_error(RuntimeError("Not supported"))


def test_index_build_and_serve_on_remote_style_dir(spark, tmp_path):
    """The full resumable build + search protocol against a file:// dir:
    manifest append, stats.json sidecar, resume, and query all route
    through the Hadoop FS branch."""
    from sifter_mrc_search_engine_spark.plans.checkpoint import (
        build_index_resumable,
        read_manifest,
    )
    from sifter_mrc_search_engine_spark.plans.query import IndexSearcher

    docs = spark.createDataFrame(
        [(i, f"remote tier document alpha beta number {i}") for i in range(20)],
        "doc_id long, text string",
    )
    idx = f"file://{tmp_path}/remidx"
    summary = build_index_resumable(docs, idx, buckets=4)
    assert summary["n_docs"] == 20
    manifest = read_manifest(idx)
    assert {m["bucket"] for m in manifest if "bucket" in m} == {0, 1, 2, 3}
    # resume: second run skips everything
    again = build_index_resumable(docs, idx, buckets=4)
    assert again["resumed"] and again["skipped"] == 4
    hits = IndexSearcher(spark, idx).search("alpha beta", top_k=5)
    assert len(hits) == 5


def test_positional_index_on_remote_style_dir(spark, tmp_path):
    import sifter_mrc_search_engine_spark.operators.positional as P

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(10)],
        "doc_id long, text string",
    )
    pos = f"file://{tmp_path}/remposidx"
    stats = P.write_positional_index(docs, pos, buckets=8)
    assert stats["buckets"] == 8
    assert len(P.phrase_topk_indexed(spark, pos, "alpha beta").collect()) == 10
    assert len(P.bool_topk_indexed(spark, pos, must=["gamma"]).collect()) == 10


def test_prepare_audit_on_remote_style_dir(spark, tmp_path):
    """materialize_prepared_corpus's invalidate-first audit protocol on
    a scheme-bearing output dir."""
    from pyspark.sql import functions as F

    from sifter_mrc_search_engine_spark.plans.prepare import (
        materialize_prepared_corpus,
    )

    docs = spark.createDataFrame(
        [(i, f"clean corpus document {i} with several words") for i in range(6)],
        "doc_id long, text string",
    )
    audit = docs.agg(F.count(F.lit(1)).alias("input"))
    out = f"file://{tmp_path}/remprep"
    opts = {"flag": 1}
    clean1, row1 = materialize_prepared_corpus(spark, docs, audit, out, opts)
    assert clean1.count() == 6 and row1["input"] == 6
    # same opts -> reused (audit read back, not recollected)
    clean2, row2 = materialize_prepared_corpus(spark, docs, audit, out, opts)
    assert row2["_prepare_opts"] == opts
    # changed opts -> rebuild, stale derived dir cleared
    stale = fsio.join(out, "derived_thing")
    fsio.write_text(fsio.join(stale, "x.txt"), "stale", spark)
    clean3, row3 = materialize_prepared_corpus(
        spark, docs, audit, out, {"flag": 2}, stale_paths=("derived_thing",)
    )
    assert row3["_prepare_opts"] == {"flag": 2}
    assert not fsio.exists(stale, spark)


def test_streaming_segments_on_remote_style_dir(spark, tmp_path):
    """The streaming tier end-to-end on a file:// index dir: the commit
    point, segment discovery, and multi-segment serving."""
    from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
    from sifter_mrc_search_engine_spark.streaming.incremental import (
        list_segments,
        stream_build_index,
    )

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(i, f"alpha beta streamed doc {i}") for i in range(12)],
        "doc_id long, text string",
    ).write.parquet(src)
    idx = f"file://{tmp_path}/streamidx"
    ckpt = str(tmp_path / "ckpt")
    stream_build_index(spark, src, idx, ckpt, buckets=4)
    segs = list_segments(idx, spark)
    assert segs, "no committed segments discovered on the file:// dir"
    hits = IndexSearcher(spark, idx).search("alpha", top_k=5)
    assert len(hits) == 5
