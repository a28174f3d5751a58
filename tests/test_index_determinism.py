"""The physical index must be byte-identical regardless of input
partitioning / parallelism — the property that makes the N vs 4N scaling
runs comparable and resume byte-stable."""

from sifter_mrc_search_engine_spark.operators.compressed_index import (
    build_compressed_index,
)
from sifter_mrc_search_engine_spark.sources.pages import synthesize_pages


def _sig(rows):
    """Per row, every encoded column; ``poss`` is None on builds
    without positions."""
    return sorted(
        (
            r["term"], r["segment"], r["df"], r["n"],
            bytes(r["gaps"]), bytes(r["tfs"]), bytes(r["skips"]),
            bytes(r["blockmax"]), r["max_impact"],
            bytes(r["poss"]) if "poss" in r.__fields__ else None,
        )
        for r in rows
    )


def _docs(spark):
    return synthesize_pages(spark, 500, partitions=3).selectExpr(
        "cast(split(url, '/')[4] as long) as doc_id", "text"
    )


def test_index_identical_across_partitioning(spark):
    docs = _docs(spark)
    a = build_compressed_index(docs.repartition(2), salt_threshold=200, block_size=16).collect()
    b = build_compressed_index(docs.repartition(17), salt_threshold=200, block_size=16).collect()
    assert _sig(a) == _sig(b)


def test_positional_index_identical_across_partitioning(spark):
    """A ``positions=True`` build is deterministic too, and apart from
    ``poss`` it is byte-identical to the main build (salted segments
    included)."""
    docs = _docs(spark)
    kw = dict(salt_threshold=200, block_size=16)
    a = build_compressed_index(docs.repartition(2), positions=True, **kw).collect()
    b = build_compressed_index(docs.repartition(17), positions=True, **kw).collect()
    assert _sig(a) == _sig(b)
    assert all(s[-1] for s in _sig(a))
    plain = build_compressed_index(docs.repartition(5), **kw).collect()
    assert [s[:-1] for s in _sig(a)] == [s[:-1] for s in _sig(plain)]
    assert any(s[1] > 0 for s in _sig(a))  # salting really split a term
