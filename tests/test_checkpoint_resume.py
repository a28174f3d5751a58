"""Checkpoint/resume + query-serving integration (FIXTURES.md §7)."""

import json
from pathlib import Path

import pytest

from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force
from sifter_mrc_search_engine_spark.operators.compressed_index import snapshot
from sifter_mrc_search_engine_spark.plans.checkpoint import (
    build_index_resumable,
    read_manifest,
)
from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
from sifter_mrc_search_engine_spark.sources.pages import VOCAB, synthesize_pages

N_DOCS = 800
BUCKETS = 8


@pytest.fixture(scope="module")
def docs(spark):
    d = (
        synthesize_pages(spark, N_DOCS, partitions=4)
        .selectExpr("cast(split(url, '/')[4] as long) as doc_id", "text")
        .cache()
    )
    d.count()
    return d


def _index_signature(spark, path):
    rows = spark.read.parquet(f"{path}/postings").collect()
    return sorted(
        (
            r["term"], r["segment"], r["bucket"], r["df"], r["n"],
            bytes(r["gaps"]), bytes(r["tfs"]), bytes(r["skips"]), bytes(r["blockmax"]),
        )
        for r in rows
    )


def test_interrupted_then_resumed_equals_uninterrupted(spark, docs, tmp_path_factory):
    full_dir = str(tmp_path_factory.mktemp("idx_full"))
    part_dir = str(tmp_path_factory.mktemp("idx_part"))

    r_full = build_index_resumable(docs, full_dir, buckets=BUCKETS)
    assert not r_full["resumed"]
    assert sorted(r_full["built_buckets"]) == list(range(BUCKETS))

    # simulated kill: only 3 buckets land
    r1 = build_index_resumable(docs, part_dir, buckets=BUCKETS, max_buckets_this_run=3)
    assert len(r1["built_buckets"]) == 3
    m1 = read_manifest(part_dir)
    assert {m.get("kind") for m in m1} >= {"doclens", None}
    # stats.json records the modulus; a resume with another one is refused
    with pytest.raises(ValueError, match="buckets"):
        build_index_resumable(docs, part_dir, buckets=2 * BUCKETS)

    # resume: completed buckets are NOT recomputed
    r2 = build_index_resumable(docs, part_dir, buckets=BUCKETS)
    assert r2["resumed"]
    assert r2["skipped"] == 3
    assert len(r2["built_buckets"]) == BUCKETS - 3
    assert set(r1["built_buckets"]).isdisjoint(r2["built_buckets"])

    # identical final index, byte for byte
    assert _index_signature(spark, part_dir) == _index_signature(spark, full_dir)

    # third run is a no-op — and returns the SAME shape as a real build
    # (idempotent callers read n_docs/wall_ms without a KeyError)
    r3 = build_index_resumable(docs, part_dir, buckets=BUCKETS)
    assert r3["built_buckets"] == [] and r3["skipped"] == BUCKETS
    assert r3["n_docs"] == r_full["n_docs"] and r3["wall_ms"] == 0


def test_manifest_lineage_fields(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_lineage"))
    build_index_resumable(docs, d, buckets=BUCKETS)
    m = read_manifest(d)
    bucket_rows = [x for x in m if "bucket" in x]
    assert len(bucket_rows) == BUCKETS
    for row in bucket_rows:
        assert row["input_fingerprint"].startswith("n800_")
        assert row["terms"] >= 0 and row["postings"] >= 0
        assert row["wall_ms"] >= 0 and row["docs_per_sec"] > 0
        assert row["completed_utc_ms"] > 0
    stats = json.loads((Path(d) / "stats.json").read_text())
    assert stats["n_docs"] == N_DOCS


def test_fingerprint_mismatch_refuses(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_fp"))
    build_index_resumable(docs, d, buckets=BUCKETS, max_buckets_this_run=1)
    other = docs.limit(100)
    with pytest.raises(ValueError, match="different input"):
        build_index_resumable(other, d, buckets=BUCKETS)


@pytest.fixture(scope="module")
def index_dir(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_search"))
    build_index_resumable(docs, d, buckets=BUCKETS)
    return d


@pytest.fixture(scope="module")
def searcher(spark, index_dir, request):
    """The bucket-pruned scan searcher; tests parametrize it indirectly
    with ``True`` to serve from the preloaded impact store instead."""
    preload = getattr(request, "param", False)
    return IndexSearcher(spark, index_dir, preload=preload)


QUERIES = [
    VOCAB[0],
    f"{VOCAB[0]} {VOCAB[40]}",
    f"{VOCAB[2]} {VOCAB[7]} {VOCAB[100]}",
    "zzznotaterm",
]
SEARCHERS = [pytest.param(False, id="scan"), pytest.param(True, id="preload")]


@pytest.mark.parametrize(
    "q, searcher",
    [pytest.param(q, False, id=q) for q in QUERIES]
    + [pytest.param(q, True, id=f"preload-{q}") for q in QUERIES],
    indirect=["searcher"],
)
def test_searcher_matches_brute_force(spark, docs, searcher, q):
    expected = [
        (r["doc_id"], r["score"]) for r in bm25_brute_force(docs, q, top_k=10).collect()
    ]
    got = searcher.search(q, top_k=10)
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gs == es


def test_search_many_matches_search(searcher):
    batch = searcher.search_many(QUERIES, top_k=10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for i, q in enumerate(QUERIES):
        single = searcher.search(q, top_k=10)
        got = [(d, s) for _, d, s in sorted(by_q.get(i, []))]
        assert got == single, q


def test_top_k_clamped_to_reference_ceiling(searcher):
    # server.py:18-19: top_k ∈ [1, 10]
    assert len(searcher.search(VOCAB[0], top_k=99)) == 10
    assert len(searcher.search(VOCAB[0], top_k=0)) == 1


def test_join_norms_serves_without_driver_doclens(spark, docs, searcher, tmp_path_factory):
    """norms='join' must answer single queries with NO doclens collect —
    the index snapshot's driver norms stay unloaded — and results
    identical to the preload path (the 10^12-doc serving shape: norms
    stay cluster-resident and ride the in-plan join)."""
    d = str(tmp_path_factory.mktemp("idx_join"))
    build_index_resumable(docs, d, buckets=BUCKETS)
    s = IndexSearcher(spark, d, norms="join")
    for q in QUERIES:
        got = s.search(q, top_k=10)
        exp = searcher.search(q, top_k=10)
        assert [d_ for d_, _ in got] == [d_ for d_, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert gs == es
    assert snapshot(spark, d).doclen is None, "join mode collected doclens to the driver"


@pytest.mark.parametrize("searcher", SEARCHERS, indirect=True)
def test_search_many_local_matches_search(searcher):
    batch = searcher.search_many_local(QUERIES, top_k=10)
    for q, got in zip(QUERIES, batch):
        assert got == searcher.search(q, top_k=10), q


@pytest.mark.parametrize("searcher", SEARCHERS, indirect=True)
def test_search_many_local_results_are_independent(searcher):
    """Repeated queries in a batch share one kernel run; mutating one
    result list must not change the other's."""
    q = QUERIES[1]
    first, second = searcher.search_many_local([q, q], top_k=10)
    assert len(first) > 1
    first[0] = (-1, -1.0)
    del first[1:]
    assert second == searcher.search(q, top_k=10)


#: doc-id spaces besides the packed one: ``IndexSnapshot.norms`` keeps a dict
#: (not an array) for both, and the scan path runs WAND for the sparse one
ID_SPACES = {
    "negative": ("doc_id - 400", -400, 1),
    "sparse": ("doc_id * 1000000007", 0, 1000000007),
}


@pytest.fixture(scope="module")
def id_space_dirs(docs, tmp_path_factory):
    """name -> an index of the corpus under each :data:`ID_SPACES` id map."""
    out = {}
    for name, (expr, _, _) in ID_SPACES.items():
        d = out[name] = str(tmp_path_factory.mktemp(f"idx_{name}"))
        build_index_resumable(
            docs.selectExpr(f"{expr} as doc_id", "text"), d, buckets=BUCKETS
        )
    return out


def test_preloaded_equals_scan_bitwise(spark, index_dir, id_space_dirs):
    """The decode-once impact store returns exactly (==, no tolerance)
    what the scan path returns, on packed, negative and sparse ids —
    and remapping ids monotonically only remaps the answers."""
    scan = IndexSearcher(spark, index_dir)
    pre = IndexSearcher(spark, index_dir, preload=True)
    base = [pre.search(q, top_k=10) for q in QUERIES]
    assert base == [scan.search(q, top_k=10) for q in QUERIES]
    assert any(base)
    assert pre.search_many_local(QUERIES) == scan.search_many_local(QUERIES)
    for name, (expr, shift, stride) in ID_SPACES.items():
        d = id_space_dirs[name]
        scan = IndexSearcher(spark, d)
        pre = IndexSearcher(spark, d, preload=True)
        assert isinstance(pre.doclen, dict), name
        got = [pre.search(q, top_k=10) for q in QUERIES]
        assert got == [scan.search(q, top_k=10) for q in QUERIES], name
        assert got == [[(i * stride + shift, s) for i, s in hits] for hits in base], name
        assert pre.search_many_local(QUERIES) == scan.search_many_local(QUERIES), name


def test_preloaded_searcher_pins_its_snapshot(spark, docs, tmp_path_factory):
    """A preloaded searcher reads postings, norms and stats at
    construction: rebuilding the directory under it from another corpus
    changes none of its answers."""
    import shutil

    d = str(tmp_path_factory.mktemp("idx_pinned"))
    build_index_resumable(docs, d, buckets=BUCKETS)
    reference = IndexSearcher(spark, d, preload=True)
    before = [reference.search(q, top_k=10) for q in QUERIES]
    pinned = IndexSearcher(spark, d, preload=True)  # not queried yet
    shutil.rmtree(d)
    build_index_resumable(docs.filter("doc_id % 3 = 0"), d, buckets=BUCKETS)
    assert [pinned.search(q, top_k=10) for q in QUERIES] == before
    rebuilt = IndexSearcher(spark, d, preload=True)
    assert [rebuilt.search(q, top_k=10) for q in QUERIES] != before


def test_snapshot_resolves_whole_under_concurrent_rewrites(spark, docs, tmp_path_factory):
    """Handler threads resolving the index snapshot while stats.json is
    rewritten in place (each rewrite is a new freshness token) always get
    a whole snapshot: no thread sees a partial stats.json or fails."""
    import sys
    import threading

    from sifter_mrc_search_engine_spark.functions import fsio

    d = str(tmp_path_factory.mktemp("idx_rewrites"))
    build_index_resumable(docs, d, buckets=BUCKETS)
    stats_path = fsio.join(d, "stats.json")
    text, want = fsio.read_text(stats_path), snapshot(spark, d).n_docs
    stop, errors, seen = threading.Event(), [], []

    def reader():
        try:
            while not stop.is_set():
                seen.append(snapshot(spark, d).n_docs)
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for _ in range(20):
            fsio.write_text(stats_path, text)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    assert seen and set(seen) == {want}


def test_search_many_relational_matches_brute_force(spark, docs, searcher):
    """The relational batch path is ALL-JVM float math — must equal the
    brute-force oracle exactly (tolerance 0)."""
    out = searcher.search_many_relational(QUERIES, top_k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for i, q in enumerate(QUERIES):
        expected = [
            (r["doc_id"], r["score"])
            for r in bm25_brute_force(docs, q, top_k=10).collect()
        ]
        got = [(d, s) for _, d, s in sorted(by_q.get(i, []))]
        assert got == expected, q


def _by_query(df, n: int) -> list[list[tuple[int, float]]]:
    """A batch frame's rows as one ``search``-shaped hit list per query."""
    out = [[] for _ in range(n)]
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return out


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


#: plan nodes that run a Python worker: pandas UDFs, grouped-map pandas,
#: row UDFs and ``createDataFrame(list)`` tables
PYTHON_NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "BatchEvalPython", "ExistingRDD")

HITS_TYPES = [("query_id", "int"), ("rank", "int"), ("doc_id", "bigint"), ("score", "double")]


@pytest.mark.parametrize("searcher", SEARCHERS, indirect=True)
def test_search_many_runs_no_python_worker(searcher):
    plan = _executed_plan(searcher.search_many(QUERIES, top_k=10))
    assert not [n for n in PYTHON_NODES if n in plan], plan
    assert "LocalTableScan" in plan, plan


def test_search_many_relational_plans_no_existing_rdd(searcher):
    """The relational plan's driver-known tables (term slots and the
    set -> query map) are local relations, not Python-fed RDDs; only the
    decode UDF runs Python."""
    plan = _executed_plan(searcher.search_many_relational(QUERIES, top_k=10))
    assert "ExistingRDD" not in plan, plan


def test_search_many_preloaded_equals_scan_equals_search(spark, index_dir, id_space_dirs):
    """Exact (==) agreement of the preloaded batch, the scan batch and
    per-question ``search``, on packed, negative and sparse ids."""
    for name, d in [("packed", index_dir), *id_space_dirs.items()]:
        scan = IndexSearcher(spark, d)
        pre = IndexSearcher(spark, d, preload=True)
        singles = [scan.search(q, top_k=10) for q in QUERIES]
        assert any(singles), name
        assert _by_query(scan.search_many(QUERIES, top_k=10), len(QUERIES)) == singles, name
        assert _by_query(pre.search_many(QUERIES, top_k=10), len(QUERIES)) == singles, name


@pytest.mark.parametrize("searcher", SEARCHERS, indirect=True)
@pytest.mark.parametrize("batch", [[], ["zzznotaterm", "!!!"]], ids=["empty", "unknown"])
def test_search_many_without_hits_is_typed_and_empty(searcher, batch):
    for method in ("search_many", "search_many_relational"):
        out = getattr(searcher, method)(batch, top_k=10)
        assert [(f.name, f.dataType.simpleString()) for f in out.schema] == HITS_TYPES
        assert "ExistingRDD" not in _executed_plan(out), method
        assert out.collect() == [], method


def test_join_norms_search_many_is_relational(spark, docs, tmp_path_factory):
    """A norms='join' searcher's batch is the relational plan, and it
    collects no norms to the driver."""
    d = str(tmp_path_factory.mktemp("idx_join_batch"))
    build_index_resumable(docs, d, buckets=BUCKETS)
    s = IndexSearcher(spark, d, norms="join")
    got = _by_query(s.search_many(QUERIES, top_k=10), len(QUERIES))
    assert any(got)
    assert got == _by_query(s.search_many_relational(QUERIES, top_k=10), len(QUERIES))
    assert snapshot(spark, d).doclen is None, "join mode collected doclens to the driver"


def test_search_many_budget_covers_decoded_batch(spark, index_dir, searcher):
    """The batch's decode (16 bytes per posting plus one slice's
    transients, ``decode_charge``) is charged against
    ``preload_budget_bytes``; a refusal names the distributed
    alternative, which the same searcher still serves."""
    from sifter_mrc_search_engine_spark.functions.analyzer import analyze
    from sifter_mrc_search_engine_spark.operators.compressed_index import (
        PreloadBudgetExceeded,
    )
    from sifter_mrc_search_engine_spark.operators.wand import decode_charge

    terms = sorted({t for q in QUERIES for t in analyze(q)})
    decoded = decode_charge([int(r["n"]) for r in searcher.candidate_rows(terms)])
    searcher.doclen  # norms cached: the budget below is the batch's alone
    tight = IndexSearcher(spark, index_dir, preload_budget_bytes=decoded - 1)
    with pytest.raises(PreloadBudgetExceeded, match="search_many_relational"):
        tight.search_many(QUERIES, top_k=10)
    with pytest.raises(PreloadBudgetExceeded, match="preload_budget_bytes"):
        tight.search_many_local(QUERIES, top_k=10)
    exact = IndexSearcher(spark, index_dir, preload_budget_bytes=decoded)
    assert exact.search_many_local(QUERIES, top_k=10) == searcher.search_many_local(QUERIES)
    assert _by_query(
        tight.search_many_relational(QUERIES, top_k=10), len(QUERIES)
    ) == searcher.search_many_local(QUERIES)


def test_scan_searcher_follows_in_place_rebuild(spark, docs, tmp_path_factory):
    """Without preload the searcher re-reads the directory when its
    stats.json changes: after ``rmtree`` and a rebuild from another
    corpus it answers exactly as a fresh searcher does."""
    import shutil

    d = str(tmp_path_factory.mktemp("idx_rebuilt"))
    build_index_resumable(docs, d, buckets=BUCKETS)
    s = IndexSearcher(spark, d)
    before = [s.search(q, top_k=10) for q in QUERIES]
    assert _by_query(s.search_many(QUERIES, top_k=10), len(QUERIES)) == before
    shutil.rmtree(d)
    build_index_resumable(docs.filter("doc_id % 3 = 0"), d, buckets=BUCKETS)
    fresh = IndexSearcher(spark, d)
    expected = [fresh.search(q, top_k=10) for q in QUERIES]
    assert expected != before
    assert [s.search(q, top_k=10) for q in QUERIES] == expected
    assert _by_query(s.search_many(QUERIES, top_k=10), len(QUERIES)) == _by_query(
        fresh.search_many(QUERIES, top_k=10), len(QUERIES)
    )
    assert _by_query(s.search_many(QUERIES, top_k=10), len(QUERIES)) == expected


def _brute(docs, q):
    return [(r["doc_id"], r["score"]) for r in bm25_brute_force(docs, q, top_k=10).collect()]


def test_searcher_reads_bucket_modulus_from_stats(spark, docs, tmp_path_factory):
    """The searcher prunes with the bucket modulus the index was built
    with, read from stats.json: a 16-bucket index opened with no bucket
    argument answers exactly (the default modulus would route terms to
    the wrong buckets and drop their postings)."""
    d = str(tmp_path_factory.mktemp("idx_b16"))
    build_index_resumable(docs, d, buckets=16)
    assert json.loads(Path(d, "stats.json").read_text())["buckets"] == 16
    s = IndexSearcher(spark, d)
    expected = [_brute(docs, q) for q in QUERIES]
    assert any(expected)
    assert [s.search(q, top_k=10) for q in QUERIES] == expected
    assert _by_query(s.search_many_relational(QUERIES, top_k=10), len(QUERIES)) == expected


@pytest.fixture(scope="module")
def positional_dir(docs, tmp_path_factory):
    from sifter_mrc_search_engine_spark.operators.positional import write_positional_index

    d = str(tmp_path_factory.mktemp("idx_positional"))
    write_positional_index(docs, d)
    return d


@pytest.mark.parametrize("preload", SEARCHERS)
def test_searcher_over_positional_dir_never_reads_positions(
    spark, docs, positional_dir, monkeypatch, preload
):
    """A positional dir is the main format plus ``poss``, so it serves
    term queries exactly; the searcher's reads (the preload's Spark
    collect to Arrow, the scan searcher's driver reads) take only the
    kernel's columns and leave ``poss`` on disk."""
    import pyarrow.parquet as pq

    assert "poss" in spark.read.parquet(f"{positional_dir}/postings").columns
    expected = [_brute(docs, q) for q in QUERIES]
    plans, read_columns = [], []
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    collect, to_arrow = frame.collect, frame.toArrow
    read_row_groups = pq.ParquetFile.read_row_groups

    def explain(df):
        plans.append(
            df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        )

    def spy(df):
        explain(df)
        return collect(df)

    def spy_arrow(df):
        explain(df)
        return to_arrow(df)

    def spy_read(self, row_groups, columns=None, **kwargs):
        read_columns.append(columns)
        return read_row_groups(self, row_groups, columns=columns, **kwargs)

    monkeypatch.setattr(frame, "collect", spy)
    monkeypatch.setattr(frame, "toArrow", spy_arrow)
    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy_read)
    s = IndexSearcher(spark, positional_dir, preload=preload)
    assert [s.search(q, top_k=10) for q in QUERIES] == expected
    assert s.search_many_local(QUERIES) == expected
    if preload:
        scans = [
            ln for p in plans for ln in p.splitlines()
            if ln.strip().startswith("ReadSchema:") and "gaps" in ln
        ]
        assert scans
        assert not any("poss" in ln for ln in scans), scans
    else:
        assert read_columns and all(c is not None and "gaps" in c for c in read_columns)
        assert not any("poss" in c for c in read_columns), read_columns


def test_positional_resume_equals_uninterrupted_and_refuses_mixing(
    spark, docs, index_dir, tmp_path_factory
):
    """stats.json records ``positions``: an interrupted ``positions=True``
    build resumed with it is ``==`` an uninterrupted one, a resume with
    the other value is refused (as a modulus mismatch is), and the
    positional dir serves term queries ``==`` the plain dir."""
    full_dir = str(tmp_path_factory.mktemp("idx_pos_full"))
    part_dir = str(tmp_path_factory.mktemp("idx_pos_part"))
    build_index_resumable(docs, full_dir, buckets=BUCKETS, positions=True)
    assert json.loads((Path(full_dir) / "stats.json").read_text())["positions"] is True
    build_index_resumable(docs, part_dir, buckets=BUCKETS, positions=True, max_buckets_this_run=3)
    with pytest.raises(ValueError, match="positions"):
        build_index_resumable(docs, part_dir, buckets=BUCKETS)
    r = build_index_resumable(docs, part_dir, buckets=BUCKETS, positions=True)
    assert r["resumed"] and r["skipped"] == 3

    def signature(path):
        rows = spark.read.parquet(f"{path}/postings").collect()
        return sorted(tuple(bytes(v) if isinstance(v, bytearray) else v for v in r) for r in rows)

    assert "poss" in spark.read.parquet(f"{part_dir}/postings").columns
    assert signature(part_dir) == signature(full_dir)

    plain_dir = str(tmp_path_factory.mktemp("idx_plain_part"))
    build_index_resumable(docs, plain_dir, buckets=BUCKETS, max_buckets_this_run=2)
    assert json.loads((Path(plain_dir) / "stats.json").read_text())["positions"] is False
    with pytest.raises(ValueError, match="positions"):
        build_index_resumable(docs, plain_dir, buckets=BUCKETS, positions=True)

    positional, plain = IndexSearcher(spark, part_dir), IndexSearcher(spark, index_dir)
    want = [plain.search(q, top_k=10) for q in QUERIES]
    assert any(want)
    assert [positional.search(q, top_k=10) for q in QUERIES] == want
    assert positional.search_many_local(QUERIES) == plain.search_many_local(QUERIES)
