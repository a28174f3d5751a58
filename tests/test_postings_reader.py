"""The driver postings read (``IndexSnapshot.table``/``rows``): rows
``==`` to the Spark pruned collect, in (segment dir, term, ``segment``)
order; scan-tier queries on a local index start no Spark job and score
``==`` the brute-force oracle from one columnar decode; the reader
follows the index generation and keeps the footers it parsed, only those
of the files a request reads; a budget too small for a query's decode
leaves it to WAND; the driver norms stay ``==`` to a per-row fill."""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

import sifter_mrc_search_engine_spark.operators.positional as P
import sifter_mrc_search_engine_spark.operators.wand as W
from sifter_mrc_search_engine_spark.functions.xxhash import term_bucket
from sifter_mrc_search_engine_spark.operators.bm25 import bm25_brute_force
from sifter_mrc_search_engine_spark.operators.compressed_index import (
    estimate_collect_bytes,
    snapshot,
)
from sifter_mrc_search_engine_spark.operators.fielded_index import (
    FieldedSearcher,
    build_fielded_index,
)
from sifter_mrc_search_engine_spark.operators.wand import KERNEL_COLUMNS, packed_ids
from sifter_mrc_search_engine_spark.plans.checkpoint import build_index_resumable
from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
from sifter_mrc_search_engine_spark.sources.pages import VOCAB, synthesize_pages
from sifter_mrc_search_engine_spark.streaming.incremental import _write_segment

N_DOCS = 600
HEAD = VOCAB[0]
QUERIES = [HEAD, f"{VOCAB[0]} {VOCAB[40]}", f"{VOCAB[2]} {VOCAB[7]} {VOCAB[100]}"]
#: a batch with a repeated question, a repeated term and absent terms
BATCH = [
    *QUERIES, VOCAB[1], "zzznotaterm", f"{VOCAB[1]} zzznotaterm", QUERIES[1],
    f"{VOCAB[3]} {VOCAB[3]} {VOCAB[500]}",
]
TERM_SETS = [
    [HEAD],
    [VOCAB[3], VOCAB[40], VOCAB[500], HEAD],
    [VOCAB[5], "zzznotaterm"],
    ["zzznotaterm"],
    [],
]


@pytest.fixture(scope="module")
def docs(spark):
    d = (
        synthesize_pages(spark, N_DOCS, partitions=4)
        .selectExpr("cast(split(url, '/')[4] as long) as doc_id", "text")
        .cache()
    )
    d.count()
    return d


@pytest.fixture(scope="module")
def dirs(spark, docs, tmp_path_factory):
    """One index dir per shape the reader serves."""
    root = tmp_path_factory.mktemp("reader")
    plain, pos, salted, streamed = (str(root / n) for n in ("plain", "pos", "salted", "streamed"))
    build_index_resumable(docs, plain, buckets=8)
    P.write_positional_index(docs, pos, buckets=8)
    # a threshold under the head term's df splits it into salted segments
    build_index_resumable(docs, salted, buckets=8, salt_threshold=50, salt_fanout=4)
    _write_segment(docs.filter("doc_id < 250"), f"{streamed}/segments/seg=0", buckets=4)
    _write_segment(docs.filter("doc_id >= 250"), f"{streamed}/segments/seg=1", buckets=16)
    return {"plain": plain, "positional": pos, "salted": salted, "streamed": streamed,
            "file_uri": "file://" + plain}


def _spark_rows(spark, snap, terms, columns):
    """The Spark pruned collect, one segment dir at a time, each ordered
    by (term, ``segment``): the order the reader returns."""
    tset = sorted(set(terms))
    if not tset:
        return []
    out = []
    for seg, m in zip(snap.segments, snap.reader.moduli):
        bks = sorted({term_bucket(t, m) for t in tset})
        rows = (
            spark.read.parquet(f"{seg['path']}/postings")
            .filter(F.col("bucket").isin(bks))
            .filter(F.col("term").isin(tset))
            .select(*columns, F.col("segment").alias("_segment"))
            .collect()
        )
        rows.sort(key=lambda r: (r["term"], r["_segment"]))
        out += [{c: r[c] for c in columns} for r in rows]
    return out


@pytest.mark.parametrize("shape", ["plain", "positional", "salted", "streamed", "file_uri"])
def test_rows_equal_spark_pruned_collect(spark, dirs, shape):
    snap = snapshot(spark, dirs[shape])
    columns = (*KERNEL_COLUMNS, "poss") if shape == "positional" else KERNEL_COLUMNS
    for terms in TERM_SETS:
        got = snap.rows(terms, columns)
        assert got == _spark_rows(spark, snap, terms, columns), (shape, terms)
        assert len(got) == (snap.pruned(terms).count() if terms else 0), (shape, terms)
    assert snap.rows([HEAD], columns)
    if shape == "streamed":
        assert snap.reader.moduli == [4, 16]
        assert len({r["term"] for r in snap.rows([HEAD], ["term"])}) == 1
        assert len(snap.rows([HEAD], ["term"])) == 2


def test_salted_head_term_segments_come_back_in_order(spark, dirs):
    snap = snapshot(spark, dirs["salted"])
    rows = snap.rows([HEAD, VOCAB[40]], ["term", "segment", "min_doc", "max_doc"])
    head = [r for r in rows if r["term"] == HEAD]
    assert len(head) > 1
    assert [r["segment"] for r in head] == sorted(r["segment"] for r in head)
    assert all(a["max_doc"] < b["min_doc"] for a, b in zip(head, head[1:]))
    assert [r["term"] for r in rows] == sorted(r["term"] for r in rows)


def test_fielded_scan_rows_equal_spark_collect(spark, docs, tmp_path):
    """``FieldedSearcher``'s scan-mode fetch reads through the same
    reader: every column of the Spark collect, ``bucket`` included."""
    d = str(tmp_path / "fielded")
    fdocs = docs.selectExpr("doc_id", "substring(text, 1, 40) as title", "text as body")
    build_fielded_index(fdocs, ("title", "body"), d, buckets=4)
    s, pre = FieldedSearcher(spark, d), FieldedSearcher(spark, d, preload=True)
    fterms = [f"body\x1f{HEAD}", f"title\x1f{VOCAB[3]}", "title\x1fzzznotaterm"]
    want = sorted(
        (r.asDict() for r in s.postings.filter(F.col("term").isin(fterms)).collect()),
        key=lambda r: (r["term"], r["segment"]),
    )
    assert want and s._rows_for(fterms) == want
    for q in QUERIES:
        assert s.search(q, {"title": 2.0, "body": 1.0}) == pre.search(q, {"title": 2.0, "body": 1.0})


def test_scan_tier_on_a_local_index_starts_no_spark_job(spark, dirs):
    """Scan-mode ``search`` and ``search_many`` and a driver-served
    phrase read their postings in-process: once the generation's norms
    are loaded, no request starts a Spark job."""
    sc = spark.sparkContext
    s = IndexSearcher(spark, dirs["plain"])
    want = [s.search(q, top_k=10) for q in QUERIES]  # loads the norms
    phrase = f"{VOCAB[0]} {VOCAB[1]}"
    want_phrase = P.phrase_topk_indexed(spark, dirs["positional"], phrase).collect()
    group = "test.postings_reader.no_job"
    sc.setJobGroup(group, "scan tier")
    try:
        assert [s.search(q, top_k=10) for q in QUERIES] == want
        batch = s.search_many(QUERIES, top_k=10).collect()
        got_phrase = P.phrase_topk_indexed(spark, dirs["positional"], phrase).collect()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        spark.range(3).count()  # the group does see a job that runs
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got_phrase == want_phrase and want_phrase
    by_query = [[] for _ in QUERIES]
    for r in sorted(batch, key=lambda r: (r["query_id"], r["rank"])):
        by_query[r["query_id"]].append((r["doc_id"], r["score"]))
    assert by_query == want


def test_warm_local_search_makes_no_jvm_call(spark, dirs, monkeypatch):
    """A warm scan-tier ``search`` on a local dir makes no py4j call:
    the snapshot is keyed on the caller's SparkContext object, not on
    its ``applicationId`` (two round trips per request)."""
    from py4j.clientserver import ClientServerConnection

    s = IndexSearcher(spark, dirs["plain"])
    want = [s.search(q, top_k=10) for q in QUERIES]  # loads the norms
    calls = []
    send = ClientServerConnection.send_command

    def spy(self, command, *a, **k):
        calls.append(command)
        return send(self, command, *a, **k)

    monkeypatch.setattr(ClientServerConnection, "send_command", spy)
    got = [s.search(q, top_k=10) for q in QUERIES]
    assert calls == []
    spark.sparkContext.applicationId  # the spy does see a JVM call
    assert calls
    monkeypatch.undo()
    assert got == want


def test_snapshot_from_another_spark_context_is_rebuilt(spark, dirs):
    snap = snapshot(spark, dirs["plain"])
    assert snapshot(spark, dirs["plain"]) is snap and snap.sc is spark.sparkContext
    snap.sc = object()  # as if recorded under a stopped session's context
    again = snapshot(spark, dirs["plain"])
    assert again is not snap and again.sc is spark.sparkContext
    assert snapshot(spark, dirs["plain"]) is again


def test_scan_searcher_reader_follows_in_place_rebuild(spark, docs, tmp_path):
    """The file listing and the kept footers belong to one generation:
    after ``rmtree`` and a rebuild with another bucket modulus, the scan
    searcher's next request reads through a new reader over the new
    files, and it answers exactly as a fresh searcher does."""
    d = str(tmp_path / "rebuilt")
    build_index_resumable(docs, d, buckets=8)
    s = IndexSearcher(spark, d)
    before = [s.search(q, top_k=10) for q in QUERIES]
    old = s._snapshot().reader
    old_footers = set(old._footers)
    assert old_footers
    shutil.rmtree(d)
    build_index_resumable(docs.filter("doc_id % 3 = 0"), d, buckets=4)
    got = [s.search(q, top_k=10) for q in QUERIES]
    new = s._snapshot().reader
    assert new is not old and new.moduli == [4] and set(old._footers) == old_footers
    assert new._footers and not set(new._footers) & old_footers
    assert {int(f.split("/bucket=")[1].split("/")[0]) for f in new._footers} <= {0, 1, 2, 3}
    fresh = IndexSearcher(spark, d)
    assert got == [fresh.search(q, top_k=10) for q in QUERIES] != before
    assert s.search_many_local(BATCH) == fresh.search_many_local(BATCH)


def _loop_norms(doclens):
    """The per-row fill the driver norms replace: the reference."""
    rows = doclens.collect()
    ids = [r["doc_id"] for r in rows]
    max_id = max(ids)
    if packed_ids(min(ids), max_id, len(ids)):
        dl = np.zeros(max_id + 1, dtype=np.int64)
        for r in rows:
            dl[r["doc_id"]] = r["doc_len"]
        return dl
    return {r["doc_id"]: r["doc_len"] for r in rows}


@pytest.mark.parametrize("stride,shift", [(1, 0), (1_000_003, 0), (1, -300)])
def test_norms_equal_per_row_fill(spark, docs, tmp_path, stride, shift):
    d = str(tmp_path / "norms")
    build_index_resumable(
        docs.selectExpr(f"doc_id * {stride} + {shift} as doc_id", "text"), d, buckets=4
    )
    snap = snapshot(spark, d)
    got, want = snap.norms(None), _loop_norms(snap.doclens)
    assert type(got) is type(want)
    if isinstance(want, dict):
        assert got == want and (stride > 1 or shift < 0)
    else:
        assert got.dtype == want.dtype and np.array_equal(got, want)


def _brute(docs, q):
    return [(r["doc_id"], r["score"]) for r in bm25_brute_force(docs, q, top_k=10).collect()]


def _by_query(frame, n):
    out = [[] for _ in range(n)]
    for r in sorted(frame.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((r["doc_id"], r["score"]))
    return out


@pytest.mark.parametrize("shape", ["salted", "streamed"])
def test_columnar_search_equals_brute_force(spark, docs, dirs, shape, monkeypatch):
    """``search``, ``search_many_local`` and ``search_many`` score from
    one columnar read and decode, ``==`` to the brute-force oracle: on a
    salted head term (its rows are several segments of one dir) and on a
    streamed dir (each term's df merged across segments), absent terms
    included; an empty batch is empty. Past the dense limits ``search``
    runs WAND over the same rows as dicts, with the same answers."""
    s = IndexSearcher(spark, dirs[shape])
    snap = s._snapshot()
    if shape == "salted":
        assert len(snap.rows([HEAD], ["segment"])) > 1
    else:
        assert len(snap.segments) == 2
        head = s.candidate_rows([HEAD])
        assert len(head) == 2 and {r["df"] for r in head} == {sum(r["n"] for r in head)}
    want = [_brute(docs, q) for q in BATCH]
    assert any(want) and [] in want
    assert [s.search(q, top_k=10) for q in BATCH] == want
    score_doc = W._score_doc
    assert s.search_many_local(BATCH, top_k=10) == want
    assert _by_query(s.search_many(BATCH, top_k=10), len(BATCH)) == want
    assert s.search_many_local([]) == []
    empty = s.search_many([])
    assert empty.collect() == [] and empty.columns == ["query_id", "rank", "doc_id", "score"]
    monkeypatch.setattr(W, "DENSE_POSTINGS_LIMIT", 0)
    cursors = []
    monkeypatch.setattr(W, "_score_doc", lambda *a: cursors.append(1) or score_doc(*a))
    assert [s.search(q, top_k=10) for q in BATCH] == want and cursors


def _count_footer_parses(monkeypatch) -> list:
    """Every parquet footer parsed from here on, by path: a
    ``ParquetFile`` opened without ``metadata``."""
    import pyarrow.parquet as pq

    parsed = []
    init = pq.ParquetFile.__init__

    def spy(self, source, *args, metadata=None, **kwargs):
        if metadata is None:
            parsed.append(str(source))
        init(self, source, *args, metadata=metadata, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "__init__", spy)
    return parsed


def test_second_batch_parses_no_footer(spark, docs, tmp_path, monkeypatch):
    """The reader keeps the footers it parsed for the generation: the
    first batch parses each file it reads once, and a second batch, and
    single queries over the same terms, parse none."""
    d = str(tmp_path / "footers")
    build_index_resumable(docs, d, buckets=8)
    parsed = _count_footer_parses(monkeypatch)
    s = IndexSearcher(spark, d)
    first = s.search_many_local(BATCH)
    kept = s._snapshot().reader._footers
    assert sorted(parsed) == sorted(kept) and len(kept) >= 4
    parsed.clear()
    assert s.search_many_local(BATCH) == first
    assert [s.search(q) for q in QUERIES] == [first[i] for i in range(len(QUERIES))]
    assert parsed == []


def test_first_read_parses_only_its_buckets_footers(spark, docs, tmp_path, monkeypatch):
    """No read builds anything over the whole index: a first query on a
    fresh generation parses the footers of its terms' bucket files only,
    whatever the index's size."""
    d = str(tmp_path / "first_read")
    build_index_resumable(docs, d, buckets=8)
    s = IndexSearcher(spark, d)
    snap = s._snapshot()
    parsed = _count_footer_parses(monkeypatch)
    s.search(HEAD, top_k=10)
    bucket = term_bucket(HEAD, snap.reader.moduli[0])
    assert parsed and all(f"/postings/bucket={bucket}/" in p for p in parsed)
    assert sorted(parsed) == sorted(snap.reader._footers)


def test_tight_budget_leaves_a_query_to_wand(spark, docs, tmp_path, monkeypatch):
    """A scan ``search`` charges its decode and the norms against one
    budget. A budget that holds the norms but not a query's decode does
    not refuse the query: block-max WAND, which decodes only the blocks
    it visits, answers it ``==`` the oracle."""
    d = str(tmp_path / "tight")
    build_index_resumable(docs, d, buckets=8)
    norms = estimate_collect_bytes(snapshot(spark, d).doclens)
    decode = W.decode_charge(
        IndexSearcher(spark, d).candidate_table([HEAD])["n"].to_numpy()
    )
    s = IndexSearcher(spark, d, preload_budget_bytes=norms + decode - 1)
    want = [_brute(docs, q) for q in QUERIES]
    score_doc, cursors = W._score_doc, []
    monkeypatch.setattr(W, "_score_doc", lambda *a: cursors.append(1) or score_doc(*a))
    assert [s.search(q, top_k=10) for q in QUERIES] == want
    assert cursors  # the head term's decode was refused: WAND served it


def test_kept_footers_are_capped_and_shared_by_threads(spark, docs, tmp_path, monkeypatch):
    """Past ``KEPT_FOOTERS`` the reader starts its footer cache over: it
    never holds more, and its answers do not change, also while handler
    threads race on one reader's cache (parses and restarts included)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    import sifter_mrc_search_engine_spark.operators.compressed_index as CI

    d = str(tmp_path / "capped")
    build_index_resumable(docs, d, buckets=8)
    want = IndexSearcher(spark, d).search_many_local(BATCH)
    monkeypatch.setattr(CI, "KEPT_FOOTERS", 2)
    shutil.copytree(d, str(tmp_path / "capped_copy"))  # a generation no read has warmed
    s = IndexSearcher(spark, str(tmp_path / "capped_copy"))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(s.search_many_local, BATCH) for _ in range(16)]
            got = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert got == [want] * 16
    assert 0 < len(s._snapshot().reader._footers) <= 2
