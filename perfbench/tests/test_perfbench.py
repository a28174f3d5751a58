"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

import pytest

from perfbench import inputs, loadgen, metrics
from perfbench.measure import TooFewSamples, percentile
from perfbench.tracing import EventLog, Tracer, union_seconds
from sifter_mrc_search_engine_spark.sources import pages

ROOT = Path(__file__).resolve().parents[2]


# --- generators ------------------------------------------------------------------


@pytest.mark.parametrize(
    "gen",
    [
        lambda s: inputs.questions(s, 50),
        lambda s: inputs.batches(s, 3, 32),
        lambda s: inputs.phrases(s, 2000, 5, "head"),
        lambda s: inputs.phrases(s, 2000, 5, "tail"),
        lambda s: pages.synthesize_pages_pdf(50, s)["text"].tolist(),
    ],
    ids=["questions", "batches", "phrase_head", "phrase_tail", "corpus"],
)
def test_generators_are_seeded(gen):
    assert gen(7) == gen(7)
    assert gen(7) != gen(8)


def test_warmup_stream_differs_from_timed_stream():
    assert inputs.questions(7, 20, stream=0) != inputs.questions(7, 20, stream=1)


def test_questions_have_one_to_four_vocabulary_terms():
    for q in inputs.questions(3, 500):
        terms = q.split()
        assert 1 <= len(terms) <= 4
        assert all(t in inputs.RANK for t in terms)


@pytest.mark.parametrize("kind", ["head", "tail"])
def test_phrases_occur_in_the_corpus_within_their_rank_window(kind):
    seed, n = 5, 3000
    found = inputs.phrases(seed, n, 6, kind)
    assert len(set(found)) == 6
    corpus = [" ".join(pages.doc_terms(d, seed)) for d in range(n)]
    for p in found:
        a, b = p.split()
        ranks = (inputs.RANK[a], inputs.RANK[b])
        if kind == "head":
            assert max(ranks) <= inputs.HEAD_MAX_RANK
        else:
            assert min(ranks) >= inputs.TAIL_MIN_RANK
        assert any(f" {p} " in f" {text} " for text in corpus), p


# --- percentiles -----------------------------------------------------------------


def test_percentile_refuses_fewer_than_ten_samples_beyond():
    xs = list(range(1, 1000))  # 999 samples: 9 beyond p99
    with pytest.raises(TooFewSamples):
        percentile(xs, 99)
    assert percentile(list(range(1, 1001)), 99) == 990  # exactly 10 beyond
    with pytest.raises(TooFewSamples):
        percentile(list(range(19)), 50)
    assert percentile(list(range(1, 21)), 50) == 10


# --- declared metrics --------------------------------------------------------------


def _declared(section: str) -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def test_printed_metrics_are_declared_with_their_units():
    assert metrics.END_TO_END == _declared("end_to_end")
    assert metrics.PER_LAYER == _declared("per_layer")


def test_result_line_refuses_undeclared_or_missing_metrics():
    declared = {"a_ms": "ms", "b_s": "s"}
    line = json.loads(metrics.result_line(True, 3, 0, {"a_ms": 1.5, "b_s": 2}, declared))
    assert line == {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {"a_ms": {"value": 1.5, "unit": "ms"}, "b_s": {"value": 2.0, "unit": "s"}},
    }
    with pytest.raises(metrics.UndeclaredMetric):
        metrics.result_line(True, 1, 0, {"a_ms": 1.0}, declared)
    with pytest.raises(metrics.UndeclaredMetric):
        metrics.result_line(True, 1, 0, {"a_ms": 1.0, "b_s": 1.0, "c": 1.0}, declared)
    with pytest.raises(ValueError):
        metrics.result_line(True, 1, 0, {"a_ms": float("nan"), "b_s": 1.0}, declared)


# --- failures count against error_rate ----------------------------------------------


class _Stub(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *a):
        pass

    def do_GET(self):
        code = 200 if "ok" in self.path else (404 if "missing" in self.path else 500)
        body = json.dumps({"answers": [{"doc_id": 1, "score": 2.5}]}).encode()
        self.send_response(code)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture
def stub_port():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _Stub)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield server.server_address[1]
    server.shutdown()
    server.server_close()
    t.join(timeout=5)
    assert not t.is_alive()


def test_non_200_and_exceptions_are_failures(stub_port):
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", stub_port, timeout=5)
    ok, _, body = loadgen.send(conn, "ok")
    assert ok and body["answers"][0]["doc_id"] == 1
    assert loadgen.send(conn, "missing")[0] is False
    assert loadgen.send(conn, "boom")[0] is False
    conn.close()
    # nothing listens on this port once the server is gone
    s = ThreadingHTTPServer(("127.0.0.1", 0), _Stub)
    dead = s.server_address[1]
    s.server_close()
    assert loadgen.send(http.client.HTTPConnection("127.0.0.1", dead, timeout=2), "ok")[0] is False


def test_closed_loop_counts_every_failure(stub_port):
    out = loadgen.run(stub_port, ["ok", "missing", "boom", "ok"], [], 0.3, 2, keep=1)
    assert out["attempted"] > 0
    assert out["failed"] == out["attempted"] - len(out["latencies_s"])
    # each connection alternates one success with one failure
    assert abs(out["failed"] - len(out["latencies_s"])) <= 2
    assert out["samples"][0] == {"question": "ok", "answers": [[1, 2.5]]}


# --- tracing ------------------------------------------------------------------------


class _Layer:
    @staticmethod
    def inner(x):
        return x + 1

    @staticmethod
    def outer(x):
        return _Layer.inner(x) * 2


def test_tracer_nests_spans_and_self_times_add_up():
    tracer = Tracer()
    tracer.wrap(_Layer, "inner", "inner")
    tracer.wrap(_Layer, "outer", "outer")
    try:
        assert _Layer.outer(1) == 4
    finally:
        tracer.restore()
    assert _Layer.outer(1) == 4 and not tracer._patches
    (root,) = tracer.trees({"outer"})
    (child,) = root.children
    assert child.layer == "inner"
    assert root.self_time + child.self_time == pytest.approx(root.dur)


def test_union_seconds():
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_seconds([]) == 0


def test_event_log_attributes_jobs_by_group_then_time(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1400, "Accumulables": [
             {"Name": "time to run Python workers", "Update": "2"},
             {"Name": "data sent to Python workers", "Update": "10"},
             {"Name": "data returned from Python workers", "Update": "5"}]},
         "Task Metrics": {"Executor Run Time": 390, "Executor CPU Time": 3_000_000,
                          "JVM GC Time": 7, "Input Metrics": {"Bytes Read": 100, "Records Read": 4},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 50}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # a job from a library worker thread: no group, inside the window
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1300},
        # another group's job inside the same window is not attributed
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1200,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "other"}},
    ]
    # a rolling log: eventlog_v2_<app>/events_<n>_<app>, read in part order
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) + "\n" for e in events]
    (app / "events_2_local-1").write_text("".join(lines[3:]))
    (app / "events_1_local-1").write_text("".join(lines[:3]))
    (app / "appstatus_local-1").write_text("")
    log = EventLog(tmp_path)
    jobs = log.jobs_in(0.9, 1.6, "g")
    assert sorted(j.job_id for j in jobs) == [0, 1]
    job = log.jobs[0]
    assert (job.t0, job.t1) == (1.0, 1.5)
    assert job.tasks == 1 and job.stages_run == {1}
    assert job.totals["python_run_ms"] == 2
    assert job.totals["python_bytes"] == 15
    assert job.totals["scan_rows"] == 4 and job.totals["shuffle_bytes"] == 50


def test_quietest_measures_again_while_steal_is_high(monkeypatch):
    from perfbench import measure

    # (steal, total) jiffies read before and after each window
    reads = iter([(0, 0), (30, 1000), (30, 1000), (32, 2000), (50, 3000), (90, 4000)])
    monkeypatch.setattr(measure, "_cpu_counters", lambda: next(reads))
    results = iter(["noisy", "quiet", "unused"])
    best, tried = measure.quietest(lambda: next(results), 3, 0.01)
    assert best == "quiet"
    assert tried == [(0.03, "noisy"), (0.002, "quiet")]

    reads = iter([(0, 0), (30, 1000), (30, 1000), (80, 2000)])
    monkeypatch.setattr(measure, "_cpu_counters", lambda: next(reads))
    results = iter(["less", "more"])
    best, tried = measure.quietest(lambda: next(results), 2, 0.01)
    assert best == "less" and [s for s, _ in tried] == [0.03, 0.05]
