"""``scan`` workload: the Spark-side query tier, no preload.

Set-up builds the main and positional indexes over the seeded corpus.
One in-process caller then runs a closed loop over a fixed cycle of four
request classes with seeded inputs:

* ``term``: ``IndexSearcher.search`` — one pruned-scan Spark job plus
  the driver WAND kernel;
* ``batch``: ``IndexSearcher.search_many`` over 32 Zipf questions;
* ``phrase_head`` / ``phrase_tail``: ``StructuredSearchService.search``
  on a phrase of two adjacent head (rank <= 10) or tail (rank >= 500)
  terms.
"""

from __future__ import annotations

import math
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
from sifter_mrc_search_engine_spark.plans.structured import StructuredSearchService

from . import common, inputs, layers
from .measure import geomean, median, vm_hwm_mb
from .metrics import SCAN_CLASSES
from .tracing import EventLog, Tracer

N_DOCS = 10_000
BATCH_SIZE = 32
#: one cycle of the closed loop; cheap ``term`` requests run more often
#: so their median rests on more samples
CYCLE = ("term", "batch", "term", "phrase_head", "term", "phrase_tail", "term")
#: distinct inputs per class; successive requests of a class walk them
INPUTS_PER_CLASS = 16
#: nominal wall of one warm cycle on a 4-core host; the window runs
#: ceil(seconds / NOMINAL_CYCLE_S) whole cycles, at least MIN_CYCLES, so
#: every run measures the same mix of requests and the median of each
#: class rests on at least four samples
NOMINAL_CYCLE_S = 5.0
MIN_CYCLES = 4


def _batch(searcher: IndexSearcher, questions: list) -> list[list]:
    rows = searcher.search_many(questions, top_k=common.TOP_K).collect()
    out: list[list] = [[] for _ in questions]
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
    return out


def _class_inputs(seed: int, stream: int) -> dict:
    n = INPUTS_PER_CLASS
    return {
        "term": inputs.questions(seed, n, stream=stream),
        "batch": inputs.batches(seed, n, BATCH_SIZE, stream=stream),
        "phrase_head": inputs.phrases(seed, N_DOCS, n, "head", stream=stream),
        "phrase_tail": inputs.phrases(seed, N_DOCS, n, "tail", stream=stream),
    }


def run(seed: int, seconds: int, trace: bool, started: float) -> common.Outcome:
    work = common.WORK
    sw = common.Stopwatch()
    tracer = Tracer() if trace else None
    log_dir = work / "eventlog" if trace else None
    idx, pos = work / "index", work / "positional"
    t0 = time.monotonic()
    with common.spark_session("perfbench-scan", log_dir) as spark:
        sw.t["session"] = time.monotonic() - t0
        sc = spark.sparkContext
        with sw.phase("synth"):
            docs = common.write_corpus(spark, work / "corpus", N_DOCS, seed)
        with sw.phase("build"):
            common.build_indexes(docs, tracer, idx, pos)
        searcher = IndexSearcher(spark, str(idx))
        structured = StructuredSearchService(spark, str(pos))

        def phrase(p: str) -> list:
            hits = structured.search({"type": "phrase", "phrase": p, "top_k": common.TOP_K})["hits"]
            return [(h["doc_id"], h["score"]) for h in hits]

        ops = {
            "term": lambda q: searcher.search(q, top_k=common.TOP_K),
            "batch": lambda qs: _batch(searcher, qs),
            "phrase_head": phrase,
            "phrase_tail": phrase,
        }
        timed, warm = _class_inputs(seed, 0), _class_inputs(seed, 1)
        # one whole untimed cycle pays the first calls' plan compilation, JIT
        # and Python worker start-up. The index checks and the oracle answers
        # for the first timed request of each class need no timed answer, so
        # they run alongside it (warming the JVM further); the answers are
        # compared after the window.
        with sw.phase("warmup"), ThreadPoolExecutor(max_workers=_CHECK_TASKS) as pool:
            oracles = _start_checks(pool, spark, docs, seed, idx, pos, timed)
            used = dict.fromkeys(SCAN_CLASSES, 0)
            for c in CYCLE:
                ops[c](warm[c][used[c]])
                used[c] += 1
            expected = {c: f.result() for c, f in oracles.items()}

        if trace:
            layers.install_request_path(tracer)
        requests = []  # (class, t0, t1, job group) per successful request
        first = {}  # class -> (input, answer) of its first request
        failed = 0
        sent = dict.fromkeys(SCAN_CLASSES, 0)
        cycles = max(MIN_CYCLES, math.ceil(seconds / NOMINAL_CYCLE_S))
        w0 = time.time()
        try:
            for c in CYCLE * cycles:
                x = timed[c][sent[c] % INPUTS_PER_CLASS]
                sent[c] += 1
                group = f"perfbench.scan.{c}.{len(requests)}"
                if trace:
                    sc.setJobGroup(group, f"scan {c}")
                try:
                    with common.span(tracer, f"request.{c}"):
                        t_a = time.time()
                        res = ops[c](x)
                        t_b = time.time()
                except Exception:  # a failed request is counted, not timed
                    traceback.print_exc()
                    failed += 1
                    continue
                requests.append((c, t_a, t_b, group))
                first.setdefault(c, (x, res))
        finally:
            if trace:
                tracer.restore()
                sc.setJobGroup("perfbench.scan.checks", "checks")
        w1 = time.time()
        rss_mb = vm_hwm_mb()
        jvm_rss_mb = vm_hwm_mb(common.jvm_pid())
        if failed:
            raise common.CheckFailed(
                f"{failed} of {failed + len(requests)} scan requests failed",
                failed + len(requests), failed,
            )

        with sw.phase("checks"):
            for c in SCAN_CLASSES:
                x, got = first[c]
                if c == "batch":
                    x, got = x[0], got[0]
                common.check_answers(f"{c} {x!r}", got, expected[c], exact=c.startswith("phrase"))

    lat = {c: [t1 - t0 for k, t0, t1, _ in requests if k == c] for c in SCAN_CLASSES}
    p50 = {c: median(v) * 1000.0 for c, v in lat.items()}
    busy_s = sum(t1 - t0 for _, t0, t1, _ in requests)
    sizes = common.index_sizes(idx, pos)
    e2e = {
        "setup_s": w0 - started,
        # the closed loop's rate at the class medians: one slow request
        # (a GC pause, a burst of CPU steal) does not move it
        "requests_per_s": len(CYCLE) / sum(p50[c] / 1000.0 for c in CYCLE),
        "latency_p50_ms": geomean(p50.values()),
        "rss_mb": rss_mb,
        "build_docs_per_s": N_DOCS / sw.t["build"],
        "index_bytes_per_doc": sizes["total_bytes"] / N_DOCS,
    }
    class_metrics = {
        **{f"scan.{c}_p50_ms": p50[c] for c in SCAN_CLASSES},
        "scan.batch_queries_per_s": BATCH_SIZE / median(lat["batch"]),
    }
    detail = {
        "workload": "scan",
        "docs": N_DOCS,
        "cycles": cycles,
        "window_s": w1 - w0,
        "latencies_ms": {c: [round(x * 1000.0, 1) for x in v] for c, v in lat.items()},
        **class_metrics,
        "phases_s": sw.t,
    }
    per_layer = None
    if trace:
        log = EventLog(log_dir)
        roots = tracer.trees({f"request.{c}" for c in SCAN_CLASSES})
        wall_ms = busy_s / len(requests) * 1000.0
        per_layer = {
            **layers.request_path(tracer, roots, (w0, w1), wall_ms, 0.0),
            **layers.spark_requests(log, requests),
            **layers.build_phases(tracer, log, common.CORES),
            **common.setup_layers(sw, sizes, jvm_rss_mb),
            **class_metrics,
            "latency_p99_ms": 0.0,
        }
    return common.Outcome(e2e, detail, per_layer, len(requests))


#: tasks _start_checks submits: bucket counts, two index checks, one oracle per class
_CHECK_TASKS = 3 + len(SCAN_CLASSES)


def _start_checks(pool, spark, docs, seed: int, idx, pos, timed: dict) -> dict:
    """Submit the index checks and the oracle answers for the first timed
    input of each class to ``pool``. Returns class -> future of the oracle
    answer; the index-check futures are waited for by the oracle futures,
    so a failed index check fails the first ``result()``."""
    expected = pool.submit(common.expected_bucket_counts, N_DOCS, seed)
    index_checks = [
        pool.submit(lambda d=d, m=m: common.check_index(spark, d, expected.result(), m))
        for d, m in ((idx, True), (pos, False))
    ]

    def oracle(c: str):
        x = timed[c][0][0] if c == "batch" else timed[c][0]
        find = common.phrase_twin_topk if c.startswith("phrase") else common.brute_force_topk
        want = find(docs, x)
        for f in index_checks:
            f.result()
        return want

    return {c: pool.submit(oracle, c) for c in SCAN_CLASSES}
