"""``serve`` workload: the HTTP front door over a preloaded searcher.

Set-up builds the main index over the seeded corpus, preloads it with
``IndexSearcher(preload=True)`` and starts ``HttpFrontDoor`` in this
process. The load generator (``loadgen.py``) runs as a separate process:
a closed loop over two connections sending ``GET /inference`` with 1-4
Zipf terms per question. No Spark job runs per request.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from sifter_mrc_search_engine_spark.plans.http_service import HttpFrontDoor
from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
from sifter_mrc_search_engine_spark.plans.service import InferenceService

from . import common, inputs, layers
from .measure import TooFewSamples, percentile, quietest, vm_hwm_mb
from .metrics import SCAN_CLASSES
from .tracing import EventLog, Tracer

N_DOCS = 10_000
CONNECTIONS = 2
WARMUP_REQUESTS = 200
CHECKED_ANSWERS = 3
#: a window during which more than QUIET_STEAL of the host's CPU time was
#: stolen is measured again, up to WINDOW_ATTEMPTS windows; the window
#: with the least steal is kept (steal of a few percent slowed whole
#: runs by ~25% on the benchmark host)
QUIET_STEAL = 0.01
WINDOW_ATTEMPTS = 2


def _load(port: int, seed: int, seconds: int) -> dict:
    """Run the load generator process against ``port``; its result."""
    spec = common.WORK / "loadgen_inputs.json"
    spec.write_text(json.dumps({
        "questions": inputs.questions(seed, 4096),
        "warmup": inputs.questions(seed, WARMUP_REQUESTS, stream=1),
    }))
    out = common.WORK / "loadgen_result.json"
    subprocess.run(
        [sys.executable, str(Path(__file__).with_name("loadgen.py")),
         "--port", str(port), "--inputs", str(spec), "--out", str(out),
         "--seconds", str(seconds), "--connections", str(CONNECTIONS),
         "--keep", str(CHECKED_ANSWERS)],
        check=True, timeout=seconds + 120,
    )
    return json.loads(out.read_text())


def run(seed: int, seconds: int, trace: bool, started: float) -> common.Outcome:
    work = common.WORK
    sw = common.Stopwatch()
    tracer = Tracer() if trace else None
    log_dir = work / "eventlog" if trace else None
    idx = work / "index"
    t0 = time.monotonic()
    with common.spark_session("perfbench-serve", log_dir) as spark:
        sw.t["session"] = time.monotonic() - t0
        with sw.phase("synth"):
            docs = common.write_corpus(spark, work / "corpus", N_DOCS, seed)
        with sw.phase("build"):
            common.build_indexes(docs, tracer, idx)
        with sw.phase("preload"):
            searcher = IndexSearcher(spark, str(idx), preload=True)
            searcher.doclen  # norms load lazily; pay it in set-up
        door = HttpFrontDoor(InferenceService(searcher)).start()
        try:
            if trace:
                layers.install_request_path(tracer)
            try:
                client, windows = quietest(
                    lambda: _load(door.port, seed, seconds), WINDOW_ATTEMPTS, QUIET_STEAL
                )
            finally:
                if trace:
                    tracer.restore()
            rss_mb = vm_hwm_mb()
            jvm_rss_mb = vm_hwm_mb(common.jvm_pid())
        finally:
            door.stop()
        attempted = sum(w["attempted"] for _, w in windows)
        failed = sum(w["failed"] for _, w in windows)
        if failed:
            raise common.CheckFailed(
                f"{failed} of {attempted} requests failed", attempted, failed
            )

        # correctness, outside the timed window; the oracle jobs overlap
        with sw.phase("checks"), ThreadPoolExecutor(max_workers=CHECKED_ANSWERS + 1) as pool:
            futures = [
                pool.submit(lambda q=s["question"], got=s["answers"]: common.check_answers(
                    f"serve {q!r}", got, common.brute_force_topk(docs, q), exact=False))
                for s in client["samples"]
            ]
            futures.append(pool.submit(lambda: common.check_index(
                spark, idx, common.expected_bucket_counts(N_DOCS, seed), True)))
            for f in futures:
                f.result()
            if len(client["samples"]) < CHECKED_ANSWERS:
                raise common.CheckFailed("the load generator kept too few answers to check")

    lat = client["latencies_s"]
    sizes = common.index_sizes(idx, None)
    e2e = {
        "setup_s": windows[0][1]["t0"] - started,
        "requests_per_s": len(lat) / (client["t1"] - client["t0"]),
        "latency_p50_ms": percentile(lat, 50) * 1000.0,
        "rss_mb": rss_mb,
        "build_docs_per_s": N_DOCS / sw.t["build"],
        "index_bytes_per_doc": sizes["total_bytes"] / N_DOCS,
    }
    try:
        p99_ms = percentile(lat, 99) * 1000.0
    except TooFewSamples:
        p99_ms = None
    detail = {
        "workload": "serve",
        "docs": N_DOCS,
        "connections": CONNECTIONS,
        "samples": len(lat),
        "window_steal": [steal for steal, _ in windows],
        "latency_p99_ms": p99_ms,
        "phases_s": sw.t,
    }
    per_layer = None
    if trace:
        log = EventLog(log_dir)
        window = (client["t0"], client["t1"])
        roots = [r for r in tracer.trees({"service"}) if window[0] <= r.t0 and r.t1 <= window[1]]
        wall_ms = sum(lat) / len(lat) * 1000.0
        service_ms = sum(r.dur for r in roots) / max(len(roots), 1) * 1000.0
        per_layer = {
            **layers.request_path(tracer, roots, window, wall_ms, wall_ms - service_ms),
            **layers.spark_window(log, *window, len(lat), wall_ms),
            **layers.build_phases(tracer, log, common.CORES),
            **common.setup_layers(sw, sizes, jvm_rss_mb),
            "latency_p99_ms": p99_ms or 0.0,
            **{f"scan.{c}_p50_ms": 0.0 for c in SCAN_CLASSES},
            "scan.batch_queries_per_s": 0.0,
        }
    return common.Outcome(e2e, detail, per_layer, client["attempted"])
