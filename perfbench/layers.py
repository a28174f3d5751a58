"""Per-layer metrics of a traced run, from tracer spans and the Spark
event log. Layers are named after the library's modules (see README)."""

from __future__ import annotations

import statistics
from collections import defaultdict

from sifter_mrc_search_engine_spark.functions import fsio
from sifter_mrc_search_engine_spark.operators import positional
from sifter_mrc_search_engine_spark.operators import wand as wand_mod
from sifter_mrc_search_engine_spark.plans import checkpoint
from sifter_mrc_search_engine_spark.plans import query as query_mod
from sifter_mrc_search_engine_spark.plans import service as service_mod
from sifter_mrc_search_engine_spark.plans import structured as structured_mod

from .metrics import SCAN_CLASSES, SPARK_PER_CLASS
from .tracing import EventLog, Tracer, union_seconds, walk

FSIO_CALLS = ("exists", "read_text", "freshness_token", "mtime_ns", "listdir")


def _rows_observed(tracer: Tracer, rows) -> None:
    tracer.count("query.rows", len(rows))
    tracer.count("query.postings", sum(int(r["n"]) for r in rows))


def _hits_observed(tracer: Tracer, hits) -> None:
    tracer.count("query.hits", len(hits))


def install_request_path(tracer: Tracer) -> None:
    """Wrap the request-path callables where their callers look them up."""
    w = tracer.wrap
    w(service_mod.InferenceService, "inference", "service")
    w(service_mod, "rewrite_query", "analyzer")
    w(service_mod, "analyze", "analyzer")
    w(query_mod, "analyze", "analyzer")
    w(query_mod.IndexSearcher, "search", "query", observe=_hits_observed)
    w(query_mod.IndexSearcher, "candidate_rows", "query.fetch", observe=_rows_observed)
    w(query_mod, "wand_topk", "wand")
    w(wand_mod, "decode_postings", "postings_codec")
    w(wand_mod, "varbyte_decode", "postings_codec")
    w(structured_mod.StructuredSearchService, "search", "structured")
    for name in FSIO_CALLS:
        w(fsio, name, "fsio")


def install_build_markers(tracer: Tracer) -> None:
    """Phase boundaries inside the two index builds."""
    tracer.wrap(checkpoint, "build_compressed_index", "mark.encode_start")
    tracer.wrap(checkpoint, "release_build_cache", "mark.encode_end")
    tracer.wrap(positional, "build_positional_index", "mark.pos_encode_start")


def request_path(
    tracer: Tracer, roots: list, window: tuple, wall_ms: float, client_overhead_ms: float
) -> dict:
    """Means per request over ``roots`` (the request's outermost spans)
    of the timed ``window`` (epoch seconds).

    ``wall_ms`` is the mean request wall the caller observed;
    ``client_overhead_ms`` the part of it outside every root span (the
    HTTP front door for ``serve``, 0 in-process)."""
    n = max(len(roots), 1)
    self_ms: dict[str, float] = defaultdict(float)
    dur_ms: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    for r in roots:
        for s in walk(r):
            self_ms[s.layer] += s.self_time * 1000.0
            dur_ms[s.layer] += s.dur * 1000.0
            calls[s.layer] += 1
    covered = client_overhead_ms + sum(self_ms.values()) / n
    hits = tracer.total("query.hits", *window)
    return {
        "request.wall_ms": wall_ms,
        "trace.self_sum_ratio": covered / wall_ms if wall_ms > 0 else 0.0,
        "http_service.overhead_ms": client_overhead_ms,
        "service.self_ms": self_ms["service"] / n,
        "analyzer.calls_per_request": calls["analyzer"] / n,
        "analyzer.ms_per_request": dur_ms["analyzer"] / n,
        "query.self_ms": self_ms["query"] / n,
        "query.fetch_ms": self_ms["query.fetch"] / n,
        "query.rows_per_request": tracer.total("query.rows", *window) / n,
        "query.postings_per_result": tracer.total("query.postings", *window) / hits if hits else 0.0,
        "wand.kernel_ms": dur_ms["wand"] / n,
        "wand.self_ms": self_ms["wand"] / n,
        "postings_codec.decode_calls": calls["postings_codec"] / n,
        "postings_codec.decode_ms": self_ms["postings_codec"] / n,
        "structured.ms": dur_ms["structured"] / n,
        "fsio.calls_per_request": calls["fsio"] / n,
    }


def _spark_block(jobs_per_request: list, walls_s: list) -> dict:
    """SPARK_PER_CLASS means over requests; ``jobs_per_request[i]`` are
    the jobs attributed to request i, clipped to ``walls_s[i]``."""
    n = len(walls_s)
    if n == 0:
        return {k: 0.0 for k in SPARK_PER_CLASS}
    tot = defaultdict(float)
    job_s = 0.0
    for jobs, (t0, t1) in zip(jobs_per_request, walls_s):
        job_s += union_seconds((max(j.t0, t0), min(j.t1, t1)) for j in jobs)
        for j in jobs:
            tot["jobs"] += 1
            tot["stages"] += len(j.stages_run)
            tot["tasks"] += j.tasks
            for k, v in j.totals.items():
                tot[k] += v
    wall_s = sum(t1 - t0 for t0, t1 in walls_s)
    return {
        "jobs_per_request": tot["jobs"] / n,
        "stages_per_request": tot["stages"] / n,
        "tasks_per_request": tot["tasks"] / n,
        "job_ms": job_s * 1000.0 / n,
        "driver_self_ms": (wall_s - job_s) * 1000.0 / n,
        "executor_cpu_ms": tot["cpu_ns"] / 1e6 / n,
        "gc_ms": tot["gc_ms"] / n,
        "scan_bytes": tot["scan_bytes"] / n,
        "scan_rows": tot["scan_rows"] / n,
        "shuffle_bytes": tot["shuffle_bytes"] / n,
        "python_boot_ms": tot["python_boot_ms"] / n,
        "python_run_ms": tot["python_run_ms"] / n,
        "python_bytes": tot["python_bytes"] / n,
    }


def spark_requests(log: EventLog, requests: list) -> dict:
    """``requests``: (class, t0, t1, job group) of each timed request.
    Returns the whole-workload block and one block per scan class."""
    out = {}
    attributed = [log.jobs_in(t0, t1, g) for _, t0, t1, g in requests]
    walls = [(t0, t1) for _, t0, t1, _ in requests]
    for k, v in _spark_block(attributed, walls).items():
        out[f"spark.{k}"] = v
    for c in SCAN_CLASSES:
        idx = [i for i, r in enumerate(requests) if r[0] == c]
        block = _spark_block([attributed[i] for i in idx], [walls[i] for i in idx])
        for k, v in block.items():
            out[f"spark.{k}.{c}"] = v
    return out


def spark_window(log: EventLog, t0: float, t1: float, n_requests: int, wall_ms: float) -> dict:
    """Whole-workload Spark block for concurrent requests (``serve``):
    every job submitted in the window, spread over its requests."""
    jobs = log.jobs_in(t0, t1)
    n = max(n_requests, 1)
    block = _spark_block([jobs], [(t0, t1)])
    # _spark_block averaged over one pseudo-request; rescale per request
    out = {f"spark.{k}": v / n for k, v in block.items()}
    out["spark.driver_self_ms"] = wall_ms - out["spark.job_ms"]
    for c in SCAN_CLASSES:
        for k in SPARK_PER_CLASS:
            out[f"spark.{k}.{c}"] = 0.0
    return out


def build_phases(tracer: Tracer, log: EventLog, cores: int) -> dict:
    """Build-phase walls from the marker spans and the build jobs'
    task totals from the event log."""
    spans = {s.layer: s for s in tracer.spans}
    main = spans["build.main"]
    enc0 = spans["mark.encode_start"].t0
    enc1 = spans["mark.encode_end"].t0
    out = {
        "checkpoint.build_ms": main.dur * 1000.0,
        "checkpoint.doclens_ms": (enc0 - main.t0) * 1000.0,
        "checkpoint.encode_write_ms": (enc1 - enc0) * 1000.0,
        "checkpoint.lineage_ms": (main.t1 - enc1) * 1000.0,
        "positional.build_ms": 0.0,
        "positional.encode_write_ms": 0.0,
    }
    windows = [(main.t0, main.t1)]
    pos = spans.get("build.positional")
    if pos is not None:
        out["positional.build_ms"] = pos.dur * 1000.0
        out["positional.encode_write_ms"] = (pos.t1 - spans["mark.pos_encode_start"].t0) * 1000.0
        windows.append((pos.t0, pos.t1))
    jobs = [j for t0, t1 in windows for j in log.jobs_in(t0, t1)]
    tot = defaultdict(float)
    for j in jobs:
        for k, v in j.totals.items():
            tot[k] += v
    # the encode stage: the stage of the main build's encode+write window
    # that kept executors busiest
    stage_tasks: dict[int, list] = {}
    for j in log.jobs_in(enc0, enc1):
        stage_tasks.update(j.task_ms)
    skew = 0.0
    if stage_tasks:
        tasks = max(stage_tasks.values(), key=sum)
        med = statistics.median(tasks)
        skew = max(tasks) / med if med > 0 else 0.0
    busy_s = sum(t1 - t0 for t0, t1 in windows)
    out.update(
        {
            "spark.build_shuffle_bytes": tot["shuffle_bytes"],
            "spark.build_spill_bytes": tot["spill_bytes"],
            "spark.build_gc_ms": tot["gc_ms"],
            "spark.encode_task_skew": skew,
            "spark.build_cpu_utilization": tot["cpu_ns"] / 1e9 / (busy_s * cores),
        }
    )
    return out
