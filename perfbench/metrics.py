"""Metric names and units: every metric the benchmark prints.

``BENCHMARK.json`` declares the same names and units; a test keeps the
two in step, and :func:`result_line` refuses to print an undeclared or
missing metric.
"""

from __future__ import annotations

import json
import math

#: end-to-end metrics, printed by every untraced run
END_TO_END = {
    "setup_s": "s",
    "requests_per_s": "1/s",
    "latency_p50_ms": "ms",
    "rss_mb": "MB",
    "build_docs_per_s": "1/s",
    "index_bytes_per_doc": "B",
}

#: request classes of the scan workload
SCAN_CLASSES = ("term", "batch", "phrase_head", "phrase_tail")

#: per-class Spark metrics; each is printed for the whole workload
#: (``spark.<name>``) and per scan class (``spark.<name>.<class>``)
SPARK_PER_CLASS = {
    "jobs_per_request": "count",
    "stages_per_request": "count",
    "tasks_per_request": "count",
    "job_ms": "ms",
    "driver_self_ms": "ms",
    "executor_cpu_ms": "ms",
    "gc_ms": "ms",
    "scan_bytes": "B",
    "scan_rows": "count",
    "shuffle_bytes": "B",
    "python_boot_ms": "ms",
    "python_run_ms": "ms",
    "python_bytes": "B",
}

#: per-layer metrics, printed by every traced run (0 where a workload
#: does not enter the layer)
PER_LAYER = {
    # request path (means per request of the workload)
    "request.wall_ms": "ms",
    "trace.self_sum_ratio": "1",
    "http_service.overhead_ms": "ms",
    "service.self_ms": "ms",
    "analyzer.calls_per_request": "count",
    "analyzer.ms_per_request": "ms",
    "query.self_ms": "ms",
    "query.fetch_ms": "ms",
    "query.rows_per_request": "count",
    "query.postings_per_result": "count",
    "wand.kernel_ms": "ms",
    "wand.self_ms": "ms",
    "postings_codec.decode_calls": "count",
    "postings_codec.decode_ms": "ms",
    "structured.ms": "ms",
    "fsio.calls_per_request": "count",
    # latency detail behind the end-to-end figures
    "latency_p99_ms": "ms",
    **{f"scan.{c}_p50_ms": "ms" for c in SCAN_CLASSES},
    "scan.batch_queries_per_s": "1/s",
    # Spark, whole workload and per scan class
    **{f"spark.{k}": u for k, u in SPARK_PER_CLASS.items()},
    **{
        f"spark.{k}.{c}": u
        for c in SCAN_CLASSES
        for k, u in SPARK_PER_CLASS.items()
    },
    # index builds
    "checkpoint.build_ms": "ms",
    "checkpoint.doclens_ms": "ms",
    "checkpoint.encode_write_ms": "ms",
    "checkpoint.lineage_ms": "ms",
    "positional.build_ms": "ms",
    "positional.encode_write_ms": "ms",
    "spark.build_shuffle_bytes": "B",
    "spark.build_spill_bytes": "B",
    "spark.build_gc_ms": "ms",
    "spark.encode_task_skew": "1",
    "spark.build_cpu_utilization": "1",
    # index on disk
    "index.main_bytes": "B",
    "index.positional_bytes": "B",
    "index.doclens_bytes": "B",
    "index.files": "count",
    # set-up
    "session.start_s": "s",
    "pages.synth_s": "s",
    "setup.build_s": "s",
    "query.preload_s": "s",
    "spark.jvm_rss_mb": "MB",
}


class UndeclaredMetric(ValueError):
    pass


def result_line(
    correct: bool, attempted: int, failed: int, values: dict, declared: dict
) -> str:
    """The final JSON line. ``values`` must hold exactly the ``declared``
    metrics (name -> unit), each a finite number."""
    extra = sorted(set(values) - set(declared))
    missing = sorted(set(declared) - set(values))
    if extra or missing:
        raise UndeclaredMetric(f"undeclared {extra}, missing {missing}")
    for k, v in values.items():
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {k} is not a finite number: {v!r}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(values[k]), "unit": declared[k]}
                for k in declared
            },
        }
    )
