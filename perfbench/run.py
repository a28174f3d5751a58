#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads: ``serve`` (HTTP front door over a preloaded index) and
``scan`` (Spark-side query tier). Inputs are made from ``--seed``; the
timed window lasts about ``--seconds``. With ``--trace 0`` the result
holds the end-to-end metrics; with ``--trace 1`` the per-layer metrics
of a traced run. Lines before the last carry run context (CPU steal,
load), workload detail and, for traced runs, the tracing-overhead
report. Exit status is 0 only when no request failed and every checked
output matched its oracle; otherwise the last line reads
``"correct": false`` and carries no metrics.
"""

from __future__ import annotations

import time

STARTED = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("serve", "scan")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "sifter_mrc_search_engine_spark" / "__init__.py").is_file():
        print(f"library package not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import common, metrics
    from perfbench.measure import HostContext

    host = HostContext()
    workload = __import__(f"perfbench.{args.workload}", fromlist=["run"])
    common.fresh_work_dir()
    try:
        outcome = workload.run(args.seed, args.seconds, bool(args.trace), STARTED)
    except common.CheckFailed as e:
        print(f"correctness check failed: {e}", file=sys.stderr)
        print(json.dumps({"context": host.finish()}))
        print(json.dumps({"correct": False, "attempted": e.attempted, "failed": e.failed,
                          "metrics": {}}))
        return 1
    finally:
        common.remove_work_dir()

    print(json.dumps({"context": host.finish()}))
    print(json.dumps({"detail": outcome.detail}))
    if args.trace:
        untraced = common.load_untraced(args.workload, args.seed, args.seconds)
        print(json.dumps({"tracing_overhead": {
            k: {"untraced": None if untraced is None else untraced.get(k), "traced": v}
            for k, v in outcome.e2e.items()
        }}))
        values, declared = outcome.layers, metrics.PER_LAYER
    else:
        common.save_untraced(args.workload, args.seed, args.seconds, outcome.e2e)
        values, declared = outcome.e2e, metrics.END_TO_END
    print(metrics.result_line(True, outcome.attempted, 0, values, declared))
    return 0


if __name__ == "__main__":
    sys.exit(main())
