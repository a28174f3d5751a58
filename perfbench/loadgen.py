"""Closed-loop HTTP load generator for the ``serve`` workload.

Runs as its own process (standard library only) so client threads do
not compete with the server for its interpreter lock. Each of
``--connections`` threads sends ``GET /inference`` requests back to back,
its next request only after the previous reply: first ``--warmup``
untimed requests, then timed requests until ``--seconds`` have passed.
A non-200 reply or an exception counts as a failure.

    python3 perfbench/loadgen.py --port P --inputs inputs.json --out result.json \
        --seconds 10 --connections 2 --warmup 20
"""

from __future__ import annotations

import argparse
import http.client
import json
import threading
import time
from urllib.parse import urlencode

TOP_K = 10


def inference_path(question: str) -> str:
    return "/inference?" + urlencode(
        {"question": question, "top_k": TOP_K, "doc_page_size": TOP_K}
    )


def send(conn: http.client.HTTPConnection, question: str):
    """One request -> (ok, latency seconds, parsed body or None)."""
    t0 = time.perf_counter()
    try:
        conn.request("GET", inference_path(question), headers={"Connection": "keep-alive"})
        resp = conn.getresponse()
        body = resp.read()
        status = resp.status
    except (OSError, http.client.HTTPException):
        conn.close()  # the next request reconnects
        return False, time.perf_counter() - t0, None
    latency = time.perf_counter() - t0
    if status != 200:
        return False, latency, None
    return True, latency, json.loads(body)


class Worker(threading.Thread):
    def __init__(self, port: int, questions: list, warmup: list, start_at: threading.Barrier,
                 seconds: float, keep: int):
        super().__init__(daemon=True)
        self.port, self.questions, self.warmup = port, questions, warmup
        self.start_at, self.seconds, self.keep = start_at, seconds, keep
        self.latencies: list[float] = []
        self.attempted = self.failed = 0
        self.samples: list[dict] = []
        self.t0 = self.t1 = 0.0

    def run(self) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            for q in self.warmup:
                send(conn, q)
            self.start_at.wait()
            self.t0 = time.time()
            deadline = time.perf_counter() + self.seconds
            i = 0
            while time.perf_counter() < deadline:
                q = self.questions[i % len(self.questions)]
                i += 1
                ok, latency, body = send(conn, q)
                self.attempted += 1
                if not ok:
                    self.failed += 1
                    continue
                self.latencies.append(latency)
                if len(self.samples) < self.keep:
                    self.samples.append(
                        {"question": q, "answers": [[a["doc_id"], a["score"]] for a in body["answers"]]}
                    )
            self.t1 = time.time()
        finally:
            conn.close()


def run(port: int, questions: list, warmup: list, seconds: float, connections: int, keep: int) -> dict:
    barrier = threading.Barrier(connections)
    workers = [
        Worker(port, questions[i::connections], warmup[i::connections], barrier, seconds,
               keep if i == 0 else 0)
        for i in range(connections)
    ]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    t0 = min(w.t0 for w in workers)
    t1 = max(w.t1 for w in workers)
    return {
        "t0": t0,
        "t1": t1,
        "latencies_s": [x for w in workers for x in w.latencies],
        "attempted": sum(w.attempted for w in workers),
        "failed": sum(w.failed for w in workers),
        "samples": [s for w in workers for s in w.samples],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--inputs", required=True, help="JSON {questions: [...], warmup: [...]}")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--connections", type=int, default=2)
    ap.add_argument("--keep", type=int, default=4, help="answers kept for the correctness check")
    args = ap.parse_args()
    with open(args.inputs) as f:
        inputs = json.load(f)
    out = run(args.port, inputs["questions"], inputs["warmup"], args.seconds,
              args.connections, args.keep)
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
