"""Headline benchmark (driver contract).

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "index_docs_per_sec": ...}

Workloads:
  * bm25_topk_*        — brute-force DataFrame BM25 over the sf documents
  * index_build_docs   — uncompressed postings over sf documents
  * index_build_pages  — compressed (varbyte+blockmax) index over a
                         synthesized Common-Crawl-style corpus (the real
                         engine workload; docs count scales with sf)
  * wand_batch         — distributed batch of 24 queries over the
                         just-built index (decode-once-per-term scan,
                         in-plan doclen join, exact per-query numpy
                         kernel — no driver broadcast of norms)
  * wand_batch_local   — same batch, scatter-gather on the driver with
                         the WAND/dense kernels (serving-head shape)
  * batch_relational   — same batch as ONE pure-Catalyst relational plan
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from sifter_mrc_search_engine_spark.session import get_spark
from sifter_mrc_search_engine_spark.operators import bm25, index_build
from sifter_mrc_search_engine_spark.plans.checkpoint import build_index_resumable
from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
from sifter_mrc_search_engine_spark.sources.pages import VOCAB, synthesize_pages

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# pages-corpus size: sf0.1 -> 120k docs (~3.4M tokens); scales linearly
_SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
PAGES_DOCS = int(os.environ.get("SPARK_GRAFT_PAGES_DOCS", str(int(1_200_000 * _SF))))
LOAD_START = round(os.getloadavg()[0], 2)

BATCH_QUERIES = [
    VOCAB[0],
    f"{VOCAB[0]} {VOCAB[1]}",
    f"{VOCAB[2]} {VOCAB[30]} {VOCAB[300]}",
    f"{VOCAB[5]} {VOCAB[50]} {VOCAB[500]} {VOCAB[1500]}",
] * 6


def main() -> None:
    spark = get_spark("sifter-bench", master=f"local[{CPUS}]", shuffle_partitions=2 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    trials_log: dict[str, list[float]] = {}
    t_all = time.monotonic()

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def timed(name, fn, trials=2):
        """min-of-N per query: the headline must not flap with ambient
        host load (r2's flagship swung ±12% on an unchanged plan). All
        trial times are recorded so variance stays visible."""
        out = None
        vals = []
        for _ in range(trials):
            t0 = time.monotonic()
            out = fn()
            vals.append(time.monotonic() - t0)
        timings[name] = round(min(vals), 3)
        trials_log[name] = [round(v, 3) for v in vals]
        return out

    timed("bm25_topk_flagship", lambda: bm25.bm25_brute_force(docs, "the fast query", 10).collect())
    timed("bm25_topk_multi", lambda: bm25.bm25_brute_force(docs, "spark join merge table", 10).collect())
    timed("index_build_docs", lambda: index_build.build_postings(docs).count())

    # engine workload: compressed index over synthesized pages. The corpus
    # is materialized to parquet FIRST (synthesis is not the engine under
    # test; a real corpus is a table on disk).
    corpus_dir = tempfile.mkdtemp(prefix="sifter_bench_corpus_")
    idx_dir = tempfile.mkdtemp(prefix="sifter_bench_idx_")
    warm_dir = tempfile.mkdtemp(prefix="sifter_bench_warm_")
    try:
        synthesize_pages(spark, PAGES_DOCS, partitions=max(2 * CPUS, 8)).selectExpr(
            "cast(split(url, '/')[4] as long) as doc_id", "text"
        ).write.mode("overwrite").parquet(corpus_dir)
        pages = spark.read.parquet(corpus_dir)
        # warm-up build (JIT + Python-daemon spawn) so the measured runs
        # approach the steady state a long-lived cluster sees
        build_index_resumable(pages.limit(PAGES_DOCS // 6), warm_dir, buckets=64)
        # min-of-3 for the build specifically: measured r5, the JIT +
        # shuffle warm-in is progressive across FULL builds ([18.9,
        # 14.8, 7.97] in one JVM) — two trials report a still-warming
        # number (r4's 12.7 "regression" on an untouched build path),
        # three reach the steady state a long-lived cluster serves at
        build_times = []
        for trial in range(3):
            shutil.rmtree(idx_dir, ignore_errors=True)
            t0 = time.monotonic()
            build_index_resumable(pages, idx_dir, buckets=64)
            build_times.append(time.monotonic() - t0)
        build_s = min(build_times)
        timings["index_build_pages"] = round(build_s, 3)
        trials_log["index_build_pages"] = [round(v, 3) for v in build_times]
        docs_per_sec = PAGES_DOCS / build_s

        # packed-training-sequence materialization over the same corpus
        # (piece-shuffle + two-pass prefix scan; r3's 3x-tokenize+join
        # shape measured 3.6x slower at 1.2M docs)
        from sifter_mrc_search_engine_spark.operators.packing import (
            materialize_chunks,
        )

        timed("chunk_materialize", lambda: materialize_chunks(pages, budget=1024).count())

        # positional-index build + phrase serving (NEW r5). Reported as
        # side keys, NOT in the headline sum: the suite metric must stay
        # comparable across rounds (same rule as query_p50_ms).
        from sifter_mrc_search_engine_spark.operators import positional as _pos

        pos_dir = tempfile.mkdtemp(prefix="sifter_bench_pos_")
        try:
            shutil.rmtree(pos_dir, ignore_errors=True)
            t0 = time.monotonic()
            _pos.write_positional_index(pages, pos_dir)
            pos_build_s = time.monotonic() - t0
            phrases = [f"{VOCAB[0]} {VOCAB[1]}", f"{VOCAB[2]} {VOCAB[3]}",
                       f"{VOCAB[10]} {VOCAB[11]}", f"{VOCAB[100]} {VOCAB[101]}"]
            t0 = time.monotonic()
            for ph in phrases:
                _pos.phrase_topk_indexed(spark, pos_dir, ph).collect()
            pos_phrase_s = time.monotonic() - t0
            # the rest of the structured family from the same index
            # (slop chain join, dictionary expansion, boolean gates)
            t0 = time.monotonic()
            _pos.phrase_slop_topk_indexed(spark, pos_dir, phrases[0], slop=2).collect()
            _pos.prefix_topk_indexed(spark, pos_dir, VOCAB[0][:3]).collect()
            _pos.fuzzy_topk_indexed(spark, pos_dir, VOCAB[0], max_edits=1).collect()
            _pos.bool_topk_indexed(
                spark, pos_dir, must=[VOCAB[0]], should=[VOCAB[2]], must_not=[VOCAB[500]]
            ).collect()
            pos_structured_s = time.monotonic() - t0
        finally:
            shutil.rmtree(pos_dir, ignore_errors=True)

        searcher = IndexSearcher(spark, idx_dir)
        timed("wand_batch", lambda: searcher.search_many(BATCH_QUERIES, 10).collect())
        timed("wand_batch_local", lambda: searcher.search_many_local(BATCH_QUERIES, 10))
        timed(
            "batch_relational",
            lambda: searcher.search_many_relational(BATCH_QUERIES, 10).collect(),
        )

        def percentiles(s):
            lats = []
            for q in BATCH_QUERIES:
                t0 = time.monotonic()
                s.search(q, top_k=10)
                lats.append(time.monotonic() - t0)
            lats.sort()
            return lats[len(lats) // 2], lats[int(len(lats) * 0.95) - 1]

        lat_p50, lat_p95 = percentiles(searcher)
        served = IndexSearcher(spark, idx_dir, preload=True)
        serve_p50, serve_p95 = percentiles(served)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(warm_dir, ignore_errors=True)

    wall = round(time.monotonic() - t_all, 3)
    # headline = sum of per-query MINs: stable under host-load spikes;
    # wall_sec (which includes every extra trial) stays visible beside
    # it. The metric NAME is versioned (_min_): r2's value was wall
    # time, r3+ is the min-sum — same name would invite cross-round
    # apples-to-oranges comparison
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "bm25_engine_suite_min_sec",
                "value": total,
                "unit": "sec",
                "wall_sec": wall,
                "queries": timings,
                "trials": trials_log,
                "sf": _SF,
                "pages_docs": PAGES_DOCS,
                "index_docs_per_sec": round(docs_per_sec, 1),
                "query_p50_ms": round(lat_p50 * 1000, 1),
                "query_p95_ms": round(lat_p95 * 1000, 1),
                "serve_p50_ms": round(serve_p50 * 1000, 2),
                "serve_p95_ms": round(serve_p95 * 1000, 2),
                "pos_index_build_sec": round(pos_build_s, 3),
                "pos_docs_per_sec": round(PAGES_DOCS / pos_build_s, 1),
                "pos_phrase_batch_sec": round(pos_phrase_s, 3),
                "pos_structured_mix_sec": round(pos_structured_s, 3),
                "cpus": CPUS,
                # ambient-load context: this host swings bench numbers
                # up to 3x (r3 memory); a number read without its load
                # is not a number
                "load_1m_start": LOAD_START,
                "load_1m_end": round(os.getloadavg()[0], 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
