"""2.4M-doc pipeline soak: throughput of the round-3/4 operators at the
headroom scale (the single-field index build already has a 2.4M number
in BENCH/BASELINE.md; this adds the rest so their scaling claims are
measured, not argued). Prints one JSON line.

Covered, over one synthesized 2.4M-page corpus (local[$SPARK_GRAFT_CPUS]):

* ``chunk_materialize``  — packed-training-sequence assembly (piece
  shuffle, two-pass prefix scan)
* ``lsh_pairs`` + ``connected_components`` — the real near-dup chain:
  shingles -> MinHash -> banded LSH -> pair graph -> transitive labels
  (rounds reported; pointer jumping keeps them ~log of cluster diameter)
* ``fielded_build``      — two-field (title/content) index build
* ``fielded_multiseg_p50``  — BM25F across two parity-split fielded
  segments via FieldedMultiSegmentSearcher's merged relational plan
* ``multiseg_p50``       — single-field two-segment serving
  (IndexSearcher, norms='join': zero driver state)

Usage: SPARK_GRAFT_PIPE_DOCS=2400000 python tools/bench_pipeline.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from sifter_mrc_search_engine_spark.session import get_spark
from sifter_mrc_search_engine_spark.operators.dedup import (
    connected_components,
    lsh_candidate_pairs,
)
from sifter_mrc_search_engine_spark.operators.fielded_index import (
    build_fielded_index,
    search_bm25f,
)
from sifter_mrc_search_engine_spark.operators.packing import materialize_chunks
from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
from sifter_mrc_search_engine_spark.sources.pages import VOCAB, synthesize_pages
from sifter_mrc_search_engine_spark.streaming.incremental import (
    FieldedMultiSegmentSearcher,
    _write_segment,
    commit_segment,
)

N_DOCS = int(os.environ.get("SPARK_GRAFT_PIPE_DOCS", "2400000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WEIGHTS = {"title": 2.0, "content": 1.0}
QUERIES = [
    f"{VOCAB[2]} {VOCAB[200]}",
    f"{VOCAB[300]} {VOCAB[500]}",
    f"{VOCAB[5]} {VOCAB[50]} {VOCAB[500]} {VOCAB[1500]}",
    f"{VOCAB[1500]} {VOCAB[1900]}",
] * 2


def p50(fn, reps):
    lats = []
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        lats.append(time.monotonic() - t0)
    lats.sort()
    return lats[len(lats) // 2]


def main() -> None:
    spark = get_spark(
        "sifter-pipeline-soak", master=f"local[{CPUS}]", shuffle_partitions=2 * CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_docs": N_DOCS, "cpus": CPUS}
    dirs = [tempfile.mkdtemp(prefix=f"soak_{k}_") for k in ("corpus", "fidx", "fseg", "seg")]
    corpus_dir, fidx, fseg, seg = dirs
    try:
        synthesize_pages(spark, N_DOCS, partitions=max(2 * CPUS, 8)).selectExpr(
            "cast(split(url, '/')[4] as long) as doc_id", "text"
        ).write.mode("overwrite").parquet(corpus_dir)
        pages = spark.read.parquet(corpus_dir)

        t0 = time.monotonic()
        out["chunks"] = materialize_chunks(pages, budget=1024).count()
        dt = time.monotonic() - t0
        out["chunk_materialize_sec"] = round(dt, 1)
        out["chunk_materialize_docs_per_sec"] = round(N_DOCS / dt, 1)

        t0 = time.monotonic()
        pairs = lsh_candidate_pairs(pages)
        from pyspark import StorageLevel

        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
        out["lsh_pairs"] = pairs.count()
        dt = time.monotonic() - t0
        out["lsh_pairs_sec"] = round(dt, 1)
        out["lsh_pairs_docs_per_sec"] = round(N_DOCS / dt, 1)

        # both CC algorithms head-to-head on the SAME persisted pair
        # graph (VERDICT r4 item 8). Measured r5 at 2.4M/72.3M edges:
        # star 75 s / 5 rounds vs jump 233 s / 9 rounds, identical
        # components -> 'star' took the default
        for algo in ("jump", "star"):
            t0 = time.monotonic()
            labels, rounds = connected_components(
                pairs, nodes=pages, return_rounds=True, algorithm=algo
            )
            n_comp = labels.filter("doc_id = component").count()
            dt = time.monotonic() - t0
            sfx = "" if algo == "jump" else "_star"
            out[f"cc_components{sfx}"] = n_comp
            out[f"cc_sec{sfx}"] = round(dt, 1)
            out[f"cc_rounds{sfx}"] = rounds
            out[f"cc_docs_per_sec{sfx}"] = round(N_DOCS / dt, 1)
        pairs.unpersist()

        two_field = pages.select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)).alias("title"),
            F.col("text").alias("content"),
        )
        t0 = time.monotonic()
        build_fielded_index(two_field, ["title", "content"], fidx)
        dt = time.monotonic() - t0
        out["fielded_build_sec"] = round(dt, 1)
        out["fielded_build_docs_per_sec"] = round(N_DOCS / dt, 1)

        t0 = time.monotonic()
        for par in (0, 1):
            sdir = f"{fseg}/segments/seg={par}"
            build_fielded_index(
                two_field.filter(F.col("doc_id") % 2 == par),
                ["title", "content"], sdir,
            )
            commit_segment(sdir, spark)
        dt = time.monotonic() - t0
        out["fielded_seg_build_sec"] = round(dt, 1)
        fm = FieldedMultiSegmentSearcher(spark, fseg)
        out["fielded_multiseg_p50_ms"] = round(
            p50(
                lambda: search_bm25f(
                    spark, "", QUERIES[0], WEIGHTS, top_k=10,
                    postings=fm.postings, doclens=fm.doclens, stats=fm.stats,
                ).collect(),
                reps=5,
            ) * 1000, 1,
        )
        # the low-latency tier: one-time driver preload, then the shared
        # cost-model kernels per query
        t0 = time.monotonic()
        fmp = FieldedMultiSegmentSearcher(spark, fseg, preload=True)
        out["fielded_multiseg_preload_init_sec"] = round(time.monotonic() - t0, 1)
        out["fielded_multiseg_preload_p50_ms"] = round(
            p50(lambda: fmp.search(QUERIES[0], WEIGHTS, top_k=10), reps=7)
            * 1000, 1,
        )

        t0 = time.monotonic()
        for par in (0, 1):
            _write_segment(
                pages.filter(F.col("doc_id") % 2 == par),
                f"{seg}/segments/seg={par}",
                buckets=64,
            )
        dt = time.monotonic() - t0
        out["seg_build_sec"] = round(dt, 1)
        out["seg_build_docs_per_sec"] = round(N_DOCS / dt, 1)
        ms = IndexSearcher(spark, seg, norms="join")
        out["multiseg_p50_ms"] = round(
            p50(lambda: ms.search(QUERIES[0], top_k=10), reps=5) * 1000, 1,
        )

        # positional / structured tier at soak scale: build once, then
        # per-shape serve latency — the claim under test is that serving
        # cost tracks the QUERY terms' postings (bucket+term-pruned scan),
        # not corpus size
        from sifter_mrc_search_engine_spark.operators import positional as _pos

        posd = tempfile.mkdtemp(prefix="soak_pos_")
        dirs.append(posd)
        t0 = time.monotonic()
        _pos.write_positional_index(pages, posd)
        dt = time.monotonic() - t0
        out["pos_build_sec"] = round(dt, 1)
        out["pos_build_docs_per_sec"] = round(N_DOCS / dt, 1)
        ph = f"{VOCAB[0]} {VOCAB[1]}"
        out["pos_phrase_p50_ms"] = round(
            p50(lambda: _pos.phrase_topk_indexed(spark, posd, ph).collect(), reps=5)
            * 1000, 1,
        )
        out["pos_slop_p50_ms"] = round(
            p50(
                lambda: _pos.phrase_slop_topk_indexed(spark, posd, ph, slop=2).collect(),
                reps=5,
            ) * 1000, 1,
        )
        out["pos_bool_p50_ms"] = round(
            p50(
                lambda: _pos.bool_topk_indexed(
                    spark, posd, must=[VOCAB[0]], must_not=[VOCAB[500]]
                ).collect(),
                reps=5,
            ) * 1000, 1,
        )
        out["pos_prefix_p50_ms"] = round(
            p50(
                lambda: _pos.prefix_topk_indexed(spark, posd, VOCAB[0][:3]).collect(),
                reps=5,
            ) * 1000, 1,
        )
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
