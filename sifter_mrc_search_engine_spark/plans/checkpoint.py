"""Resumable index build: per-partition checkpoints with lineage + metrics.

Semantics from the reference's check-then-skip pickle checkpoints
(reference: modules/lm_post_training/extractor.py:171-177, :208-244 and
train.py:100-129): existence of a completed artifact short-circuits
recomputation. Here the artifact unit is a TERM BUCKET (the index's
partition key); the manifest is an append-only JSONL where each line
carries the north-rule lineage fields:

    {bucket, input_fingerprint, terms, postings, docs_per_sec, wall_ms,
     completed_utc_ms}

Resume = read manifest -> anti-set of completed buckets -> ONE Spark job
over the missing buckets only (dynamic partition overwrite keeps completed
bucket directories untouched). A manifest line is appended only after the
job that wrote its bucket has finished — a kill mid-job leaves no line, so
the bucket reruns on resume (writes are idempotent per bucket).

Scale notes: the per-bucket filter prunes the ENCODE + WRITE work; the
tokenize/tf scan still reads the input (at 100 TB you'd additionally
checkpoint the tf aggregate as its own table — hook left in
``persist_tf_path``).
"""

from __future__ import annotations

import json
import time
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import TERM_BUCKETS
from ..operators.compressed_index import (
    build_compressed_index,
    release_build_cache,
    write_index,
)
from ..functions import fsio
from ..functions.analyzer import tokenize_expr


def read_manifest(index_dir: str, spark: SparkSession | None = None) -> list[dict]:
    p = fsio.join(index_dir, "_manifest.jsonl")
    if not fsio.exists(p, spark):
        return []
    return [
        json.loads(line)
        for line in fsio.read_text(p, spark).splitlines()
        if line.strip()
    ]


def _append_manifest(
    index_dir: str, rows: Sequence[dict], spark: SparkSession | None = None
) -> None:
    """``spark`` is passed EXPLICITLY from the builders (which always
    hold one): inside foreachBatch / py4j callback threads,
    getActiveSession's thread-local can be absent or a different
    session with different Hadoop credentials."""
    fsio.append_text(
        fsio.join(index_dir, "_manifest.jsonl"),
        "".join(json.dumps(r, sort_keys=True) + "\n" for r in rows),
        spark,
    )


_FP_MOD = 1_000_003  # sum of pmod values stays < 2^63 up to ~9e12 rows


def input_fingerprint(docs: DataFrame, id_col: str = "doc_id") -> str:
    """Cheap deterministic corpus identity: (count, modular sum, min, max)
    of ids. The sum is over pmod(id, 1e6+3) so hash-valued doc_ids cannot
    overflow ANSI long arithmetic (Spark 4 default)."""
    r = docs.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.pmod(F.col(id_col), F.lit(_FP_MOD))).alias("s"),
        F.min(id_col).alias("mn"),
        F.max(id_col).alias("mx"),
    ).collect()[0]
    return f"n{r['c']}_s{r['s']}_mn{r['mn']}_mx{r['mx']}"


def _write_doclens_with_stats(
    docs: DataFrame, path: str, id_col: str, text_col: str
) -> tuple[dict, str]:
    """One input scan: write the norms sidecar, then derive corpus stats AND
    the input fingerprint from the (tiny) sidecar instead of re-scanning."""
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokenize_expr(text_col)).cast("long").alias("doc_len"),
    )
    dl.write.mode("overwrite").parquet(path)
    spark = docs.sparkSession
    r = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("c"),
        F.avg("doc_len").alias("avgdl"),
        F.sum(F.pmod(F.col("doc_id"), F.lit(_FP_MOD))).alias("s"),
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    stats = {"n_docs": int(r["c"]), "avgdl": float(r["avgdl"])}
    fp = f"n{r['c']}_s{r['s']}_mn{r['mn']}_mx{r['mx']}"
    return stats, fp


def build_index_resumable(
    docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = TERM_BUCKETS,
    max_buckets_this_run: int | None = None,
    **index_kwargs,
) -> dict:
    """Build (or resume) the compressed index at ``index_dir``.

    ``max_buckets_this_run`` is the fault-injection hook: process only that
    many missing buckets then stop, simulating a mid-build kill
    (FIXTURES.md §7). Returns a summary dict.
    """
    from concurrent.futures import ThreadPoolExecutor

    from ..constants import SALT_THRESHOLD
    from ..operators.compressed_index import sample_hot_terms, tf_doclen

    spark = docs.sparkSession
    positions = bool(index_kwargs.get("positions", False))
    manifest = read_manifest(index_dir, spark)
    done = {m["bucket"] for m in manifest if "bucket" in m}
    have_doclens = any(m.get("kind") == "doclens" for m in manifest)

    t0 = time.monotonic()
    hot = None
    if not have_doclens:
        # one input scan writes the norms sidecar; stats + fingerprint come
        # from the sidecar (tiny), not further input scans. The Zipf-head
        # sample for encode-time salting is an INDEPENDENT job — run it
        # concurrently so its tasks back-fill the doclens job's tail
        # (guide-standard overlap of independent actions) instead of
        # paying the two scans back to back.
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_hot = pool.submit(
                sample_hot_terms,
                tf_doclen(docs, id_col, text_col),
                index_kwargs.get("salt_threshold", SALT_THRESHOLD),
            )
            stats, fp = _write_doclens_with_stats(
                docs, f"{index_dir}/doclens", id_col, text_col
            )
            hot = f_hot.result()
        # the bucket modulus rides stats.json: searchers prune with the
        # modulus the index was BUILT with, never a caller's guess; so
        # does ``positions``, so a resume cannot mix tf-only and
        # positional buckets in one dir
        stats = {**stats, "buckets": buckets, "positions": positions}
        fsio.write_text(fsio.join(index_dir, "stats.json"), json.dumps(stats), spark)
        _append_manifest(
            index_dir,
            [
                {
                    "kind": "doclens",
                    "input_fingerprint": fp,
                    "n_docs": stats["n_docs"],
                    "avgdl": stats["avgdl"],
                    "wall_ms": int((time.monotonic() - t0) * 1000),
                    "completed_utc_ms": int(time.time() * 1000),
                }
            ],
            spark,
        )
    else:
        stats = json.loads(fsio.read_text(fsio.join(index_dir, "stats.json"), spark))
        fp = input_fingerprint(docs, id_col)
        if int(stats.get("buckets", buckets)) != buckets:
            raise ValueError(
                f"index at {index_dir} was started with {stats['buckets']} "
                f"buckets, not {buckets}; refusing to mix"
            )
        if bool(stats.get("positions", positions)) != positions:
            raise ValueError(
                f"index at {index_dir} was started with positions="
                f"{stats['positions']}, not {positions}; refusing to mix"
            )

    stale = [m for m in manifest if m.get("input_fingerprint") not in (None, fp)]
    if stale:
        raise ValueError(
            f"manifest at {index_dir} was built from different input "
            f"({stale[0]['input_fingerprint']} != {fp}); refusing to mix"
        )
    n_docs = int(stats["n_docs"])

    missing = [b for b in range(buckets) if b not in done]
    if max_buckets_this_run is not None:
        missing = missing[:max_buckets_this_run]
    if not missing:
        # same shape as the build return so idempotent re-runs can read
        # result["n_docs"] / ["wall_ms"] without a KeyError
        return {
            "resumed": True,
            "built_buckets": [],
            "skipped": len(done),
            "wall_ms": 0,
            "docs_per_sec": 0.0,
            "n_docs": n_docs,
        }

    t1 = time.monotonic()
    idx = build_compressed_index(
        docs,
        id_col,
        text_col,
        buckets=buckets,
        stats=(n_docs, float(stats["avgdl"])),
        only_buckets=missing,
        hot=hot,
        **index_kwargs,
    )
    write_index(idx, f"{index_dir}/postings", dynamic=True)
    release_build_cache()
    wall_ms = int((time.monotonic() - t1) * 1000)

    # per-bucket lineage metrics from the landed files (cheap metadata scan)
    per_bucket = {
        r["bucket"]: r
        for r in spark.read.parquet(f"{index_dir}/postings")
        .filter(F.col("bucket").isin(missing))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("terms"), F.sum("n").alias("postings"))
        .collect()
    }
    share = max(len(missing), 1)
    now = int(time.time() * 1000)
    docs_per_sec = n_docs / max(wall_ms / 1000.0, 1e-9)
    _append_manifest(
        index_dir,
        [
            {
                "bucket": b,
                "input_fingerprint": fp,
                "terms": int(per_bucket[b]["terms"]) if b in per_bucket else 0,
                "postings": int(per_bucket[b]["postings"]) if b in per_bucket else 0,
                "wall_ms": wall_ms // share,
                "docs_per_sec": round(docs_per_sec / share, 3),
                "completed_utc_ms": now,
            }
            for b in missing
        ],
        spark,
    )
    return {
        "resumed": bool(done),
        "built_buckets": missing,
        "skipped": len(done),
        "wall_ms": wall_ms,
        "docs_per_sec": docs_per_sec,
        "n_docs": n_docs,
    }


def build_fielded_index_resumable(
    docs: DataFrame,
    fields: Sequence[str],
    index_dir: str,
    id_col: str = "doc_id",
    buckets: int = TERM_BUCKETS,
    max_buckets_this_run: int | None = None,
) -> dict:
    """Build (or resume) a FIELDED index (operators/fielded_index.py layout)
    with the same per-bucket manifest protocol as :func:`build_index_resumable`.

    Stages, each gated by its manifest line: ``doclens`` (per-field norms +
    stats.json with per-field length sums), one line per term ``bucket``
    (dynamic partition overwrite keeps completed buckets untouched), and
    ``term_df`` (the union-df sidecar, written once every bucket has
    landed). A fielded rebuild at 100 TB re-tokenizes every field of every
    page — exactly the job a mid-run kill must not restart from zero.
    """
    from ..operators.compressed_index import encode_tf
    from ..operators.fielded_index import (
        explode_grouped_tf,
        fielded_grouped_tf,
        write_fielded_doclens,
        write_fielded_term_df,
    )

    spark = docs.sparkSession
    manifest = read_manifest(index_dir, spark)
    done = {m["bucket"] for m in manifest if "bucket" in m}
    have_doclens = any(m.get("kind") == "doclens" for m in manifest)
    have_term_df = any(m.get("kind") == "term_df" for m in manifest)

    fp = input_fingerprint(docs, id_col)
    stale = [m for m in manifest if m.get("input_fingerprint") not in (None, fp)]
    if stale:
        raise ValueError(
            f"manifest at {index_dir} was built from different input "
            f"({stale[0]['input_fingerprint']} != {fp}); refusing to mix"
        )

    missing = [b for b in range(buckets) if b not in done]
    if max_buckets_this_run is not None:
        missing = missing[:max_buckets_this_run]
    finishes_postings = set(done) | set(missing) == set(range(buckets))
    if have_doclens and not missing and have_term_df:
        stats = json.loads(fsio.read_text(fsio.join(index_dir, "stats.json"), spark))
        return {
            "resumed": True,
            "built_buckets": [],
            "skipped": len(done),
            "wall_ms": 0,
            "n_docs": int(stats["n_docs"]),
        }

    from pyspark import StorageLevel

    g = fielded_grouped_tf(docs, fields, id_col)
    # persist only when the aggregate has 2+ consumers this run
    # (doclens stage, encode stage, term_df sidecar)
    n_consumers = (
        int(not have_doclens)
        + int(bool(missing))
        + int(finishes_postings and not have_term_df)
    )
    persisted = n_consumers >= 2
    if persisted:
        g = g.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        t0 = time.monotonic()
        if not have_doclens:
            stats = write_fielded_doclens(g, docs.count(), fields, index_dir)
            stats["buckets"] = buckets  # FieldedSearcher prunes with it
            fsio.write_text(fsio.join(index_dir, "stats.json"), json.dumps(stats), spark)
            _append_manifest(
                index_dir,
                [
                    {
                        "kind": "doclens",
                        "input_fingerprint": fp,
                        "n_docs": stats["n_docs"],
                        "fields": stats["fields"],
                        "wall_ms": int((time.monotonic() - t0) * 1000),
                        "completed_utc_ms": int(time.time() * 1000),
                    }
                ],
                spark,
            )
        else:
            stats = json.loads(fsio.read_text(fsio.join(index_dir, "stats.json"), spark))
            if sorted(stats["fields"]) != sorted(fields):
                raise ValueError(
                    f"manifest at {index_dir} was built for fields "
                    f"{stats['fields']}, not {sorted(fields)}; refusing to mix"
                )
        n_docs = int(stats["n_docs"])

        wall_ms = 0
        if missing:
            t1 = time.monotonic()
            tf = explode_grouped_tf(g, fields, with_doc_len=False)
            idx = encode_tf(
                tf, n_docs, 1.0, buckets=buckets, with_impacts=False,
                only_buckets=missing,
            )
            write_index(idx, f"{index_dir}/postings", dynamic=True)
            wall_ms = int((time.monotonic() - t1) * 1000)
            per_bucket = {
                r["bucket"]: r
                for r in spark.read.parquet(f"{index_dir}/postings")
                .filter(F.col("bucket").isin(missing))
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("terms"), F.sum("n").alias("postings"))
                .collect()
            }
            share = max(len(missing), 1)
            now = int(time.time() * 1000)
            docs_per_sec = n_docs / max(wall_ms / 1000.0, 1e-9)
            _append_manifest(
                index_dir,
                [
                    {
                        "bucket": b,
                        "input_fingerprint": fp,
                        "terms": int(per_bucket[b]["terms"]) if b in per_bucket else 0,
                        "postings": int(per_bucket[b]["postings"]) if b in per_bucket else 0,
                        "wall_ms": wall_ms // share,
                        "docs_per_sec": round(docs_per_sec / share, 3),
                        "completed_utc_ms": now,
                    }
                    for b in missing
                ],
                spark,
            )
        if finishes_postings and not have_term_df:
            t2 = time.monotonic()
            write_fielded_term_df(g, f"{index_dir}/term_df")
            _append_manifest(
                index_dir,
                [
                    {
                        "kind": "term_df",
                        "input_fingerprint": fp,
                        "wall_ms": int((time.monotonic() - t2) * 1000),
                        "completed_utc_ms": int(time.time() * 1000),
                    }
                ],
                spark,
            )
    finally:
        if persisted:
            g.unpersist()
    return {
        "resumed": bool(done),
        "built_buckets": missing,
        "skipped": len(done),
        "wall_ms": wall_ms,
        "n_docs": n_docs,
    }
