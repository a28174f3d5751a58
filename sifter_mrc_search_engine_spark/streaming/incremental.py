"""Incremental index maintenance via Structured Streaming.

The reference has no stream processing (SURVEY.md §2.9); its closest
analogue is the check-then-skip checkpoint loop. This module adds the
streamed-ingest path a living corpus needs: ``readStream`` over arriving
page files -> ``foreachBatch`` -> one immutable index SEGMENT per batch
(Lucene-style), each with its own postings/doclens/stats.

The index dir's root stats.json is its commit point: ``{"segments":
[...]}``, one entry per committed segment (its stats plus its relative
``path``), in batch order. :func:`commit_segment` publishes a written
segment by rewriting it atomically, so a reader sees a segment whole or
not at all.

``plans.query.IndexSearcher`` serves a streamed dir like a built one,
exactly, from the merged stats (:class:`operators.compressed_index.
IndexSnapshot`):
  * df(term)  = sum of segment dfs
  * N, avgdl  = merged from segment stats (counts and length sums add)
  * per-posting tf and doc lengths are stored exactly, so BM25 scores are
    recomputed exactly under the MERGED stats at query time
  * the per-segment impact bounds (max_impact, blockmax) were computed
    under segment-local stats and go stale under merged stats, so they
    are replaced by the always-valid bound idf_merged * (k1 + 1) (since
    tf*(k1+1)/(tf + K) < k1+1 for K > 0) and block-max pruning is off —
    weaker pruning, identical results.

A background compaction (``compact_segments``) merges segments into one,
restoring tight bounds — the classic segment-merge tradeoff.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import BM25_B, BM25_K1, DEFAULT_TOP_K, TERM_BUCKETS
from ..functions import fsio
from ..functions.analyzer import tokenize_expr
from ..operators.compressed_index import (
    DEFAULT_PRELOAD_BUDGET_BYTES,
    build_compressed_index,
    check_preload_budget,
    write_index,
)

PAGES_DDL = "doc_id long, text string"


def _write_segment(batch_df: DataFrame, seg_dir: str, buckets: int) -> None:
    """Write one batch as the segment ``seg_dir`` and commit it."""
    spark = batch_df.sparkSession
    dl = batch_df.select(
        "doc_id", F.size(tokenize_expr("text")).cast("long").alias("doc_len")
    )
    dl.write.mode("overwrite").parquet(f"{seg_dir}/doclens")
    r = spark.read.parquet(f"{seg_dir}/doclens").agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("s")
    ).collect()[0]
    n_docs, dl_sum = int(r["n"]), int(r["s"] or 0)
    # the segment records the modulus it was written with: a searcher
    # pruning with another one would silently drop postings
    stats = {"n_docs": n_docs, "dl_sum": dl_sum,
             "avgdl": (dl_sum / n_docs) if n_docs else 0.0, "buckets": buckets}
    idx = build_compressed_index(batch_df, buckets=buckets, stats=(n_docs, stats["avgdl"]))
    write_index(idx, f"{seg_dir}/postings")
    fsio.write_text(fsio.join(seg_dir, "stats.json"), json.dumps(stats), spark)
    commit_segment(seg_dir, spark)


def _segment_batch_id(path: str) -> int:
    name = str(path).rstrip("/").rsplit("/", 1)[-1]
    try:
        return int(name.split("=", 1)[1])
    except (IndexError, ValueError):
        return -1


def commit_segment(seg_dir: str, spark: SparkSession | None = None) -> None:
    """Publish the written segment ``seg_dir``, laid out as
    ``<index_dir>/segments/seg=<batch_id>``, into its index's commit
    point: the entry is the segment's own stats.json (whatever kind of
    index it holds) plus its path relative to ``index_dir``. Entries stay
    in BATCH order — numeric on the batch id, so seg=10 follows seg=9;
    compaction's keep-latest dedupe depends on it. Idempotent: a
    re-committed segment replaces its entry. One writer per index dir
    (the stream's driver)."""
    index_dir, name = str(seg_dir).rstrip("/").rsplit("/segments/", 1)
    entry = json.loads(fsio.read_text(fsio.join(seg_dir, "stats.json"), spark))
    entry["path"] = f"segments/{name}"
    root = fsio.join(index_dir, "stats.json")
    segs = json.loads(fsio.read_text(root, spark))["segments"] if fsio.exists(root, spark) else []
    segs = [s for s in segs if s["path"] != entry["path"]] + [entry]
    segs.sort(key=lambda s: (_segment_batch_id(s["path"]), s["path"]))
    fsio.write_text(root, json.dumps({"segments": segs}), spark)


def _committed(index_dir: str, spark: SparkSession | None = None) -> list[dict]:
    """The commit point's entries in batch order, each ``path`` made
    absolute; none before the first commit."""
    root = fsio.join(index_dir, "stats.json")
    if not fsio.exists(root, spark):
        return []
    segs = json.loads(fsio.read_text(root, spark)).get("segments", [])
    return [{**s, "path": fsio.join(index_dir, s["path"])} for s in segs]


def list_segments(index_dir: str, spark: SparkSession | None = None) -> list[str]:
    """Committed segment dirs in batch order."""
    return [s["path"] for s in _committed(index_dir, spark)]


def stream_build_index(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    buckets: int = TERM_BUCKETS,
    available_now: bool = True,
):
    """Stream parquet page files from ``input_dir`` into per-batch segments.

    ``available_now=True`` drains everything currently present and stops
    (the testable mode); in production the query runs continuously and the
    streaming checkpoint makes ingestion exactly-once per file.
    """
    stream = spark.readStream.schema(PAGES_DDL).parquet(input_dir)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _write_segment(batch_df, f"{index_dir}/segments/seg={batch_id}", buckets)

    writer = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def compact_segments(
    spark: SparkSession, index_dir: str, buckets: int = TERM_BUCKETS
) -> str:
    """Merge all committed segments into one (tight bounds restored).

    Fully distributed: each segment's postings are decoded back to tf
    rows by :func:`decode_index_df` (executor-side pandas UDF — postings
    are never collected to the driver), unioned, deduped keep-latest by
    doc_id (a doc re-delivered in a later stream batch wins, so
    at-least-once sources compact to exactly-once state), then re-encoded
    with :func:`encode_tf` under the merged corpus stats — which also
    restores tight per-block max-impact bounds for WAND.
    """
    from ..operators.compressed_index import decode_index_df, encode_tf

    segs = list_segments(index_dir, spark)
    seg_ids = {s: i for i, s in enumerate(segs)}  # list order = batch order
    post = None
    dl = None
    for seg in segs:
        p = spark.read.parquet(f"{seg}/postings").withColumn(
            "_seg", F.lit(seg_ids[seg])
        )
        # allowMissingColumns: tolerate pre-blockmaxtf segments (re-encode
        # below rebuilds full metadata anyway)
        post = (
            p if post is None
            else post.unionByName(p, allowMissingColumns=True)
        )
        d = spark.read.parquet(f"{seg}/doclens").withColumn("_seg", F.lit(seg_ids[seg]))
        dl = d if dl is None else dl.unionByName(d)
    # keep-latest per doc_id (identity when segments are disjoint)
    winners = dl.groupBy("doc_id").agg(F.max("_seg").alias("_seg"))
    dl_latest = dl.join(winners, ["doc_id", "_seg"]).select("doc_id", "doc_len")
    dl_path = f"{index_dir}/compacted/doclens"
    dl_latest.write.mode("overwrite").parquet(dl_path)
    r = spark.read.parquet(dl_path).agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("a")
    ).collect()[0]
    stats = {"n_docs": int(r["n"]), "avgdl": float(r["a"])}

    tf = decode_index_df(post, keep_cols=("term", "_seg"))
    tf = tf.join(winners, ["doc_id", "_seg"]).drop("_seg")
    # re-encode from the unioned tf (join doc_len back in)
    tf2 = tf.join(spark.read.parquet(dl_path), "doc_id")
    idx = encode_tf(tf2, stats["n_docs"], stats["avgdl"], buckets=buckets)
    write_index(idx, f"{index_dir}/compacted/postings")
    stats["buckets"] = buckets  # the compacted dir serves as a plain index
    fsio.write_text(
        fsio.join(index_dir, "compacted", "stats.json"), json.dumps(stats), spark
    )
    return f"{index_dir}/compacted"


# ---------------------------------------------------------------------------
# Fielded (BM25F) streaming: per-batch fielded segments


def stream_build_fielded_index(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    fields: list[str],
    buckets: int = TERM_BUCKETS,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Stream pages into per-batch FIELDED segments (operators/
    fielded_index.py layout per segment: field-prefixed postings,
    per-field doclens, stats.json with len_sums, term_df sidecar).
    ``max_files_per_trigger`` bounds each micro-batch (availableNow
    respects it), giving one segment per chunk instead of one giant
    drain batch.

    Exactness across segments needs no stale-bound tricks at all: the
    relational BM25F plan derives df from the candidate rows themselves
    (exact over a union of doc-disjoint segments), and n_docs/len_sums
    merge additively — see :class:`FieldedMultiSegmentSearcher`.
    """
    from ..operators.fielded_index import build_fielded_index

    ddl = "doc_id long, " + ", ".join(f"{f} string" for f in sorted(fields))
    reader = spark.readStream.schema(ddl)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        seg_dir = f"{index_dir}/segments/seg={batch_id}"
        build_fielded_index(batch_df, fields, seg_dir, buckets=buckets)
        commit_segment(seg_dir, batch_df.sparkSession)

    writer = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


class FieldedMultiSegmentSearcher:
    """Exact BM25F top-k across all committed fielded segments.

    Per-segment stats merge additively (``n_docs`` sums; per-field
    ``len_sums`` sum elementwise), postings/doclens union lazily, and
    the relational plan (:func:`..operators.fielded_index.search_bm25f`
    with the merged relations passed in) recomputes df from the unioned
    candidate rows — exact when doc_ids are segment-disjoint, which is
    validated at init. Each segment is pruned with the bucket modulus
    its commit entry records.
    Norms stay cluster-resident (the ``norms='join'`` posture); there is
    no driver doclen state at any corpus size.

    Caveat shared with the batch fielded build: a doc with zero tokens
    in EVERY field has no doclens row (it counts in n_docs but can never
    match), so such a doc re-delivered across segments is undetectable —
    the same class of doc is invisible to the reference pipeline too.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        preload: bool = False,
        preload_budget_bytes: int | None = DEFAULT_PRELOAD_BUDGET_BYTES,
    ):
        """``preload=True`` collects every segment's postings, per-field
        doclens and term_df sidecars into driver memory once, unlocking
        the same low-latency driver kernels (cost-model auto /
        exhaustive / WAND) as ``FieldedSearcher(preload=True)`` — the
        serving tier for streamed fielded segments (the default
        relational path stays the zero-driver-state posture). The
        postings+doclens collect is size-estimated first and refused
        above ``preload_budget_bytes`` (default 4 GiB; ``None``
        disables) — a clear error beats an OOMed driver."""
        self.spark = spark
        self.preload = preload
        committed = _committed(index_dir, spark)
        if not committed:
            raise ValueError(f"no committed segments under {index_dir}")
        self.segments = [st["path"] for st in committed]
        n = 0
        len_sums: dict[str, int] = {}
        fields: list[str] | None = None
        for st in committed:
            seg = st["path"]
            if fields is None:
                fields = list(st["fields"])
            elif list(st["fields"]) != fields:
                raise ValueError(
                    f"segment {seg} indexes fields {st['fields']}, "
                    f"expected {fields} — mixed-field segment stores "
                    "cannot merge"
                )
            n += int(st["n_docs"])
            if "len_sums" not in st:
                # a pre-len_sums segment merged as zero field lengths
                # would silently corrupt avg_wdl (scores collapse or
                # undercount) — refuse loudly instead
                raise ValueError(
                    f"segment {seg} has no len_sums in stats.json "
                    "(pre-len_sums fielded layout); rebuild it or run "
                    "compact_fielded_segments on a store built by the "
                    "current encoder"
                )
            for f, s in st["len_sums"].items():
                len_sums[f] = len_sums.get(f, 0) + int(s)
        self.fields = fields or []
        # segments written before stats.json recorded it used the default
        moduli = sorted({int(st.get("buckets", TERM_BUCKETS)) for st in committed})
        self.stats = {
            "n_docs": n, "fields": self.fields, "len_sums": len_sums, "moduli": moduli,
        }
        post = None
        tagged = None
        for i, seg in enumerate(self.segments):
            p = self.spark.read.parquet(f"{seg}/postings")
            post = (
                p if post is None
                else post.unionByName(p, allowMissingColumns=True)
            )
            d = self.spark.read.parquet(f"{seg}/doclens").withColumn(
                "_seg", F.lit(i)
            )
            tagged = d if tagged is None else tagged.unionByName(d)
        self.postings = post
        self.doclens = tagged.drop("_seg")
        # ONE validation job over the seg-tagged union (not one job per
        # segment): distinct (doc_id, seg) == distinct doc_id iff no doc
        # appears in two segments
        r = tagged.agg(
            F.countDistinct("doc_id").alias("docs"),
            F.countDistinct("doc_id", "_seg").alias("doc_segs"),
        ).collect()[0]
        distinct, per_seg = int(r["docs"]), int(r["doc_segs"])
        if distinct != per_seg:
            raise ValueError(
                f"doc_ids overlap across fielded segments ({per_seg} "
                f"per-segment distinct vs {distinct} overall) — segments "
                "require exactly-once ingest; run "
                "compact_fielded_segments to dedupe keep-latest"
            )
        self._mem: dict[str, list] | None = None
        self._flen: dict[str, dict[int, int]] = {}
        self._term_df: dict[str, int] = {}
        self._avg_wdl_memo: dict[tuple, float] = {}
        if preload:
            # ONE budget across all three collects (postings + doclens
            # + term_df): per-collect checks would admit 3x jointly
            spent = check_preload_budget(
                self.postings, f"fielded postings of {index_dir}",
                preload_budget_bytes,
            )
            spent += check_preload_budget(
                self.doclens, f"fielded doclens of {index_dir}",
                None if preload_budget_bytes is None
                else preload_budget_bytes - spent,
            )
            self._mem = {}
            for row in self.postings.collect():
                self._mem.setdefault(row["term"], []).append(row)
            self._flen = {f: {} for f in self.fields}
            for row in self.doclens.collect():
                self._flen[row["field"]][row["doc_id"]] = row["doc_len"]
            # per-segment union-df sidecars SUM to the exact any-field
            # union df (segments are doc-disjoint — just validated), but
            # ONLY when EVERY segment has one: a partial sum understates
            # df, which inflates idf AND makes WAND drop terms that live
            # only in sidecar-less segments — leave the dict empty
            # instead so serving falls back to the exact union-df
            # derivation (and 'auto' to exhaustive). One unioned read,
            # not one Spark job per segment.
            paths = [
                f"{seg}/term_df"
                for seg in self.segments
                if fsio.exists(fsio.join(seg, "term_df"), self.spark)
            ]
            if len(paths) == len(self.segments):
                tdf = (
                    spark.read.parquet(*paths)
                    .groupBy("term")
                    .agg(F.sum("df").alias("df"))
                )
                check_preload_budget(
                    tdf, f"term_df sidecars of {index_dir}",
                    None if preload_budget_bytes is None
                    else preload_budget_bytes - spent,
                )
                for row in tdf.collect():
                    self._term_df[row["term"]] = int(row["df"])

    def _avg_wdl(self, weights) -> float:
        from ..operators.fielded_index import weighted_avg_dl

        key = tuple(sorted((k, float(v)) for k, v in weights.items()))
        if key not in self._avg_wdl_memo:
            self._avg_wdl_memo[key] = weighted_avg_dl(
                self.stats["len_sums"], int(self.stats["n_docs"]), weights
            )
        return self._avg_wdl_memo[key]

    def search(
        self,
        question: str,
        weights,
        top_k: int = DEFAULT_TOP_K,
        k1: float = BM25_K1,
        b: float = BM25_B,
        method: str = "auto",
    ) -> list[tuple[int, float]]:
        """Without preload: the merged relational plan (zero driver
        state; 'wand' raises as there are no driver norms to prune
        with). With preload: the shared driver kernels — 'auto' routes
        through the same measured cost model as ``FieldedSearcher``,
        over the summed per-segment union-df sidecars. All paths are
        score-identical (pinned by pytest)."""
        from ..operators.fielded_index import search_bm25f, serve_bm25f_preload

        if method not in ("auto", "wand", "exhaustive"):
            raise ValueError(f"unknown method {method!r}")
        if self._mem is None:
            if method == "wand":
                raise ValueError(
                    "method='wand' requires preload=True (driver kernel); "
                    "the default mode always runs the distributed "
                    "relational plan"
                )
            rows = search_bm25f(
                self.spark, "", question, weights,
                top_k=top_k, k1=k1, b=b,
                postings=self.postings, doclens=self.doclens, stats=self.stats,
            ).collect()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]
        mem = self._mem
        return serve_bm25f_preload(
            question, weights,
            lambda fterms: [r for t in fterms for r in mem.get(t, [])],
            self._term_df, self._flen, self.fields,
            int(self.stats["n_docs"]), self._avg_wdl(weights),
            top_k=top_k, k1=k1, b=b, method=method,
        )


def compact_fielded_segments(
    spark: SparkSession,
    index_dir: str,
    buckets: int = TERM_BUCKETS,
) -> str:
    """Merge all committed fielded segments into one, deduped
    keep-latest by doc_id (later batch wins — at-least-once sources
    compact to exactly-once state), fully distributed like
    :func:`compact_segments`: postings decode executor-side, winners
    come from a doclens groupBy, and the merged tf rows re-encode with
    ``with_impacts=False`` (fielded pruning metadata — blockmaxtf — is
    rebuilt by the encoder; impact bounds stay dead weight)."""
    from ..operators.compressed_index import decode_index_df, encode_tf
    from ..operators.fielded_index import FIELD_SEP

    committed = _committed(index_dir, spark)
    if not committed:
        raise ValueError(f"no committed segments under {index_dir}")
    seg_ids = {st["path"]: i for i, st in enumerate(committed)}  # batch order
    post = None
    dl = None
    n_docs_sum = 0
    fields: list[str] | None = None
    for st in committed:
        seg = st["path"]
        n_docs_sum += int(st["n_docs"])
        if fields is None:
            fields = list(st["fields"])
        elif list(st["fields"]) != fields:
            # mirror FieldedMultiSegmentSearcher: a silently-merged
            # mixed-field store would mislabel stats.json fields
            raise ValueError(
                f"segment {seg} indexes fields {st['fields']}, expected "
                f"{fields} — mixed-field segment stores cannot compact"
            )
        p = spark.read.parquet(f"{seg}/postings").withColumn(
            "_seg", F.lit(seg_ids[seg])
        )
        post = (
            p if post is None
            else post.unionByName(p, allowMissingColumns=True)
        )
        d = spark.read.parquet(f"{seg}/doclens").withColumn(
            "_seg", F.lit(seg_ids[seg])
        )
        dl = d if dl is None else dl.unionByName(d)

    winners = dl.groupBy("doc_id").agg(F.max("_seg").alias("_seg"))
    dl_latest = dl.join(winners, ["doc_id", "_seg"]).select(
        "doc_id", "field", "doc_len"
    )
    out_dir = f"{index_dir}/compacted"
    dl_latest.write.mode("overwrite").parquet(f"{out_dir}/doclens")
    dl_final = spark.read.parquet(f"{out_dir}/doclens")
    len_rows = dl_final.groupBy("field").agg(F.sum("doc_len").alias("s")).collect()
    # all-empty docs have no doclens rows in ANY segment: duplicates among
    # them are undetectable, so compacted n_docs keeps their per-segment
    # counts and dedupes only the visible doc_ids
    visible_per_seg = (
        dl.select("doc_id", "_seg").distinct().count()
    )
    visible = dl_final.select(F.countDistinct("doc_id")).collect()[0][0]
    n_docs = n_docs_sum - (visible_per_seg - visible)
    stats = {
        "n_docs": int(n_docs),
        "fields": fields or [],
        "len_sums": {r["field"]: int(r["s"]) for r in len_rows},
        "buckets": buckets,
    }

    tf = decode_index_df(post, keep_cols=("term", "_seg"))
    tf = tf.join(winners, ["doc_id", "_seg"]).drop("_seg")
    idx = encode_tf(tf, stats["n_docs"], 1.0, buckets=buckets, with_impacts=False)
    write_index(idx, f"{out_dir}/postings")
    # rebuild the union-df sidecar from the compacted postings: rows per
    # (prefixed term, doc) decode uniquely, so base-term df is a count
    # over distinct (base term, doc) pairs
    dec = decode_index_df(spark.read.parquet(f"{out_dir}/postings"), keep_cols=("term",))
    (
        dec.select(
            F.substring_index("term", FIELD_SEP, 1).alias("field"),
            F.substring_index("term", FIELD_SEP, -1).alias("base"),
            "doc_id",
        )
        .select("base", "doc_id")
        .distinct()
        .groupBy("base")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumnRenamed("base", "term")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/term_df")
    )
    fsio.write_text(fsio.join(out_dir, "stats.json"), json.dumps(stats), spark)
    return out_dir
