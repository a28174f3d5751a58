"""Compressed inverted-index build: occurrences -> salted encode -> bucketed table.

Fresh-build pipeline (SURVEY.md §7 steps 5-6; reshaped in the r6
optimization round):

  docs ──(one scan)──▶ (doc_id, doc_len, term)  token occurrences
       ──▶ groupBy(term, segment) collect       [shuffle 1: token stream]
       ──▶ vectorized encoder: per-doc tf (numpy sort+run-length),
           exact BM25 impacts, varbyte + block-max
       ──▶ repartition(bucket) + (bucket, term) df window [shuffle 2: blobs]
       ──▶ (term, bucket, segment, df, n, max_impact, gaps, tfs, skips, blockmax)

Two exchanges end to end; re-encoding from an EXISTING tf aggregate
(streaming compaction, fielded builds) goes through :func:`encode_tf`,
which adds the (term, doc_id) aggregate exchange its input requires.

``positions=True`` adds one ``poss`` column (within-doc position deltas)
to the same rows: the positional index is this format plus ``poss``, and
scoring-only reads prune it away. :func:`decode_index_df` is the one
decoder and :func:`write_index` the one writer for both.

Skew defense: terms whose df exceeds SALT_THRESHOLD are split into
SALT_FANOUT doc-id RANGE segments (ranges are disjoint and ordered, so the
segments of a term concatenate back into one sorted posting list — no
re-encode at merge). Everything else is segment 0. The hot-term set is a
tiny driver-collected sample, computed CONCURRENTLY with the doclens
sidecar job by the resumable builder (Zipf head is small by definition).

Scale notes (100 TB): the doc_len rides the tokenize scan (``size(tokens)``
per row) so no doc_id-keyed shuffle is ever needed; df for non-hot terms is
computed inside the encoder group (group size == df); only the Zipf head
needs the sampled decision. Block-max impact bounds are exact at build time
because avgdl/N are fixed by the corpus stats that precede encoding.
"""

from __future__ import annotations

import bisect
import functools
import json
import os
import threading
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..constants import BLOCK_SIZE, BM25_B, BM25_K1, SALT_FANOUT, SALT_THRESHOLD, TERM_BUCKETS
from . import bm25
from .index_build import term_bucket_expr
from .postings_codec import decode_postings, encode_postings, varbyte_decode, varbyte_encode
from .wand import packed_ids
from ..functions import fsio
from ..functions.analyzer import tokenize_expr
from ..functions.xxhash import term_bucket

INDEX_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("segment", IntegerType(), False),
        StructField("df", LongType(), False),
        StructField("n", LongType(), False),
        StructField("block_size", IntegerType(), False),
        StructField("min_doc", LongType(), False),
        StructField("max_doc", LongType(), False),
        StructField("max_impact", DoubleType(), False),
        StructField("gaps", BinaryType(), False),
        StructField("tfs", BinaryType(), False),
        StructField("skips", BinaryType(), False),
        StructField("blockmax", BinaryType(), False),
        # weight-free per-block max tf: lets field-weighted scorers (BM25F)
        # bound blocks for ANY query-time weights (blockmax impacts cannot)
        StructField("blockmaxtf", BinaryType(), False),
    ]
)

#: the positional index's one extra column: per posting, the varbyte
#: within-doc position deltas, the first position of each doc absolute
POSS_FIELD = StructField("poss", BinaryType(), False)

#: the encoder UDFs' output columns (a subset of INDEX_SCHEMA)
_ENC_COLS = ["n", "max_impact", "gaps", "tfs", "skips", "blockmax", "blockmaxtf"]

#: binary payload columns: nothing filters on their bytes, so parquet
#: min/max statistics on them are dead footer weight (``term`` keeps its)
_BLOB_COLS = ("gaps", "tfs", "skips", "blockmax", "blockmaxtf", "poss")


#: default driver-memory budget for the preload serving tiers (4 GiB):
#: generous for the serving-head indexes preload is FOR, far below the
#: point where a collect() of a 10^12-doc index would OOM the driver
DEFAULT_PRELOAD_BUDGET_BYTES = 4 << 30


class PreloadBudgetExceeded(RuntimeError):
    """Raised instead of letting ``collect()`` OOM the driver."""


def estimate_collect_bytes(df: DataFrame) -> int:
    """Driver-memory estimate for ``df.collect()``: one column-pruned
    aggregate summing every variable-width payload plus a per-row,
    per-field object overhead. Binary/string columns are measured with
    ``octet_length``; nested columns (array/map/struct — a silent
    near-zero estimate there would defeat the guard) through their JSON
    serialization, a same-order proxy for the collected Row objects.
    Deliberately cheap relative to the collect it guards (an agg
    streams; a collect materializes)."""
    from pyspark.sql.types import (
        ArrayType as _A,
        BinaryType as _B,
        MapType as _M,
        StringType as _S,
        StructType as _T,
    )

    blob = F.lit(0).cast("long")
    for fld in df.schema.fields:
        if isinstance(fld.dataType, (_B, _S)):
            blob = blob + F.coalesce(
                F.octet_length(F.col(fld.name)).cast("long"), F.lit(0)
            )
        elif isinstance(fld.dataType, (_A, _M, _T)):
            blob = blob + F.coalesce(
                F.octet_length(F.to_json(F.col(fld.name))).cast("long"),
                F.lit(0),
            )
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(blob).alias("b")
    ).collect()[0]
    n, b = int(row["n"] or 0), int(row["b"] or 0)
    # ~24 bytes per scalar field (Python object + Row slot) + 64/row
    return n * (24 * len(df.schema.fields) + 64) + b


def check_preload_budget(
    df: DataFrame, what: str, budget_bytes: int | None
) -> int:
    """Refuse a driver preload whose estimated size exceeds the budget —
    at 10^12-doc scale ``preload=True`` on a full index is an OOM, and
    the right failure is a clear error naming the knob, not a dead JVM.
    ``budget_bytes=None`` disables the check (caller takes the risk).
    Returns the estimate so a constructor making SEVERAL collects can
    charge them against one budget (pass ``budget - spent_so_far``)."""
    if budget_bytes is None:
        return 0
    return charge_preload(estimate_collect_bytes(df), what, budget_bytes)


#: :func:`charge_preload`'s default advice on what to run instead
NO_PRELOAD_ADVICE = "Serve this index with preload off (bucket-pruned scans / norms='join')"


def charge_preload(
    est: int, what: str, budget_bytes: int | None, alternative: str = NO_PRELOAD_ADVICE
) -> int:
    """:func:`check_preload_budget` for a size the caller already
    knows (e.g. decoded arrays); returns ``est``. ``alternative`` is the
    error's advice on what to run instead."""
    if budget_bytes is not None and est > budget_bytes:
        raise PreloadBudgetExceeded(
            f"refusing to preload {what}: estimated {est:,} bytes of driver "
            f"memory exceeds the remaining {budget_bytes:,}-byte budget. "
            f"{alternative}, or raise preload_budget_bytes if the driver "
            f"really has the headroom."
        )
    return est


def _bucket_files(postings_dir: str) -> dict[int, list[str]]:
    """bucket -> the parquet files of a local ``postings`` dir, skipping
    ``_``/``.`` names as Spark's listing does (``_SUCCESS``, ``.crc``
    checksums, ``_temporary`` attempt dirs)."""
    out: dict[int, list[str]] = {}
    for part in sorted(os.scandir(postings_dir), key=lambda e: e.name):
        if not (part.is_dir() and part.name.startswith("bucket=")):
            continue
        files = sorted(
            f.path for f in os.scandir(part.path)
            if f.is_file() and not f.name.startswith(("_", "."))
        )
        out[int(part.name[len("bucket="):])] = files
    return out


#: footers a :class:`PostingsReader` keeps at most: a parsed footer
#: took about 27 KB of driver RSS (2.3 KB serialized, 64-bucket index)
KEPT_FOOTERS = 1024


def _term_bounds(md) -> list:
    """Per row group of a file with footer ``md``, the (min, max) of its
    ``term`` column, or None where the group has no statistics."""
    col = md.schema.names.index("term")
    out = []
    for g in range(md.num_row_groups):
        s = md.row_group(g).column(col).statistics
        out.append((s.min, s.max) if s is not None and s.has_min_max else None)
    return out


def _may_hold(bounds, tset: list) -> bool:
    """Whether a row group with ``term`` (min, max) ``bounds`` can hold
    one of the ascending ``tset``: some term falls inside them. A group
    without statistics is kept."""
    if bounds is None:
        return True
    i = bisect.bisect_left(tset, bounds[0])
    return i < len(tset) and tset[i] <= bounds[1]


def _conform(tbl, columns: Sequence[str]):
    """``tbl`` as exactly ``columns``, in order; a column it lacks (a
    dir written without ``poss`` or ``blockmaxtf``) is all null."""
    import pyarrow as pa

    names = tbl.column_names
    return pa.Table.from_arrays(
        [tbl[c] if c in names else pa.nulls(tbl.num_rows, pa.binary()) for c in columns],
        names=list(columns),
    )


class PostingsReader:
    """The driver read of a few terms' postings rows from one generation
    of one or more index dirs (a streamed dir's segments), each written
    with its own bucket modulus, as one Arrow table.

    A local dir is read in-process, with no Spark job: its
    ``postings/bucket=N`` files are listed once, and a read opens only
    the query buckets' files with :class:`pyarrow.parquet.ParquetFile`,
    keeps the row groups whose ``term`` min/max statistics overlap the
    term set (the pushdown Spark does), reads only the asked columns and
    filters the rows on ``term``. Each file's footer is parsed on its
    first read and kept, with its row groups' ``term`` bounds, for the
    generation (up to :data:`KEPT_FOOTERS` files): a later read of the
    file parses none. A ``scheme://``
    dir keeps the bucket- and term-pruned collect of ``parts`` (the
    dirs' postings relations) through the JVM, as Arrow
    (``DataFrame.toArrow``): the split :mod:`functions.fsio` makes for
    sidecars.

    ``pyarrow.parquet`` is imported on the first local read, so a
    process that never reads this way never loads it."""

    __slots__ = ("dirs", "moduli", "parts", "_files", "_footers", "_lock")

    def __init__(self, dirs: Sequence[str], moduli: Sequence[int], parts: Sequence[DataFrame]):
        self.dirs = list(dirs)
        self.moduli = list(moduli)
        self.parts = list(parts)
        self._files: list | None = None
        #: path -> (parsed footer, its column names, its row groups'
        #: ``term`` bounds)
        self._footers: dict[str, tuple] = {}
        self._lock = threading.Lock()

    def table(self, terms: Sequence[str], columns: Sequence[str]):
        """The postings rows of ``terms`` as an Arrow table of
        ``columns`` (null where a dir's files lack one), ordered by (dir,
        term, ``segment``): a term's rows come out in the order its
        salted segments and stream segments concatenate."""
        import pyarrow as pa

        tset = sorted(set(terms))
        keys = list(dict.fromkeys([*columns, "term", "segment"]))
        if not tset:
            tbl = pa.table({"term": pa.array([], pa.string())})
        elif fsio.is_remote(self.dirs[0]):
            tbl = self._collect(tset, keys)
        else:
            tbl = self._read(tset, keys)
        return _conform(tbl, columns)

    def _footer(self, path: str) -> tuple:
        got = self._footers.get(path)
        if got is None:
            import pyarrow.parquet as pq

            # racing handler threads may both parse; the footers are equal
            with pq.ParquetFile(path) as pf:
                md = pf.metadata
            got = (md, md.schema.names, _term_bounds(md))
            with self._lock:
                if len(self._footers) >= KEPT_FOOTERS:
                    self._footers = {}  # start over; past the cap, reads parse again
                self._footers[path] = got
        return got

    def _read(self, tset: list, keys: list):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if self._files is None:
            # racing handler threads may both list; the listings are equal
            self._files = [_bucket_files(fsio.join(d, "postings")) for d in self.dirs]
        wanted = pa.array(tset, pa.string())
        parts, where = [], []
        for i, (files, m) in enumerate(zip(self._files, self.moduli)):
            for bk in sorted({term_bucket(t, m) for t in tset}):
                for path in files.get(bk, ()):
                    md, names, bounds = self._footer(path)
                    groups = [g for g, tb in enumerate(bounds) if _may_hold(tb, tset)]
                    if not groups:
                        continue
                    with pq.ParquetFile(path, metadata=md) as pf:
                        tbl = pf.read_row_groups(
                            groups, columns=[c for c in keys if c in names], use_threads=False
                        )
                    parts.append(tbl.filter(pc.is_in(tbl["term"], value_set=wanted)))
                    where.append((bk, i))
        if not parts:
            return pa.table({"term": pa.array([], pa.string())})
        # each part's (bucket, dir), one row per postings row
        at = np.repeat(np.array(where, dtype=np.int32), [p.num_rows for p in parts], axis=0)
        tbl = pa.concat_tables(parts, promote_options="default")
        tbl = tbl.append_column("bucket", pa.array(at[:, 0])).append_column(
            "_dir", pa.array(at[:, 1])
        )
        return tbl.sort_by([("_dir", "ascending"), ("term", "ascending"), ("segment", "ascending")])

    def _collect(self, tset: list, keys: list):
        frames = []
        for i, (part, m) in enumerate(zip(self.parts, self.moduli)):
            bks = sorted({term_bucket(t, m) for t in tset})
            frames.append(
                part.filter(F.col("bucket").isin(bks))
                .filter(F.col("term").isin(tset))
                .select(*[c for c in keys if c in part.columns], F.lit(i).alias("_dir"))
            )
        union = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )
        return union.toArrow().sort_by(
            [("_dir", "ascending"), ("term", "ascending"), ("segment", "ascending")]
        )


class IndexSnapshot:
    """One generation of an index directory, resolved as a whole under
    one stats.json freshness token: everything a request reads.

    stats.json is the commit point. A built (or compacted) dir is its
    own one segment; a streamed dir lists its committed segments
    (:func:`streaming.incremental.commit_segment`), each with its stats
    and relative ``path``. Across segments the stats merge exactly:
    ``n_docs`` adds, ``avgdl`` is Σdl_sum/Σn, the ``postings`` and
    ``doclens`` relations are unions, and a scan prunes with the union
    of the segments' bucket ``moduli``. Segments assume exactly-once
    ingest: a doc id in two segments would double-count df and N, so a
    multi-segment snapshot checks that its doclens hold ``n_docs``
    distinct ids (one aggregate per generation).

    The driver norms (``doclen``) load on first use; the budget is
    charged on that miss only."""

    __slots__ = (
        "index_dir", "sc", "token", "segments", "n_docs", "avgdl", "moduli",
        "postings", "reader", "doclens", "doclen",
    )

    def __init__(self, spark, index_dir: str, token: tuple):
        stats = json.loads(fsio.read_text(fsio.join(index_dir, "stats.json"), spark))
        segs = stats.get("segments")
        self.index_dir = index_dir
        self.sc = spark.sparkContext
        self.token = token
        self.segments = segs = (
            [{**s, "path": fsio.join(index_dir, s["path"])} for s in segs]
            if segs else [{**stats, "path": index_dir}]
        )
        self.n_docs = n = sum(int(s["n_docs"]) for s in segs)
        if len(segs) == 1:
            self.avgdl = float(segs[0]["avgdl"])
        else:
            self.avgdl = sum(int(s["dl_sum"]) for s in segs) / n if n else 0.0
        # dirs written before stats.json recorded it used the default
        self.moduli = sorted({int(s.get("buckets", TERM_BUCKETS)) for s in segs})
        paths = [s["path"] for s in self.segments]
        parts = [spark.read.parquet(f"{p}/postings") for p in paths]
        # allowMissingColumns: segments written before the blockmaxtf
        # codec column lack it; the kernels never read it
        self.postings = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        self.reader = PostingsReader(
            paths, [int(s.get("buckets", TERM_BUCKETS)) for s in segs], parts
        )
        self.doclens = spark.read.parquet(f"{paths[0]}/doclens")
        for p in paths[1:]:
            self.doclens = self.doclens.unionByName(spark.read.parquet(f"{p}/doclens"))
        self.doclen = None
        if len(paths) > 1:
            distinct = self.doclens.select(F.countDistinct("doc_id")).collect()[0][0]
            if distinct != n:
                raise ValueError(
                    f"doc_ids overlap across segments ({n} segment docs, "
                    f"{distinct} distinct) — segments require exactly-once "
                    "ingest; run compact_segments to dedupe keep-latest"
                )

    def pruned(self, terms: Sequence[str]) -> DataFrame:
        """The postings rows of ``terms``: bucket-partition- and
        term-pruned. Bucket ids come from the driver-side xxhash twin (no
        Spark job), one per term and modulus: the term filter drops the
        other segments' extra rows."""
        tset = sorted(set(terms))
        bks = sorted({term_bucket(t, m) for t in tset for m in self.moduli})
        return self.postings.filter(F.col("bucket").isin(bks)).filter(
            F.col("term").isin(tset)
        )

    def table(self, terms: Sequence[str], columns: Sequence[str]):
        """The postings rows of ``terms`` as one Arrow table of
        ``columns``, read on the driver (:class:`PostingsReader`): ``==``
        to :meth:`pruned`'s collect, ordered by (segment dir, term,
        ``segment``). A local dir starts no Spark job."""
        return self.reader.table(terms, columns)

    def rows(self, terms: Sequence[str], columns: Sequence[str]) -> list[dict]:
        """:meth:`table` as dicts, for the row-at-a-time consumers (the
        WAND cursors, the positional kernel)."""
        return self.table(terms, columns).to_pylist()

    def merged(self, table):
        """A postings ``table`` (Arrow) as the merged index scores it.
        One segment's rows are exact as stored. Across segments each
        term's df is the sum of its rows' ``n`` (doc ids are
        segment-disjoint), and the stored impact bounds, computed under
        segment-local stats, are replaced by the always-valid
        ``idf·(k1+1)`` (tf·(k1+1)/(tf+K) < k1+1): weaker pruning,
        identical scores. Callers also turn block-max off."""
        import pyarrow as pa

        if len(self.segments) == 1:
            return table
        terms = table["term"].to_pylist()
        df: dict[str, int] = {}
        for t, n in zip(terms, table["n"].to_pylist()):
            df[t] = df.get(t, 0) + n
        bound = {t: bm25.idf(d, self.n_docs) * (BM25_K1 + 1.0) for t, d in df.items()}
        for name, values in (
            ("df", pa.array([df[t] for t in terms], pa.int64())),
            ("max_impact", pa.array([bound[t] for t in terms], pa.float64())),
        ):
            if name in table.column_names:
                table = table.set_column(table.column_names.index(name), name, values)
        return table

    def norms(self, budget_bytes: int | None):
        """The driver norms, collected on first use: a dense numpy array
        when the doc ids are nonnegative and packed, else a dict (sparse,
        hash-derived or negative ids). Only that collect is charged
        against ``budget_bytes``: one row per doc is exactly the collect
        that kills the driver at 10^12 docs, and a loaded snapshot costs
        no more memory."""
        if self.doclen is None:
            check_preload_budget(self.doclens, f"doclens of {self.index_dir}", budget_bytes)
            pdf = self.doclens.select("doc_id", "doc_len").toPandas()
            ids = pdf["doc_id"].to_numpy(np.int64)
            lens = pdf["doc_len"].to_numpy(np.int64)
            max_id = int(ids.max())
            if packed_ids(int(ids.min()), max_id, ids.size):
                dl = np.zeros(max_id + 1, dtype=np.int64)
                dl[ids] = lens
            else:
                dl = dict(zip(ids.tolist(), lens.tolist()))
            self.doclen = dl
        return self.doclen


#: index_dir -> its current :class:`IndexSnapshot`
_SNAPSHOTS: dict[str, IndexSnapshot] = {}
_SNAPSHOTS_LOCK = threading.Lock()


def snapshot(spark, index_dir: str) -> IndexSnapshot:
    """``index_dir``'s current generation, for one request: one stat of
    stats.json per call. The snapshot is reused while the caller's
    SparkContext (the Python object, so no JVM call) and stats.json's
    freshness token are unchanged, so the relations, merged stats and
    norms are built once per generation. Each dir keeps only its current
    snapshot; a searcher holding an older one keeps serving it. The lock
    guards the dict against the front door's handler threads."""
    token = fsio.freshness_token(fsio.join(index_dir, "stats.json"), spark)
    with _SNAPSHOTS_LOCK:
        snap = _SNAPSHOTS.get(index_dir)
    if snap is None or snap.token != token or snap.sc is not spark.sparkContext:
        snap = IndexSnapshot(spark, index_dir, token)
        with _SNAPSHOTS_LOCK:
            _SNAPSHOTS[index_dir] = snap
    return snap


#: the type names :func:`_local_frame` columns use: (Spark, Arrow) types
_FRAME_TYPES = {
    "int": (IntegerType(), "int32"),
    "long": (LongType(), "int64"),
    "double": (DoubleType(), "float64"),
    "string": (StringType(), "string"),
}


@functools.lru_cache(maxsize=None)
def _frame_schema(columns: tuple):
    """The (Spark, Arrow) schemas of ``(name, type name)`` columns, built
    once per tuple: a DDL string would be parsed by the JVM per frame."""
    import pyarrow as pa

    return (
        StructType([StructField(c, _FRAME_TYPES[t][0]) for c, t in columns]),
        pa.schema([(c, _FRAME_TYPES[t][1]) for c, t in columns]),
    )


def _local_frame(spark, rows: list, columns) -> DataFrame:
    """Driver-known ``rows`` (tuples) as a JVM local relation: pyspark
    ships an Arrow table as Arrow batches into a ``LocalTableScan``, so
    collecting or broadcasting it starts no Python worker;
    ``createDataFrame(list)`` plans as ``Scan ExistingRDD``, a Python
    stage."""
    import pyarrow as pa

    struct, schema = _frame_schema(tuple(columns))
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    return spark.createDataFrame(table, struct)


_LAST_TF: DataFrame | None = None


def release_build_cache() -> None:
    """Unpersist the tf intermediate of the most recent build."""
    global _LAST_TF
    if _LAST_TF is not None:
        _LAST_TF.unpersist()
        _LAST_TF = None


def tf_doclen(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``(term, doc_id, tf, doc_len)`` in ONE scan + ONE shuffle.

    doc_len rides along from the tokenize expression instead of a separate
    doc_id-keyed join — at scale this removes the single biggest shuffle.

    The tokenize array is projected ONCE below the explode: putting
    ``size(tokenize(text))`` in the same select as the explode made the
    post-Generate projection re-run the regexp against the retained
    ``text`` for every TOKEN row (~avgdl regexp evaluations per doc,
    confirmed in the r5 physical plan) instead of once per doc.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), tokenize_expr(text_col).alias("_tk"))
    rows = toks.select(
        "doc_id",
        F.size("_tk").cast("long").alias("doc_len"),
        F.explode("_tk").alias("term"),
    )
    # min == the value (doc_len is constant per doc_id); partial_min is a
    # plain scalar partial agg where partial_first drags a valueSet slot
    # through the exchange
    return rows.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"), F.min("doc_len").alias("doc_len")
    )


def build_compressed_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = TERM_BUCKETS,
    salt_threshold: int = SALT_THRESHOLD,
    salt_fanout: int = SALT_FANOUT,
    k1: float = BM25_K1,
    b: float = BM25_B,
    block_size: int = BLOCK_SIZE,
    stats: tuple[int, float] | None = None,
    persist_tf: bool = False,
    only_buckets: "Sequence[int] | None" = None,
    hot: "tuple[list, int] | None" = None,
    positions: bool = False,
) -> DataFrame:
    """Return the compressed index DataFrame (INDEX_SCHEMA, plus ``poss``
    with ``positions=True`` — see :func:`encode_token_occurrences`).

    ``stats`` = (n_docs, avgdl) if the caller already knows them (the
    resumable build derives them from the doclens sidecar — saves a scan).

    ``persist_tf``: cache the tf aggregate between the hot-term pass and
    the encoder — this takes the two-shuffle :func:`encode_tf` route so
    the persisted frame is reusable. Default OFF: the fresh-build path
    goes through :func:`encode_token_occurrences`, which groups RAW
    token occurrences straight into (term, segment) encoder groups and
    computes tf inside the (vectorized numpy) encoder — ONE shuffle of
    the token stream instead of the tf aggregate's exchange plus the
    encoder regroup (guide §2.4: two operations keyed compatibly share
    one exchange; the per-group sort/run-length is noise next to a full
    extra exchange).
    """
    spark = docs.sparkSession
    if stats is None:
        stats_row = (
            docs.select(F.size(tokenize_expr(text_col)).cast("long").alias("dl"))
            .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
            .collect()[0]
        )
        n_docs, avgdl = int(stats_row["n_docs"]), float(stats_row["avgdl"])
    else:
        n_docs, avgdl = int(stats[0]), float(stats[1])

    if persist_tf:
        if positions:
            raise ValueError("persist_tf encodes a tf aggregate, which has no positions")
        from pyspark import StorageLevel

        tf = tf_doclen(docs, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
        global _LAST_TF
        _LAST_TF = tf
        return encode_tf(
            tf, n_docs, avgdl,
            buckets=buckets, salt_threshold=salt_threshold, salt_fanout=salt_fanout,
            k1=k1, b=b, block_size=block_size, only_buckets=only_buckets, hot=hot,
        )

    if hot is None:
        hot = sample_hot_terms(tf_doclen(docs, id_col, text_col), salt_threshold)
    return encode_token_occurrences(
        docs, n_docs, avgdl, id_col=id_col, text_col=text_col,
        buckets=buckets, salt_fanout=salt_fanout,
        k1=k1, b=b, block_size=block_size, only_buckets=only_buckets, hot=hot,
        positions=positions,
    )


def sample_hot_terms(
    tf: DataFrame, salt_threshold: int = SALT_THRESHOLD, sample_mod: int = 16
) -> tuple[list, int]:
    """Zipf-head detection on a deterministic 1/``sample_mod`` doc-hash
    sample of a ``(term, doc_id, ...)`` frame: ``(hot_terms,
    max_doc_global)``. The salting DECISION only needs approximate dfs
    (salting is a load-balancing choice, never a correctness one: exact
    df comes from the post-encode window sum, and encode-time impact
    bounds use segment-local df which can only OVERestimate idf, keeping
    every block-max a valid upper bound). Split out of :func:`encode_tf`
    so builders can run it CONCURRENTLY with the doclens-sidecar job
    (two independent actions back-fill one another's stragglers) and
    pass the result in via ``hot=``."""
    rows = (
        tf.filter(F.pmod(F.xxhash64("doc_id"), F.lit(sample_mod)) == 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_s"), F.max("doc_id").alias("max_doc"))
        .filter(F.col("df_s") > salt_threshold // sample_mod)
        .collect()
    )
    hot_terms = [r["term"] for r in rows]
    max_doc_global = max((int(r["max_doc"]) for r in rows), default=0)
    return hot_terms, max_doc_global


def encode_tf(
    tf: DataFrame,
    n_docs: int,
    avgdl: float,
    buckets: int = TERM_BUCKETS,
    salt_threshold: int = SALT_THRESHOLD,
    salt_fanout: int = SALT_FANOUT,
    k1: float = BM25_K1,
    b: float = BM25_B,
    block_size: int = BLOCK_SIZE,
    with_impacts: bool = True,
    only_buckets: "Sequence[int] | None" = None,
    hot: "tuple[list, int] | None" = None,
) -> DataFrame:
    """Encode a ``(term, doc_id, tf, doc_len)`` aggregate into the
    compressed index (INDEX_SCHEMA). Shared by the batch builder and the
    streaming compactor.

    Physical strategy (measured ~2x over grouped applyInPandas): the
    grouping, the doc_id sort, and the field extraction all happen
    JVM-side (``array_sort(collect_list(struct(...)))`` + ``transform``)
    so Arrow ships three plain int arrays per (term, segment) row to ONE
    scalar pandas UDF that does only the numpy codec work.

    ``with_impacts=False`` skips the per-posting BM25 impact math AND the
    doc_len column entirely (tf may omit it): blockmax/max_impact are
    stored as zeros. Fielded (BM25F) indexes use this — their pruning
    runs on the weight-free ``blockmaxtf``, impact bounds under fixed
    per-field stats would be dead weight in the shuffle and the UDF.

    ``only_buckets`` prunes to the given term buckets BEFORE the encode
    grouping — a resumed build never re-collects or re-encodes postings
    of already-landed buckets (the r5 shape encoded everything and
    filtered afterwards).

    The returned frame is REPARTITIONED BY ``bucket`` with the exact-df
    window evaluated over (bucket, term) on top of that partitioning:
    ``HashPartitioning(bucket)`` satisfies the window's clustering
    because a term lives in exactly one bucket, so the window adds no
    exchange, and writers can ``partitionBy("bucket")`` without another
    shuffle — three exchanges end to end (tf agg, (term, segment)
    regroup, bucket) where the r5 plan had four (the window-on-term spec
    re-shuffled every encoded blob before the write's repartition).
    """
    spark = tf.sparkSession

    if hot is None:
        hot = sample_hot_terms(tf, salt_threshold)
    hot_terms, max_doc_global = hot
    seg_range = max(1, (max_doc_global + 1 + salt_fanout - 1) // salt_fanout)

    if hot_terms:
        hot_col = F.col("term").isin(hot_terms)
        seg = F.when(hot_col, (F.col("doc_id") / F.lit(seg_range)).cast("int")).otherwise(0)
    else:
        seg = F.lit(0)
    tf_seg = tf.withColumn("segment", seg)
    if only_buckets is not None and len(set(only_buckets)) < buckets:
        tf_seg = tf_seg.filter(
            term_bucket_expr("term", buckets).isin(sorted(set(only_buckets)))
        )

    post_struct = (
        F.struct("doc_id", "tf", "doc_len") if with_impacts else F.struct("doc_id", "tf")
    )
    grouped = tf_seg.groupBy("term", "segment").agg(
        F.count(F.lit(1)).alias("df_local"),
        F.array_sort(F.collect_list(post_struct)).alias("posts"),
    )
    array_cols = [
        F.transform("posts", lambda s: s["doc_id"]).alias("doc_ids"),
        F.transform("posts", lambda s: s["tf"]).alias("tf_arr"),
    ]
    if with_impacts:
        array_cols.append(F.transform("posts", lambda s: s["doc_len"]).alias("dl_arr"))
    arrays = grouped.select("term", "segment", "df_local", *array_cols)

    enc_type = StructType([INDEX_SCHEMA[c] for c in _ENC_COLS])

    from pyspark.sql.functions import pandas_udf

    if with_impacts:

        @pandas_udf(enc_type)
        def enc_udf(
            terms: pd.Series, doc_ids: pd.Series, tf_arr: pd.Series,
            dl_arr: pd.Series, df_local: pd.Series,
        ) -> pd.DataFrame:
            out = []
            for term, ids, tfs, dls, dfl in zip(terms, doc_ids, tf_arr, dl_arr, df_local):
                ids = np.asarray(ids, dtype=np.int64)
                tfs_np = np.asarray(tfs, dtype=np.int64)
                dls_np = np.asarray(dls, dtype=np.float64)
                # segment-local df <= true df -> idf here >= true idf, so the
                # stored impact bounds remain valid upper bounds for WAND;
                # the exact df for SCORING is the window sum applied below
                idf = bm25.idf(int(dfl), n_docs)
                impacts = bm25.impacts(idf, tfs_np.astype(np.float64), dls_np, avgdl, k1, b)
                e = encode_postings(ids, tfs_np, impacts, block_size)
                out.append(tuple(e[c] for c in _ENC_COLS))
            return pd.DataFrame(out, columns=_ENC_COLS)

        enc_col = enc_udf("term", "doc_ids", "tf_arr", "dl_arr", "df_local")
    else:

        @pandas_udf(enc_type)
        def enc_udf_plain(
            doc_ids: pd.Series, tf_arr: pd.Series
        ) -> pd.DataFrame:
            out = []
            for ids, tfs in zip(doc_ids, tf_arr):
                e = encode_postings(
                    np.asarray(ids, dtype=np.int64),
                    np.asarray(tfs, dtype=np.int64),
                    impacts=None,
                    block_size=block_size,
                )
                out.append(tuple(e[c] for c in _ENC_COLS))
            return pd.DataFrame(out, columns=_ENC_COLS)

        enc_col = enc_udf_plain("doc_ids", "tf_arr")

    encoded = arrays.select(
        "term",
        term_bucket_expr("term", buckets).alias("bucket"),
        "segment",
        "df_local",
        F.element_at("doc_ids", 1).alias("min_doc"),
        F.element_at("doc_ids", -1).alias("max_doc"),
        enc_col.alias("e"),
    )
    return _finalize_encoded(encoded, block_size)


def encode_token_occurrences(
    docs: DataFrame,
    n_docs: int,
    avgdl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = TERM_BUCKETS,
    salt_fanout: int = SALT_FANOUT,
    k1: float = BM25_K1,
    b: float = BM25_B,
    block_size: int = BLOCK_SIZE,
    only_buckets: "Sequence[int] | None" = None,
    hot: "tuple[list, int] | None" = None,
    positions: bool = False,
) -> DataFrame:
    """Fresh-build encoder: RAW token occurrences grouped straight into
    (term, segment) encoder groups; the per-doc tf aggregation happens
    INSIDE the encoder as a vectorized numpy sort + run-length instead
    of a separate (term, doc_id) shuffle — the whole tokenize→encode
    pipeline pays ONE exchange of the token stream (plus the bucket
    exchange of the encoded blobs) where :func:`encode_tf` over
    :func:`tf_doclen` pays two. Output is INDEX_SCHEMA, bit-identical
    postings (sorted doc_ids, identical tfs/impacts/blockmax), and the
    same bucket partitioning contract.

    ``positions=True`` makes each occurrence carry its token position
    and adds the ``poss`` column (:data:`POSS_FIELD`); every other column
    is byte-identical to the ``positions=False`` build, whose shuffle
    never carries a position.

    ``hot`` is REQUIRED here (callers sample it concurrently with the
    doclens job): occurrence-level rows cannot reuse the pair-counting
    sampler directly.
    """
    if hot is None:
        raise ValueError("encode_token_occurrences needs a sampled hot set")
    hot_terms, max_doc_global = hot
    seg_range = max(1, (max_doc_global + 1 + salt_fanout - 1) // salt_fanout)

    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize_expr(text_col).alias("_tk")
    )
    rows = toks.select(
        "doc_id",
        F.size("_tk").cast("long").alias("doc_len"),
        F.posexplode("_tk").alias("pos", "term")
        if positions
        else F.explode("_tk").alias("term"),
    )
    if hot_terms:
        seg = F.when(
            F.col("term").isin(hot_terms),
            (F.col("doc_id") / F.lit(seg_range)).cast("int"),
        ).otherwise(0)
    else:
        seg = F.lit(0)
    rows = rows.withColumn("segment", seg)
    if only_buckets is not None and len(set(only_buckets)) < buckets:
        rows = rows.filter(
            term_bucket_expr("term", buckets).isin(sorted(set(only_buckets)))
        )
    occ = ["doc_id", "doc_len"] + (["pos"] if positions else [])
    grouped = rows.groupBy("term", "segment").agg(
        F.collect_list(F.struct(*occ)).alias("occs")
    )
    arrays = grouped.select(
        "term",
        "segment",
        # F.transform calls each lambda right away, so `c` binds per field
        *[F.transform("occs", lambda s: s[c]).alias(f"occ_{c}") for c in occ],
    )

    out_cols = ["df_local"] + _ENC_COLS + (["poss"] if positions else [])
    enc_type = StructType(
        [StructField("df_local", LongType(), False)]
        + [INDEX_SCHEMA[c] for c in _ENC_COLS]
        + ([POSS_FIELD] if positions else [])
    )
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(enc_type)
    def enc_occ_udf(occ_ids: pd.Series, occ_dls: pd.Series, *occ_pos: pd.Series) -> pd.DataFrame:
        out = []
        for ids, dls, *pos in zip(occ_ids, occ_dls, *occ_pos):
            ids = np.asarray(ids, dtype=np.int64)
            dls = np.asarray(dls, dtype=np.int64)
            pos = np.asarray(pos[0], dtype=np.int64) if pos else None
            if pos is not None:
                order = np.lexsort((pos, ids))
            else:
                order = np.argsort(ids, kind="stable")
            ids_s = ids[order]
            uids, starts, counts = np.unique(
                ids_s, return_index=True, return_counts=True
            )
            tfs_np = counts.astype(np.int64)
            udls = dls[order][starts].astype(np.float64)
            df_total = int(uids.size)
            idf = bm25.idf(df_total, n_docs)
            impacts = bm25.impacts(idf, tfs_np.astype(np.float64), udls, avgdl, k1, b)
            e = encode_postings(uids, tfs_np, impacts, block_size)
            row = (df_total, *(e[c] for c in _ENC_COLS))
            if pos is not None:
                # within-doc deltas, first position of each doc absolute
                p = pos[order]
                flat = p.copy()
                flat[1:] -= p[:-1]
                flat[starts] = p[starts]
                row += (varbyte_encode(flat),)
            out.append(row)
        return pd.DataFrame(out, columns=out_cols)

    # `e` referenced twice below (df_local + the struct) — the two-step
    # projection keeps the UDF evaluated once (multi-referenced aliases
    # are not collapsed)
    enc = arrays.withColumn("e", enc_occ_udf(*[f"occ_{c}" for c in occ]))
    encoded = enc.select(
        "term",
        term_bucket_expr("term", buckets).alias("bucket"),
        "segment",
        F.col("e.df_local").alias("df_local"),
        F.array_min("occ_doc_id").alias("min_doc"),
        F.array_max("occ_doc_id").alias("max_doc"),
        "e",
    )
    return _finalize_encoded(encoded, block_size)


def _finalize_encoded(pre: "DataFrame", block_size: int) -> DataFrame:
    """Shared encoder tail: repartition by ``bucket``, exact-df window
    over (bucket, term) — no exchange on top of the bucket partitioning
    (a term lives in one bucket) — and the INDEX_SCHEMA projection, plus
    ``poss`` when the encoder produced it.
    ``pre`` needs columns (term, bucket, segment, df_local, min_doc,
    max_doc, e{n, max_impact, gaps, tfs, skips, blockmax, blockmaxtf[, poss]}).
    The ONE copy of the layout/partitioning contract both encoders and
    the writers rely on."""
    from pyspark.sql import Window

    out = pre.repartition("bucket")
    df_col = F.sum("df_local").over(Window.partitionBy("bucket", "term"))
    encoded = pre.schema["e"].dataType.fieldNames()
    return out.select(
        "term",
        "bucket",
        F.col("segment").cast("int").alias("segment"),
        df_col.cast("long").alias("df"),
        F.col("e.n").alias("n"),
        F.lit(block_size).cast("int").alias("block_size"),
        F.col("min_doc").cast("long").alias("min_doc"),
        F.col("max_doc").cast("long").alias("max_doc"),
        F.col("e.max_impact").alias("max_impact"),
        *[F.col(f"e.{c}").alias(c) for c in _BLOB_COLS if c in encoded],
    )


def decode_positions(poss: bytes, tfs: np.ndarray) -> np.ndarray:
    """A posting list's absolute positions, flat and doc after doc
    (``tfs[i]`` of them for posting ``i``): the inverse of the encoder's
    within-doc deltas, a cumsum that restarts at every doc."""
    flat = varbyte_decode(poss, count=int(tfs.sum())).astype(np.int64)
    run = np.cumsum(flat)
    starts = np.cumsum(tfs) - tfs
    return run - np.repeat(run[starts] - flat[starts], tfs)


def decode_index_df(
    index_df: DataFrame,
    keep_cols: tuple[str, ...] = ("term", "df"),
    positions: bool = False,
) -> DataFrame:
    """Distributed decode of INDEX_SCHEMA rows back to tf rows:
    ``(*keep_cols, doc_id, tf)``, plus ``positions array<long>`` with
    ``positions=True`` (the row must then carry ``poss``). Without it
    ``poss`` is never selected, so a scan of a positional index leaves
    the positions payload on disk.

    Each encoded (term, segment) row is decoded exactly once inside a
    scalar pandas UDF, then exploded JVM-side — the inverse of
    :func:`encode_tf`, running on executors (never ``collect()``s
    postings to the driver). The one cluster decoder: the segment
    compactor, the relational batch scorer and the positional query
    shapes all read through it.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType

    out_cols = {"doc_id": ArrayType(LongType()), "tf": ArrayType(LongType())}
    if positions:
        out_cols["positions"] = ArrayType(ArrayType(LongType()))

    @pandas_udf(StructType([StructField(c, t, False) for c, t in out_cols.items()]))
    def decode_udf(
        gaps: pd.Series, tfs: pd.Series, n: pd.Series, skips: pd.Series,
        bs: pd.Series, *poss: pd.Series,
    ) -> pd.DataFrame:
        out = []
        for g, t, nn, sk, b, *p in zip(gaps, tfs, n, skips, bs, *poss):
            ids, tf = decode_postings(
                gaps=bytes(g), tfs=bytes(t), n=int(nn), skips=bytes(sk), block_size=int(b)
            )
            row = (ids.tolist(), tf.tolist())
            if p:
                absolute = decode_positions(bytes(p[0]), tf)
                row += ([a.tolist() for a in np.split(absolute, np.cumsum(tf)[:-1])],)
            out.append(row)
        return pd.DataFrame(out, columns=list(out_cols))

    codec = ["gaps", "tfs", "n", "skips", "block_size"] + (["poss"] if positions else [])
    return (
        index_df.select(*keep_cols, decode_udf(*codec).alias("d"))
        .select(*keep_cols, F.explode(F.arrays_zip(*[f"d.{c}" for c in out_cols])).alias("p"))
        .select(*keep_cols, *[F.col(f"p.{c}").alias(c) for c in out_cols])
    )


def write_index(index_df: DataFrame, path: str, dynamic: bool = False) -> None:
    """The one postings-table writer. Persist partitioned by bucket —
    query-time term lookups prune to the buckets of the query's terms
    (partition pruning on the filter); rows term-sorted within files so
    parquet row-group stats prune further.

    The encoders' output is already hash-partitioned by bucket, so no
    repartition here; the in-partition sort leads with ``bucket`` so the
    dynamic-partition writer's required ordering is satisfied and it
    inserts no extra sort of its own.

    ``dynamic=True`` overwrites only the buckets present in
    ``index_df``: the resumable builders write the missing buckets next
    to the landed ones. Whole-index writes keep the default, which
    replaces every bucket, so a bucket that lost all its terms in a
    rebuild cannot survive from the old index.

    Min/max statistics are off for the binary payload columns: nothing
    filters on their bytes, and on small indexes those footer entries
    weigh as much as a sixth of the postings files."""
    w = index_df.sortWithinPartitions("bucket", "term", "segment").write.mode("overwrite")
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    for c in _BLOB_COLS:
        w = w.option(f"parquet.column.statistics.enabled#{c}", "false")
    w.partitionBy("bucket").parquet(path)


def read_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_doclens(docs: DataFrame, path: str, id_col="doc_id", text_col="text") -> dict:
    """Sidecar norms table ``(doc_id, doc_len)`` + corpus stats.

    At 10^12-doc scale this is range-partitioned by doc_id and memory-mapped
    per executor (Lucene-norms style); here one parquet dir. Returns stats.
    """
    dl = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokenize_expr(text_col)).cast("long").alias("doc_len"),
    )
    dl.write.mode("overwrite").parquet(path)
    spark = docs.sparkSession
    row = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    return {"n_docs": int(row["n_docs"]), "avgdl": float(row["avgdl"])}
