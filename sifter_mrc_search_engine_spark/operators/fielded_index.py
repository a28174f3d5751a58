"""Fielded inverted index — BM25F served from compressed postings.

``operators/bm25f.py`` scores field boosts with a query-time plan over the
raw corpus; at serving scale the weighted term frequencies must come from
a PERSISTED index. The trick: store per-field postings under
field-prefixed terms (``title\\x1fspark``) so the existing codec, bucket
partitioning, and pruned-scan machinery work unchanged, and keep
per-field document lengths in the doclens sidecar. Field WEIGHTS stay a
query-time choice — the index is weight-agnostic, exactly like the
reference engine's ``searchField`` list (search_functions.py:92-95).

Layout under ``index_dir``:
  postings/bucket=*/   INDEX_SCHEMA rows, term = "<field>\\x1f<term>"
  doclens/             (doc_id, field, doc_len) long format
  stats.json           {"n_docs": N, "fields": [...], "len_sums": {...},
                        "buckets": modulus}

Query lifecycle (``search_bm25f``): driver-side bucket routing for the
field-prefixed query terms -> ONE pruned scan -> distributed decode ->
weighted-tf aggregation -> weighted-doclen join (candidates only; the
weighted average doc length is a build-time constant from per-field
length sums in stats.json) -> the same ascending-term float64 fold as
the brute-force scorer (bit-compatible, pinned by pytest).

Pruning metadata: the stored per-block impact bounds (``blockmax``) are
computed under per-field stats and are NOT valid for arbitrary weights —
BM25F paths never use them. Instead the codec's weight-FREE per-block
max tf (``blockmaxtf``) gives a valid bound for ANY weights:

    score(t, d) <= idf * S(Σ_f w_f·maxtf_f),
    S(x) = x(k1+1) / (x + k1(1-b))          (wdl >= 0 ⇒ K >= k1(1-b))

which ``bm25f_wand_topk`` uses both per term (global max tf) and per
block (skip whole blocks without decoding them).
"""

from __future__ import annotations

import json
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import BM25_B, BM25_K1, DEFAULT_TOP_K, TERM_BUCKETS
from ..functions import fsio
from ..functions.analyzer import analyze, tokenize_expr
from ..functions.xxhash import term_bucket
from . import bm25
from .bm25 import bm25_contrib_expr, score_fold
from .compressed_index import (
    DEFAULT_PRELOAD_BUDGET_BYTES,
    PostingsReader,
    check_preload_budget,
)
from .compressed_index import decode_index_df, encode_tf, write_index

#: joins field and term in the stored term key; the analyzer's token
#: alphabet ([a-z0-9가-힣]) can never produce it
FIELD_SEP = "\x1f"


def _toks(field: str):
    """Null-safe field tokenization: a NULL field contributes an EMPTY
    token list (size 0), not NULL (size -1, which would poison the
    weighted doc length)."""
    return F.coalesce(tokenize_expr(field), F.array().cast("array<string>"))


def fielded_grouped_tf(
    docs: DataFrame, fields: Sequence[str], id_col: str = "doc_id"
) -> DataFrame:
    """``(term, doc_id, tf__<field>..., dl__<field>...)`` — ONE row per
    (BASE term, doc) with per-field conditional counts, in one scan + one
    shuffle. This shape serves BOTH fielded-build consumers without a
    distinct: the union-df sidecar is a plain ``groupBy(term).count()``
    (rows are already unique per (term, doc)) and the encoder input
    unpivots per field with zero extra shuffle."""
    field_toks = F.array(
        *[
            F.struct(F.lit(f).alias("field"), _toks(f).alias("toks"))
            for f in sorted(fields)
        ]
    )
    tok = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(field_toks).alias("ft"))
        .select(
            "doc_id",
            F.col("ft.field").alias("field"),
            F.size("ft.toks").cast("long").alias("doc_len"),
            F.explode("ft.toks").alias("term"),
        )
    )
    aggs = []
    for f in sorted(fields):
        aggs.append(
            F.count(F.when(F.col("field") == f, F.lit(1))).alias(f"tf__{f}")
        )
        aggs.append(
            F.max(F.when(F.col("field") == f, F.col("doc_len"))).alias(f"dl__{f}")
        )
    return tok.groupBy("term", "doc_id").agg(*aggs)


def explode_grouped_tf(
    grouped: DataFrame, fields: Sequence[str], with_doc_len: bool = True
) -> DataFrame:
    """Unpivot :func:`fielded_grouped_tf` rows back to the encoder's
    ``(term="field\\x1fterm", doc_id, tf[, doc_len])`` shape — pure
    codegen (array + filter + explode), no shuffle."""
    parts = []
    for f in sorted(fields):
        fieldvals = [
            F.lit(f).alias("field"),
            F.col(f"tf__{f}").alias("tf"),
        ]
        if with_doc_len:
            fieldvals.append(F.col(f"dl__{f}").alias("doc_len"))
        parts.append(F.struct(*fieldvals))
    keep = [F.col("p.tf").alias("tf")]
    if with_doc_len:
        keep.append(F.col("p.doc_len").alias("doc_len"))
    return (
        grouped.select(
            "term",
            "doc_id",
            F.explode(
                F.filter(F.array(*parts), lambda s: s["tf"] > 0)
            ).alias("p"),
        )
        .select(
            F.concat_ws(FIELD_SEP, F.col("p.field"), F.col("term")).alias("term"),
            "doc_id",
            *keep,
        )
    )


def fielded_tf(docs: DataFrame, fields: Sequence[str], id_col: str = "doc_id") -> DataFrame:
    """``(term="field\\x1fterm", doc_id, tf, doc_len)`` in ONE scan —
    doc_len is the FIELD's token length, riding the tokenize explode
    exactly like tf_doclen does for the single-field build."""
    return explode_grouped_tf(fielded_grouped_tf(docs, fields, id_col), fields)


def write_fielded_doclens(
    grouped: DataFrame, n_docs: int, fields: Sequence[str], index_dir: str
) -> dict:
    """Write the per-field norms sidecar FROM the grouped tf aggregate (no
    second tokenize scan of the input — at 100 TB the raw corpus is read
    exactly once per build) and return the build stats:
    ``{"n_docs", "fields", "len_sums": {field: Σ doc_len}}``.

    A doc with zero tokens in a field gets length 0; a doc with zero
    tokens in EVERY field has no doclens row at all — it can never be a
    scoring candidate, contributes 0 to every length sum, and is counted
    only in ``n_docs`` (passed in as the full corpus count, the same
    count(*) the brute-force oracle uses for idf).

    ``len_sums`` make the weighted average doc length a query-time
    CONSTANT for any weights (avg_wdl = Σ_f w_f·sum_f / n_docs — exact,
    since the totals are integers summed exactly in both engines), so no
    serving path ever needs a full doclens aggregate."""
    spark = grouped.sparkSession
    names = sorted(fields)
    per_doc = grouped.groupBy("doc_id").agg(
        *[F.max(f"dl__{f}").alias(f) for f in names]
    )
    parts = [
        F.struct(
            F.lit(f).alias("field"),
            F.coalesce(F.col(f), F.lit(0)).cast("long").alias("doc_len"),
        )
        for f in names
    ]
    dl = per_doc.select("doc_id", F.explode(F.array(*parts)).alias("fl")).select(
        "doc_id", F.col("fl.field").alias("field"), F.col("fl.doc_len").alias("doc_len")
    )
    dl.write.mode("overwrite").parquet(f"{index_dir}/doclens")
    rows = (
        spark.read.parquet(f"{index_dir}/doclens")
        .groupBy("field")
        .agg(F.sum("doc_len").alias("s"))
        .collect()
    )
    len_sums = {f: 0 for f in names}
    len_sums.update({r["field"]: int(r["s"] or 0) for r in rows})
    return {"n_docs": int(n_docs), "fields": names, "len_sums": len_sums}


def build_fielded_index(
    docs: DataFrame,
    fields: Sequence[str],
    index_dir: str,
    id_col: str = "doc_id",
    buckets: int = TERM_BUCKETS,
) -> dict:
    """Build + persist the fielded index; returns stats.

    The raw corpus is scanned ONCE (tokenize -> grouped tf aggregate);
    doclens, postings, and the union-df sidecar are all derived from the
    persisted aggregate. n_docs is a parquet-metadata count."""
    n_docs = docs.count()

    from pyspark import StorageLevel

    # the (base term, doc) aggregate feeds THREE consumers (doclens +
    # encoder + union-df sidecar) — persist it so none replays the full
    # tokenize+aggregate chain
    g = fielded_grouped_tf(docs, fields, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        stats = write_fielded_doclens(g, n_docs, fields, index_dir)
        # with_impacts=False: BM25F pruning runs on the weight-free
        # blockmaxtf; per-field impact bounds would be dead weight in the
        # encode shuffle (avgdl is unused on this path)
        tf = explode_grouped_tf(g, fields, with_doc_len=False)
        idx = encode_tf(tf, n_docs, 1.0, buckets=buckets, with_impacts=False)
        write_index(idx, f"{index_dir}/postings")
        write_fielded_term_df(g, f"{index_dir}/term_df")
    finally:
        g.unpersist()
    # searchers prune with the modulus the dir records, never a caller's
    stats["buckets"] = buckets
    fsio.write_text(
        fsio.join(index_dir, "stats.json"), json.dumps(stats), docs.sparkSession
    )
    return stats


def write_fielded_term_df(grouped: DataFrame, path: str) -> None:
    """Per-BASE-term union df (docs containing the term in ANY field):
    idf is weight-independent, so this small sidecar gives query-time
    WAND the exact idf per term WITHOUT decoding. Over the
    :func:`fielded_grouped_tf` rows (unique per (term, doc)) this is a
    PLAIN count — no distinct aggregate, one partial-agg shuffle."""
    (
        grouped.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .write.mode("overwrite")
        .parquet(path)
    )


def bm25f_wand_topk(
    rows,
    weights: Mapping[str, float],
    flen: Mapping[str, Mapping[int, int]],
    n_docs: int,
    avg_wdl: float,
    df_by_term: Mapping[str, int],
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
):
    """Document-at-a-time WAND over MULTI-FIELD cursors — pruned BM25F.

    Each base term owns one cursor per (field, segment). Upper bounds
    come from the weight-free max-tf metadata when present:

      term level:   ub = idf · S(Σ_f w_f · maxtf_f),
      block level:  bound(target) = idf · S(Σ_cursors w_f · blockmaxtf),
      S(x) = x(k1+1)/(x + k1(1-b))   — valid since K >= k1(1-b) for wdl>=0

    falling back to ``idf·(k1+1)`` (the saturation ceiling) on indexes
    without ``blockmaxtf``. ``df_by_term`` must be the EXACT union df
    over the QUERIED fields (weights' key set) — the same df the
    exhaustive kernel and the brute-force oracle compute — or scores
    silently diverge when weights cover a subset of the indexed fields.
    Blocks bounded below θ are skipped without decoding (the sub-cursors
    seek via skip pointers). Exact: same scores as the exhaustive kernel.
    """
    import heapq

    from .wand import _Cursor

    names = sorted(weights)
    groups: dict[str, list] = {}
    for r in rows:
        field, term = r["term"].split(FIELD_SEP, 1)
        if term not in df_by_term:
            continue
        groups.setdefault(term, []).append((field, _Cursor(r, 0.0)))

    k_floor = k1 * (1.0 - b)  # K = k1((1-b) + b·wdl/avg_wdl) >= this

    def _sat_ub(wtf_max: float) -> float:
        """Upper bound of the saturation term for weighted tf <= wtf_max."""
        if wtf_max <= 0.0:
            return 0.0
        if k_floor <= 0.0:  # b == 1: only the asymptotic ceiling is safe
            return k1 + 1.0
        return wtf_max * (k1 + 1.0) / (wtf_max + k_floor)

    class _Group:
        __slots__ = ("term", "idf", "ub", "cursors", "has_bmtf")

        def __init__(self, term, cursors):
            self.term = term
            self.idf = bm25.idf(int(df_by_term[term]), n_docs)
            self.has_bmtf = all(c.blockmaxtf is not None for _, c in cursors)
            if self.has_bmtf:
                # global max weighted tf: per field, max tf over all of that
                # field's segments/blocks (salted segments are disjoint)
                maxtf: dict[str, int] = {}
                for f, c in cursors:
                    m = int(c.blockmaxtf.max())
                    if m > maxtf.get(f, 0):
                        maxtf[f] = m
                wtf_max = sum(float(weights[f]) * m for f, m in maxtf.items())
                self.ub = self.idf * _sat_ub(wtf_max)
            else:
                self.ub = self.idf * (k1 + 1.0)
            self.cursors = [(f, c) for f, c in cursors if not c.exhausted]

        def block_bound_at(self, target: int) -> tuple:
            """(score upper bound, min block-last-doc) over the blocks
            containing the first doc >= target — metadata only, nothing
            is decoded. Summing across a field's salted segments can only
            overestimate (segments are doc-disjoint), keeping the bound
            valid."""
            s, boundary = 0.0, 2**62
            for f, c in self.cursors:
                bmtf, last = c.block_maxtf_at(target)
                s += float(weights[f]) * bmtf
                if last < boundary:
                    boundary = last
            return self.idf * _sat_ub(s), boundary

        @property
        def doc(self) -> int:
            return min(c.doc for _, c in self.cursors)

        def wtf_at(self, doc: int) -> float:
            # field-ascending accumulation (cursors pre-sorted by field)
            wtf = 0.0
            for f, c in self.cursors:
                if not c.exhausted and c.doc == doc:
                    wtf += float(weights[f]) * float(c.cur_tf)
            return wtf

        def advance_past(self, doc: int) -> None:
            for _, c in self.cursors:
                if not c.exhausted and c.doc == doc:
                    c.next_doc()
            self.cursors = [(f, c) for f, c in self.cursors if not c.exhausted]

        def seek(self, target: int) -> None:
            for _, c in self.cursors:
                if not c.exhausted:
                    c.seek(target)
            self.cursors = [(f, c) for f, c in self.cursors if not c.exhausted]

    live = [
        _Group(t, sorted(cs, key=lambda x: x[0]))
        for t, cs in groups.items()
    ]
    live = [g for g in live if g.cursors]

    heap: list = []  # (score, -doc_id) min-heap of size top_k

    def threshold() -> float:
        return heap[0][0] if len(heap) >= top_k else -1.0

    def offer(doc: int, score: float) -> None:
        item = (score, -doc)
        if len(heap) < top_k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)

    def wdl_of(doc: int) -> float:
        return sum(float(weights[f]) * flen.get(f, {}).get(doc, 0) for f in names)

    while live:
        live.sort(key=lambda g: g.doc)
        theta = threshold()
        acc, pivot = 0.0, -1
        for i, g in enumerate(live):
            acc += g.ub
            if theta < 0.0 or acc >= theta:
                pivot = i
                break
        if pivot < 0:
            break  # even every UB summed cannot reach θ
        pivot_doc = live[pivot].doc
        if live[0].doc == pivot_doc:
            # prefix = every group at or before the pivot doc, including
            # groups tied at pivot_doc beyond the pivot index — their
            # contribution is part of pivot_doc's true score
            end = pivot + 1
            while end < len(live) and live[end].doc == pivot_doc:
                end += 1
            prefix = live[:end]
            if theta >= 0.0 and all(g.has_bmtf for g in prefix):
                # advance over bounded-out blocks on METADATA ALONE (skips
                # + blockmaxtf lookups); only the final landing block is
                # ever decoded — consecutive cold blocks cost zero decodes
                target = pivot_doc
                while True:
                    infos = [g.block_bound_at(target) for g in prefix]
                    if sum(bb for bb, _ in infos) >= theta:
                        break
                    nt = min(last for _, last in infos) + 1
                    if end < len(live):
                        # past the next group's doc the prefix changes —
                        # stop and let the outer loop re-pivot
                        nt = min(nt, live[end].doc)
                    if nt <= target:
                        break
                    target = nt
                if target > pivot_doc:
                    for g in prefix:
                        g.seek(target)
                    live = [g for g in live if g.cursors]
                    continue
            # score pivot_doc: ascending-TERM float64 fold
            matching = sorted(
                (g for g in live if g.doc == pivot_doc), key=lambda g: g.term
            )
            wdl = wdl_of(pivot_doc)
            score = 0.0
            for g in matching:
                score += bm25.impacts(g.idf, g.wtf_at(pivot_doc), wdl, avg_wdl, k1, b)
            offer(pivot_doc, score)
            for g in matching:
                g.advance_past(pivot_doc)
            live = [g for g in live if g.cursors]
        else:
            for g in live[:pivot]:
                g.seek(pivot_doc)
            live = [g for g in live if g.cursors]

    out = sorted(heap, key=lambda it: (-it[0], -it[1]))
    return [(-nd, s) for s, nd in out]


def exact_union_df(rows) -> dict:
    """Exact per-term union document frequency over the QUERIED fields,
    derived from fetched field-prefixed postings rows (one vectorized
    ids decode per row; doc-disjoint pieces — salted hot terms, stream
    segments — concatenate before the unique, so the count stays exact)."""
    import numpy as np

    from .postings_codec import decode_postings

    ids_by_term: dict[str, list] = {}
    for r in rows:
        _, term = r["term"].split(FIELD_SEP, 1)
        ids, _tfs = decode_postings(
            gaps=bytes(r["gaps"]), tfs=bytes(r["tfs"]), n=int(r["n"]),
            skips=bytes(r["skips"]), block_size=int(r["block_size"]),
        )
        ids_by_term.setdefault(term, []).append(ids)
    return {
        t: int(np.unique(np.concatenate(parts)).size)
        for t, parts in ids_by_term.items()
    }


def bm25f_exhaustive_topk(
    rows,
    weights: Mapping[str, float],
    flen: Mapping[str, Mapping[int, int]],
    n_docs: int,
    avg_wdl: float,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
):
    """Vectorized full-decode BM25F kernel over fetched field-prefixed
    postings rows — the driver twin of the relational plan, shared by
    ``FieldedSearcher(preload)`` and
    ``FieldedMultiSegmentSearcher(preload)``. Multiple rows per
    (field, term) (salted hot terms, doc-disjoint stream segments)
    concatenate before the unique/df step, so multi-segment df is exact
    and each doc's per-field accumulation order stays (field-ascending)
    — rank- and score-identical to ``bm25f_brute_force``."""
    import numpy as np

    from .postings_codec import decode_postings

    names = sorted(weights)
    by_term: dict[str, list] = {}
    for r in rows:
        field, term = r["term"].split(FIELD_SEP, 1)
        by_term.setdefault(term, []).append((field, r))
    acc: dict[int, float] = {}
    for term in sorted(by_term):  # ascending-term float64 order
        ids_parts, val_parts = [], []
        for field, r in sorted(by_term[term], key=lambda x: x[0]):
            ids, tfs = decode_postings(
                gaps=bytes(r["gaps"]), tfs=bytes(r["tfs"]), n=int(r["n"]),
                skips=bytes(r["skips"]), block_size=int(r["block_size"]),
            )
            ids_parts.append(ids)
            val_parts.append(float(weights[field]) * tfs.astype(np.float64))
        all_ids = np.concatenate(ids_parts)
        all_vals = np.concatenate(val_parts)
        uniq, inv = np.unique(all_ids, return_inverse=True)
        wtf = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(wtf, inv, all_vals)
        idf = bm25.idf(uniq.size, n_docs)
        wdl = np.fromiter(
            (
                sum(float(weights[f]) * flen.get(f, {}).get(int(d), 0) for f in names)
                for d in uniq
            ),
            dtype=np.float64,
            count=uniq.size,
        )
        contrib = bm25.impacts(idf, wtf, wdl, avg_wdl, k1, b)
        for d, c in zip(uniq.tolist(), contrib.tolist()):
            acc[d] = acc.get(d, 0.0) + c
    hits = sorted(acc.items(), key=lambda it: (-it[1], it[0]))[:top_k]
    return [(int(d), float(s)) for d, s in hits]


#: cost-model constants, fitted to p50 measurements on the 120k-doc
#: two-field pages corpus (8 query shapes, tools/bench_bm25f.py) —
#: the ONE source of truth for every preloaded BM25F serving head
AUTO_SUM_MIN = 20_000  # exhaustive under ~50 ms anyway below this
AUTO_RATIO_MAX = 0.05  # candidates / total postings: need a dominant prunable list
AUTO_SPACING_MAX = 512  # max_df / candidates: seek-landing block decodes must amortize
AUTO_NCAND_MAX = 8_000  # Python pivot loop ~60-220 us/candidate: past this the
# vectorized kernel wins at any ratio (measured at 2.4M docs: head_mid
# has ncand~34k and WAND lost 7.6 s vs ~5 s despite ratio 0.02)


def pick_bm25f_method(
    term_df: Mapping[str, int],
    qterms: list,
    sum_min: int = AUTO_SUM_MIN,
    ratio_max: float = AUTO_RATIO_MAX,
    spacing_max: int = AUTO_SPACING_MAX,
    ncand_max: int = AUTO_NCAND_MAX,
) -> str:
    """Cost-model 'auto' for driver-side BM25F serving — see
    :meth:`FieldedSearcher._pick_method` for the measured physics of the
    conditions. Pure function of the union-df sidecar."""
    if not term_df:
        return "exhaustive"
    dfs = sorted(d for d in (term_df.get(t, 0) for t in qterms) if d > 0)
    if len(dfs) < 2:
        return "exhaustive"
    total = sum(dfs)
    ncand = total - dfs[-1]
    if ncand == 0 or total < sum_min:
        return "exhaustive"
    if ncand > ncand_max:
        return "exhaustive"
    if ncand / total > ratio_max:
        return "exhaustive"
    if dfs[-1] / ncand > spacing_max:
        return "exhaustive"
    return "wand"


def weighted_avg_dl(len_sums: Mapping[str, int], n_docs: int, weights) -> float:
    """Mean over ALL docs of the per-doc weighted length, from exact
    integer per-field totals: Σ_f w_f·sum_f / n_docs (divide by the
    FULL corpus count — all-empty docs have no doclens rows but still
    count toward the mean)."""
    total = sum(float(w) * len_sums.get(f, 0) for f, w in sorted(weights.items()))
    return total / max(int(n_docs), 1)


def serve_bm25f_preload(
    question: str,
    weights: Mapping[str, float],
    fetch_rows,
    term_df: Mapping[str, int],
    flen: Mapping[str, Mapping[int, int]],
    fields,
    n_docs: int,
    avg_wdl: float,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    method: str = "auto",
    sum_min: int = AUTO_SUM_MIN,
    ratio_max: float = AUTO_RATIO_MAX,
    spacing_max: int = AUTO_SPACING_MAX,
    ncand_max: int = AUTO_NCAND_MAX,
):
    """Shared driver-side dispatch for driver-kernel BM25F serving — the
    ONE place that validates fields, analyzes the question, routes
    'auto' through the cost model and picks exact-union-df vs the
    sidecar (``FieldedSearcher`` and ``FieldedMultiSegmentSearcher`` are
    thin wrappers; a fix here fixes both). ``fetch_rows(fterms)``
    returns the field-prefixed postings rows — a dict lookup when
    preloaded, one pruned driver read in scan mode. The cost-model
    knobs default to the module constants; a caller (e.g. a retuned
    subclass) can pass its own."""
    names = sorted(weights)
    unknown = [f for f in names if f not in fields]
    if unknown:
        raise ValueError(
            f"weights name unindexed fields {unknown}; this index has "
            f"{list(fields)}"
        )
    qterms = sorted(set(analyze(question)))
    if not qterms:
        return []
    if method == "auto":
        method = pick_bm25f_method(
            term_df, qterms, sum_min=sum_min, ratio_max=ratio_max,
            spacing_max=spacing_max, ncand_max=ncand_max,
        )
    fterms = [f"{f}{FIELD_SEP}{t}" for f in names for t in qterms]
    rows = fetch_rows(fterms)
    if method == "wand":
        if set(names) == set(fields) and term_df:
            # sidecar df IS the union df when every field is queried
            df_by_term = term_df
        else:
            # weights cover a SUBSET of indexed fields (or no complete
            # sidecar): derive the exact union df over the queried
            # fields from the fetched rows
            df_by_term = exact_union_df(rows)
        return bm25f_wand_topk(
            rows, weights, flen, n_docs, avg_wdl, df_by_term,
            top_k=top_k, k1=k1, b=b,
        )
    return bm25f_exhaustive_topk(
        rows, weights, flen, n_docs, avg_wdl, top_k=top_k, k1=k1, b=b
    )


class FieldedSearcher:
    """Low-latency BM25F serving over a persisted fielded index.

    The driver-side twin of plans.query.IndexSearcher: doclens (per
    field) load once into memory, bucket routing is computed driver-side,
    ``preload=True`` pulls the postings into a term->rows dict (no Spark
    job per query). Scoring is an exact numpy kernel — ascending-term
    float64 accumulation, (score desc, doc_id asc) ties — rank- and
    score-identical to ``bm25f_brute_force`` (pinned by pytest). Weights
    remain per-query; the weighted average doc length is computed from
    the in-memory doclens per weights tuple and memoized.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        preload: bool = False,
        norms: str = "preload",
        preload_budget_bytes: int | None = DEFAULT_PRELOAD_BUDGET_BYTES,
    ):
        """``norms='join'`` keeps per-field doclens cluster-resident —
        queries route through :func:`search_bm25f`'s in-plan doclen join
        with zero driver norm state (the 10^12-doc shape); 'preload'
        collects them once for the low-latency driver kernels. Driver
        collects are size-estimated first and refused above
        ``preload_budget_bytes`` (default 4 GiB; ``None`` disables the
        check) — a clear error beats an OOMed driver. The bucket modulus
        is the one stats.json records (``TERM_BUCKETS`` for dirs written
        before it was recorded)."""
        import numpy as np

        if norms not in ("preload", "join"):
            raise ValueError(f"unknown norms mode {norms!r}")
        self.spark = spark
        self.index_dir = index_dir
        self.norms_mode = norms
        stats = json.loads(fsio.read_text(fsio.join(index_dir, "stats.json"), spark))
        self._stats = stats
        self.buckets = int(stats.get("buckets", TERM_BUCKETS))
        self.n_docs = int(stats["n_docs"])
        self.fields = list(stats["fields"])
        self.postings = spark.read.parquet(f"{index_dir}/postings")
        self._reader = PostingsReader([index_dir], [self.buckets], [self.postings])
        # lazy relation, bound once; join-mode queries reuse it instead of
        # re-instantiating a parquet relation per call
        self.doclens_df = spark.read.parquet(f"{index_dir}/doclens")
        # ONE budget across every driver collect this constructor makes
        # (norms + term_df sidecar + optionally postings): per-collect
        # checks would admit 3x the budget jointly (review r5)
        spent = 0
        self._flen: dict[str, dict[int, int]] = {f: {} for f in self.fields}
        if norms == "preload":
            spent += check_preload_budget(
                self.doclens_df, f"fielded doclens of {index_dir}",
                preload_budget_bytes,
            )
            for r in self.doclens_df.collect():
                self._flen[r["field"]][r["doc_id"]] = r["doc_len"]
        self._doc_ids = sorted({d for m in self._flen.values() for d in m})
        # per-field length totals (exact ints) make avg_wdl O(fields) per
        # weights tuple instead of a Python loop over every doc_id
        self._len_sum: dict[str, int] = {
            f: int(s) for f, s in stats.get("len_sums", {}).items()
        } or {f: sum(m.values()) for f, m in self._flen.items()}
        self._avg_wdl_memo: dict[tuple, float] = {}
        # union-df sidecar (idf is weight-independent) -> WAND-prunable
        self._term_df: dict[str, int] = {}
        if fsio.exists(fsio.join(index_dir, "term_df"), spark):
            tdf = spark.read.parquet(f"{index_dir}/term_df")
            spent += check_preload_budget(
                tdf, f"term_df sidecar of {index_dir}",
                None if preload_budget_bytes is None
                else preload_budget_bytes - spent,
            )
            for r in tdf.collect():
                self._term_df[r["term"]] = int(r["df"])
        self._mem: dict[str, list] | None = None
        if preload:
            check_preload_budget(
                self.postings, f"fielded postings of {index_dir}",
                None if preload_budget_bytes is None
                else preload_budget_bytes - spent,
            )
            self._mem = {}
            for r in self.postings.collect():
                self._mem.setdefault(r["term"], []).append(r)

    def _avg_wdl(self, weights: Mapping[str, float]) -> float:
        """Mean over ALL docs of the per-doc weighted length, computed as
        Σ_f w_f·sum_f / n_docs from the exact integer per-field totals.
        Equal to the brute-force plan's mean-of-per-doc-sums whenever
        w_f·len is exactly representable (dyadic weights — the documented
        bit-equality contract), since both totals are then exact."""
        key = tuple(sorted((k, float(v)) for k, v in weights.items()))
        if key not in self._avg_wdl_memo:
            self._avg_wdl_memo[key] = weighted_avg_dl(
                self._len_sum, self.n_docs, weights
            )
        return self._avg_wdl_memo[key]

    #: aliases of the module-level fitted constants (the ONE source of
    #: truth shared with FieldedMultiSegmentSearcher via
    #: pick_bm25f_method's defaults) — kept as class attrs so a subclass
    #: can retune one serving head without forking the function
    _AUTO_SUM_MIN = AUTO_SUM_MIN
    _AUTO_RATIO_MAX = AUTO_RATIO_MAX
    _AUTO_SPACING_MAX = AUTO_SPACING_MAX
    _AUTO_NCAND_MAX = AUTO_NCAND_MAX

    def _pick_method(self, qterms: list[str]) -> str:
        """Cost-model 'auto': choose WAND only for shapes where it
        measured faster. Decision inputs are the union-df sidecar (tiny,
        already loaded) — no postings are touched.

        Physics of the three conditions (measured, not argued):

        * single-term / no-sidecar -> exhaustive (WAND cannot prune:
          theta comes from the same list; measured 4.0 s vs 0.32 s on a
          head term)
        * candidates = sum(df) - max(df): the docs WAND actually
          pivots on. ratio = candidates/sum must be small — when two
          dense lists tie (head2: 0.46) WAND scores nearly everything
          doc-at-a-time in Python (5.8 s vs 0.47 s)
        * spacing = max_df/candidates must stay within a few codec
          blocks — each pivot seek into the dense list decodes its
          landing block, so sparse candidates (head_tail: spacing 914)
          pay a fresh block decode per seek and lose (0.51 s vs 0.33 s)
          even though the pivot is maximally selective
        * sum(df) floor: below it the exhaustive decode is a few ms —
          not worth any risk (mid2: 4 ms vs 26 ms)
        * absolute candidate cap: the pivot loop costs ~60-220 us of
          Python per candidate regardless of ratio, so past ~8k
          candidates the vectorized kernel wins at ANY corpus size
          (measured at 2.4M docs: head_mid ncand~34k, WAND 7.6 s vs
          ~5 s despite ratio 0.02)

        Fitted outcomes at 120k docs: head_mid 108 vs 199 ms and
        three_mix 134 vs 272 ms pick WAND; the other six shapes pick
        exhaustive. ratio/spacing are scale-free; the sum floor and
        candidate cap are absolute-cost cutoffs."""
        return pick_bm25f_method(
            self._term_df, qterms,
            sum_min=self._AUTO_SUM_MIN,
            ratio_max=self._AUTO_RATIO_MAX,
            spacing_max=self._AUTO_SPACING_MAX,
            ncand_max=self._AUTO_NCAND_MAX,
        )

    def _rows_for(self, fterms: list[str]) -> list:
        if self._mem is not None:
            return [r for t in fterms for r in self._mem.get(t, [])]
        return self._reader.table(fterms, self.postings.columns).to_pylist()

    def search(
        self,
        question: str,
        weights: Mapping[str, float],
        top_k: int = DEFAULT_TOP_K,
        k1: float = BM25_K1,
        b: float = BM25_B,
        method: str = "auto",
    ) -> list[tuple[int, float]]:
        """``method``: 'exhaustive' (vectorized full decode — the
        in-memory winner on dense/tiny shapes), 'wand' (term-level
        pruned — wins on selective-pivot shapes with a dominant dense
        list), or 'auto' (cost model over the union-df sidecar picks
        per query shape — :meth:`_pick_method`). All produce IDENTICAL
        results. Under ``norms='join'`` the distributed relational plan
        always runs ('auto'/'exhaustive'; 'wand' raises — no driver
        norms to prune with)."""
        if method not in ("auto", "wand", "exhaustive"):
            raise ValueError(f"unknown method {method!r}")
        if self.norms_mode == "join":
            unknown = [f for f in sorted(weights) if f not in self.fields]
            if unknown:
                raise ValueError(
                    f"weights name unindexed fields {unknown}; this index "
                    f"has {self.fields}"
                )
            if not set(analyze(question)):
                return []
            # zero driver-resident norms: the full in-plan query (pruned
            # scan -> decode -> candidate-restricted doclen join), reusing
            # the relations/stats bound at construction. The driver WAND
            # kernel needs preloaded norms, so an explicit method='wand'
            # cannot be honored here — fail loudly rather than silently
            # running a different execution strategy.
            if method == "wand":
                raise ValueError(
                    "method='wand' requires norms='preload' (driver "
                    "kernel); norms='join' always runs the distributed "
                    "relational plan"
                )
            rows2 = search_bm25f(
                self.spark, self.index_dir, question, weights,
                top_k=top_k, k1=k1, b=b,
                postings=self.postings, doclens=self.doclens_df,
                stats=self._stats,
            ).collect()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows2]
        return serve_bm25f_preload(
            question, weights, self._rows_for, self._term_df, self._flen,
            self.fields, self.n_docs, self._avg_wdl(weights),
            top_k=top_k, k1=k1, b=b, method=method,
            sum_min=self._AUTO_SUM_MIN, ratio_max=self._AUTO_RATIO_MAX,
            spacing_max=self._AUTO_SPACING_MAX, ncand_max=self._AUTO_NCAND_MAX,
        )


def search_bm25f(
    spark: SparkSession,
    index_dir: str,
    question: str,
    weights: Mapping[str, float],
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    postings: DataFrame | None = None,
    doclens: DataFrame | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Top-k ``(doc_id, score)`` under BM25F from the persisted index —
    rank- and score-identical to ``bm25f_brute_force`` over the same
    corpus (pinned by pytest).

    ``postings``/``doclens``/``stats`` let a serving head (e.g.
    ``FieldedSearcher``) pass its already-bound relations and parsed
    stats so repeated queries skip the per-call stats.json read and
    parquet relation instantiation; defaults load from ``index_dir``.
    Terms are routed with the bucket modulus ``stats`` records, or with
    each of its ``moduli`` for a store of segments written with several.
    """
    if stats is None:
        stats = json.loads(fsio.read_text(fsio.join(index_dir, "stats.json"), spark))
    n_docs = int(stats["n_docs"])
    names = sorted(weights)
    indexed = list(stats.get("fields", names))
    unknown = [f for f in names if f not in indexed]
    if unknown:
        raise ValueError(
            f"weights name unindexed fields {unknown}; this index has {indexed}"
        )
    qterms = sorted(set(analyze(question)))
    if not qterms:
        return spark.createDataFrame([], "doc_id long, score double")
    fterms = [f"{f}{FIELD_SEP}{t}" for f in names for t in qterms]
    moduli = stats.get("moduli") or [int(stats.get("buckets", TERM_BUCKETS))]
    bks = sorted({term_bucket(ft, m) for ft in fterms for m in moduli})

    post = postings if postings is not None else spark.read.parquet(
        f"{index_dir}/postings"
    )
    cand = post.filter(F.col("bucket").isin(bks)).filter(F.col("term").isin(fterms))
    dec = decode_index_df(cand, keep_cols=("term",))
    parts = dec.select(
        F.substring_index("term", FIELD_SEP, 1).alias("field"),
        F.substring_index("term", FIELD_SEP, -1).alias("term"),
        "doc_id",
        "tf",
    )
    w_map = F.create_map(*[F.lit(x) for n in names for x in (n, float(weights[n]))])
    wtf = parts.groupBy("term", "doc_id").agg(
        F.sum(F.element_at(w_map, F.col("field")) * F.col("tf")).alias("wtf")
    )
    wtf = wtf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))

    # avg_wdl is a build-time CONSTANT (Σ_f w_f·len_sum_f / n_docs, exact
    # integer totals in stats.json) — no full-doclens aggregate per query;
    # doclens are joined only for the candidate doc_ids
    dl = doclens if doclens is not None else spark.read.parquet(
        f"{index_dir}/doclens"
    )
    len_sums = stats.get("len_sums")
    if len_sums is None:  # pre-len_sums index layout: one-time fallback
        dl_all = dl
        len_sums = {
            r["field"]: int(r["s"])
            for r in dl_all.groupBy("field").agg(F.sum("doc_len").alias("s")).collect()
        }
    avg_wdl = sum(float(weights[f]) * len_sums.get(f, 0) for f in names) / max(n_docs, 1)

    cand_ids = wtf.select("doc_id").distinct()
    wdl = (
        dl.join(cand_ids, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(F.element_at(w_map, F.col("field")) * F.col("doc_len")).alias("wdl"))
    )

    joined = wtf.join(wdl, "doc_id")
    contrib = bm25_contrib_expr(
        "wtf", "df", "wdl", n_docs, avg_wdl, k1=k1, b=b
    )
    scored = score_fold(
        joined.select("doc_id", "term", contrib.alias("contrib")), ["doc_id"]
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
