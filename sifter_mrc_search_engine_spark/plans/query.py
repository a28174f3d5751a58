"""Query lifecycle over a persisted index (SURVEY.md §3.1 Spark mapping).

analyze(question) -> pruned postings read -> one decode -> fold -> top-k.

A query touches a handful of files regardless of index size — this is
what makes the design hold at 10^12 docs. On a local index the driver
reads them itself (:class:`operators.compressed_index.PostingsReader`):
it opens only the query buckets' files, keeps the row groups whose
``term`` min/max overlap the query terms, reads only the asked columns
and returns the matching rows as one Arrow table, so a query starts no
Spark job. Each file's parsed footer is kept for the index generation,
so a repeated read of a file parses none. A ``scheme://`` index pays one
bucket- and term-pruned collect, through Arrow.

The table is then decoded once per request
(:func:`operators.wand.term_impacts`): in slices of about 8k postings,
each ONE :func:`postings_codec.decode_postings_many` over the slice's
concatenated ``gaps``/``tfs`` bytes and one vectorized BM25 impact
expression, with no decode call or byte copy per row; the decode's
driver memory (:func:`operators.wand.decode_charge`) is charged, with
the norms, before it runs. :func:`accumulate_topk` folds each term set
in ascending-term order. A single query past the dense limits, or whose
decode the budget refuses, is scored by block-max WAND over the rows as
dicts instead, with identical results. A preloaded searcher
(``preload=True``) skips the read and the decode: it decoded every term
once, the same way, at construction.

Doc lengths: loaded once per index snapshot into a dense numpy array (a
dict for sparse ids) — the Lucene-norms analogue. At true 10^12 scale
the norms sidecar would be range-partitioned and memory-mapped per
executor; the access pattern (random lookups by doc_id during scoring)
is identical.

Batch scoring has two shapes. ``search_many`` is a driver scatter-gather:
one pruned read fetches the union of the batch's postings (none when
preloaded), one decode scores them, each distinct term set is folded
once, and the rows come back as a JVM local relation built from an Arrow
table with a cached schema, so the batch starts no Python worker.
``search_many_relational`` keeps postings and norms on the executors:
one Catalyst plan for batches or indexes too big for the driver.

Every request reads one :class:`IndexSnapshot` of the directory,
resolved under stats.json's freshness token: a scan searcher follows an
in-place rebuild or a newly committed stream segment, and a preloaded
searcher serves the snapshot it decoded. A streamed directory (a list
of committed segments) is served with merged stats: df, N and avgdl add
up across segments, and block-max pruning is off when there is more than
one.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import DEFAULT_TOP_K, MAX_TOP_K
from ..functions.analyzer import analyze
from ..operators.compressed_index import (  # noqa: F401  (re-exported)
    DEFAULT_PRELOAD_BUDGET_BYTES,
    NO_PRELOAD_ADVICE,
    IndexSnapshot,
    PreloadBudgetExceeded,
    _local_frame,
    charge_preload,
    check_preload_budget,
    snapshot,
)
from ..operators.wand import (
    DENSE_COLUMNS,
    KERNEL_COLUMNS,
    accumulate_topk,
    decode_charge,
    dense_fits,
    term_impacts,
    wand_topk,
)

#: the batch paths' output columns: (query_id int, rank int, doc_id long,
#: score double)
HITS_COLUMNS = (("query_id", "int"), ("rank", "int"), ("doc_id", "long"), ("score", "double"))


class IndexSearcher:
    """Serve BM25 top-k queries from a built or streamed index directory."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        preload: bool = False,
        norms: str = "preload",
        preload_budget_bytes: int | None = DEFAULT_PRELOAD_BUDGET_BYTES,
    ):
        """``preload=True`` is the low-latency serving mode (no Spark job
        and no postings decode per query): at construction it collects
        the postings table and the norms, and decodes each term once into
        a ``(doc_ids int64, impacts float64)`` pair, the impact being the
        posting's exact BM25 contribution. A query then only adds its
        terms' impact arrays in ascending-term order and takes the top-k.
        The searcher serves the one index snapshot it read, even if the
        directory is rebuilt under it. Appropriate while the hot index
        fits driver memory; at 10^12 docs serving runs against the
        bucket-pruned read (default) or an external KV tier. Every
        driver-side collect is charged against ``preload_budget_bytes``
        (default 4 GiB) before it happens: the ESTIMATED compressed rows
        (one cheap aggregate), the decode (:func:`decode_charge`: 16
        bytes per decoded posting plus one slice's transients), then the
        norms; above it the preload is refused with
        :class:`PreloadBudgetExceeded` — a clear error naming the knob
        beats an OOMed driver. ``None`` disables the check. Without
        preload the same budget bounds the norms and each request's
        decode; a single query whose decode it refuses is scored by
        block-max WAND, which decodes only the blocks it visits.

        Without preload the searcher follows the directory: each request
        checks stats.json's freshness token and re-reads the index when a
        rebuild, a compaction or a stream commit has rewritten it.

        ``index_dir`` is a built index or a streamed one (see the module
        doc). A streamed dir whose segments share a doc id raises
        ``ValueError`` when it is resolved.

        ``norms``: 'preload' loads the doclens sidecar into driver memory
        (at construction with ``preload=True``, else on first use;
        lowest latency; bounded by the norms table fitting the serving
        head). 'join' never materializes norms on the driver — every
        query scores through the in-plan doclen join
        (:meth:`search_many_relational`'s shape), the mode that holds at
        10^12 docs where the norms table itself is cluster-resident.
        Impacts need norms, so ``preload=True`` requires 'preload'."""
        if norms not in ("preload", "join"):
            raise ValueError(f"unknown norms mode {norms!r}")
        if preload and norms == "join":
            raise ValueError("preload=True needs driver norms (norms='preload')")
        self.spark = spark
        self.index_dir = index_dir
        self.norms_mode = norms
        self._snap = snapshot(spark, index_dir)
        self._preload_budget = preload_budget_bytes
        self._mem: dict[str, list[tuple[np.ndarray, np.ndarray]]] | None = None
        if preload:
            self._mem = self._preload_impacts(preload_budget_bytes)

    def _snapshot(self) -> IndexSnapshot:
        """The index state for one request; read it once per request: the
        directory's current snapshot, or the one a preloaded searcher
        decoded."""
        if self._mem is None:
            self._snap = snapshot(self.spark, self.index_dir)
        return self._snap

    def _impacts(
        self,
        snap: IndexSnapshot,
        table,
        budget: int | None,
        what: str,
        alternative: str = NO_PRELOAD_ADVICE,
    ) -> dict:
        """term -> ``(doc_ids, impacts)`` pieces of the postings
        ``table`` (:func:`term_impacts`: one vectorized decode per
        slice). The decode (:func:`decode_charge`: 16 bytes per decoded
        posting plus one slice's transients) is charged against
        ``budget`` before it runs, then a norms collect against what is
        left: one budget, because separate full-budget checks would admit
        their sum. ``alternative`` is the refusal's advice
        (:func:`charge_preload`)."""
        n = table["n"].to_numpy() if table.num_rows else ()
        spent = charge_preload(decode_charge(n), f"decoded {what}", budget, alternative)
        doclen = snap.norms(None if budget is None else budget - spent)
        return term_impacts(table, doclen, snap.n_docs, snap.avgdl)

    def _preload_impacts(self, budget: int | None) -> dict:
        """term -> frozen ``(doc_ids, impacts)`` pieces; the compressed
        rows, the decoded store and the norms share ONE budget."""
        snap = self._snap
        what = f"postings of {self.index_dir}"
        postings = snap.postings.select(*KERNEL_COLUMNS)
        spent = check_preload_budget(postings, what, budget)
        table = snap.merged(postings.toArrow())
        store = self._impacts(snap, table, None if budget is None else budget - spent, what)
        for pieces in store.values():
            for ids, imp in pieces:
                ids.flags.writeable = imp.flags.writeable = False
        return store

    @property
    def postings(self) -> DataFrame:
        """The current snapshot's postings relation."""
        return self._snapshot().postings

    @property
    def doclen(self):
        """Driver-resident norms: loaded at construction with
        ``preload=True``, lazily otherwise."""
        return self._snapshot().norms(self._preload_budget)

    def candidate_table(
        self,
        terms: Sequence[str],
        snap: IndexSnapshot | None = None,
        columns: Sequence[str] = KERNEL_COLUMNS,
    ):
        """Postings fetch for a term set: the pruned read of ``snap``
        (default: the current snapshot) on the driver
        (:meth:`IndexSnapshot.table`), one Arrow table of ``columns``
        (default: those the kernels use; a positional index's ``poss``
        stays on disk), with merged df across segments
        (:meth:`IndexSnapshot.merged`).

        Bucket routing is computed DRIVER-SIDE (functions/xxhash.py is
        bit-identical to the JVM xxhash64), and a local index's parquet
        row groups are read in-process with footers kept per generation,
        so the fetch starts no Spark job; a ``scheme://`` index pays one
        pruned collect.
        """
        snap = snap or self._snapshot()
        return snap.merged(snap.table(terms, columns))

    def candidate_rows(self, terms: Sequence[str], snap: IndexSnapshot | None = None) -> list:
        """:meth:`candidate_table` as dicts, one per (term, segment) row."""
        return self.candidate_table(terms, snap).to_pylist()

    def search(
        self, question: str, top_k: int = DEFAULT_TOP_K, clamp: bool = True
    ) -> list[tuple[int, float]]:
        """The reference's GET /inference contract (server.py:62-75):
        top_k clamped to [1, MAX_TOP_K]; returns [(doc_id, score)] sorted
        (score desc, doc_id asc). ``clamp=False`` lifts the ceiling for
        internal deep retrieval (domain over-fetch)."""
        top_k = max(1, min(int(top_k), MAX_TOP_K) if clamp else int(top_k))
        if self.norms_mode == "join":
            # zero driver-resident norm state: score through the in-plan
            # doclen join (one Spark job; doc lengths ride the rows)
            out = self.search_many_relational([question], top_k=top_k, clamp=False)
            rows = sorted(out.collect(), key=lambda r: r["rank"])
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]
        terms = sorted(set(analyze(question)))
        if self._mem is not None:
            store = self._mem
        else:
            snap = self._snapshot()
            table = self.candidate_table(terms, snap)
            store = None
            if not table.num_rows or dense_fits(
                int(table["n"].to_numpy().sum()), int(table["max_doc"].to_numpy().max())
            ):
                what = f"postings of {terms} in {self.index_dir}"
                try:
                    store = self._impacts(snap, table, self._preload_budget, what)
                except PreloadBudgetExceeded:
                    pass  # block-max WAND decodes only the blocks it visits
            if store is None:
                return wand_topk(
                    table.to_pylist(), terms, snap.norms(self._preload_budget), snap.n_docs,
                    snap.avgdl, top_k=top_k, use_blockmax=len(snap.segments) == 1,
                    method="wand",
                )
        return accumulate_topk([p for t in terms for p in store.get(t, ())], top_k)

    def search_many_local(
        self, questions: Sequence[str], top_k: int = DEFAULT_TOP_K
    ) -> list[list[tuple[int, float]]]:
        """Scatter-gather batch scoring on the driver, one hit list per
        question (each equal to :meth:`search`'s): the batch's terms come
        from the preloaded store or ONE bucket-pruned read decoded once
        per term, and each distinct term set is folded once with
        :func:`accumulate_topk` in ascending-term order. The right shape
        while the batch's postings fit the driver;
        :meth:`search_many_relational` covers the rest."""
        top_k = max(1, min(int(top_k), MAX_TOP_K))
        term_sets = [tuple(sorted(set(analyze(q)))) for q in questions]
        if self._mem is not None:
            store = self._mem
        else:
            snap = self._snapshot()
            terms = sorted({t for ts in term_sets for t in ts})
            store = self._impacts(
                snap,
                self.candidate_table(terms, snap, DENSE_COLUMNS),
                self._preload_budget,
                f"postings of a {len(terms)}-term batch of {self.index_dir}",
                alternative="Score the batch with search_many_relational, "
                "which keeps postings and norms on the executors",
            )
        out = []
        memo: dict[tuple, list] = {}
        for ts in term_sets:
            if ts not in memo:
                memo[ts] = accumulate_topk([p for t in ts for p in store.get(t, ())], top_k)
            # fresh list of immutable tuples per query: a caller mutating
            # its result cannot change a repeated query's
            out.append(list(memo[ts]))
        return out

    def search_many(self, questions: Sequence[str], top_k: int = DEFAULT_TOP_K) -> DataFrame:
        """:meth:`search_many_local` as a DataFrame of (query_id int,
        rank int, doc_id long, score double), ``query_id`` being the
        question's index. The rows are a JVM local relation (see
        :func:`_local_frame`): collecting them runs no Spark stage and no
        Python worker. ``norms='join'`` searchers hold no driver norms,
        so they delegate to :meth:`search_many_relational`."""
        if self.norms_mode == "join":
            return self.search_many_relational(questions, top_k=top_k)
        hits = self.search_many_local(questions, top_k)
        rows = [
            (qid, rank, doc, score)
            for qid, h in enumerate(hits)
            for rank, (doc, score) in enumerate(h, 1)
        ]
        return _local_frame(self.spark, rows, HITS_COLUMNS)

    @staticmethod
    def _distinct_term_sets(questions: Sequence[str]):
        """Batch common-subexpression elimination: map each query to its
        DISTINCT analyzed term set. Scoring depends only on the term
        set, so a batch with repeated or term-identical queries (the
        serving-head norm: popular queries repeat) pays the candidate
        fan-out, the float math, and the ranking once per SET; a tiny
        broadcast (set_id -> query_id) re-attaches results. Returns
        (pairs [(set_id, term)], mapping [(query_id, set_id)])."""
        sets: dict[tuple, int] = {}
        mapping = []
        for i, q in enumerate(questions):
            ts = tuple(sorted(set(analyze(q))))
            if not ts:
                continue
            if ts not in sets:
                sets[ts] = len(sets)
            mapping.append((i, sets[ts]))
        pairs = [(sid, t) for ts, sid in sets.items() for t in ts]
        return pairs, mapping

    def search_many_relational(
        self, questions: Sequence[str], top_k: int = DEFAULT_TOP_K, clamp: bool = True
    ) -> DataFrame:
        """Batch scoring as ONE relational plan over the compressed index.

        Each candidate posting segment is decoded exactly once (a pandas
        UDF explodes it back to (doc_id, tf) arrays); everything after —
        the BM25 contribution expression, the query fan-out join, the
        ascending-term score fold, the per-query top-k window — is JVM
        Catalyst, bit-identical to the brute-force oracle's float64 path.
        No WAND pruning: this is the throughput shape for query batches
        large enough that exhaustive scoring amortizes (offline eval runs,
        relevance-set generation), scaling with executors, not the driver.
        Across segments the merged df is one more in-plan aggregate.

        Returns (query_id int, rank int, doc_id long, score double).
        """
        from pyspark.sql import Window

        from ..operators.bm25 import bm25_contrib_expr, slot_fold
        from ..operators.compressed_index import decode_index_df

        top_k = max(1, min(int(top_k), MAX_TOP_K) if clamp else int(top_k))
        pairs, mapping = self._distinct_term_sets(questions)
        if not pairs:
            return _local_frame(self.spark, [], HITS_COLUMNS)
        # slot = the term's index in its set's ASCENDING order: the score
        # below adds slot contributions in slot order, reproducing the
        # oracle's sorted-term float64 fold with a plain codegen
        # HashAggregate instead of collect_list+array_sort+aggregate
        # (ObjectHashAggregate) — a missing slot adds +0.0, which leaves
        # an IEEE sum of nonnegative contributions bit-unchanged
        slot_pairs = []
        seen: dict[int, int] = {}
        for sid, t in pairs:  # pairs are emitted per set in ascending-term order
            slot_pairs.append((sid, seen.get(sid, 0), t))
            seen[sid] = seen.get(sid, 0) + 1
        max_slots = max(seen.values())
        qdf = _local_frame(
            self.spark, slot_pairs, (("set_id", "int"), ("slot", "int"), ("term", "string"))
        )
        mdf = _local_frame(self.spark, mapping, (("query_id", "int"), ("set_id", "int")))
        all_terms = sorted({t for _, _, t in slot_pairs})
        snap = self._snapshot()
        cand = snap.pruned(all_terms)
        if len(snap.segments) == 1:
            decoded = decode_index_df(cand, keep_cols=("term", "df"))
        else:
            # a term's df is the sum of its rows' n (segment-disjoint docs)
            df = cand.groupBy("term").agg(F.sum("n").alias("df"))
            decoded = decode_index_df(cand, keep_cols=("term",)).join(
                F.broadcast(df), "term"
            )

        # term-major order: the BM25 contribution is query-INDEPENDENT, so
        # join doclens and evaluate it once per (term, doc) row, THEN fan
        # out to DISTINCT TERM SETS via the broadcast join — the slot sum
        # and the per-set top-k window run once per set, and the
        # set_id -> query_id broadcast join at the end restores the
        # per-query rows (identical output, term-sharing batches pay the
        # heavy stages once)
        contrib = bm25_contrib_expr("tf", "df", "doc_len", snap.n_docs, snap.avgdl)
        per_term_doc = decoded.join(snap.doclens, "doc_id").select(
            "term", "doc_id", contrib.alias("contrib")
        )
        fanned = per_term_doc.join(F.broadcast(qdf), "term").select(
            "set_id", "doc_id", F.col("slot").alias("_slot"), "contrib"
        )
        scored = slot_fold(fanned, ["set_id", "doc_id"], max_slots)
        w = Window.partitionBy("set_id").orderBy(F.desc("score"), F.asc("doc_id"))
        ranked = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
        )
        return ranked.join(F.broadcast(mdf), "set_id").select(
            "query_id", "rank", "doc_id", "score"
        )
