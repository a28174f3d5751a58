"""Query lifecycle over a persisted index (SURVEY.md §3.1 Spark mapping).

analyze(question) -> bucket-pruned postings scan -> WAND kernel -> top-k.

The postings scan filters on BOTH the partition column ``bucket`` (parquet
partition pruning: only the query terms' bucket directories are listed) and
``term`` (row-group pruning via parquet min/max stats). A query touches a
handful of files regardless of index size — this is what makes the design
hold at 10^12 docs. A preloaded searcher (``preload=True``) skips the
scan and the kernel: it decoded every term once into BM25 impact arrays
at construction, and a query only adds its terms' arrays.

Doc lengths: loaded once per (process, index) into dense numpy arrays and
cached — the Lucene-norms analogue. At true 10^12 scale the norms sidecar
would be range-partitioned and memory-mapped per executor; the access
pattern (random lookups by doc_id during scoring) is identical.

Batch scoring (``search_many``) distributes queries across executors: each
query's postings rows are joined to it and the WAND kernel runs inside
``applyInPandas`` per query group.
"""

from __future__ import annotations

import json
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..constants import DEFAULT_TOP_K, MAX_TOP_K, TERM_BUCKETS
from ..functions import fsio
from ..functions.analyzer import analyze
from ..functions.xxhash import term_bucket
from ..operators.compressed_index import (
    DEFAULT_PRELOAD_BUDGET_BYTES,
    PreloadBudgetExceeded,
    charge_preload,
    check_preload_budget,
)
from ..operators.wand import accumulate_topk, packed_ids, term_impacts, wand_topk

_DOCLEN_CACHE: dict[tuple, tuple] = {}


def invalidate_norms_cache(index_dir: str | None = None) -> None:
    """Drop cached norms for ``index_dir`` (or all). Build/compaction
    paths need not call this — the cache key includes the stats.json
    freshness token (mtime+size), so a rebuilt index at the same path
    misses naturally."""
    if index_dir is None:
        _DOCLEN_CACHE.clear()
        return
    for k in [k for k in _DOCLEN_CACHE if k[0] == index_dir]:
        del _DOCLEN_CACHE[k]


def _load_norms(
    spark: SparkSession, index_dir: str, budget_bytes: int | None = None
):
    """(doclen lookup, n_docs, avgdl), cached per (index_dir, freshness).

    The freshness token is stats.json's (mtime_ns, size): rebuilding or
    compacting an index at the same path in one process must not serve
    stale doc lengths. Dense numpy array when doc_ids are nonnegative
    and reasonably packed (fast vectorized lookups); dict fallback for
    sparse / hash-derived / negative id spaces.

    ``budget_bytes`` gates ONLY the cache-miss collect: a cache hit
    costs zero additional driver memory, so it must neither pay the
    estimate aggregate nor be refusable (r5 review).
    """
    stats_path = fsio.join(index_dir, "stats.json")
    key = (index_dir, fsio.freshness_token(stats_path, spark))
    if key in _DOCLEN_CACHE:
        return _DOCLEN_CACHE[key]
    # evict superseded versions of the same index — a rebuild-per-batch
    # process must not pin every generation's doclen array forever
    for stale in [k for k in _DOCLEN_CACHE if k[0] == index_dir]:
        del _DOCLEN_CACHE[stale]
    stats = json.loads(fsio.read_text(stats_path, spark))
    doclens_df = spark.read.parquet(f"{index_dir}/doclens")
    check_preload_budget(doclens_df, f"doclens of {index_dir}", budget_bytes)
    rows = doclens_df.collect()
    ids = [r["doc_id"] for r in rows]
    max_id = max(ids)
    if packed_ids(min(ids), max_id, len(ids)):
        dl = np.zeros(max_id + 1, dtype=np.int64)
        for r in rows:
            dl[r["doc_id"]] = r["doc_len"]
        out = (dl, int(stats["n_docs"]), float(stats["avgdl"]))
    else:
        out = (
            {r["doc_id"]: r["doc_len"] for r in rows},
            int(stats["n_docs"]),
            float(stats["avgdl"]),
        )
    _DOCLEN_CACHE[key] = out
    return out


class IndexSearcher:
    """Serve BM25 top-k queries from a built index directory."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        buckets: int = TERM_BUCKETS,
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
        bucket-pruned scan (default) or an external KV tier. Every
        driver-side collect is charged against ``preload_budget_bytes``
        (default 4 GiB) before it happens: the ESTIMATED compressed rows
        (one cheap aggregate), 16 bytes per decoded posting, then the
        norms; above it the preload is refused with
        :class:`PreloadBudgetExceeded` — a clear error naming the knob
        beats an OOMed driver. ``None`` disables the check.

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
        self.buckets = buckets
        self.norms_mode = norms
        self.postings = spark.read.parquet(f"{index_dir}/postings")
        # one doclens relation per searcher: the batch paths used to
        # re-list the sidecar parquet on every call
        self.doclens = spark.read.parquet(f"{index_dir}/doclens")
        stats = json.loads(fsio.read_text(fsio.join(index_dir, "stats.json"), spark))
        self.n_docs, self.avgdl = int(stats["n_docs"]), float(stats["avgdl"])
        self._doclen = None  # lazy without preload: join-mode never touches it
        self._preload_budget = preload_budget_bytes
        self._mem: dict[str, tuple[np.ndarray, np.ndarray]] | None = None
        if preload:
            self._mem = self._preload_impacts(preload_budget_bytes)

    def _preload_impacts(self, budget: int | None) -> dict:
        """term -> frozen ``(doc_ids, impacts)``; the compressed rows,
        the decoded store and the norms share ONE budget (separate
        full-budget checks would admit their sum)."""
        what = f"postings of {self.index_dir}"
        spent = check_preload_budget(self.postings, what, budget)
        by_term: dict[str, list] = {}
        for r in self.postings.collect():
            by_term.setdefault(r["term"], []).append(r)
        if budget is not None:
            decoded = 16 * sum(int(r["n"]) for segs in by_term.values() for r in segs)
            spent += charge_preload(decoded, f"decoded {what}", budget - spent)
        self._doclen, _, _ = _load_norms(
            self.spark, self.index_dir, None if budget is None else budget - spent
        )
        store = {}
        for term, segs in by_term.items():
            ids, imp = term_impacts(segs, self._doclen, self.n_docs, self.avgdl)
            ids.flags.writeable = imp.flags.writeable = False
            store[term] = (ids, imp)
        return store

    @property
    def doclen(self):
        """Driver-resident norms: loaded at construction with
        ``preload=True``, lazily otherwise. The lazy cache-miss collect
        is budget-checked like every other driver preload — one row per
        doc is exactly the collect that kills the driver at 10^12
        docs."""
        if self._doclen is None:
            self._doclen, _, _ = _load_norms(
                self.spark, self.index_dir, self._preload_budget
            )
        return self._doclen

    def candidate_rows(self, terms: Sequence[str]) -> list:
        """Postings fetch for a term set: the bucket- and term-pruned scan.

        Bucket routing is computed DRIVER-SIDE (functions/xxhash.py is
        bit-identical to the JVM xxhash64) so the pruned scan is the only
        Spark job a query pays.
        """
        tset = sorted(set(terms))
        if not tset:
            return []
        bks = sorted({term_bucket(t, self.buckets) for t in tset})
        return (
            self.postings.filter(F.col("bucket").isin(bks))
            .filter(F.col("term").isin(tset))
            .collect()
        )

    def _preloaded_topk(self, terms: Sequence[str], top_k: int) -> list[tuple[int, float]]:
        return accumulate_topk(
            [self._mem[t] for t in sorted(set(terms)) if t in self._mem], top_k
        )

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
        terms = analyze(question)
        if self._mem is not None:
            return self._preloaded_topk(terms, top_k)
        rows = self.candidate_rows(terms)
        return wand_topk(rows, terms, self.doclen, self.n_docs, self.avgdl, top_k=top_k)

    def search_many_local(
        self, questions: Sequence[str], top_k: int = DEFAULT_TOP_K
    ) -> list[list[tuple[int, float]]]:
        """Scatter-gather batch scoring on the driver: ONE bucket-pruned
        scan fetches the union of all queries' postings (none when
        preloaded), then the vectorized kernels run per query locally.
        The right shape when the union of candidate lists fits one node
        (a serving head); the distributed ``search_many`` covers huge
        batches/indexes."""
        top_k = max(1, min(int(top_k), MAX_TOP_K))
        q_terms = [analyze(q) for q in questions]
        if self._mem is not None:
            def score(terms):
                return self._preloaded_topk(terms, top_k)
        else:
            by_term: dict[str, list] = {}
            for r in self.candidate_rows(sorted({t for ts in q_terms for t in ts})):
                by_term.setdefault(r["term"], []).append(r)

            def score(terms):
                cand = [r for t in set(terms) for r in by_term.get(t, [])]
                return wand_topk(
                    cand, terms, self.doclen, self.n_docs, self.avgdl, top_k=top_k
                )
        out = []
        # memoize per exact term LIST: repeated queries in a batch run
        # the kernel once (identical inputs -> identical output)
        memo: dict[tuple, list] = {}
        for terms in q_terms:
            key = tuple(terms)
            if key not in memo:
                memo[key] = score(terms)
            # fresh list of immutable tuples per query: a caller mutating
            # its result cannot change a repeated query's
            out.append(list(memo[key]))
        return out

    def _decoded_candidates(self, all_terms: Sequence[str]) -> DataFrame:
        """One bucket+term-pruned scan, decoded once per (term, segment)
        to ``(term, df, doc_id, tf)`` rows — the shared front end of both
        distributed batch-scoring plans."""
        from ..operators.compressed_index import decode_index_df

        bks = sorted({term_bucket(t, self.buckets) for t in all_terms})
        cand = self.postings.filter(F.col("bucket").isin(bks)).filter(
            F.col("term").isin(list(all_terms))
        )
        return decode_index_df(cand, keep_cols=("term", "df"))

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

    def search_many(self, questions: Sequence[str], top_k: int = DEFAULT_TOP_K) -> DataFrame:
        """Distributed batch scoring: exact numpy kernel per query group.

        Returns DataFrame (query_id int, rank int, doc_id long, score
        double). Postings for ALL queries' terms are fetched with one
        pruned scan, decoded once per (term, segment), joined to query
        ids AND to the doclens table inside the plan — doc lengths ride
        the rows, so nothing is broadcast to executors (the old full-
        norms broadcast was a wall at 10^12 docs). The per-group kernel
        accumulates contributions in ascending-term order (float64),
        bit-compatible with the brute-force oracle. Scoring runs once
        per DISTINCT term set, then fans out to query ids through a
        broadcast join (see :meth:`_distinct_term_sets`).
        """
        top_k = max(1, min(int(top_k), MAX_TOP_K))
        pairs, mapping = self._distinct_term_sets(questions)
        if not pairs:
            return self.spark.createDataFrame(
                [], "query_id int, rank int, doc_id long, score double"
            )
        qdf = self.spark.createDataFrame(pairs, "set_id int, term string")
        mdf = self.spark.createDataFrame(mapping, "query_id int, set_id int")
        all_terms = sorted({t for _, t in pairs})
        decoded = self._decoded_candidates(all_terms)
        # doclens join BEFORE the query fan-out: the broadcast qdf join
        # multiplies rows by the term-sharing factor, so joining dl first
        # shuffles each (term, doc) row once instead of once per query
        joined = decoded.join(self.doclens, "doc_id").join(F.broadcast(qdf), "term")

        n_docs, avgdl, k = self.n_docs, self.avgdl, top_k
        from ..constants import BM25_B, BM25_K1

        set_schema = StructType(
            [
                StructField("set_id", IntegerType(), False),
                StructField("rank", IntegerType(), False),
                StructField("doc_id", LongType(), False),
                StructField("score", DoubleType(), False),
            ]
        )

        def score_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
            sid = int(key[0])
            # ascending-term processing order -> per-doc float64 sums are
            # accumulated in term order, matching the oracle's sorted fold
            pdf = pdf.sort_values(["term", "doc_id"], kind="mergesort")
            df_arr = pdf["df"].to_numpy(dtype=np.float64)
            tf = pdf["tf"].to_numpy(dtype=np.float64)
            dls = pdf["doc_len"].to_numpy(dtype=np.float64)
            idf = np.log(1.0 + (n_docs - df_arr + 0.5) / (df_arr + 0.5))
            contrib = (
                idf * tf * (BM25_K1 + 1.0)
                / (tf + BM25_K1 * ((1.0 - BM25_B) + (BM25_B * dls) / avgdl))
            )
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            uniq, inv = np.unique(ids, return_inverse=True)
            acc = np.zeros(uniq.size, dtype=np.float64)
            np.add.at(acc, inv, contrib)
            kk = min(k, uniq.size)
            if kk == 0:
                return pd.DataFrame(
                    {"set_id": [], "rank": [], "doc_id": [], "score": []}
                )
            kth = np.partition(acc, uniq.size - kk)[uniq.size - kk]
            mask = acc >= kth  # keep ties for the doc_id tie-break
            cids, cscores = uniq[mask], acc[mask]
            order = np.lexsort((cids, -cscores))[:kk]
            return pd.DataFrame(
                {
                    "set_id": sid,
                    "rank": range(1, kk + 1),
                    "doc_id": cids[order],
                    "score": cscores[order],
                }
            )

        per_set = joined.groupBy("set_id").applyInPandas(score_group, set_schema)
        return per_set.join(F.broadcast(mdf), "set_id").select(
            "query_id", "rank", "doc_id", "score"
        )

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

        Returns (query_id int, rank int, doc_id long, score double).
        """
        from pyspark.sql import Window

        from ..operators.bm25 import bm25_contrib_expr

        top_k = max(1, min(int(top_k), MAX_TOP_K) if clamp else int(top_k))
        pairs, mapping = self._distinct_term_sets(questions)
        if not pairs:
            return self.spark.createDataFrame(
                [], "query_id int, rank int, doc_id long, score double"
            )
        # slot = the term's index in its set's ASCENDING order: the score
        # below adds slot contributions in slot order, reproducing the
        # oracle's sorted-term float64 fold with a plain codegen
        # HashAggregate instead of collect_list+array_sort+aggregate
        # (ObjectHashAggregate) — a missing slot adds +0.0, which leaves
        # an IEEE sum of nonnegative contributions bit-unchanged
        set_sizes: dict[int, int] = {}
        for sid, _t in pairs:
            set_sizes[sid] = set_sizes.get(sid, 0) + 1
        slot_pairs = []
        seen: dict[int, int] = {}
        for sid, t in pairs:  # pairs are emitted per set in ascending-term order
            slot_pairs.append((sid, seen.get(sid, 0), t))
            seen[sid] = seen.get(sid, 0) + 1
        max_slots = max(set_sizes.values())
        qdf = self.spark.createDataFrame(slot_pairs, "set_id int, slot int, term string")
        mdf = self.spark.createDataFrame(mapping, "query_id int, set_id int")
        all_terms = sorted({t for _, _, t in slot_pairs})
        decoded = self._decoded_candidates(all_terms)

        # term-major order: the BM25 contribution is query-INDEPENDENT, so
        # join doclens and evaluate it once per (term, doc) row, THEN fan
        # out to DISTINCT TERM SETS via the broadcast join — the slot sum
        # and the per-set top-k window run once per set, and the
        # set_id -> query_id broadcast join at the end restores the
        # per-query rows (identical output, term-sharing batches pay the
        # heavy stages once)
        contrib = bm25_contrib_expr(
            "tf", "df", "doc_len", self.n_docs, self.avgdl
        )
        per_term_doc = decoded.join(self.doclens, "doc_id").select(
            "term", "doc_id", contrib.alias("contrib")
        )
        from ..operators.bm25 import slot_fold

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
