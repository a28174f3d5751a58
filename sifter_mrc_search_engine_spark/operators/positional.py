"""Positional & structured query semantics: phrase, proximity, prefix, bool.

The reference's front door accepts only free-text questions and delegates
match semantics to its external engine's query DSL (reference:
modules/mrc_service/search_functions.py:82-97 builds a single
``bool/should`` match query). A production fulltext tier additionally
serves the standard structured query family — exact phrase, proximity
window, prefix expansion, boolean must/should/must_not — so this module
supplies them Spark-first over the SAME analyzer surface
(``functions.analyzer.tokenize_expr``) the index build uses, keeping the
rank-identity contract self-consistent.

Every operator here exists in two shapes:

* a **relational** form over the raw ``documents`` table (tokenize →
  match → BM25), which doubles as the DuckDB-oracle-checkable contract
  query, and
* an **index-backed** form over a persisted positional index — the main
  compressed index format plus a ``poss`` column of within-doc position
  deltas, written by the same encoder and writer
  (:mod:`operators.compressed_index`). Scoring-only shapes never read
  ``poss``.

Phrase, slop and near queries are served on the driver
(:func:`positional_topk`): ONE bucket- and term-pruned read fetches the
terms' raw rows, each segment's doc ids, tfs and positions decode once
in numpy, the match runs over packed (doc rank, position) keys, and the
matched docs are scored with :func:`bm25.idf`/:func:`bm25.impacts` and
the driver fold (:func:`operators.wand.accumulate_topk`). No Python
worker, shuffle or decode UDF runs per request, and on a local index
the read is in-process, so no Spark job does either.

Scale posture (10^12 docs): matching only ever touches postings of the
query's terms (bucket partition pruning + term row-group pruning). The
driver path's decoded arrays are charged against the driver-memory
budget first; past it the query runs the cluster plan, which is also the
driver kernel's test twin: positions decode executor-side through the
one index decoder and the relational form's Catalyst matcher runs over
them (the phrase anchor aggregation is ONE shuffle on (doc_id, anchor),
so no per-term position list is collected). Hot terms are doc_id-range
segmented exactly like the main index so one Zipf-head term cannot pin a
single task. Scoring reproduces the deterministic sorted-term float64
fold from :mod:`operators.bm25` on both paths.
"""

from __future__ import annotations

import json
import re
from typing import NamedTuple, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import BM25_B, BM25_K1, DEFAULT_TOP_K, TERM_BUCKETS
from ..functions import fsio
from ..functions.analyzer import analyze
from . import bm25
from .bm25 import bm25_term_scores, sum_in_term_order
from .compressed_index import (
    DEFAULT_PRELOAD_BUDGET_BYTES,
    IndexSnapshot,
    PreloadBudgetExceeded,
    _local_frame,
    build_compressed_index,
    charge_preload,
    decode_index_df,
    decode_positions,
    sample_hot_terms,
    snapshot,
    tf_doclen,
    write_doclens,
    write_index,
)
from .index_build import corpus_stats, doc_lengths, term_frequencies
from .postings_codec import decode_postings
from .wand import KERNEL_COLUMNS, accumulate_topk, doc_lens

#: tokens produced by the analyzer ([a-z0-9가-힣]+) contain no SQL LIKE
#: metacharacters or quotes, so they embed directly into oracle strings;
#: enforced before any interpolation.
_TOKEN_OK = re.compile(r"[a-z0-9가-힣]+\Z")


def _checked_terms(terms: Sequence[str]) -> list[str]:
    for t in terms:
        if not _TOKEN_OK.match(t):
            raise ValueError(f"not an analyzer token: {t!r}")
    return list(terms)


def token_positions(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(doc_id, pos, term)`` — one scan, JVM-side posexplode of the
    shared tokenize expression. ``pos`` is 0-based token index."""
    from ..functions.analyzer import tokenize_expr

    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize_expr(text_col)).alias("pos", "term"),
    )


def phrase_terms(phrase: str) -> list[str]:
    """The analyzed token sequence of the phrase, in order (slots)."""
    return analyze(phrase)


# ---------------------------------------------------------------- phrase


def _anchor_match(occ: DataFrame, slots: Sequence[str], distinct: bool = True) -> DataFrame:
    """``(doc_id)`` where some anchor ``pos − slot`` is covered by ALL m
    slots — the consecutive-phrase condition. ``occ`` is
    ``(doc_id, pos, term)`` occurrence rows already pruned to the slot
    terms (from posexplode or index decode — the matcher is the ONE
    shared copy for both). One shuffle on (doc_id, anchor); a token can
    serve multiple slots (repeated-word phrases like "a b a" work).

    Slot coverage is a ``bit_or`` of ``1 << slot`` — one plain
    HashAggregate; the r5 ``countDistinct(slot)`` expanded to a
    two-level aggregate with a SECOND full exchange of the anchor rows.
    Phrases beyond 63 slots fall back to the countDistinct shape (a
    64-bit mask cannot hold them; no analyzer emits such phrases, but
    the old domain is preserved).

    ``distinct=False`` skips the trailing doc_id dedup for consumers
    that feed a left-semi join, where duplicates are free but the extra
    exchange is not.

    The ``(slot, term)`` table is built JVM-side (a ``posexplode`` of
    literals): ``createDataFrame(list)`` would plan as ``Scan
    ExistingRDD`` and add a Python-worker stage to every phrase query."""
    slots_df = occ.sparkSession.range(1).select(
        F.posexplode(F.array(*[F.lit(t) for t in slots])).alias("slot", "term")
    )
    anchors = occ.join(F.broadcast(slots_df), "term").select(
        "doc_id", (F.col("pos") - F.col("slot")).alias("anchor"), "slot"
    )
    if len(slots) <= 63:
        full_mask = (1 << len(slots)) - 1
        matched = (
            anchors.groupBy("doc_id", "anchor")
            .agg(
                F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), slot)")).alias("_mask")
            )
            .filter(F.col("_mask") == full_mask)
            .select("doc_id")
        )
    else:  # pragma: no cover - no analyzer emits 64-term phrases
        matched = (
            anchors.groupBy("doc_id", "anchor")
            .agg(F.countDistinct("slot").alias("ns"))
            .filter(F.col("ns") == len(slots))
            .select("doc_id")
        )
    return matched.distinct() if distinct else matched


def phrase_match_ids(
    docs: DataFrame, phrase: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(doc_id)`` of documents containing the analyzed phrase as
    CONSECUTIVE tokens (anchor trick — see :func:`_anchor_match`)."""
    slots = phrase_terms(phrase)
    if not slots:
        return docs.sparkSession.createDataFrame([], "doc_id long")
    pos = token_positions(docs, id_col, text_col).filter(
        F.col("term").isin(sorted(set(slots)))
    )
    return _anchor_match(pos, slots)


def _restricted_topk(
    docs: DataFrame,
    match_ids: DataFrame,
    score_terms: Sequence[str],
    top_k: int,
    id_col: str,
    text_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """BM25 over ``score_terms`` restricted (left-semi) to ``match_ids``.

    Corpus stats and df come from the FULL corpus — a match filter never
    changes collection statistics (standard engine semantics; the DuckDB
    twins mirror this)."""
    spark = docs.sparkSession
    if not score_terms:
        return spark.createDataFrame([], "doc_id long, score double")
    tf = term_frequencies(docs, id_col, text_col)
    dl = doc_lengths(docs, id_col, text_col)
    stats = corpus_stats(dl)
    contribs = bm25_term_scores(tf, dl, stats, score_terms, k1, b)
    scored = sum_in_term_order(
        contribs.join(match_ids, "doc_id", "left_semi")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)


def phrase_topk(
    docs: DataFrame,
    phrase: str,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k ``(doc_id, score)``: BM25 over the phrase's distinct terms,
    restricted to documents containing the exact consecutive phrase.
    Tie-break (score desc, doc_id asc) like every scorer in the repo."""
    return _restricted_topk(
        docs, phrase_match_ids(docs, phrase, id_col, text_col),
        sorted(set(phrase_terms(phrase))), top_k, id_col, text_col, k1, b,
    )


_DUCK_TOKS_SQL = (
    "SELECT doc_id, unnest(regexp_extract_all(lower(text), "
    "'[a-z0-9가-힣]+')) AS term FROM {table}"
)


def _bm25_restricted_sql(
    score_terms: Sequence[str],
    match_cte: str,
    top_k: int,
    table: str,
    k1: float,
    b: float,
    round_to: int = 4,
) -> str:
    """Shared oracle skeleton: full-corpus BM25 stats, contribs over
    ``score_terms``, filtered to the doc_ids produced by ``match_cte``
    (a complete ``SELECT doc_id ...`` statement over {table})."""
    terms_sql = ", ".join(f"'{t}'" for t in _checked_terms(sorted(set(score_terms))))
    toks = _DUCK_TOKS_SQL.format(table=table)
    return f"""
WITH toks AS ({toks}),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9가-힣]+')) AS doc_len FROM {table}),
stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ({terms_sql}) GROUP BY 1),
matched AS ({match_cte}),
contrib AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.doc_len / stats.avgdl)) AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.term IN ({terms_sql})
    AND tf.doc_id IN (SELECT doc_id FROM matched)
)
SELECT doc_id, round(sum(c), {round_to}) AS score
FROM contrib
GROUP BY doc_id
ORDER BY sum(c) DESC, doc_id ASC
LIMIT {top_k}
"""


def sql_phrase_topk(
    phrase: str,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`phrase_topk` (and of
    :func:`phrase_topk_indexed` — same answer by construction).

    Phrase presence via space-joined token string containment: analyzer
    tokens are ``[a-z0-9가-힣]+`` (no LIKE metacharacters), so
    ``' t1 t2 ' IN ' '||join(toks)||' '`` is exact-boundary-safe."""
    slots = _checked_terms(phrase_terms(phrase))
    if not slots:
        return f"SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score FROM {table} WHERE 1=0"
    needle = " " + " ".join(slots) + " "
    match = (
        "SELECT doc_id FROM (SELECT doc_id, ' ' || array_to_string("
        "regexp_extract_all(lower(text), '[a-z0-9가-힣]+'), ' ') || ' ' AS s "
        f"FROM {table}) WHERE position('{needle}' IN s) > 0"
    )
    return _bm25_restricted_sql(set(slots), match, top_k, table, k1, b)


# ------------------------------------------------------------- proximity


def _min_cover_match(
    occ: DataFrame, uterms: Sequence[str], window: int, distinct: bool = True
) -> DataFrame:
    """``(doc_id)`` where ALL ``uterms`` co-occur inside some span of
    ``window`` consecutive positions (unordered). ``occ`` is
    ``(doc_id, pos, term)`` rows pruned to the query terms — the ONE
    shared minimal-cover matcher for the relational and indexed paths.

    Pure-Catalyst: over the doc's occurrences ordered by position,
    ``last_j`` = the latest preceding position of term j (running MAX
    window per term); at each occurrence the minimal covering span
    ending there is ``pos - least(last_1..last_m)``; match iff min span
    <= window - 1. No pandas UDF, no per-term m-way position join;
    ONE doc_id window shuffle."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lasts = [
        F.max(F.when(F.col("term") == t, F.col("pos"))).over(w).alias(f"_l{i}")
        for i, t in enumerate(uterms)
    ]
    lcols = [F.col(f"_l{i}") for i in range(len(uterms))]
    # least()/greatest() IGNORE nulls (Spark and DuckDB alike): a doc
    # missing a term entirely would otherwise "cover" with the terms it
    # has. Guard: the span is defined only once EVERY term has appeared.
    all_seen = lcols[0].isNotNull()
    for c in lcols[1:]:
        all_seen = all_seen & c.isNotNull()
    span = F.when(
        all_seen,
        F.col("pos") - (F.least(*lcols) if len(lcols) > 1 else lcols[0]),
    )
    spans = occ.select("doc_id", "pos", *lasts).select("doc_id", span.alias("span"))
    matched = spans.filter(F.col("span") <= window - 1).select("doc_id")
    # semi-join consumers (the top-k scorers) pass distinct=False: dups
    # are free there and the dedup exchange is not
    return matched.distinct() if distinct else matched


def near_match_ids(
    docs: DataFrame,
    terms: Sequence[str],
    window: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id)`` of docs where ALL distinct ``terms`` co-occur inside
    some span of ``window`` consecutive token positions (unordered) —
    see :func:`_min_cover_match`."""
    uterms = sorted(set(terms))
    if window < 1:
        raise ValueError("window must be >= 1")
    if not uterms:
        return docs.sparkSession.createDataFrame([], "doc_id long")
    pos = token_positions(docs, id_col, text_col).filter(
        F.col("term").isin(uterms)
    )
    return _min_cover_match(pos, uterms, window)


def near_topk(
    docs: DataFrame,
    question: str,
    window: int,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 top-k restricted to docs where all the question's analyzed
    terms co-occur within ``window`` consecutive tokens."""
    uterms = sorted(set(analyze(question)))
    return _restricted_topk(
        docs, near_match_ids(docs, uterms, window, id_col, text_col),
        uterms, top_k, id_col, text_col, k1, b,
    )


def sql_near_topk(
    question: str,
    window: int,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`near_topk` — the SAME running-max window
    formulation (positions are 1-based from generate_subscripts vs
    Spark's 0-based posexplode; spans are shift-invariant)."""
    uterms = _checked_terms(sorted(set(analyze(question))))
    if not uterms:
        return f"SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score FROM {table} WHERE 1=0"
    terms_sql = ", ".join(f"'{t}'" for t in uterms)
    lasts = ",\n         ".join(
        f"max(CASE WHEN term = '{t}' THEN pos END) OVER "
        f"(PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS l{i}"
        for i, t in enumerate(uterms)
    )
    lnames = [f"l{i}" for i in range(len(uterms))]
    least = f"least({', '.join(lnames)})" if len(lnames) > 1 else lnames[0]
    # least() ignores NULLs in DuckDB too — same explicit all-seen guard
    # as the Spark side so a doc missing a term can never match
    not_null = " AND ".join(f"{c} IS NOT NULL" for c in lnames)
    match = f"""
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, CASE WHEN {not_null} THEN pos - {least} END AS span FROM (
      SELECT doc_id, pos,
         {lasts}
      FROM (
        SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9가-힣]+') AS toks
              FROM {table})
      ) WHERE term IN ({terms_sql})
    )
  ) WHERE span <= {window - 1}
"""
    return _bm25_restricted_sql(uterms, match, top_k, table, k1, b)


def _ordered_chain_match(
    occ: DataFrame, slots: Sequence[str], window: int, distinct: bool = True
) -> DataFrame:
    """``(doc_id)`` where the slot terms appear IN ORDER at strictly
    increasing positions p1 < … < pm with pm − p1 ≤ window − 1. ``occ``
    is ``(doc_id, pos, term)`` rows pruned to the slot terms — the ONE
    shared ordered-SpanNear matcher for the relational and indexed
    paths.

    Greedy chain join, skew-safe at the physical level: each step joins
    on (doc_id, position-block) — candidate pn must lie in
    [p1, p1 + window − 1], which spans at most TWO blocks of width
    ``window``, so the join enumerates ≤ 2·window candidate pairs per
    chain row even on a page that repeats a term F times (O(F·window),
    never the O(F²) a doc_id-only join would evaluate before its range
    filter). After each step the state compacts to min(pn) per
    (doc_id, p1): the greedy exchange argument — a smaller prev admits
    a superset of continuations — makes keeping only the earliest
    next-position chain exact for existence, and bounds state to one
    row per first-slot occurrence."""

    def blk(c):
        return F.floor(c / F.lit(window)).cast("long")

    cur = (
        occ.filter(F.col("term") == slots[0])
        .select("doc_id", F.col("pos").alias("p1"))
        .withColumn("prev", F.col("p1"))
    )
    for t in slots[1:]:
        nxt = occ.filter(F.col("term") == t).select(
            "doc_id", blk(F.col("pos")).alias("blk"), F.col("pos").alias("pn")
        )
        cand = (
            cur.select(
                "doc_id",
                "p1",
                "prev",
                F.explode(
                    F.array(blk(F.col("p1")), blk(F.col("p1")) + F.lit(1))
                ).alias("blk"),
            )
            .join(nxt, ["doc_id", "blk"])
            .filter(
                (F.col("pn") > F.col("prev"))
                & (F.col("pn") <= F.col("p1") + F.lit(window - 1))
            )
        )
        cur = cand.groupBy("doc_id", "p1").agg(F.min("pn").alias("prev"))
    out = cur.select("doc_id")
    return out.distinct() if distinct else out


def ordered_near_match_ids(
    docs: DataFrame,
    slots: Sequence[str],
    window: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id)`` of docs containing the slot terms IN ORDER within a
    span of ``window`` positions (phrase-with-slop: window = m + slop) —
    see :func:`_ordered_chain_match`."""
    slots = _checked_terms(slots)
    if window < len(slots):
        raise ValueError(f"window {window} < slot count {len(slots)}")
    if not slots:
        return docs.sparkSession.createDataFrame([], "doc_id long")
    pos = token_positions(docs, id_col, text_col).filter(
        F.col("term").isin(sorted(set(slots)))
    )
    return _ordered_chain_match(pos, slots, window)


def phrase_slop_topk(
    docs: DataFrame,
    phrase: str,
    slop: int = 0,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Ordered phrase-with-slop top-k: the analyzed phrase's tokens in
    order within a span of ``len(tokens) + slop`` positions, BM25-scored
    over the distinct tokens (slop=0 admits exactly the docs where the
    tokens appear in order with up to 0 extra tokens interleaved — i.e.
    the contiguous phrase)."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    slots = phrase_terms(phrase)
    if not slots:
        return docs.sparkSession.createDataFrame([], "doc_id long, score double")
    return _restricted_topk(
        docs,
        ordered_near_match_ids(docs, slots, len(slots) + slop, id_col, text_col),
        sorted(set(slots)), top_k, id_col, text_col, k1, b,
    )


def sql_phrase_slop_topk(
    phrase: str,
    slop: int = 0,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`phrase_slop_topk` — the same m-way
    range-bounded join over a positions CTE."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    slots = _checked_terms(phrase_terms(phrase))
    if not slots:
        return f"SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score FROM {table} WHERE 1=0"
    window = len(slots) + slop
    joins = "\n    ".join(
        f"JOIN occ o{i} ON o{i}.doc_id = o0.doc_id AND o{i}.term = '{t}' "
        f"AND o{i}.pos > o{i - 1}.pos AND o{i}.pos <= o0.pos + {window - 1}"
        for i, t in enumerate(slots[1:], start=1)
    )
    match = f"""
  WITH occ AS (
    SELECT doc_id, pos, term FROM (
      SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9가-힣]+') AS toks
            FROM {table})
    ) WHERE term IN ({", ".join(f"'{t}'" for t in sorted(set(slots)))})
  )
  SELECT DISTINCT o0.doc_id FROM occ o0
    {joins}
  WHERE o0.term = '{slots[0]}'
"""
    return _bm25_restricted_sql(set(slots), match, top_k, table, k1, b)


# ---------------------------------------------------------------- prefix


def _expanded_topk(
    docs: DataFrame,
    term_pred,
    top_k: int,
    id_col: str,
    text_col: str,
    k1: float,
    b: float,
    max_expansions: int | None,
) -> DataFrame:
    """Shared multi-term-rewrite scorer: every analyzer term satisfying
    ``term_pred`` (a Column predicate over ``term``) scores as its own
    BM25 query term with its own idf — the transparent rewrite behind
    prefix, wildcard, and fuzzy queries.

    ``max_expansions`` bounds the rewrite at web scale (a 1-char prefix
    over 10^12 docs expands to millions of terms, and dfreq below is
    broadcast): keeps the ``max_expansions`` HIGHEST-df expanded terms
    (ties broken term asc — deterministic, and df order keeps the terms
    that affect recall most, unlike Lucene's index-order truncation).
    ``None`` (default) is the exact transparent rewrite the DuckDB twins
    mirror."""
    if max_expansions is not None and max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    tf = term_frequencies(docs, id_col, text_col)
    dl = doc_lengths(docs, id_col, text_col)
    stats = corpus_stats(dl)
    hits = tf.filter(term_pred)
    dfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_expansions is not None:
        dfreq = dfreq.orderBy(F.desc("df"), F.asc("term")).limit(max_expansions)
        hits = hits.join(F.broadcast(dfreq.select("term")), "term", "left_semi")
    joined = (
        hits.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    from .bm25 import bm25_contrib_expr

    contrib = bm25_contrib_expr(
        "tf", "df", "doc_len", F.col("n_docs"), F.col("avgdl"), k1, b
    )
    scored = sum_in_term_order(
        joined.select("doc_id", "term", contrib.alias("contrib"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)


def prefix_topk(
    docs: DataFrame,
    prefix: str,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """Prefix query via the transparent multi-term rewrite. The term
    filter is a ``startswith`` predicate, pushable to the scan; on the
    sorted compressed index it is a contiguous term range."""
    p = prefix.lower()
    if not _TOKEN_OK.match(p):
        raise ValueError(f"prefix must be a plain analyzer token: {prefix!r}")
    return _expanded_topk(
        docs, F.col("term").startswith(p), top_k, id_col, text_col, k1, b,
        max_expansions,
    )


#: wildcard patterns: analyzer-token chars plus '*' (any run) — '?'
#: (single char) deliberately excluded: the analyzer strips nothing that
#: would make it unambiguous, and LIKE '_' covers it if ever needed
_WILDCARD_OK = re.compile(r"[a-z0-9가-힣*]+\Z")


def wildcard_topk(
    docs: DataFrame,
    pattern: str,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """Wildcard query (``*`` = any run of token chars), the transparent
    rewrite: each matching vocabulary term scores with its own idf.
    Patterns are analyzer chars + ``*`` only, so the LIKE translation
    needs no escaping. A leading ``*`` forfeits the term-range prune
    (full-vocab match — same caveat as Lucene's leading wildcard)."""
    p = pattern.lower()
    if not _WILDCARD_OK.match(p) or set(p) == {"*"}:
        raise ValueError(f"pattern must be analyzer chars + '*': {pattern!r}")
    return _expanded_topk(
        docs, F.col("term").like(p.replace("*", "%")), top_k, id_col,
        text_col, k1, b, max_expansions,
    )


def fuzzy_topk(
    docs: DataFrame,
    term: str,
    max_edits: int = 1,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """Fuzzy term query: vocabulary terms within ``max_edits``
    CHARACTER-level Levenshtein edits of ``term``, transparent rewrite.
    The ``length(term)`` band is an implied prune Catalyst evaluates
    before the O(len²) edit distance.

    Expansion is SCRIPT-CONSISTENT: an all-Latin/digit query expands
    only over all-Latin/digit vocabulary terms, a Hangul-bearing query
    only over Hangul-bearing terms. Cross-script "near-misses" (e.g.
    ``ab`` ↔ ``가b``) are linguistic noise, and excluding them is also
    what lets the DuckDB twin be exact: DuckDB's ``levenshtein`` counts
    UTF-8 BYTES (가나→가다 = 2 there, 1 here), so parity holds on the
    single-byte script and the twin refuses Hangul queries outright."""
    q = term.lower()
    if not _TOKEN_OK.match(q):
        raise ValueError(f"fuzzy term must be a plain analyzer token: {term!r}")
    if max_edits < 0:
        raise ValueError("max_edits must be >= 0")
    return _expanded_topk(
        docs, _fuzzy_pred(q, max_edits), top_k, id_col, text_col, k1, b,
        max_expansions,
    )


def _fuzzy_pred(q: str, max_edits: int):
    """The script-consistent fuzzy vocabulary predicate (shared by the
    relational and indexed paths; ``q`` pre-validated + lowercased)."""
    ascii_q = bool(re.match(r"[a-z0-9]+\Z", q))
    script = (
        F.col("term").rlike("^[a-z0-9]+$")
        if ascii_q
        else F.col("term").rlike("[가-힣]")
    )
    band = F.length("term").between(len(q) - max_edits, len(q) + max_edits)
    return script & band & (F.levenshtein(F.col("term"), F.lit(q)) <= max_edits)


def _sql_expanded_topk(
    term_pred_sql: str,
    top_k: int,
    table: str,
    k1: float,
    b: float,
    round_to: int = 4,
) -> str:
    """Shared DuckDB twin of :func:`_expanded_topk`:
    ``term_pred_sql`` is a boolean SQL expression over ``term``. The
    contrib CTE needs no term filter of its own — the equi-join to
    ``dfreq`` (which holds exactly the expanded terms) restricts it."""
    toks = _DUCK_TOKS_SQL.format(table=table)
    return f"""
WITH toks AS ({toks}),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9가-힣]+')) AS doc_len FROM {table}),
stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf WHERE {term_pred_sql} GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({k1} + 1)
           / (tf.tf + {k1} * (1 - {b} + {b} * dl.doc_len / stats.avgdl)) AS c
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
)
SELECT doc_id, round(sum(c), {round_to}) AS score
FROM contrib
GROUP BY doc_id
ORDER BY sum(c) DESC, doc_id ASC
LIMIT {top_k}
"""


def sql_prefix_topk(
    prefix: str,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_to: int = 4,
) -> str:
    """DuckDB twin of :func:`prefix_topk` (``LIKE 'p%'`` term filter)."""
    p = prefix.lower()
    if not _TOKEN_OK.match(p):
        raise ValueError(f"prefix must be a plain analyzer token: {prefix!r}")
    return _sql_expanded_topk(f"term LIKE '{p}%'", top_k, table, k1, b, round_to)


def sql_wildcard_topk(
    pattern: str,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_to: int = 4,
) -> str:
    """DuckDB twin of :func:`wildcard_topk`."""
    p = pattern.lower()
    if not _WILDCARD_OK.match(p) or set(p) == {"*"}:
        raise ValueError(f"pattern must be analyzer chars + '*': {pattern!r}")
    return _sql_expanded_topk(
        f"term LIKE '{p.replace('*', '%')}'", top_k, table, k1, b, round_to
    )


def sql_fuzzy_topk(
    term: str,
    max_edits: int = 1,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_to: int = 4,
) -> str:
    """DuckDB twin of :func:`fuzzy_topk`. ASCII queries only: DuckDB's
    ``levenshtein`` counts UTF-8 bytes, so character-level parity is
    only guaranteed on the single-byte script; the engine's
    script-consistent expansion (all-Latin/digit terms for an ASCII
    query) makes the match exact there. Hangul queries are served by
    the engine but have no SQL twin — this raises rather than
    producing a silently-divergent oracle."""
    q = term.lower()
    if not re.match(r"[a-z0-9]+\Z", q):
        raise ValueError(
            f"fuzzy twin supports ASCII terms only (byte-based DuckDB "
            f"levenshtein): {term!r}"
        )
    if max_edits < 0:
        raise ValueError("max_edits must be >= 0")
    return _sql_expanded_topk(
        f"regexp_matches(term, '^[a-z0-9]+$') AND levenshtein(term, '{q}') <= {max_edits}",
        top_k, table, k1, b, round_to,
    )


# --------------------------------------------------------------- boolean


def _bool_clauses(must, should, must_not):
    """Analyze the three clause lists → (must_t, score_t, not_t)."""
    must_t = sorted({t for s in must for t in analyze(s)})
    should_t = sorted({t for s in should for t in analyze(s)})
    not_t = sorted({t for s in must_not for t in analyze(s)})
    return must_t, sorted(set(must_t) | set(should_t)), not_t


def _bool_match_ids(
    tf: DataFrame, must_t: Sequence[str], score_t: Sequence[str], not_t: Sequence[str]
) -> DataFrame:
    """``(doc_id)`` passing the boolean gates — the ONE shared matcher
    for the relational and indexed paths. ``tf`` is ``(doc_id, term)``
    rows (extra columns fine) pre-pruned to the query's terms.

    All three clauses fold into a SINGLE doc_id aggregation (must-term
    count, any-excluded flag, any-score flag) instead of one subplan per
    clause + anti-join — Spark does not dedupe common subplans, so the
    per-clause shape re-scans (and on the indexed path re-decodes) the
    postings once per clause."""
    nm = F.count_distinct(
        F.when(F.col("term").isin(must_t), F.col("term")) if must_t else F.lit(None)
    ).alias("nm")
    bad = F.max(
        F.when(F.col("term").isin(not_t), F.lit(1)) if not_t else F.lit(None).cast("int")
    ).alias("bad")
    has_s = F.max(F.when(F.col("term").isin(list(score_t)), F.lit(1))).alias("has_s")
    agg = tf.groupBy("doc_id").agg(nm, bad, has_s)
    gate = (F.col("nm") == len(must_t)) if must_t else (F.col("has_s") == 1)
    return agg.filter(gate & F.col("bad").isNull()).select("doc_id")


def bool_topk(
    docs: DataFrame,
    must: Sequence[str] = (),
    should: Sequence[str] = (),
    must_not: Sequence[str] = (),
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Boolean retrieval: docs containing EVERY analyzed ``must`` term
    and NO ``must_not`` term, BM25-scored over must + should terms
    present (must_not contributes only the exclusion, like Lucene's
    bool query). Each clause entry is analyzed, so multi-word strings
    contribute all their tokens to the clause."""
    must_t, score_t, not_t = _bool_clauses(must, should, must_not)
    spark = docs.sparkSession
    if not score_t:
        return spark.createDataFrame([], "doc_id long, score double")
    all_t = sorted(set(score_t) | set(not_t))
    tf = term_frequencies(docs, id_col, text_col)
    dl = doc_lengths(docs, id_col, text_col)
    stats = corpus_stats(dl)

    match = _bool_match_ids(tf.filter(F.col("term").isin(all_t)), must_t, score_t, not_t)
    contribs = bm25_term_scores(tf, dl, stats, score_t, k1, b)
    scored = sum_in_term_order(contribs.join(match, "doc_id", "left_semi"))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)


def sql_bool_topk(
    must: Sequence[str] = (),
    should: Sequence[str] = (),
    must_not: Sequence[str] = (),
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`bool_topk`."""
    must_t = _checked_terms(sorted({t for s in must for t in analyze(s)}))
    should_t = sorted({t for s in should for t in analyze(s)})
    not_t = _checked_terms(sorted({t for s in must_not for t in analyze(s)}))
    score_t = sorted(set(must_t) | set(should_t))
    if not score_t:
        return f"SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score FROM {table} WHERE 1=0"
    if must_t:
        in_must = ", ".join(f"'{t}'" for t in must_t)
        match = (
            f"SELECT doc_id FROM tf WHERE term IN ({in_must}) "
            f"GROUP BY doc_id HAVING count(DISTINCT term) = {len(must_t)}"
        )
    else:
        in_score = ", ".join(f"'{t}'" for t in _checked_terms(score_t))
        match = f"SELECT DISTINCT doc_id FROM tf WHERE term IN ({in_score})"
    if not_t:
        in_not = ", ".join(f"'{t}'" for t in not_t)
        match = (
            f"SELECT doc_id FROM ({match}) WHERE doc_id NOT IN "
            f"(SELECT DISTINCT doc_id FROM tf WHERE term IN ({in_not}))"
        )
    return _bm25_restricted_sql(score_t, match, top_k, table, k1, b)


# ----------------------------------------------------- positional index


def build_positional_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = TERM_BUCKETS,
    **index_kwargs,
) -> DataFrame:
    """The positional index: the main compressed index format plus the
    ``poss`` column — :func:`compressed_index.build_compressed_index`
    with ``positions=True`` (same encoder, salting, df and bucket
    layout). ``index_kwargs`` pass through (``stats``, ``hot``, ...)."""
    return build_compressed_index(
        docs, id_col, text_col, buckets=buckets, positions=True, **index_kwargs
    )


def write_positional_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = TERM_BUCKETS,
) -> dict:
    """Persist postings (:func:`compressed_index.write_index`) + the
    doclens sidecar + stats.json — same layout contract as the main
    index dir so serving code treats both uniformly.

    The doclens sidecar and the Zipf-head salting sample are independent
    jobs — run concurrently (one thread each) so the sample's tasks
    back-fill the doclens job's tail, then encode+write once with the
    sampled hot set (same overlap recipe as build_index_resumable)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_hot = pool.submit(sample_hot_terms, tf_doclen(docs, id_col, text_col))
        stats = write_doclens(docs, f"{path}/doclens", id_col, text_col)
        hot = f_hot.result()

    idx = build_positional_index(
        docs, id_col, text_col, buckets,
        stats=(stats["n_docs"], stats["avgdl"]), hot=hot,
    )
    write_index(idx, f"{path}/postings")
    # the index dir is self-describing: serving reads the bucket count it
    # was WRITTEN with, so a caller can never prune with a mismatched
    # modulus (which would silently drop postings)
    stats = {**stats, "buckets": buckets}
    fsio.write_text(fsio.join(path, "stats.json"), json.dumps(stats), docs.sparkSession)
    return stats


def _snapshot(spark: SparkSession, index_dir: str) -> IndexSnapshot:
    """The positional index's current snapshot: one stats.json
    freshness stat per request, the relations and norms built once per
    generation. Streamed segments carry no ``poss``, so a dir of several
    segments is refused."""
    snap = snapshot(spark, index_dir)
    if len(snap.segments) > 1:
        raise ValueError(
            f"{index_dir} has {len(snap.segments)} segments; positional "
            "queries need one (compact it first)"
        )
    return snap


def _load_posts(
    snap: IndexSnapshot, uterms: Sequence[str], with_positions: bool = True
) -> DataFrame:
    """The terms' pruned postings (:meth:`IndexSnapshot.pruned`) decoded
    executor-side by the one cluster decoder. ``with_positions=False``
    decodes only doc_ids + tfs (and never reads the positions column)."""
    return decode_index_df(snap.pruned(uterms), positions=with_positions)


def _scored_from_tfs(
    snap: IndexSnapshot,
    tf: DataFrame,
    matched: DataFrame | None,
    top_k: int,
    k1: float,
    b: float,
    score_terms: Sequence[str] | None = None,
) -> DataFrame:
    """BM25 over ``(term, df, doc_id, tf)`` rows with the index's exact
    df, the doclens sidecar, and ``snap``'s corpus stats, optionally
    restricted (left-semi) to ``matched`` doc_ids — the one scoring tail
    every cluster-side indexed query shape funnels into.

    When the caller's term set is DRIVER-KNOWN (``score_terms``), the
    ascending-term float64 fold is computed as a slot-indexed codegen
    HashAggregate (max-per-slot, then an ordered add where a missing
    slot contributes +0.0 — bit-identical to the sorted fold over
    nonnegative contributions). Expansion shapes (prefix/wildcard/fuzzy)
    keep the generic collect_list fold — their terms live in the plan."""
    from .bm25 import bm25_contrib_expr

    contrib = bm25_contrib_expr("tf", "df", "doc_len", snap.n_docs, snap.avgdl, k1, b)
    contribs = tf.join(snap.doclens, "doc_id").select("doc_id", "term", contrib.alias("contrib"))
    if matched is not None:
        contribs = contribs.join(matched, "doc_id", "left_semi")
    if score_terms:
        from .bm25 import slot_fold

        uterms = sorted(set(score_terms))
        slot = F.create_map(
            *[x for i, t in enumerate(uterms) for x in (F.lit(t), F.lit(i))]
        )
        rows = contribs.withColumn("_slot", F.element_at(slot, F.col("term")))
        scored = slot_fold(rows, ["doc_id"], len(uterms))
    else:
        scored = sum_in_term_order(contribs)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)


# ------------------------------------------- phrase, slop, near: serving


#: the single-query score shapes' output columns
SCORE_COLUMNS = (("doc_id", "long"), ("score", "double"))


class PositionalQuery(NamedTuple):
    """One positional match over the index. ``kind`` is 'phrase' (the
    slots at consecutive positions), 'slop' (the slots in order inside a
    span of ``window`` positions) or 'near' (every term inside a span of
    ``window`` positions, in any order). ``terms`` are the phrase's slots
    in order, or near's sorted distinct terms; empty when the text
    analyzes to nothing. Matches are scored with BM25 over the distinct
    terms."""

    kind: str
    terms: tuple
    window: int


def phrase_query(phrase: str) -> PositionalQuery:
    """The exact phrase: :func:`phrase_topk`'s match."""
    slots = tuple(phrase_terms(phrase))
    return PositionalQuery("phrase", slots, len(slots))


def slop_query(phrase: str, slop: int = 0) -> PositionalQuery:
    """The phrase in order within ``len(slots) + slop`` positions:
    :func:`phrase_slop_topk`'s match."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    slots = tuple(phrase_terms(phrase))
    return PositionalQuery("slop", slots, len(slots) + slop)


def near_query(question: str, window: int) -> PositionalQuery:
    """Every analyzed term within ``window`` positions, any order:
    :func:`near_topk`'s match."""
    if window < 1:
        raise ValueError("window must be >= 1")
    return PositionalQuery("near", tuple(sorted(set(analyze(question)))), window)


def _cluster_topk(
    snap: IndexSnapshot,
    query: PositionalQuery,
    top_k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """The scale path and the driver kernel's twin: executor-side decode
    of the pruned scan, the relational form's shared matcher over the
    decoded ``(doc_id, pos, term)`` occurrences, then BM25 from a tf-only
    re-read of the same postings (the positional decode is never consumed
    twice)."""
    uterms = sorted(set(query.terms))
    posts = _load_posts(snap, uterms)
    occ = posts.select("term", "doc_id", F.explode("positions").alias("pos"))
    if query.kind == "phrase":
        matched = _anchor_match(occ, query.terms, distinct=False)
    elif query.kind == "slop":
        matched = _ordered_chain_match(occ, query.terms, query.window, distinct=False)
    else:
        matched = _min_cover_match(occ, uterms, query.window, distinct=False)
    tf = _load_posts(snap, uterms, with_positions=False)
    return _scored_from_tfs(snap, tf, matched, top_k, k1, b, score_terms=uterms)


def _member(sorted_keys: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Which of ``q`` occur in ``sorted_keys`` (ascending, non-empty)."""
    i = np.searchsorted(sorted_keys, q)
    np.minimum(i, sorted_keys.size - 1, out=i)
    return sorted_keys[i] == q


def _decode_term(segs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One term's ``(doc_ids, tfs, positions)``, every segment decoded
    once: positions are flat, ``tfs[i]`` of them for posting ``i``.
    Salted segments hold disjoint doc-id ranges, so ordering them by
    ``max_doc`` makes the concatenation ascending."""
    ids, tfs, pos = [], [], []
    for r in sorted(segs, key=lambda r: r["max_doc"]):
        i, t = decode_postings(
            gaps=bytes(r["gaps"]), tfs=bytes(r["tfs"]), n=int(r["n"]),
            skips=bytes(r["skips"]), block_size=int(r["block_size"]),
        )
        ids.append(i)
        tfs.append(t)
        pos.append(decode_positions(bytes(r["poss"]), t))
    return np.concatenate(ids), np.concatenate(tfs), np.concatenate(pos)


def _match_docs(post: dict, query: PositionalQuery) -> np.ndarray | None:
    """Sorted doc ids matching ``query`` over decoded ``post`` (term ->
    :func:`_decode_term`), or None when the packed keys could overflow.

    Only docs holding every term can match. Each occurrence there becomes
    the int64 key ``rank(doc) * W + pos + m``, where ``rank`` indexes the
    sorted candidate docs (so negative and sparse ids pack densely), ``m``
    is the slot count and ``W = max_pos + m + 1``: a doc's keys, and its
    phrase anchors ``key - slot``, stay inside ``[rank * W, rank * W + W)``
    and ascend with the position. The matchers are numpy twins of the
    Catalyst ones:

    * phrase — :func:`_anchor_match`: the anchors common to every slot;
    * slop — :func:`_ordered_chain_match`'s greedy chain: from each
      first-slot key, the next slot's first key above the previous one,
      kept while it is in the same doc within the window;
    * near — :func:`_min_cover_match`'s running max: at each occurrence,
      every term's last key at or before it, all in the same doc, spanning
      at most the window."""
    uterms = sorted(set(query.terms))
    cand = min((post[t][0] for t in uterms), key=len)
    for t in uterms:
        cand = cand[_member(post[t][0], cand)]
    if cand.size == 0:
        return cand
    m = len(query.terms)
    occ = {}
    for t in uterms:
        ids, tfs, pos = post[t]
        keep = _member(cand, ids)
        occ[t] = (np.repeat(np.searchsorted(cand, ids[keep]), tfs[keep]),
                  pos[np.repeat(keep, tfs)])
    w = max(int(p.max()) for _, p in occ.values()) + m + 1
    if cand.size * w >= 1 << 62:
        return None
    keys = {t: rank * w + p + m for t, (rank, p) in occ.items()}

    if query.kind == "phrase":
        anchors = sorted((keys[t] - j for j, t in enumerate(query.terms)), key=len)
        hit = anchors[0]
        for a in anchors[1:]:
            hit = hit[_member(a, hit)]
    elif query.kind == "slop":
        hit = prev = keys[query.terms[0]]
        for t in query.terms[1:]:
            k = keys[t]
            i = np.searchsorted(k, prev, side="right")
            nxt = k[np.minimum(i, k.size - 1)]
            ok = (i < k.size) & (nxt // w == hit // w) & (nxt <= hit + query.window - 1)
            hit, prev = hit[ok], nxt[ok]
    else:
        q = np.concatenate(list(keys.values()))
        ok = np.ones(q.size, dtype=bool)
        least = q
        for k in keys.values():
            i = np.searchsorted(k, q, side="right") - 1
            last = k[np.maximum(i, 0)]
            ok &= (i >= 0) & (last // w == q // w)
            least = np.minimum(least, last)
        hit = q[ok & (q - least <= query.window - 1)]
    return cand[np.unique(hit // w)]


def _decode_charge(rows) -> int:
    """The driver bytes :func:`_driver_topk` may hold for the collected
    ``rows``, charged before any decode: 96 per ``poss`` byte and 32 per
    posting. Each position takes at least one byte; the decoded positions,
    ``varbyte_decode``'s per-byte int64 arrays, :func:`decode_positions`'
    cumsums and :func:`_match_docs`' packed keys peaked at 37–82 bytes per
    position under ``tracemalloc`` (near is the widest matcher, phrase
    and slop stay under 50). Per posting, the decoded ids and tfs keep 16
    bytes and the block decode's transients add less than as much."""
    return sum(96 * len(r["poss"]) + 32 * int(r["n"]) for r in rows)


def _driver_topk(
    snap: IndexSnapshot,
    query: PositionalQuery,
    top_k: int,
    k1: float,
    b: float,
) -> list[tuple[int, float]] | None:
    """``query``'s top-k on the driver from ONE pruned read
    (:meth:`IndexSnapshot.rows`): the terms' raw rows (kernel columns
    plus ``poss``) are fetched, decoded once, matched by
    :func:`_match_docs`, and the matched docs scored with
    :func:`bm25.idf`/:func:`bm25.impacts` and folded by
    :func:`accumulate_topk` in ascending-term order — ``==`` to the
    cluster plan's slot fold. No Python worker, shuffle or decode UDF runs.

    The decode and match (:func:`_decode_charge`) are charged against
    ``DEFAULT_PRELOAD_BUDGET_BYTES`` before any decode, the norms against
    what is left. Returns None, the cue to run :func:`_cluster_topk`,
    over budget or when the packed match keys could overflow."""
    uterms = sorted(set(query.terms))
    if not uterms:
        return []
    rows = snap.rows(uterms, (*KERNEL_COLUMNS, "poss"))
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    if len(by_term) < len(uterms):  # a term absent from the index matches no doc
        return []
    budget = DEFAULT_PRELOAD_BUDGET_BYTES
    try:
        spent = charge_preload(
            _decode_charge(rows), f"decoded postings and positions of {uterms}", budget
        )
        doclen = snap.norms(budget - spent)
    except PreloadBudgetExceeded:
        return None
    post = {t: _decode_term(by_term[t]) for t in uterms}
    matched = _match_docs(post, query)
    if matched is None:
        return None
    if not matched.size:
        return []
    per_term = []
    for t in uterms:
        ids, tfs, _ = post[t]
        keep = _member(matched, ids)
        ids, tfs = ids[keep], tfs[keep].astype(np.float64)
        idf = bm25.idf(int(by_term[t][0]["df"]), snap.n_docs)
        per_term.append(
            (ids, bm25.impacts(idf, tfs, doc_lens(doclen, ids), snap.avgdl, k1, b))
        )
    return accumulate_topk(per_term, top_k)


def positional_topk(
    spark: SparkSession,
    index_dir: str,
    query: PositionalQuery,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> list[tuple[int, float]]:
    """``query``'s top-k ``(doc_id, score)`` from the positional index,
    ranked (score desc, doc_id asc): the driver kernel, or the cluster
    plan's collected rows when the driver path declines."""
    snap = _snapshot(spark, index_dir)
    hits = _driver_topk(snap, query, top_k, k1, b)
    if hits is None:
        rows = _cluster_topk(snap, query, top_k, k1, b).collect()
        hits = [(int(r["doc_id"]), float(r["score"])) for r in rows]
    return hits


def _positional_frame(
    spark: SparkSession,
    index_dir: str,
    query: PositionalQuery,
    top_k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """:func:`positional_topk` as a DataFrame: the driver kernel's rows
    as a JVM ``LocalTableScan``, else the cluster plan itself."""
    snap = _snapshot(spark, index_dir)
    hits = _driver_topk(snap, query, top_k, k1, b)
    if hits is None:
        return _cluster_topk(snap, query, top_k, k1, b)
    return _local_frame(spark, hits, SCORE_COLUMNS)


def phrase_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """:func:`phrase_topk` served from the persisted positional index —
    identical results by construction (pinned by pytest + the shared
    DuckDB twin). The bucket modulus comes from the index's own
    stats.json, never from the caller. See :func:`positional_topk`."""
    return _positional_frame(spark, index_dir, phrase_query(phrase), top_k, k1, b)


def near_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    question: str,
    window: int,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """:func:`near_topk` served from the persisted positional index."""
    return _positional_frame(
        spark, index_dir, near_query(question, window), top_k, k1, b
    )


def phrase_slop_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    slop: int = 0,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """:func:`phrase_slop_topk` served from the persisted positional
    index."""
    return _positional_frame(spark, index_dir, slop_query(phrase, slop), top_k, k1, b)


def _vocab_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    term_pred,
    top_k: int,
    k1: float,
    b: float,
    max_expansions: int | None,
) -> DataFrame:
    """Indexed twin of :func:`_expanded_topk`: the vocabulary predicate
    filters the postings DICTIONARY columns (term, df) directly — no
    driver-side term collect, no bucket math (a predicate doesn't map to
    a hash bucket). Postings files are term-sorted in-file, so a prefix
    predicate prunes row groups via Parquet min/max stats; the
    positions column is never read (tf-only decode), and only matched
    rows' gaps/tfs binaries decode.

    ``max_expansions`` keeps the HIGHEST-df expanded terms (ties term
    asc) exactly like the relational rewrite — computed as a distinct
    (term, df) top-k and broadcast-semi-joined back, never collected."""
    if max_expansions is not None and max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    snap = _snapshot(spark, index_dir)
    raw = snap.postings.filter(term_pred)
    if max_expansions is not None:
        top_terms = (
            raw.select("term", "df")
            .distinct()
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term")
        )
        raw = raw.join(F.broadcast(top_terms), "term", "left_semi")
    tf = decode_index_df(raw)
    return _scored_from_tfs(snap, tf, None, top_k, k1, b)


def prefix_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """:func:`prefix_topk` served from the persisted positional index —
    ``startswith`` pushes to the term-sorted postings scan as a
    contiguous row-group range."""
    p = prefix.lower()
    if not _TOKEN_OK.match(p):
        raise ValueError(f"prefix must be a plain analyzer token: {prefix!r}")
    return _vocab_topk_indexed(
        spark, index_dir, F.col("term").startswith(p), top_k, k1, b,
        max_expansions,
    )


def wildcard_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """:func:`wildcard_topk` from the persisted index. A leading ``*``
    scans the whole dictionary (no row-group prune) but still only the
    (term, df) columns — the positions payload is never read."""
    p = pattern.lower()
    if not _WILDCARD_OK.match(p) or set(p) == {"*"}:
        raise ValueError(f"pattern must be analyzer chars + '*': {pattern!r}")
    return _vocab_topk_indexed(
        spark, index_dir, F.col("term").like(p.replace("*", "%")), top_k,
        k1, b, max_expansions,
    )


def fuzzy_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    term: str,
    max_edits: int = 1,
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
    max_expansions: int | None = None,
) -> DataFrame:
    """:func:`fuzzy_topk` from the persisted index (same
    script-consistent expansion predicate over the dictionary)."""
    q = term.lower()
    if not _TOKEN_OK.match(q):
        raise ValueError(f"fuzzy term must be a plain analyzer token: {term!r}")
    if max_edits < 0:
        raise ValueError("max_edits must be >= 0")
    return _vocab_topk_indexed(
        spark, index_dir, _fuzzy_pred(q, max_edits), top_k, k1, b,
        max_expansions,
    )


def bool_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    must: Sequence[str] = (),
    should: Sequence[str] = (),
    must_not: Sequence[str] = (),
    top_k: int = DEFAULT_TOP_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """:func:`bool_topk` served from the persisted positional index.
    TWO bucket-pruned tf-only scans total: one single-aggregation match
    pass folding all three clauses (:func:`_bool_match_ids`), one
    scoring pass over the must+should terms."""
    must_t, score_t, not_t = _bool_clauses(must, should, must_not)
    if not score_t:
        return spark.createDataFrame([], "doc_id long, score double")
    all_t = sorted(set(score_t) | set(not_t))
    snap = _snapshot(spark, index_dir)
    tf = _load_posts(snap, all_t, with_positions=False)
    match = _bool_match_ids(tf, must_t, score_t, not_t)
    score_tf = tf.filter(F.col("term").isin(score_t))
    return _scored_from_tfs(snap, score_tf, match, top_k, k1, b, score_terms=score_t)
