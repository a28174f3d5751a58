"""BM25 scoring — brute-force DataFrame oracle.

The reference requests ``"similarity": "bm25"`` with engine defaults
(reference: modules/mrc_service/search_functions.py:91) and sorts answers
globally by score desc with stable tie order, truncated to top_k
(reference: modules/mrc_service/server.py:94-95). We pin Okapi/Lucene BM25:

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(t, d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

with k1=1.2, b=0.75 (constants.py). Tie-break is (score desc, doc_id asc),
matching the reference's stable sort (server.py:94 — Python sorted is
stable over ascending doc order).

This scorer is the ORACLE for the block-max WAND engine
(operators/wand.py): to make float64 score equality exact (not approximate)
it sums per-term contributions in sorted-term order via a deterministic
array fold rather than a shuffle-order-dependent SUM.

Scale posture: the query side is a handful of terms — always broadcast; the
per-term contribution join is tf ⋈ df ⋈ doclen; top-k plans as
TakeOrderedAndProject (no global sort materialization).

The formula lives here twice and nowhere else: as Catalyst Columns
(:func:`idf_expr`, :func:`bm25_contrib_expr`) for the relational plans,
and as their driver twin (:func:`idf`, :func:`impacts`) for the WAND and
dense kernels, the index encoders and the streaming bounds. The twin is
``==`` to the JVM, not merely close: Spark's ``Log`` evaluates
``StrictMath.log`` (fdlibm ``__ieee754_log``), whose last bit differs
from libm's and numpy's ``log`` on about 23% of idf arguments, so
:func:`idf` runs a pure-Python port of fdlibm instead; :func:`impacts`
keeps the operation order Catalyst evaluates ``bm25_contrib_expr`` in.
"""

from __future__ import annotations

import functools
import struct
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import BM25_B, BM25_K1, DEFAULT_TOP_K
from ..functions.analyzer import analyze


_LN2_HI = 6.93147180369123816490e-01
_LN2_LO = 1.90821492927058770002e-10
_LG1 = 6.666666666666735130e-01
_LG2 = 3.999999999940941908e-01
_LG3 = 2.857142874366239149e-01
_LG4 = 2.222219843214978396e-01
_LG5 = 1.818357216161805012e-01
_LG6 = 1.531383769920937332e-01
_LG7 = 1.479819860511658591e-01


def _strict_log(x: float) -> float:
    """fdlibm ``e_log.c`` ``__ieee754_log`` — what ``StrictMath.log``
    and so Spark's ``log`` compute — for positive, normal, finite ``x``
    (every idf argument; the zero, negative, subnormal and inf branches
    are left out)."""
    bits = struct.unpack("<q", struct.pack("<d", x))[0]
    hx, lx = bits >> 32, bits & 0xFFFFFFFF
    k = (hx >> 20) - 1023
    hx &= 0x000FFFFF
    i = (hx + 0x95F64) & 0x100000
    # normalize x or x/2 into [sqrt(2)/2, sqrt(2))
    x = struct.unpack("<d", struct.pack("<q", ((hx | (i ^ 0x3FF00000)) << 32) | lx))[0]
    k += i >> 20
    f = x - 1.0
    dk = float(k)
    if (0x000FFFFF & (2 + hx)) < 3:  # |f| < 2**-20
        if f == 0.0:
            return 0.0 if k == 0 else dk * _LN2_HI + dk * _LN2_LO
        r = f * f * (0.5 - 0.33333333333333333 * f)
        return f - r if k == 0 else dk * _LN2_HI - ((r - dk * _LN2_LO) - f)
    s = f / (2.0 + f)
    z = s * s
    w = z * z
    t1 = w * (_LG2 + w * (_LG4 + w * _LG6))
    t2 = z * (_LG1 + w * (_LG3 + w * (_LG5 + w * _LG7)))
    r = t2 + t1
    if ((hx - 0x6147A) | (0x6B851 - hx)) > 0:
        hfsq = 0.5 * f * f
        if k == 0:
            return f - (hfsq - s * (hfsq + r))
        return dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO)) - f)
    if k == 0:
        return f - s * (f - r)
    return dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f)


def idf(df: int, n_docs: int) -> float:
    """Driver twin of :func:`idf_expr`, ``==`` to Spark's value."""
    return _strict_log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def impacts(idf, x, dl, avgdl, k1=BM25_K1, b=BM25_B):
    """Driver twin of :func:`bm25_contrib_expr` over scalars or numpy
    arrays: ``x`` is tf (or BM25F's weighted tf), ``dl`` the (weighted)
    doc length. The operation order is Catalyst's, so results are
    ``==`` to the relational plans."""
    return idf * x * (k1 + 1.0) / (x + k1 * ((1.0 - b) + (b * dl) / avgdl))


def idf_expr(df_col, n_docs_col):
    """Lucene-style nonnegative BM25 idf."""
    df_ = F.col(df_col) if isinstance(df_col, str) else df_col
    n = F.col(n_docs_col) if isinstance(n_docs_col, str) else n_docs_col
    return F.log(F.lit(1.0) + (n - df_ + F.lit(0.5)) / (df_ + F.lit(0.5)))


def bm25_contrib_expr(x, df_col, dlen, n_docs, avgdl, k1=BM25_K1, b=BM25_B):
    """The BM25 per-(doc, term) contribution as a Catalyst Column:

        idf(df, N) * x * (k1+1) / (x + k1 * (1 - b + b * dlen/avgdl))

    ``x`` is raw tf for single-field BM25 or the weighted tf sum for
    BM25F; ``dlen`` likewise plain/weighted doc length. ``n_docs`` /
    ``avgdl`` accept python scalars (index-sidecar serving) or Columns
    (in-plan stats cross-join). Shared by every relational scoring plan
    (plans/query.py, streaming/incremental.py, operators/fielded_index.py,
    operators/positional.py, operators/bm25f.py) so the bit-parity-critical
    float64 expression exists exactly once; :func:`impacts` is its driver
    twin."""
    x = F.col(x) if isinstance(x, str) else x
    dlen = F.col(dlen) if isinstance(dlen, str) else dlen
    n_docs = n_docs if isinstance(n_docs, Column) else F.lit(n_docs)
    avgdl = avgdl if isinstance(avgdl, Column) else F.lit(float(avgdl))
    x = x.cast("double")
    norm = x + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dlen / avgdl)
    return idf_expr(df_col, n_docs) * x * F.lit(k1 + 1.0) / norm


def score_fold(contribs: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Fold per-term ``contrib`` rows into a ``score`` per key group by
    summing in ASCENDING-TERM float64 order (array_sort on (term,
    contrib) structs, then a deterministic fold) — the order the
    brute-force oracle uses, making engine scores bit-identical rather
    than shuffle-order-dependent. Input needs columns (*keys, term,
    contrib)."""
    return contribs.groupBy(*keys).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0),
            lambda acc, s: acc + s["contrib"],
        ).alias("score")
    )


def slot_fold(
    frame: DataFrame,
    keys: Sequence[str],
    n_slots: int,
    slot_col: str = "_slot",
    contrib_col: str = "contrib",
) -> DataFrame:
    """Per-``keys`` score from slotted contributions, summed in SLOT
    order — the codegen-HashAggregate twin of :func:`score_fold` for the
    case where the term set is driver-known: slot i = the term's index
    in the set's ascending order. Sum-per-slot then an ordered add where
    a missing slot contributes ``+0.0`` is bit-identical to the sorted
    collect_list fold for nonnegative contributions with one row per
    (keys, slot) (IEEE: 0.0 + x == x, x + 0.0 == x); duplicate rows of a
    slot are summed, as :func:`score_fold` sums duplicate terms, never
    dropped. The ONE shared copy of this parity-critical fold —
    positional serving and the batch relational scorer must not drift
    apart."""
    g = frame.groupBy(*keys).agg(
        *[
            F.sum(F.when(F.col(slot_col) == i, F.col(contrib_col))).alias(f"_c{i}")
            for i in range(n_slots)
        ]
    )
    score = F.lit(0.0)
    for i in range(n_slots):
        score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
    return g.select(*keys, score.alias("score"))


def bm25_term_scores(
    tf: DataFrame,
    doclen: DataFrame,
    stats: DataFrame,
    query_terms: Sequence[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-(doc, term) BM25 contributions for the given query terms.

    ``(doc_id, term, contrib double)``. The term filter is an IN-list
    (pushable to the postings scan); stats is a 1-row broadcast cross join.
    """
    qterms = sorted(set(query_terms))
    dfreq = (
        tf.filter(F.col("term").isin(qterms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    hits = tf.filter(F.col("term").isin(qterms))
    joined = (
        hits.join(F.broadcast(dfreq), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    contrib = bm25_contrib_expr(
        "tf", "df", "doc_len", F.col("n_docs"), F.col("avgdl"), k1, b
    )
    return joined.select("doc_id", "term", contrib.alias("contrib"))


def sum_in_term_order(contribs: DataFrame) -> DataFrame:
    """Fold per-term contributions in sorted-term order -> ``(doc_id, score)``.

    Deterministic float64 summation order (ascending term), so the WAND
    scorer can match scores exactly by summing in the same order.
    """
    return contribs.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score")
    )


def bm25_brute_force(
    docs: DataFrame,
    question: str,
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """End-to-end oracle: analyze the question, score every matching doc,
    return top-k ``(doc_id, score)`` with (score desc, doc_id asc) ties.

    The query's term set is a handful of literals, so per-doc tfs are
    per-row ARRAY expressions over one tokenize (``size(filter(tokens,
    t))``) — no explode, no (term, doc_id) shuffle, no doclen join. The
    whole plan is two tokenize scans (one for the per-doc tf/doc_len
    row, one for the 1-row corpus stats broadcast) and a
    TakeOrderedAndProject; the r5 shape was four tokenize scans plus
    five exchanges (guide §2.3/§2.4: remove shuffles outright).

    Float64 parity with the old fold is exact: contributions accumulate
    in ascending-term order and a tf=0 term contributes +0.0 (idf * 0 /
    positive), which leaves an IEEE sum bit-unchanged — pinned by the
    WAND rank/score-identity tests and the DuckDB oracle.
    """
    return bm25_topk_for_terms(
        docs, sorted(set(analyze(question))), top_k, id_col, text_col, k1, b
    )


def bm25_topk_for_terms(
    docs: DataFrame,
    qterms: Sequence[str],
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
    exclude_doc_id: int | None = None,
) -> DataFrame:
    """:func:`bm25_brute_force`'s plan for an explicit SORTED term list
    (shared with more-like-this, whose terms come from tf-idf selection
    rather than a question). ``exclude_doc_id`` drops one document
    before the top-k (MLT excludes its source)."""
    qterms = sorted(set(qterms))
    if not qterms:
        return docs.sparkSession.createDataFrame([], "doc_id long, score double")

    from ..functions.analyzer import tokenize_expr

    tk = tokenize_expr(text_col)

    def eq(term):
        # unary closure: a `lambda x, t=t` 2-arg form would be read by
        # pyspark as the (element, index) lambda variant
        return lambda x: x == F.lit(term)

    # presence tests are array_contains — codegen'd and stopping at the
    # first hit, where the tf array-filter lambdas are interpreted
    # expressions; keeping the match filter BELOW the tf projection
    # means the interpreted filters only ever run for matching docs
    any_term = functools.reduce(
        lambda a, b: a | b, [F.array_contains("_tk", t) for t in qterms]
    )
    toks = docs.select(F.col(id_col).alias("doc_id"), tk.alias("_tk"))
    matched = toks.filter(any_term).select(
        "doc_id",
        F.size("_tk").cast("long").alias("doc_len"),
        *[
            F.size(F.filter("_tk", eq(t))).cast("long").alias(f"_tf{i}")
            for i, t in enumerate(qterms)
        ],
    )
    stats_src = docs.select(
        F.size(tk).cast("long").alias("doc_len"),
        *[
            F.array_contains(tk, t).cast("long").alias(f"_in{i}")
            for i, t in enumerate(qterms)
        ],
    )
    stats = stats_src.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        *[F.sum(f"_in{i}").alias(f"_df{i}") for i in range(len(qterms))],
    )
    if exclude_doc_id is not None:
        matched = matched.filter(F.col("doc_id") != exclude_doc_id)
    joined = matched.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(qterms)):
        score = score + bm25_contrib_expr(
            f"_tf{i}", f"_df{i}", "doc_len", F.col("n_docs"), F.col("avgdl"), k1, b
        )
    scored = joined.select("doc_id", score.alias("score"))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)


def bm25_oracle_sql(
    question: str,
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_to: int = 4,
) -> str:
    """The SAME query as ANSI SQL for the DuckDB correctness harness."""
    qterms = sorted(set(analyze(question)))
    terms_sql = ", ".join(f"'{t}'" for t in qterms)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9가-힣]+')) AS term
  FROM {table}
),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9가-힣]+')) AS doc_len FROM {table}),
stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf WHERE term IN ({terms_sql}) GROUP BY 1),
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
)
SELECT doc_id, round(sum(c), {round_to}) AS score
FROM contrib
GROUP BY doc_id
ORDER BY sum(c) DESC, doc_id ASC
LIMIT {top_k}
"""
