"""BM25F — field-weighted BM25 over multi-field documents.

The reference queries its engine with ``searchField: [title, content]``
(reference: modules/mrc_service/search_functions.py:92-95); concatenating
fields (index_build.combine_search_fields) preserves the no-boost contract
but cannot express field weights. This operator implements the standard
simple-BM25F variant (shared length normalization):

    wtf(t, d)  = Σ_f  w_f * tf_f(t, d)        (weighted term frequency)
    wdl(d)     = Σ_f  w_f * len_f(d)          (weighted doc length)
    avg_wdl    = avg_d wdl(d)
    df(t)      = |{d : wtf(t, d) > 0}|        (any-field presence)
    score(t,d) = idf(t) * wtf * (k1 + 1) / (wtf + k1 * (1 - b + b * wdl/avg_wdl))

with the same Okapi idf and (k1, b) as the single-field scorer. With unit
weights over one field this reduces EXACTLY to plain BM25 (pinned by
pytest). Use dyadic weights (1.0, 2.0, 0.5 ...) when bit-equality across
engines matters: w_f * tf_f is then exactly representable and the per-doc
sum is order-independent in float64.

Plan shape: one tokenize+explode scan per field unioned (the fields of a
row are columns of the SAME scan — Catalyst collapses this to one pass),
one (term, doc_id) aggregation shuffle, broadcast df/stats joins, top-k as
TakeOrderedAndProject. Same scale posture as bm25_brute_force.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import BM25_B, BM25_K1, DEFAULT_TOP_K
from ..functions.analyzer import analyze, tokenize_expr
from .bm25 import bm25_contrib_expr


def _toks(field: str):
    """Null-safe field tokenization: a NULL field contributes an EMPTY
    token list (size 0), not NULL (size -1, which would poison the
    weighted doc length)."""
    return F.coalesce(tokenize_expr(field), F.array().cast("array<string>"))


def bm25f_brute_force(
    docs: DataFrame,
    question: str,
    fields: Mapping[str, float],
    top_k: int = DEFAULT_TOP_K,
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k ``(doc_id, score)`` under BM25F; ties (score desc, doc_id asc).

    ``fields``: column name -> weight, e.g. ``{"title": 2.0, "content": 1.0}``.
    """
    qterms = sorted(set(analyze(question)))
    if not qterms:
        return docs.sparkSession.createDataFrame([], "doc_id long, score double")
    names = sorted(fields)

    # weighted tf: per-field counts -> Σ w_f * tf_f (fixed field order).
    # All fields tokenize inside ONE struct-array explode over ONE scan —
    # a per-field union would re-read the table once per field at scale.
    field_toks = F.array(
        *[
            F.struct(F.lit(n).alias("field"), _toks(n).alias("toks"))
            for n in names
        ]
    )
    per_field = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(field_toks).alias("ft"))
        .select("doc_id", F.col("ft.field").alias("field"), F.explode("ft.toks").alias("term"))
        .filter(F.col("term").isin(qterms))
    )
    ftf = per_field.groupBy("term", "doc_id", "field").agg(
        F.count(F.lit(1)).alias("tf")
    )
    w_map = F.create_map(*[F.lit(x) for n in names for x in (n, float(fields[n]))])
    wtf = ftf.groupBy("term", "doc_id").agg(
        F.sum(F.element_at(w_map, F.col("field")) * F.col("tf")).alias("wtf")
    )

    # weighted doc length: single fixed-order expression over one scan
    wdl_expr = None
    for f_name in names:
        piece = F.lit(float(fields[f_name])) * F.size(_toks(f_name)).cast("double")
        wdl_expr = piece if wdl_expr is None else (wdl_expr + piece)
    wdl = docs.select(F.col(id_col).alias("doc_id"), wdl_expr.alias("wdl"))
    stats = wdl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("wdl").alias("avg_wdl")
    )

    # df as a window over the aggregated (term, doc) rows — a separate
    # dfreq aggregate would re-scan the input a third time
    from pyspark.sql import Window

    wtf = wtf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    joined = wtf.join(wdl, "doc_id").crossJoin(F.broadcast(stats))
    contrib = bm25_contrib_expr(
        "wtf", "df", "wdl", F.col("n_docs"), F.col("avg_wdl"), k1, b
    )
    scored = (
        joined.select("doc_id", "term", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("score")
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)


def bm25f_oracle_sql(
    question: str,
    field_exprs: Mapping[str, str],
    weights: Mapping[str, float],
    top_k: int = DEFAULT_TOP_K,
    table: str = "documents",
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_to: int = 4,
) -> str:
    """DuckDB twin. ``field_exprs``: field name -> SQL expression yielding
    that field's text from ``table`` (so derived fields work)."""
    qterms = sorted(set(analyze(question)))
    terms_sql = ", ".join(f"'{t}'" for t in qterms)
    names = sorted(field_exprs)
    tok_unions = " UNION ALL ".join(
        f"SELECT doc_id, unnest(regexp_extract_all(lower({field_exprs[n]}), "
        f"'[a-z0-9가-힣]+')) AS term, '{n}' AS field FROM {table}"
        for n in names
    )
    w_case = "CASE " + " ".join(
        f"WHEN field = '{n}' THEN {float(weights[n])}" for n in names
    ) + " END"
    wdl_expr = " + ".join(
        f"{float(weights[n])} * len(regexp_extract_all(lower({field_exprs[n]}), '[a-z0-9가-힣]+'))"
        for n in names
    )
    return f"""
WITH toks AS ({tok_unions}),
ftf AS (SELECT term, doc_id, field, count(*) AS tf FROM toks
        WHERE term IN ({terms_sql}) GROUP BY 1, 2, 3),
wtf AS (SELECT term, doc_id, sum(({w_case}) * tf) AS wtf FROM ftf GROUP BY 1, 2),
wdl AS (SELECT doc_id, {wdl_expr} AS wdl FROM {table}),
stats AS (SELECT count(*) AS n_docs, avg(wdl) AS avg_wdl FROM wdl),
dfreq AS (SELECT term, count(*) AS df FROM wtf GROUP BY 1),
contrib AS (
  SELECT wtf.doc_id,
         ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * wtf.wtf * ({k1} + 1)
           / (wtf.wtf + {k1} * (1 - {b} + {b} * wdl.wdl / stats.avg_wdl)) AS c
  FROM wtf
  JOIN dfreq ON wtf.term = dfreq.term
  JOIN wdl ON wtf.doc_id = wdl.doc_id
  CROSS JOIN stats
)
SELECT doc_id, round(sum(c), {round_to}) AS score
FROM contrib GROUP BY doc_id
ORDER BY sum(c) DESC, doc_id ASC
LIMIT {top_k}
"""
