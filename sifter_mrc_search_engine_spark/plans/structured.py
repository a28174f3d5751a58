"""Structured-query serving facade over the persisted positional index.

The reference's front door accepts only free-text questions
(reference: modules/mrc_service/server.py:54-103 routes a single
``question`` param; search_functions.py:82-97 builds one bool/should
match). The structured query family — phrase, slop, NEAR, prefix,
wildcard, fuzzy, boolean — is implemented in
:mod:`..operators.positional` with both a relational and an
index-served form; this module is the thin dispatch layer that makes
the INDEX-SERVED forms reachable from the HTTP front door with the same
validation conventions as the free-text route (400 on bad input, never
a dropped connection).

Phrase, slop and near requests call the list-returning
:func:`..operators.positional.positional_topk` directly: one pruned read
and the driver kernel (the cluster plan only past the driver budget),
with no result DataFrame to build and collect. On a local index the
read is in-process, so such a request starts no Spark job. The other
shapes collect their operator's plan.

Every request is a JSON object with a ``type`` discriminator; the knob
names match the operator signatures one-to-one so the HTTP surface and
the Python API never drift:

  {"type": "phrase",   "phrase": "...",            "top_k": 10}
  {"type": "slop",     "phrase": "...", "slop": 2}
  {"type": "near",     "question": "...", "window": 3}
  {"type": "prefix",   "prefix": "s",   "max_expansions": 100}
  {"type": "wildcard", "pattern": "qu*"}
  {"type": "fuzzy",    "term": "spark", "max_edits": 1}
  {"type": "bool",     "must": [...], "should": [...], "must_not": [...]}
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from ..constants import MAX_TOP_K
from ..operators import positional as P
from .service import ValidationError


def _as_str_list(v: Any, name: str) -> list[str]:
    if v is None:
        return []
    if not isinstance(v, (list, tuple)) or not all(isinstance(x, str) for x in v):
        raise ValidationError(f"{name} must be a list of strings")
    return list(v)


class StructuredSearchService:
    """Dispatches structured query dicts to the index-served operators.

    ``index_dir`` is a positional index written by
    :func:`..operators.positional.write_positional_index` — the main
    index format plus a ``poss`` column, so the same dir also serves
    plain BM25 through ``IndexSearcher``; results are
    ``{"hits": [{"doc_id": int, "score": float}, ...]}`` in engine rank
    order (score desc, doc_id asc — the repo-wide tie-break)."""

    #: type -> required string params (every element is validated as a
    #: non-empty string before dispatch)
    _SHAPES = {
        "phrase": ("phrase",),
        "slop": ("phrase",),
        "near": ("question",),
        "prefix": ("prefix",),
        "wildcard": ("pattern",),
        "fuzzy": ("term",),
        "bool": (),
    }

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir

    def _int(self, params: dict, key: str, default: int | None) -> int | None:
        # an explicit JSON null means "use the default" — returning None
        # for a knob whose default is an int would crash the operator's
        # range check with a TypeError instead of a 400
        v = params.get(key)
        if v is None:
            return default
        try:
            return int(v)
        except (TypeError, ValueError):
            raise ValidationError(f"{key} must be an integer")

    def search(self, params: dict) -> dict:
        if not isinstance(params, dict):
            raise ValidationError("request body must be a JSON object")
        qtype = params.get("type")
        if not isinstance(qtype, str) or qtype not in self._SHAPES:
            # isinstance first: an unhashable type value ([], {}) would
            # raise TypeError out of the `in` check instead of a 400
            raise ValidationError(
                f"type must be one of {sorted(self._SHAPES)}, got {qtype!r}"
            )
        for req in self._SHAPES[qtype]:
            if not isinstance(params.get(req), str) or not params[req].strip():
                raise ValidationError(f"{qtype} query requires a non-empty {req!r}")
        top_k = self._int(params, "top_k", MAX_TOP_K)
        if not (1 <= top_k <= MAX_TOP_K):
            raise ValidationError(f"top_k must be in [1, {MAX_TOP_K}]")

        spark, d = self.spark, self.index_dir
        query = out = None
        try:
            if qtype == "phrase":
                query = P.phrase_query(params["phrase"])
            elif qtype == "slop":
                query = P.slop_query(params["phrase"], self._int(params, "slop", 0))
            elif qtype == "near":
                query = P.near_query(params["question"], self._int(params, "window", 3))
            elif qtype == "prefix":
                out = P.prefix_topk_indexed(
                    spark, d, params["prefix"], top_k=top_k,
                    max_expansions=self._int(params, "max_expansions", None),
                )
            elif qtype == "wildcard":
                out = P.wildcard_topk_indexed(
                    spark, d, params["pattern"], top_k=top_k,
                    max_expansions=self._int(params, "max_expansions", None),
                )
            elif qtype == "fuzzy":
                out = P.fuzzy_topk_indexed(
                    spark, d, params["term"],
                    max_edits=self._int(params, "max_edits", 1), top_k=top_k,
                    max_expansions=self._int(params, "max_expansions", None),
                )
            else:  # bool
                out = P.bool_topk_indexed(
                    spark, d,
                    must=_as_str_list(params.get("must"), "must"),
                    should=_as_str_list(params.get("should"), "should"),
                    must_not=_as_str_list(params.get("must_not"), "must_not"),
                    top_k=top_k,
                )
        except ValueError as e:
            # operator-level validation (bad slop/window/pattern/edits)
            raise ValidationError(str(e))
        if query is not None:
            pairs = P.positional_topk(spark, d, query, top_k=top_k)
        else:
            pairs = [(r["doc_id"], r["score"]) for r in out.collect()]
        hits = [{"doc_id": int(doc), "score": float(score)} for doc, score in pairs]
        return {"type": qtype, "hits": hits}
