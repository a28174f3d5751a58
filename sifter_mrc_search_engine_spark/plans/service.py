"""Inference-service layer: the reference's GET /inference contract.

Mirrors the request/response shape of the reference's Starlette service
(reference: modules/mrc_service/server.py:54-103) with the MRC rerank
replaced by the BM25 top-k contract (BASELINE.json north_star):

  * validation: ``question`` required & non-empty; ``top_k`` and
    ``doc_page_size`` in [1, 10] (server.py:18-19, :26-51)
  * query rewrite: analyzed terms joined by spaces — ``commonQuery``
    (search_functions.py:76-80)
  * retrieval depth = doc_page_size; answers truncated to top_k after the
    global score sort (server.py:94-95)
  * answers enriched by back-join to document metadata — DOCID, title,
    url (search_functions.py:116-125); ``domain`` is the DOCID prefix
    (first 3 chars, server.py:100); a ``domain`` argument filters answers
    like the reference's per-domain routing (server.py:218-223)
"""

from __future__ import annotations

import inspect
from typing import Any

from ..constants import MAX_DOC_PAGE_SIZE, MAX_TOP_K
# inference() calls analyze once and joins its terms into commonQuery,
# which is rewrite_query's result; the name stays bound here because
# perfbench/layers.py wraps it
from ..functions.analyzer import analyze, eliminate_final_postposition, rewrite_query  # noqa: F401

#: domain retrieval over-fetch: growth factor and depth ceiling
_OVERFETCH_GROW = 4
_OVERFETCH_MAX = 10_000


class ValidationError(ValueError):
    pass


def _validate(question: str, top_k: int, doc_page_size: int) -> None:
    # server.py:26-51 request guards
    if question is None or not str(question).strip():
        raise ValidationError("question is required and must be non-empty")
    if not (1 <= int(top_k) <= MAX_TOP_K):
        raise ValidationError(f"top_k must be in [1, {MAX_TOP_K}]")
    if not (1 <= int(doc_page_size) <= MAX_DOC_PAGE_SIZE):
        raise ValidationError(f"doc_page_size must be in [1, {MAX_DOC_PAGE_SIZE}]")


class InferenceService:
    """Query serving facade over an IndexSearcher + document metadata.

    ``docmeta``: dict ``doc_id -> {"DOCID": str, "title": str, "url": str,
    "content": str}`` (the projection the reference requests from its
    engine, search_functions.py:96-106). At scale this is a broadcast or
    KV-backed dimension — exactly the reference's back-join shape (J1).
    """

    def __init__(self, searcher, docmeta: dict[int, dict] | None = None):
        self.searcher = searcher
        self.docmeta = docmeta or {}
        # feature-detect the clamp switch ONCE (an except TypeError around
        # the call would swallow genuine TypeErrors from inside search)
        search = getattr(searcher, "search", None)
        self._has_clamp = (
            search is not None and "clamp" in inspect.signature(search).parameters
        )

    def _domain_of(self, doc_id: int) -> str:
        meta = self.docmeta.get(doc_id, {})
        return meta.get("DOCID", f"{doc_id:012d}")[:3]

    def _retrieve(self, question: str, doc_page_size: int, domain: str | None):
        """Retrieval with domain-aware over-fetch.

        The reference routes per-domain at search time (server.py:218-223)
        — a plain post-filter of the global top page can starve a domain
        query even when many matches exist deeper. Domain queries retrieve
        progressively deeper (x4 each round, bounded) until doc_page_size
        in-domain hits are found or the candidate set is exhausted.
        """
        if domain is None:
            return self.searcher.search(question, top_k=doc_page_size)
        k = doc_page_size
        while True:
            if self._has_clamp:
                hits = self.searcher.search(question, top_k=k, clamp=(k <= MAX_TOP_K))
            else:
                hits = self.searcher.search(question, top_k=k)
            dom = [(d, s) for d, s in hits if self._domain_of(d) == domain]
            if len(dom) >= doc_page_size or len(hits) < k or k >= _OVERFETCH_MAX:
                return dom[:doc_page_size]
            k *= _OVERFETCH_GROW

    def inference(
        self,
        question: str,
        top_k: int = MAX_TOP_K,
        doc_page_size: int = MAX_DOC_PAGE_SIZE,
        domain: str | None = None,
    ) -> dict[str, Any]:
        _validate(question, top_k, doc_page_size)
        terms = analyze(question)
        hits = self._retrieve(question, int(doc_page_size), domain)
        answers = []
        for rank, (doc_id, score) in enumerate(hits, start=1):
            meta = self.docmeta.get(doc_id, {})
            docid = meta.get("DOCID", f"{doc_id:012d}")
            title = meta.get("title", "")
            answer = {
                "rank": rank,
                "DOCID": docid,
                "domain": docid[:3],  # server.py:100
                "title": title,
                # the reference trims every returned answer's trailing
                # postposition (server.py:96-102); our answer analogue is
                # the doc title — a no-op unless a POS tagger is installed
                "raw_answer": title,
                "answer": eliminate_final_postposition(title),
                "url": meta.get("url", ""),
                "content": meta.get("content", ""),
                "score": score,
                "doc_id": doc_id,
            }
            answers.append(answer)
        answers = answers[: int(top_k)]  # server.py:94-95 truncation
        for i, a in enumerate(answers, start=1):
            a["rank"] = i
        return {
            "question": question,
            "commonQuery": " ".join(terms),  # rewrite_query(question)
            "terms": terms,
            "answers": answers,
        }
