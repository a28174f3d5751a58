"""Inference-service contract (reference server.py:26-103 shape)."""

import pytest

from sifter_mrc_search_engine_spark.plans.checkpoint import build_index_resumable
from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
from sifter_mrc_search_engine_spark.plans.service import (
    InferenceService,
    ValidationError,
)
from sifter_mrc_search_engine_spark.sources.pages import VOCAB, synthesize_pages


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("svc_idx"))
    pages = synthesize_pages(spark, 400, partitions=2).selectExpr(
        "cast(split(url, '/')[4] as long) as doc_id", "url", "text"
    ).cache()
    build_index_resumable(pages, idx, buckets=16)
    meta = {
        int(r["doc_id"]): {
            "DOCID": f"{['spo','itx','eri'][r['doc_id'] % 3]}{r['doc_id']:09d}",
            "title": f"doc {r['doc_id']}",
            "url": r["url"],
            "content": r["text"][:80],
        }
        for r in pages.collect()
    }
    return InferenceService(IndexSearcher(spark, idx, preload=True), meta)


def test_validation_ranges(service):
    with pytest.raises(ValidationError, match="question"):
        service.inference("  ")
    with pytest.raises(ValidationError, match="top_k"):
        service.inference(VOCAB[0], top_k=11)
    with pytest.raises(ValidationError, match="top_k"):
        service.inference(VOCAB[0], top_k=0)
    with pytest.raises(ValidationError, match="doc_page_size"):
        service.inference(VOCAB[0], doc_page_size=99)


def test_response_shape_and_ordering(service):
    out = service.inference(f"{VOCAB[0]} {VOCAB[7]}", top_k=5)
    assert out["commonQuery"] == f"{VOCAB[0]} {VOCAB[7]}"
    assert out["terms"] == [VOCAB[0], VOCAB[7]]
    a = out["answers"]
    assert 0 < len(a) <= 5
    assert [x["rank"] for x in a] == list(range(1, len(a) + 1))
    scores = [x["score"] for x in a]
    assert scores == sorted(scores, reverse=True)
    for x in a:
        assert x["DOCID"].startswith(x["domain"]) and len(x["domain"]) == 3
        assert x["title"] and x["url"]


def test_top_k_truncates_after_retrieval(service):
    full = service.inference(VOCAB[0], top_k=10, doc_page_size=10)["answers"]
    cut = service.inference(VOCAB[0], top_k=3, doc_page_size=10)["answers"]
    assert [x["doc_id"] for x in cut] == [x["doc_id"] for x in full][:3]


def test_domain_filter(service):
    out = service.inference(VOCAB[0], top_k=10, domain="spo")["answers"]
    assert out and all(x["domain"] == "spo" for x in out)
    # filtered list re-ranks 1..n
    assert [x["rank"] for x in out] == list(range(1, len(out) + 1))


def test_empty_result_for_unknown_terms(service):
    out = service.inference("zzznotaterm")
    assert out["answers"] == []


def test_domain_overfetch_reaches_deep_docs(service):
    """A domain query must return up to doc_page_size in-domain answers
    even when the global top page holds few of them — the service
    over-fetches at search time instead of post-filtering the top page
    (reference routes per-domain at search time, server.py:218-223)."""
    out = service.inference(VOCAB[0], top_k=10, doc_page_size=10, domain="spo")["answers"]
    assert all(x["domain"] == "spo" for x in out)
    # corpus has ~133 'spo' docs and VOCAB[0] is a head term: a full page
    # of in-domain hits must exist even though only ~1/3 of the global
    # top-10 is 'spo'
    assert len(out) == 10
    scores = [x["score"] for x in out]
    assert scores == sorted(scores, reverse=True)


def test_answer_postposition_trim_wired(service):
    """server.py:96-102: every returned answer passes through
    eliminate_final_postposition; with a tagger installed the trailing
    josa disappears from 'answer' while 'raw_answer' keeps the original."""
    from sifter_mrc_search_engine_spark.functions.analyzer import set_pos_tagger

    out = service.inference(VOCAB[0], top_k=3)["answers"]
    assert all(a["answer"] == a["raw_answer"] for a in out)  # no tagger -> no-op

    def tagger(sentence):
        # tag the final token of 'doc NNN' titles as a strippable josa
        head, _, tail = sentence.rpartition(" ")
        return [(head, "NNG"), (" ", "SC"), (tail, "JX")] if head else [(sentence, "NNG")]

    set_pos_tagger(tagger)
    try:
        out = service.inference(VOCAB[0], top_k=3)["answers"]
        for a in out:
            assert a["raw_answer"].startswith("doc ")
            # both the JX-tagged tail and the SC-tagged space are stripped
            assert a["answer"] == a["raw_answer"].rsplit(" ", 1)[0]
    finally:
        set_pos_tagger(None)
