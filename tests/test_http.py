"""HTTP front door: the reference's GET/POST /inference + /inference/file
routes (server.py:54-188) over stdlib http.server."""

import http.client
import json
import socket
import threading
import time
import urllib.error
import urllib.request
import uuid

import pytest

from sifter_mrc_search_engine_spark.plans.checkpoint import build_index_resumable
from sifter_mrc_search_engine_spark.plans.http_service import HttpFrontDoor
from sifter_mrc_search_engine_spark.plans.query import IndexSearcher
from sifter_mrc_search_engine_spark.plans.service import InferenceService
from sifter_mrc_search_engine_spark.sources.pages import VOCAB, synthesize_pages


@pytest.fixture(scope="module")
def door(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("http_idx"))
    pages = synthesize_pages(spark, 200, partitions=2).selectExpr(
        "cast(split(url, '/')[4] as long) as doc_id", "url", "text"
    )
    build_index_resumable(pages, idx, buckets=8)
    meta = {
        int(r["doc_id"]): {
            "DOCID": f"web{r['doc_id']:09d}",
            "title": f"doc {r['doc_id']}",
            "url": r["url"],
            "content": r["text"][:80],
        }
        for r in pages.collect()
    }
    svc = InferenceService(IndexSearcher(spark, idx, preload=True), meta)
    d = HttpFrontDoor(svc).start()
    yield d
    d.stop()


def _get(door, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{door.port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(door, path, data, headers):
    req = urllib.request.Request(
        f"http://127.0.0.1:{door.port}{path}", data=data, headers=headers, method="POST"
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_get_inference_roundtrip(door):
    code, out = _get(door, f"/inference?question={VOCAB[0]}&top_k=3")
    assert code == 200
    assert out["commonQuery"] == VOCAB[0]
    assert 0 < len(out["answers"]) <= 3
    assert out["answers"][0]["rank"] == 1 and "score" in out["answers"][0]


def test_get_validation_and_404(door):
    code, out = _get(door, f"/inference?question={VOCAB[0]}&top_k=99")
    assert code == 400 and "top_k" in out["detail"]
    code, out = _get(door, "/inference?question=zzznotaterm")
    assert code == 404 and out["detail"] == "검색된 문서가 없습니다."
    code, _ = _get(door, "/nope")
    assert code == 404


def test_keep_alive_serves_two_gets_on_one_connection(door):
    conn = http.client.HTTPConnection("127.0.0.1", door.port, timeout=10)
    try:
        socks = []
        for _ in range(2):
            conn.request("GET", f"/inference?question={VOCAB[0]}&top_k=3")
            resp = conn.getresponse()
            assert json.loads(resp.read())["answers"]
            assert resp.status == 200 and resp.version == 11 and not resp.will_close
            socks.append(conn.sock)
        assert socks[0] is socks[1]  # no reconnect between the two
    finally:
        conn.close()


def test_post_without_content_length_closes_connection(door):
    """A chunked body is never read: the server must close after its
    reply rather than parse the body as the next request."""
    smuggled = b"GET /nope HTTP/1.1\r\nHost: x\r\n\r\n"
    req = (
        b"POST /inference HTTP/1.1\r\nHost: x\r\n"
        b"Content-Type: application/json\r\nTransfer-Encoding: chunked\r\n\r\n"
        + b"%x\r\n" % len(smuggled) + smuggled + b"\r\n0\r\n\r\n"
    )
    reply = b""
    # one write, so the whole request is read before the server closes
    with socket.create_connection(("127.0.0.1", door.port), timeout=10) as sock:
        sock.sendall(req)
        while chunk := sock.recv(65536):
            reply += chunk
    assert reply.startswith(b"HTTP/1.1 400 ")
    assert b"\r\nConnection: close\r\n" in reply
    assert reply.count(b"HTTP/1.1 ") == 1


class _OneHitSearcher:
    def search(self, question, top_k=10, clamp=True):
        return [(1, 1.0)]


def test_stop_returns_while_client_holds_idle_keep_alive_connection():
    d = HttpFrontDoor(InferenceService(_OneHitSearcher())).start()
    conn = http.client.HTTPConnection("127.0.0.1", d.port, timeout=10)
    try:
        conn.request("GET", f"/inference?question={VOCAB[0]}")
        resp = conn.getresponse()
        resp.read()
        assert resp.status == 200 and not resp.will_close
        t0 = time.monotonic()
        stopper = threading.Thread(target=d.stop, daemon=True)
        stopper.start()
        stopper.join(timeout=10)
        assert not stopper.is_alive()
        assert time.monotonic() - t0 < 5
    finally:
        conn.close()


def test_idle_keep_alive_connection_times_out():
    d = HttpFrontDoor(InferenceService(_OneHitSearcher())).start()
    d.server.RequestHandlerClass.timeout = 0.2
    reply = b""
    try:
        with socket.create_connection(("127.0.0.1", d.port), timeout=10) as sock:
            sock.sendall(b"GET /inference?question=abc HTTP/1.1\r\nHost: x\r\n\r\n")
            # EOF (not the client's own 10 s timeout) once the server drops it
            while chunk := sock.recv(65536):
                reply += chunk
    finally:
        d.stop()
    assert reply.startswith(b"HTTP/1.1 200 ")


def test_post_inference_json_body(door):
    body = json.dumps({"question": VOCAB[0], "top_k": 2}).encode()
    code, out = _post(door, "/inference", body, {"Content-Type": "application/json"})
    assert code == 200 and len(out["answers"]) <= 2


def test_post_inference_non_object_json_is_400(door):
    """Valid JSON that is not an object must be a 400, not a dropped
    connection (params.get on a list raised AttributeError)."""
    for body in (b"[1]", b'"x"', b"3"):
        code, out = _post(door, "/inference", body, {"Content-Type": "application/json"})
        assert code == 400 and "object" in out["detail"], body


def test_post_inference_file_multipart(door):
    boundary = uuid.uuid4().hex
    text = (
        "the quick brown fox paragraph about spark engines\n\n\n"
        "an unrelated paragraph about cooking pasta dinners\n\n\n"
        "another spark paragraph mentioning fox twice fox"
    )
    parts = (
        f"--{boundary}\r\nContent-Disposition: form-data; name=\"question\"\r\n\r\n"
        f"spark fox\r\n"
        f"--{boundary}\r\nContent-Disposition: form-data; name=\"file\"; "
        f"filename=\"up.txt\"\r\nContent-Type: text/plain\r\n\r\n{text}\r\n"
        f"--{boundary}--\r\n"
    ).encode()
    code, out = _post(
        door, "/inference/file", parts,
        {"Content-Type": f"multipart/form-data; boundary={boundary}"},
    )
    assert code == 200
    answers = out["answers"]
    assert answers and answers[0]["rank"] == 1
    # the double-fox spark paragraph outranks the pasta one
    assert "fox twice fox" in answers[0]["raw_answer"]
    assert all("pasta" not in a["raw_answer"] for a in answers[:1])


def test_post_inference_file_docx_and_pptx(door):
    """DOCX/PPTX uploads answer over HTTP via the stdlib zip+XML parsers
    (no 501 — the formats no longer need external libs)."""
    from sifter_mrc_search_engine_spark.sources.parsers import (
        synthesize_docx,
        synthesize_pptx,
    )

    from sifter_mrc_search_engine_spark.sources.pdf import synthesize_pdf

    payloads = {
        "up.docx": synthesize_docx(["the quick brown fox paragraph about spark engines"]),
        "up.pptx": synthesize_pptx([["the quick brown fox paragraph about spark engines"]]),
        "up.pdf": synthesize_pdf([["the quick brown fox paragraph about spark engines"]]),
        # PDF 1.5 layout: catalog/pages packed in an ObjStm, XRef
        # stream, no trailer keyword — must answer, not 400
        "up15.pdf": synthesize_pdf(
            [["the quick brown fox paragraph about spark engines"]], objstm=True
        ),
    }
    for fname, payload in payloads.items():
        boundary = uuid.uuid4().hex
        parts = (
            f"--{boundary}\r\nContent-Disposition: form-data; name=\"question\"\r\n\r\n"
            f"spark fox\r\n"
            f"--{boundary}\r\nContent-Disposition: form-data; name=\"file\"; "
            f"filename=\"{fname}\"\r\nContent-Type: application/octet-stream\r\n\r\n"
        ).encode() + payload + f"\r\n--{boundary}--\r\n".encode()
        code, out = _post(
            door, "/inference/file", parts,
            {"Content-Type": f"multipart/form-data; boundary={boundary}"},
        )
        assert code == 200, (fname, out)
        assert "fox" in out["answers"][0]["raw_answer"], fname


def test_post_file_unsupported_extension(door):
    boundary = uuid.uuid4().hex
    parts = (
        f"--{boundary}\r\nContent-Disposition: form-data; name=\"question\"\r\n\r\nq\r\n"
        f"--{boundary}\r\nContent-Disposition: form-data; name=\"file\"; "
        f"filename=\"x.xyz\"\r\n\r\ndata\r\n--{boundary}--\r\n"
    ).encode()
    code, out = _post(
        door, "/inference/file", parts,
        {"Content-Type": f"multipart/form-data; boundary={boundary}"},
    )
    assert code == 400 and "unsupported" in out["detail"]


def test_malformed_params_and_uploads_return_4xx(door):
    # non-integer top_k: 400, not a dropped connection
    code, out = _get(door, f"/inference?question={VOCAB[0]}&top_k=abc")
    assert code == 400
    # corrupt HWP upload: 400 with the parse error, not a dropped connection
    boundary = uuid.uuid4().hex
    parts = (
        f"--{boundary}\r\nContent-Disposition: form-data; name=\"question\"\r\n\r\nq\r\n"
        f"--{boundary}\r\nContent-Disposition: form-data; name=\"file\"; "
        f"filename=\"x.hwp\"\r\n\r\nnot a cfb container at all\r\n--{boundary}--\r\n"
    ).encode()
    code, out = _post(
        door, "/inference/file", parts,
        {"Content-Type": f"multipart/form-data; boundary={boundary}"},
    )
    assert code == 400 and "magic" in out["detail"]
    # malformed PDF: 400 (PdfError is a ValueError), not a dropped
    # connection — PDF parses natively now (sources/pdf.py), no 501
    parts = (
        f"--{boundary}\r\nContent-Disposition: form-data; name=\"question\"\r\n\r\nq\r\n"
        f"--{boundary}\r\nContent-Disposition: form-data; name=\"file\"; "
        f"filename=\"x.pdf\"\r\n\r\n%PDF-fake\r\n--{boundary}--\r\n"
    ).encode()
    code, out = _post(
        door, "/inference/file", parts,
        {"Content-Type": f"multipart/form-data; boundary={boundary}"},
    )
    assert code == 400 and "object" in out["detail"]


@pytest.fixture(scope="module")
def sdoor(spark, tmp_path_factory):
    # a front door WITH the structured tier configured: positional index
    # over the same synthetic pages
    import sifter_mrc_search_engine_spark.operators.positional as P
    from sifter_mrc_search_engine_spark.plans.structured import (
        StructuredSearchService,
    )

    posidx = str(tmp_path_factory.mktemp("http_posidx"))
    pages = synthesize_pages(spark, 120, partitions=2).selectExpr(
        "cast(split(url, '/')[4] as long) as doc_id", "url", "text"
    )
    P.write_positional_index(pages, posidx)
    first = pages.orderBy("doc_id").select("text").first()["text"].lower().split()
    svc = InferenceService(object())  # inference route unused here
    d = HttpFrontDoor(
        svc, structured=StructuredSearchService(spark, posidx)
    ).start()
    d._pages = pages
    d._phrase = f"{first[0]} {first[1]}"
    yield d
    d.stop()


def _structured(door, body):
    return _post(
        door, "/search/structured", json.dumps(body).encode(),
        {"Content-Type": "application/json"},
    )


def test_structured_route_matches_direct_call(spark, sdoor):
    import sifter_mrc_search_engine_spark.operators.positional as P

    code, out = _structured(sdoor, {"type": "phrase", "phrase": sdoor._phrase})
    assert code == 200 and out["type"] == "phrase" and out["hits"]
    direct = P.phrase_topk(sdoor._pages, sdoor._phrase).collect()
    assert [(h["doc_id"], round(h["score"], 4)) for h in out["hits"]] == [
        (r["doc_id"], round(r["score"], 4)) for r in direct
    ]
    # every other shape answers 200 with rank-ordered hits
    for body in [
        {"type": "slop", "phrase": sdoor._phrase, "slop": 2},
        {"type": "near", "question": sdoor._phrase, "window": 4},
        {"type": "prefix", "prefix": sdoor._phrase.split()[0][:2]},
        {"type": "wildcard", "pattern": sdoor._phrase.split()[0][:2] + "*"},
        {"type": "fuzzy", "term": sdoor._phrase.split()[0], "max_edits": 1},
        {"type": "bool", "must": [sdoor._phrase.split()[0]]},
    ]:
        code, out = _structured(sdoor, body)
        assert code == 200 and out["hits"], body
        scores = [h["score"] for h in out["hits"]]
        assert scores == sorted(scores, reverse=True), body


def test_structured_route_validation(sdoor, door):
    # miss is a 200 with empty hits, not an error
    code, out = _structured(sdoor, {"type": "phrase", "phrase": "zzz qqq"})
    assert code == 200 and out["hits"] == []
    cases = [
        ({"type": "nope"}, "type"),
        ({"type": "phrase"}, "phrase"),
        ({"type": "slop", "phrase": "a b", "slop": -1}, "slop"),
        ({"type": "fuzzy", "term": "ab", "max_edits": "x"}, "max_edits"),
        ({"type": "bool", "must": "notalist"}, "must"),
        ({"type": "phrase", "phrase": "a", "top_k": 99}, "top_k"),
        ({"type": "wildcard", "pattern": "**"}, "pattern"),
    ]
    for body, needle in cases:
        code, out = _structured(sdoor, body)
        assert code == 400 and needle in out["detail"], (body, out)
    code, out = _post(
        sdoor, "/search/structured", b"{bad json",
        {"Content-Type": "application/json"},
    )
    assert code == 400
    # a front door started WITHOUT the structured tier 404s the route
    code, out = _structured(door, {"type": "phrase", "phrase": "a b"})
    assert code == 404


def test_structured_route_null_knobs(sdoor):
    # explicit JSON null for an int knob means "use the default" — and
    # must never drop the connection (r5 review: _int returned None and
    # the range check raised TypeError past the route's handler)
    code, out = _structured(
        sdoor, {"type": "phrase", "phrase": sdoor._phrase, "top_k": None}
    )
    assert code == 200 and out["hits"]
    code, out = _structured(
        sdoor, {"type": "slop", "phrase": sdoor._phrase, "slop": None}
    )
    assert code == 200
    code, out = _structured(
        sdoor, {"type": "fuzzy", "term": sdoor._phrase.split()[0], "max_edits": None}
    )
    assert code == 200


def test_structured_route_unhashable_type_is_400(sdoor):
    code, out = _structured(sdoor, {"type": ["phrase"], "phrase": "a b"})
    assert code == 400 and "type" in out["detail"]
