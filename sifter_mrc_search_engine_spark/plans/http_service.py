"""HTTP front door — the reference's Starlette routes on stdlib http.server.

Mirrors the request surface of modules/mrc_service/server.py (Starlette is
not installed here; the handler is framework-free):

  * ``GET /inference?question=&top_k=&doc_page_size=&domain=``
    (server.py:54-103) -> JSON answer list from InferenceService
  * ``POST /inference`` with a JSON body of the same parameters
    (server.py:199-204 shape)
  * ``POST /inference/file`` multipart upload: the file is parsed by the
    extension-dispatched parser (server.py:140-188), its paragraphs are
    BM25-scored against the question, top-k returned
  * validation failures -> 400 with a ``detail`` message; empty retrieval
    -> 404 ``검색된 문서가 없습니다.`` (server.py:76-79)
  * ``POST /search/structured`` (beyond the reference's free-text-only
    surface): JSON body dispatched by ``type`` to the index-served
    structured query family via
    :class:`.structured.StructuredSearchService`; 404 when the front
    door was started without a positional index, 400 on bad input,
    200 with possibly-empty ``hits`` otherwise (a structured miss is a
    result, not an error)

Serving model matches the reference: one process fronting the engine (its
Starlette app serializes inference through a single queue consumer,
server.py:198-236 — ThreadingHTTPServer + the GIL-serialized driver calls
give the same effective serialization).
"""

from __future__ import annotations

import json
import threading
from email.parser import BytesParser
from email.policy import HTTP
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ..constants import MAX_DOC_PAGE_SIZE, MAX_TOP_K
from .service import InferenceService, ValidationError

NO_DOCS_DETAIL = "검색된 문서가 없습니다."  # server.py:79


def _file_answers(service: InferenceService, question: str, filename: str,
                  payload: bytes, top_k: int) -> list[dict]:
    """POST /inference/file semantics: parse the upload, score its
    paragraphs against the question, return top-k (server.py:166-188)."""
    from ..functions.analyzer import eliminate_final_postposition
    from ..operators.bm25 import bm25_brute_force
    from ..sources.parsers import PARSERS

    ext = filename.rsplit(".", 1)[-1].lower() if "." in filename else ""
    parser = PARSERS.get(ext)
    if parser is None:
        raise ValidationError(f"unsupported file type: {ext!r}")
    paragraphs = parser(payload)
    if not paragraphs:
        return []
    spark = service.searcher.spark
    docs = spark.createDataFrame(
        list(enumerate(paragraphs)), "doc_id long, text string"
    )
    hits = bm25_brute_force(docs, question, top_k=top_k).collect()
    return [
        {
            "rank": i,
            "raw_answer": paragraphs[r["doc_id"]],
            "answer": eliminate_final_postposition(paragraphs[r["doc_id"]]),
            "score": r["score"],
        }
        for i, r in enumerate(hits, start=1)
    ]


def make_handler(service: InferenceService, structured=None):
    class Handler(BaseHTTPRequestHandler):
        # keep-alive: a client's connection serves request after request.
        # Headers and body go out in two writes, so Nagle must be off or
        # the body waits for the client's delayed ACK (~40 ms per reply)
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True
        # seconds an idle keep-alive connection may hold its handler
        # thread; stop() does not close open connections
        timeout = 60

        def log_message(self, *a):  # quiet test servers
            pass

        def _send(self, code: int, obj) -> None:
            body = json.dumps(obj, ensure_ascii=False).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            if self.close_connection:
                self.send_header("Connection", "close")
            self.end_headers()
            self.wfile.write(body)

        def _run_inference(self, params: dict) -> None:
            try:
                # int() failures on non-numeric params are client errors too
                out = service.inference(
                    params.get("question"),
                    top_k=int(params.get("top_k", MAX_TOP_K)),
                    doc_page_size=int(params.get("doc_page_size", MAX_DOC_PAGE_SIZE)),
                    domain=params.get("domain"),
                )
            except (ValidationError, ValueError, TypeError) as e:
                return self._send(400, {"detail": str(e)})
            if not out["answers"]:
                return self._send(404, {"detail": NO_DOCS_DETAIL})
            self._send(200, out)

        def do_GET(self):
            url = urlparse(self.path)
            if url.path != "/inference":
                return self._send(404, {"detail": "not found"})
            q = {k: v[0] for k, v in parse_qs(url.query).items()}
            self._run_inference(q)

        def do_POST(self):
            url = urlparse(self.path)
            if "Content-Length" not in self.headers:
                # e.g. Transfer-Encoding: chunked — the body stays unread,
                # so it must not be parsed as the next request
                self.close_connection = True
            length = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(length)
            if url.path == "/inference":
                try:
                    params = json.loads(raw or b"{}")
                except json.JSONDecodeError:
                    return self._send(400, {"detail": "invalid JSON body"})
                if not isinstance(params, dict):
                    # valid JSON that is not an object ([1], "x") would hit
                    # params.get and drop the connection with AttributeError
                    return self._send(400, {"detail": "JSON body must be an object"})
                return self._run_inference(params)
            if url.path == "/search/structured":
                if structured is None:
                    return self._send(404, {"detail": "structured search not configured"})
                try:
                    params = json.loads(raw or b"{}")
                except json.JSONDecodeError:
                    return self._send(400, {"detail": "invalid JSON body"})
                try:
                    return self._send(200, structured.search(params))
                except ValidationError as e:
                    # bad input -> 400 (search() owns classifying it);
                    # anything else is a SERVER bug -> 500, never a
                    # dropped connection and never a 400 masquerade
                    return self._send(400, {"detail": str(e)})
                except Exception as e:
                    return self._send(500, {"detail": type(e).__name__})
            if url.path == "/inference/file":
                ctype = self.headers.get("Content-Type", "")
                if not ctype.startswith("multipart/form-data"):
                    return self._send(400, {"detail": "multipart/form-data required"})
                msg = BytesParser(policy=HTTP).parsebytes(
                    f"Content-Type: {ctype}\r\n\r\n".encode() + raw
                )
                question, top_k, fname, payload = None, MAX_TOP_K, None, None
                try:
                    for part in msg.iter_parts():
                        name = part.get_param("name", header="content-disposition")
                        if name == "question":
                            question = part.get_payload(decode=True).decode("utf-8")
                        elif name == "top_k":
                            top_k = int(part.get_payload(decode=True))
                        elif name == "file":
                            fname = part.get_filename() or ""
                            payload = part.get_payload(decode=True)
                    if question is None or payload is None:
                        raise ValidationError("question and file parts are required")
                    answers = _file_answers(service, question, fname, payload, top_k)
                except NotImplementedError as e:  # import-gated format decoder
                    return self._send(501, {"detail": str(e)})
                except Exception as e:
                    # malformed uploads (bad CFB, bad zlib, bad UTF-16, bad
                    # ints) are CLIENT errors — never drop the connection
                    return self._send(400, {"detail": f"{type(e).__name__}: {e}"})
                if not answers:
                    return self._send(404, {"detail": NO_DOCS_DETAIL})
                return self._send(200, {"question": question, "answers": answers})
            self._send(404, {"detail": "not found"})

    return Handler


class HttpFrontDoor:
    """Threaded HTTP server wrapping an InferenceService; ``port=0`` picks
    a free port (exposed as ``.port``)."""

    def __init__(
        self,
        service: InferenceService,
        host: str = "127.0.0.1",
        port: int = 0,
        structured=None,
    ):
        self.server = ThreadingHTTPServer(
            (host, port), make_handler(service, structured)
        )
        self.port = self.server.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "HttpFrontDoor":
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        if self._thread:
            self._thread.join(timeout=5)
