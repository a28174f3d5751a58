"""HTTP front door — the reference's Starlette routes on one small
HTTP/1.1 reader and one writer.

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

Every request goes through one reader and every reply through one writer:

  * the reader takes the request line and at most 100 header lines
    (names lowercased) under the stdlib's limits: a request line over
    65 536 bytes is a 414; a header line over 65 536 bytes or a 101st
    header line a 431; a malformed request or header line, an obs-fold
    (a header line starting with a space or tab) and a non-numeric or
    repeated ``Content-Length`` a 400; an HTTP major version other than
    1 a 505 and a method other than GET or POST a 501. These protocol
    errors close the connection. Of other repeated headers the first
    counts.
  * keep-alive: HTTP/1.1 keeps the connection unless the request says
    ``Connection: close``; HTTP/1.0 closes it unless it says
    ``Connection: keep-alive``. A POST without ``Content-Length`` or any
    request with ``Transfer-Encoding`` closes it after the reply: its
    body is not read, so it must not be parsed as the next request.
  * an HTTP/1.1 ``Expect: 100-continue`` is answered with ``100 Continue``
    before the body is read.
  * a reply is one socket write: status line, ``Date`` (formatted once a
    second), ``Content-Type``, ``Content-Length``, ``Connection: close``
    when closing, and the JSON body.
  * a connection idle for ``timeout`` seconds, or whose read or write
    times out, is dropped.

Serving model matches the reference: one process fronting the engine (its
Starlette app serializes inference through a single queue consumer,
server.py:198-236 — a thread per connection + the GIL-serialized driver
calls give the same effective serialization).
"""

from __future__ import annotations

import functools
import json
import re
import socketserver
import threading
import time
from email.parser import BytesParser
from email.policy import HTTP
from http import HTTPStatus
from urllib.parse import parse_qs, urlparse

from ..constants import MAX_DOC_PAGE_SIZE, MAX_TOP_K
from .service import InferenceService, ValidationError

NO_DOCS_DETAIL = "검색된 문서가 없습니다."  # server.py:79

#: the stdlib's limits (http.server, http.client): bytes in a request or
#: header line, header lines in a request
MAX_LINE = 65536
MAX_HEADERS = 100

_VERSION = re.compile(rb"HTTP/(\d)\.(\d)")
#: a header line: token name, colon, value between optional whitespace
_FIELD = re.compile(rb"([!#$%&'*+.^_`|~0-9A-Za-z-]+):[ \t]*(.*?)[ \t]*\r?\n")
_BLANK = (b"\r\n", b"\n", b"")
_STATUS_LINE = {s.value: f"HTTP/1.1 {s.value} {s.phrase}\r\n".encode() for s in HTTPStatus}
_DAYS = (b"Mon", b"Tue", b"Wed", b"Thu", b"Fri", b"Sat", b"Sun")
_MONTHS = (b"", b"Jan", b"Feb", b"Mar", b"Apr", b"May", b"Jun",
           b"Jul", b"Aug", b"Sep", b"Oct", b"Nov", b"Dec")


@functools.lru_cache(maxsize=1)
def _date_line(second: int) -> bytes:
    """The ``Date`` header line (IMF-fixdate) of epoch ``second``;
    cached, so formatted once a second."""
    t = time.gmtime(second)
    return b"Date: %s, %02d %s %d %02d:%02d:%02d GMT\r\n" % (
        _DAYS[t.tm_wday], t.tm_mday, _MONTHS[t.tm_mon], t.tm_year,
        t.tm_hour, t.tm_min, t.tm_sec,
    )


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
    class Handler(socketserver.StreamRequestHandler):
        # a reply is one write, but an interim 100 Continue and its reply
        # are two: with Nagle on, the second waits for the client's
        # delayed ACK (~40 ms)
        disable_nagle_algorithm = True
        # seconds an idle keep-alive connection may hold its handler
        # thread; stop() does not close open connections
        timeout = 60

        def handle(self):
            try:
                while self._one_request():
                    pass
            except TimeoutError:
                pass  # a read or a write timed out: drop the connection

        def _one_request(self) -> bool:
            """Read, route and answer one request; whether the
            connection stays open for the next."""
            rfile = self.rfile
            self.close_connection = True
            line = rfile.readline(MAX_LINE + 1)
            if len(line) > MAX_LINE:
                return self._refuse(414, "request line too long")
            words = line.split()
            if not words:
                return False  # EOF, or a blank line: close, as the stdlib does
            version = _VERSION.fullmatch(words[-1])
            if len(words) != 3 or version is None:
                return self._refuse(400, "malformed request line")
            if version[1] != b"1":
                return self._refuse(505, "HTTP version not supported")
            method, target = words[0], words[1].decode("latin-1")
            http11 = version[2] != b"0"

            headers: dict[str, str] = {}
            n = 0
            while (line := rfile.readline(MAX_LINE + 1)) not in _BLANK:
                if len(line) > MAX_LINE:
                    return self._refuse(431, "header line too long")
                n += 1
                if n > MAX_HEADERS:
                    return self._refuse(431, "too many headers")
                field = _FIELD.fullmatch(line)
                if field is None:  # also an obs-fold's leading whitespace
                    return self._refuse(400, "malformed header line")
                name = field[1].lower().decode("ascii")
                if name not in headers:
                    headers[name] = field[2].decode("latin-1")
                elif name == "content-length":
                    return self._refuse(400, "repeated Content-Length")
            self.headers = headers

            keep = http11
            if connection := headers.get("connection"):
                tokens = {t.strip() for t in connection.lower().split(",")}
                if "close" in tokens:
                    keep = False
                elif "keep-alive" in tokens:
                    keep = True
            length = headers.get("content-length", "0")
            if not (length.isascii() and length.isdigit()):
                return self._refuse(400, "malformed Content-Length")
            length = int(length)
            # a body not framed by Content-Length (a POST without it, any
            # Transfer-Encoding such as chunked) stays unread, so it must
            # not be parsed as the next request
            if "transfer-encoding" in headers or (
                method == b"POST" and "content-length" not in headers
            ):
                keep = False
            self.close_connection = not keep

            if http11 and headers.get("expect", "").lower() == "100-continue":
                self.wfile.write(b"HTTP/1.1 100 Continue\r\n\r\n")
            body = rfile.read(length) if length else b""
            if target.startswith("//"):
                # as the stdlib: '//x' is a path, not a network location
                target = "/" + target.lstrip("/")
            url = urlparse(target)
            route = self.ROUTES.get((method, url.path))
            if route is not None:
                route(self, url.query, body)
            elif method in (b"GET", b"POST"):
                self._send(404, {"detail": "not found"})
            else:
                return self._refuse(501, "unsupported method")
            return not self.close_connection

        def _send(self, code: int, obj) -> None:
            body = json.dumps(obj, ensure_ascii=False).encode("utf-8")
            self.wfile.write(b"".join((
                _STATUS_LINE[code],
                _date_line(int(time.time())),
                b"Content-Type: application/json; charset=utf-8\r\n"
                b"Content-Length: %d\r\n" % len(body),
                b"Connection: close\r\n\r\n" if self.close_connection else b"\r\n",
                body,
            )))

        def _refuse(self, code: int, detail: str) -> bool:
            """A protocol error: reply ``code`` and close the connection."""
            self.close_connection = True
            self._send(code, {"detail": detail})
            return False

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

        def _get_inference(self, query: str, body: bytes) -> None:
            self._run_inference({k: v[0] for k, v in parse_qs(query).items()})

        def _post_inference(self, query: str, body: bytes) -> None:
            try:
                params = json.loads(body or b"{}")
            except json.JSONDecodeError:
                return self._send(400, {"detail": "invalid JSON body"})
            if not isinstance(params, dict):
                # valid JSON that is not an object ([1], "x") would hit
                # params.get and drop the connection with AttributeError
                return self._send(400, {"detail": "JSON body must be an object"})
            self._run_inference(params)

        def _post_structured(self, query: str, body: bytes) -> None:
            if structured is None:
                return self._send(404, {"detail": "structured search not configured"})
            try:
                params = json.loads(body or b"{}")
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

        def _post_file(self, query: str, body: bytes) -> None:
            ctype = self.headers.get("content-type", "")
            if not ctype.startswith("multipart/form-data"):
                return self._send(400, {"detail": "multipart/form-data required"})
            msg = BytesParser(policy=HTTP).parsebytes(
                f"Content-Type: {ctype}\r\n\r\n".encode() + body
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
            self._send(200, {"question": question, "answers": answers})

        #: (method, path) -> route
        ROUTES = {
            (b"GET", "/inference"): _get_inference,
            (b"POST", "/inference"): _post_inference,
            (b"POST", "/search/structured"): _post_structured,
            (b"POST", "/inference/file"): _post_file,
        }

    return Handler


class _Server(socketserver.ThreadingTCPServer):
    # a thread per connection; stop() does not wait for open ones
    daemon_threads = True
    allow_reuse_address = True


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
        self.server = _Server((host, port), make_handler(service, structured))
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
