"""In-process fake endpoints: an XMLA cube and an OData ``$batch`` sink.

Both listen on localhost, serve one request per connection
(``Connection: close``) and run their handlers on a pool of at most
``threads`` workers, so a Spark task never waits behind an idle
keep-alive socket. Each counts requests, bytes and the time its own
handlers were busy, so a run can tell the fakes' share of the wall from
the engine's.
"""

from __future__ import annotations

import json
import re
import socketserver
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler

_REQ_LINE = re.compile(r"^(PATCH|DELETE) (\w+)\((\w+)='((?:[^']|'')*)'\) HTTP/1\.1$")
_BOUNDARY = re.compile(rb"boundary=([^\s;]+)")
_YEAR = re.compile(r"d_Year\]\.&\[(\d+)\]")
_PERIOD = re.compile(r"d_Period\]\.&\[(\d+)\]")


class _PoolServer(socketserver.TCPServer):
    """TCP server whose requests run on a bounded thread pool."""

    allow_reuse_address = True
    request_queue_size = 128

    def __init__(self, handler, threads: int):
        super().__init__(("127.0.0.1", 0), handler)
        self._pool = ThreadPoolExecutor(max_workers=threads, thread_name_prefix="fake")

    def process_request(self, request, client_address):
        self._pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 - a handler crash must not kill the pool
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self._pool.shutdown(wait=True)


class _Endpoint:
    """Shared lifecycle and counters of a fake."""

    def __init__(self, threads: int):
        self.lock = threading.Lock()
        self.requests = 0
        self.request_bytes = 0
        self.response_bytes = 0
        self.busy_s = 0.0
        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self):  # noqa: N802 - http.server naming
                t0 = time.perf_counter()
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                status, ctype, out = endpoint.handle(self.path, self.headers, body)
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(out)))
                self.send_header("Connection", "close")
                self.end_headers()
                self.wfile.write(out)
                with endpoint.lock:
                    endpoint.requests += 1
                    endpoint.request_bytes += len(body)
                    endpoint.response_bytes += len(out)
                    endpoint.busy_s += time.perf_counter() - t0

            def log_message(self, *args):
                pass

        self._server = _PoolServer(Handler, threads)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def counters(self) -> dict:
        with self.lock:
            return {
                "requests": self.requests,
                "request_bytes": self.request_bytes,
                "response_bytes": self.response_bytes,
                "busy_s": self.busy_s,
            }

    def handle(self, path, headers, body) -> tuple[int, str, bytes]:
        raise NotImplementedError

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)


class FakeSink(_Endpoint):
    """OData ``$batch`` sink with Dataverse semantics: a ``PATCH
    table(key='k')`` part upserts the record by alternate key (fields
    merge into an existing record), a ``DELETE`` part removes it.

    ``drop_next``: a table whose next ``$batch`` request is acknowledged
    but not applied (fault injection); cleared once used."""

    def __init__(self, threads: int):
        self.tables: dict[str, dict[str, dict]] = {}
        self.drop_next: str | None = None
        super().__init__(threads)

    def handle(self, path, headers, body):
        m = _BOUNDARY.search(body[:512])
        if not path.endswith("/$batch") or m is None:
            return 400, "text/plain", b"expected a multipart $batch request"
        changeset = b"--" + m.group(1)
        ops = []
        for part in body.split(changeset)[1:-1]:
            _head, _, http = part.decode("utf-8").partition("\r\n\r\n")
            request_line, _, rest = http.partition("\r\n")
            op = _REQ_LINE.match(request_line)
            if op is None:
                return 400, "text/plain", f"bad part: {request_line[:80]}".encode()
            method, table, _key_name, key = op.groups()
            payload = rest.partition("\r\n\r\n")[2].strip()
            ops.append((method, table, key.replace("''", "'"), json.loads(payload) if payload else {}))
        statuses = []
        with self.lock:
            apply = not ops or ops[0][1] != self.drop_next
            if not apply:
                self.drop_next = None
            for method, table, key, rec in ops:
                rows = self.tables.setdefault(table, {})
                if method == "DELETE":
                    if apply:
                        rows.pop(key, None)
                    statuses.append(204)
                elif key in rows:
                    if apply:
                        rows[key].update(rec)
                    statuses.append(204)
                else:
                    if apply:
                        rows[key] = dict(rec)
                    statuses.append(201)
        out = "".join(
            f"--batchresponse\r\nContent-Type: application/http\r\n\r\nHTTP/1.1 {s} X\r\n\r\n"
            for s in statuses
        ) + "--batchresponse--\r\n"
        return 200, "multipart/mixed; boundary=batchresponse", out.encode()

    def snapshot(self, table: str) -> dict[str, dict]:
        with self.lock:
            return {k: dict(v) for k, v in self.tables.get(table, {}).items()}


class FakeCube(_Endpoint):
    """XMLA endpoint serving pre-rendered ``Execute`` responses, one per
    13-4 fiscal period member found in the statement's slicer."""

    def __init__(self, threads: int):
        self.responses: dict[tuple[int, int], bytes] = {}
        self.cells_by_slice: dict[tuple[int, int], int] = {}
        self.cells = 0
        super().__init__(threads)

    def serve(self, responses: dict[tuple[int, int], bytes], cells: dict[tuple[int, int], int]) -> None:
        """Answer from now on with ``responses`` (cell counts per slice)."""
        with self.lock:
            self.responses, self.cells_by_slice = responses, cells

    def handle(self, path, headers, body):
        if not headers.get("Authorization", "").startswith("Basic "):
            return 401, "text/plain", b"basic auth required"
        text = body.decode("utf-8")
        y, p = _YEAR.search(text), _PERIOD.search(text)
        key = (int(y.group(1)), int(p.group(1))) if y and p else None
        with self.lock:
            out = self.responses.get(key)
            if out is not None:
                self.cells += self.cells_by_slice[key]
        if out is None:
            return 500, "text/plain", b"no such slice"
        return 200, "text/xml; charset=utf-8", out
