"""Concrete on-the-wire HTTP transports for the engine's injected seams.

Everything network-facing in this engine is a callable seam —
``xmla.fetch_partitioned*`` takes ``execute(mdx) -> xml``,
``odata.write_batched`` takes ``transport(batch) -> statuses`` (and
``odata.delete_batched`` calls it as ``transport(batch, method="DELETE")``),
``notifications.notify`` takes ``sender(subject, body)``. This module
supplies the production implementations of those callables over plain
HTTP(S), matching the reference's wire behavior:

- **XMLA/SOAP** (reference ``modules/olap.py:7-46``): POST the Execute
  envelope (CDATA-wrapped MDX) with basic auth, ``SOAPAction`` header,
  300s timeout, optional TLS-verification bypass, ``/xmla/default``
  path completion; non-200 raises with a body preview.
- **OData ``$batch`` multipart** (reference ``modules/dataverse.py:
  60-226``): one changeset of per-record ``PATCH
  table(key='escaped')`` parts (``DELETE``, bodiless, for mass
  deletes) with Content-IDs, ``Prefer:
  odata.continue-on-error``, per-subresponse status extraction with a
  conservative fallback, wire-level 429/Retry-After handling, and
  401/403 surfaced per-row so the sink's token-refresh-and-resend
  discipline (``odata._send_batch`` + ``TokenProvider``) kicks in.
- **Graph-style sendMail** (reference ``modules/notifications.py:
  36-139``): JSON message envelope POSTed to
  ``users/{sender}/sendMail``, 202 = accepted, bounded retry on
  429/5xx.

stdlib only (``http.client`` + ``ssl`` + ``uuid``): one persistent
connection per transport instance — built executor-side by a factory,
next to its use, never pickled — with a single transparent reconnect
on a dropped keep-alive, which is the part of the reference's
``requests.Session`` + pool that matters inside a Spark task.
"""

from __future__ import annotations

import base64
import json
import re
import ssl
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from urllib.parse import urlsplit

from bw_new_data_integration_spark.sources.credentials import TokenProvider
from bw_new_data_integration_spark.sources.odata import RetryPolicy, format_key_for_url

#: reference olap.py uses a 5-minute timeout for large cube queries
XMLA_TIMEOUT_SECONDS = 300.0


class TransportError(RuntimeError):
    """A request that cannot be interpreted as per-row statuses."""


@dataclass
class HttpResponse:
    status: int
    headers: dict[str, str]  # lower-cased names
    body: bytes

    @property
    def text(self) -> str:
        return self.body.decode("utf-8", errors="replace")


class HttpClient:
    """Minimal persistent-connection HTTP(S) client.

    Holds ONE ``http.client`` connection and reuses it across requests
    (keep-alive); a request that fails on a stale socket reconnects
    once and replays. ``ssl_verify=False`` disables certificate
    checks, mirroring the reference's ``ssl_verify`` flag for
    self-signed cube servers (``modules/olap.py``) — default is ON.
    """

    def __init__(self, base_url: str, timeout: float = 60.0, ssl_verify: bool = True):
        parts = urlsplit(base_url)
        if parts.scheme not in ("http", "https"):
            raise ValueError(f"unsupported scheme in {base_url!r}")
        self.scheme = parts.scheme
        self.host = parts.hostname or ""
        self.port = parts.port
        self.base_path = parts.path.rstrip("/")
        self.timeout = timeout
        self.ssl_verify = ssl_verify
        self._conn = None

    def _connect(self):
        import http.client

        if self.scheme == "https":
            ctx = (
                ssl.create_default_context()
                if self.ssl_verify
                else ssl._create_unverified_context()  # noqa: SLF001 - the documented opt-out
            )
            return http.client.HTTPSConnection(
                self.host, self.port, timeout=self.timeout, context=ctx
            )
        return http.client.HTTPConnection(self.host, self.port, timeout=self.timeout)

    def request(
        self,
        method: str,
        path: str,
        body: bytes | None = None,
        headers: dict[str, str] | None = None,
    ) -> HttpResponse:
        import http.client

        full = self.base_path + path if path.startswith("/") else self.base_path + "/" + path
        last_exc: Exception | None = None
        for attempt in range(2):  # fresh socket retry for dropped keep-alive
            if self._conn is None:
                self._conn = self._connect()
            try:
                self._conn.request(method, full, body=body, headers=headers or {})
                resp = self._conn.getresponse()
                data = resp.read()
                return HttpResponse(
                    status=resp.status,
                    headers={k.lower(): v for k, v in resp.getheaders()},
                    body=data,
                )
            except (http.client.HTTPException, ConnectionError, OSError) as exc:
                last_exc = exc
                self.close()
                if attempt == 1:
                    raise TransportError(f"{method} {full}: {exc}") from exc
        raise TransportError(str(last_exc))  # pragma: no cover - loop always returns

    def close(self) -> None:
        if self._conn is not None:
            try:
                self._conn.close()
            finally:
                self._conn = None


# ---------------------------------------------------------------------------
# XMLA / SOAP executor (S1-S6 transport; reference modules/olap.py:7-46)
# ---------------------------------------------------------------------------


def make_xmla_executor(
    server_url: str,
    catalog: str,
    username: str,
    password: str,
    ssl_verify: bool = True,
    timeout: float = XMLA_TIMEOUT_SECONDS,
    client_factory: Callable[[str, float, bool], HttpClient] | None = None,
) -> Callable[[str], str]:
    """Build the production ``execute(mdx) -> xml`` callable for
    ``xmla.fetch_partitioned`` / ``fetch_partitioned_distributed``.

    Wire parity with the reference: ``/xmla/default`` appended unless
    already present, CDATA-wrapped MDX via ``build_soap_request``,
    ``Content-Type: text/xml; charset=utf-8`` + ``SOAPAction`` headers,
    HTTP basic auth, 300s default timeout, non-200 raises with a 500-
    char body preview. Call this INSIDE an ``execute_factory`` so the
    socket is created executor-side.
    """
    from bw_new_data_integration_spark.sources.xmla import build_soap_request

    if not server_url.rstrip("/").endswith("/xmla/default"):
        server_url = server_url.rstrip("/") + "/xmla/default"
    parts = urlsplit(server_url)
    base = f"{parts.scheme}://{parts.netloc}"
    path = parts.path
    make_client = client_factory or (
        lambda b, t, v: HttpClient(b, timeout=t, ssl_verify=v)
    )
    client = make_client(base, timeout, ssl_verify)
    basic = base64.b64encode(f"{username}:{password}".encode()).decode("ascii")
    headers = {
        "Content-Type": "text/xml; charset=utf-8",
        "SOAPAction": "urn:schemas-microsoft-com:xml-analysis:Execute",
        "Authorization": f"Basic {basic}",
    }

    def execute(mdx: str) -> str:
        envelope = build_soap_request(mdx, catalog).encode("utf-8")
        resp = client.request("POST", path, body=envelope, headers=headers)
        if resp.status != 200:
            raise TransportError(
                f"XMLA query failed with HTTP {resp.status}: {resp.text[:500]}"
            )
        return resp.text

    return execute


# ---------------------------------------------------------------------------
# OAuth2 client-credentials token fetch (§2.11a acquisition; reference
# olap_to_dataverse.py get_dataverse_access_token — a form-urlencoded
# POST to the tenant token endpoint, access_token out of the JSON)
# ---------------------------------------------------------------------------


def make_oauth_token_fetch(
    token_url: str,
    client_id: str,
    client_secret: str,
    scope: str,
    ssl_verify: bool = True,
    timeout: float = 30.0,
    client_factory: Callable[[str, float, bool], HttpClient] | None = None,
) -> Callable[[], str]:
    """Build a ``fetch() -> bearer`` callable for :class:`TokenProvider`
    doing the standard OAuth2 client-credentials grant (RFC 6749 §4.4):
    form-urlencoded POST of grant_type/client_id/client_secret/scope,
    ``access_token`` extracted from the JSON response. Non-200 or a
    missing token raises ``TransportError`` with a body preview — a
    silent empty bearer would surface later as a confusing 401."""
    from urllib.parse import urlencode

    parts = urlsplit(token_url)
    base = f"{parts.scheme}://{parts.netloc}"
    path = parts.path or "/"
    make_client = client_factory or (
        lambda b, t, v: HttpClient(b, timeout=t, ssl_verify=v)
    )
    client = make_client(base, timeout, ssl_verify)
    form = urlencode(
        {
            "grant_type": "client_credentials",
            "client_id": client_id,
            "client_secret": client_secret,
            "scope": scope,
        }
    ).encode("ascii")
    headers = {"Content-Type": "application/x-www-form-urlencoded"}

    def fetch() -> str:
        resp = client.request("POST", path, body=form, headers=headers)
        if resp.status != 200:
            raise TransportError(
                f"token fetch failed with HTTP {resp.status}: {resp.text[:300]}"
            )
        try:
            token = json.loads(resp.text).get("access_token", "")
        except ValueError as exc:
            raise TransportError(
                f"token endpoint returned non-JSON: {resp.text[:300]}"
            ) from exc
        if not token:
            raise TransportError(
                f"token endpoint returned no access_token: {resp.text[:300]}"
            )
        return token

    return fetch


# ---------------------------------------------------------------------------
# OData $batch multipart transport (K1 sink wire format;
# reference modules/dataverse.py:60-226)
# ---------------------------------------------------------------------------

_STATUS_RE = re.compile(r"HTTP/1\.1 (\d{3})")


def encode_odata_batch(
    table: str,
    records: list[dict],
    alternate_key: str,
    batch_id: str | None = None,
    changeset_id: str | None = None,
    method: str = "PATCH",
) -> tuple[bytes, str]:
    """Multipart ``$batch`` body: one changeset of per-record parts
    addressed by alternate key with single quotes doubled, Content-IDs
    1..n (OData v4.01 batch format; the reference builds the same bytes
    in ``modules/dataverse.py:69-108``). ``method="PATCH"`` upserts
    each record (JSON body, nulls pruned); ``method="DELETE"`` removes
    the record by key (no body — the reference's mass delete,
    ``full_refresh_fy2023_2025.py:59-167``). Returns ``(body,
    content_type)``; boundary ids are injectable so tests can pin
    golden bytes."""
    if method not in ("PATCH", "DELETE"):
        raise ValueError(f"encode_odata_batch: method must be PATCH or DELETE, got {method!r}")
    batch_id = batch_id or f"batch_{uuid.uuid4()}"
    changeset_id = changeset_id or f"changeset_{uuid.uuid4()}"
    parts = [
        f"--{batch_id}\r\nContent-Type: multipart/mixed;boundary={changeset_id}\r\n\r\n".encode()
    ]
    for i, rec in enumerate(records, 1):
        clean = {k: v for k, v in rec.items() if v is not None}  # P7 null pruning
        key = format_key_for_url(str(clean[alternate_key]))
        if method == "DELETE":
            request = f"DELETE {table}({alternate_key}='{key}') HTTP/1.1\r\n\r\n"
        else:
            payload = json.dumps(clean, separators=(",", ":"), default=str)
            request = (
                f"PATCH {table}({alternate_key}='{key}') HTTP/1.1\r\n"
                "Content-Type: application/json\r\n"
                "Prefer: return=representation\r\n"
                "\r\n"
                f"{payload}\r\n"
            )
        parts.append(
            (
                f"--{changeset_id}\r\n"
                "Content-Type: application/http\r\n"
                "Content-Transfer-Encoding: binary\r\n"
                f"Content-ID: {i}\r\n"
                "\r\n"
                f"{request}"
            ).encode()
        )
    parts.append(f"--{changeset_id}--\r\n--{batch_id}--\r\n".encode())
    return b"".join(parts), f"multipart/mixed; boundary={batch_id}"


def parse_batch_statuses(batch_text: str, expected: int) -> list[int]:
    """Per-subresponse status codes, in request order. When the server
    returns fewer/more status lines than records (malformed multipart),
    fall back conservatively like the reference (``modules/
    dataverse.py:137-146``): keep what parsed, mark the unaccounted
    remainder retryable-failed."""
    codes = [int(m.group(1)) for m in _STATUS_RE.finditer(batch_text)]
    if len(codes) == expected:
        return codes
    if len(codes) > expected:
        return codes[:expected]
    return codes + [500] * (expected - len(codes))


class ODataBatchTransport:
    """``transport(batch, method="PATCH") -> per-row statuses`` over a
    real ``$batch`` endpoint — plugs straight into
    ``odata.write_batched`` and ``odata.delete_batched``.

    Division of labor with ``odata._send_batch`` (which wraps every
    transport): THIS layer owns the wire — multipart encoding, bearer
    auth, and 429/Retry-After waiting (the retry signal only exists in
    the response headers, which never cross the seam). The OUTER layer
    owns semantics — retryable per-row statuses with exponential
    backoff, and 401/403 → ``on_auth_error`` → token refresh + resend
    (this class returns whole-request auth failures as per-row
    statuses precisely so that discipline triggers).
    """

    def __init__(
        self,
        client: HttpClient,
        table: str,
        token_provider: TokenProvider,
        alternate_key: str,
        batch_path: str = "/api/data/v9.2/$batch",
        policy: RetryPolicy | None = None,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        self.client = client
        self.table = table
        self.tokens = token_provider
        self.alternate_key = alternate_key
        self.batch_path = batch_path
        self.policy = policy or RetryPolicy()
        self.sleep = sleep

    def on_auth_error(self) -> None:  # hook probed by odata._send_batch
        self.tokens.invalidate()

    def __call__(self, batch: list[dict], method: str = "PATCH") -> list[int]:
        body, content_type = encode_odata_batch(
            self.table, batch, self.alternate_key, method=method
        )
        for attempt in range(self.policy.max_attempts):
            headers = {
                "Authorization": f"Bearer {self.tokens.token()}",
                "Content-Type": content_type,
                "Prefer": "odata.continue-on-error",
                "OData-Version": "4.0",
                "Accept": "application/json",
            }
            try:
                resp = self.client.request("POST", self.batch_path, body, headers)
            except TransportError:
                if attempt < self.policy.max_attempts - 1:
                    self.sleep(self.policy.delay(attempt))
                    continue
                return [503] * len(batch)
            if resp.status in (200, 202):
                return parse_batch_statuses(resp.text, len(batch))
            if resp.status == 429:
                retry_after = resp.headers.get("retry-after")
                self.sleep(
                    self.policy.delay(
                        attempt,
                        retry_after=float(retry_after) if retry_after else None,
                    )
                )
                continue
            # auth / client / server error on the whole request: hand it
            # to the outer layer as uniform per-row statuses
            return [resp.status] * len(batch)
        return [429] * len(batch)  # rate-limited through every attempt


# ---------------------------------------------------------------------------
# Graph-style sendMail sender (§2.11b delivery;
# reference modules/notifications.py:36-139)
# ---------------------------------------------------------------------------


class GraphMailSender:
    """``Sender`` implementation POSTing the Graph ``sendMail`` JSON
    envelope. 202 = accepted; 429/5xx retried with backoff; anything
    else raises so ``run_with_notification``'s caller sees delivery
    failure instead of silence."""

    def __init__(
        self,
        client: HttpClient,
        sender_address: str,
        recipients: list[str],
        token_provider: TokenProvider,
        users_path: str = "/v1.0/users",
        is_html: bool = False,
        policy: RetryPolicy | None = None,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        self.client = client
        self.sender_address = sender_address
        self.recipients = list(recipients)
        self.tokens = token_provider
        self.users_path = users_path.rstrip("/")
        self.is_html = is_html
        self.policy = policy or RetryPolicy(max_attempts=3)
        self.sleep = sleep

    def message_body(self, subject: str, body: str) -> dict:
        return {
            "message": {
                "subject": subject,
                "body": {
                    "contentType": "HTML" if self.is_html else "Text",
                    "content": body,
                },
                "toRecipients": [
                    {"emailAddress": {"address": a}} for a in self.recipients
                ],
            },
            "saveToSentItems": "true",
        }

    def __call__(self, subject: str, body: str) -> None:
        payload = json.dumps(self.message_body(subject, body)).encode("utf-8")
        path = f"{self.users_path}/{self.sender_address}/sendMail"
        for attempt in range(self.policy.max_attempts):
            headers = {
                "Authorization": f"Bearer {self.tokens.token()}",
                "Content-Type": "application/json",
            }
            resp = self.client.request("POST", path, payload, headers)
            if resp.status == 202:
                return
            if resp.status in (401, 403):
                self.tokens.invalidate()
                continue
            if resp.status in (429, 500, 502, 503, 504):
                retry_after = resp.headers.get("retry-after")
                if attempt < self.policy.max_attempts - 1:
                    self.sleep(
                        self.policy.delay(
                            attempt,
                            retry_after=float(retry_after) if retry_after else None,
                        )
                    )
                continue
            raise TransportError(
                f"sendMail failed: HTTP {resp.status} {resp.text[:300]}"
            )
        raise TransportError("sendMail failed after retries")
