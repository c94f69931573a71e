"""On-the-wire tests for sources/http_transport.py against a local
HTTP server: XMLA SOAP envelope + auth headers, OData $batch multipart
encoding and per-subresponse statuses, 429/Retry-After and mid-load
401 recovery, Graph-style sendMail. No Spark session needed — the
transports are plain callables; their Spark integration goes through
the already-tested write_batched/fetch_partitioned seams."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from bw_new_data_integration_spark.sources import http_transport as ht
from bw_new_data_integration_spark.sources.credentials import TokenProvider
from bw_new_data_integration_spark.sources.odata import BatchStats, RetryPolicy, _send_batch


class _Script:
    """Scripted responses + captured requests for the local server.
    ``responder`` (body -> (status, headers, payload)) overrides the
    queue — needed when executors hit the server CONCURRENTLY and the
    right answer depends on the request, not arrival order."""

    def __init__(self):
        self.requests: list[dict] = []
        self.responses: list[tuple[int, dict, bytes]] = []
        self.responder = None
        self.lock = threading.Lock()

    def push(self, status: int, headers: dict | None = None, body: bytes = b""):
        self.responses.append((status, headers or {}, body))

    def pop(self, body: bytes = b""):
        if self.responder is not None:
            return self.responder(body)
        with self.lock:
            if self.responses:
                return self.responses.pop(0)
        return (200, {}, b"ok")


@pytest.fixture()
def server():
    script = _Script()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_POST(self):  # noqa: N802 - stdlib naming
            length = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(length)
            script.requests.append(
                {
                    "path": self.path,
                    "headers": {k.lower(): v for k, v in self.headers.items()},
                    "body": body,
                }
            )
            status, headers, payload = script.pop(body)
            self.send_response(status)
            for k, v in headers.items():
                self.send_header(k, v)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):  # silence
            pass

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    try:
        yield script, f"http://127.0.0.1:{httpd.server_address[1]}"
    finally:
        httpd.shutdown()
        httpd.server_close()


# ---------------------------------------------------------------------------
# XMLA SOAP executor
# ---------------------------------------------------------------------------


def test_xmla_executor_wire_format_and_roundtrip(server):
    from bw_new_data_integration_spark.sources import xmla

    script, base = server
    canned = xmla.render_mddataset(
        ["[Measures].[Qty]"],
        [[("[Store].[Store]", "S1")], [("[Store].[Store]", "S2")]],
        [[3.0], [4.0]],
    ).encode("utf-8")
    script.push(200, {"Content-Type": "text/xml"}, canned)

    execute = ht.make_xmla_executor(base, "SalesCube", "alice", "s3cr&t", timeout=10)
    xml = execute("SELECT [Measures].[Qty] ON 0 FROM [Cube] WHERE x & y")

    req = script.requests[0]
    # /xmla/default appended, reference path discipline (olap.py:9)
    assert req["path"] == "/xmla/default"
    assert req["headers"]["soapaction"] == "urn:schemas-microsoft-com:xml-analysis:Execute"
    assert req["headers"]["content-type"].startswith("text/xml")
    import base64

    assert req["headers"]["authorization"] == "Basic " + base64.b64encode(
        b"alice:s3cr&t"
    ).decode()
    env = req["body"].decode("utf-8")
    # CDATA wrapping keeps raw & in MDX legal (olap.py:12-13)
    assert "<![CDATA[SELECT [Measures].[Qty] ON 0 FROM [Cube] WHERE x & y]]>" in env
    assert "<Catalog>SalesCube</Catalog>" in env

    measures, rows, cells = xmla.parse_axes_and_cells(xml)
    assert measures == ["[Measures].[Qty]"] and len(rows) == 2
    assert cells[0] == "3.0" or cells[0] == 3.0 or cells[0] is not None


def test_xmla_executor_raises_with_body_preview(server):
    script, base = server
    script.push(500, {}, b"cube exploded")
    execute = ht.make_xmla_executor(base + "/xmla/default", "C", "u", "p", timeout=10)
    with pytest.raises(ht.TransportError, match="HTTP 500.*cube exploded"):
        execute("SELECT 1")


# ---------------------------------------------------------------------------
# OData $batch multipart
# ---------------------------------------------------------------------------


def _batch_response(statuses, changeset="cs1", batch="b1"):
    parts = [f"--{batch}\r\nContent-Type: multipart/mixed; boundary={changeset}\r\n\r\n"]
    for i, s in enumerate(statuses, 1):
        reason = {200: "OK", 201: "Created", 204: "No Content"}.get(s, "Error")
        parts.append(
            f"--{changeset}\r\nContent-Type: application/http\r\n"
            f"Content-ID: {i}\r\n\r\nHTTP/1.1 {s} {reason}\r\n\r\n\r\n"
        )
    parts.append(f"--{changeset}--\r\n--{batch}--\r\n")
    return "".join(parts).encode()


def test_encode_odata_batch_golden():
    body, ctype = ht.encode_odata_batch(
        "daily_sales",
        [
            {"business_key": "S1_2024", "qty": 5, "note": None},
            {"business_key": "O'Hare", "qty": 7},
        ],
        "business_key",
        batch_id="b1",
        changeset_id="cs1",
    )
    text = body.decode()
    assert ctype == "multipart/mixed; boundary=b1"
    # per-record PATCH by alternate key, quotes doubled (C9), null pruned (P7)
    assert "PATCH daily_sales(business_key='S1_2024') HTTP/1.1" in text
    assert "PATCH daily_sales(business_key='O''Hare') HTTP/1.1" in text
    assert '"note"' not in text
    assert "Content-ID: 1" in text and "Content-ID: 2" in text
    assert text.endswith("--cs1--\r\n--b1--\r\n")


def test_encode_odata_batch_delete_golden():
    body, ctype = ht.encode_odata_batch(
        "daily_sales",
        [{"business_key": "O'Hare"}],
        "business_key",
        batch_id="b1",
        changeset_id="cs1",
        method="DELETE",
    )
    assert ctype == "multipart/mixed; boundary=b1"
    # one bodiless DELETE part by alternate key, quotes doubled (C9)
    assert body == (
        b"--b1\r\nContent-Type: multipart/mixed;boundary=cs1\r\n\r\n"
        b"--cs1\r\nContent-Type: application/http\r\n"
        b"Content-Transfer-Encoding: binary\r\nContent-ID: 1\r\n\r\n"
        b"DELETE daily_sales(business_key='O''Hare') HTTP/1.1\r\n\r\n"
        b"--cs1--\r\n--b1--\r\n"
    )
    with pytest.raises(ValueError, match="PATCH or DELETE"):
        ht.encode_odata_batch("t", [{"k": "a"}], "k", method="PUT")


def test_parse_batch_statuses_exact_and_conservative():
    text = _batch_response([201, 204, 400]).decode()
    assert ht.parse_batch_statuses(text, 3) == [201, 204, 400]
    # short response: unaccounted rows become retryable 500s
    assert ht.parse_batch_statuses(text, 5) == [201, 204, 400, 500, 500]


def _mk_transport(base, script, fetches):
    client = ht.HttpClient(base, timeout=10)
    tokens = TokenProvider(fetch=lambda: fetches.pop(0), max_age_seconds=3600)
    return ht.ODataBatchTransport(
        client,
        "daily_sales",
        tokens,
        "business_key",
        policy=RetryPolicy(max_attempts=3),
        sleep=lambda s: None,
    )


def test_odata_transport_success_and_wire_shape(server):
    script, base = server
    script.push(200, {}, _batch_response([201, 204]))
    transport = _mk_transport(base, script, ["tokA"])
    statuses = transport([{"business_key": "k1", "v": 1}, {"business_key": "k2", "v": 2}])
    assert statuses == [201, 204]
    req = script.requests[0]
    assert req["path"] == "/api/data/v9.2/$batch"
    assert req["headers"]["authorization"] == "Bearer tokA"
    assert req["headers"]["prefer"] == "odata.continue-on-error"
    assert req["headers"]["content-type"].startswith("multipart/mixed; boundary=")
    # the multipart boundary in the header matches the body
    boundary = req["headers"]["content-type"].split("boundary=")[1]
    assert req["body"].startswith(f"--{boundary}\r\n".encode())


def test_odata_transport_429_honors_retry_after(server):
    script, base = server
    script.push(429, {"Retry-After": "7"})
    script.push(200, {}, _batch_response([204]))
    slept = []
    transport = _mk_transport(base, script, ["tokA"])
    transport.sleep = slept.append
    assert transport([{"business_key": "k", "v": 1}]) == [204]
    assert slept == [7.0]  # wire Retry-After, not exponential guess
    assert len(script.requests) == 2


def test_odata_transport_midload_401_refreshes_and_resends(server):
    """Whole-request 401 -> per-row 401s -> _send_batch triggers
    on_auth_error (TokenProvider.invalidate) -> resend carries a FRESH
    token — the reference's re-auth discipline on the real wire."""
    script, base = server
    script.push(401, {}, b"token expired")
    script.push(200, {}, _batch_response([204, 204]))
    transport = _mk_transport(base, script, ["tokOLD", "tokNEW"])
    stats = BatchStats()
    _send_batch(
        [{"business_key": "k1"}, {"business_key": "k2"}],
        transport,
        RetryPolicy(max_attempts=3),
        stats,
        sleep=lambda s: None,
        on_auth_error=transport.on_auth_error,
    )
    assert (stats.updated, stats.errors) == (2, 0)
    assert script.requests[0]["headers"]["authorization"] == "Bearer tokOLD"
    assert script.requests[1]["headers"]["authorization"] == "Bearer tokNEW"


def test_odata_transport_connection_drop_reconnects(server):
    """Server closing the keep-alive between requests must not fail the
    batch: HttpClient reconnects transparently."""
    script, base = server
    script.push(200, {"Connection": "close"}, _batch_response([204]))
    script.push(200, {}, _batch_response([204]))
    transport = _mk_transport(base, script, ["t"])
    assert transport([{"business_key": "a"}]) == [204]
    assert transport([{"business_key": "b"}]) == [204]


# ---------------------------------------------------------------------------
# Graph-style sendMail
# ---------------------------------------------------------------------------


def test_graph_sender_wire_format(server):
    script, base = server
    script.push(202)
    client = ht.HttpClient(base, timeout=10)
    tokens = TokenProvider(fetch=lambda: "gtok", max_age_seconds=3600)
    sender = ht.GraphMailSender(
        client, "ops@example.com", ["a@example.com", "b@example.com"], tokens
    )
    from bw_new_data_integration_spark.notifications import RunSummary, notify

    notify(RunSummary(pipeline="daily_sales", rows=10, ok=True), sender)
    req = script.requests[0]
    assert req["path"] == "/v1.0/users/ops@example.com/sendMail"
    assert req["headers"]["authorization"] == "Bearer gtok"
    msg = json.loads(req["body"])
    assert msg["message"]["subject"] == "[pipeline:daily_sales] SUCCESS"
    assert msg["message"]["body"]["contentType"] == "Text"
    assert [r["emailAddress"]["address"] for r in msg["message"]["toRecipients"]] == [
        "a@example.com",
        "b@example.com",
    ]
    assert msg["saveToSentItems"] == "true"


def test_graph_sender_retries_429_then_delivers(server):
    script, base = server
    script.push(429, {"Retry-After": "3"})
    script.push(202)
    client = ht.HttpClient(base, timeout=10)
    tokens = TokenProvider(fetch=lambda: "t", max_age_seconds=3600)
    slept = []
    sender = ht.GraphMailSender(
        client, "s@x.com", ["r@x.com"], tokens, sleep=slept.append
    )
    sender("subj", "body")
    assert slept == [3.0] and len(script.requests) == 2


def test_runner_from_cube_end_to_end(server, spark, tmp_path, monkeypatch):
    """The production topology, driven from the CLI: runner --from-cube
    renders per-period MDX from pipelines.yaml, fetches it over REAL
    HTTP/SOAP (make_xmla_executor on executors), hierarchy-maps,
    coerces, keys, and upserts into the parquet target. The local
    server inspects each SOAP request and answers with a canned
    mddataset whose Net Sales encodes the requested period — so a
    mis-rendered or mis-routed slice shows up as wrong VALUES, not
    just wrong counts."""
    import re

    from bw_new_data_integration_spark import runner
    from bw_new_data_integration_spark.sources import xmla

    script, base = server

    def respond(body: bytes):
        # the RENDERED slicer names the period: [d_Period].&[p]
        m = re.search(rb"\[d_Period\]\.\[d_Period\]\.&\[(\d+)\]", body)
        period = int(m.group(1)) if m else -999
        xml = xmla.render_mddataset(
            ["[Measures].[Order Count]", "[Measures].[Net Sales]"],
            [
                [("[Order].[Priority].[Priority]", "1-URGENT")],
                [("[Order].[Priority].[Priority]", "2-HIGH")],
            ],
            [[10.0 + period, 100.5 + period], [20.0 + period, 200.5 + period]],
        ).encode("utf-8")
        return (200, {"Content-Type": "text/xml"}, xml)

    script.responder = respond
    monkeypatch.setenv("CUBE_PW", "hunter2")
    rc = runner.main(
        [
            "--query", "priority_summary",
            "--from-cube",
            "--fy", "1997",
            "--xmla-server", base,
            "--xmla-user", "svc",
            "--xmla-password-env", "CUBE_PW",
            "--target-root", str(tmp_path),
        ]
    )
    assert rc == 0
    assert len(script.requests) == 13  # one SOAP POST per fiscal period
    # every request is a real Execute envelope with a rendered slicer
    body = script.requests[0]["body"].decode()
    assert "<Catalog>Sales</Catalog>" in body and "${slicer}" not in body

    from bw_new_data_integration_spark.sources.parquet_target import ParquetKeyedTable

    t = ParquetKeyedTable(str(tmp_path / "target_priority_summary"), ["business_key"])
    rows = {r["business_key"]: r for r in t.read(spark).collect()}
    assert len(rows) == 26  # 13 periods x 2 priorities
    # the server encoded the REQUESTED period into every measure, so a
    # mis-rendered or cross-wired slice shows up as a wrong value here
    for k, r in rows.items():
        p = int(re.search(r"_P(\d+)_", k).group(1))
        expected_sales = (100.5 if "1_URGENT" in k else 200.5) + p
        expected_count = (10.0 if "1_URGENT" in k else 20.0) + p
        assert abs(r["sum_totalprice"] - expected_sales) < 1e-9, (k, r)
        assert abs(r["n_orders"] - expected_count) < 1e-9, (k, r)


def test_runner_cube_to_odata_full_topology(server, spark, monkeypatch):
    """THE reference pipeline on real wires, one CLI invocation:
    XMLA/SOAP cube fetch in, $batch multipart keyed upsert out — both
    against the same local HTTP server, routed by path. Asserts the
    sink saw every business key exactly once as a PATCH addressed by
    alternate key, and the runner's summary counts match."""
    import re

    from bw_new_data_integration_spark import runner
    from bw_new_data_integration_spark.sources import xmla

    script, base = server

    def respond(body: bytes):
        if body.startswith(b"--"):  # $batch multipart sink call
            n = body.count(b"PATCH ")
            return (200, {}, _batch_response([204] * n))
        m = re.search(rb"\[d_Period\]\.\[d_Period\]\.&\[(\d+)\]", body)
        period = int(m.group(1)) if m else -999
        xml = xmla.render_mddataset(
            ["[Measures].[Order Count]", "[Measures].[Net Sales]"],
            [[("[Order].[Priority].[Priority]", "1-URGENT")]],
            [[10.0 + period, 100.5 + period]],
        ).encode("utf-8")
        return (200, {"Content-Type": "text/xml"}, xml)

    script.responder = respond
    monkeypatch.setenv("CUBE_PW", "hunter2")
    monkeypatch.setenv("SINK_TOKEN", "sinktok")
    rc = runner.main(
        [
            "--query", "priority_summary",
            "--from-cube",
            "--fy", "1997",
            "--xmla-server", base,
            "--xmla-user", "svc",
            "--xmla-password-env", "CUBE_PW",
            "--to-odata-url", base,
            "--odata-token-env", "SINK_TOKEN",
        ]
    )
    assert rc == 0
    batch_reqs = [r for r in script.requests if r["path"].endswith("/$batch")]
    soap_reqs = [r for r in script.requests if r["path"] == "/xmla/default"]
    assert len(soap_reqs) == 13
    assert batch_reqs, "no $batch upsert reached the sink"
    assert all(r["headers"]["authorization"] == "Bearer sinktok" for r in batch_reqs)
    patched = re.findall(
        rb"PATCH target_priority_summary\(business_key='([^']+)'\)",
        b"".join(r["body"] for r in batch_reqs),
    )
    assert len(patched) == 13  # one row per period, each upserted once
    assert {k.decode() for k in patched} == {
        f"1997_P{p:02d}_1_URGENT" for p in range(1, 14)
    }


def test_graph_sender_hard_failure_raises(server):
    script, base = server
    script.push(400, {}, b"bad request")
    client = ht.HttpClient(base, timeout=10)
    tokens = TokenProvider(fetch=lambda: "t", max_age_seconds=3600)
    sender = ht.GraphMailSender(client, "s@x.com", ["r@x.com"], tokens)
    with pytest.raises(ht.TransportError, match="HTTP 400"):
        sender("subj", "body")


# ---------------------------------------------------------------------------
# runner --probe: the reference's connectivity checklist on real wires
# (Testing Scripts/test_step2_validation.py:32-120 — token fetch,
# 1-measure MDX, single-row test upsert)
# ---------------------------------------------------------------------------


def _probe_responder(base_token):
    from bw_new_data_integration_spark.sources import xmla

    def respond_for(path, body):
        if "/tenant/token" in path:
            return (200, {"Content-Type": "application/json"},
                    json.dumps({"access_token": base_token, "expires_in": 3599}).encode())
        if "/xmla/" in path:
            xml = xmla.render_mddataset(
                ["[Measures].[Order Count]"], [], [[12345.0]]
            ).encode()
            return (200, {"Content-Type": "text/xml"}, xml)
        if "$batch" in path:
            return (200, {"Content-Type": "multipart/mixed; boundary=b1"},
                    _batch_response([204]))
        return (404, {}, b"unexpected path")

    return respond_for


def test_runner_probe_three_steps_green(server, monkeypatch, capsys):
    """--probe drives all three endpoints over real HTTP and reports
    each step: OAuth client-credentials form at the token URL, the
    1-measure Execute envelope at the cube, and a single PATCH
    addressed by alternate key at the $batch endpoint."""
    from bw_new_data_integration_spark import runner

    script, base = server
    respond_for = _probe_responder("tok-abc123")

    def respond(body):
        path = script.requests[-1]["path"]
        return respond_for(path, body)

    script.responder = respond
    monkeypatch.setenv("CUBE_PW", "hunter2")
    monkeypatch.setenv("APP_SECRET", "s3cr3t")
    rc = runner.main(
        [
            "--query", "priority_summary",
            "--probe",
            "--xmla-server", base,
            "--xmla-user", "svc",
            "--xmla-password-env", "CUBE_PW",
            "--to-odata-url", base,
            "--odata-token-url", base + "/tenant/token",
            "--odata-client-id", "app-1",
            "--odata-client-secret-env", "APP_SECRET",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "'probe': True" in out and "'token_len': 10" in out

    reqs = script.requests
    assert [r["path"] for r in reqs] == [
        "/tenant/token", "/xmla/default", "/api/data/v9.2/$batch",
    ]
    # step 1: RFC 6749 client-credentials form
    form = reqs[0]["body"].decode()
    assert "grant_type=client_credentials" in form
    assert "client_id=app-1" in form and "client_secret=s3cr3t" in form
    assert reqs[0]["headers"]["content-type"] == "application/x-www-form-urlencoded"
    # step 2: Execute envelope carrying the 1-measure smoke MDX
    soap = reqs[1]["body"].decode()
    assert "SELECT { [Measures].[Order Count] } ON COLUMNS FROM [Sales]" in soap
    assert reqs[1]["headers"]["soapaction"].endswith("Execute")
    assert reqs[1]["headers"]["authorization"].startswith("Basic ")
    # step 3: one PATCH addressed by the probe alternate key, bearer
    # token from step 1
    batch = reqs[2]["body"].decode()
    assert "PATCH target_priority_summary(business_key='CONNECTIVITY-PROBE')" in batch
    assert batch.count("PATCH ") == 1
    assert reqs[2]["headers"]["authorization"] == "Bearer tok-abc123"


def test_runner_probe_sink_failure_exits_nonzero(server, monkeypatch):
    """A sink rejection (403 on the whole $batch) must fail the probe
    loudly, naming the step — the reference's checklist exits 1 on its
    item 6 the same way."""
    from bw_new_data_integration_spark import runner

    script, base = server
    respond_for = _probe_responder("tok-abc123")

    def respond(body):
        path = script.requests[-1]["path"]
        if "$batch" in path:
            return (403, {}, b"Forbidden")
        return respond_for(path, body)

    script.responder = respond
    monkeypatch.setenv("CUBE_PW", "hunter2")
    monkeypatch.setenv("APP_SECRET", "s3cr3t")
    with pytest.raises(SystemExit) as exc_info:
        runner.main(
            [
                "--query", "priority_summary",
                "--probe",
                "--xmla-server", base,
                "--xmla-user", "svc",
                "--xmla-password-env", "CUBE_PW",
                "--to-odata-url", base,
                "--odata-token-url", base + "/tenant/token",
                "--odata-client-id", "app-1",
                "--odata-client-secret-env", "APP_SECRET",
            ]
        )
    assert "probe sink" in str(exc_info.value)
