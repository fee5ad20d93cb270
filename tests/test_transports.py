"""Live-transport adapters and the Kinesis capability probe.

The network transports are NEVER constructed by engine defaults; these
tests exercise them against a LOCAL http.server stub (no external
network) and assert the reference's delivery semantics — POST shape,
Authorization header, timeout value, containment on failure
(lambda_function.py:92-102) — plus the probe-and-fallback behavior of
the R1 source binding."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from kinesis_to_opensearch_lambda_spark.sinks.base import TransportError
from kinesis_to_opensearch_lambda_spark.sinks.transports import RequestsTransport


class _HECStub(BaseHTTPRequestHandler):
    """Records every POST; status code is scripted per request."""

    requests_seen: list[dict] = []
    status_script: list[int] = []

    def do_POST(self):  # noqa: N802 - BaseHTTPRequestHandler API
        body = self.rfile.read(int(self.headers["Content-Length"]))
        type(self).requests_seen.append(
            {
                "path": self.path,
                "auth": self.headers.get("Authorization"),
                "content_type": self.headers.get("Content-Type"),
                "body": body.decode(),
            }
        )
        status = (
            type(self).status_script.pop(0) if type(self).status_script else 200
        )
        self.send_response(status)
        self.send_header("Content-Length", "2")
        self.end_headers()
        self.wfile.write(b"{}")

    def log_message(self, *a):  # silence stub chatter
        pass


@pytest.fixture()
def hec_server():
    _HECStub.requests_seen = []
    _HECStub.status_script = []
    srv = HTTPServer(("127.0.0.1", 0), _HECStub)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/services/collector", _HECStub
    srv.shutdown()


def test_requests_transport_posts_json_array_with_hec_auth(hec_server):
    url, stub = hec_server
    tr = RequestsTransport(url, token="tok-123")
    assert tr.timeout == 12  # lambda_function.py:97
    tr.send(['{"event":{"a":1}}', '{"event":{"a":2}}'])
    [req] = stub.requests_seen
    assert req["auth"] == "Splunk tok-123"  # lambda_function.py:95
    assert req["content_type"] == "application/json"
    assert json.loads(req["body"]) == [{"event": {"a": 1}}, {"event": {"a": 2}}]


def test_requests_transport_raises_transport_error_on_http_error(hec_server):
    url, stub = hec_server
    stub.status_script = [503]
    tr = RequestsTransport(url, token="tok")
    with pytest.raises(TransportError):
        tr.send(['{"event":1}'])


def test_requests_transport_raises_on_connection_failure():
    # nothing listens on this port: the exception is wrapped, not leaked
    tr = RequestsTransport("http://127.0.0.1:9", token="tok", timeout=0.5)
    with pytest.raises(TransportError):
        tr.send(['{"event":1}'])


def test_splunk_sink_delivers_through_requests_transport(spark, hec_server):
    """End-to-end reference parity: SplunkHECSink (500-chunking,
    max_retries=0, containment) delivering through the live transport
    to the local stub — the failed-POST-counts-zero semantics of
    lambda_function.py:100-102."""
    from kinesis_to_opensearch_lambda_spark.sinks import SplunkHECSink

    from .test_transforms import FULL_RECORD, decoded

    url, stub = hec_server
    df = decoded(
        spark, [dict(FULL_RECORD, random_id=f"id-{i}") for i in range(7)]
    ).coalesce(1)
    sink = SplunkHECSink(
        transport_factory=lambda: RequestsTransport(url, token="tok"),
        max_batch_size=3,
    )
    ok, total = sink.write(df)
    assert (ok, total) == (7, 7)
    assert len(stub.requests_seen) == 3  # 3+3+1 chunks

    # a failing POST drops ONLY its chunk (max_retries=0 + containment)
    stub.requests_seen = []
    stub.status_script = [500]
    ok, total = sink.write(df)
    assert total == 7 and ok == 4  # first chunk (3 events) dropped


def test_opensearch_bulk_transport_is_import_gated():
    """opensearch-py is absent from this image: construction must fail
    with ImportError (gate, don't fake) — nothing in the engine
    constructs it by default."""
    try:
        import opensearchpy  # noqa: F401

        pytest.skip("opensearch-py present; gate test targets absent case")
    except ImportError:
        pass
    from kinesis_to_opensearch_lambda_spark.sinks.transports import (
        OpenSearchBulkTransport,
    )

    with pytest.raises(ImportError):
        OpenSearchBulkTransport("localhost")


def test_kinesis_probe_and_fallback(spark, tmp_path):
    """The capability probe is False for the absent connector, True for
    a built-in source; open_audit_stream falls back to the envelope
    file source and yields the canonical one-column stream."""
    from kinesis_to_opensearch_lambda_spark.sources.kinesis import (
        ENVELOPE_SCHEMA,
        kinesis_connector_available,
        open_audit_stream,
    )

    assert kinesis_connector_available(spark, "parquet")  # registry works
    # capability-aware (SURVEY §14 CI note): in THIS image the connector
    # jar is absent so the probe is False and the fallback branch below
    # is what runs; an image that ships the aws-kinesis connector flips
    # the probe True and open_audit_stream binds the real source — the
    # fallback assertions still hold because fallback_path wins only
    # when the probe is False.
    have_kinesis = kinesis_connector_available(spark, "aws-kinesis")
    if have_kinesis:
        real = open_audit_stream(spark, stream_name="audit", region="us-east-1")
        assert real.isStreaming
        return

    # seed one envelope file so the fallback stream has a schema source
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"kinesis_data": ["aGVsbG8="]}), str(tmp_path / "b0.parquet")
    )
    stream = open_audit_stream(
        spark, stream_name="audit", region="us-east-1", fallback_path=str(tmp_path)
    )
    assert stream.isStreaming
    assert stream.schema == ENVELOPE_SCHEMA

    with pytest.raises(ValueError):
        open_audit_stream(spark, stream_name="audit")  # no fallback given


def test_http_auth_basic_branch_needs_no_package():
    """lambda_function.py:62-63: secret-carried master credentials →
    a plain (user, password) tuple, no opensearch-py required."""
    from kinesis_to_opensearch_lambda_spark.config import EngineConfig
    from kinesis_to_opensearch_lambda_spark.sinks.transports import http_auth_for

    cfg = EngineConfig(auth_user="admin", auth_password="pw")
    assert cfg.auth_mode == "basic"
    assert http_auth_for(cfg) == ("admin", "pw")


def test_http_auth_sigv4_branch_is_import_gated():
    """lambda_function.py:64-66: no secret credentials → AWSV4SignerAuth
    from ambient credentials.  opensearch-py (which ships the signer) is
    absent from this image, so the branch must raise ImportError — gate,
    don't fake."""
    try:
        import opensearchpy  # noqa: F401

        pytest.skip("opensearch-py present; gate test targets absent case")
    except ImportError:
        pass
    from kinesis_to_opensearch_lambda_spark.config import EngineConfig
    from kinesis_to_opensearch_lambda_spark.sinks.transports import http_auth_for

    cfg = EngineConfig()
    assert cfg.auth_mode == "sigv4"
    with pytest.raises(ImportError):
        http_auth_for(cfg, credentials=object(), region="us-east-1")


def test_http_auth_sigv4_requires_injected_credentials(monkeypatch):
    """When the signer IS importable, missing credentials/region must be
    a loud ValueError (the engine never discovers them ambiently — no
    boto3 dependency)."""
    import sys
    import types

    fake = types.ModuleType("opensearchpy")

    class AWSV4SignerAuth:  # matches the real signature (credentials, region)
        def __init__(self, credentials, region):
            self.credentials, self.region = credentials, region

    fake.AWSV4SignerAuth = AWSV4SignerAuth
    monkeypatch.setitem(sys.modules, "opensearchpy", fake)
    from kinesis_to_opensearch_lambda_spark.config import EngineConfig
    from kinesis_to_opensearch_lambda_spark.sinks.transports import http_auth_for

    cfg = EngineConfig()
    with pytest.raises(ValueError):
        http_auth_for(cfg)
    signer = http_auth_for(cfg, credentials="creds", region="eu-west-1")
    assert (signer.credentials, signer.region) == ("creds", "eu-west-1")
