"""Handler-compat tests: the reference's TestHandler suite
(test_lambda_function.py:167-260) ported against the drop-in
``compat.handler`` with injected spool sinks."""

from __future__ import annotations

import base64
import json

import pytest

from kinesis_to_opensearch_lambda_spark.compat import handler
from kinesis_to_opensearch_lambda_spark.config import EngineConfig
from kinesis_to_opensearch_lambda_spark.sinks import (
    OpenSearchBulkSink,
    SplunkHECSink,
    SpoolDirTransport,
)
from kinesis_to_opensearch_lambda_spark.sources.kinesis import read_kinesis_stream

from .test_transforms import FULL_RECORD


def kinesis_event(records: list[dict]) -> dict:
    """The AWS envelope the reference receives
    (test_lambda_function.py:64-67)."""
    return {
        "Records": [
            {
                "kinesis": {
                    "data": base64.b64encode(json.dumps(r).encode()).decode()
                }
            }
            for r in records
        ]
    }


@pytest.fixture
def sinks(tmp_path):
    es = OpenSearchBulkSink(
        transport_factory=lambda: SpoolDirTransport(str(tmp_path / "es"))
    )
    hec = SplunkHECSink(
        transport_factory=lambda: SpoolDirTransport(str(tmp_path / "hec"))
    )
    return es, hec, SpoolDirTransport(str(tmp_path / "es")), SpoolDirTransport(
        str(tmp_path / "hec")
    )


def test_handler_es_gets_only_allowlisted(spark, sinks):
    es, hec, es_spool, _ = sinks
    out = handler(kinesis_event([FULL_RECORD]), spark=spark, es_sink=es, splunk_sink=hec)
    assert out == {"elasticsearch": 1, "splunk": 1, "total": 1}
    [action] = es_spool.read_back()
    assert set(action["_source"]) <= {
        "random_id", "kind_id", "account_id", "performer_id",
        "repository_id", "ip", "metadata", "datetime", "@timestamp",
    }
    assert action["_id"] == "abc123"
    assert action["_index"] == "logs-2026-02-18"


def test_handler_splunk_gets_full_record(spark, sinks):
    es, hec, _, hec_spool = sinks
    handler(kinesis_event([FULL_RECORD]), spark=spark, es_sink=es, splunk_sink=hec)
    [event] = hec_spool.read_back()
    payload = event["event"]  # nested object, reference lambda_function.py:121-125
    assert isinstance(payload, dict)
    assert payload["request_url"] == "/api/login"
    assert payload["user_agent"] == "Mozilla/5.0"
    assert payload["@timestamp"] == payload["datetime"]


def test_handler_multi_record_batch(spark, sinks):
    es, hec, es_spool, hec_spool = sinks
    records = [dict(FULL_RECORD, random_id=f"m-{i}") for i in range(7)]
    out = handler(kinesis_event(records), spark=spark, es_sink=es, splunk_sink=hec)
    assert out == {"elasticsearch": 7, "splunk": 7, "total": 7}
    assert {a["_id"] for a in es_spool.read_back()} == {f"m-{i}" for i in range(7)}
    assert len(hec_spool.read_back()) == 7


def test_handler_runs_one_spark_job(spark, sinks):
    """Both sinks and the shared ``total`` come from one delivery pass:
    one Spark job per call, no persist and no count()."""
    es, hec, es_spool, hec_spool = sinks
    no_id = {k: v for k, v in FULL_RECORD.items() if k != "random_id"}
    sc = spark.sparkContext
    sc.setJobGroup("compat-one-pass", "handler call")
    try:
        out = handler(
            kinesis_event([FULL_RECORD, no_id]), spark=spark, es_sink=es, splunk_sink=hec
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out == {"elasticsearch": 1, "splunk": 2, "total": 2}
    assert len(sc.statusTracker().getJobIdsForGroup("compat-one-pass")) == 1
    assert len(es_spool.read_back()) == 1 and len(hec_spool.read_back()) == 2


def test_handler_respects_splunk_disable(spark, sinks):
    es, hec, _, hec_spool = sinks
    cfg = EngineConfig(splunk_disabled="true")
    out = handler(
        kinesis_event([FULL_RECORD]), spark=spark, config=cfg,
        es_sink=es, splunk_sink=hec,
    )
    assert out == {"elasticsearch": 1, "splunk": 0, "total": 1}
    assert hec_spool.read_back() == []


def test_kinesis_connector_binding_raises_clearly(spark):
    with pytest.raises(RuntimeError, match="connector"):
        read_kinesis_stream(spark, "audit-stream", "us-east-1")


def test_handler_null_id_record_reaches_splunk_not_es(spark, sinks):
    """ADVICE r1: the random_id None-guard applies only to the ES branch
    (reference lambda_function.py:78-81 keys ES on random_id; the Splunk
    loop :117-126 posts every parsed record).  A record with no
    random_id must reach Splunk and be absent from ES."""
    es, hec, es_spool, hec_spool = sinks
    no_id = {k: v for k, v in FULL_RECORD.items() if k != "random_id"}
    out = handler(
        kinesis_event([FULL_RECORD, no_id]),
        spark=spark,
        es_sink=es,
        splunk_sink=hec,
    )
    assert out == {"elasticsearch": 1, "splunk": 2, "total": 2}
    assert {a["_id"] for a in es_spool.read_back()} == {"abc123"}
    urls = [e["event"]["request_url"] for e in hec_spool.read_back()]
    assert urls == ["/api/login", "/api/login"]


def test_handler_counter_denominator_quirk(spark, sinks, capsys):
    """VERDICT r2 #7: the reference prints ``success/total`` with
    ``total = len(processed_records)`` for BOTH branches
    (lambda_function.py:87,137) — so the ES line's denominator counts
    the record its own None-guard skipped.  The drop-in handler must
    report the same denominators, quirk included."""
    es, hec, _, _ = sinks
    no_id = {k: v for k, v in FULL_RECORD.items() if k != "random_id"}
    handler(
        kinesis_event([FULL_RECORD, no_id]),
        spark=spark,
        es_sink=es,
        splunk_sink=hec,
    )
    out = capsys.readouterr().out
    assert "Successfully processed 1/2 items for opensearch" in out
    assert "Successfully processed 2/2 items to Splunk" in out


def test_handler_invalid_json_reaches_neither_sink(spark, sinks, capsys):
    """A payload that is not a parsed JSON object is skipped by both
    sinks' guards (lambda_function.py:78-79,117-119) instead of being
    posted to Splunk as broken JSON; ``total`` still counts it — the
    reference's shared denominator."""
    es, hec, es_spool, hec_spool = sinks
    event = kinesis_event([FULL_RECORD])
    event["Records"].append(
        {"kinesis": {"data": base64.b64encode(b'{"broken').decode()}}
    )
    out = handler(event, spark=spark, es_sink=es, splunk_sink=hec)
    assert out == {"elasticsearch": 1, "splunk": 1, "total": 2}
    assert [a["_id"] for a in es_spool.read_back()] == ["abc123"]
    assert [e["event"]["random_id"] for e in hec_spool.read_back()] == ["abc123"]
    printed = capsys.readouterr().out
    assert "Successfully processed 1/2 items for opensearch" in printed
    assert "Successfully processed 1/2 items to Splunk" in printed
