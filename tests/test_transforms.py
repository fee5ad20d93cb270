"""1:1 port of the reference's unit tests to DataFrame assertions
(/root/reference/test_lambda_function.py — TestFilterForEs
:70-123, TestProcessKinesisRecord :126-164).  Same fixture record,
same expected outputs; dict-key absence maps to NULL + to_json
omission (SURVEY.md §7)."""

from __future__ import annotations

import base64
import json

import pyspark.sql.functions as F
import pytest

from kinesis_to_opensearch_lambda_spark.operators import pipeline as P
from kinesis_to_opensearch_lambda_spark.sinks import OpenSearchBulkSink, SplunkHECSink
from kinesis_to_opensearch_lambda_spark.streaming.pipeline import decode_stream

# The reference's full 18-field fixture (test_lambda_function.py:26-45).
FULL_RECORD = {
    "datetime": "2026-02-18T10:30:00",
    "random_id": "abc123",
    "kind_id": 5,
    "account_id": 12345,
    "performer_id": 67890,
    "repository_id": 11111,
    "ip": "192.168.1.1",
    "metadata": {"oauth_token_id": 999},  # numeric, as in the reference fixture
    "request_url": "/api/login",
    "http_method": "POST",
    "performer_username": "john_doe",
    "performer_email": "john@example.com",
    "performer_kind": "user",
    "auth_type": "oauth",
    "user_agent": "Mozilla/5.0",
    "request_id": "req-456",
    "x_forwarded_for": "10.0.0.1",
}


def envelope_df(spark, records: list[dict]):
    """Kinesis envelope builder (test_lambda_function.py:64-67)."""
    rows = [
        (base64.b64encode(json.dumps(r).encode()).decode(),) for r in records
    ]
    return spark.createDataFrame(rows, "kinesis_data: string")


def decoded(spark, records: list[dict]):
    return decode_stream(envelope_df(spark, records))


def sink_payloads(df) -> tuple[list[str], list[str]]:
    """What each sink would deliver for ``df``: (OpenSearch, Splunk)."""
    return tuple(
        [r.payload for r in sink(transport_factory=None).serialize(df).collect()]
        for sink in (OpenSearchBulkSink, SplunkHECSink)
    )


class TestProjectEs:
    """TestFilterForEs port (test_lambda_function.py:70-123)."""

    def test_keeps_only_allowlisted_fields(self, spark):
        row = P.project_es(decoded(spark, [FULL_RECORD])).collect()[0]
        assert set(row.asDict().keys()) == set(P.ES_ALLOWED_FIELDS)

    def test_preserves_values(self, spark):
        row = P.project_es(decoded(spark, [FULL_RECORD])).collect()[0].asDict()
        assert row["random_id"] == "abc123"
        assert row["kind_id"] == 5
        assert row["account_id"] == 12345
        assert row["performer_id"] == 67890
        assert row["repository_id"] == 11111
        assert row["ip"] == "192.168.1.1"
        # Documented coercion: map<string,string> renders the reference's
        # numeric 999 as "999" (see AUDIT_SCHEMA comment in pipeline.py).
        assert row["metadata"] == {"oauth_token_id": "999"}
        assert row["datetime"] == "2026-02-18T10:30:00"

    def test_metadata_numeric_value_coercion(self, spark):
        """Pin the wire-format divergence from the reference: numeric
        metadata values (reference fixture oauth_token_id=999,
        test_lambda_function.py:35) are JSON-quoted strings in the ES
        _source because AUDIT_SCHEMA types metadata as
        map<string,string>.  The reference would emit 999 unquoted."""
        df = P.project_es(decoded(spark, [FULL_RECORD]))
        row = df.collect()[0].asDict()
        assert row["metadata"]["oauth_token_id"] == "999"  # str, not int
        rendered = df.select(
            F.to_json(F.struct(*[df[c] for c in df.columns])).alias("j")
        ).collect()[0]["j"]
        assert '"oauth_token_id":"999"' in rendered

    def test_identity_on_already_projected(self, spark):
        once = P.project_es(decoded(spark, [FULL_RECORD]))
        twice = P.project_es(once)
        assert once.columns == twice.columns
        assert once.collect() == twice.collect()

    def test_drops_extended_fields(self, spark):
        cols = P.project_es(decoded(spark, [FULL_RECORD])).columns
        for dropped in (
            "request_url",
            "http_method",
            "performer_username",
            "performer_email",
            "performer_kind",
            "auth_type",
            "user_agent",
            "request_id",
            "x_forwarded_for",
        ):
            assert dropped not in cols

    def test_empty_input_empty_output(self, spark):
        assert P.project_es(decoded(spark, [])).count() == 0


class TestDecodeNormalize:
    """TestProcessKinesisRecord port (test_lambda_function.py:126-164)."""

    def test_base64_json_decode(self, spark):
        row = decoded(spark, [FULL_RECORD]).collect()[0].asDict()
        assert row["random_id"] == "abc123"
        assert row["request_url"] == "/api/login"

    def test_timestamp_derived_equals_datetime(self, spark):
        row = decoded(spark, [FULL_RECORD]).collect()[0].asDict()
        assert row["@timestamp"] == row["datetime"] == "2026-02-18T10:30:00"

    def test_empty_ip_dropped(self, spark):
        rec = dict(FULL_RECORD, ip="")
        row = decoded(spark, [rec]).collect()[0].asDict()
        assert row["ip"] is None  # NULL column = absent key at to_json
        as_json = json.loads(
            decoded(spark, [rec])
            .select(F.to_json(F.struct("random_id", "ip")).alias("j"))
            .collect()[0]
            .j
        )
        assert "ip" not in as_json  # absent-vs-null sink parity

    def test_nonempty_ip_preserved_through_projection(self, spark):
        row = P.project_es(decoded(spark, [FULL_RECORD])).collect()[0].asDict()
        assert row["ip"] == "192.168.1.1"

    def test_malformed_record_filtered(self, spark):
        # ``json.loads`` rejects single quotes too, with or without an id
        texts = [
            "not json{{",
            "{'random_id': 'sq', 'datetime': '2026-02-18T10:30:00', 'ip': ''}",
            "{'datetime': '2026-02-18T10:30:00'}",
            "{\"random_id\": 'sq-value'}",
        ]
        env = spark.createDataFrame(
            [(base64.b64encode(t.encode()).decode(),) for t in texts], "kinesis_data: string"
        )
        df = decode_stream(env)
        assert df.count() == len(texts)  # the decode chain keeps every row
        # R7 None-guard semantics, owned by each sink
        assert sink_payloads(df) == ([], [])

    def test_raw_passthrough_retains_unknown_fields(self, spark):
        rec = dict(FULL_RECORD, totally_new_field="surprise")
        row = decoded(spark, [rec]).collect()[0].asDict()
        assert json.loads(row["_raw"])["totally_new_field"] == "surprise"


class TestDailyIndex:
    def test_daily_index_key(self, spark):
        df = P.with_daily_index(decoded(spark, [FULL_RECORD]), "logs-")
        assert df.collect()[0].es_index == "logs-2026-02-18"

    def test_replay_dedup_by_doc_id(self, spark):
        df = decoded(spark, [FULL_RECORD, FULL_RECORD])
        assert df.count() == 2
        assert P.dedup_by_doc_id(df).count() == 1


@pytest.mark.parametrize(
    "flag,expected",
    [(True, True), ("true", True), ("TRUE", True), ("false", False),
     (None, False), ("", False), (0, False)],
)
def test_splunk_disable_gate(flag, expected):
    """lambda_function.py:106-108 exact gate semantics."""
    from kinesis_to_opensearch_lambda_spark.sinks.splunk import is_disabled

    assert is_disabled(flag) is expected


class TestDecodeFailureSemantics:
    """Reference parity: malformed base64 fails the batch (redelivery
    semantics, lambda_function.py:141); tolerant mode dead-letters."""

    def test_strict_mode_fails_batch_on_bad_base64(self, spark):
        # "Z" is structurally invalid base64 (lone symbol); Spark's
        # decoder throws, failing the batch like the reference's
        # b64decode would (padding errors).  Merely-noisy inputs decode
        # to garbage bytes and are skipped by the sinks' guards —
        # slightly more lenient than CPython, same end state.
        df = spark.createDataFrame([("Z",)], "kinesis_data: string")
        import pytest as _pytest

        with _pytest.raises(Exception):
            sink_payloads(decode_stream(df))

    def test_tolerant_mode_drops_undecodable(self, spark):
        good = base64.b64encode(json.dumps(FULL_RECORD).encode()).decode()
        df = spark.createDataFrame(
            [("Z",), (good,)], "kinesis_data: string"
        )
        es, hec = sink_payloads(decode_stream(df, tolerant=True))
        assert [json.loads(p)["_id"] for p in es] == ["abc123"]
        assert [json.loads(p)["event"]["random_id"] for p in hec] == ["abc123"]


def test_percentile_filter_single_doc_matches_percent_rank(spark, tmp_path):
    """r6 ADVICE: percent_rank of a 1-row corpus is 0.0 (dropped by
    >= 0.25) while the dyadic threshold 4*cum_lt >= n-1 kept it.  The
    n > 1 guard must make BOTH engines return the empty set."""
    import duckdb

    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

    df = spark.createDataFrame(
        [("en", "hello world foo bar baz")], "lang string, text string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    q = REGISTRY["quality_percentile_filter"]
    got = q.spark(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    exp = con.execute(q.oracle).fetchdf()
    assert len(got) == 0 and len(exp) == 0
