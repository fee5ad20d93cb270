"""Oracle-checked queries for the reference-parity pipeline operators
(SURVEY.md §2A: R2 base64 decode, R3 JSON parse, R4 @timestamp copy,
R5 empty-ip drop, R6 ES projection, R8 daily index key, R9 doc-id
dedup, R13 HEC envelope).

Each query synthesizes the Kinesis envelope from the ``events`` table
(deterministic reshape — sources.kinesis), runs the REAL decode chain in
Spark, and is checked against DuckDB SQL that computes the expected
output directly from ``events`` — i.e. the oracle independently verifies
the whole encode→decode→normalize roundtrip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import register
from ..sinks.splunk import SplunkHECSink
from ..sources.batch import fan_out, load_table
from ..sources.kinesis import audit_events_from_events, kinesis_envelope
from ..streaming.pipeline import decode_stream
from . import pipeline as P

# Shared oracle fragments mirroring sources.kinesis.audit_events_from_events.
_SQL_DT = "strftime(ts, '%Y-%m-%dT%H:%M:%S.%f')"
_SQL_IP = (
    "NULLIF(CASE WHEN event_type = 'error' THEN '' "
    "ELSE '10.0.0.' || CAST(user_id % 256 AS VARCHAR) END, '')"
)


def decoded_audit_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> audit records -> Kinesis envelope -> the decode chain
    (R2+R3 decode, R4 @timestamp, R5 empty-ip drop)."""
    events = fan_out(load_table(spark, sf_dir, "events"))
    return decode_stream(kinesis_envelope(audit_events_from_events(events)))


@register(
    "pipeline_daily_index",
    oracle="""
    SELECT 'logs-' || strftime(ts, '%Y-%m-%d') AS es_index,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    """,
    headline=True,
    doc="Flagship: full decode chain + R8 daily index routing + count per index "
    "(reference lambda_function.py:43-50,80).",
)
def pipeline_daily_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = P.with_daily_index(decoded_audit_stream(spark, sf_dir), "logs-")
    return df.groupBy("es_index").agg(F.count("*").alias("n_events"))


@register(
    "pipeline_es_projection",
    oracle=f"""
    SELECT 'ev-' || CAST(event_id AS VARCHAR) AS random_id,
           user_id % 10   AS kind_id,
           user_id        AS account_id,
           user_id * 100  AS performer_id,
           event_id % 1000 AS repository_id,
           {_SQL_IP}      AS ip,
           json_extract_string(props, '$.k') AS metadata_k,
           {_SQL_DT}      AS datetime,
           {_SQL_DT}      AS "@timestamp"
    FROM events
    """,
    doc="R5+R6: empty-ip drop then allowlist projection, order preserved as in "
    "reference handler (lambda_function.py:141,144); metadata map flattened "
    "to metadata_k for engine-portable value hashing.",
)
def pipeline_es_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = P.project_es(decoded_audit_stream(spark, sf_dir))
    return df.select(
        "random_id",
        "kind_id",
        "account_id",
        "performer_id",
        "repository_id",
        "ip",
        F.col("metadata")["k"].alias("metadata_k"),
        "datetime",
        df["@timestamp"],
    )


@register(
    "pipeline_dedup_replay",
    oracle="""
    SELECT 'logs-' || strftime(ts, '%Y-%m-%d') AS es_index,
           count(*) AS n_docs
    FROM events
    GROUP BY 1
    """,
    doc="R9: deterministic doc-id replay dedup — the envelope is unioned with "
    "itself (a redelivered Kinesis batch); dropDuplicates on random_id must "
    "restore exactly-once counts, matching ES _id semantics "
    "(lambda_function.py:81).",
)
def pipeline_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = decoded_audit_stream(spark, sf_dir)
    df = P.dedup_by_doc_id(df.union(df))  # at-least-once redelivery
    df = P.with_daily_index(df, "logs-")
    return df.groupBy("es_index").agg(F.count("*").alias("n_docs"))


@register(
    "pipeline_splunk_envelope",
    oracle=f"""
    SELECT count(*) AS n_events,
           count(DISTINCT sourcetype) AS n_sourcetypes,
           count(DISTINCT "index") AS n_indexes,
           CAST(sum(CASE WHEN has_url THEN 1 ELSE 0 END) AS BIGINT) AS n_with_url
    FROM (
      SELECT 'json' AS sourcetype, 'audit' AS "index",
             true AS has_url
      FROM events
    )
    """,
    doc="R13+R14 shape: full-record Splunk HEC envelope; verifies the "
    "schemaless raw-JSON passthrough retains Splunk-only fields "
    "(reference lambda_function.py:121-125,148).",
)
def pipeline_splunk_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink = SplunkHECSink(transport_factory=None, splunk_index="audit")
    df = sink.serialize(decoded_audit_stream(spark, sf_dir))
    return df.agg(
        F.count("*").alias("n_events"),
        F.count_distinct(F.get_json_object("payload", "$.sourcetype")).alias(
            "n_sourcetypes"
        ),
        F.count_distinct(F.get_json_object("payload", "$.index")).alias("n_indexes"),
        F.sum(
            F.when(
                F.get_json_object("payload", "$.event.request_url").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_with_url"),
    )


@register(
    "pipeline_ip_masking",
    oracle=f"""
    SELECT 'ev-' || CAST(event_id AS VARCHAR) AS random_id,
           regexp_replace({_SQL_IP}, '\\.[0-9]+$', '.***') AS ip_masked
    FROM events
    WHERE event_type != 'error'
    """,
    doc="Data-governance masking: last IP octet redacted before the record "
    "leaves the pipeline (regexp on the normalized column — the PII-"
    "scrubbing hook between normalize and the sinks).",
)
def pipeline_ip_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = decoded_audit_stream(spark, sf_dir).filter(F.col("ip").isNotNull())
    return df.select(
        "random_id",
        F.regexp_replace("ip", r"\.[0-9]+$", ".***").alias("ip_masked"),
    )


@register(
    "pipeline_dlq_stats",
    oracle="""
    SELECT CASE WHEN event_id % 7 = 0 THEN 'bad_base64'
                WHEN event_id % 7 = 1 THEN 'bad_json'
                ELSE 'ok' END AS class,
           count(*) AS n_records
    FROM events
    GROUP BY 1
    """,
    doc="R11 error containment as an oracle-checked batch query: every "
    "7th envelope is corrupted to invalid base64 and every 7th+1 to "
    "valid-base64/invalid-JSON, the tolerant decode (try_to_binary + "
    "from_json — streaming.pipeline.decode_stream(tolerant=True)) classifies "
    "rows into ok / bad_base64 / bad_json without failing the batch, "
    "and the class counts must match the corruption rule exactly.  "
    "This is the dead-letter-queue split the strict reference lacks "
    "(lambda_function.py:141 fails the whole invocation on one bad "
    "record; :84-86 only contains SINK errors) — at scale a poison "
    "pill must cost one DLQ row, not a batch retry storm.",
)
def pipeline_dlq_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = fan_out(load_table(spark, sf_dir, "events"))
    audit = audit_events_from_events(events)
    doc = F.to_json(F.struct(*[audit[c] for c in audit.columns]))
    eid = F.regexp_extract("random_id", "^ev-(\\d+)$", 1).cast("long")
    env = audit.select(
        eid.alias("event_id"),
        F.base64(doc.cast("binary")).alias("kinesis_data"),
    )
    corrupted = env.select(
        F.when(F.col("event_id") % 7 == 0, F.lit("%%%not-base64%%%"))
        .when(
            F.col("event_id") % 7 == 1,
            F.base64(F.lit('{"broken').cast("binary")),
        )
        .otherwise(F.col("kinesis_data"))
        .alias("kinesis_data"),
    )
    dec = decode_stream(corrupted, tolerant=True)
    classed = dec.select(
        F.when(F.col("_raw").isNull(), "bad_base64")
        .when(F.col("random_id").isNull(), "bad_json")
        .otherwise("ok")
        .alias("class")
    )
    return classed.groupBy("class").agg(F.count(F.lit(1)).alias("n_records"))
