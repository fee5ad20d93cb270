"""Reference-parity pipeline operators (SURVEY.md §2A, R2-R9).

The reference processes each Kinesis record with eager per-row Python
(`/root/reference/lambda_function.py:43-54`):

    base64 decode -> json.loads -> @timestamp := datetime
    -> drop empty ip -> (ES branch) allowlist projection
    -> (ES branch) daily index key + deterministic doc id

Here every step is a declarative DataFrame transformation so Catalyst
fuses the whole chain into one whole-stage-codegen pass over the scan:
no Python executes per row, the JSON parse is vectorized JVM-side, and
column pruning/pushdown reach the source for free.

Scale note (100 TB): the chain is embarrassingly parallel (narrow
transformations only — zero shuffles).  Throughput scales linearly with
executor cores; the only state is the sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Projection allowlist for the OpenSearch branch.
# Reference: ES_ALLOWED_FIELDS at lambda_function.py:16-19.
ES_ALLOWED_FIELDS: tuple[str, ...] = (
    "random_id",
    "kind_id",
    "account_id",
    "performer_id",
    "repository_id",
    "ip",
    "metadata",
    "datetime",
    "@timestamp",
)

# Core audit-event schema implied by the reference fixtures
# (test_lambda_function.py:26-45; typed per SURVEY.md §1.3).  The engine
# parses the core schema for the ES branch and keeps the raw JSON string
# alongside so unknown fields survive to the Splunk branch exactly as in
# the reference's schemaless passthrough (lambda_function.py:141,148).
AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("datetime", T.StringType()),       # ISO-8601, no tz
        T.StructField("random_id", T.StringType()),
        T.StructField("kind_id", T.LongType()),
        T.StructField("account_id", T.LongType()),
        T.StructField("performer_id", T.LongType()),
        T.StructField("repository_id", T.LongType()),
        T.StructField("ip", T.StringType()),
        # Dynamic nested object (reference fixture: {"oauth_token_id": 999},
        # test_lambda_function.py:35).  Typed as map<string,string> to stay
        # schemaless over arbitrary keys; DOCUMENTED COERCION: non-string
        # values (the fixture's numeric 999) are rendered as their JSON
        # text ("999") in the map and therefore quoted in the ES _source.
        # tests/test_transforms.py::test_metadata_numeric_value_coercion
        # pins this divergence with the reference's own numeric fixture.
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
        T.StructField("request_url", T.StringType()),
        T.StructField("http_method", T.StringType()),
        T.StructField("performer_username", T.StringType()),
        T.StructField("performer_email", T.StringType()),
        T.StructField("performer_kind", T.StringType()),
        T.StructField("auth_type", T.StringType()),
        T.StructField("user_agent", T.StringType()),
        T.StructField("request_id", T.StringType()),
        T.StructField("x_forwarded_for", T.StringType()),
    ]
)


# ``from_json`` options for the grammar the reference's ``json.loads``
# accepts: Spark's parser takes single-quoted strings by default.
STRICT_JSON = {"allowSingleQuotes": "false"}


def decode_kinesis(df: DataFrame, tolerant: bool = False) -> DataFrame:
    """R2+R3: base64-decode the Kinesis payload and parse the JSON.

    Reference: ``base64.b64decode`` + ``json.loads`` at
    lambda_function.py:45.  `unbase64`/`from_json` are JVM builtins, so
    the decode stays inside whole-stage codegen (no Python per row).

    Failure semantics: with ``tolerant=False`` (default) invalid base64
    fails the batch — the reference's behaviour exactly (a decode error
    in the :141 list comprehension fails the whole Lambda invocation and
    Kinesis redelivers).  ``tolerant=True`` switches to ``try_to_binary``:
    undecodable records become NULL rows that the sinks' guards skip (or
    a dead-letter branch captures) and the stream keeps going.

    Returns one column per ``AUDIT_SCHEMA`` field plus ``_raw`` (the
    decoded JSON string) — the schemaless Splunk passthrough.  The parse
    takes what ``json.loads`` takes (``STRICT_JSON``): a single-quoted
    record is not JSON, so its fields are NULL and no sink posts it.

    The decode is wrapped in a one-element ``explode`` (a Generate
    node): generated attributes are a predicate-pushdown and
    project-collapse barrier, so the base64+JSON work evaluates exactly
    once per record, and downstream null-guards/projections reference
    the materialized struct instead of re-deriving it (without the
    barrier, Catalyst inlines the parse into every consumer and pushes
    the null-filter below any repartition — onto the narrow scan stage).
    """
    if tolerant:
        raw = F.try_to_binary(F.col("kinesis_data"), F.lit("base64")).cast("string")
    else:
        raw = F.unbase64(F.col("kinesis_data")).cast("string")
    decoded = F.struct(
        F.from_json(raw, AUDIT_SCHEMA, STRICT_JSON).alias("p"), raw.alias("raw")
    )
    passthrough = [F.col(c) for c in df.columns if c != "kinesis_data"]
    out = df.select(*passthrough, F.explode(F.array(decoded)).alias("_dec"))
    return out.select(
        *passthrough,
        *[F.col("_dec.p." + f.name).alias(f.name) for f in AUDIT_SCHEMA.fields],
        F.col("_dec.raw").alias("_raw"),
    )


def with_event_timestamp(df: DataFrame) -> DataFrame:
    """R4: derive ``@timestamp`` as a verbatim copy of ``datetime``.

    Reference: lambda_function.py:46-47 — string copy, no tz
    normalization, set unconditionally.
    """
    return df.withColumn("@timestamp", F.col("datetime"))


def nullify_empty_ip(df: DataFrame) -> DataFrame:
    """R5: drop a falsy ``ip`` (empty string -> absent).

    Reference: lambda_function.py:48-49 pops the key when
    ``not message["ip"]``.  Spark columns are fixed-arity, so "absent"
    is NULL here; absent-vs-null parity is restored at JSON
    serialization time (``to_json`` omits null fields by default),
    matching the reference's sink-visible behaviour.
    """
    return df.withColumn("ip", F.nullif(F.col("ip"), F.lit("")))


def project_es(df: DataFrame) -> DataFrame:
    """R6: allowlist projection for the OpenSearch branch.

    Reference: ``_filter_for_es`` dict comprehension at
    lambda_function.py:52-54.  Expressed as a ``select`` so Catalyst's
    ColumnPruning pushes the narrow read all the way to the source scan.
    Fields absent from the frame are simply not selected (dict-semantics
    parity: the comprehension keeps only keys present in the record).
    """
    keep = [c for c in ES_ALLOWED_FIELDS if c in df.columns]
    return df.select(*[df[c] for c in keep])


def daily_index_col(prefix: str) -> Column:
    """R8: daily index routing key: ``prefix + yyyy-MM-dd(datetime)``.

    Reference: lambda_function.py:80 —
    ``index_prefix + str(datetime.fromisoformat(...).date())``.
    """
    return F.concat(
        F.lit(prefix),
        F.date_format(F.to_timestamp(F.col("datetime")), "yyyy-MM-dd"),
    ).alias("es_index")


def with_daily_index(df: DataFrame, prefix: str) -> DataFrame:
    """R8 as a transform: add the ``es_index`` routing column."""
    return df.withColumn("es_index", daily_index_col(prefix))


def dedup_by_doc_id(df: DataFrame) -> DataFrame:
    """R9: deterministic doc-id replay dedup, batch flavour.

    Reference: OpenSearch ``_id = random_id`` (lambda_function.py:81)
    makes redelivered batches idempotent.  Engine-internal equivalent:
    drop duplicate ids within the batch; the streaming flavour is
    ``dropDuplicatesWithinWatermark`` (see streaming.pipeline).
    """
    return df.dropDuplicates(["random_id"])


def encode_kinesis(df: DataFrame) -> DataFrame:
    """Inverse of :func:`decode_kinesis` — build the Kinesis envelope
    (base64 of a JSON document) from typed columns.

    Used by tests and fixtures to synthesize the stream the reference
    consumes (test_lambda_function.py:64-67 builds the same envelope).
    """
    doc = F.to_json(F.struct(*[df[c] for c in df.columns]))
    return df.select(F.base64(doc.cast("binary")).alias("kinesis_data"))
