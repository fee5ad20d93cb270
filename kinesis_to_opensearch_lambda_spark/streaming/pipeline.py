"""Streaming pipeline wiring (SURVEY.md §3.1 Spark mapping).

The reference's whole lifecycle — Kinesis batch in, decode, fan-out to
two sinks (lambda_function.py:140-148) — is one streaming query here:

    readStream (envelope) -> decode/normalize (operators.pipeline)
      -> writeStream.foreachBatch(fan-out)

Each sink's payload is a column of one projection in the query's plan
(``sinks.base.payload_frame``), analysed once at start and re-planned
incrementally per micro-batch; inside ``foreachBatch`` one
``foreachPartition`` (``sinks.base.deliver``) hands every row to both
sinks — one source read, one Spark job and no persist per micro-batch,
exactly the reference's single loop over its batch (the two-`writeStream`
alternative would read the source twice; SURVEY.md §2A R16).

Cadence: the live query fires one trigger per second, the reference's
cadence — its Kinesis event-source mapping polls each shard once a
second and hands the Lambda one batch (lambda_function.py:140-148).
Every trigger pays a fixed cost (planning, the offset and commit log
writes, one state-store commit per state partition), so the cadence is
the latency/throughput dial: one trigger per second bounds that cost
per second of stream, and an idle stream lists its source once a
second instead of every 10 ms.

Delivery semantics: checkpointed offsets + at-least-once sinks; the ES
path is made effectively idempotent by the deterministic doc id
(lambda_function.py:81), whose streaming twin here is
``dropDuplicatesWithinWatermark`` on ``random_id`` (the raw payload for
an id-less record); without it the Splunk path duplicates on
redelivery, identical to the reference.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import pipeline as P
from ..sinks.base import deliver, payload_frame

# The live trigger: the Kinesis event-source mapping's once-per-second
# poll per shard.
LIVE_TRIGGER = "1 second"


def decode_stream(envelope_stream: DataFrame, tolerant: bool = False) -> DataFrame:
    """R2-R5: the engine's one decode chain — ``decode_kinesis`` ->
    ``with_event_timestamp`` -> ``nullify_empty_ip`` — over a batch or
    streaming envelope frame (narrow ops only: the plan stays stateless
    and shuffle-free).

    Every row stays in the frame, as in the reference, where each sink
    applies its own None-guard (lambda_function.py:78-79,117-119): the
    OpenSearch sink skips a NULL ``random_id`` and the Splunk sink skips
    a record that is not a parsed JSON object.  The default strict mode
    fails the batch on structurally invalid base64, matching the
    reference's redelivery semantics; ``tolerant=True`` turns such
    records into NULL rows instead (route them with
    :func:`split_dead_letters`).
    """
    df = P.decode_kinesis(envelope_stream, tolerant=tolerant)
    return P.nullify_empty_ip(P.with_event_timestamp(df))


def split_dead_letters(decoded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Route a tolerant-mode stream into (good, dead) frames by
    ``random_id``.

    Dead letters keep only the raw payload + a reason tag — enough to
    replay after a fix.  Both frames derive from one decode; each one
    consumed is a separate Spark job over the batch, so a caller that
    consumes both within one ``foreachBatch`` persists the batch first.
    """
    good = decoded.filter(F.col("random_id").isNotNull())
    dead = decoded.filter(F.col("random_id").isNull()).select(
        F.col("_raw").alias("raw_payload"),
        F.lit("decode_or_parse_failure").alias("reason"),
    )
    return good, dead


def replay_dedup(decoded: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """R9 streaming flavour: drop redelivered doc ids within the
    watermark horizon — state-store-backed, bounded memory (the
    reference delegates this dedup to the ES ``_id`` upsert).

    The key is ``random_id``, or the raw payload for a record without
    one: distinct id-less records all reach Splunk, as in the reference,
    while a byte-identical redelivery is still dropped.
    """
    return (
        decoded.withColumn("event_time", F.to_timestamp("datetime"))
        .withColumn("_dedup_key", F.coalesce("random_id", "_raw"))
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["_dedup_key"])
        .drop("_dedup_key")
    )


def dual_sink_fanout(
    decoded: DataFrame,
    es_sink,
    splunk_sink,
    checkpoint_dir: str,
    available_now: bool = True,
    dedup_watermark: str | None = None,
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """R16: one micro-batch, two sinks, one delivery pass.

    ``available_now=True`` drains everything currently in the source
    and stops — the test/batch-replay trigger.  ``available_now=False``
    is the production path: a processing-time trigger every
    ``LIVE_TRIGGER``, so each second's arrivals go out as one
    micro-batch.

    With ``dedup_watermark`` set, the dedup keeps its state on
    ``spark.sql.shuffle.partitions`` partitions as set when the
    checkpoint first starts; Spark records that count in the offset
    log's metadata and restores it from there on every restart.
    """
    stream = decoded
    if dedup_watermark is not None:
        stream = replay_dedup(stream, dedup_watermark)
    # projected (R6) and full record (R13/R14), once per query
    stream, sinks = payload_frame(stream, (es_sink, splunk_sink))

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        n = deliver(batch_df, sinks)
        if on_batch is not None:
            on_batch(epoch_id, n)  # every row the pass iterated

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update" if dedup_watermark else "append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=LIVE_TRIGGER)
    return writer.start()


# --- event-time windowed aggregations (reference has none; SURVEY §2B) --

def hourly_counts(
    events: DataFrame, ts_col: str = "ts", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1h window counts with late-data watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n")
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window counts (overlapping windows)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), F.col("w.end").alias("win_end"), "n")
    )


def session_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key: str = "user_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native streaming sessionization (session_window) — the streaming
    twin of operators.relational.sessionize."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key)
        .agg(F.count("*").alias("n_events"))
        .select(
            key,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
