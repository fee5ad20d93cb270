"""Oracle-checked streaming queries.  Every entry drives a real
StreamingQuery to completion and compares what it drained with a batch
oracle; the oracles are exact because a drain of a fixed set of source
files is deterministic.

Most entries drain mtime-ordered parquet micro-batches
(`_write_mtime_batches`) with Trigger.AvailableNow into a memory sink
(`_drain_to_view`).  `streaming_fanout_counts` runs the full reference
lifecycle — envelope source -> decode -> foreachBatch dual-sink fan-out —
and reads both sinks' delivered counts from their accumulators.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from .. import scale
from ..queries import register
from ..sinks import OpenSearchBulkSink, SplunkHECSink, SpoolDirTransport
from ..sources.batch import fan_out, load_table
from ..sources.kinesis import audit_events_from_events, kinesis_envelope, read_envelope_stream
from ..streaming.pipeline import decode_stream, dual_sink_fanout


def _drain(q, timeout_s: int = 600) -> None:
    """Block until an availableNow StreamingQuery finishes — LOUDLY.

    ``awaitTermination(timeout)`` returns False after the timeout
    WITHOUT stopping the query.  Treating that as completion is a
    silent-wrong-results bug, observed in the r10 sf10 streaming
    sweep: the stream-stream join's micro-batch outlived the 600s
    wait, the builder read a zero-file spool (0 rows vs the oracle's
    24) and the tempdir teardown then raced the still-live query's
    state-store commits (CANNOT_WRITE_STATE_STORE noise).  On timeout
    this stops the query and raises, so a too-slow drain is an
    explainable failure, never a truncated result."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain within "
            f"{timeout_s}s; refusing to read a partial spool"
        )


def _drain_to_view(
    frame: DataFrame, mode: str, d: str, conf: dict[str, object] | None = None
) -> DataFrame:
    """Drain the streaming ``frame`` with availableNow into a memory sink
    in output ``mode``, checkpointed under ``d``, and return the sink's
    table.  ``conf`` holds for the start and the drain only.  The sink
    keeps its rows in the driver, so the table stays readable after
    ``d`` is removed."""
    spark = frame.sparkSession
    name = f"drain_{uuid.uuid4().hex[:12]}"
    with scale.scoped_conf(spark, conf or {}):
        q = (
            frame.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
    return spark.table(name)


def _write_mtime_batches(
    df: DataFrame,
    batch_col,
    d: str,
    n_batches: int,
    payload: list[str] | None = None,
    sub_col=None,
    files_per_batch: int = 1,
) -> tuple[DataFrame, str]:
    """Write ``df`` as ``n_batches`` mtime-ordered parquet micro-batch
    sources in ONE job, and return the stream over them with its source
    directory.

    A ``partitionBy`` write of the batch key after ``repartition(n,
    key)`` puts every batch in exactly one task, so each ``_b=<b>/`` dir
    holds exactly ONE part file, which is then moved to
    ``src/b<b>.parquet`` with a pinned mtime (the file source drains
    oldest-mtime-first).  Row order WITHIN a batch file is
    shuffle-dependent — callers must be row-order-insensitive within a
    micro-batch (the stateful consumers sort by key; the aggregating
    consumers group), which is also the only honest assumption for a
    real distributed source.

    ``payload`` selects the columns written to the source files
    (default: all of ``df``'s columns) — for builders whose batch key
    derives from a column the stream schema does not carry.  The
    stream's schema is the payload's.

    ``files_per_batch`` > 1 splits every micro-batch into that many
    source files (``sub_col`` must then supply a deterministic
    in-batch split key, e.g. ``doc_id % files_per_batch``); mtimes
    order every file of batch b before any file of batch b+1, and the
    stream reads ``maxFilesPerTrigger=files_per_batch``, so it consumes
    exactly one batch per trigger while the scan stage parallelizes
    across the batch's files — the honest shape of a real distributed
    stream batch (a firehose shard group never lands as one file).
    """
    payload = list(payload or df.columns)
    w = files_per_batch
    tmp = f"{d}/tmp_parts"
    out = df.withColumn("_b", batch_col)
    part_cols = ["_b"]
    if w > 1:
        if sub_col is None:
            raise ValueError("files_per_batch > 1 requires sub_col")
        out = out.withColumn("_s", sub_col)
        part_cols.append("_s")
    (
        out.select(*part_cols, *payload)
        .repartition(n_batches * w, *part_cols)
        .write.partitionBy(*part_cols)
        .parquet(tmp)
    )
    src = f"{d}/src"
    os.makedirs(src, exist_ok=True)
    for b in range(n_batches):
        for s in range(w):
            pdir = f"{tmp}/_b={b}" + (f"/_s={s}" if w > 1 else "")
            dst = f"{src}/b{b}s{s}.parquet"
            parts = (
                [f for f in os.listdir(pdir) if f.startswith("part-")]
                if os.path.isdir(pdir)
                else []
            )
            if parts:
                shutil.move(f"{pdir}/{parts[0]}", dst)
            else:  # empty batch: a schema-bearing empty file keeps its trigger
                df.select(*payload).limit(0).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(f"{tmp}/empty{b}_{s}")
                part = next(
                    f
                    for f in os.listdir(f"{tmp}/empty{b}_{s}")
                    if f.startswith("part-")
                )
                shutil.move(f"{tmp}/empty{b}_{s}/{part}", dst)
            t = 1_000_000_000 + b * 100 + s
            os.utime(dst, (t, t))
    stream = (
        df.sparkSession.readStream.schema(df.select(*payload).schema)
        .option("maxFilesPerTrigger", w)
        .parquet(src)
    )
    return stream, src


@register(
    "streaming_fanout_counts",
    oracle="""
    SELECT 'opensearch' AS sink, count(*) AS n_delivered FROM events
    UNION ALL
    SELECT 'splunk' AS sink, count(*) AS n_delivered FROM events
    """,
    doc="End-to-end Structured Streaming run (R1/R16): events -> Kinesis "
    "envelope parquet -> readStream -> decode -> foreachBatch dual sink "
    "(availableNow). Both sinks must deliver every event exactly once.",
)
def streaming_fanout_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    with tempfile.TemporaryDirectory(
        prefix="stream_fanout_", ignore_cleanup_errors=True
    ) as d:
        events = fan_out(load_table(spark, sf_dir, "events"))
        env = kinesis_envelope(audit_events_from_events(events))
        env.write.mode("overwrite").parquet(f"{d}/src")

        es = OpenSearchBulkSink(
            transport_factory=lambda: SpoolDirTransport(f"{d}/es")
        )
        hec = SplunkHECSink(
            transport_factory=lambda: SpoolDirTransport(f"{d}/hec")
        )
        stream = decode_stream(read_envelope_stream(spark, f"{d}/src"))
        q = dual_sink_fanout(stream, es, hec, f"{d}/ckpt")
        _drain(q)
        rows = [
            ("opensearch", es.last_success),
            ("splunk", hec.last_success),
        ]
    return spark.createDataFrame(rows, "sink: string, n_delivered: bigint")


@register(
    "streaming_watermark_drops",
    oracle="""
    WITH src AS (
      SELECT event_id,
             TIMESTAMP '2026-01-01 00:15:00'
               + (event_id % 12) * INTERVAL 1 HOUR AS ts,
             CASE WHEN event_id % 5 = 0 THEN 3
                  WHEN event_id % 5 = 4 THEN 2
                  ELSE 1 END AS batch
      FROM events
    ), wm AS (
      SELECT max(ts) - INTERVAL 210 MINUTE AS w FROM src WHERE batch < 3
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n_events
    FROM src, wm
    WHERE batch < 3 OR date_trunc('hour', ts) + INTERVAL 1 HOUR > w
    GROUP BY 1
    """,
    doc="Watermark late-data drops, end-to-end through a real "
    "StreamingQuery: three parquet files become three micro-batches "
    "(maxFilesPerTrigger=1, availableNow, mtime-ordered). Batch 1 "
    "advances the event-time watermark to max(ts) - 210min; Spark "
    "filters late records with the PREVIOUS batch's watermark "
    "(SPARK-40925 two-watermark semantics: lateness uses the pre-batch "
    "value, eviction the post-batch value), so batch 2 is a heartbeat "
    "and batch 3's late rows are dropped exactly when their hour "
    "window's end <= that watermark. Event times are synthesized from "
    "event_id (hour = id%12, batch = f(id%5)) so the drop set is "
    "deterministic and the oracle encodes the identical rule in SQL. "
    "Boundary-tie-free: the watermark (xx:45) never equals a window end.",
)
def streaming_watermark_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory(
        prefix="stream_wm_", ignore_cleanup_errors=True
    ) as d:
        ids = load_table(spark, sf_dir, "events").select("event_id")
        src = ids.select(
            "event_id",
            F.expr(
                "timestamp '2026-01-01 00:15:00'"
                " + make_interval(0, 0, 0, 0, event_id % 12, 0, 0)"
            ).alias("ts"),
            F.when(F.col("event_id") % 5 == 0, F.lit(3))
            .when(F.col("event_id") % 5 == 4, F.lit(2))
            .otherwise(F.lit(1))
            .alias("batch"),
        )
        # watermark advance and late-drop decisions depend only on each
        # batch's max event time and membership, never on in-file row order
        stream, _ = _write_mtime_batches(
            src, F.col("batch") - 1, d, 3, payload=["event_id", "ts"]
        )
        agg = (
            stream.withWatermark("ts", "210 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
        )
        # update-mode sink holds one row per (window, batch-with-change);
        # counts only grow, so max(n) per window is the final state
        upd = _drain_to_view(agg, "update", d)
        return upd.groupBy(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            )
        ).agg(F.max("n").alias("n_events"))


def _one_task_per_side(both: DataFrame) -> DataFrame:
    """Put the rows of side 0 and side 1 into two separate partitions,
    so the partitioned write runs as two tasks.  Hash partitioning
    cannot promise that: ``pmod(hash(0), 2) == pmod(hash(1), 2) == 1``,
    so ``repartition(2, "_side")`` sends both sides to one task.  Range
    partitioning on the two-valued key splits them at the boundary."""
    return both.repartitionByRange(2, "_side")


@register(
    "streaming_stream_stream_join",
    oracle="""
    WITH km AS (
      SELECT 200 * greatest(1, count(*) // 100000) AS key_mod FROM events
    ), imp AS (
      SELECT (event_id // 3) % key_mod AS k,
             TIMESTAMP '2026-02-01 00:00:00'
               + ((event_id // 3) % 24) * INTERVAL 1 HOUR AS its
      FROM events, km WHERE event_id % 3 = 0
    ), clk AS (
      SELECT (event_id // 3) % key_mod AS ck,
             TIMESTAMP '2026-02-01 00:00:00'
               + ((event_id // 3) % 24) * INTERVAL 1 HOUR
               + ((event_id // 3) % 30) * INTERVAL 1 MINUTE AS cts
      FROM events, km WHERE event_id % 3 = 1
    )
    SELECT strftime(its, '%Y-%m-%d %H:%M:%S') AS hour_start,
           count(*) AS n_matches
    FROM imp JOIN clk
      ON imp.k = ck AND cts >= its AND cts < its + INTERVAL 45 MINUTE
    GROUP BY 1
    """,
    doc="Stream-stream inner join through a real StreamingQuery: "
    "impression and click streams (disjoint deterministic slices of "
    "events, times synthesized from event_id) joined on key + an "
    "event-time range (click within 45min of the impression), both "
    "sides watermarked so the state store can evict — the append-mode "
    "requirement. One file per side -> one micro-batch, so the drained "
    "result equals the batch join and the oracle is exact. At scale "
    "the join keys co-partition both state stores; the watermark "
    "bounds state to ~2x the range window per key PROVIDED key "
    "cardinality scales with the data: the synthetic key modulus is "
    "derived from the row count (200 keys per 100k events, exact 200 "
    "below that so sf<=0.1 results are unchanged).  The r10 sf10 sweep "
    "proved why: a FIXED 200-key lattice makes matched-pair mass grow "
    "quadratically with sf (1.8M rows at sf0.1 -> ~18.5B at sf10, an "
    "unfinishable micro-batch); with the derived modulus it grows "
    "linearly (~185M at sf10).  Both engines derive the modulus from "
    "the same count, so parity holds at every scale.",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory(
        prefix="stream_ssj_", ignore_cleanup_errors=True
    ) as d:
        ids = load_table(spark, sf_dir, "events").select("event_id")
        # key_mod mirrors the oracle's km CTE exactly (same count, same
        # formula); .count() here is a cheap parquet-metadata action
        n_events = ids.count()
        key_mod = 200 * max(1, n_events // 100_000)
        base = "timestamp '2026-02-01 00:00:00'"
        imp = ids.filter(F.col("event_id") % 3 == 0).select(
            F.expr(f"(event_id div 3) % {key_mod}").alias("k"),
            F.expr(
                f"{base} + make_interval(0, 0, 0, 0,"
                " (event_id div 3) % 24, 0, 0)"
            ).alias("its"),
        )
        clk = ids.filter(F.col("event_id") % 3 == 1).select(
            F.expr(f"(event_id div 3) % {key_mod}").alias("ck"),
            F.expr(
                f"{base} + make_interval(0, 0, 0, 0, (event_id div 3) % 24,"
                " (event_id div 3) % 30, 0)"
            ).alias("cts"),
        )
        # ONE write job for both sides, so events is scanned once: a
        # union tagged by side + one 2-task partitioned write (see
        # _one_task_per_side) lands one file per side (the join and the
        # post-hoc aggregate are row-order-insensitive, so in-file order
        # is immaterial).  Generic (key, ts) column names in the files;
        # each side renames on read, keeping the join/oracle shapes
        # byte-identical.
        both = imp.select(
            F.lit(0).alias("_side"), F.col("k").alias("key"), F.col("its").alias("ts")
        ).unionByName(
            clk.select(
                F.lit(1).alias("_side"),
                F.col("ck").alias("key"),
                F.col("cts").alias("ts"),
            )
        )
        tmp = f"{d}/tmp_sides"
        _one_task_per_side(both).write.partitionBy("_side").parquet(tmp)
        for side, sub in ((0, "imp"), (1, "clk")):
            pdir = f"{tmp}/_side={side}"
            os.makedirs(f"{d}/{sub}", exist_ok=True)
            parts = (
                [f for f in os.listdir(pdir) if f.startswith("part-")]
                if os.path.isdir(pdir)
                else []
            )
            if parts:
                shutil.move(f"{pdir}/{parts[0]}", f"{d}/{sub}/data.parquet")
            else:  # empty side: keep a schema-bearing empty file
                both.select("key", "ts").limit(0).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(f"{tmp}/empty{side}")
                part = next(
                    f
                    for f in os.listdir(f"{tmp}/empty{side}")
                    if f.startswith("part-")
                )
                shutil.move(f"{tmp}/empty{side}/{part}", f"{d}/{sub}/data.parquet")
        imp_s = (
            spark.readStream.schema("key bigint, ts timestamp")
            .parquet(f"{d}/imp")
            .select(F.col("key").alias("k"), F.col("ts").alias("its"))
        ).withWatermark("its", "1 hour")
        clk_s = (
            spark.readStream.schema("key bigint, ts timestamp")
            .parquet(f"{d}/clk")
            .select(F.col("key").alias("ck"), F.col("ts").alias("cts"))
        ).withWatermark("cts", "1 hour")
        joined = imp_s.join(
            clk_s,
            F.expr(
                "k = ck AND cts >= its AND cts < its + interval 45 minutes"
            ),
        )
        # Spool the join output to a parquet sink (executor-side
        # files), never a driver-memory sink: matched pairs grow with
        # the data (1.8M rows at sf0.1 already OOMs a default 1g heap
        # if collected in a memory sink) while the post-hoc aggregate
        # is 24 rows.  Aggregations after stream-stream joins are
        # append-only in Spark, which would drop the last unsealed
        # windows — aggregating the spooled files sidesteps that while
        # keeping the drained result exactly equal to the batch join.
        # Only `its` is spooled: it is the only column the aggregate
        # reads, and at sf10 the 1-column spool is ~4x fewer bytes.
        # Shuffle width derives from the CANDIDATE-PAIR MASS, not the
        # source bytes (r13): this drain's cost is two-sided — join
        # output generation wants parallelism (the r13 session-1 probe
        # showed width 1 = 9.8s vs 32 = 8.1s at sf0.1), while each
        # extra partition pays 4 state-store commits x 2 triggers of
        # fixed overhead (cumulative commitTimeMs 29-58s across the 128
        # stores at width 32).  ceil(pairs / 1M) balances the two:
        # sf0.1 -> 6 (measured drain 6.0s @32, 4.0-4.6s @8, 3.1-3.4s
        # @4), sf0.01 -> 1, sf10 -> session width (the 100 TB shape —
        # output mass keeps the full fleet busy).  Exact counts both
        # sides are known from the already-materialized ids.count().
        pair_mass = (n_events // 3) ** 2 // key_mod
        with scale.scoped_conf(
            spark, {"spark.sql.shuffle.partitions": scale.rows_width(spark, pair_mass)}
        ):
            q = (
                joined.select("its")
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", f"{d}/out")
                .option("checkpointLocation", f"{d}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            _drain(q)
        agg = (
            spark.read.schema("its timestamp")
            .parquet(f"{d}/out")
            .groupBy(
                F.date_format("its", "yyyy-MM-dd HH:mm:ss").alias("hour_start")
            )
            .agg(F.count(F.lit(1)).alias("n_matches"))
        )
        # the spool lives in the scratch dir: collect before it goes
        return spark.createDataFrame(agg.collect(), agg.schema)


@register(
    "streaming_stateful_user_totals",
    oracle="""
    SELECT user_id, count(*) AS total_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful streaming operator through a real StreamingQuery "
    "(streaming.stateful.running_user_cents, applyInPandasWithState): "
    "events become 3 mtime-ordered parquet micro-batches "
    "(maxFilesPerTrigger=1, availableNow); per-user (count, cents) "
    "totals live in the GroupState store across batches and each batch "
    "emits the running row. The final drained state per user must equal "
    "the batch ground truth exactly — amounts are accumulated as "
    "integer cents (floor(value*100 + 0.5), explicit half-up) so the "
    "result is independent of batch/arrival order and engine-exact. "
    "At scale the state store is hash-partitioned by the group key and "
    "checkpointed incrementally; watermark/timeout bound its growth.",
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..streaming.stateful import running_user_cents

    with tempfile.TemporaryDirectory(
        prefix="stream_state_", ignore_cleanup_errors=True
    ) as d:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        )
        # per-user totals are commutative, so in-file row order is
        # immaterial
        stream, _ = _write_mtime_batches(
            ev, F.col("event_id") % 3, d, 3, payload=["user_id", "cents"]
        )
        # one emitted row per (user, batch-seen); totals are cumulative,
        # so the struct max (events strictly grow) is the final state
        return (
            _drain_to_view(running_user_cents(stream), "update", d)
            .groupBy("user_id")
            .agg(F.max(F.struct("total_events", "total_cents")).alias("m"))
            .select("user_id", "m.total_events", "m.total_cents")
        )


def state_v2_available() -> bool:
    """Capability probe for ``transformWithStateInPandas``: the state-v2
    python worker speaks a protobuf protocol, so the operator can only
    run where the ``protobuf`` package exists."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


# CAPABILITY-PROBED registration (round-4 verdict item 7): on workers
# with protobuf the query registers like any other (full oracle-checked
# entry); in this container protobuf is absent, the registration is
# skipped, and the operator + lifecycle stay importable — exercised by
# tests/test_streaming.py::test_stateful_highwater_state_v2, which
# skips cleanly when protobuf is absent (gate, do not fake).
_STATE_V2_ORACLE = """
    SELECT user_id,
           CAST(count(DISTINCT event_id % 3) AS BIGINT) AS n_batches,
           max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_cents
    FROM events GROUP BY user_id
    """


def _state_v2_doc() -> str:
    return (
        "Spark 4 arbitrary-state streaming operator through a real "
    "StreamingQuery (streaming.stateful.running_user_highwater, "
    "transformWithStateInPandas / SPARK-49564): per-user typed "
    "ValueState holds (batches_seen, max_cents) across 3 mtime-ordered "
    "parquet micro-batches; each batch emits the running row and the "
    "drained final state must equal the batch ground truth (batch "
    "membership is event_id % 3, amounts are exact integer cents). "
    "This is the state-v2 successor to applyInPandasWithState "
    "(streaming_stateful_user_totals is the v1 twin): named typed "
    "states per key, TTL, and timers — the API a production pipeline "
    "targets on Spark 4.  Registered behind state_v2_available() — "
    "present in the registry wherever the worker can actually run it."
    )


def streaming_stateful_highwater(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..streaming.stateful import running_user_highwater

    with tempfile.TemporaryDirectory(
        prefix="stream_hwm_", ignore_cleanup_errors=True
    ) as d:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        )
        stream, _ = _write_mtime_batches(
            ev, F.col("event_id") % 3, d, 3, payload=["user_id", "cents"]
        )
        # batch counter strictly grows, so the struct max is final state
        return (
            _drain_to_view(running_user_highwater(stream), "update", d)
            .groupBy("user_id")
            .agg(F.max(F.struct("n_batches", "max_cents")).alias("m"))
            .select("user_id", "m.n_batches", "m.max_cents")
        )


if state_v2_available():
    register(
        "streaming_stateful_highwater",
        oracle=_STATE_V2_ORACLE,
        doc=_state_v2_doc(),
    )(streaming_stateful_highwater)


@register(
    "streaming_dlq_split",
    oracle="""
    SELECT CASE WHEN event_id % 7 IN (0, 1) THEN 'dead' ELSE 'good' END
             AS branch,
           count(*) AS n_records
    FROM events
    GROUP BY 1
    """,
    doc="Streaming dead-letter split through a real StreamingQuery: "
    "corrupted envelopes (the pipeline_dlq_stats rule — every 7th "
    "invalid base64, every 7th+1 invalid JSON) flow through the "
    "tolerant decode and streaming.pipeline.split_dead_letters routes "
    "each micro-batch into good/dead frames inside foreachBatch; both "
    "branches spool to parquet and the drained branch counts must "
    "match the corruption rule.  This is the streaming face of R11 "
    "error containment: a poison pill costs one DLQ row and the query "
    "keeps running (the reference fails the whole invocation, "
    "lambda_function.py:141).",
)
def streaming_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..sources.kinesis import audit_events_from_events
    from ..streaming.pipeline import split_dead_letters

    with tempfile.TemporaryDirectory(
        prefix="stream_dlq_", ignore_cleanup_errors=True
    ) as d:
        events = load_table(spark, sf_dir, "events")
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
        corrupted.write.parquet(f"{d}/src")
        stream = (
            spark.readStream.schema("kinesis_data string").parquet(f"{d}/src")
        )
        decoded = decode_stream(stream, tolerant=True)

        def _route(batch_df, epoch_id):
            # r13 measured dead end: persisting batch_df before the dual
            # write re-measured flat-to-slower (5.4s -> 5.7s median at
            # sf0.1) — each branch write prunes to the routing predicate
            # + a literal, so the duplicated decode work is smaller than
            # the cost of materializing the full decoded batch.
            good, dead = split_dead_letters(batch_df)
            good.select(F.lit("good").alias("branch")).write.mode(
                "append"
            ).parquet(f"{d}/good")
            dead.select(F.lit("dead").alias("branch")).write.mode(
                "append"
            ).parquet(f"{d}/dead")

        q = (
            decoded.writeStream.foreachBatch(_route)
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        out = (
            spark.read.parquet(f"{d}/good")
            .unionAll(spark.read.parquet(f"{d}/dead"))
            .groupBy("branch")
            .agg(F.count(F.lit(1)).alias("n_records"))
        )
        # the spools live in the scratch dir: collect before it goes
        return spark.createDataFrame(out.collect(), out.schema)


@register(
    "streaming_sliding_counts",
    oracle="""
    WITH starts AS (
      SELECT make_timestamp(
               (epoch_us(ts) - epoch_us(ts) % 900000000) - i.i * 900000000
             ) AS win_start
      FROM events, range(4) i(i)
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           count(*) AS n_events
    FROM starts
    GROUP BY 1
    """,
    doc="Sliding-window streaming aggregation through a real "
    "StreamingQuery (streaming.pipeline.sliding_counts): 1-hour "
    "windows sliding every 15 minutes, so each event lands in exactly "
    "4 overlapping windows; 3 mtime-ordered micro-batches drain under "
    "availableNow in update mode and the max per window across batch "
    "emissions equals the batch ground truth (counts only grow).  The "
    "oracle derives each event's 4 epoch-aligned window starts "
    "directly — the overlap factor is the thing sliding windows cost "
    "at scale (4x state rows vs tumbling), which the watermark bounds.",
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..streaming.pipeline import sliding_counts

    with tempfile.TemporaryDirectory(
        prefix="stream_slide_", ignore_cleanup_errors=True
    ) as d:
        ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
        # windowed counts are row-order-insensitive within a micro-batch
        stream, _ = _write_mtime_batches(
            ev, F.col("event_id") % 3, d, 3, payload=["ts"]
        )
        # watermark wider than the whole event-time span: batches split
        # by event_id are time-interleaved, so any tighter bound would
        # drop legitimate cross-batch rows (streaming_watermark_drops
        # is the entry that demonstrates eviction on purpose)
        agg = sliding_counts(
            stream, window="1 hour", slide="15 minutes", watermark="2000 hours"
        )
        return (
            _drain_to_view(agg, "update", d)
            .groupBy(
                F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start")
            )
            .agg(F.max("n").cast("bigint").alias("n_events"))
        )


@register(
    "streaming_static_enrich",
    oracle="""
    SELECT coalesce(n.n_name, 'unknown') AS nation,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
    doc="Stream-static broadcast enrichment, the canonical streaming "
    "lookup-join: a live event stream joined per-micro-batch against a "
    "slowly-changing dimension snapshot (customer -> nation), then a "
    "streaming aggregation — the pattern behind every 'enrich events "
    "with account metadata' pipeline.  Runs a REAL StreamingQuery: 3 "
    "mtime-ordered parquet micro-batches drain under availableNow; the "
    "static side is a broadcast hash join INSIDE each micro-batch (the "
    "dim is re-resolved per batch, which is what makes stream-static "
    "joins safe for dimension updates; no state store is involved, "
    "unlike stream-stream joins), and the complete-mode aggregate's "
    "final emission equals the batch ground truth.  At 100 TB/day the "
    "dim stays executor-resident (broadcast once per batch) and the "
    "only streaming state is the tiny per-nation count map.",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory(
        prefix="stream_enrich_", ignore_cleanup_errors=True
    ) as d:
        ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
        # the per-batch broadcast join + count aggregation are
        # row-order-insensitive
        stream, _ = _write_mtime_batches(ev, F.col("event_id") % 3, d, 3)
        dim = (
            load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey")
            .join(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                ),
                F.col("c_nationkey") == F.col("n_nationkey"),
                "left",
            )
            .select(F.col("c_custkey").alias("user_id"), "n_name")
        )
        enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
            F.coalesce("n_name", F.lit("unknown")).alias("nation")
        )
        agg = enriched.groupBy("nation").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events")
        )
        # complete mode rewrites the whole table each batch; counts only
        # grow, so max per key == the final (fully-drained) emission
        return (
            _drain_to_view(agg, "complete", d)
            .groupBy("nation")
            .agg(F.max("n_events").cast("bigint").alias("n_events"))
        )


@register(
    "streaming_incremental_mv",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY event_type
    """,
    doc="Incremental materialized-view maintenance from a stream — the "
    "foreachBatch MERGE pattern every lakehouse runs: each micro-batch "
    "is pre-aggregated to partial states (count + integer-cents sum, "
    "both commutative monoids), merged with the current MV snapshot by "
    "re-aggregation, and published as a NEW versioned parquet snapshot "
    "(write-new-then-repoint, never overwrite-in-place — the read side "
    "always sees a complete version).  3 mtime-ordered micro-batches "
    "drain under availableNow; the final snapshot must equal the "
    "batch ground truth, which PROVES the merge identity (the same "
    "identity incremental_agg_merge verifies batch-side).  At 100 TB "
    "the MV stays aggregate-sized however large the stream, each merge "
    "touches only |MV| + |delta| rows, and a non-monoid aggregate "
    "(distinct) would need a sketch partial instead — documented, not "
    "hidden.",
)
def streaming_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory(
        prefix="stream_mv_", ignore_cleanup_errors=True
    ) as d:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        # the MV merge aggregates commutative monoids, so in-file order
        # is immaterial
        stream, _ = _write_mtime_batches(
            ev, F.col("event_id") % 3, d, 3, payload=["event_type", "cents"]
        )
        state = {"current": None}

        def merge_batch(batch_df, batch_id):
            delta = batch_df.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("cents").cast("bigint").alias("total_cents"),
            )
            if state["current"] is not None:
                cur = spark.read.parquet(state["current"])
                delta = (
                    cur.unionByName(delta)
                    .groupBy("event_type")
                    .agg(
                        F.sum("n_events").cast("bigint").alias("n_events"),
                        F.sum("total_cents").cast("bigint").alias("total_cents"),
                    )
                )
            new_version = f"{d}/mv/v{batch_id}"
            delta.write.mode("overwrite").parquet(new_version)
            state["current"] = new_version

        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        final = spark.read.parquet(state["current"])
        # the snapshot lives in the scratch dir: collect before it goes
        return spark.createDataFrame(final.collect(), final.schema)


@register(
    "streaming_python_datasource",
    oracle="""
    SELECT event_type AS performer_kind, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    """,
    doc="Custom STREAMING source in pure Python (Spark 4 "
    "SimpleDataSourceStreamReader): the Kinesis-envelope connector's "
    "streaming half tracks its offset as the high-water file NAME "
    "(the last consumed part-* basename), serves every file past it "
    "per read() call (so an availableNow drain takes every file present "
    "at its start), "
    "and implements readBetweenOffsets for deterministic replay after "
    "restart — the exactly-once contract a checkpointed source must "
    "honor, re-expressed in Python where no JVM connector jar exists "
    "(sources/python_datasource.py).  The query runs a REAL "
    "StreamingQuery: 3 envelope files drain under availableNow "
    "into a complete-mode aggregate whose final emission must equal "
    "the batch ground truth.  Downstream of the scan everything is "
    "codegen'd DataFrame ops (unbase64 / get_json_object / hash agg).",
)
def streaming_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..sources.kinesis import audit_events_from_events, kinesis_envelope
    from ..sources.python_datasource import KinesisEnvelopeJsonlSource

    try:
        spark.dataSource.register(KinesisEnvelopeJsonlSource)
    except Exception:  # already registered in this session
        pass
    with tempfile.TemporaryDirectory(
        prefix="stream_pyds_", ignore_cleanup_errors=True
    ) as d:
        ev = fan_out(load_table(spark, sf_dir, "events"))
        env = kinesis_envelope(audit_events_from_events(ev)).withColumn(
            "value",
            F.to_json(
                F.struct(
                    F.struct(F.col("kinesis_data").alias("data")).alias("kinesis")
                )
            ),
        )
        os.makedirs(f"{d}/env", exist_ok=True)
        # 3 single-file batches, named part-* for the reader's listing;
        # the envelope carries only the payload column, so split by a
        # deterministic hash of it.  ONE partitioned text write runs the
        # envelope subtree (JSON encode + base64 over every event) once;
        # in-file row order is immaterial (the consumer is a
        # complete-mode count aggregate).
        tmp = f"{d}/tmp_parts"
        (
            env.select(
                (F.crc32(F.col("kinesis_data")) % 3).cast("int").alias("_b"),
                "value",
            )
            .repartition(3, "_b")
            .write.partitionBy("_b")
            .mode("overwrite")
            .text(tmp)
        )
        for b in (0, 1, 2):
            pdir = f"{tmp}/_b={b}"
            parts = (
                [f for f in os.listdir(pdir) if f.startswith("part-")]
                if os.path.isdir(pdir)
                else []
            )
            if parts:
                shutil.move(f"{pdir}/{parts[0]}", f"{d}/env/part-{b:03d}.jsonl")
            else:  # empty batch: keep a placeholder file for the walk
                with open(f"{d}/env/part-{b:03d}.jsonl", "w"):
                    pass
        stream = (
            spark.readStream.format("kinesis_envelope_jsonl")
            .option("path", f"{d}/env")
            .load()
        )
        decoded = stream.select(
            F.unbase64(F.col("kinesis_data")).cast("string").alias("payload")
        ).select(
            F.get_json_object("payload", "$.performer_kind").alias(
                "performer_kind"
            )
        )
        agg = decoded.groupBy("performer_kind").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        # complete mode rewrites the whole table each batch; counts only
        # grow, so max per key == the final (fully-drained) emission
        return (
            _drain_to_view(agg, "complete", d)
            .groupBy("performer_kind")
            .agg(F.max("n").cast("bigint").alias("n"))
        )


@register(
    "streaming_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       >= 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessioned AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessioned
    GROUP BY user_id, sid
    """,
    doc="Native session_window aggregation through a real StreamingQuery "
    "in APPEND mode (the only mode streaming session aggregations "
    "support — update is rejected, a constraint this entry records): "
    "30-minute-gap sessions per user with MERGING state across "
    "micro-batches — the 3 batches are time-ordered thirds, so a "
    "session genuinely spans batch boundaries and the state store "
    "extends it incrementally (Spark interval-union semantics: an "
    "event extends the session while it lands strictly before "
    "prev_ts + gap; session_end = last event + gap).  Append emits a "
    "session only once the watermark passes its close, and the LAST "
    "session of every user would stay unflushed forever in a drained "
    "run — so a 4th flush batch carries one far-future sentinel row "
    "(user -1) that pushes the GLOBAL watermark past every real "
    "session; the sentinel's own (still-open) session never emits and "
    "real sessions all do.  That sentinel is the production "
    "heartbeat/punctuation pattern for closing event-time state on "
    "quiescent streams.",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory(
        prefix="stream_sess_", ignore_cleanup_errors=True
    ) as d:
        ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
        # time-ordered thirds: ntile over a unique (ts, user_id) order so
        # later batches never carry event-times behind the watermark
        from pyspark.sql import Window as W

        thirds = ev.withColumn(
            "b", F.ntile(3).over(W.orderBy("ts", "user_id"))
        )
        # one partitioned write for the 3 time-ordered thirds PLUS the
        # flush sentinel (batch 3, far past the data range: closes all
        # real sessions via the global watermark).  Session-window
        # membership and watermark advance depend only on each batch's
        # event times, never on in-file row order.
        batched = thirds.select(
            "user_id", "ts", (F.col("b") - 1).cast("int").alias("batch")
        ).unionByName(
            ev.agg(
                F.lit(-1).cast("bigint").alias("user_id"),
                F.date_add(F.max("ts").cast("date"), 100)
                .cast("timestamp")
                .alias("ts"),
            ).select("user_id", "ts", F.lit(3).cast("int").alias("batch"))
        )
        stream, src = _write_mtime_batches(
            batched, F.col("batch"), d, 4, payload=["user_id", "ts"]
        )
        agg = (
            stream.withWatermark("ts", "1 minute")
            .groupBy(
                F.col("user_id"),
                F.session_window("ts", "30 minutes").alias("sw"),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
            .select(
                "user_id",
                F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "session_start"
                ),
                F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias(
                    "session_end"
                ),
                "n_events",
            )
        )
        # JVM-stateful session-window aggregate: per-partition
        # store-commit overhead dominates at micro-batch scale, so the
        # width derives from source bytes (see scale.stream_width)
        nbytes = scale.source_bytes(src)
        sessions = _drain_to_view(
            agg,
            "append",
            d,
            {"spark.sql.shuffle.partitions": scale.stream_width(spark, nbytes)},
        )
        # append emits each closed session exactly once; drop the sentinel
        return sessions.filter(F.col("user_id") >= 0)


@register(
    "streaming_sketch_distinct",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           'true' AS sketch_ok
    FROM events
    GROUP BY 1
    """,
    doc="Distinct-count sketches as STREAMING STATE: tumbling 1-hour "
    "windows aggregate approx_count_distinct(user_id, rsd=0.005) "
    "(HLL++) across 3 mtime-ordered micro-batches — the state store "
    "holds one sketch buffer per open window and merges each batch's "
    "partial into it, which is exactly how a 100 TB stream counts "
    "uniques without keeping per-user state (state size is O(windows x "
    "sketch), not O(users)).  APPEND mode + a far-future sentinel "
    "batch flushes every real window exactly once when the watermark "
    "passes its end (the session_window sentinel pattern), so no "
    "update-mode re-emission reasoning is needed.  The streamed "
    "estimate is tolerance-checked against the batch-exact distinct "
    "per window (max(2%, +/-3) — Spark's HLL++ is dense-only, no "
    "sparse-exact mode, so even 28 uniques can read +/-2); the oracle "
    "asserts the exact counts and that every window's flag is true.  "
    "Estimator-tolerance sibling of agg_hll_partial_merge.",
)
def streaming_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory(
        prefix="stream_hll_", ignore_cleanup_errors=True
    ) as d:
        ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
        # one write for the 3 data batches and the sentinel, which rides
        # the same frame with a literal batch key.  The HLL window
        # aggregate is commutative, so in-file row order is immaterial.
        #
        # Batch key = HOUR SLICE, not user slice (shuffle and commit
        # fewer bytes): with batch = user_id % 3 every
        # trigger touched ALL ~720 open windows, so each paid the full
        # 720 x 35 KB HLL-buffer state restore+save and shipped 720
        # partial sketches through the merge exchange (profiled:
        # addBatch 2.2-2.7 s per trigger).  Keying by hour % 3 makes
        # the 3 data batches partition the WINDOWS instead — each
        # trigger restores/saves only its ~240 windows and each
        # window's buffer is written exactly once across the drain.
        # Final sketches are bit-identical: HLL++ registers are
        # max-merged (associative + commutative), so grouping a
        # window's rows into one batch instead of three yields the
        # same dense register array; the oracle never sees the batch
        # key (it checks per-window exact counts + tolerance flags).
        batched = ev.select(
            "user_id",
            "ts",
            (
                (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
                .cast("bigint")
                % 3
            )
            .cast("int")
            .alias("batch"),
        ).unionByName(
            spark.range(1).select(
                F.lit(-1).cast("bigint").alias("user_id"),
                # sentinel far past every real window end + the 2000h
                # watermark delta: closes all real windows under append.
                # The sentinel RIDES the last data batch instead of
                # being a 4th file — the watermark only advances AFTER a
                # batch completes, so every real row still lands before
                # any eviction, the availableNow no-data flush batch
                # then emits all windows, and the drain pays 4 triggers
                # instead of 5 (profiled: ~1.2 s of fixed machinery per
                # trigger even at 0 input rows).  Emitted rows are
                # identical (same sketches, same append flush).
                F.lit("2025-06-01 00:00:00").cast("timestamp").alias("ts"),
                F.lit(2).cast("int").alias("batch"),
            )
        )
        stream, src = _write_mtime_batches(
            batched, F.col("batch"), d, 3, payload=["user_id", "ts"]
        )
        agg = (
            stream.withWatermark("ts", "2000 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.approx_count_distinct("user_id", 0.005).alias("n_users"))
        )
        # JVM-stateful window aggregate with ~50 KB HLL buffers per
        # window key: per-partition state-store commit overhead scales
        # with width x sketch bytes (measured at sf0.1: width 32 drain
        # 143s vs width 1 36s at rsd=0.005), so derive the width from
        # the micro-batch byte mass.  The 4,330-attribute buffer schema
        # additionally makes FALLBACK-mode projection codegen regenerate
        # megabytes of Java source per task per trigger (~5 s/trigger of
        # pure source formatting at any row count — see
        # scale.codegen_mode); interpreted projections cut the drain
        # 27 s -> 11 s at sf0.1 with bit-identical results.
        nbytes = scale.source_bytes(src)
        windows = _drain_to_view(
            agg,
            "append",
            d,
            {
                "spark.sql.shuffle.partitions": scale.stream_width(spark, nbytes),
                "spark.sql.codegen.factoryMode": scale.codegen_mode(spark, nbytes),
            },
        )
        streamed = windows.filter(
            F.col("w.start") < F.lit("2025-01-01").cast("timestamp")
        ).select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            F.col("n_users").cast("bigint").alias("n_est"),
        )
        exact = ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            )
        ).agg(F.count_distinct("user_id").cast("bigint").alias("n_exact"))
        tol = F.greatest(F.col("n_exact") * 0.02, F.lit(3.0))
        return exact.join(streamed, "win_start").select(
            "win_start",
            "n_exact",
            (F.abs(F.col("n_est") - F.col("n_exact")) <= tol)
            .cast("string")
            .alias("sketch_ok"),
        )


def _streaming_minhash_oracle() -> str:
    """DuckDB twin of the streaming near-dup drain: identical corpus,
    signatures, and bands as dedup_minhash_lsh_pairs; 'earlier arrival'
    is the lexicographic (doc_id % 3, doc_id) order the micro-batch
    files pin."""
    from .dedup_queries import _SQL_MUTATED, _sql_minhash_cols, _sql_shingle_hashes

    bucket_rows = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band_idx, "
        f"md5(mh_{2 * b}::VARCHAR || mh_{2 * b + 1}::VARCHAR) AS band_val FROM sigs"
        for b in range(4)
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      {_SQL_MUTATED}
    ), sigs AS (
      SELECT doc_id,
       {_sql_minhash_cols(8)}
      FROM (
        SELECT doc_id, {_sql_shingle_hashes()} AS hashed FROM corpus
      )
    ), buckets AS (
{bucket_rows}
    )
    SELECT b.doc_id, count(*)::BIGINT AS n_band_hits
    FROM buckets b
    WHERE EXISTS (
      SELECT 1 FROM buckets a
      WHERE a.band_idx = b.band_idx AND a.band_val = b.band_val
        AND (a.doc_id % 3 < b.doc_id % 3
             OR (a.doc_id % 3 = b.doc_id % 3 AND a.doc_id < b.doc_id))
    )
    GROUP BY b.doc_id
    """


@register(
    "streaming_dedup_minhash",
    oracle=_streaming_minhash_oracle(),
    doc="Streaming MinHash-LSH near-dup suppression through a real "
    "StreamingQuery (r11 verdict task 7): originals + drop-first-word "
    "mutations become 3 mtime-ordered micro-batches (batch = doc_id % 3, "
    "maxFilesPerTrigger=1, availableNow); signatures (8 hashes) and band "
    "buckets (4 bands of 2) are computed in-stream with the SAME column "
    "expressions as the batch dedup_minhash_lsh_pairs, then "
    "applyInPandasWithState keeps one first-seen marker per band value "
    "(streaming.stateful.band_first_seen) and flags every later arrival. "
    "Output: (doc_id, n_band_hits) for suppressed docs — a doc is a dup "
    "iff ANY of its 4 bands was seen earlier (prior batch, or smaller "
    "doc_id within the batch).  The oracle encodes the identical "
    "arrival order ((doc_id%3, doc_id) lexicographic) in SQL, so parity "
    "is exact.  At scale: state is one int per DISTINCT band value "
    "(vocabulary-bounded, not corpus-bounded), hash-partitioned by the "
    "state store and evictable by timeout/watermark TTL; the per-doc "
    "verdict aggregation shuffles slim (doc_id, hit) rows only.",
)
def streaming_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..streaming.stateful import band_first_seen
    from . import dedup as D
    from .dedup_queries import _corpus

    with tempfile.TemporaryDirectory(
        prefix="stream_mh_", ignore_cleanup_errors=True
    ) as d:
        corpus = _corpus(spark, sf_dir)  # doc_id, text (+ mutated twins)
        # the mtime order (b0 < b1 < b2) pins the drain order, and the
        # stateful consumer sorts by doc_id within each band group, so
        # in-file row order is immaterial (see _write_mtime_batches).
        # Each batch lands as w files (not one): the per-row shingle +
        # minhash fold — the dominant per-trigger cost — runs in the
        # SCAN stage, and a single-file batch pins that whole stage to
        # one task (see scale.scan_split).
        w = max(1, min(8, spark.sparkContext.defaultParallelism))
        stream, src = _write_mtime_batches(
            corpus,
            F.col("doc_id") % 3,
            d,
            3,
            sub_col=F.expr(f"pmod(doc_id div 3, {w})"),
            files_per_batch=w,
        )
        sigs = D.minhash_signatures(stream, num_hashes=8)
        bands = D.lsh_band_buckets(sigs, "doc_id", num_hashes=8, rows_per_band=2)
        # applyInPandasWithState pays a per-GROUP Python invocation and
        # a per-key state-store commit, so band_first_seen groups by a
        # deterministic hash BUCKET of the band value (~4x session
        # width) instead of the band value itself — O(cores) pandas
        # frames per trigger instead of O(band vocabulary); verdicts
        # are computed per band value inside the bucket, so results
        # are bucket-count-invariant (see streaming.stateful).
        nbytes = scale.source_bytes(src)
        hits = _drain_to_view(
            band_first_seen(bands.select("doc_id", "band_idx", "band_val")),
            "update",
            d,
            {
                "spark.sql.files.maxPartitionBytes": scale.scan_split(
                    spark, nbytes, 3
                ),
                "spark.sql.shuffle.partitions": scale.stream_width(spark, nbytes),
            },
        )
        # one emitted row per (doc, band); the doc's verdict is the sum
        # of its band hits
        return (
            hits.groupBy("doc_id")
            .agg(F.sum("hit").cast("bigint").alias("n_band_hits"))
            .filter(F.col("n_band_hits") > 0)
        )


def _streaming_funnel_oracle() -> str:
    """DuckDB twin of the streaming rejection funnel: the exact batch
    cascade expression of curation_rejection_funnel, grouped by the
    micro-batch key the stream pins (doc_id % 3)."""
    from .training_queries import _SQL_SCORE_I, _SQL_WORDS

    return f"""
    WITH tagged AS (
      SELECT doc_id % 3 AS batch,
             CASE
               WHEN lang NOT IN ('en', 'zh') THEN '1_lang_other'
               WHEN len({_SQL_WORDS}) < 50 THEN '2_too_short'
               WHEN {_SQL_SCORE_I} < 500000 THEN '3_low_quality'
               ELSE '4_kept'
             END AS reason,
             n_chars
      FROM documents
    )
    SELECT batch, reason,
           count(*)::BIGINT AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM tagged GROUP BY batch, reason
    """


@register(
    "streaming_quality_funnel",
    oracle=_streaming_funnel_oracle(),
    doc="Streaming face of the curation rejection funnel: documents "
    "arrive as 3 mtime-ordered micro-batches (batch = doc_id % 3, "
    "maxFilesPerTrigger=1, availableNow) and every doc is charged "
    "in-stream to the FIRST rejecting filter using the IDENTICAL "
    "cascade expression as the batch curation_rejection_funnel "
    "(language allowlist -> length floor -> integer-millionth quality "
    "floor), then a streaming groupBy((batch, reason)) aggregates "
    "counts and char mass through a real StreamingQuery in update "
    "mode.  Each (batch, reason) key receives rows in exactly ONE "
    "micro-batch, so the update-mode memory sink holds exactly one "
    "final row per key (a defensive max() collapse guards the read "
    "anyway).  At scale: state is one counter pair per (batch, "
    "reason) — reason-vocabulary-bounded, not corpus-bounded — and "
    "the per-doc cascade is a single scan-stage CASE expression, the "
    "same cost as the batch pass; this is the shape of a live "
    "ingest-quality dashboard over a firehose.",
)
def streaming_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .training_queries import _score_i
    from ..functions import words

    with tempfile.TemporaryDirectory(
        prefix="stream_qf_", ignore_cleanup_errors=True
    ) as d:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "n_chars"
        )
        # the funnel aggregates per (batch, reason), so in-file row order
        # is immaterial (see _write_mtime_batches).
        stream, src = _write_mtime_batches(docs, F.col("doc_id") % 3, d, 3)
        reason = (
            F.when(~F.col("lang").isin("en", "zh"), "1_lang_other")
            .when(F.size(words(F.col("text"))) < 50, "2_too_short")
            .when(_score_i() < 500_000, "3_low_quality")
            .otherwise("4_kept")
        )
        agg = (
            stream.select(
                (F.col("doc_id") % 3).alias("batch"),
                reason.alias("reason"),
                "n_chars",
            )
            .groupBy("batch", "reason")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("total_chars"),
            )
        )
        nbytes = scale.source_bytes(src)
        funnel = _drain_to_view(
            agg,
            "update",
            d,
            {"spark.sql.shuffle.partitions": scale.stream_width(spark, nbytes)},
        )
        # one emitted row per (batch, reason) since a key's rows all
        # arrive in its one micro-batch; max() collapses defensively if
        # a retry ever re-emits
        return funnel.groupBy("batch", "reason").agg(
            F.max("n_docs").alias("n_docs"),
            F.max("total_chars").alias("total_chars"),
        )


def _streaming_ann_oracle() -> str:
    """DuckDB twin of the streaming ANN probe: identical perturbation,
    8-bit SRP buckets, hamming-1 multi-probe, tau=0.9 scoring, and the
    per-probe best-match selection on the ROUNDED cosine."""
    from ..functions import sql_cosine
    from . import similarity as S
    from .dedup_queries import _SQL_PERTURB, SYNTH_ID_OFFSET

    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {S.sql_srp_bits('embedding')} AS bucket
      FROM embeddings
    ), perturbed AS (
      SELECT vec_id + {SYNTH_ID_OFFSET} AS dup_id,
             {_SQL_PERTURB} AS p_embedding
      FROM embeddings WHERE vec_id < 60
    ), pbuck AS (
      SELECT dup_id, p_embedding, {S.sql_srp_bits('p_embedding')} AS p_bucket
      FROM perturbed
    ), probes AS (
      SELECT dup_id, p_embedding,
             CASE WHEN f = 0 THEN p_bucket
                  ELSE xor(p_bucket, (1 << (f - 1))) END AS probe
      FROM pbuck, range(9) t(f)
    ), matches AS (
      SELECT p.dup_id, b.vec_id AS orig_id,
             round({sql_cosine('p.p_embedding', 'b.embedding')}, 6) AS cos
      FROM probes p JOIN bucketed b ON b.bucket = p.probe
      WHERE {sql_cosine('p.p_embedding', 'b.embedding')} >= 0.9
    )
    SELECT dup_id, orig_id AS best_match, cos AS best_cos,
           CAST(count(*) OVER (PARTITION BY dup_id) AS BIGINT) AS n_matches
    FROM matches
    QUALIFY row_number() OVER (PARTITION BY dup_id
                               ORDER BY cos DESC, orig_id) = 1
    """


@register(
    "streaming_ann_probe",
    oracle=_streaming_ann_oracle(),
    doc="Streaming similarity search: probe vectors arrive as 3 "
    "mtime-ordered micro-batches (perturbed copies of the first 60 "
    "corpus vectors, batch = vec_id % 3) and are answered in-stream "
    "by a STREAM-STATIC equi-join against the SRP-bucketed corpus — "
    "the same 8-bit buckets + hamming-1 multi-probe expressions as "
    "the batch dedup_embedding_near, then exact cosine >= 0.9, "
    "emitted append-mode through a real StreamingQuery.  The drained "
    "match set is ranked per probe on the ROUNDED cosine (+ orig_id "
    "tie-break, so a 1-ulp engine difference can never flip the "
    "winner).  At scale: the static side is the session's shared SRP "
    "index (in production the bucketed index table of "
    "ann_index_bucketed_build); each probe touches ~9 buckets of "
    "n/256 vectors in expectation, the join is a slim integer "
    "equi-join per micro-batch, and no state store is needed — "
    "stream-static joins are stateless, so a firehose of queries "
    "runs at candidate-scoring cost with the index amortized across "
    "every batch.",
)
def streaming_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions import cosine
    from . import similarity as S
    from .dedup_queries import SYNTH_ID_OFFSET

    with tempfile.TemporaryDirectory(
        prefix="stream_ann_", ignore_cleanup_errors=True
    ) as d:
        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        bucketed = emb.select(
            "vec_id", "embedding", S.srp_bucket(F.col("embedding")).alias("bucket")
        )
        probes_src = emb.filter(F.col("vec_id") < 60).select(
            "vec_id",
            (F.col("vec_id") + SYNTH_ID_OFFSET).alias("dup_id"),
            F.transform(
                "embedding",
                lambda x: x.cast("double")
                + 0.01 * (x.cast("double") * x.cast("double") - 1.0),
            ).alias("p_embedding"),
        )
        # the consumer is row-order-insensitive within a micro-batch:
        # the final window ranks by (cos desc, orig_id) per dup_id and
        # batch membership is deterministic (vec_id % 3).
        stream, _ = _write_mtime_batches(
            probes_src,
            F.col("vec_id") % 3,
            d,
            3,
            payload=["dup_id", "p_embedding"],
        )
        multi = stream.withColumn(
            "p_bucket", S.srp_bucket(F.col("p_embedding"))
        ).select(
            "dup_id",
            "p_embedding",
            F.explode(
                F.array(
                    F.col("p_bucket"),
                    *[F.col("p_bucket").bitwiseXOR(F.lit(1 << i)) for i in range(8)],
                )
            ).alias("probe"),
        )
        cos = cosine(F.col("p_embedding"), F.col("embedding"))
        matches = (
            multi.join(bucketed, F.col("bucket") == F.col("probe"))
            .filter(cos >= 0.9)
            .select(
                "dup_id",
                F.col("vec_id").alias("orig_id"),
                F.round(cos, 6).alias("cos"),
            )
        )
        t = _drain_to_view(matches, "append", d)
        w = Window.partitionBy("dup_id").orderBy(F.col("cos").desc(), "orig_id")
        wc = Window.partitionBy("dup_id")
        return (
            t.withColumn("rn", F.row_number().over(w))
            .withColumn("n_matches", F.count(F.lit(1)).over(wc).cast("bigint"))
            .filter(F.col("rn") == 1)
            .select(
                "dup_id",
                F.col("orig_id").alias("best_match"),
                F.col("cos").alias("best_cos"),
                "n_matches",
            )
        )
