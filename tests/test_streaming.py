"""Streaming tests: envelope file source → foreachBatch dual-sink
fan-out (R16), replay dedup within watermark (R9), event-time windowed
aggregations with late-data policy (SURVEY.md §5 item 4)."""

from __future__ import annotations

import base64
import json
import os
import time

import pyspark.sql.functions as F
import pytest

from kinesis_to_opensearch_lambda_spark import scale
from kinesis_to_opensearch_lambda_spark.sinks import (
    OpenSearchBulkSink,
    SplunkHECSink,
    SpoolDirTransport,
)
from kinesis_to_opensearch_lambda_spark.sources.batch import load_table
from kinesis_to_opensearch_lambda_spark.sources.kinesis import read_envelope_stream
from kinesis_to_opensearch_lambda_spark.streaming.pipeline import (
    decode_stream,
    dual_sink_fanout,
    hourly_counts,
)

from .test_transforms import FULL_RECORD


def write_envelope_files(spark, path: str, records: list[dict], n_files: int = 2):
    rows = [(base64.b64encode(json.dumps(r).encode()).decode(),) for r in records]
    df = spark.createDataFrame(rows, "kinesis_data: string")
    df.repartition(n_files).write.mode("append").parquet(path)


@pytest.fixture
def stream_records():
    return [
        dict(
            FULL_RECORD,
            random_id=f"s-{i}",
            datetime=f"2026-02-18T1{i % 10}:30:00",
            ip="" if i % 4 == 0 else FULL_RECORD["ip"],
        )
        for i in range(12)
    ]


def test_dual_sink_fanout(spark, tmp_path, stream_records):
    src = str(tmp_path / "envelopes")
    write_envelope_files(spark, src, stream_records)

    es_spool, hec_spool = str(tmp_path / "es"), str(tmp_path / "hec")
    es = OpenSearchBulkSink(transport_factory=lambda: SpoolDirTransport(es_spool))
    hec = SplunkHECSink(transport_factory=lambda: SpoolDirTransport(hec_spool))

    stream = decode_stream(read_envelope_stream(spark, src))
    q = dual_sink_fanout(stream, es, hec, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    es_docs = SpoolDirTransport(es_spool).read_back()
    hec_docs = SpoolDirTransport(hec_spool).read_back()
    assert len(es_docs) == 12 and len(hec_docs) == 12
    # projected vs full-record branches
    assert all(set(d["_source"]) <= {
        "random_id", "kind_id", "account_id", "performer_id",
        "repository_id", "ip", "metadata", "datetime", "@timestamp",
    } for d in es_docs)
    # event is a nested JSON object in the HEC envelope, not an escaped
    # string (reference posts json=events; see sinks/splunk.py serialize)
    assert all(isinstance(d["event"], dict) and "request_url" in d["event"] for d in hec_docs)
    # empty ip dropped before both sinks (R5 before fan-out)
    ids_with_ip_dropped = {f"s-{i}" for i in range(12) if i % 4 == 0}
    for d in es_docs:
        if d["_id"] in ids_with_ip_dropped:
            assert "ip" not in d["_source"]


def test_fanout_id_less_record_reaches_splunk_not_opensearch(spark, tmp_path):
    """Each sink owns its reference guard (lambda_function.py:78-79,
    117-119): a valid record without ``random_id`` is skipped by the
    OpenSearch branch only, and an invalid-JSON payload by both."""
    no_id = {k: v for k, v in FULL_RECORD.items() if k != "random_id"}
    src = str(tmp_path / "envelopes")
    write_envelope_files(spark, src, [FULL_RECORD, no_id], n_files=1)
    spark.createDataFrame(
        [(base64.b64encode(b'{"broken').decode(),)], "kinesis_data: string"
    ).write.mode("append").parquet(src)

    es_spool, hec_spool = str(tmp_path / "es"), str(tmp_path / "hec")
    es = OpenSearchBulkSink(transport_factory=lambda: SpoolDirTransport(es_spool))
    hec = SplunkHECSink(transport_factory=lambda: SpoolDirTransport(hec_spool))
    stream = decode_stream(read_envelope_stream(spark, src))
    q = dual_sink_fanout(stream, es, hec, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    assert [d["_id"] for d in SpoolDirTransport(es_spool).read_back()] == ["abc123"]
    events = sorted(
        (d["event"] for d in SpoolDirTransport(hec_spool).read_back()),
        key=lambda e: "random_id" in e,
    )
    assert events == [
        dict(no_id, **{"@timestamp": no_id["datetime"]}),
        dict(FULL_RECORD, **{"@timestamp": FULL_RECORD["datetime"]}),
    ]


def test_on_batch_reports_sink_counts(spark, tmp_path, stream_records):
    """R17: the on_batch observability callback gets its row count from
    the delivery pass's accumulator — no extra count() job per
    micro-batch — and the per-epoch totals sum to the batch rows,
    including a row that neither sink takes."""
    src = str(tmp_path / "envelopes")
    write_envelope_files(spark, src, stream_records)
    spark.createDataFrame(
        [(base64.b64encode(b'{"broken').decode(),)], "kinesis_data: string"
    ).write.mode("append").parquet(src)
    es = OpenSearchBulkSink(
        transport_factory=lambda: SpoolDirTransport(str(tmp_path / "es"))
    )
    hec = SplunkHECSink(
        transport_factory=lambda: SpoolDirTransport(str(tmp_path / "hec"))
    )
    seen: list[tuple[int, int]] = []
    stream = decode_stream(read_envelope_stream(spark, src))
    q = dual_sink_fanout(
        stream, es, hec, str(tmp_path / "ckpt"),
        on_batch=lambda epoch, n: seen.append((epoch, n)),
    )
    q.awaitTermination(120)
    assert sum(n for _, n in seen) == 13
    assert len({epoch for epoch, _ in seen}) == len(seen)


def test_fanout_runs_one_spark_job_per_micro_batch(spark, tmp_path, stream_records):
    """Both sinks are fed by one delivery pass: each micro-batch is one
    Spark job, with no persist and no second write job."""
    src = str(tmp_path / "envelopes")
    for i in range(3):
        write_envelope_files(spark, src, stream_records[4 * i:4 * i + 4], n_files=1)
    es = OpenSearchBulkSink(
        transport_factory=lambda: SpoolDirTransport(str(tmp_path / "es"))
    )
    hec = SplunkHECSink(
        transport_factory=lambda: SpoolDirTransport(str(tmp_path / "hec"))
    )
    rows: list[int] = []
    stream = decode_stream(read_envelope_stream(spark, src, max_files_per_trigger=1))
    q = dual_sink_fanout(
        stream, es, hec, str(tmp_path / "ckpt"),
        on_batch=lambda epoch, n: rows.append(n),
    )
    q.awaitTermination(120)
    assert rows == [4, 4, 4]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == len(rows)
    assert len(SpoolDirTransport(str(tmp_path / "es")).read_back()) == 12
    assert len(SpoolDirTransport(str(tmp_path / "hec")).read_back()) == 12


def _three_batch_stream(spark, tmp_path, records):
    """A stream of ``records`` as three one-file micro-batches."""
    src, n = str(tmp_path / "envelopes"), len(records) // 3
    for i in range(3):
        write_envelope_files(spark, src, records[n * i:n * i + n], n_files=1)
    return decode_stream(read_envelope_stream(spark, src, max_files_per_trigger=1))


def _spy_payload(sink, calls: list[str]) -> None:
    """Record each call of ``sink.payload`` in ``calls``."""
    payload = sink.payload

    def spy(df):
        calls.append(sink.name)
        return payload(df)

    sink.payload = spy


def test_fanout_builds_each_payload_once_per_query(spark, tmp_path, stream_records):
    """The delivery projection is part of the query's plan: across three
    micro-batches each sink's payload expression is built once, and
    every record still reaches both sinks."""
    es, hec, es_spool, hec_spool = _spools(tmp_path)
    calls: list[str] = []
    _spy_payload(es, calls)
    _spy_payload(hec, calls)
    rows: list[int] = []
    q = dual_sink_fanout(
        _three_batch_stream(spark, tmp_path, stream_records), es, hec,
        str(tmp_path / "ckpt"), on_batch=lambda epoch, n: rows.append(n),
    )
    q.awaitTermination(120)
    assert rows == [4, 4, 4]
    assert sorted(calls) == ["opensearch", "splunk"]
    expected = sorted(f"s-{i}" for i in range(12))
    assert sorted(d["_id"] for d in es_spool.read_back()) == expected
    assert sorted(d["event"]["random_id"] for d in hec_spool.read_back()) == expected


def test_fanout_replaced_transport_factory_takes_effect_next_batch(
    spark, tmp_path, stream_records
):
    """A sink's transport factory is read on every pass: one replaced
    after the first micro-batch receives every later batch."""
    es, hec, first, _ = _spools(tmp_path)
    second = SpoolDirTransport(str(tmp_path / "es2"))

    def on_batch(epoch: int, n: int) -> None:
        es.transport_factory = lambda: SpoolDirTransport(second.spool_dir)

    q = dual_sink_fanout(
        _three_batch_stream(spark, tmp_path, stream_records), es, hec,
        str(tmp_path / "ckpt"), on_batch=on_batch,
    )
    q.awaitTermination(120)
    assert sorted(d["_id"] for d in first.read_back()) == [f"s-{i}" for i in range(4)]
    assert sorted(d["_id"] for d in second.read_back()) == sorted(
        f"s-{i}" for i in range(4, 12)
    )


def test_fanout_disabled_sink_gets_no_payload_column(
    spark, tmp_path, stream_records, monkeypatch, capsys
):
    """A sink disabled when the query starts contributes no payload
    column to any micro-batch and says so once; the other sink still
    delivers every record."""
    from kinesis_to_opensearch_lambda_spark.streaming import pipeline

    es, _, es_spool, _ = _spools(tmp_path)
    hec = SplunkHECSink(
        transport_factory=lambda: SpoolDirTransport(str(tmp_path / "hec")),
        disabled="true",
    )
    calls: list[str] = []
    _spy_payload(hec, calls)
    columns = []
    deliver = pipeline.deliver

    def spy(frame, sinks):
        columns.append(frame.columns)
        return deliver(frame, sinks)

    monkeypatch.setattr(pipeline, "deliver", spy)
    q = dual_sink_fanout(
        _three_batch_stream(spark, tmp_path, stream_records), es, hec,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert columns == [["_p0"]] * 3
    assert calls == []
    assert capsys.readouterr().out.count("splunk delivery is disabled") == 1
    assert (hec.last_success, hec.last_total) == (0, 0)
    assert sorted(d["_id"] for d in es_spool.read_back()) == sorted(
        f"s-{i}" for i in range(12)
    )
    assert SpoolDirTransport(str(tmp_path / "hec")).read_back() == []


def _state_metadata(ckpt: str) -> dict[str, bytes]:
    """Every file under the checkpoint's state metadata directories."""
    out = {}
    for root, _, files in os.walk(f"{ckpt}/state"):
        rel = os.path.relpath(root, ckpt)
        if "_metadata" in rel or "_stateSchema" in rel:
            for name in files:
                with open(os.path.join(root, name), "rb") as f:
                    out[os.path.join(rel, name)] = f.read()
    return out


def test_restart_from_per_batch_payload_checkpoint(spark, tmp_path, stream_records):
    """A dedup checkpoint written by a query that built the payloads
    inside each micro-batch restarts under ``dual_sink_fanout``, whose
    plan carries them: the dedup's state schema is the same, a
    redelivered record is still dropped, and nothing is delivered
    twice."""
    from kinesis_to_opensearch_lambda_spark.sinks.base import deliver, payload_frame
    from kinesis_to_opensearch_lambda_spark.streaming.pipeline import replay_dedup

    src = str(tmp_path / "envelopes")
    write_envelope_files(spark, src, stream_records[:6], n_files=1)
    ckpt = str(tmp_path / "ckpt")
    es, hec, es_spool, hec_spool = _spools(tmp_path)

    def per_batch(batch_df, epoch_id):
        deliver(*payload_frame(batch_df, (es, hec)))

    stream = replay_dedup(decode_stream(read_envelope_stream(spark, src)), "1 day")
    (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    schema = _state_metadata(ckpt)
    assert schema
    write_envelope_files(spark, src, stream_records[6:] + stream_records[:1], n_files=1)
    stream = decode_stream(read_envelope_stream(spark, src))
    dual_sink_fanout(stream, es, hec, ckpt, dedup_watermark="1 day").awaitTermination(180)
    assert _state_metadata(ckpt) == schema
    expected = sorted(f"s-{i}" for i in range(12))
    assert sorted(d["_id"] for d in es_spool.read_back()) == expected
    assert sorted(d["event"]["random_id"] for d in hec_spool.read_back()) == expected


def test_restart_does_not_redeliver(spark, tmp_path, stream_records):
    """Checkpointed offsets: a second run over the same source delivers
    nothing new (the engine-side half of at-least-once; doc-id dedup
    covers redelivery after crashes mid-batch)."""
    src = str(tmp_path / "envelopes")
    write_envelope_files(spark, src, stream_records)
    spool = str(tmp_path / "es")
    make = lambda: OpenSearchBulkSink(transport_factory=lambda: SpoolDirTransport(spool))
    hec = SplunkHECSink(transport_factory=lambda: SpoolDirTransport(str(tmp_path / "hec")))

    stream = decode_stream(read_envelope_stream(spark, src))
    dual_sink_fanout(stream, make(), hec, str(tmp_path / "ckpt")).awaitTermination(120)
    n_first = len(SpoolDirTransport(spool).read_back())

    stream2 = decode_stream(read_envelope_stream(spark, src))
    dual_sink_fanout(stream2, make(), hec, str(tmp_path / "ckpt")).awaitTermination(120)
    n_second = len(SpoolDirTransport(spool).read_back())
    assert n_first == 12 and n_second == 12  # no redelivery


def _stop_between_triggers(q) -> None:
    """Stop a live query after a drain and between two triggers: a stop
    that interrupts a running foreachBatch callback logs a spurious
    error."""
    q.processAllAvailable()
    deadline = time.time() + 10
    while q.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.05)
    q.stop()


def _spools(tmp_path):
    es_spool, hec_spool = str(tmp_path / "es"), str(tmp_path / "hec")
    es = OpenSearchBulkSink(transport_factory=lambda: SpoolDirTransport(es_spool))
    hec = SplunkHECSink(transport_factory=lambda: SpoolDirTransport(hec_spool))
    return es, hec, SpoolDirTransport(es_spool), SpoolDirTransport(hec_spool)


def test_live_fanout_triggers_once_per_second(spark, tmp_path, stream_records):
    """The production path (``available_now=False``): a 1 s
    processing-time trigger, the reference's once-per-second poll, picks
    up files as they arrive and delivers each record once to each sink,
    a redelivered one included."""
    src = str(tmp_path / "envelopes")
    write_envelope_files(spark, src, stream_records[:6], n_files=1)
    es, hec, es_spool, hec_spool = _spools(tmp_path)
    stream = decode_stream(read_envelope_stream(spark, src))
    q = dual_sink_fanout(
        stream, es, hec, str(tmp_path / "ckpt"), available_now=False,
        dedup_watermark="1 day",
    )
    try:
        trigger = q._jsq.streamingQuery().trigger()
        assert trigger.getClass().getSimpleName() == "ProcessingTimeTrigger"
        assert trigger.intervalMs() == 1000
        q.processAllAvailable()
        assert len(es_spool.read_back()) == 6
        write_envelope_files(
            spark, src, stream_records[6:] + stream_records[:1], n_files=1
        )
        q.processAllAvailable()
    finally:
        _stop_between_triggers(q)
    expected = sorted(f"s-{i}" for i in range(12))
    assert sorted(d["_id"] for d in es_spool.read_back()) == expected
    assert sorted(d["event"]["random_id"] for d in hec_spool.read_back()) == expected


def _recorded_widths(ckpt: str) -> set[str]:
    """``spark.sql.shuffle.partitions`` in every offset-log entry."""
    widths = set()
    for name in os.listdir(f"{ckpt}/offsets"):
        if name.isdigit():
            with open(f"{ckpt}/offsets/{name}") as f:
                meta = json.loads(f.read().splitlines()[1])
            widths.add(meta["conf"]["spark.sql.shuffle.partitions"])
    return widths


def test_dedup_restart_keeps_state_width(spark, tmp_path, stream_records):
    """The dedup's state width is the session's shuffle width at the
    checkpoint's first start; a restart under another session width
    keeps the recorded one and still drops a redelivered record."""
    src = str(tmp_path / "envelopes")
    write_envelope_files(spark, src, stream_records[:6], n_files=1)
    ckpt = str(tmp_path / "ckpt")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    es, hec, es_spool, hec_spool = _spools(tmp_path)

    def run():
        stream = decode_stream(read_envelope_stream(spark, src))
        dual_sink_fanout(
            stream, es, hec, ckpt, dedup_watermark="1 day"
        ).awaitTermination(180)

    run()
    assert _recorded_widths(ckpt) == {prev}
    write_envelope_files(spark, src, stream_records[6:] + stream_records[:1], n_files=1)
    spark.conf.set("spark.sql.shuffle.partitions", "3" if prev != "3" else "2")
    try:
        run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert _recorded_widths(ckpt) == {prev}
    expected = sorted(f"s-{i}" for i in range(12))
    assert sorted(d["_id"] for d in es_spool.read_back()) == expected
    assert sorted(d["event"]["random_id"] for d in hec_spool.read_back()) == expected


def test_checkpoint_commits_through_filesystem_manager(spark, tmp_path, stream_records):
    """A file: checkpoint commits through the FileSystem-based manager
    (which renames without forking ``readlink``), and the offset log
    still refuses to overwrite a committed batch, both by its existence
    check and at the rename."""
    src = str(tmp_path / "envelopes")
    write_envelope_files(spark, src, stream_records)
    es, hec, _, _ = _spools(tmp_path)
    ckpt = str(tmp_path / "ckpt")
    stream = decode_stream(read_envelope_stream(spark, src))
    dual_sink_fanout(stream, es, hec, ckpt).awaitTermination(120)

    jvm = spark._jvm
    log = jvm.org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog(
        spark._jsparkSession, f"file://{ckpt}/offsets"
    )
    manager = log.fileManager()
    if manager.getClass().getSimpleName() == "ChecksumCheckpointFileManager":
        inner = manager.getClass().getDeclaredField("underlyingFileMgr")
        inner.setAccessible(True)
        manager = inner.get(manager)
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    with open(f"{ckpt}/offsets/0") as f:
        committed = f.read()
    assert not log.add(0, log.get(0).get())
    out = manager.createAtomic(
        jvm.org.apache.hadoop.fs.Path(f"file://{ckpt}/offsets/0"), False
    )
    out.write(bytearray(b"overwritten"))
    with pytest.raises(Exception, match="FileAlreadyExistsException"):
        out.close()
    with open(f"{ckpt}/offsets/0") as f:
        assert f.read() == committed


def test_replay_dedup_within_watermark(spark, tmp_path, stream_records):
    """R9: duplicate doc ids arriving in new files are dropped by
    dropDuplicatesWithinWatermark before the sinks."""
    src = str(tmp_path / "envelopes")
    write_envelope_files(spark, src, stream_records)
    write_envelope_files(spark, src, stream_records)  # redelivered batch

    spool = str(tmp_path / "es")
    es = OpenSearchBulkSink(transport_factory=lambda: SpoolDirTransport(spool))
    hec = SplunkHECSink(transport_factory=lambda: SpoolDirTransport(str(tmp_path / "hec")))

    stream = decode_stream(read_envelope_stream(spark, src))
    q = dual_sink_fanout(
        stream, es, hec, str(tmp_path / "ckpt"), dedup_watermark="1 hour"
    )
    q.awaitTermination(180)
    delivered = SpoolDirTransport(spool).read_back()
    assert sorted({d["_id"] for d in delivered}) == sorted(
        f"s-{i}" for i in range(12)
    )
    assert len(delivered) == 12  # duplicates suppressed


def test_replay_dedup_keeps_distinct_id_less_records(spark, tmp_path):
    """Id-less records are deduplicated on their raw payload, not on one
    shared NULL key: distinct ones all reach Splunk (as the reference
    posts them), while a byte-identical redelivery is dropped."""
    no_id = [
        {k: v for k, v in dict(FULL_RECORD, request_url=f"/api/{i}").items()
         if k != "random_id"}
        for i in range(3)
    ]
    src = str(tmp_path / "envelopes")
    write_envelope_files(spark, src, no_id, n_files=1)
    write_envelope_files(spark, src, no_id[:1], n_files=1)  # redelivered

    es_spool, hec_spool = str(tmp_path / "es"), str(tmp_path / "hec")
    es = OpenSearchBulkSink(transport_factory=lambda: SpoolDirTransport(es_spool))
    hec = SplunkHECSink(transport_factory=lambda: SpoolDirTransport(hec_spool))
    stream = decode_stream(read_envelope_stream(spark, src))
    q = dual_sink_fanout(
        stream, es, hec, str(tmp_path / "ckpt"), dedup_watermark="1 hour"
    )
    q.awaitTermination(180)
    assert SpoolDirTransport(es_spool).read_back() == []
    urls = sorted(
        e["event"]["request_url"] for e in SpoolDirTransport(hec_spool).read_back()
    )
    assert urls == ["/api/0", "/api/1", "/api/2"]


def test_windowed_counts_with_watermark(spark, tmp_path):
    """Tumbling-window streaming agg over the events table driven to
    completion with availableNow; late rows beyond the watermark are
    dropped from the final state."""
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = hourly_counts(stream, watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT sum(n) AS total FROM hourly_out"
    ).collect()[0]
    batch = (
        events.groupBy(F.window("ts", "1 hour"), "event_type").count().count()
    )
    # append mode emits only windows sealed by the watermark; the last
    # 2h of event-time remains open and unemitted.
    assert got.total is not None and got.total <= events.count()
    assert spark.sql("SELECT count(*) c FROM hourly_out").collect()[0].c <= batch
    assert spark.sql("SELECT count(*) c FROM hourly_out").collect()[0].c > 0


def test_tolerant_stream_routes_dead_letters(spark, tmp_path):
    """Tolerant decode + split: bad JSON payloads land in the DLQ frame,
    good records keep flowing — the stream-survives-poison-pill mode."""
    from kinesis_to_opensearch_lambda_spark.streaming.pipeline import (
        split_dead_letters,
    )

    good = [dict(FULL_RECORD, random_id=f"g-{i}") for i in range(5)]
    rows = [(base64.b64encode(json.dumps(r).encode()).decode(),) for r in good]
    rows += [(base64.b64encode(b"{not-json").decode(),)] * 3
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "kinesis_data: string").write.parquet(src)

    from kinesis_to_opensearch_lambda_spark.sources.kinesis import (
        read_envelope_stream,
    )
    from kinesis_to_opensearch_lambda_spark.streaming.pipeline import decode_stream

    delivered, dead = [], []

    def process(batch_df, epoch_id):
        batch_df.persist()
        try:
            g, d = split_dead_letters(batch_df)
            delivered.extend(r.random_id for r in g.collect())
            dead.extend(r.raw_payload for r in d.collect())
        finally:
            batch_df.unpersist()

    stream = decode_stream(read_envelope_stream(spark, src), tolerant=True)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(delivered) == [f"g-{i}" for i in range(5)]
    assert len(dead) == 3 and all(p == "{not-json" for p in dead)


def test_sliding_and_session_window_streams(spark, tmp_path):
    """Sliding + session-window streaming aggs drain under availableNow
    and produce sane sealed-window output."""
    from kinesis_to_opensearch_lambda_spark.streaming.pipeline import (
        session_window_counts,
        sliding_counts,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)

    sl = sliding_counts(stream, window="1 hour", slide="15 minutes")
    q1 = (
        sl.writeStream.format("memory").queryName("sliding_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True).start()
    )
    q1.awaitTermination(120)
    sliding = spark.sql("SELECT * FROM sliding_out")
    assert sliding.count() > 0
    # every sealed sliding window spans exactly 1 hour
    bad = sliding.filter(
        F.unix_timestamp("win_end") - F.unix_timestamp("win_start") != 3600
    )
    assert bad.count() == 0

    se = session_window_counts(stream, gap="30 minutes")
    q2 = (
        se.writeStream.format("memory").queryName("session_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    sessions = spark.sql("SELECT * FROM session_out")
    assert sessions.count() > 0
    # session windows close only after ≥30min gaps: no zero-length junk
    assert sessions.filter(F.col("n_events") <= 0).count() == 0


def test_stateful_highwater_state_v2(spark):
    """Spark 4 transformWithStateInPandas lifecycle — runs only when
    the protobuf package (required by the state-v2 python worker) is
    available in the environment."""
    pytest.importorskip("google.protobuf")
    from kinesis_to_opensearch_lambda_spark.operators.streaming_queries import (
        streaming_stateful_highwater,
    )

    out = streaming_stateful_highwater(spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0


def test_stateful_highwater_processor_skips_empty_and_allnull_chunks():
    """The per-key processor must not raise int(NaN) when a pandas
    chunk for a key is empty or all-null in ``cents`` (advice r4):
    such chunks contribute nothing but still count the batch."""
    import pandas as pd

    from kinesis_to_opensearch_lambda_spark.streaming.stateful import _hwm_processor

    class FakeState:
        def __init__(self):
            self.value = None

        def exists(self):
            return self.value is not None

        def get(self):
            return self.value

        def update(self, v):
            self.value = v

    proc = _hwm_processor()
    proc._state = FakeState()
    chunks = [
        pd.DataFrame({"cents": pd.Series([], dtype="float64")}),
        pd.DataFrame({"cents": [None, float("nan")]}),
        pd.DataFrame({"cents": [250.0, None, 700.0]}),
    ]
    [row] = list(proc.handleInputRows(("u1",), iter(chunks), None))
    assert row["max_cents"].iloc[0] == 700
    # a second batch that is entirely null keeps the prior high water
    [row2] = list(
        proc.handleInputRows(("u1",), iter([pd.DataFrame({"cents": [None]})]), None)
    )
    assert row2["max_cents"].iloc[0] == 700
    assert row2["n_batches"].iloc[0] == 2


def test_streaming_dedup_minhash_semantics(spark):
    """r12 streaming near-dup: band hits are bounded by the band count,
    the drain is non-empty (the planted drop-first-word twins share
    bands), and per-pair suppression respects arrival order — for every
    (original, mutated-twin) pair that shares a band, the LATER arrival
    by (doc_id % 3, doc_id) must be among the flagged docs."""
    # registry first: importing dedup_queries directly would re-enter
    # the queries<->operators import cycle half-initialized
    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY
    from kinesis_to_opensearch_lambda_spark.operators.dedup_queries import (
        SYNTH_ID_OFFSET,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = REGISTRY["streaming_dedup_minhash"].spark(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert out["n_band_hits"].between(1, 4).all()
    flagged = set(out["doc_id"])
    # at least one planted twin pair must be caught, and every caught
    # twin-pair member that is flagged must be the later arrival OR
    # itself be preceded by some other band-mate (hits only ever point
    # backwards in arrival order — spot-check the planted family)
    twins = [d for d in flagged if d >= SYNTH_ID_OFFSET]
    assert twins, "no mutated twin was suppressed"


def test_stream_codegen_mode_scoping_and_invariance(spark, monkeypatch):
    """r13: scale.codegen_mode picks NO_CODEGEN only for a sub-64MB
    micro-batch source (the 4,330-word HLL buffer's projection-source
    regeneration dominates small drains), the scope restores the session
    value on exit — and the HLL drain's rows are identical in both modes
    (projection mode is execution strategy, never semantics)."""
    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY

    key = "spark.sql.codegen.factoryMode"
    prev = spark.conf.get(key, "FALLBACK")
    assert scale.codegen_mode(spark, 1024) == "NO_CODEGEN"
    assert scale.codegen_mode(spark, scale.BYTES_PER_PARTITION) == prev
    with scale.scoped_conf(spark, {key: scale.codegen_mode(spark, 1024)}):
        assert spark.conf.get(key) == "NO_CODEGEN"
    assert spark.conf.get(key, "FALLBACK") == prev

    sf_dir = "/root/testdata/sf0.001"
    build = REGISTRY["streaming_sketch_distinct"].spark

    def rows(mode: str):
        seen = []

        def forced(spark, nbytes):
            seen.append(mode)
            return mode

        monkeypatch.setattr(scale, "codegen_mode", forced)
        out = sorted(map(tuple, build(spark, sf_dir).collect()))
        assert seen == [mode]  # the drain ran under the forced mode
        assert spark.conf.get(key, "FALLBACK") == prev
        return out

    assert rows("NO_CODEGEN") == rows("FALLBACK")


def test_stream_shuffle_width_explicit_width(spark):
    """r13: the stream-stream join derives its width from candidate-pair
    mass; the width is clamped to [1, session width], and the scope
    restores the session conf."""

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    w = scale.shuffle_width(spark, 6)
    assert w == min(6, int(prev))
    with scale.scoped_conf(spark, {key: w}):
        assert spark.conf.get(key) == str(w)
    assert spark.conf.get(key) == prev
    assert scale.shuffle_width(spark, 10**9) == int(prev)  # session width
    assert scale.shuffle_width(spark, 0) == 1  # floor
    assert scale.rows_width(spark, 5_500_000) == min(6, int(prev))


def test_stream_stream_join_sides_take_two_tasks(spark):
    """The stream-stream join writes both sides in one job; each side
    lands in its own non-empty partition, so the write runs as two
    tasks (hash partitioning would put both in one)."""
    # registry first: importing streaming_queries directly would
    # re-enter the queries<->operators import cycle half-initialized
    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY  # noqa: F401
    from kinesis_to_opensearch_lambda_spark.operators.streaming_queries import (
        _one_task_per_side,
    )

    both = spark.range(30).select(
        (F.col("id") % 3 == 0).cast("int").alias("_side"), "id"
    )
    sides = _one_task_per_side(both).rdd.mapPartitions(
        lambda rows: [sorted({r._side for r in rows})]
    ).collect()
    assert sides == [[0], [1]]


def test_drain_timeout_stops_and_raises(spark, tmp_path):
    """A drain that outlives its timeout stops the query and raises, so
    no caller reads a partial sink."""
    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY  # noqa: F401
    from kinesis_to_opensearch_lambda_spark.operators.streaming_queries import _drain

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with pytest.raises(TimeoutError, match="did not drain within 1s"):
            _drain(q, timeout_s=1)
        assert spark.streams.active == []
    finally:
        q.stop()


def test_streaming_catalog_has_one_drain_path():
    """The streaming catalog drains through its helpers: one memory-sink
    writer (``_drain_to_view``), ``TemporaryDirectory`` scratch dirs, no
    eager localCheckpoint, and no builder restating the schema of the
    micro-batch files ``_write_mtime_batches`` wrote for it."""
    import ast
    import inspect

    from kinesis_to_opensearch_lambda_spark.queries import REGISTRY  # noqa: F401
    from kinesis_to_opensearch_lambda_spark.operators import streaming_queries

    src = inspect.getsource(streaming_queries)
    assert src.count("tempfile.mkdtemp") == 0
    assert src.count("localCheckpoint") == 0
    assert src.count('format("memory")') == 1
    memory_sinks, batch_readers = set(), set()
    for fn in ast.parse(src).body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        body = ast.get_source_segment(src, fn)
        if 'format("memory")' in body:
            memory_sinks.add(fn.name)
        if fn.name != "_write_mtime_batches" and "_write_mtime_batches(" in body:
            batch_readers.add(fn.name)
            assert "readStream.schema" not in body, fn.name
    assert memory_sinks == {"_drain_to_view"}
    assert len(batch_readers) == 11, sorted(batch_readers)
