"""Sink-layer tests: the reference left its sink bodies untested
(SURVEY.md §5 — elasticsearch_handler/splunk_handler had zero direct
coverage); these cover daily index computation, doc-id actions,
chunking, the disable gate, retry and error containment, through real
foreachPartition execution with a filesystem spool transport."""

from __future__ import annotations

import base64
import json
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kinesis_to_opensearch_lambda_spark.sinks import (
    OpenSearchBulkSink,
    SplunkHECSink,
    SpoolDirTransport,
)

from .test_properties import record_st, tricky_text
from .test_transforms import FULL_RECORD, decoded


@pytest.fixture
def records():
    return [
        dict(FULL_RECORD, random_id=f"id-{i}", datetime=f"2026-02-1{1 + i % 3}T0{i % 10}:00:00")
        for i in range(20)
    ]


def test_opensearch_actions_shape(spark, tmp_path, records):
    spool = SpoolDirTransport(str(tmp_path / "es"))
    sink = OpenSearchBulkSink(transport_factory=lambda: SpoolDirTransport(str(tmp_path / "es")))
    ok, total = sink.write(decoded(spark, records))
    assert (ok, total) == (20, 20)
    actions = spool.read_back()
    assert len(actions) == 20
    by_id = {a["_id"]: a for a in actions}
    assert by_id["id-3"]["_index"] == "logs-2026-02-11"  # daily routing
    src = by_id["id-3"]["_source"]
    assert set(src).issubset(
        {"random_id", "kind_id", "account_id", "performer_id",
         "repository_id", "ip", "metadata", "datetime", "@timestamp"}
    )  # ES projection applied inside the sink
    assert src["@timestamp"] == src["datetime"]


def test_splunk_envelope_full_record(spark, tmp_path, records):
    spool = SpoolDirTransport(str(tmp_path / "hec"))
    sink = SplunkHECSink(
        transport_factory=lambda: SpoolDirTransport(str(tmp_path / "hec")),
        splunk_index="audit",
    )
    ok, total = sink.write(decoded(spark, records))
    assert (ok, total) == (20, 20)
    events = spool.read_back()
    assert all(e["sourcetype"] == "json" for e in events)
    assert all(e["index"] == "audit" for e in events)
    # full-record passthrough: Splunk sees the extended fields, and the
    # event is a NESTED JSON OBJECT (reference posts json=events,
    # lambda_function.py:97) — not a re-escaped string.
    payload = events[0]["event"]
    assert isinstance(payload, dict)
    assert "request_url" in payload and "user_agent" in payload


def test_splunk_chunking_flushes_remainder(spark, tmp_path, records):
    spool_dir = str(tmp_path / "chunks")
    sink = SplunkHECSink(
        transport_factory=lambda: SpoolDirTransport(spool_dir),
        max_batch_size=6,  # 20 rows in one partition -> 6,6,6,2
    )
    df = decoded(spark, records).coalesce(1)
    ok, total = sink.write(df)
    assert (ok, total) == (20, 20)
    import os

    sizes = sorted(
        len(open(os.path.join(spool_dir, f)).read().splitlines())
        for f in os.listdir(spool_dir)
        if f.endswith(".jsonl")
    )
    assert sizes == [2, 6, 6, 6]


def test_splunk_disable_gate_skips_everything(spark, tmp_path, records):
    spool = SpoolDirTransport(str(tmp_path / "disabled"))
    sink = SplunkHECSink(
        transport_factory=lambda: SpoolDirTransport(str(tmp_path / "disabled")),
        disabled="True",
    )
    assert sink.write(decoded(spark, records)) == (0, 0)
    assert spool.read_back() == []
    # string "false" is truthy but fails the =="true" check -> enabled
    sink_on = SplunkHECSink(
        transport_factory=lambda: SpoolDirTransport(str(tmp_path / "disabled")),
        disabled="false",
    )
    assert sink_on.write(decoded(spark, records)) == (20, 20)


def test_retry_recovers_transient_failures(spark, tmp_path, records):
    # transport fails twice then succeeds; 3 retries cover it
    spool_dir = str(tmp_path / "retry")
    sink = OpenSearchBulkSink(
        transport_factory=lambda: SpoolDirTransport(spool_dir, fail_times=2),
        max_retries=3,
    )
    ok, total = sink.write(decoded(spark, records).coalesce(1))
    assert (ok, total) == (20, 20)


def test_error_containment_drops_chunk_not_stream(spark, tmp_path, records):
    # Splunk semantics: one attempt, failure swallowed -> chunk counts 0
    spool_dir = str(tmp_path / "contain")
    sink = SplunkHECSink(
        transport_factory=lambda: SpoolDirTransport(spool_dir, fail_times=1),
        max_batch_size=10,
    )
    ok, total = sink.write(decoded(spark, records).coalesce(1))
    assert total == 20
    assert ok == 10  # first chunk dropped, second delivered, no exception


def test_chunking_property():
    """Property: chunks partition the input exactly — sizes sum to the
    total, every chunk ≤ max, order preserved (lambda_function.py:127-135
    flush-remainder semantics)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kinesis_to_opensearch_lambda_spark.sinks.base import _Outbox

    class Recorder:
        def __init__(self):
            self.chunks = []

        def send(self, chunk):
            self.chunks.append(list(chunk))

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.text(max_size=5), max_size=200),
        st.integers(min_value=1, max_value=50),
    )
    def check(items, size):
        box = _Outbox(Recorder(), size, retries=0)
        for x in items:
            box.add(x)
        box.flush()
        out = box.transport.chunks
        assert box.ok == box.total == len(items)
        assert [x for c in out for x in c] == items
        assert all(1 <= len(c) <= size for c in out)
        if out:
            assert all(len(c) == size for c in out[:-1])

    check()


def _unguarded_hec_payload(df, splunk_index: str):
    """Oracle for the HEC payload: all six strips on every parsed row and
    a splice that counts the event's characters, with no guard.  The
    patterns and the strict parse are written out here rather than
    imported, so a change to the sink's shows up as a difference."""
    jstr = r'"(?:[^"\\]|\\.)*"'

    def strip(col, field, value):
        out = F.regexp_replace(col, f'"{field}"\\s*:\\s*{value}\\s*,', "")
        out = F.regexp_replace(out, f',\\s*"{field}"\\s*:\\s*{value}', "")
        return F.regexp_replace(out, f'"{field}"\\s*:\\s*{value}', "")

    strict = {"allowSingleQuotes": "false"}
    is_object = F.from_json("_raw", "map<string,string>", strict).isNotNull()
    parsed = F.col("random_id").isNotNull() | is_object
    raw = strip(strip(F.col("_raw"), "@timestamp", jstr), "ip", '(?:""|null)')
    frame = df.withColumn("_oracle_event", F.when(parsed, raw))
    event = F.col("_oracle_event")
    frag = F.to_json(F.struct(F.col("datetime").alias("@timestamp")))
    injected = F.concat(
        F.lit("{"),
        F.substring(frag, 2, F.length(frag) - 2),
        F.when(F.regexp_like(event, F.lit(r"^\{\s*\}$")), F.lit("")).otherwise(F.lit(",")),
        F.substring(event, 2, F.length(event) - 1),
    )
    tail = json.dumps({"sourcetype": "json", "index": splunk_index}, separators=(",", ":"))
    return frame, F.concat(
        F.lit('{"event":'),
        F.when(F.col("datetime").isNull(), event).otherwise(injected),
        F.lit("," + tail[1:]),
    )


def assert_hec_bytes_match_unguarded(spark, texts: list[str]) -> None:
    """Each decoded text's HEC payload is the oracle's, byte for byte
    (a NULL, the skip, included)."""
    from kinesis_to_opensearch_lambda_spark.streaming.pipeline import decode_stream

    env = spark.createDataFrame(
        [(base64.b64encode(t.encode()).decode(),) for t in texts], "kinesis_data string"
    )
    frame, got = SplunkHECSink(transport_factory=None, splunk_index="audit").payload(
        decode_stream(env)
    )
    frame, want = _unguarded_hec_payload(frame, "audit")
    rows = frame.select("_raw", got.alias("got"), want.alias("want")).collect()
    assert len(rows) == len(texts)
    for r in rows:
        got_b = None if r.got is None else r.got.encode()
        want_b = None if r.want is None else r.want.encode()
        assert got_b == want_b, f"\n_raw={r._raw!r}\ngot ={r.got!r}\nwant={r.want!r}"


DT = '"datetime": "2026-02-18T10:30:00"'
HOSTILE_HEC_TEXTS = [
    # "ip" first, middle, last and only; whitespace around colon and comma
    '{"ip": null, "random_id": "ip-first", ' + DT + "}",
    '{"random_id": "ip-mid", "ip" :  null , ' + DT + "}",
    '{"random_id": "ip-last", ' + DT + ', "ip":""}',
    '{"ip": null}',
    '{"ip": ""}',
    '{"random_id": "ip-ws",\n\t"ip"\t:\n"" ,\n' + DT + "}",
    '{"random_id": "ip-kept", "ip": "10.0.0.1", ' + DT + "}",
    '{"random_id": "ip-str-null", "ip": "null", ' + DT + "}",
    # "@timestamp" first, middle, last and only
    '{"@timestamp": "old", "random_id": "ts-first", ' + DT + "}",
    '{"random_id": "ts-mid", "@timestamp" :  "old" , ' + DT + "}",
    '{"random_id": "ts-last", ' + DT + ', "@timestamp":"old"}',
    '{"@timestamp": "old"}',
    '{"@timestamp": 7, "random_id": "ts-number", ' + DT + "}",
    # both, in either order, and both only
    '{"@timestamp": "old", "ip": null}',
    '{"ip": "", "@timestamp": "o\\"ld", "random_id": "both", ' + DT + "}",
    # nested fields are stripped too: the strips are textual
    '{"x": {"ip": null}, "random_id": "nested-ip", ' + DT + "}",
    '{"x": {"@timestamp": "t", "y": 1}, "random_id": "nested-ts", ' + DT + "}",
    # the literals inside string values
    '{"random_id": "ts-in-value", "note": "@timestamp", ' + DT + "}",
    '{"random_id": "quoted-in-value", "note": "\\"@timestamp\\": \\"x\\", \\"ip\\": null", '
    + DT + "}",
    '{"x\\"@timestamp": "v", "random_id": "escaped-key", ' + DT + "}",
    # escaped quotes and multi-byte characters around the strips
    '{"random_id": "mb-\u00fc", "u": "h\u00e9llo \u65e5\u672c \U0001F600 \\"q\\"", '
    '"ip": "", "@timestamp": "\u00f6", ' + DT + "}",
    '{"random_id": "\U0001F600", "@timestamp": "\u65e5", "ip": null}',
    # id-less records still reach Splunk; no datetime means no injection
    '{"ip": null, ' + DT + "}",
    '{"random_id": "no-dt", "ip": null}',
    "{}",
    "{ }",
    # the event's second character is each Java \s character, so the
    # oracle's emptiness regex runs and must answer "not empty" (\x0b and
    # \f are not JSON whitespace, so those two records are skipped)
    *['{' + ws + f'"random_id": "ws-{ord(ws)}", ' + DT + "}" for ws in " \t\n\x0b\f\r"],
    # single quotes are not JSON, so these are skipped: a lenient parse
    # would post them, and the regex, which reads only double-quoted
    # strings, would span a single-quoted value holding '"@timestamp":"'
    # to the next '"', across the pairs after it, and strip a '"ip":null'
    # inside one; with and without datetime, and a key in either quote
    "{'note': '\"@timestamp\":\"', " + DT + ", 'random_id': 'sq-span', 'z': '\"'}",
    "{'note': '\"@timestamp\":\"', 'datetime': '2026-02-18T10:30:00', 'random_id': "
    "'sq-span-dt', 'z': '\"'}",
    "{'note': '\"@timestamp\":\"', 'random_id': 'sq-span-no-dt', 'z': '\"'}",
    "{'random_id': 'sq-ip', 'note': '\"ip\":null', 'datetime': '2026-02-18T10:30:00'}",
    "{'random_id': 'sq-ip-no-dt', 'note': '\"ip\": null,'}",
    "{'@timestamp': 'old', 'ip': null, 'random_id': 'sq-keys', " + DT + "}",
    '{"@timestamp": "old", ' + "'random_id': 'sq-rest', 'datetime': '2026-02-18T10:30:00'}",
    '{"ip": null, ' + "'random_id': 'sq-rest-ip', 'datetime': '2026-02-18T10:30:00'}",
    # a double-quoted @timestamp value holding single-quoted pairs is
    # JSON: the regex strips '"@timestamp":"...' up to the end, leaving
    # '{}'; the parser reads one @timestamp key holding the rest, so no
    # datetime
    '{"@timestamp": "' + "', 'datetime': '2026-02-18T10:30:00', 'random_id': 'sq-in-ts', 'z': '\"}",
    # non-object JSON and invalid JSON are skipped
    "[1, 2]",
    '"@timestamp"',
    "42",
    "null",
    '{"ip": null',
    '{"ip": nullx, "random_id": "bad"}',
]


def test_hec_payload_bytes_match_unguarded_chain_on_hostile_records(spark):
    assert_hec_bytes_match_unguarded(spark, HOSTILE_HEC_TEXTS)


def test_hec_event_after_leading_whitespace_is_the_reference_dict(spark):
    """A decoded record may start with JSON whitespace, as
    ``json.loads`` accepts: its HEC payload still parses, and its event
    is the reference transform's dict."""
    from kinesis_to_opensearch_lambda_spark.streaming.pipeline import decode_stream

    from .test_properties import model_splunk_event

    record = '{"datetime": "2024-01-01T00:00:00.000000", "random_id": "%s", "ip": ""}'
    texts = [lead + record % f"lead-{i}" for i, lead in enumerate([" ", "\n", "\r\n", "\t"])]
    env = spark.createDataFrame(
        [(base64.b64encode(t.encode()).decode(),) for t in texts], "kinesis_data string"
    )
    sink = SplunkHECSink(transport_factory=None, splunk_index="audit")
    got = [json.loads(r.payload)["event"] for r in sink.serialize(decode_stream(env)).collect()]
    want = [model_splunk_event(json.loads(t)) for t in texts]
    assert sorted(got, key=lambda e: e["random_id"]) == want


_SEPARATORS = st.sampled_from([(", ", ": "), (",", ":"), (" , ", " :  "), (",\n", "\t:\t")])
_hec_record_st = record_st.flatmap(
    lambda r: st.fixed_dictionaries(
        {},
        optional={
            "@timestamp": st.one_of(tricky_text, st.integers()),
            "ip": st.one_of(st.just(""), st.none(), tricky_text),
            "nested": st.fixed_dictionaries(
                {}, optional={"ip": st.one_of(st.just(""), st.none()), "@timestamp": tricky_text}
            ),
        },
    ).map(lambda extra: {**r, **extra})
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            _hec_record_st.flatmap(lambda r: st.permutations(list(r.items()))),
            _SEPARATORS,
            st.booleans(),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_hec_payload_bytes_match_unguarded_chain(spark, records):
    texts = [
        json.dumps(dict(items), separators=sep, ensure_ascii=ascii_only)
        for items, sep, ascii_only in records
    ]
    assert_hec_bytes_match_unguarded(spark, texts)


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13 re-reads zip directories lazily; the fix does not install",
)
def test_worker_zip_directory_reread_only_when_changed(tmp_path, monkeypatch):
    """The per-task ``importlib.invalidate_caches()`` of a Python worker
    re-reads a zip archive's directory only when the archive changed,
    and an archive that is rewritten is still seen."""
    import importlib
    import zipfile
    import zipimport

    from kinesis_to_opensearch_lambda_spark.sinks import base

    archive = tmp_path / "mods.zip"

    def write(version: str) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zip_cache_probe_m.py", f"VERSION = {version!r}\n")

    write("v1")
    monkeypatch.syspath_prepend(str(archive))
    # restored at teardown, which undoes the install
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory",
        lambda path: reads.append(path) or read_directory(path),
    )
    try:
        import zip_cache_probe_m as m

        assert m.VERSION == "v1"
        base._skip_unchanged_zip_rereads()
        base._skip_unchanged_zip_rereads()  # idempotent
        importlib.invalidate_caches()  # stamps the directory it reads
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(str(archive)) == 0

        write("v2, a longer module")  # a different size
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.reload(m).VERSION == "v2, a longer module"
    finally:
        sys.modules.pop("zip_cache_probe_m", None)
        sys.path_importer_cache.pop(str(archive), None)
