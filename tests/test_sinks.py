"""Sink-layer tests: the reference left its sink bodies untested
(SURVEY.md §5 — elasticsearch_handler/splunk_handler had zero direct
coverage); these cover daily index computation, doc-id actions,
chunking, the disable gate, retry and error containment, through real
foreachPartition execution with a filesystem spool transport."""

from __future__ import annotations

import json
import sys

import pytest

from kinesis_to_opensearch_lambda_spark.sinks import (
    OpenSearchBulkSink,
    SplunkHECSink,
    SpoolDirTransport,
)

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
