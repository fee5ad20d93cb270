"""KinesisEnvelopeJsonlStreamReader offset contract: offsets are
high-water FILENAMES, not positional indices, so a file with a
lexically earlier name appearing between commit and restart neither
shifts the replayed range nor gets double-read; one read() takes every
file past the high-water name, so an availableNow drain is complete."""

from __future__ import annotations

import base64
import json

from kinesis_to_opensearch_lambda_spark.sources.python_datasource import (
    KinesisEnvelopeJsonlStreamReader,
)


def _write(tmp_path, name: str, payloads: list[str]) -> None:
    lines = [
        json.dumps(
            {"kinesis": {"data": base64.b64encode(p.encode()).decode()}}
        )
        for p in payloads
    ]
    (tmp_path / name).write_text("\n".join(lines) + "\n")


def _reader(tmp_path) -> KinesisEnvelopeJsonlStreamReader:
    return KinesisEnvelopeJsonlStreamReader({"path": str(tmp_path)})


def test_one_read_takes_every_pending_file_by_name(tmp_path):
    _write(tmp_path, "part-001", ["a"])
    _write(tmp_path, "part-002", ["b", "c"])
    _write(tmp_path, "part-003", ["d"])
    r = _reader(tmp_path)
    rows1, off1 = r.read(r.initialOffset())
    assert [base64.b64decode(t[0]).decode() for t in rows1] == ["a", "b", "c", "d"]
    assert off1 == {"pos": "part-003"}
    rows2, off2 = r.read(off1)
    assert list(rows2) == [] and off2 == off1
    # a file that lands later is the whole of the next read
    _write(tmp_path, "part-004", ["e"])
    rows3, off3 = r.read(off2)
    assert len(list(rows3)) == 1 and off3 == {"pos": "part-004"}


def test_available_now_drains_every_file_present_at_start(spark, tmp_path):
    """Spark fixes an availableNow query's end offset at the simple
    reader's first read(), so that read must cover every pending file:
    3 files of 4 records drain to 12 rows, not the first file's 4."""
    import uuid

    from kinesis_to_opensearch_lambda_spark.sources.python_datasource import (
        KinesisEnvelopeJsonlSource,
    )

    src = tmp_path / "env"
    src.mkdir()
    for f in range(3):
        _write(src, f"part-{f:03d}.jsonl", [f"{f}-{i}" for i in range(4)])
    spark.dataSource.register(KinesisEnvelopeJsonlSource)
    name = f"pyds_avail_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("kinesis_envelope_jsonl")
        .option("path", str(src))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(
        base64.b64decode(r.kinesis_data).decode() for r in spark.table(name).collect()
    )
    assert got == sorted(f"{f}-{i}" for f in range(3) for i in range(4))


def test_replay_is_stable_when_earlier_name_appears(tmp_path):
    """The ADVICE scenario: batch (part-002, part-003] is committed,
    then part-000 (lexically FIRST) lands before a restart.  An index
    offset would slide the replayed slice onto the wrong file; the
    name range must still return exactly part-003's rows."""
    _write(tmp_path, "part-002", ["a"])
    _write(tmp_path, "part-003", ["b"])
    r = _reader(tmp_path)
    start, end = {"pos": "part-002"}, {"pos": "part-003"}
    before = [t[0] for t in r.readBetweenOffsets(start, end)]

    _write(tmp_path, "part-000", ["intruder"])
    after = [t[0] for t in r.readBetweenOffsets(start, end)]
    assert after == before
    assert base64.b64decode(after[0]).decode() == "b"


def test_replay_is_stable_when_a_file_is_removed(tmp_path):
    _write(tmp_path, "part-001", ["a"])
    _write(tmp_path, "part-002", ["b"])
    _write(tmp_path, "part-003", ["c"])
    r = _reader(tmp_path)
    start, end = {"pos": "part-002"}, {"pos": "part-003"}
    before = [t[0] for t in r.readBetweenOffsets(start, end)]
    (tmp_path / "part-001").unlink()  # already-committed file cleaned up
    after = [t[0] for t in r.readBetweenOffsets(start, end)]
    assert after == before


def test_late_arriving_older_name_is_skipped_not_reread(tmp_path):
    """read() past the high-water mark ignores older basenames — the
    same drop semantics as the built-in file source's processed log."""
    _write(tmp_path, "part-005", ["a"])
    r = _reader(tmp_path)
    _, off = r.read(r.initialOffset())
    assert off == {"pos": "part-005"}
    _write(tmp_path, "part-001", ["late"])
    rows, off2 = r.read(off)
    assert list(rows) == []
    assert off2 == off


def test_unrecognized_offset_shape_raises(tmp_path):
    _write(tmp_path, "part-001", ["a"])
    import pytest

    for offset in ({"bogus": 1}, {"idx": 1}):
        with pytest.raises(ValueError, match="unrecognized offset"):
            _reader(tmp_path).read(offset)
