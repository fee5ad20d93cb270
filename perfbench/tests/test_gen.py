"""The generator is deterministic in its seed and hits its target shares."""

from __future__ import annotations

import base64
import hashlib
import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen, model


def _digest(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


def _decoded(directory: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(directory)):
        for b64 in pq.read_table(os.path.join(directory, name))["kinesis_data"].to_pylist():
            out.append(json.loads(base64.b64decode(b64)))
    return out


def test_same_seed_gives_byte_identical_backlog(tmp_path):
    shares = gen.Shares(width=1000)
    gen.backlog(7, str(tmp_path / "a"), 3000, 4, shares)
    gen.backlog(7, str(tmp_path / "b"), 3000, 4, shares)
    gen.backlog(8, str(tmp_path / "c"), 3000, 4, shares)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_same_seed_gives_byte_identical_feed(tmp_path):
    shares = gen.Shares(redelivered=0.05)
    gen.trickle(3, str(tmp_path / "a"), 12, 100, 360.0, shares)
    gen.trickle(3, str(tmp_path / "b"), 12, 100, 360.0, shares)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")


def test_backlog_hits_target_shares(tmp_path):
    shares = gen.Shares(ip_empty=0.05, ip_null=0.05, preexisting_ts=0.10,
                        unknown_fields=0.6, width=1000, days=5)
    n = 6000
    recs = gen.backlog(11, str(tmp_path), n, 3, shares)
    assert recs == _decoded(str(tmp_path))  # files hold exactly these records

    def share(pred) -> float:
        return sum(1 for r in recs if pred(r)) / n

    assert share(lambda r: r["ip"] == "") == pytest.approx(0.05, abs=0.015)
    assert share(lambda r: r["ip"] is None) == pytest.approx(0.05, abs=0.015)
    assert share(lambda r: "@timestamp" in r) == pytest.approx(0.10, abs=0.02)
    assert share(lambda r: "session" in r) == pytest.approx(0.6, abs=0.03)
    widths = sorted(len(json.dumps(r)) for r in recs)
    assert widths[n // 2] == pytest.approx(1000, rel=0.02)
    days = {r["datetime"][:10] for r in recs}
    assert len(days) >= 5  # the daily index varies
    assert len({r["random_id"] for r in recs}) == n  # no redelivery asked
    # no shape the engine is known to treat differently from the reference
    assert all("random_id" in r for r in recs)
    assert all(isinstance(v, str) for r in recs for v in r["metadata"].values())


def test_feed_redelivers_recent_records(tmp_path):
    shares = gen.Shares(redelivered=0.05)
    files = gen.trickle(5, str(tmp_path), 40, 200, 360.0, shares, lookback=4)
    flat = [r for f in files for r in f]
    first_file: dict[str, int] = {}
    dups = 0
    for i, f in enumerate(files):
        for r in f:
            rid = r["random_id"]
            if rid in first_file:
                dups += 1
                assert i - first_file[rid] <= 4  # inside the lookback
            else:
                first_file[rid] = i
    assert dups / len(flat) == pytest.approx(0.05 * 39 / 40, abs=0.01)
    # event time advances with the feed
    assert files[-1][0]["datetime"] > files[0][-1]["datetime"]


def test_model_matches_reference_semantics():
    rec = {"datetime": "2024-03-01T23:59:59.000001", "random_id": "a", "ip": "",
           "kind_id": 1, "@timestamp": "old", "extra": {"x": 1}}
    action = model.es_action(rec, "audit-")
    assert action["_index"] == "audit-2024-03-01"
    assert action["_id"] == "a"
    assert action["_source"] == {"datetime": rec["datetime"], "random_id": "a",
                                 "kind_id": 1, "@timestamp": rec["datetime"]}
    event = model.hec_event(rec, "main")
    assert event["event"]["extra"] == {"x": 1} and "ip" not in event["event"]
    assert event["sourcetype"] == "json" and event["index"] == "main"
