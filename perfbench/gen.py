"""Seeded input generator for the fan-out benchmark.

Every input is derived from one integer seed through numpy's PCG64
generator, so the same seed writes byte-identical envelope Parquet files.
Records follow the reference's audit-event shape (datetime, random_id,
numeric ids, ip, metadata, request fields) and the generator controls
the properties the transform branches on:

- the share of records whose ``ip`` is ``""`` or ``null`` (dropped by
  both sinks);
- the share that arrive with their own ``@timestamp`` (overwritten);
- the share that carry Splunk-only fields outside the parsed schema;
- the share of redelivered records (an exact copy of a recent record);
- the raw JSON width of a record;
- the ``datetime`` spread, which decides the daily OpenSearch index.

Two shapes of input are not generated because the engine is known to
differ from the reference on them: numeric ``metadata`` values (coerced
to strings) and records without ``random_id`` (dropped before the
Splunk branch).
"""

from __future__ import annotations

import base64
import json
import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2024, 1, 1)
ENVELOPE_SCHEMA = pa.schema([pa.field("kinesis_data", pa.string())])

_METHODS = ("GET", "POST", "PUT", "DELETE")
_KINDS = ("user", "robot", "org", "anonymous")
_AUTH = ("oauth", "basic", "token", "session")
_ROUTES = ("repository", "user", "organization", "build", "tag", "team")


@dataclass(frozen=True)
class Shares:
    """Target shares of the record properties the transform branches on."""

    ip_empty: float = 0.05
    ip_null: float = 0.05
    preexisting_ts: float = 0.10
    unknown_fields: float = 0.50
    redelivered: float = 0.0
    width: int = 250  # target raw JSON bytes per record
    days: int = 5  # datetime spread of a backlog


def records(seed: int, n: int, shares: Shares, start: datetime,
            span_s: float, first_index: int = 0,
            rng: np.random.Generator | None = None) -> list[dict]:
    """``n`` records with datetimes spread uniformly over ``span_s``
    seconds from ``start``. Every random draw is made for all ``n``
    records at once."""
    rng = rng if rng is not None else np.random.default_rng(seed)
    offsets = (np.sort(rng.random(n)) * span_s).tolist()
    user = rng.integers(1, 5000, n)
    cols = {
        "user": user.tolist(),
        "kind_id": rng.integers(0, 12, n).tolist(),
        "performer_id": (user * 100 + rng.integers(0, 100, n)).tolist(),
        "repository_id": rng.integers(1, 100_000, n).tolist(),
        "rid": rng.integers(0, 1 << 32, n).tolist(),
        "u_ip": rng.random(n).tolist(),
        "ip": rng.integers(0, 256, (n, 3)).tolist(),
        "n_meta": rng.integers(1, 4, n).tolist(),
        "meta": rng.integers(0, 1000, (n, 3)).tolist(),
        "route": rng.integers(0, len(_ROUTES), n).tolist(),
        "route_id": rng.integers(0, 10**6, n).tolist(),
        "method": rng.integers(0, len(_METHODS), n).tolist(),
        "performer_kind": rng.integers(0, len(_KINDS), n).tolist(),
        "auth": rng.integers(0, len(_AUTH), n).tolist(),
        "request_id": rng.integers(0, 1 << 62, n).tolist(),
        "has_ts": (rng.random(n) < shares.preexisting_ts).tolist(),
        "ts_back": rng.integers(1, 600, n).tolist(),
        "unknown": (rng.random(n) < shares.unknown_fields).tolist(),
        "session": rng.integers(0, 1 << 48, n).tolist(),
        "mfa": (rng.random(n) < 0.5).tolist(),
        "tags": rng.integers(0, 50, (n, 3)).tolist(),
        "latency": rng.random(n).tolist(),
    }
    out = []
    for i, off in enumerate(offsets):
        c = {k: v[i] for k, v in cols.items()}
        when = start + timedelta(seconds=off)
        u = c["user"]
        rec: dict = {
            "datetime": when.strftime("%Y-%m-%dT%H:%M:%S.%f"),
            "random_id": f"s{seed}-{first_index + i:08d}-{c['rid']:08x}",
            "kind_id": c["kind_id"],
            "account_id": u,
            "performer_id": c["performer_id"],
            "repository_id": c["repository_id"],
        }
        if c["u_ip"] < shares.ip_empty:
            rec["ip"] = ""
        elif c["u_ip"] < shares.ip_empty + shares.ip_null:
            rec["ip"] = None
        else:
            rec["ip"] = "10.{}.{}.{}".format(*c["ip"])
        rec["metadata"] = {f"k{j}": f"v{c['meta'][j]}" for j in range(c["n_meta"])}
        rec["request_url"] = f"/api/v1/{_ROUTES[c['route']]}/{c['route_id']}"
        rec["http_method"] = _METHODS[c["method"]]
        rec["performer_username"] = f"user{u}"
        rec["performer_email"] = f"user{u}@example.com"
        rec["performer_kind"] = _KINDS[c["performer_kind"]]
        rec["auth_type"] = _AUTH[c["auth"]]
        rec["request_id"] = f"{c['request_id']:016x}"
        if c["has_ts"]:
            rec["@timestamp"] = (when - timedelta(seconds=c["ts_back"])
                                 ).strftime("%Y-%m-%dT%H:%M:%SZ")
        if c["unknown"]:
            rec["session"] = {"id": f"{c['session']:012x}", "mfa": c["mfa"]}
            rec["tags"] = [f"t{t}" for t in c["tags"]]
            rec["latency_ms"] = round(c["latency"] * 250, 3)
            rec["note"] = 'quoted "value" and \\ backslash'
        # Pad the schema's user_agent field (Splunk sees it, the OpenSearch
        # allowlist drops it) so the record reaches the target width.
        rec["user_agent"] = ""
        pad = shares.width - len(json.dumps(rec))
        rec["user_agent"] = ("Mozilla/5.0 " + "x" * max(0, pad - 12))[: max(0, pad)]
        out.append(rec)
    return out


def start_day(seed: int) -> datetime:
    """A seed-chosen day in 2024 at 20:00, so spans cross midnight."""
    day = int(np.random.default_rng([seed, 7]).integers(0, 300))
    return EPOCH + timedelta(days=day, hours=20)


def write_envelopes(path: str, recs: list[dict]) -> None:
    """One envelope Parquet file: base64(JSON) per record, one Kinesis
    batch per file."""
    data = [base64.b64encode(json.dumps(r).encode()).decode() for r in recs]
    table = pa.table({"kinesis_data": pa.array(data, pa.string())},
                     schema=ENVELOPE_SCHEMA)
    pq.write_table(table, path, compression="snappy")


def backlog(seed: int, out_dir: str, n_records: int, n_files: int,
            shares: Shares) -> list[dict]:
    """Pre-written backlog: ``n_records`` split evenly over ``n_files``
    files, datetimes spread over ``shares.days`` days. Returns every
    record in file order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    recs = records(seed, n_records, shares, start_day(seed),
                   shares.days * 86400.0, rng=rng)
    order = rng.permutation(n_records)  # files hold mixed days
    recs = [recs[i] for i in order]
    per = -(-n_records // n_files)
    for f in range(n_files):
        write_envelopes(os.path.join(out_dir, f"batch-{f:04d}.parquet"),
                        recs[f * per:(f + 1) * per])
    return recs


def trickle(seed: int, out_dir: str, n_files: int, per_file: int,
            step_s: float, shares: Shares, lookback: int = 4
            ) -> list[list[dict]]:
    """Files for an open-loop feed. File ``i`` holds datetimes in
    ``[start + i*step_s, start + (i+1)*step_s)``, so event time advances
    with the feed; a ``shares.redelivered`` share of each file's slots
    repeats a record from the previous ``lookback`` files verbatim.
    Returns the records of each file, in order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    start = start_day(seed)
    files: list[list[dict]] = []
    originals: list[list[dict]] = []  # first deliveries only, per file
    idx = 0
    for f in range(n_files):
        fresh = records(seed, per_file, shares,
                        start + timedelta(seconds=f * step_s), step_s,
                        first_index=idx, rng=rng)
        idx += per_file
        batch = list(fresh)
        if f > 0 and shares.redelivered > 0:
            # copies are drawn from first deliveries only, so a copy is
            # never more than ``lookback`` files older than its original
            pool = [r for prev in originals[-lookback:] for r in prev]
            slots = np.flatnonzero(rng.random(per_file) < shares.redelivered)
            for s in slots:
                batch[s] = pool[int(rng.integers(0, len(pool)))]
            taken = set(slots.tolist())
            fresh = [r for i, r in enumerate(fresh) if i not in taken]
        originals.append(fresh)
        files.append(batch)
        write_envelopes(os.path.join(out_dir, f"feed-{f:05d}.parquet"), batch)
    return files
