"""Pure-Python model of the reference transform, and the delivery check.

The model restates the reference Lambda line for line:

- ``process``: ``@timestamp := datetime``, then a falsy ``ip`` is popped
  (lambda_function.py:43-50);
- ``es_action``: the allowlist projection (:52-54), the daily index
  ``prefix + date(datetime)`` (:80) and ``_id = random_id`` (:81);
- ``hec_event``: the full processed record in the HEC envelope
  (:121-125).

``check_spools`` reads back what both sinks delivered and compares every
OpenSearch action and HEC event to the model as parsed JSON, requiring
each expected id exactly once per sink.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime

ES_FIELDS = (
    "random_id", "kind_id", "account_id", "performer_id", "repository_id",
    "ip", "metadata", "datetime", "@timestamp",
)


def process(record: dict) -> dict:
    message = dict(record)
    message["@timestamp"] = message["datetime"]
    if "ip" in message and not message["ip"]:
        message.pop("ip")
    return message


def es_action(record: dict, index_prefix: str) -> dict:
    message = process(record)
    day = datetime.fromisoformat(message["datetime"]).date()
    return {
        "_index": index_prefix + str(day),
        "_id": message["random_id"],
        "_source": {k: v for k, v in message.items() if k in ES_FIELDS},
    }


def hec_event(record: dict, splunk_index: str) -> dict:
    return {"event": process(record), "sourcetype": "json", "index": splunk_index}


def read_spool(spool_dir: str) -> list[tuple[float, list[str]]]:
    """``(delivery time, lines)`` per delivered chunk file; the delivery
    time is the file's modification time."""
    out = []
    for name in sorted(os.listdir(spool_dir)) if os.path.isdir(spool_dir) else ():
        if name.endswith(".jsonl"):
            path = os.path.join(spool_dir, name)
            with open(path) as f:
                out.append((os.stat(path).st_mtime, f.read().splitlines()))
    return out


@dataclass
class Delivery:
    """Outcome of one check: per-id delivery time (the later sink) and
    the ids that failed."""

    delivered_at: dict[str, float] = field(default_factory=dict)
    failed_ids: set[str] = field(default_factory=set)


def check_spools(expected: dict[str, dict], es_dir: str, hec_dir: str,
                 index_prefix: str, splunk_index: str) -> Delivery:
    """Compare both spools with the model of every record in ``expected``
    (unique id -> raw record)."""
    out = Delivery()
    for spool, key, model in (
        (es_dir, lambda o: o.get("_id"),
         lambda r: es_action(r, index_prefix)),
        (hec_dir, lambda o: (o.get("event") or {}).get("random_id"),
         lambda r: hec_event(r, splunk_index)),
    ):
        seen: set[str] = set()
        for mtime, lines in read_spool(spool):
            for line in lines:
                obj = json.loads(line)
                rid = key(obj)
                if rid not in expected or rid in seen:
                    out.failed_ids.add(str(rid))
                    continue
                seen.add(rid)
                if obj != model(expected[rid]):
                    out.failed_ids.add(rid)
                prev = out.delivered_at.get(rid, 0.0)
                out.delivered_at[rid] = max(prev, mtime)
        out.failed_ids.update(set(expected) - seen)
    for rid in out.failed_ids:
        out.delivered_at.pop(rid, None)
    return out
