"""Splunk-HEC-shaped sink (reference splunk_handler + _send_to_splunk,
lambda_function.py:90-138).

Semantics preserved:

- full (unprojected) record, schemaless passthrough
  (lambda_function.py:148 — the Splunk branch sees every field): the
  event is the decoded ``_raw`` JSON text with the two normalize steps
  re-applied textually, so unknown fields survive byte for byte;
- HEC envelope ``{"event": ..., "sourcetype": "json", "index": ...}``
  (:121-125), built by :meth:`SplunkHECSink.payload` — the one payload
  expression;
- the reference's Splunk None-guard (:117-119) is owned here: a record
  that is not a parsed JSON object is skipped, while a parsed record
  without ``random_id`` is still posted (only the OpenSearch branch keys
  on the id);
- 500-event chunks, remainder flushed (:115,127-135);
- per-POST failure swallowed → that chunk counts 0, stream continues
  (:100-102) — expressed as ``max_retries=0`` + containment;
- ``disabled`` gate: bool True or case-insensitive string "true"
  skips the sink entirely (:106-108): it contributes no payload column
  to the delivery pass.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .base import ChunkedTransportSink

# escape-aware JSON string-value pattern (handles \" inside values)
_JSTR = r'"(?:[^"\\]|\\.)*"'


def _strip_json_field(col: Column, field: str, value_pattern: str = _JSTR) -> Column:
    """Textually remove ``"field": <value>`` from a JSON object string,
    keeping the object well-formed (field-with-trailing-comma, then
    comma-preceded-last-field, then lone-field)."""
    f = re.escape(field)
    out = F.regexp_replace(col, f'"{f}"\\s*:\\s*{value_pattern}\\s*,', "")
    out = F.regexp_replace(out, f',\\s*"{f}"\\s*:\\s*{value_pattern}', "")
    return F.regexp_replace(out, f'"{f}"\\s*:\\s*{value_pattern}', "")


def is_disabled(flag: object) -> bool:
    """The reference's exact gate: truthy AND str(...).lower()=="true"
    (lambda_function.py:106-108; string "false" is truthy but fails the
    equality, i.e. enabled)."""
    return bool(flag) and str(flag).lower() == "true"


@dataclass
class SplunkHECSink(ChunkedTransportSink):
    name: str = "splunk"
    splunk_index: str = "main"
    disabled: object = None
    max_retries: int = 0  # one attempt per POST, failure -> 0 (:100-102)

    @property
    def enabled(self) -> bool:
        return not is_disabled(self.disabled)

    def payload(self, df: DataFrame) -> tuple[DataFrame, Column]:
        """One HEC envelope per record of a ``decode_stream`` frame.

        The event is the POST-processed record (SURVEY §2A fine points):
        ``_raw`` with any pre-existing ``@timestamp`` replaced
        (dict-assignment parity, the new value quoted by ``to_json``)
        and an ``"ip": ""`` / ``"ip": null`` removed (falsy-pop parity).
        The reference posts ``event`` as a *nested JSON object*
        (requests.post(json=events), lambda_function.py:97,121-125), so
        the rendered event text is spliced in verbatim rather than
        re-serialized as a string field.
        """
        # None-guard (lambda_function.py:117-119).  ``OR`` short-circuits:
        # the second parse runs only for id-less rows.
        parsed = F.col("random_id").isNotNull() | F.json_object_keys("_raw").isNotNull()
        raw = _strip_json_field(F.col("_raw"), "@timestamp")
        raw = _strip_json_field(raw, "ip", '(?:""|null)')
        # ``_event`` is referenced four times below; Catalyst does not
        # collapse a non-cheap projection into a multi-reference consumer,
        # so the strip chain is evaluated once per row, and only for a
        # parsed one.  A NULL ``_event`` makes the payload NULL.
        frame = df.withColumn("_event", F.when(parsed, raw))
        event = F.col("_event")
        frag = F.to_json(F.struct(F.col("datetime").alias("@timestamp")))
        # '{"@timestamp":"..."}' -> '"@timestamp":"..."'
        ts_pair = F.substring(frag, 2, F.length(frag) - 2)
        injected = F.concat(
            F.lit("{"),
            ts_pair,
            F.when(F.regexp_like(event, F.lit(r"^\{\s*\}$")), F.lit("")).otherwise(
                F.lit(",")
            ),
            F.substring(event, 2, F.length(event) - 1),
        )
        # the constant tail ',"sourcetype":"json","index":...}', rendered once
        tail = json.dumps(
            {"sourcetype": "json", "index": self.splunk_index},
            separators=(",", ":"),
            ensure_ascii=False,
        )
        return frame, F.concat(
            F.lit('{"event":'),
            F.when(F.col("datetime").isNull(), event).otherwise(injected),
            F.lit("," + tail[1:]),
        )
