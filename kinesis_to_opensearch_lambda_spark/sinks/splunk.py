"""Splunk-HEC-shaped sink (reference splunk_handler + _send_to_splunk,
lambda_function.py:90-138).

Semantics preserved:

- full (unprojected) record, schemaless passthrough
  (lambda_function.py:148 — the Splunk branch sees every field): the
  event is the decoded ``_raw`` JSON text with the two normalize steps
  re-applied textually, so unknown fields survive byte for byte.  Each
  field's three strips run behind a guard that every one of them
  implies (the literal ``"@timestamp"``; one find of an ``"ip"`` key
  with a ``""`` or ``null`` value), so a row its guard skips is one no
  strip could change, for any input;
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

from ..operators.pipeline import STRICT_JSON
from .base import ChunkedTransportSink

# escape-aware JSON string-value pattern (handles \" inside values)
_JSTR = r'"(?:[^"\\]|\\.)*"'
# the values the reference's falsy-ip pop removes (lambda_function.py:48-49)
_FALSY = r'(?:""|null)'


def _pair(field: str, value_pattern: str = _JSTR) -> str:
    """Regex of ``"field": <value>``, part of every strip pattern."""
    return f'"{re.escape(field)}"\\s*:\\s*{value_pattern}'


def _strip_json_field(
    col: Column, guard: Column, field: str, value_pattern: str = _JSTR
) -> Column:
    """Textually remove ``"field": <value>`` from a JSON object string,
    keeping the object well-formed (field-with-trailing-comma, then
    comma-preceded-last-field, then lone-field).

    The three passes run only where ``guard`` holds, and ``guard`` must
    hold wherever :func:`_pair` matches ``col``.  Every pass's pattern
    contains that pair, so a row the guard skips is one all three
    passes would return unchanged."""
    pair = _pair(field, value_pattern)
    out = F.regexp_replace(col, pair + r"\s*,", "")
    out = F.regexp_replace(out, r",\s*" + pair, "")
    return F.when(guard, F.regexp_replace(out, pair, "")).otherwise(col)


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
        Each field's strips run only where a test that all of them
        imply passes: for ``@timestamp``, ``_raw`` contains the literal
        ``"@timestamp"`` (a byte search); for ``ip``, one find of the
        ``"ip"`` pair succeeds (its literal prefix lets the regex engine
        skip ahead).  A skipped row is one no strip could change, so the
        text is byte-identical to running every strip on every row.  The
        reference posts ``event`` as a *nested JSON object*
        (requests.post(json=events), lambda_function.py:97,121-125), so
        the rendered event text is spliced in verbatim rather than
        re-serialized as a string field.

        The injected pair always takes a comma: the strips never leave
        ``{}`` where ``datetime`` is non-null.  A stripped span starts
        with a comma or the key ``"@timestamp"``/``"ip"``, so ``{}``
        needs the parser's first key to start one; the parser then ends
        each value where the regex does, so every key it read is
        ``@timestamp`` or ``ip``.
        """
        # None-guard (lambda_function.py:117-119).  ``OR`` short-circuits:
        # the second parse runs only for id-less rows, with the decode's
        # options, so a text ``json.loads`` rejects is skipped either way.
        is_object = F.from_json("_raw", "map<string,string>", STRICT_JSON).isNotNull()
        parsed = F.col("random_id").isNotNull() | is_object
        raw = F.col("_raw")
        ts = _strip_json_field(raw, raw.contains('"@timestamp"'), "@timestamp")
        # ``_ts`` is referenced three times by the ip step and ``_event``
        # four times below; Catalyst does not collapse a non-cheap
        # projection into a multi-reference consumer, so each step and
        # each guard is evaluated at most once per row, and only for a
        # parsed one.  A NULL ``_event`` makes the payload NULL.
        frame = df.withColumn("_ts", F.when(parsed, ts))
        ts = F.col("_ts")
        has_ip = F.regexp_like(ts, F.lit(_pair("ip", _FALSY)))
        frame = frame.withColumn("_event", _strip_json_field(ts, has_ip, "ip", _FALSY))
        event = F.col("_event")
        frag = F.to_json(F.struct(F.col("datetime").alias("@timestamp")))
        # '{"@timestamp":"..."}' -> '"@timestamp":"..."'
        ts_pair = F.substring(frag, 2, F.length(frag) - 2)
        # A record may start with JSON whitespace (``json.loads`` takes
        # it); it is dropped only where the text does not start with '{'.
        trimmed = F.ltrim(event, F.lit(" \t\n\r"))
        body = F.when(event.startswith("{"), event).otherwise(trimmed)
        injected = F.concat(F.lit("{"), ts_pair, F.lit(","), F.substr(body, F.lit(2)))
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
