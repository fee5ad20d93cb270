"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no cross-batch state (its only "state" is the ES
``_id`` upsert).  Large-scale pipelines need it — running per-key
counters, threshold alerts, incremental profiles — so the engine ships
the canonical pattern: grouped Arrow batches + a ``GroupState`` whose
schema is explicit, with per-key state partitioned by the shuffle and
checkpointed by the state store (bounded by watermark/timeout at scale).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import scale

OUTPUT_SCHEMA = "user_id bigint, total_events bigint, total_value double"
STATE_SCHEMA = "n bigint, v double"


def _update_user_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Accumulate per-user event count and value sum across batches."""
    n, v = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        v += float(pdf["value"].sum())
    state.update((n, v))
    yield pd.DataFrame(
        {"user_id": [key[0]], "total_events": [n], "total_value": [v]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming running totals per user: one row per (user, batch) with
    the cumulative count/value carried in the state store."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CENTS_OUTPUT_SCHEMA = "user_id bigint, total_events bigint, total_cents bigint"
CENTS_STATE_SCHEMA = "n bigint, c bigint"


def _update_user_cents(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Integer-cents accumulator: exact (order-independent) arithmetic,
    so the drained result is oracle-comparable bit-for-bit."""
    n, c = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        c += int(pdf["cents"].sum())
    state.update((n, c))
    yield pd.DataFrame(
        {"user_id": [key[0]], "total_events": [n], "total_cents": [c]}
    )


def running_user_cents(events: DataFrame) -> DataFrame:
    """Streaming per-user running (count, cents) totals over an integer
    ``cents`` column — the exact-arithmetic twin of
    :func:`running_user_totals` used by the oracle-checked
    ``streaming_stateful_user_totals`` query entry."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_cents,
        outputStructType=CENTS_OUTPUT_SCHEMA,
        stateStructType=CENTS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- Spark 4 arbitrary-state API (transformWithStateInPandas) ----------

HWM_OUTPUT_SCHEMA = "user_id bigint, n_batches bigint, max_cents bigint"


def _hwm_processor():
    """Per-user high-water-mark processor on the Spark 4
    ``transformWithStateInPandas`` API (SPARK-49564 state-v2): typed
    ``ValueState`` replaces the single GroupState tuple, the handle can
    hold several named states per key, and timers/TTL bound state
    growth without watermark gymnastics.  Emits one row per (user,
    batch) carrying the batch counter and the running max."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class HighWaterMark(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("hwm", "n_batches bigint, max_cents bigint")

        def handleInputRows(self, key, rows, timer_values):
            n_batches, max_cents = (
                self._state.get() if self._state.exists() else (0, None)
            )
            for pdf in rows:
                cents = pdf["cents"].dropna()
                if cents.empty:  # empty / all-null chunk: int(NaN) would raise
                    continue
                batch_max = int(cents.max())
                max_cents = batch_max if max_cents is None else max(max_cents, batch_max)
            n_batches += 1
            self._state.update((n_batches, max_cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_batches": [n_batches],
                    "max_cents": [max_cents],
                }
            )

        def close(self) -> None:
            pass

    return HighWaterMark()


def running_user_highwater(events: DataFrame) -> DataFrame:
    """Streaming per-user high-water mark over ``cents`` via the Spark 4
    arbitrary-state API; output mode Update, processing-time mode."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_hwm_processor(),
        outputStructType=HWM_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


BAND_OUTPUT_SCHEMA = "doc_id bigint, hit int"
BAND_STATE_SCHEMA = "seen array<string>"


def _band_first_seen(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming MinHash-LSH near-dup suppression, per band-HASH bucket.

    r13 optimization (guide §4 — amortize the Python boundary): the
    group key is a deterministic hash bucket of the band value, NOT the
    band value itself.  ``applyInPandasWithState`` pays one Python
    invocation (plus one state-store key commit) per GROUP per batch;
    keyed by band value that cost scales with the band VOCABULARY
    (tens of thousands of near-empty pandas frames per trigger), keyed
    by bucket it scales with the bucket count (~4x session width) while
    every row still meets exactly the rows it shares a bucket with.

    State per bucket is the sorted list of DISTINCT band values seen in
    prior micro-batches — the same total state mass as the one-marker-
    per-band-value layout, stored as vocabulary/n_buckets values per
    key, and still evictable by GroupStateTimeout / watermark TTL in a
    continuous deployment (an availableNow drain keeps NoTimeout:
    dedup must see the whole replay).

    Within one micro-batch the arrival order is doc_id ascending (the
    caller pins batch = doc_id % 3 via mtime-ordered files, so every
    row in this group belongs to the same batch and smaller doc_id ==
    earlier).  A row scores hit=1 iff ANY earlier arrival — prior
    batch (band value in state) or smaller doc_id in this batch —
    shares its band value; the per-doc dup verdict is then max/sum of
    its band hits downstream.  Identical verdict per row as the
    per-band-value grouping: membership in a bucket never mixes
    distinct band values' verdicts (hits compare ``bk``, not bucket)."""
    pdf = pd.concat(list(pdfs)).sort_values("doc_id", kind="stable")
    seen: set[str] = set(state.get[0]) if state.exists else set()
    in_state = pdf["bk"].isin(seen).to_numpy()
    # all but the FIRST (smallest doc_id) occurrence of each band value
    # within this batch
    dup_in_batch = pdf.duplicated(subset=["bk"]).to_numpy()
    seen.update(pdf["bk"].tolist())
    state.update((sorted(seen),))
    yield pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(),
            "hit": (in_state | dup_in_batch).astype("int32"),
        }
    )


def band_first_seen(bands: DataFrame) -> DataFrame:
    """Streaming first-seen marker over LSH band buckets: input columns
    (doc_id, band_idx, band_val); one (doc_id, hit) row out per input
    row, hit=1 iff an earlier-arrival doc shares the band.

    The state grouping has ``scale.band_state_buckets`` buckets.  Bucket
    count is pure layout: verdicts are computed per band value inside
    the bucket, so results are bucket-count-invariant."""
    from pyspark.sql import functions as F

    n_buckets = scale.band_state_buckets(bands.sparkSession)
    keyed = bands.select(
        "doc_id",
        F.concat_ws(
            ":", F.col("band_idx").cast("string"), F.col("band_val")
        ).alias("bk"),
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("bk"), F.lit(n_buckets)).cast("int")
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        _band_first_seen,
        outputStructType=BAND_OUTPUT_SCHEMA,
        stateStructType=BAND_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
