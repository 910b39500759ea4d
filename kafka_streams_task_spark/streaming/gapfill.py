"""Streaming LOCF gap filling — the stateful twin of
``operators/gapfill.py``.

A live metrics/sensor stream wants the dense, filled grid CONTINUOUSLY:
every micro-batch extends each series' grid from where the last batch
stopped, carrying the last observation across batch boundaries. That
cross-batch carry is per-key state, so this is one
``applyInPandasWithState`` keyed by the series columns.

Semantics (mirrors the batch operator, restated for streams):
- observations bucket to ``unit`` grain; multiple observations in one
  bucket average;
- the first batch that sees a series starts its grid at its earliest
  bucket; every later batch emits exactly the buckets from
  ``last emitted + 1`` through its own latest bucket (so the union of
  all batches is the batch operator's dense spine — the equivalence
  test states this literally);
- a bucket with no observation emits the carried value with
  ``is_gap = 1``;
- LATE rows — buckets at or before the last emitted bucket — are
  DROPPED (append-mode output cannot retro-fill an emitted grid row;
  bound lateness upstream with a watermark + ``dropDuplicates`` if the
  source can reorder across batches). The drop is deliberate and
  tested, not an accident.

State per series is two scalars (last bucket index, last value) —
O(#series) total, the smallest state any resampler can carry.
``max_buckets_per_batch`` refuses runaway spines (a series silent for a
year at minute grain would otherwise explode one batch) — the streaming
twin of the batch operator's ``max_buckets`` guard.

Output: series columns + ``bucket_idx`` (integer ``unit``-count from
the fixed 2000-01-01 anchor — identical to the batch operator's
indexes), ``v_obs`` (NULL in gaps), ``v_locf``, ``is_gap``.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

_ANCHOR = pd.Timestamp("2000-01-01 00:00:00")

_FREQ = {"minute": "min", "hour": "h", "day": "D"}
_STEP = {
    "minute": pd.Timedelta(minutes=1),
    "hour": pd.Timedelta(hours=1),
    "day": pd.Timedelta(days=1),
}

_STATE = T.StructType(
    [
        T.StructField("last_idx", T.LongType()),
        T.StructField("last_val", T.DoubleType()),
    ]
)


def streaming_locf(
    stream: DataFrame,
    series_cols: list[str],
    ts_col: str,
    value_col: str,
    unit: str = "hour",
    max_buckets_per_batch: int = 100_000,
) -> DataFrame:
    """Continuously-filled dense grid over a streaming DataFrame.

    Returns an append-mode stream of
    ``(*series_cols, bucket_idx, v_obs, v_locf, is_gap)``; attach it to
    any sink with ``writeStream`` (tests drive it availableNow).
    """
    if unit not in _FREQ:
        raise ValueError(f"unit must be one of {sorted(_FREQ)}")
    freq, step = _FREQ[unit], _STEP[unit]

    fields = {f.name: f for f in stream.schema.fields}
    out_schema = T.StructType(
        [fields[c] for c in series_cols]
        + [
            T.StructField("bucket_idx", T.LongType()),
            T.StructField("v_obs", T.DoubleType()),
            T.StructField("v_locf", T.DoubleType()),
            T.StructField("is_gap", T.IntegerType()),
        ]
    )

    def fn(key: tuple[Any, ...], pdfs, state):
        obs: dict[int, tuple[float, int]] = {}
        for pdf in pdfs:
            ts = pd.to_datetime(pdf[ts_col])
            vals = pdf[value_col]
            ok = ts.notna() & vals.notna()
            if not ok.any():
                continue
            b = ts[ok].dt.floor(freq)
            idx = ((b - _ANCHOR) // step).astype("int64")
            for i, v in zip(idx, vals[ok].astype("float64")):
                s, n = obs.get(i, (0.0, 0))
                obs[i] = (s + float(v), n + 1)
        if state.exists:
            last_idx, last_val = state.get
        else:
            last_idx, last_val = None, None
        live = {
            i: s / n
            for i, (s, n) in obs.items()
            if last_idx is None or i > last_idx
        }
        if not live:
            # late-only (or empty) batch: emit nothing, keep state.
            # The worker protocol wants one Arrow batch per group.
            yield pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in out_schema}
            )
            return
        start = last_idx + 1 if last_idx is not None else min(live)
        end = max(live)
        if end - start + 1 > max_buckets_per_batch:
            raise ValueError(
                f"series {key!r}: batch spine of {end - start + 1} "
                f"{unit} buckets exceeds max_buckets_per_batch="
                f"{max_buckets_per_batch}"
            )
        rows = []
        carry = last_val
        for i in range(start, end + 1):
            if i in live:
                carry = live[i]
                rows.append((i, live[i], carry, 0))
            else:
                rows.append((i, None, carry, 1))
        out = pd.DataFrame(
            rows, columns=["bucket_idx", "v_obs", "v_locf", "is_gap"]
        )
        # series cols first, matching the declared output schema
        for c, kv in reversed(list(zip(series_cols, key))):
            out.insert(0, c, kv)
        state.update((end, carry))
        yield out

    return (
        stream.groupBy(*series_cols)
        .applyInPandasWithState(
            fn,
            out_schema,
            _STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
