"""Custom stateful streaming operator: the A2 rising/falling recurrence
continued across micro-batches with ``applyInPandasWithState``.

Batch A2 (``operators/recurrence.py``) recomputes a station's whole hourly
history; in streaming, each station's recurrence state is exactly ONE number
— the previous hour's *output* value — so the operator carries that in the
state store and emits each new hour incrementally.  This is the engine's
demonstration of a custom stateful operator the built-in windowed aggs can't
express (output depends on prior OUTPUT, not prior input).

Correctness contract: micro-batches must arrive in non-decreasing hour order
per station (true for append-only landing zones; enforceable upstream with a
watermark + sorted re-drive).  Within a batch, rows are sorted by hour before
the recurrence runs, so any intra-batch arrival order is fine.

Reference semantics preserved (``dischargeobs_write_xl.py:123-127``): value =
hourly max while rising (max > previous OUTPUT), last-in-hour while falling,
including the alias bug where the comparison reads the already-rewritten
previous value.  NULL maxes keep the max (NaN comparisons are False).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("station_id", StringType()),
        StructField("hour", TimestampType()),
        StructField("value", DoubleType()),
    ]
)

# (last output value, 1 if state initialized) — tuple state, no nesting.
STATE_SCHEMA = StructType(
    [
        StructField("last_val", DoubleType()),
        StructField("initialized", DoubleType()),
    ]
)


def _rising_falling_step(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    pdf = pd.concat(list(pdfs), ignore_index=True)
    if not len(pdf):
        return
    pdf = pdf.sort_values("hour").reset_index(drop=True)
    vals = pdf["hrly_max"].to_numpy(copy=True)
    maxs = pdf["hrly_max"].to_numpy()
    last = pdf["hrly_last"].to_numpy()

    if state.exists:
        prev, _ = state.get
        start = 0
    else:
        prev, start = None, 1  # first row of the stream keeps its max

    for i in range(start, len(vals)):
        p = vals[i - 1] if i > 0 else prev
        # NaN/None comparisons are False → keep the max (reference behavior)
        if p is not None and maxs[i] <= p:
            vals[i] = last[i]

    state.update((float(vals[-1]) if vals[-1] == vals[-1] else None, 1.0))
    yield pd.DataFrame(
        {
            "station_id": [key[0]] * len(pdf),
            "hour": pdf["hour"],
            "value": vals,
        }
    )


def rising_falling_stream(hourly: DataFrame) -> DataFrame:
    """Streaming A2 over a (station_id, hour, hrly_max, hrly_last) stream.

    Emits one finalized row per (station, hour) per micro-batch; the state
    store holds a single double per station, so state size is O(stations)
    forever — no watermark needed for correctness, only for state GC if
    stations churn.
    """
    return hourly.groupBy("station_id").applyInPandasWithState(
        _rising_falling_step,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
