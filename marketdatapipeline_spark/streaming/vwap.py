"""Online anchored VWAP — the streaming twin of
operators/vwap.py:anchored_vwap.

The batch operator needs each (symbol, period)'s history inside one
window frame; this one carries a **3-field state vector per symbol**
(anchor-period start + the two running sums) across micro-batches via
``applyInPandasWithState``, so an unbounded tick feed gets the running
day/week/month VWAP with O(symbols) state, not O(rows). A tick whose
anchor period differs from the state's resets the sums — the period
rollover needs no timer, the first tick of the new period triggers it.

The stream and ``online_vwap_batch`` run one step (around
``_scan_vwap``) through the harness in streaming/stateful.py. Parity
with the window operator is BIT-exact on an in-order feed: both paths
add the same per-row IEEE products left-to-right (Spark's cumulative
window sum updates incrementally, exactly like the scan here), pinned
by tests/test_streaming.py. Same in-order-per-symbol contract as
online_indicators (stateful.py) — the running sum is order-defined in
any engine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from marketdatapipeline_spark.streaming.stateful import (
    batch_twin,
    fields,
    online_operator,
)

__all__ = ["online_vwap", "online_vwap_batch"]

VWAP_STATE_SCHEMA = StructType(
    [
        StructField("anchor_us", LongType()),  # -1 = fresh
        StructField("pv", DoubleType()),
        StructField("v", DoubleType()),
    ]
)

_FRESH = (-1, 0.0, 0.0)

_VWAP_FIELDS = fields("vwap", "vwap_dev")


def _anchor_us(ts: pd.Series, anchor: str) -> pd.Series:
    """Anchor-period start per tick, as epoch microseconds — the same
    boundaries Spark's date_trunc draws (week starts Monday)."""
    if anchor == "day":
        per = ts.dt.floor("D")
    elif anchor == "week":
        per = (ts - pd.to_timedelta(ts.dt.dayofweek, unit="D")).dt.floor("D")
    elif anchor == "month":
        per = ts.dt.to_period("M").dt.start_time
    else:
        raise ValueError("anchor must be one of ['day', 'month', 'week']")
    return per.astype("int64") // 1000


def _scan_vwap(pdf: pd.DataFrame, st: tuple, anchor: str):
    """Sequential scan: reset sums at each period boundary, then
    pv += price·size, v += size — the identical addition order the
    batch window sum applies."""
    anchors = _anchor_us(pdf["ts"], anchor).to_numpy()
    prices = pdf["price"].to_numpy()
    sizes = pdf["size"].to_numpy()
    a, pv, v = st
    vwaps = []
    for per, p, s in zip(anchors, prices, sizes):
        if per != a:
            a, pv, v = int(per), 0.0, 0.0
        pv += p * s
        v += s
        # None (not NaN) on zero volume: Spark's window-sum division by
        # a zero sum yields NULL, so the stream==batch parity triangle
        # must use the same null convention on degenerate periods.
        vwaps.append(pv / v if v != 0 else None)
    return vwaps, (a, pv, v)


def _vwap_step(anchor: str):
    _anchor_us(pd.Series([pd.Timestamp("2024-01-01")]), anchor)  # validate

    def step(pdf: pd.DataFrame, st: tuple):
        vwaps, st = _scan_vwap(pdf, st, anchor)
        cols = pd.DataFrame(
            {
                "price": pdf["price"],
                "size": pdf["size"],
                # nullable Float64 so zero-volume None reaches Spark as
                # NULL (a plain float64 column would coerce it to NaN
                # and break the null-convention parity)
                "vwap": pd.array(vwaps, dtype="Float64"),
            }
        )
        cols["vwap_dev"] = cols["price"] - cols["vwap"]
        return cols, st

    return step


def online_vwap(
    ticks: DataFrame,
    anchor: str = "day",
    state_ttl: str | int | None = None,
) -> DataFrame:
    """Continuous anchored VWAP over a stream of per-symbol ticks
    (``symbol, ts, price, size``): one output row per tick carrying
    the running period VWAP and the price's deviation from it.
    ``state_ttl`` evicts quiet symbols exactly as in
    online_indicators."""
    return online_operator(
        ticks,
        _vwap_step(anchor),
        _FRESH,
        VWAP_STATE_SCHEMA,
        fields("price", "size") + _VWAP_FIELDS,
        state_ttl,
    )


def online_vwap_batch(ticks: DataFrame, anchor: str = "day") -> DataFrame:
    """Batch twin of ``online_vwap``: adds vwap and vwap_dev to the
    input columns. pytest pins stream == batch-twin AND batch-twin ==
    the window operator (operators/vwap.py), closing the parity
    triangle."""
    return batch_twin(ticks, _vwap_step(anchor), _FRESH, _VWAP_FIELDS, ("ts",))
