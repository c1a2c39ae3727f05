"""Online Bollinger bands — the streaming twin of the reference's
headline volatility indicator (src/features/engineering.py bb_*).

RSI/MACD, anchored VWAP, ATR, KAMA, the volume clock, and CUSUM
already stream; Bollinger completes the set: O(window) state per
symbol (the trailing closes), and one step (around ``_scan_boll``)
that the stream and its batch twin share through the harness in
streaming/stateful.py (bit-exact stream == batch).
The twin tracks the batch feature pipeline's prefix-sum RollingPlan
to FP-association tolerance — same split as the ATR/Wilder family.

Convention: pandas ``rolling(window, min_periods=window)`` — bands
null until the window fills; std is ddof=1; ``bb_width =
(upper - lower) / middle`` (the reference's definition).
"""

from __future__ import annotations

import math
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from marketdatapipeline_spark.streaming.stateful import (
    batch_twin,
    fields,
    online_operator,
)

__all__ = ["online_bollinger", "online_bollinger_batch"]

BOLL_STATE_SCHEMA = StructType(
    [StructField("tail", ArrayType(DoubleType()))]
)

_FRESH = ([],)

_BOLL_FIELDS = fields("bb_middle", "bb_upper", "bb_lower", "bb_width")


def _scan_boll(prices, tail: list, window: int, n_std: float):
    """THE scan, shared by stream and twin: per row, the bands from
    the trailing ``window`` closes (None until full). Sums are
    recomputed per row in a FIXED left-to-right order over the
    window buffer, so any two executions agree bit-for-bit."""
    out = []
    for p in prices:
        p = float(p)
        tail.append(p)
        if len(tail) > window:
            tail.pop(0)
        if len(tail) < window:
            out.append((None, None, None, None))
            continue
        s = 0.0
        for v in tail:
            s += v
        mean = s / window
        q = 0.0
        for v in tail:
            d = v - mean
            q += d * d
        std = math.sqrt(q / (window - 1))
        upper = mean + std * n_std
        lower = mean - std * n_std
        out.append((mean, upper, lower, (upper - lower) / mean))
    return out, tail


def _boll_step(window: int, n_std: float, price_col: str):
    def step(pdf: pd.DataFrame, st: tuple):
        prices = pdf[price_col]
        vals, tail = _scan_boll(prices, list(st[0]), window, n_std)
        cols = pd.DataFrame(vals, columns=[f.name for f in _BOLL_FIELDS])
        cols.insert(0, "price", prices.astype(float))
        return cols, (tail,)

    return step


def online_bollinger(
    ticks: DataFrame,
    window: int = 20,
    n_std: float = 2.0,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous Bollinger bands over a tick stream; O(window)
    state per symbol."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    return online_operator(
        ticks,
        _boll_step(window, float(n_std), "price"),
        _FRESH,
        BOLL_STATE_SCHEMA,
        fields("price") + _BOLL_FIELDS,
        state_ttl,
    )


def online_bollinger_batch(
    ticks: DataFrame,
    window: int = 20,
    n_std: float = 2.0,
    price_col: str = "price",
    order_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Batch twin of ``online_bollinger``: adds the four band columns
    to the input columns."""
    return batch_twin(
        ticks,
        _boll_step(window, float(n_std), price_col),
        _FRESH,
        _BOLL_FIELDS,
        order_cols,
    )
