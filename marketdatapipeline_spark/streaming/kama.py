"""Online Kaufman adaptive moving average (KAMA).

KAMA's smoothing constant varies per bar with the efficiency ratio
(|net change| / path length over the trailing window), so unlike
RSI/MACD/ATR the recursion has a VARIABLE coefficient —
``kama_t = kama_{t-1} + sc_t (p_t - kama_{t-1})`` with ``sc_t``
data-dependent — and no constant-alpha blocked decomposition
applies. That makes it a natural citizen of the streaming family:
O(window) state per symbol (the trailing closes that define the
efficiency ratio, plus the running KAMA), carried across
micro-batches, and one step (around ``_scan_kama``) that the stream
and its batch twin share through the harness in
streaming/stateful.py (bit-exact stream == batch, the repo's parity
discipline).

Convention (Kaufman's book / the common TA implementation):
``er = |p_t - p_{t-n}| / sum |p_i - p_{i-1}|`` over the window
(0 when the path length is 0), ``sc = (er*(f - s) + s)^2`` with
``f = 2/(fast+1)``, ``s = 2/(slow+1)``; KAMA seeds at the first bar
with a full window (``kama = p`` there), null before.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from marketdatapipeline_spark.streaming.stateful import (
    batch_twin,
    fields,
    online_operator,
)

__all__ = ["online_kama", "online_kama_batch"]

KAMA_STATE_SCHEMA = StructType(
    [
        StructField("n_rows", LongType()),
        StructField("tail", ArrayType(DoubleType())),  # last window+1 closes
        StructField("kama", DoubleType()),
    ]
)

_FRESH = (0, [], float("nan"))

_KAMA_FIELDS = fields("efficiency_ratio", "kama")


def _scan_kama(
    prices, st: tuple, window: int, fast: int, slow: int
):
    """THE recurrence, shared by the stream handler and the batch
    twin. ``st = (n_rows, tail, kama)``; returns per-row
    (er, kama-or-None) plus the advanced state."""
    n_rows, tail, kama = st
    tail = list(tail)
    f = 2.0 / (fast + 1.0)
    s = 2.0 / (slow + 1.0)
    out = []
    for p in prices:
        p = float(p)
        tail.append(p)
        if len(tail) > window + 1:
            tail.pop(0)
        n_rows += 1
        if len(tail) < window + 1:
            out.append((None, None))
            continue
        path = 0.0
        for i in range(1, len(tail)):
            path += abs(tail[i] - tail[i - 1])
        er = abs(tail[-1] - tail[0]) / path if path > 0 else 0.0
        sc = (er * (f - s) + s) ** 2
        if kama is None or kama != kama:  # seed at first full window
            kama = p
        else:
            kama = kama + sc * (p - kama)
        out.append((er, kama))
    return out, (n_rows, tail, kama)


def _kama_step(window: int, fast: int, slow: int, price_col: str):
    def step(pdf: pd.DataFrame, st: tuple):
        prices = pdf[price_col]
        vals, st = _scan_kama(prices, st, window, fast, slow)
        cols = pd.DataFrame(vals, columns=["efficiency_ratio", "kama"])
        cols.insert(0, "price", prices.astype(float))
        return cols, st

    return step


def online_kama(
    ticks: DataFrame,
    window: int = 10,
    fast: int = 2,
    slow: int = 30,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous KAMA over a tick stream; O(window) state/symbol."""
    if window < 1 or fast < 1 or slow <= fast:
        raise ValueError(
            f"need window >= 1, 1 <= fast < slow; got {window}, {fast}, {slow}"
        )
    return online_operator(
        ticks,
        _kama_step(window, fast, slow, "price"),
        _FRESH,
        KAMA_STATE_SCHEMA,
        fields("price") + _KAMA_FIELDS,
        state_ttl,
    )


def online_kama_batch(
    ticks: DataFrame,
    window: int = 10,
    fast: int = 2,
    slow: int = 30,
    price_col: str = "price",
    order_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Batch twin of ``online_kama``: adds efficiency_ratio and kama
    to the input columns."""
    return batch_twin(
        ticks, _kama_step(window, fast, slow, price_col), _FRESH, _KAMA_FIELDS, order_cols
    )
