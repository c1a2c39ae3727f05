"""Online (incremental) average true range with explicit state.

Streaming counterpart of ``operators/indicators.py:atr`` (Wilder
smoothing): the batch path rides the all-JVM EWMA scan over full
histories; this operator carries a **3-field state vector per symbol**
(row count, last close, running ATR) across micro-batches via
``applyInPandasWithState`` — O(symbols) state for an unbounded feed,
the same design as streaming/stateful.py (RSI/MACD) and
streaming/vwap.py.

Recurrence (matches ``pandas ewm(alpha=1/n, adjust=False)`` over the
true range, the batch operator's documented convention):

* ``tr = high - low`` on a symbol's first row (no previous close),
  else ``max(high-low, |high-prev_close|, |low-prev_close|)``;
* ``atr = tr`` at the first row, else ``atr + (tr - atr)/n`` in the
  algebraically identical form ``(1-1/n)*atr + (1/n)*tr``.

Input is bar-shaped (``high``/``low``/``close``) or tick-shaped
(``price`` only — high and low collapse to the price, so the true
range degrades to ``|p - prev_p|``, the tick-to-tick range).

Parity: the stream and ``online_atr_batch`` run one step (around
``_scan_hlc``) through the harness in streaming/stateful.py, so
stream == batch-twin is bit-exact (structural, pinned in
tests/test_streaming.py); the batch twin tracks the EWMA-scan
``atr(method="wilder")`` to ~1e-12 relative (same recurrence, blocked
FP association).
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

__all__ = ["online_atr", "online_atr_batch"]

ATR_STATE_SCHEMA = StructType(
    [
        StructField("n_rows", LongType()),
        StructField("last_close", DoubleType()),
        StructField("atr", DoubleType()),
    ]
)

#: zero-history state (mirrors ATR_STATE_SCHEMA field order)
_FRESH = (0, float("nan"), 0.0)

_ATR_FIELDS = fields("tr", "atr")


def _scan_hlc(highs, lows, closes, st: tuple, alpha: float):
    """THE recurrence, shared verbatim by the streaming handler and the
    batch twin so their parity is structural. Returns one (tr, atr)
    pair per row plus the advanced state vector."""
    n_rows, last_close, atr = st
    out = []
    for h, l, c in zip(highs, lows, closes):
        h, l, c = float(h), float(l), float(c)
        hl = h - l
        if n_rows > 0:
            tr = max(hl, abs(h - last_close), abs(l - last_close))
            atr = (1.0 - alpha) * atr + alpha * tr
        else:
            tr = hl
            atr = tr
        out.append((tr, atr))
        last_close = c
        n_rows += 1
    return out, (n_rows, last_close, atr)


def _hlc(pdf: pd.DataFrame):
    """(highs, lows, closes) from a bar- or tick-shaped frame."""
    if "close" in pdf:
        c = pdf["close"]
        return pdf.get("high", c), pdf.get("low", c), c
    p = pdf["price"]
    return p, p, p


def _atr_step(window: int):
    alpha = 1.0 / window

    def step(pdf: pd.DataFrame, st: tuple):
        highs, lows, closes = _hlc(pdf)
        vals, st = _scan_hlc(highs, lows, closes, st, alpha)
        cols = pd.DataFrame(vals, columns=["tr", "atr"])
        cols.insert(0, "close", closes.astype(float))
        return cols, st

    return step


def online_atr(
    ticks: DataFrame,
    window: int = 14,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous Wilder ATR over a stream of per-symbol bars or ticks:
    ``symbol, ts, close, tr, atr``. ``state_ttl`` evicts quiet symbols'
    3-field state (same semantics as online_indicators)."""
    return online_operator(
        ticks,
        _atr_step(window),
        _FRESH,
        ATR_STATE_SCHEMA,
        fields("close") + _ATR_FIELDS,
        state_ttl,
    )


def online_atr_batch(
    bars: DataFrame,
    window: int = 14,
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
) -> DataFrame:
    """Batch twin of ``online_atr``: adds ``tr`` and ``atr`` to the
    input columns."""
    return batch_twin(bars, _atr_step(window), _FRESH, _ATR_FIELDS, order_cols)
