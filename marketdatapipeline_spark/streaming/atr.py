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

Parity: the stream and ``online_atr_batch`` share ``_scan_hlc``
verbatim, so stream == batch-twin is bit-exact (structural, pinned in
tests/test_streaming.py); the batch twin tracks the EWMA-scan
``atr(method="wilder")`` to ~1e-12 relative (same recurrence, blocked
FP association).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from marketdatapipeline_spark.streaming.stateful import _ttl_ms

__all__ = ["online_atr", "online_atr_batch"]

ATR_STATE_SCHEMA = StructType(
    [
        StructField("n_rows", LongType()),
        StructField("last_close", DoubleType()),
        StructField("atr", DoubleType()),
    ]
)

ATR_OUTPUT_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("ts", TimestampType()),
        StructField("close", DoubleType()),
        StructField("tr", DoubleType()),
        StructField("atr", DoubleType()),
    ]
)

#: zero-history state (mirrors ATR_STATE_SCHEMA field order)
_FRESH = (0, float("nan"), 0.0)


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


def _atr_func(window: int, state_ttl: str | int | None):
    alpha = 1.0 / window

    def func(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        st = tuple(state.get) if state.exists else _FRESH
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values("ts")
            highs, lows, closes = _hlc(pdf)
            vals, st = _scan_hlc(highs, lows, closes, st, alpha)
            yield pd.DataFrame(
                [
                    (key[0], ts, float(c), tr, atr)
                    for ts, c, (tr, atr) in zip(pdf["ts"], closes, vals)
                ],
                columns=["symbol", "ts", "close", "tr", "atr"],
            )
        state.update(st)
        if state_ttl is not None:
            state.setTimeoutDuration(_ttl_ms(state_ttl))

    return func


def online_atr(
    ticks: DataFrame,
    window: int = 14,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous Wilder ATR over a stream of per-symbol bars or ticks.

    One groupBy(symbol) shuffle; the state store pins each symbol's
    scan to one task per micro-batch. ``state_ttl`` evicts quiet
    symbols' 3-field state (same semantics as online_indicators)."""
    if state_ttl is not None:
        _ttl_ms(state_ttl)  # fail fast at call time, not mid-stream
    return ticks.groupBy("symbol").applyInPandasWithState(
        _atr_func(window, state_ttl),
        outputStructType=ATR_OUTPUT_SCHEMA,
        stateStructType=ATR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="ProcessingTimeTimeout" if state_ttl else "NoTimeout",
    )


def online_atr_batch(
    bars: DataFrame,
    window: int = 14,
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
) -> DataFrame:
    """Batch twin of ``online_atr``: the identical ``_scan_hlc``
    recurrence run from fresh state over each symbol's full in-order
    history via plain ``applyInPandas``. Adds ``tr`` and ``atr`` to
    the input columns."""
    import pyspark.sql.types as T

    alpha = 1.0 / window
    out_schema = T.StructType(
        list(bars.schema.fields)
        + [StructField("tr", DoubleType()), StructField("atr", DoubleType())]
    )
    order = list(order_cols)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order).reset_index(drop=True)
        highs, lows, closes = _hlc(pdf)
        vals, _ = _scan_hlc(highs, lows, closes, _FRESH, alpha)
        return pd.concat(
            [pdf, pd.DataFrame(vals, columns=["tr", "atr"])], axis=1
        )

    return bars.groupBy("symbol").applyInPandas(run, schema=out_schema)
