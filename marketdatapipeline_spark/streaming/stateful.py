"""The online-operator harness, and online RSI/MACD on it.

Every stateful operator in this package is one ``step(pdf, state) ->
(columns, state)`` plus its state schema, fresh state and output
fields. The harness here runs a step two ways, so the stream and its
batch twin cannot drift apart:

* :func:`online_operator` — the one ``applyInPandasWithState`` call:
  per symbol, each micro-batch chunk is sorted by ``ts`` and stepped
  from the carried state; a key idle past ``state_ttl`` is evicted;
* :func:`batch_twin` — the one ``applyInPandas`` call: each symbol's
  full in-order history stepped once from fresh state.

RSI/MACD, the operator defined here, is the streaming counterpart of
the batch EWM stage (features/ewm.py:add_technical_ewm_features —
itself the Spark re-expression of reference
src/features/engineering.py:36-57). Where the batch path needs each
symbol's full history in hand, this operator carries an **11-field state vector per symbol** (9 doubles + 2 longs) across micro-batches
via ``applyInPandasWithState``, so an unbounded tick feed gets
RSI/MACD continuously with O(symbols) state, not O(rows).

State per symbol (all recurrences are linear scans, so constant
per-row work):

* ``last_close`` — to compute the next delta across the batch boundary;
* Wilder gains/losses (``adjust=False``, span=rsi_period):
  ``y ← (1-a)·y + a·x``, seeded ``y = x`` at the first valid delta;
* MACD fast/slow and signal EMAs (``adjust=True``, pandas default):
  numerator/denominator pairs ``N ← x + r·N``, ``D ← 1 + r·D``,
  ``y = N/D`` — the normalized form, numerically stable (N, D are
  bounded by x_max/(1-r) and 1/(1-r)).

Batch parity: on an in-order feed this emits bit-identical values to
``add_technical_ewm_features`` (pinned by tests/test_streaming.py).
Rows inside a micro-batch are sorted by event time per symbol; ACROSS
batches the source must deliver per-symbol in-order data (true for a
file-drop feed of finalized bars, e.g. the output of ticks_to_bars) —
the EWMA recurrence is order-defined, so out-of-order input changes
the answer in ANY engine, including the reference's.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: ``step(pdf, state) -> (columns, state)``: ``pdf`` is one symbol's rows
#: in order with a 0..n-1 index, ``columns`` a frame on that index
Step = Callable[[pd.DataFrame, tuple], tuple[pd.DataFrame, tuple]]

STATE_SCHEMA = StructType(
    [
        StructField("n_rows", LongType()),
        StructField("last_close", DoubleType()),
        StructField("gain_ewm", DoubleType()),
        StructField("loss_ewm", DoubleType()),
        StructField("gain_seeded", LongType()),  # 0/1: Wilder EWMAs seeded yet
        StructField("fast_n", DoubleType()),
        StructField("fast_d", DoubleType()),
        StructField("slow_n", DoubleType()),
        StructField("slow_d", DoubleType()),
        StructField("sig_n", DoubleType()),
        StructField("sig_d", DoubleType()),
    ]
)

_EPS = 1e-10  # reference's literal epsilon guard (engineering.py:45)

#: zero-history state vector (mirrors STATE_SCHEMA field order)
_FRESH_STATE = (0, float("nan"), 0.0, 0.0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)


def _coeffs(
    rsi_period: int, macd_fast: int, macd_slow: int, macd_signal: int
) -> tuple[float, float, float, float]:
    return (
        2.0 / (rsi_period + 1.0),
        1.0 - 2.0 / (macd_fast + 1.0),
        1.0 - 2.0 / (macd_slow + 1.0),
        1.0 - 2.0 / (macd_signal + 1.0),
    )


def _scan_closes(closes, st: tuple, coeffs: tuple):
    """THE state-handler recurrence, shared verbatim by the streaming
    handler and the batch twin (``online_indicators_batch``) so their
    parity is structural, not coincidental. Returns one
    (rsi, macd, signal, histogram) tuple per close plus the advanced
    state vector."""
    a_rsi, r_fast, r_slow, r_sig = coeffs
    (
        n_rows,
        last_close,
        gain_ewm,
        loss_ewm,
        gain_seeded,
        fast_n,
        fast_d,
        slow_n,
        slow_d,
        sig_n,
        sig_d,
    ) = st
    out = []
    for close in closes:
        close = float(close)
        rsi = float("nan")
        if n_rows > 0:
            delta = close - last_close
            gain = delta if delta > 0 else 0.0
            loss = -delta if delta < 0 else 0.0
            if gain_seeded:
                gain_ewm = (1.0 - a_rsi) * gain_ewm + a_rsi * gain
                loss_ewm = (1.0 - a_rsi) * loss_ewm + a_rsi * loss
            else:
                gain_ewm, loss_ewm, gain_seeded = gain, loss, 1
            rs = gain_ewm / (loss_ewm + _EPS)
            rsi = 100.0 - (100.0 / (1.0 + rs))
        # adjust=True EMAs over close (never NaN)
        fast_n = close + r_fast * fast_n
        fast_d = 1.0 + r_fast * fast_d
        slow_n = close + r_slow * slow_n
        slow_d = 1.0 + r_slow * slow_d
        macd = fast_n / fast_d - slow_n / slow_d
        sig_n = macd + r_sig * sig_n
        sig_d = 1.0 + r_sig * sig_d
        signal = sig_n / sig_d
        out.append((rsi, macd, signal, macd - signal))
        last_close = close
        n_rows += 1
    return out, (
        n_rows,
        last_close,
        gain_ewm,
        loss_ewm,
        gain_seeded,
        fast_n,
        fast_d,
        slow_n,
        slow_d,
        sig_n,
        sig_d,
    )


def _ttl_ms(ttl: str | int) -> int:
    """'30 minutes' / '1 hour' / raw ms int -> milliseconds (pyspark's
    GroupState.setTimeoutDuration accepts only a positive int)."""
    if isinstance(ttl, int):
        ms = ttl
    else:
        try:
            n, unit = ttl.strip().split()
            mult = {
                "millisecond": 1,
                "second": 1000,
                "minute": 60_000,
                "hour": 3_600_000,
                "day": 86_400_000,
            }[unit.lower().rstrip("s")]
            ms = int(n) * mult
        except (ValueError, KeyError) as e:
            raise ValueError(
                f"unparseable state_ttl {ttl!r}: expected '<int> "
                "milliseconds|seconds|minutes|hours|days' or raw ms int"
            ) from e
    if ms <= 0:
        raise ValueError(f"state_ttl must be positive, got {ttl!r}")
    return ms


def fields(*names: str, dtype: DataType = DoubleType()) -> list[StructField]:
    """One nullable ``dtype`` field per name."""
    return [StructField(n, dtype) for n in names]


def _handler(step: Step, fresh: tuple, ttl_ms: int | None):
    """The ``applyInPandasWithState`` function for ``step``: emits
    ``symbol, ts`` plus the step's columns for every non-empty chunk."""

    def func(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # symbol went quiet past the TTL: evict its state row. If it
            # later resumes, it restarts from fresh state (same
            # convention as a new symbol appearing).
            state.remove()
            return
        st = tuple(state.get) if state.exists else fresh
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values("ts").reset_index(drop=True)
            cols, st = step(pdf, st)
            yield pd.concat([pdf[["symbol", "ts"]], cols], axis=1)
        state.update(st)
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    return func


def online_operator(
    ticks: DataFrame,
    step: Step,
    fresh: tuple,
    state_schema: StructType,
    out_fields: list[StructField],
    state_ttl: str | int | None,
) -> DataFrame:
    """``step`` over a stream, one output row per input row (append
    mode). The groupBy(symbol) is the only shuffle; state-store
    partitioning then pins each symbol's scan to one task per
    micro-batch. ``state_ttl`` (e.g. ``"30 minutes"``) enables
    processing-time eviction of symbols with no rows for that long; it
    is validated here, at call time, not on the first micro-batch."""
    ttl_ms = None if state_ttl is None else _ttl_ms(state_ttl)
    return ticks.groupBy("symbol").applyInPandasWithState(
        _handler(step, fresh, ttl_ms),
        outputStructType=StructType(
            [
                StructField("symbol", StringType()),
                StructField("ts", TimestampType()),
                *out_fields,
            ]
        ),
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout" if ttl_ms is None else "ProcessingTimeTimeout",
    )


def batch_twin(
    df: DataFrame,
    step: Step,
    fresh: tuple,
    new_fields: list[StructField],
    order_cols: tuple[str, ...],
) -> DataFrame:
    """The batch twin of an online operator: ``step`` from ``fresh``
    over each symbol's full history in ``order_cols`` order, via plain
    ``applyInPandas``. Keeps every input column and appends
    ``new_fields``. Stream == twin is then bit-exact on an in-order
    feed, whatever the micro-batch slicing (tests/test_streaming.py)."""
    order = list(order_cols)
    names = [f.name for f in new_fields]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order).reset_index(drop=True)
        cols, _ = step(pdf, fresh)
        return pd.concat([pdf, cols[names]], axis=1)

    return df.groupBy("symbol").applyInPandas(
        run, schema=StructType([*df.schema.fields, *new_fields])
    )


_INDICATOR_FIELDS = fields("rsi", "macd", "macd_signal", "macd_histogram")


def _indicator_step(
    rsi_period: int,
    macd_fast: int,
    macd_slow: int,
    macd_signal: int,
    price_col: str,
) -> Step:
    coeffs = _coeffs(rsi_period, macd_fast, macd_slow, macd_signal)

    def step(pdf: pd.DataFrame, st: tuple):
        closes = pdf[price_col]
        vals, st = _scan_closes(closes, st, coeffs)
        cols = pd.DataFrame(vals, columns=[f.name for f in _INDICATOR_FIELDS])
        # nullable Float64 ⇒ NaN crosses Arrow as NULL, matching the
        # batch path's nan_to_null (features/ewm.py:44).
        cols["rsi"] = cols["rsi"].astype("Float64")
        cols.insert(0, "close", closes.astype(float))
        return cols, st

    return step


def online_indicators(
    ticks: DataFrame,
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous RSI/MACD over a stream of per-symbol prices.

    Input: streaming DataFrame with ``symbol, ts`` and ``price`` (tick
    shape) or ``close`` (bar shape). Output: ``symbol, ts, close`` and
    the indicator columns, one row per input row.

    ``state_ttl`` matters when the SYMBOL SPACE itself churns
    (delisted tickers, session-scoped ids): without it, a year of
    churn accumulates an 11-field state row for every symbol ever
    seen.
    """
    price_col = "price" if "price" in ticks.columns else "close"
    return online_operator(
        ticks,
        _indicator_step(rsi_period, macd_fast, macd_slow, macd_signal, price_col),
        _FRESH_STATE,
        STATE_SCHEMA,
        fields("close") + _INDICATOR_FIELDS,
        state_ttl,
    )


def online_indicators_batch(
    bars: DataFrame,
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
) -> DataFrame:
    """Batch twin of ``online_indicators``.

    This is the driver-gate surface for the stateful streaming path:
    pytest pins stream == batch-twin on the same feed (state carry
    across micro-batches exercised there), and the catalog entry
    ``streaming_indicators_batch_parity`` pins batch-twin == the
    recursive-CTE oracle — so the handler recurrence itself is
    oracle-checked by transitivity.

    Input: static DataFrame with ``symbol``, ``close`` and the
    ``order_cols`` (bar shape). Output keeps every input column and
    adds rsi / macd / macd_signal / macd_histogram.
    """
    return batch_twin(
        bars,
        _indicator_step(rsi_period, macd_fast, macd_slow, macd_signal, "close"),
        _FRESH_STATE,
        _INDICATOR_FIELDS,
        order_cols,
    )
