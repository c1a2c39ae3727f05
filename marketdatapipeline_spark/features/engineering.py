"""Feature engineering: ~50 technical-indicator columns, Spark-native.

Re-expresses reference src/features/engineering.py on one multi-symbol
DataFrame. The reference holds one eager frame per symbol and loops in
Python (reference src/main.py:63-87); here every per-family operator
is a window over ``Window.partitionBy(symbol).orderBy(datetime)`` — a
single hash exchange on ``symbol``, embarrassingly parallel across
symbols and spill-safe at any data size. ``compute_all_features`` runs
all families as one vectorized kernel per symbol instead
(features/arrow_engine.py); the per-family chain is its test reference.

Semantics faithfully preserved (SURVEY.md §2 traps):
  T1  rolling aggregates NULL until the window is full (windows.py)
  T2  cyclic encodings use the literal 3.14159, not pi
      (reference src/features/engineering.py:187-192)
  F6  day_of_week is Monday=1..Sunday=7 (Polars convention,
      reference engineering.py:180) — Spark's ``weekday()`` is
      Monday=0, hence the +1
  eps all guarded divisions use + 1e-10, never nullif/try_divide
      (reference engineering.py:45,96,105,114)
Within one Polars ``with_columns`` batch, expressions see the *input*
frame; a Spark ``select("*", ...)`` has identical semantics, so derived
expressions are inlined rather than chained.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from marketdatapipeline_spark.features import arrow_engine
from marketdatapipeline_spark.features.ewm import add_technical_ewm_features_native
from marketdatapipeline_spark.features.windows import RollingPlan

EPS = 1e-10
#: Reference uses this literal, not math.pi (engineering.py:187-192).
PI_LITERAL = 3.14159


def _base_window(symbol_col: str, order_cols: tuple[str, ...]) -> WindowSpec:
    return Window.partitionBy(symbol_col).orderBy(*[F.col(c) for c in order_cols])


def _require(df: DataFrame, cols: tuple[str, ...]) -> None:
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"Required column(s) {missing} not present")


def compute_technical_features(
    df: DataFrame,
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    bb_period: int = 20,
    bb_std: float = 2.0,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime",),
) -> DataFrame:
    """RSI, MACD, Bollinger Bands (reference engineering.py:7-70).

    Bollinger is pure rolling mean/std → native windows; RSI/MACD need
    EWMA → the native blocked scan (see features/ewm.py).
    """
    _require(df, ("close",))
    w = _base_window(symbol_col, order_cols)

    out = add_technical_ewm_features_native(
        df,
        rsi_period=rsi_period,
        macd_fast=macd_fast,
        macd_slow=macd_slow,
        macd_signal=macd_signal,
        symbol_col=symbol_col,
        order_cols=order_cols,
    )

    plan = RollingPlan(w)
    return plan.apply(out, _bollinger_outputs(bb_period, bb_std, plan))


def _bollinger_outputs(
    bb_period: int, bb_std: float, plan: RollingPlan
) -> dict[str, Column]:
    close = F.col("close")
    sma = plan.mean(close, bb_period, "close")
    std = plan.std(close, bb_period, "close")
    upper = sma + (std * bb_std)
    lower = sma - (std * bb_std)
    return {
        "bb_middle": sma,
        "bb_upper": upper,
        "bb_lower": lower,
        "bb_width": (upper - lower) / sma,
    }


def _momentum_offsets(periods: tuple[int, ...], w: WindowSpec) -> dict[str, Column]:
    close = F.col("close")
    return {f"_lag_close_{p}": F.lag(close, p).over(w) for p in periods}


def _momentum_outputs(
    periods: tuple[int, ...], plan: RollingPlan
) -> dict[str, Column]:
    """Derivations over materialized offsets + prefix-sum aggregates."""
    close = F.col("close")
    out: dict[str, Column] = {}
    for p in periods:
        shifted = F.col(f"_lag_close_{p}")
        sma = plan.mean(close, p, "close")
        ret = (close - shifted) / (shifted + F.lit(EPS))
        out[f"return_{p}"] = ret
        out[f"momentum_{p}"] = close - shifted
        out[f"roc_{p}"] = ret * 100
        out[f"sma_{p}"] = sma
        out[f"distance_sma_{p}"] = (close - sma) / (sma + F.lit(EPS)) * 100
    return out


def compute_momentum_features(
    df: DataFrame,
    periods: tuple[int, ...] = (5, 10, 20, 50),
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime",),
) -> DataFrame:
    _require(df, ("close",))
    periods = tuple(periods)
    w = _base_window(symbol_col, order_cols)
    plan = RollingPlan(w)
    offsets = _momentum_offsets(periods, w)
    outputs = _momentum_outputs(periods, plan)
    return plan.apply(df.withColumns(offsets), outputs).drop(*offsets.keys())


def _volatility_outputs(
    windows: tuple[int, ...],
    has_hl: bool,
    hl_plan: RollingPlan,
    ret_plan: RollingPlan,
) -> dict[str, Column]:
    """hl aggregates come from the close-stage plan (hl is plain
    arithmetic over the input row); returns aggregates come from the
    second-stage plan (returns is itself a window output).
    realized_vol is the rolling sum of returns^2 — the same running
    sum-of-squares the rolling std needs, shared via the plan."""
    hl = (F.col("high") - F.col("low")) / F.col("close")
    ret = F.col("returns")
    out: dict[str, Column] = {}
    for n in windows:
        out[f"volatility_{n}"] = ret_plan.std(ret, n, "ret")
        out[f"realized_vol_{n}"] = ret_plan.sum_of_squares(ret, n, "ret")
        if has_hl:
            out[f"hl_range_{n}"] = hl_plan.mean(hl, n, "hl")
    return out


def compute_volatility_features(
    df: DataFrame,
    windows: tuple[int, ...] = (10, 20, 60),
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime",),
) -> DataFrame:
    _require(df, ("close",))
    windows = tuple(windows)
    w = _base_window(symbol_col, order_cols)
    has_hl = "high" in df.columns and "low" in df.columns
    close = F.col("close")
    prev = F.lag(close, 1).over(w)
    hl_plan = RollingPlan(w, tag="h")
    ret_plan = RollingPlan(w, tag="t")
    outputs = _volatility_outputs(windows, has_hl, hl_plan, ret_plan)
    step = hl_plan.materialize(df.withColumn("returns", (close - prev) / prev))
    step = ret_plan.materialize(step)
    return step.withColumns(outputs).drop(
        *hl_plan.temp_columns, *ret_plan.temp_columns
    )


def temporal_expressions(datetime_col: str = "datetime") -> dict[str, Column]:
    """Calendar + cyclic-encoded features (reference engineering.py:160-195).

    day_of_week follows Polars (Mon=1..Sun=7): Spark weekday() is Mon=0.
    Cyclic encodings reuse the *output* integer columns in the reference
    (second with_columns batch) — same here via direct expressions.
    """
    ts = F.col(datetime_col)
    cal = {
        "hour": F.hour(ts),
        "minute": F.minute(ts),
        "day_of_week": F.weekday(ts) + F.lit(1),
        "day": F.dayofmonth(ts),
        "month": F.month(ts),
    }
    two_pi = 2 * PI_LITERAL
    cyc = {}
    for name, period in (("hour", 24), ("day_of_week", 7), ("month", 12)):
        angle = cal[name] * two_pi / period
        cyc[f"{name}_sin"] = F.sin(angle)
        cyc[f"{name}_cos"] = F.cos(angle)
    return {**cal, **cyc}


def compute_temporal_features(
    df: DataFrame, datetime_col: str = "datetime"
) -> DataFrame:
    _require(df, (datetime_col,))
    return df.withColumns(temporal_expressions(datetime_col))


def compute_all_features(
    df: DataFrame,
    datetime_col: str = "datetime",
    momentum_periods: tuple[int, ...] | None = None,
    volatility_windows: tuple[int, ...] | None = None,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] | None = None,
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    bb_period: int = 20,
    bb_std: float = 2.0,
    target_horizon: int | None = None,
    target_type: str = "classification",
) -> DataFrame:
    """All feature families (reference engineering.py:198-226): 7 input
    columns (symbol + OHLCV + datetime) -> 55; generate_targets adds the
    56th (or pass ``target_horizon`` to fuse it, reference
    targets.py:30-43).

    One vectorized per-symbol kernel (features/arrow_engine.py) whose
    row layout is chosen by size: one aggregation probe (count +
    count(distinct symbol)) routes to the halo-overlap chunked
    layout when the average per-symbol history exceeds
    ``arrow_engine.CHUNKED_ROWS_PER_SYMBOL`` — a monster single-symbol
    series no longer bound to one task — else to one group per symbol,
    whose kernel exchange the probed row count widens past the session
    default (``arrow_engine.TARGET_ROWS_PER_TASK``). The two layouts
    return the same rows and values.
    """
    # exact distinct count: it is order-irrelevant, so the optimizer
    # drops an upstream global sort (ingestion's orderBy) from the probe;
    # approx_count_distinct keeps it — a sampling job, a range exchange
    # and a sort per call
    n, syms = df.agg(F.count("*"), F.count_distinct(symbol_col)).first()
    layout = (
        arrow_engine.compute_all_features_chunked
        if syms and n / syms > arrow_engine.CHUNKED_ROWS_PER_SYMBOL
        else arrow_engine.compute_all_features_arrow
    )
    return layout(
        df,
        n_rows=n,
        datetime_col=datetime_col,
        momentum_periods=momentum_periods,
        volatility_windows=volatility_windows,
        symbol_col=symbol_col,
        order_cols=order_cols,
        rsi_period=rsi_period,
        macd_fast=macd_fast,
        macd_slow=macd_slow,
        macd_signal=macd_signal,
        bb_period=bb_period,
        bb_std=bb_std,
        target_horizon=target_horizon,
        target_type=target_type,
    )
