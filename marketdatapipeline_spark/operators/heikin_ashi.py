"""Heikin-Ashi candles — the smoothed OHLC transform.

``ha_close = (o+h+l+c)/4`` is per-row, but ``ha_open`` is a genuine
recursion: ``ha_open_t = (ha_open_{t-1} + ha_close_{t-1}) / 2``,
seeded ``(o_1+c_1)/2``. The trick that keeps this distributed: the
recursion is EXACTLY an EWMA — ``y_t = 0.5 y_{t-1} + 0.5 x_t`` with
``x_1 = (o_1+c_1)/2`` (the seed) and ``x_t = ha_close_{t-1}``
after — i.e. ``ewm(alpha=0.5, adjust=False)`` over a shifted input,
and alpha 0.5 is span 3. So ha_open rides the repo's one EWMA scan
(features/ewm.py:add_ewm_native): all-JVM window functions, one
exchange by symbol, no per-symbol pandas scan, no driver loop.

The blocked scan associates the sum differently from a single
sequential loop; parity vs the literal pandas recursion is pinned at
~1e-11 relative (tests/test_randomized_market.py, and across block
boundaries tests/test_ewm.py), the same contract as the Wilder ATR. No SQL oracle (recursion has no bounded-depth
SQL form at 100k rows — the ewm_indicators precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["heikin_ashi"]


def heikin_ashi(
    df: DataFrame,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
) -> DataFrame:
    """Add ``ha_open``, ``ha_high``, ``ha_low``, ``ha_close``.

    ``ha_high = max(high, ha_open, ha_close)`` and ``ha_low``
    symmetrically — per-row picks over the recursive open."""
    from marketdatapipeline_spark.features.ewm import add_ewm_native

    w = Window.partitionBy(symbol_col).orderBy(*order_cols)
    hc = (
        F.col("open") + F.col("high") + F.col("low") + F.col("close")
    ) / F.lit(4.0)
    seed = (F.col("open") + F.col("close")) / F.lit(2.0)
    staged = df.withColumn("_hac", hc).withColumn(
        "_x", F.coalesce(F.lag(F.col("_hac")).over(w), seed)
    )
    out = add_ewm_native(
        staged,
        # alpha = 2/(span+1) = 0.5 — THE Heikin-Ashi recursion
        {"ha_open": ("_x", 3, False)},
        symbol_col=symbol_col,
        order_cols=order_cols,
    )
    return (
        out.withColumn("ha_close", F.col("_hac"))
        .withColumn(
            "ha_high", F.greatest(F.col("high"), F.col("ha_open"), F.col("ha_close"))
        )
        .withColumn(
            "ha_low", F.least(F.col("low"), F.col("ha_open"), F.col("ha_close"))
        )
        .drop("_hac", "_x")
    )
