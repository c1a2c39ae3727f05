"""Classic path-dependent technical indicators — true range / ATR,
the stochastic oscillator, on-balance volume, and Donchian channels.

These complete the indicator family around the reference's RSI /
MACD / Bollinger set (src/features/engineering.py computes momentum
and volatility features; these are the remaining standard screens a
market-data user expects from the same engine). Every operator is a
single window exchange on the symbol — the per-bar terms are
scan-side codegen expressions, and the rolling reductions either
ride prefix-difference decimal sums (exact, O(n)) or the native
sliding frame when the window is tiny.

Cross-engine exactness conventions (the repo's vwap/ohlc_vol rules):

- Per-bar doubles (true range, %K ratios) are deterministic chains of
  IEEE ops on identical inputs — bit-identical in any engine.
- Rolling MEANS go through decimal(28,14) sums (association-free), so
  a DuckDB oracle summing the identical terms matches after round-6
  (the decimal cast of an arbitrary double is the one noisy step).
- Pure picks and integer cumsums (Donchian bands, OBV) are exact and
  are emitted UNROUNDED.
- Wilder-smoothed ATR is an exponential recursion with no
  association-free SQL form at depth 100k; it reuses the EWMA scan
  (features/ewm.py:add_ewm_native) and is pinned by randomized pandas
  parity instead of a DuckDB oracle (same split as ewm_indicators).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "true_range",
    "atr",
    "stochastic_oscillator",
    "on_balance_volume",
    "donchian_channels",
    "ichimoku",
    "commodity_channel_index",
    "money_flow_index",
    "pivot_points",
    "williams_r",
]

_DEC = "decimal(28,14)"


def true_range(
    df: DataFrame,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
    out_col: str = "tr",
) -> DataFrame:
    """Add the per-bar true range:
    ``max(high - low, |high - prev_close|, |low - prev_close|)``,
    falling back to ``high - low`` on the first bar of each symbol
    (the Wilder convention — no previous close exists).

    One lag window; the greatest/abs chain is scan-side codegen.
    The null-previous case is an EXPLICIT branch, not a greatest()
    null-skip, so Spark and SQL oracles agree by construction.
    """
    w = Window.partitionBy(symbol_col).orderBy(*order_cols)
    pc = F.lag(F.col("close")).over(w)
    hl = F.col("high") - F.col("low")
    tr = F.when(pc.isNull(), hl).otherwise(
        F.greatest(hl, F.abs(F.col("high") - pc), F.abs(F.col("low") - pc))
    )
    return df.withColumn(out_col, tr)


def _rolling_mean_decimal(
    df: DataFrame,
    term_col: str,
    window: int,
    out_col: str,
    symbol_col: str,
    order_cols: tuple[str, ...],
) -> DataFrame:
    """min_periods==window rolling mean of ``term_col`` via
    prefix-difference decimal(28,14) sums (the ohlc_vol O(n) trick:
    decimal addition is exact, so ``S_t - S_{t-w}`` is bit-identical
    to the direct frame sum a DuckDB oracle computes, while Spark
    evaluates running frames incrementally instead of O(rows x w)).
    The count gate counts NON-NULL terms, matching pandas
    min_periods."""
    wc = (
        Window.partitionBy(symbol_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wl = Window.partitionBy(symbol_col).orderBy(*order_cols)
    staged = df.withColumns(
        {
            # narrowed back to _DEC before the window-edge diff: the
            # (38,14) sum type would lose a scale digit under the
            # subtraction's allowPrecisionLoss rescale (r9)
            "_cs": F.sum(F.col(term_col).cast(_DEC)).over(wc).cast(_DEC),
            "_cc": F.count(term_col).over(wc),
        }
    )
    prev_s = F.lag(F.col("_cs"), window).over(wl)
    prev_c = F.lag(F.col("_cc"), window).over(wl)
    s = (F.col("_cs") - F.coalesce(prev_s, F.lit(0).cast(_DEC))).cast("double")
    cnt = F.col("_cc") - F.coalesce(prev_c, F.lit(0))
    return staged.withColumn(
        out_col, F.when(cnt == window, s / window)
    ).drop("_cs", "_cc")


def atr(
    df: DataFrame,
    window: int = 14,
    method: str = "wilder",
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
    out_col: str = "atr",
) -> DataFrame:
    """Average true range over ``window`` bars.

    ``method="wilder"`` (the classical ATR) smooths the true range
    with Wilder's recursion ``atr_t = atr_{t-1} + (tr_t - atr_{t-1})
    / n`` — an EWM with alpha = 1/n, adjust=False, seeded with the
    first true range (the pandas ``ewm(alpha=1/n, adjust=False)``
    convention). It rides the all-JVM EWMA scan
    (features/ewm.py:add_ewm_native) via the span identity
    span = 2n - 1 (alpha = 2/(span+1) = 1/n), the same scan the
    MACD/RSI path uses: one exchange by symbol and no Python worker.

    ``method="sma"`` is the simple-moving-average variant (null until
    the frame fills): one window exchange with exact decimal prefix
    sums, and the variant the SQL value-oracle checks cell-exactly.
    """
    d = true_range(df, symbol_col, order_cols, out_col="_tr")
    if method == "sma":
        out = _rolling_mean_decimal(
            d, "_tr", window, out_col, symbol_col, order_cols
        )
        return out.drop("_tr")
    if method != "wilder":
        raise ValueError(f"unknown ATR method: {method!r}")
    from marketdatapipeline_spark.features.ewm import add_ewm_native

    out = add_ewm_native(
        d,
        {out_col: ("_tr", 2 * window - 1, False)},
        symbol_col=symbol_col,
        order_cols=order_cols,
    )
    return out.drop("_tr")


def stochastic_oscillator(
    df: DataFrame,
    k_window: int = 14,
    d_window: int = 3,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
) -> DataFrame:
    """Add ``pct_k`` and ``pct_d`` — the stochastic oscillator:

    ``%K = 100 * (close - min(low, k)) / (max(high, k) - min(low, k))``
    ``%D = rolling mean(%K, d)``

    Both null until their frames fill (min_periods == window); %K is
    additionally null on a degenerate frame (``hh == ll`` — flat
    prices), rather than dividing by zero. %K is a deterministic
    chain of picks and three IEEE ops — exact cross-engine; %D goes
    through the decimal mean (round-6 territory). One window exchange
    covers both (same partition+order)."""
    wk = (
        Window.partitionBy(symbol_col)
        .orderBy(*order_cols)
        .rowsBetween(-(k_window - 1), 0)
    )
    hh = F.max("high").over(wk)
    ll = F.min("low").over(wk)
    full = F.count(F.lit(1)).over(wk) == k_window
    pct_k = F.when(
        full & (hh > ll),
        F.lit(100.0) * (F.col("close") - ll) / (hh - ll),
    )
    staged = df.withColumn("pct_k", pct_k)
    return _rolling_mean_decimal(
        staged, "pct_k", d_window, "pct_d", symbol_col, order_cols
    )


def on_balance_volume(
    df: DataFrame,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
    out_col: str = "obv",
) -> DataFrame:
    """Add on-balance volume: the running sum of volume signed by the
    close-to-close direction (+volume on an uptick, -volume on a
    downtick, 0 unchanged; the leading bar contributes 0 — the
    OBV(0)=0 convention, so absolute levels are comparable across
    engines).

    Integer-valued volumes make the cumsum EXACT in double (every
    partial sum is an integer far below 2^53), so the output is
    emitted unrounded. One window exchange shared by the lag and the
    running sum."""
    w = Window.partitionBy(symbol_col).orderBy(*order_cols)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    delta = F.col("close") - F.lag(F.col("close")).over(w)
    signed = (
        F.when(delta > 0, F.col("volume"))
        .when(delta < 0, -F.col("volume"))
        .otherwise(F.lit(0.0))
    )
    return df.withColumn(out_col, F.sum(signed).over(wc))


def donchian_channels(
    df: DataFrame,
    window: int = 20,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
) -> DataFrame:
    """Add ``dc_upper`` / ``dc_lower`` / ``dc_mid`` — the Donchian
    channel: highest high and lowest low over ``window`` bars and
    their midpoint, null until the frame fills (the breakout-system
    convention: a partial channel generates false breakouts).

    max/min are exact picks and the midpoint is one IEEE add + halve
    — bit-identical cross-engine, emitted unrounded. One window
    exchange for all three columns."""
    w = (
        Window.partitionBy(symbol_col)
        .orderBy(*order_cols)
        .rowsBetween(-(window - 1), 0)
    )
    full = F.count(F.lit(1)).over(w) == window
    upper = F.when(full, F.max("high").over(w))
    lower = F.when(full, F.min("low").over(w))
    return df.withColumns(
        {
            "dc_upper": upper,
            "dc_lower": lower,
            "dc_mid": (upper + lower) / F.lit(2.0),
        }
    )


def ichimoku(
    df: DataFrame,
    tenkan: int = 9,
    kijun: int = 26,
    senkou_b: int = 52,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
) -> DataFrame:
    """Add the five Ichimoku Kinko Hyo lines (standard 9/26/52):

    - ``tenkan_sen``  = midpoint of the ``tenkan``-bar high/low range
    - ``kijun_sen``   = midpoint of the ``kijun``-bar range
    - ``senkou_a``    = (tenkan_sen + kijun_sen) / 2, displaced
      ``kijun`` bars FORWARD (the row shows the cloud edge in force
      there: the value computed ``kijun`` bars ago)
    - ``senkou_b``    = midpoint of the ``senkou_b``-bar range,
      displaced ``kijun`` bars forward
    - ``chikou``      = close displaced ``kijun`` bars BACKWARD (the
      row shows the close from ``kijun`` bars ahead; null in the
      final stretch where no future close exists)

    Every line is range picks + adds + halves + row shifts — exact
    deterministic IEEE chains, emitted unrounded, null until the
    underlying frame fills. All six windows share one (symbol)
    partitioning: a single exchange."""
    wl = Window.partitionBy(symbol_col).orderBy(*order_cols)

    def mid(n: int) -> Column:
        w = wl.rowsBetween(-(n - 1), 0)
        full = F.count(F.lit(1)).over(w) == n
        return F.when(
            full, (F.max("high").over(w) + F.min("low").over(w)) / F.lit(2.0)
        )

    t, k = mid(tenkan), mid(kijun)
    staged = df.withColumns(
        {
            "tenkan_sen": t,
            "kijun_sen": k,
            "_sa": (t + k) / F.lit(2.0),
            "_sb": mid(senkou_b),
        }
    )
    return staged.withColumns(
        {
            "senkou_a": F.lag("_sa", kijun).over(wl),
            "senkou_b": F.lag("_sb", kijun).over(wl),
            "chikou": F.lead("close", kijun).over(wl),
        }
    ).drop("_sa", "_sb")


def pivot_points(
    df: DataFrame,
    symbol_col: str = "symbol",
    time_col: str = "datetime",
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
) -> DataFrame:
    """Per-(symbol, day) classic floor-trader pivot levels, computed
    from the PREVIOUS day's high/low/close (the levels a desk quotes
    before the open — the first day of each symbol has no levels):

    ``P = (H + L + C) / 3``; ``R1 = 2P - L``; ``S1 = 2P - H``;
    ``R2 = P + (H - L)``; ``S2 = P - (H - L)``.

    One day-grain aggregation (map-side combinable; the daily close is
    a max_by over the full bar order — deterministic under duplicate
    timestamps) and one lag window over the tiny per-day table — the
    day table is ~rows/bars_per_day, so the window exchange moves
    almost nothing at any scale. All levels are deterministic IEEE
    chains on exact picks — emitted unrounded."""
    day = F.date_trunc("day", F.col(time_col)).alias("day")
    daily = df.groupBy(F.col(symbol_col), day).agg(
        F.max("high").alias("_h"),
        F.min("low").alias("_l"),
        F.max_by(
            F.col("close"), F.struct(*[F.col(c) for c in order_cols])
        ).alias("_c"),
    )
    w = Window.partitionBy(symbol_col).orderBy("day")
    prev_h = F.lag("_h").over(w)
    prev_l = F.lag("_l").over(w)
    prev_c = F.lag("_c").over(w)
    p = (prev_h + prev_l + prev_c) / F.lit(3.0)
    rng = prev_h - prev_l
    return daily.select(
        symbol_col,
        "day",
        p.alias("pivot"),
        (F.lit(2.0) * p - prev_l).alias("r1"),
        (F.lit(2.0) * p - prev_h).alias("s1"),
        (p + rng).alias("r2"),
        (p - rng).alias("s2"),
    )


def williams_r(
    df: DataFrame,
    window: int = 14,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
    out_col: str = "williams_r",
) -> DataFrame:
    """Add Williams %R: ``-100 * (hh - close) / (hh - ll)`` over the
    trailing ``window`` bars — the overbought/oversold oscillator on
    the [-100, 0] scale (the stochastic %K mirrored).

    Null until the frame fills (min_periods == window) and on a
    degenerate flat frame (``hh == ll``). Exact picks plus three IEEE
    ops — deterministic cross-engine, emitted unrounded. One window
    exchange (same partition+order as the other indicators, so
    chained calls share it)."""
    wk = (
        Window.partitionBy(symbol_col)
        .orderBy(*order_cols)
        .rowsBetween(-(window - 1), 0)
    )
    hh = F.max("high").over(wk)
    ll = F.min("low").over(wk)
    full = F.count(F.lit(1)).over(wk) == window
    wr = F.when(
        full & (hh > ll),
        F.lit(-100.0) * (hh - F.col("close")) / (hh - ll),
    )
    return df.withColumn(out_col, wr)


def money_flow_index(
    df: DataFrame,
    window: int = 14,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
    out_col: str = "mfi",
) -> DataFrame:
    """Add the money flow index — the volume-weighted RSI:

    ``tp = (high + low + close) / 3`` (typical price),
    ``mf = tp * volume`` signed by the tp-to-tp direction; over the
    trailing ``window`` bars ``mfi = 100 * pos / (pos + neg)``.

    The ``100 * pos / (pos + neg)`` form is algebraically the
    textbook ``100 - 100/(1 + pos/neg)`` but well-defined when
    ``neg == 0`` (all-up window -> exactly 100); null when BOTH sides
    are zero (flat prices) and until the frame holds ``window`` valid
    directions (each symbol's first bar has none — the pandas
    min_periods convention on the diff).

    Directional flows accumulate through the prefix-difference
    decimal sums (exact in any association order, so a direct-frame
    DuckDB oracle matches bit-for-bit); the final division is one
    IEEE op — emitted unrounded. One window exchange covers the lag
    and both running sums."""
    w = Window.partitionBy(symbol_col).orderBy(*order_cols)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    tp = (F.col("high") + F.col("low") + F.col("close")) / F.lit(3.0)
    staged = df.withColumn("_tp", tp).withColumn(
        "_dtp", F.col("_tp") - F.lag(F.col("_tp")).over(w)
    )
    mf = F.col("_tp") * F.col("volume")
    pos_t = F.when(F.col("_dtp") > 0, mf).when(F.col("_dtp") <= 0, F.lit(0.0))
    neg_t = F.when(F.col("_dtp") < 0, mf).when(F.col("_dtp") >= 0, F.lit(0.0))
    staged = staged.withColumns(
        {
            # narrowed like sma's running sum (r9): keep scale 14 exact
            "_cp": F.sum(pos_t.cast(_DEC)).over(wc).cast(_DEC),
            "_cn": F.sum(neg_t.cast(_DEC)).over(wc).cast(_DEC),
            "_cc": F.count(F.col("_dtp")).over(wc),
        }
    )
    zero = F.lit(0).cast(_DEC)
    pos = (
        F.col("_cp") - F.coalesce(F.lag(F.col("_cp"), window).over(w), zero)
    ).cast("double")
    neg = (
        F.col("_cn") - F.coalesce(F.lag(F.col("_cn"), window).over(w), zero)
    ).cast("double")
    cnt = F.col("_cc") - F.coalesce(F.lag(F.col("_cc"), window).over(w), F.lit(0))
    mfi = F.when(
        (cnt == window) & ((pos + neg) > 0),
        F.lit(100.0) * pos / (pos + neg),
    )
    return (
        staged.withColumn(out_col, mfi)
        .drop("_tp", "_dtp", "_cp", "_cn", "_cc")
    )


def commodity_channel_index(
    df: DataFrame,
    window: int = 20,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
    out_col: str = "cci",
) -> DataFrame:
    """Add the commodity channel index:

    ``tp = (high + low + close) / 3``,
    ``cci = (tp - sma(tp, n)) / (0.015 * mad)`` where ``mad`` is the
    mean ABSOLUTE deviation of the window's typical prices around
    that window's own mean.

    The frame-anchored MAD is the interesting shape: it needs the
    window mean INSIDE a second pass over the same frame, which no
    single window aggregate expresses. The mean rides the O(n)
    decimal prefix-difference sums (codegen, and what makes both
    engines' means bit-identical); the second pass materializes the
    frame as an ordered array (one ``collect_list`` window) and folds
    ``abs(x - mean)`` scan-side — ONE sequential fold per row, not
    the naive fold-inside-fold that would re-evaluate the mean per
    element (O(n^2) interpreted ops — the first cut of this operator
    did exactly that and benched 10x slower).

    Null until the frame fills and on ``mad == 0`` (flat window); the
    decimal cast is the one noisy step, so the catalog emits round-6.
    """
    wk = (
        Window.partitionBy(symbol_col)
        .orderBy(*order_cols)
        .rowsBetween(-(window - 1), 0)
    )
    tp = (F.col("high") + F.col("low") + F.col("close")) / F.lit(3.0)
    staged = _rolling_mean_decimal(
        df.withColumn("_tp", tp), "_tp", window, "_sma", symbol_col, order_cols
    ).withColumn("_frame", F.collect_list("_tp").over(wk))
    arr = F.col("_frame")
    n = F.lit(float(window))
    mean = F.col("_sma")
    madsum = F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + F.abs(x - mean))
    mad = madsum / n
    cci = F.when(
        mean.isNotNull() & (mad > 0),
        (F.col("_tp") - mean) / (F.lit(0.015) * mad),
    )
    return staged.withColumn(out_col, cci).drop("_tp", "_frame", "_sma")
