"""Exponentially-weighted moving averages on Spark.

Spark has no native EWMA window function (the recurrence
``y_t = (1-a)*y_{t-1} + a*x_t`` is a scan, not a frame aggregate), so
this module provides one distributed scan and one reference:

**``add_ewm_native``** (the scan): an all-JVM O(n) pass of chained
window functions over fixed-length blocks of each symbol's series,
with the block carry read by ``lag``. It backs RSI/MACD
(``add_technical_ewm_features_native``), Heikin-Ashi and the Wilder
ATR. The blocks keep the renormalized weights ``r^(-off)`` finite;
each symbol is still one window partition, so its history sits in one
task.

**``add_technical_ewm_features``** (the reference): one
``applyInPandas`` per symbol using ``pandas.Series.ewm`` — matches the
reference's Polars ``ewm_mean`` for both ``adjust`` modes (reference
src/features/engineering.py:42-52). Tests and the ``ewm_indicators``
catalog query check the scan against it; the two agree to FP rounding
(different association order).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def nan_to_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """Arrow maps pandas NaN to Spark NaN, not NULL; the reference's
    Polars frames carry nulls. Normalize so downstream null-masking
    and the SQL oracle agree."""
    return df.withColumns(
        {c: F.when(~F.isnan(F.col(c)), F.col(c)) for c in cols}
    )


def add_technical_ewm_features(
    df: DataFrame,
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime",),
    close_col: str = "close",
) -> DataFrame:
    """Add rsi / macd / macd_signal / macd_histogram in ONE pandas pass.

    Exact semantics of reference src/features/engineering.py:36-57:
    RSI uses Wilder-style smoothing (``adjust=False``); MACD EMAs use
    the normalized form (``adjust=True``, the Polars/pandas default) —
    note the deliberate asymmetry. Division is epsilon-guarded with
    the literal 1e-10, not try_divide. A null first-delta propagates
    (gain = cast(delta>0)*delta keeps NaN), so the first RSI row per
    symbol is NULL exactly as in Polars.

    Runs before the native window stage so only the narrow OHLCV frame
    crosses the Arrow boundary; the groupBy(symbol) exchange it creates
    is the same hash-by-symbol distribution the window stage needs, so
    Catalyst adds no second shuffle for the windows that follow.
    """
    sort_cols = list(order_cols)

    def per_symbol(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols)
        close = pdf[close_col]
        delta = close.diff()
        gain = (delta > 0).astype("float64") * delta
        loss = (delta < 0).astype("float64") * (-delta)
        avg_gain = gain.ewm(span=rsi_period, adjust=False).mean()
        avg_loss = loss.ewm(span=rsi_period, adjust=False).mean()
        rs = avg_gain / (avg_loss + 1e-10)
        ema_fast = close.ewm(span=macd_fast).mean()
        ema_slow = close.ewm(span=macd_slow).mean()
        macd = ema_fast - ema_slow
        signal = macd.ewm(span=macd_signal).mean()
        return pdf.assign(
            rsi=100.0 - (100.0 / (1.0 + rs)),
            macd=macd,
            macd_signal=signal,
            macd_histogram=macd - signal,
        )

    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["rsi double", "macd double", "macd_signal double", "macd_histogram double"]
    )
    out = df.groupBy(symbol_col).applyInPandas(per_symbol, schema=out_schema)
    return nan_to_null(out, ["rsi", "macd", "macd_signal", "macd_histogram"])


def ewm_block_size(spans) -> int:
    """Block length B satisfying BOTH constraints for every span:

    - decay: r^B <= e^-45 (far below 1 ulp), so the one-block-back
      carry of add_ewm_native is exact and older carries vanish —
      B >= 45/-ln(r), which GROWS with span;
    - overflow: r^-(B-1) finite with headroom vs exp(709) —
      B <= 600/-ln(r).

    The old fixed 2048 cap silently violated the decay bound for
    span >~ 130 (measured 1.7e-6 rel. error at span=300, 3.8e-2 at
    span=1000). The window [45/-ln r, 600/-ln r] is non-empty per
    span; a single B fits mixed spans iff max_span/min_span <~ 13 —
    otherwise raise so the caller splits specs into span groups with
    separate blockings."""
    lo, hi = 64, None
    for span in spans:
        r = 1.0 - 2.0 / (span + 1.0)
        if 0.0 < r < 1.0:
            nl = -np.log(r)
            lo = max(lo, int(45.0 / nl) + 8)
            hi = int(600.0 / nl) if hi is None else min(hi, int(600.0 / nl))
    if hi is not None and lo > hi:
        raise ValueError(
            f"no single block size fits all spans (need >= {lo} for the "
            f"longest span's carry decay but <= {hi} for the shortest "
            f"span's weight overflow); split the specs into separate "
            f"add_ewm_native calls per span group"
        )
    return lo


def add_block_columns(
    df: DataFrame,
    block_size: int,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime",),
) -> DataFrame:
    """Global position + block id/offset for the blocked EWMA scan.

    ``_blk`` is monotone in the series order within each symbol, so
    every downstream window — (symbol)- or (symbol, _blk)-partitioned —
    can order by (_blk, *order_cols) and produce identical results
    while sharing ONE physical sort (see add_ewm_native).
    """
    w = Window.partitionBy(symbol_col).orderBy(*[F.col(c) for c in order_cols])
    out = df.withColumn("_ewm_rn", F.row_number().over(w))
    pos = F.col("_ewm_rn") - 1
    return out.withColumn("_blk", F.floor(pos / block_size)).withColumn(
        "_off", F.pmod(pos, F.lit(block_size).cast("long"))
    )


def drop_block_columns(df: DataFrame) -> DataFrame:
    return df.drop("_ewm_rn", "_blk", "_off")


def add_ewm_native(
    df: DataFrame,
    specs: dict[str, tuple[str, int, bool]],
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime",),
    block_size: int | None = None,
    keep_block_columns: bool = False,
) -> DataFrame:
    """Exact EWMA as an all-JVM O(n) scan of chained window functions —
    no Python workers, no shuffles beyond the symbol exchange, and one
    physical sort shared by every node.

    ``specs`` maps ``out_col -> (input_col, span, adjust)``. All specs
    share one blocking and one set of Window nodes. If the block
    columns (``_ewm_rn``/``_blk``/``_off``) already exist — from a
    previous pass — they are reused, and ``block_size`` MUST be the
    value used to build them (``ewm_block_size`` over all spans).

    Math. With a = 2/(span+1), r = 1-a, v the 0-based count of valid
    (non-null) observations so far minus one, pandas/Polars semantics
    over a series with (only) leading nulls are

        adjust=True :  y = N / D,   N = sum_j r^(t-j) x_j  (valid j),
                       D = (1 - r^(v+1)) / (1 - r)
        adjust=False:  y = a*N + r^v * (1-a) * x_first

    N is a linear recurrence — not a frame aggregate, so Spark has no
    native operator — but it blocks: split each symbol's series into
    B-row blocks and renormalize within the block,

        p       = x * r^(-off)        off = position in block
        N_local = r^off * sum(p) over (symbol, block) running frame
        N       = N_local + r^(off+1) * carry

    ``carry`` is the previous block's final N. r^B contributes below
    1 ulp at every span (ewm_block_size guarantees it), so carries
    older than one block vanish in IEEE double — the same limit the
    sequential recurrence reaches — and the carry needs no join: the
    block-end state E = last(N_local) over the (symbol, block) full
    frame is constant within a block, and a row at offset ``off`` in
    block m sits exactly B rows after the row at the same offset in
    block m-1, so ``lag(E, B)`` lands in the previous block for every
    row.

    Physical-plan discipline (this is where the speed is):
    - every window orders by (_blk, *order_cols) — equivalent to
      (*order_cols,) because _blk is monotone — so the (symbol)- and
      (symbol, _blk)-partitioned nodes all accept ONE sort; hash
      distribution by symbol satisfies (symbol, _blk) clustering, so
      there is no second exchange either;
    - Spark's pow() is StrictMath.pow (software fdlibm, slow) and the
      per-row exponents are all functions of ``off`` in [0, B), so a
      B-row weight LocalRelation is broadcast-joined on ``off`` — one
      integer hash probe per row replaces every hot pow. The leftover
      r^v head terms sit behind v < cutoff branches (r^v is below
      1 ulp past ~40/ln(1/r) valid rows).

    Assumes inputs are non-null from their first valid row onward
    (true for prices, and for gains/losses past the first delta);
    interior nulls would need an indicator-EWMA denominator instead of
    the closed form.

    Reference semantics: src/features/engineering.py:42-52 (RSI
    adjust=False, MACD adjust=True).
    """
    # span 1 (a = 1) makes the average its own input in both modes; the
    # block weights r^(-off) below would divide by r = 0
    unit = {
        c: F.col(x).cast("double") for c, (x, span, _adj) in specs.items() if span == 1
    }
    if unit:
        df = df.withColumns(unit)
        specs = {c: v for c, v in specs.items() if c not in unit}
        if not specs:
            return df
    if block_size is None:
        block_size = ewm_block_size(span for _, span, _adj in specs.values())
    B = block_size
    ratios = {span: 1.0 - 2.0 / (span + 1.0) for _, span, _adj in specs.values()}

    out = df
    if "_blk" not in out.columns:
        out = add_block_columns(out, B, symbol_col, order_cols)

    # All windows order by (_blk, *order): one shared physical sort.
    border = [F.col("_blk")] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(symbol_col).orderBy(*border)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wb = (
        Window.partitionBy(symbol_col, "_blk")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wfull = (
        Window.partitionBy(symbol_col, "_blk")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )

    # broadcast weight lookup (LocalRelation; no Spark job to build it)
    spark = df.sparkSession
    offs = np.arange(B, dtype="int64")
    wpdf = pd.DataFrame({"_off": offs})
    for span, r in ratios.items():
        wpdf[f"_winv_{span}"] = r ** (-offs.astype("float64"))
        wpdf[f"_wpos_{span}"] = r ** (offs.astype("float64"))
    weights = spark.createDataFrame(wpdf)

    # running valid-count / first-valid per spec (same sort, symbol node)
    stage1: dict = {}
    for out_col, (x_col, span, adjust) in specs.items():
        x = F.col(x_col)
        stage1[f"_nv_{out_col}"] = F.count(x).over(wcum)
        if not adjust:
            stage1[f"_x0_{out_col}"] = F.first(x, ignorenulls=True).over(wcum)
    out = out.withColumns(stage1)
    out = out.join(F.broadcast(weights), on="_off", how="left")

    # block prefix sums, then block-end state, then carry via lag(E, B)
    prefix = {
        f"_S_{c}": F.sum(F.col(x) * F.col(f"_winv_{span}")).over(wb)
        for c, (x, span, _adj) in specs.items()
    }
    out = out.withColumns(prefix)
    ends = {
        f"_E_{c}": F.last(F.col(f"_wpos_{span}") * F.col(f"_S_{c}")).over(wfull)
        for c, (x, span, _adj) in specs.items()
    }
    out = out.withColumns(ends)
    out = out.withColumns(
        {f"_C_{c}": F.lag(F.col(f"_E_{c}"), B).over(w) for c in specs}
    )

    results: dict = {}
    for out_col, (x_col, span, adjust) in specs.items():
        a = 2.0 / (span + 1.0)
        r = 1.0 - a
        cutoff = max(64, int(40.0 / -np.log(r)) + 4)
        wpos = F.col(f"_wpos_{span}")
        n_local = wpos * F.col(f"_S_{out_col}")
        carry = F.coalesce(F.col(f"_C_{out_col}"), F.lit(0.0))
        n_full = n_local + F.lit(r) * wpos * carry
        v = F.col(f"_nv_{out_col}") - 1  # 0-based valid position
        if adjust:
            d_full = F.when(
                v < cutoff,
                (F.lit(1.0) - F.pow(F.lit(r), (v + 1).cast("double")))
                / F.lit(1.0 - r),
            ).otherwise(F.lit(1.0 / (1.0 - r)))
            y = n_full / d_full
        else:
            seed = F.when(
                v < cutoff,
                F.pow(F.lit(r), v.cast("double"))
                * F.lit(1.0 - a)
                * F.col(f"_x0_{out_col}"),
            ).otherwise(F.lit(0.0))
            y = F.lit(a) * n_full + seed
        results[out_col] = F.when(F.col(f"_nv_{out_col}") > 0, y)
    out = out.withColumns(results)

    temp = [f"_winv_{s}" for s in ratios] + [f"_wpos_{s}" for s in ratios]
    for c in specs:
        temp += [f"_nv_{c}", f"_S_{c}", f"_E_{c}", f"_C_{c}"]
        if f"_x0_{c}" in stage1:
            temp.append(f"_x0_{c}")
    out = out.drop(*temp)
    return out if keep_block_columns else drop_block_columns(out)


def add_technical_ewm_features_native(
    df: DataFrame,
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] = ("datetime",),
    close_col: str = "close",
) -> DataFrame:
    """rsi / macd / macd_signal / macd_histogram without Python workers.

    Same outputs as :func:`add_technical_ewm_features` (the pandas
    path, kept as the exactness reference) to ~1e-12 relative. Two
    :func:`add_ewm_native` passes sharing one blocking: close EMAs +
    Wilder gain/loss smoothing, then the signal EMA over the derived
    macd line.
    """
    B = ewm_block_size((macd_fast, macd_slow, rsi_period, macd_signal))
    w = Window.partitionBy(symbol_col).orderBy(*[F.col(c) for c in order_cols])
    close = F.col(close_col)
    delta = close - F.lag(close, 1).over(w)
    out = df.withColumns(
        {
            "_gain": (delta > 0).cast("double") * delta,
            "_loss": (delta < 0).cast("double") * (-delta),
        }
    )
    out = add_ewm_native(
        out,
        {
            "_ema_fast": (close_col, macd_fast, True),
            "_ema_slow": (close_col, macd_slow, True),
            "_avg_gain": ("_gain", rsi_period, False),
            "_avg_loss": ("_loss", rsi_period, False),
        },
        symbol_col=symbol_col,
        order_cols=order_cols,
        block_size=B,
        keep_block_columns=True,
    )
    out = out.withColumn("macd", F.col("_ema_fast") - F.col("_ema_slow"))
    out = add_ewm_native(
        out,
        {"_sig": ("macd", macd_signal, True)},
        symbol_col=symbol_col,
        order_cols=order_cols,
        block_size=B,
    )
    rs = F.col("_avg_gain") / (F.col("_avg_loss") + F.lit(1e-10))
    return out.withColumns(
        {
            "rsi": 100.0 - (100.0 / (1.0 + rs)),
            "macd_signal": F.col("_sig"),
            "macd_histogram": F.col("macd") - F.col("_sig"),
        }
    ).drop("_gain", "_loss", "_ema_fast", "_ema_slow", "_avg_gain", "_avg_loss", "_sig")
