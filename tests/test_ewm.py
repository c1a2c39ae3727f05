"""EWMA exactness: the pandas reference (oracle-exact) and the all-JVM
scan ``add_ewm_native`` with the operators built on it.

Reference semantics (src/features/engineering.py:36-57): RSI uses
``ewm(span=14, adjust=False)``; MACD EMAs use ``adjust=True`` (default).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from marketdatapipeline_spark.features.ewm import add_technical_ewm_features

EPS = 1e-10


def _exp(pdf: pd.DataFrame) -> pd.DataFrame:
    outs = []
    for _, g in pdf.sort_values(["symbol", "datetime"]).groupby("symbol", sort=True):
        g = g.copy()
        close = g["close"]
        delta = close.diff()
        gain = (delta > 0).astype("float64") * delta
        loss = (delta < 0).astype("float64") * (-delta)
        rs = gain.ewm(span=14, adjust=False).mean() / (
            loss.ewm(span=14, adjust=False).mean() + EPS
        )
        g["rsi"] = 100.0 - 100.0 / (1.0 + rs)
        macd = close.ewm(span=12).mean() - close.ewm(span=26).mean()
        g["macd"] = macd
        g["macd_signal"] = macd.ewm(span=9).mean()
        g["macd_histogram"] = macd - g["macd_signal"]
        outs.append(g)
    return pd.concat(outs, ignore_index=True)


def test_technical_ewm_matches_pandas(spark, bars_df, bars_pdf):
    got = (
        add_technical_ewm_features(bars_df)
        .orderBy("symbol", "datetime")
        .toPandas()
    )
    exp = _exp(bars_pdf)
    for c in ("rsi", "macd", "macd_signal", "macd_histogram"):
        assert np.allclose(got[c].to_numpy("float64"), exp[c], equal_nan=True), c
    # first row per symbol: delta is NULL -> rsi NULL (Polars propagation)
    firsts = got.groupby("symbol").head(1)
    assert firsts["rsi"].isna().all()
    # macd is defined from the first row (EMA seeds on x0)
    assert firsts["macd"].notna().all()


def test_native_ewm_matches_pandas_path(spark, bars_df, bars_pdf):
    """All-JVM blocked scan == pandas ewm to ~1e-12 relative."""
    from marketdatapipeline_spark.features.ewm import (
        add_technical_ewm_features_native,
    )

    got = (
        add_technical_ewm_features_native(bars_df)
        .orderBy("symbol", "datetime")
        .toPandas()
    )
    exp = _exp(bars_pdf)
    for c in ("rsi", "macd", "macd_signal", "macd_histogram"):
        assert np.allclose(
            got[c].to_numpy("float64"), exp[c], rtol=1e-9, atol=1e-9, equal_nan=True
        ), c
    firsts = got.groupby("symbol").head(1)
    assert firsts["rsi"].isna().all()
    assert firsts["macd"].notna().all()


def test_native_ewm_multiblock(spark):
    """Series longer than one block: the carry path must be exact.

    Uses span 5 -> block_rows = 600/ln(3/2) ~ 1479... shrunk further by
    the B floor; build 4000 rows so several blocks occur."""
    import pandas as pd

    from marketdatapipeline_spark.features.ewm import add_ewm_native

    n = 4000
    pdf = pd.DataFrame(
        {
            "symbol": ["X"] * n,
            "datetime": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "close": 100.0 + np.sin(np.arange(n) * 0.37) * 5 + np.arange(n) * 0.01,
        }
    )
    df = spark.createDataFrame(pdf)
    out = add_ewm_native(
        df,
        {
            "e_t": ("close", 5, True),
            "e_f": ("close", 5, False),
            "e_1": ("close", 1, False),  # Wilder ATR with window=1
        },
        order_cols=("datetime",),
    )
    got = out.orderBy("datetime").toPandas()
    exp_t = pdf["close"].ewm(span=5).mean().to_numpy()
    exp_f = pdf["close"].ewm(span=5, adjust=False).mean().to_numpy()
    exp_1 = pdf["close"].ewm(span=1, adjust=False).mean().to_numpy()
    assert np.allclose(got["e_t"].to_numpy("float64"), exp_t, rtol=1e-9, atol=1e-9)
    assert np.allclose(got["e_f"].to_numpy("float64"), exp_f, rtol=1e-9, atol=1e-9)
    assert np.allclose(got["e_1"].to_numpy("float64"), exp_1, rtol=1e-9, atol=1e-9)


def test_native_ewm_long_span(spark):
    """Long spans need B >= 45/-ln(r): the old 2048 cap gave 1.7e-6
    rel. error at span=300 and 3.8e-2 at span=1000 (dropped r^B term)."""
    import pandas as pd

    from marketdatapipeline_spark.features.ewm import add_ewm_native, ewm_block_size

    n = 30000
    pdf = pd.DataFrame(
        {
            "symbol": ["X"] * n,
            "datetime": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "close": 100.0 + np.sin(np.arange(n) * 0.37) * 5 + np.arange(n) * 0.01,
        }
    )
    df = spark.createDataFrame(pdf)
    out = add_ewm_native(
        df,
        {"e_t": ("close", 300, True), "e_f": ("close", 1000, False)},
        order_cols=("datetime",),
    )
    got = out.orderBy("datetime").toPandas()
    exp_t = pdf["close"].ewm(span=300).mean().to_numpy()
    exp_f = pdf["close"].ewm(span=1000, adjust=False).mean().to_numpy()
    assert np.allclose(got["e_t"].to_numpy("float64"), exp_t, rtol=1e-12, atol=1e-12)
    assert np.allclose(got["e_f"].to_numpy("float64"), exp_f, rtol=1e-12, atol=1e-12)
    # incompatible span mix (ratio > ~13) must raise, not silently err
    with pytest.raises(ValueError, match="block size"):
        ewm_block_size([5, 1000])


def test_native_ewm_random_data_with_varied_partition_sizes(spark):
    """Randomized parity for the blocked native scan: symbols with
    1-row, exactly-block-sized, and long histories, constant
    stretches (RSI 0/0 guard), and duplicate close values — all
    against the pandas reference."""
    from marketdatapipeline_spark.features.ewm import (
        add_technical_ewm_features_native,
    )

    rng = np.random.default_rng(20260814)
    base = pd.Timestamp("2024-01-01")
    frames = []
    for sym, n in (("one", 1), ("tiny", 3), ("mid", 257), ("long", 1500)):
        close = rng.normal(100, 10, n)
        if n >= 50:
            close[20:40] = 77.0  # constant stretch: gains = losses = 0
        frames.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    "datetime": [
                        base + pd.Timedelta(minutes=int(i)) for i in range(n)
                    ],
                    "close": close,
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    got = (
        add_technical_ewm_features_native(spark.createDataFrame(pdf))
        .orderBy("symbol", "datetime")
        .toPandas()
    )
    exp = _exp(pdf)
    for c in ("rsi", "macd", "macd_signal", "macd_histogram"):
        assert np.allclose(
            got[c].to_numpy("float64"),
            exp[c].to_numpy("float64"),
            rtol=1e-9,
            atol=1e-9,
            equal_nan=True,
        ), c


def test_heikin_ashi_and_wilder_atr_cross_blocks(spark):
    """Heikin-Ashi (span 3) and Wilder ATR (n=14, span 27) on the native
    scan == their literal pandas recursions, on series long enough
    that the carry crosses block boundaries at both spans."""
    from marketdatapipeline_spark.features.ewm import ewm_block_size
    from marketdatapipeline_spark.operators.heikin_ashi import heikin_ashi
    from marketdatapipeline_spark.operators.indicators import atr

    n_atr = 14
    rng = np.random.default_rng(8)
    base = pd.Timestamp("2024-01-01")
    frames, bar0 = [], 0
    for sym, n in (("A", 1300), ("B", 1700)):
        close = 100.0 + np.cumsum(rng.normal(0, 1, n))
        frames.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    # duplicate-prone timestamps: bar_id breaks the ties
                    "datetime": base
                    + pd.to_timedelta(rng.integers(0, 2, n).cumsum(), "min"),
                    "bar_id": np.arange(bar0, bar0 + n),
                    "open": close + rng.normal(0, 0.1, n),
                    "high": close + np.abs(rng.normal(0, 1, n)) + 0.01,
                    "low": close - np.abs(rng.normal(0, 1, n)) - 0.01,
                    "close": close,
                }
            )
        )
        bar0 += n
    pdf = pd.concat(frames, ignore_index=True)
    shortest = pdf.groupby("symbol").size().min()
    for span in (3, 2 * n_atr - 1):
        assert shortest > 2 * ewm_block_size([span]), span

    df = spark.createDataFrame(pdf)
    got = (
        atr(heikin_ashi(df), window=n_atr)
        .toPandas()
        .sort_values("bar_id")
        .reset_index(drop=True)
    )
    hao, want_atr = [], []
    for _, g in pdf.groupby("symbol"):  # symbol order == bar_id order
        o, h, low, c = (g[k].to_numpy() for k in ("open", "high", "low", "close"))
        hac = (o + h + low + c) / 4.0
        pc = np.concatenate([[np.nan], c[:-1]])
        tr = np.where(
            np.isnan(pc),
            h - low,
            np.maximum.reduce([h - low, np.abs(h - pc), np.abs(low - pc)]),
        )
        ho, a = np.empty(len(g)), np.empty(len(g))
        ho[0], a[0] = (o[0] + c[0]) / 2.0, tr[0]
        for k in range(1, len(g)):
            ho[k] = (ho[k - 1] + hac[k - 1]) / 2.0
            a[k] = a[k - 1] + (tr[k] - a[k - 1]) / n_atr
        hao.append(ho)
        want_atr.append(a)
    np.testing.assert_allclose(
        got["ha_open"].to_numpy(float), np.concatenate(hao), rtol=1e-11
    )
    np.testing.assert_allclose(
        got["atr"].to_numpy(float), np.concatenate(want_atr), rtol=1e-9
    )
