"""Randomized pandas-parity tests for the classic indicator wave
(operators/indicators.py: true range / ATR, stochastic, OBV,
Donchian).

The DuckDB oracles (catalog_corpus.py bars_atr/bars_stochastic/
bars_obv/bars_donchian) pin the SQL-expressible variants cell-exactly
on the synthetic corpora; these tests replay seeded-random frames —
ragged symbol lengths, duplicate timestamps — through independent
pandas definitions, and are the ONLY value check for Wilder-smoothed
ATR (an exponential recursion with no association-free SQL form; same
split as the EWM family, features/ewm.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.test_randomized_market import _random_bars


def _with_volume(pdf: pd.DataFrame, seed: int) -> pd.DataFrame:
    rng = np.random.RandomState(seed + 1000)
    return pdf.assign(volume=rng.randint(1, 500, size=len(pdf)).astype(float))


def _pandas_tr(grp: pd.DataFrame) -> pd.Series:
    pc = grp["close"].shift(1)
    hl = grp["high"] - grp["low"]
    tr = np.maximum(hl, np.maximum((grp["high"] - pc).abs(), (grp["low"] - pc).abs()))
    return tr.where(pc.notna(), hl)


@pytest.mark.parametrize("seed", [13, 31])
def test_atr_wilder_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.indicators import atr

    pdf = _random_bars(seed, n_symbols=4)
    n = 7
    got = (
        atr(spark.createDataFrame(pdf), window=n, method="wilder")
        .toPandas()
        .sort_values("bar_id")
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["symbol", "datetime", "bar_id"]).reset_index(drop=True)
    tr = pdf.groupby("symbol", group_keys=False).apply(
        _pandas_tr, include_groups=False
    )
    want = (
        pdf.assign(_tr=tr)
        .groupby("symbol", group_keys=False)["_tr"]
        .apply(lambda s: s.ewm(alpha=1.0 / n, adjust=False).mean())
    )
    order = pdf.sort_values("bar_id").index
    np.testing.assert_allclose(
        got["atr"].to_numpy(dtype=float),
        want[order].to_numpy(dtype=float),
        rtol=1e-9,
        err_msg=f"wilder atr seed={seed}",
    )


@pytest.mark.parametrize("seed", [17])
def test_atr_sma_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.indicators import atr

    pdf = _random_bars(seed, n_symbols=4)
    n = 6
    got = (
        atr(spark.createDataFrame(pdf), window=n, method="sma")
        .toPandas()
        .sort_values("bar_id")
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["symbol", "datetime", "bar_id"]).reset_index(drop=True)
    tr = pdf.groupby("symbol", group_keys=False).apply(
        _pandas_tr, include_groups=False
    )
    want = (
        pdf.assign(_tr=tr)
        .groupby("symbol", group_keys=False)["_tr"]
        .apply(lambda s: s.rolling(n, min_periods=n).mean())
    )
    order = pdf.sort_values("bar_id").index
    g = got["atr"].to_numpy(dtype=float)
    w = want[order].to_numpy(dtype=float)
    np.testing.assert_array_equal(np.isnan(g), np.isnan(w))
    ok = ~np.isnan(g)
    # decimal(28,14) quantizes each O(1) term at 1e-14 before the sum
    np.testing.assert_allclose(g[ok], w[ok], rtol=1e-10, atol=1e-12)


def test_atr_rejects_unknown_method(spark):
    from marketdatapipeline_spark.operators.indicators import atr

    pdf = _random_bars(3, n_symbols=1)
    with pytest.raises(ValueError, match="unknown ATR method"):
        atr(spark.createDataFrame(pdf), method="ema2")


@pytest.mark.parametrize("seed", [11, 43])
def test_stochastic_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.indicators import (
        stochastic_oscillator,
    )

    pdf = _random_bars(seed, n_symbols=4)
    k, d = 9, 3
    got = (
        stochastic_oscillator(spark.createDataFrame(pdf), k_window=k, d_window=d)
        .toPandas()
        .sort_values("bar_id")
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["symbol", "datetime", "bar_id"]).reset_index(drop=True)
    g = pdf.groupby("symbol", group_keys=False)
    hh = g["high"].apply(lambda s: s.rolling(k, min_periods=k).max())
    ll = g["low"].apply(lambda s: s.rolling(k, min_periods=k).min())
    pct_k = 100.0 * (pdf["close"] - ll) / (hh - ll)
    pct_k[~(hh > ll)] = np.nan
    pct_d = (
        pdf.assign(_k=pct_k)
        .groupby("symbol", group_keys=False)["_k"]
        .apply(lambda s: s.rolling(d, min_periods=d).mean())
    )
    order = pdf.sort_values("bar_id").index
    for col, want in (("pct_k", pct_k), ("pct_d", pct_d)):
        gv = got[col].to_numpy(dtype=float)
        wv = want[order].to_numpy(dtype=float)
        np.testing.assert_array_equal(
            np.isnan(gv), np.isnan(wv), err_msg=f"{col} nulls seed={seed}"
        )
        ok = ~np.isnan(gv)
        np.testing.assert_allclose(gv[ok], wv[ok], rtol=1e-9)


def test_stochastic_flat_frame_is_null(spark):
    """hh == ll (flat prices) must yield null %K, not a zero-division."""
    from marketdatapipeline_spark.operators.indicators import (
        stochastic_oscillator,
    )

    pdf = pd.DataFrame(
        {
            "symbol": ["A"] * 4,
            "datetime": pd.date_range("2024-01-01", periods=4, freq="min"),
            "bar_id": range(4),
            "high": [5.0] * 4,
            "low": [5.0] * 4,
            "close": [5.0] * 4,
        }
    )
    out = stochastic_oscillator(
        spark.createDataFrame(pdf), k_window=2, d_window=2
    ).toPandas()
    assert out["pct_k"].isna().all() and out["pct_d"].isna().all()


@pytest.mark.parametrize("seed", [7, 23])
def test_obv_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.indicators import on_balance_volume

    pdf = _with_volume(_random_bars(seed, n_symbols=4), seed)
    got = (
        on_balance_volume(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("bar_id")
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["symbol", "datetime", "bar_id"]).reset_index(drop=True)

    def obv(grp: pd.DataFrame) -> pd.Series:
        sgn = np.sign(grp["close"].diff().fillna(0.0))
        return (sgn * grp["volume"]).cumsum()

    want = pdf.groupby("symbol", group_keys=False).apply(
        obv, include_groups=False
    )
    order = pdf.sort_values("bar_id").index
    # integer-valued volumes: the cumsum is exact, equality is strict
    np.testing.assert_array_equal(
        got["obv"].to_numpy(dtype=float), want[order].to_numpy(dtype=float)
    )


@pytest.mark.parametrize("seed", [19])
def test_donchian_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.indicators import donchian_channels

    pdf = _random_bars(seed, n_symbols=4)
    n = 8
    got = (
        donchian_channels(spark.createDataFrame(pdf), window=n)
        .toPandas()
        .sort_values("bar_id")
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["symbol", "datetime", "bar_id"]).reset_index(drop=True)
    g = pdf.groupby("symbol", group_keys=False)
    up = g["high"].apply(lambda s: s.rolling(n, min_periods=n).max())
    lo = g["low"].apply(lambda s: s.rolling(n, min_periods=n).min())
    mid = (up + lo) / 2.0
    order = pdf.sort_values("bar_id").index
    for col, want in (("dc_upper", up), ("dc_lower", lo), ("dc_mid", mid)):
        gv = got[col].to_numpy(dtype=float)
        wv = want[order].to_numpy(dtype=float)
        np.testing.assert_array_equal(np.isnan(gv), np.isnan(wv))
        ok = ~np.isnan(gv)
        np.testing.assert_array_equal(gv[ok], wv[ok])


@pytest.mark.parametrize("seed", [9, 27])
def test_ichimoku_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.indicators import ichimoku

    pdf = _random_bars(seed, n_symbols=3)
    t, k, sb = 4, 7, 11
    got = (
        ichimoku(spark.createDataFrame(pdf), tenkan=t, kijun=k, senkou_b=sb)
        .toPandas()
        .sort_values("bar_id")
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["symbol", "datetime", "bar_id"]).reset_index(drop=True)
    g = pdf.groupby("symbol", group_keys=False)

    def mid(n):
        hh = g["high"].apply(lambda s: s.rolling(n, min_periods=n).max())
        ll = g["low"].apply(lambda s: s.rolling(n, min_periods=n).min())
        return (hh + ll) / 2.0

    tn, kj = mid(t), mid(k)
    frame = pdf.assign(_t=tn, _k=kj, _sa=(tn + kj) / 2.0, _sb=mid(sb))
    g2 = frame.groupby("symbol", group_keys=False)
    want = frame.assign(
        senkou_a=g2["_sa"].apply(lambda s: s.shift(k)),
        senkou_b=g2["_sb"].apply(lambda s: s.shift(k)),
        chikou=g2["close"].apply(lambda s: s.shift(-k)),
    )
    order = pdf.sort_values("bar_id").index
    for col, src in (
        ("tenkan_sen", "_t"), ("kijun_sen", "_k"),
        ("senkou_a", "senkou_a"), ("senkou_b", "senkou_b"),
        ("chikou", "chikou"),
    ):
        gv = got[col].to_numpy(dtype=float)
        wv = want[src][order].to_numpy(dtype=float)
        np.testing.assert_array_equal(
            np.isnan(gv), np.isnan(wv), err_msg=f"{col} nulls seed={seed}"
        )
        ok = ~np.isnan(gv)
        np.testing.assert_array_equal(gv[ok], wv[ok], err_msg=col)


@pytest.mark.parametrize("seed", [15])
def test_pivot_points_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.indicators import pivot_points

    pdf = _random_bars(seed, n_symbols=3)
    # spread bars over several days so the lag window is exercised
    pdf = pdf.assign(
        datetime=pdf["datetime"] + pd.to_timedelta(pdf["bar_id"] % 5, unit="D")
    )
    got = (
        pivot_points(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(["symbol", "day"])
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["symbol", "datetime", "bar_id"]).reset_index(drop=True)
    daily = (
        pdf.assign(day=pdf["datetime"].dt.floor("D"))
        .groupby(["symbol", "day"], as_index=False)
        .agg(h=("high", "max"), l=("low", "min"), c=("close", "last"))
        .sort_values(["symbol", "day"])
        .reset_index(drop=True)
    )
    gd = daily.groupby("symbol", group_keys=False)
    ph, pl, pc = gd["h"].shift(1), gd["l"].shift(1), gd["c"].shift(1)
    p = (ph + pl + pc) / 3.0
    want = daily.assign(
        pivot=p, r1=2.0 * p - pl, s1=2.0 * p - ph,
        r2=p + (ph - pl), s2=p - (ph - pl),
    )
    assert len(got) == len(want)
    for col in ("pivot", "r1", "s1", "r2", "s2"):
        gv = got[col].to_numpy(dtype=float)
        wv = want[col].to_numpy(dtype=float)
        np.testing.assert_array_equal(np.isnan(gv), np.isnan(wv))
        ok = ~np.isnan(gv)
        np.testing.assert_array_equal(gv[ok], wv[ok], err_msg=col)
