"""Randomized pandas-parity tests for the market-operator wave.

The DuckDB oracles pin these operators cell-exactly on the synthetic
corpora, but synthetic layouts can miss edge geometry (ragged symbol
lengths, duplicate timestamps, null values, all-equal buckets). These
tests replay seeded-random frames through an independent pandas
implementation of each definition — the same hardening wave r5 applied
to RollingPlan/as-of/rollup (commits a62cc53..ae2d4fd).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest


def _random_bars(seed: int, n_symbols: int = 4) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    rows = []
    base = dt.datetime(2024, 1, 1)
    bar_id = 0
    for s in range(n_symbols):
        n = int(rng.randint(5, 60))
        close = 100.0 + np.cumsum(rng.randn(n))
        # ragged, duplicate-prone timestamps: minute steps with repeats
        steps = rng.randint(0, 3, size=n).cumsum()
        for i in range(n):
            c = float(close[i])
            h = c + float(abs(rng.randn())) + 0.01
            low = c - float(abs(rng.randn())) - 0.01
            rows.append(
                {
                    "symbol": f"S{s}",
                    "datetime": base + dt.timedelta(minutes=int(steps[i])),
                    "bar_id": bar_id,
                    "open": c + float(rng.randn()) * 0.1,
                    "high": h,
                    "low": max(low, 0.01),
                    "close": c,
                }
            )
            bar_id += 1
    return pd.DataFrame(rows)


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_ohlc_volatility_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.ohlc_vol import (
        GK_COEF,
        LN2,
        ohlc_volatility,
    )

    pdf = _random_bars(seed)
    w = 7
    got = (
        ohlc_volatility(spark.createDataFrame(pdf), window=w)
        .toPandas()
        .sort_values("bar_id")
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["symbol", "datetime", "bar_id"]).reset_index(
        drop=True
    )
    ln = np.log
    pk = ln(pdf["high"] / pdf["low"]) ** 2
    gk = 0.5 * pk - GK_COEF * ln(pdf["close"] / pdf["open"]) ** 2
    rs = ln(pdf["high"] / pdf["close"]) * ln(pdf["high"] / pdf["open"]) + ln(
        pdf["low"] / pdf["close"]
    ) * ln(pdf["low"] / pdf["open"])
    g = pdf.assign(pk=pk, gk=gk, rs=rs).groupby("symbol")
    want = pdf.assign(
        vol_parkinson=np.sqrt(
            g["pk"].rolling(w, min_periods=w).mean().droplevel(0) / (4 * LN2)
        ),
        vol_garman_klass=np.sqrt(
            g["gk"].rolling(w, min_periods=w).mean().droplevel(0).clip(lower=0)
        ),
        vol_rogers_satchell=np.sqrt(
            g["rs"].rolling(w, min_periods=w).mean().droplevel(0).clip(lower=0)
        ),
    ).sort_values("bar_id")
    for col in ("vol_parkinson", "vol_garman_klass", "vol_rogers_satchell"):
        np.testing.assert_allclose(
            got.sort_values("bar_id")[col].to_numpy(dtype=float),
            want[col].to_numpy(dtype=float),
            rtol=1e-9,
            err_msg=f"{col} seed={seed}",
        )


@pytest.mark.parametrize("seed", [5, 19])
def test_cross_sectional_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.cross_section import (
        cross_sectional,
    )

    rng = np.random.RandomState(seed)
    pdf = _random_bars(seed)
    # inject nulls
    mask = rng.rand(len(pdf)) < 0.1
    pdf.loc[mask, "close"] = np.nan
    got = (
        cross_sectional(spark.createDataFrame(pdf), bucket="minute")
        .toPandas()
        .sort_values("bar_id")
        .reset_index(drop=True)
    )
    key = pdf["datetime"].dt.floor("min")
    g = pdf.groupby(key)["close"]
    want_mean = g.transform("mean")
    want_n = g.transform("count")
    want_std = g.transform(lambda x: x.std(ddof=1))
    want_rank = g.rank(method="min")  # pandas: NaNs get NaN rank
    z = (pdf["close"] - want_mean) / want_std
    z[(want_n <= 1) | ~(want_std > 0)] = np.nan
    order = pdf.sort_values("bar_id").index
    np.testing.assert_array_equal(
        got["cs_n"].to_numpy(), want_n[order].to_numpy(dtype=int)
    )
    np.testing.assert_allclose(
        got["cs_mean"].to_numpy(dtype=float),
        want_mean[order].to_numpy(dtype=float),
        rtol=1e-12,
    )
    # decimal(28,10) accumulation quantizes unquantized doubles at
    # 1e-10/term; through the variance cancellation that surfaces as
    # ~1e-7 relative on the zscore — the documented default-path
    # trade-off (the value_decimals path below is exact)
    np.testing.assert_allclose(
        got["cs_zscore"].to_numpy(dtype=float),
        z[order].to_numpy(dtype=float),
        rtol=1e-5,
    )
    got_rank = got["cs_rank"].to_numpy(dtype=float)
    np.testing.assert_array_equal(
        np.isnan(got_rank), want_rank[order].isna().to_numpy()
    )
    both = ~want_rank[order].isna().to_numpy()
    np.testing.assert_array_equal(
        got_rank[both], want_rank[order].to_numpy(dtype=float)[both]
    )

    # with 2-decimal-quantized values the scaled-integer path sums
    # exactly; the residual vs pandas is only the co-moment formula's
    # cancellation (sxx - sx^2/n at mean>>std) vs pandas's two-pass
    # std — ~1e-10 relative, orders tighter than the decimal path
    pdf2 = pdf.assign(close=pdf["close"].round(2))
    got2 = (
        cross_sectional(
            spark.createDataFrame(pdf2), bucket="minute", value_decimals=2
        )
        .toPandas()
        .sort_values("bar_id")
        .reset_index(drop=True)
    )
    g2 = pdf2.groupby(pdf2["datetime"].dt.floor("min"))["close"]
    m2 = g2.transform("mean")
    s2 = g2.transform(lambda x: x.std(ddof=1))
    n2 = g2.transform("count")
    z2 = (pdf2["close"] - m2) / s2
    z2[(n2 <= 1) | ~(s2 > 0)] = np.nan
    np.testing.assert_allclose(
        got2["cs_zscore"].to_numpy(dtype=float),
        z2[order].to_numpy(dtype=float),
        rtol=1e-8,
    )


@pytest.mark.parametrize("seed", [3, 29])
def test_drawdown_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.drawdown import running_drawdown

    pdf = _random_bars(seed)
    got = (
        running_drawdown(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("bar_id")
        .reset_index(drop=True)
    )
    pdf = pdf.sort_values(["symbol", "datetime", "bar_id"]).reset_index(
        drop=True
    )
    peak = pdf.groupby("symbol")["close"].cummax()
    want = pdf.assign(
        peak=peak, drawdown=pdf["close"] / peak - 1.0
    ).sort_values("bar_id")
    np.testing.assert_allclose(
        got["peak"].to_numpy(), want["peak"].to_numpy(), rtol=0
    )
    np.testing.assert_allclose(
        got["drawdown"].to_numpy(), want["drawdown"].to_numpy(), rtol=0
    )


@pytest.mark.parametrize("seed", [7, 41])
def test_rolling_beta_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.beta import rolling_beta

    pdf = _random_bars(seed, n_symbols=5)
    w = 9
    got = rolling_beta(spark.createDataFrame(pdf), window=w).toPandas()

    pdf = pdf.sort_values(["symbol", "datetime", "bar_id"]).reset_index(
        drop=True
    )
    pdf["_ret"] = pdf.groupby("symbol")["close"].pct_change()
    nn = pdf.dropna(subset=["_ret"]).copy()
    # post-filter indexing, mirroring bar_index_returns (r8): index k
    # means "the symbol's first k returns"
    nn["_idx"] = nn.groupby("symbol").cumcount() + 1
    mkt = nn.groupby("_idx")["_ret"].mean().rename("_m")
    j = nn.merge(mkt, on="_idx").sort_values(["symbol", "_idx"])

    def beta_series(grp: pd.DataFrame) -> pd.Series:
        r, m = grp["_ret"], grp["_m"]
        cov = r.rolling(w, min_periods=w).cov(m, ddof=1)
        var = m.rolling(w, min_periods=w).var(ddof=1)
        return cov / var

    j["beta"] = (
        j.groupby("symbol", group_keys=False).apply(
            beta_series, include_groups=False
        )
    )
    merged = got.merge(
        j[["symbol", "_idx", "beta"]],
        left_on=["symbol", "bar_index"],
        right_on=["symbol", "_idx"],
        suffixes=("_got", "_want"),
    )
    assert len(merged) == len(got) > 0
    gb = merged["beta_got"].to_numpy(dtype=float)
    wb = merged["beta_want"].to_numpy(dtype=float)
    np.testing.assert_array_equal(np.isnan(gb), np.isnan(wb))
    ok = ~np.isnan(gb)
    np.testing.assert_allclose(gb[ok], wb[ok], rtol=1e-8)


@pytest.mark.parametrize("seed", [5, 19, 41])
def test_variance_ratio_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.variance_ratio import (
        variance_ratio,
    )

    pdf = _random_bars(seed, n_symbols=5)
    k = 4
    got = {
        r["symbol"]: r
        for r in variance_ratio(
            spark.createDataFrame(pdf), k=k, min_obs=3
        ).collect()
    }
    for sym, grp in pdf.sort_values(
        ["symbol", "datetime", "bar_id"]
    ).groupby("symbol"):
        p = grp["close"].to_numpy()
        row = got[sym]
        r1 = np.log(p[1:] / p[:-1]) if len(p) > 1 else np.array([])
        rk = np.log(p[k:] / p[:-k]) if len(p) > k else np.array([])
        assert row["n_obs_1"] == len(r1) and row["n_obs_k"] == len(rk)
        if len(rk) >= 3 and len(r1) >= 2 and r1.var(ddof=1) > 0:
            want = rk.var(ddof=1) / (k * r1.var(ddof=1))
            assert row["vr"] == pytest.approx(want, rel=1e-9), sym
        else:
            assert row["vr"] is None, sym


@pytest.mark.parametrize("seed", [7, 29])
def test_pair_spread_zscore_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.pairs import pair_spread_zscore

    pdf = _random_bars(seed, n_symbols=3)
    w = 5
    got = (
        pair_spread_zscore(
            spark.createDataFrame(pdf), "S0", "S2", window=w
        )
        .toPandas()
        .sort_values("bar_index")
        .reset_index(drop=True)
    )
    sp = pdf.sort_values(["symbol", "datetime", "bar_id"])
    pa = sp[sp["symbol"] == "S0"]["close"].reset_index(drop=True)
    pb = sp[sp["symbol"] == "S2"]["close"].reset_index(drop=True)
    n = min(len(pa), len(pb))
    spread = pd.Series(
        np.log(pa[:n].to_numpy()) - np.log(pb[:n].to_numpy())
    )
    assert len(got) == n
    mean = spread.rolling(w, min_periods=w).mean()
    std = spread.rolling(w, min_periods=w).std(ddof=1)
    np.testing.assert_allclose(
        got["spread"].to_numpy(), spread.to_numpy(), rtol=1e-12
    )
    for col, want in (
        ("spread_mean", mean),
        ("spread_std", std),
        ("zscore", (spread - mean) / std),
    ):
        g = got[col].to_numpy(dtype=float)
        wv = want.to_numpy(dtype=float)
        np.testing.assert_array_equal(np.isnan(g), np.isnan(wv))
        ok = ~np.isnan(g)
        np.testing.assert_allclose(g[ok], wv[ok], rtol=1e-9)


@pytest.mark.parametrize("seed", [13, 31])
def test_roll_spread_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.liquidity import roll_spread

    pdf = _random_bars(seed, n_symbols=5)
    got = {
        r["symbol"]: r
        for r in roll_spread(
            spark.createDataFrame(pdf), min_obs=3
        ).collect()
    }
    for sym, grp in pdf.sort_values(
        ["symbol", "datetime", "bar_id"]
    ).groupby("symbol"):
        dp = grp["close"].diff().dropna().to_numpy()
        pairs = np.column_stack([dp[1:], dp[:-1]])
        row = got.get(sym)
        if len(pairs) == 0:
            assert row is None or row["n_obs"] == 0
            continue
        assert row["n_obs"] == len(pairs)
        cov = float(np.cov(pairs[:, 0], pairs[:, 1], ddof=1)[0, 1])
        assert row["serial_cov"] == pytest.approx(cov, rel=1e-9, abs=1e-15)
        if len(pairs) >= 3 and cov < 0:
            assert row["spread"] == pytest.approx(
                2.0 * np.sqrt(-cov), rel=1e-9
            )
        else:
            assert row["spread"] is None


def test_roll_spread_trending_series_is_null(spark):
    """A monotone trend has positive serial covariance -> null spread."""
    import datetime as dt

    from marketdatapipeline_spark.operators.liquidity import roll_spread

    base = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "symbol": ["T"] * 30,
            "datetime": [base + dt.timedelta(minutes=i) for i in range(30)],
            "bar_id": range(30),
            "close": [100.0 + i * i * 0.01 for i in range(30)],
        }
    )
    row = roll_spread(spark.createDataFrame(pdf)).collect()[0]
    assert row["serial_cov"] > 0 and row["spread"] is None


@pytest.mark.parametrize("seed", [17])
def test_seasonality_profile_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.seasonality import (
        seasonality_profile,
    )

    pdf = _random_bars(seed, n_symbols=4)
    # spread timestamps across hours so buckets are non-trivial
    pdf = pdf.assign(
        datetime=pdf["datetime"]
        + pd.to_timedelta((pdf["bar_id"] * 37) % 7, unit="h")
    )
    got = (
        seasonality_profile(spark.createDataFrame(pdf), bucket="hour")
        .toPandas()
        .sort_values(["symbol", "bucket"])
        .reset_index(drop=True)
    )
    sp = pdf.sort_values(["symbol", "datetime", "bar_id"])
    sp = sp.assign(
        ret=sp.groupby("symbol")["close"].pct_change(),
        bucket=sp["datetime"].dt.hour,
    ).dropna(subset=["ret"])
    want = (
        sp.groupby(["symbol", "bucket"], as_index=False)
        .agg(
            n_obs=("ret", "size"),
            mean_return=("ret", "mean"),
            std_return=("ret", lambda x: x.std(ddof=1)),
        )
        .sort_values(["symbol", "bucket"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    np.testing.assert_array_equal(got["n_obs"].to_numpy(), want["n_obs"].to_numpy())
    np.testing.assert_allclose(
        got["mean_return"].to_numpy(dtype=float),
        want["mean_return"].to_numpy(dtype=float),
        rtol=1e-9, atol=1e-15,
    )
    gs = got["std_return"].to_numpy(dtype=float)
    ws = want["std_return"].to_numpy(dtype=float)
    np.testing.assert_array_equal(np.isnan(gs), np.isnan(ws))
    ok = ~np.isnan(gs)
    np.testing.assert_allclose(gs[ok], ws[ok], rtol=1e-7)


def test_seasonality_profile_rejects_unknown_bucket(spark):
    from marketdatapipeline_spark.operators.seasonality import (
        seasonality_profile,
    )

    pdf = _random_bars(3, n_symbols=1)
    with pytest.raises(ValueError, match="unknown bucket kind"):
        seasonality_profile(spark.createDataFrame(pdf), bucket="fortnight")


def _vb_pandas(pdf: pd.DataFrame, bucket_size: float, mode: str) -> pd.DataFrame:
    """Independent pandas re-statement of the volume-clock definition."""
    out = []
    for sym, g in pdf.groupby("symbol"):
        g = g.sort_values(["datetime", "bar_id"]).reset_index(drop=True)
        clock = (
            g["volume"] if mode == "volume" else g["close"] * g["volume"]
        ).to_numpy(dtype=float)
        start_cum = np.cumsum(clock) - clock
        bucket = np.floor(start_cum / bucket_size).astype(np.int64)
        for b in np.unique(bucket):
            rows = g[bucket == b]
            pv = (rows["close"] * rows["volume"]).sum()
            out.append(
                {
                    "symbol": sym,
                    "bucket": int(b),
                    "n_bars": len(rows),
                    "open": rows["open"].iloc[0],
                    "high": rows["high"].max(),
                    "low": rows["low"].min(),
                    "close": rows["close"].iloc[-1],
                    "bar_volume": rows["volume"].sum(),
                    "vwap": pv / rows["volume"].sum(),
                }
            )
    return pd.DataFrame(out).sort_values(["symbol", "bucket"]).reset_index(drop=True)


@pytest.mark.parametrize("seed,mode", [(5, "volume"), (17, "dollar")])
def test_volume_bars_random_parity(spark, seed, mode):
    from marketdatapipeline_spark.operators.volume_bars import volume_bars

    rng = np.random.RandomState(seed)
    pdf = _random_bars(seed)
    pdf["volume"] = rng.randint(1, 500, size=len(pdf)).astype(float)
    bucket = 400.0 if mode == "volume" else 40_000.0
    got = (
        volume_bars(spark.createDataFrame(pdf), bucket_size=bucket, mode=mode)
        .toPandas()
        .sort_values(["symbol", "bucket"])
        .reset_index(drop=True)
    )
    want = _vb_pandas(pdf, bucket, mode)
    assert len(got) == len(want) > 0
    for col in ("bucket", "n_bars"):
        np.testing.assert_array_equal(got[col].to_numpy(), want[col].to_numpy())
    for col in ("open", "high", "low", "close", "bar_volume"):
        np.testing.assert_array_equal(
            got[col].to_numpy(dtype=float), want[col].to_numpy(dtype=float)
        )
    np.testing.assert_allclose(
        got["vwap"].to_numpy(dtype=float),
        want["vwap"].to_numpy(dtype=float),
        rtol=1e-12,
    )
    # every bucket but each symbol's last must have reached the clock
    last = got.groupby("symbol")["bucket"].transform("max")
    full = got[got["bucket"] < last]
    if mode == "volume" and len(full):
        # a bucket closes only once its START passed the boundary, so
        # total >= bucket_size - (max single-row volume) is not a
        # guarantee; the structural invariant is monotone contiguity
        for _, g in got.groupby("symbol"):
            b = g["bucket"].to_numpy()
            assert (np.diff(np.sort(b)) >= 1).all() or len(b) == 1


def test_volume_bars_rejects_unknown_mode(spark):
    from marketdatapipeline_spark.operators.volume_bars import volume_bars

    pdf = _random_bars(1, n_symbols=1)
    pdf["volume"] = 1.0
    with pytest.raises(ValueError, match="mode must be"):
        volume_bars(spark.createDataFrame(pdf), bucket_size=10.0, mode="tick")


@pytest.mark.parametrize("seed", [7, 29])
def test_williams_mfi_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.indicators import (
        money_flow_index,
        williams_r,
    )

    rng = np.random.RandomState(seed)
    pdf = _random_bars(seed)
    pdf["volume"] = rng.randint(1, 1000, size=len(pdf)).astype(float)
    n = 5
    got = (
        money_flow_index(williams_r(spark.createDataFrame(pdf), window=n), window=n)
        .toPandas()
        .sort_values(["symbol", "datetime", "bar_id"])
        .reset_index(drop=True)
    )
    outs = []
    for sym, g in pdf.groupby("symbol"):
        g = g.sort_values(["datetime", "bar_id"]).reset_index(drop=True)
        hh = g["high"].rolling(n, min_periods=n).max()
        ll = g["low"].rolling(n, min_periods=n).min()
        wr = np.where(hh > ll, -100.0 * (hh - g["close"]) / (hh - ll), np.nan)
        tp = (g["high"] + g["low"] + g["close"]) / 3.0
        dtp = tp.diff()
        mf = tp * g["volume"]
        pos = pd.Series(np.where(dtp > 0, mf, np.where(dtp <= 0, 0.0, np.nan)))
        neg = pd.Series(np.where(dtp < 0, mf, np.where(dtp >= 0, 0.0, np.nan)))
        ps = pos.rolling(n, min_periods=n).sum()
        ns = neg.rolling(n, min_periods=n).sum()
        mfi = np.where((ps + ns) > 0, 100.0 * ps / (ps + ns), np.nan)
        outs.append(pd.DataFrame({"symbol": sym, "wr": wr, "mfi": mfi}))
    want = pd.concat(outs).reset_index(drop=True)
    assert len(got) == len(want)
    for spark_col, ref_col, rtol in (
        ("williams_r", "wr", 1e-12),
        ("mfi", "mfi", 1e-9),
    ):
        a = got[spark_col].to_numpy(dtype=float)
        b = want[ref_col].to_numpy(dtype=float)
        np.testing.assert_array_equal(np.isnan(a), np.isnan(b), err_msg=spark_col)
        ok = ~np.isnan(a)
        np.testing.assert_allclose(a[ok], b[ok], rtol=rtol, err_msg=spark_col)


@pytest.mark.parametrize("seed", [13, 41])
def test_hurst_random_parity(spark, seed):
    """Numpy re-statement of the aggregated-variance definition, plus
    the structural check that white noise sits near H = 0.5."""
    from marketdatapipeline_spark.operators.hurst import hurst_exponent

    rng = np.random.RandomState(seed)
    import datetime as _dt

    rows = []
    base = _dt.datetime(2024, 1, 1)
    for s in range(3):
        n = 400
        close = 100.0 * np.exp(np.cumsum(rng.randn(n) * 0.01))
        for i in range(n):
            rows.append(("S%d" % s, base + _dt.timedelta(minutes=i), i, float(close[i])))
    pdf = pd.DataFrame(rows, columns=["symbol", "datetime", "bar_id", "close"])
    scales = (1, 2, 4, 8)
    got = {
        r["symbol"]: r
        for r in hurst_exponent(spark.createDataFrame(pdf), scales=scales).collect()
    }
    for sym, g in pdf.groupby("symbol"):
        r = np.diff(np.log(g["close"].to_numpy()))
        xs, ys = [], []
        for q in scales:
            nb = len(r) // q
            bs = r[: nb * q].reshape(nb, q).sum(axis=1)
            v = bs.var(ddof=1)
            np.testing.assert_allclose(
                got[sym][f"var_q{q}"], v, rtol=1e-9, err_msg=f"{sym} q={q}"
            )
            if nb >= 2 and v > 0:
                xs.append(np.log(q)); ys.append(np.log(v))
        slope = np.polyfit(xs, ys, 1)[0]
        np.testing.assert_allclose(got[sym]["hurst"], slope / 2.0, rtol=1e-9)
        assert 0.3 < got[sym]["hurst"] < 0.7  # white noise ~ 0.5


def test_hurst_rejects_bad_scales(spark):
    from marketdatapipeline_spark.operators.hurst import hurst_exponent

    pdf = _random_bars(1, n_symbols=1)
    with pytest.raises(ValueError, match="scales"):
        hurst_exponent(spark.createDataFrame(pdf), scales=(4,))


@pytest.mark.parametrize("seed", [19, 53])
def test_corwin_schultz_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.liquidity import (
        corwin_schultz_spread,
    )

    pdf = _random_bars(seed)
    got = {
        r["symbol"]: r
        for r in corwin_schultz_spread(spark.createDataFrame(pdf)).collect()
    }
    k = 3.0 - 2.0 * np.sqrt(2.0)
    for sym, g in pdf.groupby("symbol"):
        g = g.sort_values(["datetime", "bar_id"]).reset_index(drop=True)
        h, low = g["high"].to_numpy(), g["low"].to_numpy()
        h1, l1, h2, l2 = h[:-1], low[:-1], h[1:], low[1:]
        ok = (l1 > 0) & (l2 > 0)
        beta = np.log(h1 / l1) ** 2 + np.log(h2 / l2) ** 2
        gamma = np.log(np.maximum(h1, h2) / np.minimum(l1, l2)) ** 2
        alpha = (np.sqrt(2 * beta) - np.sqrt(beta)) / k - np.sqrt(gamma / k)
        s = 2 * (np.exp(alpha) - 1) / (1 + np.exp(alpha))
        s = s[ok]
        assert got[sym]["n_pairs"] == len(s)
        np.testing.assert_allclose(
            got[sym]["mean_spread"], np.maximum(s, 0.0).mean(), rtol=1e-9
        )
        np.testing.assert_allclose(
            got[sym]["mean_spread_raw"], s.mean(), rtol=1e-9
        )
        # estimator sanity: clamped mean is a spread fraction in [0, 1)
        assert 0.0 <= got[sym]["mean_spread"] < 1.0


@pytest.mark.parametrize("seed", [31])
def test_cci_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.indicators import (
        commodity_channel_index,
    )

    pdf = _random_bars(seed)
    n = 7
    got = (
        commodity_channel_index(spark.createDataFrame(pdf), window=n)
        .toPandas()
        .sort_values(["symbol", "datetime", "bar_id"])
        .reset_index(drop=True)
    )
    outs = []
    for sym, g in pdf.groupby("symbol"):
        g = g.sort_values(["datetime", "bar_id"]).reset_index(drop=True)
        tp = ((g["high"] + g["low"] + g["close"]) / 3.0).to_numpy()
        cci = np.full(len(tp), np.nan)
        for i in range(n - 1, len(tp)):
            fr = tp[i - n + 1 : i + 1]
            mean = fr.sum() / n
            mad = np.abs(fr - mean).sum() / n
            if mad > 0:
                cci[i] = (tp[i] - mean) / (0.015 * mad)
        outs.append(pd.DataFrame({"symbol": sym, "cci": cci}))
    want = pd.concat(outs).reset_index(drop=True)
    a = got["cci"].to_numpy(dtype=float)
    b = want["cci"].to_numpy(dtype=float)
    np.testing.assert_array_equal(np.isnan(a), np.isnan(b))
    ok = ~np.isnan(a)
    np.testing.assert_allclose(a[ok], b[ok], rtol=1e-9)


@pytest.mark.parametrize("seed", [43])
def test_vector_backtest_random_parity(spark, seed):
    """Numpy event-loop restatement of the vectorized definitions —
    same equity, Sharpe, drawdown, turnover."""
    from marketdatapipeline_spark.operators.backtest import (
        signal_returns,
        vector_backtest,
    )

    rng = np.random.RandomState(seed)
    pdf = _random_bars(seed)
    pdf["sig"] = rng.randint(0, 2, size=len(pdf)).astype(float)
    cost = 0.002
    per = (
        signal_returns(spark.createDataFrame(pdf), "sig", cost=cost)
        .toPandas()
        .sort_values(["symbol", "datetime", "bar_id"])
        .reset_index(drop=True)
    )
    summ = {
        r["symbol"]: r
        for r in vector_backtest(
            spark.createDataFrame(pdf), "sig", cost=cost, periods_per_year=252
        ).collect()
    }
    for sym, g in pdf.groupby("symbol"):
        g = g.sort_values(["datetime", "bar_id"]).reset_index(drop=True)
        c = g["close"].to_numpy()
        sig = g["sig"].to_numpy()
        ret = np.concatenate([[0.0], np.diff(c) / c[:-1]])
        pos = np.concatenate([[0.0], sig[:-1]])
        trade = np.abs(sig - pos)
        strat = pos * ret - cost * trade
        L = np.cumsum(np.log1p(strat))
        eq = np.exp(L)
        peak = np.maximum.accumulate(L)
        dd = np.exp(L - peak) - 1.0

        gp = per[per["symbol"] == sym]
        np.testing.assert_allclose(gp["strat_ret"].to_numpy(), strat, rtol=1e-9, atol=1e-15)
        np.testing.assert_allclose(gp["equity"].to_numpy(), eq, rtol=1e-9)
        np.testing.assert_allclose(gp["drawdown"].to_numpy(), dd, rtol=1e-9, atol=1e-12)

        s = summ[sym]
        assert s["n_bars"] == len(c)
        np.testing.assert_allclose(s["n_trades"], trade.sum(), rtol=1e-12)
        np.testing.assert_allclose(s["total_return"], eq[-1] - 1.0, rtol=1e-9)
        np.testing.assert_allclose(s["max_drawdown"], dd.min(), rtol=1e-9, atol=1e-12)
        exp_sharpe = strat.mean() / strat.std(ddof=1) * np.sqrt(252.0)
        np.testing.assert_allclose(s["sharpe"], exp_sharpe, rtol=1e-9)


@pytest.mark.parametrize("seed", [47])
def test_vpin_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.liquidity import vpin

    rng = np.random.RandomState(seed)
    pdf = _random_bars(seed)
    pdf["volume"] = rng.randint(1, 200, size=len(pdf)).astype(float)
    bucket, win = 300.0, 3
    got = (
        vpin(spark.createDataFrame(pdf), bucket_volume=bucket, window=win)
        .toPandas()
        .sort_values(["symbol", "bucket"])
        .reset_index(drop=True)
    )
    outs = []
    for sym, g in pdf.groupby("symbol"):
        g = g.sort_values(["datetime", "bar_id"]).reset_index(drop=True)
        c, v = g["close"].to_numpy(), g["volume"].to_numpy()
        raw = np.sign(np.concatenate([[0.0], np.diff(c)]))
        sgn = np.full(len(c), np.nan)
        last = np.nan
        for i, r in enumerate(raw):
            if r != 0:
                last = r
            sgn[i] = last
        start = np.cumsum(v) - v
        bk = np.floor(start / bucket).astype(np.int64)
        rows = []
        for b in np.unique(bk):
            m = bk == b
            buy = v[m & (sgn == 1)].sum()
            sell = v[m & (sgn == -1)].sum()
            tv = v[m].sum()
            rows.append((b, m.sum(), buy, sell,
                         abs(buy - sell) / tv if tv > 0 else np.nan))
        dfb = pd.DataFrame(rows, columns=["bucket", "n", "buy", "sell", "imb"])
        dfb["vpin"] = dfb["imb"].rolling(win, min_periods=win).mean()
        dfb["symbol"] = sym
        outs.append(dfb)
    want = pd.concat(outs).sort_values(["symbol", "bucket"]).reset_index(drop=True)
    assert len(got) == len(want) > 0
    np.testing.assert_array_equal(got["bucket"].to_numpy(), want["bucket"].to_numpy())
    np.testing.assert_array_equal(got["n_bars"].to_numpy(), want["n"].to_numpy())
    np.testing.assert_array_equal(got["buy_volume"].to_numpy(), want["buy"].to_numpy())
    np.testing.assert_array_equal(got["sell_volume"].to_numpy(), want["sell"].to_numpy())
    for spark_col, ref_col in (("imbalance", "imb"), ("vpin", "vpin")):
        a = got[spark_col].to_numpy(dtype=float)
        b = want[ref_col].to_numpy(dtype=float)
        np.testing.assert_array_equal(np.isnan(a), np.isnan(b), err_msg=spark_col)
        ok = ~np.isnan(a)
        np.testing.assert_allclose(a[ok], b[ok], rtol=1e-9, err_msg=spark_col)


@pytest.mark.parametrize("seed", [59])
def test_event_study_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.event_study import event_study

    rng = np.random.RandomState(seed)
    pdf = _random_bars(seed)
    pdf["ev"] = rng.rand(len(pdf)) < 0.2
    k = 3
    got = {
        r["offset"]: r
        for r in event_study(
            spark.createDataFrame(pdf), "ev", k=k, pooled=True
        ).collect()
    }
    buckets = {o: [] for o in range(-k, k + 1)}
    for sym, g in pdf.groupby("symbol"):
        g = g.sort_values(["datetime", "bar_id"]).reset_index(drop=True)
        c = g["close"].to_numpy()
        ret = np.concatenate([[np.nan], np.diff(c) / c[:-1]])
        ev = g["ev"].to_numpy()
        for i in range(len(c)):
            if np.isnan(ret[i]):
                continue
            for o in range(-k, k + 1):
                j = i - o
                if 0 <= j < len(c) and ev[j]:
                    buckets[o].append(ret[i])
    for o in range(-k, k + 1):
        vals = np.array(buckets[o])
        if len(vals) == 0:
            assert o not in got
            continue
        assert got[o]["n_obs"] == len(vals)
        np.testing.assert_allclose(got[o]["mean_return"], vals.mean(), rtol=1e-9)
        if len(vals) >= 2:
            np.testing.assert_allclose(
                got[o]["std_return"], vals.std(ddof=1), rtol=1e-7
            )


def test_event_study_rejects_bad_k(spark):
    from marketdatapipeline_spark.operators.event_study import event_study

    pdf = _random_bars(2, n_symbols=1)
    pdf["ev"] = True
    with pytest.raises(ValueError, match="k must"):
        event_study(spark.createDataFrame(pdf), "ev", k=0)


@pytest.mark.parametrize("seed", [61])
def test_heikin_ashi_random_parity(spark, seed):
    """The EWMA-scan restatement == the literal pandas recursion."""
    from marketdatapipeline_spark.operators.heikin_ashi import heikin_ashi

    pdf = _random_bars(seed)
    got = (
        heikin_ashi(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values(["symbol", "datetime", "bar_id"])
        .reset_index(drop=True)
    )
    outs = []
    for sym, g in pdf.groupby("symbol"):
        g = g.sort_values(["datetime", "bar_id"]).reset_index(drop=True)
        o, h, low, c = (g[k].to_numpy() for k in ("open", "high", "low", "close"))
        hac = (o + h + low + c) / 4.0
        hao = np.empty(len(o))
        hao[0] = (o[0] + c[0]) / 2.0
        for i in range(1, len(o)):
            hao[i] = (hao[i - 1] + hac[i - 1]) / 2.0
        outs.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    "hao": hao,
                    "hac": hac,
                    "hah": np.maximum.reduce([h, hao, hac]),
                    "hal": np.minimum.reduce([low, hao, hac]),
                }
            )
        )
    want = pd.concat(outs).reset_index(drop=True)
    for sc, rc in (("ha_open", "hao"), ("ha_close", "hac"),
                   ("ha_high", "hah"), ("ha_low", "hal")):
        np.testing.assert_allclose(
            got[sc].to_numpy(dtype=float),
            want[rc].to_numpy(dtype=float),
            rtol=1e-11, err_msg=sc,
        )
    # structural invariants
    assert (got["ha_low"] <= got["ha_open"]).all()
    assert (got["ha_open"] <= got["ha_high"]).all()


@pytest.mark.parametrize("seed", [67])
def test_rolling_pair_correlation_random_parity(spark, seed):
    from marketdatapipeline_spark.operators.pairs import (
        rolling_pair_correlation,
    )

    pdf = _random_bars(seed, n_symbols=2)
    n = 7
    got = (
        rolling_pair_correlation(spark.createDataFrame(pdf), "S0", "S1", window=n)
        .toPandas()
        .sort_values("bar_index")
        .reset_index(drop=True)
    )
    a = pdf[pdf.symbol == "S0"].sort_values(["datetime", "bar_id"])["close"].to_numpy()
    b = pdf[pdf.symbol == "S1"].sort_values(["datetime", "bar_id"])["close"].to_numpy()
    m = min(len(a), len(b))
    ra = np.diff(a[:m]) / a[: m - 1]
    rb = np.diff(b[:m]) / b[: m - 1]
    want = pd.Series(ra).rolling(n).corr(pd.Series(rb)).to_numpy()
    assert len(got) == m - 1
    g = got["corr"].to_numpy(dtype=float)
    np.testing.assert_array_equal(np.isnan(g), np.isnan(want))
    ok = ~np.isnan(g)
    np.testing.assert_allclose(g[ok], want[ok], rtol=1e-7)


@pytest.mark.parametrize("seed", [43])
def test_pair_operators_forced_distributed_route_parity(spark, seed):
    """r11 size-routing: forcing the distributed prefix-difference
    path (threshold=0 → ranking's range-partitioned cumsums + the
    rank-window equi-join) must reproduce the single-task window
    plan BIT-FOR-BIT — the decimal narrowing before the window-edge
    subtraction keeps both routes exact."""
    from marketdatapipeline_spark.operators.pairs import (
        pair_spread_zscore,
        rolling_pair_correlation,
    )

    pdf = _random_bars(seed, n_symbols=3)
    df = spark.createDataFrame(pdf)

    for fn, kw in (
        (pair_spread_zscore, {"window": 5}),
        (rolling_pair_correlation, {"window": 7}),
    ):
        base = {
            r["bar_index"]: tuple(r)
            for r in fn(df, "S0", "S1", **kw).collect()
        }
        dist = {
            r["bar_index"]: tuple(r)
            for r in fn(
                df, "S0", "S1", single_task_threshold=0, **kw
            ).collect()
        }
        assert dist == base, fn.__name__
