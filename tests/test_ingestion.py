"""Batch ingestion S1-S4: pluggable fetch, retry/backoff, cache."""

from __future__ import annotations

import pandas as pd
import pytest

from marketdatapipeline_spark.ingestion import (
    fetch_intraday_data,
    fetch_multiple_symbols,
    handle_rate_limit,
)


def _raw_alpha_vantage_pdf(n=30, base=100.0):
    """Shape of an Alpha Vantage intraday response after reset_index:
    vendor-prefixed column names, string-ish timestamps."""
    idx = pd.date_range("2024-01-02 09:30", periods=n, freq="1min")
    return pd.DataFrame(
        {
            "date": idx,
            "1. open": [base + i * 0.1 for i in range(n)],
            "2. high": [base + i * 0.1 + 0.5 for i in range(n)],
            "3. low": [base + i * 0.1 - 0.5 for i in range(n)],
            "4. close": [base + i * 0.1 + 0.2 for i in range(n)],
            "5. volume": [1000 + i for i in range(n)],
        }
    )


def test_fetch_conforms_and_sorts(spark, tmp_path):
    calls = []

    def fake_fetch(symbol, interval, outputsize):
        calls.append(symbol)
        # deliver rows shuffled to prove the sort
        return _raw_alpha_vantage_pdf().sample(frac=1.0, random_state=7)

    df = fetch_intraday_data(
        spark, "AAPL", fetcher=fake_fetch, data_dir=str(tmp_path), save=True
    )
    assert calls == ["AAPL"]
    assert set(df.columns) == {"symbol", "datetime", "open", "high", "low", "close", "volume"}
    pdf = df.toPandas()
    assert pdf["datetime"].is_monotonic_increasing
    assert pdf["symbol"].eq("AAPL").all()
    assert pdf["volume"].dtype == "float64"  # reference carries volume as float


def test_fetch_uses_cache_second_time(spark, tmp_path):
    calls = []

    def fake_fetch(symbol, interval, outputsize):
        calls.append(symbol)
        return _raw_alpha_vantage_pdf()

    a = fetch_intraday_data(spark, "MSFT", fetcher=fake_fetch, data_dir=str(tmp_path))
    b = fetch_intraday_data(spark, "MSFT", fetcher=fake_fetch, data_dir=str(tmp_path))
    assert calls == ["MSFT"]  # second call served from parquet cache
    assert a.count() == b.count()


def test_rate_limit_retry_then_success(spark, tmp_path):
    sleeps = []
    attempts = []

    def flaky_fetch(symbol, interval, outputsize):
        attempts.append(1)
        if len(attempts) < 3:
            raise RuntimeError("API call frequency is 5 calls per minute (rate limit)")
        return _raw_alpha_vantage_pdf()

    df = fetch_intraday_data(
        spark,
        "NVDA",
        fetcher=flaky_fetch,
        data_dir=str(tmp_path),
        save=False,
        use_cache=False,
        _sleep=sleeps.append,
    )
    assert len(attempts) == 3
    assert sleeps == [12.0, 24.0]  # base·2^retry backoff
    assert df.count() == 30


def test_non_rate_limit_error_raises(spark, tmp_path):
    def broken_fetch(symbol, interval, outputsize):
        raise RuntimeError("invalid API key")

    with pytest.raises(RuntimeError, match="invalid API key"):
        fetch_intraday_data(
            spark, "XXXX", fetcher=broken_fetch, data_dir=str(tmp_path), use_cache=False
        )


def test_handle_rate_limit_contract():
    assert not handle_rate_limit(RuntimeError("bad key"), 0, sleep=lambda s: None)
    assert handle_rate_limit(RuntimeError("rate limit"), 2, sleep=lambda s: None)
    assert not handle_rate_limit(RuntimeError("rate limit"), 3, sleep=lambda s: None)


def test_fetch_multiple_skips_failures(spark, tmp_path):
    def fetch(symbol, interval, outputsize):
        if symbol == "BAD":
            raise RuntimeError("no data")
        return _raw_alpha_vantage_pdf(base=100.0 if symbol == "AAA" else 200.0)

    df = fetch_multiple_symbols(
        spark,
        ["AAA", "BAD", "BBB"],
        fetcher=fetch,
        data_dir=str(tmp_path),
        save=False,
        use_cache=False,
        pause_seconds=0,
    )
    pdf = df.toPandas()
    assert sorted(pdf["symbol"].unique()) == ["AAA", "BBB"]
    assert len(pdf) == 60


def test_rate_limit_error_raised_when_retries_exhaust(spark):
    """Persistent throttling surfaces as the typed RateLimitError
    (reference ingestion.py:26-28), not a bare exception."""
    import pytest

    from marketdatapipeline_spark.ingestion import (
        RateLimitError,
        fetch_intraday_data,
    )

    def always_throttled(symbol, interval, outputsize):
        raise RuntimeError("API rate limit exceeded, slow down")

    with pytest.raises(RateLimitError, match="after 3 retries"):
        fetch_intraday_data(
            spark,
            "THR",
            fetcher=always_throttled,
            use_cache=False,
            save=False,
            _sleep=lambda s: None,
        )


def test_saved_fetch_runs_only_the_write_jobs(spark, tmp_path):
    """``save=True`` adds the parquet write's jobs and nothing else; the
    ingest plan does not run a second time."""
    from marketdatapipeline_spark.data.storage import save_dataframe

    sc = spark.sparkContext
    pdf = _raw_alpha_vantage_pdf()

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            result = action()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), result

    def fetch(save, data_dir):
        return fetch_intraday_data(
            spark, "AAPL", fetcher=lambda *_: pdf, data_dir=str(data_dir),
            save=save, use_cache=False,
        )

    saved, _ = jobs("ingest-save", lambda: fetch(True, tmp_path / "saved"))
    unsaved, df = jobs("ingest-nosave", lambda: fetch(False, tmp_path / "unsaved"))
    written, _ = jobs("ingest-write", lambda: save_dataframe(df, str(tmp_path / "written")))
    assert written >= 1
    assert saved == unsaved + written


def test_saved_fetch_plan_has_no_shuffle(spark, tmp_path):
    """The bars a saved fetch returns are sorted inside one partition,
    so their executed plan holds no shuffle exchange (read from the
    structured plan): a global sort would add a range exchange and a
    sampling job to every action on them."""
    from marketdatapipeline_spark.plan_checks import plan_nodes

    pdf = _raw_alpha_vantage_pdf().sample(frac=1.0, random_state=3)
    df = fetch_intraday_data(
        spark, "AAPL", fetcher=lambda *_: pdf, data_dir=str(tmp_path),
        save=True, use_cache=False,
    )
    got = [r.datetime for r in df.collect()]
    assert got == sorted(got) and len(got) == len(pdf)
    names = [n.getClass().getSimpleName() for n in plan_nodes(df)]
    assert "ShuffleExchangeExec" not in names, names
