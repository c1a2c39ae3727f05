"""Batch market-data ingestion (reference src/data/ingestion.py).

API-parity layer for the reference's Alpha Vantage pull path (S1-S4 in
SURVEY.md §2.1), Spark-first:

* the HTTP fetch is **driver-side and pluggable** — pass any
  ``fetcher(symbol, interval, outputsize) -> pandas.DataFrame``; the
  default adapter wraps ``alpha_vantage.TimeSeries`` behind an
  import-try (the lib and network are absent in CI, and the driver's
  parquet fixtures stand in);
* everything after the fetch is DataFrame-native: fuzzy OHLCV rename
  (reference ingestion.py:152-165), datetime normalization
  (ingestion.py:63-104), double casts, per-symbol sort, parquet cache
  (ingestion.py:191-194 / storage.py:114-152);
* ``fetch_multiple_symbols`` returns ONE DataFrame with a ``symbol``
  column — the reference's ``Dict[str, pl.DataFrame]`` (ingestion.py:
  209-257) is the single most important model translation (SURVEY.md
  §1.1); per-symbol failures are skipped exactly as the reference does
  (ingestion.py:250-252).

Rate limiting (reference ingestion.py:30-60): same detection strings,
same exponential backoff ``base·2^retry``, same max-retry contract.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketdatapipeline_spark.data.schema import (
    align_and_union,
    conform_to_ohlcv,
)
from marketdatapipeline_spark.data.storage import (
    find_latest_data_file,
    get_raw_data_path,
    load_dataframe,
    save_dataframe,
)

logger = logging.getLogger(__name__)

#: fetcher(symbol, interval, outputsize) -> pandas DataFrame of raw bars.
Fetcher = Callable[[str, str, str], pd.DataFrame]

MAX_RETRIES = 3
BASE_WAIT_SECONDS = 12.0
#: Inter-call pause for the free-tier API (reference config.py:17-21).
RATE_LIMIT_PAUSE_SECONDS = 12.0


class RateLimitError(Exception):
    """API rate limit exhausted after retries (reference
    ingestion.py:26-28) — raise or catch this to distinguish throttle
    exhaustion from other fetch failures."""


def _is_rate_limit(error: Exception) -> bool:
    """ONE definition of what counts as a throttle response — shared by
    the backoff filter and the typed-exhaustion raise so the two can
    never drift apart."""
    msg = str(error).lower()
    return "rate limit" in msg or "api call frequency" in msg


def handle_rate_limit(error: Exception, retry_count: int, *, sleep=time.sleep) -> bool:
    """True if the error is a rate limit and a retry should happen
    after backoff; False otherwise (reference ingestion.py:30-60)."""
    if not _is_rate_limit(error):
        return False
    if retry_count >= MAX_RETRIES:
        return False
    wait = BASE_WAIT_SECONDS * (2**retry_count)
    logger.warning("Rate limit hit; waiting %.0fs (retry %d)", wait, retry_count + 1)
    sleep(wait)
    return True


def _alpha_vantage_fetcher(api_key: str, daily: bool = False) -> Fetcher:
    """Default adapter over the alpha_vantage client, import-gated."""

    def fetch(symbol: str, interval: str, outputsize: str) -> pd.DataFrame:
        try:
            from alpha_vantage.timeseries import TimeSeries
        except ImportError as e:  # lib not baked into this container
            raise RuntimeError(
                "alpha_vantage is not installed; pass an explicit "
                "fetcher= or use the parquet fixtures"
            ) from e
        ts = TimeSeries(key=api_key, output_format="pandas")
        if daily:
            pdf, _ = ts.get_daily(symbol=symbol, outputsize=outputsize)
        else:
            pdf, _ = ts.get_intraday(symbol=symbol, interval=interval, outputsize=outputsize)
        return pdf.reset_index()

    return fetch


def _ingest_pandas(spark: SparkSession, pdf: pd.DataFrame, symbol: str) -> DataFrame:
    """pandas → conformed, sorted OHLCV DataFrame (Arrow boundary S15).

    The input is one driver-side frame, so it is sorted inside a single
    partition: a global ``orderBy`` would add a sampling job and a range
    exchange to every action on the bars."""
    if pdf is None or len(pdf) == 0:
        raise ValueError(f"empty response for {symbol}")
    if pdf.index.name is not None or not isinstance(pdf.index, pd.RangeIndex):
        pdf = pdf.reset_index()
    df = spark.createDataFrame(pdf)
    return conform_to_ohlcv(df, symbol=symbol).coalesce(1).sortWithinPartitions("datetime")


def fetch_intraday_data(
    spark: SparkSession,
    symbol: str,
    interval: str = "1min",
    outputsize: str = "full",
    save: bool = True,
    use_cache: bool = True,
    data_dir: str = ".",
    fetcher: Fetcher | None = None,
    api_key: str = "",
    _sleep=time.sleep,
) -> DataFrame:
    """Cache-or-fetch one symbol's intraday bars (reference
    ingestion.py:107-206). Retries on rate-limit errors with
    exponential backoff; caches to a timestamped parquet under
    ``data_dir`` and reuses the newest cached file when present."""
    if use_cache:
        cached = find_latest_data_file(data_dir, symbol, interval)
        if cached is not None:
            logger.info("cache hit for %s %s: %s", symbol, interval, cached)
            return load_dataframe(spark, cached)

    fetch = fetcher or _alpha_vantage_fetcher(api_key)
    retry = 0
    while True:
        try:
            pdf = fetch(symbol, interval, outputsize)
            break
        except Exception as e:  # noqa: BLE001 — retry filter below
            if not handle_rate_limit(e, retry, sleep=_sleep):
                if _is_rate_limit(e):
                    # throttle persisted past MAX_RETRIES: typed failure
                    raise RateLimitError(
                        f"rate limit for {symbol} after {retry} retries"
                    ) from e
                raise
            retry += 1

    df = _ingest_pandas(spark, pdf, symbol)
    if save:
        path = get_raw_data_path(data_dir, symbol, interval)
        save_dataframe(df, path)
        logger.info("saved %s to %s", symbol, path)
    return df


def fetch_daily_data(
    spark: SparkSession,
    symbol: str,
    outputsize: str = "full",
    save: bool = True,
    use_cache: bool = True,
    data_dir: str = ".",
    fetcher: Fetcher | None = None,
    api_key: str = "",
) -> DataFrame:
    """Daily-bar variant (reference ingestion.py:260-346)."""
    return fetch_intraday_data(
        spark,
        symbol,
        interval="daily",
        outputsize=outputsize,
        save=save,
        use_cache=use_cache,
        data_dir=data_dir,
        fetcher=fetcher or _alpha_vantage_fetcher(api_key, daily=True),
        api_key=api_key,
    )


def fetch_multiple_symbols(
    spark: SparkSession,
    symbols: Sequence[str],
    interval: str = "1min",
    outputsize: str = "full",
    save: bool = True,
    use_cache: bool = True,
    data_dir: str = ".",
    fetcher: Fetcher | None = None,
    api_key: str = "",
    pause_seconds: float = RATE_LIMIT_PAUSE_SECONDS,
    _sleep=time.sleep,
) -> DataFrame:
    """Fetch many symbols into ONE DataFrame with a ``symbol`` column.

    Spark-native replacement for the reference's ``Dict[str,
    pl.DataFrame]`` loop (ingestion.py:209-257): per-symbol failures
    are logged and skipped, successes are schema-aligned and unioned.
    The union is a metadata-only plan op — no shuffle; downstream
    window stages hash-partition by symbol exactly once.
    """
    frames: list[DataFrame] = []
    for i, symbol in enumerate(symbols):
        try:
            df = fetch_intraday_data(
                spark,
                symbol,
                interval=interval,
                outputsize=outputsize,
                save=save,
                use_cache=use_cache,
                data_dir=data_dir,
                fetcher=fetcher,
                api_key=api_key,
                _sleep=_sleep,
            )
            if "symbol" not in df.columns:
                df = df.withColumn("symbol", F.lit(symbol))
            frames.append(df)
        except Exception as e:  # noqa: BLE001 — skip bad symbol, keep going
            logger.warning("skipping %s: %s", symbol, e)
        if i < len(symbols) - 1 and pause_seconds > 0:
            _sleep(pause_seconds)
    if not frames:
        raise ValueError("no symbols fetched successfully")
    return align_and_union(frames)
