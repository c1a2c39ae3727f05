"""Streaming operators pinned by batch parity (SURVEY.md §7 step 8a).

Each test drives the stream with ``availableNow`` over static files and
compares against the equivalent batch computation on the same rows —
correctness of the streaming path is *defined* as batch equivalence.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from marketdatapipeline_spark.streaming import (
    TICK_SCHEMA,
    bars_from_ticks_batch,
    online_indicators,
    read_tick_stream,
    sessionize_batch,
    sessionize_stream,
    ticks_to_bars,
)


@pytest.fixture(scope="module")
def tick_dir(spark, bars_pdf, tmp_path_factory):
    """Tick-shaped files derived from the deterministic bar fixture:
    each bar row becomes one tick (price=close, size=volume)."""
    path = str(tmp_path_factory.mktemp("ticks"))
    pdf = bars_pdf.rename(columns={"datetime": "ts", "close": "price", "volume": "size"})[
        ["symbol", "ts", "price", "size"]
    ]
    sdf = spark.createDataFrame(pdf, schema=TICK_SCHEMA)
    # two files so availableNow processes >1 input split
    sdf.repartition(2).write.mode("overwrite").parquet(path)
    return path


def _run_stream_to_memory(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _run_stream_until_rows(spark, stream_df, name, n_rows, timeout=120.0):
    """Like _run_stream_to_memory, but for queries that do NOT
    self-terminate under availableNow (TTL-stateful queries stay alive
    servicing processing-time timers — awaitTermination would burn its
    whole timeout): poll the memory sink until the expected row count
    lands, then stop the query explicitly."""
    import time as _time

    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    deadline = _time.time() + timeout
    while _time.time() < deadline and q.isActive:
        if spark.table(name).count() >= n_rows:
            break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination(30)
    return spark.table(name)


def test_ticks_to_bars_matches_batch(spark, tick_dir):
    ticks_stream = read_tick_stream(spark, tick_dir)
    ticks_batch = spark.read.schema(TICK_SCHEMA).parquet(tick_dir)

    got = _run_stream_to_memory(
        spark, ticks_to_bars(ticks_stream, "1 minute", "0 seconds"), "bars_stream"
    ).toPandas()
    want = bars_from_ticks_batch(ticks_batch, "1 minute").toPandas()
    # append mode only emits FINALIZED bars: each symbol's last window
    # never passes the watermark, so it stays in state — drop it from
    # the batch truth.
    last = want.groupby("symbol")["datetime"].transform("max")
    want = want[want["datetime"] != last]

    key = ["symbol", "datetime"]
    got = got.sort_values(key).reset_index(drop=True)[want.columns]
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # 1-minute fixture bars, one tick each: OHLC collapse to the tick price
    assert (got["open"] == got["close"]).all()
    assert (got["tick_count"] == 1).all()


def test_ticks_to_bars_aggregates_within_window(spark, tick_dir):
    ticks = spark.read.schema(TICK_SCHEMA).parquet(tick_dir)
    bars5 = bars_from_ticks_batch(ticks, "5 minutes").toPandas()
    assert (bars5["tick_count"] == 5).all()
    assert (bars5["high"] >= bars5["low"]).all()
    # open is the earliest tick's price, close the latest's
    one = bars5.sort_values(["symbol", "datetime"]).iloc[0]
    raw = ticks.toPandas().sort_values("ts")
    sym_ticks = raw[(raw["symbol"] == one["symbol"])].head(5)
    assert one["open"] == sym_ticks.iloc[0]["price"]
    assert one["close"] == sym_ticks.iloc[-1]["price"]
    assert one["volume"] == sym_ticks["size"].sum()


def test_online_indicators_match_batch_ewm(spark, bars_df, tick_dir):
    """Stateful streaming RSI/MACD == batch add_technical_ewm_features."""
    from marketdatapipeline_spark.features.ewm import add_technical_ewm_features

    ticks_stream = read_tick_stream(spark, tick_dir)
    got = _run_stream_to_memory(
        spark, online_indicators(ticks_stream), "online_ind"
    ).toPandas()

    want = (
        add_technical_ewm_features(bars_df)
        .select("symbol", "datetime", "close", "rsi", "macd", "macd_signal", "macd_histogram")
        .toPandas()
        .rename(columns={"datetime": "ts"})
    )

    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)[got.columns]
    assert len(got) == len(want)
    for col in ("close", "rsi", "macd", "macd_signal", "macd_histogram"):
        g, w = got[col].astype("float64"), want[col].astype("float64")
        both_nan = g.isna() & w.isna()
        assert (both_nan | (g == w) | ((g - w).abs() < 1e-12)).all(), col


def test_online_indicators_batch_twin_matches_stream(spark, bars_df, tick_dir):
    """The driver-gate batch twin (online_indicators_batch) must be
    bit-identical to the actual stream execution of the same handler
    recurrence — this is the stream==batch leg of the transitivity
    chain behind the streaming_indicators_batch_parity catalog row."""
    from pyspark.sql import functions as F

    from marketdatapipeline_spark.streaming import online_indicators_batch

    ticks_stream = read_tick_stream(spark, tick_dir)
    got = _run_stream_to_memory(
        spark, online_indicators(ticks_stream), "online_twin"
    ).toPandas()

    bars = bars_df.select(
        "symbol", F.col("datetime").alias("ts"), "close"
    )
    want = online_indicators_batch(bars, order_cols=("ts",)).toPandas()

    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)[got.columns]
    assert len(got) == len(want)
    for col in ("close", "rsi", "macd", "macd_signal", "macd_histogram"):
        g, w = got[col].astype("float64"), want[col].astype("float64")
        both_nan = g.isna() & w.isna()
        assert (both_nan | (g == w)).all(), col


def test_online_indicators_state_carries_across_batches(spark, bars_pdf, tmp_path):
    """Split the feed into two file-drops processed as separate
    micro-batches; indicator values must continue, not restart."""
    path = str(tmp_path / "ticks2")
    pdf = bars_pdf.rename(columns={"datetime": "ts", "close": "price", "volume": "size"})[
        ["symbol", "ts", "price", "size"]
    ].sort_values(["ts"])
    half = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:half], TICK_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + "/b1")
    spark.createDataFrame(pdf.iloc[half:], TICK_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + "/b2")

    stream = (
        spark.readStream.schema(TICK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/b*")
    )
    got = _run_stream_to_memory(spark, online_indicators(stream), "online_two").toPandas()

    # sequential single-pass truth
    full = pdf.sort_values(["symbol", "ts"])
    for sym, grp in full.groupby("symbol"):
        close = grp["price"].reset_index(drop=True)
        ema12 = close.ewm(span=12).mean()
        ema26 = close.ewm(span=26).mean()
        macd = ema12 - ema26
        g = (
            got[got["symbol"] == sym]
            .sort_values("ts")["macd"]
            .reset_index(drop=True)
            .astype("float64")
        )
        assert len(g) == len(macd)
        assert all(
            math.isclose(a, b, rel_tol=0, abs_tol=1e-12) for a, b in zip(g, macd)
        )


def test_session_window_matches_operator_sessions(spark, tick_dir):
    """session_window (the engine-native path) and the explicit
    lag/running-sum composition (operators/sessions.py) must draw
    identical session boundaries on the same rows."""
    from pyspark.sql import functions as F

    from marketdatapipeline_spark.operators.sessions import session_stats

    events = spark.read.schema(TICK_SCHEMA).parquet(tick_dir)
    native = sessionize_batch(
        events, gap="5 minutes", user_col="symbol", time_col="ts"
    ).toPandas()
    composed = session_stats(
        events,
        F.expr("INTERVAL 5 MINUTES"),
        user_col="symbol",
        time_col="ts",
    ).toPandas()
    key = ["symbol", "session_start"]
    native = native.sort_values(key).reset_index(drop=True)
    composed = composed.sort_values(key).reset_index(drop=True)
    assert len(native) == len(composed)
    for col in ("session_start", "session_end", "n_events"):
        assert (native[col].to_numpy() == composed[col].to_numpy()).all(), col
    # half-open windows: window_start == first event, and the window
    # extends one gap past the last event
    assert (native["window_start"] == native["session_start"]).all()
    assert (
        native["window_end"] - native["session_end"] == pd.Timedelta(minutes=5)
    ).all()


def test_sessionize_stream_matches_batch(spark, tick_dir):
    """availableNow streaming sessions == batch sessions, minus each
    user's last session (append mode only emits watermark-closed
    sessions)."""
    stream = read_tick_stream(spark, tick_dir)
    got = _run_stream_to_memory(
        spark,
        sessionize_stream(
            stream, gap="5 minutes", watermark="0 seconds",
            user_col="symbol", time_col="ts",
        ),
        "sessions_stream",
    ).toPandas()
    events = spark.read.schema(TICK_SCHEMA).parquet(tick_dir)
    want = sessionize_batch(
        events, gap="5 minutes", user_col="symbol", time_col="ts"
    ).toPandas()
    last = want.groupby("symbol")["session_start"].transform("max")
    want = want[want["session_start"] != last]
    key = ["symbol", "session_start"]
    got = got.sort_values(key).reset_index(drop=True)[want.columns]
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_sessionize_batch_nonstandard_time_col(spark, tick_dir):
    """Regression: _session_aggs used to hardcode "ts", so a frame whose
    event-time column had another name either failed to resolve or
    silently aggregated a different column than it sessionized on.
    Renaming the time column must not change the sessions."""
    events = spark.read.schema(TICK_SCHEMA).parquet(tick_dir)
    base = sessionize_batch(
        events, gap="5 minutes", user_col="symbol", time_col="ts"
    ).toPandas()
    renamed = sessionize_batch(
        events.withColumnRenamed("ts", "event_time"),
        gap="5 minutes",
        user_col="symbol",
        time_col="event_time",
    ).toPandas()
    key = ["symbol", "session_start"]
    base = base.sort_values(key).reset_index(drop=True)
    renamed = renamed.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(renamed, base, check_exact=True)


def test_dedup_stream_matches_batch(spark, tmp_path):
    """Watermarked streaming dedup == batch keep-first when the
    horizon covers the whole frame; duplicates injected across two
    file-drops so suppression must work across micro-batches."""
    import datetime as dt

    from marketdatapipeline_spark.streaming import dedup_batch, dedup_stream

    base = dt.datetime(2024, 1, 1, 9, 0)
    rows = []
    for i in range(300):
        key = i % 90  # every key repeats ~3-4 times across the feed
        rows.append(
            ("K%d" % key, base + dt.timedelta(minutes=i), float(i))
        )
    pdf = pd.DataFrame(rows, columns=["symbol", "ts", "price"])
    path = str(tmp_path / "dedup_feed")
    half = len(pdf) // 2
    schema = "symbol string, ts timestamp, price double"
    spark.createDataFrame(pdf.iloc[:half], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + "/b1")
    spark.createDataFrame(pdf.iloc[half:], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + "/b2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/b*")
    )
    got = _run_stream_to_memory(
        spark, dedup_stream(stream, ("symbol",), watermark="10 hours"), "dedup_s"
    ).toPandas()

    batch = spark.createDataFrame(pdf, schema)
    want = dedup_batch(batch, ("symbol",)).toPandas()

    assert len(got) == len(want) == 90
    got = got.sort_values("symbol").reset_index(drop=True)
    want = want.sort_values("symbol").reset_index(drop=True)[got.columns]
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_dedup_stream_horizon_evicts_state(spark, tmp_path):
    """A duplicate arriving beyond the watermark horizon is NOT
    suppressed — the documented state-for-recall trade."""
    import datetime as dt

    from marketdatapipeline_spark.streaming import dedup_stream

    base = dt.datetime(2024, 1, 1, 9, 0)
    schema = "symbol string, ts timestamp, price double"
    path = str(tmp_path / "dedup_h")
    # four micro-batches: the duplicate-in-horizon pair; a watermark
    # advancer; one more batch (state eviction is watermark-LAZY — it
    # runs at batch end, one batch behind the advance, verified
    # empirically); then the late A, which must be re-emitted.
    batches = [
        [("A", base, 1.0), ("A", base + dt.timedelta(minutes=5), 2.0)],
        [("B", base + dt.timedelta(hours=3), 4.0)],
        [("B", base + dt.timedelta(hours=3, minutes=2), 5.0)],
        [("A", base + dt.timedelta(hours=3, minutes=10), 3.0)],
    ]
    import time

    for i, rows in enumerate(batches):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["symbol", "ts", "price"]), schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/b{i}")
        time.sleep(1.05)  # distinct mtimes pin the file-source ordering
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path + "/b*")
    )
    got = _run_stream_to_memory(
        spark, dedup_stream(stream, ("symbol",), watermark="30 minutes"), "dedup_h"
    ).toPandas()
    a_rows = got[got["symbol"] == "A"].sort_values("ts")
    assert len(a_rows) == 2  # original + beyond-horizon re-emission
    assert list(a_rows["price"]) == [1.0, 3.0]


class _FakeState:
    """Minimal GroupState stand-in for driving the handler directly."""

    def __init__(self, has_timed_out=False, existing=None):
        self.hasTimedOut = has_timed_out
        self.exists = existing is not None
        self.get = existing
        self.removed = False
        self.updated = None
        self.timeout = None

    def remove(self):
        self.removed = True

    def update(self, st):
        self.updated = st

    def setTimeoutDuration(self, d):
        self.timeout = d


def _operator_steps():
    """(name, step, fresh) of every online operator, as its ``online_*``
    function hands them to the harness."""
    from marketdatapipeline_spark.streaming import (
        atr,
        bollinger,
        combined,
        cusum,
        kama,
        stateful,
        volume_clock,
        vwap,
    )

    return [
        ("indicators", stateful._indicator_step(14, 12, 26, 9, "price"),
         stateful._FRESH_STATE),
        ("atr", atr._atr_step(14), atr._FRESH),
        ("bollinger", bollinger._boll_step(2, 2.0, "price"), bollinger._FRESH),
        ("cusum", cusum._cusum_step(0.01, "price"), cusum._FRESH),
        ("kama", kama._kama_step(1, 2, 30, "price"), kama._FRESH),
        ("volume_clock", volume_clock._vc_step(100.0), volume_clock._FRESH),
        ("vwap", vwap._vwap_step("day"), vwap._FRESH),
        ("ticks", combined._ticks_step("day", 14, 12, 26, 9),
         stateful._FRESH_STATE + vwap._FRESH),
    ]


@pytest.mark.parametrize("case", _operator_steps(), ids=lambda c: c[0])
def test_operator_handler_timeout_evicts_state(case):
    """On a TTL timeout invocation the handler must remove the state,
    emit nothing and update nothing; on a normal pass with a TTL it
    must update the state and re-arm the timer."""
    import datetime as dt

    from marketdatapipeline_spark.streaming.stateful import _handler

    _, step, fresh = case
    func = _handler(step, fresh, ttl_ms=30 * 60_000)

    timed_out = _FakeState(has_timed_out=True, existing=fresh)
    out = list(func(("A",), iter([]), timed_out))
    assert out == [] and timed_out.removed
    assert timed_out.updated is None and timed_out.timeout is None

    st = _FakeState()
    pdf = pd.DataFrame(
        {
            "symbol": ["A", "A"],
            "ts": [dt.datetime(2024, 1, 1, 9, 1), dt.datetime(2024, 1, 1, 9, 0)],
            "price": [101.0, 100.0],
            "size": [10.0, 20.0],
        }
    )
    out = list(func(("A",), iter([pdf.iloc[:0], pdf]), st))
    assert len(out) == 1 and len(out[0]) == 2
    assert list(out[0].columns[:2]) == ["symbol", "ts"]
    assert out[0]["ts"].is_monotonic_increasing
    assert not st.removed and st.updated is not None
    assert len(st.updated) == len(fresh) and st.timeout == 30 * 60_000


@pytest.mark.parametrize("ttl", [0, "0 minutes", "-1 hour"])
def test_online_operators_reject_non_positive_ttl(spark, tick_dir, ttl):
    """A non-positive TTL is refused when the operator is called, before
    any query starts: pyspark's setTimeoutDuration would only raise
    inside the running query, and ``state_ttl=0`` used to pick
    NoTimeout and then still arm a timer."""
    from marketdatapipeline_spark.streaming import (
        online_atr,
        online_bollinger,
        online_cusum,
        online_kama,
        online_ticks,
        online_volume_clock,
        online_vwap,
    )

    ticks = read_tick_stream(spark, tick_dir)
    operators = [
        online_indicators,
        online_atr,
        online_bollinger,
        lambda t, state_ttl: online_cusum(t, 0.01, state_ttl=state_ttl),
        online_kama,
        lambda t, state_ttl: online_volume_clock(t, 100.0, state_ttl=state_ttl),
        online_vwap,
        online_ticks,
    ]
    for op in operators:
        with pytest.raises(ValueError, match="positive"):
            op(ticks, state_ttl=ttl)
    assert not spark.streams.active


def test_online_indicators_with_ttl_matches_no_ttl_on_live_feed(spark, bars_pdf, tmp_path):
    """With every symbol active inside the TTL, output is identical to
    the no-TTL run (the TTL only changes eviction of quiet keys)."""
    path = str(tmp_path / "ttlticks")
    pdf = bars_pdf.rename(
        columns={"datetime": "ts", "close": "price", "volume": "size"}
    )[["symbol", "ts", "price", "size"]]
    spark.createDataFrame(pdf, TICK_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(path)
    with_ttl = _run_stream_until_rows(
        spark, online_indicators(stream, state_ttl="1 hour"), "ttl_on",
        n_rows=len(pdf),
    ).toPandas()
    stream2 = spark.readStream.schema(TICK_SCHEMA).parquet(path)
    without = _run_stream_to_memory(
        spark, online_indicators(stream2), "ttl_off"
    ).toPandas()
    key = ["symbol", "ts"]
    a = with_ttl.sort_values(key).reset_index(drop=True)
    b = without.sort_values(key).reset_index(drop=True)[with_ttl.columns]
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_online_vwap_closes_parity_triangle(spark, bars_df, tick_dir):
    """stream == batch-twin == the batch window operator, bit-exact:
    all three add the same IEEE products in the same order."""
    from marketdatapipeline_spark.operators.vwap import anchored_vwap
    from marketdatapipeline_spark.streaming import (
        online_vwap,
        online_vwap_batch,
    )

    ticks_stream = read_tick_stream(spark, tick_dir)
    got = _run_stream_to_memory(
        spark, online_vwap(ticks_stream, anchor="day"), "online_vwap"
    ).toPandas()

    ticks_batch = spark.read.schema(TICK_SCHEMA).parquet(tick_dir)
    twin = online_vwap_batch(ticks_batch, anchor="day").toPandas()

    # the batch WINDOW operator on the bar-shaped frame (close/volume)
    want = (
        anchored_vwap(
            bars_df, anchor="day", order_cols=("datetime",)
        )
        .select("symbol", "datetime", "close", "vwap", "vwap_dev")
        .toPandas()
        .rename(columns={"datetime": "ts", "close": "price"})
    )

    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    twin = twin.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(twin) == len(want) > 0
    for col in ("vwap", "vwap_dev"):
        assert (got[col].to_numpy() == twin[col].to_numpy()).all(), col
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col
    # day boundary actually resets: first bar of each (symbol, day)
    # has vwap == its own price
    got["day"] = got["ts"].dt.floor("D")
    firsts = got.sort_values(key).groupby(["symbol", "day"]).first()
    assert (firsts["vwap"] == firsts["price"]).all()


def test_online_vwap_zero_volume_yields_null_everywhere(spark, tmp_path):
    """A period that opens on zero-volume ticks must yield NULL vwap
    (not NaN, not a crash) on ALL THREE triangle paths: Spark 4's ANSI
    mode turns an unguarded division into a runtime DIVIDE_BY_ZERO the
    first time real data hits this, and the streaming scan previously
    emitted NaN where the batch paths emit NULL (ADVICE r6)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from marketdatapipeline_spark.operators.vwap import anchored_vwap
    from marketdatapipeline_spark.streaming import (
        online_vwap,
        online_vwap_batch,
    )

    rows = [
        ("A", dt.datetime(2024, 1, 1, 9, 30), 10.0, 0.0),  # day opens empty
        ("A", dt.datetime(2024, 1, 1, 9, 31), 11.0, 5.0),
        ("A", dt.datetime(2024, 1, 2, 9, 30), 12.0, 0.0),  # fully empty day
    ]
    ticks = spark.createDataFrame(rows, TICK_SCHEMA)

    def null_mask(df, time_col):
        out = df.select(
            time_col, F.col("vwap").isNull().alias("vn"),
            F.col("vwap_dev").isNull().alias("dn"),
        ).orderBy(time_col).collect()
        return [(r["vn"], r["dn"]) for r in out]

    want = [(True, True), (False, False), (True, True)]

    twin = online_vwap_batch(ticks, anchor="day")
    assert null_mask(twin, "ts") == want

    bars = ticks.selectExpr(
        "symbol", "ts as datetime",
        "monotonically_increasing_id() as bar_id",
        "price as close", "size as volume",
    )
    for exact in (False, True):
        op = anchored_vwap(bars, anchor="day", exact_decimal=exact)
        assert null_mask(op, "datetime") == want, f"exact_decimal={exact}"

    path = str(tmp_path / "zvticks")
    ticks.coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(path)
    got = _run_stream_to_memory(
        spark, online_vwap(stream, anchor="day"), "zv_vwap"
    )
    assert null_mask(got, "ts") == want


def test_online_vwap_state_carries_across_batches(spark, bars_pdf, tmp_path):
    """Two file drops inside one anchor day: the second batch must
    CONTINUE the day's sums, not restart them."""
    from marketdatapipeline_spark.streaming import (
        online_vwap,
        online_vwap_batch,
    )

    pdf = bars_pdf.rename(
        columns={"datetime": "ts", "close": "price", "volume": "size"}
    )[["symbol", "ts", "price", "size"]].sort_values("ts")
    half = len(pdf) // 2
    path = str(tmp_path / "drops")
    # one file per drop with distinct mtimes: the file source orders
    # batches by modification time, and the in-order-per-symbol
    # contract must hold ACROSS the two drops
    spark.createDataFrame(pdf.iloc[:half], schema=TICK_SCHEMA).coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    import time as _t

    _t.sleep(1.1)
    spark.createDataFrame(pdf.iloc[half:], schema=TICK_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(TICK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    got = _run_stream_to_memory(
        spark, online_vwap(stream, anchor="day"), "vwap_carry"
    ).toPandas()
    want = online_vwap_batch(
        spark.read.schema(TICK_SCHEMA).parquet(path), anchor="day"
    ).toPandas()
    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert (got["vwap"].to_numpy() == want["vwap"].to_numpy()).all()


@pytest.mark.parametrize("anchor", ["week", "month"])
def test_online_vwap_week_month_anchor_matches_window_operator(
    spark, anchor
):
    """The pandas anchor truncation must draw the SAME period
    boundaries as Spark's date_trunc (week starts Monday) — pinned by
    running both paths over a span crossing several boundaries."""
    import datetime as dt

    from pyspark.sql import functions as F

    from marketdatapipeline_spark.operators.vwap import anchored_vwap
    from marketdatapipeline_spark.streaming import online_vwap_batch

    rows = []
    t = dt.datetime(2023, 12, 25)  # Monday, crosses a year boundary
    for i in range(300):  # ~50 days of 4-hourly ticks
        rows.append(
            ("A", t + dt.timedelta(hours=4 * i), float(100 + i % 7),
             float(1 + i % 5))
        )
    ticks = spark.createDataFrame(rows, ["symbol", "ts", "price", "size"])
    got = online_vwap_batch(ticks, anchor=anchor).toPandas()
    bars = ticks.select(
        "symbol", F.col("ts").alias("datetime"), F.lit(0).alias("bar_id"),
        F.col("price").alias("close"), F.col("size").alias("volume"),
    )
    want = (
        anchored_vwap(bars, anchor=anchor, order_cols=("datetime",))
        .select("symbol", F.col("datetime").alias("ts"), "vwap")
        .toPandas()
    )
    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) == 300
    assert (got["vwap"].to_numpy() == want["vwap"].to_numpy()).all()


def test_kafka_value_decode_json_and_csv(spark):
    """The Kafka leg's value-parse expression (decode_tick_frames) is
    pinned batch-wise against crafted binary frames in the Kafka wire
    shape — the connector itself can't run in-container, but the only
    custom logic in kafka_tick_stream IS this expression; source
    options (subscribe/startingOffsets/maxOffsetsPerTrigger) are
    engine pass-throughs."""
    from datetime import datetime

    from marketdatapipeline_spark.streaming import decode_tick_frames

    wire = "key BINARY, value BINARY, topic STRING, partition INT, offset LONG"
    frames_json = spark.createDataFrame(
        [
            (
                b"AAPL",
                b'{"symbol":"AAPL","ts":"2024-03-04T10:30:00","price":187.25,"size":300.0}',
                "ticks",
                0,
                41,
            ),
            (b"BAD", b"{not json at all", "ticks", 0, 42),
        ],
        wire,
    )
    rows = decode_tick_frames(frames_json, "json").collect()
    assert [f.name for f in decode_tick_frames(frames_json).schema.fields] == [
        "symbol",
        "ts",
        "price",
        "size",
    ]
    good = rows[0]
    assert good["symbol"] == "AAPL"
    assert good["ts"] == datetime(2024, 3, 4, 10, 30)
    assert good["price"] == 187.25 and good["size"] == 300.0
    # malformed frame -> null-field row, never a stream-killing error
    assert rows[1]["symbol"] is None and rows[1]["ts"] is None

    frames_csv = spark.createDataFrame(
        [(None, b"MSFT,2024-03-04T10:31:00,401.5,12", "ticks", 1, 7)], wire
    )
    row = decode_tick_frames(frames_csv, "csv").collect()[0]
    assert row["symbol"] == "MSFT" and row["ts"] == datetime(2024, 3, 4, 10, 31)
    assert row["price"] == 401.5 and row["size"] == 12.0

    with pytest.raises(ValueError, match="value_format"):
        decode_tick_frames(frames_csv, "avro")


def test_kafka_tick_stream_validates_format_eagerly(spark):
    from marketdatapipeline_spark.streaming import kafka_tick_stream

    with pytest.raises(ValueError, match="value_format"):
        kafka_tick_stream(spark, "broker:9092", "ticks", value_format="xml")


def test_stream_static_enrichment_parity(spark, tick_dir):
    """Stream-static broadcast join: a streaming tick feed enriched
    with a static dimension (symbol -> sector/lot size) must equal
    the batch join on the same rows — the reference-data pattern every
    production feed needs, and it composes BEFORE the stateful
    operators (the enriched stream keeps TICK_SCHEMA + dim columns)."""
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [("AAA", "tech", 100), ("BBB", "energy", 200)],
        ["symbol", "sector", "lot_size"],
    )
    stream = read_tick_stream(spark, tick_dir)
    enriched = stream.join(F.broadcast(dim), "symbol", "left")
    got = (
        _run_stream_to_memory(spark, enriched, "enriched_ticks")
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )
    want = (
        spark.read.schema(TICK_SCHEMA)
        .parquet(tick_dir)
        .join(F.broadcast(dim), "symbol", "left")
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got["sector"] == want["sector"]).all()
    assert (got["lot_size"] == want["lot_size"]).all()
    # per-sector streamed aggregation over the enriched columns works
    agg = got.groupby("sector")["size"].sum()
    wagg = want.groupby("sector")["size"].sum()
    assert (agg == wagg).all()


def test_kafka_shaped_stream_end_to_end(spark, bars_pdf, tmp_path):
    """The full message-bus path minus the connector jar: a STREAM of
    binary wire frames (key/value, the Kafka shape) -> decode_tick_frames
    -> the fused online_ticks operator, compared against the batch
    twins on the same rows. Pins that the decode expression composes
    with stateful streaming, not just batch selects."""
    import json

    from pyspark.sql import functions as F

    from marketdatapipeline_spark.streaming import decode_tick_frames
    from marketdatapipeline_spark.streaming.combined import online_ticks
    from marketdatapipeline_spark.streaming.stateful import (
        online_indicators_batch,
    )

    pdf = bars_pdf.rename(
        columns={"datetime": "ts", "close": "price", "volume": "size"}
    )[["symbol", "ts", "price", "size"]].sort_values(["ts", "symbol"])
    frames = [
        (
            r.symbol.encode(),
            json.dumps(
                {
                    "symbol": r.symbol,
                    "ts": r.ts.strftime("%Y-%m-%dT%H:%M:%S"),
                    "price": r.price,
                    "size": float(r.size),
                }
            ).encode(),
        )
        for r in pdf.itertuples()
    ]
    src = str(tmp_path / "frames")
    spark.createDataFrame(frames, "key BINARY, value BINARY").coalesce(
        2
    ).write.parquet(src)

    stream = spark.readStream.schema("key BINARY, value BINARY").parquet(src)
    ticks = decode_tick_frames(stream, "json")
    got = (
        _run_stream_to_memory(spark, online_ticks(ticks), "kafka_shaped")
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)
    want = (
        online_indicators_batch(
            decode_tick_frames(
                spark.read.schema("key BINARY, value BINARY").parquet(src)
            ).withColumnRenamed("price", "close"),
            order_cols=("ts",),
        )
        .toPandas()
        .sort_values(["symbol", "ts"])
        .reset_index(drop=True)
    )
    import pandas as pd

    for col in ("rsi", "macd", "macd_signal", "macd_histogram"):
        a, b = got[col].to_numpy(), want[col].to_numpy()
        assert ((a == b) | (pd.isna(a) & pd.isna(b))).all(), col


def test_online_atr_stream_matches_batch_twin(spark, bars_df, tick_dir):
    """Stream and batch twin share _scan_hlc verbatim: bit-identical
    on the same tick feed (price-only shape: tr = |p - prev_p|)."""
    from pyspark.sql import functions as F

    from marketdatapipeline_spark.streaming import online_atr, online_atr_batch

    ticks_stream = read_tick_stream(spark, tick_dir)
    got = _run_stream_to_memory(
        spark, online_atr(ticks_stream, window=7), "online_atr"
    ).toPandas()

    ticks = (
        spark.read.schema(TICK_SCHEMA)
        .parquet(tick_dir)
        .select("symbol", "ts", F.col("price").alias("close"))
    )
    want = online_atr_batch(ticks, window=7, order_cols=("ts",)).toPandas()

    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)[got.columns]
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # price-only feed: the true range is the absolute tick-to-tick move
    assert (got.groupby("symbol").head(1)["tr"] == 0.0).all()


def test_online_atr_batch_twin_matches_blocked_ewm(spark, bars_df):
    """The sequential recurrence == the EWMA-scan batch operator
    (operators/indicators.py atr method='wilder') to FP-association
    tolerance — the stream's answer is the batch answer."""
    from marketdatapipeline_spark.operators.indicators import atr
    from marketdatapipeline_spark.streaming import online_atr_batch

    n = 9
    key = ["symbol", "datetime"]
    twin = (
        online_atr_batch(bars_df, window=n, order_cols=("datetime",))
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    blocked = (
        atr(bars_df, window=n, method="wilder", order_cols=("datetime",))
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert len(twin) == len(blocked) > 0
    g = twin["atr"].to_numpy(dtype=float)
    w = blocked["atr"].to_numpy(dtype=float)
    assert (abs(g - w) <= 1e-9 * abs(w)).all()


def test_online_volume_clock_matches_batch_twin(spark, tick_dir):
    """Stream and batch twin share _scan_cum verbatim — bit-identical
    bucket assignment and running volume on the same tick feed."""
    from pyspark.sql import functions as F

    from marketdatapipeline_spark.streaming import (
        online_volume_clock,
        online_volume_clock_batch,
    )

    bucket = 500.0
    ticks_stream = read_tick_stream(spark, tick_dir)
    got = _run_stream_to_memory(
        spark, online_volume_clock(ticks_stream, bucket), "online_vclock"
    ).toPandas()

    ticks = spark.read.schema(TICK_SCHEMA).parquet(tick_dir)
    want = online_volume_clock_batch(ticks, bucket).toPandas()

    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)[got.columns]
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)

    # the assignment law itself: bucket == floor((cum - size)/bucket)
    start = got["cum_volume"] - got["size"]
    assert (got["bucket"] == (start // bucket).astype("int64")).all()
    # buckets are non-decreasing within a symbol's time order
    for _, g in got.groupby("symbol"):
        b = g.sort_values("ts")["bucket"].to_numpy()
        assert (np.diff(b) >= 0).all()


def test_online_volume_clock_rejects_bad_bucket(spark, tick_dir):
    from marketdatapipeline_spark.streaming import online_volume_clock

    ticks_stream = read_tick_stream(spark, tick_dir)
    with pytest.raises(ValueError, match="bucket_size"):
        online_volume_clock(ticks_stream, 0.0)


def test_online_cusum_matches_batch_twin(spark, tick_dir):
    """Stream == batch twin bit-exactly (shared _scan_cusum); events
    fire on threshold crossings and reset the accumulator."""
    from marketdatapipeline_spark.streaming import (
        online_cusum,
        online_cusum_batch,
    )

    th = 0.02
    ticks_stream = read_tick_stream(spark, tick_dir)
    got = _run_stream_to_memory(
        spark, online_cusum(ticks_stream, th), "online_cusum"
    ).toPandas()
    ticks = spark.read.schema(TICK_SCHEMA).parquet(tick_dir)
    want = online_cusum_batch(ticks, th).toPandas()

    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)[got.columns]
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert (got["event"] != 0).any()  # fixture actually fires events
    # accumulators stay inside the reset envelope
    assert (got["s_pos"] <= th + 1e-12).all() or (got["event"] == 1).any()
    assert (got.loc[got["event"] == 1, "s_pos"] == 0.0).all()
    assert (got.loc[got["event"] == -1, "s_neg"] == 0.0).all()


def test_online_cusum_rejects_bad_threshold(spark, tick_dir):
    from marketdatapipeline_spark.streaming import online_cusum

    ticks_stream = read_tick_stream(spark, tick_dir)
    with pytest.raises(ValueError, match="threshold"):
        online_cusum(ticks_stream, 0.0)


def test_online_kama_matches_batch_twin_and_pandas(spark, tick_dir):
    """Stream == batch twin bit-exactly (shared _scan_kama), and the
    scan matches an independent pandas restatement of Kaufman's
    definition."""
    from marketdatapipeline_spark.streaming import (
        online_kama,
        online_kama_batch,
    )

    n, fast, slow = 5, 2, 10
    ticks_stream = read_tick_stream(spark, tick_dir)
    got = _run_stream_to_memory(
        spark, online_kama(ticks_stream, n, fast, slow), "online_kama"
    ).toPandas()
    ticks = spark.read.schema(TICK_SCHEMA).parquet(tick_dir)
    want = online_kama_batch(ticks, n, fast, slow).toPandas()

    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)[got.columns]
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)

    # independent reference
    f, s = 2.0 / (fast + 1), 2.0 / (slow + 1)
    for sym, g in got.groupby("symbol"):
        g = g.sort_values("ts").reset_index(drop=True)
        p = g["price"].to_numpy(dtype=float)
        kama = np.full(len(p), np.nan)
        er_ref = np.full(len(p), np.nan)
        k = np.nan
        for i in range(n, len(p)):
            net = abs(p[i] - p[i - n])
            path = np.abs(np.diff(p[i - n : i + 1])).sum()
            er = net / path if path > 0 else 0.0
            er_ref[i] = er
            sc = (er * (f - s) + s) ** 2
            k = p[i] if np.isnan(k) else k + sc * (p[i] - k)
            kama[i] = k
        a = g["kama"].to_numpy(dtype=float)
        np.testing.assert_array_equal(np.isnan(a), np.isnan(kama))
        ok = ~np.isnan(a)
        np.testing.assert_allclose(a[ok], kama[ok], rtol=1e-12)
        e = g["efficiency_ratio"].to_numpy(dtype=float)
        np.testing.assert_allclose(e[ok], er_ref[ok], rtol=1e-12)
        assert ((e[ok] >= 0) & (e[ok] <= 1 + 1e-12)).all()


def test_online_kama_rejects_bad_params(spark, tick_dir):
    from marketdatapipeline_spark.streaming import online_kama

    ticks_stream = read_tick_stream(spark, tick_dir)
    with pytest.raises(ValueError, match="fast"):
        online_kama(ticks_stream, window=5, fast=10, slow=5)


def test_online_bollinger_matches_batch_twin_and_pandas(spark, tick_dir):
    """Stream == batch twin bit-exactly; the scan matches pandas
    rolling(mean/std ddof=1) to FP tolerance — the streaming form of
    the reference's headline indicator."""
    from marketdatapipeline_spark.streaming import (
        online_bollinger,
        online_bollinger_batch,
    )

    n, k = 7, 2.0
    ticks_stream = read_tick_stream(spark, tick_dir)
    got = _run_stream_to_memory(
        spark, online_bollinger(ticks_stream, n, k), "online_boll"
    ).toPandas()
    ticks = spark.read.schema(TICK_SCHEMA).parquet(tick_dir)
    want = online_bollinger_batch(ticks, n, k).toPandas()

    key = ["symbol", "ts"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)[got.columns]
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)

    for sym, g in got.groupby("symbol"):
        g = g.sort_values("ts").reset_index(drop=True)
        p = g["price"]
        mid = p.rolling(n, min_periods=n).mean()
        std = p.rolling(n, min_periods=n).std(ddof=1)
        up, lo = mid + k * std, mid - k * std
        for col, ref in (("bb_middle", mid), ("bb_upper", up), ("bb_lower", lo)):
            a = g[col].to_numpy(dtype=float)
            b = ref.to_numpy(dtype=float)
            np.testing.assert_array_equal(np.isnan(a), np.isnan(b), err_msg=col)
            ok = ~np.isnan(a)
            np.testing.assert_allclose(a[ok], b[ok], rtol=1e-9, err_msg=col)
        # structural band ordering
        ok = ~g["bb_middle"].isna()
        assert (g.loc[ok, "bb_lower"] <= g.loc[ok, "bb_middle"]).all()
        assert (g.loc[ok, "bb_middle"] <= g.loc[ok, "bb_upper"]).all()


def test_online_bollinger_rejects_bad_window(spark, tick_dir):
    from marketdatapipeline_spark.streaming import online_bollinger

    ticks_stream = read_tick_stream(spark, tick_dir)
    with pytest.raises(ValueError, match="window"):
        online_bollinger(ticks_stream, window=1)


# ---------------------------------------------------------------------------
# r9: micro-batch re-slicing property test — the state contract itself
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_stateful_ops_invariant_under_micro_batch_slicing(
    spark, bars_pdf, tmp_path, seed
):
    """The stream==batch parity tests above fix ONE batch slicing
    (file splits); this pins the state contract itself: split the
    same time-ordered tick tape at RANDOM cut points into 1..6
    micro-batches and every stateful operator must produce its batch
    twin's output bit-for-bit regardless of where the boundaries
    fall. Catches any scan that accidentally closes over batch
    boundaries (warmup restarts, per-batch re-initialization,
    watermark-coupled state)."""
    from marketdatapipeline_spark.streaming import (
        online_atr,
        online_atr_batch,
        online_bollinger,
        online_bollinger_batch,
        online_cusum,
        online_cusum_batch,
        online_kama,
        online_kama_batch,
        online_volume_clock,
        online_volume_clock_batch,
    )

    rng = np.random.default_rng(20260815 + seed)
    pdf = bars_pdf.rename(
        columns={"datetime": "ts", "close": "price", "volume": "size"}
    )[["symbol", "ts", "price", "size"]].sort_values("ts", kind="stable")
    n = len(pdf)
    k = int(rng.integers(1, 7))  # 1..6 micro-batches
    cuts = sorted(rng.choice(np.arange(1, n), size=k - 1, replace=False)) if k > 1 else []
    bounds = [0, *[int(c) for c in cuts], n]
    root = str(tmp_path / f"slices{seed}")
    for i in range(len(bounds) - 1):
        spark.createDataFrame(
            pdf.iloc[bounds[i] : bounds[i + 1]], TICK_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/s{i:02d}")

    ticks_batch = spark.read.schema(TICK_SCHEMA).parquet(f"{root}/s*")
    from pyspark.sql import functions as F

    closes = ticks_batch.select(
        "symbol", "ts", F.col("price").alias("close")
    )
    cases = [
        ("atr", lambda s: online_atr(s, window=7),
         online_atr_batch(closes, window=7, order_cols=("ts",))),
        ("boll", lambda s: online_bollinger(s, window=10, n_std=2.0),
         online_bollinger_batch(ticks_batch, window=10, n_std=2.0, order_cols=("ts",))),
        ("kama", lambda s: online_kama(s, window=5, fast=2, slow=10),
         online_kama_batch(ticks_batch, window=5, fast=2, slow=10, order_cols=("ts",))),
        ("vclock", lambda s: online_volume_clock(s, 500.0),
         online_volume_clock_batch(ticks_batch, 500.0)),
        ("cusum", lambda s: online_cusum(s, 0.02),
         online_cusum_batch(ticks_batch, 0.02)),
    ]
    for name, mk_stream, batch_df in cases:
        stream = (
            spark.readStream.schema(TICK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/s*")
        )
        got = _run_stream_to_memory(
            spark, mk_stream(stream), f"reslice_{name}_{seed}"
        ).toPandas()
        want = batch_df.toPandas()
        key = ["symbol", "ts"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)[got.columns]
        assert len(got) == len(want) == n, (name, k)
        pd.testing.assert_frame_equal(got, want, check_exact=True), (name, k)
