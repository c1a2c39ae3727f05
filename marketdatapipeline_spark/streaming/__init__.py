"""Structured Streaming extensions (no reference counterpart).

The reference (ErwinGoneMad/MarketDataPipeline) is strictly batch —
polling HTTP fetch with sleeps (src/data/ingestion.py:231-239) and no
streaming operators of any kind (SURVEY.md §2.6). These modules are the
Spark-native evolution of that ingestion path: a tick stream becomes
watermarked event-time OHLCV bars, and the batch indicator pipeline
gets an online, incremental counterpart with explicit state.

Correctness is defined by batch parity: every streaming operator here
is pinned by a test comparing its ``availableNow`` output against the
equivalent batch computation on the same rows. The stateful operators
(``online_*``) are each one step that the stream and its ``*_batch``
twin share through the harness in stateful.py, so that parity is
structural.
"""

from marketdatapipeline_spark.streaming.bars import bars_from_ticks_batch, ticks_to_bars
from marketdatapipeline_spark.streaming.combined import online_ticks
from marketdatapipeline_spark.streaming.dedup import dedup_batch, dedup_stream
from marketdatapipeline_spark.streaming.ingestion import (
    TICK_SCHEMA,
    decode_tick_frames,
    kafka_tick_stream,
    rate_tick_stream,
    read_tick_stream,
)
from marketdatapipeline_spark.streaming.pipeline import (
    DOC_SCHEMA,
    IngestionPipeline,
    start_ingestion,
)
from marketdatapipeline_spark.streaming.sessions import (
    sessionize_batch,
    sessionize_stream,
)
from marketdatapipeline_spark.streaming.atr import (
    online_atr,
    online_atr_batch,
)
from marketdatapipeline_spark.streaming.bollinger import (
    online_bollinger,
    online_bollinger_batch,
)
from marketdatapipeline_spark.streaming.cusum import (
    online_cusum,
    online_cusum_batch,
)
from marketdatapipeline_spark.streaming.kama import (
    online_kama,
    online_kama_batch,
)
from marketdatapipeline_spark.streaming.volume_clock import (
    online_volume_clock,
    online_volume_clock_batch,
)
from marketdatapipeline_spark.streaming.stateful import (
    online_indicators,
    online_indicators_batch,
)
from marketdatapipeline_spark.streaming.vwap import (
    online_vwap,
    online_vwap_batch,
)

__all__ = [
    "DOC_SCHEMA",
    "IngestionPipeline",
    "start_ingestion",
    "TICK_SCHEMA",
    "read_tick_stream",
    "rate_tick_stream",
    "kafka_tick_stream",
    "decode_tick_frames",
    "ticks_to_bars",
    "bars_from_ticks_batch",
    "dedup_stream",
    "dedup_batch",
    "online_atr",
    "online_atr_batch",
    "online_bollinger",
    "online_bollinger_batch",
    "online_cusum",
    "online_cusum_batch",
    "online_kama",
    "online_kama_batch",
    "online_volume_clock",
    "online_volume_clock_batch",
    "online_indicators",
    "online_indicators_batch",
    "online_ticks",
    "online_vwap",
    "online_vwap_batch",
    "sessionize_batch",
    "sessionize_stream",
]
