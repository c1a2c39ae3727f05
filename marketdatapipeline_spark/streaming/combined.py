"""Single-pass online tick analytics: RSI/MACD AND anchored VWAP from
ONE stateful operator, so the ingestion composition reads and shuffles
every tick exactly once.

``start_ingestion`` originally ran two independent streaming queries
over the same tick directory (one per leg), which read and parsed each
dropped file twice (VERDICT r7 #2). This operator's step calls the two
legs' steps — RSI/MACD from streaming/stateful.py and anchored VWAP
from streaming/vwap.py, unchanged, so the per-leg parity pins (stream
== batch twin == oracle) transfer structurally — on the two slices of
one combined 14-field state vector per symbol (11 indicator fields + 3
VWAP fields), and runs through the same harness as they do. One
groupBy(symbol) shuffle, one state store, one sorted pass per
micro-batch.

Output is the wide union of both legs' rows (one row per tick); the
pipeline's ``foreachBatch`` sink projects the two narrow sink schemas
back out, so everything downstream of ``<out>/indicators`` and
``<out>/vwap`` is byte-compatible with the two-query layout.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from marketdatapipeline_spark.streaming.stateful import (
    STATE_SCHEMA,
    _FRESH_STATE,
    _indicator_step,
    online_operator,
)
from marketdatapipeline_spark.streaming.vwap import (
    VWAP_STATE_SCHEMA,
    _FRESH,
    _vwap_step,
)

__all__ = ["online_ticks", "TICKS_OUTPUT_SCHEMA"]

#: combined state: the indicator vector then the VWAP vector, in their
#: home modules' field orders — a pure concatenation, so either leg's
#: step slices its own fields untouched.
COMBINED_STATE_SCHEMA = StructType(
    list(STATE_SCHEMA.fields) + list(VWAP_STATE_SCHEMA.fields)
)

_N_IND = len(STATE_SCHEMA.fields)

TICKS_OUTPUT_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("ts", TimestampType()),
        StructField("price", DoubleType()),
        StructField("size", DoubleType()),
        StructField("rsi", DoubleType()),
        StructField("macd", DoubleType()),
        StructField("macd_signal", DoubleType()),
        StructField("macd_histogram", DoubleType()),
        StructField("vwap", DoubleType()),
        StructField("vwap_dev", DoubleType()),
    ]
)

_OUT_FIELDS = TICKS_OUTPUT_SCHEMA.fields[2:]  # after symbol, ts


def _ticks_step(
    anchor: str,
    rsi_period: int,
    macd_fast: int,
    macd_slow: int,
    macd_signal: int,
):
    ind_step = _indicator_step(
        rsi_period, macd_fast, macd_slow, macd_signal, "price"
    )
    vwap_step = _vwap_step(anchor)
    names = [f.name for f in _OUT_FIELDS]

    def step(pdf: pd.DataFrame, st: tuple):
        ind, ind_st = ind_step(pdf, st[:_N_IND])
        vw, vwap_st = vwap_step(pdf, st[_N_IND:])
        return pd.concat([ind, vw], axis=1)[names], ind_st + vwap_st

    return step


def online_ticks(
    ticks: DataFrame,
    anchor: str = "day",
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    state_ttl: str | int | None = None,
) -> DataFrame:
    """Continuous RSI/MACD + anchored VWAP over one tick stream
    (``symbol, ts, price, size``), one output row per tick. One
    shuffle, one state store; ``state_ttl`` evicts quiet symbols
    exactly as in the per-leg operators."""
    return online_operator(
        ticks,
        _ticks_step(anchor, rsi_period, macd_fast, macd_slow, macd_signal),
        _FRESH_STATE + _FRESH,
        COMBINED_STATE_SCHEMA,
        _OUT_FIELDS,
        state_ttl,
    )
