"""Online CUSUM filter — event-driven sampling for ML pipelines.

The symmetric CUSUM filter (Lopez de Prado, *Advances in Financial
Machine Learning* ch. 2.5.2.1) samples bars only when cumulative
drift exceeds a threshold — the event times that feed triple-barrier
labeling (ml/labeling.py), replacing fixed-interval sampling with
information-driven sampling:

``s_pos = max(0, s_pos + ret)``; ``s_neg = min(0, s_neg + ret)``;
when ``s_pos > h`` -> +1 event, reset ``s_pos``;
when ``s_neg < -h`` -> -1 event, reset ``s_neg``.

The reset makes this a NON-linear recurrence — unlike EWMA there is
no block-parallel decomposition and no SQL restatement, so the
operator lives in the streaming family: per-symbol state (the two
accumulators + last price) carried across micro-batches, and one
step (around ``_scan_cusum``) that the stream and its batch twin
share through the harness in streaming/stateful.py (bit-exact
parity, the repo's stream==batch discipline). O(symbols) state; one
groupBy(symbol) shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from marketdatapipeline_spark.streaming.stateful import (
    batch_twin,
    fields,
    online_operator,
)

__all__ = ["online_cusum", "online_cusum_batch"]

CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("n_rows", LongType()),
        StructField("last_price", DoubleType()),
        StructField("s_pos", DoubleType()),
        StructField("s_neg", DoubleType()),
    ]
)

_FRESH = (0, float("nan"), 0.0, 0.0)

_CUSUM_FIELDS = fields("s_pos", "s_neg") + fields("event", dtype=IntegerType())


def _scan_cusum(prices, st: tuple, threshold: float):
    """THE recurrence, shared by the stream handler and the batch
    twin. Returns one (s_pos, s_neg, event) triple per row plus the
    advanced state. Returns use simple price returns; the first row
    of a symbol has no return and never fires."""
    n_rows, last, s_pos, s_neg = st
    out = []
    for p in prices:
        p = float(p)
        if n_rows > 0 and last != 0.0:
            ret = (p - last) / last
            s_pos = max(0.0, s_pos + ret)
            s_neg = min(0.0, s_neg + ret)
        event = 0
        if s_pos > threshold:
            event, s_pos = 1, 0.0
        elif s_neg < -threshold:
            event, s_neg = -1, 0.0
        out.append((s_pos, s_neg, event))
        last = p
        n_rows += 1
    return out, (n_rows, last, s_pos, s_neg)


def _cusum_step(threshold: float, price_col: str):
    def step(pdf: pd.DataFrame, st: tuple):
        prices = pdf[price_col]
        vals, st = _scan_cusum(prices, st, threshold)
        cols = pd.DataFrame(vals, columns=["s_pos", "s_neg", "event"])
        cols["event"] = cols["event"].astype("int32")
        cols.insert(0, "price", prices.astype(float))
        return cols, st

    return step


def online_cusum(
    ticks: DataFrame,
    threshold: float,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous symmetric CUSUM filtering over a tick stream.
    ``event`` is +1/-1 on threshold crossings, 0 otherwise — filter
    on it downstream to get the sampled event times."""
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    return online_operator(
        ticks,
        _cusum_step(float(threshold), "price"),
        _FRESH,
        CUSUM_STATE_SCHEMA,
        fields("price") + _CUSUM_FIELDS,
        state_ttl,
    )


def online_cusum_batch(
    df: DataFrame,
    threshold: float,
    price_col: str = "price",
    order_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Batch twin of ``online_cusum``: adds s_pos/s_neg/event to the
    input columns."""
    return batch_twin(
        df, _cusum_step(float(threshold), price_col), _FRESH, _CUSUM_FIELDS, order_cols
    )
