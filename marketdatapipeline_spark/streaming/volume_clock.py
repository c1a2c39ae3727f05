"""Online volume-clock bucket assignment — the streaming twin of
``operators/volume_bars.py``.

Batch volume bars assign each row to ``floor(cum_before /
bucket_size)`` via a running-sum window; on an unbounded feed that
cumulative volume IS the state — one number per symbol, carried
across micro-batches with ``applyInPandasWithState`` (the same
O(symbols) state design as streaming/vwap.py's anchored VWAP).

The stream emits the per-tick bucket assignment (append mode);
downstream aggregation to OHLCV-per-bucket composes with any sink
(the bucket id is deterministic, so late aggregation is an ordinary
groupBy). Parity is structural: the stream and the batch twin run one
step (around ``_scan_cum``) through the harness in
streaming/stateful.py, and with integer-valued sizes every prefix
sum is exact, so stream == batch == the window-based
``volume_bars`` bucket column bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from marketdatapipeline_spark.streaming.stateful import (
    batch_twin,
    fields,
    online_operator,
)

__all__ = ["online_volume_clock", "online_volume_clock_batch"]

VC_STATE_SCHEMA = StructType([StructField("cum_volume", DoubleType())])

_FRESH = (0.0,)

_VC_FIELDS = fields("bucket", dtype=LongType()) + fields("cum_volume")


def _scan_cum(sizes, cum: float, bucket_size: float):
    """THE assignment, shared by the stream handler and the batch
    twin: each row's bucket is the bucket its STARTING cumulative
    volume falls in (identical to operators/volume_bars.py)."""
    out = []
    for s in sizes:
        s = float(s) if s == s else 0.0  # NaN size contributes nothing
        out.append((int(cum // bucket_size), cum + s))
        cum += s
    return out, cum


def _vc_step(bucket_size: float):
    def step(pdf: pd.DataFrame, st: tuple):
        vals, cum = _scan_cum(pdf["size"], st[0], bucket_size)
        cols = pd.DataFrame(vals, columns=["bucket", "cum_volume"])
        cols.insert(0, "size", pdf["size"])
        cols.insert(0, "price", pdf["price"])
        return cols, (cum,)

    return step


def online_volume_clock(
    ticks: DataFrame,
    bucket_size: float,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous volume-clock bucket assignment over a tick stream.
    One groupBy(symbol) shuffle; state is ONE float per symbol."""
    if bucket_size <= 0:
        raise ValueError(f"bucket_size must be > 0, got {bucket_size}")
    return online_operator(
        ticks,
        _vc_step(float(bucket_size)),
        _FRESH,
        VC_STATE_SCHEMA,
        fields("price", "size") + _VC_FIELDS,
        state_ttl,
    )


def online_volume_clock_batch(
    ticks: DataFrame,
    bucket_size: float,
    order_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Batch twin of ``online_volume_clock``: adds bucket and
    cum_volume to the input columns."""
    return batch_twin(
        ticks, _vc_step(float(bucket_size)), _FRESH, _VC_FIELDS, order_cols
    )
