"""compute_all_features and its two row layouts (one group per symbol,
halo-overlap chunks) against the per-family operators and each other:
same 56-column output, same values."""

from __future__ import annotations

import numpy as np

from marketdatapipeline_spark.features import (
    arrow_engine,
    compute_all_features,
    compute_momentum_features,
    compute_technical_features,
    compute_temporal_features,
    compute_volatility_features,
    generate_targets,
)
from marketdatapipeline_spark.features.arrow_engine import compute_all_features_arrow
from marketdatapipeline_spark.plan_checks import _plan_children, _seq


def reference_features(df):
    """The parity reference: the public per-family operators, each
    oracle-checked on its own, chained as the reference chains them
    (reference engineering.py:198-226), plus a horizon-1 target."""
    out = compute_technical_features(df)
    out = compute_momentum_features(out)
    out = compute_volatility_features(out)
    out = compute_temporal_features(out)
    return generate_targets(out, 1)


def _assert_same(a, b, atol=1e-9):
    assert sorted(a.columns) == sorted(b.columns)
    assert len(a) == len(b)
    for c in a.columns:
        if a[c].dtype.kind == "f":
            assert np.allclose(
                a[c].to_numpy("float64"),
                b[c].to_numpy("float64"),
                rtol=1e-9,
                atol=atol,
                equal_nan=True,
            ), c
        else:
            assert (a[c].to_numpy() == b[c].to_numpy()).all(), c


def test_engines_agree(spark, bars_df):
    a = (
        compute_all_features(bars_df, target_horizon=1)
        .orderBy("symbol", "datetime")
        .toPandas()
    )
    ref = reference_features(bars_df)
    assert dict(ref.dtypes)["target"] == "tinyint"
    _assert_same(a, ref.orderBy("symbol", "datetime").toPandas())


def _kernel_grouping(df) -> list[str]:
    """Grouping attribute names of the plan's one Python kernel node,
    read from the structured physical plan."""
    nodes, found = [df._jdf.queryExecution().executedPlan()], []
    while nodes:
        node = nodes.pop()
        if node.getClass().getSimpleName() == "FlatMapGroupsInPandasExec":
            found.append([a.name() for a in _seq(node.groupingAttributes())])
        nodes.extend(_plan_children(node))
    assert len(found) == 1, found
    return found[0]


def test_route_cutoff_picks_layout(spark, bars_df, monkeypatch):
    """The size probe routes on average rows per symbol: at the default
    cutoff the 80-rows-per-symbol frame plans one group per symbol;
    with the cutoff below that it plans the chunked layout, which
    groups on (symbol, _blk). Both return the same rows and values."""
    arrow = compute_all_features(bars_df, target_horizon=1)
    assert _kernel_grouping(arrow) == ["symbol"]
    monkeypatch.setattr(arrow_engine, "CHUNKED_ROWS_PER_SYMBOL", 79)
    chunked = compute_all_features(bars_df, target_horizon=1)
    assert _kernel_grouping(chunked) == ["symbol", "_blk"]
    _assert_same(
        arrow.orderBy("symbol", "datetime").toPandas(),
        chunked.orderBy("symbol", "datetime").toPandas(),
        atol=1e-12,
    )


def test_chunked_engine_matches_arrow(spark):
    """Halo-overlap blocked execution == single-task arrow kernel on a
    one-symbol series spanning many blocks (including block boundaries
    and the forward-target tail)."""
    import pandas as pd

    n = 30000
    pdf = pd.DataFrame(
        {
            "symbol": ["X"] * n,
            "datetime": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "bar_id": range(n),
            "open": 100.0 + np.cos(np.arange(n) * 0.21),
            "high": 101.0 + np.sin(np.arange(n) * 0.13),
            "low": 99.0 - np.sin(np.arange(n) * 0.17),
            "close": 100.0 + np.sin(np.arange(n) * 0.37) * 5 + np.arange(n) * 0.001,
            "volume": (np.arange(n) % 1000 + 1).astype("int64"),
        }
    )
    df = spark.createDataFrame(pdf)
    from marketdatapipeline_spark.features.arrow_engine import (
        compute_all_features_chunked,
    )

    a = (
        compute_all_features_arrow(
            df, order_cols=("datetime", "bar_id"), target_horizon=1
        )
        .orderBy("datetime")
        .toPandas()
    )
    c = (
        compute_all_features_chunked(
            df,
            order_cols=("datetime", "bar_id"),
            target_horizon=1,
            block_rows=8192,  # small blocks: several boundaries in 30k rows
        )
        .orderBy("datetime")
        .toPandas()
    )
    assert sorted(a.columns) == sorted(c.columns)
    assert len(a) == len(c) == n - 1
    for col in a.columns:
        if a[col].dtype.kind == "f":
            assert np.allclose(
                a[col].to_numpy("float64"),
                c[col].to_numpy("float64"),
                rtol=1e-9,
                atol=1e-12,
                equal_nan=True,
            ), col
        else:
            assert (a[col].to_numpy() == c[col].to_numpy()).all(), col


def test_arrow_engine_column_contract(spark, bars_df):
    out = compute_all_features_arrow(bars_df, target_horizon=1)
    assert len(out.columns) == 57  # reference's 56 + symbol (SURVEY.md §2.8)
    assert "target" in out.columns and dict(out.dtypes)["target"] == "tinyint"


def test_arrow_engine_regression_target(spark, bars_df):
    out = compute_all_features_arrow(
        bars_df, target_horizon=3, target_type="regression"
    )
    assert dict(out.dtypes)["target"] == "double"
    n_syms = bars_df.select("symbol").distinct().count()
    assert out.count() == bars_df.count() - 3 * n_syms


def test_chunked_engine_multi_symbol_boundaries(spark):
    """Range-blocked execution with SEVERAL symbols whose runs start
    and end inside partitions: the halo handoff must respect symbol
    contiguity (a symbol's antecedents are always the previous
    partition's tail for that symbol, or its own global start)."""
    import pandas as pd

    frames = []
    for i, (sym, n) in enumerate([("A", 9000), ("B", 4000), ("C", 11000)]):
        frames.append(
            pd.DataFrame(
                {
                    "symbol": [sym] * n,
                    "datetime": pd.date_range("2024-01-01", periods=n, freq="1min"),
                    "bar_id": range(n),
                    "open": 100.0 + np.cos(np.arange(n) * (0.11 + i * 0.07)),
                    "high": 101.0 + np.sin(np.arange(n) * 0.13),
                    "low": 99.0 - np.sin(np.arange(n) * 0.17),
                    "close": 100.0
                    + np.sin(np.arange(n) * (0.29 + i * 0.05)) * 5
                    + np.arange(n) * 0.001,
                    "volume": (np.arange(n) % 1000 + 1).astype("int64"),
                }
            )
        )
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    from marketdatapipeline_spark.features.arrow_engine import (
        compute_all_features_chunked,
    )

    a = (
        compute_all_features_arrow(
            df, order_cols=("datetime", "bar_id"), target_horizon=1
        )
        .orderBy("symbol", "datetime")
        .toPandas()
    )
    c = (
        compute_all_features_chunked(
            df,
            order_cols=("datetime", "bar_id"),
            target_horizon=1,
            block_rows=8192,  # 24k rows over ~5 blocks: every symbol crosses
        )
        .orderBy("symbol", "datetime")
        .toPandas()
    )
    assert len(a) == len(c) == 24000 - 3
    for col in a.columns:
        if a[col].dtype.kind == "f":
            assert np.allclose(
                a[col].to_numpy("float64"),
                c[col].to_numpy("float64"),
                rtol=1e-9,
                atol=1e-12,
                equal_nan=True,
            ), col
        else:
            assert (a[col].to_numpy() == c[col].to_numpy()).all(), col


def test_chunked_engine_randomized_shapes(spark):
    """Randomized sweep over symbol counts, row counts, block sizes,
    and forward horizons — the JVM block tagger (r6) must stay
    bit-compatible with the arrow engine for every layout the range
    sampler produces, including symbols straddling partitions and
    multi-copy halo/lead duplication. atol 1e-7: pandas' rolling-std
    carries state from the series start, so block-offset differences
    produce ~1e-10-scale float residue on drifting data (measured) —
    a property of blocked execution itself, not the tagger."""
    import pandas as pd

    from marketdatapipeline_spark.features.arrow_engine import (
        compute_all_features_chunked,
    )

    rng = np.random.default_rng(20260814)
    for trial in range(3):
        n_sym = int(rng.integers(1, 4))
        rows = int(rng.integers(17_000, 30_000))
        fwd = int(rng.integers(1, 4))
        frames = []
        for i in range(n_sym):
            walk = np.cumsum(rng.normal(0, 1, rows)) + 200
            frames.append(
                pd.DataFrame(
                    {
                        "symbol": f"S{i}",
                        "datetime": pd.date_range(
                            "2023-01-01", periods=rows, freq="1min"
                        ),
                        "bar_id": range(rows),
                        "open": walk + rng.normal(0, 0.1, rows),
                        "high": walk + np.abs(rng.normal(0, 0.5, rows)),
                        "low": walk - np.abs(rng.normal(0, 0.5, rows)),
                        "close": walk,
                        "volume": rng.integers(1, 1000, rows).astype("float64"),
                    }
                )
            )
        df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
        kwargs = dict(order_cols=("datetime", "bar_id"), target_horizon=fwd)
        a = (
            compute_all_features_arrow(df, **kwargs)
            .orderBy("symbol", "bar_id")
            .toPandas()
        )
        c = (
            compute_all_features_chunked(df, block_rows=8192, **kwargs)
            .orderBy("symbol", "bar_id")
            .toPandas()
        )
        assert len(a) == len(c) == n_sym * (rows - fwd), (trial, len(a), len(c))
        for col in a.columns:
            if a[col].dtype.kind == "f":
                x = a[col].to_numpy("float64")
                y = c[col].to_numpy("float64")
                ok = np.isclose(x, y, rtol=1e-9, atol=1e-7) | (
                    np.isnan(x) & np.isnan(y)
                )
                assert ok.all(), (trial, col, int((~ok).sum()))
            else:
                assert (a[col].to_numpy() == c[col].to_numpy()).all(), (trial, col)


def test_arrow_engine_rows_per_task_cap(spark, bars_df):
    """The kernel exchange widens with the declared input size (one
    hash exchange either way — only its width changes), and values are
    identical on the widened route. Small inputs keep the plain
    groupBy exchange so AQE coalescing stays available."""
    import re

    from marketdatapipeline_spark.features.arrow_engine import TARGET_ROWS_PER_TASK

    kwargs = dict(order_cols=("datetime",))

    def symbol_repartitions(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return re.findall(
            r"RepartitionByExpression \[symbol[^\]]*\], (\d+)", plan
        )

    small = compute_all_features_arrow(
        bars_df, n_rows=TARGET_ROWS_PER_TASK, **kwargs
    )
    assert symbol_repartitions(small) == []

    n_big = TARGET_ROWS_PER_TASK * 100
    big = compute_all_features_arrow(bars_df, n_rows=n_big, **kwargs)
    assert symbol_repartitions(big) == ["100"]

    base = (
        compute_all_features_arrow(bars_df, **kwargs)
        .orderBy("symbol", "datetime")
        .toPandas()
    )
    wide = big.orderBy("symbol", "datetime").toPandas()
    assert base.columns.tolist() == wide.columns.tolist()
    for col in base.columns:
        x, y = base[col], wide[col]
        if x.dtype.kind == "f":
            import numpy as _np

            ok = (x.to_numpy("float64") == y.to_numpy("float64")) | (
                _np.isnan(x.to_numpy("float64"))
                & _np.isnan(y.to_numpy("float64"))
            )
            assert ok.all(), col
        else:
            assert (x.to_numpy() == y.to_numpy()).all(), col


def test_range_block_layout_identity_placement(spark):
    """r15: the plan-time-boundary layout must (a) place block i in
    physical partition i (the tagger's adjacency contract), (b) keep
    every partition a contiguous range of the key order, and (c) keep
    partitions non-empty — the properties repartitionByRange gave,
    now without its per-action sampling pass."""
    import pandas as pd
    from pyspark.sql import functions as F

    from marketdatapipeline_spark.features.arrow_engine import (
        _range_block_layout,
    )

    n, nb = 50_000, 8
    pdf = pd.DataFrame(
        {
            "symbol": ["X"] * n,
            "datetime": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "bar_id": range(n),
            "close": 100.0 + np.sin(np.arange(n) * 0.37),
        }
    )
    df = spark.createDataFrame(pdf).repartition(16)  # scrambled input
    out = _range_block_layout(df, ["symbol", "datetime", "bar_id"], nb, n)
    got = (
        out.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count("*").alias("cnt"),
            F.min("bar_id").alias("lo"),
            F.max("bar_id").alias("hi"),
        )
        .orderBy("_pid")
        .collect()
    )
    assert len(got) == nb and [r["_pid"] for r in got] == list(range(nb))
    assert all(r["cnt"] > 0 for r in got)
    assert sum(r["cnt"] for r in got) == n
    # contiguous, ordered, non-overlapping ranges in partition order
    for a, b in zip(got, got[1:]):
        assert a["hi"] + 1 == b["lo"], (a, b)
    # the layout is deterministic across actions (plan-time literals):
    again = (
        out.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.min("bar_id").alias("lo"))
        .orderBy("_pid")
        .collect()
    )
    assert [r["lo"] for r in again] == [r["lo"] for r in got]


def test_range_block_layout_fallbacks(spark):
    """nb=1 and nb>MAX_LITERAL_BLOCKS take the repartitionByRange
    fallback; duplicate composite keys (non-strict boundaries) must
    also fall back rather than emit an unbalanced literal tree."""
    import pandas as pd

    from marketdatapipeline_spark.features.arrow_engine import (
        MAX_LITERAL_BLOCKS,
        _range_block_layout,
    )

    n = 4_000
    pdf = pd.DataFrame(
        {
            "symbol": ["X"] * n,
            "bar_id": [7] * n,  # every composite key identical
            "close": np.arange(n, dtype="float64"),
        }
    )
    df = spark.createDataFrame(pdf)
    dup = _range_block_layout(df, ["symbol", "bar_id"], 4, n)
    assert dup.count() == n  # fallback path, values intact
    one = _range_block_layout(df, ["symbol", "bar_id"], 1, n)
    assert one.rdd.getNumPartitions() == 1
    big = _range_block_layout(df, ["symbol", "bar_id"], MAX_LITERAL_BLOCKS + 1, n)
    assert big.count() == n
