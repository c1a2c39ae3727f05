"""Physical-plan regression audit.

Scale properties the engine depends on — filter pushdown, column
pruning, broadcast placement, bucketed shuffle elimination — are
invisible to row-level tests: a plan can silently regress to a full
scan or an extra exchange and every value still matches. These tests
pin the plan shape itself via ``explain`` output.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _no_cached_plans():
    """Plan pins must see the raw plan: a scoped-persisted frame left
    live by an earlier catalog query (they release at the NEXT catalog
    invocation, not at action end) can canonically match a sub-plan
    here and substitute an InMemoryTableScan, changing exchange
    counts — an in-suite-only flake."""
    from marketdatapipeline_spark.caching import release_caches

    release_caches()
    yield


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_reach_parquet_scan(spark):
    """Predicate pushdown + column pruning: the scan itself must carry
    the filter and read only the referenced columns."""
    from marketdatapipeline_spark.sources.tables import load_table

    df = load_table(spark, SF, "orders").filter(
        F.col("o_custkey") < 100
    ).select("o_orderkey", "o_custkey")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "LessThan(o_custkey,100)" in plan
    # ReadSchema prunes to the two referenced columns
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in read and "o_custkey" in read
    assert "o_totalprice" not in read and "o_orderstatus" not in read


def test_star_join_broadcasts_dimensions(spark):
    """The Q5-shape join must broadcast the dimension side — a shuffled
    sort-merge join against customer/nation/region would add three
    exchanges that explode at 100 TB."""
    import marketdatapipeline_spark.catalog  # noqa: F401 — registers
    from marketdatapipeline_spark.catalog import REGISTRY

    df = REGISTRY["join_revenue_by_nation"].fn(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # the fact-side join keys never hash-exchange the dimension tables
    assert plan.count("BroadcastExchange") >= 1


def test_feature_pipeline_single_symbol_exchange(spark, bars_df):
    """The per-family feature chain must cost ONE hash exchange on
    symbol: every window stage reuses the same partitioning. A second
    hashpartitioning(symbol) exchange means a window spec stopped
    aligning with the established distribution."""
    from tests.test_engines import reference_features

    out = reference_features(bars_df)
    plan = _plan(out)
    assert plan.count("hashpartitioning(symbol") <= 1, plan[:2000]


def test_bucketed_join_eliminates_shuffle(spark, bars_df, tmp_path):
    """Two tables bucketed on the join key must sort-merge-join with
    ZERO shuffle exchanges — the scan is already hash-distributed.
    This is the co-location contract save_bucketed exists for."""
    from marketdatapipeline_spark.data import load_bucketed, save_bucketed

    left = bars_df.select("symbol", "datetime", "close")
    right = bars_df.select("symbol", F.col("volume").alias("vol"))
    save_bucketed(
        left, "t_bars_l", buckets=4, path=str(tmp_path / "l"), sort_cols=None
    )
    save_bucketed(
        right, "t_bars_r", buckets=4, path=str(tmp_path / "r"), sort_cols=None
    )
    try:
        lt, rt = load_bucketed(spark, "t_bars_l"), load_bucketed(spark, "t_bars_r")
        joined = (
            lt.hint("merge")
            .join(rt, "symbol")
            .groupBy("symbol")
            .agg(F.count("*").alias("n"))
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan[:3000]
        # bucket layout also serves the downstream groupBy on the key
        assert joined.count() == lt.select("symbol").distinct().count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bars_l")
        spark.sql("DROP TABLE IF EXISTS t_bars_r")


def test_semi_anti_plans_never_materialize_right_payload(spark):
    """Semi/anti joins must stay semi/anti in the optimized plan (no
    rewrite through a full join + filter that would carry the right
    side's payload)."""
    from marketdatapipeline_spark.sources.tables import load_table

    cust = load_table(spark, SF, "customer")
    orders = load_table(spark, SF, "orders").select("o_custkey")
    semi = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    anti = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    assert "LeftSemi" in _optimized(semi)
    assert "LeftAnti" in _optimized(anti)


@pytest.mark.parametrize("query", ["bars_source", "value_counts"])
def test_catalog_scans_prune_columns(spark, query):
    """Catalog queries over events must not read the full row — props
    (the widest column) only when referenced."""
    import marketdatapipeline_spark.catalog  # noqa: F401 — registers
    from marketdatapipeline_spark.catalog import REGISTRY

    plan = _plan(REGISTRY[query].fn(spark, SF))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read, read


def test_curation_window_shuffle_never_carries_text(spark):
    """documents_curation's keep-min-id window must exchange only
    (doc_id, md5, flag) — hash-partitioning on a projected md5 column,
    never shuffling document text through the window. A regression
    here re-shuffles the whole corpus body at 100 TB."""
    import marketdatapipeline_spark.catalog_operators  # noqa: F401 — registers
    from marketdatapipeline_spark.catalog import REGISTRY

    df = REGISTRY["documents_curation"].fn(spark, SF)
    plan = _plan(df)
    # the window exchange partitions on the projected hash column
    assert "hashpartitioning(_h" in plan
    # no exchange node should list the text column among its outputs:
    # text may only appear scan-side (projections) and in the near-dup
    # branch's shingle explode, both upstream of narrow operators
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_dedup_exact_single_scan_no_text_exchange(spark):
    """dedup_exact_groups must plan ONE documents scan (the duplicate
    injection is a scan-side explode, not a self-union that plans the
    scan twice) and ONE hash exchange — the aggregation's, carrying
    (md5, doc_id) partials. The r14 shape shipped full document text
    through two repartition exchanges before md5 ever ran (the classic
    shuffle-the-payload scale killer, guide §2.3)."""
    import marketdatapipeline_spark.catalog_pipeline  # noqa: F401 — registers
    from marketdatapipeline_spark.catalog import REGISTRY

    df = REGISTRY["dedup_exact_groups"].fn(spark, SF)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1, plan
    # the one exchange partitions on the projected hash, never on text
    assert "text_hash" in exchanges[0], exchanges[0]


def test_asof_join_single_window_exchange(spark):
    """asof_join is one union + one window: exactly one hash exchange
    on the by-key, and the carry is a single struct column (one
    last() window function, not one per payload column)."""
    from datetime import datetime

    from marketdatapipeline_spark.operators import asof_join

    trades = spark.createDataFrame(
        [(1, "A", datetime(2024, 1, 1, 10, 0), 1.0)],
        ["trade_id", "symbol", "ts", "price"],
    )
    quotes = spark.createDataFrame(
        [("A", datetime(2024, 1, 1, 9, 59), 0.9, 1.1, 5.0)],
        ["symbol", "ts", "bid", "ask", "depth"],
    )
    out = asof_join(trades, quotes)
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1
    # one window node computing one last(_pay) — not last() per payload
    assert plan.count("last(_pay") == 1


def test_chunked_engine_python_boundary_only_in_kernel(spark, bars_df):
    """The blocked engine's bookkeeping (block tagging + halo
    duplication) must stay JVM-side: the only Python node in the plan
    is the kernel's FlatMapGroupsInPandas — no MapInPandas pass over
    the corpus (the r6 JVM-tagger guarantee)."""
    from marketdatapipeline_spark.features.arrow_engine import (
        compute_all_features_chunked,
    )

    out = compute_all_features_chunked(
        bars_df, order_cols=("datetime",), target_horizon=1
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # the kernel itself
    assert "MapInPandas" not in plan  # no Python bookkeeping pass
    # exactly one range exchange feeds the tagger
    assert plan.count("rangepartitioning") + plan.count("RangePartitioning") <= 1


def test_chunker_is_narrow(spark):
    """chunk_documents must add ZERO exchanges: chunks inherit the
    parent row's partition (explode + substring are narrow). Any
    shuffle here would move the whole corpus body."""
    from marketdatapipeline_spark.sources.tables import load_table
    from marketdatapipeline_spark.textops.corpus import chunk_documents

    docs = load_table(spark, SF, "documents")
    plan = _plan(chunk_documents(docs, chunk_chars=400, overlap=80))
    assert "Exchange" not in plan


def test_split_sample_is_scan_side(spark):
    """assign_splits / hash_sample are pure row expressions — no
    exchange, and the sample filter sits in the scanned stage so later
    consumers prune work before any shuffle."""
    from marketdatapipeline_spark.sources.tables import load_table
    from marketdatapipeline_spark.textops.corpus import assign_splits, hash_sample

    docs = load_table(spark, SF, "documents")
    assert "Exchange" not in _plan(assign_splits(docs))
    assert "Exchange" not in _plan(hash_sample(docs, 500))


def test_market_moment_operators_single_exchange(spark):
    """realized_moments / return_autocorrelation / candlestick_census /
    amihud_illiquidity must each be ONE symbol exchange: the groupBy
    reuses the window's partitioning (an aliased group key silently
    costs a second exchange — the r7 regression this pins), and the
    self-lag autocorrelation must plan ZERO joins (it is a window,
    not the pairwise join)."""
    from marketdatapipeline_spark.operators.candles import candlestick_census
    from marketdatapipeline_spark.operators.liquidity import (
        amihud_illiquidity,
    )
    from marketdatapipeline_spark.operators.moments import (
        realized_moments,
        return_autocorrelation,
    )
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, SF)
    for name, out in (
        ("moments", realized_moments(bars)),
        ("autocorr", return_autocorrelation(bars)),
        ("census", candlestick_census(bars)),
        ("amihud", amihud_illiquidity(bars)),
    ):
        plan = _plan(out)
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_top_bigram_shuffle_carries_longs(spark):
    """top_bigram_stats must hash each bigram to a bigint inside the
    explode projection so the inter-aggregation exchange ships 8-byte
    keys — on mostly-unique web text the partial agg barely compacts,
    and string keys would move nearly the full text volume at 100 TB."""
    from marketdatapipeline_spark.sources.tables import load_table
    from marketdatapipeline_spark.textops.corpus import top_bigram_stats

    import re

    docs = load_table(spark, SF, "documents")
    out = top_bigram_stats(docs)
    plan = _plan(out)
    saw_bg_exchange = False
    for line in plan.splitlines():
        if "Exchange hashpartitioning" not in line or "bg#" not in line:
            continue
        saw_bg_exchange = True
        # Spark prints long attributes as name#idL — every shuffled bg
        # reference must carry the L suffix (bigint), never a bare
        # string attribute
        refs = re.findall(r"bg#\d+(L?)", line)
        assert refs and all(r == "L" for r in refs), line
    assert saw_bg_exchange, plan


def test_bm25_broadcasts_single_stats_row(spark):
    """bm25_scores must join the 1-row corpus stats back via broadcast
    (BroadcastNestedLoopJoin over a single row), never a shuffled
    cross join, and must not exchange document text."""
    from marketdatapipeline_spark.sources.tables import load_table
    from marketdatapipeline_spark.textops.corpus import bm25_scores

    docs = load_table(spark, SF, "documents")
    plan = _plan(bm25_scores(docs, ("data", "spark")))
    assert "BroadcastNestedLoopJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle-hash set must reach the corpus via a
    broadcast join — shuffling the corpus side against a tiny eval set
    is the classic skew/scale mistake this operator exists to avoid."""
    from pyspark.sql import functions as F

    from marketdatapipeline_spark.sources.tables import load_table
    from marketdatapipeline_spark.textops.corpus import decontaminate

    docs = load_table(spark, SF, "documents")
    out = decontaminate(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        n=3,
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan


def test_pack_shards_no_global_sort_of_rows(spark):
    """pack_shards' per-row running sums must be computed under a
    bucketed partitioning (hashpartitioning on _b), never a
    single-partition global sort of the corpus; only the tiny
    per-bucket offsets frame may single-partition."""
    from marketdatapipeline_spark.sources.tables import load_table
    from marketdatapipeline_spark.textops.corpus import pack_shards

    docs = load_table(spark, SF, "documents")
    plan = _plan(pack_shards(docs, target_chars=50_000))
    assert "hashpartitioning(_b" in plan
    # the offsets frame is broadcast back, not shuffle-joined
    assert "BroadcastHashJoin" in plan


def test_ohlc_volatility_single_exchange(spark, bars_df):
    """All three range-vol estimators ride ONE window exchange on
    symbol — adding estimators must never add exchanges."""
    from marketdatapipeline_spark.operators import ohlc_volatility

    plan = _plan(ohlc_volatility(bars_df, window=20, exact_decimal=True, order_cols=("datetime",)))
    assert plan.count("Exchange hashpartitioning") == 1


def test_cross_sectional_single_exchange(spark, bars_df):
    """Rank + count + both sums share the bucket partitioning: one
    exchange serves every cross-sectional output."""
    from marketdatapipeline_spark.operators import cross_sectional

    plan = _plan(cross_sectional(bars_df, value_decimals=2))
    assert plan.count("Exchange hashpartitioning") == 1


def test_drawdown_single_exchange(spark, bars_df):
    from marketdatapipeline_spark.operators import running_drawdown

    assert _plan(running_drawdown(bars_df, order_cols=("datetime",))).count(
        "Exchange hashpartitioning"
    ) == 1


def test_correlation_prepivot_no_join_and_narrow(spark, bars_df):
    """r8 pre-pivot: at lag 0 the pairwise correlation plans ZERO
    joins — one row per bar index carries an array of (symbol, return)
    structs and a narrow double explode forms the pairs, so each
    return crosses the _idx exchange once (the r7 self-join shuffled
    both legs). Exactly three exchanges (window, index pivot, pair
    agg), partial aggregation before the pair shuffle, and the bar
    payload (open/volume) never moves."""
    from marketdatapipeline_spark.operators import pairwise_return_correlation

    out = pairwise_return_correlation(bars_df, order_cols=("datetime",))
    plan = _plan(out)
    opt = _optimized(out)
    # no shuffled join anywhere: pairs come from the in-stage triangle
    # explode, and the prefix-sum lookups broadcast the tiny pair table
    assert "SortMergeJoin" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") == 2
    # map-side partial aggregation before the pair shuffle
    assert "partial" in plan.lower()
    # only the return columns survive column pruning
    assert "open" not in opt and "volume" not in opt
    # nonzero lag: the join is between two PRE-PIVOTED one-row-per-index
    # tables, never the raw N-row return tables
    lagged = pairwise_return_correlation(
        bars_df, order_cols=("datetime",), lag=1
    )
    lplan = _plan(lagged)
    assert "Join" in lplan
    assert "collect_list" in lplan  # both legs pivot before joining


def test_interval_overlap_join_never_nested_loop(spark):
    """The overlap join must plan as a shuffled/broadcast HASH join on
    (key, bin) — a raw inequality predicate would fall back to a
    nested-loop walk, the exact scale-killer this operator exists to
    avoid."""
    from datetime import datetime

    from marketdatapipeline_spark.operators import interval_overlap_join

    iv = spark.createDataFrame(
        [("u", 1, datetime(2024, 1, 1, 1), datetime(2024, 1, 1, 2))],
        ["user", "iid", "s", "e"],
    )
    out = interval_overlap_join(
        iv,
        iv.select("user", F.col("iid").alias("jid"),
                  F.col("s").alias("s2"), F.col("e").alias("e2")),
        left_bounds=("s", "e"), right_bounds=("s2", "e2"), by=("user",),
    )
    plan = _plan(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


def test_r8_operators_plan_shapes(spark):
    """r8 wave plan pins: variance_ratio is one symbol exchange +
    zero joins (both lags share the window); anchored_twap is one
    (symbol, day) window exchange; pair_spread_zscore plans no join
    (index alignment is a conditional aggregation); rolling beta
    plans no join either (market mean is a window over the index
    partition, r8) and exactly three exchanges (symbol window, index
    window, back to symbol)."""
    from marketdatapipeline_spark.operators import (
        anchored_twap,
        pair_spread_zscore,
        rolling_beta,
        variance_ratio,
    )
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, SF)

    vr = _plan(variance_ratio(bars, k=5))
    assert vr.count("Exchange hashpartitioning") == 1 and "Join" not in vr

    tw = _plan(anchored_twap(bars, exact_decimal=True))
    assert tw.count("Exchange hashpartitioning") == 1 and "Join" not in tw

    pz = _plan(pair_spread_zscore(bars, "0", "1"))
    assert "Join" not in pz and "CartesianProduct" not in pz

    bt = _plan(rolling_beta(bars))
    assert "Join" not in bt, bt
    assert bt.count("Exchange hashpartitioning") == 3, bt


def test_boilerplate_removal_broadcasts_tiny_side(spark):
    """remove_boilerplate_lines: the boilerplate-key set joins as a
    BROADCAST anti-join (it is tiny by construction), and line
    strings never enter the frequency shuffle (bigint keys only)."""
    from marketdatapipeline_spark.sources.tables import load_table
    from marketdatapipeline_spark.textops.corpus import (
        remove_boilerplate_lines,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    plan = _plan(remove_boilerplate_lines(docs))
    assert "BroadcastExchange" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_sql_front_door_views_push_down(spark):
    """register_views: the whole table surface is reachable from
    plain spark.sql, and Catalyst pushes filters/prunes columns
    through the views exactly as through the DataFrame forms."""
    from marketdatapipeline_spark.sources import register_views

    names = register_views(spark, SF)
    assert set(names) >= {"events", "documents", "bars"}
    out = spark.sql(
        "SELECT o_orderkey FROM orders WHERE o_custkey < 100"
    )
    plan = _plan(out)
    assert "LessThan(o_custkey,100)" in plan  # pushed through the view
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_totalprice" not in read  # pruned through the view
    # the derived bars view answers SQL too
    r = spark.sql(
        "SELECT symbol, count(*) n FROM bars GROUP BY symbol ORDER BY symbol"
    ).collect()
    assert len(r) == 10 and all(row["n"] > 0 for row in r)


def test_indicator_wave_single_exchange(spark):
    """r8 indicator wave (operators/indicators.py): ATR-SMA,
    stochastic %K/%D, OBV, and Donchian each plan exactly ONE symbol
    exchange and zero joins — the lag, the rolling picks/sums, and
    the prefix-difference reductions all reuse the same (symbol)
    hash partitioning, so a 100x scale-up shuffles each bar once."""
    from marketdatapipeline_spark.operators.indicators import (
        atr,
        donchian_channels,
        ichimoku,
        on_balance_volume,
        pivot_points,
        stochastic_oscillator,
    )
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, SF)
    for name, out in (
        ("atr_sma", atr(bars, window=14, method="sma")),
        ("stochastic", stochastic_oscillator(bars)),
        ("obv", on_balance_volume(bars)),
        ("donchian", donchian_channels(bars, window=20)),
        ("ichimoku", ichimoku(bars)),
    ):
        plan = _plan(out)
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        assert "Join" not in plan and "CartesianProduct" not in plan, name

    # pivot_points: day-grain agg exchange + the lag window over the
    # tiny per-day table — two exchanges, the second moving ~rows/day
    pv = _plan(pivot_points(bars))
    assert pv.count("Exchange hashpartitioning") == 2, pv
    assert "Join" not in pv and "CartesianProduct" not in pv


def test_r8_second_wave_plan_shapes(spark):
    """The second r8 operator wave holds the one-exchange-per-symbol
    discipline: Williams+MFI chain, CCI, the full backtest, Corwin-
    Schultz, Heikin-Ashi and the Wilder ATR each shuffle every bar
    exactly once and never shuffle-join (the EWMA scan's one join
    broadcasts its small weight table); volume bars add only the
    (symbol, bucket) agg exchange on top of the window's."""
    from marketdatapipeline_spark.operators.backtest import vector_backtest
    from marketdatapipeline_spark.operators.heikin_ashi import heikin_ashi
    from marketdatapipeline_spark.operators.indicators import (
        atr,
        commodity_channel_index,
        money_flow_index,
        williams_r,
    )
    from marketdatapipeline_spark.operators.liquidity import (
        corwin_schultz_spread,
    )
    from marketdatapipeline_spark.operators.volume_bars import volume_bars
    from marketdatapipeline_spark.plan_checks import plan_nodes
    from marketdatapipeline_spark.sources.tables import bars_from_events
    from pyspark.sql import functions as F

    bars = bars_from_events(spark, SF)
    sig = bars.withColumn("sgn", (F.col("close") > 100.0).cast("double"))
    single = (
        ("williams_mfi", money_flow_index(williams_r(bars))),
        ("cci", commodity_channel_index(bars)),
        ("backtest", vector_backtest(sig, "sgn", cost=0.001)),
        ("corwin_schultz", corwin_schultz_spread(bars)),
    )
    for name, out in single:
        plan = _plan(out)
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        assert "CartesianProduct" not in plan, name
    # heikin-ashi and the Wilder ATR ride the all-JVM EWMA scan: its
    # block carries are windows over the one symbol exchange, and no
    # Python worker runs (read from the structured plan)
    for name, out in (
        ("heikin_ashi", heikin_ashi(bars)),
        ("atr_wilder", atr(bars, window=14, method="wilder")),
    ):
        nodes = plan_nodes(out)
        hashed = [
            n for n in nodes
            if n.getClass().getSimpleName() == "ShuffleExchangeExec"
            and n.outputPartitioning().getClass().getSimpleName()
            == "HashPartitioning"
        ]
        python = [
            n.getClass().getSimpleName() for n in nodes
            if n.getClass().getName().startswith(
                "org.apache.spark.sql.execution.python."
            )
        ]
        assert len(hashed) == 1, (name, _plan(out))
        assert python == [], (name, python)
        assert "CartesianProduct" not in _plan(out), name
    vb = _plan(volume_bars(bars, bucket_size=50_000.0))
    assert vb.count("Exchange hashpartitioning") <= 2
    assert "Join" not in vb and "CartesianProduct" not in vb


def test_r8_event_and_ml_plan_shapes(spark):
    """Event study fans out via lag columns (ZERO joins — the whole
    point vs the naive range join); the funnel is one user exchange;
    PSI/winsorize/standardize broadcast one tiny stats row and never
    shuffle the data beyond their aggregations."""
    from pyspark.sql import functions as F

    from marketdatapipeline_spark.ml.scaling import (
        apply_standardizer,
        fit_standardizer,
    )
    from marketdatapipeline_spark.operators.event_study import event_study
    from marketdatapipeline_spark.operators.events import funnel
    from marketdatapipeline_spark.sources.tables import (
        bars_from_events,
        load_table,
    )

    bars = bars_from_events(spark, SF)
    flagged = bars.withColumn("ev", F.col("volume") > 900)
    es = _plan(event_study(flagged, "ev", k=5))
    assert "Join" not in es and "CartesianProduct" not in es

    ev = load_table(spark, SF, "events")
    fu = _plan(funnel(ev, steps=("view", "click", "purchase")))
    assert fu.count("Exchange hashpartitioning") == 1  # groupBy(user)
    assert "SortMergeJoin" not in fu and "CartesianProduct" not in fu

    stats = fit_standardizer(bars, ["close", "volume"])
    z = _plan(apply_standardizer(bars, stats, ["close", "volume"]))
    assert "BroadcastNestedLoopJoin" in z or "BroadcastExchange" in z
    assert "SortMergeJoin" not in z


def test_r9_rolling_queries_plan_prefix_not_sliding(spark):
    """The r9 RollingPlan rewrites must never regress to sliding
    frames: Spark re-evaluates a `ROWS BETWEEN k PRECEDING` aggregate
    over the whole frame per output row (O(rows x k)), while the
    unbounded-preceding running sums these queries now ride are
    incremental. The frame text in the executed plan is the tell."""
    import marketdatapipeline_spark.catalog_corpus  # noqa: F401
    from marketdatapipeline_spark.catalog import EXTENDED_REGISTRY

    for name, frame in [
        ("bars_rolling_sharpe", "59"),
        ("bars_vol_of_vol", "19"),
        ("bars_yang_zhang_vol", "19"),
    ]:
        df = EXTENDED_REGISTRY[name].fn(spark, SF)
        plan = _plan(df)
        assert f"-{frame}, 0" not in plan and f"{frame} PRECEDING" not in plan, (
            name,
            "sliding frame crept back in",
        )
        low = plan.lower()
        assert "unboundedpreceding" in low, name
        # the prefix diffs read the lagged running sums
        assert "lag(" in low, name


def test_price_extremes_block_decomposition_single_exchange(spark):
    """r9 van Herk/Gil-Werman rewrite: rolling min/max via per-block
    prefix/suffix extremes. hash(symbol) must satisfy the
    (symbol, _blk) window clustering — ONE data exchange total, with
    the block windows planned as chained sorts, and no 251-row
    sliding frame anywhere."""
    import marketdatapipeline_spark.catalog_corpus  # noqa: F401
    from marketdatapipeline_spark.catalog import EXTENDED_REGISTRY

    df = EXTENDED_REGISTRY["bars_price_extremes"].fn(spark, SF)
    plan = _plan(df)
    # the 252-row sliding frame is (RowFrame, -251, 0); the legitimate
    # -251 lag of the suffix extremes is (RowFrame, -251, -251)
    assert "-251, 0" not in plan, "sliding min/max frame crept back in"
    n_exchanges = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    )
    assert n_exchanges == 1, plan[:2000]


def test_hurst_prefix_diff_no_block_shuffle(spark, bars_df):
    """r10 hurst rewrite: q-block sums come from prefix-sum
    differences inside the ONE symbol window (running decimal sum +
    one lag per scale), so the old groupBy(symbol, q, block) shuffle
    — whose q=1 groups were singletons, rows x |scales| with no
    map-side combining — is gone. Pin: no join, the window sorts on
    the symbol exchange, and the only aggregations are the tiny
    per-(symbol, q) and per-symbol reductions with partial
    (map-side) combining."""
    from marketdatapipeline_spark.operators.hurst import hurst_exponent

    out = hurst_exponent(bars_df, order_cols=("datetime",))
    plan = _plan(out)
    assert "Join" not in plan
    # one data exchange for the symbol window, one for the
    # per-(symbol, q) aggregation (AQE may add query-stage wrappers,
    # so count hashpartitioning exchanges, not nodes)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial" in plan.lower()
    # the prefix-difference lags are present; the old floor(idx/q)
    # block grouping key is not
    low = plan.lower()
    assert "lag(" in low
    assert "floor(" not in low
