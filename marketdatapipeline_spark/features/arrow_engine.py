"""Per-symbol Arrow-vectorized feature engine — the headline fast path.

Computes the full 56-column feature frame (reference
src/features/engineering.py:198-226 + src/features/targets.py:7-45) in
ONE ``groupBy(symbol).applyInPandas`` pass: a single exchange, a single
Arrow round-trip, and vectorized pandas/numpy kernels per symbol.

Why this beats the pure-window-operator plan for the *full* pipeline:
the native plan needs 10+ chained Window nodes (EWMA block scan +
rolling prefix sums + offsets), and Spark's WindowExec copies every
buffered row per node — the allocation bill scales as
nodes x row-width x rows and dominates beyond ~5 nodes. Measured on
1M rows x 56 cols: ~2s for this engine vs ~10s for the chained-window
plan. Individual operators (momentum, volatility, Bollinger, EWMA …)
remain available as native DataFrame transformations — each is
oracle-checked against DuckDB — so ad-hoc relational use stays
Catalyst-planned; this module is the execution strategy for the
all-features batch job, exactly how the reference runs it (vectorized
kernels over one symbol's frame, reference src/main.py:63-87), but
distributed across symbols.

Scale: with one group per symbol (:func:`compute_all_features_arrow`),
per-symbol history must fit one task (same bound as the reference's
per-symbol DataFrame). Thousands of symbols spread across executors; a
monster single-symbol series is the one shape that layout cannot split
— :func:`compute_all_features_chunked` runs the same kernel over
halo-overlap blocks of each symbol instead. ``compute_all_features``
picks the layout from one size probe (``CHUNKED_ROWS_PER_SYMBOL``).

Semantics preserved bit-for-bit with the reference (pandas ewm/rolling
match Polars for these parameters): traps T1 (min_periods), T2 (the
3.14159 literal), F6 (Monday=1 weekday) — see SURVEY.md §2.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.group import GroupedData

from marketdatapipeline_spark.features.ewm import nan_to_null

EPS = 1e-10
PI_LITERAL = 3.14159

#: upper bound on rows funneled through one applyInPandas task when
#: the caller knows the input size (compute_all_features' size probe
#: passes it down). Two reasons: (a) per-task memory/stream volume stays flat as
#: the input grows — the shuffle partition count scales instead of the
#: task size, which is the only shape that survives 100 TB; (b) at
#: ~3M rows/task the 100M-row bench wedged Spark 4's single-threaded
#: PythonRunner on loopback-TCP flow control (see session.py).
#: 1.5M rows/task sustained every run on a quiet host, but a loaded
#: r11 session wedged TWICE at that size (50M and 100M decades, both
#: socket queues full — kernel TCP buffer autotuning shrinks under
#: memory pressure, so the jam threshold is host-state-dependent);
#: 750k doubles the flow-control margin, and bench.py's unit
#: watchdog now converts any residual wedge into a recorded per-query
#: error instead of a round-killing hang. MDP_PY_UDS=1 remains the
#: transport-level cure (no TCP window machinery at all).
TARGET_ROWS_PER_TASK = 750_000

#: average rows per symbol above which compute_all_features runs the
#: chunked layout: one symbol's history is then split across tasks
#: instead of funneled through one.
CHUNKED_ROWS_PER_SYMBOL = 200_000

#: upper bound on block count for the plan-time-boundary layout in
#: :func:`_range_block_layout`. Above it (≈ 67M rows at the default
#: 64 KiB block) the driver-side sample and the generated search tree
#: stop being "tiny" and the engine keeps Spark's repartitionByRange,
#: whose per-action sampling cost amortizes at that scale anyway.
MAX_LITERAL_BLOCKS = 1024

#: fixed sampling seed: boundaries must be identical across plan
#: re-executions and task retries (the reason repartitionByRange's
#: per-action resampling is a hazard here — see _range_block_layout).
_BOUNDARY_SEED = 20260818


def _lex_gt(key_cols: list, values: tuple):
    """Codegen expression: lexicographic (key_cols...) > (values...)."""
    from pyspark.sql import functions as F

    head, *rest = key_cols
    v = F.lit(values[0])
    gt = F.col(head) > v
    if not rest:
        return gt
    return gt | ((F.col(head) == v) & _lex_gt(rest, values[1:]))


def _block_search_tree(key_cols: list, boundaries: list, leaves: list):
    """Binary-search WHEN-tree: returns ``leaves[i]`` where i is the
    number of ``boundaries`` strictly below the row's key (boundaries
    sorted ascending; depth ceil(log2(len+1)) comparisons per row)."""
    from pyspark.sql import functions as F

    def build(lo: int, hi: int):
        # invariant: boundaries[:lo] < key, key <= boundaries[hi:]
        if lo == hi:
            return F.lit(leaves[lo])
        mid = (lo + hi) // 2
        return F.when(
            _lex_gt(key_cols, boundaries[mid]), build(mid + 1, hi)
        ).otherwise(build(lo, mid))

    return build(0, len(boundaries))


def _range_block_layout(df: DataFrame, key_cols: list[str], nb: int, n: int):
    """Contiguous-range layout into exactly ``nb`` partitions with
    boundaries fixed at PLAN TIME — partition i holds the i-th key
    range, sorted within, like ``repartitionByRange(nb, *key_cols)``
    but without its two costs (guide §2.4/§1.1):

    - **No per-action sampling pass.** RangePartitioner re-samples its
      child on EVERY action, so each materialization of the chunked
      engine executed the full upstream (scan + derivation) one extra
      time just to rediscover boundaries. Here the boundaries come
      from ONE plan-time sample job over the key columns only
      (column-pruned child); every action then pays only the real
      exchange. On the 1M-row single-symbol pipeline the per-action
      sampling pass was ~0.3-0.4 s of every ~1.8 s run.
    - **Deterministic layout.** Plan-time boundary literals make the
      row-to-partition map stable across actions AND task retries —
      RangePartitioner's per-action reseeding (from the RDD id) is
      exactly the hazard documented at the block tagger below.

    Mechanics: sample ~128 keys per block (fixed seed), sort on the
    driver, take equi-rank boundaries, and assign each row its block
    with a generated binary-search WHEN-tree over the boundary
    literals (log2(nb) lexicographic comparisons per row, all
    codegen). The tree's leaves emit REMAPPED int values chosen so
    that ``pmod(murmur3(value), nb) == block index``, so a plain hash
    ``repartition(nb, _rblk)`` places block i exactly in partition i
    (pinned against spark_partition_id in tests) and the downstream
    partition-relative tagging is unchanged.

    Non-empty guarantee: boundaries are sampled DATA keys at ranks
    >= 2 apart, so every range holds at least one real row; block
    sizes concentrate at n/nb (sampling error ~1/sqrt(128) per
    boundary), keeping the tagger's size margin (non-final partitions
    >= halo+fwd rows) as ample as the range sampler's.

    Falls back to ``repartitionByRange`` (identical layout semantics,
    the pre-r15 shape) when nb is 1 or exceeds MAX_LITERAL_BLOCKS
    (driver sample and plan size stop being tiny), when the sample is
    too thin for nb distinct equi-rank boundaries, when sampled keys
    contain NULLs (lexicographic literal comparison would null out),
    or when the residue-class remap fails to cover every partition."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    fallback_cols = [F.col(c) for c in key_cols]
    if nb <= 1 or nb > MAX_LITERAL_BLOCKS:
        return df.repartitionByRange(nb, *fallback_cols).sortWithinPartitions(
            *fallback_cols
        )

    frac = min(1.0, (128.0 * nb) / max(n, 1))
    sampled = (
        df.select(*key_cols)
        .sample(withReplacement=False, fraction=frac, seed=_BOUNDARY_SEED)
        .collect()
    )
    keys = sorted(tuple(r) for r in sampled)
    m = len(keys)
    ok = m >= 2 * nb and all(v is not None for k in keys for v in k)
    boundaries: list[tuple] = []
    if ok:
        # rank step >= 2 by the m >= 2*nb guard; strict ascent holds
        # unless the sample drew duplicate keys (possible only when
        # the data itself has duplicate composite keys) — fall back.
        boundaries = [keys[(i * m) // nb] for i in range(1, nb)]
        ok = all(a < b for a, b in zip(boundaries, boundaries[1:]))
    # residue-class remap: leaf value v_i with murmur3(v_i) % nb == i.
    # Murmur3 is evaluated by Spark itself (one trivial local job) so
    # the mapping can never drift from the engine's hash partitioner.
    remap: list[int | None] = [None] * nb
    if ok:
        cand = spark.range(64 * nb).select(
            F.col("id").cast("int").alias("v"),
            F.pmod(F.hash(F.col("id").cast("int")), F.lit(nb)).alias("p"),
        )
        for row in cand.collect():
            if remap[row["p"]] is None:
                remap[row["p"]] = row["v"]
        ok = all(v is not None for v in remap)
    if not ok:
        return df.repartitionByRange(nb, *fallback_cols).sortWithinPartitions(
            *fallback_cols
        )
    blk = _block_search_tree(key_cols, boundaries, remap)
    return (
        df.withColumn("_rblk", blk)
        .repartition(nb, F.col("_rblk"))
        .drop("_rblk")
        .sortWithinPartitions(*fallback_cols)
    )


def _feature_frame(
    pdf: pd.DataFrame,
    order_cols: list[str],
    momentum_periods: tuple[int, ...],
    volatility_windows: tuple[int, ...],
    rsi_period: int,
    macd_fast: int,
    macd_slow: int,
    macd_signal: int,
    bb_period: int,
    bb_std: float,
    datetime_col: str,
    target_horizon: int | None,
    target_type: str,
) -> pd.DataFrame:
    """All features for one symbol's bars (already one group)."""
    pdf = pdf.sort_values(order_cols)
    close = pdf["close"]
    out: dict[str, pd.Series] = {}

    # RSI / MACD (reference engineering.py:36-57; Wilder adjust=False,
    # MACD adjust=True — deliberate asymmetry)
    delta = close.diff()
    gain = (delta > 0).astype("float64") * delta
    loss = (delta < 0).astype("float64") * (-delta)
    avg_gain = gain.ewm(span=rsi_period, adjust=False).mean()
    avg_loss = loss.ewm(span=rsi_period, adjust=False).mean()
    out["rsi"] = 100.0 - 100.0 / (1.0 + avg_gain / (avg_loss + EPS))
    ema_fast = close.ewm(span=macd_fast).mean()
    ema_slow = close.ewm(span=macd_slow).mean()
    macd = ema_fast - ema_slow
    signal = macd.ewm(span=macd_signal).mean()
    out["macd"] = macd
    out["macd_signal"] = signal
    out["macd_histogram"] = macd - signal

    # Bollinger (engineering.py:59-68); rolling(n) masks the first n-1
    # rows (pandas min_periods defaults to the window size) — trap T1
    sma = close.rolling(bb_period).mean()
    sd = close.rolling(bb_period).std(ddof=1)
    upper = sma + sd * bb_std
    lower = sma - sd * bb_std
    out["bb_middle"] = sma
    out["bb_upper"] = upper
    out["bb_lower"] = lower
    out["bb_width"] = (upper - lower) / sma

    # momentum family (engineering.py:73-117)
    for p in momentum_periods:
        shifted = close.shift(p)
        ret = (close - shifted) / (shifted + EPS)
        sma_p = close.rolling(p).mean()
        out[f"return_{p}"] = ret
        out[f"momentum_{p}"] = close - shifted
        out[f"roc_{p}"] = ret * 100
        out[f"sma_{p}"] = sma_p
        out[f"distance_sma_{p}"] = (close - sma_p) / (sma_p + EPS) * 100

    # volatility family (engineering.py:120-157)
    rets = close.pct_change()
    out["returns"] = rets
    has_hl = "high" in pdf.columns and "low" in pdf.columns
    if has_hl:
        hl = (pdf["high"] - pdf["low"]) / close
    for n in volatility_windows:
        out[f"volatility_{n}"] = rets.rolling(n).std(ddof=1)
        out[f"realized_vol_{n}"] = (rets**2).rolling(n).sum()
        if has_hl:
            out[f"hl_range_{n}"] = hl.rolling(n).mean()

    # temporal + cyclic (engineering.py:160-195; traps T2, F6)
    ts = pd.to_datetime(pdf[datetime_col])
    cal = {
        "hour": ts.dt.hour,
        "minute": ts.dt.minute,
        "day_of_week": ts.dt.weekday + 1,
        "day": ts.dt.day,
        "month": ts.dt.month,
    }
    for name, series in cal.items():
        out[name] = series.astype("int32")
    two_pi = 2 * PI_LITERAL
    for name, period in (("hour", 24), ("day_of_week", 7), ("month", 12)):
        angle = cal[name] * two_pi / period
        out[f"{name}_sin"] = np.sin(angle)
        out[f"{name}_cos"] = np.cos(angle)

    # Assemble WITHOUT DataFrame.assign / boolean-mask frame copies:
    # assign() deep-copies and consolidates the ~56 column blocks into
    # one (cols x rows) block — a multi-hundred-MB vstack per group
    # that dominated runtime on large groups. Building the frame once
    # from a column dict keeps one block per column (no consolidation;
    # the Arrow serializer reads column-by-column), and the target
    # filter is a per-column numpy take.
    data: dict[str, np.ndarray] = {c: pdf[c].to_numpy() for c in pdf.columns}
    for name, series in out.items():
        data[name] = series.to_numpy()

    if target_horizon is not None:
        fwd = close.shift(-target_horizon)
        forward_return = (fwd - close) / close
        if target_type == "classification":
            target = (forward_return > 0).astype("float64")
        elif target_type == "regression":
            target = forward_return
        else:
            raise ValueError(f"Unsupported target type: {target_type}")
        target = target.to_numpy(copy=True)
        # Both modes drop exactly the missing-lead tail rows (lead is
        # null there), mirroring the reference's
        # filter(target.is_not_null()): in Polars a NaN forward return
        # from a zero/NaN close is a valid float, NOT null, and is
        # KEPT — so the keep mask must come from the shift, not from
        # isnan(target), or regression would silently drop those rows.
        keep = ~fwd.isna().to_numpy()
        data = {name: arr[keep] for name, arr in data.items()}
        target = target[keep]
        if target_type == "classification":
            target = target.astype("int8")
        data["target"] = target
    return pd.DataFrame(data, copy=False)


def feature_schema_fields(
    has_hl: bool,
    momentum_periods: tuple[int, ...],
    volatility_windows: tuple[int, ...],
    target_horizon: int | None,
    target_type: str,
) -> list[str]:
    """Feature column DDL fragments appended to the input schema by the
    full pipeline — shared by both row layouts."""
    fields = [
        "rsi double", "macd double", "macd_signal double", "macd_histogram double",
        "bb_middle double", "bb_upper double", "bb_lower double", "bb_width double",
    ]
    for p in momentum_periods:
        fields += [
            f"return_{p} double", f"momentum_{p} double", f"roc_{p} double",
            f"sma_{p} double", f"distance_sma_{p} double",
        ]
    fields.append("returns double")
    for n in volatility_windows:
        fields += [f"volatility_{n} double", f"realized_vol_{n} double"]
        if has_hl:
            fields.append(f"hl_range_{n} double")
    fields += [
        "hour int", "minute int", "day_of_week int", "day int", "month int",
        "hour_sin double", "hour_cos double",
        "day_of_week_sin double", "day_of_week_cos double",
        "month_sin double", "month_cos double",
    ]
    if target_horizon is not None:
        fields.append(
            "target tinyint" if target_type == "classification" else "target double"
        )
    return fields


class _Kernel:
    """The per-group feature kernel both layouts run: parameter
    defaults, the output schema (input columns + feature columns), the
    applyInPandas call, and pandas NaN -> Spark NULL over the double
    features so downstream filters and the SQL oracle agree with the
    Polars-null reference semantics."""

    def __init__(
        self,
        df: DataFrame,
        datetime_col: str,
        momentum_periods: tuple[int, ...] | None,
        volatility_windows: tuple[int, ...] | None,
        order_cols: tuple[str, ...] | None,
        rsi_period: int,
        macd_fast: int,
        macd_slow: int,
        macd_signal: int,
        bb_period: int,
        bb_std: float,
        target_horizon: int | None,
        target_type: str,
    ) -> None:
        self.order = list(order_cols or (datetime_col,))
        self.momentum_periods = tuple(momentum_periods or (5, 10, 20, 50))
        self.volatility_windows = tuple(volatility_windows or (10, 20, 60))
        has_hl = "high" in df.columns and "low" in df.columns
        self.fields = feature_schema_fields(
            has_hl, self.momentum_periods, self.volatility_windows,
            target_horizon, target_type,
        )
        self.schema = ", ".join(
            [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
            + self.fields
        )
        self.args = (
            self.order, self.momentum_periods, self.volatility_windows,
            rsi_period, macd_fast, macd_slow, macd_signal,
            bb_period, bb_std, datetime_col, target_horizon, target_type,
        )

    def apply(self, grouped: GroupedData, drop_halo: bool = False) -> DataFrame:
        """Run the kernel per group of ``grouped``. ``drop_halo``: the
        groups carry the chunked layout's ``_blk``/``_halo`` columns;
        halo rows and both columns leave after the kernel."""

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            feat = _feature_frame(pdf, *self.args)
            if drop_halo:
                feat = feat[~feat["_halo"].to_numpy(dtype=bool)]
                feat = feat.drop(columns=["_blk", "_halo"])
            return feat

        out = grouped.applyInPandas(run, schema=self.schema)
        return nan_to_null(
            out, [f.split(" ")[0] for f in self.fields if f.endswith("double")]
        )


def compute_all_features_arrow(
    df: DataFrame,
    datetime_col: str = "datetime",
    momentum_periods: tuple[int, ...] | None = None,
    volatility_windows: tuple[int, ...] | None = None,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] | None = None,
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    bb_period: int = 20,
    bb_std: float = 2.0,
    target_horizon: int | None = None,
    target_type: str = "classification",
    n_rows: int | None = None,
) -> DataFrame:
    """Distributed full-feature computation, one Arrow pass per symbol.

    Same signature semantics as
    :func:`marketdatapipeline_spark.features.engineering.compute_all_features`.

    ``n_rows`` (when the caller knows the input size — the size probe
    in ``compute_all_features`` passes it) widens the kernel exchange so no
    task carries more than ~``TARGET_ROWS_PER_TASK`` rows: an explicit
    hash repartition on the group key satisfies applyInPandas'
    clustering requirement at ANY partition count, so this is one
    exchange either way — only its width changes. Inputs small enough
    for the session default keep the plain groupBy exchange (AQE
    coalescing stays available there).
    """
    kernel = _Kernel(
        df, datetime_col, momentum_periods, volatility_windows, order_cols,
        rsi_period, macd_fast, macd_slow, macd_signal, bb_period, bb_std,
        target_horizon, target_type,
    )
    if n_rows is not None:
        session_parts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        parts = -(-int(n_rows) // TARGET_ROWS_PER_TASK)
        if parts > session_parts:
            df = df.repartition(parts, symbol_col)
    return kernel.apply(df.groupBy(symbol_col))


def compute_all_features_chunked(
    df: DataFrame,
    datetime_col: str = "datetime",
    momentum_periods: tuple[int, ...] | None = None,
    volatility_windows: tuple[int, ...] | None = None,
    symbol_col: str = "symbol",
    order_cols: tuple[str, ...] | None = None,
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    bb_period: int = 20,
    bb_std: float = 2.0,
    target_horizon: int | None = None,
    target_type: str = "classification",
    block_rows: int = 65536,
    halo: int = 4096,
    n_rows: int | None = None,
) -> DataFrame:
    """Halo-overlap blocked execution for monster single-symbol series.

    The per-symbol Arrow engine serializes each symbol onto one task —
    the one shape it cannot split. Here the frame is range-partitioned
    on ``(symbol, *order_cols)`` into ~``block_rows``-sized partitions
    whose blocks compute IN PARALLEL: block b owns partition b's rows
    except its first ``halo`` rows, plus partition b+1's first
    ``halo`` rows, and a row in a partition's head is ALSO duplicated
    into its own partition's block as that block's lookback context
    (rows at positions [halo, halo+fwd) copy back as the forward-
    return lead context). The same vectorized kernel runs per block;
    halo rows are dropped from the output.

    Exactness: because the range sort leads with ``symbol``, each
    symbol's history occupies a CONTIGUOUS run of partitions, so a
    block's first owned row is always immediately preceded (in its
    symbol's sequence) by the ``halo`` duplicated head rows — a symbol
    that STARTS inside the block needs no context and gets none.
    Rolling/lag/lead features are therefore bit-identical (halo >=
    every window length). The EWM recurrence restarts at the halo
    start, dropping carried state older than ``halo`` rows — a
    relative error of r^halo, < 1e-100 at the default halo for every
    span here (pytest pins parity with the arrow engine). The size
    assumption: every non-final range partition holds >= ``halo`` +
    ``fwd`` rows, which the 4x-halo floor on the block size gives the
    range sampler ample margin for.

    Plan shape: one range exchange (the only global coordination is
    the driver-side boundary sampling repartitionByRange already
    does), then all-JVM partition-relative block tagging — bit-split
    of monotonically_increasing_id plus an array+explode emitting the
    ~halo/block_rows duplicates inside codegen — one hash exchange on
    (symbol, block), and independent kernel tasks. The corpus crosses
    the Python boundary exactly once (the kernel), never for
    bookkeeping. No global sort, no single-task stage, no second job.
    At 1000 executors this is the difference between one 100 GB task
    and 1500 x 64 MB tasks.
    """
    import math

    from pyspark.sql import functions as F

    kernel = _Kernel(
        df, datetime_col, momentum_periods, volatility_windows, order_cols,
        rsi_period, macd_fast, macd_slow, macd_signal, bb_period, bb_std,
        target_horizon, target_type,
    )
    longest = max(
        bb_period, rsi_period, macd_slow, macd_signal,
        *kernel.momentum_periods, *kernel.volatility_windows,
    )
    # halo must cover the longest rolling window exactly and the EWM
    # warmup overwhelmingly (r^halo << ulp needs halo >> 36*span)
    halo = max(halo, 64 * longest)
    if block_rows <= halo:
        raise ValueError(f"block_rows ({block_rows}) must exceed halo ({halo})")
    fwd = int(target_horizon or 0)

    n = n_rows if n_rows is not None else df.count()
    par = df.sparkSession.sparkContext.defaultParallelism
    # shrink blocks (down to a 4x-halo floor) until every core has one
    eff_block = min(block_rows, max(4 * halo, math.ceil(n / max(par, 1))))
    nb = max(1, math.ceil(n / eff_block))

    # ---- JVM-side block tagging + halo duplication (no Python pass) --
    # (r6: replaced a full-corpus mapInPandas bookkeeping pass.) Row
    # coordinates come from monotonically_increasing_id, which packs
    # (shuffle partition id, record number); record numbers follow the
    # sorted within-partition order because the id is evaluated above
    # the sort. Everything is PARTITION-RELATIVE, so ONE job suffices
    # and no cross-job layout consistency is needed (repartitionByRange
    # resamples its boundaries per action — the seed derives from the
    # RDD id — so any scheme needing a second job over the exchange
    # would see a different layout; that bit r6's first attempt).
    #
    # Ownership shift instead of tail carry: block b owns partition
    # b's rows EXCEPT its first ``halo`` rows, plus partition b+1's
    # first ``halo`` rows. A row with lpos < halo is therefore owned
    # by block pid-1 and ALSO duplicated (halo=true) into block pid —
    # handing block pid exactly the ``halo`` predecessors of its first
    # owned row. Rows with lpos in [halo, halo+fwd) copy to block
    # pid-1 as the forward-return lead context. All copies are one
    # codegen array+explode; the kernel groups on (symbol, block),
    # sorts, computes, and drops halo rows.
    #
    # Assumptions (same class the previous emit design documented):
    # every non-final range partition holds >= halo + fwd rows — the
    # 4x-halo floor on eff_block gives the boundary sampler ample
    # margin, and order keys are unique so boundaries stay distinct
    # (no empty partitions). Cross-symbol duplicates are harmless: a
    # different-symbol copy lands in a pure-halo (symbol, block) group
    # whose rows are all dropped after the kernel runs.
    #
    # r15: the layout comes from _range_block_layout — plan-time
    # boundary literals instead of repartitionByRange, which re-ran
    # the full upstream as a sampling pass on EVERY action and
    # re-seeded its boundaries per action (the hazard the paragraph
    # above documents). Same contiguous-range-per-partition contract.
    src = _range_block_layout(df, [symbol_col, *kernel.order], nb, n)
    # Materialize the id ONCE, then split bits in a second projection:
    # embedding the same MonotonicallyIncreasingID instance in two
    # output columns is only safe under codegen (each occurrence gets
    # its own counter); an interpreted-projection fallback would bump
    # one shared counter per occurrence and desynchronize _lpid/_lpos.
    with_id = src.withColumn("_mid", F.monotonically_increasing_id())
    tagged = with_id.select(
        *df.columns,
        F.shiftright(F.col("_mid"), 33).alias("_lpid"),
        F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)).alias("_lpos"),
    )
    pid, lpos = F.col("_lpid"), F.col("_lpos")

    def tag(b, h):
        return F.struct(b.cast("int").alias("b"), F.lit(h).alias("h"))

    is_head = (lpos < halo) & (pid > 0)
    own = F.when(is_head, pid - 1).otherwise(pid)
    copies = [
        tag(own, False),
        F.when(is_head, tag(pid, True)),  # lookback halo for block pid
    ]
    if fwd > 0:
        copies.append(  # lead context for block pid-1's last owned rows
            F.when(
                (lpos >= halo) & (lpos < halo + fwd) & (pid > 0),
                tag(pid - 1, True),
            )
        )
    u = tagged.select(
        *df.columns, F.explode(F.array_compact(F.array(*copies))).alias("_t")
    ).select(
        *df.columns,
        F.col("_t.b").alias("_blk"),
        F.col("_t.h").alias("_halo"),
    )

    # Pin the kernel stage's parallelism: an explicit hash repartition
    # on the group keys satisfies applyInPandas' clustering requirement
    # (no second exchange) and is exempt from AQE coalescing, which
    # would otherwise fold the Python-heavy kernel tasks into a few
    # 64MB-advisory partitions and serialize them.
    return kernel.apply(
        u.repartition(4 * nb, symbol_col, "_blk").groupBy(symbol_col, "_blk"),
        drop_halo=True,
    )
