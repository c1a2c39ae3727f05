"""Distributed global ranking — ``row_number() OVER (ORDER BY ...)``
without the single-task window.

A global ORDER BY window (``Window.partitionBy(lit(1))``) funnels the
entire table through ONE task: correct at catalog scale, a wall at
100 TB. The classic distributed rank replaces it:

1. ``repartitionByRange`` on the rank order — ranges are disjoint and
   ordered across partitions (Spark's RangePartitioner maps equal keys
   to one partition, so ties never straddle a boundary);
2. per-partition counts collect to the driver (ONE row per partition —
   a scalar-probe-sized collect, same budget as an AQE stat);
3. each partition ranks locally (``row_number`` over the partition id)
   and adds its prefix offset.

The result is bit-identical to the single-task window for a total
order (callers must include a tiebreak column, exactly as they must
for the window version to be deterministic).

The repartitioned frame is scoped-persisted: the count pass and the
rank pass must see the same layout, and RangePartitioner's boundary
sampling is seeded per-plan — two un-cached executions could
legitimately sample different bounds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from marketdatapipeline_spark.caching import scoped_persist

__all__ = ["global_row_number"]


#: below this row count the single-partition window wins locally —
#: one task sorting a few million narrow rows beats the distributed
#: path's extra jobs; above it the range-partitioned path is the only
#: shape that survives
SINGLE_TASK_THRESHOLD = 2_000_000


def global_row_number(
    df: DataFrame,
    *order: Column | str,
    out_col: str = "rk",
    total_col: str | None = None,
    cumsum: dict[str, str] | None = None,
    cumsum_totals: dict[str, str] | None = None,
    num_partitions: int | None = None,
    single_task_threshold: int | None = None,
    size_hint: int | None = None,
) -> DataFrame:
    """``df`` plus a dense 1-based global row number ``out_col`` under
    the total order ``order`` (include a unique tiebreak column —
    same determinism contract as a window ``row_number``).

    ``total_col``: the total row count rides along as an extra column
    (it falls out of the offset pass for free — callers computing
    quantile buckets need it and would otherwise pay a
    ``count(*) OVER ()`` global window).

    ``cumsum``: ``{out_name: input_col}`` — global RUNNING sums over
    the same order (per-partition running sum + the preceding
    partitions' totals), the distributed twin of
    ``sum(x) OVER (ORDER BY ...)``. Restricted by contract to
    integer/long/decimal inputs: the offset addition re-associates
    the sum, which only stays bit-identical to the single-task window
    when addition is exact. ``cumsum_totals``: ``{out_name:
    cumsum_out_name}`` — the grand total of a cumsum column as a
    literal column, free from the same driver pass.

    ``single_task_threshold`` routes by size (like the size probe in
    compute_all_features): the input is persisted and counted once; at
    or below the threshold the classic single-partition window runs — for a
    few million rows one task sorts faster than the distributed
    machinery's extra jobs (range-bounds sampling + offset collect)
    — and above it the range-partitioned path takes over. Both paths
    are value-identical (pinned by parity tests), so routing is
    purely a physical decision. ``size_hint`` lets a caller that
    already knows (even approximately) the row count skip the probe's
    persist+count job entirely — routing is physical, so the hint
    only needs to land on the right side of the threshold; every
    emitted VALUE (total_col, cumsum_totals) is still computed
    exactly from the data, never from the hint.

    Null semantics match the single-task window exactly: a cumsum is
    NULL only while every value so far (across ALL preceding
    partitions) is null, and a cumsum_total of an all-null column is
    NULL — the ``sum() OVER ()`` convention.

    Consumption contract: the distributed path's range layout is
    pinned in the cache registry (RangePartitioner samples bounds
    per-execution, so a recompute after eviction could re-bucket rows
    against stale offsets). Pinned frames are exempt from MAX_LIVE
    eviction but ARE released by ``release_caches()`` — materialize
    the returned frame before the next catalog-query boundary (every
    in-repo consumer does)."""
    if not order:
        raise ValueError("global_row_number needs at least one order column")
    cumsum = dict(cumsum or {})
    for out_name, in_col in cumsum.items():
        kind = dict(df.dtypes).get(in_col, "")
        if not (
            kind in ("tinyint", "smallint", "int", "bigint")
            or kind.startswith("decimal")
        ):
            raise ValueError(
                f"cumsum column {in_col!r} is {kind or 'unknown'}; only "
                "exact (integer/decimal) types keep the distributed "
                "running sum bit-identical to the window version"
            )
    for name, src in (cumsum_totals or {}).items():
        if src not in cumsum:
            raise ValueError(f"cumsum_totals source {src!r} not in cumsum")
    spark = df.sparkSession
    threshold = (
        SINGLE_TASK_THRESHOLD
        if single_task_threshold is None
        else single_task_threshold
    )
    # the window-sum result dtype for each cumsum input (sum over
    # decimal(p,s) widens to decimal(min(p+10,38),s)): both routes cast
    # their running sums and totals to it so the output schema is
    # route-independent and matches the plain window exactly.
    sum_dtype = {
        o: df.select(F.sum(F.col(c)).alias("_t")).schema[0].dataType
        for o, c in cumsum.items()
    }
    if size_hint is not None:
        d0, n_rows = df, int(size_hint)
    else:
        d0 = scoped_persist(df)
        n_rows = d0.count()
    if n_rows <= threshold:
        wall = Window.partitionBy(F.lit(1)).orderBy(*order)
        wfull = wall.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        wrun = wall.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = d0.withColumn(
            out_col, F.row_number().over(wall).cast("long")
        )
        for out_name, in_col in cumsum.items():
            out = out.withColumn(out_name, F.sum(F.col(in_col)).over(wrun))
        if total_col is not None:
            # window count, not lit(n_rows): exact even when routing
            # came from an approximate size_hint, and value-identical
            # otherwise (same single task either way).
            out = out.withColumn(
                total_col, F.count(F.lit(1)).over(wfull).cast("long")
            )
        for name, src in (cumsum_totals or {}).items():
            out = out.withColumn(
                name, F.sum(F.col(cumsum[src])).over(wfull)
            )
        return out

    n = num_partitions or spark.sparkContext.defaultParallelism
    # pin=True: this frame's physical layout IS the correctness
    # contract (offsets below are per-_gpid), and RangePartitioner's
    # bound sampling is seeded per execution — an evicted recompute
    # could re-bucket rows. Never evict; released at query boundary.
    d = scoped_persist(
        d0.repartitionByRange(n, *order).withColumn(
            "_gpid", F.spark_partition_id()
        ),
        pin=True,
    )
    aggs = [F.count(F.lit(1)).alias("_cnt")] + [
        F.sum(F.col(in_col)).alias(f"_s_{out_name}")
        for out_name, in_col in cumsum.items()
    ]
    stats = {r["_gpid"]: r for r in d.groupBy("_gpid").agg(*aggs).collect()}
    count_off: dict[int, int] = {}
    # a None offset means "no non-null value in any preceding
    # partition" — the window's running sum would still be NULL there
    sum_off: dict[str, dict[int, object]] = {o: {} for o in cumsum}
    acc_c = 0
    acc_s: dict[str, object] = {o: None for o in cumsum}
    for pid in sorted(stats):
        count_off[pid] = acc_c
        acc_c += stats[pid]["_cnt"]
        for o in cumsum:
            sum_off[o][pid] = acc_s[o]
            part_sum = stats[pid][f"_s_{o}"]
            if part_sum is not None:
                acc_s[o] = (acc_s[o] or 0) + part_sum
    w = Window.partitionBy("_gpid").orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def _map(offsets: dict, dtype=None):
        if not offsets:  # empty input: no rows will evaluate this,
            return F.create_map(F.lit(0), F.lit(0))  # but it must typecheck
        def _lit(v):
            lit = F.lit(v)
            return lit.cast(dtype) if dtype is not None else lit
        return F.create_map(
            *[
                c
                for k, v in sorted(offsets.items())
                for c in (F.lit(k), _lit(v))
            ]
        )

    out = d.withColumn(
        out_col,
        (F.row_number().over(w) + _map(count_off)[F.col("_gpid")]).cast(
            "long"
        ),
    )
    for out_name, in_col in cumsum.items():
        dt = sum_dtype[out_name]
        run = F.sum(F.col(in_col)).over(wrun)
        off = _map(sum_off[out_name], dt)[F.col("_gpid")]
        # full-precision decimals ((38,s) — any decimal input wider
        # than (28,s) sums to it) would LOSE their last scale digit in
        # the offset addition ((38,s)+(38,s) needs (39,s), resolved by
        # dropping a digit): narrow both addends one digit first so
        # the (37,s)+(37,s) sum re-widens to (38,s) exactly. Headroom
        # contract: running-sum magnitudes < 10^(37-s) (one decade
        # under the type's own ceiling; every in-repo decimal cumsum
        # is a bounded log/return series, orders of magnitude below).
        if isinstance(dt, DecimalType) and dt.precision >= 38:
            addt = DecimalType(37, dt.scale)
            run, off = run.cast(addt), off.cast(addt)
        # window null semantics: NULL only while ALL values so far are
        # null — coalesce(run+off, run, off) reproduces that exactly
        # (run null → carry the preceding partitions' total; off null
        # → this partition's running sum stands alone).
        out = out.withColumn(
            out_name,
            F.coalesce(run + off, run, off).cast(dt),
        )
    out = out.drop("_gpid")
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(acc_c).cast("long"))
    for name, src in (cumsum_totals or {}).items():
        out = out.withColumn(
            name, F.lit(acc_s[src]).cast(sum_dtype[src])
        )
    return out
