"""Fresh-JVM single-variant timing (one measurement per process).

Long-lived local JVMs showed run-to-run drift (GC/worker accumulation),
so comparative engine measurements must each start clean:

    python tools/bench_variant.py {scan|identity|arrow|arrow_cached} [runs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    variant = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from bench import replicated_bars
    from marketdatapipeline_spark.features import compute_all_features
    from marketdatapipeline_spark.session import get_spark

    spark = get_spark(app_name=f"bench_{variant}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    bars = replicated_bars(spark, sf_dir, max(1, round(1_000_000 / n)), multi_symbol=True)

    cached = variant.endswith("_cached")
    if cached:
        bars = bars.persist()
        bars.count()
        variant = variant.removesuffix("_cached")

    if variant == "scan":
        out = bars
    elif variant == "identity":
        out = bars.groupBy("symbol").applyInPandas(lambda p: p, schema=bars.schema)
    elif variant == "arrow":
        out = compute_all_features(
            bars, order_cols=("datetime", "bar_id"), target_horizon=1
        )
    else:
        raise SystemExit(f"unknown variant {variant}")

    for i in range(runs):
        t0 = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        print(f"RESULT {variant}{'_cached' if cached else ''} run{i}: "
              f"{time.perf_counter() - t0:6.2f}s", flush=True)


if __name__ == "__main__":
    main()
