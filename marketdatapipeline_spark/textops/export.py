"""Training-shard export — the last mile of the curation pipeline.

Everything upstream (dedup, quality screens, splits, packing)
produces DataFrames; trainers consume DIRECTORIES of fixed-size
shards plus a manifest saying exactly what is in them. This module
writes that contract:

- one parquet directory per shard (``shard=K/`` partitions — the
  layout every data loader can list and range-assign to workers);
- a ``manifest.json`` with per-shard document/character counts, the
  packing parameters, and corpus totals — the reproducibility
  record (a training run can verify it read exactly what the
  pipeline wrote).

Plan shape: shard assignment is :func:`pack_shards` (bucketed
prefix sum, no global sort); the write is ``partitionBy("shard")``
— Spark routes rows to shard directories in one pass; the manifest
aggregates the tiny (shard, count, chars) table. Nothing collects
document text to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketdatapipeline_spark.data import storefs
from marketdatapipeline_spark.textops.corpus import pack_shards

__all__ = ["export_training_shards", "read_training_shards"]


def export_training_shards(
    df: DataFrame,
    path: str,
    target_chars: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
) -> dict:
    """Write ``df`` as size-balanced training shards under ``path``
    (``data/shard=K/*.parquet`` + ``manifest.json``); returns the
    manifest dict. Rows carry ``id_col``, ``text_col``, and the
    assigned shard; every other input column is preserved."""
    sized = df.withColumn("_n_chars", F.length(F.col(text_col)))
    assignment = pack_shards(
        sized,
        target_chars,
        id_col=id_col,
        size_col="_n_chars",
        n_buckets=n_buckets,
    ).select(id_col, "shard")
    tagged = sized.join(assignment, id_col).drop("_n_chars")
    data_dir = os.path.join(path, "data")
    tagged.write.mode("overwrite").partitionBy("shard").parquet(data_dir)
    stats = (
        tagged.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(F.col(text_col))).cast("long").alias("n_chars"),
        )
        .orderBy("shard")
        .collect()
    )
    manifest = {
        "format": "parquet",
        "version": 1,
        "target_chars": int(target_chars),
        "n_buckets": int(n_buckets),
        "id_col": id_col,
        "text_col": text_col,
        "n_shards": len(stats),
        "n_docs": int(sum(r["n_docs"] for r in stats)),
        "n_chars": int(sum(r["n_chars"] for r in stats)),
        "shards": [
            {
                "shard": int(r["shard"]),
                "n_docs": int(r["n_docs"]),
                "n_chars": int(r["n_chars"]),
            }
            for r in stats
        ],
    }
    storefs.write_json(df.sparkSession, path, manifest)
    return manifest


def read_training_shards(
    spark: SparkSession,
    path: str,
    shards: list[int] | None = None,
    verify: bool = True,
) -> DataFrame:
    """Read an exported shard directory back (optionally a shard
    subset — the per-worker range assignment). ``verify=True`` checks
    the manifest totals against the data actually read (the training
    side of the reproducibility contract) and raises on mismatch."""
    manifest = storefs.read_json(spark, path)
    df = spark.read.parquet(os.path.join(path, "data"))
    if shards is not None:
        df = df.filter(F.col("shard").isin([int(s) for s in shards]))
    if verify:
        want = manifest["shards"]
        if shards is not None:
            want = [s for s in want if s["shard"] in set(shards)]
        got = {
            r["shard"]: (r["n"], r["c"])
            for r in df.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length(F.col(manifest["text_col"])))
                .cast("long")
                .alias("c"),
            )
            .collect()
        }
        for s in want:
            if got.get(s["shard"]) != (s["n_docs"], s["n_chars"]):
                raise ValueError(
                    f"shard {s['shard']} does not match its manifest: "
                    f"wrote {(s['n_docs'], s['n_chars'])}, read "
                    f"{got.get(s['shard'])}"
                )
    return df
