"""Incremental token-budget sequence packing — the streaming twin of
:func:`~marketdatapipeline_spark.textops.corpus.pack_sequences`, in
the persisted-store shape of
:class:`~marketdatapipeline_spark.textops.incremental.LSHDedupStore`:
documents arrive in crawls/drops (or Structured Streaming
micro-batches via ``foreachBatch``), and after every ingest the store
holds the packing assignment for EVERYTHING accepted so far.

Parity contract (what the re-slicing tests pin): the batch walk is
hash-order-deterministic — the assignment is a pure function of the
accepted (id, tokens) SET, not of arrival order. So after any
sequence of ingests, :meth:`IncrementalPackingStore.assignment` is
bit-identical to ``pack_sequences`` over the union of every batch,
however the stream was sliced. The store earns this by re-walking
only the hash buckets a batch touches: a new document changes bin
boundaries only downstream of its own position inside its own
bucket's walk; the other ``n_buckets - 1`` buckets' local
assignments are untouched on disk, and global bin ids are re-derived
from the tiny per-bucket count map at read time.

Store layout (parquet under one root + a JSON manifest):

- ``packed/_b=K/`` — per-bucket local assignments
  ``(id, n_tokens, _local_bin, bin_offset, truncated)``. The walk
  hash ``_h`` is NOT stored: it is a pure function of the id and is
  recomputed on re-walk, so the store never risks hash drift.
- ``manifest.json`` — packing parameters + counters. Parameters are
  fixed at :meth:`create`; an ingest with a mismatched id column
  fails loudly rather than silently repartitioning.

Cost per batch: one hash/bucket projection of the batch, one
partition-pruned read of the touched buckets (never the whole
store), one idempotence anti-join on id (at-least-once sources
re-deliver; a re-delivered id is a no-op, not a duplicate document),
one Arrow walk over the touched buckets, and a write-tmp → rename
swap of exactly those bucket directories, one
:func:`~marketdatapipeline_spark.data.storefs.replace_dir` per
bucket (a crash between buckets leaves previous-generation
directories — re-ingesting the batch repairs them because ingest is
idempotent).

Single-writer batch semantics, like every store in this repo:
concurrent ingests are not coordinated — front a queue in
production.

Scale: state per document is ~25 bytes, independent of text length
(text never enters the store or any shuffle here); per-batch work is
proportional to the touched buckets' accumulated size, and
``n_buckets`` is the knob that bounds it (thousands at cluster
scale, mirroring ``pack_sequences``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketdatapipeline_spark.caching import scoped_persist
from marketdatapipeline_spark.data import storefs
from marketdatapipeline_spark.session import active_or
from marketdatapipeline_spark.textops.corpus import (
    globalize_bins,
    pack_input_rows,
    walk_pack_buckets,
)

__all__ = ["IncrementalPackingStore", "build_packing_store"]


class IncrementalPackingStore:
    """Persisted incremental next-fit packer. Construct via
    :meth:`create` / :meth:`open` / :func:`build_packing_store`."""

    def __init__(self, path: str, manifest: dict):
        self.path = path
        self.manifest = manifest

    # -- lifecycle ----------------------------------------------------

    @classmethod
    def create(
        cls,
        path: str,
        context_tokens: int,
        n_buckets: int = 32,
        id_col: str = "doc_id",
        tokens_col: str = "n_tokens_bpe",
        spark: SparkSession | None = None,
    ) -> "IncrementalPackingStore":
        if context_tokens <= 0:
            raise ValueError("context_tokens must be positive")
        spark = active_or(spark)
        manifest = {
            "context_tokens": int(context_tokens),
            "n_buckets": int(n_buckets),
            "id_col": id_col,
            "tokens_col": tokens_col,
            "id_type": None,  # pinned by the first ingest
            "n_docs": 0,
            "n_batches": 0,
        }
        storefs.write_json(spark, path, manifest)
        return cls(path, manifest)

    @classmethod
    def open(
        cls, path: str, spark: SparkSession | None = None
    ) -> "IncrementalPackingStore":
        return cls(path, storefs.read_json(active_or(spark), path))

    # -- ingest -------------------------------------------------------

    def ingest(
        self, df: DataFrame, spark: SparkSession | None = None
    ) -> dict:
        """Accept a batch: skip already-ingested ids (idempotent
        re-delivery), re-walk the touched buckets, swap their
        directories. Returns ``{"n_new", "n_redelivered",
        "touched_buckets"}``."""
        m = self.manifest
        id_col, cap = m["id_col"], m["context_tokens"]
        spark = spark or df.sparkSession
        id_type = df.schema[id_col].dataType.simpleString()
        if m["id_type"] is None:
            m["id_type"] = id_type
        elif m["id_type"] != id_type:
            raise ValueError(
                f"id column type {id_type!r} != store's {m['id_type']!r}"
            )

        batch = scoped_persist(
            pack_input_rows(
                df, id_col, m["tokens_col"], m["n_buckets"]
            ).dropDuplicates([id_col])
        )
        touched = sorted(
            int(r["_b"]) for r in batch.select("_b").distinct().collect()
        )
        if not touched:
            return {"n_new": 0, "n_redelivered": 0, "touched_buckets": []}

        packed_dir = os.path.join(self.path, "packed")
        existing = self._read_local(spark, buckets=touched)
        if existing is not None:
            prior = existing.select(id_col, "n_tokens")
            fresh = batch.join(
                F.broadcast(prior.select(id_col))
                if m["n_docs"] < 1_000_000
                else prior.select(id_col),
                id_col,
                "left_anti",
            )
            # the full walk input for the touched buckets: survivors
            # re-derive their hash/bucket from the id (pure function)
            all_rows = fresh.select(id_col, "n_tokens").unionByName(prior)
            walk_in = pack_input_rows(
                all_rows.withColumnRenamed("n_tokens", "_nt"),
                id_col,
                "_nt",
                m["n_buckets"],
            )
        else:
            fresh = batch
            walk_in = batch
        fresh = scoped_persist(fresh)
        n_new = fresh.count()
        n_redelivered = batch.count() - n_new

        new_local = walk_pack_buckets(walk_in, cap, id_col, m["id_type"])
        tmp = packed_dir + "__ingest_tmp"
        new_local.write.mode("overwrite").partitionBy("_b").parquet(tmp)
        for b in touched:
            storefs.replace_dir(
                spark, os.path.join(tmp, f"_b={b}"), os.path.join(packed_dir, f"_b={b}")
            )
        storefs.delete(spark, tmp)

        m["n_docs"] += int(n_new)
        m["n_batches"] += 1
        storefs.write_json(spark, self.path, m)
        return {
            "n_new": int(n_new),
            "n_redelivered": int(n_redelivered),
            "touched_buckets": touched,
        }

    def foreach_batch(self):
        """Adapter for Structured Streaming:
        ``stream.writeStream.foreachBatch(store.foreach_batch())``."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.ingest(batch_df)

        return _sink

    # -- read ---------------------------------------------------------

    def assignment(
        self, spark: SparkSession | None = None
    ) -> DataFrame:
        """The current global packing assignment — bit-identical to
        ``pack_sequences`` over every accepted document: ``id``,
        ``n_tokens``, ``bin_id`` (0-based, globally dense),
        ``bin_offset``, ``truncated``."""
        spark = active_or(spark)
        m = self.manifest
        local = self._read_local(spark)
        if local is None:
            return spark.createDataFrame(
                [],
                f"{m['id_col']} {m['id_type'] or 'long'}, n_tokens int, "
                "bin_id int, bin_offset int, truncated boolean",
            )
        return globalize_bins(local, m["id_col"])

    # -- internals ----------------------------------------------------

    def _read_local(
        self, spark: SparkSession, buckets: list[int] | None = None
    ) -> DataFrame | None:
        packed_dir = os.path.join(self.path, "packed")
        if not storefs.exists(spark, packed_dir):
            return None
        df = spark.read.parquet(packed_dir)
        if buckets is not None:
            df = df.filter(F.col("_b").isin(buckets))
        # partition-column type normalization (discovery infers int)
        return df.withColumn("_b", F.col("_b").cast("long"))


def build_packing_store(
    df: DataFrame,
    path: str,
    context_tokens: int,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens_bpe",
) -> IncrementalPackingStore:
    """Create a store at ``path`` and ingest ``df`` as its first
    batch."""
    store = IncrementalPackingStore.create(
        path,
        context_tokens,
        n_buckets=n_buckets,
        id_col=id_col,
        tokens_col=tokens_col,
        spark=df.sparkSession,
    )
    store.ingest(df)
    return store
