"""Incremental exact-substring contamination checking — the
streaming twin of
:func:`~marketdatapipeline_spark.textops.dedup.duplicate_span_stats`,
in the persisted-store shape of ``LSHDedupStore`` and
``IncrementalPackingStore``: documents arrive in crawls/drops (or
``foreachBatch`` micro-batches), and each batch is span-audited
against EVERYTHING already accepted without ever rescanning accepted
text — the at-ingest form of Lee et al.'s exact-substring screen.

One-pass semantics, stated precisely (the packing store is
order-free; this store, like ``dedup_stream``, is deliberately not):
the stats a document receives at ingest time are EXACTLY
``duplicate_span_stats`` over (all documents accepted so far ∪ its
own batch), restricted to that document — a position is duplicated
iff its k-gram occurs in the accepted corpus or in another document
of the same batch. Documents accepted earlier do NOT retroactively
gain duplication when a later copy arrives (their stats were
reported when they were screened — the decision point a curation
pipeline actually acts at). The prefix-union parity test pins this
contract against the batch operator under randomized slicing.

Store layout (parquet under one root + a JSON manifest):

- ``grams/`` — the DISTINCT 32-bit gram hashes of every accepted
  document (single ``h`` bigint column; ~8 bytes per distinct gram,
  and gram TEXT never enters the store or any exchange — the same
  hashed-at-the-scan shape as the batch audit). Appends are
  newly-unseen hashes only (the ingest's anti-join), so the store
  never accumulates duplicate hash rows and ``compact`` is about
  file count, not data.
- ``manifest.json`` — k and counters, fixed at :meth:`create`.

Cost per batch: one gram explode + (id, hash) aggregation of the
batch (map-combinable, the audit's own shape), one hash join against
``grams/`` (the contamination verdict AND the novelty anti-join come
from the same join), one append of the novel hashes. At 100 TB the
gram-hash table is a sharded big table and the join is an ordinary
hash-bucketed equi-join — exactly how a production exact-substr
screen runs; Lee et al.'s suffix-array formulation holds MORE state
(the text itself plus the array).

Single-writer batch semantics, like every store in this repo.
At-least-once caveat (unlike the packing store, re-delivery is NOT a
no-op here): a re-run batch screens against its own first attempt's
hashes and reads fully duplicated. The gram state itself stays
duplicate-free (the novelty anti-join), but ``n_docs`` over-counts —
pair with Structured Streaming's checkpointed batch ids (foreachBatch
re-runs whole batches, and the hash state converges) or an upstream
id filter when exact doc counts matter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketdatapipeline_spark.caching import scoped_persist
from marketdatapipeline_spark.data import storefs
from marketdatapipeline_spark.session import active_or
from marketdatapipeline_spark.textops.dedup import md5_int

__all__ = ["SpanDedupStore", "build_span_store"]


class SpanDedupStore:
    """Persisted incremental exact-substring (span) contamination
    store. Construct via :meth:`create` / :meth:`open` /
    :func:`build_span_store`."""

    def __init__(self, path: str, manifest: dict):
        self.path = path
        self.manifest = manifest

    @classmethod
    def create(
        cls,
        path: str,
        k: int = 40,
        id_col: str = "doc_id",
        text_col: str = "text",
        spark: SparkSession | None = None,
    ) -> "SpanDedupStore":
        if k < 2:
            raise ValueError("k must be >= 2")
        spark = active_or(spark)
        manifest = {
            "k": int(k),
            "id_col": id_col,
            "text_col": text_col,
            "n_docs": 0,
            "n_batches": 0,
            "n_gram_hashes": 0,
        }
        storefs.write_json(spark, path, manifest)
        return cls(path, manifest)

    @classmethod
    def open(
        cls, path: str, spark: SparkSession | None = None
    ) -> "SpanDedupStore":
        return cls(path, storefs.read_json(active_or(spark), path))

    # -- ingest -------------------------------------------------------

    def ingest(self, df: DataFrame) -> DataFrame:
        """Screen a batch against everything accepted so far, accept
        it, and return the batch's span-audit stats — the
        ``duplicate_span_stats`` row shape (``id``, ``n_grams``,
        ``dup_grams``, ``dup_frac``) under the one-pass contract
        documented above. The returned frame is materialized (the
        verdicts are computed BEFORE the batch's grams join the
        store, so the lazy plan cannot observe its own append)."""
        m = self.manifest
        k, id_col, text_col = m["k"], m["id_col"], m["text_col"]
        spark = df.sparkSession

        text = F.col(text_col)
        n_grams = F.greatest(F.length(text) - (k - 1), F.lit(0))
        idx = F.when(n_grams > 0, F.sequence(F.lit(1), n_grams)).otherwise(
            F.array().cast("array<int>")
        )
        g = df.select(
            F.col(id_col), text.alias("_t"), F.explode(idx).alias("_p")
        ).select(
            id_col,
            md5_int(F.col("_t").substr(F.col("_p"), F.lit(k))).alias("_h"),
        )
        per_doc = scoped_persist(
            g.groupBy("_h", id_col).agg(F.count("*").alias("_c"))
        )
        batch_nd = per_doc.groupBy("_h").agg(F.count("*").alias("_nd"))

        seen = self._read_hashes(spark)
        if seen is not None:
            # flag membership via a REAL right-side attribute: a
            # lit(True) marker column would constant-fold through the
            # outer join and read true on non-matches too
            flagged = batch_nd.join(
                seen.select(F.col("_h"), F.col("_h").alias("_hs")),
                "_h",
                "left",
            )
        else:
            flagged = batch_nd.withColumn("_hs", F.lit(None).cast("bigint"))
        dup_h = flagged.filter(
            (F.col("_nd") > 1) | F.col("_hs").isNotNull()
        ).select("_h")
        dup_per_doc = (
            per_doc.join(dup_h, "_h")
            .groupBy(id_col)
            .agg(F.sum("_c").cast("long").alias("dup_grams"))
        )
        base = df.select(F.col(id_col), n_grams.cast("long").alias("n_grams"))
        # localCheckpoint, NOT persist: the returned frame's plan must
        # not reference grams/ at all — a cached frame can be evicted
        # (scoped_persist's pop-oldest backstop) and would then
        # RECOMPUTE after the append below, observing its own batch's
        # hashes in the store (every gram suddenly "seen"). Lineage
        # truncation makes the verdicts immune to when the caller
        # collects them.
        stats = (
            base.join(dup_per_doc, id_col, "left")
            .select(
                id_col,
                "n_grams",
                F.coalesce("dup_grams", F.lit(0)).cast("long").alias(
                    "dup_grams"
                ),
            )
            .withColumn(
                "dup_frac",
                F.when(
                    F.col("n_grams") > 0,
                    F.round(
                        F.col("dup_grams") / F.col("n_grams").cast("double"),
                        6,
                    ),
                ),
            )
            .localCheckpoint()
        )
        n_batch_docs = stats.count()

        novel = batch_nd.select("_h")
        if seen is not None:
            novel = novel.join(seen, "_h", "left_anti")
        novel = scoped_persist(novel)
        n_novel = novel.count()
        novel.write.mode("append").parquet(os.path.join(self.path, "grams"))

        m["n_docs"] += int(n_batch_docs)
        m["n_batches"] += 1
        m["n_gram_hashes"] += int(n_novel)
        storefs.write_json(spark, self.path, m)
        return stats

    def foreach_batch(self):
        """Adapter for Structured Streaming:
        ``stream.writeStream.foreachBatch(store.foreach_batch())``.
        Verdicts are computed (and materialized) per micro-batch; read
        them by re-running :meth:`ingest`'s caller-side screen or use
        direct ingests when the stats stream matters."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.ingest(batch_df)

        return _sink

    def compact(self, spark: SparkSession | None = None) -> int:
        """Rewrite ``grams/`` into few files — every ingest appends a
        wave of small part files and probe-join planning cost grows
        with file count, not data. Hash rows are already distinct by
        construction (the ingest anti-join), so this is purely a file
        merge, written to a tmp directory and swapped in by
        :func:`~marketdatapipeline_spark.data.storefs.replace_dir`.
        Returns the hash count."""
        spark = active_or(spark)
        directory = os.path.join(self.path, "grams")
        df = self._read_hashes(spark)
        if df is None:
            return 0
        rows = df.count()
        tmp = directory + "__compact_tmp"
        df.coalesce(max(1, rows // 2_000_000 + 1)).write.mode(
            "overwrite"
        ).parquet(tmp)
        storefs.replace_dir(spark, tmp, directory)
        return rows

    # -- internals ----------------------------------------------------

    def _read_hashes(self, spark: SparkSession) -> DataFrame | None:
        path = os.path.join(self.path, "grams")
        if not storefs.exists(spark, path):
            return None
        return spark.read.parquet(path)


def build_span_store(
    df: DataFrame,
    path: str,
    k: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple["SpanDedupStore", DataFrame]:
    """Create a store at ``path`` and ingest ``df`` as its first
    batch; returns (store, first batch's stats)."""
    store = SpanDedupStore.create(
        path, k=k, id_col=id_col, text_col=text_col, spark=df.sparkSession
    )
    stats = store.ingest(df)
    return store, stats
