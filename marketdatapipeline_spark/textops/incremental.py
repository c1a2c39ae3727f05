"""Incremental near-duplicate ingestion: a persisted MinHash-LSH
store that new corpus batches are deduplicated AGAINST, then appended
to — the production shape of corpus curation, where data arrives in
crawls/drops and each batch must be checked against everything
already accepted without ever rescanning the accepted corpus text.

The store keeps two tables (parquet under one root + a JSON manifest):

- ``keys/``  — (doc_id, band_key): the LSH band keys of every
  accepted document, in the format
  :func:`~marketdatapipeline_spark.textops.dedup.lsh_band_keys` defines.
  Candidate generation against a new batch is ONE equi-join on
  band_key — never a scan of accepted text.
- ``sets/``  — (doc_id, _sh, n_sh): each accepted document's hashed
  shingle set (32-bit md5-derived bigints, the repo's hashed-set
  Jaccard convention) for exact verification of candidates.

Cost per batch: build the batch's fused doc table once (one explode +
one aggregation), one band-key join against ``keys/``, one
verification join against ``sets/`` restricted to candidates, one
append of the accepted rows. Accepted text itself is never stored or
shuffled — only signatures and hash sets (~100 bytes/doc at the
default parameters, independent of document length).

Single-writer batch semantics: ``ingest`` appends after verdicts are
computed; concurrent ingests against one store are not coordinated
(front a queue in production, exactly like any other table append).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from marketdatapipeline_spark.caching import scoped_persist
from marketdatapipeline_spark.data import storefs
from marketdatapipeline_spark.session import active_or
from marketdatapipeline_spark.textops.dedup import (
    _band_pairs,
    _verified_pairs,
    lsh_band_keys,
    minhash_doc_table,
)

__all__ = ["LSHDedupStore", "build_lsh_store"]


def build_lsh_store(
    docs: DataFrame,
    path: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "LSHDedupStore":
    """Initialize a store from the already-accepted corpus (pass an
    empty frame to start from nothing). The seed corpus is taken as-is
    — deduplicate it first (minhash_near_duplicates) if needed."""
    spark = docs.sparkSession
    store = LSHDedupStore(
        path=path,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        id_col=id_col,
    )
    tab = scoped_persist(minhash_doc_table(docs, num_hashes, id_col, text_col, n))
    gens = store._write_generation(tab)
    store._publish({"keys": [gens["keys"]], "sets": [gens["sets"]]})
    storefs.write_json(
        spark,
        path,
        {
            "threshold": threshold,
            "num_hashes": num_hashes,
            "bands": bands,
            "n": n,
            "id_col": id_col,
        },
    )
    return store


@dataclass
class LSHDedupStore:
    path: str
    threshold: float
    num_hashes: int
    bands: int
    n: int
    id_col: str
    # opt-in maintenance policy (NOT persisted in the manifest — an
    # operational knob, not a store property): after every
    # ``auto_compact_every``-th appended generation, ``ingest`` runs
    # ``compact`` so the small-files debt never outgrows one policy
    # window. None = manual compaction only.
    auto_compact_every: int | None = None

    @classmethod
    def load(cls, path: str, spark: SparkSession | None = None) -> "LSHDedupStore":
        spark = active_or(spark)
        return cls(path=path, **storefs.read_json(spark, path))

    # ------------------------------------------------------------------
    # manifest-committed storage (r7): every mutation writes its data
    # files into fresh generation directories (invisible to readers),
    # then publishes ONE numbered commit file naming the exact
    # generation set of BOTH tables. Readers resolve the highest
    # commit. Consequences:
    #
    # * atomic multi-table commits — the old append wrote keys/ then
    #   sets/; a crash between the two left a store whose candidates
    #   could not verify. Now either a batch's keys AND sets are both
    #   visible or neither is.
    # * crash-safe compaction — the old tmp-swap had a documented
    #   window (delete-old before rename-tmp) needing manual recovery.
    #   Now a crash at ANY point leaves the previous commit fully
    #   intact; half-written generations are unreferenced orphans.
    # * snapshot isolation for free — a reader pins a commit, and no
    #   later append can leak into its scan (generations are never
    #   modified in place).
    #
    # Single writer, as documented in the module docstring: commit
    # numbers are allocated by listing, not by consensus.
    # ------------------------------------------------------------------

    def _latest_commit(
        self, spark: SparkSession
    ) -> tuple[int, dict[str, list[str]]]:
        """(commit number, {table: [generation dir names]}); (-1, empty
        lists) for a store with no commits yet."""
        cdir = os.path.join(self.path, "_commits")
        jvm, fs = storefs.fs(spark, cdir)
        p = jvm.org.apache.hadoop.fs.Path(cdir)
        if not fs.exists(p):
            return -1, {"keys": [], "sets": []}
        best = -1
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.endswith(".json"):
                try:
                    best = max(best, int(name[:-5]))
                except ValueError:
                    continue
        if best < 0:
            return -1, {"keys": [], "sets": []}
        return best, storefs.read_json(spark, cdir, f"{best:012d}.json")

    def _publish(
        self, payload: dict[str, list[str]], spark: SparkSession | None = None
    ) -> int:
        """Atomically publish the next commit: write to a dot-tmp name,
        then rename into place (rename within one directory is the
        atomic primitive every Hadoop FS provides)."""
        spark = active_or(spark)
        n, _ = self._latest_commit(spark)
        cdir = os.path.join(self.path, "_commits")
        target = os.path.join(cdir, f"{n + 1:012d}.json")
        tmp = os.path.join(cdir, f".{n + 1:012d}.json.tmp")
        storefs.write_text(spark, tmp, json.dumps(payload))
        jvm, fs = storefs.fs(spark, cdir)
        ok = fs.rename(
            jvm.org.apache.hadoop.fs.Path(tmp),
            jvm.org.apache.hadoop.fs.Path(target),
        )
        if not ok:
            raise RuntimeError(f"commit rename failed: {target}")
        return n + 1

    def _write_generation(self, doc_table: DataFrame) -> dict[str, str]:
        """Write one generation of both tables; returns the generation
        dir name per table. Data is INVISIBLE until _publish names it."""
        token = uuid.uuid4().hex[:16]
        gen = f"gen-{token}"
        lsh_band_keys(doc_table, self.bands, self.id_col).repartition(
            F.col("band_key")
        ).write.mode("overwrite").parquet(os.path.join(self.path, "keys", gen))
        doc_table.select(self.id_col, "_sh", "n_sh").write.mode(
            "overwrite"
        ).parquet(os.path.join(self.path, "sets", gen))
        return {"keys": gen, "sets": gen}

    def _snapshot(self, spark: SparkSession, sub: str) -> DataFrame:
        """Read table ``sub`` pinned to the LATEST COMMIT's generation
        set. The dir list is resolved eagerly here, so a later append
        (new generations + new commit) can never leak into this scan —
        after ``ingest`` appends, a late verdict collection would
        otherwise see the batch's own rows in the 'accepted' side and
        every accepted doc would match itself.

        ``keys`` must hold bigint band keys, the format
        :func:`~marketdatapipeline_spark.textops.dedup.lsh_band_keys`
        writes; a store in an older format (string keys, or the flat
        pre-commit layout with no ``_commits/``) raises and is left
        untouched — rebuild it with ``build_lsh_store``."""
        _, payload = self._latest_commit(spark)
        dirs = [
            os.path.join(self.path, sub, g) for g in payload.get(sub, [])
        ]
        if not dirs:
            raise ValueError(
                f"store at {self.path} has no commits (an empty root, or "
                "the pre-commit flat layout) — build_lsh_store publishes "
                "commit 0 even for an empty seed; rebuild the store with it"
            )
        df = spark.read.parquet(*dirs)
        # r15 switched band keys from decimal strings to xxhash64
        # bigints; a string key never equi-joins a bigint one, so an
        # older store would silently read as "zero matches"
        if sub == "keys":
            key_type = df.schema["band_key"].dataType.simpleString()
            if key_type != "bigint":
                raise ValueError(
                    f"store at {self.path} has {key_type} band keys (the "
                    "pre-r15 string format); band keys are now bigint "
                    "xxhash64 values — rebuild it with build_lsh_store"
                )
        return df

    # -- public committed-snapshot readers ------------------------------
    # The supported way to inspect store contents: pinned to the latest
    # commit, so they never see uncommitted generations, and they stay
    # correct across compactions (a raw directory glob would
    # double-count documents once a compaction-then-append history
    # leaves both consolidated and superseded files on disk).

    def keys(self, spark: SparkSession | None = None) -> DataFrame:
        """(doc_id, band_key) rows of every accepted document, at the
        latest commit."""
        return self._snapshot(active_or(spark), "keys")

    def sets(self, spark: SparkSession | None = None) -> DataFrame:
        """(doc_id, _sh, n_sh) hashed shingle sets of every accepted
        document, at the latest commit."""
        return self._snapshot(active_or(spark), "sets")

    def vacuum(
        self, spark: SparkSession | None = None, older_than_seconds: float = 3600.0
    ) -> int:
        """Delete orphan generation directories — ones no longer (or
        never) named by the latest commit: crash-stranded appends and
        compaction leftovers. Age-gated (modification time older than
        ``older_than_seconds``) so a concurrent writer's just-written,
        not-yet-committed generation is never swept. Returns the number
        of directories removed."""
        import time

        spark = active_or(spark)
        _, payload = self._latest_commit(spark)
        cutoff_ms = (time.time() - older_than_seconds) * 1000.0
        removed = 0
        for sub in ("keys", "sets"):
            live = set(payload.get(sub, []))
            tdir = os.path.join(self.path, sub)
            jvm, fs = storefs.fs(spark, tdir)
            p = jvm.org.apache.hadoop.fs.Path(tdir)
            if not fs.exists(p):
                continue
            for st in fs.listStatus(p):
                name = st.getPath().getName()
                if (
                    st.isDirectory()
                    and name.startswith("gen-")
                    and name not in live
                    and st.getModificationTime() <= cutoff_ms
                ):
                    fs.delete(st.getPath(), True)
                    removed += 1
        return removed

    def compact(
        self,
        spark: SparkSession | None = None,
        vacuum_superseded: bool = True,
    ) -> dict[str, int]:
        """Rewrite both tables into one generation of few large files.
        Every ``ingest`` appends a generation of small part files;
        after many batches the band-key join pays a per-file open cost
        that dwarfs the data (the classic small-files problem).
        Returns {table: files_after}.

        Crash-safe: the consolidated generation is written first
        (invisible), the commit rename publishes it atomically, and
        only then are the superseded generations deleted — a crash
        anywhere leaves either the old commit (plus orphan files) or
        the new one, never a broken store."""
        spark = active_or(spark)
        _, before = self._latest_commit(spark)
        out: dict[str, int] = {}
        gens: dict[str, str] = {}
        token = uuid.uuid4().hex[:16]
        for sub, key in (("keys", "band_key"), ("sets", self.id_col)):
            df = self._snapshot(spark, sub)
            rows = df.count()
            # ~1M rows per output file; at least one
            n_files = max(1, rows // 1_000_000)
            gen = f"gen-{token}"
            df.repartition(n_files, key).write.mode("overwrite").parquet(
                os.path.join(self.path, sub, gen)
            )
            gens[sub] = gen
            out[sub] = n_files
        self._publish({"keys": [gens["keys"]], "sets": [gens["sets"]]}, spark)
        # vacuum the superseded generations (post-commit: losing a race
        # here only leaves orphans, never dangling references).
        # ``vacuum_superseded=False`` defers this to ``vacuum()`` —
        # required when a live reader (e.g. an uncollected verdict
        # frame from the very ingest that triggered auto-compaction)
        # is still pinned to the pre-compaction snapshot.
        if vacuum_superseded:
            for sub in ("keys", "sets"):
                jvm, fs = storefs.fs(spark, self.path)
                for g in before.get(sub, []):
                    fs.delete(
                        jvm.org.apache.hadoop.fs.Path(
                            os.path.join(self.path, sub, g)
                        ),
                        True,
                    )
        return out

    def ingest(self, new_docs: DataFrame, text_col: str = "text") -> DataFrame:
        """Deduplicate a batch against the store (and against itself),
        append the accepted documents' signatures, and return per-doc
        verdicts: ``is_duplicate``, ``dup_of`` (the accepted doc it
        collided with, smallest-id best match), ``jaccard``.

        Within the batch, keep-min-id applies: a doc near-duplicating
        any smaller-id batch doc is dropped (``dup_of`` may itself be
        a dropped doc — chains resolve conservatively; follow them or
        run duplicate_clusters for canonical survivors). Docs with
        fewer than ``n`` tokens carry no shingles and are accepted
        with a null-match verdict."""
        spark = new_docs.sparkSession
        id_col = self.id_col
        tab = scoped_persist(
            minhash_doc_table(new_docs, self.num_hashes, id_col, text_col, self.n)
        )
        new_keys = lsh_band_keys(tab, self.bands, id_col)
        old_keys = self._snapshot(spark, "keys")
        old_sets = self._snapshot(spark, "sets")

        def verified(cand: DataFrame, right_sets: DataFrame, src: int) -> DataFrame:
            """cand(new_id, old_id) -> the verified (id_a=new_id,
            id_b=old_id, jaccard) pairs, tagged ``_src`` (0 store, 1
            batch)."""
            pairs = cand.select(
                F.col("new_id").alias("id_a"), F.col("old_id").alias("id_b")
            )
            return _verified_pairs(
                pairs, tab, right_sets, self.threshold, id_col
            ).withColumn("_src", F.lit(src))

        # vs the store: band-key equi-join, then exact verification
        cand_store = (
            new_keys.join(
                old_keys.withColumnRenamed(id_col, "old_id"), "band_key"
            )
            .select(F.col(id_col).alias("new_id"), "old_id")
            .distinct()
        )

        # within the batch: the band-key self-join, keep-min-id — any
        # verified match to a SMALLER batch id drops a doc, whatever that
        # smaller doc's own fate (conservative: near-dup of a dropped
        # doc is dropped too; follow dup_of chains or run
        # duplicate_clusters for canonical survivors)
        cand_batch = _band_pairs(new_keys, id_col, stream="id_b").select(
            F.col("id_a").alias("old_id"), F.col("id_b").alias("new_id")
        )

        # one pick per new doc over both verified sets: a store match
        # wins over any batch match (_src first), then the highest
        # jaccard, ties to the smallest id — planned once, so the store
        # side is not re-planned for a left_anti against itself
        w = Window.partitionBy("id_a").orderBy(
            "_src", F.desc("jaccard"), "id_b"
        )
        dups = scoped_persist(
            verified(cand_store, old_sets, 0)
            .unionByName(verified(cand_batch, tab, 1))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("id_a").alias("new_id"),
                F.col("id_b").alias("dup_of"),
                "jaccard",
            )
        )
        verdicts = (
            new_docs.select(id_col)
            .join(dups.withColumnRenamed("new_id", id_col), id_col, "left")
            .select(
                id_col,
                F.col("dup_of").isNotNull().alias("is_duplicate"),
                "dup_of",
                "jaccard",
            )
        )
        accepted = tab.join(
            dups.select(F.col("new_id").alias(id_col)), id_col, "left_anti"
        )
        # append = write an (invisible) generation of both tables, then
        # publish one commit naming old + new generations — either the
        # batch's keys AND sets both land or neither does
        _, current = self._latest_commit(spark)
        gens = self._write_generation(accepted)
        self._publish(
            {
                "keys": [*current["keys"], gens["keys"]],
                "sets": [*current["sets"], gens["sets"]],
            },
            spark,
        )
        # opt-in maintenance: once the appended generation count
        # exceeds the policy window, consolidate (compact resets the
        # count to one, so N more batches pass before the next one)
        if (
            self.auto_compact_every is not None
            and len(current["sets"]) + 1 > self.auto_compact_every
        ):
            # deferred deletion: the verdicts frame below is lazy and
            # pinned to the pre-append snapshot; sweeping the
            # superseded generations now would pull its scan dirs out
            # from under the caller. vacuum() reclaims them later.
            self.compact(spark, vacuum_superseded=False)
        return verdicts
