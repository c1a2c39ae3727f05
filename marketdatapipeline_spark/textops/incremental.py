"""Incremental near-duplicate ingestion: a persisted MinHash-LSH
store that new corpus batches are deduplicated AGAINST, then appended
to — the production shape of corpus curation, where data arrives in
crawls/drops and each batch must be checked against everything
already accepted without ever rescanning the accepted corpus text.

The store keeps two tables (parquet under one root + a JSON manifest):

- ``keys/``  — (band_key, doc_id): the LSH band keys of every
  accepted document. Candidate generation against a new batch is ONE
  equi-join on band_key — never a scan of accepted text.
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
from marketdatapipeline_spark.textops.dedup import minhash_doc_table

__all__ = ["LSHDedupStore", "build_lsh_store"]


def _band_key_rows(
    doc_table: DataFrame, num_hashes: int, bands: int, id_col: str
) -> DataFrame:
    """(id, band_key) — one row per band, same key layout as
    lsh_candidate_pairs (r15: xxhash64 of the slice seeded with the
    band index — 8-byte bigint keys in the stored ``keys/`` parquet
    and in every candidate equi-join, instead of ~80-byte decimal
    strings; collision/verification argument at
    :func:`~marketdatapipeline_spark.textops.dedup.lsh_candidate_pairs`)."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    rpb = num_hashes // bands
    keys = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.col(f"mh_{i}") for i in range(b * rpb, (b + 1) * rpb)],
            )
            for b in range(bands)
        ]
    )
    return doc_table.select(F.col(id_col), F.explode(keys).alias("band_key"))


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
        _band_key_rows(
            doc_table, self.num_hashes, self.bands, self.id_col
        ).repartition(F.col("band_key")).write.mode("overwrite").parquet(
            os.path.join(self.path, "keys", gen)
        )
        doc_table.select(self.id_col, "_sh", "n_sh").write.mode(
            "overwrite"
        ).parquet(os.path.join(self.path, "sets", gen))
        return {"keys": gen, "sets": gen}

    def _migrate_legacy(self, spark: SparkSession) -> bool:
        """Upgrade a pre-manifest-commit store (flat part files directly
        under ``keys/`` and ``sets/``, no ``_commits/``) in place: move
        each table's files into a ``gen-legacy-*`` generation directory
        and publish commit 0 naming them. Returns True if a migration
        ran. Single-writer, like every other mutation; a crash
        mid-rename is recoverable by re-running (remaining flat files
        migrate into a second legacy generation)."""
        token = uuid.uuid4().hex[:16]
        # PHASE 1 — validate only (ADVICE r8: the old single loop moved
        # keys/' files and THEN discovered sets/ wasn't migratable,
        # leaving the moved files in an uncommitted gen-legacy-* dir
        # that every retry re-failed past — the store silently read as
        # empty). Nothing mutates until BOTH tables are confirmed
        # migratable. A table counts as migratable if it has flat part
        # files OR stranded gen-legacy-* dirs from a crashed earlier
        # attempt (this method only runs when no commit exists, so any
        # gen-legacy dir is by definition unpublished).
        plan: dict[str, tuple[list, list[str]]] = {}
        for sub in ("keys", "sets"):
            tdir = os.path.join(self.path, sub)
            jvm, fs = storefs.fs(spark, tdir)
            p = jvm.org.apache.hadoop.fs.Path(tdir)
            if not fs.exists(p):
                return False
            flat, stranded = [], []
            for st in fs.listStatus(p):
                name = st.getPath().getName()
                if st.isFile() and name.endswith(".parquet"):
                    flat.append(st.getPath())
                elif st.isDirectory() and name.startswith("gen-legacy-"):
                    stranded.append(name)
            if not flat and not stranded:
                return False
            plan[sub] = (flat, stranded)
        # PHASE 2 — mutate: move flat files into a fresh legacy
        # generation, then publish every legacy generation (new +
        # stranded) in ONE commit. A crash between the two loops is
        # recoverable: the next call finds the files as stranded dirs.
        moved: dict[str, list[str]] = {}
        for sub in ("keys", "sets"):
            tdir = os.path.join(self.path, sub)
            jvm, fs = storefs.fs(spark, tdir)
            flat, stranded = plan[sub]
            gens = list(stranded)
            if flat:
                gen = f"gen-legacy-{token}"
                gdir = jvm.org.apache.hadoop.fs.Path(os.path.join(tdir, gen))
                fs.mkdirs(gdir)
                for f in flat:
                    fs.rename(
                        f,
                        jvm.org.apache.hadoop.fs.Path(
                            os.path.join(tdir, gen, f.getName())
                        ),
                    )
                gens.append(gen)
            moved[sub] = gens
        self._publish(moved, spark)
        return True

    def _snapshot(self, spark: SparkSession, sub: str) -> DataFrame:
        """Read table ``sub`` pinned to the LATEST COMMIT's generation
        set. The dir list is resolved eagerly here, so a later append
        (new generations + new commit) can never leak into this scan —
        after ``ingest`` appends, a late verdict collection would
        otherwise see the batch's own rows in the 'accepted' side and
        every accepted doc would match itself."""
        n, payload = self._latest_commit(spark)
        if n < 0 and self._migrate_legacy(spark):
            _, payload = self._latest_commit(spark)
        dirs = [
            os.path.join(self.path, sub, g) for g in payload.get(sub, [])
        ]
        if not dirs:
            raise ValueError(
                f"store at {self.path} has no commits — build_lsh_store "
                "publishes commit 0 even for an empty seed"
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
        """(band_key, doc_id) rows of every accepted document, at the
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
        new_keys = _band_key_rows(tab, self.num_hashes, self.bands, id_col)
        old_keys = self._snapshot(spark, "keys")
        old_sets = self._snapshot(spark, "sets")

        def best_match(cand: DataFrame, right_sets: DataFrame) -> DataFrame:
            """cand(new_id, old_id) -> (new_id, dup_of, jaccard), the
            highest-jaccard (ties: smallest id) verified match."""
            left = tab.select(
                F.col(id_col).alias("new_id"),
                F.col("_sh").alias("_sh_a"),
                F.col("n_sh").alias("n_a"),
            )
            right = right_sets.select(
                F.col(id_col).alias("old_id"),
                F.col("_sh").alias("_sh_b"),
                F.col("n_sh").alias("n_b"),
            )
            inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
            scored = (
                cand.join(left, "new_id")
                .join(right, "old_id")
                .select(
                    "new_id",
                    "old_id",
                    (
                        inter
                        / (F.col("n_a") + F.col("n_b") - inter).cast("double")
                    ).alias("jaccard"),
                )
                .filter(F.col("jaccard") >= self.threshold)
            )
            w = Window.partitionBy("new_id").orderBy(
                F.desc("jaccard"), F.col("old_id")
            )
            return (
                scored.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("new_id", F.col("old_id").alias("dup_of"), "jaccard")
            )

        # vs the store: band-key equi-join, then exact verification
        cand_store = (
            new_keys.join(
                old_keys.withColumnRenamed(id_col, "old_id"), "band_key"
            )
            .select(F.col(id_col).alias("new_id"), "old_id")
            .distinct()
        )
        store_dups = best_match(cand_store, old_sets)

        # within the batch: same machinery, keep-min-id — any verified
        # match to a SMALLER batch id drops a doc, whatever that
        # smaller doc's own fate (conservative: near-dup of a dropped
        # doc is dropped too; follow dup_of chains or run
        # duplicate_clusters for canonical survivors)
        left_keys = new_keys.select(F.col(id_col).alias("new_id"), "band_key")
        right_keys = new_keys.select(F.col(id_col).alias("old_id"), "band_key")
        cand_batch = (
            left_keys.join(right_keys, "band_key")
            .filter(F.col("old_id") < F.col("new_id"))
            .select("new_id", "old_id")
            .distinct()
        )
        batch_dups = best_match(cand_batch, tab.select(id_col, "_sh", "n_sh"))

        dups = scoped_persist(
            store_dups.unionByName(
                batch_dups.join(
                    store_dups.select("new_id"), "new_id", "left_anti"
                )
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
