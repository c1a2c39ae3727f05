"""Incremental LSH dedup store: cross-batch near-dup detection,
within-batch keep-min-id, store growth, manifest round-trip."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from marketdatapipeline_spark.textops.incremental import (
    LSHDedupStore,
    build_lsh_store,
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
DIFF = "completely unrelated content about spark joins and shuffle plans here"


@pytest.fixture()
def store(spark, tmp_path):
    seed = spark.createDataFrame(
        [(1, BASE), (2, DIFF)], ["doc_id", "text"]
    )
    return build_lsh_store(
        seed, str(tmp_path / "store"), threshold=0.5, num_hashes=16, bands=8
    )


def test_manifest_roundtrip(spark, store):
    loaded = LSHDedupStore.load(store.path, spark)
    assert loaded == store


def test_ingest_flags_cross_batch_duplicates(spark, store):
    batch = spark.createDataFrame(
        [
            (10, BASE + " extra"),          # near-dup of accepted doc 1
            (11, "fresh novel text that shares nothing with the corpus at all"),
        ],
        ["doc_id", "text"],
    )
    v = {r["doc_id"]: r for r in store.ingest(batch).collect()}
    assert v[10]["is_duplicate"] and v[10]["dup_of"] == 1
    assert v[10]["jaccard"] >= 0.5
    assert not v[11]["is_duplicate"] and v[11]["dup_of"] is None

    # the accepted doc (11) is now in the store: re-ingesting it dups
    again = spark.createDataFrame(
        [(20, "fresh novel text that shares nothing with the corpus at all")],
        ["doc_id", "text"],
    )
    v2 = {r["doc_id"]: r for r in store.ingest(again).collect()}
    assert v2[20]["is_duplicate"] and v2[20]["dup_of"] == 11
    # ...and the rejected doc (10) never entered the store. Read
    # through the public committed-snapshot API — the raw directory
    # tree is layout-private (generations, uncommitted orphans).
    ids = {r["doc_id"] for r in store.sets(spark).select("doc_id").collect()}
    assert ids == {1, 2, 11}
    # the snapshot reader stays correct across a compaction (a naive
    # directory glob would double-count once consolidated and
    # superseded generations coexist on disk)
    store.compact(spark)
    ids = {r["doc_id"] for r in store.sets(spark).select("doc_id").collect()}
    assert ids == {1, 2, 11}
    assert {r["doc_id"] for r in store.keys(spark).select("doc_id").collect()} == {1, 2, 11}


def test_ingest_within_batch_keep_min_id(spark, store):
    batch = spark.createDataFrame(
        [
            (30, "entirely new passage with many distinctive tokens inside it"),
            (31, "entirely new passage with many distinctive tokens inside it too"),
        ],
        ["doc_id", "text"],
    )
    v = {r["doc_id"]: r for r in store.ingest(batch).collect()}
    assert not v[30]["is_duplicate"]
    assert v[31]["is_duplicate"] and v[31]["dup_of"] == 30


def test_short_docs_accepted_with_null_verdict(spark, store):
    batch = spark.createDataFrame([(40, "too short")], ["doc_id", "text"])
    v = {r["doc_id"]: r for r in store.ingest(batch).collect()}
    assert not v[40]["is_duplicate"] and v[40]["jaccard"] is None


def test_streaming_ingest_via_foreach_batch(spark, store, tmp_path):
    """The store slots straight into Structured Streaming as the
    foreachBatch sink: each micro-batch dedups against everything
    accepted before it (earlier batches included) — the streaming form
    of corpus ingestion, complementing the watermarked exact dedup."""
    src = str(tmp_path / "stream_src")
    b1 = spark.createDataFrame(
        [(50, "streaming passage with plenty of distinctive words in it")],
        ["doc_id", "text"],
    )
    b1.write.mode("overwrite").parquet(src)

    verdicts = []

    def sink(batch_df, batch_id):
        verdicts.extend(store.ingest(batch_df).collect())

    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.schema("doc_id BIGINT, text STRING")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # second file lands; the shared checkpoint means the restarted
    # query processes ONLY it — and its doc near-dups batch one's
    spark.createDataFrame(
        [(51, "streaming passage with plenty of distinctive words in it also")],
        ["doc_id", "text"],
    ).write.mode("append").parquet(src)
    run_once()

    by_id = {r["doc_id"]: r for r in verdicts}
    assert len(verdicts) == 2  # checkpoint prevented re-ingesting 50
    assert not by_id[50]["is_duplicate"]
    assert by_id[51]["is_duplicate"] and by_id[51]["dup_of"] == 50


def test_compact_preserves_contents_and_shrinks_files(spark, store, tmp_path):
    import glob

    for i in range(3):  # several appends -> several part-file waves
        store.ingest(
            spark.createDataFrame(
                [(100 + i, f"unique batch number {i} text with its own words {i}")],
                ["doc_id", "text"],
            )
        ).collect()
    sets_dir = os.path.join(store.path, "sets")
    before_files = glob.glob(os.path.join(sets_dir, "gen-*", "*.parquet"))
    before = {
        (r["doc_id"], r["n_sh"])
        for r in store._snapshot(spark, "sets").select("doc_id", "n_sh").collect()
    }
    res = store.compact(spark)
    after_files = glob.glob(os.path.join(sets_dir, "gen-*", "*.parquet"))
    assert res == {"keys": 1, "sets": 1}
    assert len(after_files) < len(before_files)
    after = {
        (r["doc_id"], r["n_sh"])
        for r in store._snapshot(spark, "sets").select("doc_id", "n_sh").collect()
    }
    assert after == before
    # compact vacuums the superseded generations — only the new one left
    assert len(glob.glob(os.path.join(sets_dir, "gen-*"))) == 1
    # the store still works post-compact: a dup of an old doc is caught
    v = {
        r["doc_id"]: r
        for r in store.ingest(
            spark.createDataFrame(
                [(200, "unique batch number 0 text with its own words 0 yes")],
                ["doc_id", "text"],
            )
        ).collect()
    }
    assert v[200]["is_duplicate"] and v[200]["dup_of"] == 100


def test_vacuum_removes_orphans_keeps_referenced(spark, store):
    """Crash-stranded generations (written, never committed) are swept
    by vacuum; everything the latest commit references survives."""
    import glob

    from marketdatapipeline_spark.textops.dedup import minhash_doc_table

    ghost = minhash_doc_table(
        spark.createDataFrame(
            [(999, "orphan generation words never published to any commit")],
            ["doc_id", "text"],
        ),
        store.num_hashes, store.id_col, "text", store.n,
    )
    store._write_generation(ghost)
    before = {r["doc_id"] for r in store.sets(spark).select("doc_id").collect()}
    assert len(glob.glob(os.path.join(store.path, "sets", "gen-*"))) == 2
    # age gate: a freshly written generation (a writer mid-append) is
    # never swept with the default 1h window...
    assert store.vacuum(spark) == 0
    # ...but is with the gate disabled
    assert store.vacuum(spark, older_than_seconds=0.0) == 2  # keys + sets
    assert len(glob.glob(os.path.join(store.path, "sets", "gen-*"))) == 1
    after = {r["doc_id"] for r in store.sets(spark).select("doc_id").collect()}
    assert after == before


def test_auto_compact_policy(spark, tmp_path):
    """auto_compact_every=N: N batches trigger exactly one compaction
    (generation count collapses back to 1); verdicts from the
    triggering ingest stay collectible (deferred vacuum)."""
    import glob

    seed = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    store = build_lsh_store(
        seed, str(tmp_path / "auto"), threshold=0.5, num_hashes=16, bands=8
    )
    store.auto_compact_every = 3
    verdicts = []
    for i in range(3):
        v = store.ingest(
            spark.createDataFrame(
                [(10 + i, f"distinct passage number {i} with words of its own {i}")],
                ["doc_id", "text"],
            )
        )
        verdicts.append(v.collect())  # collect AFTER ingest returned (post-compact on i==2)
    _, payload = store._latest_commit(spark)
    assert len(payload["sets"]) == 1  # exactly one compaction consolidated all 4 gens
    assert all(not r[0]["is_duplicate"] for r in verdicts)
    # superseded generations linger as orphans until vacuum
    assert len(glob.glob(os.path.join(store.path, "sets", "gen-*"))) > 1
    store.vacuum(spark, older_than_seconds=0.0)
    assert len(glob.glob(os.path.join(store.path, "sets", "gen-*"))) == 1
    ids = {r["doc_id"] for r in store.sets(spark).select("doc_id").collect()}
    assert ids == {1, 10, 11, 12}


def test_flat_layout_store_fails_loudly_and_stays_untouched(spark, store, tmp_path):
    """A store in the pre-commit flat layout (part files directly under
    keys/ and sets/, no _commits/) holds the string band keys of its
    time. It cannot be read as bigint keys, so ingest must raise and
    point at build_lsh_store without moving a single file."""
    import json

    flat = tmp_path / "flat"
    store.keys(spark).select(
        "doc_id", F.concat_ws("|", F.lit("b0"), "band_key").alias("band_key")
    ).write.parquet(str(flat / "keys"))
    store.sets(spark).write.parquet(str(flat / "sets"))
    (flat / "manifest.json").write_text(
        json.dumps(
            {
                "threshold": store.threshold,
                "num_hashes": store.num_hashes,
                "bands": store.bands,
                "n": store.n,
                "id_col": store.id_col,
            }
        )
    )
    before = sorted(p.relative_to(flat) for p in flat.rglob("*"))
    batch = spark.createDataFrame([(5, BASE + " more")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="build_lsh_store"):
        LSHDedupStore.load(str(flat), spark).ingest(batch)
    assert sorted(p.relative_to(flat) for p in flat.rglob("*")) == before


def test_persisted_band_keys_are_pinned(spark, tmp_path):
    """The keys/ table is a persisted format: a changed seed, slice
    order or hash in lsh_band_keys would make every existing store
    match nothing, so its values are pinned literally."""
    docs = spark.createDataFrame(
        [
            (1, BASE),
            (2, DIFF),
            (3, "a third fixed document with its own words for the band keys"),
        ],
        ["doc_id", "text"],
    )
    store = build_lsh_store(
        docs, str(tmp_path / "pinned"), threshold=0.5, num_hashes=16, bands=4
    )
    got = sorted((r["doc_id"], r["band_key"]) for r in store.keys(spark).collect())
    assert got == [
        (1, -7897510462870351772),
        (1, -5339410470792839213),
        (1, 2830571283571995407),
        (1, 9216591672892213847),
        (2, -5219976702852906698),
        (2, -2512449612078174382),
        (2, 932472415558973006),
        (2, 8570019395029504203),
        (3, -2665073486958318323),
        (3, -431768463314806824),
        (3, 3167203520981292614),
        (3, 8697402331923404164),
    ]


def test_pre_r15_string_band_keys_fail_loudly(spark, store):
    """A store whose committed keys/ carry string band keys (the r15
    bigint switch's predecessor) must raise on read, not join to zero
    candidates and accept every near-duplicate."""
    _, current = store._latest_commit(spark)
    gen = "gen-string-keys"
    store.keys(spark).select(
        F.col("band_key").cast("string").alias("band_key"), "doc_id"
    ).write.parquet(os.path.join(store.path, "keys", gen))
    store._publish({"keys": [gen], "sets": current["sets"]}, spark)
    batch = spark.createDataFrame([(10, BASE + " extra")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="string band keys"):
        LSHDedupStore.load(store.path, spark).ingest(batch)
    with pytest.raises(ValueError, match="build_lsh_store"):
        store.keys(spark)


def test_store_never_holds_text(spark, store):
    for sub in ("keys", "sets"):
        cols = store._snapshot(spark, sub).columns
        assert "text" not in cols, sub


def test_uncommitted_generation_is_invisible(spark, store):
    """The manifest-commit contract: data files written without a
    published commit (= a writer that crashed mid-append) must be
    invisible to every reader, and the next successful ingest must
    simply strand them as orphans."""
    from marketdatapipeline_spark.textops.dedup import minhash_doc_table

    n_before = store._snapshot(spark, "sets").count()
    commit_before, _ = store._latest_commit(spark)

    # simulate the crash: generation written, no commit published
    ghost = minhash_doc_table(
        spark.createDataFrame(
            [(999, "ghost document words that never commit anywhere")],
            ["doc_id", "text"],
        ),
        store.num_hashes, store.id_col, "text", store.n,
    )
    store._write_generation(ghost)

    assert store._snapshot(spark, "sets").count() == n_before
    v = {
        r["doc_id"]: r
        for r in store.ingest(
            spark.createDataFrame(
                [(300, "ghost document words that never commit anywhere")],
                ["doc_id", "text"],
            )
        ).collect()
    }
    # the ghost was never accepted, so its near-dup is NOT a duplicate
    assert not v[300]["is_duplicate"]
    commit_after, payload = store._latest_commit(spark)
    assert commit_after == commit_before + 1  # exactly one new commit
    # both tables committed together, atomically
    assert len(payload["keys"]) == len(payload["sets"])


# ---------------------------------------------------------------------------
# incremental packing store (r14) — textops/packing_store.py
# ---------------------------------------------------------------------------


def _pack_tuples(df):
    return sorted(
        (r["doc_id"], r["n_tokens"], r["bin_id"], r["bin_offset"], r["truncated"])
        for r in df.collect()
    )


def test_incremental_packing_matches_batch_under_reslicing(spark, tmp_path):
    """The parity contract: after ANY random micro-batch slicing of
    the corpus, the store's assignment is bit-identical to
    pack_sequences over the union — the walk is a pure function of
    the accepted set, and the store re-walks only touched buckets."""
    import random

    from marketdatapipeline_spark.textops.corpus import pack_sequences
    from marketdatapipeline_spark.textops.packing_store import (
        IncrementalPackingStore,
    )

    rng = random.Random(1414)
    docs = [(i, rng.randint(1, 120)) for i in range(1, 161)]
    full = spark.createDataFrame(docs, ["doc_id", "n_tokens_bpe"])
    want = _pack_tuples(pack_sequences(full, context_tokens=96, n_buckets=8))

    for trial in range(3):
        order = docs[:]
        rng.shuffle(order)
        cuts = sorted(rng.sample(range(1, len(order)), rng.randint(1, 4)))
        batches, prev = [], 0
        for c in cuts + [len(order)]:
            batches.append(order[prev:c])
            prev = c
        store = IncrementalPackingStore.create(
            str(tmp_path / f"store{trial}"), 96, n_buckets=8, spark=spark
        )
        for b in batches:
            store.ingest(
                spark.createDataFrame(b, ["doc_id", "n_tokens_bpe"])
            )
        got = _pack_tuples(store.assignment(spark))
        assert got == want, f"trial {trial} sliced {cuts}"


def test_incremental_packing_redelivery_is_idempotent(spark, tmp_path):
    """At-least-once semantics: re-ingesting a batch (and overlapping
    slices) changes nothing; the counters report the skips."""
    from marketdatapipeline_spark.textops.corpus import pack_sequences
    from marketdatapipeline_spark.textops.packing_store import (
        build_packing_store,
    )

    docs = [(i, 10 + (i * 7) % 90) for i in range(1, 61)]
    full = spark.createDataFrame(docs, ["doc_id", "n_tokens_bpe"])
    store = build_packing_store(
        full, str(tmp_path / "store"), context_tokens=96, n_buckets=4
    )
    before = _pack_tuples(store.assignment(spark))
    res = store.ingest(
        spark.createDataFrame(docs[:20], ["doc_id", "n_tokens_bpe"])
    )
    assert res["n_new"] == 0 and res["n_redelivered"] == 20
    assert _pack_tuples(store.assignment(spark)) == before
    assert store.manifest["n_docs"] == 60
    want = _pack_tuples(pack_sequences(full, context_tokens=96, n_buckets=4))
    assert before == want


def test_incremental_packing_foreach_batch_stream(spark, tmp_path):
    """End-to-end through Structured Streaming: a file-source stream
    drained one file per trigger into foreachBatch lands the same
    assignment as the batch walk."""
    from marketdatapipeline_spark.textops.corpus import pack_sequences
    from marketdatapipeline_spark.textops.packing_store import (
        IncrementalPackingStore,
    )

    src = tmp_path / "src"
    src.mkdir()
    docs = [(i, 5 + (i * 13) % 110) for i in range(1, 91)]
    for part, lo, hi in ((0, 0, 30), (1, 30, 55), (2, 55, 90)):
        spark.createDataFrame(
            docs[lo:hi], ["doc_id", "n_tokens_bpe"]
        ).coalesce(1).write.parquet(str(src / f"p{part}"))

    store = IncrementalPackingStore.create(
        str(tmp_path / "store"), 96, n_buckets=4, spark=spark
    )
    stream = (
        spark.readStream.schema("doc_id long, n_tokens_bpe long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "p*"))
    )
    q = (
        stream.writeStream.foreachBatch(store.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    full = spark.createDataFrame(docs, ["doc_id", "n_tokens_bpe"])
    want = _pack_tuples(pack_sequences(full, context_tokens=96, n_buckets=4))
    assert _pack_tuples(store.assignment(spark)) == want
    assert store.manifest["n_docs"] == 90


def test_incremental_packing_rejects_id_type_drift(spark, tmp_path):
    import pytest as _pytest

    from marketdatapipeline_spark.textops.packing_store import (
        build_packing_store,
    )

    store = build_packing_store(
        spark.createDataFrame([(1, 30)], ["doc_id", "n_tokens_bpe"]),
        str(tmp_path / "store"),
        context_tokens=64,
    )
    with _pytest.raises(ValueError):
        store.ingest(
            spark.createDataFrame([("a", 30)], ["doc_id", "n_tokens_bpe"])
        )


# ---------------------------------------------------------------------------
# incremental span-contamination store (r14) — textops/span_store.py
# ---------------------------------------------------------------------------


def _span_tuples(df):
    return sorted(
        (r["doc_id"], r["n_grams"], r["dup_grams"], r["dup_frac"])
        for r in df.collect()
    )


def test_span_store_prefix_union_contract(spark, tmp_path):
    """One-pass contract under randomized slicing: each batch's
    returned stats equal duplicate_span_stats over (prefix union)
    restricted to that batch's docs — a doc is contaminated by
    anything accepted before it or beside it, never by what arrives
    after."""
    import random

    from marketdatapipeline_spark.textops.dedup import duplicate_span_stats
    from marketdatapipeline_spark.textops.span_store import SpanDedupStore

    shared = "the quick brown fox jumps over the lazy dog tonight"
    rng = random.Random(99)
    docs = []
    for i in range(1, 31):
        if i % 3 == 0:
            docs.append((i, f"intro {i} then {shared} outro {i}"))
        else:
            docs.append(
                (i, f"unique document {i} " + " ".join(
                    rng.choice("abcdefghij") * 3 for _ in range(12)
                ) + f" end {i}")
            )
    k = 16
    for trial in range(2):
        order = docs[:]
        rng.shuffle(order)
        cuts = sorted(rng.sample(range(1, len(order)), 3))
        batches, prev = [], 0
        for c in cuts + [len(order)]:
            batches.append(order[prev:c])
            prev = c
        store = SpanDedupStore.create(
            str(tmp_path / f"s{trial}"), k=k, spark=spark
        )
        prefix: list = []
        for b in batches:
            bdf = spark.createDataFrame(b, ["doc_id", "text"])
            got = _span_tuples(store.ingest(bdf))
            prefix += b
            union = spark.createDataFrame(prefix, ["doc_id", "text"])
            bids = {i for i, _ in b}
            want = [
                t
                for t in _span_tuples(duplicate_span_stats(union, k=k))
                if t[0] in bids
            ]
            assert got == want, f"trial {trial} batch ending {len(prefix)}"
        assert store.manifest["n_docs"] == 30
        assert store.manifest["n_batches"] == len(batches)


def test_span_store_later_copy_is_flagged_not_retroactive(spark, tmp_path):
    """The asymmetry the contract promises: an original accepted
    clean stays clean on its own record; a later verbatim copy
    arrives fully duplicated."""
    from marketdatapipeline_spark.textops.span_store import build_span_store

    text = "some perfectly ordinary prose about harbors and weather systems"
    store, first = build_span_store(
        spark.createDataFrame([(1, text)], ["doc_id", "text"]),
        str(tmp_path / "s"),
        k=16,
    )
    f = {r["doc_id"]: r for r in first.collect()}
    assert f[1]["dup_grams"] == 0 and f[1]["dup_frac"] == 0.0
    second = store.ingest(
        spark.createDataFrame([(2, text)], ["doc_id", "text"])
    )
    s = {r["doc_id"]: r for r in second.collect()}
    assert s[2]["dup_frac"] == 1.0
    # short doc: no grams, NULL frac, never flagged
    third = store.ingest(
        spark.createDataFrame([(3, "tiny")], ["doc_id", "text"])
    )
    t = {r["doc_id"]: r for r in third.collect()}
    assert t[3]["n_grams"] == 0 and t[3]["dup_frac"] is None
    # store state grew only by novel hashes (doc 2 contributed none)
    assert store.manifest["n_gram_hashes"] == f[1]["n_grams"]


def test_span_store_foreach_batch_stream(spark, tmp_path):
    """End-to-end through Structured Streaming: after draining a
    file-source stream one file per trigger, the store's accumulated
    gram state equals the distinct grams of the whole corpus, and a
    probe ingest of a copied document reads fully duplicated."""
    from marketdatapipeline_spark.textops.span_store import SpanDedupStore

    src = tmp_path / "src"
    src.mkdir()
    texts = {
        1: "first document about rivers and stones and morning fog",
        2: "second document concerning metallurgy and blast furnaces",
        3: "third document on glaciers and wind patterns at dusk",
    }
    for i, t in texts.items():
        spark.createDataFrame([(i, t)], ["doc_id", "text"]).coalesce(
            1
        ).write.parquet(str(src / f"p{i}"))

    store = SpanDedupStore.create(str(tmp_path / "store"), k=16, spark=spark)
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "p*"))
        .writeStream.foreachBatch(store.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert store.manifest["n_docs"] == 3
    # distinct grams accumulated == union of each doc's distinct grams
    want_hashes = store._read_hashes(spark).count()
    expect = sum(len({t[p : p + 16] for p in range(len(t) - 15)}) for t in texts.values())
    assert want_hashes == expect  # corpora are mutually gram-disjoint
    probe = store.ingest(
        spark.createDataFrame([(9, texts[2])], ["doc_id", "text"])
    )
    assert probe.collect()[0]["dup_frac"] == 1.0


def test_span_store_compact_preserves_state(spark, tmp_path):
    """Compaction merges part files without changing the hash set or
    any future verdict."""
    from marketdatapipeline_spark.textops.span_store import build_span_store

    t1 = "first document about rivers and stones and morning fog"
    t2 = "second document concerning metallurgy and blast furnaces"
    store, _ = build_span_store(
        spark.createDataFrame([(1, t1)], ["doc_id", "text"]),
        str(tmp_path / "s"),
        k=16,
    )
    store.ingest(spark.createDataFrame([(2, t2)], ["doc_id", "text"]))
    before = {r["_h"] for r in store._read_hashes(spark).collect()}
    n = store.compact(spark)
    assert n == len(before)
    after = {r["_h"] for r in store._read_hashes(spark).collect()}
    assert after == before
    import glob as _glob

    assert len(_glob.glob(str(tmp_path / "s" / "grams" / "*.parquet"))) == 1
    probe = store.ingest(
        spark.createDataFrame([(9, t1)], ["doc_id", "text"])
    ).collect()[0]
    assert probe["dup_frac"] == 1.0
