"""Corpus-preparation operators for LLM training-data pipelines:
repetition analysis, deterministic splits/sampling, document
chunking, size-balanced shard packing, and BM25 relevance scoring.

Everything here follows the repo's two house rules:

1. **JVM-side only** — every operator is built from built-in
   expressions (split / slice / sequence / regexp / md5 / window
   aggregates); no Python UDFs, so the whole plan stays inside
   whole-stage codegen. One documented exception: the sequence
   packer's per-bucket next-fit walk (``pack_sequences``) is a
   ratchet no SQL window frame expresses — it runs as an
   Arrow-batched grouped kernel whose exchange carries only
   ``(id, tokens, hash)``, never text.
2. **Oracle-exact** — each operator has an ANSI-SQL equivalent
   (catalog_corpus.py) producing bit-identical values: integer
   arithmetic wherever possible, fixed-association double arithmetic
   (per-term columns summed in a written order, never a grouped
   float SUM whose accumulation order the engine may choose), and
   the catalog's round-to-6 convention only to guard libm division.

Scale notes are per-operator; the common theme is that nothing here
shuffles document text except the chunker (whose output *is* text)
and nothing does a global sort — the shard packer uses a two-pass
bucketed prefix sum instead of a single-partition window.

The row-expression operators (redact_pii, add_token_estimate,
add_repetition_signals, assign_splits, hash_sample, chunk_documents)
are stateless and run unchanged on Structured Streaming inputs
(pinned by tests/test_corpus.py); the aggregating ones (bm25,
decontaminate, pack_shards, duplicate_clusters) are batch operators.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from marketdatapipeline_spark.textops.dedup import md5_int

__all__ = [
    "BPE_TOKEN_PATTERN",
    "PII_PATTERNS",
    "add_repetition_signals",
    "add_token_estimate",
    "assign_splits",
    "bm25_scores",
    "chunk_documents",
    "decontaminate",
    "domain_mix_sample",
    "duplicate_clusters",
    "hash_sample",
    "hybrid_retrieval_rrf",
    "next_fit_walk",
    "pack_sequences",
    "pack_shards",
    "packing_manifest",
    "packing_waste",
    "redact_pii",
    "remove_boilerplate_lines",
    "tfidf_top_terms",
    "top_bigram_stats",
    "bigram_perplexity",
    "unigram_perplexity",
    "quality_screen",
    "query_trigram_hashes",
    "systematic_weighted_sample",
    "zipf_fit",
]


def _words(text_col: str) -> Column:
    """Lower-cased whitespace tokens; '' tokenizes to [''] in both
    engines (regexp_split_to_array parity), so downstream sizes agree
    without empty-string special cases."""
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


# ---------------------------------------------------------------------------
# repetition (Gopher-style duplicate-text signals)
# ---------------------------------------------------------------------------


def add_repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document line-repetition signals (the Gopher repetition
    filters' line tier): ``n_lines``, ``n_distinct_lines``, and
    ``dup_line_frac`` — the fraction of lines that are repeats of an
    earlier line, the strongest single boilerplate indicator for web
    corpora.

    Scan-side only: ``split`` + ``array_distinct`` per row, no explode
    and no shuffle — at 100 TB this runs at parquet-scan speed.
    """
    lines = F.split(F.col(text_col), "\n")
    n = F.size(lines)
    nd = F.size(F.array_distinct(lines))
    return df.withColumns(
        {
            "n_lines": n.cast("int"),
            "n_distinct_lines": nd.cast("int"),
            "dup_line_frac": F.when(
                n > 0, (n - nd) / n.cast("double")
            ).otherwise(F.lit(0.0)),
        }
    )


def top_bigram_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document most-frequent-word-bigram statistics (the Gopher
    ``top 2-gram fraction`` filter): ``n_bigrams``, ``top_bigram_n``
    (count of the modal bigram), and ``top_bigram_frac``.

    One explode + one two-level aggregation, both keyed by ``id_col``
    — per-doc work, fully parallel, map-side combinable. Each bigram is
    hashed to a bigint (``md5_int``) INSIDE the explode projection, so
    the shuffle between the two aggregation levels carries 8-byte keys,
    never the bigram strings — on mostly-unique web text the map-side
    partial agg barely compacts, and shipping strings would move nearly
    the full text volume over the wire at 100 TB. The modal-bigram
    count is unchanged modulo 32-bit hash collisions (the repo's
    hashed-set convention, same as dedup.py's Jaccard); the oracle
    hashes identically in lockstep.
    """
    ws = _words(text_col)
    # pairs (i, i+1) for i in 1..L-1; guarded so L<2 yields no bigrams
    # (sequence(1, 0) would count DOWN in Spark).
    bigrams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: md5_int(
                F.concat_ws(
                    " ", F.element_at(ws, i), F.element_at(ws, i + 1)
                )
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    exploded = df.select(F.col(id_col), F.explode(bigrams).alias("bg"))
    per_bigram = exploded.groupBy(id_col, "bg").agg(F.count("*").alias("c"))
    stats = per_bigram.groupBy(id_col).agg(
        F.sum("c").cast("int").alias("n_bigrams"),
        F.max("c").cast("int").alias("top_bigram_n"),
    )
    return stats.withColumn(
        "top_bigram_frac",
        F.col("top_bigram_n") / F.col("n_bigrams").cast("double"),
    )


# ---------------------------------------------------------------------------
# deterministic splits / sampling
# ---------------------------------------------------------------------------

#: hash-space modulus for split/sample assignment (per-mille buckets)
SPLIT_BUCKETS = 1000


def _bucket(id_col: str) -> Column:
    """Stable per-row bucket in [0, SPLIT_BUCKETS): md5 of the id's
    decimal string — reproducible across runs, engines, languages."""
    return md5_int(F.col(id_col).cast("string")) % SPLIT_BUCKETS


def assign_splits(
    df: DataFrame,
    id_col: str = "doc_id",
    train: int = 980,
    val: int = 990,
) -> DataFrame:
    """Deterministic train/val/test assignment by hashed id: bucket <
    ``train`` per-mille → train, < ``val`` → val, else test.

    Hash-based (not row-number-based) so the assignment is stable
    under re-partitioning, re-ordering, incremental appends, and
    engine changes — the property a 100 TB corpus actually needs; a
    random() split is neither reproducible nor append-stable. Pure
    scan-side expression; joins/filters on ``split`` push down.
    """
    if not (0 < train <= val <= SPLIT_BUCKETS):
        raise ValueError(f"need 0 < train <= val <= {SPLIT_BUCKETS}")
    b = _bucket(id_col)
    return df.withColumns(
        {
            "split_bucket": b.cast("int"),
            "split": F.when(b < train, F.lit("train"))
            .when(b < val, F.lit("val"))
            .otherwise(F.lit("test")),
        }
    )


def hash_sample(
    df: DataFrame, keep_per_mille: int, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic ~``keep_per_mille``/1000 sample by hashed id.

    Unlike ``DataFrame.sample`` this is reproducible across runs and
    engines, stable under appends (a row's fate never changes), and
    composable: stratify by grouping the *input* however you like —
    the hash is independent of any partitioning. Scan-side filter, so
    it pushes down beneath later joins/aggregations.
    """
    if not 0 <= keep_per_mille <= SPLIT_BUCKETS:
        raise ValueError("keep_per_mille out of range")
    return df.filter(_bucket(id_col) < keep_per_mille)


def domain_mix_sample(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sample hitting a target domain mix —
    the "data mixing" step of LLM corpus assembly (e.g. 40% en / 15%
    each of four other languages), taking as much data as the mix
    allows.

    The scarcest domain relative to its weight binds the total:
    ``T = min_g(N_g / w_g)`` over the weighted groups present, and
    each group keeps its ``floor(w_g · T)`` smallest-hash documents
    (ranked by md5-of-id, ties by id) — so the output is the LARGEST
    corpus achieving the exact requested proportions (up to floor),
    reproducible across runs/engines, and monotone under appends in
    the hash-rank sense. Weights are relative (need not sum to 1);
    groups missing from ``weights`` are dropped.

    Emits every weighted-group row with its verdict rather than
    filtering, so audits (and the oracle) see both sides of the cut:
    ``sample_rank``, ``group_n``, ``group_cap``, ``kept``. Filter
    ``kept`` for the sample itself.

    Scale shape: one window exchange on the group for the rank; the
    per-group counts (G rows) and the single global T row ride
    broadcast joins — no driver collect, no second pass over data.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive")
    spark = df.sparkSession
    w_df = spark.createDataFrame(
        sorted(weights.items()), schema=f"{group_col} string, _w double"
    )
    counts = df.groupBy(group_col).count().join(w_df, group_col)
    # T via a global window over the G-row counts frame — NOT a
    # separate agg + crossJoin, which would duplicate the counts
    # subtree in the plan and scan the corpus twice (the counts frame
    # is G rows by contract, so the single-partition window is free)
    t = F.min(F.col("count").cast("double") / F.col("_w")).over(
        Window.partitionBy()
    )
    caps = counts.select(
        group_col,
        F.col("count").alias("group_n"),
        F.floor(F.col("_w") * t).alias("group_cap"),
    )
    h = md5_int(F.col(id_col).cast("string"))
    rank = F.row_number().over(
        Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    )
    return (
        df.withColumn("sample_rank", rank)
        .join(F.broadcast(caps), group_col)
        .withColumn("kept", F.col("sample_rank") <= F.col("group_cap"))
    )


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 400,
    overlap: int = 80,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping fixed-width character
    windows — the standard pre-tokenization chunking step for
    training-sequence or embedding-input preparation.

    Chunk ``i`` covers ``[i*stride, i*stride + chunk_chars)`` with
    ``stride = chunk_chars - overlap``; the last chunk starts at the
    last stride boundary below the text length, so every character is
    covered and consecutive chunks share ``overlap`` characters.

    One ``explode(sequence(...))`` per row — narrow (no shuffle at
    all: chunk rows inherit the parent's partition), distributed, and
    linear in output size. Empty documents yield zero chunks.
    """
    if chunk_chars <= overlap:
        raise ValueError("chunk_chars must exceed overlap")
    stride = chunk_chars - overlap
    n = F.length(F.col(text_col))
    idx = F.when(
        n > 0,
        F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    chunk = F.substring(
        F.col(text_col), F.col("chunk_id") * stride + 1, chunk_chars
    )
    return (
        df.select(F.col(id_col), F.col(text_col), F.explode(idx).alias("chunk_id"))
        .withColumns(
            {"chunk_text": chunk, "chunk_len": F.length(chunk).cast("int")}
        )
        .drop(text_col)
    )


# ---------------------------------------------------------------------------
# shard packing
# ---------------------------------------------------------------------------


def pack_shards(
    df: DataFrame,
    target_chars: int,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    n_buckets: int = 32,
) -> DataFrame:
    """Assign documents to size-balanced output shards: shuffle the
    corpus into a deterministic pseudo-random order (hash of id), then
    cut the running character total every ``target_chars`` — the
    packing step before writing fixed-size training shards.

    **Distributed prefix sum, not a global sort**: a single
    ``Window.orderBy`` with no partition key would serialize 100 TB
    through one task. Instead rows are bucketed by hash
    (``shard_bucket = h % n_buckets``), each bucket computes its local
    running sum in parallel, and the tiny per-bucket totals (one row
    per bucket) are offset-cumulated and joined back (broadcast). The
    global order this realizes is (bucket, h, id) — deterministic and
    exactly reproducible in SQL, so the assignment is oracle-checkable
    cell-exactly.

    Returns ``id_col``, ``size_col``, ``shard`` (0-based). Shards are
    balanced to within one document of ``target_chars``.
    """
    if target_chars <= 0:
        raise ValueError("target_chars must be positive")
    h = md5_int(F.col(id_col).cast("string"))
    rows = df.select(
        F.col(id_col),
        F.col(size_col),
        h.alias("_h"),
        (h % n_buckets).alias("_b"),
    )
    w_local = (
        Window.partitionBy("_b")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = rows.withColumn(
        "_cum_before", F.coalesce(F.sum(size_col).over(w_local), F.lit(0))
    )
    totals = rows.groupBy("_b").agg(F.sum(size_col).alias("_tot"))
    # n_buckets rows total — a single-partition window here is the
    # intent, not an accident: the frame is one row per bucket by
    # construction. The partition key is constant-valued (_b % 1 == 0
    # always) but non-foldable, so Catalyst keeps it and WindowExec
    # doesn't raise its global-sort warning for what is a 32-row frame.
    w_off = (
        Window.partitionBy(F.col("_b") % 1)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_tot").over(w_off), F.lit(0))
    ).select("_b", "_off")  # n_buckets rows — broadcastable
    return (
        local.join(F.broadcast(offsets), "_b")
        .withColumn(
            "shard",
            F.floor((F.col("_cum_before") + F.col("_off")) / target_chars).cast(
                "int"
            ),
        )
        .select(id_col, size_col, "shard")
    )


# ---------------------------------------------------------------------------
# token estimation
# ---------------------------------------------------------------------------

#: BPE-style pre-tokenizer pattern (GPT-2-shaped, simplified to the
#: regex subset Java's engine and RE2 agree on: no lookarounds, no
#: unicode property classes): contractions, space-prefixed letter
#: runs, digit runs, punctuation runs, residual whitespace runs.
#: Alternation is ordered longest-priority-first; every character of
#: the input belongs to exactly one match, so both engines produce
#: the same count.
BPE_TOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?[A-Za-z]+"
    r"| ?[0-9]+"
    r"| ?[^A-Za-z0-9\s]+"
    r"|\s+"
)


def add_token_estimate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pre-tokenizer-based token-count estimate — the budget metric a
    training pipeline actually plans against (sequence packing, cost
    estimates), closer to BPE token counts than whitespace words.

    Adds ``n_tokens_bpe`` (matches of :data:`BPE_TOKEN_PATTERN`) and
    ``chars_per_token`` (document length over that count). Scan-side
    ``regexp_count`` — codegen, no explode, no shuffle.
    """
    text = F.col(text_col)
    n_bpe = F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN))
    return df.withColumns(
        {
            "n_tokens_bpe": n_bpe.cast("int"),
            "chars_per_token": F.when(
                n_bpe > 0, F.length(text) / n_bpe.cast("double")
            ).otherwise(F.lit(0.0)),
        }
    )


# ---------------------------------------------------------------------------
# token-budget sequence packing
# ---------------------------------------------------------------------------


def next_fit_walk(tokens, cap: int) -> tuple[list[int], list[int]]:
    """The pure next-fit walk :func:`pack_sequences` runs per bucket:
    given token counts in walk order, return (bin indices from 0,
    token offsets within each bin). A document joins the current bin
    when it fits (``fill + eff <= cap``) and opens a new bin
    otherwise; oversized documents clamp to ``cap`` (whole-bin
    truncation). Module-level so the property tests exercise the
    exact kernel logic."""
    bins: list[int] = []
    offs: list[int] = []
    cur, fill = -1, 0
    for t in tokens:
        eff = min(int(t), cap)
        # cur < 0 opens bin 0 unconditionally: a zero-token first row
        # must still land at (bin 0, offset 0), matching the oracle
        # walk's unconditional first-row pin.
        if cur < 0 or fill + eff > cap:
            cur, fill = cur + 1, 0
        offs.append(fill)
        bins.append(cur)
        fill += eff
    return bins, offs


def pack_sequences(
    df: DataFrame,
    context_tokens: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens_bpe",
    n_buckets: int = 32,
) -> DataFrame:
    """Pack documents into fixed ``context_tokens``-sized bins without
    splitting a document across bins — the sample-efficiency step a
    pretraining pipeline runs so short documents share a context
    window instead of each paying full-window padding.

    Deterministic **next-fit in hash order, bucketed**: rows are
    bucketed by ``md5(id) % n_buckets`` (the same pseudo-random
    deterministic order as :func:`pack_shards`); within each bucket,
    walking (hash, id) order, a document joins the current bin when it
    fits (``fill + tokens <= context_tokens``) and opens a new bin
    otherwise. Per-bucket local bin ids are made global by cumulating
    the tiny per-bucket bin counts (one row per bucket by
    construction, collected and folded into a literal offset map —
    the bounded-manifest shape) — never a global sort. Documents
    longer than the
    window occupy a whole bin alone, truncated to ``context_tokens``
    (``truncated`` flag; ``n_tokens`` keeps the true count).

    Next-fit's ratchet (each bin boundary depends on the previous
    one) is not expressible with SQL window frames, so the per-bucket
    walk is an Arrow-batched grouped kernel (``applyInPandas``). The
    exchange into it carries only ``(id, tokens, hash)`` — never
    text — and each task's row count is corpus_size / n_buckets:
    size ``n_buckets`` to the cluster (the reference's 32 matches
    local[32]; at 100 TB you'd pass thousands). Next-fit wastes at
    most one document per bin boundary versus first-fit-decreasing
    while staying streaming/order-deterministic and oracle-exact
    (DuckDB reproduces the identical walk with a recursive CTE).

    Returns ``id_col``, ``n_tokens``, ``bin_id`` (0-based, globally
    dense), ``bin_offset`` (token start inside the bin),
    ``truncated``.
    """
    if context_tokens <= 0:
        raise ValueError("context_tokens must be positive")
    rows = pack_input_rows(df, id_col, tokens_col, n_buckets)
    id_type = df.schema[id_col].dataType.simpleString()

    from marketdatapipeline_spark.caching import scoped_persist

    packed = scoped_persist(
        walk_pack_buckets(rows, context_tokens, id_col, id_type)
    )
    return globalize_bins(packed, id_col)


def pack_input_rows(
    df: DataFrame, id_col: str, tokens_col: str, n_buckets: int
) -> DataFrame:
    """(id, n_tokens, _h, _b): the bucketed walk-order input of
    :func:`pack_sequences` — shared with the incremental packing
    store so both derive the identical hash/bucket assignment."""
    h = md5_int(F.col(id_col).cast("string"))
    return df.select(
        F.col(id_col),
        F.col(tokens_col).cast("int").alias("n_tokens"),
        h.alias("_h"),
        (h % n_buckets).alias("_b"),
    )


def walk_pack_buckets(
    rows: DataFrame, cap: int, id_col: str, id_type: str
) -> DataFrame:
    """Per-bucket next-fit walk (Arrow grouped kernel) over
    ``(id, n_tokens, _h, _b)`` rows → local bin assignment
    ``(id, n_tokens, _b, _local_bin, bin_offset, truncated)``.
    The kernel echoes the id column back, so its Arrow schema must
    carry the CALLER'S id type (string doc ids are legal), not an
    assumed bigint."""
    out_schema = (
        f"{id_col} {id_type}, n_tokens int, _b long, _local_bin int, "
        "bin_offset int, truncated boolean"
    )

    def _next_fit(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["_h", id_col], kind="mergesort")
        toks = pdf["n_tokens"].to_numpy()
        bins, offs = next_fit_walk(toks, cap)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "n_tokens": toks,
                "_b": pdf["_b"].to_numpy(),
                "_local_bin": bins,
                "bin_offset": offs,
                "truncated": toks > cap,
            }
        )

    return rows.groupBy("_b").applyInPandas(_next_fit, schema=out_schema)


def globalize_bins(packed: DataFrame, id_col: str) -> DataFrame:
    """Globalize per-bucket local bin ids with a LITERAL offset map:
    the per-bucket bin counts are n_buckets rows by construction (the
    legal bounded-manifest shape), so one collect — which also
    materializes a persisted kernel output — replaces the
    constant-key window + broadcast-join chain (3 AQE stages per
    consumer at small SF; values identical, the counts are exact)."""
    cnt_rows = (
        packed.groupBy("_b")
        .agg((F.max("_local_bin") + 1).alias("_nbins"))
        .collect()
    )
    run = 0
    pairs: list[int] = []
    for r in sorted(cnt_rows, key=lambda r: r["_b"]):
        pairs.extend((int(r["_b"]), run))
        run += int(r["_nbins"])
    off_map = (
        F.create_map(*[F.lit(v) for v in pairs])
        if pairs
        else F.create_map(F.lit(0), F.lit(0))
    )
    return packed.select(
        id_col,
        "n_tokens",
        (F.col("_local_bin") + off_map[F.col("_b")]).cast("int").alias("bin_id"),
        "bin_offset",
        "truncated",
    )


def packing_manifest(
    packed: DataFrame, context_tokens: int, id_col: str = "doc_id"
) -> DataFrame:
    """Per-bin manifest of a :func:`pack_sequences` assignment — the
    row shape a training-shard writer consumes: ``bin_id``,
    ``doc_ids`` (the documents IN BIN ORDER, comma-joined — offsets
    make the order total), ``n_docs``, ``fill_tokens``.

    One aggregation keyed by ``bin_id``; the in-bin order is
    reconstructed by sorting the collected (offset, id) structs, so
    the output is deterministic regardless of task scheduling. The
    doc list is emitted as a joined string rather than an array so
    the cross-engine value compare stays canonical.
    """
    eff = F.least(F.col("n_tokens"), F.lit(context_tokens))
    return (
        packed.groupBy("bin_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("bin_offset", id_col))
            ).alias("_s"),
            F.count("*").cast("int").alias("n_docs"),
            F.sum(eff).cast("long").alias("fill_tokens"),
        )
        .select(
            "bin_id",
            F.array_join(
                F.transform(F.col("_s"), lambda x: x[id_col].cast("string")),
                ",",
            ).alias("doc_ids"),
            "n_docs",
            "fill_tokens",
        )
    )


def packing_waste(
    packed: DataFrame, context_tokens: int, id_col: str = "doc_id"
) -> DataFrame:
    """The padding-waste audit row for a :func:`pack_sequences`
    assignment: one global row with bin count, packed-token totals,
    and the padding ratio the packing leaves on the table (the number
    a data-mixing run watches when tuning the context budget).

    Pure aggregation over the assignment — integer sums plus one
    guarded division, so it is oracle-exact.
    """
    eff = F.least(F.col("n_tokens"), F.lit(context_tokens))
    per_bin = packed.groupBy("bin_id").agg(
        F.sum(eff).alias("_fill"), F.count("*").alias("_docs")
    )
    budget = F.sum(F.lit(context_tokens) - F.col("_fill"))
    return per_bin.agg(
        F.count("*").cast("int").alias("n_bins"),
        F.sum("_docs").cast("long").alias("n_docs"),
        F.sum("_fill").cast("long").alias("packed_tokens"),
        budget.cast("long").alias("padding_tokens"),
        F.round(
            budget
            / (F.count("*") * F.lit(context_tokens)).cast("double"),
            6,
        ).alias("padding_ratio"),
        F.round(
            F.avg("_docs"),
            6,
        ).alias("avg_docs_per_bin"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: Redaction patterns, applied in THIS order (emails before phones so
#: digits inside a local-part are claimed by the email rule first).
#: Restricted to the Java-regex/RE2 common subset: ASCII classes,
#: ``\b`` word boundaries, no lookarounds. The phone pattern demands
#: the NANP 3-3-4 digit grouping with at most short separators — an
#: open-ended "digits and spaces" run would mass-redact numeric
#: tables and year lists ("2021 2022 2023 2024"), which group 4-4 and
#: therefore cannot satisfy the 3-3-4 alignment.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    (
        "phone",
        r"(?:\+?[0-9]{1,3}[ .(\-]{0,2})?[0-9]{3}[ .)\-]{0,2}[0-9]{3}[ .\-]?[0-9]{4}\b",
    ),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", token: str = "[PII]"
) -> DataFrame:
    """Scrub personally identifiable spans — the compliance step every
    web-scale training corpus runs before anything else sees the text.

    For each pattern class (email, SSN, IPv4, phone — in that order,
    so earlier classes claim overlapping spans deterministically) adds
    ``n_<class>`` (match count on the text as it stood when that rule
    ran) and rewrites the text with ``token``. The redacted text
    replaces ``text_col``.

    Scan-side ``regexp_count`` + ``regexp_replace`` chain — one
    codegen stage, no shuffle, no Python. Both engines apply the same
    greedy leftmost semantics, so counts and the redacted bytes are
    bit-identical (the catalog oracle pins ``md5(redacted)``).
    """
    out = df
    text = F.col(text_col)
    for name, pat in PII_PATTERNS:
        out = out.withColumns(
            {
                f"n_{name}": F.regexp_count(text, F.lit(pat)).cast("int"),
                text_col: F.regexp_replace(text, pat, token),
            }
        )
    return out


# ---------------------------------------------------------------------------
# decontamination (benchmark n-gram overlap)
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag training documents that overlap an evaluation benchmark:
    for each corpus doc, how many of its distinct word ``n``-grams
    also appear anywhere in ``benchmark`` — the standard
    test-set-decontamination step before pre-training.

    Shingles collapse to their 32-bit base hash first (the repo's
    hashed-set convention — dedup.py): the benchmark side becomes a
    small distinct-hash set that Spark broadcasts, so the corpus pass
    is explode → hash → broadcast-semi-join → per-doc count. Nothing
    quadratic, no corpus text in any shuffle; at 100 TB the benchmark
    set (thousands of eval docs) stays comfortably broadcastable.

    Returns one row per corpus doc that has at least one shingle:
    ``n_shingles``, ``n_contaminated`` (distinct overlapping
    shingle hashes), ``contamination_frac``, ``contaminated``.
    """
    from marketdatapipeline_spark.caching import scoped_persist
    from marketdatapipeline_spark.textops.dedup import shingle_hashes

    # two consumers (sizes + hits) — persist the hashed shingle table
    # so the corpus text is scanned and exploded once
    corpus_sh = scoped_persist(shingle_hashes(corpus, id_col, text_col, n))
    bench_sh = shingle_hashes(benchmark, id_col, text_col, n).select("_h").distinct()
    sizes = corpus_sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "_h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
    )
    k = F.coalesce(F.col("n_contaminated"), F.lit(0))
    return (
        sizes.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("int").alias("n_shingles"),
            k.cast("int").alias("n_contaminated"),
            (k / F.col("n_shingles").cast("double")).alias(
                "contamination_frac"
            ),
            (k > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


#: rounds the most recent duplicate_clusters call took to converge
LAST_CONVERGENCE_ROUNDS: int = 0


#: at or below this many DIRECTED edges the pair graph collects to the
#: driver and components resolve by union-find — pure integer work
#: (labels are min doc ids), so the route is trivially value-identical
#: to min-label propagation while replacing O(log diameter) rounds of
#: (2 joins + agg + checkpoint + fixed-point collect) with one collect
#: and one broadcast join back onto the node table. Above it, the
#: distributed pointer-doubling loop is the only shape that survives.
DRIVER_ROUTE_MAX_EDGES = 2_000_000


def duplicate_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 30,
    driver_route_max_edges: int | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every
    document gets ``cluster_id`` = the smallest doc id reachable
    through the pair graph (singletons cluster with themselves), plus
    ``cluster_size``. This is the step that turns pairwise dedup
    output into keep-one-per-group decisions.

    Iterative min-label propagation WITH SHORTCUTTING (r9): each
    round, every node takes the minimum of (a) its own label, (b) its
    neighbours' labels (one equi-join + one aggregation), and (c) its
    label's label (one self-equi-join on the label — the
    Shiloach-Vishkin / pointer-doubling move, the same
    chain-collapsing effect as Kiveris et al.'s alternating
    large-star/small-star rounds). Neighbour propagation alone needs
    diameter rounds; the label-of-label hop squares the reach each
    round, so chains converge in O(log diameter) rounds — on a
    1000-link chain, 11 rounds instead of 1000 (pinned in
    test_corpus). Safe because labels are always ids of
    same-component nodes (so the label's label is too), labels are
    monotone non-increasing, and any fixed point of the extended
    update is a fixed point of plain propagation — hence labels are
    constant per component and pinned to the component min.

    Per-round lineage is truncated with ``localCheckpoint`` — the
    standard Spark pattern for iterative graph algorithms (on a
    cluster, ``spark.checkpoint`` against the checkpoint dir).
    Convergence is detected by the label-sum: labels only ever
    decrease, so an unchanged sum means an unchanged labelling.
    ``LAST_CONVERGENCE_ROUNDS`` records the rounds of the most recent
    call (observability for exactly this scaling claim).
    """
    from marketdatapipeline_spark.caching import scoped_persist

    # persist the symmetrized edge list: it is re-read EVERY round,
    # and without the pin each round re-runs the whole upstream
    # pair-generation pipeline (the Jaccard similarity join) from its
    # last cached stage (r9 — measured ~40% of per-round cost at
    # sf0.1)
    edges = scoped_persist(
        pairs.select(F.col(a_col).alias("_src"), F.col(b_col).alias("_dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("_src"), F.col(a_col).alias("_dst"))
        )
        .distinct()
    )
    def label_sum(frame: DataFrame):
        # decimal(38,0) so the fixed-point check cannot wrap at
        # billions-of-docs x large-id scale (bigint sum could)
        return frame.agg(
            F.sum(F.col("_lbl").cast("decimal(38,0)"))
        ).collect()[0][0]

    global LAST_CONVERGENCE_ROUNDS
    # reset on entry: after a non-convergence RuntimeError the global
    # must not keep reporting an EARLIER call's round count (r9 review)
    LAST_CONVERGENCE_ROUNDS = 0
    threshold = (
        DRIVER_ROUTE_MAX_EDGES
        if driver_route_max_edges is None
        else driver_route_max_edges
    )
    # the count is the action that materializes the persisted edge
    # list — work both routes need before their first pass, so the
    # probe costs one scan of cached rows, not a rebuild
    if threshold > 0 and edges.count() <= threshold:
        return _clusters_driver(nodes, edges, id_col)
    # eager=False (r11): the label-sum collect right below is the
    # materializing action, so each round runs ONE job (checkpoint +
    # fixed-point check together) instead of two — half the per-round
    # job-launch overhead that dominated this operator's sf0.1 median.
    labels = nodes.select(
        F.col(id_col).alias("_id"), F.col(id_col).alias("_lbl")
    ).localCheckpoint(eager=False)
    prev_sum = label_sum(labels)
    for rounds in range(1, max_iter + 1):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("_id").alias("_dst"), F.col("_lbl").alias("_nl")
                ),
                "_dst",
            )
            .groupBy("_src")
            .agg(F.min("_nl").alias("_nbr_min"))
            .withColumnRenamed("_src", "_id")
        )
        # shortcut hop: each node also reads the CURRENT label of the
        # node its label points at (pointer doubling)
        ll = labels.select(
            F.col("_id").alias("_lbl"), F.col("_lbl").alias("_ll")
        )
        labels = (
            labels.join(nbr_min, "_id", "left")
            .join(ll, "_lbl", "left")
            .select(
                "_id",
                F.least(
                    F.col("_lbl"),
                    F.coalesce(F.col("_nbr_min"), F.col("_lbl")),
                    F.coalesce(F.col("_ll"), F.col("_lbl")),
                ).alias("_lbl"),
            )
            .localCheckpoint(eager=False)
        )
        s = label_sum(labels)  # materializes the round's checkpoint
        if s == prev_sum:  # labels are monotone ⇒ equal sum ⇒ fixed point
            LAST_CONVERGENCE_ROUNDS = rounds
            break
        prev_sum = s
    else:
        # still moving when the budget ran out — the labelling is NOT
        # a fixed point and cluster ids would be silently wrong
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    sizes = labels.groupBy("_lbl").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "_lbl")
        .select(
            F.col("_id").alias(id_col),
            F.col("_lbl").alias("cluster_id"),
            F.col("cluster_size").cast("int").alias("cluster_size"),
        )
    )


def _clusters_driver(
    nodes: DataFrame, edges: DataFrame, id_col: str
) -> DataFrame:
    """Driver-side union-find twin of the min-label propagation, for
    pair graphs at or below ``DRIVER_ROUTE_MAX_EDGES`` directed edges.

    Labels are pure integers (the component's min doc id), so the two
    routes are value-identical by definition — no numeric-tower care
    needed, unlike the PageRank twin. Propagation only moves labels
    along edges whose BOTH endpoints carry a label (the distributed
    loop's inner equi-joins drop the rest), so edge endpoints are
    membership-filtered against ``nodes`` first; non-edge nodes stay
    singletons via the left join + coalesce, exactly like the
    distributed tail. Assumes unique node ids (the doc-table
    contract — both routes count one row per node)."""
    import pandas as pd
    from pyspark.sql import types as T

    spark = nodes.sparkSession
    # Arrow-batched collect (toPandas): at the 2M-edge threshold this
    # moves two flat int columns (~32 MB) instead of 2M boxed Row
    # objects, and the touched-id / label frames ship back the same
    # way — the driver route's worst case stays bounded (r11 advice).
    epdf = edges.select("_src", "_dst").toPandas()
    # r13 (ADVICE r12): pandas has no nullable int64 by default, so a
    # null-bearing endpoint column arrives as float64 — FLOAT ids in
    # the union-find would silently mismatch the distributed route's
    # exact ints. Nulls violate the edge contract outright: fail loud.
    # With nulls excluded, integral Spark columns land as exact int64
    # (the defensive cast below covers any residual float arrival).
    for c in ("_src", "_dst"):
        if epdf[c].isna().any():
            raise ValueError(
                "duplicate_clusters: edge endpoint column "
                f"'{c}' contains NULL ids — edges must reference "
                "non-null document ids on both ends"
            )
        if pd.api.types.is_float_dtype(epdf[c]) and isinstance(
            edges.schema[c].dataType, T.IntegralType
        ):
            epdf[c] = epdf[c].astype("int64")
    src_ids = epdf["_src"].tolist()
    dst_ids = epdf["_dst"].tolist()
    touched = sorted(set(src_ids) | set(dst_ids))
    id_type = nodes.schema[id_col].dataType
    if touched:
        t_df = spark.createDataFrame(
            pd.DataFrame({id_col: touched}),
            T.StructType([T.StructField(id_col, id_type)]),
        )
        member = set(
            nodes.join(F.broadcast(t_df), id_col, "left_semi")
            .select(id_col)
            .toPandas()[id_col]
            .tolist()
        )
    else:
        member = set()
    parent = {v: v for v in member}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src_ids, dst_ids):
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union on min id: the root IS the component label
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
    labels = {v: find(v) for v in member}
    counts: dict = {}
    for lbl in labels.values():
        counts[lbl] = counts.get(lbl, 0) + 1
    lbl_schema = T.StructType(
        [
            T.StructField("_id", id_type),
            T.StructField("_lbl", id_type),
            T.StructField("_csz", T.IntegerType()),
        ]
    )
    ordered = sorted(labels.items())
    if ordered:
        lbl_df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "_id": [v for v, _ in ordered],
                    "_lbl": [l for _, l in ordered],
                    "_csz": [counts[l] for _, l in ordered],
                }
            ),
            lbl_schema,
        )
    else:
        lbl_df = spark.createDataFrame([], lbl_schema)
    return (
        nodes.select(F.col(id_col))
        .join(
            F.broadcast(lbl_df),
            F.col(id_col) == F.col("_id"),
            "left",
        )
        .select(
            F.col(id_col),
            F.coalesce(F.col("_lbl"), F.col(id_col)).alias("cluster_id"),
            F.coalesce(F.col("_csz"), F.lit(1)).cast("int").alias(
                "cluster_size"
            ),
        )
    )


def deduplicate_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Emit the near-DEDUPLICATED corpus: one canonical document per
    connected near-duplicate cluster (the minimum-id member — the
    same keep-lowest-id convention as ``deduplicate_exact`` and the
    embedding near-dup flags), everything else dropped. The step that
    turns :func:`duplicate_clusters`' assignments into the cleaned
    corpus a training run actually reads.

    Returns the surviving rows of ``df`` (all columns) plus
    ``n_merged`` — how many documents this canonical represents
    (cluster size; 1 for docs with no near-duplicate). Row count =
    number of clusters, Σ n_merged = input row count.

    One components pass + one semi-join on id: the survivor test is
    ``id == cluster_id`` (the propagated min label IS the canonical
    id, so no extra ranking or window is needed).
    """
    clusters = duplicate_clusters(
        df.select(F.col(id_col)), pairs, id_col=id_col,
        a_col=a_col, b_col=b_col,
    )
    keep = clusters.filter(F.col("cluster_id") == F.col(id_col)).select(
        id_col, F.col("cluster_size").alias("n_merged")
    )
    return df.join(keep, id_col)


# ---------------------------------------------------------------------------
# BM25 relevance scoring
# ---------------------------------------------------------------------------


def bm25_scores(
    df: DataFrame,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 score of every matching document against a fixed
    term set — corpus filtering / retrieval-style relevance without an
    inverted index.

    idf(t) = ln(1 + (N - df_t + 0.5) / (df_t + 0.5)), and the usual
    tf saturation with document-length normalization against the
    corpus mean length.

    Plan shape (two jobs, no explode): pass 1 computes per-term tf
    scan-side (one ``regexp_count`` per term via the padded-delimiter
    trick — codegen, no higher-order functions) and reduces to ONE
    global stats row (N, avgdl, df per term) that is broadcast back;
    pass 2 re-scans, scores, and filters to tf > 0 docs. Per-term
    scores live in separate columns and are summed in written order,
    so the double arithmetic is association-fixed and oracle-exact
    (rounded to 6 as usual). At 100 TB: two parquet scans, zero
    shuffles of document text, one 1-row broadcast.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    for t in terms:
        # terms are embedded verbatim in a regex and matched against
        # LOWERED text — metacharacters would crash or silently
        # mis-count, uppercase could never match
        if not _re.fullmatch(r"[a-z0-9]+", t):
            raise ValueError(
                f"BM25 term {t!r} must be lowercase alphanumeric"
            )
    text = F.col(text_col)
    padded = F.concat(
        F.lit(" "), F.regexp_replace(F.lower(text), r"\s+", "  "), F.lit(" ")
    )

    def tf(t: str) -> Column:
        return F.regexp_count(padded, F.lit(f" {t} ")).cast("int")

    dl = F.size(_words(text_col))
    base = df.select(
        F.col(id_col),
        dl.alias("_dl"),
        *[tf(t).alias(f"_tf_{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count("*").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("int")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))

    def term_score(i: int) -> Column:
        tf_c = F.col(f"_tf_{i}").cast("double")
        df_c = F.col(f"_df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n") - df_c + F.lit(0.5)) / (df_c + F.lit(0.5))
        )
        denom = tf_c + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * (F.col("_dl") / F.col("_avgdl"))
        )
        return idf * (tf_c * F.lit(k1 + 1.0)) / denom

    total = term_score(0)
    for i in range(1, len(terms)):
        total = total + term_score(i)
    any_hit = F.greatest(*[F.col(f"_tf_{i}") for i in range(len(terms))])
    return (
        scored.filter(any_hit > 0)
        .withColumn("bm25", total)
        .select(
            id_col,
            F.col("_dl").alias("dl"),
            *[
                F.col(f"_tf_{i}").alias(f"tf_{t}")
                for i, t in enumerate(terms)
            ],
            "bm25",
        )
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion (BM25 + char-trigram Jaccard)
# ---------------------------------------------------------------------------


def _md5_int_py(s: str) -> int:
    """Python twin of :func:`md5_int` — first 32 bits of md5 as int,
    for embedding literal query hash sets in plans and oracle SQL."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def query_trigram_hashes(query: str) -> list[int]:
    """Sorted distinct hashed character 3-grams of the LOWERCASED
    query string (the literal probe set for the trigram channel)."""
    q = query.lower()
    return sorted({_md5_int_py(q[i : i + 3]) for i in range(len(q) - 2)})


def hybrid_retrieval_rrf(
    df: DataFrame,
    terms: tuple[str, ...],
    query: str,
    top_n: int = 100,
    final_n: int = 20,
    rrf_k: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    size_hint: int | None = None,
) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: fuse a lexical
    BM25 channel (:func:`bm25_scores` on ``terms``) with a fuzzy
    character-3-gram hashed-Jaccard channel against the literal
    ``query`` string, RRF-scored as ``sum over channels of
    1 / (rrf_k + rank)`` (Cormack et al.'s standard k=60) over each
    channel's top-``top_n`` list. This is the retrieval shape behind
    RAG corpus curation: two cheap channels with uncorrelated failure
    modes beat either alone, and RRF needs no score calibration.

    Ranking parity discipline: each channel ranks on its ROUND-6
    score with the id tie-break, so cross-engine rank agreement never
    hinges on sub-ulp double ordering; ranks use the distributed
    global-rank operator (``operators/ranking.py``) — never a
    single-task global window — with ``size_hint`` routing. The
    trigram channel is scan-side expressions only (substr + md5 +
    array_intersect against a literal hash array); the fused frame is
    two ``top_n``-bounded lists, so the join and the final
    (rrf desc, id) cut are constant-size regardless of corpus scale.

    Returns the top-``final_n`` rows: ``id_col``, ``bm25_rank``,
    ``trigram_rank`` (null = outside that channel's top list),
    ``rrf`` (unrounded; catalog rounds at emission).
    """
    from marketdatapipeline_spark.operators.ranking import global_row_number

    qset = query_trigram_hashes(query)
    if not qset:
        raise ValueError("query must contain at least one 3-gram")

    # channel A: BM25, rank on the round-6 score
    bm = bm25_scores(df, terms, k1=k1, b=b, id_col=id_col, text_col=text_col)
    ra = (
        global_row_number(
            bm.select(id_col, F.round("bm25", 6).alias("_s")),
            F.desc("_s"),
            F.col(id_col),
            out_col="bm25_rank",
            size_hint=size_hint,
        )
        .filter(F.col("bm25_rank") <= top_n)
        .select(id_col, "bm25_rank")
    )

    # channel B: hashed char-trigram Jaccard to the literal query set.
    # Explode positions and hash OUTSIDE any lambda: higher-order
    # functions evaluate their lambdas interpreted per element, and
    # ~550 interpreted md5 chains per document put this channel at
    # 5+ s; the explode+project pipeline below is one whole-stage
    # codegen pass (the duplicated text column never materializes —
    # each exploded row projects straight to its 8-byte hash), and
    # the (id, hash) distinct + counts stay partitioned by id, so
    # nothing here shuffles text. Values are identical to the
    # array_distinct/array_intersect formulation by construction.
    s = F.lower(F.col(text_col))
    n = F.length(s)
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    ex = df.select(
        F.col(id_col), s.alias("_s"), F.explode(idx).alias("_p")
    ).select(
        id_col, md5_int(F.col("_s").substr(F.col("_p"), F.lit(3))).alias("_h")
    )
    dh = ex.groupBy(id_col, "_h").agg(F.lit(1).alias("_one"))
    counts = dh.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_nd"),
        F.count(F.when(F.col("_h").isin(qset), F.lit(1))).alias("_i"),
    )
    jac = F.col("_i") / (
        F.col("_nd") + F.lit(len(qset)) - F.col("_i")
    ).cast("double")
    sim = (
        counts.filter(F.col("_i") > 0)
        .select(id_col, F.round(jac, 6).alias("_j"))
    )
    rb = (
        global_row_number(
            sim, F.desc("_j"), F.col(id_col),
            out_col="trigram_rank", size_hint=size_hint,
        )
        .filter(F.col("trigram_rank") <= top_n)
        .select(id_col, "trigram_rank")
    )

    kf = float(rrf_k)
    fused = ra.join(rb, id_col, "full").select(
        id_col,
        F.col("bm25_rank").cast("int").alias("bm25_rank"),
        F.col("trigram_rank").cast("int").alias("trigram_rank"),
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(kf) + F.col("bm25_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(kf) + F.col("trigram_rank")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    # two <=top_n lists: the final cut is constant-size at any corpus
    return fused.orderBy(F.desc("rrf"), F.col(id_col)).limit(final_n)


# ---------------------------------------------------------------------------
# cross-document boilerplate-line removal (C4/RefinedWeb-style)
# ---------------------------------------------------------------------------


def remove_boilerplate_lines(
    df: DataFrame,
    max_doc_freq: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Strip lines that recur across MORE than ``max_doc_freq``
    distinct documents — the C4/RefinedWeb boilerplate step (nav bars,
    cookie banners, footers repeat across a site's pages; prose does
    not). Complements :func:`add_repetition_signals`, which only sees
    WITHIN-document repetition.

    A line is a removal candidate by its trimmed text (64-bit md5
    key — bigints in the shuffle, never line strings; 60 bits makes an
    innocent-line collision casualty ~n²/2⁶¹, negligible at corpus
    scale where 32 bits would not be); blank lines are never counted
    or removed (they are formatting, not boilerplate). Surviving lines
    are reassembled in original order; a fully-boilerplate document
    comes back with empty text, not a dropped row.

    Returns ``df`` with ``text`` rewritten plus ``n_lines`` (original)
    and ``n_lines_removed``.

    Scale: one posexplode (narrow), one distinct + count keyed by the
    line hash (map-side combinable), one broadcast anti-join (the
    boilerplate set is tiny by construction — only lines crossing the
    frequency bar), one groupBy(id) reassembly. No global sort; the
    per-doc line sort happens inside ``array_sort`` on an already
    collected array.
    """
    if max_doc_freq < 1:
        raise ValueError("max_doc_freq must be >= 1")
    key = F.conv(F.substring(F.md5(F.trim(F.col("_line"))), 1, 15), 16, 10).cast(
        "bigint"
    )
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn(
        "_k", F.when(F.trim(F.col("_line")) != "", key)
    )
    boiler = (
        lines.filter(F.col("_k").isNotNull())
        .select(id_col, "_k")
        .distinct()
        .groupBy("_k")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_k")
    )
    kept = lines.join(
        F.broadcast(boiler).withColumnRenamed("_k", "_bk"),
        F.col("_k") == F.col("_bk"),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("_clean"),
        F.count("*").alias("_n_kept"),
    )
    out = (
        df.withColumn("n_lines", F.size(F.split(F.col(text_col), "\n")))
        .join(rebuilt, id_col, "left")
        .withColumns(
            {
                text_col: F.coalesce(F.col("_clean"), F.lit("")),
                "n_lines_removed": (
                    F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0))
                ).cast("int"),
            }
        )
        .drop("_clean", "_n_kept")
    )
    return out


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, rank, term_hash, tf, score): each document's top-``k``
    TF-IDF terms — the document-signature / keyword-extraction step a
    curation pipeline runs for topic audits and near-topic grouping.
    Generalizes :func:`bm25_scores` from a fixed query-term set to
    ALL corpus terms via an inverted explode.

    ``score = tf · (ln((1 + N) / (1 + df)) + 1)`` (sklearn's
    smooth-idf convention, never negative/zero so frequent-everywhere
    terms still rank below rare ones deterministically). Ties rank by
    smaller ``term_hash`` (md5_int of the token, the repo's 32-bit
    hashed-vocabulary convention — bigints in every shuffle, term
    strings never leave the scan).

    Plan shape: one explode to (id, hash) pairs, one (id, hash) tf
    aggregation, one hash-keyed df aggregation joined back (bigint
    equi-join), one global N row broadcast, one per-doc top-k window.
    Everything is map-side combinable; the widest shuffle carries
    (bigint, bigint, long).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    words = df.select(
        F.col(id_col), F.explode(_words(text_col)).alias("_w")
    ).filter(F.col("_w") != "")
    tf = (
        words.select(F.col(id_col), md5_int(F.col("_w")).alias("term_hash"))
        .groupBy(id_col, "term_hash")
        .agg(F.count("*").alias("tf"))
    )
    docfreq = tf.groupBy("term_hash").agg(F.count("*").alias("_df"))
    n_docs = df.agg(F.count("*").alias("_n"))
    scored = (
        tf.join(docfreq, "term_hash")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log(
                    (F.lit(1.0) + F.col("_n"))
                    / (F.lit(1.0) + F.col("_df"))
                )
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.col("term_hash")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term_hash", "tf", "score")
    )


def unigram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: float = 1.0,
) -> DataFrame:
    """(id, n_tokens, mean_neg_logprob, perplexity): per-document
    perplexity under an add-``smoothing`` unigram language model
    trained on the SAME corpus — the KenLM-style fluency/quality
    screen (gibberish and boilerplate-dense documents score far from
    the corpus mode; CCNet filters on exactly this signal, with a
    bigger LM).

    ``p(w) = (c_w + a) / (N + a·V)`` over the corpus counts;
    ``perplexity = exp(-Σ tf·ln p(w) / n_tokens)``. Documents with no
    tokens are absent from the output (a perplexity over zero tokens
    is undefined).

    Plan shape: one explode to (id, term_hash) with words hashed to
    bigints inside the projection (term strings never shuffle), one
    (id, hash) tf aggregation, one hash-keyed vocabulary count joined
    back (bigint equi-join), the two corpus totals broadcast as one
    row, one per-doc aggregation. Per-term ``tf·ln p`` goes through
    decimal(28,14) sums (association-free; ln/exp are the libm
    boundaries, ~1-ulp → far below round-6)."""
    from marketdatapipeline_spark.caching import scoped_persist

    words = df.select(
        F.col(id_col), F.explode(_words(text_col)).alias("_w")
    ).filter(F.col("_w") != "")
    # tf feeds the vocabulary count AND the scoring join; vocab feeds
    # the totals AND the join — persisted (r10) so the corpus is
    # scanned and tokenized once, not once per consumer (same
    # no-exchange-reuse shape as bigram_perplexity)
    tf = scoped_persist(
        words.select(F.col(id_col), md5_int(F.col("_w")).alias("term_hash"))
        .groupBy(id_col, "term_hash")
        .agg(F.count("*").alias("tf"))
    )
    vocab = scoped_persist(
        tf.groupBy("term_hash").agg(F.sum("tf").cast("long").alias("_cw"))
    )
    totals = vocab.agg(
        F.sum("_cw").cast("long").alias("_n"),
        F.count("*").alias("_v"),
    )
    a = F.lit(float(smoothing))
    term = (
        tf.join(vocab, "term_hash")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.col("tf"),
            (
                F.col("tf")
                * F.log((F.col("_cw") + a) / (F.col("_n") + a * F.col("_v")))
            )
            .cast("decimal(28,14)")
            .alias("_t"),
        )
    )
    g = term.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum("_t").alias("_s"),
    )
    m = (-(F.col("_s").cast("double"))) / F.col("n_tokens")
    return g.select(
        id_col,
        "n_tokens",
        m.alias("mean_neg_logprob"),
        F.exp(m).alias("perplexity"),
    )


def bigram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
    smoothing: float = 1.0,
) -> DataFrame:
    """(id, n_bigrams, mean_neg_logprob, perplexity): per-document
    perplexity under an INTERPOLATED bigram language model trained on
    the same corpus — one order up from :func:`unigram_perplexity`
    (context-aware: scrambled word salad that passes the unigram
    screen scores high here because its transitions are improbable).

    ``p(w2 | w1) = lam * c(w1,w2)/c1(w1)
                   + (1-lam) * (c(w2)+a)/(N+aV)``

    — the classical Jelinek-Mercer mixture; the unigram leg keeps
    add-``a`` smoothing so the probability is strictly positive (and
    every scored bigram was seen in training here, so the bigram leg
    is too). Documents with fewer than two tokens are absent.

    Plan shape (the repo's hashed-vocabulary discipline — token
    STRINGS never shuffle): bigram pairs materialize scan-side from
    the token array (``zip_with`` of the two slices, md5 bigints
    inside the projection), then one (id, h1, h2) tf aggregation, the
    count tables join back on bigint keys, the two corpus totals ride
    one broadcast row, and the per-doc reduction sums decimal(28,14)
    log-prob terms (association-free; ln/exp are the libm boundary,
    round-6 at emission).

    The shared subplans are persisted (r10): un-cached, Spark planned
    FIVE document scans (tokenize+md5 each time — the expensive text
    work) because base feeds two chains, tf feeds the join AND the
    bigram-count table, and cb/cw each feed a reduction AND a join,
    with no exchange reuse across the differently-keyed consumers.
    Caching base/tf/cb/cw cuts it to one scan and one tokenize pass;
    all four release via release_caches at the next catalog query."""
    from marketdatapipeline_spark.caching import scoped_persist

    harr = F.transform(
        F.filter(_words(text_col), lambda w: w != ""),
        lambda w: md5_int(w),
    )
    base = scoped_persist(df.select(F.col(id_col), harr.alias("_h")))
    n = F.size(F.col("_h"))
    pairs = base.filter(n >= 2).select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(F.col("_h"), 1, n - 1),
                F.slice(F.col("_h"), 2, n - 1),
                lambda a, b: F.struct(a.alias("h1"), b.alias("h2")),
            )
        ).alias("_bg"),
    )
    tf = scoped_persist(
        pairs.groupBy(
            id_col, F.col("_bg.h1").alias("h1"), F.col("_bg.h2").alias("h2")
        ).agg(F.count("*").alias("tf"))
    )
    cb = scoped_persist(
        tf.groupBy("h1", "h2").agg(F.sum("tf").cast("long").alias("_cb"))
    )
    c1 = cb.groupBy("h1").agg(F.sum("_cb").cast("long").alias("_c1"))
    uni = base.select(F.col(id_col), F.explode(F.col("_h")).alias("h2"))
    cw = scoped_persist(
        uni.groupBy("h2").agg(F.count("*").cast("long").alias("_cw"))
    )
    totals = cw.agg(
        F.sum("_cw").cast("long").alias("_n"), F.count("*").alias("_v")
    )
    a = F.lit(float(smoothing))
    lamc = F.lit(float(lam))
    p = lamc * (F.col("_cb").cast("double") / F.col("_c1")) + (
        F.lit(1.0) - lamc
    ) * ((F.col("_cw") + a) / (F.col("_n") + a * F.col("_v")))
    # r15 A/B note: a "model-first" restructure (assemble bm(h1, h2,
    # log p) from cb ⋈ c1 ⋈ cw ⋈ totals, then ONE tf ⋈ bm join, so the
    # big per-doc table crosses one join instead of three) was built,
    # oracle-verified at 3 tiers, and REVERTED: interleaved same-
    # session A/B read OLD 1.337 vs NEW 1.656 s median at sf0.1. At
    # this tier every count-table join is a broadcast, so tf streams
    # through three pipelined hash probes inside one codegen stage and
    # pays no exchange at all — the restructure only added a bm
    # materialization+broadcast barrier (guide §1.1: the ideal plan is
    # usually slower; the chained shape IS the local ideal while the
    # count tables broadcast, and they broadcast here by 4 orders of
    # magnitude of margin).
    term = (
        tf.join(cb, ["h1", "h2"])
        .join(c1, "h1")
        .join(cw, "h2")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.col("tf"),
            (F.col("tf") * F.log(p)).cast("decimal(28,14)").alias("_t"),
        )
    )
    g = term.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.sum("_t").alias("_s"),
    )
    m = (-(F.col("_s").cast("double"))) / F.col("n_bigrams")
    return g.select(
        id_col,
        "n_bigrams",
        m.alias("mean_neg_logprob"),
        F.exp(m).alias("perplexity"),
    )


def zipf_fit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 1000,
) -> DataFrame:
    """ONE row: (n_terms, n_tokens, slope, intercept, r2) — the
    log-log least-squares fit of term frequency against frequency
    rank over the corpus's ``top_k`` most frequent terms. Natural
    text follows Zipf's law (slope ~ -1); generated/templated spam
    and boilerplate-heavy crawls bend the curve, so the slope is a
    cheap corpus-health gauge (and a drift signal between snapshots).

    Plan: hashed term counts (bigint shuffle keys), ONE top-k window
    cut over the count table (small by construction), then the
    regression folds in a single aggregation of decimal power sums —
    ties rank deterministically by (count desc, hash)."""
    words = df.select(
        F.explode(_words(text_col)).alias("_w")
    ).filter(F.col("_w") != "")
    tf = words.select(md5_int(F.col("_w")).alias("_h")).groupBy("_h").agg(
        F.count("*").alias("_c")
    )
    # top-k via orderBy().limit() — Spark plans TakeOrderedAndProject
    # (per-partition heaps + a k-row merge), so the full vocabulary
    # never sorts on one task the way the old rank-then-filter window
    # did (r10); the rank is then assigned on the k surviving rows,
    # where a single-partition window is the correct plan
    w = Window.orderBy(F.desc("_c"), F.col("_h"))
    ranked = (
        tf.orderBy(F.desc("_c"), F.col("_h"))
        .limit(int(top_k))
        .withColumn("_r", F.row_number().over(w))
    )
    x = F.log(F.col("_r").cast("double"))
    y = F.log(F.col("_c").cast("double"))
    dec = "decimal(28,14)"
    g = ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("_c").cast("long").alias("n_tokens"),
        F.sum(x.cast(dec)).cast("double").alias("_sx"),
        F.sum(y.cast(dec)).cast("double").alias("_sy"),
        F.sum((x * y).cast(dec)).cast("double").alias("_sxy"),
        F.sum((x * x).cast(dec)).cast("double").alias("_sxx"),
        F.sum((y * y).cast(dec)).cast("double").alias("_syy"),
    )
    n = F.col("n_terms").cast("double")
    sxx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    syy = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    sxy = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    slope = F.when(sxx > 0, sxy / sxx)
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    r2 = F.when((sxx > 0) & (syy > 0), sxy * sxy / (sxx * syy))
    return g.select(
        "n_terms",
        "n_tokens",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def quality_screen(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_entropy: float = 2.0,
    max_digit_ratio: float = 0.3,
    max_dup_line_frac: float = 0.3,
    max_span_dup_frac: float | None = None,
    span_k: int = 40,
) -> DataFrame:
    """(id, n_words, char_entropy, digit_ratio, dup_line_frac,
    [span_dup_frac], too_short, low_entropy, digit_heavy, repetitive,
    [span_duplicated], keep): the FineWeb-style composed quality
    verdict — independent screens (length, character entropy, digit
    density, line repetition, and optionally cross-document
    exact-substring span duplication) stacked into one keep/drop
    decision WITH the per-reason flags kept (a pipeline that can't
    say WHY it dropped a document can't be tuned).

    ``max_span_dup_frac`` (opt-in: it adds the corpus-wide gram-hash
    aggregation of :func:`~marketdatapipeline_spark.textops.dedup.
    duplicate_span_stats`) flags documents whose duplicated-position
    fraction exceeds the bar — the Lee-et-al signal that catches a
    pasted/mirrored page the four within-document screens miss.
    Documents shorter than ``span_k`` have no grams (``span_dup_frac``
    NULL) and are not flagged.

    Composition of operators already in the engine
    (textops/analysis.py char stats + entropy,
    add_repetition_signals, textops/dedup.py span audit); the
    shuffles are the entropy's (doc, char) aggregation and — when
    enabled — the span audit's (doc, gram-hash) aggregation;
    everything else is scan-side, and the flags/verdict are pure
    boolean algebra (engine-exact)."""
    from marketdatapipeline_spark.textops.analysis import (
        add_char_stats,
        char_entropy,
    )

    base = add_repetition_signals(
        add_char_stats(df.select(F.col(id_col), F.col(text_col)), text_col),
        text_col,
    )
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: w != ""
    )
    base = base.withColumn("n_words", F.size(words).cast("int"))
    ent = char_entropy(df.select(F.col(id_col), F.col(text_col)), id_col, text_col)
    j = base.join(ent.select(id_col, "char_entropy"), id_col, "left")
    too_short = F.col("n_words") < min_words
    low_entropy = F.coalesce(
        F.col("char_entropy") < min_entropy, F.lit(True)
    )
    digit_heavy = F.coalesce(
        F.col("digit_ratio") > max_digit_ratio, F.lit(False)
    )
    repetitive = F.col("dup_line_frac") > max_dup_line_frac
    cols = [
        id_col,
        "n_words",
        "char_entropy",
        "digit_ratio",
        "dup_line_frac",
    ]
    flags = [
        too_short.alias("too_short"),
        low_entropy.alias("low_entropy"),
        digit_heavy.alias("digit_heavy"),
        repetitive.alias("repetitive"),
    ]
    keep = ~too_short & ~low_entropy & ~digit_heavy & ~repetitive
    if max_span_dup_frac is not None:
        from marketdatapipeline_spark.textops.dedup import (
            duplicate_span_stats,
        )

        span = duplicate_span_stats(
            df.select(F.col(id_col), F.col(text_col)),
            k=span_k,
            id_col=id_col,
            text_col=text_col,
        ).select(id_col, F.col("dup_frac").alias("span_dup_frac"))
        j = j.join(span, id_col, "left")
        span_duplicated = F.coalesce(
            F.col("span_dup_frac") > max_span_dup_frac, F.lit(False)
        )
        cols.append("span_dup_frac")
        flags.append(span_duplicated.alias("span_duplicated"))
        keep = keep & ~span_duplicated
    return j.select(*cols, *flags, keep.alias("keep"))


# ---------------------------------------------------------------------------
# weighted systematic sampling (PPS corpus subsampling)
# ---------------------------------------------------------------------------


def systematic_weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    size_hint: int | None = None,
) -> DataFrame:
    """Deterministic probability-proportional-to-size systematic
    sample of ~``k`` rows — the quality-weighted corpus subsampling
    step of a data-mixing pipeline (pick ~k documents with inclusion
    probability proportional to ``weight_col``, e.g. token count or a
    quality score), with NO randomness: reruns and both engines select
    the identical set.

    Classic systematic PPS: order rows by ``id_col`` (unique by
    contract), accumulate exact decimal cumulative weights ``cw``,
    and select every row whose weight interval ``(cw - w, cw]``
    contains a sampling tick ``j * W / k`` (``W`` = total weight,
    ``j = 1..k``) — i.e. ``floor(cw*k/W) > floor((cw-w)*k/W)``. Rows
    heavier than ``W/k`` span multiple ticks but are emitted once
    (the standard without-replacement clamp); the emitted ``tick`` is
    the highest tick index inside the interval.

    Exactness contract: the cumulative and total weights are exact
    ``decimal(28,10)`` sums (association-free — the DISTRIBUTED
    running sum, operators/ranking.py, above the single-task
    threshold), and the tick quotient is evaluated in DOUBLE from
    those exact decimals: both engines cast the identical decimal to
    the identical correctly-rounded double and apply the same IEEE
    multiply/divide/floor, so the selected set is engine-identical
    even where the double quotient rounds differently from the ideal
    rational. ``try_divide`` keeps an all-zero-weight frame a
    no-rows result instead of an ANSI crash.

    Scale: one pass through the cumsum operator + a scan-side filter;
    nothing quadratic, no collect. ``size_hint`` routes the cumsum
    (physical only, see global_row_number).
    """
    from marketdatapipeline_spark.operators.ranking import global_row_number

    dec = "decimal(28,10)"
    d = df.select(
        F.col(id_col), F.col(weight_col).cast(dec).alias("_w")
    )
    r = global_row_number(
        d,
        id_col,
        out_col="_rn",
        cumsum={"_cw": "_w"},
        cumsum_totals={"_tw": "_cw"},
        size_hint=size_hint,
    )
    kd = F.lit(float(k))
    c_tick = F.floor(
        F.try_divide(F.col("_cw").cast("double") * kd,
                     F.col("_tw").cast("double"))
    )
    p_tick = F.floor(
        F.try_divide((F.col("_cw") - F.col("_w")).cast("double") * kd,
                     F.col("_tw").cast("double"))
    )
    return (
        r.filter(c_tick > p_tick)
        .select(
            F.col(id_col),
            F.col("_w").cast("double").alias("weight"),
            c_tick.cast("bigint").alias("tick"),
        )
    )
