"""Extended catalog: corpus-preparation operators (textops/corpus.py,
similarity/quantize.py) over the ``documents`` and ``embeddings``
tables — repetition signals, deterministic split/sample assignment,
chunking, shard packing, BM25 scoring, benchmark decontamination,
duplicate-cluster connected components, BPE-style token estimation,
PII redaction, and int8 embedding quantization.

Most entries register into ``EXTENDED_REGISTRY`` (catalog.py): the
external 50-query gate is full, so instead of growing the gate-exempt
tail (frozen by review in r5) every entry here is value-checked
cell-exactly against its DuckDB oracle inside the ordinary pytest run
(tests/test_corpus_oracle.py) — a stricter check than the driver's
order-insensitive hash. Three market operators (bars_vwap_anchored,
bars_return_correlation, interval_overlap_sessions) were promoted to
the main ``REGISTRY`` in r7 after consolidation freed gate slots —
they use ``@register`` below. Same two disciplines as the main
catalog: identical aliases both sides, association-fixed double
arithmetic with round-to-6 only guarding libm division/log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketdatapipeline_spark.caching import scoped_persist
from marketdatapipeline_spark.catalog import (
    _pq_rows,
    _r6,
    register,
    register_extended,
)
from marketdatapipeline_spark.catalog_pipeline import _H_SQL, _docs, _emb, tokens3_cte
from marketdatapipeline_spark.similarity.quantize import quantization_summary
from marketdatapipeline_spark.textops.corpus import (
    BPE_TOKEN_PATTERN,
    PII_PATTERNS,
    add_repetition_signals,
    add_token_estimate,
    assign_splits,
    bm25_scores,
    chunk_documents,
    decontaminate,
    duplicate_clusters,
    pack_shards,
    redact_pii,
    top_bigram_stats,
)
from marketdatapipeline_spark.textops.dedup import jaccard_similar_pairs

#: md5-bucket expression on the decimal doc_id string (matches
#: textops.corpus._bucket exactly: md5_int(cast(id as string)) % 1000)
_BUCKET_SQL = (
    _H_SQL.format(x="CAST(doc_id AS VARCHAR)") + " % 1000"
)

_WS_SQL = r"regexp_split_to_array(trim(lower(text)), '\s+')"


@register_extended(
    "corpus_repetition_signals",
    rf"""
    WITH lines AS (
        SELECT doc_id,
               CAST(len(string_split(text, chr(10))) AS INT) AS n_lines,
               CAST(len(list_distinct(string_split(text, chr(10)))) AS INT)
                   AS n_distinct_lines
        FROM documents
    ),
    w AS (SELECT doc_id, {_WS_SQL} AS ws FROM documents),
    e AS (
        SELECT doc_id,
               unnest(CASE WHEN len(ws) >= 2
                   THEN list_transform(range(1, len(ws)),
                                       i -> {_H_SQL.format(x="ws[i] || ' ' || ws[i + 1]")})
                   ELSE [] END) AS bg
        FROM w
    ),
    cnt AS (SELECT doc_id, bg, count(*) AS c FROM e GROUP BY doc_id, bg),
    top AS (
        SELECT doc_id, CAST(sum(c) AS INT) AS n_bigrams,
               CAST(max(c) AS INT) AS top_bigram_n
        FROM cnt GROUP BY doc_id
    )
    SELECT l.doc_id, l.n_lines, l.n_distinct_lines,
           round(CASE WHEN l.n_lines > 0
                 THEN (l.n_lines - l.n_distinct_lines)
                      / CAST(l.n_lines AS DOUBLE)
                 ELSE 0.0 END, 6) + 0.0 AS dup_line_frac,
           t.n_bigrams, t.top_bigram_n,
           round(t.top_bigram_n / CAST(t.n_bigrams AS DOUBLE), 6) + 0.0
               AS top_bigram_frac
    FROM lines l JOIN top t USING (doc_id)
    """,
)
def q_corpus_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate-line fraction
    (scan-side, zero shuffle) + modal-bigram fraction (one explode +
    one doc-keyed aggregation). Docs with fewer than two tokens have
    no bigrams and drop out of the inner join — both engines agree."""
    docs = _docs(spark, sf_dir)
    rep = add_repetition_signals(docs).select(
        "doc_id", "n_lines", "n_distinct_lines",
        _r6(F.col("dup_line_frac")).alias("dup_line_frac"),
    )
    top = top_bigram_stats(docs).select(
        "doc_id", "n_bigrams", "top_bigram_n",
        _r6(F.col("top_bigram_frac")).alias("top_bigram_frac"),
    )
    return rep.join(top, "doc_id")


@register_extended(
    "corpus_split_sample",
    f"""
    SELECT doc_id, source,
           CAST({_BUCKET_SQL} AS INT) AS split_bucket,
           CASE WHEN {_BUCKET_SQL} < 980 THEN 'train'
                WHEN {_BUCKET_SQL} < 990 THEN 'val'
                ELSE 'test' END AS split,
           {_BUCKET_SQL} < 500 AS in_half_sample
    FROM documents
    """,
)
def q_corpus_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test assignment plus a
    50% hash-sample membership flag — reproducible, append-stable,
    engine-independent (md5 of the decimal id both sides). Row-level
    output so the oracle pins every single assignment."""
    from marketdatapipeline_spark.textops.corpus import _bucket

    docs = _docs(spark, sf_dir)
    out = assign_splits(docs, train=980, val=990)
    # membership expressed as a flag (not a filter) so the oracle sees
    # both sides of the cut; the filter form is hash_sample (unit-tested
    # in tests/test_corpus.py to agree with this flag exactly)
    return out.select(
        "doc_id", "source", "split_bucket", "split",
        (_bucket("doc_id") < 500).alias("in_half_sample"),
    )


@register_extended(
    "corpus_weighted_sample",
    f"""
    WITH w AS (
        SELECT doc_id, len({_WS_SQL}) AS wgt FROM documents
    ),
    c AS (
        SELECT doc_id, wgt,
               sum(CAST(wgt AS DECIMAL(28,10)))
                   OVER (ORDER BY doc_id) AS cw,
               sum(CAST(wgt AS DECIMAL(28,10))) OVER () AS tw
        FROM w
    )
    SELECT doc_id, CAST(wgt AS DOUBLE) AS weight,
           CAST(floor(CAST(cw AS DOUBLE) * 100.0 / CAST(tw AS DOUBLE))
                AS BIGINT) AS tick
    FROM c
    WHERE floor(CAST(cw AS DOUBLE) * 100.0 / CAST(tw AS DOUBLE))
          > floor(CAST(cw - wgt AS DOUBLE) * 100.0 / CAST(tw AS DOUBLE))
    """,
)
def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic probability-proportional-to-size systematic
    sample of ~100 documents weighted by word count
    (textops/corpus.py:systematic_weighted_sample) — the
    quality-weighted subsampling step of a data-mixing pipeline,
    with zero randomness: the selected set is rerun- and
    engine-identical. Cumulative weights are exact decimal sums over
    the doc-id order (the DISTRIBUTED running-sum operator above the
    single-task threshold); the tick quotient evaluates in DOUBLE
    from those exact decimals, so both engines floor the identical
    IEEE value. Output is integers plus an exact-integer-valued
    double — nothing rounds."""
    from marketdatapipeline_spark.textops.corpus import (
        _words,
        systematic_weighted_sample,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(_words("text")).alias("wgt")
    )
    return systematic_weighted_sample(
        docs,
        k=100,
        weight_col="wgt",
        size_hint=_pq_rows(spark, sf_dir, "documents"),
    ).orderBy("doc_id")


@register_extended(
    "corpus_chunks",
    """
    WITH idx AS (
        SELECT doc_id, text,
               unnest(CASE WHEN length(text) > 0
                   THEN range(0, CAST(floor((length(text) - 1) / 320) AS INT) + 1)
                   ELSE [] END) AS chunk_id
        FROM documents
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           substr(text, chunk_id * 320 + 1, 400) AS chunk_text,
           CAST(length(substr(text, chunk_id * 320 + 1, 400)) AS INT)
               AS chunk_len
    FROM idx
    """,
)
def q_corpus_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 400-char windows, stride 320 (80-char overlap) —
    narrow explode, chunks stay in the parent row's partition. Every
    chunk string is compared verbatim by the oracle."""
    docs = _docs(spark, sf_dir)
    return chunk_documents(docs, chunk_chars=400, overlap=80)


_SHARD_H = _H_SQL.format(x="CAST(doc_id AS VARCHAR)")


@register_extended(
    "corpus_shards",
    f"""
    WITH r AS (
        SELECT doc_id, n_chars, {_SHARD_H} AS h, {_SHARD_H} % 32 AS b
        FROM documents
    ),
    l AS (
        SELECT doc_id, n_chars, b,
               coalesce(sum(n_chars) OVER (
                   PARTITION BY b ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumb
        FROM r
    ),
    t AS (SELECT b, sum(n_chars) AS tot FROM r GROUP BY b),
    o AS (
        SELECT b, coalesce(sum(tot) OVER (
                   ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS off
        FROM t
    )
    SELECT l.doc_id, l.n_chars,
           CAST(floor((l.cumb + o.off) / 50000) AS INT) AS shard
    FROM l JOIN o USING (b)
    """,
)
def q_corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced shard packing via the distributed two-pass prefix
    sum (32 hash buckets, per-bucket running totals + broadcast bucket
    offsets — never a single-partition global sort). The oracle
    reproduces the same (bucket, hash, id) order and running sums, so
    every shard assignment is pinned exactly."""
    docs = _docs(spark, sf_dir)
    return pack_shards(docs, target_chars=50_000, n_buckets=32)


#: context-window token budget for the sequence-packing entries. 96 is
#: deliberately INSIDE this corpus's token range (10..100 BPE-estimate
#: tokens): docs at 97..100 exercise the truncation branch, everything
#: else the fit/overflow branches, so the oracle pins all three.
_PACK_CAP = 96
#: BPE pre-tokenizer pattern, SQL-quoted (same as _BPE_SQL below —
#: needed here, above its definition point)
_PACK_BPE = BPE_TOKEN_PATTERN.replace("'", "''")
#: recursive next-fit walk over (bucket, hash, id) order — the DuckDB
#: twin of textops.corpus.pack_sequences' per-bucket kernel. One
#: recursion step advances EVERY bucket by one row, so depth is
#: max-rows-per-bucket (~corpus/32), not corpus size.
_PACK_WALK = f"""
    r AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{{bpe}}')) AS INT)
                   AS n_tokens,
               {_SHARD_H} AS h, {_SHARD_H} % 32 AS b
        FROM documents
    ),
    rn AS (
        SELECT doc_id, n_tokens, b,
               least(n_tokens, {_PACK_CAP}) AS eff,
               row_number() OVER (PARTITION BY b ORDER BY h, doc_id) AS i
        FROM r
    ),
    walk AS (
        SELECT b, i, doc_id, n_tokens, eff,
               0 AS local_bin, 0 AS bin_offset, eff AS fill
        FROM rn WHERE i = 1
        UNION ALL
        SELECT rn.b, rn.i, rn.doc_id, rn.n_tokens, rn.eff,
               CASE WHEN w.fill + rn.eff <= {_PACK_CAP}
                    THEN w.local_bin ELSE w.local_bin + 1 END,
               CASE WHEN w.fill + rn.eff <= {_PACK_CAP}
                    THEN w.fill ELSE 0 END,
               CASE WHEN w.fill + rn.eff <= {_PACK_CAP}
                    THEN w.fill + rn.eff ELSE rn.eff END
        FROM walk w JOIN rn ON rn.b = w.b AND rn.i = w.i + 1
    ),
    counts AS (SELECT b, max(local_bin) + 1 AS nb FROM walk GROUP BY b),
    offs AS (
        SELECT b, coalesce(sum(nb) OVER (
                   ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS off
        FROM counts
    ),
    assignment AS (
        SELECT w.doc_id, w.n_tokens, w.eff,
               CAST(w.local_bin + o.off AS INT) AS bin_id,
               CAST(w.bin_offset AS INT) AS bin_offset,
               (w.n_tokens > {_PACK_CAP}) AS truncated
        FROM walk w JOIN offs o USING (b)
    )
"""


@register_extended(
    "corpus_sequence_packing",
    "WITH RECURSIVE "
    + _PACK_WALK.format(bpe=_PACK_BPE)
    + """
    SELECT doc_id, n_tokens, bin_id, bin_offset, truncated
    FROM assignment
    """,
)
def q_corpus_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: documents → fixed 96-token
    context bins, deterministic next-fit in (hash-bucket, hash, id)
    order, no document split across bins. The Spark side walks each
    of 32 buckets in an Arrow kernel (exchange carries only
    id/tokens/hash) and globalizes bin ids by collecting the 32
    per-bucket bin counts into a literal offset map (the
    bounded-manifest shape); the oracle replays the identical walk with
    a recursive CTE, pinning every (bin_id, bin_offset, truncated)
    cell."""
    from marketdatapipeline_spark.textops.corpus import (
        add_token_estimate,
        pack_sequences,
    )

    docs = add_token_estimate(_docs(spark, sf_dir))
    return pack_sequences(docs, context_tokens=_PACK_CAP, n_buckets=32)


@register_extended(
    "corpus_packing_manifest",
    "WITH RECURSIVE "
    + _PACK_WALK.format(bpe=_PACK_BPE)
    + """
    SELECT bin_id,
           string_agg(CAST(doc_id AS VARCHAR), ','
                      ORDER BY bin_offset, doc_id) AS doc_ids,
           CAST(count(*) AS INT) AS n_docs,
           CAST(sum(eff) AS BIGINT) AS fill_tokens
    FROM assignment GROUP BY bin_id
    """,
)
def q_corpus_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin packing manifest (the shard-writer's input): documents
    in bin order as a joined string, doc count, fill tokens. One
    bin_id aggregation; in-bin order reconstructed from the offsets,
    so it is scheduling-independent and oracle-exact."""
    from marketdatapipeline_spark.textops.corpus import (
        add_token_estimate,
        pack_sequences,
        packing_manifest,
    )

    docs = add_token_estimate(_docs(spark, sf_dir))
    packed = pack_sequences(docs, context_tokens=_PACK_CAP, n_buckets=32)
    return packing_manifest(packed, context_tokens=_PACK_CAP)


@register_extended(
    "corpus_packing_waste",
    "WITH RECURSIVE "
    + _PACK_WALK.format(bpe=_PACK_BPE)
    + f"""
    , per_bin AS (
        SELECT bin_id, sum(eff) AS fill, count(*) AS docs
        FROM assignment GROUP BY bin_id
    )
    SELECT CAST(count(*) AS INT) AS n_bins,
           CAST(sum(docs) AS BIGINT) AS n_docs,
           CAST(sum(fill) AS BIGINT) AS packed_tokens,
           CAST(sum({_PACK_CAP} - fill) AS BIGINT) AS padding_tokens,
           round(sum({_PACK_CAP} - fill)
                 / CAST(count(*) * {_PACK_CAP} AS DOUBLE), 6) + 0.0
               AS padding_ratio,
           round(avg(docs), 6) + 0.0 AS avg_docs_per_bin
    FROM per_bin
    """,
)
def q_corpus_packing_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The padding-waste audit row for the 96-token packing: one
    global row — bin count, packed vs padding tokens, padding ratio,
    docs per bin — the number a data-mixing run tunes the context
    budget against. Integer sums + one guarded division."""
    from marketdatapipeline_spark.textops.corpus import (
        add_token_estimate,
        pack_sequences,
        packing_waste,
    )

    docs = add_token_estimate(_docs(spark, sf_dir))
    packed = pack_sequences(docs, context_tokens=_PACK_CAP, n_buckets=32)
    return packing_waste(packed, context_tokens=_PACK_CAP)


_SH_H = _H_SQL.format(x="shingle")


@register_extended(
    "corpus_decontaminate",
    f"""
    WITH {tokens3_cte()},
    th AS (SELECT DISTINCT doc_id, {_SH_H} AS h FROM tokens),
    bench AS (SELECT DISTINCT h FROM th WHERE doc_id % 97 = 0),
    sizes AS (
        SELECT doc_id, count(*) AS n_shingles FROM th
        WHERE doc_id % 97 <> 0 GROUP BY doc_id
    ),
    hits AS (
        SELECT th.doc_id, count(*) AS n_contaminated
        FROM th JOIN bench USING (h)
        WHERE th.doc_id % 97 <> 0 GROUP BY th.doc_id
    )
    SELECT s.doc_id,
           CAST(s.n_shingles AS INT) AS n_shingles,
           CAST(coalesce(x.n_contaminated, 0) AS INT) AS n_contaminated,
           round(coalesce(x.n_contaminated, 0)
                 / CAST(s.n_shingles AS DOUBLE), 6) + 0.0
               AS contamination_frac,
           coalesce(x.n_contaminated, 0) > 0 AS contaminated
    FROM sizes s LEFT JOIN hits x ON x.doc_id = s.doc_id
    """,
)
def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 97th document plays the eval
    set; the rest of the corpus is scored by distinct word-3-gram
    hash overlap against it (explode → hash → broadcast join → count —
    the benchmark side of a real pipeline is always broadcastable)."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = decontaminate(corpus, bench, n=3)
    return out.select(
        "doc_id", "n_shingles", "n_contaminated",
        _r6(F.col("contamination_frac")).alias("contamination_frac"),
        "contaminated",
    )


@register_extended(
    "corpus_dedup_clusters",
    f"""
    WITH RECURSIVE {tokens3_cte("WHERE doc_id < 1000")},
    th AS (SELECT DISTINCT doc_id, {_SH_H} AS h FROM tokens),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM th GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM th a JOIN th b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.5
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    walk(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents WHERE doc_id < 1000
        UNION
        SELECT e.b, w.lbl FROM walk w JOIN edges e ON e.a = w.id
    ),
    lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id)
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS INT)
               AS cluster_size
    FROM lab
    """,
)
def q_corpus_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components (iterative
    min-label propagation, one join + one agg per round) over the
    word-3-gram hashed-Jaccard >= 0.5 pair graph. The oracle walks the
    same graph with a recursive CTE — min reachable id == propagated
    min label, so every cluster assignment is value-checked. Singleton
    docs cluster with themselves."""
    nodes = _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
    pairs = jaccard_similar_pairs(nodes, threshold=0.5, n=3).select(
        "id_a", "id_b"
    )
    return duplicate_clusters(nodes, pairs)


@register_extended(
    "dedup_near_removal",
    f"""
    WITH RECURSIVE {tokens3_cte("WHERE doc_id < 1000")},
    th AS (SELECT DISTINCT doc_id, {_SH_H} AS h FROM tokens),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM th GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM th a JOIN th b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.5
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    walk(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents WHERE doc_id < 1000
        UNION
        SELECT e.b, w.lbl FROM walk w JOIN edges e ON e.a = w.id
    ),
    lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id),
    surv AS (
        SELECT cluster_id AS doc_id,
               CAST(count(*) AS INT) AS n_merged
        FROM lab GROUP BY cluster_id
    )
    SELECT s.doc_id, s.n_merged, md5(d.text) AS text_md5
    FROM surv s JOIN documents d USING (doc_id)
    """,
)
def q_dedup_near_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-DEDUPLICATED corpus (textops/corpus.py:
    deduplicate_near): one canonical (min-id) survivor per connected
    near-duplicate cluster over the same hashed-Jaccard >= 0.5 pair
    graph as corpus_dedup_clusters — the cleaned corpus a training
    run reads, with n_merged recording how many documents each
    survivor represents. md5 of the surviving text pins that the
    RIGHT documents survived, not just the right count. The oracle's
    recursive walk groups by its min label: survivors are exactly
    the cluster ids."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
    pairs = jaccard_similar_pairs(docs, threshold=0.5, n=3).select(
        "id_a", "id_b"
    )
    from marketdatapipeline_spark.textops.corpus import deduplicate_near

    out = deduplicate_near(docs, pairs)
    return out.select(
        "doc_id", "n_merged", F.md5(F.col("text")).alias("text_md5")
    )


# DuckDB fragment: the canonical (id_a < id_b) semantic-similarity
# graph the graph-analytics queries below run on — exact pairwise
# cosine >= 0.2 over the module's standard deterministic 1-in-7
# embedding sample (the word-3-gram dup graph is bimodal on this
# fixture: near-clones or strangers, max degree 2 — no structure for
# graph measures to see; the embedding graph has hubs and triangles
# at every tier). Edge MEMBERSHIP compares the UNROUNDED cosine:
# DuckDB's list_dot_product is the same left fold as the Spark side's
# aggregate() once every operand is DOUBLE (the similarity_cosine_pairs
# pin), so both engines build the identical edge set.
_SIM_GRAPH_CTES = """s AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND vec_id % 7 = 0
    ),
    pairs AS (
        SELECT id_a, id_b, w FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) AS w
            FROM s a JOIN s b ON a.vec_id < b.vec_id
        ) WHERE w >= CAST(0.2 AS DOUBLE)
    ),
    uedges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    deg AS (SELECT src AS node, count(*) AS degree FROM uedges GROUP BY src)
"""

_PR_DAMPING = 0.85
# scalar literals injected into BOTH engines as identical repr()
# doubles (the bars_realized_kernel convention) — note 1 - 0.85 is
# 0.15000000000000002 in IEEE double, NOT 0.15
_PR_TELEPORT = repr(1.0 - _PR_DAMPING)


def _pr_step(prev: str) -> str:
    """One SQL power-iteration CTE body over ``prev``."""
    return f"""
        SELECT d.node, d.degree, d.n_nodes,
               CAST({_PR_TELEPORT} AS DOUBLE)
                   / CAST(d.n_nodes AS DOUBLE)
               + CAST({_PR_DAMPING!r} AS DOUBLE)
                   * CAST(sum(CAST(p.pr / CAST(p.degree AS DOUBLE)
                                   AS DECIMAL(28,18))) AS DOUBLE) AS pr
        FROM uedges e
        JOIN {prev} p ON p.node = e.src
        JOIN {prev} d ON d.node = e.dst
        GROUP BY d.node, d.degree, d.n_nodes
    """


@register_extended(
    "graph_pagerank",
    f"""
    WITH {_SIM_GRAPH_CTES},
    n AS (SELECT count(*) AS n_nodes FROM deg),
    pr0 AS (
        SELECT node, degree, n_nodes,
               CAST(1.0 AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS pr
        FROM deg CROSS JOIN n
    ),
    pr1 AS ({_pr_step("pr0")}),
    pr2 AS ({_pr_step("pr1")}),
    pr3 AS ({_pr_step("pr2")})
    SELECT node AS vec_id, CAST(degree AS BIGINT) AS degree,
           round(pr, 6) + 0.0 AS pagerank
    FROM pr3
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (3 power iterations, d=0.85) over the
    semantic-similarity graph (textops/graph.py:pagerank) — the
    content-aware canonical-document score inside each similarity
    neighborhood (highest-rank node = the natural keep representative,
    vs the blunt min-id policy). Neighbor-contribution sums accumulate
    as decimal(28,18) and the teleport/damping literals are injected
    into both engines as identical repr() doubles, so the rank vector
    is engine-identical at every iteration; round-6 at emission
    only."""
    from marketdatapipeline_spark.similarity import cosine_pairs_above
    from marketdatapipeline_spark.textops.graph import pagerank

    emb = _emb(spark, sf_dir).filter(
        F.col("embedding").isNotNull() & (F.col("vec_id") % 7 == 0)
    )
    pairs = cosine_pairs_above(
        emb,
        threshold=0.2,
        num_blocks=4,
        # shrink the kernel fan-out to the 1-in-7 sample (routing
        # only — the pair set is block-count-invariant; r13, closing
        # the r12 drift adjudication: the graph family was the one
        # blocked-kernel consumer still paying the fixed 10-group
        # launch fan on ~286 vectors)
        size_hint=_pq_rows(spark, sf_dir, "embeddings") // 7 + 1,
    ).select(
        "id_a", "id_b"
    )
    out = pagerank(pairs, iterations=3, damping=_PR_DAMPING, partitions=8)
    return out.select(
        F.col("node").alias("vec_id"),
        F.col("degree").cast("bigint").alias("degree"),
        _r6(F.col("pr")).alias("pagerank"),
    )


@register_extended(
    "graph_triangle_stats",
    f"""
    WITH {_SIM_GRAPH_CTES},
    tri AS (
        SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.id_a = e1.id_b
        WHERE EXISTS (
            SELECT 1 FROM pairs e3
            WHERE e3.id_a = e1.id_a AND e3.id_b = e2.id_b
        )
    ),
    corners AS (
        SELECT node, count(*) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT d.node AS vec_id, CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree >= 2 THEN
               round(CAST(2.0 AS DOUBLE) * coalesce(c.n_triangles, 0)
                     / (CAST(d.degree AS DOUBLE)
                        * (CAST(d.degree AS DOUBLE)
                           - CAST(1.0 AS DOUBLE))), 6) + 0.0
           END AS clustering
    FROM deg d LEFT JOIN corners c ON c.node = d.node
    """,
)
def q_graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficients over the
    semantic-similarity graph (textops/graph.py:triangle_stats):
    dense triangle neighborhoods are template families (drop
    wholesale), chains are revision sequences (keep one) — a
    structural signal no pairwise threshold carries. Edge-iterator
    enumeration (canonical edge list self-join + closing-edge
    semi-join), integer counts UNROUNDED, coefficient round-6."""
    from marketdatapipeline_spark.similarity import cosine_pairs_above
    from marketdatapipeline_spark.textops.graph import triangle_stats

    emb = _emb(spark, sf_dir).filter(
        F.col("embedding").isNotNull() & (F.col("vec_id") % 7 == 0)
    )
    pairs = cosine_pairs_above(
        emb,
        threshold=0.2,
        num_blocks=4,
        # shrink the kernel fan-out to the 1-in-7 sample (routing
        # only — the pair set is block-count-invariant; r13, closing
        # the r12 drift adjudication: the graph family was the one
        # blocked-kernel consumer still paying the fixed 10-group
        # launch fan on ~286 vectors)
        size_hint=_pq_rows(spark, sf_dir, "embeddings") // 7 + 1,
    ).select(
        "id_a", "id_b"
    )
    out = triangle_stats(pairs, partitions=8)
    return out.select(
        F.col("node").alias("vec_id"),
        F.col("degree").cast("bigint").alias("degree"),
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        "clustering",
    )


def _wpr_step(prev: str) -> str:
    """One weighted-PageRank SQL power-iteration CTE body."""
    return f"""
        SELECT d.node, d.strength, d.n_nodes,
               CAST({_PR_TELEPORT} AS DOUBLE)
                   / CAST(d.n_nodes AS DOUBLE)
               + CAST({_PR_DAMPING!r} AS DOUBLE)
                   * CAST(sum(CAST(e.w * (p.pr / p.strength)
                                   AS DECIMAL(28,18))) AS DOUBLE) AS pr
        FROM uw e
        JOIN {prev} p ON p.node = e.src
        JOIN {prev} d ON d.node = e.dst
        GROUP BY d.node, d.strength, d.n_nodes
    """


@register_extended(
    "graph_pagerank_weighted",
    f"""
    WITH {_SIM_GRAPH_CTES},
    uw AS (
        SELECT id_a AS src, id_b AS dst, w FROM pairs
        UNION ALL
        SELECT id_b, id_a, w FROM pairs
    ),
    st AS (
        SELECT src AS node,
               CAST(sum(CAST(w AS DECIMAL(28,18))) AS DOUBLE) AS strength
        FROM uw GROUP BY src
    ),
    n AS (SELECT count(*) AS n_nodes FROM st),
    wpr0 AS (
        SELECT node, strength, n_nodes,
               CAST(1.0 AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS pr
        FROM st CROSS JOIN n
    ),
    wpr1 AS ({_wpr_step("wpr0")}),
    wpr2 AS ({_wpr_step("wpr1")}),
    wpr3 AS ({_wpr_step("wpr2")})
    SELECT node AS vec_id, round(strength, 6) + 0.0 AS strength,
           round(pr, 6) + 0.0 AS pagerank
    FROM wpr3
    """,
)
def q_graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-WEIGHTED PageRank over the semantic-similarity graph
    (textops/graph.py:weighted_pagerank): a 0.9-cosine neighbor
    endorses harder than a 0.2 one — the faithful canonical-document
    rank (the unweighted entry is the threshold-flattened view).
    Strengths and contribution sums accumulate as decimal(28,18) over
    the bit-identical cosine folds; w * (pr / strength) is IEEE-ordered
    scalar math in both engines; round-6 at emission only."""
    from marketdatapipeline_spark.similarity import cosine_pairs_above
    from marketdatapipeline_spark.textops.graph import weighted_pagerank

    emb = _emb(spark, sf_dir).filter(
        F.col("embedding").isNotNull() & (F.col("vec_id") % 7 == 0)
    )
    pairs = cosine_pairs_above(
        emb,
        threshold=0.2,
        num_blocks=4,
        # shrink the kernel fan-out to the 1-in-7 sample (routing
        # only — the pair set is block-count-invariant; r13, closing
        # the r12 drift adjudication: the graph family was the one
        # blocked-kernel consumer still paying the fixed 10-group
        # launch fan on ~286 vectors)
        size_hint=_pq_rows(spark, sf_dir, "embeddings") // 7 + 1,
    ).select(
        "id_a", "id_b", F.col("cosine").alias("weight")
    )
    out = weighted_pagerank(
        pairs, iterations=3, damping=_PR_DAMPING, partitions=8
    )
    return out.select(
        F.col("node").alias("vec_id"),
        _r6(F.col("strength")).alias("strength"),
        _r6(F.col("pr")).alias("pagerank"),
    )


@register_extended(
    "graph_adamic_adar",
    f"""
    WITH {_SIM_GRAPH_CTES},
    cand AS (
        SELECT a.dst AS id_a, b.dst AS id_b, a.src AS m
        FROM uedges a JOIN uedges b
          ON a.src = b.src AND a.dst < b.dst
    ),
    sc AS (
        SELECT c.id_a, c.id_b, count(*) AS n_common,
               CAST(sum(CAST(CAST(1.0 AS DOUBLE)
                             / ln(CAST(d.degree AS DOUBLE))
                             AS DECIMAL(28,18))) AS DOUBLE) AS aa
        FROM cand c JOIN deg d ON d.node = c.m
        GROUP BY c.id_a, c.id_b
    )
    SELECT s.id_a, s.id_b, CAST(s.n_common AS BIGINT) AS n_common,
           round(s.aa, 6) + 0.0 AS aa_score
    FROM sc s
    LEFT JOIN pairs p ON p.id_a = s.id_a AND p.id_b = s.id_b
    WHERE p.id_a IS NULL
    """,
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the semantic-similarity graph
    (textops/graph.py:adamic_adar): non-adjacent pairs whose shared
    neighborhoods say the pairwise threshold probably missed an edge —
    the review queue drained before lowering a global threshold
    blindly. Wedge middles always have degree >= 2 so ln(deg) > 0;
    per-wedge 1/ln(deg) terms (IEEE-identical: ln of an integer-valued
    double) accumulate as decimal(28,18); counts UNROUNDED, score
    round-6."""
    from marketdatapipeline_spark.similarity import cosine_pairs_above
    from marketdatapipeline_spark.textops.graph import adamic_adar

    emb = _emb(spark, sf_dir).filter(
        F.col("embedding").isNotNull() & (F.col("vec_id") % 7 == 0)
    )
    pairs = cosine_pairs_above(
        emb,
        threshold=0.2,
        num_blocks=4,
        # shrink the kernel fan-out to the 1-in-7 sample (routing
        # only — the pair set is block-count-invariant; r13, closing
        # the r12 drift adjudication: the graph family was the one
        # blocked-kernel consumer still paying the fixed 10-group
        # launch fan on ~286 vectors)
        size_hint=_pq_rows(spark, sf_dir, "embeddings") // 7 + 1,
    ).select(
        "id_a", "id_b"
    )
    out = adamic_adar(pairs, partitions=8)
    return out.select(
        "id_a",
        "id_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        _r6(F.col("aa_score")).alias("aa_score"),
    )


_BPE_SQL = BPE_TOKEN_PATTERN.replace("'", "''")


@register_extended(
    "corpus_token_estimate",
    f"""
    WITH c AS (
        SELECT doc_id, length(text) AS n_chars_t,
               len(regexp_extract_all(text, '{_BPE_SQL}')) AS n_bpe
        FROM documents
    )
    SELECT doc_id, CAST(n_bpe AS INT) AS n_tokens_bpe,
           round(CASE WHEN n_bpe > 0
                 THEN n_chars_t / CAST(n_bpe AS DOUBLE) ELSE 0.0 END, 6)
               + 0.0 AS chars_per_token
    FROM c
    """,
)
def q_corpus_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenizer token counts (the budget metric for
    sequence packing / training-cost planning), scan-side regexp_count
    with a pattern restricted to the Java-regex/RE2 common subset so
    both engines tokenize identically."""
    docs = _docs(spark, sf_dir)
    out = add_token_estimate(docs)
    return out.select(
        "doc_id", "n_tokens_bpe",
        _r6(F.col("chars_per_token")).alias("chars_per_token"),
    )


@register_extended(
    "embeddings_quantize_int8",
    """
    WITH s AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
               list_max(list_transform(embedding,
                        v -> abs(CAST(v AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, x, scale, len(x) AS dim,
               CASE WHEN scale > 0
                    THEN list_transform(x, v -> CAST(round(v / scale, 0) AS INT))
                    ELSE list_transform(x, v -> 0) END AS qv
        FROM s
    )
    SELECT vec_id, CAST(dim AS INT) AS dim,
           round(scale, 6) + 0.0 AS scale,
           CAST(list_sum(qv) AS INT) AS q_sum,
           CAST(list_sum(list_transform(qv, v -> abs(v))) AS INT) AS q_l1,
           round(list_max(list_transform(range(1, dim + 1),
                 i -> abs(qv[i] * scale - x[i]))), 6) + 0.0 AS max_abs_err
    FROM q
    """,
)
def q_embeddings_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit (similarity/
    quantize.py): integer checksums q_sum/q_l1 pin every quantized
    element; max_abs_err <= scale/2 by construction. Element-wise
    array arithmetic — no cross-element association, exact across
    engines."""
    emb = _emb(spark, sf_dir)
    out = quantization_summary(emb)
    return out.select(
        "vec_id", "dim",
        _r6(F.col("scale")).alias("scale"),
        "q_sum", "q_l1",
        _r6(F.col("max_abs_err")).alias("max_abs_err"),
    )


#: PII suffix injected into every 7th doc (the synthetic corpus is
#: PII-free, so the redactor needs planted evidence — same trick as
#: dedup_exact_groups' injected duplicates). The doc_id lands in the
#: email local-part so every injected span is unique.
_PII_SUFFIX = (
    " contact: user{id}@example.com or +1 (555) 123-4567; "
    "host 192.168.0.1; ssn 123-45-6789"
)


def _pii_sql() -> str:
    head, tail = _PII_SUFFIX.split("{id}")
    step = (
        "SELECT doc_id, {counts}, "
        "regexp_replace(text, '{pat}', '[PII]', 'g') AS text FROM {src}"
    )
    ctes = [
        "injected AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 "
        f"THEN text || '{head}' || CAST(doc_id AS VARCHAR) || '{tail}' "
        "ELSE text END AS text FROM documents)"
    ]
    src = "injected"
    carried: list[str] = []
    for i, (name, pat) in enumerate(PII_PATTERNS):
        counts = ", ".join(
            carried
            + [f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"]
        )
        ctes.append(f"r{i} AS ({step.format(counts=counts, pat=pat, src=src)})")
        src = f"r{i}"
        carried = [f"n_{n}" for n, _ in PII_PATTERNS[: i + 1]]
    cols = ", ".join(f"n_{n}" for n, _ in PII_PATTERNS)
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT doc_id, {cols}, md5(text) AS redacted_md5 FROM {src}"
    )


@register_extended("corpus_pii_redaction", _pii_sql())
def q_corpus_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus with planted evidence: per-class
    match counts plus md5 of the redacted text, which pins every
    replaced byte without shipping documents through the compare."""
    docs = _docs(spark, sf_dir)
    head, tail = _PII_SUFFIX.split("{id}")
    injected = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(head),
                F.col("doc_id").cast("string"),
                F.lit(tail),
            ),
        ).otherwise(F.col("text")),
    )
    out = redact_pii(injected)
    return out.select(
        "doc_id",
        *[f"n_{name}" for name, _ in PII_PATTERNS],
        F.md5(F.col("text")).alias("redacted_md5"),
    )


#: BM25 constants shared between the Spark plan and the SQL text —
#: repr() literals so both engines parse the *same* double.
_BM25_TERMS = ("data", "spark", "vector")
_K1, _B = 1.2, 0.75


def _bm25_sql() -> str:
    pad = r"' ' || regexp_replace(lower(text), '\s+', '  ', 'g') || ' '"
    tf_cols = ", ".join(
        f"CAST(len(regexp_extract_all({pad}, ' {t} ')) AS INT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    k1, k1p1, one_b, b = repr(_K1), repr(_K1 + 1.0), repr(1.0 - _B), repr(_B)
    score = " + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {k1p1})"
        f" / (tf{i} + {k1} * ({one_b} + {b} * (dl / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    greatest = ", ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    aliases = ", ".join(
        f"tf{i} AS tf_{t}" for i, t in enumerate(_BM25_TERMS)
    )
    return f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len({_WS_SQL}) AS INT) AS dl,
               {tf_cols}
        FROM documents
    ),
    stats AS (
        SELECT count(*) AS n, avg(dl) AS avgdl, {df_cols} FROM base
    )
    SELECT doc_id, dl, {aliases},
           round({score}, 6) + 0.0 AS bm25
    FROM base, stats
    WHERE greatest({greatest}) > 0
    """


@register_extended("corpus_bm25", _bm25_sql())
def q_corpus_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 against a fixed three-term query: per-term tf
    scan-side (padded regexp_count), one global stats row broadcast
    back, association-fixed per-term score sum. The oracle recomputes
    idf/tf saturation with literally the same double constants
    (repr-generated) and operation order."""
    docs = _docs(spark, sf_dir)
    out = bm25_scores(docs, _BM25_TERMS, k1=_K1, b=_B)
    return out.select(
        "doc_id", "dl",
        *[f"tf_{t}" for t in _BM25_TERMS],
        _r6(F.col("bm25")).alias("bm25"),
    )


#: hybrid-retrieval probe: the BM25 term set as a free-text query for
#: the fuzzy trigram channel
_RRF_QUERY = "spark data vector"
_RRF_K = 60
_RRF_TOP_N = 100


def _rrf_sql() -> str:
    from marketdatapipeline_spark.textops.corpus import query_trigram_hashes

    pad = r"' ' || regexp_replace(lower(text), '\s+', '  ', 'g') || ' '"
    tf_cols = ", ".join(
        f"CAST(len(regexp_extract_all({pad}, ' {t} ')) AS INT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    k1, k1p1, one_b, b = repr(_K1), repr(_K1 + 1.0), repr(1.0 - _B), repr(_B)
    score = " + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {k1p1})"
        f" / (tf{i} + {k1} * ({one_b} + {b} * (dl / avgdl)))"
        for i in range(len(_BM25_TERMS))
    )
    greatest = ", ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))
    qset = query_trigram_hashes(_RRF_QUERY)
    qlist = "[" + ", ".join(str(v) for v in qset) + "]"
    h3 = _H_SQL.format(x="substr(lower(text), CAST(i AS INT), 3)")
    return f"""
    WITH base AS (
        SELECT doc_id,
               CAST(len({_WS_SQL}) AS INT) AS dl,
               {tf_cols}
        FROM documents
    ),
    stats AS (
        SELECT count(*) AS n, avg(dl) AS avgdl, {df_cols} FROM base
    ),
    bm AS (
        SELECT doc_id, round({score}, 6) AS s
        FROM base, stats WHERE greatest({greatest}) > 0
    ),
    bmr AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY s DESC, doc_id) AS ra
        FROM bm
    ),
    tri AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, length(text) - 1), i -> {h3})) AS ts
        FROM documents WHERE length(text) >= 3
    ),
    sim AS (
        SELECT doc_id,
               len(list_intersect(ts, {qlist})) AS i_n,
               len(ts) AS nd
        FROM tri
    ),
    simr AS (
        SELECT doc_id,
               round(i_n / CAST(nd + {len(qset)} - i_n AS DOUBLE), 6) AS j
        FROM sim WHERE i_n > 0
    ),
    rb AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY j DESC, doc_id) AS rnk
        FROM simr
    ),
    fused AS (
        SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, a.ra, b.rnk
        FROM (SELECT * FROM bmr WHERE ra <= {_RRF_TOP_N}) a
        FULL JOIN (SELECT * FROM rb WHERE rnk <= {_RRF_TOP_N}) b
          ON a.doc_id = b.doc_id
    )
    SELECT doc_id, CAST(ra AS INT) AS bm25_rank,
           CAST(rnk AS INT) AS trigram_rank,
           round(coalesce(1.0 / ({_RRF_K} + ra), 0.0)
                 + coalesce(1.0 / ({_RRF_K} + rnk), 0.0), 6) + 0.0 AS rrf
    FROM fused
    ORDER BY coalesce(1.0 / ({_RRF_K} + ra), 0.0)
             + coalesce(1.0 / ({_RRF_K} + rnk), 0.0) DESC, doc_id
    LIMIT 20
    """


@register_extended("corpus_hybrid_retrieval_rrf", _rrf_sql())
def q_corpus_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (RRF, k=60): the
    BM25 lexical channel and a hashed char-3-gram Jaccard fuzzy
    channel against the literal query, each ranked on its ROUND-6
    score (sub-ulp-proof rank parity) by the distributed global-rank
    operator, fused as sum of 1/(60+rank) over the two top-100 lists.
    The fused join and the final (rrf desc, id) cut are top-N-bounded
    constants at any corpus size; the trigram set/intersection is
    scan-side expressions against a literal hash array."""
    from marketdatapipeline_spark.textops.corpus import hybrid_retrieval_rrf

    docs = _docs(spark, sf_dir)
    out = hybrid_retrieval_rrf(
        docs,
        _BM25_TERMS,
        _RRF_QUERY,
        top_n=_RRF_TOP_N,
        rrf_k=_RRF_K,
        k1=_K1,
        b=_B,
        size_hint=_pq_rows(spark, sf_dir, "documents"),
    )
    return out.select(
        "doc_id", "bm25_rank", "trigram_rank", _r6(F.col("rrf")).alias("rrf")
    )


# ---------------------------------------------------------------------------
# market-data extensions (operators/vwap.py, operators/resample.py)
# ---------------------------------------------------------------------------

from marketdatapipeline_spark.catalog import _bars_sql  # noqa: E402
from marketdatapipeline_spark.operators.resample import resample_ffill  # noqa: E402
from marketdatapipeline_spark.operators.vwap import anchored_vwap  # noqa: E402


@register(  # r7: promoted to the external gate (slot freed by the
    # ml_confusion_matrix consolidation) — the flagship r6 market operator.
    "bars_vwap_anchored",
    _bars_sql(
        """
        SELECT symbol, datetime, bar_id, close, volume,
               round(CAST(sum(CAST(close * volume AS DECIMAL(28,10))) OVER w
                          AS DOUBLE)
                     / CAST(sum(CAST(volume AS DECIMAL(28,10))) OVER w
                            AS DOUBLE), 6) + 0.0 AS vwap,
               round(close
                     - CAST(sum(CAST(close * volume AS DECIMAL(28,10))) OVER w
                            AS DOUBLE)
                       / CAST(sum(CAST(volume AS DECIMAL(28,10))) OVER w
                              AS DOUBLE), 6) + 0.0 AS vwap_dev
        FROM bars
        WINDOW w AS (
            PARTITION BY symbol, date_trunc('day', datetime)
            ORDER BY datetime, bar_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
        """
    ),
)
def q_bars_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-anchored running VWAP + deviation (operators/vwap.py):
    one window exchange on (symbol, day). exact_decimal accumulation —
    double window sums hit a round-to-6 boundary once in 100k rows at
    sf0.1 (engines associate differently); decimal sums are exact in
    both, so the compare is boundary-proof at any tier."""
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir)
    out = anchored_vwap(bars, anchor="day", exact_decimal=True)
    return out.select(
        "symbol", "datetime", "bar_id", "close", "volume",
        _r6(F.col("vwap")).alias("vwap"),
        _r6(F.col("vwap_dev")).alias("vwap_dev"),
    )


@register_extended(
    "bars_resample_ffill",
    _bars_sql(
        """
        SELECT g.symbol, g.bucket,
               l.last_close IS NOT NULL AS observed,
               last_value(l.last_close IGNORE NULLS) OVER (
                   PARTITION BY g.symbol ORDER BY g.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS close_ffill
        FROM (
            SELECT symbol,
                   unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
            FROM (
                SELECT symbol,
                       min(date_trunc('hour', datetime)) AS lo,
                       max(date_trunc('hour', datetime)) AS hi
                FROM bars GROUP BY symbol
            )
        ) g
        LEFT JOIN (
            -- scalar last-by key: this DuckDB build's arg_max takes no
            -- struct ordering key; epoch_us * 1e10 + bar_id orders
            -- identically to Spark's (datetime, bar_id) struct for any
            -- bar_id < 1e10 (HUGEINT, no overflow)
            SELECT symbol, date_trunc('hour', datetime) AS bucket,
                   arg_max(close,
                           CAST(epoch_us(datetime) AS HUGEINT)
                               * 10000000000 + bar_id) AS last_close
            FROM bars GROUP BY symbol, date_trunc('hour', datetime)
        ) l ON l.symbol = g.symbol AND l.bucket = g.bucket
        """
    ),
)
def q_bars_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly calendar resample with forward fill
    (operators/resample.py): dense grid from sequence-explode over
    per-symbol bounds, in-bucket last observation via max_by on the
    (time, id) struct, fill via last(ignorenulls). Values pass through
    unaggregated, so the compare is exact — no rounding needed."""
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir)
    return resample_ffill(bars, every="hour", value_col="close")


from marketdatapipeline_spark.operators.correlation import (  # noqa: E402
    pairwise_return_correlation,
)
from marketdatapipeline_spark.operators.cross_section import (  # noqa: E402
    cross_sectional,
)
from marketdatapipeline_spark.operators.drawdown import (  # noqa: E402
    running_drawdown,
)
from marketdatapipeline_spark.operators.ohlc_vol import (  # noqa: E402
    GK_COEF,
    LN2,
    ohlc_volatility,
)

#: The window-sum CTE both vol estimators' SQL shares: per-bar terms
#: as doubles (multiplication order mirrors the Spark expressions
#: token-for-token), decimal(28,14) window sums (association-free),
#: and the frame-fill count. Constants come from ohlc_vol.py — ONE
#: Python definition feeds both engines.
_OHLC_VOL_SQL_BODY = f"""
    SELECT symbol, datetime, bar_id,
           CASE WHEN pk_c = 20 THEN
               round(sqrt(greatest(CAST(pk_s AS DOUBLE) / 20 / {4.0 * LN2!r},
                                   0.0)), 6) + 0.0
           END AS vol_parkinson,
           CASE WHEN gk_c = 20 THEN
               round(sqrt(greatest(CAST(gk_s AS DOUBLE) / 20, 0.0)), 6) + 0.0
           END AS vol_garman_klass,
           CASE WHEN rs_c = 20 THEN
               round(sqrt(greatest(CAST(rs_s AS DOUBLE) / 20, 0.0)), 6) + 0.0
           END AS vol_rogers_satchell
    FROM (
        -- min_periods counts NON-NULL terms per estimator, matching
        -- the operator's gate (a degenerate bar nulls its ln-term)
        SELECT symbol, datetime, bar_id,
               sum(CAST(ln(high/low) * ln(high/low)
                        AS DECIMAL(28,14))) OVER w AS pk_s,
               count(ln(high/low) * ln(high/low)) OVER w AS pk_c,
               sum(CAST(0.5 * ln(high/low) * ln(high/low)
                        - {GK_COEF!r} * ln(close/open) * ln(close/open)
                        AS DECIMAL(28,14))) OVER w AS gk_s,
               count(0.5 * ln(high/low) * ln(high/low)
                     - {GK_COEF!r} * ln(close/open) * ln(close/open))
                   OVER w AS gk_c,
               sum(CAST(ln(high/close) * ln(high/open)
                        + ln(low/close) * ln(low/open)
                        AS DECIMAL(28,14))) OVER w AS rs_s,
               count(ln(high/close) * ln(high/open)
                     + ln(low/close) * ln(low/open)) OVER w AS rs_c
        FROM bars
        WINDOW w AS (
            PARTITION BY symbol ORDER BY datetime, bar_id
            ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
        )
    )
"""


@register_extended("bars_ohlc_volatility", _bars_sql(_OHLC_VOL_SQL_BODY))
def q_bars_ohlc_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-20 Parkinson / Garman-Klass / Rogers-Satchell range
    volatility (operators/ohlc_vol.py): three estimators off one
    window exchange, decimal-exact sums under the oracle (per-bar ln
    terms are doubles whose 1-ulp libm spread is ~1e-19 — far inside
    round-6; the decimal sums remove the association error that
    actually bites, the vwap lesson)."""
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir)
    out = ohlc_volatility(bars, window=20, exact_decimal=True)
    return out.select(
        "symbol", "datetime", "bar_id",
        _r6(F.col("vol_parkinson")).alias("vol_parkinson"),
        _r6(F.col("vol_garman_klass")).alias("vol_garman_klass"),
        _r6(F.col("vol_rogers_satchell")).alias("vol_rogers_satchell"),
    )


@register_extended(
    "bars_cross_sectional",
    _bars_sql(
        """
        SELECT symbol, datetime, bar_id, close,
               cnt AS cs_n,
               CASE WHEN close IS NOT NULL THEN CAST(rnk AS INT) END
                   AS cs_rank,
               sx / cnt AS cs_mean,
               close - sx / cnt AS cs_demean,
               CASE WHEN cnt > 1
                         AND (sxx - sx * sx / cnt) / (cnt - 1) > 0 THEN
                   (close - sx / cnt)
                       / sqrt((sxx - sx * sx / cnt) / (cnt - 1))
               END AS cs_zscore
        FROM (
            -- count(close): non-null count, matching the operator;
            -- DuckDB ASC ranks NULLS LAST by default = the operator's
            -- pinned asc_nulls_last
            SELECT symbol, datetime, bar_id, close,
                   count(close) OVER b AS cnt,
                   rank() OVER (
                       PARTITION BY date_trunc('hour', datetime)
                       ORDER BY close
                   ) AS rnk,
                   -- close is 2-decimal quantized: scaled-integer
                   -- sums are EXACT in any engine (decimal casts
                   -- tie-break differently when double ulp ~= the
                   -- decimal quantum — bit ties observed on close^2)
                   CAST(sum(CAST(round(close * 100.0) AS BIGINT)) OVER b
                        AS DOUBLE) / 100.0 AS sx,
                   CAST(sum(CAST(round(close * close * 10000.0) AS BIGINT))
                        OVER b AS DOUBLE) / 10000.0 AS sxx
            FROM bars
            WINDOW b AS (PARTITION BY date_trunc('hour', datetime))
        )
        """
    ),
)
def q_bars_cross_sectional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly cross-sectional rank / mean / demean / z-score of close
    (operators/cross_section.py): one exchange on the bucket serves
    every output. NO rounding: mean/std assemble from decimal-exact
    sums and the remaining scalar IEEE ops order identically in both
    engines, so the compare is bit-exact — round-6 was WORSE here,
    because 2-decimal-quantized closes put bucket means exactly on
    round-6 half boundaries where Spark (BigDecimal HALF_UP) and
    DuckDB (scaled-double round) legitimately disagree (12 one-ulp@6
    ties in 100k rows at sf0.1)."""
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir)
    out = cross_sectional(
        bars, value_col="close", bucket="hour", value_decimals=2
    )
    return out.select(
        "symbol", "datetime", "bar_id", "close", "cs_n", "cs_rank",
        "cs_mean", "cs_demean", "cs_zscore",
    )


@register_extended(
    "bars_drawdown",
    _bars_sql(
        """
        SELECT symbol, datetime, bar_id, close,
               max(close) OVER w AS peak,
               close / max(close) OVER w - 1.0 AS drawdown
        FROM bars
        WINDOW w AS (
            PARTITION BY symbol ORDER BY datetime, bar_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
        """
    ),
)
def q_bars_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running peak + fractional drawdown (operators/drawdown.py).
    No rounding: cumulative MAX is association-free and the remaining
    scalar division/subtraction is identically ordered IEEE arithmetic
    in both engines, so the compare is bit-exact."""
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir)
    out = running_drawdown(bars)
    return out.select(
        "symbol", "datetime", "bar_id", "close", "peak", "drawdown"
    )


#: Shared bar-index-return CTE pair — ONE definition of the aligned
#: return series (operators/correlation.py bar_index_returns's SQL
#: twin) feeds both the correlation and beta oracles.
_RETS_NN_SQL = """
        , rets AS (
            SELECT symbol AS _sym, datetime, bar_id,
                   (close - lag(close) OVER w) / lag(close) OVER w AS _ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        nn AS (
            SELECT _sym, _ret,
                   row_number() OVER (PARTITION BY _sym
                                      ORDER BY datetime, bar_id) AS _idx
            FROM rets WHERE _ret IS NOT NULL
        )
"""


@register(  # r7: promoted to the external gate (slot freed by demoting
    # dedup_minhash_lsh_ngram — its machinery stays gated via the word twin).
    "bars_return_correlation",
    _bars_sql(
        _RETS_NN_SQL
        + """
        , g AS (
            SELECT a._sym AS symbol_a, b._sym AS symbol_b,
                   count(*) AS n_obs,
                   CAST(sum(CAST(a._ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS sx,
                   CAST(sum(CAST(b._ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS sy,
                   CAST(sum(CAST(a._ret * a._ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS sxx,
                   CAST(sum(CAST(b._ret * b._ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS syy,
                   CAST(sum(CAST(a._ret * b._ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS sxy
            FROM nn a JOIN nn b
              ON a._idx = b._idx AND a._sym < b._sym
            GROUP BY a._sym, b._sym
        )
        SELECT symbol_a, symbol_b, n_obs,
               CASE WHEN n_obs * sxx - sx * sx > 0
                         AND n_obs * syy - sy * sy > 0 THEN
                   round((n_obs * sxy - sx * sy)
                         / sqrt((n_obs * sxx - sx * sx)
                                * (n_obs * syy - sy * sy)), 6) + 0.0
               END AS corr
        FROM g
        WHERE n_obs >= 2
        """
    ),
)
def q_bars_return_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise return correlation over bar-index alignment
    (operators/correlation.py): one window exchange, one self
    equi-join on the index, one co-moment aggregation per pair —
    S(S-1)/2 output rows, decimal-exact sums under round-6.

    Local timing note (bench ~3 s warm at sf0.1): the single-file
    events scan plus AQE coalescing the small shuffles serializes the
    stages to one task each — a tiny-input artifact, not a plan
    property; at real scale the index shuffle spreads across the
    cluster and the pair join's S^2-per-index fan-out (bounded by the
    symbol universe) is the only superlinear term."""
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir)
    out = pairwise_return_correlation(bars)
    return out.select(
        "symbol_a", "symbol_b", "n_obs", _r6(F.col("corr")).alias("corr")
    )


from marketdatapipeline_spark.operators.interval_join import (  # noqa: E402
    interval_overlap_join,
)
from marketdatapipeline_spark.operators.sessions import (  # noqa: E402
    session_stats,
)


def _sessions_sql(alias: str, gap_sql: str) -> str:
    """Session-bounds CTE chain for one gap setting: the shared
    session-numbering template (catalog_operators.session_numbering_sql
    — ONE definition of the boundary convention) plus a bounds
    aggregation."""
    from marketdatapipeline_spark.catalog_operators import (
        session_numbering_sql,
    )

    return f"""
        {session_numbering_sql(gap_sql, f"{alias}_f", f"{alias}_n")},
        {alias} AS (
            SELECT user_id, CAST(session_id AS BIGINT) AS {alias}_id,
                   min(ts) AS {alias}_start, max(ts) AS {alias}_end
            FROM {alias}_n GROUP BY user_id, session_id
        )
    """


@register(  # r7: promoted to the external gate (slot freed by demoting
    # the trivial multimodal_frame_sample explode).
    "interval_overlap_sessions",
    f"""
    WITH {_sessions_sql("fine", "INTERVAL 30 MINUTE")},
         {_sessions_sql("coarse", "INTERVAL 2 HOUR")}
    SELECT f.user_id, fine_id, fine_start, fine_end,
           coarse_id, coarse_start, coarse_end
    FROM fine f JOIN coarse c
      ON f.user_id = c.user_id
     AND f.fine_start <= c.coarse_end
     AND c.coarse_start <= f.fine_end
    """,
)
def q_interval_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators/interval_join.py):
    every 30-minute-gap session paired with the 2-hour-gap session(s)
    it overlaps, per user. The bin-bucketed equi-join never plans a
    nested loop (the oracle's inequality join DOES — fine at oracle
    scale, fatal at ours), and the responsibility-bin trick emits each
    pair exactly once with no distinct. Timestamps and ids compare
    exactly — no floats anywhere."""
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )

    def bounds(gap: str, alias: str) -> DataFrame:
        return session_stats(
            ev, F.expr(gap), tie_break=("event_id",)
        ).select(
            "user_id",
            F.col("session_id").alias(f"{alias}_id"),
            F.col("session_start").alias(f"{alias}_start"),
            F.col("session_end").alias(f"{alias}_end"),
        )

    fine = bounds("INTERVAL 30 MINUTES", "fine")
    coarse = bounds("INTERVAL 2 HOURS", "coarse")
    return interval_overlap_join(
        fine,
        coarse,
        left_bounds=("fine_start", "fine_end"),
        right_bounds=("coarse_start", "coarse_end"),
        by=("user_id",),
        bin_width="1 day",
    ).select(
        "user_id", "fine_id", "fine_start", "fine_end",
        "coarse_id", "coarse_start", "coarse_end",
    )


from marketdatapipeline_spark.textops.corpus import domain_mix_sample  # noqa: E402

#: Target language mix for the catalog's mixing query — en-heavy with
#: equal minority shares, the standard multilingual-assembly shape.
DOMAIN_MIX_WEIGHTS = {"en": 0.4, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.15}

_MIX_VALUES = ", ".join(
    f"('{g}', CAST({w!r} AS DOUBLE))"
    for g, w in sorted(DOMAIN_MIX_WEIGHTS.items())
)
_MIX_H = _H_SQL.format(x="CAST(doc_id AS VARCHAR)")


@register_extended(
    "corpus_domain_mix",
    f"""
    WITH w(lang, wt) AS (VALUES {_MIX_VALUES}),
    c AS (
        SELECT d.lang, count(*) AS n, any_value(wt) AS wt
        FROM documents d JOIN w USING (lang) GROUP BY d.lang
    ),
    t AS (SELECT min(CAST(n AS DOUBLE) / wt) AS t FROM c),
    caps AS (
        SELECT lang, n AS group_n,
               CAST(floor(wt * t) AS BIGINT) AS group_cap
        FROM c CROSS JOIN t
    ),
    r AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang ORDER BY {_MIX_H}, doc_id
               ) AS sample_rank
        FROM documents
    )
    SELECT r.doc_id, r.lang, CAST(r.sample_rank AS INT) AS sample_rank,
           caps.group_n, caps.group_cap,
           r.sample_rank <= caps.group_cap AS kept
    FROM r JOIN caps USING (lang)
    """,
)
def q_corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mix sampling (textops/corpus.py
    domain_mix_sample): the scarcest weighted language binds the
    total, every weighted row carries its hash rank / cap / verdict.
    T and the caps are the same scalar double ops in both engines, so
    the integer caps — and therefore every verdict — compare exactly."""
    docs = _docs(spark, sf_dir)
    out = domain_mix_sample(docs, DOMAIN_MIX_WEIGHTS, group_col="lang")
    return out.select(
        "doc_id", "lang", "sample_rank", "group_n", "group_cap", "kept"
    )


from marketdatapipeline_spark.operators.beta import rolling_beta  # noqa: E402


@register_extended(
    "bars_rolling_beta",
    _bars_sql(
        _RETS_NN_SQL
        + """
        , mkt AS (
            SELECT _idx,
                   CAST(sum(CAST(_ret AS DECIMAL(38,18))) AS DOUBLE)
                       / count(*) AS _m
            FROM nn GROUP BY _idx
        ),
        j AS (
            SELECT nn._sym, nn._idx, nn._ret, mkt._m
            FROM nn JOIN mkt USING (_idx)
        ),
        acc AS (
            SELECT _sym, _idx, _ret, _m,
                   count(*) OVER v AS n,
                   CAST(sum(CAST(_ret AS DECIMAL(38,18))) OVER v
                        AS DOUBLE) AS sr,
                   CAST(sum(CAST(_m AS DECIMAL(38,18))) OVER v
                        AS DOUBLE) AS sm,
                   CAST(sum(CAST(_ret * _m AS DECIMAL(38,18))) OVER v
                        AS DOUBLE) AS srm,
                   CAST(sum(CAST(_m * _m AS DECIMAL(38,18))) OVER v
                        AS DOUBLE) AS smm
            FROM j
            WINDOW v AS (PARTITION BY _sym ORDER BY _idx
                         ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
        )
        SELECT _sym AS symbol, CAST(_idx AS INT) AS bar_index,
               _ret AS ret,
               round(_m, 6) + 0.0 AS mkt_ret,
               CASE WHEN n = 60 AND n * smm - sm * sm > 0 THEN
                   round((n * srm - sr * sm) / (n * smm - sm * sm), 6)
                       + 0.0
               END AS beta
        FROM acc
        """
    ),
)
def q_bars_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-60 equal-weight-market beta (operators/beta.py): one
    symbol window, one index aggregation (the market series SHUFFLES —
    never broadcast, so the plan survives an arbitrarily long series),
    one equi-join, one rolling window. Decimal co-moment sums under a
    round-6 guard (the decimal→double cast can tie-break differently
    across engines ~1e-12, so a bit-exact compare would be fragile —
    the opposite trade-off from bars_cross_sectional, whose integer
    sums never tie)."""
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir)
    out = rolling_beta(bars, window=60)
    return out.select(
        "symbol",
        F.col("bar_index").cast("int").alias("bar_index"),
        "ret",
        _r6(F.col("mkt_ret")).alias("mkt_ret"),
        _r6(F.col("beta")).alias("beta"),
    )


# ---------------------------------------------------------------------------
# market microstructure wave (r7): moments, autocorrelation,
# candlestick census, Amihud illiquidity
# ---------------------------------------------------------------------------

from marketdatapipeline_spark.operators.candles import (  # noqa: E402
    candlestick_census,
)
from marketdatapipeline_spark.operators.liquidity import (  # noqa: E402
    amihud_illiquidity,
)
from marketdatapipeline_spark.operators.moments import (  # noqa: E402
    realized_moments,
    return_autocorrelation,
)


@register_extended(
    "bars_realized_moments",
    _bars_sql(
        _RETS_NN_SQL
        + """
        , g AS (
            SELECT _sym AS symbol, count(*) AS n_obs,
                   CAST(sum(CAST(_ret AS DECIMAL(38,18))) AS DOUBLE) AS s1,
                   CAST(sum(CAST(_ret * _ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS s2,
                   CAST(sum(CAST(_ret * _ret * _ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS s3,
                   CAST(sum(CAST(_ret * _ret * _ret * _ret
                                 AS DECIMAL(38,18))) AS DOUBLE) AS s4
            FROM nn GROUP BY _sym
        ),
        m AS (
            SELECT symbol, n_obs, s1, s2, s3, s4,
                   CAST(n_obs AS DOUBLE) AS n,
                   s1 / CAST(n_obs AS DOUBLE) AS mean
            FROM g
        ),
        c AS (
            SELECT symbol, n_obs, n, mean,
                   s2 / n - mean * mean AS m2,
                   s3 / n - 3.0 * mean * (s2 / n)
                       + 2.0 * mean * mean * mean AS m3,
                   s4 / n - 4.0 * mean * (s3 / n)
                       + 6.0 * mean * mean * (s2 / n)
                       - 3.0 * mean * mean * mean * mean AS m4,
                   (s2 - s1 * s1 / n) / (n - 1.0) AS var_s
            FROM m
        )
        SELECT symbol, n_obs,
               round(mean, 6) + 0.0 AS ret_mean,
               CASE WHEN n_obs >= 2 AND var_s >= 0
                    THEN round(sqrt(var_s), 6) + 0.0 END AS ret_std,
               CASE WHEN n_obs >= 2 AND m2 > 0
                    THEN round(m3 / pow(m2, 1.5), 6) + 0.0 END AS ret_skew,
               CASE WHEN n_obs >= 2 AND m2 > 0
                    THEN round(m4 / (m2 * m2) - 3.0, 6) + 0.0 END AS ret_kurt
        FROM c
        """
    ),
)
def q_bars_realized_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol return moment estimators (operators/moments.py):
    one window exchange + one power-sum aggregation. The four raw
    power sums accumulate as decimal(38,18) (association-free) and
    every moment is assembled with identically-ordered double
    arithmetic in both engines under round-6."""
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir)
    out = realized_moments(bars)
    return out.select(
        "symbol", "n_obs",
        _r6(F.col("ret_mean")).alias("ret_mean"),
        _r6(F.col("ret_std")).alias("ret_std"),
        _r6(F.col("ret_skew")).alias("ret_skew"),
        _r6(F.col("ret_kurt")).alias("ret_kurt"),
    )


@register_extended(
    "bars_return_autocorr",
    _bars_sql(
        _RETS_NN_SQL
        + """
        , pairs AS (
            SELECT a._sym, a._ret AS _ra, b._ret AS _rb
            FROM nn a JOIN nn b
              ON a._sym = b._sym AND a._idx = b._idx + 1
        ),
        g AS (
            SELECT _sym AS symbol, count(*) AS n_obs,
                   CAST(sum(CAST(_ra AS DECIMAL(38,18))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(_rb AS DECIMAL(38,18))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(_ra * _ra AS DECIMAL(38,18)))
                        AS DOUBLE) AS sxx,
                   CAST(sum(CAST(_rb * _rb AS DECIMAL(38,18)))
                        AS DOUBLE) AS syy,
                   CAST(sum(CAST(_ra * _rb AS DECIMAL(38,18)))
                        AS DOUBLE) AS sxy
            FROM pairs GROUP BY _sym
        ),
        r AS (
            SELECT symbol, n_obs,
                   CASE WHEN n_obs * sxx - sx * sx > 0
                             AND n_obs * syy - sy * sy > 0 THEN
                       (n_obs * sxy - sx * sy)
                       / sqrt((n_obs * sxx - sx * sx)
                              * (n_obs * syy - sy * sy))
                   END AS rho
            FROM g WHERE n_obs >= 3
        )
        SELECT symbol, n_obs,
               round(rho, 6) + 0.0 AS autocorr,
               CASE WHEN rho > 0 AND rho < 1
                    THEN round(-ln(2.0) / ln(rho), 6) + 0.0 END AS half_life
        FROM r
        """
    ),
)
def q_bars_return_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 return autocorrelation + AR(1) mean-reversion half-life
    (operators/moments.py): the self-lag pairing is a second ``lag``
    window over the same per-symbol partitioning — no join, ONE
    exchange, S output rows. Decimal co-moment sums, round-6.

    The oracle expresses the identical pairing as a self equi-join on
    a._idx = b._idx + 1 (DuckDB has no such single-pass idiom) —
    identical pairs, and the sums are join-order-free."""
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir)
    out = return_autocorrelation(bars, lag=1)
    return out.select(
        "symbol", "n_obs",
        _r6(F.col("autocorr")).alias("autocorr"),
        _r6(F.col("half_life")).alias("half_life"),
    )


@register_extended(
    "bars_candlestick_census",
    _bars_sql(
        """
        SELECT symbol,
               CAST(count(*) AS BIGINT) AS n_bars,
               CAST(sum(CASE WHEN abs(close - open) * 10.0 <= high - low
                             THEN 1 ELSE 0 END) AS BIGINT) AS doji_n,
               CAST(sum(CASE WHEN high - low >= abs(close - open) * 3.0
                              AND least(open, close) - low
                                  >= abs(close - open) * 2.0
                              AND high - greatest(open, close)
                                  <= abs(close - open)
                              AND high - low > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS hammer_n,
               CAST(sum(CASE WHEN pc < po AND close > open
                              AND open <= pc AND close >= po
                             THEN 1 ELSE 0 END) AS BIGINT) AS bull_engulf_n,
               CAST(sum(CASE WHEN pc > po AND close < open
                              AND open >= pc AND close <= po
                             THEN 1 ELSE 0 END) AS BIGINT) AS bear_engulf_n
        FROM (
            SELECT symbol, open, high, low, close,
                   lag(open) OVER w AS po, lag(close) OVER w AS pc
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        )
        GROUP BY symbol
        """
    ),
)
def q_bars_candlestick_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick pattern census (operators/candles.py): one symbol
    window for the previous body, division-free comparison flags, one
    aggregation — exact integer counts, no rounding anywhere."""
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir)
    return candlestick_census(bars)


@register_extended(
    "bars_amihud_illiquidity",
    _bars_sql(
        """
        SELECT symbol,
               count(*) AS n_obs,
               round(1000000.0 * CAST(sum(CAST(abs(_ret) / _dv
                                              AS DECIMAL(38,18)))
                                      AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) + 0.0 AS amihud,
               round(CAST(sum(CAST(_dv AS DECIMAL(38,18))) AS DOUBLE), 6)
                   + 0.0 AS dollar_volume
        FROM (
            SELECT symbol,
                   (close - lag(close) OVER w) / lag(close) OVER w AS _ret,
                   close * volume AS _dv
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        )
        WHERE _ret IS NOT NULL AND _dv > 0
        GROUP BY symbol
        """
    ),
)
def q_bars_amihud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity + dollar volume (operators/liquidity.py):
    one window for returns, one decimal-sum aggregation; the per-bar
    |ret|/dollar_volume term is computed in double then quantized to
    decimal identically in both engines, so the grouped sum is
    association-free under round-6."""
    from marketdatapipeline_spark.sources.tables import bars_from_events

    bars = bars_from_events(spark, sf_dir)
    out = amihud_illiquidity(bars)
    return out.select(
        "symbol", "n_obs",
        _r6(F.col("amihud")).alias("amihud"),
        _r6(F.col("dollar_volume")).alias("dollar_volume"),
    )


@register_extended(
    "ml_walk_forward_folds",
    """
    WITH ranked AS (
        SELECT event_id,
               row_number() OVER (ORDER BY ts, event_id) AS rn,
               count(*) OVER () AS total
        FROM events
    ),
    seg AS (
        SELECT event_id, CAST(((rn - 1) * 6) // total AS INT) AS s
        FROM ranked
    ),
    f AS (SELECT CAST(unnest(range(1, 6)) AS INT) AS fold)
    SELECT f.fold,
           CASE WHEN seg.s < f.fold THEN 'train' ELSE 'val' END AS role,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM seg JOIN f ON seg.s <= f.fold
    GROUP BY 1, 2
    """,
)
def q_ml_walk_forward_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward CV fold census (ml/preparation.py
    assign_time_segments / walk_forward_folds): 6 equal time segments
    over events, fold i trains on segments < i and validates on
    segment i. The oracle is the global row_number definition with
    integer DIV — n + id_sum per (fold, role) pin every row's
    membership including boundary ties. The distributed path never
    sorts the data globally (cumulative counts over the key table +
    per-key tie windows, same machinery as chronological_split's
    cutkey method)."""
    from marketdatapipeline_spark.ml.preparation import assign_time_segments
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    seg = assign_time_segments(
        ev, 6, order_cols=("ts",), tie_break_cols=("event_id",),
        segment_col="_s",
    )
    folds = spark.range(1, 6).select(F.col("id").cast("int").alias("fold"))
    j = seg.join(folds, F.col("_s") <= F.col("fold"))
    return (
        j.withColumn(
            "role",
            F.when(F.col("_s") < F.col("fold"), F.lit("train")).otherwise(
                F.lit("val")
            ),
        )
        .groupBy("fold", "role")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# r8 market-operator wave: variance ratio, anchored TWAP, pairs z-score
# ---------------------------------------------------------------------------

from marketdatapipeline_spark.operators.pairs import (  # noqa: E402
    pair_spread_zscore,
)
from marketdatapipeline_spark.operators.variance_ratio import (  # noqa: E402
    variance_ratio,
)
from marketdatapipeline_spark.operators.vwap import anchored_twap  # noqa: E402
from marketdatapipeline_spark.sources.tables import (  # noqa: E402
    bars_from_events as _bars_from_events_r8,
)


@register_extended(
    "bars_variance_ratio",
    _bars_sql(
        """
        , rr AS (
            SELECT symbol,
                   ln(close / lag(close, 1) OVER w) AS r1,
                   ln(close / lag(close, 5) OVER w) AS rk
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        g AS (
            SELECT symbol,
                   count(r1) AS n_obs_1, count(rk) AS n_obs_k,
                   CAST(sum(CAST(r1 AS DECIMAL(38,18))) AS DOUBLE) AS s1,
                   CAST(sum(CAST(r1 * r1 AS DECIMAL(38,18))) AS DOUBLE)
                       AS s11,
                   CAST(sum(CAST(rk AS DECIMAL(38,18))) AS DOUBLE) AS sk,
                   CAST(sum(CAST(rk * rk AS DECIMAL(38,18))) AS DOUBLE)
                       AS skk
            FROM rr GROUP BY symbol
        ),
        v AS (
            SELECT symbol, n_obs_1, n_obs_k,
                   (s11 - s1 * s1 / CAST(n_obs_1 AS DOUBLE))
                       / (CAST(n_obs_1 AS DOUBLE) - 1.0) AS var1,
                   (skk - sk * sk / CAST(n_obs_k AS DOUBLE))
                       / (CAST(n_obs_k AS DOUBLE) - 1.0) AS vark
            FROM g
        )
        SELECT symbol, n_obs_1, n_obs_k,
               CASE WHEN n_obs_k >= 10 AND var1 > 0
                    THEN round(vark / (5.0 * var1), 6) + 0.0 END AS vr
        FROM v
        """
    ),
)
def q_bars_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay VR(5) per symbol (operators/variance_ratio.py):
    one window computes both return lags, power sums accumulate as
    decimal(38,18), and the ratio assembles with identically-ordered
    double arithmetic in both engines under round-6."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = variance_ratio(bars, k=5)
    return out.select(
        "symbol", "n_obs_1", "n_obs_k", _r6(F.col("vr")).alias("vr")
    )


@register_extended(
    "bars_twap_anchored",
    _bars_sql(
        """
        SELECT symbol, datetime, bar_id, close,
               CAST(sum(CAST(close AS DECIMAL(28,10))) OVER a
                    AS DOUBLE) / (count(*) OVER a) AS twap,
               close - CAST(sum(CAST(close AS DECIMAL(28,10))) OVER a
                            AS DOUBLE) / (count(*) OVER a) AS twap_dev
        FROM bars
        WINDOW a AS (PARTITION BY symbol, date_trunc('day', datetime)
                     ORDER BY datetime, bar_id ROWS UNBOUNDED PRECEDING)
        """
    ),
)
def q_bars_twap_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-anchored running TWAP (operators/vwap.py:anchored_twap),
    the volume-free benchmark next to VWAP: one (symbol, day) window
    exchange, decimal(28,10) running sums for bit-identical
    cross-engine accumulation (the vwap lesson).

    Deliberately UNROUNDED — the only entry where round-6 would
    create divergence instead of absorbing it: the exact decimal sums
    make the raw doubles bit-identical across engines, but twap =
    s/count is an integer-denominator rational whose double lands
    EXACTLY on .5e-6 round boundaries far more often than any other
    column (7 rows in 100k at sf0.1), and Spark's BigDecimal HALF_UP
    disagrees with DuckDB's multiply-based tie behavior there."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = anchored_twap(bars, anchor="day", exact_decimal=True)
    return out.select(
        "symbol", "datetime", "bar_id", "close", "twap", "twap_dev"
    )


@register_extended(
    "bars_pair_spread_zscore",
    _bars_sql(
        """
        , two AS (
            SELECT symbol AS _sym,
                   row_number() OVER (PARTITION BY symbol
                                      ORDER BY datetime, bar_id) AS _idx,
                   close AS _p
            FROM bars
            WHERE symbol IN ('0', '1') AND close IS NOT NULL
        ),
        al AS (
            SELECT _idx,
                   max(CASE WHEN _sym = '0' THEN _p END) AS price_a,
                   max(CASE WHEN _sym = '1' THEN _p END) AS price_b
            FROM two GROUP BY _idx
        ),
        sp AS (
            SELECT _idx, price_a, price_b,
                   ln(price_a) - ln(price_b) AS spread
            FROM al
            WHERE price_a IS NOT NULL AND price_b IS NOT NULL
        ),
        r AS (
            SELECT _idx, price_a, price_b, spread,
                   CAST(sum(CAST(spread AS DECIMAL(38,18))) OVER rw
                        AS DOUBLE) AS s,
                   CAST(sum(CAST(spread * spread AS DECIMAL(38,18))) OVER rw
                        AS DOUBLE) AS ss,
                   count(*) OVER rw AS n
            FROM sp
            WINDOW rw AS (ORDER BY _idx
                          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        )
        SELECT CAST(_idx AS INT) AS bar_index, price_a, price_b,
               round(spread, 6) + 0.0 AS spread,
               CASE WHEN n = 20 THEN round(s / n, 6) + 0.0 END
                   AS spread_mean,
               CASE WHEN n = 20 AND (ss - s * s / n) / (n - 1.0) >= 0
                    THEN round(sqrt((ss - s * s / n) / (n - 1.0)), 6) + 0.0
                    END AS spread_std,
               CASE WHEN n = 20 AND (ss - s * s / n) / (n - 1.0) >= 0
                         AND sqrt((ss - s * s / n) / (n - 1.0)) > 0
                    THEN round((spread - s / n)
                               / sqrt((ss - s * s / n) / (n - 1.0)), 6)
                         + 0.0 END AS zscore
        FROM r
        """
    ),
)
def q_bars_pair_spread_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs-trading log-spread rolling-20 z-score for symbols 0/1
    (operators/pairs.py): bar-index alignment via conditional
    aggregation (no self-join), decimal rolling sums, min_periods
    nulls until the window fills."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = pair_spread_zscore(bars, "0", "1", window=20)
    return out.select(
        "bar_index", "price_a", "price_b",
        _r6(F.col("spread")).alias("spread"),
        _r6(F.col("spread_mean")).alias("spread_mean"),
        _r6(F.col("spread_std")).alias("spread_std"),
        _r6(F.col("zscore")).alias("zscore"),
    )


from marketdatapipeline_spark.textops.corpus import (  # noqa: E402
    remove_boilerplate_lines,
)

#: 60-bit line-hash (see remove_boilerplate_lines) in DuckDB form
_H15_SQL = "CAST(CAST(('0x' || substr(md5({x}), 1, 15)) AS UBIGINT) AS BIGINT)"

#: injected boilerplate line (appears in ~1/5 of docs -> removed) and
#: per-doc unique line (df=1 -> kept) — repr-stable literals shared by
#: the Spark plan and the SQL text
_BOILER_LINE = "SUBSCRIBE TO OUR NEWSLETTER TODAY"


@register_extended(
    "corpus_boilerplate_lines",
    f"""
    WITH base AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN text || chr(10) || '{_BOILER_LINE}'
                    ELSE text END AS t1
        FROM documents
    ),
    inj AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN t1 || chr(10) || 'unique line '
                         || CAST(doc_id AS VARCHAR)
                    ELSE t1 END AS text
        FROM base
    ),
    arr AS (SELECT doc_id, string_split(text, chr(10)) AS a FROM inj),
    lines AS (
        SELECT doc_id, unnest(a) AS line,
               unnest(range(1, len(a) + 1)) AS pos
        FROM arr
    ),
    keyed AS (
        SELECT doc_id, pos, line,
               CASE WHEN trim(line) <> ''
                    THEN {_H15_SQL.format(x="trim(line)")} END AS k
        FROM lines
    ),
    boiler AS (
        SELECT k FROM (
            SELECT k, count(DISTINCT doc_id) AS df
            FROM keyed WHERE k IS NOT NULL GROUP BY k
        ) WHERE df > 2
    ),
    kept AS (
        SELECT doc_id, pos, line FROM keyed
        WHERE k IS NULL OR k NOT IN (SELECT k FROM boiler)
    ),
    reb AS (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT i.doc_id,
           CAST(len(string_split(i.text, chr(10))) AS INT) AS n_lines,
           CAST(len(string_split(i.text, chr(10)))
                - coalesce(r.n_kept, 0) AS INT) AS n_lines_removed,
           md5(coalesce(r.clean, '')) AS clean_md5
    FROM inj i LEFT JOIN reb r USING (doc_id)
    """,
)
def q_corpus_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate-line removal
    (textops/corpus.py:remove_boilerplate_lines) with planted
    evidence, PII-entry style: a nav-bar line injected into 1/5 of
    docs (doc frequency far above the bar -> stripped everywhere) and
    a per-doc unique line into 1/3 (df=1 -> kept). md5 of the cleaned
    text pins every surviving byte and the original line ORDER without
    shipping documents through the compare."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    injected = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit("\n" + _BOILER_LINE)),
        ).otherwise(F.col("text")),
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit("\nunique line "),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    out = remove_boilerplate_lines(injected, max_doc_freq=2)
    return out.select(
        "doc_id",
        "n_lines",
        "n_lines_removed",
        F.md5(F.col("text")).alias("clean_md5"),
    )


from marketdatapipeline_spark.similarity.centroids import (  # noqa: E402
    centroid_similarity,
    label_centroids,
)

#: shared per-(label, pos) centroid-element CTE — decimal sums of the
#: double-widened floats (association-free), round-6 on output: the
#: double->decimal(38,18) CAST itself carries ~1e-18 engine noise
#: (DuckDB converts via double multiplication), so unlike TWAP the
#: raw doubles are NOT bit-identical — but arbitrary-mantissa float
#: sums never terminate on a .5e-6 tie, so round-6 absorbs exactly
_CENTROID_CTE = """
    WITH ex AS (
        SELECT label,
               unnest(CAST(embedding AS DOUBLE[])) AS v,
               unnest(range(0, len(embedding))) AS pos
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    per AS (
        SELECT label, pos, count(*) AS n,
               CAST(sum(CAST(v AS DECIMAL(38,18))) AS DOUBLE) / count(*)
                   AS mean
        FROM ex GROUP BY label, pos
    )
"""


@register_extended(
    "embeddings_label_centroids",
    _CENTROID_CTE
    + """
    SELECT label, CAST(pos AS INT) AS pos, n AS n_vecs,
           round(mean, 6) + 0.0 AS mean
    FROM per
    """,
)
def q_embeddings_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class-prototype elements
    (similarity/centroids.py:label_centroids): posexplode + one
    map-side-combinable aggregation to labels x dim rows; every
    centroid element value-pinned bit-exactly."""
    emb = _emb(spark, sf_dir)
    cents = label_centroids(emb)
    return cents.select(
        "label",
        F.posexplode("centroid").alias("pos", "mean"),
        F.col("n_vecs"),
    ).select("label", "pos", "n_vecs", _r6(F.col("mean")).alias("mean"))


@register_extended(
    "embeddings_centroid_similarity",
    _CENTROID_CTE
    + """
    , cents AS (
        SELECT label, list(mean ORDER BY pos) AS c
        FROM per GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           round(list_dot_product(a.c, b.c)
                 / (sqrt(list_dot_product(a.c, a.c))
                    * sqrt(list_dot_product(b.c, b.c))), 6) + 0.0 AS cosine
    FROM cents a JOIN cents b ON a.label < b.label
    """,
)
def q_embeddings_centroid_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inter-class separation audit: cosine between every pair of
    label centroids (similarity/centroids.py:centroid_similarity) —
    exercises the ordered array reassembly and the sequential dot
    fold; S(S-1)/2 label pairs under round-6."""
    emb = _emb(spark, sf_dir)
    out = centroid_similarity(label_centroids(emb))
    return out.select(
        "label_a", "label_b", _r6(F.col("cosine")).alias("cosine")
    )


from marketdatapipeline_spark.textops.corpus import (  # noqa: E402
    tfidf_top_terms,
)


@register_extended(
    "corpus_tfidf_top_terms",
    f"""
    WITH w AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ),
    tf AS (
        SELECT doc_id, {_H_SQL.format(x="w")} AS term_hash,
               count(*) AS tf
        FROM w WHERE w <> '' GROUP BY doc_id, {_H_SQL.format(x="w")}
    ),
    dfq AS (
        SELECT term_hash, count(*) AS dfc FROM tf GROUP BY term_hash
    ),
    nd AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term_hash, tf.tf,
               tf.tf * (ln((1.0 + n) / (1.0 + dfc)) + 1.0) AS score
        FROM tf JOIN dfq USING (term_hash) CROSS JOIN nd
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term_hash
        ) AS rank
        FROM scored
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, term_hash, tf,
           round(score, 6) + 0.0 AS score
    FROM r WHERE rank <= 3
    """,
)
def q_corpus_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document
    (textops/corpus.py:tfidf_top_terms): hashed-vocabulary inverted
    explode, smooth-idf, per-doc top-k window. Rank ties break on the
    term hash; the score itself rounds to 6 (ln is the one libm term
    in the pipeline)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out = tfidf_top_terms(docs, k=3)
    return out.select(
        "doc_id", "rank", "term_hash", "tf",
        _r6(F.col("score")).alias("score"),
    )


@register_extended(
    "documents_source_stats",
    """
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(quantile_cont(n_chars, 0.5), 6) + 0.0 AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 6) + 0.0 AS p90_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY source, lang
    """,
)
def q_documents_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus composition audit with EXACT
    percentiles (Spark ``percentile``, the sort-based exact aggregate
    — the deliberate contrast to the gate's approx_percentile sketch
    entry): the mix report a curation run publishes before/after
    filtering. Exact percentiles are a per-group sort — fine for
    group-count-bounded audits like this; use the sketch for
    per-document-scale quantiles."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        _r6(F.percentile(F.col("n_chars"), F.lit(0.5))).alias("p50_chars"),
        _r6(F.percentile(F.col("n_chars"), F.lit(0.9))).alias("p90_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


from marketdatapipeline_spark.operators.liquidity import (  # noqa: E402
    kyle_lambda,
    tick_rule_flow,
)

#: shared tick-rule sign CTE (zero tick carries the last non-zero sign)
_TICK_SIGN_SQL = """
    , s1 AS (
        SELECT symbol, datetime, bar_id, close, volume,
               sign(close - lag(close) OVER w) AS raw
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
    ),
    s2 AS (
        SELECT symbol, datetime, bar_id, close, volume,
               last_value(CASE WHEN raw <> 0 THEN raw END IGNORE NULLS)
                   OVER (PARTITION BY symbol ORDER BY datetime, bar_id
                         ROWS UNBOUNDED PRECEDING) AS sgn
        FROM s1
    )
"""


@register_extended(
    "bars_tick_rule_flow",
    _bars_sql(
        _TICK_SIGN_SQL
        + """
    SELECT symbol, date_trunc('hour', datetime) AS bucket_ts,
           CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buys,
           CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sells,
           CAST(sum(CAST(CASE WHEN sgn = 1 THEN volume ELSE 0.0 END
                         AS DECIMAL(28,10))) AS DOUBLE) AS buy_volume,
           CAST(sum(CAST(CASE WHEN sgn = -1 THEN volume ELSE 0.0 END
                         AS DECIMAL(28,10))) AS DOUBLE) AS sell_volume,
           CASE WHEN CAST(sum(CAST(CASE WHEN sgn = 1 THEN volume
                                        ELSE 0.0 END AS DECIMAL(28,10)))
                          AS DOUBLE)
                     + CAST(sum(CAST(CASE WHEN sgn = -1 THEN volume
                                          ELSE 0.0 END AS DECIMAL(28,10)))
                            AS DOUBLE) > 0
                THEN (CAST(sum(CAST(CASE WHEN sgn = 1 THEN volume
                                         ELSE 0.0 END AS DECIMAL(28,10)))
                           AS DOUBLE)
                      - CAST(sum(CAST(CASE WHEN sgn = -1 THEN volume
                                           ELSE 0.0 END AS DECIMAL(28,10)))
                             AS DOUBLE))
                     / (CAST(sum(CAST(CASE WHEN sgn = 1 THEN volume
                                           ELSE 0.0 END AS DECIMAL(28,10)))
                             AS DOUBLE)
                        + CAST(sum(CAST(CASE WHEN sgn = -1 THEN volume
                                             ELSE 0.0 END
                                        AS DECIMAL(28,10))) AS DOUBLE))
                END AS imbalance
    FROM s2 WHERE sgn IS NOT NULL
    GROUP BY symbol, date_trunc('hour', datetime)
    """
    ),
)
def q_bars_tick_rule_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-rule order-flow imbalance per (symbol, hour)
    (operators/liquidity.py:tick_rule_flow). UNROUNDED: decimal
    volume sums make both engines' doubles bit-identical, and the
    imbalance is an integer-volume ratio — exactly the
    integer-denominator shape where round-6 would ADD tie divergence
    (the TWAP lesson)."""
    bars = _bars_from_events_r8(spark, sf_dir)
    return tick_rule_flow(bars, bucket="hour")


@register_extended(
    "bars_kyle_lambda",
    _bars_sql(
        _TICK_SIGN_SQL
        + """
    , per AS (
        SELECT symbol,
               close - lag(close) OVER w AS dp,
               sgn * volume AS sv
        FROM s2
        WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
    ),
    g AS (
        SELECT symbol, count(*) AS n_obs,
               CAST(sum(CAST(dp AS DECIMAL(38,18))) AS DOUBLE) AS sp,
               CAST(sum(CAST(sv AS DECIMAL(38,18))) AS DOUBLE) AS ss,
               CAST(sum(CAST(dp * sv AS DECIMAL(38,18))) AS DOUBLE) AS sps,
               CAST(sum(CAST(sv * sv AS DECIMAL(38,18))) AS DOUBLE) AS sss
        FROM per WHERE dp IS NOT NULL AND sv IS NOT NULL
        GROUP BY symbol
    )
    SELECT symbol, n_obs,
           CASE WHEN n_obs >= 10
                     AND CAST(n_obs AS DOUBLE) * sss - ss * ss > 0
                THEN round((CAST(n_obs AS DOUBLE) * sps - sp * ss)
                           / (CAST(n_obs AS DOUBLE) * sss - ss * ss)
                           * 1e6, 6) + 0.0 END AS lam_e6
    FROM g
    """
    ),
)
def q_bars_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda per symbol (operators/liquidity.py:kyle_lambda),
    reported x1e6 (the slope is O(1e-5) on this data; raw round-6
    would flatten it — the Amihud scaling convention) and rounded to
    guard the double->decimal cast noise in the product sums."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = kyle_lambda(bars)
    return out.select(
        "symbol",
        "n_obs",
        _r6(F.col("lam") * F.lit(1e6)).alias("lam_e6"),
    )


from marketdatapipeline_spark.profiling import profile_columns  # noqa: E402


@register_extended(
    "bars_profile",
    _bars_sql(
        """
        , base AS (SELECT * FROM bars)
        SELECT 'symbol' AS "column", count(*) AS n_rows,
               count(*) - count(symbol) AS n_nulls,
               count(DISTINCT symbol) AS n_distinct,
               CAST(NULL AS DOUBLE) AS min_value,
               CAST(NULL AS DOUBLE) AS max_value,
               CAST(NULL AS DOUBLE) AS mean_value
        FROM base
        UNION ALL
        SELECT 'datetime', count(*), count(*) - count(datetime),
               count(DISTINCT datetime), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM base
        UNION ALL
        SELECT 'close', count(*), count(*) - count(close),
               count(DISTINCT close), CAST(min(close) AS DOUBLE),
               CAST(max(close) AS DOUBLE),
               CAST(sum(CAST(close AS DECIMAL(28,10))) AS DOUBLE)
                   / count(close)
        FROM base
        UNION ALL
        SELECT 'volume', count(*), count(*) - count(volume),
               count(DISTINCT volume), CAST(min(volume) AS DOUBLE),
               CAST(max(volume) AS DOUBLE),
               CAST(sum(CAST(volume AS DECIMAL(28,10))) AS DOUBLE)
                   / count(volume)
        FROM base
        """
    ),
)
def q_bars_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile (profiling.py:profile_columns) over
    four bars columns: nulls, exact distincts, numeric range and
    decimal-exact mean. UNROUNDED — decimal(28,10) sums and integer
    denominators make every double bit-identical cross-engine (and
    round-6 would ADD tie divergence on exactly those ratios, the
    TWAP lesson); min/max/counts are exact by nature."""
    bars = _bars_from_events_r8(spark, sf_dir)
    return profile_columns(
        bars, ["symbol", "datetime", "close", "volume"]
    )


from marketdatapipeline_spark.operators.portfolio import (  # noqa: E402
    portfolio_returns,
)


@register_extended(
    "bars_portfolio_returns",
    _bars_sql(
        _RETS_NN_SQL
        + """
        , wt AS (
            SELECT CAST(s AS VARCHAR) AS _sym,
                   (CAST(s AS DOUBLE) + 1.0) / 55.0 AS _w
            FROM range(0, 10) t(s)
        ),
        j AS (
            SELECT nn._idx, nn._ret, wt._w
            FROM nn JOIN wt ON nn._sym = wt._sym
        ),
        g AS (
            SELECT _idx, count(*) AS n_symbols,
                   CAST(sum(CAST(_w AS DECIMAL(38,18))) AS DOUBLE)
                       AS weight_mass,
                   CAST(sum(CAST(_w * _ret AS DECIMAL(38,18))) AS DOUBLE)
                       AS ws
            FROM j GROUP BY _idx
        )
        SELECT CAST(_idx AS INT) AS bar_index, n_symbols,
               round(weight_mass, 6) + 0.0 AS weight_mass,
               CASE WHEN weight_mass <> 0
                    THEN round(ws / weight_mass, 6) + 0.0 END AS port_ret
        FROM g
        """
    ),
)
def q_bars_portfolio_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted portfolio return per aligned bar index
    (operators/portfolio.py:portfolio_returns) against a
    deterministic triangular weight vector (w_s = (s+1)/55, summing
    to 1 over the 10 symbols). Round-6: the weight products are
    double->decimal casts (engine cast noise — the centroid lesson)."""
    bars = _bars_from_events_r8(spark, sf_dir)
    weights = spark.range(10).select(
        F.col("id").cast("string").alias("symbol"),
        ((F.col("id").cast("double") + F.lit(1.0)) / F.lit(55.0)).alias(
            "weight"
        ),
    )
    out = portfolio_returns(bars, weights)
    return out.select(
        F.col("bar_index").cast("int").alias("bar_index"),
        "n_symbols",
        _r6(F.col("weight_mass")).alias("weight_mass"),
        _r6(F.col("port_ret")).alias("port_ret"),
    )


from marketdatapipeline_spark.operators.resample import detect_gaps  # noqa: E402


@register_extended(
    "bars_gap_detection",
    _bars_sql(
        """
        , step AS (
            SELECT symbol, datetime,
                   lead(datetime) OVER (PARTITION BY symbol
                                        ORDER BY datetime, bar_id) AS nxt
            FROM bars
        )
        SELECT symbol, datetime AS gap_start, nxt AS gap_end,
               epoch(nxt) - epoch(datetime) AS gap_s,
               CAST(floor((epoch(nxt) - epoch(datetime)) / 1800.0) - 1
                    AS INT) AS n_missing
        FROM step
        WHERE nxt IS NOT NULL AND epoch(nxt) - epoch(datetime) > 1800.0
        """
    ),
)
def q_bars_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-health gap audit (operators/resample.py:detect_gaps) at a
    30-minute expected cadence: consecutive-bar holes with the
    implied missing-bar count. UNROUNDED — epoch differences of
    microsecond timestamps are exact doubles in both engines."""
    bars = _bars_from_events_r8(spark, sf_dir)
    return detect_gaps(bars, expected="30 minutes")


from marketdatapipeline_spark.catalog_pipeline import tokens3_cte as _tokens3_cte  # noqa: E402
from marketdatapipeline_spark.textops.dedup import (  # noqa: E402
    containment_similar_pairs,
)


@register_extended(
    "dedup_containment_pairs",
    f"""
    WITH {_tokens3_cte("WHERE doc_id < 1000").strip()},
    th AS (SELECT DISTINCT doc_id, {_H_SQL.format(x="shingle")} AS h
           FROM tokens),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM th GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM th a JOIN th b ON a.h = b.h AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           inter / CAST(sa.n_sh AS DOUBLE) AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
    WHERE inter / CAST(sa.n_sh AS DOUBLE) >= 0.4
    """,
)
def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-set containment |A∩B|/|A| >= 0.4
    (textops/dedup.py:containment_similar_pairs, word-3-gram
    shingles — unigram containment drowned in 200k+ weak pairs) —
    the doc-inside-doc screen Jaccard structurally misses; id_a is
    the contained side and both directions can appear. Integer-ratio
    score — bit-identical, no rounding."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
    return containment_similar_pairs(docs, threshold=0.4, n=3)


#: exact-substring dedup gram width (chars): wide enough that a match
#: means verbatim copying, narrow enough that this corpus (250-577
#: char docs) still exercises the duplicated branch
_SPAN_K = 40
_SPAN_H = _H_SQL.format(x=f"substr(text, CAST(i AS INT), {_SPAN_K})")


@register_extended(
    "dedup_duplicate_spans",
    f"""
    WITH g AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(length(text) - {_SPAN_K - 1}, 0) + 1),
                   i -> {_SPAN_H})) AS h
        FROM documents
    ),
    pg AS (SELECT doc_id, h, count(*) AS c FROM g GROUP BY doc_id, h),
    dg AS (SELECT h, count(*) AS nd FROM pg GROUP BY h),
    dp AS (
        SELECT pg.doc_id, sum(pg.c) AS dup_grams
        FROM pg JOIN dg USING (h) WHERE dg.nd > 1 GROUP BY pg.doc_id
    )
    SELECT d.doc_id,
           CAST(greatest(length(d.text) - {_SPAN_K - 1}, 0) AS BIGINT)
               AS n_grams,
           CAST(coalesce(dp.dup_grams, 0) AS BIGINT) AS dup_grams,
           CASE WHEN length(d.text) >= {_SPAN_K}
                THEN round(coalesce(dp.dup_grams, 0)
                           / CAST(greatest(length(d.text) - {_SPAN_K - 1}, 0)
                                  AS DOUBLE), 6) + 0.0
           END AS dup_frac
    FROM documents d LEFT JOIN dp USING (doc_id)
    """,
)
def q_dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span duplication audit (Lee et al.'s
    dedup-training-data signal, textops/dedup.py:duplicate_span_stats,
    k=40 chars): per document, the fraction of character positions
    whose 40-gram occurs verbatim in another document — the screen
    that catches a pasted paragraph inside an otherwise-unique page,
    which doc-level MinHash/Jaccard structurally miss. Grams hash to
    bigints at the scan (no gram text in any exchange); the (doc,
    hash) aggregation is map-side combined and AQE plans the
    follow-on exchanges (an explicit gram-hash repartition measured
    ~20% slower and was dropped). Integer counts; round-6 ratio."""
    from marketdatapipeline_spark.textops.dedup import duplicate_span_stats

    docs = _docs(spark, sf_dir)
    return duplicate_span_stats(docs, k=_SPAN_K)


@register_extended(
    "dedup_remove_spans",
    f"""
    WITH pos AS (
        SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - {_SPAN_K - 1}, 0) + 1))
                   AS i
        FROM documents
    ),
    g AS (SELECT doc_id, CAST(i AS INT) AS i, {_SPAN_H} AS h FROM pos),
    gs AS (
        SELECT h, count(DISTINCT doc_id) AS nd, min(doc_id) AS keep
        FROM g GROUP BY h
    ),
    dp AS (
        SELECT g.doc_id, g.i FROM g JOIN gs USING (h)
        WHERE gs.nd > 1 AND g.doc_id <> gs.keep
    ),
    rm AS (
        SELECT DISTINCT doc_id, i + o AS c
        FROM dp CROSS JOIN (SELECT unnest(range(0, {_SPAN_K})) AS o) offs
    ),
    stats AS (
        SELECT doc_id,
               count(*) AS chars_removed,
               sum(CASE WHEN prev IS NULL OR c - prev > 1
                        THEN 1 ELSE 0 END) AS n_spans
        FROM (SELECT doc_id, c,
                     lag(c) OVER (PARTITION BY doc_id ORDER BY c) AS prev
              FROM rm)
        GROUP BY doc_id
    ),
    chars AS (
        SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS c
        FROM documents
    ),
    kept AS (
        SELECT ch.doc_id, ch.c, substr(ch.text, CAST(ch.c AS INT), 1) AS s
        FROM chars ch LEFT JOIN rm ON rm.doc_id = ch.doc_id AND rm.c = ch.c
        WHERE rm.c IS NULL
    ),
    reb AS (
        SELECT doc_id, string_agg(s, '' ORDER BY c) AS clean
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(length(d.text) AS INT) AS n_chars,
           CAST(coalesce(st.chars_removed, 0) AS INT) AS chars_removed,
           CAST(coalesce(st.n_spans, 0) AS INT) AS n_spans_removed,
           md5(coalesce(r.clean, '')) AS clean_md5
    FROM documents d
    LEFT JOIN stats st USING (doc_id)
    LEFT JOIN reb r USING (doc_id)
    """,
)
def q_dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span REMOVAL (the operator half of Lee et
    al.'s dedup, textops/dedup.py:remove_duplicate_spans, k=40,
    keep_first): cross-document duplicated 40-gram runs merge into
    maximal spans and are cut from every document except the
    minimum-doc_id canonical carrier, which keeps the corpus's one
    surviving copy. md5 of the cleaned text pins every surviving byte
    and segment order; integer counts pin span accounting. The
    oracle derives the same removed set independently via char-level
    membership (gram start covers [i, i+k-1]) + island counting,
    while the Spark side merges spans with higher-order folds — two
    formulations, one answer."""
    from marketdatapipeline_spark.textops.dedup import (
        remove_duplicate_spans,
    )

    docs = _docs(spark, sf_dir)
    out = remove_duplicate_spans(docs, k=_SPAN_K)
    return out.select(
        "doc_id",
        "n_chars",
        "chars_removed",
        "n_spans_removed",
        F.md5(F.col("text")).alias("clean_md5"),
    )


from marketdatapipeline_spark.operators.drawdown import (  # noqa: E402
    drawdown_summary,
)


@register_extended(
    "bars_drawdown_summary",
    _bars_sql(
        """
        , dd AS (
            SELECT symbol, datetime, bar_id, close,
                   max(close) OVER w AS peak,
                   close / max(close) OVER w - 1.0 AS drawdown
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id
                         ROWS UNBOUNDED PRECEDING)
        ),
        trough AS (
            SELECT *, row_number() OVER (
                PARTITION BY symbol ORDER BY drawdown, datetime, bar_id
            ) AS rn
            FROM dd
        ),
        t2 AS (
            SELECT symbol, drawdown AS max_drawdown,
                   datetime AS trough_ts, peak AS peak_value,
                   close AS trough_value,
                   datetime AS tdt, bar_id AS tbid
            FROM trough WHERE rn = 1
        ),
        pk AS (
            SELECT d.symbol,
                   min(d.datetime ORDER BY d.datetime, d.bar_id) AS peak_ts
            FROM dd d JOIN t2
              ON d.symbol = t2.symbol AND d.close = t2.peak_value
             AND ROW(d.datetime, d.bar_id) <= ROW(t2.tdt, t2.tbid)
            GROUP BY d.symbol
        )
        SELECT t2.symbol,
               round(t2.max_drawdown, 6) + 0.0 AS max_drawdown,
               pk.peak_ts, t2.trough_ts, t2.peak_value, t2.trough_value
        FROM t2 JOIN pk ON t2.symbol = pk.symbol
        """
    ),
)
def q_bars_drawdown_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst peak-to-trough drawdown per symbol with its peak/trough
    timestamps (operators/drawdown.py:drawdown_summary): min_by
    argmin with a full-order tie-break, the in-force peak carried on
    the trough row, and the earliest at-or-before print of the peak
    price. Values are exact (max/min/division); only the drawdown
    ratio rounds."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = drawdown_summary(bars)
    return out.select(
        "symbol",
        _r6(F.col("max_drawdown")).alias("max_drawdown"),
        "peak_ts", "trough_ts", "peak_value", "trough_value",
    )


# ---------------------------------------------------------------------------
# classic technical indicators (r8: ATR / stochastic / OBV / Donchian)
# ---------------------------------------------------------------------------

from marketdatapipeline_spark.operators.indicators import (  # noqa: E402
    atr,
    donchian_channels,
    on_balance_volume,
    stochastic_oscillator,
)


@register_extended(
    "bars_atr",
    _bars_sql(
        """
        , pcte AS (
            SELECT symbol, datetime, bar_id, high, low,
                   lag(close) OVER (
                       PARTITION BY symbol ORDER BY datetime, bar_id
                   ) AS pc
            FROM bars
        ),
        tr AS (
            -- explicit first-bar branch: greatest() null-skip differs
            -- across engines, CASE does not (operators/indicators.py)
            SELECT symbol, datetime, bar_id,
                   CASE WHEN pc IS NULL THEN high - low
                        ELSE greatest(high - low, abs(high - pc),
                                      abs(low - pc))
                   END AS tr
            FROM pcte
        )
        SELECT symbol, datetime, bar_id,
               CASE WHEN count(tr) OVER w = 14 THEN
                   round(CAST(sum(CAST(tr AS DECIMAL(28,14))) OVER w
                              AS DOUBLE) / 14, 6) + 0.0
               END AS atr
        FROM tr
        WINDOW w AS (
            PARTITION BY symbol ORDER BY datetime, bar_id
            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW
        )
        """
    ),
)
def q_bars_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average true range, SMA-14 variant (operators/indicators.py:atr
    method="sma"): per-bar true range is a deterministic IEEE chain
    (bit-identical cross-engine), the rolling mean rides exact
    decimal(28,14) prefix-difference sums — the oracle's direct frame
    sum matches the prefix diff bit-for-bit because decimal addition
    is exact. The Wilder-smoothed variant rides the EWMA scan
    (features/ewm.py:add_ewm_native) and is pinned by pandas parity
    (tests/test_indicators.py), not by this oracle — a 100k-deep
    exponential recursion has no association-free SQL form."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = atr(bars, window=14, method="sma")
    return out.select(
        "symbol", "datetime", "bar_id", _r6(F.col("atr")).alias("atr")
    )


@register_extended(
    "bars_stochastic",
    _bars_sql(
        """
        , st AS (
            SELECT symbol, datetime, bar_id, close,
                   max(high) OVER wk AS hh,
                   min(low) OVER wk AS ll,
                   count(*) OVER wk AS kc
            FROM bars
            WINDOW wk AS (
                PARTITION BY symbol ORDER BY datetime, bar_id
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW
            )
        ),
        k AS (
            SELECT symbol, datetime, bar_id,
                   CASE WHEN kc = 14 AND hh > ll THEN
                       100.0 * (close - ll) / (hh - ll)
                   END AS pct_k
            FROM st
        )
        SELECT symbol, datetime, bar_id, pct_k,
               CASE WHEN count(pct_k) OVER wd = 3 THEN
                   round(CAST(sum(CAST(pct_k AS DECIMAL(28,14))) OVER wd
                              AS DOUBLE) / 3, 6) + 0.0
               END AS pct_d
        FROM k
        WINDOW wd AS (
            PARTITION BY symbol ORDER BY datetime, bar_id
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
        )
        """
    ),
)
def q_bars_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K(14)/%D(3)
    (operators/indicators.py:stochastic_oscillator): %K is window
    max/min picks plus three IEEE ops in pinned order — emitted
    UNROUNDED (bit-identical cross-engine); %D is a decimal-exact
    3-row mean of %K, round-6 (the decimal cast is the one noisy
    step). Both ride ONE window exchange."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = stochastic_oscillator(bars, k_window=14, d_window=3)
    return out.select(
        "symbol", "datetime", "bar_id",
        "pct_k", _r6(F.col("pct_d")).alias("pct_d"),
    )


@register_extended(
    "bars_obv",
    _bars_sql(
        """
        , d AS (
            SELECT symbol, datetime, bar_id, volume,
                   close - lag(close) OVER (
                       PARTITION BY symbol ORDER BY datetime, bar_id
                   ) AS delta
            FROM bars
        )
        SELECT symbol, datetime, bar_id,
               sum(CASE WHEN delta > 0 THEN volume
                        WHEN delta < 0 THEN -volume
                        ELSE 0.0 END) OVER (
                   PARTITION BY symbol ORDER BY datetime, bar_id
                   ROWS UNBOUNDED PRECEDING
               ) AS obv
        FROM d
        """
    ),
)
def q_bars_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume (operators/indicators.py:on_balance_volume):
    running signed-volume sum, OBV(0)=0 convention. Volumes are
    integer-valued, so every partial sum is an integer far below 2^53
    — EXACT in double under any association (DuckDB's segment-tree
    window sum and Spark's running frame agree bit-for-bit), emitted
    unrounded."""
    bars = _bars_from_events_r8(spark, sf_dir)
    return on_balance_volume(bars).select(
        "symbol", "datetime", "bar_id", "obv"
    )


@register_extended(
    "bars_donchian",
    _bars_sql(
        """
        SELECT symbol, datetime, bar_id,
               CASE WHEN cnt = 20 THEN hh END AS dc_upper,
               CASE WHEN cnt = 20 THEN ll END AS dc_lower,
               CASE WHEN cnt = 20 THEN (hh + ll) / 2.0 END AS dc_mid
        FROM (
            SELECT symbol, datetime, bar_id,
                   max(high) OVER w AS hh,
                   min(low) OVER w AS ll,
                   count(*) OVER w AS cnt
            FROM bars
            WINDOW w AS (
                PARTITION BY symbol ORDER BY datetime, bar_id
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
            )
        )
        """
    ),
)
def q_bars_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel 20 (operators/indicators.py:donchian_channels):
    highest-high / lowest-low picks plus one add-and-halve for the
    midpoint — exact cross-engine, emitted unrounded; null until the
    frame fills (partial channels generate false breakouts). One
    window exchange for all three bands."""
    bars = _bars_from_events_r8(spark, sf_dir)
    return donchian_channels(bars, window=20).select(
        "symbol", "datetime", "bar_id", "dc_upper", "dc_lower", "dc_mid"
    )


from marketdatapipeline_spark.operators.indicators import (  # noqa: E402
    ichimoku,
    pivot_points,
)


@register_extended(
    "bars_ichimoku",
    _bars_sql(
        """
        , mids AS (
            SELECT symbol, datetime, bar_id, close,
                   CASE WHEN count(*) OVER w9 = 9 THEN
                       (max(high) OVER w9 + min(low) OVER w9) / 2.0
                   END AS tenkan_sen,
                   CASE WHEN count(*) OVER w26 = 26 THEN
                       (max(high) OVER w26 + min(low) OVER w26) / 2.0
                   END AS kijun_sen,
                   CASE WHEN count(*) OVER w52 = 52 THEN
                       (max(high) OVER w52 + min(low) OVER w52) / 2.0
                   END AS sb
            FROM bars
            WINDOW w9 AS (PARTITION BY symbol ORDER BY datetime, bar_id
                          ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
                   w26 AS (PARTITION BY symbol ORDER BY datetime, bar_id
                           ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
                   w52 AS (PARTITION BY symbol ORDER BY datetime, bar_id
                           ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
        )
        SELECT symbol, datetime, bar_id, tenkan_sen, kijun_sen,
               lag((tenkan_sen + kijun_sen) / 2.0, 26) OVER wl AS senkou_a,
               lag(sb, 26) OVER wl AS senkou_b,
               lead(close, 26) OVER wl AS chikou
        FROM mids
        WINDOW wl AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        """
    ),
)
def q_bars_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku Kinko Hyo 9/26/52 (operators/indicators.py:ichimoku):
    five lines from range-midpoint picks and row displacements — all
    exact deterministic IEEE chains, emitted UNROUNDED. The three
    range windows and both displacement lags share one (symbol)
    partitioning: a single exchange."""
    bars = _bars_from_events_r8(spark, sf_dir)
    return ichimoku(bars).select(
        "symbol", "datetime", "bar_id",
        "tenkan_sen", "kijun_sen", "senkou_a", "senkou_b", "chikou",
    )


@register_extended(
    "bars_pivot_points",
    _bars_sql(
        """
        , daily AS (
            SELECT symbol, date_trunc('day', datetime) AS day,
                   max(high) AS h, min(low) AS l,
                   last(close ORDER BY datetime, bar_id) AS c
            FROM bars GROUP BY 1, 2
        ),
        lagged AS (
            SELECT symbol, day,
                   lag(h) OVER w AS ph, lag(l) OVER w AS pl,
                   lag(c) OVER w AS pc
            FROM daily WINDOW w AS (PARTITION BY symbol ORDER BY day)
        )
        SELECT symbol, day, "pivot",
               2.0 * "pivot" - pl AS r1,
               2.0 * "pivot" - ph AS s1,
               "pivot" + (ph - pl) AS r2,
               "pivot" - (ph - pl) AS s2
        FROM (
            SELECT symbol, day, ph, pl,
                   (ph + pl + pc) / 3.0 AS "pivot"
            FROM lagged
        )
        """
    ),
)
def q_bars_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivot levels per (symbol, day) from the
    previous session's H/L/C (operators/indicators.py:pivot_points):
    one map-side-combinable day-grain agg (deterministic close via
    max_by over the full bar order / ORDER BY last in the oracle) +
    one lag window over the tiny day table. Exact picks and pinned
    IEEE chains — UNROUNDED."""
    bars = _bars_from_events_r8(spark, sf_dir)
    return pivot_points(bars).select(
        "symbol", "day", "pivot", "r1", "s1", "r2", "s2"
    )


from marketdatapipeline_spark.profiling import validate_rules  # noqa: E402

#: Expectation suite the documents_rule_violations entry runs — one
#: Python definition; the oracle below mirrors each predicate
#: token-for-token.
DOC_RULES = [
    {"name": "doc_id_not_null", "check": "not_null", "column": "doc_id"},
    {"name": "doc_id_unique", "check": "unique", "column": "doc_id"},
    {
        "name": "n_chars_in_range",
        "check": "range",
        "column": "n_chars",
        "min": 1,
        "max": 300,
    },
    {
        "name": "lang_allowed",
        "check": "in_set",
        "column": "lang",
        "values": ["en", "es", "fr", "de"],
    },
    {
        "name": "text_starts_ascii",
        "check": "matches",
        "column": "text",
        "pattern": "^[A-Za-z]",
    },
    {
        "name": "n_chars_consistent",
        "check": "expr",
        "expr": "n_chars = length(text)",
    },
]


@register_extended(
    "documents_rule_violations",
    """
    WITH s AS (
        SELECT count(*) AS n,
               count(*) FILTER (WHERE doc_id IS NULL) AS v0,
               count(doc_id) - count(DISTINCT doc_id) AS v1,
               count(*) FILTER (WHERE n_chars IS NOT NULL
                                AND (n_chars < 1 OR n_chars > 300)) AS v2,
               count(*) FILTER (WHERE lang IS NOT NULL
                                AND lang NOT IN ('en','es','fr','de')) AS v3,
               count(*) FILTER (WHERE text IS NOT NULL
                                AND NOT regexp_matches(text, '^[A-Za-z]'))
                   AS v4,
               count(*) FILTER (WHERE NOT coalesce(n_chars = length(text),
                                                   FALSE)) AS v5
        FROM documents
    )
    SELECT r.rule, r.check_type, r.column_name, s.n AS n_rows,
           r.v AS n_violations,
           CAST(r.v AS DOUBLE) / s.n AS violation_rate,
           r.v = 0 AS passed
    FROM s, LATERAL (
        SELECT * FROM (VALUES
            ('doc_id_not_null', 'not_null', 'doc_id', s.v0),
            ('doc_id_unique', 'unique', 'doc_id', s.v1),
            ('n_chars_in_range', 'range', 'n_chars', s.v2),
            ('lang_allowed', 'in_set', 'lang', s.v3),
            ('text_starts_ascii', 'matches', 'text', s.v4),
            ('n_chars_consistent', 'expr', CAST(NULL AS VARCHAR), s.v5)
        ) AS t(rule, check_type, column_name, v)
    ) r
    """,
)
def q_documents_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation-suite validation over ``documents``
    (profiling.py:validate_rules): six rules — null/unique/range/
    set-membership/regex/row-expression — ALL evaluated in one
    aggregation pass (map-side combinable counters + exact distinct),
    then unpivoted JVM-side. ``violation_rate`` divides exact
    integers — UNROUNDED. The oracle replays every predicate in
    DuckDB and unpivots via VALUES."""
    docs = _docs(spark, sf_dir)
    return validate_rules(docs, DOC_RULES)


from marketdatapipeline_spark.textops.corpus import unigram_perplexity  # noqa: E402


@register_extended(
    "corpus_unigram_perplexity",
    f"""
    WITH w AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ),
    tf AS (
        SELECT doc_id, {_H_SQL.format(x="w")} AS term_hash,
               count(*) AS tf
        FROM w WHERE w <> '' GROUP BY doc_id, {_H_SQL.format(x="w")}
    ),
    vc AS (
        SELECT term_hash, CAST(sum(tf) AS BIGINT) AS cw
        FROM tf GROUP BY term_hash
    ),
    tot AS (
        SELECT CAST(sum(cw) AS BIGINT) AS n, count(*) AS v FROM vc
    ),
    term AS (
        SELECT tf.doc_id, tf.tf,
               CAST(tf.tf * ln((vc.cw + 1.0) / (tot.n + 1.0 * tot.v))
                    AS DECIMAL(28,14)) AS t
        FROM tf JOIN vc USING (term_hash) CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(-(CAST(sum(t) AS DOUBLE)) / sum(tf), 6) + 0.0
               AS mean_neg_logprob,
           round(exp(-(CAST(sum(t) AS DOUBLE)) / sum(tf)), 6) + 0.0
               AS perplexity
    FROM term GROUP BY doc_id
    """,
)
def q_corpus_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a self-trained add-1 unigram LM
    (textops/corpus.py:unigram_perplexity) — the CCNet-style fluency
    screen. Hashed vocabulary (bigints in every shuffle), broadcast
    corpus totals, decimal(28,14) log-prob sums; ln/exp are the libm
    boundaries, round-6."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out = unigram_perplexity(docs)
    return out.select(
        "doc_id", "n_tokens",
        _r6(F.col("mean_neg_logprob")).alias("mean_neg_logprob"),
        _r6(F.col("perplexity")).alias("perplexity"),
    )


from marketdatapipeline_spark.operators.liquidity import roll_spread  # noqa: E402
from marketdatapipeline_spark.operators.seasonality import (  # noqa: E402
    seasonality_profile,
)


@register_extended(
    "bars_roll_spread",
    _bars_sql(
        """
        , d1 AS (
            SELECT symbol, datetime, bar_id,
                   close - lag(close) OVER (
                       PARTITION BY symbol ORDER BY datetime, bar_id
                   ) AS dp
            FROM bars
        ),
        d2 AS (
            SELECT symbol, dp,
                   lag(dp) OVER (
                       PARTITION BY symbol ORDER BY datetime, bar_id
                   ) AS dq
            FROM d1
        ),
        g AS (
            SELECT symbol, count(*) AS n_obs,
                   CAST(sum(CAST(dp AS DECIMAL(38,18))) AS DOUBLE) AS sp,
                   CAST(sum(CAST(dq AS DECIMAL(38,18))) AS DOUBLE) AS sq,
                   CAST(sum(CAST(dp * dq AS DECIMAL(38,18))) AS DOUBLE)
                       AS spq
            FROM d2 WHERE dp IS NOT NULL AND dq IS NOT NULL
            GROUP BY symbol
        )
        SELECT symbol, n_obs,
               round(cov, 6) + 0.0 AS serial_cov,
               CASE WHEN n_obs >= 10 AND cov < 0 THEN
                   round(2.0 * sqrt(-(cov)), 6) + 0.0
               END AS spread
        FROM (
            SELECT symbol, n_obs,
                   (spq - sp * sq / CAST(n_obs AS DOUBLE))
                       / (CAST(n_obs AS DOUBLE) - 1) AS cov
            FROM g
        )
        """
    ),
)
def q_bars_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll (1984) implied effective spread from the serial covariance
    of price changes (operators/liquidity.py:roll_spread): two chained
    lags on one symbol exchange, decimal(38,18) power sums, spread
    null when the covariance is non-negative (no bounce signal)."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = roll_spread(bars)
    return out.select(
        "symbol", "n_obs",
        _r6(F.col("serial_cov")).alias("serial_cov"),
        _r6(F.col("spread")).alias("spread"),
    )


@register_extended(
    "bars_seasonality_profile",
    _bars_sql(
        """
        , r AS (
            SELECT symbol, CAST(hour(datetime) AS INT) AS bucket,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        g AS (
            SELECT symbol, bucket, count(*) AS n_obs,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) AS DOUBLE) AS s1,
                   CAST(sum(CAST(ret * ret AS DECIMAL(38,18))) AS DOUBLE)
                       AS s2
            FROM r WHERE ret IS NOT NULL
            GROUP BY symbol, bucket
        )
        SELECT symbol, bucket, n_obs,
               round(s1 / CAST(n_obs AS DOUBLE), 6) + 0.0 AS mean_return,
               CASE WHEN n_obs >= 2 AND vs >= 0 THEN
                   round(sqrt(vs), 6) + 0.0
               END AS std_return
        FROM (
            SELECT symbol, bucket, n_obs, s1, s2,
                   (s2 - s1 * s1 / CAST(n_obs AS DOUBLE))
                       / (CAST(n_obs AS DOUBLE) - 1) AS vs
            FROM g
        )
        """
    ),
)
def q_bars_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day return seasonality per symbol
    (operators/seasonality.py): the intraday U-shape diagnostic — one
    symbol window for returns, one (symbol, hour) power-sum agg to
    symbols x 24 rows. Zero-variance guard mirrors bars_realized_moments
    (ADVICE r7)."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = seasonality_profile(bars, bucket="hour")
    return out.select(
        "symbol", "bucket", "n_obs",
        _r6(F.col("mean_return")).alias("mean_return"),
        _r6(F.col("std_return")).alias("std_return"),
    )


from marketdatapipeline_spark.operators.volume_bars import volume_bars  # noqa: E402


@register_extended(
    "bars_volume_clock",
    _bars_sql(
        """
        , cum AS (
            SELECT symbol, datetime, open, high, low, close, volume,
                   sum(volume) OVER w - volume AS start_cum,
                   row_number() OVER w AS rn
            FROM bars
            WINDOW w AS (
                PARTITION BY symbol ORDER BY datetime, bar_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            )
        )
        SELECT symbol,
               CAST(floor(start_cum / 50000.0) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_bars,
               arg_min(open, rn) AS open,
               max(high) AS high,
               min(low) AS low,
               arg_max(close, rn) AS close,
               sum(volume) AS bar_volume,
               min(datetime) AS start_ts,
               max(datetime) AS end_ts,
               round(CAST(sum(CAST(close * volume AS DECIMAL(38,18)))
                          AS DOUBLE) / sum(volume), 6) + 0.0 AS vwap
        FROM cum
        GROUP BY symbol, CAST(floor(start_cum / 50000.0) AS BIGINT)
        """
    ),
)
def q_bars_volume_clock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume bars (operators/volume_bars.py): resample each symbol
    onto a 50k-share volume clock — the activity-clocked sampling ML
    pipelines prefer over time bars. One window exchange for the
    running volume (integer-valued, so every prefix sum is exact in
    any association order and bucket boundaries are engine-
    independent), one map-side-combinable (symbol, bucket) agg;
    OHLC picked by min_by/max_by on the in-bucket row number, VWAP
    decimal-summed, round-6 only at the final division."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = volume_bars(bars, bucket_size=50_000.0, mode="volume")
    return out.select(
        "symbol", "bucket", "n_bars", "open", "high", "low", "close",
        "bar_volume", "start_ts", "end_ts",
        _r6(F.col("vwap")).alias("vwap"),
    )


from marketdatapipeline_spark.operators.indicators import (  # noqa: E402
    money_flow_index,
    williams_r,
)


@register_extended(
    "bars_williams_mfi",
    _bars_sql(
        """
        , w1 AS (
            SELECT symbol, datetime, bar_id, close, volume,
                   (high + low + close) / 3.0 AS tp,
                   max(high) OVER wk AS hh,
                   min(low) OVER wk AS ll,
                   count(*) OVER wk AS kc
            FROM bars
            WINDOW wk AS (
                PARTITION BY symbol ORDER BY datetime, bar_id
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW
            )
        ),
        w2 AS (
            SELECT *, tp - lag(tp) OVER (
                PARTITION BY symbol ORDER BY datetime, bar_id
            ) AS dtp
            FROM w1
        ),
        w3 AS (
            SELECT symbol, datetime, bar_id, close, hh, ll, kc,
                   CAST(sum(CASE WHEN dtp > 0
                       THEN CAST(tp * volume AS DECIMAL(28,14))
                       WHEN dtp <= 0 THEN CAST(0 AS DECIMAL(28,14))
                   END) OVER wk AS DOUBLE) AS pos,
                   CAST(sum(CASE WHEN dtp < 0
                       THEN CAST(tp * volume AS DECIMAL(28,14))
                       WHEN dtp >= 0 THEN CAST(0 AS DECIMAL(28,14))
                   END) OVER wk AS DOUBLE) AS neg,
                   count(dtp) OVER wk AS dc
            FROM w2
            WINDOW wk AS (
                PARTITION BY symbol ORDER BY datetime, bar_id
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW
            )
        )
        SELECT symbol, datetime, bar_id,
               CASE WHEN kc = 14 AND hh > ll THEN
                   -100.0 * (hh - close) / (hh - ll)
               END AS williams_r,
               CASE WHEN dc = 14 AND pos + neg > 0 THEN
                   round(100.0 * pos / (pos + neg), 6) + 0.0
               END AS mfi
        FROM w3
        """
    ),
)
def q_bars_williams_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams %R(14) + money flow index(14)
    (operators/indicators.py:williams_r, money_flow_index): %R is
    window picks plus three IEEE ops — UNROUNDED; MFI's directional
    flows ride prefix-difference decimal sums (association-free, so
    the oracle's direct frame sums are bit-identical) with round-6
    only at the final division (the tp*volume decimal cast is the
    noisy step). The two indicators chain on the SAME symbol window
    partition, so Catalyst plans one exchange for all four window
    stages."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = money_flow_index(williams_r(bars, window=14), window=14)
    return out.select(
        "symbol", "datetime", "bar_id",
        "williams_r", _r6(F.col("mfi")).alias("mfi"),
    )


from marketdatapipeline_spark.ml.labeling import triple_barrier_labels  # noqa: E402


@register_extended(
    "ml_triple_barrier",
    _bars_sql(
        """
        , rn AS (
            SELECT symbol, datetime, bar_id, high, low, close,
                   row_number() OVER (
                       PARTITION BY symbol ORDER BY datetime, bar_id
                   ) AS rn,
                   count(*) OVER (PARTITION BY symbol) AS n,
                   lead(close, 10) OVER (
                       PARTITION BY symbol ORDER BY datetime, bar_id
                   ) AS fc
            FROM bars
        ),
        hits AS (
            SELECT b.symbol, b.rn,
                   min(CASE WHEN f.high >= b.close * 1.25
                       THEN f.rn - b.rn END) AS up_hit,
                   min(CASE WHEN f.low <= b.close * 0.75
                       THEN f.rn - b.rn END) AS dn_hit
            FROM rn b JOIN rn f
              ON f.symbol = b.symbol
             AND f.rn > b.rn AND f.rn <= b.rn + 10
            GROUP BY b.symbol, b.rn
        )
        SELECT b.symbol, b.datetime, b.bar_id,
               CAST(CASE WHEN b.rn + 10 <= b.n THEN
                   CASE WHEN up_hit IS NULL AND dn_hit IS NULL THEN 0
                        WHEN up_hit IS NULL THEN -1
                        WHEN dn_hit IS NULL THEN 1
                        WHEN up_hit < dn_hit THEN 1
                        WHEN dn_hit < up_hit THEN -1
                        ELSE 0 END
               END AS INT) AS label,
               CAST(CASE WHEN b.rn + 10 <= b.n THEN
                   CASE WHEN dn_hit IS NULL AND up_hit IS NOT NULL
                            THEN up_hit
                        WHEN up_hit IS NULL AND dn_hit IS NOT NULL
                            THEN dn_hit
                        WHEN up_hit < dn_hit THEN up_hit
                        WHEN dn_hit < up_hit THEN dn_hit END
               END AS INT) AS hit_offset,
               CASE WHEN b.rn + 10 <= b.n THEN
                   (b.fc - b.close) / b.close
               END AS ret_horizon
        FROM rn b LEFT JOIN hits h
          ON h.symbol = b.symbol AND h.rn = b.rn
        """
    ),
)
def q_ml_triple_barrier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-barrier labels (ml/labeling.py): profit-take +25% /
    stop-loss -25% / vertical 10-bar barriers, label = FIRST touch.
    Spark materializes the forward path as ordered arrays inside one
    window exchange (O(horizon) per row, no join); the oracle phrases
    the identical first-touch search as a range self-join — both
    compare per-element IEEE products, so the formulations are
    value-identical. Labels/offsets are ints (exact); ret_horizon is
    a three-op IEEE chain — UNROUNDED."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = triple_barrier_labels(bars, horizon=10, upper=0.25, lower=0.25)
    return out.select(
        "symbol", "datetime", "bar_id", "label", "hit_offset", "ret_horizon"
    )


from marketdatapipeline_spark.similarity.semdedup import semantic_dedup  # noqa: E402


@register_extended(
    "dedup_semantic_clusters",
    _CENTROID_CTE
    + """
    , cents AS (
        SELECT label AS clab, list(mean ORDER BY pos) AS cv
        FROM per GROUP BY label
    ),
    vec AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    assigned AS (
        SELECT vec_id, v, clab AS cluster, cos FROM (
            SELECT vec_id, v, clab, cos, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, clab DESC
            ) AS rn
            FROM (
                SELECT vec_id, v, clab,
                       list_dot_product(v, cv)
                       / (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product(cv, cv))) AS cos
                FROM vec CROSS JOIN cents
            )
        ) WHERE rn = 1
    ),
    dups AS (
        SELECT b.vec_id, min(a.vec_id) AS dup_of
        FROM assigned a JOIN assigned b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         AND list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))) >= 0.38
        GROUP BY b.vec_id
    )
    SELECT s.vec_id, s.cluster, round(s.cos, 6) + 0.0 AS best_cos,
           d.dup_of IS NOT NULL AS is_duplicate, d.dup_of
    FROM assigned s LEFT JOIN dups d ON d.vec_id = s.vec_id
    """,
)
def q_dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (similarity/semdedup.py): centroid-routed semantic
    near-dup verdicts at cosine >= 0.9 — pairwise cosine ONLY inside
    each cluster (sum(|c|^2), never n^2), assignment via a scan-side
    argmax over one broadcast centroid-array row. Cosines fold
    sequentially in double = DuckDB's list_dot_product bit-for-bit,
    so threshold cuts and argmax picks are engine-exact; best_cos is
    round-6 at emission only."""
    emb = _emb(spark, sf_dir)
    cents = label_centroids(emb)
    out = semantic_dedup(emb, cents, threshold=0.38)
    return out.select(
        "vec_id", "cluster",
        _r6(F.col("best_cos")).alias("best_cos"),
        "is_duplicate", "dup_of",
    )


from marketdatapipeline_spark.ml.scaling import standardize_split  # noqa: E402


@register_extended(
    "ml_standardize_split",
    _bars_sql(
        """
        , ranked AS (
            SELECT bar_id, close, volume,
                   row_number() OVER (ORDER BY datetime, bar_id) AS rn,
                   count(*) OVER () AS total
            FROM bars
        ),
        lab AS (
            SELECT bar_id, close, volume,
                   CASE WHEN rn <= CAST(floor(total * 0.8) AS BIGINT)
                        THEN 'train' ELSE 'test' END AS split
            FROM ranked
        ),
        st AS (
            SELECT CAST(count(close) AS DOUBLE) AS nc,
                   CAST(sum(CAST(close AS DECIMAL(38,18))) AS DOUBLE) AS c1,
                   CAST(sum(CAST(close * close AS DECIMAL(38,18)))
                        AS DOUBLE) AS c2,
                   CAST(count(volume) AS DOUBLE) AS nv,
                   CAST(sum(CAST(volume AS DECIMAL(38,18))) AS DOUBLE) AS v1,
                   CAST(sum(CAST(volume * volume AS DECIMAL(38,18)))
                        AS DOUBLE) AS v2
            FROM lab WHERE split = 'train'
        )
        SELECT bar_id, split,
               round((close - c1 / nc)
                     / sqrt((c2 - c1 * c1 / nc) / nc), 6) + 0.0 AS close_z,
               round((volume - v1 / nv)
                     / sqrt((v2 - v1 * v1 / nv) / nv), 6) + 0.0 AS volume_z
        FROM lab CROSS JOIN st
        """
    ),
)
def q_ml_standardize_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free feature standardization (ml/scaling.py): stats
    fitted on the chronological 80% train slice ONLY (cutkey split —
    no global sort), broadcast to z-score BOTH halves. Decimal power
    sums make the fitted moments bit-identical cross-engine; z is a
    four-op IEEE chain, round-6 at emission."""
    from marketdatapipeline_spark.ml.preparation import chronological_split

    # persisted (r10): the cutkey split's count/boundary jobs plus the
    # fit pass and both z-scored halves otherwise each re-derive bars
    bars = scoped_persist(
        _bars_from_events_r8(spark, sf_dir).select(
            "datetime", "bar_id", "close", "volume"
        )
    )
    train, test = chronological_split(
        bars,
        test_size=0.2,
        order_cols=("datetime",),
        tie_break_cols=("bar_id",),
        method="cutkey",
    )
    tr, te = standardize_split(train, test, ["close", "volume"], ddof=0)
    out = tr.withColumn("split", F.lit("train")).unionByName(
        te.withColumn("split", F.lit("test"))
    )
    return out.select(
        "bar_id", "split",
        _r6(F.col("close_z")).alias("close_z"),
        _r6(F.col("volume_z")).alias("volume_z"),
    )


from marketdatapipeline_spark.operators.hurst import hurst_exponent  # noqa: E402


@register_extended(
    "bars_hurst_exponent",
    _bars_sql(
        """
        , r AS (
            SELECT symbol, datetime, bar_id,
                   ln(close / lag(close) OVER (
                       PARTITION BY symbol ORDER BY datetime, bar_id
                   )) AS ret
            FROM bars
        ),
        ri AS (
            SELECT symbol, ret,
                   row_number() OVER (
                       PARTITION BY symbol ORDER BY datetime, bar_id
                   ) - 1 AS idx
            FROM r WHERE ret IS NOT NULL
        ),
        fan AS (
            SELECT symbol, ret, idx, q
            FROM ri CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS q)
        ),
        blk AS (
            SELECT symbol, q, idx // q AS b, count(*) AS cnt,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) AS DOUBLE) AS bs
            FROM fan GROUP BY symbol, q, idx // q
            HAVING count(*) = q
        ),
        ps AS (
            SELECT symbol, q, count(*) AS n_blocks,
                   CAST(sum(CAST(bs AS DECIMAL(38,18))) AS DOUBLE) AS s1,
                   CAST(sum(CAST(bs * bs AS DECIMAL(38,18))) AS DOUBLE) AS s2
            FROM blk GROUP BY symbol, q
        ),
        v AS (
            SELECT symbol, q, n_blocks,
                   CASE WHEN n_blocks >= 2 AND vv > 0 THEN vv END AS var_q
            FROM (
                SELECT symbol, q, n_blocks,
                       (s2 - s1 * s1 / CAST(n_blocks AS DOUBLE))
                           / (CAST(n_blocks AS DOUBLE) - 1) AS vv
                FROM ps
            )
        ),
        pts AS (
            SELECT symbol, q, var_q,
                   ln(CAST(q AS DOUBLE)) AS x, ln(var_q) AS y
            FROM v WHERE var_q IS NOT NULL
        ),
        reg AS (
            SELECT symbol, count(*) AS n_scales,
                   CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
                   CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
                   max(CASE WHEN q = 1 THEN var_q END) AS v1,
                   max(CASE WHEN q = 2 THEN var_q END) AS v2,
                   max(CASE WHEN q = 4 THEN var_q END) AS v4,
                   max(CASE WHEN q = 8 THEN var_q END) AS v8
            FROM pts GROUP BY symbol
        )
        SELECT symbol,
               round(v1, 6) + 0.0 AS var_q1,
               round(v2, 6) + 0.0 AS var_q2,
               round(v4, 6) + 0.0 AS var_q4,
               round(v8, 6) + 0.0 AS var_q8,
               n_scales,
               CASE WHEN n_scales >= 2
                         AND sxx - sx * sx / CAST(n_scales AS DOUBLE) > 0
                    THEN round(
                        (sxy - sx * sy / CAST(n_scales AS DOUBLE))
                        / (sxx - sx * sx / CAST(n_scales AS DOUBLE)) / 2.0,
                        6) + 0.0
               END AS hurst
        FROM reg
        """
    ),
)
def q_bars_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated-variance Hurst exponent (operators/hurst.py): log
    returns -> non-overlapping q-block sums for q in {1,2,4,8} ->
    ddof=1 block variances -> half the ln-ln least-squares slope.
    One symbol window + three map-side-combinable aggs; every
    accumulation is a decimal power sum (association-free), ln is
    the libm boundary so variances and H emit round-6."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = hurst_exponent(bars, scales=(1, 2, 4, 8))
    return out.select(
        "symbol",
        *[_r6(F.col(f"var_q{q}")).alias(f"var_q{q}") for q in (1, 2, 4, 8)],
        "n_scales",
        _r6(F.col("hurst")).alias("hurst"),
    )


from marketdatapipeline_spark.operators.liquidity import (  # noqa: E402
    corwin_schultz_spread,
)


@register_extended(
    "bars_corwin_schultz",
    _bars_sql(
        """
        , pr AS (
            SELECT symbol, high AS h2, low AS l2,
                   lag(high) OVER w AS h1, lag(low) OVER w AS l1
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        sp AS (
            SELECT symbol,
                   2.0 * (exp(alpha) - 1.0) / (1.0 + exp(alpha)) AS s
            FROM (
                SELECT symbol,
                       (sqrt(2.0 * beta) - sqrt(beta)) / (3.0 - 2.0 * sqrt(2.0))
                       - sqrt(gamma / (3.0 - 2.0 * sqrt(2.0))) AS alpha
                FROM (
                    SELECT symbol,
                           ln(h1 / l1) * ln(h1 / l1)
                           + ln(h2 / l2) * ln(h2 / l2) AS beta,
                           ln(greatest(h1, h2) / least(l1, l2))
                           * ln(greatest(h1, h2) / least(l1, l2)) AS gamma
                    FROM pr
                    WHERE h1 IS NOT NULL AND l1 > 0 AND l2 > 0
                )
            )
        )
        SELECT symbol, CAST(count(*) AS BIGINT) AS n_pairs,
               round(CAST(sum(CAST(greatest(s, 0.0) AS DECIMAL(38,18)))
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) + 0.0
                   AS mean_spread,
               round(CAST(sum(CAST(s AS DECIMAL(38,18)))
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) + 0.0
                   AS mean_spread_raw
        FROM sp GROUP BY symbol
        """
    ),
)
def q_bars_corwin_schultz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin-Schultz high-low spread
    (operators/liquidity.py:corwin_schultz_spread): the quotes-free
    effective-spread estimator from two-bar range geometry, negative
    estimates floored at zero for the headline mean (paper
    convention) with the raw mean alongside. One lag window + one
    decimal power-sum agg; ln/sqrt/exp are the libm boundary,
    round-6 at the final division."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = corwin_schultz_spread(bars)
    return out.select(
        "symbol", "n_pairs",
        _r6(F.col("mean_spread")).alias("mean_spread"),
        _r6(F.col("mean_spread_raw")).alias("mean_spread_raw"),
    )


from marketdatapipeline_spark.ml.drift import psi_drift  # noqa: E402

_PSI_FRACS = "[" + ", ".join(str(i / 10) for i in range(1, 10)) + "]"


@register_extended(
    "ml_psi_drift",
    _bars_sql(
        f"""
        , ranked AS (
            SELECT bar_id, close, volume,
                   row_number() OVER (ORDER BY datetime, bar_id) AS rn,
                   count(*) OVER () AS total
            FROM bars
        ),
        lab AS (
            SELECT close, volume,
                   CASE WHEN rn <= CAST(floor(total * 0.8) AS BIGINT)
                        THEN 'train' ELSE 'test' END AS split
            FROM ranked
        ),
        edges AS (
            SELECT list_transform(quantile_cont(close, {_PSI_FRACS}),
                                  e -> round(e, 6) + 0.0) AS ec,
                   list_transform(quantile_cont(volume, {_PSI_FRACS}),
                                  e -> round(e, 6) + 0.0) AS ev
            FROM lab WHERE split = 'train'
        ),
        binned AS (
            SELECT 'close' AS feature, split,
                   CAST(len(list_filter(ec, e -> close >= e)) AS INT) AS bin
            FROM lab CROSS JOIN edges
            UNION ALL
            SELECT 'volume', split,
                   CAST(len(list_filter(ev, e -> volume >= e)) AS INT)
            FROM lab CROSS JOIN edges
        ),
        counts AS (
            SELECT feature, bin,
                   CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                        AS BIGINT) AS train_n,
                   CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
                        AS BIGINT) AS test_n
            FROM binned GROUP BY feature, bin
        ),
        shares AS (
            SELECT feature, bin, train_n, test_n,
                   CAST(train_n AS DOUBLE) / CAST(sum(train_n) OVER (
                       PARTITION BY feature) AS DOUBLE) AS p,
                   CAST(test_n AS DOUBLE) / CAST(sum(test_n) OVER (
                       PARTITION BY feature) AS DOUBLE) AS q
            FROM counts
        ),
        terms AS (
            SELECT feature, bin, train_n, test_n, p, q,
                   (qe - pe) * ln(qe / pe) AS term
            FROM (
                SELECT *, CASE WHEN p > 0 THEN p ELSE 1e-06 END AS pe,
                          CASE WHEN q > 0 THEN q ELSE 1e-06 END AS qe
                FROM shares
            )
        )
        SELECT feature, bin, train_n, test_n,
               p AS train_pct, q AS test_pct,
               round(term, 6) + 0.0 AS psi_term,
               round(CAST(sum(CAST(term AS DECIMAL(38,18))) OVER (
                   PARTITION BY feature) AS DOUBLE), 6) + 0.0 AS psi_total
        FROM terms
        """
    ),
)
def q_ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index (ml/drift.py): train-decile binning
    fitted on the chronological 80% slice, per-bin drift terms and
    the per-feature PSI total for close and volume. Bin edges are
    round-6 exact train quantiles (the binning contract AND what
    makes Spark percentile == DuckDB quantile_cont); counts/shares
    are integer-exact, ln terms round-6, the total a decimal sum."""
    from marketdatapipeline_spark.ml.preparation import chronological_split

    # persisted (r10): the cutkey split's count/boundary jobs and the
    # two split halves all re-executed the bars derivation otherwise
    bars = scoped_persist(
        _bars_from_events_r8(spark, sf_dir).select(
            "datetime", "bar_id", "close", "volume"
        )
    )
    train, test = chronological_split(
        bars,
        test_size=0.2,
        order_cols=("datetime",),
        tie_break_cols=("bar_id",),
        method="cutkey",
    )
    out = psi_drift(train, test, ["close", "volume"], n_bins=10)
    return out.select(
        "feature", "bin", "train_n", "test_n", "train_pct", "test_pct",
        _r6(F.col("psi_term")).alias("psi_term"),
        _r6(F.col("psi_total")).alias("psi_total"),
    )


from marketdatapipeline_spark.operators.indicators import (  # noqa: E402
    commodity_channel_index,
)


@register_extended(
    "bars_cci",
    _bars_sql(
        """
        , t AS (
            SELECT symbol, datetime, bar_id,
                   (high + low + close) / 3.0 AS tp
            FROM bars
        ),
        fr AS (
            SELECT symbol, datetime, bar_id, tp,
                   list(tp) OVER wk AS l,
                   CASE WHEN count(tp) OVER wk = 20 THEN
                       CAST(sum(CAST(tp AS DECIMAL(28,14))) OVER wk
                            AS DOUBLE) / 20
                   END AS mean
            FROM t
            WINDOW wk AS (
                PARTITION BY symbol ORDER BY datetime, bar_id
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
            )
        )
        SELECT symbol, datetime, bar_id,
               CASE WHEN mean IS NOT NULL AND mad > 0 THEN
                   round((tp - mean) / (0.015 * mad), 6) + 0.0
               END AS cci
        FROM (
            SELECT *, list_reduce(list_transform(l, x -> abs(x - mean)),
                                  (a, b) -> a + b) / 20.0 AS mad
            FROM fr
        )
        """
    ),
)
def q_bars_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity channel index CCI(20)
    (operators/indicators.py:commodity_channel_index): the
    frame-anchored mean-absolute-deviation shape no single window
    aggregate expresses — the mean rides O(n) decimal prefix sums
    (codegen), the MAD is ONE sequential scan-side array fold per
    row against that mean (bit-identical to DuckDB's list_reduce).
    The decimal cast is the noisy step -> round-6 at emission."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = commodity_channel_index(bars, window=20)
    return out.select(
        "symbol", "datetime", "bar_id", _r6(F.col("cci")).alias("cci")
    )


from marketdatapipeline_spark.textops.analysis import add_readability  # noqa: E402


@register_extended(
    "corpus_readability",
    r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '') AS words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sent
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_sent, len(words) AS n_words,
               CASE WHEN len(words) > 0 THEN
                   list_reduce(list_transform(words,
                       x -> greatest(len(regexp_extract_all(lower(x),
                                                            '[aeiouy]+')),
                                     1)),
                       (a, b) -> a + b)
               END AS n_syl
        FROM w
    )
    SELECT doc_id,
           CAST(CASE WHEN n_words > 0 THEN n_sent END AS INT)
               AS n_sentences,
           CAST(n_words AS INT) AS n_words,
           CAST(n_syl AS INT) AS n_syllables,
           CASE WHEN n_words > 0 THEN
               CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE)
           END AS words_per_sentence,
           CASE WHEN n_words > 0 THEN
               CAST(n_syl AS DOUBLE) / CAST(n_words AS DOUBLE)
           END AS syllables_per_word,
           CASE WHEN n_words > 0 THEN
               206.835
               - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
               - 84.6 * (CAST(n_syl AS DOUBLE) / CAST(n_words AS DOUBLE))
           END AS flesch_reading_ease
    FROM c
    """,
)
def q_corpus_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease signals (textops/analysis.py:
    add_readability): sentence/word/vowel-group-syllable counts and
    the 206.835 - 1.015 wps - 84.6 spw score — the dictionary-free
    readability bucket pretraining quality filters use. Counts are
    integers, ratios pinned-order IEEE — UNROUNDED; syllables fold
    scan-side over the token array (no explode)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out = add_readability(docs)
    return out.select(
        "doc_id", "n_sentences", "n_words", "n_syllables",
        "words_per_sentence", "syllables_per_word", "flesch_reading_ease",
    )


from marketdatapipeline_spark.ml.scaling import (  # noqa: E402
    apply_winsorizer,
    fit_winsorizer,
)


@register_extended(
    "ml_winsorize",
    _bars_sql(
        """
        , ranked AS (
            SELECT bar_id, close, volume,
                   row_number() OVER (ORDER BY datetime, bar_id) AS rn,
                   count(*) OVER () AS total
            FROM bars
        ),
        lab AS (
            SELECT bar_id, close, volume,
                   CASE WHEN rn <= CAST(floor(total * 0.8) AS BIGINT)
                        THEN 'train' ELSE 'test' END AS split
            FROM ranked
        ),
        ed AS (
            SELECT round(quantile_cont(close, 0.05), 6) + 0.0 AS c_lo,
                   round(quantile_cont(close, 0.95), 6) + 0.0 AS c_hi,
                   round(quantile_cont(volume, 0.05), 6) + 0.0 AS v_lo,
                   round(quantile_cont(volume, 0.95), 6) + 0.0 AS v_hi
            FROM lab WHERE split = 'train'
        )
        SELECT bar_id, split,
               CASE WHEN close IS NOT NULL THEN
                   least(greatest(close, c_lo), c_hi) END AS close_w,
               close IS NOT NULL AND (close < c_lo OR close > c_hi)
                   AS close_w_clipped,
               CASE WHEN volume IS NOT NULL THEN
                   least(greatest(volume, v_lo), v_hi) END AS volume_w,
               volume IS NOT NULL AND (volume < v_lo OR volume > v_hi)
                   AS volume_w_clipped
        FROM lab CROSS JOIN ed
        """
    ),
)
def q_ml_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (ml/scaling.py:fit_winsorizer/apply_winsorizer):
    clip edges fitted as round-6 5%/95% quantiles of the
    chronological train slice ONLY, applied to both halves via one
    broadcast stats row. Output values are the original doubles or
    the shared edges — UNROUNDED."""
    from marketdatapipeline_spark.ml.preparation import chronological_split

    # persisted (r14 optimization round — the r10 fix its siblings
    # ml_standardize_split/ml_psi_drift already carry): the cutkey
    # split's count/boundary jobs, the quantile fit, and both
    # winsorized halves otherwise each re-derive bars (7 events scans
    # in the before plan, 1 after)
    bars = scoped_persist(
        _bars_from_events_r8(spark, sf_dir).select(
            "datetime", "bar_id", "close", "volume"
        )
    )
    train, test = chronological_split(
        bars,
        test_size=0.2,
        order_cols=("datetime",),
        tie_break_cols=("bar_id",),
        method="cutkey",
    )
    stats = fit_winsorizer(train, ["close", "volume"], lower=0.05, upper=0.95)
    tr = apply_winsorizer(train, stats, ["close", "volume"])
    te = apply_winsorizer(test, stats, ["close", "volume"])
    out = tr.withColumn("split", F.lit("train")).unionByName(
        te.withColumn("split", F.lit("test"))
    )
    return out.select(
        "bar_id", "split", "close_w", "close_w_clipped",
        "volume_w", "volume_w_clipped",
    )


from marketdatapipeline_spark.textops.corpus import bigram_perplexity  # noqa: E402


@register_extended(
    "corpus_bigram_perplexity",
    f"""
    WITH w AS (
        SELECT doc_id,
               list_transform(
                   list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> ''),
                   x -> {_H_SQL.format(x="x")}) AS h
        FROM documents
    ),
    pairs AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(h)),
                                     i -> [h[i], h[i + 1]])) AS bg
        FROM w WHERE len(h) >= 2
    ),
    tf AS (
        SELECT doc_id, bg[1] AS h1, bg[2] AS h2, count(*) AS tf
        FROM pairs GROUP BY doc_id, bg[1], bg[2]
    ),
    cb AS (
        SELECT h1, h2, CAST(sum(tf) AS BIGINT) AS cb
        FROM tf GROUP BY h1, h2
    ),
    c1 AS (SELECT h1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY h1),
    uni AS (SELECT doc_id, unnest(h) AS h2 FROM w),
    cw AS (SELECT h2, CAST(count(*) AS BIGINT) AS cw FROM uni GROUP BY h2),
    tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n, count(*) AS v FROM cw),
    term AS (
        SELECT tf.doc_id, tf.tf,
               CAST(tf.tf * ln(
                   0.7 * (CAST(cb.cb AS DOUBLE) / c1.c1)
                   + (1.0 - 0.7) * ((cw.cw + 1.0) / (tot.n + 1.0 * tot.v))
               ) AS DECIMAL(28,14)) AS t
        FROM tf
        JOIN cb USING (h1, h2)
        JOIN c1 USING (h1)
        JOIN cw USING (h2)
        CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           round(-(CAST(sum(t) AS DOUBLE)) / sum(tf), 6) + 0.0
               AS mean_neg_logprob,
           round(exp(-(CAST(sum(t) AS DOUBLE)) / sum(tf)), 6) + 0.0
               AS perplexity
    FROM term GROUP BY doc_id
    """,
)
def q_corpus_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under a self-trained interpolated
    BIGRAM LM (textops/corpus.py:bigram_perplexity) — the
    context-aware step past the unigram screen (Jelinek-Mercer 0.7
    mixture with the add-1 unigram leg). Bigram pairs materialize
    scan-side from the token array; every shuffle key is a bigint
    hash; decimal(28,14) log-prob sums, ln/exp round-6."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out = bigram_perplexity(docs, lam=0.7)
    return out.select(
        "doc_id", "n_bigrams",
        _r6(F.col("mean_neg_logprob")).alias("mean_neg_logprob"),
        _r6(F.col("perplexity")).alias("perplexity"),
    )


from marketdatapipeline_spark.operators.backtest import vector_backtest  # noqa: E402
from marketdatapipeline_spark.operators.indicators import (  # noqa: E402
    _rolling_mean_decimal,
)


@register_extended(
    "bars_signal_backtest",
    _bars_sql(
        """
        , s AS (
            SELECT symbol, datetime, bar_id, close,
                   CASE WHEN count(close) OVER wk = 20 THEN
                       CAST(sum(CAST(close AS DECIMAL(28,14))) OVER wk
                            AS DOUBLE) / 20
                   END AS sma
            FROM bars
            WINDOW wk AS (
                PARTITION BY symbol ORDER BY datetime, bar_id
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
            )
        ),
        sig AS (
            SELECT symbol, datetime, bar_id, close,
                   CASE WHEN sma IS NOT NULL AND close > sma
                        THEN 1.0 ELSE 0.0 END AS sgn
            FROM s
        ),
        acct AS (
            SELECT symbol, datetime, bar_id,
                   coalesce(lag(sgn) OVER w, 0.0) AS pos,
                   abs(sgn - coalesce(lag(sgn) OVER w, 0.0)) AS trade,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM sig
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        pr AS (
            SELECT symbol, datetime, bar_id, trade,
                   pos * coalesce(ret, 0.0) - 0.001 * trade AS strat
            FROM acct
        ),
        leq AS (
            SELECT symbol, datetime, bar_id, trade, strat,
                   CAST(sum(CAST(ln(1.0 + strat) AS DECIMAL(38,18)))
                        OVER wr AS DOUBLE) AS l
            FROM pr
            WINDOW wr AS (
                PARTITION BY symbol ORDER BY datetime, bar_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            )
        ),
        dd AS (
            SELECT symbol, trade, strat, l,
                   exp(l - max(l) OVER wr) - 1.0 AS drawdown
            FROM leq
            WINDOW wr AS (
                PARTITION BY symbol ORDER BY datetime, bar_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            )
        )
        SELECT symbol, CAST(count(*) AS BIGINT) AS n_bars,
               CAST(sum(CAST(trade AS DECIMAL(38,18))) AS DOUBLE)
                   AS n_trades,
               round(exp(CAST(sum(CAST(ln(1.0 + strat) AS DECIMAL(38,18)))
                              AS DOUBLE)) - 1.0, 6) + 0.0 AS total_return,
               CASE WHEN count(*) >= 2 AND vr > 0 THEN
                   round(s1 / CAST(count(*) AS DOUBLE) / sqrt(vr)
                         * sqrt(252.0), 6) + 0.0
               END AS sharpe,
               round(min(drawdown), 6) + 0.0 AS max_drawdown
        FROM (
            SELECT *,
                   CAST(sum(CAST(strat AS DECIMAL(38,18))) OVER (
                       PARTITION BY symbol) AS DOUBLE) AS s1,
                   (CAST(sum(CAST(strat * strat AS DECIMAL(38,18))) OVER (
                       PARTITION BY symbol) AS DOUBLE)
                    - CAST(sum(CAST(strat AS DECIMAL(38,18))) OVER (
                       PARTITION BY symbol) AS DOUBLE)
                      * CAST(sum(CAST(strat AS DECIMAL(38,18))) OVER (
                       PARTITION BY symbol) AS DOUBLE)
                      / CAST(count(*) OVER (PARTITION BY symbol) AS DOUBLE))
                   / (CAST(count(*) OVER (PARTITION BY symbol) AS DOUBLE)
                      - 1.0) AS vr
            FROM dd
        )
        GROUP BY symbol, s1, vr
        """
    ),
)
def q_bars_signal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized backtest (operators/backtest.py:vector_backtest) of
    a 20-bar SMA breakout signal at 10 bp cost: log-sum equity,
    annualized Sharpe, worst drawdown, turnover — the whole event
    loop restated as windows + power sums (one symbol exchange, one
    final agg). Decimal accumulation everywhere; ln/exp round-6."""
    bars = _bars_from_events_r8(spark, sf_dir)
    sig = _rolling_mean_decimal(
        bars, "close", 20, "sma", "symbol", ("datetime", "bar_id")
    ).withColumn(
        "sgn",
        F.when(
            F.col("sma").isNotNull() & (F.col("close") > F.col("sma")),
            F.lit(1.0),
        ).otherwise(F.lit(0.0)),
    )
    out = vector_backtest(sig, "sgn", cost=0.001, periods_per_year=252)
    return out.select(
        "symbol", "n_bars", "n_trades",
        _r6(F.col("total_return")).alias("total_return"),
        _r6(F.col("sharpe")).alias("sharpe"),
        _r6(F.col("max_drawdown")).alias("max_drawdown"),
    )


from marketdatapipeline_spark.operators.liquidity import vpin  # noqa: E402


@register_extended(
    "bars_vpin",
    _bars_sql(
        _TICK_SIGN_SQL
        + """
    , s3 AS (
        SELECT symbol, datetime, bar_id, volume, sgn,
               sum(volume) OVER wr - volume AS start_cum
        FROM s2
        WINDOW wr AS (
            PARTITION BY symbol ORDER BY datetime, bar_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
    ),
    bk AS (
        SELECT symbol, CAST(floor(start_cum / 5000.0) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_bars,
               CAST(sum(CAST(CASE WHEN sgn = 1 THEN volume ELSE 0.0 END
                             AS DECIMAL(28,10))) AS DOUBLE) AS buy_volume,
               CAST(sum(CAST(CASE WHEN sgn = -1 THEN volume ELSE 0.0 END
                             AS DECIMAL(28,10))) AS DOUBLE) AS sell_volume,
               CAST(sum(CAST(volume AS DECIMAL(28,10))) AS DOUBLE) AS tv
        FROM s3
        GROUP BY symbol, CAST(floor(start_cum / 5000.0) AS BIGINT)
    ),
    im AS (
        SELECT symbol, bucket, n_bars, buy_volume, sell_volume,
               CASE WHEN tv > 0 THEN
                   abs(buy_volume - sell_volume) / tv END AS imbalance
        FROM bk
    )
    SELECT symbol, bucket, n_bars, buy_volume, sell_volume, imbalance,
           CASE WHEN count(imbalance) OVER wk = 5 THEN
               round(CAST(sum(CAST(imbalance AS DECIMAL(28,14))) OVER wk
                          AS DOUBLE) / 5, 6) + 0.0
           END AS vpin
    FROM im
    WINDOW wk AS (
        PARTITION BY symbol ORDER BY bucket
        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
    )
    """
    ),
)
def q_bars_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN flow toxicity (operators/liquidity.py:vpin): tick-rule
    signs + the 5k-share volume clock + rolling-5 bucket imbalance
    mean — the Easley/Lopez de Prado/O'Hara monitor, composed from
    two primitives already in the engine. Bucket boundaries are
    integer-exact; per-bucket volumes decimal-summed (imbalance
    UNROUNDED like tick_rule_flow); the rolling VPIN mean rides
    decimal prefix sums, round-6 at emission."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = vpin(bars, bucket_volume=5_000.0, window=5)
    return out.select(
        "symbol", "bucket", "n_bars", "buy_volume", "sell_volume",
        "imbalance", _r6(F.col("vpin")).alias("vpin"),
    )


from marketdatapipeline_spark.operators.event_study import event_study  # noqa: E402


@register_extended(
    "bars_event_study",
    _bars_sql(
        """
        , rk AS (
            SELECT symbol, close, volume,
                   row_number() OVER (
                       PARTITION BY symbol ORDER BY datetime, bar_id
                   ) AS rn
            FROM bars
        ),
        vr AS (
            SELECT symbol, rn, volume,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret,
                   CASE WHEN count(volume) OVER wk = 20 THEN
                       CAST(sum(CAST(volume AS DECIMAL(28,14))) OVER wk
                            AS DOUBLE) / 20
                   END AS vsma
            FROM rk
            WINDOW w AS (PARTITION BY symbol ORDER BY rn),
                   wk AS (PARTITION BY symbol ORDER BY rn
                          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        ),
        ev AS (
            SELECT symbol, rn FROM vr
            WHERE vsma IS NOT NULL AND volume > 2.0 * vsma
        ),
        fan AS (
            SELECT b.rn - e.rn AS "offset", b.ret
            FROM vr b JOIN ev e
              ON b.symbol = e.symbol AND b.rn - e.rn BETWEEN -5 AND 5
            WHERE b.ret IS NOT NULL
        ),
        g AS (
            SELECT "offset", count(*) AS n_obs,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) AS DOUBLE) AS s1,
                   CAST(sum(CAST(ret * ret AS DECIMAL(38,18))) AS DOUBLE)
                       AS s2
            FROM fan GROUP BY "offset"
        )
        SELECT CAST("offset" AS INT) AS "offset",
               CAST(n_obs AS BIGINT) AS n_obs,
               round(s1 / CAST(n_obs AS DOUBLE), 6) + 0.0 AS mean_return,
               CASE WHEN n_obs >= 2 AND vs >= 0 THEN
                   round(sqrt(vs), 6) + 0.0 END AS std_return
        FROM (
            SELECT "offset", n_obs, s1, s2,
                   (s2 - s1 * s1 / CAST(n_obs AS DOUBLE))
                       / (CAST(n_obs AS DOUBLE) - 1) AS vs
            FROM g
        )
        """
    ),
)
def q_bars_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event study (operators/event_study.py): mean return path in the
    ±5-bar window around volume-spike events (volume > 2x its 20-bar
    decimal SMA), pooled across symbols. Spark attaches offsets via
    lag-fan-out over ONE window exchange — no range join, no skew
    surface; the oracle IS the naive range-join restatement, so the
    equivalence of the two formulations is value-checked. Decimal
    power sums per offset; round-6."""
    bars = _bars_from_events_r8(spark, sf_dir)
    flagged = _rolling_mean_decimal(
        bars, "volume", 20, "vsma", "symbol", ("datetime", "bar_id")
    ).withColumn(
        "spike",
        F.col("vsma").isNotNull() & (F.col("volume") > 2.0 * F.col("vsma")),
    )
    out = event_study(flagged, "spike", k=5, pooled=True)
    return out.select(
        "offset", "n_obs",
        _r6(F.col("mean_return")).alias("mean_return"),
        _r6(F.col("std_return")).alias("std_return"),
    )


from marketdatapipeline_spark.textops.analysis import (  # noqa: E402
    add_char_stats,
    char_entropy,
)


@register_extended(
    "corpus_char_stats",
    r"""
    WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents
    ),
    cnt AS (
        SELECT doc_id, c, count(*) AS n
        FROM ch WHERE c <> '' GROUP BY doc_id, c
    ),
    ent AS (
        SELECT doc_id, CAST(sum(n) AS INT) AS n_chars_total,
               round(CAST(sum(CAST(-(p * log2(p)) AS DECIMAL(28,14)))
                          AS DOUBLE), 6) + 0.0 AS char_entropy
        FROM (
            SELECT doc_id, n,
                   CAST(n AS DOUBLE) / CAST(sum(n) OVER (
                       PARTITION BY doc_id) AS DOUBLE) AS p
            FROM cnt
        )
        GROUP BY doc_id
    ),
    r AS (
        SELECT doc_id, len(text) AS nt,
               len(regexp_extract_all(text, '[0-9]')) AS dg,
               len(regexp_extract_all(text, '[^\w\s]')) AS pc,
               len(regexp_extract_all(text, '\s')) AS sp
        FROM documents
    )
    SELECT r.doc_id, e.n_chars_total,
           e.char_entropy,
           CASE WHEN nt > 0 THEN CAST(dg AS DOUBLE) / nt END AS digit_ratio,
           CASE WHEN nt > 0 THEN CAST(pc AS DOUBLE) / nt END AS punct_ratio,
           CASE WHEN nt > 0 THEN CAST(sp AS DOUBLE) / nt END AS space_ratio
    FROM r LEFT JOIN ent e USING (doc_id)
    """,
)
def q_corpus_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level quality screens (textops/analysis.py:
    add_char_stats + char_entropy): Shannon entropy of the character
    distribution (cuts both keyboard-mash AND binary-junk tails) and
    digit/punct/space ratios. Ratios are integer-count divisions —
    UNROUNDED; the entropy explodes to (doc, char) rows (single-char
    shuffle keys), decimal term sums, log2 round-6."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    ratios = add_char_stats(docs).select(
        "doc_id", "digit_ratio", "punct_ratio", "space_ratio"
    )
    ent = char_entropy(docs)
    out = ratios.join(ent, "doc_id", "left")
    return out.select(
        "doc_id", "n_chars_total",
        _r6(F.col("char_entropy")).alias("char_entropy"),
        "digit_ratio", "punct_ratio", "space_ratio",
    )


from marketdatapipeline_spark.similarity.quantize import norm_audit  # noqa: E402


@register_extended(
    "embeddings_norm_audit",
    """
    WITH nr AS (
        SELECT vec_id,
               sqrt(list_reduce(
                   list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                   (a, b) -> a + b)) AS norm
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    m1 AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(norm AS DECIMAL(28,14))) AS DOUBLE) AS s1
        FROM nr
    ),
    dv AS (
        SELECT vec_id, norm, norm - s1 / n AS dev, n
        FROM nr CROSS JOIN m1
    ),
    m2 AS (
        SELECT CAST(sum(CAST(dev * dev AS DECIMAL(28,16))) AS DOUBLE) AS ss,
               first(n) AS n2
        FROM dv
    )
    SELECT vec_id, norm,
           round(z, 4) + 0.0 AS z,
           abs(z) > 3.0 AS is_outlier
    FROM (
        SELECT vec_id, norm,
               CASE WHEN ss / n2 > 0 THEN dev / sqrt(ss / n2) END AS z
        FROM dv CROSS JOIN m2
    )
    """,
)
def q_embeddings_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm health audit (similarity/quantize.py:
    norm_audit): collapsed/exploded-vector detection via population
    z-scores. Norms fold sequentially (engine-exact, UNROUNDED); the
    variance is the TWO-PASS decimal form — the one-pass power sum
    cancels catastrophically on unit-normalized vectors (true var
    ~1e-15 below double resolution at the sums\' magnitude) and the
    first cut of this query proved it by diverging; z round-6, the
    outlier flag cut on the unrounded z in both engines. z emits
    ROUND-4, not the house round-6: the z denominator is ~1e-8 on
    unit-normalized vectors, so the engines\' 1-ulp decimal->double
    conversion difference in the mean amplifies to ~3e-9 ABSOLUTE in
    z — round-6 provably flipped 3 rows in 2000 at sf0.1; round-4
    leaves five orders of margin."""
    emb = _emb(spark, sf_dir)
    out = norm_audit(emb, z_threshold=3.0)
    return out.select(
        "vec_id", "norm",
        (F.round(F.col("z"), 4) + F.lit(0.0)).alias("z"),
        "is_outlier",
    )


from marketdatapipeline_spark.operators.events import (  # noqa: E402
    cohort_retention,
    funnel,
)


@register_extended(
    "events_funnel",
    """
    WITH pu AS (
        SELECT user_id,
               list(ts ORDER BY ts) FILTER (WHERE event_type = 'view')
                   AS a0,
               list(ts ORDER BY ts) FILTER (WHERE event_type = 'click')
                   AS a1,
               list(ts ORDER BY ts) FILTER (WHERE event_type = 'purchase')
                   AS a2
        FROM events GROUP BY user_id
    ),
    s1 AS (
        SELECT user_id, a1, a2, a0[1] AS t0,
               CASE WHEN a0[1] IS NOT NULL THEN
                   list_min(list_filter(a1, x -> x > a0[1])) END AS t1
        FROM pu
    ),
    s2 AS (
        SELECT user_id, t0, t1,
               CASE WHEN t1 IS NOT NULL THEN
                   list_min(list_filter(a2, x -> x > t1)) END AS t2
        FROM s1
    ),
    tot AS (
        SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2,
               quantile_cont(CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE)
                             / 1000000.0, 0.5) AS med1,
               quantile_cont(CAST(epoch_us(t2) - epoch_us(t1) AS DOUBLE)
                             / 1000000.0, 0.5) AS med2
        FROM s2
    )
    SELECT step, step_name, n_users, conv_from_prev, conv_from_first,
           round(median_seconds_from_prev, 6) + 0.0
               AS median_seconds_from_prev
    FROM (
        SELECT 1 AS step, 'view' AS step_name, CAST(n0 AS BIGINT) AS n_users,
               CAST(NULL AS DOUBLE) AS conv_from_prev,
               CASE WHEN n0 > 0 THEN CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                   END AS conv_from_first,
               CAST(NULL AS DOUBLE) AS median_seconds_from_prev
        FROM tot
        UNION ALL
        SELECT 2, 'click', CAST(n1 AS BIGINT),
               CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE)
                   END,
               CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE)
                   END,
               med1
        FROM tot
        UNION ALL
        SELECT 3, 'purchase', CAST(n2 AS BIGINT),
               CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   END,
               CASE WHEN n0 > 0 THEN CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE)
                   END,
               med2
        FROM tot
    )
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-sequential view->click->purchase funnel
    (operators/events.py:funnel): first-touch chains resolved with
    array algebra inside ONE groupBy(user) aggregation (no per-step
    self-joins). Counts/rates are integer-exact; the step-transition
    medians are exact interpolated percentiles, round-6."""
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = funnel(ev, steps=("view", "click", "purchase"))
    return out.select(
        "step", "step_name", "n_users", "conv_from_prev",
        "conv_from_first",
        _r6(F.col("median_seconds_from_prev")).alias(
            "median_seconds_from_prev"
        ),
    )


@register_extended(
    "events_cohort_retention",
    """
    WITH act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS p
        FROM events
    ),
    coh AS (SELECT user_id, min(p) AS cohort FROM act GROUP BY user_id),
    sizes AS (
        SELECT cohort, count(*) AS cohort_size FROM coh GROUP BY cohort
    ),
    a AS (
        SELECT c.cohort,
               CAST((epoch_us(act.p) - epoch_us(c.cohort))
                    // 604800000000 AS BIGINT) AS period_offset,
               count(*) AS n_active
        FROM act JOIN coh c USING (user_id)
        GROUP BY c.cohort, 2
    )
    SELECT a.cohort, a.period_offset, CAST(a.n_active AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(a.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
               AS retention
    FROM a JOIN sizes s USING (cohort)
    """,
)
def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle
    (operators/events.py:cohort_retention): users bucketed by
    first-activity week, counted per active week offset. Exact epoch
    arithmetic for offsets, integer counts, integer-ratio retention
    — UNROUNDED."""
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, period="week")


from marketdatapipeline_spark.textops.dedup import (  # noqa: E402
    MERSENNE_P as _MP,
)
from marketdatapipeline_spark.textops.dedup import (  # noqa: E402
    hash_coeffs as _hash_coeffs,
)
from marketdatapipeline_spark.textops.dedup import (  # noqa: E402
    minhash_estimate_quality,
)

_MHQ_MINS = ", ".join(
    f"min(({a} * th + {b}) % {_MP}) AS mh_{i}"
    for i, (a, b) in enumerate(_hash_coeffs(16))
)
_MHQ_AGREE = " + ".join(
    f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(16)
)


@register_extended(
    "dedup_minhash_quality",
    rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        FROM documents WHERE doc_id < 1000
    ),
    tok AS (
        SELECT DISTINCT doc_id, {_H_SQL.format(x="shingle")} AS th
        FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(ws) >= 3 THEN
                       list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
                   ELSE [] END) AS shingle
            FROM w
        )
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM tok a JOIN tok b ON a.th = b.th AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT id_a, id_b,
               CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
    ),
    sigs AS (SELECT doc_id, {_MHQ_MINS} FROM tok GROUP BY doc_id)
    SELECT p.id_a, p.id_b, p.jaccard,
           CAST({_MHQ_AGREE} AS INT) AS n_agree,
           CAST({_MHQ_AGREE} AS DOUBLE) / 16.0 AS est_jaccard,
           CAST({_MHQ_AGREE} AS DOUBLE) / 16.0 - p.jaccard AS err
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.id_a
    JOIN sigs sb ON sb.doc_id = p.id_b
    WHERE p.jaccard >= 0.2
    """,
)
def q_dedup_minhash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-accuracy audit (textops/dedup.py:
    minhash_estimate_quality): true hashed-set Jaccard vs the
    16-hash signature estimate for every 3-gram pair >= 0.2 — the
    measure-your-sketch-before-trusting-it entry next to the recall
    audit (jaccard_pairs_with_lsh_flag). Integer ratios end to end —
    UNROUNDED."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 1000)
    return minhash_estimate_quality(
        docs, threshold=0.2, num_hashes=16, n=3
    )


@register_extended(
    "tpch_q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                         AS DECIMAL(28,10))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 adapted to the fixture schema (shipping priority:
    top-10 unshipped BUILDING-segment orders by revenue) — the
    classic 3-way join + aggregate + top-k showcase. Revenue sums as
    decimal(28,10) (exact, and the ordering key — so the top-10 cut
    is engine-identical); customer and the filtered orders are
    broadcast-eligible dims, lineitem never re-shuffles twice."""
    from marketdatapipeline_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    j = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    g = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(28,10)")
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return (
        g.orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey", "revenue", "o_orderdate", "o_orderpriority",
            "n_lines",
        )
    )


@register_extended(
    "bars_impact_curve",
    _bars_sql(
        """
        , r AS (
            SELECT symbol, volume, datetime, bar_id,
                   abs((close - lag(close) OVER w) / lag(close) OVER w)
                       AS aret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        d AS (
            SELECT symbol, volume, aret,
                   ntile(10) OVER (
                       PARTITION BY symbol
                       ORDER BY volume, datetime, bar_id
                   ) AS decile
            FROM r WHERE aret IS NOT NULL
        )
        SELECT symbol, CAST(decile AS INT) AS decile,
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(CAST(volume AS DECIMAL(28,10))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS avg_volume,
               round(CAST(sum(CAST(aret AS DECIMAL(28,14))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_abs_ret
        FROM d GROUP BY symbol, decile
        """
    ),
)
def q_bars_impact_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-impact curve: mean |return| by per-symbol volume decile
    — the nonparametric companion to Kyle's lambda (a flat curve
    falsifies the linear-impact model; convexity locates where size
    starts to move price). ntile over a TOTAL order (volume,
    datetime, bar_id) so decile membership is engine-deterministic;
    decimal sums; integer-ratio avg_volume UNROUNDED, the |ret| mean
    round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    r = bars.select(
        "symbol", "volume", "datetime", "bar_id",
        F.abs(
            (F.col("close") - F.lag("close").over(w))
            / F.lag("close").over(w)
        ).alias("aret"),
    ).filter(F.col("aret").isNotNull())
    dw = W.partitionBy("symbol").orderBy("volume", "datetime", "bar_id")
    d = r.withColumn("decile", F.ntile(10).over(dw))
    g = d.groupBy("symbol", "decile").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("volume").cast("decimal(28,10)"))
        .cast("double")
        .alias("_sv"),
        F.sum(F.col("aret").cast("decimal(28,14)"))
        .cast("double")
        .alias("_sr"),
    )
    n = F.col("n_obs").cast("double")
    return g.select(
        "symbol", "decile", "n_obs",
        (F.col("_sv") / n).alias("avg_volume"),
        _r6(F.col("_sr") / n).alias("mean_abs_ret"),
    )


from marketdatapipeline_spark.textops.corpus import zipf_fit  # noqa: E402


@register_extended(
    "corpus_zipf_fit",
    rf"""
    WITH wds AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents
    ),
    tf AS (
        SELECT {_H_SQL.format(x="w")} AS h, count(*) AS c
        FROM wds WHERE w <> '' GROUP BY {_H_SQL.format(x="w")}
    ),
    top AS (
        SELECT c, h, r FROM (
            SELECT c, h, row_number() OVER (ORDER BY c DESC, h) AS r
            FROM tf
        ) WHERE r <= 1000
    ),
    g AS (
        SELECT count(*) AS n_terms, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(28,14)))
                    AS DOUBLE) AS sx,
               CAST(sum(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(28,14)))
                    AS DOUBLE) AS sy,
               CAST(sum(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))
                             AS DECIMAL(28,14))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
                             AS DECIMAL(28,14))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE))
                             AS DECIMAL(28,14))) AS DOUBLE) AS syy
        FROM top
    )
    SELECT n_terms, n_tokens,
           round(CASE WHEN cxx > 0 THEN cxy / cxx END, 6) + 0.0 AS slope,
           round(CASE WHEN cxx > 0 THEN
               (sy - (cxy / cxx) * sx) / CAST(n_terms AS DOUBLE) END, 6)
               + 0.0 AS intercept,
           round(CASE WHEN cxx > 0 AND cyy > 0 THEN
               cxy * cxy / (cxx * cyy) END, 6) + 0.0 AS r2
    FROM (
        SELECT n_terms, n_tokens, sx, sy,
               sxx - sx * sx / CAST(n_terms AS DOUBLE) AS cxx,
               syy - sy * sy / CAST(n_terms AS DOUBLE) AS cyy,
               sxy - sx * sy / CAST(n_terms AS DOUBLE) AS cxy
        FROM g
    )
    """,
)
def q_corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit (textops/corpus.py:zipf_fit): log-log
    slope/r2 over the corpus's top-1000 terms — natural text slopes
    near -1; templated spam bends the curve, making this a one-row
    corpus-health gauge. Hashed term counts, deterministic
    (count desc, hash) ranking, decimal power sums, ln round-6."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out = zipf_fit(docs, top_k=1000)
    return out.select(
        "n_terms", "n_tokens",
        _r6(F.col("slope")).alias("slope"),
        _r6(F.col("intercept")).alias("intercept"),
        _r6(F.col("r2")).alias("r2"),
    )


from marketdatapipeline_spark.operators.drawdown import (  # noqa: E402
    underwater_spells,
)


@register_extended(
    "bars_underwater_spells",
    _bars_sql(
        """
        , dd AS (
            SELECT symbol, datetime, bar_id,
                   close / max(close) OVER wr - 1.0 AS drawdown,
                   row_number() OVER w AS rn
            FROM bars
            WINDOW wr AS (
                PARTITION BY symbol ORDER BY datetime, bar_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ), w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        st AS (
            SELECT *, (drawdown < 0) AS u,
                   rn - row_number() OVER (
                       PARTITION BY symbol, (drawdown < 0)
                       ORDER BY datetime, bar_id
                   ) AS grp
            FROM dd
        ),
        sp AS (
            SELECT symbol, grp, count(*) AS len,
                   min(drawdown) AS ddm, min(rn) AS s0
            FROM st WHERE u GROUP BY symbol, grp
        ),
        tot AS (SELECT symbol, count(*) AS n_bars FROM dd GROUP BY symbol),
        ag AS (
            SELECT symbol, CAST(count(*) AS BIGINT) AS n_spells,
                   CAST(max(len) AS BIGINT) AS longest_spell,
                   CAST(sum(len) AS DOUBLE) / count(*) AS mean_spell,
                   CAST(sum(len) AS BIGINT) AS under_bars
            FROM sp GROUP BY symbol
        ),
        worst AS (
            SELECT symbol, ddm FROM (
                SELECT symbol, ddm, row_number() OVER (
                    PARTITION BY symbol ORDER BY len DESC, s0
                ) AS r FROM sp
            ) WHERE r = 1
        )
        SELECT a.symbol, a.n_spells, a.longest_spell, a.mean_spell,
               w.ddm AS worst_spell_dd,
               CAST(a.under_bars AS DOUBLE) / CAST(t.n_bars AS DOUBLE)
                   AS pct_underwater
        FROM ag a JOIN worst w USING (symbol) JOIN tot t USING (symbol)
        """
    ),
)
def q_bars_underwater_spells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown DURATION statistics
    (operators/drawdown.py:underwater_spells): maximal below-peak
    runs labeled by the two-row-number difference (constant per run —
    pure window algebra, no sessionize machinery), then per-spell and
    per-symbol aggregation; worst_spell_dd is the floor of the
    LONGEST spell (earliest on ties). Integer lengths/ratios and
    deterministic IEEE drawdowns — UNROUNDED."""
    bars = _bars_from_events_r8(spark, sf_dir)
    return underwater_spells(bars)


@register_extended(
    "bars_leadlag_correlation",
    _bars_sql(
        _RETS_NN_SQL
        + """
        , g AS (
            SELECT a._sym AS symbol_a, b._sym AS symbol_b,
                   count(*) AS n_obs,
                   CAST(sum(CAST(a._ret AS DECIMAL(38,18))) AS DOUBLE)
                       AS sx,
                   CAST(sum(CAST(b._ret AS DECIMAL(38,18))) AS DOUBLE)
                       AS sy,
                   CAST(sum(CAST(a._ret * a._ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS sxx,
                   CAST(sum(CAST(b._ret * b._ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS syy,
                   CAST(sum(CAST(a._ret * b._ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS sxy
            FROM nn a JOIN nn b
              ON b._idx = a._idx + 1 AND a._sym <> b._sym
            GROUP BY a._sym, b._sym
        )
        SELECT symbol_a, symbol_b, CAST(n_obs AS BIGINT) AS n_obs,
               CASE WHEN vx > 0 AND vy > 0 THEN
                   round(cov / sqrt(vx * vy), 6) + 0.0 END AS corr
        FROM (
            SELECT symbol_a, symbol_b, n_obs,
                   n_obs * sxx - sx * sx AS vx,
                   n_obs * syy - sy * sy AS vy,
                   n_obs * sxy - sx * sy AS cov
            FROM g
        )
        WHERE n_obs >= 30
        """
    ),
)
def q_bars_leadlag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation at lag 1
    (operators/correlation.py:pairwise_return_correlation(lag=1)):
    does a's return today predict b's tomorrow? ORDERED pairs (both
    directions emitted — the two questions differ), the price-
    discovery screen next to the contemporaneous matrix in the gate.
    Index-bucket join on the dense bar index, decimal power sums,
    round-6."""
    from marketdatapipeline_spark.operators.correlation import (
        pairwise_return_correlation,
    )

    bars = _bars_from_events_r8(spark, sf_dir)
    out = pairwise_return_correlation(bars, min_obs=30, lag=1)
    return out.select(
        "symbol_a", "symbol_b", "n_obs", _r6(F.col("corr")).alias("corr")
    )


from marketdatapipeline_spark.ml.drift import calibration_curve  # noqa: E402

_CAL_FRACS = "[" + ", ".join(str(i / 10) for i in range(1, 10)) + "]"


@register_extended(
    "ml_calibration_curve",
    _bars_sql(
        f"""
        , sc AS (
            SELECT 1.0 / (1.0 + exp(-50.0 * ((close - lag(close) OVER w)
                                             / lag(close) OVER w))) AS score,
                   CASE WHEN lead(close) OVER w IS NOT NULL THEN
                       CAST(lead(close) OVER w > close AS INT) END AS target
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        base AS (SELECT score, target FROM sc WHERE score IS NOT NULL),
        ed AS (
            SELECT list_transform(quantile_cont(score, {_CAL_FRACS}),
                                  e -> round(e, 6) + 0.0) AS e
            FROM base
        ),
        b AS (
            SELECT CAST(len(list_filter(e, x -> score >= x)) AS INT)
                       AS bin,
                   score, target
            FROM base CROSS JOIN ed
            WHERE target IS NOT NULL
        ),
        g AS (
            SELECT bin, count(*) AS n_obs,
                   CAST(sum(CAST(score AS DECIMAL(28,14))) AS DOUBLE) AS ss,
                   CAST(sum(CAST(CAST(target AS DOUBLE) AS DECIMAL(28,14)))
                        AS DOUBLE) AS sy
            FROM b GROUP BY bin
        )
        SELECT bin, CAST(n_obs AS BIGINT) AS n_obs,
               round(ss / CAST(n_obs AS DOUBLE), 6) + 0.0 AS mean_score,
               sy / CAST(n_obs AS DOUBLE) AS pos_rate,
               round(sy / CAST(n_obs AS DOUBLE)
                     - ss / CAST(n_obs AS DOUBLE), 6) + 0.0 AS gap
        FROM g
        """
    ),
)
def q_ml_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (ml/drift.py:calibration_curve) for a
    logistic momentum score against the next-bar-up label: scores
    decile-bucketed on round-6 self-quantile edges (PSI binning — no
    global sort), observed positive rate vs mean prediction per
    bucket. pos_rate is an integer ratio (UNROUNDED); the score mean
    crosses exp (libm) -> round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-50.0) * ret))
    target = F.when(
        F.lead("close").over(w).isNotNull(),
        (F.lead("close").over(w) > F.col("close")).cast("int"),
    )
    scored = bars.select(
        score.alias("score"), target.alias("target")
    ).filter(F.col("score").isNotNull())
    out = calibration_curve(scored, "score", "target", n_bins=10)
    return out.select(
        "bin", "n_obs",
        _r6(F.col("mean_score")).alias("mean_score"),
        "pos_rate",
        _r6(F.col("gap")).alias("gap"),
    )


from marketdatapipeline_spark.textops.corpus import quality_screen  # noqa: E402


@register_extended(
    "corpus_quality_screen",
    rf"""
    WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents
    ),
    sg AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(length(text) - {_SPAN_K - 1}, 0) + 1),
                   i -> {_SPAN_H})) AS h
        FROM documents
    ),
    spg AS (SELECT doc_id, h, count(*) AS c FROM sg GROUP BY doc_id, h),
    sdg AS (SELECT h, count(*) AS nd FROM spg GROUP BY h),
    sdp AS (
        SELECT spg.doc_id, sum(spg.c) AS dup
        FROM spg JOIN sdg USING (h) WHERE sdg.nd > 1 GROUP BY spg.doc_id
    ),
    span AS (
        SELECT d.doc_id,
               CASE WHEN length(d.text) >= {_SPAN_K}
                    THEN round(coalesce(sdp.dup, 0)
                               / CAST(greatest(length(d.text)
                                               - {_SPAN_K - 1}, 0)
                                      AS DOUBLE), 6) + 0.0
               END AS span_dup_frac
        FROM documents d LEFT JOIN sdp USING (doc_id)
    ),
    cnt AS (
        SELECT doc_id, c, count(*) AS n
        FROM ch WHERE c <> '' GROUP BY doc_id, c
    ),
    ent AS (
        SELECT doc_id,
               CAST(sum(CAST(-(p * log2(p)) AS DECIMAL(28,14)))
                    AS DOUBLE) AS char_entropy
        FROM (
            SELECT doc_id, n,
                   CAST(n AS DOUBLE) / CAST(sum(n) OVER (
                       PARTITION BY doc_id) AS DOUBLE) AS p
            FROM cnt
        )
        GROUP BY doc_id
    ),
    r AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(trim(text),
                                                          '\s+'),
                                    x -> x <> '')) AS INT) AS n_words,
               CASE WHEN len(text) > 0 THEN
                   CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                       / len(text) END AS digit_ratio,
               CASE WHEN len(string_split(text, chr(10))) > 0 THEN
                   CAST(len(string_split(text, chr(10)))
                        - len(list_distinct(string_split(text, chr(10))))
                        AS DOUBLE)
                   / len(string_split(text, chr(10)))
               ELSE 0.0 END AS dup_line_frac
        FROM documents
    )
    SELECT r.doc_id, r.n_words,
           round(e.char_entropy, 6) + 0.0 AS char_entropy, r.digit_ratio,
           r.dup_line_frac, s.span_dup_frac,
           r.n_words < 5 AS too_short,
           coalesce(e.char_entropy < 2.0, TRUE) AS low_entropy,
           coalesce(r.digit_ratio > 0.3, FALSE) AS digit_heavy,
           r.dup_line_frac > 0.3 AS repetitive,
           coalesce(s.span_dup_frac > 0.5, FALSE) AS span_duplicated,
           NOT (r.n_words < 5) AND NOT coalesce(e.char_entropy < 2.0, TRUE)
           AND NOT coalesce(r.digit_ratio > 0.3, FALSE)
           AND NOT (r.dup_line_frac > 0.3)
           AND NOT coalesce(s.span_dup_frac > 0.5, FALSE) AS keep
    FROM r LEFT JOIN ent e USING (doc_id) LEFT JOIN span s USING (doc_id)
    """,
)
def q_corpus_quality_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed FineWeb-style keep/drop verdict
    (textops/corpus.py:quality_screen): length, character-entropy,
    digit-density, line-repetition, and (r14) cross-document
    exact-substring span-duplication screens stacked with the
    per-reason flags preserved — dup_frac from the Lee-et-al span
    audit is exactly the drop signal the within-document screens
    miss (a mirrored page reads as clean prose to all four). The
    entropy and the span audit's gram-hash agg shuffle; flags and
    the verdict are boolean algebra over already-oracled signals —
    engine-exact (entropy and span_dup_frac round-6 feed the
    comparisons on BOTH sides via the same rounded values)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out = quality_screen(docs, max_span_dup_frac=0.5, span_k=_SPAN_K)
    return out.select(
        "doc_id", "n_words",
        _r6(F.col("char_entropy")).alias("char_entropy"),
        "digit_ratio", "dup_line_frac", "span_dup_frac",
        "too_short", "low_entropy", "digit_heavy", "repetitive",
        "span_duplicated", "keep",
    )


from marketdatapipeline_spark.catalog_pipeline import (  # noqa: E402
    _langid_sql,
)


def _langid_eval_sql() -> str:
    inner = _langid_sql()
    return f"""
    WITH pred AS ({inner}),
    j AS (
        SELECT d.lang, p.lang_pred
        FROM documents d JOIN pred p USING (doc_id)
    )
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS DOUBLE)
               / CAST(sum(count(*)) OVER (PARTITION BY lang) AS DOUBLE)
               AS frac
    FROM j GROUP BY lang, lang_pred
    """


@register_extended(
    "text_language_id_eval",
    _langid_eval_sql(),
)
def q_text_language_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix against the table's ground-truth
    ``lang`` column — the engine evaluating its own classifier
    (per-(truth, prediction) counts and row-normalized fractions).
    The quality habit this encodes: never ship a heuristic filter
    without measuring it on labeled data. Counts integer-exact,
    fractions integer ratios — UNROUNDED."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.textops import add_language_id

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    pred = add_language_id(docs).select("lang", "lang_pred")
    g = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = F.sum("n").over(W.partitionBy("lang")).cast("double")
    return g.select(
        "lang", "lang_pred", "n",
        (F.col("n").cast("double") / tot).alias("frac"),
    )


@register_extended(
    "bars_benford_volume",
    _bars_sql(
        """
        , d AS (
            SELECT symbol,
                   CAST(substr(CAST(CAST(volume AS BIGINT) AS VARCHAR),
                               1, 1) AS INT) AS digit
            FROM bars WHERE volume > 0
        ),
        g AS (
            SELECT symbol, digit, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(count(*)) OVER (PARTITION BY symbol)
                        AS DOUBLE) AS tot
            FROM d GROUP BY symbol, digit
        ),
        t AS (
            SELECT symbol, digit, n,
                   CAST(n AS DOUBLE) / tot AS obs_frac,
                   log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS exp_frac,
                   (CAST(n AS DOUBLE)
                    - tot * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                   * (CAST(n AS DOUBLE)
                      - tot * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                   / (tot * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                       AS term
            FROM g
        )
        SELECT symbol, digit, n, obs_frac,
               round(exp_frac, 6) + 0.0 AS benford_frac,
               round(CAST(sum(CAST(term AS DECIMAL(28,10))) OVER (
                   PARTITION BY symbol) AS DOUBLE), 6) + 0.0 AS chi2
        FROM t
        """
    ),
)
def q_bars_benford_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of volumes — the data-forensics
    screen for fabricated or truncated feeds (organic trade sizes
    roughly follow Benford; uniform or clipped generators flunk the
    chi-square loudly, as this synthetic feed does by construction).
    Counts/shares integer-exact (UNROUNDED); the Benford expectation
    and chi-square cross log10 (libm) -> round-6, decimal term
    sums."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    digit = F.substring(
        F.col("volume").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    g = (
        bars.filter(F.col("volume") > 0)
        .groupBy("symbol", digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = F.sum("n").over(W.partitionBy("symbol")).cast("double")
    nn = F.col("n").cast("double")
    exp_frac = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    staged = g.withColumns(
        {
            "obs_frac": nn / tot,
            "_exp": exp_frac,
            "_term": (nn - tot * exp_frac) * (nn - tot * exp_frac)
            / (tot * exp_frac),
        }
    )
    chi2 = (
        F.sum(F.col("_term").cast("decimal(28,10)"))
        .over(W.partitionBy("symbol"))
        .cast("double")
    )
    return staged.select(
        "symbol", "digit", "n", "obs_frac",
        _r6(F.col("_exp")).alias("benford_frac"),
        _r6(chi2).alias("chi2"),
    )


@register_extended(
    "events_json_extract",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(k) AS BIGINT) AS n_parsed,
           CAST(sum(CAST(k AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(sum(CAST(k AS BIGINT)) AS DOUBLE)
               / CAST(count(k) AS DOUBLE) AS avg_k,
           CAST(count(DISTINCT k) AS BIGINT) AS distinct_k
    FROM (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events
    )
    GROUP BY event_type
    """,
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: the ``props`` JSON column parsed
    scan-side (``get_json_object`` — JVM Jackson, no Python) and
    aggregated per event type. The schema-on-read capability every
    event pipeline needs; integer sums/counts and an integer-ratio
    mean — UNROUNDED."""
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    g = ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("k").alias("n_parsed"),
        F.sum(F.col("k").cast("bigint")).alias("sum_k"),
        (
            F.sum(F.col("k").cast("bigint")).cast("double")
            / F.count("k").cast("double")
        ).alias("avg_k"),
        F.countDistinct("k").alias("distinct_k"),
    )
    return g.select(
        "event_type", "n", "n_parsed", "sum_k", "avg_k", "distinct_k"
    )


@register_extended(
    "tpch_q9_product_profit",
    """
    SELECT n.n_name AS nation,
           CAST(year(l.l_shipdate) AS INT) AS o_year,
           p.p_type,
           CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                         AS DECIMAL(28,10))) AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_type = 'PROMO'
    GROUP BY n.n_name, year(l.l_shipdate), p.p_type
    """,
)
def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape on the fixture schema: PROMO-part revenue by
    supplier nation and ship year — the 4-way star join that
    exercises the two previously-untouched dimension tables (part,
    supplier). part/supplier/nation are broadcast-size dims; the
    fact table shuffles once for the aggregation. Decimal revenue —
    UNROUNDED."""
    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    part = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    )
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
    )
    g = j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("l_shipdate").cast("int").alias("o_year"),
        "p_type",
    ).agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(28,10)")
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return g.select("nation", "o_year", "p_type", "revenue", "n_lines")


from marketdatapipeline_spark.operators.pairs import (  # noqa: E402
    rolling_pair_correlation,
)


@register_extended(
    "bars_rolling_pair_correlation",
    _bars_sql(
        """
        , two AS (
            SELECT symbol AS _sym, close AS _p,
                   row_number() OVER (
                       PARTITION BY symbol ORDER BY datetime, bar_id
                   ) AS _idx
            FROM bars WHERE symbol IN ('1', '2') AND close IS NOT NULL
        ),
        aligned AS (
            SELECT _idx,
                   max(CASE WHEN _sym = '1' THEN _p END) AS pa,
                   max(CASE WHEN _sym = '2' THEN _p END) AS pb
            FROM two GROUP BY _idx
            HAVING max(CASE WHEN _sym = '1' THEN _p END) IS NOT NULL
               AND max(CASE WHEN _sym = '2' THEN _p END) IS NOT NULL
        ),
        rets AS (
            SELECT _idx,
                   (pa - lag(pa) OVER w) / lag(pa) OVER w AS ret_a,
                   (pb - lag(pb) OVER w) / lag(pb) OVER w AS ret_b
            FROM aligned WINDOW w AS (ORDER BY _idx)
        ),
        rr AS (SELECT * FROM rets WHERE ret_a IS NOT NULL
                                    AND ret_b IS NOT NULL),
        cm AS (
            SELECT _idx, ret_a, ret_b,
                   count(*) OVER wk AS n,
                   CAST(sum(CAST(ret_a AS DECIMAL(28,14))) OVER wk
                        AS DOUBLE) AS sx,
                   CAST(sum(CAST(ret_b AS DECIMAL(28,14))) OVER wk
                        AS DOUBLE) AS sy,
                   CAST(sum(CAST(ret_a * ret_a AS DECIMAL(28,14))) OVER wk
                        AS DOUBLE) AS sxx,
                   CAST(sum(CAST(ret_b * ret_b AS DECIMAL(28,14))) OVER wk
                        AS DOUBLE) AS syy,
                   CAST(sum(CAST(ret_a * ret_b AS DECIMAL(28,14))) OVER wk
                        AS DOUBLE) AS sxy
            FROM rr
            WINDOW wk AS (ORDER BY _idx
                          ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
        )
        SELECT _idx AS bar_index, ret_a, ret_b,
               CAST(n AS INT) AS n_obs,
               CASE WHEN n = 60 AND nd * sxx - sx * sx > 0
                         AND nd * syy - sy * sy > 0 THEN
                   round((nd * sxy - sx * sy)
                         / sqrt((nd * sxx - sx * sx)
                                * (nd * syy - sy * sy)), 6) + 0.0
               END AS corr
        FROM (SELECT *, CAST(n AS DOUBLE) AS nd FROM cm)
        """
    ),
)
def q_bars_rolling_pair_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-60 return-correlation curve for the '1'/'2' pair
    (operators/pairs.py:rolling_pair_correlation) — the pairs-trade
    regime monitor. Bar-index pivot (no self-join), rolling
    co-moments via prefix-difference decimal sums (the oracle's
    direct frames are bit-identical); round-6 at the correlation
    only."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = rolling_pair_correlation(bars, "1", "2", window=60)
    return out.select(
        "bar_index", "ret_a", "ret_b", "n_obs",
        _r6(F.col("corr")).alias("corr"),
    )


@register_extended(
    "events_error_pchart",
    """
    WITH h AS (
        SELECT date_trunc('hour', ts) AS hour_ts,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_err
        FROM events GROUP BY date_trunc('hour', ts)
    ),
    c AS (
        SELECT CAST(sum(n_err) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
            AS pbar
        FROM h
    )
    SELECT hour_ts, n, n_err,
           CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE) AS err_rate,
           round(pbar, 6) + 0.0 AS center,
           round(pbar + 3.0 * sqrt(pbar * (1.0 - pbar)
                                   / CAST(n AS DOUBLE)), 6) + 0.0 AS ucl,
           round(greatest(pbar - 3.0 * sqrt(pbar * (1.0 - pbar)
                                            / CAST(n AS DOUBLE)), 0.0), 6)
               + 0.0 AS lcl,
           CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE)
               > pbar + 3.0 * sqrt(pbar * (1.0 - pbar)
                                   / CAST(n AS DOUBLE))
            OR CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE)
               < greatest(pbar - 3.0 * sqrt(pbar * (1.0 - pbar)
                                            / CAST(n AS DOUBLE)), 0.0)
               AS out_of_control
    FROM h CROSS JOIN c
    """,
)
def q_events_error_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPC p-chart over the hourly error-event rate — the feed-health
    control chart (3-sigma binomial limits around the pooled rate;
    an hour outside them is a real shift, not noise). One hour-grain
    aggregation + one broadcast center row; rates integer ratios
    (UNROUNDED), limits cross sqrt -> round-6, the flag cut on the
    unrounded comparison in both engines."""
    from pyspark.sql import Window as W  # noqa: F401 — parity imports

    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_err"),
    )
    c = F.broadcast(
        h.agg(
            (
                F.sum("n_err").cast("double") / F.sum("n").cast("double")
            ).alias("_pbar")
        )
    )
    j = h.crossJoin(c)
    nn = F.col("n").cast("double")
    pbar = F.col("_pbar")
    sig = F.sqrt(pbar * (F.lit(1.0) - pbar) / nn)
    rate = F.col("n_err").cast("double") / nn
    ucl = pbar + F.lit(3.0) * sig
    lcl = F.greatest(pbar - F.lit(3.0) * sig, F.lit(0.0))
    return j.select(
        "hour_ts", "n", "n_err",
        rate.alias("err_rate"),
        _r6(pbar).alias("center"),
        _r6(ucl).alias("ucl"),
        _r6(lcl).alias("lcl"),
        ((rate > ucl) | (rate < lcl)).alias("out_of_control"),
    )


@register_extended(
    "corpus_length_histogram",
    """
    WITH b AS (
        SELECT CAST(length(bin(n_chars)) - 1 AS INT) AS bucket,
               n_chars
        FROM documents WHERE n_chars > 0
    ),
    g AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        FROM b GROUP BY bucket
    )
    SELECT bucket, n_docs, n_chars_total,
           CAST(n_docs AS DOUBLE)
               / CAST(sum(n_docs) OVER () AS DOUBLE) AS doc_share,
           CAST(sum(n_docs) OVER (ORDER BY bucket) AS DOUBLE)
               / CAST(sum(n_docs) OVER () AS DOUBLE) AS cum_doc_share
    FROM g
    """,
)
def q_corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram — the sequence-length
    planning view (what context window covers what share of the
    corpus). The bucket is ``floor(log2(n_chars))`` computed EXACTLY
    via the binary-string length (``bin()`` both engines — libm log2
    would flip on exact powers of two); shares are integer ratios —
    UNROUNDED."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir).filter(F.col("n_chars") > 0)
    bucket = (F.length(F.bin(F.col("n_chars"))) - F.lit(1)).cast("int")
    g = docs.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
    )
    tot = F.sum("n_docs").over(
        W.partitionBy()
    ).cast("double")
    cum = F.sum("n_docs").over(W.partitionBy().orderBy("bucket")).cast(
        "double"
    )
    return g.select(
        "bucket", "n_docs", "n_chars_total",
        (F.col("n_docs").cast("double") / tot).alias("doc_share"),
        (cum / tot).alias("cum_doc_share"),
    )


@register_extended(
    "events_user_activity_histogram",
    """
    WITH per AS (
        SELECT user_id, count(*) AS k FROM events GROUP BY user_id
    ),
    b AS (
        SELECT CAST(length(bin(k)) - 1 AS INT) AS bucket, k FROM per
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(k) AS BIGINT) AS n_events,
           CAST(min(k) AS BIGINT) AS min_events,
           CAST(max(k) AS BIGINT) AS max_events
    FROM b GROUP BY bucket
    """,
)
def q_events_user_activity_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Engagement distribution: users bucketed by power-of-two event
    counts (the whale-vs-casual histogram every event system reports;
    a sudden new top bucket is a bot). Exact ``bin()`` buckets,
    integer aggregates — UNROUNDED."""
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("k"))
    bucket = (F.length(F.bin(F.col("k"))) - F.lit(1)).cast("int")
    return per.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("k").cast("long").alias("n_events"),
        F.min("k").cast("long").alias("min_events"),
        F.max("k").cast("long").alias("max_events"),
    )


@register_extended(
    "corpus_ngram_novelty",
    rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, {_H_SQL.format(x="shingle")} AS th
        FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(ws) >= 3 THEN
                       list_transform(range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
                   ELSE [] END) AS shingle
            FROM w
        )
    ),
    dfc AS (SELECT th, count(*) AS df FROM sh GROUP BY th)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           CAST(sum(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS novelty
    FROM sh JOIN dfc USING (th)
    GROUP BY sh.doc_id
    """,
)
def q_corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty: the share of a document's distinct 3-gram
    hashes that appear in NO other document — the inverse of the
    containment/dedup family (novelty ~0 means the document is
    assembled from corpus boilerplate even when no single pair
    crosses a dedup threshold). Hashed shingles (bigints in every
    shuffle), document-frequency join, integer-ratio novelty —
    UNROUNDED.

    ``sh`` is persisted (the r10 perplexity lesson): it feeds BOTH the
    document-frequency aggregation and the join probe side, and the
    two consumers' exchanges differ (one has a partial count below),
    so without the pin the tokenize+hash+distinct subplan — the
    expensive part — executes twice."""
    from marketdatapipeline_spark.caching import scoped_persist
    from marketdatapipeline_spark.textops.dedup import shingle_hashes

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sh = scoped_persist(
        shingle_hashes(docs, "doc_id", "text", 3).withColumnRenamed("_h", "th")
    )
    dfc = sh.groupBy("th").agg(F.count("*").alias("df"))
    g = sh.join(dfc, "th").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
    )
    return g.select(
        "doc_id", "n_shingles", "n_unique",
        (
            F.col("n_unique").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("novelty"),
    )


@register_extended(
    "bars_ulcer_index",
    _bars_sql(
        """
        , dd AS (
            SELECT symbol,
                   100.0 * (close / max(close) OVER wr - 1.0) AS ddpct
            FROM bars
            WINDOW wr AS (
                PARTITION BY symbol ORDER BY datetime, bar_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            )
        )
        SELECT symbol, CAST(count(*) AS BIGINT) AS n_bars,
               round(sqrt(CAST(sum(CAST(ddpct * ddpct AS DECIMAL(28,10)))
                               AS DOUBLE) / CAST(count(*) AS DOUBLE)), 6)
                   + 0.0 AS ulcer_index,
               round(CAST(sum(CAST(ddpct AS DECIMAL(28,10))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_dd_pct
        FROM dd GROUP BY symbol
        """
    ),
)
def q_bars_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index (Martin 1987): RMS percentage drawdown — the
    downside-only volatility measure that penalizes DEPTH x DURATION
    together (the quadratic companion to underwater_spells' run
    lengths). One running-max window + one decimal power-sum agg;
    sqrt/division round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    wr = (
        W.partitionBy("symbol")
        .orderBy("datetime", "bar_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ddpct = F.lit(100.0) * (
        F.col("close") / F.max("close").over(wr) - F.lit(1.0)
    )
    g = bars.select("symbol", ddpct.alias("_d")).groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.sum((F.col("_d") * F.col("_d")).cast("decimal(28,10)"))
        .cast("double")
        .alias("_s2"),
        F.sum(F.col("_d").cast("decimal(28,10)")).cast("double").alias("_s1"),
    )
    n = F.col("n_bars").cast("double")
    return g.select(
        "symbol", "n_bars",
        _r6(F.sqrt(F.col("_s2") / n)).alias("ulcer_index"),
        _r6(F.col("_s1") / n).alias("mean_dd_pct"),
    )


@register_extended(
    "bars_sortino",
    _bars_sql(
        """
        , r AS (
            SELECT symbol,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        g AS (
            SELECT symbol, count(*) AS n_obs,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) AS DOUBLE) AS s1,
                   CAST(sum(CAST(CASE WHEN ret < 0 THEN ret * ret
                                      ELSE 0.0 END AS DECIMAL(38,18)))
                        AS DOUBLE) AS sd2,
                   CAST(sum(CASE WHEN ret < 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_down
            FROM r WHERE ret IS NOT NULL GROUP BY symbol
        )
        SELECT symbol, CAST(n_obs AS BIGINT) AS n_obs, n_down,
               round(s1 / CAST(n_obs AS DOUBLE), 6) + 0.0 AS mean_ret,
               round(sqrt(sd2 / CAST(n_obs AS DOUBLE)), 6) + 0.0
                   AS downside_dev,
               CASE WHEN sd2 > 0 THEN
                   round(s1 / CAST(n_obs AS DOUBLE)
                         / sqrt(sd2 / CAST(n_obs AS DOUBLE))
                         * sqrt(252.0), 6) + 0.0
               END AS sortino
        FROM g
        """
    ),
)
def q_bars_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sortino ratio (downside-deviation-scaled annualized return) —
    the risk metric that stops punishing upside volatility, next to
    the backtest's symmetric Sharpe. Below-zero returns accumulate
    as decimal power sums (the full-sample LPM(2) convention with n
    in the denominator); one lag window + one agg; round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    r = bars.select("symbol", ret.alias("_r")).filter(F.col("_r").isNotNull())
    down2 = F.when(F.col("_r") < 0, F.col("_r") * F.col("_r")).otherwise(
        F.lit(0.0)
    )
    g = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("_r").cast("decimal(38,18)")).cast("double").alias("_s1"),
        F.sum(down2.cast("decimal(38,18)")).cast("double").alias("_sd2"),
        F.sum((F.col("_r") < 0).cast("long")).alias("n_down"),
    )
    n = F.col("n_obs").cast("double")
    dd = F.sqrt(F.col("_sd2") / n)
    sortino = F.when(
        F.col("_sd2") > 0,
        F.col("_s1") / n / dd * F.sqrt(F.lit(252.0)),
    )
    return g.select(
        "symbol", "n_obs", "n_down",
        _r6(F.col("_s1") / n).alias("mean_ret"),
        _r6(dd).alias("downside_dev"),
        _r6(sortino).alias("sortino"),
    )


@register_extended(
    "bars_calmar",
    _bars_sql(
        """
        , l AS (
            SELECT symbol, datetime, bar_id,
                   ln(close / lag(close) OVER w) AS lr,
                   close / max(close) OVER wr - 1.0 AS dd
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id),
                   wr AS (PARTITION BY symbol ORDER BY datetime, bar_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        g AS (
            SELECT symbol, count(lr) AS n_obs,
                   CAST(sum(CAST(lr AS DECIMAL(38,18))) AS DOUBLE) AS sl,
                   min(dd) AS max_dd
            FROM l GROUP BY symbol
        )
        SELECT symbol, CAST(n_obs AS BIGINT) AS n_obs,
               round(exp(sl * 252.0 / CAST(n_obs AS DOUBLE)) - 1.0, 6)
                   + 0.0 AS ann_return,
               round(max_dd, 6) + 0.0 AS max_drawdown,
               CASE WHEN max_dd < 0 THEN
                   round((exp(sl * 252.0 / CAST(n_obs AS DOUBLE)) - 1.0)
                         / (-max_dd), 6) + 0.0
               END AS calmar
        FROM g
        """
    ),
)
def q_bars_calmar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calmar ratio: annualized (geometric, via the exact decimal
    log-return sum) return over the worst peak-to-trough drawdown —
    the drawdown-scaled performance number completing the
    Sharpe/Sortino/Ulcer family. One symbol window pass (log return
    + running peak share it) + one agg; ln/exp round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    wr = w.rowsBetween(W.unboundedPreceding, 0)
    lr = F.log(F.col("close") / F.lag("close").over(w))
    dd = F.col("close") / F.max("close").over(wr) - F.lit(1.0)
    l = bars.select("symbol", lr.alias("_lr"), dd.alias("_dd"))
    g = l.groupBy("symbol").agg(
        F.count("_lr").alias("n_obs"),
        F.sum(F.col("_lr").cast("decimal(38,18)")).cast("double").alias("_sl"),
        F.min("_dd").alias("max_dd"),
    )
    n = F.col("n_obs").cast("double")
    ann = F.exp(F.col("_sl") * F.lit(252.0) / n) - F.lit(1.0)
    calmar = F.when(F.col("max_dd") < 0, ann / (-F.col("max_dd")))
    return g.select(
        "symbol",
        "n_obs",
        _r6(ann).alias("ann_return"),
        _r6(F.col("max_dd")).alias("max_drawdown"),
        _r6(calmar).alias("calmar"),
    )


# ---------------------------------------------------------------------------
# r8 wave: TPC-H classics over the fixture warehouse tables — the
# canonical decision-support shapes (selective scan-agg, dim-join
# ratio, group-HAVING semi-join, multi-dim revenue ranking) that a
# migrating user would run first. Reference parity target: the
# reference's query surface is market-data-centric, so these are
# north-star breadth on the shared TPC-H-ish fixture tables.
# ---------------------------------------------------------------------------


@register_extended(
    "tpch_q6_forecast_revenue",
    """
    SELECT round(CAST(sum(CAST(l_extendedprice * l_discount
                              AS DECIMAL(28,10))) AS DOUBLE), 6) + 0.0
               AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.04 AND l_discount <= 0.06
      AND l_quantity < 24
    """,
)
def q_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 adapted (forecast revenue change): the purest
    pushdown showcase — every predicate (shipdate range, discount
    band, quantity cap) reaches the parquet scan and the plan is one
    scan + one partial-final agg, zero joins, zero wide exchanges.
    Discount values are exact hundredths in the fixture, so the
    double band-compare is engine-identical; revenue sums as
    decimal(28,10) — UNROUNDED."""
    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    g = li.agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast(
                "decimal(28,10)"
            )
        )
        .cast("double")
        .alias("_rev"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    # revenue magnitudes sit at double's ~1e-8 ulp: the decimal sum is
    # exact both sides but the decimal->double conversion can differ by
    # one ulp between engines — round-6 pins it (the round-tie lesson).
    return g.select(_r6(F.col("_rev")).alias("revenue"), "n_lines")


@register_extended(
    "tpch_q14_promo_revenue",
    """
    SELECT round(100.0
               * CAST(sum(CASE WHEN p_type = 'PROMO'
                          THEN CAST(l_extendedprice * (1.0 - l_discount)
                                    AS DECIMAL(28,10))
                          ELSE CAST(0.0 AS DECIMAL(28,10)) END) AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                               AS DECIMAL(28,10))) AS DOUBLE), 6) + 0.0
               AS promo_revenue_pct,
           round(CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1.0 - l_discount)
                              AS DECIMAL(28,10))
                    ELSE CAST(0.0 AS DECIMAL(28,10)) END) AS DOUBLE), 6)
               + 0.0 AS promo_revenue,
           round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                              AS DECIMAL(28,10))) AS DOUBLE), 6) + 0.0
               AS total_revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
)
def q_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 adapted (promotion effect): conditional-aggregate
    share over a dim join. ``part`` is a broadcast dim (never
    shuffles lineitem); both the promo and total revenue sums are
    exact decimals so the ratio is one double division, round-6.
    The fixture's p_type domain has a literal 'PROMO' class."""
    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    zero = F.lit(0.0).cast("decimal(28,10)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
    g = j.agg(
        F.sum(promo).cast("double").alias("_promo"),
        F.sum(rev).cast("double").alias("_total"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return g.select(
        _r6(F.lit(100.0) * F.col("_promo") / F.col("_total")).alias(
            "promo_revenue_pct"
        ),
        # round-6: ~1e8 magnitudes sit at double's 1e-8 ulp, where the
        # (exact) decimal sum's double conversion can differ by one ulp
        # between engines — observed at sf0.01.
        _r6(F.col("_promo")).alias("promo_revenue"),
        _r6(F.col("_total")).alias("total_revenue"),
        "n_lines",
    )


@register_extended(
    "tpch_q18_large_orders",
    """
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(28,10))) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(28,10))) AS DOUBLE)
               AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 adapted (large-volume customers). The textbook plan
    re-joins raw lineitem after the HAVING semi-join and re-aggregates
    — but the final grouping is per ORDER, so the per-order quantity
    sum the HAVING pass already computed IS total_qty (r10): one
    lineitem scan + one map-side-combinable agg, then the >150 rows
    (a few per million orders) join orders and the broadcast customer
    dim. Half the fact-table work of the two-pass shape at any scale.
    Quantities are integral doubles, summed as decimals — the single
    agg is bit-identical to the oracle's re-aggregation; deterministic
    LIMIT via the unique o_orderkey tiebreak."""
    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,10)")).alias("_q"))
        .filter(F.col("_q") > 150)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    g = (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice",
            F.col("_q").cast("double").alias("total_qty"),
        )
    )
    return g.orderBy(
        F.desc("o_totalprice"), "o_orderdate", "o_orderkey"
    ).limit(100)


@register_extended(
    "tpch_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                              AS DECIMAL(28,10))) AS DOUBLE), 6) + 0.0
               AS revenue,
           c.c_acctbal, n.n_name,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 adapted (returned-item reporting): rank customers by
    revenue lost to returns in a half-year window. Order-date filter
    prunes orders before the fact join; customer and nation are
    broadcast dims; revenue decimal-exact and the LIMIT is
    deterministic via the unique c_custkey tiebreak."""
    from marketdatapipeline_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    g = j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(28,10)")
        )
        .cast("double")
        .alias("_rev"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    # round-6 before the ORDER BY so both engines rank the same values
    # (decimal->double one-ulp spread at 1e8 magnitudes, as in q14)
    g = g.withColumn("revenue", _r6(F.col("_rev")))
    return (
        g.orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey", "c_name", "revenue", "c_acctbal", "n_name",
            "n_lines",
        )
    )


# ---------------------------------------------------------------------------
# r8 wave: product-analytics depth over the event stream — behavioral
# transition structure, engagement stickiness, activity concentration,
# and feed-health anomaly scoring. All integer-count-derived (exact
# sums; divisions of identical operands are correctly rounded
# identically both engines), rounded only where multi-op float chains
# warrant it.
# ---------------------------------------------------------------------------


@register_extended(
    "events_markov_transitions",
    """
    WITH s AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS from_type
        FROM events
    ),
    t AS (
        SELECT from_type, event_type AS to_type, count(*) AS n
        FROM s WHERE from_type IS NOT NULL
        GROUP BY from_type, event_type
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n_transitions,
           CAST(n AS DOUBLE)
               / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
               AS prob
    FROM t
    """,
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences:
    per-user lag chain -> (from, to) counts -> row-normalized
    probabilities. One window exchange on user_id, one hash-agg on the
    5x5 type pairs, one tiny window for the row sums — at 100 TB the
    matrix is |types|^2 rows regardless of event volume. Integer
    ratios, UNROUNDED."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).filter(F.col("from_type").isNotNull())
    t = s.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    row = W.partitionBy("from_type")
    return t.select(
        "from_type", "to_type", "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(row).cast("double")
        ).alias("prob"),
    )


@register_extended(
    "events_weekly_stickiness",
    """
    WITH d AS (
        SELECT date_trunc('week', ts) AS week, date_trunc('day', ts) AS day,
               count(DISTINCT user_id) AS dau
        FROM events GROUP BY 1, 2
    ),
    wk AS (
        SELECT date_trunc('week', ts) AS week,
               count(DISTINCT user_id) AS wau,
               count(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT wk.week, CAST(wk.wau AS BIGINT) AS wau,
           CAST(wk.n_events AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(d.dau) AS BIGINT) AS dau_sum,
           CAST(sum(d.dau) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               / CAST(wk.wau AS DOUBLE) AS stickiness
    FROM d JOIN wk USING (week)
    GROUP BY wk.week, wk.wau, wk.n_events
    """,
)
def q_events_weekly_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU engagement stickiness per calendar week: mean daily
    distinct users over weekly distinct users — the canonical
    product-health ratio. Two distinct-aggs share the week exchange
    shape; counts are exact and the two divisions are a fixed op
    sequence (bit-identical both engines), UNROUNDED."""
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("week", "ts").alias("week"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.count_distinct("user_id").alias("dau"))
    wk = ev.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
        F.count_distinct("user_id").alias("wau"),
        F.count(F.lit(1)).alias("n_events"),
    )
    g = d.join(wk, "week").groupBy("week", "wau", "n_events").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("dau").alias("dau_sum"),
    )
    return g.select(
        "week", "wau", "n_events", "n_days", "dau_sum",
        (
            F.col("dau_sum").cast("double")
            / F.col("n_days").cast("double")
            / F.col("wau").cast("double")
        ).alias("stickiness"),
    )


@register_extended(
    "events_user_gini",
    """
    WITH c AS (
        SELECT user_id, count(*) AS n_ev FROM events GROUP BY user_id
    ),
    r AS (
        SELECT n_ev,
               row_number() OVER (ORDER BY n_ev, user_id) AS rk,
               count(*) OVER () AS n,
               sum(n_ev) OVER () AS tot
        FROM c
    )
    SELECT CAST(max(n) AS BIGINT) AS n_users,
           CAST(max(tot) AS BIGINT) AS total_events,
           round(2.0 * CAST(sum(rk * n_ev) AS DOUBLE)
                     / (CAST(max(n) AS DOUBLE) * CAST(max(tot) AS DOUBLE))
                 - (CAST(max(n) AS DOUBLE) + 1.0) / CAST(max(n) AS DOUBLE),
                 6) + 0.0 AS gini,
           round(CAST(sum(CASE WHEN rk > max_rk - top_k THEN n_ev
                          ELSE 0 END) AS DOUBLE)
                     / CAST(max(tot) AS DOUBLE), 6) + 0.0
               AS top10pct_share
    FROM (
        SELECT *, max(rk) OVER () AS max_rk,
               CAST(ceil(CAST(count(*) OVER () AS DOUBLE) / 10.0) AS BIGINT)
                   AS top_k
        FROM r
    )
    """,
)
def q_events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration audit: Gini coefficient of per-user
    event counts (rank-sum identity over counts sorted asc,
    user_id-tiebroken) plus the top-10%-users event share — the
    power-user curve in two numbers. One user hash-agg, then windows
    over the (small) per-user count table; integer sums end-to-end,
    round-6 on the final float chains."""
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    # distributed rank (r10): user grain, no single-task window;
    # max(rk) == n for a dense 1..n rank, so the old max-over-all
    # window is just n. r11: the event total rides the rank pass as a
    # cumsum grand total (exact long sum) instead of a second agg +
    # crossJoin, and the events row count (= upper bound on users)
    # replaces the persist+count routing probe.
    from marketdatapipeline_spark.operators.ranking import global_row_number

    r = global_row_number(
        c, F.col("n_ev"), F.col("user_id"), out_col="rk", total_col="n",
        cumsum={"_ce": "n_ev"}, cumsum_totals={"tot": "_ce"},
        size_hint=_pq_rows(spark, sf_dir, "events"),
    )
    r = r.withColumn(
        "top_k",
        F.ceil(F.col("n").cast("double") / F.lit(10.0)).cast("bigint"),
    )
    g = r.groupBy().agg(
        F.max("n").alias("_n"),
        F.max("tot").alias("_tot"),
        F.sum(F.col("rk") * F.col("n_ev")).alias("_rksum"),
        F.sum(
            F.when(
                F.col("rk") > F.col("n") - F.col("top_k"), F.col("n_ev")
            ).otherwise(F.lit(0))
        ).alias("_topsum"),
    )
    nd = F.col("_n").cast("double")
    gini = (
        F.lit(2.0) * F.col("_rksum").cast("double")
        / (nd * F.col("_tot").cast("double"))
        - (nd + F.lit(1.0)) / nd
    )
    return g.select(
        F.col("_n").alias("n_users"),
        F.col("_tot").alias("total_events"),
        _r6(gini).alias("gini"),
        _r6(
            F.col("_topsum").cast("double") / F.col("_tot").cast("double")
        ).alias("top10pct_share"),
    )


@register_extended(
    "events_hourly_anomaly",
    """
    WITH h AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               count(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, hour, cnt,
               count(*) OVER t AS n_base,
               sum(cnt) OVER t AS s1,
               sum(cnt * cnt) OVER t AS s2
        FROM h
        WINDOW t AS (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour, CAST(cnt AS BIGINT) AS cnt,
           CAST(n_base AS BIGINT) AS n_base,
           CASE WHEN n_base >= 12
                     AND (CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                            / CAST(n_base AS DOUBLE))
                         / (CAST(n_base AS DOUBLE) - 1.0) > 0
           THEN round((CAST(cnt AS DOUBLE)
                       - CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE))
                      / sqrt((CAST(s2 AS DOUBLE)
                              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                / CAST(n_base AS DOUBLE))
                             / (CAST(n_base AS DOUBLE) - 1.0)), 6) + 0.0
           END AS zscore,
           CASE WHEN n_base >= 12
                     AND (CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                            / CAST(n_base AS DOUBLE))
                         / (CAST(n_base AS DOUBLE) - 1.0) > 0
                     AND abs((CAST(cnt AS DOUBLE)
                              - CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE))
                             / sqrt((CAST(s2 AS DOUBLE)
                                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                       / CAST(n_base AS DOUBLE))
                                    / (CAST(n_base AS DOUBLE) - 1.0))) > 3.0
           THEN TRUE ELSE FALSE END AS is_anomaly
    FROM s
    """,
)
def q_events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h rolling z-score on hourly event counts per type —
    the feed-health anomaly monitor (spike/outage detector) next to
    the SPC p-chart. Count sums are exact integers so the one-pass
    variance is safe here (no float cancellation); warmup gated at 12
    baseline hours, z round-6. One hour-bucket hash-agg then one
    window exchange on the tiny per-type hourly series."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    t = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    s = h.select(
        "event_type", "hour", "cnt",
        F.count(F.lit(1)).over(t).alias("n_base"),
        F.sum("cnt").over(t).alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).over(t).alias("s2"),
    )
    # ANSI mode evaluates divisions in unselected `when` branches:
    # null-guard the denominators (warmup rows have n_base = 0, and a
    # constant baseline has var = 0) so 1/0 never executes.
    nb = F.when(F.col("n_base") >= 12, F.col("n_base").cast("double"))
    s1 = F.col("s1").cast("double")
    var = (F.col("s2").cast("double") - s1 * s1 / nb) / (nb - F.lit(1.0))
    z = (F.col("cnt").cast("double") - s1 / nb) / F.when(var > 0, F.sqrt(var))
    ok = (F.col("n_base") >= 12) & (var > 0)
    return s.select(
        "event_type", "hour", "cnt", "n_base",
        _r6(F.when(ok, z)).alias("zscore"),
        F.when(ok & (F.abs(z) > 3.0), F.lit(True))
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# r8 wave: ML evaluation depth — the ranking-quality (lift/gains),
# proper-scoring (Brier, log loss), and distribution-separation (KS)
# metrics that complete the classification-evaluation surface next to
# the gate's accuracy/F1/ROC-AUC rows. All reuse the deterministic
# logistic-momentum score vs next-bar-up label fixture
# (ml_calibration_curve's construction).
# ---------------------------------------------------------------------------

_SCORE_CTE = """
    , sc AS (
        SELECT symbol, datetime, bar_id,
               round(1.0 / (1.0 + exp(-50.0 * ((close - lag(close) OVER w)
                                               / lag(close) OVER w))), 6)
                   + 0.0 AS score,
               CASE WHEN lead(close) OVER w IS NOT NULL THEN
                   CAST(lead(close) OVER w > close AS INT) END AS target
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
    ),
    base AS (
        SELECT * FROM sc WHERE score IS NOT NULL AND target IS NOT NULL
    )
"""


def _scored_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SCORE_CTE: round-6 logistic momentum score plus
    next-bar-up target, nulls dropped. The round-6 BEFORE any ranking
    pins cross-engine order (exp is libm: raw scores can differ by one
    ulp between engines, which would reorder rank-based buckets)."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    score = _r6(F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-50.0) * ret)))
    target = F.when(
        F.lead("close").over(w).isNotNull(),
        (F.lead("close").over(w) > F.col("close")).cast("int"),
    )
    return bars.select(
        "symbol", "datetime", "bar_id",
        score.alias("score"), target.alias("target"),
    ).filter(F.col("score").isNotNull() & F.col("target").isNotNull())


@register_extended(
    "ml_decile_lift",
    _bars_sql(
        _SCORE_CTE
        + """
        , r AS (
            SELECT score, target,
                   row_number() OVER (
                       ORDER BY score DESC, symbol, datetime, bar_id
                   ) AS rn,
                   count(*) OVER () AS n,
                   sum(target) OVER () AS tot_pos
            FROM base
        ),
        d AS (
            SELECT CAST(floor(((rn - 1) * 10.0) / n) AS INT) + 1 AS decile,
                   target, n, tot_pos
            FROM r
        ),
        g AS (
            SELECT decile, count(*) AS n_obs, sum(target) AS n_pos,
                   max(n) AS n, max(tot_pos) AS tot_pos
            FROM d GROUP BY decile
        )
        SELECT decile, CAST(n_obs AS BIGINT) AS n_obs,
               CAST(n_pos AS BIGINT) AS n_pos,
               CAST(n_pos AS DOUBLE) / CAST(n_obs AS DOUBLE) AS pos_rate,
               CAST(sum(n_pos) OVER (ORDER BY decile) AS DOUBLE)
                   / CAST(tot_pos AS DOUBLE) AS cum_gain,
               round((CAST(n_pos AS DOUBLE) / CAST(n_obs AS DOUBLE))
                     / (CAST(tot_pos AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                   + 0.0 AS lift
        FROM g
        """
    ),
)
def q_ml_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table: rows ranked by score (round-6,
    fully tiebroken), cut into ten equal-count buckets by rank
    arithmetic (no ntile dependence), per-decile positive rate, the
    cumulative gains curve, and lift over the base rate. Integer
    ratios UNROUNDED; lift (ratio of ratios) round-6. Distributed
    rank (operators/ranking.py, r10 — the lit(1) window serialized
    every scored row through one task) + one 10-row agg; the grand
    totals fall out of the rank's offset pass as literals."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.operators.ranking import global_row_number

    b = _scored_bars(spark, sf_dir)
    # r11: total positives ride the rank pass as a cumsum grand total
    # (exact long) instead of a second agg + crossJoin, and the events
    # row count (= upper bound on scored bars) replaces the
    # persist+count routing probe — one pass, no cache dependency.
    r = global_row_number(
        b.select("target", "score", "symbol", "datetime", "bar_id"),
        F.desc("score"), F.col("symbol"), F.col("datetime"), F.col("bar_id"),
        out_col="rn", total_col="n",
        cumsum={"_tpc": "target"}, cumsum_totals={"tot_pos": "_tpc"},
        size_hint=_pq_rows(spark, sf_dir, "events"),
    )
    d = r.select(
        (
            F.floor(((F.col("rn") - 1) * F.lit(10.0)) / F.col("n")).cast(
                "int"
            )
            + 1
        ).alias("decile"),
        "target", "n", "tot_pos",
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("target").alias("n_pos"),
        F.max("n").alias("_n"),
        F.max("tot_pos").alias("_tp"),
    )
    cum = W.partitionBy(F.lit(1)).orderBy("decile")
    pos_rate = F.col("n_pos").cast("double") / F.col("n_obs").cast("double")
    return g.select(
        "decile", "n_obs", "n_pos",
        pos_rate.alias("pos_rate"),
        (
            F.sum("n_pos").over(cum).cast("double")
            / F.col("_tp").cast("double")
        ).alias("cum_gain"),
        _r6(
            pos_rate / (F.col("_tp").cast("double") / F.col("_n").cast("double"))
        ).alias("lift"),
    )


@register_extended(
    "ml_brier_logloss",
    _bars_sql(
        _SCORE_CTE
        + """
        SELECT CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(target) AS BIGINT) AS n_pos,
               round(CAST(sum(CAST((score - CAST(target AS DOUBLE))
                                   * (score - CAST(target AS DOUBLE))
                                   AS DECIMAL(28,14))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) + 0.0 AS brier,
               round(-CAST(sum(CAST(
                        CASE WHEN target = 1
                        THEN ln(greatest(least(score, 0.999999), 0.000001))
                        ELSE ln(1.0 - greatest(least(score, 0.999999),
                                               0.000001)) END
                        AS DECIMAL(28,14))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) + 0.0 AS log_loss
        FROM base
        """
    ),
)
def q_ml_brier_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proper scoring rules for the probabilistic classifier: Brier
    score (mean squared probability error) and binary log loss.
    Per-row terms cross libm (ln) then accumulate as decimal(28,14)
    (association-free), means round-6. One scan + one agg — no
    shuffle beyond the score window."""
    b = _scored_bars(spark, sf_dir)
    td = F.col("target").cast("double")
    sq = (F.col("score") - td) * (F.col("score") - td)
    # round-6 saturates extreme-momentum scores to exactly 0/1: clamp
    # into [1e-6, 1-1e-6] before the log (standard log-loss epsilon)
    clamped = F.greatest(
        F.least(F.col("score"), F.lit(0.999999)), F.lit(0.000001)
    )
    ll = F.when(F.col("target") == 1, F.log(clamped)).otherwise(
        F.log(F.lit(1.0) - clamped)
    )
    g = b.agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("target").alias("n_pos"),
        F.sum(sq.cast("decimal(28,14)")).cast("double").alias("_sb"),
        F.sum(ll.cast("decimal(28,14)")).cast("double").alias("_sl"),
    )
    n = F.col("n_obs").cast("double")
    return g.select(
        "n_obs", "n_pos",
        _r6(F.col("_sb") / n).alias("brier"),
        _r6(-F.col("_sl") / n).alias("log_loss"),
    )


@register_extended(
    "ml_ks_statistic",
    _bars_sql(
        _SCORE_CTE
        + """
        , s AS (
            SELECT score,
                   sum(CASE WHEN target = 1 THEN 1 ELSE 0 END) AS p,
                   sum(CASE WHEN target = 0 THEN 1 ELSE 0 END) AS q
            FROM base GROUP BY score
        ),
        c AS (
            SELECT score,
                   CAST(sum(p) OVER (ORDER BY score) AS DOUBLE)
                       / CAST(sum(p) OVER () AS DOUBLE) AS f_pos,
                   CAST(sum(q) OVER (ORDER BY score) AS DOUBLE)
                       / CAST(sum(q) OVER () AS DOUBLE) AS f_neg,
                   sum(p) OVER () AS tp, sum(q) OVER () AS tq
            FROM s
        ),
        k AS (
            SELECT score, abs(f_pos - f_neg) AS d, tp, tq,
                   max(abs(f_pos - f_neg)) OVER () AS ks
            FROM c
        )
        SELECT CAST(max(tp) AS BIGINT) AS n_pos,
               CAST(max(tq) AS BIGINT) AS n_neg,
               max(ks) AS ks,
               min(CASE WHEN d = ks THEN score END) AS ks_score
        FROM k
        """
    ),
)
def q_ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov separation of the score distributions of
    positives vs negatives: max ECDF gap over the (round-6) distinct
    score grid, plus the smallest score attaining it. Cumulative
    integer-count ratios end-to-end — every float op is a division
    or subtraction of identical operands both engines, UNROUNDED.
    One hash-agg on distinct scores + DISTRIBUTED cumulative counts
    over that grid (operators/ranking.py, r10 — round-6 scores can
    approach one row per input row, so the old lit(1) ordered window
    was a single-task pass over up to n rows)."""
    from marketdatapipeline_spark.operators.ranking import global_row_number

    b = _scored_bars(spark, sf_dir)
    s = b.groupBy("score").agg(
        F.sum((F.col("target") == 1).cast("int")).alias("p"),
        F.sum((F.col("target") == 0).cast("int")).alias("q"),
    )
    r = global_row_number(
        s, F.col("score"), out_col="_rk",
        cumsum={"_cp": "p", "_cq": "q"},
        cumsum_totals={"tp": "_cp", "tq": "_cq"},
        size_hint=_pq_rows(spark, sf_dir, "events"),
    )
    c = r.select(
        "score", "tp", "tq",
        (
            F.col("_cp").cast("double") / F.col("tp").cast("double")
        ).alias("f_pos"),
        (
            F.col("_cq").cast("double") / F.col("tq").cast("double")
        ).alias("f_neg"),
    )
    kd = c.select(
        "score", "tp", "tq",
        F.abs(F.col("f_pos") - F.col("f_neg")).alias("d"),
    )
    k = kd.crossJoin(F.broadcast(kd.agg(F.max("d").alias("ks"))))
    return k.agg(
        F.max("tp").alias("n_pos"),
        F.max("tq").alias("n_neg"),
        F.max("ks").alias("ks"),
        F.min(F.when(F.col("d") == F.col("ks"), F.col("score"))).alias(
            "ks_score"
        ),
    )


# ---------------------------------------------------------------------------
# r8 wave: market analytics — asymmetric performance ratios, return-
# sign run structure, rolling price extremes, bounded momentum, and
# price/volume confirmation. Each is one window exchange (+ a
# per-symbol agg where the output is per-symbol), decimal power sums
# under every cross-engine float boundary.
# ---------------------------------------------------------------------------


@register_extended(
    "bars_omega_kelly",
    _bars_sql(
        """
        , r AS (
            SELECT symbol,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        g AS (
            SELECT symbol, count(*) AS n_obs,
                   CAST(sum(CAST(CASE WHEN ret > 0 THEN ret ELSE 0.0 END
                                 AS DECIMAL(38,18))) AS DOUBLE) AS sg,
                   CAST(sum(CAST(CASE WHEN ret < 0 THEN -ret ELSE 0.0 END
                                 AS DECIMAL(38,18))) AS DOUBLE) AS sl,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) AS DOUBLE) AS s1,
                   CAST(sum(CAST(ret * ret AS DECIMAL(38,18))) AS DOUBLE)
                       AS s2
            FROM r WHERE ret IS NOT NULL GROUP BY symbol
        )
        SELECT symbol, CAST(n_obs AS BIGINT) AS n_obs,
               CASE WHEN sl > 0 THEN round(sg / sl, 6) + 0.0 END AS omega,
               CASE WHEN n_obs >= 2
                         AND (s2 - s1 * s1 / CAST(n_obs AS DOUBLE))
                             / (CAST(n_obs AS DOUBLE) - 1.0) > 0 THEN
                   round((s1 / CAST(n_obs AS DOUBLE))
                         / ((s2 - s1 * s1 / CAST(n_obs AS DOUBLE))
                            / (CAST(n_obs AS DOUBLE) - 1.0)), 6) + 0.0
               END AS kelly
        FROM g
        """
    ),
)
def q_bars_omega_kelly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Omega ratio (threshold 0: gross gains over gross losses) and
    the Kelly-optimal leverage fraction (mean/variance of simple
    returns) per symbol — the asymmetric-payoff pair next to
    Sharpe/Sortino/Calmar. Gains, losses, and power sums accumulate
    as decimal(38,18); ratios round-6 with null-guarded
    denominators."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    r = bars.select("symbol", ret.alias("_r")).filter(F.col("_r").isNotNull())
    gain = F.when(F.col("_r") > 0, F.col("_r")).otherwise(F.lit(0.0))
    loss = F.when(F.col("_r") < 0, -F.col("_r")).otherwise(F.lit(0.0))
    g = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(gain.cast("decimal(38,18)")).cast("double").alias("_sg"),
        F.sum(loss.cast("decimal(38,18)")).cast("double").alias("_sl"),
        F.sum(F.col("_r").cast("decimal(38,18)")).cast("double").alias("_s1"),
        F.sum((F.col("_r") * F.col("_r")).cast("decimal(38,18)"))
        .cast("double")
        .alias("_s2"),
    )
    n = F.col("n_obs").cast("double")
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / n) / (n - F.lit(1.0))
    omega = F.when(F.col("_sl") > 0, F.col("_sg") / F.col("_sl"))
    kelly = F.when(
        (F.col("n_obs") >= 2) & (var > 0), (F.col("_s1") / n) / var
    )
    return g.select(
        "symbol", "n_obs",
        _r6(omega).alias("omega"),
        _r6(kelly).alias("kelly"),
    )


@register_extended(
    "bars_sign_runs",
    _bars_sql(
        """
        , r AS (
            SELECT symbol, datetime, bar_id,
                   CASE WHEN close > lag(close) OVER w THEN 1
                        WHEN close < lag(close) OVER w THEN -1
                        ELSE 0 END AS dir
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        nz AS (
            SELECT symbol, dir,
                   row_number() OVER (PARTITION BY symbol
                                      ORDER BY datetime, bar_id)
                   - row_number() OVER (PARTITION BY symbol, dir
                                        ORDER BY datetime, bar_id)
                       AS grp
            FROM r WHERE dir <> 0
        ),
        runs AS (
            SELECT symbol, dir, grp, count(*) AS run_len
            FROM nz GROUP BY symbol, dir, grp
        ),
        g AS (
            SELECT symbol,
                   count(*) AS n_runs,
                   CAST(max(CASE WHEN dir = 1 THEN run_len END)
                        AS BIGINT) AS max_up_streak,
                   CAST(max(CASE WHEN dir = -1 THEN run_len END)
                        AS BIGINT) AS max_down_streak,
                   CAST(sum(CASE WHEN dir = 1 THEN run_len
                            ELSE 0 END) AS BIGINT) AS n_up,
                   CAST(sum(CASE WHEN dir = -1 THEN run_len
                            ELSE 0 END) AS BIGINT) AS n_down
            FROM runs GROUP BY symbol
        )
        SELECT symbol, CAST(n_runs AS BIGINT) AS n_runs,
               max_up_streak, max_down_streak, n_up, n_down,
               CASE WHEN n_up > 0 AND n_down > 0 AND (n_up + n_down) > 1
                         AND 2.0 * n_up * n_down
                             * (2.0 * n_up * n_down - n_up - n_down) > 0
               THEN round((CAST(n_runs AS DOUBLE)
                           - (2.0 * n_up * n_down
                              / CAST(n_up + n_down AS DOUBLE) + 1.0))
                          / sqrt(2.0 * n_up * n_down
                                 * (2.0 * n_up * n_down - n_up - n_down)
                                 / (CAST(n_up + n_down AS DOUBLE)
                                    * CAST(n_up + n_down AS DOUBLE)
                                    * (CAST(n_up + n_down AS DOUBLE)
                                       - 1.0))), 6) + 0.0
               END AS runs_z
        FROM g
        """
    ),
)
def q_bars_sign_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-sign run structure per symbol: longest up/down streaks
    (gaps-and-islands via the two-row_number difference) and the
    Wald-Wolfowitz runs-test z-score for randomness of the sign
    sequence (zero returns excluded, the standard convention).
    Integer counts end-to-end; only the final z crosses floats,
    round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    d = F.when(F.col("close") > F.lag("close").over(w), 1).when(
        F.col("close") < F.lag("close").over(w), -1
    ).otherwise(0)
    r = bars.select("symbol", "datetime", "bar_id", d.alias("dir")).filter(
        F.col("dir") != 0
    )
    wsym = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    wdir = W.partitionBy("symbol", "dir").orderBy("datetime", "bar_id")
    nz = r.select(
        "symbol", "dir",
        (F.row_number().over(wsym) - F.row_number().over(wdir)).alias("grp"),
    )
    runs = nz.groupBy("symbol", "dir", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    g = runs.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max(F.when(F.col("dir") == 1, F.col("run_len"))).alias(
            "max_up_streak"
        ),
        F.max(F.when(F.col("dir") == -1, F.col("run_len"))).alias(
            "max_down_streak"
        ),
        F.sum(
            F.when(F.col("dir") == 1, F.col("run_len")).otherwise(F.lit(0))
        ).alias("n_up"),
        F.sum(
            F.when(F.col("dir") == -1, F.col("run_len")).otherwise(F.lit(0))
        ).alias("n_down"),
    )
    nu = F.col("n_up").cast("double")
    nd = F.col("n_down").cast("double")
    two = F.lit(2.0) * nu * nd
    num = two * (two - nu - nd)
    ok = (
        (F.col("n_up") > 0)
        & (F.col("n_down") > 0)
        & ((F.col("n_up") + F.col("n_down")) > 1)
        & (num > 0)
    )
    # ANSI-safe: nn nulls out unless ok, so no division ever sees a
    # zero denominator (nn = 1 would zero the variance denominator)
    nn = F.when(ok, nu + nd)
    z = (F.col("n_runs").cast("double") - (two / nn + F.lit(1.0))) / F.sqrt(
        num / (nn * nn * (nn - F.lit(1.0)))
    )
    return g.select(
        "symbol", "n_runs", "max_up_streak", "max_down_streak",
        "n_up", "n_down",
        _r6(F.when(ok, z)).alias("runs_z"),
    )


@register_extended(
    "bars_price_extremes",
    _bars_sql(
        """
        SELECT symbol, datetime, bar_id, close,
               CASE WHEN n_in >= 252 THEN hi252 END AS high_252,
               CASE WHEN n_in >= 252 THEN lo252 END AS low_252,
               CASE WHEN n_in >= 252 THEN
                   round(close / hi252 - 1.0, 6) + 0.0 END AS pct_from_high,
               CASE WHEN n_in >= 252 THEN
                   round(close / lo252 - 1.0, 6) + 0.0 END AS pct_from_low,
               CASE WHEN n_in >= 252 THEN close >= hi252 END AS is_new_high,
               CASE WHEN n_in >= 252 THEN close <= lo252 END AS is_new_low
        FROM (
            SELECT symbol, datetime, bar_id, close,
                   max(close) OVER t AS hi252,
                   min(close) OVER t AS lo252,
                   count(*) OVER t AS n_in
            FROM bars
            WINDOW t AS (PARTITION BY symbol ORDER BY datetime, bar_id
                         ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)
        )
        """
    ),
)
def q_bars_price_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 252-bar high/low (the 52-week-extreme convention on a
    bar clock): distance from each extreme and new-high/new-low
    flags — breakout and momentum-regime inputs.

    r9 plan: min/max aren't prefix-invertible, so the sliding frame's
    O(n·252) re-aggregation is replaced by the van Herk/Gil-Werman
    block decomposition — blocks of 252 rows, an incremental
    prefix-extreme within each block (asc) and a suffix-extreme
    (desc), and the window extreme is ``extreme(prefix_t,
    suffix_{t-251})`` because a 252-row window spans at most two
    adjacent 252-blocks and those two runs tile it exactly. Selecting
    actual values, not arithmetic — bit-exact vs the direct frame,
    verified exceptAll-empty both ways. hash(symbol) satisfies the
    (symbol, _blk) clustering, so the whole thing is still ONE
    exchange (three chained Window sorts, O(n) aggregate work);
    divisions round-6, warmup masked at 252 observed bars."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    k = 252
    wl = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    b = bars.select(
        "symbol", "datetime", "bar_id", "close",
        F.row_number().over(wl).alias("_rn"),
    ).withColumn("_blk", F.floor((F.col("_rn") - 1) / F.lit(k)))
    wp = (
        W.partitionBy("symbol", "_blk")
        .orderBy("_rn")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ws = (
        W.partitionBy("symbol", "_blk")
        .orderBy(F.col("_rn").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    b = b.withColumns(
        {
            "_pmax": F.max("close").over(wp),
            "_pmin": F.min("close").over(wp),
            "_smax": F.max("close").over(ws),
            "_smin": F.min("close").over(ws),
        }
    ).withColumns(
        {
            "_smax_l": F.lag("_smax", k - 1).over(wl),
            "_smin_l": F.lag("_smin", k - 1).over(wl),
        }
    )
    # warmup rows (rn < k) have a null suffix lag; their window is the
    # block prefix alone. The final mask hides them anyway, but _hi/_lo
    # stay value-correct for every row (exceptAll-pinned).
    s = b.select(
        "symbol", "datetime", "bar_id", "close",
        F.greatest("_pmax", F.coalesce("_smax_l", "_pmax")).alias("_hi"),
        F.least("_pmin", F.coalesce("_smin_l", "_pmin")).alias("_lo"),
        F.least(F.col("_rn"), F.lit(k)).cast("long").alias("_n"),
    )
    full = F.col("_n") >= 252
    return s.select(
        "symbol", "datetime", "bar_id", "close",
        F.when(full, F.col("_hi")).alias("high_252"),
        F.when(full, F.col("_lo")).alias("low_252"),
        _r6(F.when(full, F.col("close") / F.col("_hi") - F.lit(1.0))).alias(
            "pct_from_high"
        ),
        _r6(F.when(full, F.col("close") / F.col("_lo") - F.lit(1.0))).alias(
            "pct_from_low"
        ),
        F.when(full, F.col("close") >= F.col("_hi")).alias("is_new_high"),
        F.when(full, F.col("close") <= F.col("_lo")).alias("is_new_low"),
    )


@register_extended(
    "bars_chande_momentum",
    _bars_sql(
        """
        , d AS (
            SELECT symbol, datetime, bar_id,
                   CAST(round((close - lag(close) OVER w) * 100.0)
                        AS BIGINT) AS diff_c
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        s AS (
            SELECT symbol, datetime, bar_id,
                   sum(CASE WHEN diff_c > 0 THEN diff_c ELSE 0 END)
                       OVER t AS su,
                   sum(CASE WHEN diff_c < 0 THEN -diff_c ELSE 0 END)
                       OVER t AS sd,
                   count(diff_c) OVER t AS n_in
            FROM d
            WINDOW t AS (PARTITION BY symbol ORDER BY datetime, bar_id
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        )
        SELECT symbol, datetime, bar_id,
               CASE WHEN n_in >= 14 AND (su + sd) > 0 THEN
                   round(100.0 * (CAST(su AS DOUBLE) - CAST(sd AS DOUBLE))
                         / (CAST(su AS DOUBLE) + CAST(sd AS DOUBLE)), 6)
                       + 0.0
               END AS cmo_14
        FROM s
        """
    ),
)
def q_bars_chande_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande Momentum Oscillator (14): bounded [-100, 100] momentum
    from rolling gain/loss sums. Close is 2-decimal quantized in the
    fixture, so diffs become EXACT scaled integers and the rolling
    sums never touch floats until the final ratio (round-6, warmup
    masked at 14 diffs). One diff window + one frame window, one
    exchange total (same partitioning)."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    diff_c = F.round(
        (F.col("close") - F.lag("close").over(w)) * F.lit(100.0)
    ).cast("bigint")
    d = bars.select("symbol", "datetime", "bar_id", diff_c.alias("diff_c"))
    t = (
        W.partitionBy("symbol")
        .orderBy("datetime", "bar_id")
        .rowsBetween(-13, 0)
    )
    s = d.select(
        "symbol", "datetime", "bar_id",
        F.sum(
            F.when(F.col("diff_c") > 0, F.col("diff_c")).otherwise(F.lit(0))
        )
        .over(t)
        .alias("su"),
        F.sum(
            F.when(F.col("diff_c") < 0, -F.col("diff_c")).otherwise(F.lit(0))
        )
        .over(t)
        .alias("sd"),
        F.count("diff_c").over(t).alias("n_in"),
    )
    ok = (F.col("n_in") >= 14) & ((F.col("su") + F.col("sd")) > 0)
    cmo = (
        F.lit(100.0)
        * (F.col("su").cast("double") - F.col("sd").cast("double"))
        / F.when(
            (F.col("su") + F.col("sd")) > 0,
            F.col("su").cast("double") + F.col("sd").cast("double"),
        )
    )
    return s.select(
        "symbol", "datetime", "bar_id",
        _r6(F.when(ok, cmo)).alias("cmo_14"),
    )


@register_extended(
    "bars_price_volume_corr",
    _bars_sql(
        """
        , r AS (
            SELECT symbol,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret,
                   volume
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        g AS (
            SELECT symbol, count(*) AS n_obs,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(ret * ret AS DECIMAL(38,18))) AS DOUBLE)
                       AS sxx,
                   CAST(sum(CAST(volume AS DECIMAL(28,10))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(volume * volume AS DECIMAL(28,10)))
                        AS DOUBLE) AS syy,
                   CAST(sum(CAST(ret * volume AS DECIMAL(38,14)))
                        AS DOUBLE) AS sxy
            FROM r WHERE ret IS NOT NULL GROUP BY symbol
        )
        SELECT symbol, CAST(n_obs AS BIGINT) AS n_obs,
               CASE WHEN n_obs >= 2
                         AND (sxx - sx * sx / CAST(n_obs AS DOUBLE)) > 0
                         AND (syy - sy * sy / CAST(n_obs AS DOUBLE)) > 0
               THEN round((sxy - sx * sy / CAST(n_obs AS DOUBLE))
                          / sqrt((sxx - sx * sx / CAST(n_obs AS DOUBLE))
                                 * (syy - sy * sy / CAST(n_obs AS DOUBLE))),
                          6) + 0.0
               END AS ret_volume_corr
        FROM g
        """
    ),
)
def q_bars_price_volume_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol Pearson correlation between simple returns and
    volume — the volume-confirms-price diagnostic completing the
    correlation family (pairwise/rolling/lead-lag are return-return).
    Co-moment sums accumulate as decimals (exact), one window + one
    agg on the window's partitioning; final ratio round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    r = bars.select(
        "symbol", ret.alias("_x"), F.col("volume").alias("_y")
    ).filter(F.col("_x").isNotNull())
    g = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("_x").cast("decimal(38,18)")).cast("double").alias("sx"),
        F.sum((F.col("_x") * F.col("_x")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("_y").cast("decimal(28,10)")).cast("double").alias("sy"),
        F.sum((F.col("_y") * F.col("_y")).cast("decimal(28,10)"))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("_x") * F.col("_y")).cast("decimal(38,14)"))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n_obs").cast("double")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    ok = (F.col("n_obs") >= 2) & (vx > 0) & (vy > 0)
    corr = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / F.sqrt(vx * vy)
    return g.select(
        "symbol", "n_obs",
        _r6(F.when(ok, corr)).alias("ret_volume_corr"),
    )


# ---------------------------------------------------------------------------
# r8 wave: corpus-curation depth — truncation-duplicate detection by
# prefix hash, robust (MAD) length outliers, sentence-level shape
# stats, and per-source distribution drift (Jensen-Shannon) for
# data-mixture monitoring. Tokens/prefixes are hashed to bigints
# BEFORE any shuffle (the repo's no-text-in-exchanges rule).
# ---------------------------------------------------------------------------


@register_extended(
    "dedup_prefix_groups",
    f"""
    WITH k AS (
        SELECT doc_id,
               {_H_SQL.format(x="substr(text, 1, 200)")} AS prefix_key
        FROM documents
    ),
    g AS (
        SELECT prefix_key, count(*) AS group_size,
               min(doc_id) AS keeper_id
        FROM k GROUP BY prefix_key HAVING count(*) > 1
    )
    SELECT k.doc_id, k.prefix_key, CAST(g.group_size AS BIGINT)
               AS group_size,
           g.keeper_id, k.doc_id = g.keeper_id AS is_keeper
    FROM k JOIN g USING (prefix_key)
    """,
)
def q_dedup_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-hash duplicate groups: documents sharing their first
    200 characters (truncation/re-crawl duplicates that full-hash
    exact dedup misses and shingle dedup over-pays for). The 32-bit
    md5 prefix key is a bigint BEFORE the shuffle; keep-min-id keeper
    per group, groups of one suppressed. One hash-agg + one
    self-equi-join on the key."""
    from marketdatapipeline_spark.textops.dedup import md5_int

    docs = _docs(spark, sf_dir)
    k = docs.select(
        "doc_id",
        md5_int(F.substring("text", 1, 200)).alias("prefix_key"),
    )
    g = (
        k.groupBy("prefix_key")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("group_size") > 1)
    )
    return k.join(g, "prefix_key").select(
        "doc_id", "prefix_key", "group_size", "keeper_id",
        (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
    )


@register_extended(
    "corpus_length_outliers",
    """
    WITH med AS (
        SELECT source,
               quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med_len
        FROM documents GROUP BY source
    ),
    mad AS (
        SELECT d.source,
               quantile_cont(abs(CAST(d.n_chars AS DOUBLE) - m.med_len),
                             0.5) AS mad_len
        FROM documents d JOIN med m USING (source)
        GROUP BY d.source
    )
    SELECT d.doc_id, d.source, d.n_chars, m.med_len, a.mad_len,
           CASE WHEN a.mad_len > 0 THEN
               0.6745 * (CAST(d.n_chars AS DOUBLE) - m.med_len)
                   / a.mad_len
           END AS robust_z,
           CASE WHEN a.mad_len > 0 THEN
               abs(0.6745 * (CAST(d.n_chars AS DOUBLE) - m.med_len)
                   / a.mad_len) > 3.5
           ELSE FALSE END AS is_outlier
    FROM documents d
    JOIN med m USING (source)
    JOIN mad a USING (source)
    """,
)
def q_corpus_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier screen: modified z-score via
    median + MAD (Iglewicz-Hoaglin 0.6745/3.5 convention) — unlike
    mean/std screens, one giant boilerplate page cannot drag the
    threshold. Two exact interpolated percentiles (per-source agg,
    tiny), broadcast back onto the scan; z emits UNROUNDED (exact
    half-integer med/mad make the chain bit-identical both engines)."""
    from marketdatapipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    nchars = F.col("n_chars").cast("double")
    med = docs.groupBy("source").agg(
        F.percentile(nchars, F.lit(0.5)).alias("med_len")
    )
    mad = (
        docs.join(F.broadcast(med), "source")
        .groupBy("source")
        .agg(
            F.percentile(
                F.abs(nchars - F.col("med_len")), F.lit(0.5)
            ).alias("mad_len")
        )
    )
    j = docs.join(F.broadcast(med), "source").join(
        F.broadcast(mad), "source"
    )
    z = F.lit(0.6745) * (nchars - F.col("med_len")) / F.when(
        F.col("mad_len") > 0, F.col("mad_len")
    )
    # UNROUNDED: med/mad of integer lengths are exact half-integers,
    # so the whole z chain is bit-identical across engines — round-6
    # would ADD tie divergence (observed at sf0.1), not remove it.
    return j.select(
        "doc_id", "source", "n_chars", "med_len", "mad_len",
        z.alias("robust_z"),
        F.when(F.col("mad_len") > 0, F.abs(z) > 3.5)
        .otherwise(F.lit(False))
        .alias("is_outlier"),
    )


@register_extended(
    "corpus_sentence_stats",
    r"""
    WITH s AS (
        SELECT doc_id, trim(sent) AS sent
        FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(text, '[.!?]+')) AS sent
            FROM documents
        )
        WHERE trim(sent) <> ''
    ),
    sw AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(sent, '\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_words
        FROM s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_words) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS mean_sentence_words,
           CAST(max(n_words) AS BIGINT) AS max_sentence_words,
           CAST(sum(CASE WHEN n_words < 4 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS short_sentence_frac
    FROM sw GROUP BY doc_id
    """,
)
def q_corpus_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-shape profile per document: sentence count, mean/max
    words per sentence, and the short-sentence fraction (<4 words —
    a menu/listing fingerprint). Terminator split on [.!?]+, empty
    segments dropped. Narrow explode, integer sums, integer-ratio
    divisions UNROUNDED. Stats aggregate back by doc_id on the scan's
    own key."""
    docs = _docs(spark, sf_dir)
    s = docs.select(
        "doc_id",
        F.explode(F.split("text", r"[.!?]+")).alias("sent"),
    ).filter(F.trim("sent") != "")
    words = F.filter(
        F.split(F.col("sent"), r"\s+"), lambda x: x != ""
    )
    sw = s.select("doc_id", F.size(words).cast("bigint").alias("n_words"))
    g = sw.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum("n_words").alias("n_words"),
        F.max("n_words").alias("max_sentence_words"),
        F.sum(F.when(F.col("n_words") < 4, 1).otherwise(0)).alias("_short"),
    )
    return g.select(
        "doc_id", "n_sentences", "n_words",
        (
            F.col("n_words").cast("double")
            / F.col("n_sentences").cast("double")
        ).alias("mean_sentence_words"),
        "max_sentence_words",
        (
            F.col("_short").cast("double")
            / F.col("n_sentences").cast("double")
        ).alias("short_sentence_frac"),
    )


@register_extended(
    "corpus_source_js_divergence",
    rf"""
    WITH tok AS (
        SELECT source, {_H_SQL.format(x="t")} AS h
        FROM (
            SELECT source,
                   unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x <> '')) AS t
            FROM documents
        )
    ),
    sc AS (SELECT source, h, count(*) AS c FROM tok GROUP BY source, h),
    st AS (SELECT source, sum(c) AS tot_s FROM sc GROUP BY source),
    cc AS (SELECT h, sum(c) AS c_corpus FROM sc GROUP BY h),
    ct AS (SELECT sum(c) AS tot_c FROM sc),
    grid AS (
        SELECT s.source, v.h, s.tot_s, v.c_corpus, ct.tot_c,
               coalesce(x.c, 0) AS c_source
        FROM st s CROSS JOIN cc v CROSS JOIN ct
        LEFT JOIN sc x ON x.source = s.source AND x.h = v.h
    ),
    terms AS (
        SELECT source,
               CAST(c_source AS DOUBLE) / CAST(tot_s AS DOUBLE) AS p,
               CAST(c_corpus AS DOUBLE) / CAST(tot_c AS DOUBLE) AS q
        FROM grid
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(count(CASE WHEN p > 0 THEN 1 END) AS BIGINT)
               AS n_terms_source,
           round(CAST(sum(CAST(
                     0.5 * CASE WHEN p > 0
                           THEN p * log2(p / ((p + q) / 2.0)) ELSE 0.0 END
                   + 0.5 * q * log2(q / ((p + q) / 2.0))
                     AS DECIMAL(28,14))) AS DOUBLE), 6) + 0.0 AS jsd
    FROM terms GROUP BY source
    """,
)
def q_corpus_source_js_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data-mixture drift monitor: Jensen-Shannon divergence between
    each source's unigram distribution and the whole corpus — the
    number that says 'this crawl slice reads differently'. Tokens
    hash to bigints BEFORE the shuffle; the source x vocab grid is a
    broadcast cross join of two aggregates (sources are few); plogp
    terms quantize to decimal(28,14) under the sum so libm log2
    one-ulp spread can't leak into the total; round-6."""
    from marketdatapipeline_spark.textops.dedup import md5_int

    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("t"),
    ).select("source", md5_int(F.col("t")).alias("h"))
    sc = tok.groupBy("source", "h").agg(F.count(F.lit(1)).alias("c"))
    sc = scoped_persist(sc)
    st = sc.groupBy("source").agg(F.sum("c").alias("tot_s"))
    cc = sc.groupBy("h").agg(F.sum("c").alias("c_corpus"))
    ct = sc.agg(F.sum("c").alias("tot_c"))
    grid = (
        F.broadcast(st)
        .crossJoin(cc)
        .crossJoin(F.broadcast(ct))
        .join(sc.withColumnRenamed("c", "c_source"), ["source", "h"], "left")
        .na.fill({"c_source": 0})
    )
    p = F.col("c_source").cast("double") / F.col("tot_s").cast("double")
    q = F.col("c_corpus").cast("double") / F.col("tot_c").cast("double")
    m = (p + q) / F.lit(2.0)
    term = F.lit(0.5) * F.when(
        F.col("c_source") > 0, p * F.log2(p / m)
    ).otherwise(F.lit(0.0)) + F.lit(0.5) * q * F.log2(q / m)
    g = grid.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.count(F.when(F.col("c_source") > 0, 1)).alias("n_terms_source"),
        F.sum(term.cast("decimal(28,14)")).cast("double").alias("_jsd"),
    )
    return g.select(
        "source", "n_terms", "n_terms_source", _r6(F.col("_jsd")).alias("jsd")
    )


# ---------------------------------------------------------------------------
# r8 wave: TPC-H classics, second set — the multi-dim star join (Q5),
# the left-join frequency histogram (Q13), the aggregate-then-argmax
# pattern (Q15), and the correlated per-group-average filter (Q17).
# ---------------------------------------------------------------------------


@register_extended(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n.n_name,
           round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                              AS DECIMAL(28,10))) AS DOUBLE), 6) + 0.0
               AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = (SELECT min(r_name) FROM region)
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_tpch_q5_local_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q5 adapted (local supplier volume): the six-table star
    join with the supplier-nation = customer-nation co-location
    predicate. The region pick is data-derived (min r_name) so the
    query is fixture-agnostic. r12 static dim folding: region (5
    rows) and nation (spec-bounded 25 rows) collect to driver
    literals — the legal bounded-manifest shape — so the big join
    tree carries a literal ``isin`` nation filter and a literal
    nationkey→name map instead of two nested broadcast-join builds
    (each an AQE stage job; this query's sf0.1 cost was ~17 job
    launches, not data). Customer and supplier stay broadcast joins;
    lineitem is scanned once. The 25-group-max final sort runs inside
    one task (coalesce(1)) instead of paying a range-partitioning
    sampling job. Revenue decimal-exact, round-6 at double's
    1e-8-ulp magnitudes."""
    from marketdatapipeline_spark.sources.tables import load_table

    # two bare-scan collects (one job each, no agg/join stages); the
    # min-region pick and the region->nation restriction are pure
    # Python over the 5- and 25-row dims
    region_rows = (
        load_table(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .collect()
    )
    rmin = min((r["r_name"] for r in region_rows), default=None)
    rkeys = {r["r_regionkey"] for r in region_rows if r["r_name"] == rmin}
    nation_rows = [
        r
        for r in load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
        if r["n_regionkey"] in rkeys
    ]
    nkeys = [r["n_nationkey"] for r in nation_rows]
    name_map = (
        F.create_map(
            *[
                F.lit(x)
                for r in sorted(nation_rows)
                for x in (r["n_nationkey"], r["n_name"])
            ]
        )
        if nation_rows
        else F.create_map(F.lit(0), F.lit(None).cast("string"))
    )
    supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey").isin(nkeys)
    )
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(nkeys)
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .withColumn("n_name", name_map[F.col("s_nationkey")])
    )
    g = j.groupBy("n_name").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(28,10)")
        )
        .cast("double")
        .alias("_rev"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return (
        g.select("n_name", _r6(F.col("_rev")).alias("revenue"), "n_lines")
        .coalesce(1)
        .sortWithinPartitions(F.desc("revenue"), "n_name")
    )


@register_extended(
    "tpch_q13_customer_distribution",
    """
    WITH pc AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM pc GROUP BY c_count
    """,
)
def q_tpch_q13_customer_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 adapted (customer order-count distribution): the
    left-join histogram — zero-order customers MUST appear (the
    classic inner-join bug this query exists to catch). count(key)
    over the null-extended side, then a second tiny agg."""
    from marketdatapipeline_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey"
    )
    pc = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return pc.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register_extended(
    "tpch_q15_top_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                                  AS DECIMAL(28,10))) AS DOUBLE), 6) + 0.0
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-07-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 adapted (top supplier): aggregate per supplier over
    a half-year shipdate slice, then keep the max-revenue row(s) —
    the aggregate-then-argmax pattern (the reference view restated
    as a self-agg filter). Revenue round-6 BEFORE the max compare so
    both engines rank identical values; supplier is a broadcast
    dim."""
    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(28,10)")
        )
        .cast("double")
        .alias("_rev")
    )
    rev = rev.select(
        "supplier_no", _r6(F.col("_rev")).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("_mx"))
        .join(F.broadcast(supp), rev.supplier_no == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register_extended(
    "tpch_q17_small_quantity_revenue",
    """
    WITH avgq AS (
        SELECT l_partkey, 0.2 * (CAST(sum(CAST(l_quantity
                                              AS DECIMAL(28,10)))
                                      AS DOUBLE)
                                 / CAST(count(*) AS DOUBLE)) AS lim
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,10)))
                 AS DOUBLE) / 7.0, 6) + 0.0 AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN avgq a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = (SELECT min(p_brand) FROM part)
      AND l.l_quantity < a.lim
    """,
)
def q_tpch_q17_small_quantity_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q17 adapted (small-quantity-order revenue): the
    correlated per-part average-quantity filter, decorrelated into a
    self-aggregate join (exactly what a 100 TB plan needs — one
    partial agg over the fact, broadcast back, never a per-row
    subquery). Quantities integral; the 0.2*avg limit is a fixed op
    sequence both engines; brand pick data-derived."""
    from marketdatapipeline_spark.sources.tables import load_table

    from marketdatapipeline_spark.caching import scoped_persist

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # brand pick as a 1-row scalar probe (the q5 pattern, r12); the
    # brand's partkey set scales with SF so it STAYS a broadcast join
    brand = part.agg(F.min("p_brand")).collect()[0][0]
    p = part.filter(F.col("p_brand") == F.lit(brand)).select("p_partkey")
    # restrict the fact FIRST: the limit is per-part, and the brand
    # filter is part-level, so per-part averages over the filtered
    # rows are identical for every surviving part — the old full-fact
    # avg aggregated 25x more rows than the query can use. One scan:
    # the filtered slice persists and feeds both the limit agg and
    # the final filter.
    li_b = scoped_persist(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
            "l_partkey", "l_quantity", "l_extendedprice"
        )
    )
    avgq = li_b.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(28,10)")).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double")
            )
        ).alias("lim")
    )
    # no broadcast hint on avgq: it is tiny at catalog scale (AQE
    # converts to broadcast at runtime) but scales with SF — a forced
    # broadcast would be wrong at 100 TB
    j = li_b.join(avgq, "l_partkey").filter(
        F.col("l_quantity") < F.col("lim")
    )
    return j.agg(
        _r6(
            F.sum(F.col("l_extendedprice").cast("decimal(28,10)")).cast(
                "double"
            )
            / F.lit(7.0)
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# r8 wave: embedding-space health, cross-sectional market breadth, and
# information-theoretic feature value.
# ---------------------------------------------------------------------------


@register_extended(
    "embeddings_dimension_stats",
    """
    WITH e AS (
        SELECT unnest(generate_series(1, len(embedding))) AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    g AS (
        SELECT dim, count(*) AS n_obs,
               CAST(sum(CAST(x AS DECIMAL(28,14))) AS DOUBLE) AS s1,
               CAST(sum(CAST(x * x AS DECIMAL(28,16))) AS DOUBLE) AS s2,
               min(x) AS min_v, max(x) AS max_v,
               CAST(sum(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero
        FROM e GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, CAST(n_obs AS BIGINT) AS n_obs,
           round(s1 / CAST(n_obs AS DOUBLE), 6) + 0.0 AS mean_v,
           CASE WHEN n_obs >= 2
                     AND (s2 - s1 * s1 / CAST(n_obs AS DOUBLE))
                         / (CAST(n_obs AS DOUBLE) - 1.0) > 0 THEN
               round(sqrt((s2 - s1 * s1 / CAST(n_obs AS DOUBLE))
                          / (CAST(n_obs AS DOUBLE) - 1.0)), 6) + 0.0
           END AS std_v,
           min_v, max_v, n_zero
    FROM g
    """,
)
def q_embeddings_dimension_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension embedding health: mean/std/min/max/zero-count
    for each of the 64 coordinates — the dead-dimension and
    scale-imbalance audit run before any ANN index is trusted.
    posexplode → one hash-agg keyed by dim (64 groups regardless of
    corpus size, map-side combinable); float32 coords widen to
    double identically both engines; decimal power sums, round-6."""
    emb = _emb(spark, sf_dir).filter(F.col("embedding").isNotNull())
    e = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        )
    ).select((F.col("pos") + 1).cast("bigint").alias("dim"), "x")
    g = e.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("x").cast("decimal(28,14)")).cast("double").alias("s1"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,16)"))
        .cast("double")
        .alias("s2"),
        F.min("x").alias("min_v"),
        F.max("x").alias("max_v"),
        F.sum(F.when(F.col("x") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
    n = F.col("n_obs").cast("double")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - F.lit(1.0))
    return g.select(
        "dim", "n_obs",
        _r6(F.col("s1") / n).alias("mean_v"),
        _r6(F.when((F.col("n_obs") >= 2) & (var > 0), F.sqrt(var))).alias(
            "std_v"
        ),
        "min_v", "max_v", "n_zero",
    )


@register_extended(
    "bars_advance_decline",
    _bars_sql(
        """
        , d AS (
            SELECT date_trunc('hour', datetime) AS hour,
                   CASE WHEN close > lag(close) OVER w THEN 1
                        WHEN close < lag(close) OVER w THEN -1
                        ELSE 0 END AS dir
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        h AS (
            SELECT hour,
                   CAST(sum(CASE WHEN dir = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_adv,
                   CAST(sum(CASE WHEN dir = -1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dec
            FROM d WHERE dir IS NOT NULL GROUP BY hour
        )
        SELECT hour, n_adv, n_dec,
               CASE WHEN n_dec > 0 THEN
                   CAST(n_adv AS DOUBLE) / CAST(n_dec AS DOUBLE)
               END AS ad_ratio,
               CAST(sum(n_adv - n_dec) OVER (ORDER BY hour) AS BIGINT)
                   AS ad_line
        FROM h
        """
    ),
)
def q_bars_advance_decline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly advance/decline market breadth: advancing vs declining
    bar counts across all symbols, their ratio, and the cumulative
    A/D line — the cross-sectional confirmation indicator for
    index-level moves. Per-symbol direction window, then a tiny
    hour-keyed agg and one ordered window over ~hundreds of hourly
    rows. Integer ratio UNROUNDED."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    d = bars.select(
        F.date_trunc("hour", "datetime").alias("hour"),
        F.when(F.col("close") > F.lag("close").over(w), 1)
        .when(F.col("close") < F.lag("close").over(w), -1)
        .otherwise(0)
        .alias("dir"),
    ).filter(F.col("dir").isNotNull())
    h = d.groupBy("hour").agg(
        F.sum(F.when(F.col("dir") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_adv"),
        F.sum(F.when(F.col("dir") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dec"),
    )
    cum = W.partitionBy(F.lit(1)).orderBy("hour")
    return h.select(
        "hour", "n_adv", "n_dec",
        F.when(
            F.col("n_dec") > 0,
            F.col("n_adv").cast("double") / F.col("n_dec").cast("double"),
        ).alias("ad_ratio"),
        F.sum(F.col("n_adv") - F.col("n_dec"))
        .over(cum)
        .cast("bigint")
        .alias("ad_line"),
    )


@register_extended(
    "ml_mutual_information",
    _bars_sql(
        _SCORE_CTE
        + """
        , r AS (
            SELECT target,
                   CAST(floor(((row_number() OVER (
                       ORDER BY score DESC, symbol, datetime, bar_id
                   ) - 1) * 10.0) / (count(*) OVER ())) AS INT) + 1
                       AS bin
            FROM base
        ),
        j AS (SELECT bin, target, count(*) AS c FROM r GROUP BY bin, target),
        t AS (SELECT sum(c) AS n FROM j),
        mx AS (SELECT bin, sum(c) AS cx FROM j GROUP BY bin),
        my AS (SELECT target, sum(c) AS cy FROM j GROUP BY target),
        mi AS (
            SELECT CAST(sum(CAST(
                       (CAST(c AS DOUBLE) / n)
                       * log2((CAST(c AS DOUBLE) * n)
                              / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
                       AS DECIMAL(28,14))) AS DOUBLE) AS mi_v
            FROM j JOIN mx USING (bin) JOIN my USING (target)
            CROSS JOIN t
        ),
        hy AS (
            SELECT CAST(sum(CAST(
                       -(CAST(cy AS DOUBLE) / n)
                       * log2(CAST(cy AS DOUBLE) / n)
                       AS DECIMAL(28,14))) AS DOUBLE) AS h_label
            FROM my CROSS JOIN t
        )
        SELECT CAST(t.n AS BIGINT) AS n_obs,
               round(mi.mi_v, 6) + 0.0 AS mi,
               round(hy.h_label, 6) + 0.0 AS h_label,
               CASE WHEN hy.h_label > 0 THEN
                   round(mi.mi_v / hy.h_label, 6) + 0.0
               END AS mi_ratio
        FROM t CROSS JOIN mi CROSS JOIN hy
        """
    ),
)
def q_ml_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between the decile-binned score and the
    binary label, with the label entropy and the MI/H(Y) uncertainty
    coefficient — the model-free 'is there any signal' number next
    to AUC/KS. Joint and marginal counts are exact integers off one
    DISTRIBUTED rank (operators/ranking.py, r10 — no single-task
    window) + one 20-cell agg; plogp terms decimal-quantized,
    round-6."""
    from marketdatapipeline_spark.operators.ranking import global_row_number

    b = _scored_bars(spark, sf_dir)
    rr = global_row_number(
        b.select("target", "score", "symbol", "datetime", "bar_id"),
        F.desc("score"), F.col("symbol"), F.col("datetime"), F.col("bar_id"),
        out_col="_rn", total_col="_n",
        size_hint=_pq_rows(spark, sf_dir, "events"),
    )
    r = rr.select(
        "target",
        (
            F.floor(((F.col("_rn") - 1) * F.lit(10.0)) / F.col("_n")).cast(
                "int"
            )
            + 1
        ).alias("bin"),
    )
    j = r.groupBy("bin", "target").agg(F.count(F.lit(1)).alias("c"))
    j = scoped_persist(j)
    n_col = j.agg(F.sum("c").alias("n"))
    mx = j.groupBy("bin").agg(F.sum("c").alias("cx"))
    my = j.groupBy("target").agg(F.sum("c").alias("cy"))
    full = (
        j.join(F.broadcast(mx), "bin")
        .join(F.broadcast(my), "target")
        .crossJoin(F.broadcast(n_col))
    )
    nd = F.col("n").cast("double")
    term = (F.col("c").cast("double") / nd) * F.log2(
        (F.col("c").cast("double") * nd)
        / (F.col("cx").cast("double") * F.col("cy").cast("double"))
    )
    mi = full.agg(
        F.max("n").alias("n_obs"),
        F.sum(term.cast("decimal(28,14)")).cast("double").alias("_mi"),
    )
    hterm = -(F.col("cy").cast("double") / nd) * F.log2(
        F.col("cy").cast("double") / nd
    )
    hy = (
        my.crossJoin(F.broadcast(n_col))
        .agg(F.sum(hterm.cast("decimal(28,14)")).cast("double").alias("_hy"))
    )
    out = mi.crossJoin(F.broadcast(hy))
    return out.select(
        "n_obs",
        _r6(F.col("_mi")).alias("mi"),
        _r6(F.col("_hy")).alias("h_label"),
        _r6(
            F.when(F.col("_hy") > 0, F.col("_mi") / F.col("_hy"))
        ).alias("mi_ratio"),
    )


# ---------------------------------------------------------------------------
# r8 wave: calendar-effect inference, conversion latency, and
# per-source duplication observability.
# ---------------------------------------------------------------------------


@register_extended(
    "bars_dow_effect",
    _bars_sql(
        """
        , r AS (
            SELECT symbol, isodow(datetime) AS dow,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        g AS (
            SELECT dow, count(*) AS n_obs,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) AS DOUBLE) AS s1,
                   CAST(sum(CAST(ret * ret AS DECIMAL(38,18))) AS DOUBLE)
                       AS s2
            FROM r WHERE ret IS NOT NULL GROUP BY dow
        )
        SELECT CAST(dow AS INT) AS dow, CAST(n_obs AS BIGINT) AS n_obs,
               round(s1 / CAST(n_obs AS DOUBLE), 6) + 0.0 AS mean_ret,
               CASE WHEN n_obs >= 2
                         AND (s2 - s1 * s1 / CAST(n_obs AS DOUBLE))
                             / (CAST(n_obs AS DOUBLE) - 1.0) > 0 THEN
                   round(sqrt((s2 - s1 * s1 / CAST(n_obs AS DOUBLE))
                              / (CAST(n_obs AS DOUBLE) - 1.0)), 6) + 0.0
               END AS std_ret,
               CASE WHEN n_obs >= 2
                         AND (s2 - s1 * s1 / CAST(n_obs AS DOUBLE))
                             / (CAST(n_obs AS DOUBLE) - 1.0) > 0 THEN
                   round((s1 / CAST(n_obs AS DOUBLE))
                         / (sqrt((s2 - s1 * s1 / CAST(n_obs AS DOUBLE))
                                 / (CAST(n_obs AS DOUBLE) - 1.0))
                            / sqrt(CAST(n_obs AS DOUBLE))), 6) + 0.0
               END AS t_stat
        FROM g
        """
    ),
)
def q_bars_dow_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week return effect with one-sample t-statistics (ISO
    day numbering, Monday=1): the calendar-anomaly test next to the
    hour-of-day seasonality profile. Decimal power sums; t =
    mean/(std/sqrt(n)) round-6 with the var>0 guard both sides."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    r = bars.select(
        (F.weekday("datetime") + F.lit(1)).cast("int").alias("dow"),
        ret.alias("_r"),
    ).filter(F.col("_r").isNotNull())
    g = r.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("_r").cast("decimal(38,18)")).cast("double").alias("s1"),
        F.sum((F.col("_r") * F.col("_r")).cast("decimal(38,18)"))
        .cast("double")
        .alias("s2"),
    )
    n = F.col("n_obs").cast("double")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - F.lit(1.0))
    ok = (F.col("n_obs") >= 2) & (var > 0)
    mean = F.col("s1") / n
    t = mean / (F.sqrt(F.when(var > 0, var)) / F.sqrt(n))
    return g.select(
        "dow", "n_obs",
        _r6(mean).alias("mean_ret"),
        _r6(F.when(ok, F.sqrt(var))).alias("std_ret"),
        _r6(F.when(ok, t)).alias("t_stat"),
    )


@register_extended(
    "events_conversion_latency",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS first_purchase
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= v.first_view
        GROUP BY e.user_id
    ),
    lat AS (
        SELECT v.user_id,
               CAST(epoch_us(p.first_purchase) - epoch_us(v.first_view)
                    AS DOUBLE) / 1e6 AS latency_s
        FROM v JOIN p USING (user_id)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewers,
           CAST(count(*) AS BIGINT) AS n_converted,
           CAST(count(*) AS DOUBLE)
               / (SELECT CAST(count(*) AS DOUBLE) FROM v) AS conv_rate,
           quantile_cont(latency_s, 0.5) AS median_latency_s,
           quantile_cont(latency_s, 0.9) AS p90_latency_s,
           round(CAST(sum(CAST(latency_s AS DECIMAL(28,10))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_latency_s
    FROM lat
    """,
)
def q_events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-to-purchase conversion latency: first view per user,
    first purchase at-or-after it, and the latency distribution
    (exact interpolated median/p90, decimal-sum mean) plus the
    conversion rate — the time-to-value funnel summary. Two
    min-aggs + one join on user_id; microsecond-exact epoch math
    gives bit-identical latencies, UNROUNDED."""
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lat = v.join(p, "user_id").select(
        (
            (
                # ts is TIMESTAMP_NTZ; the cast shifts both ends by the
                # same session offset, so the difference is exact
                F.unix_micros(F.col("first_purchase").cast("timestamp"))
                - F.unix_micros(F.col("first_view").cast("timestamp"))
            ).cast("double")
            / F.lit(1e6)
        ).alias("latency_s")
    )
    nv = v.agg(
        F.count(F.lit(1)).alias("n_viewers")
    )
    g = lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.percentile(F.col("latency_s"), F.lit(0.5)).alias(
            "median_latency_s"
        ),
        F.percentile(F.col("latency_s"), F.lit(0.9)).alias("p90_latency_s"),
        F.sum(F.col("latency_s").cast("decimal(28,10)"))
        .cast("double")
        .alias("_sum"),
    )
    out = g.crossJoin(F.broadcast(nv))
    return out.select(
        "n_viewers", "n_converted",
        (
            F.col("n_converted").cast("double")
            / F.col("n_viewers").cast("double")
        ).alias("conv_rate"),
        "median_latency_s", "p90_latency_s",
        # round-6 (= the data's microsecond precision): the decimal
        # sum's double conversion is 1-ulp noisy at sf0.1 volume
        _r6(F.col("_sum") / F.col("n_converted").cast("double")).alias(
            "mean_latency_s"
        ),
    )


@register_extended(
    "dedup_rate_by_source",
    f"""
    WITH k AS (
        SELECT doc_id, source,
               {_H_SQL.format(x="text")} AS full_key,
               {_H_SQL.format(x="substr(text, 1, 200)")} AS prefix_key
        FROM documents
    ),
    fg AS (
        SELECT full_key, count(*) AS c, min(doc_id) AS keeper
        FROM k GROUP BY full_key
    ),
    pg AS (
        SELECT prefix_key, count(*) AS c, min(doc_id) AS keeper
        FROM k GROUP BY prefix_key
    )
    SELECT k.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN fg.c > 1 AND k.doc_id <> fg.keeper
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
           CAST(sum(CASE WHEN pg.c > 1 AND k.doc_id <> pg.keeper
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_prefix_dup,
           CAST(sum(CASE WHEN fg.c > 1 AND k.doc_id <> fg.keeper
                    THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS exact_dup_rate,
           CAST(sum(CASE WHEN pg.c > 1 AND k.doc_id <> pg.keeper
                    THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS prefix_dup_rate
    FROM k
    JOIN fg USING (full_key)
    JOIN pg USING (prefix_key)
    GROUP BY k.source
    """,
)
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication observability: exact (full-text hash) and prefix
    (first 200 chars) duplicate rates per source — the per-crawl
    contamination dashboard that decides which feed needs upstream
    fixing. Keep-min-id keepers don't count as duplicates. Bigint
    keys pre-shuffle; two hash-aggs + two equi-joins; integer
    ratios UNROUNDED."""
    from marketdatapipeline_spark.textops.dedup import md5_int

    docs = _docs(spark, sf_dir)
    k = docs.select(
        "doc_id", "source",
        md5_int(F.col("text")).alias("full_key"),
        md5_int(F.substring("text", 1, 200)).alias("prefix_key"),
    )
    fg = k.groupBy("full_key").agg(
        F.count(F.lit(1)).alias("fc"), F.min("doc_id").alias("fkeeper")
    )
    pg = k.groupBy("prefix_key").agg(
        F.count(F.lit(1)).alias("pc"), F.min("doc_id").alias("pkeeper")
    )
    j = k.join(fg, "full_key").join(pg, "prefix_key")
    is_fd = F.when(
        (F.col("fc") > 1) & (F.col("doc_id") != F.col("fkeeper")), 1
    ).otherwise(0)
    is_pd = F.when(
        (F.col("pc") > 1) & (F.col("doc_id") != F.col("pkeeper")), 1
    ).otherwise(0)
    g = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(is_fd).alias("n_exact_dup"),
        F.sum(is_pd).alias("n_prefix_dup"),
    )
    return g.select(
        "source", "n_docs", "n_exact_dup", "n_prefix_dup",
        (
            F.col("n_exact_dup").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("exact_dup_rate"),
        (
            F.col("n_prefix_dup").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("prefix_dup_rate"),
    )


# ---------------------------------------------------------------------------
# r8 wave: rank-robust dependence (Spearman with exact average ranks),
# second-order volatility (vol-of-vol on quantized first-level
# windows), and temporal burstiness of user activity.
# ---------------------------------------------------------------------------


@register_extended(
    "bars_spearman_ret_volume",
    _bars_sql(
        """
        , r AS (
            SELECT symbol,
                   abs((close - lag(close) OVER w) / lag(close) OVER w)
                       AS aret,
                   volume
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        nn AS (SELECT symbol, aret, volume FROM r WHERE aret IS NOT NULL),
        rk AS (
            SELECT symbol,
                   rank() OVER (PARTITION BY symbol ORDER BY aret)
                       + (count(*) OVER (PARTITION BY symbol, aret) - 1)
                         / 2.0 AS rx,
                   rank() OVER (PARTITION BY symbol ORDER BY volume)
                       + (count(*) OVER (PARTITION BY symbol, volume) - 1)
                         / 2.0 AS ry
            FROM nn
        ),
        g AS (
            SELECT symbol, count(*) AS n_obs,
                   CAST(sum(CAST(rx AS DECIMAL(28,6))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(ry AS DECIMAL(28,6))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(rx * rx AS DECIMAL(28,6))) AS DOUBLE)
                       AS sxx,
                   CAST(sum(CAST(ry * ry AS DECIMAL(28,6))) AS DOUBLE)
                       AS syy,
                   CAST(sum(CAST(rx * ry AS DECIMAL(28,6))) AS DOUBLE)
                       AS sxy
            FROM rk GROUP BY symbol
        )
        SELECT symbol, CAST(n_obs AS BIGINT) AS n_obs,
               CASE WHEN n_obs >= 2
                         AND (sxx - sx * sx / CAST(n_obs AS DOUBLE)) > 0
                         AND (syy - sy * sy / CAST(n_obs AS DOUBLE)) > 0
               THEN round((sxy - sx * sy / CAST(n_obs AS DOUBLE))
                          / sqrt((sxx - sx * sx / CAST(n_obs AS DOUBLE))
                                 * (syy - sy * sy
                                    / CAST(n_obs AS DOUBLE))), 6) + 0.0
               END AS spearman_rho
        FROM g
        """
    ),
)
def q_bars_spearman_ret_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between absolute returns and volume
    per symbol — the outlier-robust complement to the Pearson
    return-volume confirmation. Average ranks handled EXACTLY
    (rank() + (tie_count-1)/2 — exact .5-step doubles, identical
    both engines); rank products stay inside double's integer range
    and accumulate as decimals; final ratio round-6. Two rank
    windows + one agg, all on the symbol partitioning."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    aret = F.abs(
        (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    )
    nn = bars.select(
        "symbol", aret.alias("aret"), "volume"
    ).filter(F.col("aret").isNotNull())
    rx = F.rank().over(W.partitionBy("symbol").orderBy("aret")) + (
        F.count(F.lit(1)).over(W.partitionBy("symbol", "aret")) - 1
    ) / F.lit(2.0)
    ry = F.rank().over(W.partitionBy("symbol").orderBy("volume")) + (
        F.count(F.lit(1)).over(W.partitionBy("symbol", "volume")) - 1
    ) / F.lit(2.0)
    rk = nn.select("symbol", rx.alias("rx"), ry.alias("ry"))
    g = rk.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("rx").cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum(F.col("ry").cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((F.col("rx") * F.col("rx")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast("decimal(28,6)"))
        .cast("double")
        .alias("syy"),
        F.sum((F.col("rx") * F.col("ry")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n_obs").cast("double")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    ok = (F.col("n_obs") >= 2) & (vx > 0) & (vy > 0)
    rho = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / F.sqrt(vx * vy)
    return g.select(
        "symbol", "n_obs", _r6(F.when(ok, rho)).alias("spearman_rho")
    )


@register_extended(
    "bars_vol_of_vol",
    _bars_sql(
        """
        , r AS (
            SELECT symbol, datetime, bar_id,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        v AS (
            SELECT symbol, datetime, bar_id,
                   count(ret) OVER t AS n1,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) OVER t AS DOUBLE)
                       AS s1,
                   CAST(sum(CAST(ret * ret AS DECIMAL(38,18))) OVER t
                        AS DOUBLE) AS s2
            FROM r
            WINDOW t AS (PARTITION BY symbol ORDER BY datetime, bar_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        ),
        q AS (
            SELECT symbol, datetime, bar_id,
                   CASE WHEN n1 >= 20
                             AND (s2 - s1 * s1 / CAST(n1 AS DOUBLE))
                                 / (CAST(n1 AS DOUBLE) - 1.0) > 0 THEN
                       CAST(round(sqrt((s2 - s1 * s1 / CAST(n1 AS DOUBLE))
                                       / (CAST(n1 AS DOUBLE) - 1.0))
                                  * 1e6) AS BIGINT)
                   END AS volq
            FROM v
        ),
        vv AS (
            SELECT symbol, datetime, bar_id, volq,
                   count(volq) OVER t AS n2,
                   sum(volq) OVER t AS t1,
                   sum(volq * volq) OVER t AS t2
            FROM q
            WINDOW t AS (PARTITION BY symbol ORDER BY datetime, bar_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        )
        SELECT symbol, datetime, bar_id,
               CASE WHEN volq IS NOT NULL THEN
                   CAST(volq AS DOUBLE) / 1e6 END AS vol_20,
               CASE WHEN n2 >= 20
                         AND (CAST(t2 AS DOUBLE)
                              - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)
                                / CAST(n2 AS DOUBLE))
                             / (CAST(n2 AS DOUBLE) - 1.0) > 0 THEN
                   round(sqrt((CAST(t2 AS DOUBLE)
                               - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)
                                 / CAST(n2 AS DOUBLE))
                              / (CAST(n2 AS DOUBLE) - 1.0)) / 1e6, 6) + 0.0
               END AS vol_of_vol_20
        FROM vv
        """
    ),
)
def q_bars_vol_of_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility of volatility: rolling-20 std of the rolling-20
    return std — the vol-regime-change signal (GARCH-ish second
    moment of the second moment). The first-level vol QUANTIZES to
    an exact 1e-6-scaled integer before the second window, so the
    outer power sums are integer-exact and the two engines cannot
    drift; both windows share one symbol exchange. Both levels run
    the exact O(n) RollingPlan prefix diffs (r9 — decimal/integer
    prefix differences are bit-identical to the direct frame sums the
    DuckDB oracle keeps). Outer std round-6."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.features.windows import RollingPlan

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    r = bars.select("symbol", "datetime", "bar_id", ret.alias("ret"))
    rr = F.col("ret")
    p1 = RollingPlan(w, tag="v1")
    v = p1.apply(
        r,
        {
            "n1": p1.count(rr, 20, "r"),
            "s1": p1.dec_sum(rr, 20, "s1").cast("double"),
            "s2": p1.dec_sum(rr * rr, 20, "s2").cast("double"),
        },
    )
    n1 = F.when(F.col("n1") >= 20, F.col("n1").cast("double"))
    var1 = (F.col("s2") - F.col("s1") * F.col("s1") / n1) / (n1 - F.lit(1.0))
    volq = F.when(
        (F.col("n1") >= 20) & (var1 > 0),
        F.round(F.sqrt(var1) * F.lit(1e6)).cast("bigint"),
    )
    q = v.select("symbol", "datetime", "bar_id", volq.alias("volq"))
    qq = F.col("volq")
    p2 = RollingPlan(w, tag="v2")
    vv = p2.apply(
        q,
        {
            "n2": p2.count(qq, 20, "q"),
            "t1": p2.long_sum(qq, 20, "t1"),
            "t2": p2.long_sum(qq * qq, 20, "t2"),
        },
    )
    n2 = F.when(F.col("n2") >= 20, F.col("n2").cast("double"))
    var2 = (
        F.col("t2").cast("double")
        - F.col("t1").cast("double") * F.col("t1").cast("double") / n2
    ) / (n2 - F.lit(1.0))
    return vv.select(
        "symbol", "datetime", "bar_id",
        (
            F.when(
                F.col("volq").isNotNull(),
                F.col("volq").cast("double") / F.lit(1e6),
            )
        ).alias("vol_20"),
        _r6(
            F.when(
                (F.col("n2") >= 20) & (var2 > 0),
                F.sqrt(var2) / F.lit(1e6),
            )
        ).alias("vol_of_vol_20"),
    )


@register_extended(
    "events_inter_arrival",
    """
    WITH d AS (
        SELECT user_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               )) AS gap_us
        FROM events
    ),
    g AS (
        SELECT user_id, count(*) AS n_gaps,
               CAST(sum(gap_us) AS DOUBLE) AS s1,
               CAST(sum(CAST(gap_us AS DECIMAL(38,0))
                        * CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE) AS s2,
               CAST(min(gap_us) AS DOUBLE) / 1e6 AS min_gap_s,
               CAST(max(gap_us) AS DOUBLE) / 1e6 AS max_gap_s
        FROM d WHERE gap_us IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
           s1 / CAST(n_gaps AS DOUBLE) / 1e6 AS mean_gap_s,
           CASE WHEN n_gaps >= 2
                     AND (s2 - s1 * s1 / CAST(n_gaps AS DOUBLE))
                         / (CAST(n_gaps AS DOUBLE) - 1.0) > 0 THEN
               sqrt((s2 - s1 * s1 / CAST(n_gaps AS DOUBLE))
                    / (CAST(n_gaps AS DOUBLE) - 1.0)) / 1e6
           END AS std_gap_s,
           min_gap_s, max_gap_s,
           CASE WHEN n_gaps >= 2
                     AND (s2 - s1 * s1 / CAST(n_gaps AS DOUBLE))
                         / (CAST(n_gaps AS DOUBLE) - 1.0) > 0
                     AND (sqrt((s2 - s1 * s1 / CAST(n_gaps AS DOUBLE))
                               / (CAST(n_gaps AS DOUBLE) - 1.0))
                          + s1 / CAST(n_gaps AS DOUBLE)) > 0 THEN
               (sqrt((s2 - s1 * s1 / CAST(n_gaps AS DOUBLE))
                     / (CAST(n_gaps AS DOUBLE) - 1.0))
                - s1 / CAST(n_gaps AS DOUBLE))
               / (sqrt((s2 - s1 * s1 / CAST(n_gaps AS DOUBLE))
                       / (CAST(n_gaps AS DOUBLE) - 1.0))
                  + s1 / CAST(n_gaps AS DOUBLE))
           END AS burstiness
    FROM g
    """,
)
def q_events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival-time profile: mean/std/min/max gap and
    the Goh-Barabasi burstiness coefficient (σ-μ)/(σ+μ) — bots sit
    near -1 (regular), humans burst toward +1. Integer-microsecond
    sums end-to-end make every float chain bit-identical across
    engines — emitted UNROUNDED. One user-window + one user agg."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = (ts_us - F.lag(ts_us).over(w)).alias("gap_us")
    d = ev.select("user_id", gap).filter(F.col("gap_us").isNotNull())
    g = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_us").cast("double").alias("s1"),
        F.sum(
            F.col("gap_us").cast("decimal(38,0)")
            * F.col("gap_us").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("s2"),
        (F.min("gap_us").cast("double") / F.lit(1e6)).alias("min_gap_s"),
        (F.max("gap_us").cast("double") / F.lit(1e6)).alias("max_gap_s"),
    )
    # all sums are exact integers (µs), every float op below is a
    # fixed sequence on identical operands — UNROUNDED end to end
    # (round-6 here ADDS tie divergence; observed at sf0.1)
    n = F.when(F.col("n_gaps") >= 2, F.col("n_gaps").cast("double"))
    mean_us = F.col("s1") / F.col("n_gaps").cast("double")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - F.lit(1.0))
    sd = F.sqrt(F.when(var > 0, var))
    ok = (F.col("n_gaps") >= 2) & (var > 0)
    mean_b = F.col("s1") / n
    burst = (sd - mean_b) / F.when(ok & ((sd + mean_b) > 0), sd + mean_b)
    return g.select(
        "user_id", "n_gaps",
        (mean_us / F.lit(1e6)).alias("mean_gap_s"),
        (F.when(ok, sd) / F.lit(1e6)).alias("std_gap_s"),
        "min_gap_s", "max_gap_s",
        F.when(ok & ((sd + mean_b) > 0), burst).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# r8 wave: tail risk (VaR/CVaR), vocabulary growth (Heaps' law), and
# RFM behavioral segmentation.
# ---------------------------------------------------------------------------


@register_extended(
    "bars_var_cvar",
    _bars_sql(
        """
        , r AS (
            SELECT symbol,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        nn AS (SELECT symbol, ret FROM r WHERE ret IS NOT NULL),
        q AS (
            SELECT symbol, count(*) AS n_obs,
                   quantile_cont(ret, 0.05) AS var_95,
                   quantile_cont(ret, 0.01) AS var_99
            FROM nn GROUP BY symbol
        ),
        c AS (
            SELECT nn.symbol,
                   CAST(count(*) AS BIGINT) AS n_tail,
                   CAST(sum(CAST(nn.ret AS DECIMAL(38,18))) AS DOUBLE)
                       AS s_tail
            FROM nn JOIN q ON nn.symbol = q.symbol
            WHERE nn.ret <= q.var_95
            GROUP BY nn.symbol
        )
        SELECT q.symbol, CAST(q.n_obs AS BIGINT) AS n_obs,
               q.var_95, q.var_99, c.n_tail,
               round(c.s_tail / CAST(c.n_tail AS DOUBLE), 6) + 0.0
                   AS cvar_95
        FROM q JOIN c ON q.symbol = c.symbol
        """
    ),
)
def q_bars_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical Value-at-Risk (95/99, exact interpolated quantiles
    of simple returns) and 95% CVaR / expected shortfall (mean of the
    tail at-or-below VaR) per symbol — the tail-risk pair every
    risk report leads with. Quantiles are exact percentile_cont both
    engines (identical interpolation on identical sorted doubles);
    the tail re-scan is one broadcast-joined filter; CVaR decimal-sum
    mean round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    nn = bars.select("symbol", ret.alias("ret")).filter(
        F.col("ret").isNotNull()
    )
    nn = scoped_persist(nn)
    q = nn.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.percentile(F.col("ret"), F.lit(0.05)).alias("var_95"),
        F.percentile(F.col("ret"), F.lit(0.01)).alias("var_99"),
    )
    c = (
        nn.join(F.broadcast(q.select("symbol", "var_95")), "symbol")
        .filter(F.col("ret") <= F.col("var_95"))
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_tail"),
            F.sum(F.col("ret").cast("decimal(38,18)"))
            .cast("double")
            .alias("s_tail"),
        )
    )
    out = q.join(c, "symbol")
    return out.select(
        "symbol", "n_obs", "var_95", "var_99", "n_tail",
        _r6(F.col("s_tail") / F.col("n_tail").cast("double")).alias(
            "cvar_95"
        ),
    )


@register_extended(
    "corpus_vocab_growth",
    rf"""
    WITH tok AS (
        SELECT doc_id, {_H_SQL.format(x="t")} AS h
        FROM (
            SELECT doc_id,
                   unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x <> '')) AS t
            FROM documents
        )
    ),
    per_doc AS (
        SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
    ),
    firsts AS (SELECT h, min(doc_id) AS first_doc FROM tok GROUP BY h),
    newv AS (
        SELECT first_doc AS doc_id, count(*) AS new_terms
        FROM firsts GROUP BY first_doc
    ),
    cum AS (
        SELECT p.doc_id,
               sum(p.n_tok) OVER (ORDER BY p.doc_id) AS cum_tokens,
               sum(coalesce(n.new_terms, 0)) OVER (ORDER BY p.doc_id)
                   AS cum_vocab,
               row_number() OVER (ORDER BY p.doc_id) AS rn,
               count(*) OVER () AS n_docs
        FROM per_doc p LEFT JOIN newv n USING (doc_id)
    )
    SELECT CAST(floor(((rn - 1) * 10.0) / n_docs) AS INT) + 1 AS decile,
           CAST(max(cum_tokens) AS BIGINT) AS cum_tokens,
           CAST(max(cum_vocab) AS BIGINT) AS cum_vocab,
           CAST(max(cum_vocab) AS DOUBLE) / CAST(max(cum_tokens) AS DOUBLE)
               AS type_token_ratio,
           round(ln(CAST(max(cum_vocab) AS DOUBLE))
                 / ln(CAST(max(cum_tokens) AS DOUBLE)), 6) + 0.0
               AS heaps_beta
    FROM cum GROUP BY decile
    """,
)
def q_corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct terms vs
    cumulative tokens along the doc_id ingestion order, summarized at
    corpus deciles with the type-token ratio and the empirical Heaps
    exponent ln(V)/ln(N) — the saturation curve that says when more
    data stops buying new vocabulary. First-occurrence attribution
    (min doc per hashed term) turns cumulative-distinct into one
    hash-agg + one distributed cumulative rank (operators/ranking.py
    — the per-doc frame is data-scaled, so the old
    ``partitionBy(lit(1))`` window was the engine's last single-task
    global sort; integer-exact inputs make the conversion
    bit-identical by the operator's contract); token hashes are
    bigints pre-shuffle; integer ratios unrounded, libm ln ratio
    round-6."""
    from marketdatapipeline_spark.operators.ranking import global_row_number
    from marketdatapipeline_spark.textops.dedup import md5_int

    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("t"),
    ).select("doc_id", md5_int(F.col("t")).alias("h"))
    tok = scoped_persist(tok)
    per_doc = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    firsts = tok.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    newv = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    cum = global_row_number(
        per_doc.join(newv, "doc_id", "left").na.fill({"new_terms": 0}),
        F.col("doc_id"),
        out_col="rn",
        cumsum={"cum_tokens": "n_tok", "cum_vocab": "new_terms"},
        total_col="n_docs",
        size_hint=_pq_rows(spark, sf_dir, "documents"),
    )
    g = cum.groupBy(
        (
            F.floor(((F.col("rn") - 1) * F.lit(10.0)) / F.col("n_docs")).cast(
                "int"
            )
            + 1
        ).alias("decile")
    ).agg(
        F.max("cum_tokens").alias("cum_tokens"),
        F.max("cum_vocab").alias("cum_vocab"),
    )
    return g.select(
        "decile", "cum_tokens", "cum_vocab",
        (
            F.col("cum_vocab").cast("double")
            / F.col("cum_tokens").cast("double")
        ).alias("type_token_ratio"),
        _r6(
            F.log(F.col("cum_vocab").cast("double"))
            / F.log(F.col("cum_tokens").cast("double"))
        ).alias("heaps_beta"),
    )


@register_extended(
    "events_rfm_segments",
    """
    WITH mx AS (SELECT max(ts) AS now_ts FROM events),
    u AS (
        SELECT user_id,
               CAST(epoch_us(mx.now_ts) - epoch_us(max(e.ts)) AS BIGINT)
                   AS recency_us,
               count(*) AS frequency,
               CAST(sum(CAST(e.value AS DECIMAL(28,10))) AS DOUBLE)
                   AS monetary
        FROM events e CROSS JOIN mx
        GROUP BY user_id, mx.now_ts
    ),
    r AS (
        SELECT user_id, recency_us, frequency,
               round(monetary, 6) + 0.0 AS monetary,
               count(*) OVER () AS n,
               row_number() OVER (ORDER BY recency_us, user_id) AS rr,
               row_number() OVER (ORDER BY frequency DESC, user_id) AS rf,
               row_number() OVER (
                   ORDER BY round(monetary, 6) DESC, user_id) AS rm
        FROM u
    )
    SELECT user_id,
           CAST(round(CAST(recency_us AS DOUBLE) / 1e6 / 86400.0, 6) + 0.0
                AS DOUBLE) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency, monetary,
           CAST(floor(((rr - 1) * 5.0) / n) AS INT) + 1 AS r_quintile,
           CAST(floor(((rf - 1) * 5.0) / n) AS INT) + 1 AS f_quintile,
           CAST(floor(((rm - 1) * 5.0) / n) AS INT) + 1 AS m_quintile,
           (CAST(floor(((rr - 1) * 5.0) / n) AS INT) + 1) * 100
               + (CAST(floor(((rf - 1) * 5.0) / n) AS INT) + 1) * 10
               + CAST(floor(((rm - 1) * 5.0) / n) AS INT) + 1 AS rfm_code
    FROM r
    """,
)
def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM behavioral segmentation: per-user recency (vs the corpus
    max timestamp), frequency, and monetary value, quintiled by
    deterministic rank arithmetic into the classic 111-555 RFM code.
    Monetary rounds to 6 BEFORE its rank so decimal-sum one-ulp
    spread can't flip rank order; recency/frequency are exact
    integers. One user agg + three rank windows over the (small)
    per-user table."""
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("now_ts"))
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    now_us = F.unix_micros(F.col("now_ts").cast("timestamp"))
    u = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id", "now_ts")
        .agg(
            F.max(ts_us).alias("_last_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(28,10)"))
            .cast("double")
            .alias("_monetary"),
        )
        .select(
            "user_id",
            (now_us - F.col("_last_us")).alias("recency_us"),
            "frequency",
            _r6(F.col("_monetary")).alias("monetary"),
        )
    )
    # three DISTRIBUTED ranks (operators/ranking.py, r10): the user
    # grain is billions of rows at scale and the lit(1) windows
    # serialized it through one task three times; chained range-
    # partitioned ranks are bit-identical and spread
    from marketdatapipeline_spark.operators.ranking import global_row_number

    hint = _pq_rows(spark, sf_dir, "events")  # upper bound on users
    r = global_row_number(
        u, F.col("recency_us"), F.col("user_id"),
        out_col="rr", total_col="n", size_hint=hint,
    )
    r = global_row_number(
        r, F.desc("frequency"), F.col("user_id"), out_col="rf",
        size_hint=hint,
    )
    r = global_row_number(
        r, F.desc("monetary"), F.col("user_id"), out_col="rm",
        size_hint=hint,
    )

    def quint(rank_col: str):
        return (
            F.floor(
                ((F.col(rank_col) - 1) * F.lit(5.0)) / F.col("n")
            ).cast("int")
            + 1
        )

    return r.select(
        "user_id",
        _r6(
            F.col("recency_us").cast("double") / F.lit(1e6) / F.lit(86400.0)
        ).alias("recency_days"),
        "frequency", "monetary",
        quint("rr").alias("r_quintile"),
        quint("rf").alias("f_quintile"),
        quint("rm").alias("m_quintile"),
        (
            quint("rr") * 100 + quint("rf") * 10 + quint("rm")
        ).alias("rfm_code"),
    )


# ---------------------------------------------------------------------------
# r8 wave: the Yang-Zhang estimator completing the range-volatility
# family, the Jarque-Bera normality test on realized moments, and the
# two missing TPC-H shapes (Q19 OR-of-ANDs pushdown, Q22 anti-join
# with a scalar-average filter).
# ---------------------------------------------------------------------------


@register_extended(
    "bars_yang_zhang_vol",
    _bars_sql(
        """
        , t AS (
            SELECT symbol, datetime, bar_id,
                   ln(open / lag(close) OVER w) AS o_ret,
                   ln(close / open) AS c_ret,
                   ln(high / close) * ln(high / open)
                       + ln(low / close) * ln(low / open) AS rs_term
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        s AS (
            SELECT symbol, datetime, bar_id,
                   count(o_ret) OVER f AS n_in,
                   CAST(sum(CAST(o_ret AS DECIMAL(38,18))) OVER f
                        AS DOUBLE) AS so,
                   CAST(sum(CAST(o_ret * o_ret AS DECIMAL(38,18))) OVER f
                        AS DOUBLE) AS soo,
                   CAST(sum(CAST(c_ret AS DECIMAL(38,18))) OVER f
                        AS DOUBLE) AS sc,
                   CAST(sum(CAST(c_ret * c_ret AS DECIMAL(38,18))) OVER f
                        AS DOUBLE) AS scc,
                   CAST(sum(CAST(rs_term AS DECIMAL(38,18))) OVER f
                        AS DOUBLE) AS srs
            FROM t
            WINDOW f AS (PARTITION BY symbol ORDER BY datetime, bar_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        )
        SELECT symbol, datetime, bar_id,
               CASE WHEN n_in >= 20 THEN
                   round(CASE WHEN
                       (soo - so * so / CAST(n_in AS DOUBLE))
                           / (CAST(n_in AS DOUBLE) - 1.0)
                       + (0.34 / (1.34 + 21.0 / 19.0))
                         * (scc - sc * sc / CAST(n_in AS DOUBLE))
                         / (CAST(n_in AS DOUBLE) - 1.0)
                       + (1.0 - 0.34 / (1.34 + 21.0 / 19.0))
                         * srs / CAST(n_in AS DOUBLE) > 0
                   THEN sqrt(
                       (soo - so * so / CAST(n_in AS DOUBLE))
                           / (CAST(n_in AS DOUBLE) - 1.0)
                       + (0.34 / (1.34 + 21.0 / 19.0))
                         * (scc - sc * sc / CAST(n_in AS DOUBLE))
                         / (CAST(n_in AS DOUBLE) - 1.0)
                       + (1.0 - 0.34 / (1.34 + 21.0 / 19.0))
                         * srs / CAST(n_in AS DOUBLE))
                   ELSE 0.0 END, 6) + 0.0
               END AS vol_yang_zhang
        FROM s
        """
    ),
)
def q_bars_yang_zhang_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yang-Zhang range volatility (rolling 20): overnight variance +
    k x open-close variance + (1-k) x Rogers-Satchell, the
    drift-and-jump-robust estimator completing the
    Parkinson/GK/RS family. Per-bar ln terms quantize to
    decimal(38,18) under the window sums — accumulated via the exact
    O(n) RollingPlan prefix diffs (r9; bit-identical to the direct
    frame sums the oracle keeps); k = 0.34/(1.34+21/19) is a
    shared literal; round-6, warmup at 20 overnight returns."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.features.windows import RollingPlan

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    o_ret = F.log(F.col("open") / F.lag("close").over(w))
    c_ret = F.log(F.col("close") / F.col("open"))
    rs = F.log(F.col("high") / F.col("close")) * F.log(
        F.col("high") / F.col("open")
    ) + F.log(F.col("low") / F.col("close")) * F.log(
        F.col("low") / F.col("open")
    )
    t = bars.select(
        "symbol", "datetime", "bar_id",
        o_ret.alias("o_ret"), c_ret.alias("c_ret"), rs.alias("rs_term"),
    )
    o, c, z = F.col("o_ret"), F.col("c_ret"), F.col("rs_term")
    plan = RollingPlan(w, tag="yz")

    def dsum(col, key):
        return plan.dec_sum(col, 20, key).cast("double")

    s = plan.apply(
        t,
        {
            "n_in": plan.count(o, 20, "o"),
            "so": dsum(o, "so"),
            "soo": dsum(o * o, "soo"),
            "sc": dsum(c, "sc"),
            "scc": dsum(c * c, "scc"),
            "srs": dsum(z, "srs"),
        },
    )
    n = F.when(F.col("n_in") >= 20, F.col("n_in").cast("double"))
    k = F.lit(0.34) / (F.lit(1.34) + F.lit(21.0) / F.lit(19.0))
    var_o = (F.col("soo") - F.col("so") * F.col("so") / n) / (n - F.lit(1.0))
    var_c = (F.col("scc") - F.col("sc") * F.col("sc") / n) / (n - F.lit(1.0))
    yz2 = var_o + k * var_c + (F.lit(1.0) - k) * F.col("srs") / n
    yz = F.when(
        F.col("n_in") >= 20,
        F.when(yz2 > 0, F.sqrt(yz2)).otherwise(F.lit(0.0)),
    )
    return s.select(
        "symbol", "datetime", "bar_id",
        _r6(yz).alias("vol_yang_zhang"),
    )


@register_extended(
    "bars_jarque_bera",
    _bars_sql(
        """
        , r AS (
            SELECT symbol,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        g AS (
            SELECT symbol, count(*) AS n_obs,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) AS DOUBLE) AS s1,
                   CAST(sum(CAST(ret * ret AS DECIMAL(38,18))) AS DOUBLE)
                       AS s2,
                   CAST(sum(CAST(ret * ret * ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS s3,
                   CAST(sum(CAST(ret * ret * ret * ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS s4
            FROM r WHERE ret IS NOT NULL GROUP BY symbol
        ),
        m AS (
            SELECT symbol, n_obs,
                   s1 / CAST(n_obs AS DOUBLE) AS m1,
                   s2 / CAST(n_obs AS DOUBLE)
                       - (s1 / CAST(n_obs AS DOUBLE))
                         * (s1 / CAST(n_obs AS DOUBLE)) AS m2,
                   s3 / CAST(n_obs AS DOUBLE)
                       - 3.0 * (s1 / CAST(n_obs AS DOUBLE))
                         * (s2 / CAST(n_obs AS DOUBLE))
                       + 2.0 * (s1 / CAST(n_obs AS DOUBLE))
                         * (s1 / CAST(n_obs AS DOUBLE))
                         * (s1 / CAST(n_obs AS DOUBLE)) AS m3,
                   s4 / CAST(n_obs AS DOUBLE)
                       - 4.0 * (s1 / CAST(n_obs AS DOUBLE))
                         * (s3 / CAST(n_obs AS DOUBLE))
                       + 6.0 * (s1 / CAST(n_obs AS DOUBLE))
                         * (s1 / CAST(n_obs AS DOUBLE))
                         * (s2 / CAST(n_obs AS DOUBLE))
                       - 3.0 * (s1 / CAST(n_obs AS DOUBLE))
                         * (s1 / CAST(n_obs AS DOUBLE))
                         * (s1 / CAST(n_obs AS DOUBLE))
                         * (s1 / CAST(n_obs AS DOUBLE)) AS m4
            FROM g
        )
        SELECT symbol, CAST(n_obs AS BIGINT) AS n_obs,
               CASE WHEN n_obs >= 4 AND m2 > 0 THEN
                   round(m3 / (m2 * sqrt(m2)), 6) + 0.0 END AS skewness,
               CASE WHEN n_obs >= 4 AND m2 > 0 THEN
                   round(m4 / (m2 * m2) - 3.0, 6) + 0.0
               END AS excess_kurtosis,
               CASE WHEN n_obs >= 4 AND m2 > 0 THEN
                   round(CAST(n_obs AS DOUBLE) / 6.0
                         * ((m3 / (m2 * sqrt(m2)))
                            * (m3 / (m2 * sqrt(m2)))
                            + (m4 / (m2 * m2) - 3.0)
                              * (m4 / (m2 * m2) - 3.0) / 4.0), 6) + 0.0
               END AS jb_stat
        FROM m
        """
    ),
)
def q_bars_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per symbol: population skewness and
    excess kurtosis from decimal-exact power sums, combined into
    JB = n/6 (S^2 + K^2/4) — the are-these-returns-Gaussian
    statistic behind every fat-tail claim. One window + one agg;
    round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    r = bars.select("symbol", ret.alias("ret")).filter(
        F.col("ret").isNotNull()
    )
    x = F.col("ret")
    g = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(x.cast("decimal(38,18)")).cast("double").alias("s1"),
        F.sum((x * x).cast("decimal(38,18)")).cast("double").alias("s2"),
        F.sum((x * x * x).cast("decimal(38,18)")).cast("double").alias("s3"),
        F.sum((x * x * x * x).cast("decimal(38,18)"))
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n_obs").cast("double")
    m1 = F.col("s1") / n
    a2 = F.col("s2") / n
    a3 = F.col("s3") / n
    a4 = F.col("s4") / n
    m2 = a2 - m1 * m1
    m3 = a3 - F.lit(3.0) * m1 * a2 + F.lit(2.0) * m1 * m1 * m1
    m4 = (
        a4
        - F.lit(4.0) * m1 * a3
        + F.lit(6.0) * m1 * m1 * a2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    ok = (F.col("n_obs") >= 4) & (m2 > 0)
    m2g = F.when(ok, m2)
    skew = m3 / (m2g * F.sqrt(m2g))
    kurt = m4 / (m2g * m2g) - F.lit(3.0)
    jb = n / F.lit(6.0) * (skew * skew + kurt * kurt / F.lit(4.0))
    return g.select(
        "symbol", "n_obs",
        _r6(skew).alias("skewness"),
        _r6(kurt).alias("excess_kurtosis"),
        _r6(jb).alias("jb_stat"),
    )


@register_extended(
    "tpch_q19_bracketed_revenue",
    """
    WITH b AS (
        SELECT p_brand, row_number() OVER (ORDER BY p_brand) AS rn
        FROM (SELECT DISTINCT p_brand FROM part)
    ),
    sel AS (
        SELECT p.p_partkey, b.rn
        FROM part p JOIN b ON p.p_brand = b.p_brand
        WHERE b.rn <= 3
    )
    SELECT round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                              AS DECIMAL(28,10))) AS DOUBLE), 6) + 0.0
               AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN sel s ON l.l_partkey = s.p_partkey
    WHERE (s.rn = 1 AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (s.rn = 2 AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (s.rn = 3 AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def q_tpch_q19_bracketed_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q19 adapted (discounted revenue, OR-of-ANDs): three
    brand x quantity-bracket disjuncts — the disjunctive-predicate
    pushdown shape. Brands are data-derived (first three by name);
    the part side reduces to a broadcast (partkey, bracket) list so
    the OR evaluates against the fact scan once. Revenue
    decimal-exact, round-6."""
    from marketdatapipeline_spark.sources.tables import load_table
    from pyspark.sql import Window as W

    part = load_table(spark, sf_dir, "part")
    b = (
        part.select("p_brand")
        .distinct()
        .select(
            "p_brand",
            F.row_number()
            .over(W.partitionBy(F.lit(1)).orderBy("p_brand"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )
    sel = part.join(F.broadcast(b), "p_brand").select("p_partkey", "rn")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(sel), li.l_partkey == sel.p_partkey)
    q = F.col("l_quantity")
    cond = (
        ((F.col("rn") == 1) & (q >= 1) & (q <= 11))
        | ((F.col("rn") == 2) & (q >= 10) & (q <= 20))
        | ((F.col("rn") == 3) & (q >= 20) & (q <= 30))
    )
    g = j.filter(cond).agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(28,10)")
        )
        .cast("double")
        .alias("_rev"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return g.select(_r6(F.col("_rev")).alias("revenue"), "n_lines")


@register_extended(
    "tpch_q22_dormant_customers",
    """
    WITH avg_bal AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS ab
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(28,10)))
                      AS DOUBLE), 6) + 0.0 AS totacctbal
    FROM customer c CROSS JOIN avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c.c_nationkey
    """,
)
def q_tpch_q22_dormant_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 adapted (global sales opportunity): above-average-
    balance customers with no order since 2000, grouped by nation —
    the scalar-aggregate filter + anti-join shape. The average is one
    broadcast scalar; the NOT EXISTS is a left-anti join on custkey
    (never a per-row probe); decimal sums, round-6."""
    from marketdatapipeline_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("ab")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        )
        .select("o_custkey")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("ab")
    )
    dormant = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    g = dormant.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast("decimal(28,10)"))
        .cast("double")
        .alias("_tot"),
    )
    return g.select(
        "c_nationkey", "numcust", _r6(F.col("_tot")).alias("totacctbal")
    )


# ---------------------------------------------------------------------------
# r8 wave: centroid-classifier evaluation and the PR-curve threshold
# sweep.
# ---------------------------------------------------------------------------

from marketdatapipeline_spark.similarity.semdedup import (  # noqa: E402
    assign_clusters,
)


@register_extended(
    "embeddings_centroid_confusion",
    _CENTROID_CTE
    + """
    , cents AS (
        SELECT label AS clab, list(mean ORDER BY pos) AS cv
        FROM per GROUP BY label
    ),
    vec AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    assigned AS (
        SELECT vec_id, label, clab AS pred_label, cos FROM (
            SELECT vec_id, label, clab, cos, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, clab DESC
            ) AS rn
            FROM (
                SELECT vec_id, label, clab,
                       list_dot_product(v, cv)
                       / (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product(cv, cv))) AS cos
                FROM vec CROSS JOIN cents
            )
        ) WHERE rn = 1
    )
    SELECT label AS true_label, pred_label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(sum(CAST(cos AS DECIMAL(28,14))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_cos,
           label = pred_label AS is_correct
    FROM assigned GROUP BY label, pred_label
    """,
)
def q_embeddings_centroid_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid classifier confusion matrix: every vector
    routed to its highest-cosine label prototype (the scan-side
    broadcast argmax from SemDeDup — no shuffle on the vector side),
    tallied against the true label — the cluster-coherence audit
    that says whether labels are separable in embedding space at
    all. Cosines fold sequentially (bit-exact vs list_dot_product);
    mean cosine decimal-quantized, round-6."""
    from marketdatapipeline_spark.similarity.centroids import (
        label_centroids,
    )

    emb = _emb(spark, sf_dir).filter(F.col("embedding").isNotNull())
    cents = label_centroids(emb)
    assigned = assign_clusters(emb, cents)
    j = assigned.join(
        emb.select("vec_id", "label"), "vec_id"
    )
    g = j.groupBy(
        F.col("label").alias("true_label"),
        F.col("cluster").alias("pred_label"),
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("best_cos").cast("decimal(28,14)"))
        .cast("double")
        .alias("_sc"),
    )
    return g.select(
        "true_label", "pred_label", "n_vecs",
        _r6(F.col("_sc") / F.col("n_vecs").cast("double")).alias("mean_cos"),
        (F.col("true_label") == F.col("pred_label")).alias("is_correct"),
    )


@register_extended(
    "ml_threshold_sweep",
    _bars_sql(
        _SCORE_CTE
        + """
        , thr AS (
            SELECT unnest([0.3, 0.4, 0.45, 0.5, 0.55, 0.6, 0.7])
                AS threshold
        ),
        cm AS (
            SELECT threshold,
                   sum(CASE WHEN score >= threshold AND target = 1
                       THEN 1 ELSE 0 END) AS tp,
                   sum(CASE WHEN score >= threshold AND target = 0
                       THEN 1 ELSE 0 END) AS fp,
                   sum(CASE WHEN score < threshold AND target = 1
                       THEN 1 ELSE 0 END) AS fn,
                   sum(CASE WHEN score < threshold AND target = 0
                       THEN 1 ELSE 0 END) AS tn
            FROM base CROSS JOIN thr GROUP BY threshold
        )
        SELECT threshold, CAST(tp AS BIGINT) AS tp,
               CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
               CAST(tn AS BIGINT) AS tn,
               CASE WHEN tp + fp > 0 THEN
                   CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
               END AS precision_v,
               CASE WHEN tp + fn > 0 THEN
                   CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
               END AS recall_v,
               CASE WHEN 2 * tp + fp + fn > 0 THEN
                   2.0 * CAST(tp AS DOUBLE)
                       / CAST(2 * tp + fp + fn AS DOUBLE)
               END AS f1
        FROM cm
        """
    ),
)
def q_ml_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 across a decision-threshold sweep — the
    PR-curve points that pick the operating threshold after AUC says
    the ranking is good. One explode x 7 thresholds then one
    hash-agg; round-6 scores make every >= cut engine-identical;
    integer-ratio metrics UNROUNDED (F1 via the 2tp identity — one
    division, no chained ratios)."""
    b = _scored_bars(spark, sf_dir)
    thr = F.explode(
        F.array(*[F.lit(t) for t in (0.3, 0.4, 0.45, 0.5, 0.55, 0.6, 0.7)])
    ).alias("threshold")
    e = b.select("score", "target", thr)
    pred = F.col("score") >= F.col("threshold")
    cm = e.groupBy("threshold").agg(
        F.sum(F.when(pred & (F.col("target") == 1), 1).otherwise(0)).alias(
            "tp"
        ),
        F.sum(F.when(pred & (F.col("target") == 0), 1).otherwise(0)).alias(
            "fp"
        ),
        F.sum(
            F.when(~pred & (F.col("target") == 1), 1).otherwise(0)
        ).alias("fn"),
        F.sum(
            F.when(~pred & (F.col("target") == 0), 1).otherwise(0)
        ).alias("tn"),
    )
    return cm.select(
        "threshold", "tp", "fp", "fn", "tn",
        F.when(
            (F.col("tp") + F.col("fp")) > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double"),
        ).alias("precision_v"),
        F.when(
            (F.col("tp") + F.col("fn")) > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double"),
        ).alias("recall_v"),
        F.when(
            (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")) > 0,
            F.lit(2.0)
            * F.col("tp").cast("double")
            / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")).cast(
                "double"
            ),
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# r8 wave: execution-scheduling volume curves, signal IC decay, and
# the dedup token-savings dashboard.
# ---------------------------------------------------------------------------


@register_extended(
    "bars_hourly_volume_curve",
    _bars_sql(
        """
        , h AS (
            SELECT symbol, CAST(hour(datetime) AS INT) AS hod,
                   CAST(sum(CAST(volume AS DECIMAL(28,10))) AS DOUBLE)
                       AS vol_h,
                   count(*) AS n_bars
            FROM bars GROUP BY symbol, hour(datetime)
        )
        SELECT symbol, hod, CAST(n_bars AS BIGINT) AS n_bars, vol_h,
               vol_h / sum(vol_h) OVER (PARTITION BY symbol)
                   AS volume_share,
               CAST(sum(vol_h) OVER (
                   PARTITION BY symbol ORDER BY hod
               ) AS DOUBLE) / sum(vol_h) OVER (PARTITION BY symbol)
                   AS cum_volume_share
        FROM h
        """
    ),
)
def q_bars_hourly_volume_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday volume curve per symbol: hour-of-day volume share and
    the cumulative participation curve — the input every VWAP/POV
    execution scheduler consumes. Volumes are integral doubles
    summed as decimals (exact), so shares are exact-operand
    divisions, UNROUNDED; one hash-agg + two windows over 24-row
    partitions."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    h = bars.groupBy(
        "symbol", F.hour("datetime").cast("int").alias("hod")
    ).agg(
        F.sum(F.col("volume").cast("decimal(28,10)"))
        .cast("double")
        .alias("vol_h"),
        F.count(F.lit(1)).alias("n_bars"),
    )
    sym = W.partitionBy("symbol")
    cum = sym.orderBy("hod")
    return h.select(
        "symbol", "hod", "n_bars", "vol_h",
        (F.col("vol_h") / F.sum("vol_h").over(sym)).alias("volume_share"),
        (
            F.sum("vol_h").over(cum).cast("double")
            / F.sum("vol_h").over(sym)
        ).alias("cum_volume_share"),
    )


@register_extended(
    "bars_ic_decay",
    _bars_sql(
        """
        , s AS (
            SELECT symbol, datetime, bar_id,
                   (close - lag(close, 5) OVER w) / lag(close, 5) OVER w
                       AS signal,
                   close
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        p AS (
            SELECT symbol, signal,
                   unnest([1, 5, 10, 20]) AS horizon,
                   unnest([
                       (lead(close, 1) OVER w - close) / close,
                       (lead(close, 5) OVER w - close) / close,
                       (lead(close, 10) OVER w - close) / close,
                       (lead(close, 20) OVER w - close) / close
                   ]) AS fwd
            FROM s
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        g AS (
            SELECT horizon, count(*) AS n_obs,
                   CAST(sum(CAST(signal AS DECIMAL(38,18))) AS DOUBLE)
                       AS sx,
                   CAST(sum(CAST(signal * signal AS DECIMAL(38,18)))
                        AS DOUBLE) AS sxx,
                   CAST(sum(CAST(fwd AS DECIMAL(38,18))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(fwd * fwd AS DECIMAL(38,18))) AS DOUBLE)
                       AS syy,
                   CAST(sum(CAST(signal * fwd AS DECIMAL(38,18)))
                        AS DOUBLE) AS sxy
            FROM p WHERE signal IS NOT NULL AND fwd IS NOT NULL
            GROUP BY horizon
        )
        SELECT CAST(horizon AS INT) AS horizon,
               CAST(n_obs AS BIGINT) AS n_obs,
               CASE WHEN n_obs >= 2
                         AND (sxx - sx * sx / CAST(n_obs AS DOUBLE)) > 0
                         AND (syy - sy * sy / CAST(n_obs AS DOUBLE)) > 0
               THEN round((sxy - sx * sy / CAST(n_obs AS DOUBLE))
                          / sqrt((sxx - sx * sx / CAST(n_obs AS DOUBLE))
                                 * (syy - sy * sy
                                    / CAST(n_obs AS DOUBLE))), 6) + 0.0
               END AS ic
        FROM g
        """
    ),
)
def q_bars_ic_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-coefficient decay: Pearson correlation of a 5-bar
    momentum signal with forward returns at horizons 1/5/10/20 — the
    signal-research table that says how fast alpha evaporates. The
    four forward returns come off ONE window pass (parallel leads);
    r9 de-explodes the per-horizon grouping into CONDITIONAL
    aggregation — 24 null-gated decimal sums in one keyless agg, so
    shuffle-in rows stop quadrupling (the oracle keeps its unnest +
    GROUP BY horizon form; sum() skips the when()-nulled rows, so
    each horizon's decimal sums see exactly the same elements).
    The four output rows unfold from the single agg row. Round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    sig = (F.col("close") - F.lag("close", 5).over(w)) / F.lag(
        "close", 5
    ).over(w)
    horizons = [1, 5, 10, 20]
    fwds = [
        ((F.lead("close", h).over(w) - F.col("close")) / F.col("close")).alias(
            f"_f{h}"
        )
        for h in horizons
    ]
    # the window leaves only S≈10 live partitions; the 14M decimal
    # sum-updates below are the query's CPU, so spread them across
    # every core before the keyless agg (round-robin repartition of
    # 1M narrow rows is far cheaper than 3x-serialized decimal work)
    s = bars.select(sig.alias("signal"), *fwds).repartition(
        spark.sparkContext.defaultParallelism
    )
    dec = "decimal(38,18)"
    narrow = "decimal(28,18)"
    # signal power sums DECOMPOSE (r9): each horizon's sx/sxx differ
    # from the all-signal sums only by the ~h-per-symbol edge rows
    # where fwd_h is null, so sum the base ONCE and subtract a
    # near-empty correction sum per horizon — decimal sums are
    # grouping-insensitive-exact, so base - correction is
    # bit-identical to the direct masked sum the oracle computes.
    # (Both operands narrow to (28,18) first: a (38,18)-(38,18)
    # subtraction drops a scale digit under allowPrecisionLoss.)
    sg = F.col("signal")
    cb = sg.isNotNull()
    aggs = [
        F.sum(F.when(cb, sg).cast(dec)).cast(narrow).alias("sx_all"),
        F.sum(F.when(cb, sg * sg).cast(dec)).cast(narrow).alias("sxx_all"),
    ]
    for h in horizons:
        fw = F.col(f"_f{h}")
        c = cb & fw.isNotNull()
        ce = cb & fw.isNull()  # edge rows: in base but not in horizon h
        aggs += [
            F.count(F.when(c, F.lit(1))).alias(f"n_{h}"),
            F.sum(F.when(ce, sg).cast(dec)).cast(narrow).alias(f"sxc_{h}"),
            F.sum(F.when(ce, sg * sg).cast(dec))
            .cast(narrow)
            .alias(f"sxxc_{h}"),
            F.sum(F.when(c, fw).cast(dec)).cast("double").alias(f"sy_{h}"),
            F.sum(F.when(c, fw * fw).cast(dec))
            .cast("double")
            .alias(f"syy_{h}"),
            F.sum(F.when(c, sg * fw).cast(dec))
            .cast("double")
            .alias(f"sxy_{h}"),
        ]
    one = s.agg(*aggs)
    zero = F.lit(0).cast(narrow)

    def ic_struct(h: int):
        n_obs = F.col(f"n_{h}")
        n = n_obs.cast("double")
        sx = (
            F.col("sx_all") - F.coalesce(F.col(f"sxc_{h}"), zero)
        ).cast("double")
        sxx = (
            F.col("sxx_all") - F.coalesce(F.col(f"sxxc_{h}"), zero)
        ).cast("double")
        sy, syy = F.col(f"sy_{h}"), F.col(f"syy_{h}")
        sxy = F.col(f"sxy_{h}")
        vx = sxx - sx * sx / n
        vy = syy - sy * sy / n
        ok = (n_obs >= 2) & (vx > 0) & (vy > 0)
        ic = (sxy - sx * sy / n) / F.sqrt(vx * vy)
        return F.struct(
            F.lit(h).alias("horizon"),
            n_obs.alias("n_obs"),
            F.when(ok, ic).alias("ic"),
        )

    # the keyless agg emits ONE row even on empty input (-> 4 unfolded
    # rows with n_obs=0) where the oracle's GROUP BY emits none — the
    # n_obs>0 filter realigns the degenerate case and is a no-op on
    # any populated tier
    g = one.select(
        F.explode(F.array(*[ic_struct(h) for h in horizons])).alias("_g")
    ).select("_g.horizon", "_g.n_obs", "_g.ic").filter(F.col("n_obs") > 0)
    return g.select(
        F.col("horizon").cast("int").alias("horizon"),
        "n_obs",
        _r6(F.col("ic")).alias("ic"),
    )


@register_extended(
    "corpus_dedup_token_savings",
    f"""
    WITH k AS (
        SELECT doc_id, source,
               {_H_SQL.format(x="text")} AS full_key,
               CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT)
                   AS n_tok
        FROM documents
    ),
    g AS (
        SELECT full_key, count(*) AS c, min(doc_id) AS keeper
        FROM k GROUP BY full_key
    )
    SELECT k.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(k.n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN g.c > 1 AND k.doc_id <> g.keeper
                    THEN k.n_tok ELSE 0 END) AS BIGINT) AS dup_tokens,
           CAST(sum(CASE WHEN g.c > 1 AND k.doc_id <> g.keeper
                    THEN k.n_tok ELSE 0 END) AS DOUBLE)
               / CAST(sum(k.n_tok) AS DOUBLE) AS savings_frac
    FROM k JOIN g USING (full_key)
    GROUP BY k.source
    """,
)
def q_corpus_dedup_token_savings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-weighted dedup savings per source: BPE-estimate tokens
    sitting in non-keeper exact duplicates over total tokens — the
    number that turns 'dup rate' into 'training-cost saved'. One
    hash-agg on the text hash + one equi-join; integer token sums,
    integer-ratio savings UNROUNDED."""
    from marketdatapipeline_spark.textops.corpus import add_token_estimate
    from marketdatapipeline_spark.textops.dedup import md5_int

    docs = add_token_estimate(_docs(spark, sf_dir))
    k = docs.select(
        "doc_id", "source",
        md5_int(F.col("text")).alias("full_key"),
        F.col("n_tokens_bpe").cast("bigint").alias("n_tok"),
    )
    g = k.groupBy("full_key").agg(
        F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("keeper")
    )
    j = k.join(g, "full_key")
    dup_tok = F.when(
        (F.col("c") > 1) & (F.col("doc_id") != F.col("keeper")),
        F.col("n_tok"),
    ).otherwise(F.lit(0))
    out = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum(dup_tok).alias("dup_tokens"),
    )
    return out.select(
        "source", "n_docs", "total_tokens", "dup_tokens",
        (
            F.col("dup_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("savings_frac"),
    )


# ---------------------------------------------------------------------------
# r8 wave: session-distribution summary and marketing attribution.
# ---------------------------------------------------------------------------

from marketdatapipeline_spark.catalog_operators import (  # noqa: E402
    session_numbering_sql,
)


@register_extended(
    "events_session_percentiles",
    f"""
    WITH {session_numbering_sql("INTERVAL 30 MINUTE")},
    s AS (
        SELECT user_id, session_id, count(*) AS n_events,
               CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT)
                   AS duration_us
        FROM numbered GROUP BY user_id, session_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS mean_events,
           quantile_cont(CAST(n_events AS DOUBLE), 0.5) AS p50_events,
           quantile_cont(CAST(n_events AS DOUBLE), 0.9) AS p90_events,
           quantile_cont(CAST(duration_us AS DOUBLE), 0.5) / 1e6
               AS p50_duration_s,
           quantile_cont(CAST(duration_us AS DOUBLE), 0.9) / 1e6
               AS p90_duration_s,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS bounce_rate
    FROM s
    """,
)
def q_events_session_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-distribution summary over the 30-minute gap
    sessionization: session/user counts, mean + exact p50/p90 events
    per session, duration percentiles, and the bounce rate
    (single-event sessions) — the page every product dashboard leads
    with. Integer counts and microsecond durations end-to-end;
    exact interpolated percentiles; UNROUNDED."""
    from marketdatapipeline_spark.operators.sessions import session_stats
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    s = session_stats(
        ev, F.expr("INTERVAL 30 MINUTES"), tie_break=("event_id",)
    )
    dur_us = F.col("duration_us").cast("double")
    return s.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
        (
            F.sum("n_events").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_events"),
        F.percentile(F.col("n_events").cast("double"), F.lit(0.5)).alias(
            "p50_events"
        ),
        F.percentile(F.col("n_events").cast("double"), F.lit(0.9)).alias(
            "p90_events"
        ),
        (F.percentile(dur_us, F.lit(0.5)) / F.lit(1e6)).alias(
            "p50_duration_s"
        ),
        (F.percentile(dur_us, F.lit(0.9)) / F.lit(1e6)).alias(
            "p90_duration_s"
        ),
        (
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("bounce_rate"),
    )


@register_extended(
    "events_purchase_attribution",
    """
    WITH touched AS (
        SELECT user_id, ts, event_id, event_type, value,
               first_value(CASE WHEN event_type IN ('view', 'click')
                           THEN event_type END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS first_touch,
               last_value(CASE WHEN event_type IN ('view', 'click')
                          THEN event_type END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS last_touch
        FROM events
    )
    SELECT coalesce(first_touch, 'none') AS first_touch,
           coalesce(last_touch, 'none') AS last_touch,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 6)
               + 0.0 AS total_value
    FROM touched WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def q_events_purchase_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch vs last-touch purchase attribution: each purchase
    credits the user's earliest and most recent preceding marketing
    touch (view/click), tallied into the attribution matrix with
    decimal-exact value sums. One user window (two ignore-nulls
    frames share it) + one tiny agg; round-6 on the value sum's
    double conversion."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"), F.col("event_type")
    )
    t = ev.select(
        "event_type", "value",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    ).filter(F.col("event_type") == "purchase")
    g = t.groupBy(
        F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
        F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(28,10)"))
        .cast("double")
        .alias("_tv"),
    )
    return g.select(
        "first_touch", "last_touch", "n_purchases",
        _r6(F.col("_tv")).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# r8 wave: cross-sectional long-short momentum, pricing elasticity,
# and embedding dimension-correlation structure.
# ---------------------------------------------------------------------------


@register_extended(
    "bars_xs_momentum_portfolio",
    _bars_sql(
        """
        , hb AS (
            SELECT symbol, date_trunc('hour', datetime) AS hour, close
            FROM (
                SELECT symbol, datetime, bar_id, close,
                       row_number() OVER (
                           PARTITION BY symbol, date_trunc('hour', datetime)
                           ORDER BY datetime DESC, bar_id DESC
                       ) AS rn
                FROM bars
            ) WHERE rn = 1
        ),
        r0 AS (
            SELECT symbol, hour,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM hb
            WINDOW w AS (PARTITION BY symbol ORDER BY hour)
        ),
        r AS (
            SELECT symbol, hour, ret,
                   lag(ret) OVER (PARTITION BY symbol ORDER BY hour)
                       AS signal
            FROM r0
        ),
        ranked AS (
            SELECT hour, ret, signal,
                   row_number() OVER (
                       PARTITION BY hour ORDER BY signal DESC, symbol
                   ) AS r_top,
                   row_number() OVER (
                       PARTITION BY hour ORDER BY signal, symbol
                   ) AS r_bot,
                   count(*) OVER (PARTITION BY hour) AS n_sym
            FROM r WHERE ret IS NOT NULL AND signal IS NOT NULL
        )
        SELECT hour, CAST(max(n_sym) AS BIGINT) AS n_symbols,
               CAST(sum(CASE WHEN r_top <= 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_long,
               CAST(sum(CASE WHEN r_bot <= 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_short,
               round(CAST(sum(CASE WHEN r_top <= 3
                        THEN CAST(ret AS DECIMAL(38,18))
                        ELSE CAST(0 AS DECIMAL(38,18)) END) AS DOUBLE)
                   / CAST(sum(CASE WHEN r_top <= 3 THEN 1 ELSE 0 END)
                          AS DOUBLE), 6) + 0.0 AS long_ret,
               round(CAST(sum(CASE WHEN r_bot <= 3
                        THEN CAST(ret AS DECIMAL(38,18))
                        ELSE CAST(0 AS DECIMAL(38,18)) END) AS DOUBLE)
                   / CAST(sum(CASE WHEN r_bot <= 3 THEN 1 ELSE 0 END)
                          AS DOUBLE), 6) + 0.0 AS short_ret,
               round(CAST(sum(CASE WHEN r_top <= 3
                        THEN CAST(ret AS DECIMAL(38,18))
                        ELSE CAST(0 AS DECIMAL(38,18)) END) AS DOUBLE)
                   / CAST(sum(CASE WHEN r_top <= 3 THEN 1 ELSE 0 END)
                          AS DOUBLE)
                   - CAST(sum(CASE WHEN r_bot <= 3
                          THEN CAST(ret AS DECIMAL(38,18))
                          ELSE CAST(0 AS DECIMAL(38,18)) END) AS DOUBLE)
                     / CAST(sum(CASE WHEN r_bot <= 3 THEN 1 ELSE 0 END)
                            AS DOUBLE), 6) + 0.0 AS ls_ret
        FROM ranked
        WHERE n_sym >= 6
        GROUP BY hour
        """
    ),
)
def q_bars_xs_momentum_portfolio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-sectional momentum long-short portfolio: each hour, rank
    symbols by the PRIOR hour's return (no look-ahead), long the top
    three / short the bottom three, realize the current hour's
    equal-weight spread — the canonical XS-factor backtest. Hourly
    closes via one dedup window; signal/return off one symbol window;
    ranking one hour-keyed exchange. Decimal return sums (their
    double conversion is 1-ulp noisy cross-engine), round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    hw = W.partitionBy("symbol", F.date_trunc("hour", "datetime")).orderBy(
        F.desc("datetime"), F.desc("bar_id")
    )
    hb = (
        bars.select(
            "symbol",
            F.date_trunc("hour", "datetime").alias("hour"),
            "close",
            F.row_number().over(hw).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w = W.partitionBy("symbol").orderBy("hour")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    r = hb.select("symbol", "hour", ret.alias("ret")).select(
        "symbol", "hour", "ret", F.lag("ret").over(w).alias("signal")
    )
    nn = r.filter(F.col("ret").isNotNull() & F.col("signal").isNotNull())
    hr = W.partitionBy("hour")
    ranked = nn.select(
        "hour", "ret",
        F.row_number()
        .over(hr.orderBy(F.desc("signal"), "symbol"))
        .alias("r_top"),
        F.row_number().over(hr.orderBy("signal", "symbol")).alias("r_bot"),
        F.count(F.lit(1)).over(hr).alias("n_sym"),
    ).filter(F.col("n_sym") >= 6)
    zero = F.lit(0).cast("decimal(38,18)")
    long_sum = F.sum(
        F.when(F.col("r_top") <= 3, F.col("ret").cast("decimal(38,18)"))
        .otherwise(zero)
    ).cast("double")
    short_sum = F.sum(
        F.when(F.col("r_bot") <= 3, F.col("ret").cast("decimal(38,18)"))
        .otherwise(zero)
    ).cast("double")
    g = ranked.groupBy("hour").agg(
        F.max("n_sym").alias("n_symbols"),
        F.sum(F.when(F.col("r_top") <= 3, 1).otherwise(0)).alias("n_long"),
        F.sum(F.when(F.col("r_bot") <= 3, 1).otherwise(0)).alias("n_short"),
        long_sum.alias("_ls"),
        short_sum.alias("_ss"),
    )
    lr = F.col("_ls") / F.col("n_long").cast("double")
    sr = F.col("_ss") / F.col("n_short").cast("double")
    return g.select(
        "hour", "n_symbols", "n_long", "n_short",
        _r6(lr).alias("long_ret"), _r6(sr).alias("short_ret"),
        _r6(lr - sr).alias("ls_ret"),
    )


@register_extended(
    "tpch_discount_elasticity",
    """
    SELECT l_discount,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS avg_quantity,
           round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                              AS DECIMAL(28,10))) AS DOUBLE), 2) + 0.0
               AS revenue,
           round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                              AS DECIMAL(28,10))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) + 0.0 AS revenue_per_line
    FROM lineitem
    GROUP BY l_discount
    """,
)
def q_tpch_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-band elasticity curve: per discount level, volume
    (lines, average quantity) and realized revenue — the pricing
    analytics readout off one hash-agg on the 11-value discount
    domain (map-side combinable to 11 rows anywhere). Quantities
    integral; revenue decimal-exact, round-6 at double-ulp
    magnitudes."""
    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    g = li.groupBy("l_discount").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(28,10)"))
        .cast("double")
        .alias("_sq"),
        F.sum(rev).cast("double").alias("_rev"),
    )
    n = F.col("n_lines").cast("double")
    # revenue reaches 3e9 at sf0.1 where double ulp ~5e-7 exceeds the
    # round-6 quantum — round to cents (the data's own precision)
    return g.select(
        "l_discount", "n_lines",
        (F.col("_sq") / n).alias("avg_quantity"),
        (F.round(F.col("_rev"), 2) + F.lit(0.0)).alias("revenue"),
        _r6(F.col("_rev") / n).alias("revenue_per_line"),
    )


_EMB_FIXED_LEN_CACHE: dict[str, bool] = {}


def _emb_fixed_len(spark: SparkSession, sf_dir: str) -> bool:
    """One-row plan-time probe: do all embeddings share one length?
    Memoized per sf_dir (a schema-level property of the table) so
    repeated query constructions — bench's median-of-3, the oracle
    gate — pay the probe job once."""
    if sf_dir not in _EMB_FIXED_LEN_CACHE:
        ln = (
            _emb(spark, sf_dir)
            .filter(F.col("embedding").isNotNull())
            .agg(F.min(F.size("embedding")), F.max(F.size("embedding")))
            .first()
        )
        _EMB_FIXED_LEN_CACHE[sf_dir] = ln[0] is not None and ln[0] == ln[1]
    return _EMB_FIXED_LEN_CACHE[sf_dir]


@register_extended(
    "embeddings_dim_correlations",
    """
    WITH e AS (
        SELECT vec_id,
               unnest(generate_series(1, len(embedding))) AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    p AS (
        SELECT a.dim AS dim_a, b.dim AS dim_b,
               count(*) AS n,
               CAST(sum(CAST(a.x AS DECIMAL(28,14))) AS DOUBLE) AS sx,
               CAST(sum(CAST(b.x AS DECIMAL(28,14))) AS DOUBLE) AS sy,
               CAST(sum(CAST(a.x * a.x AS DECIMAL(28,16))) AS DOUBLE)
                   AS sxx,
               CAST(sum(CAST(b.x * b.x AS DECIMAL(28,16))) AS DOUBLE)
                   AS syy,
               CAST(sum(CAST(a.x * b.x AS DECIMAL(28,16))) AS DOUBLE)
                   AS sxy
        FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim < b.dim
        GROUP BY a.dim, b.dim
    ),
    c AS (
        SELECT CAST(dim_a AS BIGINT) AS dim_a,
               CAST(dim_b AS BIGINT) AS dim_b,
               CAST(n AS BIGINT) AS n_obs,
               CASE WHEN (sxx - sx * sx / CAST(n AS DOUBLE)) > 0
                         AND (syy - sy * sy / CAST(n AS DOUBLE)) > 0 THEN
                   round((sxy - sx * sy / CAST(n AS DOUBLE))
                         / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                                * (syy - sy * sy / CAST(n AS DOUBLE))),
                         6) + 0.0
               END AS corr
        FROM p
    )
    SELECT dim_a, dim_b, n_obs, corr
    FROM c
    WHERE corr IS NOT NULL
    ORDER BY abs(corr) DESC, dim_a, dim_b
    LIMIT 50
    """,
)
def q_embeddings_dim_correlations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-50 most-correlated embedding dimension pairs: the
    redundancy map that says how much of the 64-dim space is real
    (feeds PCA/quantizer design). Join-free Gram pass (r10, replacing
    a posexplode + vec_id self-join that shuffled rows x 64 twice and
    summed six wide decimals over rows x pairs terms):

    - cross-moments sxy are generated SCAN-SIDE by a nested-transform
      expression — rows x d(d-1)/2 (dim_a, dim_b, xy) terms that exist
      only inside the partial hash-agg, which collapses each partition
      to <= d^2/2 groups before the single tiny shuffle;
    - per-dim sums sx/sxx come from a separate narrow posexplode pass
      (rows x d terms, d groups) and reach the pair grid through two
      broadcast joins of d rows each.

    The split is valid because every vector has the same length (the
    reference self-join pairs rows on vec_id, so per-pair marginal
    sums equal per-dim sums exactly when no vector is short) — a
    one-row plan-time probe checks min(size)==max(size) and falls
    back to exact per-pair marginal sums when lengths vary. At 100 TB
    the network moves partitions x dims^2 co-moments, never rows.
    Decimal per-term casts identical to the oracle's, so sums stay
    bit-exact; corr round-6 BEFORE the |corr| ordering so the top-50
    cut is engine-identical (ties broken by dim pair)."""
    emb = _emb(spark, sf_dir).filter(F.col("embedding").isNotNull())
    v = F.col("embedding").cast("array<double>")
    fixed_len = _emb_fixed_len(spark, sf_dir)

    def pair_struct(xa, i, xb, j, extra_marginals: bool):
        fields = [
            (i + 1).cast("bigint").alias("dim_a"),
            (i + j + 2).cast("bigint").alias("dim_b"),
            (xa * xb).cast("decimal(28,16)").alias("xy"),
        ]
        if extra_marginals:
            fields += [xa.alias("xa"), xb.alias("xb")]
        return F.struct(*fields)

    def pair_terms(extra_marginals: bool):
        # all ordered pairs of one vector: element i (0-based) paired
        # with the tail slice from 1-based position i+2; dims 1-based
        return F.flatten(
            F.transform(
                v,
                lambda xa, i: F.transform(
                    F.slice(v, i + F.lit(2), F.size(v)),
                    lambda xb, j: pair_struct(xa, i, xb, j, extra_marginals),
                ),
            )
        )

    if fixed_len:
        p = (
            emb.select(F.inline(pair_terms(extra_marginals=False)))
            .groupBy("dim_a", "dim_b")
            .agg(
                F.count(F.lit(1)).alias("n_obs"),
                F.sum("xy").cast("double").alias("sxy"),
            )
        )
        dstats = (
            emb.select(F.posexplode(v).alias("pos", "x"))
            .select((F.col("pos") + 1).cast("bigint").alias("dim"), "x")
            .groupBy("dim")
            .agg(
                F.sum(F.col("x").cast("decimal(28,14)"))
                .cast("double")
                .alias("s"),
                F.sum((F.col("x") * F.col("x")).cast("decimal(28,16)"))
                .cast("double")
                .alias("ss"),
            )
        )
        p = p.join(
            F.broadcast(
                dstats.select(
                    F.col("dim").alias("dim_a"),
                    F.col("s").alias("sx"),
                    F.col("ss").alias("sxx"),
                )
            ),
            "dim_a",
        ).join(
            F.broadcast(
                dstats.select(
                    F.col("dim").alias("dim_b"),
                    F.col("s").alias("sy"),
                    F.col("ss").alias("syy"),
                )
            ),
            "dim_b",
        )
    else:
        # variable-length vectors: per-pair marginals must restrict to
        # vectors containing BOTH dims — keep xa/xb in the pair terms
        p = (
            emb.select(F.inline(pair_terms(extra_marginals=True)))
            .groupBy("dim_a", "dim_b")
            .agg(
                F.count(F.lit(1)).alias("n_obs"),
                F.sum("xy").cast("double").alias("sxy"),
                F.sum(F.col("xa").cast("decimal(28,14)"))
                .cast("double")
                .alias("sx"),
                F.sum(F.col("xb").cast("decimal(28,14)"))
                .cast("double")
                .alias("sy"),
                F.sum((F.col("xa") * F.col("xa")).cast("decimal(28,16)"))
                .cast("double")
                .alias("sxx"),
                F.sum((F.col("xb") * F.col("xb")).cast("decimal(28,16)"))
                .cast("double")
                .alias("syy"),
            )
        )
    n = F.col("n_obs").cast("double")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    corr = _r6(
        F.when(
            (vx > 0) & (vy > 0),
            (F.col("sxy") - F.col("sx") * F.col("sy") / n)
            / F.sqrt(vx * vy),
        )
    )
    c = p.select("dim_a", "dim_b", "n_obs", corr.alias("corr")).filter(
        F.col("corr").isNotNull()
    )
    return c.orderBy(F.abs(F.col("corr")).desc(), "dim_a", "dim_b").limit(50)


# ---------------------------------------------------------------------------
# r8 wave: multi-lag serial-correlation inference (Ljung-Box), the
# TPC-H cross-nation trade matrix, and usage-pattern independence.
# ---------------------------------------------------------------------------


@register_extended(
    "bars_ljung_box",
    _bars_sql(
        """
        , r AS (
            SELECT symbol, datetime, bar_id,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        nn AS (
            SELECT symbol, datetime, bar_id, ret
            FROM r WHERE ret IS NOT NULL
        ),
        m AS (
            SELECT symbol,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) AS DOUBLE)
                       / count(*) AS mu
            FROM nn GROUP BY symbol
        ),
        d AS (
            SELECT nn.symbol, nn.datetime, nn.bar_id,
                   nn.ret - m.mu AS dev
            FROM nn JOIN m ON nn.symbol = m.symbol
        ),
        l AS (
            SELECT symbol, dev,
                   lag(dev, 1) OVER w AS d1, lag(dev, 2) OVER w AS d2,
                   lag(dev, 3) OVER w AS d3, lag(dev, 4) OVER w AS d4,
                   lag(dev, 5) OVER w AS d5
            FROM d
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        g AS (
            SELECT symbol, count(*) AS n_obs,
                   CAST(sum(CAST(dev * dev AS DECIMAL(38,18))) AS DOUBLE)
                       AS s0,
                   CAST(sum(CAST(dev * d1 AS DECIMAL(38,18))) AS DOUBLE)
                       AS s1,
                   CAST(sum(CAST(dev * d2 AS DECIMAL(38,18))) AS DOUBLE)
                       AS s2,
                   CAST(sum(CAST(dev * d3 AS DECIMAL(38,18))) AS DOUBLE)
                       AS s3,
                   CAST(sum(CAST(dev * d4 AS DECIMAL(38,18))) AS DOUBLE)
                       AS s4,
                   CAST(sum(CAST(dev * d5 AS DECIMAL(38,18))) AS DOUBLE)
                       AS s5
            FROM l GROUP BY symbol
        )
        SELECT symbol, CAST(n_obs AS BIGINT) AS n_obs,
               round(s1 / s0, 6) + 0.0 AS acf_1,
               round(s2 / s0, 6) + 0.0 AS acf_2,
               round(s3 / s0, 6) + 0.0 AS acf_3,
               round(s4 / s0, 6) + 0.0 AS acf_4,
               round(s5 / s0, 6) + 0.0 AS acf_5,
               round(CAST(n_obs AS DOUBLE) * (CAST(n_obs AS DOUBLE) + 2.0)
                     * ((s1 / s0) * (s1 / s0) / (CAST(n_obs AS DOUBLE) - 1.0)
                        + (s2 / s0) * (s2 / s0)
                          / (CAST(n_obs AS DOUBLE) - 2.0)
                        + (s3 / s0) * (s3 / s0)
                          / (CAST(n_obs AS DOUBLE) - 3.0)
                        + (s4 / s0) * (s4 / s0)
                          / (CAST(n_obs AS DOUBLE) - 4.0)
                        + (s5 / s0) * (s5 / s0)
                          / (CAST(n_obs AS DOUBLE) - 5.0)), 6) + 0.0
                   AS ljung_box_q
        FROM g WHERE n_obs > 5 AND s0 > 0
        """
    ),
)
def q_bars_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1-5 plus the Ljung-Box Q(5) portmanteau statistic
    per symbol — the is-there-ANY-serial-structure test behind every
    white-noise claim. Demeaned cross-products from one window pass
    (five lags share the frame), decimal sums; ACFs and Q round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    nn = bars.select(
        "symbol", "datetime", "bar_id", ret.alias("ret")
    ).filter(F.col("ret").isNotNull())
    m = nn.groupBy("symbol").agg(
        (
            F.sum(F.col("ret").cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    d = nn.join(F.broadcast(m), "symbol").select(
        "symbol", "datetime", "bar_id",
        (F.col("ret") - F.col("mu")).alias("dev"),
    )
    lag_cols = [
        F.lag("dev", k).over(w).alias(f"d{k}") for k in range(1, 6)
    ]
    l = d.select("symbol", "dev", *lag_cols)

    def dsum(c):
        return F.sum(c.cast("decimal(38,18)")).cast("double")

    g = l.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        dsum(F.col("dev") * F.col("dev")).alias("s0"),
        *[
            dsum(F.col("dev") * F.col(f"d{k}")).alias(f"s{k}")
            for k in range(1, 6)
        ],
    )
    g = g.filter((F.col("n_obs") > 5) & (F.col("s0") > 0))
    n = F.col("n_obs").cast("double")
    acfs = [(F.col(f"s{k}") / F.col("s0")) for k in range(1, 6)]
    q = (
        n
        * (n + F.lit(2.0))
        * sum(
            (a * a / (n - F.lit(float(k))))
            for k, a in zip(range(1, 6), acfs)
        )
    )
    return g.select(
        "symbol", "n_obs",
        *[_r6(a).alias(f"acf_{k}") for k, a in zip(range(1, 6), acfs)],
        _r6(q).alias("ljung_box_q"),
    )


@register_extended(
    "tpch_q7_nation_trade_matrix",
    """
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                              AS DECIMAL(28,10))) AS DOUBLE), 6) + 0.0
               AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    WHERE n1.n_nationkey <> n2.n_nationkey
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name
    """,
)
def q_tpch_q7_nation_trade_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q7 adapted (volume shipping): the cross-nation trade
    matrix — revenue between every (customer-nation, supplier-nation)
    pair over a shipdate year, co-located pairs excluded (Q5's
    complement). All dims broadcast; the fact shuffles once for the
    orders join; per-pair sums stay at round-6-safe magnitudes."""
    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("_ck"), F.col("n_name").alias("cust_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("_sk"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("_ck"))
        .join(F.broadcast(n2), supp.s_nationkey == F.col("_sk"))
        .filter(F.col("_ck") != F.col("_sk"))
    )
    g = j.groupBy("cust_nation", "supp_nation").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(28,10)")
        )
        .cast("double")
        .alias("_rev"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return g.select(
        "cust_nation", "supp_nation",
        _r6(F.col("_rev")).alias("revenue"),
        "n_lines",
    )


@register_extended(
    "events_usage_independence",
    """
    WITH h AS (
        SELECT isodow(ts) AS dow, CAST(hour(ts) AS INT) AS hod,
               count(*) AS o
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT dow, hod, o,
               sum(o) OVER (PARTITION BY dow) AS row_tot,
               sum(o) OVER (PARTITION BY hod) AS col_tot,
               sum(o) OVER () AS n
        FROM h
    )
    SELECT CAST(dow AS INT) AS dow, hod, CAST(o AS BIGINT) AS observed,
           CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
               / CAST(n AS DOUBLE) AS expected,
           (CAST(o AS DOUBLE)
            - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
              / CAST(n AS DOUBLE))
           / sqrt(CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS std_residual,
           (CAST(o AS DOUBLE)
            - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
              / CAST(n AS DOUBLE))
           * (CAST(o AS DOUBLE)
              - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                / CAST(n AS DOUBLE))
           / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
              / CAST(n AS DOUBLE)) AS chi2_cell
    FROM t
    """,
)
def q_events_usage_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Day-of-week x hour-of-day usage independence: observed vs
    expected-under-independence counts with standardized residuals
    and chi-square cell contributions — the usage-heatmap anomaly
    layer (which (dow, hour) cells deviate from the marginal
    profile). Integer counts; expected/residual chains are
    fixed-sequence exact-operand doubles, UNROUNDED. One hash-agg to
    168 cells + three windows over them."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        (F.weekday("ts") + F.lit(1)).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("o"))
    t = h.select(
        "dow", "hod", "o",
        F.sum("o").over(W.partitionBy("dow")).alias("row_tot"),
        F.sum("o").over(W.partitionBy("hod")).alias("col_tot"),
        F.sum("o").over(W.partitionBy(F.lit(1))).alias("n"),
    )
    e = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n").cast("double")
    )
    od = F.col("o").cast("double")
    return t.select(
        "dow", "hod", F.col("o").alias("observed"),
        e.alias("expected"),
        ((od - e) / F.sqrt(e)).alias("std_residual"),
        ((od - e) * (od - e) / e).alias("chi2_cell"),
    )


# ---------------------------------------------------------------------------
# r8 wave: average precision (PR-AUC) and cumulative volume-flow
# indicators.
# ---------------------------------------------------------------------------


@register_extended(
    "ml_average_precision",
    _bars_sql(
        _SCORE_CTE
        + """
        , r AS (
            SELECT target,
                   row_number() OVER (
                       ORDER BY score DESC, symbol, datetime, bar_id
                   ) AS rk
            FROM base
        ),
        c AS (
            SELECT rk, target,
                   sum(target) OVER (ORDER BY rk) AS tp_cum,
                   sum(target) OVER () AS n_pos,
                   count(*) OVER () AS n
            FROM r
        )
        SELECT CAST(max(n) AS BIGINT) AS n_obs,
               CAST(max(n_pos) AS BIGINT) AS n_pos,
               round(CAST(sum(CASE WHEN target = 1 THEN
                          CAST(CAST(tp_cum AS DOUBLE) / CAST(rk AS DOUBLE)
                               AS DECIMAL(28,14))
                          ELSE CAST(0 AS DECIMAL(28,14)) END) AS DOUBLE)
                     / CAST(max(n_pos) AS DOUBLE), 6) + 0.0
                   AS average_precision,
               CAST(max(n_pos) AS DOUBLE) / CAST(max(n) AS DOUBLE)
                   AS base_rate
        FROM c
        """
    ),
)
def q_ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (the PR-AUC summary): mean of precision@k
    over the positives' ranks in the round-6-score ordering — the
    metric that, unlike ROC-AUC, collapses under class imbalance
    exactly when it should. Each precision@k is an exact integer
    ratio; their mean accumulates as decimal(28,14), round-6.
    Distributed rank + distributed running true-positive sum
    (operators/ranking.py cumsum, r10): integer addition is exact, so
    the per-partition running sums plus prefix offsets are
    bit-identical to the single-task ``sum() OVER (ORDER BY)`` this
    replaces — and no task ever holds the full scored table."""
    from marketdatapipeline_spark.operators.ranking import global_row_number

    b = _scored_bars(spark, sf_dir)
    c = global_row_number(
        b.select("target", "score", "symbol", "datetime", "bar_id"),
        F.desc("score"), F.col("symbol"), F.col("datetime"), F.col("bar_id"),
        out_col="rk", total_col="n",
        cumsum={"tp_cum": "target"}, cumsum_totals={"n_pos": "tp_cum"},
        size_hint=_pq_rows(spark, sf_dir, "events"),
    )
    prec = F.col("tp_cum").cast("double") / F.col("rk").cast("double")
    term = F.when(
        F.col("target") == 1, prec.cast("decimal(28,14)")
    ).otherwise(F.lit(0).cast("decimal(28,14)"))
    g = c.agg(
        F.max("n").alias("n_obs"),
        F.max("n_pos").alias("n_pos"),
        F.sum(term).cast("double").alias("_ap"),
    )
    return g.select(
        "n_obs", "n_pos",
        _r6(F.col("_ap") / F.col("n_pos").cast("double")).alias(
            "average_precision"
        ),
        (
            F.col("n_pos").cast("double") / F.col("n_obs").cast("double")
        ).alias("base_rate"),
    )


@register_extended(
    "bars_flow_indicators",
    _bars_sql(
        """
        , t AS (
            SELECT symbol, datetime, bar_id,
                   -- parenthesized: volume * (ret) — matching Spark's
                   -- association; left-to-right would differ by 1 ulp
                   CAST(volume * ((close - lag(close) OVER w)
                                  / lag(close) OVER w)
                        AS DECIMAL(28,8)) AS vpt_q,
                   CAST(volume * (((close - low) - (high - close))
                                  / (high - low)) AS DECIMAL(28,6))
                       AS adl_q
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        )
        SELECT symbol, datetime, bar_id,
               CAST(sum(vpt_q) OVER c AS DOUBLE) AS vpt,
               CAST(sum(adl_q) OVER c AS DOUBLE) AS adl
        FROM t
        WINDOW c AS (PARTITION BY symbol ORDER BY datetime, bar_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """
    ),
)
def q_bars_flow_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-price trend and the accumulation/distribution line:
    the two cumulative money-flow indicators next to OBV. Per-bar
    contributions QUANTIZE via decimal CAST (HALF_UP in both engines
    — F.round vs DuckDB round() disagree on exact ties, which a
    cumsum then propagates forever), the running sums stay decimal,
    and the final double conversion is exact (cum magnitudes are
    inside 2^53 quantum-units); both share one symbol exchange."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    clv = ((F.col("close") - F.col("low")) - (F.col("high") - F.col("close"))) / (
        F.col("high") - F.col("low")
    )
    t = bars.select(
        "symbol", "datetime", "bar_id",
        (F.col("volume") * ret).cast("decimal(28,8)").alias("vpt_q"),
        (F.col("volume") * clv).cast("decimal(28,6)").alias("adl_q"),
    )
    c = (
        W.partitionBy("symbol")
        .orderBy("datetime", "bar_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return t.select(
        "symbol", "datetime", "bar_id",
        F.sum("vpt_q").over(c).cast("double").alias("vpt"),
        F.sum("adl_q").over(c).cast("double").alias("adl"),
    )


# ---------------------------------------------------------------------------
# r8 wave: growth accounting, price clustering, and the document-
# frequency spectrum.
# ---------------------------------------------------------------------------


@register_extended(
    "events_growth_accounting",
    """
    WITH act AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        FROM events
    ),
    firsts AS (
        SELECT user_id, min(week) AS first_week FROM act GROUP BY user_id
    ),
    lagged AS (
        SELECT a.user_id, a.week, f.first_week,
               lag(a.week) OVER (PARTITION BY a.user_id ORDER BY a.week)
                   AS prev_week
        FROM act a JOIN firsts f USING (user_id)
    ),
    weeks AS (SELECT DISTINCT week FROM act),
    flags AS (
        SELECT week,
               CASE WHEN week = first_week THEN 1 ELSE 0 END AS is_new,
               CASE WHEN week <> first_week
                         AND prev_week = week - INTERVAL 7 DAY
                    THEN 1 ELSE 0 END AS is_retained,
               CASE WHEN week <> first_week
                         AND (prev_week IS NULL
                              OR prev_week < week - INTERVAL 7 DAY)
                    THEN 1 ELSE 0 END AS is_resurrected
        FROM lagged
    ),
    churn AS (
        SELECT w.week, count(*) AS n_churned
        FROM weeks w
        JOIN act p ON p.week = w.week - INTERVAL 7 DAY
        LEFT JOIN act c ON c.user_id = p.user_id AND c.week = w.week
        WHERE c.user_id IS NULL
        GROUP BY w.week
    )
    SELECT f.week,
           CAST(sum(is_new) AS BIGINT) AS n_new,
           CAST(sum(is_retained) AS BIGINT) AS n_retained,
           CAST(sum(is_resurrected) AS BIGINT) AS n_resurrected,
           CAST(coalesce(max(ch.n_churned), 0) AS BIGINT) AS n_churned,
           CAST(count(*) AS BIGINT) AS n_active
    FROM flags f LEFT JOIN churn ch ON ch.week = f.week
    GROUP BY f.week
    """,
)
def q_events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active user classified as
    new / retained (active previous week) / resurrected (returning
    after a gap), plus the churn count (previous week's actives who
    left) — the four numbers that decompose any DAU curve. One
    distinct-activity agg, one user-ordered lag window, one
    anti-join for churn; all integer counts."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    act = scoped_persist(act)
    firsts = act.groupBy("user_id").agg(F.min("week").alias("first_week"))
    w = W.partitionBy("user_id").orderBy("week")
    lagged = act.join(firsts, "user_id").select(
        "user_id", "week", "first_week",
        F.lag("week").over(w).alias("prev_week"),
    )
    week_len = F.expr("INTERVAL 7 DAYS")
    is_new = F.when(F.col("week") == F.col("first_week"), 1).otherwise(0)
    is_ret = F.when(
        (F.col("week") != F.col("first_week"))
        & (F.col("prev_week") == F.col("week") - week_len),
        1,
    ).otherwise(0)
    is_res = F.when(
        (F.col("week") != F.col("first_week"))
        & (
            F.col("prev_week").isNull()
            | (F.col("prev_week") < F.col("week") - week_len)
        ),
        1,
    ).otherwise(0)
    flags = lagged.select(
        "week",
        is_new.alias("is_new"),
        is_ret.alias("is_retained"),
        is_res.alias("is_resurrected"),
    )
    weeks = act.select("week").distinct()
    prev = act.select(
        "user_id", (F.col("week") + week_len).alias("week")
    )
    churn = (
        weeks.join(prev, "week")
        .join(act, ["user_id", "week"], "left_anti")
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    g = flags.groupBy("week").agg(
        F.sum("is_new").alias("n_new"),
        F.sum("is_retained").alias("n_retained"),
        F.sum("is_resurrected").alias("n_resurrected"),
        F.count(F.lit(1)).alias("n_active"),
    )
    out = g.join(F.broadcast(churn), "week", "left").na.fill(
        {"n_churned": 0}
    )
    return out.select(
        "week", "n_new", "n_retained", "n_resurrected",
        F.col("n_churned").cast("bigint").alias("n_churned"),
        "n_active",
    )


@register_extended(
    "bars_price_clustering",
    _bars_sql(
        """
        , c AS (
            SELECT CAST(CAST(round(close * 100.0) AS BIGINT) % 100 AS INT)
                       AS cents,
                   count(*) AS o
            FROM bars GROUP BY 1
        ),
        t AS (SELECT sum(o) AS n, count(*) AS k FROM c)
        SELECT c.cents, CAST(c.o AS BIGINT) AS observed,
               CAST(t.n AS DOUBLE) / CAST(t.k AS DOUBLE) AS expected,
               (CAST(c.o AS DOUBLE)
                - CAST(t.n AS DOUBLE) / CAST(t.k AS DOUBLE))
               / sqrt(CAST(t.n AS DOUBLE) / CAST(t.k AS DOUBLE))
                   AS std_residual,
               c.cents % 10 = 0 AS is_round
        FROM c CROSS JOIN t
        """
    ),
)
def q_bars_price_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price round-number clustering: the distribution of the cents
    digit pair of close with standardized residuals against the
    uniform expectation — the microstructure bias check (humans
    cluster quotes at round numbers; synthetic feeds shouldn't).
    Close is 2-decimal quantized so the cents extraction is exact
    integer arithmetic; residual chains exact-operand, UNROUNDED."""
    bars = _bars_from_events_r8(spark, sf_dir)
    c = bars.groupBy(
        (F.round(F.col("close") * F.lit(100.0)).cast("bigint") % 100)
        .cast("int")
        .alias("cents")
    ).agg(F.count(F.lit(1)).alias("o"))
    t = c.agg(
        F.sum("o").alias("n"), F.count(F.lit(1)).alias("k")
    )
    j = c.crossJoin(F.broadcast(t))
    e = F.col("n").cast("double") / F.col("k").cast("double")
    od = F.col("o").cast("double")
    return j.select(
        "cents",
        F.col("o").alias("observed"),
        e.alias("expected"),
        ((od - e) / F.sqrt(e)).alias("std_residual"),
        (F.col("cents") % 10 == 0).alias("is_round"),
    )


@register_extended(
    "corpus_df_histogram",
    rf"""
    WITH tok AS (
        SELECT DISTINCT doc_id, {_H_SQL.format(x="t")} AS h
        FROM (
            SELECT doc_id,
                   unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x <> '')) AS t
            FROM documents
        )
    ),
    df AS (SELECT h, count(*) AS doc_freq FROM tok GROUP BY h),
    b AS (
        SELECT CAST(floor(log2(doc_freq)) AS INT) AS df_bucket_log2,
               count(*) AS n_terms,
               CAST(sum(doc_freq) AS BIGINT) AS total_postings
        FROM df GROUP BY 1
    )
    SELECT df_bucket_log2,
           CAST(pow(2.0, df_bucket_log2) AS BIGINT) AS bucket_min_df,
           CAST(n_terms AS BIGINT) AS n_terms, total_postings,
           CAST(n_terms AS DOUBLE)
               / CAST(sum(n_terms) OVER () AS DOUBLE) AS term_frac
    FROM b
    """,
)
def q_corpus_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency spectrum: power-of-two histogram of how
    many documents each term appears in — the df side of the vocab
    (Zipf covers term frequency; this is what sizes an inverted
    index and picks stopword/IDF cutoffs). Distinct (doc, term-hash)
    pairs -> one df agg -> log2 buckets; integer ratios UNROUNDED.
    floor(log2(int)) is exact for any count below 2^53."""
    from marketdatapipeline_spark.textops.dedup import md5_int

    docs = _docs(spark, sf_dir)
    tok = (
        docs.select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("t"),
        )
        .select("doc_id", md5_int(F.col("t")).alias("h"))
        .distinct()
    )
    df = tok.groupBy("h").agg(F.count(F.lit(1)).alias("doc_freq"))
    b = df.groupBy(
        F.floor(F.log2("doc_freq")).cast("int").alias("df_bucket_log2")
    ).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("doc_freq").alias("total_postings"),
    )
    from pyspark.sql import Window as W

    wall = W.partitionBy(F.lit(1))
    return b.select(
        "df_bucket_log2",
        F.pow(F.lit(2.0), F.col("df_bucket_log2")).cast("bigint").alias(
            "bucket_min_df"
        ),
        "n_terms",
        "total_postings",
        (
            F.col("n_terms").cast("double")
            / F.sum("n_terms").over(wall).cast("double")
        ).alias("term_frac"),
    )


# ---------------------------------------------------------------------------
# r8 wave: operational latency and capacity-planning percentiles.
# ---------------------------------------------------------------------------


@register_extended(
    "tpch_ship_latency",
    """
    WITH j AS (
        SELECT o.o_orderpriority,
               CAST(epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)
                    AS DOUBLE) / 86400000000.0 AS latency_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           quantile_cont(latency_days, 0.5) AS p50_days,
           quantile_cont(latency_days, 0.9) AS p90_days,
           max(latency_days) AS max_days,
           round(CAST(sum(CAST(latency_days AS DECIMAL(28,10)))
                      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) + 0.0
               AS mean_days
    FROM j GROUP BY o_orderpriority
    """,
)
def q_tpch_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: exact
    interpolated p50/p90, max, and a decimal-sum mean — the
    fulfillment-SLA readout (does HIGH actually ship faster?).
    Microsecond-exact epoch math scaled to days (exact binary
    division by a constant); one fact join + one tiny agg."""
    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = (
        (
            F.unix_micros(F.col("l_shipdate").cast("timestamp"))
            - F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        ).cast("double")
        / F.lit(86400000000.0)
    ).alias("latency_days")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select("o_orderpriority", lat)
    )
    g = j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.percentile(F.col("latency_days"), F.lit(0.5)).alias("p50_days"),
        F.percentile(F.col("latency_days"), F.lit(0.9)).alias("p90_days"),
        F.max("latency_days").alias("max_days"),
        F.sum(F.col("latency_days").cast("decimal(28,10)"))
        .cast("double")
        .alias("_s"),
    )
    return g.select(
        "o_orderpriority", "n_lines", "p50_days", "p90_days", "max_days",
        _r6(F.col("_s") / F.col("n_lines").cast("double")).alias(
            "mean_days"
        ),
    )


@register_extended(
    "events_hourly_load_percentiles",
    """
    WITH h AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               count(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(cnt) AS BIGINT) AS total_events,
           CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS mean_per_hour,
           quantile_cont(CAST(cnt AS DOUBLE), 0.5) AS p50,
           quantile_cont(CAST(cnt AS DOUBLE), 0.99) AS p99,
           CAST(max(cnt) AS BIGINT) AS peak,
           CAST(max(cnt) AS DOUBLE)
               / (CAST(sum(cnt) AS DOUBLE) / CAST(count(*) AS DOUBLE))
               AS peak_to_mean
    FROM h GROUP BY event_type
    """,
)
def q_events_hourly_load_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly load profile per event type: mean/p50/p99/peak events
    per hour and the peak-to-mean ratio — the capacity-planning
    numbers (provision for p99, not the mean). Integer counts, exact
    interpolated percentiles, exact-operand ratios UNROUNDED."""
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cd = F.col("cnt").cast("double")
    g = h.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("cnt").alias("total_events"),
        F.percentile(cd, F.lit(0.5)).alias("p50"),
        F.percentile(cd, F.lit(0.99)).alias("p99"),
        F.max("cnt").alias("peak"),
    )
    mean = F.col("total_events").cast("double") / F.col("n_hours").cast(
        "double"
    )
    return g.select(
        "event_type", "n_hours", "total_events",
        mean.alias("mean_per_hour"),
        "p50", "p99", "peak",
        (F.col("peak").cast("double") / mean).alias("peak_to_mean"),
    )


# ---------------------------------------------------------------------------
# r8 wave: volume-at-price profile and AR(1) OLS diagnostics.
# ---------------------------------------------------------------------------


@register_extended(
    "bars_volume_profile",
    _bars_sql(
        """
        , p AS (
            SELECT symbol,
                   CAST(round(close) AS BIGINT) AS price_level,
                   CAST(sum(CAST(volume AS DECIMAL(28,10))) AS DOUBLE)
                       AS vol,
                   count(*) AS n_bars
            FROM bars GROUP BY symbol, round(close)
        ),
        t AS (
            SELECT symbol, price_level, vol, n_bars,
                   vol / sum(vol) OVER (PARTITION BY symbol)
                       AS volume_share,
                   max(vol) OVER (PARTITION BY symbol) AS max_vol
            FROM p
        ),
        t2 AS (
            SELECT *,
                   min(CASE WHEN vol = max_vol THEN price_level END)
                       OVER (PARTITION BY symbol) AS poc_level
            FROM t
        )
        SELECT symbol, price_level, CAST(n_bars AS BIGINT) AS n_bars,
               vol, volume_share,
               price_level = poc_level AS is_poc
        FROM t2
        """
    ),
)
def q_bars_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-at-price profile: traded volume per integer price level
    with each symbol's point of control (max-volume level, smallest
    level on ties) — the market-profile structure behind
    support/resistance reads. Integral volumes sum as decimals
    (exact shares, UNROUNDED); one hash-agg + per-symbol windows
    over the small level table."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    p = bars.groupBy(
        "symbol", F.round("close").cast("bigint").alias("price_level")
    ).agg(
        F.sum(F.col("volume").cast("decimal(28,10)"))
        .cast("double")
        .alias("vol"),
        F.count(F.lit(1)).alias("n_bars"),
    )
    sym = W.partitionBy("symbol")
    t = p.select(
        "symbol", "price_level", "vol", "n_bars",
        (F.col("vol") / F.sum("vol").over(sym)).alias("volume_share"),
        F.max("vol").over(sym).alias("_mx"),
    )
    t = t.withColumn(
        "poc_level",
        F.min(
            F.when(F.col("vol") == F.col("_mx"), F.col("price_level"))
        ).over(sym),
    )
    return t.select(
        "symbol", "price_level", "n_bars", "vol", "volume_share",
        (F.col("price_level") == F.col("poc_level")).alias("is_poc"),
    )


@register_extended(
    "bars_ar1_ols_diagnostics",
    _bars_sql(
        """
        , r AS (
            SELECT symbol, datetime, bar_id,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        xy AS (
            SELECT symbol, datetime, bar_id, ret AS y,
                   lag(ret) OVER (PARTITION BY symbol
                                  ORDER BY datetime, bar_id) AS x
            FROM r WHERE ret IS NOT NULL
        ),
        g AS (
            SELECT symbol, count(*) AS n_obs,
                   CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE)
                       AS sxx,
                   CAST(sum(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE)
                       AS syy,
                   CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE)
                       AS sxy
            FROM xy WHERE x IS NOT NULL GROUP BY symbol
        ),
        fit AS (
            SELECT symbol, n_obs,
                   (sxy - sx * sy / CAST(n_obs AS DOUBLE))
                       / (sxx - sx * sx / CAST(n_obs AS DOUBLE)) AS beta,
                   sy / CAST(n_obs AS DOUBLE)
                       - (sxy - sx * sy / CAST(n_obs AS DOUBLE))
                         / (sxx - sx * sx / CAST(n_obs AS DOUBLE))
                         * (sx / CAST(n_obs AS DOUBLE)) AS alpha,
                   (sxy - sx * sy / CAST(n_obs AS DOUBLE))
                       * (sxy - sx * sy / CAST(n_obs AS DOUBLE))
                       / ((sxx - sx * sx / CAST(n_obs AS DOUBLE))
                          * (syy - sy * sy / CAST(n_obs AS DOUBLE)))
                       AS r2
            FROM g
            WHERE n_obs >= 3
              AND (sxx - sx * sx / CAST(n_obs AS DOUBLE)) > 0
              AND (syy - sy * sy / CAST(n_obs AS DOUBLE)) > 0
        ),
        e AS (
            SELECT xy.symbol, xy.datetime, xy.bar_id,
                   xy.y - f.alpha - f.beta * xy.x AS resid
            FROM xy JOIN fit f ON xy.symbol = f.symbol
            WHERE xy.x IS NOT NULL
        ),
        dw AS (
            SELECT symbol,
                   CAST(sum(CAST(resid * resid AS DECIMAL(38,18)))
                        AS DOUBLE) AS sse,
                   CAST(sum(CASE WHEN dprev IS NOT NULL THEN
                            CAST((resid - dprev) * (resid - dprev)
                                 AS DECIMAL(38,18))
                            ELSE CAST(0 AS DECIMAL(38,18)) END)
                        AS DOUBLE) AS sdiff
            FROM (
                SELECT symbol, resid,
                       lag(resid) OVER (PARTITION BY symbol
                                        ORDER BY datetime, bar_id)
                           AS dprev
                FROM e
            ) GROUP BY symbol
        )
        SELECT f.symbol, CAST(f.n_obs AS BIGINT) AS n_obs,
               round(f.beta, 6) + 0.0 AS ar1_beta,
               round(f.alpha, 6) + 0.0 AS alpha,
               round(f.r2, 6) + 0.0 AS r2,
               CASE WHEN dw.sse > 0 THEN
                   round(dw.sdiff / dw.sse, 6) + 0.0 END AS durbin_watson
        FROM fit f JOIN dw ON f.symbol = dw.symbol
        """
    ),
)
def q_bars_ar1_ols_diagnostics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AR(1) OLS fit per symbol with regression diagnostics: slope,
    intercept, R^2, and the Durbin-Watson statistic on the residual
    series (leftover serial correlation AFTER the AR(1) fit — the
    model-adequacy check Ljung-Box runs on raw returns). Closed-form
    OLS from decimal co-moments, a residual pass (broadcast-joined
    coefficients), one more lag window for DW; round-6."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    r = bars.select(
        "symbol", "datetime", "bar_id", ret.alias("y")
    ).filter(F.col("y").isNotNull())
    xy = r.select(
        "symbol", "datetime", "bar_id", "y",
        F.lag("y").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    xy = scoped_persist(xy)

    def dsum(c):
        return F.sum(c.cast("decimal(38,18)")).cast("double")

    g = xy.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_obs"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_obs").cast("double")
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    fit = (
        g.filter((F.col("n_obs") >= 3) & (vx > 0) & (vy > 0))
        .select(
            "symbol", "n_obs",
            (cxy / vx).alias("beta"),
            (F.col("sy") / n - cxy / vx * (F.col("sx") / n)).alias("alpha"),
            (cxy * cxy / (vx * vy)).alias("r2"),
        )
    )
    e = xy.join(F.broadcast(fit), "symbol").select(
        "symbol", "datetime", "bar_id",
        (F.col("y") - F.col("alpha") - F.col("beta") * F.col("x")).alias(
            "resid"
        ),
    )
    lagged = e.select(
        "symbol", "resid", F.lag("resid").over(w).alias("dprev")
    )
    zero = F.lit(0).cast("decimal(38,18)")
    dw = lagged.groupBy("symbol").agg(
        dsum(F.col("resid") * F.col("resid")).alias("sse"),
        F.sum(
            F.when(
                F.col("dprev").isNotNull(),
                ((F.col("resid") - F.col("dprev"))
                 * (F.col("resid") - F.col("dprev"))).cast("decimal(38,18)"),
            ).otherwise(zero)
        )
        .cast("double")
        .alias("sdiff"),
    )
    out = fit.join(dw, "symbol")
    return out.select(
        "symbol", "n_obs",
        _r6(F.col("beta")).alias("ar1_beta"),
        _r6(F.col("alpha")).alias("alpha"),
        _r6(F.col("r2")).alias("r2"),
        _r6(
            F.when(F.col("sse") > 0, F.col("sdiff") / F.col("sse"))
        ).alias("durbin_watson"),
    )


# ---------------------------------------------------------------------------
# r8 wave: heavy-tail index estimation and the monthly revenue trend.
# ---------------------------------------------------------------------------


@register_extended(
    "events_power_law_hill",
    """
    WITH c AS (
        SELECT user_id, count(*) AS n_ev FROM events GROUP BY user_id
    ),
    r AS (
        SELECT n_ev,
               row_number() OVER (ORDER BY n_ev DESC, user_id) AS rk,
               count(*) OVER () AS n
        FROM c
    ),
    k AS (
        SELECT *, CAST(greatest(ceil(CAST(n AS DOUBLE) / 10.0), 2.0)
                       AS BIGINT) AS topk
        FROM r
    ),
    top AS (SELECT * FROM k WHERE rk <= topk),
    xmin AS (SELECT CAST(min(n_ev) AS DOUBLE) AS xm FROM top)
    SELECT CAST(max(k.n) AS BIGINT) AS n_users,
           CAST(max(k.topk) AS BIGINT) AS k_tail,
           CAST(max(xmin.xm) AS BIGINT) AS x_min,
           CASE WHEN CAST(sum(CAST(
                    ln(CAST(top.n_ev AS DOUBLE) / xmin.xm)
                    AS DECIMAL(28,14))) AS DOUBLE) > 0 THEN
               round(CAST(count(*) AS DOUBLE)
                     / CAST(sum(CAST(
                           ln(CAST(top.n_ev AS DOUBLE) / xmin.xm)
                           AS DECIMAL(28,14))) AS DOUBLE), 6) + 0.0
           END AS hill_alpha
    FROM top CROSS JOIN xmin CROSS JOIN (SELECT max(n) AS n,
                                                max(topk) AS topk FROM k) k
    """,
)
def q_events_power_law_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate on per-user activity counts: alpha =
    k / sum(ln(x_i / x_min)) over the top decile of users — the
    heavy-tail exponent that turns the Gini/power-user observation
    into a quantified power law (alpha < 2 means unbounded variance:
    plan for whales). Integer order statistics pick the tail
    deterministically; log terms decimal-quantized, round-6."""
    from marketdatapipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    # distributed rank (r10): user grain, no single-task window
    from marketdatapipeline_spark.operators.ranking import global_row_number

    r = global_row_number(
        c, F.desc("n_ev"), F.col("user_id"), out_col="rk", total_col="n",
        size_hint=_pq_rows(spark, sf_dir, "events"),
    ).select("n_ev", "rk", "n")
    k = r.withColumn(
        "topk",
        F.greatest(
            F.ceil(F.col("n").cast("double") / F.lit(10.0)), F.lit(2)
        ).cast("bigint"),
    )
    top = k.filter(F.col("rk") <= F.col("topk"))
    top = scoped_persist(top)
    xmin = top.agg(F.min("n_ev").cast("double").alias("xm"))
    j = top.crossJoin(F.broadcast(xmin))
    lterm = F.log(F.col("n_ev").cast("double") / F.col("xm"))
    g = j.agg(
        F.max("n").alias("n_users"),
        F.max("topk").alias("k_tail"),
        F.max("xm").cast("bigint").alias("x_min"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(lterm.cast("decimal(28,14)")).cast("double").alias("_sl"),
    )
    return g.select(
        "n_users", "k_tail", "x_min",
        _r6(
            F.when(
                F.col("_sl") > 0,
                F.col("_k").cast("double") / F.col("_sl"),
            )
        ).alias("hill_alpha"),
    )


@register_extended(
    "tpch_monthly_revenue_trend",
    """
    WITH m AS (
        SELECT date_trunc('month', o.o_orderdate) AS month,
               CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                             AS DECIMAL(28,10))) AS DOUBLE) AS rev,
               count(*) AS n_lines
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
    )
    SELECT month, round(rev, 2) + 0.0 AS revenue,
           CAST(n_lines AS BIGINT) AS n_lines,
           CASE WHEN lag(rev) OVER (ORDER BY month) > 0 THEN
               round(rev / lag(rev) OVER (ORDER BY month) - 1.0, 6) + 0.0
           END AS mom_growth,
           round(CAST(avg(CAST(round(rev, 2) AS DECIMAL(28,2)))
                      OVER (ORDER BY month
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                      AS DOUBLE), 2) + 0.0 AS rev_3mo_avg
    FROM m
    """,
)
def q_tpch_monthly_revenue_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly revenue trend: month totals (cent-rounded — 1e9
    magnitudes sit past round-6's double-ulp safety), MoM growth off
    the unrounded decimals' doubles, and a 3-month moving average of
    the cent-quantized values so the rolling mean is decimal-exact.
    The standard BI revenue page in one pass."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    m = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.sum(
                (F.col("l_extendedprice")
                 * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(28,10)")
            )
            .cast("double")
            .alias("rev"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    cum = W.partitionBy(F.lit(1)).orderBy("month")
    win3 = cum.rowsBetween(-2, 0)
    growth = F.when(
        F.lag("rev").over(cum) > 0,
        F.col("rev") / F.lag("rev").over(cum) - F.lit(1.0),
    )
    return m.select(
        "month",
        (F.round(F.col("rev"), 2) + F.lit(0.0)).alias("revenue"),
        "n_lines",
        _r6(growth).alias("mom_growth"),
        (
            F.round(
                F.avg(
                    F.round(F.col("rev"), 2).cast("decimal(28,2)")
                ).over(win3).cast("double"),
                2,
            )
            + F.lit(0.0)
        ).alias("rev_3mo_avg"),
    )


# ---------------------------------------------------------------------------
# r8 wave: dedup cluster-size spectrum, language x source mixture
# audit, and customer lifetime-value deciles.
# ---------------------------------------------------------------------------


@register_extended(
    "dedup_cluster_size_histogram",
    f"""
    WITH k AS (
        SELECT doc_id, {_H_SQL.format(x="text")} AS full_key
        FROM documents
    ),
    g AS (SELECT full_key, count(*) AS sz FROM k GROUP BY full_key),
    h AS (
        SELECT sz AS cluster_size, count(*) AS n_clusters
        FROM g GROUP BY sz
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
           CAST(cluster_size * n_clusters AS DOUBLE)
               / CAST(sum(cluster_size * n_clusters) OVER () AS DOUBLE)
               AS doc_frac,
           CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_removable
    FROM h
    """,
)
def q_dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-duplicate cluster-size spectrum: how many clusters of
    each size, the document mass they hold, and the removable count
    (size-1 per cluster) — the shape that distinguishes 'a few viral
    templates' from 'everything is doubled' before choosing a dedup
    strategy. Two hash-aggs on bigint keys; integer ratios
    UNROUNDED."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.textops.dedup import md5_int

    docs = _docs(spark, sf_dir)
    g = docs.select(md5_int(F.col("text")).alias("full_key")).groupBy(
        "full_key"
    ).agg(F.count(F.lit(1)).alias("sz"))
    h = g.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    wall = W.partitionBy(F.lit(1))
    ndocs = F.col("cluster_size") * F.col("n_clusters")
    return h.select(
        "cluster_size", "n_clusters",
        ndocs.cast("bigint").alias("n_docs"),
        (
            ndocs.cast("double") / F.sum(ndocs).over(wall).cast("double")
        ).alias("doc_frac"),
        ((F.col("cluster_size") - 1) * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_removable"),
    )


@register_extended(
    "corpus_lang_source_mix",
    """
    WITH c AS (
        SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
    ),
    t AS (
        SELECT lang, source, o,
               sum(o) OVER (PARTITION BY lang) AS lang_tot,
               sum(o) OVER (PARTITION BY source) AS src_tot,
               sum(o) OVER () AS n
        FROM c
    )
    SELECT lang, source, CAST(o AS BIGINT) AS observed,
           CAST(lang_tot AS DOUBLE) * CAST(src_tot AS DOUBLE)
               / CAST(n AS DOUBLE) AS expected,
           (CAST(o AS DOUBLE)
            - CAST(lang_tot AS DOUBLE) * CAST(src_tot AS DOUBLE)
              / CAST(n AS DOUBLE))
           / sqrt(CAST(lang_tot AS DOUBLE) * CAST(src_tot AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS std_residual,
           CAST(o AS DOUBLE) / CAST(src_tot AS DOUBLE) AS lang_share
    FROM t
    """,
)
def q_corpus_lang_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language x source mixture audit: observed vs independence-
    expected counts with standardized residuals and each source's
    language share — the crosstab that catches a crawl slice whose
    language mix silently shifted. Integer counts, exact-operand
    chains UNROUNDED; one hash-agg + three windows over the tiny
    crosstab."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    t = c.select(
        "lang", "source", "o",
        F.sum("o").over(W.partitionBy("lang")).alias("lang_tot"),
        F.sum("o").over(W.partitionBy("source")).alias("src_tot"),
        F.sum("o").over(W.partitionBy(F.lit(1))).alias("n"),
    )
    e = (
        F.col("lang_tot").cast("double")
        * F.col("src_tot").cast("double")
        / F.col("n").cast("double")
    )
    od = F.col("o").cast("double")
    return t.select(
        "lang", "source", F.col("o").alias("observed"),
        e.alias("expected"),
        ((od - e) / F.sqrt(e)).alias("std_residual"),
        (od / F.col("src_tot").cast("double")).alias("lang_share"),
    )


#: orders-row ceiling for the ltv small-orders shape: a 2-column
#: (orderkey, custkey) build side at 10M rows is ~160 MB — fine on a
#: 128 GiB single node, past any sane cluster broadcast budget; above
#: it the per-order pre-aggregation shape (r12) is the scale path.
_LTV_BCAST_ORDERS_MAX = 10_000_000


@register_extended(
    "tpch_customer_ltv",
    """
    WITH rev AS (
        SELECT o.o_custkey,
               count(DISTINCT o.o_orderkey) AS n_orders,
               -- cent-round in DECIMAL space: round(decimal, 2) is
               -- exact HALF_UP here, matching Spark's decimal(28,2)
               -- cast (a DuckDB decimal DOWN-CAST truncates instead);
               -- the double cast of the 2-decimal value is exact
               CAST(round(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                                   AS DECIMAL(28,10))), 2)
                    AS DOUBLE) AS ltv
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_custkey
    ),
    r AS (
        SELECT c.c_custkey, c.c_name, c.c_mktsegment,
               coalesce(rev.n_orders, 0) AS n_orders,
               coalesce(rev.ltv, 0.0) + 0.0 AS ltv,
               row_number() OVER (
                   ORDER BY coalesce(rev.ltv, 0.0) DESC, c.c_custkey
               ) AS rk,
               count(*) OVER () AS n
        FROM customer c LEFT JOIN rev ON c.c_custkey = rev.o_custkey
    )
    SELECT c_custkey, c_name, c_mktsegment,
           CAST(n_orders AS BIGINT) AS n_orders, ltv,
           CAST(floor(((rk - 1) * 10.0) / n) AS INT) + 1 AS ltv_decile
    FROM r
    """,
)
def q_tpch_customer_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime value with decile ranking: per-customer
    revenue (cent-rounded BEFORE ranking — the decimal sums' double
    conversion is ulp-noisy at these magnitudes) and order counts,
    zero-order customers included at LTV 0 — the account-scoring
    table. One fact agg + a left join onto the customer dim + a
    DISTRIBUTED global rank (operators/ranking.py, r10): the old
    ``partitionBy(lit(1))`` window serialized every customer through
    one task — fine at sf0.1, a wall at 100 TB; range-partitioned
    rank + prefix offsets is bit-identical and spreads."""
    from marketdatapipeline_spark.operators.ranking import global_row_number
    from marketdatapipeline_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    orev = F.sum(
        (F.col("l_extendedprice")
         * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(28,10)")
    ).alias("_orev")
    if _pq_rows(spark, sf_dir, "orders") <= _LTV_BCAST_ORDERS_MAX:
        # small-orders shape (r13): broadcast the 2-column orders
        # projection under the fact scan, then ONE custkey exchange
        # feeds BOTH agg levels — hash(o_custkey) satisfies the
        # (custkey, orderkey) grouping's clustering too, so the
        # per-order and per-customer aggs run exchange-free on it.
        # Two full exchanges (orderkey agg + custkey agg) become one.
        # Decimal addition is associative, so the cent-rounded LTV is
        # bit-identical to the big shape (parity-verified). Warm
        # median 1.34 -> ~0.99 s.
        li2 = li.join(
            F.broadcast(orders.select("o_orderkey", "o_custkey")),
            li.l_orderkey == orders.o_orderkey,
        ).repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            "o_custkey",
        )
        per_order = li2.groupBy("o_custkey", "o_orderkey").agg(orev)
        rev = per_order.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            # cent-round in decimal space (HALF_UP on the exact value
            # both engines); the double cast is then exact
            F.sum("_orev").cast("decimal(28,2)").cast("double").alias("_ltv"),
        )
    else:
        # scale shape: pre-aggregate lineitem at ORDER grain first
        # (r12) — o_orderkey is unique in orders, so the old
        # count_distinct over the joined rows was a hidden Expand —
        # then shuffle the ~4x-smaller per-order rows to custkey.
        # Orders at this size cannot be a broadcast build side.
        per_order = li.groupBy("l_orderkey").agg(orev)
        rev = (
            orders.join(per_order, orders.o_orderkey == per_order.l_orderkey)
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("_orev")
                .cast("decimal(28,2)")
                .cast("double")
                .alias("_ltv"),
            )
        )
    cust = load_table(spark, sf_dir, "customer")
    j = cust.join(
        rev, cust.c_custkey == rev.o_custkey, "left"
    ).select(
        "c_custkey", "c_name", "c_mktsegment",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        (F.coalesce("_ltv", F.lit(0.0)) + F.lit(0.0)).alias("ltv"),
    )
    r = global_row_number(
        j, F.desc("ltv"), F.col("c_custkey"), out_col="rk", total_col="n",
        size_hint=_pq_rows(spark, sf_dir, "customer"),  # exact: cust grain
    )
    return r.select(
        "c_custkey", "c_name", "c_mktsegment",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        "ltv",
        (
            F.floor(((F.col("rk") - 1) * F.lit(10.0)) / F.col("n")).cast(
                "int"
            )
            + 1
        ).alias("ltv_decile"),
    )


# ---------------------------------------------------------------------------
# r8 wave: seasonal variance decomposition and hapax-rate vocabulary
# health.
# ---------------------------------------------------------------------------


@register_extended(
    "bars_seasonality_strength",
    _bars_sql(
        """
        , r AS (
            SELECT symbol, CAST(hour(datetime) AS INT) AS hod,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        h AS (
            SELECT symbol, hod, count(*) AS n_h,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) AS DOUBLE) AS s_h,
                   CAST(sum(CAST(ret * ret AS DECIMAL(38,18))) AS DOUBLE)
                       AS ss_h
            FROM r WHERE ret IS NOT NULL GROUP BY symbol, hod
        ),
        g AS (
            SELECT symbol,
                   CAST(sum(n_h) AS BIGINT) AS n_obs,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   CAST(sum(CAST(s_h AS DECIMAL(38,14))) AS DOUBLE) AS s,
                   CAST(sum(CAST(ss_h AS DECIMAL(38,14))) AS DOUBLE) AS ss,
                   CAST(sum(CAST(s_h * s_h / n_h AS DECIMAL(38,14)))
                        AS DOUBLE) AS sb
            FROM h GROUP BY symbol
        )
        SELECT symbol, n_obs, n_buckets,
               CASE WHEN (ss - s * s / CAST(n_obs AS DOUBLE)) > 0 THEN
                   round((sb - s * s / CAST(n_obs AS DOUBLE))
                         / (ss - s * s / CAST(n_obs AS DOUBLE)), 6) + 0.0
               END AS seasonal_r2,
               CASE WHEN n_obs > n_buckets
                         AND (ss - sb) > 0 AND n_buckets > 1 THEN
                   round(((sb - s * s / CAST(n_obs AS DOUBLE))
                          / (CAST(n_buckets AS DOUBLE) - 1.0))
                         / ((ss - sb)
                            / (CAST(n_obs AS DOUBLE)
                               - CAST(n_buckets AS DOUBLE))), 6) + 0.0
               END AS f_stat
        FROM g
        """
    ),
)
def q_bars_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal variance decomposition per symbol: the fraction of
    return variance explained by hour-of-day means (between-group
    over total sum of squares) plus the one-way ANOVA F statistic —
    the number that says whether the seasonality profile is signal
    or noise. Two-level decimal power sums (per-bucket, then
    per-symbol); round-6. Both aggs key on prefixes of one
    partitioning."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    r = bars.select(
        "symbol",
        F.hour("datetime").cast("int").alias("hod"),
        ret.alias("ret"),
    ).filter(F.col("ret").isNotNull())
    h = r.groupBy("symbol", "hod").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(F.col("ret").cast("decimal(38,18)")).cast("double").alias(
            "s_h"
        ),
        F.sum((F.col("ret") * F.col("ret")).cast("decimal(38,18)"))
        .cast("double")
        .alias("ss_h"),
    )
    g = h.groupBy("symbol").agg(
        F.sum("n_h").cast("bigint").alias("n_obs"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.col("s_h").cast("decimal(38,14)")).cast("double").alias("s"),
        F.sum(F.col("ss_h").cast("decimal(38,14)"))
        .cast("double")
        .alias("ss"),
        F.sum(
            (F.col("s_h") * F.col("s_h") / F.col("n_h")).cast(
                "decimal(38,14)"
            )
        )
        .cast("double")
        .alias("sb"),
    )
    n = F.col("n_obs").cast("double")
    k = F.col("n_buckets").cast("double")
    sst = F.col("ss") - F.col("s") * F.col("s") / n
    ssb = F.col("sb") - F.col("s") * F.col("s") / n
    r2 = F.when(sst > 0, ssb / sst)
    f_ok = (F.col("n_obs") > F.col("n_buckets")) & (
        (F.col("ss") - F.col("sb")) > 0
    ) & (F.col("n_buckets") > 1)
    f = (ssb / (F.when(F.col("n_buckets") > 1, k) - F.lit(1.0))) / (
        (F.col("ss") - F.col("sb"))
        / F.when(F.col("n_obs") > F.col("n_buckets"), n - k)
    )
    return g.select(
        "symbol", "n_obs", "n_buckets",
        _r6(r2).alias("seasonal_r2"),
        _r6(F.when(f_ok, f)).alias("f_stat"),
    )


@register_extended(
    "corpus_hapax_rate",
    rf"""
    WITH tok AS (
        SELECT source, {_H_SQL.format(x="t")} AS h
        FROM (
            SELECT source,
                   unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\s+'),
                       x -> x <> '')) AS t
            FROM documents
        )
    ),
    tf AS (SELECT source, h, count(*) AS c FROM tok GROUP BY source, h)
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS hapax_rate,
           CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
               AS type_token_ratio
    FROM tf GROUP BY source
    """,
)
def q_corpus_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena rate per source: the fraction of each source's
    vocabulary appearing exactly once, with the type-token ratio —
    high hapax = rich/noisy text (or OCR garbage), low = templated.
    The vocabulary-health twin of the df spectrum, sliced by source
    for mixture monitoring. Hashed terms pre-shuffle; integer ratios
    UNROUNDED."""
    from marketdatapipeline_spark.textops.dedup import md5_int

    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("t"),
    ).select("source", md5_int(F.col("t")).alias("h"))
    tf = tok.groupBy("source", "h").agg(F.count(F.lit(1)).alias("c"))
    g = tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return g.select(
        "source", "vocab_size", "n_tokens", "n_hapax",
        (
            F.col("n_hapax").cast("double")
            / F.col("vocab_size").cast("double")
        ).alias("hapax_rate"),
        (
            F.col("vocab_size").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# r8 wave: gain/loss asymmetry and the rolling Sharpe ratio.
# ---------------------------------------------------------------------------


@register_extended(
    "bars_updown_asymmetry",
    _bars_sql(
        """
        , r AS (
            SELECT symbol,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        g AS (
            SELECT symbol,
                   CAST(sum(CASE WHEN ret > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_up,
                   CAST(sum(CASE WHEN ret < 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_down,
                   CAST(sum(CAST(CASE WHEN ret > 0 THEN ret ELSE 0.0 END
                                 AS DECIMAL(38,18))) AS DOUBLE) AS su,
                   CAST(sum(CAST(CASE WHEN ret < 0 THEN -ret ELSE 0.0 END
                                 AS DECIMAL(38,18))) AS DOUBLE) AS sd
            FROM r WHERE ret IS NOT NULL GROUP BY symbol
        )
        SELECT symbol, n_up, n_down,
               CASE WHEN n_up > 0 THEN
                   round(su / CAST(n_up AS DOUBLE), 6) + 0.0
               END AS mean_up_move,
               CASE WHEN n_down > 0 THEN
                   round(sd / CAST(n_down AS DOUBLE), 6) + 0.0
               END AS mean_down_move,
               CASE WHEN n_up > 0 AND n_down > 0 AND sd > 0 THEN
                   round((su / CAST(n_up AS DOUBLE))
                         / (sd / CAST(n_down AS DOUBLE)), 6) + 0.0
               END AS asymmetry_ratio,
               CASE WHEN n_up + n_down > 0 THEN
                   CAST(n_up AS DOUBLE) / CAST(n_up + n_down AS DOUBLE)
               END AS up_frequency
        FROM g
        """
    ),
)
def q_bars_updown_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gain/loss asymmetry per symbol: average up-move vs average
    down-move magnitude, their ratio, and the up frequency — the
    'slow grind up, fast crash down' shape test (complementing omega,
    which compares total mass, and skewness, which is moment-based).
    Decimal conditional sums; integer-count divisions; ratios
    round-6, frequency an exact integer ratio UNROUNDED."""
    from pyspark.sql import Window as W

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    r = bars.select("symbol", ret.alias("ret")).filter(
        F.col("ret").isNotNull()
    )
    g = r.groupBy("symbol").agg(
        F.sum(F.when(F.col("ret") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.when(F.col("ret") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_down"),
        F.sum(
            F.when(F.col("ret") > 0, F.col("ret"))
            .otherwise(F.lit(0.0))
            .cast("decimal(38,18)")
        )
        .cast("double")
        .alias("su"),
        F.sum(
            F.when(F.col("ret") < 0, -F.col("ret"))
            .otherwise(F.lit(0.0))
            .cast("decimal(38,18)")
        )
        .cast("double")
        .alias("sd"),
    )
    up_mean = F.col("su") / F.when(F.col("n_up") > 0, F.col("n_up")).cast(
        "double"
    )
    dn_mean = F.col("sd") / F.when(
        F.col("n_down") > 0, F.col("n_down")
    ).cast("double")
    ratio = F.when(
        (F.col("n_up") > 0) & (F.col("n_down") > 0) & (F.col("sd") > 0),
        up_mean / dn_mean,
    )
    return g.select(
        "symbol", "n_up", "n_down",
        _r6(up_mean).alias("mean_up_move"),
        _r6(dn_mean).alias("mean_down_move"),
        _r6(ratio).alias("asymmetry_ratio"),
        F.when(
            (F.col("n_up") + F.col("n_down")) > 0,
            F.col("n_up").cast("double")
            / (F.col("n_up") + F.col("n_down")).cast("double"),
        ).alias("up_frequency"),
    )


@register_extended(
    "bars_rolling_sharpe",
    _bars_sql(
        """
        , r AS (
            SELECT symbol, datetime, bar_id,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        s AS (
            SELECT symbol, datetime, bar_id,
                   count(ret) OVER t AS n_in,
                   CAST(sum(CAST(ret AS DECIMAL(38,18))) OVER t AS DOUBLE)
                       AS s1,
                   CAST(sum(CAST(ret * ret AS DECIMAL(38,18))) OVER t
                        AS DOUBLE) AS s2
            FROM r
            WINDOW t AS (PARTITION BY symbol ORDER BY datetime, bar_id
                         ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
        )
        SELECT symbol, datetime, bar_id,
               CASE WHEN n_in >= 60
                         AND (s2 - s1 * s1 / CAST(n_in AS DOUBLE))
                             / (CAST(n_in AS DOUBLE) - 1.0) > 0 THEN
                   round((s1 / CAST(n_in AS DOUBLE))
                         / sqrt((s2 - s1 * s1 / CAST(n_in AS DOUBLE))
                                / (CAST(n_in AS DOUBLE) - 1.0))
                         * sqrt(252.0), 6) + 0.0
               END AS rolling_sharpe_60
        FROM s
        """
    ),
)
def q_bars_rolling_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 60-bar annualized Sharpe ratio — the windowed form of
    the backtest's summary Sharpe, the regime gauge that shows WHEN a
    symbol carried its risk-adjusted return. Decimal power sums via
    the exact O(n) RollingPlan prefix diffs (r9 — Spark's sliding
    frame re-aggregates O(n·60) per column; decimal prefix
    differences are bit-identical, so the direct-frame DuckDB oracle
    is untouched), warmup-masked at 60, round-6."""
    from pyspark.sql import Window as W

    from marketdatapipeline_spark.features.windows import RollingPlan

    bars = _bars_from_events_r8(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("datetime", "bar_id")
    ret = (F.col("close") - F.lag("close").over(w)) / F.lag("close").over(w)
    r = bars.select("symbol", "datetime", "bar_id", ret.alias("ret"))
    plan = RollingPlan(w)
    rr = F.col("ret")
    s = plan.apply(
        r,
        {
            "n_in": plan.count(rr, 60, "r"),
            "s1": plan.dec_sum(rr, 60, "s1").cast("double"),
            "s2": plan.dec_sum(rr * rr, 60, "s2").cast("double"),
        },
    )
    n = F.when(F.col("n_in") >= 60, F.col("n_in").cast("double"))
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - F.lit(1.0))
    sharpe = (F.col("s1") / n) / F.sqrt(F.when(var > 0, var)) * F.sqrt(
        F.lit(252.0)
    )
    ok = (F.col("n_in") >= 60) & (var > 0)
    return s.select(
        "symbol", "datetime", "bar_id",
        _r6(F.when(ok, sharpe)).alias("rolling_sharpe_60"),
    )


# ---------------------------------------------------------------------------
# r9 wave: noise-robust realized volatility + dual (upside/downside) beta
# ---------------------------------------------------------------------------

from marketdatapipeline_spark.operators.beta import dual_beta  # noqa: E402
from marketdatapipeline_spark.operators.moments import (  # noqa: E402
    realized_kernel_volatility,
)

_RK_WEIGHTS = [1.0 - h / 6.0 for h in range(1, 6)]  # Bartlett, H=5


@register_extended(
    "bars_realized_kernel",
    _bars_sql(
        """
        , r AS (
            SELECT symbol, datetime, bar_id,
                   (close - lag(close) OVER w) / lag(close) OVER w AS ret
            FROM bars
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        l AS (
            SELECT symbol, ret,
                   lag(ret, 1) OVER w AS l1,
                   lag(ret, 2) OVER w AS l2,
                   lag(ret, 3) OVER w AS l3,
                   lag(ret, 4) OVER w AS l4,
                   lag(ret, 5) OVER w AS l5
            FROM r
            WINDOW w AS (PARTITION BY symbol ORDER BY datetime, bar_id)
        ),
        g AS (
            SELECT symbol, count(*) AS n_obs,
                   CAST(sum(CAST(ret * ret AS DECIMAL(38,18)))
                        AS DOUBLE) AS g0,
                   CAST(sum(CAST(ret * l1 AS DECIMAL(38,18)))
                        AS DOUBLE) AS g1,
                   CAST(sum(CAST(ret * l2 AS DECIMAL(38,18)))
                        AS DOUBLE) AS g2,
                   CAST(sum(CAST(ret * l3 AS DECIMAL(38,18)))
                        AS DOUBLE) AS g3,
                   CAST(sum(CAST(ret * l4 AS DECIMAL(38,18)))
                        AS DOUBLE) AS g4,
                   CAST(sum(CAST(ret * l5 AS DECIMAL(38,18)))
                        AS DOUBLE) AS g5
            FROM l WHERE ret IS NOT NULL
            GROUP BY symbol
        ),
        k AS (
            SELECT symbol, n_obs, g0,
                   g0 + {w1} * (2.0 * g1) + {w2} * (2.0 * g2)
                      + {w3} * (2.0 * g3) + {w4} * (2.0 * g4)
                      + {w5} * (2.0 * g5) AS rk_var
            FROM g
        )
        SELECT symbol, CAST(n_obs AS BIGINT) AS n_obs,
               round(g0, 6) + 0.0 AS rv,
               round(rk_var, 6) + 0.0 AS rk_var,
               CASE WHEN rk_var > 0 THEN round(sqrt(rk_var), 6) + 0.0
               END AS rk_vol
        FROM k
        """.format(
            w1=repr(_RK_WEIGHTS[0]), w2=repr(_RK_WEIGHTS[1]),
            w3=repr(_RK_WEIGHTS[2]), w4=repr(_RK_WEIGHTS[3]),
            w5=repr(_RK_WEIGHTS[4]),
        )
    ),
)
def q_bars_realized_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett-kernel realized variance, H=5
    (operators/moments.py:realized_kernel_volatility): plain RV plus
    Newey-West-weighted autocovariance corrections — the
    noise-robust realized-vol estimator next to the OHLC range
    family. The kernel weights are injected into BOTH engines as
    identical repr() double literals and the assembly is a left fold
    in h order, so the only cross-engine noise is the decimal→double
    cast — round-6. One symbol window (return + 5 lags in one node),
    one map-side-combinable agg, S rows out."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = realized_kernel_volatility(bars, n_lags=5)
    return out.select(
        "symbol",
        F.col("n_obs").cast("long").alias("n_obs"),
        _r6(F.col("rv")).alias("rv"),
        _r6(F.col("rk_var")).alias("rk_var"),
        _r6(F.col("rk_vol")).alias("rk_vol"),
    )


@register_extended(
    "bars_dual_beta",
    _bars_sql(
        _RETS_NN_SQL
        + """
        , mkt AS (
            SELECT _idx,
                   CAST(sum(CAST(_ret AS DECIMAL(38,18))) AS DOUBLE)
                       / count(*) AS _m
            FROM nn GROUP BY _idx
        ),
        j AS (
            SELECT nn._sym, nn._ret AS _r, mkt._m
            FROM nn JOIN mkt USING (_idx)
        ),
        g AS (
            SELECT _sym AS symbol,
                   count(CASE WHEN _m > 0 THEN 1 END) AS n_up,
                   count(CASE WHEN _m < 0 THEN 1 END) AS n_down,
                   CAST(sum(CASE WHEN _m > 0 THEN
                        CAST(_r AS DECIMAL(38,18)) END) AS DOUBLE) AS sr_u,
                   CAST(sum(CASE WHEN _m > 0 THEN
                        CAST(_m AS DECIMAL(38,18)) END) AS DOUBLE) AS sm_u,
                   CAST(sum(CASE WHEN _m > 0 THEN
                        CAST(_r * _m AS DECIMAL(38,18)) END) AS DOUBLE)
                       AS srm_u,
                   CAST(sum(CASE WHEN _m > 0 THEN
                        CAST(_m * _m AS DECIMAL(38,18)) END) AS DOUBLE)
                       AS smm_u,
                   CAST(sum(CASE WHEN _m < 0 THEN
                        CAST(_r AS DECIMAL(38,18)) END) AS DOUBLE) AS sr_d,
                   CAST(sum(CASE WHEN _m < 0 THEN
                        CAST(_m AS DECIMAL(38,18)) END) AS DOUBLE) AS sm_d,
                   CAST(sum(CASE WHEN _m < 0 THEN
                        CAST(_r * _m AS DECIMAL(38,18)) END) AS DOUBLE)
                       AS srm_d,
                   CAST(sum(CASE WHEN _m < 0 THEN
                        CAST(_m * _m AS DECIMAL(38,18)) END) AS DOUBLE)
                       AS smm_d
            FROM j GROUP BY _sym
        )
        SELECT symbol,
               CAST(n_up AS BIGINT) AS n_up,
               CAST(n_down AS BIGINT) AS n_down,
               CASE WHEN n_up >= 10
                         AND CAST(n_up AS DOUBLE) * smm_u - sm_u * sm_u > 0
               THEN round((CAST(n_up AS DOUBLE) * srm_u - sr_u * sm_u)
                          / (CAST(n_up AS DOUBLE) * smm_u - sm_u * sm_u),
                          6) + 0.0
               END AS beta_up,
               CASE WHEN n_down >= 10
                         AND CAST(n_down AS DOUBLE) * smm_d - sm_d * sm_d
                             > 0
               THEN round((CAST(n_down AS DOUBLE) * srm_d - sr_d * sm_d)
                          / (CAST(n_down AS DOUBLE) * smm_d - sm_d * sm_d),
                          6) + 0.0
               END AS beta_down
        FROM g
        """
    ),
)
def q_bars_dual_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upside/downside beta vs the equal-weight market
    (operators/beta.py:dual_beta): beta conditioned on market-up vs
    market-down bars — the asymmetry screen behind defensive-stock
    selection. Null-gated conditional decimal co-moment sums (each
    regime's sums see exactly its bars; the oracle's CASE WHEN sums
    are bit-identical); one shared returns window, one _idx window
    for the market mean, ONE symbol agg; round-6 at the ratios."""
    bars = _bars_from_events_r8(spark, sf_dir)
    out = dual_beta(bars, min_obs=10)
    return out.select(
        "symbol",
        F.col("n_up").cast("long").alias("n_up"),
        F.col("n_down").cast("long").alias("n_down"),
        _r6(F.col("beta_up")).alias("beta_up"),
        _r6(F.col("beta_down")).alias("beta_down"),
    )


# ---------------------------------------------------------------------------
# r9 TPC-H completion wave: the eight query shapes the family lacked
# (Q2/Q4/Q8/Q11/Q12/Q16/Q20/Q21), each adapted to the fixture schema
# (no partsupp / shipmode / commit-receipt dates — the adaptation per
# query is documented in its docstring). Plan conventions follow the
# existing family: broadcast-eligible dims, fact shuffles once,
# decimal(28,10) money sums, deterministic tie-broken top-k cuts.
# ---------------------------------------------------------------------------


@register_extended(
    "tpch_q2_min_cost_supplier",
    """
    WITH avail AS (
        SELECT l_partkey, l_suppkey,
               CAST(min(CAST(l_extendedprice / l_quantity
                             AS DECIMAL(28,10))) AS DOUBLE)
                   AS min_unit_price
        FROM lineitem WHERE l_quantity > 0
        GROUP BY l_partkey, l_suppkey
    ),
    best AS (
        SELECT l_partkey AS p_key, min(min_unit_price) AS best_price
        FROM avail GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_brand, p.p_type,
           s.s_name, n.n_name AS nation, r.r_name AS region,
           round(a.min_unit_price, 6) + 0.0 AS unit_price,
           CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM avail a
    JOIN best b ON a.l_partkey = b.p_key
                AND a.min_unit_price = b.best_price
    JOIN part p ON p.p_partkey = a.l_partkey
    JOIN supplier s ON s.s_suppkey = a.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size <= 15
    ORDER BY s_acctbal DESC, nation, s.s_name, p.p_partkey
    LIMIT 20
    """,
)
def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted (minimum-cost supplier): no partsupp table in
    the fixture, so "supply cost" is each supplier's observed minimum
    unit price (extendedprice/quantity) per part from lineitem, and
    the correlated min-subquery becomes a per-part broadcast of the
    best price. The unit-price division is IEEE-identical in both
    engines; the min over exact decimal casts is engine-independent;
    round-6 at emission. Fact aggregates once; part/supplier/nation/
    region broadcast."""
    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    # ONE part broadcast, BELOW the aggregation (r12): the join both
    # filters non-qualifying parts out of the agg/window (per-part
    # state — surviving rows unchanged) and carries the part
    # attributes through the group keys (functionally dependent on
    # l_partkey, so the group cardinality is identical)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    li = li.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_type")),
        li.l_partkey == F.col("p_partkey"),
    )
    # ONE exchange for agg AND window (r13): hash-partitioning by
    # l_partkey alone satisfies the 5-key groupBy's clustering AND the
    # window's partitionBy(l_partkey), so the explicit repartition
    # replaces the agg exchange and the window reuses it — one full
    # exchange of the compact avail table disappears. The partial-agg
    # volume argument is a wash: (partkey, suppkey) pairs barely
    # repeat in lineitem, so map-side combine compacted ~nothing.
    # Warm median 1.3 -> ~1.03 s; values invariant (same groups, same
    # mins). l_partkey cardinality scales with SF — no skew key.
    li = li.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "l_partkey"
    )
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).cast(
        "decimal(28,10)"
    )
    avail = li.groupBy(
        "l_partkey", "l_suppkey", "p_partkey", "p_brand", "p_type"
    ).agg(F.min(unit).cast("double").alias("min_unit_price"))
    # best-price-per-part as a WINDOW MIN over the aggregated table
    # (r9): the agg+equi-join restatement of the oracle's `best` CTE
    # exchanged the avail table three more times (second agg, then
    # both join sides on the composite key); a whole-partition window
    # min computes the identical double and the filter keeps the same
    # rows — two exchanges of compact aggregated rows total.
    from pyspark.sql import Window as W

    best_w = F.min("min_unit_price").over(W.partitionBy("l_partkey"))
    avail = avail.withColumn("_best", best_w).filter(
        F.col("min_unit_price") == F.col("_best")
    )
    # nation (spec-bounded 25 rows) and region (5) fold to a literal
    # nationkey -> (n_name, r_name) map via two bare-scan collects —
    # the q5 pattern; two broadcast-join builds disappear from the
    # join tree. Supplier/part scale with SF and stay broadcast joins.
    reg_names = {
        r["r_regionkey"]: r["r_name"]
        for r in load_table(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .collect()
    }
    nat_rows = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    )
    nation_map = F.create_map(
        *[
            F.lit(x)
            for r in sorted(nat_rows)
            for x in (r["n_nationkey"], r["n_name"])
        ]
    ) if nat_rows else F.create_map(F.lit(0), F.lit(None).cast("string"))
    region_map = F.create_map(
        *[
            F.lit(x)
            for r in sorted(nat_rows)
            for x in (r["n_nationkey"], reg_names.get(r["n_regionkey"]))
        ]
    ) if nat_rows else F.create_map(F.lit(0), F.lit(None).cast("string"))
    supp = load_table(spark, sf_dir, "supplier")
    j = (
        avail.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .withColumn("n_name", nation_map[F.col("s_nationkey")])
        .withColumn("r_name", region_map[F.col("s_nationkey")])
        # inner-join semantics of the folded dims: a supplier with a
        # nationkey outside the nation table would have joined away
        .filter(F.col("n_name").isNotNull() & F.col("r_name").isNotNull())
    )
    return (
        j.select(
            "p_partkey", "p_brand", "p_type", "s_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            _r6(F.col("min_unit_price")).alias("unit_price"),
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
        )
        # (s_name, p_partkey) is unique, so the top-20 cut is fully
        # deterministic and engine-identical
        .orderBy(F.desc("s_acctbal"), "nation", "s_name", "p_partkey")
        .limit(20)
    )


@register_extended(
    "tpch_q4_order_priority",
    """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted (order-priority checking): the fixture has no
    commit/receipt dates, so a "late" order is one with ANY line
    shipped more than 90 days after the order date. The EXISTS becomes
    a left-semi join with the inequality folded into the join
    condition — one shuffle of the date-pruned orders against
    lineitem, counts by priority. Timestamp+interval arithmetic is
    exact in both engines; counts are integers — UNROUNDED."""
    from marketdatapipeline_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            li.l_shipdate
            > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register_extended(
    "tpch_q8_market_share",
    """
    WITH vol AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(l.l_extendedprice * (1.0 - l.l_discount)
                    AS DECIMAL(28,10)) AS volume,
               sn.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           round(
               CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                             THEN volume END) AS DOUBLE)
               / CAST(sum(volume) AS DOUBLE), 6) + 0.0 AS mkt_share,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM vol
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 adapted (national market share): NATION_1 suppliers'
    share of PROMO-part order volume sold into REGION_0 customers,
    by order year. Supplier attribution comes straight from
    l_suppkey (no partsupp in the fixture). Both the conditional and
    total volume accumulate as decimal(28,10) (null-gated CASE sums
    are grouping-insensitive-exact); the share rounds at 6. The fact
    table shuffles once into orders; every dimension broadcasts."""
    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    )
    supp = load_table(spark, sf_dir, "supplier")
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
    )
    vol = (
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .cast("decimal(28,10)")
    )
    g = j.select(
        F.year("o_orderdate").cast("int").alias("o_year"),
        vol.alias("volume"),
        "supp_nation",
    ).groupBy("o_year").agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_1", F.col("volume")))
        .cast("double")
        .alias("_num"),
        F.sum("volume").cast("double").alias("_den"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return g.select(
        "o_year",
        _r6(F.col("_num") / F.col("_den")).alias("mkt_share"),
        "n_lines",
    ).orderBy("o_year")


@register_extended(
    "tpch_q11_important_stock",
    """
    WITH val AS (
        SELECT l.l_partkey,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,10)))
                    AS DECIMAL(28,10)) AS value
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'
        GROUP BY l.l_partkey
    ),
    tot AS (SELECT CAST(sum(value) AS DOUBLE) AS total FROM val)
    SELECT v.l_partkey AS p_partkey,
           CAST(v.value AS DOUBLE) AS value
    FROM val v, tot t
    WHERE CAST(v.value AS DOUBLE) > t.total * 0.0001
    ORDER BY value DESC, p_partkey
    """,
)
def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted (important stock): per-part traded value
    (sum of extendedprice) through NATION_3 suppliers, keeping parts
    whose value exceeds 0.0001 of the nation's grand total (the
    spec scales this fraction by 1/SF; 0.0001 keeps the cut
    non-empty from sf0.001 through sf0.1) — the
    having-a-global-scalar shape. The grand total is a 1-row
    broadcast (crossJoin); both sides compare CAST(decimal AS
    DOUBLE) > total * 0.0001 with identical doubles, so the cut is
    engine-identical. value emits as the exact decimal→double cast,
    UNROUNDED (single cast of an exact sum; ordering key)."""
    from marketdatapipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    val = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(28,10)"))
            .cast("decimal(28,10)")
            .alias("value")
        )
    )
    tot = val.agg(F.sum("value").cast("double").alias("total"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value").cast("double") > F.col("total") * F.lit(0.0001)
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value").cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), "p_partkey")
    )


@register_extended(
    "tpch_q12_priority_classes",
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def q_tpch_q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted (shipping-mode priority classes): no
    l_shipmode in the fixture, so lines group by l_returnflag, and
    the late-delivery predicate (receipt past commit) becomes
    shipped > 30 days after order date, within the 1997 ship-year.
    Pure integer conditional counts — UNROUNDED; one fact shuffle
    into orders."""
    from marketdatapipeline_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, F.lit(1)).otherwise(F.lit(0))).alias(
                "high_line_count"
            ),
            F.sum(F.when(~hi, F.lit(1)).otherwise(F.lit(0))).alias(
                "low_line_count"
            ),
        )
        .orderBy("l_returnflag")
    )


@register_extended(
    "tpch_q16_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16_supplier_part_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 adapted (parts/supplier relationship): distinct
    suppliers able to supply each (brand, type, size) combination —
    supply relationships read from lineitem (no partsupp), and the
    'customer complaints' exclusion subquery becomes
    negative-balance suppliers (s_acctbal < 0), excluded via a
    broadcast anti-join. Integer distinct-counts — UNROUNDED; the
    full sort is on the small grouped result."""
    from marketdatapipeline_spark.sources.tables import load_table

    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    j = li.join(
        F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
    ).join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register_extended(
    "tpch_q20_promotion_suppliers",
    """
    WITH q AS (
        SELECT l.l_suppkey, l.l_partkey,
               CAST(sum(CASE WHEN l.l_shipdate >= TIMESTAMP '1997-01-01'
                              AND l.l_shipdate < TIMESTAMP '1998-01-01'
                        THEN CAST(l.l_quantity AS DECIMAL(28,10))
                        ELSE CAST(0 AS DECIMAL(28,10)) END)
                    AS DOUBLE) AS qty_1997,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(28,10)))
                    AS DOUBLE) AS qty_total
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'small%'
        GROUP BY l.l_suppkey, l.l_partkey
    ),
    hot AS (
        SELECT DISTINCT l_suppkey FROM q
        WHERE qty_1997 > 0.5 * qty_total
    )
    SELECT s.s_name, n.n_name AS nation,
           CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM hot h
    JOIN supplier s ON h.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY s.s_name
    """,
)
def q_tpch_q20_promotion_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 adapted (potential part promotion): suppliers who
    shipped more than half of their all-time volume of 'small%'
    parts during 1997 — the excess-inventory screen restated from
    shipments (no partsupp availqty in the fixture). Quantities sum
    as decimals per (supplier, part) with a null-free conditional
    (ELSE 0 keeps the 1997 sum non-null), the 0.5 comparison runs on
    identical doubles in both engines, and the supplier/nation
    decoration is broadcast. s_name is unique — deterministic
    order."""
    from marketdatapipeline_spark.sources.tables import load_table

    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    li = load_table(spark, sf_dir, "lineitem")
    in97 = (
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    dec = "decimal(28,10)"
    q = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(in97, F.col("l_quantity").cast(dec)).otherwise(
                    F.lit(0).cast(dec)
                )
            )
            .cast("double")
            .alias("qty_1997"),
            F.sum(F.col("l_quantity").cast(dec))
            .cast("double")
            .alias("qty_total"),
        )
    )
    hot = (
        q.filter(F.col("qty_1997") > F.lit(0.5) * F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        hot.join(F.broadcast(supp), hot.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select(
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
        )
        .orderBy("s_name")
    )


@register_extended(
    "tpch_q21_waiting_suppliers",
    """
    WITH per_supp AS (
        SELECT l_orderkey, l_suppkey, max(l_shipdate) AS supp_last
        FROM lineitem GROUP BY l_orderkey, l_suppkey
    ),
    per_order AS (
        SELECT l_orderkey,
               max(supp_last) AS order_last,
               count(*) AS n_supps,
               count(CASE WHEN supp_last = mx THEN 1 END) AS n_at_max
        FROM (
            SELECT l_orderkey, l_suppkey, supp_last,
                   max(supp_last) OVER (PARTITION BY l_orderkey) AS mx
            FROM per_supp
        ) t
        GROUP BY l_orderkey
    )
    SELECT s.s_name,
           CAST(count(*) AS BIGINT) AS numwait
    FROM per_supp ps
    JOIN per_order po ON ps.l_orderkey = po.l_orderkey
    JOIN orders o ON ps.l_orderkey = o.o_orderkey
    JOIN supplier s ON ps.l_suppkey = s.s_suppkey
    WHERE po.n_supps > 1
      AND po.n_at_max = 1
      AND ps.supp_last = po.order_last
      AND o.o_orderstatus = 'F'
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q_tpch_q21_waiting_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q21 adapted (suppliers who kept orders waiting): in
    finished multi-supplier orders, the UNIQUE last-to-ship supplier
    is the one every other participant waited on — the
    commit/receipt-date lateness test restated on ship dates (the
    only dates the fixture carries). Two hash aggs build per-supplier
    and per-order last-ship tables (timestamp max — exact), the
    unique-blocker test is an integer count at the order grain, and
    the top-20 cut ties break on the unique s_name. The fact table
    aggregates BEFORE any join, so only order-grain rows shuffle.
    r12 reshape: the order-grain stats are STACKED WINDOW columns
    over the (order, supplier) table instead of a groupBy + self-join
    — the old plan consumed the unpersisted per-supplier agg twice
    (full fact re-aggregation) and re-exchanged it for the join; now
    one agg, one orderkey exchange shared by the finished-order
    semi-join and both window passes, no self-join."""
    from marketdatapipeline_spark.sources.tables import load_table

    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    orders_f = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    per_supp = (
        li.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("supp_last"))
        # finished orders only, BEFORE the window pass (drops whole
        # orders, so the per-order counts below are unchanged)
        .join(
            orders_f,
            F.col("l_orderkey") == orders_f.o_orderkey,
            "left_semi",
        )
    )
    wmx = W.partitionBy("l_orderkey")
    flagged = per_supp.withColumn(
        "mx", F.max("supp_last").over(wmx)
    ).withColumns(
        {
            "n_supps": F.count(F.lit(1)).over(wmx),
            "n_at_max": F.count(
                F.when(F.col("supp_last") == F.col("mx"), F.lit(1))
            ).over(wmx),
        }
    )
    supp = load_table(spark, sf_dir, "supplier")
    j = flagged.filter(
        (F.col("n_supps") > 1)
        & (F.col("n_at_max") == 1)
        & (F.col("supp_last") == F.col("mx"))
    ).join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
    return (
        j.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# r9 second wave: ANN threshold calibration + session path analytics
# ---------------------------------------------------------------------------

from marketdatapipeline_spark.similarity.search import (  # noqa: E402
    cosine_pairs_above,
)


@register_extended(
    "embeddings_distance_histogram",
    """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings WHERE vec_id % 7 = 0
    ),
    pairs AS (
        SELECT CAST(floor(
                   (list_dot_product(a.emb, b.emb)
                    / (sqrt(list_dot_product(a.emb, a.emb))
                       * sqrt(list_dot_product(b.emb, b.emb)))) * 20.0
               ) AS INT) AS bin
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT bin,
           CAST(bin AS DOUBLE) / 20.0 AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(count(*) AS DOUBLE)
                 / CAST(sum(count(*)) OVER () AS DOUBLE), 6) + 0.0
               AS share
    FROM pairs
    GROUP BY bin
    ORDER BY bin
    """,
)
def q_embeddings_distance_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise-cosine histogram over a deterministic 1-in-7 embedding
    sample (0.05-wide bins) — the calibration curve behind every
    near-dup/ANN threshold choice: where the intra-duplicate mass
    separates from the background bulk. Cosines are the exact
    double-fold values (bit-identical across engines — the
    list_dot_product mirror similarity_cosine_pairs pins), so the
    floor binning cannot tie-flip; counts are integers; only the
    share ratio rounds. The sample bound keeps the quadratic pair
    stage at calibration scale (a production sweep would sample by
    hash the same way); pairs come from the blocked numpy-matmul
    path, never a per-pair expression join."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") % 7 == 0)
    pairs = cosine_pairs_above(
        emb,
        threshold=-1.1,
        method="blocked",
        # shrink the kernel fan-out to the 1-in-7 sample (routing only)
        size_hint=_pq_rows(spark, sf_dir, "embeddings") // 7 + 1,
    )
    binned = pairs.select(
        F.floor(F.col("cosine") * F.lit(20.0)).cast("int").alias("bin")
    )
    g = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n_pairs"))
    from pyspark.sql import Window as W

    tot = F.sum("n_pairs").over(W.partitionBy())
    return g.select(
        "bin",
        (F.col("bin").cast("double") / F.lit(20.0)).alias("bin_lo"),
        "n_pairs",
        _r6(
            F.col("n_pairs").cast("double") / tot.cast("double")
        ).alias("share"),
    ).orderBy("bin")


@register_extended(
    "events_top_session_paths",
    f"""
    WITH pf AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS st
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pn AS (
        SELECT user_id, ts, event_id, event_type,
               sum(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
        FROM pf
    ),
    ranked AS (
        SELECT user_id, session_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY ts, event_id
               ) AS rn
        FROM pn
    ),
    paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 3
        GROUP BY user_id, session_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def q_events_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session-opening event paths (first 3 events of each
    30-minute-gap session, joined with '>') — the funnel-discovery
    view product analytics runs before committing to a fixed funnel
    definition. Session numbering follows the catalog's one boundary
    convention (strictly-beyond-gap starts a session, event_id ties);
    the path string is an ordered in-session aggregation (rn is
    unique, so the collected order is deterministic); counts are
    integers and the top-20 cut tie-breaks on the path string."""
    from marketdatapipeline_spark.sources.tables import load_table
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    st = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")),
        F.lit(1),
    ).otherwise(F.lit(0))
    flagged = ev.select("user_id", "ts", "event_id", "event_type", st.alias("st"))
    numbered = flagged.withColumn(
        "session_id",
        F.sum("st").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    ws = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    ranked = numbered.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") <= 3
    )
    paths = ranked.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


@register_extended(
    "embeddings_knn_label_purity",
    """
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings WHERE vec_id % 7 = 0
    ),
    scored AS (
        SELECT a.vec_id AS anchor, a.label AS anchor_label,
               b.vec_id AS nbr, b.label AS nbr_label,
               list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    topk AS (
        SELECT anchor, anchor_label, nbr_label,
               row_number() OVER (
                   -- NaN cosines (zero-norm embeddings) rank LAST to
                   -- match the Spark kernel's Arrow-NULL + DESC NULLS
                   -- LAST convention; bare DESC in DuckDB sorts NaN
                   -- greater than every number (FIRST)
                   PARTITION BY anchor
                   ORDER BY isnan(cosine), cosine DESC, nbr
               ) AS rnk
        FROM scored
    ),
    per_anchor AS (
        SELECT anchor, anchor_label,
               count(CASE WHEN nbr_label = anchor_label THEN 1 END)
                   AS n_match
        FROM topk WHERE rnk <= 3
        GROUP BY anchor, anchor_label
    )
    SELECT anchor_label AS label,
           CAST(count(*) AS BIGINT) AS n_anchors,
           CAST(sum(n_match) AS BIGINT) AS n_label_matches,
           round(CAST(sum(n_match) AS DOUBLE)
                 / (3.0 * CAST(count(*) AS DOUBLE)), 6) + 0.0
               AS purity_at_3
    FROM per_anchor
    GROUP BY anchor_label
    ORDER BY anchor_label
    """,
)
def q_embeddings_knn_label_purity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """kNN label purity at k=3 over the deterministic 1-in-7 sample:
    for each anchor, how many of its 3 nearest neighbors (exact
    cosine) share its label — the retrieval-quality audit run before
    trusting an embedding space for labeled dedup or search.
    Cosines are exact double folds (bit-identical across engines)
    and the top-3 cut tie-breaks on the neighbor id, so the
    neighbor sets are engine-identical; counts are integers; only
    the purity ratio rounds. The kNN stage is the blocked
    local-topk-then-merge shape (similarity/search.py
    cosine_knn_all): each block pair emits per-anchor local top-3,
    so the exchange carries O(n·blocks·k) candidate rows — never
    the O(n^2) scored pair set (r11; the old window-over-all-pairs
    shuffle was this query's scale liability)."""
    from marketdatapipeline_spark.similarity.search import cosine_knn_all

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") % 7 == 0)
    lab = emb.select("vec_id", "label")
    top3 = cosine_knn_all(
        emb,
        k=3,
        # parquet-footer row count / 7 bounds the sample: shrinks the
        # block fan-out to the data (routing only — any block count
        # returns identical rows)
        size_hint=_pq_rows(spark, sf_dir, "embeddings") // 7 + 1,
    )
    j = (
        top3.join(
            F.broadcast(lab.select(F.col("vec_id").alias("anchor"),
                                   F.col("label").alias("anchor_label"))),
            "anchor",
        )
        .join(
            F.broadcast(lab.select(F.col("vec_id").alias("nbr"),
                                   F.col("label").alias("nbr_label"))),
            "nbr",
        )
    )
    per = j.groupBy("anchor", "anchor_label").agg(
        F.count(
            F.when(F.col("nbr_label") == F.col("anchor_label"), F.lit(1))
        ).alias("n_match")
    )
    return (
        per.groupBy(F.col("anchor_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_anchors"),
            F.sum("n_match").alias("n_label_matches"),
        )
        .select(
            "label",
            "n_anchors",
            "n_label_matches",
            _r6(
                F.col("n_label_matches").cast("double")
                / (F.lit(3.0) * F.col("n_anchors").cast("double"))
            ).alias("purity_at_3"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# BPE merge induction (r14) — textops/bpe.py
# ---------------------------------------------------------------------------

#: DuckDB twin of textops/bpe.py's flanked-separator symbol state and
#: weighted pair counting. chr(31) = the SEP constant.
_BPE_N_MERGES = 10


def _bpe_base_sql() -> str:
    return f"""
    toks AS (
        SELECT unnest(regexp_extract_all(text, '{_BPE_SQL}')) AS w
        FROM documents
    ),
    wf AS (
        SELECT w, count(*) AS f FROM toks
        WHERE strpos(w, chr(31)) = 0 GROUP BY w
    ),
    w0 AS (
        SELECT chr(31) || array_to_string(string_split(w, ''),
                                          chr(31) || chr(31))
               || chr(31) AS s, f
        FROM wf
    )"""


def _bpe_pairs_sql(i: int, src: str | None = None) -> str:
    src = src or f"w{i}"
    return f"""
    p{i} AS (
        SELECT (pp).l AS pl, (pp).r AS pr, sum(f) AS c
        FROM (
            SELECT unnest(list_transform(
                       range(1, len(cs)),
                       j -> struct_pack(l := cs[j], r := cs[j + 1])))
                       AS pp, f
            FROM (SELECT string_split(substr(s, 2, length(s) - 2),
                                      chr(31) || chr(31)) AS cs, f
                  FROM {src})
        )
        GROUP BY pl, pr
    )"""


def _bpe_merges_sql(n: int) -> str:
    parts = ["WITH " + _bpe_base_sql()]
    for i in range(n):
        parts.append(_bpe_pairs_sql(i))
        parts.append(
            f"""
    b{i} AS (SELECT pl, pr, c FROM p{i}
             ORDER BY c DESC, pl, pr LIMIT 1)"""
        )
        if i < n - 1:
            parts.append(
                f"""
    w{i + 1} AS (
        SELECT replace(w.s,
                       chr(31) || b.pl || chr(31) || chr(31) || b.pr
                           || chr(31),
                       chr(31) || b.pl || b.pr || chr(31)) AS s, w.f
        FROM w{i} w CROSS JOIN b{i} b
    )"""
            )
    union = "\n    UNION ALL ".join(
        f"SELECT CAST({i + 1} AS INT) AS merge_rank, pl AS pair_left, "
        f"pr AS pair_right, CAST(c AS BIGINT) AS pair_count FROM b{i}"
        for i in range(n)
    )
    return ",".join(parts) + "\n    " + union


@register_extended(
    "corpus_bpe_pair_counts",
    f"""
    WITH {_bpe_base_sql().split('w0 AS')[0]}
    pc AS (
        SELECT (pp).l AS pl, (pp).r AS pr, sum(f) AS c
        FROM (
            SELECT unnest(list_transform(
                       range(1, len(cs)),
                       j -> struct_pack(l := cs[j], r := cs[j + 1])))
                       AS pp, f
            FROM (SELECT string_split(w, '') AS cs, f FROM wf)
        )
        GROUP BY pl, pr
    )
    SELECT pl AS pair_left, pr AS pair_right, CAST(c AS BIGINT) AS pair_count
    FROM pc ORDER BY c DESC, pl, pr LIMIT 50
    """,
)
def q_corpus_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iteration-0 BPE merge candidates (textops/bpe.py:
    bpe_pair_counts): adjacent character-pair counts over the
    corpus's distinct pre-tokens, weighted by pre-token frequency —
    the table the first merge is chosen from. One corpus-sized
    pre-token explode + count; pair counting runs on the
    vocabulary-sized table. Top-50 under a deterministic total order
    (count desc, pair lex asc), so both engines pick the identical
    set. Integer counts + strings — bit-exact."""
    from marketdatapipeline_spark.textops.bpe import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), top_k=50)


@register_extended(
    "corpus_bpe_merges",
    _bpe_merges_sql(_BPE_N_MERGES),
)
def q_corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 10 learned BPE merges (textops/bpe.py:
    bpe_learn_merges): per iteration, the weighted argmax adjacent
    pair (ties lexicographic) is merged greedily left-to-right via
    the flanked-separator literal replace, and counts recompute on
    the merged state — the ratchet a recursive walk can't shortcut.
    The oracle unrolls the 10 iterations as chained CTEs over
    DuckDB's identical replace semantics; every (rank, left, right,
    count) cell pins the full merge trajectory. Spark's per-iteration
    argmax is a distributed top-1 with a one-row collect (the
    bounded-manifest shape)."""
    from marketdatapipeline_spark.textops.bpe import bpe_learn_merges

    return bpe_learn_merges(_docs(spark, sf_dir), n_merges=_BPE_N_MERGES)


def _bpe_encode_sql(n: int) -> str:
    """Encode-side oracle: the same merge trajectory, with the word
    column carried through so the final vocabulary state joins back
    to per-document pre-tokens."""
    parts = [
        "WITH " + _bpe_base_sql().split("w0 AS")[0].rstrip().rstrip(",")
    ]
    parts.append(
        """
    v0 AS (
        SELECT w,
               chr(31) || array_to_string(string_split(w, ''),
                                          chr(31) || chr(31))
               || chr(31) AS s, f
        FROM wf
    )"""
    )
    for i in range(n):
        parts.append(_bpe_pairs_sql(i, src=f"v{i}"))
        parts.append(
            f"""
    b{i} AS (SELECT pl, pr, c FROM p{i}
             ORDER BY c DESC, pl, pr LIMIT 1)"""
        )
        parts.append(
            f"""
    v{i + 1} AS (
        SELECT v.w,
               replace(v.s,
                       chr(31) || b.pl || chr(31) || chr(31) || b.pr
                           || chr(31),
                       chr(31) || b.pl || b.pr || chr(31)) AS s, v.f
        FROM v{i} v CROSS JOIN b{i} b
    )"""
        )
    parts.append(
        f"""
    vocab AS (
        SELECT w, len(string_split(substr(s, 2, length(s) - 2),
                                   chr(31) || chr(31))) AS nsym
        FROM v{n}
    ),
    dt AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '{_BPE_SQL}')) AS w
        FROM documents
    ),
    agg AS (
        SELECT doc_id, count(*) AS np, sum(nsym) AS nv
        FROM dt JOIN vocab USING (w)
        WHERE strpos(w, chr(31)) = 0
        GROUP BY doc_id
    )"""
    )
    return (
        ",".join(parts)
        + """
    SELECT d.doc_id,
           CAST(coalesce(a.np, 0) AS INT) AS n_pretokens,
           CAST(coalesce(a.nv, 0) AS BIGINT) AS n_tokens_vocab
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """
    )


@register_extended(
    "corpus_bpe_encoded_tokens",
    _bpe_encode_sql(_BPE_N_MERGES),
)
def q_corpus_bpe_encoded_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the learned 10-merge BPE
    vocabulary (textops/bpe.py:bpe_encode_token_counts) — the budget
    metric AFTER tokenizer induction (corpus_token_estimate's
    pre-tokenizer count is the before). The merges are applied to the
    DISTINCT vocabulary (10 chained literal replaces — one
    vocabulary-sized projection), then one corpus-sized pre-token
    explode joins each document's tokens to their symbol counts. The
    oracle replays the identical trajectory with the word column
    carried through its CTE chain. Integer counts — bit-exact."""
    from marketdatapipeline_spark.textops.bpe import (
        bpe_encode_token_counts,
    )

    return bpe_encode_token_counts(
        _docs(spark, sf_dir), n_merges=_BPE_N_MERGES
    )
