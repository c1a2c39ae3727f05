"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

All hashing is deterministic and cross-engine reproducible: the base
string hash is the first 8 hex digits of md5 as an integer (identical
in Spark and DuckDB, so every operator here is DuckDB-oracle-checkable),
and the MinHash family is the standard universal-hash construction
h_i(x) = (a_i * H(x) + b_i) mod p over that base hash.

.. note:: **API change (r5)** — ``jaccard_similar_pairs`` and
   ``minhash_near_duplicates`` compute **hashed-set** Jaccard: shingle
   strings collapse to their 32-bit md5-derived base hash *before* the
   distinct step, so similarity, set sizes (``n_sh``), and
   intersections are all defined over the hash set. A 32-bit collision
   deterministically merges two shingles (probability ~ n_shingles^2 /
   2^33 per doc — negligible below ~10^4 distinct shingles/doc), and
   both engines reproduce it identically. Callers comparing against
   pre-r5 string-set Jaccard values should expect rare, deterministic
   differences on colliding corpora; the motivation is scale (bigint
   joins/intersections instead of multi-word strings in every shuffle).

Scale design (100 TB corpora):
- shingling explodes each doc into k-grams: shuffle-free (narrow);
- exact dedup / signature building are single hash-aggregations with
  map-side partial aggregation;
- candidate generation is an equi-join on LSH band keys — only docs
  sharing a band collide, never all-pairs;
- the Jaccard verifier joins candidate pairs back to shingle sets,
  so verification cost is proportional to candidates, not n^2.

Each piece of the MinHash-LSH layer is written once, here, and shared
by the operators below and by
:class:`~marketdatapipeline_spark.textops.incremental.LSHDedupStore`:
:func:`lsh_band_keys` (the band-key formula, which is also the store's
persisted ``keys/`` format), ``_verified_pairs`` (the ``array_intersect``
check of candidate pairs against collected shingle-hash sets) and
``_cooccurrence_pairs`` (the exact ``_h`` self-join behind
:func:`jaccard_similar_pairs`, :func:`jaccard_pairs_with_lsh_flag` and
:func:`minhash_estimate_quality`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from marketdatapipeline_spark.caching import scoped_persist

#: Mersenne prime 2^31 - 1 for the universal hash family.
MERSENNE_P = 2_147_483_647


def md5_int(col: Column) -> Column:
    """First 32 bits of md5 as a bigint — the cross-engine base hash.

    DuckDB equivalent: ``CAST(('0x' || substr(md5(x),1,8)) AS UBIGINT)``.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for h_i = (a*H + b) mod p.

    Knuth multiplicative constants — fixed arithmetic, no RNG state, so
    the same integers can be embedded in oracle SQL text.
    """
    coeffs = []
    for i in range(num_hashes):
        a = ((i + 1) * 2_654_435_761) % MERSENNE_P | 1
        b = ((i + 1) * 40_503) % MERSENNE_P
        coeffs.append((a, b))
    return coeffs


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hash-groupBy exact dedup summary: one row per distinct text with
    its cardinality and the kept (minimum) id."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def deduplicate_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the smallest-id row per distinct text. At scale this is one
    shuffle on the 128-bit text hash; the min-id rule makes the result
    deterministic under any partitioning."""
    keep = exact_duplicate_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shingling + Jaccard
# ---------------------------------------------------------------------------


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) per word n-gram occurrence (repeats kept).

    Tokens are whitespace-split ONCE per document; shingle i joins
    tokens [i, i+n) with a single space. The n-grams come from zipping
    n offset slices of the token array — slice j starts at token j+1
    and holds ``size - (n-1)`` tokens — and exploding the zip, so the
    plan is codegen projections around one Generate. No higher-order
    function: a ``transform`` lambda over shingle positions runs
    interpreted, outside whole-stage codegen, and re-evaluates the
    regex split for every shingle (exploding the sf0.1 documents' 3-word
    shingles took 1.59 s that way against 0.32 s here, at 4 cores).

    Docs with < n tokens get a zero slice length, hence an empty zip,
    and drop out on explode; NULL text zips to NULL and drops out the
    same way. The ``greatest(.., 0)`` guard matters: a position
    ``sequence(1, size - (n-1))`` would be the DESCENDING [1, 0] for
    short docs, and a negative slice length throws at runtime — short
    and empty docs are ubiquitous in real corpora.
    """
    words = df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_w")
    )
    length = F.greatest(F.size("_w") - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice("_w", j + 1, length) for j in range(n)])
    z = F.col("_z")
    return words.select(F.col(id_col), F.explode(zipped).alias("_z")).select(
        F.col(id_col),
        F.concat_ws(" ", *[z.getField(str(j)) for j in range(n)]).alias("shingle"),
    )


def word_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-grams per document: (id, shingle). Exactly
    reproducible in SQL on both engines."""
    return _shingle_rows(df, id_col, text_col, n).distinct()


def shingle_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct hashed word n-grams per document: (id, ``_h`` bigint),
    ``_h`` = :func:`md5_int` of the shingle string — the hashed-set
    table every Jaccard, MinHash and containment operator here builds
    on. The distinct runs AFTER hashing, so a 32-bit collision between
    two shingles of one document merges them (the module's hashed-set
    convention) and shingle text never reaches an exchange."""
    return (
        _shingle_rows(df, id_col, text_col, n)
        .select(F.col(id_col), md5_int(F.col("shingle")).alias("_h"))
        .distinct()
    )


def _minhash_aggs(num_hashes: int) -> list[Column]:
    """mh_i = min over a doc's ``_h`` of (a_i * _h + b_i) mod p."""
    h = F.col("_h")
    return [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(hash_coeffs(num_hashes))
    ]


def minhash_doc_table(
    df: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Fused per-doc MinHash table: ONE explode + ONE aggregation emits
    the signature ``mh_0 .. mh_{k-1}``, the hashed shingle set ``_sh``
    and its size ``n_sh``. The shared build side of
    :func:`minhash_near_duplicates` and the incremental LSH store. Docs
    with < n tokens vanish (no shingles — they cannot near-duplicate
    anything)."""
    return shingle_hashes(df, id_col, text_col, n).groupBy(id_col).agg(
        *_minhash_aggs(num_hashes),
        F.collect_list("_h").alias("_sh"),
        F.count("*").alias("n_sh"),
    )


def _jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) of the ``(id_a, id_b, inter, n_a, n_b)``
    pair rows whose hashed-set Jaccard ``inter / (n_a + n_b - inter)``
    is >= threshold."""
    jaccard = F.col("inter") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    return pairs.select("id_a", "id_b", jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _cooccurrence_pairs(sh: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, inter, n_a, n_b), ``id_a < id_b``, for every pair of
    documents sharing at least one shingle hash: the exact co-occurrence
    self-join on ``_h`` over a (persisted) :func:`shingle_hashes` table,
    which feeds the set sizes and both join sides. Cost is bounded by
    shared-shingle co-occurrence, not n^2."""
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "_h")
    b = sh.select(F.col(id_col).alias("id_b"), "_h")
    inter = (
        a.join(b, on="_h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def _verified_pairs(
    candidates: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
    id_col: str,
) -> DataFrame:
    """(id_a, id_b, jaccard) of the candidate pairs whose hashed-set
    Jaccard is >= threshold. ``sets_a`` and ``sets_b`` are
    ``(id, _sh, n_sh)`` tables (one collected shingle-hash array per
    document, :func:`minhash_doc_table`) that ``id_a`` and ``id_b`` join
    to: two equi-joins attach a doc-sized array per pair side, then a
    codegen ``array_intersect`` per pair counts the overlap — never a
    replication of the pair list by per-doc shingle count. Pairs with an
    empty intersection are dropped (as the co-occurrence join does
    implicitly), which is equivalent for any ``threshold > 0``."""
    pa = sets_a.select(
        F.col(id_col).alias("id_a"),
        F.col("_sh").alias("_sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    pb = sets_b.select(
        F.col(id_col).alias("id_b"),
        F.col("_sh").alias("_sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    pairs = (
        candidates.join(pa, "id_a")
        .join(pb, "id_b")
        .select("id_a", "id_b", "n_a", "n_b", inter.alias("inter"))
        .filter(F.col("inter") > 0)
    )
    return _jaccard_at_least(pairs, threshold)


def jaccard_similar_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Document pairs with shingle-set Jaccard >= threshold: the exact
    co-occurrence self-join of the shingle-hash table (cost bounded by
    shared-shingle co-occurrence, not n^2). For the candidate-pruned
    100 TB path use :func:`minhash_near_duplicates`.

    Operates on the 32-bit shingle HASHES (hashed-set Jaccard, as in
    minhash_near_duplicates): the distinct step, the co-occurrence join
    and the intersections all work on bigints instead of multi-word
    strings, and the hashed table is persisted for its multiple
    consumers. A 32-bit collision merging two shingles is deterministic
    and reproduced exactly by the SQL oracles.
    """
    sh = scoped_persist(shingle_hashes(df, id_col, text_col, n))
    return _jaccard_at_least(_cooccurrence_pairs(sh, id_col), threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(
    df: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """MinHash signature per document: columns mh_0 .. mh_{k-1}.

    One aggregation over the shingle table: mh_i = min over shingles of
    (a_i * H(shingle) + b_i) mod p. Map-side partial mins make this a
    single cheap shuffle at any scale.
    """
    # The md5 base hash is materialized ONCE per shingle by
    # shingle_hashes; the k aggregates reuse the bigint (Catalyst does
    # not CSE md5 across separate aggregate expressions).
    return (
        shingle_hashes(df, id_col, text_col, n)
        .groupBy(id_col)
        .agg(*_minhash_aggs(num_hashes))
    )


def lsh_band_keys(
    signatures: DataFrame,
    bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band_key): one row per document and LSH band.

    The ``mh_`` signature columns are split into ``bands`` contiguous
    slices; the band key is ``xxhash64(lit(b), slice)``, the 64-bit hash
    of the slice seeded with the band index so identical slices never
    collide across bands. This is the persisted format of
    :class:`~marketdatapipeline_spark.textops.incremental.LSHDedupStore`'s
    ``keys/`` table as well as the key of every candidate equi-join: a
    change to it makes every existing store match nothing.

    The 8-byte hashed key replaces the r14 string key (band index +
    ``r`` decimal-printed 61-bit signature values concat-ws'd: ~80
    bytes) — ~10x narrower band-shuffle payload and a bigint join key
    instead of string equality (guide §2.3 "narrower types"/"shuffle
    keys instead of payloads"). Two slices colliding here but not under
    the string key would need an xxhash64 collision between distinct
    (band, slice) tuples — the module's hashed-key convention (see
    :func:`md5_int`; 64-bit space, ~1e-11 odds at 1e4 keys), and a
    false CANDIDATE is additionally filtered by the exact-Jaccard
    verification every consumer applies.
    """
    mh_cols = sorted(
        (c for c in signatures.columns if c.startswith("mh_")),
        key=lambda c: int(c.split("_")[1]),
    )
    if bands < 1 or len(mh_cols) % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide the signature width "
            f"({len(mh_cols)} mh_ columns) evenly — trailing columns "
            f"would be silently ignored and recall silently changed"
        )
    rows_per_band = len(mh_cols) // bands
    band_keys = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[
                    F.col(c)
                    for c in mh_cols[b * rows_per_band : (b + 1) * rows_per_band]
                ],
            )
            for b in range(bands)
        ]
    )
    return signatures.select(F.col(id_col), F.explode(band_keys).alias("band_key"))


def _band_pairs(keyed: DataFrame, id_col: str, stream: str = "id_a") -> DataFrame:
    """Distinct (id_a, id_b) pairs, ``id_a < id_b``, of the
    :func:`lsh_band_keys` rows that share a band key: ONE self-equi-join
    on band_key — one shuffle on band_key regardless of band count,
    instead of a join+union per band.

    ``stream`` names the join's left side ("id_a" or "id_b"). A
    broadcast join streams that side and keeps its partitioning, which
    the keyed rows inherit from a per-document table: the operators
    verify by ``id_a`` first, while the store picks one match per
    larger (``id_b``) batch document, and with ``id_b`` streamed that
    window needs no shuffle."""
    build = "id_b" if stream == "id_a" else "id_a"
    left = keyed.select(F.col(id_col).alias(stream), "band_key")
    right = keyed.select(F.col(id_col).alias(build), "band_key")
    return (
        left.join(right, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs (id_a < id_b) whose signatures collide in >= 1
    LSH band: the band-key self-join of :func:`lsh_band_keys`.
    Probability of collision ~ 1-(1-j^r)^b for Jaccard j.
    Value-checked cell-exact against the oracle at three scale tiers.
    """
    return _band_pairs(lsh_band_keys(signatures, bands, id_col), id_col)


def minhash_near_duplicates(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature -> banded
    candidates -> exact Jaccard verification >= threshold.

    The shingle table is exploded and aggregated ONCE
    (:func:`minhash_doc_table`): the same groupBy emits the k signature
    mins, the collected shingle-hash set, and its size per document.
    Candidates branch off the signatures
    (explode band keys + one self-equi-join); verification joins the
    candidate pairs back to the same per-doc row for the
    ``array_intersect`` Jaccard. Composing :func:`minhash_signature` +
    :func:`jaccard_similar_pairs` instead would scan and explode the
    corpus twice — the per-doc table here is the natural shared build
    side, and it is persisted because three plan branches consume it
    (signatures, verify-left, verify-right); without the cache each
    branch re-runs the explode + aggregation.

    Verification operates on the 32-bit shingle HASHES, not the shingle
    strings: the distinct step dedups (id, hash) — a far narrower
    aggregation than (id, ~n-word string) — and ``array_intersect``
    compares bigints instead of long strings. The reported ``jaccard``
    is therefore hashed-set Jaccard (the standard large-corpus
    formulation; a 32-bit collision merging two shingles is
    deterministic and reproduced exactly by the SQL oracle)."""
    docs = scoped_persist(minhash_doc_table(df, num_hashes, id_col, text_col, n))
    cands = lsh_candidate_pairs(
        docs.select(id_col, *[f"mh_{i}" for i in range(num_hashes)]), bands, id_col
    )
    return _verified_pairs(cands, docs, docs, threshold, id_col)


def jaccard_pairs_with_lsh_flag(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact Jaccard pairs >= threshold, each annotated with whether
    MinHash-LSH banding would have produced it as a candidate
    (``lsh_found``) — the recall-measurement shape: one query yields
    ground truth AND the pruner's hits on it.

    The shingle-hash table is built ONCE and persisted for its four
    consumers (sizes, both co-occurrence join sides, signature
    aggregation); composing :func:`jaccard_similar_pairs` +
    :func:`minhash_signature` instead would explode the corpus twice.
    Jaccard here is hashed-set Jaccard (module note)."""
    sh = scoped_persist(shingle_hashes(df, id_col, text_col, n))
    exact = _jaccard_at_least(_cooccurrence_pairs(sh, id_col), threshold)
    sigs = sh.groupBy(id_col).agg(*_minhash_aggs(num_hashes))
    cands = lsh_candidate_pairs(sigs, bands, id_col).withColumn("_f", F.lit(True))
    return exact.join(cands, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "jaccard",
        F.coalesce(F.col("_f"), F.lit(False)).alias("lsh_found"),
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "blocked",
    **kwargs,
) -> DataFrame:
    """Embedding-cosine near-dup verdicts: one row per input id with
    ``keep`` (no lower-id vector has cosine >= threshold with it) and
    ``dup_of`` (the smallest such lower id, null when kept).

    The keep-lowest-id policy matches the text-dedup convention
    (exact_duplicate_groups, the curation pipeline), so mixed
    text+embedding dedup stages compose with identical semantics.
    Candidate generation delegates to
    :func:`marketdatapipeline_spark.similarity.search.cosine_pairs_above`
    — ``method="blocked"`` for exact, ``"lsh"`` for the banded
    100 TB path; cost and recall characteristics are documented there.
    """
    from marketdatapipeline_spark.similarity.search import cosine_pairs_above

    pairs = cosine_pairs_above(
        df, threshold, id_col=id_col, vec_col=vec_col, method=method, **kwargs
    )
    dup_of = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("dup_of")
    )
    return df.select(id_col).join(dup_of, id_col, "left").select(
        id_col,
        F.col("dup_of").isNull().alias("keep"),
        "dup_of",
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash over whitespace tokens (term-frequency weighted).

    Bit b of the fingerprint is the sign of sum over tokens of
    (+1 if bit b of H(token) else -1). One explode + one aggregation;
    near-dup search then compares Hamming distance on the fingerprints.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    # Materialize the md5 base hash ONCE per token: Catalyst does not
    # CSE md5 across the per-bit aggregate expressions, so without the
    # projection the digest would be computed `bits` times per token.
    tok = df.select(F.col(id_col), F.explode(words).alias("token")).select(
        F.col(id_col), md5_int(F.col("token")).alias("_h")
    )
    h = F.col("_h")
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_aggs)
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(2**b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select(F.col(id_col), fingerprint.alias("simhash"))


def containment_similar_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Ordered document pairs with shingle-set CONTAINMENT
    ``|A ∩ B| / |A|`` >= threshold — the asymmetric cousin of
    :func:`jaccard_similar_pairs` that Jaccard structurally misses: a
    short document pasted verbatim inside a much longer one has
    containment ~1 but Jaccard ~|A|/|B| (arbitrarily small). The
    standard second screen in corpus dedup (quote-farms, boilerplate
    wrappers, doc-in-doc aggregation pages).

    Emits BOTH directions when both clear the threshold (contained-in
    is not symmetric); ``id_a`` is the contained side. Same hashed-set
    machinery and cost shape as the exact Jaccard path: co-occurrence
    join on 32-bit shingle hashes (bigints in the shuffle), never n²
    and never strings."""
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    sh = scoped_persist(shingle_hashes(df, id_col, text_col, n))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "_h")
    b = sh.select(F.col(id_col).alias("id_b"), "_h")
    pairs = (
        a.join(b, on="_h")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    return (
        pairs.join(sa, "id_a")
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / F.col("n_a").cast("double")).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )


def minhash_estimate_quality(
    df: DataFrame,
    threshold: float = 0.2,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
) -> DataFrame:
    """(id_a, id_b, jaccard, n_agree, est_jaccard, err): the sketch-
    accuracy audit — for every pair whose TRUE hashed-set Jaccard
    meets ``threshold``, the MinHash estimate (fraction of agreeing
    signature components; E[est] = J, sd = sqrt(J(1-J)/k)) placed
    next to the truth. The production use: pick ``num_hashes``/band
    geometry from measured error on a corpus sample instead of
    folklore; complements ``jaccard_pairs_with_lsh_flag`` (which
    audits candidate RECALL, not estimate accuracy).

    One shingle-hash table feeds all consumers (sizes, both join
    sides, the signature aggregation); everything shuffles bigints.
    Truth and estimate are integer ratios — engine-exact, UNROUNDED.
    """
    sh = scoped_persist(shingle_hashes(df, id_col, text_col, n))
    pairs = _jaccard_at_least(_cooccurrence_pairs(sh, id_col), float(threshold))
    sigs = sh.groupBy(id_col).agg(*_minhash_aggs(num_hashes))
    siga = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"_ma{i}") for i in range(num_hashes)],
    )
    sigb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"_mb{i}") for i in range(num_hashes)],
    )
    agree = sum(
        F.when(F.col(f"_ma{i}") == F.col(f"_mb{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    out = (
        pairs.join(siga, "id_a")
        .join(sigb, "id_b")
        .withColumn("n_agree", agree.cast("int"))
    )
    est = F.col("n_agree").cast("double") / F.lit(float(num_hashes))
    return out.select(
        "id_a",
        "id_b",
        "jaccard",
        "n_agree",
        est.alias("est_jaccard"),
        (est - F.col("jaccard")).alias("err"),
    )


def duplicate_span_stats(
    df: DataFrame,
    k: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document EXACT-substring duplication audit (the span-level
    signal of Lee et al.'s "Deduplicating Training Data Makes
    Language Models Better"): for every character position, does the
    ``k``-char gram starting there occur verbatim in ANY other
    document? Returns ``id_col``, ``n_grams`` (positions =
    ``len(text) - k + 1``), ``dup_grams`` (positions whose gram is
    cross-document duplicated, multiplicity included), and
    ``dup_frac``. Doc-level near-dup (MinHash/Jaccard) misses a
    paragraph pasted into an otherwise-unique page; this is the
    screen that catches it — high ``dup_frac`` marks boilerplate
    carriers even when the whole document is unique.

    Plan shape (r14/r15 optimization rounds): grams hash to bigints AT
    THE SCAN (explode positions + codegen substr/md5 — no
    higher-order-function lambdas, and no gram text in any exchange);
    the (id, hash) multiplicity agg rides the upstream doc-id
    partitioning (id determines the partition, so clustering by
    (hash, id) is already satisfied — no exchange). The per-gram
    cross-document stats then COMPLEMENT instead of attach: since
    every gram position belongs to exactly one hash,
    ``dup_grams = n_grams - (positions of this doc's single-document
    grams)``, and the single-document side reduces per gram hash to
    O(1) aggregate state (``count``, ``min(id)``, ``sum(c)``) — a
    plain map-combinable groupBy, so a boilerplate gram carried by
    millions of documents collapses to one partial row per map task
    before the ``_h`` exchange (guide §2.5: no hot-key window
    partition, no single-task buffer; the r14 window shape buffered
    every (gram, doc) row of a hot gram in ONE task). The earlier
    agg+self-join shape (pre-r14) planned the scan+explode+md5 pass
    TWICE; this shape keeps the single Generate and needs neither a
    window nor a join back to the gram table. Cross-document
    occurrence is judged on the 32-bit gram hash — the module's
    hashed-set convention, collision odds documented at
    :func:`md5_int`. ``n_grams`` is a pure length expression, so
    short docs (< k chars) cost nothing and emit ``dup_frac`` NULL.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    text = F.col(text_col)
    n_grams = F.greatest(F.length(text) - (k - 1), F.lit(0))
    idx = F.when(
        n_grams > 0, F.sequence(F.lit(1), n_grams)
    ).otherwise(F.array().cast("array<int>"))
    g = df.select(
        F.col(id_col), text.alias("_t"), F.explode(idx).alias("_p")
    ).select(
        id_col, md5_int(F.col("_t").substr(F.col("_p"), F.lit(k))).alias("_h")
    )
    per_doc_gram = g.groupBy("_h", id_col).agg(F.count("*").alias("_c"))
    gstats = per_doc_gram.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_nd"),
        F.min(id_col).alias("_kid"),
        F.sum("_c").alias("_sc"),
    )
    # grams seen in exactly one document: (_kid, _sc) IS that
    # document's (id, multiplicity) — sum them per doc and subtract
    uniq_positions = (
        gstats.filter(F.col("_nd") == 1)
        .groupBy(F.col("_kid").alias(id_col))
        .agg(F.sum("_sc").cast("long").alias("_uniq"))
    )
    base = df.select(F.col(id_col), n_grams.cast("long").alias("n_grams"))
    out = base.join(uniq_positions, id_col, "left").select(
        id_col,
        "n_grams",
        (F.col("n_grams") - F.coalesce("_uniq", F.lit(0)))
        .cast("long")
        .alias("dup_grams"),
    )
    return out.withColumn(
        "dup_frac",
        F.when(
            F.col("n_grams") > 0,
            F.round(
                F.col("dup_grams") / F.col("n_grams").cast("double"), 6
            ),
        ),
    )


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = True,
) -> DataFrame:
    """Cut cross-document duplicated spans out of the text — the
    operator half of Lee et al.'s exact-substring dedup
    (:func:`duplicate_span_stats` is the audit half: it says HOW MUCH
    is duplicated; this removes it). A character position is
    duplicated when some ``k``-gram covering it occurs verbatim in
    another document; runs of duplicated gram starts merge into
    maximal spans (a gram at ``p`` covers ``[p, p+k-1]``), and the
    surviving segments reassemble in original order.

    ``keep_first=True`` (default, the curation-correct mode) keeps
    one canonical copy of every duplicated gram: occurrences in the
    minimum-``id_col`` document carrying that gram survive, so
    content is deduplicated, not destroyed. ``keep_first=False``
    replicates the Lee-et-al tooling's cut-every-copy behavior.

    Returns ``id_col``, ``text_col`` (rewritten), ``n_chars``
    (original length), ``chars_removed``, ``n_spans_removed``. A
    document shorter than ``k`` has no grams and passes through
    untouched; a fully-duplicated document comes back with empty
    text, not a dropped row.

    Plan shape (r15 optimization round): the same scan-side gram-hash
    explode as the audit (codegen substr/md5 — no gram text in any
    exchange), aggregated ONCE per (gram hash, doc) with the position
    list carried through (rides the upstream doc-id partitioning — no
    exchange). The removal set is then computed by COMPLEMENT: a
    position is removed exactly when its gram's canonical (min-id)
    carrier is a DIFFERENT document, so the per-doc kept positions
    are the ``min_by(positions, id)`` of each gram — and ``count``/
    ``min``/``min_by`` are all O(1)-state, map-combinable aggregates,
    so the ``_h`` exchange ships one partial row per gram per map
    task no matter how many documents carry a hot boilerplate gram
    (guide §2.5; the r14 window shape buffered every (gram, doc) row
    of a hot gram in one task's window buffer, and the pre-r14
    agg+join-back shape planned the explode+md5 pass twice). The
    kept-position lists regroup per KEPT doc (bounded by one
    document's gram count), and the removal positions are
    ``array_except(all positions, kept positions)`` — ascending by
    construction, the same multiset the r14 shape produced by
    flatten+sort. Span merging and text surgery are ``F.aggregate``
    higher-order folds over that per-doc array — JVM expression
    evaluation, no Python, no window anywhere in the plan.
    Cross-document occurrence is judged on the 32-bit gram hash (the
    module convention, collision odds at :func:`md5_int`).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    text = F.col(text_col)
    n_grams = F.greatest(F.length(text) - (k - 1), F.lit(0))
    idx = F.when(n_grams > 0, F.sequence(F.lit(1), n_grams)).otherwise(
        F.array().cast("array<int>")
    )
    g = df.select(
        F.col(id_col), text.alias("_t"), F.explode(idx).alias("_p")
    ).select(
        id_col,
        "_p",
        md5_int(F.col("_t").substr(F.col("_p"), F.lit(k))).alias("_h"),
    )
    per_doc = g.groupBy("_h", id_col).agg(
        F.collect_list("_p").alias("_pl")
    )
    gstats = per_doc.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_nd"),
        F.min(id_col).alias("_kid"),
        F.min_by("_pl", F.col(id_col)).alias("_kpl"),
    )
    # keep_first: the min-id carrier keeps its positions for EVERY
    # gram (singleton or duplicated); cut-every-copy keeps only
    # positions of grams seen in exactly one document.
    kept_src = gstats if keep_first else gstats.filter(F.col("_nd") == 1)
    kept = kept_src.groupBy(F.col("_kid").alias(id_col)).agg(
        F.flatten(F.collect_list("_kpl")).alias("_kept")
    )

    # merge sorted gram starts into maximal char spans [s, e]:
    # fold state (sp: finished spans, cs/ce: open span bounds)
    span_t = "array<struct<s:int,e:int>>"

    def _merge(acc, p):
        closed = F.concat(
            acc["sp"], F.array(F.struct(acc["cs"].alias("s"), acc["ce"].alias("e")))
        )
        return (
            F.when(
                acc["cs"] < 0,
                F.struct(
                    acc["sp"].alias("sp"),
                    p.alias("cs"),
                    (p + F.lit(k - 1)).alias("ce"),
                ),
            )
            .when(
                p <= acc["ce"] + 1,
                F.struct(
                    acc["sp"].alias("sp"),
                    acc["cs"].alias("cs"),
                    (p + F.lit(k - 1)).alias("ce"),
                ),
            )
            .otherwise(
                F.struct(
                    closed.alias("sp"), p.alias("cs"), (p + F.lit(k - 1)).alias("ce")
                )
            )
        )

    spans = F.aggregate(
        F.col("_ps"),
        F.struct(
            F.array().cast(span_t).alias("sp"),
            F.lit(-1).alias("cs"),
            F.lit(-1).alias("ce"),
        ),
        _merge,
        lambda acc: F.when(acc["cs"] < 0, acc["sp"]).otherwise(
            F.concat(
                acc["sp"],
                F.array(F.struct(acc["cs"].alias("s"), acc["ce"].alias("e"))),
            )
        ),
    )

    # cut the spans: fold (txt: kept prefix, last: end of last cut)
    cleaned = F.aggregate(
        F.col("_spans"),
        F.struct(F.lit("").alias("t"), F.lit(0).alias("last")),
        lambda acc, sp: F.struct(
            F.concat(
                acc["t"],
                text.substr(acc["last"] + 1, sp["s"] - acc["last"] - 1),
            ).alias("t"),
            sp["e"].alias("last"),
        ),
        lambda acc: F.concat(
            acc["t"], text.substr(acc["last"] + 1, F.length(text) - acc["last"])
        ),
    )

    out = (
        df.join(kept, id_col, "left")
        # positions to cut = all gram starts minus the kept ones;
        # array_except preserves the (ascending) sequence order, so
        # the span-merge fold sees the same sorted positions the r14
        # flatten+sort produced. A doc absent from ``kept`` (every
        # gram's canonical copy lives elsewhere) cuts everything.
        .withColumn(
            "_ps",
            F.array_except(
                idx,
                F.coalesce(F.col("_kept"), F.array().cast("array<int>")),
            ),
        )
        .withColumn("_spans", spans)
        .withColumns(
            {
                "n_chars": F.length(text).cast("int"),
                "chars_removed": F.aggregate(
                    F.col("_spans"),
                    F.lit(0),
                    lambda acc, sp: acc + sp["e"] - sp["s"] + 1,
                ).cast("int"),
                "n_spans_removed": F.size("_spans").cast("int"),
            }
        )
        .withColumn(text_col, cleaned)
    )
    return out.drop("_kept", "_ps", "_spans")
