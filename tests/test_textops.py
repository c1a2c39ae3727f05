"""Dedup + text analysis operators over a tiny hand-built corpus."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from marketdatapipeline_spark.textops import (
    add_fingerprints,
    add_language_id,
    add_quality_signals,
    add_token_count,
    deduplicate_exact,
    exact_duplicate_groups,
    jaccard_similar_pairs,
    minhash_near_duplicates,
    minhash_signature,
    simhash,
    word_shingles,
)
from marketdatapipeline_spark.textops.dedup import MERSENNE_P, hash_coeffs, md5_int

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "completely different words entirely here now"),
    (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (4, "le chat et le chien sont dans la maison et la cour"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _py_md5_int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_exact_dedup(docs):
    groups = exact_duplicate_groups(docs).toPandas()
    dup = groups[groups.n_docs > 1]
    assert len(dup) == 1 and dup.iloc[0].keep_id == 0 and dup.iloc[0].n_docs == 2
    kept = deduplicate_exact(docs)
    assert kept.count() == 4
    assert kept.filter(F.col("doc_id") == 3).count() == 0  # loser dropped


def test_word_shingles_exact_set(docs):
    got = {
        r.shingle
        for r in word_shingles(docs.filter("doc_id = 2"), n=3).collect()
    }
    assert got == {
        "completely different words",
        "different words entirely",
        "words entirely here",
        "entirely here now",
    }


def test_word_shingles_short_and_empty_docs(spark):
    # docs with < n tokens must produce zero shingles, not crash
    # (sequence(1, 0) is DESCENDING in Spark; slice(words, 0, n) throws)
    short = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "one two"), (3, "one two three")],
        ["doc_id", "text"],
    )
    got = word_shingles(short, n=3).collect()
    assert {r.doc_id for r in got} == {3}
    assert [r.shingle for r in got] == ["one two three"]
    # and the full LSH pipeline runs over a corpus containing them
    out = minhash_near_duplicates(short, threshold=0.5, num_hashes=4, bands=2)
    assert out.count() == 0


def _transform_shingles(df, n):
    """The replaced ``transform``-over-positions shingle expression,
    kept here only as the parity reference for ``_shingle_rows``."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
        ).alias("shingle"),
    )


SHINGLE_EDGE_DOCS = [
    (0, ""),
    (1, "   "),
    (2, " \t\n "),
    (3, None),
    (4, "one"),
    (5, "one two"),
    (6, "one two three"),
    (7, "one two three four five"),
    (8, "\tlead\t\ttabs and\n\nnewlines  between\r\nwords trail\t"),
    (9, "  leading and trailing spaces  "),
    (10, "naïve café 日本語 テキスト über straße ünïcödé"),
    (11, "a a a a a a a"),
]


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_lambda_free_shingles_match_transform_reference(spark, n):
    """Same (doc, shingle) multiset as the transform form, repeats
    included, on every edge shape: empty, whitespace-only and NULL
    text, fewer than / exactly n tokens, tab/newline runs, leading and
    trailing whitespace, non-ASCII words."""
    from marketdatapipeline_spark.textops.dedup import _shingle_rows, shingle_hashes

    docs = spark.createDataFrame(SHINGLE_EDGE_DOCS, "doc_id int, text string")
    ref = _transform_shingles(docs, n)
    got = _shingle_rows(docs, "doc_id", "text", n)
    assert ref.count() > 0
    assert ref.exceptAll(got).count() == 0
    assert got.exceptAll(ref).count() == 0
    ref_h = ref.select("doc_id", md5_int(F.col("shingle")).alias("_h")).distinct()
    got_h = shingle_hashes(docs, n=n)
    assert ref_h.exceptAll(got_h).count() == 0
    assert got_h.exceptAll(ref_h).count() == 0


def test_lsh_bands_must_divide_signature(docs, tmp_path):
    from marketdatapipeline_spark.textops.dedup import lsh_candidate_pairs
    from marketdatapipeline_spark.textops.incremental import build_lsh_store

    sigs = minhash_signature(docs, num_hashes=16, n=1)
    with pytest.raises(ValueError, match="divide"):
        lsh_candidate_pairs(sigs, bands=5)
    with pytest.raises(ValueError, match="divide"):
        build_lsh_store(docs, str(tmp_path / "store"), num_hashes=16, bands=5)


def test_jaccard_pairs_hand_computed(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_similar_pairs(docs, threshold=0.2, n=1).collect()
    }
    # docs 0 and 1 share tokens {the,quick,brown,fox,jumps,over,lazy}=7
    # of union 9 (dog|cat) -> 7/9; 0-3 identical -> 1.0
    assert abs(pairs[(0, 1)] - 7 / 9) < 1e-12
    assert pairs[(0, 3)] == 1.0
    assert (0, 2) not in pairs


def test_minhash_signature_matches_pure_python(docs):
    sigs = {r.doc_id: r for r in minhash_signature(docs, num_hashes=8, n=1).collect()}
    for doc_id, text in DOCS:
        shingles = set(text.split())
        for i, (a, b) in enumerate(hash_coeffs(8)):
            expected = min((a * _py_md5_int(s) + b) % MERSENNE_P for s in shingles)
            assert sigs[doc_id][f"mh_{i}"] == expected, (doc_id, i)


def test_minhash_identical_docs_identical_signatures(docs):
    sigs = {r.doc_id: tuple(r)[1:] for r in minhash_signature(docs, 16, n=1).collect()}
    assert sigs[0] == sigs[3]
    assert sigs[0] != sigs[2]


def test_minhash_lsh_pipeline_finds_near_dups(docs):
    out = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(docs, threshold=0.5, num_hashes=16, bands=8, n=1).collect()
    }
    assert (0, 3) in out  # exact dup always collides
    assert (0, 2) not in out


def test_simhash_properties(docs):
    fp = {r.doc_id: r.simhash for r in simhash(docs, bits=32).collect()}
    assert fp[0] == fp[3]  # identical docs, identical fingerprints
    ham_near = bin(fp[0] ^ fp[1]).count("1")
    ham_far = bin(fp[0] ^ fp[2]).count("1")
    assert ham_near < ham_far  # near-dup closer in Hamming space


def test_token_count_and_quality(docs):
    out = add_quality_signals(add_token_count(docs)).filter("doc_id = 0").first()
    assert out.n_tokens == 9
    assert out.stopword_ratio == pytest.approx(2 / 9)  # 'the' twice
    assert out.punct_ratio == 0.0


def test_language_id(docs, spark):
    extra = spark.createDataFrame(
        [(10, "der hund und die katze sind nicht mit der maus"),
         (11, "el perro y los gatos que corren por la casa con una pelota"),
         (12, "这是一个中文文档 with some latin")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in add_language_id(docs.unionByName(extra)).collect()}
    assert out[0] == "en" and out[4] == "fr"
    assert out[10] == "de" and out[11] == "es" and out[12] == "zh"
    assert out[2] == "und"  # no markers at all


def test_fingerprints(docs, spark):
    out = {r.doc_id: (r.fp_md5, r.fp_roll) for r in add_fingerprints(docs).collect()}
    assert out[0] == out[3]                      # identical text
    assert out[0][0] != out[1][0]                # different text
    # formatting noise does not change fp_md5
    noisy = spark.createDataFrame(
        [(99, "The  Quick   Brown Fox Jumps Over The Lazy Dog")], ["doc_id", "text"]
    )
    got = add_fingerprints(noisy).first()
    assert got.fp_md5 == out[0][0]
    # rolling hash is order-sensitive
    swapped = spark.createDataFrame(
        [(98, "quick the brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    assert add_fingerprints(swapped).first().fp_roll != out[0][1]


def test_embedding_near_duplicates_keep_min_id(spark):
    """Embedding-cosine dedup verdicts: keep-lowest-id policy, exact
    cosine via the blocked path, same convention as the text dedup."""
    import numpy as np

    from marketdatapipeline_spark.textops import embedding_near_duplicates

    base = np.array([1.0, 0.0, 0.0, 0.0], dtype="float32")
    near = np.array([0.999, 0.04, 0.0, 0.0], dtype="float32")
    near /= np.linalg.norm(near)
    ortho = np.array([0.0, 1.0, 0.0, 0.0], dtype="float32")
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in near]),    # dup of 0
        (2, [float(x) for x in ortho]),   # unique
        (3, [float(x) for x in base]),    # dup of 0 (and of 1)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: (r.keep, r.dup_of)
        for r in embedding_near_duplicates(df, threshold=0.95).collect()
    }
    assert got[0] == (True, None)
    assert got[1] == (False, 0)
    assert got[2] == (True, None)
    assert got[3] == (False, 0)  # min dup source, not just any


def test_embedding_near_duplicates_on_fixture_embeddings(spark):
    """Runs on the driver's real embeddings table; blocked and LSH
    methods agree on keep verdicts for the pairs LSH recalls."""
    from marketdatapipeline_spark.textops import embedding_near_duplicates

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = embedding_near_duplicates(
        emb, threshold=0.9, method="blocked"
    ).toPandas()
    assert len(exact) == emb.count()
    # keep-set is deterministic and non-empty
    assert exact["keep"].any()
    dropped = exact[~exact["keep"]]
    if len(dropped):
        # every drop names a smaller surviving-or-dropped id
        assert (dropped["dup_of"] < dropped["vec_id"]).all()


def test_web_noise_signals(spark):
    from marketdatapipeline_spark.textops import add_web_noise_signals

    rows = [
        (1, "visit https://example.com and http://foo.org/x?y=1 now"),
        (2, "mail me at bob.smith+tag@sub.example.co.uk please"),
        (3, "ROW 123 456 789 0"),
        (4, "ALL CAPS SHOUTING TEXT"),
        (5, "плюс 中文 123"),  # truly caseless: no latin letters at all
    ]
    out = {
        r.doc_id: r
        for r in add_web_noise_signals(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1].url_count == 2 and out[1].email_count == 0
    assert out[2].email_count == 1 and out[2].url_count == 0
    t3 = rows[2][1]
    assert abs(out[3].digit_ratio - sum(c.isdigit() for c in t3) / len(t3)) < 1e-12
    assert out[4].upper_ratio == 1.0
    # no cased latin letters at all -> ratio defined as exactly 0, not null
    assert out[5].upper_ratio == 0.0
    # duckdb parity for every signal (the oracle-expressibility claim)
    import duckdb

    pdf = duckdb.sql(
        r"""
        SELECT doc_id,
               length(regexp_extract_all(text, 'https?://[^\s]+')) AS url_count,
               length(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS email_count
        FROM (VALUES """
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS t(doc_id, text)"
    ).df()
    for _, r in pdf.iterrows():
        assert out[r["doc_id"]].url_count == r["url_count"]
        assert out[r["doc_id"]].email_count == r["email_count"]


def test_containment_vs_jaccard_asymmetry(spark):
    """Containment catches the doc-inside-doc case Jaccard misses: a
    short doc pasted into a long one has containment ~1 (short side)
    but small Jaccard; the reverse direction is small."""
    from marketdatapipeline_spark.textops import (
        containment_similar_pairs,
        jaccard_similar_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} next{i} more{i}" for i in range(30))
    rows = [
        (1, short),
        (2, filler + " " + short + " " + filler[::-1].lower()),
        (3, "completely different text with nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_similar_pairs(df, threshold=0.5, n=3).collect()
    }
    # doc 1 fully contained in doc 2; NOT the reverse, and 3 matches nothing
    assert cont.get((1, 2)) == pytest.approx(1.0)
    assert (2, 1) not in cont
    assert not any(3 in p for p in cont)
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_similar_pairs(df, threshold=0.0001, n=3).collect()
    }
    assert jac[(1, 2)] < 0.1  # Jaccard blind to the paste
    with pytest.raises(ValueError, match="threshold"):
        containment_similar_pairs(df, threshold=1.5)


def test_readability_hand_computed(spark):
    from marketdatapipeline_spark.textops.analysis import add_readability

    docs = spark.createDataFrame(
        [
            # 2 sentences, 6 words; syllables: the(1) cat(1) sat(1)
            # down(1) it(1) purred(2: u, e) = 7
            (1, "The cat sat down. It purred!"),
            (2, ""),           # empty -> null metrics, n_words 0
            (3, "xyz qrs"),    # no vowels: 1-syllable floor per word
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in add_readability(docs).collect()}
    r = out[1]
    assert r["n_sentences"] == 2 and r["n_words"] == 6
    assert r["n_syllables"] == 7
    assert abs(r["words_per_sentence"] - 3.0) < 1e-12
    expect = 206.835 - 1.015 * 3.0 - 84.6 * (7.0 / 6.0)
    assert abs(r["flesch_reading_ease"] - expect) < 1e-9
    assert out[2]["n_words"] == 0 and out[2]["flesch_reading_ease"] is None
    assert out[3]["n_sentences"] == 1  # fragment floors at one sentence
    assert out[3]["n_syllables"] == 2


def test_char_stats_hand_computed(spark):
    import math

    from marketdatapipeline_spark.textops.analysis import (
        add_char_stats,
        char_entropy,
    )

    docs = spark.createDataFrame(
        [(1, "aabb"), (2, "a1! x"), (3, "aaaa")], ["doc_id", "text"]
    )
    ent = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert abs(ent[1]["char_entropy"] - 1.0) < 1e-9   # 2 equiprobable chars
    assert abs(ent[3]["char_entropy"] - 0.0) < 1e-12  # degenerate
    assert ent[1]["n_chars_total"] == 4

    st = {r["doc_id"]: r for r in add_char_stats(docs).collect()}
    assert abs(st[2]["digit_ratio"] - 1 / 5) < 1e-12
    assert abs(st[2]["punct_ratio"] - 1 / 5) < 1e-12
    assert abs(st[2]["space_ratio"] - 1 / 5) < 1e-12
    # entropy of '2': chars a,1,!,space,x all distinct -> log2(5)
    assert abs(ent[2]["char_entropy"] - math.log2(5)) < 1e-9


def test_minhash_estimate_quality_semantics(spark):
    """Identical docs estimate 1.0 exactly; disjoint docs never pair;
    the estimate sits within the binomial envelope of the truth."""
    from marketdatapipeline_spark.textops.dedup import (
        minhash_estimate_quality,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                          # identical -> J = 1
            (3, base + " extra words here now"),  # high-overlap
            (4, "totally different vocabulary with nothing shared at all"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["id_a"], r["id_b"]): r
        for r in minhash_estimate_quality(
            docs, threshold=0.2, num_hashes=16, n=1
        ).collect()
    }
    r12 = out[(1, 2)]
    assert r12["jaccard"] == 1.0 and r12["est_jaccard"] == 1.0
    assert r12["n_agree"] == 16 and r12["err"] == 0.0
    assert (1, 3) in out and (2, 3) in out
    assert not any(4 in k for k in out)
    # estimator sanity: |err| bounded by ~4 sd of Binomial(16, J)
    import math

    for r in out.values():
        sd = math.sqrt(r["jaccard"] * (1 - r["jaccard"]) / 16)
        assert abs(r["err"]) <= 4 * sd + 1e-9


def test_language_id_eval_diagonal_dominant(spark):
    """The language-ID confusion matrix on labeled fixtures is
    diagonal-dominant (the heuristic mostly agrees with truth) and
    the row fractions sum to 1."""
    from marketdatapipeline_spark.catalog import EXTENDED_REGISTRY
    import marketdatapipeline_spark.catalog_corpus  # noqa: F401

    rows = EXTENDED_REGISTRY["text_language_id_eval"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r)
    for lang, rs in by_lang.items():
        assert abs(sum(r["frac"] for r in rs) - 1.0) < 1e-9
    # the audit's finding on this corpus, pinned: English is
    # diagonal-dominant; the de-labeled fixtures are English-worded
    # (the marker heuristic calls them 'en'), which is exactly the
    # mislabeling this eval exists to surface
    en_best = max(by_lang["en"], key=lambda r: r["n"])
    assert en_best["lang_pred"] == "en"
    if "de" in by_lang:
        de_best = max(by_lang["de"], key=lambda r: r["n"])
        assert de_best["lang_pred"] in ("en", "de", "und")


def test_duplicate_span_stats_matches_python_reference(spark):
    """Exact-substring span audit vs a brute-force Python reference:
    a pasted span is caught even when the carrier doc is unique, a
    fully-unique doc reads 0, short docs (< k) emit NULL frac."""
    from marketdatapipeline_spark.textops.dedup import duplicate_span_stats

    k = 12
    rows = [
        (0, "AAAABBBBCCCCDDDD unique tail zero"),
        (1, "prefix one AAAABBBBCCCCDDDD suffix"),   # shares a span with 0
        (2, "totally different text with no overlap here"),
        (3, "short"),                                 # < k chars -> NULL
        (4, "AAAABBBBCCCCDDDD unique tail zero"),     # exact dup of 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in duplicate_span_stats(df, k=k).collect()
    }
    # python reference: position-level duplicated-gram counts
    grams: dict[str, set[int]] = {}
    for i, t in rows:
        for p in range(max(len(t) - k + 1, 0)):
            grams.setdefault(t[p : p + k], set()).add(i)
    for i, t in rows:
        n = max(len(t) - k + 1, 0)
        dup = sum(
            1 for p in range(n) if len(grams[t[p : p + k]]) > 1
        )
        assert out[i]["n_grams"] == n
        assert out[i]["dup_grams"] == dup, (i, t)
        if n:
            assert out[i]["dup_frac"] == round(dup / n, 6)
        else:
            assert out[i]["dup_frac"] is None
    # the planted structure actually holds
    assert out[2]["dup_grams"] == 0
    assert out[0]["dup_frac"] == 1.0  # exact dup of 4 -> fully covered
    assert 0 < out[1]["dup_frac"] < 1  # carrier doc: partial coverage
    with pytest.raises(ValueError):
        duplicate_span_stats(df, k=1)


def _remove_spans_reference(rows, k, keep_first=True):
    """Brute-force scalar reference for remove_duplicate_spans: real
    gram strings (not hashes), char-level removed-set membership,
    island counting — independently derived from the definition."""
    gram_docs: dict[str, set[int]] = {}
    for i, t in rows:
        for p in range(max(len(t) - k + 1, 0)):
            gram_docs.setdefault(t[p : p + k], set()).add(i)
    out = {}
    for i, t in rows:
        removed: set[int] = set()
        for p in range(max(len(t) - k + 1, 0)):
            docs = gram_docs[t[p : p + k]]
            if len(docs) > 1 and (not keep_first or i != min(docs)):
                removed.update(range(p, p + k))
        clean = "".join(c for j, c in enumerate(t) if j not in removed)
        spans = sum(1 for j in removed if j - 1 not in removed)
        out[i] = (clean, len(t), len(removed), spans)
    return out


def test_remove_duplicate_spans_matches_python_reference(spark):
    """Span REMOVAL (the operator half of Lee et al.) vs the scalar
    reference: canonical doc keeps its copy, carriers lose exactly
    the shared span, uniques pass through byte-identical, short docs
    (< k) are untouched, a full duplicate empties (keep_first)."""
    from marketdatapipeline_spark.textops.dedup import (
        remove_duplicate_spans,
    )

    k = 12
    rows = [
        (0, "AAAABBBBCCCCDDDD unique tail zero"),
        (1, "prefix one AAAABBBBCCCCDDDD suffix"),
        (2, "totally different text with no overlap here"),
        (3, "short"),
        (4, "AAAABBBBCCCCDDDD unique tail zero"),
        (5, "two hits AAAABBBBCCCCDDDD mid AAAABBBBCCCCDDDD end"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for keep_first in (True, False):
        got = {
            r["doc_id"]: r
            for r in remove_duplicate_spans(
                df, k=k, keep_first=keep_first
            ).collect()
        }
        want = _remove_spans_reference(rows, k, keep_first)
        for i, _ in rows:
            wclean, wn, wrem, wspans = want[i]
            assert got[i]["text"] == wclean, (keep_first, i)
            assert got[i]["n_chars"] == wn
            assert got[i]["chars_removed"] == wrem, (keep_first, i)
            assert got[i]["n_spans_removed"] == wspans, (keep_first, i)
    # planted structure: doc 0 is canonical -> survives intact under
    # keep_first; its exact dup 4 empties; the carrier keeps its
    # unique prefix/suffix; doc 5 has two separate cut spans... unless
    # merged — the reference decides; uniques byte-identical
    got = {
        r["doc_id"]: r for r in remove_duplicate_spans(df, k=k).collect()
    }
    assert got[0]["text"] == rows[0][1]
    assert got[4]["text"] == ""
    assert got[4]["chars_removed"] == len(rows[4][1])
    assert got[2]["text"] == rows[2][1]
    assert got[3]["text"] == "short"
    assert got[6]["text"] == ""
    assert "prefix one" in got[1]["text"] and "AAAA" not in got[1]["text"]
    with pytest.raises(ValueError):
        remove_duplicate_spans(df, k=1)


def test_remove_duplicate_spans_removal_is_idempotent(spark):
    """After cutting, re-running the removal must change nothing:
    duplicated grams are gone (keep_first leaves exactly one copy,
    which by definition no longer cross-matches)... EXCEPT when the
    cut itself manufactures a new duplicate by gluing boundary
    fragments — so idempotence is asserted on a corpus where
    boundaries stay distinct (realistic prose)."""
    from marketdatapipeline_spark.textops.dedup import (
        remove_duplicate_spans,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (i, f"intro {i} distinct words here. {shared} outro {i} ends.")
        for i in range(4)
    ] + [(9, "a wholly different document with zero common substrings")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    once = remove_duplicate_spans(df, k=16).select("doc_id", "text")
    twice = remove_duplicate_spans(once, k=16).select("doc_id", "text")
    a = {r["doc_id"]: r["text"] for r in once.collect()}
    b = {r["doc_id"]: r["text"] for r in twice.collect()}
    assert a == b
    # the shared sentence survives exactly once across the corpus
    assert sum(shared in t for t in a.values()) == 1


def _bpe_reference(texts, n_merges):
    """Pure-Python Sennrich-style BPE learner — independent of the
    Spark implementation: explicit symbol tuples, greedy left-to-right
    merge application, argmax with (count desc, pair lex asc) ties."""
    import collections
    import re

    from marketdatapipeline_spark.textops.corpus import BPE_TOKEN_PATTERN

    words = collections.Counter()
    for t in texts:
        for m in re.findall(BPE_TOKEN_PATTERN, t):
            words[m] += 1
    vocab = {w: (tuple(w), f) for w, f in words.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = collections.Counter()
        for _, (syms, f) in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, cnt))
        for w, (syms, f) in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = (tuple(out), f)
    return merges


def test_bpe_learn_merges_matches_python_reference(spark):
    """The distributed BPE merge loop vs the scalar reference on a
    fixture with real merge dynamics: repeated words weight their
    pairs, an early merge changes later pair counts (the ratchet),
    and ties exercise the lexicographic break."""
    from marketdatapipeline_spark.textops.bpe import (
        bpe_learn_merges,
        bpe_pair_counts,
    )

    texts = [
        "the cat sat on the mat with the other cat",
        "low lower lowest slower slowest",
        "the the the banana bandana",
        "aaaa bbbb aaaa",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    n = 12
    want = _bpe_reference(texts, n)
    got = [
        (r["merge_rank"], r["pair_left"], r["pair_right"], r["pair_count"])
        for r in bpe_learn_merges(df, n_merges=n)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == want
    # iteration-0 candidates agree with the reference's first count
    import collections

    pairs = collections.Counter()
    wf = collections.Counter()
    import re

    from marketdatapipeline_spark.textops.corpus import BPE_TOKEN_PATTERN

    for t in texts:
        for m in re.findall(BPE_TOKEN_PATTERN, t):
            wf[m] += 1
    for w, f in wf.items():
        for i in range(len(w) - 1):
            pairs[(w[i], w[i + 1])] += f
    want_top = sorted(
        ((l, r, c) for (l, r), c in pairs.items()),
        key=lambda x: (-x[2], x[0], x[1]),
    )[:10]
    got_top = [
        (r["pair_left"], r["pair_right"], r["pair_count"])
        for r in bpe_pair_counts(df, top_k=10).collect()
    ]
    assert got_top == want_top
    with pytest.raises(ValueError):
        bpe_learn_merges(df, n_merges=0)
    with pytest.raises(ValueError):
        bpe_pair_counts(df, top_k=0)


def test_bpe_merge_application_greedy_overlap(spark):
    """Overlapping pair runs merge left-to-right non-overlapping:
    'aaaa' under merge (a,a) becomes [aa, aa], never [a, aa, a] —
    and the learned merge table reflects post-merge recounts."""
    from marketdatapipeline_spark.textops.bpe import bpe_learn_merges

    df = spark.createDataFrame([(0, "aaaa aaaa aaaa")], ["doc_id", "text"])
    got = [
        (r["pair_left"], r["pair_right"], r["pair_count"])
        for r in bpe_learn_merges(df, n_merges=2)
        .orderBy("merge_rank")
        .collect()
    ]
    # 'aaaa' x3: pairs (a,a) weight 3*3=9; ' aaaa' x2 (space-prefixed
    # tokens): (' ','a') 2, (a,a) 2*3=6 -> total (a,a)=15? The scalar
    # reference is authoritative; here pin the structural facts:
    assert got[0][:2] == ("a", "a")
    # after merging, 'aa'+'aa' is the dominant remaining pair
    assert got[1][:2] == ("aa", "aa")


def test_bpe_encode_token_counts_matches_python_reference(spark):
    """Per-doc token counts under the learned vocabulary vs the
    scalar reference: encode each doc's pre-tokens with the reference
    merges and count symbols; empty docs read 0."""
    import collections
    import re

    from marketdatapipeline_spark.textops.bpe import bpe_encode_token_counts
    from marketdatapipeline_spark.textops.corpus import BPE_TOKEN_PATTERN

    texts = [
        "the cat sat on the mat with the other cat",
        "low lower lowest slower slowest",
        "the the the banana bandana",
        "",
    ]
    n = 8
    merges = [(l, r) for _, l, r, _ in _bpe_reference(texts, n)]

    def encode(word):
        syms = list(word)
        for left, right in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    want = {}
    for d, t in enumerate(texts):
        ws = re.findall(BPE_TOKEN_PATTERN, t)
        want[d] = (len(ws), sum(encode(w) for w in ws))

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_pretokens"], r["n_tokens_vocab"])
        for r in bpe_encode_token_counts(df, n_merges=n).collect()
    }
    assert got == want
    # merges actually compress: vocab counts strictly below char counts
    chars = {
        d: sum(len(w) for w in re.findall(BPE_TOKEN_PATTERN, t))
        for d, t in enumerate(texts)
    }
    assert all(got[d][1] < chars[d] for d in (0, 1, 2))
    assert got[3] == (0, 0)


def test_bpe_learn_forced_route_parity(spark):
    """Size routing must be invisible: the distributed loop
    (driver_route_max_words=0) and the driver twin (default, fixture
    far below the bar) emit the identical merge table, and encode
    counts agree too."""
    from marketdatapipeline_spark.textops.bpe import (
        bpe_encode_token_counts,
        bpe_learn_merges,
    )

    texts = [
        "the cat sat on the mat with the other cat",
        "low lower lowest slower slowest",
        "the the the banana bandana",
        "aaaa bbbb aaaa",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    rows = lambda d: sorted(map(tuple, d.collect()))  # noqa: E731
    dist = rows(bpe_learn_merges(df, n_merges=12, driver_route_max_words=0))
    drv = rows(bpe_learn_merges(df, n_merges=12))
    assert dist == drv
    dist_e = rows(
        bpe_encode_token_counts(df, n_merges=8, driver_route_max_words=0)
    )
    drv_e = rows(bpe_encode_token_counts(df, n_merges=8))
    assert dist_e == drv_e
