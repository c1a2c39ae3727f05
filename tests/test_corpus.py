"""Unit tests for the corpus-preparation operators
(textops/corpus.py): semantics on crafted frames plus the invariants
the DuckDB oracle can't express (stability under repartitioning,
chunk reconstruction, shard balance bounds).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from marketdatapipeline_spark.textops.corpus import (
    SPLIT_BUCKETS,
    add_repetition_signals,
    assign_splits,
    bm25_scores,
    chunk_documents,
    hash_sample,
    pack_shards,
    top_bigram_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "alpha beta alpha beta alpha", 27),
        (1, "x\ny\nx\nz", 7),
        (2, "", 0),
        (3, "solo", 4),
        (4, "data " * 50, 250),
        (5, "the quick brown fox jumps over the lazy dog", 44),
    ] + [(i, f"filler text body number {i} " * (i % 7 + 1), 0) for i in range(10, 60)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
    return df.withColumn("n_chars", F.length("text"))


def test_repetition_signals(spark, docs):
    out = {
        r["doc_id"]: r
        for r in add_repetition_signals(docs).select(
            "doc_id", "n_lines", "n_distinct_lines", "dup_line_frac"
        ).collect()
    }
    assert out[1]["n_lines"] == 4
    assert out[1]["n_distinct_lines"] == 3
    assert out[1]["dup_line_frac"] == pytest.approx(0.25)
    assert out[3]["dup_line_frac"] == 0.0
    # empty text is one (empty) line, no duplicates
    assert out[2]["n_lines"] == 1 and out[2]["dup_line_frac"] == 0.0


def test_top_bigram_stats(spark, docs):
    out = {r["doc_id"]: r for r in top_bigram_stats(docs).collect()}
    # "alpha beta alpha beta alpha": bigrams ab, ba, ab, ba -> top 2 of 4
    assert out[0]["n_bigrams"] == 4
    assert out[0]["top_bigram_n"] == 2
    assert out[0]["top_bigram_frac"] == pytest.approx(0.5)
    # "data "*50 -> 50 tokens, 49 identical bigrams
    assert out[4]["n_bigrams"] == 49 and out[4]["top_bigram_n"] == 49
    # docs with < 2 tokens produce no row
    assert 2 not in out and 3 not in out


def test_assign_splits_stable_and_complete(spark, docs):
    a = assign_splits(docs).select("doc_id", "split_bucket", "split")
    # same assignment regardless of physical layout
    b = assign_splits(docs.repartition(7).sortWithinPartitions("text")).select(
        "doc_id", "split_bucket", "split"
    )
    assert sorted(a.collect()) == sorted(b.collect())
    rows = a.collect()
    assert all(0 <= r["split_bucket"] < SPLIT_BUCKETS for r in rows)
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # thresholds respected
    for r in rows:
        expected = (
            "train" if r["split_bucket"] < 980
            else "val" if r["split_bucket"] < 990
            else "test"
        )
        assert r["split"] == expected


def test_assign_splits_validates(spark, docs):
    with pytest.raises(ValueError):
        assign_splits(docs, train=0)
    with pytest.raises(ValueError):
        assign_splits(docs, train=995, val=990)


def test_hash_sample_matches_bucket_flag(spark, docs):
    kept = {r["doc_id"] for r in hash_sample(docs, 500).select("doc_id").collect()}
    from marketdatapipeline_spark.textops.corpus import _bucket

    flags = {
        r["doc_id"]
        for r in docs.select("doc_id")
        .withColumn("b", _bucket("doc_id"))
        .filter(F.col("b") < 500)
        .collect()
    }
    assert kept == flags
    # supersets nest: a 300-mille sample is contained in the 500-mille one
    kept300 = {r["doc_id"] for r in hash_sample(docs, 300).select("doc_id").collect()}
    assert kept300 <= kept


def test_chunk_documents_reconstructs(spark, docs):
    chunk_chars, overlap = 10, 4
    stride = chunk_chars - overlap
    chunks = chunk_documents(
        docs, chunk_chars=chunk_chars, overlap=overlap
    ).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 2 not in by_doc  # empty doc -> no chunks
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r["chunk_id"])
        text = texts[doc_id]
        # ids are dense from 0 and every chunk matches its window
        assert [r["chunk_id"] for r in rs] == list(range(len(rs)))
        for r in rs:
            start = r["chunk_id"] * stride
            assert r["chunk_text"] == text[start : start + chunk_chars]
            assert r["chunk_len"] == len(r["chunk_text"])
        # full coverage: stitching chunk[0] + tail of each later chunk
        rebuilt = rs[0]["chunk_text"] + "".join(
            r["chunk_text"][overlap:] for r in rs[1:]
        )
        assert rebuilt == text
        # last chunk is never redundant (starts before the text ends)
        assert (len(rs) - 1) * stride < len(text)


def test_chunk_documents_unicode_parity_with_duckdb(spark):
    """Chunk windows are CODEPOINT-indexed in both engines (Spark
    substring and DuckDB substr): multi-byte text must chunk to
    byte-identical strings or the corpus_chunks oracle would break on
    any non-ASCII corpus."""
    import duckdb

    text = "héllo wörld ☃ 日本語のテキスト " * 7  # multi-byte, > 2 chunks
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = sorted(
        (r["chunk_id"], r["chunk_text"])
        for r in chunk_documents(df, chunk_chars=40, overlap=8).collect()
    )
    want = sorted(
        duckdb.sql(
            f"""
            SELECT i AS chunk_id, substr(t, i * 32 + 1, 40) AS chunk_text
            FROM (SELECT '{text}' AS t),
                 unnest(range(0, CAST(floor((length('{text}') - 1) / 32) AS INT) + 1)) AS u(i)
            """
        ).fetchall()
    )
    assert got == want


def test_chunk_documents_validates(spark, docs):
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_chars=5, overlap=5)


def test_pack_shards_balance_and_stability(spark, docs):
    target = 300
    out = pack_shards(docs, target_chars=target).collect()
    sizes: dict[int, int] = {}
    for r in out:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + r["n_chars"]
    shards = sorted(sizes)
    assert shards == list(range(len(shards)))  # dense shard ids from 0
    max_doc = max(r["n_chars"] for r in out)
    # every shard except the last is filled to target within one doc
    for s in shards[:-1]:
        assert sizes[s] + max_doc >= target
        assert sizes[s] < target + max_doc
    # deterministic under physical layout changes
    again = pack_shards(
        docs.repartition(5).sortWithinPartitions("n_chars"), target_chars=target
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_add_token_estimate(spark):
    from marketdatapipeline_spark.textops.corpus import add_token_estimate

    df = spark.createDataFrame(
        [
            (1, "hello world"),      # "hello", " world" -> 2
            (2, "it's 42 tokens!"),  # it / 's / ' 42' / ' tokens' / '!' -> 5
            (3, ""),                 # no tokens
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in add_token_estimate(df).collect()}
    assert out[1]["n_tokens_bpe"] == 2
    assert out[2]["n_tokens_bpe"] == 5
    assert out[3]["n_tokens_bpe"] == 0 and out[3]["chars_per_token"] == 0.0
    assert out[1]["chars_per_token"] == pytest.approx(11 / 2)


def test_quantization_summary(spark):
    from marketdatapipeline_spark.similarity.quantize import (
        quantization_summary,
        quantize_embeddings_int8,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector -> scale 0, q all 0
        ],
        ["vec_id", "embedding"],
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    q = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
    assert q[1]["q"] == [127, -64, 32, 0]  # 0.25/ (1/127) = 31.75 -> 32
    assert q[1]["scale"] == pytest.approx(1.0 / 127)
    assert q[2]["scale"] == 0.0 and q[2]["q"] == [0, 0, 0, 0]
    s = {r["vec_id"]: r for r in quantization_summary(df).collect()}
    assert s[1]["dim"] == 4
    assert s[1]["q_sum"] == 127 - 64 + 32
    assert s[1]["q_l1"] == 127 + 64 + 32
    # reconstruction error bounded by half a quantization step
    assert s[1]["max_abs_err"] <= s[1]["scale"] / 2 + 1e-12
    assert s[2]["max_abs_err"] == 0.0


def test_redact_pii(spark):
    from marketdatapipeline_spark.textops.corpus import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@site.org or call +1 (555) 123-4567"),
            (2, "server 10.0.0.1 leaked ssn 123-45-6789"),
            (3, "nothing sensitive here"),
            (4, "revenue 2021 2022 2023 2024 and 555-123-4567 direct"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    # 4-4-4-4 year runs must NOT be swallowed as phone numbers; the
    # bare 3-3-4 number next to them must
    assert out[4]["n_phone"] == 1
    assert out[4]["text"] == "revenue 2021 2022 2023 2024 and [PII] direct"
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert "jo.doe" not in out[1]["text"] and "555" not in out[1]["text"]
    assert out[1]["text"].count("[PII]") == 2
    assert out[2]["n_ipv4"] == 1 and out[2]["n_ssn"] == 1
    assert out[2]["text"] == "server [PII] leaked ssn [PII]"
    assert out[3]["text"] == "nothing sensitive here"
    assert (
        out[3]["n_email"] == out[3]["n_phone"]
        == out[3]["n_ipv4"] == out[3]["n_ssn"] == 0
    )


def test_decontaminate(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "completely different words here now"),
            (3, "alpha beta gamma unrelated tail words"),
            (4, "xy"),  # < n tokens -> no shingles -> no row
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    from marketdatapipeline_spark.textops.corpus import decontaminate

    out = {r["doc_id"]: r for r in decontaminate(corpus, bench, n=3).collect()}
    assert set(out) == {1, 2, 3}
    # doc 1: shingles abg, bgd, gde; bench has abg, bgd -> 2/3
    assert out[1]["n_shingles"] == 3 and out[1]["n_contaminated"] == 2
    assert out[1]["contamination_frac"] == pytest.approx(2 / 3)
    assert out[1]["contaminated"] is True
    assert out[2]["n_contaminated"] == 0 and out[2]["contaminated"] is False
    # doc 3: abg only -> 1 of 4
    assert out[3]["n_contaminated"] == 1 and out[3]["n_shingles"] == 4


def test_duplicate_clusters_chain_and_singletons(spark):
    from marketdatapipeline_spark.textops.corpus import duplicate_clusters

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], ["doc_id"])
    # a diameter-4 chain (forces several propagation rounds), one
    # separate pair, and two singletons
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 4), (7, 6)], ["id_a", "id_b"]
    )
    out = {r["doc_id"]: r for r in duplicate_clusters(nodes, pairs).collect()}
    assert {d: r["cluster_id"] for d, r in out.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6, 8: 8,
    }
    assert out[3]["cluster_size"] == 5
    assert out[6]["cluster_size"] == 2
    assert out[8]["cluster_size"] == 1


def test_duplicate_clusters_shortcutting_collapses_chains(spark):
    """r9: the pointer-doubling hop makes a long chain converge in
    O(log diameter) rounds — plain neighbour propagation would need
    ~diameter rounds and trip max_iter here."""
    import marketdatapipeline_spark.textops.corpus as corpus_mod
    from marketdatapipeline_spark.textops.corpus import duplicate_clusters

    n = 200  # a 200-link chain: plain propagation needs ~200 rounds
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["id_a", "id_b"]
    )
    # force the distributed route: this test pins the PROPAGATION
    # loop's round count, which the driver union-find route skips
    out = duplicate_clusters(
        nodes, pairs, max_iter=25, driver_route_max_edges=0
    ).collect()
    assert all(r["cluster_id"] == 1 for r in out)
    assert all(r["cluster_size"] == n for r in out)
    # log2(200) ~ 8; leave slack but stay far under the diameter
    assert corpus_mod.LAST_CONVERGENCE_ROUNDS <= 14


def test_stateless_corpus_ops_run_on_streams(spark, docs, tmp_path):
    """The scrub/estimate/split/chunk operators are pure row
    expressions, so the same code must run unchanged on a streaming
    ingest (readStream) — the deployment mode of a live corpus
    pipeline. Aggregating operators (bm25, decontaminate, clusters)
    are batch-only by design."""
    from marketdatapipeline_spark.textops.corpus import (
        add_repetition_signals,
        add_token_estimate,
        assign_splits,
        chunk_documents,
        redact_pii,
    )

    src = str(tmp_path / "docs")
    docs.select("doc_id", "text").write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src)
    )
    pipe = chunk_documents(
        assign_splits(
            add_token_estimate(add_repetition_signals(redact_pii(stream)))
        ),
        chunk_chars=40,
        overlap=8,
    )
    assert pipe.isStreaming
    q = (
        pipe.writeStream.format("memory")
        .queryName("corpus_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT count(*) AS n FROM corpus_stream").collect()[0]["n"]
    batch = chunk_documents(
        assign_splits(
            add_token_estimate(add_repetition_signals(redact_pii(docs)))
        ),
        chunk_chars=40,
        overlap=8,
    ).count()
    assert got == batch > 0


def test_bm25_scores(spark, docs):
    out = {r["doc_id"]: r for r in bm25_scores(docs, ("data", "fox")).collect()}
    # only docs containing a term appear
    assert set(out) == {4, 5}
    assert out[4]["tf_data"] == 50 and out[4]["tf_fox"] == 0
    assert out[5]["tf_fox"] == 1
    assert out[4]["bm25"] > 0 and out[5]["bm25"] > 0
    # tf saturation: 50 hits score more than 1 hit of an equally-rare term
    assert out[4]["bm25"] > out[5]["bm25"]
    with pytest.raises(ValueError):
        bm25_scores(docs, ())


def test_domain_mix_sample_caps_and_determinism(spark):
    from marketdatapipeline_spark.textops.corpus import domain_mix_sample

    rows = []
    # 10 en docs, 4 fr docs, 3 zz docs (zz unweighted -> dropped)
    for i in range(10):
        rows.append((i, "en"))
    for i in range(10, 14):
        rows.append((i, "fr"))
    for i in range(14, 17):
        rows.append((i, "zz"))
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    # fr binds: T = min(10/0.6, 4/0.4) = 10 -> caps en 6, fr 4
    out = domain_mix_sample(df, {"en": 0.6, "fr": 0.4}).collect()
    langs = {r["lang"] for r in out}
    assert langs == {"en", "fr"}  # zz dropped entirely
    caps = {r["lang"]: r["group_cap"] for r in out}
    assert caps == {"en": 6, "fr": 4}
    kept = [r for r in out if r["kept"]]
    assert sum(1 for r in kept if r["lang"] == "en") == 6
    assert sum(1 for r in kept if r["lang"] == "fr") == 4
    # deterministic: same ids kept on a rerun
    again = {
        r["doc_id"]
        for r in domain_mix_sample(df, {"en": 0.6, "fr": 0.4}).collect()
        if r["kept"]
    }
    assert again == {r["doc_id"] for r in kept}
    # scarce group takes everything it has
    ranks = {r["doc_id"]: r["sample_rank"] for r in out if r["lang"] == "fr"}
    assert sorted(ranks.values()) == [1, 2, 3, 4]
    with pytest.raises(ValueError, match="non-empty"):
        domain_mix_sample(df, {})
    with pytest.raises(ValueError, match="positive"):
        domain_mix_sample(df, {"en": 0.0})


def test_remove_boilerplate_lines_semantics(spark):
    """Cross-doc boilerplate removal: high-df lines stripped, unique
    and blank lines kept, order preserved, fully-boilerplate docs come
    back empty (not dropped), counters exact."""
    from marketdatapipeline_spark.textops.corpus import (
        remove_boilerplate_lines,
    )

    nav = "HOME | ABOUT | CONTACT"
    rows = [
        (1, f"{nav}\nreal prose one\n\nmore prose"),
        (2, f"{nav}\nreal prose two"),
        (3, f"{nav}\nreal prose three"),
        (4, nav),                       # only boilerplate -> empty text
        (5, "  " + nav + "  \nindented prose"),  # trimmed key matches
        (6, "totally unique document"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(df, max_doc_freq=2).collect()
    }
    assert out[1]["text"] == "real prose one\n\nmore prose"  # blank kept
    assert out[1]["n_lines"] == 4 and out[1]["n_lines_removed"] == 1
    assert out[2]["text"] == "real prose two"
    assert out[4]["text"] == "" and out[4]["n_lines_removed"] == 1
    # the nav line in doc 5 has leading/trailing spaces: the TRIMMED
    # key matches, so it is removed too
    assert out[5]["text"] == "indented prose"
    assert out[6]["text"] == "totally unique document"
    assert out[6]["n_lines_removed"] == 0
    # raising the bar above the nav line's df keeps everything
    kept = {
        r["doc_id"]: r["n_lines_removed"]
        for r in remove_boilerplate_lines(df, max_doc_freq=10).collect()
    }
    assert all(v == 0 for v in kept.values())
    with pytest.raises(ValueError, match="max_doc_freq"):
        remove_boilerplate_lines(df, max_doc_freq=0)


def test_tfidf_top_terms_vs_hand_computation(spark):
    import math

    from marketdatapipeline_spark.textops.corpus import tfidf_top_terms

    rows = [
        (1, "apple banana apple cherry"),
        (2, "banana cherry cherry date"),
        (3, "apple apple apple banana"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_top_terms(df, k=2).collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(r)
    # hand: N=3; df: apple 2, banana 3, cherry 2, date 1
    def idf(dfc):
        return math.log((1 + 3) / (1 + dfc)) + 1.0

    # doc 1: apple tf2*idf(2), banana 1*idf(3), cherry 1*idf(2)
    d1 = sorted(got[1], key=lambda r: r["rank"])
    assert len(d1) == 2
    assert d1[0]["tf"] == 2 and d1[0]["score"] == pytest.approx(2 * idf(2))
    # second place: cherry (idf(2)) beats banana (idf(3))
    assert d1[1]["tf"] == 1 and d1[1]["score"] == pytest.approx(idf(2))
    # doc 2: cherry tf2 wins, then date (rarest, idf(1))
    d2 = sorted(got[2], key=lambda r: r["rank"])
    assert d2[0]["tf"] == 2 and d2[0]["score"] == pytest.approx(2 * idf(2))
    assert d2[1]["tf"] == 1 and d2[1]["score"] == pytest.approx(idf(1))
    # doc 3: apple tf3 then banana
    d3 = sorted(got[3], key=lambda r: r["rank"])
    assert d3[0]["tf"] == 3 and d3[0]["score"] == pytest.approx(3 * idf(2))
    assert d3[1]["tf"] == 1 and d3[1]["score"] == pytest.approx(idf(3))
    with pytest.raises(ValueError, match="k must"):
        tfidf_top_terms(df, k=0)


def test_unigram_perplexity_hand_computed(spark):
    """3-doc corpus small enough to hand-evaluate the add-1 LM."""
    import math

    from marketdatapipeline_spark.textops.corpus import unigram_perplexity

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_perplexity(docs).collect()}
    # corpus counts: a=3, b=2, c=1; N=6, V=3 -> p(w) = (c+1)/9
    p = {"a": 4 / 9, "b": 3 / 9, "c": 2 / 9}

    def ppl(words):
        m = -sum(math.log(p[w]) for w in words) / len(words)
        return m, math.exp(m)

    assert set(out) == {1, 2}  # the empty doc is absent
    for doc_id, words in ((1, ["a", "a", "b"]), (2, ["a", "b", "c"])):
        row = out[doc_id]
        assert row["n_tokens"] == 3
        m, x = ppl(words)
        assert row["mean_neg_logprob"] == pytest.approx(m, rel=1e-12)
        assert row["perplexity"] == pytest.approx(x, rel=1e-12)
    # doc 1 repeats the modal token -> lower perplexity than doc 2
    assert out[1]["perplexity"] < out[2]["perplexity"]


def test_bigram_perplexity_hand_computed(spark):
    """Tiny corpus where the interpolated model is checkable by hand;
    repeated transitions must score lower (less surprising) than a
    one-off transition, and short docs are absent."""
    import math

    from marketdatapipeline_spark.textops.corpus import bigram_perplexity

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),
            (2, "a b"),
            (3, "x"),        # < 2 tokens -> absent
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in bigram_perplexity(docs, lam=0.7).collect()}
    assert set(out) == {1, 2}
    # corpus: tokens a,b,a,b,a,b (N=6? doc3 'x' adds 1 -> N=7, V=3)
    # bigrams: (a,b)x3, (b,a)x1 -> c1(a)=3, c1(b)=1
    N, V = 7, 3
    def p(cb, c1, cw):
        return 0.7 * (cb / c1) + (1.0 - 0.7) * ((cw + 1.0) / (N + V))
    p_ab = p(3, 3, 3)   # c(b)=3
    p_ba = p(1, 1, 3)   # c(a)=3
    m1 = -(2 * math.log(p_ab) + 1 * math.log(p_ba)) / 3
    assert abs(out[1]["mean_neg_logprob"] - m1) < 1e-9
    assert abs(out[1]["perplexity"] - math.exp(m1)) < 1e-6
    assert out[1]["n_bigrams"] == 3 and out[2]["n_bigrams"] == 1
    m2 = -math.log(p_ab)
    assert abs(out[2]["mean_neg_logprob"] - m2) < 1e-9


def test_zipf_fit_on_synthetic_zipfian_corpus(spark):
    """A corpus drawn with exact Zipf frequencies fits slope ~ -1
    with high r2; a uniform corpus fits slope ~ 0."""
    import numpy as np

    from marketdatapipeline_spark.textops.corpus import zipf_fit

    words = [f"w{i}" for i in range(1, 201)]
    text = " ".join(
        " ".join([w] * max(1, int(round(1000.0 / r))))
        for r, w in enumerate(words, start=1)
    )
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = zipf_fit(docs, top_k=200).collect()[0]
    assert row["n_terms"] == 200
    assert -1.15 < row["slope"] < -0.85
    assert row["r2"] > 0.97

    uni = " ".join(" ".join([w] * 5) for w in words)
    docs2 = spark.createDataFrame([(1, uni)], ["doc_id", "text"])
    row2 = zipf_fit(docs2, top_k=200).collect()[0]
    assert abs(row2["slope"]) < 1e-9  # constant counts: flat line
    assert row2["r2"] is None  # zero variance in y -> undefined fit


def test_quality_screen_flags_each_reason(spark):
    from marketdatapipeline_spark.textops.corpus import quality_screen

    clean = ("The quick brown fox jumps over the lazy dog while seventeen "
             "sailors watch from a distant harbor wall at dusk.")
    docs = spark.createDataFrame(
        [
            (1, clean),
            (2, "too few words"),                      # too_short
            (3, "aaaa aaaa aaaa aaaa aaaa aaaa"),      # low_entropy
            (4, "1234 5678 9012 3456 ok " * 3),        # digit_heavy
            (5, "repeat me\n" * 10 + "unique line"),   # repetitive
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in quality_screen(docs).collect()}
    assert out[1]["keep"] and not any(
        out[1][f] for f in ("too_short", "low_entropy", "digit_heavy", "repetitive")
    )
    assert out[2]["too_short"] and not out[2]["keep"]
    assert out[3]["low_entropy"] and not out[3]["keep"]
    assert out[4]["digit_heavy"] and not out[4]["keep"]
    assert out[5]["repetitive"] and not out[5]["keep"]
    # opt-out default: no span columns unless requested
    assert "span_dup_frac" not in out[1].asDict()


def test_quality_screen_span_duplication_reason(spark):
    """r14: the Lee-et-al span signal as a fifth screen — a mirrored
    document passes all four within-document screens but is flagged
    span_duplicated; its canonical twin keeps one copy's worth of
    dup_frac too (cross-doc duplication is symmetric in the AUDIT),
    so both fall; a clean unique doc keeps; short docs (< span_k)
    have NULL span_dup_frac and are not span-flagged."""
    from marketdatapipeline_spark.textops.corpus import quality_screen

    prose = ("The quick brown fox jumps over the lazy dog while seventeen "
             "sailors watch from a distant harbor wall at dusk and the "
             "tide slides out across the shingle beyond the old pier.")
    other = ("A completely different passage describes mountain weather "
             "patterns drifting eastward over granite ridges toward the "
             "high meadow where marmots whistle warnings at noon.")
    docs = spark.createDataFrame(
        [(1, prose), (2, prose), (3, other), (4, "handful of words only here")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in quality_screen(docs, max_span_dup_frac=0.5).collect()
    }
    assert out[1]["span_duplicated"] and out[2]["span_duplicated"]
    assert not out[1]["keep"] and not out[2]["keep"]
    assert out[1]["span_dup_frac"] == 1.0
    assert not out[3]["span_duplicated"] and out[3]["keep"]
    assert out[4]["span_dup_frac"] is None
    assert not out[4]["span_duplicated"]  # NULL never flags


def test_training_shard_export_round_trip(spark, tmp_path):
    """Export -> manifest totals == data; subset read honors the
    shard filter; verify catches tampering."""
    import json as _json
    import os

    from marketdatapipeline_spark.textops.export import (
        export_training_shards,
        read_training_shards,
    )

    docs = spark.createDataFrame(
        [(i, "word " * (10 + i % 7), f"s{i % 3}") for i in range(60)],
        ["doc_id", "text", "source"],
    )
    path = str(tmp_path / "shards")
    man = export_training_shards(docs, path, target_chars=600)
    assert man["n_docs"] == 60
    assert man["n_shards"] >= 2
    assert sum(s["n_docs"] for s in man["shards"]) == 60
    # shards are size-balanced to within one doc of the target
    assert all(s["n_chars"] <= 600 + 100 for s in man["shards"][:-1])

    back = read_training_shards(spark, path, verify=True)
    assert back.count() == 60
    assert "source" in back.columns  # extra columns preserved

    some = read_training_shards(spark, path, shards=[0], verify=True)
    assert some.select("shard").distinct().collect()[0][0] == 0

    # corrupt the manifest -> verify must catch it
    mp = os.path.join(path, "manifest.json")
    m = _json.load(open(mp))
    m["shards"][0]["n_docs"] += 1
    _json.dump(m, open(mp, "w"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not match"):
        read_training_shards(spark, path, verify=True)


def test_training_shard_export_round_trip_file_uri(spark, tmp_path):
    """Export to and read back from a ``file://`` URI: the manifest
    goes through the same Hadoop filesystem as the shard data."""
    from marketdatapipeline_spark.textops.export import (
        export_training_shards,
        read_training_shards,
    )

    docs = spark.createDataFrame(
        [(i, "word " * (10 + i % 7)) for i in range(40)], ["doc_id", "text"]
    )
    uri = (tmp_path / "shards").as_uri()
    assert uri.startswith("file://")
    man = export_training_shards(docs, uri, target_chars=400)
    assert man["n_docs"] == 40 and man["n_shards"] >= 2
    assert (tmp_path / "shards" / "manifest.json").is_file()
    assert read_training_shards(spark, uri, verify=True).count() == 40
    some = read_training_shards(spark, uri, shards=[1], verify=True)
    assert {r[0] for r in some.select("shard").distinct().collect()} == {1}


def test_systematic_weighted_sample_matches_python_reference(spark):
    """r12: the PPS systematic sample must select exactly the rows a
    scalar reference selects (same decimal->double->floor pipeline),
    emit each at its highest contained tick, clamp heavy rows to one
    emission, and be identical across the single-task and distributed
    cumsum routes and under input re-partitioning."""
    import random
    from decimal import Decimal

    from marketdatapipeline_spark.textops.corpus import (
        systematic_weighted_sample,
    )

    rng = random.Random(42)
    rows = [(i, rng.randint(1, 50)) for i in range(400)]
    # one monster row heavier than W/k: must appear exactly once
    rows[137] = (137, 5000)
    k = 25

    def reference():
        tw = sum(Decimal(w) for _, w in rows)
        twd = float(tw)
        out = {}
        cw = Decimal(0)
        for i, w in sorted(rows):
            prev = cw
            cw += Decimal(w)
            c_tick = float(cw) * float(k) / twd
            p_tick = float(prev) * float(k) / twd
            import math

            if math.floor(c_tick) > math.floor(p_tick):
                out[i] = math.floor(c_tick)
        return out

    want = reference()
    df = spark.createDataFrame(rows, ["doc_id", "wgt"])

    def got(frame, **kw):
        return {
            r["doc_id"]: r["tick"]
            for r in systematic_weighted_sample(
                frame, k=k, weight_col="wgt", **kw
            ).collect()
        }

    g1 = got(df, size_hint=400)            # single-task window route
    g2 = got(df.repartition(13))           # probed route, reshuffled
    from marketdatapipeline_spark.operators import ranking

    old = ranking.SINGLE_TASK_THRESHOLD
    ranking.SINGLE_TASK_THRESHOLD = 0      # force the distributed path
    try:
        g3 = got(df)
    finally:
        ranking.SINGLE_TASK_THRESHOLD = old
    assert g1 == want
    assert g2 == want
    assert g3 == want
    assert list(want).count(137) == 1      # heavy row emitted once
    # at most k selections; the 5000-weight row (~33% of total mass)
    # swallows its ~k/3 extra ticks by the without-replacement clamp
    assert len(want) <= k
    assert len(want) >= k - int(5000 / (sum(w for _, w in rows) / k)) - 2


# ---------------------------------------------------------------------------
# token-budget sequence packing (r13)
# ---------------------------------------------------------------------------


def _next_fit_reference(items, cap):
    """Scalar next-fit over [(id, tok, h, b)] — the kernel's ground
    truth: walk each bucket in (h, id) order, new bin on overflow."""
    out = {}
    by_bucket: dict[int, list] = {}
    for it in items:
        by_bucket.setdefault(it[3], []).append(it)
    bin_base = 0
    for b in sorted(by_bucket):
        rows = sorted(by_bucket[b], key=lambda x: (x[2], x[0]))
        cur, fill = -1, 0
        for doc_id, tok, _h, _b in rows:
            eff = min(tok, cap)
            # first row unconditionally opens bin 0 (even at eff=0),
            # matching the oracle CTE's first-row pin — independent of
            # the kernel's own init
            if cur < 0 or fill + eff > cap:
                cur, fill = cur + 1, 0
            out[doc_id] = (bin_base + cur, fill, tok > cap)
            fill += eff
        bin_base += cur + 1
    return out


def test_pack_sequences_matches_scalar_reference(spark, docs):
    from marketdatapipeline_spark.textops.corpus import (
        add_token_estimate,
        pack_sequences,
    )
    from marketdatapipeline_spark.textops.dedup import md5_int

    cap = 40
    toks = add_token_estimate(docs)
    items = [
        (r["doc_id"], r["n_tokens_bpe"], r["_h"], r["_h"] % 32)
        for r in toks.withColumn(
            "_h", md5_int(F.col("doc_id").cast("string"))
        ).collect()
    ]
    want = _next_fit_reference(items, cap)
    got = pack_sequences(toks, context_tokens=cap).collect()
    assert len(got) == len(want)
    for r in got:
        wb, woff, wtr = want[r["doc_id"]]
        assert (r["bin_id"], r["bin_offset"], r["truncated"]) == (wb, woff, wtr)


def test_pack_sequences_invariants_and_determinism(spark, docs):
    from marketdatapipeline_spark.textops.corpus import (
        add_token_estimate,
        pack_sequences,
    )

    cap = 64
    toks = add_token_estimate(docs)
    out = pack_sequences(toks, context_tokens=cap).collect()
    # dense 0-based bin ids
    bins = sorted({r["bin_id"] for r in out})
    assert bins == list(range(len(bins)))
    # no bin overflows the budget (truncated docs clamp to cap)
    fills: dict[int, int] = {}
    for r in out:
        fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + min(r["n_tokens"], cap)
    assert all(v <= cap for v in fills.values())
    # offsets are the running fill inside each bin
    per_bin: dict[int, list] = {}
    for r in out:
        per_bin.setdefault(r["bin_id"], []).append(r)
    for rows in per_bin.values():
        rows.sort(key=lambda r: r["bin_offset"])
        run = 0
        for r in rows:
            assert r["bin_offset"] == run
            run += min(r["n_tokens"], cap)
    # stable under physical layout changes
    again = pack_sequences(
        add_token_estimate(docs.repartition(7).sortWithinPartitions("n_chars")),
        context_tokens=cap,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pack_sequences_truncates_oversized_docs(spark):
    from marketdatapipeline_spark.textops.corpus import pack_sequences

    df = spark.createDataFrame(
        [(1, 300), (2, 10), (3, 10), (4, 500)],
        ["doc_id", "n_tokens_bpe"],
    )
    out = {r["doc_id"]: r for r in pack_sequences(df, context_tokens=128).collect()}
    # oversized docs sit alone at offset 0, flagged
    for big in (1, 4):
        assert out[big]["truncated"] and out[big]["bin_offset"] == 0
        assert sum(1 for r in out.values() if r["bin_id"] == out[big]["bin_id"]) == 1
    assert not out[2]["truncated"] and not out[3]["truncated"]
    with pytest.raises(ValueError):
        pack_sequences(df, context_tokens=0)


def test_pack_sequences_zero_token_docs(spark):
    """Empty texts yield n_tokens=0; every such doc must still get a
    non-negative 0-based bin id (a zero-token FIRST bucket row used to
    land in bin -1 at offset cap) and zero-token docs never force a
    new bin."""
    from marketdatapipeline_spark.textops.corpus import pack_sequences

    df = spark.createDataFrame(
        [(i, 0) for i in range(1, 9)] + [(9, 30), (10, 30)],
        ["doc_id", "n_tokens_bpe"],
    )
    out = pack_sequences(df, context_tokens=64, n_buckets=4).collect()
    assert len(out) == 10
    assert all(r["bin_id"] >= 0 for r in out)
    bins = sorted({r["bin_id"] for r in out})
    assert bins == list(range(len(bins)))
    assert not any(r["truncated"] for r in out)
    # per-bucket fills never exceed the budget
    fills: dict[int, int] = {}
    for r in out:
        fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + min(r["n_tokens"], 64)
    assert all(v <= 64 for v in fills.values())


def test_pack_sequences_string_doc_ids(spark):
    """id_col is a public parameter: string ids must round-trip the
    Arrow kernel (the output schema derives the id type from the
    input, not an assumed bigint)."""
    from marketdatapipeline_spark.textops.corpus import pack_sequences

    df = spark.createDataFrame(
        [("a", 30), ("b", 30), ("c", 50), ("d", 10)],
        ["doc_id", "n_tokens_bpe"],
    )
    out = {r["doc_id"]: r for r in pack_sequences(df, context_tokens=64).collect()}
    assert set(out) == {"a", "b", "c", "d"}
    assert out["a"]["n_tokens"] == 30
    assert all(r["bin_id"] >= 0 for r in out.values())


def test_packing_waste_accounts_every_token(spark, docs):
    from marketdatapipeline_spark.textops.corpus import (
        add_token_estimate,
        pack_sequences,
        packing_waste,
    )

    cap = 64
    toks = add_token_estimate(docs)
    packed = pack_sequences(toks, context_tokens=cap)
    rows = packed.collect()
    audit = packing_waste(packed, context_tokens=cap).collect()[0]
    n_bins = len({r["bin_id"] for r in rows})
    packed_tokens = sum(min(r["n_tokens"], cap) for r in rows)
    assert audit["n_bins"] == n_bins
    assert audit["n_docs"] == len(rows)
    assert audit["packed_tokens"] == packed_tokens
    assert audit["padding_tokens"] == n_bins * cap - packed_tokens
    assert audit["padding_ratio"] == round(
        (n_bins * cap - packed_tokens) / (n_bins * cap), 6
    )


def test_duplicate_clusters_driver_route_rejects_null_edge_ids(spark):
    """r13 (ADVICE r12): a null edge endpoint would arrive in the
    driver twin's toPandas as float64 (pandas has no nullable int64
    by default) and feed FLOAT ids to the union-find — the contract
    violation must fail loud instead."""
    from marketdatapipeline_spark.textops.corpus import duplicate_clusters

    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(2, 1), (None, 3)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(Exception, match="NULL ids"):
        # small edge list -> driver union-find route
        duplicate_clusters(nodes, pairs).collect()


def test_hybrid_retrieval_rrf_fuses_channels(spark, docs):
    from marketdatapipeline_spark.textops.corpus import (
        hybrid_retrieval_rrf,
        query_trigram_hashes,
    )

    out = hybrid_retrieval_rrf(
        docs, ("data", "alpha"), "alpha data text", top_n=10, final_n=50
    ).collect()
    assert out, "fixture must produce at least one retrieval hit"
    for r in out:
        # every row sits in at least one channel; ranks are in-band
        assert r["bm25_rank"] is not None or r["trigram_rank"] is not None
        for c in ("bm25_rank", "trigram_rank"):
            assert r[c] is None or 1 <= r[c] <= 10
        # rrf is self-consistent with the emitted ranks
        want = (1.0 / (60 + r["bm25_rank"]) if r["bm25_rank"] else 0.0) + (
            1.0 / (60 + r["trigram_rank"]) if r["trigram_rank"] else 0.0
        )
        assert r["rrf"] == want
    # ordered by (rrf desc, doc_id)
    key = [(-r["rrf"], r["doc_id"]) for r in out]
    assert key == sorted(key)
    # both channels actually contribute on this fixture
    assert any(r["bm25_rank"] is not None for r in out)
    assert any(r["trigram_rank"] is not None for r in out)

    # deterministic under physical layout changes
    again = hybrid_retrieval_rrf(
        docs.repartition(7), ("data", "alpha"), "alpha data text",
        top_n=10, final_n=50,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    with pytest.raises(ValueError):
        hybrid_retrieval_rrf(docs, ("data",), "ab")  # no 3-gram
    assert query_trigram_hashes("AbC") == query_trigram_hashes("abc")


def test_packing_manifest_orders_docs_by_offset(spark, docs):
    from marketdatapipeline_spark.textops.corpus import (
        add_token_estimate,
        pack_sequences,
        packing_manifest,
    )

    cap = 64
    packed = pack_sequences(add_token_estimate(docs), context_tokens=cap)
    rows = packed.collect()
    man = {r["bin_id"]: r for r in packing_manifest(packed, cap).collect()}
    per_bin: dict[int, list] = {}
    for r in rows:
        per_bin.setdefault(r["bin_id"], []).append(r)
    assert set(man) == set(per_bin)
    for b, rws in per_bin.items():
        want_ids = [
            str(r["doc_id"])
            for r in sorted(rws, key=lambda r: (r["bin_offset"], r["doc_id"]))
        ]
        assert man[b]["doc_ids"] == ",".join(want_ids)
        assert man[b]["n_docs"] == len(rws)
        assert man[b]["fill_tokens"] == sum(
            min(r["n_tokens"], cap) for r in rws
        )


def test_deduplicate_near_keeps_one_canonical_per_cluster(spark):
    """Survivor = min-id member of each connected cluster; n_merged
    conservation: sum over survivors == input rows; non-duplicated
    docs pass through with n_merged=1 and all columns intact."""
    from marketdatapipeline_spark.textops.corpus import deduplicate_near

    docs = spark.createDataFrame(
        [
            (1, "aaa", "s1"),
            (2, "aab", "s1"),   # pair (1,2)
            (3, "ccc", "s2"),   # pair (3,5) and (5,9) -> chain {3,5,9}
            (5, "ccd", "s2"),
            (9, "cce", "s2"),
            (7, "zzz", "s3"),   # singleton
        ],
        ["doc_id", "text", "source"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 5), (5, 9)], ["id_a", "id_b"]
    )
    out = {r["doc_id"]: r for r in deduplicate_near(docs, pairs).collect()}
    assert set(out) == {1, 3, 7}
    assert out[1]["n_merged"] == 2
    assert out[3]["n_merged"] == 3
    assert out[7]["n_merged"] == 1
    assert sum(r["n_merged"] for r in out.values()) == 6
    # original columns survive
    assert out[3]["text"] == "ccc" and out[3]["source"] == "s2"
