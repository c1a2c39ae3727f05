"""Seeded input generators. The same seed gives the same inputs; the
program under test only ever sees the parquet files written from them.

* :func:`bars` — one-minute OHLCV bars, a geometric random walk per
  symbol that meets FIXTURES.md section 1 (high >= max(open, close),
  0 < low <= min(open, close), volume >= 0, a gap-free minute grid).
* :func:`corpus` — documents with planted shares of exact duplicates,
  near-duplicates (re-flowed and extended copies) and quality failures,
  plus a second drop that shares a planted share with the corpus; the
  planted counts are the expected verdicts.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

#: The quality gate's stopword list (textops/analysis.py), restated so the
#: generator can guarantee every clean document passes the gate.
STOPWORDS = np.array(["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"])

#: Offset of second-drop document ids, far above any corpus id.
DROP_ID_BASE = 1_000_000_000

#: Extended copies are made only of documents with at least this many
#: tokens: one extra shingle then leaves Jaccard >= 93/94, which 16
#: MinHash values in 4 bands of 4 miss with probability (1 - J^4)^4,
#: about 3e-6 per copy.
EXTEND_MIN_TOKENS = 95


def bars(seed: int, n_symbols: int, n_bars: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    start = rng.uniform(100.0, 500.0, (n_symbols, 1))
    close = start * np.exp(np.cumsum(rng.normal(0.0, 1e-3, (n_symbols, n_bars)), axis=1))
    open_ = np.concatenate([start, close[:, :-1]], axis=1)
    wick = np.abs(rng.normal(0.0, 5e-4, (2, n_symbols, n_bars)))
    high = np.maximum(open_, close) * (1.0 + wick[0])
    low = np.minimum(open_, close) * (1.0 - wick[1])
    volume = np.floor(rng.lognormal(8.0, 1.0, (n_symbols, n_bars)))
    minutes = np.datetime64("2024-01-02T09:30", "us") + np.arange(n_bars) * np.timedelta64(60, "s")
    names = np.array([f"S{i:03d}" for i in range(n_symbols)])
    return pd.DataFrame(
        {
            "symbol": np.repeat(names, n_bars),
            "datetime": np.tile(minutes, n_symbols),
            "open": open_.ravel(),
            "high": high.ravel(),
            "low": low.ravel(),
            "close": close.ravel(),
            "volume": volume.ravel(),
        }
    )


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def _vocabulary(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {
        "".join(rng.choice(letters, rng.integers(lo, hi + 1)))
        for _ in range(n)
    }
    words -= set(STOPWORDS)
    return np.array(sorted(words))


def _texts(
    rng: np.random.Generator,
    vocab: np.ndarray,
    lengths: np.ndarray,
    stop_every: int | None = 6,
    suffix: str = "",
) -> list[str]:
    """One text per entry of ``lengths``. Every ``stop_every``-th token
    is a stopword (so the stopword share never falls below the gate),
    every 13th token ends a sentence with a period, and ``suffix`` is
    appended to each token."""
    total = int(lengths.sum())
    rank = np.arange(len(vocab))
    weight = 1.0 / (rank + 20.0)  # mildly skewed word frequencies
    ids = rng.choice(len(vocab), total, p=weight / weight.sum())
    pos = np.arange(total) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    if stop_every:
        stops = len(vocab) + rng.integers(0, len(STOPWORDS), total)
        ids = np.where(pos % stop_every == 2, stops, ids)
    words = [*vocab.tolist(), *STOPWORDS.tolist()]
    # ids past len(words) name the same word followed by a period
    ids = np.where(pos % 13 == 12, ids + len(words), ids)
    table = [w + suffix for w in words] + [w + "." + suffix for w in words]
    flat = list(map(table.__getitem__, ids.tolist()))
    ends = np.cumsum(lengths).tolist()
    return [" ".join(flat[a:b]) for a, b in zip([0, *ends[:-1]], ends)]


def reflow(rng: np.random.Generator, text: str) -> str:
    """Same tokens, different whitespace: a re-wrapped copy. Its
    3-shingle set equals the original's (Jaccard 1.0), so every LSH band
    collides and the near-duplicate verdict is certain for any hash
    family, while the md5 differs, so exact dedup does not catch it."""
    words = text.split(" ")
    seps = rng.choice(np.array([" ", "  ", "\n", " \n", "\t"]), len(words) - 1)
    seps[rng.integers(0, len(seps))] = "\n"  # at least one changed gap
    return "".join(w + s for w, s in zip(words, seps)) + words[-1]


def extend(rng: np.random.Generator, text: str, vocab: np.ndarray) -> str:
    """The text with one more word at its end: a near-duplicate that is
    not identical. Of ``n`` tokens' ``n - 2`` shingles all are kept and
    one is added, so Jaccard is ``(n - 2) / (n - 1)``, below 1.0, and only
    a similarity search finds the copy."""
    return f"{text} {rng.choice(vocab)}"


def shingle_count(text: str, n: int = 3) -> int:
    """Distinct whitespace-token n-grams of ``text``."""
    w = text.split()
    return len({tuple(w[i:i + n]) for i in range(len(w) - n + 1)})


@dataclass
class Corpus:
    documents: pd.DataFrame  # the curation corpus
    base: pd.DataFrame  # its unique clean documents: the store's seed
    drop: pd.DataFrame  # the second drop, ingested into the store
    expected_verdicts: dict[str, int]  # curation reason -> count
    expected_drop_duplicates: int
    accepted_shingles: int  # distinct shingles of the drop's accepted docs


def _frame(ids: np.ndarray, texts: list[str]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": ids.astype("int64"),
            "text": texts,
            "lang": "en",
            "source": [f"src{i % 5}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def corpus(
    seed: int,
    n_unique: int,
    n_exact: int,
    n_near: int,
    n_quality: int,
    n_drop_fresh: int,
    n_drop_shared: int,
    n_drop_internal: int,
    n_extended: int,
    tokens: tuple[int, int] = (40, 100),
) -> Corpus:
    """Build the curation corpus and the second drop.

    Corpus ids ``0 .. n_unique-1`` are clean unique documents (``tokens``
    is their inclusive length range; at least 30, so they pass every
    quality bound). After them, in shuffled order:
    ``n_exact`` byte-identical copies and ``n_near`` near-duplicate
    copies of distinct clean documents, and ``n_quality`` documents that
    each fail one quality bound (too short, too much punctuation, words
    too long, no stopwords). Copies always carry a larger id than their
    original, so keep-min-id drops the copy.

    The drop holds ``n_drop_fresh`` new clean documents,
    ``n_drop_shared`` copies (half exact, half near) of distinct corpus
    originals, and ``n_drop_internal`` near copies of the drop's own
    fresh documents. Every copy is a duplicate; nothing else is.

    Of each of the three groups of near copies, ``n_extended`` are
    :func:`extend`-ed copies of long originals and the rest are
    :func:`reflow`-ed copies.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, 6000, 4, 9)
    lo, hi = tokens
    assert hi >= EXTEND_MIN_TOKENS
    half = n_drop_shared // 2
    # originals: distinct clean documents, chosen before their texts so
    # that the extended ones can be made long
    cut = np.cumsum([n_near, n_drop_shared - half, n_exact, half])
    near_of, shared_near_of, exact_of, shared_exact_of = np.split(
        rng.permutation(n_unique)[:cut[-1]], cut[:-1]
    )
    internal_of = n_unique + rng.choice(n_drop_fresh, n_drop_internal, replace=False)
    lengths = rng.integers(lo, hi + 1, n_unique + n_drop_fresh)
    extended_of = np.concatenate(
        [near_of[:n_extended], shared_near_of[:n_extended], internal_of[:n_extended]]
    )
    lengths[extended_of] = rng.integers(EXTEND_MIN_TOKENS, hi + 1, len(extended_of))
    clean = _texts(rng, vocab, lengths)
    unique, fresh = clean[:n_unique], clean[n_unique:]

    def near(of: np.ndarray) -> list[str]:
        """Near copies of ``clean[i]`` for ``i`` in ``of``, the first
        ``n_extended`` extended."""
        return [
            extend(rng, clean[i], vocab) if k < n_extended else reflow(rng, clean[i])
            for k, i in enumerate(of)
        ]

    kinds = np.arange(n_quality) % 4
    bad = []
    for kind in range(4):
        k = int((kinds == kind).sum())
        if kind == 0:  # under the 30-token minimum
            bad += _texts(rng, vocab, rng.integers(8, 21, k))
        elif kind == 1:  # punctuation share above 0.2
            bad += _texts(rng, vocab, rng.integers(lo, hi + 1, k), suffix="?!!")
        elif kind == 2:  # mean word length above 12
            long_vocab = _vocabulary(rng, 500, 15, 20)
            bad += _texts(rng, long_vocab, rng.integers(lo, hi + 1, k))
        else:  # stopword share below 0.02
            bad += _texts(rng, vocab, rng.integers(lo, hi + 1, k), stop_every=None)

    planted = [unique[i] for i in exact_of] + near(near_of) + bad
    order = rng.permutation(len(planted))
    texts = unique + [planted[i] for i in order]
    documents = _frame(np.arange(len(texts)), texts)
    base = documents.iloc[:n_unique].reset_index(drop=True)

    shared = [unique[i] for i in shared_exact_of] + near(shared_near_of)
    internal = near(internal_of)
    # fresh originals first, so every internal copy has a larger id
    drop_texts = fresh + [*shared, *internal]
    drop_ids = DROP_ID_BASE + np.concatenate(
        [np.arange(n_drop_fresh), n_drop_fresh + rng.permutation(len(shared) + len(internal))]
    )
    drop = _frame(drop_ids, drop_texts).sort_values("doc_id").reset_index(drop=True)

    return Corpus(
        documents=documents,
        base=base,
        drop=drop,
        expected_verdicts={
            "kept": n_unique,
            "exact_dup": n_exact,
            "near_dup": n_near,
            "quality": n_quality,
        },
        expected_drop_duplicates=n_drop_shared + n_drop_internal,
        accepted_shingles=sum(shingle_count(t) for t in fresh),
    )
