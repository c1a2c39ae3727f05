"""Tests of the benchmark itself (no Spark needed):

    python -m pytest perfbench/tests -q

* the benchmark calls the package only through public signatures with
  default arguments, so planned simplifications of the package (one
  feature engine, no EWM switch, fewer tools) cannot break it;
* the generators are deterministic per seed and plant what they claim;
* BENCHMARK.json names only metrics the runner produces.
"""

from __future__ import annotations

import ast
import json
import re
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = ROOT / "perfbench"
sys.path.insert(0, str(ROOT))

from perfbench import gen, run, trace  # noqa: E402

SOURCES = sorted(p for p in BENCH.glob("*.py"))

#: keyword arguments that select between the package's internal paths
SWITCHES = {"engine", "ewm_impl", "split_method", "n_rows"}


def _trees():
    return [(p.name, ast.parse(p.read_text())) for p in SOURCES]


def test_no_path_switches_passed():
    for name, tree in _trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                used = {k.arg for k in node.keywords} & SWITCHES
                assert not used, f"{name}:{node.lineno} passes {used}"


def test_no_private_or_tool_imports():
    for name, tree in _trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                assert mod.split(".")[0] not in ("bench", "tools"), f"{name} imports {mod}"
                if mod.startswith("marketdatapipeline_spark"):
                    private = [a.name for a in node.names if a.name.startswith("_")]
                    assert not private, f"{name} imports private {private} from {mod}"
            elif isinstance(node, ast.Import):
                for a in node.names:
                    assert a.name.split(".")[0] not in ("bench", "tools"), f"{name} imports {a.name}"


def test_no_package_state_patched():
    """Nothing assigns to an attribute of an imported package module
    or calls setattr: module constants stay as the package defines them."""
    for name, tree in _trees():
        package_names = {
            (a.asname or a.name)
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            and (node.module or "").startswith("marketdatapipeline_spark")
            for a in node.names
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "setattr":
                raise AssertionError(f"{name}:{node.lineno} calls setattr")
            targets = node.targets if isinstance(node, ast.Assign) else (
                [node.target] if isinstance(node, (ast.AugAssign, ast.AnnAssign)) else []
            )
            for t in targets:
                if isinstance(t, ast.Attribute) and isinstance(t.value, ast.Name):
                    assert t.value.id not in package_names, (
                        f"{name}:{node.lineno} assigns {t.value.id}.{t.attr}"
                    )


def test_benchmark_json_matches_runner():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert e2e == {"setup_s", "pass_s", "cpu_s", "peak_rss_mb"}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    prefixes = set(run.PREFIX.values()) | {"storage", "pass", "trace", "host"}
    for m in spec["per_layer"]:
        head = m["name"].rsplit(".", 1)[0]
        assert head in prefixes, m["name"]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)


# -- generators --------------------------------------------------------------


def test_bars_deterministic_and_valid():
    a, b = gen.bars(3, 4, 500), gen.bars(3, 4, 500)
    assert a.equals(b)
    assert not a.equals(gen.bars(4, 4, 500))
    oc = a[["open", "close"]]
    assert (a["high"] >= oc.max(axis=1)).all()
    assert (a["low"] <= oc.min(axis=1)).all() and (a["low"] > 0).all()
    assert (a["volume"] >= 0).all()
    for _, g in a.groupby("symbol"):
        step = g["datetime"].diff().dropna().unique()
        assert len(step) == 1 and step[0] == np.timedelta64(60, "s")


SIZES = dict(n_unique=300, n_exact=20, n_near=20, n_quality=40,
             n_drop_fresh=60, n_drop_shared=20, n_drop_internal=10, n_extended=3)


def _signals(text: str) -> dict:
    """The quality gate's signals, restated from catalog_operators._QF."""
    words = text.split()
    punct = sum(1 for ch in text if not (ch.isalnum() or ch == "_" or ch.isspace()))
    return {
        "n_tokens": len(words),
        "punct_ratio": punct / len(text),
        "stopword_ratio": sum(w.lower() in gen.STOPWORDS for w in words) / len(words),
        "mean_word_len": sum(len(w) for w in words) / len(words),
    }


def _passes(text: str) -> bool:
    s = _signals(text)
    return (30 <= s["n_tokens"] <= 50_000 and s["punct_ratio"] <= 0.2
            and s["stopword_ratio"] >= 0.02 and 2.0 <= s["mean_word_len"] <= 12.0)


def _shingles(text: str) -> frozenset:
    w = text.split()
    return frozenset(tuple(w[i:i + 3]) for i in range(len(w) - 2))


def test_corpus_deterministic():
    a, b = gen.corpus(5, **SIZES), gen.corpus(5, **SIZES)
    assert a.documents.equals(b.documents) and a.drop.equals(b.drop)
    assert not a.documents.equals(gen.corpus(6, **SIZES).documents)


def _jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def _near(sh: frozenset, seen: list) -> float:
    """The highest Jaccard of ``sh`` with an earlier kept document,
    and 0.0 when none reaches the curation threshold of 0.5."""
    best = max((_jaccard(sh, s) for s in seen), default=0.0)
    return best if best >= 0.5 else 0.0


def _miss(j: float, rows: int = 4, bands: int = 4) -> float:
    """Probability that MinHash LSH (4 bands of 4 values, the package's
    defaults) misses a pair of Jaccard ``j``."""
    return (1 - j**rows) ** bands


def test_corpus_plants_what_it_claims():
    """Recompute every verdict from the texts alone: keep-min-id exact
    dedup by text, the quality gate, and near-duplicates as a 3-shingle
    Jaccard of at least 0.5 with a smaller-id kept document. Exactly
    ``n_extended`` copies per group of near copies are similar but not
    identical, each similar enough that LSH misses it with probability
    under 1e-5."""
    c = gen.corpus(5, **SIZES)
    docs = c.documents.sort_values("doc_id")
    seen_text, kept, counts = set(), [], dict.fromkeys(c.expected_verdicts, 0)
    partial = []  # Jaccard of near copies that are not identical
    for text in docs["text"]:
        if text in seen_text:
            counts["exact_dup"] += 1
            continue
        seen_text.add(text)
        if not _passes(text):
            counts["quality"] += 1
            continue
        sh = _shingles(text)
        j = _near(sh, kept)
        if j:
            counts["near_dup"] += 1
            partial += [j] if j < 1.0 else []
        else:
            counts["kept"] += 1
            kept.append(sh)
    assert counts == c.expected_verdicts
    assert len(partial) == SIZES["n_extended"]
    assert len(c.base) == SIZES["n_unique"] and all(_passes(t) for t in c.base["text"])

    store = [_shingles(t) for t in c.base["text"]]
    dups = 0
    for text in c.drop.sort_values("doc_id")["text"]:
        sh = _shingles(text)
        j = _near(sh, store)
        if j:
            dups += 1
            partial += [j] if j < 1.0 else []
        else:
            store.append(sh)
    assert dups == c.expected_drop_duplicates
    assert len(partial) == 3 * SIZES["n_extended"]
    assert max(map(_miss, partial)) < 1e-5
    accepted = c.drop["text"].head(SIZES["n_drop_fresh"])
    assert c.accepted_shingles == sum(len(_shingles(t)) for t in accepted)


def test_extend_adds_one_shingle():
    rng = np.random.default_rng(0)
    text = "a b c d e f g"
    out = gen.extend(rng, text, np.array(["x", "y"]))
    assert out.split()[:-1] == text.split()
    assert _shingles(text) < _shingles(out)
    assert len(_shingles(out) - _shingles(text)) == 1


def test_reflow_keeps_tokens_changes_bytes():
    rng = np.random.default_rng(0)
    text = "a b c d e f g"
    out = gen.reflow(rng, text)
    assert out != text and out.split() == text.split()


# -- trace helpers -----------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert trace._covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace._covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert trace._covered([], 0, 1) == 0


def test_size_total_reads_the_total():
    s = "total (min, med, max (stageId: taskId))\n61.0 MiB (15.2 MiB, 15.3 MiB, 15.4 MiB (stage 3.0: task 12))"
    assert trace._size_total(s) == pytest.approx(61.0 * 2**20)
    assert trace._size_total("total\n512.0 B (1.0 B, 2.0 B, 3.0 B)") == 512.0
