"""Store files: one module owns the Hadoop filesystem and the manifests,
and a manifest rewrite is atomic."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parents[1] / "marketdatapipeline_spark"
OWNER = PACKAGE / "data" / "storefs.py"
FS_NAMES = {"hadoopConfiguration", "getFileSystem"}


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the Constant nodes that are module/class/def docstrings."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def test_only_storefs_touches_hadoop_fs_and_manifests():
    """No package module but storefs obtains a Hadoop FileSystem or
    names a ``manifest.json`` outside a docstring."""
    offences = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == OWNER:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        docs = _docstrings(tree)
        rel = path.relative_to(PACKAGE.parent)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in FS_NAMES:
                offences.append(f"{rel}:{node.lineno} .{node.attr}")
            elif isinstance(node, ast.Name) and node.id in FS_NAMES:
                offences.append(f"{rel}:{node.lineno} {node.id}")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
                and ("manifest.json" in node.value or node.value in FS_NAMES)
            ):
                offences.append(f"{rel}:{node.lineno} {node.value!r}")
    assert not offences, "route these through data/storefs.py:\n" + "\n".join(
        offences
    )


def _fail_after_open(monkeypatch, storefs):
    """Make every storefs text write die half-way: the file is created
    and partly written, then the write raises before any rename."""
    real = storefs.write_text

    def torn(spark, path, text):
        real(spark, path, text[: len(text) // 2])
        raise OSError("simulated crash mid-write")

    monkeypatch.setattr(storefs, "write_text", torn)


def test_span_store_manifest_survives_failed_rewrite(spark, tmp_path, monkeypatch):
    from marketdatapipeline_spark.data import storefs
    from marketdatapipeline_spark.textops.span_store import (
        SpanDedupStore,
        build_span_store,
    )

    path = str(tmp_path / "span")
    store, _ = build_span_store(
        spark.createDataFrame(
            [(1, "first document about rivers and stones and morning fog")],
            ["doc_id", "text"],
        ),
        path,
        k=16,
    )
    before = SpanDedupStore.open(path, spark).manifest
    assert before["n_docs"] == 1 and before["n_batches"] == 1

    _fail_after_open(monkeypatch, storefs)
    with pytest.raises(OSError, match="simulated crash"):
        store.ingest(
            spark.createDataFrame(
                [(2, "second document concerning metallurgy and furnaces")],
                ["doc_id", "text"],
            )
        )
    monkeypatch.undo()
    assert SpanDedupStore.open(path, spark).manifest == before


def test_packing_store_manifest_survives_failed_rewrite(
    spark, tmp_path, monkeypatch
):
    from marketdatapipeline_spark.data import storefs
    from marketdatapipeline_spark.textops.packing_store import (
        IncrementalPackingStore,
        build_packing_store,
    )

    path = str(tmp_path / "pack")
    docs = [(i, 10 + (i * 7) % 90) for i in range(1, 41)]
    store = build_packing_store(
        spark.createDataFrame(docs[:20], ["doc_id", "n_tokens_bpe"]),
        path,
        context_tokens=96,
        n_buckets=4,
    )
    before = IncrementalPackingStore.open(path, spark).manifest
    assert before["n_docs"] == 20 and before["n_batches"] == 1

    _fail_after_open(monkeypatch, storefs)
    with pytest.raises(OSError, match="simulated crash"):
        store.ingest(spark.createDataFrame(docs[20:], ["doc_id", "n_tokens_bpe"]))
    monkeypatch.undo()
    assert IncrementalPackingStore.open(path, spark).manifest == before


def test_replace_dir_swaps_and_missing_tmp_clears(spark, tmp_path):
    from marketdatapipeline_spark.data import storefs

    dest, tmp = tmp_path / "dest", tmp_path / "new" / "tmp"
    dest.mkdir()
    (dest / "old.txt").write_text("old")
    tmp.mkdir(parents=True)
    (tmp / "new.txt").write_text("new")
    storefs.replace_dir(spark, str(tmp), str(dest))
    assert sorted(p.name for p in dest.iterdir()) == ["new.txt"]
    assert not tmp.exists()
    # dest's parent is created when missing
    nested = tmp_path / "a" / "b"
    tmp.mkdir()
    storefs.replace_dir(spark, str(tmp), str(nested))
    assert nested.is_dir()
    # nothing to swap in: dest is replaced by nothing
    storefs.replace_dir(spark, str(tmp_path / "absent"), str(dest))
    assert not dest.exists()
