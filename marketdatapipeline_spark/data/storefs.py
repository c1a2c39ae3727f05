"""Store files: the one place package code talks to a Hadoop FileSystem.

The persisted stores (``LSHDedupStore``, ``IVFIndex``,
``IncrementalPackingStore``, ``SpanDedupStore``) and the training-shard
export keep parquet tables plus small JSON files under one root. Every
path goes through the session's Hadoop filesystem, so a root may be
any scheme Spark can write (local, ``file://``, hdfs://, s3a://), not
just the driver's local disk.

Each store's manifest is ``manifest.json`` in its root, one JSON
object whose keys are the store's constructor arguments or counters.
:func:`read_json` is where a format-version check would go once a
second manifest format exists.
"""

from __future__ import annotations

import json
import os

from py4j.java_gateway import is_instance_of
from pyspark.sql import SparkSession

MANIFEST = "manifest.json"


def _resolve(spark: SparkSession, path: str):
    """``(jvm, hadoop Path, its FileSystem)``. Every py4j lookup is a
    round trip to the JVM, so the Path is built once per call."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p, p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())


def fs(spark: SparkSession, path: str):
    """``(jvm, FileSystem)`` for ``path``'s scheme."""
    jvm, _, f = _resolve(spark, path)
    return jvm, f


def exists(spark: SparkSession, path: str) -> bool:
    _, p, f = _resolve(spark, path)
    return f.exists(p)


def delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``; a missing path is not an error."""
    _, p, f = _resolve(spark, path)
    f.delete(p, True)


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small UTF-8 text file, replacing any existing one."""
    _, p, f = _resolve(spark, path)
    out = f.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    """Read a small UTF-8 text file in one py4j round trip:
    ``readAllBytes`` drains the stream JVM-side and the byte[] crosses
    as one bytes object, instead of one ``read()`` call per byte.

    On the local filesystem the read skips Hadoop's ``.crc`` side
    file, so a manifest edited by hand still reads; a torn file
    fails in the JSON parse instead."""
    _, p, f = _resolve(spark, path)
    if is_instance_of(
        spark.sparkContext._gateway, f, "org.apache.hadoop.fs.ChecksumFileSystem"
    ):
        f = f.getRawFileSystem()
    stream = f.open(p)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def read_json(spark: SparkSession, directory: str, name: str = MANIFEST) -> dict:
    return json.loads(read_text(spark, os.path.join(directory, name)))


def write_json(spark: SparkSession, directory: str, obj: dict) -> None:
    """Atomically replace ``directory``'s manifest with ``obj``: the
    bytes go to a dot-tmp file first, then one rename moves it over
    the target. A failure before the rename leaves the previous file
    intact. ``FileSystem.rename`` refuses an existing target, so the
    rename goes through ``FileContext`` with ``Rename.OVERWRITE``."""
    jvm, root, f = _resolve(spark, directory)
    Path = jvm.org.apache.hadoop.fs.Path
    root = f.makeQualified(root)
    tmp = Path(root, f".{MANIFEST}.tmp")
    write_text(spark, tmp.toString(), json.dumps(obj))
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        f.getUri(), spark.sparkContext._jsc.hadoopConfiguration()
    )
    overwrite = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 1
    )
    overwrite[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(tmp, Path(root, MANIFEST), overwrite)


def replace_dir(spark: SparkSession, tmp: str, dest: str) -> None:
    """Swap a fully written directory ``tmp`` in as ``dest``: delete
    ``dest``, then rename ``tmp`` onto it (a missing ``tmp`` leaves
    ``dest`` absent, i.e. replaced by nothing).

    Crash contract, the same for every caller: rename is atomic, the
    pair is not. A crash between the delete and the rename leaves
    ``dest`` missing and ``tmp`` complete: recover by renaming ``tmp``
    into place by hand. A crash before the delete leaves ``dest``
    untouched next to an orphan ``tmp``, which the next run
    overwrites."""
    jvm, p_dest, f = _resolve(spark, dest)
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    f.delete(p_dest, True)
    if f.exists(p_tmp):
        f.mkdirs(p_dest.getParent())
        if not f.rename(p_tmp, p_dest):
            raise RuntimeError(f"could not rename {tmp} to {dest}")
