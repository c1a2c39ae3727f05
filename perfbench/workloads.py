"""The two workloads. Each generates its inputs from the seed during
set-up, then runs passes that call the package's layers through their
public signatures with default arguments, and checks each pass's output
against values that do not come from the code under test.

A pass returns ``(outputs, extras)``: ``outputs`` is what the check
reads, ``extras`` are per-layer readings taken outside Spark's stores
(bytes on disk, cached blocks), only when tracing.
"""

from __future__ import annotations

import math
import os
import shutil
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen


def _write_parquet(df: pd.DataFrame, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _sink(df, *aggregates):
    """Run ``df`` to Spark's noop sink (every column computed, nothing
    written) and return aggregates observed on the same pass."""
    from pyspark.sql import Observation

    obs = Observation("perfbench")
    df.observe(obs, *aggregates).write.format("noop").mode("overwrite").save()
    return obs.get


def _dir_files(root: Path) -> dict[str, int]:
    """{relative path: size} of the data files under ``root``
    (checksum side files excluded)."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".crc"):
                p = Path(dirpath, f)
                out[str(p.relative_to(root))] = p.stat().st_size
    return out


class Workload:
    name: str
    input_rows: int

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed

    def prepare(self, spark) -> None:
        """Generate inputs and any state a pass starts from."""

    def reset(self, index: int) -> None:
        """Restore the starting state before pass ``index`` (untimed)."""

    def run_pass(self, spark, tracer, index: int) -> tuple[dict, dict]:
        raise NotImplementedError

    def check(self, outputs: dict) -> list[str]:
        """Problems found in one pass's outputs; empty when correct."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# pipeline_1sym
# ---------------------------------------------------------------------------


class Pipeline1Sym(Workload):
    """One symbol through the five phases of main.run_pipeline, one
    public function at a time."""

    name = "pipeline_1sym"
    n_bars = 20_000
    symbol = "SYM"
    #: the longest lookback, volatility_60 over returns, leaves 60
    #: leading nulls; generate_targets drops the last row
    leading_nulls = 60
    horizon = 1
    test_size = 0.2

    @property
    def input_rows(self) -> int:
        return self.n_bars

    def prepare(self, spark) -> None:
        bars = gen.bars(self.seed, 1, self.n_bars).drop(columns="symbol")
        self.source = self.work / "source.parquet"
        _write_parquet(bars, self.source)
        n_clean = self.n_bars - self.horizon - self.leading_nulls
        n_test = math.ceil(n_clean * self.test_size)  # train_test_split(shuffle=False)
        self.expected = {
            "n_featured": self.n_bars - self.horizon,
            "n_train": n_clean - n_test,
            "n_test": n_test,
        }
        self.first_metrics = None

    def _fetch(self, symbol: str, interval: str, outputsize: str) -> pd.DataFrame:
        """The API stand-in: serves the generated bars from parquet."""
        return pd.read_parquet(self.source)

    def reset(self, index):
        self.data_dir = self.work / f"pass-{index}"
        shutil.rmtree(self.data_dir, ignore_errors=True)

    def run_pass(self, spark, tracer, index):
        from pyspark.sql import functions as F

        from marketdatapipeline_spark.features import compute_all_features, generate_targets
        from marketdatapipeline_spark.ingestion import fetch_multiple_symbols
        from marketdatapipeline_spark.ml.evaluation import classification_metrics, roc_auc
        from marketdatapipeline_spark.ml.prediction import predict
        from marketdatapipeline_spark.ml.preparation import prepare_dataset
        from marketdatapipeline_spark.ml.training import train_model

        with tracer.span("ingestion"):
            bars = fetch_multiple_symbols(
                spark, [self.symbol], fetcher=self._fetch, save=True,
                data_dir=str(self.data_dir),
            )
        with tracer.span("features"):
            # persisted as run_pipeline does; counted here so the
            # feature jobs run inside this span, not the next one
            featured = generate_targets(compute_all_features(bars)).persist()
            n_featured = featured.count()
        with tracer.span("ml.preparation"):
            train_df, test_df, names = prepare_dataset(featured)
            n_train, n_test = train_df.count(), test_df.count()
        with tracer.span("ml.training"):
            train_pdf = train_df.toPandas()
            model = train_model(
                train_pdf[names].to_numpy("float64"),
                train_pdf["target"].to_numpy("float64"),
                save_path=str(self.data_dir / "model.pkl"),
            )
        with tracer.span("ml.prediction"):
            scored = predict(model, test_df, names, return_proba=True)
        with tracer.span("ml.evaluation"):
            metrics = classification_metrics(
                scored.withColumn("prediction", F.col("prediction").cast("double"))
            ).collect()[0].asDict()
            metrics["roc_auc"] = roc_auc(
                scored.withColumn("probability", F.round("probability", 6)),
                label_col="target", score_col="probability",
            ).first()[0]
        featured.unpersist()
        extras = {}
        if tracer.enabled:
            extras["storage.bytes_written_mb"] = (
                sum(v for k, v in _dir_files(self.data_dir).items() if not k.endswith(".pkl")) / 1e6
            )
        shutil.rmtree(self.data_dir, ignore_errors=True)
        out = {
            "n_featured": n_featured, "n_train": n_train, "n_test": n_test,
            "n_train_collected": len(train_pdf), "metrics": metrics,
        }
        return out, extras

    def check(self, out):
        problems = [
            f"{k}: {out[k]}, expected {v}" for k, v in self.expected.items() if out[k] != v
        ]
        if out["n_train_collected"] != self.expected["n_train"]:
            problems.append(f"collected {out['n_train_collected']} training rows")
        if self.first_metrics is None:
            self.first_metrics = out["metrics"]
        elif out["metrics"] != self.first_metrics:
            problems.append(f"metrics {out['metrics']} differ from the first pass's {self.first_metrics}")
        return problems


# ---------------------------------------------------------------------------
# curation_docs
# ---------------------------------------------------------------------------


class CurationDocs(Workload):
    """(a) the documents_curation catalog entry over the generated corpus,
    then (b) LSHDedupStore.ingest of a second drop into a store seeded
    from the corpus's unique documents."""

    name = "curation_docs"
    sizes = dict(
        n_unique=1_500, n_exact=60, n_near=60, n_quality=80,
        n_drop_fresh=300, n_drop_shared=40, n_drop_internal=30, n_extended=5,
    )

    @property
    def input_rows(self) -> int:
        s = self.sizes
        return (s["n_unique"] + s["n_exact"] + s["n_near"] + s["n_quality"]
                + s["n_drop_fresh"] + s["n_drop_shared"] + s["n_drop_internal"])

    def prepare(self, spark) -> None:
        from __spark_entry__ import queries
        from marketdatapipeline_spark.textops.incremental import build_lsh_store

        c = gen.corpus(self.seed, **self.sizes)
        self.corpus_dir = self.work / "corpus"
        _write_parquet(c.documents, self.corpus_dir / "documents.parquet")
        _write_parquet(c.base, self.work / "base" / "documents.parquet")
        self.drop_dir = self.work / "drop"
        _write_parquet(c.drop, self.drop_dir / "documents.parquet")
        self.expected = {
            "verdicts": c.expected_verdicts,
            "drop_rows": len(c.drop),
            "drop_duplicates": c.expected_drop_duplicates,
        }
        # hashed shingles + 4 band keys + id, 8 bytes each, per accepted doc
        n_accepted = len(c.drop) - c.expected_drop_duplicates
        self.accepted_sig_mb = 8 * (c.accepted_shingles + 5 * n_accepted) / 1e6
        self.query = queries()["documents_curation"]
        self.store_seed = self.work / "store-seed"
        base = spark.read.parquet(str(self.work / "base" / "documents.parquet"))
        build_lsh_store(base.select("doc_id", "text"), str(self.store_seed))
        self.seed_files = _dir_files(self.store_seed)

    def reset(self, index):
        self.store_path = self.work / "store"
        shutil.rmtree(self.store_path, ignore_errors=True)
        shutil.copytree(self.store_seed, self.store_path)

    def run_pass(self, spark, tracer, index):
        from pyspark.sql import functions as F

        from marketdatapipeline_spark.caching import release_caches
        from marketdatapipeline_spark.sources.tables import load_table
        from marketdatapipeline_spark.textops.incremental import LSHDedupStore

        extras = {}
        with tracer.span("catalog"):
            verdicts = self.query(spark, str(self.corpus_dir))
            counts = _sink(verdicts, *[
                F.sum((F.col("reason") == r).cast("long")).alias(r)
                for r in self.expected["verdicts"]
            ])
            if tracer.enabled:
                extras["curation.cached_mb"] = _cached_mb(spark)
        with tracer.span("sources"):
            drop = load_table(spark, str(self.drop_dir), "documents").select("doc_id", "text")
        with tracer.span("textops.incremental"):
            store = LSHDedupStore.load(str(self.store_path), spark)
            ingested = _sink(
                store.ingest(drop),
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("is_duplicate").cast("long")).alias("duplicates"),
            )
        release_caches()
        if tracer.enabled:
            written = {
                k: v for k, v in _dir_files(self.store_path).items() if k not in self.seed_files
            }
            extras["store.files_written"] = len(written)
            extras["store.bytes_written_mb"] = sum(written.values()) / 1e6
            extras["store.mb_per_sig_mb"] = extras["store.bytes_written_mb"] / self.accepted_sig_mb
        return {"verdicts": counts, **ingested}, extras

    def check(self, out):
        problems = []
        if out["verdicts"] != self.expected["verdicts"]:
            problems.append(f"verdicts {out['verdicts']}, planted {self.expected['verdicts']}")
        if out["rows"] != self.expected["drop_rows"]:
            problems.append(f"ingest returned {out['rows']} rows, expected {self.expected['drop_rows']}")
        if out["duplicates"] != self.expected["drop_duplicates"]:
            problems.append(
                f"ingest found {out['duplicates']} duplicates, planted {self.expected['drop_duplicates']}"
            )
        return problems


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


WORKLOADS = {w.name: w for w in (Pipeline1Sym, CurationDocs)}
