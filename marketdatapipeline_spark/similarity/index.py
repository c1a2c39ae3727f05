"""Persisted IVF index: the ANN index AS a partitioned table layout.

:func:`ivf_topk` rebuilds its inverted lists on every query — right
for ad-hoc search, wasteful for a corpus queried repeatedly. At scale
the index IS storage layout: vectors written to parquet partitioned by
their nearest-centroid id, so a query probing ``nprobe`` centroids
touches exactly ``nprobe`` directories and Spark's partition pruning
(visible as ``PartitionFilters`` on the scan) skips everything else —
the IVF "read only the probed lists" property expressed in the format
layer instead of an in-memory inverted file.

Centroids are the same deterministic corpus sample ``ivf_topk`` uses
(id % mod == rem; swap in k-means in production — only the build
changes), assignment and probe selection call the SAME helpers
(search.cosine_to_centroids / nearest_centroids — parity by
construction, not by copied code), and the query path reranks
candidates with the same sequential-fold cosine — so
``IVFIndex.topk`` is value-identical to ``ivf_topk`` for the same
parameters (pinned by pytest).

All index IO goes through the session's Hadoop filesystem, so
``path`` may be any supported scheme (local, hdfs://, s3a://), not
just the driver's local disk.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from marketdatapipeline_spark.data import storefs
from marketdatapipeline_spark.session import active_or
from marketdatapipeline_spark.similarity.search import (
    _pair_dot_col,
    _query_matrix,
    _seq_dot_np,
    cosine_to_centroids,
    nearest_centroids,
)


def _kmeans_centroids(
    corpus: DataFrame, n_centroids: int, vec_col: str, seed: int
) -> np.ndarray:
    """Train the coarse quantizer distributed (pyspark.ml KMeans over
    the vector column) and return the (k, dim) centroid matrix. The
    fit is Spark jobs end to end; only k centroid vectors reach the
    driver.

    Vectors are L2-NORMALIZED before the fit: assignment and probing
    use cosine, and Euclidean k-means on raw vectors splits clusters
    by magnitude — several centroids in one angular direction, lumpy
    lists, probe misses. On the unit sphere Euclidean and cosine
    order agree (the FAISS convention for IP/cosine indexes)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(F.zip_with(v, v, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    )
    unit = F.transform(v, lambda x: F.when(norm > 0, x / norm).otherwise(x))
    feat = corpus.select(array_to_vector(unit).alias("features"))
    model = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(feat)
    return np.array([np.asarray(c) for c in model.clusterCenters()], dtype=np.float64)


def _assigned_frame(
    corpus: DataFrame,
    cent_ids,
    cent_mat,
    cent_norm,
    storage: str,
    books,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The list-encoding pass shared by build and append: assign every
    vector to its nearest centroid (argmax keeps the FIRST maximum;
    cent rows are id-sorted, so ties break to the smallest centroid id
    — ivf_topk's rule) and encode the payload per the storage tier.
    One Arrow-batched corpus pass, no shuffle (the partitioned write
    downstream does the clustering)."""
    idt = corpus.schema[id_col].dataType
    if storage == "int8":
        payload_fields = [
            T.StructField("scale", T.DoubleType()),
            T.StructField("_q", T.ArrayType(T.ByteType())),
        ]
    elif storage == "pq":
        payload_fields = [T.StructField("_code", T.ArrayType(T.ShortType()))]
    else:
        payload_fields = [T.StructField(vec_col, T.ArrayType(T.DoubleType()))]
    out_schema = T.StructType(
        [T.StructField(id_col, idt), *payload_fields, T.StructField("_cent", T.LongType())]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64, copy=False)
            norms = np.sqrt(_seq_dot_np(mat, mat))
            cos = cosine_to_centroids(mat, norms, cent_mat, cent_norm)
            assigned = np.asarray(cent_ids)[np.argmax(cos, axis=1)]
            out = {id_col: pdf["_id"].to_numpy()}
            if storage == "int8":
                scales = np.abs(mat).max(axis=1) / 127.0
                safe = np.where(scales > 0, scales, 1.0)
                y = mat / safe[:, None]
                # away-from-zero half rounding — the exact rule
                # similarity/quantize.py uses, so codes agree
                q = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int8)
                out["scale"] = scales
                out["_q"] = list(q)
            elif storage == "pq":
                from marketdatapipeline_spark.similarity.pq import encode

                out["_code"] = list(encode(mat, books).astype(np.int16))
            else:
                out[vec_col] = list(mat)
            out["_cent"] = assigned.astype(np.int64)
            yield pd.DataFrame(out)

    return corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).mapInPandas(assign, schema=out_schema)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    centroid_mod: int = 97,
    centroid_rem: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "sample",
    n_centroids: int = 16,
    seed: int = 42,
    storage: str = "float64",
    pq_m: int = 8,
    pq_k: int = 256,
    pq_sample: int = 10_000,
) -> "IVFIndex":
    """Assign every vector to its nearest centroid and persist the
    corpus partitioned by centroid id (plus the centroid table and a
    JSON manifest). ONE corpus pass for the assignment; the centroid
    table is written from the already-collected driver matrix, never
    by re-running the centroid filter — a live source changing between
    two scans could otherwise persist centroids inconsistent with the
    assignment.

    ``centroids="sample"`` (default) is the deterministic id-sample
    quantizer shared with ``ivf_topk`` (oracle-reproducible);
    ``centroids="kmeans"`` trains the FAISS-style coarse quantizer
    with distributed pyspark.ml KMeans (``n_centroids``, ``seed``) —
    better-balanced lists on clustered corpora, identical plan shape
    everywhere downstream (centroid ids become 0..k-1).

    ``storage="int8"`` persists the lists scalar-quantized (FAISS
    ``SQ8``-style: per-vector ``scale`` + ``array<tinyint>`` codes,
    same away-from-zero rounding as similarity/quantize.py) — 8x
    smaller list files than float64, the difference between in-memory
    and spilled lists at corpus scale. Search then scores DEQUANTIZED
    codes (approximate by the quantization error only); pass
    ``refine=<original corpus>`` to ``topk`` to exactly rerank the
    approximate candidates against the true vectors.

    ``storage="pq"`` goes a tier further: product quantization
    (similarity/pq.py) stores ``pq_m`` one-byte codes per vector
    (64x smaller at d=64, m=8). Codebooks train driver-side on the
    first ``pq_sample`` id-ordered vectors (the FAISS sample-training
    convention, made deterministic) and persist beside the lists;
    search scores candidates via per-query ADC lookup tables. Coarser
    than int8 — pair with ``refine`` when exact ranking matters."""
    if storage not in ("float64", "int8", "pq"):
        raise ValueError(f"unknown storage: {storage}")
    spark = corpus.sparkSession
    if centroids == "sample":
        cents = corpus.filter((F.col(id_col) % centroid_mod) == centroid_rem)
        cent_ids, cent_mat, cent_norm = _query_matrix(
            cents.orderBy(id_col), id_col, vec_col
        )
        if len(cent_ids) == 0:
            raise ValueError(
                f"no centroids: no {id_col} satisfies "
                f"% {centroid_mod} == {centroid_rem}"
            )
    elif centroids == "kmeans":
        cent_mat = _kmeans_centroids(corpus, n_centroids, vec_col, seed)
        cent_ids = np.arange(len(cent_mat))
        cent_norm = np.sqrt(_seq_dot_np(cent_mat, cent_mat))
    else:
        raise ValueError(f"unknown centroids strategy: {centroids}")

    books = None
    if storage == "pq":
        from marketdatapipeline_spark.similarity.pq import train_codebooks

        sample_rows = (
            corpus.orderBy(id_col)
            .limit(pq_sample)
            .select(F.col(vec_col).cast("array<double>"))
            .collect()
        )
        books = train_codebooks(
            np.array([r[0] for r in sample_rows], dtype=np.float64),
            m=pq_m,
            k=pq_k,
            seed=seed,
        )

    idt = corpus.schema[id_col].dataType
    assigned = _assigned_frame(
        corpus, cent_ids, cent_mat, cent_norm, storage, books, id_col, vec_col
    )
    assigned.write.mode("overwrite").partitionBy("_cent").parquet(
        os.path.join(path, "lists")
    )
    cent_rows = [
        (cid.item() if hasattr(cid, "item") else cid, list(map(float, vec)))
        for cid, vec in zip(cent_ids, cent_mat)
    ]
    spark.createDataFrame(
        cent_rows,
        schema=T.StructType(
            [
                # kmeans centroid ids are synthetic 0..k-1 longs; the
                # sample strategy reuses corpus ids and their type
                T.StructField(id_col, T.LongType() if centroids == "kmeans" else idt),
                T.StructField(vec_col, T.ArrayType(T.DoubleType())),
            ]
        ),
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    if storage == "pq":
        spark.createDataFrame(
            [
                (s, c, [float(x) for x in books[s, c]])
                for s in range(books.shape[0])
                for c in range(books.shape[1])
            ],
            schema=T.StructType(
                [
                    T.StructField("s", T.IntegerType()),
                    T.StructField("c", T.IntegerType()),
                    T.StructField("vec", T.ArrayType(T.DoubleType())),
                ]
            ),
        ).write.mode("overwrite").parquet(os.path.join(path, "pq_codebooks"))

    manifest = {
        "id_col": id_col,
        "vec_col": vec_col,
        "centroid_mod": centroid_mod,
        "centroid_rem": centroid_rem,
        "centroids": centroids,
        "storage": storage,
        "pq_m": pq_m if storage == "pq" else None,
    }
    storefs.write_json(spark, path, manifest)
    return IVFIndex(path=path, **manifest)


@dataclass
class IVFIndex:
    path: str
    id_col: str
    vec_col: str
    centroid_mod: int
    centroid_rem: int
    centroids: str = "sample"  # quantizer strategy recorded at build
    storage: str = "float64"  # list payload: float64 | int8 (SQ8) | pq
    pq_m: int | None = None  # PQ subspace count (storage == "pq")

    @classmethod
    def load(cls, path: str, spark: SparkSession | None = None) -> "IVFIndex":
        spark = active_or(spark)
        return cls(path=path, **storefs.read_json(spark, path))

    def _load_codebooks(self, spark: SparkSession) -> np.ndarray:
        rows = (
            spark.read.parquet(os.path.join(self.path, "pq_codebooks"))
            .orderBy("s", "c")
            .collect()
        )
        m = max(r["s"] for r in rows) + 1
        k = max(r["c"] for r in rows) + 1
        dsub = len(rows[0]["vec"])
        books = np.empty((m, k, dsub), dtype=np.float64)
        for r in rows:
            books[r["s"], r["c"]] = r["vec"]
        return books

    def _centroid_matrix(self, spark: SparkSession):
        return _query_matrix(
            spark.read.parquet(os.path.join(self.path, "centroids")).orderBy(
                self.id_col
            ),
            self.id_col,
            self.vec_col,
        )

    def append(self, new_corpus: DataFrame) -> None:
        """Add vectors to the persisted lists WITHOUT rebuilding: the
        coarse quantizer (centroids) — and the PQ codebooks, when
        ``storage='pq'`` — stay frozen (the FAISS incremental-add
        convention), new vectors are assigned and encoded by the
        identical pass the build used, and the rows land as an append
        into the same ``_cent``-partitioned layout. Search sees them
        on its next scan with no index-level invalidation.

        Frozen-quantizer caveat: if the data distribution drifts far
        from the build sample, list balance degrades — rebuild (or
        re-train centroids) on a cadence, exactly as with FAISS.
        Single-writer batch semantics, like LSHDedupStore.ingest:
        front a queue for concurrent producers. Appends accumulate
        small part files; see :meth:`compact`.
        """
        spark = new_corpus.sparkSession
        cent_ids, cent_mat, cent_norm = self._centroid_matrix(spark)
        books = (
            self._load_codebooks(spark) if self.storage == "pq" else None
        )
        _assigned_frame(
            new_corpus,
            cent_ids,
            cent_mat,
            cent_norm,
            self.storage,
            books,
            self.id_col,
            self.vec_col,
        ).write.mode("append").partitionBy("_cent").parquet(
            os.path.join(self.path, "lists")
        )

    def _tombstones(self, spark: SparkSession) -> DataFrame | None:
        """Deleted-id table, or None when nothing was ever deleted."""
        tdir = os.path.join(self.path, "tombstones")
        if not storefs.exists(spark, tdir):
            return None
        return spark.read.parquet(tdir).select(self.id_col).distinct()

    def delete(self, ids, spark: SparkSession | None = None) -> int:
        """Tombstone vectors by id — the missing third of the index
        lifecycle (build/append/DELETE/compact). Logical and
        immediate: every subsequent :meth:`topk` filters the ids out
        (an anti-join against a broadcast tombstone table, which is
        small by the nature of deletes); the bytes are reclaimed at
        the next :meth:`compact`, which also clears the tombstones —
        the FAISS IDSelector-then-rebuild convention, made crash-safe
        by the same append-only layout as everything else here.
        ``ids`` is a python iterable of id values or a single-column
        DataFrame. Returns the number of ids tombstoned."""
        spark = active_or(spark)
        if isinstance(ids, DataFrame):
            tdf = ids.select(
                F.col(ids.columns[0]).alias(self.id_col)
            ).distinct()
            n = tdf.count()
        else:
            vals = list(ids)
            id_type = (
                spark.read.parquet(os.path.join(self.path, "lists"))
                .schema[self.id_col]
                .dataType
            )
            tdf = spark.createDataFrame(
                [(v,) for v in vals],
                T.StructType([T.StructField(self.id_col, id_type)]),
            ).distinct()
            n = len(set(vals))
        tdf.coalesce(1).write.mode("append").parquet(
            os.path.join(self.path, "tombstones")
        )
        return n

    def compact(self, spark: SparkSession | None = None) -> int:
        """Rewrite the lists into one file per centroid directory —
        every :meth:`append` adds a wave of small part files per
        touched list, and probe-time scan cost grows with file count,
        not data. Tombstoned rows (see :meth:`delete`) are dropped in
        the rewrite and the tombstone table is cleared. The rewrite
        lands in a tmp directory swapped in by
        :func:`~marketdatapipeline_spark.data.storefs.replace_dir`.
        Returns the number of list rows rewritten (post-delete)."""
        spark = active_or(spark)
        directory = os.path.join(self.path, "lists")
        df = spark.read.parquet(directory)
        tombs = self._tombstones(spark)
        if tombs is not None:
            df = df.join(F.broadcast(tombs), self.id_col, "left_anti")
        rows = df.count()
        tmp = directory + "__compact_tmp"
        df.repartition(F.col("_cent")).write.mode("overwrite").partitionBy(
            "_cent"
        ).parquet(tmp)
        storefs.replace_dir(spark, tmp, directory)
        # tombstones are now physically applied — clear them (losing a
        # crash race here only re-applies an empty filter, never data)
        storefs.delete(spark, os.path.join(self.path, "tombstones"))
        return rows

    def topk(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 2,
        refine: DataFrame | None = None,
        refine_factor: int = 4,
    ) -> DataFrame:
        """Approximate top-k against the persisted lists.

        The probe set is tiny by contract: nearest centroids per query
        are computed driver-side from the centroid table, then the
        lists scan filters ``_cent`` to the probed ids — a partition-
        column filter, so only those directories are read. Candidates
        join to their probing queries on ``_cent`` (broadcast, with
        the query vector AND its precomputed norm riding along) and
        the sequential-fold cosine reranks, same tie-break as
        ivf_topk (rank by cosine desc, then corpus id).

        On an ``int8`` index the fold runs over DEQUANTIZED codes —
        exact up to the stored precision. Pass ``refine`` (the
        original full-precision corpus) to rerank the top
        ``k * refine_factor`` approximate candidates against their
        true vectors: candidate ids join back to the corpus (a
        k*refine_factor-row broadcast side — never a corpus shuffle)
        and the final ranking is exact."""
        cent_ids, cent_mat, cent_norm = self._centroid_matrix(spark)
        ids, qmat, qn = _query_matrix(queries, self.id_col, self.vec_col)
        probes = []  # (query pos, centroid id)
        if len(ids):
            qcos = cosine_to_centroids(qmat, qn, cent_mat, cent_norm)
            for qi in range(len(ids)):
                probes.extend(
                    (qi, int(cent_ids[ci]))
                    for ci in nearest_centroids(qcos[qi], cent_ids, nprobe)
                )

        qrows = queries.sparkSession.createDataFrame(
            [
                (
                    ids[qi].item() if hasattr(ids[qi], "item") else ids[qi],
                    cent,
                    list(map(float, qmat[qi])),
                    float(qn[qi]),
                )
                for qi, cent in probes
            ],
            schema=T.StructType(
                [
                    T.StructField("query_id", queries.schema[self.id_col].dataType),
                    T.StructField("_cent", T.LongType()),
                    T.StructField("_qv", T.ArrayType(T.DoubleType())),
                    T.StructField("_qnorm", T.DoubleType()),
                ]
            ),
        )
        lists = spark.read.parquet(os.path.join(self.path, "lists")).filter(
            F.col("_cent").isin([c for _, c in probes] or [-1])
        )
        tombs = self._tombstones(spark)
        if tombs is not None:
            # logical deletes: tombstoned ids vanish from every search
            # immediately; compact() reclaims the bytes later
            lists = lists.join(F.broadcast(tombs), self.id_col, "left_anti")
        if self.storage == "pq":
            # ADC: per-query (m, k) lookup table in the task closure;
            # each candidate costs m byte lookups, never a d-term fold
            from marketdatapipeline_spark.similarity.pq import adc_tables

            books = self._load_codebooks(spark)
            cn2 = (books**2).sum(axis=2)

            # key the per-query LUTs by the id's PYTHON value (numpy
            # scalars unwrap via .item()) — int(...) broke string
            # id_cols that the float64/int8 paths handle fine
            def _idkey(x):
                return x.item() if hasattr(x, "item") else x

            luts = {}
            for qi in range(len(ids)):
                lut, _ = adc_tables(qmat[qi], books)
                luts[_idkey(ids[qi])] = (lut, float(qn[qi]))
            m = books.shape[0]
            srange = np.arange(m)

            cand = lists.join(
                F.broadcast(qrows.select("query_id", "_cent")), "_cent"
            ).filter(F.col(self.id_col) != F.col("query_id"))

            def adc_score(batches):
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    codes = np.stack(pdf["_code"].to_numpy()).astype(np.int64)
                    qid = pdf["query_id"].to_numpy()
                    cos = np.empty(len(pdf), dtype=np.float64)
                    for q in np.unique(qid):
                        mask = qid == q
                        lut, qnorm = luts[_idkey(q)]
                        sub = codes[mask]
                        qdot = lut[srange[None, :], sub].sum(axis=1)
                        xn = np.sqrt(cn2[srange[None, :], sub].sum(axis=1))
                        denom = xn * qnorm
                        cos[mask] = np.where(denom > 0, qdot / np.where(denom > 0, denom, 1.0), 0.0)
                    yield pd.DataFrame(
                        {
                            "query_id": qid,
                            "corpus_id": pdf[self.id_col].to_numpy(),
                            "cosine": cos,
                        }
                    )

            scored = cand.select(
                "query_id", self.id_col, "_code"
            ).mapInPandas(
                adc_score,
                schema=T.StructType(
                    [
                        T.StructField(
                            "query_id", queries.schema[self.id_col].dataType
                        ),
                        T.StructField(
                            "corpus_id", queries.schema[self.id_col].dataType
                        ),
                        T.StructField("cosine", T.DoubleType()),
                    ]
                ),
            )
        else:
            if self.storage == "int8":
                # dequantize in-plan: x̂_i = q_i * scale (JVM transform,
                # no Python); the same fold scores x̂ against the query
                v = F.transform(
                    F.col("_q"), lambda b: b.cast("double") * F.col("scale")
                )
            else:
                v = F.col(self.vec_col)
            cand = lists.join(F.broadcast(qrows), "_cent").filter(
                F.col(self.id_col) != F.col("query_id")
            )
            cos = _pair_dot_col(v, F.col("_qv")) / (
                F.sqrt(_pair_dot_col(v, v)) * F.col("_qnorm")
            )
            scored = cand.select(
                "query_id",
                F.col(self.id_col).alias("corpus_id"),
                cos.alias("cosine"),
            )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.col("corpus_id")
        )
        out_k = k * refine_factor if refine is not None else k
        approx = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= out_k)
            .select("query_id", "corpus_id", "cosine", "rank")
        )
        if refine is None:
            return approx
        # exact rerank: candidate ids (tiny) broadcast against the
        # full-precision corpus, then the same per-query window
        qvecs = queries.sparkSession.createDataFrame(
            [
                (
                    ids[qi].item() if hasattr(ids[qi], "item") else ids[qi],
                    list(map(float, qmat[qi])),
                    float(qn[qi]),
                )
                for qi in range(len(ids))
            ],
            schema=T.StructType(
                [
                    T.StructField("query_id", queries.schema[self.id_col].dataType),
                    T.StructField("_qv", T.ArrayType(T.DoubleType())),
                    T.StructField("_qnorm", T.DoubleType()),
                ]
            ),
        )
        cand_ids = approx.select("query_id", "corpus_id")
        truth = refine.select(
            F.col(self.id_col).alias("corpus_id"),
            F.col(self.vec_col).cast("array<double>").alias("_tv"),
        )
        exact = (
            truth.join(
                F.broadcast(cand_ids), "corpus_id"
            )  # corpus-side scan joins the tiny candidate list
            .join(F.broadcast(qvecs), "query_id")
            .select(
                "query_id",
                "corpus_id",
                (
                    _pair_dot_col(F.col("_tv"), F.col("_qv"))
                    / (
                        F.sqrt(_pair_dot_col(F.col("_tv"), F.col("_tv")))
                        * F.col("_qnorm")
                    )
                ).alias("cosine"),
            )
        )
        return (
            exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "cosine", "rank")
        )
