"""SparkSession factory tuned for this engine.

Single place where execution knobs live so tests, bench, and the driver
contract all run with identical settings: AQE on (runtime re-planning,
skew-join mitigation, partition coalescing), Arrow on (fast
pandas-UDF / toPandas boundary), UTC session timezone (bit-identical
timestamp semantics vs the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "marketdatapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    In local mode there is one JVM; ``local[N]`` threads stand in for
    executors. The partitioning discipline (hash by symbol, sort by
    datetime within partitions) is what carries to a real cluster —
    nothing here assumes single-node.
    """
    cpus = os.getenv("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's default 1 MB minPartitionSize is measured in COMPRESSED
        # shuffle bytes: a 100k-row decimal-heavy window input
        # compresses under it, so AQE coalesced whole window/agg
        # stages to ONE task and serialized the math (r12 forensics:
        # bars_hurst_exponent ran 4 stages x 1 task, 1.5 s of
        # single-threaded decimal sums). 256k measured best across an
        # 18-key bench-methodology A/B (total 14.3 s vs 16.7 at 64k
        # and 17.6 at the 1 MB default): enough floor that join-churny
        # plans don't splinter, small enough that compute-dense window
        # stages parallelize. Large shuffles are untouched (their
        # per-partition share exceeds any floor) and values are
        # partition-count invariant by the engine's decimal-sum
        # discipline.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Measured over repeated headline runs (tools/measure.py profile
        # headline --reps N): a 48g ParallelGC/-Xmn16g heap degrades
        # run-over-run (2s -> 16s -> 80s within one JVM — old-gen fill +
        # full-GC thrash), while a 12g G1 heap holds a flat ~2s steady
        # state. Spark's heavy lifting
        # (shuffle, sort, window buffers) spills to disk by design; a
        # big heap just postpones collection until it's catastrophic.
        .config("spark.driver.memory", os.getenv("MDP_DRIVER_MEMORY", "12g"))
        # ReservedCodeCacheSize: whole-stage codegen emits one
        # generated class per distinct plan shape, and a full-catalog
        # session JIT-compiles thousands of them. Measured here: the
        # profiled-nmethods code heap reached 69 of its 116 MB default
        # cap after only 100 small-tier queries — a 230-query sf0.1
        # bench saturates it, after which the JVM flushes/deopts hot
        # code and late-run queries read slow (the "session debt"
        # pattern in in-suite medians). 512m is the Spark-docs
        # recommendation for long codegen-heavy sessions.
        .config(
            "spark.driver.extraJavaOptions",
            os.getenv(
                "MDP_DRIVER_JAVA_OPTS",
                "-XX:+UseG1GC -XX:ReservedCodeCacheSize=512m",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # WindowExec copies each partition-group into an in-heap array
        # that flips to a disk-spilling external sorter after 4096 rows
        # (default). Per-symbol groups routinely exceed that, and with
        # chained window nodes the spill storm dominates runtime ~10x.
        # 1M rows x ~1KB ~ 1GB worst-case per task-group — sized for
        # this container; on a cluster, set per executor memory and
        # salt monster symbols.
        #
        # r10: the spill thresholds were Int.MAX ("never spill") which
        # removed the safety valve entirely — the prime suspect when
        # the r9 driver bench died of memory pressure on a loaded host
        # (one worker "Connection reset", whole record lost). Bounded
        # now: the count threshold stays far above any per-symbol group
        # this engine produces (chunk/halo routing caps groups ~200k
        # rows), and the 4.1 byte-size thresholds cap each buffer at
        # 2 GiB — normal runs never spill, a pathological group spills
        # instead of OOMing the JVM.
        .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
        .config("spark.sql.windowExec.buffer.spill.threshold", "16777216")
        .config("spark.sql.windowExec.buffer.spill.size.threshold", "2147483648")
        .config("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "1048576")
        .config("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "16777216")
        .config(
            "spark.sql.sortMergeJoinExec.buffer.spill.size.threshold",
            "2147483648",
        )
        # Arrow transfer batch cap (explicit; 10k is the default but it
        # bounds pandas-UDF input frames and is load-bearing for worker
        # memory — pin it so a future default change can't regress it).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # When a Python worker dies abruptly (the r9 failure mode), the
        # JVM only sees "Connection reset". faulthandler makes the
        # worker dump its Python stack into the error instead.
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        # JVM<->Python-worker channel transport. Measured at the
        # 100M-row decade: under heavy bidirectional Arrow flow with
        # ~3M rows per task, Spark 4's single-threaded PythonRunner
        # wedged over loopback TCP — worker blocked in send (its 4 MiB
        # Send-Q full), task thread parked in select() with both
        # socket directions jammed; the stage's last tasks hung
        # >10 min until a worker died. Two mitigations exist:
        # (1) the arrow engine caps rows-per-task (arrow_engine.py
        # TARGET_ROWS_PER_TASK) at the level every <=50M run has
        # sustained over TCP without a wedge, and (2) MDP_PY_UDS=1
        # switches the channel to a Unix domain socket, which has no
        # TCP window machinery to wedge and completes 100M in ~60 s
        # warm — but costs ~0.5 s on the 1M many-small-groups shape
        # (AF_UNIX's small default buffers), so TCP stays the default.
        .config(
            "spark.python.unix.domain.socket.enabled",
            "true" if os.getenv("MDP_PY_UDS") else "false",
        )
        # testdata's events.ts is parquet TIMESTAMP(NANOS); Spark has no
        # ns timestamp — read as long, convert in sources.tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def active_or(spark):
    """``spark`` if given, else the active session — with a clear
    error instead of a downstream ``NoneType`` AttributeError when
    neither exists (fresh process, non-driver thread)."""
    from pyspark.sql import SparkSession

    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession; pass spark= explicitly")
    return s
