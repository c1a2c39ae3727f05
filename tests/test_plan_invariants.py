"""Mechanical scale invariant (r11, VERDICT item 2): NO catalog query
may plan a single-task global window over a data-scaled frame.

A global ordered window (``Window.partitionBy(lit(1)).orderBy(...)``
or bare ``Window.orderBy(...)``) funnels its whole input through ONE
task — correct at catalog scale, a wall at 100 TB. The engine's
size-routed operators (operators/ranking.py global_row_number,
operators/pairs.py) deliberately CHOOSE that plan below a threshold,
so this scan forces every routing threshold to 0 first: whatever
global window remains in an optimized plan is either (a) an audited,
by-contract-tiny aggregate frame listed in ``ALLOWED_TINY`` below, or
(b) a regression — exactly how r10's ``corpus_vocab_growth`` slipped
through SURVEY's "remaining lit(1) windows are all tiny" claim.

Detection is on the OPTIMIZED LOGICAL plan (no execution): Catalyst
folds a ``lit(1)`` partition away entirely, so both forms print as a
``Window`` node whose partition-spec bracket group is absent — i.e.
exactly two top-level ``[...]`` groups where the second carries sort
directions. Partition-only windows print two groups WITHOUT sort
directions; keyed windows print three.
"""

from __future__ import annotations

from contextlib import contextmanager

SF = "/root/testdata/sf0.001"

#: queries whose optimized plan legitimately keeps a global ordered
#: window — every input frame here is an aggregate of BOUNDED
#: cardinality (the bound, and why it does not grow with data volume):
ALLOWED_TINY = {
    # cumulative shares over fixed histogram buckets (≤ ~40 rows)
    "corpus_length_histogram": "fixed log-scale length buckets",
    "corpus_df_histogram": "fixed doc-frequency buckets",
    "dedup_cluster_size_histogram": "fixed cluster-size buckets",
    "embeddings_distance_histogram": "fixed distance buckets",
    # cumulative over a fixed calendar/decile grain
    "ml_decile_lift": "10 score deciles",
    "bars_advance_decline": "24 hours",
    "tpch_monthly_revenue_trend": "bounded month count",
    # rank/min over a bounded category dimension
    "corpus_domain_mix": "bounded domain count (source dimension)",
    "corpus_lang_source_mix": "lang x source cells",
    "tpch_q19_bracketed_revenue": "part brand dimension",
    "events_usage_independence": "user-tier x event-type cells",
    # top-k cut happens BEFORE the window (TakeOrderedAndProject):
    # the window ranks only the k=1000 survivors
    "corpus_zipf_fit": "top-1000 terms post TakeOrderedAndProject",
}

#: the r11 conversions this pin exists to protect: these must never
#: re-grow a global window even though they are NOT tiny
CONVERTED = {
    "corpus_vocab_growth",
    "bars_pair_spread_zscore",
    "bars_rolling_pair_correlation",
    "ml_roc_auc",
    "tpch_customer_ltv",
}


def _groups(s: str) -> list[str]:
    """Top-level ``[...]`` groups of a plan line."""
    out: list[str] = []
    depth, cur = 0, ""
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
            else:
                cur += ch
        elif ch == "]":
            depth -= 1
            if depth == 0:
                out.append(cur)
            else:
                cur += ch
        elif depth >= 1:
            cur += ch
    return out


def global_ordered_window_lines(plan: str) -> list[str]:
    """Window nodes with no partition columns but an ORDER — the
    single-task global-sort shape."""
    hits = []
    for ln in plan.splitlines():
        s = ln.strip(" +-:*")
        if not s.startswith("Window "):
            continue
        g = _groups(s)
        if len(g) >= 3 and g[1].strip():
            continue  # keyed window
        if len(g) == 2 and not (" ASC" in g[1] or " DESC" in g[1]):
            continue  # partition-only window (no global sort)
        hits.append(s[:160])
    return hits


def test_no_global_window_on_data_scaled_frames(spark):
    """Force every size-routing threshold to 0, build every catalog
    query's optimized plan, and require every surviving global
    ordered window to be on an audited bounded-cardinality frame."""
    import marketdatapipeline_spark.catalog_corpus  # noqa: F401
    import marketdatapipeline_spark.catalog_multimodal  # noqa: F401
    import marketdatapipeline_spark.catalog_operators  # noqa: F401
    import marketdatapipeline_spark.catalog_pipeline  # noqa: F401
    from marketdatapipeline_spark.caching import release_caches
    from marketdatapipeline_spark.catalog import EXTENDED_REGISTRY, REGISTRY
    from marketdatapipeline_spark.operators import pairs, ranking
    from marketdatapipeline_spark.textops import corpus as corpus_mod
    from marketdatapipeline_spark.textops import graph as graph_mod

    old_rank, old_pair = (
        ranking.SINGLE_TASK_THRESHOLD,
        pairs.PAIR_SINGLE_TASK_THRESHOLD,
    )
    old_graph, old_cc = (
        graph_mod.DRIVER_ROUTE_MAX_EDGES,
        corpus_mod.DRIVER_ROUTE_MAX_EDGES,
    )
    ranking.SINGLE_TASK_THRESHOLD = 0
    pairs.PAIR_SINGLE_TASK_THRESHOLD = 0
    graph_mod.DRIVER_ROUTE_MAX_EDGES = 0
    corpus_mod.DRIVER_ROUTE_MAX_EDGES = 0
    offenders: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    try:
        for name, spec in {**REGISTRY, **EXTENDED_REGISTRY}.items():
            try:
                df = spec.fn(spark, SF)
                plan = df._jdf.queryExecution().optimizedPlan().toString()
                hits = global_ordered_window_lines(plan)
            except Exception as e:  # noqa: BLE001
                errors[name] = repr(e)[:160]
                continue
            finally:
                release_caches()
            if hits and name not in ALLOWED_TINY:
                offenders[name] = hits
    finally:
        ranking.SINGLE_TASK_THRESHOLD = old_rank
        pairs.PAIR_SINGLE_TASK_THRESHOLD = old_pair
        graph_mod.DRIVER_ROUTE_MAX_EDGES = old_graph
        corpus_mod.DRIVER_ROUTE_MAX_EDGES = old_cc
    assert not errors, errors
    assert not offenders, (
        "global ordered window over a non-allowlisted frame — either "
        "route it through operators/ranking.py or audit the input as "
        f"by-contract-tiny and allowlist it: {offenders}"
    )
    # the protected conversions really were scanned
    scanned = set(REGISTRY) | set(EXTENDED_REGISTRY)
    assert CONVERTED <= scanned


def test_detector_fires_on_global_window_shapes(spark):
    """The scan must actually catch both offending forms (lit(1)
    partition and bare orderBy) and stay quiet on keyed and
    partition-only windows — otherwise the catalog scan above could
    go green by detector breakage, not by clean plans."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("k")
    )

    def hits(frame):
        return global_ordered_window_lines(
            frame._jdf.queryExecution().optimizedPlan().toString()
        )

    w_lit = Window.partitionBy(F.lit(1)).orderBy("id")
    w_bare = Window.orderBy("id")
    w_key = Window.partitionBy("k").orderBy("id")
    w_part_only = Window.partitionBy("k")
    assert hits(df.withColumn("r", F.row_number().over(w_lit)))
    assert hits(df.withColumn("r", F.row_number().over(w_bare)))
    assert hits(df.withColumn("c", F.sum("id").over(
        w_lit.rowsBetween(Window.unboundedPreceding, 0)
    )))
    assert not hits(df.withColumn("r", F.row_number().over(w_key)))
    assert not hits(df.withColumn("s", F.sum("id").over(w_part_only)))


# ---------------------------------------------------------------------------
# no higher-order functions on the shingle path
# ---------------------------------------------------------------------------

#: every catalog query whose plan shingles document text
SHINGLE_PATH_QUERIES = [
    "documents_curation",
    "dedup_jaccard_pairs",
    "dedup_minhash_signatures",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_ngram",
    "corpus_dedup_clusters",
    "dedup_near_removal",
    "dedup_containment_pairs",
    "dedup_minhash_quality",
    "corpus_ngram_novelty",
    "corpus_decontaminate",
]


@contextmanager
def executed_plans(spark):
    """Collects the JVM ``QueryExecution`` of every action the block
    runs — including the eager collects and store writes a call makes
    before it returns — as a ``QueryExecutionListener`` receives them."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    plans: list = []

    class Listener:
        def onSuccess(self, name, qe, duration_ns):
            plans.append(qe)

        def onFailure(self, name, qe, exception):
            plans.append(qe)

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    listener = Listener()
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        yield plans
        # listener events are delivered asynchronously
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        manager.unregister(listener)


def _hofs(spark, plans) -> set[str]:
    from marketdatapipeline_spark.plan_checks import higher_order_functions

    return {h for qe in plans for h in higher_order_functions(qe, spark)}


def test_no_higher_order_functions_on_shingle_path(spark, tmp_path):
    """Every plan the shingle-path queries and ``LSHDedupStore.ingest``
    execute is free of interpreted lambdas: the walker visits the
    executed physical plan of each action, cached fragments included."""
    import marketdatapipeline_spark.catalog_corpus  # noqa: F401
    import marketdatapipeline_spark.catalog_operators  # noqa: F401
    import marketdatapipeline_spark.catalog_pipeline  # noqa: F401
    from marketdatapipeline_spark.caching import release_caches
    from marketdatapipeline_spark.catalog import EXTENDED_REGISTRY, REGISTRY
    from marketdatapipeline_spark.catalog_pipeline import _docs
    from marketdatapipeline_spark.textops.incremental import build_lsh_store

    specs = {**REGISTRY, **EXTENDED_REGISTRY}
    offenders: dict[str, set[str]] = {}
    for name in SHINGLE_PATH_QUERIES:
        try:
            with executed_plans(spark) as plans:
                specs[name].fn(spark, SF).collect()
            assert plans, name
            if hofs := _hofs(spark, plans):
                offenders[name] = hofs
        finally:
            release_caches()

    docs = _docs(spark, SF).select("doc_id", "text")
    store = build_lsh_store(docs.filter("doc_id % 2 = 0"), str(tmp_path / "lsh"))
    try:
        with executed_plans(spark) as plans:
            store.ingest(docs.filter("doc_id % 2 = 1")).collect()
        assert plans
        if hofs := _hofs(spark, plans):
            offenders["LSHDedupStore.ingest"] = hofs
    finally:
        release_caches()
    assert not offenders, offenders


def test_hof_walker_fires_on_transform_shingles(spark):
    """The walker must see the replaced ``transform`` shingle form,
    also when it sits inside a persisted fragment that the query only
    reads through an in-memory scan — otherwise the scan above could
    pass by detector breakage."""
    from pyspark.sql import functions as F

    from marketdatapipeline_spark.plan_checks import higher_order_functions
    from marketdatapipeline_spark.textops.dedup import md5_int, shingle_hashes

    docs = spark.createDataFrame(
        [(0, "one two three four"), (1, "")], "doc_id int, text string"
    )
    words = F.split(F.trim(F.col("text")), r"\s+")
    idx = F.when(
        F.size(words) >= 3, F.sequence(F.lit(1), F.size(words) - 2)
    ).otherwise(F.array().cast("array<int>"))
    old = docs.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, 3)))
        ).alias("shingle"),
    ).select("doc_id", md5_int(F.col("shingle")).alias("_h"))
    assert any("transform" in h for h in higher_order_functions(old))

    cached = old.persist()
    try:
        consumer = cached.groupBy("doc_id").count()
        consumer.collect()
        assert higher_order_functions(consumer)
    finally:
        cached.unpersist()

    new = shingle_hashes(docs)
    new.collect()
    assert higher_order_functions(new) == []
