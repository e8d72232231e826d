"""Query catalog: every declared engine capability as a (Spark, oracle-SQL)
pair.

Each entry implements one or more operators from SURVEY.md §2 with idiomatic
DataFrame code, together with an ANSI-SQL string DuckDB runs over the same
parquet tables.  The driver compares row count + schema + order-insensitive
value hash, so:

- every computed column is aliased identically on both sides;
- float aggregates use the exact-sum pattern ``cast(sum(cast(x as
  decimal(25,6))) as double)`` so values are bit-identical regardless of
  partitioning/accumulation order;
- computed similarity scores are rounded to fixed decimals and ties broken by
  a stable id before any top-k cut.

Determinism notes are on each query.  All timestamps are naive UTC
(session timezone pinned by session.configure).
"""

from __future__ import annotations

import functools
import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_store_healthcare_spark import functions as fx
from feature_store_healthcare_spark.caching import PlanCache, data_version
from feature_store_healthcare_spark.operators import (
    cdc,
    chunking,
    decay,
    dedup,
    drift,
    encode,
    expectations,
    linkage,
    multimodal,
    pit,
    profile,
    resample,
    retrieval,
    sampling,
    similarity,
    text,
)
from feature_store_healthcare_spark.operators.pit import (
    latest_per_key,
    point_in_time_join,
    point_in_time_pivot,
)
from feature_store_healthcare_spark.sources import load_table
from feature_store_healthcare_spark.sqlgen import ident

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


#: One-entry persisted-plan caches for the two TPC-H entries whose small
#: derived table feeds two consumers (global mean + relative cut) in the
#: same returned plan.  Module-standard lifecycle (caching.PlanCache):
#: repeat calls on the same SF reuse the cached table; a different SF or
#: a grown input (the data_version token) releases the predecessor — a
#: long-lived session holds at most one |parts|- / |suppliers|-sized
#: cached table per entry instead of one per call.
_Q11_SV_CACHE = PlanCache("q11_important_stock.sv")
_Q20_QTY_CACHE = PlanCache("q20_potential_promotion.qty")


#: The correctness driver hard-checks only the FIRST 50 registered queries,
#: so registration order is part of the verification contract.  This tuple
#: pins those slots; everything else follows in definition order.
#: Policy: every operator family keeps at least one slot; within a family
#: the slot goes to the query pinning the strongest contract, and a query
#: whose semantics another seated query strictly covers is the first to
#: rotate out.  A rotated-out query stays registered and must stay green
#: in tools/check_oracle.py at sf0.01 and sf0.1, so rotation changes only
#: which 50 the driver re-proves.  Stored-index entries (which write
#: catalog tables) may hold slots: a failed build turns the row red.  The
#: per-rotation rationales are in git history.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # relational core: joins, windows, TPC-H hard shapes
    "q14_promo_revenue",
    "q10_returned_items",
    "record_linkage_best_match",
    "q19_disjunctive_predicates",
    "data_quality_expectations",
    "q17_small_quantity_revenue",
    "window_distribution_ranks",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "q21_suppliers_kept_waiting",
    # feature-store semantics: EAV, PIT, freshness, ACL, consistency
    "pit_interpolated_lookup",
    "eav_latest_tie_fallback",
    "pit_training_join",
    "pit_nearest_observation_join",
    "pit_forward_label_join",
    "pit_trailing_window_features",
    "pit_feature_vector_wide",
    "freshness_classification",
    "acl_filtered_features",
    "online_offline_consistency",
    "target_encoding_loo",
    "json_extract_events",
    # time, sessions and CDC
    "sessionize_events",
    "cdc_apply_changes",
    # dedup (exact + near-dup)
    "dedup_exact_fingerprint",
    "dedup_minhash_lsh_shuffled",
    "dedup_incremental_minhash",
    # grouped aggregation (cube)
    "events_cube_stats",
    # chunking, profiling, iterative graph
    "rag_chunk_documents",
    "column_profile_stats",
    "pagerank_supplier_parts",
    # similarity + retrieval: IVF exactness anchor, stored twins
    "hybrid_rrf_ivf_exhaustive",
    "bm25_stored_postings",
    "hybrid_rrf_stored",
    "perplexity_stored_postings",
    "bigram_lm_stored_postings",
    # text, LM quality, packing
    "bpe_encode_fertility",
    "bpe_train_merges",
    "sequence_packing_report",
    # PHI governance
    "phi_scrub_notes",
    # multimodal codecs
    "multimodal_real_decode",
    "multimodal_audio_decode",
    "multimodal_video_decode",
    # analysis, drift, sampling
    "embedding_covariance_stats",
    "feature_drift_ks",
    "robust_outlier_stats",
    "dsir_importance_resample",
    "text_stats_by_lang_source",
)


def _ordered(names: dict[str, object]) -> list[str]:
    head = [n for n in _DRIVER_PRIORITY if n in names]
    tail = [n for n in names if n not in _DRIVER_PRIORITY]
    return head + tail


#: applicationIds the package zip has already been shipped to
_SHIPPED_APPS: set[str] = set()

#: one zip per PROCESS, not per application (r12 ADVICE #4: a mkdtemp per
#: new applicationId leaked temp dirs in a long-lived process cycling
#: SparkSessions) — keyed by the newest module mtime so an edited package
#: rebuilds, and registered with atexit so the last zip is removed.
_PKG_ZIP: dict[str, str] = {}


def _package_zip() -> str:
    """Build (or reuse) the process-wide package archive.  Rebuilds only
    when a module's mtime moved past the cached build; the stale zip is
    deleted eagerly and the live one at interpreter exit."""
    import atexit
    import pathlib
    import shutil
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    # stamp = the full sorted (path, size, mtime) listing, not max(mtime):
    # a DELETED module (or files restored with preserved older mtimes)
    # leaves max(mtime) unchanged, and the cached zip — still containing
    # the removed module — would keep shipping to workers (r13 ADVICE #4)
    stamp = str(
        hash(
            tuple(
                (str(p.relative_to(pkg_dir)), st.st_size, st.st_mtime_ns)
                for p in sorted(pkg_dir.rglob("*.py"))
                for st in (p.stat(),)
            )
        )
    )
    if _PKG_ZIP.get("stamp") == stamp:
        return _PKG_ZIP["path"]
    if "dir" in _PKG_ZIP:
        shutil.rmtree(_PKG_ZIP["dir"], ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix="fshs_pkg_")
    if not _PKG_ZIP:  # first build this process: register exit cleanup once
        atexit.register(
            lambda: shutil.rmtree(_PKG_ZIP.get("dir", ""), ignore_errors=True)
        )
    archive = os.path.join(tmp, f"{pkg_dir.name}.zip")
    with zipfile.ZipFile(archive, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted(pkg_dir.rglob("*.py")):
            zf.write(p, arcname=str(p.relative_to(pkg_dir.parent)))
    _PKG_ZIP.update({"stamp": stamp, "dir": tmp, "path": archive})
    return archive


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make ``feature_store_healthcare_spark`` importable on PYTHON
    WORKERS regardless of the driver process's cwd (round-12 hardening,
    found while seating worker-kernel queries in the driver window):
    cloudpickle serializes module-level functions BY REFERENCE, so every
    Arrow kernel (minhash signatures, IVF assignment, the image codecs)
    needs the package on the worker's ``sys.path``.  When the driver
    runs from the repo root that happens implicitly (the worker daemon's
    ``sys.path[0]`` is the cwd); from ANY other cwd every such query
    dies with ``ModuleNotFoundError`` on the worker.  Shipping the
    package once per application via ``addPyFile`` (the standard PySpark
    dependency mechanism — workers insert shipped archives into
    ``sys.path`` per task) removes the cwd assumption.  Idempotent per
    applicationId; the archive itself is built once per process and
    reused across applications (r12 ADVICE #4)."""
    app = spark.sparkContext.applicationId
    if app in _SHIPPED_APPS:
        return
    spark.sparkContext.addPyFile(_package_zip())
    _SHIPPED_APPS.add(app)


def _worker_import_safe(fn: QueryFn) -> QueryFn:
    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_worker_imports(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, QueryFn]:
    return {n: _worker_import_safe(_QUERIES[n]) for n in _ordered(_QUERIES)}


def oracle_sql() -> dict[str, str]:
    return {n: _ORACLES[n] for n in _ordered(_ORACLES)}


def _dsum(col: str | F.Column, alias: str) -> F.Column:
    """Exact float sum: decimal-accumulated, double-valued (order-independent)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(25,6)")).cast("double").alias(alias)


_DSUM_SQL = "CAST(SUM(CAST({expr} AS DECIMAL(25,6))) AS DOUBLE)"

_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


# ---------------------------------------------------------------------------
# Relational core: scan/filter/project/join/agg/window/sort/set (OP-8..31, §2.7)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_DSUM_SQL.format(expr='l_quantity')} AS sum_qty,
           {_DSUM_SQL.format(expr='l_extendedprice')} AS sum_base_price,
           {_DSUM_SQL.format(expr='l_extendedprice*(1-l_discount)')} AS sum_disc_price,
           {_DSUM_SQL.format(expr='l_extendedprice*(1-l_discount)*(1+l_tax)')} AS sum_charge,
           {_DSUM_SQL.format(expr='l_quantity')} / COUNT(*) AS avg_qty,
           {_DSUM_SQL.format(expr='l_extendedprice')} / COUNT(*) AS avg_price,
           {_DSUM_SQL.format(expr='l_discount')} / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan→filter→agg (OP-21/22): partial-aggregated hash
    agg over a pushed-down shipdate filter."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    )
    n = F.count("*")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity", "sum_qty"),
        _dsum("l_extendedprice", "sum_base_price"),
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
        _dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
            "sum_charge",
        ),
        (F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double") / n).alias("avg_qty"),
        (F.sum(F.col("l_extendedprice").cast("decimal(25,6)")).cast("double") / n).alias("avg_price"),
        (F.sum(F.col("l_discount").cast("decimal(25,6)")).cast("double") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {_DSUM_SQL.format(expr='l_extendedprice*(1-l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join + agg + deterministic top-k (OP-19/31).
    customer is the small side → broadcast; revenue computed with the exact
    decimal-sum pattern so the top-10 cut is stable."""
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q5_nation_revenue",
    f"""
    SELECT n_name,
           {_DSUM_SQL.format(expr='l_extendedprice*(1-l_discount)')} AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: dims broadcast, facts shuffle once
    (OP-19).  Catalyst/AQE pick broadcast-hash for region/nation/supplier/
    customer automatically; hints mark the intent."""
    t = {n: load_table(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"].where(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@query(
    "filter_project_lineitem",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
      AND l_quantity > 25
    """,
)
def filter_project_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-9/10/13: conjunctive predicates + narrow projection — filters and
    ReadSchema must reach the parquet scan (verified in tests via explain)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_quantity") > 25)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@query(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-31: top-k = TakeOrderedAndProject (no full sort materialization);
    o_orderkey tie-break keeps the cut deterministic."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


@query(
    "semi_join_customers",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-19 (semi): customers with a big order — left_semi join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "anti_join_customers",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-19 (anti): customers with no orders — left_anti join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "window_rank_orders",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders)
    WHERE rnk <= 3
    """,
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-26/28: per-customer top-3 orders by price via row_number."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= 3)
    )


@query(
    "window_lag_gap",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, prev_date,
           CASE WHEN prev_date IS NULL THEN NULL
                ELSE date_diff('day', CAST(prev_date AS DATE), CAST(o_orderdate AS DATE))
           END AS gap_days
    FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                 LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS prev_date
          FROM orders)
    """,
)
def window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-28 (lag/lead): days between consecutive orders per customer."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    df = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev_date"),
    )
    return df.withColumn(
        "gap_days",
        F.when(
            F.col("prev_date").isNotNull(),
            F.datediff(F.col("o_orderdate").cast("date"), F.col("prev_date").cast("date")),
        ).cast("int"),
    )


@query(
    "set_ops_customers",
    """
    SELECT c_custkey, 'building_high_balance' AS src FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 1000
    )
    UNION ALL
    SELECT c_custkey, 'automobile_low_balance' AS src FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_acctbal > 1000
    )
    """,
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set ops: INTERSECT / EXCEPT / UNION ALL."""
    cust = load_table(spark, sf_dir, "customer")
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    auto = cust.where(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    high = cust.where(F.col("c_acctbal") > 1000).select("c_custkey")
    a = building.intersect(high).withColumn("src", F.lit("building_high_balance"))
    b = auto.exceptAll(high).distinct().withColumn("src", F.lit("automobile_low_balance"))
    return a.unionByName(b)


@query(
    "cardinality_monitoring",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
    FROM events GROUP BY event_type
    """,
)
def cardinality_monitoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-53 surface: entity-cardinality monitoring.  Exact distincts here
    for oracle parity; the scale path is approx_count_distinct (see
    tests/test_operators.py::test_approx_count_distinct)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
    )


@query(
    "serving_metrics_rollup",
    f"""
    SELECT event_type AS request_kind,
           COUNT(*) AS requests,
           {_DSUM_SQL.format(expr='value')} / COUNT(*) AS avg_latency,
           CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS DOUBLE) AS p50_latency,
           CAST(percentile_cont(0.99) WITHIN GROUP (ORDER BY value) AS DOUBLE) AS p99_latency
    FROM events GROUP BY event_type
    """,
)
def serving_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-22/23/25: avg + exact interpolated p50/p99 per request kind
    (events.value stands in for latency_ms; mirrors
    feature_server.py:481-493's avg/p99 over the request log)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("request_kind")).agg(
        F.count("*").alias("requests"),
        (F.sum(F.col("value").cast("decimal(25,6)")).cast("double") / F.count("*")).alias(
            "avg_latency"
        ),
        F.expr("cast(percentile(value, 0.5) as double)").alias("p50_latency"),
        F.expr("cast(percentile(value, 0.99) as double)").alias("p99_latency"),
    )


@query(
    "json_extract_events",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS avg_k,
           COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k
    FROM events GROUP BY event_type
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-42: JSON field extraction from events.props."""
    ev = load_table(spark, sf_dir, "events").withColumn("k", fx.json_long("props", "$.k"))
    return ev.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        (F.sum("k").cast("double") / F.count("*")).alias("avg_k"),
        F.count("k").alias("n_with_k"),
    )


@query(
    "sha2_feature_ids",
    """
    SELECT p_partkey,
           concat('feat_', substr(sha256(concat_ws(':', p_name, '1.0.0', 'part')), 1, 16))
             AS feature_id
    FROM part
    """,
)
def sha2_feature_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-33: content-hash feature ids (feature_registry.py:617-625
    semantics: feat_ + sha256(name:version:entity_type)[:16])."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        fx.feature_id(F.col("p_name"), F.lit("1.0.0"), F.lit("part")).alias("feature_id"),
    )


@query(
    "store_cache_keys",
    """
    SELECT DISTINCT user_id,
           concat_ws(':', 'user', CAST(user_id AS VARCHAR)) AS store_key,
           sha256(concat_ws(':', 'user', CAST(user_id AS VARCHAR), 'click,view'))
             AS cache_key
    FROM events
    """,
)
def store_cache_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-30/33/37: online store key + canonical (sorted-names) cache key
    (feature_server.py:428, :470-479)."""
    ev = load_table(spark, sf_dir, "events").select("user_id").distinct()
    return ev.select(
        "user_id",
        fx.store_key(F.lit("user"), F.col("user_id")).alias("store_key"),
        fx.cache_key(
            F.lit("user"), F.col("user_id"), F.array(F.lit("view"), F.lit("click"))
        ).alias("cache_key"),
    )


# ---------------------------------------------------------------------------
# Feature-store semantics over the events EAV mapping
# (feature=event_type, entity=user_id, value=value, event_ts=ts)
# ---------------------------------------------------------------------------

_EAV_LATEST_SQL = """
    SELECT user_id, event_type, value, ts, event_id
    FROM (SELECT user_id, event_type, value, ts, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events {where})
    WHERE rn = 1
"""


@query("eav_latest_per_key", _EAV_LATEST_SQL.format(where=""))
def eav_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-15/20/26: newest value per (entity, feature) — deterministic
    argmax by (ts, event_id), via partial-aggregatable max_by."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    return latest_per_key(ev, ["user_id", "event_type"], "ts", tiebreak=["event_id"])


@query(
    "eav_asof_lookup",
    _EAV_LATEST_SQL.format(where="WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'"),
)
def eav_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-11+15: as-of lookup — same argmax under an event-time cutoff
    (feature_registry.py:443-496 semantics; leak check: nothing after the
    cutoff may surface)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    return latest_per_key(
        ev, ["user_id", "event_type"], "ts", tiebreak=["event_id"], as_of="2024-01-15 00:00:00"
    )


@query(
    "eav_latest_tie_fallback",
    """
    SELECT user_id, day, event_type, value
    FROM (SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                 event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY date_trunc('day', ts) DESC,
                                             event_type DESC, value DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def eav_latest_tie_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-15/20 tie contract, driver-pinned: argmax with NO caller tiebreak
    over day-truncated timestamps — every user has many same-day rows, so
    the winner is decided entirely by the payload-fallback total order
    (event_type then value: the orderable payload in SORTED-NAME order,
    pit.py round-6 contract — physical column position never decides; the
    unique event_id is deliberately excluded so the MULTI-column fallback
    chain, not an id, picks every winner).  Before the round-5 fix this
    query was nondeterministic and could not hash-match an oracle; now
    both strategies and the SQL window agree bit-for-bit.  (The
    reference's `max`/first-seen ambiguity, feature_registry.py:490 vs
    feature_server.py:560-565, is the defect this pins closed.)"""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
        "event_type",
        "value",
    )
    return latest_per_key(ev, ["user_id"], "day")


_PIT_JOIN_SQL = """
    WITH spine AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    vals AS (SELECT user_id, value, ts, event_id FROM events WHERE event_type = 'click'),
    j AS (
      SELECT s.event_id, s.user_id, s.ts,
             v.value AS click_value, v.ts AS click_ts,
             ROW_NUMBER() OVER (PARTITION BY s.event_id
                                ORDER BY v.ts DESC, v.event_id DESC) AS rn
      FROM spine s LEFT JOIN vals v ON v.user_id = s.user_id AND v.ts <= s.ts
    )
    SELECT event_id, user_id, ts, click_value,
           click_ts AS click_value__timestamp
    FROM j WHERE rn = 1
"""


@query("pit_training_join", _PIT_JOIN_SQL)
def pit_training_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-16 — the flagship: leak-free per-row as-of join.  Each purchase
    (spine row) gets the user's latest click value strictly as of that
    purchase's own timestamp (feature_server.py:355-408 semantics, executed
    as one equi-join + one partial-aggregated argmax instead of
    O(spine×values) loops)."""
    ev = load_table(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    vals = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", F.col("value").alias("click_value"), "ts", "event_id")
    )
    return point_in_time_join(
        spine,
        vals,
        on="user_id",
        spine_ts="ts",
        value_ts="ts",
        value_cols=["click_value"],
        tiebreak=["event_id"],
        spine_keys=["event_id"],
    )


_PIT_WIDE_SQL = """
    WITH spine AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT event_id, value AS f_click, vts AS f_click__timestamp FROM (
        SELECT s.event_id, v.value, v.ts AS vts,
               ROW_NUMBER() OVER (PARTITION BY s.event_id ORDER BY v.ts DESC, v.event_id DESC) rn
        FROM spine s LEFT JOIN (SELECT * FROM events WHERE event_type='click') v
          ON v.user_id = s.user_id AND v.ts <= s.ts) WHERE rn = 1
    ),
    w AS (
      SELECT event_id, value AS f_view, vts AS f_view__timestamp FROM (
        SELECT s.event_id, v.value, v.ts AS vts,
               ROW_NUMBER() OVER (PARTITION BY s.event_id ORDER BY v.ts DESC, v.event_id DESC) rn
        FROM spine s LEFT JOIN (SELECT * FROM events WHERE event_type='view') v
          ON v.user_id = s.user_id AND v.ts <= s.ts) WHERE rn = 1
    )
    SELECT s.event_id, s.user_id, s.ts,
           c.f_click, c.f_click__timestamp, w.f_view, w.f_view__timestamp
    FROM spine s JOIN c ON s.event_id = c.event_id JOIN w ON s.event_id = w.event_id
"""


@query("pit_feature_vector_wide", _PIT_WIDE_SQL)
def pit_feature_vector_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-16+OP-12: multi-feature point-in-time retrieval into a wide
    training vector with per-feature __timestamp companions
    (feature_server.py:394-398)."""
    ev = load_table(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    out = spine
    for feat, col_name in (("click", "f_click"), ("view", "f_view")):
        vals = (
            ev.where(F.col("event_type") == feat)
            .select("user_id", F.col("value").alias(col_name), "ts", "event_id")
        )
        out = point_in_time_join(
            out,
            vals,
            on="user_id",
            spine_ts="ts",
            value_ts="ts",
            value_cols=[col_name],
            tiebreak=["event_id"],
            spine_keys=["event_id"],
        )
    return out


@query(
    "pivot_event_type_stats",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS n_error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-12: long→wide pivot with a fixed feature list (skips the extra
    distinct-values job and keeps the schema stable)."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds]
    )


@query(
    "null_fill_defaults",
    """
    WITH latest AS (
      SELECT user_id, value, ts FROM (
        SELECT user_id, value, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        FROM events WHERE event_type = 'purchase') WHERE rn = 1
    ),
    now_t AS (SELECT MAX(ts) AS now_ts FROM events)
    SELECT c_custkey AS entity_id,
           COALESCE(l.value, 0.0) AS purchase_value,
           CASE WHEN l.ts IS NULL THEN 'expired'
                WHEN date_diff('microsecond', l.ts, now_ts) <= 3600000000 THEN 'fresh'
                WHEN date_diff('microsecond', l.ts, now_ts) <= 86400000000 THEN 'stale'
                ELSE 'expired' END AS freshness
    FROM customer CROSS JOIN now_t
    LEFT JOIN latest l ON l.user_id = c_custkey
    """,
)
def null_fill_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-14 + OP-36: entity spine left-joined to latest values; missing
    features null-fill to a default with freshness 'expired'
    (feature_server.py:520-527, :585-594).  "now" is pinned to max(ts) for
    determinism."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    latest = latest_per_key(
        ev.where(F.col("event_type") == "purchase").select("user_id", "value", "ts", "event_id"),
        ["user_id"],
        "ts",
        tiebreak=["event_id"],
    )
    now = ev.agg(F.max("ts").alias("now_ts"))
    return (
        cust.crossJoin(F.broadcast(now))
        .join(F.broadcast(latest), cust.c_custkey == latest.user_id, "left")
        .select(
            F.col("c_custkey").alias("entity_id"),
            F.coalesce(F.col("value"), F.lit(0.0)).alias("purchase_value"),
            fx.freshness("ts", "now_ts").alias("freshness"),
        )
    )


@query(
    "freshness_classification",
    """
    WITH now_t AS (SELECT MAX(ts) AS now_ts FROM events)
    SELECT event_type,
           CASE WHEN date_diff('microsecond', ts, now_ts) <= 3600000000 THEN 'fresh'
                WHEN date_diff('microsecond', ts, now_ts) <= 86400000000 THEN 'stale'
                ELSE 'expired' END AS freshness,
           COUNT(*) AS n
    FROM events CROSS JOIN now_t
    GROUP BY event_type, freshness
    """,
)
def freshness_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-35/36: age vs SLA thresholds (3600 s / 86400 s,
    feature_server.py:585-594), "now" pinned to max(ts)."""
    ev = load_table(spark, sf_dir, "events")
    now = ev.agg(F.max("ts").alias("now_ts"))
    return (
        ev.crossJoin(F.broadcast(now))
        .select("event_type", fx.freshness("ts", "now_ts").alias("freshness"))
        .groupBy("event_type", "freshness")
        .agg(F.count("*").alias("n"))
    )


@query(
    "acl_filtered_features",
    """
    WITH registry(feature_name, phi_level, access_roles) AS (VALUES
        ('click',    'none',     []::VARCHAR[]),
        ('view',     'none',     []::VARCHAR[]),
        ('purchase', 'indirect', ['analyst','billing']),
        ('signup',   'indirect', ['marketing']),
        ('error',    'direct',   ['admin'])
    ),
    latest AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) rn
        FROM events) WHERE rn = 1
    )
    SELECT r.feature_name, r.phi_level, COUNT(*) AS n_entities
    FROM latest l JOIN registry r ON l.event_type = r.feature_name
    WHERE r.phi_level = 'none'
       OR len(list_intersect(r.access_roles, ['analyst','clinician'])) > 0
    GROUP BY r.feature_name, r.phi_level
    """,
)
def acl_filtered_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-38/39: ACL gate as a broadcast registry join + arrays_overlap
    filter applied BEFORE data access (feature_registry.py:469-475
    semantics: PHI features require a role overlap; non-PHI is open)."""
    registry = spark.createDataFrame(
        [
            ("click", "none", []),
            ("view", "none", []),
            ("purchase", "indirect", ["analyst", "billing"]),
            ("signup", "indirect", ["marketing"]),
            ("error", "direct", ["admin"]),
        ],
        "feature_name string, phi_level string, access_roles array<string>",
    )
    user_roles = ["analyst", "clinician"]
    allowed = registry.where(fx.acl_allowed("phi_level", "access_roles", user_roles))
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    latest = latest_per_key(ev, ["user_id", "event_type"], "ts", tiebreak=["event_id"])
    return (
        latest.join(F.broadcast(allowed), latest.event_type == allowed.feature_name)
        .groupBy("feature_name", "phi_level")
        .agg(F.count("*").alias("n_entities"))
    )


@query(
    "online_offline_consistency",
    """
    WITH by_argmax AS (
      SELECT user_id, event_type,
             (max(struct_pack(ts := ts, event_id := event_id, value := value))).value
               AS value
      FROM events GROUP BY user_id, event_type
    ),
    by_window AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) rn
        FROM events) WHERE rn = 1
    )
    SELECT * FROM by_argmax EXCEPT SELECT * FROM by_window
    UNION ALL
    (SELECT * FROM by_window EXCEPT SELECT * FROM by_argmax)
    """,
)
def online_offline_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: online/offline parity diff (README.md:13 of the reference).
    The online table (argmax-maintained) and the offline-derived latest
    snapshot (window) must agree — symmetric EXCEPT returns 0 rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    online = latest_per_key(
        ev, ["user_id", "event_type"], "ts", tiebreak=["event_id"], strategy="max_by"
    ).select("user_id", "event_type", "value")
    offline = latest_per_key(
        ev, ["user_id", "event_type"], "ts", tiebreak=["event_id"], strategy="window"
    ).select("user_id", "event_type", "value")
    return online.exceptAll(offline).unionAll(offline.exceptAll(online))


# ---------------------------------------------------------------------------
# LLM-pipeline extensions: dedup / text / similarity (OP-48..53)
# ---------------------------------------------------------------------------

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKENS_SQL = f"string_split({_NORM_SQL}, ' ')"


@query(
    "dedup_exact_fingerprint",
    f"""
    SELECT md5({_NORM_SQL}) AS fingerprint,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keeper_doc_id
    FROM documents GROUP BY fingerprint
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-48 + fingerprinting: exact dedup on the normalized-text md5;
    deterministic keeper = min doc_id per group."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", text.fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
    )


def _minhash_oracle(num_hashes: int = 16, bands: int = 4, n: int = 3) -> str:
    rows = num_hashes // bands
    shingle = "concat_ws(' ', t[i], t[i+1], t[i+2])"
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, {shingle} AS shingle
      FROM toks, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - {n - 1}, 1) + 1)) AS i)
    ),
    mh AS (
      SELECT doc_id, h, MIN(substr(md5(concat(h, ':', shingle)), 1, 16)) AS mhv
      FROM sh, LATERAL (SELECT UNNEST(range(0, {num_hashes})) AS h)
      GROUP BY doc_id, h
    ),
    banded AS (
      SELECT doc_id, h // {rows} AS band,
             md5(string_agg(mhv, '|' ORDER BY h)) AS bkey
      FROM mh GROUP BY doc_id, h // {rows}
    )
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
    """


@query("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-49: MinHash-LSH candidate pairs (16 hashes × 4 bands over 3-gram
    shingles).  Portable md5-derived hash so the signature is reproducible
    in any engine; the fast path (xxhash64) is covered by unit tests."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, portable=True
    )


@query("dedup_minhash_lsh_shuffled", _minhash_oracle())
def dedup_minhash_lsh_shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-49, the corpus-scale strategy of dedup_minhash_lsh: identical
    banded signatures, but the candidate join is the shuffled equi-join on
    the uniform band digest (broadcast_candidates=False) — the only shape
    that survives when the band table is #docs × bands ≈ billions of rows.
    Same oracle as the broadcast entry: two physical strategies, one
    semantic."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, portable=True,
        broadcast_candidates=False,
    )


def _jaccard_oracle(n: int = 2, threshold: float = 0.12) -> str:
    shingle = "concat_ws(' ', t[i], t[i+1])"
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, {shingle} AS shingle
      FROM toks, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - {n - 1}, 1) + 1)) AS i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS common
      FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      GROUP BY l.doc_id, r.doc_id
    )
    SELECT id_a, id_b, common, a.sz AS size_a, b.sz AS size_b,
           common / (a.sz + b.sz - common) AS jaccard
    FROM common JOIN sizes a ON id_a = a.doc_id JOIN sizes b ON id_b = b.doc_id
    WHERE common / (a.sz + b.sz - common) >= {threshold}
    """


@query("dedup_ngram_jaccard", _jaccard_oracle())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-49 (exact variant): pairwise bigram-shingle Jaccard ≥ 0.12.
    Jaccard is an int/int division → bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.12)


def _simhash_oracle(bits: int = 32) -> str:
    # Token hash = integer value of the last 8 hex chars of md5(token).
    # Bit i lives in hex digit (from the right) i//4, bit position i%4;
    # hex digit value via strpos over the hex alphabet (portable).
    digit = "strpos('0123456789abcdef', substr(md5(tok), {pos}, 1)) - 1"
    bit_terms = []
    for i in range(bits):
        pos = 32 - (i // 4)
        d = digit.format(pos=pos)
        bit_terms.append(
            f"CASE WHEN SUM(CASE WHEN (({d}) // {1 << (i % 4)}) % 2 = 1 "
            f"THEN 1 ELSE -1 END) > 0 THEN {1 << i}::BIGINT ELSE 0 END"
        )
    sig = " + ".join(bit_terms)
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({_TOKENS_SQL}) AS tok FROM documents
    )
    SELECT doc_id, ({sig}) AS simhash
    FROM toks GROUP BY doc_id
    """


@query("simhash_signatures", _simhash_oracle())
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-49 (SimHash variant): 32-bit portable (md5-derived) simhash per
    document — the engine-portable form the DuckDB oracle reproduces.
    Production runs use the 64-bit xxhash64 default
    (operators.dedup.simhash_signatures, pinned ≡ brute force in
    test_operators)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_signatures(docs, "doc_id", "text", bits=32, portable=True)


@query(
    "text_stats_by_lang_source",
    f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS sum_tokens
    FROM documents GROUP BY lang, source
    """,
)
def text_stats_by_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-51: corpus statistics per (lang, source)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.sum(text.token_count(F.col("text"))).alias("sum_tokens"),
    )


@query(
    "text_quality_scores",
    f"""
    SELECT doc_id,
           len({_TOKENS_SQL}) AS n_tokens,
           length(regexp_replace(text, '\\s', '', 'g'))
             / len({_TOKENS_SQL}) AS mean_token_len,
           len(regexp_extract_all(text, '[^0-9a-zA-Z_\\s]'))
             / greatest(length(text), 1) AS punct_ratio,
           len(regexp_extract_all(text, '[0-9]'))
             / greatest(length(text), 1) AS digit_ratio
    FROM documents
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-51: per-document quality signals (token count, mean token length,
    punctuation/digit ratios) — all int/int divisions, bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    n_tokens = text.token_count(c)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (F.length(F.regexp_replace(c, r"\s", "")) / n_tokens).alias("mean_token_len"),
        text.punct_ratio(c).alias("punct_ratio"),
        text.digit_ratio(c).alias("digit_ratio"),
    )


def _lang_id_oracle() -> str:
    codes = sorted(text.LANG_STOPWORDS)
    score_exprs = []
    for code in codes:
        hits = " + ".join(
            f"CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END"
            for w in text.LANG_STOPWORDS[code]
        )
        score_exprs.append(f"({hits}) AS s_{code}")
    m = "greatest(" + ", ".join(f"s_{c}" for c in codes) + ")"
    case = " ".join(f"WHEN s_{c} = m THEN '{c}'" for c in codes)
    return f"""
    WITH scored AS (
      SELECT lang, {', '.join(score_exprs)}
      FROM (SELECT lang, list_distinct({_TOKENS_SQL}) AS toks FROM documents)
    ),
    best AS (SELECT lang, {m} AS m, * FROM scored)
    SELECT lang, CASE WHEN m = 0 THEN 'und' {case} END AS predicted_lang,
           COUNT(*) AS n
    FROM best GROUP BY lang, predicted_lang
    """


@query("lang_id_confusion", _lang_id_oracle())
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-51: stopword-hit language-ID heuristic; output is the
    (labeled lang × predicted lang) confusion table."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", text.lang_id(F.col("text")).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )


_COSINE_SQL = """
    round(
      list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))
       * sqrt(list_sum(list_transform(range(1, 65), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE)))),
      4)
"""


@query(
    "embedding_topk_bruteforce",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
    scored AS (
      SELECT qid, cid, {_COSINE_SQL.format(a='qv', b='cv')} AS cosine
      FROM q CROSS JOIN c WHERE qid <> cid
    )
    SELECT qid AS query_id, cid AS vec_id, cosine, rn AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, cid) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-50: exact brute-force cosine top-5 for query vectors vec_id<5.
    Cosine rounded to 4 decimals BEFORE ranking, ties broken by vec_id —
    the cut is deterministic across engines.  The approximate scale path
    (random-hyperplane LSH) is unit-tested for recall against this."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # rank on the ROUNDED cosine (not cosine_topk's raw value) for
    # cross-engine determinism of the top-k cut.
    qq = q.select(F.col("query_id").alias("__qid"), F.col("embedding").alias("__qv"))
    cc = emb.select(F.col("vec_id").alias("__cid"), F.col("embedding").alias("__cv"))
    pairs = F.broadcast(qq).crossJoin(cc).where(F.col("__qid") != F.col("__cid"))
    # dim=64: the unrolled codegen form — bit-identical to the HOF fold
    # (same products, same left-to-right order), built as one parsed SQL
    # string (see similarity._dot)
    scored = pairs.withColumn(
        "cosine",
        F.round(similarity.cosine_similarity("__qv", "__cv", dim=64), 4),
    )
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("vec_id"),
            "cosine",
            "rank",
        )
    )


@query(
    "embedding_norm_stats",
    """
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CAST(sqrt(list_sum(list_transform(range(1, 65),
                i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS DECIMAL(25,8)))
             AS DOUBLE) / COUNT(*) AS avg_l2_norm
    FROM embeddings GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-50/52: embedding hygiene stats per label.  Per-row norms are
    deterministic folds; the cross-row mean uses the exact decimal-sum
    pattern."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        emb.select("label", norm.alias("__norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum(F.col("__norm").cast("decimal(25,8)")).cast("double") / F.count("*")).alias(
                "avg_l2_norm"
            ),
        )
    )


@query(
    "tumbling_window_counts",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           {_DSUM_SQL.format(expr='value')} AS sum_value
    FROM events GROUP BY window_start, event_type
    """,
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-45 (batch-equivalent): tumbling 1-hour event-time windows.  The
    same aggregation runs incrementally under Structured Streaming with a
    watermark (streaming/pipeline.py; unit-tested with availableNow)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), _dsum("value", "sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Range join (OP-19 range variant)
# ---------------------------------------------------------------------------


@query(
    "range_join_recent_clicks",
    """
    SELECT s.event_id, s.user_id, COUNT(v.event_id) AS clicks_1h
    FROM (SELECT * FROM events WHERE event_type = 'purchase') s
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') v
      ON v.user_id = s.user_id
     AND v.ts <= s.ts AND v.ts > s.ts - INTERVAL 1 HOUR
    GROUP BY s.event_id, s.user_id
    """,
)
def range_join_recent_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-19 (range): interval join — clicks in the hour before each
    purchase.  Equi-join on user_id carries the shuffle; the interval is a
    post-join range predicate."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.where(F.col("event_type") == "purchase").alias("s")
    v = ev.where(F.col("event_type") == "click").alias("v")
    return (
        s.join(
            v,
            on=[
                F.col("v.user_id") == F.col("s.user_id"),
                F.col("v.ts") <= F.col("s.ts"),
                F.col("v.ts") > F.col("s.ts") - F.expr("INTERVAL 1 HOUR"),
            ],
            how="left",
        )
        .groupBy(F.col("s.event_id").alias("event_id"), F.col("s.user_id").alias("user_id"))
        .agg(F.count(F.col("v.event_id")).alias("clicks_1h"))
    )


# ---------------------------------------------------------------------------
# Batch sessionization (OP-45 batch analog) + multi-dim rollup (OP-25)
# ---------------------------------------------------------------------------


@query(
    "sessionize_events",
    f"""
    WITH x AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 2 HOUR
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM x
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           {_DSUM_SQL.format(expr='value')} AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-45 (batch sessionization, operators.resample.sessionize):
    gap-based sessions (2 h of inactivity closes a session) via lag +
    running sum — the batch twin of
    streaming/pipeline.session_window_features.  Deterministic ordering:
    (ts, event_id).  One shuffle on user_id serves both windows and the
    final aggregate (zero over a bucketed table — SCALE.md ×1000)."""
    ev = load_table(spark, sf_dir, "events")
    sessions = resample.sessionize(
        ev, "user_id", "ts", gap=2 * 3600, tiebreak=["event_id"]
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        _dsum("value", "sum_value"),
    )


@query(
    "corpus_rollup",
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY ROLLUP(lang, source)
    """,
)
def corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-25 extension: multi-dimensional rollup (lang → lang×source →
    grand total) in one pass — partial-aggregatable, one shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


@query(
    "pit_tolerance_join",
    """
    WITH spine AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    vals AS (SELECT user_id, value, ts, event_id FROM events WHERE event_type = 'click'),
    j AS (
      SELECT s.event_id, s.user_id, s.ts,
             v.value AS click_value, v.ts AS click_ts,
             ROW_NUMBER() OVER (PARTITION BY s.event_id
                                ORDER BY v.ts DESC, v.event_id DESC) AS rn
      FROM spine s LEFT JOIN vals v
        ON v.user_id = s.user_id AND v.ts <= s.ts
       AND v.ts >= s.ts - INTERVAL 3 DAY
    )
    SELECT event_id, user_id, ts, click_value,
           click_ts AS click_value__timestamp
    FROM j WHERE rn = 1
    """,
)
def pit_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-16 with bounded staleness: same as pit_training_join but a click
    older than 3 days at spine time does not qualify — NULL fill instead.
    This is the reference's freshness SLA (feature_server.py:585-594)
    enforced at join time rather than tagged after the fact."""
    ev = load_table(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    vals = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", F.col("value").alias("click_value"), "ts", "event_id")
    )
    return point_in_time_join(
        spine,
        vals,
        on="user_id",
        spine_ts="ts",
        value_ts="ts",
        value_cols=["click_value"],
        tiebreak=["event_id"],
        spine_keys=["event_id"],
        tolerance="INTERVAL 3 DAYS",
    )


@query(
    "pit_trailing_window_features",
    f"""
    WITH spine AS (
      SELECT user_id, max(ts) AS spine_ts FROM events GROUP BY user_id
    )
    SELECT s.user_id, s.spine_ts,
           COUNT(e.ts) AS n_events_7d,
           {_DSUM_SQL.format(expr='e.value')} AS sum_value_7d
    FROM spine s LEFT JOIN events e
      ON e.user_id = s.user_id
     AND e.ts >= s.spine_ts - INTERVAL 7 DAY
     AND e.ts <  s.spine_ts
    GROUP BY s.user_id, s.spine_ts
    """,
)
def pit_trailing_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation feature view (operators.pit.trailing_window_agg): for
    each user's latest event time (the spine), the count and exact sum of
    event values in the trailing 7 days STRICTLY BEFORE that time — the
    leak-free rolling-aggregate feature a training pipeline joins next to
    PIT point lookups.  One equi-join shuffle on user_id + one
    partial-aggregated shuffle on the spine key."""
    ev = load_table(spark, sf_dir, "events")
    spine = ev.groupBy("user_id").agg(F.max("ts").alias("spine_ts"))
    return pit.trailing_window_agg(
        spine,
        ev.select("user_id", "ts", "value"),
        on="user_id",
        spine_ts="spine_ts",
        value_ts="ts",
        window="INTERVAL 7 DAYS",
        aggs=[_dsum("value", "sum_value_7d")],
        count_alias="n_events_7d",
        spine_keys=["user_id"],
    ).select("user_id", "spine_ts", "n_events_7d", "sum_value_7d")


@query(
    "training_set_builder",
    f"""
    WITH spine AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    vals AS (SELECT user_id, value, ts, event_id FROM events WHERE event_type = 'click'),
    pit AS (
      SELECT event_id, click_value FROM (
        SELECT s.event_id, v.value AS click_value,
               ROW_NUMBER() OVER (PARTITION BY s.event_id
                                  ORDER BY v.ts DESC, v.event_id DESC) AS rn
        FROM spine s LEFT JOIN vals v ON v.user_id = s.user_id AND v.ts <= s.ts
      ) WHERE rn = 1
    ),
    win AS (
      SELECT s.event_id, COUNT(e.ts) AS n_events_7d,
             {_DSUM_SQL.format(expr='e.value')} AS sum_value_7d
      FROM spine s LEFT JOIN events e
        ON e.user_id = s.user_id AND e.ts >= s.ts - INTERVAL 7 DAY AND e.ts < s.ts
      GROUP BY s.event_id
    )
    SELECT s.event_id, s.user_id, s.ts, p.click_value,
           w.n_events_7d, w.sum_value_7d,
           {sampling.split_label_sql('s.event_id', _SPLIT_WEIGHTS)} AS split
    FROM spine s JOIN pit p ON p.event_id = s.event_id
                JOIN win w ON w.event_id = s.event_id
    """,
)
def training_set_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ The end-to-end training-set pipeline, composed from the operator
    library in one plan: purchase spine → leak-free PIT click lookup
    (point_in_time_join) → trailing-7-day activity aggregates
    (trailing_window_agg) → deterministic train/val/test tag (hash_split).
    Everything shuffles on user_id or the spine key; the split tag is a
    pure projection — the whole feature table materializes in one job,
    which is the shape a 100 TB feature-engineering run wants (no
    per-feature passes over the fact table)."""
    ev = load_table(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", F.col("value").alias("click_value"), "ts", "event_id")
    )
    with_pit = point_in_time_join(
        spine, clicks, on="user_id", spine_ts="ts", value_ts="ts",
        value_cols=["click_value"], tiebreak=["event_id"], spine_keys=["event_id"],
    ).drop("click_value__timestamp")
    with_win = pit.trailing_window_agg(
        with_pit,
        ev.select("user_id", "ts", "value"),
        on="user_id",
        spine_ts="ts",
        value_ts="ts",
        window="INTERVAL 7 DAYS",
        aggs=[_dsum("value", "sum_value_7d")],
        count_alias="n_events_7d",
        spine_keys=["event_id"],
    )
    return sampling.hash_split(with_win, "event_id", _SPLIT_WEIGHTS).select(
        "event_id", "user_id", "ts", "click_value", "n_events_7d", "sum_value_7d", "split"
    )


@query(
    "events_cube_stats",
    f"""
    SELECT event_type, year(ts) AS y,
           GROUPING(event_type) AS g_type, GROUPING(year(ts)) AS g_year,
           COUNT(*) AS n_events, {_DSUM_SQL.format(expr='value')} AS sum_value
    FROM events
    GROUP BY CUBE(event_type, year(ts))
    """,
)
def events_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-25 extension: full CUBE over (event_type, year) — all four
    grouping-set combinations in one pass, with GROUPING() flags so real
    NULL keys stay distinguishable from subtotal rows.  Like rollup, the
    cube expansion partial-aggregates map-side before its single
    shuffle."""
    ev = load_table(spark, sf_dir, "events").withColumn("y", F.year("ts"))
    return ev.cube("event_type", "y").agg(
        F.grouping("event_type").alias("g_type"),
        F.grouping("y").alias("g_year"),
        F.count("*").alias("n_events"),
        _dsum("value", "sum_value"),
    )


@query(
    "bpe_token_estimate",
    r"""
    SELECT doc_id,
           len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS ws_tokens,
           greatest(len(regexp_extract_all(text, '\w+')),
                    length(regexp_replace(text, '\s', '', 'g')) // 4)
             + len(regexp_extract_all(text, '[^\w\s]')) AS bpe_tokens_est
    FROM documents
    """,
)
def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-51: whitespace token count vs BPE-ish subword estimate
    (word-piece + punctuation regex blend, text.bpe_ish_token_estimate)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("ws_tokens"),
        text.bpe_ish_token_estimate(F.col("text")).alias("bpe_tokens_est"),
    )


# ---------------------------------------------------------------------------
# Embedding near-dup (OP-49 cosine variant, exact) — LSH variant unit-tested
# ---------------------------------------------------------------------------


@query(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_COSINE_SQL.format(a='a.embedding', b='b.embedding')} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_COSINE_SQL.format(a='a.embedding', b='b.embedding')} >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-49 (embedding-cosine, exact): all pairs with cosine >= 0.35 via
    similarity.cosine_pairs_exact — the quarantined quadratic verification
    oracle for the LSH-bucketed scale path
    (similarity.embedding_near_dup_pairs), guarded by the same in-plan
    candidate-budget tripwire as the Jaccard oracle.  Deterministic
    sequential dot product, 4-decimal round before thresholding for
    bit-identical DuckDB parity."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_exact(
        emb, threshold=0.35, dim=64, round_decimals=4
    )


# ---------------------------------------------------------------------------
# Multimodal columns (OP-52): binary payloads + typed metadata
# ---------------------------------------------------------------------------

_MEDIA_KIND_SQL = "(['image','audio','video'])[(doc_id % 3)+1]"


@query(
    "multimodal_media_stats",
    f"""
    WITH media AS (
      SELECT doc_id AS media_id, {_MEDIA_KIND_SQL} AS kind,
             octet_length(encode(text)) AS n_bytes, length(text) AS n
      FROM documents
    )
    SELECT kind, COUNT(*) AS n_media, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           {_DSUM_SQL.format(expr="CASE WHEN kind='audio' THEN n/100.0 ELSE 0 END")} AS total_duration_s,
           CAST(SUM(CASE WHEN kind='video' THEN n % 240 + 24 ELSE 0 END) AS BIGINT) AS total_frames
    FROM media GROUP BY kind
    """,
)
def multimodal_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-52: per-kind corpus stats over a media table (opaque binary
    payload + typed metadata struct) — metadata-only plan, the binary
    column is pruned from the scan."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_media_table(docs)
    return multimodal.media_stats(media)


@query(
    "multimodal_frame_sample",
    f"""
    WITH media AS (
      SELECT doc_id AS media_id, {_MEDIA_KIND_SQL} AS kind,
             length(text) % 240 + 24 AS n_frames
      FROM documents
    )
    SELECT media_id, UNNEST(range(0, n_frames, 10)) AS frame_idx
    FROM media WHERE kind = 'video'
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-52: video frame sampling (every 10th frame) as a pure metadata
    explode — one row per kept frame, no payload decode in the plan."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_media_table(docs)
    return multimodal.sample_frames(media, every=10)


@query(
    "multimodal_audio_chunks",
    f"""
    WITH media AS (
      SELECT doc_id AS media_id, {_MEDIA_KIND_SQL} AS kind,
             length(text)/100.0 AS duration_s
      FROM documents
    )
    SELECT media_id, UNNEST(range(0, CAST(ceil(duration_s / 30.0) AS INT))) AS chunk_idx,
           UNNEST(range(0, CAST(ceil(duration_s / 30.0) AS INT))) * 30.0 AS start_s,
           least(UNNEST(range(0, CAST(ceil(duration_s / 30.0) AS INT))) * 30.0 + 30.0,
                 duration_s) AS end_s
    FROM media WHERE kind = 'audio'
    """,
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-52: audio chunking by duration metadata (30 s windows) — the
    fan-out shape a transcription stage consumes."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_media_table(docs)
    return multimodal.audio_chunks(media, chunk_s=30.0)


@query(
    "multimodal_image_features",
    f"""
    WITH media AS (
      SELECT doc_id AS media_id, {_MEDIA_KIND_SQL} AS kind,
             encode(text) AS payload, length(text) AS n
      FROM documents
    ),
    imgs AS (
      SELECT media_id, lower(hex(payload)) AS h,
             octet_length(payload) AS n_bytes,
             CAST(n % 512 + 64 AS INT) AS width,
             CAST(n % 256 + 64 AS INT) AS height
      FROM media WHERE kind = 'image'
    ),
    b AS (
      SELECT media_id, n_bytes,
             UNNEST(range(1, n_bytes + 1)) AS i
      FROM imgs
    ),
    bv AS (
      SELECT b.media_id, b.n_bytes,
             (strpos('0123456789abcdef', substr(x.h, CAST(2*b.i-1 AS INT), 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(x.h, CAST(2*b.i AS INT), 1)) - 1) AS byte
      FROM b JOIN imgs x ON b.media_id = x.media_id
    ),
    cnts AS (
      SELECT media_id, n_bytes, byte, COUNT(*) AS c
      FROM bv GROUP BY media_id, n_bytes, byte
    ),
    stats AS (
      SELECT media_id,
             CAST(SUM(byte * c) * 1000000 // n_bytes AS BIGINT) / 1000000.0
               AS mean_byte,
             ROUND(-SUM((c / CAST(n_bytes AS DOUBLE))
                        * log2(c / CAST(n_bytes AS DOUBLE))), 6) AS byte_entropy
      FROM cnts GROUP BY media_id, n_bytes
    )
    SELECT i.media_id, CAST(i.n_bytes AS BIGINT) AS n_bytes,
           COALESCE(s.mean_byte, 0.0) AS mean_byte,
           COALESCE(s.byte_entropy, 0.0) AS byte_entropy,
           i.width, i.height
    FROM imgs i LEFT JOIN stats s ON i.media_id = s.media_id
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-52: Arrow-batched mapInPandas decode→feature kernel over the
    binary payload (deterministic byte-statistics stub standing in for the
    codec — container ships no Pillow).  The byte-stat features are
    deterministic, so the DuckDB oracle reproduces them from the hex
    expansion of the same payload; both sides round to 6 decimals to
    cancel float-summation-order noise.  The plumbing (schema, batching,
    binary transport) is the production path."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_media_table(docs)
    return multimodal.decode_image_features(media, use_fake_decoder=True)


@query(
    "multimodal_real_decode",
    """
    WITH imgs AS (
      SELECT doc_id AS media_id,
             doc_id % 256 AS seed,
             CAST(doc_id % 32 + 8 AS INT) AS width,
             CAST(doc_id % 24 + 8 AS INT) AS height,
             CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt
      FROM documents WHERE doc_id % 7 = 0
    ),
    yc AS (
      SELECT i.media_id, i.height, ((i.seed + y.y + c.c) % 256) AS v, y.y, c.c
      FROM imgs i,
           (SELECT UNNEST(range(0, 31)) AS y) y,
           (SELECT UNNEST(range(0, 3)) AS c) c
      WHERE y.y < i.height
    ),
    ext AS (
      SELECT media_id, MIN(v) AS min_pixel, MAX(v) AS max_pixel
      FROM yc GROUP BY media_id
    ),
    c0 AS (
      SELECT media_id,
             CAST(SUM(v) * 1000000 // COUNT(*) AS BIGINT) / 1000000.0 AS mean_c0
      FROM yc WHERE c = 0 GROUP BY media_id
    ),
    cnts AS (
      SELECT media_id, height, v, COUNT(*) AS cnt FROM yc
      GROUP BY media_id, height, v
    ),
    ent AS (
      SELECT media_id,
             ROUND(-SUM((cnt / (3.0 * height)) * log2(cnt / (3.0 * height))), 6)
               AS pixel_entropy
      FROM cnts GROUP BY media_id
    )
    SELECT i.media_id, i.fmt, i.width, i.height,
           CAST(i.width * i.height AS BIGINT) AS n_pixels,
           CAST(i.seed AS INT) AS first_pixel,
           c0.mean_c0,
           CAST(e.min_pixel AS INT) AS min_pixel,
           CAST(e.max_pixel AS INT) AS max_pixel,
           n.pixel_entropy
    FROM imgs i
    JOIN ext e USING (media_id)
    JOIN c0 USING (media_id)
    JOIN ent n USING (media_id)
    """,
)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-52, REAL codec path (round-12): every sampled document becomes
    an ACTUAL encoded PNG (even ids — zlib + scanline filters) or BMP
    (odd ids — BGR, bottom-up, 4-byte row padding) via the built-in
    pure-stdlib+numpy codecs (operators/codecs.py), then the decode
    kernel reads the pixels BACK OUT OF THE BYTES and derives per-image
    statistics.  Pixel values are a closed-form function of the row id,
    so the DuckDB oracle recomputes each statistic arithmetically — the
    hash match proves encode→decode round-trips bit-exactly on real
    container formats: `first_pixel` pins scanline orientation, `mean_c0`
    pins channel order, width/height pin stride/padding, the entropy pins
    the full value histogram.  Unlike `multimodal_image_features` (the
    byte-stat path over opaque payloads), the payload here is NOT opaque:
    a defect anywhere in either codec breaks the values."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_image_media(docs, sample_mod=7)
    return multimodal.decode_image_pixels(media)


@query(
    "multimodal_audio_decode",
    """
    WITH clips AS (
      SELECT doc_id AS media_id,
             doc_id % 251 AS seed,
             doc_id % 800 + 100 AS n,
             CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS sr
      FROM documents WHERE doc_id % 7 = 0
    ),
    vals AS (
      SELECT c.media_id, c.n, t.t,
             (c.seed * 31 + t.t * 7) % 4096 - 2048 AS v
      FROM clips c, (SELECT UNNEST(range(0, 899)) AS t) t
      WHERE t.t < c.n
    ),
    stats AS (
      SELECT media_id,
             CAST(SUM(ABS(v)) * 1000000 // COUNT(*) AS BIGINT) / 1000000.0
               AS mean_abs,
             CAST(MAX(ABS(v)) AS INT) AS peak
      FROM vals GROUP BY media_id
    ),
    nz AS (
      SELECT media_id, t, CASE WHEN v > 0 THEN 1 ELSE -1 END AS s
      FROM vals WHERE v <> 0
    ),
    zc AS (
      SELECT media_id,
             CAST(SUM(CASE WHEN s <> prev_s THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_crossings
      FROM (SELECT media_id, s,
                   LAG(s) OVER (PARTITION BY media_id ORDER BY t) AS prev_s
            FROM nz)
      WHERE prev_s IS NOT NULL GROUP BY media_id
    )
    SELECT c.media_id, CAST(c.sr AS INT) AS sample_rate,
           CAST(c.n AS BIGINT) AS n_samples,
           CAST(1 AS INT) AS channels,
           CAST(c.n * 1000 // c.sr AS BIGINT) AS duration_ms,
           CAST((c.seed * 31) % 4096 - 2048 AS INT) AS first_sample,
           s.mean_abs, s.peak,
           COALESCE(z.zero_crossings, 0) AS zero_crossings
    FROM clips c
    JOIN stats s USING (media_id)
    LEFT JOIN zc z USING (media_id)
    """,
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-52, REAL audio codec path (round 12): every sampled document
    becomes an ACTUAL 16-bit PCM RIFF/WAV file (operators/codecs.py
    `encode_wav`) whose samples are a closed-form sawtooth of the row
    id, then `decode_audio_features` reads the waveform BACK OUT OF THE
    BYTES — header fields (rate, count, duration) pin the RIFF chunk
    walk, `first_sample` pins int16 byte order, mean |amplitude| / peak
    pin the sample values, and the zero-crossing count pins sample
    ORDER and signedness (any reorder or unsigned misread breaks it).
    The DuckDB oracle recomputes all of it arithmetically."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_audio_media(docs, sample_mod=7)
    return multimodal.decode_audio_features(media)


@query(
    "multimodal_video_decode",
    """
    WITH clips AS (
      SELECT doc_id AS media_id,
             doc_id % 199 AS seed,
             CAST(doc_id % 12 + 2 AS INT) AS t,
             CAST((doc_id % 16 + 4) * 2 AS INT) AS w,
             CAST((doc_id % 10 + 3) * 2 AS INT) AS h,
             CASE WHEN doc_id % 2 = 0 THEN 25 ELSE 30 END AS fps_num
      FROM documents WHERE doc_id % 7 = 0
    ),
    vals AS (
      SELECT c.media_id, (c.seed + 7 * f.f + y.y) % 256 AS v
      FROM clips c,
           (SELECT UNNEST(range(0, 13)) AS f) f,
           (SELECT UNNEST(range(0, 24)) AS y) y
      WHERE f.f < c.t AND y.y < c.h
    ),
    stats AS (
      SELECT media_id,
             CAST(SUM(v) * 1000000 // COUNT(*) AS BIGINT) / 1000000.0
               AS mean_luma,
             CAST(MAX(v) AS INT) AS max_luma
      FROM vals GROUP BY media_id
    )
    SELECT c.media_id, c.w AS width, c.h AS height, c.t AS n_frames,
           CAST(c.fps_num AS INT) AS fps_num, CAST(1 AS INT) AS fps_den,
           CAST(c.seed % 256 AS INT) AS first_luma,
           CAST((c.seed + 7 * (c.t - 1)) % 256 AS INT) AS last_luma,
           s.mean_luma, s.max_luma
    FROM clips c JOIN stats s USING (media_id)
    """,
)
def multimodal_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-52, REAL video codec path (round 12): every sampled document
    becomes an ACTUAL Y4M/YUV4MPEG2 stream (operators/codecs.py
    `encode_y4m` — text header + FRAME markers + raw planar 4:2:0) whose
    luma planes are a closed-form function of the row id, then
    `decode_video_features` walks the REAL frame markers and planes back
    out of the bytes.  Frame count pins the marker walk (a stride bug
    desyncs it), width/height pin plane sizes, first/last-frame luma pin
    FRAME ORDER, mean/max pin the plane contents; the DuckDB oracle
    recomputes all of it arithmetically.  Together with
    `multimodal_real_decode` (PNG/BMP) and `multimodal_audio_decode`
    (WAV) every media kind now has an executed real-codec path."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_video_media(docs, sample_mod=7)
    return multimodal.decode_video_features(media)


@query(
    "multimodal_resize_pipeline",
    """
    WITH imgs AS (
      SELECT doc_id AS media_id,
             doc_id % 256 AS seed,
             doc_id % 32 + 8 AS w,
             doc_id % 24 + 8 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt
      FROM documents WHERE doc_id % 7 = 0
    ),
    yc AS (
      -- nearest-neighbor at (16, 12): output row y2 samples source row
      -- y2*h//12; the source is constant across x, so x drops out
      SELECT i.media_id, ((i.seed + (y.y2 * i.h // 12) + c.c) % 256) AS v,
             y.y2, c.c
      FROM imgs i,
           (SELECT UNNEST(range(0, 12)) AS y2) y,
           (SELECT UNNEST([0, 1, 2])   AS c)  c
    ),
    ext AS (
      SELECT media_id, MIN(v) AS min_pixel, MAX(v) AS max_pixel
      FROM yc GROUP BY media_id
    ),
    c0 AS (
      SELECT media_id,
             CAST(SUM(v) * 1000000 // COUNT(*) AS BIGINT) / 1000000.0 AS mean_c0
      FROM yc WHERE c = 0 GROUP BY media_id
    ),
    cnts AS (
      SELECT media_id, v, COUNT(*) AS cnt FROM yc GROUP BY media_id, v
    ),
    ent AS (
      SELECT media_id,
             ROUND(-SUM((cnt / 36.0) * log2(cnt / 36.0)), 6) AS pixel_entropy
      FROM cnts GROUP BY media_id
    )
    SELECT i.media_id, i.fmt,
           CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
           CAST(192 AS BIGINT) AS n_pixels,
           CAST(i.seed AS INT) AS first_pixel,
           c0.mean_c0,
           CAST(e.min_pixel AS INT) AS min_pixel,
           CAST(e.max_pixel AS INT) AS max_pixel,
           n.pixel_entropy
    FROM imgs i
    JOIN ext e USING (media_id)
    JOIN c0 USING (media_id)
    JOIN ent n USING (media_id)
    """,
)
def multimodal_resize_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-52 resize, oracle-pinned end-to-end (round 12): synthesize real
    PNG/BMP payloads → decode → nearest-neighbor resample to 16×12 →
    RE-ENCODE in the same container → decode AGAIN and derive pixel
    statistics.  Two full codec round trips plus the resampler in one
    chain; the DuckDB oracle recomputes the resampled gradient in closed
    form (output row ``y2`` samples source row ``y2·h//12``), so an
    off-by-one in the index arithmetic, a re-encode defect, or a format
    swap breaks the hash.  The container format is preserved through the
    resize (`fmt` comes from re-sniffing the resized payload)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_image_media(docs, sample_mod=7)
    resized = multimodal.resize_images(media, 16, 12, use_fake_decoder=False)
    return multimodal.decode_image_pixels(resized)


@query(
    "multimodal_unified_stats",
    """
    WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 7 = 0),
    img AS (
      SELECT media_id, 'image' AS kind,
             CASE WHEN media_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
             media_id % 256 AS seed,
             media_id % 32 + 8 AS w, media_id % 24 + 8 AS h
      FROM ids
    ),
    img_v AS (
      SELECT i.media_id, ((i.seed + y.y + c.c) % 256) AS v, i.w
      FROM img i,
           (SELECT UNNEST(range(0, 31)) AS y) y,
           (SELECT UNNEST([0, 1, 2]) AS c) c
      WHERE y.y < i.h
    ),
    img_s AS (
      SELECT i.media_id, i.kind, i.fmt,
             CAST(i.w * i.h * 3 AS BIGINT) AS n_units,
             CAST(i.seed AS INT) AS first_value,
             CAST(SUM(v.v) * 1000000 // COUNT(*) AS BIGINT) / 1000000.0
               AS mean_value,
             CAST(MAX(v.v) AS INT) AS max_value
      FROM img i JOIN img_v v USING (media_id)
      GROUP BY i.media_id, i.kind, i.fmt, i.w, i.h, i.seed
    ),
    aud AS (
      SELECT media_id, media_id % 251 AS seed, media_id % 800 + 100 AS n
      FROM ids
    ),
    aud_v AS (
      SELECT a.media_id, ABS((a.seed * 31 + t.t * 7) % 4096 - 2048) AS v
      FROM aud a, (SELECT UNNEST(range(0, 899)) AS t) t
      WHERE t.t < a.n
    ),
    aud_s AS (
      SELECT a.media_id, 'audio' AS kind, 'wav' AS fmt,
             CAST(a.n AS BIGINT) AS n_units,
             CAST(ABS((a.seed * 31) % 4096 - 2048) AS INT) AS first_value,
             CAST(SUM(v.v) * 1000000 // COUNT(*) AS BIGINT) / 1000000.0
               AS mean_value,
             CAST(MAX(v.v) AS INT) AS max_value
      FROM aud a JOIN aud_v v USING (media_id)
      GROUP BY a.media_id, a.n, a.seed
    ),
    vid AS (
      SELECT media_id, media_id % 199 AS seed, media_id % 12 + 2 AS t,
             (media_id % 16 + 4) * 2 AS w, (media_id % 10 + 3) * 2 AS h
      FROM ids
    ),
    vid_v AS (
      SELECT v.media_id, ((v.seed + 7 * f.f + y.y) % 256) AS val
      FROM vid v,
           (SELECT UNNEST(range(0, 13)) AS f) f,
           (SELECT UNNEST(range(0, 24)) AS y) y
      WHERE f.f < v.t AND y.y < v.h
    ),
    vid_s AS (
      SELECT v.media_id, 'video' AS kind, 'y4m' AS fmt,
             CAST(v.t * v.h * v.w AS BIGINT) AS n_units,
             CAST(v.seed AS INT) AS first_value,
             CAST(SUM(x.val) * 1000000 // COUNT(*) AS BIGINT) / 1000000.0
               AS mean_value,
             CAST(MAX(x.val) AS INT) AS max_value
      FROM vid v JOIN vid_v x USING (media_id)
      GROUP BY v.media_id, v.t, v.h, v.w, v.seed
    )
    SELECT media_id, kind, fmt, n_units, first_value, mean_value, max_value
    FROM img_s
    UNION ALL SELECT media_id, kind, fmt, n_units, first_value, mean_value,
                     max_value FROM aud_s
    UNION ALL SELECT media_id, kind, fmt, n_units, first_value, mean_value,
                     max_value FROM vid_s
    """,
)
def multimodal_unified_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-52 unified kernel, oracle-pinned (round 12): the SAME
    ``decode_media_stats`` Arrow pass the streaming maintainer applies
    per micro-batch, run batch over a MIXED corpus — real PNG/BMP, WAV
    and Y4M payloads in one table, one kernel dispatching on sniffed
    magic — against a DuckDB oracle that recomputes each kind's
    statistics in closed form.  Pins the dispatch itself: routing a WAV
    through the image decoder (or any cross-kind confusion) breaks the
    hash, not just a per-kind defect."""
    docs = load_table(spark, sf_dir, "documents")
    media = (
        multimodal.synthesize_image_media(docs, sample_mod=7)
        .unionByName(multimodal.synthesize_audio_media(docs, sample_mod=7))
        .unionByName(multimodal.synthesize_video_media(docs, sample_mod=7))
    )
    return multimodal.decode_media_stats(media)


@query(
    "multimodal_real_frame_dedup",
    """
    WITH vids AS (
      -- content derives from doc_id % 35 (content_mod): distinct videos
      -- with byte-identical frame content by construction, media_id
      -- stays the full id
      SELECT doc_id AS media_id,
             (doc_id % 35) % 199 AS seed,
             (doc_id % 35) % 12 + 2 AS t,
             ((doc_id % 35) % 16 + 4) * 2 AS w,
             ((doc_id % 35) % 10 + 3) * 2 AS h
      FROM documents WHERE doc_id % 7 = 0
    ),
    frames AS (
      -- frame content is fully determined by (w, h, v0) where v0 is the
      -- frame's first luma value: row y holds (v0 + y) % 256 across w
      SELECT v.media_id, f.f AS frame_idx, v.w, v.h,
             (v.seed + 7 * f.f) % 256 AS v0
      FROM vids v, (SELECT UNNEST(range(0, 13)) AS f) f
      WHERE f.f < v.t
    ),
    g AS (
      SELECT w, h, v0,
             COUNT(*) AS n_frames,
             COUNT(DISTINCT media_id) AS n_media,
             MIN(media_id * 100 + frame_idx) AS keeper_key
      FROM frames GROUP BY w, h, v0
      HAVING COUNT(*) > 1
    )
    SELECT CAST(keeper_key // 100 AS BIGINT) AS keeper_media_id,
           CAST(keeper_key % 100 AS INT) AS keeper_frame_idx,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(n_media AS BIGINT) AS n_media
    FROM g
    """,
)
def multimodal_real_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-52 × OP-48 on REAL decoded frames (round 12; the executed-codec
    counterpart of `multimodal_frame_dedup`'s payload-slice stub):
    decode every Y4M stream, md5 each frame's luma plane, group
    cross-video duplicate frames, keep the lexicographically smallest
    (media_id, frame_idx) survivor.  The oracle never sees the hash — it
    groups by the closed-form content identity (w, h, first-luma), which
    is bijective with the decoded plane bytes — so the hash match proves
    Spark's BYTE-LEVEL frame grouping equals content-identity grouping:
    any decode defect splits or merges a group and breaks the values.
    Plan: one narrow decode kernel → one partial-aggregatable groupBy on
    the hash-uniform signature (the exact-dedup shuffle shape at frame
    granularity)."""
    docs = load_table(spark, sf_dir, "documents")
    vids = multimodal.synthesize_video_media(docs, sample_mod=7, content_mod=35)
    sigs = multimodal.real_frame_signatures(vids)
    keeper = F.min(
        F.col("media_id") * 100 + F.col("frame_idx")
    ).alias("keeper_key")
    out = sigs.groupBy("sig").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.countDistinct("media_id").alias("n_media"),
        keeper,
    )
    return out.where(F.col("n_frames") > 1).select(
        F.expr("keeper_key div 100").cast("bigint").alias("keeper_media_id"),
        (F.col("keeper_key") % 100).cast("int").alias("keeper_frame_idx"),
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.col("n_media").cast("bigint").alias("n_media"),
    )


# ---------------------------------------------------------------------------
# Subquery surface (OP-19 extension): scalar + correlated subqueries, the
# decorrelation paths Catalyst must handle for oracle parity with any SQL
# front end
# ---------------------------------------------------------------------------


@query(
    "scalar_subquery_orders",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def scalar_subquery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders priced above 1.5× the global average.  The
    subquery plans as its own tiny aggregate broadcast into the filter —
    one extra stage, no join shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)"
    )


@query(
    "correlated_subquery_customer_max",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
)
def correlated_subquery_customer_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (each customer's priciest order).
    Catalyst decorrelates to an aggregate + join; the same result via the
    window/max_by path is what latest_per_key does — this entry pins the
    SQL-front-door semantics."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql(
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders o "
        "WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2 "
        "                      WHERE o2.o_custkey = o.o_custkey)"
    )


@query(
    "q18_large_volume_orders",
    f"""
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           {_DSUM_SQL.format(expr='l_quantity')} AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(25,6))) > 300
    )
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery with HAVING (semi join against an
    aggregate) feeding a 3-table join + re-aggregation.  The HAVING side
    is a partial-aggregated scan; the IN becomes a broadcast semi join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("__q"))
        .where(F.col("__q") > 300)
        .select("l_orderkey")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(big), "l_orderkey", "left_semi")
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_dsum("l_quantity", "total_qty"))
    )


@query(
    "pit_multi_feature_fused",
    """
    WITH spine AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT s.event_id, s.user_id,
           arg_max(v.value, v.ts) FILTER (WHERE v.event_type = 'click') AS click_value,
           max(v.ts)              FILTER (WHERE v.event_type = 'click') AS click_value__timestamp,
           arg_max(v.value, v.ts) FILTER (WHERE v.event_type = 'view') AS view_value,
           max(v.ts)              FILTER (WHERE v.event_type = 'view') AS view_value__timestamp
    FROM spine s
    LEFT JOIN events v
      ON v.user_id = s.user_id AND v.ts <= s.ts
         AND v.event_type IN ('click', 'view')
    GROUP BY s.event_id, s.user_id
    """,
)
def pit_multi_feature_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-16+OP-12 fused (point_in_time_pivot): ALL features resolved in
    ONE join + ONE aggregate — per purchase, the user's latest click AND
    view values as of the purchase's own timestamp, however many features;
    the reference loops features×spine×values."""
    ev = load_table(spark, sf_dir, "events")
    spine = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    vals = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_type").alias("feature_name"),
        F.col("value").alias("value_double"),
        F.col("ts").alias("event_timestamp"),
    )
    out = point_in_time_pivot(
        spine,
        vals,
        on="user_id",
        spine_ts="ts",
        value_ts="event_timestamp",
        name_col="feature_name",
        slot_for={"click": "value_double", "view": "value_double"},
        spine_keys=["event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("click").alias("click_value"),
        F.col("click__timestamp").alias("click_value__timestamp"),
        F.col("view").alias("view_value"),
        F.col("view__timestamp").alias("view_value__timestamp"),
    )


# ---------------------------------------------------------------------------
# TPC-H sweep (adapted to the driver's slim schemas — no partsupp table, no
# l_commitdate/l_receiptdate/l_shipmode, no c_phone/p_container columns; each
# query keeps its canonical TPC-H *shape*).  All OP-19/21 surface.
# ---------------------------------------------------------------------------


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join with a non-equi condition
    (adapted: ships-after-order stands in for the missing commit/receipt
    dates).  The semi join never widens rows, so the agg input stays the
    orders cardinality."""
    ords = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        ords.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q6_revenue_forecast",
    f"""
    SELECT {_DSUM_SQL.format(expr='l_extendedprice*l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan→filter→agg; every predicate pushes to the
    parquet scan (PushedFilters), no shuffle at all — partial sums merge in
    a single-row final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


@query(
    "q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           {_DSUM_SQL.format(expr='volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: nation-pair trade volume by year.  Both nation dims
    broadcast twice under different aliases; the disjunctive pair filter
    applies post-join but prunes to 2×2 nation combinations before the
    agg."""
    t = {n: load_table(spark, sf_dir, n) for n in ("supplier", "lineitem", "orders", "customer", "nation")}
    n1 = t["nation"].select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    return (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") <= F.lit("1997-12-31 00:00:00").cast("timestamp_ntz"))
        )
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@query(
    "q8_market_share",
    f"""
    SELECT o_year,
           {_DSUM_SQL.format(expr="CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END")}
             / {_DSUM_SQL.format(expr='volume')} AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                            AND TIMESTAMP '1997-12-31 00:00:00'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of AMERICA-region ECONOMY-part revenue
    per order year.  Share = conditional decimal-sum / total decimal-sum —
    one agg computes both numerator and denominator (no second scan)."""
    t = {n: load_table(spark, sf_dir, n) for n in ("part", "lineitem", "supplier", "orders", "customer", "nation", "region")}
    n1 = t["nation"].select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    num = F.sum(
        F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0.0)).cast("decimal(25,6)")
    ).cast("double")
    den = F.sum(vol.cast("decimal(25,6)")).cast("double")
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"].where(F.col("p_type") == "ECONOMY")), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            t["orders"].where(
                (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
                & (F.col("o_orderdate") <= F.lit("1997-12-31 00:00:00").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(t["region"].where(F.col("r_name") == "AMERICA")), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg((num / den).alias("mkt_share"))
    )


@query(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           {_DSUM_SQL.format(expr='l_extendedprice*(1-l_discount)')} AS revenue,
           c_acctbal, n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue in a quarter.
    orderBy+limit compiles to TakeOrderedAndProject (no global sort
    materialization); c_custkey tiebreak keeps the cut deterministic."""
    t = {n: load_table(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "nation")}
    return (
        t["lineitem"]
        .where(F.col("l_returnflag") == "R")
        .join(
            t["orders"].where(
                (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with an ON-clause filter (customers with
    zero qualifying orders must survive with c_count=0), then a
    distribution-of-counts re-aggregation (adapted: priority filter stands
    in for the missing o_comment)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ords = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    return (
        cust.join(
            ords,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@query(
    "q14_promo_revenue",
    f"""
    SELECT 100.0 * (
        {_DSUM_SQL.format(expr="CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0 END")}
        / {_DSUM_SQL.format(expr='l_extendedprice*(1-l_discount)')}
    ) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo share of one month's revenue.  Parenthesization is
    part of the contract — 100.0 * (num/den) on both sides keeps the float
    bit-identical (the default SQL parse (100*num)/den rounds differently)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    num = F.sum(
        F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)).cast("decimal(25,6)")
    ).cast("double")
    den = F.sum(vol.cast("decimal(25,6)")).cast("double")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg((F.lit(100.0) * (num / den)).alias("promo_revenue"))
    )


@query(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {_DSUM_SQL.format(expr='l_extendedprice*(1-l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) achieving the max quarterly revenue.  The
    scalar-max subquery becomes a broadcast single-row join; equality on
    the decimal-accumulated double is exact, so ties surface identically
    on both engines."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__max_rev"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("__max_rev"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average-quantity threshold
    (adapted: brand-only filter, no p_container in this data).  The
    correlated subquery decorrelates into one grouped agg + equi-join; the
    threshold is a decimal-accumulated mean so both engines cut the same
    rows."""
    li = load_table(spark, sf_dir, "lineitem")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.2)
            * (F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double") / F.count("*"))
        ).alias("qty_threshold")
    )
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresholds, F.col("t_partkey") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(25,6)")).cast("double") / F.lit(7.0)).alias("avg_yearly")
        )
    )


@query(
    "q19_disjunctive_predicates",
    f"""
    SELECT {_DSUM_SQL.format(expr='l_extendedprice*(1-l_discount)')} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    ranges across the join (adapted: no p_container/l_shipmode columns).
    Catalyst extracts the common p_partkey equi-condition so the join
    stays hash-based; the OR-of-ANDs evaluates post-join in codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & sz.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN(l_extendedprice / l_quantity) AS ps_supplycost
      FROM lineitem GROUP BY 1, 2
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
    FROM part, ps, supplier, nation, region
    WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      AND p_type = 'SMALL' AND p_size <= 10
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost)
                           FROM ps ps2, supplier s2, nation n2, region r2
                           WHERE ps2.ps_partkey = p_partkey
                             AND s2.s_suppkey = ps2.ps_suppkey
                             AND s2.s_nationkey = n2.n_nationkey
                             AND n2.n_regionkey = r2.r_regionkey
                             AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part within a region
    (adapted: no partsupp table, so supply cost := the minimum observed
    unit price `l_extendedprice / l_quantity` per (part, supplier) from
    lineitem).  The correlated min subquery decorrelates into a window
    min over the region-filtered pair table; MIN over doubles is
    order-independent, and the IEEE division is bit-identical on both
    engines, so the equality keeps exactly the oracle's rows.  Scale: the
    pair agg partial-aggregates map-side; the part/supplier prunes are
    broadcast semi-filters applied BEFORE the window shuffle."""
    t = {n: load_table(spark, sf_dir, n) for n in ("part", "supplier", "nation", "region", "lineitem")}
    part = t["part"].where((F.col("p_type") == "SMALL") & (F.col("p_size") <= 10)).select(
        "p_partkey", "p_name"
    )
    eur = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name", "n_regionkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = t["lineitem"].groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"))
    w = Window.partitionBy("ps_partkey")
    return (
        ps.join(F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey"))
        .join(F.broadcast(eur), F.col("s_suppkey") == F.col("ps_suppkey"))
        .withColumn("__min_cost", F.min("ps_supplycost").over(w))
        .where(F.col("ps_supplycost") == F.col("__min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "ps_supplycost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q9_product_type_profit",
    f"""
    SELECT nation, o_year, {_DSUM_SQL.format(expr='amount')} AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - p_retailprice * l_quantity * 0.1 AS amount
      FROM part JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product line by supplier nation and
    order year (adapted: no partsupp, so cost := `p_retailprice *
    l_quantity * 0.1`).  part/supplier/nation broadcast; the only
    shuffles are the lineitem⋈orders join and the final low-cardinality
    agg — the 100 TB plan is scan-dominated."""
    t = {n: load_table(spark, sf_dir, n) for n in ("part", "supplier", "orders", "nation", "lineitem")}
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.1)
    return (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].where(F.col("p_name").like("%red%"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(_dsum("amount", "sum_profit"))
    )


@query(
    "q11_important_stock",
    f"""
    WITH sv AS (
      SELECT l_partkey AS ps_partkey,
             {_DSUM_SQL.format(expr='l_extendedprice * l_quantity')} AS value
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
      GROUP BY l_partkey
    )
    SELECT ps_partkey, value FROM sv
    WHERE value > (SELECT 1.5 * ({_DSUM_SQL.format(expr='value')} / COUNT(*)) FROM sv)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts representing a significant share of one
    region's stock value (adapted: value := sum of `l_extendedprice *
    l_quantity` shipped by the region's suppliers, no partsupp; the cut
    is relative — above 1.5× the mean part value — so it is scale-free
    across SFs).  The scalar global-mean subquery becomes a broadcast
    single-row nested-loop join; the per-part table is persisted (via
    the module-standard PlanCache, so repeat calls reuse it and a new
    corpus releases the predecessor — no per-call cache leak) so the two
    consumers (mean + filter) share one computation."""
    t = {n: load_table(spark, sf_dir, n) for n in ("supplier", "nation", "region", "lineitem")}
    sup = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_regionkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    # version token covers EVERY table the cached plan reads (sameResult
    # holds across file growth, so each input needs its own signal — a
    # grown supplier/nation/region would otherwise serve stale rows)
    sv = _Q11_SV_CACHE.get_or_persist(
        t["lineitem"]
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_quantity"), "value")),
        version=tuple(data_version(t[n]) for n in ("lineitem", "supplier", "nation", "region")),
    )
    total = sv.agg(
        (
            F.lit(1.5)
            * (F.sum(F.col("value").cast("decimal(25,6)")).cast("double") / F.count("*"))
        ).alias("__threshold")
    )
    return sv.join(F.broadcast(total), F.col("value") > F.col("__threshold")).select(
        "ps_partkey", "value"
    )


@query(
    "q12_late_lines_priority",
    """
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q12_late_lines_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix of late-shipped lines (adapted: no
    l_shipmode/commitdate/receiptdate — "late" := shipped >90 days after
    the order date, classified by l_returnflag).  The ship-window
    predicate pushes to the lineitem scan; the row-vs-row lateness
    predicate evaluates post-join in codegen; integer conditional counts
    need no decimal accumulation."""
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(ords, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#4' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per excluded-brand part
    class (adapted: supplier relation from lineitem instead of partsupp;
    the NOT-IN complaint subquery := suppliers with negative balance).
    NOT IN over a non-null key compiles to a broadcast anti-join; the
    count-distinct expands (brand, type, size, suppkey) then re-aggs —
    two shuffles total."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_potential_promotion",
    f"""
    WITH q AS (
      SELECT l_suppkey, {_DSUM_SQL.format(expr='l_quantity')} AS qty
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE 'small%')
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM q
      WHERE qty > (SELECT 1.2 * ({_DSUM_SQL.format(expr='qty')} / COUNT(*)) FROM q))
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved an outsized volume of a part
    line in a year (adapted: availability from lineitem shipments; the
    cut is relative — above 1.2× the mean per-supplier quantity — so it
    is scale-free across SFs).  The nested INs become broadcast
    left-semi joins; the qualifying table is persisted (PlanCache — see
    q11) for its two consumers (mean + cut); decimal-sums keep the
    qualifying set exact."""
    t = {n: load_table(spark, sf_dir, n) for n in ("supplier", "part", "lineitem")}
    small = t["part"].where(F.col("p_name").like("small%")).select("p_partkey")
    q = _Q20_QTY_CACHE.get_or_persist(
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .join(F.broadcast(small), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(_dsum("l_quantity", "__qty")),
        # both inputs of the cached plan (see q11's version-token note)
        version=(data_version(t["lineitem"]), data_version(t["part"])),
    )
    mean = q.agg(
        (
            F.lit(1.2)
            * (F.sum(F.col("__qty").cast("decimal(25,6)")).cast("double") / F.count("*"))
        ).alias("__threshold")
    )
    qual = q.join(F.broadcast(mean), F.col("__qty") > F.col("__threshold")).select("l_suppkey")
    return (
        t["supplier"]
        .join(F.broadcast(qual), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


@query(
    "q21_suppliers_kept_waiting",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F' AND r_name = 'EUROPE'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the sole final shipper on
    overdue multi-supplier orders (adapted: no receipt/commit dates —
    "waiting" := shipped >60 days after the order date, and "last" by
    l_shipdate; region-scoped so the result is populated at every SF).
    EXISTS → left-semi, NOT EXISTS → left-anti, both with non-equi
    conjuncts; the two self-joins and the l1 build all hash-partition
    on l_orderkey, so the exchange is reused, and the per-key loop is
    bounded by lines-per-order (~13), which holds at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    t = {n: load_table(spark, sf_dir, n) for n in ("supplier", "orders", "nation", "region")}
    sup = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_regionkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name")
    )
    l1 = (
        li.join(
            t["orders"].where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
    )
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = li.select(
        F.col("l_orderkey").alias("o3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    return (
        l1.join(l2, (F.col("o2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")), "left_semi")
        .join(
            l3,
            (F.col("o3") == F.col("l_orderkey"))
            & (F.col("s3") != F.col("l_suppkey"))
            & (F.col("d3") > F.col("l_shipdate")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@query(
    "q22_global_sales_opportunity",
    f"""
    SELECT cntrycode, COUNT(*) AS numcust,
           {_DSUM_SQL.format(expr='c_acctbal')} AS totacctbal
    FROM (
      SELECT substr(c_name, -1, 1) AS cntrycode, c_acctbal, c_custkey
      FROM customer
      WHERE substr(c_name, -1, 1) IN ('1', '3', '5', '7', '9')
        AND c_acctbal > (SELECT {_DSUM_SQL.format(expr='c_acctbal')} / COUNT(*)
                         FROM customer WHERE c_acctbal > 0.00)
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    ) custsale
    GROUP BY cntrycode
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, grouped by "country code" (adapted: no c_phone column — the
    code := last digit of c_name; "no orders" is vacuous here since
    every customer ordered, so the anti-join excludes customers with
    orders SINCE 2000).  The scalar average broadcasts as a single-row
    join; the average itself is decimal-accumulated so the cut is
    bit-identical."""
    cust = load_table(spark, sf_dir, "customer")
    code = F.substring(F.col("c_name"), -1, 1)
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(25,6)")).cast("double") / F.count("*")).alias(
            "__avg_bal"
        )
    )
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    ).select("o_custkey")
    return (
        cust.withColumn("cntrycode", code)
        .where(F.col("cntrycode").isin("1", "3", "5", "7", "9"))
        .join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("__avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(F.count("*").alias("numcust"), _dsum("c_acctbal", "totacctbal"))
    )


@query(
    "train_test_split_report",
    f"""
    SELECT {sampling.split_label_sql('doc_id', _SPLIT_WEIGHTS)} AS split,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY 1
    """,
)
def train_test_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Deterministic train/val/test split (operators.sampling.hash_split):
    membership := salted-md5 prefix vs hex thresholds, a pure projection —
    no RNG state, no shuffle before the report agg, and a row can never
    change split under repartitioning or cluster resize.  Lowercase-hex
    string order equals numeric order, so the same CASE runs on both
    engines byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        sampling.hash_split(docs, "doc_id", _SPLIT_WEIGHTS)
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


@query(
    "stratified_sample_docs",
    """
    SELECT doc_id, lang, source FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY lang
      ORDER BY substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
    ) <= 20
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Deterministic stratified sample (operators.sampling
    .stratified_sample): exactly ≤20 docs per language, ordered by the md5
    permutation with the raw key as tie-break — one shuffle on the strata
    key, O(k) per-stratum state, reproducible across runs and engines."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_sample(docs, ["lang"], "doc_id", 20).select(
        "doc_id", "lang", "source"
    )


@query(
    "corpus_curation_pipeline",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, source, text,
             len({_TOKENS_SQL}) AS n_tokens,
             len(regexp_extract_all(text, '[^0-9a-zA-Z_\\s]'))
               / greatest(length(text), 1) AS punct_ratio,
             len(regexp_extract_all(text, '[0-9]'))
               / greatest(length(text), 1) AS digit_ratio
      FROM documents
    ),
    kept AS (
      SELECT * FROM scored
      WHERE n_tokens >= 5 AND punct_ratio <= 0.10 AND digit_ratio <= 0.20
    ),
    deduped AS (
      SELECT * FROM kept
      QUALIFY row_number() OVER (PARTITION BY md5({_NORM_SQL}) ORDER BY doc_id) = 1
    )
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM deduped GROUP BY lang, source
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ End-to-end training-data curation (OP-48+OP-51 composed): quality
    gates (min length, punctuation/digit ratio caps) → exact dedup on the
    normalized-text fingerprint (deterministic keeper = min doc_id) →
    per-(lang, source) survivor report.  The single-pipeline shape a
    100 TB pre-training corpus pass runs: all gates evaluate in one scan
    projection, the dedup is one partial-aggregatable shuffle on the
    fingerprint, the report re-aggregates on low-cardinality keys."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        text.token_count(c).alias("n_tokens"),
        text.punct_ratio(c).alias("punct_ratio"),
        text.digit_ratio(c).alias("digit_ratio"),
    )
    kept = scored.where(
        (F.col("n_tokens") >= 5)
        & (F.col("punct_ratio") <= 0.10)
        & (F.col("digit_ratio") <= 0.20)
    ).withColumn("__fp", F.md5(dedup.normalize_text("text")))
    deduped = dedup.exact_dedup_keep_min(kept, ["__fp"], "doc_id")
    return deduped.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("sum_tokens")
    )


@query(
    "simhash_near_pairs",
    f"""
    WITH sigs AS ({_simhash_oracle()})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-49 (SimHash pair variant): near-dup pairs with Hamming ≤ 2 via
    pigeonhole chunk banding (operators.dedup.simhash_pairs) — exact by the
    pigeonhole principle (3 disjoint chunks, ≤2 differing bits → ≥1 clean
    chunk), so it matches the oracle's O(n²) XOR-popcount scan while the
    engine only scores candidates sharing a chunk.  32-bit portable md5
    signatures here ONLY because the oracle must reproduce them; the
    production default is 64-bit xxhash64 with ≥16-bit chunks
    (sub-quadratic candidates — see operators.dedup.simhash_candidates)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(
        docs, "doc_id", "text", bits=32, max_hamming=2, portable=True
    )


@query(
    "dedup_cluster_survivors",
    f"""
    WITH RECURSIVE
    pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
      FROM reach GROUP BY src
    ),
    labeled AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS cluster_size,
           doc_id = component AS is_keeper
    FROM labeled
    """,
)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-49 completed to cluster level: MinHash-LSH candidate pairs →
    connected components (iterative min-label propagation with pointer
    jumping, operators.dedup.connected_components) → one deterministic
    keeper (min doc_id) per transitive cluster, singletons keep themselves.
    This is the verdict a production dedup pipeline actually needs — A~B,
    B~C collapses all three docs even when A~C never surfaced as a pair.
    The oracle computes the same fixpoint as a recursive transitive
    closure."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, portable=True
    )
    return dedup.cluster_survivors(docs, pairs, "doc_id")


@query(
    "text_repetition_signals",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    base AS (
      SELECT doc_id, len(t) AS n_tokens,
             len(list_distinct(t)) AS n_distinct_tokens
      FROM toks
    ),
    bi AS (
      SELECT doc_id, concat_ws(' ', t[i], t[i+1]) AS shingle
      FROM toks, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - 1, 1) + 1)) AS i)
    ),
    counts AS (SELECT doc_id, shingle, COUNT(*) AS cnt FROM bi GROUP BY doc_id, shingle),
    tops AS (
      SELECT doc_id, shingle, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS total_bigrams,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, shingle DESC) AS rn
      FROM counts
    )
    SELECT b.doc_id, b.n_tokens, b.n_distinct_tokens,
           (b.n_tokens - b.n_distinct_tokens) / b.n_tokens AS dup_token_frac,
           t.shingle AS top_bigram, t.cnt AS top_bigram_count,
           t.cnt / t.total_bigrams AS top_bigram_frac,
           ((b.n_tokens - b.n_distinct_tokens) / b.n_tokens > 0.7)
             OR (b.n_tokens >= 4 AND t.cnt / t.total_bigrams > 0.18) AS is_repetitive
    FROM base b JOIN tops t ON b.doc_id = t.doc_id AND t.rn = 1
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-51 (repetition filters): Gopher-style per-document repetition
    signals — repeated-token fraction and the share of the most frequent
    word bigram (count ties broken by the lexicographically greatest
    bigram on both sides).  Entirely in-row array expressions: the bigram
    mode is a sorted-array run-length scan (``aggregate``) over tokens
    projected once per document, so the plan shuffles nothing — nothing
    explodes, nothing joins."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_features(docs, "doc_id", "text")


@query(
    "feature_scaling_outliers",
    f"""
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
             {_DSUM_SQL.format(expr='value')} AS sv,
             {_DSUM_SQL.format(expr='value * value')} AS svv
      FROM events GROUP BY event_type
    ),
    st AS (
      SELECT event_type, n, sv / n AS mean_value,
             sqrt(greatest(svv / n - (sv / n) * (sv / n), 0.0)) AS std_value
      FROM s
    )
    SELECT st.event_type, st.n, st.mean_value, st.std_value,
           MIN(e.value) AS min_value, MAX(e.value) AS max_value,
           CAST(SUM(CASE WHEN abs(e.value - st.mean_value) > 2.5 * st.std_value
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN st ON e.event_type = st.event_type
    GROUP BY st.event_type, st.n, st.mean_value, st.std_value
    """,
)
def feature_scaling_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Feature-normalization statistics (training-pipeline staple): per
    feature (event_type) the z-score scaling parameters — exact
    decimal-accumulated mean/std so results are partitioning-independent —
    plus min/max and the |z| > 2.5 outlier count, computed by broadcasting
    the tiny stats table back over the fact scan (two passes, one
    broadcast join, no wide shuffle)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    v = F.col("value")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        _dsum(v, "sv"),
        _dsum(v * v, "svv"),
    )
    mean = F.col("sv") / F.col("n")
    st = s.select(
        "event_type",
        "n",
        mean.alias("mean_value"),
        F.sqrt(
            F.greatest(F.col("svv") / F.col("n") - mean * mean, F.lit(0.0))
        ).alias("std_value"),
    )
    return (
        ev.join(F.broadcast(st), "event_type")
        .groupBy("event_type", "n", "mean_value", "std_value")
        .agg(
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum(
                F.when(
                    F.abs(v - F.col("mean_value")) > 2.5 * F.col("std_value"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIRS = [
    (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]
]


def _corr_oracle() -> str:
    # Moments accumulate in plain double: correlation is scale-free
    # (|corr| <= 1) and the final value is rounded to 6 decimals, which
    # absorbs the ~1e-12 cross-engine summation-order noise.  Measured 6×
    # faster than decimal(25,6) accumulation at sf0.1, with identical
    # rounded output.
    sums = ["COUNT(*) AS n"]
    for c in _CORR_COLS:
        sums.append(f"SUM(CAST({c} AS DOUBLE)) AS s_{c}")
        sums.append(f"SUM(CAST({c} AS DOUBLE) * {c}) AS ss_{c}")
    for a, b in _CORR_PAIRS:
        sums.append(f"SUM(CAST({a} AS DOUBLE) * {b}) AS sp_{a}_{b}")
    rows = []
    for a, b in _CORR_PAIRS:
        corr = (
            f"(n * sp_{a}_{b} - s_{a} * s_{b}) / "
            f"(sqrt(n * ss_{a} - s_{a} * s_{a}) * sqrt(n * ss_{b} - s_{b} * s_{b}))"
        )
        rows.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
            f"ROUND({corr}, 6) AS pearson_corr FROM s"
        )
    return "WITH s AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n" + "\nUNION ALL ".join(rows)


@query("feature_correlation_matrix", _corr_oracle())
def feature_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Feature-redundancy analysis: pairwise Pearson correlations over
    the lineitem metric columns in ONE scan — all moments (sum,
    sum-of-squares, cross-products) in a single partial-aggregatable pass,
    O(k²) state for k features; the 6 pair rows are a driver-side-free
    explode of the single moment row.  Moments accumulate in double (6×
    faster than decimal — codegen-vectorized); the final correlation is
    scale-free, so rounding it to 6 decimals makes the output independent
    of partitioning/summation order (verified identical to the exact
    decimal path at sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(F.col(c).cast("double")).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c).cast("double") * F.col(c)).alias(f"ss_{c}"))
    for a, b in _CORR_PAIRS:
        aggs.append(F.sum(F.col(a).cast("double") * F.col(b)).alias(f"sp_{a}_{b}"))
    s = li.agg(*aggs)
    n = F.col("n")
    entries = []
    for a, b in _CORR_PAIRS:
        corr = (n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")) / (
            F.sqrt(n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
            * F.sqrt(n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        )
        entries.append(
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.round(corr, 6).alias("pearson_corr"),
            )
        )
    return (
        s.select(F.explode(F.array(*entries)).alias("e"))
        .select("e.col_x", "e.col_y", "e.pearson_corr")
    )


_BUCKET_SQL = (
    "CASE WHEN s.vmax = s.vmin THEN 0 ELSE "
    "LEAST(GREATEST(CAST(FLOOR(((e.value - s.vmin) / (s.vmax - s.vmin)) * 10) "
    "AS INT), 0), 9) END"
)


@query(
    "feature_entropy_stats",
    f"""
    WITH s AS (SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
               FROM events GROUP BY event_type),
    b AS (
      SELECT e.event_type, {_BUCKET_SQL} AS bucket
      FROM events e JOIN s ON e.event_type = s.event_type
    ),
    c AS (SELECT event_type, bucket, COUNT(*) AS cnt FROM b GROUP BY event_type, bucket)
    SELECT event_type,
           ROUND(LN(CAST(SUM(cnt) AS DOUBLE))
                 - SUM(cnt * LN(CAST(cnt AS DOUBLE))) / CAST(SUM(cnt) AS DOUBLE),
                 6) AS entropy_nats,
           COUNT(*) AS n_buckets
    FROM c GROUP BY event_type
    """,
)
def feature_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Distribution monitoring (operators.drift.entropy): Shannon entropy
    of each feature's 10-bin value histogram — the collapsed-distribution
    alarm.  Two partial-aggregatable shuffles and ONE fact scan — the
    ``ln N − Σ c·ln c / N`` identity folds the per-key total into the same
    aggregation instead of a join-back; metrics round to 6 decimals
    (natural logs are not IEEE-correctly-rounded across engines)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return drift.entropy(ev, ["event_type"], "value", nbins=10)


@query(
    "feature_drift_psi",
    f"""
    WITH s AS (SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
               FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
               GROUP BY event_type),
    be AS (
      SELECT e.event_type, {_BUCKET_SQL} AS bucket
      FROM events e JOIN s ON e.event_type = s.event_type
      WHERE e.ts < TIMESTAMP '2024-01-15 00:00:00'
    ),
    ba AS (
      SELECT e.event_type, {_BUCKET_SQL} AS bucket
      FROM events e JOIN s ON e.event_type = s.event_type
      WHERE e.ts >= TIMESTAMP '2024-01-15 00:00:00'
    ),
    ce AS (SELECT event_type, bucket, COUNT(*) AS cnt_e FROM be GROUP BY event_type, bucket),
    ca AS (SELECT event_type, bucket, COUNT(*) AS cnt_a FROM ba GROUP BY event_type, bucket),
    grid AS (
      SELECT s.event_type, r.i AS bucket,
             COALESCE(ce.cnt_e, 0) AS cnt_e, COALESCE(ca.cnt_a, 0) AS cnt_a
      FROM s CROSS JOIN (SELECT UNNEST(range(0, 10)) AS i) r
      LEFT JOIN ce ON ce.event_type = s.event_type AND ce.bucket = r.i
      LEFT JOIN ca ON ca.event_type = s.event_type AND ca.bucket = r.i
    ),
    t AS (SELECT event_type, CAST(SUM(cnt_e) AS BIGINT) AS tot_e,
                 CAST(SUM(cnt_a) AS BIGINT) AS tot_a
          FROM grid GROUP BY event_type)
    SELECT g.event_type,
           ROUND(SUM(((g.cnt_e + 0.5) / (t.tot_e + 5.0) - (g.cnt_a + 0.5) / (t.tot_a + 5.0))
                 * LN(((g.cnt_e + 0.5) / (t.tot_e + 5.0)) / ((g.cnt_a + 0.5) / (t.tot_a + 5.0)))), 6) AS psi,
           MAX(t.tot_e) AS n_expected, MAX(t.tot_a) AS n_actual
    FROM grid g JOIN t ON g.event_type = t.event_type
    GROUP BY g.event_type
    """,
)
def feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Drift detection (operators.drift.psi): Population Stability Index
    per feature between the first and second half of January — bin edges
    from the expected window, Laplace-smoothed bucket shares, the
    0.1/0.25 rule-of-thumb thresholds documented on the operator.  The
    engine extension of the reference's freshness-only monitoring
    (feature_server.py:585-594): value-distribution movement, not just
    age."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    expected = ev.where(F.col("ts") < cutoff).select("event_type", "value")
    actual = ev.where(F.col("ts") >= cutoff).select("event_type", "value")
    return drift.psi(expected, actual, ["event_type"], "value", nbins=10)


@query(
    "feature_label_mutual_info",
    f"""
    WITH s AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events),
    b AS (
      SELECT e.event_type, {_BUCKET_SQL} AS bucket
      FROM events e CROSS JOIN s
    ),
    j AS (SELECT event_type, bucket, COUNT(*) AS c_xy FROM b GROUP BY event_type, bucket),
    cx AS (SELECT event_type, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM j GROUP BY event_type),
    cy AS (SELECT bucket, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM j GROUP BY bucket),
    t AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n FROM j)
    SELECT ROUND(SUM((c_xy / n) * LN((c_xy / n) / ((c_x / n) * (c_y / n)))), 6)
             AS mutual_info_nats,
           MAX(n) AS n_rows, COUNT(*) AS n_cells
    FROM j JOIN cx USING (event_type) JOIN cy USING (bucket) CROSS JOIN t
    """,
)
def feature_label_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Feature-selection signal (operators.drift.mutual_information): MI
    between the event-type label and the 10-bin bucketed value — one joint
    count over the fact scan; marginals/total derive from the tiny joint
    table and broadcast back."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    b = drift.bucketize(ev, "value", nbins=10)
    return drift.mutual_information(b, "event_type", "bucket")


@query(
    "unpivot_lineitem_metrics",
    f"""
    WITH long AS (
      SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT metric, COUNT(*) AS n, {_DSUM_SQL.format(expr='value')} AS total
    FROM long GROUP BY metric
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (the inverse of OP-12's pivot — what feature
    ingest does to a wide source table before the EAV store): native
    ``DataFrame.unpivot`` over the lineitem metric columns, then a
    per-metric rollup.  Unpivot is a zero-shuffle projection (each input
    row expands in place); only the rollup exchanges.  The melt∘pivot
    round-trip identity is property-tested."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        [], ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], "metric", "value"
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("n"), _dsum("value", "total")
    )


@query(
    "eav_validity_intervals",
    """
    SELECT user_id, event_type, value, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id) AS valid_to
    FROM events
    """,
)
def eav_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-15 materialized as SCD2: the append-only EAV log intervalized
    into ``[valid_from, valid_to)`` version windows (operators.pit.
    intervalize) — one window shuffle at build time, after which every
    as-of read is a single containment join (see pit_interval_join).
    Same-timestamp ties get empty intervals, encoding the engine's
    deterministic tie-breaking structurally."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    iv = pit.intervalize(ev, ["user_id", "event_type"], "ts", tiebreak=["event_id"])
    return iv.select("user_id", "event_type", "value", "valid_from", "valid_to")


@query("pit_interval_join", _PIT_JOIN_SQL)
def pit_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-16, second physical strategy: the SAME leak-free training join as
    pit_training_join (identical oracle), but answered from the
    intervalized value table — one containment equi-join, no argmax
    aggregate at read time.  The strategy to pick when many spines read
    the same features: the window shuffle is paid once at materialization,
    then each query is one shuffle instead of two."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("value").alias("click_value"), "ts", "event_id"
    )
    iv = pit.intervalize(clicks, ["user_id"], "ts", tiebreak=["event_id"]).select(
        "user_id", "click_value", "valid_from", "valid_to"
    )
    spine = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return pit.point_in_time_interval_join(spine, iv, "user_id", "ts", ["click_value"])


@query(
    "pit_interpolated_lookup",
    """
    WITH iv AS (
      SELECT user_id, value, ts,
             LEAD(ts) OVER w AS next_ts, LEAD(value) OVER w AS next_value
      FROM events WHERE event_type = 'click'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    spine AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT s.event_id, s.user_id, s.ts,
           iv.value AS prev_value, iv.ts AS prev_ts,
           iv.next_value, iv.next_ts,
           CASE WHEN iv.next_value IS NULL THEN iv.value
                ELSE iv.value + (iv.next_value - iv.value) *
                     ((epoch_us(CAST(s.ts AS TIMESTAMP)) - epoch_us(CAST(iv.ts AS TIMESTAMP)))
                      / (epoch_us(CAST(iv.next_ts AS TIMESTAMP)) - epoch_us(CAST(iv.ts AS TIMESTAMP))))
           END AS interp_value
    FROM spine s LEFT JOIN iv
      ON s.user_id = iv.user_id AND iv.ts <= s.ts
         AND (iv.next_ts IS NULL OR s.ts < iv.next_ts)
    """,
)
def pit_interpolated_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-15 time-series variant: as-of read with linear interpolation
    between the bracketing observations (operators.pit.interpolated_asof)
    — the sampled-vitals/labs read a healthcare store serves.  Hold-last
    after the final observation, NULL before the first.  One containment
    join against the intervalized table supplies prev AND next in a single
    probe."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "value", "ts", "event_id"
    )
    spine = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return pit.interpolated_asof(
        spine, clicks, "user_id", "ts", "ts", "value", tiebreak=["event_id"]
    )


# ---------------------------------------------------------------------------
# PHI content governance (operators.privacy) — the content-level half of the
# reference's PHI story: phi_level/ACL gate access (feature_registry.py:469),
# retention_days=2555 bounds storage (feature_registry.py:136), but nothing
# in the reference inspects VALUES for identifiers.  These queries do.
# The note text is constructed deterministically from integer columns only
# (no float formatting) so both engines build byte-identical input.
# ---------------------------------------------------------------------------

_NOTE_SQL = """
         'Patient ' || c_name || ' SSN 900-' ||
         lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-' ||
         lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
         ' phone 555-' || lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0') ||
         ' email c' || CAST(c_custkey AS VARCHAR) || '@example.org' ||
         ' seen 2024/' || lpad(CAST((c_custkey % 12) + 1 AS VARCHAR), 2, '0') ||
         '/' || lpad(CAST((c_custkey % 28) + 1 AS VARCHAR), 2, '0') ||
         ' segment ' || c_mktsegment
"""

#: progressive scrub CTE chain shared by both PHI queries — counts are taken
#: against the progressively masked text exactly like privacy.phi_hit_counts.
_PHI_SCRUB_SQL = f"""
    WITH notes AS (
      SELECT c_custkey, c_mktsegment, {_NOTE_SQL} AS note FROM customer
    ), s0 AS (
      SELECT c_custkey, c_mktsegment,
             len(regexp_extract_all(note, '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}')) AS n_ssn,
             regexp_replace(note, '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}', '[SSN]', 'g') AS t0
      FROM notes
    ), s1 AS (
      SELECT *, len(regexp_extract_all(t0, '[0-9]{{3}}-[0-9]{{4}}')) AS n_phone,
             regexp_replace(t0, '[0-9]{{3}}-[0-9]{{4}}', '[PHONE]', 'g') AS t1 FROM s0
    ), s2 AS (
      SELECT *, len(regexp_extract_all(t1, '[0-9]{{9}}')) AS n_mrn,
             regexp_replace(t1, '[0-9]{{9}}', '[MRN]', 'g') AS t2 FROM s1
    ), s3 AS (
      SELECT *, len(regexp_extract_all(t2,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS n_email,
             regexp_replace(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+',
               '[EMAIL]', 'g') AS t3 FROM s2
    ), scrubbed AS (
      SELECT *, len(regexp_extract_all(t3, '[0-9]{{4}}/[0-9]{{2}}/[0-9]{{2}}')) AS n_date,
             regexp_replace(t3, '[0-9]{{4}}/[0-9]{{2}}/[0-9]{{2}}', '[DATE]', 'g') AS note
      FROM s3
    )
"""


def _patient_notes(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("c_custkey")
    note = F.concat(
        F.lit("Patient "), F.col("c_name"),
        F.lit(" SSN 900-"), F.lpad((k % 100).cast("string"), 2, "0"),
        F.lit("-"), F.lpad((k % 10000).cast("string"), 4, "0"),
        F.lit(" phone 555-"), F.lpad(((k * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" email c"), k.cast("string"), F.lit("@example.org"),
        F.lit(" seen 2024/"), F.lpad(((k % 12) + 1).cast("string"), 2, "0"),
        F.lit("/"), F.lpad(((k % 28) + 1).cast("string"), 2, "0"),
        F.lit(" segment "), F.col("c_mktsegment"),
    )
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", note.alias("note")
    )


@query(
    "phi_scrub_notes",
    _PHI_SCRUB_SQL
    + """
    SELECT c_custkey, note, n_ssn, n_phone, n_mrn, n_email, n_date,
           n_ssn + n_phone + n_mrn + n_email + n_date AS phi_total
    FROM scrubbed
    """,
)
def phi_scrub_notes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHI masking (operators.privacy.scrub_documents): detect and mask
    SSN/phone/MRN/email/date identifiers in note text.  Counts are taken
    against the progressively masked text so no span is double-counted.
    Pure regexp column expressions — codegen'd single scan, the shape a
    100 TB de-identification pass needs."""
    from feature_store_healthcare_spark.operators import privacy

    notes = _patient_notes(spark, sf_dir)
    return privacy.scrub_documents(notes, "note").select(
        "c_custkey", "note", "n_ssn", "n_phone", "n_mrn", "n_email", "n_date",
        "phi_total",
    )


@query(
    "phi_detection_stats",
    _PHI_SCRUB_SQL
    + """
    SELECT c_mktsegment,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_ssn + n_phone + n_mrn + n_email + n_date > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phi,
           CAST(SUM(n_ssn) AS BIGINT) AS ssn_hits,
           CAST(SUM(n_phone) AS BIGINT) AS phone_hits,
           CAST(SUM(n_mrn) AS BIGINT) AS mrn_hits,
           CAST(SUM(n_email) AS BIGINT) AS email_hits,
           CAST(SUM(n_date) AS BIGINT) AS date_hits
    FROM scrubbed
    GROUP BY c_mktsegment
    """,
)
def phi_detection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHI audit rollup: per market segment (stand-in for a PHI-exposure
    reporting dimension), how many documents carry each identifier class.
    Partial-aggregatable sums over the scrub projection — one shuffle on a
    low-cardinality key."""
    from feature_store_healthcare_spark.operators import privacy

    notes = _patient_notes(spark, sf_dir)
    scrubbed = privacy.scrub_documents(notes, "note")
    return scrubbed.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("phi_total") > 0).cast("long")).alias("docs_with_phi"),
        F.sum("n_ssn").cast("long").alias("ssn_hits"),
        F.sum("n_phone").cast("long").alias("phone_hits"),
        F.sum("n_mrn").cast("long").alias("mrn_hits"),
        F.sum("n_email").cast("long").alias("email_hits"),
        F.sum("n_date").cast("long").alias("date_hits"),
    )


@query(
    "retention_sweep",
    """
    WITH now_t AS (SELECT MAX(ts) AS now_ts FROM events)
    SELECT event_type,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN ts >= now_ts - INTERVAL 7 DAY THEN 1 ELSE 0 END)
                AS BIGINT) AS n_retained,
           CAST(SUM(CASE WHEN ts >= now_ts - INTERVAL 7 DAY THEN 0 ELSE 1 END)
                AS BIGINT) AS n_expired
    FROM events CROSS JOIN now_t
    GROUP BY event_type
    """,
)
def retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention classification (maintenance.retention_split; ref
    semantic ``Feature.retention_days``, feature_registry.py:136) with a
    7-day horizon anchored at max(ts).  The maintenance DELETE is the
    ``~retained`` filter; expressed as a scan+filter it partition-prunes
    when the store is laid out by event date (SCALE.md)."""
    from feature_store_healthcare_spark import maintenance

    ev = load_table(spark, sf_dir, "events")
    now = ev.agg(F.max("ts").alias("now_ts"))
    flagged = maintenance.retention_split(
        ev.crossJoin(F.broadcast(now)),
        "ts",
        F.expr("now_ts - INTERVAL 7 DAYS"),
    )
    r = F.col("retained").cast("long")
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_total"),
        F.sum(r).alias("n_retained"),
        F.sum(F.lit(1) - r).alias("n_expired"),
    )


@query(
    "heavy_hitters_users",
    """
    SELECT event_type, user_id, COUNT(*) AS n
    FROM events
    GROUP BY event_type, user_id
    QUALIFY row_number() OVER (PARTITION BY event_type
                               ORDER BY n DESC, user_id ASC) <= 5
    """,
)
def heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: top-5 users per event type by event count —
    partial-agg count then a per-group top-k window (deterministic
    tie-break on user_id).  At scale the count shuffle is hash-uniform on
    (event_type, user_id); the window partitions by event_type only but
    consumes the already-aggregated (small) table."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 5)
        .drop("__rn")
    )


@query(
    "embedding_quantization_stats",
    """
    WITH v AS (
      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings
    ), s AS (
      SELECT label, vec,
             greatest(list_aggregate(list_transform(vec, x -> abs(x)), 'max')
                      / 127.0, 1e-12) AS q_scale
      FROM v
    ), e AS (
      SELECT label, q_scale,
             list_aggregate(list_transform(vec,
               x -> abs(x - round(x / q_scale) * q_scale)), 'max') AS max_err
      FROM s
    )
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(CAST(SUM(CAST(q_scale AS DECIMAL(30,15))) AS DOUBLE)
                 / COUNT(*), 9) AS avg_scale,
           ROUND(CAST(SUM(CAST(max_err AS DECIMAL(30,15))) AS DOUBLE)
                 / COUNT(*), 9) AS avg_max_abs_err
    FROM e GROUP BY label
    """,
)
def embedding_quantization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (operators.similarity.int8_quantize):
    per-label reconstruction-error profile of the 4×-compressed corpus.
    Every per-row step is exact-deterministic IEEE double math (identical
    across engines and partitionings); cross-row averages accumulate in
    decimal(30,15) so they are order-independent, then round to 9 dp."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.int8_quantize(emb)
    dec = "decimal(30,15)"
    return q.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(
            F.sum(F.col("q_scale").cast(dec)).cast("double") / F.count("*"), 9
        ).alias("avg_scale"),
        F.round(
            F.sum(F.col("q_max_abs_err").cast(dec)).cast("double") / F.count("*"),
            9,
        ).alias("avg_max_abs_err"),
    )


@query(
    "sliding_window_counts",
    f"""
    SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE
             AS window_start,
           event_type,
           COUNT(*) AS n,
           {_DSUM_SQL.format(expr='value')} AS sum_value
    FROM events CROSS JOIN (SELECT UNNEST(range(4)) AS k)
    GROUP BY window_start, event_type
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-45 (batch-equivalent): sliding 1-hour windows every 15 minutes —
    each event lands in exactly 4 overlapping windows (Spark's ``window``
    with a slide replicates rows before the aggregate; the oracle does the
    same replication explicitly with a 4-element range join).  Both engines
    align window origins to the epoch.  The same aggregation runs
    incrementally under Structured Streaming
    (streaming/pipeline.py:sliding_window_features)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), _dsum("value", "sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "pit_forward_label_join",
    """
    WITH spine AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'click'
    ), cand AS (
      SELECT s.event_id, c.value AS outcome_value, c.ts AS outcome_ts,
             row_number() OVER (PARTITION BY s.event_id
                                ORDER BY c.ts ASC, c.event_id ASC) AS rn
      FROM spine s JOIN clicks c
        ON s.user_id = c.user_id AND c.ts >= s.ts
           AND c.ts <= s.ts + INTERVAL 3 DAY
    )
    SELECT s.event_id, s.user_id, s.ts,
           c.outcome_value, c.outcome_ts
    FROM spine s LEFT JOIN cand c ON c.event_id = s.event_id AND c.rn = 1
    """,
)
def pit_forward_label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-16 forward direction: for each purchase, the EARLIEST click at or
    after it within 3 days — outcome/label attachment (pandas
    ``merge_asof(direction='forward')`` parity), the other half of a
    leak-free training set: features look back, labels look forward.
    Same one-shuffle join + min_by argmin plan as the backward join."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("vts"), "value", "event_id"
    )
    spine = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = point_in_time_join(
        spine, clicks,
        on="user_id", spine_ts="ts", value_ts="vts",
        value_cols=["value"], spine_keys=["event_id"],
        tiebreak=["event_id"], tolerance="INTERVAL 3 DAYS",
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("value").alias("outcome_value"),
        F.col("value__timestamp").alias("outcome_ts"),
    )


@query(
    "pit_nearest_observation_join",
    """
    WITH spine AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'click'
    ), cand AS (
      SELECT s.event_id, c.value AS obs_value, c.ts AS obs_ts,
             row_number() OVER (
               PARTITION BY s.event_id
               ORDER BY abs(epoch_us(CAST(c.ts AS TIMESTAMP))
                            - epoch_us(CAST(s.ts AS TIMESTAMP))),
                        CASE WHEN c.ts > s.ts THEN 1 ELSE 0 END,
                        c.event_id) AS rn
      FROM spine s JOIN clicks c
        ON s.user_id = c.user_id
           AND c.ts >= s.ts - INTERVAL 1 DAY
           AND c.ts <= s.ts + INTERVAL 1 DAY
    )
    SELECT s.event_id, s.user_id, s.ts, c.obs_value, c.obs_ts
    FROM spine s LEFT JOIN cand c ON c.event_id = s.event_id AND c.rn = 1
    """,
)
def pit_nearest_observation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-16 nearest direction: the click closest in time to each purchase
    within ±1 day (equal distance prefers the earlier click — leak-averse,
    pandas ``merge_asof(direction='nearest')`` parity).  The measurement
    alignment read for irregular time series — e.g. pair each lab result
    with the vitals reading nearest to it.  Tolerance is mandatory: it IS
    the join's time predicate."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("vts"), "value", "event_id"
    )
    spine = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = point_in_time_join(
        spine, clicks,
        on="user_id", spine_ts="ts", value_ts="vts",
        value_cols=["value"], spine_keys=["event_id"],
        tiebreak=["event_id"], tolerance="INTERVAL 1 DAY",
        direction="nearest",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("value").alias("obs_value"),
        F.col("value__timestamp").alias("obs_ts"),
    )


_MIX_WEIGHTS = {"src0": 2.5, "src1": 2.0, "src2": 0.4, "src3": 0.0}


@query(
    "domain_mix_report",
    f"""
    SELECT source,
           COUNT(*) AS n_in,
           CAST(SUM({{copies}}) AS BIGINT) AS n_out
    FROM documents
    GROUP BY source
    """.format(
        copies=sampling.mix_copies_sql("doc_id", "source", _MIX_WEIGHTS, default=1.0)
    ),
)
def domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Domain reweighting (operators.sampling.weighted_mix): the
    LLM-corpus mixing knob — source weights like "src0 × 2.5, src2 × 0.4,
    src3 × 0" applied as deterministic per-row copy counts (floor(w)
    copies + one more below the md5 fractional threshold; expected
    multiplicity exactly w, no RNG state).  The report aggregates rows in
    vs rows out per source; the materialization itself is
    ``weighted_mix`` — a narrow explode inside the corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    mixed = sampling.weighted_mix(docs, "source", "doc_id", _MIX_WEIGHTS)
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_in"))
        .join(
            mixed.groupBy("source").agg(F.count("*").alias("n_out")),
            "source",
            "left",
        )
        .withColumn("n_out", F.coalesce(F.col("n_out"), F.lit(0)))
    )


@query(
    "benchmark_contamination",
    f"""
    WITH bench AS (
      SELECT doc_id, {_TOKENS_SQL} AS t FROM documents WHERE doc_id % 20 = 0
    ), corpus AS (
      SELECT doc_id, {_TOKENS_SQL} AS t FROM documents WHERE doc_id % 20 <> 0
    ), bsh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS shingle
      FROM bench, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - 4, 1) + 1)) AS i)
    ), csh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS shingle
      FROM corpus, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - 4, 1) + 1)) AS i)
    )
    SELECT c.doc_id,
           COUNT(DISTINCT c.shingle) AS n_shared_shingles,
           COUNT(DISTINCT b.doc_id) AS n_benchmark_docs
    FROM csh c JOIN bsh b ON c.shingle = b.shingle
    GROUP BY c.doc_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Decontamination probe (operators.dedup.ngram_overlap): corpus docs
    sharing 5-gram shingles with a held-out "benchmark" subset (doc_id %
    20 == 0 stands in for the eval set).  The benchmark side broadcasts
    (eval sets are tiny), so the corpus shingle explode streams through
    one scan with no pre-aggregate shuffle.  Contaminated docs then get
    dropped with an anti-join before training."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return dedup.ngram_overlap(corpus, bench, "doc_id", "text", n=5)


# ── Lexical retrieval + hybrid fusion (operators.retrieval) ──────────────────

#: fixed query batch for the retrieval catalog entries; 'dup' is the one
#: rare term in the synthetic vocabulary (high idf), the rest are common.
_BM25_QUERY_SET: list[tuple[str, str]] = [
    ("q0", "dup merge"),
    ("q1", "hash join"),
    ("q2", "window agg stream"),
    ("q3", "vector scan"),
    ("q4", "slow query filter"),
]


def _bm25_ctes(k: int) -> str:
    """DuckDB CTE chain ending in ``bm(query_id, doc_id, score, rank)`` —
    the oracle mirror of retrieval.bm25_topk (k1=1.2, b=0.75; operand
    grouping matches the Spark expression tree so the double arithmetic is
    bit-identical before the 6-decimal round)."""
    values = ", ".join(f"('{qid}', '{qt}')" for qid, qt in _BM25_QUERY_SET)
    return f"""
    q(query_id, qtext) AS (SELECT * FROM (VALUES {values})),
    qt AS (SELECT DISTINCT query_id, u.term
           FROM q, UNNEST(string_split(qtext, ' ')) AS u(term)),
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    post AS (
      SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
      FROM (SELECT doc_id, len(t) AS dl, UNNEST(t) AS term FROM toks)
      GROUP BY doc_id, term
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(len(t)) AS avgdl FROM toks),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM post
      WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term
    ),
    bm_scored AS (
      SELECT qt.query_id, p.doc_id,
             ROUND(SUM(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * ((p.tf * 2.2)
                  / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / avgdl)))
             ), 6) AS score
      FROM post p JOIN qt USING (term) JOIN dfreq USING (term) CROSS JOIN stats
      GROUP BY qt.query_id, p.doc_id
    ),
    bm AS (
      SELECT query_id, doc_id, score, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
        FROM bm_scored)
      WHERE rank <= {k}
    )
    """


@query(
    "bm25_lexical_topk",
    f"WITH {_bm25_ctes(10)} SELECT query_id, doc_id, score, rank FROM bm",
)
def bm25_lexical_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Lexical retrieval (operators.retrieval.bm25_topk): BM25 top-10
    per query over the documents corpus, Lucene idf variant.  The query
    batch broadcasts; the corpus side is one postings build (explode +
    partial-agg groupBy) semi-joined down to query terms before scoring —
    at 100 TB the postings table is built once, bucketed by term, and
    reused.  Score rounded to 6 decimals before ranking, ties by doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(docs, "doc_id", "text", _BM25_QUERY_SET, k=10)


_HYBRID_RRF_ORACLE = f"""
    WITH {_bm25_ctes(20)},
    qv AS (SELECT vec_id AS qid, embedding AS v FROM embeddings WHERE vec_id < 5),
    cos_scored AS (
      SELECT 'q' || CAST(qid AS VARCHAR) AS query_id, e.vec_id AS doc_id,
             {_COSINE_SQL.format(a='qv.v', b='e.embedding')} AS cosine
      FROM qv CROSS JOIN embeddings e WHERE qid <> e.vec_id
    ),
    cos AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, doc_id) AS rank
        FROM cos_scored)
      WHERE rank <= 20
    ),
    fused AS (
      SELECT query_id, doc_id,
             ROUND(SUM(1.0 / (60 + rank)), 6) AS rrf_score,
             COUNT(*) AS n_sources
      FROM (SELECT query_id, doc_id, rank FROM bm
            UNION ALL SELECT query_id, doc_id, rank FROM cos)
      GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, rrf_score, n_sources, fused_rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, doc_id) AS fused_rank
      FROM fused)
    WHERE fused_rank <= 10
    """


def _cosine_rank20(emb: DataFrame) -> DataFrame:
    """The embedding half of the hybrid queries: exact cosine top-20 per
    query (query i's vector is embeddings.vec_id == i — doc and vec ids
    share the id space), ties by doc id."""
    qq = emb.where(F.col("vec_id") < 5).select(
        F.concat(F.lit("q"), F.col("vec_id").cast("string")).alias("__qid"),
        F.col("embedding").alias("__qv"),
    )
    cc = emb.select(F.col("vec_id").alias("__cid"), F.col("embedding").alias("__cv"))
    pairs = (
        F.broadcast(qq)
        .crossJoin(cc)
        .where(F.concat(F.lit("q"), F.col("__cid").cast("string")) != F.col("__qid"))
    )
    # dim=64: unrolled codegen form, bit-identical to the HOF fold
    cos_scored = pairs.withColumn(
        "cosine",
        F.round(similarity.cosine_similarity("__qv", "__cv", dim=64), 4),
    )
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid"))
    return (
        cos_scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("doc_id"),
            "rank",
        )
    )


@query("hybrid_rrf_retrieval", _HYBRID_RRF_ORACLE)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Hybrid retrieval (operators.retrieval.rrf_fuse): reciprocal-rank
    fusion (Cormack et al. 2009, k=60) of the BM25 lexical top-20 with an
    embedding-cosine top-20 (query i's vector is embeddings.vec_id == i —
    doc and vec ids share the id space).  Fusion is union + partial-agg
    groupBy on (query, doc) — no ranking-vs-ranking join — so it scales
    with the candidate lists, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = retrieval.bm25_topk(docs, "doc_id", "text", _BM25_QUERY_SET, k=20)
    return retrieval.rrf_fuse(
        [bm.select("query_id", "doc_id", "rank"), _cosine_rank20(emb)],
        "query_id",
        "doc_id",
        k=10,
    )


_PERPLEXITY_ORACLE = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    post AS (
      SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
      FROM (SELECT doc_id, len(t) AS dl, UNNEST(t) AS term FROM toks)
      GROUP BY doc_id, term
    ),
    tc AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ct FROM post GROUP BY term),
    tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS total FROM tc)
    SELECT p.doc_id, MAX(p.dl) AS n_tokens,
           ROUND(-SUM(p.tf * ln(CAST(ct AS DOUBLE) / CAST(total AS DOUBLE)))
                 / MAX(p.dl), 6) AS nll,
           ROUND(exp(-SUM(p.tf * ln(CAST(ct AS DOUBLE) / CAST(total AS DOUBLE)))
                     / MAX(p.dl)), 3) AS ppl
    FROM post p JOIN tc USING (term) CROSS JOIN tot
    GROUP BY p.doc_id
    """


@query("doc_perplexity_quality", _PERPLEXITY_ORACLE)
def doc_perplexity_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Unigram-LM perplexity (operators.retrieval.unigram_perplexity):
    each document scored under the corpus's own MLE unigram model — the
    classic cheap quality/outlier signal.  Postings → per-term counts (one
    shuffle on term) → join back pre-aggregated per (doc, term) → one
    partial-agg groupBy per doc; the Zipf head is one row per doc after
    pre-aggregation, AQE splits any residual skew."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.unigram_perplexity(docs, "doc_id", "text")


@query(
    "sequence_packing_report",
    f"""
    WITH d AS (
      SELECT doc_id, len({_TOKENS_SQL}) AS n_tok,
             substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
      FROM documents
    ),
    a AS (
      SELECT doc_id, n_tok, substr(h, 1, 1) AS pack_group,
             SUM(n_tok) OVER (PARTITION BY substr(h, 1, 1) ORDER BY h, doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS pack_offset
      FROM d
    )
    SELECT pack_group,
           CAST(FLOOR(pack_offset / 2048) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(MIN(pack_offset) AS BIGINT) AS first_offset
    FROM a GROUP BY pack_group, pack_id
    """,
)
def sequence_packing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Sequence packing (operators.sampling.pack_sequences): documents
    assigned to fixed 2048-token training sequences by a running token sum
    over a salted-md5 order inside 16 deterministic groups — offset
    packing, reproducible with no RNG and no greedy reset state.  Each
    group packs independently (one hash-partitioned sort at 100 TB); the
    report aggregates docs/tokens per pack."""
    docs = load_table(spark, sf_dir, "documents")
    with_tok = docs.withColumn(
        "n_tok", F.size(retrieval.tokens("text"))
    )
    packed = sampling.pack_sequences(with_tok, "doc_id", "n_tok", budget=2048)
    return packed.groupBy("pack_group", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("pack_offset").alias("first_offset"),
    )


# ── CDC materialization, column profiling, temporal split ────────────────────


@query(
    "cdc_apply_changes",
    """
    WITH ch AS (
      SELECT user_id, event_type, ts, value, event_id,
             CASE WHEN value < 1.0 THEN 'D' ELSE 'U' END AS op
      FROM events
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM ch
    )
    SELECT user_id, event_type, event_id, ts, value
    FROM r WHERE rn = 1 AND op = 'U'
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ CDC materialization (operators.cdc.apply_changes): events become a
    changelog on key (user_id, event_type) — ``value < 1.0`` marks a
    delete — folded in TWO phases: days 1-15 materialize into a snapshot,
    the remainder applies on top as a delta.  The oracle folds the full
    history in ONE pass, so the hash match proves the snapshot+delta
    decomposition invariant (incremental == batch).  Each fold is one
    partial-aggregatable max_by shuffle; the reference's dict overwrite
    (feature_server.py:389) has no delete and no out-of-order guard."""
    ev = load_table(spark, sf_dir, "events")
    changelog = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        "value",
        F.when(F.col("value") < 1.0, F.lit(cdc.DELETE_OP))
        .otherwise(F.lit(cdc.UPSERT_OP))
        .alias("op"),
    )
    cut = "2024-01-16 00:00:00"
    keys = ["user_id", "event_type"]
    snapshot = cdc.materialize(
        changelog.where(F.col("ts") < cut), keys, "ts", tiebreak=["event_id"]
    )
    final = cdc.apply_changes(
        snapshot,
        changelog.where(F.col("ts") >= cut),
        keys,
        "ts",
        tiebreak=["event_id"],
    )
    return final.select("user_id", "event_type", "event_id", "ts", "value")


_PROFILE_COLS = ("l_orderkey", "l_partkey", "l_linenumber", "l_returnflag")


@query(
    "column_profile_stats",
    " UNION ALL ".join(
        f"""
    SELECT '{c}' AS column, COUNT(*) AS n_rows, COUNT({c}) AS n_values,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM lineitem
    """
        for c in _PROFILE_COLS
    ),
)
def column_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ ANALYZE-style profiling (operators.profile.column_profile): per-
    column row/null/distinct counts and min/max in ONE aggregation pass
    over lineitem, unpivoted via a struct-array explode (no second scan,
    no collect).  Exact countDistinct here for the oracle; the 100 TB
    path flips ``exact=False`` to HLL sketches with no Expand."""
    li = load_table(spark, sf_dir, "lineitem")
    return profile.column_profile(li, list(_PROFILE_COLS))


@query(
    "temporal_split_report",
    """
    WITH p AS (
      SELECT event_id, user_id, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE event_type = 'purchase'
    )
    SELECT CASE WHEN rn <= 1 THEN 'test'
                WHEN rn <= 2 THEN 'val'
                ELSE 'train' END AS split,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(MIN(ts) AS VARCHAR) AS earliest,
           CAST(MAX(ts) AS VARCHAR) AS latest
    FROM p GROUP BY 1
    """,
)
def temporal_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Temporal split (operators.sampling.leave_last_k_split): each
    user's newest purchase is 'test', the next 'val', the rest 'train' —
    the leave-last-k-out protocol for sequential models, where a random
    split leaks future rows into training.  One shuffle on user_id; the
    report aggregates counts and time ranges per split (timestamps
    stringified for a uniform schema)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    tagged = sampling.leave_last_k_split(
        purchases, "user_id", "ts", tiebreak=["event_id"], k_test=1, k_val=1
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").cast("string").alias("earliest"),
        F.max("ts").cast("string").alias("latest"),
    )


@query(
    "resample_daily_ffill",
    """
    WITH p AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, value, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    daily AS (
      SELECT user_id, day, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, day
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM p)
      WHERE rn = 1
    ),
    grid AS (
      SELECT u.user_id, CAST(g.d AS DATE) AS day
      FROM (SELECT DISTINCT user_id FROM p) u,
           (SELECT UNNEST(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                          INTERVAL 1 DAY)) AS d) g
    ),
    j AS (
      SELECT g.user_id, g.day, d.value,
             CASE WHEN d.value IS NOT NULL THEN g.day END AS obs_day
      FROM grid g LEFT JOIN daily d USING (user_id, day)
    ),
    f AS (
      SELECT user_id, day,
             last_value(value IGNORE NULLS) OVER w AS value,
             last_value(obs_day IGNORE NULLS) OVER w AS obs_day
      FROM j WINDOW w AS (PARTITION BY user_id ORDER BY day
                          ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, day, value, CAST(day - obs_day AS INTEGER) AS days_since_obs
    FROM f
    """,
)
def resample_daily_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Resample + forward fill (operators.resample.resample_ffill): the
    irregular purchase stream becomes one row per (user, day) over the
    30-day window — newest observation per day, forward-filled across
    gaps, with an explicit days-since-observation staleness feature.
    Leak-free (fills only look backward) and scale-shaped: per-day argmax
    is a partial-agg max_by, the calendar grid is generated (sequence +
    explode, never stored), and the fill window is per-entity — bounded
    and uniform, no skew."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    return resample.resample_ffill(
        purchases, "user_id", "ts", "value",
        start="2024-01-01", end="2024-01-30", tiebreak=["event_id"],
    )


@query(
    "window_distribution_ranks",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           ntile(4) OVER w AS price_quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           CAST(dense_rank() OVER w AS BIGINT) AS drank
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-28 completeness: the distribution-rank window family — ntile,
    percent_rank, cume_dist, dense_rank — in one window pass per priority
    class (one shuffle + sort).  percent_rank/cume_dist are int/int
    ratios rounded to 6 decimals for cross-engine determinism."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.dense_rank().over(w).cast("bigint").alias("drank"),
    )


# ── Record linkage + decayed counters ────────────────────────────────────────

_AS_OF_MICROS = 1706659200000000  # 2024-01-31T00:00:00Z, just past the data
_DECAY_K = -0.09902102579427789  # -ln(2)/7 — 7-day half-life


@query(
    "record_linkage_best_match",
    """
    WITH probes AS (
      SELECT c_custkey AS probe_id,
             substr(c_name, 1, 17) || 'X' AS probe_name,
             substr(c_name, 14, 3) AS blk
      FROM customer WHERE c_custkey % 150 = 0
    ),
    corpus AS (
      SELECT c_custkey, c_name, substr(c_name, 14, 3) AS blk FROM customer
    ),
    cand AS (
      SELECT p.probe_id, p.probe_name, c.c_custkey, c.c_name,
             levenshtein(p.probe_name, c.c_name) AS distance
      FROM probes p JOIN corpus c USING (blk)
      WHERE levenshtein(p.probe_name, c.c_name) <= 2
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY distance, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY probe_id) AS n_candidates
      FROM cand
    )
    SELECT probe_id, probe_name, c_custkey AS matched_custkey,
           c_name AS matched_name, distance, n_candidates
    FROM r WHERE rn = 1
    """,
)
def record_linkage_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Record linkage (operators.linkage): every 150th customer name is
    corrupted (last char → 'X') and re-identified against the full table —
    blocked on a digit substring the corruption preserves, in-block
    levenshtein ≤ 2, best match by (distance, custkey) min_by argmin.
    The candidate join is an equi-join on the block key (never all-pairs);
    edit distance evaluates only in-block — the patient-identity-
    resolution shape the reference's exact-string entity_id cannot do."""
    cust = load_table(spark, sf_dir, "customer")
    probes = cust.where(F.col("c_custkey") % 150 == 0).select(
        F.col("c_custkey").alias("probe_id"),
        F.concat(F.substring("c_name", 1, 17), F.lit("X")).alias("probe_name"),
    )
    corpus = cust.select("c_custkey", "c_name")
    cands = linkage.candidates(
        probes,
        corpus,
        "probe_name",
        "c_name",
        probe_block=F.substring("probe_name", 14, 3),
        corpus_block=F.substring("c_name", 14, 3),
        max_dist=2,
    )
    best = linkage.best_match(cands, "probe_id", tiebreak="c_custkey")
    return best.select(
        "probe_id",
        "probe_name",
        F.col("c_custkey").alias("matched_custkey"),
        F.col("c_name").alias("matched_name"),
        "distance",
        "n_candidates",
    )


@query(
    "decayed_engagement_counters",
    f"""
    SELECT user_id,
           ROUND(SUM(exp({_DECAY_K} * (({_AS_OF_MICROS} - epoch_us(CAST(ts AS TIMESTAMP)))
                                       / 86400000000.0))), 6) AS decayed_count,
           ROUND(SUM(exp({_DECAY_K} * (({_AS_OF_MICROS} - epoch_us(CAST(ts AS TIMESTAMP)))
                                       / 86400000000.0)) * value), 6) AS decayed_sum,
           COUNT(*) AS n_events,
           MAX(ts) AS last_ts
    FROM events WHERE event_type = 'click'
    GROUP BY user_id
    """,
)
def decayed_engagement_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Decayed counters (operators.decay.decayed_counters): per-user
    click count/sum where each event is weighted 2^(-age/7d) as of
    2024-01-31 — the recency-aware engagement feature.  A plain
    commutative SUM: partial-aggregatable, one shuffle, and mergeable
    across batches (old state folds in by decaying — the algebra
    incremental maintenance needs).  Ages are exact integer micros; one
    double division before exp."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    return decay.decayed_counters(
        clicks, ["user_id"], "ts", "value",
        as_of_micros=_AS_OF_MICROS, half_life_days=7.0,
    )


@query(
    "feature_drift_ks",
    f"""
    WITH s AS (SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
               FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
               GROUP BY event_type),
    be AS (
      SELECT e.event_type, {_BUCKET_SQL} AS bucket
      FROM events e JOIN s ON e.event_type = s.event_type
      WHERE e.ts < TIMESTAMP '2024-01-15 00:00:00'
    ),
    ba AS (
      SELECT e.event_type, {_BUCKET_SQL} AS bucket
      FROM events e JOIN s ON e.event_type = s.event_type
      WHERE e.ts >= TIMESTAMP '2024-01-15 00:00:00'
    ),
    ce AS (SELECT event_type, bucket, COUNT(*) AS cnt_e FROM be GROUP BY event_type, bucket),
    ca AS (SELECT event_type, bucket, COUNT(*) AS cnt_a FROM ba GROUP BY event_type, bucket),
    grid AS (
      SELECT s.event_type, r.i AS bucket,
             COALESCE(ce.cnt_e, 0) AS cnt_e, COALESCE(ca.cnt_a, 0) AS cnt_a
      FROM s CROSS JOIN (SELECT UNNEST(range(0, 10)) AS i) r
      LEFT JOIN ce ON ce.event_type = s.event_type AND ce.bucket = r.i
      LEFT JOIN ca ON ca.event_type = s.event_type AND ca.bucket = r.i
    ),
    c AS (
      SELECT event_type, bucket, cnt_e, cnt_a,
             SUM(cnt_e) OVER (PARTITION BY event_type) AS tot_e,
             SUM(cnt_a) OVER (PARTITION BY event_type) AS tot_a,
             SUM(cnt_e) OVER (PARTITION BY event_type ORDER BY bucket
                              ROWS UNBOUNDED PRECEDING) AS cum_e,
             SUM(cnt_a) OVER (PARTITION BY event_type ORDER BY bucket
                              ROWS UNBOUNDED PRECEDING) AS cum_a
      FROM grid
    )
    SELECT event_type,
           ROUND(MAX(ABS(CAST(cum_e AS DOUBLE) / tot_e
                         - CAST(cum_a AS DOUBLE) / tot_a)), 6) AS ks_stat,
           CAST(MAX(tot_e) AS BIGINT) AS n_expected,
           CAST(MAX(tot_a) AS BIGINT) AS n_actual
    FROM c GROUP BY event_type
    """,
)
def feature_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Drift detection (operators.drift.ks_binned): binned two-sample
    Kolmogorov-Smirnov statistic per feature between January's halves —
    max CDF gap at bucket boundaries.  The exact KS needs a per-key total
    order (a sort that serializes at scale); the binned version is one
    partial-agg count shuffle + cumulative windows over the tiny grid,
    and lower-bounds the exact statistic.  Complements PSI: KS sees the
    single largest shift, PSI total re-allocation."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    return drift.ks_binned(
        ev.where(F.col("ts") < cutoff).select("event_type", "value"),
        ev.where(F.col("ts") >= cutoff).select("event_type", "value"),
        ["event_type"],
        "value",
        nbins=10,
    )


@query(
    "target_encoding_loo",
    """
    WITH folded AS (
      SELECT o_orderpriority, o_totalprice AS y,
             CASE WHEN substr(md5('te:' || CAST(o_orderkey AS VARCHAR)), 1, 8) <= '40000000' THEN 'f0' WHEN substr(md5('te:' || CAST(o_orderkey AS VARCHAR)), 1, 8) <= '80000000' THEN 'f1' WHEN substr(md5('te:' || CAST(o_orderkey AS VARCHAR)), 1, 8) <= 'c0000000' THEN 'f2' WHEN substr(md5('te:' || CAST(o_orderkey AS VARCHAR)), 1, 8) <= 'ffffffff' THEN 'f3' END AS fold
      FROM orders
    ),
    cell AS (
      SELECT o_orderpriority, fold,
             SUM(CAST(y AS DECIMAL(25,6))) AS s, COUNT(*) AS n
      FROM folded GROUP BY o_orderpriority, fold
    ),
    g AS (
      SELECT *,
             SUM(s) OVER (PARTITION BY o_orderpriority) AS s_cat,
             SUM(n) OVER (PARTITION BY o_orderpriority) AS n_cat,
             SUM(s) OVER () AS s_all,
             SUM(n) OVER () AS n_all
      FROM cell
    )
    SELECT o_orderpriority, fold,
           ROUND((CAST(s_cat - s AS DOUBLE)
                  + 20.0 * (CAST(s_all AS DOUBLE) / n_all))
                 / ((n_cat - n) + 20.0), 6) AS encoding,
           n AS n_in_fold,
           CAST(n_cat - n AS BIGINT) AS n_out_of_fold,
           ROUND(CAST(s_all AS DOUBLE) / n_all, 6) AS prior_mean
    FROM g
    """,
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Leakage-safe target encoding (operators.encode.target_encoding):
    mean-of-label per order priority, leave-fold-out over 4 deterministic
    md5 folds with a 20-observation prior — a row never sees its own
    label, the classic target-leak fix.  One partial-agg groupBy on
    (category, fold); totals and the prior are window sums over the tiny
    cell table; label sums decimal-accumulated (order-independent)."""
    o = load_table(spark, sf_dir, "orders")
    return encode.target_encoding(
        o, "o_orderpriority", "o_totalprice", key="o_orderkey",
        n_folds=4, prior_weight=20.0, salt="te",
    )


_BIGRAM_ORACLE = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    multi AS (SELECT * FROM toks WHERE len(t) >= 2),
    bi AS (
      SELECT doc_id, concat_ws(' ', t[i], t[i+1]) AS bg
      FROM multi, LATERAL (SELECT UNNEST(range(1, len(t))) AS i)
    ),
    doc_bi AS (SELECT doc_id, bg, COUNT(*) AS tf FROM bi GROUP BY doc_id, bg),
    bi_counts AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg),
    hist AS (
      SELECT u.w, COUNT(*) AS c1
      FROM multi, UNNEST(t[1:len(t)-1]) AS u(w)
      GROUP BY u.w
    ),
    vocab AS (
      SELECT COUNT(DISTINCT u.w) AS v FROM toks, UNNEST(t) AS u(w)
    )
    SELECT d.doc_id,
           CAST(SUM(d.tf) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(d.tf * ln((c.c2 + 0.5) / (h.c1 + 0.5 * v.v)))
                 / SUM(d.tf), 6) AS bigram_nll
    FROM doc_bi d
    JOIN bi_counts c USING (bg)
    JOIN hist h ON h.w = string_split(d.bg, ' ')[1]
    CROSS JOIN vocab v
    GROUP BY d.doc_id
    """


@query("bigram_lm_fluency", _BIGRAM_ORACLE)
def bigram_lm_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Bigram-LM fluency (operators.retrieval.bigram_logprob_score):
    each document's mean −ln p(wᵢ|wᵢ₋₁) under the corpus's own add-0.5
    bigram model — a word-ORDER-aware quality score (shuffled or
    boilerplate text stands out where the unigram model is blind).
    Corpus bigram/history counts from their own map-side partial-agg
    lineages; doc side pre-aggregated per (doc, bigram) before the Zipf
    join."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bigram_logprob_score(docs, "doc_id", "text", add_k=0.5)


# ── stored-index twins (round 7) ─────────────────────────────────────────────
#
# The text/LM family's 100 TB form: corpus-wide postings live as bucketed
# TABLES (the round-6 measured rule — caching them was 10× worse at ×200),
# built once per corpus and probed per query with no re-tokenize and no
# corpus-sized shuffle.  Each stored twin shares its live twin's oracle
# verbatim, so the hash match proves build→store→probe reproduces the
# single-pass computation bit-for-bit.  Index builds are memoized per
# (session, sf_dir) — the first call in a session pays the build (bench's
# min-of-N then reports the amortized probe), and table names are
# sf-scoped so scale factors never collide in a shared warehouse.

#: (applicationId, sf_dir, kind) → what the kind's build returned
_STORED_INDEXES: dict[tuple[str, str, str], object] = {}


#: applicationId → per-process fallback warehouse directory
_FALLBACK_WAREHOUSE: dict[str, str] = {}


def _writable_warehouse(spark: SparkSession) -> str:
    """The session's warehouse dir if writable, else ONE per-application
    temp directory (round 12: stored-index queries now hold driver-window
    seats, and the driver session's warehouse derives from ITS cwd — an
    unwritable cwd must not turn a correctness row red for an
    environmental reason).  Every stored-index builder AND every
    path-derived reader resolves through here, so the fallback keeps
    warehouse/table derivation consistent; the build→store→probe code
    path is identical either way, only the location moves."""
    from feature_store_healthcare_spark.stores import local_path

    warehouse = local_path(spark.conf.get("spark.sql.warehouse.dir"))
    try:
        os.makedirs(warehouse, exist_ok=True)
        if os.access(warehouse, os.W_OK):
            return warehouse
    except OSError:
        pass
    app = spark.sparkContext.applicationId
    if app not in _FALLBACK_WAREHOUSE:
        import tempfile

        _FALLBACK_WAREHOUSE[app] = tempfile.mkdtemp(prefix="fshs_warehouse_")
    return _FALLBACK_WAREHOUSE[app]


def _stored_index(spark: SparkSession, sf_dir: str, kind: str, build):
    """The one build-once-per-session memo of every stored index:
    ``build(name, path)`` runs on first use (a fresh build — leftovers of
    earlier sessions can't poison results) and its result is memoized.
    ``kind`` carries the build parameter (``ivf16`` vs ``ivf64``)."""
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    if key not in _STORED_INDEXES:
        name = f"fshs_{kind}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
        _STORED_INDEXES[key] = build(
            name, os.path.join(_writable_warehouse(spark), name)
        )
    return _STORED_INDEXES[key]


def _stored_postings(spark: SparkSession, sf_dir: str) -> str:
    docs = load_table(spark, sf_dir, "documents")

    def build(table: str, path: str) -> str:
        # auto bucket count (retrieval.auto_index_buckets): the probes'
        # heavy stages run INSIDE the bucket tasks, so bucket count is
        # probe parallelism at scale — but a fixed 32 over-splits a
        # 5k-doc corpus (round-9 A/B); auto gives 8 here and hits the
        # parallelism cap (32 on local[32]) at the ×200 rehearsal
        retrieval.build_postings_index(docs, "doc_id", "text", table, path)
        return table

    return _stored_index(spark, sf_dir, "post", build)


@query(
    "bm25_stored_postings",
    f"WITH {_bm25_ctes(10)} SELECT query_id, doc_id, score, rank FROM bm",
)
def bm25_stored_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ BM25 against the STORED postings index
    (operators.retrieval.bm25_topk_from_index): same oracle as
    `bm25_lexical_topk`, but the corpus is never re-read — the query-term
    filter prunes the term-sorted bucketed postings scan, and document
    frequency aggregates on the bucket key with no exchange."""
    table = _stored_postings(spark, sf_dir)
    return retrieval.bm25_topk_from_index(spark, table, _BM25_QUERY_SET, k=10)


@query("hybrid_rrf_stored", _HYBRID_RRF_ORACLE)
def hybrid_rrf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Hybrid RRF with the lexical half served from the STORED postings
    index: bm25_topk_from_index reproduces the live scorer bit-for-bit
    (same integer sufficient statistics — oracle- and test-proven), so
    fusing it with the exact cosine ranking hash-matches
    hybrid_rrf_retrieval's oracle while the documents corpus is never
    read at all.  This is the end-state shape of a 100 TB retrieval
    stack: stored term-bucketed lexical index + embedding index + a
    fusion aggregate sized by the candidate lists, not the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    table = _stored_postings(spark, sf_dir)
    bm = retrieval.bm25_topk_from_index(spark, table, _BM25_QUERY_SET, k=20)
    return retrieval.rrf_fuse(
        [bm.select("query_id", "doc_id", "rank"), _cosine_rank20(emb)],
        "query_id",
        "doc_id",
        k=10,
    )


def _stored_ivf(spark: SparkSession, sf_dir: str, n_centroids: int = 16):
    """The session's stored IVF index over the embeddings corpus
    (similarity.build_ivf_index); returns (path, centroids).  The kind
    carries ``n_centroids``: a 64-centroid request must never be served a
    memoized 16-centroid quantizer (wrong lists, wrong recall)."""

    def build(name: str, path: str):
        emb = load_table(spark, sf_dir, "embeddings")
        return path, similarity.build_ivf_index(emb, path, n_centroids=n_centroids)

    return _stored_index(spark, sf_dir, f"ivf{n_centroids}", build)


@query("hybrid_rrf_ivf_stored")  # no oracle BY DESIGN: the cosine half is
# IVF-approximate at nprobe=4, so there is no SQL this configuration is
# exactly equal to.  Its exactness anchor is `hybrid_rrf_ivf_exhaustive`
# (registered right below with the exact hybrid's oracle): the SAME code
# path at nprobe=n_centroids hash-matches the exact plan at every SF, so
# the only unverified delta here is which lists nprobe=4 skips — which the
# recall@10 regression pin vs the exact hybrid measures
# (tests/test_retrieval.py) plus the plan pin that NEITHER corpus is
# scanned (tests/test_plans.py) — the same verification recipe as the ANN
# family's recall-pinned entries.
def hybrid_rrf_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Hybrid RRF with BOTH halves served from stored indexes — the
    100 TB retrieval stack's end-state shape (round-7 VERDICT ask #1):
    the lexical top-20 probes the term-bucketed postings table
    (bm25_topk_from_index — bit-identical to the live scorer) and the
    cosine top-20 probes the ``__list``-partitioned IVF index
    (ivf_topk_from_index — the scan carries a static ``__list IN``
    partition filter, so only the nprobe probed lists are read).  Fusion
    is the same candidate-list-sized RRF aggregate as the exact hybrid.
    Plan property: NEITHER the documents nor the embeddings corpus
    appears in the returned plan — the only corpus-shaped inputs are the
    two indexes, pruned to query terms / probed lists.  The 5-vector
    query batch is bounded query-side input (collected by
    ivf_topk_from_index under its max_query_rows contract), not a corpus
    scan.

    Approximation contract: ranks where the IVF candidate set misses a
    true neighbor differ from hybrid_rrf_retrieval; recall@10 vs the
    exact hybrid is regression-pinned in tests (the corpus's synthetic
    near-random embeddings are the IVF-hostile worst case — real corpora
    cluster, raising recall at the same nprobe)."""
    table = _stored_postings(spark, sf_dir)
    bm = retrieval.bm25_topk_from_index(spark, table, _BM25_QUERY_SET, k=20)
    path, cents = _stored_ivf(spark, sf_dir)
    qbatch = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    ivf = similarity.ivf_topk_from_index(
        spark, path, qbatch, k=20, nprobe=4, centroids=cents
    )
    cos = ivf.select(
        F.concat(F.lit("q"), F.col("query_id").cast("string")).alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        "rank",
    )
    return retrieval.rrf_fuse(
        [bm.select("query_id", "doc_id", "rank"), cos],
        "query_id",
        "doc_id",
        k=10,
    )


@query("hybrid_rrf_ivf_exhaustive", _HYBRID_RRF_ORACLE)
def hybrid_rrf_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Exactness anchor for `hybrid_rrf_ivf_stored` (round-10 VERDICT
    #5: it was the catalog's only entry with no oracle, carrying an
    in-test recall pin instead).  This entry runs the IDENTICAL
    stored-index code path — same postings probe, same IVF index, same
    ivf_topk_from_index plumbing (driver-side list assignment, static
    ``__list IN`` partition pruning, broadcast probe join, cosine
    re-rank) — but with ``nprobe = n_centroids``: every inverted list is
    probed, so the candidate set is definitionally the full corpus and
    the (4-decimal-rounded, id-tiebroken) ranking equals the exact
    cosine scorer.  Registered under the exact hybrid's SQL oracle, the
    hash match proves build→store→prune→probe→re-rank ≡ the single-pass
    exact plan; a defect anywhere in the IVF machinery breaks it.  The
    nprobe<n_centroids production configuration's remaining delta is
    then ONLY which lists are skipped — exactly what the recall@10
    bracket measures."""
    table = _stored_postings(spark, sf_dir)
    bm = retrieval.bm25_topk_from_index(spark, table, _BM25_QUERY_SET, k=20)
    path, cents = _stored_ivf(spark, sf_dir)
    qbatch = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    ivf = similarity.ivf_topk_from_index(
        spark,
        path,
        qbatch,
        k=20,
        nprobe=len(cents),
        centroids=cents,
        round_decimals=4,
    )
    cos = ivf.select(
        F.concat(F.lit("q"), F.col("query_id").cast("string")).alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        "rank",
    )
    return retrieval.rrf_fuse(
        [bm.select("query_id", "doc_id", "rank"), cos],
        "query_id",
        "doc_id",
        k=10,
    )


def _stored_pca(spark: SparkSession, sf_dir: str, pca_dim: int = 32):
    """The session's stored PCA index over the embeddings corpus
    (similarity.build_pca_index); returns (path, components, mean,
    n_vectors).  The kind carries ``pca_dim`` as :func:`_stored_ivf`'s
    carries n_centroids.  ``n_vectors`` is counted ONCE at build so the
    exhaustive anchor sizes its rerank pool without a count per call."""

    def build(name: str, path: str):
        emb = load_table(spark, sf_dir, "embeddings")
        comps, mean = similarity.build_pca_index(emb, path, pca_dim=pca_dim)
        return path, comps, mean, emb.count()

    return _stored_index(spark, sf_dir, f"pca{pca_dim}", build)


@query("embedding_pca_stored")  # no oracle BY DESIGN: the coarse 32-dim
# L2 cut at rerank_factor=8 is PCA-approximate, so there is no SQL this
# configuration is exactly equal to (the eigenvectors exist only in the
# engine).  Its exactness anchor is `embedding_pca_exhaustive` (registered
# right below with the exact cosine top-k oracle): the SAME stored-index
# code path with the coarse cut widened to the whole corpus hash-matches
# the exact scorer at every SF, so the only unverified delta here is
# which candidates the coarse cut drops — measured by the recall@5
# regression pin vs the exact scorer (tests/test_pca.py), the same
# verification recipe as `hybrid_rrf_ivf_stored`.
def embedding_pca_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ OP-50 production shape of the PCA-compressed ANN (round-12
    VERDICT ask #5): the live `pca_topk` refit covariance + eigenvectors
    and re-projected the corpus EVERY call (~3.8 s, the #2 bench line);
    this probes the stored index (similarity.build_pca_index /
    pca_topk_from_index) so a repeat probe pays only the projected scan
    — coarse top-(k·8) by 32-dim L2 over the stored projections, exact
    full-dim cosine re-rank of the candidates.  First call in a session
    pays the one-time build, the bench's min-of-N reports the amortized
    probe (the steady-state production cost), same lifecycle as the
    stored postings/IVF/band indexes."""
    path, comps, mean, _n = _stored_pca(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pca_topk_from_index(
        spark, path, q, k=10, rerank_factor=8,
        components=comps, mean=mean, round_decimals=4,
    )


@query(
    "embedding_pca_exhaustive",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
    scored AS (
      SELECT qid, cid, {_COSINE_SQL.format(a='qv', b='cv')} AS cosine
      FROM q CROSS JOIN c WHERE qid <> cid
    )
    SELECT qid AS query_id, cid AS vec_id, cosine, rn AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, cid) AS rn
          FROM scored)
    WHERE rn <= 10
    """,
)
def embedding_pca_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Exactness anchor for `embedding_pca_stored` (the
    `hybrid_rrf_ivf_exhaustive` recipe): the IDENTICAL stored-index code
    path — same build_pca_index artifacts, same load_pca_model read, same
    pca_topk_from_index plumbing (stored-projection coarse stage, salted
    top-k cut, full-dim re-rank) — but with the coarse cut widened to the
    whole corpus (k·rerank_factor ≥ |corpus|): every candidate survives
    stage 1, so the (4-decimal-rounded, id-tiebroken) ranking is
    definitionally the exact cosine top-k and the SQL oracle is exact.
    The hash match proves fit→store→load→project→cut→re-rank ≡ the
    single-pass exact scorer; a defect anywhere in the stored-PCA
    machinery (model round-trip, projection append, coarse distance)
    breaks it.  The rerank_factor=8 production configuration's remaining
    delta is then ONLY which candidates the coarse cut drops — exactly
    what the recall@5 pin measures."""
    path, comps, mean, n = _stored_pca(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pca_topk_from_index(
        spark, path, q, k=10, rerank_factor=(n // 10) + 1,
        components=comps, mean=mean, round_decimals=4,
    )


@query("perplexity_stored_postings", _PERPLEXITY_ORACLE)
def perplexity_stored_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Unigram-LM perplexity against the STORED postings index
    (operators.retrieval.unigram_perplexity_from_index): ct(term)=Σtf and
    total=Σtf derive from the index itself; term aggregation and the
    postings⋈counts join ride the bucket layout, so the only corpus-sized
    exchange left is the final per-doc fold (live form: 8 exchanges)."""
    table = _stored_postings(spark, sf_dir)
    return retrieval.unigram_perplexity_from_index(spark, table)


@query("bigram_lm_stored_postings", _BIGRAM_ORACLE)
def bigram_lm_stored_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Bigram-LM fluency against the STORED bigram index
    (operators.retrieval.bigram_logprob_from_index) — the catalog's
    shuffle-heaviest live plan (13 exchanges, 3 corpus tokenize passes)
    probed index-shaped: bigram counts and the doc⋈counts join ride the
    bucket layout; only the vocabulary-sized history table and the final
    per-doc fold shuffle."""
    docs = load_table(spark, sf_dir, "documents")

    def build(table: str, path: str) -> str:
        # auto bucket count (retrieval.auto_index_buckets, round-8
        # VERDICT #1): the fixed ×200-tuned 32-bucket layout doubled
        # this probe at sf0.1 (5k docs — per-bucket overhead dominates
        # a few-MB index); auto restores 8 buckets here (idle-host
        # min-of-5: 0.48 s vs 0.76 s) while ×200 still gets the
        # measured 32 via the parallelism cap
        retrieval.build_bigram_index(docs, "doc_id", "text", table, path)
        return table

    table = _stored_index(spark, sf_dir, "bigram", build)
    return retrieval.bigram_logprob_from_index(spark, table, add_k=0.5)


def _bpe_seg_ctes(n_merges: int, carry_w: bool = False) -> str:
    """The shared WITH-clause prefix of the BPE oracles: the per-word
    segmentation state lives as a DOUBLE-SPACE-joined string with
    single-space padding (' a  b  c '), so applying merge rule (a, b) is
    one boundary-safe replace(' a  b ' → ' ab ') — replace scans
    left-to-right non-overlapping, exactly the greedy merge order the
    Spark fold implements, and adjacent occurrences stay disjoint
    because each consumes only one of the two separator spaces on each
    side.  ``carry_w=True`` keeps the word string in every s{i} so the
    encode oracle can join the final segmentation back to documents;
    the train oracle drops it (state is (cnt, seg) only, matching the
    Spark trainer)."""
    keep = "w, cnt" if carry_w else "cnt"
    parts = [
        "WITH w AS MATERIALIZED (SELECT u.w AS w, COUNT(*) AS cnt FROM (SELECT "
        f"{_TOKENS_SQL} AS t FROM documents), UNNEST(t) AS u(w) "
        "WHERE length(u.w) >= 1 GROUP BY u.w),\n"
        f"s0 AS MATERIALIZED (SELECT {keep}, ' ' || array_to_string(list_transform("
        "range(1, length(w) + 1), i -> substr(w, i, 1)), '  ') || ' ' "
        "AS seg FROM w)"
    ]
    for i in range(1, n_merges + 1):
        parts.append(f""",
p{i} AS MATERIALIZED (
  SELECT u.pr[1] AS lhs, u.pr[2] AS rhs, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM (SELECT cnt,
               list_transform(range(1, len(syms)), j -> [syms[j], syms[j + 1]]) AS prs
        FROM (SELECT cnt, string_split(trim(seg), '  ') AS syms FROM s{i - 1})
        WHERE len(syms) >= 2), UNNEST(prs) AS u(pr)
  GROUP BY 1, 2),
b{i} AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM p{i}
         ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
s{i} AS MATERIALIZED (SELECT {keep}, replace(seg,
           ' ' || (SELECT lhs FROM b{i}) || '  ' || (SELECT rhs FROM b{i}) || ' ',
           ' ' || (SELECT lhs FROM b{i}) || (SELECT rhs FROM b{i}) || ' ') AS seg
         FROM s{i - 1})""")
    return "".join(parts)


def _bpe_train_oracle(n_merges: int) -> str:
    """Unrolled DuckDB twin of text.bpe_train (round-8 VERDICT #6):
    :func:`_bpe_seg_ctes` + one row per picked rule.  All-integer counts
    + lexicographic tie-breaks ⇒ bit-exact hash match with the Spark
    trainer."""
    sel = " UNION ALL ".join(
        f"SELECT {i} AS step, lhs, rhs, lhs || rhs AS merged, pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return _bpe_seg_ctes(n_merges) + f" SELECT * FROM ({sel}) ORDER BY step"


def _bpe_encode_oracle(n_merges: int) -> str:
    """Unrolled DuckDB twin of text.bpe_encode over a tokenizer trained
    in the same statement (round-9 VERDICT #2 — the train→encode round
    trip): the segmentation CTEs carry the word string through all
    ``n_merges`` replace passes, the final s{n} is the per-DISTINCT-word
    token table (encode cost scales with |vocab| in both engines), and a
    join back to the document words yields per-doc word/token counts and
    REAL fertility from the learned tokenizer — not the regex heuristic.
    Integer counts throughout; fertility is the one rounded exact ratio."""
    n = n_merges
    return _bpe_seg_ctes(n, carry_w=True) + f""",
enc AS MATERIALIZED (
  SELECT w, len(string_split(trim(seg), '  ')) AS n_toks FROM s{n}),
dw AS (
  SELECT doc_id, u.w AS w
  FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents), UNNEST(t) AS u(w)
  WHERE length(u.w) >= 1)
SELECT dw.doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(e.n_toks) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(e.n_toks) AS DOUBLE) / COUNT(*), 6) AS fertility
FROM dw JOIN enc e USING (w)
GROUP BY dw.doc_id"""


@query("bpe_train_merges", _bpe_train_oracle(6))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Iterative BPE tokenizer induction (operators.text.bpe_train,
    round-8 VERDICT #6): 6 full merge rounds — most-frequent adjacent
    symbol pair per round (ties: count desc, lhs, rhs), merged greedily
    left-to-right corpus-wide before the next count.  One corpus scan
    total (the word-frequency compression IS the trainer state), one
    vocab-sized shuffle per round, JVM-side HOF re-segmentation.  The
    DuckDB oracle unrolls the same 6 rounds over a double-space-encoded
    segmentation string, so the hash match pins the whole loop."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_train(docs, "text", n_merges=6)


@query("bpe_encode_fertility", _bpe_encode_oracle(6))
def bpe_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ The train→encode round trip (operators.text.bpe_encode, round-9
    VERDICT #2): train 6 BPE merges on the corpus, then tokenize the
    corpus with the learned table — per-doc word/token counts and REAL
    fertility (tokens per word from the learned tokenizer, replacing the
    regex heuristic).  Encode folds run over the DISTINCT-word table
    (|vocab|-sized work, the trainer's own compression discipline) and
    join back broadcast; the DuckDB oracle unrolls the same 6 replace
    passes per distinct word, so the hash match pins rule application,
    token counts, and the fertility ratio end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, "text", n_merges=6)
    enc = text.bpe_encode(docs, "doc_id", "text", merges)
    return enc.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("n_words"), 6).alias("fertility"),
    )


@query(
    "bpe_merge_candidates",
    f"""
    WITH w AS (
      SELECT u.w FROM (SELECT {_TOKENS_SQL} AS t FROM documents),
                      UNNEST(t) AS u(w)
    ),
    p AS (
      SELECT u.pair
      FROM (SELECT list_transform(range(1, length(w)), i -> substr(w, i, 2)) AS prs
            FROM w WHERE length(w) >= 2),
           UNNEST(prs) AS u(pair)
    ),
    c AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair)
    SELECT pair, cnt, rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rank FROM c)
    WHERE rank <= 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Tokenizer induction step (operators.text.bpe_merge_candidates):
    the top-20 adjacent character pairs inside words — what a BPE trainer
    would merge next.  Token explode → in-word pair explode → partial-agg
    count → top-k on the tiny pair table (ties by pair string)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_merge_candidates(docs, "text", top_k=20)


@query(
    "data_quality_expectations",
    """
    SELECT 'not_null(l_orderkey)' AS check, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM lineitem
    UNION ALL
    SELECT 'in_range(l_quantity,1,50)', COUNT(*),
           CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
                         THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
                    THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'accepted_values(l_returnflag)', COUNT(*),
           CAST(SUM(CASE WHEN l_returnflag IS NULL
                              OR l_returnflag NOT IN ('A', 'N', 'R')
                         THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN l_returnflag IS NULL
                         OR l_returnflag NOT IN ('A', 'N', 'R')
                    THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'charge_non_negative', COUNT(*),
           CAST(SUM(CASE WHEN NOT COALESCE(
                    l_extendedprice * (1 - l_discount) >= 0, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN NOT COALESCE(
                    l_extendedprice * (1 - l_discount) >= 0, FALSE)
                    THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'unique(o_orderkey)', COUNT(*),
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           COUNT(*) = COUNT(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'references(l_orderkey)', COUNT(*),
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
    FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    """,
)
def data_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Data-quality expectations (operators.expectations): declarative
    whole-table contracts — nullability, ranges, accepted values, a custom
    predicate, key uniqueness, and lineitem→orders referential integrity —
    the set-oriented extension of the reference's per-value validated
    ingest (feature_registry.py:483).  All row-local checks fold into ONE
    conditional-sum pass over lineitem; uniqueness is one distinct-count;
    the FK check is one anti-join; violations are counted, never
    collected."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    checks = [
        expectations.not_null("l_orderkey"),
        expectations.in_range("l_quantity", 1, 50),
        expectations.accepted_values("l_returnflag", ["A", "N", "R"]),
        expectations.satisfies(
            "charge_non_negative",
            F.col("l_extendedprice") * (1 - F.col("l_discount")) >= 0,
        ),
    ]
    return expectations.expectation_suite(
        li,
        checks,
        references=[("l_orderkey", o, "o_orderkey")],
    ).unionByName(
        expectations.uniqueness_report(o, ["o_orderkey"]),
        allowMissingColumns=False,
    )


@query(
    "funnel_conversion",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) OVER w AS first_view
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    o2 AS (
      SELECT *,
             MIN(CASE WHEN event_type = 'click' AND first_view IS NOT NULL
                           AND ts > first_view THEN ts END) OVER w AS first_click
      FROM o
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    per_user AS (
      SELECT user_id,
             MAX(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS s1,
             MAX(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS s2,
             MAX(CASE WHEN event_type = 'purchase' AND first_click IS NOT NULL
                           AND ts > first_click THEN 1 ELSE 0 END) AS s3
      FROM o2 GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(s1) AS BIGINT) AS viewed,
           CAST(SUM(s2) AS BIGINT) AS clicked_after_view,
           CAST(SUM(s3) AS BIGINT) AS purchased_after_click,
           ROUND(SUM(s2) * 1.0 / SUM(s1), 6) AS view_to_click,
           ROUND(SUM(s3) * 1.0 / SUM(s2), 6) AS click_to_purchase
    FROM per_user
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Ordered funnel analysis: view → click-after-view →
    purchase-after-that-click, per user, with step conversion rates.
    Ordered-sequence semantics via two layered running-min windows inside
    ONE per-user sort (partitions bounded by events-per-user — uniform,
    no global sort), then a single groupBy.  The product-analytics shape
    (strict event ORDER, not mere co-occurrence) that plain joins get
    wrong."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w).alias(
            "first_view"
        ),
    )
    o2 = o.withColumn(
        "first_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & F.col("first_view").isNotNull()
                & (F.col("ts") > F.col("first_view")),
                F.col("ts"),
            )
        ).over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_user = o2.groupBy("user_id").agg(
        F.max(F.when(F.col("first_view").isNotNull(), 1).otherwise(0)).alias("s1"),
        F.max(F.when(F.col("first_click").isNotNull(), 1).otherwise(0)).alias("s2"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("first_click").isNotNull()
                & (F.col("ts") > F.col("first_click")),
                1,
            ).otherwise(0)
        ).alias("s3"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("s1").alias("viewed"),
        F.sum("s2").alias("clicked_after_view"),
        F.sum("s3").alias("purchased_after_click"),
        F.round(F.sum("s2") * F.lit(1.0) / F.sum("s1"), 6).alias("view_to_click"),
        F.round(F.sum("s3") * F.lit(1.0) / F.sum("s2"), 6).alias(
            "click_to_purchase"
        ),
    )


@query(
    "cohort_retention",
    """
    WITH wk AS (
      SELECT user_id,
             CAST(FLOOR((CAST(ts AS DATE) - DATE '2024-01-01') / 7) AS INTEGER) AS week
      FROM events
    ),
    cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, week FROM wk),
    cell AS (
      SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
             COUNT(DISTINCT a.user_id) AS n_active
      FROM active a JOIN cohort c USING (user_id)
      GROUP BY c.cohort_week, a.week - c.cohort_week
    )
    SELECT cohort_week, week_offset, n_active,
           ROUND(n_active * 1.0 / FIRST_VALUE(n_active) OVER (
               PARTITION BY cohort_week ORDER BY week_offset), 6) AS retention
    FROM cell
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Cohort retention: users grouped by first-seen week; for each
    (cohort, week-offset) the share still active — the standard retention
    triangle.  Two partial-agg passes over events (first-week per user +
    distinct activity) joined on user (hash-uniform), then ratios via a
    window over the tiny cohort×offset grid (offset 0 is the cohort size
    by construction)."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        / 7
    ).cast("int")
    wk = ev.select("user_id", week.alias("week"))
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = wk.distinct()
    cell = (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    w = Window.partitionBy("cohort_week").orderBy("week_offset")
    return cell.withColumn(
        "retention",
        F.round(
            F.col("n_active") * F.lit(1.0) / F.first("n_active").over(w), 6
        ),
    )


@query(
    "snapshot_diff_changelog",
    """
    WITH ch AS (
      SELECT user_id, event_type, ts, value, event_id,
             CASE WHEN value < 1.0 THEN 'D' ELSE 'U' END AS op
      FROM events
    ),
    half AS (
      SELECT user_id, event_type, event_id, ts, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ch WHERE ts < TIMESTAMP '2024-01-16 00:00:00')
      WHERE rn = 1 AND op = 'U'
    ),
    full_s AS (
      SELECT user_id, event_type, event_id, ts, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM ch)
      WHERE rn = 1 AND op = 'U'
    )
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           COALESCE(o.event_type, n.event_type) AS event_type,
           CASE WHEN n.user_id IS NOT NULL THEN n.event_id ELSE o.event_id END AS event_id,
           CASE WHEN n.user_id IS NOT NULL THEN n.ts ELSE o.ts END AS ts,
           CASE WHEN n.user_id IS NOT NULL THEN n.value ELSE o.value END AS value,
           CASE WHEN o.user_id IS NULL THEN 'U'
                WHEN n.user_id IS NULL THEN 'D'
                WHEN o.event_id IS DISTINCT FROM n.event_id
                     OR o.ts IS DISTINCT FROM n.ts
                     OR o.value IS DISTINCT FROM n.value THEN 'U' END AS op
    FROM half o FULL OUTER JOIN full_s n
      ON o.user_id = n.user_id AND o.event_type = n.event_type
    WHERE (CASE WHEN o.user_id IS NULL THEN 'U'
                WHEN n.user_id IS NULL THEN 'D'
                WHEN o.event_id IS DISTINCT FROM n.event_id
                     OR o.ts IS DISTINCT FROM n.ts
                     OR o.value IS DISTINCT FROM n.value THEN 'U' END) IS NOT NULL
    """,
)
def snapshot_diff_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Snapshot diff (operators.cdc.snapshot_diff): the minimal changelog
    transforming the day-15 CDC state into the day-30 state — inserts and
    changed winners become upserts, keys whose last change was a delete
    become deletes, unchanged keys emit nothing.  One full-outer join on
    the merge keys; the inverse of apply_changes (roundtrip unit-tested:
    applying the diff on top of `old` reproduces `new`)."""
    ev = load_table(spark, sf_dir, "events")
    changelog = ev.select(
        "user_id", "event_type", "event_id", "ts", "value",
        F.when(F.col("value") < 1.0, F.lit(cdc.DELETE_OP))
        .otherwise(F.lit(cdc.UPSERT_OP))
        .alias("op"),
    )
    keys = ["user_id", "event_type"]
    cut = "2024-01-16 00:00:00"
    old = cdc.materialize(
        changelog.where(F.col("ts") < cut), keys, "ts", tiebreak=["event_id"]
    )
    new = cdc.materialize(changelog, keys, "ts", tiebreak=["event_id"])
    return cdc.snapshot_diff(old, new, keys)


@query(
    "pit_leakage_audit",
    f"""
    WITH pit AS ({_PIT_JOIN_SQL})
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN click_value__timestamp > ts THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaks,
           CAST(SUM(CASE WHEN click_value__timestamp IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatched,
           SUM(CASE WHEN click_value__timestamp > ts THEN 1 ELSE 0 END) = 0 AS passed
    FROM pit
    """,
)
def pit_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ Leakage audit over the flagship PIT join: every attached feature
    timestamp must be ≤ its spine row's timestamp (zero look-ahead) — the
    auditable form of the reference's as-of invariant
    (feature_server.py:355-408), run as an expectation over the join
    output rather than trusted by construction."""
    joined = pit_training_join(spark, sf_dir)
    leak = F.col("click_value__timestamp") > F.col("ts")
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(leak, 1).otherwise(0)).alias("n_leaks"),
        F.sum(
            F.when(F.col("click_value__timestamp").isNull(), 1).otherwise(0)
        ).alias("n_unmatched"),
        (F.sum(F.when(leak, 1).otherwise(0)) == 0).alias("passed"),
    )


# ---------------------------------------------------------------------------
# Corpus chunking, vocabulary coverage, skew diagnostics, burst dedup (★)
# ---------------------------------------------------------------------------


@query(
    "rag_chunk_documents",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    b AS (
      SELECT doc_id, t, len(t) AS n,
             CAST(1 + CEIL(GREATEST(len(t) - 64, 0) / 48.0) AS INTEGER) AS n_chunks
      FROM toks
    ),
    c AS (
      SELECT doc_id, t, n, n_chunks,
             UNNEST(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM b
    )
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, n_chunks,
           chunk_idx * 48 AS token_start,
           LEAST(64, n - chunk_idx * 48) AS chunk_token_count,
           array_to_string(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
             AS chunk_text
    FROM c
    """,
)
def rag_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ RAG chunking: 64-token windows, 16-token overlap (stride 48) —
    see operators/chunking.chunk_documents.  Zero-shuffle codegen row
    expansion; the chunk table is what the embedding/dedup stages index.
    The reference stores documents whole (feature_registry.py:97-114)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunking.chunk_documents(
        docs, "doc_id", "text", chunk_tokens=64, overlap_tokens=16
    )


@query(
    "vocab_top_coverage",
    f"""
    WITH toks AS (
      SELECT UNNEST({_TOKENS_SQL}) AS token FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    ranked AS (
      SELECT token, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rank,
             SUM(cnt) OVER () AS total,
             SUM(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM counts
    )
    SELECT token, rank, cnt,
           ROUND(cnt / total, 6) AS frac,
           ROUND(cum / total, 6) AS cum_frac
    FROM ranked WHERE rank <= 100
    """,
)
def vocab_top_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ tokenizer-training vocabulary curve: top-100 corpus tokens with
    exact cumulative mass coverage — see text.vocab_coverage.  The top-k
    cut is TakeOrderedAndProject over the partial-aggregated count table;
    no global window touches the full vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    return text.vocab_coverage(docs, "text", top_k=100)


@query(
    "join_key_skew_profile",
    """
    WITH counts AS (
      SELECT user_id AS k, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    topn AS (
      SELECT SUM(cnt) AS topn_rows
      FROM (SELECT cnt FROM counts ORDER BY cnt DESC, k LIMIT 10)
    ),
    agg AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
             COUNT(*) AS n_keys,
             MAX(cnt) AS max_key_rows,
             SUM(CAST(cnt * LN(cnt) AS DECIMAL(28,6))) AS sum_clnc
      FROM counts
    )
    SELECT n_rows, n_keys, max_key_rows,
           CAST(FLOOR(max_key_rows * 1000000 / n_rows) AS BIGINT) AS top1_share_ppm,
           CAST(FLOOR(topn_rows * 1000000 / n_rows) AS BIGINT) AS topn_share_ppm,
           CAST(FLOOR(n_rows * 1000 / n_keys) AS BIGINT) AS avg_rows_per_key_x1000,
           CASE WHEN n_keys > 1 THEN
             ROUND((LN(n_rows) - CAST(sum_clnc AS DOUBLE) / n_rows)
                   / LN(n_keys), 6)
           END AS entropy_norm
    FROM agg, topn
    """,
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ shuffle-key pre-flight: skew diagnostics for events.user_id (the
    engine's hottest join/session key) — see profile.key_skew_profile.
    Decides plain hash partitioning vs salted_join/AQE skew handling
    before a 100 TB shuffle is committed."""
    ev = load_table(spark, sf_dir, "events")
    return profile.key_skew_profile(ev, "user_id", top_n=10)


@query(
    "events_burst_dedup",
    """
    WITH x AS (
      SELECT event_id, user_id, event_type, ts, value,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT event_id, user_id, event_type, ts, value
    FROM x
    WHERE prev_ts IS NULL
       OR date_diff('second', prev_ts, ts) >= 60
    """,
)
def events_burst_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ telemetry burst dedup: drop events arriving < 60 s after the
    previous event of the same (user, type) — see dedup.burst_dedup.
    One shuffle on the dedup keys (the lag window); kept rows returned
    for exact verification."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    return dedup.burst_dedup(
        ev, ["user_id", "event_type"], "ts", min_gap_seconds=60, tie_col="event_id"
    )


def _cov_oracle(d: int = 8) -> str:
    sums = ",\n           ".join(
        f"SUM(CAST(CAST(embedding[{i+1}] AS DOUBLE) AS DECIMAL(30,12))) AS s{i}"
        for i in range(d)
    )
    prods = ",\n           ".join(
        f"SUM(CAST(CAST(embedding[{i+1}] AS DOUBLE) * CAST(embedding[{j+1}] AS DOUBLE)"
        f" AS DECIMAL(30,12))) AS p{i}_{j}"
        for i in range(d)
        for j in range(i, d)
    )
    rows = "\n    UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, n, ROUND((CAST(p{i}_{j} AS DOUBLE)"
        f" - CAST(s{i} AS DOUBLE) * CAST(s{j} AS DOUBLE) / n) / (n - 1), 6)"
        f" AS cov FROM a"
        for i in range(d)
        for j in range(i, d)
    )
    return f"""
    WITH a AS (
      SELECT COUNT(*) AS n,
           {sums},
           {prods}
      FROM embeddings
    )
    {rows}
    """


@query("embedding_covariance_stats", _cov_oracle())
def embedding_covariance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ exact sample covariance of the first 8 embedding dimensions in
    ONE corpus scan — the verification slice of the full d×d Gram/PCA
    path (similarity.gram_matrix / pca_fit, which BLAS-accumulates all
    64² moments per Arrow batch; this 8-dim slice is expressed as plain
    decimal-sum aggregates so an external engine can reproduce it
    bit-for-bit).  Long format (i, j, n, cov), i ≤ j.

    Plan note: moments are exploded to (i, j, term) rows and summed by a
    single generic hash aggregate instead of 45 parallel decimal agg
    expressions — the wide form codegen-compiles for ~7 s regardless of
    data size (measured), the long form compiles instantly and its 36×
    row expansion partial-aggregates away before the shuffle.

    The marginals (per-dimension sums, row count) ride the SAME
    aggregate as the pair moments — mirrored sum cells (k,-1)/(-1,k)
    plus window maxes over the ≤74-row aggregate — instead of filtered
    re-branches of it: Catalyst pushes a grouping-column filter BELOW
    the aggregate, so branch plans differ, ReuseExchange never fires,
    and the branched form scanned+exploded the corpus FOUR times (plan-
    verified; the windows here shuffle ~74 rows, the corpus once)."""
    d = 8
    emb = load_table(spark, sf_dir, "embeddings")
    xs = [f"CAST({ident('embedding')}[{i}] AS DOUBLE)" for i in range(d)]
    # (i, j, xi*xj) pair terms; (k, -1) AND (-1, k) mirrored sum terms
    # (so both the i- and the j-partition window can see dimension k's
    # sum); (-1, -1, 1) count.  One parsed SQL string: the Column-API
    # loop was ~370 py4j round trips of construction per call.
    cell = "named_struct('i', {i}, 'j', {j}, 'term', CAST({t} AS DECIMAL(30,12)))"
    cells = F.expr(
        "array("
        + ", ".join(
            [
                cell.format(i=i, j=j, t=f"({xs[i]} * {xs[j]})")
                for i in range(d)
                for j in range(i, d)
            ]
            + [cell.format(i=i, j=-1, t=xs[i]) for i in range(d)]
            + [cell.format(i=-1, j=j, t=xs[j]) for j in range(d)]
            + [cell.format(i=-1, j=-1, t="1")]
        )
        + ")"
    )
    sums = (
        emb.select(F.explode(cells).alias("c"))
        .groupBy("c.i", "c.j")
        .agg(F.sum("c.term").alias("t"))
    )
    w_i = Window.partitionBy("i")
    w_j = Window.partitionBy("j")
    w_all = Window.partitionBy()  # ≤74 rows — single tiny partition
    enriched = sums.select(
        "i",
        "j",
        "t",
        F.max(F.when(F.col("j") == -1, F.col("t"))).over(w_i).alias("__si"),
        F.max(F.when(F.col("i") == -1, F.col("t"))).over(w_j).alias("__sj"),
        F.max(
            F.when((F.col("i") == -1) & (F.col("j") == -1), F.col("t"))
        ).over(w_all).alias("__n"),
    )
    n = F.col("__n").cast("bigint")
    return (
        enriched.where((F.col("i") >= 0) & (F.col("j") >= 0))
        .select(
            "i",
            "j",
            n.alias("n"),
            F.round(
                (
                    F.col("t").cast("double")
                    - F.col("__si").cast("double")
                    * F.col("__sj").cast("double")
                    / n
                )
                / (n - 1),
                6,
            ).alias("cov"),
        )
    )


def _hist_quantile_oracle(lo=0.0, hi=500.0, bins=50, qs=(0.5, 0.95)) -> str:
    width = (hi - lo) / bins
    per_q = []
    for q in qs:
        name = f"p{int(round(q * 100))}"
        per_q.append(
            f"""
    sel_{name} AS (
      SELECT event_type, i, c, prev_cum, total,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY i) AS rn
      FROM cum
      WHERE CAST(cum AS DOUBLE) >= CAST({q} AS DOUBLE) * total AND c > 0
    ),
    val_{name} AS (
      SELECT event_type,
             ROUND(LEAST({lo} + (i + (CAST({q} AS DOUBLE) * total - prev_cum) / c)
                         * {width}, {hi}), 6) AS {name}
      FROM sel_{name} WHERE rn = 1
    )"""
        )
    joins = " ".join(
        f"JOIN val_p{int(round(q * 100))} USING (event_type)" for q in qs
    )
    names = ", ".join(f"p{int(round(q * 100))}" for q in qs)
    return f"""
    WITH b AS (
      SELECT event_type,
             CAST(LEAST(GREATEST(FLOOR(CAST(value AS DOUBLE) / {width}), 0),
                        {bins - 1}) AS BIGINT) AS i,
             COUNT(*) AS c
      FROM events GROUP BY event_type, 2
    ),
    cum AS (
      SELECT event_type, i, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY i) AS cum,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY i) - c
                  AS DOUBLE) AS prev_cum,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS DOUBLE) AS total
      FROM b
    ),{','.join(per_q)}
    SELECT event_type, CAST(t.total AS BIGINT) AS n, {names}
    FROM (SELECT event_type, ANY_VALUE(total) AS total FROM cum GROUP BY 1) t
    {joins}
    """


@query("value_quantile_sketch", _hist_quantile_oracle())
def value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ mergeable-histogram quantile estimates (p50/p95 of events.value
    per event type) via the IVM 'hist' state
    (maintenance.incremental_agg → finalize_agg_states) — the
    incremental twin of exact percentiles: bucket counts are mergeable
    across batches/partitions forever, quantiles derive at read time with
    ≤ one-bucket-width error.  Exact-integer counts make the estimate
    bit-deterministic, so an external engine can reproduce it."""
    from feature_store_healthcare_spark import maintenance

    ev = load_table(spark, sf_dir, "events")
    st = maintenance.incremental_agg(
        ev,
        ["event_type"],
        "value",
        specs=["count", "hist"],
        hist_lo=0.0,
        hist_hi=500.0,
        hist_bins=50,
    )
    fin = maintenance.finalize_agg_states(st, ["event_type"], quantiles=(0.5, 0.95))
    return fin.select(
        "event_type",
        "n",
        F.round("p50", 6).alias("p50"),
        F.round("p95", 6).alias("p95"),
    )


@query(
    "multimodal_frame_dedup",
    f"""
    WITH media AS (
      SELECT doc_id AS media_id, {_MEDIA_KIND_SQL} AS kind,
             length(text) % 240 + 24 AS n_frames, text
      FROM documents
    ),
    f AS (
      SELECT media_id, UNNEST(range(0, n_frames, 10)) AS frame_idx, text
      FROM media WHERE kind = 'video'
    ),
    s AS (
      SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
             md5(substr(text, CAST(frame_idx + 1 AS INTEGER), 64)) AS sig
      FROM f
    ),
    g AS (
      SELECT sig, COUNT(*) AS n_frames, COUNT(DISTINCT media_id) AS n_media,
             MIN({{'media_id': media_id, 'frame_idx': frame_idx}}) AS k
      FROM s GROUP BY sig
    )
    SELECT sig, n_frames, n_media,
           k.media_id AS keeper_media_id, k.frame_idx AS keeper_frame_idx
    FROM g WHERE n_frames > 1
    """,
)
def multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-52 × OP-48: cross-video duplicate-frame detection — sampled
    frames hash a payload slice JVM-side (multimodal.frame_signatures;
    pHash stand-in on the stubbed codec) and collide into dedup groups
    with a deterministic keeper (multimodal.frame_dedup_groups).  The
    shuffle key is the hash-uniform signature: no skew at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synthesize_media_table(docs)
    frames = multimodal.frame_signatures(media, every=10, window=64)
    return multimodal.frame_dedup_groups(frames)


@query(
    "temperature_domain_sample",
    """
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS ntot,
             CAST(SUM(CAST(POW(CAST(n AS DOUBLE), 1.0/2.0) AS DECIMAL(30,10)))
                  AS DOUBLE) AS z
      FROM counts
    ),
    rates AS (
      SELECT source,
             LEAST(1.0, 0.5 * ntot * POW(CAST(n AS DOUBLE), 1.0/2.0) / (z * n))
               AS rate
      FROM counts, tot
    )
    SELECT d.doc_id, d.source, ROUND(r.rate, 6) AS accept_rate
    FROM documents d JOIN rates r USING (source)
    WHERE r.rate >= 1.0
       OR substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
          < lpad(lower(hex(CAST(FLOOR(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
    """,
)
def temperature_domain_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ temperature-weighted domain mixture (T=2, target 50% of the
    corpus): the mixture flattens toward uniform — small sources keep a
    higher share — via the deterministic md5 threshold
    (sampling.temperature_sample).  One tiny per-source count, one
    broadcast join, one corpus scan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.temperature_sample(
        docs, "source", "doc_id", temperature=2.0, target_frac=0.5, salt="temp"
    )


_MIX_TARGET = {"en": 0.4, "de": 0.2, "fr": 0.15, "es": 0.15, "zh": 0.1}


@query(
    "source_mix_plan",
    f"""
    WITH per AS (
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
      HAVING CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) > 0
    ),
    tgt(lang, target_frac) AS (
      VALUES {', '.join(f"('{k}', CAST({v} AS DOUBLE))" for k, v in sorted(_MIX_TARGET.items()))}
    ),
    j AS (
      SELECT per.lang, n_docs, n_tokens, target_frac
      FROM per JOIN tgt USING (lang)
    ),
    b AS (
      SELECT MIN(CAST(n_tokens AS DOUBLE) * CAST(2 AS DOUBLE) / target_frac)
               AS budget
      FROM j
    )
    SELECT lang, n_docs, n_tokens, target_frac,
           ROUND(b.budget * target_frac, 2) AS alloc_tokens,
           ROUND(b.budget * target_frac / CAST(n_tokens AS DOUBLE), 6) AS epochs
    FROM j, b
    """,
)
def source_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ training-mix planner (sampling.source_mix_plan): target per-lang
    token shares (40% en / 20% de / 15% fr / 15% es / 10% zh), max 2
    epochs per lang — the largest budget honoring every share, each
    lang's allocation and epoch count under it.  The planning half of
    the mixing story: `domain_mix_report` MATERIALIZES given per-source
    multiplicities (sampling.weighted_mix); this COMPUTES them (its
    `epochs` column is weighted_mix's weights input) from targets +
    availability.  One corpus scan, one |langs|-row broadcast,
    fixed-order double arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.source_mix_plan(
        docs,
        "lang",
        text.token_count(F.col("text")),
        target=_MIX_TARGET,
        max_epochs=2.0,
    )


#: shared DSIR oracle prefix: hashed per-(doc, dim) tf over the FULL
#: corpus, per-dim distribution statistics (target = lang 'en'), totals
#: and the add-0.5-smoothed per-dim log importance ratio (αD = 0.5·256 =
#: 128).  Both the single-pass entry and the stored-incremental twin
#: score against these same full-corpus distributions — the twin just
#: restricts the scored rows to the delta.
_DSIR_CTES = f"""tf AS (
      SELECT doc_id, substr(md5(tok), 1, 2) AS dim, COUNT(*) AS tf
      FROM (SELECT doc_id, UNNEST({_TOKENS_SQL}) AS tok FROM documents)
      WHERE length(tok) >= 1
      GROUP BY doc_id, substr(md5(tok), 1, 2)
    ),
    tfl AS (
      SELECT tf.doc_id, tf.dim, tf.tf, (d.lang = 'en') AS tgt
      FROM tf JOIN documents d USING (doc_id)
    ),
    dist AS (
      SELECT dim, CAST(SUM(tf) AS BIGINT) AS r_ct,
             CAST(SUM(CASE WHEN tgt THEN tf ELSE 0 END) AS BIGINT) AS t_ct
      FROM tfl GROUP BY dim
    ),
    tot AS (
      SELECT CAST(SUM(r_ct) AS BIGINT) AS r_tot,
             CAST(SUM(t_ct) AS BIGINT) AS t_tot
      FROM dist
    ),
    lr AS (
      SELECT dim,
             ln((t_ct + 0.5) / (t_tot + 128.0))
           - ln((r_ct + 0.5) / (r_tot + 128.0)) AS logratio
      FROM dist CROSS JOIN tot
    )"""


@query(
    "dsir_importance_resample",
    f"""
    WITH {_DSIR_CTES},
    doc AS (
      SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
             SUM(tf.tf * lr.logratio) AS s
      FROM tf JOIN lr USING (dim) GROUP BY tf.doc_id
    )
    SELECT doc.doc_id, dd.lang, dd.source, doc.n_tokens,
           ROUND(s / n_tokens, 6) AS dsir_logratio,
           ROUND(s / n_tokens, 6) > 0 AS selected
    FROM doc JOIN documents dd USING (doc_id)
    """,
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ DSIR importance weights (sampling.dsir_logratio_weights — Xie et
    al. 2023): every document scored by the length-normalized log ratio of
    its hashed bag-of-words likelihood under the TARGET distribution
    (lang='en', the trusted-domain stand-in) vs the RAW corpus, both
    add-0.5-smoothed multinomials over the 256 md5-hashed dims shared
    with `hashed_tf_vectors`.  ``selected`` thresholds at 0 (more
    target-like than raw-like); resampling WITHOUT replacement composes
    with `weighted_doc_sample`'s Gumbel-top-k on exp(weight).  Two
    corpus-sized shuffles ((doc,dim) tf + the per-doc fold); both
    distribution tables are ≤256 rows built map-side and broadcast
    back — the classifier-free curation lever at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    w = sampling.dsir_logratio_weights(
        docs, "doc_id", "text", is_target=F.col("lang") == "en"
    )
    return w.join(docs.select("doc_id", "lang", "source"), "doc_id").select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "dsir_logratio",
        (F.col("dsir_logratio") > 0).alias("selected"),
    )


def _stored_dsir(spark: SparkSession, sf_dir: str) -> str:
    """The session's stored DSIR distribution table: corpus counts
    (doc_id % 5 != 0) built, the delta batch's counts APPENDED — so the
    folded statistics equal a single full-corpus pass exactly (integer
    counts).  Returns the index root."""

    def build(name: str, path: str) -> str:
        docs = load_table(spark, sf_dir, "documents")
        tgt = F.col("lang") == "en"
        sampling.build_dsir_dist(
            docs.where(F.col("doc_id") % 5 != 0), "text", tgt, path
        )
        sampling.append_dsir_dist(
            docs.where(F.col("doc_id") % 5 == 0), "text", tgt, path
        )
        return path

    return _stored_index(spark, sf_dir, "dsirdist", build)


@query(
    "dsir_incremental_stored",
    f"""
    WITH {_DSIR_CTES},
    doc AS (
      SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
             SUM(tf.tf * lr.logratio) AS s
      FROM tf JOIN lr USING (dim)
      WHERE tf.doc_id % 5 = 0
      GROUP BY tf.doc_id
    )
    SELECT doc_id, n_tokens, ROUND(s / n_tokens, 6) AS dsir_logratio
    FROM doc
    """,
)
def dsir_incremental_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ the STEADY-STATE incremental DSIR form: the distribution
    statistics live as a stored append-only table (sampling.
    build_dsir_dist / append_dsir_dist — integer per-batch count rows,
    folded exactly at read time like the postings stats), and the daily
    batch is scored by sampling.dsir_score_from_dist — one pass over the
    DELTA plus a ≤256·batches-row distribution read; the corpus text is
    never re-read.  The oracle computes the distributions over the FULL
    corpus in one pass and scores the delta, so the hash match proves
    build→append→fold→score ≡ the single-pass recompute — the same
    verification recipe as `dedup_incremental_stored_bands`."""
    path = _stored_dsir(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    delta = docs.where(F.col("doc_id") % 5 == 0)
    return sampling.dsir_score_from_dist(delta, path, "doc_id", "text")


@query(
    "inverse_value_lookup",
    """
    WITH latest AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT event_type, CAST(FLOOR(value / 100.0) AS BIGINT) AS bucket,
           COUNT(*) AS n_entities,
           string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id)
             AS entity_ids
    FROM latest WHERE rn = 1
    GROUP BY event_type, CAST(FLOOR(value / 100.0) AS BIGINT)
    """,
)
def inverse_value_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ reverse feature index: value-bucket → entity posting lists over
    the LATEST EAV state ("which users currently hold value ≈ X for
    feature F" — the inverse of a point-get; the reference can only scan
    its dict, feature_store.py).  Built from the same partial-agg argmax
    as eav_latest_per_key plus one hash-uniform groupBy; posting lists
    are sorted+joined for deterministic comparison."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    latest = latest_per_key(ev, ["user_id", "event_type"], "ts", tiebreak=["event_id"])
    bucket = F.floor(F.col("value") / 100.0).cast("bigint")
    return (
        latest.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("user_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("entity_ids"),
        )
    )


@query(
    "hashed_tf_vectors",
    f"""
    WITH toks AS (
      SELECT doc_id, UNNEST({_TOKENS_SQL}) AS tok FROM documents
    ),
    tf AS (
      SELECT doc_id, substr(md5(tok), 1, 2) AS dim, COUNT(*) AS tf
      FROM toks GROUP BY doc_id, substr(md5(tok), 1, 2)
    )
    SELECT doc_id, dim, tf,
           ROUND(tf / SQRT(SUM(tf * tf) OVER (PARTITION BY doc_id)), 6)
             AS tf_l2
    FROM tf
    """,
)
def hashed_tf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ feature-hashed sparse TF vectors (256 dims via 2-hex-char md5
    buckets, L2-normalized) — text.hashed_tf; the vocabulary-free
    vectorization a sparse classifier or inverted index consumes.  Long
    form only: occupied cells materialize, nothing else."""
    docs = load_table(spark, sf_dir, "documents")
    return text.hashed_tf(docs, "doc_id", "text", prefix_chars=2)


def _incr_minhash_oracle(num_hashes: int = 16, bands: int = 4, n: int = 3) -> str:
    rows = num_hashes // bands
    shingle = "concat_ws(' ', t[i], t[i+1], t[i+2])"
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, {shingle} AS shingle
      FROM toks, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - {n - 1}, 1) + 1)) AS i)
    ),
    mh AS (
      SELECT doc_id, h, MIN(substr(md5(concat(h, ':', shingle)), 1, 16)) AS mhv
      FROM sh, LATERAL (SELECT UNNEST(range(0, {num_hashes})) AS h)
      GROUP BY doc_id, h
    ),
    banded AS (
      SELECT doc_id, h // {rows} AS band,
             md5(string_agg(mhv, '|' ORDER BY h)) AS bkey
      FROM mh GROUP BY doc_id, h // {rows}
    )
    SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS corpus_id
    FROM banded l JOIN banded r ON l.band = r.band AND l.bkey = r.bkey
    WHERE l.doc_id % 5 = 0 AND r.doc_id % 5 <> 0
    """


@query("dedup_incremental_minhash", _incr_minhash_oracle())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ incremental corpus dedup: today's arrival batch (doc_id % 5 = 0
    stands in for the delta) LSH-probed against the existing corpus only —
    dedup.minhash_lsh_pairs_cross.  The delta broadcasts; the persisted
    corpus band table is probed in place, so daily cost is O(|delta|),
    never O(|corpus|²)."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return dedup.minhash_lsh_pairs_cross(
        new, corpus, "doc_id", "text", n=3, num_hashes=16, bands=4, portable=True
    )


@query("dedup_incremental_stored_bands", _incr_minhash_oracle())
def dedup_incremental_stored_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ the STEADY-STATE incremental dedup form (round-6 VERDICT stretch
    #7): the corpus band table is a STORED bkey-bucketed index
    (dedup.build_band_index) and the daily probe is
    minhash_lsh_pairs_cross(corpus_bands=) — per-batch cost is the delta
    signature build plus a bucket-co-located probe; the corpus text is
    never re-read.  Same oracle as `dedup_incremental_minhash`, so the
    hash match proves build→store→probe ≡ the recompute twin."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)

    def build(table: str, path: str) -> str:
        corpus = docs.where(F.col("doc_id") % 5 != 0)
        dedup.build_band_index(
            corpus, "doc_id", "text", table, path, n_buckets=16,
            n=3, num_hashes=16, bands=4, portable=True,
        )
        return table

    table = _stored_index(spark, sf_dir, "bands", build)
    from feature_store_healthcare_spark.stores import read_table

    warehouse = _writable_warehouse(spark)
    return dedup.minhash_lsh_pairs_cross(
        new, None, "doc_id", "text", n=3, num_hashes=16, bands=4,
        portable=True, corpus_bands=read_table(spark, table),
        # probe-side family gate: a stale (pre-round-8 / cross-family)
        # stored index fails loudly here instead of returning zero pairs
        corpus_index_path=os.path.join(warehouse, table),
    )


_SKEW_BUCKET_SQL = (
    "CASE WHEN s.vmax = s.vmin THEN 0 ELSE "
    "LEAST(GREATEST(CAST(FLOOR(((x.value - s.vmin) / (s.vmax - s.vmin)) * 10) "
    "AS INT), 0), 9) END"
)


@query(
    "training_serving_skew",
    f"""
    WITH train AS (
      SELECT click_value AS value FROM ({_PIT_JOIN_SQL}) p
      WHERE click_value IS NOT NULL
    ),
    online AS (
      SELECT value FROM (
        SELECT value, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
      ) WHERE rn = 1
    ),
    s AS (SELECT 'click_value' AS feature, MIN(value) AS vmin, MAX(value) AS vmax
          FROM train),
    be AS (SELECT s.feature, {_SKEW_BUCKET_SQL} AS bucket FROM train x, s),
    ba AS (SELECT s.feature, {_SKEW_BUCKET_SQL} AS bucket FROM online x, s),
    ce AS (SELECT feature, bucket, COUNT(*) AS cnt_e FROM be GROUP BY feature, bucket),
    ca AS (SELECT feature, bucket, COUNT(*) AS cnt_a FROM ba GROUP BY feature, bucket),
    grid AS (
      SELECT s.feature, r.i AS bucket,
             COALESCE(ce.cnt_e, 0) AS cnt_e, COALESCE(ca.cnt_a, 0) AS cnt_a
      FROM s CROSS JOIN (SELECT UNNEST(range(0, 10)) AS i) r
      LEFT JOIN ce ON ce.feature = s.feature AND ce.bucket = r.i
      LEFT JOIN ca ON ca.feature = s.feature AND ca.bucket = r.i
    ),
    t AS (SELECT feature, CAST(SUM(cnt_e) AS BIGINT) AS tot_e,
                 CAST(SUM(cnt_a) AS BIGINT) AS tot_a
          FROM grid GROUP BY feature)
    SELECT g.feature,
           ROUND(SUM(((g.cnt_e + 0.5) / (t.tot_e + 5.0) - (g.cnt_a + 0.5) / (t.tot_a + 5.0))
                 * LN(((g.cnt_e + 0.5) / (t.tot_e + 5.0)) / ((g.cnt_a + 0.5) / (t.tot_a + 5.0)))), 6) AS psi,
           MAX(t.tot_e) AS n_expected, MAX(t.tot_a) AS n_actual
    FROM grid g JOIN t ON g.feature = t.feature
    GROUP BY g.feature
    """,
)
def training_serving_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ training-serving skew: PSI between the feature values the OFFLINE
    training set actually joined (pit_training_join's click_value) and
    the values the ONLINE store would serve right now (latest click per
    user) — the classic MLOps parity check that catches a broken
    transformation on either path.  Composes the oracle-checked PIT join,
    latest-per-key argmax, and drift.psi; the binning/grid/smoothing
    machinery is the same one feature_drift_psi verifies."""
    ev = load_table(spark, sf_dir, "events")
    training = pit_training_join(spark, sf_dir).where(
        F.col("click_value").isNotNull()
    ).select(F.lit("click_value").alias("feature"), F.col("click_value").alias("value"))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "value", "ts", "event_id"
    )
    online = latest_per_key(
        clicks, ["user_id"], "ts", tiebreak=["event_id"]
    ).select(F.lit("click_value").alias("feature"), "value")
    return drift.psi(training, online, ["feature"], "value", nbins=10)


@query(
    "duplicate_span_report",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS_SQL} AS t FROM documents WHERE text IS NOT NULL
    ),
    spans AS (
      SELECT doc_id,
             array_to_string(t[i : i + 11], ' ') AS span
      FROM toks, LATERAL (SELECT UNNEST(range(1, greatest(len(t) - 11, 1) + 1)) AS i)
    )
    SELECT md5(span) AS span_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM spans
    GROUP BY md5(span)
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def duplicate_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-48/49 at substring granularity — dedup.span_duplicates: 12-token
    sliding windows recurring across documents (bounded exact-substring
    dedup; the memorization-risk spans).  One explode + one groupBy on the
    hash-uniform span key."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.span_duplicates(docs, "doc_id", "text", span_tokens=12)


@query(
    "cuped_experiment_analysis",
    """
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
                       < '80000000'
                  THEN 'treatment' ELSE 'control' END AS arm,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                           THEN CAST(value AS DECIMAL(25,6)) ELSE 0 END)
                  AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                           THEN CAST(value AS DECIMAL(25,6)) ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(30,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(30,10))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(30,10))) AS DOUBLE) AS sxy
      FROM per_user
    ),
    th AS (
      SELECT n, sx / n AS mean_x,
             ((sxy - sx * sy / n) / (n - 1)) / ((sxx - sx * sx / n) / (n - 1))
               AS theta,
             ((sxy - sx * sy / n) / (n - 1)) * ((sxy - sx * sy / n) / (n - 1))
               / (((sxx - sx * sx / n) / (n - 1)) * ((syy - sy * sy / n) / (n - 1)))
               AS rho2
      FROM mom
    )
    SELECT arm, COUNT(*) AS n_users,
           ROUND(CAST(SUM(CAST(y AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*), 6)
             AS mean_post,
           ROUND(CAST(SUM(CAST(y - th.theta * (x - th.mean_x) AS DECIMAL(30,10)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_post_cuped,
           ROUND(MAX(th.theta), 6) AS theta,
           ROUND(MAX(th.rho2) * 100, 2) AS var_reduction_pct
    FROM per_user, th
    GROUP BY arm
    """,
)
def cuped_experiment_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ experiment readout with CUPED variance reduction (Deng et al.
    2013): users md5-split 50/50 into arms (operators.experiment.
    ab_assign — assignment is deterministic and engine-reproducible),
    pre-period value sum (Jan 1-15) as the covariate for the post-period
    metric (Jan 15-30), pooled θ from one decimal-exact moment pass —
    operators.experiment.cuped.  One fact scan + tiny broadcasts."""
    from feature_store_healthcare_spark.operators import experiment

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    dsum = lambda c: F.sum(  # noqa: E731
        F.when(c[0], F.col("value").cast("decimal(25,6)")).otherwise(F.lit(0))
    ).cast("double")
    per_user = ev.groupBy("user_id").agg(
        dsum((F.col("ts") < cutoff,)).alias("x"),
        dsum((F.col("ts") >= cutoff,)).alias("y"),
    ).withColumn("arm", experiment.ab_assign("user_id", salt="ab", treat_frac=0.5))
    return experiment.cuped(per_user, arm_col="arm", pre_col="x", post_col="y")


def _logreg_ctes(n_iters: int = 3, lr: float = 1.0, d: int = 3) -> list[str]:
    """Shared CTE chain for the logreg twins (the `bpe_train`/CUPED oracle
    discipline: every iteration's gradient pass re-derived step by step).
    Weights carry UNROUNDED between steps — only emitted values round to
    6 — and every cross-row sum is DECIMAL(30,10)-exact, so the chain is
    bit-deterministic under any row order.  `feats` carries `lang` so the
    scoring twin can group by it; the gradient CTEs ignore it."""
    dec = lambda e: f"CAST(SUM(CAST({e} AS DECIMAL(30,10))) AS DOUBLE)"  # noqa: E731
    xs = [f"x{j}" for j in range(1, d + 1)]
    ctes = [
        f"""feats AS (
      SELECT lang,
             len(regexp_extract_all(text, '[^0-9a-zA-Z_\\s]'))
               / greatest(length(text), 1) AS x1,
             len(regexp_extract_all(text, '[0-9]'))
               / greatest(length(text), 1) AS x2,
             len({_TOKENS_SQL}) / CAST(256 AS DOUBLE) AS x3,
             CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE)
                  ELSE CAST(0 AS DOUBLE) END AS y
      FROM documents
    )""",
        "c AS (SELECT COUNT(*) AS n FROM feats)",
        "it0 AS (SELECT "
        + ", ".join(f"CAST(0 AS DOUBLE) AS w{j}" for j in range(d + 1))
        + ")",
    ]
    for k in range(1, n_iters + 1):
        prev = f"it{k - 1}"
        z = f"{prev}.w0"
        for j, x in enumerate(xs):
            z = f"{z} + {prev}.w{j + 1} * {x}"
        grads = ", ".join(
            [dec("(p - y)") + " AS g0"]
            + [dec(f"(p - y) * {x}") + f" AS g{j + 1}" for j, x in enumerate(xs)]
            + [dec("-(y * ln(pc) + (1 - y) * ln(1 - pc))") + " AS l"]
        )
        ctes.append(
            f"""g{k} AS (
      SELECT {grads}
      FROM (SELECT y, {', '.join(xs)},
                   round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-({z}))), 6) AS p
            FROM feats, {prev})
           , LATERAL (SELECT least(greatest(p, CAST(0.000001 AS DOUBLE)),
                                   CAST(1 AS DOUBLE) - CAST(0.000001 AS DOUBLE)) AS pc)
    )"""
        )
        ws = ", ".join(
            f"{prev}.w{j} - CAST({lr!r} AS DOUBLE) * (g{k}.g{j} / c.n) AS w{j}"
            for j in range(d + 1)
        )
        ctes.append(f"it{k} AS (SELECT {ws}, g{k}.l / c.n AS loss FROM g{k}, {prev}, c)")
    return ctes


def _logreg_oracle(n_iters: int = 3, lr: float = 1.0, d: int = 3) -> str:
    """Unrolled DuckDB twin of ``experiment.logistic_regression_fit`` on
    the weak-label quality-filter features: the per-step trajectory."""
    ctes = _logreg_ctes(n_iters, lr, d)
    steps = "\n      UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS step, ROUND(loss, 6) AS logloss, "
        + ", ".join(f"ROUND(w{j}, 6) AS w{j}" for j in range(d + 1))
        + f" FROM it{k}"
        for k in range(1, n_iters + 1)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n    SELECT * FROM ({steps}) ORDER BY step"
    )


def _logreg_filter_oracle(n_iters: int = 3, lr: float = 1.0, d: int = 3) -> str:
    """Unrolled DuckDB twin of the fit→score round trip: the same CTE
    chain, then every doc scored with the step-``n_iters`` PUBLISHED
    (6-digit-rounded) weights — exactly what the Spark entry reads off
    the trajectory — and folded to a per-lang keep report."""
    ctes = _logreg_ctes(n_iters, lr, d)
    last = f"it{n_iters}"
    ctes.append(
        "w AS (SELECT "
        + ", ".join(f"ROUND(w{j}, 6) AS w{j}" for j in range(d + 1))
        + f" FROM {last})"
    )
    z = "w.w0"
    for j in range(1, d + 1):
        z = f"{z} + w.w{j} * x{j}"
    ctes.append(
        f"""scored AS (
      SELECT lang,
             round(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-({z}))), 6) AS p
      FROM feats, w
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN p >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep,
           ROUND(CAST(SUM(CAST(p AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*), 6)
             AS mean_score
    FROM scored GROUP BY lang
    """
    )


def _quality_feats(docs: DataFrame) -> DataFrame:
    """Weak-label quality-filter features shared by the logreg twins: the
    proven-parity `text_quality_scores` expressions (punct/digit ratios)
    plus whitespace-token density, and the is-English weak label."""
    c = F.col("text")
    return docs.select(
        "lang",
        text.punct_ratio(c).alias("x1"),
        text.digit_ratio(c).alias("x2"),
        (text.token_count(c) / F.lit(256.0)).alias("x3"),
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )


@query("logreg_weak_label_fit", _logreg_oracle())
def logreg_weak_label_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ learned quality filter for a training-data pipeline, train half:
    fit a tiny logistic regression on WEAK labels (is-English from the
    corpus `lang` tag) over cheap text-shape features — the trajectory
    (per-step logloss + weights) is the audit artifact a curation run
    records.  operators.experiment.logistic_regression_fit: 3 batch-GD
    steps, one column-pruned scan per step feeding a single-row
    decimal-exact aggregate — pagerank's bounded-iteration discipline,
    mutable state is d+1 floats at any corpus size.  Oracle unrolls all
    3 steps."""
    from feature_store_healthcare_spark.operators import experiment

    docs = load_table(spark, sf_dir, "documents")
    return experiment.logistic_regression_fit(
        _quality_feats(docs), ["x1", "x2", "x3"], "y", n_iters=3, lr=1.0
    )


@query("logreg_quality_filter", _logreg_filter_oracle())
def logreg_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ learned quality filter, apply half (the fit→score round trip —
    the logreg twin of bpe_train→bpe_encode): fit 3 GD steps, read the
    step-3 PUBLISHED (6-digit-rounded) weights off the trajectory, score
    every document with operators.experiment.logistic_score (one
    codegen'd projection — scoring 100 TB is a single corpus scan, no
    Python, no shuffle), and fold to a per-lang keep report (keep =
    score ≥ 0.5).  Oracle unrolls fit AND scoring, so a defect in either
    half fails the hash."""
    from feature_store_healthcare_spark.operators import experiment

    docs = load_table(spark, sf_dir, "documents")
    feats = _quality_feats(docs)
    traj = experiment.logistic_regression_fit(
        feats, ["x1", "x2", "x3"], "y", n_iters=3, lr=1.0
    ).collect()
    last = max(traj, key=lambda r: r.step)
    score = experiment.logistic_score(
        feats, ["x1", "x2", "x3"], [last.w0, last.w1, last.w2, last.w3], out_col="p"
    )
    return (
        feats.select("lang", score)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("p") >= F.lit(0.5), 1).otherwise(0)).alias("n_keep"),
            F.round(
                F.sum(F.col("p").cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_score"),
        )
    )


@query(
    "robust_outlier_stats",
    """
    WITH med AS (
      SELECT event_type,
             CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS DOUBLE)
               AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type,
             CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY ABS(e.value - m.med))
                  AS DOUBLE) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_type, COUNT(*) AS n,
           ROUND(MAX(m.med), 6) AS median,
           ROUND(MAX(d.mad), 6) AS mad,
           CAST(SUM(CASE WHEN d.mad > 0
                          AND ABS(0.6745 * (e.value - m.med) / d.mad) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CASE WHEN MAX(d.mad) > 0
                THEN ROUND(MAX(ABS(0.6745 * (e.value - m.med) / d.mad)), 6)
           END AS max_abs_z
    FROM events e JOIN med m ON e.event_type = m.event_type
                  JOIN mad d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def robust_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ robust (median/MAD) outlier monitoring per feature —
    drift.robust_outliers: modified z-scores beyond 3.5 flagged; the
    corrupted-batch-proof twin of feature_scaling_outliers."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return drift.robust_outliers(ev, ["event_type"], "value", z_cut=3.5)


def _pagerank_oracle(iters: int = 5) -> str:
    d = "CAST(0.85 AS DOUBLE)"
    steps = []
    for i in range(1, iters + 1):
        p = f"r{i-1}"
        steps.append(f"""
    c{i} AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(r.rank / deg.deg AS DECIMAL(38,18))) AS DOUBLE)
               AS inflow
      FROM e JOIN deg ON e.src = deg.src
             JOIN {p} r ON r.node = e.src
      GROUP BY e.dst
    ),
    d{i} AS (
      SELECT COALESCE(CAST(SUM(CAST(rank AS DECIMAL(38,18))) AS DOUBLE), 0.0)
               AS dm
      FROM {p} WHERE node NOT IN (SELECT src FROM deg)
    ),
    r{i} AS (
      SELECT nodes.node,
             (CAST(1 AS DOUBLE) - {d}) / nn.n
             + {d} * (COALESCE(c{i}.inflow, 0.0) + d{i}.dm / nn.n) AS rank
      FROM nodes CROSS JOIN nn CROSS JOIN d{i}
      LEFT JOIN c{i} ON c{i}.node = nodes.node
    )""")
    return f"""
    WITH e AS (
      SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
      FROM lineitem
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn),
    {','.join(steps)}
    SELECT node, ROUND(rank, 12) AS rank FROM r{iters}
    """


@query("pagerank_supplier_parts", _pagerank_oracle())
def pagerank_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ iterative graph analytics oracle-checked end-to-end:
    operators.graph.pagerank (5 rounds, damping 0.85, decimal-exact
    sums) over the supplier→part sourcing graph (distinct lineitem
    edges; part ids offset into their own node space).  Parts become
    dangling nodes, so the dangling-mass correction is exercised, and
    the decimal accumulation makes every rank bit-reproducible — the
    unrolled 5-iteration SQL oracle matches exactly."""
    from feature_store_healthcare_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    ).distinct()
    pr = graph.pagerank(edges, iterations=5, damping=0.85, decimal_sums=True)
    return pr.select("node", F.round("rank", 12).alias("rank"))


@query(
    "session_cooccurrence_pmi",
    f"""
    WITH x AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 2 HOUR
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT event_type,
             CAST(user_id AS VARCHAR) || ':' ||
             CAST(CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS VARCHAR) AS b
      FROM x
    ),
    bi AS (SELECT DISTINCT b, event_type AS i FROM s),
    nb AS (SELECT COUNT(DISTINCT b) AS n_baskets FROM bi),
    ic AS (SELECT i, COUNT(*) AS n_i FROM bi GROUP BY i),
    pairs AS (
      SELECT l.i AS item_a, r.i AS item_b, COUNT(*) AS n_ab
      FROM bi l JOIN bi r ON l.b = r.b AND l.i < r.i
      GROUP BY l.i, r.i
    )
    SELECT item_a, item_b, nb.n_baskets,
           a.n_i AS n_a, c.n_i AS n_b, n_ab,
           ROUND(LN((CAST(n_ab AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE))
                    / (CAST(a.n_i AS DOUBLE) * CAST(c.n_i AS DOUBLE))), 6) AS pmi
    FROM pairs
    JOIN ic a ON a.i = item_a
    JOIN ic c ON c.i = item_b
    CROSS JOIN nb
    """,
)
def session_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ item association mining: PMI between event types co-occurring in
    the same 2h-gap session (graph.cooccurrence_pmi over the sessionize
    baskets) — the exact matrix word2vec-style item embeddings
    approximate.  Per-basket pair join: blow-up bounded by
    items-per-session², never |items|²."""
    from feature_store_healthcare_spark.operators import graph

    ev = load_table(spark, sf_dir, "events")
    sessions = resample.sessionize(
        ev, "user_id", "ts", gap=2 * 3600, tiebreak=["event_id"]
    )
    baskets = sessions.select(
        F.concat_ws(
            ":",
            F.col("user_id").cast("string"),
            F.col("session_id").cast("string"),
        ).alias("b"),
        "event_type",
    )
    return graph.cooccurrence_pmi(baskets, "b", "event_type")


@query(
    "equidepth_binning",
    """
    WITH edges AS (
      SELECT event_type,
             quantile_cont(CAST(value AS DOUBLE),
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS e
      FROM events GROUP BY event_type
    )
    SELECT ev.event_type,
           len(list_filter(ed.e, x -> x <= CAST(ev.value AS DOUBLE))) AS bin,
           COUNT(*) AS n_rows,
           ROUND(MIN(CAST(ev.value AS DOUBLE)), 6) AS lo,
           ROUND(MAX(CAST(ev.value AS DOUBLE)), 6) AS hi
    FROM events ev JOIN edges ed ON ev.event_type = ed.event_type
    GROUP BY ev.event_type,
             len(list_filter(ed.e, x -> x <= CAST(ev.value AS DOUBLE)))
    """,
)
def equidepth_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ equi-depth (decile) binning per feature — drift.equidepth_bins:
    exact interpolated percentile cut points, ~n/10 rows per bin whatever
    the distribution's shape (the binning the PSI/MI pipelines should use
    on skewed features)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return drift.equidepth_bins(ev, ["event_type"], "value", nbins=10)


@query(
    "feature_trend_regression",
    """
    WITH m AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST((epoch_us(ts) - 1704067200000000) / CAST(86400000000 AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(((epoch_us(ts) - 1704067200000000) / CAST(86400000000 AS DOUBLE)) * ((epoch_us(ts) - 1704067200000000) / CAST(86400000000 AS DOUBLE))
                  AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
                  AS DECIMAL(38,12))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(((epoch_us(ts) - 1704067200000000) / CAST(86400000000 AS DOUBLE)) * CAST(value AS DOUBLE)
                  AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((sxy - sx * sy / n) / NULLIF(sxx - sx * sx / n, 0.0), 6)
             AS slope_per_day,
           ROUND((sy - ((sxy - sx * sy / n) / NULLIF(sxx - sx * sx / n, 0.0)) * sx)
                 / n, 6) AS intercept,
           ROUND(((sxy - sx * sy / n) * (sxy - sx * sy / n))
                 / NULLIF((sxx - sx * sx / n) * (syy - sy * sy / n), 0.0), 6)
             AS r2
    FROM m
    """,
)
def feature_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ per-feature OLS trend (drift.trend_regression): slope/intercept/
    r² of value over days-since-2024-01-01 from one decimal-exact moment
    pass — the slow-level-shift alarm PSI's shape comparison misses;
    intercept = fitted value at the origin."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return drift.trend_regression(
        ev, ["event_type"], "ts", "value", origin_micros=1_704_067_200_000_000
    )


@query(
    "weighted_doc_sample",
    """
    WITH scored AS (
      SELECT doc_id, source, n_chars,
             LN((('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 + 0.5) / 4294967296.0) / CAST(n_chars AS DOUBLE) AS es_key
      FROM documents WHERE n_chars > 0
    ),
    ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS r
      FROM scored
    )
    SELECT doc_id, source, n_chars FROM ranked WHERE r <= 50
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ weighted sampling without replacement (Efraimidis-Spirakis via
    the deterministic md5 uniform — sampling.weighted_sample): 50 docs
    with inclusion odds ∝ n_chars; the size-biased sample a curation
    pipeline uses when long documents should dominate review budgets."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return sampling.weighted_sample(docs, "doc_id", "n_chars", k=50)


@query(
    "cusum_change_detection",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    tgt AS (
      SELECT event_type, COUNT(*) AS n_days,
             CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
      FROM daily GROUP BY event_type
    ),
    seq AS (
      SELECT d.event_type, d.d, d.x, t.m,
             ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.d) AS rn
      FROM daily d JOIN tgt t USING (event_type)
    ),
    walk AS (
      SELECT event_type, rn, d,
             GREATEST(0.0, 0.0 + (x - m)) AS cum
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn, s.d,
             GREATEST(0.0, w.cum + (s.x - s.m)) AS cum
      FROM walk w JOIN seq s
        ON s.event_type = w.event_type AND s.rn = w.rn + 1
    ),
    mx AS (
      SELECT event_type, MAX(cum) AS cusum_max FROM walk GROUP BY event_type
    ),
    peak AS (
      SELECT w.event_type, MIN(w.d) AS peak_date
      FROM walk w JOIN mx ON w.event_type = mx.event_type
                          AND w.cum = mx.cusum_max
      GROUP BY w.event_type
    )
    SELECT t.event_type, t.n_days, ROUND(t.m, 6) AS target,
           ROUND(mx.cusum_max, 6) AS cusum_max,
           CASE WHEN mx.cusum_max > 0 THEN peak.peak_date END AS peak_date
    FROM tgt t JOIN mx USING (event_type) JOIN peak USING (event_type)
    """,
)
def cusum_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ sequential change-point alarm (drift.cusum_daily): one-sided
    CUSUM over each feature's daily means — catches sustained level
    shifts earlier than windowed comparisons; the sequential scan runs
    over the bounded per-key DAY array in-row, never over events."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return drift.cusum_daily(ev, ["event_type"], "ts", "value")


@query(
    "winsorized_value_stats",
    """
    WITH f AS (
      SELECT event_type,
             CAST(percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS DOUBLE) AS lo,
             CAST(percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS DOUBLE) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN CAST(e.value AS DOUBLE) < f.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN CAST(e.value AS DOUBLE) > f.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high,
           CAST(SUM(CAST(LEAST(GREATEST(CAST(e.value AS DOUBLE), f.lo), f.hi)
                         AS DECIMAL(25,6))) AS DOUBLE) AS sum_winsorized
    FROM events e JOIN f USING (event_type)
    GROUP BY e.event_type
    """,
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ winsorization audit (drift.winsorize at p05/p95): per feature,
    clip counts each side + the decimal-exact sum of the clipped series —
    heavy-tail taming that keeps row counts intact."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    w = drift.winsorize(ev, ["event_type"], "value", p_lo=0.05, p_hi=0.95)
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("__clipped") == -1, 1).otherwise(0)).alias(
            "n_clipped_low"
        ),
        F.sum(F.when(F.col("__clipped") == 1, 1).otherwise(0)).alias(
            "n_clipped_high"
        ),
        _dsum("value_wins", "sum_winsorized"),
    )


@query(
    "kfold_assignment_report",
    """
    SELECT CAST(('0x' || substr(md5('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
                % 5 AS INTEGER) AS fold,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY 1
    """,
)
def kfold_assignment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ deterministic 5-fold CV assignment (sampling.kfold_assign):
    per-fold counts and value mass — folds are md5-derived, so membership
    survives reruns, repartitions, and engine changes."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("fold", sampling.kfold_assign("o_orderkey", k=5))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum("o_totalprice", "sum_price"),
        )
    )


@query(
    "ewma_daily_smoothing",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    seq AS (
      SELECT event_type, d, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_days
      FROM daily
    ),
    walk AS (
      SELECT event_type, rn, d, x, x AS e FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn, s.d, s.x,
             CAST(0.3 AS DOUBLE) * s.x + CAST(0.7 AS DOUBLE) * w.e
      FROM walk w JOIN seq s
        ON s.event_type = w.event_type AND s.rn = w.rn + 1
    )
    SELECT s.event_type, MAX(s.n_days) AS n_days,
           MAX(w.d) AS last_date,
           ROUND(MAX(CASE WHEN w.rn = s.n_days THEN w.x END), 6) AS last_value,
           ROUND(MAX(CASE WHEN w.rn = s.n_days THEN w.e END), 6) AS ewma,
           ROUND(MAX(CASE WHEN w.rn = s.n_days THEN w.x END)
                 - MAX(CASE WHEN w.rn = s.n_days THEN w.e END), 6)
             AS last_residual
    FROM walk w JOIN seq s ON s.event_type = w.event_type AND s.rn = w.rn
    GROUP BY s.event_type
    """,
)
def ewma_daily_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ EWMA smoothing of daily feature means (drift.ewma_daily, α=0.3)
    — the dashboard baseline + last-day residual, sequential only over
    the bounded per-key day array."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return drift.ewma_daily(ev, ["event_type"], "ts", "value", alpha=0.3)


@query(
    "seasonal_residual_anomalies",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)
               AS day_mean
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    base AS (
      SELECT event_type, dayofweek(day) AS dow, COUNT(*) AS n,
             CAST(SUM(CAST(day_mean AS DECIMAL(38,12))) AS DOUBLE) AS s,
             CAST(SUM(CAST(day_mean * day_mean AS DECIMAL(38,12))) AS DOUBLE)
               AS ss
      FROM daily GROUP BY event_type, dayofweek(day)
    ),
    j AS (
      SELECT d.event_type, d.day, d.day_mean,
             CAST(b.n - 1 AS DOUBLE) AS m,
             b.s - d.day_mean AS loo_s,
             b.ss - d.day_mean * d.day_mean AS loo_ss
      FROM daily d JOIN base b ON d.event_type = b.event_type
                              AND dayofweek(d.day) = b.dow
    ),
    sc AS (
      SELECT event_type, day, day_mean,
             m,
             loo_s / NULLIF(m, 0.0) AS mu,
             SQRT(GREATEST((loo_ss - loo_s * loo_s / m) / NULLIF(m - 1, 0.0),
                           0.0)) AS sd
      FROM j
    )
    SELECT event_type, day,
           ROUND(day_mean, 6) AS day_mean,
           ROUND(mu, 6) AS weekday_baseline,
           ROUND(CASE WHEN m >= 2
                      THEN (day_mean - mu) / NULLIF(sd, 0.0) END, 6) AS z,
           ABS(CASE WHEN m >= 2
                    THEN (day_mean - mu) / NULLIF(sd, 0.0) END) > 3.0
             AS is_anomaly
    FROM sc
    """,
)
def seasonal_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ day-of-week seasonal-naive anomaly screen
    (drift.seasonal_residuals): each (feature, day) against its
    same-weekday LEAVE-ONE-OUT baseline (the day in its own baseline caps
    |z| at (n−1)/√n — masking) — the residual that stops weekend
    seasonality masquerading as drift.  Weekday keying is engine-internal (both
    engines partition days into the same Sunday-anchored weeks), so the
    output carries no convention-dependent column."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return drift.seasonal_residuals(ev, ["event_type"], "ts", "value", z_cut=3.0)


_CLSPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


@query(
    "cluster_aware_split_report",
    f"""
    WITH RECURSIVE
    pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
      FROM reach GROUP BY src
    ),
    labeled AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    sp AS (
      SELECT doc_id, component,
             {{split_sql}} AS split
      FROM labeled
    ),
    leak AS (
      SELECT CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_leaky_clusters
      FROM (SELECT component, COUNT(DISTINCT split) AS n_splits
            FROM sp GROUP BY component)
    )
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT component) AS n_clusters,
           CAST(SUM(CASE WHEN doc_id = component THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keepers,
           MAX(leak.n_leaky_clusters) AS n_leaky_clusters
    FROM sp CROSS JOIN leak
    GROUP BY split
    """.replace(
        "{split_sql}",
        sampling.split_label_sql("component", _CLSPLIT_WEIGHTS, salt="clsplit"),
    ),
)
def cluster_aware_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ leakage-safe train/val/test splitting: documents split by their
    NEAR-DUP CLUSTER id (transitive minhash components), not per doc — a
    near-duplicate can never straddle train and test, the leakage that
    silently inflates held-out metrics in LLM corpora.  Composes
    dedup.cluster_survivors (oracle-verified components) with the
    md5-threshold split on the cluster label; the n_leaky_clusters
    column PROVES the invariant (always 0 — split is a function of the
    cluster) rather than asserting it."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, portable=True
    )
    labeled = dedup.cluster_survivors(docs, pairs, "doc_id")
    sp = labeled.withColumn(
        "split", sampling.split_label("component", _CLSPLIT_WEIGHTS, salt="clsplit")
    )
    leak = (
        sp.groupBy("component")
        .agg(F.countDistinct("split").alias("__ns"))
        .agg(
            F.sum(F.when(F.col("__ns") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaky_clusters")
        )
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("component").alias("n_clusters"),
            F.sum(F.when(F.col("is_keeper"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_keepers"),
        )
        .crossJoin(F.broadcast(leak))
    )


@query(
    "retrieval_self_mrr",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    q AS (
      SELECT 'q' || CAST(doc_id AS VARCHAR) AS query_id,
             array_to_string(t[1:8], ' ') AS qtext, doc_id AS rel
      FROM toks
      ORDER BY ((doc_id % 1048573) * 2654435761 + 97) % 1000000007, doc_id
      LIMIT 64
    ),
    qt AS (SELECT DISTINCT query_id, u.term
           FROM q, UNNEST(string_split(qtext, ' ')) AS u(term)),
    post AS (
      SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
      FROM (SELECT doc_id, len(t) AS dl, UNNEST(t) AS term FROM toks)
      GROUP BY doc_id, term
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(len(t)) AS avgdl FROM toks),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM post
      WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term
    ),
    bm_scored AS (
      SELECT qt.query_id, p.doc_id,
             ROUND(SUM(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * ((p.tf * 2.2)
                  / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / avgdl)))
             ), 6) AS score
      FROM post p JOIN qt USING (term) JOIN dfreq USING (term) CROSS JOIN stats
      GROUP BY qt.query_id, p.doc_id
    ),
    bm AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
        FROM bm_scored)
      WHERE rank <= 10
    ),
    rel_rank AS (
      SELECT q.query_id, MIN(bm.rank) AS r
      FROM q LEFT JOIN bm ON bm.query_id = q.query_id AND bm.doc_id = q.rel
      GROUP BY q.query_id
    )
    SELECT COUNT(*) AS n_queries,
           ROUND(CAST(SUM(CAST(COALESCE(1.0 / r, 0.0) AS DECIMAL(25,12)))
                      AS DOUBLE) / COUNT(*), 6) AS mrr,
           CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_1,
           CAST(SUM(CASE WHEN r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS hits_at_10
    FROM rel_rank
    """,
)
def retrieval_self_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """★ retrieval quality eval harness: self-retrieval MRR@10 — a
    FIXED-SIZE (64) deterministic hash-ordered sample of documents; each
    sampled document's first 8 normalized tokens become a query whose only
    relevant document is its source; BM25 must rank it back.  The query
    batch collect is bounded at O(64) rows regardless of corpus size (an
    index-sized artifact, same legitimate small-side pattern as IVF
    centroids — NOT a data-proportional collect); the hash is portable
    integer arithmetic so the DuckDB oracle samples identically.  Scoring
    reuses the oracle-verified BM25 operator, and the judgment
    (reciprocal-rank mean, hit rates) is decimal-exact.  Near-duplicate
    documents legitimately outrank their twin's query — which is why this
    metric and the dedup pipeline ship together."""
    docs = load_table(spark, sf_dir, "documents")
    qtext = F.array_join(
        F.slice(F.split(dedup.normalize_text("text"), " "), 1, 8), " "
    )
    # Bounded deterministic sample: TakeOrderedAndProject(64) over a
    # portable mix hash (mod-reduced first so the multiply never overflows
    # int64 — Spark and DuckDB then agree bit-for-bit).
    qhash = ((F.col("doc_id") % 1048573) * 2654435761 + 97) % 1000000007
    qrows = (
        docs.select(F.col("doc_id"), qtext.alias("qtext"), qhash.alias("qh"))
        .orderBy("qh", "doc_id")
        .limit(64)
        .collect()
    )
    queries = [(f"q{r['doc_id']}", r["qtext"]) for r in qrows]
    res = retrieval.bm25_topk(docs, "doc_id", "text", queries, k=10)
    rel = F.expr("cast(substring(query_id, 2) as bigint)")
    hits = res.where(rel == F.col("doc_id")).select(
        "query_id", F.col("rank").alias("r")
    )
    qdf = docs.sparkSession.createDataFrame(
        [(qid,) for qid, _ in queries], "query_id string"
    )
    # hits is ≤64 rows (one per self-retrieved query) but sits behind the
    # bm25 aggregation, so the planner sees no stats and picks a
    # sort-merge join; the hint removes the smj and its two sort
    # exchanges (broadcasting the RIGHT side of a left join is legal).
    rr = qdf.join(F.broadcast(hits), "query_id", "left")
    return rr.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(
            F.sum(
                F.coalesce(F.lit(1.0) / F.col("r"), F.lit(0.0)).cast(
                    "decimal(25,12)"
                )
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mrr"),
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hits_at_1"),
        F.sum(F.when(F.col("r").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("hits_at_10"),
    )


@query(
    "tokenizer_fertility_by_lang",
    r"""
    WITH per_doc AS (
      SELECT lang,
             length(regexp_replace(text, '\s', '', 'g')) AS n_chars_ns,
             len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))
               AS ws_tokens,
             greatest(len(regexp_extract_all(text, '\w+')),
                      length(regexp_replace(text, '\s', '', 'g')) // 4)
               + len(regexp_extract_all(text, '[^\w\s]')) AS bpe_tokens
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars_ns) AS BIGINT) AS total_chars,
           CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           ROUND(CAST(SUM(n_chars_ns) AS DOUBLE) / SUM(bpe_tokens), 6)
             AS chars_per_bpe_token,
           ROUND(CAST(SUM(bpe_tokens) AS DOUBLE) / SUM(ws_tokens), 6)
             AS fertility
    FROM per_doc GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-51 extension: tokenizer fertility per language — subword tokens
    per whitespace word and chars per subword (the compression ratio a
    tokenizer-choice study tables per language; high fertility = the
    vocabulary under-serves that language).  Exact integer totals, ratios
    derived once per group — one scan, one partial-agg shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.length(F.regexp_replace("text", r"\s", "")).alias("n_chars_ns"),
        text.token_count(F.col("text")).alias("ws_tokens"),
        text.bpe_ish_token_estimate(F.col("text")).alias("bpe_tokens"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars_ns").alias("total_chars"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        F.round(
            F.sum("n_chars_ns").cast("double") / F.sum("bpe_tokens"), 6
        ).alias("chars_per_bpe_token"),
        F.round(
            F.sum("bpe_tokens").cast("double") / F.sum("ws_tokens"), 6
        ).alias("fertility"),
    )
