"""Table maintenance: retention enforcement, compaction, and incremental
aggregate maintenance (SURVEY.md §4.2 "Freshness/TTL pruning"; ref
Feature.retention_days=2555 at feature_registry.py:136 — declared but never
enforced in the reference).

Both jobs are plain batch plans over the stores, meant to run on a
schedule, and both commit as one new version of the store's root
(``stores.AppendStore.rewrite`` → ``tableops.compact_version``: written
beside the current version under the compaction lease, then one pointer
flip), keeping the store's ``partition_by``.  Each rewrites the whole
log.  At 100 TB a table format narrows that: retention is a
``DELETE WHERE`` that drops whole ``event_date`` partitions and rewrites
only the boundary one, and compaction (``OPTIMIZE``) rewrites only the
partitions whose file count grew past a threshold.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_store_healthcare_spark.sqlgen import double_lit, ident, var


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def retention_filter(
    values: DataFrame,
    registry: DataFrame,
    now: datetime | None = None,
    ts_col: str = "event_timestamp",
    retention_col: str = "retention_days",
) -> DataFrame:
    """Rows that SURVIVE per-feature retention: ``event_ts >= now -
    feature.retention_days``.  The registry is broadcast (it is tiny);
    the cutoff is a per-row expression so features with different
    retention windows coexist in one pass.
    """
    now = now or _utcnow()
    reg = registry.select("feature_id", retention_col)
    return (
        values.join(F.broadcast(reg), "feature_id", "left")
        .where(
            F.col(ts_col)
            >= F.lit(now).cast("timestamp_ntz")
            - F.make_dt_interval(days=F.coalesce(F.col(retention_col), F.lit(2555)))
        )
        .drop(retention_col)
    )


def retention_split(
    df: DataFrame, ts_col: str, cutoff: Column, retained_flag: str = "retained"
) -> DataFrame:
    """Classify rows against a FIXED retention cutoff (ref semantic:
    ``Feature.retention_days``, feature_registry.py:136) instead of
    filtering: adds a boolean ``retained`` column so one pass feeds both
    the audit rollup (count retained/expired) and the maintenance DELETE
    (``df.where(~col("retained"))``).  At scale the flipped filter
    partition-prunes when ``ts_col``'s date is a partition column (SCALE.md
    offline layout)."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return df.withColumn(retained_flag, c >= cutoff)


def expired_rows(
    values: DataFrame,
    registry: DataFrame,
    now: datetime | None = None,
    ts_col: str = "event_timestamp",
    retention_col: str = "retention_days",
) -> DataFrame:
    """The complement of :func:`retention_filter` — what a DELETE removes;
    materialized for audit before destructive maintenance."""
    now = now or _utcnow()
    reg = registry.select("feature_id", retention_col)
    return (
        values.join(F.broadcast(reg), "feature_id", "left")
        .where(
            F.col(ts_col)
            < F.lit(now).cast("timestamp_ntz")
            - F.make_dt_interval(days=F.coalesce(F.col(retention_col), F.lit(2555)))
        )
        .drop(retention_col)
    )


def apply_retention(store, registry: DataFrame, now: datetime | None = None) -> int:
    """Enforce retention on an AppendStore: rewrite the log without expired
    rows as a new version (:meth:`stores.AppendStore.rewrite`; on Delta
    this is ``DELETE WHERE``).  Returns the number of rows removed."""
    now = now or _utcnow()
    current = store.read()
    removed = current.count() - retention_filter(current, registry, now=now).count()
    if removed:
        store.rewrite(
            lambda df: retention_filter(df, registry, now=now).select(*df.columns)
        )
    return removed


#: mergeable aggregate states supported by incremental_agg / merge_agg_states.
#: Each maps to (state build expr, state merge expr) — all are commutative,
#: associative and partial-aggregatable, so batch states combine exactly.
_MERGEABLE = ("count", "sum", "min", "max", "hll")

#: default fixed-edge histogram shape for the "hist" quantile state
_HIST_BINS = 64


def incremental_agg(
    batch: DataFrame,
    keys: list[str],
    value_col: str,
    specs: list[str] | None = None,
    hist_lo: float | None = None,
    hist_hi: float | None = None,
    hist_bins: int = _HIST_BINS,
) -> DataFrame:
    """Aggregate one batch into a MERGEABLE state table: per key, the
    partial-aggregate states for ``specs`` (count/sum/min/max and an ``hll``
    Datasketches HyperLogLog for distinct values).

    This is incremental materialized-view maintenance: a 100 TB rollup is
    never recomputed from history — each new partition/micro-batch folds
    its tiny state table into the running one via
    :func:`merge_agg_states`, and finalized metrics (avg = sum/count,
    distinct ≈ hll_sketch_estimate) derive at read time.  Exactness: all
    states are commutative+associative; sum uses decimal accumulation so
    merging in any order is bit-stable.
    """
    specs = list(specs or _MERGEABLE)
    v = F.col(value_col)
    aggs = []
    for s in specs:
        if s == "count":
            aggs.append(F.count(v).alias("state_count"))
        elif s == "sum":
            aggs.append(F.sum(v.cast("decimal(25,6)")).alias("state_sum"))
        elif s == "min":
            aggs.append(F.min(v).alias("state_min"))
        elif s == "max":
            aggs.append(F.max(v).alias("state_max"))
        elif s == "hll":
            aggs.append(F.hll_sketch_agg(v.cast("string")).alias("state_hll"))
        elif s == "hist":
            if hist_lo is None or hist_hi is None or not hist_hi > hist_lo:
                raise ValueError("hist spec needs hist_lo < hist_hi bounds")
            # one parsed SQL string: the 50-cell sum list built through
            # the Column API measured 0.61 s / ~2.2k py4j commands per call
            width = (hist_hi - hist_lo) / hist_bins
            idx_sql = (
                f"LEAST(GREATEST(FLOOR((CAST({ident(value_col)} AS DOUBLE) - "
                f"{double_lit(hist_lo)}) / {double_lit(width)}), 0), {hist_bins - 1})"
            )
            cells = ", ".join(
                f"sum(CASE WHEN {idx_sql} = {i} THEN 1 ELSE 0 END)"
                for i in range(hist_bins)
            )
            aggs.append(
                F.expr(
                    f"struct(array({cells}) AS counts, "
                    f"{double_lit(hist_lo)} AS lo, {double_lit(hist_hi)} AS hi)"
                ).alias("state_hist")
            )
        else:
            raise ValueError(f"unsupported mergeable spec: {s}")
    return batch.groupBy(*keys).agg(*aggs)


def merge_agg_states(
    existing: DataFrame, batch_states: DataFrame, keys: list[str]
) -> DataFrame:
    """Fold a new batch's state table into the running one: full outer join
    on the keys, then the per-state merge function (count/sum add, min/max
    re-min/max, HLL sketches union).  Output schema == input schema, so the
    merge is closed under composition — `merge(merge(a,b),c) ==
    merge(a, merge(b,c))` row-for-row."""
    state_cols = [c for c in existing.columns if c not in keys]
    e = existing.alias("e")
    b = batch_states.alias("b")
    out_keys = [F.coalesce(F.col(f"e.{k}"), F.col(f"b.{k}")).alias(k) for k in keys]
    merged = []
    for c in state_cols:
        ec, bc = F.col(f"e.{c}"), F.col(f"b.{c}")
        if c == "state_count":
            merged.append((F.coalesce(ec, F.lit(0)) + F.coalesce(bc, F.lit(0))).alias(c))
        elif c == "state_sum":
            merged.append(
                F.when(ec.isNull(), bc)
                .when(bc.isNull(), ec)
                .otherwise(ec + bc)
                .alias(c)
            )
        elif c == "state_min":
            merged.append(F.least(ec, bc).alias(c))
        elif c == "state_max":
            merged.append(F.greatest(ec, bc).alias(c))
        elif c == "state_hll":
            merged.append(
                F.when(ec.isNull(), bc)
                .when(bc.isNull(), ec)
                .otherwise(F.hll_union(ec, bc))
                .alias(c)
            )
        elif c == "state_hist":
            both = F.struct(
                F.zip_with(
                    ec["counts"], bc["counts"], lambda a, b: a + b
                ).alias("counts"),
                ec["lo"].alias("lo"),
                ec["hi"].alias("hi"),
            )
            merged.append(
                F.when(ec.isNull(), bc).when(bc.isNull(), ec).otherwise(both).alias(c)
            )
        else:
            raise ValueError(f"unknown state column: {c}")
    cond = [F.col(f"e.{k}").eqNullSafe(F.col(f"b.{k}")) for k in keys]
    return e.join(b, on=cond, how="full_outer").select(*out_keys, *merged)


def _hist_quantile_sql(q: float) -> str:
    """Quantile ``q`` of the histogram state ``state_hist``: walk the
    cumulative counts to the target rank, linear-interpolate inside the
    bucket (error ≤ one bucket width).  Pure array HOF, evaluated per
    state row at read time; parsed from text because the Column/lambda
    build cost ~1.3k py4j commands per finalize call."""
    state = ident("state_hist")
    i, a, x, acc, b = var("i"), var("a"), var("x"), var("acc"), var("b")
    c = f"{state}.counts"
    lo, hi = f"{state}.lo", f"{state}.hi"
    width = f"(({hi} - {lo}) / size({c}))"
    total = f"aggregate({c}, CAST(0 AS BIGINT), ({a}, {x}) -> {a} + {x})"
    target = f"({double_lit(q)} * CAST({total} AS DOUBLE))"
    indexed = (
        f"transform(sequence(0, size({c}) - 1), "
        f"{i} -> struct({i} AS i, element_at({c}, {i} + 1) AS c))"
    )
    acc0 = "struct(CAST(0.0 AS DOUBLE) AS cum, CAST(NULL AS DOUBLE) AS ans)"
    cnt = f"CAST({b}.c AS DOUBLE)"
    est = (
        f"({lo} + (CAST({b}.i AS DOUBLE) + ({target} - {acc}.cum) / {cnt}) "
        f"* {width})"
    )
    step = (
        f"({acc}, {b}) -> struct({acc}.cum + {cnt} AS cum, "
        f"CASE WHEN {acc}.ans IS NULL AND ({acc}.cum + {cnt}) >= {target} "
        f"AND {cnt} > 0 THEN LEAST({est}, {hi}) ELSE {acc}.ans END AS ans)"
    )
    out = f"aggregate({indexed}, {acc0}, {step})"
    return f"CASE WHEN {total} > 0 THEN COALESCE(({out}).ans, {hi}) END"


def finalize_agg_states(
    states: DataFrame, keys: list[str], quantiles: tuple[float, ...] = (0.5, 0.95)
) -> DataFrame:
    """Derive the served metrics from a state table: n, total, min, max,
    avg (exact), n_distinct_est (HLL estimate), p{q} (histogram-state
    quantile estimates).  Read-time only — states stay mergeable forever."""
    cols = [F.col(k) for k in keys]
    have = set(states.columns)
    if "state_count" in have:
        cols.append(F.col("state_count").alias("n"))
    if "state_sum" in have:
        cols.append(F.col("state_sum").cast("double").alias("total"))
        if "state_count" in have:
            cols.append(
                (F.col("state_sum").cast("double") / F.col("state_count")).alias("avg")
            )
    if "state_min" in have:
        cols.append(F.col("state_min").alias("min_value"))
    if "state_max" in have:
        cols.append(F.col("state_max").alias("max_value"))
    if "state_hll" in have:
        cols.append(F.hll_sketch_estimate("state_hll").alias("n_distinct_est"))
    if "state_hist" in have:
        for q in quantiles:
            cols.append(F.expr(_hist_quantile_sql(q)).alias(f"p{int(round(q * 100))}"))
    return states.select(*cols)


def compact(store, target_partitions: int | None = None) -> None:
    """Compact an AppendStore's small files (streaming appends produce one
    file per micro-batch) into ``target_partitions`` files, as a new
    version (:meth:`stores.AppendStore.rewrite`)."""

    def coalesce(df: DataFrame) -> DataFrame:
        return df.coalesce(target_partitions or max(df.rdd.getNumPartitions() // 8, 1))

    store.rewrite(coalesce)
