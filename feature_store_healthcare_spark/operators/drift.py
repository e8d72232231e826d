"""Feature-distribution monitoring: histograms, Shannon entropy, and PSI
drift (engine extension of the reference's freshness-only monitoring,
feature_server.py:585-594 — a production feature store also has to notice
when a feature's VALUE distribution moves, not just its age).

All operators are built-in column expressions over two aggregation passes:
per-key bin edges (tiny, broadcast back) → bucket counts → the metric.
At 100 TB both passes are partial-aggregatable single shuffles; the
metric tables are per-feature-sized (tiny) and feed dashboards/alerts.

Determinism: bucket assignment is pure double arithmetic with one fixed
expression tree; entropy/PSI end in natural logs, which are not required
to be correctly rounded by IEEE 754 — metric outputs are rounded to 6
decimals so values are engine-portable (same recipe as the similarity
scores in the query catalog).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feature_store_healthcare_spark.caching import PlanCache, data_version
from feature_store_healthcare_spark.sqlgen import ident, var

#: One-entry persisted-plan caches for the tiny per-key statistic frames
#: that are referenced TWICE inside one returned plan (psi/ks: the
#: bucketing join AND the empty-bucket scaffold; robust_outliers: the MAD
#: pass AND the scoring pass).  Spark does not share subplans across
#: DataFrame branches, so without sharing each reference re-evaluates the
#: FULL input lineage (measured: 3 evaluations of a PIT-join input in
#: ``training_serving_skew``, 4 fact scans in ``robust_outliers``).
#:
#: Round 7 used ``localCheckpoint(eager=True)`` here; round-7 ADVICE
#: flagged its three costs and this is the persist-through-PlanCache form
#: that has none of them: LAZY (no Spark job at plan-construction time —
#: composing the operator is free again), lineage RETAINED (an executor
#: loss at cluster scale recomputes the lost blocks instead of failing the
#: job, which eager checkpoint's truncation cannot), and RELEASED
#: deterministically (one entry per call site — a tight loop over many key
#: sets holds at most one cached statistic frame per operator, where the
#: checkpointed RDDs accumulated until Python GC).  Cache substitution
#: rewrites BOTH plan references to the one InMemoryRelation, so the
#: dedup the checkpoint bought is preserved; values are bit-identical
#: (same arithmetic, only lifecycle).  Contract shared with bm25_topk:
#: materialize the returned plan before calling the SAME operator again,
#: or the released entry recomputes (a cost, never a correctness, event).
_PSI_EDGES_CACHE = PlanCache("drift.psi.edges")
_KS_EDGES_CACHE = PlanCache("drift.ks_binned.edges")
_MAD_MEDIAN_CACHE = PlanCache("drift.robust_outliers.median")


def release_drift_caches(blocking: bool = False) -> None:
    """Drop the drift operators' cached statistic frames now — the eager
    release hook for long-lived monitoring sessions (the same contract as
    ``dedup.release_dedup_caches``)."""
    for cache in (_PSI_EDGES_CACHE, _KS_EDGES_CACHE, _MAD_MEDIAN_CACHE):
        cache.release(blocking=blocking)


def _edges(df: DataFrame, keys: Sequence[str], value_col: str) -> DataFrame:
    return df.groupBy(*keys).agg(
        F.min(value_col).alias("__vmin"), F.max(value_col).alias("__vmax")
    )


def _bucket(value: Column, vmin: Column, vmax: Column, nbins: int) -> Column:
    """Fixed-width bin index in [0, nbins): floor((v - vmin)/(vmax - vmin)
    * nbins), clamped — values outside the edge range (possible when edges
    come from a reference window) land in the boundary bins."""
    raw = F.floor(((value - vmin) / (vmax - vmin)) * nbins).cast("int")
    clamped = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1))
    return F.when(vmax == vmin, F.lit(0)).otherwise(clamped)


def histogram(
    df: DataFrame, keys: Sequence[str], value_col: str, nbins: int = 10
) -> DataFrame:
    """Per-key fixed-width histogram: (keys..., bucket, cnt).  Bin edges are
    the key's own min/max (broadcast back over the scan)."""
    edges = _edges(df, keys, value_col)
    b = df.join(F.broadcast(edges), list(keys)).select(
        *keys,
        _bucket(F.col(value_col), F.col("__vmin"), F.col("__vmax"), nbins).alias(
            "bucket"
        ),
    )
    return b.groupBy(*keys, "bucket").agg(F.count("*").alias("cnt"))


def entropy(
    df: DataFrame, keys: Sequence[str], value_col: str, nbins: int = 10
) -> DataFrame:
    """Shannon entropy (nats, rounded to 6 decimals) of each key's value
    histogram, plus the occupied-bucket count.  Low entropy = the feature
    collapsed to a few values; a sudden change is a pipeline bug signal.

    Uses the identity ``H = ln(N) - Σ c·ln(c) / N`` so the per-key total
    never needs a second aggregation + join back — one histogram pass,
    one tiny final aggregation, and the fact table is scanned exactly
    once (the naive ``-Σ p·ln p`` form needs the total first, which
    costs an extra self-join and a second scan of the lineage)."""
    c = histogram(df, keys, value_col, nbins=nbins)
    total = F.sum("cnt")
    return c.groupBy(*keys).agg(
        F.round(
            F.log(total) - F.sum(F.col("cnt") * F.log("cnt")) / total, 6
        ).alias("entropy_nats"),
        F.count("*").alias("n_buckets"),
    )


def bucketize(
    df: DataFrame, value_col: str, nbins: int = 10, out_col: str = "bucket"
) -> DataFrame:
    """Global fixed-width bucket column over ``value_col`` (edges from the
    full frame, broadcast back — one tiny agg + one scan)."""
    edges = df.agg(F.min(value_col).alias("__vmin"), F.max(value_col).alias("__vmax"))
    return (
        df.crossJoin(F.broadcast(edges))
        .withColumn(
            out_col, _bucket(F.col(value_col), F.col("__vmin"), F.col("__vmax"), nbins)
        )
        .drop("__vmin", "__vmax")
    )


def mutual_information(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Mutual information (nats, rounded to 6 decimals) between two
    categorical columns:  MI = Σ_cells p_xy · ln(p_xy / (p_x · p_y)) over
    observed cells — the feature-selection signal (how much a bucketed
    feature says about a label).  Bucket a continuous column first with
    :func:`bucketize`.

    One joint-count aggregation over the data; marginals and the total are
    WINDOW sums over the joint table (tiny: |x| × |y| observed cells), not
    re-aggregations — re-deriving them with groupBy+join would re-evaluate
    the joint's whole input lineage once per marginal (4 fact scans in the
    unexecuted plan; Spark does not share subplans across DataFrame
    branches).  The window form keeps the fact scan at exactly one, and the
    window exchanges only move the tiny cell table.  Output:
    (mutual_info_nats, n_rows, n_cells).
    """
    joint = df.groupBy(x_col, y_col).agg(F.count("*").alias("c_xy"))
    j = (
        joint.withColumn("c_x", F.sum("c_xy").over(Window.partitionBy(x_col)))
        .withColumn("c_y", F.sum("c_xy").over(Window.partitionBy(y_col)))
        .withColumn("n", F.sum("c_xy").over(Window.partitionBy()))
    )
    p_xy = F.col("c_xy") / F.col("n")
    p_x = F.col("c_x") / F.col("n")
    p_y = F.col("c_y") / F.col("n")
    return j.agg(
        F.round(F.sum(p_xy * F.log(p_xy / (p_x * p_y))), 6).alias(
            "mutual_info_nats"
        ),
        F.max("n").alias("n_rows"),
        F.count("*").alias("n_cells"),
    )


def psi(
    expected: DataFrame,
    actual: DataFrame,
    keys: Sequence[str],
    value_col: str,
    nbins: int = 10,
) -> DataFrame:
    """Population Stability Index per key between an ``expected`` (reference
    window) and ``actual`` (current window) sample:

        PSI = Σ_buckets (p_exp - p_act) · ln(p_exp / p_act)

    Bin edges come from the EXPECTED side (the trained-on distribution);
    actual values outside them clamp into the boundary bins.  Counts are
    Laplace-smoothed — p = (cnt + 0.5) / (total + nbins/2) — so empty
    buckets contribute finitely instead of blowing up the log.  Rule of
    thumb: PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 retrain.

    Output: (keys..., psi, n_expected, n_actual), psi rounded to 6
    decimals.  Keys present only in ``actual`` are dropped (no reference
    distribution to compare against).

    The tiny per-key edges frame is persisted through the module
    PlanCache: it is referenced TWICE downstream (the bucketing join and
    the empty-bucket scaffold), the two references project different
    columns so their broadcast exchanges are not reusable, and without
    sharing each reference re-evaluates the FULL ``expected`` lineage —
    measured as 3 evaluations of a PIT-join input (6 fact scans) in
    ``training_serving_skew``.  Cache substitution points both references
    at one InMemoryRelation (computed once, lazily, on the first action);
    see the cache-block comment at the top of this module for why persist
    replaced round 7's eager localCheckpoint here.
    """
    edges = _PSI_EDGES_CACHE.get_or_persist(
        _edges(expected, keys, value_col), version=data_version(expected)
    )
    tagged = (
        expected.select(*keys, value_col)
        .withColumn("__side", F.lit("e"))
        .unionByName(actual.select(*keys, value_col).withColumn("__side", F.lit("a")))
    )
    b = tagged.join(F.broadcast(edges), list(keys)).select(
        *keys,
        "__side",
        _bucket(F.col(value_col), F.col("__vmin"), F.col("__vmax"), nbins).alias(
            "bucket"
        ),
    )
    # Both windows count in ONE partial-aggregatable shuffle (side folded
    # into conditional sums) instead of two separate scans + a join.
    counts = b.groupBy(*keys, "bucket").agg(
        F.sum(F.when(F.col("__side") == "e", 1).otherwise(0)).alias("cnt_e"),
        F.sum(F.when(F.col("__side") == "a", 1).otherwise(0)).alias("cnt_a"),
    )
    spark = expected.sparkSession
    scaffold = edges.select(*keys).crossJoin(
        spark.range(nbins).select(F.col("id").cast("int").alias("bucket"))
    )
    grid = scaffold.join(F.broadcast(counts), [*keys, "bucket"], "left").fillna(
        0, subset=["cnt_e", "cnt_a"]
    )
    # Per-key totals via a window over the tiny (keys × nbins) grid — no
    # second aggregation branch, so the fact lineage is evaluated once.
    w = Window.partitionBy(*keys)
    g = grid.withColumn("tot_e", F.sum("cnt_e").over(w)).withColumn(
        "tot_a", F.sum("cnt_a").over(w)
    )
    pe = (F.col("cnt_e") + F.lit(0.5)) / (F.col("tot_e") + F.lit(nbins / 2.0))
    pa = (F.col("cnt_a") + F.lit(0.5)) / (F.col("tot_a") + F.lit(nbins / 2.0))
    return g.groupBy(*keys).agg(
        F.round(F.sum((pe - pa) * F.log(pe / pa)), 6).alias("psi"),
        F.first("tot_e").alias("n_expected"),
        F.first("tot_a").alias("n_actual"),
    )


def ks_binned(
    expected: DataFrame,
    actual: DataFrame,
    keys: Sequence[str],
    value_col: str,
    nbins: int = 10,
) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov statistic per key:

        D = max_buckets |F_exp(b) - F_act(b)|

    over the empirical CDFs evaluated at bucket boundaries (edges from the
    EXPECTED window, like :func:`psi`).  The exact KS needs a total order
    over every value — a global (or per-key) sort that serializes at
    scale — so this is the bounded-resolution version: counts are one
    partial-aggregatable shuffle, and both CDFs are cumulative window sums
    over the tiny (keys × nbins) grid.  D is a lower bound on the exact
    statistic, tightening as nbins grows.  Complements PSI: KS reacts to
    the largest single distributional shift; PSI to total re-allocation.

    Output: (keys..., ks_stat, n_expected, n_actual), rounded to 6.

    Edges are persisted through the module PlanCache for the same
    double-reference reason as :func:`psi` (bucketing join + scaffold).
    """
    edges = _KS_EDGES_CACHE.get_or_persist(
        _edges(expected, keys, value_col), version=data_version(expected)
    )
    tagged = (
        expected.select(*keys, value_col)
        .withColumn("__side", F.lit("e"))
        .unionByName(actual.select(*keys, value_col).withColumn("__side", F.lit("a")))
    )
    b = tagged.join(F.broadcast(edges), list(keys)).select(
        *keys,
        "__side",
        _bucket(F.col(value_col), F.col("__vmin"), F.col("__vmax"), nbins).alias(
            "bucket"
        ),
    )
    counts = b.groupBy(*keys, "bucket").agg(
        F.sum(F.when(F.col("__side") == "e", 1).otherwise(0)).alias("cnt_e"),
        F.sum(F.when(F.col("__side") == "a", 1).otherwise(0)).alias("cnt_a"),
    )
    spark = expected.sparkSession
    scaffold = edges.select(*keys).crossJoin(
        spark.range(nbins).select(F.col("id").cast("int").alias("bucket"))
    )
    grid = scaffold.join(F.broadcast(counts), [*keys, "bucket"], "left").fillna(
        0, subset=["cnt_e", "cnt_a"]
    )
    w = Window.partitionBy(*keys)
    wc = w.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g = (
        grid.withColumn("tot_e", F.sum("cnt_e").over(w))
        .withColumn("tot_a", F.sum("cnt_a").over(w))
        .withColumn("cum_e", F.sum("cnt_e").over(wc))
        .withColumn("cum_a", F.sum("cnt_a").over(wc))
    )
    d = F.abs(
        F.col("cum_e") / F.col("tot_e") - F.col("cum_a") / F.col("tot_a")
    )
    return g.groupBy(*keys).agg(
        F.round(F.max(d), 6).alias("ks_stat"),
        F.first("tot_e").alias("n_expected"),
        F.first("tot_a").alias("n_actual"),
    )


def robust_outliers(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    z_cut: float = 3.5,
) -> DataFrame:
    """Median/MAD outlier detection per key — the robust alternative to
    mean/std scaling (one corrupted batch can't drag the fence, unlike
    z-scores whose mean and std it inflates).  Modified z-score
    ``0.6745·(x − median)/MAD`` (Iglewicz & Hoaglin), flagged beyond
    ``z_cut``.

    Two aggregation passes by necessity (MAD is a median OF deviations
    from the median — not partial-aggregatable in one): per-key median →
    broadcast join back → per-key MAD → join + one counting pass.  All
    three shuffles are on the same small key set; the fact table is
    scanned twice, which is the known price of exact MAD (the one-scan
    approximation is the histogram-state quantile in `maintenance`).
    That floor only holds because the tiny median frame is shared (module
    PlanCache persist): the joined frame is consumed twice (MAD pass +
    scoring pass), and without sharing each consumption re-ran the
    median's own scan too — four fact scans where the docstring promised
    two (audited; see the cache-block comment at the top of this module
    for why persist replaced round 7's eager localCheckpoint).

    Output: (keys..., n, median, mad, n_outliers, max_abs_z) — max_abs_z
    NULL when MAD = 0 (degenerate distribution; nothing flags).
    """
    keys = list(keys)
    v = F.col(value_col).cast("double")
    med = _MAD_MEDIAN_CACHE.get_or_persist(
        df.groupBy(*keys).agg(
            F.expr(f"cast(percentile({ident(value_col)}, 0.5) as double)").alias("__med")
        ),
        version=data_version(df),
    )
    with_med = df.join(F.broadcast(med), keys)
    mad = with_med.groupBy(*keys).agg(
        F.expr(
            f"cast(percentile(abs({ident(value_col)} - __med), 0.5) as double)"
        ).alias("__mad")
    )
    # ANSI mode: guard the division itself (a `when` around a consuming
    # aggregate does not stop the divide-by-zero from evaluating)
    safe_mad = F.nullif(F.col("__mad"), F.lit(0.0))
    z = F.lit(0.6745) * (v - F.col("__med")) / safe_mad
    scored = with_med.join(F.broadcast(mad), keys)
    return (
        scored.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("__med"), 6).alias("median"),
            F.round(F.first("__mad"), 6).alias("mad"),
            F.sum(
                F.when(
                    (F.col("__mad") > 0) & (F.abs(z) > z_cut), 1
                ).otherwise(0)
            ).alias("n_outliers"),
            F.when(
                F.first("__mad") > 0, F.round(F.max(F.abs(z)), 6)
            ).alias("max_abs_z"),
        )
    )


def equidepth_bins(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    nbins: int = 10,
) -> DataFrame:
    """Equi-depth (quantile) binning per key: interior cut points from
    exact interpolated percentiles, each value assigned the count of cut
    points ≤ it — so every bin holds ~n/nbins rows regardless of the
    distribution's shape (the fixed-width histogram's failure mode on
    skewed features, and the binning PSI/MI should prefer when tails
    matter).

    One percentile aggregate per key (tiny) broadcast back + one counting
    pass — the fact table is scanned twice (exact quantiles need the
    first pass; the one-scan approximation is the 'hist' state in
    maintenance).  Output: (keys..., bin, n_rows, lo, hi) with observed
    per-bin min/max rounded to 6.
    """
    keys = list(keys)
    fracs = ", ".join(str(i / nbins) for i in range(1, nbins))
    x = var("x")
    edges = df.groupBy(*keys).agg(
        F.expr(
            f"transform(percentile({ident(value_col)}, array({fracs})), "
            f"{x} -> cast({x} as double))"
        ).alias("__edges")
    )
    v = F.col(value_col).cast("double")
    binned = df.join(F.broadcast(edges), keys).withColumn(
        "bin", F.size(F.filter(F.col("__edges"), lambda e: e <= v))
    )
    return binned.groupBy(*keys, "bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min(v), 6).alias("lo"),
        F.round(F.max(v), 6).alias("hi"),
    )


def trend_regression(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    origin_micros: int = 0,
    round_to: int = 6,
) -> DataFrame:
    """Per-key OLS trend of a feature over time — slope/intercept/r² from
    closed-form moments, the "is this feature drifting monotonically"
    alarm that PSI (distribution-shape) misses when the move is a slow
    level shift.

    x = event time in DAYS since ``origin_micros`` (double), y = value.
    Pass an origin near the data window: centering keeps the moment
    magnitudes small, which kills the catastrophic cancellation in the
    intercept AND keeps the decimal→double final conversion away from
    representable-midpoint disagreements between engines (measured: with
    epoch-based x ≈ 19 700 days, the exact decimal sums convert to
    doubles 1 ulp apart in Spark vs DuckDB and the cancellation blows
    that up to 1e-5 — centered, the comparison is bit-exact).  All five
    moments accumulate as fixed-scale decimals in ONE
    partial-aggregatable pass.  The intercept is the fitted value AT the
    origin.  Output: (keys..., n, slope_per_day, intercept, r2); NULLs
    when var(x) = 0 (single instant) — nothing to fit.
    """
    keys = list(keys)
    x = (
        F.unix_micros(F.col(ts_col).cast("timestamp")) - F.lit(origin_micros)
    ) / F.lit(86400.0 * 1e6)
    y = F.col(value_col).cast("double")
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    m = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        dec(x).alias("__sx"),
        dec(y).alias("__sy"),
        dec(x * x).alias("__sxx"),
        dec(y * y).alias("__syy"),
        dec(x * y).alias("__sxy"),
    )
    n = F.col("n")
    varx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / n
    vary = F.col("__syy") - F.col("__sy") * F.col("__sy") / n
    cov = F.col("__sxy") - F.col("__sx") * F.col("__sy") / n
    slope = cov / F.nullif(varx, F.lit(0.0))
    intercept = (F.col("__sy") - slope * F.col("__sx")) / n
    r2 = (cov * cov) / F.nullif(varx * vary, F.lit(0.0))
    return m.select(
        *keys,
        "n",
        F.round(slope, round_to).alias("slope_per_day"),
        F.round(intercept, round_to).alias("intercept"),
        F.round(r2, round_to).alias("r2"),
    )


def cusum_daily(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    slack: float = 0.0,
    round_to: int = 6,
) -> DataFrame:
    """One-sided CUSUM change-point detection on each key's DAILY mean:
    ``S_t = max(0, S_{t-1} + (x_t − target − slack))`` with the target =
    mean of the key's daily means — the sequential alarm that catches a
    sustained upward level shift far earlier than any fixed-window
    comparison (Page 1954).

    The recursion is inherently sequential, but only over the DAILY
    series: the fact table partial-aggregates to one row per (key, day)
    (decimal-exact means), each key's bounded day array gathers once, and
    one ``aggregate`` HOF scan walks it in-row — so the sequential part
    touches days-per-key elements, never events.  Output: (keys...,
    n_days, target, cusum_max, peak_date) — peak is the FIRST day
    attaining the max (deterministic).
    """
    keys = list(keys)
    d = F.col(ts_col).cast("date")
    daily = df.groupBy(*keys, d.alias("__d")).agg(
        (
            F.sum(F.col(value_col).cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__x")
    )
    per_key = daily.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_days"),
        (
            F.sum(F.col("__x").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__m"),
        F.sort_array(F.collect_list(F.struct(F.col("__d"), F.col("__x")))).alias(
            "__seq"
        ),
    )
    acc0 = F.struct(
        F.lit(0.0).alias("cum"),
        F.lit(0.0).alias("mx"),
        F.lit(None).cast("date").alias("peak"),
    )
    target = F.col("__m") + F.lit(slack)

    def step(acc, e):
        cum2 = F.greatest(F.lit(0.0), acc["cum"] + (e["__x"] - target))
        better = cum2 > acc["mx"]
        return F.struct(
            cum2.alias("cum"),
            F.when(better, cum2).otherwise(acc["mx"]).alias("mx"),
            F.when(better, e["__d"]).otherwise(acc["peak"]).alias("peak"),
        )

    out = F.aggregate(F.col("__seq"), acc0, step)
    return per_key.select(
        *keys,
        "n_days",
        F.round(F.col("__m"), round_to).alias("target"),
        F.round(out["mx"], round_to).alias("cusum_max"),
        out["peak"].alias("peak_date"),
    )


def winsorize(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Percentile clipping (winsorization) per key: values outside the
    [p_lo, p_hi] exact interpolated percentiles clamp to the fence — the
    standard heavy-tail taming before scaling/regression, keeping row
    count intact (unlike outlier DROPPING, which biases counts).

    Adds ``out_col`` (default ``{value_col}_wins``) plus ``__clipped``
    ∈ {-1, 0, 1} marking low/none/high clips for audit.  One tiny
    percentile aggregate broadcast back; the data pass is a pure
    projection."""
    keys = list(keys)
    out_col = out_col or f"{value_col}_wins"
    fences = df.groupBy(*keys).agg(
        F.expr(
            f"cast(percentile({ident(value_col)}, {p_lo}) as double)"
        ).alias("__f_lo"),
        F.expr(
            f"cast(percentile({ident(value_col)}, {p_hi}) as double)"
        ).alias("__f_hi"),
    )
    v = F.col(value_col).cast("double")
    clipped = F.when(v < F.col("__f_lo"), F.lit(-1)).when(
        v > F.col("__f_hi"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.join(F.broadcast(fences), keys)
        .withColumn(out_col, F.least(F.greatest(v, F.col("__f_lo")), F.col("__f_hi")))
        .withColumn("__clipped", clipped)
        .drop("__f_lo", "__f_hi")
    )


def ewma_daily(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    round_to: int = 6,
) -> DataFrame:
    """Exponentially weighted moving average of each key's DAILY mean —
    the smoothed baseline the monitoring dashboards plot, and the
    residual source for alerting (|last − ewma| spikes).

    Same sequential-over-days shape as :func:`cusum_daily`: the fact
    table partial-aggregates to (key, day), the bounded day array gathers
    once, and one ``aggregate`` HOF walks it with
    ``E_t = α·x_t + (1−α)·E_{t−1}`` (seeded at the first day's value).
    Output: (keys..., n_days, last_date, last_value, ewma,
    last_residual).
    """
    keys = list(keys)
    d = F.col(ts_col).cast("date")
    daily = df.groupBy(*keys, d.alias("__d")).agg(
        (
            F.sum(F.col(value_col).cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__x")
    )
    per_key = daily.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sort_array(F.collect_list(F.struct(F.col("__d"), F.col("__x")))).alias(
            "__seq"
        ),
    )
    acc0 = F.struct(
        F.lit(None).cast("double").alias("e"),
        F.lit(None).cast("double").alias("x"),
        F.lit(None).cast("date").alias("d"),
    )

    def step(acc, el):
        e2 = F.when(
            acc["e"].isNull(), el["__x"]
        ).otherwise(F.lit(alpha) * el["__x"] + F.lit(1.0 - alpha) * acc["e"])
        return F.struct(e2.alias("e"), el["__x"].alias("x"), el["__d"].alias("d"))

    out = F.aggregate(F.col("__seq"), acc0, step)
    return per_key.select(
        *keys,
        "n_days",
        out["d"].alias("last_date"),
        F.round(out["x"], round_to).alias("last_value"),
        F.round(out["e"], round_to).alias("ewma"),
        F.round(out["x"] - out["e"], round_to).alias("last_residual"),
    )


def seasonal_residuals(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    z_cut: float = 3.0,
    round_to: int = 6,
) -> DataFrame:
    """Day-of-week seasonal-naive anomaly screen: each (key, day)'s mean
    is compared against that key's SAME-WEEKDAY baseline — the cheap
    seasonality-aware residual that plain level monitoring mistakes for
    drift every weekend.

    The baseline is LEAVE-ONE-OUT: each day is scored against the other
    same-weekday days' mean/std (derived from the same decimal-exact
    moment aggregate — no extra pass).  Including the day in its own
    baseline caps |z| at (n−1)/√n (≈1.8 for five Mondays), so a z_cut of
    3 could never fire on short histories — the classic masking effect.
    Output one row per (key, day) with the residual z-score and an
    anomaly flag; z NULL when fewer than 3 same-weekday peers or the
    peer std is 0.
    """
    keys = list(keys)
    d = F.col(ts_col).cast("date")
    daily = df.groupBy(*keys, d.alias("day")).agg(
        (
            F.sum(F.col(value_col).cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("day_mean")
    )
    dow = F.dayofweek(F.col("day"))
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    base = daily.groupBy(*keys, dow.alias("__dow")).agg(
        F.count(F.lit(1)).alias("__n"),
        dec(F.col("day_mean")).alias("__s"),
        dec(F.col("day_mean") * F.col("day_mean")).alias("__ss"),
    )
    joined = daily.withColumn("__dow", dow).join(
        F.broadcast(base), [*keys, "__dow"]
    )
    # leave-one-out moments: subtract the row's own contribution
    x = F.col("day_mean")
    m = (F.col("__n") - 1).cast("double")
    loo_s = F.col("__s") - x
    loo_ss = F.col("__ss") - x * x
    mu = loo_s / F.nullif(m, F.lit(0.0))
    var = (loo_ss - loo_s * loo_s / m) / F.nullif(m - 1, F.lit(0.0))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = F.when(m >= 2, (x - mu) / F.nullif(sd, F.lit(0.0)))
    return joined.select(
        *keys,
        "day",
        F.round(x, round_to).alias("day_mean"),
        F.round(mu, round_to).alias("weekday_baseline"),
        F.round(z, round_to).alias("z"),
        (F.abs(z) > F.lit(z_cut)).alias("is_anomaly"),
    )
