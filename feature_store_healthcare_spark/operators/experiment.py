"""Experiment analysis: deterministic A/B assignment + CUPED variance
reduction (★ driver-extension surface — the reference has no experiment
tooling; its closest concept is per-feature serving metrics,
feature_server.py:481-493).

CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et al. 2013)
is the standard trick for shrinking metric variance with a pre-period
covariate: ``Y' = Y − θ·(X − mean(X))`` with ``θ = cov(X,Y)/var(X)``.
All moments here accumulate as fixed-scale decimals in ONE pass over the
per-user metric table, so θ and the adjusted means are bit-deterministic
under any partitioning — an external engine reproduces them exactly.

Plan shape: per-user metric aggregation (one shuffle on user) → one
single-row moment aggregate (broadcast) → per-arm rollup.  The fact table
is scanned once; everything after the per-user table is tiny.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_store_healthcare_spark.sqlgen import double_lit

#: md5-prefix width for arm assignment (same convention as operators.sampling)
_PREFIX = 8


def ab_assign(key: Column | str, salt: str = "ab", treat_frac: float = 0.5) -> Column:
    """Deterministic experiment arm per key: 'treatment' when the salted
    md5 prefix lands below the fraction bound, else 'control'.  No RNG —
    the same user is in the same arm on every run and engine."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))), 1, _PREFIX
    )
    bound = format(int(treat_frac * (16**_PREFIX)), f"0{_PREFIX}x")
    return F.when(h < F.lit(bound), F.lit("treatment")).otherwise(F.lit("control"))


def cuped(
    per_user: DataFrame,
    arm_col: str = "arm",
    pre_col: str = "x",
    post_col: str = "y",
    round_to: int = 6,
) -> DataFrame:
    """CUPED-adjusted per-arm means from a per-user (arm, pre, post) table.

    θ is estimated POOLED across arms (the standard unbiased-under-
    randomization choice: assignment is independent of X).  Output one row
    per arm: (arm, n_users, mean_post, mean_post_cuped, theta,
    var_reduction_pct) — var_reduction_pct is the pooled theoretical
    reduction ``ρ²·100`` rounded to 2.
    """
    x = F.col(pre_col).cast("double")
    y = F.col(post_col).cast("double")
    dec = lambda c: F.sum(c.cast("decimal(30,10)")).cast("double")  # noqa: E731
    mom = per_user.agg(
        F.count(F.lit(1)).alias("__n"),
        dec(x).alias("__sx"),
        dec(y).alias("__sy"),
        dec(x * x).alias("__sxx"),
        dec(y * y).alias("__syy"),
        dec(x * y).alias("__sxy"),
    )
    n = F.col("__n")
    mean_x = F.col("__sx") / n
    var_x = (F.col("__sxx") - F.col("__sx") * F.col("__sx") / n) / (n - 1)
    var_y = (F.col("__syy") - F.col("__sy") * F.col("__sy") / n) / (n - 1)
    cov = (F.col("__sxy") - F.col("__sx") * F.col("__sy") / n) / (n - 1)
    mom = mom.select(
        n.alias("__n"),
        mean_x.alias("__mean_x"),
        (cov / var_x).alias("__theta"),
        (cov * cov / (var_x * var_y)).alias("__rho2"),
    )
    adj = per_user.crossJoin(F.broadcast(mom)).withColumn(
        "__y_adj", y - F.col("__theta") * (x - F.col("__mean_x"))
    )
    return (
        adj.groupBy(arm_col)
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            (dec(y) / F.count(F.lit(1))).alias("__mean_post"),
            (dec(F.col("__y_adj")) / F.count(F.lit(1))).alias("__mean_adj"),
            F.first("__theta").alias("__theta"),
            F.first("__rho2").alias("__rho2"),
        )
        .select(
            F.col(arm_col),
            "n_users",
            F.round("__mean_post", round_to).alias("mean_post"),
            F.round("__mean_adj", round_to).alias("mean_post_cuped"),
            F.round("__theta", round_to).alias("theta"),
            F.round(F.col("__rho2") * 100, 2).alias("var_reduction_pct"),
        )
    )


def logistic_regression_fit(
    feats: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_iters: int = 3,
    lr: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """Batch-gradient-descent logistic regression — the LEARNED quality
    filter of a training-data pipeline (fit a tiny linear model on weak
    labels over cheap text-shape features, then score the corpus), and
    the engine's supervised-model-fitting surface next to the analysis
    frames (PSI/KS/CUPED/MI).  Returns one row per iteration:
    ``(step, logloss, w0, w1, ..., wd)`` — ``logloss`` is the mean
    negative log-likelihood under the PRE-update weights of that step,
    ``w*`` the POST-update weights (bias first), so the trajectory shows
    the loss the step saw and the weights it produced.

    Bit-determinism contract (the catalog entry's DuckDB oracle unrolls
    the same ``n_iters`` steps and hash-matches):

    - the per-row sigmoid ``p = round(1/(1+exp(-z)), 6)`` is rounded so
      a 1-ulp ``exp`` divergence between engines cannot propagate into
      the weight trajectory;
    - ``z`` is the left-associated chain ``w0 + w1*x1 + ... + wd*xd`` —
      fixed operand order, pure IEEE double arithmetic;
    - every gradient/loss sum accumulates as ``DECIMAL(30,10)`` (the
      CUPED moment pattern), so sums are order-independent under any
      partitioning and re-association;
    - weight updates are plain double arithmetic on those sums:
      ``w_j' = w_j - lr * (g_j / n)``.

    Scale shape (the pagerank/bpe_train bounded-iteration discipline):
    the projected feature table is localCheckpointed ONCE (the corpus
    text is never rescanned); each iteration is one column-pruned scan
    feeding a SINGLE-ROW global aggregate — partial aggregation per
    partition, a 1-row final reduce, no shuffle of row data — plus an
    O(d) driver-side update.  Mutable state is ``d+1`` floats regardless
    of corpus size; iteration count is fixed up front.  At 100 TB the
    per-step cost is exactly one pass over a (d+1)-column projection.

    Loss terms clamp ``p`` to ``[1e-6, 1 - 1e-6]`` before ``log`` so a
    saturated row cannot emit ±inf; the gradient uses the unclamped
    (rounded) ``p``, matching the textbook ``(p - y)·x`` form.
    """
    from feature_store_healthcare_spark.caching import release_local_checkpoint

    spark = feats.sparkSession
    d = len(feature_cols)
    # lazy: the FIRST step's aggregate job materializes (and truncates)
    # the projected feature table — an eager checkpoint plus a dedicated
    # count() were two extra full-scan jobs per fit; n rides step 1's
    # aggregate instead.
    state = feats.select(
        *[F.col(c).cast("double").alias(f"__x{j + 1}") for j, c in enumerate(feature_cols)],
        F.col(label_col).cast("double").alias("__y"),
    ).localCheckpoint(eager=False)
    if n_iters < 1 and state.count() == 0:  # no step-1 aggregate to ride
        raise ValueError("logistic_regression_fit: empty feature table")

    n = None  # read off step 1's aggregate
    w = [0.0] * (d + 1)
    rows: list[tuple] = []
    # try/finally: the empty-table ValueError below and any mid-loop
    # failure must release the checkpointed feature blocks too, not just
    # the success path
    try:
        for step in range(1, n_iters + 1):
            aggs = _logreg_step_aggs(w, d, with_count=n is None)
            g = state.agg(*aggs).collect()[0]
            if n is None:
                n = g["__n"]
                if n == 0:
                    raise ValueError("logistic_regression_fit: empty feature table")
            loss = g["__l"] / n
            w = [w[j] - lr * (g[f"g{j}"] / n) for j in range(d + 1)]
            rows.append(
                (step, _round_half_up(loss, round_to))
                + tuple(_round_half_up(x, round_to) for x in w)
            )
    finally:
        # the trajectory is driver-local — the checkpointed feature
        # blocks have no readers left; free them now
        release_local_checkpoint(state)
    schema = "step int, logloss double, " + ", ".join(
        f"w{j} double" for j in range(d + 1)
    )
    return spark.createDataFrame(rows, schema)


def _logreg_step_aggs(w: list[float], d: int, with_count: bool) -> list[Column]:
    """One GD step's aggregate list — gradient per weight, loss, and
    (step 1 only) the row count.

    Each aggregate is one parsed SQL string: the Column-API construction
    cost ~(d+2)·40 py4j round trips per step.  The text keeps the
    left-associated z chain ``w0 + w1*x1 + ... + wd*xd`` and writes the
    weights as exact double literals (:func:`sqlgen.double_lit`)."""
    z = double_lit(w[0]) + "".join(
        f" + ({double_lit(w[j + 1])} * __x{j + 1})" for j in range(d)
    )
    p = f"round(1.0D / (1.0D + exp(- ({z}))), 6)"
    pc = f"least(greatest({p}, {double_lit(1e-6)}), {double_lit(1.0 - 1e-6)})"
    resid = f"({p} - __y)"

    def dec(c: str, alias: str) -> Column:
        return F.expr(f"cast(sum(cast({c} as decimal(30,10))) as double)").alias(alias)

    aggs = [dec(resid, "g0")]
    aggs += [dec(f"({resid} * __x{j + 1})", f"g{j + 1}") for j in range(d)]
    aggs.append(dec(f"- ((__y * ln({pc})) + ((1.0D - __y) * ln(1.0D - {pc})))", "__l"))
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("__n"))
    return aggs


def _round_half_up(x: float, digits: int) -> float:
    """Decimal HALF_UP rounding (ties away from zero) — the semantics of
    Spark's ``F.round`` and DuckDB's ``round``, which Python's built-in
    banker's-rounding ``round()`` does NOT share on exact dyadic ties
    (e.g. 1/128 at 6 digits).  Driver-side outputs that an external
    oracle re-derives must round the same way."""
    import decimal

    return float(
        decimal.Decimal(x).quantize(
            decimal.Decimal(1).scaleb(-digits), rounding=decimal.ROUND_HALF_UP
        )
    )


def logistic_score(
    feats: DataFrame,
    feature_cols: list[str],
    weights: list[float],
    out_col: str = "score",
) -> Column:
    """Score rows with a fitted logistic model — the APPLY half of the
    learned quality filter (:func:`logistic_regression_fit` is the train
    half; together they are the fit→score round trip a curation pipeline
    runs: fit once on weak labels, score the whole corpus).  ``weights``
    is ``[w0, w1, ..., wd]`` (bias first — the trajectory row layout).

    Returns a COLUMN (not a frame): ``round(sigmoid(w0 + w1*x1 + ...),
    6)`` with the same left-associated chain and 6-digit rounding as the
    trainer's per-step probability, so a score is engine-reproducible
    bit-for-bit from the (rounded) published weights.  Pure JVM-side
    expression — scoring 100 TB is one codegen'd projection, no Python,
    no shuffle.

    ``feats`` is the frame the column will be selected from; it is used
    here only to FAIL FAST on a missing/misnamed feature column (an
    unresolved column otherwise surfaces as a downstream
    AnalysisException naming the internal plan, not this call site)."""
    if len(weights) != len(feature_cols) + 1:
        raise ValueError(
            f"logistic_score: {len(feature_cols)} features need "
            f"{len(feature_cols) + 1} weights (bias first), got {len(weights)}"
        )
    missing = [c for c in feature_cols if c not in feats.columns]
    if missing:
        raise ValueError(
            f"logistic_score: feature columns {missing} not in frame "
            f"(has {feats.columns})"
        )
    z = F.lit(float(weights[0]))
    for j, c in enumerate(feature_cols):
        z = z + F.lit(float(weights[j + 1])) * F.col(c).cast("double")
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias(out_col)
