"""Binned KS drift statistic and leakage-safe target encoding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feature_store_healthcare_spark.operators import drift, encode


def test_ks_identical_distributions_zero(spark):
    df = spark.createDataFrame(
        [("k", float(v)) for v in range(100)], "g string, value double"
    )
    out = drift.ks_binned(df, df, ["g"], "value", nbins=10).collect()
    assert len(out) == 1
    assert out[0].ks_stat == 0.0
    assert out[0].n_expected == 100 and out[0].n_actual == 100


def test_ks_disjoint_distributions_one(spark):
    exp = spark.createDataFrame(
        [("k", float(v)) for v in range(50)], "g string, value double"
    )
    # actual mass sits entirely above the expected range → clamps into the
    # top bucket; CDF gap at bucket 8 is 1.0 - small
    act = spark.createDataFrame(
        [("k", 1000.0 + v) for v in range(50)], "g string, value double"
    )
    out = drift.ks_binned(exp, act, ["g"], "value", nbins=10).collect()
    assert out[0].ks_stat > 0.85


def test_ks_shift_detected_and_bounded(spark):
    exp = spark.createDataFrame(
        [("k", float(v % 100)) for v in range(400)], "g string, value double"
    )
    act = spark.createDataFrame(
        [("k", 50.0 + (v % 50))  for v in range(400)], "g string, value double"
    )
    ks = drift.ks_binned(exp, act, ["g"], "value", nbins=10).collect()[0].ks_stat
    # actual occupies the upper half → CDF gap ≈ 0.5 at the midpoint
    assert 0.4 <= ks <= 0.6


def test_target_encoding_row_never_sees_its_fold(spark):
    # category "a": fold-f rows have value 100, all other folds value 0.
    # The encoding for (a, f) must therefore EXCLUDE the 100s.
    rows = []
    for i in range(400):
        rows.append((f"id{i}", "a", 100.0 if i % 4 == 0 else 0.0))
    df = spark.createDataFrame(rows, "k string, cat string, y double")
    # discover which fold the 100-value rows landed in is not needed —
    # instead assert the invariant directly: for every (cat, fold) cell,
    # encoding == smoothed mean over the OTHER folds.
    out = encode.target_encoding(
        df, "cat", "y", key="k", n_folds=4, prior_weight=0.0, round_to=9
    ).collect()
    folded = df.withColumn(
        "fold",
        __import__(
            "feature_store_healthcare_spark.operators.sampling",
            fromlist=["split_label"],
        ).split_label("k", encode.fold_weights(4), salt="te"),
    )
    cells = {
        (r.cat, r.fold): (r.s, r.n)
        for r in folded.groupBy("cat", "fold")
        .agg(F.sum("y").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    tot_s = sum(s for s, _ in cells.values())
    tot_n = sum(n for _, n in cells.values())
    for r in out:
        s_out = tot_s - cells[(r.cat, r.fold)][0]
        n_out = tot_n - cells[(r.cat, r.fold)][1]
        assert r.encoding == pytest.approx(s_out / n_out, abs=1e-6)


def test_target_encoding_prior_pulls_rare_categories(spark):
    rows = [(f"a{i}", "common", 10.0) for i in range(200)]
    rows += [("r1", "rare", 1000.0), ("r2", "rare", 1000.0)]
    df = spark.createDataFrame(rows, "k string, cat string, y double")
    out = {
        (r.cat, r.fold): r
        for r in encode.target_encoding(
            df, "cat", "y", key="k", n_folds=2, prior_weight=50.0
        ).collect()
    }
    prior = next(iter(out.values())).prior_mean
    for (cat, fold), r in out.items():
        if cat == "rare":
            # 0-or-1 out-of-fold observations vs 50 prior obs → encoding
            # hugs the prior, far from the category's raw 1000 mean
            assert abs(r.encoding - prior) < 25


class TestCuped:
    """operators.experiment: deterministic arms + CUPED adjustment."""

    def test_cuped_reduces_variance_and_preserves_effect(self, spark):
        import random

        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import experiment

        rng = random.Random(11)
        rows = []
        for u in range(400):
            base = rng.uniform(0, 100)          # user-level propensity
            arm = "treatment" if u % 2 else "control"
            lift = 5.0 if arm == "treatment" else 0.0
            rows.append(
                Row(arm=arm, x=base + rng.uniform(-5, 5),
                    y=base + lift + rng.uniform(-5, 5))
            )
        df = spark.createDataFrame(rows)
        out = {r["arm"]: r for r in experiment.cuped(df).collect()}
        # the adjusted estimate recovers the true ~5.0 lift; the raw one
        # may be off by the arms' covariate imbalance (that's the point)
        raw = out["treatment"]["mean_post"] - out["control"]["mean_post"]
        adj = out["treatment"]["mean_post_cuped"] - out["control"]["mean_post_cuped"]
        assert abs(adj - 5.0) < 1.0
        assert abs(adj - 5.0) <= abs(raw - 5.0) + 0.25  # never worse
        # X strongly predicts Y -> big theoretical variance reduction
        assert out["treatment"]["var_reduction_pct"] > 80
        assert abs(out["treatment"]["theta"] - 1.0) < 0.2

    def test_ab_assign_deterministic_and_balanced(self, spark):
        from pyspark.sql import functions as F

        from feature_store_healthcare_spark.operators import experiment

        df = spark.range(2000).select(F.col("id").alias("user_id"))
        a = df.withColumn("arm", experiment.ab_assign("user_id"))
        counts = {r["arm"]: r["n"] for r in a.groupBy("arm").agg(F.count("*").alias("n")).collect()}
        assert abs(counts["treatment"] - counts["control"]) < 300
        b = df.repartition(7).withColumn("arm", experiment.ab_assign("user_id"))
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


class TestLogisticRegressionFit:
    """operators.experiment.logistic_regression_fit: batch-GD trajectory —
    bit-determinism (partition invariance + a hand-computed step-1 pin)
    and learning (loss decreases, informative weight gets the right sign)."""

    def _toy(self, spark):
        from pyspark.sql import Row

        # y = 1 iff x1 large; x2 is noise-ish (deterministic, exact dyadic
        # feature values so the hand-computed pin is IEEE-reproducible)
        rows = [
            Row(x1=(i % 8) / 8.0, x2=((i * 3) % 5) / 4.0, y=1.0 if i % 8 >= 4 else 0.0)
            for i in range(64)
        ]
        return spark.createDataFrame(rows)

    def test_loss_decreases_and_separates(self, spark):
        from feature_store_healthcare_spark.operators import experiment

        out = experiment.logistic_regression_fit(
            self._toy(spark), ["x1", "x2"], "y", n_iters=4, lr=2.0
        ).collect()
        losses = [r.logloss for r in sorted(out, key=lambda r: r.step)]
        assert losses == sorted(losses, reverse=True) and losses[-1] < losses[0]
        assert sorted(out, key=lambda r: r.step)[-1].w1 > 0  # x1 drives y

    def test_partition_invariant(self, spark):
        from feature_store_healthcare_spark.operators import experiment

        df = self._toy(spark)
        a = experiment.logistic_regression_fit(df, ["x1", "x2"], "y").collect()
        b = experiment.logistic_regression_fit(
            df.repartition(13), ["x1", "x2"], "y"
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_step1_matches_hand_computation(self, spark):
        from feature_store_healthcare_spark.operators import experiment

        rows = [(r.x1, r.x2, r.y) for r in self._toy(spark).collect()]
        n = len(rows)
        # w=0 -> z=0 -> p=0.5 exactly; all step-1 sums are exact dyadics
        g0 = sum(0.5 - y for _, _, y in rows) / n
        g1 = sum((0.5 - y) * x1 for x1, _, y in rows) / n
        g2 = sum((0.5 - y) * x2 for _, x2, y in rows) / n
        import math

        loss = -sum(
            y * math.log(0.5) + (1 - y) * math.log(0.5) for _, _, y in rows
        ) / n
        got = {
            r.step: r
            for r in experiment.logistic_regression_fit(
                self._toy(spark), ["x1", "x2"], "y", n_iters=1, lr=1.0
            ).collect()
        }[1]
        assert got.w0 == round(-g0, 6)
        assert got.w1 == round(-g1, 6)
        assert got.w2 == round(-g2, 6)
        assert abs(got.logloss - loss) < 1e-6

    def test_empty_input_raises(self, spark):
        import pytest

        from feature_store_healthcare_spark.operators import experiment

        df = self._toy(spark).where("x1 < -1")
        with pytest.raises(ValueError):
            experiment.logistic_regression_fit(df, ["x1", "x2"], "y")


class TestRobustOutliers:
    def test_flags_planted_outliers_despite_corruption(self, spark):
        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import drift

        # tight cluster + 3 extreme points; a mean/std z-score with the
        # extremes in the estimate flags fewer
        rows = [Row(g="a", v=float(50 + (i % 11) - 5)) for i in range(200)]
        rows += [Row(g="a", v=10_000.0), Row(g="a", v=-9_000.0), Row(g="a", v=8_000.0)]
        out = drift.robust_outliers(spark.createDataFrame(rows), ["g"], "v").collect()[0]
        assert out["n_outliers"] == 3
        assert abs(out["median"] - 50.0) <= 1.0
        assert out["max_abs_z"] > 100

    def test_degenerate_distribution_flags_nothing(self, spark):
        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import drift

        df = spark.createDataFrame([Row(g="c", v=7.0)] * 30)
        r = drift.robust_outliers(df, ["g"], "v").collect()[0]
        assert r["mad"] == 0.0 and r["n_outliers"] == 0 and r["max_abs_z"] is None


class TestEquidepthBins:
    def test_bins_roughly_equal_on_skewed_data(self, spark):
        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import drift

        # heavily skewed: exponential-ish tail
        rows = [Row(g="a", v=float(2 ** (i % 14))) for i in range(1400)]
        out = drift.equidepth_bins(spark.createDataFrame(rows), ["g"], "v", nbins=7).collect()
        counts = [r["n_rows"] for r in out]
        assert len(counts) == 7
        assert max(counts) - min(counts) <= 400  # depth-balanced, not width
        # bins ordered and contiguous in value space
        ordered = sorted(out, key=lambda r: r["bin"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["hi"] <= b["lo"]

    def test_uniform_deciles(self, spark):
        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import drift

        rows = [Row(g="u", v=float(i)) for i in range(1000)]
        out = drift.equidepth_bins(spark.createDataFrame(rows), ["g"], "v", nbins=10).collect()
        counts = sorted(r["n_rows"] for r in out)
        assert len(counts) == 10 and counts[0] >= 99 and counts[-1] <= 101


class TestTrendRegression:
    def test_recovers_planted_slope(self, spark):
        from datetime import datetime, timedelta

        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import drift

        base = datetime(2024, 1, 1)
        origin = 1_704_067_200_000_000
        rows = [
            Row(g="up", ts=base + timedelta(days=i), v=10.0 + 2.5 * i)
            for i in range(30)
        ] + [Row(g="flat", ts=base + timedelta(days=i), v=7.0) for i in range(30)]
        df = spark.createDataFrame(rows).withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
        out = {
            r["g"]: r
            for r in drift.trend_regression(
                df, ["g"], "ts", "v", origin_micros=origin
            ).collect()
        }
        assert abs(out["up"]["slope_per_day"] - 2.5) < 1e-9
        assert abs(out["up"]["intercept"] - 10.0) < 1e-9
        assert abs(out["up"]["r2"] - 1.0) < 1e-9
        assert out["flat"]["slope_per_day"] == 0.0 and out["flat"]["r2"] is None

    def test_single_instant_is_null(self, spark):
        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import drift

        df = spark.createDataFrame(
            [Row(g="x", ts="2024-01-01 00:00:00", v=float(i)) for i in range(5)]
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        r = drift.trend_regression(df, ["g"], "ts", "v").collect()[0]
        assert r["slope_per_day"] is None and r["r2"] is None


class TestCusum:
    def test_detects_level_shift_day(self, spark):
        from datetime import datetime, timedelta

        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import drift

        base = datetime(2024, 1, 1)
        rows = []
        for day in range(30):
            level = 10.0 if day < 20 else 18.0  # shift on day 20
            for j in range(10):
                rows.append(
                    Row(g="shift", ts=base + timedelta(days=day, hours=j), v=level)
                )
        rows += [
            Row(g="flat", ts=base + timedelta(days=day), v=5.0)
            for day in range(30)
        ]
        df = spark.createDataFrame(rows).withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
        out = {r["g"]: r for r in drift.cusum_daily(df, ["g"], "ts", "v").collect()}
        s = out["shift"]
        assert s["n_days"] == 30
        # cumsum of (18 - target) over the last 10 days peaks on the final day
        assert s["peak_date"].isoformat() == "2024-01-30"
        assert s["cusum_max"] > 20
        f = out["flat"]
        assert f["cusum_max"] == 0.0 and f["peak_date"] is None


class TestWinsorize:
    def test_clips_tails_only(self, spark):
        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import drift

        rows = [Row(g="a", v=float(i)) for i in range(100)] + [
            Row(g="a", v=10_000.0)
        ]
        out = drift.winsorize(spark.createDataFrame(rows), ["g"], "v",
                              p_lo=0.05, p_hi=0.95).collect()
        clipped_hi = [r for r in out if r["__clipped"] == 1]
        assert any(r["v"] == 10_000.0 for r in clipped_hi)
        mids = [r for r in out if 10 <= r["v"] <= 90]
        assert all(r["__clipped"] == 0 and r["v_wins"] == r["v"] for r in mids)
        assert len(out) == 101  # row count preserved


class TestKfold:
    def test_balanced_disjoint_deterministic(self, spark):
        from feature_store_healthcare_spark.operators import sampling

        df = spark.range(5000).select(F.col("id"))
        a = df.withColumn("fold", sampling.kfold_assign("id", k=5))
        counts = {r["fold"]: r["n"] for r in a.groupBy("fold").agg(F.count("*").alias("n")).collect()}
        assert set(counts) == {0, 1, 2, 3, 4}
        assert max(counts.values()) - min(counts.values()) < 400
        b = df.repartition(11).withColumn("fold", sampling.kfold_assign("id", k=5))
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


class TestEwmaAndSeasonal:
    def test_ewma_closed_form(self, spark):
        from datetime import datetime, timedelta

        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import drift

        base = datetime(2024, 1, 1)
        xs = [10.0, 20.0, 30.0, 40.0]
        rows = [Row(g="a", ts=base + timedelta(days=i), v=x) for i, x in enumerate(xs)]
        df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        r = drift.ewma_daily(df, ["g"], "ts", "v", alpha=0.5).collect()[0]
        e = xs[0]
        for x in xs[1:]:
            e = 0.5 * x + 0.5 * e
        assert abs(r["ewma"] - round(e, 6)) < 1e-9
        assert r["last_value"] == 40.0 and r["n_days"] == 4
        assert abs(r["last_residual"] - round(40.0 - e, 6)) < 1e-9

    def test_seasonal_flags_weekday_break_not_weekend(self, spark):
        from datetime import datetime, timedelta

        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import drift

        base = datetime(2024, 1, 1)  # a Monday
        rows = []
        for day in range(28):
            dt = base + timedelta(days=day)
            weekend = dt.weekday() >= 5
            v = 100.0 if weekend else 10.0
            v += (day % 3) * 0.5  # mild noise so std > 0
            rows.append(Row(g="s", ts=dt, v=v))
        # one broken Monday in week 4: weekend-level value on a weekday
        rows.append(Row(g="s", ts=base + timedelta(days=28), v=100.0))
        df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        out = drift.seasonal_residuals(df, ["g"], "ts", "v", z_cut=3.0).collect()
        flagged = {r["day"].isoformat() for r in out if r["is_anomaly"]}
        assert "2024-01-29" in flagged          # the broken Monday
        # ordinary weekend days are NOT anomalies under their own baseline
        assert "2024-01-06" not in flagged and "2024-01-07" not in flagged


class TestLogisticScore:
    """operators.experiment.logistic_score: the apply half."""

    def test_score_matches_sigmoid_and_separates(self, spark):
        import math

        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import experiment

        df = spark.createDataFrame([Row(x1=0.25, x2=1.0), Row(x1=4.0, x2=0.0)])
        rows = df.select(
            "x1", experiment.logistic_score(df, ["x1", "x2"], [-1.0, 2.0, 0.5])
        ).collect()
        got = {r.x1: r.score for r in rows}
        exp = lambda x1, x2: round(  # noqa: E731
            1.0 / (1.0 + math.exp(-(-1.0 + 2.0 * x1 + 0.5 * x2))), 6
        )
        assert got[0.25] == exp(0.25, 1.0)
        assert got[4.0] == exp(4.0, 0.0)

    def test_weight_arity_guard(self, spark):
        import pytest

        from feature_store_healthcare_spark.operators import experiment

        with pytest.raises(ValueError):
            experiment.logistic_score(None, ["x1", "x2"], [0.0, 1.0])

    def test_missing_feature_column_fails_fast(self, spark):
        """Round-10 ADVICE: `feats` was declared but unused — it now
        validates the feature columns, so a typo fails HERE with the
        column names, not downstream with a plan-internal
        AnalysisException."""
        import pytest

        from feature_store_healthcare_spark.operators import experiment

        df = spark.createDataFrame([(1.0, 2.0)], "x1 double, x2 double")
        with pytest.raises(ValueError, match="nope"):
            experiment.logistic_score(df, ["x1", "nope"], [0.0, 1.0, 2.0])


    def test_single_class_saturation_stays_finite(self, spark):
        """All-one labels push p toward 1 and log(1-p) toward -inf; the
        [1e-6, 1-1e-6] clamp must keep every trajectory value finite while
        the gradient (which uses the UNCLAMPED rounded p) keeps moving the
        weights toward saturation."""
        import math

        from pyspark.sql import Row

        from feature_store_healthcare_spark.operators import experiment

        df = spark.createDataFrame(
            [Row(x1=float(i % 4), y=1.0) for i in range(32)]
        )
        out = sorted(
            experiment.logistic_regression_fit(
                df, ["x1"], "y", n_iters=5, lr=50.0
            ).collect(),
            key=lambda r: r.step,
        )
        assert all(math.isfinite(r.logloss) and math.isfinite(r.w0) for r in out)
        # saturated: loss collapses toward the clamp floor, bias grows
        assert out[-1].logloss < out[0].logloss
        assert out[-1].w0 > 0


def test_logreg_step_aggs_sql_path_equals_column_fallback(spark):
    """The GD step's aggregates are parsed from SQL text — the analyzed
    tree must equal a Column-API build of the same formula exactly,
    including repr-round-tripped double literals, and non-finite weights
    must evaluate like the Column build does."""
    import math

    from pyspark.sql import functions as F

    from feature_store_healthcare_spark.operators import experiment
    from feature_store_healthcare_spark.sqlgen import double_lit

    df = spark.range(8).select(
        (F.col("id") * 0.1).alias("__x1"),
        (F.col("id") * 0.2).alias("__x2"),
        (F.col("id") % 2).cast("double").alias("__y"),
    )
    dec = lambda c: F.sum(c.cast("decimal(30,10)")).cast("double")  # noqa: E731

    def fb(w):
        y = F.col("__y")
        z = F.lit(w[0])
        for j in range(2):
            z = z + F.lit(w[j + 1]) * F.col(f"__x{j + 1}")
        p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
        pc = F.least(F.greatest(p, F.lit(1e-6)), F.lit(1.0 - 1e-6))
        resid = p - y
        aggs = [dec(resid).alias("g0")]
        aggs += [dec(resid * F.col(f"__x{j + 1}")).alias(f"g{j + 1}") for j in range(2)]
        aggs.append(
            dec(-(y * F.log(pc) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - pc))).alias(
                "__l"
            )
        )
        return aggs + [F.count(F.lit(1)).alias("__n")]

    # a weight with full 17-significant-digit repr exercises the literal
    # round-trip; 1e-06 exercises exponent-form double literals
    w = [0.125, -1.0 / 3.0, 1e-06]
    sql_aggs = experiment._logreg_step_aggs(w, 2, with_count=True)
    a = df.agg(*sql_aggs)._jdf.queryExecution().analyzed()
    b = df.agg(*fb(w))._jdf.queryExecution().analyzed()
    assert a.sameResult(b)
    # non-finite literals evaluate to their values; a NaN weight makes z
    # NaN, so the gradient sums are NULL (NaN has no decimal form) exactly
    # as in the Column build
    lits = spark.range(1).select(*[F.expr(double_lit(x)) for x in (math.nan, -math.inf)])
    assert math.isnan(lits.first()[0]) and lits.first()[1] == -math.inf
    nan_w = [math.nan, 0.0, 0.0]
    got = df.agg(*experiment._logreg_step_aggs(nan_w, 2, with_count=True)).collect()[0]
    assert got == df.agg(*fb(nan_w)).collect()[0]
    assert got.g0 is None and math.isfinite(got["__l"])
