"""Maintenance-job tests: per-feature retention enforcement (the ref
declares retention_days=2555 but never enforces it) and small-file
compaction of the append-only store.
"""

from __future__ import annotations

import math
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feature_store_healthcare_spark import maintenance, tableops
from feature_store_healthcare_spark.stores import AppendStore

NOW = datetime(2024, 6, 1)


def hist_reference(values, lo, hi, bins, qs):
    """Pure-Python 'hist' state and quantile estimates: the bucket index
    and the cumulative walk of maintenance.incremental_agg /
    finalize_agg_states, operation for operation, in IEEE doubles."""
    width = (hi - lo) / bins
    counts = [0] * bins
    for v in values:
        counts[min(max(math.floor((float(v) - lo) / width), 0), bins - 1)] += 1
    out = {}
    for q in qs:
        target, cum = q * float(sum(counts)), 0.0
        for i, c in enumerate(map(float, counts)):
            if q not in out and cum + c >= target and c > 0:
                out[q] = min(lo + (float(i) + (target - cum) / c) * ((hi - lo) / bins), hi)
            cum = cum + c
    return counts, out


@pytest.fixture()
def registry_df(spark):
    return spark.createDataFrame(
        [("f_short", 30), ("f_long", 2555)],
        "feature_id string, retention_days int",
    )


@pytest.fixture()
def values_df(spark):
    rows = [
        # f_short: 30-day retention → only rows after 2024-05-02 survive
        ("f_short", "e1", datetime(2024, 5, 20)),
        ("f_short", "e2", datetime(2024, 4, 1)),     # expired
        ("f_short", "e3", datetime(2024, 5, 2, 1)),  # just inside
        # f_long: 7-year retention → everything survives
        ("f_long", "e1", datetime(2018, 1, 1)),
        # unregistered feature → default 2555 days
        ("f_unknown", "e1", datetime(2023, 1, 1)),
    ]
    return spark.createDataFrame(
        rows, "feature_id string, entity_id string, event_timestamp timestamp_ntz"
    )


def test_retention_filter_per_feature(values_df, registry_df):
    kept = maintenance.retention_filter(values_df, registry_df, now=NOW)
    got = {(r.feature_id, r.entity_id) for r in kept.collect()}
    assert got == {
        ("f_short", "e1"),
        ("f_short", "e3"),
        ("f_long", "e1"),
        ("f_unknown", "e1"),
    }
    gone = maintenance.expired_rows(values_df, registry_df, now=NOW)
    assert {(r.feature_id, r.entity_id) for r in gone.collect()} == {("f_short", "e2")}


def test_apply_retention_rewrites_store(spark, values_df, registry_df, tmp_path):
    store = AppendStore(spark, str(tmp_path / "values"))
    store.append(values_df)
    removed = maintenance.apply_retention(store, registry_df, now=NOW)
    assert removed == 1
    left = store.read()
    assert left.count() == 4
    assert left.where(F.col("entity_id") == "e2").count() == 0
    # idempotent
    assert maintenance.apply_retention(store, registry_df, now=NOW) == 0


def test_compact_reduces_files(spark, tmp_path):
    store = AppendStore(spark, str(tmp_path / "log"))
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    for _ in range(5):  # five appends → many small files
        store.append(df.repartition(4))
    import glob

    before = len(glob.glob(f"{tableops.current_dir(store.path)}/*.parquet"))
    maintenance.compact(store, target_partitions=2)
    after = len(glob.glob(f"{tableops.current_dir(store.path)}/*.parquet"))
    assert after <= 2 < before
    assert store.read().count() == 500


def _log_batch(spark, start: int):
    """Ten log rows, ``day`` 0 or 1; every fifth row belongs to the
    30-day ``f_short`` feature and is expired at ``NOW``."""
    rows = [
        ("f_short", f"e{i}", datetime(2024, 4, 1), i % 2)
        if i % 5 == 0
        else ("f_long", f"e{i}", datetime(2024, 5, 20), i % 2)
        for i in range(start, start + 10)
    ]
    return spark.createDataFrame(
        rows, "feature_id string, entity_id string, event_timestamp timestamp_ntz, day int"
    )


@pytest.mark.parametrize("rewrite", ["compact", "retention"])
def test_partitioned_store_keeps_rows_through_rewrite(
    spark, registry_df, tmp_path, rewrite
):
    """A rewrite keeps the store's partitioning, so a later append and read
    see every row (dropping ``partition_by`` read back 10 of 30)."""
    store = AppendStore(spark, str(tmp_path / "log"), partition_by=["day"])
    store.append(_log_batch(spark, 0))
    store.append(_log_batch(spark, 10))
    if rewrite == "compact":
        maintenance.compact(store, target_partitions=1)
        kept = range(20)
    else:
        assert maintenance.apply_retention(store, registry_df, now=NOW) == 4
        kept = [i for i in range(20) if i % 5]
    store.append(_log_batch(spark, 20))
    got = sorted((r.entity_id, r.day) for r in store.read().collect())
    assert got == sorted((f"e{i}", i % 2) for i in [*kept, *range(20, 30)])


def test_registry_value_log_keeps_rows_through_maintenance(
    spark, registry_df, tmp_path
):
    """The registry's value log is an AppendStore: compaction and
    retention on it keep its ``event_date`` partitioning, and
    ``values_df`` reads every surviving row back."""
    from feature_store_healthcare_spark.registry import VALUES_SCHEMA, FeatureRegistry

    reg = FeatureRegistry(spark, storage_dir=str(tmp_path))

    def ingest(start):
        rows = []
        for r in _log_batch(spark, start).collect():
            row = dict.fromkeys(VALUES_SCHEMA.fieldNames())
            row.update(
                feature_id=r.feature_id, feature_name=r.feature_id,
                entity_type="patient", entity_id=r.entity_id,
                value_long=int(r.entity_id[1:]), event_timestamp=r.event_timestamp,
                created_timestamp=r.event_timestamp, seq=int(r.entity_id[1:]),
            )
            rows.append(tuple(row[n] for n in VALUES_SCHEMA.fieldNames()))
        reg.ingest_values_df(spark.createDataFrame(rows, VALUES_SCHEMA))

    def ids():
        return sorted(r.value_long for r in reg.values_df().collect())

    ingest(0)
    ingest(10)
    maintenance.compact(reg.log, target_partitions=1)
    ingest(20)
    assert ids() == list(range(30))
    assert maintenance.apply_retention(reg.log, registry_df, now=NOW) == 6
    ingest(30)
    assert ids() == [i for i in range(30) if i % 5] + list(range(30, 40))


# ------------------------------- incremental aggregate maintenance (IVM)

def _events_batches(spark):
    rows = [
        (uid % 3, f"u{uid % 17}", float(uid % 50)) for uid in range(600)
    ]
    df = spark.createDataFrame(rows, "grp long, user string, v double")
    return df, [
        df.where(F.col("v") < 10),
        df.where((F.col("v") >= 10) & (F.col("v") < 33)),
        df.where(F.col("v") >= 33),
    ]


def test_incremental_agg_merge_equals_full_recompute(spark):
    full, batches = _events_batches(spark)
    running = maintenance.incremental_agg(batches[0], ["grp"], "v")
    for b in batches[1:]:
        running = maintenance.merge_agg_states(
            running, maintenance.incremental_agg(b, ["grp"], "v"), ["grp"]
        )
    got = {
        r.grp: r
        for r in maintenance.finalize_agg_states(running, ["grp"]).collect()
    }
    want = {
        r.grp: r
        for r in full.groupBy("grp")
        .agg(
            F.count("v").alias("n"),
            F.sum(F.col("v").cast("decimal(25,6)")).cast("double").alias("total"),
            F.min("v").alias("min_value"),
            F.max("v").alias("max_value"),
            F.countDistinct("v").alias("nd"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for g in want:
        assert got[g].n == want[g].n
        assert got[g].total == want[g].total  # decimal states: exact under any merge order
        assert got[g].avg == want[g].total / want[g].n
        assert got[g].min_value == want[g].min_value
        assert got[g].max_value == want[g].max_value
        # 50 distinct values per group: Datasketches HLL is exact in sparse mode
        assert abs(got[g].n_distinct_est - want[g].nd) / want[g].nd < 0.05


def test_merge_agg_states_associative_and_handles_new_keys(spark):
    _, batches = _events_batches(spark)
    s = [maintenance.incremental_agg(b, ["grp"], "v") for b in batches]
    left = maintenance.merge_agg_states(
        maintenance.merge_agg_states(s[0], s[1], ["grp"]), s[2], ["grp"]
    )
    right = maintenance.merge_agg_states(
        s[0], maintenance.merge_agg_states(s[1], s[2], ["grp"]), ["grp"]
    )
    fl = maintenance.finalize_agg_states(left, ["grp"]).collect()
    fr = maintenance.finalize_agg_states(right, ["grp"]).collect()
    assert sorted(map(tuple, fl)) == sorted(map(tuple, fr))
    # a batch introducing an unseen key survives a merge with NULL states
    extra = spark.createDataFrame([(99, "new", 1.0)], "grp long, user string, v double")
    merged = maintenance.merge_agg_states(
        s[0], maintenance.incremental_agg(extra, ["grp"], "v"), ["grp"]
    )
    row = {r.grp: r for r in maintenance.finalize_agg_states(merged, ["grp"]).collect()}[99]
    assert row.n == 1 and row.total == 1.0 and row.min_value == 1.0


class TestHistQuantileState:
    """The mergeable fixed-edge histogram state ('hist' spec) and its
    read-time quantile estimates."""

    def _batches(self, spark, seed=3, nb=4, n=300):
        import random

        rng = random.Random(seed)
        rows = [
            Row(grp=f"g{i % 2}", v=rng.uniform(0.0, 100.0)) for i in range(nb * n)
        ]
        chunk = len(rows) // nb
        return [
            spark.createDataFrame(rows[i * chunk : (i + 1) * chunk])
            for i in range(nb)
        ], rows

    def test_merged_hist_equals_full_recompute(self, spark):
        batches, rows = self._batches(spark)
        full = spark.createDataFrame(rows)
        kw = dict(specs=["count", "hist"], hist_lo=0.0, hist_hi=100.0, hist_bins=50)
        running = maintenance.incremental_agg(batches[0], ["grp"], "v", **kw)
        for b in batches[1:]:
            running = maintenance.merge_agg_states(
                running, maintenance.incremental_agg(b, ["grp"], "v", **kw), ["grp"]
            )
        direct = maintenance.incremental_agg(full, ["grp"], "v", **kw)
        got = {r["grp"]: r["state_hist"] for r in running.collect()}
        want = {r["grp"]: r["state_hist"] for r in direct.collect()}
        assert got == want

    def test_quantile_estimate_close_to_exact(self, spark):
        batches, rows = self._batches(spark)
        kw = dict(specs=["count", "hist"], hist_lo=0.0, hist_hi=100.0, hist_bins=50)
        states = maintenance.incremental_agg(batches[0], ["grp"], "v", **kw)
        for b in batches[1:]:
            states = maintenance.merge_agg_states(
                states, maintenance.incremental_agg(b, ["grp"], "v", **kw), ["grp"]
            )
        out = {
            r["grp"]: r
            for r in maintenance.finalize_agg_states(
                states, ["grp"], quantiles=(0.5, 0.95)
            ).collect()
        }
        import statistics

        by_grp = {}
        for r in rows:
            by_grp.setdefault(r.grp, []).append(r.v)
        for g, vs in by_grp.items():
            vs.sort()
            exact_p50 = statistics.quantiles(vs, n=100)[49]
            exact_p95 = statistics.quantiles(vs, n=100)[94]
            # bucket width is 2.0 -> estimate within one bucket of exact
            assert abs(out[g]["p50"] - exact_p50) <= 2.0
            assert abs(out[g]["p95"] - exact_p95) <= 2.0

    def test_quantiles_match_python_bucket_formula(self, spark):
        """State counts and quantile estimates equal the pure-Python
        bucket formula exactly (bit-identical doubles, not approximately),
        over a bin count that does not divide the range evenly."""
        batches, rows = self._batches(spark, nb=1, n=200)
        qs = (0.0, 0.5, 0.9, 1.0)
        st = maintenance.incremental_agg(
            batches[0], ["grp"], "v", specs=["count", "hist"], hist_lo=0.0,
            hist_hi=100.0, hist_bins=17,
        )
        fin = maintenance.finalize_agg_states(st, ["grp"], quantiles=qs)
        got = {r["grp"]: r for r in fin.collect()}
        states = {r["grp"]: r["state_hist"]["counts"] for r in st.collect()}
        for g in ("g0", "g1"):
            vs = [r.v for r in rows if r.grp == g]
            counts, want = hist_reference(vs, 0.0, 100.0, 17, qs)
            assert states[g] == counts
            for q in qs:
                assert got[g][f"p{int(round(q * 100))}"] == want[q], (g, q)

    def test_hist_edges(self, spark):
        # all mass in one value: every quantile collapses to that bucket
        df = spark.createDataFrame([Row(grp="a", v=10.0)] * 20)
        st = maintenance.incremental_agg(
            df, ["grp"], "v", specs=["hist"], hist_lo=0.0, hist_hi=100.0,
            hist_bins=10,
        )
        r = maintenance.finalize_agg_states(st, ["grp"], quantiles=(0.5,)).collect()[0]
        assert 10.0 <= r["p50"] <= 20.0
        # out-of-range values clamp to the end buckets, never lost
        df2 = spark.createDataFrame(
            [Row(grp="a", v=-5.0), Row(grp="a", v=500.0)]
        )
        st2 = maintenance.incremental_agg(
            df2, ["grp"], "v", specs=["count", "hist"], hist_lo=0.0,
            hist_hi=100.0, hist_bins=10,
        )
        row = st2.collect()[0]
        assert sum(row["state_hist"]["counts"]) == row["state_count"] == 2
