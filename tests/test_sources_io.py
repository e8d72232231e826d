"""Generic source/sink roundtrips: format fidelity, schema enforcement, and
partitioned-write pruning (the directory layout the offline store relies on).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feature_store_healthcare_spark import plans
from feature_store_healthcare_spark.sources import load_table, read_source, write_sink


@pytest.fixture(scope="module")
def sample(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    ).limit(200)


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_roundtrip(spark, sample, tmp_path, fmt):
    path = str(tmp_path / fmt)
    write_sink(sample, path, fmt=fmt)
    schema = "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double"
    back = read_source(spark, path, fmt=fmt, schema=schema)
    assert back.count() == 200
    a = sample.agg(F.sum("o_totalprice"), F.sum("o_orderkey")).first()
    b = back.agg(F.sum("o_totalprice"), F.sum("o_orderkey")).first()
    assert a == b


def test_csv_infers_without_schema(spark, sample, tmp_path):
    path = str(tmp_path / "csv_infer")
    write_sink(sample, path, fmt="csv")
    back = read_source(spark, path, fmt="csv")
    assert back.count() == 200
    assert dict(back.dtypes)["o_orderkey"] in ("int", "bigint")


def test_partitioned_write_prunes(spark, sample, tmp_path):
    path = str(tmp_path / "by_status")
    write_sink(sample, path, fmt="parquet", partition_by=["o_orderstatus"])
    back = read_source(spark, path).where(F.col("o_orderstatus") == "O")
    plan = plans.physical_plan(back)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan
    want = sample.where(F.col("o_orderstatus") == "O").count()
    assert back.count() == want


def test_unknown_format_rejected(spark, sample, tmp_path):
    with pytest.raises(ValueError, match="unsupported format"):
        read_source(spark, "/nope", fmt="avro")
    with pytest.raises(ValueError, match="unsupported format"):
        write_sink(sample, str(tmp_path / "x"), fmt="xml")


def test_events_ts_matches_pyarrow_ground_truth(spark, sf_dir):
    """Regression for the round-1 root-cause bug: a forced nanos-as-long
    schema misread timestamp[us] files and collapsed 2024 into 1970.  The
    loader must agree with pyarrow's read of the same file regardless of
    which physical type the generator used."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["ts"])
    want_min = pc.min(t["ts"]).as_py().replace(tzinfo=None)
    want_max = pc.max(t["ts"]).as_py().replace(tzinfo=None)

    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    row = df.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).first()
    assert row["mn"] == want_min
    assert row["mx"] == want_max
    # sanity: the data spans days, not minutes (the 1970 collapse symptom)
    assert (want_max - want_min).days >= 1


def test_schema_memo_matches_inference_and_tracks_file_identity(
    spark, sf_dir, tmp_path
):
    """r14 opt: load_table memoizes parquet schema inference by the
    file's (path, size, mtime) identity.  The memoized schema must equal
    a fresh inference, and a REWRITTEN file (new identity) must re-infer
    — never serve the old schema."""
    import os

    from feature_store_healthcare_spark.sources import tables as t

    for name in ("lineitem", "events", "embeddings"):
        path = f"{sf_dir}/{name}.parquet"
        assert t._inferred_schema(spark, path) == spark.read.parquet(path).schema
    # rewrite → new identity → re-inferred (schema actually changes)
    p = str(tmp_path / "x.parquet")
    spark.range(5).select(F.col("id").alias("a")).write.parquet(p)
    s1 = t._inferred_schema(spark, p)
    assert [f.name for f in s1.fields] == ["a"]
    spark.range(5).select(
        F.col("id").alias("a"), F.lit("y").alias("b")
    ).write.mode("overwrite").parquet(p)
    os.utime(p)  # ensure the directory mtime moves even on coarse clocks
    s2 = t._inferred_schema(spark, p)
    assert [f.name for f in s2.fields] == ["a", "b"]


def test_schema_memo_detects_in_place_part_file_rewrite(spark, tmp_path):
    """A directory dataset whose part-file is rewritten IN PLACE under
    the same name — every directory stat pinned back to its pre-rewrite
    identity — must still re-infer: the stamp folds in the newest leaf
    entry's (mtime_ns, name, size), for a flat layout and for a
    partitioned one (``k=0/part-*.parquet``)."""
    import os

    from feature_store_healthcare_spark.sources import tables as t

    for partitioned in (False, True):
        p, p2 = (str(tmp_path / f"{partitioned}{i}.parquet") for i in (1, 2))
        k = ["k"] if partitioned else []

        def write(cols, path):
            df = spark.range(5).select(*cols, *[F.lit(0).alias(c) for c in k])
            df.coalesce(1).write.partitionBy(*k).parquet(path)

        write([F.col("id").alias("a")], p)
        assert [f.name for f in t._inferred_schema(spark, p).fields] == ["a", *k]
        leaf_dir = os.path.join(p, "k=0") if partitioned else p
        dir_stats = {d: os.stat(d) for d in (p, leaf_dir)}
        part = next(f for f in os.listdir(leaf_dir) if f.endswith(".parquet"))
        # rewrite the part file under the SAME name with a different schema
        write([F.col("id").alias("a"), F.lit("y").alias("b")], p2)
        src_dir = os.path.join(p2, "k=0") if partitioned else p2
        part2 = next(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
        os.replace(os.path.join(src_dir, part2), os.path.join(leaf_dir, part))
        # drop Hadoop's .crc sidecars: the local FS reader would otherwise
        # fail the swapped bytes against the OLD checksum — a test-harness
        # artifact (real object stores have no sidecar), not the scenario
        for f in os.listdir(leaf_dir):
            if f.endswith(".crc"):
                os.remove(os.path.join(leaf_dir, f))
        # pin the DIRECTORY stats back to their pre-rewrite identity: only
        # the leaf entry's own (mtime, size) can reveal the rewrite
        for d, st in dir_stats.items():
            os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
        s2 = t._inferred_schema(spark, p)
        assert [f.name for f in s2.fields] == ["a", "b", *k], partitioned


def test_register_views_enables_raw_sql(spark, sf_dir):
    from feature_store_healthcare_spark.sources import register_views

    register_views(spark, sf_dir)
    row = spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderpriority
        ORDER BY n DESC, o_orderpriority LIMIT 1
        """
    ).first()
    assert row["n"] > 0
    # events view carries the nanos→micros normalization
    ts_type = dict(spark.table("events").dtypes)["ts"]
    assert ts_type == "timestamp_ntz"


class TestSchemaDriftAndQuarantine:
    def test_align_schemas_supersets_with_nulls(self, spark):
        from pyspark.sql import Row

        from feature_store_healthcare_spark.sources.io import align_schemas

        era1 = spark.createDataFrame([Row(a=1, b="x")])
        era2 = spark.createDataFrame([Row(a=2, c=3.5)])
        era3 = spark.createDataFrame([Row(c=9.0, b="y", a=7)])
        out = align_schemas([era1, era2, era3])
        assert set(out.columns) == {"a", "b", "c"}
        rows = {r["a"]: r for r in out.collect()}
        assert rows[1]["c"] is None and rows[1]["b"] == "x"
        assert rows[2]["b"] is None and rows[2]["c"] == 3.5
        assert rows[7]["b"] == "y" and rows[7]["c"] == 9.0

    def test_read_json_quarantine_splits(self, spark, tmp_path):
        from feature_store_healthcare_spark.sources.io import (
            read_json_quarantine,
        )

        p = tmp_path / "in.json"
        p.write_text(
            "\n".join(
                [
                    '{"id": 1, "v": 2.0}',
                    "this is not json at all",
                    '{"id": 3, "v": 4.0}',
                    '{"id": 5, "v": }',
                ]
            )
        )
        good, bad = read_json_quarantine(spark, str(p), "id bigint, v double")
        g = sorted((r["id"], r["v"]) for r in good.collect())
        assert g == [(1, 2.0), (3, 4.0)]
        raw = {r["raw_line"] for r in bad.collect()}
        assert raw == {"this is not json at all", '{"id": 5, "v": }'}
        assert "_corrupt_record" not in good.columns
