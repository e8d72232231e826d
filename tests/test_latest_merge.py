"""The ingest-merge write path: the parsed-SQL ``latest_per_key`` build
(its py4j cost and plan identity with a Column-API build) and the
``LatestStore`` schema memo (no footer-inference job on a warm merge, and
correct reads of versions the instance did not commit)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from feature_store_healthcare_spark.operators.pit import _tie_fallback_cols, latest_per_key
from feature_store_healthcare_spark.registry import VALUES_SCHEMA
from feature_store_healthcare_spark.sqlgen import ident
from feature_store_healthcare_spark.stores import LatestStore

T0 = datetime(2024, 1, 1)
EAV_KEYS = ["feature_id", "entity_id"]
EAV_TIEBREAK = ["created_timestamp", "seq"]


def _eav_rows(spark, rows):
    """VALUES_SCHEMA frame from (feature, entity, value, hour, seq) rows."""
    names = VALUES_SCHEMA.fieldNames()
    out = []
    for fid, eid, v, hour, seq in rows:
        r = dict.fromkeys(names)
        r.update(
            feature_id=fid, entity_id=eid, value_double=v, value_array_long=[seq],
            event_timestamp=T0 + timedelta(hours=hour), created_timestamp=T0, seq=seq,
        )
        out.append(tuple(r[n] for n in names))
    return spark.createDataFrame(out, VALUES_SCHEMA)


def test_latest_build_py4j_budget(spark):
    """Building (not running) the argmax over a 15-column EAV frame sends
    at most 40 py4j commands; the Column-API build sent ~565.  Counted by
    wrapping the gateway's ``send_command``, leaving out the memory-delete
    commands py4j sends whenever Python frees a proxy that earlier work
    created (they arrive at arbitrary points, not as part of the build)."""
    client = spark.sparkContext._gateway._gateway_client
    original = client.send_command
    sent = []

    def counted(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return original(command, *args, **kwargs)

    df = spark.createDataFrame([], VALUES_SCHEMA)
    client.send_command = counted
    try:
        latest_per_key(df, EAV_KEYS, "event_timestamp", tiebreak=EAV_TIEBREAK)
    finally:
        client.send_command = original
    assert len(sent) <= 40, len(sent)


def _column_reference(df, keys, ts_col, tiebreak):
    """The argmax built through the Column API, one ``F.col`` per name."""

    def col(c):
        return F.col(ident(c))

    fallback = _tie_fallback_cols(df, [*keys, ts_col, *tiebreak])
    payload = [c for c in df.columns if c not in keys]
    ordered = list(dict.fromkeys((ts_col, *tiebreak, *fallback)))
    if set(ordered) == set(payload):
        agg = F.max(F.struct(*[col(c) for c in ordered]))
    else:
        agg = F.max_by(
            F.struct(*[col(c) for c in payload]),
            F.struct(*[col(c) for c in (ts_col, *tiebreak, *fallback)]),
        )
    out = df.groupBy(*[col(k) for k in keys]).agg(agg.alias("__latest"))
    return out.select(
        *[col(k) for k in keys], *[F.col("__latest").getField(c).alias(c) for c in payload]
    )


@pytest.mark.parametrize("escaped", ["false", "true"])
@pytest.mark.parametrize("with_map", [False, True], ids=["orderable", "map_payload"])
def test_latest_build_plan_matches_column_reference(spark, escaped, with_map):
    """Both aggregate branches (one ``max(struct)``; ``max_by`` when a map
    rides in the payload) analyze to a plan ``sameResult`` with the
    Column-API build and return the same rows, for names that need
    quoting, in both string-literal parser modes."""
    key = "spark.sql.parser.escapedStringLiterals"
    prior = spark.conf.get(key, "false")
    spark.conf.set(key, escaped)
    try:
        t1, t2 = T0, T0 + timedelta(hours=1)
        rows = [
            # k1: ts and i tie between the last two rows; the fallback
            # (sorted names: "a`b", then "v") picks "z"
            ("k1", t1, 5, "x", 1.0),
            ("k1", t2, 0, "y", 2.0),
            ("k1", t2, 0, "z", 0.5),
            # k2: same ts, the tiebreak i decides
            ("k2", t1, 2, "p", None),
            ("k2", t1, 1, "q", 5.0),
        ]
        ddl = "`my key` string, ts timestamp_ntz, i long, `a``b` string, v double"
        if with_map:
            rows = [(*r, {"n": n}) for n, r in enumerate(rows)]
            ddl += ", m map<string,int>"
        df = spark.createDataFrame(rows, ddl)
        got = latest_per_key(df, ["my key"], "ts", tiebreak=["i"])
        ref = _column_reference(df, ["my key"], "ts", ["i"])
        assert got._jdf.queryExecution().analyzed().sameResult(
            ref._jdf.queryExecution().analyzed()
        )
        assert got.columns == df.columns
        got_rows = sorted(got.collect())
        assert got_rows == sorted(ref.collect())
        assert [(r["my key"], r["a`b"]) for r in got_rows] == [("k1", "z"), ("k2", "p")]
    finally:
        spark.conf.set(key, prior)


def _jobs_outside_writes(spark, fn) -> tuple[list[int], list[int]]:
    """Run ``fn`` under one job group while every ``DataFrameWriter.parquet``
    call runs under another; returns (other job ids, write job ids)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    body, write = "latest-merge-body", "latest-merge-write"
    original = DataFrameWriter.parquet

    def grouped_write(self, *args, **kwargs):
        sc.setJobGroup(write, "snapshot write")
        try:
            return original(self, *args, **kwargs)
        finally:
            sc.setJobGroup(body, "merge outside the write")

    DataFrameWriter.parquet = grouped_write
    try:
        sc.setJobGroup(body, "merge outside the write")
        fn()
    finally:
        DataFrameWriter.parquet = original
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(tracker.getJobIdsForGroup(body)), list(tracker.getJobIdsForGroup(write))


def test_snapshot_memo_warm_merge_runs_no_inference_job(spark, tmp_path):
    """A warm instance reads the snapshot it committed with the schema it
    remembers: the only Spark jobs a merge runs are the write's."""
    store = LatestStore(spark, str(tmp_path / "latest"))
    store.merge(_eav_rows(spark, [("f1", "e1", 1.0, 0, 0)]), EAV_KEYS, "event_timestamp",
                tiebreak=EAV_TIEBREAK)
    batch = _eav_rows(spark, [("f1", "e1", 2.0, 1, 1), ("f1", "e2", 3.0, 0, 2)])
    other, writes = _jobs_outside_writes(
        spark,
        lambda: store.merge(batch, EAV_KEYS, "event_timestamp", tiebreak=EAV_TIEBREAK),
    )
    assert writes  # the probe sees the write's jobs
    assert other == []
    got = {(r.entity_id, r.value_double) for r in store.read().collect()}
    assert got == {("e1", 2.0), ("e2", 3.0)}


def test_snapshot_memo_schema_equals_inferred(spark, tmp_path):
    """The remembered schema is what inference gives for the same files
    (all fields nullable, nested types included)."""
    path = str(tmp_path / "latest")
    store = LatestStore(spark, path)
    for n in range(2):
        batch = _eav_rows(spark, [("f1", "e1", float(n), n, n), ("f2", "e1", None, n, 10 + n)])
        store.merge(batch, EAV_KEYS, "event_timestamp", tiebreak=EAV_TIEBREAK)
    fresh = LatestStore(spark, path).read()
    assert store.read().schema == fresh.schema
    assert sorted(store.read().collect()) == sorted(fresh.collect())


def _kv(spark, k, hour, v, vtype="int"):
    return spark.createDataFrame(
        [(k, T0 + timedelta(hours=hour), v)], f"k string, ts timestamp_ntz, v {vtype}"
    )


def test_snapshot_memo_foreign_flip_reads_new_version(spark, tmp_path):
    """After another instance merges and flips the pointer, this instance
    infers the new version's schema (``v`` widened to bigint there) instead
    of applying the one it remembers, and its next merge builds on it."""
    path = str(tmp_path / "latest")
    mine = LatestStore(spark, path)
    mine.merge(_kv(spark, "a", 0, 1), ["k"], "ts")
    other = LatestStore(spark, path)
    other.merge(_kv(spark, "b", 0, 2**40, "bigint"), ["k"], "ts")
    snap = mine.read()
    assert snap.schema["v"].dataType == T.LongType()
    assert {(r.k, r.v) for r in snap.collect()} == {("a", 1), ("b", 2**40)}
    mine.merge(_kv(spark, "a", 1, 3, "bigint"), ["k"], "ts")
    assert mine.versions() == [3]
    assert {(r.k, r.v) for r in mine.read().collect()} == {("a", 3), ("b", 2**40)}

