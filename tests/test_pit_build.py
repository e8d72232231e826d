"""The as-of builder behind point_in_time_join, point_in_time_pivot and
trailing_window_agg: plan identity and equal rows against a Column-API
build (one ``F.col`` per name, the operators' earlier construction), and
the py4j cost of building a multi-feature pivot."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from feature_store_healthcare_spark.operators.pit import (
    _is_orderable,
    point_in_time_join,
    point_in_time_pivot,
    trailing_window_agg,
)
from feature_store_healthcare_spark.sqlgen import ident

T0 = datetime(2024, 1, 1)
KEY = "my key"


def _col(c):
    return F.col(ident(c))


def _with_spine_id(spine, spine_keys):
    if spine_keys is None:
        return spine.withColumn("__spine_id", F.monotonically_increasing_id()), ["__spine_id"]
    return spine, list(spine_keys)


def _aggregate(spine, joined, on, spine_keys, aggs):
    """Group on (join keys + spine key), the other spine columns carried
    with ``first``."""
    keys = [c for c in on if c in spine.columns]
    keys += [c for c in spine_keys if c not in keys]
    carry = [c for c in spine.columns if c not in keys]
    return joined.groupBy(*[_col(k) for k in keys]).agg(
        *[F.first(_col(c)).alias(c) for c in carry], *aggs
    )


def _column_join(spine, values, on, spine_ts, value_ts, value_cols, tiebreak=(),
                 spine_keys=None, ts_suffix="__timestamp", tolerance=None,
                 direction="backward"):
    """point_in_time_join built through the Column API."""
    drop_key = spine_keys is None
    spine, spine_keys = _with_spine_id(spine, spine_keys)
    v = values.select(
        *[_col(c).alias(f"__v_{c}") for c in on],
        _col(value_ts).alias("__v_ts"),
        *[_col(c).alias(f"__v_tb_{c}") for c in tiebreak],
        *[_col(c).alias(f"__v_{c}") for c in value_cols],
    )
    sts, vts = spine[ident(spine_ts)], v["__v_ts"]
    cond = [spine[ident(c)] == v[ident(f"__v_{c}")] for c in on]
    if direction == "backward":
        cond.append(vts <= sts)
    elif direction == "forward":
        cond.append(vts >= sts)
    if tolerance is not None:
        tol = F.expr(tolerance) if isinstance(tolerance, str) else tolerance
        if direction != "forward":
            cond.append(vts >= sts - tol)
        if direction != "backward":
            cond.append(vts <= sts + tol)
    joined = spine.join(v, on=cond, how="left")
    tb = [_col(f"__v_tb_{c}") for c in tiebreak]
    fb = [
        _col(f"__v_{c}") for c in sorted(value_cols)
        if _is_orderable(values.schema[c].dataType)
    ]
    if direction == "nearest":
        def us(c):
            return F.unix_micros(c.cast("timestamp"))

        dist = F.abs(us(F.col("__v_ts")) - us(_col(spine_ts)))
        is_forward = (F.col("__v_ts") > _col(spine_ts)).cast("int")
        pick, ordering = F.min_by, F.struct(dist, is_forward, *tb, *fb)
    else:
        pick = F.max_by if direction == "backward" else F.min_by
        ordering = F.struct(F.col("__v_ts"), *tb, *fb)
    payload = F.struct(F.col("__v_ts"), *[_col(f"__v_{c}") for c in value_cols])
    agged = _aggregate(spine, joined, on, spine_keys, [pick(payload, ordering).alias("__pit")])
    out = [_col(c) for c in spine.columns if c != "__spine_id"]
    for c in value_cols:
        out.append(F.col("__pit." + ident(f"__v_{c}")).alias(c))
        out.append(F.col("__pit.__v_ts").alias(f"{c}{ts_suffix}"))
    out = agged.select(*out)
    return out.drop("__spine_id") if drop_key and "__spine_id" in out.columns else out


def _column_trailing(spine, values, on, spine_ts, value_ts, window, aggs=(),
                     count_alias="n_window", spine_keys=None):
    """trailing_window_agg built through the Column API."""
    drop_key = spine_keys is None
    spine, spine_keys = _with_spine_id(spine, spine_keys)
    win = F.expr(window) if isinstance(window, str) else window
    payload = [c for c in values.columns if c not in on and c != value_ts]
    v = values.select(
        *[_col(c).alias(f"__w_{c}") for c in on],
        _col(value_ts).alias("__w_ts"),
        *[_col(c) for c in payload],
    )
    cond = [spine[ident(c)] == v[ident(f"__w_{c}")] for c in on]
    cond.append(v["__w_ts"] >= spine[ident(spine_ts)] - win)
    cond.append(v["__w_ts"] < spine[ident(spine_ts)])
    joined = spine.join(v, on=cond, how="left")
    out = _aggregate(
        spine, joined, on, spine_keys, [F.count(F.col("__w_ts")).alias(count_alias), *aggs]
    )
    return out.drop("__spine_id") if drop_key else out


def _frames(spark):
    """A spine and a value side whose key and value names need quoting.
    Key k1 has a full (ts, i) tie at hour 2 broken by the payload; k2 an
    exact tie on ts broken by i; k3 has no values."""
    h = lambda n: T0 + timedelta(hours=n)  # noqa: E731
    values = spark.createDataFrame(
        [
            ("k1", h(0), 5, "x", 1.0),
            ("k1", h(2), 0, "y", 2.0),
            ("k1", h(2), 0, "z", 0.5),
            ("k1", h(30), 1, "w", 4.0),
            ("k2", h(1), 2, "p", None),
            ("k2", h(1), 1, "q", 5.0),
        ],
        f"{ident(KEY)} string, vts timestamp_ntz, i long, `a``b` string, v double",
    )
    spine = spark.createDataFrame(
        [(1, "k1", h(3)), (2, "k1", h(1)), (3, "k2", h(1)), (4, "k3", h(5)), (5, "k1", h(28))],
        f"sid long, {ident(KEY)} string, ts timestamp_ntz",
    )
    return spine, values


JOIN = dict(on=[KEY], spine_ts="ts", value_ts="vts", value_cols=["a`b", "v"], tiebreak=["i"])
# (Column-API build, operator, keyword arguments); the arguments are built
# per test because Columns need the session
CASES = {
    "backward": (_column_join, point_in_time_join, lambda: JOIN),
    "backward_column_tolerance": (
        _column_join, point_in_time_join,
        lambda: dict(JOIN, spine_keys=["sid"], tolerance=F.expr("INTERVAL 2 HOURS")),
    ),
    "forward_tolerance": (
        _column_join, point_in_time_join,
        lambda: dict(JOIN, spine_keys=["sid"], tolerance="INTERVAL '3' HOUR", direction="forward"),
    ),
    "nearest_tolerance": (
        _column_join, point_in_time_join,
        lambda: dict(JOIN, spine_keys=["sid"], tolerance="INTERVAL 1 DAY", direction="nearest"),
    ),
    "trailing": (
        _column_trailing, trailing_window_agg,
        lambda: dict(
            on=[KEY], spine_ts="ts", value_ts="vts", window="INTERVAL 1 DAY",
            aggs=[F.sum("v").alias("sum v"), F.max(_col("a`b")).alias("max a`b")],
            count_alias="n i",
        ),
    ),
}


@pytest.mark.parametrize("escaped", ["false", "true"])
@pytest.mark.parametrize("case", list(CASES))
def test_asof_build_plan_matches_column_reference(spark, escaped, case):
    """Each operator analyzes to a plan ``sameResult`` with the Column-API
    build and returns the same columns and rows, for names that need
    quoting, in both string-literal parser modes."""
    key = "spark.sql.parser.escapedStringLiterals"
    prior = spark.conf.get(key, "false")
    spark.conf.set(key, escaped)
    try:
        reference, operator, kwargs = CASES[case]
        kw = kwargs()
        spine, values = _frames(spark)
        got = operator(spine, values, **kw)
        ref = reference(spine, values, **kw)
        assert got._jdf.queryExecution().analyzed().sameResult(
            ref._jdf.queryExecution().analyzed()
        )
        assert got.columns == ref.columns
        assert sorted(got.collect()) == sorted(ref.collect())
    finally:
        spark.conf.set(key, prior)


def test_asof_build_backward_rows(spark):
    """The backward join's winners: the payload breaks k1's full tie (max
    over sorted names: "a`b" first, so "z"), i breaks k2's."""
    spine, values = _frames(spark)
    got = point_in_time_join(spine, values, **JOIN)
    rows = {r["sid"]: (r["a`b"], r["v"]) for r in got.collect()}
    assert rows == {1: ("z", 0.5), 2: ("x", 1.0), 3: ("p", None), 4: (None, None), 5: ("z", 0.5)}


def test_pivot_build_py4j_budget(spark):
    """Building (not running) a 5-feature pivot over the EAV table sends at
    most 100 py4j commands; the Column-API build sent ~1,300.  Counted as
    in ``test_latest_build_py4j_budget``: memory-delete commands are left
    out."""
    from feature_store_healthcare_spark.registry import VALUES_SCHEMA

    values = spark.createDataFrame([], VALUES_SCHEMA)
    spine = spark.createDataFrame([], "entity_id string, event_timestamp timestamp_ntz")
    slots = {f"f{n}": "value_double" for n in range(5)}
    client = spark.sparkContext._gateway._gateway_client
    original = client.send_command
    sent = []

    def counted(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return original(command, *args, **kwargs)

    client.send_command = counted
    try:
        point_in_time_pivot(
            spine, values, on="entity_id", spine_ts="event_timestamp",
            value_ts="event_timestamp", name_col="feature_name", slot_for=slots,
            tiebreak=["created_timestamp", "seq"],
        )
    finally:
        client.send_command = original
    assert len(sent) <= 100, len(sent)
