"""Point-in-time semantics (SURVEY.md §5.2 item 2).

Covers the reference's core invariant — a value with event_ts > as_of must
never surface (feature_registry.py:483) — plus deterministic tie-breaking
(SURVEY.md §0 defect list), late/out-of-order data, null-fill, and the
max_by/window strategy equivalence.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from feature_store_healthcare_spark.operators.pit import latest_per_key, point_in_time_join


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def values(spark):
    rows = [
        # (feature, entity, value, event_ts, created_ts, seq)
        # normal history
        ("f1", "e1", 1.0, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"), 0),
        ("f1", "e1", 2.0, ts("2024-01-05 00:00:00"), ts("2024-01-05 01:00:00"), 1),
        # LATE arrival: older event, newest created_ts (out-of-order, OP-44)
        ("f1", "e1", 9.0, ts("2024-01-03 00:00:00"), ts("2024-01-09 00:00:00"), 5),
        # exact event-time TIE, different created_ts → created wins
        ("f1", "e2", 10.0, ts("2024-01-04 00:00:00"), ts("2024-01-04 01:00:00"), 2),
        ("f1", "e2", 11.0, ts("2024-01-04 00:00:00"), ts("2024-01-04 02:00:00"), 3),
        # FUTURE value (leak check for as_of reads)
        ("f1", "e1", 99.0, ts("2024-02-01 00:00:00"), ts("2024-02-01 00:00:00"), 4),
        # another feature
        ("f2", "e1", 7.0, ts("2024-01-02 00:00:00"), ts("2024-01-02 00:30:00"), 6),
    ]
    return spark.createDataFrame(
        rows,
        "feature_id string, entity_id string, value double,"
        " event_ts timestamp_ntz, created_ts timestamp_ntz, seq long",
    )


KEYS = ["feature_id", "entity_id"]
TB = ["created_ts", "seq"]


@pytest.mark.parametrize("strategy", ["max_by", "window"])
def test_latest_per_key_basic(values, strategy):
    out = {
        (r.feature_id, r.entity_id): r.value
        for r in latest_per_key(values, KEYS, "event_ts", TB, strategy=strategy).collect()
    }
    assert out[("f1", "e1")] == 99.0  # newest event time wins absent as_of
    assert out[("f2", "e1")] == 7.0


@pytest.mark.parametrize("strategy", ["max_by", "window"])
def test_as_of_excludes_future(values, strategy):
    """Leak check: event_ts > as_of must never be returned."""
    out = {
        (r.feature_id, r.entity_id): r.value
        for r in latest_per_key(
            values, KEYS, "event_ts", TB, as_of="2024-01-06 00:00:00", strategy=strategy
        ).collect()
    }
    assert out[("f1", "e1")] == 2.0  # not the future 99.0


@pytest.mark.parametrize("strategy", ["max_by", "window"])
def test_late_data_visible_after_arrival(values, strategy):
    """A late row (old event_ts, new created_ts) participates by EVENT time:
    as_of 2024-01-04 sees the late 2024-01-03 value."""
    out = {
        (r.feature_id, r.entity_id): r.value
        for r in latest_per_key(
            values, KEYS, "event_ts", TB, as_of="2024-01-04 12:00:00", strategy=strategy
        ).collect()
    }
    assert out[("f1", "e1")] == 9.0


@pytest.mark.parametrize("strategy", ["max_by", "window"])
def test_tiebreak_created_timestamp(values, strategy):
    """Equal event_ts → larger created_ts wins (deterministic, unlike ref)."""
    out = {
        (r.feature_id, r.entity_id): r.value
        for r in latest_per_key(values, KEYS, "event_ts", TB, strategy=strategy).collect()
    }
    assert out[("f1", "e2")] == 11.0


def test_strategies_agree(values):
    a = latest_per_key(values, KEYS, "event_ts", TB, strategy="max_by")
    b = latest_per_key(values, KEYS, "event_ts", TB, strategy="window")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pit_join_per_row_asof(spark, values):
    """Each spine row gets its own cutoff (OP-16): values strictly after a
    spine row's timestamp never leak into that row."""
    spine = spark.createDataFrame(
        [
            ("e1", ts("2024-01-02 12:00:00"), "a"),
            ("e1", ts("2024-01-06 00:00:00"), "b"),
            ("e1", ts("2024-03-01 00:00:00"), "c"),
            ("e2", ts("2024-01-01 00:00:00"), "d"),  # before any value → null
        ],
        "entity_id string, event_ts timestamp_ntz, label string",
    )
    vals = values.where(F.col("feature_id") == "f1").select(
        "entity_id", F.col("value").alias("f1"), "event_ts", "created_ts", "seq"
    )
    out = point_in_time_join(
        spine,
        vals,
        on="entity_id",
        spine_ts="event_ts",
        value_ts="event_ts",
        value_cols=["f1"],
        tiebreak=["created_ts", "seq"],
    )
    got = {r.label: (r.f1, r.f1__timestamp) for r in out.collect()}
    assert got["a"] == (1.0, ts("2024-01-01 00:00:00"))
    assert got["b"] == (2.0, ts("2024-01-05 00:00:00"))  # late 9.0 is older event
    assert got["c"] == (99.0, ts("2024-02-01 00:00:00"))
    assert got["d"] == (None, None)  # null-fill path
    # spine columns preserved, one row per spine row
    assert out.count() == 4
    assert set(out.columns) == {"entity_id", "event_ts", "label", "f1", "f1__timestamp"}


def test_pit_join_with_explicit_spine_keys(spark, values):
    spine = spark.createDataFrame(
        [(1, "e1", ts("2024-01-04 00:00:00"))],
        "row_id long, entity_id string, event_ts timestamp_ntz",
    )
    vals = values.where(F.col("feature_id") == "f1").select(
        "entity_id", F.col("value").alias("v"), "event_ts", "created_ts", "seq"
    )
    out = point_in_time_join(
        spine, vals, on="entity_id", spine_ts="event_ts", value_ts="event_ts",
        value_cols=["v"], tiebreak=["created_ts", "seq"], spine_keys=["row_id"],
    ).collect()
    assert len(out) == 1 and out[0].v == 9.0  # late row included at its event time


def test_point_in_time_pivot_mixed_types_and_bounded_shuffles(spark):
    """Fused multi-feature PIT (point_in_time_pivot): one pass resolves
    features living in DIFFERENT typed slots; per-feature as-of and
    timestamps are independent; the plan's shuffle count does not grow
    with the number of features."""
    from datetime import datetime

    from feature_store_healthcare_spark import plans
    from feature_store_healthcare_spark.operators.pit import point_in_time_pivot

    T = datetime
    values = spark.createDataFrame(
        [
            ("e1", "score", 1.5, None, T(2024, 1, 1), 1),
            ("e1", "score", 2.5, None, T(2024, 1, 3), 2),   # after spine ts of row A
            ("e1", "tier", None, "gold", T(2024, 1, 1), 3),
            ("e2", "tier", None, "silver", T(2024, 1, 5), 4),  # future vs e2 spine
        ],
        "entity_id string, feature_name string, value_double double, "
        "value_string string, event_timestamp timestamp_ntz, seq long",
    )
    spine = spark.createDataFrame(
        [(1, "e1", T(2024, 1, 2)), (2, "e2", T(2024, 1, 2)), (3, "e3", T(2024, 1, 2))],
        "row_id long, entity_id string, as_of timestamp_ntz",
    )
    out = point_in_time_pivot(
        spine,
        values,
        on="entity_id",
        spine_ts="as_of",
        value_ts="event_timestamp",
        name_col="feature_name",
        slot_for={"score": "value_double", "tier": "value_string"},
        tiebreak=["seq"],
        spine_keys=["row_id"],
    )
    # shuffle count independent of feature count (counted on the unexecuted
    # plan — AQE's final-plan stage framing repeats exchange nodes)
    assert plans.count_exchanges(out) <= 3
    rows = {r.row_id: r for r in out.collect()}
    assert rows[1].score == 1.5                      # 2.5 is post-as_of → leak-free
    assert rows[1].score__timestamp == T(2024, 1, 1)
    assert rows[1].tier == "gold"
    assert rows[2].score is None and rows[2].tier is None   # e2's tier is future
    assert rows[3].score is None and rows[3].tier is None   # unseen entity
    assert len(rows) == 3


def test_point_in_time_pivot_full_tie_matches_join(spark):
    """On a full ``(ts, *tiebreak)`` tie the pivot picks the join's winner
    (the max orderable payload), whatever order the rows arrive in."""
    from feature_store_healthcare_spark.operators.pit import point_in_time_pivot

    rows = [("e1", "score", float(n), ts("2024-01-01 00:00:00")) for n in range(8)]
    spine = spark.createDataFrame(
        [(1, "e1", ts("2024-01-02 00:00:00"))], "row_id long, entity_id string, as_of timestamp_ntz"
    )
    schema = "entity_id string, feature_name string, value_double double, event_timestamp timestamp_ntz"
    for order in (rows, rows[::-1], rows[1::2] + rows[::2], rows[4:] + rows[:4]):
        values = spark.createDataFrame(order, schema).repartition(4)
        pivot = point_in_time_pivot(
            spine, values, on="entity_id", spine_ts="as_of", value_ts="event_timestamp",
            name_col="feature_name", slot_for={"score": "value_double"}, spine_keys=["row_id"],
        ).collect()
        join = point_in_time_join(
            spine, values, on="entity_id", spine_ts="as_of", value_ts="event_timestamp",
            value_cols=["value_double"], spine_keys=["row_id"],
        ).collect()
        assert pivot[0].score == join[0].value_double == 7.0


def test_trailing_window_agg_boundaries(spark):
    from feature_store_healthcare_spark.operators.pit import trailing_window_agg

    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    spine = spark.createDataFrame(
        [("u1", ts("2024-01-08T00:00:00")), ("u2", ts("2024-01-08T00:00:00"))],
        "entity string, spine_ts timestamp_ntz",
    )
    vals = spark.createDataFrame(
        [
            ("u1", ts("2024-01-01T00:00:00"), 1.0),   # exactly window start: IN
            ("u1", ts("2024-01-07T12:00:00"), 2.0),   # inside: IN
            ("u1", ts("2024-01-08T00:00:00"), 4.0),   # exactly spine time: OUT (leak-free)
            ("u1", ts("2023-12-31T23:59:59"), 8.0),   # before window: OUT
            ("u3", ts("2024-01-07T00:00:00"), 16.0),  # other entity: OUT
        ],
        "entity string, ts timestamp_ntz, value double",
    )
    out = trailing_window_agg(
        spine, vals, on="entity", spine_ts="spine_ts", value_ts="ts",
        window="INTERVAL 7 DAYS", aggs=[F.sum("value").alias("sum_v")],
        count_alias="n", spine_keys=["entity"],
    )
    rows = {r["entity"]: r for r in out.collect()}
    assert rows["u1"]["n"] == 2 and rows["u1"]["sum_v"] == 3.0
    # spine row with no eligible values: count 0, sum NULL
    assert rows["u2"]["n"] == 0 and rows["u2"]["sum_v"] is None


def test_pit_join_tolerance_null_fills_stale(spark):
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    spine = spark.createDataFrame(
        [(1, "u1", ts("2024-01-10T00:00:00")), (2, "u2", ts("2024-01-10T00:00:00"))],
        "sid long, entity string, sts timestamp_ntz",
    )
    vals = spark.createDataFrame(
        [
            ("u1", ts("2024-01-09T00:00:00"), 1.0, 10),  # 1 day old: qualifies
            ("u2", ts("2024-01-01T00:00:00"), 2.0, 11),  # 9 days old: too stale
        ],
        "entity string, vts timestamp_ntz, v double, vid long",
    )
    out = point_in_time_join(
        spine, vals, on="entity", spine_ts="sts", value_ts="vts",
        value_cols=["v"], tiebreak=["vid"], spine_keys=["sid"],
        tolerance="INTERVAL 3 DAYS",
    )
    rows = {r["sid"]: r for r in out.collect()}
    assert rows[1]["v"] == 1.0
    # without tolerance u2 would get 2.0; with it the stale value is dropped
    assert rows[2]["v"] is None and rows[2]["v__timestamp"] is None


# --------------------------------------- interval strategy + interpolation

def test_interval_join_equals_argmax_join(spark, values):
    from feature_store_healthcare_spark.operators import pit

    spine = spark.createDataFrame(
        [
            ("e1", ts("2024-01-04 00:00:00")),  # between values
            ("e1", ts("2024-01-05 00:00:00")),  # exactly on a value ts
            ("e2", ts("2024-01-04 00:00:00")),  # on the tie pair
            ("e2", ts("2024-01-01 00:00:00")),  # before first -> nulls
            ("e3", ts("2024-01-04 00:00:00")),  # unknown entity -> nulls
        ],
        "entity_id string, t timestamp_ntz",
    )
    vals = values.where(F.col("feature_id") == "f1").select(
        "entity_id", "value", "event_ts", "seq"
    )
    base = point_in_time_join(
        spine, vals, "entity_id", "t", "event_ts", ["value"], tiebreak=["seq"],
        spine_keys=["entity_id", "t"],
    )
    iv = pit.intervalize(vals, ["entity_id"], "event_ts", tiebreak=["seq"])
    alt = pit.point_in_time_interval_join(
        spine, iv.select("entity_id", "value", "valid_from", "valid_to"),
        "entity_id", "t", ["value"],
    )
    got = {(r.entity_id, r.t): (r.value, r["value__timestamp"]) for r in alt.collect()}
    want = {(r.entity_id, r.t): (r.value, r["value__timestamp"]) for r in base.collect()}
    assert got == want and len(got) == 5


def test_intervalize_tie_gets_empty_interval(spark, values):
    from feature_store_healthcare_spark.operators import pit

    tied = values.where(
        (F.col("entity_id") == "e2") & (F.col("feature_id") == "f1")
    ).select("entity_id", "value", "event_ts", "seq")
    iv = {r.value: r for r in pit.intervalize(tied, ["entity_id"], "event_ts", tiebreak=["seq"]).collect()}
    # superseded same-ts version: [ts, ts) — empty, unmatchable
    assert iv[10.0].valid_from == iv[10.0].valid_to == ts("2024-01-04 00:00:00")
    # tie winner holds the open interval
    assert iv[11.0].valid_to is None


def test_interpolated_asof_semantics(spark):
    from feature_store_healthcare_spark.operators import pit

    vals = spark.createDataFrame(
        [
            ("p1", 10.0, ts("2024-01-01 00:00:00"), 0),
            ("p1", 20.0, ts("2024-01-03 00:00:00"), 1),
            ("p1", 50.0, ts("2024-01-07 00:00:00"), 2),
        ],
        "patient string, hr double, obs_ts timestamp_ntz, seq long",
    )
    spine = spark.createDataFrame(
        [
            ("p1", ts("2024-01-02 00:00:00")),  # midpoint of 10 -> 20
            ("p1", ts("2024-01-03 00:00:00")),  # exactly on an observation
            ("p1", ts("2024-01-06 00:00:00")),  # 3/4 of 20 -> 50
            ("p1", ts("2024-01-09 00:00:00")),  # after last -> hold
            ("p1", ts("2023-12-25 00:00:00")),  # before first -> null
        ],
        "patient string, t timestamp_ntz",
    )
    out = pit.interpolated_asof(spine, vals, "patient", "t", "obs_ts", "hr", tiebreak=["seq"])
    got = {r.t: r for r in out.collect()}
    assert got[ts("2024-01-02 00:00:00")].interp_value == pytest.approx(15.0)
    assert got[ts("2024-01-03 00:00:00")].interp_value == pytest.approx(20.0)
    assert got[ts("2024-01-06 00:00:00")].interp_value == pytest.approx(42.5)
    hold = got[ts("2024-01-09 00:00:00")]
    assert hold.interp_value == 50.0 and hold.next_value is None
    before = got[ts("2023-12-25 00:00:00")]
    assert before.interp_value is None and before.prev_value is None


def test_forward_asof_picks_earliest_at_or_after_with_min_tiebreak(spark):
    vals = spark.createDataFrame(
        [
            ("e1", 1.0, ts("2024-01-02 00:00:00"), 1),
            ("e1", 2.0, ts("2024-01-05 00:00:00"), 2),
            # tie on ts: seq 3 vs 4 → forward breaks to SMALLEST tiebreak
            ("e2", 30.0, ts("2024-01-04 00:00:00"), 4),
            ("e2", 31.0, ts("2024-01-04 00:00:00"), 3),
            # strictly before the spine instant → ineligible forward
            ("e3", 9.0, ts("2024-01-01 00:00:00"), 5),
        ],
        "entity_id string, value double, vts timestamp_ntz, seq long",
    )
    spine = spark.createDataFrame(
        [
            (1, "e1", ts("2024-01-02 00:00:00")),  # equality is eligible
            (2, "e2", ts("2024-01-03 00:00:00")),
            (3, "e3", ts("2024-01-02 00:00:00")),  # only past values → NULL
        ],
        "row_id long, entity_id string, ts timestamp_ntz",
    )
    out = {
        r.row_id: r
        for r in point_in_time_join(
            spine, vals, on="entity_id", spine_ts="ts", value_ts="vts",
            value_cols=["value"], spine_keys=["row_id"], tiebreak=["seq"],
            direction="forward",
        ).collect()
    }
    assert out[1].value == 1.0 and out[1].value__timestamp == ts("2024-01-02 00:00:00")
    assert out[2].value == 31.0  # ts tie → seq 3 beats seq 4
    assert out[3].value is None and out[3].value__timestamp is None


def test_forward_asof_tolerance_bounds_lookahead(spark):
    vals = spark.createDataFrame(
        [("e1", 5.0, ts("2024-01-10 00:00:00"), 1)],
        "entity_id string, value double, vts timestamp_ntz, seq long",
    )
    spine = spark.createDataFrame(
        [(1, "e1", ts("2024-01-01 00:00:00"))],
        "row_id long, entity_id string, ts timestamp_ntz",
    )
    kw = dict(
        on="entity_id", spine_ts="ts", value_ts="vts", value_cols=["value"],
        spine_keys=["row_id"], tiebreak=["seq"], direction="forward",
    )
    within = point_in_time_join(
        spine, vals, tolerance="INTERVAL 10 DAYS", **kw
    ).collect()[0]
    beyond = point_in_time_join(
        spine, vals, tolerance="INTERVAL 3 DAYS", **kw
    ).collect()[0]
    assert within.value == 5.0
    assert beyond.value is None


def test_asof_direction_rejects_unknown(spark):
    with pytest.raises(ValueError, match="backward|forward"):
        point_in_time_join(
            spark.range(1), spark.range(1), on="id", spine_ts="id",
            value_ts="id", direction="sideways",
        )


def test_nearest_asof_prefers_closest_then_earlier(spark):
    vals = spark.createDataFrame(
        [
            # e1: -2h and +1h → +1h is closer
            ("e1", 1.0, ts("2024-01-01 10:00:00"), 1),
            ("e1", 2.0, ts("2024-01-01 13:00:00"), 2),
            # e2: exactly ±1h → equal distance prefers the EARLIER value
            ("e2", 10.0, ts("2024-01-01 11:00:00"), 3),
            ("e2", 20.0, ts("2024-01-01 13:00:00"), 4),
            # e3: outside the ±2h tolerance → NULL
            ("e3", 9.0, ts("2024-01-02 00:00:00"), 5),
        ],
        "entity_id string, value double, vts timestamp_ntz, seq long",
    )
    spine = spark.createDataFrame(
        [
            (1, "e1", ts("2024-01-01 12:00:00")),
            (2, "e2", ts("2024-01-01 12:00:00")),
            (3, "e3", ts("2024-01-01 12:00:00")),
        ],
        "row_id long, entity_id string, ts timestamp_ntz",
    )
    out = {
        r.row_id: r
        for r in point_in_time_join(
            spine, vals, on="entity_id", spine_ts="ts", value_ts="vts",
            value_cols=["value"], spine_keys=["row_id"], tiebreak=["seq"],
            tolerance="INTERVAL 2 HOURS", direction="nearest",
        ).collect()
    }
    assert out[1].value == 2.0          # +1h beats -2h
    assert out[2].value == 10.0         # tie → earlier
    assert out[3].value is None


def test_nearest_asof_requires_tolerance(spark):
    with pytest.raises(ValueError, match="tolerance"):
        point_in_time_join(
            spark.range(1), spark.range(1), on="id", spine_ts="id",
            value_ts="id", direction="nearest",
        )


def test_unorderable_payload_columns_are_skipped(spark):
    """ADVICE r5 (medium): a table carrying unorderable payload — a map AND
    a Spark-4 variant column — must not make the argmax raise
    DATATYPE_MISMATCH.INVALID_ORDERING_TYPE: the whitelist skips both from
    the fallback ordering, both strategies still agree, and the winning
    row's unorderable values survive intact."""
    df = (
        spark.createDataFrame(
            [
                ("e1", 1.0, datetime(2024, 1, 1, 10), 1, '{"a": 1}'),
                ("e1", 2.0, datetime(2024, 1, 1, 12), 2, '{"a": 2}'),
                ("e2", 3.0, datetime(2024, 1, 1, 11), 3, '{"a": 3}'),
            ],
            "entity_id string, value double, ts timestamp_ntz, seq long, js string",
        )
        .withColumn("vpay", F.parse_json("js"))
        .withColumn("mpay", F.create_map(F.lit("k"), F.col("value")))
        .drop("js")
    )
    for strategy in ("max_by", "window"):
        got = {
            r.entity_id: r
            for r in latest_per_key(
                df, ["entity_id"], "ts", tiebreak=["seq"], strategy=strategy
            ).collect()
        }
        assert got["e1"].value == 2.0 and got["e2"].value == 3.0, strategy
        assert got["e1"].mpay == {"k": 2.0}, strategy
        assert '2' in str(got["e1"].vpay), strategy
    # the PIT join's fallback must skip them too when they ride as values
    spine = spark.createDataFrame(
        [(1, "e1", datetime(2024, 1, 1, 13))],
        "row_id long, entity_id string, as_of timestamp_ntz",
    )
    out = point_in_time_join(
        spine, df, on="entity_id", spine_ts="as_of", value_ts="ts",
        value_cols=["value", "vpay", "mpay"], spine_keys=["row_id"],
    ).collect()
    assert out[0].value == 2.0 and out[0].mpay == {"k": 2.0}
