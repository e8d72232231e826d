"""Serving semantics vs the reference: online reads + cache + freshness
(feature_server.py:206-288), set-oriented offline batch (:290-353), PIT
training join surface (:355-408), dual write + invalidation (:410-455),
metrics (:111-133).
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta, timezone

import pytest

from feature_store_healthcare_spark.registry import (
    SLOT_FOR,
    VALUES_SCHEMA,
    FeatureRegistry,
    FeatureSchema,
    FeatureSource,
    FeatureStatus,
    FeatureValueType,
)
from feature_store_healthcare_spark.serving import FeatureServer, ServingConfig


def utcnow():
    return datetime.now(timezone.utc).replace(tzinfo=None)


@pytest.fixture()
def server(spark):
    registry = FeatureRegistry(spark)
    for name, vt in [("age", FeatureValueType.INT64), ("bp", FeatureValueType.FLOAT64)]:
        registry.register_feature(
            name=name,
            schema=FeatureSchema(name=name, value_type=vt, entity_type="patient"),
            source=FeatureSource(),
            owner="t",
            status=FeatureStatus.ACTIVE,
        )
    return FeatureServer(registry, ServingConfig(cache_ttl_seconds=300))


def _fid(server, name):
    return server.registry.get_feature_by_name(name, entity_type="patient").feature_id


def test_online_read_freshness_and_nullfill(server):
    now = utcnow()
    server.registry.ingest_feature_value(_fid(server, "age"), "p1", 40, now - timedelta(seconds=60))
    server.registry.ingest_feature_value(_fid(server, "bp"), "p1", 120.5, now - timedelta(hours=5))
    vec = server.get_online_features("p1", "patient", ["age", "bp", "missing_feat"])
    assert vec.features == {"age": 40, "bp": 120.5, "missing_feat": None}
    assert vec.freshness["age"] == "fresh"
    assert vec.freshness["bp"] == "stale"
    assert vec.freshness["missing_feat"] == "expired"  # null-fill (ref :520-527)
    assert vec.cache_hit is False
    assert vec.to_flat_dict()["age"] == 40


def test_cache_hit_and_write_invalidation(server):
    now = utcnow()
    server.registry.ingest_feature_value(_fid(server, "age"), "p1", 40, now)
    v1 = server.get_online_features("p1", "patient", ["age"])
    v2 = server.get_online_features("p1", "patient", ["age"])
    assert v1.cache_hit is False and v2.cache_hit is True
    # dual write invalidates entity cache entries + online table (ref :449)
    server.write_features("p1", "patient", {"age": 41}, timestamp=now + timedelta(seconds=1))
    v3 = server.get_online_features("p1", "patient", ["age"])
    assert v3.cache_hit is False and v3.features["age"] == 41
    m = server.get_metrics()
    assert m["total_requests"] == 3 and m["cache_hits"] == 1
    assert 0 < m["cache_hit_rate"] < 1


def _values_rows(spark, rows):
    """VALUES_SCHEMA-shaped DataFrame from partial row dicts."""
    names = VALUES_SCHEMA.fieldNames()
    return spark.createDataFrame(
        [tuple(r.get(n) for n in names) for r in rows], VALUES_SCHEMA
    )


@pytest.mark.parametrize("path", ["ingest_feature_value", "ingest_values_df"])
def test_online_read_sees_direct_ingest(spark, tmp_path, path):
    """An ingest that bypasses write_features still reaches the next online
    read, whether it misses the LRU or re-reads a cached feature list."""
    registry = FeatureRegistry(spark, storage_dir=str(tmp_path))
    for name in ("age", "bp"):
        registry.register_feature(
            name=name,
            schema=FeatureSchema(name=name, value_type=FeatureValueType.INT64),
            source=FeatureSource(),
            owner="t",
            status=FeatureStatus.ACTIVE,
        )
    server = FeatureServer(registry)
    fid = registry.get_feature_by_name("age").feature_id
    now = utcnow()
    registry.ingest_feature_value(fid, "p1", 40, now - timedelta(minutes=5))
    assert server.get_online_features("p1", "patient", ["age"]).features["age"] == 40
    later = now - timedelta(minutes=1)
    if path == "ingest_feature_value":
        registry.ingest_feature_value(fid, "p1", 41, later)
    else:
        registry.ingest_values_df(
            _values_rows(spark, [{
                "feature_id": fid, "feature_name": "age", "entity_type": "patient",
                "entity_id": "p1", "value_long": 41, "event_timestamp": later,
                "created_timestamp": utcnow(), "seq": 10**6,
            }])
        )
    same = server.get_online_features("p1", "patient", ["age"])
    assert same.cache_hit is False and same.features == {"age": 41}
    vec = server.get_online_features("p1", "patient", ["age", "bp"])
    assert vec.cache_hit is False
    assert vec.features == {"age": 41, "bp": None}
    assert server.get_online_features("p1", "patient", ["age"]).cache_hit is True
    assert registry.get_feature_value(fid, "p1") == 41


@pytest.fixture()
def phi_server(spark):
    registry = FeatureRegistry(spark)
    for name, phi, roles in [("age", "none", []), ("hba1c", "indirect", ["clinician"])]:
        registry.register_feature(
            name=name,
            schema=FeatureSchema(name=name, value_type=FeatureValueType.FLOAT64),
            source=FeatureSource(),
            owner="t",
            status=FeatureStatus.ACTIVE,
            phi_level=phi,
            access_roles=roles,
        )
    now = utcnow()
    for name, value in [("age", 61.0), ("hba1c", 6.9)]:
        fid = registry.get_feature_by_name(name).feature_id
        registry.ingest_feature_value(fid, "p1", value, now)
    return FeatureServer(registry)


def _denials(server):
    return [r for r in server.registry._access_log if r["action"] == "access_denied"]


def test_online_read_withholds_phi_on_miss(phi_server):
    names = ["age", "hba1c"]
    vec = phi_server.get_online_features("p1", "patient", names, user_id="u1")
    assert vec.cache_hit is False
    assert vec.features == {"age": 61.0, "hba1c": None}
    assert vec.timestamps["hba1c"] is None and vec.freshness["hba1c"] == "expired"
    denied = _denials(phi_server)
    assert [(r["feature_id"], r["user_id"]) for r in denied] == [
        (phi_server.registry.get_feature_by_name("hba1c").feature_id, "u1")
    ]
    # the vector cached for that caller does not withhold from a clinician
    vec = phi_server.get_online_features("p1", "patient", names, user_roles=["clinician"])
    assert vec.cache_hit is True
    assert vec.features == {"age": 61.0, "hba1c": 6.9}
    assert len(_denials(phi_server)) == 1


def test_online_read_withholds_phi_on_lru_hit(phi_server):
    names = ["age", "hba1c"]
    first = phi_server.get_online_features("p1", "patient", names, user_roles=["clinician"])
    assert first.cache_hit is False and first.features["hba1c"] == 6.9
    for roles in (None, ["analyst"]):
        vec = phi_server.get_online_features("p1", "patient", names, user_roles=roles)
        assert vec.cache_hit is True
        assert vec.features == {"age": 61.0, "hba1c": None}
        assert vec.freshness["hba1c"] == "expired"
    assert len(_denials(phi_server)) == 2
    # withholding works on copies: the cached vector and the first caller's
    # vector keep the value
    assert first.features["hba1c"] == 6.9
    again = phi_server.get_online_features("p1", "patient", names, user_roles=["clinician"])
    assert again.cache_hit is True and again.features["hba1c"] == 6.9


def test_online_reads_audit_granted_features(phi_server):
    """With ``audit_all_access`` on, every online read, hit or miss, logs
    one ``access`` entry per granted feature, in get_feature_value's shape;
    a withheld feature logs ``access_denied`` instead, an unknown one
    nothing."""
    registry = phi_server.registry
    fid = {n: registry.get_feature_by_name(n).feature_id for n in ("age", "hba1c")}

    def access():
        return [
            (r["feature_id"], r["entity_id"], r["user_id"])
            for r in registry._access_log
            if r["action"] == "access"
        ]

    names = ["age", "hba1c", "missing"]
    miss = phi_server.get_online_features("p1", "patient", names, user_id="u1")
    hit = phi_server.get_online_features("p1", "patient", names, user_id="u1")
    assert (miss.cache_hit, hit.cache_hit) == (False, True)
    assert access() == [(fid["age"], "p1", "u1")] * 2
    assert len(_denials(phi_server)) == 2
    phi_server.get_online_features("p1", "patient", names, user_id="u2", user_roles=["clinician"])
    assert access()[2:] == [(fid["age"], "p1", "u2"), (fid["hba1c"], "p1", "u2")]
    registry.get_feature_value(fid["age"], "p1", user_id="u2")
    online, offline = registry._access_log[-3], registry._access_log[-1]
    assert online.keys() == offline.keys()
    assert {k: v for k, v in online.items() if k != "ts"} == {
        k: v for k, v in offline.items() if k != "ts"
    }
    registry.audit_all_access = False
    before = len(registry._access_log)
    phi_server.get_online_features("p1", "patient", ["age"], user_id="u1")
    assert len(registry._access_log) == before


_TYPED_VALUES = {
    FeatureValueType.INT64: [7, None, -3],
    FeatureValueType.FLOAT64: [1.5, float("nan"), None],
    FeatureValueType.STRING: ["a", "", None],
    FeatureValueType.BOOL: [True, False, None],
    FeatureValueType.TIMESTAMP: [datetime(2024, 1, 2, 3, 4, 5, 678901), None, datetime(1999, 12, 31)],
    FeatureValueType.ARRAY_INT: [[1, 2], [], None],
    FeatureValueType.ARRAY_FLOAT: [[0.5, float("nan")], None, [-1.0]],
    FeatureValueType.ARRAY_STRING: [["x", "y"], None, []],
    FeatureValueType.EMBEDDING: [[0.25, 0.75], [1.0, 0.0], None],
}


def _same(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return type(a) is type(b) and a == b


def test_online_view_matches_offline_latest(spark, tmp_path):
    """Every online vector equals the registry's latest-value read, over
    every value type, null values, NaN, and event-time ties decided by
    created time and by seq; once the view is built, misses run no Spark
    job."""
    registry = FeatureRegistry(spark, storage_dir=str(tmp_path))
    features = {}
    for vt in _TYPED_VALUES:
        name = f"f_{vt.value}"
        features[name] = registry.register_feature(
            name=name,
            schema=FeatureSchema(name=name, value_type=vt),
            source=FeatureSource(),
            owner="t",
            status=FeatureStatus.ACTIVE,
        )
    t0 = datetime(2024, 5, 1, 12, 0, 0)
    c0 = datetime(2024, 5, 2)
    rows = []
    for name, f in features.items():
        slot = SLOT_FOR[f.schema.value_type]
        a, b, c = _TYPED_VALUES[f.schema.value_type]
        base = {"feature_id": f.feature_id, "feature_name": name, "entity_type": "patient"}
        # e1: older event loses to a newer one
        rows.append({**base, "entity_id": "e1", slot: b, "event_timestamp": t0, "created_timestamp": c0, "seq": 1})
        rows.append({**base, "entity_id": "e1", slot: a, "event_timestamp": t0 + timedelta(hours=1), "created_timestamp": c0, "seq": 0})
        # e2: event-time tie decided by created time (the lower seq wins)
        rows.append({**base, "entity_id": "e2", slot: a, "event_timestamp": t0, "created_timestamp": c0 + timedelta(seconds=1), "seq": 2})
        rows.append({**base, "entity_id": "e2", slot: b, "event_timestamp": t0, "created_timestamp": c0, "seq": 3})
        # e3: event and created time tie, seq decides
        rows.append({**base, "entity_id": "e3", slot: b, "event_timestamp": t0, "created_timestamp": c0, "seq": 4})
        rows.append({**base, "entity_id": "e3", slot: c, "event_timestamp": t0, "created_timestamp": c0, "seq": 5})
    registry.ingest_values_df(_values_rows(spark, rows))
    # e4: buffered (unflushed) rows, one per feature, the latest one null
    for name, f in features.items():
        registry.ingest_feature_value(f.feature_id, "e4", _TYPED_VALUES[f.schema.value_type][0], t0)
        registry.ingest_feature_value(f.feature_id, "e4", None, t0 + timedelta(days=1))
    server = FeatureServer(registry)
    names = sorted(features)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("online-view-build", "online view build")
        first = server.get_online_features("e1", "patient", names)
        assert tracker.getJobIdsForGroup("online-view-build")  # the probe sees jobs
        sc.setJobGroup("online-view-misses", "online misses")
        vectors = {"e1": first}
        for ent in ("e2", "e3", "e4", "ghost"):
            vectors[ent] = server.get_online_features(ent, "patient", names)
        partial = server.get_online_features("e2", "patient", names[:3])
        assert not any(v.cache_hit for v in vectors.values()) and not partial.cache_hit
        assert list(tracker.getJobIdsForGroup("online-view-misses")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    expected_winner = {"e1": 0, "e2": 0, "e3": 2}
    for ent, vec in vectors.items():
        for name in names:
            f = features[name]
            want = registry.get_feature_value(f.feature_id, ent)
            got = vec.features[name]
            assert _same(got, want), (ent, name, got, want)
            if ent in expected_winner:
                assert _same(want, _TYPED_VALUES[f.schema.value_type][expected_winner[ent]])
    assert all(v is None for v in vectors["e4"].features.values())
    assert vectors["e4"].timestamps[names[0]] == t0 + timedelta(days=1)
    assert all(v is None for v in vectors["ghost"].features.values())
    assert list(partial.features) == names[:3]
    assert all(_same(partial.features[n], vectors["e2"].features[n]) for n in names[:3])


def test_offline_batch_is_set_oriented(server):
    """One plan for all entities (vs ref per-entity loop :313-316); unknown
    entities null-fill instead of failing (ref error isolation :331-342)."""
    now = utcnow()
    for ent, val in [("p1", 30), ("p2", 35)]:
        server.registry.ingest_feature_value(_fid(server, "age"), ent, val, now - timedelta(days=1))
    df = server.get_offline_features(["p1", "p2", "ghost"], "patient", ["age"], now)
    rows = {r.entity_id: r.age for r in df.collect()}
    assert rows == {"p1": 30, "p2": 35, "ghost": None}
    assert f"age__timestamp" in df.columns


def test_point_in_time_training_join(server):
    fid = _fid(server, "bp")
    server.registry.ingest_feature_value(fid, "p1", 110.0, "2024-01-01 00:00:00")
    server.registry.ingest_feature_value(fid, "p1", 130.0, "2024-01-10 00:00:00")
    spine = server.spark.createDataFrame(
        [
            ("p1", "2024-01-05 00:00:00", 1),
            ("p1", "2024-01-15 00:00:00", 0),
            ("p1", "2023-12-01 00:00:00", 1),
        ],
        "entity_id string, event_timestamp string, label int",  # ISO strings OK (ref :383-384)
    )
    out = server.get_point_in_time_features(spine, ["bp"])
    got = {str(r.event_timestamp): (r.bp, r.label) for r in out.collect()}
    assert got["2024-01-05 00:00:00"] == (110.0, 1)  # no leak from 01-10
    assert got["2024-01-15 00:00:00"] == (130.0, 0)
    assert got["2023-12-01 00:00:00"] == (None, 1)  # pre-history → null
    assert "bp__timestamp" in out.columns


def test_point_in_time_join_with_tolerance(server):
    fid = _fid(server, "bp")
    server.registry.ingest_feature_value(fid, "p1", 110.0, "2024-01-01 00:00:00")
    spine = server.spark.createDataFrame(
        [("p1", "2024-01-02 00:00:00", 1), ("p1", "2024-01-20 00:00:00", 0)],
        "entity_id string, event_timestamp string, label int",
    )
    out = server.get_point_in_time_features(
        spine, ["bp"], tolerance="INTERVAL 7 DAYS"
    )
    got = {str(r.event_timestamp): r.bp for r in out.collect()}
    assert got["2024-01-02 00:00:00"] == 110.0     # 1 day old: fresh enough
    assert got["2024-01-20 00:00:00"] is None      # 19 days old: null-fill


def test_freshness_report(server):
    now = utcnow()
    server.registry.ingest_feature_value(_fid(server, "age"), "p1", 1, now - timedelta(seconds=30))
    server.registry.ingest_feature_value(_fid(server, "age"), "p2", 2, now - timedelta(hours=2))
    server.registry.ingest_feature_value(_fid(server, "age"), "p3", 3, now - timedelta(days=3))
    got = {r.entity_id: r.freshness for r in server.freshness_report(now).collect()}
    assert got == {"p1": "fresh", "p2": "stale", "p3": "expired"}


def test_interpolated_feature_read(server, spark):
    base = datetime(2024, 1, 1)
    for day, v in [(1, 100.0), (5, 120.0)]:
        server.registry.ingest_feature_value(
            _fid(server, "bp"), "p1", v, base.replace(day=day)
        )
    spine = spark.createDataFrame(
        [
            ("p1", datetime(2024, 1, 3)),   # midpoint of 100 -> 120
            ("p1", datetime(2024, 1, 9)),   # after last -> hold
            ("p1", datetime(2023, 12, 1)),  # before first -> null
        ],
        "entity_id string, event_timestamp timestamp_ntz",
    )
    out = {r.event_timestamp: r for r in
           server.get_interpolated_features(spine, "bp").collect()}
    assert out[datetime(2024, 1, 3)].bp == pytest.approx(110.0)
    assert out[datetime(2024, 1, 3)].bp__prev == 100.0
    assert out[datetime(2024, 1, 9)].bp == 120.0
    assert out[datetime(2023, 12, 1)].bp is None


def test_interpolated_feature_rejects_non_numeric(spark):
    registry = FeatureRegistry(spark)
    registry.register_feature(
        name="note",
        schema=FeatureSchema(name="note", value_type=FeatureValueType.STRING, entity_type="patient"),
        source=FeatureSource(),
        owner="t",
        status=FeatureStatus.ACTIVE,
    )
    srv = FeatureServer(registry)
    spine = spark.createDataFrame(
        [("p1", datetime(2024, 1, 1))], "entity_id string, event_timestamp timestamp_ntz"
    )
    with pytest.raises(ValueError, match="numeric"):
        srv.get_interpolated_features(spine, "note")


def test_reference_api_aliases(spark, sf_dir):
    """Drop-in parity with the reference's named methods:
    activate/deprecate_feature on the registry (ref feature_registry.py:
    332-355) and reset_metrics on the server (ref feature_server.py)."""
    from feature_store_healthcare_spark.registry import (
        FeatureRegistry,
        FeatureSchema,
        FeatureSource,
        FeatureStatus,
        FeatureValueType,
    )

    reg = FeatureRegistry(spark)
    f = reg.register_feature(
        name="alias_check",
        schema=FeatureSchema(
            name="alias_check",
            value_type=FeatureValueType.FLOAT64,
            description="",
            category="lab",
            entity_type="patient",
        ),
        source=FeatureSource(source_type="batch", source_location="/x"),
        owner="t",
    )
    assert reg.activate_feature(f.feature_id).status is FeatureStatus.ACTIVE
    d = reg.deprecate_feature(f.feature_id, "superseded")
    assert d.status is FeatureStatus.DEPRECATED
    assert d.tags["deprecation_reason"] == "superseded"

    server = FeatureServer(reg)
    server._requests = 5
    server._latencies = [1.0, 2.0]
    server._cache.hits = 3
    server._cache.misses = 4
    server.reset_metrics()
    m = server.get_metrics()
    assert m["total_requests"] == 0 and m["cache_hits"] == 0
    assert m["avg_latency_ms"] == 0.0 and m["p99_latency_ms"] == 0.0
