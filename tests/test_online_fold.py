"""The online view folds single-row writes in Python: after any
interleaving of write_features, ingest_feature_value, ingest_values_df and
flush it equals a fresh latest_per_key rebuild, and a read after a
single-row write starts no Spark job.
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta

import pytest

import feature_store_healthcare_spark.registry as registry_mod
from feature_store_healthcare_spark.registry import (
    SLOT_FOR,
    VALUES_SCHEMA,
    FeatureRegistry,
    FeatureSchema,
    FeatureSource,
    FeatureStatus,
    FeatureValueType,
)
from feature_store_healthcare_spark.serving import FeatureServer

NAN = float("nan")
_VALUES = {
    FeatureValueType.INT64: [7, -3, 0, None],
    FeatureValueType.FLOAT64: [1.5, NAN, -2.25, None],
    FeatureValueType.STRING: ["a", "b", "", None],
    FeatureValueType.ARRAY_FLOAT: [[0.5, NAN], [1.0], [], None],
}
T0 = datetime(2024, 5, 1, 12)
#: few distinct times, so event and created times tie often
EVENT_TS = [T0, T0 + timedelta(minutes=1), T0 + timedelta(minutes=2)]
CREATED_TS = [datetime(2024, 5, 2), datetime(2024, 5, 2, 0, 0, 1)]
ENTITIES = ["e0", "e1", "e2"]


def _same(a, b):
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return type(a) is type(b) and a == b


def _registry(spark, path) -> tuple[FeatureRegistry, dict[str, FeatureValueType]]:
    registry = FeatureRegistry(spark, storage_dir=str(path))
    types = {}
    for vt in _VALUES:
        name = f"f_{vt.value}"
        registry.register_feature(
            name=name,
            schema=FeatureSchema(name=name, value_type=vt),
            source=FeatureSource(),
            owner="t",
            status=FeatureStatus.ACTIVE,
        )
        types[name] = vt
    return registry, types


def _bulk_rows(spark, rows):
    names = VALUES_SCHEMA.fieldNames()
    return spark.createDataFrame([tuple(r.get(n) for n in names) for r in rows], VALUES_SCHEMA)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_fold_matches_rebuild_under_random_interleavings(spark, tmp_path, monkeypatch, seed):
    rng = random.Random(seed)
    clock = [CREATED_TS[0]]
    monkeypatch.setattr(registry_mod, "_utcnow", lambda: clock[0])
    registry, types = _registry(spark, tmp_path)
    names = sorted(types)
    server = FeatureServer(registry)
    builds = []
    build = server._online_latest
    server._online_latest = lambda: builds.append(1) or build()

    def one_row():
        name = rng.choice(names)
        return name, rng.choice(ENTITIES), rng.choice(_VALUES[types[name]]), rng.choice(EVENT_TS)

    def ingest():
        name, entity, value, ts = one_row()
        fid = registry.get_feature_by_name(name).feature_id
        registry.ingest_feature_value(fid, entity, value, ts)

    def write():
        picked = rng.sample(names, rng.randint(1, len(names)))
        values = {n: rng.choice(_VALUES[types[n]]) for n in picked}
        server.write_features(rng.choice(ENTITIES), "patient", values, timestamp=rng.choice(EVENT_TS))

    def bulk_row(name, entity, value, ts, created, seq):
        return {
            "feature_id": registry.get_feature_by_name(name).feature_id,
            "feature_name": name, "entity_type": "patient", "entity_id": entity,
            SLOT_FOR[types[name]]: value, "event_timestamp": ts,
            "created_timestamp": created, "seq": seq,
        }

    def bulk():
        rows = [
            # a seq a buffered row has taken or is about to take
            bulk_row(*one_row(), rng.choice(CREATED_TS), registry._seq + rng.choice([-1, 0, 1]))
            for _ in range(rng.randint(1, 3))
        ]
        registry.ingest_values_df(_bulk_rows(spark, rows))

    def tie():  # a buffered row that ties the bulk row before it on the whole order
        name, entity, value, ts = one_row()
        registry.ingest_values_df(
            _bulk_rows(spark, [bulk_row(name, entity, value, ts, clock[0], registry._seq)])
        )
        server.get_online_features(entity, "patient", names)
        fid = registry.get_feature_by_name(name).feature_id
        registry.ingest_feature_value(fid, entity, rng.choice(_VALUES[types[name]]), ts)

    def ingest_then_flush():  # the flush moves rows the view has not folded
        ingest()
        registry.flush()

    ops = [write, write, ingest, ingest, ingest, bulk, tie, tie, registry.flush, ingest_then_flush]
    folded = tie_rebuilds = 0
    for _ in range(24):
        op = rng.choice(ops)
        clock[0] = rng.choice(CREATED_TS)
        op()
        before = len(builds)
        entity = rng.choice(ENTITIES)
        vec = server.get_online_features(entity, "patient", names)
        folded += op in (write, ingest) and len(builds) == before
        tie_rebuilds += op is tie and len(builds) > before
        fresh = FeatureServer(registry)._online_view()
        assert _same(server._online_view(), fresh), op.__name__
        row = fresh.get(entity, {})
        for name in names:
            held = row.get(registry.get_feature_by_name(name).feature_id)
            want = held[SLOT_FOR[types[name]]] if held is not None else None
            assert _same(vec.features[name], want), (op.__name__, entity, name)
    assert folded > 0 and tie_rebuilds > 0
    assert len(builds) > 1  # bulk ingests and flushed unfolded rows rebuild


def test_read_after_single_row_write_starts_no_spark_job(spark, tmp_path):
    registry, _types = _registry(spark, tmp_path)
    fid = registry.get_feature_by_name("f_int64").feature_id
    registry.ingest_values_df(_bulk_rows(spark, [{
        "feature_id": fid, "feature_name": "f_int64", "entity_type": "patient",
        "entity_id": "p1", "value_long": 40, "event_timestamp": T0,
        "created_timestamp": T0, "seq": 10**6,
    }]))
    server = FeatureServer(registry)
    names = ["f_int64", "f_string"]
    assert server.get_online_features("p1", "patient", names).features["f_int64"] == 40
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("online-fold", "reads after single-row writes")
        later = T0 + timedelta(minutes=1)
        server.write_features("p1", "patient", {"f_int64": 41, "f_string": "x"}, timestamp=later)
        vec = server.get_online_features("p1", "patient", names)
        assert vec.cache_hit is False and vec.features == {"f_int64": 41, "f_string": "x"}
        registry.ingest_feature_value(fid, "p1", 42, later + timedelta(minutes=1))
        vec = server.get_online_features("p1", "patient", names)
        assert vec.cache_hit is False and vec.features["f_int64"] == 42
        # a row the view already holds (appended while a rebuild ran) folds
        # again as a no-op and leaves the cached vector in place
        version, mark, index = server._view
        server._view = (version - 1, mark - 1, index)
        vec = server.get_online_features("p1", "patient", names)
        assert vec.cache_hit is True and vec.features["f_int64"] == 42
        assert server._view[:2] == (version, mark)
        # so does an older row, which loses
        registry.ingest_feature_value(fid, "p1", 5, T0 - timedelta(days=1))
        vec = server.get_online_features("p1", "patient", names)
        assert vec.cache_hit is True and vec.features["f_int64"] == 42
        assert list(tracker.getJobIdsForGroup("online-fold")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
