"""Structured Streaming tests (OP-43..47): file-source stream → watermarked
windows / stateful dedup / foreachBatch dual-write, driven with
``Trigger.AvailableNow`` so each test runs the full backlog and stops.

Late/out-of-order semantics (OP-44): the online LatestStore merge is guarded
by the event-ts argmax, so a late row can never regress the online value,
while the offline append keeps every row.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_healthcare_spark import tableops
from feature_store_healthcare_spark.operators.pit import latest_per_key
from feature_store_healthcare_spark.stores import AppendStore, LatestStore
from feature_store_healthcare_spark.streaming import pipeline as sp


@pytest.fixture()
def events_dir(tmp_path):
    """Two micro-batch files; the second contains a LATE event for user 1
    (ts older than the first file's) plus a newer one for user 2."""
    d = tmp_path / "stream_in"
    d.mkdir()
    batch1 = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "click", "value": 10.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T10:30:00", "user_id": 1, "event_type": "click", "value": 20.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T10:45:00", "user_id": 2, "event_type": "purchase", "value": 5.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T10:45:00", "user_id": 2, "event_type": "purchase", "value": 5.0, "props": "{}"},
    ]
    batch2 = [
        {"event_id": 4, "ts": "2024-01-01T09:15:00", "user_id": 1, "event_type": "click", "value": 99.0, "props": "{}"},
        {"event_id": 5, "ts": "2024-01-01T11:10:00", "user_id": 2, "event_type": "click", "value": 7.0, "props": "{}"},
    ]
    for name, rows in [("b1.json", batch1), ("b2.json", batch2)]:
        (d / name).write_text("\n".join(json.dumps(r) for r in rows))
    return str(d)


def _run_available_now(writer, tmp_path, name):
    q = (
        writer.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_tumbling_window_stream_matches_batch(spark, events_dir, tmp_path):
    stream = sp.stream_events(spark, events_dir)
    assert stream.isStreaming
    agg = sp.tumbling_window_features(stream, window="1 hour", watermark="2 hours")
    # complete mode: append would only emit windows the watermark has closed,
    # and availableNow ends with the watermark 2h behind max event time.
    _run_available_now(
        agg.writeStream.format("memory").queryName("tumbling_out").outputMode("complete"),
        tmp_path,
        "tumbling",
    )
    got = {
        (r.window_start.hour, r.user_id, r.event_type): (r.n, r.sum_value)
        for r in spark.table("tumbling_out").collect()
    }
    # batch equivalent over the same files
    batch = spark.read.schema(sp.EVENTS_STREAM_SCHEMA).json(events_dir)
    want = {
        (r.window_start.hour, r.user_id, r.event_type): (r.n, r.sum_value)
        for r in batch.groupBy(
            F.window("ts", "1 hour").alias("w"), "user_id", "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "user_id", "event_type", "n", "sum_value")
        .collect()
    }
    assert got == want
    # the late 09:15 event is inside the watermark → it must be present
    assert (9, 1, "click") in got


def test_session_windows_split_on_gap(spark, events_dir, tmp_path):
    stream = sp.stream_events(spark, events_dir)
    sess = sp.session_window_features(stream, gap="30 minutes", watermark="4 hours")
    _run_available_now(
        sess.writeStream.format("memory").queryName("sessions_out").outputMode("complete"),
        tmp_path,
        "sessions",
    )
    rows = spark.table("sessions_out").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    # user 1: 09:15 alone (gap>30m to 10:00), then 10:00+10:30 chained
    assert len(by_user[1]) == 2
    assert sorted(r.n_events for r in by_user[1]) == [1, 2]
    # user 2: 10:45 (x2 dup) and 11:10 within 30m gap → one session
    assert len(by_user[2]) == 1 and by_user[2][0].n_events == 3


def test_streaming_dedup_drops_duplicate_event_ids(spark, events_dir, tmp_path):
    stream = sp.stream_events(spark, events_dir)
    deduped = sp.streaming_dedup(stream, ["event_id"], watermark="4 hours")
    _run_available_now(
        deduped.writeStream.format("memory").queryName("dedup_out").outputMode("append"),
        tmp_path,
        "dedup",
    )
    ids = [r.event_id for r in spark.table("dedup_out").collect()]
    assert sorted(ids) == [1, 2, 3, 4, 5]  # duplicate event_id 3 dropped


def test_foreachbatch_online_upsert_ignores_late_rows(spark, events_dir, tmp_path):
    """OP-43/44: online latest table after the stream = batch latest-per-key;
    the late user-1 row (09:15) must NOT win over the 10:30 value."""
    store = LatestStore(spark, str(tmp_path / "online"))
    stream = sp.stream_events(spark, events_dir, max_files_per_trigger=1)
    writer = sp.streaming_online_upsert(
        stream, store, keys=["user_id"], ts_col="ts", tiebreak=["event_id"]
    )
    _run_available_now(writer, tmp_path, "upsert")
    online = {r.user_id: r for r in store.read().collect()}
    assert online[1].value == 20.0 and online[1].ts.hour == 10  # not the late 99.0
    assert online[2].value == 7.0  # newest for user 2
    # online/offline consistency (§2.7): online == latest over the full log
    batch = spark.read.schema(sp.EVENTS_STREAM_SCHEMA).json(events_dir)
    want = {
        r.user_id: r
        for r in latest_per_key(batch, ["user_id"], "ts", tiebreak=["event_id"]).collect()
    }
    assert {u: (r.value, r.ts) for u, r in online.items()} == {
        u: (r.value, r.ts) for u, r in want.items()
    }


def test_offline_append_keeps_late_rows(spark, events_dir, tmp_path):
    """OP-44: the offline store is bitemporal append — late rows land."""
    offline = AppendStore(spark, str(tmp_path / "offline"))
    stream = sp.stream_events(spark, events_dir)

    def _append(batch_df, batch_id):
        if not batch_df.isEmpty():
            offline.append(batch_df)

    _run_available_now(
        stream.writeStream.foreachBatch(_append).outputMode("append"),
        tmp_path,
        "offline",
    )
    rows = offline.read().collect()
    assert len(rows) == 6  # every raw row, dup + late included
    assert any(r.event_id == 4 for r in rows)


def test_stateful_running_features_across_batches(spark, events_dir, tmp_path):
    """applyInPandasWithState: state carries across micro-batches
    (maxFilesPerTrigger=1 → two batches); the LAST emitted row per user
    equals the batch aggregate over all files."""
    stream = sp.stream_events(spark, events_dir, max_files_per_trigger=1)
    feats = sp.stateful_running_features(stream)
    _run_available_now(
        feats.writeStream.format("memory").queryName("running_out").outputMode("update"),
        tmp_path,
        "running",
    )
    rows = spark.table("running_out").collect()
    # updates are appended per batch; the final state per user is the max n
    final = {}
    for r in rows:
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur.n_events:
            final[r.user_id] = r
    batch = spark.read.schema(sp.EVENTS_STREAM_SCHEMA).json(events_dir)
    want = {
        r.user_id: r
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert set(final) == set(want)
    for u in want:
        assert final[u].n_events == want[u].n_events
        assert abs(final[u].sum_value - want[u].sum_value) < 1e-9
        assert final[u].last_ts == want[u].last_ts


def test_stateful_running_features_string_key(spark, events_dir, tmp_path):
    """Round-10 ADVICE: the output schema pinned its key field to
    LongType regardless of the grouping column — a string key
    (event_type) must come back as a string column, not a cast error or
    nulls from applyInPandasWithState."""
    stream = sp.stream_events(spark, events_dir)
    feats = sp.stateful_running_features(stream, key="event_type")
    assert feats.schema["event_type"].dataType.simpleString() == "string"
    _run_available_now(
        feats.writeStream.format("memory")
        .queryName("running_str_out")
        .outputMode("update"),
        tmp_path,
        "running_str",
    )
    rows = spark.table("running_str_out").collect()
    keys = {r.event_type for r in rows}
    assert keys and all(isinstance(k, str) for k in keys)
    batch = spark.read.schema(sp.EVENTS_STREAM_SCHEMA).json(events_dir)
    want = {
        r.event_type: r.n
        for r in batch.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    final = {}
    for r in rows:
        final[r.event_type] = max(final.get(r.event_type, 0), r.n_events)
    assert final == want


def test_stream_stream_interval_join(spark, tmp_path):
    """Each purchase picks up only the same user's clicks in the trailing
    hour (inclusive end): earlier, later, and other-user clicks stay out."""
    d = tmp_path / "ssj_in"
    d.mkdir()
    rows = [
        {"event_id": 100, "ts": "2024-01-01T11:00:00", "user_id": 1, "event_type": "purchase", "value": 100.0, "props": "{}"},
        {"event_id": 10, "ts": "2024-01-01T10:10:00", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},  # in window
        {"event_id": 11, "ts": "2024-01-01T09:30:00", "user_id": 1, "event_type": "click", "value": 2.0, "props": "{}"},  # too old
        {"event_id": 12, "ts": "2024-01-01T11:30:00", "user_id": 1, "event_type": "click", "value": 3.0, "props": "{}"},  # after purchase
        {"event_id": 13, "ts": "2024-01-01T10:50:00", "user_id": 2, "event_type": "click", "value": 4.0, "props": "{}"},  # other user
    ]
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))

    purchases = sp.stream_events(spark, str(d)).where(F.col("event_type") == "purchase")
    clicks = sp.stream_events(spark, str(d)).where(F.col("event_type") == "click")
    joined = sp.stream_stream_interval_join(purchases, clicks)
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("ssj_out").collect()
    assert len(got) == 1
    r = got[0]
    assert r["purchase_id"] == 100 and r["click_id"] == 10 and r["click_value"] == 1.0


def test_latest_store_version_time_travel(spark, tmp_path):
    """keep_versions retains superseded snapshots: read(version=) shows the
    value being served BEFORE a later merge, and older snapshots expire.
    Version 1 holds ``v`` as int and the later merges widen it to bigint:
    an older version is read with its own schema, not the one the store
    remembers for the snapshot it committed last."""
    store = LatestStore(spark, str(tmp_path / "latest_tt"), keep_versions=2)
    df1 = spark.createDataFrame(
        [("u1", "2024-01-01T10:00:00", 1)], "k string, ts string, v int"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    df2 = spark.createDataFrame(
        [("u1", "2024-01-01T11:00:00", 2)], "k string, ts string, v bigint"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    store.merge(df1, ["k"], "ts")
    store.merge(df2, ["k"], "ts")
    assert store.versions() == [1, 2]
    assert store.read().first()["v"] == 2
    assert store.read(version=1).first()["v"] == 1
    assert store.read(version=1).schema["v"].dataType == T.IntegerType()
    assert store.read(version=2).schema["v"].dataType == T.LongType()
    # a third merge expires version 1 (keep_versions=2)
    df3 = spark.createDataFrame(
        [("u1", "2024-01-01T12:00:00", 3)], "k string, ts string, v bigint"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    store.merge(df3, ["k"], "ts")
    assert store.versions() == [2, 3]
    assert store.read(version=2).first()["v"] == 2
    with pytest.raises(ValueError, match="not retained"):
        store.read(version=1)


def test_streaming_incremental_rollup_matches_batch_agg(spark, events_dir, tmp_path):
    """IVM under streaming: folding each micro-batch's mergeable states
    into the persistent state table yields exactly the batch rollup of the
    full backlog (including the late row — merges are order-independent)."""
    from feature_store_healthcare_spark import maintenance

    state = str(tmp_path / "rollup_state")
    stream = sp.stream_events(spark, events_dir, max_files_per_trigger=1)
    writer = sp.streaming_incremental_rollup(
        stream, state, keys=["user_id"], value_col="value"
    )
    _run_available_now(writer, tmp_path, "ivm")
    got = {
        r.user_id: r
        for r in maintenance.finalize_agg_states(
            spark.read.parquet(tableops.current_dir(state)), ["user_id"]
        ).collect()
    }
    # user 1: 10.0 + 20.0 + late 99.0 ; user 2: 5.0 (x2 dup rows) + 7.0
    assert got[1].n == 3 and got[1].total == 129.0 and got[1].max_value == 99.0
    assert got[2].n == 3 and got[2].total == 17.0 and got[2].min_value == 5.0
    assert round(got[2].n_distinct_est) == 2


def test_sliding_window_stream_matches_batch(spark, events_dir, tmp_path):
    stream = sp.stream_events(spark, events_dir)
    agg = sp.sliding_window_features(
        stream, window="1 hour", slide="30 minutes", watermark="2 hours"
    )
    _run_available_now(
        agg.writeStream.format("memory").queryName("sliding_out").outputMode("complete"),
        tmp_path,
        "sliding",
    )
    got = {
        (r.window_start, r.user_id): (r.n, r.sum_value)
        for r in spark.table("sliding_out").collect()
    }
    batch = spark.read.schema(sp.EVENTS_STREAM_SCHEMA).json(events_dir)
    want = {
        (r.window_start, r.user_id): (r.n, r.sum_value)
        for r in batch.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n", "sum_value")
        .collect()
    }
    assert got == want
    # every event lands in exactly window/slide = 2 overlapping windows
    n_events = batch.count()
    assert sum(v[0] for v in got.values()) == 2 * n_events


def test_streaming_cdc_apply_matches_batch_fold(spark, tmp_path):
    """Streaming CDC fold ≡ batch materialize over the same changelog,
    including a delete tombstone guarding a LATE update in a later batch."""
    import json as _json

    from feature_store_healthcare_spark.operators import cdc
    from feature_store_healthcare_spark.streaming import pipeline as sp2

    d = tmp_path / "cdc_in"
    d.mkdir()
    batch1 = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "click", "value": 10.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T11:00:00", "user_id": 1, "event_type": "click", "value": 0.5, "props": "{}"},  # delete (value<1)
        {"event_id": 3, "ts": "2024-01-01T10:30:00", "user_id": 2, "event_type": "click", "value": 7.0, "props": "{}"},
    ]
    batch2 = [
        # LATE update for user 1, older than the delete → must stay deleted
        {"event_id": 4, "ts": "2024-01-01T10:15:00", "user_id": 1, "event_type": "click", "value": 99.0, "props": "{}"},
        {"event_id": 5, "ts": "2024-01-01T12:00:00", "user_id": 2, "event_type": "click", "value": 8.0, "props": "{}"},
    ]
    for name, rows in [("b1.json", batch1), ("b2.json", batch2)]:
        (d / name).write_text("\n".join(_json.dumps(r) for r in rows))

    def with_op(df):
        return df.select(
            "user_id", "event_type", "event_id", "ts", "value",
            F.when(F.col("value") < 1.0, "D").otherwise("U").alias("op"),
        )

    state = str(tmp_path / "cdc_state")
    stream = with_op(sp2.stream_events(spark, str(d)))
    writer = sp2.streaming_cdc_apply(
        stream, state, keys=["user_id", "event_type"], ts_col="ts",
        tiebreak=["event_id"],
    )
    _run_available_now(writer, tmp_path, "cdc")

    got = sorted(
        sp2.read_cdc_state(spark, state).collect(), key=lambda r: r.user_id
    )
    batch = with_op(spark.read.schema(sp2.EVENTS_STREAM_SCHEMA).json(str(d)))
    want = sorted(
        cdc.materialize(
            batch, ["user_id", "event_type"], "ts", tiebreak=["event_id"]
        ).collect(),
        key=lambda r: r.user_id,
    )
    assert got == want
    # the tombstone did its job: user 1 stays deleted despite the late 99.0
    assert [r.user_id for r in got] == [2]
    assert got[0].value == 8.0


def test_streaming_burst_throttle_matches_batch_twin(spark, tmp_path):
    """Gap throttle across micro-batches equals the batch lag-window dedup
    for in-order delivery — state (last raw ts per key) survives the
    batch boundary, so an event early in batch 2 that follows an event
    late in batch 1 within the gap is dropped."""
    from feature_store_healthcare_spark.operators.dedup import burst_dedup

    d = tmp_path / "throttle_in"
    d.mkdir()
    batch1 = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T10:00:30", "user_id": 1, "event_type": "a", "value": 2.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T10:02:00", "user_id": 1, "event_type": "a", "value": 3.0, "props": "{}"},
    ]
    # batch 2 starts 20 s after batch 1's last event -> must be dropped,
    # which only happens if state crossed the micro-batch boundary
    batch2 = [
        {"event_id": 4, "ts": "2024-01-01T10:02:20", "user_id": 1, "event_type": "a", "value": 4.0, "props": "{}"},
        {"event_id": 5, "ts": "2024-01-01T10:04:00", "user_id": 1, "event_type": "a", "value": 5.0, "props": "{}"},
        {"event_id": 6, "ts": "2024-01-01T10:04:10", "user_id": 2, "event_type": "a", "value": 6.0, "props": "{}"},
    ]
    for name, rows in [("b1.json", batch1), ("b2.json", batch2)]:
        (d / name).write_text("\n".join(json.dumps(r) for r in rows))

    stream = sp.stream_events(spark, str(d), max_files_per_trigger=1)
    out = sp.streaming_burst_throttle(stream, min_gap_seconds=60)
    _run_available_now(
        out.writeStream.format("memory").queryName("throttle_out").outputMode("append"),
        tmp_path,
        "throttle",
    )
    got = {r.event_id for r in spark.table("throttle_out").collect()}

    batch = (
        spark.read.schema(sp.EVENTS_STREAM_SCHEMA)
        .json(str(d))
        .select("event_id", "user_id", "event_type", "ts", "value")
    )
    want = {
        r.event_id
        for r in burst_dedup(
            batch, ["user_id", "event_type"], "ts", 60, tie_col="event_id"
        ).collect()
    }
    assert got == want
    assert got == {1, 3, 5, 6}  # 2 (30s) and 4 (20s, across the boundary) drop


def test_streaming_decayed_counters_match_batch_twin(spark, tmp_path):
    """Decayed counters (``applyInPandasWithState``) across two
    micro-batches equal the batch one-shot weighted sum (decay.
    decayed_counters) evaluated at each user's last event, to float
    tolerance — the incremental fold S' = S·2^(-dt/hl) + new carries
    state across the batch boundary."""
    import math

    from feature_store_healthcare_spark.operators import decay

    d = tmp_path / "decay_in"
    d.mkdir()
    batch1 = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1, "event_type": "a", "value": 10.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-03T00:00:00", "user_id": 1, "event_type": "a", "value": 20.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-02T00:00:00", "user_id": 2, "event_type": "a", "value": 5.0, "props": "{}"},
    ]
    batch2 = [
        {"event_id": 4, "ts": "2024-01-10T00:00:00", "user_id": 1, "event_type": "a", "value": 40.0, "props": "{}"},
        {"event_id": 5, "ts": "2024-01-04T00:00:00", "user_id": 2, "event_type": "a", "value": 7.0, "props": "{}"},
    ]
    for name, rows in [("b1.json", batch1), ("b2.json", batch2)]:
        (d / name).write_text("\n".join(json.dumps(r) for r in rows))

    stream = sp.stream_events(spark, str(d), max_files_per_trigger=1)
    out = sp.streaming_decayed_counters(stream, half_life_days=7.0)
    _run_available_now(
        out.writeStream.format("memory").queryName("decay_out").outputMode("update"),
        tmp_path,
        "decay",
    )
    # last update per user = final state
    final = {}
    for r in spark.table("decay_out").collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur.n_events:
            final[r.user_id] = r

    batch = spark.read.schema(sp.EVENTS_STREAM_SCHEMA).json(str(d))
    for user in (1, 2):
        rows = sorted(
            batch.where(f"user_id = {user}").collect(), key=lambda r: r.ts
        )
        last_us = int(rows[-1].ts.timestamp() * 1e6)
        want = decay.decayed_counters(
            batch.where(f"user_id = {user}"),
            ["user_id"],
            "ts",
            "value",
            as_of_micros=last_us,
            half_life_days=7.0,
            round_to=9,
        ).collect()[0]
        got = final[user]
        assert got.n_events == want.n_events
        assert math.isclose(got.decayed_count, want.decayed_count, rel_tol=1e-9)
        assert math.isclose(got.decayed_sum, want.decayed_sum, rel_tol=1e-9)
        assert got.last_us == last_us


def test_streaming_postings_maintenance_matches_batch_build(spark, tmp_path):
    """The streaming text-index loop (bootstrap build → per-micro-batch
    append_postings_index via foreachBatch) produces an index whose every
    probe is bit-identical to a one-shot build over the full corpus, and
    the (txn_id, batch_id) marker makes replays idempotent: re-running the
    same logical stream from a fresh checkpoint with the same txn_id
    appends nothing."""
    from feature_store_healthcare_spark.operators import retrieval

    base = [(0, "hash join hash join hash"), (1, "sort merge sort merge")]
    b1 = [(2, "hash partition scan"), (3, "broadcast join small table")]
    b2 = [(4, "scan scan scan scan merge")]
    d = tmp_path / "docs_in"
    d.mkdir()
    for name, rows in [("b1.json", b1), ("b2.json", b2)]:
        (d / name).write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
    schema = "doc_id int, text string"
    path = str(tmp_path / "post_s")
    try:
        retrieval.build_postings_index(
            spark.createDataFrame(base, schema), "doc_id", "text",
            "t_stream", path, n_buckets=2,
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        writer = sp.streaming_postings_maintenance(
            stream, "t_stream", path, n_buckets=2, txn_id="load1"
        )
        _run_available_now(writer, tmp_path, "post_s")

        full = spark.createDataFrame(base + b1 + b2, schema)
        retrieval.build_postings_index(
            full, "doc_id", "text", "t_full_s", str(tmp_path / "post_f"),
            n_buckets=2,
        )
        q = [("a", "hash scan"), ("b", "merge join")]
        key = lambda r: (r.query_id, r.rank)  # noqa: E731
        streamed = retrieval.bm25_topk_from_index(spark, "t_stream", q, k=5)
        oneshot = retrieval.bm25_topk_from_index(spark, "t_full_s", q, k=5)
        assert sorted(streamed.collect(), key=key) == sorted(
            oneshot.collect(), key=key
        )
        pa = retrieval.unigram_perplexity_from_index(spark, "t_stream").collect()
        pf = retrieval.unigram_perplexity_from_index(spark, "t_full_s").collect()
        assert sorted(map(tuple, pa)) == sorted(map(tuple, pf))

        # replay the same logical stream (same txn_id, fresh checkpoint →
        # batch ids restart at 0): the marker skips every batch, the index
        # is unchanged
        stats_before = spark.table("t_stream__stats").collect()
        writer2 = sp.streaming_postings_maintenance(
            stream, "t_stream", path, n_buckets=2, txn_id="load1"
        )
        _run_available_now(writer2, tmp_path, "post_s_replay")
        assert spark.table("t_stream__stats").collect() == stats_before

        # the marker is scoped to one logical stream: with no txn_id and
        # no checkpoint_dir parameter there is nothing to scope it to, so
        # the call must refuse rather than silently skip a second
        # stream's batches as replays
        with pytest.raises(ValueError, match="txn_id"):
            sp.streaming_postings_maintenance(stream, "t_stream", path)
    finally:
        for t in ("t_stream", "t_stream__stats", "t_full_s", "t_full_s__stats"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

def test_streaming_dsir_dist_maintenance_matches_batch_build(spark, tmp_path):
    """The streaming DSIR-distribution loop (bootstrap build_dsir_dist →
    per-micro-batch append_dsir_dist via foreachBatch) yields scores
    bit-identical to the single-pass dsir_logratio_weights over the full
    corpus, and the (txn_id, batch_id) marker makes replays idempotent
    (an additive count append would otherwise double-count)."""
    from feature_store_healthcare_spark.operators import sampling

    base = [(0, "alpha beta gamma alpha", "en"), (1, "beta alpha beta", "en")]
    b1 = [(2, "delta epsilon zeta", "de"), (3, "epsilon delta zeta", "de")]
    b2 = [(4, "alpha beta gamma beta", "de")]
    d = tmp_path / "dsir_docs_in"
    d.mkdir()
    for name, rows in [("b1.json", b1), ("b2.json", b2)]:
        (d / name).write_text(
            "\n".join(
                json.dumps({"doc_id": i, "text": t, "lang": lg})
                for i, t, lg in rows
            )
        )
    schema = "doc_id int, text string, lang string"
    path = str(tmp_path / "dsir_dist_s")
    tgt = F.col("lang") == "en"
    sampling.build_dsir_dist(
        spark.createDataFrame(base, schema), "text", tgt, path
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    writer = sp.streaming_dsir_dist_maintenance(
        stream, path, "text", tgt, txn_id="dsir1"
    )
    _run_available_now(writer, tmp_path, "dsir_s")

    full = spark.createDataFrame(base + b1 + b2, schema)
    streamed = sampling.dsir_score_from_dist(full, path, "doc_id", "text")
    live = sampling.dsir_logratio_weights(full, "doc_id", "text", tgt)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, live.collect())
    )

    # replay with the same txn_id from a fresh checkpoint: every batch
    # skipped, the folded statistics unchanged
    counts = tableops.current_dir(path)
    before = sorted(map(tuple, spark.read.parquet(counts).collect()))
    writer2 = sp.streaming_dsir_dist_maintenance(
        stream, path, "text", tgt, txn_id="dsir1"
    )
    _run_available_now(writer2, tmp_path, "dsir_s_replay")
    assert sorted(map(tuple, spark.read.parquet(counts).collect())) == before

    # marker scope is required, exactly as for the other index maintainers
    with pytest.raises(ValueError, match="txn_id"):
        sp.streaming_dsir_dist_maintenance(stream, path, "text", tgt)


def test_streaming_band_maintenance_matches_batch_build(spark, tmp_path):
    """The streaming LSH band-index loop (bootstrap build_band_index →
    per-micro-batch append_band_index via foreachBatch) produces an index
    whose probe equals a one-shot build over the full corpus, and the
    per-txn (txn_id, batch_id) marker makes replays idempotent while a
    SECOND logical stream keeps its own marker (the single-slot overwrite
    the round-7 ADVICE flagged is gone)."""
    from feature_store_healthcare_spark.operators import dedup
    from feature_store_healthcare_spark.stores import read_table

    base = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "pack my box with five dozen liquor jugs right now"),
    ]
    b1 = [(2, "the quick brown fox jumps over the lazy dog today")]
    b2 = [(3, "sphinx of black quartz judge my vow carefully and slowly")]
    d = tmp_path / "band_in"
    d.mkdir()
    for name, rows in [("b1.json", b1), ("b2.json", b2)]:
        (d / name).write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
    schema = "doc_id int, text string"
    path = str(tmp_path / "band_s")
    try:
        dedup.build_band_index(
            spark.createDataFrame(base, schema), "doc_id", "text",
            "t_band_s", path, n_buckets=2,
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        writer = sp.streaming_band_maintenance(
            stream, "t_band_s", path, n_buckets=2, txn_id="loadA"
        )
        _run_available_now(writer, tmp_path, "band_s")

        dedup.build_band_index(
            spark.createDataFrame(base + b1 + b2, schema), "doc_id", "text",
            "t_band_full", str(tmp_path / "band_f"), n_buckets=2,
        )
        key = lambda r: (r.id_a, r.id_b)  # noqa: E731
        streamed = dedup.lsh_pairs_from_bands(
            read_table(spark, "t_band_s"), "doc_id"
        )
        oneshot = dedup.lsh_pairs_from_bands(
            read_table(spark, "t_band_full"), "doc_id"
        )
        assert sorted(streamed.collect(), key=key) == sorted(
            oneshot.collect(), key=key
        )
        # the near-dup pair (0, 2) must be found through the streamed index
        assert (0, 2) in {(r.id_a, r.id_b) for r in streamed.collect()}

        # replay the same logical stream (same txn_id, fresh checkpoint →
        # batch ids restart at 0): every batch skipped, no duplicate bands
        n_before = read_table(spark, "t_band_s").count()
        writer2 = sp.streaming_band_maintenance(
            stream, "t_band_s", path, n_buckets=2, txn_id="loadA"
        )
        _run_available_now(writer2, tmp_path, "band_s_replay")
        assert read_table(spark, "t_band_s").count() == n_before

        # a SECOND logical stream (new txn_id) gets its own marker: its
        # batches are APPLIED, not skipped as replays of stream A...
        writer3 = sp.streaming_band_maintenance(
            stream, "t_band_s", path, n_buckets=2, txn_id="loadB"
        )
        _run_available_now(writer3, tmp_path, "band_s_txn2")
        assert read_table(spark, "t_band_s").count() > n_before
        # ...and stream A's replay protection SURVIVES stream B's commits
        # (pre-fix, B's marker overwrote A's and this re-appended):
        n_after_b = read_table(spark, "t_band_s").count()
        writer4 = sp.streaming_band_maintenance(
            stream, "t_band_s", path, n_buckets=2, txn_id="loadA"
        )
        _run_available_now(writer4, tmp_path, "band_s_replayA2")
        assert read_table(spark, "t_band_s").count() == n_after_b

        with pytest.raises(ValueError, match="txn_id"):
            sp.streaming_band_maintenance(stream, "t_band_s", path)
    finally:
        for t in ("t_band_s", "t_band_full"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_ivf_maintenance_matches_batch_build(spark, tmp_path):
    """The streaming IVF-index loop (bootstrap build_ivf_index →
    per-micro-batch append_ivf_index via foreachBatch) produces an index
    whose probes equal a one-shot assignment of the full corpus under the
    SAME centroids, and replays are idempotent."""
    import random

    from feature_store_healthcare_spark.operators import similarity

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(24)]
    base, b1, b2 = vecs[:16], vecs[16:20], vecs[20:]
    schema = "vec_id int, embedding array<double>"
    d = tmp_path / "ivf_in"
    d.mkdir()
    for name, rows in [("b1.json", b1), ("b2.json", b2)]:
        (d / name).write_text(
            "\n".join(
                json.dumps({"vec_id": i, "embedding": v}) for i, v in rows
            )
        )
    path = str(tmp_path / "ivf_s")
    cents = similarity.build_ivf_index(
        spark.createDataFrame(base, schema), path, n_centroids=4
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    writer = sp.streaming_ivf_maintenance(stream, path, txn_id="vloadA")
    _run_available_now(writer, tmp_path, "ivf_s")

    # one-shot: assign the FULL corpus under the original centroids
    full_path = str(tmp_path / "ivf_full")
    oneshot_rows = similarity.ivf_assign(spark.createDataFrame(vecs, schema), cents)
    tableops.write_version(
        full_path,
        lambda v: oneshot_rows.write.partitionBy("__list").parquet(
            os.path.join(v, "rows")
        ),
    )
    q = spark.createDataFrame(vecs[:3], schema).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    streamed = similarity.ivf_topk_from_index(
        spark, path, q, k=5, nprobe=2, centroids=cents
    )
    oneshot = similarity.ivf_topk_from_index(
        spark, full_path, q, k=5, nprobe=2, centroids=cents
    )
    assert sorted(streamed.collect(), key=key) == sorted(
        oneshot.collect(), key=key
    )

    # replay: fresh checkpoint, same txn_id → nothing re-appended
    rows = os.path.join(tableops.current_dir(path), "rows")
    n_before = spark.read.parquet(rows).count()
    writer2 = sp.streaming_ivf_maintenance(stream, path, txn_id="vloadA")
    _run_available_now(writer2, tmp_path, "ivf_s_replay")
    assert spark.read.parquet(rows).count() == n_before

    with pytest.raises(ValueError, match="txn_id"):
        sp.streaming_ivf_maintenance(stream, path)


def test_streaming_pca_maintenance_matches_batch_build(spark, tmp_path):
    """The streaming PCA-index loop (bootstrap build_pca_index →
    per-micro-batch append_pca_index via foreachBatch) produces an index
    whose probes equal a one-shot projection of the full corpus under the
    SAME stored model, and replays are idempotent (round 13 — the PCA
    half of the stored-index streaming family)."""
    import random

    from feature_store_healthcare_spark.operators import similarity

    rng = random.Random(11)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(24)
    ]
    base, b1, b2 = vecs[:16], vecs[16:20], vecs[20:]
    schema = "vec_id int, embedding array<double>"
    d = tmp_path / "pca_in"
    d.mkdir()
    for name, rows in [("b1.json", b1), ("b2.json", b2)]:
        (d / name).write_text(
            "\n".join(
                json.dumps({"vec_id": i, "embedding": v}) for i, v in rows
            )
        )
    path = str(tmp_path / "pca_s")
    comps, mean = similarity.build_pca_index(
        spark.createDataFrame(base, schema), path, pca_dim=4, dim=8
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    writer = sp.streaming_pca_maintenance(stream, path, txn_id="ploadA")
    _run_available_now(writer, tmp_path, "pca_s")

    # one-shot: project the FULL corpus under the ORIGINAL model
    full_path = str(tmp_path / "pca_full")
    oneshot_rows = similarity.pca_project(
        spark.createDataFrame(vecs, schema), comps, mean, out_col="__p"
    ).select(F.col("vec_id").alias("__cid"), "__p", "embedding")
    tableops.write_version(
        full_path,
        lambda v: oneshot_rows.write.parquet(os.path.join(v, "rows")),
    )
    q = spark.createDataFrame(vecs[:3], schema).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    streamed = similarity.pca_topk_from_index(
        spark, path, q, k=5, rerank_factor=2, dim=8,
        components=comps, mean=mean,
    )
    oneshot = similarity.pca_topk_from_index(
        spark, full_path, q, k=5, rerank_factor=2, dim=8,
        components=comps, mean=mean,
    )
    assert sorted(streamed.collect(), key=key) == sorted(
        oneshot.collect(), key=key
    )

    # replay: fresh checkpoint, same txn_id → nothing re-appended
    rows = os.path.join(tableops.current_dir(path), "rows")
    n_before = spark.read.parquet(rows).count()
    writer2 = sp.streaming_pca_maintenance(stream, path, txn_id="ploadA")
    _run_available_now(writer2, tmp_path, "pca_s_replay")
    assert spark.read.parquet(rows).count() == n_before

    with pytest.raises(ValueError, match="txn_id"):
        sp.streaming_pca_maintenance(stream, path)


def test_marker_path_uses_full_digest(tmp_path):
    """Round-8 ADVICE (low): the marker FILENAME carries the full 128-bit
    md5 of the txn_id.  The earlier 12-char truncation made reads safe
    (txn_id re-checked inside the file) but let a filename collision
    between two txns OVERWRITE each other's marker on every applied
    batch — destroying the other stream's high-water mark so its
    replays double-appended.  Full digest ⇒ a collision needs ~2^64
    txn_ids; the write path is no longer the weak half."""
    import hashlib

    base = str(tmp_path / "idx")
    p_a = tableops.marker_path(base, "txnA")
    p_b = tableops.marker_path(base, "txnB")
    assert p_a != p_b
    assert p_a.endswith(hashlib.md5(b"txnA").hexdigest())
    assert len(p_a.rsplit(".", 1)[1]) == 32


def test_streaming_marker_legacy_migration(spark, tmp_path):
    """A stream that committed batches under the round-7 single-slot
    marker ('{path}__applied') and restarts under the per-txn scheme must
    still see its high-water mark: batch ids at or below the legacy
    marker's are skipped (same txn only), and new commits land in the
    per-txn file."""
    import json as _json

    from feature_store_healthcare_spark.operators import dedup
    from feature_store_healthcare_spark.stores import read_table

    base = [(0, "alpha beta gamma delta epsilon zeta eta theta")]
    b1 = [(1, "one two three four five six seven eight")]
    b2 = [(2, "nine ten eleven twelve thirteen fourteen fifteen")]
    d = tmp_path / "legacy_in"
    d.mkdir()
    for name, rows in [("b1.json", b1), ("b2.json", b2)]:
        (d / name).write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
    schema = "doc_id int, text string"
    path = str(tmp_path / "band_legacy")
    try:
        dedup.build_band_index(
            spark.createDataFrame(base, schema), "doc_id", "text",
            "t_legacy", path, n_buckets=2,
        )
        # round-7-style marker: this txn already applied batch 0
        (tmp_path / "band_legacy__applied").write_text(
            _json.dumps({"txn_id": "L", "batch_id": 0})
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
        )
        writer = sp.streaming_band_maintenance(
            stream, "t_legacy", path, n_buckets=2, txn_id="L"
        )
        _run_available_now(writer, tmp_path, "legacy")
        # batch 0 (b1) skipped via the legacy marker; batch 1 (b2) applied
        ids = {r.doc_id for r in read_table(spark, "t_legacy").collect()}
        assert ids == {0, 2}, ids
        # ...and a DIFFERENT txn ignores the foreign legacy marker: its
        # batch 0 applies (b1's bands land)
        writer2 = sp.streaming_band_maintenance(
            stream, "t_legacy", path, n_buckets=2, txn_id="M"
        )
        _run_available_now(writer2, tmp_path, "legacy_m")
        ids2 = {r.doc_id for r in read_table(spark, "t_legacy").collect()}
        assert 1 in ids2
    finally:
        spark.sql("DROP TABLE IF EXISTS t_legacy")


def test_streaming_marker_truncated_digest_migration(spark, tmp_path):
    """Round-9 ADVICE (medium): the round-8 release wrote markers at the
    12-char-truncated-digest path ('{path}__applied.{md5[:12]}'); the
    full-digest rename must not orphan them — a stream restarting across
    that upgrade still sees its high-water mark (else its last applied
    batch replays and double-appends).  Exercised directly against the
    foreachBatch guard: batch ids at or below the truncated marker's are
    skipped (same txn only), new commits land at the full-digest path,
    and a foreign txn's colliding truncated marker is ignored."""
    import hashlib
    import json as _json

    path = str(tmp_path / "idx_trunc")
    # round-8-style marker: txn "T" already applied batch 3
    trunc = f"{path}__applied.{hashlib.md5(b'T').hexdigest()[:12]}"
    with open(trunc, "w") as fh:
        _json.dump({"txn_id": "T", "batch_id": 3}, fh)

    applied: list[int] = []
    batch = spark.range(1)
    fb = tableops.idempotent_commit(path, "T", lambda df: applied.append(1))
    fb(batch, 3)  # replay of the truncated marker's high-water mark
    assert applied == [], "batch 3 must be skipped via the truncated marker"
    fb(batch, 4)  # fresh batch applies and moves the mark to the new path
    assert applied == [1]
    assert os.path.exists(tableops.marker_path(path, "T"))
    fb(batch, 4)  # now guarded by the full-digest marker
    assert applied == [1]

    # a DIFFERENT txn never inherits a foreign truncated marker, even on
    # a filename collision: plant txn T's content at U's truncated path —
    # the content txn_id re-check rejects it and U's batch 0 applies
    with open(f"{path}__applied.{hashlib.md5(b'U').hexdigest()[:12]}", "w") as fh:
        _json.dump({"txn_id": "T", "batch_id": 9}, fh)
    fb_u = tableops.idempotent_commit(path, "U", lambda df: applied.append(2))
    fb_u(batch, 0)
    assert applied == [1, 2]


def test_streaming_burst_throttle_subsecond_matches_batch_twin(spark, tmp_path):
    """Sub-second timestamps: the gap must compare WHOLE epoch seconds
    (the batch twin's ts.cast('long') truncation).  Event 2 is 59.2 s
    after event 1 in µs terms but exactly 60 truncated seconds — the twin
    KEEPS it, so the stream must too (µs-exact subtraction dropped it)."""
    from feature_store_healthcare_spark.operators.dedup import burst_dedup

    d = tmp_path / "subsec_in"
    d.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00.900", "user_id": 1,
         "event_type": "a", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T10:01:00.100", "user_id": 1,
         "event_type": "a", "value": 2.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T10:01:30.000", "user_id": 1,
         "event_type": "a", "value": 3.0, "props": "{}"},
    ]
    (d / "b1.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = sp.stream_events(spark, str(d))
    out = sp.streaming_burst_throttle(stream, min_gap_seconds=60)
    _run_available_now(
        out.writeStream.format("memory").queryName("subsec_out").outputMode("append"),
        tmp_path,
        "subsec",
    )
    got = {r.event_id for r in spark.table("subsec_out").collect()}
    batch = (
        spark.read.schema(sp.EVENTS_STREAM_SCHEMA)
        .json(str(d))
        .select("event_id", "user_id", "event_type", "ts", "value")
    )
    want = {
        r.event_id
        for r in burst_dedup(
            batch, ["user_id", "event_type"], "ts", 60, tie_col="event_id"
        ).collect()
    }
    assert got == want and 2 in got and 3 not in got


def test_streaming_rollup_replay_does_not_double_add(spark, events_dir, tmp_path):
    """At-least-once replay guard: re-delivering the whole backlog under
    the SAME txn_id with restarted batch ids (what a checkpoint-lost
    restart does) must not double-add into the additive state — the
    (txn_id, batch_id) high-water mark rides inside the state directory
    and commits atomically with the fold."""
    from feature_store_healthcare_spark import maintenance

    state = str(tmp_path / "replay_state")
    for attempt in ("first", "replayed"):
        stream = sp.stream_events(spark, events_dir, max_files_per_trigger=1)
        writer = sp.streaming_incremental_rollup(
            stream, state, keys=["user_id"], value_col="value", txn_id="one-stream"
        )
        # fresh checkpoint per attempt -> Spark re-delivers everything
        _run_available_now(writer, tmp_path, f"replay_{attempt}")
    got = {
        r.user_id: r
        for r in maintenance.finalize_agg_states(
            spark.read.parquet(tableops.current_dir(state)), ["user_id"]
        ).collect()
    }
    assert got[1].n == 3 and got[1].total == 129.0  # not 258.0
    assert got[2].n == 3 and got[2].total == 17.0


def test_rollup_crash_before_flip_replays_once(
    spark, events_dir, tmp_path, monkeypatch
):
    """A rollup fold that dies before its version flip leaves the previous
    version (state and replay mark) serving; restarting from the same
    checkpoint re-folds that batch once, and re-delivering the whole
    backlog under the same txn_id adds nothing."""
    from pyspark.errors import StreamingQueryException

    from feature_store_healthcare_spark import maintenance

    state = str(tmp_path / "crash_state")

    def run(name):
        stream = sp.stream_events(spark, events_dir, max_files_per_trigger=1)
        writer = sp.streaming_incremental_rollup(
            stream, state, keys=["user_id"], value_col="value", txn_id="one"
        )
        _run_available_now(writer, tmp_path, name)

    def rollup():
        return sorted(
            (r.user_id, r.n, r.total)
            for r in maintenance.finalize_agg_states(
                spark.read.parquet(tableops.current_dir(state)), ["user_id"]
            ).collect()
        )

    real_flip = tableops.flip_pointer
    flips = []

    def flip(pointer_path, value):
        flips.append(value)
        if len(flips) == 2:  # the second batch's commit
            raise RuntimeError("crash before the pointer flip")
        real_flip(pointer_path, value)

    with monkeypatch.context() as m:
        m.setattr(tableops, "flip_pointer", flip)
        with pytest.raises(StreamingQueryException):
            run("crashed")
    # the first batch's version still serves: users 1 and 2 of b1.json
    assert tableops.current_version(state) == 1
    assert rollup() == [(1, 2, 30.0), (2, 2, 10.0)]
    run("crashed")  # same checkpoint: the failed batch re-runs
    want = [(1, 3, 129.0), (2, 3, 17.0)]
    assert rollup() == want
    run("replayed")  # fresh checkpoint, same txn_id: every batch skips
    assert rollup() == want


def test_torn_marker_reads_as_missing(tmp_path):
    """A zero-length / torn marker file must mean 'missing' (one-batch
    replay window), not a permanent JSONDecodeError on every batch."""
    p = str(tmp_path / "marker.json")
    open(p, "w").close()  # torn: exists but empty
    assert tableops.read_batch_marker(p) is None


def test_streaming_media_stats_maintenance_matches_batch_decode(spark, tmp_path):
    """The incremental media-stats loop (per-micro-batch REAL codec
    decode → append via foreachBatch) accumulates a stats table equal to
    the one-shot unified decode over the full corpus — all three media
    kinds (PNG/BMP, WAV, Y4M) in the same stream — and the
    (txn_id, batch_id) marker makes replays idempotent (a blind replay
    would duplicate stat rows)."""
    from feature_store_healthcare_spark.operators import multimodal

    def media_batch(ids):
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        return (
            multimodal.synthesize_image_media(docs, sample_mod=1)
            .unionByName(multimodal.synthesize_audio_media(docs, sample_mod=1))
            .unionByName(multimodal.synthesize_video_media(docs, sample_mod=1))
        )

    src = tmp_path / "media_in"
    media_batch([0, 1, 2]).write.parquet(str(src / "b1"))
    media_batch([3, 4]).write.parquet(str(src / "b2"))

    path = str(tmp_path / "media_stats")
    stream = (
        spark.readStream.schema(multimodal.MEDIA_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    writer = sp.streaming_media_stats_maintenance(stream, path, txn_id="media1")
    _run_available_now(writer, tmp_path, "media_s")

    streamed = sorted(map(tuple, spark.read.parquet(path).collect()))
    batch = sorted(
        map(tuple, multimodal.decode_media_stats(media_batch(range(5))).collect())
    )
    assert streamed == batch and len(streamed) == 15  # 5 ids x 3 kinds

    # every kind really decoded through its own codec
    fmts = {r[2] for r in streamed}
    assert fmts == {"png", "bmp", "wav", "y4m"}

    # replay from a fresh checkpoint with the same txn_id: all batches
    # skipped, no duplicate stat rows
    writer2 = sp.streaming_media_stats_maintenance(stream, path, txn_id="media1")
    _run_available_now(writer2, tmp_path, "media_s_replay")
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == streamed

    # marker scope required, exactly as for the other maintainers
    with pytest.raises(ValueError, match="txn_id"):
        sp.streaming_media_stats_maintenance(stream, path)


def test_media_stats_maintenance_survives_poison_payload(spark, tmp_path):
    """r12 ADVICE #2: one null / garbage payload in a micro-batch must
    not fail the batch before its idempotency marker is written (an
    availableNow retry would replay the same poison batch forever).
    The maintainer decodes with on_error='null', so poison rows land as
    fmt='error' null-stat rows and the stream completes."""
    from feature_store_healthcare_spark.operators import multimodal

    docs = spark.createDataFrame([(0,), (1,)], "doc_id long")
    good = multimodal.synthesize_image_media(docs, sample_mod=1)
    poison = spark.createDataFrame(
        [(901, "image", None), (902, "audio", bytearray(b"not-a-container"))],
        "media_id long, kind string, content binary",
    ).withColumn(
        "meta",
        F.lit(None).cast(multimodal.MEDIA_SCHEMA["meta"].dataType),
    )
    src = tmp_path / "poison_in"
    good.unionByName(poison).write.parquet(str(src / "b1"))

    # batch posture unchanged: the default RAISES on the poison row
    with pytest.raises(Exception):
        multimodal.decode_media_stats(
            spark.read.schema(multimodal.MEDIA_SCHEMA).parquet(str(src / "b1"))
        ).collect()

    path = str(tmp_path / "poison_stats")
    stream = (
        spark.readStream.schema(multimodal.MEDIA_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    writer = sp.streaming_media_stats_maintenance(stream, path, txn_id="poison1")
    _run_available_now(writer, tmp_path, "media_poison")

    rows = {r["media_id"]: r for r in spark.read.parquet(path).collect()}
    assert len(rows) == 4  # 2 good + 2 poison, nothing dropped
    for mid in (901, 902):
        assert rows[mid]["fmt"] == "error"
        assert rows[mid]["n_units"] == 0
        assert rows[mid]["first_value"] is None
        assert rows[mid]["mean_value"] is None
    for mid in (0, 1):
        assert rows[mid]["fmt"] in ("png", "bmp") and rows[mid]["n_units"] > 0
