"""Direct contract tests for tableops — the plain-parquet commit layer —
and the latest-wins merge (``stores.LatestStore.merge``) that commits
through it.  The streaming maintainers exercise these through
foreachBatch; here each operation is pinned on its own.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from feature_store_healthcare_spark import tableops
from feature_store_healthcare_spark.stores import LatestStore


def _rows(spark, path):
    return {
        (r.k, r.v, r.ts)
        for r in spark.read.parquet(tableops.current_dir(path))
        .select("k", "v", "ts")
        .collect()
    }


def test_upsert_latest_wins_and_ts_guard(spark, tmp_path):
    """upsert = MERGE INTO with a newer-than guard: a late row older than
    the stored one LOSES; a newer row replaces; unseen keys insert."""
    state = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k long, v string, ts long"
    )
    LatestStore(spark, state).merge(base, ["k"], "ts")
    assert _rows(spark, state) == {(1, "a", 10), (2, "b", 10)}
    batch = spark.createDataFrame(
        [(1, "late", 5), (2, "newer", 20), (3, "new", 1)],
        "k long, v string, ts long",
    )
    LatestStore(spark, state).merge(batch, ["k"], "ts")
    assert _rows(spark, state) == {(1, "a", 10), (2, "newer", 20), (3, "new", 1)}
    # replay-idempotent: re-applying the same batch changes nothing
    LatestStore(spark, state).merge(batch, ["k"], "ts")
    assert _rows(spark, state) == {(1, "a", 10), (2, "newer", 20), (3, "new", 1)}


def test_upsert_tiebreak_deterministic(spark, tmp_path):
    state = str(tmp_path / "state")
    batch = spark.createDataFrame(
        [(1, "x", 10, 1), (1, "y", 10, 2)], "k long, v string, ts long, seq long"
    )
    LatestStore(spark, state).merge(batch, ["k"], "ts", tiebreak=["seq"])
    got = spark.read.parquet(tableops.current_dir(state)).collect()
    assert len(got) == 1 and got[0].v == "y"  # higher seq wins the ts tie


def test_garbled_pointer_raises_instead_of_resetting(spark, tmp_path):
    """An unparsable ``_CURRENT`` is an error, not "never committed": the
    store must not read as empty, and a merge must not restart at
    ``v000001`` with only the new batch."""
    state = str(tmp_path / "state")
    store = LatestStore(spark, state)
    schema = "k long, v string, ts long"
    store.merge(spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema), ["k"], "ts")
    store.merge(spark.createDataFrame([(3, "c", 1)], schema), ["k"], "ts")
    assert store.read().count() == 3
    with open(os.path.join(state, "_CURRENT"), "w"):
        pass  # emptied pointer
    for call in (
        store.read,
        lambda: store.merge(spark.createDataFrame([(4, "d", 1)], schema), ["k"], "ts"),
        lambda: LatestStore(spark, state).read(),
    ):
        with pytest.raises(ValueError, match="_CURRENT"):
            call()
    assert store.versions() == [2]


def test_merge_fold_first_and_subsequent_commits(spark, tmp_path):
    state = str(tmp_path / "agg")

    def fold(existing, batch):
        b = batch.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        if existing is None:
            return b
        return (
            existing.unionByName(b)
            .groupBy("k")
            .agg(F.sum("n").alias("n"))
        )

    b1 = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    tableops.merge_fold(b1, state, fold)
    current = tableops.current_dir(state)
    assert {(r.k, r.n) for r in spark.read.parquet(current).collect()} == {
        (1, 2), (2, 1)
    }
    b2 = spark.createDataFrame([(2,), (3,)], "k long")
    tableops.merge_fold(b2, state, fold, marker={"txn_id": "t", "batch_id": 4})
    current = tableops.current_dir(state)
    assert {(r.k, r.n) for r in spark.read.parquet(current).collect()} == {
        (1, 2), (2, 2), (3, 1)
    }
    # the marker committed atomically inside the state dir
    mark = tableops.read_batch_marker(os.path.join(current, "_applied.json"))
    assert mark == {"txn_id": "t", "batch_id": 4}


def test_append_is_blind_and_additive(spark, tmp_path):
    path = str(tmp_path / "log")
    tableops.append(spark.createDataFrame([(1,)], "k long"), path)
    tableops.append(spark.createDataFrame([(2,)], "k long"), path)
    assert {r.k for r in spark.read.parquet(path).collect()} == {1, 2}


#: the only directory moves and deletes outside tableops, each with its
#: reason: (module, call) -> why it is not a commit of stored state
_FILE_OPS_ALLOWED = {
    # the temp directory holding the package zip shipped to executors
    ("queries.py", "shutil.rmtree"): "_PKG_ZIP temp cleanup",
    # the band index's family stamp travels with a compacted table
    ("stores.py", "os.replace"): "compact_bucketed's sidecar move",
    # the family stamp itself, written tmp-then-rename
    ("operators/dedup.py", "os.replace"): "band-family marker write",
}


def test_tableops_owns_directory_moves():
    """tableops owns all marker/lease/swap file I/O: no other module of
    the package moves or deletes files itself, beyond the three listed
    exceptions."""
    import re
    from pathlib import Path

    pkg = Path(tableops.__file__).parent
    pattern = re.compile(r"\b(shutil\.move|shutil\.rmtree|os\.replace)\b")
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "tableops.py":
            continue
        for call in pattern.findall(path.read_text()):
            found.add((rel, call))
    assert found - set(_FILE_OPS_ALLOWED) == set()
    # an exception whose call is gone must leave the list too
    assert set(_FILE_OPS_ALLOWED) - found == set()
