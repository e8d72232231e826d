"""Versioned commits of the stored IVF, PCA and DSIR indexes, of the
streaming CDC state and of an append-only log's maintenance rewrites.

Each root holds ``vNNNNNN/`` directories behind one ``_CURRENT`` pointer
(``tableops.write_version``).  A build, merge or rewrite that fails
before its pointer flip must leave the previous version serving exactly:
the same loaded model and the same rows.  Crashes are injected at the
parquet write of one part, or at the flip itself.  (The rollup fold's
crash test runs a stream: ``tests/test_streaming.py``.)
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from feature_store_healthcare_spark import maintenance, queries, tableops
from feature_store_healthcare_spark.operators import sampling, similarity
from feature_store_healthcare_spark.sources import load_table
from feature_store_healthcare_spark.stores import AppendStore, LatestStore
from feature_store_healthcare_spark.streaming import read_cdc_state

class InjectedCrash(RuntimeError):
    pass


def _crash_at_write(m, fragment: str, after_write: bool = False) -> None:
    """Make every parquet write whose target contains ``fragment`` raise —
    before the write, or after it landed (a crash between that write and
    whatever the caller does next)."""
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if fragment in str(path):
            if after_write:
                real(self, path, *args, **kwargs)
            raise InjectedCrash(f"crash at write of {path}")
        return real(self, path, *args, **kwargs)

    m.setattr(DataFrameWriter, "parquet", parquet)


def _crash_at_flip(m) -> None:
    def flip(pointer_path, value):
        raise InjectedCrash("crash before the pointer flip")

    m.setattr(tableops, "flip_pointer", flip)


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")  # 500 vectors


@pytest.fixture(scope="module")
def queries_batch(emb):
    return emb.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_ivf_crash_keeps_previous_version(
    spark, emb, queries_batch, tmp_path, monkeypatch
):
    path = str(tmp_path / "ivf")
    cents = similarity.build_ivf_index(
        emb.where(F.col("vec_id") % 2 == 0), path, n_centroids=8
    )

    def probe():
        return _rows(
            similarity.ivf_topk_from_index(spark, path, queries_batch, k=5, nprobe=4)
        )

    before = probe()
    # rebuild over the full corpus dies at the centroid write: the new
    # lists must not be served beside the old centroids
    with monkeypatch.context() as m:
        _crash_at_write(m, "centroids")
        with pytest.raises(InjectedCrash):
            similarity.build_ivf_index(emb, path, n_centroids=8)
    assert similarity.load_ivf_centroids(spark, path) == sorted(cents)
    assert probe() == before

    similarity.append_ivf_index(emb.where(F.col("vec_id") % 2 == 1), path)
    grown = probe()
    with monkeypatch.context() as m:
        _crash_at_flip(m)
        with pytest.raises(InjectedCrash):
            similarity.compact_ivf_index(spark, path)
    assert probe() == grown
    # the failed compaction released its lease and its orphan directory
    # does not block the next one
    similarity.compact_ivf_index(spark, path)
    assert probe() == grown
    assert similarity.load_ivf_centroids(spark, path) == sorted(cents)
    # retention: the current version and the one before it
    assert tableops.versions(path) == [1, 2]
    assert tableops.current_version(path) == 2


def test_pca_crash_keeps_previous_version(
    spark, emb, queries_batch, tmp_path, monkeypatch
):
    path = str(tmp_path / "pca")
    comps, mean = similarity.build_pca_index(
        emb.where(F.col("vec_id") % 2 == 0), path, pca_dim=8
    )

    def probe():
        return _rows(
            similarity.pca_topk_from_index(
                spark, path, queries_batch, k=5, rerank_factor=4
            )
        )

    def assert_model_unchanged():
        lc, lm = similarity.load_pca_model(spark, path)
        np.testing.assert_array_equal(lc, comps)
        np.testing.assert_array_equal(lm, mean)

    before = probe()
    with monkeypatch.context() as m:
        _crash_at_write(m, "model")
        with pytest.raises(InjectedCrash):
            similarity.build_pca_index(emb, path, pca_dim=8)
    assert_model_unchanged()
    assert probe() == before

    similarity.append_pca_index(emb.where(F.col("vec_id") % 2 == 1), path)
    grown = probe()
    with monkeypatch.context() as m:
        _crash_at_flip(m)
        with pytest.raises(InjectedCrash):
            similarity.compact_pca_index(spark, path, n_files=2)
    assert_model_unchanged()
    assert probe() == grown
    similarity.compact_pca_index(spark, path, n_files=2)
    assert_model_unchanged()
    assert probe() == grown


def test_dsir_crash_keeps_previous_version(spark, sf_dir, tmp_path, monkeypatch):
    docs = load_table(spark, sf_dir, "documents")
    tgt = F.col("lang") == "en"
    delta = docs.where(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "dsir")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    sampling.build_dsir_dist(corpus, "text", tgt, path)

    def score():
        return _rows(sampling.dsir_score_from_dist(delta, path, "doc_id", "text"))

    before = score()
    # the rebuild's counts land in the new version directory, then the
    # build dies before its flip
    with monkeypatch.context() as m:
        _crash_at_write(m, path, after_write=True)
        with pytest.raises(InjectedCrash):
            sampling.build_dsir_dist(delta, "text", tgt, path)
    assert score() == before

    sampling.append_dsir_dist(delta, "text", tgt, path)
    grown = score()
    single_pass = sampling.dsir_logratio_weights(docs, "doc_id", "text", tgt)
    assert grown == _rows(single_pass.where(F.col("doc_id") % 5 == 0))
    with monkeypatch.context() as m:
        _crash_at_flip(m)
        with pytest.raises(InjectedCrash):
            sampling.compact_dsir_dist(spark, path)
    assert score() == grown
    sampling.compact_dsir_dist(spark, path)
    assert score() == grown
    # compaction folded the per-batch rows to one row per dim
    folded = spark.read.parquet(tableops.current_dir(path))
    assert folded.count() == folded.select("dim").distinct().count()


def test_dsir_append_to_never_built_root_writes_nothing(spark, sf_dir, tmp_path):
    ghost = str(tmp_path / "ghost")
    with pytest.raises(FileNotFoundError):
        sampling.append_dsir_dist(
            load_table(spark, sf_dir, "documents"), "text", F.lit(True), ghost
        )
    assert not os.path.exists(ghost)


def test_one_memo_distinct_ivf_parameters(spark, sf_dir):
    ivf16 = queries._stored_ivf(spark, sf_dir, 16)
    ivf64 = queries._stored_ivf(spark, sf_dir, 64)
    assert ivf16[0] != ivf64[0]
    assert (len(ivf16[1]), len(ivf64[1])) == (16, 64)
    # a repeat request is served from the memo, not rebuilt
    assert queries._stored_ivf(spark, sf_dir, 16) is ivf16
    app = spark.sparkContext.applicationId
    assert queries._STORED_INDEXES[(app, sf_dir, "ivf16")] is ivf16
    assert queries._STORED_INDEXES[(app, sf_dir, "ivf64")] is ivf64


def _crashes_keep_rows(monkeypatch, commit, read, new_dir: str) -> None:
    """``commit()`` crashes once after its write into ``new_dir`` landed
    and once at the flip; each time ``read()`` is unchanged."""
    before = read()
    for crash in (lambda m: _crash_at_write(m, new_dir, after_write=True), _crash_at_flip):
        with monkeypatch.context() as m:
            crash(m)
            with pytest.raises(InjectedCrash):
                commit()
        assert read() == before


def test_cdc_upsert_crash_keeps_previous_version(spark, tmp_path, monkeypatch):
    state = str(tmp_path / "cdc")
    schema = "k long, v string, ts long, op string"
    base = spark.createDataFrame([(1, "a", 10, "U"), (2, "b", 10, "U")], schema)
    LatestStore(spark, state).merge(base, ["k"], "ts")
    batch = spark.createDataFrame(
        [(1, "x", 20, "U"), (2, "b", 30, "D"), (3, "c", 5, "U")], schema
    )

    def live():
        return _rows(read_cdc_state(spark, state).select("k", "v", "ts"))

    _crashes_keep_rows(
        monkeypatch,
        lambda: LatestStore(spark, state).merge(batch, ["k"], "ts"),
        live,
        "v000002",
    )
    assert live() == [(1, "a", 10), (2, "b", 10)]
    LatestStore(spark, state).merge(batch, ["k"], "ts")
    assert live() == [(1, "x", 20), (3, "c", 5)]
    assert tableops.current_version(state) == 2


@pytest.mark.parametrize("rewrite", ["retention", "compact"])
def test_log_rewrite_crash_keeps_previous_version(
    spark, tmp_path, monkeypatch, rewrite
):
    from datetime import datetime

    store = AppendStore(spark, str(tmp_path / "log"), partition_by=["day"])
    rows = [
        ("f_short" if i % 4 == 0 else "f_long", f"e{i}", datetime(2024, 5, 20), i % 2)
        for i in range(12)
    ]
    schema = "feature_id string, entity_id string, event_timestamp timestamp_ntz, day int"
    store.append(spark.createDataFrame(rows[:6], schema))
    store.append(spark.createDataFrame(rows[6:], schema))
    registry = spark.createDataFrame([("f_short", 0)], "feature_id string, retention_days int")
    now = datetime(2024, 6, 1)

    def run():
        if rewrite == "retention":
            assert maintenance.apply_retention(store, registry, now=now) == 3
        else:
            maintenance.compact(store, target_partitions=1)

    def read():
        return _rows(store.read().select("entity_id", "day"))

    _crashes_keep_rows(monkeypatch, run, read, "v000002")
    assert len(read()) == 12
    run()  # the failed rewrites released the lease
    want = 9 if rewrite == "retention" else 12
    assert len(read()) == want
    parts = os.listdir(tableops.current_dir(store.path))
    assert sorted(p for p in parts if not p.startswith(("_", "."))) == [
        "day=0", "day=1"
    ]
