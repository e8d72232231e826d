"""Gram/covariance/PCA over embedding columns (similarity.gram_matrix,
pca_fit, pca_project) — pinned against direct numpy on the same data."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import Row

from feature_store_healthcare_spark import tableops
from feature_store_healthcare_spark.operators.similarity import (
    gram_matrix,
    pca_fit,
    pca_project,
)

DIM = 16
N = 400


@pytest.fixture(scope="module")
def xdata():
    rng = np.random.default_rng(7)
    # anisotropic data so PCA has a clear spectrum
    scales = np.linspace(4.0, 0.1, DIM)
    return (rng.normal(size=(N, DIM)) * scales).astype(np.float32)


@pytest.fixture(scope="module")
def xdf(spark, xdata):
    rows = [Row(vec_id=i, embedding=[float(v) for v in x]) for i, x in enumerate(xdata)]
    return spark.createDataFrame(rows).repartition(7)


def test_gram_matches_numpy(xdf, xdata):
    g, s, n = gram_matrix(xdf, "embedding", DIM)
    x = xdata.astype(np.float64)
    assert n == N
    np.testing.assert_allclose(g, x.T @ x, rtol=1e-9)
    np.testing.assert_allclose(s, x.sum(axis=0), rtol=1e-9)


def test_pca_fit_matches_numpy(xdf, xdata):
    comps, var, mean = pca_fit(xdf, "embedding", DIM, k=4)
    x = xdata.astype(np.float64)
    np.testing.assert_allclose(mean, x.mean(axis=0), rtol=1e-9, atol=1e-12)
    cov = np.cov(x, rowvar=False)
    w = np.sort(np.linalg.eigvalsh(cov))[::-1][:4]
    np.testing.assert_allclose(var, w, rtol=1e-7)
    # components are orthonormal eigenvectors of cov
    np.testing.assert_allclose(comps @ comps.T, np.eye(4), atol=1e-9)
    for c, lam in zip(comps, var):
        np.testing.assert_allclose(cov @ c, lam * c, atol=1e-7)


def test_pca_project_matches_numpy(xdf, xdata):
    comps, _, mean = pca_fit(xdf, "embedding", DIM, k=3)
    out = {
        r["vec_id"]: np.asarray(r["pca"])
        for r in pca_project(xdf, comps, mean).select("vec_id", "pca").collect()
    }
    x = xdata.astype(np.float64)
    want = (x - mean) @ comps.T
    got = np.asarray([out[i] for i in range(N)])
    np.testing.assert_allclose(got, want, atol=1e-9)
    # projection preserves centered variance along components
    np.testing.assert_allclose(
        got.var(axis=0, ddof=1),
        np.sort(np.linalg.eigvalsh(np.cov(x, rowvar=False)))[::-1][:3],
        rtol=1e-7,
    )


def test_pca_sign_deterministic(xdf):
    c1, _, _ = pca_fit(xdf, "embedding", DIM, k=4)
    c2, _, _ = pca_fit(xdf.repartition(3), "embedding", DIM, k=4)
    np.testing.assert_allclose(c1, c2, atol=1e-9)
    for c in c1:
        assert c[np.argmax(np.abs(c))] > 0


def test_pca_topk_recall_vs_exact(spark):
    """Two-stage PCA ANN on the driver embeddings: recall@5 vs the exact
    brute-force path must be high — PCA keeps most variance of the 64-dim
    synthetic vectors (the worst case: near-flat spectrum, 65% variance
    in 32/64 dims) must still be high with an 8× re-rank pool."""
    from pyspark.sql import functions as F

    from feature_store_healthcare_spark.operators import similarity
    from feature_store_healthcare_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(q, emb, k=5)
    approx = similarity.pca_topk(q, emb, k=5, pca_dim=32, rerank_factor=8)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert e, "exact result empty"
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"PCA-ANN recall {recall:.2f} too low"
    # re-ranked scores are EXACT cosines: any overlapping pair agrees
    ex = {(r.query_id, r.vec_id): r.cosine for r in exact.collect()}
    ap = {(r.query_id, r.vec_id): r.cosine for r in approx.collect()}
    for key in set(ex) & set(ap):
        assert abs(ex[key] - ap[key]) < 1e-12


def test_pca_stored_index_roundtrip(spark, tmp_path):
    """build_pca_index → load_pca_model round-trips the fitted model
    bit-exactly (parquet doubles are lossless), and pca_topk_from_index
    equals the in-session pca_topk with the same model at the SAME
    production rerank_factor — the store/load/probe plumbing adds no
    numeric or ordering delta."""
    from pyspark.sql import functions as F

    from feature_store_healthcare_spark.operators import similarity
    from feature_store_healthcare_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "pca_idx")
    comps, mean = similarity.build_pca_index(emb, path, pca_dim=32)
    lc, lm = similarity.load_pca_model(spark, path)
    np.testing.assert_array_equal(lc, comps)
    np.testing.assert_array_equal(lm, mean)

    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    live = similarity.pca_topk(
        q, emb, k=5, pca_dim=32, rerank_factor=8, components=comps, mean=mean
    ).collect()
    stored = similarity.pca_topk_from_index(
        spark, path, q, k=5, rerank_factor=8
    ).collect()
    assert sorted(map(tuple, stored)) == sorted(map(tuple, live))


def test_pca_append_equals_rebuild(spark, tmp_path):
    """append_pca_index projects the delta with the STORED model, so the
    grown index is bit-identical to projecting the full corpus with the
    original model — every probe result matches exactly (the IVF append
    contract, PCA half)."""
    from pyspark.sql import functions as F

    from feature_store_healthcare_spark.operators import similarity
    from feature_store_healthcare_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.where(F.col("vec_id") % 5 != 0)
    delta = emb.where(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "pca_grow")
    comps, mean = similarity.build_pca_index(base, path, pca_dim=32)
    similarity.append_pca_index(delta, path)

    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    grown = similarity.pca_topk_from_index(
        spark, path, q, k=5, rerank_factor=8
    ).collect()
    # full reprojection with the ORIGINAL (base-fitted) model
    proj = similarity.pca_project(emb, comps, mean, out_col="__p").select(
        F.col("vec_id").alias("__cid"), "__p", "embedding"
    )
    full = similarity.pca_topk(
        q, emb, k=5, pca_dim=32, rerank_factor=8,
        components=comps, mean=mean, projected_corpus=proj,
    ).collect()
    assert sorted(map(tuple, grown)) == sorted(map(tuple, full))


def test_pca_append_missing_index_fails_fast(spark, tmp_path):
    from feature_store_healthcare_spark.operators import similarity
    from feature_store_healthcare_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(Exception):
        similarity.append_pca_index(emb, str(tmp_path / "never_built"))


def test_pca_stored_recall_vs_exact(spark, tmp_path):
    """The catalog `embedding_pca_stored` configuration (stored index,
    k=10, rerank_factor=8) recall-pinned vs the exact scorer — the same
    bracket `hybrid_rrf_ivf_stored` carries for its nprobe cut."""
    from pyspark.sql import functions as F

    from feature_store_healthcare_spark.operators import similarity
    from feature_store_healthcare_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "pca_recall")
    similarity.build_pca_index(emb, path, pca_dim=32)
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(q, emb, k=5)
    approx = similarity.pca_topk_from_index(spark, path, q, k=5, rerank_factor=8)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert e, "exact result empty"
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"stored PCA-ANN recall {recall:.2f} too low"


def test_pca_blas_probe_matches_expression_path(spark, tmp_path):
    """pca_topk_from_index_blas at an exhaustive coarse cut returns the
    same (query, candidate) sets and ~1-ulp-equal cosines as the
    expression path — the cosine_topk_blas equivalence contract, stored-PCA
    half.  At the production rerank_factor it is recall-pinned instead
    (batch-boundary coarse ties may differ)."""
    from pyspark.sql import functions as F

    from feature_store_healthcare_spark.operators import similarity
    from feature_store_healthcare_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    path = str(tmp_path / "pca_blas")
    similarity.build_pca_index(emb, path, pca_dim=32)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rf = (n // 5) + 1  # k·rf ≥ corpus: coarse cut keeps everything
    expr = similarity.pca_topk_from_index(spark, path, q, k=5, rerank_factor=rf)
    blas = similarity.pca_topk_from_index_blas(
        spark, path, q, k=5, rerank_factor=rf
    )
    e = {(r.query_id, r.vec_id): (r.rank, r.cosine) for r in expr.collect()}
    b = {(r.query_id, r.vec_id): (r.rank, r.cosine) for r in blas.collect()}
    assert set(e) == set(b) and e
    for key in e:
        assert e[key][0] == b[key][0]
        assert abs(e[key][1] - b[key][1]) < 1e-9

    # production config: recall-pinned vs exact
    exact = similarity.cosine_topk(q, emb, k=5)
    approx = similarity.pca_topk_from_index_blas(
        spark, path, q, k=5, rerank_factor=8
    )
    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    ap = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert len(ex & ap) / len(ex) >= 0.8


def test_pca_blas_probe_bounds_query_side(spark, tmp_path):
    from pyspark.sql import functions as F

    from feature_store_healthcare_spark.operators import similarity
    from feature_store_healthcare_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "pca_bound")
    similarity.build_pca_index(emb, path, pca_dim=32)
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.pca_topk_from_index_blas(
            spark, path, q, k=5, max_query_rows=10
        )


def test_pca_topk_reusable_index(spark):
    from pyspark.sql import functions as F

    from feature_store_healthcare_spark.operators import similarity
    from feature_store_healthcare_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    comps, _, mean = similarity.pca_fit(emb, "embedding", dim=64, k=32)
    proj = similarity.pca_project(
        emb, comps, mean, emb_col="embedding", out_col="__p"
    ).select(F.col("vec_id").alias("__cid"), "__p", "embedding")
    a = similarity.pca_topk(q, emb, k=5, pca_dim=32).collect()
    b = similarity.pca_topk(
        q, emb, k=5, pca_dim=32, components=comps, mean=mean,
        projected_corpus=proj,
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pca_compact_preserves_probes_and_model(spark, tmp_path):
    """compact_pca_index rewrites an append-grown index to few files in a
    new version with identical probe results and carries the model into
    it."""
    from pyspark.sql import functions as F

    from feature_store_healthcare_spark.operators import similarity
    from feature_store_healthcare_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    path = str(tmp_path / "pca_c")
    similarity.build_pca_index(base, path, pca_dim=32)
    for m in (0, 1, 2):  # three appends → many files
        similarity.append_pca_index(
            emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 9 == 3 * m)),
            path,
        )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = similarity.pca_topk_from_index(spark, path, q, k=5).collect()

    oc, om = similarity.load_pca_model(spark, path)
    similarity.compact_pca_index(spark, path, n_files=2)
    after = similarity.pca_topk_from_index(spark, path, q, k=5).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    lc, lm = similarity.load_pca_model(spark, path)
    np.testing.assert_array_equal(lc, oc)
    np.testing.assert_array_equal(lm, om)


def test_pca_stored_norm_column_used(spark, tmp_path):
    """The stored index carries the build-time __n norm column and the
    probe reads it instead of recomputing (plan should contain no
    corpus-side POWER/SQRT chain over `embedding` — cheap proxy: results
    equal the live path bit-exactly, and __n exists in the index)."""
    from pyspark.sql import functions as F

    from feature_store_healthcare_spark.operators import similarity
    from feature_store_healthcare_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "pca_n")
    comps, mean = similarity.build_pca_index(emb, path, pca_dim=32)
    rows = os.path.join(tableops.current_dir(path), "rows")
    assert "__n" in spark.read.parquet(rows).columns
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    stored = similarity.pca_topk_from_index(
        spark, path, q, k=5, rerank_factor=8
    ).collect()
    live = similarity.pca_topk(
        q, emb, k=5, pca_dim=32, rerank_factor=8, components=comps, mean=mean
    ).collect()
    assert sorted(map(tuple, stored)) == sorted(map(tuple, live))
