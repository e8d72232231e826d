"""Session-lifecycle cache policy (caching.PlanCache) across operators.

Round-6 VERDICT finding #1: five per-call ``persist()`` sites in
dedup/similarity leaked one cached corpus/delta-sized table per call in a
long-lived ingest session.  Round 7 unifies them on the one-entry
PlanCache the bm25 fix pioneered; these tests pin the contract the verdict
asked for — a second call unpersists the first call's blocks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feature_store_healthcare_spark.caching import PlanCache, data_version
from feature_store_healthcare_spark.operators import dedup, similarity


def _n_cached(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


@pytest.fixture()
def clean_caches(spark):
    dedup.release_dedup_caches(blocking=True)
    similarity.release_similarity_caches(blocking=True)
    yield
    dedup.release_dedup_caches(blocking=True)
    similarity.release_similarity_caches(blocking=True)


def test_plan_cache_reuse_swap_release(spark):
    c = PlanCache("t")
    a = spark.range(10).selectExpr("id", "id * 2 AS x")
    same = spark.range(10).selectExpr("id", "id * 2 AS x")
    other = spark.range(12).selectExpr("id", "id * 2 AS x")
    cached = c.get_or_persist(a)
    # semantically-equal plan (different Python/JVM object): reused
    assert c.get_or_persist(same) is cached
    base = _n_cached(spark)
    cached.count()
    assert _n_cached(spark) == base + 1
    # different plan: predecessor released, new entry admitted
    swapped = c.get_or_persist(other)
    assert swapped is not cached
    swapped.count()
    assert _n_cached(spark) == base + 1  # one entry, ever
    c.release(blocking=True)
    assert _n_cached(spark) == base
    c.release(blocking=True)  # idempotent
    assert c.peek() is None


def test_plan_cache_version_token_swaps(spark):
    """Same PLAN, different version token ⇒ miss: sameResult can't see a
    path that gained files, so the version component must demote the hit
    and release the stale rows (round-7 review finding #2)."""
    c = PlanCache("t")
    a = spark.range(10).selectExpr("id", "id * 2 AS x")
    same = spark.range(10).selectExpr("id", "id * 2 AS x")
    v1 = c.get_or_persist(a, version=1)
    assert c.get_or_persist(same, version=1) is v1  # same version: reused
    base = _n_cached(spark)
    v1.count()
    assert _n_cached(spark) == base + 1
    v2 = c.get_or_persist(same, version=2)  # grown input: swapped
    assert v2 is not v1
    v2.count()
    assert _n_cached(spark) == base + 1  # predecessor released, not stacked
    c.release(blocking=True)
    assert _n_cached(spark) == base


def test_plan_cache_repersists_after_external_eviction(spark):
    """spark.catalog.clearCache() unpersists every entry behind the
    cache's back; a hit must detect the evicted storage level and
    re-persist instead of serving an unpersisted frame forever — any
    caller that clears the session cache between runs (a timing harness
    does) must not leave operators serving evicted frames."""
    c = PlanCache("t")
    a = spark.range(10).selectExpr("id", "id * 3 AS x")
    same = spark.range(10).selectExpr("id", "id * 3 AS x")
    first = c.get_or_persist(a)
    first.count()
    spark.catalog.clearCache()
    base = _n_cached(spark)
    again = c.get_or_persist(same)
    assert again is not first  # evicted entry detected, not served
    sl = again.storageLevel
    assert sl.useMemory or sl.useDisk  # compute-once guarantee restored
    again.count()
    assert _n_cached(spark) == base + 1
    c.release(blocking=True)


def test_bounded_memo_caps_and_release_clears(spark):
    """The tripwire memos mint one key per (plan, data-version) — an
    ingest loop adds one per batch forever without a cap.  BoundedMemo
    evicts oldest-first at maxsize, and the release hooks clear the
    module memos along with the plan caches."""
    from feature_store_healthcare_spark.caching import BoundedMemo

    m = BoundedMemo(maxsize=3)
    for i in range(5):
        m[i] = i * 10
    assert len(m) == 3 and list(m) == [2, 3, 4]  # oldest two evicted
    m[2] = 99  # updating an existing key evicts nothing
    assert list(m) == [2, 3, 4] and m[2] == 99
    dedup._JACCARD_GUARD_MEMO[(1, 2)] = 5.0
    similarity._COSINE_GUARD_MEMO[(3, 4)] = 7
    dedup.release_dedup_caches()
    similarity.release_similarity_caches()
    assert not dedup._JACCARD_GUARD_MEMO and not similarity._COSINE_GUARD_MEMO


def test_data_version_cheap_tier_tracks_growth(spark, tmp_path, monkeypatch):
    """Above the file-count threshold data_version switches to the O(1)
    (n_files, total bytes) token — paths never ship through py4j (minutes
    per call at a 100 TB table's ~1M files) — and the cheap token still
    changes on append and stays stable across identical re-reads."""
    from feature_store_healthcare_spark import caching

    path = str(tmp_path / "many")
    spark.range(100).repartition(4).write.parquet(path)
    monkeypatch.setattr(caching, "_EXACT_VERSION_MAX_FILES", 2)
    v1 = caching.data_version(spark.read.parquet(path))
    assert caching.data_version(spark.read.parquet(path)) == v1  # stable
    spark.range(5).write.mode("append").parquet(path)
    v2 = caching.data_version(spark.read.parquet(path))
    assert v2 != v1  # append seen without any path transfer
    # below the threshold the exact path hash is unchanged behavior
    monkeypatch.setattr(caching, "_EXACT_VERSION_MAX_FILES", 1024)
    assert caching.data_version(spark.read.parquet(path)) == hash(
        tuple(sorted(spark.read.parquet(path).inputFiles()))
    )


@pytest.fixture(scope="module")
def docs_a(spark):
    rows = [(i, f"alpha beta gamma delta token{i} epsilon zeta") for i in range(20)]
    return spark.createDataFrame(rows, "doc_id int, text string")


@pytest.fixture(scope="module")
def docs_b(spark):
    rows = [(i, f"one two three four item{i} five six") for i in range(20)]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_dedup_cache_lifecycle_one_entry(spark, docs_a, docs_b, clean_caches):
    """A second different-corpus call releases the first call's cached band
    table; a same-corpus call reuses it; release_dedup_caches drops all."""
    base = _n_cached(spark)
    dedup.minhash_lsh_pairs(docs_a, "doc_id", "text").collect()
    assert _n_cached(spark) == base + 1
    first = dedup._BAND_CACHE.peek()
    dedup.minhash_lsh_pairs(docs_a, "doc_id", "text").collect()
    assert dedup._BAND_CACHE.peek() is first  # same corpus: reused
    dedup.minhash_lsh_pairs(docs_b, "doc_id", "text").collect()
    assert dedup._BAND_CACHE.peek() is not first  # swapped, not stacked
    assert _n_cached(spark) == base + 1
    dedup.release_dedup_caches(blocking=True)
    assert _n_cached(spark) == base


def test_cross_delta_cache_lifecycle(spark, docs_a, docs_b, clean_caches):
    """ADVICE r6 #1: the auto-sized incremental probe's persisted delta
    band table is released by the next batch's call — a daily ingest loop
    holds ONE delta cache, ever."""
    base = _n_cached(spark)
    corpus = docs_a
    d1 = docs_b.where(F.col("doc_id") < 10)
    d2 = docs_b.where(F.col("doc_id") >= 10)
    dedup.minhash_lsh_pairs_cross(d1, corpus, "doc_id", "text").collect()
    assert _n_cached(spark) == base + 1
    dedup.minhash_lsh_pairs_cross(d2, corpus, "doc_id", "text").collect()
    assert _n_cached(spark) == base + 1  # predecessor delta released
    # pinned strategies bypass the cache entirely (no persist at all)
    dedup.release_dedup_caches(blocking=True)
    dedup.minhash_lsh_pairs_cross(
        d1, corpus, "doc_id", "text", broadcast_delta=True
    ).collect()
    assert _n_cached(spark) == base


def test_simhash_and_jaccard_caches_release(spark, docs_a, docs_b, clean_caches):
    base = _n_cached(spark)
    dedup.simhash_pairs(docs_a, "doc_id", "text").collect()
    dedup.ngram_jaccard_pairs(docs_a, "doc_id", "text", n=2).collect()
    assert _n_cached(spark) == base + 2  # one chunk table + one shingle table
    dedup.simhash_pairs(docs_b, "doc_id", "text").collect()
    dedup.ngram_jaccard_pairs(docs_b, "doc_id", "text", n=2).collect()
    assert _n_cached(spark) == base + 2  # swapped, not stacked
    dedup.release_dedup_caches(blocking=True)
    assert _n_cached(spark) == base


def test_embedding_near_dup_cache_lifecycle(spark, clean_caches):
    a = spark.createDataFrame(
        [(1, [1.0, 0.01]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(7, [0.5, 0.5]), (8, [0.5, 0.49])],
        "vec_id long, embedding array<double>",
    )
    base = _n_cached(spark)
    similarity.embedding_near_dup_pairs(a, threshold=0.99, dim=2, n_planes=4).collect()
    assert _n_cached(spark) == base + 1
    first = similarity._NEAR_DUP_INDEX_CACHE.peek()
    similarity.embedding_near_dup_pairs(a, threshold=0.99, dim=2, n_planes=4).collect()
    assert similarity._NEAR_DUP_INDEX_CACHE.peek() is first
    similarity.embedding_near_dup_pairs(b, threshold=0.99, dim=2, n_planes=4).collect()
    assert _n_cached(spark) == base + 1  # swapped
    # caller-owned prebuilt index: operator must not touch the module cache
    similarity.release_similarity_caches(blocking=True)
    idx = similarity.lsh_bucket_corpus(a, dim=2, n_planes=4)
    similarity.embedding_near_dup_pairs(
        a, threshold=0.99, dim=2, n_planes=4, bucketed=idx
    ).collect()
    assert similarity._NEAR_DUP_INDEX_CACHE.peek() is None
    assert _n_cached(spark) == base


def test_pmi_basket_cache_lifecycle(spark):
    """cooccurrence_pmi's distinct (basket,item) table follows the module
    cache policy: one entry, swapped by a different-input call, dropped
    by release_graph_caches — and the cached form cuts the final plan
    from four corpus computations to InMemoryTableScans."""
    from feature_store_healthcare_spark.operators import graph

    graph.release_graph_caches(blocking=True)
    a = spark.createDataFrame(
        [("s1", "x"), ("s1", "y"), ("s2", "x"), ("s2", "y")], "b string, i string"
    )
    b = spark.createDataFrame(
        [("t1", "p"), ("t1", "q"), ("t2", "p")], "b string, i string"
    )
    base = _n_cached(spark)
    out = graph.cooccurrence_pmi(a, "b", "i")
    assert _n_cached(spark) == base + 1
    assert "InMemoryTableScan" in out._jdf.queryExecution().executedPlan().toString()
    first = graph._BASKET_CACHE.peek()
    graph.cooccurrence_pmi(a, "b", "i").collect()
    assert graph._BASKET_CACHE.peek() is first  # same input: reused
    graph.cooccurrence_pmi(b, "b", "i").collect()
    assert graph._BASKET_CACHE.peek() is not first  # swapped, not stacked
    assert _n_cached(spark) == base + 1
    graph.release_graph_caches(blocking=True)
    assert _n_cached(spark) == base


def test_jaccard_guard_memo_reestimates_on_growth(spark, tmp_path, clean_caches):
    """Round-6 VERDICT finding #2: the tripwire memo must not serve a stale
    estimate after the corpus grows under an unchanged plan — the memo key
    folds in the input-file version, so an appended path re-estimates.

    Deliberately NO release_dedup_caches between the calls: the version
    token threaded into _SHINGLE_CACHE must itself demote the stale
    cached shingle rows (round-7 review finding #2 — a re-estimate run
    over the PRE-growth cached rows would store the old estimate under
    the new key, and the returned pairs would be stale too)."""
    path = str(tmp_path / "docs")
    rows = [(i, "alpha beta gamma delta") for i in range(10)]
    spark.createDataFrame(rows, "doc_id int, text string").write.parquet(path)
    docs1 = spark.read.parquet(path)
    n_pairs1 = len(dedup.ngram_jaccard_pairs(docs1, "doc_id", "text", n=2).collect())
    sh1 = dedup.shingles(docs1, "doc_id", "text", n=2, size_col="__sz")
    # version comes from the INPUT scan (the cached shingle plan's own
    # inputFiles() is empty once persisted — see caching.data_version)
    key1 = (
        sh1._jdf.queryExecution().analyzed().semanticHash(),
        data_version(docs1),
    )
    est1 = dedup._JACCARD_GUARD_MEMO[key1][1]  # slot = (analyzed plan, est)
    stale_shingles = dedup._SHINGLE_CACHE.peek()
    # grow the corpus in place (the incremental loop's append pattern)
    more = [(i, "alpha beta gamma delta") for i in range(10, 40)]
    spark.createDataFrame(more, "doc_id int, text string").write.mode(
        "append"
    ).parquet(path)
    docs2 = spark.read.parquet(path)
    pairs2 = dedup.ngram_jaccard_pairs(docs2, "doc_id", "text", n=2).collect()
    # the version mismatch — not a manual release — swapped the cache, so
    # both the estimate and the RESULTS see the grown corpus
    assert dedup._SHINGLE_CACHE.peek() is not stale_shingles
    assert len(pairs2) == 40 * 39 // 2  # all-identical docs: every pair
    assert n_pairs1 == 10 * 9 // 2
    sh2 = dedup.shingles(docs2, "doc_id", "text", n=2, size_col="__sz")
    key2 = (
        sh2._jdf.queryExecution().analyzed().semanticHash(),
        data_version(docs2),
    )
    assert key2 != key1  # new file list ⇒ new memo key ⇒ re-estimated
    est2 = dedup._JACCARD_GUARD_MEMO[key2][1]
    assert est2 > est1 * 4  # 4x the docs on one hot shingle ⇒ ≳16x candidates


def test_cosine_guard_memo_reestimates_on_growth(spark, tmp_path, clean_caches):
    path = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(5)],
        "vec_id long, embedding array<double>",
    ).write.parquet(path)
    c1 = spark.read.parquet(path)
    similarity.cosine_pairs_exact(c1, threshold=1.1, dim=2).collect()
    k1 = (c1._jdf.queryExecution().analyzed().semanticHash(), data_version(c1))
    assert similarity._COSINE_GUARD_MEMO[k1] == 5
    spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(5, 15)],
        "vec_id long, embedding array<double>",
    ).write.mode("append").parquet(path)
    c2 = spark.read.parquet(path)
    similarity.cosine_pairs_exact(c2, threshold=1.1, dim=2).collect()
    k2 = (c2._jdf.queryExecution().analyzed().semanticHash(), data_version(c2))
    assert k2 != k1
    assert similarity._COSINE_GUARD_MEMO[k2] == 15  # re-counted, not stale


def test_no_bare_persist_outside_plan_cache():
    """Hygiene gate for the module cache policy (round-7 VERDICT ask #2):
    every ``persist()`` in non-test package source must go through
    ``caching.PlanCache.get_or_persist`` — EXCEPT the documented
    self-releasing loop sites, which unpersist their own frames before
    returning (connected-components' edge frontier and pagerank's
    e_deg/ranks).  A new bare per-call persist (the session-lifecycle
    leak class rounds 6-7 eliminated) fails here with its location."""
    import re
    from pathlib import Path

    import feature_store_healthcare_spark as pkg

    root = Path(pkg.__file__).parent
    # file → allowed number of persist call sites (self-releasing loops +
    # the PlanCache implementation itself)
    allowed = {
        "caching.py": 1,          # PlanCache.get_or_persist
        "operators/graph.py": 2,  # pagerank e_deg + flagged (deferred release: next call / release_graph_caches)
        "operators/dedup.py": 1,  # CC edge frontier (released in-loop)
    }
    offenders = []
    for f in sorted(root.rglob("*.py")):
        rel = str(f.relative_to(root))
        hits = [
            (i + 1, line.strip())
            for i, line in enumerate(f.read_text().splitlines())
            if re.search(r"\.persist\(", line)
        ]
        if len(hits) > allowed.get(rel, 0):
            offenders.append((rel, hits))
    assert not offenders, (
        "bare persist() outside caching.PlanCache (route through "
        f"get_or_persist or add a self-releasing allowlist entry): {offenders}"
    )


def test_drift_caches_lifecycle_one_entry(spark):
    """Round-8: drift's statistic frames (psi/ks edges, robust_outliers'
    median) moved from eager localCheckpoint to lazy PlanCache persist.
    Lifecycle contract: one cached entry per operator — a call on a NEW
    input releases the predecessor's blocks (the ADVICE scenario was a
    tight loop over many key sets accumulating checkpointed blobs until
    GC), and release_drift_caches drops everything eagerly."""
    from feature_store_healthcare_spark.operators import drift

    drift.release_drift_caches(blocking=True)
    base = _n_cached(spark)
    a = spark.createDataFrame(
        [("x", float(i)) for i in range(40)], "g string, value double"
    )
    b = spark.createDataFrame(
        [("x", float(i) + 0.5) for i in range(40)], "g string, value double"
    )
    drift.psi(a, b, ["g"], "value").collect()
    after_first = _n_cached(spark)
    assert after_first >= base + 1  # edges persisted (lazily, now materialized)
    # ten more calls over DIFFERENT expected windows: the one-entry cache
    # swaps, never accumulates
    for k in range(10):
        c = spark.createDataFrame(
            [(f"k{k}", float(i * (k + 2))) for i in range(40)],
            "g string, value double",
        )
        drift.psi(c, c, ["g"], "value").collect()
    assert _n_cached(spark) <= after_first
    drift.robust_outliers(a, ["g"], "value").collect()
    drift.release_drift_caches(blocking=True)
    assert _n_cached(spark) <= base


def test_release_local_checkpoint_frees_blocks(spark):
    """Round-10 ADVICE, verified empirically: Dataset.unpersist() does NOT
    free an eager localCheckpoint's storage (the blocks belong to the
    internal checkpointed RDD, which the CacheManager never sees);
    caching.release_local_checkpoint reaches the RDD through the
    LogicalRDD plan and frees them immediately."""
    from feature_store_healthcare_spark.caching import release_local_checkpoint

    base = _n_cached(spark)
    ck = spark.range(50_000).withColumn("x", F.col("id") * 2).localCheckpoint(
        eager=True
    )
    assert _n_cached(spark) == base + 1
    ck.unpersist(True)  # the documented no-op: blocks survive
    assert _n_cached(spark) == base + 1
    release_local_checkpoint(ck, blocking=True)
    assert _n_cached(spark) == base
    # best-effort contract: a non-checkpointed frame is a silent no-op
    release_local_checkpoint(spark.range(10))


def test_connected_components_bounds_checkpoint_storage(spark):
    """The CC loop's per-round release actually releases (the round-10
    comment claimed bounded storage via Dataset.unpersist, which was a
    no-op): after the call returns, at most the returned labels
    checkpoint remains beyond the baseline."""
    base = _n_cached(spark)
    # a 64-node path graph forces multiple label-propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    labels = dedup.connected_components(pairs)
    rows = labels.collect()
    assert {r.component for r in rows} == {0}
    # edges persisted+unpersisted, every superseded round released: only
    # the final checkpointed labels table may remain
    assert _n_cached(spark) <= base + 1
