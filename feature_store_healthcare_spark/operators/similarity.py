"""Similarity search over embedding columns (SURVEY.md OP-50; BASELINE.json:6).

Embeddings are ``array<float>`` columns (the reference's EMBEDDING value
type, feature_registry.py:42).  Two strategies:

- :func:`cosine_topk` — exact brute force.  Queries are broadcast (a query
  batch is small by construction); the corpus is scanned once, similarity is
  a JVM-side ``aggregate(zip_with(...))`` fold, and top-k per query is a
  partial-aggregatable ``max_by`` over k slots... implemented as a window
  over (query, corpus) pairs.  Cost: O(|Q|·|corpus|·dim) FLOPs streamed
  through codegen — the right baseline, and at 100 TB still the correct
  *verification* path for any ANN index.
- :func:`rp_lsh_topk` — approximate: random-hyperplane (sign) LSH.  Each
  vector gets a ``n_planes``-bit bucket id; candidates are corpus vectors in
  the same bucket (plus optional multiprobe neighbors at Hamming distance 1),
  then exact cosine re-ranks.  The bucket join is an equi-join on the bucket
  id → shuffle keys are hash-uniform, broadcast when the query side is small.

Embedding near-dup (OP-49 cosine variant) reuses the same machinery with a
similarity threshold instead of top-k.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from feature_store_healthcare_spark.caching import (
    BoundedMemo,
    PlanCache,
    data_version,
)
from feature_store_healthcare_spark.sqlgen import ident

#: One-entry cache for embedding_near_dup_pairs' inline-built LSH index
#: (same lifecycle policy as the dedup module's caches — see
#: caching.PlanCache and release_similarity_caches).
_NEAR_DUP_INDEX_CACHE = PlanCache("embedding_near_dup_pairs.index")


def release_similarity_caches(blocking: bool = False) -> None:
    """Drop this module's cached operator intermediates now (the inline
    near-dup LSH index) plus the tripwire memo — the eager-release hook
    for long-lived sessions."""
    _NEAR_DUP_INDEX_CACHE.release(blocking=blocking)
    _COSINE_GUARD_MEMO.clear()


def _dot(a: str, b: str, dim: int | None = None) -> Column:
    """Left-to-right sequential product sum of array columns ``a`` and
    ``b`` (names) — deterministic accumulation order, double precision.

    ``dim=None``: higher-order-function fold (works for any length, but
    Spark evaluates HOF lambdas interpreted — no codegen).  ``dim=n``:
    statically unrolled n-term sum — same arithmetic in the same order
    (bit-identical result), but a plain expression tree the codegen path
    can compile.  ~1.5-2× faster on 64-dim brute-force scans.  The
    unrolled tree is parsed from one SQL string: assembling it through
    the Column API measured ~1.5 s of py4j round trips per expression,
    the parsed text ~10 ms for the identical tree."""
    if dim is None:
        prods = F.zip_with(
            F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    sa, sb = ident(a), ident(b)
    return F.expr(
        " + ".join(
            f"(CAST({sa}[{i}] AS DOUBLE) * CAST({sb}[{i}] AS DOUBLE))"
            for i in range(dim)
        )
    )


def _norm(a: str, dim: int | None = None) -> Column:
    return F.sqrt(_dot(a, a, dim=dim))


def cosine_similarity(a: str, b: str, dim: int | None = None) -> Column:
    return _dot(a, b, dim=dim) / (_norm(a, dim=dim) * _norm(b, dim=dim))


def _salted_topk(
    df: DataFrame,
    key: str,
    order: list[Column],
    k: int,
    salt_src: str,
    n_salt: int = 32,
    rank_col: str = "rank",
) -> DataFrame:
    """Distributed per-key top-k: salt the key (hash of ``salt_src``) so
    the first row_number window sorts ``n_salt`` small partitions per key
    in parallel instead of one giant one, then a second window over the
    ≤ ``n_salt``·k survivors produces the exact global per-key top-k.
    Semantics identical to a single window given a total order (the
    caller's ``order`` must break ties deterministically).

    When to use: per-key row counts large enough that one key's sort is
    the stage straggler (≳10⁶ pairs/key — the 100 TB ANN candidate case).
    Below that the extra exchange costs more than the sort saves
    (measured at sf0.1: plain window 3.4 s vs salted 3.6 s on 5·10⁶
    pairs, 100 keys) — cosine_topk therefore keeps the single window."""
    salted = df.withColumn(
        "__salt", F.pmod(F.hash(F.col(salt_src)), F.lit(n_salt))
    )
    w1 = Window.partitionBy(key, "__salt").orderBy(*order)
    local = salted.withColumn("__r1", F.row_number().over(w1)).where(
        F.col("__r1") <= k
    )
    w2 = Window.partitionBy(key).orderBy(*order)
    return (
        local.withColumn(rank_col, F.row_number().over(w2))
        .where(F.col(rank_col) <= k)
        .drop("__salt", "__r1")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    dim: int | None = 64,
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query by cosine similarity.

    Output: (query_id, vec_id, cosine, rank) — ties broken by corpus id for
    determinism.  Norms are computed ONCE per vector before the pair join
    (O(|Q|+|C|) norm FLOPs instead of O(|Q|·|C|)); the per-pair work is one
    unrolled dot product in codegen.  Same expression order as the naive
    form → bit-identical scores.
    """
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qv")
    ).withColumn("__qn", _norm("__qv", dim=dim))
    c = corpus.select(
        F.col(corpus_id).alias("__cid"), F.col(corpus_vec).alias("__cv")
    ).withColumn("__cn", _norm("__cv", dim=dim))
    pairs = F.broadcast(q).crossJoin(c)
    if exclude_self:
        pairs = pairs.where(F.col("__qid") != F.col("__cid"))
    scored = pairs.withColumn(
        "cosine",
        _dot("__qv", "__cv", dim=dim) / (F.col("__qn") * F.col("__cn")),
    )
    # one per-query window: measured FASTER than the salted two-phase
    # top-k here (pair materialization dominates, the per-query sort does
    # not — see _salted_topk for when the opposite holds)
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-free gaussian hyperplanes (driver-side constants —
    data-independent, broadcast into the plan as literals)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _bucket_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id via an Arrow-vectorized numpy kernel.

    The plane matrix lives in the UDF closure, NOT in the expression tree —
    embedding k×dim constants as plan literals bloats the task binary to
    megabytes and blows past codegen limits (measured 5× slower than the
    interpreted HOF it replaced).  One batched (rows × dim) @ (dim × k)
    BLAS matmul per Arrow batch is both the fastest local path and the
    honest 100 TB shape: per-partition vectorized compute, zero shuffle."""
    P = np.array(planes, dtype=np.float64)  # k × dim
    weights = (1 << np.arange(P.shape[0], dtype=np.int64))

    @pandas_udf("long")
    def bucket(s: pd.Series) -> pd.Series:
        M = np.array(s.tolist(), dtype=np.float64)
        signs = (M @ P.T) >= 0
        return pd.Series((signs * weights[None, :]).sum(axis=1))

    return bucket(vec)


def rp_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH + exact re-rank.

    With ``multiprobe``, each query also probes the ``n_planes`` buckets at
    Hamming distance 1, trading ~(n_planes+1)× candidate volume for much
    better recall.  Scale path: the corpus is bucketed once (reusable,
    writable as a bucketed table partitioned by bucket id); per-query work
    touches only matching buckets instead of the full corpus.
    """
    planes = random_hyperplanes(dim, n_planes, seed)
    c = (
        corpus.select(F.col(corpus_id).alias("__cid"), F.col(corpus_vec).alias("__cv"))
        .withColumn("__cn", _norm("__cv", dim=dim))
        .withColumn("__bucket", _bucket_bits(F.col("__cv"), planes))
    )
    q = (
        queries.select(F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qv"))
        .withColumn("__qn", _norm("__qv", dim=dim))
        .withColumn("__qbucket", _bucket_bits(F.col("__qv"), planes))
    )
    if multiprobe:
        probes = F.array(
            F.col("__qbucket"),
            *[F.col("__qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
        q = q.select("__qid", "__qv", "__qn", F.explode(probes).alias("__qbucket"))
    cand = F.broadcast(q).join(c, on=F.col("__qbucket") == F.col("__bucket"))
    if exclude_self:
        cand = cand.where(F.col("__qid") != F.col("__cid"))
    scored = cand.withColumn(
        "cosine",
        _dot("__qv", "__cv", dim=dim) / (F.col("__qn") * F.col("__cn")),
    ).dropDuplicates(["__qid", "__cid"])
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def lsh_bucket_corpus(
    corpus: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Sign-LSH index build: (id, v, n, bucket) for every corpus vector.

    This is the reusable index — at scale it is written once as a bucketed
    table (bucketed/partitioned by ``bucket``) and served to every
    near-dup / topk query; locally, callers persist it across queries
    instead of re-running the bucket kernel per call."""
    planes = random_hyperplanes(dim, n_planes, seed)
    return (
        corpus.select(F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("v"))
        .withColumn("n", _norm("v", dim=dim))
        .withColumn("bucket", _bucket_bits(F.col("v"), planes))
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """OP-49 (embedding-cosine variant): pairs with cosine ≥ threshold,
    candidate-generated by shared LSH bucket (high-cosine pairs almost
    always share all sign bits; multiprobe of distance-1 buckets covers
    boundary cases).

    ``bucketed``: a prebuilt :func:`lsh_bucket_corpus` index (typically
    persisted / stored bucketed) — passing it skips the per-call bucket
    kernel entirely, and the caller owns its lifecycle.  Without it, the
    index is built inline and persisted (it feeds both sides of the
    self-join) under the module's one-entry cache: a repeat call on the
    same corpus reuses it, a different corpus releases it, and
    :func:`release_similarity_caches` drops it eagerly — Spark's cache
    eviction drops blocks under pressure but never unregisters entries,
    so an unmanaged per-call persist would leak one index per call."""
    base = bucketed if bucketed is not None else _NEAR_DUP_INDEX_CACHE.get_or_persist(
        lsh_bucket_corpus(
            corpus, dim=dim, n_planes=n_planes, seed=seed,
            corpus_id=corpus_id, corpus_vec=corpus_vec,
        ),
        version=data_version(corpus),
    )
    probes = base.select(
        "id",
        "v",
        "n",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
            )
        ).alias("bucket"),
    )
    l = base.alias("l")
    r = probes.alias("r")
    cand = (
        l.join(r, on=[F.col("l.bucket") == F.col("r.bucket"), F.col("l.id") < F.col("r.id")])
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.v").alias("va"),
            F.col("r.v").alias("vb"),
            F.col("l.n").alias("na"),
            F.col("r.n").alias("nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "cosine",
            _dot("va", "vb", dim=dim) / (F.col("na") * F.col("nb")),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


#: cosine_pairs_exact's tripwire memo: (corpus-plan semanticHash,
#: input-file version) → row count.  Same pattern as
#: dedup._JACCARD_GUARD_MEMO, including the file-version component that
#: forces a re-count when the same plan reads a grown path and the
#: BoundedMemo cap that keeps a per-batch-keyed ingest loop from growing
#: it forever (release_similarity_caches clears it eagerly).
_COSINE_GUARD_MEMO: BoundedMemo = BoundedMemo()


def cosine_pairs_exact(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int | None = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_decimals: int | None = None,
    broadcast_build: bool | None = None,
    candidate_budget: int = 50_000_000,
    force: bool = False,
) -> DataFrame:
    """OP-49 (embedding-cosine, exact): ALL pairs with cosine ≥ threshold —
    the brute-force O(n²) verification oracle for
    :func:`embedding_near_dup_pairs`, the same role
    ``dedup.ngram_jaccard_pairs`` plays for the MinHash family, with the
    SAME candidate-budget tripwire.  Production corpora go through the
    LSH-bucketed path; this exists to verify it on bounded samples.

    Norms are precomputed per vector (2 sqrt-folds per row instead of per
    pair) and the dot is statically unrolled at ``dim`` so the pair scan
    stays in codegen.  ``round_decimals`` rounds the cosine before
    thresholding (oracle parity with SQL engines whose float formatting
    differs).  Output: (id_a, id_b, cosine).

    **Tripwire** (``candidate_budget``): the candidate volume is exactly
    n·(n−1)/2 for n corpus rows — no estimate slack here, unlike the
    Jaccard oracle's join-row overcount.  The count is MEMOIZED on the
    corpus plan's (semanticHash, input-file version) — one count per
    distinct corpus per session, re-counted when the same plan reads a
    grown path — and the check raises ``ValueError`` at CALL time, the
    same contract as the Jaccard tripwire.  ``force=True`` skips the
    check.

    ``broadcast_build``: None (default) auto-sizes from the same memoized
    count — the build side broadcasts only while the whole corpus fits
    comfortably in a broadcast (n ≤ 1M rows), and a forced oversized run
    falls back to the shuffled theta-join instead of attempting an
    unbounded driver broadcast.  True/False pins the strategy (a pinned
    ``force=True`` call runs with zero guard overhead — no count at all).
    """
    norm = _norm(corpus_vec, dim=dim)
    a = corpus.select(
        F.col(corpus_id).alias("id_a"),
        F.col(corpus_vec).alias("__va"),
        norm.alias("__na"),
    )
    b = corpus.select(
        F.col(corpus_id).alias("id_b"),
        F.col(corpus_vec).alias("__vb"),
        norm.alias("__nb"),
    )
    if not force or broadcast_build is None:
        key = (
            corpus._jdf.queryExecution().analyzed().semanticHash(),
            data_version(corpus),
        )
        n = _COSINE_GUARD_MEMO.get(key)
        if n is None:
            n = corpus.count()
            _COSINE_GUARD_MEMO[key] = n
        est = n * (n - 1) / 2
        if not force and est > candidate_budget:
            raise ValueError(
                f"cosine_pairs_exact: {est:,.0f} candidate pairs exceeds "
                f"candidate_budget={candidate_budget:,}. This exact "
                "operator is quadratic in corpus size and exists as the "
                "verification oracle for the LSH family — use "
                "embedding_near_dup_pairs for production corpora, or pass "
                "force=True to proceed anyway."
            )
        if broadcast_build is None:
            broadcast_build = n <= 1_000_000
    build = F.broadcast(b) if broadcast_build else b
    pairs = a.join(build, on=F.col("id_a") < F.col("id_b"))
    cos = _dot("__va", "__vb", dim=dim) / (
        F.col("__na") * F.col("__nb")
    )
    if round_decimals is not None:
        cos = F.round(cos, round_decimals)
    return (
        pairs.withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the classic coarse-quantizer scale path
# ---------------------------------------------------------------------------


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    refine_rounds: int = 0,
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse centroids: a hash-ordered pseudo-random sample
    of the corpus (k rows collected to the driver — k ≪ corpus, the
    standard IVF shape).  One TakeOrdered job, no count pass.
    ``refine_rounds > 0`` runs that many spherical-k-means Lloyd rounds
    on top (:func:`kmeans_refine_centroids`) — deterministic (fixed seed
    sample, fixed rounds, rounded updates) and plan-invariant
    downstream; :func:`build_ivf_index` defaults to 3 rounds since
    round 9 (recall lever), while the zero-round form stays the default
    here for the cheapest possible ad-hoc index.

    At 100 TB the centroid list is still tiny (k ≤ ~65k for IVF_65536), so
    it remains a driver-side constant folded into the assignment expression.
    """
    rows = (
        corpus.select(F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("v"))
        .orderBy(F.xxhash64(F.col("id")), F.col("id"))
        .limit(n_centroids)
        .collect()
    )
    cents = [(i, [float(x) for x in r.v]) for i, r in enumerate(rows)]
    if refine_rounds:
        cents = kmeans_refine_centroids(
            corpus, cents, rounds=refine_rounds, corpus_vec=corpus_vec
        )
    return cents


def kmeans_refine_centroids(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    rounds: int = 3,
    corpus_vec: str = "embedding",
    round_decimals: int = 6,
) -> list[tuple[int, list[float]]]:
    """Lloyd-refine coarse IVF centroids with ``rounds`` spherical
    k-means iterations, expressed as DataFrame ops (round-8 VERDICT #3 —
    the hash-sampled seed left recall@10 at 0.68; refinement is the
    quality lever with NO downstream plan change, since centroids stay a
    bounded driver-side list).

    Per round: assign every corpus vector to its nearest centroid by
    cosine (the same Arrow kernel every probe uses —
    :func:`_nearest_centroids`, so refinement and search agree on ties),
    then update each centroid to the mean DIRECTION of its members
    (members are L2-normalized before averaging — spherical k-means, the
    right objective under cosine; centroid magnitude is irrelevant to
    cosine assignment).  The update is one ``groupBy(__list)`` with
    ``dim`` JVM-side ``avg`` aggregates — one map-side-combined shuffle
    of k×dim partials per round, never an explode — and collects k×dim
    doubles to the driver.  Empty lists keep their previous centroid
    (deterministic, no re-seeding jitter).

    Determinism: the seed sample is hash-ordered (deterministic), round
    count is fixed, and each averaged coordinate is rounded to
    ``round_decimals`` so float summation order across partitions cannot
    leak into the stored artifact — 1e-6 granularity is ~8 orders above
    fp-reduction jitter and ~4 below any real assignment boundary.

    Cost at 100 TB: ``rounds`` extra corpus passes at BUILD time only
    (each pass = the same Arrow assignment kernel the index build runs
    once anyway); probe-side cost is unchanged.  Reference has no ANN at
    all (SURVEY §2 OP-50 is driver-mandated); this mirrors the classic
    IVF training loop (Jégou et al., PAMI 2011) at fixed small rounds.
    """
    if not centroids or rounds <= 0:
        return centroids
    dim = len(centroids[0][1])
    # Guard the update input the same way the numpy assignment kernel's
    # assumptions do: a zero vector makes ``__cv[i] / __cn`` null/NaN and
    # a shorter-than-dim embedding makes ``__cv[i]`` null — either would
    # poison the avg and (NaN being truthy under ``any``) replace a good
    # centroid, degrading every later round.  Degenerate rows simply
    # don't vote on centroid direction (they are equally meaningless to
    # cosine assignment at probe time).
    unit = (
        corpus.select(F.col(corpus_vec).alias("__cv"))
        .where(F.size("__cv") == dim)
        .withColumn("__cn", _norm("__cv", dim=dim))
        .where(F.col("__cn") > 0)
    )
    cents = centroids
    for _ in range(rounds):
        assigned = unit.withColumn(
            "__list", F.element_at(_nearest_centroids(F.col("__cv"), cents, 1), 1)
        )
        agg = assigned.groupBy("__list").agg(
            *[
                F.round(
                    F.avg(F.col("__cv")[i] / F.col("__cn")), round_decimals
                ).alias(f"c{i}")
                for i in range(dim)
            ]
        ).collect()
        new = {
            int(r["__list"]): [float(r[f"c{i}"] or 0.0) for i in range(dim)]
            for r in agg
        }
        cents = [
            (cid, vec if not any(new.get(cid, [])) else new[cid])
            for cid, vec in cents
        ]
    return cents


def _nearest_lists_np(
    M: "np.ndarray", centroids: list[tuple[int, list[float]]], nprobe: int
) -> list[list[int]]:
    """The ONE nearest-centroid computation (rows × dim matrix → nprobe
    centroid ids per row, cosine, ties by centroid order via stable
    argsort), shared by the Arrow kernel and the driver-side index probe
    so both paths assign identical lists — bit-identical tie behavior is
    what lets ivf_topk_from_index reproduce ivf_topk exactly."""
    C = np.array([cvec for _, cvec in centroids], dtype=np.float64)  # k × dim
    Cn = np.linalg.norm(C, axis=1)
    ids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    sims = (M @ C.T) / (np.linalg.norm(M, axis=1)[:, None] * Cn[None, :])
    order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    return [[int(x) for x in ids[row]] for row in order]


def _nearest_centroids(
    vec: Column,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
) -> Column:
    """Array of the nprobe centroid ids nearest to ``vec`` by cosine — an
    Arrow-vectorized numpy kernel (batched matmul against the centroid
    matrix held in the UDF closure).

    Centroid constants must NOT be plan literals: a k×dim literal tree
    bloats the task binary and codegen (measured 5× slower end-to-end than
    even the interpreted HOF form).  The closure matmul is deterministic
    run-to-run; ties broken by centroid order (stable argsort)."""

    @pandas_udf("array<int>")
    def probe(s: pd.Series) -> pd.Series:
        M = np.array(s.tolist(), dtype=np.float64)
        return pd.Series(_nearest_lists_np(M, centroids, nprobe))

    return probe(vec)


def ivf_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Inverted-list build: every corpus vector tagged with its nearest
    centroid id (``__list``) plus its precomputed norm.  This is the stored
    IVF index — at scale, written once partitioned by ``__list`` so probes
    prune partitions; locally, persisted and reused across queries."""
    dim = len(centroids[0][1]) if centroids else None
    return (
        corpus.select(F.col(corpus_id).alias("__cid"), F.col(corpus_vec).alias("__cv"))
        .withColumn("__cn", _norm("__cv", dim=dim))
        .withColumn(
            "__list", F.element_at(_nearest_centroids(F.col("__cv"), centroids, 1), 1)
        )
    )


def auto_nprobe(n_centroids: int) -> int:
    """Default probe width when the caller does not pick one: HALF the
    inverted lists (ceil), floored at 1.

    Round-10 shipped ``nprobe=4`` as the blanket default, which on the
    hostile ×50 rehearsal corpus (diffuse perturbed clusters + hash-random
    vectors — the IVF worst case) measured recall@10 mean **0.612** with 16
    lists; the measured frontier on the same corpus is 0.612 → 0.843 →
    0.97 at nprobe 4 → 8 → 12 (probe wall 10.0 → 13.2 → 17.1 s at 100k
    vectors on the expression path; SCALE_REHEARSAL.json / BASELINE.md).
    On the round-13 BLAS serve twin the SAME frontier's wall is nearly
    FLAT (~1.1–1.3 s at every nprobe — the per-batch matmul dominates
    and extra lists only widen the pruned scan), so high nprobe is
    close to free at serve time, strengthening this default further.
    nprobe = n_centroids/2
    lands at the measured ≥0.8 point by DEFAULT even on the hostile
    bracket (friendly/clustered corpora measure 1.0 well below that), at
    ~half-corpus candidate volume.  Operators that know their corpus
    clusters — the common real case — should pass an explicit smaller
    nprobe (the catalog's production entries pin nprobe=4 next to their
    recall bracket); a default, though, must privilege correctness over
    probe cost, not ship the 0.612 end silently."""
    return max(1, (int(n_centroids) + 1) // 2)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int | None = None,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    centroids: list[tuple[int, list[float]]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """OP-50 (IVF variant): approximate top-k via inverted-file search.

    Corpus vectors are assigned to their nearest coarse centroid (the
    inverted lists — at scale this is the partitioning/bucketing column of
    the stored index, so a probe touches only matching partitions).  Each
    query probes its ``nprobe`` nearest centroids; candidates come from an
    equi-join on centroid id, then exact cosine re-ranks.  Candidate volume
    is ~``nprobe/n_centroids`` of the corpus per query vs. all of it for
    brute force.

    ``centroids``/``assigned``: a prebuilt index (:func:`ivf_centroids` +
    :func:`ivf_assign`, typically persisted) — passing both makes this
    call pure query-path work, the amortized production shape.

    ``nprobe=None`` (default): :func:`auto_nprobe` — half the lists,
    the measured ≥0.8-recall point on the hostile rehearsal bracket.
    """
    cents = centroids or ivf_centroids(
        corpus, n_centroids, corpus_id=corpus_id, corpus_vec=corpus_vec
    )
    if nprobe is None:
        nprobe = auto_nprobe(len(cents) if cents else n_centroids)
    dim = len(cents[0][1]) if cents else None
    c = (
        assigned
        if assigned is not None
        else ivf_assign(corpus, cents, corpus_id=corpus_id, corpus_vec=corpus_vec)
    )
    q = (
        queries.select(F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qv"))
        .withColumn("__qn", _norm("__qv", dim=dim))
        .select(
            "__qid",
            "__qv",
            "__qn",
            F.explode(_nearest_centroids(F.col("__qv"), cents, nprobe)).alias("__list"),
        )
    )
    cand = F.broadcast(q).join(c, on="__list")
    if exclude_self:
        cand = cand.where(F.col("__qid") != F.col("__cid"))
    scored = cand.withColumn(
        "cosine",
        _dot("__qv", "__cv", dim=dim) / (F.col("__qn") * F.col("__cn")),
    )
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    refine_rounds: int = 3,
) -> list[tuple[int, list[float]]]:
    """Write the IVF index as a DISK layout partitioned by inverted list:
    ``path/__list=<centroid>/…`` holds each list's (id, vector, norm) rows,
    and ``path__centroids`` the k centroid vectors — the ANN analog of the
    stored postings/band indexes (build once, probe per batch, corpus
    never re-read, same build→probe lifecycle).

    Partitioning by ``__list`` is the point: a probe knows its nprobe
    list ids BEFORE the scan, so the pushed ``__list IN (…)`` becomes a
    static PartitionFilter and Spark lists/reads ONLY the probed
    directories — at 100 TB with IVF_4096 and nprobe=8, ~0.2% of the
    corpus bytes.  Returns the centroids (also loadable via
    :func:`load_ivf_centroids`).

    ``refine_rounds`` (default 3): spherical-k-means Lloyd rounds on the
    hash-sampled seed (:func:`kmeans_refine_centroids`) — the stored
    production index is worth the ``rounds`` extra build-time corpus
    passes (recall@10 on the sf0.001 near-random corpus: see the pinned
    regression test); pass 0 for the raw sampled seed."""
    cents = ivf_centroids(
        corpus, n_centroids, corpus_id=corpus_id, corpus_vec=corpus_vec,
        refine_rounds=refine_rounds,
    )
    assigned = ivf_assign(corpus, cents, corpus_id=corpus_id, corpus_vec=corpus_vec)
    # cluster by list BEFORE the partitioned write: writing straight from
    # the scan's partitioning emits n_scan_partitions × n_lists files
    # (measured 507 parquet files for a 2k-row index — every probe then
    # lists and opens nprobe × n_scan_partitions tiny files), the classic
    # small-files problem.  REBALANCE(__list) (guide §6's coalesce-on-
    # write tool) shuffles by list AND lets AQE split an oversized list
    # into advisory-sized chunks — one file per list locally, ~advisory-
    # sized files per list at 100 TB (a plain repartition(__list) would
    # emit ONE arbitrarily large file per list there).  Probe results are
    # unchanged by construction (same rows; re-rank sorts on (cosine, id),
    # never file order).
    (
        assigned.hint("rebalance", "__list")
        .write.mode("overwrite")
        .partitionBy("__list")
        .parquet(path)
    )
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(cid, [float(x) for x in vec]) for cid, vec in cents],
        "cid int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}__centroids")
    return cents


def load_ivf_centroids(spark, path: str) -> list[tuple[int, list[float]]]:
    """Reload a stored index's centroid half (k rows — bounded collect)."""
    rows = spark.read.parquet(f"{path}__centroids").collect()
    return sorted((int(r.cid), [float(x) for x in r.cvec]) for r in rows)


def append_ivf_index(
    delta: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Grow a stored IVF index in place: assign the delta batch against
    the index's EXISTING centroids (fail-fast read — a missing centroid
    file means the index was never built, and nothing is written) and
    append into the ``__list=`` partition directories — the ANN half of
    the incremental lifecycle every stored index in this repo follows
    (band index: ``dedup.append_band_index``; text index:
    ``retrieval.append_postings_index``).

    The centroids are the QUANTIZER, not a corpus statistic: per-vector
    assignment is deterministic and independent of the rest of the batch,
    so an appended index is bit-identical to :func:`ivf_assign` over the
    full corpus with the ORIGINAL centroids, and every probe result
    matches the from-scratch-assigned index exactly (test-pinned).  What
    an append cannot do is re-train: a corpus that drifts away from the
    original centroid sample degrades list balance and recall, so
    re-run :func:`build_ivf_index` (a rebuild, not an append) on whatever
    cadence recall monitoring dictates — the same retrain-vs-append
    economics FAISS documents for IVF.

    Each append adds one file per touched list; run
    :func:`compact_ivf_index` when file counts grow (same economics as
    ``stores.compact_bucketed`` for the band/postings tables).
    """
    spark = delta.sparkSession
    cents = load_ivf_centroids(spark, path)
    assigned = ivf_assign(delta, cents, corpus_id=corpus_id, corpus_vec=corpus_vec)
    # one right-sized file per touched list per append (not one per delta
    # partition per list) — the same §6 REBALANCE discipline as the build
    (
        assigned.hint("rebalance", "__list")
        .write.mode("append")
        .partitionBy("__list")
        .parquet(path)
    )


def compact_ivf_index(spark, path: str, new_path: str) -> None:
    """Rewrite an append-grown IVF index to ONE file per inverted list at
    ``new_path`` (probes open O(nprobe) files again instead of
    O(nprobe · appends)) and copy the centroid half alongside.  The
    repartition ON the partition column puts each list's rows in a single
    task, so ``partitionBy`` emits exactly one file per list directory.

    Results are unchanged by construction — same rows, same partition
    values, and probe determinism never depended on file order (the
    re-rank sorts on (cosine, id)).  The caller swaps paths (or points
    probes at ``new_path``) and deletes the old directory once no reader
    needs it — same non-atomic-swap contract as ``stores.compact_bucketed``,
    and the same guard: compacting INTO the live path would overwrite the
    files the compaction scan is reading.  Concurrent compactors are
    excluded by the same flock-backed lease
    (``stores.acquire_compaction_lease``, keyed on the live index root);
    a second compactor raises ``stores.LeaseHeldError``.
    """
    import os

    from feature_store_healthcare_spark.stores import (
        acquire_compaction_lease,
        local_path,
        release_compaction_lease,
    )

    # The guard covers BOTH directories each side touches (index root and
    # its __centroids sibling) and nesting in either direction: compacting
    # INTO the live root, its centroid dir, or a path inside/above either
    # would overwrite files this function is concurrently reading.
    a = os.path.abspath(local_path(path))
    b = os.path.abspath(local_path(new_path))
    sources = (a, f"{a}__centroids")
    targets = (b, f"{b}__centroids")
    for s in sources:
        for t in targets:
            if t == s or t.startswith(s + os.sep) or s.startswith(t + os.sep):
                raise ValueError(
                    f"compact_ivf_index new_path={new_path!r} overlaps the "
                    f"live index at {path!r} ({t} vs {s}) — the overwrite "
                    "would delete files the compaction scan is reading. "
                    "Compact to a fresh path and swap."
                )
    lease, owner = acquire_compaction_lease(path)
    try:
        (
            spark.read.parquet(path)
            .repartition(F.col("__list"))
            .write.mode("overwrite")
            .partitionBy("__list")
            .parquet(new_path)
        )
        (
            spark.read.parquet(f"{path}__centroids")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{new_path}__centroids")
        )
    finally:
        release_compaction_lease(lease, owner)


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    exclude_self: bool = True,
    centroids: list[tuple[int, list[float]]] | None = None,
    max_query_rows: int = 4096,
    round_decimals: int | None = None,
) -> DataFrame:
    """:func:`ivf_topk` against a stored :func:`build_ivf_index` — same
    results (the nearest-list computation is the SAME numpy code on both
    paths, so list assignment and tie behavior are bit-identical), but
    the scan carries a static ``__list IN (probed lists)`` partition
    filter: only the probed inverted-list directories are listed and
    read, which is how the index pays off at 100 TB.

    The query batch is collected (bounded by ``max_query_rows`` — the
    same contract as ``cosine_topk_blas``: an unbounded query side must
    fail loudly, not leak a corpus-sized collect) so the probe lists are
    known at PLAN time; per-query list membership then rides a broadcast
    join and exact cosine re-ranks, identical to the in-session path.

    ``round_decimals``: round the cosine to N decimals BEFORE ranking
    (ties then break on the corpus id) — the determinism convention every
    catalog-facing exact scorer uses so Spark and an external SQL oracle
    rank identically.  With ``nprobe = n_centroids`` (every list probed —
    IVF made exhaustive) and the same rounding, this function's ranking
    is definitionally equal to the exact cosine top-k, which is the
    oracle-checked exactness anchor for the approximate configurations.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    cents = centroids if centroids is not None else load_ivf_centroids(spark, path)
    if not cents:
        raise ValueError(
            f"ivf_topk_from_index: no centroids at {path}__centroids — the "
            "index was never built there, or its centroid side file is "
            "empty/corrupt. Rebuild with build_ivf_index."
        )
    if nprobe is None:
        nprobe = auto_nprobe(len(cents))
    dim = len(cents[0][1]) if cents else None
    q_rows = queries.select(query_id, query_vec).limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"ivf_topk_from_index query side exceeds max_query_rows="
            f"{max_query_rows}: probe lists are computed driver-side from "
            "the collected batch. Pass a smaller batch, raise the bound "
            "deliberately, or use ivf_topk with a persisted assigned corpus."
        )
    if q_rows:
        M = np.asarray([np.asarray(r[1], dtype=np.float64) for r in q_rows])
        lists_per_q = _nearest_lists_np(M, cents, nprobe)
    else:
        lists_per_q = []  # empty batch: empty result, same schema as live
    probed = sorted({lst for lists in lists_per_q for lst in lists})
    # static partition pruning: the scan never touches unprobed lists
    # (an empty probe set reads nothing at all)
    scan = spark.read.parquet(path).where(
        F.col("__list").isin(probed) if probed else F.lit(False)
    )
    qt = queries.schema[query_id].dataType
    schema = StructType(
        [
            StructField("__qid", qt),
            StructField("__qv", ArrayType(DoubleType())),
            StructField("__list", IntegerType()),
        ]
    )
    qdf = spark.createDataFrame(
        [
            (r[0], [float(x) for x in r[1]], lst)
            for r, lists in zip(q_rows, lists_per_q)
            for lst in lists
        ],
        schema,
    ).withColumn("__qn", _norm("__qv", dim=dim))
    cand = F.broadcast(qdf).join(scan, on="__list")
    if exclude_self:
        cand = cand.where(F.col("__qid") != F.col("__cid"))
    cos = _dot("__qv", "__cv", dim=dim) / (
        F.col("__qn") * F.col("__cn")
    )
    if round_decimals is not None:
        cos = F.round(cos, round_decimals)
    scored = cand.withColumn("cosine", cos)
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def ivf_topk_from_index_blas(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    exclude_self: bool = True,
    centroids: list[tuple[int, list[float]]] | None = None,
    max_query_rows: int = 4096,
) -> DataFrame:
    """BLAS form of :func:`ivf_topk_from_index` — the BENCH/SERVE variant
    (the :func:`cosine_topk_blas` / :func:`pca_topk_from_index_blas`
    convention: oracle-checked entries stay on the bit-exact expression
    path; serving probes take the kernel).

    Identical probe semantics: the bounded query batch is collected, its
    nprobe nearest lists computed driver-side with the SAME numpy code
    (``_nearest_lists_np``), and the scan carries the same static
    ``__list IN (probed)`` partition filter.  The difference is the
    scoring plan: instead of a broadcast (query × probed-row) pair join
    evaluating a per-pair unrolled dot in codegen, ONE ``mapInPandas``
    pass scores each Arrow batch as a |Q|×b matmul against the stored
    ``__cn`` norms, masks out (query, row) pairs whose list the query
    did not probe (a |Q|×n_lists membership matrix ships in the
    closure), and emits only per-batch local top-k — the pair table
    never materializes.  A final window applies the global cut.  Scores
    are float64 matmuls, ~1 ulp from the expression path (equality at
    nprobe=all is test-pinned); ties break by corpus id as everywhere —
    including at the per-batch cut (:func:`_local_topk_cols` sorts the
    batch by id and uses a stable argsort, so boundary-tied rows keep
    the id-ascending survivors the global window would pick).
    Degenerate vectors (zero-norm / non-finite) are OUT OF CONTRACT for
    the serve twins: they yield NaN/±Inf cosines, which numpy and Java
    order differently through the cut (the kernel's isfinite filter
    drops most of them; the expression path ranks NaN above all) — keep
    such vectors out of serve corpora (the build-side ``__cn`` is where
    to screen).  Measured at the hostile
    ×50 bracket (100k vectors, 100 queries): warm probe 6.5 s
    (expression) → ~1.1 s."""
    cents = centroids if centroids is not None else load_ivf_centroids(spark, path)
    if not cents:
        raise ValueError(
            f"ivf_topk_from_index_blas: no centroids at {path}__centroids — "
            "the index was never built there, or its centroid side file is "
            "empty/corrupt. Rebuild with build_ivf_index."
        )
    if nprobe is None:
        nprobe = auto_nprobe(len(cents))
    q_rows = (
        queries.select(query_id, query_vec).limit(max_query_rows + 1).collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"ivf_topk_from_index_blas query side exceeds max_query_rows="
            f"{max_query_rows}: probe lists and the query matrix are "
            "driver-side. Pass a smaller batch, raise the bound "
            "deliberately, or use ivf_topk with a persisted assigned corpus."
        )
    raw_scan = spark.read.parquet(path)
    out_schema, empty_schema = _blas_out_schemas(
        queries.schema[query_id].dataType,
        raw_scan.schema["__cid"].dataType,
        query_id,
        corpus_id,
    )
    if not q_rows:
        return spark.createDataFrame([], empty_schema)
    q_ids = np.asarray([r[0] for r in q_rows])
    q_mat = np.asarray([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qn = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    lists_per_q = _nearest_lists_np(q_mat, cents, nprobe)
    probed = sorted({lst for lists in lists_per_q for lst in lists})
    n_lists = max(c for c, _ in cents) + 1 if cents else 0
    allowed = np.zeros((len(q_rows), n_lists), dtype=bool)
    for i, lists in enumerate(lists_per_q):
        allowed[i, list(lists)] = True

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            perm = np.argsort(pdf["__cid"].to_numpy(), kind="stable")
            ids = pdf["__cid"].to_numpy()[perm]
            lists = pdf["__list"].to_numpy()[perm]
            cn = pdf["__cn"].to_numpy(dtype=np.float64)[perm]
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__cv"]]
            )[perm]
            scores = (qn @ X.T) / cn[None, :]
            mask = allowed[:, lists]
            if exclude_self:
                mask = mask & (q_ids[:, None] != ids[None, :])
            scores = np.where(mask, scores, -np.inf)
            top = min(k, scores.shape[1])
            idx = _local_topk_cols(scores, top)
            sel = np.take_along_axis(scores, idx, axis=1).ravel()
            keep = np.isfinite(sel)
            yield pd.DataFrame(
                {
                    query_id: np.repeat(q_ids, top)[keep],
                    corpus_id: ids[idx].ravel()[keep],
                    "cosine": sel[keep],
                }
            )

    scan = (
        raw_scan
        .where(F.col("__list").isin(probed) if probed else F.lit(False))
        .select("__cid", "__cv", "__cn", "__list")
    )
    cand = scan.mapInPandas(kernel, schema=out_schema)
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def int8_quantize(
    df: DataFrame, emb_col: str = "embedding", eps: float = 1e-12
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column — the
    standard storage-compression step before an ANN index is persisted
    (4× smaller than float32, 8× than float64).

    Adds ``q_scale`` (double: ``max|x| / 127``, floored at ``eps`` so the
    all-zero vector quantizes to zeros instead of dividing by zero),
    ``q_codes`` (``array<int>`` in [-127, 127]) and ``q_max_abs_err``
    (double: max reconstruction error ``max|x - round(x/scale)*scale|`` —
    an order-free per-row exactness witness usable in oracles).

    All built-in higher-order functions over the array — no UDF, no
    shuffle; at 100 TB this is a pure map over the corpus scan.  Every
    arithmetic step (cast, divide, round, multiply, subtract, abs, max) is
    exact-deterministic IEEE double given identical inputs, so results are
    reproducible across engines and partitionings.
    """
    v = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(v, F.abs)) / F.lit(127.0), F.lit(eps)
    )
    out = df.withColumn("__v", v).withColumn("q_scale", scale)
    codes = F.transform(
        F.col("__v"), lambda x: F.round(x / F.col("q_scale")).cast("int")
    )
    err = F.zip_with(
        F.col("__v"),
        codes,
        lambda x, q: F.abs(x - q.cast("double") * F.col("q_scale")),
    )
    return (
        out.withColumn("q_codes", codes)
        .withColumn("q_max_abs_err", F.array_max(err))
        .drop("__v")
    )


# ---------------------------------------------------------------------------
# Dimensionality reduction: distributed Gram/covariance + PCA projection
# ---------------------------------------------------------------------------


def gram_matrix(df: DataFrame, emb_col: str = "embedding", dim: int = 64):
    """Distributed Gram matrix ``X^T X`` (d×d) plus column sums and row
    count — the sufficient statistics for covariance/PCA over an embedding
    corpus, computed in ONE scan.

    Each Arrow batch contributes a d×d partial via numpy BLAS
    (``X^T X`` per batch — vectorized, not per-row), partials flatten to
    d² (pos, val) rows and a tiny groupBy-sum merges them; only
    O(batches·d²) numbers ever shuffle, never the corpus.  Driver
    materializes d×d (64×64 = 32 KB) — the same legitimate small-side
    collect as IVF centroids.

    Returns ``(gram: np.ndarray[d,d], col_sums: np.ndarray[d], n: int)``.
    """
    d = dim

    def partials(batches):
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[emb_col]]
            )
            if len(x) == 0:
                continue
            g = x.T @ x  # BLAS
            s = x.sum(axis=0)
            yield pd.DataFrame(
                {
                    "pos": range(d * d + d + 1),
                    "val": np.concatenate([g.ravel(), s, [float(len(x))]]),
                }
            )

    flat = df.select(emb_col).mapInPandas(partials, schema="pos long, val double")
    merged = flat.groupBy("pos").agg(F.sum("val").alias("val")).collect()
    vals = np.zeros(d * d + d + 1)
    for r in merged:
        vals[r["pos"]] = r["val"]
    gram = vals[: d * d].reshape(d, d)
    col_sums = vals[d * d : d * d + d]
    n = int(vals[-1])
    return gram, col_sums, n


def pca_fit(df: DataFrame, emb_col: str = "embedding", dim: int = 64, k: int = 8):
    """PCA over the embedding corpus from the one-scan Gram statistics:
    covariance ``(G - n·μμ^T)/(n-1)`` → driver-side ``eigh`` on the d×d
    matrix (d=64: microseconds).  Returns ``(components: np.ndarray[k,d],
    explained_variance: np.ndarray[k], mean: np.ndarray[d])`` with
    deterministic sign (each component's largest-|coefficient| entry is
    made positive)."""
    gram, sums, n = gram_matrix(df, emb_col, dim)
    mean = sums / n
    cov = (gram - np.outer(mean, mean) * n) / (n - 1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T
    for i in range(len(comps)):
        j = np.argmax(np.abs(comps[i]))
        if comps[i][j] < 0:
            comps[i] = -comps[i]
    return comps, w[order], mean


def pca_project(
    df: DataFrame,
    components: "np.ndarray",
    mean: "np.ndarray",
    emb_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project every embedding onto the fitted components — a broadcast
    matmul per Arrow batch (components ship in the UDF closure: k×d
    floats), appended as ``array<double>``.  Pure map over the corpus
    scan; the 100 TB projection pass shuffles nothing."""
    comps = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)

    @pandas_udf("array<double>")
    def proj(vecs: pd.Series) -> pd.Series:
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(x) == 0:
            return pd.Series([], dtype=object)
        y = (x - mu) @ comps.T
        return pd.Series(list(y))

    return df.withColumn(out_col, proj(F.col(emb_col)))


def pca_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    pca_dim: int = 32,
    rerank_factor: int = 8,
    dim: int = 64,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    components=None,
    mean=None,
    projected_corpus: DataFrame | None = None,
    round_decimals: int | None = None,
) -> DataFrame:
    """Two-stage ANN with PCA compression: coarse top-(k·rerank_factor)
    candidates by EUCLIDEAN distance in the ``pca_dim`` projection (PCA
    preserves L2 distances best-in-class for a linear map), then exact
    full-dimension cosine re-rank of the candidates only.

    FLOPs per query drop from O(|corpus|·dim) to O(|corpus|·pca_dim +
    k·rerank_factor·dim) — compression is dim/pca_dim with recall governed
    by rerank_factor and the spectrum.  Defaults are sized for the WORST
    case (the driver's near-isotropic synthetic vectors: 65% variance in
    32/64 dims → recall@5 ≈ 0.98 at rerank 8); real embedding corpora are
    strongly anisotropic and compress far harder at the same recall.  Like the IVF/LSH paths, the
    fitted ``components``/``mean`` and the ``projected_corpus`` are a
    reusable stored index (fit once, serve every query batch); pass them
    in production, omit them for a self-contained run.

    Output: (query_id, vec_id, cosine, rank) — same contract as
    :func:`cosine_topk`, so recall is directly measurable against the
    exact path.
    """
    if components is None or mean is None:
        components, _, mean = pca_fit(corpus, "embedding", dim=dim, k=pca_dim)
    if projected_corpus is None:
        projected_corpus = pca_project(
            corpus, components, mean, emb_col="embedding", out_col="__p"
        ).select(F.col(corpus_id).alias("__cid"), "__p", "embedding")
    qp = pca_project(
        queries, components, mean, emb_col="embedding", out_col="__qp"
    ).select(F.col(query_id).alias("__qid"), "__qp")

    # stage 1: coarse L2 in PCA space (squared distance; monotone for
    # rank).  Statically unrolled like _dot — the zip_with/aggregate HOF
    # form evaluates interpreted and measured 2× slower on the same plan.
    # Built as one parsed SQL string for the same reason as _dot (the
    # Column-API loop costs ~6 py4j round trips per term).
    d2 = F.expr(
        " + ".join(
            f"((__qp[{i}] - __p[{i}]) * (__qp[{i}] - __p[{i}]))"
            for i in range(int(pca_dim))
        )
    )
    pairs = (
        F.broadcast(qp)
        .crossJoin(projected_corpus)
        .where(F.col("__qid") != F.col("__cid"))
        .withColumn("__d2", d2)
    )
    candidates = _salted_topk(
        pairs,
        "__qid",
        [F.col("__d2"), F.col("__cid")],
        k * rerank_factor,
        salt_src="__cid",
        rank_col="__crank",
    )

    # stage 2: exact cosine over candidates only (full-dim vectors)
    qv = queries.select(
        F.col(query_id).alias("__qid"),
        F.col("embedding").alias("__qv"),
    ).withColumn("__qn", _norm("__qv", dim=dim))
    # corpus-side norm: read the build-time __n when the projected corpus
    # carries one (stored index — same unrolled expression at build, so
    # values are bit-identical), else compute it here (live path)
    c_norm = (
        F.col("__n")
        if projected_corpus is not None and "__n" in projected_corpus.columns
        else _norm("embedding", dim=dim)
    )
    cos = _dot("__qv", "embedding", dim=dim) / (
        F.col("__qn") * c_norm
    )
    if round_decimals is not None:
        # round BEFORE ranking so ties break on the corpus id identically
        # in Spark and an external SQL oracle (the catalog determinism
        # convention every exact scorer follows)
        cos = F.round(cos, round_decimals)
    scored = candidates.join(F.broadcast(qv), "__qid").withColumn("cosine", cos)
    w = Window.partitionBy("__qid").orderBy(F.col("cosine").desc(), F.col("__cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "cosine",
            "rank",
        )
    )


def build_pca_index(
    corpus: DataFrame,
    path: str,
    pca_dim: int = 32,
    dim: int = 64,
    corpus_id: str = "vec_id",
    emb_col: str = "embedding",
):
    """Fit PCA once and persist BOTH halves of the compressed-scan index
    (round-12 VERDICT ask #5 — ``pca_topk`` refit the covariance pass +
    eigendecomposition on every call):

    * ``path`` — the projected corpus: one row per vector with
      ``(__cid, __p array<double>[pca_dim], embedding)``.  Probes scan
      this instead of re-projecting; the full-dim column rides along so
      the exact re-rank needs no join back to the raw corpus.
    * ``path + "__model"`` — the fitted model: ``pca_dim`` component
      rows + the mean (+ explained variance), a (k+2)-row side file, the
      same bounded-small-side shape as the IVF ``__centroids`` file.

    Same build→probe lifecycle as :func:`build_ivf_index` /
    ``retrieval.build_postings_index`` / ``dedup.build_band_index``: the
    build pays one corpus scan for the Gram statistics and one for the
    projection write; every later probe pays only the projected scan
    (:func:`pca_topk_from_index`).  Returns ``(components, mean)``.
    """
    comps, var, mean = pca_fit(corpus, emb_col, dim=dim, k=pca_dim)
    proj = pca_project(corpus, comps, mean, emb_col=emb_col, out_col="__p")
    # __n: the full-dim L2 norm, precomputed ONCE at build with the same
    # unrolled expression the probe would use (bit-identical values), so
    # the re-rank never recomputes norms and the probe plan drops one
    # dim-term codegen chain
    # REBALANCE before the write (guide §6): the projected corpus
    # otherwise lands as one file per scan partition (32 tiny files at
    # sf0.1 for 2k rows); AQE sizes output files to the advisory target
    # — one file locally, ~advisory-sized files at 100 TB.  Probe
    # results never depend on file count/order.
    proj.select(
        F.col(corpus_id).alias("__cid"),
        "__p",
        F.col(emb_col).alias("embedding"),
        _norm(emb_col, dim=dim).alias("__n"),
    ).hint("rebalance").write.mode("overwrite").parquet(path)
    spark = corpus.sparkSession
    rows = [("comp", i, [float(x) for x in comps[i]]) for i in range(len(comps))]
    rows.append(("mean", 0, [float(x) for x in mean]))
    rows.append(("var", 0, [float(x) for x in var]))
    spark.createDataFrame(
        rows, "part string, idx int, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}__model")
    return comps, mean


def load_pca_model(spark, path: str):
    """Reload a stored PCA index's model half (k+2 rows — bounded collect,
    like :func:`load_ivf_centroids`).  Returns ``(components[k,d],
    mean[d])`` as float64 arrays, bit-identical to what
    :func:`build_pca_index` returned (parquet doubles round-trip exactly)."""
    rows = spark.read.parquet(f"{path}__model").collect()
    comps = np.asarray(
        [r.vec for r in sorted(
            (r for r in rows if r.part == "comp"), key=lambda r: r.idx
        )],
        dtype=np.float64,
    )
    mean = np.asarray(
        next(r.vec for r in rows if r.part == "mean"), dtype=np.float64
    )
    return comps, mean


def append_pca_index(
    delta: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Grow a stored PCA index in place: project the delta batch with the
    index's EXISTING model (fail-fast read — a missing model file means
    the index was never built, and nothing is written) and append to the
    projected-corpus parquet — the PCA half of the incremental lifecycle
    (:func:`append_ivf_index` for lists, ``append_postings_index`` for
    terms, ``append_band_index`` for bands).

    Like the IVF centroids, the model is the QUANTIZER, not a corpus
    statistic: projection is per-row deterministic given (components,
    mean), so an appended index is bit-identical to re-projecting the
    full corpus with the ORIGINAL model, and every probe matches the
    from-scratch index exactly (test-pinned).  What an append cannot do
    is re-fit: a drifting corpus degrades the spectrum the components
    captured (recall falls at fixed rerank_factor), so rebuild on the
    cadence recall monitoring dictates — the same retrain-vs-append
    economics as IVF."""
    spark = delta.sparkSession
    comps, mean = load_pca_model(spark, path)
    dim = comps.shape[1]
    proj = pca_project(delta, comps, mean, emb_col=emb_col, out_col="__p")
    proj.select(
        F.col(corpus_id).alias("__cid"),
        "__p",
        F.col(emb_col).alias("embedding"),
        _norm(emb_col, dim=dim).alias("__n"),
    ).write.mode("append").parquet(path)


def compact_pca_index(spark, path: str, new_path: str, n_files: int = 8) -> None:
    """Rewrite an append-grown PCA index to ``n_files`` files at
    ``new_path`` (probes open O(n_files) again instead of O(appends))
    and copy the model side file alongside — the PCA half of the
    compaction surface every append-grown index here carries
    (:func:`compact_ivf_index` for lists, ``stores.compact_bucketed``
    for bucketed tables).  Results unchanged by construction (same rows;
    probe determinism never depended on file order — the re-rank sorts
    on (cosine, id)).  Same non-atomic-swap contract and flock-backed
    single-compactor lease as :func:`compact_ivf_index`, and the same
    overlap guard: compacting INTO the live path (or its ``__model``
    sibling, or a nested path either way) would overwrite files the
    compaction scan is reading."""
    import os

    from feature_store_healthcare_spark.stores import (
        acquire_compaction_lease,
        local_path,
        release_compaction_lease,
    )

    a = os.path.abspath(local_path(path))
    b = os.path.abspath(local_path(new_path))
    sources = (a, f"{a}__model")
    targets = (b, f"{b}__model")
    for s in sources:
        for t in targets:
            if t == s or t.startswith(s + os.sep) or s.startswith(t + os.sep):
                raise ValueError(
                    f"compact_pca_index new_path={new_path!r} overlaps the "
                    f"live index at {path!r} ({t} vs {s}) — the overwrite "
                    "would delete files the compaction scan is reading. "
                    "Compact to a fresh path and swap."
                )
    lease, owner = acquire_compaction_lease(path)
    try:
        (
            spark.read.parquet(path)
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(new_path)
        )
        (
            spark.read.parquet(f"{path}__model")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{new_path}__model")
        )
    finally:
        release_compaction_lease(lease, owner)


def pca_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    rerank_factor: int = 8,
    dim: int | None = None,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    components=None,
    mean=None,
    round_decimals: int | None = None,
) -> DataFrame:
    """:func:`pca_topk` against a stored :func:`build_pca_index` — same
    results (the projection is the SAME stored (components, mean) on both
    paths, so coarse distances and tie behavior are identical), but the
    probe pays ONLY the projected scan: no Gram pass, no
    eigendecomposition, no corpus re-projection.  At 100 TB the per-batch
    saving is the two extra corpus scans the live path spends fitting;
    locally it turns the catalog's #2 bench line (~3.8 s live) into a
    sub-second probe.

    ``pca_dim`` is read off the stored model (its row count) and ``dim``
    off the model's component width (``dim=None`` default), so probes
    can't disagree with the index about EITHER dimension; an explicitly
    passed ``dim`` is validated against the model (a mismatched unroll
    would index past the vectors and return null-cosine garbage
    silently).

    Exactness anchor (the ``hybrid_rrf_ivf_exhaustive`` recipe): with
    ``k·rerank_factor ≥ |corpus|`` the coarse stage keeps every
    candidate, so the (rounded, id-tiebroken) ranking is definitionally
    the exact cosine top-k — the oracle-checked catalog entry
    ``embedding_pca_exhaustive`` runs THIS code path in that
    configuration; the production ``rerank_factor=8`` configuration's
    only unverified delta is which candidates the coarse cut drops
    (recall-pinned vs the exact scorer in tests)."""
    if components is None or mean is None:
        components, mean = load_pca_model(spark, path)
    model_dim = int(np.asarray(components).shape[1])
    if dim is None:
        dim = model_dim
    elif dim != model_dim:
        raise ValueError(
            f"pca_topk_from_index dim={dim} does not match the stored "
            f"model's vector width {model_dim} — the re-rank unroll would "
            "silently produce null cosines. Omit dim to use the model's."
        )
    projected = spark.read.parquet(path)
    return pca_topk(
        queries,
        None,  # corpus unused: model + projection both come from the index
        k=k,
        pca_dim=len(components),
        rerank_factor=rerank_factor,
        dim=dim,
        query_id=query_id,
        corpus_id=corpus_id,
        components=components,
        mean=mean,
        projected_corpus=projected,
        round_decimals=round_decimals,
    )


def _local_topk_cols(scores: "np.ndarray", top: int) -> "np.ndarray":
    """Per-row indices of the `top` largest columns of `scores`, ties
    broken by ascending COLUMN POSITION — callers pre-sort the batch by
    corpus id, so position order IS id order and the local cut keeps
    exactly the boundary-tied rows the global (score desc, id asc)
    window would (argpartition picks an arbitrary tied subset; a stable
    argsort on the negated scores does not).  O(b log b) per row vs
    argpartition's O(b) — noise next to the |Q|×b×d matmul that
    precedes it."""
    return np.argsort(-scores, axis=1, kind="stable")[:, :top]


def _blas_out_schemas(q_type, c_type, query_id: str, corpus_id: str):
    """(candidate, empty-result) schemas for the BLAS serve kernels,
    carrying the CALLER'S id types — the expression twins preserve input
    id types, and a hardcoded `long` would make a string-id probe fail
    at Arrow conversion (or return a mismatched empty schema)."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    cand = StructType(
        [
            StructField(query_id, q_type),
            StructField(corpus_id, c_type),
            StructField("cosine", DoubleType()),
        ]
    )
    empty = StructType(
        list(cand.fields) + [StructField("rank", IntegerType(), False)]
    )
    return cand, empty


def pca_topk_from_index_blas(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    rerank_factor: int = 8,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    exclude_self: bool = True,
    components=None,
    mean=None,
    max_query_rows: int = 4096,
) -> DataFrame:
    """BLAS form of :func:`pca_topk_from_index` — the BENCH/SERVE variant
    (the :func:`cosine_topk_blas` convention: oracle-checked entries stay
    on the bit-exact expression path; serving probes take the kernel).

    The bounded query batch is collected and projected DRIVER-side (a
    |Q|×d matmul — microseconds), then ONE ``mapInPandas`` pass over the
    stored projected corpus fuses both stages per Arrow batch: coarse
    squared-L2 against the batch's projections as a single |Q|×b matmul,
    local top-(k·rerank_factor) per query, and the exact full-dim cosine
    of just those survivors — so neither the |Q|·|corpus| coarse pair
    table nor a separate re-rank join ever materializes.  Two windows
    over the (batches·|Q|·k·rf)-row candidate table then apply the global
    coarse cut (d2 asc, id) and the final rank (cosine desc, id) — the
    same two-stage semantics as the expression path, with float64-matmul
    scores (~1 ulp from the unrolled expression — coarse d2 values can
    differ in the last ulp from the codegen chain, so the coarse CUT can
    admit a different boundary candidate; exact-tie behavior, though, is
    deterministic and id-ascending like the global window, via the
    batch-sorted stable cut).  Degenerate vectors (zero-norm /
    non-finite) are OUT OF CONTRACT for the serve twins: numpy and Java
    order NaN differently through the cut, so expression and kernel
    results can diverge on them — screen at build (``__n`` is where to
    look).  Measured at sf0.1: 3.4 s (expression plan, codegen-bound)
    → sub-second; the at-scale win is the matmul kernel replacing a
    per-pair scalar chain, the local win is skipping that plan's janino
    compile."""
    if components is None or mean is None:
        components, mean = load_pca_model(spark, path)
    comps = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)
    q_rows = (
        queries.select(query_id, "embedding").limit(max_query_rows + 1).collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"pca_topk_from_index_blas query side exceeds max_query_rows="
            f"{max_query_rows}: the kernel broadcasts the query matrix in "
            "its closure. Pass a smaller batch, raise the bound "
            "deliberately, or use pca_topk_from_index."
        )
    raw_scan = spark.read.parquet(path)
    cand_schema, empty_schema = _blas_out_schemas(
        queries.schema[query_id].dataType,
        raw_scan.schema["__cid"].dataType,
        query_id,
        corpus_id,
    )
    from pyspark.sql.types import DoubleType, StructField, StructType

    cand_schema = StructType(
        cand_schema.fields[:2]
        + [StructField("__d2", DoubleType())]
        + cand_schema.fields[2:]
    )
    q_ids = np.asarray([r[0] for r in q_rows])
    q_mat = np.asarray([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    if len(q_mat) == 0:
        return spark.createDataFrame([], empty_schema)
    qp = (q_mat - mu) @ comps.T  # |Q| × pca_dim, driver-side
    qp_sq = (qp * qp).sum(axis=1)
    qn = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    m = k * rerank_factor

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # pre-sort by id: the stable coarse cut below then breaks
            # exact-d2 ties by ascending id, matching the global window
            perm = np.argsort(pdf["__cid"].to_numpy(), kind="stable")
            ids = pdf["__cid"].to_numpy()[perm]
            P = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["__p"]])[perm]
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )[perm]
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            d2 = qp_sq[:, None] - 2.0 * (qp @ P.T) + (P * P).sum(axis=1)[None, :]
            if exclude_self:
                d2 = np.where(q_ids[:, None] == ids[None, :], np.inf, d2)
            top = min(m, d2.shape[1])
            idx = np.argsort(d2, axis=1, kind="stable")[:, :top]
            # exact full-dim cosine of the local coarse survivors only
            cos = np.einsum("qd,qmd->qm", qn, Xn[idx])
            sel_d2 = np.take_along_axis(d2, idx, axis=1)
            keep = np.isfinite(sel_d2).ravel()
            yield pd.DataFrame(
                {
                    query_id: np.repeat(q_ids, top)[keep],
                    corpus_id: ids[idx].ravel()[keep],
                    "__d2": sel_d2.ravel()[keep],
                    "cosine": cos.ravel()[keep],
                }
            )

    cand = raw_scan.select("__cid", "__p", "embedding").mapInPandas(
        kernel, schema=cand_schema
    )
    w1 = Window.partitionBy(query_id).orderBy(F.col("__d2"), F.col(corpus_id))
    w2 = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return (
        cand.withColumn("__cr", F.row_number().over(w1))
        .where(F.col("__cr") <= m)
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def cosine_topk_blas(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    exclude_self: bool = True,
    max_query_rows: int = 4096,
) -> DataFrame:
    """Exact cosine top-k via per-Arrow-batch BLAS — the production form
    of the brute-force scan: the query matrix ships once in the kernel
    closure, each corpus batch scores as ONE numpy matmul and emits only
    its per-query local top-k, so the |Q|·|corpus| pair table is never
    materialized (the codegen pair-join in :func:`cosine_topk` builds and
    sorts it; measured 3× slower at sf0.1).  A final window over the tiny
    (batches·|Q|·k) candidate table yields the global top-k.

    Scores are float64 matmuls — same values as the expression path to
    ~1 ulp (BLAS accumulation order differs), so this is the BENCH/SERVE
    variant; the oracle-checked catalog entry stays on the bit-exact
    expression path.  Ties break by corpus id, like cosine_topk —
    including at the per-batch cut (batch-sorted stable argsort, round
    13; argpartition previously kept an arbitrary tied subset).
    Degenerate (zero-norm / non-finite) vectors are out of contract for
    the serve twins, as on every BLAS path.

    The contract is query batch ≪ corpus (the query matrix ships in every
    task's closure); ``max_query_rows`` enforces it — a query side larger
    than the bound raises before anything is collected, instead of
    silently OOMing the driver/executors.  Raise it deliberately if you
    know the d×|Q| matrix fits your closure budget; for corpus×corpus
    scoring use the bucketed/LSH paths instead.
    """
    # bounded probe: collects at most max_query_rows+1 rows even when the
    # caller hands a corpus-sized DataFrame by mistake
    q_rows = (
        queries.select(query_id, "embedding").limit(max_query_rows + 1).collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"cosine_topk_blas query side exceeds max_query_rows="
            f"{max_query_rows}: the kernel broadcasts the full query matrix "
            "in its closure, so an unbounded query side is a driver/executor "
            "OOM. Pass a smaller batch, raise max_query_rows deliberately, "
            "or use the distributed pair-join/LSH variants."
        )
    q_ids = np.asarray([r[0] for r in q_rows])
    q_mat = np.asarray([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # pre-sort by id: the stable cut then breaks exact-score
            # ties by ascending id, matching the global window
            perm = np.argsort(pdf[corpus_id].to_numpy(), kind="stable")
            ids = pdf[corpus_id].to_numpy()[perm]
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )[perm]
            xn = x / np.linalg.norm(x, axis=1, keepdims=True)
            scores = q_mat @ xn.T  # |Q| × batch
            if exclude_self:
                mask = q_ids[:, None] == ids[None, :]
                scores = np.where(mask, -np.inf, scores)
            top = min(k, scores.shape[1])
            idx = _local_topk_cols(scores, top)
            out = {
                query_id: np.repeat(q_ids, top),
                corpus_id: ids[idx].ravel(),
                "cosine": np.take_along_axis(scores, idx, axis=1).ravel(),
            }
            yield pd.DataFrame(out)

    cand_schema, _ = _blas_out_schemas(
        queries.schema[query_id].dataType,
        corpus.schema[corpus_id].dataType,
        query_id,
        corpus_id,
    )
    cand = corpus.select(corpus_id, "embedding").mapInPandas(
        kernel, schema=cand_schema
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return (
        cand.where(F.col("cosine") != float("-inf"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
