"""Operator-library unit tests: dedup (exact/minhash/simhash/jaccard),
similarity (brute force vs LSH recall), text analysis, scalar functions.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from feature_store_healthcare_spark import functions as fx
from feature_store_healthcare_spark.operators import dedup, similarity, text
from feature_store_healthcare_spark.sources import load_table


# ---------------------------------------------------------------- dedup

@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "The  quick brown fox jumps over the lazy dog"),  # exact after normalize
        (4, "completely different text about spark engines and shuffles"),
        (5, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keep_min(docs):
    normed = docs.select("doc_id", dedup.normalize_text("text").alias("norm"))
    kept = dedup.exact_dedup_keep_min(normed, ["norm"], "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 4]


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=2, num_hashes=16, bands=8).collect()
    }
    # exact dups always collide on every band
    assert (1, 3) in pairs and (1, 5) in pairs and (3, 5) in pairs
    # near-dup should collide on at least one band with 8 bands of 2 rows
    assert (1, 2) in pairs
    # unrelated docs don't
    assert not any(4 in p for p in pairs)


def test_minhash_portable_matches_fast_path_shape(docs):
    fast = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    slow = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8, portable=True)
    assert fast.count() == slow.count() == 5
    # exact dups get identical signatures under both hash families
    for df in (fast, slow):
        rows = {r.doc_id: tuple(r)[1:] for r in df.collect()}
        assert rows[1] == rows[3] == rows[5]


def test_minhash_portable_family_exact_bytes(spark):
    """r15 opt: the signature aggregates and band digests are built as
    parsed SQL text — pin the portable family's exact bytes against an
    independent hashlib recomputation so a construction change can never
    silently move the hash family (the round-8 silent-recall hazard)."""
    import hashlib

    df = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id int, text string")
    # n=3 on a 3-token doc → exactly one shingle, so the min over
    # shingles IS the hash of that shingle
    sig = dedup.minhash_signatures(
        df, "doc_id", "text", n=3, num_hashes=4, portable=True
    ).collect()[0]
    for h in range(4):
        want = hashlib.md5(f"{h}:alpha beta gamma".encode()).hexdigest()[:16]
        assert sig[f"mh_{h}"] == want
    banded = {
        r.band: r.bkey
        for r in dedup._banded_signatures(
            dedup.minhash_signatures(
                df, "doc_id", "text", n=3, num_hashes=4, portable=True
            ),
            "doc_id",
            num_hashes=4,
            bands=2,
        ).collect()
    }
    mh = [hashlib.md5(f"{h}:alpha beta gamma".encode()).hexdigest()[:16] for h in range(4)]
    assert banded[0] == hashlib.md5(f"0|{mh[0]}|{mh[1]}".encode()).hexdigest()
    assert banded[1] == hashlib.md5(f"1|{mh[2]}|{mh[3]}".encode()).hexdigest()


def test_ngram_jaccard_exact_values(docs):
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.5).collect()
    }
    assert out[(1, 3)] == 1.0 and out[(1, 5)] == 1.0
    # 8 bigrams each, 7 shared → 7/9
    assert math.isclose(out[(1, 2)], 7 / 9)


def test_simhash_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs(docs, "doc_id", "text", bits=32, max_hamming=6).collect()
    }
    assert pairs[(1, 3)] == 0 and pairs[(1, 5)] == 0
    assert (1, 2) in pairs  # one word differs → small hamming distance
    assert not any(4 in p for p in pairs)


def test_stop_shingle_guard(docs):
    # with max_shingle_freq=1 every shared shingle is dropped → no pairs
    out = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.0, max_shingle_freq=1
    )
    assert out.count() == 0


def test_ngram_jaccard_candidate_budget_tripwire(docs):
    """The quadratic oracle refuses to run when the F2-sketch estimate of
    Σf(f−1)/2 exceeds the budget — a memoized eager pre-flight raising at
    CALL time (round-6 form; the round-5 eager exact groupBy and the
    interim in-plan broadcast-assert both cost every call a pass the memo
    now pays once per corpus); force=True proceeds."""
    with pytest.raises(ValueError, match="candidate join rows.*candidate_budget"):
        dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=2, threshold=0.5, candidate_budget=3
        )
    # the raise memoized the estimate: a second call must still raise
    # (the memo stores the estimate, not the verdict)
    with pytest.raises(ValueError, match="candidate join rows"):
        dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=2, threshold=0.5, candidate_budget=3
        )
    forced = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.5, candidate_budget=3, force=True
    )
    assert {(r.id_a, r.id_b) for r in forced.collect()} >= {(1, 3), (1, 5)}
    # sketch sanity: the memoized estimate is within 2x of the exact
    # Σf(f−1)/2 on this corpus (deterministic hashes → stable value)
    from pyspark.sql import functions as F

    sh = dedup.shingles(docs, "doc_id", "text", n=2, size_col="__sz")
    exact = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("f"))
        .agg(F.sum(F.col("f") * (F.col("f") - 1) / 2).alias("e"))
        .collect()[0]
        .e
    )
    from feature_store_healthcare_spark.caching import data_version

    key = (sh._jdf.queryExecution().analyzed().semanticHash(), data_version(docs))
    stored_plan, est = dedup._JACCARD_GUARD_MEMO[key]
    # the slot carries the analyzed plan for sameResult confirmation — a
    # 32-bit hash collision must not serve another corpus's estimate
    assert stored_plan.sameResult(sh._jdf.queryExecution().analyzed())
    assert exact / 2 <= est <= exact * 2, (est, exact)


# ------------------------------------------------------------ similarity

def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(q, emb, k=5)
    # The synthetic embeddings are near-random (top-5 cosine ≈ 0.3-0.4), the
    # worst case for sign-LSH: P(plane agrees) ≈ 0.6/plane.  4 planes +
    # multiprobe still must beat random-candidate recall by a wide margin.
    approx = similarity.rp_lsh_topk(q, emb, k=5, n_planes=4, multiprobe=True)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.35, f"LSH recall {recall:.2f} too low"


def test_cosine_self_similarity(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = df.where(F.col("vec_id") == 1).select(F.col("vec_id").alias("query_id"), "embedding")
    out = {r.vec_id: r.cosine for r in similarity.cosine_topk(q, df, k=3, dim=2).collect()}
    assert math.isclose(out[2], 1.0)
    assert math.isclose(out[3], 0.0, abs_tol=1e-12)
    assert math.isclose(out[4], -1.0)


def test_embedding_near_dup_pairs(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.01]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = {(r.id_a, r.id_b) for r in
             similarity.embedding_near_dup_pairs(df, threshold=0.99, dim=2, n_planes=4).collect()}
    assert (1, 2) in pairs and len(pairs) == 1


def test_cosine_pairs_exact_tripwire(spark):
    """VERDICT r5 #4: the exact all-pairs cosine oracle gets the same
    candidate-budget guard as the Jaccard oracle — 4 rows is 4·3/2 = 6
    pairs, over a budget of 5, so the memoized eager guard raises at
    CALL time (and again from the memo on a second call); force=True
    proceeds and agrees with the LSH path's ground truth."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.01]), (2, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    for _ in range(2):  # second raise comes from the memo, not a recount
        with pytest.raises(ValueError, match="candidate pairs.*candidate_budget"):
            similarity.cosine_pairs_exact(
                df, threshold=0.99, dim=2, candidate_budget=5
            )
    forced = similarity.cosine_pairs_exact(
        df, threshold=0.99, dim=2, candidate_budget=5, force=True
    )
    assert {(r.id_a, r.id_b) for r in forced.collect()} == {(1, 2)}
    # within budget: no raise, same answer, and the shuffled-build
    # force-path (broadcast_build=False) agrees
    ok = similarity.cosine_pairs_exact(df, threshold=0.99, dim=2)
    assert {(r.id_a, r.id_b) for r in ok.collect()} == {(1, 2)}
    shuffled = similarity.cosine_pairs_exact(
        df, threshold=0.99, dim=2, broadcast_build=False
    )
    assert {(r.id_a, r.id_b) for r in shuffled.collect()} == {(1, 2)}
    # a pinned force run needs no count: a fresh corpus plan must NOT
    # enter the memo when force=True and broadcast_build is pinned
    df2 = df.where(F.col("vec_id") != 4)
    key2 = df2._jdf.queryExecution().analyzed().semanticHash()
    similarity.cosine_pairs_exact(
        df2, threshold=0.99, dim=2, force=True, broadcast_build=True
    ).collect()
    assert key2 not in {k[0] for k in similarity._COSINE_GUARD_MEMO}


# ------------------------------------------------------------------ text

def test_lang_id_stopwords(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "der hund und die katze ist nicht da"),
            (3, "xyzzy qwerty asdf"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang for r in
           df.select("doc_id", text.lang_id(F.col("text")).alias("lang")).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_token_counts_and_fingerprint(spark):
    df = spark.createDataFrame([(1, "Hello,  World! 123")], "doc_id long, text string")
    row = text.quality_features(df, "doc_id", "text").collect()[0]
    assert row.n_tokens == 3
    assert row.punct_ratio > 0 and row.digit_ratio > 0
    fp = text.fingerprints(df, "doc_id", "text").collect()[0]
    fp2 = text.fingerprints(
        spark.createDataFrame([(2, "hello,  world! 123")], "doc_id long, text string"),
        "doc_id", "text",
    ).collect()[0]
    assert fp.fingerprint == fp2.fingerprint  # case/whitespace-insensitive


def test_bpe_train_classic_example(spark):
    """Iterative BPE trainer (round-8 VERDICT #6) on the classic
    Sennrich-style toy corpus: the learned merge sequence is exactly the
    textbook one (es → est, lo → low, ...), counts weight by word
    frequency, and ties break (count desc, lhs, rhs)."""
    docs = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest newest "
             "newest newest newest widest widest widest")],
        "doc_id int, text string",
    )
    got = [tuple(r) for r in text.bpe_train(docs, "text", n_merges=4).collect()]
    assert got == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "l", "o", "lo", 7),
        (4, "lo", "w", "low", 7),
    ]
    # greedy left-to-right non-overlap: rule (a,a) on 'aaa' merges once
    # per pass — after merging 'aa', the leftover 'a' pairs with it NEXT
    # round, and the round-2 winner is deterministic
    aa = spark.createDataFrame([(1, "aaa aaa")], "doc_id int, text string")
    got2 = [tuple(r) for r in text.bpe_train(aa, "text", n_merges=3).collect()]
    # round 1 COUNTS both overlapping (a,a) windows (2 per word × 2
    # words = 4) but MERGES greedily non-overlapping: 'aaa' → [aa, a]
    assert got2[0] == (1, "a", "a", "aa", 4)
    assert got2[1] == (2, "aa", "a", "aaa", 2)
    assert len(got2) == 2  # fully merged: early stop before n_merges
    # schema is stable even when nothing merges
    single = spark.createDataFrame([(1, "x y z")], "doc_id int, text string")
    empty = text.bpe_train(single, "text", n_merges=2)
    assert empty.columns == ["step", "lhs", "rhs", "merged", "pair_count"]
    assert empty.count() == 0


def test_bpe_encode_round_trip(spark):
    """bpe_encode (round-9 VERDICT #2) applies a learned merge table as
    sequential greedy passes — encoding the TRAINING corpus reproduces
    the trainer's own segmentation (the self-consistency contract), the
    classic example tokenizes to the textbook pieces, and the multi-pass
    checkpointed path (rules_per_pass < |rules|) is bit-identical to the
    single-pass chain."""
    docs = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest newest "
             "newest newest newest widest widest widest")],
        "doc_id int, text string",
    )
    merges = text.bpe_train(docs, "text", n_merges=4)
    enc = text.bpe_encode(docs, "doc_id", "text", merges).collect()
    assert len(enc) == 1
    row = enc[0]
    # es→est, lo→low learned; 'low'→[low], 'lower'→[low,e,r],
    # 'newest'→[n,e,w,est], 'widest'→[w,i,d,est]
    assert row.n_words == 16
    toks = row.tokens
    assert toks[:5] == ["low"] * 5
    assert toks[5:11] == ["low", "e", "r"] * 2
    assert toks[11:15] == ["n", "e", "w", "est"]
    assert row.n_tokens == len(toks)

    # multi-pass (2 rules per select + localCheckpoint) ≡ single chain,
    # and the list-of-pairs form ≡ the DataFrame form
    e1 = sorted(map(tuple, text.bpe_encode(docs, "doc_id", "text", merges,
                                           rules_per_pass=2).collect()))
    pairs = [(r.lhs, r.rhs) for r in merges.orderBy("step").collect()]
    e2 = sorted(map(tuple, text.bpe_encode(docs, "doc_id", "text",
                                           pairs).collect()))
    assert sorted(map(tuple, enc)) == e1 == e2

    # the trainer frame's attached driver-side rules (encode skips the
    # orderBy+collect job) must equal the collected path — a
    # frame WITHOUT the attribute (rebuilt from the same rows) collects
    assert getattr(merges, "_fshs_bpe_rules", None) == pairs
    rebuilt = spark.createDataFrame(merges.collect(), merges.schema)
    assert getattr(rebuilt, "_fshs_bpe_rules", None) is None
    e3 = sorted(map(tuple, text.bpe_encode(docs, "doc_id", "text",
                                           rebuilt).collect()))
    assert e1 == e3

    # greedy non-overlap parity with the trainer: (a,a) on 'aaa' → [aa,a]
    aa = spark.createDataFrame([(1, "aaa aaa")], "doc_id int, text string")
    got = text.bpe_encode(aa, "doc_id", "text", [("a", "a")]).collect()[0]
    assert got.tokens == ["aa", "a", "aa", "a"]
    ab = spark.createDataFrame([(1, "abcab")], "doc_id int, text string")
    got = text.bpe_encode(ab, "doc_id", "text", [("a", "b")]).collect()[0]
    assert got.tokens == ["ab", "c", "ab"]

    # a doc with no words yields no row; unknown words fall back to chars
    mixed = spark.createDataFrame(
        [(1, "zzz"), (2, None)], "doc_id int, text string"
    )
    out = text.bpe_encode(mixed, "doc_id", "text", merges).collect()
    assert len(out) == 1 and out[0].tokens == ["z", "z", "z"]


def test_bpe_ish_estimate(spark):
    df = spark.createDataFrame([(1, "internationalization, no?")], "doc_id long, text string")
    n = df.select(text.bpe_ish_token_estimate(F.col("text")).alias("n")).collect()[0].n
    assert n >= 5  # long word ≈ len/4 pieces + 2 punctuation


# ------------------------------------------------------------- functions

def test_sha_ids_match_python(spark):
    import hashlib

    df = spark.createDataFrame([("hba1c", "1.0.0", "patient")], "n string, v string, e string")
    got = df.select(fx.feature_id("n", "v", "e").alias("fid")).collect()[0].fid
    want = "feat_" + hashlib.sha256(b"hba1c:1.0.0:patient").hexdigest()[:16]
    assert got == want


def test_acl_allowed(spark):
    df = spark.createDataFrame(
        [("none", []), ("direct", ["admin"]), ("indirect", ["analyst", "billing"])],
        "phi string, roles array<string>",
    )
    got = [r.ok for r in df.select(fx.acl_allowed("phi", "roles", ["analyst"]).alias("ok")).collect()]
    assert got == [True, False, True]
    got_none = [r.ok for r in df.select(fx.acl_allowed("phi", "roles", []).alias("ok")).collect()]
    assert got_none == [True, False, False]


def test_approx_count_distinct(spark, sf_dir):
    """OP-53 scale path: approx distinct within 5% of exact."""
    ev = load_table(spark, sf_dir, "events")
    exact = ev.select(F.countDistinct("user_id")).collect()[0][0]
    approx = ev.select(F.approx_count_distinct("user_id", 0.01)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_ivf_topk_structure_and_recall(spark):
    from feature_store_healthcare_spark.operators import similarity
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(q, emb, k=5, query_id="query_id")
    approx = similarity.ivf_topk(q, emb, k=5, n_centroids=8, nprobe=4)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    # structural: every query answered with exactly k ranked rows
    per_q = {}
    for r in approx.collect():
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
    # recall vs brute force: near-random embeddings are LSH/IVF-hostile, so
    # nprobe=4 of 8 centroids must still recover a reasonable fraction
    assert len(e & a) / len(e) >= 0.4


def test_kmeans_refine_centroids(spark):
    """Round-8 VERDICT #3: Lloyd refinement of the hash-sampled IVF seed.
    Deterministic (same input → identical centroids across calls and
    partitionings, thanks to rounded updates), recall-improving on the
    driver embeddings at nprobe=4/16, keeps every centroid id, and
    rounds=0 is the identity."""
    from feature_store_healthcare_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seed = similarity.ivf_centroids(emb, n_centroids=16)
    assert similarity.kmeans_refine_centroids(emb, seed, rounds=0) is seed
    r1 = similarity.kmeans_refine_centroids(emb, seed, rounds=2)
    r2 = similarity.kmeans_refine_centroids(
        emb.repartition(7), seed, rounds=2
    )
    assert [c for c, _ in r1] == [c for c, _ in seed]  # ids preserved
    assert r1 == r2, "refinement must not depend on input partitioning"
    assert r1 != seed  # it actually moved
    # recall improves over the raw seed (0.438 → ~0.55 measured; pin the
    # direction with margin, not the exact value)
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id)
             for r in similarity.cosine_topk(q, emb, k=10,
                                             query_id="query_id").collect()}

    def recall(cents):
        got = {(r.query_id, r.vec_id)
               for r in similarity.ivf_topk(
                   q, emb, k=10, nprobe=4, centroids=cents,
                   assigned=similarity.ivf_assign(emb, cents)).collect()}
        return len(exact & got) / len(exact)

    assert recall(r1) > recall(seed) + 0.05
    # empty-list robustness: a far-away junk centroid attracts nothing
    # and keeps its previous vector instead of collapsing to zeros
    junk = seed + [(99, [1e6] * len(seed[0][1]))]
    ref = similarity.kmeans_refine_centroids(emb, junk, rounds=1)
    got_99 = dict(ref)[99]
    assert got_99 == [1e6] * len(seed[0][1]) or any(got_99)


def test_kmeans_refine_ignores_degenerate_vectors(spark):
    """Round-9 ADVICE (low): a zero vector makes ``__cv[i] / __cn``
    null/NaN and a shorter-than-dim embedding makes ``__cv[i]`` null;
    either poisons the centroid avg (NaN is truthy under ``any``) and
    degrades every later assignment round.  Degenerate rows are filtered
    from the update input, so a poisoned corpus refines to EXACTLY the
    clean corpus's centroids — and every coordinate stays finite."""
    import math

    from feature_store_healthcare_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    dim = len(emb.select("embedding").first()[0])
    seed = similarity.ivf_centroids(emb, n_centroids=8)
    clean = similarity.kmeans_refine_centroids(emb, seed, rounds=2)
    bad = spark.createDataFrame(
        [(1_000_001, [0.0] * dim, 0), (1_000_002, [0.5] * (dim - 3), 0)],
        schema=emb.schema,
    )
    poisoned = similarity.kmeans_refine_centroids(
        emb.unionByName(bad), seed, rounds=2
    )
    assert poisoned == clean
    assert all(math.isfinite(x) for _, v in poisoned for x in v)


def test_ivf_stored_index_matches_and_prunes(spark, tmp_path):
    """The stored IVF index (build_ivf_index → ivf_topk_from_index)
    reproduces the in-session ivf_topk EXACTLY (shared nearest-list numpy
    path ⇒ identical list assignment and ties), reloads its centroids
    from disk, and probes with a static __list IN partition filter so
    only the probed inverted-list directories are scanned."""
    from feature_store_healthcare_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf")
    cents = similarity.build_ivf_index(emb, path, n_centroids=8)
    assert similarity.load_ivf_centroids(spark, path) == sorted(cents)
    live = similarity.ivf_topk(
        q, emb, k=5, n_centroids=8, nprobe=4,
        centroids=cents, assigned=similarity.ivf_assign(emb, cents),
    )
    stored = similarity.ivf_topk_from_index(spark, path, q, k=5, nprobe=4)
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted(map(tuple, live.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, stored.collect()), key=lambda t: (t[0], t[3])
    )
    # static partition pruning is IN the plan, not a hope
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__list" in plan
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*__list[^\]]*IN \(", plan)
    assert m, plan[:2000]
    # bounded-collect contract: an oversized query batch fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_query_rows"):
        similarity.ivf_topk_from_index(spark, path, emb.select(
            F.col("vec_id").alias("query_id"), "embedding"
        ), k=5, nprobe=2, max_query_rows=10)
    # empty query batch (a daily run with no arrivals): empty result with
    # the live schema, never a numpy axis error (round-7 review finding #5)
    empty = similarity.ivf_topk_from_index(
        spark, path, q.where(F.lit(False)), k=5, nprobe=4
    )
    assert empty.columns == stored.columns
    assert empty.count() == 0
    # empty/corrupt centroid side file: both probes must fail with the
    # contract message, never an opaque numpy error (r13 ADVICE #5)
    with _pytest.raises(ValueError, match="no centroids"):
        similarity.ivf_topk_from_index(spark, path, q, k=5, centroids=[])
    with _pytest.raises(ValueError, match="no centroids"):
        similarity.ivf_topk_from_index_blas(spark, path, q, k=5, centroids=[])


def test_ivf_auto_nprobe_default(spark, tmp_path):
    """nprobe=None defaults to auto_nprobe = half the lists (round-10
    VERDICT #7: the blanket nprobe=4 default shipped the measured 0.612
    hostile-recall end; half-the-lists is the measured ≥0.8 point).  The
    default call must be bit-identical to the explicit half-width call on
    both the live and stored paths."""
    from feature_store_healthcare_spark.operators import similarity

    assert similarity.auto_nprobe(16) == 8
    assert similarity.auto_nprobe(15) == 8  # ceil
    assert similarity.auto_nprobe(1) == 1  # floor at one probed list

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf")
    cents = similarity.build_ivf_index(emb, path, n_centroids=8)
    auto = similarity.ivf_topk_from_index(spark, path, q, k=5)
    explicit = similarity.ivf_topk_from_index(spark, path, q, k=5, nprobe=4)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )
    assigned = similarity.ivf_assign(emb, cents)
    live_auto = similarity.ivf_topk(
        q, emb, k=5, n_centroids=8, centroids=cents, assigned=assigned
    )
    live_explicit = similarity.ivf_topk(
        q, emb, k=5, n_centroids=8, nprobe=4, centroids=cents, assigned=assigned
    )
    assert sorted(map(tuple, live_auto.collect())) == sorted(
        map(tuple, live_explicit.collect())
    )


def test_ivf_index_append_compact_lifecycle(spark, tmp_path):
    """append_ivf_index closes the ANN index lifecycle (build → probe →
    append → compact, the band/postings pattern): assignment against the
    ORIGINAL centroids is per-vector deterministic, so an appended index
    probes bit-identically to one assigned from the full corpus in a
    single build, and compaction collapses the per-append files to one
    per inverted list without changing a single result row."""
    import glob
    import os

    from feature_store_healthcare_spark import tableops
    from feature_store_healthcare_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.where(F.col("vec_id") % 3 != 0)
    deltas = [
        emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 == 0)),
        emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 == 1)),
    ]
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf_app")
    cents = similarity.build_ivf_index(base, path, n_centroids=8)
    for d in deltas:
        similarity.append_ivf_index(d, path)
    # appended ≡ one-shot full-corpus index under the SAME centroids
    full_path = str(tmp_path / "ivf_full")
    oneshot_rows = similarity.ivf_assign(emb, cents)
    tableops.write_version(
        full_path,
        lambda v: oneshot_rows.write.partitionBy("__list").parquet(
            os.path.join(v, "rows")
        ),
    )
    key = lambda t: (t[0], t[3])  # noqa: E731
    appended = similarity.ivf_topk_from_index(spark, path, q, k=5, nprobe=4)
    oneshot = similarity.ivf_topk_from_index(
        spark, full_path, q, k=5, nprobe=4, centroids=cents
    )
    assert sorted(map(tuple, appended.collect()), key=key) == sorted(
        map(tuple, oneshot.collect()), key=key
    )
    # append on a never-built path fails before writing anything
    ghost = str(tmp_path / "ivf_ghost")
    with pytest.raises(Exception):
        similarity.append_ivf_index(deltas[0], ghost)
    assert not os.path.exists(ghost)
    # compaction: one file per list in the new version, results unchanged
    similarity.compact_ivf_index(spark, path)
    rows = os.path.join(tableops.current_dir(path), "rows")
    for d in glob.glob(os.path.join(rows, "__list=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1
    compacted = similarity.ivf_topk_from_index(spark, path, q, k=5, nprobe=4)
    assert sorted(map(tuple, compacted.collect()), key=key) == sorted(
        map(tuple, oneshot.collect()), key=key
    )


def test_ivf_centroids_deterministic(spark):
    from feature_store_healthcare_spark.operators import similarity
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    c1 = similarity.ivf_centroids(emb, 8)
    c2 = similarity.ivf_centroids(emb, 8)
    assert c1 == c2 and len(c1) == 8


def test_dot_unrolled_matches_fold(spark):
    from feature_store_healthcare_spark.operators import similarity
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.join(b, on=F.col("ia") < F.col("ib"))
    both = pairs.select(
        similarity.cosine_similarity("va", "vb").alias("fold"),
        similarity.cosine_similarity("va", "vb", dim=64).alias("unrolled"),
    )
    # bit-identical: same multiplications, same left-to-right accumulation
    assert both.where(F.col("fold") != F.col("unrolled")).count() == 0


def test_hash_split_disjoint_complete_deterministic(spark):
    from feature_store_healthcare_spark.operators import sampling

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    tagged = sampling.hash_split(docs, "doc_id", w)
    n = docs.count()
    counts = {r["split"]: r["n"] for r in tagged.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == n  # complete: every row gets exactly one label
    assert set(counts) <= set(w)
    # deterministic: same assignment on a re-built, re-partitioned lineage
    again = sampling.hash_split(docs.repartition(7), "doc_id", w)
    assert tagged.select("doc_id", "split").exceptAll(again.select("doc_id", "split")).count() == 0
    # ratios roughly honored (binomial tolerance at n=500)
    assert abs(counts.get("train", 0) / n - 0.8) < 0.08


def test_hash_split_salt_changes_assignment(spark):
    from feature_store_healthcare_spark.operators import sampling

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    w = {"a": 0.5, "b": 0.5}
    s1 = sampling.hash_split(docs, "doc_id", w).select("doc_id", "split")
    s2 = sampling.hash_split(docs, "doc_id", w, salt="other").select("doc_id", "split")
    assert s1.exceptAll(s2).count() > 0


def test_stratified_sample_exact_k_and_stable(spark):
    from feature_store_healthcare_spark.operators import sampling

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    k = 5
    samp = sampling.stratified_sample(docs, ["lang"], "doc_id", k)
    per = {r["lang"]: r["n"] for r in samp.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    avail = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n_avail in avail.items():
        assert per.get(lang, 0) == min(k, n_avail)
    # membership is a subset of the source and stable across runs
    assert samp.join(docs, "doc_id", "left_anti").count() == 0
    again = sampling.stratified_sample(docs.repartition(5), ["lang"], "doc_id", k)
    assert samp.select("doc_id").exceptAll(again.select("doc_id")).count() == 0


def test_redact_phi_patterns(spark):
    rows = [
        ("contact jane.doe+x@example.org or 555-123-4567", "contact [EMAIL] or [PHONE]"),
        ("SSN 123-45-6789 on file", "SSN [SSN] on file"),
        ("MRN: 00123456 admitted 2024-03-01", "[MRN] admitted [DATE]"),
        ("call (555) 123-4567 today", "call [PHONE] today"),
        ("no phi here", "no phi here"),
    ]
    df = spark.createDataFrame(rows, "text string, expected string")
    out = df.select(
        fx.redact_phi("text").alias("got"),
        "expected",
        fx.phi_hit_count("text").alias("hits"),
    ).collect()
    for r in out:
        assert r["got"] == r["expected"], (r["got"], r["expected"])
    hits = [r["hits"] for r in out]
    assert hits == [2, 1, 2, 1, 0]


def test_redact_phi_email_digits_not_split_by_phone_rule(spark):
    df = spark.createDataFrame([("mail 555-123-4567@clinic.example.com now",)], "text string")
    got = df.select(fx.redact_phi("text").alias("t")).first()["t"]
    assert got == "mail [EMAIL] now"


# ------------------------------------------- connected components / clustering

def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4-5 (transitive cluster), island pair 10-11, plus 20-21-22
    # joined through a hub: A~B, B~C but never A~C.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    # a 40-node path graph needs pointer jumping to converge within the
    # iteration budget (plain propagation would need ~40 rounds)
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    out = dedup.connected_components(pairs, max_iterations=10).collect()
    assert {r.component for r in out} == {0}
    assert len(out) == n + 1


def test_cluster_survivors_keepers_and_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    rows = {r.doc_id: r for r in dedup.cluster_survivors(docs, pairs, "doc_id").collect()}
    assert len(rows) == 7
    assert [rows[i].component for i in range(7)] == [0, 1, 1, 1, 4, 5, 5]
    assert [rows[i].cluster_size for i in range(7)] == [1, 3, 3, 3, 1, 2, 2]
    assert [rows[i].is_keeper for i in range(7)] == [True, True, False, False, True, True, False]


def test_repetition_features_flags_spam(spark):
    rows = [
        (1, "buy now buy now buy now buy now buy now"),
        (2, "a quick brown fox jumps over one lazy dog today"),
        (3, "word"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.repetition_features(df, "doc_id", "text").collect()}
    spam, clean, single = out[1], out[2], out[3]
    # 10 tokens, 2 distinct -> 0.8 repeated; "buy now" dominates bigrams
    assert spam.n_tokens == 10 and spam.n_distinct_tokens == 2
    assert spam.dup_token_frac == pytest.approx(0.8)
    assert spam.top_bigram == "buy now" and spam.top_bigram_count == 5
    assert spam.is_repetitive
    assert clean.dup_token_frac == 0.0 and not clean.is_repetitive
    # single-token doc degrades gracefully: one pseudo-bigram, no flag
    assert single.n_tokens == 1 and single.top_bigram == "word"
    assert not single.is_repetitive


# ------------------------------------------------- drift monitoring

def test_entropy_constant_and_uniform(spark):
    import math
    from feature_store_healthcare_spark.operators import drift

    rows = [("flat", 5.0)] * 20 + [("uni", float(v)) for v in range(10)] * 3
    df = spark.createDataFrame(rows, "feature string, value double")
    got = {r.feature: r for r in drift.entropy(df, ["feature"], "value").collect()}
    assert got["flat"].entropy_nats == 0.0 and got["flat"].n_buckets == 1
    assert got["uni"].n_buckets == 10
    assert got["uni"].entropy_nats == pytest.approx(math.log(10), abs=1e-6)


def test_psi_zero_on_identical_and_large_on_shift(spark):
    from feature_store_healthcare_spark.operators import drift

    base = [("f", float(v % 50)) for v in range(400)]
    expected = spark.createDataFrame(base, "feature string, value double")
    same = spark.createDataFrame(base, "feature string, value double")
    shifted = spark.createDataFrame(
        [("f", 45.0 + (v % 5)) for v in range(400)], "feature string, value double"
    )
    assert drift.psi(expected, same, ["feature"], "value").first().psi == 0.0
    moved = drift.psi(expected, shifted, ["feature"], "value").first()
    assert moved.psi > 0.25 and moved.n_expected == 400 and moved.n_actual == 400
    # actual-only keys have no reference distribution -> dropped
    alien = spark.createDataFrame([("ghost", 1.0)], "feature string, value double")
    assert drift.psi(expected, alien, ["feature"], "value").count() == 1


def test_mutual_information_independent_and_determined(spark):
    import math
    from feature_store_healthcare_spark.operators import drift

    # independent: label ⫫ value -> MI = 0 (uniform 2x2 grid)
    indep = spark.createDataFrame(
        [(l, v) for l in ("a", "b") for v in ("x", "y") for _ in range(25)],
        "label string, bucket string",
    )
    assert drift.mutual_information(indep, "label", "bucket").first().mutual_info_nats == 0.0
    # fully determined: value == label -> MI = H(label) = ln(2)
    det = spark.createDataFrame(
        [("a", "x")] * 50 + [("b", "y")] * 50, "label string, bucket string"
    )
    r = drift.mutual_information(det, "label", "bucket").first()
    assert r.mutual_info_nats == pytest.approx(math.log(2), abs=1e-6)
    assert r.n_rows == 100 and r.n_cells == 2


# ------------------------------------------------------------ domain mixing


def test_weighted_mix_integer_weights_exact(spark):
    from feature_store_healthcare_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b") for i in range(100)], "id long, g string"
    )
    mixed = sampling.weighted_mix(df, "g", "id", {"a": 3.0, "b": 0.0})
    counts = {r.g: r.n for r in mixed.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts.get("a") == 150  # every 'a' row exactly 3×
    assert "b" not in counts       # weight 0 drops the domain entirely
    # replicas are numbered so they stay distinguishable
    copies = mixed.where(F.col("id") == 0).select("mix_copy").collect()
    assert sorted(c.mix_copy for c in copies) == [1, 2, 3]


def test_weighted_mix_fractional_weight_is_deterministic_and_close(spark):
    from feature_store_healthcare_spark.operators import sampling

    df = spark.createDataFrame([(i, "w") for i in range(2000)], "id long, g string")
    m1 = sampling.weighted_mix(df, "g", "id", {"w": 0.5})
    m2 = sampling.weighted_mix(df.repartition(7), "g", "id", {"w": 0.5})
    ids1 = sorted(r.id for r in m1.select("id").collect())
    ids2 = sorted(r.id for r in m2.select("id").collect())
    assert ids1 == ids2                      # partitioning-independent
    assert 900 <= len(ids1) <= 1100          # ~Binomial(2000, .5)


# ------------------------------------------------------------ decontamination


def test_ngram_overlap_flags_only_real_overlap(spark):
    from feature_store_healthcare_spark.operators import dedup as dd

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # contains bench 5-gram
            (2, "one two three four five six"),           # disjoint
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dd.ngram_overlap(corpus, bench, "doc_id", "text", n=5).collect()}
    assert set(out) == {1}
    assert out[1].n_shared_shingles == 1 and out[1].n_benchmark_docs == 1


def test_funnel_strict_ordering(spark, sf_dir):
    """A click BEFORE the first view must not count as step 2; a purchase
    before the qualifying click must not count as step 3."""
    import datetime as dt

    from feature_store_healthcare_spark import queries as catalog

    rows = [
        # u1: click at 09:00 (before view!), view 10:00, purchase 11:00
        #  → s1 yes, s2 no (no click after view), s3 no
        (1, dt.datetime(2024, 1, 1, 9), 1, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 10), 1, "view", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 11), 1, "purchase", 1.0, "{}"),
        # u2: view → click → purchase, fully ordered → all steps
        (4, dt.datetime(2024, 1, 1, 9), 2, "view", 1.0, "{}"),
        (5, dt.datetime(2024, 1, 1, 10), 2, "click", 1.0, "{}"),
        (6, dt.datetime(2024, 1, 1, 11), 2, "purchase", 1.0, "{}"),
        # u3: purchase before click: view → purchase → click → s3 no
        (7, dt.datetime(2024, 1, 1, 9), 3, "view", 1.0, "{}"),
        (8, dt.datetime(2024, 1, 1, 10), 3, "purchase", 1.0, "{}"),
        (9, dt.datetime(2024, 1, 1, 11), 3, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.createOrReplaceTempView("__funnel_events")
    # drive the same logic as the catalog query via its building blocks
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = df.select(
        "user_id", "event_type", "ts", "event_id",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w).alias("fv"),
    )
    o2 = o.withColumn(
        "fc",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & F.col("fv").isNotNull()
                & (F.col("ts") > F.col("fv")),
                F.col("ts"),
            )
        ).over(w),
    )
    per = o2.groupBy("user_id").agg(
        F.max(F.when(F.col("fv").isNotNull(), 1).otherwise(0)).alias("s1"),
        F.max(F.when(F.col("fc").isNotNull(), 1).otherwise(0)).alias("s2"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("fc").isNotNull()
                & (F.col("ts") > F.col("fc")),
                1,
            ).otherwise(0)
        ).alias("s3"),
    )
    got = {r.user_id: (r.s1, r.s2, r.s3) for r in per.collect()}
    assert got[1] == (1, 0, 0)
    assert got[2] == (1, 1, 1)
    assert got[3] == (1, 1, 0)


def test_incremental_minhash_cross_set_only(spark, sf_dir):
    """Cross-set LSH: every pair is (new, corpus) — never corpus×corpus or
    new×new — and the pair set equals the full self-join's pairs filtered
    to cross-set membership (same signatures, same bands)."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    cross = {
        (r.new_id, r.corpus_id)
        for r in dedup.minhash_lsh_pairs_cross(
            new, corpus, "doc_id", "text", portable=True
        ).collect()
    }
    assert cross, "expected near-dup candidates across the split"
    assert all(a % 5 == 0 and b % 5 != 0 for a, b in cross)
    full = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", portable=True
        ).collect()
    }
    want = {
        (a, b) if a % 5 == 0 else (b, a)
        for a, b in full
        if (a % 5 == 0) != (b % 5 == 0)
    }
    assert cross == want


def test_incremental_minhash_stored_bands_equivalent(spark, sf_dir):
    """The steady-state form — probing a prebuilt corpus band table —
    returns exactly the recompute path's pairs; passing both or neither
    corpus inputs raises."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    recompute = {
        (r.new_id, r.corpus_id)
        for r in dedup.minhash_lsh_pairs_cross(
            new, corpus, "doc_id", "text", portable=True
        ).collect()
    }
    bands = dedup._banded_signatures(
        dedup.minhash_signatures(corpus, "doc_id", "text", portable=True),
        "doc_id", 16, 4,
    )
    stored = {
        (r.new_id, r.corpus_id)
        for r in dedup.minhash_lsh_pairs_cross(
            new, None, "doc_id", "text", portable=True, corpus_bands=bands
        ).collect()
    }
    assert stored == recompute and stored
    with pytest.raises(ValueError, match="exactly one"):
        dedup.minhash_lsh_pairs_cross(new, corpus, "doc_id", "text", corpus_bands=bands)
    with pytest.raises(ValueError, match="exactly one"):
        dedup.minhash_lsh_pairs_cross(new, None, "doc_id", "text")


def test_append_band_index_closes_incremental_loop(spark, sf_dir, tmp_path):
    """The daily loop (probe → dedup → admit → index) is closed operator
    surface: append_band_index bootstraps the bucketed band table on first
    call, appends the delta's bands after admission, and the next day's
    probe against the stored index (a) finds yesterday's admitted docs and
    (b) equals the recompute path over corpus ∪ delta exactly."""
    from feature_store_healthcare_spark.stores import read_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 5 != 1))
    day1 = docs.where(F.col("doc_id") % 5 == 0)
    day2 = docs.where(F.col("doc_id") % 5 == 1)
    path = str(tmp_path / "band_index")
    try:
        # bootstrap, then admit day1 and append its bands
        dedup.append_band_index(
            corpus, "doc_id", "text", "band_idx_t", path, 4, portable=True
        )
        dedup.append_band_index(
            day1, "doc_id", "text", "band_idx_t", path, 4, portable=True
        )
        stored = read_table(spark, "band_idx_t")
        # a near-dup of a day-1 doc arriving on day 2 MUST be caught now
        twin = day1.where(F.col("doc_id") == 5).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        hits = {
            (r.new_id, r.corpus_id)
            for r in dedup.minhash_lsh_pairs_cross(
                twin, None, "doc_id", "text", portable=True, corpus_bands=stored
            ).collect()
        }
        assert (1_000_005, 5) in hits
        # the full day-2 probe equals re-deriving both sides from text
        got = {
            (r.new_id, r.corpus_id)
            for r in dedup.minhash_lsh_pairs_cross(
                day2, None, "doc_id", "text", portable=True, corpus_bands=stored
            ).collect()
        }
        want = {
            (r.new_id, r.corpus_id)
            for r in dedup.minhash_lsh_pairs_cross(
                day2, corpus.unionByName(day1), "doc_id", "text", portable=True
            ).collect()
        }
        assert got == want and got
        # a mismatched bucket layout is rejected, not silently appended
        with pytest.raises(Exception, match="[Bb]ucket"):
            dedup.append_band_index(
                day2, "doc_id", "text", "band_idx_t", path, 8, portable=True
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS band_idx_t")


def test_cosine_topk_blas_matches_expression_path(spark, sf_dir):
    """The BLAS kernel scan returns the same neighbors as the bit-exact
    expression path (scores to ~1 ulp, identical ids/ranks)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id): r for r in similarity.cosine_topk(q, emb, k=5).collect()}
    blas = {(r.query_id, r.vec_id): r for r in similarity.cosine_topk_blas(q, emb, k=5).collect()}
    assert set(exact) == set(blas)
    for key in exact:
        assert abs(exact[key].cosine - blas[key].cosine) < 1e-12
        assert exact[key].rank == blas[key].rank


def test_cluster_aware_split_no_leakage(spark, sf_dir):
    """Near-dup clusters never straddle splits, and every doc lands in
    exactly one split."""
    from feature_store_healthcare_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, portable=True
    )
    labeled = dedup.cluster_survivors(docs, pairs, "doc_id")
    sp = labeled.withColumn(
        "split",
        sampling.split_label(
            "component", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="clsplit"
        ),
    )
    assert sp.count() == docs.count()
    spans = (
        sp.groupBy("component")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .count()
    )
    assert spans == 0
    # multi-doc clusters exist in this corpus, so the invariant is exercised
    multi = (
        sp.groupBy("component").count().where(F.col("count") > 1).count()
    )
    assert multi > 0


# -------------------------------------------- dedup candidate-join scale paths

def test_minhash_lsh_join_strategies_agree(spark, sf_dir):
    """The broadcast, shuffled, and auto-sized candidate joins are three
    physical strategies for ONE semantic: identical pair sets.  The
    shuffled path is the corpus-scale one (the band table at 100 TB is
    #docs x bands rows — far beyond broadcast range)."""
    docs = load_table(spark, sf_dir, "documents")
    kw = dict(n=3, num_hashes=16, bands=4)
    bcast = {tuple(r) for r in dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", broadcast_candidates=True, **kw).collect()}
    shuf = {tuple(r) for r in dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", broadcast_candidates=False, **kw).collect()}
    auto = {tuple(r) for r in dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", **kw).collect()}
    assert bcast == shuf == auto
    assert len(bcast) > 0


def test_simhash64_production_equals_bruteforce(spark, sf_dir):
    """The production 64-bit xxhash64 simhash path (wide pigeonhole
    chunks, broadcast OR shuffled candidate join) returns EXACTLY the
    pairs an O(n^2) XOR-popcount scan finds — banding is a pure
    candidate-generation optimization, never a recall trade."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.simhash_signatures(
        docs, "doc_id", "text", bits=64, portable=False
    ).persist()
    brute = {
        tuple(r)
        for r in (
            sig.alias("a")
            .join(sig.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ).alias("hamming"),
            )
            .where(F.col("hamming") <= 3)
            .collect()
        )
    }
    for flag in (True, False):
        fast = {
            tuple(r)
            for r in dedup.simhash_pairs(
                docs, "doc_id", "text", bits=64, max_hamming=3,
                broadcast_candidates=flag,
            ).collect()
        }
        assert fast == brute
    assert len(brute) > 0
    sig.unpersist()


def test_simhash64_candidates_subquadratic(spark, sf_dir):
    """Candidate-volume regression pin: at sf0.01 (500 docs, 124,750
    possible pairs) the 64-bit/21-bit-chunk banding inspects <1% of all
    pairs, >=10x fewer than the 32-bit/10-bit-chunk oracle form whose
    1,024-value chunks go ~quadratic long before 100 TB.  (Measured at
    round 4: 534 vs 17,675 candidates.)  sf0.01 (not the suite's sf0.001)
    because 50 docs give too few collisions for a stable ratio; the dir is
    derived from the conftest fixture so the data root stays one knob."""
    import os

    sf001 = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(sf001):
        pytest.skip(f"sibling sf0.01 dataset not present at {sf001}")
    docs = load_table(spark, sf001, "documents")
    n = docs.count()
    all_pairs = n * (n - 1) // 2
    sig32 = dedup.simhash_signatures(docs, "doc_id", "text", bits=32, portable=True)
    c32 = dedup.simhash_candidates(sig32, "doc_id", 32, 2).count()
    sig64 = dedup.simhash_signatures(docs, "doc_id", "text", bits=64, portable=False)
    c64 = dedup.simhash_candidates(sig64, "doc_id", 64, 2).count()
    assert c64 < 0.01 * all_pairs
    assert c64 * 10 < c32


def test_cosine_topk_blas_query_bound_guard(spark, sf_dir):
    """The BLAS kernel's contract is query batch << corpus (the query
    matrix rides in every task closure).  An oversized query side must
    fail fast BEFORE collecting — not OOM the driver."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.cosine_topk_blas(q, emb, k=3, max_query_rows=10)
    # at or under the bound it runs
    out = similarity.cosine_topk_blas(
        q.limit(5), emb, k=3, max_query_rows=10
    )
    assert out.count() > 0


def test_cluster_survivors_join_strategies_agree(spark, sf_dir):
    """cluster_survivors' component join: broadcast, shuffled, and
    auto-sized strategies give identical verdicts (the component table is
    corpus-sized in the worst case, so the shuffled path must exist and
    must agree)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, portable=True
    ).persist()
    outs = []
    for flag in (True, False, None):
        outs.append(sorted(
            tuple(r)
            for r in dedup.cluster_survivors(
                docs, pairs, "doc_id", broadcast_components=flag
            ).collect()
        ))
    assert outs[0] == outs[1] == outs[2]
    assert len(outs[0]) == docs.count()
    pairs.unpersist()


def test_minhash_arrow_kernel_semantics(spark):
    """The fused Arrow signature kernel (round-7 VERDICT ask #4 — shipped
    as the pipeline fast path after the ×200 A/B: 47.5→2.6 s): exact dups
    get identical signatures, near-dups agree on most positions, disjoint
    docs on none; degenerate docs mirror the exploded path (NULL text → no
    row; empty/whitespace-only → the single empty shingle; < n tokens →
    the whole token list as one shingle); deterministic across runs and
    partitionings (pandas' fixed-key hash, never Python's salted hash)."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "pack my box with five dozen liquor jugs right now"),
        (3, "the quick brown fox jumps over the lazy dog tonight"),
        (4, "hi"),
        (5, ""),
        (6, None),
        (7, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sig = dedup.minhash_signatures_arrow(df, "doc_id", "text", n=3, num_hashes=16)
    assert sig.columns == ["doc_id"] + [f"mh_{h}" for h in range(16)]
    out = {r.doc_id: tuple(r)[1:] for r in sig.collect()}
    assert 6 not in out and len(out) == 7
    assert out[0] == out[3]
    assert sum(a == b for a, b in zip(out[0], out[1])) >= 6  # near-dup
    assert sum(a == b for a, b in zip(out[0], out[2])) <= 2  # disjoint
    assert out[5] == out[7]  # empty == whitespace-only (one empty shingle)
    rep = {
        r.doc_id: tuple(r)[1:]
        for r in dedup.minhash_signatures_arrow(
            df.repartition(7), "doc_id", "text", n=3, num_hashes=16
        ).collect()
    }
    assert rep == out  # partitioning-independent


def test_minhash_arrow_pipeline_end_to_end(spark):
    """The shipped fast path (minhash_lsh_pairs / build→append→probe band
    index with portable=False) is family-consistent end to end: the live
    join and the stored-index probe find the same candidate pairs, and an
    appended index equals a one-shot build."""
    base = [(i, f"the quick brown fox jumps over the lazy dog run{i // 3}")
            for i in range(9)]
    base += [(20 + i, f"completely unrelated text about topic{i} with words{i}")
             for i in range(4)]
    df = spark.createDataFrame(base, "doc_id int, text string")
    live = {(r.id_a, r.id_b)
            for r in dedup.minhash_lsh_pairs(df, "doc_id", "text").collect()}
    assert live  # the run-groups collide
    import tempfile
    with tempfile.TemporaryDirectory() as tmp:
        try:
            dedup.build_band_index(
                df.where(F.col("doc_id") < 8), "doc_id", "text",
                "t_mh_arrow", f"{tmp}/idx", n_buckets=2,
            )
            dedup.append_band_index(
                df.where(F.col("doc_id") >= 8), "doc_id", "text",
                "t_mh_arrow", f"{tmp}/idx", 2,
            )
            from feature_store_healthcare_spark.stores import read_table
            stored = {(r.id_a, r.id_b) for r in dedup.lsh_pairs_from_bands(
                read_table(spark, "t_mh_arrow"), "doc_id").collect()}
            assert stored == live
        finally:
            spark.sql("DROP TABLE IF EXISTS t_mh_arrow")


def test_minhash_arrow_duplicate_ids_merge_like_explode(spark):
    """Contract parity for duplicate doc ids: the kernel's doc-level min
    fold must equal an elementwise min over the per-row signatures —
    which IS the exploded path's semantics (min over the UNION of the
    rows' shingles)."""
    a = "the quick brown fox jumps over the lazy dog"
    b = "pack my box with five dozen liquor jugs"
    dup = spark.createDataFrame([(7, a), (7, b)], "doc_id int, text string")
    single = {
        r.doc_id: tuple(r)[1:]
        for r in dedup.minhash_signatures_arrow(
            spark.createDataFrame([(1, a), (2, b)], "doc_id int, text string"),
            "doc_id", "text",
        ).collect()
    }
    merged = dedup.minhash_signatures_arrow(dup, "doc_id", "text").collect()
    assert len(merged) == 1  # one row per distinct id, like the groupBy path
    got = tuple(merged[0])[1:]
    want = tuple(min(x, y) for x, y in zip(single[1], single[2]))
    assert got == want


def test_band_index_family_marker_guards(spark, tmp_path):
    """The round-8 family-provenance gate: a stored band index stamps its
    signature family; appending the OTHER family raises before anything
    is written (cross-family bands never collide — an unguarded mix
    silently stops finding duplicates), and a populated pre-marker
    directory refuses appends until rebuilt."""
    docs = spark.createDataFrame(
        [(i, f"some text body number {i} with words") for i in range(6)],
        "doc_id int, text string",
    )
    path = str(tmp_path / "bands_fam")
    try:
        dedup.build_band_index(
            docs, "doc_id", "text", "t_fam", path, n_buckets=2, portable=True
        )
        n_before = spark.table("t_fam").count()
        with pytest.raises(ValueError, match="family"):
            dedup.append_band_index(
                docs, "doc_id", "text", "t_fam", path, 2, portable=False
            )
        assert spark.table("t_fam").count() == n_before  # nothing written
        # matching family appends fine
        dedup.append_band_index(
            docs.withColumn("doc_id", F.col("doc_id") + 100),
            "doc_id", "text", "t_fam", path, 2, portable=True,
        )
        assert spark.table("t_fam").count() == 2 * n_before

        # a populated index with NO marker (pre-round-8) refuses appends
        import os
        os.remove(f"{path}__family")
        with pytest.raises(ValueError, match="no family marker"):
            dedup.append_band_index(
                docs, "doc_id", "text", "t_fam", path, 2, portable=True
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_fam")


def test_minhash_arrow_split_doc_signed_merge(spark):
    """Round-8 ADVICE (medium): the kernel's per-row minima must be taken
    in the SAME signed order Spark's F.min uses to fold duplicate-id
    partials — under the old unsigned reduceat, a row whose shingle
    values straddled the sign bit emitted a partial that wrongly won the
    signed merge, so a doc split across rows got a different signature
    than the same shingle set in one row.  This test FORCES the
    straddling case: with n=1 each token is one shingle, so a doc split
    into single-token rows has exactly the same shingle set as the
    concatenated one-row doc, and we pick two tokens whose seed values
    provably sit on opposite sides of 2^63 for at least one seed."""
    import numpy as np
    import pandas as pd

    from feature_store_healthcare_spark.operators.dedup import (
        _arrow_seed_xors,
        _sm64,
    )

    xors = _arrow_seed_xors(16)

    def seed_vals(tok: str):
        h = pd.util.hash_array(np.asarray([tok], dtype=object)).astype(np.uint64)
        return _sm64(h[0] ^ xors)

    top = np.uint64(1) << np.uint64(63)
    pair = None
    words = [f"tok{i}" for i in range(64)]
    for i in range(len(words)):
        for j in range(i + 1, len(words)):
            va, vb = seed_vals(words[i]), seed_vals(words[j])
            if ((va >= top) != (vb >= top)).any():
                pair = (words[i], words[j])
                break
        if pair:
            break
    assert pair is not None, "no sign-straddling token pair in 64 candidates"
    a, b = pair
    split = spark.createDataFrame([(7, a), (7, b)], "doc_id int, text string")
    joined = spark.createDataFrame([(7, f"{a} {b}")], "doc_id int, text string")
    got_split = tuple(
        dedup.minhash_signatures_arrow(split, "doc_id", "text", n=1).collect()[0]
    )[1:]
    got_joined = tuple(
        dedup.minhash_signatures_arrow(joined, "doc_id", "text", n=1).collect()[0]
    )[1:]
    assert got_split == got_joined
    # ...and the split result is partition-independent (2 partitions →
    # the two rows land in different kernel invocations)
    got_2part = tuple(
        dedup.minhash_signatures_arrow(
            split.repartition(2), "doc_id", "text", n=1
        ).collect()[0]
    )[1:]
    assert got_2part == got_joined


def test_check_band_family_probe_gate(spark, tmp_path):
    """Round-8 ADVICE (low): probing a stored band index of the WRONG
    family must fail loudly — a cross-family probe silently returns zero
    pairs (every duplicate admitted), which the append-side marker alone
    could not prevent.  check_band_family() and the corpus_index_path
    argument on minhash_lsh_pairs_cross are the probe-side gates."""
    from feature_store_healthcare_spark.stores import read_table

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(4)],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [(9, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    path = str(tmp_path / "bands_probe")
    try:
        dedup.build_band_index(
            docs, "doc_id", "text", "t_probe_fam", path, n_buckets=2,
            portable=True,
        )
        dedup.check_band_family(path, portable=True)  # matching: no raise
        with pytest.raises(ValueError, match="probe"):
            dedup.check_band_family(path, portable=False)
        bands = read_table(spark, "t_probe_fam")
        # the gated probe raises BEFORE any join runs
        with pytest.raises(ValueError, match="family"):
            dedup.minhash_lsh_pairs_cross(
                new, None, "doc_id", "text", portable=False,
                corpus_bands=bands, corpus_index_path=path,
            )
        # matching family + path probes fine and finds the duplicates
        pairs = dedup.minhash_lsh_pairs_cross(
            new, None, "doc_id", "text", portable=True,
            corpus_bands=bands, corpus_index_path=path,
        ).collect()
        assert {r.corpus_id for r in pairs} == {0, 1, 2, 3}
        # path without bands is a usage error
        with pytest.raises(ValueError, match="corpus_bands"):
            dedup.minhash_lsh_pairs_cross(
                new, docs, "doc_id", "text", portable=True,
                corpus_index_path=path,
            )
        # a marker-less (pre-round-8) index refuses probes too
        import os

        os.remove(f"{path}__family")
        with pytest.raises(ValueError, match="no family marker"):
            dedup.check_band_family(path, portable=True)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_probe_fam")


# -------------------------------------------------- training-mix planner

def test_source_mix_plan_budget_math(spark):
    from feature_store_healthcare_spark.operators import sampling

    # en: 1000 tokens, de: 100 -> with shares .8/.2 and max 2 epochs the
    # binding group is de (100*2/.2 = 1000 < 1000*2/.8 = 2500): budget
    # 1000, en gets 800 (0.8 epochs), de 200 (exactly 2 epochs)
    docs = spark.createDataFrame(
        [("en", 1000), ("de", 100)], "lang string, n_tok long"
    )
    out = {
        r.lang: r
        for r in sampling.source_mix_plan(
            docs, "lang", F.col("n_tok"), {"en": 0.8, "de": 0.2}, max_epochs=2.0
        ).collect()
    }
    assert out["de"].alloc_tokens == 200.0 and out["de"].epochs == 2.0
    assert out["en"].alloc_tokens == 800.0 and out["en"].epochs == 0.8
    assert out["en"].n_docs == 1 and out["en"].n_tokens == 1000


def test_source_mix_plan_drops_groups_outside_target(spark):
    from feature_store_healthcare_spark.operators import sampling

    docs = spark.createDataFrame(
        [("en", 10), ("xx", 10)], "lang string, n_tok long"
    )
    rows = sampling.source_mix_plan(
        docs, "lang", F.col("n_tok"), {"en": 1.0}, max_epochs=1.0
    ).collect()
    assert [r.lang for r in rows] == ["en"]
    assert rows[0].epochs == 1.0


def test_source_mix_plan_single_corpus_scan(spark):
    """The |groups|-row joined frame is localCheckpointed, so the final
    plan reads materialized rows — NO second corpus scan under the budget
    subtree (the duplicate-lineage trap) and the budget arrives broadcast."""
    from feature_store_healthcare_spark.operators import sampling

    docs = spark.range(100).select(
        F.concat(F.lit("l"), (F.col("id") % 3).cast("string")).alias("lang"),
        (F.col("id") % 7 + 1).alias("n_tok"),
    )
    plan = (
        sampling.source_mix_plan(
            docs, "lang", F.col("n_tok"),
            {"l0": 0.5, "l1": 0.3, "l2": 0.2}, max_epochs=2.0,
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    # round 12: the joined frame is PlanCache-persisted (was
    # localCheckpointed), so the cached child's lineage — including its
    # corpus Range scan — now PRINTS inside each InMemoryRelation even
    # though only the cache is read.  The no-second-scan property is:
    # both consumers (global MIN + final projection) are
    # InMemoryTableScans, and every corpus scan in the text belongs to a
    # cached relation (a live re-scan would make Range outnumber them).
    assert plan.count("InMemoryTableScan") >= 2
    assert plan.count("Range (") <= plan.count("InMemoryRelation")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row budget, built broadcast


def test_dsir_logratio_weights_separates_target_domain(spark):
    """DSIR weights (sampling.dsir_logratio_weights): documents written in
    the target subset's vocabulary must outscore documents from a
    disjoint vocabulary, weights are length-normalized (a doc repeated
    2x keeps its weight), and the broadcast distribution tables keep the
    plan to exactly two corpus-sized exchanges."""
    from feature_store_healthcare_spark.operators import sampling

    rows = [
        (0, "alpha beta gamma alpha", 1),
        (1, "beta alpha beta gamma", 1),
        (2, "delta epsilon zeta zeta", 0),
        (3, "epsilon delta zeta delta", 0),
        (4, "alpha beta gamma beta", 0),  # raw doc in target vocabulary
        # doc 5 = doc 0's text twice: same mean log ratio per token
        (5, "alpha beta gamma alpha alpha beta gamma alpha", 0),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, tgt int")
    w = sampling.dsir_logratio_weights(
        docs, "doc_id", "text", is_target=F.col("tgt") == 1
    )
    got = {r.doc_id: r for r in w.collect()}
    assert len(got) == 6 and got[0].n_tokens == 4 and got[5].n_tokens == 8
    # target-vocabulary docs (0,1,4,5) all beat disjoint-vocab docs (2,3)
    assert min(got[i].dsir_logratio for i in (0, 1, 4, 5)) > max(
        got[i].dsir_logratio for i in (2, 3)
    )
    # (no sign assertion: with 256 smoothed dims and a 24-token corpus the
    # add-0.5 smoothing mass dominates raw counts and shifts every weight
    # negative — the ORDERING above is the scale-independent contract)
    # length normalization: doubling a doc leaves its weight unchanged
    assert abs(got[5].dsir_logratio - got[0].dsir_logratio) <= 1e-6
    # plan: tf shuffle + per-doc fold only; distributions broadcast back.
    # round 12: the dist table is PlanCache-persisted (was
    # localCheckpointed), so its dim-keyed agg exchanges now PRINT inside
    # the InMemoryRelation children (executed once, at materialization) —
    # the scale property is that CORPUS-sized shuffles (keyed on the doc
    # id) stay at ≤2 and both dist consumers read the cache.
    plan = w._jdf.queryExecution().executedPlan().toString()
    import re as _re

    # AdaptiveSparkPlan.toString prints BOTH the final and the initial
    # plan; count only the executed (final) section
    final = plan.split("== Initial Plan ==")[0]
    corpus_exchanges = len(_re.findall(r"Exchange hashpartitioning\(doc_id", final))
    assert corpus_exchanges <= 2, final[:2000]  # (doc,dim) tf + per-doc fold
    # ≥1: AQE may print the tots side's finished 1-row stage collapsed,
    # so only the lr consumer's cached read is guaranteed visible; the
    # single-materialization lifecycle itself is test_caching's pin
    assert final.count("InMemoryTableScan") >= 1
    assert "BroadcastExchange" in final  # lr table broadcasts to the fold


def test_dsir_stored_dist_matches_single_pass_and_handles_unseen(spark, tmp_path):
    """build_dsir_dist + append_dsir_dist + dsir_score_from_dist is
    bit-identical to the single-pass dsir_logratio_weights over the same
    corpus (integer statistics fold exactly); scoring WITHOUT appending a
    batch whose token dim the stored table never saw uses the exact
    zero-count smoothed fallback instead of dropping the term."""
    from feature_store_healthcare_spark.operators import sampling

    rows = [
        (0, "alpha beta gamma alpha", 1),
        (1, "beta alpha beta gamma", 1),
        (2, "delta epsilon zeta zeta", 0),
        (3, "epsilon delta zeta delta", 0),
        (4, "alpha beta gamma beta", 0),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, tgt int")
    tgt = F.col("tgt") == 1
    path = str(tmp_path / "dsir_dist")
    corpus, delta = docs.where(F.col("doc_id") < 3), docs.where(F.col("doc_id") >= 3)
    sampling.build_dsir_dist(corpus, "text", tgt, path)
    sampling.append_dsir_dist(delta, "text", tgt, path)
    stored = {
        r.doc_id: r
        for r in sampling.dsir_score_from_dist(
            delta, path, "doc_id", "text"
        ).collect()
    }
    live = {
        r.doc_id: r
        for r in sampling.dsir_logratio_weights(docs, "doc_id", "text", tgt)
        .where(F.col("doc_id") >= 3)
        .collect()
    }
    assert {k: (v.n_tokens, v.dsir_logratio) for k, v in stored.items()} == {
        k: (v.n_tokens, v.dsir_logratio) for k, v in live.items()
    }
    # unseen-dim fallback: a batch with a token the table never saw still
    # counts every token and yields a finite weight
    import math

    fresh = spark.createDataFrame(
        [(9, "omicron omicron upsilon")], "doc_id long, text string"
    )
    got = sampling.dsir_score_from_dist(fresh, path, "doc_id", "text").collect()
    assert got[0].n_tokens == 3 and math.isfinite(got[0].dsir_logratio)


def test_bpe_encode_rejects_nonpositive_rules_per_pass(spark):
    # rules_per_pass=0 used to silently apply NO merge rules (char-level
    # tokens, inflated fertility); it must fail loudly instead
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="rules_per_pass"):
            text.bpe_encode(docs, "doc_id", "text", [("a", "b")], rules_per_pass=bad)


def test_null_text_docs_never_pair(spark):
    """NULL-text docs must yield NO shingle rows (the Arrow kernel's
    semantics): previously each NULL doc got the identical degenerate
    signature/band key, so k NULL docs exploded into O(k^2) mutual LSH
    candidates and cluster_survivors collapsed them into one survivor."""
    rows = [(1, None), (2, None), (3, None), (4, "real text about spark")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingles(docs, "doc_id", "text", n=3)
    assert {r.doc_id for r in sh.collect()} == {4}  # NULL docs: no rows
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=2, num_hashes=8, bands=4, portable=True
    ).collect()
    assert pairs == []
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", n=2, num_hashes=4,
                                    portable=True)
    assert [r.doc_id for r in sigs.collect()] == [4]


def test_burst_dedup_null_ts_cannot_disarm_gate(spark):
    """A NULL-timestamp row is dropped (quarantine material, not
    gap-evaluable) and must NOT become the next event's lag predecessor —
    previously it sailed through AND disarmed the gap check for its
    successor."""
    rows = [
        (1, "k", None, 0.0),
        (2, "k", "2024-01-01 10:00:00", 1.0),
        (3, "k", "2024-01-01 10:00:05", 2.0),  # 5s after event 2: drop
        (4, "k", "2024-01-01 10:02:00", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, key string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    kept = {
        r.event_id
        for r in dedup.burst_dedup(
            df, ["key"], "ts", min_gap_seconds=60, tie_col="event_id"
        ).collect()
    }
    assert kept == {2, 4}  # null dropped; 3 gated by 2; 4 clears the gap


def test_compact_bucketed_migrates_family_marker(spark, tmp_path):
    """Routine compaction must carry the band index's path-keyed family
    marker to the new location — previously the compacted index was
    stranded marker-less (every append/probe refused with 'rebuild') while
    the stale marker kept vouching for the deleted old path."""
    import os

    from feature_store_healthcare_spark.stores import compact_bucketed

    docs = spark.createDataFrame(
        [(i, f"some text body number {i % 3} repeated tokens") for i in range(30)],
        "doc_id long, text string",
    )
    p1 = str(tmp_path / "band_v1")
    try:
        dedup.build_band_index(docs, "doc_id", "text", "band_mig", p1, n_buckets=2,
                               portable=True)
        assert os.path.exists(p1 + "__family")
        p2 = str(tmp_path / "band_v2")
        old = compact_bucketed(spark, "band_mig", p2)
        assert old.endswith("band_v1")
        assert os.path.exists(p2 + "__family")      # travelled
        assert not os.path.exists(p1 + "__family")  # moved, not copied
        # the compacted index still accepts same-family appends
        delta = spark.createDataFrame(
            [(100, "a brand new admitted document")], "doc_id long, text string"
        )
        dedup.append_band_index(
            delta, "doc_id", "text", "band_mig", p2, n_buckets=2, portable=True
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS band_mig")
        spark.sql("DROP TABLE IF EXISTS band_mig__compact")


def test_ivf_blas_probe_matches_expression_path(spark, tmp_path):
    """ivf_topk_from_index_blas (round 13 — the BLAS serve twin) returns
    the same (query, candidate) sets, ranks, and ~1-ulp-equal cosines as
    the expression path at BOTH a pruned nprobe and nprobe=all — the
    list membership mask must reproduce the partition-filter + broadcast
    join semantics exactly; guard + empty-batch contracts match."""
    import pytest as _pytest

    from feature_store_healthcare_spark.operators import similarity

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "ivf_blas")
    cents = similarity.build_ivf_index(emb, path, n_centroids=8)
    for nprobe in (2, 4, 8):
        expr = similarity.ivf_topk_from_index(
            spark, path, q, k=5, nprobe=nprobe, centroids=cents
        )
        blas = similarity.ivf_topk_from_index_blas(
            spark, path, q, k=5, nprobe=nprobe, centroids=cents
        )
        e = {(r.query_id, r.vec_id): (r.rank, r.cosine) for r in expr.collect()}
        b = {(r.query_id, r.vec_id): (r.rank, r.cosine) for r in blas.collect()}
        assert set(e) == set(b) and e, f"nprobe={nprobe}"
        for key in e:
            assert e[key][0] == b[key][0], f"nprobe={nprobe} {key}"
            assert abs(e[key][1] - b[key][1]) < 1e-9

    with _pytest.raises(ValueError, match="max_query_rows"):
        similarity.ivf_topk_from_index_blas(
            spark, path,
            emb.select(F.col("vec_id").alias("query_id"), "embedding"),
            k=5, nprobe=2, max_query_rows=10,
        )
    empty = similarity.ivf_topk_from_index_blas(
        spark, path, q.where(F.lit(False)), k=5, nprobe=4, centroids=cents
    )
    assert empty.count() == 0
    # the static __list pruning survives in the BLAS plan too
    blas = similarity.ivf_topk_from_index_blas(
        spark, path, q, k=5, nprobe=2, centroids=cents
    )
    plan = blas._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__list" in plan


def test_blas_kernels_tie_break_by_id_like_expression(spark, tmp_path):
    """Round-13 review: with bit-identical duplicate vectors (exact
    cosine/d2 ties straddling the k-boundary), the BLAS kernels'
    per-batch cut must keep the id-ascending survivors the global
    window picks — argpartition kept an arbitrary tied subset.  Pins
    cosine_topk_blas, ivf_topk_from_index_blas, and
    pca_topk_from_index_blas against their expression twins on a corpus
    that is ALL duplicates (24 distinct vectors × 5 copies each)."""
    import random

    from feature_store_healthcare_spark.operators import similarity

    rng = random.Random(3)
    bases = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(24)]
    rows = [
        (c * 24 + b, bases[b]) for b in range(24) for c in range(5)
    ]  # ids interleave copies so batches mix tied ids
    schema = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame(rows, schema).repartition(7)
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    exact = similarity.cosine_topk(q, emb, k=7, dim=8)
    blas = similarity.cosine_topk_blas(q, emb, k=7)
    e = {(r.query_id, r.rank): r.vec_id for r in exact.collect()}
    b = {(r.query_id, r.rank): r.vec_id for r in blas.collect()}
    assert e == b and e

    path = str(tmp_path / "tie_ivf")
    cents = similarity.build_ivf_index(emb, path, n_centroids=4)
    expr = similarity.ivf_topk_from_index(
        spark, path, q, k=7, nprobe=4, centroids=cents
    )
    ib = similarity.ivf_topk_from_index_blas(
        spark, path, q, k=7, nprobe=4, centroids=cents
    )
    e = {(r.query_id, r.rank): r.vec_id for r in expr.collect()}
    b = {(r.query_id, r.rank): r.vec_id for r in ib.collect()}
    assert e == b and e

    ppath = str(tmp_path / "tie_pca")
    comps, mean = similarity.build_pca_index(emb, ppath, pca_dim=4, dim=8)
    pexpr = similarity.pca_topk_from_index(
        spark, ppath, q, k=7, rerank_factor=3, components=comps, mean=mean
    )
    pb = similarity.pca_topk_from_index_blas(
        spark, ppath, q, k=7, rerank_factor=3, components=comps, mean=mean
    )
    # coarse d2 differs in the last ulp between numpy and codegen, so the
    # CUT membership can legitimately differ on near-ties; with 5 exact
    # copies per vector the boundary ties are exact and the survivor ids
    # must match rank-for-rank
    e = {(r.query_id, r.rank): r.vec_id for r in pexpr.collect()}
    b = {(r.query_id, r.rank): r.vec_id for r in pb.collect()}
    assert e == b and e


def test_cosine_topk_blas_preserves_string_ids(spark):
    """Round-13 review: the BLAS kernels hardcoded `long` id schemas;
    they now carry the caller's id types like the expression twins."""
    from feature_store_healthcare_spark.operators import similarity

    rows = [(f"d{i}", [float(i + j) for j in range(4)]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    q = emb.where(F.col("vec_id") == "d0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.cosine_topk_blas(q, emb, k=3).collect()
    assert len(got) == 3
    assert {type(r.vec_id) for r in got} == {str}
    exact = similarity.cosine_topk(q, emb, k=3, dim=4).collect()
    assert {(r.query_id, r.vec_id, r.rank) for r in got} == {
        (r.query_id, r.vec_id, r.rank) for r in exact
    }
