"""Deduplication operators (SURVEY.md §2.11 OP-48/OP-49; BASELINE.json:6).

Exact, MinHash-LSH, SimHash and n-gram-Jaccard dedup over a text corpus —
the operators an LLM-training-data pipeline runs at 100 TB.  Hot paths are
built-in JVM expressions (shingling is
``split``+``transform``+``array_distinct``+``explode``; hashing is
``xxhash64`` or ``md5``-derived for the portable path an external oracle
must reproduce) — EXCEPT the MinHash signature build, where the measured
winner is a fused Arrow ``mapInPandas`` numpy kernel
(:func:`minhash_signatures_arrow`, 18.6× the JVM explode + 16-way min
groupBy at ×200 docs) — vectorized batch kernels, never row-at-a-time
Python UDFs.

Scale design:
- Shingle explode multiplies rows by ~tokens/doc, but each LSH band
  reduces back to one row per (doc, band) before the self-join; the
  candidate-pair join is an equi-join on (band, signature) — shuffle keys
  are uniformly-distributed hashes, so no skew.
- n-gram Jaccard self-joins on individual shingles; stop-shingle removal
  (``max_shingle_freq``) caps the blow-up the same way common-word removal
  does in production near-dup pipelines.
- SimHash candidate generation uses the pigeonhole band trick: split the
  signature into ``max_hamming+1`` chunks; any pair within the distance
  budget must agree on ≥1 chunk, so candidates come from an equi-join on
  (chunk_id, chunk_value) instead of an O(n²) cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_store_healthcare_spark.caching import (
    BoundedMemo,
    PlanCache,
    data_version,
    release_local_checkpoint,
)
from feature_store_healthcare_spark.sqlgen import ident, string_lit, var

#: One-entry persisted-plan caches (see caching.PlanCache): each call site
#: that persists a corpus- or delta-sized intermediate releases its
#: predecessor on the next non-identical call, so a long-lived ingest
#: session holds at most ONE cached table per operator — the round-6 bm25
#: policy, applied module-wide (round-6 VERDICT finding #1).
_BAND_CACHE = PlanCache("minhash_lsh_pairs.banded")
_SHINGLE_CACHE = PlanCache("ngram_jaccard_pairs.shingles")
_CHUNK_CACHE = PlanCache("simhash_candidates.banded")
_DELTA_BAND_CACHE = PlanCache("minhash_lsh_pairs_cross.delta_bands")


def release_dedup_caches(blocking: bool = False) -> None:
    """Drop every dedup operator's cached intermediate now — the explicit
    release hook for long-lived sessions (per-batch ingest loops) that want
    the memory back before the next operator call would reclaim it."""
    for cache in (_BAND_CACHE, _SHINGLE_CACHE, _CHUNK_CACHE, _DELTA_BAND_CACHE):
        cache.release(blocking=blocking)
    _JACCARD_GUARD_MEMO.clear()


def exact_dedup_keep_min(df: DataFrame, dup_cols: list[str], id_col: str) -> DataFrame:
    """Deterministic exact dedup: one keeper row per duplicate group — the
    minimum ``id_col`` — via a partial-aggregatable min_by (no sort)."""
    payload = [c for c in df.columns if c not in dup_cols]
    agg = F.min_by(F.struct(*[F.col(c) for c in payload]), F.col(id_col)).alias("__k")
    out = df.groupBy(*dup_cols).agg(agg)
    return out.select(*dup_cols, *[F.col(f"__k.{c}").alias(c) for c in payload])


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse runs of
    whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def ngram_sql(tokens: str, n: int) -> str:
    """SQL text of the word n-grams (stride 1, joined by a space) of the
    token-array column named ``tokens``; fewer than ``n`` tokens yield
    one short n-gram.  The lambda reads ``tokens`` as a column, so
    project the tokens first and reference them at least twice (this
    text does, through ``size``): a tokenizer inside the lambda would run
    once per n-gram (``operators.text`` module docstring)."""
    toks, i, n = ident(tokens), var("i"), int(n)
    return (
        f"transform(sequence(0, greatest(size({toks}) - {n}, 0)), "
        f"{i} -> array_join(slice({toks}, {i} + 1, {n}), {string_lit(' ')}))"
    )


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    distinct: bool = True,
    size_col: str | None = None,
) -> DataFrame:
    """Word n-gram shingles → long table (id_col, shingle).

    Pure built-ins: tokenize with split, slide a window with transform over
    an index sequence, join each n-gram back into a string.

    ``size_col``: also carry the per-document shingle-set size on every
    exploded row.  Costs one int per row; saves downstream consumers a
    groupBy + join back (the set size is known BEFORE the explode — don't
    re-derive it after).
    """
    # One parsed SQL string over the tokens projected into a reserved
    # column: the text splices only names (no regex literal, no user
    # column a lambda can capture).  Docs shorter than n tokens yield a
    # single (short) shingle — keep it.  NULL text yields NO row (NULL
    # array, which explode drops): unguarded, size(NULL) walks to one
    # NULL shingle per NULL-text doc, all with the IDENTICAL degenerate
    # band key — k such docs become O(k²) mutual LSH candidates.  The
    # Arrow kernel also emits nothing for NULL text (family parity).
    ngrams = F.expr(
        f"CASE WHEN `__sg_tokens` IS NOT NULL THEN {ngram_sql('__sg_tokens', n)} END"
    )
    arr = F.array_distinct(ngrams) if distinct else ngrams
    id_c = ident(id_col)
    cols = [id_c]
    if size_col is not None:
        cols.append(F.size(arr).alias(size_col))
    tokens = F.split(normalize_text(df[ident(text_col)]), " ").alias("__sg_tokens")
    return df.select(df[id_c], tokens).select(*cols, F.explode(arr).alias("shingle"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    portable: bool = False,
) -> DataFrame:
    """MinHash signature per document: for hash seed h, the signature element
    is ``min over shingles of H(shingle, h)``.

    ``portable=False`` (default, fast path): xxhash64 with per-seed salt —
    a 64-bit JVM hash, vectorizable, no materialized strings.
    ``portable=True``: first 16 hex chars of md5(seed || shingle) — slower
    but reproducible bit-for-bit in any engine with md5 (used by the
    DuckDB-checked query catalog).
    Output: (id_col, mh_0..mh_{k-1}).

    Why NOT Kirsch–Mitzenmacher double hashing (``(h1 + i·h2) mod p`` from
    two hashes instead of one per seed): measured at 1M docs (round 5),
    swapping the family left the signature-build wall-time unchanged
    (195 vs 198 s — the build is explode/partial-agg-bound, not
    hash-bound) while the correlated band rows inflated LSH candidate
    pairs ~58% (a shingle with small (h1, h2) tends to minimize EVERY
    h_i, so P(full-band match) ≫ J^rows) — all precision cost, no speed
    benefit.  Per-seed independent hashes stay.

    Round 8: because the build is explode/partial-agg-bound, the LSH
    pipeline's ``portable=False`` path now routes through
    :func:`minhash_signatures_arrow` (one fused Arrow kernel, no
    explosion — measured 18.6× at ×200 docs); this function remains the
    portable builder and the explicit xxhash64-family builder.
    """
    sh = shingles(df, id_col, text_col, n=n)
    # each min-hash aggregate as one parsed SQL string: the Column loop
    # cost ~8 py4j round trips per seed per call
    shingle = ident("shingle")
    aggs = []
    for h in range(num_hashes):
        if portable:
            elem_sql = (
                f"substring(md5(concat({string_lit(f'{h}:')}, {shingle})), 1, 16)"
            )
        else:
            elem_sql = f"xxhash64({int(h)}, {shingle})"
        aggs.append(F.expr(f"min({elem_sql})").alias(f"mh_{h}"))
    return sh.groupBy(sh[ident(id_col)]).agg(*aggs)


def _pipeline_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    portable: bool,
) -> DataFrame:
    """The LSH pipeline's signature builder: portable=True keeps the
    md5-derived family every DuckDB-checked catalog entry reproduces;
    portable=False (the production fast path) is the Arrow kernel since
    round 8 — measured 47.5 s → 2.6 s (18.6×) on the 200k-doc delta build
    at ×200 docs (SCALE_REHEARSAL.json minhash_build_explode vs
    minhash_build_arrow), replacing the JVM explode + 16-way min groupBy
    (:func:`minhash_signatures` ``portable=False``, which remains
    available for callers pinned to the xxhash64 family).

    **Family provenance**: the two fast families are incompatible — a
    band index built with the pre-round-8 xxhash64 fast path yields ZERO
    matches (silent recall loss, not false pairs: the band digest differs
    everywhere) when probed through this builder.  Rebuild stored
    fast-family indexes once when crossing the round-8 boundary; the
    portable family is unchanged."""
    if portable:
        return minhash_signatures(
            df, id_col, text_col, n=n, num_hashes=num_hashes, portable=True
        )
    return minhash_signatures_arrow(
        df, id_col, text_col, n=n, num_hashes=num_hashes
    )


#: splitmix64 constants (public domain, Vigna) — the per-seed finalizer of
#: the Arrow signature kernel.
_SM64_GAMMA = 0x9E3779B97F4A7C15
_SM64_M1 = 0xBF58476D1CE4E5B9
_SM64_M2 = 0x94D049BB133111EB
#: per-seed xor constants: splitmix64 stream of the seed index, so seeds
#: are reproducible and well-separated
_ARROW_SEED_XORS = None


def _sm64(z):
    """Vectorized splitmix64 finalizer over a numpy uint64 array — full
    avalanche, so per-seed variants of one base hash behave as independent
    draws (NOT the linear Kirsch–Mitzenmacher scheme the docstring above
    rejects: a shingle minimizing seed i's value says nothing about seed
    j's)."""
    import numpy as np

    z = z + np.uint64(_SM64_GAMMA)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(_SM64_M1)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(_SM64_M2)
    return z ^ (z >> np.uint64(31))


def _arrow_seed_xors(num_hashes: int):
    import numpy as np

    global _ARROW_SEED_XORS
    if _ARROW_SEED_XORS is None or len(_ARROW_SEED_XORS) < num_hashes:
        _ARROW_SEED_XORS = _sm64(
            np.arange(1, max(num_hashes, 64) + 1, dtype=np.uint64)
        )
    return _ARROW_SEED_XORS[:num_hashes]


def minhash_signatures_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signatures via ONE Arrow ``mapInPandas`` kernel — the
    round-7 VERDICT ask #4 A/B shape: no shingle-row explosion through the
    engine, no 16-way min groupBy; each partition tokenizes its documents
    in Python, hashes every token once with pandas' vectorized 64-bit
    string hash, combines sliding windows of ``n`` token hashes into
    shingle hashes with a position-sensitive polynomial (numpy shifted
    views — shingle STRINGS are never materialized), derives the
    ``num_hashes`` per-seed values by splitmix64-mixing the one base hash
    against per-seed constants (full avalanche per seed — unlike the
    measured-and-rejected linear double-hashing, a shingle minimizing one
    seed's value is uncorrelated with the others), and takes per-document
    minima with ``np.minimum.reduceat``.

    Same output CONTRACT as :func:`minhash_signatures` (one row per
    distinct doc id, ``mh_0..mh_{k-1}`` longs) and the same MinHash
    estimator properties, but a DIFFERENT hash family — signatures are
    not comparable across the two builders, so an index built with one
    must be probed/appended with the same one (the family-marker guard
    in :func:`append_band_index` enforces it for stored indexes).
    Duplicate ids merge exactly as the exploded path's groupBy does: the
    kernel emits per-input-row partial signatures and a doc-level
    ``min`` aggregate folds them.  The per-row minima are taken in
    Spark's SIGNED int64 order (``.view(np.int64)`` before ``reduceat``)
    so both steps minimize under the SAME total order — min over per-row
    minima ≡ min over the union of the rows' shingles, value-identical
    to the one-row signature (test-pinned with forced top-bit-set
    shingle values, the case where unsigned partials and the signed
    fold disagree); the aggregate moves one ~17-column row per doc,
    never shingles.  This signed family is stamped ``arrow-v2``.  Degenerate docs mirror the exploded path: NULL text
    yields no row; empty / whitespace-only text hashes the single empty
    shingle; docs shorter than ``n`` tokens hash their whole token list
    as one shingle.  Tokenization is ``str.lower().split()`` — Python's
    unicode whitespace class vs Java's ``\\s`` differ on exotic
    whitespace only (identical on this corpus; documented, not hidden).

    A/B verdict (×200 docs = 1M, SCALE_REHEARSAL.json
    ``minhash_build_arrow`` vs ``minhash_build_explode``): see the
    rehearsal row — this kernel exists to measure whether the
    explode/partial-agg shape or the fused Arrow shape wins at scale.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [id_field]
        + [T.StructField(f"mh_{h}", T.LongType(), False) for h in range(num_hashes)]
    )
    seed_xors = _arrow_seed_xors(num_hashes).copy()
    poly_p = np.uint64(0x100000001B3)  # odd multiplier: position-sensitive

    def kernel(batches):
        mh_cols = [f"mh_{h}" for h in range(num_hashes)]
        for pdf in batches:
            ids, counts, flat_tokens = [], [], []
            for i, s in zip(pdf[id_col], pdf[text_col]):
                if s is None:
                    continue  # exploded path: null text → no signature row
                toks = s.lower().split() or [""]
                ids.append(i)
                counts.append(len(toks))
                flat_tokens.extend(toks)
            if not ids:
                yield pd.DataFrame({c: [] for c in [id_col, *mh_cols]})
                continue
            h = pd.util.hash_array(
                np.asarray(flat_tokens, dtype=object)
            ).astype(np.uint64)
            counts_arr = np.asarray(counts, dtype=np.int64)
            tok_starts = np.concatenate(([0], np.cumsum(counts_arr)[:-1]))
            # full-length n-gram base hashes via shifted views: base[j] =
            # poly(h[j..j+n-1]); valid where the window stays in one doc
            total = len(h)
            if total >= n:
                base = h[: total - n + 1].copy()
                for k in range(1, n):
                    base = base * poly_p + h[k : total - n + 1 + k]
            else:
                base = np.empty(0, dtype=np.uint64)
            # per-doc shingle slices: docs with >= n tokens contribute
            # (len-n+1) windows starting at their token offset; shorter
            # docs hash their whole token list as ONE shingle (poly over
            # the available tokens — the exploded path's short-slice)
            n_shingles = np.maximum(counts_arr - (n - 1), 1)
            sh_starts = np.concatenate(([0], np.cumsum(n_shingles)[:-1]))
            bases = np.empty(int(n_shingles.sum()), dtype=np.uint64)
            short = counts_arr < n
            long_mask = ~short
            if long_mask.any():
                # gather each long doc's window hashes from `base`
                idx = np.concatenate(
                    [
                        np.arange(ts, ts + ns, dtype=np.int64)
                        for ts, ns in zip(
                            tok_starts[long_mask], n_shingles[long_mask]
                        )
                    ]
                )
                out_idx = np.concatenate(
                    [
                        np.arange(ss, ss + ns, dtype=np.int64)
                        for ss, ns in zip(
                            sh_starts[long_mask], n_shingles[long_mask]
                        )
                    ]
                )
                bases[out_idx] = base[idx]
            for d in np.nonzero(short)[0]:
                ts, c = tok_starts[d], counts_arr[d]
                b = h[ts]
                for k in range(1, c):
                    b = b * poly_p + h[ts + k]
                bases[sh_starts[d]] = b
            data = {id_col: ids}
            for s_i in range(num_hashes):
                # SIGNED-order minima (int64 view), NOT unsigned: the
                # duplicate-id merge below folds per-row partials with
                # Spark's signed F.min, and "min over per-row minima ==
                # min over the union" only holds when both steps use the
                # SAME total order.  An unsigned reduceat here let a row
                # whose shingle values all had the top bit set emit a
                # negative partial that wrongly won the signed merge,
                # giving a split doc a different (partition-dependent)
                # signature than the same shingle set in one row.  The
                # int64 reinterpretation is a bijection, so min under
                # signed order is still a uniform MinHash draw — but it
                # is a DIFFERENT hash family than the unsigned round-8
                # kernel: _band_family stamps arrow-v2 so stale stored
                # indexes fail loudly instead of silently missing pairs.
                v = _sm64(bases ^ seed_xors[s_i]).view(np.int64)
                data[mh_cols[s_i]] = np.minimum.reduceat(v, sh_starts)
            yield pd.DataFrame(data)

    partial = df.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)
    # duplicate-id merge (contract parity with the exploded groupBy): one
    # partial-aggregatable min per seed over 1-row-per-doc partials
    return partial.groupBy(id_col).agg(
        *[F.min(f"mh_{h}").alias(f"mh_{h}") for h in range(num_hashes)]
    )


def lsh_pairs_from_bands(
    banded: DataFrame,
    id_col: str,
    broadcast_candidates: bool = False,
) -> DataFrame:
    """Candidate pairs from a (id, band, bkey) band table: self-equi-join
    on ``bkey`` (the band id is folded into the digest, so one key carries
    both), distinct (id_a, id_b) with id_a < id_b.

    **Hard contract — digest provenance**: ``bkey`` MUST have been built by
    :func:`_banded_signatures` (or an equivalent that folds the band id
    INTO the digest, ``md5(band || values)``).  The join deliberately keys
    on ``bkey`` alone; a band table whose digest omits the band id (e.g.
    one persisted before this digest scheme, or custom banding) makes
    cross-band collisions possible, and those false candidate pairs flow
    STRAIGHT into the output — minhash candidates are not re-verified
    downstream.  Rebuild stale/foreign band tables through
    ``minhash_signatures`` → ``_banded_signatures`` before calling this.

    This is the join every LSH family bottoms out in, split out so the
    100 TB path can run it against a STORED band table (the per-corpus LSH
    index ``stores.write_bucketed`` persists, bucketed by ``bkey``): a
    bucketed self-join zips bucket i with bucket i — zero shuffle on the
    corpus-sized side, re-usable across arrival batches.

    ``broadcast_candidates=False`` (default): shuffled equi-join.  The band
    key is an md5/xxhash digest — uniformly distributed by construction —
    so unlike the natural-language shingle join in
    :func:`ngram_jaccard_pairs` there is no hot-key skew and the shuffle
    scales to corpus sizes far beyond broadcast range.  ``True`` broadcasts
    the build side: fastest when the band table fits the broadcast budget
    (small corpora, the bench/test path), a non-starter at 100 TB where the
    band table is #docs × bands rows.
    """
    left = banded.alias("l")
    right = banded.alias("r")
    if broadcast_candidates:
        right = F.broadcast(right)
    return (
        left.join(
            right,
            on=[
                F.col("l.bkey") == F.col("r.bkey"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = False,
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """OP-49: candidate near-duplicate pairs via banded MinHash-LSH.

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows;
    documents colliding on any full band become a candidate pair.  Returns
    distinct (id_a, id_b) with id_a < id_b.

    ``broadcast_candidates``: None (default) auto-sizes from the
    MATERIALIZED band-table row count (the table is persisted and consumed
    immediately after, so the count is a one-pass compute the join would do
    anyway): broadcast under :data:`_BROADCAST_ROW_BUDGET` rows, shuffled
    equi-join on the uniformly-hashed (band, bkey) key beyond (see
    :func:`lsh_pairs_from_bands`).  Pass True/False to pin a strategy.
    """
    assert num_hashes % bands == 0, "num_hashes must divide evenly into bands"
    sig = _pipeline_signatures(df, id_col, text_col, n, num_hashes, portable)
    banded = _banded_signatures(sig, id_col, num_hashes, bands)
    # banded feeds both join sides; persist so the signature computation
    # (fast path: one Arrow kernel pass; portable: shingle explode +
    # 16-way min agg) runs once, not twice.
    # Lifecycle: one-entry PlanCache — a repeat call on the same corpus
    # reuses the cached table, a new corpus (or the SAME corpus path with
    # new files — the version token) releases the predecessor
    # (release_dedup_caches for eager cleanup).  (A 100 TB run writes it
    # through stores.write_bucketed instead and calls lsh_pairs_from_bands
    # on the stored index — same join below.)
    banded = _BAND_CACHE.get_or_persist(banded, version=data_version(df))
    _, broadcast_candidates = _auto_build_side(banded, broadcast_candidates)
    return lsh_pairs_from_bands(banded, id_col, broadcast_candidates)


#: Auto-strategy cutover for LSH candidate joins: band/chunk tables under
#: this many rows (tens of MB of fixed-width digests) broadcast; beyond it
#: the shuffled equi-join is the only shape that survives — at 100 TB the
#: band table is #docs × bands ≈ billions of rows.
_BROADCAST_ROW_BUDGET = 1_000_000


def _auto_build_side(df: DataFrame, pinned: bool | None) -> tuple[DataFrame, bool]:
    """Resolve a join build side against the broadcast budget: ``pinned``
    True/False forces the strategy; None counts the MATERIALIZED table
    (callers pass a persisted/checkpointed frame, so the count is a pass
    the join pays anyway) and broadcasts under :data:`_BROADCAST_ROW_BUDGET`.
    Returns (possibly-hinted frame, resolved flag) — the single cutover
    policy for every size-dependent broadcast in this module."""
    if pinned is None:
        pinned = df.count() <= _BROADCAST_ROW_BUDGET
    return (F.broadcast(df) if pinned else df), pinned


#: ngram_jaccard_pairs' tripwire memo: (post-guard shingle-plan
#: semanticHash, input-file version) → F2-sketch candidate estimate.  Same
#: corpus+params ⇒ same estimate, so the sketch pass runs once per session
#: per corpus.  The file-version component (caching.data_version) forces
#: a re-estimate when the SAME plan reads a GROWN path — appended parquet
#: files under an unchanged semanticHash, the exact way the incremental
#: loop grows corpora (round-6 VERDICT finding #2) — which also means an
#: ingest loop mints one key per batch: BoundedMemo caps the footprint
#: (oldest evicted, recomputed on next use) and release_dedup_caches
#: clears it with the plan caches.
_JACCARD_GUARD_MEMO: BoundedMemo = BoundedMemo()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    broadcast_candidates: bool = True,
    candidate_budget: int = 50_000_000,
    force: bool = False,
) -> DataFrame:
    """OP-49 (exact variant): pairwise Jaccard over distinct word n-grams for
    every pair sharing ≥1 shingle; keep pairs with similarity ≥ threshold.

    ``max_shingle_freq`` drops shingles appearing in more than that many
    docs before the self-join (stop-shingle removal — the standard guard
    against quadratic blow-up on common phrases at scale).
    Output: (id_a, id_b, common, size_a, size_b, jaccard).

    Join strategy: the shingle join key is low-cardinality by nature
    (natural-language n-grams repeat), so a shuffled self-join is badly
    skewed — a few hot shingles funnel the quadratic pair blow-up through a
    handful of tasks.  With ``broadcast_candidates`` (default) the build
    side is broadcast and pair generation parallelizes by the probe side's
    doc partitioning, immune to key skew (20× faster on the synthetic
    corpus).  At corpus sizes where the (doc, shingle) table exceeds
    broadcast range, set it False and pair ``max_shingle_freq`` with AQE
    skew-join splitting — stop-shingle removal is what bounds the blow-up
    at 100 TB, exactly as common-word removal does in production pipelines.

    **Tripwire** (``candidate_budget``): this operator is the engine's ONE
    deliberately quadratic path — the verification oracle for the LSH
    family, not the production answer.  The candidate volume
    Σ f·(f−1)/2 over the post-guard shingle frequencies — equivalently
    (F2 − F1)/2 of the shingle-frequency vector — is estimated with an
    AMS second-moment sketch (64 sign-sums derived from the 64 bits of
    one xxhash64 per row; mean of the squared sums estimates F2 —
    heuristically, empirically ~±20% on the test corpora: the 64
    estimators share one hash so they are correlated, not independent,
    and the textbook sqrt(2/64) bound does not formally apply): one
    shuffle-free partial-aggregatable pass instead of a groupBy on the
    shingle key, so the guard costs no per-key shuffle at any scale.  When the estimate exceeds the budget the query raises,
    unless ``force=True``.  The figure counts candidate JOIN ROWS, not
    distinct pairs — a pair sharing k shingles is counted k times.  That
    overcount is deliberate: join rows are what the quadratic cost
    actually tracks (the aggregate that dedups them must first
    materialize every row), so size ``candidate_budget`` in join rows,
    not pairs — and treat the budget as an order-of-magnitude gate (hot
    corpora overshoot by 10-1000×), not a precise ceiling.

    The guard is a MEMOIZED eager pre-flight: the sketch runs once per
    distinct (corpus, n, max_shingle_freq) — keyed by the post-guard
    shingle plan's semanticHash plus its input-file version, so a corpus
    GROWN under the same path re-estimates — and raises ``ValueError`` at
    CALL time.
    Repeat calls on the same corpus (bench reruns, oracle checks, the
    force-retry after a raise) hit the memo and pay zero guard cost; the
    one paid pass doubles as the materialization of the persisted shingle
    table every call needs anyway.  (Both earlier shapes measured worse
    at sf0.1: the round-5 exact groupBy cost +0.45 s EVERY call, and an
    in-plan broadcast-``assert_true`` form cost +0.3 s exact / +1.3 s
    sketched — its nested-loop guard join knocked the probe pipeline out
    of whole-stage codegen.)  On the failure path the persisted shingle
    table stays cached so a force-retry reuses it; the one-entry module
    cache releases it on the next different-corpus call (or
    :func:`release_dedup_caches`).  On a hot corpus
    there may be NO ``max_shingle_freq`` that both keeps recall and fits
    the budget — the raise message points at :func:`minhash_lsh_pairs`,
    which is that corpus's answer (measured 238× faster at 20× scale,
    SCALE.md).
    """
    # Set sizes ride along on every exploded row (known before the explode)
    # so no groupBy-and-join-back is needed to compute Jaccard denominators.
    # Stop-shingle removal below prunes CANDIDATE GENERATION only; sizes
    # stay full-set, so Jaccard denominators are unaffected by the guard.
    sh = shingles(df, id_col, text_col, n=n, size_col="__sz")
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("__f"))
        guard = freq.where(F.col("__f") <= max_shingle_freq)
        # the allowed-shingle list is vocabulary-sized — it broadcasts only
        # while the candidate join itself does; beyond broadcast range both
        # run as shuffled joins on the same shingle key
        build_guard = F.broadcast(guard) if broadcast_candidates else guard
        sh = sh.join(build_guard, "shingle").drop("__f")
    # The shingle table feeds BOTH sides of the self-join; without
    # materialization each re-runs the scan+explode — two corpus passes at
    # scale.  The one-entry PlanCache computes it once here and releases it
    # on the next different-corpus call (or release_dedup_caches); a 100 TB
    # run would write it to a (bucketed) table instead, same plan downstream.
    # The version token keeps cache, guard memo, and RESULTS consistent
    # when the same path gains files: sameResult alone would serve the
    # pre-growth shingle rows to both the AMS estimate and the join.
    input_version = data_version(df)
    sh = _SHINGLE_CACHE.get_or_persist(sh, version=input_version)
    # Spread probe rows by doc so pair generation parallelism is data-size-,
    # not key-distribution-, bound.  ×4 over core count keeps each task's
    # partial-aggregation hash map small: candidate pairs are quadratic in
    # hot-shingle frequency, and the per-task map is the memory hot spot on
    # small-heap executors (the map spills, but 32 concurrent tasks × big
    # maps still spike the heap before spill kicks in).
    # ... but ONLY on the broadcast path: with broadcast_candidates=False
    # the pair join exchanges both sides on the shingle key anyway, so a
    # preceding repartition by doc id is a wasted full shuffle of the
    # corpus-sized shingle table.
    parallelism = df.sparkSession.sparkContext.defaultParallelism * 4
    probe = (
        sh.repartition(parallelism, id_col) if broadcast_candidates else sh
    )
    if not force:
        # Candidate volume Σ f·(f−1)/2 = (F2 − F1)/2 over shingle
        # frequencies, estimated with an AMS second-moment sketch
        # (E[(Σ_s σ_i(s)·f_s)²] = F2 for random signs σ_i; the 64 sign
        # functions are the 64 bits of ONE xxhash64 per row, so the pass
        # is 64 partial-aggregatable long sums — no shuffle on the shingle
        # key, unlike the exact groupBy form).  Mean of 64 estimators —
        # correlated, since they share one hash, so the textbook
        # sqrt(2/64) bound doesn't formally hold; empirically ~±20%,
        # which is all an order-of-magnitude gate needs — hot corpora
        # overshoot the budget by 10-1000×.
        #
        # The estimate is MEMOIZED on (post-guard shingle plan
        # semanticHash, input-file version) — the version component
        # forces a re-estimate when the same plan reads a grown path —
        # and the check raises EAGERLY at call time: the same
        # corpus+params is probed once per session, so repeated calls
        # (bench reruns, oracle checks, the force-retry after a raise) pay
        # ZERO guard cost.  Earlier forms were all measured slower at
        # sf0.1: exact groupBy eager (+0.45 s/call, round 5), exact
        # in-plan broadcast-assert (+0.3 s/call), AMS in-plan (+1.3 s/call
        # — the guard's nested-loop join knocked the probe pipeline out of
        # whole-stage codegen).
        # Version from the INPUT df, not the (possibly cached) shingle
        # plan: once a plan is persisted, cache substitution rewrites any
        # matching plan to the InMemoryRelation, whose inputFiles() is
        # empty — the input scan is never cached by this operator, so its
        # file list stays observable.
        key = (
            sh._jdf.queryExecution().analyzed().semanticHash(),
            input_version,
        )
        # hash-bucket-then-CONFIRM (the caching.py discipline): the 32-bit
        # semanticHash alone can collide across different shingle plans
        # whose version tokens coincide, silently serving one corpus's
        # estimate to another — keep the analyzed plan in the slot and
        # accept the hit only if sameResult agrees.
        analyzed = sh._jdf.queryExecution().analyzed()
        hit = _JACCARD_GUARD_MEMO.get(key)
        est = hit[1] if hit is not None and hit[0].sameResult(analyzed) else None
        if est is None:
            # hash PROJECTED once per row before the aggregate: aggregate
            # expressions don't share subexpressions, so xxhash64 inside
            # each of the 64 sums would evaluate 64× per row
            h = F.col("__h")
            zsums = [
                F.coalesce(
                    F.sum(F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1),
                    F.lit(0),
                ).alias(f"__z{i}")
                for i in range(64)
            ]
            row = (
                sh.select(F.xxhash64("shingle").alias("__h"))
                .agg(F.count(F.lit(1)).alias("__n"), *zsums)
                .collect()[0]
            )
            f2 = sum(row[f"__z{i}"] ** 2 for i in range(64)) / 64.0
            est = max((f2 - row["__n"]) / 2.0, 0.0)
            _JACCARD_GUARD_MEMO[key] = (analyzed, est)
        if est > candidate_budget:
            raise ValueError(
                f"ngram_jaccard_pairs: estimated {est:,.0f} candidate join "
                "rows (F2 sketch, ±~20%) exceeds candidate_budget="
                f"{candidate_budget:,}. This exact operator is quadratic in "
                "hot-shingle frequency and exists as the verification oracle "
                "for the LSH family — use minhash_lsh_pairs for production "
                "corpora, tighten max_shingle_freq, or pass force=True to "
                "proceed anyway."
            )
    l = probe.alias("l")
    r = sh.alias("r")
    build = F.broadcast(r) if broadcast_candidates else r
    out = (
        l.join(build, on=[F.col("l.shingle") == F.col("r.shingle"),
                          F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
        # sizes are functionally dependent on the ids — making them GROUP
        # KEYS (not first() aggregates) keeps the agg buffer to one counter
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.__sz").alias("size_a"),
            F.col("r.__sz").alias("size_b"),
        )
        .agg(F.count("*").alias("common"))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "size_a", "size_b", "jaccard")
    )
    return out


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Cluster near-duplicate candidate pairs into connected components:
    ``(id, component)`` where ``component`` is the minimum id transitively
    reachable from ``id``.  This is the step that turns pairwise dedup
    (minhash_lsh_pairs / simhash_pairs / ngram_jaccard_pairs) into
    cluster-level dedup — keep ONE canonical doc per component, not one per
    pair, so A~B, B~C collapses all three even when A~C was never a
    candidate pair.

    Algorithm: distributed min-label propagation with pointer jumping.
    Each round does (1) ``label(v) ← min(label(v), min over neighbors u of
    label(u))`` — one equi-join + partial-aggregatable min — then
    (2) ``label(v) ← label(label(v))`` (pointer jump), which halves label
    chains and makes convergence O(log diameter) rounds instead of
    O(diameter) — the same round structure as large-star/small-star CC.
    Lineage is truncated every round with ``localCheckpoint`` so the plan
    stays flat no matter how many rounds run; convergence is detected by a
    cheap ``limit(1).count`` probe for any still-decreasing label.

    Scale: every round is two shuffles on uniformly-distributed id keys
    (no skew) over a labels table with one row per *clustered* doc — tiny
    relative to the corpus.  Only ids that appear in a pair participate;
    singletons are the caller's trivial left-join fill.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neigh = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("component").alias("ncomp")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("ncomp").alias("min_neigh"))
        )
        new = (
            labels.join(neigh.withColumnRenamed("src", "id"), "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("min_neigh", "component")
                ).alias("component"),
            )
        )
        # pointer jump: component(v) ← component(component(v))
        parent = new.select(
            F.col("id").alias("component"), F.col("component").alias("jump")
        )
        new = (
            new.join(parent, "component", "left")
            .select("id", F.coalesce("jump", "component").alias("component"))
            .localCheckpoint(eager=True)
        )
        still_decreasing = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") < F.col("o.component"))
            .limit(1)
            .count()
        )
        # free the PREVIOUS round's checkpoint blocks now that the
        # convergence check has read them — without this, a ~log(d)-round
        # run retains every round's full labels copy in executor storage
        # until GC happens to collect the RDD references, evicting the
        # persisted edges table on small heaps.  Storage stays bounded at
        # 2 copies (current + the one being built).  NOT Dataset.unpersist:
        # that only consults the CacheManager, which never saw the
        # checkpoint's RDD-level blocks (round-10 ADVICE, verified in
        # test_caching.py::test_release_local_checkpoint_frees_blocks).
        if labels is not new:
            release_local_checkpoint(labels)
        labels = new
        if still_decreasing == 0:
            break
    edges.unpersist()
    return labels


def cluster_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    broadcast_components: bool | None = None,
) -> DataFrame:
    """Cluster-level dedup verdict for every doc: ``(id_col, component,
    cluster_size, is_keeper)``.  Docs in no pair are their own singleton
    component; the deterministic keeper is the minimum id per component.

    Scale shape: the components table holds one row per doc that appears
    in a candidate pair — usually ≪ corpus, but corpus-sized in the
    worst case (every doc clustered), so ``broadcast_components`` follows
    the same contract as the LSH joins: None auto-sizes from the
    materialized component count (cheap — connected_components returns a
    checkpointed table), True pins the broadcast, False pins a shuffled
    join on the uniform id key.  ``cluster_size`` comes from a window
    over ``component`` — one shuffle on the component key — NOT a
    groupBy + broadcast join-back: the per-component size table has one
    row per component, which on a mostly-singleton corpus is
    corpus-sized and must never be broadcast.
    """
    from pyspark.sql import Window

    comp = connected_components(pairs, id_a=id_a, id_b=id_b).withColumnRenamed(
        "id", id_col
    )
    right, _ = _auto_build_side(comp, broadcast_components)
    labeled = (
        df.select(id_col)
        .join(right, id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    w = Window.partitionBy("component")
    return labeled.select(
        id_col,
        "component",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col(id_col) == F.col("component")).alias("is_keeper"),
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash signature per doc (OP-49 variant): each token hashes to a
    ``bits``-wide value; bit i of the signature is 1 iff the sum over tokens
    of ±1 (by token-hash bit i) is positive.

    ``portable=False`` (production default): xxhash64 token hash — the full
    64-bit signature space, JVM-vectorized, no hex-string round-trip.
    ``portable=True`` (bits ≤ 32): low 8 hex chars of md5, reproducible
    bit-for-bit in any engine with md5 — the form the DuckDB-checked
    catalog entries pin.
    Implemented as ``bits`` conditional-sum aggregates — no per-bit explode.
    Output: (id_col, simhash: long).

    .. versionchanged:: round 4
       **Breaking default flip**: defaults moved from ``bits=32`` +
       md5-token-hash to ``bits=64`` + xxhash64.  Signatures produced under
       the old defaults are NOT comparable to new-default signatures (no
       error is raised — hamming distances are simply meaningless across
       the two families).  Callers that persist signatures should pass
       ``bits``/``portable`` explicitly and recompute any stored values
       produced before the flip; ``portable=True, bits=32`` reproduces the
       old family exactly.
    """
    tok = F.explode(F.split(normalize_text(df[ident(text_col)]), " ")).alias("tok")
    if portable:
        assert bits <= 32, "portable md5 path carries 32 hash bits"
        h = F.conv(F.substring(F.md5(F.col("tok")), 25, 8), 16, 10).cast("long")
        bitmask = [F.lit(1 << i) for i in range(bits)]
    else:
        assert bits <= 64
        h = F.xxhash64(F.col("tok"))
        # JVM-side shifts: 1L << 63 is Long.MIN_VALUE (sign bit), which a
        # Python literal can't express as a LongType lit.
        bitmask = [
            F.shiftleft(F.lit(1).cast("long"), i) for i in range(bits)
        ]
    tokens = df.select(df[ident(id_col)], tok).withColumn("h", h)
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(bitmask[i]) != 0, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = tokens.groupBy(tokens[ident(id_col)]).agg(*aggs)
    sig = None
    for i in range(bits):
        # bits are disjoint → OR-assembly (no signed-overflow semantics to
        # reason about at bit 63, unlike arithmetic +)
        bit = F.when(F.col(f"b{i}") > 0, bitmask[i]).otherwise(F.lit(0))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return sums.select(sums[ident(id_col)], sig.cast("long").alias("simhash"))


def simhash_candidates(
    sig: DataFrame,
    id_col: str,
    bits: int,
    max_hamming: int,
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """Pigeonhole candidate pairs from a (id, simhash) table: split the
    signature into ``max_hamming+1`` chunks; a pair within the Hamming
    budget must agree exactly on ≥1 chunk, so candidates come from an
    equi-join on (chunk_id, chunk_value) — never an O(n²) cross join.
    Output: distinct (id_a, id_b, sh_a, sh_b), id_a < id_b — the exact
    bit_count filter is the caller's.

    Chunk width is ``bits // chunks``: 64-bit signatures give 21-bit
    chunks at max_hamming=2 (2M distinct values per chunk) and 16-bit at
    max_hamming=3 (65k values) — candidate volume stays near-linear in
    corpus size.  32-bit signatures at max_hamming=2 leave 10-bit chunks
    (1,024 values), where candidates grow ~N²·chunks/2^width — quadratic
    long before 100 TB, so the 32-bit form is only for portable-oracle
    checks.  Any bits not covered by ``chunks × width`` (e.g. bit 63 with
    21-bit chunks) can only DECREASE the in-chunk Hamming distance, so
    pigeonhole recall stays exact; the final filter XORs full signatures.

    ``broadcast_candidates``: same contract as
    :func:`lsh_pairs_from_bands` — None auto-sizes from the materialized
    chunk-table count, True pins the small-corpus broadcast, False pins
    the shuffled equi-join that survives corpus scale.
    """
    chunks = max_hamming + 1
    width = bits // chunks
    if width < 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs {chunks} chunks but the "
            f"signature has only {bits} bits — zero-width chunks would "
            "collide every pair (an accidental cross join). Use a wider "
            "signature or a smaller Hamming budget."
        )

    def _chunk_val(c: int) -> Column:
        # unsigned shift: the top chunk of a 64-bit signature must not
        # sign-extend when the sign bit is set
        shifted = F.shiftrightunsigned(F.col("simhash"), c * width)
        if width >= 64:
            # single full-width chunk (max_hamming=0): the mask is all 64
            # bits, which a signed LongType literal can't express — and
            # none is needed
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    entries = [
        F.struct(F.lit(c).alias("chunk"), _chunk_val(c).alias("cval"))
        for c in range(chunks)
    ]
    banded = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*entries)).alias("b")
    ).select(id_col, "simhash", "b.chunk", "b.cval")
    # banded feeds both join sides — persist so the simhash computation
    # runs once, not twice; one-entry lifecycle, same policy as
    # minhash_lsh_pairs (release via release_dedup_caches).
    banded = _CHUNK_CACHE.get_or_persist(banded, version=data_version(sig))
    l = banded.alias("l")
    r, _ = _auto_build_side(banded.alias("r"), broadcast_candidates)
    return (
        l.join(r, on=[F.col("l.chunk") == F.col("r.chunk"),
                      F.col("l.cval") == F.col("r.cval"),
                      F.col(f"l.{id_col}") < F.col(f"r.{id_col}")])
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    portable: bool = False,
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming — exact by the
    pigeonhole principle (see :func:`simhash_candidates` for the banding,
    chunk-width, and join-strategy scale analysis).

    Production default: 64-bit xxhash64 signatures (wide chunks → sparse
    candidate buckets, sub-quadratic candidate volume).  The 32-bit
    ``portable=True`` form exists for engine-portable oracle checks only.
    """
    sig = simhash_signatures(df, id_col, text_col, bits=bits, portable=portable)
    cand = simhash_candidates(
        sig, id_col, bits, max_hamming, broadcast_candidates=broadcast_candidates
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination probe: which corpus documents share word
    n-grams with a held-out benchmark set (train/test contamination is the
    canonical silent evaluation-inflation bug in LLM corpora — the standard
    mitigation is exactly this n-gram overlap check before training).

    Returns one row per contaminated corpus doc: ``(id_col,
    n_shared_shingles, n_benchmark_docs)`` — how many distinct n-grams it
    shares with the benchmark and how many benchmark docs it touches.
    Clean docs are absent (inner semantics); thresholding/removal is a
    downstream filter + anti-join.

    Scale: the benchmark side is tiny by construction (eval sets are
    thousands of docs) → broadcast, so the corpus-side shingle explode
    streams through one scan with no shuffle before the final per-doc
    aggregate.  Set ``broadcast_benchmark=False`` for benchmark sets beyond
    broadcast range (falls back to a shuffled equi-join on the shingle).
    """
    left = shingles(corpus, id_col, text_col, n=n)
    right = shingles(benchmark, id_col, text_col, n=n).withColumnRenamed(
        id_col, "__bench_id"
    )
    build = F.broadcast(right) if broadcast_benchmark else right
    return (
        left.join(build, "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("__bench_id").alias("n_benchmark_docs"),
        )
    )


def burst_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    min_gap_seconds: int = 60,
    tie_col: str | None = None,
) -> DataFrame:
    """Telemetry burst dedup: drop an event when the PREVIOUS event of the
    same key group landed less than ``min_gap_seconds`` before it — the
    retry/double-fire collapse every event-ingest pipeline runs before
    counting anything.  (Batch twin of the streaming
    ``dropDuplicatesWithinWatermark`` path, but gap-relative-to-previous
    rather than key-identity within a watermark.)

    One window (lag) partitioned by the keys — a single shuffle on the
    dedup keys, sorted within partitions only.  ``tie_col`` breaks
    equal-timestamp ordering deterministically (defaults to ``ts_col``
    only, so pass an id when timestamps can tie).
    """
    from pyspark.sql import Window

    order = [F.col(ts_col)] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    # ntz → epoch seconds (session TZ pinned UTC → identity)
    secs = F.col(ts_col).cast("timestamp").cast("long")
    prev = F.lag(secs).over(w)
    gap_ok = prev.isNull() | (secs - prev >= F.lit(min_gap_seconds))
    # A NULL timestamp cannot be gap-evaluated — and worse, it used to
    # BYPASS the gate twice: the NULL row itself was always kept (prev of
    # the first row is null) and, sorting first, it became the next real
    # event's lag value, whose NULL comparison read as "no predecessor" —
    # a malformed-timestamp retry burst (the exact garbage this operator
    # collapses) sailed through and disarmed the check for its successor.
    # Malformed rows are dropped; the quarantine path is where they go.
    return (
        df.where(F.col(ts_col).isNotNull())
        .withColumn("__keep", gap_ok)
        .where(F.col("__keep"))
        .drop("__keep")
    )


def _banded_signatures(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Fold a wide minhash signature into (id, band, bkey) rows.

    The band id is folded INTO the digest (``md5(band || values)``), so the
    candidate join downstream is a single-key equi-join on ``bkey`` —
    cross-band collisions are impossible by construction, and a stored band
    table bucketed by ``bkey`` gives a shuffle-free bucketed self-join
    (multi-key joins over a single-column bucket layout don't engage
    Spark's bucketed-scan planning)."""
    rows_per_band = num_hashes // bands
    # the band-entry array as one parsed SQL string: the per-band
    # struct/md5/cast Column loop cost ~0.2 s of py4j round trips per call
    entries = []
    for b in range(bands):
        cols_sql = ", ".join(
            f"CAST({ident(f'mh_{b * rows_per_band + i}')} AS STRING)"
            for i in range(rows_per_band)
        )
        entries.append(
            f"struct({int(b)} AS band, md5(concat_ws("
            f"{string_lit('|')}, {string_lit(str(b))}, {cols_sql})) AS bkey)"
        )
    return sig.select(
        F.col(id_col), F.explode(F.expr(f"array({', '.join(entries)})")).alias("b")
    ).select(id_col, "b.band", "b.bkey")


def minhash_lsh_pairs_cross(
    new_df: DataFrame,
    corpus_df: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = False,
    corpus_bands: DataFrame | None = None,
    broadcast_delta: bool | None = None,
    corpus_index_path: str | None = None,
) -> DataFrame:
    """Incremental near-dup candidates: NEW batch × EXISTING corpus only —
    the join every continuously-ingested corpus runs per arrival batch
    (dedup the delta against history; never re-pair history with itself).

    Same banded signatures as :func:`minhash_lsh_pairs`, but the equi-join
    is strictly cross-set, so the work per day is O(|new|·bands) probe
    rows against the persisted corpus band table.  Returns distinct
    (new_id, corpus_id).

    ``broadcast_delta``: the delta side follows the module's single
    cutover policy (:func:`_auto_build_side`) — None (default) counts the
    delta band table and broadcasts only under
    :data:`_BROADCAST_ROW_BUDGET` rows, so a daily-sized delta is probed
    against the corpus in place while a backfill-sized delta falls back
    to the shuffled equi-join on the uniformly-hashed ``bkey`` (an
    unconditional broadcast would attempt multi-GB driver shipping
    exactly on the operator a bulk re-ingest calls).  True/False pins the
    strategy.  Under auto-sizing the delta band table is persisted so its
    signature build (scan → shingle explode → k-way min agg) runs once:
    the sizing count materializes the cache the join then reads.
    Lifecycle: one-entry module cache — each new delta releases the
    previous batch's cached band table (:func:`release_dedup_caches`
    drops it eagerly), so a daily ingest loop holds ONE delta-sized
    cache, ever, instead of one per batch.

    The join keys on ``bkey`` alone — the band id is folded into the
    digest (:func:`_banded_signatures`), so bkey equality implies band
    equality, and a corpus index bucketed by ``bkey``
    (``stores.write_bucketed``) satisfies the join's distribution with no
    corpus-side shuffle even on the non-broadcast path.

    ``corpus_bands``: the steady-state form — pass the STORED (id, band,
    bkey) corpus band table (built via ``minhash_signatures`` →
    ``_banded_signatures`` with the SAME n/num_hashes/bands/portable and
    persisted with ``stores.write_bucketed`` on ``bkey``) and the corpus
    text is never re-read: per-batch cost is the delta signature build
    plus the probe.  Same digest-provenance contract as
    :func:`lsh_pairs_from_bands` — a band table whose digest doesn't fold
    the band id in yields cross-band false pairs.  Exactly one of
    ``corpus_df`` / ``corpus_bands`` must be provided.  After admitting
    the delta, close the loop with :func:`append_band_index`.

    ``corpus_index_path``: the storage path of the stored index behind
    ``corpus_bands``.  When given, the probe runs the same on-disk
    family-marker gate appends run (:func:`check_band_family`) BEFORE
    joining — a pre-round-8 or cross-family index fails loudly here
    instead of silently returning zero pairs (the exact silent-recall
    loss the marker exists to prevent; a docstring warning alone did
    not stop it).  Optional because ``corpus_bands`` may be an
    in-process DataFrame with no storage path; pass it whenever the
    bands come from a stored index.
    """
    assert num_hashes % bands == 0
    if (corpus_df is None) == (corpus_bands is None):
        raise ValueError("pass exactly one of corpus_df or corpus_bands")
    if corpus_index_path is not None:
        if corpus_bands is None:
            raise ValueError("corpus_index_path requires corpus_bands")
        check_band_family(corpus_index_path, portable)
    new_b = _banded_signatures(
        _pipeline_signatures(new_df, id_col, text_col, n, num_hashes, portable),
        id_col, num_hashes, bands,
    )
    if broadcast_delta is None:
        # auto-sizing counts the delta band table, which materializes the
        # cache the join then reads; one-entry lifecycle so a per-batch
        # ingest loop never accumulates yesterday's delta (the round-6
        # ADVICE leak) — released on the next different-delta call or
        # release_dedup_caches().
        new_b = _DELTA_BAND_CACHE.get_or_persist(new_b, version=data_version(new_df))
    new_b, _ = _auto_build_side(new_b, broadcast_delta)
    new_b = new_b.alias("l")
    corp_b = (
        corpus_bands
        if corpus_bands is not None
        else _banded_signatures(
            _pipeline_signatures(corpus_df, id_col, text_col, n, num_hashes, portable),
            id_col, num_hashes, bands,
        )
    ).alias("r")
    return (
        corp_b.join(new_b, on=[F.col("l.bkey") == F.col("r.bkey")])
        .select(
            F.col(f"l.{id_col}").alias("new_id"),
            F.col(f"r.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )


def _band_family(portable: bool) -> str:
    """The signature hash family a pipeline call produces — stamped on
    every stored band index so a cross-family probe/append fails LOUDLY
    instead of silently matching nothing (the round-8 family change made
    this a real hazard: an xxhash-era index probed with arrow-family
    bands returns zero pairs, admitting every duplicate).  ``arrow-v2``
    since round 9: the kernel's per-row minima moved from unsigned to
    signed order (the duplicate-id merge bug fix) — emitted signatures
    changed for any doc with a top-bit-set shingle value, so round-8
    ``arrow-v1`` indexes are a distinct, incompatible family."""
    return "md5-portable" if portable else "arrow-v2"


def _family_marker_path(path: str) -> str:
    from feature_store_healthcare_spark.stores import local_path

    return f"{local_path(path)}__family"


def _check_band_family(path: str, family: str, action: str = "append") -> None:
    """Fail-fast provenance gate against an EXISTING stored band index:
    the on-disk family marker must match the family this call computes.
    A populated index directory with NO marker predates the round-8
    family stamp (or was built outside these builders) — its family is
    unknowable, so the call refuses and the remedy is a rebuild through
    :func:`build_band_index`.  ``action`` names the caller's verb
    ("append" / "probe") in the error text."""
    import os

    from feature_store_healthcare_spark.stores import local_path

    marker = _family_marker_path(path)
    if os.path.exists(marker):
        with open(marker) as fh:
            existing = fh.read().strip()
        if existing != family:
            raise ValueError(
                f"stored band index at {path!r} was built with signature "
                f"family {existing!r}; this call would {action} "
                f"{family!r} bands — cross-family bands never collide, so "
                "the index would silently stop finding duplicates. Match "
                "the original parameters or rebuild via build_band_index."
            )
        return
    d = local_path(path)
    if os.path.isdir(d) and os.listdir(d):
        raise ValueError(
            f"stored band index at {path!r} has no family marker (it "
            "predates the round-8 family stamp, or was written outside "
            f"build/append_band_index) — its signature family is "
            f"unknowable, and a mismatched {action} would silently "
            "return zero matches. Rebuild via build_band_index."
        )


def check_band_family(path: str, portable: bool = False) -> None:
    """PUBLIC probe-side provenance gate (round-8 ADVICE): raises
    ``ValueError`` if the stored band index at ``path`` was built with a
    different signature family than a probe computing ``portable=...``
    signatures would use, or if it has no family marker (pre-round-8, or
    written outside build/append_band_index).  The build/append path is
    already guarded on-disk; a PROBE against a cross-family index is the
    silent failure — zero collisions, every duplicate admitted — so call
    this (or pass ``corpus_index_path`` to
    :func:`minhash_lsh_pairs_cross`) before probing a stored index you
    did not build in-process."""
    _check_band_family(path, _band_family(portable), action="probe with")


def _write_band_family(path: str, family: str) -> None:
    import os

    marker = _family_marker_path(path)
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(family)
    os.replace(tmp, marker)


def build_band_index(
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    path: str,
    n_buckets: int,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = False,
) -> None:
    """Bootstrap (or REBUILD from scratch) the stored LSH band index: the
    corpus's (id, band, bkey) rows written bucketed by ``bkey`` with
    OVERWRITE semantics — idempotent, safe against stale leftovers from a
    previous session, unlike :func:`append_band_index`'s blind append.
    Probe it with :func:`minhash_lsh_pairs_cross` ``corpus_bands=`` /
    :func:`lsh_pairs_from_bands`; grow it with :func:`append_band_index`;
    compact it with ``stores.compact_bucketed``.  Signature parameters
    define the hash family every later append/probe MUST match (the
    digest-provenance contract of :func:`lsh_pairs_from_bands`)."""
    from feature_store_healthcare_spark.stores import write_bucketed

    bands_df = _banded_signatures(
        _pipeline_signatures(corpus_df, id_col, text_col, n, num_hashes, portable),
        id_col,
        num_hashes,
        bands,
    )
    # Marker ordering: REMOVE before the overwrite, stamp after.  Writing
    # the marker only after the data meant a crash inside the overwrite
    # of a family-CHANGING rebuild left the OLD family marker over NEW
    # rows — old-family probes then passed the gate and joined
    # incompatible bands, i.e. zero collisions and every duplicate
    # silently admitted.  With the marker gone during the window, the
    # crash state fails LOUD (no marker → rebuild) instead of silent.
    import os

    try:
        os.remove(_family_marker_path(path))
    except FileNotFoundError:
        pass
    write_bucketed(bands_df, table, "bkey", n_buckets, path, mode="overwrite")
    _write_band_family(path, _band_family(portable))


def append_band_index(
    delta_df: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    path: str,
    n_buckets: int,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = False,
) -> None:
    """Maintain the stored LSH band index: append the delta's (id, band,
    bkey) rows to the bucketed corpus band table — the closing step of the
    daily incremental loop (probe with :func:`minhash_lsh_pairs_cross`
    ``corpus_bands=`` → cluster/dedup → admit survivors → **append their
    bands here**), so tomorrow's probe sees today's admitted docs without
    ever rebuilding the index from text.

    Signature parameters (``n``/``num_hashes``/``bands``/``portable``) and
    the bucket layout (``n_buckets`` on ``bkey``) MUST match the existing
    index — Spark rejects a mismatched bucket spec on append, and a
    mismatched hash FAMILY (portable md5 vs the round-8 arrow kernel) is
    rejected by the on-disk family marker (:func:`_check_band_family` —
    cross-family bands never collide, so an unguarded mix would silently
    stop finding duplicates; an index that predates the marker refuses
    appends until rebuilt).  On a first call the table is created, so
    the same function bootstraps and maintains the index.

    Scale: cost is the delta's own signature build plus one bucketed write
    of |delta|·bands fixed-width rows — no read of the existing index, no
    compaction (appends add files per bucket; bucket membership stays
    correct, so probes never degrade in correctness — run
    ``stores.compact_bucketed`` periodically to collapse the accumulated
    per-bucket files back to one).
    """
    from feature_store_healthcare_spark.stores import write_bucketed

    family = _band_family(portable)
    _check_band_family(path, family)  # loud, before anything is written
    delta_bands = _banded_signatures(
        _pipeline_signatures(delta_df, id_col, text_col, n, num_hashes, portable),
        id_col,
        num_hashes,
        bands,
    )
    write_bucketed(delta_bands, table, "bkey", n_buckets, path, mode="append")
    # bootstrap call (no marker yet): stamp the family after the first
    # successful write; a crash between the two leaves a marker-less
    # populated dir, which the next call refuses — recovery is a rebuild
    _write_band_family(path, family)


def span_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 12,
) -> DataFrame:
    """Substring-level duplication report (the bounded form of
    suffix-array exact-substring dedup, Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better"): every ``span_tokens``
    sliding window that recurs in MORE THAN ONE document, with occurrence
    and document counts — the memorization-risk spans a span-removal pass
    would cut.

    Plan: token slide (same in-row expression shape as shingles, stride
    1, occurrences NOT deduped) → md5 → one partial-aggregatable groupBy
    on the hash-uniform span key.  Rows explode ×tokens/doc exactly like
    the shingle paths; nothing else shuffles.  Output: (span_hash,
    n_docs, n_occurrences), cross-document spans only.  NULL text yields
    no span (the ``shingles`` guard): unguarded, every NULL-text doc
    slid to one NULL span and two of them reported a NULL "duplicate".
    """
    id_c = ident(id_col)
    spans = ngram_sql("__sg_tokens", span_tokens)
    long = df.select(
        df[id_c], F.split(normalize_text(df[ident(text_col)]), " ").alias("__sg_tokens")
    ).selectExpr(
        id_c, f"explode(CASE WHEN `__sg_tokens` IS NOT NULL THEN {spans} END) AS span"
    )
    return (
        long.groupBy(F.md5("span").alias("span_hash"))
        .agg(
            F.countDistinct(long[id_c]).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )

