"""Deterministic sampling / splitting operators for training-data curation
(★ driver-extension surface, BASELINE.json:6 — no reference implementation;
closest analog is the reference's batch chunking, feature_server.py:106).

Training pipelines need reproducible membership decisions — the same
document must land in the same split on every run, on every cluster size,
with no RNG state.  Both operators here derive membership purely from
``md5`` of a salted key, which is available and bit-identical in Spark and
DuckDB, so every decision is oracle-checkable:

- **hash_split**: train/val/test assignment by comparing a fixed-width
  lowercase-hex md5 prefix against precomputed hex thresholds.  Lowercase
  hex sorts lexicographically in numeric order (``'0'..'9' < 'a'..'f'``),
  so a string comparison IS the numeric bucket test — no hex→int
  conversion (which the two engines spell differently) is needed.  The
  operator is a pure projection: no shuffle, scales linearly, and a
  resized cluster or re-partitioned input cannot move a row between
  splits.
- **stratified_sample**: exactly-k-per-stratum deterministic sample via
  ``row_number`` over ``md5`` order — one shuffle on the strata columns;
  per-stratum state is O(k).  The md5 ordering is a fixed pseudo-random
  permutation, so growing the corpus only perturbs membership near the
  cut, and reruns are identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feature_store_healthcare_spark import tableops
from feature_store_healthcare_spark.caching import PlanCache, data_version

#: md5-prefix width used for bucket decisions; 8 hex digits = 32 bits of
#: uniformity, plenty for split fractions while keeping thresholds short.
_PREFIX = 8


def split_thresholds(weights: dict[str, float], prefix: int = _PREFIX) -> list[tuple[str, str]]:
    """[(label, upper_hex_bound)] with cumulative bounds; last bound is the
    all-'f' sentinel so every row matches exactly one label."""
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("split weights must sum to a positive number")
    out: list[tuple[str, str]] = []
    acc = 0.0
    labels = list(weights)
    for label in labels[:-1]:
        acc += weights[label] / total
        bound = min(int(acc * (16**prefix)), 16**prefix - 1)
        out.append((label, format(bound, f"0{prefix}x")))
    out.append((labels[-1], "f" * prefix))
    return out


def split_key(key: Column | str, salt: str) -> Column:
    """The salted md5 prefix a row's split decision is made on."""
    c = F.col(key) if isinstance(key, str) else key
    return F.substring(F.md5(F.concat_ws(":", F.lit(salt), c.cast("string"))), 1, _PREFIX)


def split_label(key: Column | str, weights: dict[str, float], salt: str = "split") -> Column:
    """CASE expression assigning one of ``weights``' labels per row."""
    h = split_key(key, salt)
    expr = None
    for label, bound in split_thresholds(weights):
        cond = h <= F.lit(bound)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return expr


def hash_split(
    df: DataFrame, key: str, weights: dict[str, float], salt: str = "split"
) -> DataFrame:
    """Tag every row with a deterministic ``split`` column (no shuffle)."""
    return df.withColumn("split", split_label(key, weights, salt))


def split_label_sql(key_sql: str, weights: dict[str, float], salt: str = "split") -> str:
    """The DuckDB-equivalent CASE for :func:`split_label` (oracle side)."""
    h = f"substr(md5('{salt}:' || CAST({key_sql} AS VARCHAR)), 1, {_PREFIX})"
    arms = "".join(
        f" WHEN {h} <= '{bound}' THEN '{label}'"
        for label, bound in split_thresholds(weights)
    )
    return f"CASE{arms} END"


def stratified_sample(
    df: DataFrame, strata: list[str], key: str, k: int, salt: str = "sample"
) -> DataFrame:
    """At most ``k`` rows per stratum, chosen by the md5 permutation; ties
    (md5 collisions) broken by the key itself so the cut is total-ordered."""
    h = split_key(key, salt)
    w = Window.partitionBy(*strata).orderBy(h, F.col(key))
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .drop("__rank")
    )


def _frac_bound(frac: float, prefix: int = _PREFIX) -> str:
    """Hex bound b such that P(md5-prefix < b) == frac (to 1/16^prefix)."""
    return format(max(0, min(int(frac * (16**prefix)), 16**prefix)), f"0{prefix}x")


def mix_copies(
    key: Column | str,
    group: Column | str,
    weights: dict[str, float],
    default: float = 1.0,
    salt: str = "mix",
) -> Column:
    """Deterministic per-row copy count for domain reweighting: a row in
    group g with weight w gets ``floor(w)`` copies plus one more when its
    salted md5 prefix lands below the fractional remainder — so the
    EXPECTED multiplicity is exactly w, the decision is reproducible (no
    RNG state), and any integer weight is exact.  ``w < 1`` downsamples,
    ``w > 1`` upsamples — the standard LLM-corpus domain-mixing knob
    ("books × 2.5, web × 0.4")."""
    g = F.col(group) if isinstance(group, str) else group
    h = split_key(key, salt)
    expr = None
    for label, w in weights.items():
        if w < 0:
            raise ValueError(f"negative mix weight for {label!r}")
        n_full, frac = int(w), w - int(w)
        copies = F.lit(n_full) + (h < F.lit(_frac_bound(frac))).cast("int")
        cond = g == F.lit(label)
        expr = F.when(cond, copies) if expr is None else expr.when(cond, copies)
    n_full, frac = int(default), default - int(default)
    fallback = F.lit(n_full) + (h < F.lit(_frac_bound(frac))).cast("int")
    return expr.otherwise(fallback) if expr is not None else fallback


def weighted_mix(
    df: DataFrame,
    group_col: str,
    key: str,
    weights: dict[str, float],
    default: float = 1.0,
    salt: str = "mix",
    copy_col: str = "mix_copy",
) -> DataFrame:
    """Materialize the domain mix: each row appears ``mix_copies`` times,
    with ``copy_col`` numbering the replicas (1..n) so downstream shuffles
    and dedups can tell them apart.  Pure narrow projection + explode — no
    shuffle; at 100 TB the mix runs inside the corpus scan."""
    copies = mix_copies(key, group_col, weights, default=default, salt=salt)
    seq = F.when(copies > 0, F.sequence(F.lit(1), copies)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn(copy_col, F.explode(seq))


def mix_copies_sql(
    key_sql: str,
    group_sql: str,
    weights: dict[str, float],
    default: float = 1.0,
    salt: str = "mix",
) -> str:
    """DuckDB-equivalent copy-count expression (oracle side)."""
    h = f"substr(md5('{salt}:' || CAST({key_sql} AS VARCHAR)), 1, {_PREFIX})"
    arms = ""
    for label, w in weights.items():
        n_full, frac = int(w), w - int(w)
        arms += (
            f" WHEN {group_sql} = '{label}' THEN "
            f"{n_full} + CASE WHEN {h} < '{_frac_bound(frac)}' THEN 1 ELSE 0 END"
        )
    n_full, frac = int(default), default - int(default)
    fallback = (
        f"{n_full} + CASE WHEN {h} < '{_frac_bound(frac)}' THEN 1 ELSE 0 END"
    )
    return f"CASE{arms} ELSE {fallback} END" if arms else fallback


def pack_group(key: Column | str, salt: str = "pack", chars: int = 1) -> Column:
    """Deterministic pack group: the first ``chars`` hex digits of the
    salted md5 — 16^chars groups, identical in Spark and DuckDB (string
    compare, no hex→int conversion)."""
    return F.substring(split_key(key, salt), 1, chars)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    salt: str = "pack",
    group_chars: int = 1,
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences ("packing").

    Docs are ordered by a salted md5 permutation *within* 16^``group_chars``
    deterministic groups; a running token sum assigns each doc to the pack
    its first token lands in (``pack_id = floor(cum_before / budget)``).
    This is offset packing, not bin packing: a doc may straddle a pack
    boundary (real packers split the doc's tokens there), but membership is
    a pure window sum — no greedy reset state — so it is reproducible,
    oracle-checkable, and embarrassingly parallel: each group packs
    independently, so 100 TB packs with one hash-partitioned sort, and
    growing the corpus only perturbs packs near each group's md5 cut.

    Adds: ``pack_group`` (hex str), ``pack_seq`` (doc's order in group),
    ``pack_offset`` (tokens before this doc), ``pack_id``.
    """
    h = split_key(id_col, salt)
    out = df.withColumn("pack_group", pack_group(id_col, salt, group_chars))
    w = (
        Window.partitionBy("pack_group")
        .orderBy(h, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq_w = Window.partitionBy("pack_group").orderBy(h, F.col(id_col))
    cum = F.sum(tokens_col).over(w)
    return (
        out.withColumn("pack_seq", F.row_number().over(seq_w))
        .withColumn("pack_offset", (cum - F.col(tokens_col)).cast("long"))
        .withColumn("pack_id", F.floor(F.col("pack_offset") / F.lit(budget)))
    )


def leave_last_k_split(
    df: DataFrame,
    entity: str | list[str],
    ts_col: str,
    tiebreak: list[str] | None = None,
    k_test: int = 1,
    k_val: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Temporal per-entity split: each entity's newest ``k_test`` rows are
    'test', the next ``k_val`` are 'val', the rest 'train' — the
    leave-last-k-out protocol for sequential models (next-event
    prediction), where a random split would leak future rows into
    training.  One shuffle on the entity key; deterministic given
    ``tiebreak`` makes the ordering total.
    """
    entities = [entity] if isinstance(entity, str) else list(entity)
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in (tiebreak or [])]
    w = Window.partitionBy(*entities).orderBy(*order)
    rn = F.row_number().over(w)
    label = (
        F.when(rn <= k_test, F.lit("test"))
        .when(rn <= k_test + k_val, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn(split_col, label)


def temperature_sample(
    df: DataFrame,
    group: str,
    key: str,
    temperature: float = 0.7,
    target_frac: float = 0.5,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-weighted domain sampling — the standard pre-training
    mixture transform (mT5/XLM-R style ``q_d ∝ p_d^(1/T)``): T=1 keeps
    natural proportions, T>1 flattens the mixture toward uniform
    (upweights small domains), T<1 sharpens it.  Realized per row by the
    deterministic md5 threshold (no RNG, repartition-proof, reproducible
    in any engine).

    Per-domain acceptance rate ``min(1, target_frac·N·w_d / n_d)`` is
    derived from one tiny per-domain count aggregate and broadcast back;
    the corpus itself is touched by exactly one scan + one filter.
    Output: input columns + ``accept_rate`` (rounded to 6) for audit.
    """
    inv_t = 1.0 / temperature
    counts = df.groupBy(group).agg(F.count(F.lit(1)).alias("__n"))
    tot = counts.agg(
        F.sum("__n").alias("__tot"),
        # decimal-accumulated: Z is order-independent, so the derived
        # rates (and the md5 cut) are bit-stable across engines
        F.sum(
            F.pow(F.col("__n").cast("double"), F.lit(inv_t)).cast(
                "decimal(30,10)"
            )
        )
        .cast("double")
        .alias("__z"),
    )
    # w_d = n_d^(1/T) / Z with Z = Σ n^(1/T) (the papers write shares^(1/T);
    # the N^(1/T) normalization cancels) → rate = target·N·w_d / n_d
    rates = counts.crossJoin(F.broadcast(tot)).select(
        F.col(group),
        F.least(
            F.lit(1.0),
            F.lit(target_frac)
            * F.col("__tot")
            * F.pow(F.col("__n").cast("double"), F.lit(inv_t))
            / (F.col("__z") * F.col("__n")),
        ).alias("__rate"),
    )
    prefix = 8
    bound = F.lpad(
        F.lower(F.hex(F.floor(F.col("__rate") * F.lit(float(16**prefix))))),
        prefix,
        "0",
    )
    h = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(key).cast("string"))), 1, prefix
    )
    return (
        df.join(F.broadcast(rates), group)
        .where((F.col("__rate") >= 1.0) | (h < bound))
        .withColumn("accept_rate", F.round(F.col("__rate"), 6))
        .drop("__rate")
    )


def weighted_sample(
    df: DataFrame,
    key: str,
    weight_col: str,
    k: int,
    strata: list[str] | None = None,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis 2006): each row draws u from its salted md5 (a fixed uniform
    in (0,1) — no RNG state) and ranks by ``ln(u)/w``; the top-k ranks
    are a weighted-without-replacement sample — inclusion probability
    proportional to weight, reproducible on any engine/partitioning.

    ``ln(u)/w`` is the monotone log form of the textbook ``u^(1/w)``
    (better conditioned; u ∈ (0,1) via the +0.5 offset so ln never sees
    0).  One row_number window per stratum — the same single-shuffle
    shape as stratified_sample, with weights instead of uniform odds.
    Rows with weight ≤ 0 are excluded (undefined inclusion odds).
    """
    h = F.conv(split_key(key, salt), 16, 10).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(16**_PREFIX))
    es_key = F.log(u) / F.col(weight_col).cast("double")
    parts = [F.col(c) for c in (strata or [])]
    w = Window.partitionBy(*parts).orderBy(
        es_key.desc(), F.col(key)
    )
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k)
        .drop("__r")
    )


def kfold_assign(key: Column | str, k: int = 5, salt: str = "fold") -> Column:
    """Deterministic k-fold id in [0, k): the salted md5 prefix as an
    integer mod k — every row keeps its fold on any engine/partitioning/
    rerun (the cross-validation split twin of hash_split's fractions)."""
    h = F.conv(split_key(key, salt), 16, 10).cast("bigint")
    return F.pmod(h, F.lit(k)).cast("int")


def source_mix_plan(
    docs: DataFrame,
    group_col: str,
    token_count: Column,
    target: dict[str, float],
    max_epochs: float = 2.0,
) -> DataFrame:
    """Training-mix planner (the budget arithmetic behind DoReMi/The Pile
    style domain weighting): given a TARGET token share per group (lang /
    source / domain) and the tokens actually available, compute the
    largest total token budget that honors every share without repeating
    any group more than ``max_epochs`` times, and each group's allocation
    and epoch count under it.  The binding group — the one at exactly
    ``max_epochs`` — is the mix's bottleneck; everything else is
    down-sampled.  Complements :func:`weighted_mix`, which MATERIALIZES
    a given per-group multiplicity row-by-row: this op COMPUTES the
    multiplicities (the ``epochs`` column is exactly the weights dict
    ``weighted_mix`` consumes) from token-share targets + availability.

    Plan: ONE corpus scan → per-group token sums (exact BIGINT, partial-
    aggregated) → broadcast join with the |target|-row share table, then
    the |groups|-row joined frame is persisted through the module's
    one-entry PlanCache so the 1-row global MIN and the final projection
    both read the materialized rows instead of re-deriving the corpus
    aggregate (without it Catalyst plans a second full scan under the
    budget subtree — the exact duplicate-lineage trap the drift
    statistic frames guard against; PlanCache rather than
    localCheckpoint so repeated calls hold one releasable persisted
    copy instead of leaking unreleasable checkpoint blocks — round-12
    ADVICE).
    Driver holds nothing; works unchanged at 100 TB where the groupBy
    output is still |groups| rows.
    Double arithmetic is fixed-order (tokens→double, ×epochs, ÷share) so
    the plan is engine-reproducible bit-for-bit.

    Output: (``group_col``, n_docs, n_tokens, target_frac, alloc_tokens
    rounded to 2, epochs rounded to 6), one row per group present in both
    the corpus and ``target``.
    """
    bad = {k: v for k, v in target.items() if not (0.0 < float(v) < float("inf"))}
    if bad or max_epochs <= 0:
        # a zero/negative share makes its cap ±Infinity or negative and
        # silently poisons the global MIN budget (every allocation goes
        # negative or a group drops out of the MIN with no error) —
        # fail fast before the nonsense plan reaches weighted_mix
        raise ValueError(
            f"source_mix_plan: target shares must be finite and > 0 "
            f"(bad: {bad or None}) and max_epochs > 0 (got {max_epochs})"
        )
    spark = docs.sparkSession
    tgt = spark.createDataFrame(
        sorted(target.items()), f"{group_col} string, target_frac double"
    )
    per = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count).alias("n_tokens"),
    # an all-empty group (0 tokens) would pin the budget at 0 and NaN its
    # own epochs: it has nothing to allocate, so it simply isn't planned
    ).where(F.col("n_tokens") > 0)
    j = _MIX_PLAN_CACHE.get_or_persist(
        per.join(F.broadcast(tgt), group_col), version=data_version(docs)
    )
    cap = (
        F.col("n_tokens").cast("double") * F.lit(float(max_epochs))
        / F.col("target_frac")
    )
    budget = F.broadcast(j.agg(F.min(cap).alias("__budget")))
    return j.crossJoin(budget).select(
        group_col,
        "n_docs",
        "n_tokens",
        "target_frac",
        F.round(F.col("__budget") * F.col("target_frac"), 2).alias("alloc_tokens"),
        F.round(
            F.col("__budget") * F.col("target_frac") / F.col("n_tokens").cast("double"),
            6,
        ).alias("epochs"),
    )


#: One-entry persisted caches for the ≤``16^prefix_chars``-row per-dim
#: count tables and the |groups|-row mix-plan join — the round-12 ADVICE
#: closure done RIGHT: the first fix (collect + createDataFrame rebuild)
#: leaked nothing but re-distributed the rows through a Python
#: parallelize, costing ~+0.6 s per call on three HEADLINE floors
#: (measured A/B at sf0.1: localCheckpoint 1.65 s vs rebuild 2.28 s for
#: dsir_importance_resample).  PlanCache keeps the materialized rows
#: JVM-side like the old eager localCheckpoint did, and its
#: release-the-predecessor lifecycle (module standard, q11/q20
#: precedent) bounds a long-lived session to ONE persisted copy per
#: entry instead of a leaked block set per call — `persist` blocks,
#: unlike localCheckpoint blocks, actually free on release.
_DSIR_DIST_CACHE = PlanCache("dsir_logratio_weights.dist")
_DSIR_STORED_DIST_CACHE = PlanCache("dsir_score_from_dist.dist")
_MIX_PLAN_CACHE = PlanCache("source_mix_plan.joined")


def dsir_logratio_weights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    prefix_chars: int = 2,
    alpha: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, *Data Selection for
    Language Models via Importance Resampling*): score every document by
    how much more likely its hashed bag-of-words is under the TARGET
    distribution (the ``is_target`` subset — a trusted high-quality
    domain) than under the RAW corpus distribution.  Selecting/resampling
    by this weight steers a web-scale corpus toward the target domain
    without training a classifier.

    Both distributions are add-``alpha``-smoothed multinomials over the
    ``16^prefix_chars`` feature-hashed dimensions (the same md5-prefix
    trick as :func:`~feature_store_healthcare_spark.operators.text.
    hashed_tf` — vocabulary-free, fixed width at any corpus size, and the
    hex dim label reproduces in any engine).  The per-document weight is
    the LENGTH-NORMALIZED mean log importance ratio
    ``(1/n_tokens)·Σ_dim tf·(ln p_target(dim) − ln p_raw(dim))`` so long
    documents do not dominate selection, rounded to ``round_to`` for
    engine-reproducible thresholding.

    Plan shape (100 TB): the per-dim distribution pass needs NO per-doc
    grouping — BOTH smoothed multinomials come from one direct
    ``groupBy(dim)`` over the token stream (map-side partial aggregation
    ⇒ ≤``16^prefix_chars`` partial rows per task, the target flag rides
    as a conditional sum), materialized at ≤``16^prefix_chars`` rows in
    the module's one-entry PlanCache so the totals and the log-ratio
    table read those rows instead of re-deriving the corpus aggregate
    (same duplicate-lineage guard as :func:`source_mix_plan`; the
    PlanCache lifecycle releases the predecessor's blocks, so repeated
    calls hold ONE persisted copy instead of leaking one per call —
    round-12 ADVICE closure, measured against both alternatives).  The
    per-doc side is the ONLY corpus-sized shuffle: (doc, dim) tf →
    broadcast join with the ≤256-row log-ratio table → one fold on the
    uniform doc key.  Two tokenize passes, one corpus shuffle, no
    collect, no UDF.  The RESAMPLING step composes with the existing
    deterministic samplers: feed ``exp(dsir_logratio)`` to
    :func:`weighted_sample` (Gumbel-top-k without replacement) or
    threshold at 0 (doc more target-like than raw-like).

    Output: (``id_col``, n_tokens, dsir_logratio).
    """
    from feature_store_healthcare_spark.operators.dedup import normalize_text

    n_dims = 16**prefix_chars
    toks = docs.select(
        F.col(id_col),
        is_target.cast("long").alias("__tgt"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__tok"),
    ).where(F.length("__tok") >= 1)
    dim = F.substring(F.md5("__tok"), 1, prefix_chars).alias("dim")
    dist = _DSIR_DIST_CACHE.get_or_persist(
        toks.groupBy(dim).agg(
            F.count(F.lit(1)).alias("r_ct"), F.sum("__tgt").alias("t_ct")
        ),
        version=data_version(docs),
    )
    tf = toks.groupBy(id_col, dim).agg(F.count(F.lit(1)).alias("tf"))
    _, lr = _dsir_logratio_table(dist, n_dims, alpha)
    per_doc = (
        tf.join(F.broadcast(lr), "dim")
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("logratio")).alias("__s"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        F.round(F.col("__s") / F.col("n_tokens"), round_to).alias("dsir_logratio"),
    )


def _dsir_logratio_table(
    dist: DataFrame, n_dims: int, alpha: float
) -> tuple[DataFrame, DataFrame]:
    """``(tots, lr)`` from per-dim counts: the one-row ``(r_tot, t_tot)``
    and the add-``alpha`` smoothed per-dim ``logratio`` — one builder for
    both DSIR scorers, which keeps them bit-identical."""
    a, aD = float(alpha), float(alpha) * n_dims
    tots = dist.agg(F.sum("r_ct").alias("r_tot"), F.sum("t_ct").alias("t_tot"))
    lr = dist.crossJoin(F.broadcast(tots)).select(
        "dim",
        (
            F.log((F.col("t_ct") + F.lit(a)) / (F.col("t_tot") + F.lit(aD)))
            - F.log((F.col("r_ct") + F.lit(a)) / (F.col("r_tot") + F.lit(aD)))
        ).alias("logratio"),
    )
    return tots, lr


def _dsir_dim_counts(
    docs: DataFrame, text_col: str, is_target: Column, prefix_chars: int
) -> DataFrame:
    """Per-dim token counts (dim, r_ct, t_ct) — the sufficient statistics
    of both DSIR multinomials, from one direct groupBy(dim) token pass
    (map-side partials ⇒ ≤16^prefix_chars partial rows per task).
    Integer counts fold EXACTLY under addition, which is what makes the
    stored form (:func:`append_dsir_dist` + read-time sum) bit-identical
    to a single-pass recompute."""
    from feature_store_healthcare_spark.operators.dedup import normalize_text

    toks = docs.select(
        is_target.cast("long").alias("__tgt"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__tok"),
    ).where(F.length("__tok") >= 1)
    return toks.groupBy(
        F.substring(F.md5("__tok"), 1, prefix_chars).alias("dim")
    ).agg(F.count(F.lit(1)).alias("r_ct"), F.sum("__tgt").alias("t_ct"))


def build_dsir_dist(
    docs: DataFrame,
    text_col: str,
    is_target: Column,
    path: str,
    prefix_chars: int = 2,
) -> None:
    """Persist the DSIR distribution statistics for a corpus — the stored
    half of the incremental curation loop — as a new version of the root
    ``path`` (:func:`tableops.write_version`).  The table is APPEND-ONLY
    per-batch count rows (like the postings stats): growing the corpus is
    :func:`append_dsir_dist` (one delta-sized pass, O(|delta|)), and the
    read-time fold in :func:`dsir_score_from_dist` sums per dim — exact,
    because the statistics are integers."""
    counts = _dsir_dim_counts(docs, text_col, is_target, prefix_chars)
    tableops.write_version(path, lambda d: counts.write.mode("overwrite").parquet(d))


def append_dsir_dist(
    delta: DataFrame,
    text_col: str,
    is_target: Column,
    path: str,
    prefix_chars: int = 2,
) -> None:
    """Fold a new document batch into the current version of the stored
    DSIR distributions: one pass over the DELTA only; the corpus is never
    re-read."""
    tableops.append(
        _dsir_dim_counts(delta, text_col, is_target, prefix_chars),
        tableops.current_dir(path),
    )


def compact_dsir_dist(spark, path: str) -> None:
    """Fold an append-grown DSIR table to one count row per dim in a new
    version (:func:`tableops.compact_version`).  Integer sums fold
    exactly, so every score is unchanged."""

    def rewrite(src: str, new: str) -> None:
        (
            spark.read.parquet(src)
            .groupBy("dim")
            .agg(F.sum("r_ct").alias("r_ct"), F.sum("t_ct").alias("t_ct"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(new)
        )

    tableops.compact_version(path, rewrite)


def dsir_score_from_dist(
    delta_docs: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    prefix_chars: int = 2,
    alpha: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Score a document batch against STORED DSIR distributions — the
    steady-state incremental form: daily cost is one pass over the delta
    (tokenize + (doc, dim) tf + the per-doc fold) plus a ≤256·batches-row
    distribution read; the corpus text is never touched.  Bit-identical
    to :func:`dsir_logratio_weights` over the full corpus when the stored
    table holds the same documents' counts (integer fold — oracle-pinned
    by the `dsir_incremental_stored` catalog entry).

    Score AFTER :func:`append_dsir_dist` of the same batch to reproduce
    the single-pass semantics; a dim the stored table has never seen
    (possible when scoring without appending) falls back to the exact
    zero-count smoothed log ratio ``ln(r_tot+αD) − ln(t_tot+αD)`` instead
    of silently dropping the term."""
    spark = delta_docs.sparkSession
    n_dims = 16**prefix_chars
    aD = float(alpha) * n_dims
    stored = spark.read.parquet(tableops.current_dir(path))
    dist = _DSIR_STORED_DIST_CACHE.get_or_persist(
        stored.groupBy("dim").agg(
            F.sum("r_ct").alias("r_ct"), F.sum("t_ct").alias("t_ct")
        ),
        version=data_version(stored),
    )
    tots, lr = _dsir_logratio_table(dist, n_dims, alpha)
    from feature_store_healthcare_spark.operators.dedup import normalize_text

    toks = delta_docs.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__tok"),
    ).where(F.length("__tok") >= 1)
    tf = toks.groupBy(
        id_col, F.substring(F.md5("__tok"), 1, prefix_chars).alias("dim")
    ).agg(F.count(F.lit(1)).alias("tf"))
    unseen = F.log(F.col("r_tot") + F.lit(aD)) - F.log(F.col("t_tot") + F.lit(aD))
    per_doc = (
        tf.join(F.broadcast(lr), "dim", "left")
        .crossJoin(F.broadcast(tots))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.coalesce(F.col("logratio"), unseen)).alias("__s"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        F.round(F.col("__s") / F.col("n_tokens"), round_to).alias("dsir_logratio"),
    )
