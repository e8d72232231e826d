"""Point-in-time (AS-OF) operators — the engine's flagship (SURVEY.md §2.3).

Reference semantics re-expressed:

- OP-15 ``latest value per (feature, entity) as of T``:
  feature_registry.py:443-496 filters ``event_timestamp <= as_of`` then takes
  ``max(..., key=event_timestamp)`` — an argmax-by-time over an in-memory
  list.
- OP-16 per-row as-of training join: feature_server.py:355-408 loops each
  spine row and re-scans the whole offline store (O(spine×values×features)).
- OP-20 latest-per-key aggregate: feature_server.py:556-566.

Tie-breaking: the reference is ambiguous (``max`` keeps the first maximum at
feature_registry.py:490, the serving scan keeps the first-seen at
feature_server.py:560-565, and neither consults created_timestamp).  This
engine is deterministic on ANY input: order by ``(ts, *tiebreak)``
descending, then — should (ts, tiebreak) fully tie — by the remaining
orderable payload columns IN SORTED-NAME ORDER, a total order over
everything Spark can compare that is also stable under column reordering
and additive schema evolution (physical column position never decides a
winner).
Callers pass e.g. ``created_timestamp`` or a stable row id as the tiebreak;
rows identical in every orderable column are indistinguishable, so the
fallback never changes which *distinct* row wins.

Scale design (100 TB):

- Default strategy is ``max_by`` — a hash aggregate with *map-side partial
  aggregation*, so each input partition reduces to ≤ |distinct keys| rows
  before the single shuffle.  For billions of EAV rows with millions of
  entities this moves a tiny fraction of the input.
- The ``window`` strategy (row_number over partitionBy keys) shuffles and
  sorts the full input; it is kept for cases needing top-N>1 or where the
  whole winning row (arbitrary width) must survive.
- ``point_in_time_join``, ``point_in_time_pivot`` and
  ``trailing_window_agg`` share one plan (:func:`_asof`): an equi-join on
  the entity key (AQE picks broadcast when either side is small, and
  splits skewed entity keys) and one aggregate on (join keys + spine key),
  versus the reference's nested loops.  With both sides shuffled on the
  entity key, that is one shuffle exchange per side and none for the
  aggregate; with the value side broadcast, one shuffle exchange for the
  aggregate.  ``plans.count_exchanges``, which counts shuffles only,
  reports 1 for the catalog's ``pit_training_join`` and for the
  two-feature pivot ``pit_multi_feature_fused`` at sf0.01, where the value
  side broadcasts.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feature_store_healthcare_spark.sqlgen import ident, string_lit


def as_of_filter(
    df: DataFrame, ts_col: str, as_of: datetime | str | Column | None
) -> DataFrame:
    """OP-11: keep rows observed at or before ``as_of``
    (feature_registry.py:481-484).  ``None`` means "now" → no filter needed
    for an append-only store read at query time."""
    if as_of is None:
        return df
    bound = as_of if isinstance(as_of, Column) else F.lit(as_of).cast("timestamp_ntz")
    return df.where(F.col(ts_col) <= bound)


def _is_orderable(dtype) -> bool:
    """True when Spark can sort/compare the type.  A WHITELIST, not a
    MapType blacklist: Spark 4 grew unorderable atomic types (VariantType,
    the spatial types — both AtomicType subclasses), and any future
    addition should default to "skip it from the tie fallback", not to an
    AnalysisException (DATATYPE_MISMATCH.INVALID_ORDERING_TYPE) at plan
    time.  Arrays and structs are orderable iff every element/field is."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.ArrayType):
        return _is_orderable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return all(_is_orderable(f.dataType) for f in dtype.fields)
    return isinstance(
        dtype,
        (
            T.NumericType,
            T.StringType,
            T.CharType,
            T.VarcharType,
            T.BinaryType,
            T.BooleanType,
            T.DatetimeType,  # Date / Timestamp / TimestampNTZ / Time
            T.AnsiIntervalType,  # day-time + year-month intervals
            T.NullType,
        ),
    )


def _tie_fallback_cols(
    df: DataFrame, exclude: Sequence[str]
) -> list[str]:
    """Orderable columns usable as a last-resort total-order key when
    ``(ts, *tiebreak)`` fully ties.  Appending these to the ordering makes
    the argmax deterministic on ANY input — the contract SURVEY §0 demands
    (the reference's ``max``/first-seen tie ambiguity,
    feature_registry.py:490 vs feature_server.py:560-565, is the defect this
    engine fixes).  Unorderable columns (maps, variants, spatial) are
    skipped — so on schemas WITHOUT them, rows identical in every
    orderable column are genuinely indistinguishable and any pick is the
    same row; on schemas WITH them, rows tying on every orderable column
    may still differ in the unorderable payload, and the argmax is
    deterministic only up to that payload (no engine can order what Spark
    can't compare — pass a unique ``tiebreak`` to pin such rows).

    Returned SORTED BY NAME, not in schema order: the fallback winner must
    not silently change when a reader adds or reorders payload columns —
    sorted names make the total order stable under schema evolution (same
    columns ⇒ same winner, regardless of physical position)."""
    seen = set(exclude)
    return sorted(
        f.name
        for f in df.schema.fields
        if f.name not in seen and _is_orderable(f.dataType)
    )


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: Sequence[str] = (),
    as_of: datetime | str | Column | None = None,
    strategy: str = "max_by",
) -> DataFrame:
    """OP-15/OP-20/OP-26: newest row per key (deterministic argmax-by-time).

    Returns one row per key with all original columns.  ``max_by`` packs the
    non-key columns into a struct and takes ``max_by(struct, (ts, *tiebreak))``
    — partial-aggregatable, one shuffle, no sort.  ``window`` uses
    ``row_number() == 1``.

    The ``max_by`` strategy is built as parsed SQL text (names quoted by
    :func:`sqlgen.ident`): one aggregate expression and one ``selectExpr``
    re-projection, about 40 py4j commands for a 15-column EAV frame where
    the Column-API build sent ~565 (~69 ms of driver time per call, ahead
    of every merge, serving-view rebuild and catalog query that calls it).
    """
    df = as_of_filter(df, ts_col, as_of)
    # Last-resort total order: when (ts, *tiebreak) fully ties, fall back to
    # the remaining orderable payload columns so BOTH strategies pick the
    # same (max-payload) row bit-for-bit on any input.
    fallback = _tie_fallback_cols(df, [*keys, ts_col, *tiebreak])
    if strategy == "window":
        order = [F.col(c).desc() for c in (ts_col, *tiebreak, *fallback)]
        w = Window.partitionBy(*keys).orderBy(*order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    payload_cols = [c for c in df.columns if c not in keys]
    ordered: list[str] = []
    for c in (ts_col, *tiebreak, *fallback):
        if c not in ordered:
            ordered.append(c)
    # Parsed text, not a ``F.col`` per struct field and per output column
    # (3 py4j commands apiece); ``df[k]`` resolves a grouping key in one.
    def struct(cols: Sequence[str]) -> str:
        return "struct(" + ", ".join(ident(c) for c in cols) + ")"

    if set(ordered) == set(payload_cols):
        # Every payload column is orderable, so ONE struct in ordering
        # sequence serves as both comparison key and payload: max(struct)
        # is the lexicographic (ts, *tiebreak, *fallback) argmax, and the
        # aggregate buffer carries each column ONCE instead of twice
        # (max_by's separate payload + ordering structs double per-row
        # width on wide tables).
        agg = f"max({struct(ordered)})"
    else:
        # Unorderable payload (maps/variants) can ride only in the value
        # struct, so the ordering struct must stay separate — the width
        # cost is paid only on schemas that need it.
        agg = f"max_by({struct(payload_cols)}, {struct((ts_col, *tiebreak, *fallback))})"
    out = df.groupBy(*[df[ident(k)] for k in keys]).agg(F.expr(agg + " AS `__latest`"))
    return out.selectExpr(
        *[ident(k) for k in keys],
        *[f"`__latest`.{ident(c)} AS {ident(c)}" for c in payload_cols],
    )


_SPINE_ID = "__spine_id"


def _as(name: str, alias: str) -> str:
    return f"{ident(name)} AS {ident(alias)}"


def _bound(spine_ts: str, delta: str | Column, later: bool) -> str | Column:
    """``__v_ts >= spine_ts - delta`` (``later``: ``__v_ts <= spine_ts +
    delta``) as SQL text, or as a Column when the caller passed ``delta``
    (a tolerance or window) as one."""
    if isinstance(delta, str):
        cmp, sign = ("<=", "+") if later else (">=", "-")
        return f"`__v_ts` {cmp} {ident(spine_ts)} {sign} ({delta})"
    sts = F.col(ident(spine_ts))
    return F.col("__v_ts") <= sts + delta if later else F.col("__v_ts") >= sts - delta


def _time_preds(
    direction: str, spine_ts: str, tolerance: str | Column | None
) -> list[str | Column]:
    """The time predicate of a ``direction`` as-of join; ``tolerance``
    bounds staleness backward, lookahead forward, and both for nearest."""
    preds: list[str | Column] = []
    if direction != "nearest":
        cmp = "<=" if direction == "backward" else ">="
        preds.append(f"`__v_ts` {cmp} {ident(spine_ts)}")
    if tolerance is not None and direction != "forward":
        preds.append(_bound(spine_ts, tolerance, later=False))
    if tolerance is not None and direction != "backward":
        preds.append(_bound(spine_ts, tolerance, later=True))
    return preds


def _tie_order(values: DataFrame, tiebreak: Sequence[str], payload: Sequence[str]) -> list[str]:
    """The argmax order after the time key, as projected value-side names:
    ``*tiebreak``, then the orderable ``payload`` columns in SORTED-NAME
    order (the contract of :func:`latest_per_key`: a full ``(ts,
    *tiebreak)`` tie picks the same row whatever the input order)."""
    fallback = [c for c in sorted(payload) if _is_orderable(values.schema[c].dataType)]
    return [*[ident(f"__v_tb_{c}") for c in tiebreak], *[ident(f"__v_{c}") for c in fallback]]


def _asof(
    spine: DataFrame,
    values: DataFrame,
    on: Sequence[str],
    value_ts: str,
    payload: Sequence[str],
    preds: Sequence[str | Column],
    aggs: Sequence[str | Column],
    spine_keys: Sequence[str] | None,
    outputs: Sequence[str] | None = None,
) -> DataFrame:
    """The as-of plan of :func:`point_in_time_join`,
    :func:`point_in_time_pivot` and :func:`trailing_window_agg`: key the
    spine (a synthetic ``__spine_id`` without ``spine_keys``); rename the
    value side's ``on`` and ``value_ts`` to ``__v_{key}``/``__v_ts`` next
    to the ``payload`` items; left-join on the keys and ``preds``; group on
    (join keys + spine key), carrying the other spine columns with
    ``first`` (functionally dependent on the key — exact) ahead of
    ``aggs``; project the spine columns and ``outputs`` (``None``: the
    aggregate's own columns) without the synthetic key.  The join keys
    lead the grouping though the spine key alone is unique: a superset of
    the join's hash keys reuses the join's partitioning, so the aggregate
    adds NO exchange.

    String items are SQL text over :func:`sqlgen.ident`-quoted names, one
    py4j round trip each where the Column API pays several per name;
    Column items (a caller's aggregates, tolerance or window) pass through.
    """
    cols = spine.columns
    synthetic = spine_keys is None
    if synthetic:
        spine = spine.selectExpr("*", f"monotonically_increasing_id() AS {_SPINE_ID}")
        spine_keys = [_SPINE_ID]
    v = values.selectExpr(
        *[_as(c, f"__v_{c}") for c in on], _as(value_ts, "__v_ts"), *payload
    )
    conds = [f"{ident(c)} = {ident(f'__v_{c}')}" for c in on] + list(preds)
    if all(isinstance(c, str) for c in conds):
        cond = F.expr(" AND ".join(conds))
    else:
        cond = reduce(lambda a, b: a & b, [F.expr(c) if isinstance(c, str) else c for c in conds])
    joined = spine.join(v, on=cond, how="left")
    keys = [c for c in on if c in cols]
    keys += [c for c in spine_keys if c not in keys]
    carry = [f"first({ident(c)}) AS {ident(c)}" for c in cols if c not in keys]
    out = joined.groupBy(*[joined[ident(k)] for k in keys]).agg(
        *[F.expr(a) if isinstance(a, str) else a for a in (*carry, *aggs)]
    )
    if outputs is not None:
        return out.selectExpr(*[ident(c) for c in cols], *outputs)
    return out.drop(_SPINE_ID) if synthetic else out


def point_in_time_join(
    spine: DataFrame,
    values: DataFrame,
    on: Sequence[str] | str,
    spine_ts: str,
    value_ts: str,
    value_cols: Sequence[str] | None = None,
    tiebreak: Sequence[str] = (),
    spine_keys: Sequence[str] | None = None,
    ts_suffix: str = "__timestamp",
    tolerance: str | Column | None = None,
    direction: str = "backward",
) -> DataFrame:
    """OP-16: leak-free per-row as-of join (feature_server.py:355-408).

    For each spine row, attach the newest ``values`` row with
    ``value_ts <= spine row's own spine_ts``, matching on the entity key(s)
    ``on``.  Spine rows with no eligible value keep NULLs (the reference's
    null-fill path, feature_server.py:575-581); every spine column is
    preserved (feature_server.py:395) and each value column gains a
    ``{col}{ts_suffix}`` companion carrying the value's observation time
    (feature_server.py:397-398).

    ``spine_keys``: columns that uniquely identify a spine row.  When None,
    a synthetic unique id keys the aggregate and is dropped on output.

    ``tolerance``: optional maximum staleness (interval SQL string or
    Column).  When set, only values with ``value_ts >= spine_ts -
    tolerance`` qualify — the join-time form of the reference's freshness
    SLA (feature_server.py:585-594): instead of serving a value and
    tagging it expired, a too-old value is simply not joined (NULL fill),
    which is what a bounded-staleness training join wants.

    ``direction``: ``"backward"`` (default — the reference's as-of
    semantic: newest value with ``value_ts <= spine_ts``), ``"forward"``
    (earliest value with ``value_ts >= spine_ts`` — outcome/label
    attachment), or ``"nearest"`` (smallest ``|value_ts - spine_ts|``) —
    the full pandas ``merge_asof`` direction surface.  Forward ties on
    ``value_ts`` break to the SMALLEST tiebreak (min_by), mirroring
    backward's largest-tiebreak (max_by) — both pick the row "closest to
    the spine instant, then most extreme tiebreak away from it"; nearest
    ties between an earlier and a later value at equal distance prefer the
    earlier (leak-averse, matching pandas), then the direction's own rule.
    When ``(ts, *tiebreak)`` fully ties, the orderable value columns break
    the tie in sorted-name order (max payload backward, min forward and
    nearest).  ``tolerance`` bounds staleness backward and lookahead
    forward; for ``nearest`` it is REQUIRED and bounds both sides — without
    it the join would have no time predicate at all (every value row a
    candidate: a full per-entity cross product at scale).

    Plan (:func:`_asof`): one ``max_by``/``min_by`` aggregate over the
    equi-join; no shuffle at all when both sides are pre-bucketed on
    ``on`` (stores.write_bucketed).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    if direction == "nearest" and tolerance is None:
        raise ValueError(
            "direction='nearest' requires a tolerance — an unbounded "
            "nearest join has no time predicate to push into the join"
        )
    on = [on] if isinstance(on, str) else list(on)
    value_cols = list(value_cols) if value_cols is not None else [
        c for c in values.columns if c not in on and c != value_ts and c not in tiebreak
    ]
    tie = _tie_order(values, tiebreak, value_cols)
    if direction == "nearest":
        # distance, then the earlier value (leak-averse, pandas parity)
        sts = ident(spine_ts)
        dist = f"unix_micros(CAST(`__v_ts` AS TIMESTAMP)) - unix_micros(CAST({sts} AS TIMESTAMP))"
        pick, order = "min_by", [f"abs({dist})", f"CAST(`__v_ts` > {sts} AS INT)", *tie]
    else:
        pick = "max_by" if direction == "backward" else "min_by"
        order = ["`__v_ts`", *tie]
    fields = ", ".join(["`__v_ts`", *[ident(f"__v_{c}") for c in value_cols]])
    outputs = [
        out
        for c in value_cols
        for out in (f"`__pit`.{ident(f'__v_{c}')} AS {ident(c)}",
                    f"`__pit`.`__v_ts` AS {ident(c + ts_suffix)}")
    ]
    return _asof(
        spine, values, on, value_ts,
        payload=[
            *[_as(c, f"__v_tb_{c}") for c in tiebreak],
            *[_as(c, f"__v_{c}") for c in value_cols],
        ],
        preds=_time_preds(direction, spine_ts, tolerance),
        aggs=[f"{pick}(struct({fields}), struct({', '.join(order)})) AS `__pit`"],
        spine_keys=spine_keys,
        outputs=outputs,
    )


def trailing_window_agg(
    spine: DataFrame,
    values: DataFrame,
    on: Sequence[str] | str,
    spine_ts: str,
    value_ts: str,
    window: str | Column,
    aggs: Sequence[Column] = (),
    count_alias: str = "n_window",
    spine_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Per-spine-row trailing-window aggregation — the "aggregation feature
    view" pattern (an engine extension of OP-16: instead of the single
    newest value, aggregate ALL values in a window ending at the spine
    row's own timestamp).

    For each spine row, aggregates the ``values`` rows matching on ``on``
    with ``spine_ts - window <= value_ts < spine_ts`` — window start
    inclusive, end exclusive, so the feature never sees the labeled event
    itself (leak-free, the same invariant as feature_registry.py:483 but
    over a bounded range).  Spine rows with no eligible value keep the
    aggregate's empty-input result (count 0, sums NULL).

    ``window`` is an interval SQL string (``"INTERVAL 7 DAYS"``) or Column.
    ``aggs`` are ordinary aggregate expressions over the value columns,
    which keep their original names; the match count is always emitted as
    ``count_alias``.  Internally the join keys and ``value_ts`` are
    prefixed to avoid collisions, so value payload columns must not shadow
    spine columns.  Output: the grouping keys, the other spine columns,
    ``count_alias``, then ``aggs``.

    Plan (:func:`_asof`): the range conjuncts evaluate post-probe in
    codegen.  Per-key pair blowup is bounded by values per entity inside
    the window; at 100 TB the standard mitigation is a two-level plan —
    pre-aggregate values into aligned time buckets first, then window-join
    the buckets — trading exactness of unaligned edges; this operator keeps
    the exact semantics and relies on AQE skew splitting for hot entities.
    """
    on = [on] if isinstance(on, str) else list(on)
    return _asof(
        spine, values, on, value_ts,
        payload=[ident(c) for c in values.columns if c not in on and c != value_ts],
        preds=[_bound(spine_ts, window, later=False), f"`__v_ts` < {ident(spine_ts)}"],
        aggs=[f"count(`__v_ts`) AS {ident(count_alias)}", *aggs],
        spine_keys=spine_keys,
    )


def intervalize(
    values: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: Sequence[str] = (),
    lead_cols: Sequence[str] = (),
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """SCD2-style materialization of an append-only EAV log: one window pass
    turns each value version into a validity interval ``[valid_from,
    valid_to)`` (``valid_to`` NULL = current version).  Ties on ``ts_col``
    are ordered by ``tiebreak``; a superseded same-timestamp version gets an
    empty interval ``[ts, ts)`` that no containment probe can match, so the
    interval table encodes the engine's deterministic tie-breaking
    structurally.

    ``lead_cols`` additionally carries the NEXT version's columns as
    ``next_{col}`` — what interpolating readers need (see
    :func:`interpolated_asof`).

    Scale: this is the amortization trade for as-of reads — one window
    shuffle at materialization time, then every subsequent point-in-time
    query is a single containment equi-join with NO per-query argmax
    aggregate (compare :func:`point_in_time_join`, module docstring).
    Partition the materialized table by the entity key for co-located
    probes.
    """
    # Payload fallback keeps the interval table consistent with
    # latest_per_key on full (ts, tiebreak) ties: ascending order means the
    # max-payload version is LAST among its ties, so it alone gets the
    # non-empty interval — the same winner the argmax strategies pick.
    fallback = _tie_fallback_cols(values, [*keys, ts_col, *tiebreak])
    order = [F.col(c).asc() for c in (ts_col, *tiebreak, *fallback)]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    out = values.withColumn(valid_from, F.col(ts_col)).withColumn(
        valid_to, F.lead(ts_col).over(w)
    )
    for c in lead_cols:
        out = out.withColumn(f"next_{c}", F.lead(c).over(w))
    return out


def point_in_time_interval_join(
    spine: DataFrame,
    intervals: DataFrame,
    on: Sequence[str] | str,
    spine_ts: str,
    value_cols: Sequence[str],
    ts_suffix: str = "__timestamp",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """OP-16, interval strategy: as-of join against a pre-materialized
    validity-interval table (:func:`intervalize`).  For each spine row the
    containing interval — ``valid_from <= spine_ts < valid_to`` (open
    current version matches everything after its start) — IS the as-of
    value, so the plan is one left equi-join on the entity key with the
    containment conjuncts evaluated post-probe in codegen.  No aggregate,
    no window: exactly one interval can contain any instant per key.

    Returns the same shape as :func:`point_in_time_join`: all spine
    columns, each value column, and a ``{col}{ts_suffix}`` companion
    carrying the value's observation time.
    """
    on = [on] if isinstance(on, str) else list(on)
    v = intervals.select(
        *[F.col(c).alias(f"__i_{c}") for c in on],
        F.col(valid_from).alias("__i_from"),
        F.col(valid_to).alias("__i_to"),
        *[F.col(c).alias(f"__i_{c}") for c in value_cols],
    )
    cond = [spine[c] == v[f"__i_{c}"] for c in on]
    cond.append(v["__i_from"] <= spine[spine_ts])
    cond.append(v["__i_to"].isNull() | (spine[spine_ts] < v["__i_to"]))
    joined = spine.join(v, on=cond, how="left")
    out_cols = [spine[c] for c in spine.columns]
    for c in value_cols:
        out_cols.append(F.col(f"__i_{c}").alias(c))
        out_cols.append(F.col("__i_from").alias(f"{c}{ts_suffix}"))
    return joined.select(*out_cols)


def interpolated_asof(
    spine: DataFrame,
    values: DataFrame,
    on: Sequence[str] | str,
    spine_ts: str,
    value_ts: str,
    value_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """As-of read with linear interpolation between the bracketing values —
    the time-series variant a healthcare feature store needs for sampled
    vitals/labs: at time t, estimate the signal from the newest value at or
    before t and the first value after t.

    Semantics per spine row, per entity key:
    - both neighbors exist → ``prev + (next - prev) * (t - t_prev) /
      (t_next - t_prev)`` (t == t_prev gives exactly ``prev``);
    - only a previous value (t at/after the last observation) → hold last;
    - no previous value (t before the first observation) → NULL.

    One containment join against the :func:`intervalize` table (with
    ``lead_cols`` carrying the next version) supplies prev AND next in a
    single probe — no second join, no window at read time.  Output adds
    ``prev_value, prev_ts, next_value, next_ts, interp_value``.
    """
    on = [on] if isinstance(on, str) else list(on)
    iv = intervalize(
        values.select(*on, value_ts, value_col, *tiebreak),
        on,
        value_ts,
        tiebreak=tiebreak,
        lead_cols=[value_col],
    ).select(
        *on,
        F.col(value_col).alias("prev_value"),
        F.col("valid_from"),
        F.col("valid_to").alias("next_ts"),
        F.col(f"next_{value_col}").alias("next_value"),
    )
    # next_ts rides along as a "value" column; its redundant __ivts
    # companion (== valid_from) is dropped, prev's companion becomes prev_ts.
    joined = point_in_time_interval_join(
        spine,
        iv,
        on,
        spine_ts,
        ["prev_value", "next_value", "next_ts"],
        ts_suffix="__ivts",
        valid_to="next_ts",
    )
    out = joined.withColumnRenamed("prev_value__ivts", "prev_ts").drop(
        "next_value__ivts", "next_ts__ivts"
    )

    def micros(c: str) -> Column:
        return F.unix_micros(F.col(c).cast("timestamp"))

    frac = (micros(spine_ts) - micros("prev_ts")) / (
        micros("next_ts") - micros("prev_ts")
    )
    interp = F.when(F.col("next_value").isNull(), F.col("prev_value")).otherwise(
        F.col("prev_value") + (F.col("next_value") - F.col("prev_value")) * frac
    )
    return out.withColumn("interp_value", interp)


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: replicate the (smaller) ``dim`` side ``n_salts``
    times and scatter the ``facts`` side uniformly across the replicas, so
    one hot key's rows spread over ``n_salts`` tasks instead of one.

    This is the manual fallback for engines/paths where AQE skew-join
    splitting cannot kick in (e.g. the skewed side feeds an aggregate in
    the same stage, or the join is inside a streaming foreachBatch).  The
    salt is random-per-row on the facts side — correctness does not depend
    on which replica a row meets, only that exactly one replica matches.
    """
    salted_facts = facts.withColumn(
        "__salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_facts.join(salted_dim, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def point_in_time_pivot(
    spine: DataFrame,
    values: DataFrame,
    on: Sequence[str] | str,
    spine_ts: str,
    value_ts: str,
    name_col: str,
    slot_for: dict[str, str],
    tiebreak: Sequence[str] = (),
    spine_keys: Sequence[str] | None = None,
    ts_suffix: str = "__timestamp",
    tolerance: str | Column | None = None,
) -> DataFrame:
    """OP-16 + OP-12 fused: leak-free as-of join of MANY features in ONE
    pass (feature_server.py:355-408 loops features; composing
    :func:`point_in_time_join` per feature costs one join and aggregate
    per feature — this is one join and one aggregate in total).

    ``values`` is the long EAV table; ``name_col`` discriminates features;
    ``slot_for`` maps feature name → its typed value column (the
    union-typed slots may differ per feature).  For each spine row and each
    feature, the newest eligible value is taken with a conditional
    ``max_by`` — the ordering key is NULL for other features' rows, which
    ``max_by`` ignores, so one hash aggregate resolves every feature at
    once.  The ordering is :func:`point_in_time_join`'s: ``(ts,
    *tiebreak)``, then the orderable slots in sorted-name order, so a full
    tie picks the same value as the join whatever the input order.
    Output: spine columns + one typed column per feature + its
    ``{name}{ts_suffix}`` companion.

    ``tolerance``: optional maximum staleness, as in
    :func:`point_in_time_join` — values older than ``spine_ts - tolerance``
    do not qualify and null-fill instead.
    """
    on = [on] if isinstance(on, str) else list(on)
    names = list(slot_for)
    slots = sorted(set(slot_for.values()))
    order = ", ".join(["`__v_ts`", *_tie_order(values, tiebreak, slots)])
    aggs, outputs = [], []
    for name in names:
        pit = ident(f"__pit_{name}")
        # NULL ordering for other features' rows → ignored by max_by
        aggs.append(
            f"max_by(struct({ident(f'__v_{slot_for[name]}')} AS v, `__v_ts` AS t), "
            f"CASE WHEN `__v_name` = {string_lit(name)} THEN struct({order}) END) AS {pit}"
        )
        outputs += [f"{pit}.v AS {ident(name)}", f"{pit}.t AS {ident(name + ts_suffix)}"]
    named = values.where(f"{ident(name_col)} IN ({', '.join(map(string_lit, names))})")
    return _asof(
        spine, named, on, value_ts,
        payload=[
            _as(name_col, "__v_name"),
            *[_as(c, f"__v_tb_{c}") for c in tiebreak],
            *[_as(s, f"__v_{s}") for s in slots],
        ],
        preds=_time_preds("backward", spine_ts, tolerance),
        aggs=aggs,
        spine_keys=spine_keys,
        outputs=outputs,
    )
