"""Change-data-capture materialization: fold a changelog into a snapshot
(★ driver-extension surface, BASELINE.json:6 — the reference's closest
analog is the in-memory latest-value overwrite at feature_server.py:389,
which has no delete semantics and no out-of-order guard).

A changelog row is (keys, ts, op, payload) with ``op`` ∈ {upsert, delete}
— the Debezium/Delta-MERGE/Hudi shape.  Materializing it means: newest
change per key wins (ordered by ``ts`` then tiebreak), and a winning
delete removes the key.  Expressed Spark-first this is the repo's
``latest_per_key`` argmax (partial-aggregatable ``max_by`` — one shuffle,
no sort, no window) plus a filter; applying a changelog ON TOP of an
existing snapshot is the same fold over ``snapshot ∪ changelog`` with
snapshot rows entering as implicit upserts.

Scale: one hash shuffle on the merge keys, map-side combined; no per-key
state larger than the argmax struct; AQE handles hot keys.  The
correctness invariant (catalog entry ``cdc_apply_changes``) is checked by
an oracle that folds the FULL history in one pass — snapshot+delta must
equal the single-pass result bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_store_healthcare_spark.operators.pit import latest_per_key

UPSERT_OP = "U"
DELETE_OP = "D"


def materialize(
    changelog: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    op_col: str = "op",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Fold a changelog into its end state: newest change per key, winning
    deletes drop the key, and the op column disappears from the output."""
    latest = latest_per_key(changelog, keys, ts_col, tiebreak=tiebreak)
    return latest.where(F.col(op_col) != DELETE_OP).drop(op_col)


def apply_changes(
    snapshot: DataFrame | None,
    changelog: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    op_col: str = "op",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Apply a changelog on top of a materialized snapshot (which has no op
    column — its rows are implicit upserts).  Correct for any changelog,
    in any order, including changes older than the snapshot row (the
    argmax guard makes them lose — the reference's dict overwrite has no
    such guard, feature_server.py:389-400).

    Returns the new snapshot (same schema as ``snapshot``).
    """
    if snapshot is None:
        return materialize(changelog, keys, ts_col, op_col=op_col, tiebreak=tiebreak)
    tagged = snapshot.withColumn(op_col, F.lit(UPSERT_OP))
    merged = tagged.unionByName(changelog.select(*tagged.columns))
    return materialize(merged, keys, ts_col, op_col=op_col, tiebreak=tiebreak)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """The inverse of :func:`apply_changes`: diff two snapshots into the
    minimal changelog that transforms ``old`` into ``new`` —
    insert/update keys present (or changed) in ``new`` become upserts,
    keys present only in ``old`` become deletes.  Unchanged rows emit
    nothing (the changelog is minimal).

    One full-outer join on the keys (hash-uniform; AQE handles skew).
    Payload columns come from ``new`` for upserts and from ``old`` for
    deletes.  Roundtrip invariant (tested):
    ``apply_changes(old, snapshot_diff(old, new) ∪ ts) ≡ new`` whenever
    the diff is stamped newer than every old row.
    """
    key_list = list(keys)
    payload = [c for c in new.columns if c not in key_list]
    o = old.select(
        *key_list,
        F.struct(*[F.col(c) for c in payload]).alias("__old"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *key_list,
        F.struct(*[F.col(c) for c in payload]).alias("__new"),
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, key_list, "full_outer")
    in_old = F.coalesce(F.col("__in_old"), F.lit(False))
    in_new = F.coalesce(F.col("__in_new"), F.lit(False))
    # eqNullSafe: a null payload field must compare equal to itself, not
    # poison the whole comparison to null
    changed = in_old & in_new & ~F.col("__old").eqNullSafe(F.col("__new"))
    op = (
        F.when(in_new & ~in_old, F.lit(UPSERT_OP))
        .when(changed, F.lit(UPSERT_OP))
        .when(in_old & ~in_new, F.lit(DELETE_OP))
    )
    side = F.when(in_new, F.col("__new")).otherwise(F.col("__old"))
    return (
        j.withColumn(op_col, op)
        .where(F.col(op_col).isNotNull())
        .select(
            *key_list,
            *[side[c].alias(c) for c in payload],
            op_col,
        )
    )
