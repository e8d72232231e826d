"""Output checks, run outside the timed region.  The workloads mark an
operation failed when its output does not match, so a wrong output counts
in ``error_rate``.

The ground truth comes from DuckDB over the same generated rows, ordered by
the store's (event_ts, created_ts, seq) tiebreak; the checks themselves are
plain Python and need no Spark.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

#: newest row per (feature, entity) under the store's tiebreak
_LATEST_SQL = """
SELECT feature_name, entity_id, value_double, event_timestamp, seq
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY feature_name, entity_id
    ORDER BY event_timestamp DESC, created_timestamp DESC, seq DESC) AS rn
  FROM rows_in
) WHERE rn = 1
"""


def latest_truth(rows: pd.DataFrame) -> dict[tuple[str, str], tuple[float, int]]:
    """(feature_name, entity_id) → (value, seq) of the newest row."""
    con = duckdb.connect()
    con.register("rows_in", rows)
    out = con.execute(_LATEST_SQL).fetchall()
    con.close()
    return {(f, e): (v, s) for f, e, v, _ts, s in out}


def asof_truth(values: pd.DataFrame, spine: pd.DataFrame, features) -> list[tuple]:
    """The as-of join the training read must return: for each spine row and
    feature, the newest value with event_timestamp <= the row's time, as
    sorted (entity_id, ts, f1, f1_ts, f2, f2_ts, ...) tuples."""
    con = duckdb.connect()
    con.register("vals", values)
    con.register("spine", spine.assign(row_id=range(len(spine))))
    picks = ",\n".join(
        f"max(CASE WHEN feature_name = '{f}' THEN value_double END) AS \"{f}\","
        f" max(CASE WHEN feature_name = '{f}' THEN vts END) AS \"{f}__ts\""
        for f in features
    )
    rows = con.execute(
        f"""
        WITH m AS (
          SELECT s.row_id, v.feature_name, v.value_double, v.event_timestamp AS vts,
                 row_number() OVER (
                   PARTITION BY s.row_id, v.feature_name
                   ORDER BY v.event_timestamp DESC, v.created_timestamp DESC, v.seq DESC) AS rn
          FROM spine s JOIN vals v
            ON v.entity_id = s.entity_id AND v.event_timestamp <= s.event_timestamp
        ), w AS (SELECT row_id, {picks} FROM m WHERE rn = 1 GROUP BY row_id)
        SELECT s.entity_id, s.event_timestamp, {", ".join(
            f'w."{f}", w."{f}__ts"' for f in features)}
        FROM spine s LEFT JOIN w USING (row_id)
        """
    ).fetchall()
    con.close()
    return sorted(rows, key=_row_key)


def _row_key(row) -> tuple:
    return tuple((x is None, str(x)) for x in row)


def same_value(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive equality of two row lists."""
    if len(got) != len(want):
        return False
    g, w = sorted(got, key=_row_key), sorted(want, key=_row_key)
    return all(
        len(r1) == len(r2) and all(same_value(a, b) for a, b in zip(r1, r2))
        for r1, r2 in zip(g, w)
    )


def vector_mismatches(got: dict, want: dict) -> int:
    """Features of one served vector whose value is not the truth."""
    return sum(1 for name, v in want.items() if not same_value(got.get(name), v))


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    tbl = con.execute(sql).arrow()
    cols = [c.to_pylist() for c in tbl.columns]
    return list(tbl.column_names), list(zip(*cols)) if cols else []


def catalog_match(
    spark_cols: list[str], spark_rows: list[tuple], duck_cols: list[str], duck_rows: list[tuple]
) -> bool:
    """Catalog result vs its DuckDB oracle: same column names (any order,
    any case) and the same multiset of rows."""
    if sorted(c.lower() for c in spark_cols) != sorted(c.lower() for c in duck_cols):
        return False
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i].lower())
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i].lower())
    return rows_match(
        [tuple(r[i] for i in s_order) for r in spark_rows],
        [tuple(r[i] for i in d_order) for r in duck_rows],
    )
