"""Spark SQL text for expressions built as one parsed string.

A large generated expression (a 64-term unrolled dot product, 50
histogram cells, a chain of BPE folds) costs one py4j round trip when
``F.expr`` parses it, against hundreds to thousands through the Column
API.  Every such text is built from these helpers, which take column
NAMES, never Columns: :func:`ident` quotes any name (:func:`table_ident`
a dotted table name), :func:`string_lit` writes a string for the parser
mode in effect, :func:`double_lit` any double (NaN and the infinities
too), and :func:`var` gives lambda variables a reserved prefix so a
lambda never captures a user column.
"""

from __future__ import annotations

import math


def ident(name: str) -> str:
    """``name`` as one backtick-quoted identifier (embedded backticks
    doubled)."""
    return "`" + name.replace("`", "``") + "`"


def table_ident(name: str) -> str:
    """A (possibly db-qualified) table name quoted PER PART: ``db.t`` →
    ```db`.`t``` (one pair of backticks around the whole string would make
    the dot part of the name)."""
    return ".".join(ident(p) for p in name.split("."))


def string_lit(s: str) -> str:
    """A string literal for ``s`` under the active session's parser
    mode.  Without a backslash or a quote, ``'s'`` reads the same in
    every mode; otherwise the default mode doubles backslashes and
    quotes.  ``spark.sql.parser.escapedStringLiterals=true`` keeps a
    quoted literal's text verbatim (``''`` stays two quotes, a trailing
    backslash cannot be written), so there the string is its UTF-8
    bytes, ``decode(X'<hex>', 'UTF-8')``, which folds to a literal."""
    if "\\" not in s and "'" not in s:
        return "'" + s + "'"
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if (
        sess is not None
        and sess.conf.get("spark.sql.parser.escapedStringLiterals", "false").lower()
        == "true"
    ):
        return f"decode(X'{s.encode('utf-8').hex()}', 'UTF-8')"
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def double_lit(x: float) -> str:
    """A DOUBLE literal for ``x``: ``repr`` round-trips every finite
    value exactly; NaN and the infinities have no literal form and are
    written as casts from their string names."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def var(name: str) -> str:
    """A lambda variable name (``var("i")`` → ``__sg_i``); the ``__sg_``
    prefix is reserved — no user column may start with it."""
    return "__sg_" + name
