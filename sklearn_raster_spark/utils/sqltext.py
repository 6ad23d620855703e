"""SQL text for literals and column names.

A builder that emits one SQL string and parses it with ONE ``F.expr``
call builds its expression in a single py4j round trip, where the
Column API pays one per node (dozens for a wide NoData mask). The
helpers here write text that parses to the same tree the Column API
would build: the same literal value and type, the same column.
"""

from __future__ import annotations

import math


def sql_double(v) -> str:
    """SQL text of a float64 literal that parses to the IDENTICAL
    double F.lit(v) would embed: repr() is the shortest exact
    round-trip for finite values; NaN/Inf have no literal syntax and
    take the CAST keyword forms Spark folds to the same constants."""
    v = float(v)
    if math.isnan(v):
        return "(CAST('NaN' AS DOUBLE))"
    if math.isinf(v):
        return "(CAST('Infinity' AS DOUBLE))" if v > 0 else "(CAST('-Infinity' AS DOUBLE))"
    return f"({v!r}D)"


def sql_literal(v) -> str:
    """SQL text of ``F.lit(v)`` for a bool, int or float (numpy scalars
    included): an int parses as INT inside the int32 range and BIGINT
    outside it, exactly as py4j types a Python int; ``(True)`` parses
    as the boolean."""
    if hasattr(v, "item"):  # numpy scalar -> Python scalar, as lit() does
        v = v.item()
    if isinstance(v, int):
        return f"({v})"
    if isinstance(v, float):
        return sql_double(v)
    raise TypeError(f"no SQL literal form for {v!r} ({type(v).__name__})")


def sql_ident(name: str) -> str:
    """Backtick-quoted column name: dots and spaces stay part of the
    name, an embedded backtick is doubled."""
    return "`" + name.replace("`", "``") + "`"
