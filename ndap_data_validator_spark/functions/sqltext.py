"""Quoting for the Spark SQL text rule families compile to (one ``F.expr``
per output column instead of a Py4J round trip per Column operator): every
identifier and literal entering that text goes through these helpers."""

from __future__ import annotations

import math


def sql_ident(name: str) -> str:
    """One column exactly as named (``df.columns``): one backtick
    identifier, inner backticks doubled, dots part of the name."""
    return "`" + name.replace("`", "``") + "`"


def sql_name(column: str) -> str:
    """The identifier ``F.col(column)`` resolves: dots separate nested
    fields unless the caller already quoted the name."""
    if "`" in column:
        return column
    return ".".join(sql_ident(part) for part in column.split("."))


def sql_str(value: str) -> str:
    """A string literal: backslashes escaped first, then quotes, so the
    parser's unescaping gives back ``value`` exactly."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_in(expr: str, values) -> str:
    """``expr IN ('v', …)`` over string values; ``false`` for none (as
    ``isin([])``)."""
    if not values:
        return "false"
    return f"{expr} IN ({', '.join(sql_str(str(v)) for v in values)})"


def sql_double(x: float) -> str:
    # repr round-trips the exact double; the D suffix keeps it DOUBLE
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{x}' AS DOUBLE)"  # 'inf', '-inf', 'nan'
