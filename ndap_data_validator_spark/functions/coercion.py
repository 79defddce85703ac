"""Role/dtype coercion compiled to Spark SQL text.

The reference coerces column-at-a-time in pandas and counts
``conversion_errors = max(#nulls_after - #nulls_before, 0)``
(``/root/reference/utils/validation.py:34-123``, ``200-231``). Coercion
never un-nulls a value, so that count is exactly the per-row predicate
``source IS NOT NULL AND coerced IS NULL`` summed — which is how this module
expresses it: each coercion compiles to a ``(value, error)`` pair of SQL
expressions that the engine folds into ONE shared-scan ``agg`` (and reuses
as a filter to emit violation rows). No per-row Python anywhere.

The pairs are SQL text, not Column trees: the engine splices them into its
report, aggregate and violation expressions and Catalyst parses each output
column once, where the Column API costs Py4J round trips per operator —
once the largest fixed cost of a validation call.

Semantics parity notes (pandas quirk → Spark expression):
  * integer (validation.py:40-50): ``to_numeric`` then fractional values
    masked to NA and counted as errors → parse to double with ``try_cast``,
    null out where ``d % 1 != 0``, final value cast to bigint.
  * float (validation.py:53-57): ``try_cast(double)``.
  * boolean (validation.py:60-76): trim+lower token sets
    {true,t,yes,y,1} / {false,f,no,n,0}.
  * datetime (validation.py:79-85): pandas infers formats; we pin the
    accepted grammar to ISO date/timestamp variants via ``try_to_timestamp``
    fallbacks (inference is non-deterministic at scale and pandas-specific —
    documented divergence, fixtures use ISO).
  * date-only → ``date_trunc('day', ts)`` ≙ ``.dt.normalize()``.
  * string/category (validation.py:34-37, 88-90): cast to string, zero
    errors by construction (category is a pandas encoding detail; Parquet
    dictionary encoding happens below the type system).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F

from ndap_data_validator_spark.functions.sqltext import sql_ident, sql_str
from ndap_data_validator_spark.functions.timeformat import (
    time_format_label,
    time_invalid_pred,
)

TRUE_TOKENS = ["true", "t", "yes", "y", "1"]
FALSE_TOKENS = ["false", "f", "no", "n", "0"]

# Accepted timestamp grammars for the pinned datetime coercion.
_TS_FORMATS = [
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd",
    "yyyy/MM/dd",
    "dd-MM-yyyy",
]


@dataclass(frozen=True)
class CompiledCoercion:
    """A coercion compiled for one column, as SQL text.

    value_sql  — the coerced value (same name contract as the source col)
    error_sql  — per-row boolean: this row is a conversion error
    label_sql  — Time role only: the matched format label (else None)

    ``value_expr`` / ``error_pred`` / ``label_expr``: the same as Columns.
    """

    source: str
    value_sql: str
    error_sql: str
    label_sql: str | None = None

    value_expr = property(lambda self: F.expr(self.value_sql))
    error_pred = property(lambda self: F.expr(self.error_sql))
    label_expr = property(lambda self: self.label_sql and F.expr(self.label_sql))


_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
_FLOAT_TYPES = {"float", "double"}


def _nan_to_null(d: str) -> str:
    """Normalize double NaN → NULL. pandas ``isna()`` treats NaN as missing
    (so the reference's null/error counts fold NaN into nulls); Spark treats
    NaN as an ordinary non-null double — without this, a float-typed source
    containing NaN would diverge from the reference (ADVICE r01)."""
    return f"CASE WHEN isnan({d}) THEN CAST(NULL AS DOUBLE) ELSE {d} END"


def _src_null(src: str, src_type: str | None) -> str:
    """'Missing in the pandas sense': NULL, or NaN for float-typed sources.
    Used by error predicates so a source NaN counts as a pre-existing null
    (never a conversion error), matching ``max(after - before, 0)``."""
    if src_type is not None and src_type in _FLOAT_TYPES:
        return f"({src} IS NULL OR isnan({src}))"
    return f"({src} IS NULL)"


def _parse_double(src: str, src_type: str | None) -> str:
    """Numeric view of the column, NaN-normalized to NULL. Already-numeric
    sources skip the string→try_cast roundtrip (semantics-preserving:
    Spark's double→string is round-trippable, so parse(cast_to_string(x))
    ≡ x — but the direct cast stays in fast codegen instead of string
    formatting + parsing)."""
    if src_type is not None and (src_type in _INT_TYPES or src_type.startswith("decimal")):
        return f"CAST({src} AS DOUBLE)"
    if src_type is not None and src_type in _FLOAT_TYPES:
        return _nan_to_null(f"CAST({src} AS DOUBLE)")
    # string path: try_cast('NaN') yields NaN in Spark; pandas to_numeric
    # yields NaN too and then counts it as BOTH a conversion error and a
    # null — normalizing to NULL here makes the error predicate fire.
    return _nan_to_null(f"try_cast(CAST({src} AS STRING) AS DOUBLE)")


# Each coerce_to_* takes the source value as SQL text (a quoted identifier,
# or any SQL expression) and returns the (value, error) SQL pair.


def coerce_to_string(src: str) -> tuple[str, str]:
    return f"CAST({src} AS STRING)", "false"


def coerce_to_integer(src: str, src_type: str | None = None) -> tuple[str, str]:
    if src_type in _INT_TYPES:
        # integral source: no fractional values, no parse failures
        return f"CAST({src} AS BIGINT)", "false"
    d = _parse_double(src, src_type)
    value = (
        f"CAST(CASE WHEN ({d}) IS NOT NULL AND ({d}) % 1 != 0 "
        f"THEN CAST(NULL AS DOUBLE) ELSE {d} END AS BIGINT)"
    )
    return value, f"(NOT {_src_null(src, src_type)} AND ({value}) IS NULL)"


def coerce_to_float(src: str, src_type: str | None = None) -> tuple[str, str]:
    if src_type in _INT_TYPES:
        return f"CAST({src} AS DOUBLE)", "false"
    if src_type in _FLOAT_TYPES:
        # NaN folds into nulls (pandas isna parity); never an error.
        return _nan_to_null(f"CAST({src} AS DOUBLE)"), "false"
    d = _parse_double(src, src_type)
    return d, f"(NOT {_src_null(src, src_type)} AND ({d}) IS NULL)"


def coerce_to_boolean(src: str) -> tuple[str, str]:
    norm = f"lower(trim(CAST({src} AS STRING)))"

    def tokens(ts: list[str]) -> str:
        return ", ".join(sql_str(t) for t in ts)

    value = (
        f"CASE WHEN {norm} IN ({tokens(TRUE_TOKENS)}) THEN true "
        f"WHEN {norm} IN ({tokens(FALSE_TOKENS)}) THEN false "
        "ELSE CAST(NULL AS BOOLEAN) END"
    )
    return value, f"({src} IS NOT NULL AND ({value}) IS NULL)"


def coerce_to_datetime(src: str, date_only: bool = False) -> tuple[str, str]:
    s = f"CAST({src} AS STRING)"
    parses = [f"try_to_timestamp({s})"] + [
        f"try_to_timestamp({s}, {sql_str(fmt)})" for fmt in _TS_FORMATS
    ]
    ts = f"coalesce({', '.join(parses)})"
    if date_only:
        ts = f"date_trunc('day', {ts})"
    return ts, f"({src} IS NOT NULL AND ({ts}) IS NULL)"


def coerce_to_category(src: str) -> tuple[str, str]:
    return f"CAST({src} AS STRING)", "false"


def compile_dtype_coercion(column: str, dtype: str) -> CompiledCoercion:
    """Dtype-selection variant (coerce_dataframe_to_selected_types,
    validation.py:93-123). Unknown dtypes fall back to string, as the
    reference does (validation.py:116-117)."""
    src = sql_ident(column)
    if dtype == "integer":
        value, err = coerce_to_integer(src)
    elif dtype == "float":
        value, err = coerce_to_float(src)
    elif dtype == "boolean":
        value, err = coerce_to_boolean(src)
    elif dtype == "date":
        value, err = coerce_to_datetime(src, date_only=True)
    elif dtype == "datetime":
        value, err = coerce_to_datetime(src, date_only=False)
    elif dtype == "category":
        value, err = coerce_to_category(src)
    else:  # string + fallback
        value, err = coerce_to_string(src)
    return CompiledCoercion(source=column, value_sql=value, error_sql=err)


def compile_role_coercion(
    column: str,
    role: str,
    measure_type: str | None = None,
    time_date_only: bool = False,  # accepted for API parity (validation.py:204)
    src_type: str | None = None,
) -> CompiledCoercion:
    """Role-based variant (coerce_dataframe_by_roles, validation.py:200-231):
    Location→string, Time→string + format-error labeling, Measures→int/float,
    Others→category(string). Unassigned columns default to Others
    (validation.py:210)."""
    src = sql_ident(column)
    label: str | None = None
    if role == "Location":
        value, err = coerce_to_string(src)
    elif role == "Time":
        # Kept as string; errors are per-row invalid formats — the
        # majority-format extra errors are aggregate-level and added by the
        # engine from the label counts (validation.py:180-188).
        value, _ = coerce_to_string(src)
        label = time_format_label(src)
        err = time_invalid_pred(src, label)
    elif role == "Measures":
        if (measure_type or "float") == "integer":
            value, err = coerce_to_integer(src, src_type)
        else:
            value, err = coerce_to_float(src, src_type)
    else:  # Others
        value, err = coerce_to_category(src)
    return CompiledCoercion(source=column, value_sql=value, error_sql=err, label_sql=label)
