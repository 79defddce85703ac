"""Whole-frame coercion drivers — API parity with the reference's
``coerce_dataframe_to_selected_types`` (utils/validation.py:93-123) and
``coerce_dataframe_by_roles`` (utils/validation.py:200-231), plus the
all-columns null census of ``validate_dataframe`` (utils/validation.py:126-133).

Each driver returns (coerced DataFrame, report DataFrame) where the report
is computed in ONE aggregate over one scan — the reference loops columns and
makes a pass per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ndap_data_validator_spark.functions.coercion import (
    compile_dtype_coercion,
    compile_role_coercion,
)
from ndap_data_validator_spark.functions.sqltext import sql_ident, sql_str
from ndap_data_validator_spark.functions.timeformat import TIME_LABELS


def _report(df: DataFrame, compiled) -> DataFrame:
    """One shared-scan aggregate → (column, conversion_errors). For Time
    columns the count is invalid + (valid_total − majority-format count),
    exactly the reference's coerce_dataframe_by_roles which folds
    _count_time_format_errors into the coercion report
    (validation.py:214-217) — the closed 6-label domain lets both terms come
    from the SAME aggregate row (greatest over 6 count_ifs, no second pass)."""
    aggs, entries = [], []
    for i, c in enumerate(compiled):
        aggs.append(f"sum(CAST({c.error_sql} AS BIGINT)) AS e{i}")
        errs = f"coalesce(e{i}, 0)"
        if c.label_sql is not None:
            counts = []
            for j, lbl in enumerate(TIME_LABELS):
                aggs.append(
                    f"sum(CAST(({c.label_sql}) = {sql_str(lbl)} AS BIGINT)) AS l{i}_{j}"
                )
                counts.append(f"coalesce(l{i}_{j}, 0)")
            errs += f" + ({' + '.join(counts)} - greatest({', '.join(counts)}))"
        entries.append(
            f"named_struct('column', {sql_str(c.source)}, 'conversion_errors', {errs})"
        )
    return (
        df.agg(*[F.expr(a) for a in aggs])
        .selectExpr(f"explode(array({', '.join(entries)})) AS s")
        .selectExpr("s.column", "s.conversion_errors")
    )


def _coerced(df: DataFrame, compiled) -> DataFrame:
    return df.selectExpr(*[f"{c.value_sql} AS {sql_ident(c.source)}" for c in compiled])


def coerce_by_dtypes(
    df: DataFrame, dtype_selection: dict[str, str]
) -> tuple[DataFrame, DataFrame]:
    """Unselected columns default to string, as the reference does
    (validation.py:100)."""
    compiled = [
        compile_dtype_coercion(c, dtype_selection.get(c, "string"))
        for c in df.columns
    ]
    return _coerced(df, compiled), _report(df, compiled)


def coerce_by_roles(
    df: DataFrame,
    role_selection: dict[str, str],
    measure_type_selection: dict[str, str] | None = None,
    time_date_only: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Role-based whole-frame coercion. Time conversion_errors include the
    majority-format extras (invalid + valid_total − majority), matching the
    reference's coerce_dataframe_by_roles which calls
    _count_time_format_errors inside the coercion driver
    (validation.py:214-217) — so this standalone API surface agrees with
    both the reference and ValidationEngine's report."""
    mts = measure_type_selection or {}
    dtypes = dict(df.dtypes)
    compiled = [
        compile_role_coercion(
            c,
            role_selection.get(c, "Others"),
            mts.get(c),
            time_date_only,
            src_type=dtypes[c],
        )
        for c in df.columns
    ]
    return _coerced(df, compiled), _report(df, compiled)


def null_census(df: DataFrame) -> DataFrame:
    """validate_dataframe equivalent: per-column + total null counts from one
    agg; (column, nulls) long form with a '<total>' row."""
    agg = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"n{i}") for i, c in enumerate(df.columns)]
    )
    structs = F.array(
        *[
            F.struct(F.lit(c).alias("column"), F.coalesce(F.col(f"n{i}"), F.lit(0)).alias("nulls"))
            for i, c in enumerate(df.columns)
        ]
    )
    per_col = agg.select(F.explode(structs).alias("s")).select("s.column", "s.nulls")
    total = per_col.agg(
        F.lit("<total>").alias("column"), F.sum("nulls").alias("nulls")
    )
    return per_col.unionByName(total)
