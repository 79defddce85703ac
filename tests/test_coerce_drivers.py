"""Whole-frame coercion drivers + role/dtype inference (reference API parity:
coerce_dataframe_to_selected_types, coerce_dataframe_by_roles,
validate_dataframe, guess_datatype/guess_role)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, TimestampType

from ndap_data_validator_spark.operators.coerce import (
    coerce_by_dtypes,
    coerce_by_roles,
    null_census,
)
from ndap_data_validator_spark.rules.inference import (
    guess_assignments,
    guess_dtype,
    guess_role,
)


def test_coerce_by_dtypes(spark):
    df = spark.createDataFrame(
        [("1", "1.5", "yes"), ("2.5", "x", "no"), (None, None, "maybe")],
        "a string, b string, c string",
    )
    coerced, report = coerce_by_dtypes(
        df, {"a": "integer", "b": "float", "c": "boolean"}
    )
    assert dict(coerced.dtypes) == {"a": "bigint", "b": "double", "c": "boolean"}
    rep = {r["column"]: r["conversion_errors"] for r in report.collect()}
    assert rep == {"a": 1, "b": 1, "c": 1}


def test_coerce_by_roles_defaults_others(spark):
    df = spark.createDataFrame([("x", "1")], "a string, b string")
    coerced, report = coerce_by_roles(df, {"b": "Measures"}, {"b": "float"})
    assert dict(coerced.dtypes) == {"a": "string", "b": "double"}
    rep = {r["column"]: r["conversion_errors"] for r in report.collect()}
    assert rep == {"a": 0, "b": 0}


def test_null_census(spark):
    df = spark.createDataFrame(
        [("a", None), (None, None), ("c", "x")], "p string, q string"
    )
    got = {r["column"]: r["nulls"] for r in null_census(df).collect()}
    assert got == {"p": 1, "q": 2, "<total>": 3}


def test_guess_dtype_and_role():
    assert guess_dtype(LongType()) == "integer"
    assert guess_dtype(DoubleType()) == "float"
    assert guess_dtype(TimestampType()) == "datetime"
    assert guess_dtype(StringType()) == "string"
    assert guess_role("created_date", StringType()) == ("Time", None)
    assert guess_role("fiscal_year", LongType()) == ("Time", None)  # name wins
    assert guess_role("amount", LongType()) == ("Measures", "integer")
    assert guess_role("ratio", DoubleType()) == ("Measures", "float")
    assert guess_role("state", StringType()) == ("Others", None)


def test_guess_assignments(spark):
    df = spark.createDataFrame(
        [(1, 2.0, "x")], "qty long, rate double, name string"
    ).withColumn("ts", F.current_timestamp())
    got = {a.column: (a.role, a.measure_type) for a in guess_assignments(df)}
    assert got == {
        "qty": ("Measures", "integer"),
        "rate": ("Measures", "float"),
        "name": ("Others", None),
        "ts": ("Time", None),
    }


def test_time_report_includes_majority_extras(spark):
    """coerce_by_roles' standalone report must match the reference's
    _count_time_format_errors fold: invalid + (valid_total - majority)."""
    df = spark.createDataFrame(
        [("2024",), ("2025",), ("Mar-2024",), ("junk",), (None,)], "y string"
    )
    _, rep = coerce_by_roles(df, {"y": "Time"})
    r = {x["column"]: x["conversion_errors"] for x in rep.collect()}
    # 1 invalid ('junk') + (3 valid - 2 majority) = 2
    assert r["y"] == 2


def test_nan_counts_as_null_not_error_for_float_source(spark):
    """pandas isna() parity: a float-typed source containing NaN coerces to
    null (no conversion error) for both integer and float targets."""
    import math

    from ndap_data_validator_spark.functions.coercion import (
        coerce_to_float,
        coerce_to_integer,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (2.5,), (None,)], "m double"
    )
    fv, fe = map(F.expr, coerce_to_float("m", src_type="double"))
    iv, ie = map(F.expr, coerce_to_integer("m", src_type="double"))
    row = df.agg(
        F.sum(fv.isNull().cast("long")).alias("f_nulls"),
        F.sum(fe.cast("long")).alias("f_errs"),
        F.sum(iv.isNull().cast("long")).alias("i_nulls"),
        F.sum(ie.cast("long")).alias("i_errs"),
    ).first()
    assert row["f_nulls"] == 2 and row["f_errs"] == 0   # NaN + NULL
    assert row["i_nulls"] == 3 and row["i_errs"] == 1   # NaN, NULL, 2.5; only 2.5 errors


def test_nan_string_counts_as_error_and_null(spark):
    """pandas to_numeric('NaN') → NaN → isna: counted as error AND null."""
    from ndap_data_validator_spark.functions.coercion import coerce_to_float
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("1.5",), ("NaN",), (None,)], "m string")
    v, e = map(F.expr, coerce_to_float("m"))
    row = df.agg(
        F.sum(v.isNull().cast("long")).alias("nulls"),
        F.sum(e.cast("long")).alias("errs"),
    ).first()
    assert row["nulls"] == 2 and row["errs"] == 1


def test_profile_and_suggest(spark):
    """Data-driven rule bootstrap: one-agg profile + draft constraints."""
    from ndap_data_validator_spark.rules.inference import (
        profile_and_suggest,
        profile_columns,
    )

    rows = [
        (str(i), "active" if i % 2 else "closed", f"{i}.5",
         f"2024-01-{(i % 27) + 1:02d}", None if i % 5 == 0 else "x" * i)
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "id string, status string, score string, day string, blob string"
    )
    assigns, prof = profile_and_suggest(df)
    by = {a.column: a for a in assigns}
    # all-digit strings re-draft to Measures/integer; decimals to float
    assert (by["id"].role, by["id"].measure_type) == ("Measures", "integer")
    assert (by["score"].role, by["score"].measure_type) == ("Measures", "float")
    # 'day' name token wins Time at the metadata layer already
    assert by["day"].role == "Time"
    # 2-value status gets a domain rule; high-cardinality blob does not
    assert by["status"].allowed_values == ("active", "closed")
    assert by["blob"].allowed_values is None
    p = {x["column"]: x for x in prof}
    assert p["blob"]["null_frac"] == 0.2
    assert p["status"]["domain"] == ["active", "closed"]
    assert p["id"]["regex_fracs"]["integer"] == 1.0

    # numeric dtypes get the observed range; draft rules actually RUN
    df2 = spark.createDataFrame([(i, float(i) / 2) for i in range(10)],
                                "k int, v double")
    assigns2, prof2 = profile_and_suggest(df2)
    by2 = {a.column: a for a in assigns2}
    assert (by2["k"].min_value, by2["k"].max_value) == (0.0, 9.0)
    assert (by2["v"].min_value, by2["v"].max_value) == (0.0, 4.5)
    from ndap_data_validator_spark.operators.validate import ValidationEngine

    res = ValidationEngine().validate(df2, assigns2)
    # every drafted rule holds on the data it was drafted from (the summary
    # itself fails only the MISSING-Time mandatory-role contract, which is
    # the catalog's business, not the profiler's)
    row = res.summary.first()
    assert row["failed_count"] == 0
    assert list(row["missing_roles"]) == ["Time"]

    # profile_columns restricted to a column subset stays a single pass
    only = profile_columns(df, columns=["status"])
    assert [x["column"] for x in only] == ["status"]
