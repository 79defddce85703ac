"""Round-trip guard for compiling the validator: every rule family builds
its expressions as SQL text that Catalyst parses once per output column,
so compiling a rule catalog costs a few Py4J commands per output column,
not several per operator of every expression tree. A rule family that goes
back to building Column trees one PySpark call at a time fails this test.
``tests/test_shared_scan.py`` guards the same for a whole
``run_validation`` call.

Measured on this fixture: 5,341 commands when every expression was built
through the Column API, 343 with SQL text; the bound leaves under 2x
headroom over the latter."""

from __future__ import annotations

from ndap_data_validator_spark.operators.validate import ValidationEngine
from ndap_data_validator_spark.rules.model import ColumnAssignment

# One slot of every kind: regex, integer range, float, domain, Time.
ASSIGNS = [
    ColumnAssignment("loc", "Location", regex=r"^L-\d$"),
    ColumnAssignment("n", "Measures", "integer", min_value=0, max_value=10),
    ColumnAssignment("f", "Measures", "float"),
    ColumnAssignment("o", "Others", allowed_values=("a", "b")),
    ColumnAssignment("t", "Time"),
]


def test_validate_compiles_in_few_round_trips(spark, py4j_commands):
    df = spark.createDataFrame(
        [("L-1", "3", "1.5", "a", "2021"), ("bad", "x", "y", "c", "Q1")],
        "loc string, n string, f string, o string, t string",
    )
    df.schema  # analysed before counting: only the compile is measured
    with py4j_commands() as n:
        res = ValidationEngine().validate(
            df, ASSIGNS, partition_by="o", order_by=["loc", "n"]
        )
    res.release()
    assert n.commands <= 600, n.commands
