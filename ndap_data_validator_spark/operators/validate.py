"""The validation engine core: rule catalog → Spark SQL text → ONE shared
scan → per-column report, per-partition summary, violation rows.

Reference lifecycle being re-expressed (``/root/reference/main.py:835-1130``
+ ``utils/validation.py:200-357``): the reference loops file-by-file and
column-by-column in pandas, making multiple full passes (coerce pass,
validate pass, per-column null counts). Here every per-column aggregate —
null count on the coerced value, conversion-error count, the 6 time-format
label counts, optional range/regex violation counts, row count — is compiled
into a single ``groupBy(partition).agg(...)``:

  * one scan of the data, partial (map-side) + final aggregation;
  * the only shuffle is the tiny per-partition aggregate exchange;
  * report assembly (pass/fail booleans, exact reason strings, majority-
    format math) happens as expressions over the aggregate row — label
    domain is closed (6 labels) so majority = ``greatest(count_1..count_6)``
    with no second pass;
  * violation rows reuse the very same compiled predicates as filters,
    exploded long-form and ordered by a stable key.

Every rule compiles to SQL text, and each output column — an aggregate, the
``__cols`` report-struct array, the violation array — becomes a Catalyst
expression with ONE ``F.expr``. The same trees built through the PySpark
Column API cost a Py4J round trip or more per operator (method call plus
call-site capture): thousands per call, which made building the plan slower
than running its jobs. Identifiers and literals are quoted by
``functions/sqltext.py``.

Per-partition report ≙ the reference's per-file report (main.py:880-936):
one S3 CSV file maps to one partition value here.

Rule semantics matched exactly (see rules/model.py for the verbatim reason
strings):
  * nulls are counted on the COERCED frame (main.py:884-894) — junk values
    in an integer Measures column inflate both ``conversion_errors`` and
    ``nulls``;
  * ``numericOnly`` + errors>0 → "Non-numeric values detected"
    (validation.py:287-289); ``notNull`` + nulls>0 → "No Nulls allowed"
    (validation.py:290-292);
  * Time: invalid>0 → the invalid-format reason, ELSE >1 distinct matched
    format → "Inconsistent time formats across rows" (validation.py:317-327,
    mutually exclusive branches);
  * Time conversion_errors = invalid + (valid_total − majority_count)
    (validation.py:180-188); ties in the majority don't change the count,
    so the pandas first-inserted tie-break needs no replication;
  * mandatory roles: catalog-mandatory ∪ hard-required {Time, Measures}
    (validation.py:340-350); overall pass = no failed columns AND no
    missing roles.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ndap_data_validator_spark.functions.coercion import (
    CompiledCoercion,
    compile_role_coercion,
)
from ndap_data_validator_spark.functions.sqltext import (
    sql_double,
    sql_ident,
    sql_in,
    sql_name,
    sql_str,
)
from ndap_data_validator_spark.functions.timeformat import TIME_LABELS
from ndap_data_validator_spark.operators.checks import check_violation_sql
from ndap_data_validator_spark.rules.model import (
    ColumnAssignment,
    REASON_INCONSISTENT_TIME,
    REASON_INVALID_TIME,
    REASON_NO_NULLS,
    REASON_NON_NUMERIC,
    RoleRule,
    RuleCatalog,
    load_default_catalog,
)

GLOBAL_PARTITION = "<all>"

REASON_OUT_OF_RANGE = "Value out of allowed range"
REASON_REGEX_MISMATCH = "Value does not match required pattern"
REASON_NOT_IN_DOMAIN = "Value not in allowed domain"


@dataclass
class ValidationResult:
    """All engine outputs. Each is a (lazy) DataFrame; nothing is collected
    until the caller decides to — report tables stay distributed and can be
    written straight to Iceberg/parquet."""

    per_column_report: DataFrame  # (partition_id, column, role, nulls, conversion_errors, passed, reasons)
    summary: DataFrame  # (partition_id, rows, failed_columns, failed_count, missing_roles, passed)
    violations: DataFrame  # (partition_id, <order cols…>, column, reason, value)
    coerced: DataFrame  # source frame with role-coerced values
    missing_roles: list[str] = field(default_factory=list)
    # the persisted per-partition aggregate that per_column_report and
    # summary share (None when cache_aggregates=False): partition_id, rows,
    # __cols (the per-column report structs), the summary columns, and any
    # columns other rule families folded in (ValidationEngine._validate).
    # Callers that loop validate() in a long-lived driver must release() it
    # once the report frames have fed their last action, or each batch
    # strands one cached plan in executor storage memory. Actions taken
    # after release() simply recompute the (tiny) aggregate.
    cached_aggregate: DataFrame | None = None

    def release(self) -> None:
        """Unpersist the shared aggregate cache (no-op if uncached)."""
        if self.cached_aggregate is not None:
            self.cached_aggregate.unpersist()


@dataclass
class _Slot:
    """Per-column compiled state + aggregate aliases."""

    idx: int
    assignment: ColumnAssignment
    coercion: CompiledCoercion
    rule: RoleRule

    @property
    def col(self) -> str:
        return self.assignment.column

    @property
    def src(self) -> str:
        return sql_ident(self.col)

    def a(self, suffix: str) -> str:
        return f"c{self.idx}__{suffix}"


def _compact(entries: list[str], empty_type: str) -> str:
    """SQL for the non-NULL ``entries`` as an array (``CASE WHEN`` arms
    without ELSE drop out); a typed empty array when there are none."""
    if not entries:
        return f"CAST(array() AS ARRAY<{empty_type}>)"
    return f"filter(array({', '.join(entries)}), x -> x IS NOT NULL)"


class ValidationEngine:
    def __init__(
        self,
        catalog: RuleCatalog | None = None,
        schema_name: str | None = None,
    ) -> None:
        self.catalog = catalog or load_default_catalog()
        self.schema_name = schema_name or self.catalog.default_schema

    # ---------------------------------------------------------------- compile

    def _slots(self, df: DataFrame, assignments: list[ColumnAssignment]) -> list[_Slot]:
        """One slot per physical column, in df.columns order (the reference
        iterates df.columns and defaults unassigned columns to Others,
        validation.py:209-210)."""
        by_col = {a.column: a for a in assignments}
        rules = self.catalog.schema_rules(self.schema_name)
        dtypes = dict(df.dtypes)
        slots: list[_Slot] = []
        for i, c in enumerate(df.columns):
            a = by_col.get(c, ColumnAssignment(column=c, role="Others"))
            slots.append(
                _Slot(
                    idx=i,
                    assignment=a,
                    coercion=compile_role_coercion(
                        c, a.role, a.measure_type, a.time_date_only,
                        src_type=dtypes[c],
                    ),
                    rule=rules.get(a.role, RoleRule()),
                )
            )
        return slots

    @staticmethod
    def _range_pred(slot: _Slot) -> str | None:
        a = slot.assignment
        if a.min_value is None and a.max_value is None:
            return None
        v = f"CAST({slot.coercion.value_sql} AS DOUBLE)"
        conds = []
        if a.min_value is not None:
            conds.append(f"{v} < {sql_double(a.min_value)}")
        if a.max_value is not None:
            conds.append(f"{v} > {sql_double(a.max_value)}")
        return f"({v} IS NOT NULL AND ({' OR '.join(conds)}))"

    @staticmethod
    def _regex_pred(slot: _Slot) -> str | None:
        a = slot.assignment
        if a.regex is None:
            return None
        s = f"CAST({slot.src} AS STRING)"
        return f"({s} IS NOT NULL AND NOT ({s} RLIKE {sql_str(a.regex)}))"

    @staticmethod
    def _domain_pred(slot: _Slot) -> str | None:
        a = slot.assignment
        if a.allowed_values is None:
            return None
        s = f"CAST({slot.src} AS STRING)"
        return f"({s} IS NOT NULL AND NOT ({sql_in(s, list(a.allowed_values))}))"

    def _agg_exprs(self, slots: list[_Slot]) -> list[str]:
        """Every aggregate for the single shared scan, aliased by slot."""

        def count(pred: str, alias: str) -> str:
            return f"sum(CAST({pred} AS BIGINT)) AS {alias}"

        exprs = ["count(1) AS __rows"]
        for s in slots:
            c = s.coercion
            exprs.append(count(f"({c.value_sql}) IS NULL", s.a("nulls")))
            exprs.append(count(c.error_sql, s.a("errs")))
            if c.label_sql is not None:
                for j, lbl in enumerate(TIME_LABELS):
                    exprs.append(
                        count(f"({c.label_sql}) = {sql_str(lbl)}", s.a(f"lbl{j}"))
                    )
            for suffix, pred in (
                ("range", self._range_pred(s)),
                ("regex", self._regex_pred(s)),
                ("domain", self._domain_pred(s)),
            ):
                if pred is not None:
                    exprs.append(count(pred, s.a(suffix)))
        return exprs

    # ----------------------------------------------------- report expressions

    def _column_struct(self, s: _Slot) -> str:
        """SQL over ONE aggregate row → the per-column report struct.

        conversion_errors for Time = invalid + (valid_total − majority)
        (validation.py:180-188); for other roles it is the error-pred sum.
        ``sum()`` over an empty/all-null group is NULL; reports want 0.

        Tolerance/severity (engine knobs, ColumnAssignment docstring): with
        ``tolerance`` set, every count-based trip condition becomes
        ``count > tolerance × rows`` instead of ``count > 0`` — still pure
        expressions over the one aggregate row (``__rows`` rides the same
        row), zero extra passes. With ``severity='warn'`` the reasons are
        reported but ``passed`` is pinned True. Defaults reproduce the
        reference verdict bit-for-bit.
        """

        def n(alias: str) -> str:
            return f"coalesce({alias}, 0)"

        nulls, errs, rows = n(s.a("nulls")), n(s.a("errs")), n("__rows")
        tol = s.assignment.tolerance

        def _trip(count: str) -> str:
            if tol is None:
                return f"({count}) > 0"
            return (
                f"CAST({count} AS DOUBLE) > {sql_double(tol)} * CAST({rows} AS DOUBLE)"
            )

        # (trip condition, reason) in the reference's exact reason order
        # (validation.py:287-327): numericOnly → notNull → time checks →
        # engine extensions.
        trips: list[tuple[str, str]] = []
        conv_errs = errs
        if s.coercion.label_sql is not None:
            counts = [n(s.a(f"lbl{j}")) for j in range(len(TIME_LABELS))]
            valid_total = f"({' + '.join(counts)})"
            minority = f"({valid_total} - greatest({', '.join(counts)}))"
            distinct_formats = " + ".join(f"CAST({lc} > 0 AS INT)" for lc in counts)
            invalid = errs
            conv_errs = f"({invalid} + {minority})"
            time_invalid_fail = _trip(invalid)
            if tol is None:
                # reference branch exactly (validation.py:317-327)
                time_inconsistent_fail = f"{invalid} = 0 AND ({distinct_formats}) > 1"
            else:
                # tolerant reading: the invalid branch didn't trip, more
                # than one format seen, AND the minority formats exceed the
                # allowed fraction.
                time_inconsistent_fail = (
                    f"NOT ({time_invalid_fail}) AND ({distinct_formats}) > 1 "
                    f"AND {_trip(minority)}"
                )
        if s.rule.numeric_only:
            trips.append((_trip(conv_errs), REASON_NON_NUMERIC))
        if s.rule.not_null:
            trips.append((_trip(nulls), REASON_NO_NULLS))
        if s.coercion.label_sql is not None:
            trips.append((time_invalid_fail, REASON_INVALID_TIME))
            trips.append((time_inconsistent_fail, REASON_INCONSISTENT_TIME))
        for suffix, pred, reason in (
            ("range", self._range_pred(s), REASON_OUT_OF_RANGE),
            ("regex", self._regex_pred(s), REASON_REGEX_MISMATCH),
            ("domain", self._domain_pred(s), REASON_NOT_IN_DOMAIN),
        ):
            if pred is not None:
                trips.append((_trip(n(s.a(suffix))), reason))

        failed = "false"
        if s.assignment.severity != "warn" and trips:
            failed = " OR ".join(f"({cond})" for cond, _ in trips)
        reasons = _compact(
            [f"CASE WHEN {cond} THEN {sql_str(r)} END" for cond, r in trips],
            "STRING",
        )
        return (
            f"named_struct('column', {sql_str(s.col)}, "
            f"'role', {sql_str(s.assignment.role)}, "
            f"'nulls', CAST({nulls} AS BIGINT), "
            f"'conversion_errors', CAST({conv_errs} AS BIGINT), "
            f"'passed', NOT ({failed}), 'reasons', {reasons})"
        )

    def _missing_roles(self, assignments: list[ColumnAssignment]) -> list[str]:
        assigned = {a.role for a in assignments}
        return [
            r
            for r in self.catalog.mandatory_roles(self.schema_name)
            if r not in assigned
        ]

    # ----------------------------------------------------------------- public

    def validate(
        self,
        df: DataFrame,
        assignments: list[ColumnAssignment],
        partition_by: str | Column | None = None,
        order_by: list[str] | None = None,
        cache_aggregates: bool = True,
        max_violations_per_rule: int | None = None,
    ) -> ValidationResult:
        """Run the full validation query.

        ``partition_by`` — column/expression playing the reference's
        "one report per S3 file" role (main.py:880-936); None → one global
        report row keyed ``<all>``.
        ``order_by`` — stable violation-row ordering key (north_rule: the
        ``(conv_id, turn_idx)`` window); defaults to ``partition_by`` only.
        ``max_violations_per_rule`` — cap the VIOLATION-ROW output at the
        first K rows per (partition, column, reason) by the stable order
        key (requires ``order_by``). At 10^12 turns a single broken rule
        (or a bad data drop) otherwise floods the report sink with
        billions of example rows; the full violation COUNTS are unaffected
        — they come from the aggregate, not from these rows.
        """
        return self._validate(
            df, assignments, partition_by, order_by, cache_aggregates,
            max_violations_per_rule,
        )

    def _validate(
        self,
        df: DataFrame,
        assignments: list[ColumnAssignment],
        partition_by: str | Column | None,
        order_by: list[str] | None,
        cache_aggregates: bool,
        max_violations_per_rule: int | None,
        extra_aggs: list[str] = (),
        extra_cols: list[str] = (),
    ) -> ValidationResult:
        """:meth:`validate`, with other rule families folded into the same
        per-partition aggregate: ``extra_aggs`` (aliased SQL aggregates)
        join the slot aggregates in the ONE ``groupBy(partition).agg``, and
        ``extra_cols`` (aliased SQL over that aggregate row) ride in
        ``cached_aggregate`` next to ``__cols`` and the summary columns, so
        their verdicts are projections of the one cached row
        (plans/pipeline.py)."""
        slots = self._slots(df, assignments)
        missing_roles = self._missing_roles(assignments)

        part_expr = (
            F.lit(GLOBAL_PARTITION)
            if partition_by is None
            else (F.col(partition_by) if isinstance(partition_by, str) else partition_by)
        ).cast("string").alias("partition_id")

        agg = df.groupBy(part_expr).agg(
            *[F.expr(e) for e in [*self._agg_exprs(slots), *extra_aggs]]
        )

        col_structs = ", ".join(self._column_struct(s) for s in slots)
        missing_lit = (
            f"CAST(array({', '.join(sql_str(r) for r in missing_roles)}) "
            "AS ARRAY<STRING>)"
        )
        failed_cols = "transform(filter(__cols, c -> NOT c.passed), c -> c.column)"
        wide = agg.selectExpr(
            "partition_id",
            "__rows AS rows",
            f"array({col_structs}) AS __cols",
            *extra_cols,
        ).selectExpr(
            "*",
            f"{failed_cols} AS failed_columns",
            f"size({failed_cols}) AS failed_count",
            f"{missing_lit} AS missing_roles",
            # overall pass (validation.py:350): no failed columns AND no
            # missing mandatory roles.
            f"size({failed_cols}) = 0 AND {str(not missing_roles).lower()} AS passed",
        )
        if cache_aggregates:
            # The aggregate is one row per partition — tiny. Persisting it
            # means per_column_report and summary (two actions) share ONE
            # scan of the source instead of recomputing the aggregation.
            wide = wide.persist()

        per_column = wide.selectExpr(
            "partition_id", "explode(__cols) AS c"
        ).selectExpr(
            "partition_id",
            "c.column",
            "c.role",
            "c.nulls",
            "c.conversion_errors",
            "c.passed",
            "c.reasons",
        )
        summary = wide.select(
            "partition_id",
            "rows",
            "failed_columns",
            "failed_count",
            "missing_roles",
            "passed",
        )

        violations = self._violations(
            df, slots, part_expr, order_by, max_violations_per_rule
        )
        coerced = df.selectExpr(
            *[f"{s.coercion.value_sql} AS {s.src}" for s in slots]
        )
        return ValidationResult(
            per_column_report=per_column,
            summary=summary,
            violations=violations,
            coerced=coerced,
            missing_roles=missing_roles,
            cached_aggregate=wide if cache_aggregates else None,
        )

    def _row_checks(self, s: _Slot) -> list[tuple[str, str]]:
        """Every (fires-on-violation SQL predicate, reason string) pair for
        one column slot — the single source of row-level rule semantics,
        shared by the violations report and :meth:`flag_rows`."""
        checks: list[tuple[str, str]] = []
        if s.rule.not_null:
            checks.append((f"({s.coercion.value_sql}) IS NULL", REASON_NO_NULLS))
        if s.rule.numeric_only:
            checks.append((s.coercion.error_sql, REASON_NON_NUMERIC))
        if s.coercion.label_sql is not None:
            checks.append((s.coercion.error_sql, REASON_INVALID_TIME))
        for pred, reason in (
            (self._range_pred(s), REASON_OUT_OF_RANGE),
            (self._regex_pred(s), REASON_REGEX_MISMATCH),
            (self._domain_pred(s), REASON_NOT_IN_DOMAIN),
        ):
            if pred is not None:
                checks.append((pred, reason))
        return checks

    def flag_rows(
        self,
        df: DataFrame,
        assignments: list[ColumnAssignment],
        check_rules: list | None = None,
    ) -> DataFrame:
        """Row-level verdicts over the source frame: every input column
        plus ``row_reasons`` (array of ``"column: reason"`` strings, plus
        ``"check: name"`` for violated :class:`~ndap_data_validator_spark.
        rules.model.CheckRule`s — NULL check expressions pass, SQL CHECK
        semantics) and ``row_passed``. The same compiled predicates the
        aggregate report uses, evaluated in ONE scan-level projection — no
        shuffle, no Python — so callers can route rows (publish the clean
        ones, quarantine the rest) without a join against the violations
        report. A row with no fired rule has an empty (not NULL) array.

        Routing honors ``ColumnAssignment.severity``: a ``"warn"``
        column's rules are EXCLUDED here (warn's contract is "report, but
        never block the publish gate" — diverting its rows to quarantine
        would block them), while the violations report still lists them.
        ``tolerance`` is deliberately NOT honored: it moves the PARTITION
        verdict ("≤ ε bad rows is an acceptable partition"), but each
        violating row still fired an error-severity rule and routes to
        the dead-letter sink for triage.
        """
        clash = {"row_reasons", "row_passed"} & set(df.columns)
        if clash:
            raise ValueError(
                f"flag_rows appends columns {sorted(clash)} but the frame "
                "already has them — rename the source columns first"
            )
        fired = [
            (pred, f"{s.col}: {reason}")
            for s in self._slots(df, assignments)
            if s.assignment.severity != "warn"
            for pred, reason in self._row_checks(s)
        ] + [(check_violation_sql(cr), f"check: {cr.name}") for cr in check_rules or []]
        reasons = _compact(
            [f"CASE WHEN {pred} THEN {sql_str(label)} END" for pred, label in fired],
            "STRING",
        )
        return df.selectExpr("*", f"{reasons} AS row_reasons").selectExpr(
            "*", "size(row_reasons) = 0 AS row_passed"
        )

    def _violations(
        self,
        df: DataFrame,
        slots: list[_Slot],
        part_expr: Column,
        order_by: list[str] | None,
        max_violations_per_rule: int | None = None,
    ) -> DataFrame:
        """Per-row violation output: the same compiled predicates, reused as
        filters. Long-form (one row per offending cell), ordered by the
        stable key so runs are byte-comparable."""
        entries = [
            f"CASE WHEN {pred} THEN named_struct('column', {sql_str(s.col)}, "
            f"'reason', {sql_str(reason)}, 'value', CAST({s.src} AS STRING)) END"
            for s in slots
            for pred, reason in self._row_checks(s)
        ]
        order_cols = list(order_by or [])
        keys = [sql_name(c) for c in order_cols]
        viol = _compact(
            entries, "STRUCT<column: STRING, reason: STRING, value: STRING>"
        )
        out = (
            df.select(part_expr, *order_cols, F.expr(f"{viol} AS __viol"))
            .where("size(__viol) > 0")
            .selectExpr("partition_id", *keys, "explode(__viol) AS v")
            .selectExpr("partition_id", *keys, "v.column", "v.reason", "v.value")
        )
        if max_violations_per_rule is not None:
            if not order_cols:
                raise ValueError(
                    "max_violations_per_rule needs order_by (the stable "
                    "key that defines which K rows are 'first')"
                )
            # first K per (partition, column, reason) by the stable order
            # key, 'value' as the tiebreak so the kept set is deterministic
            # even through injected duplicate (conv, turn) pairs. Scale
            # shape: ONE hash exchange on the (already rule-filtered)
            # violation stream + a streaming row_number — each group's
            # output is bounded at K, so the downstream report write is
            # bounded at K × |rules| × |partitions| no matter how badly a
            # rule (or the data) breaks. Counts stay exact in
            # per_column_report, which never sees this cap.
            cap_w = Window.partitionBy(
                "partition_id", "column", "reason"
            ).orderBy(*[F.col(c).asc() for c in order_cols], F.col("value").asc())
            out = (
                out.withColumn("__rn", F.row_number().over(cap_w))
                .where(F.col("__rn") <= max_violations_per_rule)
                .drop("__rn")
            )
        # sortWithinPartitions after repartitioning on partition_id: rows for
        # one report partition are contiguous AND internally ordered by the
        # stable (conv_id, turn_idx) key — byte-comparable output — without
        # the global range-partitioning sort a plain orderBy would add
        # (sampling pass + skewed ranges at 10^12 rows).
        sort_cols = ["partition_id", *order_cols, "column", "reason"]
        return out.repartition(F.col("partition_id")).sortWithinPartitions(*sort_cols)
