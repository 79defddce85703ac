"""The validation engine core: rule catalog → Catalyst expressions → ONE
shared scan → per-column report, per-partition summary, violation rows.

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
from ndap_data_validator_spark.functions.timeformat import TIME_LABELS
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

    def a(self, suffix: str) -> str:
        return f"c{self.idx}__{suffix}"


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
    def _range_pred(slot: _Slot) -> Column | None:
        a = slot.assignment
        if a.min_value is None and a.max_value is None:
            return None
        v = slot.coercion.value_expr.cast("double")
        conds = []
        if a.min_value is not None:
            conds.append(v < F.lit(float(a.min_value)))
        if a.max_value is not None:
            conds.append(v > F.lit(float(a.max_value)))
        pred = conds[0]
        for c in conds[1:]:
            pred = pred | c
        return v.isNotNull() & pred

    @staticmethod
    def _regex_pred(slot: _Slot) -> Column | None:
        a = slot.assignment
        if a.regex is None:
            return None
        s = F.col(slot.col).cast("string")
        return s.isNotNull() & ~s.rlike(a.regex)

    @staticmethod
    def _domain_pred(slot: _Slot) -> Column | None:
        a = slot.assignment
        if a.allowed_values is None:
            return None
        s = F.col(slot.col).cast("string")
        return s.isNotNull() & ~s.isin(list(a.allowed_values))

    def _agg_exprs(self, slots: list[_Slot]) -> list[Column]:
        """Every aggregate for the single shared scan, aliased by slot."""
        exprs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
        for s in slots:
            exprs.append(
                F.sum(s.coercion.value_expr.isNull().cast("long")).alias(s.a("nulls"))
            )
            exprs.append(F.sum(s.coercion.error_pred.cast("long")).alias(s.a("errs")))
            if s.coercion.label_expr is not None:
                for j, lbl in enumerate(TIME_LABELS):
                    exprs.append(
                        F.sum(
                            (s.coercion.label_expr == F.lit(lbl)).cast("long")
                        ).alias(s.a(f"lbl{j}"))
                    )
            rp = self._range_pred(s)
            if rp is not None:
                exprs.append(F.sum(rp.cast("long")).alias(s.a("range")))
            xp = self._regex_pred(s)
            if xp is not None:
                exprs.append(F.sum(xp.cast("long")).alias(s.a("regex")))
            dp = self._domain_pred(s)
            if dp is not None:
                exprs.append(F.sum(dp.cast("long")).alias(s.a("domain")))
        return exprs

    # ----------------------------------------------------- report expressions

    @staticmethod
    def _zero_if_null(c: Column) -> Column:
        # sum() over an empty/all-null group is NULL; reports want 0.
        return F.coalesce(c, F.lit(0))

    def _column_struct(self, s: _Slot) -> Column:
        """Expressions over ONE aggregate row → the per-column report struct.

        conversion_errors for Time = invalid + (valid_total − majority)
        (validation.py:180-188); for other roles it is the error-pred sum.

        Tolerance/severity (engine knobs, ColumnAssignment docstring): with
        ``tolerance`` set, every count-based trip condition becomes
        ``count > tolerance × rows`` instead of ``count > 0`` — still pure
        expressions over the one aggregate row (``__rows`` rides the same
        row), zero extra passes. With ``severity='warn'`` the reasons are
        reported but ``passed`` is pinned True. Defaults reproduce the
        reference verdict bit-for-bit.
        """
        nulls = self._zero_if_null(F.col(s.a("nulls")))
        errs = self._zero_if_null(F.col(s.a("errs")))
        rows = self._zero_if_null(F.col("__rows"))

        tol = s.assignment.tolerance

        def _trip(count: Column) -> Column:
            if tol is None:
                return count > 0
            return count.cast("double") > F.lit(float(tol)) * rows.cast("double")

        is_time = s.coercion.label_expr is not None
        if is_time:
            label_counts = [
                self._zero_if_null(F.col(s.a(f"lbl{j}")))
                for j in range(len(TIME_LABELS))
            ]
            valid_total = label_counts[0]
            for lc in label_counts[1:]:
                valid_total = valid_total + lc
            majority = F.greatest(*label_counts)
            distinct_formats = sum(
                [(lc > 0).cast("int") for lc in label_counts], F.lit(0)
            )
            invalid = errs
            conv_errs = invalid + (valid_total - majority)
            time_invalid_fail = _trip(invalid)
            if tol is None:
                # reference branch exactly (validation.py:317-327)
                time_inconsistent_fail = (invalid == 0) & (distinct_formats > 1)
            else:
                # tolerant reading: the invalid branch didn't trip, more
                # than one format seen, AND the minority formats exceed the
                # allowed fraction.
                time_inconsistent_fail = (
                    ~time_invalid_fail
                    & (distinct_formats > 1)
                    & _trip(valid_total - majority)
                )
        else:
            conv_errs = errs
            time_invalid_fail = F.lit(False)
            time_inconsistent_fail = F.lit(False)

        reasons_raw: list[Column] = []
        fail_conds: list[Column] = []
        # Reason order matches the reference exactly (validation.py:287-327):
        # numericOnly → notNull → time checks → engine extensions.
        if s.rule.numeric_only:
            cond = _trip(conv_errs)
            fail_conds.append(cond)
            reasons_raw.append(F.when(cond, F.lit(REASON_NON_NUMERIC)))
        if s.rule.not_null:
            cond = _trip(nulls)
            fail_conds.append(cond)
            reasons_raw.append(F.when(cond, F.lit(REASON_NO_NULLS)))
        if is_time:
            fail_conds.append(time_invalid_fail)
            reasons_raw.append(F.when(time_invalid_fail, F.lit(REASON_INVALID_TIME)))
            fail_conds.append(time_inconsistent_fail)
            reasons_raw.append(
                F.when(time_inconsistent_fail, F.lit(REASON_INCONSISTENT_TIME))
            )
        if self._range_pred(s) is not None:
            cond = _trip(self._zero_if_null(F.col(s.a("range"))))
            fail_conds.append(cond)
            reasons_raw.append(F.when(cond, F.lit(REASON_OUT_OF_RANGE)))
        if self._regex_pred(s) is not None:
            cond = _trip(self._zero_if_null(F.col(s.a("regex"))))
            fail_conds.append(cond)
            reasons_raw.append(F.when(cond, F.lit(REASON_REGEX_MISMATCH)))
        if self._domain_pred(s) is not None:
            cond = _trip(self._zero_if_null(F.col(s.a("domain"))))
            fail_conds.append(cond)
            reasons_raw.append(F.when(cond, F.lit(REASON_NOT_IN_DOMAIN)))

        failed = F.lit(False)
        if s.assignment.severity != "warn":
            for c in fail_conds:
                failed = failed | c
        reasons = (
            F.filter(
                F.array(*reasons_raw), lambda x: x.isNotNull()
            )
            if reasons_raw
            else F.array().cast("array<string>")
        )

        return F.struct(
            F.lit(s.col).alias("column"),
            F.lit(s.assignment.role).alias("role"),
            nulls.cast("long").alias("nulls"),
            conv_errs.cast("long").alias("conversion_errors"),
            (~failed).alias("passed"),
            reasons.alias("reasons"),
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
        extra_aggs: list[Column] = (),
        extra_cols: list[Column] = (),
    ) -> ValidationResult:
        """:meth:`validate`, with other rule families folded into the same
        per-partition aggregate: ``extra_aggs`` join the slot aggregates in
        the ONE ``groupBy(partition).agg``, and ``extra_cols`` (expressions
        over that aggregate row) ride in ``cached_aggregate`` next to
        ``__cols`` and the summary columns, so their verdicts are
        projections of the one cached row (plans/pipeline.py)."""
        slots = self._slots(df, assignments)
        missing_roles = self._missing_roles(assignments)

        part_expr = (
            F.lit(GLOBAL_PARTITION)
            if partition_by is None
            else (F.col(partition_by) if isinstance(partition_by, str) else partition_by)
        ).cast("string").alias("partition_id")

        agg = df.groupBy(part_expr).agg(*self._agg_exprs(slots), *extra_aggs)

        col_structs = F.array(*[self._column_struct(s) for s in slots])
        missing_lit = F.array(*[F.lit(r) for r in missing_roles]).cast("array<string>")
        failed_cols = F.transform(
            F.filter(F.col("__cols"), lambda c: ~c["passed"]),
            lambda c: c["column"],
        )
        wide = agg.select(
            F.col("partition_id"),
            F.col("__rows").alias("rows"),
            col_structs.alias("__cols"),
            *extra_cols,
        ).select(
            "*",
            failed_cols.alias("failed_columns"),
            F.size(failed_cols).alias("failed_count"),
            missing_lit.alias("missing_roles"),
            # overall pass (validation.py:350): no failed columns AND no
            # missing mandatory roles.
            ((F.size(failed_cols) == 0) & F.lit(len(missing_roles) == 0)).alias(
                "passed"
            ),
        )
        if cache_aggregates:
            # The aggregate is one row per partition — tiny. Persisting it
            # means per_column_report and summary (two actions) share ONE
            # scan of the source instead of recomputing the aggregation.
            wide = wide.persist()

        per_column = wide.select(
            "partition_id", F.explode("__cols").alias("c")
        ).select(
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
        coerced = df.select(
            *[s.coercion.value_expr.alias(s.col) for s in slots]
        )
        return ValidationResult(
            per_column_report=per_column,
            summary=summary,
            violations=violations,
            coerced=coerced,
            missing_roles=missing_roles,
            cached_aggregate=wide if cache_aggregates else None,
        )

    def _row_checks(self, s: _Slot) -> list[tuple[Column, str]]:
        """Every (fires-on-violation predicate, reason string) pair for one
        column slot — the single source of row-level rule semantics, shared
        by the violations report and :meth:`flag_rows`."""
        checks: list[tuple[Column, str]] = []
        if s.rule.not_null:
            checks.append((s.coercion.value_expr.isNull(), REASON_NO_NULLS))
        if s.rule.numeric_only:
            checks.append((s.coercion.error_pred, REASON_NON_NUMERIC))
        if s.coercion.label_expr is not None:
            checks.append((s.coercion.error_pred, REASON_INVALID_TIME))
        rp = self._range_pred(s)
        if rp is not None:
            checks.append((rp, REASON_OUT_OF_RANGE))
        xp = self._regex_pred(s)
        if xp is not None:
            checks.append((xp, REASON_REGEX_MISMATCH))
        dp = self._domain_pred(s)
        if dp is not None:
            checks.append((dp, REASON_NOT_IN_DOMAIN))
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
        slots = self._slots(df, assignments)
        entries: list[Column] = []
        for s in slots:
            if s.assignment.severity == "warn":
                continue
            for pred, reason in self._row_checks(s):
                entries.append(F.when(pred, F.lit(f"{s.col}: {reason}")))
        for cr in check_rules or []:
            from ndap_data_validator_spark.operators.checks import (
                check_violation_pred,
            )

            entries.append(
                F.when(check_violation_pred(cr), F.lit(f"check: {cr.name}"))
            )
        reasons = (
            F.filter(F.array(*entries), lambda x: x.isNotNull())
            if entries
            else F.array().cast("array<string>")
        )
        return df.select(
            "*",
            reasons.alias("row_reasons"),
        ).withColumn("row_passed", F.size("row_reasons") == 0)

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
        entries: list[Column] = []
        for s in slots:
            for pred, reason in self._row_checks(s):
                entries.append(
                    F.when(
                        pred,
                        F.struct(
                            F.lit(s.col).alias("column"),
                            F.lit(reason).alias("reason"),
                            F.col(s.col).cast("string").alias("value"),
                        ),
                    )
                )
        order_cols = list(order_by or [])
        base = df.select(
            part_expr,
            *[F.col(c) for c in order_cols],
            (
                F.filter(F.array(*entries), lambda x: x.isNotNull())
                if entries
                else F.array().cast(
                    "array<struct<column:string,reason:string,value:string>>"
                )
            ).alias("__viol"),
        )
        out = (
            base.where(F.size("__viol") > 0)
            .select(
                "partition_id",
                *order_cols,
                F.explode("__viol").alias("v"),
            )
            .select("partition_id", *order_cols, "v.column", "v.reason", "v.value")
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
