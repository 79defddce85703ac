"""End-to-end validation run: checkpointed, resumable, skew-aware.

The reference's EP2 lifecycle (``/root/reference/main.py:835-1130``) loops
files sequentially, validating each and logging per-file results. Here the
"files" are table partitions and the whole remaining set is validated by one
shared per-partition aggregate (partition parallelism replaces the loop).
The run's report, publish and quarantine sinks are then written
concurrently, and completion is recorded per partition only after they all
landed, so a killed run resumes by skipping 'done' partitions —
SURVEY.md §7.7.

Resume filter: ``partition_key NOT IN (done)`` — expressed with
``~isin(...)`` over the derived key (null-safe via coalesce to a sentinel).
On a partitioned Iceberg/parquet source this predicate reaches the source as
partition pruning, so skipped partitions are never even read.
"""

from __future__ import annotations

import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ndap_data_validator_spark.functions.sqltext import sql_in, sql_str
from ndap_data_validator_spark.operators.validate import ValidationEngine, ValidationResult
from ndap_data_validator_spark.plans.checkpoint import NULL_PARTITION, CheckpointStore
from ndap_data_validator_spark.rules.model import (
    REASON_INCONSISTENT_TIME,
    ColumnAssignment,
    RuleCatalog,
    assignment_digest,
)


def new_run_id() -> str:
    """RUN-XXXXXXXX, like the reference's run ids (main.py:103-104)."""
    return f"RUN-{uuid.uuid4().hex[:8].upper()}"


@dataclass
class RunOutcome:
    run_id: str
    rule_digest: str
    processed_partitions: list[str]
    skipped_partitions: list[str]
    passed_all: bool  # fold over ALL partitions of this run (main.py:926-936)
    result: ValidationResult | None  # plans for the processed remainder
    # dataset-level expectation report (one row per partition × MetricRule)
    # when metric_rules were given; None otherwise
    expectations: DataFrame | None = None
    # per-(partition, column) drift report vs the DriftRule baseline when
    # drift_rule was given; None otherwise
    drift: DataFrame | None = None
    # expected-partition census (one row per expected-or-observed key)
    # when expected_partitions was given; None otherwise
    completeness: DataFrame | None = None


def partition_key(partition_by: str | Column) -> Column:
    col = F.col(partition_by) if isinstance(partition_by, str) else partition_by
    return F.coalesce(col.cast("string"), F.lit(NULL_PARTITION))


LOAD_MODES = ("new", "full_reload", "delta", "structure_change")


def run_validation(
    spark: SparkSession,
    df: DataFrame,
    assignments: list[ColumnAssignment],
    partition_by: str | Column,
    checkpoint_path: str,
    run_id: str | None = None,
    order_by: list[str] | None = None,
    report_path: str | None = None,
    publish_path: str | None = None,
    catalog: RuleCatalog | None = None,
    schema_name: str | None = None,
    load_mode: str = "new",
    watermark_col: str | None = None,
    compact_max_files: int | None = 256,
    sequence_rule=None,
    check_rules: list | None = None,
    max_violations_per_rule: int | None = None,
    metric_rules: list | None = None,
    metric_now: str | None = None,
    drift_rule=None,
    expected_partitions: list | None = None,
    expected_min_rows: int = 1,
    row_policy: str = "partition",
    quarantine_path: str | None = None,
    preflight: bool = False,
) -> RunOutcome:
    """Checkpointed validation run.

    Every sink is a lazy frame until the end of the call. Then every sink
    path's partition layout is checked, the one verdict collect
    materializes the shared aggregate, the sinks are written concurrently
    (one thread each, under the caller's job group), and only after the
    last write the checkpoint records are committed. A failed or killed
    call therefore leaves every partition it processed re-runnable.

    ``load_mode`` re-expresses the reference's four load modes
    (main.py:180-187, 539-549):
      * ``new``             — resume semantics: skip partitions already done
                              for (run_id, rule_digest).
      * ``full_reload``     — ignore completions; validate everything.
      * ``delta``           — incremental: only rows with ``watermark_col``
                              ABOVE the stored high-watermark are validated.
                              Report/publish rows are keyed by (partition_id,
                              delta_batch) where delta_batch is a DETERMINISTIC
                              hash of the watermark interval's lower bound:
                              prior batches' rows are never touched (the r02
                              ADVICE clobber — a second intra-day batch landing
                              in an already-published partition used to replace
                              the whole partition with just the delta slice),
                              while a RETRY of the same interval gets the same
                              batch key and dynamically overwrites only its own
                              rows — idempotent across crashes. The watermark
                              only advances when EVERY partition of the batch
                              passed; a failed batch keeps the old watermark, so
                              the next delta run re-picks the same rows (plus
                              newer arrivals — same lower bound ⇒ same batch
                              key ⇒ clean replace) and failed rows are never
                              silently skipped.
      * ``structure_change``— full re-validate after a schema change (read
                              the source with mergeSchema; the rule digest
                              already invalidates completions when
                              assignments change).

    ``sequence_rule`` (optional ``rules.model.SequenceRule``) additionally
    writes conversation-order violation rows to
    ``{report_path}/sequence_violations`` under the same dynamic-overwrite
    partition contract. CAVEAT: sequence semantics are per conversation —
    ``partition_by`` should be derived from the rule's key column (as the
    north_rule's per-conversation layout is); partitioning that splits a
    conversation across resume slices would make lag() see a truncated
    history for the boundary turn.

    ``check_rules`` (optional list of ``rules.model.CheckRule``) writes
    row-level CHECK-constraint violations to
    ``{report_path}/check_violations`` — one scan-level projection, no
    shuffle; ``order_by`` columns identify the violating rows. CHECK
    rules are the row-REPORTING (and, under ``row_policy="quarantine"``,
    row-ROUTING) family; they do not by themselves gate the partition
    verdict. To make a CHECK failure fail the partition, withhold publish,
    and freeze the delta watermark, pair it with
    ``MetricRule(name, "compliance", expression="(<expr>) IS NOT FALSE",
    min_bound=1.0)`` — the same expression under CHECK's NULL-passes
    semantics (compliance alone counts NULL as non-compliant), evaluated
    in the expectations aggregate with full severity/digest/anomaly
    wiring. One mechanism for verdicts, one for rows; both compile from
    the same SQL string.

    ``max_violations_per_rule`` caps the per-row violation OUTPUT at the
    first K rows per (partition, column, reason) by the ``order_by`` key —
    the report-sink guard for 10^12-turn runs where one broken rule would
    otherwise write billions of example rows; counts stay exact.

    ``metric_rules`` (optional list of
    ``operators.expectations.MetricRule``) evaluates dataset-level metric
    expectations per partition — each rule's metric is one more aggregate
    in the validator's own ``groupBy(partition).agg`` over the resume
    slice, so the family adds no pass over the input — and folds them
    into the run contract end to end: the report lands at
    ``{report_path}/metric_expectations``; a partition
    whose error-severity expectation fails is withheld from the publish
    gate and freezes the delta watermark (warn-severity rules report
    only); the failed rule names ride ``metrics_json`` for the cross-run
    anomaly history; and the rules enter the run digest, so changing them
    invalidates 'done' partitions exactly like every other rule family.
    ``metric_now`` (ISO-8601 UTC string) is the explicit reference instant
    any ``freshness`` rule measures lag against — required with one, the
    scheduler's batch timestamp in production; it is an EVALUATION input
    like the data itself, so it does not enter the run digest.

    ``expected_partitions`` (optional manifest of partition keys, with
    ``expected_min_rows`` as the volume floor) runs the
    ``operators.completeness.partition_completeness`` census over the FULL
    batch slice: the report lands at ``{report_path}/completeness`` and a
    ``missing`` / ``undersized`` expected partition fails ``passed_all`` —
    the one failure mode no row-level or dataset-level rule can see,
    because the rows never arrived. Like ``metric_now`` it is an
    evaluation input (the manifest changes every scheduled batch), so it
    stays out of the run digest.

    ``drift_rule`` (optional ``operators.drift.DriftRule``) runs the
    KS/PSI distribution-drift check against the rule's baseline snapshot
    PER PARTITION over the same resume slice: each baseline column's
    histogram on the baseline grid is one ``array(count_if(bucket = i))``
    aggregate in the validator's shared ``groupBy(partition).agg``, and
    KS/PSI/JS/W1 are a projection of that row with the baseline as
    literals (the operators/drift.drift_report_partitioned fold; no join,
    no driver collect). The per-(partition, column) report lands at
    ``{report_path}/drift_report``; with ``severity="error"`` a drifted
    partition is withheld from publish and freezes the delta watermark
    (``"warn"`` reports only); the drifted column names ride
    ``metrics_json``; and the baseline digest + thresholds enter the run
    digest, so re-baselining invalidates 'done' partitions.

    ``row_policy`` selects the publish granularity.
      * ``"partition"`` (default) — the reference's contract: a partition
        publishes ONLY when every rule passed; the published object is the
        original rows, unmodified.
      * ``"quarantine"`` — row-granular routing (the dlt-expectations /
        dead-letter pattern; requires ``publish_path``): rows that pass
        every error-severity per-column rule and CHECK rule publish even
        from partitions with failures, while each failing row lands at
        ``quarantine_path`` (default ``{publish_path}_quarantine``)
        carrying a ``row_reasons`` array naming every fired rule — one
        extra scan-level projection (``ValidationEngine.flag_rows``), no
        joins against the violations report. Verdicts that can't be
        pinned on rows keep partition granularity and withhold the whole
        partition from BOTH sinks: a missing mandatory role (the rule set
        never compiled — skips routing for the run), an aggregate-granular
        column failure (time-format consistency: the minority-format rows
        are only identifiable relative to the aggregate majority), an
        error-severity expectation failure, or error-severity drift.
        Withheld rows are neither published nor quarantined; a
        ``full_reload`` run, a new ``run_id``, or a later delta batch
        re-routes them (a same-run_id resume skips partitions already
        checkpointed 'done', as always). ``severity="warn"`` rules report
        but never route (diverting their rows would block the publish
        their contract guarantees); ``tolerance`` moves only the
        partition verdict — a within-tolerance violating row still
        dead-letters, because the tolerance accepts the PARTITION, not
        the row. Sequence-rule violations report but do not route (a
        lag() verdict depends on neighbors; quarantining the turn would
        silently change the neighbors' verdicts on re-run).
        ``passed_all``, reports, and the checkpoint are
        policy-independent. The delta watermark keeps its contract ("a
        failed batch stays re-pickable") re-read under routing: ROUTED
        failures don't freeze it (their rows already landed — re-picking
        them would grow the slice forever on one persistently-bad row);
        only the non-routable withheld failures do. The policy routes
        output rows without changing any verdict, so (like the report
        paths) it stays out of the rule digest.
    """
    if row_policy not in ("partition", "quarantine"):
        raise ValueError("row_policy must be 'partition' or 'quarantine'")
    if quarantine_path is not None and row_policy != "quarantine":
        raise ValueError("quarantine_path requires row_policy='quarantine'")
    if row_policy == "quarantine" and publish_path is None:
        # without a publish path the whole routing block is skipped — fail
        # fast instead of silently writing no dead-letter output anywhere
        raise ValueError("row_policy='quarantine' requires publish_path")
    if preflight:
        # opt-in fail-in-seconds gate (rules/preflight.py): analysis-check
        # every rule family against the input schema on a zero-row frame —
        # no job — and refuse the run with the COMPLETE fix list instead
        # of dying mid-cluster on the first unresolved expression (or
        # silently ignoring an assignment that names an absent column)
        from ndap_data_validator_spark.rules.preflight import preflight_rules

        pf_errors = preflight_rules(
            spark,
            df,
            assignments=assignments,
            check_rules=check_rules,
            metric_rules=metric_rules,
            sequence_rule=sequence_rule,
            catalog=catalog,
            schema_name=schema_name,
        )
        if pf_errors:
            raise ValueError(
                "rule pre-flight failed:\n"
                + "\n".join(str(e) for e in pf_errors)
            )
    if load_mode not in LOAD_MODES:
        raise ValueError(f"load_mode must be one of {LOAD_MODES}")
    engine = ValidationEngine(catalog=catalog, schema_name=schema_name)
    run_id = run_id or new_run_id()
    digest = assignment_digest(assignments, engine.catalog, engine.schema_name)
    # compose in the run's sequence/CHECK rules (identity when absent):
    # changing ANY rule family must invalidate 'done' partitions, or a
    # resume would mix rule versions within one report
    from ndap_data_validator_spark.rules.model import run_rule_digest

    digest = run_rule_digest(
        digest, sequence_rule, check_rules, metric_rules, drift_rule
    )
    store = CheckpointStore(spark, checkpoint_path)

    key = partition_key(partition_by)

    delta_batch: str | None = None
    if load_mode == "delta":
        if watermark_col is None:
            raise ValueError("delta load_mode requires watermark_col")
        last_wm = store.last_watermark(watermark_col)
        if last_wm is not None:
            wm_type = dict(df.dtypes)[watermark_col]
            df = df.where(F.col(watermark_col) > F.lit(last_wm).cast(wm_type))
        # batch identity = the interval's LOWER bound: a retry of the same
        # interval (watermark unchanged after a failure) reuses the key and
        # replaces only its own output rows; an advanced watermark mints a
        # new key, so prior batches' published rows are never overwritten
        import hashlib as _hashlib

        delta_batch = "b" + _hashlib.md5(
            str(last_wm).encode("utf-8")
        ).hexdigest()[:12]

    # This run's earlier 'done' records under the same digest, read ONCE:
    # they are the resume set, and their verdicts open the passed_all fold
    # at the end (full_reload re-validates everything, but its run verdict
    # still folds over every record of the run, main.py:926-936).
    prior = (
        store.run_log(run_id)
        .where(f"rule_digest = {sql_str(digest)} AND status = 'done'")
        .selectExpr(
            "partition_id",
            "get_json_object(metrics_json, '$.passed') = 'true' AS passed",
        )
        .collect()
    )
    if load_mode in ("full_reload", "structure_change"):
        done: set[str] = set()
    else:
        done = {r["partition_id"] for r in prior}

    remaining = df.where(~key.isin(sorted(done))) if done else df

    # ONE per-partition aggregate over the resume slice carries every
    # dataset-granular verdict: the validator's column slots, each
    # MetricRule's value, and one histogram per DriftRule baseline column.
    # It is persisted once (ValidationResult.cached_aggregate); the report
    # rows, the checkpoint metrics, the publish gate and the watermark fold
    # are all projections of that cached row. Every expression below is
    # SQL text (one parse per output column; see operators/validate.py).
    shared_aggs: list[str] = []
    shared_cols: list[str] = []
    if metric_rules:
        from ndap_data_validator_spark.operators.expectations import (
            _metric_aggs,
            _metric_rows,
            _rule_lists,
        )

        shared_aggs += _metric_aggs(metric_rules, now=metric_now)
        shared_cols.append(f"{_metric_rows(metric_rules)} AS __exp")
    if drift_rule is not None:
        from ndap_data_validator_spark.operators.drift import (
            _drift_aggs,
            _drift_rows,
        )

        shared_aggs += _drift_aggs(drift_rule.baseline)
        shared_cols.append(
            _drift_rows(
                drift_rule.baseline,
                drift_rule.ks_threshold,
                drift_rule.psi_threshold,
            )
            + " AS __drift"
        )
    result = engine._validate(
        remaining,
        assignments,
        partition_by=key,
        order_by=order_by,
        cache_aggregates=True,
        max_violations_per_rule=max_violations_per_rule,
        extra_aggs=shared_aggs,
        extra_cols=shared_cols,
    )
    shared = result.cached_aggregate

    # Per-partition verdicts of the folded-in families. An error-severity
    # expectation failure or error-severity drift is a DATA failure: it
    # withholds the partition from publish and freezes the delta watermark.
    exp_report = drift_rep = None
    exp_ok = drift_ok = "true"
    extra_fields: list[tuple[str, str]] = []  # (metrics_json key, SQL)
    if metric_rules:
        exp_report = shared.selectExpr("partition_id", "inline(__exp)")
        failed_rules, warned_rules = _rule_lists("__exp")
        exp_ok = f"size({failed_rules}) = 0"
        # the rule names ride metrics_json for the cross-run anomaly
        # history (plans/anomaly.py reads these paths)
        extra_fields += [
            ("expectation_failed_rules", failed_rules),
            ("expectation_warned_rules", warned_rules),
        ]
    if drift_rule is not None:
        drift_rep = shared.selectExpr("partition_id", "inline(__drift)")
        # sorted: __drift lists columns in sorted baseline order. A
        # partition where every baseline column is NULL has no rows and
        # an empty list, so it passes.
        drifted = "transform(filter(__drift, d -> d.drifted), d -> d.column)"
        if drift_rule.severity == "error":
            drift_ok = f"size({drifted}) = 0"
        extra_fields.append(("drifted_columns", drifted))

    # Expected-partition completeness census (operators/completeness.py)
    # over the FULL batch slice, NOT the resume remainder — whether a
    # partition arrived is a property of the table, and a resumed run must
    # not re-report completed partitions as missing. One extra shared scan
    # (map-side-combined groupBy on the key) only when the manifest is
    # given; the census frame is |manifest|-sized and persisted because it
    # feeds two actions (report write + run-verdict fold).
    comp_report = None
    if expected_partitions:
        from ndap_data_validator_spark.operators.completeness import (
            partition_completeness,
        )

        comp_report = (
            partition_completeness(
                df.withColumn("__part_id", key),
                "__part_id",
                expected_partitions,
                min_rows=expected_min_rows,
            )
            .withColumnRenamed("key", "partition_id")
            .persist()
        )

    # In delta mode every output dir gains a delta_batch partition level:
    # incremental batches ACCUMULATE (append semantics) while any retry of
    # the same batch still gets overwrite-grade idempotency.
    part_cols = (
        ["partition_id"] if delta_batch is None else ["partition_id", "delta_batch"]
    )

    # resolved once per call, not per sink write: each JVM lookup is a
    # Py4J round trip
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    hconf = spark._jsc.hadoopConfiguration()

    def _assert_layout_depth(path: str) -> None:
        # Delta mode writes an extra delta_batch partition level; Spark
        # rejects a directory holding BOTH depths as conflicting partition
        # structures — but only at READ time, after the second write already
        # corrupted the layout. Fail fast BEFORE writing when the existing
        # directory's depth doesn't match this run's mode, so a pipeline
        # that flips modes on the same report/publish path gets an
        # actionable error instead of an unreadable directory.
        pattern = HPath(path.rstrip("/") + "/partition_id=*/*")
        # globStatus returns null (None) when the directory does not exist
        for st in pattern.getFileSystem(hconf).globStatus(pattern) or []:
            name = st.getPath().getName()
            if name.startswith(".") or name.startswith("_"):
                continue  # checksum/_SUCCESS metadata, not layout evidence
            existing_delta = st.isDirectory() and name.startswith("delta_batch=")
            want_delta = delta_batch is not None
            if existing_delta != want_delta:
                raise ValueError(
                    f"partition layout mismatch at {path}: existing data was "
                    f"written {'with' if existing_delta else 'without'} a "
                    f"delta_batch level but this run ({load_mode=}) writes "
                    f"{'with' if want_delta else 'without'} it — Spark cannot "
                    "read mixed depths. Use a fresh output path when "
                    "switching between delta and non-delta load modes."
                )
            return  # one partition dir is representative; all share a depth

    def _write_partitioned(sink: str, frame: DataFrame, path: str) -> None:
        # Runs on a sink-writer thread (see below); the label names this
        # sink's jobs in the status store and leaves the job group alone.
        spark.sparkContext.setLocalProperty(
            "spark.job.description", f"run_validation {run_id}: {sink}"
        )
        # Dynamic partition overwrite → re-validating a partition replaces
        # its rows; a re-run after crash is idempotent. The mode is pinned on
        # the WRITER (not session config) so the contract holds even with a
        # caller-supplied vanilla SparkSession — static overwrite would wipe
        # already-done partitions' reports on resume.
        if delta_batch is not None:
            frame = frame.withColumn("delta_batch", F.lit(delta_batch))
        (
            frame.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .parquet(path)
        )

    # Every sink is built here as a lazy frame, (name, frame, path), and
    # written below, after the verdict collect. Report sinks are written
    # whether or not any partition was processed; publish (and quarantine)
    # only when one was.
    reports: list[tuple[str, DataFrame | None]] = []
    if report_path is not None:
        reports += [
            ("per_column", result.per_column_report),
            ("violations", result.violations),
        ]
        if sequence_rule is not None:
            # conversation-order rules (rules.model.SequenceRule): one
            # window shuffle on the conversation key over the SAME resume
            # slice; violation rows land next to the per-row violations
            # with identical partition/overwrite semantics, so resume and
            # delta retries replace only their own rows here too
            from ndap_data_validator_spark.operators.convchecks import (
                check_sequence_rule,
            )

            seq_v = check_sequence_rule(
                remaining.withColumn("__part_id", key),
                sequence_rule,
                carry_cols=("__part_id",),
            ).withColumnRenamed("__part_id", "partition_id")
            reports.append(("sequence_violations", seq_v))
        if check_rules:
            # row-level CHECK constraints (rules.model.CheckRule): pure
            # scan-level projection over the SAME resume slice — no
            # shuffle; rows land with the identical partition/overwrite
            # semantics so resume and delta retries replace only their own
            from ndap_data_validator_spark.operators.checks import (
                check_violations,
            )

            key_cols = order_by or []
            chk_v = check_violations(
                remaining.withColumn("__part_id", key),
                check_rules,
                key_cols=key_cols,
                carry_cols=("__part_id",),
            ).withColumnRenamed("__part_id", "partition_id")
            reports.append(("check_violations", chk_v))
        # dataset-level expectation verdicts (one row per (partition, rule)
        # with value/bounds/passed), the expected-partition census (one row
        # per expected-or-observed key) and the per-(partition, column)
        # KS/PSI/JS/W1 drift rows — same overwrite contract
        reports += [
            ("metric_expectations", exp_report),
            ("completeness", comp_report),
            ("drift_report", drift_rep),
        ]
    sinks = [
        (name, frame, f"{report_path}/{name}")
        for name, frame in reports
        if frame is not None
    ]

    # Partitions failing an AGGREGATE-granular column verdict — today only
    # the time-format-consistency rule, whose minority-format rows no
    # row-local predicate can identify (the majority format is an aggregate
    # property) — cannot be row-routed; under the quarantine policy they
    # stay withheld wholesale, exactly like the default policy. Warn
    # severity keeps its contract: a warn column's reasons never withhold.
    routed = row_policy == "quarantine" and not result.missing_roles
    if routed:
        err_cols = [a.column for a in assignments if a.severity != "warn"]
        agg_only_fail = (
            f"exists(__cols, c -> {sql_in('c.column', err_cols)} AND "
            f"array_contains(c.reasons, {sql_str(REASON_INCONSISTENT_TIME)}))"
        )

    publish: list[tuple[str, DataFrame, str]] = []
    if publish_path is not None:
        # "validation gates publishing; the published object is the ORIGINAL
        # bytes, not the coerced frame" (main.py:1206-1249, 1396, 1414-1415):
        # passed partitions' source rows are appended unmodified, keyed by
        # partition_id (dynamic overwrite → idempotent on resume). The gate
        # is a semi-join against the (tiny, AQE-broadcast) cached verdict
        # row — no driver-side partition list. Under row-granular routing
        # only aggregate-granular column failures withhold their partition
        # (see agg_only_fail above); everything else routes row by row.
        column_ok = f"NOT ({agg_only_fail})" if routed else "passed"
        passed_parts = shared.where(
            f"({column_ok}) AND ({exp_ok}) AND ({drift_ok})"
        ).select("partition_id")
        # Quarantine with missing mandatory roles (a run-level CONFIG
        # verdict: the rule set never compiled, so row verdicts would be
        # vacuous) writes neither sink rather than two guaranteed empty.
        if routed:
            # one scan-level projection computes every row's verdict; the
            # dataset-granular gate (passed_parts) then bounds BOTH sinks.
            # Two filtered writes of the same flagged plan — each a clean
            # scan→filter→write with no cached corpus in between.
            flagged = engine.flag_rows(
                remaining, assignments, check_rules=check_rules
            ).withColumn("partition_id", key)
            gated = flagged.join(passed_parts, "partition_id", "left_semi")
            publish = [
                (
                    "publish",
                    gated.where("row_passed").drop("row_reasons", "row_passed"),
                    publish_path,
                ),
                (
                    "quarantine",
                    gated.where("NOT row_passed").drop("row_passed"),
                    quarantine_path
                    or (publish_path.rstrip("/") + "_quarantine"),
                ),
            ]
        elif row_policy == "partition":
            publish = [
                (
                    "publish",
                    remaining.withColumn("partition_id", key).join(
                        passed_parts, "partition_id", "left_semi"
                    ),
                    publish_path,
                )
            ]

    # Every sink's layout is checked before the first job of the run's
    # outputs, so a mismatched path (publish included) leaves no report
    # rows and no checkpoint records behind.
    for _, _, path in sinks + publish:
        _assert_layout_depth(path)

    # The only collect of the run's results: the partition ids (one short
    # string per partition), each partition's recorded verdict for the
    # passed_all fold, and whether its DATA failed, which the delta
    # watermark fold below needs. The gate is failed_count (per-column data
    # failures), NOT summary.passed: a missing mandatory ROLE is a
    # catalog-configuration condition identical on every retry — freezing
    # the watermark on it would wedge delta mode forever while the publish
    # gate already withholds those rows. Under the quarantine policy,
    # row-attributable failures were ROUTED (published clean +
    # dead-lettered bad) — freezing on them would re-pick rows already
    # safely landed, growing the batch slice forever on one persistently
    # bad row — so only the non-routable aggregate-granular failures
    # (withheld wholesale, genuinely re-pickable) freeze it. It runs
    # before any sink write, so it alone materializes the persisted
    # aggregate: concurrent first reads of a persisted frame each compute
    # it.
    data_failed = agg_only_fail if routed else "failed_count > 0"
    passed = f"passed AND ({exp_ok}) AND ({drift_ok})"
    verdicts = shared.selectExpr(
        "partition_id",
        f"{passed} AS passed",
        f"({data_failed}) OR NOT ({exp_ok}) OR NOT ({drift_ok}) AS frozen",
    ).collect()
    processed = sorted(r["partition_id"] for r in verdicts)
    if processed:
        sinks += publish

    # The sinks are independent, so they are written concurrently: one
    # thread per write, each carrying the caller's local properties (job
    # group, scheduler pool) and tags. The driver time each write spends
    # planning and committing its jobs overlaps with the other writes
    # instead of adding up. Every write finishes before the first failure,
    # in sink order, is re-raised.
    with ThreadPoolExecutor(max_workers=max(len(sinks), 1)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(_write_partitioned), *s)
            for s in sinks
        ]
    for fut in futures:
        fut.result()

    # Checkpoint metrics are assembled DISTRIBUTED from the cached row:
    # per-column stats fold to a map, and to_json builds the record — no
    # per-column collect() in the run path. A partition's recorded verdict
    # folds in its error-severity expectation and drift failures. The
    # records are committed only after every sink landed: a failed or
    # killed call leaves each of its partitions re-runnable, never 'done'
    # with a missing publish.
    if processed:
        columns = (
            "map_from_entries(transform(__cols, c -> named_struct("
            "'column', c.column, 'stats', named_struct('nulls', c.nulls, "
            "'conversion_errors', c.conversion_errors, 'passed', c.passed))))"
        )
        json_fields = [
            ("rows", "rows"),
            ("failed_count", "failed_count"),
            ("failed_columns", "failed_columns"),
            ("passed", passed),
            *extra_fields,
            ("columns", columns),
        ]
        record = ", ".join(f"{sql_str(k)}, {e}" for k, e in json_fields)
        metrics_frame = shared.selectExpr(
            f"{sql_str(run_id)} AS run_id",
            "partition_id",
            f"{sql_str(digest)} AS rule_digest",
            "'done' AS status",
            f"to_json(named_struct({record})) AS metrics_json",
        )
        store.mark_done_frame(metrics_frame)

    if load_mode == "delta" and watermark_col is not None:
        # Advance the watermark ONLY when no partition of this batch had
        # DATA failures (r02 ADVICE: unconditional advance permanently
        # skipped failed-and-unpublished rows). A failed batch keeps the old
        # watermark: the next delta run re-picks the same rows under the
        # SAME batch key, so the retry replaces this batch's partial output
        # instead of duplicating it. The max is computed over the full
        # batch slice (`df` after the watermark filter), not the resume
        # remainder.
        if not any(r["frozen"] for r in verdicts):
            wm = df.agg(F.max(F.col(watermark_col)).cast("string")).first()[0]
            if wm is not None:
                store.record_watermark(watermark_col, wm)

    # The shared aggregate has fed its last action by here — release the
    # cached blocks so a long-lived driver looping run_validation once per
    # batch doesn't accumulate dead per-run caches in executor storage
    # memory. RunOutcome.result / .expectations / .drift stay usable —
    # later actions recompute the tiny aggregate instead of reading a
    # stranded cache.
    result.release()

    # passed_all folds over every record of this run — the previously-done
    # partitions plus the ones just committed; a record without a verdict
    # is skipped, as SQL min() skips NULL.
    flags = [r["passed"] for r in prior + verdicts if r["passed"] is not None]
    passed_all = bool(prior or verdicts) and bool(flags) and all(flags)

    if comp_report is not None:
        # a partition that never arrived (or arrived under-sized) fails the
        # RUN verdict even though no row-level rule could see it — there is
        # nothing to withhold from publish, so the verdict is the only
        # lever. 'unexpected' keys are reported but don't fail here: their
        # rows went through validation like any other partition's.
        incomplete = (
            comp_report.where(
                F.col("status").isin("missing", "undersized")
            ).count()
            > 0
        )
        passed_all = passed_all and not incomplete
        comp_report.unpersist()

    # keep the store's file count O(1) across 10^4 runs (each run appends
    # ~2 small files); single-writer at end-of-run, so the non-atomic swap
    # window documented on compact() cannot race a concurrent committer
    if compact_max_files is not None:
        store.maybe_compact(compact_max_files)

    return RunOutcome(
        run_id=run_id,
        rule_digest=digest,
        processed_partitions=processed,
        skipped_partitions=sorted(done),
        passed_all=passed_all,
        result=result,
        expectations=exp_report,
        drift=drift_rep,
        completeness=comp_report,
    )


def salt_repartition(
    df: DataFrame,
    key: str,
    num_partitions: int,
    salt_buckets: int = 8,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Two-phase skew mitigation for heavy groupBy keys (SURVEY.md §4.1):
    spread one hot key (e.g. the skewed conv_id) over ``salt_buckets``
    shuffle partitions. Aggregations over (key, salt) then re-aggregate by
    key — callers compose this; for the validation aggregates AQE's
    skew handling usually suffices, so this is opt-in.

    The salt is derived from STABLE row content (``salt_cols``, defaulting to
    every column), never from ``monotonically_increasing_id`` — a task retry
    recomputes the same salt for the same row, so a failed stage cannot
    re-partition rows differently mid-job."""
    cols = salt_cols if salt_cols is not None else list(df.columns)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(salt_buckets))
    return df.repartition(num_partitions, F.col(key), salt)
