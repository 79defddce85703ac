"""Dataset-level metric expectations (operators/expectations.py) vs an
independent DuckDB oracle, plus verdict/summary semantics and the
single-aggregate plan shape."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from ndap_data_validator_spark.operators.expectations import (
    MetricRule,
    expectations_summary,
    metric_expectations,
)


def _pdf() -> pd.DataFrame:
    rows = []
    for i in range(400):
        rows.append(
            {
                "part": f"p{i % 4}",
                "conv_id": f"conv-{i:05d}",
                "amount": float(i % 50),
                "role": ["user", "assistant"][i % 2],
                "text": None if i % 40 == 0 else f"turn {i}",
            }
        )
    return pd.DataFrame(rows)


RULES = [
    MetricRule("rows_ok", "row_count", min_bound=100, max_bound=10_000),
    MetricRule("text_nulls", "null_fraction", column="text", max_bound=0.05),
    MetricRule("amount_mean", "mean", column="amount", min_bound=20, max_bound=30),
    MetricRule("amount_min", "min", column="amount", min_bound=0),
    MetricRule("amount_max", "max", column="amount", max_bound=49),
    MetricRule("amount_sum", "sum", column="amount", min_bound=1),
    MetricRule(
        "conv_unique", "distinct_ratio", column="conv_id", min_bound=0.999
    ),
    MetricRule(
        "roles_valid",
        "compliance",
        expression="role IN ('user', 'assistant', 'tool')",
        min_bound=1.0,
    ),
    # deliberately failing: mean(amount) ≈ 24.5 is NOT ≤ 10
    MetricRule("too_strict", "mean", column="amount", max_bound=10),
]


def test_values_match_duckdb_oracle(spark):
    pdf = _pdf()
    rep = (
        metric_expectations(
            spark.createDataFrame(pdf), RULES, approx_distinct=False
        )
        .toPandas()
        .set_index("rule")
    )
    con = duckdb.connect()
    con.register("t", pdf)
    exp = con.execute(
        """
        SELECT COUNT(*)::DOUBLE AS rows_ok,
               AVG(CASE WHEN text IS NULL THEN 1.0 ELSE 0.0 END) AS text_nulls,
               AVG(amount) AS amount_mean,
               MIN(amount) AS amount_min,
               MAX(amount) AS amount_max,
               SUM(amount) AS amount_sum,
               COUNT(DISTINCT conv_id)::DOUBLE / COUNT(*) AS conv_unique,
               AVG(CASE WHEN COALESCE(role IN ('user','assistant','tool'),
                                      FALSE) THEN 1.0 ELSE 0.0 END)
                   AS roles_valid
        FROM t
        """
    ).fetchdf().iloc[0]
    for rule in exp.index:
        assert rep.loc[rule, "value"] == pytest.approx(exp[rule], rel=1e-12), rule


def test_verdicts_and_summary(spark):
    rep = metric_expectations(
        spark.createDataFrame(_pdf()), RULES, approx_distinct=False
    )
    by_rule = {r["rule"]: r.asDict() for r in rep.collect()}
    assert all(
        by_rule[n]["passed"] for n in by_rule if n != "too_strict"
    ), by_rule
    assert by_rule["too_strict"]["passed"] is False

    summ = expectations_summary(rep).collect()[0]
    assert summ["failed_rules"] == ["too_strict"]
    assert summ["passed"] is False
    assert summ["warned_rules"] == []


def test_warn_severity_never_fails_partition(spark):
    rules = [
        MetricRule("rows_ok", "row_count", min_bound=1),
        MetricRule(
            "too_strict", "mean", column="amount", max_bound=10, severity="warn"
        ),
    ]
    rep = metric_expectations(spark.createDataFrame(_pdf()), rules)
    summ = expectations_summary(rep).collect()[0]
    assert summ["failed_rules"] == []
    assert summ["warned_rules"] == ["too_strict"]
    assert summ["passed"] is True


def test_partitioned_report_one_row_per_partition_rule(spark):
    pdf = _pdf()
    rep = metric_expectations(
        spark.createDataFrame(pdf), RULES, partition_by="part",
        approx_distinct=False,
    )
    out = rep.toPandas()
    assert len(out) == 4 * len(RULES)
    # spot-check one partition's row_count against pandas
    p0 = out[(out["partition_id"] == "p0") & (out["rule"] == "rows_ok")]
    assert p0["value"].iloc[0] == float((pdf["part"] == "p0").sum())
    # every partition has amount_mean ≈ the stratified mean
    for p in ("p0", "p1", "p2", "p3"):
        got = out[(out["partition_id"] == p) & (out["rule"] == "amount_mean")][
            "value"
        ].iloc[0]
        assert got == pytest.approx(pdf[pdf["part"] == p]["amount"].mean())


def test_quantile_and_distinct_metrics(spark):
    rules = [
        MetricRule("p50", "quantile", column="amount", q=0.5, min_bound=20,
                   max_bound=30),
        MetricRule("n_conv", "distinct", column="conv_id", min_bound=400,
                   max_bound=400),
        MetricRule("amount_sd", "stddev", column="amount", min_bound=1),
    ]
    rep = metric_expectations(
        spark.createDataFrame(_pdf()), rules, approx_distinct=False
    )
    by_rule = {r["rule"]: r.asDict() for r in rep.collect()}
    assert all(r["passed"] for r in by_rule.values()), by_rule
    assert by_rule["n_conv"]["value"] == 400.0


def test_null_value_fails_rule(spark):
    # all-NULL column → mean is NULL → rule fails (never silently passes)
    pdf = pd.DataFrame({"x": [None, None, None]}, dtype="float64")
    rep = metric_expectations(
        spark.createDataFrame(pdf),
        [MetricRule("x_mean", "mean", column="x", min_bound=0)],
    ).collect()[0]
    assert rep["value"] is None
    assert rep["passed"] is False


def test_single_aggregate_plan(spark):
    """The whole rule set must plan as ONE HashAggregate pair over one scan
    — no joins, no extra exchanges beyond the group-by."""
    rules = [r for r in RULES if r.metric != "quantile"]
    rep = metric_expectations(
        spark.createDataFrame(_pdf()), rules, approx_distinct=True
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan
    # one shuffle: the partition-key exchange (AQE may tag it)
    assert plan.count("Exchange") <= 2, plan


def test_run_validation_integration(spark, tmp_path):
    """metric_rules through the checkpointed pipeline: report written,
    publish gate withholds the failing partition, metrics_json carries the
    failed rule names, and the digest changes with the rule set."""
    import json

    from ndap_data_validator_spark.plans.checkpoint import CheckpointStore
    from ndap_data_validator_spark.plans.pipeline import run_validation
    from ndap_data_validator_spark.rules.model import ColumnAssignment

    # p0: 400 rows; p1: 3 rows → a row_count >= 10 expectation fails p1 only
    pdf = _pdf().assign(part="p0", fy="2021")
    small = pdf.iloc[:3].assign(part="p1")
    sdf = spark.createDataFrame(pd.concat([pdf, small], ignore_index=True))
    # all mandatory roles assigned so the column-rule verdict passes and
    # the publish gate is decided by the expectations alone
    assigns = [
        ColumnAssignment("conv_id", "Location"),
        ColumnAssignment("fy", "Time"),
        ColumnAssignment("amount", "Measures", "float"),
    ]
    rules = [
        MetricRule("enough_rows", "row_count", min_bound=10),
        MetricRule(
            "amount_hint", "mean", column="amount", max_bound=0.001,
            severity="warn",  # fails everywhere but must not gate anything
        ),
    ]

    out = run_validation(
        spark, sdf, assigns, partition_by="part",
        checkpoint_path=str(tmp_path / "ckpt"),
        order_by=["conv_id"],
        report_path=str(tmp_path / "rep"),
        publish_path=str(tmp_path / "pub"),
        metric_rules=rules,
    )
    assert out.passed_all is False  # p1 failed its expectation
    assert sorted(out.processed_partitions) == ["p0", "p1"]

    rep = spark.read.parquet(str(tmp_path / "rep" / "metric_expectations"))
    got = {
        (r["partition_id"], r["rule"]): r["passed"] for r in rep.collect()
    }
    assert got[("p0", "enough_rows")] is True
    assert got[("p1", "enough_rows")] is False
    assert got[("p0", "amount_hint")] is False  # warn rule: reported...

    pub = spark.read.parquet(str(tmp_path / "pub"))
    pubs = {r["partition_id"] for r in pub.select("partition_id").collect()}
    assert pubs == {"p0"}  # ...but only the error rule gates publish

    log = CheckpointStore(spark, str(tmp_path / "ckpt")).run_log(out.run_id)
    metrics = {
        r["partition_id"]: json.loads(r["metrics_json"]) for r in log.collect()
    }
    assert metrics["p1"]["expectation_failed_rules"] == ["enough_rows"]
    assert metrics["p1"]["passed"] is False
    assert metrics["p0"]["expectation_failed_rules"] == []
    assert metrics["p0"]["expectation_warned_rules"] == ["amount_hint"]
    assert metrics["p0"]["passed"] is True

    # digest: metric rules are part of the run identity; no rules = legacy
    out_none = run_validation(
        spark, sdf, assigns, partition_by="part",
        checkpoint_path=str(tmp_path / "ckpt2"),
    )
    assert out_none.rule_digest != out.rule_digest
    assert out_none.expectations is None


def test_run_validation_expectations_freeze_delta_watermark(spark, tmp_path):
    """A failing error-severity expectation must keep the delta watermark
    where it was, so the next delta run re-picks the same rows — and the
    report run_validation writes from its shared aggregate equals the
    standalone operator on the same slice."""
    from ndap_data_validator_spark.plans.checkpoint import CheckpointStore
    from ndap_data_validator_spark.plans.pipeline import run_validation
    from ndap_data_validator_spark.rules.model import ColumnAssignment

    pdf = _pdf().assign(part="p0", wm=range(400))
    sdf = spark.createDataFrame(pdf)
    assigns = [ColumnAssignment("conv_id", "Location")]
    ck = str(tmp_path / "ckpt")

    bad = RULES + [MetricRule("impossible", "row_count", max_bound=1)]
    run_validation(
        spark, sdf, assigns, partition_by="part", checkpoint_path=ck,
        load_mode="delta", watermark_col="wm", metric_rules=bad,
        report_path=str(tmp_path / "rep"),
    )
    assert CheckpointStore(spark, ck).last_watermark("wm") is None
    got = {
        r["rule"]: r
        for r in spark.read.parquet(str(tmp_path / "rep" / "metric_expectations"))
        .drop("delta_batch")
        .collect()
    }
    want = {
        r["rule"]: r
        for r in metric_expectations(sdf, bad, partition_by="part").collect()
    }
    assert set(got) == set(want)
    for name, w in want.items():
        g = got[name]
        assert (g["partition_id"], g["passed"], g["severity"]) == (
            w["partition_id"], w["passed"], w["severity"],
        ), name
        assert g["value"] == pytest.approx(w["value"], abs=1e-9), name
    assert got["impossible"]["passed"] is False

    ok = [MetricRule("rows", "row_count", min_bound=1)]
    run_validation(
        spark, sdf, assigns, partition_by="part", checkpoint_path=ck,
        load_mode="delta", watermark_col="wm", metric_rules=ok,
    )
    assert CheckpointStore(spark, ck).last_watermark("wm") == "399"


def test_suggest_metric_rules_baseline_roundtrip(spark):
    """Constraint suggestion: a healthy baseline's suggested suite passes
    on the baseline itself and on a same-distribution batch, and the right
    rules trip on corrupted batches."""
    from ndap_data_validator_spark.rules.inference import (
        profile_columns,
        suggest_metric_rules,
    )

    pdf = _pdf()
    base = spark.createDataFrame(pdf)
    rules = suggest_metric_rules(profile_columns(base))
    by_name = {r.name: r for r in rules}

    # the expected families were suggested
    assert "rows__row_count" in by_name
    assert "amount__mean" in by_name and "amount__min" in by_name
    assert "role__domain" in by_name  # 2-value domain → compliance rule
    assert "conv_id__distinct_ratio" in by_name  # key-like column
    assert by_name["text__null_fraction"].max_bound == pytest.approx(
        0.025 * 1.5
    )
    assert all(r.severity == "warn" for r in rules)  # draft suite

    # self-check: the baseline passes its own suite (exact distinct so the
    # HLL-derived key-ratio rule can't flake)
    rep = metric_expectations(base, rules, approx_distinct=False)
    failed = [r["rule"] for r in rep.collect() if not r["passed"]]
    assert failed == [], failed

    # corrupted batches trip the right rules
    half = spark.createDataFrame(pdf.iloc[: len(pdf) // 4])
    rep = metric_expectations(half, rules, approx_distinct=False)
    bad = {r["rule"] for r in rep.collect() if not r["passed"]}
    assert "rows__row_count" in bad

    shifted = spark.createDataFrame(pdf.assign(amount=pdf["amount"] + 1000))
    rep = metric_expectations(shifted, rules, approx_distinct=False)
    bad = {r["rule"] for r in rep.collect() if not r["passed"]}
    assert {"amount__mean", "amount__max"} <= bad

    new_role = spark.createDataFrame(pdf.assign(role="operator"))
    rep = metric_expectations(new_role, rules, approx_distinct=False)
    bad = {r["rule"] for r in rep.collect() if not r["passed"]}
    assert "role__domain" in bad


def test_suggest_metric_rules_quoting_and_floors():
    from ndap_data_validator_spark.rules.inference import suggest_metric_rules

    prof = [
        {
            "column": "weird",
            "dtype": "string",
            "n": 100,
            "nulls": 0,
            "null_frac": 0.0,
            "n_distinct_approx": 2,
            "min": None,
            "max": None,
            "mean": None,
            "stddev": None,
            "regex_fracs": {},
            "domain": ["it's", "b"],
        }
    ]
    rules = suggest_metric_rules(prof, severity="error")
    by_name = {r.name: r for r in rules}
    # zero observed nulls → the floor, never a promised zero
    assert by_name["weird__null_fraction"].max_bound == 0.001
    # embedded quote is SQL-escaped
    assert "'it''s'" in by_name["weird__domain"].expression
    assert all(r.severity == "error" for r in rules)
    assert suggest_metric_rules([]) == []


def test_rule_validation():
    with pytest.raises(ValueError):
        MetricRule("a", "mean", column="x")  # no bounds
    with pytest.raises(ValueError):
        MetricRule("a", "mean", min_bound=0)  # column metric, no column
    with pytest.raises(ValueError):
        MetricRule("a", "compliance", min_bound=1)  # no expression
    with pytest.raises(ValueError):
        MetricRule("a", "quantile", column="x", min_bound=0)  # no q
    with pytest.raises(ValueError):
        MetricRule("a", "nope", column="x", min_bound=0)
    with pytest.raises(ValueError):
        MetricRule("a", "mean", column="x", min_bound=5, max_bound=1)
    with pytest.raises(ValueError):
        metric_expectations(None, [])


def test_suite_json_roundtrip_and_digest_stability(spark):
    """suggest → persist → reload must be lossless: the reloaded suite
    compares equal rule-for-rule and produces the identical run digest,
    so a resumed run driven from the JSON file skips nothing."""
    from ndap_data_validator_spark.operators.expectations import (
        suite_from_json,
        suite_to_json,
    )
    from ndap_data_validator_spark.rules.inference import (
        profile_columns,
        suggest_metric_rules,
    )
    from ndap_data_validator_spark.rules.model import run_rule_digest
    from ndap_data_validator_spark.sources.datagen import transcripts

    base = transcripts(spark, 2_000, 64, seed=42, inject_violations=False)
    rules = suggest_metric_rules(profile_columns(base, ["turn_idx", "role"]))
    assert rules
    text = suite_to_json(rules)
    back = suite_from_json(text)
    assert back == rules
    # byte-determinism: same suite → same JSON → same digest
    assert suite_to_json(back) == text
    assert run_rule_digest("seed", None, None, back) == run_rule_digest(
        "seed", None, None, rules
    )


def test_suite_from_json_rejects_corrupt_suites():
    import pytest

    from ndap_data_validator_spark.operators.expectations import (
        MetricRule,
        suite_from_json,
        suite_to_json,
    )

    with pytest.raises(ValueError):
        suite_from_json('{"not": "a list"}')
    # a tampered rule re-enters dataclass validation on load
    bad = suite_to_json(
        [MetricRule("r", "row_count", min_bound=1.0)]
    ).replace("row_count", "rowcount")
    with pytest.raises(ValueError):
        suite_from_json(bad)
    # unknown keys (schema drift in the file itself) fail fast too
    with pytest.raises(TypeError):
        suite_from_json('[{"name": "x", "metric": "row_count", "min_bound": 1, "extra": 2}]')


def test_nan_metric_value_fails_any_bound(spark):
    """A NaN metric must FAIL regardless of bound direction: Spark orders
    NaN above every double, so without the explicit isnan guard a NaN
    mean satisfies `value >= min_bound` while failing the same rule
    written as a max_bound."""
    pdf = pd.DataFrame({"x": [float("nan"), float("nan"), float("nan")]})
    rules = [
        MetricRule("min_only", "mean", column="x", min_bound=0),
        MetricRule("max_only", "mean", column="x", max_bound=100),
        MetricRule("stddev_min", "stddev", column="x", min_bound=-1),
    ]
    rep = {
        r["rule"]: r
        for r in metric_expectations(spark.createDataFrame(pdf), rules).collect()
    }
    for name in ("min_only", "max_only", "stddev_min"):
        assert rep[name]["passed"] is False, name
    # the summary counts them as failures, not passes
    summ = expectations_summary(
        metric_expectations(spark.createDataFrame(pdf), rules)
    ).collect()[0]
    assert summ["failed_count"] == 3 and summ["passed"] is False


def test_suggest_domain_rule_backslash_survives_spark_grammar(spark):
    """Domain values containing backslashes must be escaped for Spark's
    string-literal grammar: 'C:\\temp' used to compile to a TAB inside the
    IN-list, and a trailing backslash swallowed the closing quote
    (ParseException on every batch)."""
    from ndap_data_validator_spark.rules.inference import suggest_metric_rules

    prof = [
        {
            "column": "path",
            "dtype": "string",
            "n": 10,
            "nulls": 0,
            "null_frac": 0.0,
            "n_distinct_approx": 2,
            "min": None,
            "max": None,
            "mean": None,
            "stddev": None,
            "regex_fracs": {},
            "domain": ["C:\\temp", "D:\\"],
        }
    ]
    dom = next(
        r
        for r in suggest_metric_rules(prof, severity="error")
        if r.name == "path__domain"
    )
    pdf = pd.DataFrame({"path": ["C:\\temp", "D:\\", "C:\\temp", "E:\\other"]})
    rep = metric_expectations(
        spark.createDataFrame(pdf), [dom], approx_distinct=False
    ).collect()[0]
    # 3 of 4 rows in the domain — the literal round-trips exactly, and the
    # out-of-domain row is not accidentally matched by a mangled literal
    assert rep["value"] == pytest.approx(0.75)


# ---------------------------------------------------------------- freshness


def test_freshness_lag_and_verdicts(spark):
    pdf = pd.DataFrame(
        {
            "part": ["a", "a", "b"],
            "ts": pd.to_datetime(
                [
                    "2026-01-01 00:00:00",
                    "2026-01-01 11:59:30",
                    "2025-12-31 00:00:00",
                ]
            ),
        }
    )
    rules = [
        MetricRule("fresh_12h", "freshness", column="ts", max_bound=43_200),
        MetricRule(
            "fresh_1h",
            "freshness",
            column="ts",
            min_bound=0,
            max_bound=3_600,
            severity="warn",
        ),
    ]
    rep = metric_expectations(
        spark.createDataFrame(pdf),
        rules,
        partition_by="part",
        now="2026-01-01T12:00:00",
    ).collect()
    got = {(r["partition_id"], r["rule"]): (r["value"], r["passed"]) for r in rep}
    # partition a: max ts 11:59:30 → 30s lag; passes both
    assert got[("a", "fresh_12h")] == (30.0, True)
    assert got[("a", "fresh_1h")] == (30.0, True)
    # partition b: max ts a day+12h old → 129600s; fails both bounds
    assert got[("b", "fresh_12h")] == (129_600.0, False)
    assert got[("b", "fresh_1h")] == (129_600.0, False)


def test_freshness_future_data_fails_min_bound(spark):
    pdf = pd.DataFrame({"ts": pd.to_datetime(["2026-01-02 00:00:00"])})
    rep = metric_expectations(
        spark.createDataFrame(pdf),
        [MetricRule("no_future", "freshness", column="ts", min_bound=0)],
        now="2026-01-01T00:00:00",
    ).collect()[0]
    assert rep["value"] == -86_400.0
    assert rep["passed"] is False


def test_freshness_matches_duckdb_epoch(spark):
    pdf = pd.DataFrame(
        {"ts": pd.to_datetime(["2026-03-01 04:05:06.250", "2026-03-02 10:20:30.500"])}
    )
    rep = metric_expectations(
        spark.createDataFrame(pdf),
        [MetricRule("f", "freshness", column="ts", max_bound=1e12)],
        now="2026-03-05T00:00:00",
    ).collect()[0]
    exp = duckdb.sql(
        "SELECT epoch(TIMESTAMP '2026-03-05 00:00:00') - epoch(max(ts)) "
        "FROM pdf"
    ).fetchone()[0]
    # sub-second precision survives both engines (epoch as double)
    assert rep["value"] == pytest.approx(exp, abs=0)
    assert rep["value"] == pytest.approx(221_969.5)


def test_freshness_requires_explicit_now(spark):
    pdf = pd.DataFrame({"ts": pd.to_datetime(["2026-01-01"])})
    with pytest.raises(ValueError, match="clock is never read implicitly"):
        metric_expectations(
            spark.createDataFrame(pdf),
            [MetricRule("f", "freshness", column="ts", max_bound=60)],
        ).collect()


def test_freshness_suite_json_roundtrip():
    from ndap_data_validator_spark.operators.expectations import (
        suite_from_json,
        suite_to_json,
    )

    rules = [MetricRule("f", "freshness", column="ts", max_bound=3600.0)]
    assert suite_from_json(suite_to_json(rules)) == rules


def test_suggest_freshness_rule_from_profile(spark):
    """A datetime column + explicit profile-time now yields a freshness
    draft whose bound is slack × observed lag (floored); without now, no
    clock is read and no freshness rule appears."""
    from ndap_data_validator_spark.rules.inference import (
        profile_columns,
        suggest_metric_rules,
    )

    pdf = pd.DataFrame(
        {"ts": pd.to_datetime(["2026-01-01 00:00:00", "2026-01-03 00:00:00"])}
    )
    prof = profile_columns(spark.createDataFrame(pdf))

    no_now = suggest_metric_rules(prof)
    assert not [r for r in no_now if r.metric == "freshness"]

    # observed lag at profile time = 2 days = 172800s; slack 2× → 345600
    rules = suggest_metric_rules(prof, now="2026-01-05T00:00:00")
    fr = next(r for r in rules if r.metric == "freshness")
    assert fr.name == "ts__freshness"
    assert fr.column == "ts"
    assert fr.max_bound == pytest.approx(345_600.0)
    assert fr.severity == "warn"

    # the floor guards a just-landed baseline (lag ~0) from a 0-second bound
    tight = suggest_metric_rules(prof, now="2026-01-03T00:00:10")
    fr2 = next(r for r in tight if r.metric == "freshness")
    assert fr2.max_bound == 3600.0

    # the drafted rule evaluates green against the baseline itself
    rep = metric_expectations(
        spark.createDataFrame(pdf), [fr], now="2026-01-05T00:00:00"
    ).collect()[0]
    assert rep["passed"] is True and rep["value"] == pytest.approx(172_800.0)
