"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per validator family from SURVEY.md §2
(null census, coercion, time formats, column rules, partition summary,
uniqueness, referential integrity, sequence and CHECK rules, statistics
and metric expectations, drift, reconciliation, key skew, percentiles);
``oracle_sql()`` gives the DuckDB-equivalent SQL for every one of them.

Parity notes baked into every query pair:
  * aggregates/computed columns aliased identically on both sides;
  * DuckDB SUM(int) returns HUGEINT → always CAST(... AS BIGINT);
  * double reductions that feed ROUND go through exact DECIMAL sums or are
    rounded far from representable boundaries;
  * the shared "derived transcripts" frame is built from ``events`` with the
    same integer-keyed CASE logic in both dialects.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ndap_data_validator_spark.operators import drift as drift_mod
from ndap_data_validator_spark.operators.referential import ri_violation_counts
from ndap_data_validator_spark.operators.stats import column_stats, merge_hll_to_global
from ndap_data_validator_spark.operators.uniqueness import duplicate_keys
from ndap_data_validator_spark.operators.validate import ValidationEngine
from ndap_data_validator_spark.functions.coercion import compile_role_coercion
from ndap_data_validator_spark.functions.timeformat import time_format_label
from ndap_data_validator_spark.rules.model import ColumnAssignment

# --------------------------------------------------------------------- io

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to defaultParallelism ahead of a CPU-heavy
    per-row transform. The bench parquet files are single-row-group, so
    the scan plans ONE input split no matter what
    ``files.maxPartitionBytes``/``minPartitionNum`` say (parquet splits
    round down to row-group boundaries) and a heavy projection runs
    single-threaded — a per-document token encoder measured 4.0s in 1
    task vs 0.4s spread.
    This is the standard remedy for any low-parallelism source feeding
    expensive narrow work (few large gzip files, giant row groups); the
    extra exchange carries the raw text once and is linear at any scale.
    Cheap scan-level entries skip it: the exchange costs more than it
    saves there.

    CONDITIONAL: when the source already plans enough splits (any real
    multi-file dataset — 100 TB scans have thousands), this is a no-op and
    adds NO exchange to the plan; the repartition fires only when planned
    input partitions sit under half the executor parallelism."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target)


def _literal_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Tiny driver-side literal frame in ONE slice (VERDICT r04 #1/#6):
    bare ``spark.createDataFrame(list, schema)`` plans as a
    defaultParallelism-slice Python-RDD scan (``applySchemaToPythonRDD``,
    32 empty-ish tasks), and two of those joined on a constant key fold
    into a 1024-task CartesianProduct — 13s of pure harness overhead in
    r4's drift_report. One slice keeps every literal-frame stage at one
    task and makes the cartesian impossible to hit."""
    from ndap_data_validator_spark.session import literal_frame

    return literal_frame(spark, rows, schema)


# ------------------------------------------------- shared derived transcripts
# A transcript-shaped frame derived from `events` with injected coercion /
# time-format / null edge cases — the SAME integer-keyed CASE logic in the
# Spark build (below) and the DuckDB CTE (DERIVED_SQL), so the validation
# engine's counts are oracle-checkable.

# alias -> SQL, in output column order
_SPARK_DERIVED_EXPRS = {
    "conv_id": "concat('conv-', CAST(user_id % 20 AS STRING))",
    "turn_idx": "CAST(event_id % 100 AS INT)",
    "role": "event_type",
    "year_str": """CASE CAST(event_id % 6 AS INT)
         WHEN 0 THEN CAST(year(ts) AS STRING)
         WHEN 1 THEN concat('Mar-', CAST(year(ts) AS STRING))
         WHEN 2 THEN concat(CAST(year(ts) AS STRING), '-12')
         WHEN 3 THEN concat('Q1 ', CAST(year(ts) AS STRING))
         WHEN 4 THEN ''
         ELSE NULL END""",
    "int_m": """CASE CAST(event_id % 8 AS INT)
         WHEN 5 THEN CAST(value AS STRING)
         WHEN 6 THEN 'N/A'
         WHEN 7 THEN NULL
         ELSE CAST(CAST(value * 100 AS BIGINT) AS STRING) END""",
    "float_m": """CASE CAST(event_id % 5 AS INT)
         WHEN 3 THEN 'junk'
         WHEN 4 THEN NULL
         ELSE CAST(value AS STRING) END""",
    "tag": "props",
}


def _derived_exprs(*aliases: str) -> list[str]:
    """``sql AS alias`` for the named derived columns (all when none)."""
    return [
        f"{_SPARK_DERIVED_EXPRS[a]} AS {a}"
        for a in (aliases or _SPARK_DERIVED_EXPRS)
    ]


DERIVED_SQL = """
  SELECT
    'conv-' || CAST(user_id % 20 AS VARCHAR) AS conv_id,
    CAST(event_id % 100 AS INT) AS turn_idx,
    event_type AS role,
    CASE CAST(event_id % 6 AS INT)
      WHEN 0 THEN CAST(year(ts) AS VARCHAR)
      WHEN 1 THEN 'Mar-' || CAST(year(ts) AS VARCHAR)
      WHEN 2 THEN CAST(year(ts) AS VARCHAR) || '-12'
      WHEN 3 THEN 'Q1 ' || CAST(year(ts) AS VARCHAR)
      WHEN 4 THEN ''
      ELSE NULL END AS year_str,
    CASE CAST(event_id % 8 AS INT)
      WHEN 5 THEN CAST(value AS VARCHAR)
      WHEN 6 THEN 'N/A'
      WHEN 7 THEN NULL
      ELSE CAST(CAST(value * 100 AS BIGINT) AS VARCHAR) END AS int_m,
    CASE CAST(event_id % 5 AS INT)
      WHEN 3 THEN 'junk'
      WHEN 4 THEN NULL
      ELSE CAST(value AS VARCHAR) END AS float_m,
    props AS tag
  FROM events
"""

# DuckDB version of the 6-pattern time-format labeler (functions/timeformat.py)
_M = "Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec"
LABEL_SQL = rf"""
    CASE
      WHEN trim(s) = '' THEN NULL
      WHEN regexp_matches(trim(s), '^\d{{4}}$') THEN 'YYYY'
      WHEN regexp_matches(trim(s), '^\d{{4}}-\d{{2}}$') THEN 'YYYY-YY'
      WHEN regexp_matches(trim(s), '(?i)^(?:{_M})-\d{{4}}$') THEN 'MMM-YYYY'
      WHEN regexp_matches(trim(s), '(?i)^(?:{_M})-(?:{_M}),\s*\d{{4}}$') THEN 'MMM-MMM, YYYY'
      WHEN regexp_matches(trim(s), '(?i)^(?:{_M}) - (?:{_M}),\s*\d{{4}}$') THEN 'MMM - MMM, YYYY'
      WHEN regexp_matches(trim(s), '(?i)^(0?[1-9]|[12][0-9]|3[01])-(?:{_M})-\d{{4}}$') THEN 'DD-MMM-YYYY'
      ELSE NULL END
"""

REASON_INVALID_TIME = (
    "Invalid time format; allowed: 'YYYY', 'YYYY-YY', 'MMM-YYYY', "
    "'MMM-MMM, YYYY', 'MMM - MMM, YYYY' "
)

_DERIVED_ASSIGNMENTS = [
    ColumnAssignment("conv_id", "Location"),
    ColumnAssignment("turn_idx", "Measures", "integer"),
    ColumnAssignment("role", "Others"),
    ColumnAssignment("year_str", "Time"),
    ColumnAssignment("int_m", "Measures", "integer"),
    ColumnAssignment("float_m", "Measures", "float"),
    ColumnAssignment("tag", "Others"),
]


def _derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread (r06 measured both ways): the derived-frame consumers
    # partial-aggregate map-side to partition-count-sized rows, and their
    # per-row CASE/label work is cheap enough that a round-robin exchange
    # of the full 6-column events rows costs more than it parallelizes
    # (validation_report 0.68→1.0 s, key_skew 0.55→1.6 s with the spread).
    # Entries whose per-row work IS heavy (the try_cast/try_to_timestamp
    # chains) spread a PROJECTED frame instead — see q_coercion_report /
    # q_dtype_coercion_report / q_scalar_coercion.
    return _t(spark, sf_dir, "events").selectExpr(*_derived_exprs())


# ------------------------------------------------------------------ queries

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full rule-catalog validation report (EP2 lifecycle —
    coerce + count + rule evaluation in one shared scan) on the derived
    transcripts frame at sf0.001."""
    return q_validation_report(spark, "/root/testdata/sf0.001")


def q_null_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: per-column null counts in ONE agg over one scan (the reference
    re-parses per column; main.py:677, validation.py:127)."""
    e = _t(spark, sf_dir, "events")
    agg = e.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in e.columns]
    )
    structs = F.array(
        *[
            F.struct(F.lit(c).alias("column"), F.col(c).alias("nulls"))
            for c in e.columns
        ]
    )
    return agg.select(F.explode(structs).alias("s")).select("s.column", "s.nulls")


def q_coercion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/C3 conversion-error counting (errors = src non-null & coerced null,
    fractional→integer errors) as a long-form report."""
    # r06: project events to the 2 source columns the numeric exprs need,
    # then spread — the try_cast parse chains are the heavy part here
    # (same remedy as dtype_coercion_report; the exchange carries 16 bytes
    # per row instead of the full 6-column events rows)
    d = _spread(
        _t(spark, sf_dir, "events").select("event_id", "value")
    ).selectExpr(*_derived_exprs("int_m", "float_m"))
    cols = [("int_m", "integer"), ("float_m", "float")]
    aggs = []
    for name, mtype in cols:
        cc = compile_role_coercion(name, "Measures", mtype)
        aggs.append(F.sum(cc.error_pred.cast("long")).alias(name))
    agg = d.agg(*aggs)
    structs = F.array(
        *[
            F.struct(F.lit(n).alias("column"), F.col(n).alias("conversion_errors"))
            for n, _ in cols
        ]
    )
    return agg.select(F.explode(structs).alias("s")).select(
        "s.column", "s.conversion_errors"
    )


def q_time_format_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/A4: label census over the 6-pattern chain; invalid non-nulls
    bucketed as '<invalid>'."""
    d = _derived(spark, sf_dir)
    lbl = F.expr(time_format_label("year_str"))
    return (
        d.where(F.col("year_str").isNotNull())
        .groupBy(F.coalesce(lbl, F.lit("<invalid>")).alias("label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 core: full per-column validation report from one shared scan."""
    res = ValidationEngine().validate(_derived(spark, sf_dir), _DERIVED_ASSIGNMENTS)
    return res.per_column_report.select(
        "partition_id",
        "column",
        "role",
        "nulls",
        "conversion_errors",
        "passed",
        F.concat_ws("; ", "reasons").alias("reasons"),
    )


_EXPECTED_ROLES = ["click", "error", "purchase", "signup", "view", "refund"]


def q_partition_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition verdicts, BOTH directions in one method-tagged entry
    (consolidated r05):

    * 'validate' — per-partition summaries ≙ the reference's per-file
      report rows (main.py:913-920), partitioned by the role column;
      detail carries the failed column list;
    * 'completeness' — operators/completeness.py census of the SAME
      partition key against an expected manifest (the domain plus a
      never-arriving 'refund' → one guaranteed 'missing' row; min_rows
      200 so small scale factors also exercise 'undersized'); detail
      carries the status, passed = (status == 'ok'). The gate row-level
      validation cannot express: rows that never arrived."""
    from ndap_data_validator_spark.operators.completeness import (
        partition_completeness,
    )

    res = ValidationEngine().validate(
        _derived(spark, sf_dir), _DERIVED_ASSIGNMENTS, partition_by="role"
    )
    validate_leg = res.summary.select(
        F.lit("validate").alias("method"),
        "partition_id",
        F.col("rows").alias("n_rows"),
        "failed_count",
        "passed",
        F.concat_ws(",", "failed_columns").alias("detail"),
    )
    comp_leg = partition_completeness(
        _derived(spark, sf_dir), "role", _EXPECTED_ROLES, min_rows=200
    ).select(
        F.lit("completeness").alias("method"),
        F.col("key").alias("partition_id"),
        "n_rows",
        F.lit(None).cast("long").alias("failed_count"),
        (F.col("status") == "ok").alias("passed"),
        F.col("status").alias("detail"),
    )
    return validate_leg.unionByName(comp_leg)


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: latest-per-key dedup (ROW_NUMBER over desc ordering,
    utils/db.py:493-501), deterministic tie-break on event_id."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def q_join_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left equi-join facts↔dim + per-group rollup; DECIMAL sums so both
    engines aggregate exactly."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


def q_union_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: UNION-distinct of key sets from three tables (utils/db.py:503-509)."""
    e = _t(spark, sf_dir, "events").select(F.col("user_id").alias("token"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("token"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("token"))
    return e.union(o).union(c).distinct()


def q_uniqueness_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """north_rule uniqueness, every report shape in one method-tagged entry:

    * 'key_census' — composite-key dup census via groupBy count>1 (map-side
      partial agg, cheapest violation count; uniqueness.duplicate_keys);
    * 'key_census_hashed' — the same census through
      uniqueness.duplicate_keys_hashed (the exact census under the name of
      the former hashed path), which must return the exact census's rows;
    * 'dup_rows' — every row participating in a duplicated key, tagged with
      its occurrence number under a stable order (uniqueness.duplicate_rows,
      one shuffle on the key, both windows share the partitioning) — the
      byte-comparable violation-report shape.

    Columns aligned as (method, o_custkey, detail, occurrence, dup_count);
    census rows carry detail=o_orderpriority and NULL occurrence, dup-row
    rows carry detail=str(o_orderkey)."""
    from ndap_data_validator_spark.operators.uniqueness import (
        duplicate_keys_hashed,
        duplicate_rows,
    )

    o = _t(spark, sf_dir, "orders")
    key = ["o_custkey", "o_orderpriority"]

    def census(method: str, dup: DataFrame) -> DataFrame:
        return dup.select(
            F.lit(method).alias("method"),
            "o_custkey",
            F.col("o_orderpriority").alias("detail"),
            F.lit(None).cast("int").alias("occurrence"),
            "dup_count",
        )

    exact = census("key_census", duplicate_keys(o, key))
    hashed = census("key_census_hashed", duplicate_keys_hashed(o, key))
    rows = duplicate_rows(
        o.where(F.col("o_custkey") < 100), ["o_custkey"], order_by=["o_orderkey"]
    ).select(
        F.lit("dup_rows").alias("method"),
        "o_custkey",
        F.col("o_orderkey").cast("string").alias("detail"),
        "occurrence",
        "dup_count",
    )
    return exact.unionByName(hashed).unionByName(rows)


def q_ri_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/north_rule RI: dangling references via broadcast left-anti join
    (dimension restricted to even keys so violations exist)."""
    e = _t(spark, sf_dir, "events")
    ref = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 2 == 0)
    return ri_violation_counts(e, "user_id", ref, "c_custkey").select(
        F.col("value").alias("user_id"), "violation_count"
    )


_STATS_COLS = ["l_quantity", "l_extendedprice", "l_discount"]

# dataset-level metric expectations riding the column_stats entry
# (operators/expectations.py — ONE aggregate evaluates every rule; the
# qty_max_strict rule is deliberately failing so both verdict polarities
# are oracle-checked). Values chosen order-independent (no float SUM) so
# the cross-engine hash is stable at 6 dp.
def _stats_expectation_rules():
    from ndap_data_validator_spark.operators.expectations import MetricRule

    return [
        MetricRule("rows_ok", "row_count", min_bound=1, max_bound=1e12),
        MetricRule(
            "qty_null_free", "null_fraction", column="l_quantity",
            max_bound=0.001,
        ),
        MetricRule(
            "qty_mean", "mean", column="l_quantity", min_bound=20, max_bound=30
        ),
        MetricRule("disc_min", "min", column="l_discount", min_bound=0.0),
        MetricRule("disc_max", "max", column="l_discount", max_bound=0.2),
        MetricRule(
            "orderkey_ratio", "distinct_ratio", column="l_orderkey",
            min_bound=0.05, max_bound=0.6,
        ),
        MetricRule(
            "positive_price", "compliance",
            expression="l_extendedprice > 0 AND l_quantity > 0",
            min_bound=1.0,
        ),
        MetricRule("qty_max_strict", "max", column="l_quantity", max_bound=10),
        # freshness vs the pinned reference instant _STATS_NOW (r05): lag
        # of max(l_shipdate) in seconds — the "did the latest data land?"
        # gate; bound generous because the TPC-H-ish dates are decades old
        MetricRule(
            "shipdate_fresh", "freshness", column="l_shipdate",
            min_bound=0, max_bound=2e9,
        ),
    ]


# explicit reference instant for the freshness rule — evaluation input,
# pinned so both engines (and every re-run) measure the same lag
_STATS_NOW = "2026-01-01T00:00:00"


def q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """north_star per-column stats block + dataset-level metric
    EXPECTATIONS, method-tagged in one long-form entry (consolidated r05 —
    the wide stats block reshaped to (name, metric, value) rows so the new
    expectations leg shares the schema):

    * 'stats' — min/max/mean/stddev/exact-distinct per measure column
      (exact distinct so the oracle can verify; the engine's approx/HLL
      variant is q_hll_distinct);
    * 'expect' — operators/expectations.py MetricRule verdicts (row_count,
      null_fraction, mean, min/max bounds, distinct_ratio, compliance)
      with lo/hi bounds and passed — incl. one deliberately failing rule.

    Both legs are single shared-scan aggregates (map-side partials, one
    tiny exchange); the union is two independent jobs over the same
    parquet, never a join."""
    from ndap_data_validator_spark.operators.expectations import (
        metric_expectations,
    )

    li = _spread(_t(spark, sf_dir, "lineitem"))
    aggs = []
    for c in _STATS_COLS:
        aggs += [
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
            F.round(F.avg(c), 4).alias(f"{c}__mean"),
            F.round(F.stddev_samp(c), 2).alias(f"{c}__stddev"),
            F.count_distinct(F.col(c)).cast("double").alias(f"{c}__distinct"),
        ]
    agg = li.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("name"),
                F.lit(metric).alias("metric"),
                F.col(f"{c}__{suffix}").alias("value"),
            )
            for c in _STATS_COLS
            for metric, suffix in [
                ("min", "min"),
                ("max", "max"),
                ("mean", "mean"),
                ("stddev", "stddev"),
                ("distinct", "distinct"),
            ]
        ]
    )
    stats_leg = agg.select(F.explode(structs).alias("s")).select(
        F.lit("stats").alias("method"),
        "s.name",
        "s.metric",
        F.col("s.value").cast("double").alias("value"),
        F.lit(None).cast("double").alias("lo"),
        F.lit(None).cast("double").alias("hi"),
        F.lit(None).cast("boolean").alias("passed"),
    )
    expect_leg = metric_expectations(
        li, _stats_expectation_rules(), approx_distinct=False, now=_STATS_NOW
    ).select(
        F.lit("expect").alias("method"),
        F.col("rule").alias("name"),
        "metric",
        F.round("value", 6).alias("value"),
        F.col("min_bound").alias("lo"),
        F.col("max_bound").alias("hi"),
        "passed",
    )
    return stats_leg.unionByName(expect_leg)


_DRIFT_LO, _DRIFT_HI, _DRIFT_BINS = 0.0, 500_000.0, 20


def q_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift between two halves of orders (orderdate ≤1997 vs >1997), BOTH
    flavors in one row (consolidated r04, cap): binned KS/PSI (plus
    Jensen-Shannon and grid-Wasserstein-1 from the same bins, r05) and the
    fully distributed exact two-sample KS (per-value counts → range-sliced
    prefix-sum CDFs, no data-sized single task), all derived from ONE
    shared scan's per-value counts (r05), PLUS the categorical drift block
    (smoothed PSI + two-sample chi-square over o_orderpriority category
    counts — NEW r05), PLUS the PER-PARTITION leg (late r05): the ≤1997
    histogram (already on the driver from the shared reduction) becomes
    the baseline snapshot for operators/drift.drift_report_partitioned
    over the >1997 half keyed by o_orderpriority — the checkpointed-run
    drift operator (one per-partition histogram aggregate on the
    baseline grid, then a literal-baseline fold over ≤ n_bins+2 bins per
    partition, no driver collect) as long-form scope='<priority>'
    rows next to the scope='dataset' row."""
    from ndap_data_validator_spark.operators.drift import (
        categorical_drift,
        ks_exact_from_counts,
        two_sample_value_counts,
    )

    o = _t(spark, sf_dir, "orders")
    # ONE scan of orders: the per-value two-sample counts are the shared
    # reduction — both histograms derive from a width_bucket rollup of the
    # (cached, |distinct values|-sized) counts frame and the exact KS runs
    # its range-slice plan over the same cache (r05; the r4 entry scanned
    # orders three times). r06: the scan is projected + spread first — the
    # per-(priority, value) hash aggregate barely reduces near-unique
    # prices, so its map side is the bulk of the job and the
    # single-row-group bench parquet otherwise runs it in 2 tasks.
    counts_pg = two_sample_value_counts(
        _spread(o.select("o_totalprice", "o_orderdate", "o_orderpriority")),
        "o_totalprice",
        F.year("o_orderdate") <= 1997,
        group_cols=["o_orderpriority"],
    ).persist()
    # the ungrouped per-value counts the exact KS consumes are a cheap
    # re-aggregate of the cached per-(priority, value) reduction — the
    # priority dimension rides the SAME single scan for free
    counts = (
        counts_pg.groupBy("v")
        .agg(F.sum("a_cnt").alias("a_cnt"), F.sum("b_cnt").alias("b_cnt"))
        .persist()  # the KS plan references it twice (grid + CDF chains)
    )
    # The categorical block is an independent reduction (different column,
    # own scan) with no data dependency on the numeric legs — submit its
    # job from a worker thread so its wall time overlaps the two serial
    # numeric actions instead of adding to them (the entry is otherwise
    # four back-to-back driver round-trips of pure fixed cost at sf0.1).
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)
    cat_future = pool.submit(
        lambda: categorical_drift(
            o, "o_orderpriority", F.year("o_orderdate") <= 1997
        ).first()
    )
    try:
        # PER-PRIORITY histograms FIRST (one bin rollup over the cached
        # per-(priority, value) reduction materializes both caches; 110
        # rows to the driver), then the exact KS runs while categorical is
        # still in flight. The dataset histograms are the integer sums of
        # the per-priority ones — zero extra passes. (r06 measured the
        # tempting alternative — folding the histograms into the KS
        # aggregate as 44 sum(when(bin=i)) columns — at +4.8s: each
        # conditional aggregate re-evaluates width_bucket per row, and the
        # merge also serializes the KS behind work the pool overlaps.)
        b = F.width_bucket(
            F.col("v"), F.lit(_DRIFT_LO), F.lit(_DRIFT_HI), F.lit(_DRIFT_BINS)
        )
        hrows = counts_pg.groupBy(
            F.col("o_orderpriority").alias("prio"), b.alias("bin_id")
        ).agg(
            F.sum("a_cnt").alias("a"), F.sum("b_cnt").alias("b")
        ).collect()
        ha: dict[int, int] = {}
        hb: dict[int, int] = {}
        for row_ in hrows:
            i = int(row_["bin_id"])
            ha[i] = ha.get(i, 0) + int(row_["a"])
            hb[i] = hb.get(i, 0) + int(row_["b"])

        def grid(d):
            return {
                "o_totalprice": {
                    "lo": _DRIFT_LO,
                    "hi": _DRIFT_HI,
                    "n_bins": _DRIFT_BINS,
                    # zero-count bins stay ABSENT, exactly like the
                    # per-side histogram() aggregates they replace
                    "counts": {i: c for i, c in d.items() if c},
                }
            }

        (r,) = drift_mod.compare(grid(ha), grid(hb))
        # per-partition leg (late r05, r06 driver-side): every per-priority
        # histogram is ALREADY on the driver from the shared bin rollup, so
        # each priority's KS/PSI/JS/W1 comes from the same pure-Python
        # drift_mod.compare() the dataset row uses — zero extra jobs (the
        # former drift_report_partitioned run over even a 110-row literal
        # cost ~1.7 s of pure multi-stage fixed overhead). compare() and
        # the partitioned SQL fold are the same math: ks/psi/w1 verified
        # bit-identical on the bench fixtures; js agrees to 1 ulp (~1e-18
        # relative — 11 orders of magnitude below the 6-dp rounding), and
        # the oracle MATCH was re-proven at sf0.001/0.01/0.1 after the
        # switch. drift_report_partitioned remains the operator for real
        # 10^5-partition tables, where histograms must NOT collect.
        per_prio: dict[str, dict[int, int]] = {}
        for row_ in hrows:
            if row_["b"]:
                per_prio.setdefault(row_["prio"], {})[
                    int(row_["bin_id"])
                ] = int(row_["b"])
        part_rows = []
        for prio in sorted(per_prio):
            (pres,) = drift_mod.compare(
                grid(ha),
                {
                    "o_totalprice": {
                        "lo": _DRIFT_LO,
                        "hi": _DRIFT_HI,
                        "n_bins": _DRIFT_BINS,
                        "counts": per_prio[prio],
                    }
                },
            )
            part_rows.append(
                {
                    "partition_id": prio,
                    "ks": pres.ks,
                    "psi": pres.psi,
                    "js": pres.js,
                    "w1": pres.w1,
                }
            )
        # the exact KS reads the already-materialized cache (r06: its
        # offsets window now also carries the grand totals, one broadcast
        # stage fewer per call); categorical is still in flight on the
        # pool, so the tail is max(KS, categorical)
        ks_exact = ks_exact_from_counts(counts).first()["ks"]
        # categorical drift (NEW r05) on the same split, over the
        # categorical column: per-category two-sample counts → smoothed PSI
        # + two-sample chi-square, all Catalyst arithmetic on the
        # category-sized frame (job already running on the worker thread)
        cat = cat_future.result()
    finally:
        counts.unpersist()
        counts_pg.unpersist()
        pool.shutdown(wait=False)
    # Every output value is a driver-side scalar at this point — assemble
    # ONE single-slice literal row instead of joining two RDD-backed 1-row
    # frames on a constant key, which Catalyst folds into a condition-less
    # 32×32-task CartesianProduct (VERDICT r04 #1: 13-14s of the 15.8s
    # entry was that join).
    return _literal_df(
        spark,
        [(
            "dataset",
            r.column,
            round(r.ks, 6),
            round(r.psi, 4),
            round(r.js, 6),
            round(r.w1, 3),
            round(ks_exact, 6),
            "o_orderpriority",
            round(cat["psi_cat"], 6),
            round(cat["chi2_cat"], 4),
            int(cat["n_categories"]),
        )] + [(
            p["partition_id"],
            "o_totalprice",
            round(p["ks"], 6),
            round(p["psi"], 4),
            round(p["js"], 6),
            round(p["w1"], 3),
            None,
            None,
            None,
            None,
            None,
        ) for p in part_rows],
        "scope string, column string, ks_binned double, psi double, "
        "js double, w1 double, ks_exact double, "
        "cat_column string, psi_cat double, chi2_cat double, n_categories int",
    )


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-family sorts/limits (SURVEY §2.7): top-k with a deterministic
    tie-break so the result SET is stable across engines."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_SEQ_ROLES = ("click", "error", "purchase", "signup", "view")
_SEQ_TRANSITIONS = frozenset(
    (a, b) for a in _SEQ_ROLES for b in _SEQ_ROLES if b != "signup"
)


def q_sequence_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r05 — conversation-order sequence checks (operators/convchecks.py),
    the transcript-shaped window rules the north_rule's payload needs beyond
    per-row checks: order gaps, ts regressions, role repeats, long
    silences, and the role-transition FSM ('bad_transition': 'signup' may
    only open a conversation — the "a tool turn must follow an assistant
    turn" rule class).

    Events is deterministically reshaped into a transcript frame (conv_id=
    user_id, turn_idx=row_number per user by event_id, role=event_type),
    then violations are INJECTED the replayable way: every 7th event_id row
    is dropped (punches turn-contiguity holes) and every 11th has its ts
    pulled back 720h (creates regressions, and 500h+ recovery gaps after
    them). ONE window shuffle on the conversation key computes all four
    checks in the same projection (lag ts/role), unpivoted via
    array_compact+explode — no per-check pass.

    PLUS (late r05) the row-level CHECK-constraint family
    (rules.model.CheckRule → operators/checks.py): two cross-column rules
    over the same frame — 'value_cap' (value <= 400) and 'error_low_value'
    (role <> 'error' OR value < 100) — standard-SQL CHECK semantics (only
    definite FALSE violates; NULL passes), evaluated in one scan-level
    projection with ZERO shuffles; rows union under the same
    (conv_id, turn_idx, check) contract.

    PLUS (late r05) JSON payload conformance (operators/jsonschema.py) —
    the tool-call-arguments check a transcript validator needs: each turn
    carries a synthesized JSON payload with replayable planted defects
    (event_id%13: malformed / required-field-absent / wrong-typed field),
    classified malformed vs missing vs type-error via the
    get_json_object-probe + from_json pairing, unpivoted to long rows
    ('json_malformed', 'json_missing_<f>', 'json_type_<f>') — also a
    zero-shuffle scan-level projection; DuckDB replays it with
    json_valid/json_extract/TRY_CAST."""
    from ndap_data_validator_spark.operators.checks import check_violations
    from ndap_data_validator_spark.operators.convchecks import sequence_checks
    from ndap_data_validator_spark.rules.model import CheckRule

    e = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & (F.col("user_id") < 75)
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    t = e.select(
        F.col("user_id").alias("conv_id"),
        F.row_number().over(w).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.when(
            F.col("event_id") % 11 == 0,
            F.col("ts") - F.expr("INTERVAL 720 HOURS"),
        )
        .otherwise(F.col("ts"))
        .alias("ts"),
        "event_id",
        "value",
    ).where(F.col("event_id") % 7 != 0)
    seq = sequence_checks(
        t,
        key_col="conv_id",
        order_col="turn_idx",
        ts_col="ts",
        role_col="role",
        expected_step=1,
        max_gap_sec=500 * 3600,
        # role-transition FSM (late r05): 'signup' may only OPEN a
        # conversation — any transition INTO it violates. The whitelist is
        # every (prev, cur) pair over the five event roles with
        # cur != 'signup'; compiled to a codegen disjunction in Spark and
        # rendered as row-value IN in the oracle (identical NULL
        # semantics: UNKNOWN membership passes).
        allowed_transitions=_SEQ_TRANSITIONS,
    )
    chk = check_violations(
        t,
        [
            CheckRule("value_cap", "value <= 400"),
            CheckRule("error_low_value", "role <> 'error' OR value < 100"),
        ],
        key_cols=("conv_id", "turn_idx"),
    )
    from ndap_data_validator_spark.operators.jsonschema import (
        json_schema_report,
    )

    # PLUS (late r05) JSON payload conformance (operators/jsonschema.py):
    # every turn carries a synthesized tool-call arguments payload with
    # replayable planted defects — event_id%13==0 malformed JSON, ==1 the
    # required 'tool' field absent, ==2 'retries' present as a non-numeric
    # string (type error). Long-form rows under the same contract;
    # 'tool' can never type-error on this data, so the oracle only
    # mirrors the retries type leg.
    _eid = F.col("event_id")
    pay = (
        F.when(_eid % 13 == 0, F.lit('{"tool": broken'))
        .when(
            _eid % 13 == 1,
            F.concat(
                F.lit('{"retries":'), (_eid % 5).cast("string"), F.lit("}")
            ),
        )
        .when(
            _eid % 13 == 2,
            F.concat(
                F.lit('{"tool":"t-'),
                _eid.cast("string"),
                F.lit('","retries":"lots"}'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"tool":"t-'),
                _eid.cast("string"),
                F.lit('","retries":'),
                (_eid % 5).cast("string"),
                F.lit("}"),
            )
        )
    )
    rep = json_schema_report(
        t.select("conv_id", "turn_idx", pay.alias("payload")),
        "payload",
        "tool string, retries int",
        required=("tool", "retries"),
        id_cols=("conv_id", "turn_idx"),
    )
    _empty = F.array().cast("array<string>")
    jv = rep.select(
        "conv_id",
        "turn_idx",
        F.explode(
            F.concat(
                F.when(
                    ~F.col("parse_ok"), F.array(F.lit("json_malformed"))
                ).otherwise(_empty),
                F.when(
                    F.col("parse_ok"),
                    F.transform(
                        "missing",
                        lambda m: F.concat(F.lit("json_missing_"), m),
                    ),
                ).otherwise(_empty),
                F.transform(
                    "type_errors",
                    lambda m: F.concat(F.lit("json_type_"), m),
                ),
            )
        ).alias("check"),
    )
    return seq.unionByName(chk).unionByName(jv)


def q_dtype_coercion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 dtype-selection driver (coerce_dataframe_to_selected_types parity):
    whole-frame coercion report in one agg."""
    from ndap_data_validator_spark.operators.coerce import coerce_by_dtypes

    # r06: project events to the 3 source columns the derived exprs need,
    # then spread — the single-row-group bench parquet plans 1-2 scan
    # splits, so the regex-heavy coercion aggregate otherwise runs nearly
    # single-threaded (guide §2.5 input skew; see _spread).
    e = _spread(_t(spark, sf_dir, "events").select("event_id", "ts", "value"))
    d = e.selectExpr(*_derived_exprs("year_str", "int_m", "float_m"))
    _, report = coerce_by_dtypes(
        d, {"year_str": "integer", "int_m": "integer", "float_m": "float"}
    )
    return report


# Separate derived frame for boolean/datetime coercion (kept out of the main
# derived transcripts so the validation_report oracle is unchanged): the SAME
# integer-keyed CASE logic in both dialects.
_SPARK_BOOL_TS_EXPRS = [
    """CASE CAST(event_id % 9 AS INT)
         WHEN 0 THEN 'true'
         WHEN 1 THEN 'T'
         WHEN 2 THEN ' yes '
         WHEN 3 THEN 'Y'
         WHEN 4 THEN '0'
         WHEN 5 THEN 'No'
         WHEN 6 THEN '2'
         WHEN 7 THEN ''
         ELSE NULL END AS bool_m""",
    """CASE CAST(event_id % 7 AS INT)
         WHEN 0 THEN date_format(ts, 'yyyy-MM-dd HH:mm:ss')
         WHEN 1 THEN date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
         WHEN 2 THEN date_format(ts, 'yyyy-MM-dd')
         WHEN 3 THEN date_format(ts, 'yyyy/MM/dd')
         WHEN 4 THEN date_format(ts, 'dd-MM-yyyy')
         WHEN 5 THEN 'not-a-date'
         ELSE NULL END AS ts_str""",
]

BOOL_TS_SQL = """
  SELECT
    CASE CAST(event_id % 9 AS INT)
      WHEN 0 THEN 'true'
      WHEN 1 THEN 'T'
      WHEN 2 THEN ' yes '
      WHEN 3 THEN 'Y'
      WHEN 4 THEN '0'
      WHEN 5 THEN 'No'
      WHEN 6 THEN '2'
      WHEN 7 THEN ''
      ELSE NULL END AS bool_m,
    CASE CAST(event_id % 7 AS INT)
      WHEN 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
      WHEN 1 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
      WHEN 2 THEN strftime(ts, '%Y-%m-%d')
      WHEN 3 THEN strftime(ts, '%Y/%m/%d')
      WHEN 4 THEN strftime(ts, '%d-%m-%Y')
      WHEN 5 THEN 'not-a-date'
      ELSE NULL END AS ts_str
  FROM events
"""


def q_scalar_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/P8 + C5 in one entry (consolidated r04 to stay under the
    driver's 50-query cap — VERDICT r03 #1): boolean token coercion census
    (reference token sets, utils/validation.py:60-76) and datetime coercion
    over the pinned ISO-variant grammar (utils/validation.py:79-85 as
    try_to_timestamp fallbacks), unioned into a superset-schema row per
    column — true/false/null/error counts for bool_m, parsed/error counts
    plus min/max for ts_str."""
    from ndap_data_validator_spark.functions.coercion import (
        coerce_to_boolean,
        coerce_to_datetime,
    )

    # ONE pass (r06): the former two-agg union scanned events twice; both
    # rows now come from a single shared aggregate (guide §2.4), and the
    # scan is projected to (event_id, ts) then spread so the
    # try_to_timestamp/boolean-token chains run on every core instead of
    # the source's one-or-two parquet splits (guide §2.5 input skew).
    d = _spread(
        _t(spark, sf_dir, "events").select("event_id", "ts")
    ).selectExpr(*_SPARK_BOOL_TS_EXPRS)
    bval, berr = map(F.expr, coerce_to_boolean("bool_m"))
    tval, terr = map(F.expr, coerce_to_datetime("ts_str"))
    agg = d.agg(
        F.sum((bval == True).cast("long")).alias("__n_true"),  # noqa: E712
        F.sum((bval == False).cast("long")).alias("__n_false"),  # noqa: E712
        F.sum(bval.isNull().cast("long")).alias("__b_nulls"),
        F.sum(berr.cast("long")).alias("__b_errs"),
        F.sum(tval.isNotNull().cast("long")).alias("__n_parsed"),
        F.sum(terr.cast("long")).alias("__t_errs"),
        F.date_format(F.min(tval), "yyyy-MM-dd HH:mm:ss").alias("__min_ts"),
        F.date_format(F.max(tval), "yyyy-MM-dd HH:mm:ss").alias("__max_ts"),
    )
    rows = F.array(
        F.struct(
            F.lit("bool_m").alias("column"),
            F.col("__n_true").alias("n_true"),
            F.col("__n_false").alias("n_false"),
            F.col("__b_nulls").alias("nulls"),
            F.lit(None).cast("long").alias("n_parsed"),
            F.col("__b_errs").alias("conversion_errors"),
            F.lit(None).cast("string").alias("min_ts"),
            F.lit(None).cast("string").alias("max_ts"),
        ),
        F.struct(
            F.lit("ts_str").alias("column"),
            F.lit(None).cast("long").alias("n_true"),
            F.lit(None).cast("long").alias("n_false"),
            F.lit(None).cast("long").alias("nulls"),
            F.col("__n_parsed").alias("n_parsed"),
            F.col("__t_errs").alias("conversion_errors"),
            F.col("__min_ts").alias("min_ts"),
            F.col("__max_ts").alias("max_ts"),
        ),
    )
    return agg.select(F.explode(rows).alias("r")).select("r.*")


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew / heavy-hitter report (NEW r05) over the derived transcript
    frame's conversation key — the diagnostic that feeds
    ``plans.pipeline.salt_repartition`` and AQE skew handling (the
    north-star brief's skewed-conversations clause). Top-10 heaviest
    conv_ids with share-of-corpus and the distribution's max/mean skew
    factor; counts = ONE map-side-combined shuffle, top-N =
    TakeOrderedAndProject (never a global sort)."""
    from ndap_data_validator_spark.operators.skew import key_skew_report

    return key_skew_report(_derived(spark, sf_dir), "conv_id", top_n=10)


def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines use the same linear
    interpolation on sorted values), computed DISTRIBUTED: per-value counts
    → range-sliced window CDF → order-statistic lookup — no single
    aggregation buffer ever holds all values (the r02 weak spot; single-group
    ``percentile()`` is OOM territory at 100×)."""
    from ndap_data_validator_spark.operators.stats import (
        exact_percentiles_distributed,
    )

    # spread the projected value column: the per-value-counts hash
    # aggregate barely reduces near-unique doubles, so its map side is the
    # whole cost (6 effective scan tasks otherwise)
    li = _spread(_t(spark, sf_dir, "lineitem").select("l_extendedprice"))
    res = exact_percentiles_distributed(
        li, "l_extendedprice", ps=(0.5, 0.95, 0.99)
    )
    return res.select(
        "column",
        F.round("p50", 4).alias("p50"),
        F.round("p95", 4).alias("p95"),
        F.round("p99", 4).alias("p99"),
    )


def q_csv_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 raw-file form (the reference's entire ingestion is CSV,
    main.py:120-125): events round-tripped through a CSV copy, read back via
    the csv: source scheme WITH an explicit schema (no inferSchema pass),
    then rolled up — the oracle runs the same rollup on the parquet
    original, so the round-trip itself is what's verified."""
    import os as _os

    from ndap_data_validator_spark.sources.tables import load_table

    base = _os.path.join(
        "/root/repo/.cache/csv", _os.path.basename(_os.path.normpath(sf_dir))
    )
    marker = _os.path.join(base, "events.csv", "_SUCCESS")
    if not _os.path.exists(marker):
        (
            _t(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value")
            .coalesce(4)
            .write.mode("overwrite")
            .option("header", "true")
            .csv(_os.path.join(base, "events.csv"))
        )
    e = load_table(
        spark,
        f"csv:{base}",
        "events",
        schema="event_id bigint, user_id bigint, event_type string, value double",
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("total_value"),
    )


def q_three_way_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: chained key joins (lineage report shape, utils/db.py:548-551) —
    orders→customer→nation rollup; small dims broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


def q_except_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diffing, BOTH granularities in one method-tagged entry
    (consolidated r05):

    * 'except' — U-family extension (SURVEY §2.8 note): exceptAll for
      violation diffing — event types present in the first half of the
      data but missing (per occurrence) from the second half;
    * 'reconcile' — operators/reconcile.py keyed cell-level diff
      (datacompy-style): orders vs a deterministically perturbed second
      snapshot (every 29th key dropped, every 13th totalprice bumped,
      every 17th priority case-flipped, every 41st key re-inserted under
      a negative id) → the long-form summary (row statuses + per-column
      mismatch counts) from ONE full-outer sort-merge join.

    Columns aligned as (method, dim, detail, value); except rows carry
    dim=event_type / detail=bucket, reconcile rows dim=metric /
    detail=column."""
    # project + spread — events is ONE effective scan task at bench SFs,
    # and the median's per-value counts plus both exceptAll legs all
    # hash-aggregate over it
    e = _spread(
        _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    )
    from ndap_data_validator_spark.operators.reconcile import (
        reconcile_summary,
    )
    from ndap_data_validator_spark.operators.stats import (
        exact_percentiles_distributed,
    )

    # split point = exact median via the DISTRIBUTED order-statistic plan
    # — NOT single-group percentile(), whose aggregation buffer
    # accumulates every event_id in one task (an OOM-shaped stage at
    # 100×). The .first() collects ONE precomputed row, not data.
    half = F.lit(exact_percentiles_distributed(e, "event_id", (0.5,)).first()["p50"])
    a = e.where(F.col("event_id") <= half).select("event_type", (F.col("user_id") % 5).alias("bucket"))
    b = e.where(F.col("event_id") > half).select("event_type", (F.col("user_id") % 5).alias("bucket"))
    except_leg = (
        a.exceptAll(b)
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("excess"))
        .select(
            F.lit("except").alias("method"),
            F.col("event_type").alias("dim"),
            F.col("bucket").cast("string").alias("detail"),
            F.col("excess").alias("value"),
        )
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    perturbed = (
        o.where(F.col("o_orderkey") % 29 != 3)
        .select(
            "o_orderkey",
            (
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") % 13 == 0, F.lit(1.0)).otherwise(
                    F.lit(0.0)
                )
            ).alias("o_totalprice"),
            F.when(
                F.col("o_orderkey") % 17 == 0, F.lower("o_orderpriority")
            )
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 41 == 0).select(
                (-F.col("o_orderkey")).alias("o_orderkey"),
                "o_totalprice",
                "o_orderpriority",
            )
        )
    )
    reconcile_leg = reconcile_summary(o, perturbed, "o_orderkey").select(
        F.lit("reconcile").alias("method"),
        F.col("metric").alias("dim"),
        F.col("column").alias("detail"),
        "value",
    )
    return except_leg.unionByName(reconcile_leg)


# ---- multi-stage / composed-pipeline queries (every entry below, like
# every entry above, has a full DuckDB oracle in oracle_sql(): the former
# rows-only category is empty as of r04 — even hll_distinct is bound-checked)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch path: per-partition HLL sketches unioned to global
    distinct estimates without rescanning — made ORACLE-CHECKABLE (VERDICT
    r03 #1) by emitting the exact distinct count plus a within-2% accuracy
    bound on the estimate: DuckDB computes COUNT(DISTINCT …) and expects
    the boolean TRUE, so the sketch's accuracy contract is hash-matched
    even though the estimate itself can't byte-match another engine.
    lg_k=16 gives ~0.4% standard error — 2% is a ≥5σ bound, deterministic
    in practice. The exact side is the VERIFICATION harness only;
    production consumes the estimate (that's the point of the sketch)."""
    # projection only — NO spread here (r06 measured it at ~2×): lg_k=16
    # sketches are 64 KB each, so a 32-way spread turns one single-task
    # sketch per (partition, column) into 32 partial sketches plus an
    # exchange and a merge; the per-row update cost it parallelizes is
    # smaller than the merge it creates. The countDistinct leg's Expand
    # already parallelizes across the shuffle.
    e = _t(spark, sf_dir, "events").select("user_id", "event_type")
    st = column_stats(
        e, ["user_id", "event_type"], partition_by=(F.col("user_id") % 8),
        hll_lg_k=16,
    )
    est = merge_hll_to_global(st).select("column", "distinct_estimate")
    exact = e.agg(
        F.countDistinct("user_id").alias("user_id"),
        F.countDistinct("event_type").alias("event_type"),
    ).select(
        F.explode(
            F.create_map(
                F.lit("user_id"), F.col("user_id"),
                F.lit("event_type"), F.col("event_type"),
            )
        ).alias("column", "exact_distinct")
    )
    return exact.join(est, "column").select(
        "column",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (
            F.abs(F.col("distinct_estimate") - F.col("exact_distinct"))
            <= 0.02 * F.col("exact_distinct")
        ).alias("within_2pct"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # At most 50 entries: only the first 50 get a correctness check. Every
    # entry carries a DuckDB oracle in oracle_sql(). Near-duplicates ride
    # one method-tagged entry: bool+datetime → scalar_coercion,
    # duplicate_rows and duplicate_keys_hashed → uniqueness_violations.
    return {
        "null_census": q_null_census,
        "coercion_report": q_coercion_report,
        "scalar_coercion": q_scalar_coercion,
        "time_format_census": q_time_format_census,
        "validation_report": q_validation_report,
        "partition_summary": q_partition_summary,
        "latest_event_per_user": q_latest_event_per_user,
        "join_lineage": q_join_lineage,
        "union_tokens": q_union_tokens,
        "uniqueness_violations": q_uniqueness_violations,
        "sequence_checks": q_sequence_checks,
        "ri_orphans": q_ri_orphans,
        "column_stats": q_column_stats,
        "drift_report": q_drift_report,
        "hll_distinct": q_hll_distinct,
        "topk_orders": q_topk_orders,
        "dtype_coercion_report": q_dtype_coercion_report,
        "three_way_join": q_three_way_join,
        "except_diff": q_except_diff,
        "csv_events_rollup": q_csv_events_rollup,
        "key_skew": q_key_skew,
        "exact_percentiles": q_exact_percentiles,
    }


# --------------------------------------------------------------- oracle SQL

def oracle_sql() -> dict[str, str]:
    ev_cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    null_census = " UNION ALL ".join(
        f"SELECT '{c}' AS \"column\", CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls FROM events"
        for c in ev_cols
    )

    # isnan terms mirror the engine's NaN→null normalization (pandas isna
    # parity): a string parsing to NaN counts as error + null on both sides.
    int_err = (
        "int_m IS NOT NULL AND (TRY_CAST(int_m AS DOUBLE) IS NULL "
        "OR isnan(TRY_CAST(int_m AS DOUBLE)) "
        "OR fmod(TRY_CAST(int_m AS DOUBLE), 1) != 0)"
    )
    float_err = (
        "float_m IS NOT NULL AND (TRY_CAST(float_m AS DOUBLE) IS NULL "
        "OR isnan(TRY_CAST(float_m AS DOUBLE)))"
    )

    coercion_report = f"""
      WITH d AS ({DERIVED_SQL})
      SELECT 'int_m' AS "column",
             CAST(SUM(CASE WHEN {int_err} THEN 1 ELSE 0 END) AS BIGINT) AS conversion_errors
      FROM d
      UNION ALL
      SELECT 'float_m',
             CAST(SUM(CASE WHEN {float_err} THEN 1 ELSE 0 END) AS BIGINT)
      FROM d
    """

    time_format_census = f"""
      WITH d AS ({DERIVED_SQL}),
      lab AS (SELECT year_str AS s, {LABEL_SQL} AS label FROM d WHERE year_str IS NOT NULL)
      SELECT COALESCE(label, '<invalid>') AS label, CAST(COUNT(*) AS BIGINT) AS n
      FROM lab GROUP BY 1
    """

    validation_report = f"""
      WITH d AS ({DERIVED_SQL}),
      lab AS (SELECT year_str AS s, {LABEL_SQL} AS label FROM d),
      tmaj AS (SELECT COALESCE(MAX(c), 0) AS majority FROM
                 (SELECT COUNT(*) AS c FROM lab WHERE label IS NOT NULL GROUP BY label)),
      tagg AS (SELECT
          CAST(SUM(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
          CAST(SUM(CASE WHEN s IS NOT NULL AND label IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS invalid,
          CAST(COUNT(label) AS BIGINT) AS valid_total,
          CAST(COUNT(DISTINCT label) AS BIGINT) AS n_formats
        FROM lab),
      agg AS (SELECT
          CAST(SUM(CASE WHEN conv_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS conv_nulls,
          CAST(SUM(CASE WHEN role IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS role_nulls,
          CAST(SUM(CASE WHEN tag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS tag_nulls,
          CAST(SUM(CASE WHEN turn_idx IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS turn_nulls,
          CAST(SUM(CASE WHEN int_m IS NULL OR {int_err} THEN 1 ELSE 0 END) AS BIGINT) AS int_nulls,
          CAST(SUM(CASE WHEN {int_err} THEN 1 ELSE 0 END) AS BIGINT) AS int_errs,
          CAST(SUM(CASE WHEN float_m IS NULL OR ({float_err}) THEN 1 ELSE 0 END) AS BIGINT) AS float_nulls,
          CAST(SUM(CASE WHEN {float_err} THEN 1 ELSE 0 END) AS BIGINT) AS float_errs
        FROM d)
      SELECT '<all>' AS partition_id, 'conv_id' AS "column", 'Location' AS role,
             conv_nulls AS nulls, CAST(0 AS BIGINT) AS conversion_errors,
             conv_nulls = 0 AS passed,
             CASE WHEN conv_nulls > 0 THEN 'No Nulls allowed' ELSE '' END AS reasons
      FROM agg
      UNION ALL
      SELECT '<all>', 'turn_idx', 'Measures', turn_nulls, CAST(0 AS BIGINT), TRUE, '' FROM agg
      UNION ALL
      SELECT '<all>', 'role', 'Others', role_nulls, CAST(0 AS BIGINT), TRUE, '' FROM agg
      UNION ALL
      SELECT '<all>', 'year_str', 'Time',
             t.nulls, t.invalid + (t.valid_total - CAST(m.majority AS BIGINT)),
             (t.nulls = 0 AND t.invalid = 0 AND t.n_formats <= 1),
             concat_ws('; ',
               CASE WHEN t.nulls > 0 THEN 'No Nulls allowed' END,
               CASE WHEN t.invalid > 0 THEN '{REASON_INVALID_TIME.replace("'", "''")}'
                    WHEN t.n_formats > 1 THEN 'Inconsistent time formats across rows' END)
      FROM tagg t, tmaj m
      UNION ALL
      SELECT '<all>', 'int_m', 'Measures', int_nulls, int_errs,
             int_errs = 0,
             CASE WHEN int_errs > 0 THEN 'Non-numeric values detected' ELSE '' END
      FROM agg
      UNION ALL
      SELECT '<all>', 'float_m', 'Measures', float_nulls, float_errs,
             float_errs = 0,
             CASE WHEN float_errs > 0 THEN 'Non-numeric values detected' ELSE '' END
      FROM agg
      UNION ALL
      SELECT '<all>', 'tag', 'Others', tag_nulls, CAST(0 AS BIGINT), TRUE, '' FROM agg
    """

    partition_summary = f"""
      WITH d AS ({DERIVED_SQL}),
      lab AS (SELECT role AS p, year_str AS s, {LABEL_SQL} AS label FROM d),
      tagg AS (SELECT p,
          SUM(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS nulls,
          SUM(CASE WHEN s IS NOT NULL AND label IS NULL THEN 1 ELSE 0 END) AS invalid,
          COUNT(DISTINCT label) AS n_formats
        FROM lab GROUP BY p),
      base AS (SELECT role AS p, COUNT(*) AS n_rows,
          SUM(CASE WHEN conv_id IS NULL THEN 1 ELSE 0 END) AS conv_nulls,
          SUM(CASE WHEN {int_err} THEN 1 ELSE 0 END) AS int_errs,
          SUM(CASE WHEN {float_err} THEN 1 ELSE 0 END) AS float_errs
        FROM d GROUP BY role)
      SELECT 'validate' AS method, b.p AS partition_id,
        CAST(b.n_rows AS BIGINT) AS n_rows,
        CAST((CASE WHEN b.conv_nulls > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN t.nulls > 0 OR t.invalid > 0 OR (t.invalid = 0 AND t.n_formats > 1) THEN 1 ELSE 0 END)
           + (CASE WHEN b.int_errs > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN b.float_errs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS failed_count,
        (b.conv_nulls = 0 AND b.int_errs = 0 AND b.float_errs = 0
          AND t.nulls = 0 AND t.invalid = 0 AND t.n_formats <= 1) AS passed,
        concat_ws(',',
          CASE WHEN b.conv_nulls > 0 THEN 'conv_id' END,
          CASE WHEN t.nulls > 0 OR t.invalid > 0 OR (t.invalid = 0 AND t.n_formats > 1) THEN 'year_str' END,
          CASE WHEN b.int_errs > 0 THEN 'int_m' END,
          CASE WHEN b.float_errs > 0 THEN 'float_m' END) AS detail
      FROM base b JOIN tagg t ON b.p = t.p
      UNION ALL
      SELECT 'completeness', COALESCE(e.key, c.key),
        CAST(COALESCE(c.n, 0) AS BIGINT),
        CAST(NULL AS BIGINT),
        (e.key IS NOT NULL AND COALESCE(c.n, 0) >= 200) AS passed,
        CASE WHEN e.key IS NULL THEN 'unexpected'
             WHEN COALESCE(c.n, 0) = 0 THEN 'missing'
             WHEN c.n < 200 THEN 'undersized'
             ELSE 'ok' END
      FROM (VALUES ('click'), ('error'), ('purchase'), ('signup'),
                   ('view'), ('refund')) e(key)
      FULL OUTER JOIN (SELECT role AS key, COUNT(*) AS n FROM d GROUP BY role) c
        ON e.key = c.key
    """

    latest_event = """
      SELECT user_id, event_id, event_type FROM (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    """

    join_lineage = """
      SELECT c.c_mktsegment AS c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    """

    union_tokens = """
      SELECT user_id AS token FROM events
      UNION SELECT o_custkey FROM orders
      UNION SELECT c_custkey FROM customer
    """

    # the hashed leg must return exactly the exact census's rows
    census = """
      SELECT '{}' AS method, o_custkey, o_orderpriority AS detail,
             CAST(NULL AS INT) AS occurrence, CAST(COUNT(*) AS BIGINT) AS dup_count
      FROM orders GROUP BY o_custkey, o_orderpriority HAVING COUNT(*) > 1
    """
    uniqueness = f"""
      {census.format("key_census")}
      UNION ALL
      {census.format("key_census_hashed")}
      UNION ALL
      SELECT 'dup_rows', o_custkey, detail, occurrence, dup_count FROM (
        SELECT o_custkey, CAST(o_orderkey AS VARCHAR) AS detail,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY o_custkey ORDER BY o_orderkey) AS INT)
                 AS occurrence,
               CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT)
                 AS dup_count
        FROM orders WHERE o_custkey < 100) t
      WHERE dup_count > 1
    """

    sequence_checks = """
      WITH e AS (
        SELECT * FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL AND user_id < 75),
      t AS (
        SELECT user_id AS conv_id,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY user_id ORDER BY event_id) AS INT) AS turn_idx,
               event_type AS role,
               CASE WHEN event_id % 11 = 0 THEN ts - INTERVAL 720 HOUR
                    ELSE ts END AS ts,
               event_id,
               value
        FROM e),
      t2 AS (SELECT * FROM t WHERE event_id % 7 != 0),
      l AS (
        SELECT conv_id, turn_idx, ts, role,
               LAG(turn_idx) OVER w AS pturn,
               LAG(ts) OVER w AS pts,
               LAG(role) OVER w AS prole
        FROM t2 WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx NULLS FIRST)),
      jsonp AS (
        SELECT conv_id, turn_idx,
               CASE WHEN event_id % 13 = 0 THEN '{"tool": broken'
                    WHEN event_id % 13 = 1
                      THEN '{"retries":' || CAST(event_id % 5 AS VARCHAR)
                           || '}'
                    WHEN event_id % 13 = 2
                      THEN '{"tool":"t-' || CAST(event_id AS VARCHAR)
                           || '","retries":"lots"}'
                    ELSE '{"tool":"t-' || CAST(event_id AS VARCHAR)
                         || '","retries":' || CAST(event_id % 5 AS VARCHAR)
                         || '}'
               END AS payload
        FROM t2)
      SELECT conv_id, turn_idx, 'order_gap' AS "check"
        FROM l WHERE turn_idx != pturn + 1
      UNION ALL
      SELECT conv_id, turn_idx, 'ts_regression' FROM l WHERE ts < pts
      UNION ALL
      SELECT conv_id, turn_idx, 'long_gap'
        FROM l WHERE ts > pts + INTERVAL 500 HOUR
      UNION ALL
      SELECT conv_id, turn_idx, 'role_repeat' FROM l WHERE role = prole
      UNION ALL
      SELECT conv_id, turn_idx, 'bad_transition' FROM l
        WHERE prole IS NOT NULL
          AND NOT ((prole, role) IN (__SEQ_PAIRS__))
      UNION ALL
      SELECT conv_id, turn_idx, 'value_cap'
        FROM t2 WHERE (value <= 400) IS FALSE
      UNION ALL
      SELECT conv_id, turn_idx, 'error_low_value'
        FROM t2 WHERE (role <> 'error' OR value < 100) IS FALSE
      UNION ALL
      SELECT conv_id, turn_idx, 'json_malformed'
        FROM jsonp WHERE NOT json_valid(payload)
      UNION ALL
      SELECT conv_id, turn_idx, 'json_missing_tool' FROM jsonp
        WHERE json_valid(payload)
          AND json_extract(payload, '$.tool') IS NULL
      UNION ALL
      SELECT conv_id, turn_idx, 'json_missing_retries' FROM jsonp
        WHERE json_valid(payload)
          AND json_extract(payload, '$.retries') IS NULL
      UNION ALL
      SELECT conv_id, turn_idx, 'json_type_retries' FROM jsonp
        WHERE json_valid(payload)
          AND json_extract(payload, '$.retries') IS NOT NULL
          AND TRY_CAST(json_extract_string(payload, '$.retries') AS INTEGER)
              IS NULL
    """
    # render the FSM whitelist as row-value IN pairs — the same literal
    # set q_sequence_checks compiles to a Catalyst disjunction
    sequence_checks = sequence_checks.replace(
        "__SEQ_PAIRS__",
        ", ".join(
            f"('{a}', '{b}')" for a, b in sorted(_SEQ_TRANSITIONS)
        ),
    )

    ri_orphans = """
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS violation_count
      FROM events
      WHERE user_id IS NOT NULL
        AND user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0)
      GROUP BY user_id
    """

    stats_leg_sql = " UNION ALL ".join(
        f"""SELECT '{c}' AS name, '{m}' AS metric, {expr}::DOUBLE AS value
            FROM lineitem"""
        for c in _STATS_COLS
        for m, expr in [
            ("min", f"MIN({c})"),
            ("max", f"MAX({c})"),
            ("mean", f"ROUND(AVG({c}), 4)"),
            ("stddev", f"ROUND(STDDEV_SAMP({c}), 2)"),
            ("distinct", f"COUNT(DISTINCT {c})"),
        ]
    )
    # the expectations leg: metric values once in a CTE, rule rows with
    # bounds, passed computed on the UNROUNDED value (as the engine does),
    # value rounded to 6 dp for the cross-engine hash
    column_stats_sql = f"""
      WITH m AS (
        SELECT COUNT(*)::DOUBLE AS rows_v,
               AVG(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0.0 END) AS nullfrac_v,
               AVG(l_quantity) AS mean_v,
               MIN(l_discount)::DOUBLE AS dmin_v,
               MAX(l_discount)::DOUBLE AS dmax_v,
               COUNT(DISTINCT l_orderkey)::DOUBLE / COUNT(*) AS ratio_v,
               AVG(CASE WHEN COALESCE(l_extendedprice > 0 AND l_quantity > 0,
                                      FALSE) THEN 1.0 ELSE 0.0 END) AS comp_v,
               MAX(l_quantity)::DOUBLE AS qmax_v,
               epoch(TIMESTAMP '2026-01-01 00:00:00') - epoch(MAX(l_shipdate)) AS fresh_v
        FROM lineitem
      ),
      e(name, metric, value, lo, hi) AS (
        SELECT 'rows_ok', 'row_count', rows_v, 1.0, 1e12 FROM m
        UNION ALL SELECT 'qty_null_free', 'null_fraction', nullfrac_v,
                         CAST(NULL AS DOUBLE), 0.001 FROM m
        UNION ALL SELECT 'qty_mean', 'mean', mean_v, 20.0, 30.0 FROM m
        UNION ALL SELECT 'disc_min', 'min', dmin_v, 0.0,
                         CAST(NULL AS DOUBLE) FROM m
        UNION ALL SELECT 'disc_max', 'max', dmax_v,
                         CAST(NULL AS DOUBLE), 0.2 FROM m
        UNION ALL SELECT 'orderkey_ratio', 'distinct_ratio', ratio_v,
                         0.05, 0.6 FROM m
        UNION ALL SELECT 'positive_price', 'compliance', comp_v, 1.0,
                         CAST(NULL AS DOUBLE) FROM m
        UNION ALL SELECT 'qty_max_strict', 'max', qmax_v,
                         CAST(NULL AS DOUBLE), 10.0 FROM m
        UNION ALL SELECT 'shipdate_fresh', 'freshness', fresh_v, 0.0,
                         2e9 FROM m
      )
      SELECT 'stats' AS method, name, metric, value,
             CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
             CAST(NULL AS BOOLEAN) AS passed
      FROM ({stats_leg_sql})
      UNION ALL
      SELECT 'expect' AS method, name, metric, ROUND(value, 6) AS value,
             lo, hi,
             (value IS NOT NULL AND NOT isnan(value)
              AND (lo IS NULL OR value >= lo)
              AND (hi IS NULL OR value <= hi)) AS passed
      FROM e
    """

    w = (_DRIFT_HI - _DRIFT_LO) / _DRIFT_BINS
    drift_sql = f"""
      WITH bins AS (SELECT UNNEST(range(0, {_DRIFT_BINS + 2})) AS bin_id),
      b AS (SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - {_DRIFT_LO}) / {w}) AS INT) + 1, 0), {_DRIFT_BINS + 1}) AS bin_id,
                   COUNT(*) AS c
            FROM orders WHERE year(o_orderdate) <= 1997 AND o_totalprice IS NOT NULL GROUP BY 1),
      q AS (SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - {_DRIFT_LO}) / {w}) AS INT) + 1, 0), {_DRIFT_BINS + 1}) AS bin_id,
                   COUNT(*) AS c
            FROM orders WHERE year(o_orderdate) > 1997 AND o_totalprice IS NOT NULL GROUP BY 1),
      f AS (SELECT bins.bin_id,
                   COALESCE(b.c, 0)::DOUBLE / (SELECT SUM(c) FROM b) AS fp,
                   COALESCE(q.c, 0)::DOUBLE / (SELECT SUM(c) FROM q) AS fq
            FROM bins LEFT JOIN b ON bins.bin_id = b.bin_id LEFT JOIN q ON bins.bin_id = q.bin_id),
      cdf AS (SELECT bin_id, SUM(fp) OVER (ORDER BY bin_id) AS cp,
                     SUM(fq) OVER (ORDER BY bin_id) AS cq FROM f),
      k AS (SELECT MAX(ABS(cp - cq)) AS ks FROM cdf),
      p AS (SELECT SUM((GREATEST(fq, 1e-6) - GREATEST(fp, 1e-6)) * LN(GREATEST(fq, 1e-6) / GREATEST(fp, 1e-6))) AS psi FROM f),
      j AS (SELECT SUM(
              CASE WHEN fp > 0 THEN 0.5 * fp * LN(fp / ((fp + fq) / 2)) ELSE 0 END
            + CASE WHEN fq > 0 THEN 0.5 * fq * LN(fq / ((fp + fq) / 2)) ELSE 0 END) AS js FROM f),
      wd AS (SELECT SUM(ABS(cp - cq) * CASE WHEN bin_id = 0 OR bin_id = {_DRIFT_BINS} THEN {w} / 2
                                            WHEN bin_id < {_DRIFT_BINS} THEN {w}
                                            ELSE 0 END) AS w1 FROM cdf)
      SELECT 'o_totalprice' AS "column", ROUND((SELECT ks FROM k), 6) AS ks_binned, ROUND((SELECT psi FROM p), 4) AS psi,
             ROUND((SELECT js FROM j), 6) AS js, ROUND((SELECT w1 FROM wd), 3) AS w1
    """

    drift_exact_ks = """
      WITH u AS (
        SELECT o_totalprice AS v, 1 AS a, 0 AS b FROM orders
        WHERE year(o_orderdate) <= 1997 AND o_totalprice IS NOT NULL
        UNION ALL
        SELECT o_totalprice, 0, 1 FROM orders
        WHERE year(o_orderdate) > 1997 AND o_totalprice IS NOT NULL),
      g AS (SELECT v, SUM(a) AS a, SUM(b) AS b FROM u GROUP BY v),
      t AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM g),
      cdf AS (SELECT SUM(a) OVER (ORDER BY v) AS ca,
                     SUM(b) OVER (ORDER BY v) AS cb FROM g)
      SELECT 'o_totalprice' AS "column",
             ROUND(MAX(ABS(ca::DOUBLE / t.na - cb::DOUBLE / t.nb)), 6) AS ks_exact
      FROM cdf, t
    """

    drift_cat = """
      WITH c AS (
        SELECT o_orderpriority AS cat,
               SUM(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END)::DOUBLE AS a_cnt,
               SUM(CASE WHEN year(o_orderdate) > 1997 THEN 1 ELSE 0 END)::DOUBLE AS b_cnt
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderdate IS NOT NULL
        GROUP BY 1),
      t AS (SELECT SUM(a_cnt) AS A, SUM(b_cnt) AS B, COUNT(*)::DOUBLE AS K FROM c)
      SELECT 'o_orderpriority' AS cat_column,
             ROUND(SUM(((b_cnt + 0.5) / (t.B + t.K * 0.5) - (a_cnt + 0.5) / (t.A + t.K * 0.5))
                   * LN(((b_cnt + 0.5) / (t.B + t.K * 0.5)) / ((a_cnt + 0.5) / (t.A + t.K * 0.5)))), 6) AS psi_cat,
             ROUND(SUM(
               POWER(a_cnt - (a_cnt + b_cnt) * t.A / (t.A + t.B), 2) / ((a_cnt + b_cnt) * t.A / (t.A + t.B))
               + POWER(b_cnt - (a_cnt + b_cnt) * t.B / (t.A + t.B), 2) / ((a_cnt + b_cnt) * t.B / (t.A + t.B))), 4) AS chi2_cat,
             CAST(COUNT(*) AS INT) AS n_categories
      FROM c, t GROUP BY t.A, t.B, t.K
    """

    # per-partition leg: the SAME baseline-fraction/CDF fold as drift_sql,
    # but the current side grouped by o_orderpriority — one cdf window per
    # partition, the same running-CDF fold drift_report_partitioned runs
    drift_part_sql = f"""
      WITH bins AS (SELECT UNNEST(range(0, {_DRIFT_BINS + 2})) AS bin_id),
      b AS (SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - {_DRIFT_LO}) / {w}) AS INT) + 1, 0), {_DRIFT_BINS + 1}) AS bin_id,
                   COUNT(*) AS c
            FROM orders WHERE year(o_orderdate) <= 1997 AND o_totalprice IS NOT NULL GROUP BY 1),
      bt AS (SELECT SUM(c) AS t FROM b),
      q AS (SELECT o_orderpriority AS scope,
                   LEAST(GREATEST(CAST(FLOOR((o_totalprice - {_DRIFT_LO}) / {w}) AS INT) + 1, 0), {_DRIFT_BINS + 1}) AS bin_id,
                   COUNT(*) AS c
            FROM orders WHERE year(o_orderdate) > 1997 AND o_totalprice IS NOT NULL GROUP BY 1, 2),
      qt AS (SELECT scope, SUM(c) AS t FROM q GROUP BY 1),
      f AS (SELECT qt.scope, bins.bin_id,
                   COALESCE(b.c, 0)::DOUBLE / bt.t AS fp,
                   COALESCE(q.c, 0)::DOUBLE / qt.t AS fq
            FROM qt CROSS JOIN bins CROSS JOIN bt
            LEFT JOIN b ON bins.bin_id = b.bin_id
            LEFT JOIN q ON q.scope = qt.scope AND q.bin_id = bins.bin_id),
      cdf AS (SELECT scope, bin_id, fp, fq,
                     SUM(fp) OVER (PARTITION BY scope ORDER BY bin_id) AS cp,
                     SUM(fq) OVER (PARTITION BY scope ORDER BY bin_id) AS cq
              FROM f)
      SELECT scope, 'o_totalprice' AS "column",
             ROUND(MAX(ABS(cp - cq)), 6) AS ks_binned,
             ROUND(SUM((GREATEST(fq, 1e-6) - GREATEST(fp, 1e-6))
                       * LN(GREATEST(fq, 1e-6) / GREATEST(fp, 1e-6))), 4) AS psi,
             ROUND(SUM(
               CASE WHEN fp > 0 THEN 0.5 * fp * LN(fp / ((fp + fq) / 2)) ELSE 0 END
             + CASE WHEN fq > 0 THEN 0.5 * fq * LN(fq / ((fp + fq) / 2)) ELSE 0 END), 6) AS js,
             ROUND(SUM(ABS(cp - cq) * CASE WHEN bin_id = 0 OR bin_id = {_DRIFT_BINS} THEN {w} / 2
                                           WHEN bin_id < {_DRIFT_BINS} THEN {w}
                                           ELSE 0 END), 3) AS w1,
             CAST(NULL AS DOUBLE) AS ks_exact,
             CAST(NULL AS VARCHAR) AS cat_column,
             CAST(NULL AS DOUBLE) AS psi_cat,
             CAST(NULL AS DOUBLE) AS chi2_cat,
             CAST(NULL AS INTEGER) AS n_categories
      FROM cdf GROUP BY scope
    """

    drift_report = f"""
      SELECT 'dataset' AS scope,
             b."column", b.ks_binned, b.psi, b.js, b.w1, e.ks_exact,
             c.cat_column, c.psi_cat, c.chi2_cat, c.n_categories
      FROM ({drift_sql}) b
      JOIN ({drift_exact_ks}) e USING ("column")
      CROSS JOIN ({drift_cat}) c
      UNION ALL
      SELECT * FROM ({drift_part_sql}) p
    """

    topk_orders = """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """

    year_err = (
        "year_str IS NOT NULL AND (TRY_CAST(year_str AS DOUBLE) IS NULL "
        "OR isnan(TRY_CAST(year_str AS DOUBLE)) "
        "OR fmod(TRY_CAST(year_str AS DOUBLE), 1) != 0)"
    )
    dtype_coercion_report = f"""
      WITH d AS ({DERIVED_SQL})
      SELECT 'year_str' AS "column",
             CAST(SUM(CASE WHEN {year_err} THEN 1 ELSE 0 END) AS BIGINT) AS conversion_errors FROM d
      UNION ALL
      SELECT 'int_m', CAST(SUM(CASE WHEN {int_err} THEN 1 ELSE 0 END) AS BIGINT) FROM d
      UNION ALL
      SELECT 'float_m', CAST(SUM(CASE WHEN {float_err} THEN 1 ELSE 0 END) AS BIGINT) FROM d
    """

    scalar_coercion = f"""
      WITH d AS ({BOOL_TS_SQL}),
      v AS (SELECT bool_m,
              CASE WHEN lower(trim(bool_m)) IN ('true','t','yes','y','1') THEN TRUE
                   WHEN lower(trim(bool_m)) IN ('false','f','no','n','0') THEN FALSE
                   ELSE NULL END AS b
            FROM d)
      SELECT 'bool_m' AS "column",
        CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        CAST(SUM(CASE WHEN b = FALSE THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
        CAST(SUM(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
        CAST(NULL AS BIGINT) AS n_parsed,
        CAST(SUM(CASE WHEN bool_m IS NOT NULL AND b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS conversion_errors,
        CAST(NULL AS VARCHAR) AS min_ts,
        CAST(NULL AS VARCHAR) AS max_ts
      FROM v
    """

    # The engine's pinned grammar (functions/coercion.py _TS_FORMATS) as
    # try_strptime fallbacks — same accepted forms, same first-match wins.
    _ts_parse = (
        "COALESCE("
        "try_strptime(ts_str, '%Y-%m-%dT%H:%M:%S'), "
        "try_strptime(ts_str, '%Y-%m-%d %H:%M:%S'), "
        "try_strptime(ts_str, '%Y-%m-%d'), "
        "try_strptime(ts_str, '%Y/%m/%d'), "
        "try_strptime(ts_str, '%d-%m-%Y'))"
    )
    scalar_coercion += f"""
      UNION ALL
      SELECT 'ts_str' AS "column",
        CAST(NULL AS BIGINT) AS n_true,
        CAST(NULL AS BIGINT) AS n_false,
        CAST(NULL AS BIGINT) AS nulls,
        CAST(SUM(CASE WHEN t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
        CAST(SUM(CASE WHEN ts_str IS NOT NULL AND t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS conversion_errors,
        strftime(MIN(t), '%Y-%m-%d %H:%M:%S') AS min_ts,
        strftime(MAX(t), '%Y-%m-%d %H:%M:%S') AS max_ts
      FROM (SELECT ts_str, {_ts_parse} AS t FROM ({BOOL_TS_SQL}) d2) v
    """

    hll_distinct = """
      SELECT 'user_id' AS "column",
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
             TRUE AS within_2pct
      FROM events
      UNION ALL
      SELECT 'event_type', CAST(COUNT(DISTINCT event_type) AS BIGINT), TRUE
      FROM events
    """

    return {
        "null_census": null_census,
        "coercion_report": coercion_report,
        "scalar_coercion": scalar_coercion,
        "time_format_census": time_format_census,
        "validation_report": validation_report,
        "partition_summary": partition_summary,
        "latest_event_per_user": latest_event,
        "join_lineage": join_lineage,
        "union_tokens": union_tokens,
        "uniqueness_violations": uniqueness,
        "ri_orphans": ri_orphans,
        "column_stats": column_stats_sql,
        "drift_report": drift_report,
        "hll_distinct": hll_distinct,
        "key_skew": f"""
          WITH d AS ({DERIVED_SQL}),
          c AS (SELECT conv_id AS key, COUNT(*) AS n_rows
                FROM d GROUP BY conv_id),
          s AS (SELECT COUNT(*) AS n_keys, SUM(n_rows) AS total,
                       MAX(n_rows) AS mx FROM c),
          t AS (SELECT key, n_rows,
                       CAST(ROW_NUMBER() OVER (
                         ORDER BY n_rows DESC, key ASC) AS INT) AS rank
                FROM c ORDER BY n_rows DESC, key ASC LIMIT 10)
          SELECT t.key, t.n_rows, t.rank,
                 ROUND(CAST(t.n_rows AS DOUBLE) / s.total, 6) AS share,
                 s.n_keys,
                 ROUND(CAST(s.mx AS DOUBLE) * s.n_keys / s.total, 6)
                   AS skew_factor
          FROM t, s
        """,
        "exact_percentiles": """
          SELECT 'l_extendedprice' AS "column",
                 ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                 ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
                 ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
          FROM lineitem
        """,
        "csv_events_rollup": """
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
          FROM events GROUP BY event_type
        """,
        "topk_orders": topk_orders,
        "sequence_checks": sequence_checks,
        "dtype_coercion_report": dtype_coercion_report,
        "three_way_join": """
          SELECT n.n_name AS n_name,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
          FROM orders o
          LEFT JOIN customer c ON o.o_custkey = c.c_custkey
          LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
          GROUP BY n.n_name
        """,
        "except_diff": """
          WITH h AS (SELECT quantile_cont(event_id, 0.5) AS m FROM events),
          a AS (SELECT event_type, user_id % 5 AS bucket FROM events, h WHERE event_id <= h.m),
          b AS (SELECT event_type, user_id % 5 AS bucket FROM events, h WHERE event_id > h.m),
          o AS (SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
          p AS (
            SELECT o_orderkey,
                   o_totalprice + CASE WHEN o_orderkey % 13 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice,
                   CASE WHEN o_orderkey % 17 = 0 THEN lower(o_orderpriority) ELSE o_orderpriority END AS o_orderpriority
            FROM o WHERE o_orderkey % 29 != 3
            UNION ALL
            SELECT -o_orderkey, o_totalprice, o_orderpriority FROM o WHERE o_orderkey % 41 = 0
          ),
          j AS (
            SELECT o.o_orderkey AS lid, p.o_orderkey AS rid,
                   (o.o_totalprice IS NOT DISTINCT FROM p.o_totalprice) AS tp_eq,
                   (o.o_orderpriority IS NOT DISTINCT FROM p.o_orderpriority) AS pr_eq
            FROM o FULL OUTER JOIN p ON o.o_orderkey = p.o_orderkey
          ),
          rec AS (
            SELECT
              count(*) FILTER (lid IS NOT NULL) AS rows_left,
              count(*) FILTER (rid IS NOT NULL) AS rows_right,
              count(*) FILTER (lid IS NOT NULL AND rid IS NOT NULL) AS keys_matched,
              count(*) FILTER (lid IS NOT NULL AND rid IS NOT NULL AND tp_eq AND pr_eq) AS rows_equal,
              count(*) FILTER (lid IS NOT NULL AND rid IS NOT NULL AND NOT (tp_eq AND pr_eq)) AS rows_differing,
              count(*) FILTER (lid IS NULL) AS missing_left,
              count(*) FILTER (rid IS NULL) AS missing_right,
              count(*) FILTER (lid IS NOT NULL AND rid IS NOT NULL AND NOT tp_eq) AS mm_totalprice,
              count(*) FILTER (lid IS NOT NULL AND rid IS NOT NULL AND NOT pr_eq) AS mm_priority
            FROM j
          )
          SELECT 'except' AS method, event_type AS dim,
                 CAST(bucket AS VARCHAR) AS detail, CAST(COUNT(*) AS BIGINT) AS value
          FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
          GROUP BY event_type, bucket
          UNION ALL
          SELECT 'reconcile', u.metric, u.col, u.v FROM rec, LATERAL (VALUES
            ('rows_left', CAST(NULL AS VARCHAR), rows_left),
            ('rows_right', NULL, rows_right),
            ('keys_matched', NULL, keys_matched),
            ('rows_equal', NULL, rows_equal),
            ('rows_differing', NULL, rows_differing),
            ('missing_left', NULL, missing_left),
            ('missing_right', NULL, missing_right),
            ('column_mismatch', 'o_totalprice', mm_totalprice),
            ('column_mismatch', 'o_orderpriority', mm_priority)
          ) AS u(metric, col, v)
        """,
    }
