"""Distribution-drift checks (KS / PSI) against a baseline snapshot
(north_star requirement; no counterpart in the reference, which validates
single files in isolation).

Design: drift is computed from FIXED-BIN HISTOGRAMS, not raw values. The
histogram is one aggregate over the scan (``width_bucket`` → one count per
bin), ≤ n_bins+2 numbers per column — so the KS/PSI math runs on frames of a
few dozen rows regardless of table size. KS over binned data is exact at bin
resolution: KS = max |CDF_p − CDF_q| evaluated at bin edges; PSI is defined
on bins natively. This keeps 10^12-row drift checks to one shared scan plus
driver arithmetic — no applyInPandas needed (SURVEY.md §7.6).

Bin edges come from the BASELINE snapshot (stored alongside its histogram),
so current data is bucketed against the same grid; out-of-range values land
in the under/overflow buckets 0 and n_bins+1, which is itself drift signal.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ndap_data_validator_spark.functions.sqltext import (
    sql_double,
    sql_ident,
    sql_name,
    sql_str,
)


def histogram(
    df: DataFrame,
    column: str,
    lo: float,
    hi: float,
    n_bins: int = 32,
) -> DataFrame:
    """(bin_id, bin_count) with bin_id 0 = underflow, n_bins+1 = overflow,
    NULLs excluded. One aggregate, map-side partial counts."""
    b = F.width_bucket(F.col(column).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_bins))
    return (
        df.where(F.col(column).isNotNull())
        .groupBy(b.alias("bin_id"))
        .agg(F.count(F.lit(1)).alias("bin_count"))
    )


def snapshot(
    df: DataFrame, columns: list[str], n_bins: int = 32
) -> dict[str, dict]:
    """Baseline snapshot for ``columns``: per column the (lo, hi) grid from
    observed min/max plus the histogram as a dict {bin_id: count}.

    EXACTLY TWO jobs regardless of column count: one shared agg for every
    column's min/max, then one shared agg where every column's full
    histogram is an ``array(count_if(bucket = i))`` expression — all
    map-side partial counts inside the same scan, one 1-row result. The
    old shape (one histogram job per column) made baselining an N-column
    table N+1 scans; at 100 TB that is the difference between profiling
    costing two passes and costing a day."""
    minmax = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"{c}__lo") for c in columns],
        *[F.max(F.col(c).cast("double")).alias(f"{c}__hi") for c in columns],
    ).first()
    grids: dict[str, tuple[float, float]] = {}
    for c in columns:
        lo, hi = minmax[f"{c}__lo"], minmax[f"{c}__hi"]
        if lo is None or hi is None or lo == hi:
            hi = (lo or 0.0) + 1.0
            lo = lo or 0.0
        grids[c] = (float(lo), float(hi))
    hist_exprs = [
        F.expr(
            _hist_agg({"lo": grids[c][0], "hi": grids[c][1], "n_bins": n_bins}, c)
            + f" AS {sql_ident(c)}"
        )
        for c in columns
    ]
    hists = df.agg(*hist_exprs).first()
    out: dict[str, dict] = {}
    for c in columns:
        lo, hi = grids[c]
        out[c] = {
            "lo": lo,
            "hi": hi,
            "n_bins": n_bins,
            # zero bins stay absent, exactly like the per-column
            # histogram() aggregate this replaces
            "counts": {
                i: int(n) for i, n in enumerate(hists[c]) if n
            },
        }
    return out


@dataclass(frozen=True)
class DriftResult:
    column: str
    ks: float
    psi: float
    baseline_total: int
    current_total: int
    js: float = 0.0  # Jensen-Shannon divergence (nats), bounded [0, ln 2]
    w1: float = 0.0  # Wasserstein-1 on the bin grid, in value units

    def drifted(self, ks_threshold: float = 0.1, psi_threshold: float = 0.2) -> bool:
        return self.ks > ks_threshold or self.psi > psi_threshold


def _vectorize(counts: dict[int, int], n_bins: int) -> list[int]:
    return [counts.get(i, 0) for i in range(0, n_bins + 2)]


def compare(
    baseline: dict[str, dict], current: dict[str, dict]
) -> list[DriftResult]:
    """Driver math over tiny per-bin frames: KS = max |ΔCDF|,
    PSI = Σ (p−q)·ln(p/q) with epsilon smoothing on empty bins,
    JS = ½KL(p‖m) + ½KL(q‖m) with m = (p+q)/2 (no smoothing needed —
    m > 0 wherever either side has mass), and W1 = Σ |ΔCDF|·gap over the
    bin grid with under/overflow mass clamped to the grid edges (the two
    open-ended buckets have no finite width, so their mass sits AT lo/hi;
    W1 is therefore a lower bound when out-of-range drift exists, and the
    overflow counts themselves are the signal for that case)."""
    results = []
    for col, base in baseline.items():
        cur = current.get(col)
        if cur is None:
            continue
        n_bins = base["n_bins"]
        p = _vectorize(base["counts"], n_bins)
        q = _vectorize(cur["counts"], n_bins)
        tp, tq = sum(p), sum(q)
        if tp == 0 or tq == 0:
            results.append(DriftResult(col, 0.0, 0.0, tp, tq))
            continue
        # mass positions: underflow at lo, bin i at its center, overflow
        # at hi — shared by both sides, so gaps are [w/2, w×(n−1), w/2]
        w = (base["hi"] - base["lo"]) / n_bins
        gaps = [w / 2.0] + [w] * (n_bins - 1) + [w / 2.0]
        eps = 1e-6
        ks = w1 = 0.0
        cp = cq = 0.0
        psi = js = 0.0
        for i, (pi, qi) in enumerate(zip(p, q)):
            fp, fq = pi / tp, qi / tq
            cp += fp
            cq += fq
            ks = max(ks, abs(cp - cq))
            if i < len(gaps):
                w1 += abs(cp - cq) * gaps[i]
            a, b = max(fq, eps), max(fp, eps)  # PSI: current vs expected
            psi += (a - b) * math.log(a / b)
            m = (fp + fq) / 2.0
            if fp > 0:
                js += 0.5 * fp * math.log(fp / m)
            if fq > 0:
                js += 0.5 * fq * math.log(fq / m)
        results.append(DriftResult(col, ks, psi, tp, tq, js, w1))
    return results


def two_sample_value_counts(
    df: DataFrame, column: str, side_a, group_cols: list[str] | None = None,
) -> DataFrame:
    """ONE scan → per-value two-sample counts ``(v, a_cnt, b_cnt)``: the
    shared reduction from which BOTH the binned drift histograms (a
    width_bucket rollup of this frame) and the exact KS
    (:func:`ks_exact_from_counts`) derive — so a full drift report costs
    one pass over the data instead of three (r05; the r4 entry scanned
    orders once per histogram plus once for the KS). ``side_a`` is a
    boolean Column splitting the two samples; rows where it is NULL belong
    to neither and are excluded, like NULL values.

    ``group_cols`` prepends extra grouping keys — ``(g..., v, a_cnt,
    b_cnt)`` — so one reduction can also feed PER-GROUP rollups (e.g.
    :func:`drift_report_partitioned` with ``weight=``); the ungrouped
    counts are a cheap re-aggregate of this frame over ``v``."""
    keep = F.col(column).isNotNull() & side_a.isNotNull()
    flag = F.when(side_a, 1).otherwise(0)
    return (
        df.where(keep)
        .groupBy(
            *[F.col(g) for g in (group_cols or [])],
            F.col(column).cast("double").alias("v"),
        )
        .agg(
            F.sum(flag).alias("a_cnt"),
            F.sum(F.lit(1) - flag).alias("b_cnt"),
        )
    )


def ks_exact_from_counts(
    counts: DataFrame, num_range_partitions: int = 32
) -> DataFrame:
    """Exact two-sample KS over RAW values, fully distributed, from a
    ``(v, a_cnt, b_cnt)`` per-value counts frame (see
    :func:`two_sample_value_counts`).

    The step CDFs attain their supremum at a jump point, so evaluating
    |F_a − F_b| at every DISTINCT pooled value is exact. Plan:

      1. :func:`two_sample_value_counts`: ONE ``groupBy(value)`` shuffle
         with map-side partial counts; the frame shrinks to |distinct
         values|.
      2. :func:`_ks_agg_plan`: a range id per value → per-slice prefix
         sums via a window PARTITIONED BY that id (each task sorts only
         its slice), plus per-slice totals rolled into offsets.
      3. global CDF = local cumsum + broadcast offset; KS = max |ΔCDF|.

    No stage ever holds more than one range slice of the distinct values;
    the only single-partition work is the offsets window over
    ``num_range_partitions`` rows (partition-COUNT-sized, not data-sized).
    The range id is a DETERMINISTIC function of the value (``width_bucket``
    over the observed min/max), never ``spark_partition_id`` — re-executions
    and task retries always agree on which slice a value belongs to.

    Returns a lazy 1-row DataFrame (ks, n_a, n_b); reading it is ONE
    action. Contract when a side is empty: ks is NULL (a KS statistic
    between an empty and a non-empty sample is undefined); n_a/n_b report
    the sizes so callers can distinguish the cases. Both sides empty →
    (0.0, 0, 0). Callers reusing ``counts`` for other rollups should
    persist it themselves; this function does not cache."""
    agg = _ks_agg_plan(counts, num_range_partitions)
    # an empty counts frame aggregates to one all-NULL row
    return agg.select(
        F.when(F.col("n_a").isNull(), F.lit(0.0))
        .otherwise(F.col("ks"))
        .alias("ks"),
        F.coalesce(F.col("n_a"), F.lit(0).cast("long")).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0).cast("long")).alias("n_b"),
    )


def _ks_agg_plan(
    base_counts: DataFrame, num_range_partitions: int
) -> DataFrame:
    """The LAZY distributed KS aggregate over per-value counts (the plan
    tools/dump_plans.py documents). Fully lazy — the [lo, hi] grid is a
    broadcast 1-row aggregate inside the plan, so callers pay ONE action.
    One side empty → NULL ks (the CDF of an empty side is undefined; the
    guarded divisor keeps ANSI division by zero from raising). Both sides
    empty → one row with NULL n_a/n_b (:func:`ks_exact_from_counts` maps
    it to the documented contract)."""
    # equal-width range id — even a skewed value distribution only unbalances
    # slice sizes, never correctness (production could swap in approxQuantile
    # boundaries for balance). The lo==hi degenerate range is patched
    # column-side.
    mm = base_counts.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).select(
        "lo",
        F.when(F.col("hi") == F.col("lo"), F.col("lo") + 1.0)
        .otherwise(F.col("hi"))
        .alias("hi"),
    )
    pid = F.width_bucket(
        F.col("v"), F.col("lo"), F.col("hi"), F.lit(num_range_partitions)
    )
    counts = (
        base_counts.crossJoin(F.broadcast(mm)).withColumn("pid", pid).drop("lo", "hi")
    )

    from pyspark.sql import Window

    totals = counts.groupBy("pid").agg(
        F.sum("a_cnt").alias("pa"), F.sum("b_cnt").alias("pb")
    )
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    # grand totals ride the SAME ≤num_range_partitions-row offsets frame as
    # full-range window sums (r06): the former separate ``totals.agg``
    # broadcast was one more serial broadcast stage per KS call AND
    # recomputed the totals subtree.
    w_all = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = totals.select(
        "pid",
        F.coalesce(F.sum("pa").over(w_off), F.lit(0)).alias("off_a"),
        F.coalesce(F.sum("pb").over(w_off), F.lit(0)).alias("off_b"),
        F.sum("pa").over(w_all).alias("n_a"),
        F.sum("pb").over(w_all).alias("n_b"),
    )

    w_local = (
        Window.partitionBy("pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cdf = (
        counts.join(F.broadcast(offsets), "pid")
        .select(
            (F.sum("a_cnt").over(w_local) + F.col("off_a")).alias("ca"),
            (F.sum("b_cnt").over(w_local) + F.col("off_b")).alias("cb"),
            "n_a",
            "n_b",
        )
    )

    def frac(c, n):
        return F.col(c).cast("double") / F.when(F.col(n) > 0, F.col(n))

    return cdf.agg(
        F.max(F.abs(frac("ca", "n_a") - frac("cb", "n_b"))).alias("ks"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )


def drift_check(
    current_df: DataFrame,
    baseline_snapshot: dict[str, dict],
) -> list[DriftResult]:
    """Histogram the current data on the BASELINE's bin grid, then compare."""
    current: dict[str, dict] = {}
    for col, base in baseline_snapshot.items():
        rows = histogram(
            current_df, col, base["lo"], base["hi"], base["n_bins"]
        ).collect()
        current[col] = {
            "lo": base["lo"],
            "hi": base["hi"],
            "n_bins": base["n_bins"],
            "counts": {int(r["bin_id"]): int(r["bin_count"]) for r in rows},
        }
    return compare(baseline_snapshot, current)


def categorical_counts(df: DataFrame, column: str, side_a) -> DataFrame:
    """ONE scan → per-category two-sample counts ``(cat, a_cnt, b_cnt)``
    for a CATEGORICAL column — the string-domain twin of
    :func:`two_sample_value_counts`. The groupBy does map-side partial
    counting, so the shuffle carries one row per (map partition ×
    category); categorical domains are bounded by definition, so the
    result frame is category-count-sized regardless of table size."""
    keep = F.col(column).isNotNull() & side_a.isNotNull()
    flag = F.when(side_a, 1).otherwise(0)
    return (
        df.where(keep)
        .groupBy(F.col(column).alias("cat"))
        .agg(
            F.sum(flag).alias("a_cnt"),
            F.sum(F.lit(1) - flag).alias("b_cnt"),
        )
    )


def categorical_drift_from_counts(
    counts: DataFrame, smoothing: float = 0.5
) -> DataFrame:
    """Categorical drift statistics over a precomputed
    ``(cat, a_cnt, b_cnt)`` frame: ONE row
    ``(psi_cat, chi2_cat, n_categories)``.

    * ``psi_cat`` — PSI over category proportions, additively smoothed
      (``smoothing`` pseudo-counts per category per side) so categories
      absent from one side contribute a finite, monotone term instead of
      ±inf; direction matches the binned PSI convention (current b vs
      baseline a).
    * ``chi2_cat`` — the two-sample chi-square statistic under the pooled
      expectation (no smoothing: expected counts are positive whenever the
      category exists and both sides have rows). NULL when a side is
      empty: the statistic is undefined there.

    Everything is Catalyst arithmetic on the category-count-sized frame:
    totals come from one tiny agg, broadcast back as a 1-row frame — no
    collect, no Python."""
    totals = counts.agg(
        F.sum("a_cnt").cast("double").alias("__A"),
        F.sum("b_cnt").cast("double").alias("__B"),
        F.count(F.lit(1)).cast("double").alias("__K"),
    )
    j = counts.crossJoin(F.broadcast(totals))
    s = F.lit(float(smoothing))
    pa = (F.col("a_cnt") + s) / (F.col("__A") + F.col("__K") * s)
    pb = (F.col("b_cnt") + s) / (F.col("__B") + F.col("__K") * s)
    tot = F.col("a_cnt") + F.col("b_cnt")
    # a NULL expectation when a side is empty: ANSI division by a zero
    # expectation would raise
    both = (F.col("__A") > 0) & (F.col("__B") > 0)
    ea = F.when(both, tot * F.col("__A") / (F.col("__A") + F.col("__B")))
    eb = F.when(both, tot * F.col("__B") / (F.col("__A") + F.col("__B")))
    return j.agg(
        F.sum((pb - pa) * F.log(pb / pa)).alias("psi_cat"),
        F.sum(
            (F.col("a_cnt") - ea) * (F.col("a_cnt") - ea) / ea
            + (F.col("b_cnt") - eb) * (F.col("b_cnt") - eb) / eb
        ).alias("chi2_cat"),
        F.count(F.lit(1)).alias("n_categories"),
    )


def categorical_drift(
    df: DataFrame, column: str, side_a, smoothing: float = 0.5
) -> DataFrame:
    """Categorical drift between the ``side_a`` rows (baseline) and the
    rest (current) of one table: :func:`categorical_counts` →
    :func:`categorical_drift_from_counts`."""
    return categorical_drift_from_counts(
        categorical_counts(df, column, side_a), smoothing=smoothing
    )


def snapshot_to_json(snap: dict[str, dict]) -> str:
    """Deterministic JSON for a baseline snapshot (:func:`snapshot`), so
    the grid + histogram a run drifts against can be persisted next to the
    checkpoint store and replayed on every later batch — same bytes for
    the same snapshot, so the file is digest-stable."""
    import json

    out = {}
    for col in sorted(snap):
        s = snap[col]
        out[col] = {
            "lo": float(s["lo"]),
            "hi": float(s["hi"]),
            "n_bins": int(s["n_bins"]),
            # JSON object keys are strings; sort numerically for stability
            "counts": {
                str(k): int(s["counts"][k])
                for k in sorted(s["counts"], key=int)
            },
        }
    return json.dumps(out, indent=2, sort_keys=True)


def snapshot_from_json(text: str) -> dict[str, dict]:
    """Inverse of :func:`snapshot_to_json` (bin ids back to int; shape
    validated so a truncated or hand-edited file fails fast here)."""
    import json

    data = json.loads(text)
    if not isinstance(data, dict):
        raise ValueError("drift snapshot JSON must be an object of columns")
    out: dict[str, dict] = {}
    for col, s in data.items():
        try:
            out[col] = {
                "lo": float(s["lo"]),
                "hi": float(s["hi"]),
                "n_bins": int(s["n_bins"]),
                "counts": {int(k): int(v) for k, v in s["counts"].items()},
            }
        except (KeyError, TypeError, ValueError) as e:
            raise ValueError(f"drift snapshot column {col!r} is malformed: {e}")
        if out[col]["n_bins"] < 1 or out[col]["hi"] <= out[col]["lo"]:
            raise ValueError(f"drift snapshot column {col!r} has a bad grid")
    return out


def drift_report_partitioned(
    df: DataFrame,
    key,
    baseline: dict[str, dict],
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    weight: str | None = None,
) -> DataFrame:
    """PER-PARTITION drift vs a dataset-level baseline snapshot, entirely
    in Catalyst — the checkpointed-run form of :func:`drift_check`, built
    for 10^5-partition tables where collecting per-partition histograms to
    the driver (as the interactive path does for ONE frame) would not fly.

    ONE ``groupBy(partition).agg`` computes every baseline column's
    histogram as an ``array(count_if(bucket = i))`` on the BASELINE grid
    (:func:`_drift_aggs`, map-side partial counts); the KS / PSI / JS / W1
    fold is then a projection of that row with the baseline as literals
    (:func:`_drift_rows` over :func:`_drift_fold_exprs`) — the same
    aggregate-then-fold pair :func:`drift_windowed` runs per event-time
    window, and the one ``plans.pipeline.run_validation`` folds into the
    validator's shared aggregate. No join, no window, no driver collect.

    Output: one row per (partition_id, column) —
    (ks, psi, js, w1, baseline_total, current_total, drifted) with the
    same math as :func:`compare` (eps-smoothed PSI, mixture-KL JS,
    edge-clamped W1). Partitions where the column is entirely NULL carry
    no rows (mirrors compare()'s zero-total skip); baseline columns with
    an empty histogram are skipped.

    ``weight`` makes ``df`` a PRE-AGGREGATED frame: each row counts for
    ``weight`` occurrences of its value instead of 1 — the share-the-scan
    path when a per-value (or per-histogram-table) rollup already exists,
    identical results to feeding the raw rows."""
    key = key if not isinstance(key, str) else F.col(key)
    hist = df.groupBy(key.alias("partition_id")).agg(
        *[F.expr(a) for a in _drift_aggs(baseline, weight)]
    )
    return hist.selectExpr(
        "partition_id",
        f"inline({_drift_rows(baseline, ks_threshold, psi_threshold)})",
    )


def _usable_columns(baseline: dict[str, dict]) -> list[str]:
    """Baseline columns with a non-empty histogram, in report order."""
    return [
        c
        for c in sorted(baseline)
        if sum(_vectorize(baseline[c]["counts"], baseline[c]["n_bins"])) > 0
    ]


def _hist_agg(base: dict, column: str, weight: str | None = None) -> str:
    """One column's histogram on the baseline grid as ONE aggregate SQL
    expression: element i is the (``weight``-summed) count of rows in bin
    i, NULL values counted nowhere."""
    b = (
        f"width_bucket(CAST({sql_name(column)} AS DOUBLE), "
        f"{sql_double(base['lo'])}, {sql_double(base['hi'])}, "
        f"{int(base['n_bins'])})"
    )
    ids = range(base["n_bins"] + 2)
    if weight is None:
        bins = [f"count(CASE WHEN {b} = {i} THEN 1 END)" for i in ids]
    else:
        w = sql_name(weight)
        bins = [
            f"CAST(coalesce(sum(CASE WHEN {b} = {i} THEN {w} END), 0) AS BIGINT)"
            for i in ids
        ]
    return f"array({', '.join(bins)})"


def _drift_aggs(baseline: dict[str, dict], weight: str | None = None) -> list[str]:
    """Every usable baseline column's histogram aggregate as SQL, aliased
    ``__h{j}`` — the drift share of a per-partition aggregate, read back
    by :func:`_drift_rows`."""
    cols = _usable_columns(baseline)
    if not cols:
        raise ValueError("baseline snapshot has no usable columns")
    return [
        f"{_hist_agg(baseline[c], c, weight)} AS __h{j}"
        for j, c in enumerate(cols)
    ]


def _drift_rows(
    baseline: dict[str, dict], ks_threshold: float, psi_threshold: float
) -> str:
    """SQL for the drift report rows of ONE aggregate row carrying the
    :func:`_drift_aggs` histograms: an array of (column, ks, psi, js, w1,
    baseline_total, current_total, drifted) structs, one per column with a
    non-empty current histogram — one :func:`_drift_fold_exprs` fold per
    column."""
    rows = [
        _drift_fold_exprs(baseline[c], f"__h{j}", c, ks_threshold, psi_threshold)
        for j, c in enumerate(_usable_columns(baseline))
    ]
    return f"filter(array({', '.join(rows)}), r -> r.current_total > 0)"


@dataclass(frozen=True)
class DriftRule:
    """Drift as a first-class RULE FAMILY of a checkpointed run: the
    baseline snapshot (:func:`snapshot`, round-tripped through
    :func:`snapshot_to_json`) plus the verdict thresholds and a severity.

    ``severity="error"`` makes a drifted partition a DATA failure — it is
    withheld from the publish gate and freezes the delta watermark, so a
    retry re-examines the same rows; ``"warn"`` reports only. Either way
    the per-(partition, column) report lands under ``report_path`` and the
    drifted column names ride ``metrics_json`` for the anomaly history.

    ``digest_payload`` is the rule's identity for the run digest: the
    md5 of the canonical snapshot JSON plus thresholds/severity, so
    re-baselining (or moving a threshold) invalidates 'done' partitions
    exactly like editing any other rule."""

    baseline: dict[str, dict]
    ks_threshold: float = 0.1
    psi_threshold: float = 0.2
    severity: str = "error"

    def __post_init__(self) -> None:
        if self.severity not in ("error", "warn"):
            raise ValueError("DriftRule severity must be 'error' or 'warn'")
        # Reject an all-empty baseline HERE, not mid-run: snapshot() over an
        # empty/all-NULL frame yields counts={} for every column, which
        # drift_report_partitioned skips — construction is the right place
        # to fail, before the rule enters a run digest.
        if not _usable_columns(self.baseline):
            raise ValueError(
                "DriftRule baseline has no usable columns (every histogram "
                "is empty) — re-snapshot over a non-empty frame"
            )

    def digest_payload(self) -> dict:
        import hashlib

        return {
            "baseline_md5": hashlib.md5(
                snapshot_to_json(self.baseline).encode("utf-8")
            ).hexdigest(),
            "ks": float(self.ks_threshold),
            "psi": float(self.psi_threshold),
            "severity": self.severity,
        }


def _drift_fold_exprs(
    base: dict, h: str, column: str, ks_threshold: float, psi_threshold: float
) -> str:
    """ONE column's drift report row as ONE SQL struct (column, ks, psi,
    js, w1, baseline_total, current_total, drifted) over the histogram
    ARRAY column named ``h`` (length n_bins+2, element i = bin i's count,
    bin 0 underflow), the baseline's per-bin fraction / CDF / gap entering
    as ONE literal array — a pure projection with the identical math (and
    summation order) as :func:`compare`: a single ``aggregate`` walks the
    bins carrying the running current CDF and the four sums, and its
    finish lambda builds the row, so the fold appears once in the text
    whatever reads ``ks``, ``psi`` or ``drifted``, and the expression stays
    the same size for any bin count. Because it is stateless, it can run
    directly on the output row of a (streaming) aggregation — no second
    aggregation, which Structured Streaming's append mode would reject. An
    all-zero histogram yields ``current_total`` 0 (the divisor is guarded:
    ANSI division by zero raises); callers drop such rows."""
    eps = sql_double(1e-6)
    n_bins = base["n_bins"]
    p = _vectorize(base["counts"], n_bins)
    tp = sum(p)
    if tp == 0:
        raise ValueError("baseline histogram is empty")
    w = (base["hi"] - base["lo"]) / n_bins
    gaps = [w / 2.0] + [w] * (n_bins - 1) + [w / 2.0] + [0.0]
    bins = []
    cp = 0.0
    for i, pi in enumerate(p):
        fp = pi / tp
        cp += fp
        bins.append(
            f"named_struct('i', {i + 1}, 'fp', {sql_double(fp)}, "
            f"'sp', {sql_double(max(fp, 1e-6))}, 'cp', {sql_double(cp)}, "
            f"'gap', {sql_double(gaps[i])})"
        )
    h = sql_name(h)
    # the current total is summed ONCE, in the start value, and rides the
    # accumulator as ``n``
    total = f"aggregate({h}, 0L, (a, x) -> a + x)"
    # one row per bin: the baseline literals plus the current count
    rows = (
        f"transform(array({', '.join(bins)}), b -> named_struct("
        f"'fp', b.fp, 'sp', b.sp, 'cp', b.cp, 'gap', b.gap, "
        f"'q', element_at({h}, b.i)))"
    )
    fq = "(b.q / CASE WHEN acc.n > 0 THEN CAST(acc.n AS DOUBLE) END)"
    cq = f"(acc.cq + {fq})"
    sq = f"greatest({fq}, {eps})"
    m = f"((b.fp + {fq}) / 2.0D)"
    return (
        f"aggregate({rows}, "
        f"named_struct('n', {total}, "
        "'cq', 0D, 'ks', 0D, 'psi', 0D, 'js', 0D, 'w1', 0D), "
        "(acc, b) -> named_struct('n', acc.n, "
        f"'cq', {cq}, "
        f"'ks', greatest(acc.ks, abs(b.cp - {cq})), "
        f"'psi', acc.psi + ({sq} - b.sp) * ln({sq} / b.sp), "
        "'js', acc.js + ("
        f"CASE WHEN b.fp > 0 THEN 0.5D * b.fp * ln(b.fp / {m}) ELSE 0D END + "
        f"CASE WHEN {fq} > 0 THEN 0.5D * {fq} * ln({fq} / {m}) ELSE 0D END), "
        f"'w1', acc.w1 + abs(b.cp - {cq}) * b.gap), "
        f"acc -> named_struct('column', {sql_str(column)}, "
        "'ks', acc.ks, 'psi', acc.psi, 'js', acc.js, 'w1', acc.w1, "
        f"'baseline_total', CAST({int(tp)} AS BIGINT), 'current_total', acc.n, "
        f"'drifted', acc.ks > {sql_double(ks_threshold)} "
        f"OR acc.psi > {sql_double(psi_threshold)}))"
    )


def drift_windowed(
    df: DataFrame,
    ts_col: str,
    column: str,
    baseline: dict[str, dict],
    window_duration: str = "10 minutes",
    watermark_delay: str = "10 minutes",
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
) -> DataFrame:
    """Per event-time tumbling-window drift vs a baseline snapshot — the
    AT-INGEST twin of :func:`drift_report_partitioned` with partition =
    time window, and the streaming member of the engine's batch/stream
    twin family (uniqueness, sequence checks, CHECKs, row flags).

    The plan is ONE stateful aggregation: each window's full histogram is
    an ``array(count_if(bucket = i))`` over the baseline grid (state =
    n_bins+2 longs per open window; the watermark finalizes and evicts).
    The KS/PSI/JS/W1 fold then runs as a stateless PROJECTION with the
    baseline as literals (:func:`_drift_fold_exprs`) — there is no second
    aggregation, so Structured Streaming append mode accepts the plan and
    every finalized window emits exactly one verdict row.

    Works identically on a BATCH frame (the watermark only applies to
    streams): same windows, same metrics — the stream≡batch fold is
    tested in tests/test_streaming.py."""
    src = df
    if df.isStreaming and watermark_delay:
        src = df.withWatermark(ts_col, watermark_delay)
    hist = (
        src.where(F.col(column).isNotNull())
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"))
        .agg(F.expr(f"{_hist_agg(baseline[column], column)} AS h"))
    )
    fold = _drift_fold_exprs(
        baseline[column], "h", column, ks_threshold, psi_threshold
    )
    return hist.selectExpr(
        "w.start AS window_start", "w.`end` AS window_end", f"{fold} AS __d"
    ).select("window_start", "window_end", "__d.*")
