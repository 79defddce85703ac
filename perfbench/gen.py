"""Seeded input generators for the benchmark, with known answers.

Kept separate from the package's own data generator on purpose: a change to
the package must never change what the benchmark measures. Everything here is
numpy + pyarrow, so generating a few hundred thousand rows takes well under a
second and costs no Spark job.

Same ``seed`` -> byte-identical files and identical known answers.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "tool"], dtype=object)
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
LOREM = [
    "lorem ipsum dolor sit amet", "consectetur adipiscing elit",
    "sed do eiusmod tempor", "incididunt ut labore et dolore",
    "magna aliqua ut enim", "ad minim veniam quis nostrud",
    "exercitation ullamco laboris", "nisi ut aliquip ex ea commodo",
    "duis aute irure dolor", "in reprehenderit in voluptate",
    "velit esse cillum dolore", "eu fugiat nulla pariatur",
    "excepteur sint occaecat", "cupidatat non proident",
    "sunt in culpa qui officia", "deserunt mollit anim id est laborum",
]
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

# engine reason strings the known answers are keyed by (rules/model.py and
# operators/validate.py) -- repeated here so a renamed reason is a failure
NO_NULLS = "No Nulls allowed"
OUT_OF_RANGE = "Value out of allowed range"
REGEX_MISMATCH = "Value does not match required pattern"
NOT_IN_DOMAIN = "Value not in allowed domain"
INVALID_TIME = (
    "Invalid time format; allowed: 'YYYY', 'YYYY-YY', 'MMM-YYYY', "
    "'MMM-MMM, YYYY', 'MMM - MMM, YYYY' "
)


@dataclass
class TranscriptAnswers:
    rows: int
    nulls: dict[str, int]  # per column, summed over partitions
    violations: dict[tuple[str, str], int]  # (column, reason) -> rows
    duplicate_keys: int  # (conv_id, turn_idx) groups with count > 1
    partitions: int  # distinct partition keys, incl. the null partition


def _pick(rng: np.random.Generator, candidates: np.ndarray, share: float, n: int):
    k = min(len(candidates), max(1, int(n * share)))
    return rng.choice(candidates, size=k, replace=False)


def transcripts(n_turns: int, seed: int, turns_per_conv: int = 25,
                hot_share: float = 0.2) -> tuple[pa.Table, TranscriptAnswers]:
    """The FIXTURES section-1 transcripts shape plus a string ``period``
    column (Time role, ``MMM-YYYY``), so the mandatory Time and Measures roles
    are both bound and clean partitions publish.

    One conversation (``conv-000000``) holds ``hot_share`` of all rows.
    Violations are injected only into "dirty" partitions (partition key =
    first 8 characters of conv_id, every third one) so clean partitions pass
    and the publish sink gets work; NULL conv_ids land in the engine's null
    partition.
    """
    rng = np.random.default_rng([seed, 1])
    n = n_turns
    n_hot = int(n * hot_share)
    rest = np.arange(n - n_hot, dtype=np.int64)
    conv = np.concatenate([np.zeros(n_hot, np.int64), 1 + rest // turns_per_conv])
    turn = np.concatenate([np.arange(n_hot), rest % turns_per_conv]).astype(np.int64)
    part = conv // 1000
    dirty = np.flatnonzero(part % 3 == 1)

    role = ROLES[turn % 3].copy()
    is_tool = turn % 3 == 2
    tool_k = rng.integers(0, 50, n)
    tool = np.where(is_tool, np.char.add("tool-", np.char.zfill(tool_k.astype(str), 3)), None).astype(object)
    ts = BASE_TS_US + conv * 60_000_000 + turn * 5_000_000
    period = np.array([f"{m}-2026" for m in MONTHS], dtype=object)[conv % 12]
    text_tail = np.array(LOREM, dtype=object)[rng.integers(0, len(LOREM), n)]

    # injections, each on its own rows of the dirty partitions
    cont = dirty[turn[dirty] > 0]
    dup_rows = _pick(rng, cont, 0.002, n)
    turn[dup_rows] = turn[dup_rows - 1]
    neg_rows = _pick(rng, dirty, 0.0005, n)
    turn[neg_rows] = -1 - (neg_rows % 5)
    bad_role = _pick(rng, dirty, 0.003, n)
    role[bad_role] = np.where(bad_role % 2 == 0, "sys?", "")
    bad_tool = _pick(rng, dirty[is_tool[dirty]], 0.004, n)
    tool[bad_tool] = np.char.add("tool-9", np.char.zfill((bad_tool % 100).astype(str), 2))
    bad_period = _pick(rng, dirty, 0.001, n)
    period[bad_period] = "Q1 2026"
    null_conv = _pick(rng, np.arange(n), 0.005, n)
    null_text = _pick(rng, dirty, 0.005, n)
    empty_text = _pick(rng, dirty, 0.0005, n)
    null_ts = _pick(rng, dirty, 0.002, n)

    conv_id = pc.binary_join_element_wise(
        "conv-", pc.utf8_lpad(pa.array(conv).cast(pa.string()), 6, "0"), "")
    conv_valid = np.ones(n, bool)
    conv_valid[null_conv] = False
    conv_id = pc.if_else(pa.array(conv_valid), conv_id, pa.scalar(None, pa.string()))
    text = pc.binary_join_element_wise(
        "turn ", pa.array(turn).cast(pa.string()), " of ",
        pc.fill_null(conv_id, "?"), ": ", pa.array(text_tail, pa.string()), "")
    text_mask = np.zeros(n, bool)
    text_mask[null_text] = True
    text = pc.if_else(pa.array(text_mask), pa.scalar(None, pa.string()), text)
    text_arr = text.to_numpy(zero_copy_only=False).astype(object)
    text_arr[empty_text] = ""
    ts_mask = np.zeros(n, bool)
    ts_mask[null_ts] = True

    table = pa.table({
        "conv_id": conv_id,
        "turn_idx": pa.array(turn.astype(np.int32)),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text_arr, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC"), mask=ts_mask),
        "period": pa.array(period, pa.string()),
    })

    # known answers, from the final columns (so overlapping injections count
    # exactly as the engine must count them)
    conv_null = ~conv_valid
    text_null = pc.is_null(table["text"]).to_numpy(zero_copy_only=False)
    tool_vals = table["tool"].to_numpy(zero_copy_only=False)
    tool_null = np.array([v is None for v in tool_vals])
    tool_bad = np.array([v is not None and v.startswith("tool-9") for v in tool_vals])
    role_bad = ~np.isin(role, ROLES)
    nulls = {"conv_id": int(conv_null.sum()), "turn_idx": 0, "role": 0,
             "text": int(text_null.sum()), "tool": int(tool_null.sum()),
             "ts": int(ts_mask.sum()), "period": 0}
    violations = {
        ("conv_id", NO_NULLS): nulls["conv_id"],
        ("turn_idx", OUT_OF_RANGE): int((turn < 0).sum()),
        ("role", NOT_IN_DOMAIN): int(role_bad.sum()),
        ("tool", REGEX_MISMATCH): int(tool_bad.sum()),
        ("period", INVALID_TIME): int((period == "Q1 2026").sum()),
    }
    keys = conv.copy()
    keys[conv_null] = -1  # NULL conv_ids group together, as in groupBy
    pair = keys * 4_000_000 + (turn + 1_000_000)
    _, counts = np.unique(pair, return_counts=True)
    n_parts = len(np.unique(part[conv_valid])) + int(conv_null.any())
    answers = TranscriptAnswers(
        rows=n, nulls=nulls,
        violations={k: v for k, v in violations.items() if v},
        duplicate_keys=int((counts > 1).sum()), partitions=n_parts,
    )
    return table, answers


def histogram_baseline(values: np.ndarray, n_bins: int) -> dict:
    """A drift baseline in ``operators.drift.snapshot``'s format, built here
    the way a stored baseline is loaded rather than computed by the job:
    the grid is the observed (min, max) and bins follow SQL ``width_bucket``
    (0 below the grid, ``n_bins + 1`` at or above its top)."""
    v = values.astype(np.float64)
    lo, hi = float(v.min()), float(v.max())
    if lo == hi:
        hi = lo + 1.0
    b = np.where(v < lo, 0, np.where(
        v >= hi, n_bins + 1, np.floor(n_bins * (v - lo) / (hi - lo)).astype(np.int64) + 1))
    ids, counts = np.unique(b, return_counts=True)
    return {"lo": lo, "hi": hi, "n_bins": n_bins,
            "counts": {int(i): int(n) for i, n in zip(ids, counts)}}


def write_parquet_files(table: pa.Table, directory: str, n_files: int) -> int:
    """Split ``table`` into ``n_files`` row-contiguous parquet files; returns
    the bytes written."""
    os.makedirs(directory, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    total = 0
    for i in range(n_files):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        total += os.path.getsize(path)
    return total


# --------------------------------------------------------------- CSV batches

STATES = ["Kerala", "Punjab", "Gujarat", "Odisha", "Assam", "Bihar",
          "Goa", "Sikkim", "Haryana", "Tripura"]
CSV_COLUMNS = ["state", "fiscal_year", "population", "gdp_growth", "district_code"]
# defect profiles; the first half of every batch is clean, each file of the
# second half draws one defect, so every batch publishes the same share
DEFECTS = ["null_state", "bad_time", "mixed_time", "frac_population",
           "junk_population", "junk_gdp"]


def _time_values(fmt: int, years: np.ndarray, months: np.ndarray) -> list[str]:
    m1 = [MONTHS[m] for m in months]
    m2 = [MONTHS[(m + 2) % 12] for m in months]
    if fmt == 0:
        return [str(y) for y in years]
    if fmt == 1:
        return [f"{y}-{(y + 1) % 100:02d}" for y in years]
    if fmt == 2:
        return [f"{a}-{y}" for a, y in zip(m1, years)]
    if fmt == 3:
        return [f"{a}-{b}, {y}" for a, b, y in zip(m1, m2, years)]
    if fmt == 4:
        return [f"{a} - {b}, {y}" for a, b, y in zip(m1, m2, years)]
    return [f"{d:02d}-{a}-{y}" for d, a, y in
            zip(1 + months * 2, m1, years)]


@dataclass
class CsvFile:
    name: str
    profile: str
    columns: dict[str, list] = field(repr=False)  # None = empty CSV field


def csv_batch(seed: int, batch: int, n_files: int, rows_per_file: int) -> list[CsvFile]:
    """One landing of ``n_files`` role-typed CSV files (all values strings):
    Location ``state``, Time ``fiscal_year`` in one of the six accepted
    formats per file, integer Measures ``population``, float Measures
    ``gdp_growth``, and an Others ``district_code``. The first half of the
    files is clean; each other file draws one defect -- invalid or
    inconsistent time formats, fractional or junk measures, null
    locations."""
    out = []
    for f in range(n_files):
        rng = np.random.default_rng([seed, 2, batch, f])
        n = rows_per_file
        defect = DEFECTS[int(rng.integers(0, len(DEFECTS)))]
        profile = "clean" if f < n_files // 2 else defect
        fmt = int(rng.integers(0, 6))
        years = rng.integers(2001, 2030, n)
        months = rng.integers(0, 12, n)
        state = [STATES[i] for i in rng.integers(0, len(STATES), n)]
        fiscal = _time_values(fmt, years, months)
        population = [str(v) for v in rng.integers(1_000, 90_000_000, n)]
        gdp = [f"{v:.2f}" for v in rng.normal(6.0, 2.5, n)]
        district = [f"D{v:04d}" for v in rng.integers(0, 5000, n)]
        for i in rng.choice(n, max(1, n // 50), replace=False):
            gdp[i] = None  # Measures nulls are allowed
        for i in rng.choice(n, max(1, n // 20), replace=False):
            district[i] = None
        rows = rng.choice(n, 3, replace=False)
        if profile == "null_state":
            for i in rows:
                state[i] = None
        elif profile == "bad_time":
            fiscal[rows[0]] = "Q1 2021"
            fiscal[rows[1]] = "   "
        elif profile == "mixed_time":
            other = _time_values((fmt + 1) % 6, years[rows[:2]], months[rows[:2]])
            fiscal[rows[0]], fiscal[rows[1]] = other
        elif profile == "frac_population":
            population[rows[0]] = "12.5"
            population[rows[1]] = "7.25"
        elif profile == "junk_population":
            population[rows[0]] = "N/A"
        elif profile == "junk_gdp":
            gdp[rows[0]] = "n/a"
        out.append(CsvFile(
            name=f"landing-b{batch:04d}-f{f:02d}.csv", profile=profile,
            columns={"state": state, "fiscal_year": fiscal,
                     "population": population, "gdp_growth": gdp,
                     "district_code": district},
        ))
    return out


def write_csv(f: CsvFile, directory: str) -> int:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f.name)
    table = pa.table({c: pa.array(f.columns[c], pa.string()) for c in CSV_COLUMNS})
    pacsv.write_csv(table, path)
    return os.path.getsize(path)
