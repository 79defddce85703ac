"""Streaming validation: file-source micro-batches through foreachBatch must
produce the same aggregate report as one batch run over the union."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ndap_data_validator_spark.operators.validate import ValidationEngine
from ndap_data_validator_spark.rules.model import ColumnAssignment
from ndap_data_validator_spark.streaming.validate_stream import validate_stream

ASSIGNS = [
    ColumnAssignment("loc", "Location"),
    ColumnAssignment("t", "Time"),
    ColumnAssignment("m", "Measures", "integer"),
]


def _batch(i: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "loc": [f"s{i}-{j}" if j != 1 else None for j in range(10)],
            "t": ["2021" if j != 2 else "Q1 bad" for j in range(10)],
            "m": [str(j) if j != 3 else "x" for j in range(10)],
        }
    )


def test_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    for i in range(3):
        pdf = _batch(i)
        spark.createDataFrame(
            pdf.astype(object).where(pd.notna(pdf), None)
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("loc string, t string, m string")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src)
    )
    q = validate_stream(
        stream,
        ASSIGNS,
        report_path=str(tmp_path / "rep"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    per_col = spark.read.parquet(str(tmp_path / "rep/per_column"))
    assert per_col.select("batch_id").distinct().count() == 3

    # fold per-batch counts and compare to one batch run over everything
    folded = {
        r["column"]: (r["nulls"], r["errs"])
        for r in per_col.groupBy("column")
        .agg(
            F.sum("nulls").alias("nulls"),
            F.sum("conversion_errors").alias("errs"),
        )
        .collect()
    }
    all_df = spark.read.parquet(src)
    batch = ValidationEngine().validate(all_df, ASSIGNS)
    expected = {
        r["column"]: (r["nulls"], r["conversion_errors"])
        for r in batch.per_column_report.collect()
    }
    assert folded == expected

    summary = spark.read.parquet(str(tmp_path / "rep/summary"))
    assert summary.count() == 3
    assert all(not r["passed"] for r in summary.collect())


def test_replayed_batch_replaces_its_report_rows(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the sink write and
    the commit log replays the batch on restart. The replay must replace
    that batch's report rows, not append a second copy."""
    import os

    src = str(tmp_path / "src")
    for i in range(2):
        pdf = _batch(i)
        spark.createDataFrame(
            pdf.astype(object).where(pd.notna(pdf), None)
        ).coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    rep = str(tmp_path / "rep")

    def drain():
        stream = (
            spark.readStream.schema("loc string, t string, m string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        validate_stream(
            stream, ASSIGNS, report_path=rep, checkpoint_path=ckpt
        ).awaitTermination(120)

    drain()
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    drain()

    summary = spark.read.parquet(os.path.join(rep, "summary"))
    keys = summary.groupBy("batch_id", "partition_id").count().collect()
    assert len(keys) == 2 and all(r["count"] == 1 for r in keys), keys
    per_col = spark.read.parquet(os.path.join(rep, "per_column"))
    assert per_col.count() == 2 * len(ASSIGNS)
    assert summary.agg(F.sum("rows")).first()[0] == 20


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark twin of batch duplicate_keys: duplicates
    split across micro-batches (within the watermark) emit exactly once."""
    from ndap_data_validator_spark.streaming.stateful import dedup_stream

    src = str(tmp_path / "dsrc")
    f1 = [("c1", 0, "2026-01-01 00:00:00"), ("c1", 1, "2026-01-01 00:00:30"),
          ("c2", 0, "2026-01-01 00:00:10")]
    f2 = [("c1", 0, "2026-01-01 00:01:00"),   # dup of batch-1 key
          ("c2", 0, "2026-01-01 00:00:10"),   # exact dup row
          ("c3", 0, "2026-01-01 00:02:00")]   # new key
    for rows in [f1, f2]:
        spark.createDataFrame(rows, "conv_id string, turn_idx int, ts string").select(
            "conv_id", "turn_idx", F.col("ts").cast("timestamp").alias("ts")
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = dedup_stream(stream, key_cols=("conv_id", "turn_idx"))
    q = (
        out.writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT conv_id, turn_idx FROM deduped").collect()
    keys = sorted((r["conv_id"], r["turn_idx"]) for r in rows)
    assert keys == [("c1", 0), ("c1", 1), ("c2", 0), ("c3", 0)]


def test_check_rules_stream_equals_batch(spark, tmp_path):
    """CHECK constraints are a stateless scan-level projection, so the SAME
    check_violations call runs unchanged on a streaming frame (no
    watermark, no state) — micro-batched violations must equal the batch
    run over the full input."""
    from ndap_data_validator_spark.operators.checks import check_violations
    from ndap_data_validator_spark.rules.model import CheckRule

    rules = [
        CheckRule("end_ge_start", "e >= s"),
        CheckRule("tool_named", "role <> 'tool' OR tool IS NOT NULL"),
    ]
    src = str(tmp_path / "csrc")
    f1 = [(1, 0, 5, "user", None), (2, 9, 3, "user", None)]   # range viol
    f2 = [(3, 1, 2, "tool", None), (4, None, 2, "tool", "t")]  # tool viol;
    # row 4's NULL s must PASS end_ge_start (SQL CHECK admits unknown)
    for rows in [f1, f2]:
        spark.createDataFrame(
            rows, "id int, s int, e int, role string, tool string"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "id int, s int, e int, role string, tool string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        check_violations(stream, rules, key_cols=("id",))
        .writeStream.format("memory")
        .queryName("chk_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        (r["id"], r["check"])
        for r in spark.sql("SELECT * FROM chk_stream").collect()
    )
    expected = sorted(
        (r["id"], r["check"])
        for r in check_violations(
            spark.read.parquet(src), rules, key_cols=("id",)
        ).collect()
    )
    assert got == expected == [(2, "end_ge_start"), (3, "tool_named")]


def test_sequence_check_stream_equals_batch(spark, tmp_path):
    """Streaming sequence checks == the batch window operator when turns
    arrive in order: same five rules, state (the previous-turn snapshot)
    carries across micro-batches at the file boundary."""
    from ndap_data_validator_spark.operators.convchecks import sequence_checks
    from ndap_data_validator_spark.streaming.stateful import (
        sequence_check_stream,
    )

    fsm = frozenset(
        [("user", "assistant"), ("assistant", "tool"), ("tool", "user")]
    )
    base = "2026-01-01 00:{m:02d}:00"
    rows = [
        # conv A: clean cycle, then a skipped turn (order_gap+bad_transition
        # at 4), a ts regression at 5, a role repeat at 6
        ("A", 0, "user", base.format(m=0)),
        ("A", 1, "assistant", base.format(m=1)),
        ("A", 2, "tool", base.format(m=2)),
        ("A", 4, "assistant", base.format(m=3)),   # gap: tool->assistant ok? NO (tool->user only)
        ("A", 5, "tool", "2026-01-01 00:01:30"),   # regression
        ("A", 6, "tool", base.format(m=5)),        # repeat + bad transition
        # conv B: NULL role in the middle — its two transitions pass
        ("B", 0, "user", base.format(m=0)),
        ("B", 1, None, base.format(m=1)),
        ("B", 2, "tool", base.format(m=2)),
        # conv C: long silence between 0 and 1
        ("C", 0, "user", base.format(m=0)),
        ("C", 1, "assistant", "2026-01-01 03:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts string"
    ).select(
        "conv_id", "turn_idx", "role", F.col("ts").cast("timestamp").alias("ts")
    )
    kwargs = dict(
        expected_step=1, max_gap_sec=3600.0, allowed_transitions=fsm
    )
    batch = {
        (r.conv_id, r.turn_idx, r.check)
        for r in sequence_checks(
            df, key_col="conv_id", order_col="turn_idx",
            ts_col="ts", role_col="role", **kwargs
        ).collect()
    }

    # split each conversation MID-STREAM: turns <= 2 in file 1, rest in
    # file 2 — the boundary comparison (A: 2->4) only works if state
    # carried the turn-2 snapshot into batch 2
    src = str(tmp_path / "seqsrc")
    for pred in [F.col("turn_idx") <= 2, F.col("turn_idx") > 2]:
        df.where(pred).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sequence_check_stream(stream, **kwargs)
        .writeStream.format("memory")
        .queryName("seqviol")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "seqckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.conv_id, r.turn_idx, r.check)
        for r in spark.sql("SELECT * FROM seqviol").collect()
    }
    assert got == batch
    # sanity: the planted defects are all present
    assert ("A", 4, "order_gap") in got
    assert ("A", 4, "bad_transition") in got
    assert ("A", 5, "ts_regression") in got
    assert ("A", 6, "role_repeat") in got
    assert ("C", 1, "long_gap") in got
    assert not any(c == "B" for c, _, _ in got)


def test_sequence_check_stream_drops_null_keys_batch_keeps_them(
    spark, tmp_path
):
    """The stream twin drops rows with a NULL conv_id or turn_idx; the
    batch operator keeps a NULL conv_id as its own key and sorts a NULL
    turn_idx first. On these rows the batch run reports two role repeats
    and the stream reports nothing."""
    from ndap_data_validator_spark.operators.convchecks import sequence_checks
    from ndap_data_validator_spark.streaming.stateful import (
        sequence_check_stream,
    )

    import datetime as dt

    def ts(m):
        return dt.datetime(2026, 1, 1, 0, m)

    rows = [
        ("D", None, "user", ts(0)),
        ("D", 0, "user", ts(1)),
        ("D", 1, "assistant", ts(2)),
        (None, 0, "user", ts(0)),
        (None, 1, "user", ts(1)),
    ]
    schema = "conv_id string, turn_idx int, role string, ts timestamp"
    df = spark.createDataFrame(rows, schema)
    batch = {
        (r.conv_id, r.turn_idx, r.check)
        for r in sequence_checks(
            df, key_col="conv_id", order_col="turn_idx",
            ts_col="ts", role_col="role", expected_step=1,
        ).collect()
    }
    assert batch == {("D", 0, "role_repeat"), (None, 1, "role_repeat")}

    src = str(tmp_path / "nullsrc")
    df.coalesce(1).write.parquet(src)
    q = (
        sequence_check_stream(
            spark.readStream.schema(schema).parquet(src), expected_step=1
        )
        .writeStream.format("memory")
        .queryName("seqviol_nullkeys")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "nullckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT * FROM seqviol_nullkeys").count() == 0


@pytest.mark.parametrize("seed", [7, 19])
def test_sequence_check_stream_fuzz_equals_batch(spark, tmp_path, seed):
    """Seeded fuzz fold: random conversations with random planted defects,
    split into 3 micro-batches at random TURN boundaries (in-order arrival
    per conv) — the stream twin must equal the batch window operator
    exactly, whatever the defects and wherever the batch cuts land."""
    import random as _random

    from ndap_data_validator_spark.operators.convchecks import sequence_checks
    from ndap_data_validator_spark.streaming.stateful import (
        sequence_check_stream,
    )

    rng = _random.Random(seed)
    roles = ["user", "assistant", "tool"]
    fsm = frozenset(
        [("user", "assistant"), ("assistant", "tool"), ("tool", "user")]
    )
    rows = []
    for c in range(8):
        conv = f"c{c:02d}"
        turn, sec = 0, 0
        for _ in range(rng.randint(5, 25)):
            role = roles[turn % 3]
            r = rng.random()
            if r < 0.15:
                turn += rng.randint(2, 4)          # order gap
            if r >= 0.15 and r < 0.25:
                sec -= rng.randint(1, 500)         # ts regression
            elif r < 0.35:
                sec += rng.randint(4000, 9000)     # long gap
            else:
                sec += rng.randint(1, 120)
            if rng.random() < 0.1:
                role = rng.choice(roles + [None, "sys?"])  # FSM breaks
            rows.append((conv, turn, role,
                         f"2026-01-01 00:00:00.{0:03d}", sec))
            turn += 1
    # ts = base + sec seconds, built in Spark to stay timestamp-typed
    df = (
        spark.createDataFrame(
            [(c, t, r, s) for c, t, r, _, s in rows],
            "conv_id string, turn_idx int, role string, sec long",
        )
        .select(
            "conv_id", "turn_idx", "role",
            (F.lit("2026-01-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=F.col("sec"))).alias("ts"),
        )
    )
    kwargs = dict(expected_step=1, max_gap_sec=3600.0,
                  allowed_transitions=fsm)
    batch = {
        (r.conv_id, r.turn_idx, r.check)
        for r in sequence_checks(
            df, key_col="conv_id", order_col="turn_idx",
            ts_col="ts", role_col="role", **kwargs
        ).collect()
    }
    assert batch, "fuzz frame must plant at least one violation"

    max_turn = max(t for _, t, _, _, _ in rows)
    cut1 = rng.randint(1, max_turn - 1)
    cut2 = rng.randint(cut1 + 1, max_turn)
    src = str(tmp_path / f"fuzzsrc{seed}")
    for pred in [
        F.col("turn_idx") < cut1,
        (F.col("turn_idx") >= cut1) & (F.col("turn_idx") < cut2),
        F.col("turn_idx") >= cut2,
    ]:
        part = df.where(pred)
        if part.take(1):
            part.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sequence_check_stream(stream, **kwargs)
        .writeStream.format("memory")
        .queryName(f"fuzzviol{seed}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"fckpt{seed}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.conv_id, r.turn_idx, r.check)
        for r in spark.sql(f"SELECT * FROM fuzzviol{seed}").collect()
    }
    assert got == batch


def test_drift_windowed_stream_equals_batch(spark, tmp_path):
    """Per-window drift at ingest: the streaming run must emit the SAME
    windows with the SAME KS/PSI/JS/W1 as (a) the identical call on the
    batch frame and (b) the interactive drift_check() on each window's
    slice — three-way fold. The fixture plants one in-distribution window
    and one hard-shifted window, so the drifted verdict splits."""
    import math

    from ndap_data_validator_spark.operators.drift import (
        drift_check,
        drift_windowed,
        snapshot,
    )

    src = str(tmp_path / "dwsrc")
    # baseline: value cycles 0..49; window 1 mirrors it, window 2 is
    # shifted way past the grid (overflow-bucket drift)
    rows = []
    for i in range(200):
        rows.append((i, float(i % 50), f"2026-01-01 00:{i % 10:02d}:15"))
    for i in range(200):
        rows.append(
            (1000 + i, 500.0 + (i % 10), f"2026-01-01 01:{i % 10:02d}:15")
        )
    df = spark.createDataFrame(
        rows, "event_id long, amount double, ts string"
    ).select("event_id", "amount", F.col("ts").cast("timestamp").alias("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(src)

    base = spark.createDataFrame(
        [(float(i % 50),) for i in range(500)], "amount double"
    )
    snap = snapshot(base, ["amount"], n_bins=16)

    batch = {
        str(r["window_start"]): r
        for r in drift_windowed(
            df, "ts", "amount", snap, window_duration="1 hour"
        ).collect()
    }
    assert len(batch) == 2

    stream = spark.readStream.schema(
        "event_id long, amount double, ts timestamp"
    ).parquet(src)
    q = (
        drift_windowed(
            stream, "ts", "amount", snap, window_duration="1 hour",
            watermark_delay="1 minute",
        )
        .writeStream.format("memory")
        .queryName("drift_win")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dwckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r["window_start"]): r
        for r in spark.sql("SELECT * FROM drift_win").collect()
    }
    # append mode emits only watermark-finalized windows; every emitted
    # window must equal the batch row bit-for-bit (same plan, same input)
    assert got
    for k, s in got.items():
        b = batch[k]
        for f in ("ks", "psi", "js", "w1"):
            assert s[f] == b[f], (k, f)
        assert s["drifted"] == b["drifted"]
        assert s["current_total"] == b["current_total"]

    # three-way: each batch window row equals drift_check() on its slice
    for k, b in batch.items():
        lo, hi = b["window_start"], b["window_end"]
        (exp,) = drift_check(
            df.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))),
            snap,
        )
        assert math.isclose(b["ks"], exp.ks, abs_tol=1e-9), k
        assert math.isclose(b["psi"], exp.psi, abs_tol=1e-9), k
        assert math.isclose(b["js"], exp.js, abs_tol=1e-9), k
        assert math.isclose(b["w1"], exp.w1, abs_tol=1e-9), k
        assert b["drifted"] == exp.drifted()
    # the mirrored window passes, the shifted one drifts
    verdicts = sorted(
        (str(r["window_start"]), r["drifted"]) for r in batch.values()
    )
    assert [v for _, v in verdicts] == [False, True]


def test_flag_rows_stream_equals_batch(spark, tmp_path):
    """Row-level rule verdicts (ValidationEngine.flag_rows) are one
    stateless scan-level projection, so the SAME call runs unchanged on a
    readStream frame — the at-ingest half of the quarantine routing
    policy. Per-micro-batch verdicts must equal the batch run over the
    full input."""
    from ndap_data_validator_spark.operators.validate import ValidationEngine
    from ndap_data_validator_spark.rules.model import CheckRule, ColumnAssignment

    assigns = [
        ColumnAssignment("loc", "Location"),
        ColumnAssignment("fy", "Time"),
        ColumnAssignment("m", "Measures", "integer"),
    ]
    checks = [CheckRule("m_cap", "TRY_CAST(m AS INT) < 100")]
    schema = "rid long, loc string, fy string, m string"

    src = str(tmp_path / "fsrc")
    f1 = [(1, "a", "2021", "7"), (2, None, "2021", "8")]
    f2 = [(3, "c", "2021", "oops"), (4, "d", "2021", "150")]
    for rows in [f1, f2]:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    eng = ValidationEngine()
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        eng.flag_rows(stream, assigns, check_rules=checks)
        .writeStream.format("memory")
        .queryName("flag_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "fckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def _norm(rows):
        return sorted(
            (r["rid"], tuple(r["row_reasons"]), r["row_passed"]) for r in rows
        )

    got = _norm(spark.sql("SELECT * FROM flag_stream").collect())
    batch = _norm(
        eng.flag_rows(
            spark.read.parquet(src), assigns, check_rules=checks
        ).collect()
    )
    assert got == batch
    verdicts = {rid: (reasons, ok) for rid, reasons, ok in got}
    assert verdicts[1] == ((), True)
    assert verdicts[2] == (("loc: No Nulls allowed",), False)
    assert verdicts[3] == (("m: Non-numeric values detected",), False)
    assert verdicts[4] == (("check: m_cap",), False)
