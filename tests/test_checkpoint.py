"""Resume tests (SURVEY.md §5.5): kill after K of N partitions → re-run
skips K and the final reports are identical to a clean one-shot run."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ndap_data_validator_spark.plans.checkpoint import CheckpointStore
from ndap_data_validator_spark.plans.pipeline import (
    new_run_id,
    partition_key,
    run_validation,
)
from ndap_data_validator_spark.rules.model import ColumnAssignment, assignment_digest
from ndap_data_validator_spark.operators.validate import ValidationEngine
from ndap_data_validator_spark.sources.datagen import transcripts

ASSIGNS = [
    ColumnAssignment("conv_id", "Location"),
    ColumnAssignment("turn_idx", "Measures", "integer", min_value=0),
    ColumnAssignment("role", "Others", regex=r"^(user|assistant|tool)$"),
    ColumnAssignment("ts", "Others"),
]

def PART():
    return F.substring("conv_id", 6, 1)  # few coarse partitions


@pytest.fixture()
def tdf(spark):
    return transcripts(spark, 2_000, 50, seed=42)


def test_resume_skips_done_partitions(spark, tdf, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    run_id = new_run_id()
    engine = ValidationEngine()
    digest = assignment_digest(ASSIGNS, engine.catalog, engine.schema_name)

    # simulate a prior run that completed partition "0" then died
    all_parts = [
        r[0] for r in tdf.select(partition_key(PART())).distinct().collect()
    ]
    store = CheckpointStore(spark, ckpt)
    store.mark_done(run_id, all_parts[0], digest, {"rows": 0, "passed": True})

    outcome = run_validation(
        spark, tdf, ASSIGNS, PART(), checkpoint_path=ckpt, run_id=run_id
    )
    assert outcome.skipped_partitions == [all_parts[0]]
    assert set(outcome.processed_partitions) == set(all_parts) - {all_parts[0]}
    # the skipped partition was not re-validated
    got_parts = {
        r["partition_id"] for r in outcome.result.summary.collect()
    }
    assert all_parts[0] not in got_parts


def test_resumed_reports_match_clean_run(spark, tdf, tmp_path):
    # clean one-shot
    clean = run_validation(
        spark, tdf, ASSIGNS, PART(), checkpoint_path=str(tmp_path / "c1"),
        report_path=str(tmp_path / "r1"),
    )
    # interrupted run: partition done-marked, then resumed with report writes
    run_id = new_run_id()
    ckpt2 = str(tmp_path / "c2")
    engine = ValidationEngine()
    digest = assignment_digest(ASSIGNS, engine.catalog, engine.schema_name)
    store = CheckpointStore(spark, ckpt2)

    first_part = sorted(clean.processed_partitions)[0]
    # "first half" run: validate ONLY that partition and write its report
    sub = tdf.where(partition_key(PART()) == first_part)
    r1 = run_validation(
        spark, sub, ASSIGNS, PART(), checkpoint_path=ckpt2, run_id=run_id,
        report_path=str(tmp_path / "r2"),
    )
    assert r1.processed_partitions == [first_part]
    # resume over the full table
    r2 = run_validation(
        spark, tdf, ASSIGNS, PART(), checkpoint_path=ckpt2, run_id=run_id,
        report_path=str(tmp_path / "r2"),
    )
    assert r2.skipped_partitions == [first_part]

    a = spark.read.parquet(str(tmp_path / "r1/per_column"))
    b = spark.read.parquet(str(tmp_path / "r2/per_column"))
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert clean.passed_all == r2.passed_all


def test_rule_change_invalidates_checkpoint(spark, tdf, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    run_id = new_run_id()
    out1 = run_validation(spark, tdf, ASSIGNS, PART(), checkpoint_path=ckpt, run_id=run_id)
    assert out1.skipped_partitions == []
    # same run id, changed rules → nothing skipped
    changed = [ASSIGNS[0], ColumnAssignment("turn_idx", "Measures", "integer", min_value=5)] + ASSIGNS[2:]
    out2 = run_validation(spark, tdf, changed, PART(), checkpoint_path=ckpt, run_id=run_id)
    assert out2.skipped_partitions == []
    # unchanged rules → everything skipped
    out3 = run_validation(spark, tdf, ASSIGNS, PART(), checkpoint_path=ckpt, run_id=run_id)
    assert set(out3.skipped_partitions) == set(out1.processed_partitions)
    assert out3.processed_partitions == []


def test_metrics_json_recorded(spark, tdf, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    out = run_validation(spark, tdf, ASSIGNS, PART(), checkpoint_path=ckpt)
    store = CheckpointStore(spark, ckpt)
    rows = store.run_log(out.run_id).collect()
    assert len(rows) == len(out.processed_partitions)
    m = json.loads(rows[0]["metrics_json"])
    assert {"rows", "failed_count", "failed_columns", "passed", "columns"} <= set(m)
    # per-column stats accumulators present for every assigned column
    a_col = m["columns"]["conv_id"]
    assert {"nulls", "conversion_errors", "passed"} <= set(a_col)


def test_corrupt_store_raises(spark, tmp_path):
    """A broken checkpoint store must RAISE, not silently read as empty —
    resuming on a corrupt store would re-validate everything (or restart)."""
    import os

    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt, exist_ok=True)
    with open(os.path.join(ckpt, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    store = CheckpointStore(spark, ckpt)
    with pytest.raises(Exception):
        store.completed_partitions("RUN-X", "digest")


def test_missing_store_reads_empty(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "never_written"))
    assert store.completed_partitions("RUN-X", "digest") == set()


def _mini_frames(spark):
    rows1 = [(f"p{i % 4}", i, float(i)) for i in range(400)]
    rows2 = [(f"q{i % 3}", i, float(i)) for i in range(400, 700)]
    df1 = spark.createDataFrame(rows1, "part string, seq long, m double")
    df2 = spark.createDataFrame(rows2, "part string, seq long, m double")
    return df1, df1.unionByName(df2)


MINI_ASSIGNS = [
    ColumnAssignment("part", "Location"),
    ColumnAssignment("m", "Measures", "float"),
]

# role-complete set (publish requires summary.passed, which needs the
# mandatory Time role assigned)
PUB_ASSIGNS = [
    ColumnAssignment("part", "Others"),
    ColumnAssignment("t", "Time"),
    ColumnAssignment("m", "Measures", "float"),
]


def test_delta_load_mode_incremental_equals_full(spark, tmp_path):
    """VERDICT r01 #5: a delta run over appended data validates ONLY the new
    rows, and the folded report directory equals a full re-run's report."""
    df1, both = _mini_frames(spark)
    ckpt, rep = str(tmp_path / "ckpt"), str(tmp_path / "rep")

    out1 = run_validation(
        spark, df1, MINI_ASSIGNS, "part", checkpoint_path=ckpt,
        report_path=rep, load_mode="delta", watermark_col="seq",
    )
    assert sorted(out1.processed_partitions) == ["p0", "p1", "p2", "p3"]

    out2 = run_validation(
        spark, both, MINI_ASSIGNS, "part", checkpoint_path=ckpt,
        report_path=rep, load_mode="delta", watermark_col="seq",
    )
    # only the appended rows (seq > 399) were validated
    assert sorted(out2.processed_partitions) == ["q0", "q1", "q2"]

    full = run_validation(
        spark, both, MINI_ASSIGNS, "part",
        checkpoint_path=str(tmp_path / "ckpt2"),
        report_path=str(tmp_path / "rep2"), load_mode="full_reload",
    )
    # delta-mode report dirs carry the batch key; the fold ignores it
    a = spark.read.parquet(f"{rep}/per_column").drop("delta_batch")
    b = spark.read.parquet(str(tmp_path / "rep2/per_column"))
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert sorted(full.processed_partitions) == sorted(
        ["p0", "p1", "p2", "p3", "q0", "q1", "q2"]
    )


def test_delta_noop_when_no_new_rows(spark, tmp_path):
    df1, _ = _mini_frames(spark)
    ckpt = str(tmp_path / "ckpt")
    run_validation(
        spark, df1, MINI_ASSIGNS, "part", checkpoint_path=ckpt,
        load_mode="delta", watermark_col="seq",
    )
    again = run_validation(
        spark, df1, MINI_ASSIGNS, "part", checkpoint_path=ckpt,
        load_mode="delta", watermark_col="seq",
    )
    assert again.processed_partitions == []


def test_full_reload_ignores_completions(spark, tmp_path):
    df1, _ = _mini_frames(spark)
    ckpt = str(tmp_path / "ckpt")
    run_id = new_run_id()
    out1 = run_validation(
        spark, df1, MINI_ASSIGNS, "part", checkpoint_path=ckpt, run_id=run_id
    )
    out2 = run_validation(
        spark, df1, MINI_ASSIGNS, "part", checkpoint_path=ckpt, run_id=run_id,
        load_mode="full_reload",
    )
    assert out2.skipped_partitions == []
    assert out2.processed_partitions == out1.processed_partitions


def test_delta_batch_into_existing_partition_preserves_publish(spark, tmp_path):
    """ADVICE r02 (high): a delta batch landing in an ALREADY-PUBLISHED
    partition must not replace that partition's published rows with just the
    delta slice — batches accumulate under distinct delta_batch keys."""
    ckpt = str(tmp_path / "ckpt")
    pub = str(tmp_path / "pub")
    rep = str(tmp_path / "rep")
    df1 = spark.createDataFrame(
        [(f"p{i % 2}", i, float(i), "2021") for i in range(100)],
        "part string, seq long, m double, t string",
    )
    run_validation(
        spark, df1, PUB_ASSIGNS, "part", checkpoint_path=ckpt,
        report_path=rep, publish_path=pub,
        load_mode="delta", watermark_col="seq",
    )
    assert spark.read.parquet(pub).count() == 100

    # second intra-day batch: 40 MORE rows for the SAME partitions p0/p1
    both = df1.unionByName(
        spark.createDataFrame(
            [(f"p{i % 2}", i, float(i), "2021") for i in range(100, 140)],
            "part string, seq long, m double, t string",
        )
    )
    out2 = run_validation(
        spark, both, PUB_ASSIGNS, "part", checkpoint_path=ckpt,
        report_path=rep, publish_path=pub,
        load_mode="delta", watermark_col="seq",
    )
    assert sorted(out2.processed_partitions) == ["p0", "p1"]
    published = spark.read.parquet(pub)
    # 100 original + 40 delta rows all present — nothing clobbered
    assert published.count() == 140
    assert published.select("seq").distinct().count() == 140
    # report rows accumulated per batch (2 batches × 2 partitions × 2 cols)
    repdf = spark.read.parquet(f"{rep}/per_column")
    assert repdf.select("delta_batch").distinct().count() == 2


def test_delta_retry_same_batch_is_idempotent(spark, tmp_path):
    """A failed/retried batch reuses its watermark-derived batch key, so the
    retry REPLACES the prior attempt's published rows instead of duplicating
    them."""
    ckpt = str(tmp_path / "ckpt")
    pub = str(tmp_path / "pub")
    df1 = spark.createDataFrame(
        [("p0", i, float(i), "2021") for i in range(50)],
        "part string, seq long, m double, t string",
    )
    run_validation(
        spark, df1, PUB_ASSIGNS, "part", checkpoint_path=ckpt,
        publish_path=pub, load_mode="delta", watermark_col="seq",
    )
    store = CheckpointStore(spark, ckpt)
    wm_before = store.last_watermark("seq")

    # simulate a retry of the SAME interval: wind the watermark back by
    # re-recording the initial state is not possible (append-only), so run
    # the same batch again against a fresh store pointing at the same pub —
    # same lower bound (None) → same batch key → dynamic overwrite replaces
    ckpt2 = str(tmp_path / "ckpt2")
    run_validation(
        spark, df1, PUB_ASSIGNS, "part", checkpoint_path=ckpt2,
        publish_path=pub, load_mode="delta", watermark_col="seq",
    )
    assert spark.read.parquet(pub).count() == 50  # replaced, not doubled
    assert CheckpointStore(spark, ckpt2).last_watermark("seq") == wm_before


def test_delta_watermark_not_advanced_on_failure(spark, tmp_path):
    """ADVICE r02 (medium): a failed delta batch must NOT advance the
    watermark — its rows stay above the watermark and are re-validated by
    the next delta run instead of being permanently skipped."""
    assigns = [
        ColumnAssignment("part", "Location"),
        ColumnAssignment("m", "Measures", "float", min_value=0),
    ]
    ckpt = str(tmp_path / "ckpt")
    good = spark.createDataFrame(
        [("p0", i, float(i)) for i in range(20)],
        "part string, seq long, m double",
    )
    run_validation(
        spark, good, assigns, "part", checkpoint_path=ckpt,
        load_mode="delta", watermark_col="seq",
    )
    store = CheckpointStore(spark, ckpt)
    assert store.last_watermark("seq") == "19"

    # next batch contains an out-of-range value → partition fails
    bad = good.unionByName(
        spark.createDataFrame(
            [("p0", 20, -5.0), ("p0", 21, 21.0)],
            "part string, seq long, m double",
        )
    )
    out2 = run_validation(
        spark, bad, assigns, "part", checkpoint_path=ckpt,
        load_mode="delta", watermark_col="seq",
    )
    assert not out2.passed_all
    assert store.last_watermark("seq") == "19"  # NOT advanced

    # the failed rows are re-picked by the next delta run (retry story)
    out3 = run_validation(
        spark, bad, assigns, "part", checkpoint_path=ckpt,
        load_mode="delta", watermark_col="seq",
    )
    assert sorted(out3.processed_partitions) == ["p0"]


def test_checkpoint_store_compaction(spark, tmp_path):
    """VERDICT r02 #5: many append commits → compact() → identical
    completed_partitions / last_watermark, file count collapsed to 1."""
    path = str(tmp_path / "ckpt")
    store = CheckpointStore(spark, path)
    for i in range(30):
        store.mark_done(f"RUN-{i % 3}", f"part-{i}", "digest-A", {"rows": i})
        if i % 10 == 0:
            store.record_watermark("seq", str(100 + i))
    # a re-commit of an existing key: compaction must keep only the latest
    store.mark_done("RUN-0", "part-0", "digest-A", {"rows": 999})

    before_done = {
        r: store.completed_partitions(f"RUN-{r}", "digest-A") for r in range(3)
    }
    before_wm = store.last_watermark("seq")
    files_before = store.file_count()
    assert files_before >= 30

    kept = store.compact()
    assert kept > 0
    after_done = {
        r: store.completed_partitions(f"RUN-{r}", "digest-A") for r in range(3)
    }
    assert after_done == before_done
    assert store.last_watermark("seq") == before_wm == "120"
    assert store.file_count() == 1
    # the duplicate-keyed record collapsed to the newest metrics
    import json as _json

    row = (
        store.run_log("RUN-0")
        .where(F.col("partition_id") == "part-0")
        .collect()
    )
    assert len(row) == 1
    assert _json.loads(row[0]["metrics_json"])["rows"] == 999


def test_maybe_compact_threshold(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    store = CheckpointStore(spark, path)
    for i in range(6):
        store.mark_done("RUN-X", f"p{i}", "d", {})
    assert store.maybe_compact(max_files=10) is None  # under threshold
    assert store.file_count() == 6
    assert store.maybe_compact(max_files=3) is not None
    assert store.file_count() == 1
    assert store.completed_partitions("RUN-X", "d") == {f"p{i}" for i in range(6)}


def _fs_rename(spark, src: str, dst: str) -> None:
    jvm = spark._jvm
    HPath = jvm.org.apache.hadoop.fs.Path
    fs = HPath(src).getFileSystem(spark._jsc.hadoopConfiguration())
    assert fs.rename(HPath(src), HPath(dst))


def test_compaction_crash_recovery(spark, tmp_path):
    """r03 ADVICE (medium): the compaction swap is rename-aside, and an
    interrupted swap is recovered on the next read — the store is never
    silently empty (which would reset the delta watermark and reprocess
    everything under a new batch key)."""
    path = str(tmp_path / "ckpt")
    store = CheckpointStore(spark, path)
    for i in range(5):
        store.mark_done("RUN-R", f"p{i}", "d", {"rows": i})
    store.record_watermark("seq", "42")
    expect = store.completed_partitions("RUN-R", "d")

    # crash BETWEEN the two renames: main gone, __old holds the store
    _fs_rename(spark, path, path + "__old")
    assert store.completed_partitions("RUN-R", "d") == expect  # rolled back
    assert store.last_watermark("seq") == "42"

    # crash AFTER the swap: both main and a stale __old present
    _fs_rename(spark, path, path + "__old")
    _fs_rename(spark, path + "__old", path)  # (restore main…)
    store.mark_done("RUN-R", "p5", "d", {"rows": 5})
    import shutil

    shutil.copytree(path, path + "__old")  # stale side copy
    assert store.completed_partitions("RUN-R", "d") == expect | {"p5"}
    import os

    assert not os.path.exists(path + "__old")  # stale copy dropped

    # a leftover __compacting side dir is ignored by reads (recovery must
    # NOT sweep it — a concurrent reader would otherwise destroy an
    # in-flight compaction's side write) and overwritten by the next
    # compact(), which still works after all of the above
    shutil.copytree(path, path + "__compacting")
    assert store.completed_partitions("RUN-R", "d") == expect | {"p5"}
    assert os.path.exists(path + "__compacting")  # untouched by reads
    assert store.compact() > 0
    assert store.completed_partitions("RUN-R", "d") == expect | {"p5"}
    assert not os.path.exists(path + "__compacting")  # consumed by the swap


def test_mixed_mode_partition_depth_fails_fast(spark, tmp_path):
    """r03 ADVICE (medium): delta mode adds a delta_batch partition level;
    pointing a delta run at a report/publish path written by a non-delta
    run must fail BEFORE writing (Spark cannot read mixed depths)."""
    import pytest

    assigns = [
        ColumnAssignment("part", "Location"),
        ColumnAssignment("m", "Measures", "float"),
    ]
    report = str(tmp_path / "report")
    df = spark.createDataFrame(
        [("p0", i, float(i)) for i in range(10)],
        "part string, seq long, m double",
    )
    run_validation(
        spark, df, assigns, "part",
        checkpoint_path=str(tmp_path / "c1"), report_path=report,
    )
    with pytest.raises(ValueError, match="partition layout mismatch"):
        run_validation(
            spark, df, assigns, "part",
            checkpoint_path=str(tmp_path / "c2"), report_path=report,
            load_mode="delta", watermark_col="seq",
        )
    # …and the reverse direction: delta first, then full
    report2 = str(tmp_path / "report2")
    run_validation(
        spark, df, assigns, "part",
        checkpoint_path=str(tmp_path / "c3"), report_path=report2,
        load_mode="delta", watermark_col="seq",
    )
    with pytest.raises(ValueError, match="partition layout mismatch"):
        run_validation(
            spark, df, assigns, "part",
            checkpoint_path=str(tmp_path / "c4"), report_path=report2,
        )
    # …and a publish path as the only mismatch: every sink's layout is
    # checked before the first write, so no report row and no checkpoint
    # record lands before the refusal
    timed = df.withColumn("t", F.lit("2021"))
    timed_assigns = assigns + [ColumnAssignment("t", "Time")]
    pub = str(tmp_path / "pub")
    run_validation(
        spark, timed, timed_assigns, "part",
        checkpoint_path=str(tmp_path / "c5"), publish_path=pub,
    )
    report3 = tmp_path / "report3"
    with pytest.raises(ValueError, match="partition layout mismatch"):
        run_validation(
            spark, timed, timed_assigns, "part",
            checkpoint_path=str(tmp_path / "c6"), report_path=str(report3),
            publish_path=pub, load_mode="delta", watermark_col="seq",
        )
    assert not report3.exists()
    assert CheckpointStore(spark, str(tmp_path / "c6")).run_log_all().count() == 0


def test_failed_publish_leaves_partitions_resumable(spark, tmp_path):
    """The checkpoint is committed after every sink: a call whose publish
    write fails records no partition as 'done', so a resume under the same
    run_id validates and publishes every partition instead of skipping
    them with passed_all=True and no published rows."""
    df = spark.createDataFrame(
        [(p, f"x{i}", "2021", str(i)) for p in ("p0", "p1") for i in range(5)],
        "part string, loc string, t string, m string",
    )
    assigns = [
        ColumnAssignment("part", "Others"),
        ColumnAssignment("loc", "Location"),
        ColumnAssignment("t", "Time"),
        ColumnAssignment("m", "Measures", "integer"),
    ]
    ckpt = str(tmp_path / "ckpt")
    run_id = new_run_id()
    not_a_dir = tmp_path / "pub_file"
    not_a_dir.write_text("a regular file where the publish directory goes")
    with pytest.raises(Exception, match="ParentNotDirectory|[Nn]ot a directory"):
        run_validation(
            spark, df, assigns, "part", checkpoint_path=ckpt, run_id=run_id,
            publish_path=str(not_a_dir),
        )
    assert CheckpointStore(spark, ckpt).run_log(run_id).count() == 0

    pub = tmp_path / "pub"
    out = run_validation(
        spark, df, assigns, "part", checkpoint_path=ckpt, run_id=run_id,
        publish_path=str(pub),
    )
    assert out.skipped_partitions == []
    assert out.processed_partitions == ["p0", "p1"]
    assert out.passed_all
    assert sorted(
        d.name for d in pub.iterdir() if d.name.startswith("partition_id=")
    ) == ["partition_id=p0", "partition_id=p1"]


def test_sequence_rule_violations_written_and_resume_safe(spark, tdf, tmp_path):
    """run_validation(sequence_rule=…) writes conversation-order violation
    rows next to the per-row violations, with the same dynamic-overwrite
    resume contract: the resumed half must not wipe the done half."""
    from ndap_data_validator_spark.rules.model import SequenceRule

    rule = SequenceRule(
        key_column="conv_id", order_column="turn_idx",
        ts_column="ts", role_column="role", expected_step=1,
    )
    clean = run_validation(
        spark, tdf, ASSIGNS, PART(), checkpoint_path=str(tmp_path / "c1"),
        report_path=str(tmp_path / "r1"), sequence_rule=rule,
    )
    a = spark.read.parquet(str(tmp_path / "r1/sequence_violations"))
    assert a.where(F.col("check") == "order_gap").count() > 0
    assert set(a.columns) == {"conv_id", "turn_idx", "check", "partition_id"}

    # interrupted: one partition first, then resume over the full table
    run_id = new_run_id()
    first_part = sorted(clean.processed_partitions)[0]
    sub = tdf.where(partition_key(PART()) == first_part)
    run_validation(
        spark, sub, ASSIGNS, PART(), checkpoint_path=str(tmp_path / "c2"),
        run_id=run_id, report_path=str(tmp_path / "r2"), sequence_rule=rule,
    )
    r2 = run_validation(
        spark, tdf, ASSIGNS, PART(), checkpoint_path=str(tmp_path / "c2"),
        run_id=run_id, report_path=str(tmp_path / "r2"), sequence_rule=rule,
    )
    assert r2.skipped_partitions == [first_part]
    b = spark.read.parquet(str(tmp_path / "r2/sequence_violations"))
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_sequence_and_check_rules_in_digest(spark, tdf, tmp_path):
    """Changing a CheckRule or SequenceRule invalidates 'done' partitions
    (they are part of the run's rule identity); the classic path (no such
    rules) keeps the bare assignment digest, so its checkpoints are
    untouched by the composition."""
    from ndap_data_validator_spark.rules.model import (
        CheckRule,
        SequenceRule,
        run_rule_digest,
    )

    base = "d" * 64
    assert run_rule_digest(base) == base  # identity without extra rules
    seq = SequenceRule("conv_id", "turn_idx", expected_step=1)
    chk = [CheckRule("cap", "turn_idx <= 100")]
    d1 = run_rule_digest(base, seq, chk)
    assert d1 != base
    # deterministic, and sensitive to each family independently
    assert d1 == run_rule_digest(base, seq, chk)
    assert d1 != run_rule_digest(base, None, chk)
    assert d1 != run_rule_digest(base, seq, [CheckRule("cap", "turn_idx <= 99")])
    fsm = SequenceRule(
        "conv_id", "turn_idx", role_column="role",
        allowed_transitions=frozenset([("user", "assistant")]),
    )
    assert run_rule_digest(base, fsm) != run_rule_digest(base, seq)

    ckpt = str(tmp_path / "ckpt")
    run_id = new_run_id()
    out1 = run_validation(
        spark, tdf, ASSIGNS, PART(), checkpoint_path=ckpt, run_id=run_id,
        check_rules=chk, report_path=str(tmp_path / "rep"),
        order_by=["conv_id", "turn_idx"],
    )
    assert out1.skipped_partitions == []
    # same rules → everything skipped
    out2 = run_validation(
        spark, tdf, ASSIGNS, PART(), checkpoint_path=ckpt, run_id=run_id,
        check_rules=chk, report_path=str(tmp_path / "rep"),
        order_by=["conv_id", "turn_idx"],
    )
    assert set(out2.skipped_partitions) == set(out1.processed_partitions)
    # changed CHECK expression → nothing skipped
    out3 = run_validation(
        spark, tdf, ASSIGNS, PART(), checkpoint_path=ckpt, run_id=run_id,
        check_rules=[CheckRule("cap", "turn_idx <= 99")],
        report_path=str(tmp_path / "rep"), order_by=["conv_id", "turn_idx"],
    )
    assert out3.skipped_partitions == []


def _clean_tdf(tdf):
    # injected null conv_ids would fail no rule here, but dropping them
    # keeps the observed-manifest fold exact; fy/turn_idx satisfy the
    # catalog's mandatory Time+Measures roles so the base run PASSES and
    # the completeness verdict is isolated
    return tdf.where(F.col("conv_id").isNotNull()).withColumn(
        "fy", F.lit("2024")
    )


def _complete_assigns():
    return [
        ColumnAssignment("fy", "Time"),
        ColumnAssignment("turn_idx", "Measures", "integer"),
    ]


def _read_census(spark, path):
    # the partition column round-trips through directory names, so its
    # read-back type is inferred — normalize to string for the compare
    return {
        r["partition_id"]: r["status"]
        for r in spark.read.parquet(path)
        .select(F.col("partition_id").cast("string"), "status")
        .collect()
    }


def test_expected_partitions_gate(spark, tdf, tmp_path):
    """A missing expected partition fails passed_all, writes the census
    report, and the same manifest without the ghost passes — no row-level
    rule ever sees the failure (the rows never arrived)."""
    tdf = _clean_tdf(tdf)
    observed = sorted(
        r[0] for r in tdf.select(partition_key(PART())).distinct().collect()
    )

    out_ok = run_validation(
        spark, tdf, _complete_assigns(), PART(),
        checkpoint_path=str(tmp_path / "c1"),
        report_path=str(tmp_path / "r1"),
        expected_partitions=observed,
    )
    assert out_ok.passed_all is True
    census = _read_census(spark, str(tmp_path / "r1" / "completeness"))
    assert set(census.values()) == {"ok"}

    out_missing = run_validation(
        spark, tdf, _complete_assigns(), PART(),
        checkpoint_path=str(tmp_path / "c2"),
        report_path=str(tmp_path / "r2"),
        expected_partitions=observed + ["ghost"],
    )
    assert out_missing.passed_all is False
    census2 = _read_census(spark, str(tmp_path / "r2" / "completeness"))
    assert census2["ghost"] == "missing"
    assert all(v == "ok" for k, v in census2.items() if k != "ghost")


def test_expected_partitions_census_covers_resumed_slice(spark, tdf, tmp_path):
    """On resume the census still sees completed partitions (it runs over
    the full batch slice, not the remainder) — a done partition must not
    flip to 'missing'."""
    ckpt = str(tmp_path / "ckpt")
    run_id = new_run_id()
    engine = ValidationEngine()
    assigns = _complete_assigns()
    digest = assignment_digest(assigns, engine.catalog, engine.schema_name)
    tdf = _clean_tdf(tdf)
    observed = sorted(
        r[0] for r in tdf.select(partition_key(PART())).distinct().collect()
    )
    store = CheckpointStore(spark, ckpt)
    store.mark_done(
        run_id, observed[0], digest,
        {"rows": 1, "failed_count": 0, "passed": True},
    )

    out = run_validation(
        spark, tdf, assigns, PART(),
        checkpoint_path=ckpt, run_id=run_id,
        report_path=str(tmp_path / "rep"),
        expected_partitions=observed,
    )
    assert out.skipped_partitions == [observed[0]]
    census = _read_census(spark, str(tmp_path / "rep" / "completeness"))
    assert census[observed[0]] == "ok"
    assert out.passed_all is True


def test_expected_min_rows_undersized_fails_run(spark, tdf, tmp_path):
    tdf = _clean_tdf(tdf)
    observed = sorted(
        r[0] for r in tdf.select(partition_key(PART())).distinct().collect()
    )
    out = run_validation(
        spark, tdf, _complete_assigns(), PART(),
        checkpoint_path=str(tmp_path / "c"),
        expected_partitions=observed,
        expected_min_rows=10**9,
    )
    assert out.passed_all is False
    statuses = {r["status"] for r in out.completeness.collect()}
    assert statuses == {"undersized"}


def test_observed_partitions_manifest_closes_the_loop(spark, tdf, tmp_path):
    """store.observed_partitions() (yesterday's done keys) feeds the next
    batch's expected_partitions — a partition that validated yesterday but
    never arrives today is reported missing and fails the run."""
    ckpt = str(tmp_path / "ckpt")
    store = CheckpointStore(spark, ckpt)
    engine = ValidationEngine()
    assigns = _complete_assigns()
    digest = assignment_digest(assigns, engine.catalog, engine.schema_name)

    # run 1 (older): partitions a, b     run 2 (latest): a, b, c
    store.mark_done("RUN-OLD", "a", digest, {"rows": 1, "passed": True})
    store.mark_done("RUN-OLD", "b", digest, {"rows": 1, "passed": True})
    store.mark_done("RUN-NEW", "a", digest, {"rows": 1, "passed": True})
    store.mark_done("RUN-NEW", "b", digest, {"rows": 1, "passed": True})
    store.mark_done("RUN-NEW", "c", digest, {"rows": 1, "passed": True})

    latest = {
        r["partition_id"] for r in store.observed_partitions(1).collect()
    }
    assert latest == {"a", "b", "c"}
    both = {
        r["partition_id"] for r in store.observed_partitions(2).collect()
    }
    assert both == {"a", "b", "c"}
    with pytest.raises(ValueError, match=">= 1"):
        store.observed_partitions(0)

    # today's batch only carries partitions a and b → c must be missing
    tdf2 = _clean_tdf(tdf).withColumn(
        "p", F.when(F.col("turn_idx") % 2 == 0, "a").otherwise("b")
    )
    out = run_validation(
        spark, tdf2, assigns, "p",
        checkpoint_path=str(tmp_path / "ckpt2"),
        report_path=str(tmp_path / "rep"),
        expected_partitions=store.observed_partitions(1),
    )
    assert out.passed_all is False
    census = _read_census(spark, str(tmp_path / "rep" / "completeness"))
    assert census["c"] == "missing"
    assert census["a"] == "ok" and census["b"] == "ok"
