"""Stateful streaming operators (engine extensions; SURVEY §2.10 — the
reference has no streaming surface).

Two shapes a transcript/event stream needs beyond per-batch validation:

  * ``dedup_stream`` — at-ingest (conv_id, turn_idx) uniqueness via
    ``dropDuplicatesWithinWatermark``.
  * ``sequence_check_stream`` — custom stateful operator via Arrow-batched
    ``applyInPandasWithState`` (the sanctioned escape hatch for semantics
    the built-ins can't express): the conversation-order rules against one
    previous-turn snapshot per conversation, evicted by an event-time
    timeout.

Both are per-key bounded-state: memory is O(keys active within one
watermark window), not O(events) and not O(all keys ever seen) — the
property that matters on an unbounded 100 TB/day stream with key churn.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedup_stream(
    stream_df: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: the first arrival of each
    key passes through; re-arrivals within the watermark window are dropped
    (`dropDuplicatesWithinWatermark`, the built-in whose per-key state is
    evicted once the watermark passes — unlike plain ``dropDuplicates`` on
    a stream, whose state grows with every key ever seen).

    This is the streaming twin of the batch ``duplicate_keys`` operator:
    the same (conv_id, turn_idx) uniqueness contract (north_rule), enforced
    at ingest time with O(keys-per-window) memory — the property that
    matters on an unbounded transcript stream.
    Late duplicates beyond the watermark are the documented residual risk
    (identical to every watermarked-state trade-off); a periodic batch
    ``duplicate_keys`` sweep closes the gap."""
    return stream_df.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


SEQ_OUTPUT_SCHEMA = "conv_id string, turn_idx int, check string"
# previous-turn snapshot; has_* flags carry SQL NULL-ness through the state
# row (a NULL prev ts/role must keep PASSING comparisons, exactly like the
# batch window's lag)
_SEQ_STATE_SCHEMA = (
    "last_turn bigint, last_sec bigint, last_role string, "
    "has_ts boolean, has_role boolean"
)


def _seq_check_fn(
    expected_step: int | None,
    max_gap_sec: float | None,
    allowed: frozenset[tuple[str, str]] | None,
    check_roles: bool,
    evict_sec: int,
):
    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            # watermark passed last turn + evict window with no new turns:
            # drop the 5-scalar snapshot so state is O(active convs)
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [], "turn_idx": [], "check": []}
            ).astype({"conv_id": str, "turn_idx": "int32", "check": str})
            return

        if state.exists:
            last_turn, last_sec, last_role, has_ts, has_role = state.get
            prev = (
                int(last_turn),
                int(last_sec) if has_ts else None,
                last_role if has_role else None,
            )
        else:
            prev = None

        rows: list[tuple[int, int | None, str | None]] = []
        for pdf in pdfs:
            ts = pd.to_datetime(pdf["ts"])
            for t, v, r in zip(pdf["turn_idx"], ts, pdf["role"]):
                rows.append(
                    (
                        int(t),
                        int(v.timestamp()) if pd.notna(v) else None,
                        r if isinstance(r, str) else None,
                    )
                )
        rows.sort(key=lambda x: x[0])

        out: list[tuple[str, int, str]] = []
        for turn, sec, role in rows:
            if prev is not None:
                pturn, psec, prole = prev
                if expected_step is not None and turn != pturn + expected_step:
                    out.append((conv_id, turn, "order_gap"))
                if sec is not None and psec is not None:
                    if sec < psec:
                        out.append((conv_id, turn, "ts_regression"))
                    if max_gap_sec is not None and sec > psec + max_gap_sec:
                        out.append((conv_id, turn, "long_gap"))
                if check_roles and role is not None and prole is not None:
                    if role == prole:
                        out.append((conv_id, turn, "role_repeat"))
                    if allowed is not None and (prole, role) not in allowed:
                        out.append((conv_id, turn, "bad_transition"))
            prev = (turn, sec, role)

        if prev is not None:
            turn, sec, role = prev
            state.update(
                (
                    turn,
                    sec if sec is not None else 0,
                    role if role is not None else "",
                    sec is not None,
                    role is not None,
                )
            )
            if sec is not None:
                state.setTimeoutTimestamp(
                    max(
                        (sec + evict_sec) * 1000,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )

        yield pd.DataFrame(
            {
                "conv_id": [r[0] for r in out],
                "turn_idx": pd.array([r[1] for r in out], dtype="int32"),
                "check": [r[2] for r in out],
            }
        )

    return fn


def sequence_check_stream(
    stream_df: DataFrame,
    key_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    role_col: str = "role",
    expected_step: int | None = 1,
    max_gap_sec: float | None = None,
    allowed_transitions: frozenset[tuple[str, str]] | None = None,
    watermark_delay: str = "10 minutes",
    evict_sec: int = 3600,
) -> DataFrame:
    """Streaming twin of ``operators/convchecks.sequence_checks``: the same
    five conversation-order rules (turn contiguity, ts monotonicity, role
    alternation, max silence, role-transition FSM) evaluated AT INGEST over
    an unbounded transcript stream via ``applyInPandasWithState``.

    State per conversation is ONE previous-turn snapshot (5 scalars) —
    independent of conversation length — and bounded in key count by an
    event-time timeout that evicts convs idle past ``evict_sec`` once the
    watermark passes. A NULL prev/current ts or role makes its
    comparisons UNKNOWN, which passes, as in the batch operator.

    NULL keys differ from the batch operator: rows whose ``key_col`` or
    ``order_col`` is NULL are dropped before the state function, while
    ``sequence_checks`` keeps a NULL conversation id as its own key and
    sorts a NULL order value first. So the stream≡batch fold holds only
    on rows whose key and order value are both set
    (tests/test_streaming.py pins the difference).

    Ordering contract: within each micro-batch a conversation's arrivals
    are sorted by ``order_col`` before checking;
    across batches the check compares against the last PREVIOUSLY SEEN
    turn, so turns that arrive out of order ACROSS micro-batches surface
    as order_gap/ts_regression at the boundary — the honest answer an
    at-ingest validator can give; the batch operator over the settled
    table is the reconciliation pass (same fold contract as
    ``dedup_stream``)."""
    events = (
        stream_df.select(
            F.col(key_col).cast("string").alias("conv_id"),
            F.col(order_col).cast("int").alias("turn_idx"),
            F.col(ts_col).cast("timestamp").alias("ts"),
            F.col(role_col).cast("string").alias("role"),
        )
        .where(F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
        .withWatermark("ts", watermark_delay)
    )
    return events.groupBy("conv_id").applyInPandasWithState(
        _seq_check_fn(
            expected_step,
            max_gap_sec,
            allowed_transitions,
            check_roles=True,
            evict_sec=evict_sec,
        ),
        outputStructType=SEQ_OUTPUT_SCHEMA,
        stateStructType=_SEQ_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
