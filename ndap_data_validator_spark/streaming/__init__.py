"""Structured Streaming front-ends. The reference has no streaming operators
(SURVEY.md §2.10 — its "delta" load mode is an orchestration flag); these
are engine extensions that run the batch rule families over arriving data:

  * ``validate_stream`` — the compiled rule catalog per micro-batch via
    ``foreachBatch``;
  * ``stateful`` — bounded-state at-ingest operators: (conv_id, turn_idx)
    dedup and the conversation-order checks.

``operators.validate.ValidationEngine.flag_rows`` and
``operators.drift.drift_windowed`` also run unchanged on ``readStream``
frames.
"""
