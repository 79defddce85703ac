"""Time-format labeling as one SQL ``CASE WHEN … RLIKE …`` chain.

Reference semantics: 6 anchored regex patterns tried in order, first match
wins; empty/whitespace-only strings and unmatched values are invalid
(``/root/reference/utils/validation.py:147-188`` and the duplicated compile
at ``255-269``). The reference loops per row in Python — here the label is
one JVM-side expression that whole-stage-codegen compiles, so at 10^12 rows
it runs inside the scan with zero Python. The label is emitted as SQL text
(the caller's ``F.expr`` parses it once): built through the Column API the
chain costs several Py4J round trips per operator, per Time column.

Label domain is CLOSED (6 labels), which is what lets the majority-format
rule (validation.py:180-188) run in a single shared scan: we emit one
``count_if(label = L)`` aggregate per label and derive
majority/extra-inconsistent/distinct counts from those 6 numbers — no
groupBy-per-column, no second pass.
"""

from __future__ import annotations

from ndap_data_validator_spark.functions.sqltext import sql_str

_MONTH = "Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec"

# (label, java-regex) in reference priority order (validation.py:149-162).
# ``(?i)`` replicates re.IGNORECASE on the month alternation; the first two
# patterns are digit-only so the flag is irrelevant there.
TIME_PATTERNS: list[tuple[str, str]] = [
    ("YYYY", r"^\d{4}$"),
    ("YYYY-YY", r"^\d{4}-\d{2}$"),
    ("MMM-YYYY", rf"(?i)^(?:{_MONTH})-\d{{4}}$"),
    ("MMM-MMM, YYYY", rf"(?i)^(?:{_MONTH})-(?:{_MONTH}),\s*\d{{4}}$"),
    ("MMM - MMM, YYYY", rf"(?i)^(?:{_MONTH}) - (?:{_MONTH}),\s*\d{{4}}$"),
    ("DD-MMM-YYYY", rf"(?i)^(0?[1-9]|[12][0-9]|3[01])-(?:{_MONTH})-\d{{4}}$"),
]

TIME_LABELS: list[str] = [label for label, _ in TIME_PATTERNS]


def time_format_label(src: str) -> str:
    """Label SQL over the source value ``src`` (SQL text, e.g. a quoted
    identifier): the matched format name, or NULL when the (trimmed) value
    is empty or matches no pattern. Mirrors the reference's per-value
    strip + first-match loop (validation.py:166-179) declaratively."""
    trimmed = f"trim(CAST({src} AS STRING))"
    arms = "".join(
        f" WHEN {trimmed} RLIKE {sql_str(pattern)} THEN {sql_str(label)}"
        for label, pattern in TIME_PATTERNS
    )
    return (
        f"CASE WHEN {trimmed} = '' THEN CAST(NULL AS STRING){arms} "
        "ELSE CAST(NULL AS STRING) END"
    )


def time_invalid_pred(src: str, label: str | None = None) -> str:
    """SQL predicate, TRUE where a non-null value fails the format check —
    empty-after-trim or unmatched (validation.py:167-177, 303-313). NULL
    source values are NOT invalid (the reference filters them out before
    checking)."""
    if label is None:
        label = time_format_label(src)
    return f"({src} IS NOT NULL AND ({label}) IS NULL)"
