"""Shared violation-row schema + helpers.

AMiner events are (event_type, message, sorted_loglines, event_data,
log_atom) tuples pushed to handlers (reference: aminer/events/
EventInterfaces.py, EventData.py:21-78). Our equivalent is a violations
DataFrame with a stable column set; the formatted golden string of
StreamPrinterEventHandler is reproduced by ``format_event`` below
(reference format built at aminer/events/EventData.py:49-78):

    "{ts:%Y-%m-%d %H:%M:%S} {message}\n{detector}: \"{component}\" ({n} lines)\n  {lines}\n\n"
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VIOLATION_COLS = ["detector", "message", "ts", "group_key", "value", "detail"]

# The degenerate band. On an exact fit sigma is float noise (5e-15 on a
# series of scale 1e2), and so are the residuals, so comparing the two
# alarms on a clean series. Every |deviation| > k·sigma band floors the
# sigma it compares against at SIGMA_REL_FLOOR times the series scale: a
# deviation below that is float noise, never an anomaly. Reported sigma
# columns stay the fitted value.
SIGMA_REL_FLOOR = 1e-9


def band_sigma(sigma: Column, scale: Column) -> Column:
    """The sigma a band compares against: ``sigma`` floored at
    SIGMA_REL_FLOOR · |scale|."""
    return F.greatest(sigma, F.lit(SIGMA_REL_FLOOR) * F.abs(scale))


def violation_cols(
    detector: str,
    message: str,
    ts: Column,
    group_key: Column | None = None,
    value: Column | None = None,
    detail: Column | None = None,
) -> list[Column]:
    """Standard violation projection (FIXTURES.md §2 `violations`)."""
    return [
        F.lit(detector).alias("detector"),
        F.lit(message).alias("message"),
        ts.cast("double").alias("ts"),
        (group_key if group_key is not None else F.lit(None)).cast("string").alias("group_key"),
        (value if value is not None else F.lit(None)).cast("string").alias("value"),
        (detail if detail is not None else F.lit(None)).cast("string").alias("detail"),
    ]


def format_event_lines(
    df: DataFrame, component_name: str = "None", loglines_col: str = "loglines"
) -> DataFrame:
    """format_event generalized to N loglines: renders the StreamPrinter
    golden with ``({n} lines)`` and one two-space-indented line per element
    of ``loglines_col`` (array<string>), matching EventData.receive_event_
    string's bytes-logline branch (aminer/events/EventData.py:60-75): the
    header counts ALL loglines, the body skips empty ones, each body line
    is newline-terminated, plus StreamPrinter's closing newline. (The
    reference's str-logline branch additionally leaves lines starting with
    the configured log-line prefix unindented — not reproduced here.)
    Null-safe: a null array renders as 0 lines, null message/detector as
    empty strings, so event_text is never NULL."""
    ts_str = F.from_unixtime(F.col("ts").cast("long"), "yyyy-MM-dd HH:mm:ss")
    all_lines = F.coalesce(
        F.col(loglines_col), F.array().cast("array<string>")
    )
    body_lines = F.filter(
        all_lines, lambda l: l.isNotNull() & (l != F.lit(""))
    )
    return df.withColumn(
        "event_text",
        F.concat(
            F.coalesce(ts_str, F.lit("")),
            F.lit(" "),
            F.coalesce(F.col("message"), F.lit("")),
            F.lit("\n"),
            F.coalesce(F.col("detector"), F.lit("")),
            F.lit(f': "{component_name}" ('),
            F.size(all_lines).cast("string"),
            F.lit(" lines)\n"),
            F.concat_ws(
                "",
                F.transform(
                    body_lines, lambda l: F.concat(F.lit("  "), l, F.lit("\n"))
                ),
            ),
            F.lit("\n"),
        ),
    )


def format_event(df: DataFrame, component_name: str = "None") -> DataFrame:
    """Render violations in the reference StreamPrinter golden format.

    Reference: aminer/events/EventData.py:49-78 and e.g.
    aecid-testsuite/unit/analysis/ValueRangeDetectorTest.py:22 —
    '%s <message>\\n%s: "<name>" (1 lines)\\n  <line>\\n\\n'.
    """
    ts_str = F.from_unixtime(F.col("ts").cast("long"), "yyyy-MM-dd HH:mm:ss")
    return df.withColumn(
        "event_text",
        F.concat(
            ts_str,
            F.lit(" "),
            F.col("message"),
            F.lit("\n"),
            F.col("detector"),
            F.lit(f': "{component_name}" (1 lines)\n  '),
            F.coalesce(F.col("value"), F.lit("")),
            F.lit("\n\n"),
        ),
    )
