"""Timestamp-ordering operators.

Re-expresses:
- TimestampsUnsortedDetector (aminer/analysis/TimestampsUnsortedDetector.py:
  23-76): event whenever an atom's timestamp is smaller than its
  predecessor's (in ingest order).
- SimpleMonotonicTimestampAdjust (aminer/analysis/
  TimestampCorrectionFilters.py:18-52): clamp decreasing timestamps to the
  running maximum.

Ingest order in batch = an explicit order column (event id / file offset).
The running max is a prefix window — inherently sequential per stream, so
partition by the stream/source column when there are many streams. When no
stream column exists (ONE global sequence), a naive window would put every
row in a single WindowExec partition; instead both operators run a
**two-phase distributed prefix scan**: range-partition on the order column,
compute the per-range local prefix (running max / lag), reduce each range
to one summary row, derive each range's carry-in from the (tiny,
broadcast) summary table, and combine locally. The summary self-join is
|ranges|² rows — negligible — and no stage ever sees the whole sequence.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _with_range_bucket(
    df: DataFrame,
    order_cols: Sequence[str],
    num_buckets: int | None,
    mode: str = "quantile",
) -> DataFrame:
    """Adds ``_pid``: a range-bucket id where bucket i holds order values
    no greater than bucket i+1's (equal order values always share a
    bucket).

    DETERMINISM: the id must be a pure function of the ROW — downstream
    two-phase prefix scans evaluate the bucketed frame twice (local window
    + per-bucket summary), and Spark recomputes each branch. The obvious
    repartitionByRange + spark_partition_id() is NOT stable: range
    boundaries come from a sampling pass that can differ between the two
    evaluations, silently shifting rows across buckets and corrupting the
    carry (observed: +41-row drift in per-pair positions on a 60k-row
    melt). Boundaries here are in-plan percentile_approx quantiles of the
    first order column — a deterministic aggregate (partition merge order
    is fixed), evaluation-stable, AND load-balanced under skew (equal-
    width bucketing would funnel a burst into one bucket). bucket(row) =
    number of boundaries ≤ its order value, so equal order values always
    share a bucket, NULL order values land in bucket 0 (matching their
    nulls-first position in the window sort), and degenerate all-equal
    input collapses to one bucket — correct, just serial."""
    nb = num_buckets or max(
        2, df.sparkSession.sparkContext.defaultParallelism * 2
    )
    c0 = order_cols[0]
    dtype = dict(df.dtypes).get(c0, "")
    if dtype in ("timestamp", "timestamp_ntz", "date"):
        # orderable but not arithmetic: casting to double yields fractional
        # epoch seconds (microsecond precision), preserving the sort order
        # exactly, so the bucket boundaries stay order-consistent
        v = F.col(c0).cast("timestamp").cast("double")
    elif dtype in (
        "tinyint", "smallint", "int", "bigint", "float", "double"
    ) or dtype.startswith("decimal"):
        v = F.col(c0).cast("double")
    else:
        raise TypeError(
            "range bucketing needs a numeric/timestamp/date leading order "
            f"column; got {c0}:{dtype}"
        )
    if mode == "width":
        # Equal-width bucketing via the codegen'd width_bucket builtin.
        # ANY deterministic, order-consistent bucket id (monotone in the
        # order value, equal values share a bucket) yields IDENTICAL
        # downstream prefix positions — _lrn counts rows inside the
        # bucket, the carry counts rows in strictly earlier buckets, so
        # the sum is the global rank regardless of where the boundaries
        # sit. Only load balance differs: callers whose leading order
        # column is a dense ingest id (uniform by construction) opt in
        # and skip both the percentile pass and the per-row
        # count-boundaries lambda (measured ~2.5 s per evaluation on a
        # 600k-row melt, r8); skewed order columns (timestamps with
        # bursts) keep the default quantile boundaries.
        mm = df.agg(F.min(v).alias("_blo"), F.max(v).alias("_bhi"))
        # nullif guard: an all-equal (or empty/all-null) input degenerates
        # to one bucket — width_bucket gets null bounds, returns null,
        # coalesce lands every row in bucket 0, mirroring the quantile
        # path's degenerate collapse. Nulls sort first: null v -> bucket 0
        # below every non-null bucket (width_bucket >= 1). The coalesce
        # goes inside least(), which skips nulls and would send them to nb.
        raw = F.width_bucket(
            v, F.col("_blo"), F.nullif(F.col("_bhi"), F.col("_blo")), F.lit(nb)
        )
        return (
            df.crossJoin(F.broadcast(mm))
            .withColumn("_pid", F.least(F.coalesce(raw, F.lit(0)), F.lit(nb)))
            .drop("_blo", "_bhi")
        )
    if mode != "quantile":
        raise ValueError(f"unknown range-bucket mode {mode!r}")
    probs = F.array(*[F.lit(i / nb) for i in range(1, nb)])
    mm = df.agg(F.percentile_approx(v, probs, F.lit(10_000)).alias("_bnds"))
    # NOTE (r8): an unrolled when(v >= element_at(_bnds, i)) comparison sum
    # was tried here to move the bucket id into whole-stage codegen; it
    # measured 2x SLOWER than this aggregate (the nb-1-term expression is
    # duplicated into every operator that partitions on _pid, and the
    # generated code blows past codegen limits), so the single-evaluation
    # lambda stays.
    bucket = F.coalesce(
        F.aggregate(
            F.col("_bnds"),
            F.lit(0),
            lambda acc, b: acc + F.when(v >= b, 1).otherwise(0),
        ),
        F.lit(0),
    )
    return (
        df.crossJoin(F.broadcast(mm))
        .withColumn("_pid", bucket)
        .drop("_bnds")
    )


def _bucket_carry(
    d: DataFrame,
    summary: Column,
    out_col: str,
    combine: Callable[[Column], Column] | None = None,
    keys: Sequence[str] = (),
    lead: bool = False,
    source: DataFrame | None = None,
) -> DataFrame:
    """Adds ``out_col`` = the carry-in of each range bucket (per ``keys``)
    for a two-phase prefix scan over ``_with_range_bucket`` ids.

    ``summary`` is aggregated once per (keys…, _pid) over ``source``
    (default ``d``). Each bucket then combines the summaries of every
    earlier bucket — every later one with ``lead`` — with ``combine``
    (e.g. ``F.max``, ``F.sum``), or, by default, takes the nearest such
    bucket's summary. Null where no such bucket exists. The summary
    self-join is |buckets|² rows per key and the result broadcasts back."""
    s = (d if source is None else source).groupBy(*keys, "_pid").agg(
        summary.alias("_sv")
    )
    # b ranges over the buckets before a (after a, for a lead)
    lo, hi = ("a", "b") if lead else ("b", "a")
    cond = F.col(f"{lo}._pid") < F.col(f"{hi}._pid")
    for k in keys:
        cond = cond & (F.col(f"b.{k}") == F.col(f"a.{k}"))
    if combine is None:
        nearest = F.min_by if lead else F.max_by
        agg = nearest(F.col("b._sv"), F.col("b._pid"))
    else:
        agg = combine(F.col("b._sv"))
    carry = (
        s.alias("a")
        .join(s.alias("b"), cond)
        .groupBy(*[F.col(f"a.{c}").alias(c) for c in (*keys, "_pid")])
        .agg(agg.alias(out_col))
    )
    return d.join(F.broadcast(carry), [*keys, "_pid"], "left")


def unsorted_timestamps(
    df: DataFrame,
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("event_id",),
    stream_cols: Sequence[str] = (),
    num_buckets: int | None = None,
    bucket_mode: str = "quantile",
) -> DataFrame:
    """Rows whose timestamp is smaller than the previous row's (ingest order)."""
    if stream_cols:
        w = Window.partitionBy(*stream_cols).orderBy(*[F.col(c) for c in order_cols])
        prev = F.lag(F.col(ts_col)).over(w)
        return (
            df.withColumn("prev_ts", prev)
            .filter(F.col("prev_ts").isNotNull() & (F.col(ts_col) < F.col("prev_ts")))
        )
    # Global sequence: per-range lag; each range's first row compares against
    # the last timestamp (in order) of the nearest preceding non-empty range.
    d = _with_range_bucket(df, order_cols, num_buckets, mode=bucket_mode)
    order = [F.col(c) for c in order_cols]
    w = Window.partitionBy("_pid").orderBy(*order)
    d = d.withColumn("_prev_local", F.lag(F.col(ts_col)).over(w))
    d = _bucket_carry(d, F.max_by(F.col(ts_col), F.struct(*order)), "_carry")
    prev = F.coalesce(F.col("_prev_local"), F.col("_carry"))
    return (
        d.withColumn("prev_ts", prev)
        .filter(F.col("prev_ts").isNotNull() & (F.col(ts_col) < F.col("prev_ts")))
        .drop("_pid", "_prev_local", "_carry")
    )


def monotonic_adjust(
    df: DataFrame,
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("event_id",),
    stream_cols: Sequence[str] = (),
    out_col: str = "ts_adj",
    num_buckets: int | None = None,
    bucket_mode: str = "quantile",
) -> DataFrame:
    """Adds ``out_col`` = running max of the timestamp in ingest order
    (decreasing timestamps clamped up, reference :18-52)."""
    if stream_cols:
        w = (
            Window.partitionBy(*stream_cols)
            .orderBy(*[F.col(c) for c in order_cols])
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return df.withColumn(out_col, F.max(F.col(ts_col)).over(w))
    # Global sequence: local running max per range + max over all earlier
    # ranges (carry-in), combined with greatest() (null carry for range 0).
    d = _with_range_bucket(df, order_cols, num_buckets, mode=bucket_mode)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.withColumn("_local", F.max(F.col(ts_col)).over(w))
    d = _bucket_carry(d, F.max(F.col(ts_col)), "_carry", combine=F.max)
    return d.withColumn(
        out_col, F.greatest(F.col("_local"), F.col("_carry"))
    ).drop("_pid", "_local", "_carry")
