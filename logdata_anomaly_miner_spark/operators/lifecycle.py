"""Learn-mode lifecycle + path screening (shared detector options).

Re-expresses the AtomHandlerInterface lifecycle options every reference
detector inherits (aminer/input/InputInterfaces.py:275-280 init;
per-detector transition e.g. aminer/analysis/ValueRangeDetector.py:81-84,
extension :162-164) and the ignore/constraint path screening
(ValueRangeDetector.py:86-90):

- ``stop_learning_time``: learn_mode flips to False for every atom with
  atom_time strictly greater than start + stop_learning_time (strict "<"
  comparison at VRD :82 means the atom at exactly the boundary still
  learns). Batch analog of the reference's wall-clock start is the first
  atom's timestamp.
- ``stop_learning_no_anomaly_time`` (Δ): every learned atom pushes the
  stop timestamp to its time + Δ (VRD :162-164), so learning stops at the
  FIRST atom whose gap to its predecessor exceeds Δ — and never resumes.
  The stopping atom itself is checked but not learned.
- ``ignore_list`` / ``constraint_list``: an atom is skipped entirely when
  any ignore path is present or any constraint path is absent. In the
  columnar model "path present" ≙ column non-null.

The gap scan is distributed exactly like operators/timestamps.py: range
buckets + per-bucket lag + broadcast carry-in — no single-partition window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.operators.timestamps import (
    _bucket_carry,
    _with_range_bucket,
)


def screen_paths(
    df: DataFrame,
    ignore_cols: Sequence[str] = (),
    constraint_cols: Sequence[str] = (),
) -> DataFrame:
    """Drop rows any reference detector would skip (VRD :86-90): a row is
    kept iff every ignore column is null AND every constraint column is
    non-null."""
    cond = F.lit(True)
    for c in ignore_cols:
        cond = cond & F.col(c).isNull()
    for c in constraint_cols:
        cond = cond & F.col(c).isNotNull()
    return df.filter(cond)


def learning_cutoff(
    df: DataFrame,
    ts_col: str = "ts",
    stop_learning_time: float | Column | None = None,
    stop_learning_no_anomaly_time: float | None = None,
    num_buckets: int | None = None,
) -> tuple[DataFrame, bool]:
    """Returns (one-row DataFrame with ``cutoff_ts`` double, inclusive).

    Atoms learn iff ts <= cutoff_ts (inclusive=True, stop_learning_time
    mode) or ts < cutoff_ts (inclusive=False, no-anomaly-gap mode).
    cutoff_ts is null when learning never stops. If both options are set,
    the no-anomaly extension dominates (base init :279-280 overwrites).

    ``stop_learning_time`` may be an aggregate Column over ``df`` (e.g.
    half the batch's time span) so data-derived cutoffs stay in-plan — a
    driver-side collect would add a full scan per plan construction."""
    ts = F.col(ts_col).cast("double")
    if stop_learning_no_anomaly_time is not None:
        delta = float(stop_learning_no_anomaly_time)
        d = _with_range_bucket(df.select(ts.alias("_ts")), ["_ts"], num_buckets)
        w = Window.partitionBy("_pid").orderBy("_ts")
        d = d.withColumn("_prev", F.lag("_ts").over(w))
        d = _bucket_carry(d, F.max("_ts"), "_carry", combine=F.max)
        prev = F.coalesce(F.col("_prev"), F.col("_carry"))
        cut = d.filter(prev.isNotNull() & (F.col("_ts") > prev + F.lit(delta))).agg(
            F.min("_ts").alias("cutoff_ts")
        )
        return cut, False
    if stop_learning_time is not None:
        slt = (
            stop_learning_time
            if isinstance(stop_learning_time, Column)
            else F.lit(float(stop_learning_time))
        )
        return df.agg((F.min(ts) + slt).alias("cutoff_ts")), True
    return df.agg(F.lit(None).cast("double").alias("cutoff_ts")), True


def split_learn_check(
    df: DataFrame,
    ts_col: str = "ts",
    stop_learning_time: float | Column | None = None,
    stop_learning_no_anomaly_time: float | None = None,
    num_buckets: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split a batch into (learn_df, check_only_df) per the lifecycle rules.
    check_only rows are still CHECKED by detectors (learn_mode=False runs
    the check path) — they just never extend the baseline."""
    cut, inclusive = learning_cutoff(
        df, ts_col, stop_learning_time, stop_learning_no_anomaly_time, num_buckets
    )
    ts = F.col(ts_col).cast("double")
    d = df.crossJoin(F.broadcast(cut))
    if inclusive:
        learning = F.col("cutoff_ts").isNull() | (ts <= F.col("cutoff_ts"))
    else:
        learning = F.col("cutoff_ts").isNull() | (ts < F.col("cutoff_ts"))
    return (
        d.filter(learning).drop("cutoff_ts"),
        d.filter(~learning).drop("cutoff_ts"),
    )
