"""Uniqueness / duplicate-key constraint.

North-star spec: "uniqueness via salted repartition + hash-aggregate".
The two-phase form below computes per-salt partial counts first so one hot
key (the skewed `doc_dup_*` ids the generator plants) never lands on a
single reducer — the classic salting pattern; with AQE skew handling the
plain groupBy is usually enough, but the explicit variant guarantees the
bound and is what we'd run at 10^12 rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys_salted(
    df: DataFrame, key_cols: Sequence[str], salt_buckets: int = 64
) -> DataFrame:
    """Two-phase salted aggregate: groupBy(key, salt) partial counts,
    then groupBy(key) final sum. Same result as a plain groupBy, bounded
    per-reducer fan-in for arbitrarily hot keys."""
    salt = F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt_buckets))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        partial.groupBy(*key_cols)
        .agg(F.sum("_c").cast("long").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )
