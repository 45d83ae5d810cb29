"""Unit tests for the second operator batch: histograms, timestamps, rules
DSL, time intervals, count-vector clustering, minimal transition time."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.operators import rules
from logdata_anomaly_miner_spark.operators.event_count_cluster import (
    check_count_clusters,
    count_vectors,
    manhattan_vs_baseline,
)
from logdata_anomaly_miner_spark.operators.histogram import (
    average_change,
    linear_histogram,
    modulo_time_histogram,
    parser_counts,
)
from logdata_anomaly_miner_spark.operators.sequence import (
    check_minimal_transition_time,
    transition_times,
)
from logdata_anomaly_miner_spark.operators.time_interval import (
    check_time_intervals,
    learn_time_intervals,
)
from logdata_anomaly_miner_spark.operators.timestamps import (
    monotonic_adjust,
    unsorted_timestamps,
)

T0 = 1_700_000_000.0


def test_linear_histogram(spark):
    df = spark.createDataFrame([(1.0,), (2.5,), (3.0,), (7.2,)], "v double")
    got = {r["bin"]: r["cnt"] for r in linear_histogram(df, "v", 0.0, 2.0).collect()}
    assert got == {0: 1, 1: 2, 3: 1}


def test_modulo_time_histogram(spark):
    # hours 0, 0, 5, 23
    rows = [(T0 - T0 % 86400 + h * 3600 + 10,) for h in (0, 0, 5, 23)]
    df = spark.createDataFrame(rows, "ts double")
    got = {r["bin"]: r["cnt"] for r in modulo_time_histogram(df).collect()}
    assert got == {0: 2, 5: 1, 23: 1}


def test_parser_counts(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "kind string")
    got = {r["kind"]: r["cnt"] for r in parser_counts(df).collect()}
    assert got == {"a": 2, "b": 1}


def test_average_change(spark):
    # bins 0..3 mean 10, bin 4 mean 50 -> changed
    rows = []
    for b in range(4):
        rows += [(T0 + b * 10 + 1, 9.0), (T0 + b * 10 + 2, 11.0)]
    rows += [(T0 + 41, 49.0), (T0 + 42, 51.0)]
    df = spark.createDataFrame(rows, "ts double, v double")
    out = average_change(df, "v", "ts", 10.0, change_threshold=2.0)
    changed = {r["bin"]: r["changed"] for r in out.collect()}
    assert changed[4] is True
    assert changed[2] is False and changed[3] is False


def test_average_change_constant_history_is_not_a_change(spark):
    """Every bin has mean 0.1 (three values of 0.1 each). In floats the bin
    mean is 0.10000000000000002 and the mean over 7+ history bins is 0.1,
    while the history stddev is exactly 0: the band floors hist_std at a
    scale-relative epsilon, so this float noise is not a change."""
    rows = [(T0 + b * 10 + k, 0.1) for b in range(12) for k in (1, 2, 3)]
    df = spark.createDataFrame(rows, "ts double, v double")
    out = average_change(df, "v", "ts", 10.0, change_threshold=2.0).collect()
    assert len(out) == 12
    assert not any(r["changed"] for r in out)


def test_unsorted_and_adjust(spark):
    rows = [(1, T0 + 10.0), (2, T0 + 20.0), (3, T0 + 15.0), (4, T0 + 30.0)]
    df = spark.createDataFrame(rows, "event_id long, ts double")
    bad = unsorted_timestamps(df)
    assert [r["event_id"] for r in bad.collect()] == [3]
    adj = {r["event_id"]: r["ts_adj"] for r in monotonic_adjust(df).collect()}
    assert adj == {1: T0 + 10, 2: T0 + 20, 3: T0 + 20, 4: T0 + 30}


def test_global_prefix_scan_multi_bucket(spark):
    """The distributed two-phase prefix scan (range buckets + carry-in) must
    equal the sequential semantics across bucket boundaries — randomized
    sequence, several bucket counts including more buckets than rows."""
    import random

    rng = random.Random(7)
    n = 500
    ts = [1000.0 + rng.uniform(-50, 50) for _ in range(n)]
    rows = [(i, ts[i]) for i in range(n)]
    # sequential oracle
    run_max, prev, want_adj, want_bad = float("-inf"), None, {}, []
    for i, t in enumerate(ts):
        run_max = max(run_max, t)
        want_adj[i] = run_max
        if prev is not None and t < prev:
            want_bad.append(i)
        prev = t
    df = spark.createDataFrame(rows, "event_id long, ts double").repartition(8)
    for nb in (3, 7, 1000):
        adj = {
            r["event_id"]: r["ts_adj"]
            for r in monotonic_adjust(df, num_buckets=nb).collect()
        }
        assert adj == want_adj, f"num_buckets={nb}"
        bad = sorted(
            r["event_id"]
            for r in unsorted_timestamps(df, num_buckets=nb).collect()
        )
        assert bad == want_bad, f"num_buckets={nb}"


def test_rules_dsl(spark):
    df = spark.createDataFrame(
        [(1, "login", 5.0, T0), (2, "logout", 50.0, T0 + 3600), (3, "error", 5.0, T0)],
        "id long, typ string, v double, ts double",
    )
    r = rules.and_(rules.value_in("typ", ["login", "logout"]), rules.value_range("v", 0, 10))
    assert [x["id"] for x in rules.match_filter(df, r).collect()] == [1]
    allow = [rules.value_match("typ", "login"), rules.value_match("typ", "logout")]
    assert [x["id"] for x in rules.allowlist_violations(df, allow).collect()] == [3]
    # regex + negation
    assert [x["id"] for x in df.filter(rules.not_(rules.string_regex("typ", "^log"))).collect()] == [3]


def test_ipv4_rfc1918(spark):
    def pack(a, b, c, d):
        return (a << 24) | (b << 16) | (c << 8) | d

    df = spark.createDataFrame(
        [(1, pack(10, 1, 2, 3)), (2, pack(8, 8, 8, 8)), (3, pack(192, 168, 0, 1)),
         (4, pack(172, 16, 5, 5)), (5, pack(172, 32, 0, 1))],
        "id long, ip long",
    )
    got = [r["id"] for r in df.filter(rules.ipv4_in_rfc1918("ip")).collect()]
    assert got == [1, 3, 4]


def test_modulo_time_rule(spark):
    # 02:00 and 14:00 UTC
    day = T0 - T0 % 86400
    df = spark.createDataFrame([(1, day + 2 * 3600.0), (2, day + 14 * 3600.0)], "id long, ts double")
    night = rules.modulo_time("ts", 0, 6 * 3600)
    assert [r["id"] for r in df.filter(night).collect()] == [1]


def test_time_intervals(spark):
    day = T0 - T0 % 86400
    base = spark.createDataFrame(
        [("backup", day + 2 * 3600.0), ("backup", day + 3 * 3600.0)], "v string, ts double"
    )
    learned = learn_time_intervals(base, ["v"])
    cur = spark.createDataFrame(
        [("backup", day + 86400 + 2.5 * 3600), ("backup", day + 86400 + 14 * 3600.0)],
        "v string, ts double",
    )
    viols = check_time_intervals(cur, learned, ["v"])
    assert [(r["v"], r["tod_bucket"]) for r in viols.collect()] == [("backup", 14)]
    # neighbor smoothing accepts hour 4 (adjacent to learned 3)
    cur2 = spark.createDataFrame([("backup", day + 86400 + 4.2 * 3600)], "v string, ts double")
    assert check_time_intervals(cur2, learned, ["v"], allow_neighbors=True).count() == 0
    assert check_time_intervals(cur2, learned, ["v"], allow_neighbors=False).count() == 1


def test_count_vectors_and_manhattan(spark):
    rows = [(T0 + 1, "u1", "a"), (T0 + 2, "u1", "a"), (T0 + 3, "u1", "b"),
            (T0 + 601, "u1", "a"), (T0 + 602, "u1", "c")]
    df = spark.createDataFrame(rows, "ts double, uid string, typ string")
    cv = count_vectors(df, ["uid"], "typ")
    got = {(r["uid"], r["w"], r["event_type"]): r["cnt"] for r in cv.collect()}
    assert got == {("u1", 0, "a"): 2, ("u1", 0, "b"): 1, ("u1", 1, "a"): 1, ("u1", 1, "c"): 1}
    baseline = spark.createDataFrame([("u1", "a", 2), ("u1", "b", 1)], "uid string, event_type string, cnt long")
    d = {r["w"]: r["dist"] for r in manhattan_vs_baseline(cv, baseline, ["uid"]).collect()}
    # w0 identical -> 0; w1: |1-2|+|0-1|+|1-0| = 3 over (2+3)=5 -> 0.6
    assert d[0] == pytest.approx(0.0)
    assert d[1] == pytest.approx(0.6)
    anomalies = check_count_clusters(cv, baseline, ["uid"], confidence_factor=0.5)
    assert [r["w"] for r in anomalies.collect()] == [1]


def test_minimal_transition_time(spark):
    rows = [(T0, "u1", "s1"), (T0 + 10, "u1", "s2"), (T0 + 12, "u1", "s1"),
            (T0 + 13, "u1", "s2")]
    df = spark.createDataFrame(rows, "ts double, uid string, state string")
    t = {(r["from_value"], r["to_value"], r["dt"]) for r in transition_times(df, "state", ["uid"]).collect()}
    assert ("s1", "s2", 10.0) in t and ("s2", "s1", 2.0) in t and ("s1", "s2", 1.0) in t
    baseline = spark.createDataFrame([("s1", "s2", 5.0)], "from_value string, to_value string, min_dt double")
    viols, merged = check_minimal_transition_time(df, "state", baseline, ["uid"])
    assert [(r["from_value"], r["to_value"], r["dt"]) for r in viols.collect()] == [("s1", "s2", 1.0)]
    m = {(r["from_value"], r["to_value"]): r["min_dt"] for r in merged.collect()}
    assert m[("s1", "s2")] == 1.0 and m[("s2", "s1")] == 2.0


def test_range_bucket_null_skew_and_stability(spark):
    """_with_range_bucket invariants (round-4 determinism fix): bucket is
    a pure row function (two evaluations agree), monotone in the order
    value, NULL order values land in bucket 0 (their nulls-first window
    position), and quantile boundaries keep a bursty distribution
    balanced (no bucket hoards the burst)."""
    from pyspark.sql import functions as F

    from logdata_anomaly_miner_spark.operators.timestamps import _with_range_bucket

    # bursty: 90% of rows inside a narrow band of a long span + 2 nulls
    rows = [(float(i),) for i in range(900)] + [
        (100000.0 + i,) for i in range(100)
    ] + [(None,), (None,)]
    df = spark.createDataFrame(rows, "ts double")
    b = _with_range_bucket(df, ["ts"], 8)
    got = b.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("n"), F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()
    sizes = {r["_pid"]: r["n"] for r in got}
    # nulls in bucket 0
    nulls = b.filter(F.col("ts").isNull()).select("_pid").distinct().collect()
    assert [r["_pid"] for r in nulls] == [0]
    # balanced despite the burst: no bucket holds more than ~2x its share
    assert max(sizes.values()) <= 2 * (1002 / 8) + 1
    # monotone: bucket ranges do not overlap
    spans = sorted(
        (r["lo"], r["hi"]) for r in got if r["lo"] is not None
    )
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 <= l2
    # stable across a second evaluation of the same plan
    again = {r["_pid"]: r["n"] for r in b.groupBy("_pid").count().withColumnRenamed("count", "n").collect()}
    assert again == sizes


def test_range_bucket_timestamp_order_col(spark):
    """Round-5 (ADVICE): a timestamp/date leading order column is accepted
    by the two-phase prefix scan — cast to fractional epoch seconds, order
    preserved — so find_unsorted/monotonic_adjust work on raw event-time
    columns without a caller-side epoch conversion."""
    rows = [(1, T0 + 10.0), (2, T0 + 20.0), (3, T0 + 15.0), (4, T0 + 30.0)]
    df = (
        spark.createDataFrame(rows, "event_id long, ts double")
        # ingest order expressed as an ARRIVAL timestamp, not a sequence int
        .withColumn("t", F.timestamp_seconds(F.lit(T0) + F.col("event_id")))
    )
    bad = unsorted_timestamps(df, ts_col="ts", order_cols=["t"], num_buckets=3)
    assert [r["event_id"] for r in bad.collect()] == [3]
    # unsupported type still fails fast with a clear message
    with pytest.raises(TypeError, match="order"):
        unsorted_timestamps(
            df.withColumn("s", F.lit("x")), ts_col="ts", order_cols=["s"]
        ).collect()
