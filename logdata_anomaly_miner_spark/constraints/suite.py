"""The validation suite: every constraint family over one documents table,
one pass, per-partition verdicts + violations + metrics.

This is the engine's "analysis pipeline" ≙ AMiner's AnalysisChild select loop
pushing each atom through every registered detector
(aminer/AnalysisChild.py:298-408) — re-expressed as N DataFrame constraint
programs over ONE cached exploded-spans view, unioned into a single
violations DataFrame. The fan-out is SubhandlerFilter
(aminer/analysis/AtomFilters.py:18-54) made set-oriented.

Partitioning model: `partition` = UTC day bucket of the document event time
(a natural Iceberg partition spec). Verdicts aggregate violations per
(partition, suite); the suite passes a partition iff it contributed no
violation rows. Checkpointed runs commit per partition (plans/checkpoint.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.constraints.drift import histogram, psi_kl
from logdata_anomaly_miner_spark.constraints.referential import dangling_media_refs
from logdata_anomaly_miner_spark.constraints.uniqueness import duplicate_keys_salted
# NOTE: the four schema checks (constraints/schema_checks.py) are inlined
# into the merged single-scan branch below, predicate-for-predicate — the
# standalone functions remain the unit-tested reference implementations.
from logdata_anomaly_miner_spark.datagen import KINDS
from logdata_anomaly_miner_spark.frames import from_driver
from logdata_anomaly_miner_spark.operators.entropy import (
    check_entropy,
    learn_bigram_freq,
    score_entropy_pandas,
)
from logdata_anomaly_miner_spark.operators.new_value import check_new_values


@dataclass
class SuiteConfig:
    kind_vocab: tuple[str, ...] = tuple(KINDS)
    entropy_prob_thresh: float = 0.001
    drift_psi_threshold: float = 0.2
    n_hist_buckets: int = 10
    known_kind_text: DataFrame | None = None     # new-value baseline (kind, text)
    entropy_freq: DataFrame | None = None        # bigram baseline (first, second, cnt)
    baseline_hist: DataFrame | None = None       # drift baseline (kind, bucket, cnt)
    text_len_bounds: tuple[float, float] = (0.0, 200.0)
    # learn-mode lifecycle (operators/lifecycle.py): once learning stops,
    # the novelty baseline FREEZES — every later unseen value alarms and
    # nothing is learned from it (reference stop_learning_* semantics)
    stop_learning_time: float | None = None
    stop_learning_no_anomaly_time: float | None = None
    # span kinds screened out of the value checks entirely (ignore_list)
    ignore_kinds: tuple[str, ...] = ()


@dataclass
class SuiteResult:
    violations: DataFrame
    verdicts: DataFrame
    metrics: dict = field(default_factory=dict)


NO_TS_PARTITION = "__no_ts__"


def day_partition() -> Column:
    """The partition key of a document: the UTC day of its event time.

    Pure arithmetic — from_unixtime would use the SESSION time zone, making
    checkpoint partition keys differ between clusters configured
    differently. A null/uncastable ts gets the ``__no_ts__`` sentinel so
    its documents are still validated and its violations still join the
    per-partition verdicts."""
    return F.coalesce(
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            F.floor(F.col("ts").cast("double") / 86400.0).cast("int"),
        ).cast("string"),
        F.lit(NO_TS_PARTITION),
    )


def _viol(df: DataFrame, suite: str, message: str) -> DataFrame:
    """Project any check output onto the unified violation schema."""
    cols = df.columns
    pick = lambda c: F.col(c).cast("string") if c in cols else F.lit(None).cast("string")  # noqa: E731
    return df.select(
        F.lit(suite).alias("suite"),
        F.lit(message).alias("message"),
        (F.col("partition") if "partition" in cols else F.lit(None).cast("string")).alias("partition"),
        pick("doc_id").alias("doc_id"),
        pick("kind").alias("kind"),
        pick("text").alias("value"),
        pick("media_ref").alias("media_ref"),
    )


def run_suite(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    config: SuiteConfig | None = None,
    persist: bool = True,
    violations_path: str | None = None,
) -> SuiteResult:
    """Run all constraint suites; returns violations, per-partition verdicts,
    and job metrics.

    ``persist=True`` caches the exploded view (right when `documents` is an
    expensive upstream computation). For parquet/Iceberg-backed input pass
    ``persist=False``: re-scanning with column pruning is cheaper than the
    cache build — caching is memory-bandwidth-bound and doesn't scale with
    cores, while pruned columnar scans do.

    ``violations_path``: when given, the violations are written there as
    parquet (mode overwrite) before this returns. Cache lifecycle: the
    violations union is cached for the duration of the call only. The
    verdict collect computes it once into the cache; the write (if any)
    reads that cache, a single job with no recomputation; then every block
    this call cached is released. Nothing stays cached after the return,
    whether or not a path was given. The returned ``verdicts`` are built
    from the collected rows; the returned ``violations`` is the lazy plan,
    so reading it again recomputes the checks — pass ``violations_path``
    rather than writing ``result.violations`` afterwards."""
    cfg = config or SuiteConfig()
    t_start = time.time()

    docs = documents.withColumn("partition", day_partition())
    if persist:
        docs = docs.persist()
    # partition rides along through posexplode — no join needed (a join here
    # would shuffle |spans| rows and break under duplicate doc_ids anyway).
    # doc_bad (offsets_monotonic's array-local predicate) is computed BEFORE
    # the explode, on the intact spans array, and rides along so the merged
    # single-scan check branch below can emit the doc-level violation at
    # ord == 0 without a second pass over the table.
    spans_col = F.col("spans")
    doc_bad = (F.size(spans_col) >= 2) & F.exists(
        F.sequence(F.lit(1), F.size(spans_col) - 1),
        lambda i: F.element_at(spans_col, i + 1)["offset"]
        <= F.element_at(spans_col, i)["offset"],
    )
    flat = docs.select(
        "doc_id", "ts", "partition", doc_bad.alias("doc_bad"),
        F.posexplode("spans").alias("ord", "span"),
    ).select(
        "doc_id",
        "ts",
        "partition",
        "doc_bad",
        "ord",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
    if persist:
        flat = flat.persist()

    checks: list[DataFrame] = []

    # 1. uniqueness of doc_id (salted two-phase aggregate). The aggregate
    # loses the partition column, so the (small) duplicate-key set is
    # broadcast back onto the docs to attribute each duplicate ROW to its
    # partition — otherwise these violations fall out of the per-partition
    # verdicts (cross-partition duplicates hit every partition they touch).
    dup_keys = duplicate_keys_salted(docs.select("doc_id"), ["doc_id"])
    dup_rows = docs.select("doc_id", "partition").join(
        F.broadcast(dup_keys), "doc_id", "inner"
    )
    checks.append(
        _viol(
            dup_rows.withColumn("text", F.col("cnt").cast("string")),
            "uniqueness",
            "Duplicate doc_id",
        )
    )

    # 2+3+5-pickup. ONE scan for every per-row check (round 6): the
    # referential pickup, all four schema checks, and the entropy-failure
    # pickup used to be SIX separate branches of the union — six parquet
    # scans each decoding the full nested spans column under persist=False.
    # The profile is scan-dominated and this host's scaling loss is
    # memory-bandwidth contention (BENCH/NOTES.md), so the row-local checks
    # now evaluate together in one projection over one scan: each span
    # builds a (suite, message, doc_level) failure array, empties drop out
    # via explode. The two set-membership checks (dangling refs, entropy
    # failures) become broadcast LEFT joins with marker columns — both sets
    # are distinct-keyed, so join multiplicity is exactly 1 and the row
    # multiset is identical to the former semi-join branches. Semantics of
    # each predicate are byte-identical to constraints/schema_checks.py
    # (including null-kind behavior: a null `when` condition emits nothing,
    # exactly as the former `filter` dropped null predicates).
    # The dangling-ref SET itself still comes from a separate nested-PRUNED
    # scan (only spans.media_ref read — see dangling_media_refs), which is
    # why it is not folded into this full-decode scan.
    dangling = dangling_media_refs(docs, media)

    # entropy learn/score (former section 5, hoisted: its failing-text set
    # feeds the merged scan): dedup-before-compute — learn and score over
    # DISTINCT texts (|distinct| ≪ |spans| for natural corpora). Learning
    # from distinct values ≙ the reference's skip_repetitions mode
    # (EntropyDetector.py:170-174). texts is persisted regardless of the
    # `persist` flag: the set is consumed twice (learner collect + scorer
    # pass) and is far smaller than re-scanning + re-deduplicating.
    texts = (
        flat.filter(F.col("text").isNotNull()).select("text").dropDuplicates().persist()
    )
    freq = cfg.entropy_freq
    if freq is None:
        freq, _ = learn_bigram_freq(texts, "text")
    scored_texts = score_entropy_pandas(spark, texts, "text", freq)
    bad_texts = check_entropy(scored_texts, cfg.entropy_prob_thresh).select("text")

    marked = flat.join(
        F.broadcast(dangling.withColumn("_dangling", F.lit(True))),
        "media_ref", "left",
    ).join(
        F.broadcast(bad_texts.withColumn("_bad_text", F.lit(True))),
        "text", "left",
    )
    _f = lambda suite, message, doc_level=False: F.struct(  # noqa: E731
        F.lit(suite).alias("suite"),
        F.lit(message).alias("message"),
        F.lit(doc_level).alias("doc_level"),
    )
    failures = F.filter(
        F.array(
            F.when(F.col("_dangling"), _f("referential", "Dangling media_ref")),
            F.when(~F.col("kind").isin(*cfg.kind_vocab), _f("schema", "Unknown span kind")),
            F.when(
                F.col("kind").isNull() | F.col("offset").isNull(),
                _f("schema", "Required field null"),
            ),
            F.when(
                F.col("doc_bad") & (F.col("ord") == 0),
                _f("schema", "Offset not increasing", doc_level=True),
            ),
            F.when(
                F.col("media_ref").isNotNull()
                & ~F.col("kind").isin("image", "audio", "video"),
                _f("schema", "media_ref on non-media kind"),
            ),
            F.when(F.col("_bad_text"), _f("entropy", "Value entropy anomaly detected")),
        ),
        lambda x: x.isNotNull(),
    )
    span_str = lambda c: F.when(  # noqa: E731
        ~F.col("f.doc_level"), F.col(c).cast("string")
    )
    checks.append(
        marked.select(
            "partition", "doc_id", "kind", "text", "media_ref",
            F.explode(failures).alias("f"),
        ).select(
            F.col("f.suite").alias("suite"),
            F.col("f.message").alias("message"),
            F.col("partition"),
            F.col("doc_id").cast("string").alias("doc_id"),
            span_str("kind").alias("kind"),
            span_str("text").alias("value"),
            span_str("media_ref").alias("media_ref"),
        )
    )

    # 4. novelty: first occurrence of unseen (kind, text). Shuffle carries
    # only the violation projection (4 narrow cols), not the full span row.
    nv_src = flat.filter(F.col("text").isNotNull()).select(
        "kind", "text", "ts", "doc_id", "partition"
    )
    if cfg.ignore_kinds:
        nv_src = nv_src.filter(~F.col("kind").isin(list(cfg.ignore_kinds)))
    if cfg.stop_learning_time is not None or cfg.stop_learning_no_anomaly_time is not None:
        from logdata_anomaly_miner_spark.operators.lifecycle import split_learn_check
        from logdata_anomaly_miner_spark.operators.new_value import learn_values

        learn_df, check_df = split_learn_check(
            nv_src, "ts", cfg.stop_learning_time, cfg.stop_learning_no_anomaly_time
        )
        nv1 = check_new_values(
            learn_df, ["kind", "text"], cfg.known_kind_text, order_cols=["ts", "doc_id"]
        )
        learned = learn_values(learn_df, ["kind", "text"], cfg.known_kind_text)
        # learn_mode off: EVERY occurrence of an unlearned value alarms
        # (the reference alarms per atom once learning stopped)
        nv2 = check_df.join(learned, ["kind", "text"], "left_anti")
        nv = nv1.select(*nv_src.columns).unionByName(nv2.select(*nv_src.columns))
    else:
        nv = check_new_values(
            nv_src, ["kind", "text"], cfg.known_kind_text, order_cols=["ts", "doc_id"]
        )
    checks.append(_viol(nv, "new_value", "New value(s) detected"))

    # 6. drift: text-length distribution vs baseline histogram, per kind
    lens = flat.withColumn("text_len", F.length("text").cast("double"))
    lo, hi = cfg.text_len_bounds
    cur_hist = histogram(lens, "text_len", lo, hi, cfg.n_hist_buckets, ["kind"])
    if cfg.baseline_hist is not None:
        drift = psi_kl(cur_hist, cfg.baseline_hist, ["kind"], cfg.n_hist_buckets)
        drift_fail = drift.filter(F.col("psi") > cfg.drift_psi_threshold)
        # drift is a snapshot-level verdict: a drifted kind fails every
        # partition in the batch (cross the tiny fail set with partitions)
        drift_rows = drift_fail.crossJoin(
            F.broadcast(docs.select("partition").dropDuplicates())
        )
        checks.append(
            _viol(
                drift_rows.withColumn("text", F.round("psi", 6).cast("string")),
                "drift",
                "Distribution drift (PSI)",
            )
        )

    violations = checks[0]
    for c in checks[1:]:
        violations = violations.unionByName(c)
    violations = violations.persist()

    # ONE action computes everything: the verdicts aggregation forces the
    # whole violations union, and its (tiny) collected result carries every
    # metric — no separate count() jobs, each of which would re-run Catalyst
    # analysis over the large union plan (a driver-serial cost).
    # size over ONE nested leaf, not the struct array: size(spans) forces a
    # decode of every span field (text included) just to count elements,
    # while size(spans.offset) prunes the ReadSchema to a single int leaf —
    # identical value (guide §6: verify pruning reaches the scan)
    part_counts = docs.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.col("spans").getField("offset"))).alias("n_spans"),
    )
    verdicts = (
        part_counts.join(
            violations.groupBy("partition", "suite").agg(
                F.count(F.lit(1)).alias("n_violations")
            ),
            "partition",
            "left",
        )
        .withColumn("suite", F.coalesce("suite", F.lit(None).cast("string")))
        .withColumn("n_violations", F.coalesce("n_violations", F.lit(0)))
        .withColumn("pass", F.col("n_violations") == 0)
    )
    vrows = verdicts.collect()
    # between the collect that filled the violations cache and its release:
    # the write is one job over the cache, not a second evaluation
    if violations_path is not None:
        violations.write.mode("overwrite").parquet(violations_path)
    violations.unpersist()
    # the verdicts re-enter Spark from the collected rows (Arrow, no Python
    # worker), so reading them never recomputes the checks
    verdicts = from_driver(spark, vrows, verdicts.schema)
    parts = {}
    n_viol = 0
    for r in vrows:
        parts[r["partition"]] = (r["n_docs"], r["n_spans"])
        n_viol += r["n_violations"]
    n_docs = sum(v[0] for v in parts.values())
    n_spans = sum(v[1] for v in parts.values())
    wall = time.time() - t_start
    metrics = {
        "rows_scanned": n_docs,
        "spans_scanned": n_spans,
        "violations": n_viol,
        "wall_time_s": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1) if wall > 0 else None,
    }
    # texts was persisted unconditionally above; the verdict collect is the
    # last action that evaluates it (the write reads the violations cache) —
    # release it here so repeated run_suite calls in one session don't
    # accumulate cached blocks
    texts.unpersist()
    if persist:
        flat.unpersist()
        docs.unpersist()
    return SuiteResult(violations=violations, verdicts=verdicts, metrics=metrics)
