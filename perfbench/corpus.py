"""Seeded benchmark inputs, cached on disk by seed and size.

Two kinds of input:

- the detector tables (``events``, ``documents``, ``embeddings``,
  ``customer``, ``lineitem``) in the shape of the engine queries' sf
  tables, written with numpy + pyarrow, no Spark needed;
- the suite's documents table from ``datagen.gen_documents``, written
  through Spark (optionally with ``ts`` stretched over many UTC days, one
  checkpoint partition per day, for the validation CLI).

Every table is a pure function of its arguments: the same seed gives the
same bytes. A finished table dir holds a ``_DONE`` marker, so a run that
died half-way through generation is never read as a complete input.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark order data column join small line customer query big stream "
    "window sort group filter vector"
).split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
T0 = datetime(2024, 1, 1)
DAY_S = 86_400


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _finish(path: str, meta: dict) -> None:
    with open(os.path.join(path, "_DONE"), "w") as fh:
        json.dump(meta, fh)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "_DONE")) as fh:
        return json.load(fh)


def detector_tables(root: str, seed: int, n_events: int = 1000) -> str:
    """Write the engine queries' input tables for ``seed``; return the dir.

    Sizes follow the sf tables the queries were written against: per 1000
    events there are 15 users, 150 customers and 6000 lineitems; the text
    and vector tables stay at 500 rows."""
    path = os.path.join(root, f"detectors-s{seed}-e{n_events}")
    if _done(path):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    rng = np.random.default_rng(seed)
    n_users = max(n_events * 15 // 1000, 2)
    n_cust = n_events * 150 // 1000
    n_items = n_events * 6
    n_docs = n_vecs = 500

    ts_us = np.sort(rng.integers(0, 30 * DAY_S * 1_000_000, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(
            np.datetime64(T0, "us") + ts_us.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(
            np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)
        ),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    texts = [
        " ".join(rng.choice(DOC_VOCAB, int(rng.integers(10, 90))))
        for _ in range(n_docs)
    ]
    # plant near-duplicates (an earlier text with a few tokens replaced,
    # tagged "dup") so the set-similarity queries have pairs to verify
    for i in rng.choice(np.arange(50, n_docs), n_docs // 20, replace=False):
        toks = texts[int(rng.integers(0, i))].split()
        for j in rng.integers(0, len(toks), 3):
            toks[j] = str(rng.choice(DOC_VOCAB))
        texts[i] = " ".join(toks + ["dup"])
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    # weak clusters: a few cross the near-duplicate cosine threshold
    vecs = 0.3 * centers[labels] + rng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })

    ship_days = rng.integers(0, 7 * 365, n_items).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_items // 4, n_items), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_cust * 2 + 1, n_items), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_items), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_items).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n_items), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_items) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_items) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_items)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_items)),
        "l_shipdate": pa.array(
            np.datetime64("1995-01-02", "us") + ship_days.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
    })

    tables = {
        "events": events, "documents": documents, "embeddings": embeddings,
        "customer": customer, "lineitem": lineitem,
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    _finish(path, {"seed": seed, "rows": {k: t.num_rows for k, t in tables.items()}})
    return path


def suite_documents(
    spark, root: str, seed: int, n_docs: int, days: int = 0
) -> str:
    """Write ``gen_documents(seed=seed)`` (default fault mix: 0.1% duplicate
    ids, 2% dangling media refs) and its media table under one dir.

    ``days > 0`` stretches ``ts`` linearly so the docs cover that many UTC
    days, each day one checkpoint partition of the validation CLI."""
    from pyspark.sql import functions as F

    from logdata_anomaly_miner_spark.datagen import gen_documents, gen_media

    path = os.path.join(root, f"suite-s{seed}-n{n_docs}-d{days}")
    if _done(path):
        return path
    shutil.rmtree(path, ignore_errors=True)
    docs = gen_documents(
        spark, n_docs=n_docs, seed=seed, dup_rate=0.001, dangling_rate=0.02,
    )
    if days:
        # gen_documents spaces docs 0.1 s apart from t0 = 1.7e9 (a midnight
        # UTC is 1699920000); start the stretched range on that midnight
        t_day0 = 1_699_920_000.0
        span = n_docs * 0.1
        docs = docs.withColumn(
            "ts", F.lit(t_day0) + (F.col("ts") - F.lit(1.7e9)) * F.lit(days * DAY_S / span)
        )
    n_files = max(os.cpu_count() or 1, 1)
    docs.repartition(n_files).write.parquet(os.path.join(path, "documents.parquet"))
    gen_media(spark, 1000).coalesce(1).write.parquet(os.path.join(path, "media.parquet"))
    _finish(path, {"seed": seed, "n_docs": n_docs, "days": days})
    return path
