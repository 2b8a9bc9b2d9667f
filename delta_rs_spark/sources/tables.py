"""Loaders for the synthetic benchmark tables (TESTDATA.md).

One parquet file per table under ``$SPARK_GRAFT_SF_DIR``. The ``events``
table carries INT64 TIMESTAMP(NANOS) — Spark has no nanosecond timestamp, so
(with ``spark.sql.legacy.parquet.nanosAsLong=true``, set in session.py) the
column arrives as a long and is converted here to a µs timestamp. Synthetic
event times are second-granularity, so the ns→µs truncation is lossless.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# tables whose per-row work (shingling, minhash, vector distance) dwarfs scan
# cost — these get spread to full parallelism when the file layout under-splits
_COMPUTE_HEAVY = {"documents", "embeddings"}

# Per-session memo of the lazy table DataFrames. ``spark.read.parquet`` is
# driver-side METADATA work (file listing + footer schema read) repeated
# identically on every call — a query over five tables paid it five times
# per invocation, and the bench's timed runs three more times each. The memo
# holds only the unexecuted plan (reader handle): every action still scans
# the parquet files, so no result or data is ever cached here. Keyed weakly
# by session so a stopped session's entries vanish instead of pinning the
# JVM handle, and by (sf_dir, name) within a session.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _TABLE_MEMO.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    df = per_session.get(key)
    if df is not None:
        return df
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # A small single-row-group file scans as ONE split, which serializes every
    # downstream map on one core no matter how wide the cluster is. For the
    # CPU-heavy per-row tables (shingling, hashing, vector math) spread the
    # rows across the executors; scan-light relational tables are left alone —
    # an extra shuffle costs more than their aggregation saves. At real scale
    # the scan already yields >= defaultParallelism splits and this never fires.
    if name in _COMPUTE_HEAVY:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    per_session[key] = df
    return df
