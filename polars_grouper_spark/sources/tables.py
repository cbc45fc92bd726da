"""Table registry for the driver-generated testdata (TESTDATA.md).

Column pruning and predicate pushdown reach the parquet scan because
loading is a bare ``spark.read.parquet`` — no eager caching, no schema
mangling.  Check with ``df.explain``: filters on these tables must show
up under ``PushedFilters`` and the scan's ``ReadSchema`` must shrink to
the selected columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-session LAZY reader-handle cache (r10, tail-as-a-class): every
# ``spark.read.parquet(path)`` pays ~85 ms of driver-side work (file
# listing + footer/schema read + relation analysis) before any job runs
# — a fixed cost charged to EVERY query that touches a table.  Caching
# the unresolved DataFrame handle per (session, path) removes the repeat
# cost exactly like registering temp views once per session
# (``register_views``) would; it caches NO data and NO results — each
# action still scans parquet.  Keyed by the session OBJECT, not the
# applicationId: ``spark.newSession()`` shares the application, and a
# handle is bound to the session that read it (its conf, e.g.
# ``spark.polars_grouper.maxLocalEdges``, governs every operator run on
# it).  Only the newest session's handles are retained.
_HANDLE_CACHE: "tuple[SparkSession | None, dict[str, DataFrame]]" = (None, {})


def _cached_handle(spark: SparkSession, path: str):
    global _HANDLE_CACHE
    if _HANDLE_CACHE[0] is not spark:
        _HANDLE_CACHE = (spark, {})
    return _HANDLE_CACHE[1], path


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = f"{sf_dir}/{name}.parquet"
    cache, key = _cached_handle(spark, path)
    hit = cache.get(key)
    if hit is not None:
        return hit
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) which Spark's vectorized reader
        # rejects; read nanos as long and convert (micro precision).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            # Integer division — `/` would go through double and lose
            # sub-microsecond precision at 1.7e18 ns (53-bit mantissa),
            # rounding some timestamps off by 1 us vs the oracle.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        cache[key] = df
        return df
    df = spark.read.parquet(path)
    cache[key] = df
    return df


def load_raw_schema(spark: SparkSession, name: str, sf_dir: str | None = None):
    """Schema of the table's parquet file AS WRITTEN (no ts conversion) —
    what a ``readStream.schema(...)`` source needs.  Cached per session
    exactly like :func:`load_table` handles (the streaming queries were
    each paying a fresh ~85 ms footer read per invocation)."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = f"{sf_dir}/{name}.parquet"
    cache, key = _cached_handle(spark, f"schema::{path}")
    hit = cache.get(key)
    if hit is not None:
        return hit
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    cache[key] = schema
    return schema


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register all tables as temp views for spark.sql() use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
