"""Temporal (time-respecting) reachability over timed edge lists.

In a temporal graph an edge ``u -> v`` carries a timestamp and a path is
valid only if its edge times are non-decreasing — you cannot ride an
interaction that happened before you arrived (Kempe, Kleinberg &
Kumar 2002; Holme & Saramäki 2012).  Static reachability badly
over-approximates diffusion on interaction data; this operator computes
the real thing: the earliest time each node can be reached from a seed
set.

Algorithm: earliest-arrival relaxation — the temporal analogue of the
repo's shortest-path loop (shortest_path.py): state ``(node,
earliest_arrival)`` partitioned on the node key; each round joins the
improved frontier against the timed edges with the waiting rule
``arrival(u) <= t``, min-combines arrivals, and keeps only improvements.
Rounds ≤ hop count of the longest time-respecting path (``max_hops``
bounds it); every aggregation is map-side combinable; the frontier is
broadcast while small (same AQE-can't-size-a-checkpoint reasoning as
shortest_path).

Timestamps are compared as microsecond longs (engine-portable; no
second-truncation mismatches).  Null endpoints/timestamps drop the edge.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from ..functions.timeutil import epoch_us_ntz
from ..plans.iteration import observed, truncate_lineage

_BROADCAST_FRONTIER_ROWS = 1_000_000


def temporal_reachability(
    df: DataFrame,
    sources: Sequence[str],
    src: str = "from",
    dst: str = "to",
    ts_col: str = "ts",
    *,
    max_hops: int = 10,
) -> DataFrame:
    """Earliest time-respecting arrival -> ``(node, earliest_arrival)``
    (timestamp) for every node reachable from ``sources`` within
    ``max_hops`` interaction hops; seeds appear with NULL arrival
    (present from the beginning of time).  Waiting at a node is allowed:
    an edge at time ``t`` is usable iff the node was reached at or
    before ``t``.
    """
    if not sources:
        raise ValueError("temporal_reachability requires at least one source")
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    # session-TZ-independent: earliest_arrival surfaces in the output
    t = epoch_us_ntz(F.col(ts_col))
    edges = truncate_lineage(
        df.where(s.isNotNull() & d.isNotNull() & F.col(ts_col).isNotNull())
        .select(s.alias("u"), d.alias("v"), t.alias("t"))
        .groupBy("u", "v")
        .agg(F.collect_list("t").alias("ts"))
        .select("u", "v", F.array_sort("ts").alias("ts"))
    )

    src_list = [str(x) for x in sources]
    spark = df.sparkSession
    # arrival: NULL = seed (reachable from -infinity)
    dist = truncate_lineage(
        local_result(spark, [(x,) for x in src_list], "node string").select(
            "node", F.lit(None).cast("long").alias("arr")
        )
    )
    frontier = dist
    frontier_rows = len(src_list)

    for _ in range(max_hops):
        fr = (
            F.broadcast(frontier)
            if frontier_rows <= _BROADCAST_FRONTIER_ROWS
            else frontier
        )
        # Earliest usable departure per edge: the smallest edge time >=
        # the arrival (array is sorted; NULL arrival = any time works).
        usable = F.filter(
            F.col("ts"),
            lambda x: F.col("arr").isNull() | (x >= F.col("arr")),
        )
        cand = (
            fr.join(edges, fr["node"] == edges["u"])
            # try_element_at: ANSI element_at throws on the empty array a
            # node with no usable departure produces.
            .select(
                F.col("v").alias("node"),
                F.try_element_at(usable, F.lit(1)).alias("arr"),
            )
            .where(F.col("arr").isNotNull())
            .groupBy("node")
            .agg(F.min("arr").alias("arr"))
        )
        old = dist.select(F.col("node").alias("xn"), F.col("arr").alias("xa"))
        improved = (
            cand.join(old, cand["node"] == old["xn"], "left")
            .where(
                F.col("xn").isNull()
                | (F.col("xa").isNotNull() & (F.col("arr") < F.col("xa")))
            )
            .select("node", "arr")
        )
        improved, obs = observed(improved)
        improved = truncate_lineage(improved)
        frontier_rows = obs.get["n"]
        if frontier_rows == 0:
            break
        dist = truncate_lineage(
            dist.unionByName(improved)
            .groupBy("node")
            .agg(
                F.when(
                    F.max(F.col("arr").isNull().cast("int")) == 1, F.lit(None)
                )
                .otherwise(F.min("arr"))
                .alias("arr")
            )
        )
        frontier = improved

    # timestampadd over an NTZ base, not timestamp_micros: the latter
    # returns LTZ, which RENDERS in the session zone — the output column
    # itself must be zone-free (matches the oracle's naive
    # make_timestamp).
    return dist.select(
        "node",
        F.expr(
            "timestampadd(MICROSECOND, arr, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ).alias("earliest_arrival"),
    )


def temporal_reachability_sql(
    edge_sql: str, sources: Sequence[str], max_hops: int = 10
) -> str:
    """DuckDB oracle replicating :func:`temporal_reachability` with
    MATERIALIZED unrolled rounds; ``edge_sql`` yields ``(src, dst, ts)``."""
    src_vals = ",".join(f"('{s}')" for s in sources)
    parts = [
        f"WITH raw AS ({edge_sql})",
        """, e AS (
  SELECT CAST(src AS VARCHAR) AS u, CAST(dst AS VARCHAR) AS v,
         epoch_us(ts) AS t
  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL AND ts IS NOT NULL
)""",
        f""", d0 AS (
  SELECT node, CAST(NULL AS BIGINT) AS arr
  FROM (VALUES {src_vals}) s(node)
)""",
    ]
    prev = "d0"
    for i in range(1, max_hops + 1):
        parts.append(
            f""", d{i} AS MATERIALIZED (
  SELECT node,
         CASE WHEN bool_or(arr IS NULL) THEN NULL ELSE min(arr) END AS arr
  FROM (
    SELECT node, arr FROM {prev}
    UNION ALL
    SELECT e.v AS node, min(e.t) AS arr
    FROM {prev} p JOIN e ON e.u = p.node
     AND (p.arr IS NULL OR e.t >= p.arr)
    GROUP BY e.v
  ) GROUP BY node
)"""
        )
        prev = f"d{i}"
    parts.append(
        f" SELECT node, make_timestamp(arr) AS earliest_arrival FROM {prev}"
    )
    return "\n".join(parts)
