"""Partition quality metrics: Newman modularity per community.

Given an undirected edge list and a node→community assignment (from
``label_spreading``, ``components``, or any external clustering), score
the partition with Newman & Girvan (2004) modularity

    Q = Σ_c [ e_c / m  −  (K_c / 2m)² ]

where ``m`` is the (distinct, undirected) edge count over assigned
nodes, ``e_c`` the edges internal to community ``c``, and ``K_c`` the
sum of degrees of ``c``'s nodes.  The per-community decomposition is
returned so callers can see which communities carry the structure; the
total Q is the sum of contributions.

Everything is two joins + two aggregations on the node key; the
community table is usually small enough that Catalyst broadcasts it.
Edges with an unassigned endpoint are excluded (documented: metrics are
computed over the assigned subgraph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def modularity(
    edges_df: DataFrame,
    assignment: DataFrame,
    src: str = "from",
    dst: str = "to",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Per-community modularity -> ``(community, n_nodes, internal_edges,
    degree_sum, contribution)`` with ``contribution`` rounded to 9;
    ``sum(contribution)`` is the partition's Q ∈ [-0.5, 1).

    Input coercions follow SURVEY.md §1: endpoints/nodes cast to string;
    null endpoints drop the edge; self-loops dropped; parallel edges
    collapse (modularity is over the simple graph).
    """
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    edges = (
        edges_df.where(s.isNotNull() & d.isNotNull() & (s != d))
        .select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .distinct()
    )
    asg = assignment.select(
        F.col(node_col).cast("string").alias("n"),
        F.col(community_col).cast("string").alias("c"),
    ).distinct()

    ca = asg.select(F.col("n").alias("a"), F.col("c").alias("ca"))
    cb = asg.select(F.col("n").alias("b"), F.col("c").alias("cb"))
    from ..plans.iteration import observed, truncate_lineage

    # tagged feeds the intra filter and both degree branches — materialize
    # once; its row count rides the checkpoint job.
    tagged, obs = observed(edges.join(ca, "a").join(cb, "b"))
    tagged = truncate_lineage(tagged)
    m = obs.get["n"]
    if m == 0:
        return asg.groupBy(F.col("c").alias("community")).agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.lit(0).cast("long").alias("internal_edges"),
            F.lit(0).cast("long").alias("degree_sum"),
            F.lit(0.0).alias("contribution"),
        )

    internal = (
        tagged.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    deg = (
        tagged.select(F.col("a").alias("n"), F.col("ca").alias("c"))
        .unionAll(tagged.select(F.col("b").alias("n"), F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("degree_sum"))
    )
    sizes = asg.groupBy("c").agg(F.count(F.lit(1)).alias("n_nodes"))

    two_m = 2.0 * m
    out = (
        sizes.join(internal, "c", "left")
        .join(deg, "c", "left")
        .select(
            F.col("c").alias("community"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce("internal_edges", F.lit(0)).cast("long").alias("internal_edges"),
            F.coalesce("degree_sum", F.lit(0)).cast("long").alias("degree_sum"),
            F.round(
                F.coalesce("internal_edges", F.lit(0)) / F.lit(float(m))
                - F.pow(
                    F.coalesce("degree_sum", F.lit(0)) / F.lit(two_m), F.lit(2.0)
                ),
                9,
            ).alias("contribution"),
        )
    )
    return out


def modularity_sql(
    edge_sql: str, assignment_sql: str
) -> str:
    """DuckDB oracle replicating :func:`modularity`; ``assignment_sql``
    yields ``(node, community)``."""
    return f"""
WITH raw AS ({edge_sql}),
e AS (
  SELECT DISTINCT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,
                  greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b
  FROM raw
  WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
),
asg AS (
  SELECT DISTINCT CAST(node AS VARCHAR) AS n, CAST(community AS VARCHAR) AS c
  FROM ({assignment_sql})
),
tagged AS (
  SELECT e.a, e.b, x.c AS ca, y.c AS cb
  FROM e JOIN asg x ON x.n = e.a JOIN asg y ON y.n = e.b
),
m AS (SELECT count(*)::DOUBLE AS m FROM tagged),
internal AS (
  SELECT ca AS c, count(*)::BIGINT AS internal_edges
  FROM tagged WHERE ca = cb GROUP BY 1
),
deg AS (
  SELECT c, count(*)::BIGINT AS degree_sum FROM (
    SELECT a AS n, ca AS c FROM tagged
    UNION ALL SELECT b, cb FROM tagged
  ) GROUP BY 1
),
sizes AS (SELECT c, count(*)::BIGINT AS n_nodes FROM asg GROUP BY 1)
SELECT s.c AS community, s.n_nodes,
       coalesce(i.internal_edges, 0) AS internal_edges,
       coalesce(d.degree_sum, 0) AS degree_sum,
       round(coalesce(i.internal_edges, 0) / (SELECT m FROM m)
             - power(coalesce(d.degree_sum, 0) / (2.0 * (SELECT m FROM m)), 2.0),
             9) AS contribution
FROM sizes s
LEFT JOIN internal i ON i.c = s.c
LEFT JOIN deg d ON d.c = s.c
"""


def conductance(
    edges_df: DataFrame,
    assignment: DataFrame,
    src: str = "from",
    dst: str = "to",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Per-community conductance -> ``(community, cut_edges, volume,
    conductance)``: ``phi(c) = cut(c) / min(vol(c), vol(rest))`` with
    ``cut`` the edges leaving ``c`` and ``vol`` the degree sum (Kannan,
    Vempala & Vetta 2004) — low conductance = a well-separated cluster.
    Rounded to 9; NULL when the min volume is 0 (empty side).

    Same input conventions and cost shape as :func:`modularity` (the two
    share the tagged-edge construction; conductance adds one total-volume
    scalar that rides as a cross-joined one-row frame).
    """
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    edges = (
        edges_df.where(s.isNotNull() & d.isNotNull() & (s != d))
        .select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .distinct()
    )
    asg = assignment.select(
        F.col(node_col).cast("string").alias("n"),
        F.col(community_col).cast("string").alias("c"),
    ).distinct()
    ca = asg.select(F.col("n").alias("a"), F.col("c").alias("ca"))
    cb = asg.select(F.col("n").alias("b"), F.col("c").alias("cb"))
    from ..plans.iteration import truncate_lineage

    # tagged feeds cut and both volume branches — materialize once.
    tagged = truncate_lineage(edges.join(ca, "a").join(cb, "b"))

    cut = (
        tagged.where(F.col("ca") != F.col("cb"))
        .select(F.explode(F.array("ca", "cb")).alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("cut_edges"))
    )
    vol = (
        tagged.select(F.col("ca").alias("c"))
        .unionAll(tagged.select(F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("volume"))
    )
    vol = truncate_lineage(vol)
    total = vol.agg(F.sum("volume").alias("tv"))
    other = F.col("tv") - F.col("volume")
    mn = F.least(F.col("volume"), other)
    return (
        vol.join(cut, "c", "left")
        .crossJoin(total)
        .select(
            F.col("c").alias("community"),
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias("cut_edges"),
            F.col("volume").cast("long").alias("volume"),
            F.round(
                F.when(
                    mn > 0,
                    F.coalesce("cut_edges", F.lit(0)).cast("double") / mn,
                ),
                9,
            ).alias("conductance"),
        )
    )


def conductance_sql(edge_sql: str, assignment_sql: str) -> str:
    """DuckDB oracle replicating :func:`conductance`."""
    return f"""
WITH raw AS ({edge_sql}),
e AS (
  SELECT DISTINCT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,
                  greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b
  FROM raw
  WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
),
asg AS (
  SELECT DISTINCT CAST(node AS VARCHAR) AS n, CAST(community AS VARCHAR) AS c
  FROM ({assignment_sql})
),
tagged AS (
  SELECT e.a, e.b, x.c AS ca, y.c AS cb
  FROM e JOIN asg x ON x.n = e.a JOIN asg y ON y.n = e.b
),
cut AS (
  SELECT c, count(*)::BIGINT AS cut_edges FROM (
    SELECT ca AS c FROM tagged WHERE ca <> cb
    UNION ALL SELECT cb FROM tagged WHERE ca <> cb
  ) GROUP BY 1
),
vol AS (
  SELECT c, count(*)::BIGINT AS volume FROM (
    SELECT ca AS c FROM tagged UNION ALL SELECT cb FROM tagged
  ) GROUP BY 1
),
total AS (SELECT sum(volume) AS tv FROM vol)
SELECT v.c AS community,
       coalesce(cu.cut_edges, 0) AS cut_edges,
       v.volume,
       round(CASE WHEN least(v.volume, (SELECT tv FROM total) - v.volume) > 0
                  THEN coalesce(cu.cut_edges, 0)
                       / least(v.volume, (SELECT tv FROM total) - v.volume)::DOUBLE
                  ELSE NULL END, 9) AS conductance
FROM vol v LEFT JOIN cut cu ON cu.c = v.c
"""
