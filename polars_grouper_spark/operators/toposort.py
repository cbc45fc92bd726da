"""Topological levels: layer a DAG by iterative source peeling.

Dependency scheduling's core question — "what can run in parallel, and
in what order?" — is the level assignment: level(v) = length of the
longest path from any source to v.  All nodes of one level are mutually
independent given the earlier levels, so the level IS the parallel
execution wave (build systems, DAG schedulers, feature-pipeline
ordering).

Kahn's algorithm distributes naturally as in-degree peeling: the node
state carries its SURVIVING in-degree; each round the deg-0 nodes take
the next level and their outgoing edges decrement their targets — one
join + one aggregation per round against a STATIC (cached) edge set,
each edge contributing its decrement exactly once.  Rounds = DAG depth
(typically tens), so per-round driver/job overhead dominates a naive
loop; rounds are therefore chained LAZILY in blocks of ``block``
(intermediates cached so branch reuse computes once) with a single
eager localCheckpoint per block that also observes the unpeeled count —
one checkpoint per ``block`` levels instead of one per level.  A cycle
means some nodes are never peeled (a whole block passes with no
progress): the operator RAISES rather than returning a partial layering
(feed it the ``scc.condensation`` of a cyclic graph first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from ..plans.iteration import observed, truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate


def _kahn_local(spark, edge_rows, max_rounds: int) -> DataFrame:
    """Driver-local Kahn peel over an already-DEDUPLICATED edge list
    that passed the ``max_local_edges`` guard — O(V+E), zero shuffles.
    Semantics identical to the distributed path (level = longest-path
    depth; cycle / max_rounds raise)."""
    from collections import defaultdict

    indeg: dict = defaultdict(int)
    out: dict = defaultdict(list)
    nodes: set = set()
    for r in edge_rows:
        u, v = r[0], r[1]
        out[u].append(v)
        indeg[v] += 1
        nodes.add(u)
        nodes.add(v)
    level: dict = {}
    frontier = [n for n in nodes if indeg[n] == 0]
    lvl = 0
    while frontier:
        if lvl >= max_rounds:
            raise ValueError(f"DAG depth exceeds max_rounds={max_rounds}")
        nxt = []
        for n in frontier:
            level[n] = lvl
            for m in out[n]:
                indeg[m] -= 1
                if indeg[m] == 0:
                    nxt.append(m)
        frontier = nxt
        lvl += 1
    if len(level) != len(nodes):
        raise ValueError(
            f"cycle detected: {len(nodes) - len(level)} nodes remain with "
            f"no source at level {lvl} (run scc.condensation first)"
        )
    return local_result(
        spark, [(n, int(l)) for n, l in level.items()], "node string, level int"
    )


def topological_levels(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    max_rounds: int = 200,
    block: int = 8,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Level assignment -> ``(node, level)`` for every node of the DAG
    (level 0 = sources; level(v) = longest-path depth from a source).
    Null endpoints drop the edge; self-loops raise (a self-loop is a
    cycle).  Raises ``ValueError`` if a cycle survives ``max_rounds``
    or prevents full peeling.

    Execution is two-tier (the ``betweenness`` broadcast-guard
    posture): the DISTINCT edge set is computed distributed (that is
    the 100 TB-scale work — a dependency DAG's deduplicated structure
    is typically millions of edges even when the fact table it is
    derived from is not), then if it fits ``max_local_edges`` the peel
    itself runs driver-local in O(V+E) — a ~20-round shuffle ladder
    over a tiny graph is pure stage overhead.  Larger DAGs take the
    distributed block peel below.

    Distributed path: ``block`` levels per Spark action — within a
    block the
    per-level state updates chain lazily (each intermediate cached, so
    the two consumers of a level's state — its sources and the updated
    state — compute it once), then a single eager localCheckpoint,
    whose observed remaining count decides progress/termination, cuts
    every in-block reference, letting the block's caches unpersist
    immediately.  Each edge decrements its target exactly once (when
    its source is peeled), so the edge set stays static and cached
    instead of being anti-joined down each round.
    """
    spark = df.sparkSession
    # None defers to spark.polars_grouper.maxLocalEdges, else 5M (the
    # Kahn peel is lighter per edge than the numpy fixpoint tiers' 2M).
    max_local_edges = resolve_max_local_edges(
        spark, max_local_edges, default=5_000_000
    )
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    edges, pdf = tier_gate(
        df.where(s.isNotNull() & d.isNotNull())
        .select(s.alias("u"), d.alias("v"))
        .distinct(),
        max_local_edges,
    )
    if pdf is not None:
        return _kahn_local(
            spark, pdf.itertuples(index=False, name=None), max_rounds
        )
    # state = one row per node: surviving in-degree + assigned level
    # (null until the node is peeled; deg==0 & level null = the CURRENT
    # level's sources).
    indeg = edges.groupBy(F.col("v").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    state, obs = observed(
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
        .join(indeg, "node", "left")
        .select(
            "node",
            F.coalesce("deg", F.lit(0)).alias("deg"),
            F.lit(None).cast("int").alias("level"),
        )
    )
    state = truncate_lineage(state)
    n_left = obs.get["n"]
    if n_left == 0:
        return local_result(spark, [], "node string, level int")

    lvl = 0
    while lvl < max_rounds:
        block_start_left = n_left
        cached: list[DataFrame] = []
        for _ in range(min(block, max_rounds - lvl)):
            is_source = F.col("level").isNull() & (F.col("deg") == 0)
            tagged = state.withColumn(
                "level", F.when(is_source, F.lit(lvl)).otherwise(F.col("level"))
            ).cache()
            cached.append(tagged)
            dec = (
                edges.join(
                    tagged.where(F.col("level") == lvl).select(
                        F.col("node").alias("u")
                    ),
                    "u",
                )
                .groupBy(F.col("v").alias("node"))
                .agg(F.count(F.lit(1)).alias("dec"))
            )
            state = tagged.join(dec, "node", "left").select(
                "node",
                (F.col("deg") - F.coalesce("dec", F.lit(0))).alias("deg"),
                "level",
            )
            lvl += 1
        # The block's checkpoint materializes the chain (through the
        # caches, so each intermediate computes once), cuts its lineage
        # and observes the unpeeled count in the same job.
        state, obs = observed(state, left=F.count_if(F.col("level").isNull()))
        state = truncate_lineage(state)
        n_left = obs.get["left"]
        for c in cached:
            c.unpersist()
        if n_left == 0:
            break
        if n_left == block_start_left:
            raise ValueError(
                f"cycle detected: {n_left} nodes remain with no source at "
                f"level {lvl} (run scc.condensation first)"
            )
    else:
        if n_left > 0:
            raise ValueError(f"DAG depth exceeds max_rounds={max_rounds}")

    return state.select("node", F.col("level").cast("int").alias("level"))


def topological_levels_sql(edge_sql: str) -> str:
    """DuckDB oracle for :func:`topological_levels` — longest-path depth
    via a recursive CTE (equivalent to peeling order on a DAG)."""
    return f"""
WITH RECURSIVE raw AS ({edge_sql}),
e AS (
  SELECT DISTINCT CAST(src AS VARCHAR) AS u, CAST(dst AS VARCHAR) AS v
  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL
),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
paths AS (
  SELECT node, 0 AS depth FROM nodes
  WHERE node NOT IN (SELECT v FROM e)
  UNION
  SELECT e.v AS node, p.depth + 1 AS depth
  FROM paths p JOIN e ON e.u = p.node
)
SELECT node, CAST(max(depth) AS INT) AS level FROM paths GROUP BY node
"""


def redundant_edges_2hop(
    df: DataFrame, src: str = "from", dst: str = "to"
) -> DataFrame:
    """Two-hop redundancy detection -> ``(src, dst, via_count)`` for
    every DIRECT edge that is short-circuited by some 2-path (∃w:
    src→w→dst) — the lineage/dependency-graph cleanup: a direct edge
    that duplicates a transitive path adds scheduling constraints
    without information.  (Exact transitive reduction needs full
    reachability; the 2-hop form is the standard one-join
    approximation and is exact for redundancy introduced by collapsing
    one intermediate — the common case in generated DAGs.)

    One wedge self-join on the shared middle node, inner-joined back to
    the edge set — the triangle counter's bounded shape on a directed
    graph; via_count says how many distinct middles witness the
    redundancy."""
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    edges = truncate_lineage(
        df.where(s.isNotNull() & d.isNotNull() & (s != d))
        .select(s.alias("u"), d.alias("v"))
        .distinct()
    )
    hop1 = edges.select(F.col("u").alias("a"), F.col("v").alias("w"))
    hop2 = edges.select(F.col("u").alias("w"), F.col("v").alias("b"))
    two = (
        hop1.join(hop2, "w")
        .where(F.col("a") != F.col("b"))
        .groupBy(F.col("a").alias("u"), F.col("b").alias("v"))
        .agg(F.count(F.lit(1)).alias("via_count"))
    )
    return edges.join(two, ["u", "v"]).select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "via_count"
    )


def redundant_edges_2hop_sql(edge_sql: str) -> str:
    """DuckDB oracle for :func:`redundant_edges_2hop`."""
    return f"""
WITH raw AS ({edge_sql}),
e AS (
  SELECT DISTINCT CAST(src AS VARCHAR) AS u, CAST(dst AS VARCHAR) AS v
  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
),
two AS (
  SELECT h1.u, h2.v, count(*) AS via_count
  FROM e h1 JOIN e h2 ON h1.v = h2.u
  WHERE h1.u <> h2.v
  GROUP BY h1.u, h2.v
)
SELECT e.u AS src, e.v AS dst, two.via_count
FROM e JOIN two ON two.u = e.u AND two.v = e.v
"""
