"""Minimum spanning forest via Borůvka rounds — THE parallel MST shape.

Kruskal and Prim are inherently sequential (a global edge scan in weight
order / a single growing frontier); Borůvka (1926) is the algorithm
every distributed MST implementation uses (e.g. GraphX's `minSpanningTree`
lineage): each round EVERY component picks its minimum outgoing edge,
chosen edges merge components, and the component count at least halves —
O(log V) rounds total, each round a constant number of equality joins
and one map-side-combinable min-aggregation.

Determinism: edges are ordered by the TOTAL key ``(wq, a, b)`` (weight
quantized ``(w * 1000) as long`` — the repo's reference convention — then
the canonical endpoint pair as strings).  A total order makes the MSF
unique, so Borůvka's result equals Kruskal's, equals the cycle-rule
characterization the DuckDB oracle uses (an edge is in the MSF iff its
endpoints are not connected by strictly-smaller edges).  Uniqueness also
makes the per-round choice cycle-free: a cycle of chosen edges would
need some component to have picked a non-minimal edge.

Scale shape per round: component labels are an O(V) state joined onto a
SHRINKING edge set (intra-component edges are dropped as they are
discovered — after round r the surviving edge set only spans the
≤ V/2^r remaining components); the component-graph contraction reuses
the star-algorithm ``components`` operator on a graph whose node count
is the component count, not V.  No driver-sized state at any point.

Reference surface: none (beyond-reference operator, SURVEY.md §2
extension list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from ..plans.iteration import truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate
from .connected_components import components


def _kruskal_local(rows) -> "list[tuple[str, str, float]]":
    """Driver-local Kruskal over the already min-collapsed canonical
    (a, b, wq) list: with the total key ``(wq, a, b)`` the MSF is
    unique, so Kruskal here == Borůvka there == the oracle's cycle
    rule."""
    rows = sorted(rows, key=lambda t: (t[2], t[0], t[1]))
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    out = []
    for a, b, wq in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
            out.append((a, b, wq / 1000.0))
    return out


def minimum_spanning_forest(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    weight: str = "weight",
    *,
    max_rounds: int = 40,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Minimum spanning forest -> ``(edge_a, edge_b, weight)`` with
    ``edge_a < edge_b`` (canonical pair) and ``weight = wq / 1000.0``.

    Undirected simple-graph semantics: endpoints cast to string, null
    endpoints/weights drop the edge, self-loops drop, parallel edges
    collapse to the minimum quantized weight.  One row per forest edge;
    a V-node graph with k components yields V - k rows.  Raises if the
    forest hasn't stabilized after ``max_rounds`` (Borůvka needs at most
    ``log2(V)`` — 40 covers any practical graph; hitting the cap means
    pathological input, not a truncation to silently return).

    Two-tier: the canonical min-collapse stays distributed; a collapsed
    graph within ``max_local_edges`` solves driver-local via Kruskal —
    the total key ``(wq, a, b)`` makes the forest unique, so the tiers
    agree exactly.  Larger graphs run the Borůvka rounds below.
    """
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    w = F.col(weight).cast("double")
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    edges, pdf = tier_gate(
        df.where(s.isNotNull() & d.isNotNull() & w.isNotNull() & (s != d))
        .select(
            F.least(s, d).alias("a"),
            F.greatest(s, d).alias("b"),
            (w * 1000.0).cast("long").alias("wq"),
        )
        .groupBy("a", "b")
        .agg(F.min("wq").alias("wq")),
        max_local_edges,
    )
    if pdf is not None:
        return local_result(
            df.sparkSession,
            sorted(_kruskal_local(list(pdf.itertuples(index=False, name=None)))),
            "edge_a string, edge_b string, weight double",
        )

    comp = truncate_lineage(
        edges.select(F.col("a").alias("node"))
        .union(edges.select("b"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
    )

    forest: "DataFrame | None" = None
    for _ in range(max_rounds):
        ec = (
            edges.join(
                comp.select(F.col("node").alias("a"), F.col("comp").alias("ca")),
                "a",
            )
            .join(
                comp.select(F.col("node").alias("b"), F.col("comp").alias("cb")),
                "b",
            )
            .where(F.col("ca") != F.col("cb"))
        )
        # the surviving inter-component edges ARE next round's edge set
        live = truncate_lineage(ec.select("a", "b", "wq", "ca", "cb"))
        if live.isEmpty():
            break
        edges = live.select("a", "b", "wq")  # lineage already cut above
        e_struct = F.struct("wq", "a", "b", "ca", "cb").alias("e")
        sel = (
            live.select(F.col("ca").alias("c"), e_struct)
            .union(live.select(F.col("cb").alias("c"), e_struct))
            .groupBy("c")
            .agg(F.min("e").alias("e"))
            .select("e.*")
        )
        chosen = truncate_lineage(sel.select("a", "b", "wq", "ca", "cb").distinct())
        round_edges = chosen.select("a", "b", "wq")
        forest = round_edges if forest is None else forest.union(round_edges)
        # contract: CC over the (component-count-sized) component graph
        merged = components(
            chosen.select(F.col("ca").alias("cu"), F.col("cb").alias("cv")),
            "cu",
            "cv",
            # forward the RESOLVED guard so per-call max_local_edges=0
            # disables the inner CC local tier too (r8 ADVICE) — the
            # component graph shrinks below the guard long before the
            # Borůvka loop ends, so without forwarding an explicit 0
            # would still trigger gated Arrow collects here
            max_local_edges=max_local_edges,
        ).select(F.col("node").alias("comp"), F.col("component").alias("newc"))
        comp = truncate_lineage(
            comp.join(merged, "comp", "left").select(
                "node", F.coalesce("newc", F.col("comp")).alias("comp")
            )
        )
    else:
        raise ValueError(
            f"minimum_spanning_forest did not stabilize in {max_rounds} "
            "rounds — pathological input (Borůvka needs <= log2(V))"
        )

    if forest is None:
        return local_result(
            df.sparkSession, [], "edge_a string, edge_b string, weight double"
        )
    return forest.distinct().select(
        F.col("a").alias("edge_a"),
        F.col("b").alias("edge_b"),
        (F.col("wq") / 1000.0).alias("weight"),
    )


def minimum_spanning_forest_sql(edge_sql: str) -> str:
    """DuckDB oracle via the cycle rule: with the total edge order
    ``(wq, a, b)`` the MSF is unique, and an edge belongs to it iff its
    endpoints are NOT connected using only strictly-smaller edges.  The
    recursive CTE computes, per candidate edge, the set of nodes
    reachable from ``a`` through smaller edges; the edge survives iff
    ``b`` is never reached.  ``edge_sql`` yields (src, dst, weight)."""
    return f"""
WITH RECURSIVE raw AS ({edge_sql}),
e0 AS (
  SELECT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,
         greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b,
         min(CAST(weight * 1000.0 AS BIGINT)) AS wq
  FROM raw
  WHERE src IS NOT NULL AND dst IS NOT NULL AND weight IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
  GROUP BY 1, 2
),
reach(a, b, wq, node) AS (
  SELECT a, b, wq, a FROM e0
  UNION
  SELECT r.a, r.b, r.wq,
         CASE WHEN f.a = r.node THEN f.b ELSE f.a END
  FROM reach r JOIN e0 f
    ON (f.a = r.node OR f.b = r.node)
   AND (f.wq, f.a, f.b) < (r.wq, r.a, r.b)
)
SELECT e.a AS edge_a, e.b AS edge_b, e.wq / 1000.0 AS weight
FROM e0 e
WHERE NOT EXISTS (
  SELECT 1 FROM reach r
  WHERE r.a = e.a AND r.b = e.b AND r.wq = e.wq AND r.node = e.b
)
"""
