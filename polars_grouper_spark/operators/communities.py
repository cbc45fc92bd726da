"""Community detection by synchronous label propagation (LPA).

Raghavan et al. 2007's label-propagation algorithm, the linear-time
community detector every distributed graph library ships (GraphX
`LabelPropagation`, Neo4j GDS LPA): every node starts in its own
community; each round, every node adopts the most frequent community
among its neighbors.  Dense regions converge to one label within a few
rounds; the surviving labels ARE the communities — no modularity
optimization loop, no global state beyond the (node, label) frame.

This complements the existing graph toolkit: ``connected_components``
finds the coarsest partition (reachability), ``modularity``/
``conductance`` SCORE a given partition, ``label_spreading`` extends
seed labels — LPA DISCOVERS an unseeded partition finer than the
components.

Determinism (the distributed contract): updates are synchronous (all
nodes read the previous round's labels) and ties break by (count desc,
label asc) — a total order, so the result is engine-portable and the
DuckDB oracle replays it round for round.  The classic async
random-order LPA is run-dependent and cannot be verified or scaled;
only the synchronous form has a well-defined answer.  Synchronous LPA
can oscillate with period 2 on bipartite structure — a FIXED round
count makes the output deterministic regardless, and is what GraphX
does (maxSteps).

Plan shape per round: one equality join of the (node, label) state
against the adjacency (shuffle keyed on node), one map-side-combinable
(node, label) count, one per-node window argmax whose partition size is
bounded by the node's distinct-neighbor-label count (≤ degree, shrinking
as labels coalesce).  State is O(V); lineage is truncated every round so
the plan does not deepen with rounds.  At 100 TB the adjacency is the
big side and is built once; the label frame is the small, shrinking
side of every join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.iteration import truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate


def lpa_communities(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    rounds: int = 4,
    directed: bool = False,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Run ``rounds`` synchronous LPA rounds -> ``(node, community)``
    for every node with at least one edge (isolated nodes never appear
    in an edge list).  ``community`` is the surviving label — the id of
    one of the member nodes, stable across engines.

    Nodes are coerced to string (SURVEY.md §1.2); null endpoints drop
    the edge; self-loops are ignored (a node's own label does not vote).

    Two-tier (round 7): synchronous LPA with the (count desc, label asc)
    total order is a pure function of the edge set, so when the RAW edge
    frame fits ``max_local_edges`` the rounds run driver-local as
    vectorized numpy group-argmax sweeps (codes from sorted
    ``np.unique``, so code order == label string order and the tiebreak
    is bit-identical); ``max_local_edges=0`` skips the tier entirely.
    The local tier mirrors every distributed quirk, including the
    directed-graph fact that a node with no in-edges leaves the label
    state after round 1.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    base = df.where(s.isNotNull() & d.isNotNull() & (s != d)).select(
        s.alias("u"), d.alias("v")
    )
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    base, pdf = tier_gate(
        base,
        max_local_edges if directed else max_local_edges // 2,
        materialize=False,
    )
    if pdf is not None:
        import numpy as np
        import pandas as pd

        if not directed:
            pdf = pd.concat(
                [pdf, pdf.rename(columns={"u": "v", "v": "u"})],
                ignore_index=True,
            )
        pdf = pdf.drop_duplicates(["u", "v"], ignore_index=True)
        schema = "node string, community string"
        if not len(pdf):
            return df.sparkSession.createDataFrame([], schema)
        names, inv = np.unique(
            pd.concat([pdf["u"], pdf["v"]], ignore_index=True).to_numpy(),
            return_inverse=True,
        )
        m = len(pdf)
        eu, ev = inv[:m], inv[m:]
        n_nodes = len(names)
        lab = np.full(n_nodes, -1, dtype=np.int64)
        src_nodes = np.unique(eu)
        lab[src_nodes] = src_nodes
        for _ in range(rounds):
            live = lab[eu] >= 0
            tu, tv = eu[live], ev[live]
            newlab = np.full(n_nodes, -1, dtype=np.int64)
            if len(tu):
                key = tv * n_nodes + lab[tu]
                uk, counts = np.unique(key, return_counts=True)
                knode, klab = uk // n_nodes, uk % n_nodes
                order = np.lexsort((klab, -counts, knode))
                ks, ls = knode[order], klab[order]
                first = np.ones(len(ks), dtype=bool)
                first[1:] = ks[1:] != ks[:-1]
                newlab[ks[first]] = ls[first]
            lab = newlab
        keep = lab >= 0
        out = pd.DataFrame(
            {"node": names[keep], "community": names[lab[keep]]}
        )
        return df.sparkSession.createDataFrame(out, schema)

    edges = base.distinct()
    if not directed:
        edges = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
    edges = truncate_lineage(edges)

    # Every node starts in its own community.
    labels = truncate_lineage(
        edges.select(F.col("u").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
    )

    w = Window.partitionBy("node").orderBy(F.col("n").desc(), F.col("label"))
    for _ in range(rounds):
        votes = (
            edges.join(labels.select(F.col("node").alias("u"), "label"), "u")
            .groupBy(F.col("v").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = truncate_lineage(
            votes.select("node", "label", F.row_number().over(w).alias("rk"))
            .where(F.col("rk") == 1)
            .select("node", "label")
        )
    return labels.select("node", F.col("label").alias("community"))


def lpa_communities_sql(
    edge_sql: str, rounds: int = 4, directed: bool = False
) -> str:
    """DuckDB oracle replaying :func:`lpa_communities` round for round:
    ``edge_sql`` yields ``(src, dst)``."""
    mirror = (
        ""
        if directed
        else " UNION SELECT CAST(dst AS VARCHAR), CAST(src AS VARCHAR) FROM raw "
        "WHERE src IS NOT NULL AND dst IS NOT NULL "
        "AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)"
    )
    parts = [
        f"WITH raw AS ({edge_sql})",
        f""", e AS (
  SELECT DISTINCT CAST(src AS VARCHAR) AS u, CAST(dst AS VARCHAR) AS v
  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR){mirror}
)""",
        ", l0 AS (SELECT DISTINCT u AS node, u AS label FROM e)",
    ]
    prev = "l0"
    for i in range(1, rounds + 1):
        parts.append(
            f""", v{i} AS (
  SELECT e.v AS node, l.label, count(*) AS n
  FROM e JOIN {prev} l ON l.node = e.u
  GROUP BY 1, 2
), l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rk
    FROM v{i}
  ) WHERE rk = 1
)"""
        )
        prev = f"l{i}"
    parts.append(f" SELECT node, label AS community FROM {prev}")
    return "\n".join(parts)
