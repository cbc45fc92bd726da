"""k-core decomposition (fixed k) — beyond-reference graph operator.

The k-core of an undirected graph is the maximal subgraph in which every
node has degree >= k (Seidman 1983) — the standard "dense part" extractor
for community mining and spam/bot subgraph detection.  Computed by
iterative peeling: repeatedly delete nodes of degree < k until none
remain.

Distributed formulation: each round is one map-side-combinable degree
aggregation over the surviving edge set plus two semi-joins to drop edges
touching peeled nodes — everything partitions on node id, nothing on the
driver.  Rounds are bounded by the peeling depth (real-world graphs peel
in a handful of rounds; a path graph with k=2 is the adversarial worst
case at O(V) — ``max_iter`` guards it).  The surviving edge set only
shrinks, so per-round shuffle volume is monotonically non-increasing.

Input conventions mirror the reference edge-list contract (SURVEY.md
§1.1): endpoints coerced to string, nulls and self-loops dropped,
parallel edges collapsed (degree = count of distinct neighbors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iteration import fingerprint, observed, truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate
from .triangles import _interned_edges


def _degrees(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("a").alias("nid"))
        .unionAll(edges.select(F.col("b").alias("nid")))
        .groupBy("nid")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _peel_arrays(ea, eb, n_nodes: int, k: int, max_iter: int):
    """Synchronous numpy peel over factorized edge arrays -> (core node
    codes, their core degrees).  The k-core is the unique maximal
    subgraph with min degree >= k — order-independent — so this kernel
    is exact regardless of which tier (or which round of the distributed
    loop) hands it the edges."""
    import numpy as np

    mask = np.ones(len(ea), dtype=bool)
    for _ in range(max_iter):
        deg = np.bincount(
            np.concatenate([ea[mask], eb[mask]]), minlength=n_nodes
        )
        ok = deg >= k
        new_mask = mask & ok[ea] & ok[eb]
        if np.array_equal(new_mask, mask):
            keep = np.nonzero(mask)[0]
            if not len(keep):
                return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
            core_nodes = np.unique(np.concatenate([ea[keep], eb[keep]]))
            return core_nodes, deg[core_nodes]
        mask = new_mask
    raise RuntimeError(
        f"k_core did not converge within max_iter={max_iter} peeling rounds; "
        "raise max_iter (adversarial long-chain graphs peel O(V) rounds)"
    )


def _k_core_local(spark, pdf, k: int, max_iter: int):
    """Driver-local synchronous peel over the collected raw (s, d) edge
    rows; same round structure as the distributed loop, so the round
    bound (``max_iter``) and the convergence error carry over verbatim."""
    import numpy as np
    import pandas as pd

    schema = "node string, core_deg long"
    if not len(pdf):
        return spark.createDataFrame([], schema)
    su, sd = pdf["s"].to_numpy(), pdf["d"].to_numpy()
    canon = pd.DataFrame(
        {"a": np.where(su < sd, su, sd), "b": np.where(su < sd, sd, su)}
    ).drop_duplicates(ignore_index=True)
    codes, names = pd.factorize(
        pd.concat([canon["a"], canon["b"]], ignore_index=True)
    )
    m = len(canon)
    core_nodes, core_deg = _peel_arrays(codes[:m], codes[m:], len(names), k, max_iter)
    if not len(core_nodes):
        return spark.createDataFrame([], schema)
    out = pd.DataFrame(
        {"node": np.asarray(names)[core_nodes], "core_deg": core_deg}
    )
    return spark.createDataFrame(out, schema)


def _k_core_finish_local(spark, pdf, k: int, max_iter: int, names):
    """Finish a partially peeled DISTRIBUTED run driver-local: ``pdf``
    holds the residual (a, b) long-id rows (distinct canonical pairs)
    once their count fell under the guard, ``names`` the id->node map.
    Exact by k-core uniqueness — the core of the residual IS the core of
    the original graph, whichever round the tiers switch at."""
    import pandas as pd

    schema = "node string, core_deg long"
    if not len(pdf):
        return spark.createDataFrame([], schema)
    codes, ids = pd.factorize(
        pd.concat([pdf["a"], pdf["b"]], ignore_index=True)
    )
    m = len(pdf)
    core_nodes, core_deg = _peel_arrays(codes[:m], codes[m:], len(ids), k, max_iter)
    if not len(core_nodes):
        return spark.createDataFrame([], schema)
    import numpy as np

    out = pd.DataFrame(
        {
            "nid": np.asarray(ids)[core_nodes].astype("int64"),
            "core_deg": core_deg.astype("int64"),
        }
    )
    core = spark.createDataFrame(out, "nid long, core_deg long")
    return names.join(core, names["id"] == core["nid"]).select(
        "node", "core_deg"
    )


def k_core(
    df: DataFrame,
    k: int,
    src: str = "from",
    dst: str = "to",
    max_iter: int = 100,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Nodes of the k-core with their within-core degree ->
    ``(node, core_deg)``; empty result if the k-core is empty.

    >>> edges = spark.createDataFrame(
    ...     [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], ["from", "to"])
    >>> k_core(edges, 2).orderBy("node").show()
    +----+--------+
    |node|core_deg|
    +----+--------+
    |   a|       2|
    |   b|       2|
    |   c|       2|
    +----+--------+
    <BLANKLINE>
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # Two-tier (round 7): the k-core is the UNIQUE maximal subgraph with
    # min degree >= k (order-independent), so under the raw-row guard
    # the synchronous peel runs driver-local as numpy bincount/mask
    # sweeps — bit-identical output by uniqueness, same round semantics.
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    cleaned, pdf = tier_gate(
        df.where(s.isNotNull() & d.isNotNull() & (s != d)).select(
            s.alias("s"), d.alias("d")
        ),
        max_local_edges,
        materialize=False,
    )
    if pdf is not None:
        return _k_core_local(df.sparkSession, pdf, k, max_iter)
    edges, names = _interned_edges(cleaned, "s", "d")
    # CC's loop pattern: the (count, bit_xor) fingerprint is observed on
    # each round's eager checkpoint — no separate fingerprint job.  Edges
    # are distinct canonical pairs, so XOR cancellation is safe.
    edges, obs = observed(edges, "a", "b")
    edges = truncate_lineage(edges)
    prev = fingerprint(obs)
    for _ in range(max_iter):
        deg = _degrees(edges)
        alive = deg.where(F.col("deg") >= k).select("nid")
        new_edges = (
            edges.join(alive.withColumnRenamed("nid", "a"), "a", "semi")
            .join(alive.withColumnRenamed("nid", "b"), "b", "semi")
            .select("a", "b")
        )
        new_edges, obs = observed(new_edges, "a", "b")
        new_edges = truncate_lineage(new_edges)
        cur = fingerprint(obs)
        if cur == prev:
            # fixpoint: every remaining node already has degree >= k
            core = _degrees(edges).select("nid", F.col("deg").alias("core_deg"))
            return names.join(core, names["id"] == core["nid"]).select(
                "node", "core_deg"
            )
        # Per-round tier re-evaluation (round-9, the matching/MIS r8
        # pattern): the fingerprint already counts the shrunken residual,
        # so once it fits the guard the remaining peel rounds finish
        # driver-local in one Arrow collect — exact by k-core uniqueness.
        # This converts the adversarial O(V)-round long-chain case from
        # O(V) Spark jobs into however many rounds it takes the residual
        # to fall under the guard, plus one numpy sweep.
        if max_local_edges and cur[0] <= max_local_edges:
            _, pdf = tier_gate(new_edges, max_local_edges)
            if pdf is not None:
                return _k_core_finish_local(
                    df.sparkSession, pdf, k, max_iter, names
                )
        edges, prev = new_edges, cur
    raise RuntimeError(
        f"k_core did not converge within max_iter={max_iter} peeling rounds; "
        "raise max_iter (adversarial long-chain graphs peel O(V) rounds)"
    )


def k_core_sql(edge_sql: str, k: int, rounds: int) -> str:
    """DuckDB oracle replicating :func:`k_core`: ``rounds`` unrolled
    peeling steps (each MATERIALIZED — a twice-referenced CTE would
    re-inline exponentially).  ``rounds`` must be >= the fixture's actual
    peeling depth; extra rounds are fixpoint no-ops, so parity holds for
    any sufficiently large value."""
    chain = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,
                  greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b
  FROM ({edge_sql})
  WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
)"""
    ]
    for i in range(rounds):
        chain.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT a AS node FROM e{i} UNION ALL SELECT b FROM e{i}
  ) GROUP BY node HAVING count(*) >= {k}
),
e{i + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i} e
  JOIN d{i} x ON x.node = e.a
  JOIN d{i} y ON y.node = e.b
)"""
        )
    n = rounds
    return (
        "WITH "
        + ",\n".join(chain)
        + f"""
SELECT node, count(*)::BIGINT AS core_deg FROM (
  SELECT a AS node FROM e{n} UNION ALL SELECT b FROM e{n}
) GROUP BY node"""
    )
