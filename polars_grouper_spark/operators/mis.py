"""Maximal independent set — Luby's algorithm with hash priorities.

MIS is the classic symmetry-breaking primitive (scheduling
non-conflicting jobs, picking cluster exemplars, graph coloring's inner
step).  Luby (1985): every round, a node enters the MIS iff its random
priority beats every active neighbor's; winners and their neighbors
deactivate.  Expected O(log n) rounds, each round two equality joins +
one min-aggregation — the textbook distributed formulation.

Determinism: the "random" priority is the portable 60-bit hash of
``node|seed`` — fixed per node across rounds (fresh randomness per
round is only needed for adversarial inputs; a fixed random priority
order is exactly the greedy-by-random-permutation MIS, still O(log n)
rounds in expectation — Blelloch et al. 2012).  The DuckDB oracle
replays every round bit for bit, and re-runs/backfills pick the same
set.  Ties are impossible (distinct nodes hash distinctly modulo the
2⁻⁶⁰ collision trust model used repo-wide); a collision could at worst
drop both nodes' independence decision to the next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from ..functions.hashing import (
    portable_hash64,
    portable_hash64_py,
    portable_hash64_sql,
)
from ..plans.iteration import truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate


def _mis_local(
    edge_pairs: list[tuple[str, str]], seed: int, max_rounds: int
) -> dict[str, bool]:
    """Driver-local Luby mirror over a deduplicated canonical edge list:
    identical priorities (``portable_hash64_py`` == the distributed
    path's md5 hash bit-for-bit), identical win rule (priority strictly
    below every ACTIVE neighbor's), identical deactivation — so the
    guarded local tier returns the same set as the distributed loop."""
    from collections import defaultdict

    nbrs: dict[str, set] = defaultdict(set)
    nodes: set = set()
    for a, b in edge_pairs:
        nbrs[a].add(b)
        nbrs[b].add(a)
        nodes.add(a)
        nodes.add(b)
    pri = {n: portable_hash64_py(f"{n}|{seed}") for n in nodes}
    active = set(nodes)
    mis: set = set()
    rounds = 0
    while active:
        if rounds >= max_rounds:
            raise RuntimeError(
                f"MIS did not converge within max_rounds={max_rounds}"
            )
        winners = [
            n
            for n in active
            if all(
                pri[n] < pri[m] for m in nbrs[n] if m in active
            )
        ]
        mis.update(winners)
        killed = set(winners)
        for n in winners:
            killed |= nbrs[n] & active
        active -= killed
        rounds += 1
    return {n: (n in mis) for n in nodes}


def maximal_independent_set(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    seed: int = 0,
    max_rounds: int = 60,
    max_local_edges: int | None = None,
) -> DataFrame:
    """MIS membership -> ``(node, in_mis)`` for every node of the cleaned
    undirected simple graph (self-loops and nulls drop; isolated nodes —
    none here, the input is an edge list — would be trivially in).

    Per round over ACTIVE nodes: ``in`` = nodes whose priority is
    strictly below the min priority of their active neighbors; ``in``
    plus its neighborhood deactivates.  The active set only shrinks and
    the loop raises if ``max_rounds`` is hit (never silently partial).

    Two-tier (the toposort/betweenness posture): the distinct canonical
    edge reduction is the distributed scale work; when the deduplicated
    graph fits ``max_local_edges`` the O(log n)-round Luby loop runs
    driver-local with BIT-IDENTICAL hash priorities instead of paying
    ~2 joins + an aggregation of shuffle stages per round.
    """
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    edges, pdf = tier_gate(
        df.where(s.isNotNull() & d.isNotNull() & (s != d))
        .select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .distinct(),
        max_local_edges,
    )
    if pdf is not None:
        flags = _mis_local(
            list(pdf.itertuples(index=False, name=None)), seed, max_rounds
        )
        return local_result(
            df.sparkSession, sorted(flags.items()), "node string, in_mis boolean"
        )
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    pri = lambda c: portable_hash64(F.concat(c, F.lit(f"|{seed}")))  # noqa: E731
    active = truncate_lineage(
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
        .select("node", pri(F.col("node")).alias("p"))
    )
    spark = df.sparkSession
    mis = local_result(spark, [], "node string")
    # The active set is O(V) rows and only shrinks; broadcasting it into
    # the two symmetric-edge joins keeps the O(E) edge side un-shuffled
    # every round (checkpointed frames have no size estimate — AQE cannot
    # make this call).  Past the broadcast budget fall back to shuffles.
    # Re-evaluated EVERY round (round-8): Luby removes a constant
    # fraction of edges per round, so a graph entering above the budget
    # falls under it within a few rounds — freezing the decision at
    # round 0 left every later round on sort-merge shuffles of the edge
    # set for no reason.  n_active is exact (counted for termination
    # anyway), so the per-round re-check costs nothing.

    for rnd in range(max_rounds + 1):
        n_active = active.count()
        bc = F.broadcast if n_active <= 5_000_000 else (lambda d: d)
        if n_active == 0:
            break
        if rnd == max_rounds:
            raise RuntimeError(
                f"MIS did not converge within max_rounds={max_rounds}"
            )
        act_edges = (
            sym.join(bc(active.select(F.col("node").alias("u"), F.col("p").alias("pu"))), "u")
            .join(bc(active.select(F.col("node").alias("v"), F.col("p").alias("pv"))), "v")
        )
        nbr_min = act_edges.groupBy("u").agg(F.min("pv").alias("min_nbr"))
        winners = (
            active.withColumnRenamed("node", "u")
            .join(nbr_min, "u", "left")
            .where(F.col("min_nbr").isNull() | (F.col("p") < F.col("min_nbr")))
            .select(F.col("u").alias("node"))
        )
        winners = truncate_lineage(winners, cache=False)
        mis = mis.unionAll(winners.select("node"))
        # deactivate winners and their whole neighborhoods
        killed = (
            bc(winners.select(F.col("node").alias("u")))
            .join(sym, "u")
            .select(F.col("v").alias("node"))
            .union(winners.select("node"))
            .distinct()
        )
        active = truncate_lineage(
            active.join(killed, "node", "left_anti"), cache=False
        )

    nodes = edges.select(F.col("a").alias("node")).union(
        edges.select(F.col("b").alias("node"))
    ).distinct()
    mis_flag = mis.withColumn("_in", F.lit(True))
    return nodes.join(mis_flag, "node", "left").select(
        "node", F.coalesce("_in", F.lit(False)).alias("in_mis")
    )


def maximal_independent_set_sql(
    edge_sql: str, *, seed: int = 0, rounds: int = 12
) -> str:
    """DuckDB oracle replaying :func:`maximal_independent_set`,
    ``rounds`` unrolled (must cover the fixture's actual round count;
    the final round must see an empty active set — asserted by
    returning NULL-flag rows if any node is still active, which breaks
    the compare loudly instead of passing a truncated run)."""
    h = portable_hash64_sql(f"node || '|{seed}'")
    parts = [
        f"WITH raw AS ({edge_sql})",
        ", e AS (SELECT DISTINCT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,"
        " greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b"
        " FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL"
        " AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR))",
        ", sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e)",
        ", nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e)",
        f", act0 AS (SELECT node, {h} AS p FROM nodes)",
        ", mis0 AS (SELECT node FROM act0 WHERE 1 = 0)",
    ]
    for r in range(1, rounds + 1):
        prev_a, prev_m = f"act{r - 1}", f"mis{r - 1}"
        parts.append(
            f""", win{r} AS MATERIALIZED (
  SELECT a.node FROM {prev_a} a
  LEFT JOIN (
    SELECT s.u, min(av.p) AS min_nbr
    FROM sym s JOIN {prev_a} au ON au.node = s.u
               JOIN {prev_a} av ON av.node = s.v
    GROUP BY s.u
  ) nm ON nm.u = a.node
  WHERE nm.min_nbr IS NULL OR a.p < nm.min_nbr
), mis{r} AS (SELECT node FROM {prev_m} UNION ALL SELECT node FROM win{r}),
act{r} AS MATERIALIZED (
  SELECT a.node, a.p FROM {prev_a} a
  ANTI JOIN (
    SELECT node FROM win{r}
    UNION SELECT s.v FROM win{r} w JOIN sym s ON s.u = w.node
  ) k ON k.node = a.node
)"""
        )
    parts.append(
        f"""
SELECT n.node,
       CASE WHEN leftover.cnt > 0 THEN NULL
            ELSE (m.node IS NOT NULL) END AS in_mis
FROM nodes n
LEFT JOIN (SELECT DISTINCT node FROM mis{rounds}) m ON m.node = n.node
CROSS JOIN (SELECT count(*) AS cnt FROM act{rounds}) leftover"""
    )
    return "\n".join(parts)
