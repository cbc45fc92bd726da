"""Densest subgraph via parallel greedy peeling (Charikar 2000;
MapReduce formulation: Bahmani, Kumar & Vassilvitskii, VLDB 2012).

Spam farms, bot rings, and over-represented boilerplate clusters show up
as unusually dense subgraphs.  The 2(1+ε)-approximation peels, each
round, every node whose degree is at most (1+ε)·average-degree, and
remembers the densest intermediate graph.  Each round is one degree
aggregation + one semi-join — the same monotone-shrinking-edge-set shape
as k-core, O(log n) rounds for any ε > 0.

Determinism/parity: the peel threshold compares
``deg ≤ (1+ε) · 2E/V`` — evaluated as the EXACT integer cross-product
``deg · V · scale ≤ 2E · num`` where ``(1+ε) = num/scale`` is taken as a
ratio of integers (ε must be given as ``eps_num/eps_den``), so no float
ever decides which node peels and the DuckDB oracle replays the rounds
bit for bit.  Density is reported as ``E/V`` rounded to 6 at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from ..plans.iteration import observed, truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate


def _peel_local(
    rows: "list[tuple[str, str]]",
    eps_num: int,
    eps_den: int,
    max_rounds: int,
) -> "list[tuple[int, int, int]]":
    """Driver-local replay of the peel — every decision is the same
    exact integer comparison as the distributed loop (deg·V·eps_den >
    2E·eps_num), so the round stats are bit-identical by construction
    (asserted in tests/test_densest.py)."""
    edges = rows
    stats: list[tuple[int, int, int]] = []
    for rnd in range(max_rounds + 1):
        deg: dict[str, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        v = len(deg)
        two_e = 2 * len(edges)
        if v == 0:
            break
        stats.append((rnd, v, two_e // 2))
        if rnd == max_rounds:
            break
        keep = {n for n, dg in deg.items() if dg * v * eps_den > two_e * eps_num}
        edges = [(a, b) for a, b in edges if a in keep and b in keep]
    return stats


def densest_subgraph_rounds(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    eps_num: int = 11,
    eps_den: int = 10,
    max_rounds: int = 50,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Per-round stats of the peeling ->
    ``(round, n_nodes, n_edges, density)`` for every non-empty round
    (round 0 = the cleaned input graph); the densest row is the
    2(1+ε)-approximate densest subgraph.  ``eps_num/eps_den`` is the
    (1+ε) factor as an exact ratio (default 11/10 → ε = 0.1).

    Undirected simple graph semantics: edges dedup on the unordered
    pair, self-loops and null endpoints drop.
    """
    if eps_num <= 0 or eps_den <= 0 or eps_num < eps_den:
        raise ValueError(
            f"need (1+ε) = eps_num/eps_den >= 1, got {eps_num}/{eps_den}"
        )
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    spark = df.sparkSession
    # Guarded local tier (r9-opt, the repo's standard two-tier shape):
    # the distributed peel is O(rounds) driver-round-trip jobs over a
    # shrinking MB-scale edge set — under the guard, one collect and a
    # driver-local replay of the SAME integer peel is bit-identical and
    # removes every per-round job.  Above the guard (or with the tier
    # disabled) the distributed loop below is unchanged.
    max_local_edges = resolve_max_local_edges(spark, max_local_edges)
    edges, pdf = tier_gate(
        df.where(s.isNotNull() & d.isNotNull() & (s != d))
        .select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .distinct(),
        max_local_edges,
    )
    if pdf is not None:
        rows = list(pdf.itertuples(index=False, name=None))
        out = local_result(
            spark,
            _peel_local(rows, eps_num, eps_den, max_rounds),
            "round int, n_nodes long, n_edges long",
        )
        return out.select(
            "round", "n_nodes", "n_edges",
            F.round(F.col("n_edges") / F.col("n_nodes"), 6).alias("density"),
        )

    stats: list[tuple[int, int, int]] = []
    for rnd in range(max_rounds + 1):
        deg = (
            edges.select(F.col("a").alias("n"))
            .unionAll(edges.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        deg, obs = observed(deg, two_e=F.sum("deg"))
        deg = truncate_lineage(deg)
        got = obs.get
        v, two_e = got["n"], int(got["two_e"] or 0)
        if v == 0:
            break
        stats.append((rnd, v, two_e // 2))
        if rnd == max_rounds:
            break
        # peel deg <= (1+ε) * 2E/V  ⇔  deg * V * eps_den <= 2E * eps_num
        survivors = deg.where(
            F.col("deg") * F.lit(v) * F.lit(eps_den) > F.lit(two_e * eps_num)
        ).select("n")
        edges = truncate_lineage(
            edges.join(survivors.withColumnRenamed("n", "a"), "a", "semi")
            .join(survivors.withColumnRenamed("n", "b"), "b", "semi")
            .select("a", "b"),
            cache=False,
        )

    out = local_result(
        spark,
        [(r, v, e) for r, v, e in stats],
        "round int, n_nodes long, n_edges long",
    )
    return out.select(
        "round", "n_nodes", "n_edges",
        F.round(F.col("n_edges") / F.col("n_nodes"), 6).alias("density"),
    )


def densest_subgraph_rounds_sql(
    edge_sql: str,
    *,
    eps_num: int = 11,
    eps_den: int = 10,
    rounds: int = 50,
) -> str:
    """DuckDB oracle replaying :func:`densest_subgraph_rounds` with
    unrolled MATERIALIZED rounds; extra rounds after the graph empties
    contribute no row (v = 0 filtered)."""
    parts = [
        f"WITH raw AS ({edge_sql})",
        ", e0 AS MATERIALIZED (SELECT DISTINCT"
        " least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,"
        " greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b"
        " FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL"
        " AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR))",
    ]
    selects = []
    for r in range(rounds + 1):
        parts.append(
            f", d{r} AS MATERIALIZED (SELECT n, count(*)::BIGINT AS deg FROM ("
            f"SELECT a AS n FROM e{r} UNION ALL SELECT b FROM e{r}) GROUP BY n)"
        )
        parts.append(
            f", s{r} AS (SELECT count(*)::BIGINT AS v,"
            f" coalesce(sum(deg), 0)::BIGINT AS two_e FROM d{r})"
        )
        selects.append(
            f"SELECT {r} AS round, v AS n_nodes, two_e // 2 AS n_edges"
            f" FROM s{r} WHERE v > 0"
        )
        if r < rounds:
            parts.append(
                f", keep{r} AS (SELECT n FROM d{r}, s{r}"
                f" WHERE deg * v * {eps_den} > two_e * {eps_num})"
            )
            parts.append(
                f", e{r + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{r} e"
                f" JOIN keep{r} ka ON ka.n = e.a"
                f" JOIN keep{r} kb ON kb.n = e.b)"
            )
    body = " UNION ALL ".join(selects)
    return (
        "\n".join(parts)
        + f"\nSELECT round::INT AS round, n_nodes, n_edges,"
        f" round(n_edges / n_nodes, 6) AS density FROM ({body})"
    )
