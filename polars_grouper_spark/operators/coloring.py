"""Distributed greedy graph coloring by iterated maximal independent
sets (Luby 1986; Jones–Plassmann lineage).

Register allocation, conflict-free scheduling, channel assignment: give
every node a color such that no edge is monochromatic, using few
colors.  The distributed classic: color class c is a MAXIMAL
independent set of the residual graph (uncolored nodes); peel and
repeat.  Maximality is what bounds the palette — every node left
uncolored after class c had a neighbor in EACH of the first c classes,
so the color count never exceeds max-degree + 1.

Each color reuses the repo's Luby-MIS operator on the shrinking
residual edge set (O(log n) rounds of two equality joins + a
min-aggregation per color; priorities re-hashed per color so residual
ties break differently).  Residual-isolated nodes — remaining nodes
whose every neighbor is already colored — join the current class
directly (they are trivially independent of it... of everything
remaining).  All state is node/edge tables; no driver-sized
collections.

The DuckDB oracle unrolls the whole computation — colors x MIS rounds
of CTEs, replaying the same portable-hash priorities — and poisons the
output with NULL colors if anything is left active/uncolored at the
unroll horizon, so a truncated replay breaks the compare loudly.

Reference surface: none (beyond-reference operator, SURVEY.md §2
extension list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from ..plans.iteration import truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate
from ..functions.hashing import portable_hash64_sql
from .mis import _mis_local, maximal_independent_set


def _coloring_local(
    edge_pairs: list[tuple[str, str]],
    seed: int,
    max_colors: int,
    mis_max_rounds: int,
    *,
    start_color: int = 1,
    extra_nodes: "tuple[str, ...] | list[str]" = (),
) -> dict[str, int]:
    """Driver-local mirror of the distributed color loop: per color,
    Luby-MIS on the residual edges (seed + color, identical hash
    priorities via :func:`_mis_local`) plus the residual-isolated
    nodes; chosen nodes and their edges leave the graph.

    ``start_color``/``extra_nodes`` let the distributed loop hand over a
    partially colored graph mid-run (round-9 per-color tier
    re-evaluation): the continuation colors from ``start_color`` with
    the same seed-per-color priorities, so the switch is exact —
    ``extra_nodes`` carries remaining nodes whose edges already vanished
    (they take the next color as residual-isolated, same as the
    distributed branch)."""
    nodes = (
        {a for a, _ in edge_pairs}
        | {b for _, b in edge_pairs}
        | set(extra_nodes)
    )
    remaining = set(nodes)
    residual = list(edge_pairs)
    out: dict[str, int] = {}
    for color in range(start_color, max_colors + 1):
        if not remaining:
            break
        if not residual:
            for n in remaining:
                out[n] = color
            remaining = set()
            break
        flags = _mis_local(residual, seed + color, mis_max_rounds)
        edge_nodes = {a for a, _ in residual} | {b for _, b in residual}
        chosen = {n for n, in_mis in flags.items() if in_mis} | (
            remaining - edge_nodes
        )
        for n in chosen:
            out[n] = color
        remaining -= chosen
        residual = [
            (a, b) for a, b in residual if a not in chosen and b not in chosen
        ]
    if remaining:
        raise ValueError(
            f"greedy_coloring exhausted max_colors={max_colors} — "
            "pathological degree or raise the cap"
        )
    return out


def greedy_coloring(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    seed: int = 0,
    max_colors: int = 64,
    mis_max_rounds: int = 60,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Proper coloring -> ``(node, color)`` (colors 1-based, count
    <= max-degree + 1 by MIS maximality).  Undirected simple-graph
    semantics (nulls/self-loops drop).  Raises if ``max_colors`` is
    exhausted — never returns a partial coloring.

    Two-tier: the distinct canonical edge reduction stays distributed;
    a deduplicated graph within ``max_local_edges`` colors driver-local
    with bit-identical MIS hash priorities (colors × O(log n) MIS
    rounds × multiple shuffles each is the single heaviest stage-count
    in the repo otherwise).  Larger graphs take the distributed loop
    below."""
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
        colors = _coloring_local(
            list(pdf.itertuples(index=False, name=None)),
            seed,
            max_colors,
            mis_max_rounds,
        )
        return local_result(
            df.sparkSession, sorted(colors.items()), "node string, color long"
        )
    remaining = truncate_lineage(
        edges.select(F.col("a").alias("node"))
        .union(edges.select("b"))
        .distinct()
    )
    residual = edges
    spark = df.sparkSession
    out = local_result(spark, [], "node string, color int")
    for color in range(1, max_colors + 1):
        # count() instead of isEmpty(): same one job per probe, but the
        # counts double as the per-color tier re-evaluation inputs
        # (round-9, the matching/MIS r8 pattern).
        n_rem = remaining.count()
        if n_rem == 0:
            break
        n_res = residual.count()
        if n_res == 0:
            out = out.unionAll(
                remaining.select("node", F.lit(color).cast("int").alias("color"))
            )
            remaining = truncate_lineage(remaining.limit(0), cache=False)
            break
        # Mid-loop local finish: each color costs a full Luby MIS (many
        # shuffle stages); once the residual fits the guard (node bound
        # mirrors the entry tier's nodes <= 2 * edges), the remaining
        # colors run driver-local with bit-identical seed-per-color MIS
        # priorities — exact continuation, same exhaustion error.
        if (
            max_local_edges
            and n_res <= max_local_edges
            and n_rem <= 2 * max_local_edges
        ):
            pairs = [(r["a"], r["b"]) for r in residual.collect()]
            rem_nodes = [r["node"] for r in remaining.collect()]
            tail = _coloring_local(
                pairs,
                seed,
                max_colors,
                mis_max_rounds,
                start_color=color,
                extra_nodes=rem_nodes,
            )
            tail_df = local_result(
                df.sparkSession, sorted(tail.items()), "node string, color int"
            )
            out = out.unionAll(tail_df)
            remaining = truncate_lineage(remaining.limit(0), cache=False)
            break
        mis = maximal_independent_set(
            residual,
            "a",
            "b",
            seed=seed + color,
            max_rounds=mis_max_rounds,
            # Forward the RESOLVED guard so a per-call max_local_edges=0
            # disables the local tier transitively (r8 ADVICE): without
            # this the inner MIS re-resolves from the session conf and
            # could still probe/collect once the residual shrinks.
            max_local_edges=max_local_edges,
        )
        edge_nodes = (
            residual.select(F.col("a").alias("node"))
            .union(residual.select("b"))
            .distinct()
        )
        isolated = remaining.join(edge_nodes, "node", "left_anti")
        chosen = truncate_lineage(
            mis.where("in_mis").select("node").union(isolated.select("node"))
        )
        out = out.unionAll(
            chosen.select("node", F.lit(color).cast("int").alias("color"))
        )
        remaining = truncate_lineage(
            remaining.join(chosen, "node", "left_anti"), cache=False
        )
        residual = truncate_lineage(
            residual.join(
                chosen.select(F.col("node").alias("a")), "a", "left_anti"
            ).join(chosen.select(F.col("node").alias("b")), "b", "left_anti"),
            cache=False,
        )
    else:
        raise ValueError(
            f"greedy_coloring exhausted max_colors={max_colors} — "
            "pathological degree or raise the cap"
        )
    if not remaining.isEmpty():
        raise ValueError(
            f"greedy_coloring exhausted max_colors={max_colors} — "
            "pathological degree or raise the cap"
        )
    return out.select("node", F.col("color").cast("long").alias("color"))


def greedy_coloring_sql(
    edge_sql: str, *, seed: int = 0, colors: int = 8, rounds: int = 10
) -> str:
    """DuckDB oracle replaying :func:`greedy_coloring` — ``colors``
    classes each unrolled through ``rounds`` MIS rounds.  Output colors
    are NULL (breaking the compare loudly) if any node is uncolored or
    any MIS is unconverged at the horizon."""
    parts = [
        f"WITH raw AS ({edge_sql})",
        ", e_0 AS (SELECT DISTINCT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,"
        " greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b"
        " FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL"
        " AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR))",
        ", rem_0 AS (SELECT a AS node FROM e_0 UNION SELECT b FROM e_0)",
    ]
    leftover_terms = []
    colored_terms = []
    for c in range(1, colors + 1):
        h = portable_hash64_sql(f"node || '|{seed + c}'")
        prev_e, prev_rem = f"e_{c - 1}", f"rem_{c - 1}"
        parts.append(
            f", sym_{c} AS MATERIALIZED (SELECT a AS u, b AS v FROM {prev_e}"
            f" UNION ALL SELECT b, a FROM {prev_e})"
            f", act_{c}_0 AS MATERIALIZED ("
            f"  SELECT node, {h} AS p FROM ("
            f"    SELECT a AS node FROM {prev_e} UNION SELECT b FROM {prev_e}))"
            f", mis_{c}_0 AS (SELECT node FROM act_{c}_0 WHERE 1 = 0)"
        )
        for r in range(1, rounds + 1):
            pa, pm = f"act_{c}_{r - 1}", f"mis_{c}_{r - 1}"
            parts.append(
                f""", win_{c}_{r} AS MATERIALIZED (
  SELECT a.node FROM {pa} a
  LEFT JOIN (
    SELECT s.u, min(av.p) AS min_nbr
    FROM sym_{c} s JOIN {pa} au ON au.node = s.u
                   JOIN {pa} av ON av.node = s.v
    GROUP BY s.u
  ) nm ON nm.u = a.node
  WHERE nm.min_nbr IS NULL OR a.p < nm.min_nbr
), mis_{c}_{r} AS (SELECT node FROM {pm} UNION ALL SELECT node FROM win_{c}_{r}),
act_{c}_{r} AS MATERIALIZED (
  SELECT a.node, a.p FROM {pa} a
  ANTI JOIN (
    SELECT node FROM win_{c}_{r}
    UNION SELECT s.v FROM win_{c}_{r} w JOIN sym_{c} s ON s.u = w.node
  ) k ON k.node = a.node
)"""
            )
        parts.append(
            f", chosen_{c} AS MATERIALIZED ("
            f"  SELECT DISTINCT node FROM mis_{c}_{rounds}"
            f"  UNION SELECT r.node FROM {prev_rem} r"
            f"  ANTI JOIN (SELECT a AS node FROM {prev_e} UNION SELECT b FROM {prev_e}) en"
            f"    ON en.node = r.node)"
            f", rem_{c} AS MATERIALIZED ("
            f"  SELECT r.node FROM {prev_rem} r ANTI JOIN chosen_{c} ch ON ch.node = r.node)"
            f", e_{c} AS MATERIALIZED ("
            f"  SELECT e.a, e.b FROM {prev_e} e"
            f"  ANTI JOIN chosen_{c} ca ON ca.node = e.a"
            f"  ANTI JOIN chosen_{c} cb ON cb.node = e.b)"
        )
        leftover_terms.append(f"(SELECT count(*) FROM act_{c}_{rounds})")
        colored_terms.append(
            f"SELECT node, {c} AS color FROM chosen_{c}"
        )
    colored = " UNION ALL ".join(colored_terms)
    leftover = " + ".join(leftover_terms + [f"(SELECT count(*) FROM rem_{colors})"])
    parts.append(
        f"""
, colored AS ({colored}),
poison AS (SELECT {leftover} AS cnt)
SELECT c.node,
       CASE WHEN poison.cnt > 0 THEN NULL ELSE c.color END::BIGINT AS color
FROM colored c CROSS JOIN poison"""
    )
    return "\n".join(parts)
