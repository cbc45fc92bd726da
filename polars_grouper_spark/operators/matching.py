"""Greedy maximal matching — locally-dominant edges with hash priorities.

Maximal matching is the other classic symmetry-breaking primitive next
to MIS (``operators.mis``): pair up adjacent nodes so no node is in two
pairs and no remaining edge could still be added.  Uses: entity-pair
assignment after blocking, 1:1 record linkage, conflict-free resource
pairing.  The distributed formulation is the locally-dominant-edge
algorithm (Preis 1999 / Manne-Bisseling 2007): every round, an edge is
matched iff its priority is the minimum among ALL edges incident to
BOTH of its endpoints; matched endpoints drop out with their incident
edges.  Expected O(log n) rounds with random priorities — here the
deterministic portable 60-bit hash of the canonical edge key, so
re-runs, backfills, and the DuckDB oracle pick the identical matching
round for round.

Each round is one union + one min-aggregation + two equality joins over
a shrinking edge set — no per-node sequential scan anywhere, which is
what makes the operator survive a 100 TB edge list where the textbook
greedy (sort all edges globally, scan serially) cannot.
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


def _matching_local(
    pairs: "list[tuple[str, str]]", seed: int, max_rounds: int
) -> "list[tuple[str, str]]":
    """Driver-local mirror of the locally-dominant-edge loop over the
    deduplicated canonical pairs: identical unique priority string
    (fixed-width hex of the portable hash + canonical key), identical
    strict-min win rule per endpoint — the tiers agree exactly.

    Vectorized (round 7): priorities reduce to integer RANKS (one
    argsort over the unique priority strings — strict-min on ranks ==
    strict-min on strings), then each round is two ``np.minimum.at``
    node-min scatters and three boolean masks.  The round structure —
    and therefore the ``max_rounds`` non-maximality raise — is
    unchanged."""
    import numpy as np
    import pandas as pd

    if not pairs:
        return []
    prio = np.asarray(
        [f"{portable_hash64_py(f'{a}|{b}|{seed}'):015x}|{a}|{b}" for a, b in pairs]
    )
    rank = np.empty(len(prio), dtype=np.int64)
    rank[np.argsort(prio)] = np.arange(len(prio))
    pa = np.asarray([a for a, _ in pairs])
    pb = np.asarray([b for _, b in pairs])
    codes, names = pd.factorize(np.concatenate([pa, pb]))
    m = len(pairs)
    ea, eb = codes[:m], codes[m:]
    n_nodes = len(names)
    inf = np.iinfo(np.int64).max
    alive = np.ones(m, dtype=bool)
    matched_mask = np.zeros(m, dtype=bool)
    rounds = 0
    while alive.any():
        if rounds >= max_rounds:
            raise RuntimeError(
                f"matching did not converge within max_rounds={max_rounds}"
            )
        vmin = np.full(n_nodes, inf, dtype=np.int64)
        np.minimum.at(vmin, ea[alive], rank[alive])
        np.minimum.at(vmin, eb[alive], rank[alive])
        win = alive & (vmin[ea] == rank) & (vmin[eb] == rank)
        matched_mask |= win
        gone = np.zeros(n_nodes, dtype=bool)
        gone[ea[win]] = True
        gone[eb[win]] = True
        alive &= ~(gone[ea] | gone[eb])
        rounds += 1
    idx = np.nonzero(matched_mask)[0]
    return [(pa[i], pb[i]) for i in idx]


def greedy_matching(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    seed: int = 0,
    max_rounds: int = 60,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Maximal matching -> ``(a, b)`` canonical matched pairs over the
    cleaned undirected simple graph (self-loops/nulls drop, parallel
    edges collapse).

    Per round over ACTIVE edges: an edge wins iff its hash priority is
    the strict minimum over every active edge touching either endpoint;
    winners' endpoints and all their incident edges deactivate.  The
    edge set only shrinks; raises if ``max_rounds`` is hit rather than
    returning a non-maximal matching.

    Tie safety (ADVICE r5): the priority is the UNIQUE string
    ``hex15(p) || '|' || a || '|' || b`` — fixed-width hex of the 60-bit
    hash prefixed to the canonical edge key — so two edges incident to
    the same node can never both be locally dominant (a bare-hash tie
    would have matched the shared node twice).

    Two-tier (MIS posture): dedup stays distributed; under
    ``max_local_edges`` the round loop runs driver-local with identical
    priorities.
    """
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    cleaned = df.where(s.isNotNull() & d.isNotNull() & (s != d)).select(
        F.least(s, d).alias("a"), F.greatest(s, d).alias("b")
    )
    spark = df.sparkSession
    # Local tier collects the RAW canonical pairs (dedup in pandas) — no
    # Spark-side priority column (the local kernel computes identical
    # priorities via the Python hash mirror).
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    cleaned, pdf = tier_gate(cleaned, max_local_edges, materialize=False)
    if pdf is not None:
        pdf = pdf.drop_duplicates(ignore_index=True)
        return local_result(
            spark,
            sorted(
                _matching_local(
                    list(zip(pdf["a"], pdf["b"])), seed, max_rounds
                )
            ),
            "a string, b string",
        )
    edges = truncate_lineage(
        cleaned.distinct()
        .select(
            "a",
            "b",
            F.concat(
                F.format_string(
                    "%015x",
                    portable_hash64(
                        F.concat(
                            F.col("a"), F.lit("|"), F.col("b"), F.lit(f"|{seed}")
                        )
                    ),
                ),
                F.lit("|"),
                F.col("a"),
                F.lit("|"),
                F.col("b"),
            ).alias("p"),
        )
    )
    matched = local_result(spark, [], "a string, b string")
    # Matched-node sets are at most 2x the round's winners; broadcast
    # them into the anti-joins while they fit (same guard as MIS —
    # checkpointed frames give AQE no size estimate to make this call).
    # Re-evaluated EVERY round (round-8): local-min matching removes a
    # large fraction of edges per round, so a graph entering above the
    # budget drops under it within a round or two — the frozen round-0
    # decision left every later round on 4 sort-merge shuffles of the
    # edge set (10M-edge probe: 907 s frozen; see SCALE.md round-8).
    # n_edges is exact (counted for termination anyway), so the
    # per-round re-check costs nothing.

    for rnd in range(max_rounds + 1):
        n_edges = edges.count()
        bc = F.broadcast if n_edges <= 5_000_000 else (lambda x: x)
        if n_edges == 0:
            break
        if rnd == max_rounds:
            raise RuntimeError(
                f"matching did not converge within max_rounds={max_rounds}"
            )
        inc = edges.select(F.col("a").alias("node"), "p").unionAll(
            edges.select(F.col("b").alias("node"), "p")
        )
        # node-min table is O(active nodes) and shrinks with the edge
        # set; broadcasting it keeps the edge side un-shuffled per round
        vmin = truncate_lineage(
            inc.groupBy("node").agg(F.min("p").alias("mp")), cache=False
        )
        winners = (
            edges.join(
                bc(vmin.select(F.col("node").alias("a"), F.col("mp").alias("_ma"))),
                "a",
            )
            .join(
                bc(vmin.select(F.col("node").alias("b"), F.col("mp").alias("_mb"))),
                "b",
            )
            .where((F.col("p") == F.col("_ma")) & (F.col("p") == F.col("_mb")))
            .select("a", "b")
        )
        winners = truncate_lineage(winners, cache=False)
        matched = matched.unionAll(winners)
        hit = (
            winners.select(F.col("a").alias("node"))
            .union(winners.select(F.col("b").alias("node")))
            .distinct()
        )
        edges = truncate_lineage(
            edges.join(
                bc(hit.select(F.col("node").alias("a"))), "a", "left_anti"
            ).join(bc(hit.select(F.col("node").alias("b"))), "b", "left_anti"),
            cache=False,
        )

    return matched.select("a", "b")


def greedy_matching_sql(edge_sql: str, *, seed: int = 0, rounds: int = 12) -> str:
    """DuckDB oracle replaying :func:`greedy_matching`, ``rounds``
    unrolled.  If any edge is still active after the last round the
    output rows poison to NULL, breaking the compare loudly instead of
    passing a truncated (non-maximal) matching."""
    h = portable_hash64_sql(f"a || '|' || b || '|{seed}'")
    # Same tie-safe unique priority string as the Spark side.
    h = f"printf('%015x', {h}) || '|' || a || '|' || b"
    parts = [
        f"WITH raw AS ({edge_sql})",
        ", e0 AS (SELECT a, b, " + h + " AS p FROM ("
        "SELECT DISTINCT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,"
        " greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b"
        " FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL"
        " AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)))",
        ", m0 AS (SELECT a, b FROM e0 WHERE 1 = 0)",
    ]
    for r in range(1, rounds + 1):
        pe, pm = f"e{r - 1}", f"m{r - 1}"
        parts.append(
            f""", vmin{r} AS MATERIALIZED (
  SELECT node, min(p) AS mp FROM (
    SELECT a AS node, p FROM {pe} UNION ALL SELECT b, p FROM {pe}
  ) GROUP BY node
), win{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM {pe} e
  JOIN vmin{r} va ON va.node = e.a AND va.mp = e.p
  JOIN vmin{r} vb ON vb.node = e.b AND vb.mp = e.p
), m{r} AS (SELECT a, b FROM {pm} UNION ALL SELECT a, b FROM win{r}),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b, e.p FROM {pe} e
  ANTI JOIN (SELECT a AS node FROM win{r} UNION SELECT b FROM win{r}) ka
    ON ka.node = e.a
  ANTI JOIN (SELECT a AS node FROM win{r} UNION SELECT b FROM win{r}) kb
    ON kb.node = e.b
)"""
        )
    parts.append(
        f"""
SELECT CASE WHEN leftover.cnt > 0 THEN NULL ELSE m.a END AS a,
       CASE WHEN leftover.cnt > 0 THEN NULL ELSE m.b END AS b
FROM m{rounds} m
CROSS JOIN (SELECT count(*) AS cnt FROM e{rounds}) leftover"""
    )
    return "\n".join(parts)
