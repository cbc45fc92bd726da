"""Katz centrality — integer-exact scaled recursion.

Katz (1953) scores a node by ALL walks that reach it, attenuated by
length: ``x = sum_k alpha^k (A^T)^k 1`` — the centrality that (unlike
plain degree) credits being reachable from important places but (unlike
PageRank) does not normalize away high-out-degree endorsers.  Standard
form: ``x_{t+1} = alpha * A^T x_t + 1``.

Engine-parity trick (same family as the integer HITS recursion): with
``alpha = 1/m`` for integer ``m``, the SCALED scores ``y_t = m^t x_t``
satisfy

    y_t(v) = sum_{u->v} y_{t-1}(u) + m^t

— an all-integer recursion, bit-stable under any aggregation order and
replayable exactly by the SQL oracle; the one float op is the final
``y_T / m^T``.  Truncation at ``iters`` is the standard finite-walk
Katz (walks longer than T contribute < alpha^T of a unit each).

Scale: one edge join + one map-side-combinable sum per round over a
lineage-truncated O(V) state; the O(E) edge side is checkpointed once
and never reshuffled when the state broadcasts (PageRank's
broadcast_ranks lever).  Overflow is guarded exactly in decimal(38,0)
with an in-aggregation raise past 2^62, as in :mod:`.hits`.

Reference surface: extends the centrality family
(`page_rank`, reference `polars_grouper/__init__.py:304`); the operator
itself is beyond-reference (SURVEY.md §2 extension list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from ..plans.iteration import observed, truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate


def _katz_local(
    pairs: "list[tuple[str, str]]", m: int, iters: int
) -> "list[tuple[str, int, float]]":
    """Driver-local mirror of the scaled integer recursion — integer
    sums are aggregation-order-independent, so this is exact by
    construction.  Same 62-bit overflow raise as the distributed
    aggregation."""
    from collections import defaultdict

    incoming: dict = defaultdict(list)
    nodes: set = set()
    for u, v in pairs:
        incoming[v].append(u)
        nodes.add(u)
        nodes.add(v)
    y = {n: 1 for n in nodes}
    for t in range(1, iters + 1):
        bump = m**t
        y = {
            n: sum(y[u] for u in incoming.get(n, ())) + bump for n in nodes
        }
        if any(v > (1 << 62) for v in y.values()):
            raise ValueError(
                "Katz scores overflow 62-bit integers -- reduce iters "
                "or raise m"
            )
    scale = float(m**iters)
    return sorted((n, v, v / scale) for n, v in y.items())


def katz_centrality(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    m: int = 4,
    iters: int = 4,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Katz scores with ``alpha = 1/m`` after ``iters`` rounds ->
    ``(node, raw, katz)`` where ``raw = m^iters * x_iters`` is the
    exact integer scaled score and ``katz = raw / m^iters``.

    Two-tier: the distinct edge reduction stays distributed; a
    deduplicated graph within ``max_local_edges`` runs the integer
    recursion driver-local (bit-exact — integer sums have no order
    sensitivity), larger graphs take the per-round join loop."""
    if m < 2:
        raise ValueError(f"m must be >= 2 (alpha = 1/m < 1), got {m}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    edges, pdf = tier_gate(
        df.where(s.isNotNull() & d.isNotNull())
        .select(s.alias("u"), d.alias("v"))
        .distinct(),
        max_local_edges,
    )
    if pdf is not None:
        rows = _katz_local(list(pdf.itertuples(index=False, name=None)), m, iters)
        return local_result(
            df.sparkSession, rows, "node string, raw long, katz double"
        )
    nodes, obs = observed(
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    nodes = truncate_lineage(nodes)
    n_nodes = obs.get["n"]
    bcast = (lambda x: F.broadcast(x)) if n_nodes <= 5_000_000 else (lambda x: x)
    checked = (
        lambda col: F.when(
            col > F.lit(1 << 62).cast("decimal(38,0)"),
            F.raise_error(
                F.lit(
                    "Katz scores overflow 62-bit integers -- reduce iters "
                    "or raise m"
                )
            ).cast("decimal(38,0)"),
        )
        .otherwise(col)
        .cast("long")
    )
    y = nodes.select("node", F.lit(1).cast("long").alias("y"))
    for t in range(1, iters + 1):
        incoming = (
            edges.join(bcast(y.withColumnRenamed("node", "u")), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(
                checked(F.sum(F.col("y").cast("decimal(38,0)"))).alias("_in")
            )
        )
        y = nodes.join(incoming, "node", "left").select(
            "node",
            (
                F.coalesce("_in", F.lit(0)) + F.lit(m**t).cast("long")
            ).alias("y"),
        )
        # Between-rounds only (r10): the last round's state is
        # materialized by the caller's action; the eager checkpoint
        # there was one extra job per call.
        if t < iters:
            y = truncate_lineage(y, cache=False)
    scale = float(m**iters)
    return y.select(
        "node",
        F.col("y").alias("raw"),
        (F.col("y") / F.lit(scale)).alias("katz"),
    )


def katz_centrality_sql(
    edge_sql: str,
    *,
    m: int = 4,
    iters: int = 4,
) -> str:
    """DuckDB oracle replaying :func:`katz_centrality` exactly
    (unrolled integer rounds; ``edge_sql`` yields ``(src, dst)``)."""
    parts = [
        f"WITH raw AS ({edge_sql})",
        ", e AS (SELECT DISTINCT CAST(src AS VARCHAR) AS u,"
        " CAST(dst AS VARCHAR) AS v FROM raw"
        " WHERE src IS NOT NULL AND dst IS NOT NULL)",
        ", nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e)",
        ", y0 AS (SELECT node, 1::BIGINT AS y FROM nodes)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f", y{t} AS (SELECT n.node,"
            f" (COALESCE(s.i, 0) + {m**t})::BIGINT AS y"
            f" FROM nodes n LEFT JOIN ("
            f"SELECT e.v AS node, SUM(p.y)::BIGINT AS i"
            f" FROM e JOIN y{t - 1} p ON p.node = e.u GROUP BY e.v"
            f") s ON s.node = n.node)"
        )
    parts.append(
        f"SELECT node, y AS raw, y / {float(m ** iters)!r} AS katz"
        f" FROM y{iters}"
    )
    return "\n".join(parts)
