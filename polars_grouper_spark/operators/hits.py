"""HITS hubs & authorities (Kleinberg 1999) — integer-exact variant.

Classic HITS normalizes scores every round, which at distributed scale
means order-dependent floating-point sums feeding the next round — the
kind of drift that breaks cross-engine verification.  This variant runs
the mutual recursion UNNORMALIZED over exact integers:

    hub_0(u)  = 1
    auth_k(v) = Σ_{u→v} hub_{k-1}(u)
    hub_k(u)  = Σ_{u→v} auth_k(v)

Integer sums are associative, so Spark and the DuckDB oracle agree bit
for bit at any aggregation order; the RANKING is identical to normalized
HITS (normalization is a per-round positive scalar).  Normalized scores
are recovered at the end with a single division by the max — one exact
float op.

Growth bound: scores grow like (σ_max)² per round (σ_max ≤ max degree),
so ``iters`` rounds on a graph with max degree D stay under
D^(2·iters); the default 3 rounds overflow-checks BIGINT for D up to
~10⁴.  The final assert raises on overflow rather than wrapping.

Plan shape: two key-partitioned joins + two map-side-combinable sums per
round over the DISTINCT edge set (HITS is defined on simple graphs);
state is O(V) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iteration import observed, truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate


def _hits_local(spark, pdf, iters: int):
    """Driver-local mirror of the integer HITS recursion: int64
    ``np.add.at`` scatter-sums (associative integers — order-pure).
    Declines (returns None) when any half-round's float-estimated max
    exceeds 2^61 — half the distributed raise threshold, so int64 can
    never wrap here and the over-threshold cases keep the distributed
    tier's exact decimal guard and error message."""
    import numpy as np
    import pandas as pd

    pdf = pdf.drop_duplicates(["u", "v"], ignore_index=True)
    schema = (
        "node string, authority long, hub long, "
        "auth_norm double, hub_norm double"
    )
    if not len(pdf):
        return spark.createDataFrame([], schema)
    codes, names = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True)
    )
    m = len(pdf)
    eu, ev = codes[:m], codes[m:]
    n_nodes = len(names)
    lim = float(1 << 61)
    hub = np.ones(n_nodes, dtype=np.int64)
    auth = np.zeros(n_nodes, dtype=np.int64)
    for _ in range(iters):
        if np.bincount(ev, weights=hub[eu].astype(np.float64), minlength=n_nodes).max() > lim:
            return None
        auth = np.zeros(n_nodes, dtype=np.int64)
        np.add.at(auth, ev, hub[eu])
        if np.bincount(eu, weights=auth[ev].astype(np.float64), minlength=n_nodes).max() > lim:
            return None
        hub = np.zeros(n_nodes, dtype=np.int64)
        np.add.at(hub, eu, auth[ev])
    ma, mh = max(int(auth.max()), 1), max(int(hub.max()), 1)

    def _round9(x):  # Spark round() is decimal HALF_UP (non-negative here)
        return np.floor(x * 1e9 + 0.5) / 1e9

    out = pd.DataFrame(
        {
            "node": names,
            "authority": auth,
            "hub": hub,
            "auth_norm": _round9(auth / float(ma)),
            "hub_norm": _round9(hub / float(mh)),
        }
    )
    return spark.createDataFrame(out, schema)


def hits(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    iters: int = 3,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Hub/authority scores ->
    ``(node, authority, hub, auth_norm, hub_norm)``: exact integer raw
    scores after ``iters`` rounds plus max-normalized doubles (rounded
    to 9).  Nodes with no in-edges have authority 0; no out-edges,
    hub 0.  Null endpoints drop the edge."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    base = df.where(s.isNotNull() & d.isNotNull()).select(
        s.alias("u"), d.alias("v")
    )
    # Two-tier (round 7): the recursion is integer-exact (associative
    # sums — aggregation-order-pure), so under the raw-row guard it
    # runs driver-local; scores estimated above 2^61 decline to the
    # distributed tier, which owns the exact decimal overflow guard.
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    base, pdf = tier_gate(base, max_local_edges, materialize=False)
    if pdf is not None:
        local = _hits_local(df.sparkSession, pdf, iters)
        if local is not None:
            return local
    edges = truncate_lineage(base.distinct())
    nodes, obs = observed(
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    nodes = truncate_lineage(nodes)
    # The score state is O(V) rows; when it fits the broadcast budget,
    # shipping it into each join leaves the (checkpointed) O(E) edge side
    # un-shuffled for the whole loop — the same lever as PageRank's
    # broadcast_ranks.  Checkpointed frames carry no size estimate, so
    # AQE cannot make this call on its own.
    n_nodes = obs.get["n"]
    bcast = (lambda d: F.broadcast(d)) if n_nodes <= 5_000_000 else (lambda d: d)
    # Overflow guard: scores grow like (d_in_max * d_out_max)^iters, and
    # under ANSI mode an overflowing long sum dies mid-aggregation with a
    # raw ARITHMETIC_OVERFLOW.  Each half-round therefore sums in
    # decimal(38,0) — which cannot overflow at any realistic depth — and
    # folds a raise_error threshold check into the SAME aggregation, so
    # the guard is exact (fires iff a true score exceeds 2^62), costs no
    # extra job, and fails with an actionable message instead of a raw
    # arithmetic error.  Scores at or below the threshold cast back to
    # long losslessly, keeping the integer-exact recursion bit-stable.
    _overflow_checked = (
        lambda s, out: F.when(
            s > F.lit(1 << 62).cast("decimal(38,0)"),
            F.raise_error(
                F.lit(
                    "HITS scores overflow 62-bit integers -- reduce iters "
                    "or contract hub nodes first"
                )
            ).cast("decimal(38,0)"),
        )
        .otherwise(s)
        .cast("long")
        .alias(out)
    )
    hub = nodes.select("node", F.lit(1).cast("long").alias("h"))
    auth = None
    for _ in range(iters):
        auth = truncate_lineage(
            edges.join(bcast(hub.withColumnRenamed("node", "u")), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(_overflow_checked(F.sum(F.col("h").cast("decimal(38,0)")), "a")),
            cache=False,
        )
        hub = truncate_lineage(
            edges.join(bcast(auth.withColumnRenamed("node", "v")), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(_overflow_checked(F.sum(F.col("a").cast("decimal(38,0)")), "h")),
            cache=False,
        )
    out = (
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.coalesce("a", F.lit(0)).cast("long").alias("authority"),
            F.coalesce("h", F.lit(0)).cast("long").alias("hub"),
        )
    )
    mx = out.agg(
        F.max("authority").alias("ma"), F.max("hub").alias("mh")
    ).collect()[0]
    ma, mh = int(mx["ma"] or 0), int(mx["mh"] or 0)
    if ma >= (1 << 62) or mh >= (1 << 62):
        raise ValueError(
            f"HITS scores overflow after iters={iters} (max authority {ma})"
            " — reduce iters"
        )
    return out.select(
        "node",
        "authority",
        "hub",
        F.round(F.col("authority") / F.lit(float(max(ma, 1))), 9).alias("auth_norm"),
        F.round(F.col("hub") / F.lit(float(max(mh, 1))), 9).alias("hub_norm"),
    )


def hits_sql(edge_sql: str, iters: int = 3) -> str:
    """DuckDB oracle replaying :func:`hits` exactly (integer recursion,
    max-normalized at the end)."""
    parts = [
        f"WITH raw AS ({edge_sql})",
        ", e AS (SELECT DISTINCT CAST(src AS VARCHAR) AS u, CAST(dst AS VARCHAR) AS v"
        " FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL)",
        ", nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e)",
        ", h0 AS (SELECT node, 1::BIGINT AS h FROM nodes)",
    ]
    prev_h = "h0"
    for i in range(1, iters + 1):
        parts.append(
            f", a{i} AS (SELECT e.v AS node, sum(p.h)::BIGINT AS a"
            f" FROM e JOIN {prev_h} p ON p.node = e.u GROUP BY e.v)"
        )
        parts.append(
            f", h{i} AS (SELECT e.u AS node, sum(x.a)::BIGINT AS h"
            f" FROM e JOIN a{i} x ON x.node = e.v GROUP BY e.u)"
        )
        prev_h = f"h{i}"
    parts.append(
        f""", fin AS (
  SELECT n.node, coalesce(a.a, 0)::BIGINT AS authority,
         coalesce(h.h, 0)::BIGINT AS hub
  FROM nodes n
  LEFT JOIN a{iters} a ON a.node = n.node
  LEFT JOIN h{iters} h ON h.node = n.node
), mx AS (
  SELECT greatest(max(authority), 1)::DOUBLE AS ma,
         greatest(max(hub), 1)::DOUBLE AS mh FROM fin
)
SELECT node, authority, hub,
       round(authority / mx.ma, 9) AS auth_norm,
       round(hub / mx.mh, 9) AS hub_norm
FROM fin, mx"""
    )
    return "\n".join(parts)
