"""Deterministic negative sampling for link-prediction training data.

Embedding / link-prediction training (node2vec, GraphSAGE, two-tower
retrieval) needs, per positive edge or per node, k "negative" partners
that are NOT edges.  The textbook implementation draws uniform node ids
— which needs either dense ids or a global rank, and a global
``row_number()`` over V rows is a single-partition sort at cluster
scale.  This operator avoids ranks entirely with HASH-BUCKET PAIRING:

1. every node gets a bucket ``H2(v) mod B`` (B ≈ V / bucket_factor, so
   buckets hold ~bucket_factor nodes);
2. each (node u, draw j) probes bucket ``H1(u|j) mod B``;
3. within the probed bucket the winner is the node minimizing
   ``H3(u|j|v)`` — a pseudo-random but fully deterministic pick;
4. real edges (both orientations) and self-pairs are removed by one
   anti-join.

Everything is equality joins plus one min-struct aggregation: candidate
volume is ``k·V·bucket_factor`` rows — linear in V, tunable, no global
sort, no driver-sized state (the only driver scalar is the node count
that sizes B).  Draws that collide with a real edge or duplicate
another draw are dropped, so nodes may receive fewer than k negatives —
the standard contract (rejection sampling without the retry loop).

All hashes are the repo's portable md5-derived 60-bit hash, so the
DuckDB oracle replays the identical draw sequence.

Reference surface: none (beyond-reference operator, SURVEY.md §2
extension list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..plans.parallelism import fan_out


def negative_samples(
    edges: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    k: int = 3,
    bucket_factor: int = 16,
    seed: str = "neg",
) -> DataFrame:
    """Per-node deterministic non-edges -> ``(node, negative)`` (up to
    ``k`` rows per node; fewer after edge/self/duplicate rejection).
    Null endpoints drop; the graph is treated as undirected for the
    "is it a real edge" rejection."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    e = edges.where(s.isNotNull() & d.isNotNull()).select(
        s.alias("u"), d.alias("v")
    )
    from ..plans.iteration import truncate_lineage

    # Canonical (least, greatest) edge table instead of the full
    # symmetric closure (r9-opt): half the distinct exchange and half
    # the materialized rows; the undirected rejection below probes it
    # with the candidate pair canonicalized the same way — (node, neg)
    # is in the closure iff (least, greatest) is in canon.  canon feeds
    # the rejection anti join AND the node extraction; nodes feeds
    # three branches (count, buckets, draws) — materialize both.
    canon = truncate_lineage(
        e.select(
            F.least(F.col("u"), F.col("v")).alias("u"),
            F.greatest(F.col("u"), F.col("v")).alias("v"),
        ).distinct()
    )
    # fan_out: the per-candidate md5 stage below (draws ⋈ buckets,
    # |nodes|·k·bucket_size hash rows) inherits nodes' partitioning —
    # an AQE-coalesced 1-partition node table serializes it (measured:
    # a 1.7 s single-task stage at sf0.1).  Identity at cluster scale.
    nodes = fan_out(
        truncate_lineage(
            canon.select(
                F.explode(F.array(F.col("u"), F.col("v"))).alias("n")
            ).distinct()
        )
    )
    n_nodes = nodes.count()
    B = max(n_nodes // bucket_factor, 1)

    def h(c, tag):
        return portable_hash64(F.concat(F.lit(f"{seed}|{tag}|"), c))

    buckets = nodes.select(
        F.col("n").alias("cand"), F.pmod(h(F.col("n"), "b"), F.lit(B)).alias("bkt")
    )
    draws = nodes.select(
        F.col("n").alias("node"),
        F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j"),
    ).select(
        "node",
        "j",
        F.pmod(
            h(F.concat(F.col("node"), F.lit("|"), F.col("j")), "d"), F.lit(B)
        ).alias("bkt"),
    )
    # Guarded broadcast (pagerank's _BROADCAST_NODES_MAX posture): the
    # bucket table is exactly V rows and V was just counted for B; a
    # checkpointed frame carries no stats, so without the hint the
    # planner shuffle-joins on bkt — re-partitioning the candidate
    # stream on the bucket key and undoing the fan_out above.  Broadcast
    # keeps the join in the draws' partitioning, so the per-candidate
    # hash work runs at session width and the groupBy below reuses it.
    bucket_side = buckets if n_nodes > 5_000_000 else F.broadcast(buckets)
    picked = (
        draws.join(bucket_side, "bkt")
        .where(F.col("cand") != F.col("node"))
        .groupBy("node", "j")
        .agg(
            F.min(
                F.struct(
                    h(
                        F.concat(
                            F.col("node"),
                            F.lit("|"),
                            F.col("j"),
                            F.lit("|"),
                            F.col("cand"),
                        ),
                        "p",
                    ).alias("hv"),
                    F.col("cand").alias("cand"),
                )
            ).alias("w")
        )
        .select("node", F.col("w.cand").alias("negative"))
        .distinct()
    )
    return picked.join(
        canon.select(F.col("u").alias("_cu"), F.col("v").alias("_cv")),
        (F.least(F.col("node"), F.col("negative")) == F.col("_cu"))
        & (F.greatest(F.col("node"), F.col("negative")) == F.col("_cv")),
        "left_anti",
    )


def negative_samples_sql(
    edge_sql: str,
    *,
    k: int = 3,
    bucket_factor: int = 16,
    seed: str = "neg",
) -> str:
    """DuckDB oracle replaying :func:`negative_samples` draw-for-draw.
    ``edge_sql`` yields (src, dst)."""
    from ..functions.hashing import portable_hash64_sql

    hb = portable_hash64_sql(f"'{seed}|b|' || n")
    hd = portable_hash64_sql(f"'{seed}|d|' || n || '|' || j")
    hp = portable_hash64_sql(
        f"'{seed}|p|' || d.node || '|' || d.j || '|' || b.cand"
    )
    return f"""
WITH raw AS ({edge_sql}),
e AS (
  SELECT CAST(src AS VARCHAR) AS u, CAST(dst AS VARCHAR) AS v FROM raw
  WHERE src IS NOT NULL AND dst IS NOT NULL
),
und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
nodes AS (SELECT DISTINCT u AS n FROM und),
nb AS (SELECT greatest(count(*) // {bucket_factor}, 1) AS b FROM nodes),
buckets AS (
  SELECT n AS cand, ({hb}) % (SELECT b FROM nb) AS bkt FROM nodes
),
draws AS (
  SELECT n AS node, j,
         ({hd}) % (SELECT b FROM nb) AS bkt
  FROM nodes CROSS JOIN (SELECT unnest(range({k})) AS j)
),
picked AS (
  SELECT DISTINCT d.node,
         arg_min(b.cand, ({hp})) AS negative
  FROM draws d JOIN buckets b ON d.bkt = b.bkt AND b.cand <> d.node
  GROUP BY d.node, d.j
)
SELECT DISTINCT p.node, p.negative
FROM picked p
WHERE NOT EXISTS (
  SELECT 1 FROM und WHERE und.u = p.node AND und.v = p.negative
)
"""
