"""Approximate r-hop neighborhood sizes (the HyperANF primitive).

"How many distinct nodes are within r hops of each node?" is the
neighborhood function N(v, r) — the basis of effective-diameter,
closeness and influence estimation.  Exact computation materializes
every (node, reachable-node) pair: |V|·avg-ball-size rows, quadratic on
dense graphs and hopeless at 100 TB.  Boldi-Vigna's HyperANF (WWW'11)
replaces each node's reachable SET with a HyperLogLog sketch and
iterates ``sketch(v) ∪= sketch(u) for (v,u) ∈ E`` — per round ONE
equality join and ONE max-aggregation over (node, bucket) register
rows, state bounded by |V|·2^b registers regardless of ball size.

Register rows reuse the engine-portable layout of ``functions.sketches``
(md5-derived 60-bit hash, (bucket, max_rho) rows, max-mergeable), so the
DuckDB oracle replays the recursion bit for bit and the estimates match
to the displayed rounding.

Plan shape per round: edges ⋈ registers (shuffle on node key, the same
partitioning every round — a co-partitioned self-iteration), then a
map-side-combinable per-(node, bucket) max.  Lineage is truncated per
round.  Register fan-out bounds the join output at
``E × min(2^b, ball)`` rows — the HyperANF trade: radius-r reach for a
2^b-per-node state, independent of how large the balls get.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..functions.sketches import _alpha, _HASH_BITS
from ..plans.iteration import truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate


_BALL_LOCAL_MAX_CELLS = 128 * 1024 * 1024


def _ball_local(spark, pdf, directed, radius, b):
    """Driver-local mirror of the HLL ball hop-merge: dense (V, 2^b)
    int8 register matrix, one synchronous ``np.maximum.at`` scatter per
    hop (max-merge is order-pure, so this tier is exact up to the
    round-to-4 estimate).  Returns None when the matrix would exceed
    ``_BALL_LOCAL_MAX_CELLS`` — bounded wasted collect, same contract as
    the other guarded tiers."""
    import math

    import numpy as np
    import pandas as pd

    from ..functions.hashing import portable_hash64_py
    from ..functions.sketches import _HASH_BITS, _alpha

    if not directed:
        pdf = pd.concat(
            [pdf, pdf.rename(columns={"u": "v", "v": "u"})], ignore_index=True
        )
    pdf = pdf.drop_duplicates(["u", "v"], ignore_index=True)
    m = 1 << b
    if not len(pdf):
        return spark.createDataFrame([], "node string, estimate double")
    codes, names = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True)
    )
    n_nodes = len(names)
    if n_nodes * m > _BALL_LOCAL_MAX_CELLS:
        return None
    ne = len(pdf)
    eu, ev = codes[:ne], codes[ne:]
    rest_bits = _HASH_BITS - b
    regs = np.zeros((n_nodes, m), dtype=np.int8)
    for i, name in enumerate(names):
        h = portable_hash64_py(name)
        rest = h % (1 << rest_bits)
        rho = (rest_bits + 1) if rest == 0 else rest_bits - rest.bit_length() + 1
        regs[i, h >> rest_bits] = rho
    # The hop gather ``regs[ev]`` materializes an (E_slice, 2^b) int8
    # temporary; unchunked that is E*m bytes (~8 GB at the 2M-edge guard
    # with b=12), dwarfing the guarded register matrix.  Max-merge is
    # order-independent, so slicing the scatter over edge chunks is
    # exact — each temporary is bounded by the same cell budget as regs.
    edge_chunk = max(1, _BALL_LOCAL_MAX_CELLS // m)
    for _ in range(radius):
        nxt = regs.copy()
        for s0 in range(0, ne, edge_chunk):
            sl = slice(s0, s0 + edge_chunk)
            np.maximum.at(nxt, eu[sl], regs[ev[sl]])
        regs = nxt
    mask = regs > 0
    shifted = np.where(mask, np.ldexp(1.0, -regs.astype(np.int64)), 0.0)
    ssum = shifted.sum(axis=1)
    nonempty = mask.sum(axis=1)
    empty = float(m) - nonempty.astype(np.float64)
    with np.errstate(divide="ignore"):
        raw = (_alpha(m) * m * m) / (ssum + empty)
        lc = -float(m) * np.log(empty / float(m))
    est = np.where((raw <= 2.5 * m) & (empty > 0), lc, raw)
    # Spark's round() is decimal HALF_UP; np.round is half-to-even —
    # mirror the former (estimates are non-negative).
    est4 = np.floor(est * 1e4 + 0.5) / 1e4
    out = pd.DataFrame({"node": names, "estimate": est4})
    assert math.isfinite(out["estimate"].sum())
    return spark.createDataFrame(out, "node string, estimate double")


def hll_ball_size(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    radius: int = 2,
    b: int = 8,
    directed: bool = False,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Per-node HLL estimate of ``|{u : dist(node, u) <= radius}|``
    (including the node itself) -> ``(node, estimate double)``.

    Nodes are coerced to string; null endpoints drop the edge;
    self-loops are harmless (the node is already in its own ball).
    ``b`` is the HLL precision (2^b registers per node — per-node state,
    so the default is smaller than the corpus-wide sketches' b=12).
    """
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    if not 4 <= b <= 18:
        raise ValueError(f"b must be in [4, 18], got {b}")
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    base = df.where(s.isNotNull() & d.isNotNull()).select(
        s.alias("u"), d.alias("v")
    )
    # Two-tier (round 7): register state is an integer max-merge —
    # partition/order-pure — and the node hash has a bit-exact Python
    # mirror, so under the raw-row guard the hop merges run as numpy
    # 2-D scatter-max sweeps over a dense (V, 2^b) register matrix
    # (declined when that matrix would exceed ~128M cells; the estimate
    # tail mirrors the Spark formula, whose round-to-4 output absorbs
    # float-order noise by many orders of magnitude).
    max_local_edges = resolve_max_local_edges(df.sparkSession, max_local_edges)
    base, pdf = tier_gate(
        base,
        max_local_edges if directed else max_local_edges // 2,
        materialize=False,
    )
    if pdf is not None:
        out = _ball_local(df.sparkSession, pdf, directed, radius, b)
        if out is not None:
            return out
    edges = base.distinct()
    if not directed:
        edges = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
    edges = truncate_lineage(edges)

    rest_bits = _HASH_BITS - b
    nodes = edges.select(F.col("u").alias("node")).union(
        edges.select(F.col("v").alias("node"))
    ).distinct()
    h = portable_hash64(F.col("node"))
    rest = F.pmod(h, F.lit(1 << rest_bits))
    bitlen = F.length(F.conv(rest.cast("string"), 10, 2))
    rho = F.when(rest == 0, F.lit(rest_bits + 1)).otherwise(
        F.lit(rest_bits) - bitlen + 1
    )
    regs = truncate_lineage(
        nodes.select(
            "node",
            F.shiftright(h, rest_bits).cast("int").alias("bucket"),
            rho.cast("int").alias("max_rho"),
        )
    )

    for _ in range(radius):
        # sketch(u) ∪= sketch(v) along every edge u -> v (the OUT-ball:
        # nodes reachable FROM u), plus keep own.
        from_nbrs = (
            edges.join(regs.select(F.col("node").alias("v"), "bucket", "max_rho"), "v")
            .select(F.col("u").alias("node"), "bucket", "max_rho")
        )
        regs = truncate_lineage(
            regs.unionAll(from_nbrs)
            .groupBy("node", "bucket")
            .agg(F.max("max_rho").alias("max_rho"))
        )

    m = 1 << b
    agg = regs.groupBy("node").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("s"),
        F.count(F.lit(1)).alias("nonempty"),
    )
    empty = F.lit(float(m)) - F.col("nonempty").cast("double")
    raw = F.lit(_alpha(m) * m * m) / (F.col("s") + empty)
    lc = -F.lit(float(m)) * F.log(empty / F.lit(float(m)))
    est = F.when((raw <= F.lit(2.5 * m)) & (empty > 0), lc).otherwise(raw)
    return agg.select("node", F.round(est, 4).alias("estimate"))


def hll_ball_size_sql(
    edge_sql: str,
    *,
    radius: int = 2,
    b: int = 8,
    directed: bool = False,
) -> str:
    """DuckDB oracle replaying :func:`hll_ball_size` register for
    register — ``edge_sql`` yields ``(src, dst)``."""
    m = 1 << b
    rest_bits = _HASH_BITS - b
    h = portable_hash64_sql("node")
    mirror = (
        ""
        if directed
        else " UNION SELECT CAST(dst AS VARCHAR), CAST(src AS VARCHAR) FROM raw "
        "WHERE src IS NOT NULL AND dst IS NOT NULL"
    )
    parts = [
        f"WITH raw AS ({edge_sql})",
        f""", e AS (
  SELECT DISTINCT CAST(src AS VARCHAR) AS u, CAST(dst AS VARCHAR) AS v
  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL{mirror}
)""",
        f""", r0 AS (
  SELECT node,
         CAST(h // {1 << rest_bits} AS INT) AS bucket,
         CASE WHEN h % {1 << rest_bits} = 0 THEN {rest_bits + 1}
              ELSE {rest_bits} - length(bin(h % {1 << rest_bits})) + 1
         END AS max_rho
  FROM (
    SELECT node, {h} AS h FROM (
      SELECT u AS node FROM e UNION SELECT v FROM e
    )
  )
)""",
    ]
    prev = "r0"
    for i in range(1, radius + 1):
        parts.append(
            f""", r{i} AS (
  SELECT node, bucket, max(max_rho) AS max_rho FROM (
    SELECT node, bucket, max_rho FROM {prev}
    UNION ALL
    SELECT e.u AS node, r.bucket, r.max_rho
    FROM e JOIN {prev} r ON r.node = e.v
  ) GROUP BY 1, 2
)"""
        )
        prev = f"r{i}"
    parts.append(
        f""", agg AS (
  SELECT node, sum(power(2.0, -max_rho)) AS s, count(*) AS nonempty
  FROM {prev} GROUP BY node
)
SELECT node, round(
  CASE WHEN ({_alpha(m) * m * m!r} / (s + ({m} - nonempty))) <= {2.5 * m}
        AND ({m} - nonempty) > 0
       THEN -{float(m)!r} * ln(({m} - nonempty) / {float(m)!r})
       ELSE {_alpha(m) * m * m!r} / (s + ({m} - nonempty)) END,
  4) AS estimate
FROM agg"""
    )
    return "\n".join(parts)
