"""FastRP node embeddings: iterated very-sparse random projection.

Chen et al. 2019 ("Fast and Accurate Network Embeddings via Very Sparse
Random Projection"): project the adjacency's r-step transition structure
through ONE shared sparse random matrix — embedding(v) aggregates the
random signatures of v's 1-hop and 2-hop neighborhoods.  Equivalent
quality to DeepWalk/node2vec on most tasks at a tiny fraction of the
cost, and — the reason Neo4j GDS ships it as the default billion-edge
embedder — expressible entirely as equality joins + grouped sums: no
sampling, no SGD, no parameter server.

This implementation keeps every value an INTEGER so the result is
bit-exact under any aggregation order (the same trick as the HITS and
centroid operators): the projection matrix entries are {-1, 0, +1}
drawn by portable hash with P(±1) = 1/s each (Achlioptas/Li sparse
projection with the 1/sqrt(s) scale factor deferred — scaling is a
per-column constant that downstream cosine/dot consumers cancel or
apply once), and neighborhood aggregation is an UNNORMALIZED sum
(A·R and A·A·R).  Degree normalization and per-level L2 norms are
float-domain post-processing a consumer applies after the fact;
deferring them keeps the distributed part exact, deterministic and
oracle-verifiable.

Plan shape: the projection is generated on the fly from (node, dim)
hashes — never stored, never a driver artifact; level 1 is one
edges ⋈ projection join + grouped sum; level 2 is one edges ⋈ level-1
join + grouped sum.  Sparse rows (node, dim, val) throughout; zero
entries of R are never materialized (~(s-2)/s of them at s=3).
Overflow bound: |level2| <= max_degree² · dim-density — at 2^63 this
tolerates max_degree ~3·10⁹ before the ANSI overflow guard trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..plans.iteration import truncate_lineage
from ..plans.tiering import resolve_max_local_edges, tier_gate


def _fastrp_local(u_names, v_names, dim, sparsity, w1, w2):
    """Driver-local mirror of the two-level recursion — bit-identical by
    construction: the same md5 draws feed integer sums (order-free), and
    per-cell presence (any contributing in-neighbor) reproduces the
    sparse "absent means no row" semantics exactly, including
    cancelled-to-zero cells.

    Segment sums run as ``np.bincount(weights=...)`` — float64
    accumulation, which is EXACT here: every summand and every partial
    sum is an integer, and under the 2M-edge guard
    |lvl2| <= max_degree^2 <= (2M)^2 = 4e12 << 2^53.  (``np.add.at`` was
    measured ~15x slower; per-dim processing keeps every temporary at
    |E| elements — full |E|×dim fancy-index temporaries measured ~10x
    slower on this host's throttled memory.)

    Returns numpy columns ``(node, dim, val)`` for the Arrow path back.
    """
    import numpy as np
    import pandas as pd

    inv, names = pd.factorize(
        np.concatenate([np.asarray(u_names), np.asarray(v_names)])
    )
    names = np.asarray(names)
    n = len(names)
    uids, vids = inv[: len(u_names)], inv[len(u_names):]
    r = np.zeros((n, dim), np.int64)
    # Per-cell draws, bit-identical to portable_hash64(f"{name}#{i}")
    # but ~3x cheaper than one portable_hash64_py call per cell (r10,
    # ADVICE): hash the name bytes ONCE per node and fork the md5 state
    # per dim (md5(name).copy().update(b"#i") == md5(name + "#i")), and
    # read the 60-bit value straight off the digest bytes — the first
    # 15 hex digits of the hexdigest are exactly the top 60 bits of the
    # first 8 digest bytes (big-endian >> 4) — instead of building and
    # parsing a hex string per cell.
    import hashlib

    suffixes = [f"#{i}".encode("utf-8") for i in range(dim)]
    two_s = 2 * sparsity
    from_bytes = int.from_bytes
    for idx, name in enumerate(names):
        base = hashlib.md5(str(name).encode("utf-8"))
        for i in range(dim):
            m = base.copy()
            m.update(suffixes[i])
            draw = (from_bytes(m.digest()[:8], "big") >> 4) % two_s
            if draw == 0:
                r[idx, i] = 1
            elif draw == 1:
                r[idx, i] = -1

    def _seg(weights) -> "np.ndarray":
        # length-n integer segment sum of one per-edge column over vids.
        return np.bincount(vids, weights=weights, minlength=n).astype(
            np.int64
        )

    l1 = np.empty((n, dim), np.int64)
    p1 = np.empty((n, dim), bool)
    for i in range(dim):
        rui = r[uids, i]
        l1[:, i] = _seg(rui)
        p1[:, i] = _seg(rui != 0) > 0
    l2 = np.empty((n, dim), np.int64)
    p2 = np.empty((n, dim), bool)
    for i in range(dim):
        p1ui = p1[uids, i]
        l2[:, i] = _seg(np.where(p1ui, l1[uids, i], 0))
        p2[:, i] = _seg(p1ui) > 0
    val = w1 * l1 + w2 * l2  # absent cells hold 0 and are dropped below
    pres = p1 | p2
    cell = np.argwhere(pres)
    return names[cell[:, 0]], cell[:, 1].astype(np.int32), val[pres]


def fastrp_embedding(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    dim: int = 16,
    sparsity: int = 3,
    weights: "tuple[int, int]" = (1, 1),
    directed: bool = False,
    max_broadcast_nodes: int = 2_000_000,
    max_local_edges: int | None = None,
) -> DataFrame:
    """Two-level FastRP -> sparse ``(node, dim, val)`` rows where
    ``val = w1·(A·R)[node, dim] + w2·(A²·R)[node, dim]`` (exact bigint;
    zero rows are kept when a level contributes — absent (node, dim)
    pairs are implicit zeros).

    ``sparsity`` is Li et al.'s s: P(R=+1) = P(R=-1) = 1/(2·ceil(s/... )
    — here drawn as hash % (2·s) ∈ {0 → +1, 1 → -1, else 0}, so the
    expected nonzero density per node is dim/s.

    ``max_broadcast_nodes``: the repo's standard broadcast guard — when
    the node set has at most this many rows, the projection and level-1
    joins broadcast their O(V)-row wide sides instead of shuffling the
    edge table; above the guard the shuffle join stands (the 100 TB
    plan).

    ``max_local_edges``: the repo's standard two-tier guard
    (``plans.tiering``) — a deduplicated edge set within it runs the
    integer recursion driver-local (bit-exact: integer sums have no
    order sensitivity), larger graphs take the distributed joins.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if sparsity < 1:
        raise ValueError(f"sparsity must be >= 1, got {sparsity}")
    w1, w2 = weights
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    base = df.where(s.isNotNull() & d.isNotNull() & (s != d))
    if directed:
        half = base.select(s.alias("u"), d.alias("v")).distinct()
    else:
        # Canonicalize BEFORE deduplicating (r9-opt): least/greatest
        # folds (a, b) and (b, a) into one row, so the symmetric
        # closure is canon ∪ swap(canon) — two disjoint halves (u < v
        # vs u > v), no second |2E|-row distinct exchange AND only the
        # |E|-row canonical half ever materializes (the closure is a
        # lazy map-only union over its checkpoint blocks).  Same edge
        # set as distinct-then-mirror-then-distinct.
        half = base.select(
            F.least(s, d).alias("u"), F.greatest(s, d).alias("v")
        ).distinct()
    mle = resolve_max_local_edges(df.sparkSession, max_local_edges)
    # Hard exactness cap on the local tier regardless of how high the
    # session/call guard is raised (r10, ADVICE): _fastrp_local
    # accumulates integer summands in float64 via np.bincount(weights=),
    # exact only while every partial sum stays under 2^53.  Values are
    # bounded by |lvl2| <= E^2, so E <= 2^26 keeps E^2 <= 2^52 with a
    # 2x margin; above that the distributed integer path runs instead.
    mle = min(mle, 1 << 26)
    half, pdf = tier_gate(half, mle if directed else mle // 2)
    if pdf is not None:
        import numpy as np
        import pandas as pd

        u, v = pdf["u"].to_numpy(), pdf["v"].to_numpy()
        if not directed:
            u, v = np.concatenate([u, v]), np.concatenate([v, u])
        node_c, dim_c, val_c = _fastrp_local(u, v, dim, sparsity, w1, w2)
        return df.sparkSession.createDataFrame(
            pd.DataFrame({"node": node_c, "dim": dim_c, "val": val_c}),
            "node string, dim int, val long",
        )
    edges = (
        half
        if directed
        else half.union(
            half.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )

    # WIDE layout (r9-opt, same trick as the MinHash signature layout):
    # the sparse (node, dim, val) pipeline multiplied every edge row by
    # the per-node nonzero-dim count BEFORE each grouped sum — the
    # level-2 join alone emitted ~|E|·dim rows.  Carrying the dim axis
    # as ``dim`` integer COLUMNS instead makes each join emit exactly
    # |E| rows and each aggregation hash |V| group keys instead of
    # |V|·dim, with map-side partial aggregation unchanged.  Values are
    # bit-identical: the same integer summands reach the same (node,
    # dim) cell, integer addition is order-free, and a per-dim presence
    # flag (max of |r| / carried forward) reproduces the sparse form's
    # implicit "absent means no contribution" semantics exactly —
    # including cancelled-to-zero cells, which stay present.
    #
    # Both joins build against O(V)-row wide tables (the projection and
    # the level-1 state): under ``max_broadcast_nodes`` they broadcast,
    # so the edge table is NEVER shuffled — above the guard the shuffle
    # join stands (the 100 TB plan).  One count decides both (the
    # level-1 state has at most one row per node).  The projection is
    # computed per NODE, not per edge: dim portable md5s per node is
    # |V|·dim hashes; inlining them on edge rows was measured 3× the
    # whole lvl1 pass at avg degree ~40.
    def _r(node_col, i: int):
        h = portable_hash64(F.concat(node_col, F.lit(f"#{i}")))
        draw = F.pmod(h, F.lit(2 * sparsity))
        return (
            F.when(draw == 0, F.lit(1))
            .when(draw == 1, F.lit(-1))
            .otherwise(F.lit(0))
            .alias(f"r{i}")
        )

    nodes = edges.select(F.col("u").alias("node")).distinct()
    proj = truncate_lineage(
        nodes.select("node", *[_r(F.col("node"), i) for i in range(dim)])
    )
    # Guard the broadcast by CELL volume, not row count (r10, ADVICE):
    # the hinted sides are wide — proj carries dim ints and lvl1 2*dim
    # longs per node — so a fixed node threshold lets the broadcast
    # bytes scale linearly with dim.  Treat ``max_broadcast_nodes`` as
    # calibrated for the default dim=16 and shrink it proportionally
    # for wider embeddings (identity at dim<=16).
    node_budget = max_broadcast_nodes * 16 // max(dim, 16) if max_broadcast_nodes else 0
    small = bool(max_broadcast_nodes) and proj.count() <= node_budget
    proj_u = proj.withColumnRenamed("node", "u")
    if small:
        proj_u = F.broadcast(proj_u)

    # level 1: (A·R)[v, i] = sum of R[u, i] over edges u -> v.
    # s_i = the sum; p_i = 1 iff any in-neighbor drew nonzero on dim i
    # (the sparse form's row-existence bit).
    lvl1 = truncate_lineage(
        edges.join(proj_u, "u")
        .groupBy(F.col("v").alias("node"))
        .agg(
            *[F.sum(f"r{i}").cast("long").alias(f"s{i}") for i in range(dim)],
            *[F.max(F.abs(F.col(f"r{i}"))).alias(f"p{i}") for i in range(dim)],
        )
    )
    # level 2: (A·lvl1)[v, i] — a u-row contributes s_i only where the
    # sparse lvl1 had a (u, i) row (p_i = 1); a cell with no contributing
    # neighbor stays NULL (= absent in the sparse form).
    lvl1_u = lvl1.withColumnRenamed("node", "u")
    if small:
        lvl1_u = F.broadcast(lvl1_u)
    lvl2 = (
        edges.join(lvl1_u, "u")
        .groupBy(F.col("v").alias("node"))
        .agg(
            *[
                F.sum(F.when(F.col(f"p{i}") == 1, F.col(f"s{i}")))
                .cast("long")
                .alias(f"s{i}")
                for i in range(dim)
            ],
            *[F.max(f"p{i}").alias(f"p{i}") for i in range(dim)],
        )
    )
    # Unpivot each level back to the sparse (node, dim, val) rows the
    # public contract uses, dropping never-contributed cells exactly as
    # the sparse form did, and combine with the original narrow union +
    # grouped sum (2·|V|·dim tiny rows) — keeping the final plan narrow
    # instead of dragging the 2·dim-column layout through one more
    # union/aggregate (driver planning on the wide trees was measured
    # to outweigh the executor-side win).
    stack_args = ", ".join(
        f"cast({i} as int), s{i}, p{i}" for i in range(dim)
    )

    def _unpivot(wide: DataFrame) -> DataFrame:
        return (
            wide.select(
                "node",
                F.expr(f"stack({dim}, {stack_args}) as (dim, val, pres)"),
            )
            .where(F.col("pres") == 1)
            .select("node", "dim", "val")
        )

    combined = (
        _unpivot(lvl1)
        .select("node", "dim", (F.lit(w1) * F.col("val")).alias("p"))
        .unionAll(
            _unpivot(lvl2).select(
                "node", "dim", (F.lit(w2) * F.col("val")).alias("p")
            )
        )
        .groupBy("node", "dim")
        .agg(F.sum("p").cast("long").alias("val"))
    )
    return combined


def fastrp_embedding_sql(
    edge_sql: str,
    *,
    dim: int = 16,
    sparsity: int = 3,
    weights: "tuple[int, int]" = (1, 1),
    directed: bool = False,
) -> str:
    """DuckDB oracle replaying :func:`fastrp_embedding`."""
    w1, w2 = weights
    h = portable_hash64_sql("(node || '#' || CAST(dim AS VARCHAR))")
    mirror = (
        ""
        if directed
        else " UNION SELECT CAST(dst AS VARCHAR), CAST(src AS VARCHAR) FROM raw "
        "WHERE src IS NOT NULL AND dst IS NOT NULL "
        "AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)"
    )
    return f"""
WITH raw AS ({edge_sql}),
e AS (
  SELECT DISTINCT CAST(src AS VARCHAR) AS u, CAST(dst AS VARCHAR) AS v
  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR){mirror}
),
nodes AS (SELECT DISTINCT u AS node FROM e),
proj AS (
  SELECT node, dim, r FROM (
    SELECT node, CAST(range AS INT) AS dim,
           CASE ({h}) % {2 * sparsity}
             WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS r
    FROM nodes CROSS JOIN range({dim})
  ) WHERE r <> 0
),
lvl1 AS (
  SELECT e.v AS node, p.dim, sum(p.r)::BIGINT AS val
  FROM e JOIN proj p ON p.node = e.u
  GROUP BY 1, 2
),
lvl2 AS (
  SELECT e.v AS node, l.dim, sum(l.val)::BIGINT AS val
  FROM e JOIN lvl1 l ON l.node = e.u
  GROUP BY 1, 2
)
SELECT node, dim, sum(p)::BIGINT AS val FROM (
  SELECT node, dim, {w1} * val AS p FROM lvl1
  UNION ALL
  SELECT node, dim, {w2} * val AS p FROM lvl2
) GROUP BY 1, 2
"""
