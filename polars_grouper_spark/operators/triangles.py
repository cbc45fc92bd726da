"""Triangle counting — beyond-reference graph operator.

Per-node (and total) triangle counts over an undirected edge-list
DataFrame, via the degree-ordered node-iterator algorithm (Schank &
Wagner 2005; the MapReduce formulation is Suri & Vassilvitskii 2011's
"Counting triangles and the curse of the last reducer").

Why degree orientation matters at scale: enumerating wedges from raw
adjacency generates Σ deg(v)² candidates — on a power-law graph the hub
alone can emit billions.  Directing every edge from the lower-(degree,
node) endpoint to the higher one makes each node's *out*-degree at most
O(√|E|), so wedge generation is Σ outdeg(v)² ≤ |E|·√|E| worst case and
near-linear on real graphs.  All steps are joins/aggregations on edge
keys — shuffles partition by node id, nothing driver-sized.

Input follows the reference's edge-list convention (SURVEY.md §1.1):
two columns of any type, coerced to string; null endpoints and
self-loops dropped; parallel edges collapsed (a triangle is a set of
three distinct nodes pairwise connected, regardless of multiplicity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iteration import observed, truncate_lineage


def _canonical_edges(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges (a < b, string order), nulls and
    self-loops dropped."""
    a = F.col(src).cast("string")
    b = F.col(dst).cast("string")
    return (
        df.where(a.isNotNull() & b.isNotNull() & (a != b))
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )


def _interned_edges(
    df: DataFrame, src: str, dst: str
) -> "tuple[DataFrame, DataFrame]":
    """``(edges, names)``: distinct undirected edges on xxhash64 long ids
    (``a < b`` in long order) plus the id->name map for the final output
    join.  Long keys make every shuffle/join in the triangle and k-core
    pipelines compare 8-byte ints instead of strings — the same 2⁻⁶⁴
    pairwise-collision trust model as the CC operator
    (connected_components.py); counts are invariant to which total order
    the canonicalization uses.
    """
    s = F.col(src).cast("string")
    d = F.col(dst).cast("string")
    cleaned = df.where(s.isNotNull() & d.isNotNull() & (s != d)).select(
        s.alias("s"), d.alias("d")
    )
    # hashed feeds both outputs below; checkpoint it so the source is
    # scanned once total (not once per output's own checkpoint).
    hashed = truncate_lineage(
        cleaned.select(
            F.xxhash64("s").alias("hs"),
            F.xxhash64("d").alias("hd"),
            F.col("s"),
            F.col("d"),
        )
    )
    # Both outputs are referenced MANY times downstream (degrees,
    # orientation, wedge close, name join-back; k-core/k-truss rounds) —
    # materialize once, or Spark recomputes the whole derivation per
    # reference (measured live: the part co-purchase triangle plan
    # scanned the source parquet 70x before this checkpoint).
    edges = truncate_lineage(
        hashed.select(
            F.least("hs", "hd").alias("a"), F.greatest("hs", "hd").alias("b")
        )
        .distinct()
    )
    names = truncate_lineage(
        hashed.select(F.col("hs").alias("id"), F.col("s").alias("node"))
        .unionAll(hashed.select(F.col("hd").alias("id"), F.col("d").alias("node")))
        .distinct()
    )
    return edges, names


def triangle_count(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    max_broadcast_edges: int = 2_000_000,
) -> DataFrame:
    """Per-node triangle counts -> ``(node, n_triangles)``.

    Every node of the (cleaned) graph appears, isolated-in-triangles
    nodes with 0.  Each triangle {x, y, z} contributes 1 to each of its
    three nodes.

    >>> edges = spark.createDataFrame(
    ...     [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], ["from", "to"])
    >>> triangle_count(edges).orderBy("node").show()
    +----+-----------+
    |node|n_triangles|
    +----+-----------+
    |   a|          1|
    |   b|          1|
    |   c|          1|
    |   d|          0|
    +----+-----------+
    <BLANKLINE>
    """
    edges, names = _interned_edges(df, src, dst)
    return _triangle_count_interned(edges, names, max_broadcast_edges)


def _triangle_count_interned(
    edges: DataFrame, names: DataFrame, max_broadcast_edges: int
) -> DataFrame:
    """:func:`triangle_count` body over an already-interned (edges,
    names) pair — shared so composites (clustering_coefficient) intern
    once instead of running the checkpoint pipeline per consumer."""
    # Broadcast guard (round-9, mirrors ktruss._enumerate_triangles): the
    # wedge stream is the data-sized intermediate; under the budget (one
    # cheap count over the eagerly checkpointed edges) the E/V-sized
    # tables broadcast and the wedges are generated, closed and
    # partially-aggregated map-side in one stage.  Above it, sort-merge +
    # AQE with a packed-bitset wedge pre-filter: almost no wedge of a
    # sparse graph closes, so probing (v1, v2) against a bitmap of the
    # edge set drops the non-closers BEFORE the closing join's exchange
    # (false positives are removed by the exact join).
    n_edges = edges.count()
    bc_small = bool(max_broadcast_edges) and n_edges <= max_broadcast_edges
    bc = F.broadcast if bc_small else (lambda d: d)
    wedge_filter = None
    if not bc_small:
        from ..plans.runtime_filter import packed_bitset_prefilter

        wedge_filter = packed_bitset_prefilter(edges, ["a", "b"], n_edges)

    # Total order by (degree, id): bounds out-degree by O(sqrt(E)).
    deg = (
        edges.select(F.col("a").alias("nid"))
        .unionAll(edges.select(F.col("b").alias("nid")))
        .groupBy("nid")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("nid").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("nid").alias("b"), F.col("deg").alias("deg_b"))
    ranked = edges.join(bc(da), "a").join(bc(db), "b")
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )

    # Wedges centered on the low node u: unordered out-neighbor pairs
    # (v1 < v2 in long order dedups the pair) via a self-join on u; the
    # closing edge {v1, v2} is looked up in the canonical a<b edge table —
    # membership is orientation-free, so one equi-join closes the wedge.
    e1 = oriented.select(F.col("u"), F.col("v").alias("v1"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("v2"))
    wedges = e1.join(e2, "u").where(F.col("v1") < F.col("v2"))
    if wedge_filter is not None:
        wedges = wedge_filter(wedges, ["v1", "v2"])
    triangles = wedges.join(
        bc(edges), (F.col("v1") == F.col("a")) & (F.col("v2") == F.col("b"))
    ).select("u", "v1", "v2")

    per_node = (
        triangles.select(F.col("u").alias("nid"))
        .unionAll(triangles.select(F.col("v1").alias("nid")))
        .unionAll(triangles.select(F.col("v2").alias("nid")))
        .groupBy("nid")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        names.join(per_node, names["id"] == per_node["nid"], "left")
        .select("node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"))
    )


def clustering_coefficient(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    max_broadcast_edges: int = 2_000_000,
) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz 1998):
    ``lcc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1))``, 0.0 for
    degree < 2.  Returns ``(node, degree, n_triangles, lcc)``.

    Same cost shape as :func:`triangle_count` (one degree-oriented wedge
    enumeration, O(E^1.5) worst case) plus one extra degree aggregation
    — the wedge pipeline partitions by node id throughout.
    ``max_broadcast_edges`` is forwarded to the shared triangle pipeline
    (same default as :func:`triangle_count`; 0 disables the broadcast
    tier).

    >>> edges = spark.createDataFrame(
    ...     [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], ["from", "to"])
    >>> from pyspark.sql import functions as F
    >>> (clustering_coefficient(edges)
    ...  .select("node", "degree", "n_triangles", F.round("lcc", 2).alias("lcc"))
    ...  .orderBy("node").show())
    +----+------+-----------+----+
    |node|degree|n_triangles| lcc|
    +----+------+-----------+----+
    |   a|     2|          1| 1.0|
    |   b|     2|          1| 1.0|
    |   c|     3|          1|0.33|
    |   d|     1|          0| 0.0|
    +----+------+-----------+----+
    <BLANKLINE>
    """
    # Intern ONCE and share with the triangle pipeline (r9-opt: the old
    # shape ran the full _interned_edges checkpoint chain twice — once
    # here for degrees, once inside triangle_count).
    edges, names = _interned_edges(df, src, dst)
    deg = (
        edges.select(F.col("a").alias("nid"))
        .unionAll(edges.select(F.col("b").alias("nid")))
        .groupBy("nid")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # Forward the caller's guard instead of re-hardcoding the default
    # (r10, ADVICE): keeps the composite's broadcast budget in step with
    # triangle_count's and lets callers disable the broadcast path.
    tri = _triangle_count_interned(edges, names, max_broadcast_edges)
    named_deg = names.join(deg, names["id"] == deg["nid"]).select("node", "degree")
    d = F.col("degree").cast("double")
    return (
        named_deg.join(tri, "node")
        .select(
            "node",
            "degree",
            "n_triangles",
            F.when(
                F.col("degree") >= 2,
                2.0 * F.col("n_triangles").cast("double") / (d * (d - 1.0)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def clustering_coefficient_sql(edge_sql: str) -> str:
    """DuckDB oracle replicating :func:`clustering_coefficient`: the
    orientation-free triangle oracle joined with distinct-neighbor
    degrees."""
    return f"""
WITH tri_counts AS ({triangle_count_sql(edge_sql)}),
raw AS ({edge_sql}),
e AS (
  SELECT DISTINCT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,
                  greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b
  FROM raw
  WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
),
deg AS (
  SELECT node, count(*)::BIGINT AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
)
SELECT d.node, d.degree, t.n_triangles,
       CASE WHEN d.degree >= 2
            THEN 2.0 * t.n_triangles / (d.degree::DOUBLE * (d.degree - 1))
            ELSE 0.0 END AS lcc
FROM deg d JOIN tri_counts t ON t.node = d.node
"""


def triangle_count_sql(edge_sql: str) -> str:
    """DuckDB oracle replicating :func:`triangle_count` over an edge
    subquery producing columns ``(src, dst)``.  Orientation-free: counts
    each triangle once via a < b < c string order — triangle counts are
    invariant to the enumeration order, so the oracle can use the simple
    formulation while Spark uses the degree-ordered one."""
    return f"""
WITH raw AS ({edge_sql}),
e AS (
  SELECT DISTINCT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,
                  greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b
  FROM raw
  WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
per AS (
  SELECT node, count(*)::BIGINT AS c FROM (
    SELECT x AS node FROM tri UNION ALL
    SELECT y FROM tri UNION ALL
    SELECT z FROM tri
  ) GROUP BY node
)
SELECT n.node, coalesce(per.c, 0)::BIGINT AS n_triangles
FROM nodes n LEFT JOIN per ON per.node = n.node
"""


def square_count(df: DataFrame, src: str = "from", dst: str = "to") -> DataFrame:
    """Total 4-cycle (square) count -> one row ``(n_squares long)``.

    Squares via co-degree (the rectangle-counting identity): every
    unordered pair {x, y} with ``c = |N(x) ∩ N(y)|`` common neighbors
    closes ``C(c, 2)`` distinct 4-cycles, each counted once by its
    diagonal pair — so ``squares = Σ_pairs C(c,2) / 2`` (each square has
    two diagonals).  Adjacency of the pair is irrelevant (the square
    uses only the four rim edges).

    Cost is the wedge pipeline's Σ deg(w)² (same shape as
    ``link_prediction``); counts stay map-side-combinable.
    """
    edges, _ = _interned_edges(df, src, dst)
    adj = edges.select(F.col("a").alias("w"), F.col("b").alias("n")).unionAll(
        edges.select(F.col("b").alias("w"), F.col("a").alias("n"))
    )
    e1 = adj.select("w", F.col("n").alias("x"))
    e2 = adj.select("w", F.col("n").alias("y"))
    codeg = (
        e1.join(e2, "w")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Pure integer arithmetic end to end (Σ C(c,2) is even: each square
    # is seen by exactly two diagonals).
    return codeg.agg(
        F.coalesce(
            F.expr("sum(c * (c - 1) DIV 2) DIV 2"), F.lit(0).cast("long")
        ).alias("n_squares")
    )


def square_count_sql(edge_sql: str) -> str:
    """DuckDB oracle replicating :func:`square_count`."""
    return f"""
WITH raw AS ({edge_sql}),
e AS (
  SELECT DISTINCT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,
                  greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b
  FROM raw
  WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
),
adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
codeg AS (
  SELECT a1.n AS x, a2.n AS y, count(*)::BIGINT AS c
  FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.n < a2.n
  GROUP BY 1, 2
)
SELECT coalesce(sum(c * (c - 1) // 2) // 2, 0)::BIGINT AS n_squares
FROM codeg
"""


def degree_assortativity(
    df: DataFrame, src: str = "from", dst: str = "to"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) -> one row
    ``(assortativity double)``: the Pearson correlation of endpoint
    degrees over the mirrored distinct edge list (each undirected edge
    contributes both orientations, which symmetrizes the correlation —
    exactly Newman's formula).  Positive = hubs link to hubs (social
    graphs), negative = hubs link to leaves (internet/biology).

    One degree aggregation + two joins + a single ``corr`` aggregate —
    every step map-side combinable; rounded to 6 (correlation is a
    ratio of sums whose float order differs across engines).  NaN (all
    degrees equal, zero variance) is returned as NULL by both engines.
    """
    edges, _ = _interned_edges(df, src, dst)
    deg = (
        edges.select(F.col("a").alias("nid"))
        .unionAll(edges.select(F.col("b").alias("nid")))
        .groupBy("nid")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    mirrored = edges.select("a", "b").unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    da = deg.select(F.col("nid").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("nid").alias("b"), F.col("deg").alias("deg_b"))
    # Explicit population moments instead of corr(): ANSI mode makes
    # corr() raise DIVIDE_BY_ZERO on zero-variance (regular) graphs;
    # here that case yields NULL in both engines.
    m = (
        mirrored.join(da, "a")
        .join(db, "b")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("deg_a").cast("double")).alias("sx"),
            F.sum(F.col("deg_b").cast("double")).alias("sy"),
            F.sum((F.col("deg_a") * F.col("deg_b")).cast("double")).alias("sxy"),
            F.sum((F.col("deg_a") * F.col("deg_a")).cast("double")).alias("sxx"),
            F.sum((F.col("deg_b") * F.col("deg_b")).cast("double")).alias("syy"),
        )
    )
    cov = F.col("sxy") / F.col("n") - (F.col("sx") / F.col("n")) * (
        F.col("sy") / F.col("n")
    )
    vx = F.col("sxx") / F.col("n") - F.pow(F.col("sx") / F.col("n"), 2)
    vy = F.col("syy") / F.col("n") - F.pow(F.col("sy") / F.col("n"), 2)
    denom = F.sqrt(vx * vy)
    return m.select(
        F.round(
            F.when(denom > 0, cov / denom).otherwise(F.lit(None).cast("double")), 6
        ).alias("assortativity")
    )


def degree_assortativity_sql(edge_sql: str) -> str:
    """DuckDB oracle replicating :func:`degree_assortativity`."""
    return f"""
WITH raw AS ({edge_sql}),
e AS (
  SELECT DISTINCT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,
                  greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b
  FROM raw
  WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
),
deg AS (
  SELECT node, count(*)::BIGINT AS deg FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY node
),
mirrored AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
m AS (
  SELECT count(*)::DOUBLE AS n,
         sum(da.deg)::DOUBLE AS sx, sum(db.deg)::DOUBLE AS sy,
         sum(da.deg * db.deg)::DOUBLE AS sxy,
         sum(da.deg * da.deg)::DOUBLE AS sxx,
         sum(db.deg * db.deg)::DOUBLE AS syy
  FROM mirrored mm JOIN deg da ON da.node = mm.a JOIN deg db ON db.node = mm.b
)
SELECT round(
  CASE WHEN sqrt((sxx/n - (sx/n)*(sx/n)) * (syy/n - (sy/n)*(sy/n))) > 0
       THEN (sxy/n - (sx/n)*(sy/n))
            / sqrt((sxx/n - (sx/n)*(sx/n)) * (syy/n - (sy/n)*(sy/n)))
       ELSE NULL END, 6) AS assortativity
FROM m
"""


def edge_embeddedness(
    df: DataFrame,
    src: str = "from",
    dst: str = "to",
    *,
    decimals: int = 6,
    max_broadcast_edges: int = 2_000_000,
) -> DataFrame:
    """Per-edge embeddedness -> ``(a, b, n_common, strength)``: how many
    common neighbors each edge's endpoints share, plus the neighborhood
    Jaccard ``|N(a)∩N(b)| / |N(a)∪N(b) \\ {a,b}|`` — Granovetter's
    tie-strength readout (0-embedded edges are the weak ties / local
    bridges that carry novel information; dense embeddings mark
    redundant intra-community edges).

    Plan: common neighbors come from ONE wedge join of the symmetric
    adjacency with itself on the shared endpoint, semi-joined back to
    the edge set — the same wedge-bounded shape as the triangle
    counter, never an all-pairs neighborhood comparison; degrees attach
    by two broadcast-size joins.  Under ``max_broadcast_edges`` (round-9,
    the triangle/k-truss pattern; the edge count is observed on the
    edge checkpoint) the edge filter broadcasts and runs BEFORE the pair
    aggregation, so the data-sized wedge stream is generated, closed and
    partially aggregated map-side in one stage; above the budget the
    original aggregate-then-join order stands (same shuffle either way,
    and the pre-aggregation keeps its duplicate compression)."""
    edges, obs = observed(_canonical_edges(df, src, dst))
    edges = truncate_lineage(edges)
    n_edges = obs.get["n"]
    bc_small = bool(max_broadcast_edges) and n_edges <= max_broadcast_edges
    bc = F.broadcast if bc_small else (lambda d: d)
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # wedges through w: (x, w) and (y, w) both edges -> candidate pair
    # (x, y); keep only pairs that ARE edges (semi via inner join).
    w1 = sym.select(F.col("v").alias("w"), F.col("u").alias("x"))
    w2 = sym.select(F.col("v").alias("w"), F.col("u").alias("y"))
    wedge_pairs = w1.join(w2, "w").where(F.col("x") < F.col("y")).select(
        F.col("x").alias("a"), F.col("y").alias("b")
    )
    if bc_small:
        # close-first: only wedges that land on an actual edge reach the
        # aggregation (map-side filter against the broadcast edge table)
        common = (
            wedge_pairs.join(bc(edges), ["a", "b"])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("nc"))
        )
    else:
        # Above the budget, a packed-bitset pre-filter over the edge set
        # (round-9) drops the non-edge wedge pairs at map speed BEFORE
        # the aggregation's exchange; its false positives are removed by
        # the exact edge join after the count.
        from ..plans.runtime_filter import packed_bitset_prefilter

        wedge_filter = packed_bitset_prefilter(edges, ["a", "b"], n_edges)
        if wedge_filter is not None:
            wedge_pairs = wedge_filter(wedge_pairs, ["a", "b"])
        common = (
            wedge_pairs.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("nc"))
            .join(edges, ["a", "b"])
        )
    nc = F.coalesce("nc", F.lit(0))
    # |N(a) ∪ N(b) \ {a,b}| = deg(a) + deg(b) − 2 − n_common (the edge
    # itself contributes b to N(a) and a to N(b); common neighbors are
    # counted twice in the degree sum).
    union_sz = F.col("_da") + F.col("_db") - F.lit(2) - nc
    strength = F.when(
        union_sz > 0, F.round(nc.cast("double") / union_sz, decimals)
    ).otherwise(F.lit(0.0))
    return (
        edges.join(bc(common), ["a", "b"], "left")
        .join(bc(deg.select(F.col("u").alias("a"), F.col("deg").alias("_da"))), "a")
        .join(bc(deg.select(F.col("u").alias("b"), F.col("deg").alias("_db"))), "b")
        .select("a", "b", nc.alias("n_common"), strength.alias("strength"))
    )


def edge_embeddedness_sql(edge_sql: str, *, decimals: int = 6) -> str:
    """DuckDB oracle for :func:`edge_embeddedness`."""
    return f"""
WITH raw AS ({edge_sql}),
e AS (
  SELECT DISTINCT least(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS a,
         greatest(CAST(src AS VARCHAR), CAST(dst AS VARCHAR)) AS b
  FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL
    AND CAST(src AS VARCHAR) <> CAST(dst AS VARCHAR)
),
sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY u),
common AS (
  SELECT w1.u AS a, w2.u AS b, count(*)::BIGINT AS nc
  FROM sym w1 JOIN sym w2 ON w1.v = w2.v AND w1.u < w2.u
  JOIN e ON e.a = w1.u AND e.b = w2.u
  GROUP BY 1, 2
)
SELECT e.a, e.b, coalesce(c.nc, 0) AS n_common,
       CASE WHEN da.deg + db.deg - 2 - coalesce(c.nc, 0) > 0
            THEN round(CAST(coalesce(c.nc, 0) AS DOUBLE)
                 / (da.deg + db.deg - 2 - coalesce(c.nc, 0)), {decimals})
            ELSE 0.0 END AS strength
FROM e
LEFT JOIN common c ON c.a = e.a AND c.b = e.b
JOIN deg da ON da.u = e.a
JOIN deg db ON db.u = e.b
"""
