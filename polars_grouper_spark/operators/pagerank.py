"""PageRank over edge-list DataFrames — Spark-native power iteration.

Reference parity: ``/root/reference/src/page_rank.rs:52-129`` and
``/root/reference/polars_grouper/__init__.py:158-243``.

Semantics replicated exactly:

- Directed graph as given; duplicate edge rows count (outdegree is the
  number of edge *rows* leaving a node, and each duplicate contributes to
  the target's incoming sum).
- Init 1/n for all interned nodes; per iteration
  ``new[v] = (1-d)/n + d * Σ_{u→v} rank[u]/outdeg(u)``.
- Dangling nodes (outdeg 0) leak their mass — no redistribution
  (``src/page_rank.rs:93-98``); the golden test encodes the leak.
- Convergence: L1 norm ``Σ|new-old| < threshold`` checked *after* the
  update is applied, then break (``:105-114``).
- Row-aligned output: score of each row's ``from`` node; null/unknown → 0.0.

Spark-first design: driver-side loop of key-partitioned joins/aggs — the
edges⋈ranks join shuffles on the node key, the per-target sum is a
map-side-combinable aggregation.  Lineage is truncated every round; in
convergence mode the round's L1 diff is observed on its checkpoint job.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_grouper_spark.plans.iteration import observed, truncate_lineage


_BROADCAST_NODES_MAX = 5_000_000  # ~100 MB of (string, double) rows


def page_rank_nodes(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    damping_factor: float = 0.85,
    max_iterations: int = 100,
    convergence_threshold: float = 1e-6,
) -> DataFrame:
    """Table variant: ``(node string, score double)`` for every interned node.

    When the rank state (O(V) rows) fits in executor memory — decided from
    the exact node count (≤ 5M) — it is broadcast into the per-iteration
    edges⋈ranks join, which removes the edge-side shuffle entirely: each
    round becomes a broadcast hash join over the cached edge blocks plus
    one map-side-combined sum.  At cluster scale with V beyond that, the
    shuffle join partitioned on the node key is the right plan and is kept.
    """
    edges = df.select(
        F.col(from_col).cast("string").alias("src"),
        F.col(to_col).cast("string").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())

    # Collapse parallel edges once, up front: k copies of (src, dst) are
    # exactly one edge of weight k (outdegree counts edge ROWS, and each
    # copy contributes rank/outdeg to the target — reference
    # ``src/page_rank.rs:68-75, :93-98``).  Real edge lists carry heavy
    # multiplicity (the supplier-part graph is ~7x at sf0.1), so every
    # iteration's join+sum then runs on the distinct-pair table instead of
    # the raw rows.  outdeg per src is recovered as a windowed sum(cnt)
    # over the collapsed pairs — that shuffle moves only the pair table,
    # never the raw rows, and happens once before the loop.
    pair_cnt = edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    edges_w = truncate_lineage(
        pair_cnt.select(
            "src",
            "dst",
            (F.col("cnt") / F.sum("cnt").over(Window.partitionBy("src"))).alias("w"),
        )
    )
    nodes, n = _node_table(edges_w)
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("score"))

    return _power_iteration(
        nodes, edges_w, n, damping_factor, max_iterations,
        convergence_threshold, n <= _BROADCAST_NODES_MAX,
    )


def _node_table(pairs: DataFrame) -> "tuple[DataFrame, int]":
    """Checkpointed node set of a ``(src, dst)`` pair table and its size,
    observed on the checkpoint job.  Built from the CHECKPOINTED pair
    table, not the raw edges (r9-opt): the raw rows are scanned once and
    the distinct dedups 2·|distinct pairs| rows, not 2·|raw rows| — same
    set either way (interning is membership-only, no order semantics)."""
    nodes, obs = observed(
        pairs.select(F.col("src").alias("node"))
        .union(pairs.select(F.col("dst").alias("node")))
        .distinct()
    )
    return truncate_lineage(nodes), obs.get["n"]


def _power_iteration(
    nodes: DataFrame,
    edges_w: DataFrame,
    n: int,
    damping_factor: float,
    max_iterations: int,
    convergence_threshold: float,
    broadcast_ranks: bool,
    final_checkpoint: bool = False,
) -> DataFrame:
    """The shared rank loop over a weighted pair table (src, dst, w).

    Each round is one plan (:func:`_round`) whose output carries the
    previous score next to the new one, so convergence mode reads the L1
    diff ``Σ|score - old|`` from an observation on the round's eager
    checkpoint — no join back to the previous ranks, no extra job.
    """
    base = (1.0 - damping_factor) / n
    # No checkpoint needed for the initial ranks: ``nodes`` is already
    # checkpointed and the projection on top of it is lineage-flat.
    ranks = nodes.select("node", F.lit(1.0 / n).alias("score"))
    for i in range(max_iterations):
        rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
        new_ranks = _round(edges_w, rank_side, ranks, base, damping_factor)
        if convergence_threshold > 0.0:
            new_ranks, obs = observed(
                new_ranks, d=F.sum(F.abs(F.col("score") - F.col("old")))
            )
            ranks = truncate_lineage(new_ranks)
            if obs.get["d"] < convergence_threshold:
                break
        else:
            # Fixed-iteration mode: eager checkpoint per round.  A
            # chained variant (checkpoint every 8th round, one final
            # action) was tried in r9 and REVERTED: the work stays
            # linear, but each broadcast round's build plans the whole
            # accumulated chain, and the driver-side planning gaps grew
            # past what the per-round checkpoint jobs cost — measured
            # 3.3 s (eager) vs 6.9-13 s (chained) for pagerank_sp at
            # sf0.1/local[32], with profile gaps of 3.2 s between jobs.
            #
            # The LAST round's checkpoint is skipped (r10): the caller's
            # first action materializes the returned frame anyway, so an
            # eager localCheckpoint there is one extra job + block write
            # per query for a plan that is only one round deep on top of
            # round N-1's checkpoint.  ``final_checkpoint=True`` keeps it
            # for callers whose returned lineage must not re-read scratch
            # state dropped right after the loop (the bucketed table).
            if final_checkpoint or i < max_iterations - 1:
                new_ranks = truncate_lineage(new_ranks)
            ranks = new_ranks
    return ranks.select("node", "score")


def _round(
    edges_w: DataFrame,
    rank_side: DataFrame,
    prev: DataFrame,
    base: float,
    damping_factor: float,
) -> DataFrame:
    """One power-iteration round as a plan: ``(node, score, old)``.

    ``prev`` (the previous ranks) joins the SAME aggregation that sums the
    edge contributions as one ``(c = 0.0, old = score)`` row per node: the
    zero keeps nodes without in-edges in the output (dangling-safe with no
    join back to the node table, so a round is exactly one shuffle), and
    ``old`` carries the previous score for the convergence check.  Tested
    directly for Exchange counts in ``tests/test_bucketing.py`` — the
    bucketed edge side must satisfy the join's required distribution with
    no shuffle."""
    contrib = edges_w.join(rank_side, edges_w["src"] == rank_side["node"]).select(
        F.col("dst").alias("node"),
        (F.col("score") * F.col("w")).alias("c"),
        F.lit(None).cast("double").alias("old"),
    )
    carry = prev.select("node", F.lit(0.0).alias("c"), F.col("score").alias("old"))
    return (
        contrib.unionAll(carry)
        .groupBy("node")
        .agg(
            (F.lit(base) + F.lit(damping_factor) * F.sum("c")).alias("score"),
            F.max("old").alias("old"),
        )
    )


def _shuffle_partitions(conf, default: int = 200) -> int:
    """spark.sql.shuffle.partitions as an int, tolerating platforms whose
    conf holds a non-numeric value (e.g. "auto")."""
    try:
        return int(conf.get("spark.sql.shuffle.partitions", str(default)))
    except (TypeError, ValueError):
        return default


def page_rank_nodes_bucketed(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    damping_factor: float = 0.85,
    max_iterations: int = 100,
    convergence_threshold: float = 1e-6,
) -> DataFrame:
    """:func:`page_rank_nodes` with the weighted pair table persisted as a
    bucketed+sorted table on ``src`` before the loop (``plans.bucketing``).

    This is the >5M-node regime plan: the rank state is too big to
    broadcast, so each round is a shuffle join — but with the edge side
    bucketed, Catalyst proves the scan already satisfies the join's
    required distribution and only the O(V) rank state moves per round.
    The O(E) edge table is shuffled exactly once (into the bucketed
    write), never again, regardless of iteration count.  Identical scores
    to :func:`page_rank_nodes` (same loop, same arithmetic).

    The bucketed table is internal scratch state under a per-call unique
    name, so concurrent calls in one session never clobber each other,
    and it is dropped before returning (safe — every loop round is
    eagerly ``localCheckpoint``-ed, so the returned frame's lineage no
    longer reads the table).
    """
    from polars_grouper_spark.plans.bucketing import bucket_table

    spark = df.sparkSession
    edges = df.select(
        F.col(from_col).cast("string").alias("src"),
        F.col(to_col).cast("string").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())

    # Collapse + checkpoint the pair table first, then intern nodes from
    # it (same shape as page_rank_nodes): one raw-edge scan
    # total, and the node distinct runs over distinct pairs, not raw
    # multiplicity.
    pair_cnt = truncate_lineage(
        edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    )
    nodes, n = _node_table(pair_cnt)
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("score"))

    edges_w = pair_cnt.select(
        "src",
        "dst",
        (F.col("cnt") / F.sum("cnt").over(Window.partitionBy("src"))).alias("w"),
    )
    # Size buckets to the rank state (the per-round shuffled side):
    # ~50k nodes per bucket, floored at 4, capped by the session's
    # shuffle parallelism.  A tiny graph in 32 buckets pays 32 tasks
    # of file overhead per round AND per write for no parallelism
    # gain (measured: the one-off bucketed write dominates the bench
    # query at sf0.1); a 100M-node graph caps at the configured
    # shuffle width, which a cluster operator sets in thousands.
    n_buckets = max(4, min(_shuffle_partitions(spark.conf), n // 50_000))
    table_name = f"pgs_pr_edges_{uuid.uuid4().hex[:12]}"
    edges_w = bucket_table(edges_w, table_name, "src", n_buckets=n_buckets, sort=True)
    try:
        return _power_iteration(
            nodes, edges_w, n, damping_factor, max_iterations,
            convergence_threshold, broadcast_ranks=False,
            # The scratch table is dropped below; the returned frame's
            # lineage must end at a checkpoint, not at the table scan.
            final_checkpoint=True,
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")


def page_rank(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    damping_factor: float = 0.85,
    max_iterations: int = 100,
    convergence_threshold: float = 1e-6,
    output_col: str = "pagerank",
) -> DataFrame:
    """Row-aligned reference behavior: df + score of each row's ``from``
    node (0.0 for null / never-interned nodes — ``src/page_rank.rs:118-128``).
    Usage example mirrors ``reference/README.md:95-112``:

    >>> from pyspark.sql import functions as F
    >>> df = spark.createDataFrame(
    ...     [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("D", "B")],
    ...     ["from", "to"])
    >>> page_rank(df).select(
    ...     "from", "to", F.round("pagerank", 4).alias("pagerank")
    ... ).orderBy("from", "to").show()
    +----+---+--------+
    |from| to|pagerank|
    +----+---+--------+
    |   A|  B|  0.3603|
    |   A|  C|  0.3603|
    |   B|  C|  0.2225|
    |   C|  A|  0.3797|
    |   D|  B|  0.0375|
    +----+---+--------+
    <BLANKLINE>
    """
    scores = page_rank_nodes(
        df, from_col, to_col, damping_factor, max_iterations, convergence_threshold
    ).select(F.col("node").alias("__node"), F.col("score").alias("__score"))
    return (
        df.join(scores, F.col(from_col).cast("string") == F.col("__node"), "left")
        .withColumn(output_col, F.coalesce(F.col("__score"), F.lit(0.0)))
        .drop("__node", "__score")
    )


def personalized_page_rank(
    df: DataFrame,
    sources: "list[str]",
    from_col: str = "from",
    to_col: str = "to",
    damping_factor: float = 0.85,
    max_iterations: int = 20,
) -> DataFrame:
    """Personalized PageRank (random walk with restart): the teleport
    mass returns to ``sources`` (uniformly) instead of all nodes —
    ``new[v] = (1-d)·p(v) + d·Σ_{u→v} rank[u]·w(u,v)`` with
    ``p(v) = 1/|S|`` for source nodes, else 0; rank initialised to ``p``.

    Beyond-reference extension of :func:`page_rank_nodes` (same edge
    semantics: duplicate rows weight the edge, dangling mass leaks).
    Used for seed-node relevance/recommendation queries; fixed-iteration
    only (PPR is usually consumed at a fixed walk depth).  Returns
    ``(node string, score double)`` for every interned node.

    Scale shape is identical to ``page_rank_nodes``: the weighted pair
    table shuffles once up front, each round is one map-side-combinable
    aggregation, rank state broadcast while V ≤ 5M.
    """
    if not sources:
        raise ValueError("personalized_page_rank requires at least one source")
    edges = df.select(
        F.col(from_col).cast("string").alias("src"),
        F.col(to_col).cast("string").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())

    pair_cnt = edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    edges_w = truncate_lineage(
        pair_cnt.select(
            "src",
            "dst",
            (F.col("cnt") / F.sum("cnt").over(Window.partitionBy("src"))).alias("w"),
        )
    )
    nodes, n = _node_table(edges_w)
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("score"))

    d = damping_factor
    src_list = [str(s) for s in sources]
    p = F.when(
        F.col("node").isin(src_list), F.lit((1.0 - d) / len(src_list))
    ).otherwise(F.lit(0.0))
    # Teleport mass rides inside the same aggregation as the edge
    # contributions: final = p + d·Σc = d·(Σc + p/d), so one row of
    # p/d per node doubles as the all-nodes zero guard.
    base_rows = nodes.select("node", (p / d).alias("c"))
    ranks = nodes.select(
        "node",
        F.when(F.col("node").isin(src_list), F.lit(1.0 / len(src_list)))
        .otherwise(F.lit(0.0))
        .alias("score"),
    )
    broadcast_ranks = n <= _BROADCAST_NODES_MAX
    for i in range(max_iterations):
        rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
        ranks = (
            edges_w.join(rank_side, edges_w["src"] == rank_side["node"])
            .select(F.col("dst").alias("node"), (F.col("score") * F.col("w")).alias("c"))
            .unionAll(base_rows)
            .groupBy("node")
            .agg((F.lit(d) * F.sum("c")).alias("score"))
        )
        # Fixed-depth walk: eager checkpoint per round (chaining
        # reverted with _power_iteration's — see the note there: the
        # broadcast build plans the accumulated chain and driver gaps
        # outgrew the per-round checkpoint jobs).
        ranks = truncate_lineage(ranks)
    return ranks


def weighted_page_rank_nodes(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    weight_col: str = "weight",
    damping_factor: float = 0.85,
    max_iterations: int = 100,
    convergence_threshold: float = 1e-6,
) -> DataFrame:
    """Edge-weighted PageRank -> ``(node string, score double)``: the
    transition probability u→v is ``weight(u,v) / Σ_w weight(u,w)``
    instead of ``1/outdeg`` — the citation-strength / traffic-volume
    variant.  Weights quantize to milli-units (``(w*1000) as long`` —
    the repo's reference convention) so the per-source totals are exact
    integers in both engines and the only float is the final ``q/total``
    division; parallel edges sum their weights; null or sub-milli
    (< 0.001) weights drop the edge (it could never be walked).

    Same plan shape as :func:`page_rank_nodes`: the pair table collapses
    once up front, each round is one key-partitioned join + one
    map-side-combinable sum.
    """
    q = (F.col(weight_col).cast("double") * 1000.0).cast("long")
    edges = (
        df.where(
            F.col(from_col).isNotNull()
            & F.col(to_col).isNotNull()
            & F.col(weight_col).isNotNull()
        )
        .select(
            F.col(from_col).cast("string").alias("src"),
            F.col(to_col).cast("string").alias("dst"),
            q.alias("q"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("q").alias("q"))
        .where(F.col("q") > 0)
    )
    edges_w = truncate_lineage(
        edges.select(
            "src",
            "dst",
            (
                F.col("q").cast("double")
                / F.sum("q").over(Window.partitionBy("src")).cast("double")
            ).alias("w"),
        )
    )
    nodes, n = _node_table(edges_w)
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("score"))

    return _power_iteration(
        nodes, edges_w, n, damping_factor, max_iterations,
        convergence_threshold, n <= _BROADCAST_NODES_MAX,
    )


def weighted_pagerank_sql(edge_sql: str, iters: int, d: float = 0.85) -> str:
    """DuckDB oracle replaying :func:`weighted_page_rank_nodes` for a
    fixed iteration count; ``edge_sql`` yields ``(src, dst, weight)``."""
    parts = [
        f"WITH raw AS ({edge_sql})",
        ", e AS (SELECT CAST(src AS VARCHAR) AS src, CAST(dst AS VARCHAR) AS dst,"
        " sum(CAST(CAST(weight AS DOUBLE) * 1000.0 AS BIGINT)) AS q"
        " FROM raw WHERE src IS NOT NULL AND dst IS NOT NULL AND weight IS NOT NULL"
        " GROUP BY 1, 2"
        " HAVING sum(CAST(CAST(weight AS DOUBLE) * 1000.0 AS BIGINT)) > 0)",
        ", ew AS (SELECT src, dst, CAST(q AS DOUBLE)"
        " / CAST(sum(q) OVER (PARTITION BY src) AS DOUBLE) AS w FROM e)",
        ", nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        ", n AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        ", r0 AS (SELECT node, 1.0 / (SELECT n FROM n) AS score FROM nodes)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        parts.append(
            f", c{i} AS (SELECT ew.dst AS node, sum(r.score * ew.w) AS inc "
            f"FROM ew JOIN {prev} r ON ew.src = r.node GROUP BY ew.dst)"
        )
        parts.append(
            f", r{i} AS (SELECT nd.node, "
            f"(1.0 - {d}) / (SELECT n FROM n) + {d} * coalesce(c.inc, 0.0) AS score "
            f"FROM nodes nd LEFT JOIN c{i} c ON nd.node = c.node)"
        )
        prev = f"r{i}"
    parts.append(f" SELECT node, round(score, 8) AS score FROM {prev}")
    return "\n".join(parts)
