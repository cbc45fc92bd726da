"""Betweenness centrality — Brandes, parallelized over sources.

Reference parity: ``/root/reference/src/graph_betweenness_centrality.rs``
(textbook Brandes 2001, unweighted BFS variant) and
``/root/reference/polars_grouper/__init__.py:375-452``.

Semantics replicated exactly:

- Null endpoint drops the edge row; adjacency keeps duplicate edge rows —
  a duplicate edge multiplies shortest-path counts (``paths[w] += paths[v]``
  runs once per parallel edge, ``graph_betweenness_centrality.rs:80-92``),
  so the kernel tracks edge *multiplicities*.
- ``directed=False`` (default) mirrors each edge.
- Undirected scores are halved; ``normalized`` multiplies by
  ``1/((n-1)(n-2))`` directed or ``2/((n-1)(n-2))`` undirected, with n =
  total node count of the whole input (not per component).
- Output: ``(node string, centrality double)``, one row per interned node,
  ordered by first appearance.

Spark-first design: exact Brandes is one BFS per source — embarrassingly
parallel over sources.  Everything except the broadcast itself stays
executor-side:

- node interning is a distributed sort + ``zipWithIndex`` (no driver
  collect, no single-task window);
- edge→id conversion, undirected mirroring, and multiplicity counting are
  DataFrame joins/aggregations;
- the adjacency reaches the driver only in compact form — one
  ``(u, list<(v, m)>)`` row per node (``collect_list`` after the
  multiplicity groupBy) — solely to feed ``sparkContext.broadcast``;
- per-source dependency sums reduce with a key-partitioned sum and join
  back to the node table distributed; the result is never collected here.

The broadcast bounds the exact kernel to graphs whose adjacency fits in
executor memory (~10^7-10^8 edges) — the same single-machine regime as the
reference (O(V·E) time, ``__init__.py:439``).  Above
``auto_sample_threshold`` nodes the operator automatically switches to
Brandes–Pich source sampling (scores scaled by n/k, unbiased estimator);
pass ``sample_sources=`` to control k, or raise the threshold to force the
exact kernel.

Past the broadcast regime entirely,
:func:`betweenness_centrality_distributed` runs BOTH Brandes passes as
key-partitioned DataFrame joins (level-synchronous BFS forward, per-level
dependency accumulation backward) with no driver or broadcast adjacency —
O(S·V) state on the node key, 2×eccentricity rounds.  Exact parity with
this kernel is test- and oracle-asserted.
"""

from __future__ import annotations

import warnings

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_grouper_spark.plans.parallelism import local_result

from polars_grouper_spark.plans.iteration import observed, truncate_lineage


def _intern(df: DataFrame, from_col: str, to_col: str, directed: bool):
    """Shared front-end for both kernels: first-appearance interning
    (distributed sort + zipWithIndex) and the multiplicity-compressed pair
    table.  Returns ``(nid_map, pair_m, n)`` — ``pair_m`` is (u, v, m)
    after undirected mirroring; everything executor-side."""
    spark = df.sparkSession
    edges = df.select(
        F.col(from_col).cast("string").alias("src"),
        F.col(to_col).cast("string").alias("dst"),
        F.monotonically_increasing_id().alias("_i"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())

    endpoints = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("node"), (F.col("_i") * 2).alias("seen")),
                F.struct(F.col("dst").alias("node"), (F.col("_i") * 2 + 1).alias("seen")),
            )
        ).alias("x")
    ).select("x.node", "x.seen")
    first_seen = endpoints.groupBy("node").agg(F.min("seen").alias("seen"))
    # localCheckpoint (not persist): pins the nondeterministic zipWithIndex
    # assignment by cutting lineage, and its blocks are released by the
    # ContextCleaner when the result frame is garbage-collected — repeated
    # calls don't accumulate session-lifetime cache the way an explicit
    # persist() without unpersist() would.
    nid_map, obs = observed(
        spark.createDataFrame(
            first_seen.orderBy("seen").rdd.map(lambda r: r[0]).zipWithIndex(),
            schema="node string, nid long",
        )
    )
    nid_map = truncate_lineage(nid_map)
    n = obs.get["n"]
    if n == 0:
        return nid_map, None, 0

    u_map = F.broadcast(nid_map.select(F.col("node").alias("src"), F.col("nid").alias("u")))
    v_map = F.broadcast(nid_map.select(F.col("node").alias("dst"), F.col("nid").alias("v")))
    e_ids = edges.join(u_map, "src").join(v_map, "dst").select("u", "v")
    if not directed:
        e_ids = e_ids.union(e_ids.select(F.col("v").alias("u"), F.col("u").alias("v")))
    pair_m = e_ids.groupBy("u", "v").agg(F.count(F.lit(1)).alias("m"))
    return nid_map, pair_m, n


def _finalize(nid_map: DataFrame, sums: DataFrame, n: int, scale: float,
              directed: bool, normalized: bool) -> DataFrame:
    """Scale/halve/normalize as column expressions, sequenced exactly like
    the reference's scalar arithmetic (same float rounding)."""
    cent = F.coalesce(F.col("s"), F.lit(0.0)) * F.lit(scale)
    if not directed:
        cent = cent / F.lit(2.0)
    if normalized:
        nf = float(n)
        denom = (nf - 1.0) * (nf - 2.0)
        # n <= 2 divides by zero in the reference too (inf/nan mirrored).
        norm = (1.0 if directed else 2.0) / denom if denom != 0.0 else float("inf")
        cent = cent * F.lit(norm)
    return (
        nid_map.join(sums, "nid", "left")
        .withColumn("centrality", cent.cast("double"))
        .orderBy("nid")
        .select("node", "centrality")
    )


def betweenness_centrality(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    normalized: bool = True,
    directed: bool = False,
    sample_sources: int | None = None,
    auto_sample_threshold: int = 8192,
    max_broadcast_edges: int = 10_000_000,
) -> DataFrame:
    """Betweenness centrality for every node of the edge list ``df``.

    ``sample_sources=k`` runs Brandes–Pich estimation from ``k`` random
    sources (unbiased, scores scaled by ``n/k``) instead of exact Brandes.
    When it is left ``None`` and the graph exceeds ``auto_sample_threshold``
    nodes, sampling engages AUTOMATICALLY (a ``RuntimeWarning`` is emitted)
    — scores are then approximate, diverging from the reference's exact
    semantics; raise the threshold or pass ``sample_sources=n`` to force
    the exact kernel on larger graphs.

    Both kernels broadcast the compact adjacency to every executor, so the
    operator is bounded by adjacency size, not by source count.
    ``max_broadcast_edges`` guards that boundary: if the graph has more
    distinct (u, v) pairs (after undirected mirroring), the call raises
    ``ValueError`` *before* assembling the driver-side adjacency rather
    than OOMing the driver — dense graphs can cross memory limits while
    staying under the node-count threshold.  Raise it only with driver /
    executor memory to match (~50 bytes per pair).
    """
    spark = df.sparkSession
    nid_map, pair_m, n = _intern(df, from_col, to_col, directed)
    empty_schema = "node string, centrality double"
    if n == 0:
        return spark.createDataFrame([], schema=empty_schema)

    n_pairs = pair_m.count()
    if n_pairs > max_broadcast_edges:
        raise ValueError(
            f"betweenness_centrality: graph has {n_pairs:,} distinct (u, v) "
            f"pairs after {'directed' if directed else 'undirected'} expansion, "
            f"above max_broadcast_edges={max_broadcast_edges:,}. The Brandes "
            "kernel broadcasts the full adjacency to every executor; a graph "
            "this dense would exhaust driver/executor memory regardless of "
            "source sampling. Use betweenness_centrality_distributed (no "
            "driver/broadcast adjacency, O(diameter) rounds), reduce the "
            "graph, or raise max_broadcast_edges if memory allows "
            "(~50 bytes/pair)."
        )

    # Compact adjacency: ONE row per node with its neighbor list — the only
    # driver materialization, required to feed sparkContext.broadcast.
    adj_rows = (
        pair_m.groupBy("u")
        .agg(F.collect_list(F.struct("v", "m")).alias("nbrs"))
        .collect()
    )
    adj_lists: list[list[tuple[int, int]]] = [[] for _ in range(n)]
    for r in adj_rows:
        adj_lists[r["u"]] = [(x["v"], x["m"]) for x in r["nbrs"]]
    bc_adj = spark.sparkContext.broadcast(adj_lists)

    if sample_sources is None and n > auto_sample_threshold:
        warnings.warn(
            f"betweenness_centrality: {n:,} nodes exceeds auto_sample_threshold="
            f"{auto_sample_threshold:,}; switching to Brandes-Pich source "
            f"sampling ({auto_sample_threshold:,} sources, unbiased estimate "
            "scaled by n/k). Scores are now APPROXIMATE. Pass sample_sources="
            f"{n} or raise auto_sample_threshold to force exact Brandes.",
            RuntimeWarning,
            stacklevel=2,
        )
        sample_sources = auto_sample_threshold
    n_chunks = max(1, spark.sparkContext.defaultParallelism * 2)
    if sample_sources is not None and sample_sources < n:
        import random

        rng = random.Random(42)
        source_ids = rng.sample(range(n), sample_sources)
        scale = n / float(sample_sources)
        src_df = local_result(
            spark,
            [(s, s % n_chunks) for s in source_ids],
            "source long, chunk long",
        )
    else:
        scale = 1.0
        src_df = spark.range(n).select(
            F.col("id").alias("source"), (F.col("id") % n_chunks).alias("chunk")
        )

    def brandes_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        from collections import deque

        adj_local = bc_adj.value
        nn = len(adj_local)
        cent = [0.0] * nn
        for source in pdf["source"]:
            source = int(source)
            sigma = [0] * nn
            distv = [-1] * nn
            preds: list[list[tuple[int, int]]] = [[] for _ in range(nn)]
            sigma[source] = 1
            distv[source] = 0
            order = []
            q = deque([source])
            while q:
                v = q.popleft()
                order.append(v)
                dv = distv[v]
                for w, m in adj_local[v]:
                    if distv[w] < 0:
                        distv[w] = dv + 1
                        q.append(w)
                    if distv[w] == dv + 1:
                        sigma[w] += sigma[v] * m
                        preds[w].append((v, m))
            delta = [0.0] * nn
            for w in reversed(order):
                sw = sigma[w]
                coeff_base = (1.0 + delta[w]) / sw if sw else 0.0
                for v, m in preds[w]:
                    delta[v] += m * sigma[v] * coeff_base
                if w != source:
                    cent[w] += delta[w]
        nz = [(i, c) for i, c in enumerate(cent) if c != 0.0]
        if not nz:
            return pd.DataFrame({"nid": pd.Series([], dtype="int64"), "delta": pd.Series([], dtype="float64")})
        return pd.DataFrame({"nid": [i for i, _ in nz], "delta": [c for _, c in nz]})

    partials = src_df.groupBy("chunk").applyInPandas(brandes_chunk, "nid long, delta double")
    sums = partials.groupBy("nid").agg(F.sum("delta").alias("s"))
    return _finalize(nid_map, sums, n, scale, directed, normalized)


def betweenness_centrality_distributed(
    df: DataFrame,
    from_col: str = "from",
    to_col: str = "to",
    normalized: bool = True,
    directed: bool = False,
    sample_sources: int | None = None,
    max_depth: int = 128,
) -> DataFrame:
    """Brandes betweenness with NO driver-side or broadcast adjacency —
    the >10^8-edge regime the exact kernel's ``max_broadcast_edges`` guard
    points at.

    Both Brandes passes run as key-partitioned DataFrame joins over the
    multiplicity-compressed pair table, all sources advancing
    simultaneously (the same all-sources-at-once trick as
    ``calculate_shortest_path``):

    - forward: level-synchronous BFS — per round, frontier ⋈ edges, path
      counts combine map-side (``sigma[w] += m * sigma[v]`` summed over
      parallel discoverers), anti-join against the visited set keeps only
      newly reached (source, node) pairs.  Rounds = eccentricity ≤ diameter.
    - backward: dependency accumulation level by level descending —
      ``delta[v] = Σ_succ m · sigma[v]/sigma[w] · (1 + delta[w])`` is a
      join of the level-d node set with the (already final) level-d+1
      deltas, again map-side-combinable.  Rounds = same depth count.

    State is O(S·V) rows partitioned on the node key (S = sampled source
    count); nothing graph-sized touches the driver.  Sigma counts are
    spark ``long``: graphs with > 2^63 shortest paths between a pair will
    overflow where the in-memory kernel's Python bignums do not —
    documented deviation, irrelevant below astronomic path counts.

    Same output contract and arithmetic as :func:`betweenness_centrality`
    (first-appearance order, duplicate-edge multiplicities, undirected
    halving, whole-graph n normalization); ``sample_sources=k`` gives the
    Brandes–Pich n/k-scaled estimate.  Result parity with the exact
    kernel is asserted in ``tests/test_betweenness.py``.
    """
    spark = df.sparkSession
    nid_map, pair_m, n = _intern(df, from_col, to_col, directed)
    if n == 0:
        return spark.createDataFrame([], schema="node string, centrality double")
    edges = truncate_lineage(pair_m)

    if sample_sources is not None and sample_sources < n:
        import random

        rng = random.Random(42)
        ids = rng.sample(range(n), sample_sources)
        scale = n / float(sample_sources)
        src = local_result(spark, [(s,) for s in ids], "s long")
    else:
        scale = 1.0
        src = spark.range(n).select(F.col("id").alias("s"))

    # ---- forward pass: visited (s, v, dist, sigma) --------------------
    frontier = truncate_lineage(
        src.select("s", F.col("s").alias("v"), F.lit(1).cast("long").alias("sigma"))
    )
    visited = frontier.select("s", "v", F.lit(0).alias("dist"), "sigma")
    levels = [frontier]  # per-depth (s, v, sigma) — reused by the backward pass
    depth = 0

    def _expand(front: DataFrame, seen: DataFrame) -> DataFrame:
        cand = (
            front.join(edges, front["v"] == edges["u"])
            .select("s", edges["v"].alias("v"), (F.col("sigma") * F.col("m")).alias("c"))
            .groupBy("s", "v")
            .agg(F.sum("c").alias("sigma"))
        )
        # Lazy checkpoint: the termination probe starts materializing the
        # chain (remaining partitions complete when visited/levels consume
        # them).
        return truncate_lineage(
            cand.join(seen.select("s", "v"), ["s", "v"], "left_anti"),
            cache=False,
        )

    # r9-opt: TWO BFS levels per termination probe.  The level-d+1 and
    # level-d+2 expansions chain lazily and one isEmpty materializes
    # both — half the per-round driver sync barriers of probing every
    # level, with identical state (level d+2's anti-join sees visited
    # THROUGH d+1, preserving the level-synchronous invariant; sigma at
    # d+2 sums only final d+1 sigmas).  When the probe finds d+2 empty,
    # d+1 (already materialized by the same job) may still hold the
    # final level.
    while depth < max_depth:
        new1 = _expand(frontier, visited)
        visited1 = truncate_lineage(
            visited.unionByName(
                new1.select("s", "v", F.lit(depth + 1).alias("dist"), "sigma")
            ),
            cache=False,
        )
        if depth + 2 > max_depth:
            if new1.isEmpty():
                break
            depth += 1
            levels.append(new1)
            visited = visited1
            frontier = new1
            continue
        new2 = _expand(new1, visited1)
        if new2.isEmpty():
            if not new1.isEmpty():
                depth += 1
                levels.append(new1)
                visited = visited1
            break
        depth += 2
        levels.append(new1)
        levels.append(new2)
        visited = truncate_lineage(
            visited1.unionByName(
                new2.select("s", "v", F.lit(depth).alias("dist"), "sigma")
            ),
            cache=False,
        )
        frontier = new2

    # ---- backward pass: delta per (s, v), deepest level first ---------
    # Successor relation: (s, v) -> (s, w) along edge (v, w, m) with
    # dist(s, w) == dist(s, v) + 1; levels[] already partitions visited by
    # depth, so each round joins exactly the two adjacent levels.
    sums = None
    delta_next = None  # (s, v, delta) for level d+1
    for d in range(depth - 1, -1, -1):
        nxt = levels[d + 1].select(
            "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w")
        )
        if delta_next is not None:
            nxt = nxt.join(
                delta_next.select("s", F.col("v").alias("w"), "delta"),
                ["s", "w"],
                "left",
            )
        else:
            nxt = nxt.withColumn("delta", F.lit(None).cast("double"))
        nxt = nxt.select(
            "s", "w",
            ((1.0 + F.coalesce(F.col("delta"), F.lit(0.0))) / F.col("sigma_w")).alias("coeff"),
        )
        cur = levels[d].select("s", "v", "sigma")
        delta_cur = (
            cur.join(edges, cur["v"] == edges["u"])
            .select("s", cur["v"].alias("v"), "sigma", edges["v"].alias("w"), "m")
            .join(nxt, ["s", "w"])
            .select("s", "v", (F.col("m") * F.col("sigma") * F.col("coeff")).alias("part"))
            .groupBy("s", "v")
            .agg(F.sum("part").alias("delta"))
        )
        # Lazy: both consumers (the final sum and the next level's join)
        # share the same checkpoint blocks, computed once on first use.
        delta_cur = truncate_lineage(delta_cur, cache=False)
        contrib = delta_cur.where(F.col("v") != F.col("s"))
        sums = contrib if sums is None else sums.unionByName(contrib)
        delta_next = delta_cur

    if sums is None:
        sums = local_result(spark, [], "s long, v long, delta double")
    totals = sums.groupBy("v").agg(F.sum("delta").alias("s")).withColumnRenamed("v", "nid")
    return _finalize(nid_map, totals, n, scale, directed, normalized)
