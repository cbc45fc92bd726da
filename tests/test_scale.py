"""Marker-gated scale tests: measured, not asserted-from-plans.

Gated behind SPARK_GRAFT_SCALE=1 (minutes of wall-clock; the regular suite
stays fast).  Uses the same executor-side synthetic graph generators as
scripts/scale_probe.py — nothing driver-sized is ever built.

The load-bearing claims checked here:

- the star loop's round count is LOGARITHMIC in n even on a path graph
  (diameter = n - 1), the adversarial case where plain min-label
  propagation needs O(n) rounds — this is the Kiveris et al. guarantee
  SCALE.md cites;
- a skewed power-law multigraph converges in a handful of rounds and
  skew_safe=True produces the identical partition;
- the bucketed PageRank iteration plan over a REAL bucketed table at this
  size keeps exactly 2 Exchanges (rank side + aggregation), i.e. the O(E)
  edge side never re-shuffles inside the loop.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

pytestmark = [
    pytest.mark.scale,
    pytest.mark.skipif(
        os.environ.get("SPARK_GRAFT_SCALE") != "1",
        reason="scale tests run only with SPARK_GRAFT_SCALE=1",
    ),
]

PATH_NODES = 200_000
PL_EDGES = 2_000_000


def _path_edges(spark, n):
    return spark.range(n - 1, numPartitions=16).select(
        F.concat(F.lit("p"), F.col("id")).alias("from"),
        F.concat(F.lit("p"), F.col("id") + 1).alias("to"),
    )


def _power_law_edges(spark, n_edges, n_nodes, alpha=2.0):
    m = 1 << 30
    u1 = F.pmod(F.xxhash64("id"), F.lit(m)) / float(m)
    u2 = F.pmod(F.xxhash64("id", F.lit(7)), F.lit(m)) / float(m)
    return spark.range(n_edges, numPartitions=16).select(
        F.concat(F.lit("n"), (F.pow(u1, alpha) * n_nodes).cast("long")).alias("from"),
        F.concat(F.lit("n"), (F.pow(u2, alpha) * n_nodes).cast("long")).alias("to"),
    )


def _count_rounds(monkeypatch, fn):
    import polars_grouper_spark.operators.connected_components as cc_mod

    calls = {"n": 0}
    real = cc_mod.fingerprint

    def spy(df, *cols):
        calls["n"] += 1
        return real(df, *cols)

    monkeypatch.setattr(cc_mod, "fingerprint", spy)
    out = fn()
    return out, calls["n"]


def test_path_graph_rounds_logarithmic(spark, monkeypatch):
    """200k-node path (diameter 199_999): round count must be ~log n, far
    below any propagation-style bound.  Measured 15 at this size; 24
    leaves slack without ever admitting O(diameter) behavior."""
    from polars_grouper_spark import components

    edges = _path_edges(spark, PATH_NODES)
    res, rounds = _count_rounds(
        monkeypatch, lambda: components(edges).select("component").distinct().count()
    )
    assert res == 1  # a single component
    assert rounds <= 24, f"star loop took {rounds} rounds on a path graph"


def test_power_law_graph_converges_fast_and_skew_safe_matches(spark, monkeypatch):
    """2M-edge skewed multigraph: a handful of rounds; the skew-safe
    (window-free) plan must produce the identical component census."""
    from polars_grouper_spark import components

    edges = _power_law_edges(spark, PL_EDGES, PL_EDGES // 5)

    def census(skew_safe):
        return sorted(
            (r["n"],)
            for r in components(edges, skew_safe=skew_safe)
            .groupBy("component")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    default_census, rounds = _count_rounds(monkeypatch, lambda: census(False))
    assert rounds <= 10, f"power-law graph took {rounds} rounds"
    assert census(True) == default_census


def test_bucketed_pagerank_round_plan_at_scale(spark):
    """At 2M edges the live iteration plan over the real bucketed table
    still has exactly 2 Exchanges — the edge side never re-shuffles."""
    from pyspark.sql import Window

    from polars_grouper_spark.operators.pagerank import _round
    from polars_grouper_spark.plans.bucketing import bucket_table, exchange_count

    edges = _power_law_edges(spark, PL_EDGES, PL_EDGES // 5)
    pair = (
        edges.groupBy(F.col("from").alias("src"), F.col("to").alias("dst"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "src",
            "dst",
            (F.col("cnt") / F.sum("cnt").over(Window.partitionBy("src"))).alias("w"),
        )
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bt = bucket_table(pair, "scale_pr_round", "src", n_buckets=16)
        nodes = bt.select(F.col("src").alias("node")).distinct().localCheckpoint()
        n = nodes.count()
        ranks = nodes.select("node", F.lit(1.0 / n).alias("score"))
        plan = _round(bt, ranks, ranks, 0.15 / n, 0.85)
        assert exchange_count(plan) == 2
        # the round actually runs and conserves non-dangling mass shape
        assert plan.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS scale_pr_round")


def test_distributed_betweenness_at_scale(spark):
    """200k-edge skewed multigraph, 8 sampled sources: the no-broadcast
    kernel completes with joins only, and the hub end of the id range
    (power-law mass concentrates at low ids) dominates the scores."""
    from pyspark.sql import functions as F2

    from polars_grouper_spark import betweenness_centrality_distributed

    edges = _power_law_edges(spark, 200_000, 40_000)
    res = betweenness_centrality_distributed(
        edges, sample_sources=8, normalized=False
    )
    top = [
        int(r["node"][1:])
        for r in res.orderBy(F2.desc("centrality")).limit(20).collect()
    ]
    assert res.count() > 30_000  # all interned nodes covered
    # the heavy hitters live in the hub region of the id space
    assert sum(1 for n in top if n < 2_000) >= 15


def test_graph_mining_trio_on_skewed_graph(spark):
    """500k-edge hub-skewed multigraph: triangle counting with degree
    orientation completes despite the hub (Σdeg² would be quadratic in
    the hub degree without it), k-truss edges all survive inside the
    (k-1)-core node set, and hub nodes carry the triangle mass."""
    from polars_grouper_spark.operators.kcore import k_core
    from polars_grouper_spark.operators.ktruss import k_truss
    from polars_grouper_spark.operators.triangles import triangle_count

    edges = _power_law_edges(spark, 500_000, 100_000)
    tri = triangle_count(edges, "from", "to")
    total3 = tri.agg(F.sum("n_triangles")).first()[0]
    assert total3 % 3 == 0 and total3 > 0
    top = [
        int(r["node"][1:])
        for r in tri.orderBy(F.desc("n_triangles")).limit(20).collect()
    ]
    assert sum(1 for n in top if n < 2_000) >= 15

    core = k_core(edges, 3, "from", "to")
    core_nodes = {r["node"] for r in core.collect()}
    assert core.count() > 0
    truss = k_truss(edges, 4, "from", "to")  # 4-truss ⊆ 3-core
    truss_nodes = {
        x for r in truss.select("src", "dst").collect() for x in (r[0], r[1])
    }
    assert truss_nodes and truss_nodes <= core_nodes


def test_scc_giant_component_on_web_graph(spark):
    """500k-edge directed power-law graph: FW-BW finds one giant SCC plus
    a singleton fringe (the classic web bow-tie shape), and the invariant
    that every SCC label is a member of its own component holds."""
    from polars_grouper_spark.operators.scc import strongly_connected_components

    edges = _power_law_edges(spark, 500_000, 50_000)
    out = strongly_connected_components(edges, "from", "to", max_rounds=300)
    sizes = sorted(
        (int(r["n"]) for r in out.groupBy("scc").agg(
            F.count(F.lit(1)).alias("n")).collect()),
        reverse=True,
    )
    assert sizes[0] > 0.8 * sum(sizes)  # giant SCC dominates
    # label ∈ component (min member): self-rows exist for every scc label
    labels = out.where(F.col("node") == F.col("scc")).count()
    assert labels == out.select("scc").distinct().count()


def test_link_pred_hub_cap_bounds_wedges(spark):
    """On a hub-skewed graph the degree cap keeps candidate volume
    tractable, and capped scores are a subset-with-equal-or-lower-counts
    of exact scores."""
    from polars_grouper_spark.operators.link_prediction import link_scores

    edges = _power_law_edges(spark, 200_000, 50_000)
    capped = link_scores(edges, "from", "to", max_center_degree=32)
    n = capped.count()
    assert 0 < n  # produced candidates without enumerating hub wedges
    top = capped.orderBy(F.desc("common_neighbors")).limit(5).collect()
    assert all(r["jaccard"] <= 1.0 for r in top)


def test_walks_frontier_stays_o_starts_on_big_graph(spark):
    """1M-edge hub-skewed multigraph: a max_walks-seeded walk keeps its
    per-step frontier at O(starts) regardless of graph size (walks only
    die at sinks, never multiply), and node2vec completes with the same
    bound — the r4 scale-probe claim (SCALE.md 'Round-4 walks probe')
    as a regression test."""
    from polars_grouper_spark.operators.walks import node2vec_walks, random_walks

    edges = _power_law_edges(spark, 1_000_000, 100_000)
    starts = 20_000
    out = random_walks(
        edges, walk_length=6, walks_per_node=1, max_local_edges=0, max_walks=starts
    )
    per_step = {
        int(r["step"]): int(r["n"])
        for r in out.groupBy("step").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_step[0] == starts
    assert all(n <= starts for n in per_step.values())  # never multiplies
    assert per_step[6] > 0.9 * starts  # hub graph: few sinks, walks survive

    n2v = node2vec_walks(
        edges, p=2.0, q=0.5, walk_length=3, walks_per_node=1,
        max_local_edges=0, max_walks=5_000,
    )
    n2v_steps = {
        int(r["step"]): int(r["n"])
        for r in n2v.groupBy("step").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert n2v_steps[0] == 5_000 and all(n <= 5_000 for n in n2v_steps.values())


def test_mis_and_densest_on_skewed_graph(spark):
    """500k-edge hub-skewed multigraph: Luby MIS converges in O(log n)
    rounds with a valid independent+maximal set, and densest-subgraph
    peeling surfaces a subgraph denser than the whole graph — the r4
    symmetry-breaking/peeling operators at probe scale."""
    from polars_grouper_spark.operators.densest import densest_subgraph_rounds
    from polars_grouper_spark.operators.mis import maximal_independent_set

    edges = _power_law_edges(spark, 500_000, 100_000)
    out = maximal_independent_set(edges, "from", "to", max_rounds=40)
    counts = out.groupBy("in_mis").count().collect()
    by = {bool(r["in_mis"]): int(r["count"]) for r in counts}
    assert by.get(True, 0) > 0 and by.get(False, 0) > 0
    # spot-check independence on the MIS x edge join (distributed check)
    mis_nodes = out.where("in_mis").select(F.col("node").alias("from"))
    viol = (
        edges.join(mis_nodes, "from", "semi")
        .join(
            out.where("in_mis").select(F.col("node").alias("to")),
            "to",
            "semi",
        )
        .where(F.col("from") != F.col("to"))
        .count()
    )
    assert viol == 0

    rounds = densest_subgraph_rounds(
        edges, "from", "to", eps_num=3, eps_den=2, max_rounds=30
    ).collect()
    assert len(rounds) >= 2
    best = max(r["density"] for r in rounds)
    first = next(r["density"] for r in rounds if r["round"] == 0)
    assert best >= first  # peeling found (at least) the whole-graph density


def test_mst_and_coloring_on_skewed_graph(spark):
    """Round-5 scale gate: Borůvka MSF on a 500k-edge skewed weighted
    multigraph (forest size = V - components, verified via the CC
    operator) and greedy coloring on a 50k-edge slice (proper, palette
    <= maxdeg + 1 by MIS maximality)."""
    import time

    from polars_grouper_spark.operators.coloring import greedy_coloring
    from polars_grouper_spark.operators.connected_components import components
    from polars_grouper_spark.operators.mst import minimum_spanning_forest

    edges = _power_law_edges(spark, 500_000, 100_000).select(
        "from",
        "to",
        ((F.xxhash64("from", "to") % 1000 + 1000) / 400.0).alias("weight"),
    )
    t0 = time.time()
    msf = minimum_spanning_forest(edges, "from", "to", "weight")
    n_forest = msf.count()
    mst_sec = time.time() - t0
    nodes = (
        edges.select(F.col("from").alias("n"))
        .union(edges.select("to"))
        .distinct()
        .count()
    )
    n_comp = (
        components(edges, "from", "to").select("component").distinct().count()
    )
    assert n_forest == nodes - n_comp, "forest edge count must be V - k"

    small = _power_law_edges(spark, 50_000, 20_000)
    t0 = time.time()
    colors = greedy_coloring(small, "from", "to", max_colors=64)
    cmap = dict((r["node"], r["color"]) for r in colors.collect())
    color_sec = time.time() - t0
    # properness on the full edge list
    bad = (
        small.select(F.col("from").alias("a"), F.col("to").alias("b"))
        .where(F.col("a") != F.col("b"))
        .join(colors.select(F.col("node").alias("a"), F.col("color").alias("ca")), "a")
        .join(colors.select(F.col("node").alias("b"), F.col("color").alias("cb")), "b")
        .where(F.col("ca") == F.col("cb"))
        .count()
    )
    assert bad == 0, "monochromatic edges"
    print(
        f"mst: {n_forest} forest edges over {nodes} nodes in {mst_sec:.1f}s; "
        f"coloring: {max(cmap.values())} colors in {color_sec:.1f}s"
    )


def test_ppjoin_planted_recall_at_volume(spark):
    """Round-5 scale gate: exact-threshold Jaccard join at 200k docs x
    30 tokens (vocab 50k).  Every 100th doc gets a planted near-twin
    (one token swapped -> J = 29/31 ~ 0.935); at t = 0.9 the result
    must contain EXACTLY the planted pairs — the prefix filter is
    lossless and random 30-token docs over a 50k vocab can't reach
    J >= 0.9."""
    import time

    from polars_grouper_spark.functions.dedup import jaccard_threshold_join

    n_docs, n_tok, vocab = 200_000, 30, 50_000
    tok = (
        "concat('t', pmod(xxhash64(id, {j}), {v}))"
    )
    # twin of doc i (odd ids at i = 100k+1 ...) copies doc i-1's tokens,
    # swapping token 0 for a fresh one
    base_cols = ", ".join(
        tok.format(j=j, v=vocab) for j in range(n_tok)
    )
    docs = spark.range(n_docs, numPartitions=32).selectExpr(
        "id AS doc_id",
        f"concat_ws(' ', {base_cols}) AS text",
    )
    twins = spark.range(n_docs, numPartitions=32).where(
        "id % 100 = 0"
    ).selectExpr(
        f"id + {n_docs} AS doc_id",
        # same hashes as doc id, but token 0 replaced
        "concat_ws(' ', concat('x', id), "
        + ", ".join(tok.format(j=j, v=vocab) for j in range(1, n_tok))
        + ") AS text",
    )
    corpus = docs.unionAll(twins)
    t0 = time.time()
    pairs = jaccard_threshold_join(
        corpus, "doc_id", "text", t_num=9, t_den=10
    ).collect()
    dt = time.time() - t0
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    want = {(i, i + n_docs) for i in range(0, n_docs, 100)}
    assert got == want, (
        f"{len(got - want)} unexpected / {len(want - got)} missing pairs"
    )
    print(f"ppjoin: {len(got)} planted pairs over {n_docs + len(want)} docs in {dt:.1f}s")
