"""Deterministic random walks — reproducibility, termination at sinks,
seed sensitivity, DuckDB replay parity."""

import duckdb
import pytest

from polars_grouper_spark.operators.walks import random_walks, random_walks_sql


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def duck(edges, length, reps, seed):
    vals = ",".join(f"('{a}','{b}')" for a, b in edges)
    sql = random_walks_sql(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)", length, reps, seed
    )
    return sorted(tuple(r) for r in duckdb.sql(sql).fetchall())


def test_chain_walk_is_forced(spark):
    """Out-degree-1 chain: the walk path is the chain regardless of hash."""
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    got = rows(random_walks(spark.createDataFrame(edges, ["from", "to"]), walk_length=3))
    assert ("a#0", 0, "a") in got and ("a#0", 3, "d") in got


def test_walks_end_at_sinks(spark):
    """d has no out-edges: walks reaching d stop (no step rows past it)."""
    edges = [("a", "b"), ("b", "d")]
    got = rows(random_walks(spark.createDataFrame(edges, ["from", "to"]), walk_length=5))
    a_steps = [r for r in got if r[0] == "a#0"]
    assert [r[1] for r in a_steps] == [0, 1, 2]  # a, b, d then dead
    d_steps = [r for r in got if r[0] == "d#0"]
    assert d_steps == [("d#0", 0, "d")]


def test_deterministic_across_runs(spark):
    edges = [(f"n{(3 * i) % 11}", f"n{(5 * i + 1) % 11}") for i in range(30)]
    df = spark.createDataFrame(edges, ["from", "to"])
    a = rows(random_walks(df, walk_length=4, walks_per_node=2, seed=7))
    b = rows(random_walks(df, walk_length=4, walks_per_node=2, seed=7))
    assert a == b


def test_seed_changes_walks(spark):
    # out-degree 3 everywhere: genuinely branching
    edges = [
        (f"n{i}", f"n{(i + d) % 11}") for i in range(11) for d in (1, 3, 5)
    ]
    df = spark.createDataFrame(edges, ["from", "to"])
    a = rows(random_walks(df, walk_length=4, seed=1))
    b = rows(random_walks(df, walk_length=4, seed=2))
    assert a != b  # 11 starts x 4 branching steps: collision ~ impossible


def test_replica_walks_diverge(spark):
    """Different replicas from the same start take different turns
    (hash keyed on the replica)."""
    edges = [("s", "x"), ("s", "y"), ("x", "s"), ("y", "s")]
    df = spark.createDataFrame(edges, ["from", "to"])
    got = rows(random_walks(df, walk_length=1, walks_per_node=8))
    first_steps = {r[0]: r[2] for r in got if r[0].startswith("s#") and r[1] == 1}
    assert set(first_steps.values()) == {"x", "y"}


def test_duckdb_replay_parity(spark):
    edges = [(f"v{(5 * i) % 13}", f"v{(7 * i + 2) % 13}") for i in range(40)]
    df = spark.createDataFrame(edges, ["from", "to"])
    got = rows(random_walks(df, walk_length=4, walks_per_node=2, seed=3))
    assert got == duck(edges, 4, 2, 3)


def test_validation(spark):
    df = spark.createDataFrame([("a", "b")], ["from", "to"])
    with pytest.raises(ValueError, match="walk_length"):
        random_walks(df, walk_length=-1)
    with pytest.raises(ValueError, match="walks_per_node"):
        random_walks(df, walks_per_node=0)


# ---------------------------------------------------------------------------
# weighted_random_walks
# ---------------------------------------------------------------------------


def test_weighted_bias_dominant_edge(spark):
    """A 10^6:1 weight ratio: every replica takes the heavy edge."""
    from polars_grouper_spark.operators.walks import weighted_random_walks

    df = spark.createDataFrame(
        [("s", "h", 1000.0), ("s", "l", 0.001)], ["from", "to", "weight"]
    )
    picks = [
        r["node"]
        for r in weighted_random_walks(df, walk_length=1, walks_per_node=20)
        .where("step = 1 AND walk_id LIKE 's#%'")
        .collect()
    ]
    assert len(picks) == 20 and set(picks) == {"h"}


def test_weighted_subunit_weights_dropped(spark):
    """Weights quantizing to 0 (< 0.001) can never be chosen: the edge
    drops, and a node left without out-edges becomes a sink."""
    from polars_grouper_spark.operators.walks import weighted_random_walks

    df = spark.createDataFrame(
        [("a", "b", 0.0004), ("b", "c", 1.0)], ["from", "to", "weight"]
    )
    got = sorted(
        tuple(r)
        for r in weighted_random_walks(df, walk_length=3).collect()
    )
    # a only appears in the dropped edge -> never interned (SURVEY §1.3):
    # no walk starts there at all
    assert not any(w.startswith("a#") for w, _, _ in got)
    assert ("b#0", 1, "c") in got


def test_weighted_parallel_edges_sum(spark):
    """Two parallel 1.0 edges to x beat one 1.5 edge to y."""
    from polars_grouper_spark.operators.walks import weighted_random_walks

    df = spark.createDataFrame(
        [("s", "x", 1.0), ("s", "x", 1.0), ("s", "y", 1.5)],
        ["from", "to", "weight"],
    )
    picks = [
        r["node"]
        for r in weighted_random_walks(df, walk_length=1, walks_per_node=40)
        .where("step = 1 AND walk_id LIKE 's#%'")
        .collect()
    ]
    # 2.0 vs 1.5 odds: both appear, x more often
    assert picks.count("x") > picks.count("y") > 0


def test_weighted_duckdb_replay_parity(spark):
    from polars_grouper_spark.operators.walks import (
        weighted_random_walks,
        weighted_random_walks_sql,
    )

    edges = [
        (f"v{(5 * i) % 11}", f"v{(7 * i + 2) % 11}", ((3 * i) % 9 + 1) / 2.0)
        for i in range(40)
    ]
    df = spark.createDataFrame(edges, ["from", "to", "weight"])
    got = rows(weighted_random_walks(df, walk_length=4, walks_per_node=2, seed=5))
    vals = ",".join(f"('{a}','{b}',{w})" for a, b, w in edges)
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            weighted_random_walks_sql(
                f"SELECT * FROM (VALUES {vals}) t(src, dst, weight)", 4, 2, 5
            )
        ).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# node2vec_walks (second-order)
# ---------------------------------------------------------------------------


def _ring_edges():
    """Undirected 8-ring (both orientations): every node has 2 neighbors."""
    es = [(f"r{i}", f"r{(i + 1) % 8}") for i in range(8)]
    return es + [(b, a) for a, b in es]


def test_node2vec_return_bias(spark):
    """On a ring, step 2 chooses between backtracking (alpha=1000/p) and
    going on (prev not adjacent to the far neighbor: alpha=1000/q).
    Tiny p makes every walk backtrack; tiny q makes every walk march on."""
    from polars_grouper_spark.operators.walks import node2vec_walks

    df = spark.createDataFrame(_ring_edges(), ["from", "to"])

    def step2_backtracks(p, q):
        out = node2vec_walks(df, p=p, q=q, walk_length=2, seed=1)
        s1 = {r["walk_id"]: r["node"] for r in out.where("step = 1").collect()}
        s2 = {r["walk_id"]: r["node"] for r in out.where("step = 2").collect()}
        starts = {r["walk_id"]: r["node"] for r in out.where("step = 0").collect()}
        back = sum(1 for w in s2 if s2[w] == starts[w])
        return back, len(s2)

    back_loving, n = step2_backtracks(p=0.001, q=1000.0)
    assert back_loving == n  # always return
    back_avoiding, n2 = step2_backtracks(p=1000.0, q=0.001)
    assert back_avoiding == 0  # never return


def test_node2vec_uniform_equals_first_order_distribution(spark):
    """p=q=1 on a ring: step-1 choices are uniform over both neighbors
    (sanity: walks don't collapse to one direction)."""
    from polars_grouper_spark.operators.walks import node2vec_walks

    df = spark.createDataFrame(_ring_edges(), ["from", "to"])
    out = node2vec_walks(df, p=1.0, q=1.0, walk_length=1, walks_per_node=8)
    s1 = [r["node"] for r in out.where("step = 1").collect()]
    assert len(s1) == 64  # 8 starts x 8 replicas all advanced


def test_node2vec_duckdb_replay_parity(spark):
    from polars_grouper_spark.operators.walks import (
        node2vec_walks,
        node2vec_walks_sql,
    )

    edges = [(f"v{(5 * i) % 11}", f"v{(7 * i + 2) % 11}") for i in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    edges = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(edges, ["from", "to"])
    got = rows(node2vec_walks(df, p=0.5, q=2.0, walk_length=4,
                              walks_per_node=2, seed=7))
    vals = ",".join(f"('{a}','{b}')" for a, b in edges)
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            node2vec_walks_sql(
                f"SELECT * FROM (VALUES {vals}) t(src, dst)", 0.5, 2.0, 4, 2, 7
            )
        ).fetchall()
    )
    assert got == want


def test_starts_restricts_start_set(spark):
    edges = [(f"n{i}", f"n{(i + d) % 11}") for i in range(11) for d in (1, 3)]
    df = spark.createDataFrame(edges, ["from", "to"])
    got = rows(random_walks(df, walk_length=3, starts=["n0", "n5", "nope"]))
    start_rows = {r[2] for r in got if r[1] == 0}
    assert start_rows == {"n0", "n5"}  # absent node 'nope' never walks
    # restricted walks replay the unrestricted walks exactly (same hash key)
    full = rows(random_walks(df, walk_length=3))
    assert set(got) == {r for r in full if r[0].split("#")[0] in ("n0", "n5")}


def test_max_walks_caps_start_nodes(spark):
    edges = [(f"n{i}", f"n{(i + 1) % 11}") for i in range(11)]
    df = spark.createDataFrame(edges, ["from", "to"])
    got = rows(random_walks(df, walk_length=2, max_walks=3))
    starts = {r[2] for r in got if r[1] == 0}
    assert starts == {"n0", "n1", "n10"}  # 3 smallest node names


def test_colocated_walks_stay_independent(spark):
    """Two replicas forced onto the same node at step 1 still branch apart
    later (walk_id is in the hash key) — the ADVICE coalescing fix."""
    # b is the only neighbor of a, so a#0 and a#1 meet at b on step 1;
    # b then has out-degree 4, many steps of branching follow.
    edges = [("a", "b")] + [
        (f"m{i}", f"m{(i + d) % 13}") for i in range(13) for d in (1, 2, 5, 7)
    ] + [("b", "m0"), ("b", "m1"), ("b", "m2"), ("b", "m3")]
    df = spark.createDataFrame(edges, ["from", "to"])
    got = rows(random_walks(df, walk_length=6, walks_per_node=2, starts=["a"]))
    w0 = [r[2] for r in sorted(got) if r[0] == "a#0"]
    w1 = [r[2] for r in sorted(got) if r[0] == "a#1"]
    assert w0[:2] == w1[:2] == ["a", "b"]
    assert w0 != w1  # diverge after meeting despite identical (node, step)


def test_skipgram_pairs_hand_computed(spark):
    from polars_grouper_spark.operators.walks import skipgram_pairs

    walks = spark.createDataFrame(
        [("w1", 0, "a"), ("w1", 1, "b"), ("w1", 2, "c"), ("w2", 0, "a"), ("w2", 1, "b")],
        ["walk_id", "step", "node"],
    )
    got = {(r["center"], r["context"]): r["n_pairs"]
           for r in skipgram_pairs(walks, window=1).collect()}
    # window 1: (a,b)x2 walks, (b,c)x1 — symmetric
    assert got[("a", "b")] == 2 and got[("b", "a")] == 2
    assert got[("b", "c")] == 1 and got[("c", "b")] == 1
    assert ("a", "c") not in got
    wide = {(r["center"], r["context"]): r["n_pairs"]
            for r in skipgram_pairs(walks, window=2).collect()}
    assert wide[("a", "c")] == 1  # distance-2 pair appears at window 2


def test_skipgram_duckdb_parity(spark):
    import duckdb

    from polars_grouper_spark.operators.walks import skipgram_pairs, skipgram_pairs_sql

    rows = [(f"w{i % 3}", s, f"n{(i + s) % 5}") for i in range(9) for s in range(4)]
    df = spark.createDataFrame(rows, ["walk_id", "step", "node"])
    got = sorted(tuple(r) for r in skipgram_pairs(df, window=2).collect())
    vals = ",".join(f"('{w}',{s},'{n}')" for w, s, n in rows)
    want = sorted(duckdb.sql(skipgram_pairs_sql(
        f"SELECT * FROM (VALUES {vals}) t(walk_id, step, node)", 2)).fetchall())
    assert got == want


# --- guarded local tier (round 9): bit-identical to the distributed loop ---


def _rand_graph(spark, n_edges=400, n_nodes=60, weighted=False):
    from pyspark.sql import functions as F

    e = spark.range(n_edges).select(
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id"), F.lit(n_nodes))).alias("from"),
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id", F.lit(3)), F.lit(n_nodes))).alias("to"),
    )
    if weighted:
        e = e.withColumn(
            "weight", (F.pmod(F.xxhash64("from", "to"), F.lit(50)) + 1) / 10.0
        )
    return e


def test_uniform_local_tier_matches_distributed(spark):
    e = _rand_graph(spark)
    local = rows(random_walks(e, walk_length=4, walks_per_node=2, seed=5))
    dist = rows(
        random_walks(e, walk_length=4, walks_per_node=2, seed=5, max_local_edges=0)
    )
    assert local == dist and len(local) > 100


def test_weighted_local_tier_matches_distributed(spark):
    from polars_grouper_spark.operators.walks import weighted_random_walks

    e = _rand_graph(spark, weighted=True)
    local = rows(weighted_random_walks(e, walk_length=4, walks_per_node=2, seed=9))
    dist = rows(
        weighted_random_walks(
            e, walk_length=4, walks_per_node=2, seed=9, max_local_edges=0
        )
    )
    assert local == dist and len(local) > 100


def test_node2vec_local_tier_matches_distributed(spark):
    from polars_grouper_spark.operators.walks import node2vec_walks

    e = _rand_graph(spark)
    local = rows(node2vec_walks(e, p=0.5, q=2.0, walk_length=3, seed=2))
    dist = rows(
        node2vec_walks(e, p=0.5, q=2.0, walk_length=3, seed=2, max_local_edges=0)
    )
    assert local == dist and len(local) > 50


def test_local_tier_respects_starts_and_max_walks(spark):
    e = _rand_graph(spark)
    kw = dict(walk_length=3, seed=7, starts=["v1", "v2", "v999"], max_walks=2)
    local = rows(random_walks(e, **kw))
    dist = rows(random_walks(e, **kw, max_local_edges=0))
    assert local == dist
    assert {r[0].split("#")[0] for r in local} <= {"v1", "v2"}


def test_local_tier_declines_dataframe_starts(spark):
    # DataFrame starts -> the tier must decline (no collect of the start
    # set); output still correct via the distributed path.
    e = _rand_graph(spark)
    starts = spark.createDataFrame([("v1",), ("v2",)], ["node"])
    got = rows(random_walks(e, walk_length=2, seed=1, starts=starts))
    want = rows(random_walks(e, walk_length=2, seed=1, starts=["v1", "v2"]))
    assert got == want


def test_walks_conf_zero_never_probes(spark, monkeypatch):
    # session kill switch: the tier gate must never run
    # (the distributed build's own eager adj checkpoint still does)
    from polars_grouper_spark.operators import walks as walks_mod
    from polars_grouper_spark.plans.tiering import MAX_LOCAL_EDGES_CONF

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("tier probe ran with the conf set to 0")

    monkeypatch.setattr(walks_mod, "tier_gate", boom)
    e = _rand_graph(spark)
    spark.conf.set(MAX_LOCAL_EDGES_CONF, "0")
    try:
        assert random_walks(e, walk_length=2, seed=1).count() > 0
    finally:
        spark.conf.unset(MAX_LOCAL_EDGES_CONF)
