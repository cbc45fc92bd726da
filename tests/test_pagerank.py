"""Ported reference golden test for page_rank.

Reference: /root/reference/tests/test_graph_solver.py:14-40 — exact values
including the dangling-mass leak (sum of ranks ≪ 1).
"""

import pytest
from pyspark.sql import functions as F

from polars_grouper_spark import page_rank, page_rank_nodes


def _edges(spark, frm, to):
    return spark.createDataFrame(
        list(zip(frm, to)), schema="`from` string, `to` string"
    ).coalesce(1)


def test_page_rank_golden(spark):
    frm = ["A", "B", "C", "E", "F", "G", "I", "I", "AA"]
    to = ["B", "C", "D", "F", "G", "J", "K", "J", "Z"]
    df = _edges(spark, frm, to)
    out = page_rank(df, "from", "to", output_col="rank")
    got = {(r["from"], r["to"]): r["rank"] for r in out.collect()}
    expected_by_row = {
        ("A", "B"): 0.012500000000000002,
        ("B", "C"): 0.023125000000000007,
        ("C", "D"): 0.032156250000000004,
        ("E", "F"): 0.012500000000000002,
        ("F", "G"): 0.023125000000000007,
        ("G", "J"): 0.032156250000000004,
        ("I", "K"): 0.012500000000000002,
        ("I", "J"): 0.012500000000000002,
        ("AA", "Z"): 0.012500000000000002,
    }
    for k, v in expected_by_row.items():
        assert got[k] == pytest.approx(v, abs=1e-12), k


def test_page_rank_nodes_leak(spark):
    # A -> B: B's rank = base + d*base; dangling B leaks -> sum < 1.
    df = _edges(spark, ["A"], ["B"])
    scores = {r["node"]: r["score"] for r in page_rank_nodes(df).collect()}
    assert scores["A"] == pytest.approx(0.075, abs=1e-9)  # (1-0.85)/2
    assert scores["B"] == pytest.approx(0.075 + 0.85 * 0.075, abs=1e-9)
    assert sum(scores.values()) < 1.0


def test_page_rank_null_and_unknown_zero(spark):
    df = spark.createDataFrame(
        [("A", "B"), ("X", None)], schema="`from` string, `to` string"
    ).coalesce(1)
    out = page_rank(df, "from", "to", output_col="rank")
    got = {r["from"]: r["rank"] for r in out.collect()}
    assert got["X"] == 0.0
    assert got["A"] > 0.0


def test_page_rank_duplicate_edges_count(spark):
    # Duplicate A->B: outdeg(A)=3 (rows), B receives 2/3 of A's rank, C 1/3.
    df = _edges(spark, ["A", "A", "A"], ["B", "B", "C"])
    scores = {r["node"]: r["score"] for r in page_rank_nodes(df, max_iterations=1).collect()}
    base = 0.15 / 3
    assert scores["B"] == pytest.approx(base + 0.85 * (1 / 3) * (2 / 3), abs=1e-12)
    assert scores["C"] == pytest.approx(base + 0.85 * (1 / 3) * (1 / 3), abs=1e-12)


def test_weighted_pagerank_bias_and_parity(spark):
    """A 2x-heavier edge must pull more rank mass to its target, and the
    DataFrame loop must replay the SQL oracle exactly at round-8."""
    import duckdb

    from polars_grouper_spark.operators.pagerank import (
        weighted_page_rank_nodes,
        weighted_pagerank_sql,
    )
    from pyspark.sql import functions as F

    wedges = [("s", "heavy", 2.0), ("s", "light", 1.0), ("heavy", "s", 1.0),
              ("light", "s", 1.0)]
    df = spark.createDataFrame(wedges, ["from", "to", "weight"])
    out = weighted_page_rank_nodes(
        df, max_iterations=5, convergence_threshold=0.0
    ).select("node", F.round("score", 8).alias("score"))
    got = {r["node"]: r["score"] for r in out.collect()}
    assert got["heavy"] > got["light"]
    vals = ",".join(f"('{a}','{b}',{w!r})" for a, b, w in wedges)
    want = dict(
        duckdb.sql(
            weighted_pagerank_sql(
                f"SELECT * FROM (VALUES {vals}) t(src, dst, weight)", 5
            )
        ).fetchall()
    )
    assert got == want


def test_weighted_pagerank_drops_subunit_weights(spark):
    """Weights quantizing to 0 milli-units drop the edge entirely."""
    from polars_grouper_spark.operators.pagerank import weighted_page_rank_nodes

    df = spark.createDataFrame(
        [("a", "b", 0.0004), ("c", "d", 1.0)], ["from", "to", "weight"]
    )
    nodes = {r["node"] for r in weighted_page_rank_nodes(df, max_iterations=2).collect()}
    assert nodes == {"c", "d"}


def _power_law_edges(seed=11, n=300, m=1500):
    import numpy as np

    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, n + 1)
    p /= p.sum()
    src = rng.choice(n, m, p=p)
    dst = rng.permutation(n)[rng.choice(n, m, p=p)]
    return [f"n{u}" for u in src], [f"n{v}" for v in dst]


def _reference_power_iteration(frm, to, d=0.85, threshold=1e-6, max_iter=100):
    """numpy replica of the reference loop (``src/page_rank.rs:52-129``):
    dangling mass leaks, and the L1 norm of the update is checked after it
    is applied, then break (``:105-114``).  Returns (rounds run, scores)."""
    import numpy as np

    names = sorted(set(frm) | set(to))
    idx = {name: i for i, name in enumerate(names)}
    s = np.array([idx[x] for x in frm])
    t = np.array([idx[x] for x in to])
    n = len(names)
    outdeg = np.bincount(s, minlength=n).astype(float)
    rank = np.full(n, 1.0 / n)
    for k in range(1, max_iter + 1):
        new = np.full(n, (1.0 - d) / n)
        np.add.at(new, t, d * rank[s] / outdeg[s])
        diff = np.abs(new - rank).sum()
        rank = new
        if diff < threshold:
            break
    return k, dict(zip(names, rank))


def test_convergence_stops_on_reference_round(spark, monkeypatch):
    """The L1 diff observed on each round's checkpoint stops the loop on
    the reference's round k: the converged scores equal a fixed run of k
    rounds exactly, and the loop checkpointed once per round plus the two
    set-up checkpoints (pair table, node table) — no diff join."""
    import polars_grouper_spark.operators.pagerank as pr_mod

    frm, to = _power_law_edges()
    k, want = _reference_power_iteration(frm, to)
    assert 5 < k < 100
    df = _edges(spark, frm, to)

    checkpoints = []
    real = pr_mod.truncate_lineage

    def spy(frame, **kw):
        checkpoints.append(frame)
        return real(frame, **kw)

    monkeypatch.setattr(pr_mod, "truncate_lineage", spy)
    converged = dict(page_rank_nodes(df).collect())
    assert len(checkpoints) == k + 2
    monkeypatch.setattr(pr_mod, "truncate_lineage", real)

    fixed = dict(
        page_rank_nodes(df, max_iterations=k, convergence_threshold=0.0).collect()
    )
    assert converged == fixed
    assert converged.keys() == want.keys()
    for node, score in want.items():
        assert converged[node] == pytest.approx(score, rel=1e-9, abs=1e-12), node
