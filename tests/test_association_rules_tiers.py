"""Dual-tier identity for graph_association_rules.

Under the default guard the item-scale tail (top-5, lift, patterns, row
order) runs on the driver from one collect; ``max_local_edges=0`` keeps
it distributed.  Both tiers must return the same rows in the same order:
exact on everything except the weighted lift, a float sum whose order
differs between tiers (1e-12 relative).
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from polars_grouper_spark import graph_association_rules
from polars_grouper_spark.plans.tiering import MAX_LOCAL_EDGES_CONF
from test_skew import _skewed_transactions
from test_tiering import _instrument

# (transactions, items, frequencies, kwargs) — the golden inputs of
# tests/test_association_rules.py.
_GOLDEN = {
    "structure": (
        [1, 1, 1, 2, 2, 3], ["A", "B", "C", "B", "D", "A"],
        [1.0, 2.0, 1.0, 1.0, 1.0, 1.0],
        dict(min_support=0.1, min_confidence=0.1, weighted=True),
    ),
    "single_item": ([1, 2, 3], ["A", "A", "A"], [1.0] * 3, {}),
    "min_support": (
        [1, 1, 2, 3, 4], ["A", "B", "B", "C", "C"], [1.0] * 5,
        dict(min_support=0.5),
    ),
    "weighted": (
        [1, 1, 2, 2], ["A", "B", "A", "B"], [1.0, 2.0, 2.0, 1.0],
        dict(weighted=True),
    ),
    "oversized_tx": (
        [1] * 51, [f"item_{i}" for i in range(1, 52)], [1.0] * 51,
        dict(max_itemset_size=50, min_support=0.0, min_confidence=0.0),
    ),
    "confidence_quirk": (
        [1, 1, 2, 2, 2], ["A", "B", "A", "B", "C"], [1.0] * 5,
        dict(min_support=0.0, min_confidence=0.0, weighted=False),
    ),
    "two_patterns": (
        [1, 1, 2, 2], ["A", "B", "X", "Y"], [1.0] * 4,
        dict(min_support=0.0, min_confidence=0.0),
    ),
    "duplicates": (
        [1, 1, 2, 2], ["A", "B", "A", "B"], [1.0] * 4,
        dict(min_support=0.0, min_confidence=0.0),
    ),
}


def _tx(spark, txs, items, freqs):
    return spark.createDataFrame(
        list(zip(txs, items, freqs)),
        schema="transaction_id long, item_id string, frequency double",
    ).coalesce(1)


def _weighted_frame(spark):
    """Weighted baskets with varying frequencies: 80 transactions over 14
    items, repeated items inside a transaction (each row counts), and
    frequencies spread so confidences tie only sometimes."""
    rng = random.Random(7)
    rows = []
    for tx in range(80):
        for _ in range(rng.randint(1, 6)):
            item = f"w{min(int(rng.expovariate(0.3)), 13):02d}"
            rows.append((tx, item, rng.choice([0.5, 1.0, 1.5, 2.0, 3.25])))
    return spark.createDataFrame(
        rows, schema="transaction_id long, item_id string, frequency double"
    ).coalesce(1)


def _assert_tiers_identical(df, *, weighted, **kwargs):
    local = graph_association_rules(df, weighted=weighted, **kwargs).collect()
    dist = graph_association_rules(
        df, weighted=weighted, max_local_edges=0, **kwargs
    ).collect()
    exact = ("item", "support", "pattern", "consequents", "confidence_scores")
    assert [tuple(r[c] for c in exact) for r in local] == [
        tuple(r[c] for c in exact) for r in dist
    ]
    for lr, dr in zip(local, dist):
        if weighted:
            assert math.isclose(
                lr["lift_score"], dr["lift_score"], rel_tol=1e-12, abs_tol=0.0
            ), lr["item"]
        else:
            assert lr["lift_score"] == dr["lift_score"], lr["item"]
    return local


@pytest.mark.parametrize("with_patterns,skew_safe", [(True, False), (False, True)])
@pytest.mark.parametrize("case", sorted(_GOLDEN))
def test_golden_inputs_tiers_identical(spark, case, with_patterns, skew_safe):
    txs, items, freqs, kwargs = _GOLDEN[case]
    kwargs = dict(kwargs)
    weighted = kwargs.pop("weighted", False)
    _assert_tiers_identical(
        _tx(spark, txs, items, freqs),
        weighted=weighted,
        with_patterns=with_patterns,
        skew_safe=skew_safe,
        **kwargs,
    )


@pytest.mark.parametrize("with_patterns", [True, False])
@pytest.mark.parametrize("skew_safe", [False, True])
def test_hot_antecedent_tiers_identical(spark, with_patterns, skew_safe):
    rows = _assert_tiers_identical(
        _skewed_transactions(spark),
        weighted=False,
        min_support=0.0,
        min_confidence=0.0,
        with_patterns=with_patterns,
        skew_safe=skew_safe,
    )
    hot = next(r for r in rows if r["item"] == "hot")
    assert len(hot["consequents"]) == 5


@pytest.mark.parametrize("with_patterns", [True, False])
@pytest.mark.parametrize("skew_safe", [False, True])
def test_weighted_varying_frequencies_tiers_identical(spark, with_patterns, skew_safe):
    rows = _assert_tiers_identical(
        _weighted_frame(spark),
        weighted=True,
        min_support=0.0,
        min_confidence=0.2,
        with_patterns=with_patterns,
        skew_safe=skew_safe,
    )
    assert any(len(r["consequents"]) == 5 for r in rows)


@pytest.fixture
def unset_guard_conf(spark):
    spark.conf.unset(MAX_LOCAL_EDGES_CONF)
    yield spark
    spark.conf.unset(MAX_LOCAL_EDGES_CONF)


def test_default_guard_one_collect_no_count(unset_guard_conf, monkeypatch):
    """The driver tail is one gate: the guard decision comes from the
    checkpoint's observed row count (no count job) and the group and
    valid-item tables arrive in one collect."""
    spark = unset_guard_conf
    df = _skewed_transactions(spark)
    counts, collects = _instrument(monkeypatch)
    out = graph_association_rules(df, min_support=0.0, min_confidence=0.0)
    assert counts == []
    assert len(collects) == 1
    assert len(out.collect()) == 31


@pytest.mark.parametrize("via", ["argument", "conf"])
def test_guard_zero_never_collects(unset_guard_conf, monkeypatch, via):
    """``max_local_edges=0`` (or the session conf at 0) keeps the whole
    operator distributed: no driver collect anywhere, patterns included."""
    spark = unset_guard_conf
    df = _skewed_transactions(spark)
    kwargs = dict(min_support=0.0, min_confidence=0.0)
    if via == "argument":
        kwargs["max_local_edges"] = 0
    else:
        spark.conf.set(MAX_LOCAL_EDGES_CONF, "0")
    counts, collects = _instrument(monkeypatch)
    out = graph_association_rules(df, **kwargs)
    patterns = {r["pattern"] for r in out.select("pattern").collect()}
    assert collects == []
    assert counts == []
    assert patterns == {1}


def test_guard_between_groups_and_edges_uses_gate_for_patterns(spark, monkeypatch):
    """A guard below the group count but above the distinct-edge count
    sends the tail distributed while the pattern labels still solve on the
    driver — through the same gate: the one collect is the (a, c) edge
    table, and no count job runs."""
    # Per-transaction frequencies make almost every pair instance its own
    # (antecedent, consequent, confidence) group; 14 items bound the
    # distinct directed edges by 14 * 13.
    df = _weighted_frame(spark).withColumn(
        "frequency", F.col("frequency") + F.col("transaction_id") / 1000.0
    )
    kwargs = dict(min_support=0.0, min_confidence=0.0, weighted=True)
    counts, _ = _instrument(monkeypatch)
    from pyspark.sql.classic.dataframe import DataFrame as ConcreteDF

    collected: list[list[str]] = []
    to_pandas = ConcreteDF.toPandas

    def recording(self):
        collected.append(self.columns)
        return to_pandas(self)

    monkeypatch.setattr(ConcreteDF, "toPandas", recording)
    mid = graph_association_rules(df, max_local_edges=14 * 13, **kwargs).collect()
    assert counts == []
    assert collected == [["a", "c"]]
    dist = graph_association_rules(df, max_local_edges=0, **kwargs).collect()
    assert [tuple(r) for r in mid] == [tuple(r) for r in dist]
