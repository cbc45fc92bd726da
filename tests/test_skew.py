"""Salting helpers: result parity with the unsalted plans on skewed data."""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_grouper_spark.plans.skew import salted_agg, salted_join


def _hub_graph(spark):
    """Extreme-hub graph: one node with 10_000 spokes (every spoke row
    lands on the hub's star key) plus disjoint 3-node chains."""
    spokes = spark.range(10_000).select(
        F.lit("hub").alias("from"), F.concat(F.lit("s"), "id").alias("to")
    )
    chains = spark.range(200).select(
        F.concat(F.lit("a"), "id").alias("from"), F.concat(F.lit("b"), "id").alias("to")
    ).union(
        spark.range(200).select(
            F.concat(F.lit("b"), "id").alias("from"),
            F.concat(F.lit("c"), "id").alias("to"),
        )
    )
    return spokes.union(chains)


def test_cc_skew_safe_parity_and_plan_on_hub_graph(spark, monkeypatch):
    """skew_safe=True must (a) produce the identical partition on an
    extreme-hub graph and (b) never plan a Window (no-partial-agg,
    hub-concentrating) in ANY star round — the per-node mins must come
    from a map-side-combinable HashAggregate + join instead."""
    from polars_grouper_spark.operators import connected_components as cc_mod
    from polars_grouper_spark.operators.connected_components import components

    df = _hub_graph(spark)

    round_plans: list[str] = []
    real_truncate = cc_mod.truncate_lineage

    def spy_truncate(frame, cache=False):
        # executedPlan() plans (without running) the full round lineage
        # that the lazy checkpoint is about to materialize.
        round_plans.append(frame._jdf.queryExecution().executedPlan().toString())
        return real_truncate(frame, cache=cache)

    monkeypatch.setattr(cc_mod, "truncate_lineage", spy_truncate)

    default = {r["node"]: r["component"] for r in components(df, max_local_edges=0).collect()}
    default_plans, round_plans = round_plans, []
    safe = {
        r["node"]: r["component"] for r in components(df, skew_safe=True, max_local_edges=0).collect()
    }
    safe_plans = round_plans

    assert safe == default
    # hub + 10_000 spokes + 3 * 200 chain nodes, all labeled
    assert len(safe) == 1 + 10_000 + 600

    assert any("Window" in p for p in default_plans), "default path should window"
    assert safe_plans and all("Window" not in p for p in safe_plans)
    assert any("HashAggregate" in p for p in safe_plans)

    # the skew-safe label-recovery plan (returned DF) is window-free too
    final_plan = (
        components(df, skew_safe=True, max_local_edges=0)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in final_plan


def _skewed(spark):
    # 10_000 rows on one hot key, a few cold keys.
    hot = spark.range(10_000).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    )
    cold = spark.range(50).select(
        F.concat(F.lit("c"), (F.col("id") % 5)).alias("k"), F.col("id").alias("v")
    )
    return hot.unionAll(cold)


def test_salted_agg_collect_list_parity(spark):
    df = _skewed(spark)
    plain = {
        r["k"]: sorted(r["vs"])
        for r in df.groupBy("k").agg(F.collect_list("v").alias("vs")).collect()
    }
    salted = salted_agg(
        df,
        ["k"],
        [F.collect_list("v").alias("vs_part")],
        lambda p: [F.flatten(F.collect_list("vs_part")).alias("vs")],
        n_salts=8,
    )
    got = {r["k"]: sorted(r["vs"]) for r in salted.collect()}
    assert got == plain


def test_salted_agg_count_distinct_parity(spark):
    df = _skewed(spark).withColumn("v", F.col("v") % 100)
    plain = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    salted = salted_agg(
        df,
        ["k"],
        [F.collect_set("v").alias("s_part")],
        lambda p: [
            F.size(F.array_distinct(F.flatten(F.collect_list("s_part")))).alias("n")
        ],
        n_salts=8,
    )
    got = {r["k"]: r["n"] for r in salted.collect()}
    assert got == plain


def _skewed_transactions(spark):
    """One hot item in every transaction (its association list is 100×
    anyone else's) plus a long tail; includes equal-confidence ties and
    duplicate (antecedent, consequent) pairs across transactions, which the
    reference accumulates WITHOUT dedup — the top-5 merge must keep them."""
    hot = spark.range(500).select(
        F.col("id").alias("transaction_id"), F.lit("hot").alias("item_id")
    )
    tail = spark.range(1500).select(
        (F.col("id") % 500).alias("transaction_id"),
        F.concat(F.lit("i"), F.col("id") % 30).alias("item_id"),
    )
    return hot.union(tail).withColumn("frequency", F.lit(1.0))


def test_assoc_skew_safe_top5_parity_and_plan(spark):
    """skew_safe=True must produce the identical association table on a
    hot-antecedent dataset, with NO Window in the executed plan (the
    default path windows on antecedent, concentrating the hot key).
    ``max_local_edges=0`` keeps the tail distributed — under the default
    guard it runs on the driver and the plan is a LocalTableScan."""
    from polars_grouper_spark.operators.association_rules import (
        graph_association_rules,
    )

    df = _skewed_transactions(spark)
    kwargs = dict(
        min_support=0.0, min_confidence=0.0, weighted=False, with_patterns=False,
        max_local_edges=0,
    )
    default = graph_association_rules(df, **kwargs)
    safe = graph_association_rules(df, skew_safe=True, **kwargs)

    def rows(frame):
        return [
            (r["item"], r["support"], r["lift_score"], r["consequents"],
             [round(c, 9) for c in r["confidence_scores"]])
            for r in frame.collect()
        ]

    assert rows(safe) == rows(default)

    default_plan = default._jdf.queryExecution().executedPlan().toString()
    safe_plan = safe._jdf.queryExecution().executedPlan().toString()
    assert "Window" in default_plan
    assert "Window" not in safe_plan
    assert "HashAggregate" in safe_plan


def test_assoc_skew_safe_weighted_parity(spark):
    """Weighted confidences exercise non-uniform ordering through the
    salted top-5 merge (distributed tail: ``max_local_edges=0``)."""
    from polars_grouper_spark.operators.association_rules import (
        graph_association_rules,
    )

    df = _skewed_transactions(spark).withColumn(
        "frequency", (F.xxhash64("transaction_id", "item_id") % 7 + 8) / 10.0
    )
    kwargs = dict(
        min_support=0.0, min_confidence=0.05, weighted=True, with_patterns=False,
        max_local_edges=0,
    )
    default = graph_association_rules(df, **kwargs).collect()
    safe = graph_association_rules(df, skew_safe=True, **kwargs).collect()
    assert [r.asDict() for r in safe] == [r.asDict() for r in default]


def test_salted_join_parity(spark):
    large = _skewed(spark)
    small = spark.createDataFrame(
        [("hot", 1.0), ("c1", 2.0), ("c3", 3.0)], ["k", "w"]
    )
    plain = sorted(
        (r["k"], r["v"], r["w"]) for r in large.join(small, "k").collect()
    )
    got = sorted(
        (r["k"], r["v"], r["w"]) for r in salted_join(large, small, ["k"], 8).collect()
    )
    assert got == plain


def test_salted_join_left_keeps_unmatched(spark):
    large = _skewed(spark)
    small = spark.createDataFrame([("hot", 1.0)], ["k", "w"])
    out = salted_join(large, small, ["k"], 4, how="left")
    assert out.where(F.col("w").isNull()).count() == 50
    assert out.count() == large.count()
