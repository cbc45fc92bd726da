"""Physical-plan assertions — the scale properties the engine promises.

These tests pin the *plan shape*, not results: filter pushdown and column
pruning reach the parquet scan, small dimensions broadcast, JVM-only paths
contain no Python evaluation, and the IVF corpus map is shuffle-free.  A
regression here means a 100 TB run pays for it even though every
correctness test still passes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_grouper_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_pushdown_and_column_pruning(spark):
    df = (
        load_table(spark, "lineitem", SF_DIR)
        .where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    p = plan_str(df)
    assert "PushedFilters: [" in p and "GreaterThan(l_quantity" in p, p
    # ReadSchema shrank to the two referenced columns.
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m is not None, p
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_dimension_join_broadcasts(spark):
    cust = load_table(spark, "customer", SF_DIR)
    orders = load_table(spark, "orders", SF_DIR)
    j = orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
    p = plan_str(j)
    assert "BroadcastHashJoin" in p, p


def test_text_stats_is_pure_jvm_and_tokenizes_once(spark):
    from polars_grouper_spark.functions import text as tx

    docs = load_table(spark, "documents", SF_DIR)
    df = tx.text_stats(docs)
    p = plan_str(df)
    assert "EvalPython" not in p, p  # no BatchEvalPython / ArrowEvalPython
    # The tokenizer (split+filter HOF) is referenced by three outputs but
    # must be evaluated once per row — staged projection, not inlined.
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(trim") == 1, opt


def test_language_id_tokenizes_once(spark):
    from polars_grouper_spark.functions import text as tx

    docs = load_table(spark, "documents", SF_DIR)
    opt = tx.language_id(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(trim") == 1, opt


def test_minhash_signatures_pure_jvm(spark):
    from polars_grouper_spark.functions.dedup import minhash_signatures

    docs = load_table(spark, "documents", SF_DIR)
    p = plan_str(minhash_signatures(docs))
    assert "EvalPython" not in p, p


def test_ivf_assignment_is_shuffle_free(spark):
    from polars_grouper_spark.functions.similarity import ivf_build

    emb = load_table(spark, "embeddings", SF_DIR)
    assignments, cents = ivf_build(emb, n_cells=4, lloyd_rounds=1)
    p = plan_str(assignments)
    # scan -> broadcast matrix row -> row-wise argmin: no Exchange at all.
    assert "Exchange" not in p.replace("BroadcastExchange", ""), p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p


def test_cosine_topk_broadcasts_queries(spark):
    from polars_grouper_spark.functions.similarity import cosine_topk

    emb = load_table(spark, "embeddings", SF_DIR)
    q = emb.where(F.col("vec_id") < 4)
    p = plan_str(cosine_topk(emb, q, k=3))
    assert "BroadcastNestedLoopJoin" in p, p
    # Only one shuffle: the per-query top-k window.
    n_shuffles = p.count("Arguments: hashpartitioning")
    assert n_shuffles <= 1, p


def test_asof_join_single_shuffle(spark):
    from polars_grouper_spark import asof_join

    ev = load_table(spark, "events", SF_DIR)
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    purch = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    p = plan_str(asof_join(purch, clicks, on="ts", by="user_id"))
    # union + ONE window shuffle on the by key — not a nested-loop join.
    assert "Join" not in p, p
    assert p.count("Arguments: hashpartitioning") == 1, p


def test_range_join_bucketed_is_equi_join(spark):
    from polars_grouper_spark import range_join

    facts = load_table(spark, "orders", SF_DIR)
    iv = spark.createDataFrame(
        [(float(i * 1000), float(i * 1000 + 5000)) for i in range(200)], ["lo", "hi"]
    )
    p = plan_str(
        range_join(facts, iv, "o_totalprice", strategy="bucketed", bucket_width=5000.0)
    )
    # The bucket id turns the range predicate into a hash-joinable key.
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "HashJoin" in p or "SortMergeJoin" in p, p


def test_events_scan_prunes_partitions_of_columns(spark):
    ev = load_table(spark, "events", SF_DIR).select("user_id").limit(1)
    p = plan_str(ev)
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m is not None, p
    assert "payload" not in m.group(1), m.group(1)


def test_tpch_q3_q5_broadcast_all_dimension_joins(spark):
    """The multi-join entries must plan every dimension join as a
    broadcast (no sort-merge anywhere) with filters pushed to the scans
    — the 100 TB snowflake shape."""
    import __spark_entry__ as entry_mod

    for name, n_bcast in [("tpch_q3", 2), ("tpch_q5", 5)]:
        df = entry_mod.queries()[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") == n_bcast, name
        assert "SortMergeJoin" not in plan, name


def test_feature_hashing_no_join_single_agg(spark):
    """Vocabulary-free vectorizer: explode + hash + ONE aggregation —
    no join anywhere (that's the whole point vs TF-IDF)."""
    from polars_grouper_spark.functions.features import feature_hashing

    docs = load_table(spark, "documents", SF_DIR)
    p = plan_str(feature_hashing(docs, "doc_id", "text", n_features=64))
    assert "Join" not in p, p
    assert "PythonUDF" not in p and "BatchEvalPython" not in p, p


def test_rolling_active_single_data_sized_shuffle(spark):
    """The DAU/WAU sweep's claim: ONE shuffle touches event-sized data
    (the (key, tick) distinct); everything after runs on per-key runs
    and per-tick aggregates.  Pinned as: no Python, no cartesian, and
    the event scan feeds exactly one Exchange before the run-detection
    window."""
    from polars_grouper_spark.operators.intervals import rolling_active_count

    ev = load_table(spark, "events", SF_DIR)
    act = ev.select("user_id", F.floor(F.unix_timestamp("ts") / 86400).alias("day"))
    p = plan_str(rolling_active_count(act, "user_id", "day", 7))
    assert "CartesianProduct" not in p and "PythonUDF" not in p, p
    # the (key, tick) distinct is materialized once: NO parquet re-scan
    # per consumer branch (the source is read zero times in this plan —
    # it hangs off the checkpointed distinct).
    assert p.count("Location: InMemoryFileIndex") == 0, p


def test_winsorize_threshold_join_broadcasts(spark):
    from polars_grouper_spark.functions.features import winsorize

    o = load_table(spark, "orders", SF_DIR)
    p = plan_str(winsorize(o, "o_orderpriority", "o_totalprice", "o_orderkey"))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_dup_spans_semi_join_on_hashes(spark):
    """The flag-back join must be a LeftSemi on the hash column — the
    shuffle carries 60-bit longs, never window text."""
    from polars_grouper_spark.functions.dedup import dup_spans

    docs = load_table(spark, "documents", SF_DIR)
    p = plan_str(dup_spans(docs, window=30, stride=7))
    assert "LeftSemi" in p, p
    assert "PythonUDF" not in p, p
    assert p.count("Location: InMemoryFileIndex") == 0, p  # window table materialized once


def test_markov_single_window_no_join(spark):
    from polars_grouper_spark.operators.sequences import markov_transitions

    ev = load_table(spark, "events", SF_DIR).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "event_type",
    )
    p = plan_str(markov_transitions(ev, "user_id", ["ts_us", "event_id"], "event_type"))
    assert "Join" not in p, p
    assert p.count("Location: InMemoryFileIndex") == 1, p


def test_fk_audit_and_knn_labels_scan_once(spark):
    """Multi-consumer operators materialize their shared slice once —
    consumers must NOT each re-scan the source (caught live: dup_spans,
    fk_audit and knn_label_check were re-reading the parquet 3-7x
    before the checkpoint landed)."""
    from polars_grouper_spark.functions.similarity import knn_label_check
    from polars_grouper_spark.functions.validate import fk_audit

    orders = load_table(spark, "orders", SF_DIR)
    cust = load_table(spark, "customer", SF_DIR)
    p = plan_str(fk_audit(orders, cust, "o_custkey", "c_custkey"))
    assert p.count("Location: InMemoryFileIndex") == 1, p  # parent only

    emb = load_table(spark, "embeddings", SF_DIR)
    p = plan_str(knn_label_check(emb, k=5))
    assert p.count("Location: InMemoryFileIndex") == 0, p


def test_tpch_batch5_plan_shapes(spark):
    """Round-5 TPC-H completion batch scale shapes: Q4's EXISTS plans
    as a LEFT SEMI join, Q21's EXISTS / NOT EXISTS as semi + anti (no
    cartesian anywhere), Q8 broadcasts every dimension of the snowflake,
    and Q6 pushes all scan predicates and prunes to four columns."""
    import re

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()

    def executed(name):
        df = qs[name](spark, SF_DIR)
        return df._jdf.queryExecution().executedPlan().toString()

    p4 = executed("tpch_q4")
    assert "LeftSemi" in p4 and "CartesianProduct" not in p4, p4

    p21 = executed("tpch_q21")
    assert "LeftSemi" in p21 and "LeftAnti" in p21, p21
    assert "CartesianProduct" not in p21, p21

    p8 = executed("tpch_q8")
    assert p8.count("BroadcastHashJoin") >= 5, p8
    assert "SortMergeJoin" not in p8 and "CartesianProduct" not in p8, p8

    p6 = plan_str(qs["tpch_q6"](spark, SF_DIR))
    assert "PushedFilters: [" in p6 and "l_quantity" in p6, p6
    m = re.search(r"ReadSchema: struct<([^>]*)>", p6)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


def test_tpch_q9_broadcasts_snowflake(spark):
    """Adapted Q9: part/supplier/nation broadcast; no sort-merge or
    cartesian anywhere."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["tpch_q9"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_triangle_closure_broadcasts_under_guard(spark):
    """Round-9: under max_broadcast_edges the wedge-closure pipeline must
    join its E/V-sized tables as broadcast-hash (the data-sized wedge
    stream stays map-side); with the budget at 0 the closure join must
    NOT broadcast (the at-scale sort-merge shape)."""
    from polars_grouper_spark.operators.triangles import triangle_count

    li = load_table(spark, "lineitem", SF_DIR)
    edges = li.select(
        F.concat(F.lit("S"), "l_suppkey").alias("from"),
        F.concat(F.lit("P"), "l_partkey").alias("to"),
    )
    p_small = plan_str(triangle_count(edges))
    assert "BroadcastHashJoin" in p_small, p_small

    p_big = plan_str(triangle_count(edges, max_broadcast_edges=0))
    # AQE may still broadcast tiny sides at runtime, but the static plan
    # must not carry our hint: the closure join stays sort-merge.
    assert "SortMergeJoin" in p_big, p_big


def _direct_fingerprint(df, *cols):
    return tuple(df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).collect()[0])


def test_observed_fingerprint_matches_direct_aggregate(spark):
    """``fingerprint(obs)`` read off an eager checkpoint equals the
    ``(count, bit_xor(xxhash64(cols)))`` aggregate computed directly: on a
    distinct pair table, on an empty frame (``(0, None)``), and on a
    ``rand()``-filtered frame, where the observed count is the row count
    of the checkpoint itself (one evaluation, not two)."""
    from polars_grouper_spark.plans.iteration import (
        fingerprint,
        observed,
        truncate_lineage,
    )

    pairs = spark.range(5000).select(
        (F.col("id") % 97).alias("u"),
        (F.col("id") % 89).cast("string").alias("v"),
    ).distinct()
    empty = pairs.where(F.col("u") < 0)
    for frame in (pairs, empty):
        obs_frame, obs = observed(frame, "u", "v")
        truncate_lineage(obs_frame)
        assert fingerprint(obs) == _direct_fingerprint(frame, "u", "v")
    assert fingerprint(obs) == (0, None)

    obs_frame, obs = observed(pairs.where(F.rand() < 0.5), "u", "v")
    cp = truncate_lineage(obs_frame)
    assert fingerprint(obs) == _direct_fingerprint(cp, "u", "v")
    assert obs.get["n"] == cp.count()
    assert 0 < obs.get["n"] < 5000


def _job_count(spark, action) -> int:
    """Spark jobs ``action`` launches: the gap between the ids of two
    marker jobs, each run in its own job group just before and after it.
    (The session's status store keeps only the last 100 jobs, so counting
    the retained jobs of one group would undercount a long loop.)"""
    import uuid

    sc = spark.sparkContext

    def marker() -> int:
        group = f"marker-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        (job_id,) = sc.statusTracker().getJobIdsForGroup(group)
        return job_id

    start = marker()
    action()
    return marker() - start - 1


def test_loop_scalars_ride_the_round_checkpoint(spark):
    """Spark jobs per call on one seeded 2,000-edge power-law graph, output
    collected, at local[4].  Before the loop scalars were observed on the
    round's checkpoint (the fingerprint ran its own aggregation, node
    counts their own count job, and PageRank joined each round to the
    previous ranks for its L1 diff) the same calls measured
    ``components(max_local_edges=0)`` 25 jobs, ``page_rank_nodes`` with 5
    fixed rounds 22 jobs, and converged (threshold 1e-6) 120 jobs."""
    import numpy as np

    from polars_grouper_spark import components, page_rank_nodes

    rng = np.random.default_rng(5)
    p = 1.0 / np.arange(1, 501)
    p /= p.sum()
    frm = rng.choice(500, 2000, p=p)
    to = rng.permutation(500)[rng.choice(500, 2000, p=p)]
    df = spark.createDataFrame(
        [(f"n{u}", f"n{v}") for u, v in zip(frm, to)], "`from` string, `to` string"
    )
    cc = _job_count(spark, lambda: components(df, max_local_edges=0).collect())
    fixed = _job_count(
        spark,
        lambda: page_rank_nodes(
            df, max_iterations=5, convergence_threshold=0.0
        ).collect(),
    )
    converged = _job_count(spark, lambda: page_rank_nodes(df).collect())
    assert cc < 25
    assert fixed < 22
    assert converged < 120
