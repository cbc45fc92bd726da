"""The Spark-engine layer split and the tracer hooks on known workloads."""

import time

import pytest

import hooks
import status


def _window(spark, body):
    store = status.StatusStore(spark)
    before = store.snapshot()
    t0 = time.time()
    body()
    t1 = time.time()
    return status.window_layers(before, store.snapshot(), t0, t1), t1 - t0


def test_driver_sleep_is_gap_not_run_time(spark):
    spark.range(10).count()

    def body():
        time.sleep(2.0)
        spark.range(10).count()

    layers, wall = _window(spark, body)
    assert 1.8 < layers["spark.gap_s"] <= wall
    assert layers["spark.run_s"] < 0.5
    assert layers["spark.plan_s"] >= 2.0
    assert layers["spark.jobs"] >= 1


def test_parallel_cpu_job_run_time_exceeds_wall(spark):
    def body():
        spark.range(0, 8 * 400_000, numPartitions=8).selectExpr(
            "bit_xor(xxhash64(sha2(cast(id as string), 256)))"
        ).collect()

    layers, wall = _window(spark, body)
    assert layers["spark.run_s"] > wall
    assert layers["spark.cpu_s"] > 0.0
    assert layers["spark.tasks"] >= 8


def test_evicted_records_fail_loudly(spark):
    """More jobs than the store retains between two snapshots must raise,
    never report the survivors as the whole window."""
    store = status.StatusStore(spark)
    before = store.snapshot()
    t0 = time.time()
    for _ in range(150):
        spark.sparkContext.parallelize([1], 1).count()
    after = store.snapshot()
    with pytest.raises(status.StoreEvicted):
        status.window_layers(before, after, t0, time.time())


def test_hooks_count_tier_and_rounds(spark):
    import polars_grouper_spark as pgs

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("c", "d")], ["from", "to"]
    )
    from polars_grouper_spark.operators import connected_components

    to_pandas = type(edges).toPandas
    resolve = connected_components.resolve_max_local_edges
    tracer = hooks.Hooks(spark)
    tracer.install()
    try:
        tracer.begin()
        pgs.components(edges).collect()
        local = tracer.end()
        tracer.begin()
        pgs.components(edges, max_local_edges=0).collect()
        dist = tracer.end()
    finally:
        tracer.uninstall()
    assert local["plans.tiering.guards"] == 1
    assert local["plans.tiering.local"] == 1
    assert local["plans.tiering.collect_rows"] == 4
    assert local["plans.iteration.rounds"] == 0
    assert dist["plans.tiering.local"] == 0
    assert dist["plans.iteration.rounds"] >= 2
    # The last round repeats the fingerprint of the one before it.
    assert dist["plans.iteration.useful_rounds"] == dist["plans.iteration.rounds"] - 1
    assert type(edges).toPandas is to_pandas
    assert connected_components.resolve_max_local_edges is resolve
