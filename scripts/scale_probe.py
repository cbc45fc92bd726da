"""Scale probe: run the flagship iterative operators on ~10^7-edge
synthetic graphs (generated executor-side via spark.range + hash mixing,
nothing driver-sized) and MEASURE the claims SCALE.md makes from plans:

- star-loop round count (Kiveris et al: O(log^2 n), independent of
  diameter — probed on a 5M-node PATH graph, the worst case for
  label propagation, and a skewed power-law multigraph);
- per-round shuffle read/write bytes (from the Spark UI REST API);
- bucketed PageRank: the one-off bucketed-write cost vs per-iteration
  cost, and the Exchange count of a live iteration round plan.

Usage::

    PYTHONPATH=/root/repo python scripts/scale_probe.py [edges] [path_nodes]

Prints one JSON object per probe; paste the numbers into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def build_session() -> SparkSession:
    """get_spark's configs + the UI (REST metrics source) + probe sizing."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.appName("scale-probe")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true")
        # Many-stage iterative loops (coloring = colors x MIS rounds x
        # stages) overflow the default retained-stage cap and EVICT
        # completed stages, making the ShuffleMeter's cumulative snapshot
        # go backwards (observed r9b: negative deltas).  Retain enough
        # for any probe in this suite.
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .getOrCreate()
    )


class ShuffleMeter:
    """Cumulative shuffle bytes across completed stages, via the UI REST API."""

    def __init__(self, spark: SparkSession):
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        self.url = f"{ui}/api/v1/applications/{app}/stages?status=complete"

    def snapshot(self) -> tuple[int, int]:
        with urllib.request.urlopen(self.url, timeout=30) as r:
            stages = json.load(r)
        return (
            sum(s.get("shuffleReadBytes", 0) for s in stages),
            sum(s.get("shuffleWriteBytes", 0) for s in stages),
        )


def power_law_edges(spark, n_edges: int, n_nodes: int, alpha: float = 2.0):
    """Skewed multigraph: endpoint = floor(V * u^alpha) with u uniform from
    a hash — degree mass concentrates at low node ids (hub skew)."""
    m = 1 << 30
    u1 = F.pmod(F.xxhash64("id"), F.lit(m)) / float(m)
    u2 = F.pmod(F.xxhash64("id", F.lit(7)), F.lit(m)) / float(m)
    return spark.range(n_edges, numPartitions=64).select(
        F.concat(F.lit("n"), (F.pow(u1, alpha) * n_nodes).cast("long")).alias("from"),
        F.concat(F.lit("n"), (F.pow(u2, alpha) * n_nodes).cast("long")).alias("to"),
    )


def path_edges(spark, n_nodes: int):
    """One path of n_nodes (diameter = n_nodes - 1): the adversarial case
    for O(diameter) label propagation; Kiveris should stay logarithmic."""
    return spark.range(n_nodes - 1, numPartitions=64).select(
        F.concat(F.lit("p"), F.col("id")).alias("from"),
        F.concat(F.lit("p"), F.col("id") + 1).alias("to"),
    )


def probe_cc(spark, meter, edges, label: str, skew_safe: bool = False) -> dict:
    import polars_grouper_spark.operators.connected_components as cc_mod
    from polars_grouper_spark import components

    rounds: list[dict] = []
    real_fp = cc_mod.fingerprint
    last = {"t": None}

    def spy_fp(*args):
        # fingerprint only reads the round's observation, so time the
        # whole round: the interval since the previous fingerprint call
        # (the first round's since the call started).
        out = real_fp(*args)
        now = time.time()
        rd, wr = meter.snapshot()
        rec = {"fp_sec": round(now - last["t"], 2), "read_b": rd, "write_b": wr}
        last["t"] = now
        rounds.append(rec)
        return out

    cc_mod.fingerprint = spy_fp
    try:
        t0 = last["t"] = time.time()
        start_rd, start_wr = meter.snapshot()
        res = components(edges, skew_safe=skew_safe)
        n_nodes = res.count()
        n_comp = res.select("component").distinct().count()
        wall = time.time() - t0
    finally:
        cc_mod.fingerprint = real_fp

    per_round = []
    prev_rd, prev_wr = start_rd, start_wr
    for rec in rounds:
        per_round.append(
            {
                "round_read_mb": round((rec["read_b"] - prev_rd) / 1e6, 1),
                "round_write_mb": round((rec["write_b"] - prev_wr) / 1e6, 1),
                "fp_sec": rec["fp_sec"],
            }
        )
        prev_rd, prev_wr = rec["read_b"], rec["write_b"]
    return {
        "probe": f"cc_{label}",
        "skew_safe": skew_safe,
        "rounds": len(rounds),
        "nodes": n_nodes,
        "components": n_comp,
        "wall_sec": round(wall, 1),
        "per_round_shuffle": per_round,
    }


def probe_pagerank_bucketed(spark, meter, edges, iters: int = 5) -> dict:
    import polars_grouper_spark.operators.pagerank as pr_mod
    import polars_grouper_spark.plans.bucketing as bk_mod
    from polars_grouper_spark.plans.bucketing import exchange_count

    timings = {"bucket_write_sec": None, "iter_secs": []}
    real_bucket = bk_mod.bucket_table
    real_trunc = pr_mod.truncate_lineage
    marks = {"t": None}

    def spy_bucket(df, name, col, **kw):
        t0 = time.time()
        out = real_bucket(df, name, col, **kw)
        # force the write cost separate from iteration cost
        timings["bucket_write_sec"] = round(time.time() - t0, 2)
        marks["t"] = time.time()
        return out

    def spy_trunc(df, **kw):
        out = real_trunc(df, **kw)
        now = time.time()
        if marks["t"] is not None:
            timings["iter_secs"].append(round(now - marks["t"], 2))
        marks["t"] = now
        return out

    bk_mod.bucket_table = spy_bucket
    pr_mod.truncate_lineage = spy_trunc
    try:
        t0 = time.time()
        rd0, wr0 = meter.snapshot()
        res = pr_mod.page_rank_nodes_bucketed(
            edges, max_iterations=iters, convergence_threshold=0.0
        )
        total = res.agg(F.sum("score")).first()[0]
        n = res.count()
        wall = time.time() - t0
        rd1, wr1 = meter.snapshot()
    finally:
        bk_mod.bucket_table = real_bucket
        pr_mod.truncate_lineage = real_trunc

    # live round-plan Exchange count over a real bucketed table
    from pyspark.sql import Window

    pair = edges.select(
        F.col("from").cast("string").alias("src"),
        F.col("to").cast("string").alias("dst"),
    ).groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt")).select(
        "src", "dst",
        (F.col("cnt") / F.sum("cnt").over(Window.partitionBy("src"))).alias("w"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bt = real_bucket(pair, "probe_pr_round", "src", n_buckets=64)
        nodes = bt.select(F.col("src").alias("node")).distinct().localCheckpoint()
        nn = nodes.count()
        ranks = nodes.select("node", F.lit(1.0 / nn).alias("score"))
        ex = exchange_count(pr_mod._round(bt, ranks, ranks, 0.15 / nn, 0.85))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS probe_pr_round")

    return {
        "probe": "pagerank_bucketed",
        "iterations": iters,
        "nodes": n,
        "rank_mass": round(total, 6),
        "wall_sec": round(wall, 1),
        "bucket_write_sec": timings["bucket_write_sec"],
        "iter_secs": timings["iter_secs"],
        "round_plan_exchanges": ex,
        "loop_shuffle_read_mb": round((rd1 - rd0) / 1e6, 1),
        "loop_shuffle_write_mb": round((wr1 - wr0) / 1e6, 1),
    }


def probe_shortest_path(spark, meter, edges, cutoffs: list[float]) -> dict:
    """Relaxation cost curve: same graph, growing max_distance cutoff —
    measures how the cutoff bounds rounds, state size and shuffle volume."""
    from polars_grouper_spark import calculate_shortest_path

    out = {"probe": "shortest_path_cutoff", "curve": []}
    for cutoff in cutoffs:
        t0 = time.time()
        rd0, wr0 = meter.snapshot()
        res = calculate_shortest_path(
            edges, "from", "to", "weight", directed=False,
            sources=[r["from"] for r in edges.select("from").distinct().limit(32).collect()],
            max_distance=cutoff,
        )
        n_pairs = res.count()
        rd1, wr1 = meter.snapshot()
        out["curve"].append(
            {
                "max_distance": cutoff,
                "pairs": n_pairs,
                "wall_sec": round(time.time() - t0, 1),
                "shuffle_write_mb": round((wr1 - wr0) / 1e6, 1),
            }
        )
    return out


def probe_graph_mining(spark, meter, edges, label: str) -> dict:
    """Triangle count / k-core / k-truss on a hub-skewed multigraph — the
    degree-ordered orientation is exactly what keeps wedge fan-out sane
    here (the hub's Σdeg² would otherwise dominate)."""
    import time

    from polars_grouper_spark.operators.kcore import k_core
    from polars_grouper_spark.operators.ktruss import k_truss
    from polars_grouper_spark.operators.triangles import triangle_count

    out: dict = {"probe": f"graph_mining_{label}"}

    r0, w0 = meter.snapshot()
    t0 = time.time()
    tri = triangle_count(edges, "from", "to")
    total3 = tri.agg(F.sum("n_triangles")).first()[0]
    r1, w1 = meter.snapshot()
    out["triangles"] = {
        "wall_s": round(time.time() - t0, 1),
        "nodes": tri.count(),
        "triangles": total3 // 3,
        "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
    }

    for name, fn, k in (("kcore", k_core, 4), ("ktruss", k_truss, 4)):
        r0, w0 = meter.snapshot()
        t0 = time.time()
        res = fn(edges, k, "from", "to")
        n = res.count()
        r1, w1 = meter.snapshot()
        out[name] = {
            "k": k,
            "wall_s": round(time.time() - t0, 1),
            "rows": n,
            "shuffle_write_mb": round((w1 - w0) / 1e6, 1),
        }
    return out


def probe_streaming_state(spark, n_keys: int = 1_000_000) -> dict:
    """Streaming dedup at 1M state keys under both providers: rows in the
    state store + provider memory metrics from the query progress."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F2

    from polars_grouper_spark import streaming as st

    src = tempfile.mkdtemp(prefix="state_probe_")
    base = "2024-01-01 00:00:00"
    ev = spark.range(n_keys).select(
        F2.col("id").alias("event_id"),
        (F2.lit(base).cast("timestamp") + (F2.col("id") % 1440) * F2.expr("INTERVAL 1 MINUTE")).alias("ts"),
        (F2.col("id") % 9973).alias("user_id"),
        F2.lit("click").alias("event_type"),
        F2.lit(1.0).alias("value"),
    )
    ev.coalesce(4).write.mode("overwrite").parquet(src)

    results = {}
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    providers = {
        "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    }
    for name, cls in providers.items():
        spark.conf.set(conf_key, cls)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        dd = st.streaming_dedup(stream, ["event_id"], watermark="48 hours")
        t0 = time.time()
        q = (
            dd.writeStream.format("memory")
            .queryName(f"probe_{name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        prog = q.lastProgress
        ops = prog["stateOperators"][0] if prog and prog.get("stateOperators") else {}
        results[name] = {
            "wall_sec": round(time.time() - t0, 1),
            "rows_out": spark.table(f"probe_{name}").count(),
            "state_rows": ops.get("numRowsTotal"),
            "state_mem_bytes": ops.get("memoryUsedBytes"),
            "custom": {
                k: v
                for k, v in (ops.get("customMetrics") or {}).items()
                if "Memory" in k or "memory" in k or "SST" in k
            },
        }
    spark.conf.unset(conf_key)
    shutil.rmtree(src, ignore_errors=True)
    return {"probe": "streaming_state_1M_keys", "providers": results}


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    path_nodes = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    meter = ShuffleMeter(spark)

    pl = power_law_edges(spark, n_edges, n_edges // 5)
    print(json.dumps(probe_cc(spark, meter, pl, f"powerlaw_{n_edges}")), flush=True)
    print(
        json.dumps(
            probe_cc(spark, meter, pl, f"powerlaw_{n_edges}_skewsafe", skew_safe=True)
        ),
        flush=True,
    )
    pp = path_edges(spark, path_nodes)
    print(json.dumps(probe_cc(spark, meter, pp, f"path_{path_nodes}")), flush=True)
    print(
        json.dumps(probe_pagerank_bucketed(spark, meter, pl)),
        flush=True,
    )
    wl = pl.withColumn(
        "weight", (F.pmod(F.xxhash64("from", "to"), F.lit(5)) + 1) / 2.0
    )
    print(
        json.dumps(probe_shortest_path(spark, meter, wl, [1.0, 2.0, 3.0])),
        flush=True,
    )
    print(json.dumps(probe_streaming_state(spark)), flush=True)
    gm = power_law_edges(spark, max(n_edges // 5, 1_000_000), max(n_edges, 5) // 25)
    print(
        json.dumps(probe_graph_mining(spark, meter, gm, "powerlaw")),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
