import time

from pyspark.sql import functions as F

from polars_grouper_spark import streaming as st
from polars_grouper_spark.sources import load_table


def test_windowed_event_stats_batch(spark):
    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    out = st.windowed_event_stats(ev, window_duration="1 hour")
    rows = out.collect()
    assert rows
    assert out.columns == [
        "window_start", "window_end", "event_type", "n_events", "sum_value", "n_users",
    ]
    total = sum(r["n_events"] for r in rows)
    assert total == ev.count()


def test_sessionize_batch(spark):
    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    out = st.sessionize(ev, gap="10 minutes").collect()
    assert out
    for r in out:
        assert r["session_end"] >= r["session_start"]


def test_streaming_dedup_batch_degenerates(spark):
    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    doubled = ev.union(ev)
    out = st.streaming_dedup(doubled, ["event_id"])
    assert out.count() == ev.count()


def test_windowed_stats_on_real_stream(spark, tmp_path):
    """Run the same operator as a real Structured Streaming query."""
    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    src = str(tmp_path / "stream_src")
    ev.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = st.windowed_event_stats(stream, window_duration="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("ev_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    for _ in range(30):
        if not q.isActive:
            break
        time.sleep(1)
    result = spark.sql("select sum(n_events) as n from ev_counts").first()["n"]
    batch = st.windowed_event_stats(ev, window_duration="1 hour").agg(
        F.sum("n_events").alias("n")
    ).first()["n"]
    assert result == batch == ev.count()


def test_streaming_watermark_accepts_timestamp_ntz(spark, tmp_path):
    """Driver parquet decodes event time as TIMESTAMP_NTZ; watermarked
    operators must coerce it (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise).
    Builds an explicitly-NTZ source and runs both watermarked paths."""
    import datetime

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (i, base + datetime.timedelta(minutes=7 * i), i % 3, "click", float(i))
        for i in range(20)
    ]
    # duplicate keys so the dedup path has work to do
    rows += rows[:5]
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "ntz_src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    assert isinstance(stream.schema["ts"].dataType, T.TimestampNTZType)

    agg = st.windowed_event_stats(stream, window_duration="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("ntz_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total = spark.sql("select sum(n_events) as n from ntz_counts").first()["n"]
    assert total == len(rows)

    deduped = st.streaming_dedup(stream, ["event_id"], watermark="1 hour")
    q2 = (
        deduped.writeStream.format("memory")
        .queryName("ntz_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.table("ntz_dedup").count() == 20


def test_time_rollup_matches_per_resolution_groupbys(spark):
    from polars_grouper_spark.streaming.rollup import time_rollup

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    out = time_rollup(
        ev,
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sv")],
        key_cols=["event_type"],
        resolutions=["hour", "day", "month"],
    )
    got = {
        (r["resolution"], r["bucket_start"], r["event_type"]): (r["n"], r["sv"])
        for r in out.collect()
    }
    want = {}
    for res in ("hour", "day", "month"):
        for r in (
            ev.groupBy(F.date_trunc(res, "ts").alias("b"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sv"))
            .collect()
        ):
            want[(res, r["b"], r["event_type"])] = (r["n"], r["sv"])
    assert got == want


def test_time_rollup_single_shuffle(spark):
    from polars_grouper_spark.streaming.rollup import time_rollup

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    out = time_rollup(ev, [F.count(F.lit(1)).alias("n")], resolutions=["hour", "day"])
    p = out._jdf.queryExecution().executedPlan().toString()
    # grouping sets = Expand + ONE aggregation shuffle, not one per tier.
    assert "Expand" in p
    assert p.count("Exchange") == 1, p


def test_time_rollup_validates_resolutions(spark):
    import pytest as _pytest
    from polars_grouper_spark.streaming.rollup import time_rollup

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    with _pytest.raises(ValueError):
        time_rollup(ev, [F.count(F.lit(1)).alias("n")], resolutions=["fortnight"])
    with _pytest.raises(ValueError):
        time_rollup(ev, [F.count(F.lit(1)).alias("n")], resolutions=[])


def test_state_store_providers_agree_at_cardinality(spark, tmp_path):
    """The same watermarked streaming dedup + windowed agg run under BOTH
    state-store providers (default HDFS-backed heap maps vs RocksDB) at
    ~20k state keys must produce identical results — the provider is a
    storage choice, never a semantics choice.  Also exercises the
    session-factory knob on an active session."""
    import datetime

    from polars_grouper_spark.session import STATE_STORE_PROVIDERS, get_spark

    base = datetime.datetime(2024, 1, 1)
    n = 20_000
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.lit(base) + (F.col("id") % 720) * F.expr("INTERVAL 1 MINUTE")).alias("ts"),
        (F.col("id") % 997).alias("user_id"),
        F.concat(F.lit("t"), F.col("id") % 5).alias("event_type"),
        (F.col("id") % 13).cast("double").alias("value"),
    )
    dup = ev.union(ev.limit(5000))  # 25% duplicate keys for dedup state
    src = str(tmp_path / "prov_src")
    dup.coalesce(2).write.parquet(src)

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    results = {}
    try:
        for provider in ("hdfs", "rocksdb"):
            got = get_spark(state_store=provider)
            assert got is spark  # active-session path
            assert spark.conf.get(conf_key) == STATE_STORE_PROVIDERS[provider]

            stream = spark.readStream.schema(dup.schema).parquet(src)
            deduped = st.streaming_dedup(stream, ["event_id"], watermark="2 hours")
            agg = st.windowed_event_stats(stream, window_duration="1 hour")
            qd = (
                deduped.writeStream.format("memory")
                .queryName(f"dd_{provider}")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            qa = (
                agg.writeStream.format("memory")
                .queryName(f"ag_{provider}")
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            qd.awaitTermination(180)
            qa.awaitTermination(180)
            dd = spark.table(f"dd_{provider}").count()
            ag = sorted(
                (r["window_start"], r["event_type"], r["n_events"], r["n_users"])
                for r in spark.table(f"ag_{provider}").collect()
            )
            results[provider] = (dd, ag)
    finally:
        spark.conf.unset(conf_key)

    assert results["hdfs"][0] == n  # duplicates dropped
    assert results["hdfs"] == results["rocksdb"]


def test_stream_parquet_sink_exactly_once_across_restarts(spark, tmp_path):
    """File-sink + checkpoint: restarting the same query must not
    re-deliver processed input, and newly arrived files are delivered
    exactly once — the recovery contract a 100 TB ingest job relies on."""
    ev = load_table(spark, "events", "/root/testdata/sf0.001").limit(200)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev.coalesce(1).write.parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(ev.schema).parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 200

    run_once()  # same checkpoint, no new input -> nothing re-delivered
    assert spark.read.parquet(out).count() == 200

    ev.limit(50).coalesce(1).write.mode("append").parquet(src)
    run_once()  # only the new file is processed
    assert spark.read.parquet(out).count() == 250


def test_interval_join_batch_semantics(spark):
    """Strict lower bound, inclusive upper bound, key equality."""
    import datetime as dt

    from polars_grouper_spark.streaming.joins import interval_join

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, base, "v1"), (2, base, "v2")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, base, "same-instant"),            # excluded: strict >
            (1, base + dt.timedelta(minutes=30), "at-bound"),  # included: <=
            (1, base + dt.timedelta(minutes=31), "past-bound"),
            (2, base + dt.timedelta(minutes=5), "other-user-ok"),
        ],
        "user_id long, ts timestamp, tag string",
    )
    out = interval_join(left, right, within="30 minutes")
    got = sorted((r["user_id"], r["r_tag"]) for r in out.collect())
    assert got == [(1, "at-bound"), (2, "other-user-ok")]


def test_interval_join_on_real_stream(spark, tmp_path):
    """Stream-stream inner join through a real streaming query equals the
    batch join on the same input."""
    import datetime as dt

    from polars_grouper_spark.streaming.joins import interval_join

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    for u in range(8):
        rows.append((u, base + dt.timedelta(minutes=u), "view"))
        rows.append((u, base + dt.timedelta(minutes=u + 10), "purchase"))
        rows.append((u, base + dt.timedelta(minutes=u + 120), "purchase"))
    batch = spark.createDataFrame(rows, "user_id long, ts timestamp, et string")
    path = str(tmp_path / "ev")
    batch.write.parquet(path)

    def split(df):
        return (
            df.where(F.col("et") == "view"),
            df.where(F.col("et") == "purchase"),
        )

    lv, lp = split(batch)
    expect = sorted(
        (r["user_id"], r["r_ts"]) for r in interval_join(
            lv, lp, within="30 minutes").collect()
    )
    stream = spark.readStream.schema(batch.schema).parquet(path)
    sv, sp = split(stream)
    joined = interval_join(sv, sp, within="30 minutes", watermark="1 day")
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["r_ts"]) for r in spark.table("ij_sink").collect()
    )
    assert got == expect and len(got) == 8


def test_streaming_funnel_state_across_microbatches(spark, tmp_path):
    """Funnel state carries across micro-batches: step A in batch 1,
    step B in batch 2 -> depth 2; reversed arrival order of the SAME
    timestamps in a later batch cannot rewrite the path."""
    import datetime as dt

    from polars_grouper_spark.streaming.stateful import streaming_funnel

    base = dt.datetime(2024, 4, 1, 9, 0, 0)
    b1 = spark.createDataFrame(
        [(1, base, "A"), (2, base + dt.timedelta(seconds=5), "B")],
        "user_id long, ts timestamp, event_type string",
    )
    b2 = spark.createDataFrame(
        [
            (1, base + dt.timedelta(minutes=1), "B"),
            (2, base + dt.timedelta(minutes=1), "A"),
        ],
        "user_id long, ts timestamp, event_type string",
    )
    path = tmp_path / "fev"
    b1.write.parquet(str(path / "f1"))
    b2.write.parquet(str(path / "f2"))
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(path) + "/*")
    )
    depths = streaming_funnel(stream, ["A", "B"])
    q = (
        depths.writeStream.format("memory")
        .queryName("sf_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = {
        r["user_id"]: r["depth"]
        for r in spark.table("sf_sink")
        .groupBy("user_id")
        .agg(F.max("depth").alias("depth"))
        .collect()
    }
    # user 1: A then B -> 2.  user 2: B first (not credited), later A -> 1.
    assert final == {1: 2, 2: 1}


def test_streaming_funnel_batch_delegates(spark):
    import datetime as dt

    from polars_grouper_spark.streaming.stateful import streaming_funnel

    base = dt.datetime(2024, 4, 1)
    df = spark.createDataFrame(
        [(1, base, "A"), (1, base + dt.timedelta(hours=1), "B"), (2, base, "B")],
        "user_id long, ts timestamp, event_type string",
    )
    got = sorted(tuple(r) for r in streaming_funnel(df, ["A", "B"]).collect())
    assert got == [(1, 2), (2, 0)]


def test_replay_attribution_state_stays_bounded(spark, tmp_path):
    """VERDICT r4 #6: a time-ordered replay with a REALISTIC watermark
    (1 hour, not the history-spanning demo value) must (a) still equal
    the batch interval join exactly — chunks are time-disjoint ascending,
    so nothing is ever late — and (b) keep the join's state-store row
    count bounded by the chunk horizon across microbatches instead of
    accumulating all of history."""
    from polars_grouper_spark.streaming.joins import interval_join
    from polars_grouper_spark.streaming.replay import replay_attribution

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf)
    res, state_rows = replay_attribution(
        spark, ev, n_chunks=10, sink_name="replay_state_test_sink"
    )
    got = sorted(
        (r["user_id"], r["view_id"], r["purchase_id"], r["lag_secs"])
        for r in res.collect()
    )

    views = ev.where(F.col("event_type") == "view")
    purchases = ev.where(F.col("event_type") == "purchase")
    batch = interval_join(views, purchases, within="30 minutes").select(
        "user_id",
        F.col("l_event_id").alias("view_id"),
        F.col("r_event_id").alias("purchase_id"),
        F.floor(
            (
                F.unix_micros(F.col("r_ts").cast("timestamp"))
                - F.unix_micros(F.col("l_ts").cast("timestamp"))
            )
            / 1_000_000
        ).alias("lag_secs"),
    )
    want = sorted(
        (r["user_id"], r["view_id"], r["purchase_id"], r["lag_secs"])
        for r in batch.collect()
    )
    assert got == want

    total = ev.where(F.col("event_type").isin("view", "purchase")).count()
    assert len(state_rows) >= 5, "replay must span multiple microbatches"
    # each batch holds ~1 chunk (+ watermark carryover), never history:
    # with 10 time-disjoint chunks the bound is ~2 chunks of rows.
    assert max(state_rows) < total * 0.35, (
        f"state {max(state_rows)} rows vs {total} events — not bounded"
    )
    # the final watermark advance drains nearly everything
    assert state_rows[-1] < max(state_rows)


def test_streaming_debounce_equals_batch_on_ordered_replay(spark):
    """With time-ordered chunk replay, the stateful streaming debounce
    must continue each key's greedy chain ACROSS microbatches and equal
    the batch operator exactly; state is one long per key."""
    import shutil
    import tempfile

    from polars_grouper_spark.operators.debounce import debounce
    from polars_grouper_spark.streaming.replay import write_time_ordered_chunks
    from polars_grouper_spark.streaming.stateful import streaming_debounce

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf).select("user_id", "event_id", "ts")
    want = sorted(map(tuple, debounce(ev, gap_seconds=7200).collect()))

    out_dir = tempfile.mkdtemp(prefix="sdb_test_")
    try:
        write_time_ordered_chunks(ev, "ts", out_dir, 8)
        schema = spark.read.parquet(f"{out_dir}/c0000").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(f"{out_dir}/c*")
        )
        q = (
            streaming_debounce(stream, gap_seconds=7200)
            .writeStream.format("memory")
            .queryName("sdb_test_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(map(tuple, spark.table("sdb_test_sink").collect()))
        assert len(q.recentProgress) >= 5, "must span multiple microbatches"
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    assert got == want


def test_streaming_hll_equals_batch_sketch(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from polars_grouper_spark.functions.sketches import hll_distinct, hll_registers
    from polars_grouper_spark.streaming.sketch_sink import StreamingHll

    src = str(tmp_path / "hll_src")
    df = spark.range(3000).select((F.col("id") % 700).cast("string").alias("k"))
    # three uneven chunks with overlapping keys
    df.where("id % 3 = 0").coalesce(1).write.parquet(f"{src}/c0")
    df.where("id % 3 = 1").coalesce(1).write.parquet(f"{src}/c1")
    df.where("id % 3 = 2").coalesce(1).write.parquet(f"{src}/c2")

    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{src}/c*")
    )
    sk = StreamingHll("k", b=10)
    q = stream.writeStream.foreachBatch(sk.update).trigger(availableNow=True).start()
    q.awaitTermination()
    assert sk.batches >= 3  # one microbatch per file
    # register table identical to the one-shot batch sketch
    batch_regs = {
        (r["bucket"], r["max_rho"])
        for r in hll_registers(df, "k", 10).collect()
    }
    stream_regs = {
        (r["bucket"], r["max_rho"]) for r in sk.register_df(spark).collect()
    }
    assert stream_regs == batch_regs
    got = sk.estimate(spark).first()["estimate"]
    want = hll_distinct(df, "k", 10).first()["estimate"]
    assert got == _pytest.approx(want)


def test_streaming_hll_validation_and_empty(spark):
    import pytest as _pytest

    from polars_grouper_spark.streaming.sketch_sink import StreamingHll

    with _pytest.raises(ValueError):
        StreamingHll("k", b=3)
    sk = StreamingHll("k", b=8)
    assert sk.estimate(spark).first()["estimate"] == 0.0


def test_interval_join_left_outer_batch_and_stream(spark, tmp_path):
    import time as _time

    from pyspark.sql import functions as F

    from polars_grouper_spark.streaming.joins import interval_join

    # Batch-degenerate: unmatched left rows carry nulls.
    clicks = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100), (1, "2024-01-01 18:00:00", 101)],
        ["user_id", "ts", "event_id"],
    ).withColumn("ts", F.to_timestamp("ts"))
    buys = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", 900)], ["user_id", "ts", "event_id"]
    ).withColumn("ts", F.to_timestamp("ts"))
    out = interval_join(clicks, buys, within="1 hour", how="left_outer")
    rows = {r["l_event_id"]: r["r_event_id"] for r in out.collect()}
    assert rows == {100: 900, 101: None}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        interval_join(clicks, buys, how="full_outer")

    # Real stream: null emission is WATERMARK-GATED — an unmatched left
    # row emits only after later data advances the watermark past its
    # interval bound; the final row (no later data) is withheld.
    src_l, src_r = str(tmp_path / "l"), str(tmp_path / "r")
    clicks_data = [
        (1, "2024-01-01 10:00:00", 100),   # unmatched, watermark passes it
        (1, "2024-01-02 10:00:00", 101),   # late row advancing the watermark
    ]
    spark.createDataFrame(clicks_data, ["user_id", "ts", "event_id"]).withColumn(
        "ts", F.to_timestamp("ts")
    ).write.parquet(src_l)
    spark.createDataFrame(
        [(1, "2024-01-02 10:00:00", 901)], ["user_id", "ts", "event_id"]
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(src_r)
    schema = "user_id bigint, ts timestamp, event_id bigint"
    sl = spark.readStream.schema(schema).parquet(src_l)
    sr = spark.readStream.schema(schema).parquet(src_r)
    joined = interval_join(
        sl, sr, within="1 hour", watermark="1 hour", how="left_outer"
    )
    name = f"ioj_sink_{int(_time.time() * 1000)}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["l_event_id"]: r["r_event_id"] for r in spark.table(name).collect()}
    # Row 100: watermark (day-2 max ts - 1h) passed its bound -> null emitted.
    assert got.get(100, "absent") is None
    # Row 101 sits AT the watermark frontier: withheld or matched-only —
    # never a premature null-and-match duplicate.
    assert got.get(101, None) in (None, 901)


def test_replay_chunks_drop_null_ts_and_rerun_safely(spark, tmp_path):
    """r8 ADVICE regressions: (1) null-timestamp rows must DROP (F.least
    skips nulls, so the old _chunk.isNotNull filter was dead and null-ts
    rows landed silently in the LAST chunk); (2) re-running into a
    previously used out_dir must overwrite stale chunk dirs, not raise
    on os.rename."""
    import os

    from polars_grouper_spark.streaming.replay import write_time_ordered_chunks

    out = str(tmp_path / "chunks")
    os.makedirs(out)
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (2, "2024-01-01 06:00:00"),
            (3, None),
            (4, "2024-01-01 23:00:00"),
        ],
        "id long, ts string",
    )
    n = write_time_ordered_chunks(df, "ts", out, 4)
    assert n >= 1
    back = spark.read.option("pathGlobFilter", "*.parquet").parquet(f"{out}/c*")
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 4]

    # Re-run into the same directory with FEWER chunks: the stale c* dirs
    # from the first run must not break the rename, and the readback must
    # reflect only the new layout.
    n2 = write_time_ordered_chunks(df.where("id <> 4"), "ts", out, 1)
    assert n2 == 1
    dirs = sorted(d for d in os.listdir(out) if d.startswith("c") and d[1:].isdigit())
    assert dirs == ["c0000"]
    back2 = spark.read.option("pathGlobFilter", "*.parquet").parquet(f"{out}/c*")
    assert sorted(r["id"] for r in back2.collect()) == [1, 2]


def test_funnel_orders_same_microsecond_events_by_nanosecond():
    """Step events are ordered on the raw nanoseconds and truncated to µs
    only afterwards: two events in the same microsecond keep their ns
    order, not their arrival order; exact ns ties keep arrival order."""
    import numpy as np

    from polars_grouper_spark.streaming.stateful import _step_events_in_order

    raw = np.array([5_000_900, 5_000_100, 4_000_000, 5_000_100, 7_000_000])
    types = np.array(["B", "A", "X", "C", "D"], dtype=object)
    mask = np.array([True, True, True, True, False])
    got = list(_step_events_in_order(raw, types, mask))
    assert got == [(4000, "X"), (5000, "A"), (5000, "C"), (5000, "B")]
