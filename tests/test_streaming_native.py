"""Native Structured Streaming paths: applyInPandasWithState entity fold
and the watermarked stream-stream RPC join (SURVEY.md §2.1 E1/RPC1 in
their true streaming forms)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from typebus_spark.streaming.entity import streaming_fold_last
from typebus_spark.streaming.rpc import correlate_stream


def _stage_stream(spark, tmp_path, name, df):
    d = str(tmp_path / name)
    df.write.parquet(d)
    return spark.readStream.schema(df.schema).parquet(d)


def test_streaming_fold_last_applyinpandas_with_state(spark, tmp_path):
    events = spark.createDataFrame(
        [
            ("e1", "2024-01-01 00:00:00", "created", 1.0),
            ("e1", "2024-01-01 00:01:00", "paid", 2.0),
            ("e2", "2024-01-01 00:00:30", "created", 5.0),
        ],
        "id string, ts string, status string, amount double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    stream = _stage_stream(spark, tmp_path, "entity_events", events)
    folded = streaming_fold_last(
        stream,
        key_col="id",
        ts_col="ts",
        state_ddl="id string, ts timestamp, status string, amount double",
    )
    q = (
        folded.writeStream.format("memory")
        .queryName("entity_states")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["id"]: r for r in spark.table("entity_states").collect()}
    assert rows["e1"]["status"] == "paid"  # latest by event time wins
    assert rows["e2"]["status"] == "created"


def test_correlate_stream_watermarked_join(spark, tmp_path):
    reqs = spark.createDataFrame(
        [("r1", "2024-01-01 00:00:00"), ("r2", "2024-01-01 00:00:05"),
         ("rX", "2024-01-01 01:00:00")],  # late row advances the watermark
        "rid string, at string",
    ).select(
        F.struct(
            F.col("rid").alias("event_id"),
            F.lit("c").alias("correlation_id"),
            F.lit(None).cast("string").alias("response_to"),
            F.col("at").cast("timestamp").alias("occurred_at"),
        ).alias("meta"),
        F.struct(F.col("rid").alias("q")).alias("payload"),
    )
    resps = spark.createDataFrame(
        [("r1", "2024-01-01 00:00:02", "ans1"),
         ("zz", "2024-01-01 01:00:00", "keepalive")],
        "rt string, at string, a string",
    ).select(
        F.struct(
            F.lit("e").alias("event_id"),
            F.lit("c").alias("correlation_id"),
            F.col("rt").alias("response_to"),
            F.col("at").cast("timestamp").alias("occurred_at"),
        ).alias("meta"),
        F.struct(F.col("a").alias("a")).alias("payload"),
    )
    out = correlate_stream(
        _stage_stream(spark, tmp_path, "req", reqs),
        _stage_stream(spark, tmp_path, "resp", resps),
        timeout_seconds=4.0,
        watermark_delay="1 second",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("rpc_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["request_id"]: r for r in spark.table("rpc_stream").collect()}
    # r1 matched within the window
    assert rows["r1"]["status"] == "completed"
    assert rows["r1"]["right"]["a"] == "ans1"
    # r2 never answered → emitted as timeout once the watermark passed
    assert rows["r2"]["status"] == "timeout"
    assert rows["r2"]["left"]["throwable_type"].endswith("TimeoutException")


def test_streaming_fold_last_is_incremental(spark, tmp_path):
    """Second batch of files updates only the touched keys (state store
    continuity across micro-batches via checkpoint)."""
    d = str(tmp_path / "inc")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(d)
    first = spark.createDataFrame(
        [("e1", "2024-01-01 00:00:00", "created", 1.0)],
        "id string, ts string, status string, amount double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    first.write.mode("append").parquet(d)
    emitted: list = []

    def run_once():
        stream = spark.readStream.schema(
            "id string, ts timestamp, status string, amount double"
        ).parquet(d)
        folded = streaming_fold_last(
            stream, "id", "ts",
            "id string, ts timestamp, status string, amount double",
        )
        q = (
            folded.writeStream.foreachBatch(
                lambda df, _bid: emitted.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert [r["status"] for r in emitted if r["id"] == "e1"] == ["created"]
    second = spark.createDataFrame(
        [("e1", "2024-01-01 00:05:00", "paid", 2.0)],
        "id string, ts string, status string, amount double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    second.write.mode("append").parquet(d)
    run_once()  # recovery from checkpoint: only the new file is processed
    assert [r["status"] for r in emitted if r["id"] == "e1"] == [
        "created",
        "paid",
    ]  # state advanced across restarts


def test_stream_stream_join_drops_late_side_input(spark, tmp_path):
    """Watermark semantics of the two-sided join: after the watermark
    advances past a view's event time (batch 1), a late-arriving view
    (batch 2) must NOT join — its side's state horizon has passed —
    while on-time rows in the same batch still join."""
    pd_dir = str(tmp_path / "p")
    vd_dir = str(tmp_path / "v")
    ckpt = str(tmp_path / "ck")
    os.makedirs(pd_dir)
    os.makedirs(vd_dir)

    def _write(d, rows):
        spark.createDataFrame(rows, "uid long, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).write.mode("append").parquet(d)

    emitted: list = []

    def run_once():
        p = (
            spark.readStream.schema("uid long, ts timestamp")
            .parquet(pd_dir)
            .select("uid", F.col("ts").alias("p_ts"))
            .withWatermark("p_ts", "10 minutes")
        )
        v = (
            spark.readStream.schema("uid long, ts timestamp")
            .parquet(vd_dir)
            .select(
                F.col("uid").alias("v_uid"), F.col("ts").alias("v_ts")
            )
            .withWatermark("v_ts", "10 minutes")
        )
        j = p.join(
            v,
            (F.col("uid") == F.col("v_uid"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("v_ts") <= F.col("p_ts")),
            "inner",
        ).select("uid", "p_ts", "v_ts")
        q = (
            j.writeStream.foreachBatch(
                lambda df, _bid: emitted.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: purchase 12:00, view 11:50 → joins; watermark → 11:50
    _write(pd_dir, [(1, "2024-01-01 12:00:00")])
    _write(vd_dir, [(1, "2024-01-01 11:50:00")])
    run_once()
    assert [str(r["v_ts"]) for r in emitted] == ["2024-01-01 11:50:00"]
    # batch 2: late view 11:40 (behind the 11:50 watermark → dropped)
    # plus an on-time purchase/view pair
    _write(pd_dir, [(1, "2024-01-01 12:30:00")])
    _write(vd_dir, [(1, "2024-01-01 11:40:00"), (1, "2024-01-01 12:20:00")])
    run_once()
    got = sorted(str(r["v_ts"]) for r in emitted)
    assert "2024-01-01 11:40:00" not in got, got  # late input dropped
    assert "2024-01-01 12:20:00" in got, got  # on-time input joined


def test_streaming_fold_last_ttl_survives_restart(spark, tmp_path):
    """E1/O3 at scale (EntityDb.scala:12-25 + actor passivation): state
    must survive a kill-and-restart from the checkpoint, and
    TTL-expired keys must drop.

    Observable: after the TTL elapses, an event OLDER than the dead
    key's last state is accepted (state was removed); a key whose TTL
    has not elapsed keeps rejecting older events across restarts. The
    two behaviors run as separate folds (long vs short TTL) so neither
    assertion races the multi-second restart overhead on this host."""
    import time

    schema = "id string, ts string, status string, amount double"
    emitted: list = []

    def make(name, ttl):
        d = str(tmp_path / f"{name}_events")
        ckpt = str(tmp_path / f"{name}_ckpt")
        os.makedirs(d)

        def push(*rows):
            spark.createDataFrame(list(rows), schema).withColumn(
                "ts", F.col("ts").cast("timestamp")
            ).write.mode("append").parquet(d)

        def run_once():
            from typebus_spark.session import pinned_shuffle_partitions

            # a fresh stream + query per call = kill-and-restart; only
            # the checkpoint carries state across calls
            stream = spark.readStream.schema(
                "id string, ts timestamp, status string, amount double"
            ).parquet(d)
            folded = streaming_fold_last(
                stream, "id", "ts",
                "id string, ts timestamp, status string, amount double",
                ttl_seconds=ttl,
            )
            # 1 state partition: 5 restarts × N stores dominate the
            # test's wall otherwise (state partition count is fixed at
            # first start, part of the checkpoint)
            with pinned_shuffle_partitions(spark, 1):
                q = (
                    folded.writeStream.foreachBatch(
                        lambda df, _bid: emitted.extend(df.collect())
                    )
                    .outputMode("update")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
            # with a pending TTL an availableNow query never terminates
            # (streaming_fold_last): stop it once its data batch is in
            deadline = time.monotonic() + 120
            while not any(p["numInputRows"] for p in q.recentProgress):
                assert q.isActive and time.monotonic() < deadline, q.exception()
                time.sleep(0.2)
            q.stop()

        return push, run_once

    def statuses(k):
        return [r["status"] for r in emitted if r["id"] == k]

    # --- survival: TTL far beyond the test's runtime -----------------
    push_a, run_a = make("live", ttl=300)
    push_a(("e3", "2024-01-01 00:20:00", "alpha", 1.0))
    run_a()
    # restart: an event OLDER than the checkpointed state must lose
    push_a(("e3", "2024-01-01 00:02:00", "old", 9.0))
    run_a()
    assert statuses("e3") == ["alpha"]  # state survived the restart

    # --- expiry: TTL shorter than a deliberate pause -----------------
    push_b, run_b = make("dead", ttl=1)
    push_b(("e1", "2024-01-01 00:10:00", "created", 1.0))
    run_b()
    time.sleep(3)  # let e1's 1 s processing-time TTL elapse
    # restart: another key's data triggers the batch; e1's timed-out
    # state is removed during it
    push_b(("e9", "2024-01-01 00:00:00", "tick", 0.0))
    run_b()
    # restart again: e1's OLDER event is accepted — its state is gone
    push_b(("e1", "2024-01-01 00:05:00", "stale", 9.0))
    run_b()
    assert statuses("e1") == ["created", "stale"]


def test_no_data_microbatch_skip_inner_join(spark, tmp_path):
    """session.no_data_microbatches_disabled: an INNER watermarked
    stream-stream join emits every match in the data batch, so skipping
    the trailing no-data (state-eviction) batch must not change output —
    and must actually skip it (one batch instead of two)."""
    import uuid

    from typebus_spark.session import no_data_microbatches_disabled

    left = spark.createDataFrame(
        [(1, "u1", "2024-01-01 00:10:00"), (2, "u2", "2024-01-01 00:20:00")],
        "pid long, user string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:05:00"),  # 5 min before pid 1 -> match
            ("u2", "2024-01-01 00:19:00"),  # 1 min before pid 2 -> match
            ("u1", "2024-01-01 00:50:00"),  # after -> no match
        ],
        "vuser string, vts string",
    ).withColumn("vts", F.col("vts").cast("timestamp"))

    def run(skip_no_data):
        l = _stage_stream(
            spark, tmp_path, f"ndl_{uuid.uuid4().hex[:6]}", left
        ).withWatermark("ts", "1 hour")
        r = _stage_stream(
            spark, tmp_path, f"ndr_{uuid.uuid4().hex[:6]}", right
        ).withWatermark("vts", "1 hour")
        joined = l.join(
            r,
            (F.col("user") == F.col("vuser"))
            & (F.col("vts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("vts") <= F.col("ts")),
            "inner",
        ).select("pid", "user", "vts")
        name = f"nd_{uuid.uuid4().hex[:6]}"
        import contextlib

        ctx = (
            no_data_microbatches_disabled(spark)
            if skip_no_data
            else contextlib.nullcontext()
        )
        with ctx:
            q = (
                joined.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination(60)
        rows = {tuple(r) for r in spark.table(name).collect()}
        return rows, len(q.recentProgress)

    base_rows, base_batches = run(skip_no_data=False)
    skip_rows, skip_batches = run(skip_no_data=True)
    assert skip_rows == base_rows and len(base_rows) == 2
    assert skip_batches < base_batches  # the eviction batch was skipped
    # the conf is restored by the context manager
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
        == "true"
    )


def test_append_window_agg_state_eviction(spark, tmp_path):
    """State-eviction pin for the append-mode window aggregations
    (q_stream_*_append): after the availableNow replay + trailing
    no-data batch, (a) exactly the watermark-closed windows have
    emitted, each ONCE; (b) the state store holds ONLY the still-open
    windows (numRowsTotal == open count) — the property that bounds
    state at 100 TB where the complete-mode variants accumulate
    history."""
    import uuid

    events = spark.createDataFrame(
        [
            ("2024-01-01 00:10:00", 1.0),
            ("2024-01-01 00:40:00", 2.0),
            ("2024-01-01 01:15:00", 3.0),
            ("2024-01-01 02:30:00", 4.0),
            # advances the final watermark to 04:05 (delay 1 h):
            # windows [0,1) [1,2) [2,3) end < 04:05 -> closed+evicted;
            # [5,6) holds this row -> still open, never emits
            ("2024-01-01 05:05:00", 9.0),
        ],
        "ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    stream = _stage_stream(
        spark, tmp_path, f"apev_{uuid.uuid4().hex[:6]}", events
    ).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("ws"), "n")
    )
    name = f"apev_{uuid.uuid4().hex[:6]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table(name).collect()
    emitted = {r["ws"]: r["n"] for r in rows}
    assert emitted == {
        "2024-01-01 00:00:00": 2,
        "2024-01-01 01:00:00": 1,
        "2024-01-01 02:00:00": 1,
    }
    assert len(rows) == len(emitted)  # emit-once: no duplicate windows
    # evicted windows left the store: only the open [05:00,06:00) row
    state = q.lastProgress["stateOperators"][0]
    assert state["numRowsTotal"] == 1, state


import pytest


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_state_store_provider_parity(spark, tmp_path, provider):
    """The streaming state machinery EXECUTES (same results) under both
    state-store providers — HDFSBackedStateStoreProvider (default) and
    RocksDBStateStoreProvider (the production cluster choice: off-heap/
    on-disk state, changelog checkpoints). Covers the three stateful
    shapes: windowed agg (append+eviction), dropDuplicates, and the
    applyInPandasWithState entity fold."""
    import uuid

    from typebus_spark.session import state_store_provider

    events = spark.createDataFrame(
        [
            ("e1", "2024-01-01 00:10:00", "created", 1.0),
            ("e1", "2024-01-01 00:40:00", "paid", 2.0),
            ("e2", "2024-01-01 01:15:00", "created", 3.0),
            ("e1", "2024-01-01 02:30:00", "shipped", 4.0),
            ("e3", "2024-01-01 05:05:00", "created", 9.0),
        ],
        "id string, ts string, status string, amount double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    stream_dir = f"ssp_{provider}_{uuid.uuid4().hex[:6]}"
    with state_store_provider(spark, provider):
        # 1) append-mode windowed agg with eviction
        s1 = _stage_stream(spark, tmp_path, stream_dir, events)
        agg = (
            s1.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("string").alias("ws"), "n")
        )
        n1 = f"sspa_{uuid.uuid4().hex[:6]}"
        q1 = (
            agg.writeStream.format("memory").queryName(n1)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q1.awaitTermination(120)
        got = {r["ws"]: r["n"] for r in spark.table(n1).collect()}
        assert got == {
            "2024-01-01 00:00:00": 2,
            "2024-01-01 01:00:00": 1,
            "2024-01-01 02:00:00": 1,
        }
        if provider == "rocksdb":
            # the provider actually ran: rocksdb custom metrics present
            metrics = q1.lastProgress["stateOperators"][0]["customMetrics"]
            assert any(k.startswith("rocksdb") for k in metrics), metrics

        # 2) streaming dedup
        s2 = spark.readStream.schema(events.schema).parquet(
            str(tmp_path / stream_dir)
        )
        dd = s2.select("id").dropDuplicates(["id"])
        n2 = f"sspd_{uuid.uuid4().hex[:6]}"
        q2 = (
            dd.writeStream.format("memory").queryName(n2)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q2.awaitTermination(120)
        assert {r["id"] for r in spark.table(n2).collect()} == {
            "e1", "e2", "e3",
        }

        # 3) applyInPandasWithState entity fold
        s3 = spark.readStream.schema(events.schema).parquet(
            str(tmp_path / stream_dir)
        )
        folded = streaming_fold_last(
            s3,
            key_col="id",
            ts_col="ts",
            state_ddl="id string, ts timestamp, status string, amount double",
        )
        n3 = f"sspf_{uuid.uuid4().hex[:6]}"
        q3 = (
            folded.writeStream.format("memory").queryName(n3)
            .outputMode("update").trigger(availableNow=True).start()
        )
        q3.awaitTermination(120)
        rows = {r["id"]: r for r in spark.table(n3).collect()}
        assert rows["e1"]["status"] == "shipped"
        assert rows["e2"]["status"] == "created"
        assert rows["e3"]["status"] == "created"


def test_drop_duplicates_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark (q_stream_dedup_bounded's
    machinery): duplicate keys within the delay are dropped, and keys
    older than the watermark are EVICTED from state — the property that
    makes streaming dedup state bounded by the redelivery window
    instead of the distinct-key set."""
    import uuid

    events = spark.createDataFrame(
        [
            ("k1", "2024-01-01 00:00:00"),
            ("k1", "2024-01-01 00:10:00"),  # dup within delay -> dropped
            ("k2", "2024-01-01 00:20:00"),
            # far-future row: advances watermark to 04:00 (1 h delay),
            # evicting k1/k2 state
            ("k3", "2024-01-01 05:00:00"),
        ],
        "k string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    stream = _stage_stream(
        spark, tmp_path, f"ddw_{uuid.uuid4().hex[:6]}", events
    ).withWatermark("ts", "1 hour")
    dd = stream.dropDuplicatesWithinWatermark(["k"]).select("k")
    name = f"ddw_{uuid.uuid4().hex[:6]}"
    q = (
        dd.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert {r["k"] for r in spark.table(name).collect()} == {"k1", "k2", "k3"}
    state = q.lastProgress["stateOperators"][0]
    # only k3 (inside the watermark horizon) remains in state
    assert state["numRowsTotal"] == 1, state
