"""Parity tests for retry (ST1/ST2), RPC correlation (RPC1/RPC2), and
entity state (E1/T4) — SURVEY.md §5 item 2."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from typebus_spark.codec.envelope import encode_envelope, new_meta
from typebus_spark.registry import BackoffShape, RetryPolicy, Service, retry_topic
from typebus_spark.runtime import DEAD_LETTER_TOPIC, run_batch
from typebus_spark.streaming.entity import fold_events, fold_last_value
from typebus_spark.streaming.retry import row_handler
from typebus_spark.streaming.rpc import correlate_batch

TASK_DDL = "task_id string, fail_times int, payload string"


def test_retry_policy_backoff_shapes():
    lin = RetryPolicy(3, 2.0, BackoffShape.LINEAR)
    exp = RetryPolicy(3, 2.0, BackoffShape.EXPONENTIAL)
    non = RetryPolicy(3, 2.0, BackoffShape.NONE)
    assert [lin.backoff_seconds(a) for a in (1, 2, 3)] == [2.0, 4.0, 6.0]
    assert [exp.backoff_seconds(a) for a in (1, 2, 3)] == [2.0, 8.0, 18.0]
    assert [non.backoff_seconds(a) for a in (1, 2, 3)] == [2.0, 2.0, 2.0]


@pytest.fixture()
def flaky_service(spark):
    """flaky_task fixture (FIXTURES.md §B): handler fails while
    attempt < fail_times."""
    s = Service("flaky-service")
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    task = StructType(
        [
            StructField("task_id", StringType()),
            StructField("fail_times", IntegerType()),
            StructField("payload", StringType()),
        ]
    )
    done = StructType(
        [
            StructField("task_id", StringType()),
            StructField("result", StringType()),
        ]
    )
    s.declare_type("api.FlakyTask", task)
    s.declare_type("api.TaskDone", done)

    def handler(df):
        attempt = F.coalesce(
            F.col("meta.extra").getItem("attempt").cast("int"), F.lit(0)
        )
        return df.select(
            "meta",
            "task_id",
            F.concat(F.lit("done:"), F.col("task_id")).alias("result"),
            F.when(
                attempt < F.col("fail_times"),
                F.concat(F.lit("transient failure attempt "), attempt),
            ).alias("_error"),
        )

    s.register_stream(
        "api.FlakyTask",
        "api.TaskDone",
        handler,
        retry=RetryPolicy(2, 10.0, BackoffShape.EXPONENTIAL),
    )
    return s


def _tasks(spark):
    df = spark.createDataFrame(
        [("t-ok", 0, "p"), ("t-flaky", 1, "p"), ("t-dead", 9, "p")], TASK_DDL
    )
    return encode_envelope(df, "api.FlakyTask")


def _drain(spark, service, raw, now0=1_000_000):
    """Run batches, feeding the retry topic back in with the clock advanced
    past every backoff — the batch-mode equivalent of the re-injection
    queue, with simulated time."""
    outputs: dict[str, list] = {}
    now = now0
    for _ in range(6):
        rows = run_batch(service, raw, now_epoch=now).union_all().collect()
        retry = [r for r in rows if r["topic"].endswith(".retry")]
        for r in rows:
            if r not in retry:
                outputs.setdefault(r["topic"], []).append(r)
        if not retry:
            break
        raw = spark.createDataFrame(retry, "key binary, value binary, topic string")
        now += 10_000  # beyond any exponential backoff in the test
    return outputs


def test_retry_success_after_backoff_and_give_up(spark, flaky_service):
    outputs = _drain(spark, flaky_service, _tasks(spark))
    done = [
        json.loads(bytes(r["value"]).decode())
        for r in outputs.get("api.TaskDone", [])
    ]
    done_ids = {d["payload"]["task_id"] for d in done}
    # t-ok first try, t-flaky after 1 retry; t-dead exhausts 2 attempts
    assert done_ids == {"t-ok", "t-flaky"}
    dead = [
        json.loads(bytes(r["value"]).decode())
        for r in outputs.get(DEAD_LETTER_TOPIC, [])
    ]
    assert len(dead) == 1
    assert dead[0]["payload"]["message"] == "handler failed"


def test_retry_respects_not_before(spark, flaky_service):
    raw = _tasks(spark)
    res1 = run_batch(flaky_service, raw, now_epoch=1_000_000)
    rt = res1.topic(retry_topic("api.FlakyTask"))
    assert rt is not None
    # attempt 1, exponential 10s → not_before = now + 10
    metas = [
        json.loads(bytes(r["value"]).decode())["meta"] for r in rt.collect()
    ]
    assert {m["extra"]["attempt"] for m in metas} == {"1"}
    assert {m["extra"]["not_before_epoch"] for m in metas} == {"1000010"}
    # clock NOT advanced → rows requeue untouched, nothing dispatched
    res2 = run_batch(flaky_service, rt, now_epoch=1_000_005)
    done = res2.topic("api.TaskDone")
    assert done is None or done.isEmpty()  # the branch is declared, empty
    requeued = res2.topic(retry_topic("api.FlakyTask"))
    assert requeued is not None and len(requeued.collect()) == 2


def test_row_handler_catches_exceptions(spark):
    def py_handler(rec: dict) -> dict:
        if rec["fail_times"] > 0:
            raise ValueError("boom")
        return {"task_id": rec["task_id"], "result": "ok"}

    s = Service("py-service")
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    s.declare_type(
        "api.T",
        StructType(
            [
                StructField("task_id", StringType()),
                StructField("fail_times", IntegerType()),
                StructField("payload", StringType()),
            ]
        ),
    )
    s.declare_type(
        "api.R",
        StructType(
            [
                StructField("task_id", StringType()),
                StructField("result", StringType()),
            ]
        ),
    )
    s.register_stream(
        "api.T",
        "api.R",
        row_handler(py_handler, [("task_id", "string"), ("result", "string")]),
    )
    df = spark.createDataFrame([("a", 0, "p"), ("b", 1, "p")], TASK_DDL)
    res = run_batch(s, encode_envelope(df, "api.T"))
    ok = [
        json.loads(bytes(r["value"]).decode())["payload"]
        for r in res.topic("api.R").collect()
    ]
    assert ok == [{"task_id": "a", "result": "ok"}]
    assert len(res.topic(DEAD_LETTER_TOPIC).collect()) == 1  # no policy → dead-letter


def test_selective_retry_pattern(spark):
    """ST2: only errors matching retry_on retry; others dead-letter at
    once (PartialFunction.isDefinedAt analog)."""
    from pyspark.sql.types import StringType, StructField, StructType

    s = Service("selective-svc")
    sch = StructType(
        [
            StructField("task_id", StringType()),
            StructField("kind", StringType()),
        ]
    )
    s.declare_type("api.S", sch)
    s.declare_type("api.S.done", sch)

    def handler(df):
        return df.select(
            "meta",
            "task_id",
            "kind",
            F.when(F.col("kind") == "transient", "TransientError: x")
            .when(F.col("kind") == "fatal", "FatalError: y")
            .alias("_error"),
        )

    s.register_stream(
        "api.S",
        "api.S.done",
        handler,
        retry=RetryPolicy(3, 5.0, BackoffShape.NONE),
        retry_on="^Transient",
    )
    df = spark.createDataFrame(
        [("ok", "none"), ("t1", "transient"), ("f1", "fatal")],
        "task_id string, kind string",
    )
    res = run_batch(s, encode_envelope(df, "api.S"), now_epoch=100)
    # transient → retry topic; fatal → dead letter; ok → done
    rt = res.topic(retry_topic("api.S"))
    assert rt is not None and len(rt.collect()) == 1
    dl = res.topic(DEAD_LETTER_TOPIC)
    assert dl is not None and len(dl.collect()) == 1
    done = [
        json.loads(bytes(r["value"]).decode())["payload"]["task_id"]
        for r in res.topic("api.S.done").collect()
    ]
    assert done == ["ok"]


def test_socket_push_delivery(spark):
    """SocketEvent analog: replies carrying a socket_id also land on the
    per-socket push topic (event/package.scala:156-159)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from typebus_spark.codec.envelope import new_meta
    from typebus_spark.runtime import SOCKET_TOPIC_PREFIX

    s = Service("socket-svc")
    sch = StructType([StructField("msg", StringType())])
    s.declare_type("api.Ping", sch)
    s.declare_type("api.Pong", sch)
    s.register_stream(
        "api.Ping",
        "api.Pong",
        lambda df: df.select("meta", F.upper("msg").alias("msg")),
    )
    df = spark.createDataFrame([("hello",)], "msg string")
    meta = new_meta("api.Ping", socket_id=F.lit("sock-42"))
    res = run_batch(s, encode_envelope(df, "api.Ping", meta=meta))
    [row] = res.topic(f"{SOCKET_TOPIC_PREFIX}sock-42").collect()
    v = json.loads(bytes(row["value"]).decode())
    assert v["payload"]["msg"] == "HELLO"
    assert v["meta"]["socket_id"] == "sock-42"


def test_parse_event_type():
    from typebus_spark.codec.envelope import parse_event_type

    assert parse_event_type("api.OrderPlaced") == "OrderPlaced"
    assert parse_event_type("io.x.OrderPlaced") == "io.x.OrderPlaced"


# ---------------------------------------------------------------- RPC ----


def _decoded(spark, rows, ddl, event_type, response_to=None, occurred=None):
    df = spark.createDataFrame(rows, ddl)
    meta = new_meta(
        event_type,
        response_to=F.col("_rt") if response_to else None,
        occurred_at=F.col("_at").cast("timestamp") if occurred else None,
    )
    cols = [c for c in df.columns if not c.startswith("_")]
    return df.select(
        meta.alias("meta"), F.struct(*[F.col(c) for c in cols]).alias("payload")
    )


def test_rpc_correlation_completed_timeout_pending(spark):
    reqs = spark.createDataFrame(
        [("r1", "2024-01-01 00:00:00"), ("r2", "2024-01-01 00:00:00"),
         ("r3", "2024-01-01 00:10:00")],
        "q string, _at string",
    ).select(
        F.struct(
            F.col("q").alias("event_id"),
            F.lit("cid").alias("correlation_id"),
            F.lit(None).cast("string").alias("response_to"),
            F.col("_at").cast("timestamp").alias("occurred_at"),
        ).alias("meta"),
        F.struct(F.col("q").alias("q")).alias("payload"),
    )
    resps = spark.createDataFrame(
        [("r1", "2024-01-01 00:00:01", "ans1"),
         ("r1", "2024-01-01 00:00:02", "dup-late")],
        "rt string, _at string, a string",
    ).select(
        F.struct(
            F.lit("e").alias("event_id"),
            F.lit("cid").alias("correlation_id"),
            F.col("rt").alias("response_to"),
            F.col("_at").cast("timestamp").alias("occurred_at"),
        ).alias("meta"),
        F.struct(F.col("a").alias("a")).alias("payload"),
    )
    out = correlate_batch(
        reqs,
        resps,
        timeout_seconds=4.0,
        now=F.lit("2024-01-01 00:10:02").cast("timestamp"),
    )
    rows = {r["request_id"]: r for r in out.collect()}
    assert rows["r1"]["status"] == "completed"
    assert rows["r1"]["right"]["a"] == "ans1"  # earliest response wins
    assert rows["r1"]["left"] is None
    assert rows["r2"]["status"] == "timeout"
    assert "TimeoutException" in rows["r2"]["left"]["throwable_type"]
    assert rows["r3"]["status"] == "pending"  # within timeout window still


# ------------------------------------------------------------- entity ----


EVENTS_DDL = "id string, ts timestamp, status string, amount double"


def _entity_events(spark):
    return spark.createDataFrame(
        [
            ("e1", "2024-01-01 00:00:00", "created", 1.0),
            ("e1", "2024-01-01 00:01:00", "paid", 2.0),
            ("e2", "2024-01-01 00:00:30", "created", 5.0),
        ],
        "id string, ts string, status string, amount double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_fold_last_value_snapshot(spark):
    snap = fold_last_value(_entity_events(spark), "id", "ts")
    rows = {r["id"]: r for r in snap.collect()}
    assert rows["e1"]["status"] == "paid"
    assert rows["e2"]["status"] == "created"


def test_fold_events_general(spark):
    def fold(state, rec):
        state = state or {"id": rec["id"], "n": 0, "total": 0.0, "status": ""}
        return {
            "id": rec["id"],
            "n": state["n"] + 1,
            "total": state["total"] + rec["amount"],
            "status": rec["status"],
        }

    snap = fold_events(
        _entity_events(spark),
        "id",
        "ts",
        fold,
        "id string, n long, total double, status string",
    )
    rows = {r["id"]: r for r in snap.collect()}
    assert rows["e1"]["n"] == 2 and rows["e1"]["total"] == 3.0
    assert rows["e1"]["status"] == "paid"  # event-time ordered fold


def test_fold_last_value_ties_are_order_free(spark):
    """Eight events of one key at the same ``ts``: the winner is the row
    with the greatest state columns (``status``, then ``amount``), whole,
    however the rows are ordered and partitioned on input."""
    rows = [
        ("e1", "2024-01-01 00:00:00", f"s{i}", float(7 - i)) for i in range(8)
    ]
    ddl = "id string, ts string, status string, amount double"
    for n in (1, 2, 3, 8):
        for ordered in (rows, rows[::-1]):
            events = spark.createDataFrame(
                spark.sparkContext.parallelize(ordered, n), ddl
            ).withColumn("ts", F.col("ts").cast("timestamp"))
            got = fold_last_value(events, "id", "ts").collect()
            assert [(r["status"], r["amount"]) for r in got] == [("s7", 0.0)]


def test_fold_last_value_merges_updates(spark):
    """modifyState as a fold: a snapshot unioned with newer updates folds
    to the updated state, and keys without an update keep theirs."""
    snap = fold_last_value(_entity_events(spark), "id", "ts")
    upd = spark.createDataFrame(
        [("e2", "2024-01-01 01:00:00", "shipped", 6.0)],
        "id string, ts string, status string, amount double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merged = fold_last_value(snap.unionByName(upd), "id", "ts")
    assert {r["id"]: r["status"] for r in merged.collect()} == {
        "e1": "paid",
        "e2": "shipped",
    }


def test_drop_head_keeps_newest(spark):
    from typebus_spark.streaming.retry import drop_head

    df = spark.createDataFrame(
        [(k, i) for k in ("a", "b") for i in range(5)], "k string, seq long"
    )
    # buffer of 3: newest 3 by seq survive regardless of key
    kept = drop_head(df, 3, "seq").collect()
    assert len(kept) == 3 and all(r["seq"] >= 3 for r in kept)


def test_drain_buffer_requires_order(spark):
    import pytest as _pytest

    from typebus_spark.codec.envelope import encode_envelope
    from typebus_spark.registry import RetryPolicy, Service
    from typebus_spark.runtime import drain_batches

    svc = Service("shed-misuse")
    from pyspark.sql.types import LongType, StructField, StructType

    svc.declare_type("api.X", StructType([StructField("i", LongType())]))
    svc.declare_type("api.X.done", StructType([StructField("i", LongType())]))
    svc.register_stream(
        "api.X",
        "api.X.done",
        lambda df: df.select("meta", "i", F.lit("boom").alias("_error")),
        retry=RetryPolicy(2, 1.0),
    )
    raw = encode_envelope(
        spark.createDataFrame([(1,), (2,)], "i long"), "api.X"
    )
    with _pytest.raises(ValueError, match="buffer_order"):
        drain_batches(svc, raw, buffer_size=1)


def test_drain_shed_buffer_keeps_newest_only(spark):
    """buffer_size=2 on a 10-deep retry queue: only the two newest
    (by payload sequence) re-inject and complete; the rest shed
    silently (no dead-letters — shedding is not failure)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from typebus_spark.codec.envelope import encode_envelope
    from typebus_spark.registry import RetryPolicy, Service
    from typebus_spark.runtime import DEAD_LETTER_TOPIC, drain_batches

    payload = StructType([StructField("seq", LongType())])
    svc = Service("shed-test")
    svc.declare_type("api.T", payload)
    svc.declare_type("api.T.done", payload)

    def handler(df):
        attempt = F.coalesce(
            F.col("meta.extra").getItem("attempt").cast("int"), F.lit(0)
        )
        return df.select(
            "meta",
            "seq",
            F.when(attempt < 1, F.lit("transient")).alias("_error"),
        )

    svc.register_stream("api.T", "api.T.done", handler, retry=RetryPolicy(2, 1.0))
    raw = encode_envelope(
        spark.createDataFrame([(i,) for i in range(10)], "seq long"), "api.T"
    )
    res = drain_batches(
        svc, raw, buffer_size=2, buffer_order=F.col("payload.seq")
    )
    rows = res.union_all().collect()
    import json as _json

    done = [
        _json.loads(bytes(r["value"]))["payload"]["seq"]
        for r in rows
        if r["topic"] == "api.T.done"
    ]
    assert sorted(done) == [8, 9]  # newest two survived the buffer
    assert not [r for r in rows if r["topic"] == DEAD_LETTER_TOPIC]


def test_staged_stream_source_preserves_rows(spark, sf_dir):
    """The multi-file staged copy (r9) must carry the EXACT row multiset
    of events.parquet — same count, same per-column checksums, same ts
    values after the nanos normalization — whatever the file split."""
    import pyspark.sql.functions as F

    from typebus_spark.session import load_table, stage_events_stream

    stream = stage_events_stream(spark, sf_dir, "integrity_")
    # availableNow replay into a memory sink == batch read of the stage
    import uuid

    name = f"integrity_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    staged = spark.table(name)
    orig = load_table(spark, sf_dir, "events")

    def sig(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.pmod(
                    F.xxhash64("event_id", "user_id", "event_type",
                               F.col("ts").cast("string")),
                    F.lit(10**12),
                )
            ).alias("h"),
        ).collect()[0]

    a, b = sig(staged.select(orig.columns)), sig(orig)
    assert (a["n"], a["h"]) == (b["n"], b["h"])


@pytest.mark.parametrize(
    "qname,native",
    [
        ("q_stream_hourly", "native_stream_hourly"),
        ("mux_stream_hourly_append", "native_stream_hourly_append"),
        ("q_stream_dedup_bounded", "native_stream_dedup_bounded"),
        ("q_stream_stream_join", "native_stream_stream_join"),
        ("q_stream_session", "native_stream_session"),
        ("mux_stream_session_append", "native_stream_session_append"),
        ("mux_stream_sliding_append", "native_stream_sliding_append"),
        (
            "mux_stream_static_join_append",
            "native_stream_static_join_append",
        ),
    ],
)
def test_mux_matches_native_streaming(spark, sf_dir, qname, native):
    """The multiplexed consumer graph (streaming/mux.py) must emit
    EXACTLY what the per-query real-streaming form emits — same rows,
    same columns — for every shape it serves. This is the load-bearing
    pin for the r10 amortization: the mux handlers are per-micro-batch
    batch transforms (the reference's router architecture), and the
    single-batch availableNow replay makes their output equal the
    native query's finalized emission. Eight representative shapes:
    complete-mode window agg, append+watermark eviction (tumbling,
    sliding, stream-static join), watermark-bounded dedup, stateful
    two-sided join, session windows (complete and append forms). The
    append pairs use the explicit mux_* entry points because
    q_stream_hourly_append runs its native form."""
    from typebus_spark.queries import dataflow as dfq
    from typebus_spark.suite import QUERIES

    mux_fn = getattr(dfq, qname, None) or QUERIES[qname].fn
    mux_df = mux_fn(spark, sf_dir)
    nat_df = getattr(dfq, native)(spark, sf_dir)
    assert mux_df.columns == nat_df.columns
    cols = mux_df.columns
    mux_rows = sorted(map(tuple, mux_df.select(cols).collect()))
    nat_rows = sorted(map(tuple, nat_df.select(cols).collect()))
    assert mux_rows == nat_rows, (qname, len(mux_rows), len(nat_rows))


def test_mux_single_batch_invariant(spark, sf_dir):
    """The mux handlers aggregate per micro-batch, so the scaffold is
    only correct when the availableNow replay lands in ONE batch. Pin
    the two halves of the invariant: (a) the staged source is far
    below the file source's default maxFilesPerTrigger (1000), so one
    batch is guaranteed; (b) the scaffold actually produced every
    registered handler's table for this (session, dir)."""
    import os

    from typebus_spark.session import _STREAM_STAGE_CACHE
    from typebus_spark.streaming.mux import _HANDLERS, _run_mux

    tables = _run_mux(spark, sf_dir)
    assert set(tables) == set(_HANDLERS)
    src = os.path.join(sf_dir, "events.parquet")
    stage = _STREAM_STAGE_CACHE[(src, os.path.getmtime(src))]
    n_files = len(
        [f for f in os.listdir(stage) if f.endswith(".parquet")]
    )
    assert 0 < n_files < 1000, n_files


def test_drain_round_bound_arithmetic(spark):
    """_drain_round_bound is the give-up filter as arithmetic: per
    retry stream, 1 initial round + one round per allowed attempt (every
    queued row is due in the next round); per-service max; None when no
    stream retries. The columnar _retry_parts backoff agrees with
    ``RetryPolicy.backoff_seconds`` per shape (next-attempt semantics)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from typebus_spark.registry import BackoffShape, RetryPolicy, Service
    from typebus_spark.runtime import _drain_round_bound
    from typebus_spark.streaming.retry import ATTEMPT_KEY, _retry_parts

    # the router's backoff SQL on a row that has failed a-1 times (it
    # computes the NEXT attempt, a), attempts 1..4
    for shape in BackoffShape:
        p = RetryPolicy(4, 7.0, shape)
        for a in range(1, 5):
            extra = F.create_map(F.lit(ATTEMPT_KEY), F.lit(str(a - 1)))
            col_v = (
                spark.range(1)
                .select(F.struct(extra.alias("extra")).alias("meta"))
                .select(_retry_parts(p)[3].alias("d"))
                .first()["d"]
            )
            assert col_v == p.backoff_seconds(a), (shape, a)

    payload = StructType([StructField("i", LongType())])

    def mk(*policies):
        svc = Service("bound-test")
        svc.declare_type("api.B", payload)
        svc.declare_type("api.B.done", payload)
        for k, pol in enumerate(policies):
            svc.declare_type(f"api.B{k}", payload)
            svc.declare_type(f"api.B{k}.done", payload)
            svc.register_stream(
                f"api.B{k}", f"api.B{k}.done", lambda df: df, retry=pol
            )
        return svc

    # the q_retry_drain shape: max_attempts=2 -> bound 3, whatever the
    # backoff
    assert _drain_round_bound(
        mk(RetryPolicy(2, 10.0, BackoffShape.EXPONENTIAL))
    ) == 3
    # multi-stream: the max of per-stream bounds governs
    assert _drain_round_bound(
        mk(
            RetryPolicy(1, 1.0, BackoffShape.NONE),
            RetryPolicy(3, 1.0, BackoffShape.NONE),
        )
    ) == 4
    # no retrying stream -> None (loop exits on emptiness)
    assert _drain_round_bound(mk()) is None

