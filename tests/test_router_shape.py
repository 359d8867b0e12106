"""One router shape for every service: exact (topic, outcome) counts over
the service shapes the router serves, and a guard on the width of
the plan it builds.

Shapes:
- ``one_schema``: one data stream (plus the auto descriptor stream).
- ``entity_lookup``: one data stream, a ``register_entity`` lookup and
  the auto descriptor stream (the service_stream benchmark's shape).
- ``two_schemas``: two data payload schemas, one stream with a
  ``RetryPolicy``, an unroutable topic and a malformed value (the
  bus_batch benchmark's shape).
- ``two_retry_streams``: two retrying streams with different payload
  schemas, so a drain snapshots two retry queues per round.

A drain whose static round bound exceeds the round cap is checked
separately: the rows still queued at the cap are dead-lettered. A drain
fast-forwards time, so retry-topic rows queued by a wall-clock service
are due in its next round, and every input of a drain ends as exactly one
reply or one dead letter within the bound.

A warm batch does only its own data's work: a second drain or service
poll over fresh rows compiles no generated code, nor does a warm poll
of a retrying service on the wall clock, the entity lookup joins its
cached snapshot by broadcast, and the fresh event ids and clock reads
that make this possible stay unique and correct.
"""

from __future__ import annotations

import json
import re
import time
from collections import Counter
from datetime import datetime, timezone

import pyspark.sql.functions as F
import pytest
from conftest import compiled_classes

from typebus_spark import runtime
from typebus_spark.codec.envelope import encode_envelope, new_meta
from typebus_spark.registry import BackoffShape, RetryPolicy, Service
from typebus_spark.runtime import (
    _MAX_DRAIN_ROUNDS,
    FileBus,
    _drain_round_bound,
    drain_batches,
    run_batch,
    start_service,
)

ORDER = "order_id string, user_id string, qty int, price double"
PRICED = "order_id string, user_id string, total double"
TASK = "task_id long, fail_times int"
JOB = "job_id string, fail_times int, weight double"
QUOTE = "seq long, user_id string, qty int"
ACCOUNT = "id string, tier string"


def _schema(spark, ddl):
    return spark.createDataFrame([], ddl).schema


def _price(df):
    return df.select(
        "meta", "order_id", "user_id", (F.col("qty") * F.col("price")).alias("total")
    )


def _failing(*cols):
    """A handler that fails a row while its attempt < ``fail_times``."""

    def handler(df):
        attempt = F.coalesce(
            F.col("meta.extra").getItem("attempt").cast("int"), F.lit(0)
        )
        return df.select(
            "meta",
            *cols,
            "fail_times",
            F.when(attempt < F.col("fail_times"), F.lit("transient")).alias(
                "_error"
            ),
        )

    return handler


_work = _failing("task_id")


def _orders(spark, n=3):
    rows = [(f"o{i}", f"u{i}", i + 1, 2.0) for i in range(n)]
    return encode_envelope(spark.createDataFrame(rows, ORDER), "api.Order")


def _one_schema(spark):
    svc = Service("shape-one")
    svc.declare_type("api.Order", _schema(spark, ORDER))
    svc.declare_type("api.Priced", _schema(spark, PRICED))
    svc.register_stream("api.Order", "api.Priced", _price, partition_key="user_id")
    return svc, _orders(spark)


def _entity_lookup(spark):
    svc = Service("shape-entity")
    svc.declare_type("api.Quote", _schema(spark, QUOTE))
    svc.declare_type("api.QuoteReply", _schema(spark, QUOTE))
    svc.declare_type("api.Account", _schema(spark, ACCOUNT))
    svc.register_stream(
        "api.Quote",
        "api.QuoteReply",
        lambda df: df.select("meta", "seq", "user_id", (F.col("qty") * 2).alias("qty")),
    )
    svc.register_entity(
        "accounts",
        "api.Account",
        snapshot=spark.createDataFrame([("a1", "gold"), ("a2", "free")], ACCOUNT),
    )
    rpc = new_meta(
        "api.Quote",
        direct_reply_path=F.lit("/user/gather"),
        direct_reply_service=F.lit("client-svc"),
    )
    quotes = encode_envelope(
        spark.createDataFrame([(1, "u1", 1), (2, "u2", 2)], QUOTE), "api.Quote", meta=rpc
    ).unionByName(
        encode_envelope(spark.createDataFrame([(3, "u3", 3)], QUOTE), "api.Quote")
    )
    lookups = encode_envelope(
        spark.createDataFrame([("a1",), ("zz",)], "id string"), "api.Account.get"
    )
    desc = encode_envelope(
        spark.createDataFrame([("shape-entity",)], "service string"),
        Service.GET_DESCRIPTOR_FQN,
    )
    return svc, quotes.unionByName(lookups).unionByName(desc)


def _two_schemas(spark):
    svc = Service("shape-two")
    svc.declare_type("api.Order", _schema(spark, ORDER))
    svc.declare_type("api.Priced", _schema(spark, PRICED))
    svc.declare_type("api.Task", _schema(spark, TASK))
    svc.declare_type("api.TaskDone", _schema(spark, TASK))
    svc.register_stream("api.Order", "api.Priced", _price, partition_key="user_id")
    svc.register_stream(
        "api.Task",
        "api.TaskDone",
        _work,
        retry=RetryPolicy(2, 5.0, BackoffShape.NONE),
    )
    tasks = encode_envelope(
        spark.createDataFrame([(1, 0), (2, 1), (3, 5)], TASK), "api.Task"
    )
    unroutable = encode_envelope(
        spark.createDataFrame([("x", "u", 1, 1.0)] * 2, ORDER), "api.Nowhere"
    )
    malformed = spark.createDataFrame(
        [(None, b"{not json", "api.Order")], FileBus.RAW_SCHEMA
    )
    raw = _orders(spark).unionByName(tasks).unionByName(unroutable)
    return svc, raw.unionByName(malformed)


def _two_retry_streams(spark):
    svc = Service("shape-retry2")
    svc.declare_type("api.Task", _schema(spark, TASK))
    svc.declare_type("api.TaskDone", _schema(spark, TASK))
    svc.declare_type("api.Job", _schema(spark, JOB))
    svc.declare_type("api.JobDone", _schema(spark, JOB))
    svc.register_stream(
        "api.Task",
        "api.TaskDone",
        _work,
        retry=RetryPolicy(2, 5.0, BackoffShape.NONE),
    )
    svc.register_stream(
        "api.Job",
        "api.JobDone",
        _failing("job_id", "weight"),
        retry=RetryPolicy(3, 5.0, BackoffShape.LINEAR),
    )
    tasks = encode_envelope(
        spark.createDataFrame([(1, 0), (2, 1), (3, 5)], TASK), "api.Task"
    )
    jobs = encode_envelope(
        spark.createDataFrame(
            [("j1", 0, 1.0), ("j2", 2, 2.0), ("j3", 2, 3.0), ("j4", 4, 4.0)], JOB
        ),
        "api.Job",
    )
    return svc, tasks.unionByName(jobs)


SHAPES = {
    "one_schema": _one_schema,
    "entity_lookup": _entity_lookup,
    "two_schemas": _two_schemas,
    "two_retry_streams": _two_retry_streams,
}

NO_HANDLER = ("typebus.DeadLetter", "no handler for topic")
UNDECODABLE = ("typebus.DeadLetter", "undecodable payload")
GAVE_UP = ("typebus.DeadLetter", "handler failed")

# (topic, outcome) -> rows; the outcome is a dead letter's reason, else None
RUN_BATCH = {
    "one_schema": {("api.Priced", None): 3},
    "entity_lookup": {
        ("api.QuoteReply", None): 3,
        ("client-svc", None): 2,
        ("api.Account", None): 2,
        (Service.DESCRIPTOR_FQN, None): 1,
    },
    "two_schemas": {
        ("api.Priced", None): 3,
        ("api.TaskDone", None): 1,
        ("api.Task.retry", None): 2,
        NO_HANDLER: 2,
        UNDECODABLE: 1,
    },
    "two_retry_streams": {
        ("api.TaskDone", None): 1,
        ("api.Task.retry", None): 2,
        ("api.JobDone", None): 1,
        ("api.Job.retry", None): 3,
    },
}
# the drain re-runs retries in process: task 2 succeeds on its first
# retry, task 3 exhausts both and is dead-lettered; jobs j2 and j3
# succeed on their second retry, j4 exhausts all three
DRAIN = {
    **RUN_BATCH,
    "two_schemas": {
        ("api.Priced", None): 3,
        ("api.TaskDone", None): 2,
        NO_HANDLER: 2,
        UNDECODABLE: 1,
        GAVE_UP: 1,
    },
    "two_retry_streams": {
        ("api.TaskDone", None): 2,
        ("api.JobDone", None): 3,
        GAVE_UP: 2,
    },
}


def _outcomes(df) -> Counter:
    # collect, not count: count() prunes the envelope encode
    reason = F.when(
        F.col("topic") == "typebus.DeadLetter",
        F.get_json_object(F.col("value").cast("string"), "$.payload.message"),
    )
    return Counter(
        (r["topic"], r["reason"])
        for r in df.select("topic", reason.alias("reason")).collect()
    )


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_router_shape_outcomes(spark, shape):
    svc, raw = SHAPES[shape](spark)
    raw = raw.localCheckpoint(eager=True)
    got = _outcomes(run_batch(svc, raw, now_epoch=1_000_000).union_all())
    assert got == Counter(RUN_BATCH[shape])
    assert _outcomes(drain_batches(svc, raw).union_all()) == Counter(DRAIN[shape])


@pytest.mark.parametrize(
    "fail_times, done",
    [([11, 11, 11, 11], []), ([0, 9, 10, 11], [0, 1])],
)
def test_drain_round_cap_dead_letters_the_queue(spark, fail_times, done):
    """A drain whose static bound (13 rounds) exceeds the round cap: a
    task that succeeds by the last round replies, every task still
    queued after it is dead-lettered, so each task ends as exactly one
    reply or one dead letter."""
    svc = Service("round-cap")
    svc.declare_type("api.Task", _schema(spark, TASK))
    svc.declare_type("api.TaskDone", _schema(spark, TASK))
    svc.register_stream(
        "api.Task", "api.TaskDone", _work, retry=RetryPolicy(12, 0.0)
    )
    assert _drain_round_bound(svc) == 13 > _MAX_DRAIN_ROUNDS
    raw = encode_envelope(
        spark.createDataFrame(list(enumerate(fail_times)), TASK), "api.Task"
    )
    out = drain_batches(svc, raw).union_all()
    payload = F.get_json_object(F.col("value").cast("string"), "$.payload")
    rows = out.select("topic", payload.alias("p")).collect()
    by_topic = {"api.TaskDone": [], "typebus.DeadLetter": []}
    for r in rows:
        by_topic[r["topic"]].append(json.loads(r["p"]))
    replied = sorted(p["task_id"] for p in by_topic["api.TaskDone"])
    dead = by_topic["typebus.DeadLetter"]
    assert replied == done
    assert len(dead) == len(fail_times) - len(done)
    assert len(rows) == len(fail_times)
    for p in dead:
        assert p["message"] == "retry rounds exhausted"
        assert p["extra"] == {"topic": "api.Task"}


def _task_service(spark, name, policy):
    svc = Service(name)
    svc.declare_type("api.Task", _schema(spark, TASK))
    svc.declare_type("api.TaskDone", _schema(spark, TASK))
    svc.register_stream("api.Task", "api.TaskDone", _work, retry=policy)
    return svc


def _task_outcomes(df) -> list[tuple]:
    """(topic, dead-letter reason, dead letter's origin topic, the event
    id a dead letter responds to, reply's task id) of every output row."""
    value = F.col("value").cast("string")
    dead = F.col("topic") == "typebus.DeadLetter"
    cols = (
        F.col("topic"),
        F.when(dead, F.get_json_object(value, "$.payload.message")),
        F.when(dead, F.get_json_object(value, "$.payload.extra.topic")),
        F.when(dead, F.get_json_object(value, "$.meta.response_to")),
        F.get_json_object(value, "$.payload.task_id"),
    )
    return [tuple(r) for r in df.select(*cols).collect()]


def test_drain_replies_to_queued_future_retry(spark):
    """A drain fast-forwards time: a retry-topic row that a wall-clock
    batch queued (attempt 1, ``not_before`` in the future) is due in the
    drain's next round, so it and a fresh task both reply — the row is
    neither left pending nor dropped when the drain stops."""
    svc = _task_service(spark, "queued-retry", RetryPolicy(2, 3600.0))
    first = run_batch(
        svc, encode_envelope(spark.createDataFrame([(1, 1)], TASK), "api.Task")
    )
    queued = first.topic("api.Task.retry").localCheckpoint(eager=True)
    (row,) = queued.collect()
    extra = json.loads(bytes(row["value"]).decode())["meta"]["extra"]
    assert extra["attempt"] == "1"
    assert int(extra["not_before_epoch"]) > time.time()

    fresh = encode_envelope(spark.createDataFrame([(2, 0)], TASK), "api.Task")
    out = drain_batches(svc, fresh.unionByName(queued)).union_all()
    assert sorted((topic, int(t)) for topic, *_, t in _task_outcomes(out)) == [
        ("api.TaskDone", 1),
        ("api.TaskDone", 2),
    ]


@pytest.mark.parametrize(
    "max_attempts, fail_times",
    [(m, f) for m in (1, 3) for f in range(m + 2)],
)
def test_drain_conserves_every_input(spark, monkeypatch, max_attempts, fail_times):
    """Fresh rows and queued retry-topic rows (attempt 1, ``not_before``
    past or future) in one drain: each input ends as exactly one reply or
    one "handler failed" dead letter, and the drain calls ``run_batch``
    at most ``_drain_round_bound`` times."""
    svc = _task_service(
        spark, "conserve", RetryPolicy(max_attempts, 5.0, BackoffShape.LINEAR)
    )
    fresh = encode_envelope(
        spark.createDataFrame([(0, fail_times), (1, fail_times)], TASK), "api.Task"
    )
    past, future = "1", "4102444800"  # 1970 and 2100
    df = spark.createDataFrame(
        [(2, fail_times, past), (3, fail_times, future), (4, fail_times, future)],
        TASK + ", nb string",
    )
    extra = F.create_map(
        F.lit("attempt"), F.lit("1"), F.lit("not_before_epoch"), F.col("nb")
    )
    meta = new_meta("api.Task").withField("extra", extra)
    queued = encode_envelope(
        df, "api.Task.retry", ["task_id", "fail_times"], meta=meta
    )

    calls = []
    real = runtime.run_batch

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    inputs = fresh.unionByName(queued).localCheckpoint(eager=True)
    event_id = F.get_json_object(F.col("value").cast("string"), "$.meta.event_id")
    ids = [r[0] for r in inputs.select(event_id).collect()]
    monkeypatch.setattr(runtime, "run_batch", counted)
    got = _task_outcomes(drain_batches(svc, inputs).union_all())
    monkeypatch.undo()

    # a row fails while its attempt < fail_times; a fresh row starts at
    # attempt 0, a queued one at 1, and either may retry up to attempt
    # max_attempts. A dead letter responds to the event it stands for.
    if fail_times <= max_attempts:
        assert sorted((topic, int(t)) for topic, *_, t in got) == [
            ("api.TaskDone", t) for t in range(5)
        ]
    else:
        assert sorted(got) == sorted(
            ("typebus.DeadLetter", "handler failed", "api.Task", i, None)
            for i in ids
        )
    assert 1 <= len(calls) <= _drain_round_bound(svc)


def _union_width(df) -> int:
    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() != "Union":
        node = node.children().apply(0)
    return node.children().size()


@pytest.mark.parametrize(
    "shape, max_branches", [("two_schemas", 8), ("entity_lookup", 7)]
)
def test_router_plan_width(spark, shape, max_branches):
    """One Union branch per (stream, source frame) plus one for unroutable
    rows, and the handler planned once: the entity lookup's join appears
    a single time even though its replies fan out and are traced."""
    svc, raw = SHAPES[shape](spark)
    out = run_batch(svc, raw.localCheckpoint(eager=True)).union_all()
    assert _union_width(out) <= max_branches
    if shape == "entity_lookup":
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("Join LeftOuter") == 1


def test_warm_drain_compiles_nothing(spark):
    """The second drain of a service over a fresh batch reuses every
    generated class of the first: no per-plan value reaches the
    generated code, and the codegen cache holds a whole drain."""
    svc, raw = _two_schemas(spark)
    _outcomes(drain_batches(svc, raw).union_all())
    fresh = _two_schemas(spark)[1]
    before = compiled_classes(spark)
    assert _outcomes(drain_batches(svc, fresh).union_all()) == Counter(
        DRAIN["two_schemas"]
    )
    assert compiled_classes(spark) == before


def test_warm_service_poll_compiles_nothing(spark, tmp_path):
    """The second ``start_service`` poll of an entity-lookup service, over
    fresh requests on the same topics, compiles no generated code."""
    svc, raw = _entity_lookup(spark)
    bus = FileBus(str(tmp_path / "bus"))
    ck = str(tmp_path / "ck")
    bus.publish(raw)
    start_service(svc, bus, spark, ck).awaitTermination(60)
    bus.publish(_entity_lookup(spark)[1])
    before = compiled_classes(spark)
    start_service(svc, bus, spark, ck).awaitTermination(60)
    assert compiled_classes(spark) == before
    # both polls answered: two lookups each, one hit and one miss
    assert bus.read(spark, ["api.Account"]).count() == 4


def test_warm_retry_poll_compiles_nothing(spark, tmp_path):
    """A service with a ``RetryPolicy`` polled without a pinned time: the
    third poll over fresh rows compiles no generated code. The wall clock
    reaches the plan as a column, not as a literal folded per batch. The
    first poll has no retry-topic input yet, so two polls warm up."""
    svc = _two_schemas(spark)[0]
    bus = FileBus(str(tmp_path / "bus"))
    ck = str(tmp_path / "ck")
    for _ in range(3):
        bus.publish(_two_schemas(spark)[1])
        before = compiled_classes(spark)
        start_service(svc, bus, spark, ck).awaitTermination(60)
    assert compiled_classes(spark) == before
    # every poll re-queued its failing tasks and answered every order
    assert bus.read(spark, ["api.Task.retry"]).count() >= 3 * 2
    assert bus.read(spark, ["api.Priced"]).count() == 3 * 3


def test_wall_clock_retry_outcomes(spark):
    """``run_batch`` without ``now_epoch`` reads the wall clock: a row
    whose ``not_before`` lies in the past (or is absent) is handled, one
    in the future is re-queued, and each row has exactly one outcome."""
    svc = Service("wall-clock")
    svc.declare_type("api.Task", _schema(spark, TASK))
    svc.declare_type("api.TaskDone", _schema(spark, TASK))
    svc.register_stream(
        "api.Task", "api.TaskDone", _work, retry=RetryPolicy(2, 5.0)
    )
    past, future = "1", "4102444800"  # 1970 and 2100
    not_before = [past] * 4 + [future] * 3 + [None] * 2
    df = spark.createDataFrame(
        [(i, 0, nb) for i, nb in enumerate(not_before)], TASK + ", nb string"
    )
    extra = F.when(
        F.col("nb").isNotNull(),
        F.create_map(F.lit("not_before_epoch"), F.col("nb")),
    ).otherwise(F.create_map().cast("map<string,string>"))
    meta = new_meta("api.Task").withField("extra", extra)
    raw = encode_envelope(df, "api.Task", ["task_id", "fail_times"], meta=meta)
    out = run_batch(svc, raw).union_all()
    task = F.get_json_object(F.col("value").cast("string"), "$.payload.task_id")
    got = [
        (r["topic"], int(r["t"]))
        for r in out.select("topic", task.alias("t")).collect()
    ]
    assert Counter(t for t, _ in got) == {"api.TaskDone": 6, "api.Task.retry": 3}
    assert Counter(i for _, i in got) == Counter(range(9))
    assert {i for t, i in got if t == "api.Task.retry"} == {4, 5, 6}


def test_entity_lookup_broadcasts_cached_snapshot(spark):
    """The snapshot is materialized at registration, so the planner knows
    its size and broadcasts it; no batch re-reads the rows it was built
    from."""
    svc, raw = _entity_lookup(spark)
    out = run_batch(svc, raw.localCheckpoint(eager=True)).union_all()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "InMemoryTableScan" in plan


_OCCURRED_AT = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z")


def _entity_batch_envelopes(spark) -> list[tuple[str, dict]]:
    """(topic, envelope) of every output of one fresh entity-shape batch."""
    svc, raw = _entity_lookup(spark)
    out = run_batch(svc, raw).union_all()
    return [
        (r["topic"], json.loads(bytes(r["value"]).decode()))
        for r in out.select("topic", "value").collect()
    ]


def test_fresh_ids_and_clock(spark):
    """Every new envelope gets its own random event id (and, when none is
    propagated, its own correlation id), an RPC reply keeps one id on
    every topic it is published to, and ``occurred_at`` is wall-clock
    time in the wire format."""
    t0 = datetime.now(timezone.utc)
    t0 = t0.replace(microsecond=t0.microsecond // 1000 * 1000)
    first = _entity_batch_envelopes(spark)
    second = _entity_batch_envelopes(spark)
    t1 = datetime.now(timezone.utc)

    def ids(batch):
        # an RPC reply goes to its out-type topic AND the caller's topic
        # as one event; every other output is an event of its own
        return [e["meta"]["event_id"] for t, e in batch if t != "client-svc"]

    for batch in (first, second):
        assert len(set(ids(batch))) == len(ids(batch)) == 6
        replies = {
            e["meta"]["response_to"]: e["meta"]["event_id"]
            for t, e in batch
            if t == "api.QuoteReply"
        }
        rpc = [e for t, e in batch if t == "client-svc"]
        assert len(rpc) == 2
        for e in rpc:
            assert e["meta"]["event_id"] == replies[e["meta"]["response_to"]]
    assert not set(ids(first)) & set(ids(second))

    # each reply carries its request's id and correlation id, both
    # fresh from the request's encode
    for field in ("response_to", "correlation_id"):
        got = [e["meta"][field] for t, e in first + second if t != "client-svc"]
        assert len(set(got)) == len(got) == 12

    for _, e in first + second:
        stamp = e["meta"]["occurred_at"]
        assert _OCCURRED_AT.fullmatch(stamp), stamp
        at = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=timezone.utc
        )
        assert t0 <= at <= t1
