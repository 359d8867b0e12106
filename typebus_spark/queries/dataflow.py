"""Dataflow inventory queries — the typebus semantics (routing, RPC
correlation, sessionization, streaming windows) exercised through the
REAL engine components (runtime router, correlate_batch, asof_join,
session_window, Structured Streaming) and oracle-checked in batch SQL.
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
from pyspark.sql import Window

from typebus_spark.codec.envelope import encode_envelope
from typebus_spark.functions.money import cents, money
from typebus_spark.operators.asof import asof_join
from typebus_spark.registry import Service
from typebus_spark.runtime import run_batch
from typebus_spark.session import (
    no_data_microbatches_disabled,
    pinned_shuffle_partitions,
)
from typebus_spark.streaming.mux import mux_handler, mux_result
from typebus_spark.streaming.rpc import correlate_batch
from typebus_spark.suite import query, t

# State-store partition count for the streaming inventory queries.
# Stateful shuffles are NOT AQE-coalesced and the count is fixed into
# the checkpoint at first start, so it must be chosen deliberately:
# size to peak state, not to cores (CLAUDE.md). At the bench SF the
# state is a few thousand rows: r6 measured 8 -> 4 halving per-trigger
# state-store open/commit (ssj 3.15 -> 2.37 s); the r8 sweep over
# {4, 2, 1} moved the pin to 2 (ssj 2.38 -> 1.82, hourly_append 1.33 ->
# 1.03, outer join 3.15 -> 2.40, min-of-2 at sf0.1) — 1 loses the
# multi-core merge on the session/outer shapes (2.24/2.72 s). An r9
# single-session sweep suggested 4 across the family, but the REQUIRED
# interleaved r8-vs-r9 pair (BASELINE.md protocol) showed that was
# order-bias: at 4, only the session shape actually improved (2.05 ->
# 1.67 interleaved min) while the light-state window aggs regressed
# ~5-8%. Hence TWO pins: 2 stays the family default;
# SESSION_STATE_PARTITIONS=4 for session_window merges (heavier
# per-key state work wants the extra cores). Sweeps MUST use the
# interleaved/alternating form — this host's load swings 2x within
# minutes and a sequential sweep reliably flatters whichever setting
# runs later. A production deployment at 100 TB raises both pins when
# starting its own checkpoints.
STREAM_STATE_PARTITIONS = 2
SESSION_STATE_PARTITIONS = 4

# Python-stateful operators (applyInPandasWithState) have a different
# optimum: per-GROUP pandas overhead in the Python worker dominates the
# state-store open/commit I/O that drives the JVM-stateful choice above,
# so more partitions buy parallel Python workers. Swept at sf0.1 on the
# entity fold (1500 keys): 4 → 3.3-3.5 s, 8 → 2.6-3.1 s, 16 → 2.1-3.0 s,
# 32 → 3.7 s (store-open cost takes over). 16 = cores/2 balances both.
PANDAS_STATE_PARTITIONS = 16

from functools import lru_cache  # noqa: E402


@lru_cache(maxsize=1)
def _fail_n_times_handler_cols() -> tuple:
    """Columns for the drain queries' fail-N-times handler — the drain
    loop re-invokes the handler per ROUND, and this ~20-round-trip tree
    was a measured per-round py4j cost (tools/py4j_sites.py)."""
    attempt = F.coalesce(
        F.col("meta.extra").getItem("attempt").cast("int"), F.lit(0)
    )
    return (
        F.col("meta"),
        F.col("event_id"),
        F.col("fail_times"),
        F.when(attempt < F.col("fail_times"), F.lit("transient")).alias(
            "_error"
        ),
    )


def _fail_n_times_handler(df):
    return df.select(*_fail_n_times_handler_cols())


@lru_cache(maxsize=1)
def _double_value_handler_cols() -> tuple:
    """Columns for the router queries' value-doubling handler — run_batch
    re-invokes the handler per warm build (2 streams × ~8 round trips
    measured at tools/py4j_sites.py; r12 verdict item 1)."""
    return (
        F.col("meta"),
        F.col("event_id"),
        F.col("user_id"),
        (F.col("value") * 2).alias("value"),
    )


def _double_value_handler(df):
    return df.select(*_double_value_handler_cols())


@lru_cache(maxsize=1)
def _topic_count_agg() -> F.Column:
    return F.count(F.lit(1)).alias("n")


@lru_cache(maxsize=1)
def _identity_payload_cols() -> tuple:
    return (
        F.col("meta"),
        F.col("event_id"),
        F.col("user_id"),
        F.col("value"),
    )


def _identity_payload_handler(df):
    return df.select(*_identity_payload_cols())


# Staged wire-format batches, memoized per (app, sf_dir, key) — the
# batch analogue of streaming's staged source (streaming/mux.py, same
# memoization precedent): encoding the fixture events into bus rows is
# input STAGING, not the operator under test — a production consumer
# receives wire bytes FROM the bus and never pays the producer-side
# encode. The decode+route side (the actual router semantics) stays
# live per pass: run_batch's per-stream decode checkpoints re-execute
# on every call, so the bench's stateful detection still measures the
# router's real per-batch work. First use materializes the lazy
# checkpoint (one encode per session+dir), later passes read the
# materialized rows.
_WIRE_CACHE: dict[tuple, object] = {}

# One-time staging wall per sf_dir (summed over keys) — surfaced by
# bench.py as staged_wire_sec, the mux LAST_SCAFFOLD_WALL precedent:
# memoized setup must never vanish from reported numbers (r12 ADVICE).
LAST_STAGED_WIRE_WALL: dict[str, float] = {}


def staged_wire(spark, sf_dir: str, key: str, build):
    k = (spark.sparkContext.applicationId, sf_dir, key)
    df = _WIRE_CACHE.get(k)
    if df is None:
        import time

        t0 = time.perf_counter()
        df = build().localCheckpoint(eager=False)
        # materialize NOW so the one-time encode is timed here (and the
        # nondeterministic-uuid rows are locked) instead of hiding
        # inside the first consumer's warm-up pass
        df.count()
        LAST_STAGED_WIRE_WALL[sf_dir] = round(
            LAST_STAGED_WIRE_WALL.get(sf_dir, 0.0)
            + (time.perf_counter() - t0),
            3,
        )
        _WIRE_CACHE[k] = df
    return df


@query(
    "q_route_counts",
    oracle="""
SELECT CASE WHEN event_type IN ('purchase', 'view')
            THEN 'api.' || event_type || '.done'
            ELSE 'typebus.DeadLetter' END AS topic,
       count(*) AS n
FROM events
GROUP BY 1
""",
    doc=(
        "R1/O2 routing through the actual runtime router: events become "
        "envelopes (topic = type FQN), registered handlers consume "
        "purchase/view, everything else dead-letters."
    ),
)
def q_route_counts(spark, sf_dir):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    events = t(spark, sf_dir, "events")
    payload_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    svc = Service("router-query")
    for et in ("purchase", "view"):
        svc.declare_type(f"api.{et}", payload_schema)
        svc.declare_type(f"api.{et}.done", payload_schema)
        svc.register_stream(
            f"api.{et}",
            f"api.{et}.done",
            _double_value_handler,
        )
    from typebus_spark.session import ensure_parallelism

    raw = staged_wire(
        spark, sf_dir, "events_api",
        lambda: encode_envelope(
            ensure_parallelism(events),  # events parquet arrives as 1 partition
            F.concat(F.lit("api."), F.col("event_type")),
            payload_cols=["event_id", "user_id", "value"],
        ),
    )
    # run_batch checkpoints the raw batch and its decode; every routed
    # branch scans the decoded rows instead of re-parsing the envelope
    # JSON (the router's most expensive expression)
    res = run_batch(svc, raw)
    # single-pass tail: every output row carries its destination topic, so
    # one union + one groupBy aggregates all routes in ONE job (empty
    # branches contribute nothing and vanish); coalesce merges the
    # branches-x-partitions task explosion into one wave (narrow, no
    # shuffle — same work, ~20x fewer tasks to schedule)
    par = spark.sparkContext.defaultParallelism
    return (
        res.union_all()
        .coalesce(par)
        .groupBy("topic")
        .agg(_topic_count_agg())
    )


@query(
    "q_route_traced",
    oracle="""
WITH routed AS (
  SELECT CASE WHEN event_type IN ('purchase', 'view')
              THEN 'api.' || event_type || '.done'
              ELSE 'typebus.DeadLetter' END AS topic
  FROM events),
counted AS (
  SELECT topic, count(*) AS n FROM routed GROUP BY topic),
handled AS (
  SELECT CAST(sum(n) AS BIGINT) AS h
  FROM counted WHERE topic <> 'typebus.DeadLetter')
SELECT topic, n FROM counted
UNION ALL
SELECT 'typebus.InEventTrace', h FROM handled
UNION ALL
SELECT 'typebus.OutEventTrace', h FROM handled
""",
    doc=(
        "O1 typed trace side-outputs through the live router with "
        "tracing ON: every consumed event re-publishes an InEventTrace "
        "and every reply an OutEventTrace (loop-guarded — traces are "
        "never traced), alongside the normal route/dead-letter flow "
        "(bus/package.scala:66-90 parity)."
    ),
)
def q_route_traced(spark, sf_dir):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from typebus_spark.session import ensure_parallelism

    events = t(spark, sf_dir, "events")
    payload_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    svc = Service("router-traced-query")
    for et in ("purchase", "view"):
        svc.declare_type(f"api.{et}", payload_schema)
        svc.declare_type(f"api.{et}.done", payload_schema)
        svc.register_stream(
            f"api.{et}",
            f"api.{et}.done",
            _identity_payload_handler,
        )
    raw = staged_wire(
        spark, sf_dir, "events_api",
        lambda: encode_envelope(
            ensure_parallelism(events),
            F.concat(F.lit("api."), F.col("event_type")),
            payload_cols=["event_id", "user_id", "value"],
        ),
    )
    res = run_batch(svc, raw, trace=True)
    par = spark.sparkContext.defaultParallelism
    return (
        res.union_all()
        .coalesce(par)
        .groupBy("topic")
        .agg(_topic_count_agg())
    )


@query(
    "q_retry_drain",
    oracle="""
SELECT CASE WHEN event_id % 4 = 3 THEN 'typebus.DeadLetter'
            ELSE 'api.Task.done' END AS topic,
       count(*) AS n
FROM events
GROUP BY 1
""",
    doc=(
        "ST1/ST2 retry machine through the real drain loop: task fails "
        "while attempt < event_id%4 with max_attempts=2 and exponential "
        "backoff — %4==3 exhausts retries and dead-letters, the rest "
        "succeed on a later attempt."
    ),
)
def q_retry_drain(spark, sf_dir):
    from pyspark.sql.types import LongType, StructField, StructType

    from typebus_spark.registry import BackoffShape, RetryPolicy
    from typebus_spark.runtime import drain_batches

    events = t(spark, sf_dir, "events")
    payload = StructType(
        [
            StructField("event_id", LongType()),
            StructField("fail_times", LongType()),
        ]
    )
    svc = Service("retry-query")
    svc.declare_type("api.Task", payload)
    svc.declare_type("api.Task.done", payload)

    svc.register_stream(
        "api.Task",
        "api.Task.done",
        _fail_n_times_handler,
        retry=RetryPolicy(2, 10.0, BackoffShape.EXPONENTIAL),
    )
    from typebus_spark.session import ensure_parallelism

    raw = staged_wire(
        spark, sf_dir, "task_fail4",
        lambda: encode_envelope(
            ensure_parallelism(
                events.select(
                    "event_id", (F.col("event_id") % 4).alias("fail_times")
                )
            ),
            "api.Task",
        ),
    )
    res = drain_batches(svc, raw)
    # single-pass tail: group on the per-row topic column across the
    # unioned outputs (empty lazy side-topics contribute no rows);
    # coalesce collapses rounds x branches x partitions into one task wave
    par = spark.sparkContext.defaultParallelism
    return (
        res.union_all()
        .coalesce(par)
        .groupBy("topic")
        .agg(_topic_count_agg())
    )


@query(
    "q_rpc_correlate",
    oracle="""
SELECT 'r' || CAST(event_id AS VARCHAR) AS request_id,
       CASE WHEN event_id % 2 = 0 THEN 'completed' ELSE 'timeout' END AS status,
       CASE WHEN event_id % 2 = 0 THEN round(value * 2, 2) END AS response_value,
       CASE WHEN event_id % 2 = 1
            THEN 'java.util.concurrent.TimeoutException' END AS err_type
FROM events
WHERE event_type = 'purchase'
""",
    doc=(
        "RPC1/RPC2 scatter-gather over correlate_batch: purchase events as "
        "requests; even event_ids get responses (response_to=request "
        "event_id), odd ones exceed the 4s timeout → ServiceException."
    ),
)
def q_rpc_correlate(spark, sf_dir):
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    requests = ev.select(
        F.struct(
            F.concat(F.lit("r"), F.col("event_id").cast("string")).alias(
                "event_id"
            ),
            F.concat(F.lit("c"), F.col("event_id").cast("string")).alias(
                "correlation_id"
            ),
            F.lit(None).cast("string").alias("response_to"),
            F.col("ts").alias("occurred_at"),
        ).alias("meta"),
        F.struct(F.col("value").alias("value")).alias("payload"),
    )
    responses = (
        ev.filter(F.col("event_id") % 2 == 0)
        .select(
            F.struct(
                F.concat(F.lit("resp"), F.col("event_id").cast("string")).alias(
                    "event_id"
                ),
                F.concat(F.lit("c"), F.col("event_id").cast("string")).alias(
                    "correlation_id"
                ),
                F.concat(F.lit("r"), F.col("event_id").cast("string")).alias(
                    "response_to"
                ),
                (F.col("ts") + F.expr("INTERVAL 1 SECOND")).alias("occurred_at"),
            ).alias("meta"),
            F.struct(F.round(F.col("value") * 2, 2).alias("value")).alias(
                "payload"
            ),
        )
    )
    out = correlate_batch(requests, responses, timeout_seconds=4.0)
    return out.select(
        "request_id",
        "status",
        F.col("right.value").alias("response_value"),
        F.col("left.throwable_type").alias("err_type"),
    )


@query(
    "q_entity_fold",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS cnt,
         sum(CAST(round(value * 100, 0) AS BIGINT))
           OVER (PARTITION BY user_id) AS tvc
  FROM events)
SELECT user_id,
       cnt AS n_events,
       event_type AS last_type,
       CAST(tvc AS DOUBLE) / 100.0 AS total_value
FROM ordered
WHERE rn = cnt
""",
    doc=(
        "E1 entity fold, vectorized: count/last/sum state expressed as "
        "ONE JVM hash aggregate (fold_aggregates + last_by_time struct-"
        "max) — map-side partials, single key shuffle. The per-record "
        "applyInPandas fold (fold_events) remains the escape hatch for "
        "non-algebraic folds and is pytest-covered."
    ),
)
def q_entity_fold(spark, sf_dir):
    from typebus_spark.streaming.entity import fold_aggregates, last_by_time

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    folded = fold_aggregates(
        ev,
        "user_id",
        {
            "n_events": F.count(F.lit(1)),
            "last_type": last_by_time("event_type", "ts", ["event_id"]),
            # exact integer-cents accumulation (functions.money rationale)
            "_cents": F.sum(cents("value")),
        },
    )
    return folded.select(
        "user_id",
        "n_events",
        "last_type",
        money(F.col("_cents"), 100).alias("total_value"),
    )


@query(
    "q_entity_lookup",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, value, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS cnt,
         sum(CAST(round(value * 100, 0) AS BIGINT))
           OVER (PARTITION BY user_id) AS tvc
  FROM events),
state AS (
  SELECT user_id, cnt AS n_events, event_type AS last_type,
         CAST(tvc AS DOUBLE) / 100.0 AS total_value
  FROM ordered WHERE rn = cnt),
req AS (SELECT DISTINCT user_id FROM events WHERE user_id % 3 = 0
        UNION SELECT 9999999 AS user_id)
SELECT r.user_id AS user_id, s.n_events, s.last_type, s.total_value
FROM req r LEFT JOIN state s ON r.user_id = s.user_id
""",
    doc=(
        "T4 DbAccessor lookup through the REAL runtime: register_entity "
        "auto-installs the <state_type>.get stream (Service.scala:66-71 "
        "parity); request envelopes are routed, joined against the "
        "fold_aggregates state snapshot, and answered as typed replies — "
        "a miss (id 9999999) answers with null state fields."
    ),
)
def q_entity_lookup(spark, sf_dir):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from typebus_spark.codec.envelope import decode_envelope
    from typebus_spark.session import ensure_parallelism
    from typebus_spark.streaming.entity import fold_aggregates, last_by_time

    ev = t(spark, sf_dir, "events")
    state = fold_aggregates(
        ev,
        "user_id",
        {
            "n_events": F.count(F.lit(1)),
            "last_type": last_by_time("event_type", "ts", ["event_id"]),
            "_cents": F.sum(cents("value")),
        },
    ).select(
        "user_id",
        "n_events",
        "last_type",
        money(F.col("_cents"), 100).alias("total_value"),
    )
    state_schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("n_events", LongType(), True),
            StructField("last_type", StringType(), True),
            StructField("total_value", DoubleType(), True),
        ]
    )
    svc = Service("entity-lookup-query")
    svc.declare_type("api.UserState", state_schema)
    svc.register_entity(
        "user", "api.UserState", key_col="user_id", snapshot=state
    )

    reqs = (
        ev.filter(F.col("user_id") % 3 == 0)
        .select("user_id")
        .distinct()
        .unionByName(
            spark.createDataFrame([(9999999,)], "user_id bigint")
        )
    )
    raw = staged_wire(
        spark, sf_dir, "userstate_get",
        lambda: encode_envelope(
            ensure_parallelism(reqs.select(F.col("user_id").alias("id"))),
            "api.UserState.get",
        ),
    )
    # run_batch checkpoints the raw batch and its decode; every routed
    # branch scans the decoded rows instead of re-parsing the envelope
    # JSON (the router's most expensive expression)
    res = run_batch(svc, raw)
    replies = res.topic("api.UserState")
    return decode_envelope(replies, state_schema).select("payload.*")


@query(
    "q_asof_enrich",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
     v AS (SELECT user_id, ts, event_id FROM events
           WHERE event_type IN ('view', 'click'))
SELECT p.event_id, p.user_id, p.ts, p.value,
       v.ts AS r_ts, v.event_id AS r_event_id
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
""",
    doc=(
        "As-of (point-in-time) join: each purchase enriched with the most "
        "recent prior view/click by the same user — union+window, one "
        "shuffle, no range explosion (operators.asof)."
    ),
)
def q_asof_enrich(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "ts", "event_id"
    )
    return asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="ts"
    )


@query(
    "q_range_join",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
     v AS (SELECT user_id, ts, event_id FROM events
           WHERE event_type IN ('view', 'click'))
SELECT p.event_id, p.user_id, p.ts,
       v.ts AS r_ts, v.event_id AS r_event_id
FROM p JOIN v ON p.user_id = v.user_id
  AND v.ts >= p.ts - INTERVAL 30 MINUTE
  AND v.ts <= p.ts
""",
    doc=(
        "Interval (range) join: every view/click within the 30 minutes "
        "before each purchase by the same user (attribution window) — "
        "bucketized to an equi-join on (key, coarse time bucket) + exact "
        "band filter, so cost is bounded by bucket collisions, never the "
        "per-key cross product (operators.asof.range_join)."
    ),
)
def q_range_join(spark, sf_dir):
    from typebus_spark.operators.asof import range_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "ts", "event_id"
    )
    return range_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        lower_seconds=-1800.0,
        upper_seconds=0.0,
    ).select("event_id", "user_id", "ts", "r_ts", "r_event_id")


@query(
    "q_sessionize",
    oracle="""
WITH m AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_last,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM g GROUP BY user_id, sid
""",
    doc=(
        "Sessionization via session_window (30 min gap) — the streaming-"
        "native session operator run in batch; oracle is gaps-and-islands."
    ),
)
def q_sessionize(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(F.sum(cents("value")), 100).alias("total_value"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
        )
        .select(
            "user_id", "session_start", "session_last", "n_events", "total_value"
        )
    )


@query(
    "q_stream_hourly",
    oracle="""
SELECT date_trunc('hour', ts) AS hour_start,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM events
GROUP BY 1
""",
    doc=(
        "Hourly tumbling-window aggregation served by the MULTIPLEXED "
        "consumer graph (streaming/mux.py): ONE Structured Streaming "
        "scaffold replays the staged event source and a foreachBatch "
        "fan-out runs every registered dataflow handler per micro-batch "
        "— the reference's single-consumer-graph architecture "
        "(KafkaBus.scala:191-242), amortizing the per-query "
        "checkpoint/WAL/start machinery across the whole family. The "
        "per-query REAL streaming form is kept as "
        "native_stream_hourly (complete-mode window agg + memory "
        "sink) and pinned output-identical to this handler by "
        "tests/test_streaming_ops.py::test_mux_matches_native_streaming."
    ),
)
def q_stream_hourly(spark, sf_dir):
    return mux_result(spark, sf_dir, "stream_hourly")


def _agg_hourly(df):
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(F.sum(cents("value")), 100).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"), "n_events", "total_value"
        )
    )


@mux_handler("stream_hourly")
def _mux_stream_hourly(spark, sf_dir, batch):
    return _agg_hourly(batch)


def native_stream_hourly(spark, sf_dir):
    """Per-query REAL Structured Streaming form of q_stream_hourly:
    file-source replay → 1-hour tumbling window aggregation → memory
    sink (complete mode) — kept live for the state-machinery tests and
    the mux==native parity pin."""
    from typebus_spark.session import stage_events_stream

    stream = stage_events_stream(spark, sf_dir, "stream_hourly_")
    agg = _agg_hourly(stream)
    name = f"hourly_{uuid.uuid4().hex[:8]}"
    with pinned_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return spark.table(name)


def _parse_delay(delay: str):
    """CalendarInterval-style '<n> <unit>' → timedelta, so the cutoff
    literal is DERIVED from the watermark delay (a caller passing a
    non-default delay must not silently keep a 1-hour cutoff — the
    strict-< finalized filter would no longer match the eviction
    horizon)."""
    import datetime

    n, unit = delay.strip().split()
    unit = unit.rstrip("s")
    seconds = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[unit]
    return datetime.timedelta(seconds=int(n) * seconds)


def _watermarked_events(spark, sf_dir, prefix, delay="1 hour"):
    """Event stream with a watermark column + the plan-time cutoff
    literal for provably-finalized output (the q_stream_outer_join
    cutoff technique, generalized for append-mode window aggs).

    ``wts`` reinterprets the NTZ event time as a UTC instant
    (to_utc_timestamp(cast, current_timezone())) — window buckets then
    align on the wall-clock grid in ANY session timezone, matching the
    oracle's NTZ date_trunc arithmetic; ``withWatermark`` rejects NTZ
    directly (CLAUDE.md). The cutoff is the final watermark max(ts) −
    delay, resolved from the batch table in one tiny plan-time scan
    (bench.py's job detection exempts such queries from its
    prepared-plan cache).
    """
    from typebus_spark.session import event_time_bounds, stage_events_stream

    max_ts = event_time_bounds(spark, sf_dir)["max_ts"]
    cutoff = max_ts - _parse_delay(delay)
    stream = (
        stage_events_stream(spark, sf_dir, prefix)
        .withColumn(
            "wts",
            F.expr("to_utc_timestamp(cast(ts as timestamp), current_timezone())"),
        )
        .withWatermark("wts", delay)
    )
    return stream, cutoff


def _ntz(col: str) -> F.Column:
    """Window-bound instant back to the NTZ wall clock (exact inverse
    of _watermarked_events' reinterpretation, identity on UTC hosts)."""
    return F.expr(
        f"cast(from_utc_timestamp({col}, current_timezone()) as timestamp_ntz)"
    )


_APPEND_DOC_TAIL = (
    "Output-determinism: append mode only emits state the watermark "
    "has closed, and the final watermark after an availableNow replay "
    "is max(ts) − 1 h — so BOTH engines keep only windows whose end is "
    "STRICTLY before that cutoff (strict < makes the result "
    "independent of Spark's eviction boundary rule), and the trailing "
    "no-data microbatch MUST stay enabled (it drives the final "
    "eviction — CLAUDE.md). State is evicted as windows close "
    "(tests/test_streaming_native.py pins numRowsTotal == open "
    "windows), which is what makes this the 100 TB form: state holds "
    "only the open horizon, never the history the complete-mode "
    "variant accumulates."
)


@query(
    "q_stream_hourly_append",
    oracle="""
WITH c AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
SELECT date_trunc('hour', ts) AS hour_start,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR < (SELECT wm FROM c)
GROUP BY 1
""",
    doc=(
        "PRODUCTION (append+watermark) form of q_stream_hourly: 1-hour "
        "tumbling windows with a 1-hour watermark, append-mode memory "
        "sink — windows emit exactly once when the watermark closes "
        "them, so the sink is write-once and state stays bounded by "
        "the open-window horizon. The one append query that runs its "
        "REAL append+watermark streaming query, so the watermark "
        "eviction machinery stays under the oracle check; the session, "
        "sliding and static_join append shapes read the multiplexed "
        "consumer graph. mux_stream_hourly_append applies the same "
        "finalized-output filter (window_end strictly before max(ts) "
        "− delay) to the handler output, mux==native pinned. "
        + _APPEND_DOC_TAIL
    ),
)
def q_stream_hourly_append(spark, sf_dir):
    return native_stream_hourly_append(spark, sf_dir)


def mux_stream_hourly_append(spark, sf_dir):
    cutoff = _append_cutoff(spark, sf_dir)
    return (
        mux_result(spark, sf_dir, "stream_hourly_append")
        .filter(F.col("window_end") < F.lit(cutoff).cast("timestamp_ntz"))
        .select("hour_start", "n_events", "total_value")
    )


def _append_cutoff(spark, sf_dir, delay="1 hour"):
    """Final-watermark cutoff literal (max event time − delay) the
    append-mode queries filter on — derived from the SAME delay the
    native watermark uses (r9 ADVICE fix), resolved from the cached
    bounds scan."""
    from typebus_spark.session import event_time_bounds

    return event_time_bounds(spark, sf_dir)["max_ts"] - _parse_delay(delay)


def _agg_hourly_append(df, ts_col="ts"):
    """Hourly windows + window_end for the finalization filter. On the
    batch (mux) side the NTZ event time feeds window() directly — the
    bounds come out NTZ on the wall-clock grid, which is exactly what
    the native form reconstructs via _ntz(to_utc_timestamp(...))."""
    agg = (
        df.groupBy(F.window(ts_col, "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(F.sum(cents("value")), 100).alias("total_value"),
        )
    )
    if ts_col == "ts":
        return agg.select(
            F.col("w.start").alias("hour_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    return agg.select(
        _ntz("w.start").alias("hour_start"),
        _ntz("w.end").alias("window_end"),
        "n_events",
        "total_value",
    )


@mux_handler("stream_hourly_append")
def _mux_stream_hourly_append(spark, sf_dir, batch):
    return _agg_hourly_append(batch)


def native_stream_hourly_append(spark, sf_dir):
    """Per-query REAL append+watermark streaming form of
    q_stream_hourly_append — kept live for the eviction-machinery
    tests and the mux==native parity pin."""
    stream, cutoff = _watermarked_events(spark, sf_dir, "stream_hourly_ap_")
    agg = _agg_hourly_append(stream, "wts")
    name = f"hourly_ap_{uuid.uuid4().hex[:8]}"
    with pinned_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return (
        spark.table(name)
        .filter(F.col("window_end") < F.lit(cutoff).cast("timestamp_ntz"))
        .select("hour_start", "n_events", "total_value")
    )


@query(
    "q_stream_session_append",
    oracle="""
WITH c AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
m AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM g GROUP BY user_id, sid
HAVING max(ts) + INTERVAL 30 MINUTE < (SELECT wm FROM c)
""",
    doc=(
        "PRODUCTION (append+watermark) form of q_stream_session: "
        "session_window (30 min gap) with a 1-hour watermark in append "
        "mode — a session emits exactly once, when the watermark passes "
        "its end (last event + gap), and its state is dropped; the "
        "oracle's gaps-and-islands replay keeps only sessions whose "
        "end is strictly closed. Served by the multiplexed consumer "
        "graph (q_stream_hourly_append is the one live append query); "
        "per-query streaming form kept as "
        "native_stream_session_append, mux==native pinned. "
        + _APPEND_DOC_TAIL
    ),
)
def q_stream_session_append(spark, sf_dir):
    return mux_stream_session_append(spark, sf_dir)


def mux_stream_session_append(spark, sf_dir):
    cutoff = _append_cutoff(spark, sf_dir)
    return mux_result(spark, sf_dir, "stream_session_append").filter(
        F.col("session_end") < F.lit(cutoff).cast("timestamp_ntz")
    )


def _agg_session_append(df, ts_col="ts"):
    """30-min-gap session windows + session_end for the finalization
    filter; session_window is the same expression in batch (mux
    handler) and streaming (native) form — on the batch side the NTZ
    event time feeds it directly, the native side reconstructs the
    wall clock via _ntz (see _agg_hourly_append)."""
    agg = df.groupBy(
        F.session_window(ts_col, "30 minutes").alias("w"),
        F.col("user_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        money(F.sum(cents("value")), 100).alias("total_value"),
    )
    if ts_col == "ts":
        return agg.select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    return agg.select(
        "user_id",
        _ntz("w.start").alias("session_start"),
        _ntz("w.end").alias("session_end"),
        "n_events",
        "total_value",
    )


@mux_handler("stream_session_append")
def _mux_stream_session_append(spark, sf_dir, batch):
    return _agg_session_append(batch)


def native_stream_session_append(spark, sf_dir):
    """Per-query REAL append+watermark session-window streaming form —
    kept for the mux==native parity pin."""
    stream, cutoff = _watermarked_events(spark, sf_dir, "stream_sess_ap_")
    agg = _agg_session_append(stream, "wts")
    name = f"sess_ap_{uuid.uuid4().hex[:8]}"
    with pinned_shuffle_partitions(spark, SESSION_STATE_PARTITIONS):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return spark.table(name).filter(
        F.col("session_end") < F.lit(cutoff).cast("timestamp_ntz")
    )


@query(
    "q_stream_sliding_append",
    oracle="""
WITH c AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
x AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts)
                   - INTERVAL '30 minutes']) AS window_start,
         value
  FROM events)
SELECT window_start, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM x
WHERE window_start + INTERVAL 1 HOUR < (SELECT wm FROM c)
GROUP BY 1
""",
    doc=(
        "PRODUCTION (append+watermark) form of q_stream_sliding: 1-hour "
        "windows sliding every 30 minutes with a 1-hour watermark in "
        "append mode — each overlapping window emits exactly once as "
        "the watermark closes it. Served by the multiplexed consumer "
        "graph (q_stream_hourly_append is the one live append query); "
        "per-query streaming form kept as "
        "native_stream_sliding_append, mux==native pinned. "
        + _APPEND_DOC_TAIL
    ),
)
def q_stream_sliding_append(spark, sf_dir):
    return mux_stream_sliding_append(spark, sf_dir)


def mux_stream_sliding_append(spark, sf_dir):
    cutoff = _append_cutoff(spark, sf_dir)
    return (
        mux_result(spark, sf_dir, "stream_sliding_append")
        .filter(F.col("window_end") < F.lit(cutoff).cast("timestamp_ntz"))
        .select("window_start", "n_events", "total_value")
    )


def _agg_sliding_append(df, ts_col="ts"):
    agg = df.groupBy(
        F.window(ts_col, "1 hour", "30 minutes").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        money(F.sum(cents("value")), 100).alias("total_value"),
    )
    if ts_col == "ts":
        return agg.select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    return agg.select(
        _ntz("w.start").alias("window_start"),
        _ntz("w.end").alias("window_end"),
        "n_events",
        "total_value",
    )


@mux_handler("stream_sliding_append")
def _mux_stream_sliding_append(spark, sf_dir, batch):
    return _agg_sliding_append(batch)


def native_stream_sliding_append(spark, sf_dir):
    """Per-query REAL append+watermark sliding-window streaming form —
    kept live for the parity pin."""
    stream, cutoff = _watermarked_events(spark, sf_dir, "stream_slide_ap_")
    agg = _agg_sliding_append(stream, "wts")
    name = f"slide_ap_{uuid.uuid4().hex[:8]}"
    with pinned_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return (
        spark.table(name)
        .filter(F.col("window_end") < F.lit(cutoff).cast("timestamp_ntz"))
        .select("window_start", "n_events", "total_value")
    )


@query(
    "q_stream_dedup",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
    doc=(
        "Streaming exact dedup: dropDuplicates over a replayed event "
        "stream — the streaming form of exact_dedup; state is the "
        "distinct-key set (watermark-bounded in production). Served by "
        "the multiplexed consumer graph (see q_stream_hourly); "
        "per-query streaming form kept as native_stream_dedup, "
        "mux==native pinned."
    ),
)
def q_stream_dedup(spark, sf_dir):
    return mux_result(spark, sf_dir, "stream_dedup")


@mux_handler("stream_dedup")
def _mux_stream_dedup(spark, sf_dir, batch):
    return batch.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )


def native_stream_dedup(spark, sf_dir):
    """Per-query REAL streaming dropDuplicates form — kept live for the
    parity pin."""
    from typebus_spark.session import stage_events_stream

    stream = stage_events_stream(spark, sf_dir, "stream_dedup_")
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    with pinned_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return spark.table(name)


@query(
    "q_stream_dedup_bounded",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
    doc=(
        "PRODUCTION form of q_stream_dedup: dropDuplicatesWithinWatermark "
        "— exact streaming dedup whose state is WATERMARK-BOUNDED (keys "
        "older than the watermark are evicted) instead of growing with "
        "the distinct-key set forever. Semantics: duplicates are "
        "guaranteed dropped only when they arrive within the watermark "
        "delay of the first sighting — exactly the at-least-once "
        "redelivery window a bus transport produces (reference "
        "KafkaBus.scala at-least-once commit), which is why bounded "
        "state suffices at 100 TB. The availableNow replay lands in one "
        "batch, so the emitted set equals batch DISTINCT and the oracle "
        "is exact. Served by the multiplexed consumer graph (see "
        "q_stream_hourly); the real dropDuplicatesWithinWatermark form "
        "is kept as native_stream_dedup_bounded (state bounds pinned "
        "by tests/test_streaming_native.py), mux==native pinned."
    ),
)
def q_stream_dedup_bounded(spark, sf_dir):
    return mux_result(spark, sf_dir, "stream_dedup_bounded")


@mux_handler("stream_dedup_bounded")
def _mux_stream_dedup_bounded(spark, sf_dir, batch):
    # one availableNow batch ⇒ the watermark-bounded dedup's emitted
    # set equals batch DISTINCT (every duplicate arrives "within" the
    # watermark of its first sighting)
    return batch.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )


def native_stream_dedup_bounded(spark, sf_dir):
    """Per-query REAL dropDuplicatesWithinWatermark form — kept live
    for the watermark-bounded-state tests and the parity pin."""
    stream, _ = _watermarked_events(spark, sf_dir, "stream_dedup_b_")
    deduped = stream.select(
        "user_id", "event_type", "wts"
    ).dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    name = f"dedupb_{uuid.uuid4().hex[:8]}"
    # eager-emit dedup: every surviving row is emitted the batch it is
    # first seen; the trailing no-data batch would only evict state
    # (CLAUDE.md r6 lever) — skip it.
    with pinned_shuffle_partitions(
        spark, STREAM_STATE_PARTITIONS
    ), no_data_microbatches_disabled(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return spark.table(name)


@query(
    "q_stream_session",
    oracle="""
WITH m AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT user_id,
       min(ts) AS session_start,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM g GROUP BY user_id, sid
""",
    doc=(
        "STREAMING sessionization: session_window (30 min gap) over a "
        "replayed event stream — the stateful merging-window operator. "
        "Complete mode emits every session for the deterministic oracle "
        "compare; production uses withWatermark + append so state is "
        "bounded and only closed sessions emit. Oracle is the same "
        "gaps-and-islands SQL as the batch form. Served by the "
        "multiplexed consumer graph (see q_stream_hourly); the "
        "per-query streaming session_window form is kept as "
        "native_stream_session (q_stream_hourly_append is the one "
        "append+watermark query that stays live in the inventory), "
        "mux==native pinned."
    ),
)
def q_stream_session(spark, sf_dir):
    return mux_result(spark, sf_dir, "stream_session")


def _agg_session(df, ts_col="ts"):
    return (
        df.groupBy(
            F.session_window(ts_col, "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(F.sum(cents("value")), 100).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@mux_handler("stream_session")
def _mux_stream_session(spark, sf_dir, batch):
    return _agg_session(batch)


def native_stream_session(spark, sf_dir):
    """Per-query REAL streaming session_window form (complete mode) —
    kept live for the parity pin."""
    from typebus_spark.session import stage_events_stream

    stream = stage_events_stream(spark, sf_dir, "stream_session_")
    agg = _agg_session(stream)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    with pinned_shuffle_partitions(spark, SESSION_STATE_PARTITIONS):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return spark.table(name)


@query(
    "q_stream_entity_state",
    oracle="""
SELECT user_id, ts, event_id, event_type, value
FROM (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
    doc=(
        "E1 CUSTOM STATEFUL STREAMING: per-key last-write-wins entity "
        "state via applyInPandasWithState (Arrow-batched, state-store "
        "backed — RocksDB on clusters, executed under both providers "
        "in tests/test_streaming_native.py) over a replayed stream. "
        "The availableNow replay lands in one batch, so update-mode "
        "emits exactly the final state per key — hash-checked against "
        "the batch window oracle."
    ),
)
def q_stream_entity_state(spark, sf_dir):
    from typebus_spark.session import stage_events_stream
    from typebus_spark.streaming.entity import streaming_fold_last

    stream = stage_events_stream(spark, sf_dir, "stream_entity_")
    cols = ["user_id", "ts", "event_id", "event_type", "value"]
    stream = stream.select(*cols)
    # DDL from the live schema: ts is TIMESTAMP_NTZ or TIMESTAMP
    # depending on how the reader surfaced the parquet nanos
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in stream.schema.fields
    )
    state = streaming_fold_last(
        stream, "user_id", "ts", ddl, tiebreak=["event_id"]
    )
    name = f"entity_{uuid.uuid4().hex[:8]}"
    with pinned_shuffle_partitions(spark, PANDAS_STATE_PARTITIONS):
        q = (
            state.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return spark.table(name)


@query(
    "q_stream_stream_join",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
     v AS (SELECT user_id, ts FROM events
           WHERE event_type IN ('view', 'click'))
SELECT p.event_id AS p_event_id, p.user_id, p.ts AS p_ts,
       count(*) AS n_attributed,
       min(v.ts) AS first_view_ts, max(v.ts) AS last_view_ts
FROM p JOIN v ON p.user_id = v.user_id
  AND v.ts >= p.ts - INTERVAL 30 MINUTE
  AND v.ts <= p.ts
GROUP BY 1, 2, 3
""",
    doc=(
        "STREAM-STREAM inner join with watermarks + a time-range "
        "condition (the stateful two-sided join operator): purchases "
        "joined to the views/clicks of the same user in the preceding "
        "30 minutes. The range condition bounds each side's state "
        "retention (Spark derives the state eviction horizon from "
        "watermark + interval — exactly the production attribution "
        "shape); the availableNow replay emits every match in append "
        "mode, and the memory-sink rows are aggregated per purchase in "
        "batch for a deterministic, bounded result. Served by the "
        "multiplexed consumer graph (see q_stream_hourly): the handler "
        "runs the same user-equi + time-range join per micro-batch "
        "(the replay lands in one batch, so per-batch join == the "
        "inner stream-stream join's emitted set — pinned mux==native); "
        "the REAL two-sided stateful join stays live in the inventory "
        "as q_stream_outer_join and as native_stream_stream_join here."
    ),
)
def q_stream_stream_join(spark, sf_dir):
    return mux_result(spark, sf_dir, "stream_stream_join")


@mux_handler("stream_stream_join")
def _mux_stream_stream_join(spark, sf_dir, batch):
    p = batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    v = batch.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
    )
    return (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user_id"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("v_ts") <= F.col("p_ts")),
            "inner",
        )
        .groupBy("p_event_id", "user_id", "p_ts")
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.min("v_ts").alias("first_view_ts"),
            F.max("v_ts").alias("last_view_ts"),
        )
    )


def native_stream_stream_join(spark, sf_dir):
    """Per-query REAL stream-stream inner join — kept live for the
    state-machinery tests and the parity pin."""
    from typebus_spark.session import stage_events_stream

    # SELF-join on ONE staged stream: Spark supports stream-stream
    # joins where both sides derive from the same readStream (distinct
    # filters/watermarks per side), and a second file source doubles
    # the listing + first-read I/O for identical results (verified
    # result-hash-identical; cold 5.07 -> 2.95 s at sf0.1, r8).
    left = stage_events_stream(spark, sf_dir, "ssj_")
    right = left
    # Event-time watermarks require TIMESTAMP (the parquet reader may
    # surface ts as TIMESTAMP_NTZ): watermark + range condition run on a
    # cast copy (same wall-clock, so identical join semantics); the
    # emitted columns stay NTZ for a timezone-free deterministic result.
    p = (
        left.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("ts").cast("timestamp").alias("p_wts"),
        )
        .withWatermark("p_wts", "1 hour")
    )
    v = (
        right.filter(F.col("event_type").isin("view", "click"))
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
            F.col("ts").cast("timestamp").alias("v_wts"),
        )
        .withWatermark("v_wts", "1 hour")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_wts") >= F.col("p_wts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("v_wts") <= F.col("p_wts")),
        "inner",
    ).select("p_event_id", "user_id", "p_ts", "v_ts")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    # Inner join emits on match (batch 0); the trailing no-data batch
    # only evicts state — skipping it saves ~40% wall (see
    # session.no_data_microbatches_disabled).
    with pinned_shuffle_partitions(spark, STREAM_STATE_PARTITIONS), \
            no_data_microbatches_disabled(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return (
        spark.table(name)
        .groupBy("p_event_id", "user_id", "p_ts")
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.min("v_ts").alias("first_view_ts"),
            F.max("v_ts").alias("last_view_ts"),
        )
    )


@query(
    "q_stream_outer_join",
    oracle="""
WITH cutoff AS (
  SELECT least(
           (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
           (SELECT max(ts) FROM events
            WHERE event_type IN ('view', 'click'))
         ) - INTERVAL 2 HOUR AS c),
     p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'
             AND ts <= (SELECT c FROM cutoff)),
     v AS (SELECT user_id, ts FROM events
           WHERE event_type IN ('view', 'click'))
SELECT p.event_id AS p_event_id, p.user_id, p.ts AS p_ts,
       CAST(count(v.ts) AS BIGINT) AS n_attributed,
       min(v.ts) AS first_view_ts, max(v.ts) AS last_view_ts
FROM p LEFT JOIN v ON p.user_id = v.user_id
  AND v.ts >= p.ts - INTERVAL 30 MINUTE
  AND v.ts <= p.ts
GROUP BY 1, 2, 3
""",
    doc=(
        "STREAM-STREAM LEFT OUTER join with watermarks + a time-range "
        "condition: like q_stream_stream_join, but purchases with NO "
        "view/click in the preceding 30 minutes still emit (null-"
        "extended) — the un-attributed-conversion shape. Outer rows are "
        "produced by STATE EVICTION: they only emit once the watermark "
        "passes the purchase's match horizon, which the trailing "
        "no-data batch drives after the availableNow replay — so this "
        "query must NOT disable no-data microbatches (its output "
        "depends on that batch; see CLAUDE.md). Determinism: the global "
        "watermark stalls at min(side max event time) − 1 h delay, so "
        "outer rows inside the trailing delay + range window are never "
        "finalized; BOTH engines therefore drop purchases newer than "
        "min(max purchase ts, max view ts) − 2 h — strictly beyond "
        "delay (1 h) + range (30 m), so every surviving purchase is "
        "provably evicted-or-matched by end of replay. The filter runs "
        "on the RESULT (batch side + oracle), never on the stream: "
        "pre-filtering the left stream would cap its own watermark at "
        "the cutoff and the newest kept rows could never evict — the "
        "watermark must advance past the data you keep. The cutoff "
        "literal is resolved from the batch table at plan time (one "
        "tiny scan job, exempted from bench.py's prepared-plan cache "
        "by its job detection)."
    ),
)
def q_stream_outer_join(spark, sf_dir):
    import datetime

    from typebus_spark.session import event_time_bounds, stage_events_stream

    bounds = event_time_bounds(spark, sf_dir)
    cutoff = min(
        bounds["max_purchase_ts"], bounds["max_view_ts"]
    ) - datetime.timedelta(hours=2)
    # self-join on one staged stream — see q_stream_stream_join
    left = stage_events_stream(spark, sf_dir, "soj_")
    right = left
    p = (
        left.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("ts").cast("timestamp").alias("p_wts"),
        )
        .withWatermark("p_wts", "1 hour")
    )
    v = (
        right.filter(F.col("event_type").isin("view", "click"))
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
            F.col("ts").cast("timestamp").alias("v_wts"),
        )
        .withWatermark("v_wts", "1 hour")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_wts") >= F.col("p_wts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("v_wts") <= F.col("p_wts")),
        "left_outer",
    ).select("p_event_id", "user_id", "p_ts", "v_ts")
    name = f"soj_{uuid.uuid4().hex[:8]}"
    with pinned_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return (
        spark.table(name)
        .filter(F.col("p_ts") <= F.lit(cutoff))
        .groupBy("p_event_id", "user_id", "p_ts")
        .agg(
            F.count("v_ts").cast("long").alias("n_attributed"),
            F.min("v_ts").alias("first_view_ts"),
            F.max("v_ts").alias("last_view_ts"),
        )
    )


@query(
    "q_stream_static_join",
    oracle="""
SELECT c.c_mktsegment, count(*) AS n_events,
       CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""",
    doc=(
        "STREAM-STATIC join: a replayed event stream enriched against "
        "the static customer dimension (broadcast per micro-batch — no "
        "stream-side state), then a streaming aggregation per market "
        "segment in complete mode. The standard streaming-enrichment "
        "shape: the dim is re-resolvable each batch, so dimension "
        "updates are picked up without restarting the query. Served by "
        "the multiplexed consumer graph (see q_stream_hourly) — the "
        "handler broadcast-joins the dim per micro-batch exactly as "
        "the per-query form did; native_stream_static_join kept, "
        "mux==native pinned."
    ),
)
def q_stream_static_join(spark, sf_dir):
    return mux_result(spark, sf_dir, "stream_static_join")


def _enrich_customers(spark, sf_dir, df):
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return df.join(
        F.broadcast(dim), df["user_id"] == dim["c_custkey"], "inner"
    )


@mux_handler("stream_static_join")
def _mux_stream_static_join(spark, sf_dir, batch):
    return _enrich_customers(spark, sf_dir, batch).groupBy(
        "c_mktsegment"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        money(F.sum(cents("value")), 100).alias("total_value"),
    )


def native_stream_static_join(spark, sf_dir):
    """Per-query REAL stream-static join form (complete mode) — kept
    live for the parity pin."""
    from typebus_spark.session import stage_events_stream

    stream = stage_events_stream(spark, sf_dir, "ssd_")
    enriched = _enrich_customers(spark, sf_dir, stream)
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        money(F.sum(cents("value")), 100).alias("total_value"),
    )
    name = f"ssd_{uuid.uuid4().hex[:8]}"
    with pinned_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return spark.table(name)


@query(
    "q_stream_static_join_append",
    oracle="""
WITH c AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
SELECT cu.c_mktsegment,
       date_trunc('hour', e.ts) AS hour_start,
       count(*) AS n_events,
       CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM events e JOIN customer cu ON e.user_id = cu.c_custkey
WHERE date_trunc('hour', e.ts) + INTERVAL 1 HOUR < (SELECT wm FROM c)
GROUP BY 1, 2
""",
    doc=(
        "PRODUCTION (append+watermark) form of q_stream_static_join: "
        "the stream enriches against the broadcast customer dimension "
        "per micro-batch (still no stream-side state for the join), "
        "then aggregates per (segment, 1-hour window) in append mode — "
        "the global complete-mode per-segment totals become exactly-"
        "once hourly emissions with evicted state. Served by the "
        "multiplexed consumer graph (q_stream_hourly_append is the one "
        "live append query); per-query streaming form kept as "
        "native_stream_static_join_append, mux==native pinned. "
        + _APPEND_DOC_TAIL
    ),
)
def q_stream_static_join_append(spark, sf_dir):
    return mux_stream_static_join_append(spark, sf_dir)


def mux_stream_static_join_append(spark, sf_dir):
    cutoff = _append_cutoff(spark, sf_dir)
    return (
        mux_result(spark, sf_dir, "stream_static_join_append")
        .filter(F.col("window_end") < F.lit(cutoff).cast("timestamp_ntz"))
        .select("c_mktsegment", "hour_start", "n_events", "total_value")
    )


def _agg_static_join_append(spark, sf_dir, df, ts_col="ts"):
    enriched = _enrich_customers(spark, sf_dir, df)
    agg = enriched.groupBy(
        F.window(ts_col, "1 hour").alias("w"), F.col("c_mktsegment")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        money(F.sum(cents("value")), 100).alias("total_value"),
    )
    if ts_col == "ts":
        return agg.select(
            "c_mktsegment",
            F.col("w.start").alias("hour_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    return agg.select(
        "c_mktsegment",
        _ntz("w.start").alias("hour_start"),
        _ntz("w.end").alias("window_end"),
        "n_events",
        "total_value",
    )


@mux_handler("stream_static_join_append")
def _mux_stream_static_join_append(spark, sf_dir, batch):
    return _agg_static_join_append(spark, sf_dir, batch)


def native_stream_static_join_append(spark, sf_dir):
    """Per-query REAL append+watermark stream-static join form — kept
    live for the parity pin."""
    stream, cutoff = _watermarked_events(spark, sf_dir, "stream_ssd_ap_")
    agg = _agg_static_join_append(spark, sf_dir, stream, "wts")
    name = f"ssd_ap_{uuid.uuid4().hex[:8]}"
    with pinned_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return (
        spark.table(name)
        .filter(F.col("window_end") < F.lit(cutoff).cast("timestamp_ntz"))
        .select("c_mktsegment", "hour_start", "n_events", "total_value")
    )


@query(
    "q_sketch_cardinality",
    oracle="""
WITH d AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5('card:' || CAST(user_id AS VARCHAR)), 1, 15))
           ::BIGINT AS h
  FROM events),
r AS (SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d),
kept AS (SELECT event_type, h FROM r WHERE rn <= 128),
agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
               max(h) AS hk
        FROM kept GROUP BY 1),
x AS (SELECT event_type,
             CASE WHEN n_kept < 128 THEN n_kept
                  ELSE CAST(round(127.0 * 1152921504606846976.0
                                  / CAST(hk AS DOUBLE), 0) AS BIGINT)
             END AS kmv_users
      FROM agg),
q AS (SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS q50,
             percentile_cont(0.9) WITHIN GROUP (ORDER BY value) AS q90,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1)
SELECT q.event_type, x.kmv_users, q.q50, q.q90, q.n
FROM x JOIN q USING (event_type)
""",
    doc=(
        "Portable-sketch cardinality/quantile profile per event type — "
        "the hash-checkable form of the sketch surface: KMV "
        "(k-minimum-values, k=128) distinct-user estimate on the "
        "repo's 60-bit md5 scheme (both engines keep identical minimum "
        "hashes, so the ESTIMATE itself hash-checks) plus exact "
        "interpolated q50/q90 (Spark percentile() ≡ DuckDB "
        "percentile_cont, proven bit-identical in q_robust_outliers). "
        "The engine-specific HLL++/GK estimators stay accuracy-gated "
        "locally in tests/test_sketch_accuracy.py — at 100 TB they are "
        "the constant-memory path; KMV is the portable one (same "
        "scale shape: bottom-k via WindowGroupLimit, k rows per group "
        "in flight, never the distinct set)."
    ),
)
def q_sketch_cardinality(spark, sf_dir):
    from typebus_spark.operators.sketch import kmv_distinct

    ev = t(spark, sf_dir, "events")
    est = kmv_distinct(ev, "event_type", "user_id", k=128, seed="card")
    est = est.withColumnRenamed("kmv_estimate", "kmv_users")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("q50"),
        F.expr("percentile(value, 0.9D)").alias("q90"),
        F.count(F.lit(1)).alias("n"),
    )
    return q.join(F.broadcast(est), "event_type").select(
        "event_type", "kmv_users", "q50", "q90", "n"
    )


@query(
    "q_window_running",
    oracle="""
SELECT event_id, user_id, ts, value,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0
         AS running_total,
       lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS prev_value,
       row_number() OVER (PARTITION BY user_id
                          ORDER BY value DESC, event_id) AS value_rank
FROM events
""",
    doc="Window functions: running sum, lag, per-key ranking (§2.2 surface).",
)
def q_window_running(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    wt = Window.partitionBy("user_id").orderBy("ts")
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wv = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        money(F.sum(cents("value")).over(wr), 100).alias("running_total"),
        F.lag("value").over(wt).alias("prev_value"),
        F.row_number().over(wv).cast("long").alias("value_rank"),
    )


@query(
    "q_window_frames",
    oracle="""
SELECT event_id, user_id, ts,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / (count(*) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 100.0)
         AS moving_avg_3,
       CAST(max(CAST(round(value * 100, 0) AS BIGINT))
              OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS DOUBLE)
         / 100.0 AS next2_max
FROM events
""",
    doc="Window FRAMES: bounded moving average + forward-looking frame (§2.2 frames).",
)
def q_window_frames(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    vc = cents("value")
    back3 = (
        Window.partitionBy("user_id").orderBy("ts").rowsBetween(-2, 0)
    )
    fwd2 = Window.partitionBy("user_id").orderBy("ts").rowsBetween(1, 2)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (
            F.sum(vc).over(back3).cast("double")
            / (F.count(F.lit(1)).over(back3) * F.lit(100.0))
        ).alias("moving_avg_3"),
        (F.max(vc).over(fwd2).cast("double") / F.lit(100.0)).alias(
            "next2_max"
        ),
    )


@query(
    "q_rollup_orders",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
         / 100.0 AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    doc="Hierarchical aggregates: ROLLUP grouping sets (§2.2 surface).",
)
def q_rollup_orders(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum(cents("o_totalprice")), 100).alias("total"),
    )


@query(
    "q_setops_buyers_with_errors",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'error'
""",
    doc="Set operations: INTERSECT of purchaser and error-affected users.",
)
def q_setops_buyers_with_errors(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    errored = ev.filter(F.col("event_type") == "error").select("user_id")
    return buyers.intersect(errored)


@query(
    "q_anti_unordered_parts",
    oracle="""
SELECT p_partkey, p_name FROM part p
WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey
                    AND l.l_shipdate >= TIMESTAMP '1997-01-01'
                    AND l.l_shipdate <  TIMESTAMP '1998-01-01')
""",
    doc=(
        "Anti join: parts with no 1997 shipment — windowed so the "
        "fixture yields a non-trivial result (every part ships at some "
        "point, so the unwindowed form is vacuously empty)."
    ),
)
def q_anti_unordered_parts(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return p.join(
        l, p.p_partkey == l.l_partkey, "left_anti"
    ).select("p_partkey", "p_name")


@query(
    "q_semi_priority_customers",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
""",
    doc="Semi join: customers having at least one urgent order.",
)
def q_semi_priority_customers(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_scalar_kitchen_sink",
    oracle="""
SELECT event_id,
       upper(event_type) AS type_u,
       substr(event_type, 1, 3) AS type_3,
       length(event_type) AS type_len,
       event_type || '#' || CAST(user_id AS VARCHAR) AS tag,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
       hour(ts) AS h,
       month(ts) AS m,
       round(sqrt(abs(value)), 6) AS sqrt_v,
       round(ln(value + 1), 6) AS ln_v
FROM events
""",
    doc="Scalar function library: string/json/date/math built-ins (§2.2 surface).",
)
def q_scalar_kitchen_sink(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.upper("event_type").alias("type_u"),
        F.substring("event_type", 1, 3).alias("type_3"),
        F.length("event_type").cast("long").alias("type_len"),
        F.concat(
            F.col("event_type"), F.lit("#"), F.col("user_id").cast("string")
        ).alias("tag"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        F.hour("ts").cast("long").alias("h"),
        F.month("ts").cast("long").alias("m"),
        F.round(F.sqrt(F.abs("value")), 6).alias("sqrt_v"),
        F.round(F.log(F.col("value") + 1), 6).alias("ln_v"),
    )


@query(
    "q_retry_drain_shed",
    oracle="""
WITH f AS (SELECT event_id, event_id % 4 AS ft FROM events),
r1 AS (SELECT ft, row_number() OVER (ORDER BY event_id DESC) AS rn
       FROM f WHERE ft > 0)
SELECT 'api.Task.done' AS topic,
       CAST((SELECT count(*) FROM f WHERE ft = 0)
            + (SELECT count(*) FROM r1 WHERE rn <= 500 AND ft IN (1, 2))
            AS BIGINT) AS n
UNION ALL
SELECT 'typebus.DeadLetter' AS topic,
       CAST((SELECT count(*) FROM r1 WHERE rn <= 500 AND ft = 3)
            AS BIGINT) AS n
""",
    doc=(
        "Retry drain under OVERLOAD with the reference's dropHead "
        "load-shed (buffer(16, OverflowStrategy.dropHead), "
        "KafkaBus.scala:186-189; buffer=500 here): each round only the "
        "newest 500 queued retries re-inject — ranked by the payload "
        "sequence via TakeOrderedAndProject, never a global sort — and "
        "older overflow is silently shed. Outcomes are exactly "
        "derivable: %4==0 succeeds immediately; %4 in (1,2) completes "
        "only if inside the round-1 buffer; %4==3 inside the buffer "
        "exhausts retries and dead-letters; everything else is shed "
        "(liveness over durability, the reference's trade)."
    ),
)
def q_retry_drain_shed(spark, sf_dir):
    from pyspark.sql.types import LongType, StructField, StructType

    from typebus_spark.registry import BackoffShape, RetryPolicy
    from typebus_spark.runtime import drain_batches

    events = t(spark, sf_dir, "events")
    payload = StructType(
        [
            StructField("event_id", LongType()),
            StructField("fail_times", LongType()),
        ]
    )
    svc = Service("retry-shed-query")
    svc.declare_type("api.Task", payload)
    svc.declare_type("api.Task.done", payload)

    svc.register_stream(
        "api.Task",
        "api.Task.done",
        _fail_n_times_handler,
        retry=RetryPolicy(2, 10.0, BackoffShape.EXPONENTIAL),
    )
    from typebus_spark.session import ensure_parallelism

    raw = staged_wire(
        spark, sf_dir, "task_fail4",
        lambda: encode_envelope(
            ensure_parallelism(
                events.select(
                    "event_id", (F.col("event_id") % 4).alias("fail_times")
                )
            ),
            "api.Task",
        ),
    )
    res = drain_batches(
        svc,
        raw,
        buffer_size=500,
        buffer_order=F.col("payload.event_id"),
    )
    par = spark.sparkContext.defaultParallelism
    return (
        res.union_all()
        .coalesce(par)
        .groupBy("topic")
        .agg(_topic_count_agg())
    )


@query(
    "q_asof_forward",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
     e AS (SELECT user_id, ts, event_id FROM events
           WHERE event_type = 'error')
SELECT p.event_id, p.user_id, p.ts, p.value,
       e.ts AS r_ts, e.event_id AS r_event_id
FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND e.ts >= p.ts
""",
    doc=(
        "FORWARD as-of join (the time-to-next-event direction of "
        "q_asof_enrich): each purchase matched to the user's NEXT error "
        "at or after it — e.g. purchase-to-failure attribution. Same "
        "union+window single-shuffle plan as backward; only the window "
        "direction flips, so there is still no range explosion."
    ),
)
def q_asof_forward(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    return asof_join(
        purchases,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        direction="forward",
    )


@query(
    "q_stream_sliding",
    oracle="""
WITH x AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts)
                   - INTERVAL '30 minutes']) AS window_start,
         value
  FROM events)
SELECT window_start, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM x GROUP BY 1
""",
    doc=(
        "REAL Structured Streaming SLIDING window: 1-hour windows every "
        "30 minutes over the replayed event stream (each event lands in "
        "exactly two overlapping windows), complete-mode memory sink — "
        "the overlapping-window shape q_stream_hourly's tumbling agg "
        "cannot express. The oracle replays the epoch-aligned window "
        "grid via time_bucket (verified identical alignment), exact "
        "integer-cents money. Served by the multiplexed consumer graph "
        "(see q_stream_hourly); per-query streaming form kept as "
        "native_stream_sliding, mux==native pinned."
    ),
)
def q_stream_sliding(spark, sf_dir):
    return mux_result(spark, sf_dir, "stream_sliding")


def _agg_sliding(df):
    return (
        df.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money(F.sum(cents("value")), 100).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@mux_handler("stream_sliding")
def _mux_stream_sliding(spark, sf_dir, batch):
    return _agg_sliding(batch)


def native_stream_sliding(spark, sf_dir):
    """Per-query REAL streaming sliding-window form (complete mode) —
    kept live for the parity pin."""
    from typebus_spark.session import stage_events_stream

    stream = stage_events_stream(spark, sf_dir, "stream_sliding_")
    agg = _agg_sliding(stream)
    name = f"sliding_{uuid.uuid4().hex[:8]}"
    with pinned_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return spark.table(name)
