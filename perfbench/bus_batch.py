"""bus_batch: one client reprocessing a bus backlog, closed loop.

Each op is ``FileBus.read`` of one staged batch → ``drain_batches`` →
``union_all()`` counted per (topic, outcome). The service has two data
payload schemas (orders and tasks), so ``run_batch`` takes its general
multi-group path; tasks carry a ``RetryPolicy`` and a seeded share of
them fails once, twice, or until the policy gives up. A few percent of
events sit on a topic nobody handles and about 1% are malformed JSON.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import time

import gen
import pyspark.sql.functions as F
from harness import closed_loop, overhead_ratio, warm_up
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from tracing import percentile_tail, wrap_function

from typebus_spark import runtime
from typebus_spark.codec.envelope import decode_envelope, encode_envelope
from typebus_spark.registry import BackoffShape, RetryPolicy, Service
from typebus_spark.runtime import FileBus, drain_batches

N_ORDERS = 24_000
N_TASKS = 6_000
# the batch another workload's traced run drains for this layer's numbers
PROBE_ORDERS = 4_000
PROBE_TASKS = 1_000
TOPICS = [gen.ORDER_T, gen.TASK_T, gen.UNROUTABLE_T]

ORDER = StructType(
    [
        StructField("order_id", LongType()),
        StructField("user_id", StringType()),
        StructField("qty", IntegerType()),
        StructField("price", DoubleType()),
    ]
)
PRICED = StructType(
    [
        StructField("order_id", LongType()),
        StructField("user_id", StringType()),
        StructField("total", DoubleType()),
    ]
)
TASK = StructType(
    [StructField("task_id", LongType()), StructField("fail_times", IntegerType())]
)


def _price(df):
    return df.select(
        "meta",
        "order_id",
        "user_id",
        F.round(F.col("qty") * F.col("price"), 2).alias("total"),
    )


def _work_task(df):
    attempt = F.coalesce(F.col("meta.extra").getItem("attempt").cast("int"), F.lit(0))
    return df.select(
        "meta",
        "task_id",
        "fail_times",
        F.when(attempt < F.col("fail_times"), F.lit("transient")).alias("_error"),
    )


def build_service() -> Service:
    svc = Service("bench-bus")
    svc.declare_type(gen.ORDER_T, ORDER)
    svc.declare_type(gen.PRICED_T, PRICED)
    svc.declare_type(gen.TASK_T, TASK)
    svc.declare_type(gen.DONE_T, TASK)
    svc.register_stream(gen.ORDER_T, gen.PRICED_T, _price, partition_key="user_id")
    svc.register_stream(
        gen.TASK_T,
        gen.DONE_T,
        _work_task,
        retry=RetryPolicy(gen.TASK_MAX_ATTEMPTS, 10.0, BackoffShape.EXPONENTIAL),
    )
    return svc


def stage(spark, root: str, batch: dict) -> FileBus:
    """Encode one generated batch with the program's codec and write it
    to its own FileBus, one directory per topic, in one Spark job."""
    frames = [
        encode_envelope(spark.createDataFrame(batch["orders"], ORDER), gen.ORDER_T),
        encode_envelope(spark.createDataFrame(batch["tasks"], TASK), gen.TASK_T),
        encode_envelope(
            spark.createDataFrame(batch["unroutable"], ORDER), gen.UNROUTABLE_T
        ),
        spark.createDataFrame(
            [(None, gen.MALFORMED_VALUE, gen.ORDER_T)] * batch["n_malformed"],
            FileBus.RAW_SCHEMA,
        ),
    ]
    rows = frames[0]
    for f in frames[1:]:
        rows = rows.unionByName(f)
    staging = root + "-staging"
    rows.withColumn("_dir", F.col("topic")).repartition("_dir").write.partitionBy(
        "_dir"
    ).parquet(staging)
    os.makedirs(root)
    for topic_dir in glob.glob(os.path.join(staging, "_dir=*")):
        os.rename(topic_dir, os.path.join(root, topic_dir.split("_dir=", 1)[1]))
    return FileBus(root)


def _outcome_counts(out) -> dict:
    """``(topic, class) -> (rows, sum of priced totals)`` of the drained
    output; the class is a task's failure count or a dead letter's
    reason."""
    value = F.col("value").cast("string")
    cls = F.when(
        F.col("topic") == gen.DONE_T,
        F.get_json_object(value, "$.payload.fail_times"),
    ).when(
        F.col("topic") == gen.DEAD_LETTER_T,
        F.get_json_object(value, "$.payload.message"),
    )
    total = F.when(
        F.col("topic") == gen.PRICED_T,
        F.get_json_object(value, "$.payload.total").cast("double"),
    )
    rows = (
        out.select("topic", cls.alias("cls"), total.alias("total"))
        .groupBy("topic", "cls")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("total").alias("total"))
        .collect()
    )
    return {(r["topic"], r["cls"]): (r["n"], r["total"]) for r in rows}


def _wrap_run_batch(tr):
    """Span every ``run_batch`` call, including the ones ``drain_batches``
    makes, each counting as one drain round. Returns an undo callable."""
    return wrap_function(
        tr,
        runtime,
        "run_batch",
        "runtime.run_batch.build",
        on_call=lambda: tr.count("runtime.drain.rounds"),
    )


def _drain_op(spark, tr, svc: Service, bus: FileBus):
    """One op over a staged bus: read → drain → count the drained output."""

    def op() -> dict:
        with tr.span("runtime.filebus.read"):
            raw = bus.read(spark, TOPICS)
        with tr.span("runtime.drain"):
            res = drain_batches(svc, raw)
        with tr.span("runtime.run_batch.exec"):
            return _outcome_counts(res.union_all())

    return op


def run(ctx, setup_started: float) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    with tr.span("registry.build"):
        svc = build_service()
    ctx.layer["registry.build_s"] = time.perf_counter() - t0

    batch = gen.bus_batch(ctx.seed, N_ORDERS, N_TASKS)
    bus = stage(spark, ctx.path("bus"), batch)
    print(f"staged {time.perf_counter() - setup_started:.3f}s", file=sys.stderr)
    undo = _wrap_run_batch(tr) if ctx.trace else None
    drain = _drain_op(spark, tr, svc, bus)
    warm_up(ctx, drain)
    setup_s = time.perf_counter() - setup_started

    probe = None
    if ctx.trace:
        probe, ctx.layer["codec.wire_bytes_per_event"] = _codec_probe(
            spark, bus, batch, tr
        )
    samples = closed_loop(ctx, lambda i, traced: {"got": drain()}, probe)
    if undo is not None:
        undo()

    failed = sum(
        0 if _check(ctx, f"op{i}", s["got"], batch) else 1 for i, s in enumerate(samples)
    )
    if ctx.trace:
        _layer_metrics(ctx, samples)
    dts = [s["dt"] for s in samples]
    p50, (tail, _) = statistics.median(dts), percentile_tail(dts)
    return {
        "attempted": len(samples),
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "events_per_s": batch["events"] * len(samples) / sum(dts),
            "batch_p50_s": p50,
            "batch_tail_s": tail,
            # closed loop: every event of a batch waits for the whole batch
            "latency_p50_ms": p50 * 1000.0,
            "latency_tail_ms": tail * 1000.0,
        },
    }


def layer_probe(ctx) -> bool:
    """The drain layer's numbers for the traced run of another workload,
    over a small batch: one untraced op, then one traced op. True when
    the traced op's output matches the ground truth."""
    spark, tr = ctx.spark, ctx.tracer
    svc = build_service()
    batch = gen.bus_batch(ctx.seed, PROBE_ORDERS, PROBE_TASKS)
    drain = _drain_op(spark, tr, svc, stage(spark, ctx.path("probe-bus"), batch))
    undo = _wrap_run_batch(tr)
    try:
        tr.enabled = False
        drain()
        tr.enabled = True
        tr.new_trace()
        got = drain()
    finally:
        tr.enabled = True
        undo()
    _drain_metrics(ctx, [got])
    return _check(ctx, "drain probe", got, batch)


def _check(ctx, name: str, got: dict, batch: dict) -> bool:
    ok = True
    counts = {key: n for key, (n, _) in got.items()}
    want = dict(batch["expected"])
    for key in sorted(set(counts) | set(want), key=str):
        ok &= ctx.check(f"{name} count{key}", counts.get(key, 0), want.get(key, 0))
    total = (got.get((gen.PRICED_T, None)) or (0, 0.0))[1] or 0.0
    if abs(total - batch["priced_total"]) > 1e-6 * max(1.0, batch["priced_total"]):
        ctx.mismatches.append(
            f"{name} priced total: got {total!r}, want {batch['priced_total']!r}"
        )
        ok = False
    return ok


def _codec_probe(spark, bus: FileBus, batch: dict, tr):
    """Codec timings over one staged batch, outside the timed ops:
    ``decode_envelope`` of the order topic and ``encode_envelope`` of
    reply-shaped rows, each materialized in full."""
    raw = bus.read(spark, TOPICS).localCheckpoint(eager=True)
    wire = raw.agg(F.avg(F.length("value"))).collect()[0][0]
    orders = bus.read(spark, [gen.ORDER_T]).localCheckpoint(eager=True)
    o = batch["orders"]
    priced = spark.createDataFrame(
        o[["order_id", "user_id"]].assign(total=o["qty"] * o["price"]), PRICED
    ).localCheckpoint(eager=True)

    def probe():
        with tr.span("codec.decode"):
            decode_envelope(orders, ORDER).write.format("noop").mode("overwrite").save()
        with tr.span("codec.encode"):
            encode_envelope(priced, gen.PRICED_T).write.format("noop").mode(
                "overwrite"
            ).save()

    return probe, wire


def _layer_metrics(ctx, samples: list[dict]) -> None:
    tr, lay = ctx.tracer, ctx.layer
    traced = [s["got"] for s in samples if s["traced"]]
    n = len(traced) or 1
    lay["codec.decode_s"] = statistics.median(tr.durations("codec.decode") or [0.0])
    lay["codec.encode_s"] = statistics.median(tr.durations("codec.encode") or [0.0])
    lay["runtime.run_batch.build_s"] = tr.total("runtime.run_batch.build") / n
    lay["runtime.run_batch.py4j_calls"] = (
        tr.counts["runtime.run_batch.build.py4j_calls"] / n
    )
    lay["trace.overhead_ratio"] = overhead_ratio(samples)
    _drain_metrics(ctx, traced)


def _drain_metrics(ctx, traced: list[dict]) -> None:
    """Drain, execution and retry numbers per traced op; ``traced`` holds
    the ops' drained output counts."""
    tr, lay = ctx.tracer, ctx.layer
    n = len(traced) or 1
    c = tr.counts
    lay["runtime.run_batch.exec_s"] = tr.total("runtime.run_batch.exec") / n
    lay["runtime.run_batch.jobs"] = c["runtime.run_batch.exec.jobs"] / n
    lay["runtime.run_batch.tasks"] = c["runtime.run_batch.exec.tasks"] / n
    lay["runtime.drain.s"] = tr.total("runtime.drain") / n
    lay["runtime.drain.rounds"] = c["runtime.drain.rounds"] / n
    lay["runtime.drain.jobs"] = c["runtime.drain.jobs"] / n
    lay["runtime.drain.tasks"] = c["runtime.drain.tasks"] / n
    lay["runtime.filebus.read_s"] = tr.total("runtime.filebus.read") / n

    # retry outcomes, from the drained output
    requeued = succeeded = dead = 0
    for got in traced:
        for (topic, cls), (rows, _) in got.items():
            if topic == gen.DONE_T and cls not in (None, "0"):
                requeued += int(cls) * rows
                succeeded += rows
            elif topic == gen.DEAD_LETTER_T and cls == "handler failed":
                requeued += gen.TASK_MAX_ATTEMPTS * rows
                dead += rows
    lay["streaming.retry.requeued"] = requeued / n
    lay["streaming.retry.dead_lettered"] = dead / n
    lay["streaming.retry.success_ratio"] = succeeded / requeued if requeued else 0.0
