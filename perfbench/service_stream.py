"""service_stream: a typebus service answering requests, open loop.

A separate generator process (loadgen.py) releases pre-encoded request
files into the FileBus at a fixed offered rate; about 70% are quote
RPCs that carry ``direct_reply`` to a client topic and the rest are
lookups on a ``register_entity`` snapshot with Zipf keys. The consumer
is a loop of ``start_service`` polls on one checkpoint. After the window
it drains the bus and checks, with ``correlate_batch``, that every
request got exactly one correct reply on the client topic. Latency runs
from a request's due time at the generator to the time its reply file
became visible.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time

import gen
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from harness import warm_up
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
from typebus_spark.codec.envelope import decode_envelope, encode_envelope, new_meta
from typebus_spark.registry import Service
from typebus_spark.runtime import FileBus, start_service
from typebus_spark.streaming.rpc import correlate_batch

RATE = 100  # offered requests per second
TICK_S = 0.25  # generator release period
N_ACCOUNTS = 2_000
WARMUP_TICKS = 5  # requests of this many ticks warm the service up
PROBE_TICKS = 4  # ticks of requests per poll of another workload's probe
RPC_LIMIT_MS = 4_000.0  # the reference client's RPC timeout

QUOTE = StructType(
    [
        StructField("seq", LongType()),
        StructField("user_id", StringType()),
        StructField("qty", IntegerType()),
        StructField("unit_price", DoubleType()),
    ]
)
QUOTE_REPLY = StructType(
    [
        StructField("seq", LongType()),
        StructField("user_id", StringType()),
        StructField("amount", DoubleType()),
    ]
)
ACCOUNT = StructType(
    [
        StructField("id", StringType()),
        StructField("tier", StringType()),
        StructField("balance", DoubleType()),
    ]
)
ACCOUNT_GET = StructType([StructField("id", StringType()), StructField("seq", LongType())])
# every request field, for decoding either request type in one pass
REQUEST = StructType(QUOTE.fields + [StructField("id", StringType())])


def _quote(df):
    return df.select(
        "meta",
        "seq",
        "user_id",
        F.round(F.col("qty") * F.col("unit_price"), 2).alias("amount"),
    )


def build_service(spark, snapshot_rows) -> Service:
    svc = Service("bench-svc")
    svc.declare_type(gen.QUOTE_T, QUOTE)
    svc.declare_type(gen.QUOTE_REPLY_T, QUOTE_REPLY)
    svc.declare_type(gen.ACCOUNT_T, ACCOUNT)
    svc.declare_type(gen.ACCOUNT_GET_T, ACCOUNT_GET)
    svc.register_stream(gen.QUOTE_T, gen.QUOTE_REPLY_T, _quote, partition_key="user_id")
    svc.register_entity(
        "accounts",
        gen.ACCOUNT_T,
        snapshot=spark.createDataFrame(snapshot_rows, ACCOUNT),
        accessor_type=gen.ACCOUNT_GET_T,
    )
    return svc


def _encode_requests(spark, quotes, lookups):
    """Both request types as bus rows addressed back to the client topic,
    materialized so their event ids are fixed."""

    def meta(fqn):
        return new_meta(
            fqn,
            direct_reply_path=F.lit("/user/gather"),
            direct_reply_service=F.lit(gen.CLIENT_TOPIC),
        )

    q = encode_envelope(
        spark.createDataFrame(quotes, QUOTE), gen.QUOTE_T, meta=meta(gen.QUOTE_T)
    )
    lk = encode_envelope(
        spark.createDataFrame(lookups, ACCOUNT_GET),
        gen.ACCOUNT_GET_T,
        meta=meta(gen.ACCOUNT_GET_T),
    )
    return q.unionByName(lk).localCheckpoint(eager=True)


def _stage_ticks(encoded, stage_dir: str, per_tick: int) -> dict:
    """Write the encoded requests as one parquet file per (topic, tick);
    returns ``{tick: [(topic, path), ...]}``. The rows are few, so they
    are collected and written here rather than by a partitioned Spark
    write, which would cost a job and hundreds of tiny tasks."""
    seq = F.get_json_object(F.col("value").cast("string"), "$.payload.seq").cast("long")
    groups: dict[tuple, list] = {}
    for r in encoded.select("key", "value", "topic", seq.alias("seq")).collect():
        groups.setdefault((r["topic"], r["seq"] // per_tick), []).append(r)
    os.makedirs(stage_dir)
    out: dict[int, list] = {}
    for (topic, tick), rows in groups.items():
        path = os.path.join(stage_dir, f"{topic}-{tick}.parquet")
        table = pa.table(
            {
                "key": pa.array([r["key"] for r in rows], pa.binary()),
                "value": pa.array([r["value"] for r in rows], pa.binary()),
                "topic": pa.array([topic] * len(rows), pa.string()),
            }
        )
        pq.write_table(table, path)
        out.setdefault(tick, []).append((topic, path))
    return out


class _Poller:
    """``start_service`` polls of one service, bus and checkpoint. Each
    call runs one poll to its end and records its time, input rows and,
    when traced, its Spark jobs and published files."""

    def __init__(self, ctx, svc: Service, bus: FileBus, ckpt: str):
        self.ctx, self.svc, self.bus, self.ckpt = ctx, svc, bus, ckpt
        self.polls: list[dict] = []

    def __call__(self, traced: bool) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        tr.enabled = traced
        before = _bus_files(self.bus.root) if traced else None
        t0 = time.perf_counter()
        with tr.span("runtime.start_service.poll"):
            q = start_service(self.svc, self.bus, ctx.spark, self.ckpt)
            q.awaitTermination()
        dt = time.perf_counter() - t0
        rows = sum(p["numInputRows"] for p in q.recentProgress)
        out = {"dt": dt, "rows": rows, "traced": traced}
        if traced:
            out["jobs"] = tr.group_jobs(str(q.runId))[0]
            out["files"] = len(_bus_files(self.bus.root) - before)
        tr.enabled = ctx.trace
        print(f"poll {len(self.polls)} traced={int(traced)} {dt:.3f}s rows={rows}", file=sys.stderr)
        self.polls.append(out)
        return out


def _trace_calls(tr, bus: FileBus):
    """Span ``run_batch`` (which each poll calls through the runtime
    module) and the bus's ``publish``. Returns an undo callable."""
    undo = wrap_function(tr, runtime, "run_batch", "runtime.run_batch.build")
    publish = bus.publish

    def traced_publish(*a, **k):
        with tr.span("runtime.filebus.publish"):
            return publish(*a, **k)

    bus.publish = traced_publish

    def undo_all():
        undo()
        del bus.publish

    return undo_all


def _start_loadgen(ctx, ticks: dict, bus: FileBus, t0: float, name: str):
    """Start the generator process releasing ``ticks`` into the bus on
    its schedule from ``t0``. Returns ``(process, log path)``."""
    for topic in (gen.QUOTE_T, gen.ACCOUNT_GET_T):
        os.makedirs(os.path.join(bus.root, topic), exist_ok=True)
    plan = {
        "t0": t0,
        "tick_s": TICK_S,
        "moves": [
            [k, path, os.path.join(bus.root, topic, f"tick-{k:06d}-{os.path.basename(path)}")]
            for k, files in ticks.items()
            for topic, path in files
        ],
    }
    plan_path, log_path = ctx.path(f"{name}-plan.json"), ctx.path(f"{name}-loadgen.jsonl")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    loadgen = os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py")
    return subprocess.Popen([sys.executable, loadgen, plan_path, log_path]), log_path


def _wait_loadgen(proc, log_path: str, timeout: float) -> list[dict]:
    """Wait for the generator (killing it past ``timeout``) and read its log."""
    try:
        proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    with open(log_path) as f:
        return [json.loads(line) for line in f]


def run(ctx, setup_started: float) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    n_req = RATE * ctx.seconds
    per_tick = int(RATE * TICK_S)
    snapshot_rows = gen.accounts(ctx.seed, N_ACCOUNTS)

    t0 = time.perf_counter()
    with tr.span("registry.build"):
        svc = build_service(spark, snapshot_rows)
    ctx.layer["registry.build_s"] = time.perf_counter() - t0

    bus = FileBus(ctx.path("bus"))
    # warm-up requests are numbered below zero, so they stage into
    # negative ticks; the timed requests are numbered from zero
    n_warm = per_tick * WARMUP_TICKS
    quotes, lookups = gen.service_requests(ctx.seed, -n_warm, n_warm + n_req, N_ACCOUNTS)
    encoded = _encode_requests(spark, quotes, lookups)
    ticks = _stage_ticks(encoded, ctx.path("stage"), per_tick)
    print(f"staged {time.perf_counter() - setup_started:.3f}s", file=sys.stderr)
    warm_files = [f for k in sorted(ticks) if k < 0 for f in ticks.pop(k)]
    seq = F.get_json_object(F.col("value").cast("string"), "$.payload.seq").cast("long")
    timed = encoded.filter(seq >= 0)
    poll = _Poller(ctx, svc, bus, ctx.path("checkpoint"))

    def warm_poll():
        for i, (topic, path) in enumerate(warm_files):
            os.makedirs(os.path.join(bus.root, topic), exist_ok=True)
            os.replace(path, os.path.join(bus.root, topic, f"warm-{i}.parquet"))
        poll(False)

    warm_up(ctx, warm_poll)
    poll.polls.clear()
    undo = None
    if ctx.trace:
        undo = _trace_calls(tr, bus)
        _codec_probe(ctx, timed)
    setup_s = time.perf_counter() - setup_started

    # -- the measured window: generator process + consumer polls ----------
    t_start = time.time() + 0.2
    window_end = t_start + ctx.seconds
    proc, log_path = _start_loadgen(ctx, ticks, bus, t_start, "window")
    try:
        time.sleep(max(0.0, t_start + TICK_S - time.time()))  # first release
        # back-to-back polls until the window ends (at least two, so a
        # median has two samples and a traced run has a poll of each kind)
        while len(poll.polls) < 2 or time.time() < window_end:
            poll(ctx.trace and len(poll.polls) % 2 == 1)
    finally:
        gen_log = _wait_loadgen(proc, log_path, ctx.seconds + 60)
    # drain: everything released by now is consumed by the next poll
    poll(False)
    if undo is not None:
        undo()

    lat, failed = _check(ctx, spark, bus, timed, snapshot_rows, t_start, n_req)
    polls = poll.polls
    if ctx.trace:
        _layer_metrics(ctx, polls, gen_log, t_start, n_req)
    loop = polls[:-1]  # the polls of the window, without the drain poll
    # correct replies per second of the generator's actual release span:
    # the offered rate when every request is answered, less when not
    release_span = max(e["done"] for e in gen_log) - t_start
    events_per_s = (n_req - failed) / release_span
    dts = [p["dt"] for p in loop]
    return {
        "attempted": n_req,
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "events_per_s": events_per_s,
            "batch_p50_s": statistics.median(dts),
            "batch_tail_s": percentile_tail(dts)[0],
            "latency_p50_ms": statistics.median(lat),
            "latency_tail_ms": percentile_tail(lat)[0],
        },
    }


def layer_probe(ctx) -> bool:
    """The stream layer's numbers for the traced run of another workload.
    The generator releases two small sets of requests in turn, each
    consumed by one poll: the first poll is an untraced warm-up, the
    second is traced. True when every request got one correct reply."""
    spark, tr = ctx.spark, ctx.tracer
    per_tick = int(RATE * TICK_S)
    snapshot_rows = gen.accounts(ctx.seed, N_ACCOUNTS)
    svc = build_service(spark, snapshot_rows)
    n_req = 2 * PROBE_TICKS * per_tick
    quotes, lookups = gen.service_requests(ctx.seed, 0, n_req, N_ACCOUNTS)
    encoded = _encode_requests(spark, quotes, lookups)
    ticks = _stage_ticks(encoded, ctx.path("probe-stage"), per_tick)
    bus = FileBus(ctx.path("probe-bus"))
    poll = _Poller(ctx, svc, bus, ctx.path("probe-checkpoint"))
    undo = _trace_calls(tr, bus)
    try:
        for part in (0, 1):
            t0 = time.time() + 0.05
            sub = {k: ticks[k + part * PROBE_TICKS] for k in range(PROBE_TICKS)}
            proc, log_path = _start_loadgen(ctx, sub, bus, t0, f"probe{part}")
            gen_log = _wait_loadgen(proc, log_path, 60)
            poll(traced=part == 1)
    finally:
        undo()
    _poll_metrics(ctx, poll.polls[1:])
    _loadgen_metrics(ctx, gen_log, n_req // 2, t0)
    _, failed = _check(ctx, spark, bus, encoded, snapshot_rows, t0, n_req)
    return failed == 0


def _bus_files(root: str) -> set:
    """Parquet files on the bus outside the request topics (which the
    generator fills concurrently): what the service published."""
    return {
        f
        for f in glob.glob(os.path.join(root, "*", "*.parquet"))
        if os.path.basename(os.path.dirname(f)) not in (gen.QUOTE_T, gen.ACCOUNT_GET_T)
    }


def _check(ctx, spark, bus, timed, snapshot_rows, t_start: float, n_req: int):
    """Per timed request: exactly one reply on the client topic, with the
    right payload. Returns (latency_ms per request, failed count); a
    missing or wrong reply counts at twice the RPC limit, over it."""
    requests = decode_envelope(timed, REQUEST).select(
        F.col("meta.event_id").alias("rid"), "payload"
    )
    raw = bus.read(spark, [gen.CLIENT_TOPIC])
    replies = raw.select(
        "key",
        "value",
        "topic",
        (F.col("_metadata.file_modification_time").cast("double")).alias("visible"),
    ).localCheckpoint(eager=True)
    resp_to = F.get_json_object(F.col("value").cast("string"), "$.meta.response_to")
    per_request = replies.groupBy(resp_to.alias("rid")).agg(
        F.count(F.lit(1)).alias("n_replies"), F.min("visible").alias("visible")
    )

    none = F.lit(None)
    quote_req = decode_envelope(timed.filter(F.col("topic") == gen.QUOTE_T), QUOTE)
    quotes = correlate_batch(
        quote_req, decode_envelope(replies, QUOTE_REPLY), timeout_seconds=1e9
    ).select(
        F.col("request_id").alias("rid"),
        (F.col("status") == "completed").alias("completed"),
        F.col("right.amount").alias("got_amount"),
        F.col("right.seq").alias("got_seq"),
        none.cast("string").alias("got_id"),
        none.cast("string").alias("got_tier"),
        none.cast("double").alias("got_balance"),
    )
    look_req = decode_envelope(
        timed.filter(F.col("topic") == gen.ACCOUNT_GET_T), ACCOUNT_GET
    )
    looks = correlate_batch(
        look_req, decode_envelope(replies, ACCOUNT), timeout_seconds=1e9
    ).select(
        F.col("request_id").alias("rid"),
        (F.col("status") == "completed").alias("completed"),
        none.cast("double").alias("got_amount"),
        none.cast("long").alias("got_seq"),
        F.col("right.id").alias("got_id"),
        F.col("right.tier").alias("got_tier"),
        F.col("right.balance").alias("got_balance"),
    )
    snap = spark.createDataFrame(snapshot_rows, ACCOUNT).select(
        F.col("id").alias("want_id"),
        F.col("tier").alias("want_tier"),
        F.col("balance").alias("want_balance"),
    )
    p = F.col("payload")
    quote_ok = (F.col("got_amount") == F.round(p.qty * p.unit_price, 2)) & (
        F.col("got_seq") == p.seq
    )
    look_ok = (
        (F.col("got_id") == p.id)
        & (F.col("got_tier") == F.col("want_tier"))
        & (F.col("got_balance") == F.col("want_balance"))
    )
    ok = F.col("completed") & F.when(p.id.isNull(), quote_ok).otherwise(look_ok)
    rows = (
        requests.join(quotes.unionByName(looks), "rid", "left")
        .join(snap, p.id == F.col("want_id"), "left")
        .join(per_request, "rid", "left")
        .select(
            p.seq.alias("seq"),
            "visible",
            F.coalesce(F.col("n_replies"), F.lit(0)).alias("n_replies"),
            F.coalesce(ok, F.lit(False)).alias("ok"),
        )
        .collect()
    )
    lat, failed, shown = [], 0, 0
    for r in rows:
        good = bool(r["ok"]) and r["n_replies"] == 1
        due = t_start + r["seq"] / RATE
        if good:
            lat.append((r["visible"] - due) * 1000.0)
            continue
        failed += 1
        lat.append(max(2 * RPC_LIMIT_MS, (time.time() - due) * 1000.0))
        if shown < 20:
            shown += 1
            ctx.mismatches.append(
                f"request seq={r['seq']}: replies={r['n_replies']} correct={r['ok']}"
            )
    ctx.check("requests checked", len(rows), n_req)
    return lat, failed


def _codec_probe(ctx, timed) -> None:
    """Codec layer numbers over the staged requests: mean wire bytes, and
    the median of three timings of decoding the quote requests and of
    encoding their replies."""
    spark, tr = ctx.spark, ctx.tracer
    ctx.layer["codec.wire_bytes_per_event"] = timed.agg(
        F.avg(F.length("value"))
    ).collect()[0][0]
    quotes = timed.filter(F.col("topic") == gen.QUOTE_T).localCheckpoint(eager=True)
    replies = decode_envelope(quotes, QUOTE).select(
        F.col("payload.seq").alias("seq"),
        F.col("payload.user_id").alias("user_id"),
        (F.col("payload.qty") * F.col("payload.unit_price")).alias("amount"),
    ).localCheckpoint(eager=True)
    for _ in range(3):
        with tr.span("codec.decode"):
            decode_envelope(quotes, QUOTE).write.format("noop").mode("overwrite").save()
        with tr.span("codec.encode"):
            encode_envelope(replies, gen.QUOTE_REPLY_T).write.format("noop").mode(
                "overwrite"
            ).save()


def _layer_metrics(ctx, polls, gen_log, t_start: float, n_req: int) -> None:
    tr, lay = ctx.tracer, ctx.layer
    traced = [p for p in polls if p["traced"]]
    n = len(traced) or 1
    lay["codec.decode_s"] = statistics.median(tr.durations("codec.decode") or [0.0])
    lay["codec.encode_s"] = statistics.median(tr.durations("codec.encode") or [0.0])
    lay["runtime.run_batch.build_s"] = tr.total("runtime.run_batch.build") / n
    lay["runtime.run_batch.py4j_calls"] = tr.counts["runtime.run_batch.build.py4j_calls"] / n
    _poll_metrics(ctx, traced)
    _loadgen_metrics(ctx, gen_log, n_req, t_start)
    on = [p["dt"] for p in traced]
    off = [p["dt"] for p in polls if not p["traced"]]
    lay["trace.overhead_ratio"] = (
        statistics.median(on) / statistics.median(off) - 1.0 if on and off else 0.0
    )


def _poll_metrics(ctx, traced: list[dict]) -> None:
    """Poll and publish numbers over the traced polls."""
    tr, lay = ctx.tracer, ctx.layer
    n = len(traced) or 1
    lay["runtime.filebus.publish_s"] = tr.total("runtime.filebus.publish") / n
    lay["runtime.filebus.files_per_poll"] = sum(p["files"] for p in traced) / n
    dts = [p["dt"] for p in traced] or [0.0]
    lay["runtime.start_service.poll_p50_s"] = statistics.median(dts)
    lay["runtime.start_service.poll_tail_s"] = percentile_tail(dts)[0]
    # jobs of the stream's own run-id group plus those the poll span's
    # group saw (the descriptor publish before the stream starts)
    lay["runtime.start_service.poll_jobs"] = (
        sum(p["jobs"] for p in traced) + tr.counts["runtime.start_service.poll.jobs"]
    ) / n
    lay["runtime.start_service.events_per_poll"] = sum(p["rows"] for p in traced) / n


def _loadgen_metrics(ctx, gen_log: list[dict], n_req: int, t0: float) -> None:
    """Generator health: the rate it offered and its worst release delay."""
    last = max(e["done"] for e in gen_log)
    ctx.layer["loadgen.offered_events_per_s"] = n_req / (last - t0)
    ctx.layer["loadgen.lag_max_ms"] = max(
        (e["done"] - e["due"]) * 1000.0 for e in gen_log
    )
