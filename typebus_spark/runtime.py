"""Runtime: materialize registered streams over a transport.

Reference pipeline (TypebusKafkaConsumer.startConsumerGraph,
/root/reference/typebus-kafka/.../KafkaBus.scala:191-242):

    source(topics) → decode → merge(retry) → route→handler → retry-state
                   → reply+commit

Spark re-expression (SURVEY.md §3.1): each registered stream becomes
``source.filter(topic==in_fqn) → from_json decode → handler transform →
to_json encode (responseTo/correlation propagated) → sink``, with
unroutable/undecodable rows to a dead-letter topic (O2), RPC replies
additionally published to the caller's service topic (RPC2,
KafkaBus.scala:157-169), and checkpointing plus a FileBus publish that
is idempotent per (checkpoint, batchId) giving exactly-once output —
strictly stronger than the reference's commit-after-publish
at-least-once (O3, KafkaBus.scala:172), which KafkaBus keeps.

``run_batch`` is the per-micro-batch function; streaming mode wraps the
same function in ``foreachBatch`` so batch tests exercise the exact code
the stream runs (typebus-testkit parity, TestBus.scala:27-169).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field
from functools import lru_cache
from urllib.parse import unquote

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from typebus_spark.codec.envelope import (
    decode_envelope,
    encode_envelope,
    new_meta,
    service_exception,
)
from typebus_spark.registry import RetryPolicy, Service, retry_topic
from typebus_spark.streaming.retry import (
    ERROR_COL,
    _eligibility_conds,
    _retry_decoded_cols,
    _retry_parts,
    drop_head,
    stamp_now,
    split_failures,
)

DEAD_LETTER_TOPIC = "typebus.DeadLetter"
# Three typed trace wrappers (event/package.scala:35-45), each on its own
# topic named by its FQN: consume-side, publish-side, error-side.
TRACE_IN_TOPIC = "typebus.InEventTrace"
TRACE_OUT_TOPIC = "typebus.OutEventTrace"
TRACE_EXCEPTION_TOPIC = "typebus.ExceptionTrace"
TRACE_TOPICS = (TRACE_IN_TOPIC, TRACE_OUT_TOPIC, TRACE_EXCEPTION_TOPIC)
SOCKET_TOPIC_PREFIX = "typebus.socket."


@dataclass
class BatchResult:
    """Outputs of one batch pass.

    ``frames`` holds ``(key, value, topic)`` frames, one per generator
    branch of the router (one per stream and source frame, plus the
    unroutable dead letters). A row's ``topic`` is its only address.
    """

    frames: list[DataFrame] = field(default_factory=list)
    # Drain mode only (``run_batch(decoded_inputs=...)``): per stream, the
    # failed rows eligible for another attempt, as DECODED ``(meta,
    # payload, topic)`` frames the drain loop feeds straight back in,
    # skipping the JSON encode→decode round-trip of the durable
    # retry-topic path. A drain has no backoff-pending rows: each of
    # these is due in the next round. Not part of ``union_all`` — these
    # are loop state, not bus output.
    decoded_retry: dict[str, DataFrame] = field(default_factory=dict)

    def topic(self, t: str) -> DataFrame | None:
        """The outputs published to topic ``t``; None without outputs."""
        out = self.union_all()
        return None if out is None else out.filter(F.col("topic") == t)

    def union_all(self) -> DataFrame | None:
        """All outputs as ONE (key, value, topic) frame — every branch
        already carries its destination in the per-row ``topic`` column,
        so consumers can materialize the whole batch in a single pass
        instead of one action per destination."""
        if not self.frames:
            return None
        out = self.frames[0]
        for d in self.frames[1:]:
            out = out.unionByName(d)
        return out.select(*_kvt_cols())

    def absorb(self, other: "BatchResult") -> None:
        """Append another result's outputs to this one."""
        self.frames.extend(other.frames)

    def _emit(self, src: DataFrame, gen: F.Column) -> None:
        self.frames.append(src.select(gen).filter(_routed()))


# Column objects are immutable unresolved expression trees — building
# them costs a py4j round-trip per node (a fresh EventMeta struct is ~60
# such trips), and run_batch used to rebuild identical trees every call
# (~1.4 s of socket chatter per micro-batch, measured). The lru_caches
# below pin the STATIC trees; reuse across plans is safe, and the
# nondeterministic leaves (the envelope's fresh id and clock, read by
# reflection) still evaluate per row at execution. They also keep the
# generated code identical across plans, so a warm batch compiles none.


@lru_cache(maxsize=128)
def _static_meta(fqn: str) -> F.Column:
    return new_meta(fqn)


@lru_cache(maxsize=1)
def _kvt_cols() -> tuple:
    return (F.col("key"), F.col("value"), F.col("topic"))


@lru_cache(maxsize=1)
def _routed() -> F.Column:
    return F.col("topic").isNotNull()


@lru_cache(maxsize=128)
def _flat_cols(payload_fields: tuple) -> tuple:
    """(meta, payload.a, payload.b, …) — the handler input projection,
    cached per payload shape (the string form ``select("meta",
    "payload.*")`` rebuilt its column list per stream per build)."""
    return (F.col("meta"),) + tuple(
        F.col(f"payload.{c}") for c in payload_fields
    )


@lru_cache(maxsize=8)
def _trace_gate(trace: bool) -> F.Column:
    """traceEvent gate (bus/package.scala:66-74): global flag OR per-event
    meta.trace, and NEVER for an event that is itself a trace type (the
    loop guard)."""
    return (
        (F.lit(trace) | F.coalesce(F.col("meta.trace"), F.lit(False)))
        & ~F.col("meta.event_type").isin(*TRACE_TOPICS)
    )


@lru_cache(maxsize=1)
def _meta_payload_env() -> F.Column:
    return F.struct("meta", "payload")


@lru_cache(maxsize=1)
def _undecodable() -> F.Column:
    return F.col("payload").isNull() | F.col("meta").isNull()


@lru_cache(maxsize=2)
def _good_cond(retry: bool) -> F.Column:
    """Handler input: decodable rows, minus backoff-pending retry rows."""
    good = ~_undecodable()
    return good & _eligibility_conds()[0] if retry else good


@lru_cache(maxsize=256)
def _reply_env_cols(out_type: str, out_cols: tuple, pk: str | None) -> tuple:
    """(key, reply envelope, request meta) — the reply frame's first
    projection. The key is the handler-output column ``pk`` (null
    without one). The envelope: responseTo = request eventId,
    correlation propagated, directReply passed through (RPC2/RPC3),
    payload projected to the declared out-type columns. It is computed
    once per row, so the reply on every destination and its
    OutEventTrace carry one event. A pure function of its arguments, so
    it is shared across Service instances."""
    key_col = F.col(pk).cast("string") if pk else F.lit(None).cast("string")
    reply_meta = new_meta(
        out_type,
        key=key_col,
        correlation_id=F.col("meta.correlation_id"),
        response_to=F.col("meta.event_id"),
        direct_reply_path=F.col("meta.direct_reply.path"),
        direct_reply_service=F.col("meta.direct_reply.service_name"),
        socket_id=F.col("meta.socket_id"),
    )
    env = F.struct(
        reply_meta.alias("meta"),
        F.struct(*[F.col(c) for c in out_cols]).alias("payload"),
    )
    return (
        key_col.cast("binary").alias("key"),
        env.alias("_env"),
        F.col("meta"),
    )


def _sql_str(s: str) -> str:
    """SQL single-quoted string literal (topic/type names are code-declared
    identifiers, but escape defensively)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


@lru_cache(maxsize=512)
def _topic_in(topics: tuple, negate: bool = False) -> F.Column:
    """``topic [NOT] IN (...)`` as ONE parsed expression — the Column
    form (``F.col("topic").isin(*ts)``) costs ~5 py4j round trips and is
    rebuilt per stream per round in the router; this is 1 trip per
    distinct topic set, then free."""
    lst = ", ".join(_sql_str(t) for t in topics)
    return F.expr(f"topic {'NOT ' if negate else ''}IN ({lst})")


@lru_cache(maxsize=1)
def _fid_col() -> F.Column:
    return F.col("meta.event_id").alias("_fid")


@lru_cache(maxsize=1)
def _fid_join_cond() -> F.Column:
    return F.col("meta.event_id") == F.col("_fid")


def _json(env: F.Column) -> F.Column:
    return F.to_json(env).cast("binary")


@lru_cache(maxsize=256)
def _trace_value(
    service_name: str, trace_fqn: str, env: str | None = None
) -> F.Column:
    """An envelope wrapped as a typed Trace event — payload = (service,
    event), meta = fresh, eventType = the trace FQN, trace=false
    (bus/package.scala:75-89). The envelope is the row's ``(meta,
    payload)``, or the struct column named ``env``."""
    event = _meta_payload_env() if env is None else F.col(env)
    payload = F.struct(F.lit(service_name).alias("service"), event.alias("event"))
    return _json(
        F.struct(_static_meta(trace_fqn).alias("meta"), payload.alias("payload"))
    )


@lru_cache(maxsize=256)
def _dead_letter_value(message: str, in_fqn: str | None) -> F.Column:
    """A routed row wrapped as a ServiceException envelope
    (produceErrorReport, bus/package.scala:93-125); ``extra.topic`` names
    the topic the row arrived on — ``in_fqn``, or the row's own ``topic``
    column when None. A decoded row (``in_fqn`` given) is linked like a
    reply: ``response_to`` is its event id and its correlation id is
    propagated. A raw unroutable row has no decoded meta to link."""
    fqn = "typebus.ServiceException"
    if in_fqn is None:
        orig_topic, meta = F.col("topic"), _static_meta(fqn)
    else:
        orig_topic = F.lit(in_fqn)
        meta = new_meta(
            fqn,
            correlation_id=F.col("meta.correlation_id"),
            response_to=F.col("meta.event_id"),
        )
    payload = service_exception(
        message,
        "java.lang.RuntimeException",
        extra=F.map_from_arrays(F.array(F.lit("topic")), F.array(orig_topic)),
    )
    return _json(F.struct(meta.alias("meta"), payload.alias("payload")))


@lru_cache(maxsize=1)
def _null_key() -> F.Column:
    return F.lit(None).cast("binary")


@lru_cache(maxsize=1)
def _unroutable_cols() -> tuple:
    return (
        _null_key().alias("key"),
        _dead_letter_value("no handler for topic", None).alias("value"),
        F.lit(DEAD_LETTER_TOPIC).alias("topic"),
    )


def _fan(arms: list) -> F.Column:
    """One generator over a source frame: ``inline`` of one
    ``(key, value, topic)`` struct per arm ``(cond, key, value, topic)``.
    An arm emits a row where ``cond`` holds (None = always) and its topic
    is non-null; ``BatchResult._emit`` drops the null-topic rows. ``cond``
    also guards ``value``, so an arm's envelope is only encoded for the
    rows it emits.
    """
    structs = []
    for cond, key, value, topic in arms:
        topic = F.lit(topic) if isinstance(topic, str) else topic
        if cond is not None:
            topic, value = F.when(cond, topic), F.when(cond, value)
        structs.append(
            F.struct(
                (key if key is not None else _null_key()).alias("key"),
                value.alias("value"),
                topic.alias("topic"),
            )
        )
    return F.inline(F.array(*structs))


@lru_cache(maxsize=256)
def _decoded_fan(
    service_name: str,
    in_fqn: str,
    retry_t: str | None,
    trace: bool,
) -> F.Column:
    """Over decoded ``(meta, payload)`` rows: with a ``retry_t``,
    backoff-pending rows back to that retry topic (KafkaBus.scala:188-197
    merge semantics, minus the dropHead load-shed), undecodable rows to
    the dead-letter topic (O2), and an InEventTrace of every routed row,
    gated per row (O1, KafkaBus.scala:200)."""
    bad = _undecodable()
    dead, routed = bad, ~bad
    arms = []
    if retry_t is not None:
        pending = _eligibility_conds()[1]
        dead, routed = ~pending & dead, ~pending & routed
        arms.append((pending, None, _json(_meta_payload_env()), retry_t))
    arms += [
        (
            dead,
            None,
            _dead_letter_value("undecodable payload", in_fqn),
            DEAD_LETTER_TOPIC,
        ),
        (
            routed & _trace_gate(trace),
            None,
            _trace_value(service_name, TRACE_IN_TOPIC),
            TRACE_IN_TOPIC,
        ),
    ]
    return _fan(arms)


@lru_cache(maxsize=256)
def _reply_fan(service_name: str, out_type: str, trace: bool) -> tuple:
    """(projection, fan) over the reply frame ``(key, _env, meta)``: the
    encoded reply goes to its out-type topic, plus the caller's
    service-name topic when the request carried a direct_reply (RPC2,
    KafkaBus.scala:60-73,157-169), plus a per-socket push topic when it
    carried a socket_id (event/package.scala:156-159); an OutEventTrace
    of the reply goes out when the request is traced (KafkaBus.scala:75).
    """
    proj = (
        F.col("key"),
        F.col("_env"),
        _json(F.col("_env")).alias("value"),
        F.when(
            _trace_gate(trace),
            _trace_value(service_name, TRACE_OUT_TOPIC, "_env"),
        ).alias("_trace"),
    )
    key, value, sock = F.col("key"), F.col("value"), F.col("_env.meta.socket_id")
    fan = _fan(
        [
            (None, key, value, out_type),
            (None, key, value, F.col("_env.meta.direct_reply.service_name")),
            (None, key, value, F.concat(F.lit(SOCKET_TOPIC_PREFIX), sock)),
            (F.col("_trace").isNotNull(), None, F.col("_trace"), TRACE_OUT_TOPIC),
        ]
    )
    return proj, fan


@lru_cache(maxsize=256)
def _give_up_fan(
    service_name: str,
    in_fqn: str,
    policy: RetryPolicy | None,
    flagged: bool,
    requeue: bool,
    trace: bool,
) -> tuple:
    """Over failed rows' ORIGINAL events (``meta, payload``, plus a
    ``_retryable`` flag when ``flagged``): retry-eligible rows back to
    the retry topic with attempt and backoff updated (ST1; only with
    ``requeue``), the rest dead-lettered as "handler failed" with an
    ExceptionTrace beside the error report (produceErrorReport,
    bus/package.scala:110-124). Returns ``(retry condition, fan)``; the
    condition is None without a policy."""
    retry = gave_up = None
    arms = []
    if policy is not None:
        retry = _retry_parts(policy)[0]
        if flagged:
            retry = retry & F.col("_retryable")
        gave_up = ~retry
        if requeue:
            rt = retry_topic(in_fqn)
            meta, payload, _ = _retry_decoded_cols(policy, rt)
            arms.append((retry, None, _json(F.struct(meta, payload)), rt))
    gate = _trace_gate(trace)
    arms += [
        (
            gave_up,
            None,
            _dead_letter_value("handler failed", in_fqn),
            DEAD_LETTER_TOPIC,
        ),
        (
            gate if gave_up is None else gave_up & gate,
            None,
            _trace_value(service_name, TRACE_EXCEPTION_TOPIC),
            TRACE_EXCEPTION_TOPIC,
        ),
    ]
    return retry, _fan(arms)


def run_batch(
    service: Service,
    raw: DataFrame | None,
    trace: bool = False,
    now_epoch: int | None = None,
    decoded_inputs: dict[str, DataFrame] | None = None,
) -> BatchResult:
    """Route one batch of raw bus rows through every registered stream.

    ``raw`` columns: ``key binary, value binary, topic string`` — the
    transport-neutral bus row (Kafka source shape). ``now_epoch`` pins the
    retry clock for deterministic tests (wall clock otherwise). The clock
    is data: retry streams' decoded rows carry it as a ``_now`` column,
    so the plan's fragments depend on the service alone.

    Lazy: nothing runs until the caller materializes the result
    (``BatchResult.union_all`` gives the whole batch as one frame). Every
    service gets the same plan shape:

    - ``raw`` is checkpointed, then decoded once per payload-schema group
      (streams sharing a schema decode together; a stream's rows are a
      topic filter over its group's decode), and that decode is
      checkpointed too. Catalyst has no cross-branch CSE through a Union,
      so without the checkpoints every branch would re-run the caller's
      upstream lineage and re-parse the envelope JSON. A group with a
      retry stream stamps ``_now`` before its checkpoint, so every
      branch reads one clock value per row.
    - Unroutable rows are dead-lettered from the raw checkpoint.
    - Each stream contributes at most three generator branches, one per
      source frame: its decoded rows (backoff-pending re-queue,
      undecodable dead letter, InEventTrace), the handler output (reply
      fan-out and OutEventTrace) and its failed rows (retry, "handler
      failed" dead letter, ExceptionTrace).

    A dict ``decoded_inputs`` (possibly empty) selects drain mode. It
    maps in-type FQN → an ALREADY-DECODED ``(meta, payload, topic)``
    frame, unioned past the decode stage (the drain loop's retry
    feedback — no JSON round-trip; the caller checkpoints it, and it is
    stamped after the snapshot). ``raw=None`` runs on decoded inputs
    alone. A drain fast-forwards time, so it has no backoff-pending
    rows: every decodable row of a retry stream goes to its handler, and
    the failed rows eligible for another attempt go to
    ``BatchResult.decoded_retry`` in that decoded shape instead of being
    encoded to the retry topic.
    """
    res = BatchResult()
    requeue = decoded_inputs is None
    decoded_inputs = decoded_inputs or {}
    streams = service.streams

    def _stream_topics(fqn: str) -> tuple:
        return (fqn,) + ((retry_topic(fqn),) if streams[fqn].retry else ())

    decoded_by_fqn: dict[str, DataFrame] = {}
    if raw is not None:
        # LAZY checkpoints: the caller's one materialization computes each
        # exactly once (RDD cache locks compute each partition once, so
        # the nondeterministic fresh-id envelopes stay consistent across
        # branches — probed in test_runtime), with no build-time job.
        raw = raw.localCheckpoint(eager=False)
        groups: dict[str, list[str]] = {}
        for f in streams:
            groups.setdefault(service.catalog.schema_for(f).json(), []).append(f)
        for fqns in groups.values():
            gtopics = tuple(t for f in fqns for t in _stream_topics(f))
            gdec = decode_envelope(
                raw.filter(_topic_in(gtopics)),
                service.catalog.schema_for(fqns[0]),
            )
            if any(streams[f].retry for f in fqns):
                gdec = stamp_now(gdec, now_epoch)
            gdec = gdec.localCheckpoint(eager=False)
            for f in fqns:
                decoded_by_fqn[f] = (
                    gdec
                    if len(fqns) == 1
                    else gdec.filter(_topic_in(_stream_topics(f)))
                )
        # R1 routing: topic-per-type makes dispatch a source-level filter;
        # retry topics route back to their base stream (U1 merge analog).
        # The service-name topic is the RPC back-channel
        # (KafkaBus.scala:184): replies addressed to this service are
        # consumed by the RPC correlation path (streaming/rpc.py), so they
        # are never dead-lettered as unroutable.
        routed = {t for f in streams for t in _stream_topics(f)} | {service.name}
        res.frames.append(
            raw.filter(_topic_in(tuple(sorted(routed)), negate=True)).select(
                *_unroutable_cols()
            )
        )

    for in_fqn, sd in streams.items():
        decoded = decoded_by_fqn.get(in_fqn)
        fed = decoded_inputs.get(in_fqn)
        if fed is not None:
            if sd.retry:
                fed = stamp_now(fed, now_epoch)
            decoded = fed if decoded is None else decoded.unionByName(fed)
        if decoded is None:
            continue
        retry_t = retry_topic(in_fqn) if sd.retry else None
        # the topic backoff-pending rows go back to; a drain has none
        pending_t = retry_t if requeue else None
        res._emit(decoded, _decoded_fan(service.name, in_fqn, pending_t, trace))

        # T1: handler over (meta, payload-fields); flatten payload for
        # ergonomic expression handlers, keep meta for correlation.
        payload_schema = service.catalog.schema_for(in_fqn)
        payload_fields = tuple(f.name for f in payload_schema.fields)
        good = decoded.filter(_good_cond(pending_t is not None))
        out = sd.handler(good.select(*_flat_cols(payload_fields)))

        # ST1/ST2 + C2: rows marked failed (``_error`` convention) are
        # re-delivered from the ORIGINAL event (semi-join on the retry
        # state key meta.event_id, KafkaBus.scala:205) with backoff, or
        # dead-lettered on give-up / when no policy is attached.
        failed = None
        if out is not None:
            out, failed = split_failures(out)
        if failed is not None:
            flagged = bool(sd.retry and sd.retry_on)
            if flagged:
                # ST2 selective retry: only errors matching the stream's
                # retry_on pattern are retryable (the PF.isDefinedAt
                # analog, bus/package.scala:41-45); an event retries only
                # when every failure it raised matches.
                ids = failed.groupBy(_fid_col()).agg(
                    F.bool_and(F.col(ERROR_COL).rlike(sd.retry_on)).alias(
                        "_retryable"
                    )
                )
                orig = good.join(ids, _fid_join_cond())
            else:
                orig = good.join(
                    failed.select(_fid_col()), _fid_join_cond(), "left_semi"
                )
            retry, fan = _give_up_fan(
                service.name, in_fqn, sd.retry, flagged, requeue, trace
            )
            if retry is not None and not requeue:
                # Drain mode: cut the join lineage here, once per round —
                # the decoded retry rows and the give-up branch both read
                # it. Lazy: the drain loop's queue-snapshot count
                # materializes it, so the round pays one job, not two.
                orig = orig.localCheckpoint(eager=False)
                res.decoded_retry[in_fqn] = orig.filter(retry).select(
                    *_retry_decoded_cols(sd.retry, retry_t)
                )
            res._emit(orig, fan)

        if sd.out_type is None or out is None:
            continue  # T2 terminal sink stream

        # Reply encoding (replyAndCommit, KafkaBus.scala:136-169):
        # responseTo = request eventId, correlationId propagated,
        # directReply passed through (RPC3), partition key from builder.
        # The payload is projected to the DECLARED out-type schema (static
        # typing analog of O4 return-type resolution); the partition key
        # names any handler-output column, so a computed key
        # (``withPartitionKey(U => String)``, bus/package.scala:36-39) is
        # a column the handler adds.
        if "meta" not in out.columns:
            raise ValueError(
                f"handler for {in_fqn} must preserve the 'meta' column"
            )
        out_schema = service.catalog.schema_for(sd.out_type)
        out_cols = tuple(f.name for f in out_schema.fields)
        missing = [c for c in out_cols if c not in out.columns]
        if missing:
            raise ValueError(
                f"handler for {in_fqn} output is missing declared "
                f"{sd.out_type} fields: {missing}"
            )
        env_cols = _reply_env_cols(sd.out_type, out_cols, sd.partition_key)
        proj, fan = _reply_fan(service.name, sd.out_type, trace)
        res._emit(out.select(*env_cols).select(*proj), fan)
    return res


def _drain_round_bound(service: Service) -> int | None:
    """Static upper bound on the number of drain rounds that can end
    with a NONEMPTY retry queue — the give-up filter as arithmetic.

    Rows enter the drain only at round 1 (``raw=None`` afterwards), and
    every queued row is due in the next round, where its attempt count
    goes up by one if it fails again; a row is re-queued only while that
    count is ≤ max_attempts. A fresh row (attempt 0) therefore lives at
    most 1 + max_attempts rounds, a row that arrives from the retry
    topic with attempts spent fewer; after that it has either succeeded
    or been dead-lettered. Past this bound the queue is PROVABLY empty, so the
    drain loop skips the final snapshot+count job. Returns None when no
    stream retries (the loop exits on the round-1 emptiness check).

    Reference parity: the reference pays no drain bookkeeping at all —
    its retry is a fire-and-forget in-memory timer
    (KafkaBus.scala:229-233) that a crash silently drops; the remaining
    snapshot jobs here are the price of deterministic replay.
    """
    bounds = [
        1 + sd.retry.max_attempts
        for sd in service.streams.values()
        if sd.retry is not None
    ]
    return max(bounds) if bounds else None


# Round cap of ``drain_batches``. A drain whose static bound exceeds it
# dead-letters the queue left at the cap instead of replaying it further.
_MAX_DRAIN_ROUNDS = 10
# The drain's clock (epoch seconds). A drain fast-forwards time, so no
# row waits on it; it only stamps the ``not_before`` of re-queued rows.
_DRAIN_EPOCH = 1_000_000


def drain_batches(
    service: Service,
    raw: DataFrame,
    buffer_size: int | None = None,
    buffer_order: Column | str | None = None,
) -> BatchResult:
    """Batch-mode retry drain: run ``run_batch``, feed the failed rows
    eligible for retry back in, until the retry queue is empty (the
    in-process analog of the streaming retry loop — used for
    deterministic tests and batch reprocessing jobs).

    A drain fast-forwards time: there is no backoff wait, and every
    queued row is due in the next round, including retry-topic rows
    whose ``not_before`` lies in the future. Only the attempt count
    bounds a row's retries, as in the stream.

    The drain runs at most ``_MAX_DRAIN_ROUNDS`` rounds; rows still
    queued after the last one are dead-lettered as "retry rounds
    exhausted", so every event ends as an output or a dead letter.

    ``buffer_size`` caps each stream's per-round retry queue with the
    reference's dropHead load-shed semantics (the 16-element
    ``buffer(16, OverflowStrategy.dropHead)`` at KafkaBus.scala:186-189):
    only the newest ``buffer_size`` rows by ``buffer_order`` (a column
    over the DECODED retry shape, e.g. ``payload.<seq>``) re-inject;
    older overflow is silently shed, exactly like the reference under
    overload. Default ``None`` = unbounded (nothing shed) — the
    documented divergence when durability beats liveness."""
    merged = BatchResult()
    # Per round, materialize ONLY what the next round needs: the retry
    # queue, kept in DECODED form (drain mode of ``run_batch``) — the
    # loop feeds it back through ``decoded_inputs``, so rounds 2+ skip
    # the retry-topic JSON encode AND the decode stage entirely (the two
    # most expensive expressions in the router; the durable bus path
    # still pays them, an in-process drain needn't). Coalesce +
    # localCheckpoint cuts the lineage that would otherwise re-execute
    # every previous round's decode+handler pipeline, multiplicatively
    # with drain depth. Round 1's decode is checkpointed inside
    # ``run_batch``, so terminal outputs (done/dead-letter/trace topics)
    # and the round-1 retry snapshot all scan decoded rows — the decode
    # runs exactly once per drain, not once per branch.
    if buffer_size is not None and buffer_order is None:
        # validate BEFORE the first round: a workload whose first batch
        # happens not to retry would otherwise silently never shed
        raise ValueError(
            "buffer_size requires buffer_order (a column over the "
            "decoded retry rows to rank newest-first, e.g. "
            "payload.<sequence field>)"
        )
    feedback: dict[str, DataFrame] = {}
    # Static give-up bound: past this round the retry queue is PROVABLY
    # empty (every row has either succeeded or exceeded max_attempts —
    # see _drain_round_bound), so the final round skips its
    # snapshot+count job; its outputs materialize lazily in the
    # caller's one consuming action instead.
    bound = _drain_round_bound(service)
    for rnd in range(1, _MAX_DRAIN_ROUNDS + 1):
        res = run_batch(
            service, raw, now_epoch=_DRAIN_EPOCH, decoded_inputs=feedback
        )
        raw = None  # only round 1 consumes the raw batch
        merged.absorb(res)
        if not res.decoded_retry or (bound is not None and rnd >= bound):
            break
        if rnd == _MAX_DRAIN_ROUNDS:
            # Cap reached before the bound: the queue may still hold
            # rows. Dead-letter them lazily (no snapshot job) instead of
            # dropping them.
            for fqn, df in res.decoded_retry.items():
                value = _dead_letter_value("retry rounds exhausted", fqn)
                merged._emit(df, _fan([(None, None, value, DEAD_LETTER_TOPIC)]))
            break
        # Materialize the (small) next-round queue: the snapshot makes
        # the emptiness check free and keeps the queue's lineage from
        # deepening across rounds (without it every consumer re-scans
        # every prior round's checkpoint — measured 3-4x slower).
        # The expensive part of the round — the give-up semi-join — was
        # already cut inside ``run_batch`` (the failed-rows checkpoint), so
        # this job is a cheap filter scan.
        feedback = {}
        for fqn, df in res.decoded_retry.items():
            if buffer_size is not None:
                df = drop_head(df, buffer_size, buffer_order)
            par = df.sparkSession.sparkContext.defaultParallelism
            # lazy checkpoint + count: ONE job materializes the queue
            # snapshot AND answers the emptiness probe (an eager
            # checkpoint followed by isEmpty would be two sequential
            # driver round-trips per stream per round); the count also
            # pulls the round's failed-rows checkpoint (its upstream)
            # into cache, so the give-up branch scans cached rows
            ck = df.coalesce(par).localCheckpoint(eager=False)
            n = ck.count()
            if n > 0:
                # The count just measured the queue, so a NEAR-EMPTY
                # queue can stop scheduling ``par`` empty tasks in every
                # consumer job of the next round (coalesce on top of the
                # materialized checkpoint is a narrow read of the cached
                # blocks, no recompute). The threshold must stay SMALL:
                # the queue feeds the next round's full router (decode +
                # handlers — CPU-dense), so collapsing a real queue
                # de-parallelizes the round. Measured at sf0.1 (100k-row
                # queue): ~20k rows/task → 5 tasks cost 1.9 → 5.4 s;
                # only sub-1k-rows/core queues are safe to shrink.
                tgt = max(1, min(par, -(-n // 1_000)))
                feedback[fqn] = ck.coalesce(tgt) if tgt < par else ck
        if not feedback:
            break
    return merged


def _publish_name(label: str, key: str) -> str:
    """A file-name-safe publish name: ``label`` kept readable, plus a
    hash of ``key`` for uniqueness. Never starts with ``_`` or ``.``,
    which Spark's file sources treat as hidden."""
    safe = re.sub(r"[^0-9A-Za-z.-]", "_", label).lstrip("_.")
    return f"{safe}-{hashlib.sha1(key.encode()).hexdigest()[:12]}"


class FileBus:
    """File-backed transport: one parquet directory per topic under a root.

    Stand-in for Kafka with the same row shape ``(key, value, topic)``;
    the Kafka connector jar is absent in this environment, and the
    streaming file source supports the same read/readStream surface. On a
    real cluster ``KafkaBus`` (below) swaps in behind the same API.

    Every publish is one Spark write job into a staging directory under
    ``root/.staging/`` (same filesystem), whose files the driver then
    renames into the topic directories as ``<name>-<n>.parquet``. A
    rename is atomic, so a reader never sees a partial file, and a
    publish repeated under the same name replaces its files instead of
    adding to them: ``start_service`` names each micro-batch by
    (checkpoint, batchId), which makes its output exactly-once.
    """

    RAW_SCHEMA = "key binary, value binary, topic string"
    _DEST = "_dest"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, topic: str) -> str:
        return os.path.join(self.root, topic)

    def holds(self, topic: str, name: str) -> bool:
        """Whether a publish under ``name`` has put a file on ``topic``."""
        return os.path.exists(os.path.join(self._dir(topic), f"{name}-0.parquet"))

    def publish(self, df: DataFrame, name: str | None = None) -> None:
        """Write bus rows to their topic directories in one Spark job.

        Rows go to the directory of their own ``topic`` column. Files are
        named ``<name>-<n>.parquet``; a repeated ``name`` overwrites its
        earlier files and removes those it no longer produces, so a
        replayed publish is idempotent.
        Without ``name`` every call gets a fresh one (append).
        """
        name = name or uuid.uuid4().hex
        staging = os.path.join(self.root, ".staging", name)
        shutil.rmtree(staging, ignore_errors=True)
        # coalesce keeps the file count bounded: the routed batch is a
        # union of many narrow branches, written by one wave of tasks
        par = df.sparkSession.sparkContext.defaultParallelism
        rows = df.selectExpr("key", "value", "topic", f"topic AS {self._DEST}")
        rows.coalesce(par).write.partitionBy(self._DEST).parquet(staging)

        prefix = f"{self._DEST}="
        written = set()
        for sub in sorted(os.listdir(staging)):
            if not sub.startswith(prefix):
                continue  # _SUCCESS and its checksum
            out = self._dir(unquote(sub[len(prefix):]))
            os.makedirs(out, exist_ok=True)
            parts = sorted(
                p
                for p in os.listdir(os.path.join(staging, sub))
                if p.endswith(".parquet")  # not the .crc checksums
            )
            for n, p in enumerate(parts):
                dst = os.path.join(out, f"{name}-{n}.parquet")
                os.replace(os.path.join(staging, sub, p), dst)
                written.add(dst)
        # a replay that produces fewer files must not leave the earlier
        # attempt's extra parts behind
        own = re.compile(re.escape(name) + r"-\d+\.parquet")
        for d in os.scandir(self.root):
            if d.is_dir() and d.name != ".staging":
                for f in os.scandir(d.path):
                    if own.fullmatch(f.name) and f.path not in written:
                        os.remove(f.path)
        shutil.rmtree(staging)

    def read(self, spark: SparkSession, topics: list[str]) -> DataFrame:
        dfs = [
            spark.read.schema(self.RAW_SCHEMA).parquet(self._dir(t))
            for t in topics
            if os.path.isdir(self._dir(t))
        ]
        if not dfs:
            return spark.createDataFrame([], self.RAW_SCHEMA)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def read_stream(self, spark: SparkSession, topic: str) -> DataFrame:
        os.makedirs(self._dir(topic), exist_ok=True)
        return spark.readStream.schema(self.RAW_SCHEMA).parquet(self._dir(topic))


class KafkaBus:
    """Real-Kafka transport (S1/K1/K2). Requires the spark-sql-kafka
    connector on the classpath; unavailable in this container, so this is
    the documented scale path, exercised via FileBus locally.

    Drop-in for :class:`FileBus` under ``start_service`` (same
    ``read_stream``/``publish`` surface, so a jar drop is config-only).
    The option builders are pure functions asserted by
    tests/test_runtime.py without the jar: topic subscription, offset
    policy (``latest`` — KafkaBus.scala:117,121), bootstrap servers,
    and the (key, value, topic) row contract, where ``key`` is the
    stream's ``partition_key``, set by the router's reply projection
    (K1), and the Kafka sink routes each row by its ``topic`` column, as
    FileBus does.

    Delivery stays at-least-once: without a transactional producer a
    replayed micro-batch is sent again, so ``name`` is ignored and
    ``holds`` is always False."""

    RAW_COLUMNS = ("key", "value", "topic")

    def __init__(self, bootstrap_servers: str):
        self.bootstrap = bootstrap_servers

    def reader_options(self, topics: list[str] | str) -> dict[str, str]:
        if isinstance(topics, str):
            topics = [topics]
        return {
            "kafka.bootstrap.servers": self.bootstrap,
            "subscribe": ",".join(topics),
            "startingOffsets": "latest",  # auto.offset.reset=latest
        }

    def writer_options(self) -> dict[str, str]:
        # no "topic" option: the sink routes each row by its topic column
        return {"kafka.bootstrap.servers": self.bootstrap}

    def read_stream(
        self, spark: SparkSession, topics: list[str] | str
    ) -> DataFrame:
        reader = spark.readStream.format("kafka")
        for k, v in self.reader_options(topics).items():
            reader = reader.option(k, v)
        return reader.load().select(*self.RAW_COLUMNS)

    def holds(self, topic: str, name: str) -> bool:  # noqa: ARG002
        return False

    def publish(
        self, df: DataFrame, name: str | None = None  # noqa: ARG002 — FileBus parity
    ) -> None:
        writer = df.select(*self.RAW_COLUMNS).write.format("kafka")
        for k, v in self.writer_options().items():
            writer = writer.option(k, v)
        writer.save()


def start_service(
    service: Service,
    bus: FileBus,
    spark: SparkSession,
    checkpoint_root: str,
    trace: bool = False,
):
    """Materialize every registered stream as ONE multiplexed Structured
    Streaming query: union of subscribed topic streams → ``foreachBatch``
    running the same ``run_batch`` as the batch path, publishing outputs
    back to the bus. Checkpointed (O3).

    Each micro-batch is one publish named by (checkpoint, batchId). A
    batch replayed after a crash between its publish and its checkpoint
    commit republishes under the same name, so on a FileBus it replaces
    its earlier files and every request keeps exactly one reply. On a
    KafkaBus the replay is sent again (at-least-once, as the reference).
    """
    # C1 startup broadcast (KafkaBus.scala:247): announce this service's
    # descriptor on the bus before consuming, so peers can discover it
    # without round-tripping a GetServiceDescriptor request. The name is
    # the descriptor's hash: a restart with the same descriptor finds it
    # on the bus already, an evolved service announces again.
    desc = json.dumps(service.descriptor(), sort_keys=True)
    desc_name = _publish_name(service.name, desc)
    if not bus.holds(Service.DESCRIPTOR_FQN, desc_name):
        desc_df = spark.createDataFrame(
            [(service.name, desc)], "service string, descriptor string"
        )
        bus.publish(
            encode_envelope(desc_df, Service.DESCRIPTOR_FQN), name=desc_name
        )

    topics = [t for t in service.subscribed_topics()]
    src = None
    for t in topics:
        s = bus.read_stream(spark, t)
        src = s if src is None else src.unionByName(s)

    checkpoint = os.path.join(checkpoint_root, service.name)
    batch_prefix = _publish_name(service.name, os.path.abspath(checkpoint))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # No emptiness probe: an availableNow file source never hands
        # foreachBatch an empty batch, so the publish is the batch's one
        # Spark job.
        allout = run_batch(service, batch_df, trace=trace).union_all()
        if allout is not None:
            bus.publish(allout, name=f"{batch_prefix}-{batch_id}")

    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
