"""PublishedEvent/EventMeta envelope codec (SURVEY.md §2.1 D1-D3).

Reference shapes (/root/reference/typebus/macros/.../event/package.scala):
- ``PublishedEvent(meta: EventMeta, payload: Array[Byte])`` (:166-169)
- ``EventMeta(eventId, eventType, correlationId, trace, directReply, key,
  socketId, responseTo, extra, occurredAt)`` (:140-149)
- ``ServiceException(message, throwableType, stackTrace, extra)`` (:28-33)
- ``RpcClient(path, service)`` (:122)

Each shape is built in one place, as the reference defines it once with
one avro4s writer and reader (Mapper.scala:19-67): ``new_meta`` builds
every EventMeta, ``service_exception`` every ServiceException, and
``EVENT_META_SCHEMA`` is what the decoder reads back.

Wire format: the engine's default is **UTF-8 JSON cast to binary** —
schema-driven via ``to_json``/``from_json``, JVM-side Catalyst
expressions with the same vectorized execution profile as
``to_avro``/``from_avro``. ``encode_envelope``/``decode_envelope`` take
``wire_format="avro"`` to use Avro binary instead (pyspark.sql.avro
functions + ``avro_schema_json`` below for the record schema); the choice
swaps only the serializer expression, around the same envelope struct
and the same decoded projection. The spark-avro connector jar is NOT in
this container, so that path raises a clear error here and is exercised
by a skip-marked round-trip test
(tests/test_runtime.py::test_avro_wire_format) that runs on real
clusters. Self-consistency + oracle agreement is the bar (SURVEY.md §7
risks).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    BooleanType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _avro_available(spark) -> bool:
    """True when the spark-avro connector actually works — the pyspark
    wrapper module imports even without the jar, so probe with a real
    (tiny) evaluation instead of an import check."""
    try:
        from pyspark.sql.avro.functions import to_avro

        spark.range(1).select(
            to_avro(F.struct(F.lit(1).alias("x")))
        ).collect()
        return True
    except Exception:
        return False


def avro_schema_json(schema, name: str = "PublishedEvent", _ns=None) -> str:
    """Avro record schema (JSON) for a Catalyst StructType — what
    ``from_avro`` needs to decode the wire bytes. Field-for-field with
    the reference's avro4s-derived schemas (Mapper.scala:19-67): every
    field is a ``["null", T]`` union (avro4s Option/default semantics),
    timestamps are ``timestamp-micros`` longs."""
    import json

    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType as _B,
        DateType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        MapType as _M,
        StringType as _S,
        StructType as _ST,
        TimestampType as _TS,
    )

    _ns = _ns if _ns is not None else [0]

    def conv(dt, field_name):
        if isinstance(dt, _ST):
            _ns[0] += 1
            return {
                "type": "record",
                "name": f"{field_name}_r{_ns[0]}",
                "fields": [
                    {"name": f.name, "type": ["null", conv(f.dataType, f.name)]}
                    for f in dt.fields
                ],
            }
        if isinstance(dt, ArrayType):
            return {
                "type": "array",
                "items": ["null", conv(dt.elementType, field_name)],
            }
        if isinstance(dt, _M):
            return {
                "type": "map",
                "values": ["null", conv(dt.valueType, field_name)],
            }
        if isinstance(dt, _TS):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, _S):
            return "string"
        if isinstance(dt, _B):
            return "boolean"
        if isinstance(dt, LongType):
            return "long"
        if isinstance(dt, IntegerType):
            return "int"
        if isinstance(dt, DoubleType):
            return "double"
        if isinstance(dt, FloatType):
            return "float"
        if isinstance(dt, BinaryType):
            return "bytes"
        raise TypeError(f"no avro mapping for {dt}")

    root = conv(schema, name)
    root["name"] = name
    return json.dumps(root)


RPC_CLIENT_SCHEMA = StructType(
    [
        StructField("path", StringType(), True),
        StructField("service_name", StringType(), True),
    ]
)

# EventMeta, field-for-field (event/package.scala:140-149); payload rides
# alongside instead of as opaque bytes-within-bytes so Catalyst can prune.
EVENT_META_SCHEMA = StructType(
    [
        StructField("event_id", StringType(), False),
        StructField("event_type", StringType(), False),
        StructField("correlation_id", StringType(), True),
        StructField("trace", BooleanType(), True),
        StructField("direct_reply", RPC_CLIENT_SCHEMA, True),
        StructField("key", StringType(), True),
        StructField("socket_id", StringType(), True),
        StructField("response_to", StringType(), True),
        StructField("extra", MapType(StringType(), StringType()), True),
        StructField("occurred_at", TimestampType(), True),
    ]
)


def service_exception(
    message: str | Column, throwable_type: str, extra: Column | None = None
) -> Column:
    """A ServiceException struct column (event/package.scala:28-33), the
    payload of dead letters and of RPC timeouts: an empty stack trace,
    ``extra`` an empty ``map<string,string>`` unless given."""
    return F.struct(
        (F.lit(message) if isinstance(message, str) else message).alias(
            "message"
        ),
        F.lit(throwable_type).alias("throwable_type"),
        F.array().cast("array<string>").alias("stack_trace"),
        (
            extra if extra is not None else F.create_map().cast("map<string,string>")
        ).alias("extra"),
    )


def published_event_schema(payload_schema: StructType) -> StructType:
    """PublishedEvent(meta, payload) with a typed payload."""
    return StructType(
        [
            StructField("meta", EVENT_META_SCHEMA, False),
            StructField("payload", payload_schema, False),
        ]
    )


# A fresh event id and the wall clock, as SQL read per row by reflection
# (UUID.randomUUID and now, bus/package.scala:52-60). ``reflect`` is
# evaluated through the expression object, so the generated Java source
# does not change from plan to plan and Spark's codegen cache (keyed by
# source text) hits on every warm batch. ``uuid()`` inlines its random
# seed, fixed when the Column is built (so a cached Column also repeats
# its ids across plans), and ``current_timestamp()`` folds to a new
# literal per query: either would make every batch recompile.
_FRESH_ID_SQL = "reflect('java.util.UUID', 'randomUUID')"
_NOW_SQL = "CAST(reflect('java.time.Instant', 'now') AS TIMESTAMP)"


def new_meta(
    event_type: str | Column,
    key: Column | None = None,
    correlation_id: Column | None = None,
    response_to: Column | None = None,
    direct_reply_path: Column | None = None,
    direct_reply_service: Column | None = None,
    socket_id: Column | None = None,
    trace: bool = False,
    occurred_at: Column | None = None,
) -> Column:
    """Build an EventMeta struct column with fresh UUIDs.

    Mirrors Publisher.publish wrapping (bus/package.scala:52-60): fresh
    eventId + correlationId (if absent), eventType = FQN, occurredAt = now.
    Ids and the clock are read per row (``_FRESH_ID_SQL``, ``_NOW_SQL``).
    """
    et = F.lit(event_type) if isinstance(event_type, str) else event_type
    return F.struct(
        F.expr(_FRESH_ID_SQL).alias("event_id"),
        et.alias("event_type"),
        (
            correlation_id if correlation_id is not None else F.expr(_FRESH_ID_SQL)
        ).alias("correlation_id"),
        F.lit(trace).alias("trace"),
        F.struct(
            (
                direct_reply_path
                if direct_reply_path is not None
                else F.lit(None).cast("string")
            ).alias("path"),
            (
                direct_reply_service
                if direct_reply_service is not None
                else F.lit(None).cast("string")
            ).alias("service_name"),
        ).alias("direct_reply"),
        (key if key is not None else F.lit(None).cast("string")).alias("key"),
        (
            socket_id if socket_id is not None else F.lit(None).cast("string")
        ).alias("socket_id"),
        (
            response_to if response_to is not None else F.lit(None).cast("string")
        ).alias("response_to"),
        F.create_map().cast("map<string,string>").alias("extra"),
        (
            occurred_at if occurred_at is not None else F.expr(_NOW_SQL)
        ).alias("occurred_at"),
    )


def _require_avro(df: DataFrame) -> None:
    if not _avro_available(df.sparkSession):
        raise RuntimeError(
            "wire_format='avro' needs the spark-avro connector jar on the "
            "classpath (org.apache.spark:spark-avro); it is absent in this "
            "environment — use the default JSON wire format here"
        )


def encode_envelope(
    df: DataFrame,
    event_type: str | Column,
    payload_cols: list[str] | None = None,
    key: Column | None = None,
    meta: Column | None = None,
    wire_format: str = "json",
) -> DataFrame:
    """Payload columns → bus rows ``(key binary, value binary, topic string)``.

    The envelope is ``(meta, payload)``: ``meta`` as given, or
    ``new_meta(event_type, key=key)``, and ``payload`` the struct of
    ``payload_cols`` (default: every column). ``wire_format`` picks only
    its serializer: ``to_json`` cast to binary, or ``to_avro`` (the
    reference's wire contract, Mapper.scala:19-67) when spark-avro is on
    the classpath. The (key, value, topic) triple is exactly what a Kafka
    sink consumes (K1/K2, KafkaBus.scala:56-80); file/memory transports
    use the same shape. Partition-key affinity (meta.key → Kafka
    partitioner, event/package.scala:135) is preserved via the ``key``
    column.

    The envelope is built from Columns, about a hundred py4j round trips
    per call. Callers encode at staging or publish time, never per
    batch: the router builds its replies, traces and dead letters from
    cached Columns (runtime.py).
    """
    et = F.lit(event_type) if isinstance(event_type, str) else event_type
    env = F.struct(
        (meta if meta is not None else new_meta(et, key=key)).alias("meta"),
        F.struct(*[F.col(c) for c in payload_cols or df.columns]).alias(
            "payload"
        ),
    )
    if wire_format == "avro":
        _require_avro(df)
        from pyspark.sql.avro.functions import to_avro

        value = to_avro(env)
    else:
        value = F.to_json(env).cast("binary")
    return df.select(
        (key if key is not None else F.lit(None).cast("string"))
        .cast("binary")
        .alias("key"),
        value.alias("value"),
        et.alias("topic"),
    )


@__import__("functools").lru_cache(maxsize=256)
def _json_decode_expr(payload_schema_json: str) -> Column:
    """Cached from_json expression per payload schema — the envelope
    schema → JVM conversion costs dozens of py4j round-trips, and the
    router decodes the same types every micro-batch. (Per-process cache;
    Column trees are immutable and reusable across plans.)"""
    import json as _json

    payload_schema = StructType.fromJson(_json.loads(payload_schema_json))
    env = published_event_schema(payload_schema)
    return F.from_json(F.col("value").cast("string"), env).alias("e")


@__import__("functools").lru_cache(maxsize=512)
def _decode_sel(raw_cols: tuple) -> tuple:
    """The decode's two projections past the envelope column ``e``,
    cached per input shape: the raw ``topic`` carried alongside it, then
    ``(meta, payload[, topic])``. The router re-decodes the same shapes
    every micro-batch, and rebuilding these column lists was a measured
    per-build py4j cost."""
    topic = (F.col("topic"),) if "topic" in raw_cols else ()
    return topic, (F.col("e.meta"), F.col("e.payload")) + topic


def decode_envelope(
    raw: DataFrame,
    payload_schema: StructType,
    wire_format: str = "json",
) -> DataFrame:
    """Bus rows → ``meta`` struct + typed ``payload`` struct (D1+D2),
    plus ``topic`` when the rows carry it.

    Equivalent of ``publishedEventReader.read`` (Mapper.scala:19-38) then
    the per-type payload decode (bus/package.scala:141-142), as one
    Catalyst expression: ``wire_format`` picks ``from_json`` (cached per
    payload schema) or ``from_avro``, and both share one projection.
    Undecodable rows yield NULL payloads → routed to the dead-letter
    path by the runtime (O2).
    """
    if wire_format == "avro":
        _require_avro(raw)
        from pyspark.sql.avro.functions import from_avro

        env = avro_schema_json(published_event_schema(payload_schema))
        decoded = from_avro(F.col("value"), env, {"mode": "PERMISSIVE"}).alias("e")
    else:
        decoded = _json_decode_expr(payload_schema.json())
    topic, sel = _decode_sel(tuple(raw.columns))
    return raw.select(decoded, *topic).select(*sel)


def parse_event_type(fqn: str) -> str:
    """EventType.parse analog (event/package.scala:58-65): strip the
    leading codegen ``api.`` prefix so generated and hand-written types
    resolve to the same stream."""
    return fqn[4:] if fqn.startswith("api.") else fqn
