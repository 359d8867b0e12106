"""PublishedEvent/EventMeta envelope codec (SURVEY.md §2.1 D1-D3).

Reference shapes (/root/reference/typebus/macros/.../event/package.scala):
- ``PublishedEvent(meta: EventMeta, payload: Array[Byte])`` (:166-169)
- ``EventMeta(eventId, eventType, correlationId, trace, directReply, key,
  socketId, responseTo, extra, occurredAt)`` (:140-149)
- ``RpcClient(path, service)`` (:122)

Wire format: the reference is Avro binary via avro4s (Mapper.scala:19-67).
The engine's default wire format is **UTF-8 JSON cast to binary** —
schema-driven via ``to_json``/``from_json``, JVM-side Catalyst
expressions with the same vectorized execution profile as
``to_avro``/``from_avro``. ``encode_envelope``/``decode_envelope`` take
``wire_format="avro"`` to use Avro binary instead (pyspark.sql.avro
functions + ``avro_schema_json`` below for the record schema); the
spark-avro connector jar is NOT in this container, so that path raises a
clear error here and is exercised by a skip-marked round-trip test
(tests/test_runtime.py::test_avro_wire_format_roundtrip) that runs on
real clusters. Self-consistency + oracle agreement is the bar
(SURVEY.md §7 risks).
"""

from __future__ import annotations

import uuid

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

META_COLS = [f.name for f in EVENT_META_SCHEMA.fields]


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

    The (key, value, topic) triple is exactly what a Kafka sink consumes
    (K1/K2, KafkaBus.scala:56-80); file/memory transports use the same
    shape. Partition-key affinity (meta.key → Kafka partitioner,
    event/package.scala:135) is preserved via the ``key`` column.
    ``wire_format="avro"`` emits Avro binary (the reference's wire
    contract, Mapper.scala:19-67) when spark-avro is on the classpath.
    """
    payload_cols = payload_cols or df.columns
    et = F.lit(event_type) if isinstance(event_type, str) else event_type
    if (
        meta is None
        and wire_format == "json"
        and not {"__et", "__key"} & set(payload_cols)
        and all(c.isidentifier() for c in payload_cols)
    ):
        # Fast path: the whole envelope as ONE parsed expression. The
        # Column form of new_meta + struct + to_json costs ~100 py4j
        # round trips per call site (~0.3-1.5 ms each under load) —
        # measured as a top plan-construction cost across the router
        # queries. Dynamic inputs (event_type, key) are projected as
        # columns first so the parsed string is static. Field order,
        # types and the fresh id / clock expressions are the Column
        # path's, so the JSON bytes on the wire don't change.
        key_col = key if key is not None else F.lit(None).cast("string")
        staged = df.select(
            *payload_cols, et.alias("__et"), key_col.alias("__key")
        )
        payload_sql = ", ".join(f"'{c}', `{c}`" for c in payload_cols)
        meta_sql = (
            "named_struct("
            f"'event_id', {_FRESH_ID_SQL}, "
            "'event_type', __et, "
            f"'correlation_id', {_FRESH_ID_SQL}, "
            "'trace', false, "
            "'direct_reply', named_struct("
            "'path', CAST(NULL AS STRING), "
            "'service_name', CAST(NULL AS STRING)), "
            "'key', __key, "
            "'socket_id', CAST(NULL AS STRING), "
            "'response_to', CAST(NULL AS STRING), "
            "'extra', CAST(map() AS MAP<STRING,STRING>), "
            f"'occurred_at', {_NOW_SQL})"
        )
        return staged.selectExpr(
            "CAST(__key AS BINARY) AS key",
            f"CAST(to_json(named_struct('meta', {meta_sql}, "
            f"'payload', named_struct({payload_sql}))) AS BINARY) AS value",
            "__et AS topic",
        )
    m = meta if meta is not None else new_meta(event_type, key=key)
    env = F.struct(
        m.alias("meta"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("payload"),
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
def _decode_sel(schema_json: str, raw_cols: tuple) -> tuple:
    """Both projection tuples of the JSON decode, cached per (payload
    schema, input shape): the router re-decodes the same types every
    micro-batch, and rebuilding the two selects' column lists was a
    measured per-build py4j cost (tools/py4j_sites.py, r12 verdict
    item 1). ``F.col("e.meta")`` names its output ``meta`` exactly like
    the string form."""
    topic = (F.col("topic"),) if "topic" in raw_cols else ()
    first = (_json_decode_expr(schema_json),) + topic
    second = (F.col("e.meta"), F.col("e.payload")) + topic
    return first, second


def decode_envelope(
    raw: DataFrame,
    payload_schema: StructType,
    wire_format: str = "json",
) -> DataFrame:
    """Bus rows → ``meta`` struct + typed ``payload`` struct (D1+D2).

    Equivalent of ``publishedEventReader.read`` (Mapper.scala:19-38) then
    the per-type payload decode (bus/package.scala:141-142), as one
    Catalyst ``from_json`` (or ``from_avro`` with
    ``wire_format="avro"``). Undecodable rows yield NULL payloads →
    routed to the dead-letter path by the runtime (O2).
    """
    if wire_format == "avro":
        _require_avro(raw)
        from pyspark.sql.avro.functions import from_avro

        env = published_event_schema(payload_schema)
        decoded = from_avro(
            F.col("value"), avro_schema_json(env), {"mode": "PERMISSIVE"}
        ).alias("e")
    else:
        first, second = _decode_sel(payload_schema.json(), tuple(raw.columns))
        return raw.select(*first).select(*second)
    topic = ["topic"] if "topic" in raw.columns else []
    return raw.select(decoded, *topic).select("e.meta", "e.payload", *topic)


def fresh_uuid() -> str:
    return str(uuid.uuid4())


def parse_event_type(fqn: str) -> str:
    """EventType.parse analog (event/package.scala:58-65): strip the
    leading codegen ``api.`` prefix so generated and hand-written types
    resolve to the same stream."""
    return fqn[4:] if fqn.startswith("api.") else fqn
