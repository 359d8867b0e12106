"""Stream registry — typebus's Service/Module runtime maps, Spark-style.

Reference (/root/reference/typebus/src/main/scala/io/surfkit/typebus):
- ``Module`` keeps five registries populated by ``registerStream``
  (module/Module.scala:16-27): in→out type map (``listOfFunctions``),
  handler chain, reader map, writer map, and per-stream
  ``StreamBuilder`` config (partition key + retry policy,
  bus/package.scala:32-46).
- ``Service`` adds the type registry + entity registry + service-level
  (hidden) streams (module/Service.scala:20-33, 82-83).

Here a handler is a **DataFrame transform** ``DataFrame -> DataFrame``
over the decoded payload struct — the vectorized upgrade of the per-record
``(T, EventMeta) => Future[U]`` (SURVEY.md §2.1 T1). Handlers that need
per-row Python run via pandas UDFs inside the transform; expression-based
transforms stay fully JVM-side.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from typebus_spark.catalog.types import TypeCatalog


from functools import lru_cache


@lru_cache(maxsize=64)
def _descriptor_answer_cols(name: str, desc: str) -> tuple:
    """Cached descriptor-reply fragments (filter, [service, descriptor]
    literal columns) — the auto-registered discovery stream rebuilds
    these per batch otherwise."""
    import pyspark.sql.functions as F

    return (
        F.col("service").isNull() | (F.col("service") == name),
        (F.lit(name).alias("service"), F.lit(desc).alias("descriptor")),
    )


@lru_cache(maxsize=64)
def _entity_lookup_cols(state_cols: tuple, key_col: str) -> tuple:
    """Cached T4 lookup fragments (snapshot projection, join condition,
    reply projection) — pure function of the state schema."""
    import pyspark.sql.functions as F

    return (
        tuple(F.col(c).alias(f"_s_{c}") for c in state_cols),
        F.col("id") == F.col(f"_s_{key_col}"),
        tuple(
            (F.col("id") if c == key_col else F.col(f"_s_{c}")).alias(c)
            for c in state_cols
        ),
    )


class BackoffShape(str, Enum):
    """RetryPolicy shapes (bus/package.scala:19-29): delay, attempt*delay,
    attempt²*delay."""

    NONE = "none"
    LINEAR = "linear"
    EXPONENTIAL = "exponential"


@dataclass(frozen=True)
class RetryPolicy:
    max_attempts: int = 0
    delay_seconds: float = 0.0
    shape: BackoffShape = BackoffShape.NONE

    def backoff_seconds(self, attempt: int) -> float:
        """Delay before re-injection attempt N (1-based), mirroring the
        schedule at KafkaBus.scala:223-233."""
        if self.shape == BackoffShape.LINEAR:
            return attempt * self.delay_seconds
        if self.shape == BackoffShape.EXPONENTIAL:
            return (attempt**2) * self.delay_seconds
        return self.delay_seconds


def retry_topic(in_fqn: str) -> str:
    """The durable retry queue of the stream consuming ``in_fqn``."""
    return f"{in_fqn}.retry"


@dataclass
class StreamDef:
    """One registered stream: typebus ``StreamBuilder`` + handler
    (bus/package.scala:32-46; Module.scala:52-102).

    ``retry_on`` is the columnar analog of the reference's
    ``PartialFunction[Throwable, RetryPolicy]`` (bus/package.scala:41-45):
    a regex matched against the ``_error`` string — only matching
    failures retry, the rest dead-letter immediately (the PF-undefined
    case). ``None`` retries every failure.
    """

    in_type: str
    out_type: str | None  # None == sink stream (op2Unit, Module.scala:72-80)
    handler: Callable[[DataFrame], DataFrame]
    # withPartitionKey analog: the handler-output column that keys replies
    partition_key: str | None = None
    retry: RetryPolicy | None = None  # withRetryPolicy analog
    retry_on: str | None = None  # error-pattern guard (PF.isDefinedAt analog)
    service_level: bool = False  # hidden/control-plane stream (op2Service)


@dataclass
class EntityDef:
    """Keyed entity registration (EntityDb.scala:12-25; Service.scala:29-33)."""

    name: str
    state_type: str
    key_col: str = "id"


class Service:
    """A typebus service: declared types + registered streams + entities.

    ``name`` doubles as the consumer-group id and the RPC reply topic
    (KafkaBus.scala:116,184) — kept for transport parity.
    """

    GET_DESCRIPTOR_FQN = "typebus.GetServiceDescriptor"
    DESCRIPTOR_FQN = "typebus.ServiceDescriptor"

    def __init__(self, name: str, catalog: TypeCatalog | None = None):
        self.name = name
        self.catalog = catalog or TypeCatalog()
        self.streams: dict[str, StreamDef] = {}  # in_fqn -> StreamDef
        self.entities: dict[str, EntityDef] = {}
        self.up_since: float | None = None
        self._register_descriptor_stream()

    def _register_descriptor_stream(self) -> None:
        """C1 discovery ON the bus (KafkaBus.scala:130-134): every service
        auto-answers ``GetServiceDescriptor`` with its descriptor as a
        ``ServiceDescriptor`` reply envelope. The handler serializes the
        CURRENT registrations at batch time (closures over ``self``), so
        streams registered after construction are included."""
        import json

        import pyspark.sql.functions as F
        from pyspark.sql.types import StringType, StructField, StructType

        if self.GET_DESCRIPTOR_FQN not in self.catalog:
            self.declare_type(
                self.GET_DESCRIPTOR_FQN,
                StructType([StructField("service", StringType(), True)]),
            )
        if self.DESCRIPTOR_FQN not in self.catalog:
            self.declare_type(
                self.DESCRIPTOR_FQN,
                StructType(
                    [
                        StructField("service", StringType(), False),
                        StructField("descriptor", StringType(), False),
                    ]
                ),
            )

        def answer(df: DataFrame) -> DataFrame:
            # reply only when addressed to us (or broadcast/null target)
            desc = json.dumps(self.descriptor(), sort_keys=True)
            flt, cols = _descriptor_answer_cols(self.name, desc)
            return df.filter(flt).select("meta", *cols)

        self.register_stream(
            self.GET_DESCRIPTOR_FQN,
            self.DESCRIPTOR_FQN,
            answer,
            service_level=True,
        )

    # -- declaration surface (G1/G3 analogs) --------------------------------

    def declare_type(
        self,
        fqn: str,
        schema: StructType,
        defaults: dict[str, Any] | None = None,
    ):
        return self.catalog.declare_type(fqn, schema, defaults)

    def register_stream(
        self,
        in_type: str,
        out_type: str | None,
        handler: Callable[[DataFrame], DataFrame],
        partition_key: str | None = None,
        retry: RetryPolicy | None = None,
        retry_on: str | None = None,
        service_level: bool = False,
    ) -> StreamDef:
        """registerStream (Service.scala:53-64 → Module.scala:52-102).

        ``handler`` receives the decoded DataFrame (columns ``meta`` struct
        + payload fields) and returns the out-payload DataFrame. A stream
        with ``out_type=None`` is terminal (T2). ``partition_key`` names
        the handler-output column whose value keys each reply; a computed
        key is a column the handler adds.
        """
        if partition_key is not None and not isinstance(partition_key, str):
            raise TypeError(
                "partition_key must name a handler-output column; "
                "add a computed key to the handler's output"
            )
        if in_type not in self.catalog:
            raise KeyError(f"in_type not declared: {in_type}")
        if out_type is not None and out_type not in self.catalog:
            raise KeyError(f"out_type not declared: {out_type}")
        sd = StreamDef(
            in_type=in_type,
            out_type=out_type,
            handler=handler,
            partition_key=partition_key,
            retry=retry,
            retry_on=retry_on,
            service_level=service_level,
        )
        self.streams[in_type] = sd
        return sd

    def register_entity(
        self,
        name: str,
        state_type: str,
        key_col: str = "id",
        snapshot: DataFrame | None = None,
        accessor_type: str | None = None,
    ) -> EntityDef:
        """Register a keyed entity; with ``snapshot`` given, ALSO
        auto-register the T4 DbAccessor lookup stream
        (registerDataBaseStream, Service.scala:66-71): a hidden stream on
        ``accessor_type`` (default ``<state_type>.get``) whose requests
        carry the entity ``id`` and are answered with current state via
        an equi-join against the snapshot. A lookup miss replies with the
        requested id and null state fields (the reference fails the
        Future instead — documented divergence; nulls keep the reply
        typed and SQL-joinable).

        The snapshot is read once, here: its projection is cached and
        counted, so every later batch joins the cached rows and the
        planner sees their real size (a broadcast join when under
        ``autoBroadcastJoinThreshold``, a shuffle join otherwise)."""
        if state_type not in self.catalog:
            raise KeyError(f"state_type not declared: {state_type}")
        ed = EntityDef(name=name, state_type=state_type, key_col=key_col)
        self.entities[name] = ed
        if snapshot is None:
            return ed

        import pyspark.sql.functions as F
        from pyspark.sql.types import StructField, StructType

        state_schema = self.catalog.schema_for(state_type)
        key_field = next(
            f for f in state_schema.fields if f.name == key_col
        )
        acc = accessor_type or f"{state_type}.get"
        if acc not in self.catalog:
            self.declare_type(
                acc, StructType([StructField("id", key_field.dataType, False)])
            )
        state_cols = [f.name for f in state_schema.fields]
        snap_proj, join_cond, out_cols = _entity_lookup_cols(
            tuple(state_cols), key_col
        )
        snap = snapshot.select(*snap_proj).cache()
        snap.count()

        def lookup(df: DataFrame) -> DataFrame:
            # DbAccessor answer: request id ⋈ cached snapshot key
            # (stream-static in streaming)
            got = df.select("meta", "id").join(snap, join_cond, "left_outer")
            return got.select("meta", *out_cols)

        self.register_stream(acc, state_type, lookup, service_level=True)
        return ed

    # -- discovery (C1) ------------------------------------------------------

    def descriptor(self) -> dict:
        """ServiceDescriptor analog (Service.scala:105-120): service name,
        registered methods (in→out FQNs), entities, and full schema JSON
        per type — broadcast/queryable as the engine catalog."""
        return {
            "service": self.name,
            "service_methods": [
                {"in": s.in_type, "out": s.out_type}
                for s in self.streams.values()
                if not s.service_level
            ],
            "entities": sorted(self.entities),
            "types": {
                fqn: self.catalog.schema_for(fqn).json()
                for fqn in self.catalog.fqns()
            },
        }

    def subscribed_topics(self) -> list[str]:
        """Topic set = registered in-type FQNs + own service name (RPC reply
        channel, KafkaBus.scala:184) + per-stream retry topics (the durable
        form of the in-memory retry queue, KafkaBus.scala:186-189)."""
        retry = {retry_topic(fqn) for fqn, s in self.streams.items() if s.retry}
        return sorted(set(self.streams) | {self.name} | retry)
