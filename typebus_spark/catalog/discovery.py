"""Remote schema pull over the bus — the reference's ``gen -s`` flow.

The reference CLI contacts a RUNNING service over the bus and generates
code from its broadcast descriptor (CommandParser.scala:60-123 ``gen
--service``; bootstrap apps typebus-kafka/.../gen/Main.scala:14-52 and
typebus-akka/.../gen/Main.scala publish ``GetServiceDescriptor`` and
feed the ``ServiceDescriptor`` reply to the generator — the reference's
own wiring is half commented-out, so this module is the completed form
of that workflow).

Mechanics here: every :class:`~typebus_spark.registry.Service`
auto-registers a discovery stream that answers
``typebus.GetServiceDescriptor`` addressed to it (or broadcast) with a
``typebus.ServiceDescriptor`` envelope (registry.py). This module is the
REQUESTER side: publish the request on the bus, poll the reply topic,
and rebuild a :class:`TypeCatalog` from the descriptor so every codegen
target (python / ddl / views / rpc client) works against a service you
only know by name.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import SparkSession

from typebus_spark.catalog.types import TypeCatalog


def request_descriptor(
    spark: SparkSession, bus, target_service: str
) -> None:
    """Publish ``GetServiceDescriptor(target)`` on the bus (the 1-row
    analog of Main.scala:27-34's scheduled ``producer.publish``)."""
    from typebus_spark.codec.envelope import encode_envelope
    from typebus_spark.registry import Service

    req = spark.createDataFrame(
        [(target_service,)], "service string"
    )
    bus.publish(encode_envelope(req, Service.GET_DESCRIPTOR_FQN))


def await_descriptor(
    spark: SparkSession,
    bus,
    target_service: str,
    timeout: float = 60.0,
    poll_interval: float = 0.5,
) -> dict:
    """Poll the ``ServiceDescriptor`` reply topic until the target's
    descriptor arrives; return the parsed descriptor dict.

    The target service is expected to be consuming the bus in another
    process (``start_service``) or batch-driven by the caller (tests).
    """
    from typebus_spark.registry import Service

    deadline = time.monotonic() + timeout
    while True:
        rows = bus.read(spark, [Service.DESCRIPTOR_FQN]).collect()
        # The reply topic is append-only: a long-lived bus accumulates a
        # descriptor row per descriptor version of the target (a restart
        # with an unchanged descriptor adds none), and collect() order
        # over parquet parts is arbitrary — always take the row with the
        # LATEST meta.occurred_at so codegen never runs against a stale
        # schema after the service evolved.
        best = None
        best_ts = ""
        for r in rows:
            env = json.loads(bytes(r["value"]).decode("utf-8"))
            payload = env.get("payload") or {}
            if payload.get("service") == target_service:
                ts = str((env.get("meta") or {}).get("occurred_at") or "")
                if best is None or ts >= best_ts:
                    best, best_ts = payload, ts
        if best is not None:
            return json.loads(best["descriptor"])
        if time.monotonic() >= deadline:
            raise TimeoutError(
                f"no ServiceDescriptor reply from {target_service!r} "
                f"within {timeout}s — is the service consuming the bus?"
            )
        time.sleep(poll_interval)


def describe_from_bus(
    spark: SparkSession,
    bus_root: str,
    target_service: str,
    timeout: float = 60.0,
) -> dict:
    """Request + await in one call over a :class:`FileBus` root."""
    from typebus_spark.runtime import FileBus

    bus = FileBus(bus_root)
    request_descriptor(spark, bus, target_service)
    return await_descriptor(spark, bus, target_service, timeout=timeout)


def catalog_from_descriptor(descriptor: dict) -> TypeCatalog:
    """Rebuild an in-memory :class:`TypeCatalog` from a descriptor's
    ``types`` map (fqn → StructType JSON) so the local codegen targets
    (to_python / to_ddl / to_sql_views) run against a remote service's
    schemas exactly as they would against a catalog directory."""
    from pyspark.sql.types import StructType

    cat = TypeCatalog()
    for fqn, schema_json in sorted(descriptor.get("types", {}).items()):
        cat.declare_type(fqn, StructType.fromJson(json.loads(schema_json)))
    return cat
