"""Engine façade — the one-object user surface.

A typebus user writes (Scala)::

    Typebus.declareType[OrderPlaced, ...]
    new Service(serviceId, publisher) { registerStream(handle _) }
    new TypebusKafkaConsumer(service, producer, system)

The Spark-native equivalent::

    eng = Engine("order-service", data_dir="/data", catalog_dir=".catalog")
    eng.declare_type("api.OrderPlaced", schema)
    eng.register_stream("api.OrderPlaced", "api.OrderConfirmed", handler)
    eng.start(bus_root="/bus", checkpoint_root="/ckpt")   # streaming
    eng.sql("SELECT ...")                                  # relational
    eng.table("lineitem")                                  # DataFrame

Everything delegates to the layered modules; this class only wires them.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from typebus_spark.catalog.types import TypeCatalog
from typebus_spark.registry import RetryPolicy, Service
from typebus_spark.runtime import FileBus, run_batch, start_service
from typebus_spark.session import get_spark, load_table
from typebus_spark.sql import register_tables


class Engine:
    def __init__(
        self,
        name: str,
        data_dir: str | None = None,
        catalog_dir: str | None = None,
        spark: SparkSession | None = None,
    ):
        self.spark = spark or get_spark(app_name=name)
        self.data_dir = data_dir
        self.service = Service(name, TypeCatalog(catalog_dir))
        self._queries: list = []

    # -- dataflow surface ---------------------------------------------------

    def declare_type(
        self,
        fqn: str,
        schema: StructType,
        defaults: dict[str, Any] | None = None,
    ):
        return self.service.declare_type(fqn, schema, defaults)

    def register_stream(
        self,
        in_type: str,
        out_type: str | None,
        handler: Callable[[DataFrame], DataFrame],
        partition_key: str | None = None,
        retry: RetryPolicy | None = None,
    ):
        return self.service.register_stream(
            in_type, out_type, handler, partition_key=partition_key, retry=retry
        )

    def descriptor(self) -> dict:
        return self.service.descriptor()

    def process_batch(self, raw: DataFrame, **kw):
        """Run one batch through the router (testkit-style in-process bus).

        ``kw`` passes through to ``runtime.run_batch`` (``trace``,
        ``now_epoch``); the result is a lazy ``BatchResult``:
        ``union_all()`` is the whole batch as one (key, value, topic)
        frame, ``topic(t)`` its rows published to topic ``t``."""
        return run_batch(self.service, raw, **kw)

    def start(
        self, bus_root: str, checkpoint_root: str, trace: bool = False
    ):
        """Materialize all registered streams over the file bus (Kafka on
        a real cluster — same call shape)."""
        bus = FileBus(bus_root)
        q = start_service(
            self.service, bus, self.spark, checkpoint_root, trace=trace
        )
        self._queries.append(q)
        return q

    def stop(self) -> None:
        for q in self._queries:
            if q.isActive:
                q.stop()
        self._queries.clear()

    def discover(
        self, target_service: str, bus_root: str, timeout: float = 60.0
    ) -> dict:
        """Fetch a RUNNING peer service's descriptor over the bus (the
        reference's `gen -s` discovery round trip, programmatic form —
        see catalog/discovery.py). Returns the parsed descriptor dict;
        feed it to catalog.codegen targets or inspect its
        service_methods/types."""
        from typebus_spark.catalog.discovery import describe_from_bus

        return describe_from_bus(
            self.spark, bus_root, target_service, timeout=timeout
        )

    # -- relational surface -------------------------------------------------

    def table(self, name: str) -> DataFrame:
        if not self.data_dir:
            raise ValueError("Engine(data_dir=...) not set")
        return load_table(self.spark, self.data_dir, name)

    def sql(self, query: str) -> DataFrame:
        if not self.data_dir:
            raise ValueError("Engine(data_dir=...) not set")
        register_tables(self.spark, self.data_dir)
        return self.spark.sql(query)
