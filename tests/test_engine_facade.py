"""Engine façade: the one-object user path end-to-end."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from typebus_spark.codec.envelope import encode_envelope
from typebus_spark.engine import Engine


def test_engine_end_to_end(spark, tmp_path):
    eng = Engine(
        "facade-service",
        data_dir="/root/testdata/sf0.001",
        catalog_dir=str(tmp_path / "catalog"),
        spark=spark,
    )
    schema = StructType(
        [StructField("order_id", StringType()), StructField("amount", DoubleType())]
    )
    out_schema = StructType(
        [StructField("order_id", StringType()), StructField("status", StringType())]
    )
    eng.declare_type("api.OrderPlaced", schema)
    eng.declare_type("api.OrderConfirmed", out_schema)
    eng.register_stream(
        "api.OrderPlaced",
        "api.OrderConfirmed",
        lambda df: df.select(
            "meta", "order_id", F.lit("confirmed").alias("status")
        ),
    )

    # relational surface
    assert eng.table("lineitem").count() > 0
    assert eng.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"] > 0

    # dataflow surface (batch router)
    df = spark.createDataFrame([("o1", 5.0)], "order_id string, amount double")
    res = eng.process_batch(encode_envelope(df, "api.OrderPlaced"))
    out = res.topic("api.OrderConfirmed")
    v = json.loads(bytes(out.collect()[0]["value"]).decode())
    assert v["payload"]["status"] == "confirmed"

    # streaming surface
    from typebus_spark.runtime import FileBus

    bus = FileBus(str(tmp_path / "bus"))
    bus.publish(encode_envelope(df, "api.OrderPlaced"))
    q = eng.start(str(tmp_path / "bus"), str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    assert bus.read(spark, ["api.OrderConfirmed"]).count() == 1
    eng.stop()

    # descriptor reflects everything declared
    d = eng.descriptor()
    assert d["service"] == "facade-service"
    # user types plus the auto-declared discovery types (C1)
    assert {"api.OrderPlaced", "api.OrderConfirmed"} <= set(d["types"])


def test_engine_discover_over_bus(spark, tmp_path):
    """Engine.discover round-trips a peer's descriptor over the bus —
    the programmatic form of describe --from-bus."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from typebus_spark.catalog.discovery import request_descriptor
    from typebus_spark.engine import Engine
    from typebus_spark.runtime import FileBus, start_service

    peer = Engine("peer-service", spark=spark)
    schema = StructType([StructField("x", StringType(), False)])
    peer.declare_type("api.In", schema)
    peer.declare_type("api.Out", schema)
    peer.register_stream(
        "api.In", "api.Out", lambda df: df.select("meta", "x")
    )

    me = Engine("me-service", spark=spark)
    bus_root = str(tmp_path / "bus")
    # the peer consumes the bus; request first so one drain answers it
    request_descriptor(spark, FileBus(bus_root), "peer-service")
    q = start_service(
        peer.service, FileBus(bus_root), spark, str(tmp_path / "ck")
    )
    q.awaitTermination(60)

    desc = me.discover("peer-service", bus_root, timeout=10)
    assert desc["service"] == "peer-service"
    assert {"in": "api.In", "out": "api.Out"} in desc["service_methods"]
