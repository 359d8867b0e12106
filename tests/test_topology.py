"""Multi-service composition: two services on one bus, output topic of A
consumed by B (the typebus microservice mesh, file-bus edition)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from typebus_spark.codec.envelope import encode_envelope
from typebus_spark.registry import Service
from typebus_spark.runtime import FileBus, start_service

ORDER = StructType(
    [StructField("order_id", StringType()), StructField("amount", DoubleType())]
)
CONFIRMED = StructType(
    [StructField("order_id", StringType()), StructField("status", StringType())]
)
SHIPPED = StructType(
    [StructField("order_id", StringType()), StructField("carrier", StringType())]
)


def test_two_services_chained_over_bus(spark, tmp_path):
    confirm_svc = Service("confirm-service")
    confirm_svc.declare_type("api.OrderPlaced", ORDER)
    confirm_svc.declare_type("api.OrderConfirmed", CONFIRMED)
    confirm_svc.register_stream(
        "api.OrderPlaced",
        "api.OrderConfirmed",
        lambda df: df.select(
            "meta", "order_id", F.lit("confirmed").alias("status")
        ),
    )

    ship_svc = Service("ship-service")
    ship_svc.declare_type("api.OrderConfirmed", CONFIRMED)
    ship_svc.declare_type("api.OrderShipped", SHIPPED)
    ship_svc.register_stream(
        "api.OrderConfirmed",
        "api.OrderShipped",
        lambda df: df.filter(F.col("status") == "confirmed").select(
            "meta", "order_id", F.lit("ACME").alias("carrier")
        ),
    )

    bus = FileBus(str(tmp_path / "bus"))
    orders = spark.createDataFrame(
        [("o1", 10.0), ("o2", 20.0)], "order_id string, amount double"
    )
    bus.publish(encode_envelope(orders, "api.OrderPlaced"))

    # run the mesh: confirm first, then ship picks up confirm's output
    q1 = start_service(confirm_svc, bus, spark, str(tmp_path / "ck"))
    q1.awaitTermination(60)
    q2 = start_service(ship_svc, bus, spark, str(tmp_path / "ck"))
    q2.awaitTermination(60)

    shipped = bus.read(spark, ["api.OrderShipped"])
    vals = [json.loads(bytes(r["value"]).decode()) for r in shipped.collect()]
    assert {v["payload"]["order_id"] for v in vals} == {"o1", "o2"}
    assert all(v["payload"]["carrier"] == "ACME" for v in vals)
    # correlation chain: shipped replies point at the confirm events
    assert all(v["meta"]["response_to"] for v in vals)
