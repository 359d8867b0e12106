"""Quickstart: a typebus-style service on Spark, end to end.

Mirrors the reference workflow (declare types → register handlers →
start the service on a bus) with the Spark-native engine:

    python examples/quickstart.py

Runs entirely locally against a temp-dir FileBus (the Kafka connector
swaps in behind the same API on a real cluster — see
``typebus_spark.runtime.KafkaBus``).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from typebus_spark import get_spark
from typebus_spark.codec.envelope import decode_envelope, encode_envelope
from typebus_spark.registry import BackoffShape, RetryPolicy, Service
from typebus_spark.runtime import FileBus


def main() -> None:
    spark = get_spark(app_name="quickstart", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    # 1. Declare event types (the declareType macro analog — G1):
    #    a type's FQN doubles as its bus topic.
    order_placed = StructType(
        [
            StructField("order_id", LongType(), False),
            StructField("amount", DoubleType(), False),
            StructField("customer", StringType(), False),
        ]
    )
    order_charged = StructType(
        [
            StructField("order_id", LongType(), False),
            StructField("amount", DoubleType(), False),
            StructField("customer", StringType(), False),
            StructField("charge_id", StringType(), False),
        ]
    )

    svc = Service("billing-service")
    svc.declare_type("api.OrderPlaced", order_placed)
    svc.declare_type("api.OrderCharged", order_charged)

    # 2. Register a typed handler (registerStream — T1). Handlers are
    #    DataFrame transforms: vectorized, optimized by Catalyst, and
    #    allowed to fail per-row via the `_error` column (→ retry/DLQ).
    def charge(df):
        return df.select(
            "meta",
            "order_id",
            "amount",
            "customer",
            F.concat(F.lit("ch_"), F.col("order_id")).alias("charge_id"),
            F.when(F.col("amount") < 0, F.lit("negative amount")).alias(
                "_error"
            ),
        )

    svc.register_stream(
        "api.OrderPlaced",
        "api.OrderCharged",
        charge,
        partition_key="customer",  # K1 keyed publish
        retry=RetryPolicy(2, 5.0, BackoffShape.EXPONENTIAL),  # ST1/ST2
    )

    # 3. Publish a batch of events and drain it through the router —
    #    the same run_batch that start_service() executes per
    #    micro-batch, looped until the retry queue empties, so the
    #    permanently-failing row exhausts its attempts and dead-letters.
    from typebus_spark.runtime import drain_batches

    orders = spark.createDataFrame(
        [(1, 9.99, "ada"), (2, 25.00, "grace"), (3, -1.0, "mallory")],
        "order_id long, amount double, customer string",
    )
    raw = encode_envelope(orders, "api.OrderPlaced")
    result = drain_batches(svc, raw)

    charged = decode_envelope(
        result.topic("api.OrderCharged"), order_charged
    ).select("payload.*")
    print("charged orders:")
    for row in charged.collect():
        print("  ", row.asDict())

    dead = result.topic("typebus.DeadLetter")
    print(
        "dead letters:",
        dead.count(),
        "(mallory's negative amount, after 2 retries)",
    )

    # 4. Or run it as a real Structured Streaming service on a bus:
    from typebus_spark.runtime import start_service

    with tempfile.TemporaryDirectory() as tmp:
        bus = FileBus(f"{tmp}/bus")
        bus.publish(raw)
        q = start_service(svc, bus, spark, checkpoint_root=f"{tmp}/ckpt")
        q.awaitTermination(60)
        replies = bus.read(spark, ["api.OrderCharged"])
        print("streamed replies on the bus:", replies.count())

    # 5. Services are discoverable (C1): the descriptor is also
    #    broadcast on start and answers GetServiceDescriptor requests.
    print("descriptor:", json.dumps(svc.descriptor(), indent=2)[:200], "...")

    spark.stop()


if __name__ == "__main__":
    main()
