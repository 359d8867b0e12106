"""Conditional REAL-Kafka integration test (VERDICT r6 item: the
KafkaBus drop-in claim, executed when the environment allows).

Skips cleanly in this container (no spark-sql-kafka jar, no broker)
with an explicit reason; on a deployment with the connector jar and a
broker it runs the full publish → consume → route → reply loop through
``KafkaBus`` + ``start_service`` — the identical router path FileBus
drives in tests/test_runtime.py, so a green run here proves the jar
drop really is config-only (runtime.py KafkaBus docstring; ref
typebus-kafka/.../KafkaBus.scala:191-242).

One-command deployment check::

    TYPEBUS_KAFKA_BOOTSTRAP=broker:9092 \
    pytest tests/test_kafka_integration.py -v
"""

from __future__ import annotations

import os
import uuid

import pytest


def _kafka_jar_present(spark) -> bool:
    """True when the spark-sql-kafka connector is on the JVM classpath."""
    try:
        (
            spark._jvm.Thread.currentThread()
            .getContextClassLoader()
            .loadClass("org.apache.spark.sql.kafka010.KafkaSourceProvider")
        )
        return True
    except Exception:
        return False


BOOTSTRAP = os.environ.get("TYPEBUS_KAFKA_BOOTSTRAP", "")


def test_kafka_bus_end_to_end(spark, tmp_path):
    if not _kafka_jar_present(spark):
        pytest.skip(
            "spark-sql-kafka connector jar not on the classpath "
            "(expected in this container — KafkaBus is exercised "
            "jar-free via its option builders in test_runtime.py and "
            "the identical router path via FileBus); set up a cluster "
            "with the jar + TYPEBUS_KAFKA_BOOTSTRAP to run this."
        )
    if not BOOTSTRAP:
        pytest.skip(
            "connector jar present but TYPEBUS_KAFKA_BOOTSTRAP is not "
            "set; export broker:port to run the end-to-end loop."
        )

    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from typebus_spark.codec.envelope import encode_envelope
    from typebus_spark.registry import Service
    from typebus_spark.runtime import KafkaBus, start_service

    class EarliestKafkaBus(KafkaBus):
        """Production uses startingOffsets=latest (KafkaBus.scala:117
        parity); the test replays a topic it just produced, so it reads
        from earliest."""

        def reader_options(self, topics):
            return {**super().reader_options(topics),
                    "startingOffsets": "earliest"}

    run_id = uuid.uuid4().hex[:8]
    in_topic = f"api.ping.{run_id}"
    out_topic = f"api.ping.done.{run_id}"
    bus = EarliestKafkaBus(BOOTSTRAP)

    payload_schema = StructType([StructField("n", LongType())])
    svc = Service(f"kafka-it-{run_id}")
    svc.declare_type(in_topic, payload_schema)
    svc.declare_type(out_topic, payload_schema)
    svc.register_stream(
        in_topic,
        out_topic,
        lambda df: df.select("meta", (F.col("n") * 10).alias("n")),
    )

    # publish BEFORE starting the service; earliest offsets replay it
    src = spark.createDataFrame([(1,), (2,), (3,)], "n long")
    bus.publish(encode_envelope(src, in_topic))

    q = start_service(svc, bus, spark, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    replies = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", BOOTSTRAP)
        .option("subscribe", out_topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    rows = replies.select(F.col("value").cast("string")).collect()
    assert len(rows) == 3
    assert all(f'"{out_topic}"' in r[0] or out_topic in r[0] for r in rows)
