"""RPC client facade — the one-call request→reply surface (RPC1/RPC3).

Reference: ``Client.wire[T,U]`` publishes a typed request with
``directReply`` pointing at a per-request GatherActor and returns a
``Future[Either[ServiceException, U]]`` (client/Client.scala:32-52);
``Forwarding.forward`` publishes a request whose ``directReply`` is some
OTHER caller's RpcClient, so the reply bypasses the forwarder entirely
(client/Forwarding.scala:13-27).

Spark re-expression: requests are set-oriented — ``Client.wire`` takes a
DataFrame of request payloads, publishes them addressed to this client's
service-name back-channel (the durable GatherActor analog:
KafkaBus.scala:184 routes replies to the caller's service topic), and
``gather()`` correlates whatever replies have arrived into the
Either-shaped (status/right/left) result via ``correlate_batch``. The
timeout is event-time based, matching the actor timer semantics at any
batch cadence.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from typebus_spark.codec.envelope import (
    decode_envelope,
    encode_envelope,
    new_meta,
)
from typebus_spark.streaming.rpc import (
    DEFAULT_TIMEOUT_SECONDS,
    correlate_batch,
)


def _direct_reply_rows(
    requests: DataFrame,
    request_type: str,
    reply_path: str,
    reply_service: str,
    correlation_id: F.Column | None,
) -> DataFrame:
    """Typed request payloads as bus rows whose ``direct_reply`` names
    (``reply_path``, ``reply_service``) — where the reply is routed."""
    meta = new_meta(
        request_type,
        correlation_id=correlation_id,
        direct_reply_path=F.lit(reply_path),
        direct_reply_service=F.lit(reply_service),
    )
    return encode_envelope(requests, request_type, meta=meta)


class Client:
    """Typed RPC client bound to a bus + calling service name.

    ``wire()`` publishes and returns the decoded request frame (the
    correlation handle); ``gather()`` joins replies from the client's
    back-channel against that handle. Two calls instead of one Future
    because the gather point is a batch/stream boundary in Spark, not a
    per-request actor.
    """

    def __init__(
        self,
        service_name: str,
        bus,
        spark: SparkSession,
        reply_path: str = "/user/gather",
    ):
        self.service_name = service_name
        self.bus = bus
        self.spark = spark
        self.reply_path = reply_path

    def wire(
        self,
        requests: DataFrame,
        request_type: str,
        correlation_id: F.Column | None = None,
    ) -> DataFrame:
        """Publish typed request payloads with ``direct_reply`` = this
        client (Client.scala:38-44). Returns the DECODED request rows
        (meta + payload) to correlate with later — keep it (or persist
        it) as the gather handle."""
        raw = _direct_reply_rows(
            requests, request_type, self.reply_path, self.service_name, correlation_id
        )
        raw = raw.localCheckpoint(eager=True)  # pin the nondeterministic uuids
        self.bus.publish(raw)
        return decode_envelope(raw, requests.schema)

    def gather(
        self,
        wired: DataFrame,
        response_schema: StructType,
        timeout_seconds: float = DEFAULT_TIMEOUT_SECONDS,
        now: F.Column | None = None,
    ) -> DataFrame:
        """Correlate replies from this client's back-channel topic against
        the ``wire()`` handle → (request_id, correlation_id, status,
        right, left) — the Either[ServiceException, U] analog."""
        raw = self.bus.read(self.spark, [self.service_name])
        responses = decode_envelope(raw, response_schema)
        return correlate_batch(
            wired, responses, timeout_seconds=timeout_seconds, now=now
        )

    def call(
        self,
        requests: DataFrame,
        request_type: str,
        response_schema: StructType,
        timeout_seconds: float = DEFAULT_TIMEOUT_SECONDS,
        now: F.Column | None = None,
    ) -> DataFrame:
        """wire + gather in one shot, for when the responder has already
        run (batch pipelines / tests)."""
        return self.gather(
            self.wire(requests, request_type),
            response_schema,
            timeout_seconds=timeout_seconds,
            now=now,
        )


def forward(
    bus,
    requests: DataFrame,
    request_type: str,
    caller_service: str,
    caller_path: str = "/user/gather",
    correlation_id: F.Column | None = None,
) -> None:
    """RPC3 forwarding (Forwarding.scala:13-27): publish a typed request
    whose ``direct_reply`` names ANOTHER service, so the responder's
    reply is routed straight to that caller's back-channel and never
    transits the forwarder."""
    bus.publish(
        _direct_reply_rows(
            requests, request_type, caller_path, caller_service, correlation_id
        )
    )
