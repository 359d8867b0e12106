"""RPC request/response correlation (SURVEY.md §2.1 RPC1-RPC3).

Reference: ``Client.wire[T,U]`` spawns a per-request GatherActor that
publishes the request with ``directReply`` + fresh ``correlationId`` and
dies on a 4-second timer (client/Client.scala:32-52,
actors/GatherActor.scala:38-76); the responder's reply carries
``responseTo = request.eventId`` (KafkaBus.scala:157-169); reply decode
falls back to ``ServiceException`` (GatherActor.scala:78-94).

Spark re-expression: the scatter/gather is an equi-join
``responses.response_to == requests.event_id``.

- Batch form: left outer join + clock check → three-way outcome
  (``right`` result / ``left`` ServiceException timeout / pending).
- Streaming form: watermark-bounded stream-stream left outer join — the
  bounded-lateness approximation of the actor timer. Unmatched requests
  emit ONLY after the watermark passes (documented divergence,
  SURVEY.md §7 risks).

Output is Either-shaped (Either[L,R] → struct of two nullables,
SURVEY.md §1.2): ``right <response payload>``, ``left <ServiceException>``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from typebus_spark.codec.envelope import service_exception

DEFAULT_TIMEOUT_SECONDS = 4.0  # Client.scala:32


def _request_cols() -> tuple:
    return (
        F.col("meta.event_id").alias("request_id"),
        F.col("meta.correlation_id").alias("correlation_id"),
        F.col("meta.occurred_at").alias("requested_at"),
        F.col("payload").alias("request"),
    )


def _response_cols() -> tuple:
    return (
        F.col("meta.response_to").alias("response_to"),
        F.col("meta.occurred_at").alias("responded_at"),
        F.col("payload").alias("response"),
    )


def _outcome(
    joined: DataFrame, status: F.Column, timed_out: F.Column, timeout_seconds: float
) -> DataFrame:
    """The Either-shaped result: ``right`` the response, ``left`` a
    TimeoutException ServiceException where ``timed_out`` holds."""
    timeout = service_exception(
        F.concat(
            F.lit(f"RPC timeout after {timeout_seconds}s for request "),
            F.col("request_id"),
        ),
        "java.util.concurrent.TimeoutException",
    )
    return joined.select(
        "request_id",
        "correlation_id",
        status.alias("status"),
        F.col("response").alias("right"),
        F.when(timed_out, timeout).alias("left"),
    )


def correlate_batch(
    requests: DataFrame,
    responses: DataFrame,
    timeout_seconds: float = DEFAULT_TIMEOUT_SECONDS,
    now: F.Column | None = None,
) -> DataFrame:
    """Decoded request rows (meta, payload) ⟕ decoded response rows.

    Returns one row per request:
      request_id, correlation_id, status ∈ {completed, timeout, pending},
      right (response payload | null), left (ServiceException | null).
    Duplicate responses (at-least-once delivery) collapse to the earliest
    by response event time — deterministic gather.
    """
    now = now if now is not None else F.current_timestamp()
    req = requests.select(*_request_cols())
    # earliest response per request_id (dedup at-least-once redelivery)
    resp = (
        responses.select(*_response_cols())
        .filter(F.col("response_to").isNotNull())
        .groupBy("response_to")
        .agg(
            F.min_by(F.col("response"), F.col("responded_at")).alias("response")
        )
    )
    joined = req.join(resp, req.request_id == resp.response_to, "left_outer")
    timed_out = F.col("response").isNull() & (
        now > F.col("requested_at") + F.expr(f"INTERVAL {timeout_seconds} SECONDS")
    )
    status = (
        F.when(F.col("response").isNotNull(), F.lit("completed"))
        .when(timed_out, F.lit("timeout"))
        .otherwise(F.lit("pending"))
    )
    return _outcome(joined, status, timed_out, timeout_seconds)


def correlate_stream(
    requests: DataFrame,
    responses: DataFrame,
    timeout_seconds: float = DEFAULT_TIMEOUT_SECONDS,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming scatter/gather: watermarked stream-stream left outer join.

    Both inputs are decoded streams (meta, payload). The join window
    bounds state: a response must arrive within ``timeout_seconds`` of its
    request's event time, so the state store evicts request rows once the
    watermark passes request_time + timeout — bounded state at any scale
    (no unbounded GatherActor population). Rows that never matched emit
    with a ServiceException once evicted.
    """
    req = requests.select(*_request_cols()).withWatermark(
        "requested_at", watermark_delay
    )
    resp = responses.select(*_response_cols()).withWatermark(
        "responded_at", watermark_delay
    )

    cond = (
        (F.col("request_id") == F.col("response_to"))
        & (F.col("responded_at") >= F.col("requested_at"))
        & (
            F.col("responded_at")
            <= F.col("requested_at")
            + F.expr(f"INTERVAL {timeout_seconds} SECONDS")
        )
    )
    joined = req.join(resp, cond, "left_outer")
    timed_out = F.col("response").isNull()
    status = F.when(timed_out, F.lit("timeout")).otherwise(F.lit("completed"))
    return _outcome(joined, status, timed_out, timeout_seconds)
