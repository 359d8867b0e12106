"""Per-event retry with backoff — the ST1 stateful retry machine, re-done
as the checkpoint-friendly retry-topic pattern.

Reference (/root/reference/typebus-kafka/.../KafkaBus.scala:204-240): a
``statefulMapConcat`` keeps per-eventId ``(attempt, RetryPolicy)`` in an
unbounded in-memory HashMap; ``Recoverable`` failures are re-injected via a
16-element ``dropHead`` queue after None/Linear/Exponential backoff
(bus/package.scala:19-29); exceeding ``retry`` attempts commits & drops.

Spark re-expression: failed rows are *published* to a per-stream retry
topic carrying ``attempt`` and ``not_before`` in ``meta.extra``; the
source unions the retry topic and dispatches rows whose ``not_before`` has
passed, re-publishing the rest. State therefore lives on the bus + in the
checkpoint — no unbounded driver/executor dict (the reference's known
leak, SURVEY.md §7 risks), nothing is load-shed by default, and a crash
replays from the checkpoint instead of dropping the queue. Deliberate,
strictly stronger divergence; documented here. The reference's shed is
opt-in where liveness wins: ``drop_head`` below, as the in-process
drain's ``buffer_size`` (``runtime.drain_batches``).

The in-process drain keeps only the part of these semantics a batch can
observe — the attempt count, not wall time: it fast-forwards the clock,
so every queued row is due in the next round.

Failure marking: vectorized handlers signal per-row failure via a nullable
``_error`` string column (expression handlers: ``F.when(...)``; Python
handlers: the ``row_handler`` wrapper catches exceptions into it) — the
``Recoverable`` analog (event/package.scala:171).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import lru_cache

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from typebus_spark.codec.envelope import _NOW_SQL
from typebus_spark.registry import RetryPolicy

ERROR_COL = "_error"
ATTEMPT_KEY = "attempt"
NOT_BEFORE_KEY = "not_before_epoch"
# The batch clock (epoch seconds), a column of every decoded row a retry
# stream reads. The retry fragments below read it instead of taking the
# time as an argument, so they are built once per service, and a row's
# eligible and pending conditions read one value and stay complements.
NOW_COL = "_now"


def stamp_now(df: DataFrame, now_epoch: int | None) -> DataFrame:
    """``df`` plus the ``_now`` column: the pinned epoch, or the wall
    clock read per row. The router stamps the decode before its
    checkpoint, so every branch reads the one materialized value."""
    clock = (
        f"CAST({int(now_epoch)} AS BIGINT)"
        if now_epoch is not None
        else f"unix_seconds({_NOW_SQL})"
    )
    return df.withColumn(NOW_COL, F.expr(clock))


def split_failures(out: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(succeeded, failed) by the ``_error`` convention; succeeded rows drop
    the marker column."""
    if ERROR_COL not in out.columns:
        return out, None  # type: ignore[return-value]
    ok_cond, bad_cond = _split_conds()
    ok = out.filter(ok_cond).drop(ERROR_COL)
    bad = out.filter(bad_cond)
    return ok, bad


# Constant SQL fragments for the retry meta update, parsed JVM-side in
# ONE py4j round-trip each instead of the ~50 a python-built
# map_filter-lambda tree costs — this runs once per drain ROUND, and the
# per-call build time was a measured driver hotspot.
_NXT_SQL = f"(coalesce(cast(meta.extra['{ATTEMPT_KEY}'] as int), 0) + 1)"


@lru_cache(maxsize=64)
def _retry_parts(policy: RetryPolicy) -> tuple:
    """(eligible_cond, kept_extra_map, next_attempt_str,
    backoff_seconds_long) — pure, policy-keyed expression trees."""
    if policy.shape.value == "linear":
        backoff_sql = f"({_NXT_SQL} * {policy.delay_seconds!r})"
    elif policy.shape.value == "exponential":
        backoff_sql = f"({_NXT_SQL} * {_NXT_SQL} * {policy.delay_seconds!r})"
    else:
        backoff_sql = repr(policy.delay_seconds)
    return (
        F.expr(f"{_NXT_SQL} <= {policy.max_attempts}"),
        F.expr(
            "map_filter("
            "coalesce(meta.extra, cast(map() as map<string,string>)), "
            f"(k, v) -> k NOT IN ('{ATTEMPT_KEY}', '{NOT_BEFORE_KEY}'))"
        ),
        F.expr(f"cast({_NXT_SQL} as string)"),
        F.expr(f"cast({backoff_sql} as long)"),
    )


@lru_cache(maxsize=2)
def _split_conds() -> tuple:
    """Static (ok, bad) filter conditions for the ``_error`` convention —
    rebuilt per stream per drain round otherwise."""
    return (F.col(ERROR_COL).isNull(), F.col(ERROR_COL).isNotNull())


@lru_cache(maxsize=256)
def _retry_decoded_cols(policy: RetryPolicy, retry_t: str) -> tuple:
    """The full (meta', payload, topic) projection for retry re-queue
    rows, keyed by (policy, topic).

    Retry rows keep the ORIGINAL meta (same event_id — the retry state
    key, KafkaBus.scala:205) with ``extra.attempt`` incremented and
    ``extra.not_before_epoch`` = ``_now`` + backoff(attempt); the router
    encodes them to the retry topic, or an in-process drain feeds them
    back decoded. The meta-update tree (withField + map_concat) is ~25
    py4j round trips; cached, a service builds it once."""
    _, kept_map, nxt_str, backoff = _retry_parts(policy)
    new_meta = F.col("meta").withField(
        "extra",
        F.map_concat(
            kept_map,
            F.create_map(
                F.lit(ATTEMPT_KEY),
                nxt_str,
                F.lit(NOT_BEFORE_KEY),
                (F.col(NOW_COL) + backoff).cast("string"),
            ),
        ),
    )
    return (
        new_meta.alias("meta"),
        F.col("payload"),
        F.lit(retry_t).alias("topic"),
    )


@lru_cache(maxsize=1)
def _eligibility_conds() -> tuple:
    """(eligible, not-yet) filter conditions of a row's ``not_before``
    against its ``_now``. Cached: ~10 py4j round-trips each."""
    nb = F.col("meta.extra").getItem(NOT_BEFORE_KEY).cast("long")
    now = F.col(NOW_COL)
    return (nb.isNull() | (nb <= now), nb.isNotNull() & (nb > now))


def row_handler(
    fn: Callable[[dict], dict | None],
    out_fields: list[tuple[str, str]],
) -> Callable[[DataFrame], DataFrame]:
    """Wrap a per-record Python handler ``dict -> dict`` as an Arrow-batched
    ``mapInPandas`` transform that catches exceptions into ``_error`` —
    the vectorized upgrade of the per-record ``Future`` handler (T1) with
    ``Recoverable`` capture (C2 never-stop supervision analog).

    ``out_fields``: [(name, spark_ddl_type)] of the handler's output.
    UDF escape hatch only — expression handlers stay JVM-side and faster.
    """

    def transform(df: DataFrame) -> DataFrame:
        in_schema = df.schema
        out_ddl = (
            ", ".join(f"{n} {t}" for n, t in out_fields) + f", {ERROR_COL} string"
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_rows = []
                for rec in pdf.to_dict("records"):
                    try:
                        r = fn(rec) or {}
                        r[ERROR_COL] = None
                    except Exception as e:  # Recoverable capture
                        r = {n: rec.get(n) for n, _ in out_fields}
                        r[ERROR_COL] = f"{type(e).__name__}: {e}"
                    r["meta"] = rec.get("meta")
                    out_rows.append(r)
                yield pd.DataFrame(
                    out_rows,
                    columns=["meta"] + [n for n, _ in out_fields] + [ERROR_COL],
                )

        meta_ddl = next(
            f"meta {f.dataType.simpleString()}"
            for f in in_schema.fields
            if f.name == "meta"
        )
        return df.mapInPandas(run, schema=f"{meta_ddl}, {out_ddl}")

    return transform


def drop_head(df: DataFrame, size: int, order_by: F.Column | str) -> DataFrame:
    """akka-streams ``buffer(size, OverflowStrategy.dropHead)`` analog:
    keep the NEWEST ``size`` rows (highest ``order_by``), silently shed
    the rest — the reference attaches exactly this 16-element dropHead
    buffer to the retry re-injection stream (KafkaBus.scala:186-189) as
    its back-pressure escape valve under overload.

    ``orderBy(desc).limit(size)`` compiles to TakeOrderedAndProject —
    O(size) state per partition plus one tiny merge, never a
    cluster-wide sort.
    """
    order = F.col(order_by) if isinstance(order_by, str) else order_by
    return df.orderBy(order.desc()).limit(size)
