"""Keyed entity state — event-sourced KV (SURVEY.md §2.1 E1/T4).

Reference: ``EntityDb[S]`` exposes ``getState(id)`` / ``modifyState(id,
state)`` backed by cluster-sharded, event-sourced actors with 50 shards
(entity/EntityDb.scala:12-25, cluster/Actor.scala:6-15); the auto-handler
``registerDataBaseStream`` answers any ``DbAccessor`` request with the
entity's current state (module/Service.scala:66-71).

Spark re-expression, one implementation per operation:
- **Snapshot fold** (batch / foreachBatch): events grouped by key into
  one state row per key. Algebraic folds — last-write-wins
  (``fold_last_value``, the ``modifyState`` analog over
  ``snapshot ∪ updates``), counts, sums, ``last_by_time`` — are ONE JVM
  hash aggregate (``fold_aggregates``). Order-dependent folds use
  ``applyInPandas`` per key group (``fold_events``), shuffle-partitioned
  by key (the shard analog: ``spark.sql.shuffle.partitions`` replaces
  ``numberOfShards=50``).
- **Streaming fold**: ``applyInPandasWithState`` keeps per-key state in
  the Spark state store (RocksDB-backed on clusters — bounded, spillable,
  unlike the reference's in-memory actors; EXECUTED under both providers
  by tests/test_streaming_native.py::test_state_store_provider_parity,
  perf delta recorded in BASELINE.md).
- **Lookup (T4)** lives in ``Service.register_entity``: its hidden
  accessor stream joins requests against a cached snapshot.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import lru_cache

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def fold_last_value(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    state_cols: list[str] | None = None,
) -> DataFrame:
    """Last-write-wins snapshot: one row per key holding the state
    columns of its latest event — latest by ``ts_col``, ties broken by
    the state columns in order, so every column comes from the same row
    whatever the input order. One ``fold_aggregates`` hash aggregate;
    the state columns must be orderable."""
    state_cols = state_cols or [
        c for c in events.columns if c not in (key_col, ts_col)
    ]
    aggs = {ts_col: F.max(ts_col)}
    for c in state_cols:
        aggs[c] = last_by_time(c, ts_col, state_cols)
    return fold_aggregates(events, key_col, aggs)


def fold_events(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    fold: Callable[[dict | None, dict], dict],
    state_ddl: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """General event-sourced fold: per-key, event-time-ordered reduction —
    the entity recovery path (replay events → state). Runs as one
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
    remains the escape hatch for genuinely order-dependent,
    non-algebraic folds (its per-row Python loop costs ~100× per row).
    Compose ``last_by_time`` for "latest value wins" fields.
    """
    return events.groupBy(key_col).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )


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
