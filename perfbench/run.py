"""typebus_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bus_batch --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
every end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1`` (see perfbench/README.md for what each one measures and
which end-to-end metric it should move). A traced run also writes its
spans and counts to ``.perfbench_work/trace-<workload>-<seed>.json``.

The launcher pins the run environment before Spark starts, so two
commits compared with this benchmark run identically: one local core per
CPU of the host, a 2 GiB driver heap, and every scratch file (shuffle,
spill, checkpoints, staged inputs) under ``.perfbench_work`` in the
checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bus_batch", "service_stream", "corpus_curation")
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "registry.build_s": "s",
    "codec.decode_s": "s",
    "codec.encode_s": "s",
    "codec.wire_bytes_per_event": "bytes",
    "runtime.run_batch.build_s": "s",
    "runtime.run_batch.py4j_calls": "count",
    "runtime.run_batch.exec_s": "s",
    "runtime.run_batch.jobs": "count",
    "runtime.run_batch.tasks": "count",
    "runtime.drain.s": "s",
    "runtime.drain.rounds": "count",
    "runtime.drain.jobs": "count",
    "runtime.drain.tasks": "count",
    "runtime.filebus.read_s": "s",
    "runtime.filebus.publish_s": "s",
    "runtime.filebus.files_per_poll": "count",
    "runtime.start_service.poll_p50_s": "s",
    "runtime.start_service.poll_tail_s": "s",
    "runtime.start_service.poll_jobs": "count",
    "runtime.start_service.events_per_poll": "count",
    "loadgen.offered_events_per_s": "events/s",
    "loadgen.lag_max_ms": "ms",
    "streaming.retry.requeued": "count",
    "streaming.retry.dead_lettered": "count",
    "streaming.retry.success_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "operators.text_analysis.gate_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pair_precision": "ratio",
    "operators.clustering.cc_s": "s",
    "operators.clustering.iterations": "count",
    "operators.similarity.ivf_s": "s",
    "operators.similarity.scored_per_query": "count",
}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Settings both sides of a comparison must share. Set before the
    program is imported: it reads them at import and session start."""
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # the program's RAM-disk scratch redirect depends on how full
    # /dev/shm is at the moment; scratch goes to the checkout instead
    os.environ["SPARK_GRAFT_SHM_SCRATCH"] = "0"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # Spark prefers this over spark.local.dir; and no JVM may write its
    # perf-data file to the host's /tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # glibc's per-thread malloc arenas make the JVM's resident size vary
    # from run to run with thread timing; two arenas keep peak_rss_mb steady
    os.environ["MALLOC_ARENA_MAX"] = "2"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.getcwd())
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from harness import Context, peak_rss_mb, start_spark, stop_spark

    workload = importlib.import_module(args.workload)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), work)
    t0 = time.perf_counter()
    ctx.spark = start_spark(work)
    ctx.layer["session.start_s"] = time.perf_counter() - t0
    print(f"session start {ctx.layer['session.start_s']:.3f}s", file=sys.stderr)
    ctx.tracer.attach(ctx.spark)
    try:
        result = workload.run(ctx, setup_started=t0)
        rss = peak_rss_mb()
        if args.trace:
            # the layers this workload does not call are measured by the
            # other workloads' small probes, after its own timed ops
            for name in WORKLOADS:
                if name != args.workload:
                    ctx.tracer.reset()
                    ok = importlib.import_module(name).layer_probe(ctx)
                    result["attempted"] += 1
                    result["failed"] += 0 if ok else 1
    finally:
        stop_spark(ctx.spark)

    for m in ctx.mismatches:
        print(f"MISMATCH {args.workload}: {m}", file=sys.stderr)
    attempted, failed = result["attempted"], result["failed"]
    if args.trace:
        os.makedirs(os.path.join(os.getcwd(), ".perfbench_work"), exist_ok=True)
        ctx.tracer.dump(
            os.path.join(
                os.getcwd(), ".perfbench_work", f"trace-{args.workload}-{args.seed}.json"
            )
        )
        units = PER_LAYER
        values = ctx.layer
    else:
        values = dict(result["metrics"], peak_rss_mb=rss)
        units = END_TO_END
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"workload did not report {sorted(missing)}")
    out = {
        "correct": not ctx.mismatches and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
