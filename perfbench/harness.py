"""Pieces every workload shares: the Spark session's start and stop,
the run context, the closed measuring loop and peak memory."""

from __future__ import annotations

import os
import statistics
import sys
import time

from tracing import Tracer


def start_spark(work: str):
    from typebus_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    from pyspark import SparkContext

    kb = _hwm_kb(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _hwm_kb(proc.pid)
    return kb / 1024.0


class Context:
    """What a workload gets: its seed, its measuring window, the tracer,
    a scratch directory, and the Spark session once started."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.work = work
        self.spark = None
        self.layer: dict[str, float] = {}  # per-layer metric values
        self.mismatches: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, got, want) -> bool:
        """Record a named ground-truth mismatch; True when equal."""
        if got != want:
            self.mismatches.append(f"{name}: got {got!r}, want {want!r}")
            return False
        return True


def closed_loop(ctx: Context, op, probe=None) -> list[dict]:
    """Run ``op(i, traced)`` back to back until ``ctx.seconds`` have passed
    (at least once; twice in a traced run, so it has an op of each kind);
    each call returns a dict of its outputs, to which
    its wall time ``dt`` is added. In a traced run every other op is
    traced, so the untraced ones between them give the tracing overhead
    in the same process; ``probe()`` runs after each traced op, outside
    its timing, for layer measurements the op itself does not make."""
    samples = []
    end = time.perf_counter() + ctx.seconds
    min_ops = 2 if ctx.trace else 1
    while len(samples) < min_ops or time.perf_counter() < end:
        traced = ctx.trace and len(samples) % 2 == 1
        ctx.tracer.enabled = traced
        ctx.tracer.new_trace()
        t0 = time.perf_counter()
        out = op(len(samples), traced)
        out["dt"] = time.perf_counter() - t0
        out["traced"] = traced
        print(f"op {len(samples)} traced={int(traced)} {out['dt']:.3f}s", file=sys.stderr)
        samples.append(out)
        if traced and probe is not None:
            probe()
    ctx.tracer.enabled = ctx.trace
    return samples


def overhead_ratio(samples: list[dict]) -> float:
    """Median traced op time over median untraced op time, minus one."""
    on = [s["dt"] for s in samples if s["traced"]]
    off = [s["dt"] for s in samples if not s["traced"]]
    if not on or not off:
        return 0.0
    return statistics.median(on) / statistics.median(off) - 1.0


def warm_up(ctx: Context, fn) -> None:
    """Run ``fn()`` untraced as the last set-up step: the first pass pays
    JVM JIT and whole-stage codegen compilation, which belong to set-up
    time and not to the measured window."""
    enabled, ctx.tracer.enabled = ctx.tracer.enabled, False
    t0 = time.perf_counter()
    try:
        fn()
    finally:
        ctx.tracer.enabled = enabled
    ctx.layer["session.warmup_s"] = time.perf_counter() - t0
    print(f"warm-up {ctx.layer['session.warmup_s']:.3f}s", file=sys.stderr)
