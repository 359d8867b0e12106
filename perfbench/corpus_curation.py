"""corpus_curation: a batch curation job over a seeded corpus, closed loop.

Each op is one job: ``quality_score``/``gopher_rules`` gate →
``exact_dedup`` → ``minhash_lsh_pairs`` → ``connected_components`` →
``ivf_topk``, every step materialized before the next. The plan is built
afresh per op from the staged parquet inputs, so no cached stage of an
earlier op can serve a later one. The corpus has planted exact and
near-duplicate families, planted low-quality documents and embeddings
in planted clusters; every step's output is checked against them. The
bus layers (codec, registry, runtime) do no work here.
"""

from __future__ import annotations

import contextlib
import statistics
import time

import gen
import pyspark.sql.functions as F
from harness import closed_loop, overhead_ratio, warm_up
from pyspark.sql.types import ArrayType, DoubleType, LongType, StringType, StructField, StructType
from tracing import percentile_tail

from typebus_spark.operators.clustering import connected_components
from typebus_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from typebus_spark.operators.similarity import ivf_topk, train_centroids
from typebus_spark.operators.text_analysis import gopher_rules, quality_score

SIZES = dict(
    n_unique=1_500,
    n_exact_families=100,
    n_near_families=100,
    n_low_quality=150,
    n_vectors=2_000,
    n_clusters=8,
    dim=16,
    n_queries=40,
)
# the warm-up job runs the same plan over a corpus a tenth the size
WARMUP_SIZES = dict(
    SIZES,
    **{k: SIZES[k] // 10 for k in ("n_unique", "n_exact_families", "n_near_families",
                                   "n_low_quality", "n_vectors", "n_queries")},
)
N_CENTROIDS = 8
BUS_ONLY_LAYERS = (
    "registry.build_s",
    "codec.decode_s",
    "codec.encode_s",
    "codec.wire_bytes_per_event",
    "runtime.run_batch.build_s",
    "runtime.run_batch.py4j_calls",
)
TOP_K = 5
MIN_QUALITY = 0.8

DOC = StructType([StructField("id", LongType()), StructField("text", StringType())])
VEC = StructType(
    [StructField("id", LongType()), StructField("vec", ArrayType(DoubleType()))]
)


def _prepare(ctx):
    """Generate and stage the corpus, and a tenth-size copy for the
    warm-up job. Returns ``(op, data)``: ``op(i, traced, inputs="")``
    runs one curation job over the staged inputs (``"warm-"`` for the
    small copy) and returns its outputs; ``data`` is the generator's
    output with its ground truth."""
    spark, tr = ctx.spark, ctx.tracer
    data = gen.corpus(ctx.seed, **SIZES)
    paths = {}
    for name, d in (
        ("", data),
        ("warm-", gen.corpus(ctx.seed, **WARMUP_SIZES)),
    ):
        paths[name] = (ctx.path(name + "docs"), ctx.path(name + "vectors"), d["queries"])
        spark.createDataFrame(d["docs"], DOC).coalesce(1).write.parquet(paths[name][0])
        spark.createDataFrame(d["vectors"], VEC).coalesce(1).write.parquet(paths[name][1])

    def op(i: int, traced: bool, inputs: str = "") -> dict:
        docs_path, vecs_path, queries = paths[inputs]
        docs = spark.read.parquet(docs_path)
        vecs = spark.read.parquet(vecs_path)
        out: dict = {}
        with tr.span("operators.text_analysis.gate"):
            good = quality_score(docs, "id", "text").filter(
                F.col("quality_score") >= MIN_QUALITY
            ).select("id")
            keep = gopher_rules(docs, "id", "text").filter(F.col("keep") == 1).select("id")
            kept = (
                docs.join(good, "id", "left_semi")
                .join(keep, "id", "left_semi")
                .localCheckpoint(eager=True)
            )
            out["kept"] = kept.count()
        with tr.span("operators.dedup.exact"):
            groups = exact_dedup(kept, "id", "text").localCheckpoint(eager=True)
            out["exact_copies"] = sorted(
                (r[0], r[1]) for r in groups.filter(F.col("n_copies") > 1)
                .select("canonical_id", "n_copies").collect()
            )
            survivors = kept.join(
                groups.select(F.col("canonical_id").alias("id")), "id", "left_semi"
            ).localCheckpoint(eager=True)
        with tr.span("operators.dedup.minhash"):
            pairs = minhash_lsh_pairs(survivors, "id", "text").localCheckpoint(eager=True)
            out["pairs"] = [(r["a"], r["b"]) for r in pairs.select("a", "b").collect()]
        with tr.span("operators.clustering.cc"):
            with _count_collects(traced, type(pairs)) as rounds:
                labels = connected_components(pairs)
            out["cc_rounds"] = rounds[0]
            out["clusters"] = {}
            for r in labels.collect():
                out["clusters"].setdefault(r["cluster_id"], []).append(r["doc_id"])
        with tr.span("operators.similarity.ivf"):
            centroids = train_centroids(vecs, "vec", N_CENTROIDS, seed=ctx.seed, id_col="id")
            q = vecs.filter(F.col("id").isin(queries))
            res = ivf_topk(
                q,
                vecs,
                TOP_K,
                centroids,
                nprobe=2,
                query_id="id",
                query_vec="vec",
                corpus_id="id",
                corpus_vec="vec",
            )
            out["neighbors"] = [(r["query_id"], r["neighbor_id"]) for r in res.collect()]
            if traced:
                out["scored"] = _join_output_rows(res)
        return out

    return op, data


@contextlib.contextmanager
def _count_collects(on: bool, frame_class):
    """Count ``collect`` calls on frames of ``frame_class`` inside the
    block (when ``on``): ``connected_components`` runs one convergence
    collect per round."""
    n = [0]
    if not on:
        yield n
        return
    collect = frame_class.collect

    def counted(self):
        n[0] += 1
        return collect(self)

    frame_class.collect = counted
    try:
        yield n
    finally:
        frame_class.collect = collect


def run(ctx, setup_started: float) -> dict:
    op, data = _prepare(ctx)
    truth, n_queries = data["truth"], len(data["queries"])
    warm_up(ctx, lambda: op(0, False, "warm-"))
    setup_s = time.perf_counter() - setup_started
    samples = closed_loop(ctx, op)

    failed = sum(
        0 if _check(ctx, f"op{i}", s, truth, n_queries) else 1
        for i, s in enumerate(samples)
    )
    if ctx.trace:
        _layer_metrics(ctx, [s for s in samples if s["traced"]], truth, n_queries)
        ctx.layer["trace.overhead_ratio"] = overhead_ratio(samples)
        # the bus layers the other workloads' probes do not cover do no
        # work in this workload
        for name in BUS_ONLY_LAYERS:
            ctx.layer[name] = 0.0
    dts = [s["dt"] for s in samples]
    p50, tail = statistics.median(dts), percentile_tail(dts)[0]
    n_docs = len(data["docs"])
    return {
        "attempted": len(samples),
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "events_per_s": n_docs * len(samples) / sum(dts),
            "batch_p50_s": p50,
            "batch_tail_s": tail,
            # closed loop: a document's result is ready when its job ends
            "latency_p50_ms": p50 * 1000.0,
            "latency_tail_ms": tail * 1000.0,
        },
    }


def layer_probe(ctx) -> bool:
    """The operator layer's numbers for the traced run of another
    workload: one untraced warm-up job, then one traced job, both
    outside that workload's timed ops. True when the traced job's
    output matches the ground truth."""
    op, data = _prepare(ctx)
    tr = ctx.tracer
    tr.enabled = False
    try:
        op(0, False, "warm-")
    finally:
        tr.enabled = True
    tr.new_trace()
    s = op(0, True)
    ok = _check(ctx, "operator probe", s, data["truth"], len(data["queries"]))
    _layer_metrics(ctx, [s], data["truth"], len(data["queries"]))
    return ok


def _check(ctx, name: str, s: dict, truth: dict, n_queries: int) -> bool:
    ok = ctx.check(f"{name} gate kept", s["kept"], truth["kept"])
    want_exact = sorted((g[0], len(g)) for g in truth["exact_groups"])
    ok &= ctx.check(f"{name} exact families", s["exact_copies"], want_exact)
    got_clusters = sorted(sorted(m) for m in s["clusters"].values())
    ok &= ctx.check(
        f"{name} near-duplicate families", got_clusters, sorted(truth["near_groups"])
    )
    cluster_of = truth["cluster_of"]
    wrong = sorted(
        (q, n) for q, n in s["neighbors"] if cluster_of[q] != cluster_of[n]
    )
    ok &= ctx.check(f"{name} ivf neighbors outside the query's cluster", wrong[:5], [])
    ok &= ctx.check(
        f"{name} ivf neighbors returned", len(s["neighbors"]), TOP_K * n_queries
    )
    return ok


def _join_output_rows(df) -> int:
    """Rows out of the first join of an executed plan (the IVF query ×
    probed-bucket join: every pair it emits gets scored), read from the
    plan's SQL metrics."""
    plan = df._jdf.queryExecution().executedPlan()
    stack = [plan]
    found = []
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "AdaptiveSparkPlan" in name:
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        if "Join" in name:
            m = node.metrics().get("numOutputRows")
            if m.isDefined():
                found.append(m.get().value())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return max(found) if found else 0


def _layer_metrics(ctx, traced: list[dict], truth: dict, n_queries: int) -> None:
    tr, lay = ctx.tracer, ctx.layer
    n = len(traced) or 1
    lay["operators.text_analysis.gate_s"] = tr.total("operators.text_analysis.gate") / n
    lay["operators.dedup.exact_s"] = tr.total("operators.dedup.exact") / n
    lay["operators.dedup.minhash_s"] = tr.total("operators.dedup.minhash") / n
    lay["operators.clustering.cc_s"] = tr.total("operators.clustering.cc") / n
    lay["operators.similarity.ivf_s"] = tr.total("operators.similarity.ivf") / n
    family = {d: i for i, g in enumerate(truth["near_groups"]) for d in g}
    cand = sum(len(s["pairs"]) for s in traced)
    true_pairs = sum(
        1
        for s in traced
        for a, b in s["pairs"]
        if a in family and family.get(a) == family.get(b)
    )
    lay["operators.dedup.candidate_pairs"] = cand / n
    lay["operators.dedup.pair_precision"] = true_pairs / cand if cand else 0.0
    lay["operators.clustering.iterations"] = sum(s["cc_rounds"] for s in traced) / n
    lay["operators.similarity.scored_per_query"] = (
        sum(s.get("scored", 0) for s in traced) / n / n_queries
    )
