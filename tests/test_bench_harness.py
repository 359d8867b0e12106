"""Pin the bench harness's stateful-query auto-detection.

The prepared-plan cache in bench.py must NEVER serve a query whose
fn() executes work during construction (streams, drains, trainers,
iterative loops) — caching their handle would skip the work and
under-report. This pins the detector on one known query of each kind
so a refactor of either the queries or the probe can't silently flip a
classification. The last test pins that the inventory the bench walks
(its order and its one live append query) is fixed in code.
"""

from __future__ import annotations

import os

import pytest

from bench import builds_with_jobs
from typebus_spark.session import event_time_bounds, load_table
from typebus_spark.streaming.mux import _run_mux
from typebus_spark.suite import QUERIES

PURE = [
    "q1_pricing_summary",      # plain relational
    "q_chunk_overlap",         # scan-side explode
    "q_dedup_near_jaccard",    # lazy persist — no build-time job
    "q_profile_table",         # one-pass aggregate
    # the other append shapes read the multiplexed consumer graph
    # (memoized scaffold — pure in steady state)
    "q_stream_session_append",
    "q_stream_sliding_append",
    "q_stream_static_join_append",
]
STATEFUL = [
    "q_retry_drain",           # drain rounds execute during fn()
    # the one live append query runs its REAL streaming query in fn()
    "q_stream_hourly_append",
    "q_knn_ivf_kmeans",        # trainer collects centroids
    "q_dedup_clusters",        # iterative convergence loop
]
# q_stream_hourly moved out of STATEFUL in r10: it reads the
# multiplexed consumer graph's output (streaming/mux.py), whose
# scaffold is a memoized one-time setup — pure in steady state like
# the frozen-codebook fingerprint (bench warms before probing).


@pytest.fixture(scope="module", autouse=True)
def _pretouch(spark, sf_dir):
    # first-scan footer/listing jobs would misattribute as stateful
    for t in ("lineitem", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, t)
    # so would the memoized one-time setups the muxed append shapes
    # read (bench.py warms every query before it probes)
    event_time_bounds(spark, sf_dir)
    _run_mux(spark, sf_dir)


@pytest.mark.parametrize("name", PURE)
def test_pure_queries_build_without_jobs(spark, sf_dir, name):
    assert not builds_with_jobs(spark, QUERIES[name].fn, sf_dir, name), (
        f"{name} ran jobs during plan construction — either the query "
        "gained a build-time action (fix it: that cost repeats on every "
        "plan build) or the probe broke"
    )


@pytest.mark.parametrize("name", STATEFUL)
def test_stateful_queries_are_detected(spark, sf_dir, name):
    assert builds_with_jobs(spark, QUERIES[name].fn, sf_dir, name), (
        f"{name} built without jobs — if its execution genuinely moved "
        "out of fn() this pin can be updated, but a detection bug here "
        "means the bench plan-cache would skip its real work"
    )


_PROBE = """
import json
import typebus_spark.suite as suite
from typebus_spark.queries import dataflow

calls = []
for shape in ("hourly", "session", "sliding", "static_join"):
    for form in ("native", "mux"):
        fn = f"{form}_stream_{shape}_append"
        setattr(dataflow, fn, lambda s, d, fn=fn: calls.append(fn))
live = []
for shape in ("hourly", "session", "sliding", "static_join"):
    name = f"q_stream_{shape}_append"
    calls.clear()
    suite.QUERIES[name].fn(None, "")
    if calls == [f"native_stream_{shape}_append"]:
        live.append(name)
print(json.dumps({"file": suite.__file__, "order": list(suite.queries()),
                  "live": live}))
"""


def test_inventory_import_reads_no_repo_files(tmp_path):
    """Importing the inventory must not look at files beside the
    package: the query order and which append query runs its real
    streaming form are fixed in code. Import a copy of the package
    twice — plain, then with a stray CORRECTNESS_r99.json at its root
    that records a green check of the first query — and expect the
    same order and the same live query."""
    import json
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(
        os.path.join(repo, "typebus_spark"),
        tmp_path / "typebus_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    env = {**os.environ, "PYTHONPATH": str(tmp_path)}

    def probe():
        r = subprocess.run(
            [sys.executable, "-c", _PROBE], cwd=tmp_path, env=env,
            capture_output=True, text=True, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        out = json.loads(r.stdout.strip().splitlines()[-1])
        assert out["file"].startswith(str(tmp_path)), out["file"]
        return out

    plain = probe()
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({plain["order"][0]: {"hash_match": True}})
    )
    with_file = probe()
    assert with_file["order"] == plain["order"]
    assert len(plain["order"]) == len(QUERIES)
    assert plain["live"] == with_file["live"] == ["q_stream_hourly_append"]
