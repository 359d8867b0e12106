"""Plain-session driver-contract guard.

The external driver runs ``__spark_entry__`` with a PLAIN SparkSession
— none of ``typebus_spark.get_spark``'s confs (AQE advisory size,
nanosAsLong, tmpfs scratch, the 1000-entry codegen cache) are applied.
The codegen cache only saves recompiles; the others can change results
or failures. Every other
test in this suite uses the get_spark fixture, so a query that silently
depends on one of those confs would stay green locally and fail only
at the driver. This test spawns a SUBPROCESS with a bare session and
runs entry() plus one representative query per risky family:
TIMESTAMP(NANOS) events load, a streaming start, a fixture-literal
multimodal decode, and a window-over-shuffle query.
"""

from __future__ import annotations

import subprocess
import sys

SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as m

assert len(m.entry(spark).collect()) >= 0
qs = m.queries()
sf = "/root/testdata/sf0.001"
for name in [
    "q_events_by_type",          # TIMESTAMP(NANOS) load path
    "q_stream_hourly_append",    # streaming start + watermark cutoff
    "q_multimodal_real_decode",  # fixture literals + mapInPandas codec
    "q_shard_shuffle",           # window over hash shuffle
]:
    n = qs[name](spark, sf).count()
    assert n >= 0, name
    print(name, "ok", n)
print("PLAIN_SESSION_OK")
"""


def test_driver_contract_plain_session():
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert "PLAIN_SESSION_OK" in res.stdout, (
        res.stdout[-2000:],
        res.stderr[-2000:],
    )
