"""Per-query py4j plan-construction cost profiler.

CLAUDE.md: plan CONSTRUCTION round trips (0.3-1.5 ms each under load)
dominate the fixed per-query floor. This wraps
ClientServerConnection.send_command with a counter, builds every
inventory query's DataFrame (NO execution), and prints per-query call
counts sorted descending — the work list for the lit_vec/single-parse
treatment. Memory-release commands (sent by Python finalizers as garbage
collection frees JavaObjects) are not counted: they follow collection
timing, not the code.

Usage: python tools/py4j_chatter.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.clientserver import ClientServerConnection  # noqa: E402
from py4j.protocol import (  # noqa: E402
    MEMORY_COMMAND_NAME,
    MEMORY_DEL_SUBCOMMAND_NAME,
)

COUNT = {"n": 0}
_orig = ClientServerConnection.send_command
MEMORY_RELEASE = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


def _counted(self, command, *a, **k):
    if not command.startswith(MEMORY_RELEASE):
        COUNT["n"] += 1
    return _orig(self, command, *a, **k)


ClientServerConnection.send_command = _counted


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from typebus_spark import get_spark
    from typebus_spark.suite import QUERIES

    spark = get_spark(app_name="py4j-chatter")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, q in QUERIES.items():
        if getattr(q, "runs_jobs", False) or "stream" in name:
            continue  # build-time-executing queries measure jobs, not chatter
        before = COUNT["n"]
        try:
            q.fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            rows.append((name, -1, str(e)[:60]))
            continue
        rows.append((name, COUNT["n"] - before, ""))
    rows.sort(key=lambda r: -r[1])
    total = sum(r[1] for r in rows if r[1] > 0)
    print(json.dumps({"total_build_calls": total, "queries_built": len(rows)}))
    for name, n, err in rows[:40]:
        print(f"{n:7d}  {name}  {err}")
    spark.stop()


if __name__ == "__main__":
    main()
