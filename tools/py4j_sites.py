"""Attribute py4j send_command round trips to repo call sites.

Companion to py4j_chatter.py: instead of per-query totals, this samples
the Python stack at every send_command and aggregates counts by the
innermost typebus_spark frame (falling back to the innermost pyspark
frame), producing the work list for the single-parse/lru_cache
treatment at call-site granularity. Memory-release commands, which
Python finalizers send whenever garbage collection frees a JavaObject,
are not counted: they follow collection timing, not the code.

Usage: python tools/py4j_sites.py [query ...]   (default: the router family)
"""

from __future__ import annotations

import os
import sys
import traceback
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.clientserver import ClientServerConnection  # noqa: E402
from py4j.protocol import (  # noqa: E402
    MEMORY_COMMAND_NAME,
    MEMORY_DEL_SUBCOMMAND_NAME,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SITES: Counter = Counter()
ENABLED = {"on": False}
_orig = ClientServerConnection.send_command
MEMORY_RELEASE = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


def _counted(self, command, *a, **k):
    if ENABLED["on"] and not command.startswith(MEMORY_RELEASE):
        stack = traceback.extract_stack(limit=40)
        site = None
        for fr in reversed(stack):
            if fr.filename.startswith(REPO) and "/tools/" not in fr.filename:
                site = f"{os.path.relpath(fr.filename, REPO)}:{fr.lineno}"
                break
        if site is None:
            for fr in reversed(stack):
                if "/pyspark/" in fr.filename:
                    site = "pyspark:" + os.path.basename(fr.filename)
                    break
        SITES[site or "?"] += 1
    return _orig(self, command, *a, **k)


ClientServerConnection.send_command = _counted


def main() -> None:
    names = sys.argv[1:] or [
        "q_retry_drain",
        "q_route_counts",
        "q_retry_drain_shed",
        "q_entity_lookup",
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    from typebus_spark import get_spark
    from typebus_spark.suite import QUERIES

    spark = get_spark(app_name="py4j-sites")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        SITES.clear()
        ENABLED["on"] = True
        try:
            QUERIES[name].fn(spark, sf_dir)
        finally:
            ENABLED["on"] = False
        total = sum(SITES.values())
        print(f"== {name}: {total} calls")
        for site, n in SITES.most_common(25):
            print(f"{n:7d}  {site}")
    spark.stop()


if __name__ == "__main__":
    main()
