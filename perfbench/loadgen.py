"""Open-loop request generator for the service_stream workload.

Runs as its own process. The requests were encoded ahead of time, one
parquet file per (topic, tick); at the end of tick ``k`` — wall time
``t0 + (k + 1) * tick_s``, when every request in it is due — the
generator renames that tick's files into the FileBus topic directories.
It sleeps to an absolute schedule and never waits for the consumer, so
a slow consumer builds a backlog instead of slowing the load. Each
tick's scheduled and actual release times go to a JSON-lines log.

    python3 perfbench/loadgen.py PLAN.json LOG.jsonl

``PLAN.json`` holds ``{"t0": epoch_s, "tick_s": s, "moves": [[tick,
src, dst], ...]}``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict


def main(plan_path: str, log_path: str) -> int:
    with open(plan_path) as f:
        plan = json.load(f)
    t0, tick_s = plan["t0"], plan["tick_s"]
    by_tick: dict[int, list] = defaultdict(list)
    for tick, src, dst in plan["moves"]:
        by_tick[int(tick)].append((src, dst))
    with open(log_path, "w") as log:
        for tick in sorted(by_tick):
            due = t0 + (tick + 1) * tick_s
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            for src, dst in by_tick[tick]:
                os.replace(src, dst)
            done = time.time()
            log.write(
                json.dumps(
                    {"tick": tick, "due": due, "done": done, "files": len(by_tick[tick])}
                )
                + "\n"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
