"""Dump ``.explain("formatted")`` for inventory queries to files.

Usage:
    python tools/dump_plans.py --root <repo-or-worktree> \
        --out <dir> --suffix _before --queries q_a,q_b,...

Writes ``<out>/<query><suffix>.txt`` per query. Plans are captured with
the same ``get_spark`` session shape the bench uses, so Exchange counts
and join strategies match the benched plans. Queries whose fn() runs
jobs at build time (streams, drains, trainers) still produce a plan for
the RETURNED frame — the machinery cost lives in the build, which the
plan cannot show; those plans are still useful for the final-frame
shape.
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    from typebus_spark import get_spark
    from typebus_spark.suite import QUERIES

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    for name in args.queries.split(","):
        name = name.strip()
        if not name:
            continue
        q = QUERIES.get(name)
        if q is None:
            print(f"{name}: NOT FOUND", file=sys.stderr)
            continue
        try:
            df = q.fn(spark, args.sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture the failure instead of dying
            txt = f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}"
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
