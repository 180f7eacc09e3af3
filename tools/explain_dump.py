#!/usr/bin/env python
"""Dump .explain("formatted") for named queries to plans/<round>/ files.

Optimization-round evidence helper (guide §1: capture the plan BEFORE and
AFTER every change). Usage:

    python tools/explain_dump.py --out plans/r16 --tag before q1 q2 ...
    python tools/explain_dump.py --out plans/r16 --tag after  q1 q2 ...

``--sf-dir`` defaults to the sf0.1 fixture, the bench scale.

Writes ``<out>/<query>_<tag>.txt`` holding the formatted physical plan
(initial AQE plan — plan SHAPE is what the round's claims are checked
against; runtime re-optimization only merges/splits exchanges' partitions).
Plan capture only invokes the planner, not execution, so it is safe to run
on the bench host between timed sweeps.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from distributed_system_mapreduce_spark.registry import QUERIES
    from distributed_system_mapreduce_spark.session import get_spark

    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("dsmr-explain")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.queries:
        df = QUERIES[name](spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
