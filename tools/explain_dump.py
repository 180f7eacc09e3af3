#!/usr/bin/env python
"""Write PLAN_SHAPES.json, the per-query physical-plan ledger.

Each registered query is built at the smoke fixture in the test suite's
session (``tests/conftest.py``: ``SF_SMOKE``, ``suite_session``) with every
tracked cache released first, so a shared frame that an earlier query left
cached cannot turn into an ``InMemoryTableScan``. Its ``simple`` explain
string (the initial AQE plan: planning only, no execution of the final
plan) is reduced to a signature by :func:`plan_shape`. The ledger holds one
line per query, sorted by name, so a plan change is a one-line diff.

``tests/test_plans.py::test_registry_plan_sweep`` recomputes every
signature from the plan string it already screens and fails, naming the
moved operator counts, when one differs from the ledger.

Usage: python tools/explain_dump.py
"""

from __future__ import annotations

import collections
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(ROOT, "PLAN_SHAPES.json")

# tree glyphs (``+-``, ``:-``, ``:``) and the ``*(n)`` codegen-stage mark
_LINE_PREFIX = re.compile(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?")


def _top_level_fields(schema: str) -> int:
    """Top-level field count of a ``struct<...>`` schema string; commas
    nested in ``<>`` (struct/array/map) or ``()`` (decimal) do not count."""
    depth, fields = 0, 0
    for ch in schema[len("struct<"):]:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            if depth == 0:
                break
            depth -= 1
        elif ch == "," and depth == 0:
            fields += 1
        elif fields == 0:
            fields = 1
    return fields


def plan_shape(plan: str) -> dict:
    """The signature of a ``simple`` explain string: ``ops`` counts each
    operator name (the first word of every plan line, ``*(n)`` and tree
    glyphs stripped, ``== ... ==`` section headers skipped; an
    ``InMemoryRelation``'s cached subtree counts too), and ``scan_cols``
    lists the top-level column count of each ``FileScan``'s ReadSchema,
    sorted."""
    ops: collections.Counter[str] = collections.Counter()
    scan_cols = []
    for line in plan.splitlines():
        body = _LINE_PREFIX.sub("", line)
        op = re.match(r"\w+", body)
        if op is None:
            continue
        ops[op.group()] += 1
        if op.group() == "FileScan" and "ReadSchema: struct<" in body:
            scan_cols.append(
                _top_level_fields(body.split("ReadSchema: ", 1)[1])
            )
    return {"ops": dict(sorted(ops.items())), "scan_cols": sorted(scan_cols)}


def main() -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from conftest import SF_SMOKE, suite_session

    from distributed_system_mapreduce_spark import cache
    from distributed_system_mapreduce_spark.plans import explain_str
    from distributed_system_mapreduce_spark.registry import QUERIES

    spark = suite_session("dsmr-explain")
    spark.sparkContext.setLogLevel("ERROR")
    shapes = {}
    for name, build in QUERIES.items():
        cache.clear_tracked_caches()
        shapes[name] = plan_shape(explain_str(build(spark, SF_SMOKE), "simple"))
    spark.stop()
    lines = [
        f"{json.dumps(name)}: {json.dumps(shapes[name], sort_keys=True)}"
        for name in sorted(shapes)
    ]
    with open(LEDGER, "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {LEDGER} ({len(lines)} queries)")


if __name__ == "__main__":
    main()
