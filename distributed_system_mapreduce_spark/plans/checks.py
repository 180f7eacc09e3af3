"""Physical-plan assertion helpers (SURVEY.md §5.2.4).

The reference model has no optimizer (the user's map function IS the pushed
predicate); our engine leans on Catalyst for pushdown/pruning/broadcast, so
these helpers let tests pin the physical properties that matter at 100 TB:
filters reaching the parquet scan, column pruning, broadcast joins for small
dims, partial aggregation, top-k short-circuits, whole-stage codegen.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame

#: Queries where Arrow-batched Python IS the design (per-bucket cosine via
#: applyInPandas; the size-guarded all-pairs fallback; multimodal fake-codec
#: decode via mapInPandas). Single-sourced here because two consumers need
#: it and must not drift: tests/test_plans.py whitelists these in the
#: BatchEvalPython ban sweep, and bench.py gives them a wider regression
#: band (Python worker-pool timing varies between runs of unchanged code).
ARROW_BATCH_QUERIES = frozenset(
    {
        "dedup_embed_cosine",
        "multimodal_frame_sample",
        "multimodal_media_features",
        "multimodal_phash_dedup",
        "sim_topk_pairs",
    }
)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def assert_in_plan(df: DataFrame, *fragments: str, mode: str = "formatted") -> str:
    plan = explain_str(df, mode)
    missing = [f for f in fragments if f not in plan]
    assert not missing, f"plan missing {missing}\n--- plan ---\n{plan}"
    return plan


def assert_not_in_plan(df: DataFrame, *fragments: str, mode: str = "formatted") -> str:
    plan = explain_str(df, mode)
    present = [f for f in fragments if f in plan]
    assert not present, f"plan unexpectedly contains {present}\n--- plan ---\n{plan}"
    return plan


# ---------------------------------------------------------------------------
# Logical-plan tree inspection: the string plan can't tell a bounded
# metadata window from a corpus-sized one, so these helpers parse the
# optimized plan's JSON tree and adjudicate every UNPARTITIONED Window node —
# the class (WindowExec "moving all data to a single partition") that sorts
# its whole input in one task.
# ---------------------------------------------------------------------------

import json


def optimized_tree(df: DataFrame):
    """The optimized logical plan as a nested ``(node_dict, children)``
    tree, parsed from Catalyst's ``toJSON`` pre-order node list."""
    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    it = iter(nodes)

    def build():
        n = next(it)
        return (n, [build() for _ in range(n.get("num-children", 0))])

    return build()


def _walk(tree):
    yield tree
    for child in tree[1]:
        yield from _walk(child)


def _spine_is_bounded(tree) -> bool:
    """True when the unary spine BELOW an unpartitioned Window proves its
    input is bounded before it reaches corpus-sized data:

    - a ``Filter`` on the salted-top-k stage-1 rank (``__topk_r1``): input
      is at most buckets*k survivor rows (plans/topk.py);
    - a ``Limit`` node: input is at most the literal limit;
    - an ``Aggregate`` grouped by a ``__scan_chunk`` key: input is the
      chunk-cardinality metadata rollup of the chunked scan/rank builders
      (plans/scan.py).

    A non-chunk Aggregate, a multi-child node (join/union), or the scan
    leaf ends the walk unproven — group-by output is corpus-proportional in
    general (per-customer, per-doc, per-word rollups), which is exactly the
    bug class this sweep exists to catch.
    """
    node, kids = tree
    while True:
        cls = node["class"].rsplit(".", 1)[-1]
        if cls == "Filter" and "__topk_r1" in json.dumps(
            node.get("condition", "")
        ):
            return True
        if cls in ("GlobalLimit", "LocalLimit", "Limit"):
            return True
        if cls == "Aggregate":
            blob = json.dumps(node.get("groupingExpressions", ""))
            return "__scan_chunk" in blob
        if len(kids) != 1:
            return False
        node, kids = kids[0]


def global_window_violations(df: DataFrame) -> list[str]:
    """Names (window expression JSON snippets) of unpartitioned Window
    nodes whose input is NOT structurally bounded — each is a single-task
    sort of its full input at scale. Empty list == clean."""
    out = []
    for node, kids in _walk(optimized_tree(df)):
        if node["class"].endswith("logical.Window") and not node.get(
            "partitionSpec"
        ):
            if not _spine_is_bounded((node, kids)):
                exprs = json.dumps(node.get("windowExpressions", ""))[:120]
                out.append(exprs)
    return out


# ---------------------------------------------------------------------------
# BNLJ build-side boundedness: a BroadcastNestedLoopJoin whitelist entry is
# a DECLARATION of which structural bound the broadcast side carries, and
# the sweep verifies the physical plan actually exhibits it, so a stale
# entry cannot hide a quadratic join.
# ---------------------------------------------------------------------------

import re as _re

#: Columns whose constant-literal scan filters (col = k / col < k) bound the
#: build side at a constant row count: unique vector/query ids probed with a
#: literal range (the ANN/eval query grids), salted-top-k stage-1 ranks, and
#: per-partition row_number caps. A literal filter on a NON-key column
#: (l_quantity < 24 …) bounds nothing — it scales with the corpus — so only
#: these declared key columns count toward the "probe" class.
PROBE_BOUND_COLS = frozenset(
    {"vec_id", "q_id", "cent_id", "rn", "rnk", "__topk_r1"}
)

_CONSTFILTER_RE = _re.compile(r"\((\w+)#\d+L? (?:=|<|<=) \d+\)")
# Capture the FULL keys=[...] list, not just the first key: an aggregate
# keyed by (label, doc_id) is NOT bounded by label's arity — its output
# scales with the corpus — so it must not classify as grouped:label.
_GROUPED_RE = _re.compile(
    r"(?:Hash|Sort|ObjectHash)Aggregate\(keys=\[([^\]]*)\]"
)
_KEYCOL_RE = _re.compile(r"(\w+)#\d+")


def _classify_build_side(tree_string: str) -> set[str]:
    """Structural bound classes exhibited by one BNLJ build-side subtree:

    - ``scalar``  — a grouping-free aggregate (``keys=[]``): 1-row combine;
    - ``limit``   — an explicit limit / ordered top-k: ≤ literal rows;
    - ``local``   — a literal/cached frame (LocalTableScan, InMemoryTableScan,
      ReusedExchange, OneRowRelation): driver-bounded by construction;
    - ``probe``   — a constant-literal filter on a declared unique-key
      column (PROBE_BOUND_COLS): ≤ constant rows;
    - ``grouped:<col>`` — an aggregate keyed by <col>: output bounded by
      that column's arity (only sound for DECLARED bounded-arity columns —
      label, language — so the sweep accepts it only when the whitelist
      entry names the column).
    """
    classes: set[str] = set()
    if _re.search(r"keys=\[\], functions=", tree_string):
        classes.add("scalar")
    if _re.search(
        r"TakeOrderedAndProject|CollectLimit|GlobalLimit", tree_string
    ):
        classes.add("limit")
    if _re.search(
        r"LocalTableScan|InMemoryTableScan|ReusedExchange|OneRowRelation",
        tree_string,
    ):
        classes.add("local")
    for col in _CONSTFILTER_RE.findall(tree_string):
        if col in PROBE_BOUND_COLS:
            classes.add("probe")
        classes.add(f"constfilter:{col}")
    for keys_blob in _GROUPED_RE.findall(tree_string):
        key_cols = _KEYCOL_RE.findall(keys_blob)
        # grouped:<col> is only a bound when <col> is the SOLE grouping
        # key — (label, doc_id) output scales with doc count, not label
        # arity.
        if len(key_cols) == 1:
            classes.add(f"grouped:{key_cols[0]}")
    return classes


def bnlj_build_classes(df: DataFrame) -> list[set[str]]:
    """One entry per BroadcastNestedLoopJoin in the (pre-AQE) physical
    plan: the structural bound classes its BUILD side exhibits. An empty
    set means the broadcast branch carries NO structural bound — a raw
    corpus-sized broadcast, the regression class the whitelist exists to
    police."""
    plan = df._jdf.queryExecution().sparkPlan()
    out: list[set[str]] = []

    def walk(node):
        if "BroadcastNestedLoopJoin" in node.nodeName():
            arg = node.argString(200)
            child = node.children().apply(0 if "BuildLeft" in arg else 1)
            out.append(_classify_build_side(child.treeString()))
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(plan)
    return out
