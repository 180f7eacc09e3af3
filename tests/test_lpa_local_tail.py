"""LPA local-tail equivalence.

``graph_label_propagation`` runs the synchronous label-propagation rounds
in driver memory when the session-memoized backbone edge count is within
``cache.LOCAL_TAIL_MAX`` (``cache.local_rows``, the local-tail rule the
k-core peel and connected components share). Contract:
``_lpa_labels_local`` is bit-identical to the distributed ``lpa_labels``
rule — max-count/min-label synchronous adoption — on random graphs for
any round count.
"""

from __future__ import annotations

import random

import pytest

from distributed_system_mapreduce_spark.operators.graph import (
    _lpa_labels_local,
    _symmetric,
    lpa_labels,
)


def _rand_pairs(rng: random.Random, n_nodes: int, n_edges: int):
    seen = set()
    while len(seen) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    return sorted(seen)


@pytest.mark.parametrize("seed,rounds", [(1, 1), (2, 2), (3, 4), (4, 3)])
def test_local_lpa_matches_distributed(spark, seed, rounds):
    """Local loop == distributed unrolled plan: same label for every
    vertex, same community histogram, on random graphs."""
    rng = random.Random(seed)
    pairs = _rand_pairs(rng, 14, 28)
    pdf = spark.createDataFrame(pairs, "src long, dst long")
    sym = _symmetric(pdf)
    dist = {r["id"]: r["lbl"] for r in lpa_labels(sym, rounds).collect()}
    sym_rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    local = _lpa_labels_local(sym_rows, rounds)
    assert local == dist


def test_local_lpa_tie_rule():
    """Two equal-count neighbor labels must resolve to the SMALLER label —
    the max_by(lbl, struct(c, -lbl)) rule the oracle mirrors."""
    # vertex 2 sees neighbors 1 and 3 (one each): adopts min(1, 3) = 1
    edges = [(1, 2), (2, 1), (2, 3), (3, 2)]
    lab = _lpa_labels_local(edges, 1)
    assert lab[2] == 1


def test_local_lpa_empty():
    assert _lpa_labels_local([], 3) == {}
