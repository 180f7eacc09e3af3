"""k-core local-tail handoff equivalence (r16 optimization round).

``kcore_peel`` finishes the peel fixpoint in driver memory once the
surviving edge count (the loop's convergence scalar, already on the
driver) proves the set smaller than ``KCORE_LOCAL_TAIL_MAX`` — the
iterative-tail fix for rounds whose cost is all fixed distributed
latency. These tests pin the optimization's contract: the local path and
the forced-distributed path produce the SAME core, the SAME directed-edge
count and the SAME round count, on random graphs and on the mid-loop
handoff boundary.
"""

from __future__ import annotations

import random

import pytest

from distributed_system_mapreduce_spark.cache import release_checkpoint
from distributed_system_mapreduce_spark.operators.graph import (
    _symmetric,
    kcore_peel,
)


def _rand_pairs(rng: random.Random, n_nodes: int, n_edges: int):
    seen = set()
    while len(seen) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    return sorted(seen)


@pytest.mark.parametrize("seed,k", [(1, 2), (2, 3), (3, 2), (4, 4)])
def test_local_tail_matches_forced_distributed(spark, seed, k):
    """Start-of-loop handoff: a graph under the bound peels locally; with
    local_tail_max=0 the same peel runs all-distributed. Core membership,
    edge count and the reported round count must be identical."""
    rng = random.Random(seed)
    pairs = spark.createDataFrame(
        _rand_pairs(rng, 30, 80), "src long, dst long"
    )
    sym = _symmetric(pairs)

    loc, n_loc, r_loc = kcore_peel(sym, k)
    dist, n_dist, r_dist = kcore_peel(sym, k, local_tail_max=0)
    loc_rows = sorted(map(tuple, loc.collect()))
    dist_rows = sorted(map(tuple, dist.collect()))
    release_checkpoint(loc)
    release_checkpoint(dist)
    assert (n_loc, r_loc) == (n_dist, r_dist)
    assert loc_rows == dist_rows


def test_midloop_handoff_matches_forced_distributed(spark):
    """Boundary case: local_tail_max BETWEEN the gen-0 size and the
    round-1 survivor size forces exactly one distributed round before the
    handoff — the composed result must equal the all-distributed peel."""
    # triangle 2-core plus a pendant chain: the 2-peel strips exactly one
    # chain vertex per round, guaranteeing a multi-round cascade
    chain = [(2, 10), (10, 11), (11, 12), (12, 13), (13, 14)]
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2)] + chain, "src long, dst long"
    )
    sym = _symmetric(pairs)
    n0 = sym.count()

    dist, n_dist, r_dist = kcore_peel(sym, 2, local_tail_max=0)
    dist_rows = sorted(map(tuple, dist.collect()))
    release_checkpoint(dist)
    assert r_dist >= 2, "fixture must peel for >= 2 rounds to test handoff"

    mixed, n_mixed, r_mixed = kcore_peel(sym, 2, local_tail_max=n0 - 1)
    mixed_rows = sorted(map(tuple, mixed.collect()))
    release_checkpoint(mixed)
    assert (n_mixed, r_mixed) == (n_dist, r_dist)
    assert mixed_rows == dist_rows


def test_empty_core_local(spark):
    """A graph whose k-core is empty returns an empty frame and the same
    rounds on both paths."""
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    sym = _symmetric(pairs)
    loc, n_loc, r_loc = kcore_peel(sym, 2)
    dist, n_dist, r_dist = kcore_peel(sym, 2, local_tail_max=0)
    assert n_loc == n_dist == 0
    assert r_loc == r_dist
    assert loc.count() == dist.count() == 0
    release_checkpoint(dist)
