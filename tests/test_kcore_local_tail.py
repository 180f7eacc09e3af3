"""k-core local-tail handoff equivalence.

``kcore_peel`` runs on ``cache.fixpoint`` with a local finish: whenever
the surviving symmetric edge count (the loop's measure, already on the
driver) is within ``cache.LOCAL_TAIL_MAX``, at the start or after any
round, the remaining rounds run in driver memory with the same round
counter. Contract: the local path, the mid-loop handoff and the
forced-distributed path (``cache.LOCAL_TAIL_MAX`` 0) return the SAME core,
the SAME directed-edge count and the SAME round count.
"""

from __future__ import annotations

import random

import pytest

from distributed_system_mapreduce_spark import cache
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


def _peel(monkeypatch, sym, k, bound=None):
    """kcore_peel under ``bound`` (the default bound when None); returns
    (sorted core rows, directed-edge count, rounds) and releases a
    distributed core."""
    with monkeypatch.context() as m:
        if bound is not None:
            m.setattr(cache, "LOCAL_TAIL_MAX", bound)
        core, n, rounds = kcore_peel(sym, k)
    if isinstance(core, list):
        return sorted(core), n, rounds
    rows = sorted(map(tuple, core.collect()))
    cache.release_checkpoint(core)
    return rows, n, rounds


@pytest.mark.parametrize("seed,k", [(1, 2), (2, 3), (3, 2), (4, 4)])
def test_local_tail_matches_forced_distributed(spark, monkeypatch, seed, k):
    """Start-of-loop handoff: a graph under the bound peels locally; with
    the bound at 0 the same peel runs all-distributed. Core membership,
    edge count and the reported round count must be identical."""
    rng = random.Random(seed)
    pairs = spark.createDataFrame(
        _rand_pairs(rng, 30, 80), "src long, dst long"
    )
    sym = _symmetric(pairs)

    assert _peel(monkeypatch, sym, k) == _peel(monkeypatch, sym, k, bound=0)


def test_midloop_handoff_matches_forced_distributed(spark, monkeypatch):
    """Boundary case: a bound BETWEEN the gen-0 size and the round-1
    survivor size forces exactly one distributed round before the
    handoff — the composed result must equal the all-distributed peel."""
    # triangle 2-core plus a pendant chain: the 2-peel strips exactly one
    # chain vertex per round, guaranteeing a multi-round cascade
    chain = [(2, 10), (10, 11), (11, 12), (12, 13), (13, 14)]
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2)] + chain, "src long, dst long"
    )
    sym = _symmetric(pairs)
    n0 = sym.count()

    dist = _peel(monkeypatch, sym, 2, bound=0)
    assert dist[2] >= 2, "fixture must peel for >= 2 rounds to test handoff"
    assert _peel(monkeypatch, sym, 2, bound=n0 - 1) == dist


def test_empty_core_local(spark, monkeypatch):
    """A graph whose k-core is empty returns an empty core and the same
    rounds on both paths."""
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    sym = _symmetric(pairs)
    loc = _peel(monkeypatch, sym, 2)
    assert loc[:2] == ([], 0)
    assert loc == _peel(monkeypatch, sym, 2, bound=0)


def test_local_start_takes_no_checkpoint(spark, monkeypatch):
    """A start within the bound, given the edge count the caller holds,
    is one collect: no generation is checkpointed. The forced-distributed
    peel of the same graph checkpoints and agrees with it."""
    pairs = spark.createDataFrame(
        _rand_pairs(random.Random(5), 30, 80), "src long, dst long"
    )
    sym = _symmetric(pairs)
    n_sym = sym.count()
    calls = []
    real = type(sym).localCheckpoint  # the session's concrete frame class

    def spy(df, *args, **kwargs):
        calls.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(type(sym), "localCheckpoint", spy)
    core, n, rounds = kcore_peel(sym, 2, n_edges=n_sym)
    assert isinstance(core, list)
    assert calls == []
    assert (sorted(core), n, rounds) == _peel(monkeypatch, sym, 2, bound=0)
    assert calls
