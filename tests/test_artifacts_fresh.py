"""Committed parity-artifact gates, applied to both artifacts of the one
parity runner (tools/parity_bigsf.py):

- ``CORRECTNESS_LOCAL.json`` (sf0.01, ``python correctness_full.py``);
- ``PARITY_SF01.json`` (sf0.1, ``python tools/parity_bigsf.py``).

Each artifact must have been generated from the exact package sources being
tested (per-file sha256 stamp), by a clean tree (so ``git_head`` names the
sources), at its own scale factor, over every registered query, with no
failed query. ``oracle_timeout`` is accepted only at sf0.1, where the
recursive-CTE oracles are budgeted. The gates are pure file I/O (no Spark);
``--changed-only`` re-runs only the queries a source edit can affect.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import parity_bigsf  # noqa: E402

#: artifact -> (regenerating command, sf_dir basename, accepted ``err`` values)
ARTIFACTS = {
    "CORRECTNESS_LOCAL.json": (
        "python correctness_full.py", "sf0.01", (None, "no_oracle"),
    ),
    "PARITY_SF01.json": (
        "python tools/parity_bigsf.py", "sf0.1",
        (None, "no_oracle", "oracle_timeout"),
    ),
}


@pytest.fixture(scope="module")
def artifacts() -> dict[str, dict]:
    loaded = {}
    for name, (cmd, _sf, _ok) in ARTIFACTS.items():
        path = os.path.join(ROOT, name)
        assert os.path.exists(path), f"{name} missing — run `{cmd}`"
        with open(path) as fh:
            loaded[name] = json.load(fh)
    return loaded


def _check(gate, artifacts: dict[str, dict], names) -> None:
    """Apply one gate to the named artifacts; ``gate(name, art)`` returns a
    problem string or None."""
    problems = {
        name: problem for name in names
        if (problem := gate(name, artifacts[name])) is not None
    }
    assert not problems, "\n".join(
        f"{name}: {problem} — rerun `{ARTIFACTS[name][0]}` (with "
        "--changed-only when only sources changed) after the last source "
        "commit and commit the refreshed artifact"
        for name, problem in problems.items()
    )


def _stale(name: str, art: dict) -> str | None:
    stamped = (art.get("provenance") or {}).get("source_files") or {}
    current = parity_bigsf._file_hashes()
    changed = sorted(
        f for f in set(stamped) | set(current)
        if stamped.get(f) != current.get(f)
    )
    return f"stale for {changed}" if changed else None


def _dirty(name: str, art: dict) -> str | None:
    flag = (art.get("provenance") or {}).get("source_dirty")
    return None if flag is False else f"provenance.source_dirty={flag!r}"


def _wrong_sf(name: str, art: dict) -> str | None:
    sf_dir = (art.get("summary") or {}).get("sf_dir")
    if os.path.basename(str(sf_dir)) == ARTIFACTS[name][1]:
        return None
    return f"summary.sf_dir={sf_dir!r}, expected .../{ARTIFACTS[name][1]}"


def _uncovered(name: str, art: dict) -> str | None:
    from distributed_system_mapreduce_spark.registry import QUERIES

    results = set(art.get("results") or {})
    if results == set(QUERIES):
        return None
    return (
        f"missing {sorted(set(QUERIES) - results)}, "
        f"unregistered {sorted(results - set(QUERIES))}"
    )


def _failures(name: str, art: dict) -> str | None:
    accepted = ARTIFACTS[name][2]
    bad = {
        q: rec.get("err") for q, rec in (art.get("results") or {}).items()
        if rec.get("err") not in accepted
    }
    n_failed = (art.get("summary") or {}).get("failed")
    if n_failed == 0 and not bad:
        return None
    return f"summary.failed={n_failed!r}, errors {bad}"


LOCAL, SF01 = "CORRECTNESS_LOCAL.json", "PARITY_SF01.json"


def test_artifact_matches_current_sources(artifacts):
    _check(_stale, artifacts, [LOCAL])


def test_parity_sf01_matches_current_sources(artifacts):
    _check(_stale, artifacts, [SF01])


def test_artifact_provenance_head_is_clean(artifacts):
    _check(_dirty, artifacts, [LOCAL])


def test_parity_sf01_provenance_head_is_clean(artifacts):
    _check(_dirty, artifacts, [SF01])


def test_artifact_records_its_scale_factor(artifacts):
    _check(_wrong_sf, artifacts, ARTIFACTS)


def test_artifact_covers_full_registry(artifacts):
    _check(_uncovered, artifacts, [LOCAL])


def test_artifact_reports_zero_failures(artifacts):
    _check(_failures, artifacts, [LOCAL])


def test_parity_sf01_covers_full_registry_with_zero_failures(artifacts):
    _check(_uncovered, artifacts, [SF01])
    _check(_failures, artifacts, [SF01])


def _fake_query(module: str):
    def query(spark, sf_dir):
        return None

    query.__module__ = module
    return query


def test_changed_only_selects_queries_of_changed_modules(monkeypatch):
    """``--changed-only`` re-runs exactly the queries a source edit can
    affect: those defined in a changed module plus never-seen ones, and
    everything when the artifact has no stamp or a changed file defines no
    query (a shared helper's effect radius is unknown)."""
    import distributed_system_mapreduce_spark  # noqa: F401  (loads modules)

    pkg = "distributed_system_mapreduce_spark"
    graph, rel, helper = (
        f"{pkg}/operators/graph.py", f"{pkg}/operators/relational.py",
        f"{pkg}/exactmath.py",
    )
    queries = {
        "g1": _fake_query(f"{pkg}.operators.graph"),
        "g2": _fake_query(f"{pkg}.operators.graph"),
        "r1": _fake_query(f"{pkg}.operators.relational"),
        "r2": _fake_query(f"{pkg}.operators.relational"),
    }
    stamp = {graph: "g", rel: "r", helper: "h"}

    def select(seen: list[str], current: dict) -> list[str] | None:
        monkeypatch.setattr(parity_bigsf, "_file_hashes", lambda: current)
        artifact = {"provenance": {"source_files": stamp},
                    "results": {q: {} for q in seen}}
        return parity_bigsf._changed_queries(artifact, queries)

    assert parity_bigsf._changed_queries({"results": {}}, queries) is None
    assert select(["g1", "g2", "r1"], dict(stamp)) == ["r2"]
    assert select(list(queries), {**stamp, graph: "g'"}) == ["g1", "g2"]
    assert select(list(queries), {**stamp, helper: "h'"}) is None


def test_runner_refuses_to_clobber_or_mix_artifacts(tmp_path):
    """``--only`` without ``--merge`` must not replace a committed artifact
    with a subset, and a merge must not fold rows of one scale factor into
    an artifact recorded at another."""
    out = tmp_path / "artifact.json"
    body = json.dumps({"summary": {"sf_dir": "/data/sf0.01"}, "results": {}})
    out.write_text(body)
    for argv in (
        ["--only", "word_count", "--out", str(out)],
        ["--changed-only", "--sf-dir", "/data/sf0.1", "--out", str(out)],
    ):
        with pytest.raises(SystemExit, match="refusing"):
            parity_bigsf.main(argv)
        assert out.read_text() == body


def test_oracle_frame_returns_the_frame_or_the_oracle_error(tmp_path):
    """No Spark: one budgeted DuckDB run in a worker process returns the
    result frame for a good SQL and ``"oracle: ..."`` for a failing one."""
    from conftest import SF_SMOKE

    odf, err = parity_bigsf._oracle_frame(
        "select 1 as x", SF_SMOKE, str(tmp_path / "ok.parquet"), 120.0,
    )
    assert err is None and odf["x"].tolist() == [1]
    assert not (tmp_path / "ok.parquet").exists()
    odf, err = parity_bigsf._oracle_frame(
        "select * from no_such_table", SF_SMOKE, str(tmp_path / "bad.parquet"), 120.0,
    )
    assert odf is None and err.startswith("oracle: "), err
