"""bench.py's stdout contract, run as a subprocess on a two-query
``--subset`` at sf0.001."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

from conftest import SF_SMOKE

REPO = pathlib.Path(__file__).resolve().parents[1]


def test_bench_subset_records_layers_and_prints_summary_last():
    """Two stdout lines, the compact summary last (under the 2000 chars a
    stdout tail capture keeps) carrying the cold/build/plan totals; each query's
    ``build_s + exec_s`` is its sample (one pass, so the min is that sample);
    a subset run leaves BENCH_DETAIL.json as it was."""
    names = ["count_by_key", "word_count"]
    detail_path = REPO / "BENCH_DETAIL.json"
    before = detail_path.read_bytes()
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_SMOKE, SPARK_GRAFT_BENCH_RUNS="1")
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    proc = subprocess.run(
        [sys.executable, "bench.py", "--subset", ",".join(names)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 2, proc.stdout
    assert len(lines[-1]) < 2000
    detail, summary = (json.loads(line) for line in lines)

    assert summary["subset"] is True and summary["queries_n"] == 2
    assert sorted(detail["layers"]) == names
    for q in names:
        layer = detail["layers"][q]
        assert set(layer) == {"build_s", "plan_s", "exec_s"}
        assert min(layer.values()) >= 0
        # three values each rounded to 3 places
        assert abs(layer["build_s"] + layer["exec_s"] - detail["queries"][q]) <= 0.0015
        assert detail["first_sample"][q] == detail["queries"][q]
    for key, values in (
        ("cold_total", detail["first_sample"].values()),
        ("build_total", (detail["layers"][q]["build_s"] for q in names)),
        ("plan_total", (detail["layers"][q]["plan_s"] for q in names)),
    ):
        assert abs(summary[key] - sum(values)) <= 0.002, key
    assert detail_path.read_bytes() == before
