#!/usr/bin/env python
"""Registry-wide oracle parity runner: every registered query vs its DuckDB
oracle at one scale factor, written as a provenance-stamped artifact.

Both committed parity artifacts come from this module:

- ``PARITY_SF01.json``: ``python tools/parity_bigsf.py`` (sf0.1, 10x the
  driver's check scale). Several operators have scale-dependent branches
  that both engines mirror (hot-shingle stop-lists past a
  document-frequency cap, salted-top-k bucket survivors, AQE join-strategy
  flips) which the sf0.01 fixture never reaches.
- ``CORRECTNESS_LOCAL.json``: ``python correctness_full.py`` (sf0.01, the
  driver's own scale), an entry point that calls :func:`main` with the
  sf0.01 defaults and takes the same options.

The compare is ``testing.compare_frames`` (column names, row count, then
order-insensitive canonical values); a query without an oracle records
``err="no_oracle"`` after its Spark side ran. The DuckDB side runs in a
subprocess under a wall budget (``--budget``, or ``SLOW_ORACLE_BUDGETS``
for oracles known to be super-linear) so a runaway recursive CTE is killed
and recorded as ``err="oracle_timeout"`` instead of hanging the sweep.

The artifact schema is ``provenance`` (git HEAD, a dirty flag for the
package sources, and a per-file sha256 map of every package source and the
driver entry), ``summary`` (counts plus ``sf_dir``) and ``results`` (per
query: ``spark_rows``, ``spark_s``, ``err``). tests/test_artifacts_fresh.py
fails when any stamped file hash differs from the current sources.

``--changed-only`` re-runs only the queries defined in modules changed
since the artifact's stamp (a changed file that defines no query, a shared
helper like exactmath.py, forces a full re-run since its effect radius is
unknown) and implies ``--merge``, which folds the re-run rows into the
existing artifact and re-stamps it. The process exits 1 when any query
failed.

Usage: python tools/parity_bigsf.py [--sf-dir /root/testdata/sf0.1]
           [--budget 120] [--out PARITY_SF01.json]
           [--only a,b,c] [--changed-only] [--merge]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing as mp
import os
import queue as queue_mod
import shutil
import subprocess
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

#: DuckDB-side wall budgets for oracles known to be super-linear at sf0.1.
SLOW_ORACLE_BUDGETS: dict[str, float] = {
    "graph_adamic_adar": 1800.0,  # exact wedge enumeration, ~10 min in DuckDB
    "graph_common_neighbors": 900.0,  # exact triangle-per-edge enumeration
}

#: Sources the artifacts stamp: the driver entry and the package.
ENTRY, PACKAGE = "__spark_entry__.py", "distributed_system_mapreduce_spark"


def _file_hashes() -> dict[str, str]:
    """Per-file sha256 of every package source and the driver entry, so the
    freshness test can name which file changed."""
    paths = [os.path.join(REPO_ROOT, ENTRY)]
    for dirpath, _dirs, files in sorted(os.walk(os.path.join(REPO_ROOT, PACKAGE))):
        paths.extend(
            os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")
        )
    out: dict[str, str] = {}
    for p in paths:
        with open(p, "rb") as fh:
            out[os.path.relpath(p, REPO_ROOT)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _git(*args: str) -> str | None:
    try:
        return subprocess.run(
            ["git", *args], cwd=REPO_ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:
        return None


def _provenance() -> dict:
    """What tree the artifact was generated from. ``source_dirty`` says
    whether ``git_head`` fully describes the hashed sources: a sweep run
    before its source commit lands records the previous head."""
    status = _git("status", "--porcelain", "--", ENTRY, PACKAGE)
    return {
        "git_head": _git("rev-parse", "HEAD"),
        "source_dirty": None if status is None else bool(status),
        "source_files": _file_hashes(),
    }


def _module_file(fn) -> str | None:
    """Repo-relative source file that defines a registered query callable."""
    path = getattr(sys.modules.get(fn.__module__), "__file__", None)
    return os.path.relpath(os.path.abspath(path), REPO_ROOT) if path else None


def _changed_queries(artifact: dict, queries: dict) -> list[str] | None:
    """Query names whose defining module changed since the artifact's stamp,
    plus queries the artifact has never seen. None requests a full re-run:
    the artifact has no per-file stamp, or a changed file defines no query."""
    stamped = (artifact.get("provenance") or {}).get("source_files") or {}
    if not stamped:
        return None
    current = _file_hashes()
    file_to_queries: dict[str, list[str]] = {}
    for name, fn in queries.items():
        file_to_queries.setdefault(_module_file(fn), []).append(name)
    known = set(artifact.get("results") or {})
    names = {n for n in queries if n not in known}
    for f in sorted(set(stamped) | set(current)):
        if stamped.get(f) == current.get(f):
            continue
        if f not in file_to_queries:
            print(json.dumps({"changed_shared_file": f, "action": "full_rerun"}))
            return None
        names.update(file_to_queries[f])
    return sorted(names)


def _summarize(results: dict[str, dict]) -> dict:
    n_ok = n_skip = n_fail = n_rows_only = 0
    for rec in results.values():
        err = rec.get("err")
        if err is None:
            n_ok += 1
        elif err == "no_oracle":
            n_rows_only += 1
        elif err == "oracle_timeout":
            n_skip += 1
        else:
            n_fail += 1
    return {
        "checked": len(results),
        "hash_ok": n_ok,
        "rows_only": n_rows_only,
        "oracle_timeout_skipped": n_skip,
        "failed": n_fail,
    }


def _oracle_worker(sql: str, sf_dir: str, out_path: str, q):
    """DuckDB side in a subprocess so a runaway recursive CTE can be
    killed without taking the sweep down.

    The result parquet is written to ``out_path`` and only the path goes on
    the queue: putting the frame itself would deadlock once the payload
    exceeds the OS pipe buffer (~64 KB), because the mp.Queue feeder thread
    blocks and the child never exits while the parent joins it.
    """
    try:
        from distributed_system_mapreduce_spark.testing import duck_connection

        duck_connection(sf_dir).execute(sql).df().to_parquet(out_path)
        q.put(("ok", out_path))
    except Exception as ex:  # noqa: BLE001
        q.put(("err", f"{type(ex).__name__}: {str(ex)[:200]}"))


def _oracle_frame(sql: str, sf_dir: str, out_path: str, budget: float):
    """Run one oracle under ``budget`` seconds: ``(frame, None)`` on success,
    else ``(None, err)`` with ``err`` ``"oracle_timeout"`` or ``"oracle: ..."``."""
    import pandas as pd

    # Never fork this process: it holds live Py4J gateway sockets, which a
    # forked child would share. A forkserver is a fresh interpreter; it
    # imports the DuckDB side once and forks each worker from itself.
    ctx = mp.get_context("forkserver")
    ctx.set_forkserver_preload(["distributed_system_mapreduce_spark.testing"])
    q = ctx.Queue()
    proc = ctx.Process(target=_oracle_worker, args=(sql, sf_dir, out_path, q))
    proc.start()
    # Poll the queue while the worker runs, never join-then-get: a worker
    # killed before it reports (OOM on a runaway CTE) would hang the get.
    deadline = time.monotonic() + budget
    outcome = None
    while outcome is None:
        try:
            outcome = q.get(timeout=1.0)
        except queue_mod.Empty:
            if not proc.is_alive():
                # the feeder thread's flush can lag the worker's exit, so
                # give the pipe one more window before declaring a crash
                try:
                    outcome = q.get(timeout=1.0)
                except queue_mod.Empty:
                    outcome = ("err", f"oracle worker died, exitcode={proc.exitcode}")
            elif time.monotonic() > deadline:
                proc.terminate()
                proc.join()
                return None, "oracle_timeout"
    proc.join(10)
    if proc.is_alive():
        proc.terminate()
        proc.join()
    status, payload = outcome
    if status == "err":
        return None, f"oracle: {payload}"
    odf = pd.read_parquet(payload)
    os.unlink(payload)
    return odf, None


def _run(names: list[str], sf_dir: str, budget: float) -> dict[str, dict]:
    """Run each query on a ``get_spark`` session and compare it with its oracle."""
    from distributed_system_mapreduce_spark.cache import clear_tracked_caches
    from distributed_system_mapreduce_spark.registry import ORACLES, QUERIES
    from distributed_system_mapreduce_spark.session import get_spark
    from distributed_system_mapreduce_spark.testing import compare_frames

    spark = get_spark("dsmr-parity")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    tmp_dir = tempfile.mkdtemp(prefix="dsmr_parity_")
    try:
        for name in names:
            t0 = time.perf_counter()
            rec: dict = {"spark_rows": None, "spark_s": None, "err": None}
            try:
                sdf = QUERIES[name](spark, sf_dir).toPandas()
                rec["spark_rows"] = len(sdf)
            except Exception as ex:  # noqa: BLE001
                rec["err"] = f"spark: {type(ex).__name__}: {str(ex)[:200]}"
            rec["spark_s"] = round(time.perf_counter() - t0, 2)
            if rec["err"] is None and name not in ORACLES:
                rec["err"] = "no_oracle"
            elif rec["err"] is None:
                odf, rec["err"] = _oracle_frame(
                    ORACLES[name], sf_dir, os.path.join(tmp_dir, f"{name}.parquet"),
                    SLOW_ORACLE_BUDGETS.get(name, budget),
                )
                if odf is not None:
                    problems = compare_frames(sdf, odf, name)
                    rec["err"] = "; ".join(problems)[:300] if problems else None
            results[name] = rec
            if rec["err"] not in (None, "no_oracle"):
                print(json.dumps({name: rec}), flush=True)
            # tracked caches from one query family must not pin memory for
            # the whole sweep
            if len(results) % 40 == 0:
                clear_tracked_caches()
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
        spark.stop()
    return results


def main(
    argv: list[str] | None = None,
    sf_dir: str = "/root/testdata/sf0.1",
    out: str = "PARITY_SF01.json",
) -> None:
    """Parse options (``sf_dir``/``out`` are their defaults), run the sweep,
    write the artifact and exit 1 when any query failed."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=sf_dir)
    ap.add_argument("--budget", type=float, default=120.0)
    ap.add_argument("--out", default=os.path.join(REPO_ROOT, out))
    ap.add_argument("--only", default="")
    ap.add_argument(
        "--changed-only", action="store_true",
        help="re-run only queries whose defining module changed since the "
             "--out artifact's provenance stamp; implies --merge",
    )
    ap.add_argument(
        "--merge", action="store_true",
        help="fold this run's rows into the existing --out artifact and "
             "re-stamp provenance, instead of replacing it wholesale",
    )
    args = ap.parse_args(argv)
    merge = args.merge or args.changed_only
    if args.only and not merge and os.path.exists(args.out):
        sys.exit(
            f"refusing: --only without --merge would overwrite {args.out} "
            "wholesale — add --merge to fold rows in, or point --out at a "
            "scratch path for a subset check"
        )
    prior: dict = {}
    if merge and os.path.exists(args.out):
        with open(args.out) as fh:
            prior = json.load(fh)
        prior_sf = (prior.get("summary") or {}).get("sf_dir")
        if prior_sf != args.sf_dir:
            sys.exit(
                f"refusing: {args.out} records sf_dir {prior_sf!r}, not "
                f"{args.sf_dir!r}; rows of two scale factors cannot merge"
            )

    from distributed_system_mapreduce_spark.registry import QUERIES

    if args.only:
        names = [n for n in args.only.split(",") if n]
    elif args.changed_only:
        names = _changed_queries(prior, QUERIES)
        names = sorted(QUERIES) if names is None else names
    else:
        names = sorted(QUERIES)
    results = _run(names, args.sf_dir, args.budget) if names else {}
    if merge:
        # rows for queries no longer registered (renames/retirements) drop out
        results = {
            k: v for k, v in {**(prior.get("results") or {}), **results}.items()
            if k in QUERIES
        }
    summary = dict(_summarize(results), sf_dir=args.sf_dir)
    with open(args.out, "w") as fh:
        json.dump(
            {"provenance": _provenance(), "summary": summary, "results": results},
            fh, indent=1,
        )
    print(json.dumps(summary), flush=True)
    sys.exit(1 if summary["failed"] else 0)


if __name__ == "__main__":
    main()
