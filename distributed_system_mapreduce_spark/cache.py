"""Session-lifetime state: tracked frames, session memos, checkpoints and
iterative loops.

Some intermediates outlive the query builder that creates them, so no
builder is positioned to release them. This module owns all of them, in
three kinds:

- tracked frames (``track``): persisted DataFrames shared across queries
  through Spark's CacheManager, which matches them by logical plan (the
  jaccard pair table, the minhash shingle table, the co-purchase support
  table, ...);
- session memos (``session_memo``): deterministic values computed from one
  corpus directory and kept per (application, name, corpus) — source
  frames, iterative fixpoints (component labels, k-core and LPA cores),
  trained models (PQ codebooks, k-means centroids, logistic-regression
  weights) and driver sizing scalars;
- checkpoint slots (``checkpoint_generation``): the one live
  ``localCheckpoint`` per call site.

It also owns what every iterative driver loop shares: the checkpointed
fixpoint loop (``fixpoint``), its shuffle width (``loop_parts``) and its
local tail (``local_rows`` under ``LOCAL_TAIL_MAX``), and the width of
compute-bound stages (``task_slots``, ``spread``). This is the only
module that calls ``localCheckpoint``, reads a partition count from the
session or collects a graph loop's frame to finish it locally, and
``local_frame`` is the one way rows computed on the driver become a frame.

``clear_tracked_caches`` releases all three. Long-lived sessions (bench
loops, notebooks) call it between logical phases; short-lived jobs never
need to. Each distinct plan is cached at most once per session
(MEMORY_AND_DISK, so pressure spills instead of failing).

A memo value is valid only while the corpus files under its ``sf_dir`` are
unchanged. Every ``session_memo`` call fingerprints those files and, when
they changed since the last call for that (application, sf_dir), releases
all three kinds of state before rebuilding: the CacheManager matches file
scans by path, not by contents, so a tracked frame over the old files
would otherwise still be served.
"""

from __future__ import annotations

import os
import stat
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []
_TRACKED_HASHES: dict[int, list[DataFrame]] = {}
#: session memo entries by (applicationId, name, sf_dir)
_MEMO: dict[tuple, object] = {}
#: last corpus fingerprint seen by session_memo, by (applicationId, sf_dir)
_SEEN_FINGERPRINTS: dict[tuple, tuple] = {}
#: live checkpoint per checkpoint_generation slot
_CKPT_GEN: dict[str, DataFrame] = {}

#: largest edge list a graph loop finishes in driver memory (100k
#: (src, dst) longs is ~1.6 MB collected). Each distributed round costs
#: several stage jobs of fixed latency whatever its size, so below this
#: bound the local finish wins; above it every round stays distributed.
#: Read on each call: a test sets it to 0 to force the distributed path.
LOCAL_TAIL_MAX = 100_000


def track(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
) -> DataFrame:
    """Persist ``df`` and record it for release by ``clear_tracked_caches``;
    returns ``df``.

    Frames with the same analyzed plan (``sameSemantics``) are recorded
    once, so ``tracked_count`` counts CacheManager entries, not call
    sites. The registry is indexed by ``semanticHash`` (equal hashes are
    necessary for ``sameSemantics``), so a call costs one hash round-trip
    plus an exact compare against same-hash frames only. A frame whose
    hash cannot be computed is recorded outside the index; a later
    identical frame is then recorded again, which overcounts
    ``tracked_count`` but releases nothing twice.
    """
    df.persist(level)
    try:
        h = df.semanticHash()
        if any(df.sameSemantics(t) for t in _TRACKED_HASHES.get(h, ())):
            return df
    except Exception:
        h = None  # cross-session comparison can fail; record anyway
    _TRACKED.append(df)
    if h is not None:
        _TRACKED_HASHES.setdefault(h, []).append(df)
    return df


def tracked_count() -> int:
    return len(_TRACKED)


def _path_fingerprint(path: str) -> tuple:
    """(mtime_ns, size) of ``path`` plus, for a directory, the newest
    (mtime_ns, name, size) among its direct entries: an in-place rewrite
    of a part file changes that file's mtime but not the directory's. One
    shallow scandir; Spark table directories are flat. A path that cannot
    be stat'ed (missing, or non-local such as s3://) fingerprints as a
    constant, so its memos live for the session."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        newest = None
        with os.scandir(path) as it:
            for e in it:
                try:
                    es = e.stat()
                except OSError:
                    continue
                key = (es.st_mtime_ns, e.name, es.st_size)
                if newest is None or key > newest:
                    newest = key
        return (st.st_mtime_ns, st.st_size, newest)
    except OSError:
        return ("unstattable",)


def _corpus_fingerprint(sf_dir: str) -> tuple:
    from .sources.io import TABLES, table_path  # io imports this module

    return tuple(_path_fingerprint(table_path(sf_dir, t)) for t in TABLES)


def session_memo(spark, name: str, sf_dir: str, build: "Callable[[], object]"):
    """``build()``, computed once per (application, ``name``, ``sf_dir``)
    and then returned as the same object until ``clear_tracked_caches``.

    Contract:
    - the value is a deterministic function of the tables under
      ``sf_dir``; ``name`` identifies everything else it depends on (its
      parameters and, for a value derived from a frame, that frame's
      ``semanticHash``);
    - if the table files under ``sf_dir`` changed since the last call for
      this (application, sf_dir), every tracked frame, memo entry and
      checkpoint slot is released before the lookup;
    - a ``build`` that raises stores nothing;
    - a DataFrame value backed by a ``localCheckpoint`` has its blocks
      unpersisted on release; other values are dropped.
    """
    app = spark.sparkContext.applicationId
    fp = _corpus_fingerprint(sf_dir)
    if _SEEN_FINGERPRINTS.setdefault((app, sf_dir), fp) != fp:
        clear_tracked_caches()
        _SEEN_FINGERPRINTS[(app, sf_dir)] = fp
    key = (app, name, sf_dir)
    if key not in _MEMO:
        _MEMO[key] = build()
    return _MEMO[key]


def clear_tracked_caches() -> int:
    """Release every tracked frame, memo entry and checkpoint slot; returns
    how many were released (one per tracked frame, memo entry and slot).

    Tracked frames are unpersisted with blocking=False: executors free the
    blocks asynchronously and the frames stay usable (they recompute).
    Checkpoint-backed memo values and slots have their blocks unpersisted
    explicitly rather than left to ContextCleaner GC, so after this call
    the JVM's persistent-RDD registry holds nothing this module created.
    """
    n = len(_TRACKED) + len(_MEMO) + len(_CKPT_GEN)
    for df in _TRACKED:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped; nothing to release
    for value in (*_MEMO.values(), *_CKPT_GEN.values()):
        if isinstance(value, DataFrame):
            release_checkpoint(value)
    _TRACKED.clear()
    _TRACKED_HASHES.clear()
    _MEMO.clear()
    _CKPT_GEN.clear()
    return n


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the blocks of a ``localCheckpoint``'ed DataFrame (whose
    analyzed plan is a ``LogicalRDD`` over the persisted internal RDD)
    now, instead of waiting on ContextCleaner GC. No-op for any other
    frame, and once the session has stopped."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def checkpoint_generation(slot: str, df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)`` with one live generation per
    ``slot``.

    For iterative or diamond plans that read an intermediate more than
    once per run. Contract:
    - the call releases ``slot``'s previous checkpoint, so a slot pins at
      most one generation;
    - the new checkpoint lives until the next call for ``slot`` or
      ``clear_tracked_caches``;
    - it is lazy: blocks materialize inside the query's own first action,
      never in a separate build-time job;
    - nothing is reused across calls: checkpoint RDDs are run-specific and
      the CacheManager never plan-matches them.
    """
    prev = _CKPT_GEN.pop(slot, None)
    if prev is not None:
        release_checkpoint(prev)
    out = df.localCheckpoint(eager=False)
    _CKPT_GEN[slot] = out
    return out


def loop_parts(spark, n_rows: int) -> int:
    """Shuffle width for an iterative plan over ``n_rows`` rows: one
    partition per 200k rows, at least 1, at most the session's
    ``spark.sql.shuffle.partitions``.

    Loops apply it with explicit ``repartition`` calls, never by setting
    the session conf, which would leak into queries planned concurrently.
    Checkpointed stages compile through ``.rdd``, where AQE cannot coalesce
    them, so without it every round of a small graph would schedule a
    default-width stage of near-empty tasks.
    """
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(default_parts, n_rows // 200_000 + 1))


def task_slots(spark) -> int:
    """The session's ``defaultParallelism``: one partition per task slot,
    the width at which a compute-bound stage keeps every core busy."""
    return spark.sparkContext.defaultParallelism


def spread(df: DataFrame) -> DataFrame:
    """Repartition the STREAMED side of a compute-bound join to
    :func:`task_slots` partitions (round-robin).

    Small parquet inputs arrive as one partition (one row group), which
    serializes BroadcastNestedLoopJoin onto a single core. At 100 TB inputs
    are already wide and this round-robin exchange is cheap relative to the
    O(n·m) dot-product work it parallelizes.
    """
    return df.repartition(task_slots(df.sparkSession))


def local_rows(df: DataFrame, n_rows: int) -> "list[tuple] | None":
    """``df``'s rows as tuples when ``n_rows``, its exact row count, is at
    most :data:`LOCAL_TAIL_MAX`; None (and no job) otherwise.

    The one local-tail rule of the graph loops: a driver-small graph
    finishes in Python instead of paying a distributed round's fixed stage
    latency. The bound is read on each call.
    """
    if n_rows > LOCAL_TAIL_MAX:
        return None
    return [tuple(r) for r in df.collect()]


def local_frame(spark, rows, schema: "str | DataType") -> DataFrame:
    """A frame of the driver-side ``rows`` (tuples in column order) with
    ``schema``, a DDL string or a ``StructType``; empty ``rows`` give an
    empty frame of that schema.

    The rows go through a pyarrow Table, which Spark plans as a
    ``LocalRelation``: actions over it read the rows in the JVM. A frame
    built from a Python list is instead an RDD whose every action pickles
    the rows through Python workers again.
    """
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    arrays = [pa.array(c, f.type) for c, f in zip(cols, arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)


def fixpoint(
    initial: DataFrame,
    step: "Callable[[DataFrame], DataFrame]",
    measure: "Callable[[DataFrame], object]",
    max_rounds: int,
    name: str,
    finish: "Callable[[list, int, int], object] | None" = None,
) -> object:
    """Iterate ``step`` from ``initial`` until ``measure`` repeats; returns
    (frame, measure, rounds), or what ``finish`` returns.

    Contract:
    - each generation is ``localCheckpoint(eager=False)``'ed, so plans stay
      flat however many rounds run;
    - ``measure`` runs one action on each generation, the one that
      materializes it; the predecessor is released right after, so the
      loop pins one generation at a time;
    - a round converges when its measure equals the previous one; the
      confirming round counts in ``rounds``;
    - ``finish``, if given, makes ``measure`` the generation's row count:
      whenever that count passes :func:`local_rows` (at the start or after
      any unconverged round), the live generation is collected and
      released and the loop returns ``finish(rows, measure, rounds)``, so
      the caller carries on in driver memory with the same round counter;
    - a returned frame is a live checkpoint the caller releases with
      ``release_checkpoint``;
    - if ``max_rounds`` rounds pass without convergence or a local finish,
      the live generation is released and a ``RuntimeError`` naming
      ``name`` is raised.
    """
    frame = initial.localCheckpoint(eager=False)
    m = measure(frame)
    rounds = 0
    while True:
        rows = None if finish is None else local_rows(frame, m)
        if rows is not None:
            release_checkpoint(frame)
            return finish(rows, m, rounds)
        if rounds == max_rounds:
            release_checkpoint(frame)
            raise RuntimeError(f"{name} did not converge in {max_rounds} rounds")
        rounds += 1
        nxt = step(frame).localCheckpoint(eager=False)
        m_next = measure(nxt)
        release_checkpoint(frame)
        frame = nxt
        if m_next == m:
            return frame, m, rounds
        m = m_next
