"""Cross-SF and determinism invariants (SURVEY.md §5.2.5-6)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.registry import QUERIES
from distributed_system_mapreduce_spark.sources.io import TABLES, load
from distributed_system_mapreduce_spark.testing import canonical_rows

from conftest import SF_DIR, SF_SMOKE

SF_BIG = "/root/testdata/sf0.1"

#: SURVEY.md §2 contract keys, in §2 order — these MUST occupy the driver's
#: 50-query correctness window (it checks list(QUERIES)[:50] in order).
SURVEY_S2_KEYS = [
    "scan_lineitem", "scan_project_prune",
    "map_project", "filter_grep", "filter_predicate",
    "word_count", "inverted_index", "flatmap_explode", "distinct_users",
    "count_by_key", "reduce_numeric", "partition_by_key",
    "agg_pricing_summary", "agg_distinct_count", "agg_approx_distinct",
    "agg_grouping_sets", "agg_histogram",
    "join_reduce_side", "join_map_side", "join_multiway", "join_left_outer",
    "join_semi", "join_anti", "join_theta_range",
    "sort_global", "topk_orders", "topk_per_group",
    "set_union_all", "set_intersect", "set_except",
    "window_rank", "window_lag_lead", "window_running_sum",
    "dedup_exact", "dedup_near_minhash", "sim_topk_query", "sim_topk_pairs",
    "knn_label_vote", "text_tokens_stats", "text_tfidf_top", "text_ngrams",
    "json_extract_props", "multimodal_vector_norm",
    "window_tumbling", "window_sliding", "window_session",
]


def test_survey_s2_keys_in_driver_check_window():
    """All 46 SURVEY §2 keys must be among the first 50 registered queries."""
    import __spark_entry__ as e

    first50 = list(e.queries())[:50]
    assert len(SURVEY_S2_KEYS) == 46
    missing = [k for k in SURVEY_S2_KEYS if k not in first50]
    assert not missing, f"SURVEY §2 keys outside driver check window: {missing}"
    # contract keys lead, in §2 order
    assert first50[:46] == SURVEY_S2_KEYS


def test_row_counts_monotone_across_sf(spark):
    for t in TABLES:
        n_small = load(spark, SF_SMOKE, t).count()
        n_mid = load(spark, SF_DIR, t).count()
        n_big = load(spark, SF_BIG, t).count()
        assert n_small <= n_mid <= n_big, (t, n_small, n_mid, n_big)


def test_embedding_norms_unit(spark):
    from distributed_system_mapreduce_spark.functions.vectors import l2_norm

    stats = (
        load(spark, SF_DIR, "embeddings")
        .select(l2_norm(F.col("embedding")).alias("n"))
        .agg(F.min("n"), F.max("n"))
        .collect()[0]
    )
    assert abs(stats[0] - 1.0) < 1e-3 and abs(stats[1] - 1.0) < 1e-3


def test_word_count_total_equals_token_sum(spark):
    total_words = (
        QUERIES["word_count"](spark, SF_DIR).agg(F.sum("cnt")).collect()[0][0]
    )
    token_sum = (
        load(spark, SF_DIR, "documents")
        .select(F.size(F.split("text", " ")).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert total_words == token_sum


@pytest.mark.parametrize(
    "name",
    ["topk_per_group", "window_lag_lead", "sim_topk_query", "dedup_ngram_jaccard",
     "window_session", "text_tfidf_top",
     # round-3 order/limit-sensitive queries
     "sample_stratified", "text_unigram_logprob", "sim_quantized_topk",
     "corpus_decontaminate", "events_rate_anomaly", "embed_outliers",
     "hybrid_rrf_topk", "text_chunk_stats"],
)
def test_determinism_double_run(name, spark):
    """Order-sensitive queries must hash identically across runs."""
    a = canonical_rows(QUERIES[name](spark, SF_DIR).toPandas())
    b = canonical_rows(QUERIES[name](spark, SF_DIR).toPandas())
    assert a == b


def _canonical_rows_per_cell(df):
    """Reference form of ``canonical_rows``: one ``df.iloc[i][c]`` per cell."""
    from distributed_system_mapreduce_spark.testing import _canon_cell

    cols = sorted(df.columns)
    return sorted(
        tuple(_canon_cell(df.iloc[i][c]) for c in cols) for i in range(len(df))
    )


def test_canonical_rows_matches_the_per_cell_reference():
    """No Spark: the interleaved ``canonical_rows`` gives the rows the
    per-cell reference gives, on a mixed frame (int, float, NaN, None, str,
    list, timestamp and NaT cells), on an all-numeric frame (whose ints
    upcast to float in both forms) and on a timestamp-only frame."""
    import numpy as np
    import pandas as pd

    ts = pd.Timestamp("2024-01-02 03:04:05")
    mixed = pd.DataFrame({
        "i": [3, 1, 2],
        "f": [1.5, np.nan, 0.25],
        "o": pd.Series([None, "x", [1, 2]], dtype=object),
        "s": ["c", "a", "b"],
        "t": [ts, pd.NaT, ts],
    })
    numeric = pd.DataFrame({"i": [1, 2], "f": [0.5, np.nan]})
    stamps = pd.DataFrame({"t": [ts, pd.NaT]})
    for df in (mixed, numeric, stamps):
        assert canonical_rows(df) == _canonical_rows_per_cell(df)
    # columns in name order (f, i); the int column reads as floats
    assert canonical_rows(numeric) == [("0.5", "1.0"), ("<nan>", "2.0")]
    assert canonical_rows(stamps) == [("2024-01-02T03:04:05",), ("<null>",)]


def test_survivors_count_equals_total_clusters(spark):
    """One survivor per near-dup cluster (incl. singleton clusters), so
    |dedup_survivors| == Σ n_clusters of the dedup_cluster histogram —
    ties the two operators to one consistent component model."""
    n_survivors = QUERIES["dedup_survivors"](spark, SF_DIR).count()
    hist = QUERIES["dedup_cluster"](spark, SF_DIR).agg(
        F.sum("n_clusters").alias("s")
    ).collect()[0]["s"]
    assert n_survivors == hist


def test_corpus_cc_labels_memoized(spark):
    """Second call for the same (session, corpus) returns the SAME frame —
    the iterative CC output is a session-scoped materialized view."""
    from distributed_system_mapreduce_spark.operators.dedup import (
        corpus_cc_labels,
    )

    a = corpus_cc_labels(spark, SF_DIR)
    b = corpus_cc_labels(spark, SF_DIR)
    assert a is b
    c = corpus_cc_labels(spark, SF_SMOKE)
    assert c is not a


def test_tracked_caches_release(spark):
    """Every cross-query persist goes through the cache registry, so one
    clear_tracked_caches() releases the session's whole cached working set
    and empties the session memo store."""
    from distributed_system_mapreduce_spark import cache
    from distributed_system_mapreduce_spark.operators.dedup import (
        jaccard_pairs,
    )

    docs = load(spark, SF_SMOKE, "documents")
    cache.clear_tracked_caches()
    jaccard_pairs(docs).count()
    n1 = cache.tracked_count()
    assert n1 >= 2  # shingle table + pair table at minimum
    # semantically-identical re-tracks dedupe: a second build of the same
    # plan must not inflate the registry (CacheManager holds one entry)
    jaccard_pairs(docs).count()
    assert cache.tracked_count() == n1
    released = cache.clear_tracked_caches()
    assert released == n1
    assert cache.tracked_count() == 0
    assert not cache._MEMO


def test_pipeline_family_shares_cc_label_memo(spark):
    """pipeline_train_corpus chains the SAME funnel builders as
    pipeline_dedup_corpus, so running it second must HIT the CC label memo
    (same entry set, same frame objects) — no second connected-components
    loop. Pins the cross-query work sharing PLANS.md claims (VERDICT r3
    "Next round" #6)."""
    from distributed_system_mapreduce_spark import cache

    def cc_label_entries() -> dict:
        return {k: v for k, v in cache._MEMO.items() if "cc_labels" in k[1]}

    cache.clear_tracked_caches()
    QUERIES["pipeline_dedup_corpus"](spark, SF_SMOKE).collect()
    after_first = cc_label_entries()
    assert after_first, "funnel CC labels should be memoized"
    QUERIES["pipeline_train_corpus"](spark, SF_SMOKE).collect()
    assert set(cc_label_entries()) == set(after_first)
    for k, frame in after_first.items():
        assert cache._MEMO[k] is frame  # identity: memo hit, not rebuild


def test_memo_clear_releases_checkpoint_rdds(spark, monkeypatch):
    """Dropping the label memo must unpersist its checkpoint RDD blocks in
    the JVM, not just the Python references — and the release count must
    include every memo entry (labels and source frames alike) so bench
    accounting reconciles. ``cache.LOCAL_TAIL_MAX`` is 0 so the labels
    come from the distributed loop, whose checkpoint the memo pins."""
    from distributed_system_mapreduce_spark import cache
    from distributed_system_mapreduce_spark.operators.dedup import (
        corpus_cc_labels,
    )

    monkeypatch.setattr(cache, "LOCAL_TAIL_MAX", 0)
    cache.clear_tracked_caches()
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    corpus_cc_labels(spark, SF_SMOKE).count()
    assert any("cc_labels" in k[1] for k in cache._MEMO)
    n_memo = len(cache._MEMO)
    assert jsc.getPersistentRDDs().size() > base  # checkpoint blocks pinned
    tracked_before = cache.tracked_count()
    released = cache.clear_tracked_caches()
    assert released == tracked_before + n_memo
    assert not cache._MEMO
    # every RDD this build pinned (tracked frames + memo checkpoints) is
    # out of the JVM registry again — nothing left for ContextCleaner
    assert jsc.getPersistentRDDs().size() <= base


def test_session_memo_store_is_single():
    """Source scan, no Spark: the only module-level memo dict in the
    package is cache.py's session memo store, so a second hand-rolled
    store (with its own clearer and no input-change check) cannot come
    back unnoticed."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / (
        "distributed_system_mapreduce_spark"
    )
    dict_calls = {"dict", "defaultdict", "OrderedDict"}
    found = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            func = getattr(value, "func", None)
            is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
                getattr(func, "id", getattr(func, "attr", None)) in dict_calls
            )
            found += [
                (path.relative_to(root).as_posix(), t.id)
                for t in targets
                if is_dict
                and isinstance(t, ast.Name)
                and "MEMO" in t.id.upper()
            ]
    assert found == [("cache.py", "_MEMO")]


def test_checkpoints_and_loop_sizing_live_in_cache():
    """Source scan, no Spark: cache.py is the only module that calls
    ``localCheckpoint``, ``cache.loop_parts`` is the only reader of
    ``spark.sql.shuffle.partitions`` (session.py only sets it in the
    builder config), ``cache.task_slots`` the only reader of
    ``defaultParallelism``, ``cache.local_frame`` the only caller of
    ``createDataFrame``, and ``LOCAL_TAIL_MAX`` is assigned and named
    only in cache.py with no ``local_tail_max`` parameter anywhere else,
    so the checkpoint lifecycle, each partition-sizing rule, the way back
    from driver rows to a frame and the graph loops' local-tail bound
    live in one place."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / (
        "distributed_system_mapreduce_spark"
    )
    key = "spark.sql.shuffle.partitions"
    checkpoint_calls, readers, slot_readers, setters = set(), [], [], set()
    frame_builders = []
    bound_assigners, bound_users, bound_params = set(), set(), []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        parent = {
            child: node
            for node in ast.walk(tree)
            for child in ast.iter_child_nodes(node)
        }

        def scope(node):
            up = parent[node]
            while not isinstance(up, (ast.FunctionDef, ast.Module)):
                up = parent[up]
            return (rel, getattr(up, "name", None))

        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "localCheckpoint"
            ):
                checkpoint_calls.add(rel)
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "createDataFrame"
            ):
                frame_builders.append(scope(node))
            if isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "LOCAL_TAIL_MAX" for t in node.targets
            ):
                bound_assigners.add(rel)
            if "LOCAL_TAIL_MAX" in (
                getattr(node, "id", None),
                getattr(node, "attr", None),
                getattr(node, "name", None),
            ):
                bound_users.add(rel)
            if isinstance(node, ast.arg) and node.arg == "local_tail_max":
                bound_params.append(scope(node))
            if isinstance(node, ast.Attribute) and node.attr == "defaultParallelism":
                slot_readers.append(scope(node))
            if not (isinstance(node, ast.Constant) and node.value == key):
                continue
            up = parent[node]
            if isinstance(up, ast.Call) and getattr(up.func, "attr", None) == (
                "config"
            ):
                setters.add(rel)
                continue
            readers.append(scope(node))
    assert checkpoint_calls == {"cache.py"}
    assert readers == [("cache.py", "loop_parts")]
    assert slot_readers == [("cache.py", "task_slots")]
    assert frame_builders == [("cache.py", "local_frame")]
    assert setters == {"session.py"}
    assert bound_assigners == {"cache.py"}
    assert bound_users == {"cache.py"}
    assert [s for s in bound_params if s[0] != "cache.py"] == []


@pytest.mark.parametrize("n_rows", [2, 0])
def test_local_frame_is_a_local_relation_with_the_declared_schema(spark, n_rows):
    """Driver rows (or none) over int/long/double/boolean/string/
    array<double> columns come back, from a DDL string or a StructType,
    with the declared schema as the JVM reports it and as an analyzed
    LocalRelation (not an RDD that every action re-pickles through Python
    workers)."""
    from pyspark.sql.types import DataType

    from distributed_system_mapreduce_spark.cache import local_frame

    ddl = "a int, b long, c double, d boolean, e string, f array<double>"
    rows = [(1, 2**40, 0.5, True, "x", [1.0, -2.5]), (None, 3, None, False, None, [])]
    rows = rows[:n_rows]
    for schema in (ddl, DataType.fromDDL(ddl)):
        df = local_frame(spark, rows, schema)
        assert df.select("*").schema == DataType.fromDDL(ddl)
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert [tuple(r) for r in df.collect()] == rows


def test_loop_parts_boundaries(spark):
    """One partition per 200k rows, at least 1, capped at the session's
    shuffle-partition default."""
    from distributed_system_mapreduce_spark.cache import loop_parts

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert cap >= 2
    assert [loop_parts(spark, n) for n in (0, 199_999, 200_000)] == [1, 1, 2]
    assert loop_parts(spark, 200_000 * cap) == cap
    assert loop_parts(spark, 10**12) == cap


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_fixpoint_raises_naming_the_loop(spark):
    """A loop that runs out of rounds fails loudly, names itself, and
    leaves no generation pinned."""
    from distributed_system_mapreduce_spark.cache import fixpoint

    before = _persistent_rdd_ids(spark)
    counter = spark.createDataFrame([(1,), (2,)], "x long")
    with pytest.raises(RuntimeError, match="runaway_counter"):
        fixpoint(
            counter,
            lambda df: df.select((F.col("x") + 1).alias("x")),
            lambda df: df.agg(F.sum("x")).collect()[0][0],
            3,
            "runaway_counter",
        )
    assert _persistent_rdd_ids(spark) <= before


def test_fixpoint_pins_one_generation_and_releases_it(spark, monkeypatch):
    """Halving to zero: the loop converges on the first repeated measure
    (the confirming round counts), keeps exactly one checkpoint live, and
    after the caller releases the returned frame no generation of the
    loop stays in the JVM's persistent-RDD registry. With ``finish``, a
    generation whose row count is within ``cache.LOCAL_TAIL_MAX`` (at the
    start or after an unconverged round) is collected, released and
    handed to ``finish`` with the round counter."""
    from distributed_system_mapreduce_spark import cache
    from distributed_system_mapreduce_spark.cache import (
        fixpoint,
        release_checkpoint,
    )

    def halve(df):
        return df.select((F.col("x") / 2).cast("long").alias("x"))

    def total(df):
        return df.agg(F.sum("x")).collect()[0][0]

    before = _persistent_rdd_ids(spark)
    start = spark.createDataFrame([(40,), (17,), (9,)], "x long")
    out, m, rounds = fixpoint(start, halve, total, 20, "halving")
    assert (m, rounds) == (0, 7)
    assert sorted(r.x for r in out.collect()) == [0, 0, 0]
    assert len(_persistent_rdd_ids(spark) - before) == 1
    release_checkpoint(out)
    assert _persistent_rdd_ids(spark) <= before

    def over_nine(df):
        return df.filter(F.col("x") > 9)

    def finish(rows, n, rounds):
        return sorted(rows), n, rounds

    def run_with_bound(bound):
        monkeypatch.setattr(cache, "LOCAL_TAIL_MAX", bound)
        return fixpoint(
            start, over_nine, lambda df: df.count(), 20, "filter", finish=finish
        )

    # 3 rows -> 2 rows -> 2 rows: bound 3 finishes at the start, bound 2
    # after round 1, bound 1 converges distributed in round 2
    assert run_with_bound(3) == ([(9,), (17,), (40,)], 3, 0)
    assert run_with_bound(2) == ([(17,), (40,)], 2, 1)
    assert _persistent_rdd_ids(spark) <= before
    out, m, rounds = run_with_bound(1)
    assert (sorted(r.x for r in out.collect()), m, rounds) == ([17, 40], 2, 2)
    release_checkpoint(out)
    assert _persistent_rdd_ids(spark) <= before


#: strict row subsets written over a copy of sf0.001, one per table the
#: memo-class queries read; each keeps every oracle passing in a fresh
#: session (the PQ seeds need vec_ids 0..PQ_K-1, k-means needs >= KMEANS_K
#: vectors)
_REWRITE_KEEP = {
    "documents": ("doc_id", lambda ids: ids % 4 != 0),
    "lineitem": ("l_orderkey", lambda keys: keys % 2 != 0),
    "embeddings": ("vec_id", lambda ids: ids < 60),
}

#: one oracled query per session-memo class: corpus and funnel CC labels,
#: backbone CC labels, k-core and LPA fixpoints, sizing scalars, PQ
#: codebooks and codes, k-means centroids, logistic-regression weights
#: (every one also reads source-frame memos)
_MEMO_CLASS_QUERIES = (
    "dedup_cluster",
    "pipeline_dedup_corpus",
    "graph_components",
    "graph_kcore",
    "graph_label_propagation",
    "graph_pagerank",
    "sim_pq_recall",
    "embed_kmeans",
    "pipeline_quality_logreg",
)


def test_rewritten_input_invalidates_every_memo_class(spark, tmp_path):
    """Rewriting the corpus files mid-session must not serve any result
    built from the old files: after a strict-subset rewrite, every
    memo-class query equals its DuckDB oracle on the NEW files, and one
    clear_tracked_caches() still returns the JVM to its baseline."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_system_mapreduce_spark import cache
    from distributed_system_mapreduce_spark.registry import ORACLES
    from distributed_system_mapreduce_spark.testing import (
        compare_frames,
        duck_connection,
    )

    sf_dir = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    for t in TABLES:
        # copyfile, not copytree: the fixtures are read-only
        shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", f"{sf_dir}/{t}.parquet")

    def mismatches() -> list[str]:
        con = duck_connection(sf_dir)
        try:
            return [
                p
                for name in _MEMO_CLASS_QUERIES
                for p in compare_frames(
                    QUERIES[name](spark, sf_dir).toPandas(),
                    con.execute(ORACLES[name]).df(),
                    name,
                )
            ]
        finally:
            con.close()

    cache.clear_tracked_caches()
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    assert not mismatches()
    for t, (col, keep) in _REWRITE_KEEP.items():
        path = f"{sf_dir}/{t}.parquet"
        table = pq.read_table(path)
        subset = table.filter(pa.array(keep(table[col].to_numpy())))
        assert 0 < subset.num_rows < table.num_rows
        pq.write_table(subset, path)
    assert not mismatches()
    cache.clear_tracked_caches()
    assert not cache._MEMO
    assert jsc.getPersistentRDDs().size() <= base


def test_connected_components_never_mutates_session_conf(spark):
    """The CC loop sizes its shuffles with explicit repartition(loop_parts)
    — mutating spark.sql.shuffle.partitions would leak into concurrently
    planned queries in the same session (ADVICE r2)."""
    import inspect

    from distributed_system_mapreduce_spark.operators.dedup import (
        connected_components,
    )

    src = inspect.getsource(connected_components)
    assert "conf.set" not in src
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    QUERIES["dedup_cluster"](spark, SF_SMOKE).collect()
    assert spark.conf.get(key) == before


def test_salted_join_rejects_outer_types(spark):
    """right/full outer would duplicate unmatched small-side rows x n_salts
    — the API refuses them instead of silently corrupting results."""
    from distributed_system_mapreduce_spark.functions.skew import salted_join

    df = load(spark, SF_DIR, "nation")
    with pytest.raises(ValueError):
        salted_join(df, df, "n_nationkey", how="full_outer")
    with pytest.raises(ValueError):
        salted_join(df, df, "n_nationkey", how="right")


def test_salted_queries_match_unsalted_twins(spark):
    """Salting must be invisible in results (beyond the driver's oracle
    check: twin-vs-twin equality inside one engine)."""
    assert canonical_rows(
        QUERIES["count_by_key_salted"](spark, SF_DIR).toPandas()
    ) == canonical_rows(QUERIES["count_by_key"](spark, SF_DIR).toPandas())
    assert canonical_rows(
        QUERIES["join_reduce_side_salted"](spark, SF_DIR).toPandas()
    ) == canonical_rows(QUERIES["join_reduce_side"](spark, SF_DIR).toPandas())


def test_sampler_family_invariants(spark):
    """Cross-operator consistency of the curation samplers: every sampler
    selects a subset of documents, stratified picks exactly STRATUM_K per
    stratum (fixtures have >= K docs each), and the weighted mix respects
    its per-language quotas."""
    from distributed_system_mapreduce_spark.operators.curation import (
        STRATUM_K,
    )

    docs = load(spark, SF_DIR, "documents")
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}

    strat = QUERIES["sample_stratified"](spark, SF_DIR).collect()
    assert {r["doc_id"] for r in strat} <= all_ids
    per_src: dict[str, int] = {}
    for r in strat:
        per_src[r["source"]] = per_src.get(r["source"], 0) + 1
    assert all(v == STRATUM_K for v in per_src.values())

    mix = {r["lang"]: r["n_docs"] for r in
           QUERIES["sample_weighted_mix"](spark, SF_DIR).collect()}
    for lang, n in mix.items():
        assert n <= (40 if lang == "en" else 10)


def test_decontaminate_flags_only_train_docs(spark):
    """Contamination output must be train-side only (doc_id % 10 != 0) and a
    subset of real documents."""
    flagged = QUERIES["corpus_decontaminate"](spark, SF_DIR).collect()
    assert flagged, "fixture corpus should have some contamination"
    for r in flagged:
        assert r["doc_id"] % 10 != 0
        assert r["n_shared_ngrams"] >= 1
        assert r["n_eval_docs"] >= 1


def test_pagerank_mass_conservation(spark):
    """Damped PageRank on a dangle-free graph conserves rank mass: the
    N-scaled ranks must average exactly 1.0 (within fp tolerance)."""
    rows = QUERIES["graph_pagerank"](spark, SF_DIR).collect()
    assert rows
    mean_pr = sum(r["pr"] for r in rows) / len(rows)
    assert abs(mean_pr - 1.0) < 1e-6, mean_pr


def test_graph_family_agrees_on_vertex_count(spark):
    """Degree histogram mass, PageRank row count, and triangle_count's
    n_nodes are three independent paths to the same vertex set."""
    hist = QUERIES["graph_degree_hist"](spark, SF_DIR).collect()
    n_from_hist = sum(r["n_parts"] for r in hist)
    n_from_pr = QUERIES["graph_pagerank"](spark, SF_DIR).count()
    tri = QUERIES["graph_triangle_count"](spark, SF_DIR).collect()[0]
    assert n_from_hist == n_from_pr == tri["n_nodes"]


def test_gap_fill_grid_is_complete_and_consistent(spark):
    rows = QUERIES["events_gap_fill"](spark, SF_DIR).collect()
    types = {r["event_type"] for r in rows}
    hours = {r["hour_start"] for r in rows}
    assert len(rows) == len(types) * len(hours), "grid must be dense"
    for r in rows:
        assert r["was_gap"] == (r["n_events"] == 0), r


def test_ewma_bounded_by_series_extremes(spark):
    """A convex smoother can never leave [min, max] of its inputs."""
    from collections import defaultdict

    by_type = defaultdict(list)
    for r in QUERIES["events_ewma"](spark, SF_DIR).collect():
        by_type[r["event_type"]].append(r)
    for rows in by_type.values():
        lo = min(r["cnt"] for r in rows)
        hi = max(r["cnt"] for r in rows)
        for r in rows:
            assert lo - 1e-9 <= r["ewma"] <= hi + 1e-9, r


def test_assoc_rules_measures_well_formed(spark):
    rows = QUERIES["graph_assoc_rules"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["support"] >= 2, r
        assert 0 < r["confidence"] <= 1, r
        assert r["lift"] > 0, r


def test_scd2_versions_partition_history(spark):
    """Per customer: version count == order count, exactly one current
    row, and each version's close date is the next version's start."""
    from collections import defaultdict

    rows = QUERIES["dim_customer_scd2"](spark, SF_DIR).collect()
    orders_per_cust = {
        r["o_custkey"]: r["n"]
        for r in load(spark, SF_DIR, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    by_cust = defaultdict(list)
    for r in rows:
        by_cust[r["o_custkey"]].append(r)
    assert set(by_cust) == set(orders_per_cust)
    for ck, vs in by_cust.items():
        vs.sort(key=lambda r: r["version"])
        assert len(vs) == orders_per_cust[ck]
        assert sum(1 for r in vs if r["is_current"]) == 1
        assert vs[-1]["is_current"] and vs[-1]["valid_to"] is None
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"], (ck, a, b)


def test_abc_pareto_covers_all_customers(spark):
    rows = QUERIES["orders_abc_pareto"](spark, SF_DIR).collect()
    assert {r["abc_class"] for r in rows} <= {"A", "B", "C"}
    n_cust = load(spark, SF_DIR, "orders").select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in rows) == n_cust


def test_rolling_wau_dominates_dau(spark):
    for r in QUERIES["events_rolling_dau"](spark, SF_DIR).collect():
        assert r["wau7"] >= r["dau"], r


def test_incremental_dedup_covers_batch(spark):
    """Every batch doc gets exactly one verdict row; dup verdicts carry a
    match, clean-with-no-candidate rows carry nulls."""
    rows = QUERIES["dedup_incremental"](spark, SF_DIR).collect()
    docs = load(spark, SF_DIR, "documents")
    n_batch = docs.filter((F.col("doc_id") % 10) == 3).count()
    assert len(rows) == n_batch
    for r in rows:
        if r["is_dup"]:
            assert r["best_match_id"] is not None and r["best_jacc"] >= 0.5
        if r["best_match_id"] is None:
            assert not r["is_dup"] and r["best_jacc"] is None


def test_kmeans_partitions_corpus_and_guards_small_input(spark, tmp_path):
    rows = QUERIES["embed_kmeans"](spark, SF_DIR).collect()
    n_total = load(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n_total
    assert all(r["inertia"] > 0 and r["centroid_norm"] > 0 for r in rows)

    # fewer vectors than k must raise the loud guard, not iterate over a
    # ragged centroid list (the embed_pca empty-table bug class)
    import pytest as _pytest

    from distributed_system_mapreduce_spark.functions.vectors import (
        embed_kmeans,
    )

    tiny = spark.createDataFrame(
        [(0, [0.1] * 64, 0), (1, [0.2] * 64, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    tiny.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    with _pytest.raises(ValueError, match="needs >= 4 vectors"):
        embed_kmeans(spark, str(tmp_path))


def test_zipf_fit_reads_synthetic_corpus_as_flat(spark):
    """Frequency must still decrease with rank (slope < 0), but the
    synthetic near-uniform 31-word fixture should read as FLAT (slope far
    from natural text's -1) — exactly the templated-corpus signal the
    diagnostic exists to raise."""
    r = QUERIES["text_zipf_fit"](spark, SF_DIR).collect()[0]
    assert r["vocab"] > 0
    assert -0.6 < r["zipf_slope"] < 0, r
    assert r["log_log_corr"] < 0, r


def test_user_features_cover_all_users(spark):
    rows = QUERIES["events_user_features"](spark, SF_DIR).collect()
    n_users = load(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert len(rows) == n_users
    for r in rows:
        assert r["recency_s"] >= 0, r
        assert r["n_events"] >= 1
        if r["n_events"] == 1:
            assert r["mean_gap_s"] is None


def test_cohort_ltv_consistent_with_retention_shape(spark):
    """Offset-0 cells exist for every cohort and total orders reconcile."""
    rows = QUERIES["orders_cohort_ltv"](spark, SF_DIR).collect()
    n_orders = load(spark, SF_DIR, "orders").count()
    assert sum(r["n_orders"] for r in rows) == n_orders
    cohorts = {r["cohort_month"] for r in rows}
    zero_offsets = {r["cohort_month"] for r in rows if r["month_offset"] == 0}
    assert cohorts == zero_offsets


def test_range_search_is_exactly_the_above_threshold_set(spark):
    """Range search == brute-force top-k query scores filtered at tau."""
    from distributed_system_mapreduce_spark.functions.vectors import (
        RANGE_SEARCH_TAU,
    )

    got = {
        (r["vec_id"], r["score"])
        for r in QUERIES["sim_range_search"](spark, SF_DIR).collect()
    }
    assert got, "fixture should produce in-range vectors"
    assert all(s >= RANGE_SEARCH_TAU for _, s in got)


def test_epoch_shuffle_is_a_seed_dependent_permutation(spark):
    """pipeline_epoch_shuffle emits every doc exactly once with contiguous
    per-shard positions, and reordering genuinely depends on the seed (a
    different seed yields a different permutation over the same id set)."""
    from distributed_system_mapreduce_spark.operators import curation as cur

    rows = QUERIES["pipeline_epoch_shuffle"](spark, SF_DIR).collect()
    n_docs = load(spark, SF_DIR, "documents").count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r["pos"])
    assert set(by_shard) <= set(range(cur.EPOCH_SHUFFLE_SHARDS))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard

    order_a = [(r["shard_id"], r["pos"], r["doc_id"]) for r in rows]
    old = cur.EPOCH_SHUFFLE_SEED
    try:
        cur.EPOCH_SHUFFLE_SEED = old + 1
        rows_b = QUERIES["pipeline_epoch_shuffle"](spark, SF_DIR).collect()
    finally:
        cur.EPOCH_SHUFFLE_SEED = old
    order_b = [(r["shard_id"], r["pos"], r["doc_id"]) for r in rows_b]
    assert {r[2] for r in order_a} == {r[2] for r in order_b}
    assert order_a != order_b


def test_skyline_is_exactly_the_non_dominated_set(spark):
    """part_skyline_brand is sound (no same-brand part strictly dominates a
    returned row) and complete (every excluded part is dominated by some
    returned row) against the quadratic definition at smoke SF."""
    rows = QUERIES["part_skyline_brand"](spark, SF_SMOKE).collect()
    parts = load(spark, SF_SMOKE, "part").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    ).collect()
    assert rows

    def dominates(a, b):
        return (
            a.p_retailprice <= b.p_retailprice
            and a.p_size <= b.p_size
            and (a.p_retailprice < b.p_retailprice or a.p_size < b.p_size)
        )

    by_brand: dict = {}
    for p in parts:
        by_brand.setdefault(p.p_brand, []).append(p)
    sky_keys = {(r.p_brand, r.p_partkey) for r in rows}
    for r in rows:
        assert not any(dominates(p, r) for p in by_brand[r.p_brand]), r
    sky_by_brand: dict = {}
    for r in rows:
        sky_by_brand.setdefault(r.p_brand, []).append(r)
    for p in parts:
        if (p.p_brand, p.p_partkey) in sky_keys:
            continue
        assert any(dominates(s, p) for s in sky_by_brand[p.p_brand]), p


def test_bloom_prefilter_prunes_without_false_negatives(spark):
    """join_bloom_pruned's Bloom stage must admit EVERY true match (no
    false negatives — guaranteed by construction, verified here) while
    actually pruning the fact side (the point of the filter)."""
    from distributed_system_mapreduce_spark.operators.joins import (
        bloom_candidates,
    )

    candidates, dim = bloom_candidates(spark, SF_SMOKE)
    orders = load(spark, SF_SMOKE, "orders")
    n_total = orders.count()
    n_candidates = candidates.count()
    true_keys = {r.c_custkey for r in dim.collect()}
    true_matches = orders.filter(F.col("o_custkey").isin(true_keys)).count()
    cand_matches = candidates.filter(F.col("o_custkey").isin(true_keys)).count()
    assert cand_matches == true_matches  # no false negatives
    assert n_candidates < n_total  # the filter prunes
    # false-positive rows are a small fraction of the admitted set
    assert (n_candidates - cand_matches) <= 0.25 * n_total


def test_weighted_reservoir_matches_independent_reimplementation(spark):
    """sample_weighted_reservoir equals a from-scratch Python E-S top-K
    (md5 -> u -> ln(u)/w -> round -> rank) over the same fixture."""
    import hashlib
    import math

    from distributed_system_mapreduce_spark.operators.curation import (
        RESERVOIR_K,
        _U_DENOM,
    )

    got = QUERIES["sample_weighted_reservoir"](spark, SF_SMOKE).collect()
    docs = load(spark, SF_SMOKE, "documents").select(
        "source", "doc_id", "n_chars"
    ).collect()
    by_source: dict = {}
    for d in docs:
        skey = int(hashlib.md5(str(d.doc_id).encode()).hexdigest()[:15], 16)
        u = (skey + 1) / _U_DENOM
        es = round(math.log(u) / d.n_chars, 12)
        by_source.setdefault(d.source, []).append((es, d.doc_id))
    want = set()
    for source, items in by_source.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        for rank, (_, doc_id) in enumerate(items[:RESERVOIR_K], start=1):
            want.add((source, rank, doc_id))
    assert {(r.source, r.rank, r.doc_id) for r in got} == want
    # exactly K (or the stratum size) per source
    sizes = {s: len(v) for s, v in by_source.items()}
    per_source: dict = {}
    for r in got:
        per_source[r.source] = per_source.get(r.source, 0) + 1
    for s, n in per_source.items():
        assert n == min(RESERVOIR_K, sizes[s])


def test_compaction_bins_are_bounded_and_cover_all_files(spark):
    """compact_file_bins: first-fit-by-offset bound (every bin holds less
    than target + its largest file), bins are contiguous in file order,
    and every file is assigned exactly once."""
    from distributed_system_mapreduce_spark.operators.analytics import (
        COMPACT_FILE_MOD,
        COMPACT_TARGET,
    )

    rows = QUERIES["compact_file_bins"](spark, SF_SMOKE).collect()
    docs = load(spark, SF_SMOKE, "documents").collect()
    want_files = {(d.source, d.doc_id % COMPACT_FILE_MOD) for d in docs}
    assert {(r.source, r.file_id) for r in rows} == want_files

    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, files in by_source.items():
        files.sort(key=lambda r: r.file_id)
        bins = [r.bin_id for r in files]
        assert bins == sorted(bins)  # contiguous, non-decreasing
        totals: dict = {}
        largest: dict = {}
        for r in files:
            totals[r.bin_id] = totals.get(r.bin_id, 0) + r.bytes
            largest[r.bin_id] = max(largest.get(r.bin_id, 0), r.bytes)
        for b, tot in totals.items():
            assert tot < COMPACT_TARGET + largest[b]


def test_zorder_bins_are_local_in_both_dimensions(spark):
    """layout_zorder_cluster: all orders are binned exactly once and the
    average per-bin span of EACH dimension is far below its global span —
    the locality property that makes min-max skipping work."""
    rows = QUERIES["layout_zorder_cluster"](spark, SF_SMOKE).collect()
    orders = load(spark, SF_SMOKE, "orders")
    n_total = orders.count()
    assert sum(r.n_orders for r in rows) == n_total
    stats = orders.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("ck_span"),
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")),
            F.min(F.col("o_orderdate").cast("date")),
        ).alias("d_span"),
    ).collect()[0]
    multi = [r for r in rows if r.n_orders > 1]
    assert multi
    avg_ck = sum(r.ck_span for r in multi) / len(multi)
    avg_d = sum(r.date_span_days for r in multi) / len(multi)
    assert avg_ck < 0.25 * stats.ck_span
    assert avg_d < 0.25 * stats.d_span


def test_ohlc_bounds_and_coverage(spark):
    """events_ohlc_daily: low <= {open, close} <= high per bucket, and the
    bucket counts cover every event exactly once."""
    rows = QUERIES["events_ohlc_daily"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.low <= r.open <= r.high, r
        assert r.low <= r.close <= r.high, r
        assert r.n_events >= 1
    total = load(spark, SF_SMOKE, "events").count()
    assert sum(r.n_events for r in rows) == total


def test_eval_auc_bounds_and_partition(spark):
    """eval_auc: AUC in [0,1]; pos+neg partition the corpus; the distinct
    score count is bounded by the milli-bucket resolution."""
    row = QUERIES["eval_auc"](spark, SF_DIR).collect()[0]
    assert 0.0 <= row.auc <= 1.0
    n_emb = load(spark, SF_DIR, "embeddings").count()
    assert row.n_pos + row.n_neg == n_emb
    assert 0 < row.n_scores <= n_emb


def test_eval_auc_label_flip_complement(spark):
    """Flipping the positive class must give exactly 1 - AUC (average-rank
    tie handling makes the identity hold with ties present)."""
    from distributed_system_mapreduce_spark.operators import mleval

    base = QUERIES["eval_auc"](spark, SF_SMOKE).collect()[0]
    per_score = (
        mleval._scored(spark, SF_SMOKE)
        .withColumn("is_pos", 1 - F.col("is_pos"))
        .groupBy("score_m")
        .agg(
            F.sum("is_pos").alias("pos"),
            F.sum(1 - F.col("is_pos")).alias("neg"),
        )
        .collect()
    )
    # brute-force flipped AUC from the rollup
    per_score.sort(key=lambda r: r.score_m)
    cum_neg = 0
    num2 = 0
    for r in per_score:
        num2 += r.pos * (2 * cum_neg + r.neg)
        cum_neg += r.neg
    P = sum(r.pos for r in per_score)
    N = sum(r.neg for r in per_score)
    flipped = num2 / (2.0 * P * N)
    assert abs((1.0 - flipped) - base.auc) < 1.5e-6  # base is round(..,6)


def test_eval_calibration_bins_cover_corpus(spark):
    """Calibration bins partition all embeddings; rates are probabilities."""
    rows = QUERIES["eval_calibration_bins"](spark, SF_DIR).collect()
    n_emb = load(spark, SF_DIR, "embeddings").count()
    assert sum(r.n for r in rows) == n_emb
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.pos_rate <= 1.0
        assert 0.0 <= r.mean_p <= 1.0
        # mean_p must fall inside its bin's width (clipping puts mass on
        # the edge bins' boundaries)
        assert r.bin / 10 - 1e-9 <= r.mean_p <= (r.bin + 1) / 10 + 1e-9


def test_cdc_merge_actions_and_tombstones(spark):
    """cdc_merge_upserts: one row per surviving user, valid action codes,
    no tombstone survives, and K-rows carry base-period state only."""
    rows = QUERIES["cdc_merge_upserts"](spark, SF_DIR).collect()
    assert rows, "merge produced no snapshot"
    users = [r.user_id for r in rows]
    assert len(users) == len(set(users))
    assert {r.action for r in rows} <= {"I", "U", "K"}
    assert all(r.last_type != "error" for r in rows)
    assert all(r.n_events > 0 for r in rows)


def test_events_seasonal_index_weighted_mean_is_one(spark):
    """Per type, the day-weighted mean of the seasonal index is 1 by
    construction (each dow's index weighted by its share of days)."""
    rows = QUERIES["events_seasonal_index"](spark, SF_DIR).collect()
    assert all(1 <= r.dow_iso <= 7 for r in rows)
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for tp, rs in by_type.items():
        total_days = sum(r.n_days for r in rs)
        weighted = sum(r.seasonal_index * r.n_days for r in rs) / total_days
        assert abs(weighted - 1.0) < 1e-3, (tp, weighted)


def test_eval_ndcg_bounds(spark):
    """eval_ndcg_at_k: one row per query; NDCG is in [0,1]."""
    rows = QUERIES["eval_ndcg_at_k"](spark, SF_DIR).collect()
    from distributed_system_mapreduce_spark.operators.mleval import (
        NDCG_QUERIES,
    )
    assert len(rows) == NDCG_QUERIES
    for r in rows:
        assert 0.0 <= r.ndcg <= 1.0
        assert r.n_rel >= 0


def test_mv_incremental_merge_equals_recompute(spark):
    """The algebraic-merge property mv_incremental_refresh exists to
    witness: base-rollup + delta-rollup merged == one-pass recompute."""
    from distributed_system_mapreduce_spark.sources.io import load as _load

    merged = {
        (r.priority, r.month): r
        for r in QUERIES["mv_incremental_refresh"](spark, SF_DIR).collect()
    }
    od = _load(spark, SF_DIR, "orders")
    direct = (
        od.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                    "double"
                ),
                2,
            ).alias("s"),
        )
        .collect()
    )
    assert len(direct) == len(merged)
    for r in direct:
        m = merged[(r.priority, r.month)]
        assert m.n_orders == r.n == m.n_base + m.n_delta
        assert abs(m.sum_total - r.s) < 1e-6


def test_graph_bfs_hops_shape(spark):
    """BFS: hop 0 is exactly the single source; hops are within the fixed
    unroll depth; every hop reaches at least one node."""
    from distributed_system_mapreduce_spark.operators.graph import BFS_HOPS

    rows = {r.hop: r for r in QUERIES["graph_bfs_hops"](spark, SF_DIR).collect()}
    assert rows[0].n_nodes == 1
    assert set(rows) <= set(range(BFS_HOPS + 1))
    assert all(r.n_nodes > 0 for r in rows.values())


def test_text_bpe_merge_step_pairs(spark):
    """BPE step: every candidate merge is a 2-char pair; counts are
    positive and non-increasing in rank order."""
    rows = QUERIES["text_bpe_merge_step"](spark, SF_DIR).collect()
    assert rows
    assert all(len(r.pair) == 2 for r in rows)
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert cnts[-1] > 0


def test_eval_confusion_centroid_partitions_corpus(spark):
    """Confusion matrix cells sum to the corpus size; a nearest-centroid
    classifier on separable-ish labels must beat the 1/k majority floor
    on the diagonal."""
    rows = QUERIES["eval_confusion_centroid"](spark, SF_DIR).collect()
    n_emb = load(spark, SF_DIR, "embeddings").count()
    assert sum(r.n for r in rows) == n_emb
    diag = sum(r.n for r in rows if r.label == r.pred_label)
    n_labels = len({r.label for r in rows})
    assert diag / n_emb > 1.0 / n_labels


def test_sample_negative_pairs_labels_differ(spark):
    """Negative sampling: exactly NEG_PER_ANCHOR negatives per anchor,
    none sharing the anchor's label, stable across reruns."""
    from distributed_system_mapreduce_spark.operators.curation import (
        NEG_ANCHORS,
        NEG_PER_ANCHOR,
    )

    df = QUERIES["sample_negative_pairs"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == NEG_ANCHORS * NEG_PER_ANCHOR
    labels = {
        r.vec_id: r.label
        for r in load(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    }
    for r in rows:
        assert labels[r.neg_id] != labels[r.anchor_id]
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, QUERIES["sample_negative_pairs"](spark, SF_DIR).collect())
    )


def test_corpus_length_histogram_covers_docs(spark):
    """Histogram bins partition all docs; char totals reconcile."""
    rows = QUERIES["corpus_length_histogram"](spark, SF_DIR).collect()
    docs = load(spark, SF_DIR, "documents")
    assert sum(r.n_docs for r in rows) == docs.filter(F.col("n_chars") > 0).count()
    total = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert sum(r.total_chars for r in rows) == total


def test_capped_wedge_scores_dominated_by_exact(spark):
    """The capped variants are lower bounds of the exact wedge queries by
    construction: a capped wedge center contributes ONLY if both endpoints
    sit among its cap lowest-id neighbors, i.e. capped centers ⊆ all
    common neighbors — so per edge, capped n_common <= exact n_common and
    capped aa <= exact aa (+ rounding quantum). Run over every scored
    edge at sf0.01, not just the top-20s."""
    from distributed_system_mapreduce_spark.operators.graph import (
        ADAMIC_ADAR_NEIGHBOR_CAP,
        _degrees,
        _oriented_with_adj,
        adamic_adar_capped_scores,
        copurchase_pairs,
    )

    pairs = copurchase_pairs(spark, SF_DIR)
    capped = {
        (r.src, r.dst): (r.n_common, r.aa)
        for r in adamic_adar_capped_scores(
            pairs, ADAMIC_ADAR_NEIGHBOR_CAP
        ).collect()
    }
    # exact per-edge (n_common, aa) — the graph_adamic_adar rollup before
    # its top-20: triangle instances from the oriented intersection, each
    # crediting its THREE id-canonical edges with the opposite vertex
    # (an instance's base (u, v) is the degree-oriented edge, so grouping
    # by it alone undercounts the other two edges of the triangle)
    deg = _degrees(pairs)
    inst = _oriented_with_adj(pairs, deg).select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("w"),
    )
    edge = lambda a, b, o: F.struct(  # noqa: E731
        F.least(a, b).alias("src"),
        F.greatest(a, b).alias("dst"),
        o.alias("other"),
    )
    credits = inst.select(
        F.explode(
            F.array(
                edge(F.col("u"), F.col("v"), F.col("w")),
                edge(F.col("u"), F.col("w"), F.col("v")),
                edge(F.col("v"), F.col("w"), F.col("u")),
            )
        ).alias("c")
    ).select("c.src", "c.dst", "c.other")
    d_w = deg.select(F.col("id").alias("other"), F.col("deg").alias("deg_w"))
    exact = {
        (r.src, r.dst): (r.n, r.aa)
        for r in credits.join(d_w, "other")
        .groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(1.0 / F.log(F.col("deg_w"))), 4).alias("aa"),
        )
        .collect()
    }
    assert capped, "no capped-scored edges at sf0.01"
    for edge, (n_c, aa_c) in capped.items():
        n_e, aa_e = exact[edge]  # every capped edge must exist exactly
        assert n_c <= n_e, (edge, n_c, n_e)
        assert aa_c <= aa_e + 1e-4, (edge, aa_c, aa_e)


def test_simhash_coverage_claims_nonvacuous_with_duplicates(spark):
    """The r13 coverage-bound claims (dedup_simhash/dedup_simhash64) are
    vacuous on fixtures without exact-duplicate texts (dup_text_pairs = 0),
    so exercise them where they bite: a corpus with INJECTED duplicates —
    every claim must hold with a nonzero floor, i.e. the LSH really counts
    each duplicate-text pair (Hamming 0 survives value-collapse, band join,
    first-agreeing-block dedup, xor verify)."""
    from distributed_system_mapreduce_spark.operators.dedup import (
        _NONEMPTY_TOKENS,
        simhash_components,
    )

    docs = load(spark, SF_SMOKE, "documents").limit(80)
    # duplicate 30 docs (new ids), one of them twice -> C(3,2)=3 extra pairs
    dups = docs.limit(30).withColumn("doc_id", F.col("doc_id") + 100000)
    dups2 = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 200000)
    corpus = docs.unionAll(dups).unionAll(dups2)

    dup_pairs = (
        corpus.filter(F.expr(_NONEMPTY_TOKENS))
        .groupBy("text")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(
                F.sum((F.col("c") * (F.col("c") - 1) / 2).cast("bigint")),
                F.lit(0),
            ).alias("p")
        )
        .collect()[0]["p"]
    )
    assert dup_pairs >= 31  # 30 pair-dups + C(3,2) for the triple

    for bits in (16, 64):
        comp = simhash_components(corpus, bits=bits).collect()[0]
        assert comp["within_pairs"] >= dup_pairs, (bits, comp)
        assert (
            comp["within_pairs"] + comp["cross_pairs"] >= dup_pairs
        ), (bits, comp)
        if bits == 16:
            assert 0 <= comp["min_code"] <= comp["max_code"] < (1 << 16)
        assert comp["n_codes"] <= comp["n_nonempty"]


def test_chunk_windows_boundaries(spark):
    """Chunker geometry edges: empty doc -> no chunks; 1 token -> one
    1-token chunk; exactly CHUNK_TOKENS -> one full chunk; CHUNK_TOKENS+1
    -> two chunks whose second starts at CHUNK_STRIDE; coverage: every
    token index lands in >= 1 chunk."""
    from distributed_system_mapreduce_spark.operators.curation import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        chunk_windows,
    )

    w, s = CHUNK_TOKENS, CHUNK_STRIDE
    mk = lambda n: " ".join(f"t{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [(0, "src", ""), (1, "src", mk(1)), (2, "src", mk(w)),
         (3, "src", mk(w + 1)), (4, "src", mk(3 * s + 5))],
        "doc_id long, source string, text string",
    )
    rows = chunk_windows(docs).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 0 not in by_doc
    assert [c["chunk_tokens"] for c in by_doc[1]] == [1]
    assert [c["chunk_tokens"] for c in by_doc[2]] == [w]
    two = sorted(by_doc[3], key=lambda c: c["chunk_id"])
    assert len(two) == 2 and two[0]["chunk_tokens"] == w
    assert two[1]["chunk_text"].split(" ")[0] == f"t{s}"
    # coverage of every token index for the 3s+5 doc
    n = 3 * s + 5
    covered = set()
    for c in sorted(by_doc[4], key=lambda c: c["chunk_id"]):
        start = c["chunk_id"] * s
        covered.update(range(start, start + c["chunk_tokens"]))
    assert covered == set(range(n))


def test_pii_scrub_idempotent_and_counts(spark):
    """Scrubbing already-scrubbed text finds zero PII (the idempotence a
    privacy gate needs), and counts match hand-planted spans."""
    from distributed_system_mapreduce_spark.functions.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (0, "mail me at bob7@mail3.com or ann@site.org now"),
            (1, "call 555-0199 and 555-1234"),
            (2, "hosts 10.1.2.3 and 192.168.0.1"),
            (3, "clean text only"),
        ],
        "doc_id long, text string",
    )
    once = pii_scrub(docs)
    got = {r["doc_id"]: r for r in once.collect()}
    assert (got[0]["n_email"], got[0]["n_phone"], got[0]["n_ip"]) == (2, 0, 0)
    assert got[1]["n_phone"] == 2 and got[2]["n_ip"] == 2
    assert got[3]["text_scrubbed"] == "clean text only"
    assert "<EMAIL>" in got[0]["text_scrubbed"]
    twice = pii_scrub(
        once.select("doc_id", F.col("text_scrubbed").alias("text"))
    )
    for r in twice.collect():
        assert (r["n_email"], r["n_phone"], r["n_ip"]) == (0, 0, 0)
        assert r["text_scrubbed"] == r["text"]


def test_bpe_train_matches_python_reference(spark):
    """text_bpe_train's unrolled rounds equal a from-scratch Python BPE
    trainer (Sennrich-style: weighted adjacent-pair argmax with
    (count desc, left, right) tie-break, greedy left-to-right
    non-overlapping merge application) on the smoke corpus."""
    from collections import Counter

    from distributed_system_mapreduce_spark.functions.text import (
        BPE_TRAIN_ROUNDS,
    )
    from distributed_system_mapreduce_spark.operators.relational import (
        tokens,
    )

    docs = load(spark, SF_SMOKE, "documents")
    wc = Counter(
        r["word"] for r in tokens(docs).collect()
    )
    vocab = {tuple(w): c for w, c in ((tuple(k), v) for k, v in wc.items())}
    expected = []
    for _ in range(BPE_TRAIN_ROUNDS):
        pc: Counter = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        (l, r), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((l, r, l + r, cnt))
        merged: dict[tuple, int] = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            merged[key] = merged.get(key, 0) + c
        vocab = merged
    got = [
        (row["left_sym"], row["right_sym"], row["merged"], row["cnt"])
    for row in sorted(
        QUERIES["text_bpe_train"](spark, SF_SMOKE).collect(),
        key=lambda r: r["round"],
    )]
    assert got == expected


def test_temperature_mix_flattens_distribution(spark):
    """Temperature-sampling invariants: both share columns sum to ~1, the
    dominant language's boost is < 1 and every minority language's > 1
    (alpha < 1 flattens the distribution), and epoch token expectations
    stay within budget."""
    from distributed_system_mapreduce_spark.operators.curation import (
        MIX_EPOCH_TOKENS,
    )

    rows = QUERIES["sample_temperature_mix"](spark, SF_SMOKE).collect()
    nat = sum(r["nat_share"] for r in rows)
    temp = sum(r["temp_share"] for r in rows)
    assert abs(nat - 1.0) < 1e-4 and abs(temp - 1.0) < 1e-4
    top = max(rows, key=lambda r: r["tokens"])
    for r in rows:
        if r is top:
            assert r["boost"] < 1.0, r
        else:
            assert r["boost"] > 1.0, r
    assert sum(r["epoch_tokens"] for r in rows) <= MIX_EPOCH_TOKENS


def test_eval_agreement_metrics_consistent(spark):
    """Kappa never exceeds raw agreement (po), both in [-1, 1] / [0, 1];
    log loss >= 0; Brier in [0, 1]; and calibration ties out: the Brier
    score can't beat the ECE-style refinement floor of a perfect-per-bin
    predictor (Brier >= sum_bins w_b * pos_rate_b * (1 - pos_rate_b),
    the irreducible within-bin variance, minus bin-quantization slack)."""
    kap = QUERIES["eval_cohens_kappa"](spark, SF_DIR).collect()[0]
    assert -1.0 <= kap.kappa <= 1.0
    assert 0.0 <= kap.po <= 1.0
    assert kap.kappa <= kap.po + 1e-9
    ll = QUERIES["eval_log_loss"](spark, SF_DIR).collect()[0]
    assert ll.log_loss >= 0.0
    br = QUERIES["eval_brier_score"](spark, SF_DIR).collect()[0]
    assert 0.0 <= br.brier <= 1.0
    assert ll.n == br.n
    bins = QUERIES["eval_calibration_bins"](spark, SF_DIR).collect()
    n_tot = sum(r.n for r in bins)
    refinement = sum(
        (r.n / n_tot) * r.pos_rate * (1 - r.pos_rate) for r in bins
    )
    # within-bin probability spread adds at most (bin width)^2/4 per bin
    assert br.brier >= refinement - 0.25 * (1.0 / 10) ** 2 - 1e-6


def test_eval_spearman_matches_scipy_free_reference(spark):
    """Spearman via the contingency-table plan equals a direct pandas
    rank-correlation on the same (score, label) pairs."""
    import pandas as pd

    emb = load(spark, SF_DIR, "embeddings").select(
        F.floor(F.col("embedding")[0].cast("double") * 1000).alias("x"),
        F.col("label").alias("y"),
    ).toPandas()
    expect = (
        emb["x"].rank(method="average").corr(emb["y"].rank(method="average"))
    )
    got = QUERIES["eval_spearman_corr"](spark, SF_DIR).collect()[0]
    assert abs(got.spearman - expect) < 1e-6
    assert got.n == len(emb)


def test_graph_clustering_coeff_bounds(spark):
    """Both coefficients are in [0, 1]; triangle/wedge counts agree with
    graph_triangle_count; a complete-ish sanity: 3*tri <= wedges."""
    cc = QUERIES["graph_clustering_coeff"](spark, SF_DIR).collect()[0]
    tri = QUERIES["graph_triangle_count"](spark, SF_DIR).collect()[0]
    assert cc.n_triangles == tri.n_triangles
    assert 3 * cc.n_triangles <= cc.n_wedges
    assert 0.0 <= cc.global_cc <= 1.0
    assert 0.0 <= cc.avg_local_cc <= 1.0


def test_events_acf_lag_zero_degenerates_and_bounds(spark):
    """Every reported ACF is in [-1, 1] and pair counts shrink with lag
    (n_pairs = span - lag on the gap-free spine)."""
    rows = QUERIES["events_acf"](spark, SF_DIR).collect()
    assert [r.lag for r in rows] == [1, 2, 3, 24]
    for r in rows:
        assert -1.0 <= r.acf <= 1.0
    spans = {r.lag: r.n_pairs + r.lag for r in rows}
    assert len(set(spans.values())) == 1  # same underlying spine length


def test_events_mad_outliers_exceed_gate(spark):
    """Every emitted row violates the MAD gate it claims (adev > 3*mad)
    and adev is consistent with (cnt, med)."""
    rows = QUERIES["events_mad_outliers"](spark, SF_DIR).collect()
    assert rows, "fixture should surface at least one outlier"
    for r in rows:
        assert r.adev == abs(r.cnt - r.med)
        assert r.adev > 3 * r.mad


def test_agg_distinct_rollup_hierarchy(spark):
    """Rollup consistency: per-day subtotal >= max over its types, grand
    total row present, and distinct counts never exceed event counts."""
    rows = QUERIES["agg_distinct_rollup"](spark, SF_DIR).collect()
    grand = [r for r in rows if r.day is None and r.event_type is None]
    assert len(grand) == 1
    days = {}
    for r in rows:
        assert r.n_users <= r.n_events
        if r.day is not None and r.event_type is None:
            days[r.day] = r
    for r in rows:
        if r.day is not None and r.event_type is not None:
            assert r.n_users <= days[r.day].n_events


def test_text_bigram_logprob_vs_unigram_disagrees(spark):
    """The bigram LM is a different ranking signal: scores are <= 0
    (conditional probs), every doc has n_bigrams = n_tokens - 1 shape
    (positive), and the bottom-20 set need not equal the unigram one."""
    rows = QUERIES["text_bigram_logprob"](spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.avg_logprob <= 0.0
        assert r.n_bigrams >= 1


def test_events_changepoint_consistency(spark):
    """The split's segment means recombine to the global mean, t is an
    interior index, and gstat is the normalized between-segment SSE
    (non-negative)."""
    r = QUERIES["events_changepoint"](spark, SF_DIR).collect()[0]
    assert 1 <= r.t < r.n_hours
    assert r.gstat >= 0.0
    global_mean = (
        r.mean_before * r.t + r.mean_after * (r.n_hours - r.t)
    ) / r.n_hours
    # the two segment means must straddle (or equal) the global mean
    lo, hi = sorted((r.mean_before, r.mean_after))
    assert lo - 1e-6 <= global_mean <= hi + 1e-6


def test_embed_silhouette_matches_kmeans_clusters(spark):
    """Silhouette reports the same clusters/sizes as embed_kmeans and
    every per-cluster mean is in [-1, 1]."""
    sil = {r.cluster: r for r in QUERIES["embed_silhouette"](spark, SF_DIR).collect()}
    km = {r.cluster: r for r in QUERIES["embed_kmeans"](spark, SF_DIR).collect()}
    assert set(sil) == set(km)
    for c, r in sil.items():
        assert r.n_vecs == km[c].n_vecs
        assert -1.0 <= r.mean_silhouette <= 1.0


def test_logreg_learns_past_majority_baseline(spark):
    """Training must beat the majority-class baseline on its own
    fixture (the length-threshold target has real signal), and the
    learned boundary must be consistent with the reported accuracy."""
    r = QUERIES["pipeline_quality_logreg"](spark, SF_DIR).collect()[0]
    feat = load(spark, SF_DIR, "documents").select(
        (F.col("n_chars") >= 300).cast("int").alias("y")
    )
    counts = {row.y: row.n for row in feat.groupBy("y").agg(F.count(F.lit(1)).alias("n")).collect()}
    majority = max(counts.values()) / sum(counts.values())
    assert r.accuracy > majority + 0.05, (r.accuracy, majority)
    assert r.n_correct == round(r.accuracy * r.n)
    # longer docs must score higher under the learned model
    assert r.beta1 > 0 or r.beta2 > 0


def test_eval_regression_metrics_bounds(spark):
    """RMSE >= MAE (Cauchy-Schwarz), R² <= 1, and the groupwise-mean
    predictor can never do worse than the global mean (R² >= 0 up to the
    9 dp quantization slack)."""
    r = QUERIES["eval_regression_metrics"](spark, SF_DIR).collect()[0]
    assert r.rmse >= r.mae - 1e-9
    assert r.r2 <= 1.0
    assert r.r2 >= -1e-6
    assert r.n > 0


def test_graph_modularity_bounds(spark):
    """Modularity is in [-0.5, 1), never exceeds the intra-edge fraction,
    and the backbone partition must beat the all-singletons floor
    (Q_singletons < 0 whenever any edge exists)."""
    r = QUERIES["graph_modularity"](spark, SF_DIR).collect()[0]
    assert -0.5 <= r.modularity < 1.0
    assert r.modularity <= r.intra_edge_frac
    assert 0.0 <= r.intra_edge_frac <= 1.0
    assert r.n_edges > 0 and r.n_communities > 0


def test_xcorr_pair_counts_follow_calendar_span(spark):
    """events_cross_correlation: each lag's pair count must be exactly
    span_hours - |lag| — the structural witness that the correlation runs
    over the zero-filled CALENDAR spine (not just observed hours), i.e.
    the single-partition window is calendar-bounded by construction."""
    from distributed_system_mapreduce_spark.operators.timewin import (
        XCORR_LAGS,
    )

    ev = load(spark, SF_DIR, "events")
    mn, mx = (
        ev.agg(
            F.min(F.floor(F.unix_seconds(F.date_trunc("hour", "ts")))),
            F.max(F.floor(F.unix_seconds(F.date_trunc("hour", "ts")))),
        ).collect()[0]
    )
    span_hours = (mx - mn) // 3600 + 1
    got = {
        r["lag"]: r["n_pairs"]
        for r in QUERIES["events_cross_correlation"](spark, SF_DIR).collect()
    }
    assert got == {k: span_hours - abs(k) for k in XCORR_LAGS}


def test_snapshot_diff_class_totals_match_independent_counts(spark):
    """cdc_snapshot_diff: A+C+S must equal the independently-computed
    count of users alive at the end snapshot, and D+C+S the count alive
    at the midpoint snapshot — the two marginals pin the 4-way
    classification without trusting the query's own join."""
    from distributed_system_mapreduce_spark.operators.cdc import TOMBSTONE

    ev = load(spark, SF_DIR, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    split = ev.agg(
        ((F.min("ts_us") + F.max("ts_us")) / 2).cast("bigint")
    ).collect()[0][0]

    def alive_count(df):
        last = df.groupBy("user_id").agg(
            F.max_by("event_type", F.struct("ts", "event_id")).alias("lt")
        )
        return last.filter(F.col("lt") != TOMBSTONE).count()

    alive_end = alive_count(ev)
    alive_mid = alive_count(ev.filter(F.col("ts_us") < split))

    got = {
        r["diff"]: r["n_users"]
        for r in QUERIES["cdc_snapshot_diff"](spark, SF_DIR).collect()
    }
    assert set(got) <= {"A", "C", "D", "S"}
    assert (
        got.get("A", 0) + got.get("C", 0) + got.get("S", 0) == alive_end
    )
    assert (
        got.get("D", 0) + got.get("C", 0) + got.get("S", 0) == alive_mid
    )
