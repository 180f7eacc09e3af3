#!/usr/bin/env python
"""Benchmark harness (driver contract, SURVEY.md §7.1 step 9).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints TWO JSON lines:
first the full per-query detail ({"detail": ..., "queries": {name: sec},
"first_sample", "layers"}), then — LAST, so a front-truncating tail capture
always keeps it intact (BENCH_r02.json recorded parsed:null because the
single giant line lost its head) — one compact summary line {"metric",
"value", "unit", "sf", "n", "stat", "baseline_suite_value", "queries_n",
"cold_total", "build_total", "plan_total", ...}. The detail is also written
to BENCH_DETAIL.json next to this script.

Each query is forced through the noop sink (full distributed materialization,
no driver collect) by :func:`sweep`, the one timing loop over registered
queries; tools/scale_probe.py times its replica scales through it too. Only
the JSON lines go to stdout; Spark logs to stderr.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# The exact 74 queries BASELINE.md's 37.5 s was measured over (round-1
# suite) — extracted verbatim from BENCH_r01.json's parsed per-query map,
# NOT hand-maintained (ADVICE round 2: a hand-kept "new since baseline"
# exclusion list drifted and silently included 3 extra queries).
# `baseline_suite_value` sums exactly these, making cross-round comparison
# against the 37.5 s baseline like-for-like as the suite grows.
BASELINE_SUITE: frozenset[str] = frozenset({
    "agg_approx_distinct", "agg_conditional", "agg_correlation", "agg_cube",
    "agg_distinct_count", "agg_grouping_sets", "agg_histogram", "agg_percentiles",
    "agg_pricing_summary", "count_by_key", "date_parts_agg", "dedup_cluster",
    "dedup_embed_cosine", "dedup_exact", "dedup_near_minhash", "dedup_ngram_jaccard",
    "dedup_simhash", "distinct_users", "filter_above_avg", "filter_grep",
    "filter_predicate", "flatmap_explode", "funnel_conversion", "inverted_index",
    "join_anti", "join_asof", "join_full_outer", "join_left_outer", "join_map_side",
    "join_multiway", "join_reduce_side", "join_semi", "join_theta_range",
    "json_extract_props", "knn_label_vote", "map_project", "map_string_funcs",
    "multimodal_vector_norm", "partition_by_key", "pipeline_quality_filter",
    "pivot_event_counts", "reduce_numeric", "reduce_variance", "sample_hash_split",
    "scan_lineitem", "scan_project_prune", "set_except", "set_intersect",
    "set_union_all", "sim_ann_ivf", "sim_ann_ivf_mp", "sim_ann_lsh", "sim_topk_pairs",
    "sim_topk_query", "sort_global", "sql_shipping_priority", "text_fingerprint",
    "text_langid", "text_ngrams", "text_quality_score", "text_tfidf_top",
    "text_token_count", "text_tokens_stats", "topk_orders", "topk_per_group",
    "window_first_last", "window_lag_lead", "window_ntile", "window_rank",
    "window_running_sum", "window_session", "window_sliding", "window_tumbling",
    "word_count",
})


def sweep(spark, sf_dir: str, names: list[str], n_runs: int) -> dict:
    """Time each query in ``names`` over ``n_runs`` interleaved passes (each
    pass runs every query once, in the given order); returns, per query, one
    ``(build_s, plan_s, exec_s)`` per pass.

    A sample is the builder call (``build_s``) plus the noop-sink write
    (``exec_s``, which includes the write's own planning), so ``build_s +
    exec_s`` is the sample. ``plan_s`` is timed after the write, outside the
    sample: Catalyst analysis, optimization and physical planning of the
    built frame (``executedPlan``; under AQE no stage runs).

    The host is shared and a single sample can read 2-3x slow under
    transient load (BASELINE.md's own warning); interleaving means a load
    burst degrades at most one sample per query instead of all samples of
    whichever query it lands on. Each sample rebuilds the query plan (fresh
    lineage, no shuffle-stage skipping), so every sample pays every
    exchange; only explicitly persisted intermediates and session memos
    carry across samples, which is the steady state of a resident engine.
    """
    from distributed_system_mapreduce_spark.registry import QUERIES

    samples: dict[str, list[tuple[float, float, float]]] = {n: [] for n in names}
    for _ in range(n_runs):
        for name in names:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            samples[name].append((t1 - t0, time.perf_counter() - t2, t2 - t1))
    return samples


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # --subset q1,q2,... : inner-loop mode for perf work on specific
    # queries (VERDICT r6 #9) — runs only the named queries, skips
    # BENCH_DETAIL.json (so a partial sweep never clobbers the full-run
    # artifact the judge reads) and tags the summary {"subset": true}.
    # The driver's contract run passes no args and is unaffected.
    subset: frozenset[str] | None = None
    argv = sys.argv[1:]
    if argv and argv[0] == "--subset":
        if len(argv) < 2:
            sys.exit("usage: bench.py [--subset q1,q2,...]")
        subset = frozenset(argv[1].split(","))

    from distributed_system_mapreduce_spark.registry import QUERIES
    from distributed_system_mapreduce_spark.session import get_spark

    if subset is not None:
        unknown = subset - QUERIES.keys()
        if unknown:
            sys.exit(f"unknown queries: {sorted(unknown)}")
        QUERIES = {k: v for k, v in QUERIES.items() if k in subset}

    spark = get_spark("dsmr-bench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen path once so per-query numbers measure the
    # queries, not first-touch class loading
    sweep(spark, sf_dir, ["scan_lineitem" if "scan_lineitem" in QUERIES
                          else next(iter(QUERIES))], 1)

    # best-of-n per query: the min is the honest cost of the plan, and the
    # SAME statistic BASELINE.md's 37.5 s was measured with (best-of-2), so
    # cross-round comparisons are apples-to-apples.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    names = sorted(QUERIES)
    samples = sweep(spark, sf_dir, names, n_runs)
    walls = {name: [b + e for b, _p, e in samples[name]] for name in names}
    # first-sweep seconds per query, kept alongside the min: for
    # memo/tracked-cache-backed queries the min is a warm replay. The first
    # sample is cold only for the first query (in sorted order) that builds
    # each shared memo or cache; later consumers of the same entry already
    # read it warm. cold_total, their sum, is what one fresh process pays
    # for the whole sorted pass, not the sum of each query's own cold cost.
    first_sample = {name: round(walls[name][0], 3) for name in names}
    best = {name: min(walls[name]) for name in names}
    timings = {name: round(best[name], 3) for name in names}
    # per-layer min over the samples (each layer's min may come from a
    # different pass, so the three need not sum to the query's min)
    layers = {
        name: {k: round(min(v), 3)
               for k, v in zip(("build_s", "plan_s", "exec_s"), zip(*samples[name]))}
        for name in names
    }

    # cached-footprint accounting: distinct persisted RDDs stay a small
    # constant across the whole loop (CacheManager dedupes identical plans;
    # re-persists of an already-cached plan are no-ops), and the registry
    # releases every one of them at the end — the explicit lifecycle that
    # replaces round 2's rely-on-LRU story (VERDICT r2 "What's wrong" #4).
    from distributed_system_mapreduce_spark.cache import clear_tracked_caches

    jsc = spark.sparkContext._jsc.sc()
    cached_plans = jsc.getPersistentRDDs().size()
    caches_released = clear_tracked_caches()
    # after release both registries must agree: tracked frames + memo
    # checkpoints covered everything that was persisted (0 here proves the
    # r3 accounting gap — memo checkpoint RDDs invisible to the release
    # count — is closed; unpersist removes registry entries synchronously
    # even with blocking=False)
    cached_after_release = jsc.getPersistentRDDs().size()

    summary = {
        "metric": "t2_suite_seconds",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "sf": sf,
        "n": n_runs,
        "stat": "min",
        "baseline_suite_value": round(
            sum(best[n] for n in names if n in BASELINE_SUITE), 3),
        "baseline_suite_n": sum(1 for q in BASELINE_SUITE if q in QUERIES),
        "queries_n": len(QUERIES),
        "cold_total": round(sum(walls[name][0] for name in names), 3),
        "build_total": round(sum(layers[n]["build_s"] for n in names), 3),
        "plan_total": round(sum(layers[n]["plan_s"] for n in names), 3),
        "cached_plans": cached_plans,
        "caches_released": caches_released,
        "cached_after_release": cached_after_release,
    }
    if subset is not None:
        summary["subset"] = True
    # Like-for-like diff vs the previous full run (VERDICT r12 #5): the
    # committed BENCH_DETAIL.json is last round's per-query map; read it
    # BEFORE overwriting, normalize by host speed (median per-query ratio
    # over the common keys — robust to a few real regressions/improvements),
    # and flag regressions with the judge's own band (>1.5x AND >0.3 s after
    # host normalization). This replaces the hand-done COVERAGE.md analysis.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    prev_queries: dict[str, float] = {}
    try:
        # last COMMITTED detail, so intra-round reruns (which overwrite the
        # working-tree file) don't shift the comparison base; falls back to
        # the on-disk file outside a git checkout.
        import subprocess

        blob = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
             "show", "HEAD:BENCH_DETAIL.json"],
            capture_output=True, text=True, timeout=10,
        )
        if blob.returncode == 0:
            prev_queries = json.loads(blob.stdout).get("queries", {})
        else:
            with open(detail_path) as fh:
                prev_queries = json.load(fh).get("queries", {})
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    common = sorted(set(prev_queries) & set(timings))
    if subset is None and common:
        ratios = sorted(
            timings[q] / prev_queries[q] for q in common if prev_queries[q] > 0
        )
        host_ratio = ratios[len(ratios) // 2] if ratios else 1.0
        per_query_delta = {
            q: round(timings[q] - host_ratio * prev_queries[q], 3)
            for q in common
        }
        # Arrow-batch (mapInPandas/applyInPandas) queries carry Python
        # worker-pool startup/reuse variance that the JVM-only queries
        # don't: multimodal_frame_sample flagged +0.4 s at an UNCHANGED
        # commit in both r13 and r14, standalone A/B bracketing the delta
        # as environment noise (COVERAGE.md "worker-variance class").
        # Give that family its own wider absolute floor so the known noise
        # can't flag, while a REAL regression (>1.5x AND >0.9 s) still
        # does (VERDICT r14 #4). Single-sourced in plans.checks so this
        # set and the test_plans.py BatchEvalPython whitelist can't drift.
        from distributed_system_mapreduce_spark.plans.checks import (
            ARROW_BATCH_QUERIES as arrow_batch,
        )
        regressions = sorted(
            q for q in common
            if prev_queries[q] > 0
            and timings[q] > 1.5 * host_ratio * prev_queries[q]
            and timings[q] - host_ratio * prev_queries[q]
            > (0.9 if q in arrow_batch else 0.3)
        )
        # Summary line must stay well under the driver's 2000-char tail
        # capture (see header: BENCH_r02 lost a giant line's head), so it
        # carries the compact verdict — host ratio, regression names, the
        # 10 largest normalized deltas — while the full 209-key
        # per_query_delta map rides the detail line / BENCH_DETAIL.json.
        summary["host_speed_ratio"] = round(host_ratio, 3)
        summary["regressions"] = regressions
        summary["new_queries"] = sorted(set(timings) - set(prev_queries))[:20]
        top = sorted(per_query_delta, key=lambda q: -abs(per_query_delta[q]))
        summary["per_query_delta_top"] = {
            q: per_query_delta[q] for q in top[:10]
        }
        # Round-over-round verdict ON the summary line (VERDICT r16 #2):
        # the driver keeps only a 2000-char stdout tail, so the per-query
        # map on the detail line never survives — carry the host-normalized
        # geomean speedup vs the committed detail plus improvement/
        # regression counts (same normalization as per_query_delta; a
        # query counts only past BOTH a 10% ratio and a 0.05 s absolute
        # band, so scheduling jitter on the sub-0.1 s long tail can't
        # inflate either count). Additive only: nothing existing moves.
        import math

        logs = [
            math.log((host_ratio * prev_queries[q]) / timings[q])
            for q in common
            if prev_queries[q] > 0 and timings[q] > 0
        ]
        if logs:
            summary["geomean_speedup_vs_committed"] = round(
                math.exp(sum(logs) / len(logs)), 4
            )
        summary["n_improved"] = sum(
            1 for q in common
            if prev_queries[q] > 0
            and timings[q] < host_ratio * prev_queries[q] / 1.1
            and host_ratio * prev_queries[q] - timings[q] > 0.05
        )
        summary["n_regressed"] = sum(
            1 for q in common
            if prev_queries[q] > 0
            and timings[q] > 1.1 * host_ratio * prev_queries[q]
            and timings[q] - host_ratio * prev_queries[q] > 0.05
        )

    detail = {"detail": "per_query_min_seconds", "queries": timings,
              "first_sample": first_sample, "layers": layers, **summary}
    if subset is None and common:
        detail["per_query_delta"] = per_query_delta
    if subset is None:
        try:
            with open(detail_path, "w") as fh:
                json.dump(detail, fh, indent=1, sort_keys=True)
        except OSError:
            pass  # detail file is best-effort; stdout lines are the contract
    print(json.dumps(detail))
    # compact summary printed LAST — this is the line the driver must parse
    print(json.dumps(summary))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
