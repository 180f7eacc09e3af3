"""plans.salted_topk — the shared salted two-stage top-k (VERDICT r7 #2/#5).

Two guarantees: (1) row-identical to the naive single-window rank for any
bucket count, including ties broken by the unique column; (2) the plan of
every converted retrieval/sampler query actually routes through the salted
stage (no remaining corpus-sized window partitioned only by the tiny group
key).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.plans import explain_str, salted_topk
from distributed_system_mapreduce_spark.registry import QUERIES

from conftest import SF_DIR


def _fixture(spark):
    # 3 groups x 400 rows with heavy score ties so tiebreaks matter
    rows = [(i % 3, i, (i * 7) % 5) for i in range(1200)]
    return spark.createDataFrame(rows, "grp int, id bigint, score int")


@pytest.mark.parametrize("buckets", [1, 5, 32])
def test_salted_topk_matches_naive_window(spark, buckets):
    df = _fixture(spark)
    order = [F.desc("score"), F.asc("id")]
    got = salted_topk(
        df, order, 7, salt_col="id", group_cols=("grp",), buckets=buckets
    )
    w = Window.partitionBy("grp").orderBy(*order)
    want = (
        df.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 7)
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_salted_topk_global_matches_naive(spark):
    df = _fixture(spark)
    order = [F.desc("score"), F.asc("id")]
    got = salted_topk(df, order, 10, salt_col="id", rank_col="rn")
    want = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(*order))
    ).filter(F.col("rn") <= 10)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_salted_topk_k_larger_than_group(spark):
    # k above the group size keeps every row with correct dense ranks
    df = spark.createDataFrame(
        [(0, 1, 9), (0, 2, 9), (1, 3, 1)], "grp int, id bigint, score int"
    )
    got = salted_topk(
        df,
        [F.desc("score"), F.asc("id")],
        50,
        salt_col="id",
        group_cols=("grp",),
    ).collect()
    assert len(got) == 3
    ranks = {(r.grp, r.id): r.rnk for r in got}
    assert ranks == {(0, 1): 1, (0, 2): 2, (1, 3): 1}


#: queries re-planned onto salted_topk — each had a rank window whose only
#: partition key is a handful of groups (or nothing), i.e. corpus-sized
#: single-task sorts at scale.
_CONVERTED = [
    "eval_ndcg_at_k",
    "sample_negative_pairs",
    "sample_stratified",
    "sample_weighted_mix",
    "sample_weighted_reservoir",
    "text_bm25_topk",
    "knn_label_vote",
    "sim_ann_recall",
    "sim_quantized_recall",
    "topk_per_group",
    "text_tfidf_top",
    # sim_pq_recall also routes through salted_topk (shortlist + exact arm)
    # but building its DataFrame runs Lloyd training — covered by
    # test_ann_quality instead of a plan probe here.
]


@pytest.mark.parametrize("name", _CONVERTED)
def test_converted_queries_route_through_salt(name, spark):
    plan = explain_str(QUERIES[name](spark, SF_DIR), mode="formatted")
    assert "__topk_salt" in plan, f"{name} lost its salted stage-1 window"


def test_exact_recall_baseline_is_one_shared_plan(spark):
    """Every ANN recall query must share ONE exact ground-truth arm and ONE
    seeded IVF assignment. Spark's CacheManager dedupes by semantic plan
    and cache.track dedupes its registry the same way, so it suffices that
    repeated builder calls produce semantically identical frames and do not
    grow the tracked set."""
    from distributed_system_mapreduce_spark.cache import tracked_count
    from distributed_system_mapreduce_spark.functions.vectors import (
        exact_topk_baseline,
        seeded_ivf_assign,
    )

    a = exact_topk_baseline(spark, SF_DIR)
    n_after_first = tracked_count()
    b = exact_topk_baseline(spark, SF_DIR)
    assert a.sameSemantics(b)
    assert tracked_count() == n_after_first  # track() deduped, not re-added
    s = seeded_ivf_assign(spark, SF_DIR)
    n_after_assign = tracked_count()
    t = seeded_ivf_assign(spark, SF_DIR)
    assert s.sameSemantics(t)
    assert tracked_count() == n_after_assign
