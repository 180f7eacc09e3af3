"""Scale-technique demonstrations: salting, bucketed joins, stateful
streaming — result-identical to their naive forms, with the physical
property that matters asserted."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from distributed_system_mapreduce_spark.functions.skew import salted_count, salted_join
from distributed_system_mapreduce_spark.plans import explain_str
from distributed_system_mapreduce_spark.sources.io import load

from conftest import SF_SMOKE


def test_salted_join_matches_plain_join(spark):
    orders = load(spark, SF_SMOKE, "orders")
    customer = load(spark, SF_SMOKE, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = {
        (r["o_orderkey"], r["c_name"])
        for r in orders.join(customer, "o_custkey").select("o_orderkey", "c_name").collect()
    }
    salted = {
        (r["o_orderkey"], r["c_name"])
        for r in salted_join(orders, customer, "o_custkey", n_salts=4)
        .select("o_orderkey", "c_name")
        .collect()
    }
    assert salted == plain


def test_salted_count_matches_plain_count(spark):
    ev = load(spark, SF_SMOKE, "events")
    plain = {
        (r["user_id"], r["cnt"])
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    salted = {
        (r["user_id"], r["cnt"]) for r in salted_count(ev, "user_id", 4).collect()
    }
    assert salted == plain


def test_jaccard_hot_shingle_cap(spark):
    """The skew guard drops shingles above the df cap from pair generation:
    a stop-shingle shared by every doc must stop producing pairs once the
    cap excludes it, and surviving pair scores must reflect the pruned sets."""
    from distributed_system_mapreduce_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown cat sits"),
            (3, "the quick brown dog runs"),
        ],
        "doc_id long, text string",
    )
    # uncapped: all pairs meet via the hot shingle "the quick brown"
    uncapped = jaccard_pairs(docs).collect()
    assert {(r.a_id, r.b_id) for r in uncapped} == {(1, 2), (1, 3), (2, 3)}
    # df=3 > cap=2 drops the hot shingle; remaining shingles are disjoint
    capped = jaccard_pairs(docs, df_cap=2).collect()
    assert capped == []


def test_jaccard_cap_inert_at_test_scale(spark):
    """The default cap (1000) must not change sf-test output — no shingle
    reaches that document frequency in 500 docs."""
    from distributed_system_mapreduce_spark.operators.dedup import jaccard_pairs

    docs = load(spark, SF_SMOKE, "documents")
    with_guard = {tuple(r) for r in jaccard_pairs(docs).collect()}
    without = {tuple(r) for r in jaccard_pairs(docs, df_cap=10**9).collect()}
    assert with_guard == without


def test_connected_components_deep_chain(spark, monkeypatch):
    """A 100-node chain (diameter 99) must converge within the pointer-
    jumping bound (~log2 rounds), far under CC_MAX_ROUNDS — the guard
    against O(diameter) label propagation on pathological components.
    ``cache.LOCAL_TAIL_MAX`` 0 keeps the loop distributed."""
    from distributed_system_mapreduce_spark import cache
    from distributed_system_mapreduce_spark.operators.dedup import (
        connected_components,
    )

    monkeypatch.setattr(cache, "LOCAL_TAIL_MAX", 0)
    n = 100
    pairs = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    labels = connected_components(edges, max_rounds=12).collect()
    assert len(labels) == n
    assert {r.label for r in labels} == {0}


def test_connected_components_multi_component(spark, monkeypatch):
    """Distributed loop (``cache.LOCAL_TAIL_MAX`` 0): each component is
    labeled with its min id."""
    from distributed_system_mapreduce_spark import cache
    from distributed_system_mapreduce_spark.operators.dedup import (
        connected_components,
    )

    monkeypatch.setattr(cache, "LOCAL_TAIL_MAX", 0)
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    got = {
        (r.id, r.label) for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both sides on the join key pre-materializes the shuffle:
    the join plan must contain no Exchange on the bucketed keys.
    (Uses the default ./spark-warehouse, which is gitignored.)"""
    orders = load(spark, SF_SMOKE, "orders")
    customer = load(spark, SF_SMOKE, "customer")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
        "overwrite"
    ).saveAsTable("orders_b")
    customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode(
        "overwrite"
    ).saveAsTable("customer_b")
    # disable auto-broadcast so the test exercises the shuffle-free SMJ path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ob = spark.table("orders_b")
        cb = spark.table("customer_b")
        j = ob.join(cb, ob.o_custkey == cb.c_custkey).select("o_orderkey", "c_name")
        plan = explain_str(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() == load(spark, SF_SMOKE, "orders").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("drop table if exists orders_b")
        spark.sql("drop table if exists customer_b")
