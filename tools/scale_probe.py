#!/usr/bin/env python
"""Empirical scale probe (VERDICT r6 #6): measure how the heavy queries
actually scale, instead of arguing from plan shape alone.

Builds deterministic xR replicas of the sf0.1 fixture into /tmp (the driver
testdata stays read-only), times the heaviest registered queries at each
scale with bench.py's ``sweep`` (min over ``--runs`` interleaved passes of
the builder call plus noop write), and fits a per-query scaling exponent
alpha from t ~ c * R^alpha by least squares over log-log points. alpha ~ 1
is linear (what a 100 TB deployment needs), alpha >> 1 names the next fix.

Replication is key-offset, not duplication — each replica is DISJOINT new
data with the same statistics, so dedup/graph/join cardinalities grow the
way a bigger corpus grows, not quadratically the way naive row copying
would make them:

- documents: doc_id offset; every token in replica r>0 is tagged ``~r`` so
  replicas share no shingles (vocabulary grows with corpus, as real data);
- embeddings: vec_id offset; dims cyclically shifted by r (norms and
  within-replica geometry preserved, cross-replica cosines scrambled);
- events: event_id/user_id offset (event_type/ts untouched: group-key
  cardinality stays constant while rows grow — the realistic shape);
- orders/lineitem/part: order and part keys offset together, so the
  co-purchase graph gains R disjoint components with the original degree
  distribution (nodes x R, edges x R);
- region/nation/customer/supplier: copied as-is (shared dimensions).

Usage:
    python tools/scale_probe.py [--replicas 1,2,4] [--runs 2]
        [--src /root/testdata/sf0.1] [--out /tmp/spark_graft_scale]

Prints one JSON line per scale plus a final {"exponents": ...} line; the
curated result lives in BASELINE.md's scale-probe table.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: key offset between replicas — far above every fixture key range.
OFFSET = 10_000_000

#: the probe set: the heaviest families from BENCH_DETAIL (dedup CC +
#: LSH + incremental probe, the three graph loop shapes, Lloyd training,
#: the full curation pipeline, one TPC-H-style heavy, one ANN quality
#: sweep). dedup_winnow is kept to re-measure the r7 BIGINT rework.
PROBE_QUERIES = (
    "dedup_winnow",
    "dedup_near_minhash",
    "dedup_cluster",
    "dedup_incremental",
    "graph_pagerank",
    "graph_kcore",
    "graph_common_neighbors",
    "graph_assoc_rules",
    "embed_kmeans",
    "pipeline_train_corpus",
    "sql_nation_volume",
    "sim_ann_recall",
    # r8 additions (VERDICT r7 #4): the r7-late heavies + the two
    # re-planned rank-window queries, post salted-topk fix
    "sim_pq_recall",
    "graph_bfs_hops",
    "eval_confusion_centroid",
    "eval_ndcg_at_k",
    "cdc_merge_upserts",
    "sample_negative_pairs",
)

_COPY_TABLES = ("region", "nation", "customer", "supplier")


def build_replica_dir(spark, src: str, out_dir: str, reps: int) -> None:
    """Materialize the xR fixture into ``out_dir`` (skips if present)."""
    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.sources.io import load

    done_marker = os.path.join(out_dir, "_PROBE_DONE")
    if os.path.exists(done_marker):
        return
    os.makedirs(out_dir, exist_ok=True)

    def out(name):
        return os.path.join(out_dir, f"{name}.parquet")

    def replicate(df, exprs_fn):
        parts = [exprs_fn(df, r) for r in range(reps)]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionAll(p)
        return u

    for t in _COPY_TABLES:
        load(spark, src, t).write.mode("overwrite").parquet(out(t))

    docs = load(spark, src, "documents")
    replicate(
        docs,
        lambda df, r: df.select(
            (F.col("doc_id") + F.lit(r * OFFSET)).alias("doc_id"),
            (
                F.col("text")
                if r == 0
                else F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda w: F.concat(w, F.lit(f"~{r}")),
                    ),
                    " ",
                )
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        ),
    ).write.mode("overwrite").parquet(out("documents"))

    emb = load(spark, src, "embeddings")
    replicate(
        emb,
        lambda df, r: df.select(
            (F.col("vec_id") + F.lit(r * OFFSET)).alias("vec_id"),
            (
                F.col("embedding")
                if r == 0
                else F.expr(
                    f"concat(slice(embedding, {r % 64} + 1,"
                    f" size(embedding) - {r % 64}),"
                    f" slice(embedding, 1, {r % 64}))"
                )
            ).alias("embedding"),
            "label",
        ),
    ).write.mode("overwrite").parquet(out("embeddings"))

    ev = load(spark, src, "events")
    replicate(
        ev,
        lambda df, r: df.select(
            (F.col("event_id") + F.lit(r * OFFSET)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(r * OFFSET)).alias("user_id"),
            "event_type",
            "value",
            "props",
        ),
    ).write.mode("overwrite").parquet(out("events"))

    orders = load(spark, src, "orders")
    replicate(
        orders,
        lambda df, r: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(r * OFFSET)
        ),
    ).write.mode("overwrite").parquet(out("orders"))

    li = load(spark, src, "lineitem")
    replicate(
        li,
        lambda df, r: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(r * OFFSET)
        ).withColumn("l_partkey", F.col("l_partkey") + F.lit(r * OFFSET)),
    ).write.mode("overwrite").parquet(out("lineitem"))

    part = load(spark, src, "part")
    replicate(
        part,
        lambda df, r: df.withColumn(
            "p_partkey", F.col("p_partkey") + F.lit(r * OFFSET)
        ),
    ).write.mode("overwrite").parquet(out("part"))

    with open(done_marker, "w") as fh:
        fh.write("ok\n")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", default="1,2,4")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/spark_graft_scale")
    ap.add_argument("--queries", default=",".join(PROBE_QUERIES))
    args = ap.parse_args()
    scales = [int(x) for x in args.replicas.split(",")]
    names = args.queries.split(",")

    from bench import sweep
    from distributed_system_mapreduce_spark.cache import clear_tracked_caches
    from distributed_system_mapreduce_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("dsmr-scale-probe", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, dict[int, float]] = {n: {} for n in names}
    for reps in scales:
        d = os.path.join(args.out, f"x{reps}")
        build_replica_dir(spark, args.src, d, reps)
        samples = sweep(spark, d, names, args.runs)
        for n in names:
            timings[n][reps] = round(min(b + e for b, _p, e in samples[n]), 3)
        # caches must not carry one scale's artifacts into the next
        clear_tracked_caches()
        print(
            json.dumps(
                {"scale": reps, "queries": {n: timings[n][reps] for n in names}}
            )
        )
        sys.stdout.flush()

    exponents = {}
    for n in names:
        pts = [
            (math.log(r), math.log(t))
            for r, t in sorted(timings[n].items())
            if t > 0
        ]
        if len(pts) >= 2:
            mx = sum(x for x, _ in pts) / len(pts)
            my = sum(y for _, y in pts) / len(pts)
            sxx = sum((x - mx) ** 2 for x, _ in pts)
            sxy = sum((x - mx) * (y - my) for x, y in pts)
            exponents[n] = round(sxy / sxx, 2) if sxx else None
    print(json.dumps({"exponents": exponents, "timings": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
