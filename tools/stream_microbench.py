#!/usr/bin/env python
"""Streaming-operator micro-bench.

The registered-query bench never exercises the streaming modules (they
have no bench path by design — the driver contract is batch queries), so
this tool gives the stateful dedup / CDC paths a measured wall-clock
number: each operator drains a bounded ``availableNow`` replay of the
sf-dir parquet into the in-memory sink (the exact harness
tests/test_streaming.py proves batch-equal), min-of-N end-to-end seconds
per operator, one JSON line to stdout.

Usage: python tools/stream_microbench.py [--sf-dir DIR] [--runs 2]

``--sf-dir`` defaults to the sf0.01 fixture.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be >= 1")

    from pyspark.sql import functions as F

    from distributed_system_mapreduce_spark.session import get_spark
    from distributed_system_mapreduce_spark.sources.io import load
    from distributed_system_mapreduce_spark.streaming import (
        cdc_upsert_stream,
        cms_sketch_stream,
        dedup_exact_stream,
        ewma_stream,
        minhash_candidates_stream,
        minhash_verified_stream,
        rate_anomaly_stream,
        read_documents_stream,
        run_available_now,
    )
    from distributed_system_mapreduce_spark.streaming.windows import (
        read_events_stream,
    )

    spark = get_spark("dsmr-stream-bench", cpus=args.cpus,
                      shuffle_partitions=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sf = args.sf_dir

    # one-batch replay of the changelog projection through a parquet
    # written once per invocation from --sf-dir, outside the timed runs
    # (the events source parquet has NANOS timestamps the vanilla
    # readStream path refuses; the CDC op keys on epoch-us)
    tmp_dir = tempfile.mkdtemp(prefix="stream_bench_")
    events_path = os.path.join(tmp_dir, "events")
    load(spark, sf, "events").select(
        "user_id", "event_id", "event_type", "value",
        F.unix_micros("ts").alias("ts_epoch"),
    ).write.parquet(events_path)

    def events_stream():
        schema = ("user_id long, event_id long, event_type string, "
                  "value double, ts_epoch long")
        return spark.readStream.schema(schema).parquet(events_path)

    cases = {
        "dedup_exact_stream": lambda: run_available_now(
            dedup_exact_stream(read_documents_stream(spark, sf)),
            "mb_dedup_exact", mode="append"),
        "minhash_candidates_stream": lambda: run_available_now(
            minhash_candidates_stream(read_documents_stream(spark, sf)),
            "mb_minhash_cand", mode="append"),
        "minhash_verified_stream": lambda: run_available_now(
            minhash_verified_stream(read_documents_stream(spark, sf)),
            "mb_minhash_ver", mode="append"),
        "cdc_upsert_stream": lambda: run_available_now(
            cdc_upsert_stream(events_stream()),
            "mb_cdc_upsert", mode="update"),
        "cms_sketch_stream": lambda: run_available_now(
            cms_sketch_stream(read_events_stream(spark, sf)), "mb_cms"),
        "ewma_stream": lambda: run_available_now(
            ewma_stream(read_events_stream(spark, sf)), "mb_ewma"),
        "rate_anomaly_stream": lambda: run_available_now(
            rate_anomaly_stream(read_events_stream(spark, sf)), "mb_rate"),
    }

    out: dict[str, float | str] = {}
    for name, fn in sorted(cases.items()):
        best = None
        for _ in range(args.runs):
            t0 = time.perf_counter()
            try:
                fn().collect()
            except Exception as exc:  # record, keep sweeping
                out[name] = f"ERROR: {type(exc).__name__}: {exc}"[:200]
                break
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        else:
            out[name] = round(best, 3)
    print(json.dumps({"sf_dir": sf, "runs": args.runs, "seconds": out}))
    spark.stop()
    shutil.rmtree(tmp_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
