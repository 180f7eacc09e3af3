"""Sources & sinks round-trips (§2.1 row 3: text/csv/json surface)."""

from __future__ import annotations

from distributed_system_mapreduce_spark.sources import io as sio
from pyspark.sql import functions as F
from conftest import SF_SMOKE


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    ev = sio.load(spark, SF_SMOKE, "events").limit(200)
    out = str(tmp_path / "ev_parquet")
    sio.write_parquet(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out)
    assert back.count() == 200
    # partition pruning: reading one event_type touches one directory
    one = back.filter("event_type = 'click'")
    assert one.count() == ev.filter("event_type = 'click'").count()


def test_csv_roundtrip(spark, tmp_path):
    df = sio.load(spark, SF_SMOKE, "nation")
    out = str(tmp_path / "nation_csv")
    sio.write_csv(df, out)
    back = sio.read_csv(spark, out)
    assert back.count() == 25
    assert set(back.columns) == set(df.columns)


def test_json_roundtrip(spark, tmp_path):
    df = sio.load(spark, SF_SMOKE, "region")
    out = str(tmp_path / "region_json")
    sio.write_json(df, out)
    back = sio.read_json(spark, out)
    assert {r["r_name"] for r in back.collect()} == {
        r["r_name"] for r in df.collect()
    }


def test_orc_roundtrip(spark, tmp_path):
    df = sio.load(spark, SF_SMOKE, "supplier")
    out = str(tmp_path / "supplier_orc")
    sio.write_orc(df, out)
    back = sio.read_orc(spark, out)
    assert back.count() == df.count()
    assert back.schema == df.schema


def test_text_input(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("alpha beta\ngamma\n")
    df = sio.read_text(spark, str(p))
    assert df.count() == 2
    assert df.columns == ["value"]


def test_read_json_skip_bad_quarantines_corrupt_rows(spark, tmp_path):
    """OSDI'04 §4.6 parity: malformed records must not kill the job NOR
    vanish silently — they surface in _corrupt_record for quarantine."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from distributed_system_mapreduce_spark.sources.io import read_json_skip_bad

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "{this is not json}\n"
        '{"id": 2, "name": "also ok"}\n'
        '{"id": "not-a-number", "name": "type clash"}\n'
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    df = read_json_skip_bad(spark, str(p), schema).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert df.count() == 4
    assert good.count() == 2
    assert {r["id"] for r in good.collect()} == {1, 2}
    assert bad.count() == 2  # parse failure + type clash, both captured
    assert all(r["_corrupt_record"] for r in bad.collect())
    df.unpersist()


def test_table_memo_invalidates_on_fixture_rewrite(spark, tmp_path):
    """ADVICE r11: the per-session table memo must not serve a stale
    file-listing snapshot after a harness regenerates fixture files into
    the same sf_dir — the memo key carries a path fingerprint
    (mtime_ns, size), so a rewrite forces a re-list."""
    import time

    from distributed_system_mapreduce_spark.sources.io import load

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(0, "AFRICA", "x")], "r_regionkey long, r_name string, r_comment string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/region.parquet")
    first = load(spark, sf_dir, "region")
    assert first.count() == 1

    time.sleep(0.05)  # ensure a distinct mtime_ns on the rewrite
    spark.createDataFrame(
        [(0, "AFRICA", "x"), (1, "AMERICA", "y")],
        "r_regionkey long, r_name string, r_comment string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/region.parquet")
    assert load(spark, sf_dir, "region").count() == 2
