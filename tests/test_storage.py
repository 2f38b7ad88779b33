"""Storage layout: partition pruning, LWW compaction, TTL vacuum."""

from __future__ import annotations

import datetime as dt
import glob

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from astarte_data_updater_plant_spark.storage.jobs import vacuum_datastreams
from astarte_data_updater_plant_spark.storage.layout import (
    append_device_log,
    compact_properties,
    device_bucket,
    live_view,
    read_device_table,
    write_device_table,
)

UTC = dt.timezone.utc


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, tzinfo=UTC) + dt.timedelta(seconds=s)


@pytest.fixture(scope="module")
def table_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "datastreams")
    rows = [
        ("realm_a", f"dev{i % 7}", "com.iot.T", f"/s{i % 3}/value", _ts(i), float(i))
        for i in range(200)
    ] + [
        ("realm_b", f"dev{i % 5}", "com.iot.T", "/s0/value", _ts(i), float(i))
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows,
        "realm string, device_id string, interface string, path string,"
        " reception_timestamp timestamp, double_value double",
    )
    write_device_table(df.withColumn("bucket", device_bucket(F.col("device_id"), 8)), path)
    return path


def test_roundtrip_and_realm_pruning(spark, table_dir):
    df = read_device_table(spark, table_dir, realm="realm_a")
    assert df.count() == 200
    plan = df._jdf.queryExecution().executedPlan().toString()
    # realm filter must land in PartitionFilters (directory pruning),
    # not in the post-scan Filter
    assert "PartitionFilters" in plan
    assert "realm_a" in plan.split("PushedFilters")[0]


def test_device_point_read_prunes_to_one_bucket(spark, table_dir):
    df = read_device_table(
        spark, table_dir, realm="realm_a", device_id="dev3", n_buckets=8
    )
    rows = df.select("device_id").distinct().collect()
    assert [r.device_id for r in rows] == ["dev3"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # only rows whose bucket matches dev3's are scanned
    expected_bucket = (
        spark.range(1)
        .select(device_bucket(F.lit("dev3"), 8).alias("b"))
        .first()
        .b
    )
    assert df.select("bucket").distinct().first().bucket == expected_bucket


def test_device_table_files_keep_their_order(table_dir):
    """Rows inside every file of the clustered layout are ordered by
    (device_id, interface, path, reception_timestamp)."""
    key = ["device_id", "interface", "path", "reception_timestamp"]
    files = glob.glob(f"{table_dir}/realm=*/bucket=*/*.parquet")
    assert files
    for f in files:
        rows = [tuple(r.values()) for r in pq.read_table(f, columns=key).to_pylist()]
        assert rows == sorted(rows), f


def test_compact_properties_lww_and_tombstones(spark):
    rows = [
        # key set twice -> latest value wins
        ("r", "d1", "i", "/p", _ts(10), 1.0, False),
        ("r", "d1", "i", "/p", _ts(20), 2.0, False),
        # key set then unset -> disappears
        ("r", "d1", "i", "/q", _ts(10), 3.0, False),
        ("r", "d1", "i", "/q", _ts(30), None, True),
        # unset then re-set -> resurrected with the new value
        ("r", "d2", "i", "/p", _ts(10), None, True),
        ("r", "d2", "i", "/p", _ts(40), 4.0, False),
    ]
    log = spark.createDataFrame(
        rows,
        "realm string, device_id string, interface string, path string,"
        " reception_timestamp timestamp, double_value double, is_delete boolean",
    )
    got = {
        (r.device_id, r.path): r.double_value
        for r in compact_properties(log).collect()
    }
    assert got == {("d1", "/p"): 2.0, ("d2", "/p"): 4.0}


def test_ttl_live_view_and_vacuum(spark, tmp_path):
    src = str(tmp_path / "ttl_src")
    out = str(tmp_path / "ttl_out")
    rows = [
        ("r", "d1", "i", "/p", _ts(0), _ts(100)),   # expired at cutoff 200
        ("r", "d1", "i", "/p", _ts(0), _ts(300)),   # live
        ("r", "d2", "i", "/p", _ts(0), None),       # no TTL -> live forever
    ]
    df = spark.createDataFrame(
        rows,
        "realm string, device_id string, interface string, path string,"
        " reception_timestamp timestamp, expires_at timestamp",
    )
    append_device_log(df, src)
    cutoff = F.lit(_ts(200))
    assert live_view(spark.read.parquet(src), cutoff).count() == 2
    assert vacuum_datastreams(spark, src, cutoff, out) == 2
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert back.filter(F.col("expires_at").isNotNull()).count() == 1


def test_maintenance_jobs(spark, tmp_path):
    """End-to-end: sink a flow, compact + vacuum, read back."""
    import pyspark.sql.functions as F2

    from astarte_data_updater_plant_spark.storage.jobs import run_maintenance
    from astarte_data_updater_plant_spark.streaming.pipeline import (
        MESSAGE_SCHEMA,
        run_batch,
    )
    from astarte_data_updater_plant_spark.streaming.sinks import write_outputs_batch

    from .fixtures_flow import simple_flow_messages

    base = str(tmp_path / "maint")
    msgs = simple_flow_messages()
    df = spark.createDataFrame(
        [tuple(m[f.name] for f in MESSAGE_SCHEMA.fields) for m in msgs],
        MESSAGE_SCHEMA,
    )
    write_outputs_batch(run_batch(df), base)
    stats = run_maintenance(
        spark, base, F2.lit("2020-01-01 00:00:00").cast("timestamp")
    )
    props = spark.read.parquet(f"{base}/individual_properties")
    vacuumed = spark.read.parquet(f"{base}/individual_datastreams_vacuumed")
    # the counts are observed during the writes: they equal a read-back
    assert stats["properties_live"] == props.count() == 1  # only /weekSchedule/2/start
    assert stats["datastreams_live"] == vacuumed.count() >= 2
    assert [r.path for r in props.select("path").collect()] == [
        "/weekSchedule/2/start"
    ]
