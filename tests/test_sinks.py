"""End-to-end sink wiring: stream -> state machine -> foreachBatch ->
partitioned storage tables, then read back and check semantics."""

from __future__ import annotations

import glob
import os
import re
import time
from collections import Counter

import pyarrow.parquet as pq
import pytest

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from astarte_data_updater_plant_spark.storage.jobs import run_maintenance
from astarte_data_updater_plant_spark.storage.layout import (
    DATASTREAM_LOG_SCHEMA,
    PROPERTY_LOG_SCHEMA,
    compact_properties,
    read_device_table,
)
from astarte_data_updater_plant_spark.streaming.pipeline import (
    MESSAGE_SCHEMA,
    run_batch,
    run_stream,
)
from astarte_data_updater_plant_spark.streaming.sinks import (
    attach_sink,
    with_retry,
    write_outputs_batch,
)

from .fixtures_flow import DEVICE, messages_frame, simple_flow_messages


@pytest.fixture(scope="module")
def sunk_dir(spark, tmp_path_factory):
    """The simple flow streamed through run_stream -> attach_sink as two
    source files, one micro-batch each (split in reception order, so
    the device state carried across the batches sees the whole flow)."""
    base = tmp_path_factory.mktemp("sinks")
    src = str(base / "src")
    out = str(base / "tables")
    ckpt = str(base / "ckpt")
    msgs = sorted(simple_flow_messages(), key=lambda m: m["reception_timestamp"])
    files: list[str] = []
    for half in (msgs[:7], msgs[7:]):
        messages_frame(spark, half).coalesce(1).write.mode("append").parquet(src)
        (new,) = set(glob.glob(f"{src}/part-*.parquet")) - set(files)
        files.append(new)
    # the file source orders by mtime: stamp the files in write order
    now = time.time()
    for i, f in enumerate(files):
        os.utime(f, (now - 2.0 * (len(files) - i),) * 2)
    stream = (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    query = attach_sink(run_stream(stream), out, ckpt)
    query.awaitTermination(600)
    assert len(query.recentProgress) == 2
    return out


def _table_counts(spark, base: str) -> dict:
    """Row counts of the tables run_stream and run_batch both feed, the
    event and dead-letter channels per class (devices is batch-only:
    the streaming fold emits no snapshots)."""
    def per(table: str, col: str) -> dict:
        df = spark.read.parquet(f"{base}/{table}")
        return {r[col]: r["count"] for r in df.groupBy(col).count().collect()}

    def rows(table: str) -> int:
        try:
            return spark.read.parquet(f"{base}/{table}").count()
        except AnalysisException as e:  # only empty appends: no schema
            assert e.getCondition() == "UNABLE_TO_INFER_SCHEMA"
            return 0

    return {
        "individual_datastreams": rows("individual_datastreams"),
        "property_log": rows("property_log"),
        "device_commands": rows("device_commands"),
        "events_log": per("events_log", "event_type"),
        "dead_letters": per("dead_letters", "error"),
    }


def test_stream_sink_matches_batch_sink(spark, sunk_dir, tmp_path):
    """foreachBatch -> write_outputs_batch over two micro-batches lands
    the same rows as one write_outputs_batch over run_batch."""
    batch = str(tmp_path / "batch")
    write_outputs_batch(run_batch(messages_frame(spark)), batch)
    got, want = _table_counts(spark, sunk_dir), _table_counts(spark, batch)
    assert got == want
    assert got["individual_datastreams"] > 0 and got["dead_letters"]


def test_failed_write_is_raised_after_the_others_land(spark, tmp_path):
    """One table write failing (a regular file where dead_letters/
    should be) fails the batch with that error, but only after the
    other five writes have completed, and the input is unpersisted."""
    base = tmp_path / "tables"
    base.mkdir()
    (base / "dead_letters").write_text("not a directory")
    outputs = run_batch(messages_frame(spark))
    with pytest.raises(Exception, match="dead_letters"):
        write_outputs_batch(outputs, str(base))
    for table in (
        "individual_datastreams", "property_log", "events_log",
        "device_commands", "devices",
    ):
        assert (base / table / "_SUCCESS").is_file(), table
    assert spark.read.parquet(str(base / "individual_datastreams")).count() > 0
    level = outputs.storageLevel
    assert not (level.useMemory or level.useDisk)


def test_datastreams_landed_partitioned(spark, sunk_dir):
    """The datastream log is partitioned by realm directory; the device
    bucket is a column inside the files, not a directory."""
    ds = spark.read.parquet(f"{sunk_dir}/individual_datastreams")
    assert ds.count() > 0
    assert {"realm", "bucket"} <= set(ds.columns)
    assert ds.filter(F.col("integer_value").isNotNull()).count() > 0
    files = glob.glob(f"{sunk_dir}/individual_datastreams/realm=*/*.parquet")
    assert files
    file_columns = pq.read_schema(files[0]).names
    assert "bucket" in file_columns and "realm" not in file_columns


@pytest.mark.parametrize(
    "table, schema",
    [
        ("individual_datastreams", DATASTREAM_LOG_SCHEMA),
        ("property_log", PROPERTY_LOG_SCHEMA),
    ],
)
def test_logs_land_with_their_declared_schema(spark, sunk_dir, table, schema):
    """Maintenance reads the logs with the declared schemas: they must
    be exactly what the sink writes, or a column would be dropped."""
    landed = spark.read.parquet(f"{sunk_dir}/{table}").schema
    assert {(f.name, f.dataType) for f in landed} == {
        (f.name, f.dataType) for f in schema
    }


@pytest.fixture(scope="module")
def batch_tree(spark, tmp_path_factory):
    """The simple flow and the sf0.001 telemetry, two realms, through
    one sink batch and one maintenance cycle. Returns the tree and the
    sink input's partition count."""
    from astarte_data_updater_plant_spark.catalog import fixture_interfaces
    from astarte_data_updater_plant_spark.sources.stream import (
        events_as_messages,
        telemetry_interface,
    )

    base = str(tmp_path_factory.mktemp("batch") / "tables")
    msgs = messages_frame(spark).unionByName(
        events_as_messages(spark, "/root/testdata/sf0.001")
    )
    interfaces = (*fixture_interfaces(), telemetry_interface())
    outputs = run_batch(msgs, interfaces=interfaces).cache()
    outputs.count()
    write_outputs_batch(outputs, base)
    partitions = outputs.rdd.getNumPartitions()
    outputs.unpersist()
    # a cutoff before every expiry: the vacuum keeps every row
    run_maintenance(spark, base, F.lit("1970-01-01").cast("timestamp"))
    return base, partitions


def _log_files(base: str, table: str) -> list[str]:
    return glob.glob(f"{base}/{table}/**/*.parquet", recursive=True)


@pytest.mark.parametrize("table", ["individual_datastreams", "property_log"])
def test_logs_are_sorted_runs_per_partition_and_realm(spark, batch_tree, sunk_dir, table):
    """A log batch is one sorted run per (input partition, realm): no
    bucket directories, at most partitions x realms files, and rows in
    each file ordered by (bucket, device_id, interface, path,
    reception_timestamp)."""
    base, partitions = batch_tree
    for tree in (base, sunk_dir):
        assert not glob.glob(f"{tree}/{table}/**/bucket=*", recursive=True)
    files = _log_files(base, table)
    realms = spark.read.parquet(f"{base}/{table}").select("realm").distinct().count()
    assert 0 < len(files) <= partitions * realms
    files += _log_files(sunk_dir, table)
    key = ("bucket", "device_id", "interface", "path", "reception_timestamp")
    for f in files:
        rows = pq.read_table(f, columns=list(key)).to_pylist()
        ordered = [tuple((r[k] is not None, r[k]) for k in key) for r in rows]
        assert ordered == sorted(ordered), f


def test_property_log_compacts_to_lww(spark, sunk_dir):
    log = spark.read.parquet(f"{sunk_dir}/property_log")
    live = compact_properties(log)
    paths = {r.path for r in live.select("path").collect()}
    # /lcdCommand pruned by /producer/properties, /time/from unset
    # afterwards -> only the surviving parametric property remains
    assert paths == {"/weekSchedule/2/start"}


def test_events_log_partitioned_by_type(spark, sunk_dir):
    ev = spark.read.parquet(f"{sunk_dir}/events_log")
    types = {r.event_type for r in ev.select("event_type").distinct().collect()}
    assert "device_connected" in types and "device_disconnected" in types


def test_dead_letters_written(spark, sunk_dir):
    import os

    assert os.path.isdir(f"{sunk_dir}/dead_letters")


def test_device_snapshots(spark, sunk_dir):
    snaps = spark.read.parquet(f"{sunk_dir}/devices")
    assert snaps.count() == 0 or "connected" in snaps.columns


def test_maintenance_on_telemetry_only_tree(spark, tmp_path):
    """A sink tree that never received a property write has an empty
    property log; maintenance reports zero live properties instead of
    failing to infer the log's schema."""
    from astarte_data_updater_plant_spark.sources.stream import (
        events_as_messages,
        telemetry_interface,
    )

    base = str(tmp_path / "tables")
    msgs = events_as_messages(spark, "/root/testdata/sf0.001")
    write_outputs_batch(run_batch(msgs, interfaces=(telemetry_interface(),)), base)
    stats = run_maintenance(spark, base, F.current_timestamp())
    assert stats["properties_live"] == 0
    assert not os.path.exists(f"{base}/individual_properties")
    vacuumed = spark.read.parquet(f"{base}/individual_datastreams_vacuumed").count()
    assert stats["datastreams_live"] == vacuumed > 0


def _scan_filters(df, kind: str) -> str:
    """The ``PartitionFilters`` or ``PushedFilters`` list of the scan
    (cut at ``spark.sql.maxMetadataStringLength``)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.search(rf"{kind}: \[([^\]]*)", plan).group(1)


def test_point_read_same_rows_from_log_and_maintained_table(spark, batch_tree):
    """read_device_table returns a device's rows from the log, where
    bucket is a pushed-down column, and from the vacuumed table, where
    it is a directory, alike."""
    base, _ = batch_tree
    log = spark.read.parquet(f"{base}/individual_datastreams")
    devices = {DEVICE} | {
        r.device_id for r in log.filter(F.col("device_id") != DEVICE)
        .select("device_id").distinct().limit(2).collect()
    }
    assert len(devices) == 3
    for device in devices:
        got = {}
        for table in ("individual_datastreams", "individual_datastreams_vacuumed"):
            df = read_device_table(spark, f"{base}/{table}", device_id=device)
            got[table] = Counter(map(tuple, df.select(*sorted(df.columns)).collect()))
            pruned_by = "PushedFilters" if table == "individual_datastreams" else "PartitionFilters"
            assert "bucket" in _scan_filters(df, pruned_by)
        assert got["individual_datastreams"] == got["individual_datastreams_vacuumed"]
        assert got["individual_datastreams"], device


def test_maintenance_on_property_only_tree(spark, tmp_path):
    """The mirror of the telemetry-only tree: with only property
    traffic the datastream log holds no rows, and maintenance reports
    zero live datastreams instead of failing to infer its schema."""
    base = str(tmp_path / "tables")
    msgs = [
        m for m in simple_flow_messages()
        if m["interface"] in (None, "com.test.LCDMonitor")
    ]
    write_outputs_batch(run_batch(messages_frame(spark, msgs)), base)
    assert not _log_files(base, "individual_datastreams")
    stats = run_maintenance(spark, base, F.current_timestamp())
    assert stats["datastreams_live"] == 0
    assert not os.path.exists(f"{base}/individual_datastreams_vacuumed")
    props = spark.read.parquet(f"{base}/individual_properties").count()
    assert stats["properties_live"] == props > 0


def test_with_retry_backs_off_then_raises():
    calls = []

    def boom():
        calls.append(1)
        raise RuntimeError("nope")

    with pytest.raises(RuntimeError):
        with_retry(boom, max_exp=3, base_sleep_s=0.0001)
    assert len(calls) == 4

    ok_after = []

    def flaky():
        ok_after.append(1)
        if len(ok_after) < 3:
            raise RuntimeError("transient")

    with_retry(flaky, max_exp=5, base_sleep_s=0.0001)
    assert len(ok_after) == 3

    # a non-transient analysis error is raised on the first attempt
    analysis = []

    def bad_schema():
        analysis.append(1)
        raise AnalysisException("schema mismatch")

    with pytest.raises(AnalysisException):
        with_retry(bad_schema, max_exp=3, base_sleep_s=0.0001)
    assert len(analysis) == 1
