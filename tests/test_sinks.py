"""End-to-end sink wiring: stream -> state machine -> foreachBatch ->
partitioned storage tables, then read back and check semantics."""

from __future__ import annotations

import glob
import os
import time

import pytest

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from astarte_data_updater_plant_spark.storage.jobs import run_maintenance
from astarte_data_updater_plant_spark.storage.layout import compact_properties
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

from .fixtures_flow import messages_frame, simple_flow_messages


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
    ds = spark.read.parquet(f"{sunk_dir}/individual_datastreams")
    assert ds.count() > 0
    assert {"realm", "bucket"} <= set(ds.columns)
    assert ds.filter(F.col("integer_value").isNotNull()).count() > 0


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
