"""End-to-end sink wiring: stream -> state machine -> foreachBatch ->
partitioned storage tables, then read back and check semantics."""

from __future__ import annotations

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

from .fixtures_flow import simple_flow_messages


@pytest.fixture(scope="module")
def sunk_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("sinks")
    src = str(base / "src")
    out = str(base / "tables")
    ckpt = str(base / "ckpt")
    msgs = simple_flow_messages()
    spark.createDataFrame(
        [tuple(m[f.name] for f in MESSAGE_SCHEMA.fields) for m in msgs],
        MESSAGE_SCHEMA,
    ).write.parquet(src)
    stream = spark.readStream.schema(MESSAGE_SCHEMA).parquet(src)
    query = attach_sink(run_stream(stream), out, ckpt)
    query.awaitTermination(600)
    return out


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
    assert stats["datastreams_live"] > 0


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
