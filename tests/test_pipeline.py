"""Spark-level ingest pipeline tests: the simple-flow scenario through
run_batch (applyInPandas) and run_stream (applyInPandasWithState),
asserting materialized table contents — the DataFrame-level port of
the reference's Cassandra read-back assertions."""

from __future__ import annotations

import pytest

from astarte_data_updater_plant_spark.catalog import fixture_interfaces
from astarte_data_updater_plant_spark.streaming.pipeline import (
    MESSAGE_SCHEMA,
    datastream_table,
    device_snapshots_table,
    errors_table,
    warnings_table,
    events_table,
    object_table,
    path_registry_table,
    properties_table,
    run_batch,
    run_stream,
)

from .fixtures_flow import DEVICE, REALM, simple_flow_messages


def _messages_df(spark):
    rows = [
        tuple(m.get(f.name) for f in MESSAGE_SCHEMA.fields)
        for m in simple_flow_messages()
    ]
    return spark.createDataFrame(rows, MESSAGE_SCHEMA)


@pytest.fixture(scope="module")
def outputs(spark):
    df = run_batch(_messages_df(spark))
    df.cache()
    df.count()
    return df


def test_datastream_table(spark, outputs):
    ds = datastream_table(outputs).orderBy("reception_timestamp").collect()
    assert len(ds) == 2
    assert [r.integer_value for r in ds] == [5, 6]
    assert all(r.device_id == DEVICE and r.realm == REALM for r in ds)
    assert all(r.value_timestamp is not None for r in ds)
    # value routed to exactly one typed column
    assert all(r.double_value is None and r.string_value is None for r in ds)


def test_properties_table(spark, outputs):
    props = {r.path: r for r in properties_table(outputs).collect()}
    # after prune + unset only /weekSchedule/2/start remains
    assert set(props) == {"/weekSchedule/2/start"}
    assert props["/weekSchedule/2/start"].longinteger_value == 12


def test_path_registry(spark, outputs):
    reg = path_registry_table(outputs).collect()
    assert {r.path for r in reg} == {"/0/value"}
    assert all(r.datetime_value is not None for r in reg)


def test_object_table(spark, outputs):
    _, _, obj_iface = fixture_interfaces()
    rows = object_table(outputs, obj_iface).orderBy("reception_timestamp").collect()
    assert len(rows) == 2
    assert rows[0].v_string == "aaa" and abs(rows[0].v_value - 1.1) < 1e-12
    # tombstone avoidance: second row has v_value NULL (absent), not overwritten
    assert rows[1].v_string == "bbb" and rows[1].v_value is None


def test_events_table(spark, outputs):
    ev = events_table(outputs)
    counts = {r["event_type"]: r["n"] for r in
              ev.groupBy("event_type").count().withColumnRenamed("count", "n").collect()}
    assert counts["device_connected"] == 1
    assert counts["device_disconnected"] == 1
    assert counts["interface_added"] == 3
    assert counts["value_change"] == 1
    assert counts["path_removed"] == 2
    assert counts["path_created"] == 3


def test_errors_table(spark, outputs):
    errs = errors_table(outputs).collect()
    assert {r.error for r in errs} == {"invalid_path"}


def test_warnings_table(spark, outputs):
    # the simple flow only unsets allow_unset=true mappings, so the
    # warning channel is empty — but reachable and typed like errors
    warns = warnings_table(outputs)
    assert warns.columns == ["realm", "device_id", "interface", "path", "error"]
    assert warns.count() == 0


def test_device_snapshot(spark, outputs):
    snap = device_snapshots_table(outputs).collect()
    assert len(snap) == 1
    s = snap[0]
    assert s.connected is False
    assert s.total_received_msgs == 10
    assert s.last_seen_ip == "10.0.0.1"
    assert "com.test.LCDMonitor" in s.introspection_json


def test_streaming_parity(spark, tmp_path):
    """run_stream over a file-per-trigger stream must produce the same
    datastream/property rows as run_batch (cross-batch state carry)."""
    msgs = _messages_df(spark)
    src = str(tmp_path / "stream_src")
    # two files -> at least two micro-batches; split mid-flow
    pdf = msgs.toPandas()
    spark.createDataFrame(pdf.iloc[:7], MESSAGE_SCHEMA).coalesce(1).write.parquet(src)
    spark.createDataFrame(pdf.iloc[7:], MESSAGE_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("pipe_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM pipe_out")
    ds = datastream_table(got).orderBy("reception_timestamp").collect()
    assert [r.integer_value for r in ds] == [5, 6]
    props = {r.path for r in properties_table(got).collect()}
    assert props == {"/weekSchedule/2/start"}


def _time_slices(msgs):
    from astarte_data_updater_plant_spark.operators.ingest import _time_sliced_files

    return _time_sliced_files(msgs, "reception_timestamp", prefix="test_mtime_"), None


def _ordered(msgs):
    from pyspark.sql import functions as F

    from astarte_data_updater_plant_spark.operators.ingest import _ordered_files

    third = F.pmod(F.xxhash64("message_id"), F.lit(3))
    frames = [msgs.filter(third == i) for i in range(3)]
    return _ordered_files(frames, "test_ordered_"), frames


@pytest.mark.parametrize(
    "writer", [_time_slices, _ordered], ids=["time_sliced", "ordered"]
)
def test_time_sliced_files_mtime_order(spark, sf_dir, writer):
    """Micro-batch order comes from file MTIME, not filename: both
    source writers must stamp strictly increasing mtimes in file order,
    or the file stream source replays slices out of order (observed at
    sf0.1: slice 1 ran as batch 0 and every data message dead-lettered
    before its device's introspection). Each file is one whole slice:
    the time slices are disjoint, consecutive ranges, and ordered file
    i holds exactly frame i's rows."""
    import glob
    import os

    from pyspark.sql import functions as F

    from astarte_data_updater_plant_spark.sources.stream import events_as_messages

    msgs = events_as_messages(spark, sf_dir)
    src, frames = writer(msgs)
    files = sorted(glob.glob(os.path.join(src, "*.parquet")))
    assert sorted(os.listdir(src)) == [os.path.basename(f) for f in files]
    assert len(files) == (4 if frames is None else len(frames))
    mtimes = [os.path.getmtime(f) for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
    assert len(set(int(m * 1000) for m in mtimes)) == len(files), (
        "mtimes must be distinct at the source's ms granularity"
    )
    if frames is None:
        ts = F.col("reception_timestamp")
        bounds = [
            spark.read.parquet(f).agg(F.min(ts), F.max(ts)).first() for f in files
        ]
        assert all(hi < lo for (_, hi), (lo, _) in zip(bounds, bounds[1:]))
    else:
        for f, frame in zip(files, frames):
            got = spark.read.parquet(f)
            assert got.count() == frame.count() > 0
            assert got.exceptAll(frame).count() == 0


def test_time_sliced_files_evaluates_its_input_once(spark):
    """The bounds action and the sliced write share one evaluation of
    the input, which over events_as_messages BSON-encodes every event."""
    from astarte_data_updater_plant_spark.operators.ingest import _time_sliced_files

    evaluated = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            evaluated.add(len(pdf))
            yield pdf

    n = 200
    df = spark.range(n).selectExpr("id", "timestamp_seconds(id) AS ts").mapInPandas(
        counted, "id long, ts timestamp"
    )
    src = _time_sliced_files(df, "ts", prefix="test_evaluated_once_")
    assert evaluated.value == n
    assert spark.read.parquet(src).count() == n


def test_time_sliced_files_keeps_a_callers_cache(spark):
    """An input the caller persisted stays cached across slicings, so
    bench.py's stream family, which slices its messages into 4 and
    then 8 files after counting them, encodes every event once."""
    from astarte_data_updater_plant_spark.operators.ingest import _time_sliced_files

    evaluated = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            evaluated.add(len(pdf))
            yield pdf

    n = 200
    df = (
        spark.range(n)
        .selectExpr("id", "timestamp_seconds(id) AS ts")
        .mapInPandas(counted, "id long, ts timestamp")
        .persist()
    )
    try:
        assert df.count() == n
        for slices in (4, 8):
            src = _time_sliced_files(df, "ts", n_slices=slices, prefix="test_callers_cache_")
            assert spark.read.parquet(src).count() == n
        assert df.is_cached
        assert evaluated.value == n
    finally:
        df.unpersist()


def test_stamp_ordered_rejects_out_of_range_idx(tmp_path):
    """The mtime-stamp invariant (strictly in the past) inverts for
    idx >= 1024; the guard must fail loudly instead of reordering
    micro-batches silently (ADVICE r7)."""
    import time

    import pytest

    from astarte_data_updater_plant_spark.operators.ingest import _stamp_ordered

    p = tmp_path / "f.parquet"
    p.write_bytes(b"x")
    _stamp_ordered(str(p), 1023, time.time())  # max valid idx is fine
    with pytest.raises(AssertionError, match="1024"):
        _stamp_ordered(str(p), 1024, time.time())
    with pytest.raises(AssertionError, match="idx=-1"):
        _stamp_ordered(str(p), -1, time.time())


def test_await_stream_timeout_stops_the_query(spark, tmp_path):
    """A stream still running at the deadline raises instead of handing
    a half-filled sink to the caller, and is stopped, not leaked."""
    from astarte_data_updater_plant_spark.operators.ingest import _await_stream

    query = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .option("numPartitions", 1)
        .load()
        .writeStream.format("memory")
        .queryName("await_timeout_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    with pytest.raises(RuntimeError, match="within 1s"):
        _await_stream(query, timeout_sec=1)
    assert query.id not in {q.id for q in spark.streams.active}


def test_run_to_memory_reraises_and_restores_shuffle_width(spark, tmp_path):
    """A micro-batch that fails in a Python UDF surfaces from the drain,
    and the pinned shuffle width is still restored afterwards."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from astarte_data_updater_plant_spark.operators.ingest import (
        _file_stream,
        _run_to_memory,
    )

    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    boom = F.udf(lambda v: v // 0, "long")
    stream = _file_stream(spark, "id LONG", src).select(boom("id").alias("x"))
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    before = str(spark.sparkContext.defaultParallelism + 3)
    spark.conf.set(key, before)
    try:
        with pytest.raises(StreamingQueryException, match="ZeroDivisionError"):
            _run_to_memory(stream, "test_run_to_memory_raises")
        assert spark.conf.get(key) == before
    finally:
        spark.conf.set(key, prev)


def test_sorted_for_fold_rejects_null_message_id():
    """MESSAGE_SCHEMA's non-null message_id contract is load-bearing
    for the fold's tie order (pandas sorts None last; the per-device
    sorted() this replaced keyed on str(None)) — hand-built frames
    that violate it must be rejected, not silently reordered
    (ADVICE r7)."""
    import pandas as pd
    import pytest

    from astarte_data_updater_plant_spark.streaming.pipeline import _sorted_for_fold

    t0 = pd.Timestamp("2020-01-01", tz="UTC")
    ok = pd.DataFrame({"reception_timestamp": [t0, t0], "message_id": ["b", "a"]})
    assert list(_sorted_for_fold(ok)["message_id"]) == ["a", "b"]
    bad = pd.DataFrame({"reception_timestamp": [t0, t0], "message_id": ["b", None]})
    with pytest.raises(ValueError, match="non-null"):
        _sorted_for_fold(bad)


def test_streaming_parity_multi_file_batches(spark, tmp_path):
    """maxFilesPerTrigger > 1 merges several source files into ONE
    micro-batch; the fold's vectorized (reception_timestamp,
    message_id) sort must re-establish per-device order across the
    merged files, so the output equals run_batch exactly. Pins the
    correctness of the throughput-vs-batch-size curve configs
    (bench.py stream_ingest_curve), which amortize per-micro-batch
    coordination by batching MORE files per trigger."""
    msgs = _messages_df(spark)
    src = str(tmp_path / "stream_src_mft2")
    pdf = msgs.toPandas()
    # three files, written OUT of event order within each boundary,
    # then consumed 2-files-per-trigger -> 2 micro-batches
    import glob
    import os
    import time as _time

    seen: set = set()
    files = []
    for lo, hi in ((0, 4), (4, 7), (7, len(pdf))):
        chunk = pdf.iloc[lo:hi].iloc[::-1]  # reverse: sort must fix it
        spark.createDataFrame(chunk, MESSAGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        new = set(glob.glob(os.path.join(src, "part-*.parquet"))) - seen
        assert len(new) == 1
        files.append(new.pop())
        seen |= new | {files[-1]}
    # the source orders files by MTIME; re-stamp in write order so the
    # file->batch assignment is deterministic (write-completion mtimes
    # can tie at coarse fs granularity)
    base = _time.time()
    for i, f in enumerate(files):
        t = base - 2.0 * (len(files) - i)
        os.utime(f, (t, t))

    stream = (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    out = run_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("pipe_out_mft2")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM pipe_out_mft2")
    ds = datastream_table(got).orderBy("reception_timestamp").collect()
    assert [r.integer_value for r in ds] == [5, 6]
    props = {r.path for r in properties_table(got).collect()}
    assert props == {"/weekSchedule/2/start"}
