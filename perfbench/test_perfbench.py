"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter, defaultdict

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import traffic  # noqa: E402
from perfbench.measure import Tracer, tree_cpu_s  # noqa: E402


def test_generator_is_deterministic_per_seed():
    a = traffic.generate(7, n_devices=200, n_messages=4000)
    b = traffic.generate(7, n_devices=200, n_messages=4000)
    c = traffic.generate(8, n_devices=200, n_messages=4000)
    assert a == b
    assert a[0] != c[0]


def test_ledger_matches_the_traffic():
    """The ledger equals what the engine's single-threaded state machine
    produces from the same messages."""
    from astarte_data_updater_plant_spark.catalog import fixture_interfaces
    from astarte_data_updater_plant_spark.streaming.state_machine import (
        Catalog, DeviceState, process_device_messages,
    )

    msgs, ledger = traffic.generate(3, n_devices=300, n_messages=8000)
    by_dev = defaultdict(list)
    for m in msgs:
        by_dev[m["device_id"]].append(m)
    catalog = Catalog(fixture_interfaces())
    events, errors, commands = Counter(), Counter(), Counter()
    datastreams = plog = deletes = live = received = 0
    for dev, dev_msgs in by_dev.items():
        state = DeviceState(realm=traffic.REALM, device_id=dev)
        out = process_device_messages(state, catalog, dev_msgs)
        events.update(e["event_type"] for e in out.events)
        errors.update(e["error"] for e in out.errors)
        commands.update(c["command"] for c in out.commands)
        datastreams += len(out.datastream_rows)
        plog += sum(not r.get("is_path_registry") for r in out.property_upserts)
        deletes += len(out.property_deletes)
        live += len(state.properties)
        received += state.total_received_msgs
    assert dict(events) == ledger["events"]
    assert dict(errors) == ledger["dead_letters"]
    assert dict(commands) == ledger["commands"]
    assert datastreams == ledger["datastreams"]
    assert plog + deletes == ledger["property_log"]
    assert deletes == ledger["property_deletes"]
    assert live == ledger["properties_live"]
    assert received == ledger["received_msgs"]
    # the traffic carries every class the workload promises
    assert set(errors) == {
        "invalid_payload", "interface_not_in_introspection",
        "mapping_not_found", "unexpected_value_type",
    }
    assert ledger["redeliveries"] > 0 and ledger["triggers"] > 0
    assert events["volatile_trigger_fired"] > 0


def test_bson_encoder_round_trips_through_the_engine_decoder():
    from astarte_data_updater_plant_spark.functions.payloads import (
        PayloadError, decode_bson_payload,
    )

    doc = {"v": {"string": "x", "value": 1.5}}
    assert decode_bson_payload(traffic.bson(doc)).value == doc["v"]
    assert decode_bson_payload(traffic.bson({"v": 2**40})).value == 2**40
    with pytest.raises(PayloadError):
        decode_bson_payload(traffic.BAD_BSON)


def test_self_time_subtracts_child_spans():
    tr = Tracer(enabled=True)
    with tr.span("op", request="r1"):
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    op, a, b = tr.spans
    assert a["request"] == b["request"] == "r1" and a["parent"] == 0
    expected = (op["end"] - op["start"]) - (a["end"] - a["start"]) - (b["end"] - b["start"])
    assert tr.self_times()[0] == pytest.approx(expected, abs=1e-9)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op") as counts:
        assert counts is None
    assert tr.spans == [] and tr.overhead_s == 0.0


def test_traced_only_work_counts_as_overhead():
    tr = Tracer(enabled=True)
    with tr.overhead():
        time.sleep(0.05)
    assert tr.overhead_s >= 0.05 and tr.spans == []


def test_tree_cpu_counts_this_process():
    before = tree_cpu_s()
    deadline = time.process_time() + 0.3
    while time.process_time() < deadline:
        pass
    assert tree_cpu_s() - before >= 0.2
