"""The reference's "simple flow" scenario (data_updater_test.exs:51-947)
re-scripted as a message list for the Spark pipeline."""

from __future__ import annotations

import struct
import zlib
from datetime import datetime, timezone

from astarte_data_updater_plant_spark.functions.payloads import encode_document
from astarte_data_updater_plant_spark.streaming.pipeline import MESSAGE_SCHEMA

REALM = "autotestrealm"
DEVICE = "f0VMRgIBAQAAAAAAAAAAAA"


def _t(minute: int, second: int = 0) -> datetime:
    return datetime(2017, 10, 1, 14, minute, second, tzinfo=timezone.utc)


def producer_properties_payload(paths: list[str]) -> bytes:
    joined = ";".join(paths).encode()
    return struct.pack(">I", len(joined)) + zlib.compress(joined)


def simple_flow_messages() -> list[dict]:
    base = dict(realm=REALM, device_id=DEVICE, interface=None, path=None,
                payload=None, ip_address=None)
    msgs = [
        # connect (data_updater_test.exs:119-127)
        dict(base, message_id="m01", reception_timestamp=_t(0), msg_type="connection",
             ip_address="10.0.0.1"),
        # introspection (":2 interfaces")
        dict(base, message_id="m02", reception_timestamp=_t(1), msg_type="introspection",
             payload=b"com.test.LCDMonitor:1:0;com.test.SimpleStreamTest:1:0;com.example.TestObject:1:5"),
        # property set (longinteger /time/from = 10)
        dict(base, message_id="m03", reception_timestamp=_t(2), msg_type="data",
             interface="com.test.LCDMonitor", path="/time/from",
             payload=encode_document({"v": 10})),
        # property re-set -> value_change (10 -> 20)
        dict(base, message_id="m04", reception_timestamp=_t(3), msg_type="data",
             interface="com.test.LCDMonitor", path="/time/from",
             payload=encode_document({"v": 20})),
        # parametric property (weekSchedule)
        dict(base, message_id="m05", reception_timestamp=_t(4), msg_type="data",
             interface="com.test.LCDMonitor", path="/weekSchedule/2/start",
             payload=encode_document({"v": 12})),
        # string property
        dict(base, message_id="m06", reception_timestamp=_t(5), msg_type="data",
             interface="com.test.LCDMonitor", path="/lcdCommand",
             payload=encode_document({"v": "SWITCH_ON"})),
        # individual datastream (integer /0/value, data_updater_test.exs:544-578)
        dict(base, message_id="m07", reception_timestamp=_t(6), msg_type="data",
             interface="com.test.SimpleStreamTest", path="/0/value",
             payload=encode_document({"v": 5})),
        dict(base, message_id="m08", reception_timestamp=_t(7), msg_type="data",
             interface="com.test.SimpleStreamTest", path="/0/value",
             payload=encode_document({"v": 6})),
        # object aggregation (data_updater_test.exs:663-758)
        dict(base, message_id="m09", reception_timestamp=_t(8), msg_type="data",
             interface="com.example.TestObject", path="/",
             payload=encode_document({"v": {"string": "aaa", "value": 1.1}})),
        # object with missing key -> NULL column not written
        dict(base, message_id="m10", reception_timestamp=_t(9), msg_type="data",
             interface="com.example.TestObject", path="/",
             payload=encode_document({"v": {"string": "bbb"}})),
        # redelivery of m07 -> deduped (message_tracker semantics)
        dict(base, message_id="m07", reception_timestamp=_t(6), msg_type="data",
             interface="com.test.SimpleStreamTest", path="/0/value",
             payload=encode_document({"v": 5})),
        # invalid path -> error side-channel
        dict(base, message_id="m11", reception_timestamp=_t(10), msg_type="data",
             interface="com.test.LCDMonitor", path="/time//from",
             payload=encode_document({"v": 1})),
        # producer/properties prune: keep only /time/from + /weekSchedule/2/start
        # -> /lcdCommand removed (impl.ex:1334-1411)
        dict(base, message_id="m12", reception_timestamp=_t(11), msg_type="control",
             path="/producer/properties",
             payload=producer_properties_payload([
                 "com.test.LCDMonitor/time/from",
                 "com.test.LCDMonitor/weekSchedule/2/start",
             ])),
        # unset /time/from (empty BSON binary v)
        dict(base, message_id="m13", reception_timestamp=_t(12), msg_type="data",
             interface="com.test.LCDMonitor", path="/time/from",
             payload=b""),
        # disconnect
        dict(base, message_id="m14", reception_timestamp=_t(13), msg_type="disconnection"),
    ]
    return msgs


def messages_frame(spark, msgs: list[dict] | None = None):
    """``msgs`` (default: the simple flow) as a MESSAGE_SCHEMA frame."""
    return spark.createDataFrame(
        [tuple(m[f.name] for f in MESSAGE_SCHEMA.fields) for m in msgs or simple_flow_messages()],
        MESSAGE_SCHEMA,
    )
