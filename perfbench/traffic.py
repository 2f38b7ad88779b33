"""Seeded device traffic for the ingest workloads, with an expected-output
ledger.

The traffic uses the engine's fixture interface set (``LCDMonitor``
properties, the parametric ``SimpleStreamTest`` datastream and the
``TestObject`` object aggregate) and mixes in what real fleets send:
connections, introspection, property set and unset, malformed messages
that must become dead letters, redeliveries inside the 4,096-id dedup
window, devices with more distinct paths than the 32-entry paths cache,
and a few volatile triggers.

The ledger is computed here from the traffic alone, and payloads are
encoded by this module's own BSON encoder, so a defect in the engine's
codec or state machine cannot cancel itself out in the output check.
"""

from __future__ import annotations

import json
import random
import struct
from collections import Counter
from datetime import datetime, timedelta, timezone

REALM = "benchrealm"
LCD = "com.test.LCDMonitor"
STREAM = "com.test.SimpleStreamTest"
OBJECT = "com.example.TestObject"
INTROSPECTION = f"{LCD}:1:3;{STREAM}:1:0;{OBJECT}:1:5".encode()
TRIGGER_THRESHOLD = 700
BASE_TS = datetime(2024, 3, 1, tzinfo=timezone.utc)

LONG_PATHS = ("/time/from", "/time/to") + tuple(
    f"/weekSchedule/{d}/{edge}" for d in range(1, 8) for edge in ("start", "stop")
)
COMMANDS = ("SWITCH_ON", "SWITCH_OFF", "BLINK")

#: message kinds and their weights in a device's data phase
KINDS = (
    ("prop_set", 20.0),
    ("prop_unset", 3.0),
    ("int_value", 52.0),
    ("long_value", 6.0),
    ("string_value", 5.0),
    ("object", 10.0),
    ("bad_bson", 0.5),
    ("unknown_interface", 0.4),
    ("unknown_path", 0.4),
    ("wrong_type", 0.4),
    ("redelivery", 1.0),
)


# ---------------------------------------------------------------------------
# Minimal BSON encoder (independent of the engine's codec)
# ---------------------------------------------------------------------------


def bson(doc: dict) -> bytes:
    body = bytearray()
    for key, val in doc.items():
        name = key.encode() + b"\x00"
        if isinstance(val, float):
            body += b"\x01" + name + struct.pack("<d", val)
        elif isinstance(val, str):
            s = val.encode() + b"\x00"
            body += b"\x02" + name + struct.pack("<i", len(s)) + s
        elif isinstance(val, dict):
            body += b"\x03" + name + bson(val)
        elif isinstance(val, int) and -(2**31) <= val < 2**31:
            body += b"\x10" + name + struct.pack("<i", val)
        elif isinstance(val, int):
            body += b"\x12" + name + struct.pack("<q", val)
        else:
            raise TypeError(f"no BSON encoding for {type(val).__name__}")
    return struct.pack("<i", len(body) + 5) + bytes(body) + b"\x00"


#: a document whose declared size overruns the buffer
BAD_BSON = struct.pack("<i", 64) + b"\x10v\x00\x01\x00\x00\x00"


# ---------------------------------------------------------------------------
# Generation
# ---------------------------------------------------------------------------


def _device_sizes(rng: random.Random, n_devices: int, n_messages: int) -> list[int]:
    """Zipf(1.1)-skewed message counts, between 12 and 3,000 per device."""
    weights = [1.0 / (r + 1) ** 1.1 for r in range(n_devices)]
    rng.shuffle(weights)
    total = sum(weights)
    return [min(3000, max(12, round(n_messages * w / total))) for w in weights]


def generate(seed: int, n_devices: int = 1000, n_messages: int = 16000) -> tuple[list[dict], dict]:
    """(messages, ledger) for ``seed``. Messages are dicts in the
    engine's message schema; the ledger holds the expected rows of every
    output table the production sink and maintenance write."""
    rng = random.Random(seed)
    kinds = [k for k, _ in KINDS]
    weights = [w for _, w in KINDS]
    msgs: list[dict] = []
    led = _Ledger()
    sizes = _device_sizes(rng, n_devices, n_messages)
    for d, size in enumerate(sizes):
        dev = f"dev{d:05d}"
        t = BASE_TS + timedelta(seconds=rng.uniform(0, 3600))
        wide = size >= 150 and rng.random() < 0.5
        n_paths = 48 if wide else 8
        has_trigger = size >= 40 and rng.random() < 0.25
        sent: list[dict] = []

        def push(msg_type, interface=None, path=None, payload=None, ip=None):
            nonlocal t
            t += timedelta(milliseconds=rng.randint(200, 5000))
            m = {
                "message_id": f"{dev}-{len(sent):05d}",
                "reception_timestamp": t,
                "realm": REALM,
                "device_id": dev,
                "msg_type": msg_type,
                "interface": interface,
                "path": path,
                "payload": payload,
                "ip_address": ip,
            }
            sent.append(m)
            return m

        led.connect(push("connection", ip=f"10.{d // 250}.{d % 250}.{rng.randint(1, 254)}"))
        led.introspect(push("introspection", payload=INTROSPECTION))
        if has_trigger:
            spec = {
                "trigger_id": f"vt-{dev}",
                "interface": STREAM,
                "path": "/%{itemIndex}/value",
                "op": "GREATER_THAN",
                "known_value": TRIGGER_THRESHOLD,
            }
            led.install(dev, push("install_volatile_trigger", payload=json.dumps(spec).encode()))
        for _ in range(size - 3 - has_trigger):
            kind = rng.choices(kinds, weights)[0]
            if kind == "redelivery" and len(sent) > 2:
                # stay well inside the engine's dedup window, which
                # keeps at least the newest 2,048 ids of a device
                orig = sent[rng.randrange(max(0, len(sent) - 1000), len(sent))]
                t += timedelta(milliseconds=rng.randint(200, 5000))
                dup = dict(orig, reception_timestamp=t)
                sent.append(dup)
                led.count("redeliveries")
                continue
            if kind == "redelivery":
                kind = "int_value"
            if kind == "prop_set":
                if rng.random() < 0.2:
                    path, value = "/lcdCommand", rng.choice(COMMANDS)
                else:
                    path, value = rng.choice(LONG_PATHS), rng.randint(0, 4)
                led.prop_set(dev, push("data", LCD, path, bson({"v": value})), value)
            elif kind == "prop_unset":
                path = rng.choice(LONG_PATHS + ("/lcdCommand",))
                led.prop_unset(dev, push("data", LCD, path, b""))
            elif kind == "int_value":
                value = rng.randint(0, 1000)
                path = f"/{rng.randrange(n_paths)}/value"
                led.datastream(dev, push("data", STREAM, path, bson({"v": value})), "integer", value)
            elif kind == "long_value":
                value = rng.randint(2**31, 2**40)
                path = f"/foo/p{rng.randrange(4)}/longValue"
                led.datastream(dev, push("data", STREAM, path, bson({"v": value})), "longinteger", value)
            elif kind == "string_value":
                value = f"s{rng.randrange(10**6)}"
                path = f"/foo/p{rng.randrange(4)}/stringValue"
                led.datastream(dev, push("data", STREAM, path, bson({"v": value})), "string", value)
            elif kind == "object":
                value = {"string": f"o{rng.randrange(100)}", "value": round(rng.uniform(-50, 50), 3)}
                led.object(push("data", OBJECT, "/", bson({"v": value})))
            elif kind == "bad_bson":
                led.error(push("data", STREAM, "/0/value", BAD_BSON), "invalid_payload", counted=False)
            elif kind == "unknown_interface":
                m = push("data", "com.test.Unknown", "/0/value", bson({"v": 1}))
                led.error(m, "interface_not_in_introspection", counted=False)
            elif kind == "unknown_path":
                led.error(push("data", STREAM, "/nope/x", bson({"v": 1})), "mapping_not_found", counted=True)
            elif kind == "wrong_type":
                m = push("data", STREAM, f"/{rng.randrange(n_paths)}/value", bson({"v": "NaN"}))
                led.error(m, "unexpected_value_type", counted=True)
        led.disconnect(push("disconnection"))
        msgs.extend(sent)
    return msgs, led.result(n_devices)


class _Ledger:
    """Expected outputs, accumulated while the traffic is generated."""

    def __init__(self) -> None:
        self.events: Counter = Counter()
        self.errors: Counter = Counter()
        self.stats: Counter = Counter()
        self.props: dict[tuple[str, str], object] = {}
        self.triggers: set[str] = set()
        self.device_msgs: Counter = Counter()
        self.device_bytes: Counter = Counter()

    def count(self, what: str, n: int = 1) -> None:
        self.stats[what] += n

    def _counted(self, m: dict) -> None:
        self.device_msgs[m["device_id"]] += 1
        self.device_bytes[m["device_id"]] += len(m["payload"] or b"")

    def connect(self, m: dict) -> None:
        self.events["device_connected"] += 1

    def disconnect(self, m: dict) -> None:
        self.events["device_disconnected"] += 1

    def introspect(self, m: dict) -> None:
        self._counted(m)
        self.events["incoming_introspection"] += 1
        self.events["interface_added"] += 3

    def install(self, dev: str, m: dict) -> None:
        self.triggers.add(dev)
        self.events["volatile_trigger_installed"] += 1

    def prop_set(self, dev: str, m: dict, value) -> None:
        self._counted(m)
        self.events["incoming_data"] += 1
        key = (dev, m["path"])
        prev = self.props.get(key)
        if prev is None:
            self.events["path_created"] += 1
        elif prev != value:
            self.events["value_change"] += 1
            self.events["value_change_applied"] += 1
        self.props[key] = value
        self.count("property_upserts")

    def prop_unset(self, dev: str, m: dict) -> None:
        self._counted(m)
        if self.props.pop((dev, m["path"]), None) is not None:
            self.events["path_removed"] += 1
        self.count("property_deletes")

    def datastream(self, dev: str, m: dict, column: str, value) -> None:
        self._counted(m)
        self.events["incoming_data"] += 1
        self.events["value_stored"] += 1
        if column == "integer" and dev in self.triggers and value > TRIGGER_THRESHOLD:
            self.events["volatile_trigger_fired"] += 1
        self.count("datastreams")
        if column == "string":
            self.count("datastream_strings")
        else:
            self.count(f"datastream_{column}_sum", value)

    def object(self, m: dict) -> None:
        self._counted(m)
        self.events["incoming_data"] += 1

    def error(self, m: dict, cls: str, *, counted: bool) -> None:
        if counted:
            self._counted(m)
        self.errors[cls] += 1

    def result(self, n_devices: int) -> dict:
        n_errors = sum(self.errors.values())
        return {
            "devices": n_devices,
            "received_msgs": sum(self.device_msgs.values()),
            "received_bytes": sum(self.device_bytes.values()),
            "events": dict(sorted(self.events.items())),
            "dead_letters": dict(sorted(self.errors.items())),
            "commands": {"clean_session": n_errors} if n_errors else {},
            "datastreams": self.stats["datastreams"],
            "datastream_integer_sum": self.stats["datastream_integer_sum"],
            "datastream_longinteger_sum": self.stats["datastream_longinteger_sum"],
            "datastream_strings": self.stats["datastream_strings"],
            "property_log": self.stats["property_upserts"] + self.stats["property_deletes"],
            "property_deletes": self.stats["property_deletes"],
            "properties_live": len(self.props),
            "redeliveries": self.stats["redeliveries"],
            "triggers": len(self.triggers),
        }

