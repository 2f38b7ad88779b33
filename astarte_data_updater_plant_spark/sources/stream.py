"""Message-stream synthesis: events table -> A1-shaped message rows.

The driver's generic events table is stream-shaped (TESTDATA.md):
``user_id`` = device, ``event_type`` = sensor path, ``value`` =
payload. This module turns it into the engine's wire format — BSON
``{v: value}`` data messages plus one introspection announcement per
device — so the full ingest path (decode -> validate -> route ->
typed storage) can be exercised and oracle-checked on shared data.
"""

from __future__ import annotations

import sys
from typing import Iterator

import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Aggregation, Interface, InterfaceType, Mapping, Ownership
from ..functions import payloads
from ..streaming import wire
from ..types import ValueType
from .tables import load_table

TELEMETRY_REALM = "benchrealm"
TELEMETRY_INTERFACE = "com.iot.Telemetry"
TELEMETRY_INTROSPECTION = b"com.iot.Telemetry:1:0"


def telemetry_interface() -> Interface:
    """One parametric double endpoint: /%{sensor}/value."""
    return Interface(
        name=TELEMETRY_INTERFACE,
        major=1,
        minor=0,
        type=InterfaceType.DATASTREAM,
        ownership=Ownership.DEVICE,
        aggregation=Aggregation.INDIVIDUAL,
        interface_id="telemetry-0001",
        mappings=(
            Mapping("/%{sensor}/value", ValueType.DOUBLE, endpoint_id="telemetry-value"),
        ),
    )


def events_as_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> message_stream rows (MESSAGE_SCHEMA).

    Data messages carry real BSON payloads built in an Arrow-batched
    mapInPandas stage; one introspection message per device precedes
    its data (reception = min(ts) - 1s). Both branches stay
    partition-parallel; the only shuffle is the introspection groupBy
    on device.
    """
    from ..functions.payloads import encode_document
    from ..streaming.pipeline import MESSAGE_SCHEMA

    ev = load_table(spark, sf_dir, "events")

    def to_msgs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "message_id": pdf["event_id"].map(lambda i: f"ev-{i}"),
                    "reception_timestamp": pdf["ts"],
                    "realm": TELEMETRY_REALM,
                    "device_id": pdf["user_id"].astype(str),
                    "msg_type": "data",
                    "interface": TELEMETRY_INTERFACE,
                    "path": pdf["event_type"].map(lambda t: f"/{t}/value"),
                    "payload": pdf["value"].map(lambda v: encode_document({"v": float(v)})),
                    "ip_address": None,
                }
            )

    data_msgs = ev.select("event_id", "ts", "user_id", "event_type", "value").mapInPandas(
        to_msgs, schema=MESSAGE_SCHEMA
    )
    intro_msgs = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select(
            F.concat(F.lit("intro-"), F.col("user_id").cast("string")).alias("message_id"),
            (F.col("first_ts") - F.expr("INTERVAL 1 SECOND")).alias("reception_timestamp"),
            F.lit(TELEMETRY_REALM).alias("realm"),
            F.col("user_id").cast("string").alias("device_id"),
            F.lit("introspection").alias("msg_type"),
            F.lit(None).cast("string").alias("interface"),
            F.lit(None).cast("string").alias("path"),
            F.lit(TELEMETRY_INTROSPECTION).alias("payload"),
            F.lit(None).cast("string").alias("ip_address"),
        )
    )
    return data_msgs.unionByName(intro_msgs)


def rpc_trigger_messages(
    marks: DataFrame,
    event_type: str,
    threshold: float,
    delete_mod: int,
    object_iface_name: str | None = None,
) -> DataFrame:
    """Volatile-trigger control messages synthesized THROUGH the
    protobuf RPC wire codec (rpc/handler.ex:35-100 round trip).

    ``marks`` is one row per target device: (user_id, install_ts,
    delete_ts). For each device an InstallVolatileTrigger Call is
    protobuf-ENCODED and then DECODED with the same codec a real RPC
    client would hit, and the state-machine message is built from the
    DECODED fields only (realm/device/trigger id/spec) — so the wire
    format is load-bearing, not decorative. Devices with
    ``user_id % delete_mod == 0`` additionally get a
    DeleteVolatileTrigger at ``delete_ts``, also round-tripped.
    Message ids start with ``a-`` so at an equal reception timestamp
    the control message sorts (and is processed) before any ``ev-``
    data message — the deterministic install/fire boundary the oracle
    states as ``ts >= install_ts``."""
    from ..streaming import wire as _wire
    from ..streaming.pipeline import MESSAGE_SCHEMA

    def to_msgs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json
        import uuid as _uuid

        for pdf in it:
            out: dict[str, list] = {c.name: [] for c in MESSAGE_SCHEMA.fields}

            def push(mid, ts, dev, mtype, payload):
                out["message_id"].append(mid)
                out["reception_timestamp"].append(ts)
                out["realm"].append(TELEMETRY_REALM)
                out["device_id"].append(dev)
                out["msg_type"].append(mtype)
                out["interface"].append(None)
                out["path"].append(None)
                out["payload"].append(payload)
                out["ip_address"].append(None)

            for uid, its, dts in zip(
                pdf["user_id"], pdf["install_ts"], pdf["delete_ts"]
            ):
                dev = str(uid)
                spec = {
                    "interface": TELEMETRY_INTERFACE,
                    "path": f"/{event_type}/value",
                    "op": "GREATER_THAN",
                    "known_value": threshold,
                }
                buf = _wire.encode_install_volatile_trigger_call(
                    realm_name=TELEMETRY_REALM,
                    device_id=dev,
                    object_id=b"\x00" * 16,
                    object_type=2,
                    parent_id=_wire.PARENT_TRIGGER_ID,
                    simple_trigger_id=_wire.trigger_uuid(f"vt-{uid}"),
                    simple_trigger=_json.dumps(spec).encode(),
                    trigger_target=b"amqp:vt",
                )
                name, f = _wire.decode_call(buf)
                assert name == "install_volatile_trigger"
                tid = str(_uuid.UUID(bytes=f["simple_trigger_id"]))
                payload_spec = _json.loads(f["simple_trigger"].decode())
                payload_spec["trigger_id"] = tid
                push(
                    f"a-install-{uid}", its, f["device_id"],
                    "install_volatile_trigger",
                    _json.dumps(payload_spec).encode(),
                )
                if object_iface_name is not None:
                    # negative path: a volatile DATA trigger aimed at an
                    # object-aggregated interface — the reference rejects
                    # these (impl.ex:976-980) and the engine must reply
                    # with an error on the wire, not install silently
                    ospec = {
                        "interface": object_iface_name,
                        "path": "/kind",
                        "op": "ANY",
                    }
                    obuf = _wire.encode_install_volatile_trigger_call(
                        realm_name=TELEMETRY_REALM,
                        device_id=dev,
                        object_id=b"\x00" * 16,
                        object_type=2,
                        parent_id=_wire.PARENT_TRIGGER_ID,
                        simple_trigger_id=_wire.trigger_uuid(f"vt-obj-{uid}"),
                        simple_trigger=_json.dumps(ospec).encode(),
                        trigger_target=b"amqp:vt",
                    )
                    oname, of = _wire.decode_call(obuf)
                    assert oname == "install_volatile_trigger"
                    opayload = _json.loads(of["simple_trigger"].decode())
                    opayload["trigger_id"] = str(
                        _uuid.UUID(bytes=of["simple_trigger_id"])
                    )
                    push(
                        f"a-objinstall-{uid}", its, of["device_id"],
                        "install_volatile_trigger",
                        _json.dumps(opayload).encode(),
                    )
                if int(uid) % delete_mod == 0:
                    dbuf = _wire.encode_delete_volatile_trigger_call(
                        realm_name=TELEMETRY_REALM,
                        device_id=dev,
                        trigger_id=_wire.trigger_uuid(f"vt-{uid}"),
                    )
                    dname, df_ = _wire.decode_call(dbuf)
                    assert dname == "delete_volatile_trigger"
                    push(
                        f"a-delete-{uid}", dts, df_["device_id"],
                        "delete_volatile_trigger",
                        _json.dumps(
                            {"trigger_id": str(_uuid.UUID(bytes=df_["trigger_id"]))}
                        ).encode(),
                    )
            yield pd.DataFrame(out)

    return marks.mapInPandas(to_msgs, schema=MESSAGE_SCHEMA)


# self-ship for the mapInPandas closures (wire + its payloads import
# ride along: rpc_trigger_messages round-trips the codec worker-side)
for _m in (sys.modules[__name__], wire, payloads):
    cloudpickle.register_pickle_by_value(_m)


OBJECT_INTERFACE = "com.iot.ObjectTelemetry"
OBJECT_INTROSPECTION = b"com.iot.ObjectTelemetry:1:0"


def object_interface() -> Interface:
    """Object-aggregated twin of the telemetry interface: every message
    is one wide row with a string and a double leaf (the TestObject
    shape, database_test_helper.exs:243-254)."""
    return Interface(
        name=OBJECT_INTERFACE,
        major=1,
        minor=0,
        type=InterfaceType.DATASTREAM,
        ownership=Ownership.DEVICE,
        aggregation=Aggregation.OBJECT,
        interface_id="objtelemetry-01",
        mappings=(
            Mapping("/kind", ValueType.STRING, endpoint_id="obj-kind"),
            Mapping("/reading", ValueType.DOUBLE, endpoint_id="obj-reading"),
        ),
    )


def events_as_object_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> object-aggregated data messages: BSON
    {v: {kind, reading}} at path '/' (one wide row per message,
    queries.ex:199-297)."""
    from ..functions.payloads import encode_document
    from ..streaming.pipeline import MESSAGE_SCHEMA

    ev = load_table(spark, sf_dir, "events")

    def to_msgs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "message_id": pdf["event_id"].map(lambda i: f"ob-{i}"),
                    "reception_timestamp": pdf["ts"],
                    "realm": TELEMETRY_REALM,
                    "device_id": pdf["user_id"].astype(str),
                    "msg_type": "data",
                    "interface": OBJECT_INTERFACE,
                    "path": "/",
                    "payload": [
                        encode_document({"v": {"kind": k, "reading": float(v)}})
                        for k, v in zip(pdf["event_type"], pdf["value"])
                    ],
                    "ip_address": None,
                }
            )

    data_msgs = ev.select("event_id", "ts", "user_id", "event_type", "value").mapInPandas(
        to_msgs, schema=MESSAGE_SCHEMA
    )
    intro_msgs = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select(
            F.concat(F.lit("ob-intro-"), F.col("user_id").cast("string")).alias("message_id"),
            (F.col("first_ts") - F.expr("INTERVAL 1 SECOND")).alias("reception_timestamp"),
            F.lit(TELEMETRY_REALM).alias("realm"),
            F.col("user_id").cast("string").alias("device_id"),
            F.lit("introspection").alias("msg_type"),
            F.lit(None).cast("string").alias("interface"),
            F.lit(None).cast("string").alias("path"),
            F.lit(OBJECT_INTROSPECTION).alias("payload"),
            F.lit(None).cast("string").alias("ip_address"),
        )
    )
    return data_msgs.unionByName(intro_msgs)
