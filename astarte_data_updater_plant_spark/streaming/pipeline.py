"""Ingest pipeline: message stream -> keyed state machine -> outputs.

Spark shape (SURVEY §3.1 "Spark shape"): source -> groupBy(realm,
device_id) -> state machine -> discriminated output rows -> per-table
materializers. Two execution modes share the pure state machine:

- ``run_batch``: ``groupBy().applyInPandas`` — deterministic
  reprocessing of a bounded message table.
- ``run_stream``: ``groupBy().applyInPandasWithState`` — incremental
  with the DeviceState pickled into the GroupState between batches.

The state function emits ONE union-schema DataFrame (kind +
JSON-encoded typed payload); materializers parse each kind back into
its typed table with ``from_json``. This keeps the grouped-map stage
single-pass (one shuffle on the device key — the same partitioning the
reference gets from consistent-hash queue routing) while the
JSON->typed hop happens in parallel, JVM-side.
"""

from __future__ import annotations

import base64
import json
import sys
from datetime import datetime
from typing import Any, Iterator

import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import catalog as _catalog_mod
from .. import types as _types_mod
from ..catalog import Interface, fixture_interfaces, object_column_name, object_table_name
from ..functions import matchers as _matchers_mod
from ..functions import payloads as _payloads_mod
from ..storage.layout import DATASTREAM_LOG_SCHEMA, PROPERTY_LOG_SCHEMA, compact_properties
from ..types import spark_type
from . import state_machine as _sm_mod
from .state_machine import Catalog, DeviceState, process_device_messages

# Ship the engine code WITH the job: grouped-map closures reference
# these modules, and Spark workers unpickle them in processes whose
# sys.path need not contain this package (the driver may run from any
# cwd; on a real cluster executors have no copy at all). By-value
# registration makes cloudpickle embed the definitions in the task
# payload — the same mechanism spark-submit users get from --py-files,
# without requiring deploy-time configuration.
for _m in (_types_mod, _catalog_mod, _payloads_mod, _matchers_mod, _sm_mod):
    cloudpickle.register_pickle_by_value(_m)
_state_dumps = cloudpickle.dumps
_state_loads = cloudpickle.loads

#: A1 message_stream schema (FIXTURES.md)
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("message_id", T.StringType(), False),
        T.StructField("reception_timestamp", T.TimestampType(), False),
        T.StructField("realm", T.StringType(), False),
        T.StructField("device_id", T.StringType(), False),
        T.StructField("msg_type", T.StringType(), False),
        T.StructField("interface", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("ip_address", T.StringType(), True),
    ]
)

#: Union output of the state stage
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("realm", T.StringType(), False),
        T.StructField("device_id", T.StringType(), False),
        T.StructField("interface", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("payload_json", T.StringType(), True),
    ]
)

#: Final per-device state snapshot (devices-table update rows)
DEVICE_SNAPSHOT_SCHEMA = T.StructType(
    [
        T.StructField("realm", T.StringType(), False),
        T.StructField("device_id", T.StringType(), False),
        T.StructField("connected", T.BooleanType(), True),
        T.StructField("total_received_msgs", T.LongType(), True),
        T.StructField("total_received_bytes", T.LongType(), True),
        T.StructField("last_seen_ip", T.StringType(), True),
        T.StructField("last_connection", T.TimestampType(), True),
        T.StructField("last_disconnection", T.TimestampType(), True),
        T.StructField("introspection_json", T.StringType(), True),
        T.StructField("old_introspection_json", T.StringType(), True),
        T.StructField("interface_counters_json", T.StringType(), True),
        T.StructField("pending_empty_cache", T.BooleanType(), True),
    ]
)


def _json_default(v: Any) -> Any:
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    raise TypeError(str(type(v)))


def _dumps_std(d: dict) -> str:
    return json.dumps(
        {k: v for k, v in d.items() if v is not None},
        default=_json_default,
        sort_keys=True,
    )


_INF = float("inf")

try:  # C-accelerated string escaper the stdlib encoder itself uses
    from json.encoder import c_encode_basestring_ascii as _esc
except ImportError:  # pragma: no cover - pure-python json build
    from json.encoder import py_encode_basestring_ascii as _esc

#: per-dict-shape (key, escaped-key-prefix) order memo — output rows
#: come in a handful of fixed shapes, so this is tiny and
#: application-lifetime (a pure string cache, no invalidation need)
_ORDER_CACHE: dict = {}
#: one-slot identity memo for datetime -> escaped isoformat: the SAME
#: timestamp object rides every output row of a message (datastream
#: row, incoming_data event, ...), and isoformat() alone is ~2us
_DT_LAST: list = [None, ""]


def _dumps(d: dict) -> str:
    """JSON-encode one output row, dropping None-valued keys.

    None keys are dropped because ``from_json`` reads a missing key
    and an explicit null identically, and most rows (events
    especially) are sparse — this halves the bytes built, shipped
    through Arrow, and parsed downstream.

    Hand-rolled flat-dict fast path: every output row is a small flat
    dict of str/float/int/bool/datetime, and ``json.dumps`` with a
    ``default=`` hook + filtered-dict rebuild + sort_keys was the
    single largest cost of the whole ingest fold (measured 3.0s of a
    4.8s single-thread fold at sf0.1 — more than the state machine
    itself). This emits byte-identical text for the flat case (same
    sorted keys, same ``", "``/``": "`` separators, same C escaper,
    same float repr) and falls back to the stdlib encoder for nested
    values, bytes, or non-finite floats (which stdlib would emit as
    bare ``NaN``/``Infinity``)."""
    ko = tuple(d)
    order = _ORDER_CACHE.get(ko, False)
    if order is False:
        # rows come in a handful of fixed shapes, so the per-shape
        # sort and the per-key escape run once per application. A
        # non-str key (impossible for real output rows) caches None:
        # stdlib coerces int/float/bool/None keys to strings (or
        # raises on a mixed-type sort), and the fast path must defer
        # rather than diverge (ADVICE r7).
        if any(type(k) is not str for k in ko):
            order = _ORDER_CACHE[ko] = None
        else:
            order = _ORDER_CACHE[ko] = tuple((k, _esc(k) + ": ") for k in sorted(ko))
    if order is None:
        return _dumps_std(d)
    parts = []
    ap = parts.append
    for k, pre in order:
        v = d[k]
        if v is None:
            continue
        t = type(v)
        if t is str:
            sv = _esc(v)
        elif t is float:
            if v != v or v == _INF or v == -_INF:
                return _dumps_std(d)
            sv = repr(v)
        elif t is bool:
            sv = "true" if v else "false"
        elif t is int:
            sv = repr(v)
        elif t is datetime:
            dl = _DT_LAST
            if v is dl[0]:
                sv = dl[1]
            else:
                dl[0] = v
                sv = dl[1] = _esc(v.isoformat())
        else:
            return _dumps_std(d)
        ap(pre + sv)
    return "{" + ", ".join(parts) + "}"


#: keys of the event dict that ride as top-level output columns; the
#: rest (value/old_value/new_value/ip_address/introspection/...) form
#: the typed JSON payload
_EVENT_TOP_KEYS = frozenset(
    ("realm", "device_id", "event_type", "timestamp", "interface", "path")
)


class _Recorder:
    """Columnar accumulator for OUTPUT_SCHEMA rows.

    The fold appends to per-column lists instead of building one dict
    per row: ``pd.DataFrame`` construction from columns skips pandas'
    records-inference path entirely (measured ~40% of fold CPU at
    bench scale between the dict building, the generic ``push``, and
    ``nested_data_to_arrays``). A tuple-per-row variant with a
    ``zip(*rows)`` transpose in ``frame()`` was tried and measured
    NET-SLOWER (the transpose + per-column list() cost more than the
    nine appends save) — don't re-attempt it."""

    __slots__ = (  # OUTPUT_SCHEMA field order
        "kind", "realm", "device_id", "interface", "path",
        "event_type", "error", "timestamp", "payload_json",
    )

    def __init__(self) -> None:
        for c in self.__slots__:
            setattr(self, c, [])

    def push(self, kind, realm, device_id, interface=None, path=None,
             event_type=None, error=None, timestamp=None, payload_json=None) -> None:
        self.kind.append(kind)
        self.realm.append(realm)
        self.device_id.append(device_id)
        self.interface.append(interface)
        self.path.append(path)
        self.event_type.append(event_type)
        self.error.append(error)
        self.timestamp.append(timestamp)
        self.payload_json.append(payload_json)

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame({c: getattr(self, c) for c in self.__slots__})


def _record_outputs(rec: "_Recorder", realm: str, device_id: str, out) -> None:
    # bound column lists once and append directly: a generic 9-kwarg
    # push() call per row cost ~0.3s of the sf0.1 fold by itself
    kind, rlm, dev = rec.kind.append, rec.realm.append, rec.device_id.append
    itf, pth = rec.interface.append, rec.path.append
    evt, err = rec.event_type.append, rec.error.append
    tsa, pj = rec.timestamp.append, rec.payload_json.append

    def row(k, i, p, e, er, t, j):
        kind(k); rlm(realm); dev(device_id)
        itf(i); pth(p); evt(e); err(er); tsa(t); pj(j)

    for r in out.datastream_rows:
        row("datastream", r.get("interface"), r.get("path"), None, None,
            r.get("reception_timestamp"), _dumps(r))
    for r in out.property_upserts:
        row("property_upsert", r.get("interface"), r.get("path"), None, None,
            r.get("reception_timestamp"), _dumps(r))
    for r in out.property_deletes:
        row("property_delete", r.get("interface"), r.get("path"), None, None,
            r.get("reception_timestamp"), _dumps(r))
    for r in out.object_rows:
        row("object_row", r.get("table"), r.get("path"), None, None,
            r.get("reception_timestamp"), _dumps(r))
    for e in out.events:
        # pre-drop Nones here (not just inside _dumps): event dicts
        # carry 5 mostly-None payload slots, so the filtered dict is
        # usually a single key and _dumps sees the minimal shape. The
        # emitted JSON is identical — _dumps drops Nones anyway.
        row("event", e.get("interface"), e.get("path"), e.get("event_type"),
            None, e.get("timestamp"),
            _dumps({k: v for k, v in e.items()
                    if v is not None and k not in _EVENT_TOP_KEYS}))
    for e in out.errors:
        row("error", e.get("interface"), e.get("path"), None, e.get("error"),
            None, _dumps(e))
    for e in out.warnings:
        row("warning", e.get("interface"), e.get("path"), None, e.get("error"),
            None, _dumps(e))
    for c in out.commands:
        row("command", None, None, c.get("command"), None,
            c.get("timestamp"), None)


def _snapshot(state: DeviceState) -> dict:
    return {
        "realm": state.realm,
        "device_id": state.device_id,
        "connected": state.connected,
        "total_received_msgs": state.total_received_msgs,
        "total_received_bytes": state.total_received_bytes,
        "last_seen_ip": state.last_seen_ip,
        "last_connection": state.last_connection,
        "last_disconnection": state.last_disconnection,
        "introspection_json": json.dumps(
            {k: list(v) for k, v in sorted(state.introspection.items())}
        ),
        "old_introspection_json": json.dumps(
            {
                f"{name}:{major}": minor
                for (name, major), minor in sorted(state.old_introspection.items())
            }
        ),
        "pending_empty_cache": state.pending_empty_cache,
        "interface_counters_json": json.dumps(
            {
                f"{name}:{major}": [
                    state.interface_msgs.get((name, major), 0),
                    state.interface_bytes.get((name, major), 0),
                ]
                for (name, major) in sorted(state.interface_msgs)
            }
        ),
    }


def _sorted_for_fold(pdf: pd.DataFrame) -> pd.DataFrame:
    """Stable vectorized (reception_timestamp, message_id) sort of a
    bucket's messages — the per-device FIFO order every device's slice
    inherits (stable sort = identical tie order to the per-device
    ``sorted()`` it replaces, including across realms: the regroup
    preserves this frame's order within each device).

    MESSAGE_SCHEMA declares message_id non-null and this fold's tie
    order is load-bearing on it: pandas would place a None LAST within
    a timestamp tie while the per-device ``sorted()`` this replaced
    keyed on ``str(None)`` (lexicographic 'None') — a silent ordering
    divergence (ADVICE r7). Hand-built test frames bypass the schema,
    so the contract is asserted here."""
    if pdf["message_id"].isna().any():
        raise ValueError(
            "message_id must be non-null: the fold's (reception_timestamp, "
            "message_id) tie order depends on MESSAGE_SCHEMA's non-null contract"
        )
    return pdf.sort_values(
        ["reception_timestamp", "message_id"], kind="stable", ignore_index=True
    )


def _messages_from_pdf(pdf: pd.DataFrame) -> list[dict]:
    # column-wise Series.tolist() + zip instead of to_dict("records"):
    # records mode boxes every cell through maybe_box_native (~4x the
    # cost of the whole state-machine fold at bench scale)
    names = list(pdf.columns)
    cols = []
    for c in names:
        s = pdf[c]
        if s.dtype.kind == "M":  # datetime64 -> stdlib datetime, vectorized
            import warnings

            with warnings.catch_warnings():
                # pandas 2.x FutureWarning about to_pydatetime's return
                # container; we only iterate it, either container works
                warnings.simplefilter("ignore", FutureWarning)
                arr = s.dt.to_pydatetime()
            cols.append([None if v is pd.NaT else v for v in arr])
        else:
            cols.append(s.tolist())
    msgs = [dict(zip(names, row)) for row in zip(*cols)]
    for m in msgs:
        p = m.get("payload")
        if p is not None and not isinstance(p, bytes):
            m["payload"] = bytes(p)
    return msgs


def _with_device_bucket(messages: DataFrame) -> tuple[DataFrame, int]:
    """``messages`` with the fold's ``__bucket`` column, a consistent
    hash of ``(realm, device_id)``, and the bucket count: 2x the
    session's parallelism, enough slack to absorb stragglers without
    paying the per-task fixed cost (closure deserialization, worker
    round-trip) too many times; measured fastest at sf0.1 vs 1x (-10%)
    and 4x (-23%)."""
    n_buckets = 2 * messages.sparkSession.sparkContext.defaultParallelism
    bucket = F.pmod(F.xxhash64("realm", "device_id"), F.lit(n_buckets)).cast("int")
    return messages.withColumn("__bucket", bucket), n_buckets


def _messages_by_device(pdf: pd.DataFrame) -> dict[tuple[str, str], list[dict]]:
    """One Arrow->python conversion for a whole bucket, then a
    single-pass regroup by ``(realm, device_id)``, each device's
    messages in fold order: pandas per-device groupby slicing costs
    more than the fold itself at ~70 msgs/device."""
    by_dev: dict[tuple[str, str], list[dict]] = {}
    for m in _messages_from_pdf(_sorted_for_fold(pdf)):
        by_dev.setdefault((m["realm"], m["device_id"]), []).append(m)
    return by_dev


def run_batch(
    messages: DataFrame,
    interfaces: tuple[Interface, ...] | None = None,
    max_retention_s: int | None = None,
) -> DataFrame:
    """Batch mode: one shuffle on the device bucket, state folded per
    device inside each bucket, union output frame returned.

    Grouping by a consistent-hash BUCKET of devices rather than the
    device itself mirrors the reference's queue sharding
    (amqp_data_consumer/supervisor.ex:41-49: devices hash onto a queue
    range, one consumer per queue, per-device serial within it) and
    cuts the Arrow grouped-map overhead: one pandas frame per bucket
    instead of one per device (measured 2x end-to-end at sf0.1, where
    1500 tiny per-device frames cost more than the fold itself).
    Within a bucket the fold sub-groups by (realm, device_id) and
    processes each device's messages in (reception_timestamp,
    message_id) order — identical semantics to per-device grouping.

    The bucket count is 2x the session's parallelism, so it grows with
    the cluster; per-bucket memory shrinks as cores are added.

    ``max_retention_s`` is the realm-wide
    ``datastream_maximum_storage_retention`` (kv_store realm_config,
    queries.ex:745-772) — a scalar fetched once on the driver and
    closed over into the fold, mirroring the reference's one-time load
    at handler init (impl.ex:83-86).
    """
    ifaces = interfaces or fixture_interfaces()

    def fold(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        catalog = Catalog(ifaces)
        rec = _Recorder()
        for (realm, device_id), dev_msgs in _messages_by_device(pdf).items():
            state = DeviceState(
                realm=realm, device_id=device_id, max_retention_s=max_retention_s
            )
            out = process_device_messages(state, catalog, dev_msgs, presorted=True)
            _record_outputs(rec, realm, device_id, out)
            rec.push(
                "device_snapshot", realm, device_id,
                payload_json=_dumps(_snapshot(state)),
            )
        return rec.frame()

    tagged, n_buckets = _with_device_bucket(messages)
    # Pin the shuffle with an explicit repartition(n, col): the fold is
    # Python-CPU-bound, so partition count must track CORES, not shuffle
    # bytes — message batches are small on the wire and AQE's
    # coalescePartitions would happily merge them into ~3 partitions
    # (measured: 3 python workers doing 34k msgs each, a 10x parallelism
    # loss). A user-specified repartition count is exempt from AQE
    # coalescing, and it already satisfies the groupBy's clustered
    # distribution, so no second exchange is inserted.
    return (
        tagged.repartition(n_buckets, "__bucket")
        .groupBy("__bucket")
        .applyInPandas(fold, schema=OUTPUT_SCHEMA)
    )


#: GroupState schema for streaming mode: the pickled dict of the
#: bucket's DeviceStates, keyed (realm, device_id).
STREAM_STATE_SCHEMA = T.StructType([T.StructField("state_pickle", T.BinaryType(), True)])


def _stream_fold(ifaces: tuple[Interface, ...], max_retention_s: int | None = None):
    def fold(key: tuple, pdfs: Iterator[pd.DataFrame], group_state) -> Iterator[pd.DataFrame]:
        catalog = Catalog(ifaces)
        if group_state.exists:
            (blob,) = group_state.get
            states: dict[tuple[str, str], DeviceState] = _state_loads(bytes(blob))
        else:
            states = {}
        # gather the whole micro-batch before folding: a device's
        # messages may span Arrow chunk boundaries, and per-device
        # (reception_timestamp, message_id) ordering must hold across
        # the full batch, not per chunk
        chunks = list(pdfs)
        by_dev: dict[tuple[str, str], list[dict]] = {}
        if chunks:  # NoTimeout => invocations always carry data, but guard
            whole = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            by_dev = _messages_by_device(whole)
        rec = _Recorder()
        for (realm, device_id), dev_msgs in by_dev.items():
            state = states.get((realm, device_id))
            if state is None:
                state = states[(realm, device_id)] = DeviceState(
                    realm=realm, device_id=device_id, max_retention_s=max_retention_s
                )
            out = process_device_messages(state, catalog, dev_msgs, presorted=True)
            _record_outputs(rec, realm, device_id, out)
        group_state.update((_state_dumps(states),))
        yield rec.frame()

    return fold


def run_stream(
    messages: DataFrame,
    interfaces: tuple[Interface, ...] | None = None,
    max_retention_s: int | None = None,
) -> DataFrame:
    """Streaming mode: applyInPandasWithState keyed by a consistent-
    hash device BUCKET; each bucket's GroupState carries the dict of
    its devices' DeviceStates across micro-batches (SURVEY §1.4).

    Bucketing mirrors run_batch (and the reference's queue sharding,
    amqp_data_consumer/supervisor.ex:41-49): state rows and grouped
    Arrow transfers scale with BUCKETS, not devices — per-device
    grouping paid one tiny pandas frame + one state pickle per device
    per micro-batch (measured 6x slower than batch at sf0.1). Device
    folds stay serial inside their bucket, so per-device FIFO
    semantics are identical. The buckets are run_batch's (2x
    parallelism); the stateful shuffle's width is
    ``spark.sql.shuffle.partitions`` when the stream starts.
    """
    ifaces = interfaces or fixture_interfaces()
    tagged, _ = _with_device_bucket(messages)
    return (
        tagged.groupBy("__bucket")
        .applyInPandasWithState(
            _stream_fold(ifaces, max_retention_s),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STREAM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


# ---------------------------------------------------------------------------
# Materializers: union frame -> typed storage tables
# ---------------------------------------------------------------------------

#: Top-level OUTPUT_SCHEMA columns of a typed device row; the rest of
#: the row rides in ``payload_json``.
_ROW_KEY = ("realm", "device_id", "interface", "path")

#: The one parse schema of the fold's typed device rows: datastream
#: values, property upserts and tombstones, path-registry rows.
#: ``from_json`` reads a key a row lacks as null, so each materializer
#: parses with it and selects what it stores.
TYPED_ROW_JSON_SCHEMA = T.StructType(
    [f for f in DATASTREAM_LOG_SCHEMA if f.name not in (*_ROW_KEY, "bucket")]
    + [T.StructField("is_path_registry", T.BooleanType())]
)


def _typed_rows(outputs: DataFrame, *kinds: str) -> DataFrame:
    """Output rows of ``kinds`` with their payload parsed into columns."""
    return (
        outputs.filter(F.col("kind").isin(*kinds))
        .withColumn("p", F.from_json("payload_json", TYPED_ROW_JSON_SCHEMA))
        .select("kind", *_ROW_KEY, "p.*")
    )


def _log_fields(schema: T.StructType) -> list[str]:
    return [c for c in schema.fieldNames() if c != "bucket"]


def _is_registry() -> Column:
    return F.coalesce(F.col("is_path_registry"), F.lit(False))


def datastream_table(outputs: DataFrame) -> DataFrame:
    """individual_datastreams rows (database_test_helper.exs:214-241)."""
    return _typed_rows(outputs, "datastream").select(*_log_fields(DATASTREAM_LOG_SCHEMA))


def property_log(outputs: DataFrame) -> DataFrame:
    """Property upserts and tombstones as one append-only log of typed
    rows with an ``is_delete`` flag (queries.ex:87-155): the rows the
    sink appends to ``property_log``, and the input of
    storage.layout.compact_properties. Path-registry rows are not
    property writes and are dropped."""
    return (
        _typed_rows(outputs, "property_upsert", "property_delete")
        .filter(~_is_registry())
        .withColumn("is_delete", F.col("kind") == "property_delete")
        .select(*_log_fields(PROPERTY_LOG_SCHEMA))
    )


def properties_table(outputs: DataFrame) -> DataFrame:
    """individual_properties latest state — the MERGE of
    queries.ex:87-155 as timestamp-ordered LWW over the upsert +
    tombstone log: latest row per key wins (delete beats a same-instant
    set, Cassandra's tie rule), keys whose winner is a tombstone
    disappear. Idempotent and re-runnable; a delete-then-re-set
    resurrects the key, exactly like consecutive CQL DELETE + INSERT.
    The fold is storage.layout.compact_properties, the one LWW window
    the maintenance job also runs over the sunk property log."""
    return compact_properties(property_log(outputs))


def path_registry_table(outputs: DataFrame) -> DataFrame:
    """Datastream path registry rows (queries.ex:353-393)."""
    return (
        _typed_rows(outputs, "property_upsert")
        .filter(_is_registry())
        .select(*_ROW_KEY, "reception_timestamp", "datetime_value", "expires_at")
    )


def events_table(outputs: DataFrame) -> DataFrame:
    """SimpleEvent-shaped rows (triggers_handler.ex:377-394)."""
    payload_schema = T.StructType(
        [
            T.StructField("value", T.StringType(), True),
            T.StructField("old_value", T.StringType(), True),
            T.StructField("new_value", T.StringType(), True),
            T.StructField("ip_address", T.StringType(), True),
            T.StructField("introspection", T.StringType(), True),
        ]
    )
    parsed = outputs.filter(F.col("kind") == "event").withColumn(
        "p", F.from_json("payload_json", payload_schema)
    )
    return parsed.select(
        "realm", "device_id", "event_type", "timestamp", "interface", "path", "p.*",
        # the original typed payload: the string-cast columns above are
        # for tabular consumers; the wire encoder needs number/bool
        # types preserved (the reference publishes typed BSON values,
        # data_updater_test.exs asserts an integer bson_value) plus the
        # int fields (major/minor) the columns don't carry at all.
        F.col("payload_json").alias("typed_json"),
    )


def errors_table(outputs: DataFrame) -> DataFrame:
    """Dead-letter side-channel (impl.ex:463-524)."""
    return outputs.filter(F.col("kind") == "error").select(
        "realm", "device_id", "interface", "path", "error"
    )


def warnings_table(outputs: DataFrame) -> DataFrame:
    """Log-only conditions (reference Logger.warn with no discard or
    clean-session ask, e.g. unset on allow_unset=false,
    queries.ex:99-100) — same shape as errors_table so consumers can
    union or diff the two channels."""
    return outputs.filter(F.col("kind") == "warning").select(
        "realm", "device_id", "interface", "path", "error"
    )


def commands_table(outputs: DataFrame) -> DataFrame:
    """Device command channel (A29): clean-session / disconnect asks
    the reference sends over the VerneMQ RPC (rpc/vmq_plugin.ex:40-65,
    impl.ex:1413-1429)."""
    return outputs.filter(F.col("kind") == "command").select(
        "realm", "device_id",
        F.col("event_type").alias("command"),
        "timestamp",
    )


def device_snapshots_table(outputs: DataFrame) -> DataFrame:
    """devices-table update rows (queries.ex:460-510)."""
    schema = T.StructType(
        [f for f in DEVICE_SNAPSHOT_SCHEMA.fields if f.name not in ("realm", "device_id")]
    )
    parsed = outputs.filter(F.col("kind") == "device_snapshot").withColumn(
        "p", F.from_json("payload_json", schema)
    )
    return parsed.select("realm", "device_id", "p.*")


def object_table(outputs: DataFrame, interface: Interface) -> DataFrame:
    """Per-interface wide table (queries.ex:199-297)."""
    schema = T.StructType(
        [
            T.StructField("reception_timestamp", T.TimestampType(), True),
            T.StructField("value_timestamp", T.TimestampType(), True),
            # realm retention cap applies to object inserts too
            # (impl.ex:438 via the same insert_value_into_db)
            T.StructField("expires_at", T.TimestampType(), True),
        ]
        + [
            T.StructField(object_column_name(m.endpoint), spark_type(m.value_type), True)
            for m in interface.mappings
        ]
    )
    parsed = outputs.filter(
        (F.col("kind") == "object_row")
        & (F.col("interface") == object_table_name(interface.name, interface.major))
    ).withColumn("p", F.from_json("payload_json", schema))
    return parsed.select("realm", "device_id", "path", "p.*")


# The grouped-map closures also reference THIS module's helpers
# (_output_records, _messages_from_pdf, ...), so it must ship by value
# with them; registered last so every definition above is in place.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
