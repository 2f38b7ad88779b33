"""Interface/endpoint metadata catalog.

The reference resolves every incoming (interface, path) against a
versioned schema catalog: ``interfaces`` + ``endpoints`` tables loaded
per device with a 10-minute cache (``impl.ex:1277-1332``), and a
precompiled endpoints automaton for parametric path patterns like
``/weekSchedule/%{day}/start`` (``impl.ex:1610-1677``).

Spark-first re-expression: interfaces/endpoints are small dimension
DataFrames broadcast-joined to the stream; the automaton becomes a
regex derived from the endpoint pattern (``%{param}`` -> ``[^/]+``),
evaluated either as a Column expression (path ~ pattern_regex) or via
the precompiled matchers in this module for driver-side validation.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import types as T

from .sources.tables import local_rows
from .types import TYPED_COLUMNS, ValueType, spark_type


class InterfaceType(str, Enum):
    PROPERTIES = "properties"  # int code 1 (database_test_helper.exs:331-344)
    DATASTREAM = "datastream"  # int code 2


class Ownership(str, Enum):
    DEVICE = "device"  # 1
    SERVER = "server"  # 2


class Aggregation(str, Enum):
    INDIVIDUAL = "individual"  # 1
    OBJECT = "object"  # 2


class Reliability(str, Enum):
    UNRELIABLE = "unreliable"
    GUARANTEED = "guaranteed"
    UNIQUE = "unique"


class Retention(str, Enum):
    DISCARD = "discard"
    VOLATILE = "volatile"
    STORED = "stored"


#: endpoint-pattern -> compiled regex memo. A plain dict, NOT
#: functools.lru_cache: the wrapper type only pickles by reference,
#: which breaks cloudpickle's by-value shipping of this module into
#: mapInPandas closures (workers have no package install).
_ENDPOINT_REGEX_MEMO: dict[str, re.Pattern] = {}


def endpoint_regex(pattern: str) -> re.Pattern[str]:
    """Compile an endpoint pattern to a full-match regex.

    ``/weekSchedule/%{day}/start`` -> ``^/weekSchedule/[^/]+/start$``.
    Semantically equivalent to the reference's token automaton
    (EndpointsAutomaton.resolve_path, impl.ex:1610-1645): a parameter
    matches exactly one non-empty path segment.

    Memoized: the pattern population is one entry per declared
    mapping, but ``Mapping.matches`` runs per MESSAGE on the ingest
    hot path — without the memo the rebuild costs ~25% of
    state-machine CPU (measured at sf0.1).
    """
    rx = _ENDPOINT_REGEX_MEMO.get(pattern)
    if rx is None:
        parts = pattern.split("/")
        out = []
        for p in parts:
            if re.fullmatch(r"%\{[^}]+\}", p):
                out.append("[^/]+")
            else:
                out.append(re.escape(p))
        rx = re.compile("^" + "/".join(out) + "$")
        _ENDPOINT_REGEX_MEMO[pattern] = rx
    return rx


@dataclass(frozen=True)
class Mapping:
    """One interface leaf (reference `endpoints` row,
    database_test_helper.exs:92-110)."""

    endpoint: str
    value_type: ValueType
    reliability: Reliability = Reliability.UNRELIABLE
    retention: Retention = Retention.DISCARD
    expiry: int = 0  # seconds; 0 = never
    allow_unset: bool = False
    explicit_timestamp: bool = False
    endpoint_id: str = ""

    def matches(self, path: str) -> bool:
        return endpoint_regex(self.endpoint).match(path) is not None


@dataclass(frozen=True)
class Interface:
    """Versioned schema contract (reference `interfaces` row,
    database_test_helper.exs:73-90)."""

    name: str
    major: int
    minor: int
    type: InterfaceType
    ownership: Ownership
    aggregation: Aggregation
    mappings: tuple[Mapping, ...] = field(default_factory=tuple)
    interface_id: str = ""

    @property
    def storage(self) -> str:
        """Target storage table (queries.ex dispatch at :90,124,160,202)."""
        if self.aggregation is Aggregation.OBJECT:
            return object_table_name(self.name, self.major)
        if self.type is InterfaceType.PROPERTIES:
            return "individual_properties"
        return "individual_datastreams"

    def resolve_path(self, path: str) -> Mapping | None:
        """Endpoint resolution (impl.ex:1610-1645): first mapping whose
        pattern matches the full path."""
        for m in self.mappings:
            if m.matches(path):
                return m
        return None

    def resolve_object_prefix(self, path: str) -> list[Mapping]:
        """Object-aggregation prefix check (impl.ex:1679-1698): the
        incoming path must match every endpoint minus its last
        segment; returns the mappings keyed by their leaf name."""
        out = []
        for m in self.mappings:
            prefix = m.endpoint.rsplit("/", 1)[0] or "/"
            if endpoint_regex(prefix).match(path):
                out.append(m)
        return out


def object_table_name(name: str, major: int) -> str:
    """CQLUtils.interface_name_to_table_name equivalent:
    com.example.TestObject + 1 -> com_example_testobject_v1."""
    return name.replace(".", "_").replace("-", "").lower() + f"_v{major}"


def object_column_name(endpoint: str) -> str:
    """CQLUtils.endpoint_to_db_column_name equivalent: the endpoint
    leaf, lowercased, prefixed v_ (queries.ex:199-297 assembly;
    fixture columns v_string/v_value database_test_helper.exs:243-254)."""
    return "v_" + endpoint.rsplit("/", 1)[-1].lower()


# ---------------------------------------------------------------------------
# StructType derivation — one per storage layout (SURVEY §1.1)
# ---------------------------------------------------------------------------

_KEY_FIELDS = [
    T.StructField("device_id", T.StringType(), False),
    T.StructField("interface_id", T.StringType(), False),
    T.StructField("endpoint_id", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
]


def individual_datastreams_schema() -> T.StructType:
    """Append-only time series (database_test_helper.exs:214-241) plus
    the engine's expires_at column for TTL emulation."""
    fields = list(_KEY_FIELDS) + [
        T.StructField("value_timestamp", T.TimestampType(), False),
        T.StructField("reception_timestamp", T.TimestampType(), False),
        T.StructField("reception_timestamp_submillis", T.ShortType(), True),
    ]
    fields += [T.StructField(c, t, True) for c, t in TYPED_COLUMNS]
    fields.append(T.StructField("expires_at", T.TimestampType(), True))
    return T.StructType(fields)


def individual_properties_schema() -> T.StructType:
    """Last-write-wins key/value store (database_test_helper.exs:186-212).
    Also doubles as the datastream path registry (queries.ex:353-393)."""
    fields = list(_KEY_FIELDS) + [
        T.StructField("reception_timestamp", T.TimestampType(), False),
        T.StructField("reception_timestamp_submillis", T.ShortType(), True),
    ]
    fields += [T.StructField(c, t, True) for c, t in TYPED_COLUMNS]
    fields.append(T.StructField("expires_at", T.TimestampType(), True))
    return T.StructType(fields)


def object_table_schema(interface: Interface) -> T.StructType:
    """Wide per-interface table: one typed column per endpoint leaf
    (queries.ex:199-297; fixture database_test_helper.exs:243-254)."""
    fields = [
        T.StructField("device_id", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("reception_timestamp", T.TimestampType(), False),
        T.StructField("reception_timestamp_submillis", T.ShortType(), True),
    ]
    for m in interface.mappings:
        fields.append(
            T.StructField(object_column_name(m.endpoint), spark_type(m.value_type), True)
        )
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# Reference test-keyspace fixtures (FIXTURES.md §A; database_test_helper.exs)
# ---------------------------------------------------------------------------


def fixture_interfaces() -> tuple[Interface, ...]:
    """The three interfaces of the reference test suite
    (database_test_helper.exs:331-344, endpoints :135-184)."""
    lcd = Interface(
        name="com.test.LCDMonitor",
        major=1,
        minor=3,
        type=InterfaceType.PROPERTIES,
        ownership=Ownership.DEVICE,
        aggregation=Aggregation.INDIVIDUAL,
        interface_id="798b93a5-842e-bbad-2e4d-d20306838051",
        mappings=(
            Mapping("/time/from", ValueType.LONGINTEGER, allow_unset=True, endpoint_id="e6f73631"),
            Mapping("/time/to", ValueType.LONGINTEGER, allow_unset=True, endpoint_id="2b2c63dd"),
            Mapping("/weekSchedule/%{day}/start", ValueType.LONGINTEGER, allow_unset=True, endpoint_id="801e1035"),
            Mapping("/weekSchedule/%{day}/stop", ValueType.LONGINTEGER, allow_unset=True, endpoint_id="4fe5034a"),
            Mapping("/lcdCommand", ValueType.STRING, allow_unset=True, endpoint_id="8ebb62b3"),
        ),
    )
    stream = Interface(
        name="com.test.SimpleStreamTest",
        major=1,
        minor=0,
        type=InterfaceType.DATASTREAM,
        ownership=Ownership.DEVICE,
        aggregation=Aggregation.INDIVIDUAL,
        interface_id="0a0da77d-85b5-93d9-d4d2-bd26dd18c9af",
        mappings=(
            Mapping("/%{itemIndex}/value", ValueType.INTEGER, endpoint_id="75010e1b"),
            Mapping("/foo/%{param}/stringValue", ValueType.STRING, endpoint_id="3b39fd3a"),
            Mapping("/foo/%{param}/blobValue", ValueType.BINARYBLOB, endpoint_id="7c9f14e8"),
            Mapping("/foo/%{param}/longValue", ValueType.LONGINTEGER, endpoint_id="3e363e31"),
            Mapping("/foo/%{param}/timestampValue", ValueType.DATETIME, endpoint_id="7d03ec11"),
        ),
    )
    obj = Interface(
        name="com.example.TestObject",
        major=1,
        minor=5,
        type=InterfaceType.DATASTREAM,
        ownership=Ownership.DEVICE,
        aggregation=Aggregation.OBJECT,
        interface_id="db576345-80b1-5358-f305-d77ec39b3d84",
        mappings=(
            Mapping("/string", ValueType.STRING, explicit_timestamp=True, endpoint_id="v_string"),
            Mapping("/value", ValueType.DOUBLE, explicit_timestamp=True, endpoint_id="v_value"),
        ),
    )
    return (lcd, stream, obj)


# ---------------------------------------------------------------------------
# Catalog <-> dimension tables (the reference's `interfaces` +
# `endpoints` Cassandra tables, queries.ex:512-541 load path)
# ---------------------------------------------------------------------------

INTERFACES_DIM_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("major_version", T.IntegerType(), False),
        T.StructField("minor_version", T.IntegerType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("ownership", T.StringType(), False),
        T.StructField("aggregation", T.StringType(), False),
        T.StructField("interface_id", T.StringType(), False),
    ]
)

ENDPOINTS_DIM_SCHEMA = T.StructType(
    [
        T.StructField("interface_id", T.StringType(), False),
        T.StructField("endpoint", T.StringType(), False),
        T.StructField("endpoint_id", T.StringType(), False),
        T.StructField("value_type", T.StringType(), False),
        T.StructField("reliability", T.StringType(), False),
        T.StructField("retention", T.StringType(), False),
        T.StructField("expiry", T.IntegerType(), False),
        T.StructField("allow_unset", T.BooleanType(), False),
        T.StructField("explicit_timestamp", T.BooleanType(), False),
    ]
)


def catalog_to_rows(
    interfaces: tuple[Interface, ...],
) -> tuple[list[tuple], list[tuple]]:
    """Flatten Interface objects into (interfaces, endpoints) dim rows."""
    irows, erows = [], []
    for i in interfaces:
        irows.append(
            (i.name, i.major, i.minor, i.type.value, i.ownership.value,
             i.aggregation.value, i.interface_id)
        )
        for m in i.mappings:
            erows.append(
                (i.interface_id, m.endpoint, m.endpoint_id, m.value_type.value,
                 m.reliability.value, m.retention.value, m.expiry,
                 m.allow_unset, m.explicit_timestamp)
            )
    return irows, erows


def write_catalog(spark, interfaces: tuple[Interface, ...], base_dir: str) -> None:
    """Persist the schema catalog as two small dimension tables — the
    broadcast side of the stream's metadata join (A8)."""
    irows, erows = catalog_to_rows(interfaces)
    local_rows(spark, irows, INTERFACES_DIM_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{base_dir}/interfaces")
    local_rows(spark, erows, ENDPOINTS_DIM_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{base_dir}/endpoints")


def load_catalog(spark, base_dir: str) -> tuple[Interface, ...]:
    """Rebuild Interface objects from the dimension tables (the
    cache-miss load of impl.ex:1277-1332; here one driver-side read of
    two bounded dims, then broadcast with the state-machine closure)."""
    ifaces = spark.read.parquet(f"{base_dir}/interfaces").collect()
    endpoints = spark.read.parquet(f"{base_dir}/endpoints").collect()
    by_iface: dict[str, list] = {}
    for e in endpoints:
        by_iface.setdefault(e.interface_id, []).append(e)
    out = []
    for r in sorted(ifaces, key=lambda r: (r.name, r.major_version)):
        mappings = tuple(
            Mapping(
                endpoint=e.endpoint,
                value_type=ValueType(e.value_type),
                reliability=Reliability(e.reliability),
                retention=Retention(e.retention),
                expiry=e.expiry,
                allow_unset=e.allow_unset,
                explicit_timestamp=e.explicit_timestamp,
                endpoint_id=e.endpoint_id,
            )
            for e in sorted(by_iface.get(r.interface_id, []), key=lambda e: e.endpoint)
        )
        out.append(
            Interface(
                name=r.name,
                major=r.major_version,
                minor=r.minor_version,
                type=InterfaceType(r.type),
                ownership=Ownership(r.ownership),
                aggregation=Aggregation(r.aggregation),
                interface_id=r.interface_id,
                mappings=mappings,
            )
        )
    return tuple(out)
