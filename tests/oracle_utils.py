"""Local replica of the driver's Spark-vs-DuckDB comparison.

Mirrors the driver contract: run the Spark query and the oracle SQL on
the same parquet tables, then compare row count, column names, and an
order-insensitive value representation (columns sorted by name).

Round-7 hardening: the driver's value hash is computed over Arrow
values, so it distinguishes `Decimal('506627')` (DuckDB HUGEINT →
decimal128(38,0)) from `506627` (Spark bigint) even though Python-level
`fetchall()` values compare equal — exactly how q209 went driver-red in
round 6 while the local gate stayed green.  `compare()` therefore now
ALSO asserts Arrow-level column dtypes: the oracle's `LIMIT 0` Arrow
schema must canonicalize to the same type string as the Spark plan
schema, column by column, with no allowlist.  int64-vs-int32, decimal
vs integer, float vs double are all hard failures here even when every
value matches.
"""

from __future__ import annotations

import math
from typing import Any

import duckdb
import pyarrow as pa

from astarte_data_updater_plant_spark.sources.tables import TABLES, table_path


def _connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def run_oracle(sql: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    con = _connect(sf_dir)
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def oracle_arrow_schema(sql: str, sf_dir: str) -> pa.Schema:
    """Arrow schema of the oracle result, computed via `LIMIT 0`.

    This is the type lattice the driver's hash actually sees (DuckDB →
    Arrow), not the lossy Python-object view of ``fetchall()``.
    """
    con = _connect(sf_dir)
    try:
        tbl = con.execute(f"SELECT * FROM ({sql}) __t LIMIT 0").arrow()
        return tbl.schema
    finally:
        con.close()


def arrow_canon(t: pa.DataType) -> str:
    """Canonical type string for an Arrow dtype (DuckDB side)."""
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int16(t):
        return "smallint"
    if pa.types.is_int8(t):
        return "tinyint"
    if pa.types.is_uint64(t):
        return "uint64"
    if pa.types.is_uint32(t):
        return "uint32"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{arrow_canon(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{arrow_canon(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{arrow_canon(t.key_type)},{arrow_canon(t.item_type)}>"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def spark_canon(dt) -> str:
    """Canonical type string for a Spark DataType, same lattice as above."""
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, T.IntegerType):
        return "int"
    if isinstance(dt, T.ShortType):
        return "smallint"
    if isinstance(dt, T.ByteType):
        return "tinyint"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"array<{spark_canon(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{spark_canon(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    if isinstance(dt, T.MapType):
        return f"map<{spark_canon(dt.keyType)},{spark_canon(dt.valueType)}>"
    if isinstance(dt, T.NullType):
        return "null"
    return dt.simpleString()


def dtype_skews(spark_schema, oracle_sql: str, sf_dir: str) -> list[str]:
    """Column-level canonical dtype mismatches, ``[]`` when clean.

    ``null`` on either side (a literal NULL column in the oracle) is a
    wildcard — no value exists for the hash to distinguish.

    Columns present on only ONE side are reported as skews too: the
    ``parity_full.py`` calls this before ``compare()``'s column-name
    equality gate, and a name/case mismatch must not read as zero-skew
    in its ``TYPE_AUDIT_r{N}.json`` (ADVICE r7).
    """
    o_schema = oracle_arrow_schema(oracle_sql, sf_dir)
    o_types = {f.name: arrow_canon(f.type) for f in o_schema}
    s_types = {f.name: spark_canon(f.dataType) for f in spark_schema.fields}
    out = []
    for name in sorted(set(o_types) & set(s_types)):
        a, b = s_types[name], o_types[name]
        if a != b and "null" not in (a, b):
            out.append(f"{name}: spark={a} oracle={b}")
    for name in sorted(set(s_types) ^ set(o_types)):
        if name in s_types:
            out.append(f"{name}: spark-only ({s_types[name]}), absent in oracle")
        else:
            out.append(f"{name}: oracle-only ({o_types[name]}), absent in spark")
    return out


def _norm(v: Any) -> Any:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def compare(spark_df, oracle_sql: str, sf_dir: str) -> tuple[bool, str]:
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    o_cols, o_rows = run_oracle(oracle_sql, sf_dir)
    if sorted(s_cols) != sorted(o_cols):
        return False, f"columns differ: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    skews = dtype_skews(spark_df.schema, oracle_sql, sf_dir)
    if skews:
        return False, f"dtypes differ: {skews}"
    if len(s_rows) != len(o_rows):
        return False, f"row count differs: spark={len(s_rows)} oracle={len(o_rows)}"
    sc = canonical(s_cols, s_rows)
    oc = canonical(o_cols, o_rows)
    if sc != oc:
        diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
        return False, f"values differ; first diffs: {diffs}"
    return True, "ok"
