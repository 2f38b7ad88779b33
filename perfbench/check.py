"""Output checks, run with DuckDB outside every timed window: the ingest
tree against the traffic ledger, and each query against its declared
DuckDB oracle."""

from __future__ import annotations

import os

import duckdb


#: the tables the production sink and one maintenance cycle write
TREE_TABLES = (
    "devices", "events_log", "dead_letters", "device_commands", "individual_datastreams",
    "property_log", "individual_properties", "individual_datastreams_vacuumed",
)


def ingest_mismatches(tree: str, ledger: dict) -> list[str]:
    """Every difference between the tables written under ``tree`` by
    the sink and maintenance, and what the ledger expects."""
    con = duckdb.connect()
    try:
        for name in TREE_TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{tree}/{name}/**/*.parquet', hive_partitioning = true)"
            )

        def grouped(sql: str) -> dict:
            return {k: int(v) for k, v in con.execute(sql).fetchall()}

        row = con.execute(
            "SELECT (SELECT count(*) FROM devices), (SELECT sum(total_received_msgs) FROM devices),"
            " (SELECT sum(total_received_bytes) FROM devices),"
            " (SELECT count(*) FILTER (WHERE NOT connected) FROM devices),"
            " (SELECT count(*) FROM individual_datastreams),"
            " (SELECT sum(integer_value) FROM individual_datastreams),"
            " (SELECT sum(longinteger_value) FROM individual_datastreams),"
            " (SELECT count(string_value) FROM individual_datastreams),"
            " (SELECT count(*) FROM property_log),"
            " (SELECT count(*) FILTER (WHERE is_delete) FROM property_log),"
            " (SELECT count(*) FROM individual_properties),"
            " (SELECT count(*) FROM individual_datastreams_vacuumed)"
        ).fetchone()
        got = dict(zip(
            ("devices", "received_msgs", "received_bytes", "disconnected", "datastreams",
             "datastream_integer_sum", "datastream_longinteger_sum", "datastream_strings",
             "property_log", "property_deletes", "properties_live", "datastreams_live"),
            (int(v or 0) for v in row),
        ))
        got["events"] = grouped("SELECT event_type, count(*) FROM events_log GROUP BY 1")
        got["dead_letters"] = grouped("SELECT error, count(*) FROM dead_letters GROUP BY 1")
        got["commands"] = grouped("SELECT command, count(*) FROM device_commands GROUP BY 1")
    finally:
        con.close()
    want = dict(ledger, disconnected=ledger["devices"], datastreams_live=ledger["datastreams"])
    return [f"{k}: got {got[k]!r}, expected {want[k]!r}" for k in sorted(got) if got[k] != want[k]]


def tree_files(tree: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``tree``."""
    files = size = 0
    for root, _dirs, names in os.walk(tree):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


# ---------------------------------------------------------------------------
# Query oracles
# ---------------------------------------------------------------------------


def oracle_mismatch(data_dir: str, tables: tuple[str, ...], result, sql: str) -> str | None:
    """None when ``result`` (a pyarrow table of the Spark result) holds
    the same columns and the same multiset of rows as the DuckDB oracle,
    else a description of the first difference."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for name in tables:
            path = os.path.join(data_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        con.register("spark_result", result)
        con.execute(f"CREATE TEMP TABLE oracle_result AS {sql}")
        oracle_cols = [d[0] for d in con.execute("SELECT * FROM oracle_result LIMIT 0").description]
        if sorted(oracle_cols) != sorted(result.column_names):
            return f"columns differ: spark={sorted(result.column_names)} oracle={sorted(oracle_cols)}"
        cols = ", ".join(f'"{c}"' for c in sorted(oracle_cols))
        (n_oracle,) = con.execute("SELECT count(*) FROM oracle_result").fetchone()
        if n_oracle != result.num_rows:
            return f"row count differs: spark={result.num_rows} oracle={n_oracle}"
        extra = con.execute(
            f"SELECT {cols} FROM spark_result EXCEPT ALL SELECT {cols} FROM oracle_result LIMIT 2"
        ).fetchall()
        if extra:
            return f"values differ; spark rows not in the oracle: {extra}"
    finally:
        con.close()
    return None
