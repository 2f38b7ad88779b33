"""Catalog: endpoint pattern matching (the automaton replacement),
storage naming."""

from __future__ import annotations

from astarte_data_updater_plant_spark.catalog import (
    endpoint_regex,
    fixture_interfaces,
    object_column_name,
    object_table_name,
)


def test_endpoint_regex_literal():
    assert endpoint_regex("/time/from").match("/time/from")
    assert not endpoint_regex("/time/from").match("/time/to")
    assert not endpoint_regex("/time/from").match("/time/from/extra")


def test_endpoint_regex_parametric():
    # impl.ex:1610-1645 semantics: %{param} = exactly one segment
    r = endpoint_regex("/weekSchedule/%{day}/start")
    assert r.match("/weekSchedule/2/start")
    assert r.match("/weekSchedule/monday/start")
    assert not r.match("/weekSchedule/2/3/start")
    assert not r.match("/weekSchedule//start")


def test_resolve_path():
    lcd, stream, obj = fixture_interfaces()
    assert lcd.resolve_path("/weekSchedule/9/start").endpoint == "/weekSchedule/%{day}/start"
    assert lcd.resolve_path("/lcdCommand").endpoint == "/lcdCommand"
    assert lcd.resolve_path("/nope") is None
    assert stream.resolve_path("/0/value").value_type.value == "integer"
    assert stream.resolve_path("/foo/1/stringValue").value_type.value == "string"


def test_object_prefix_resolution():
    # impl.ex:1679-1698: object path matches endpoint minus last segment
    _, _, obj = fixture_interfaces()
    leafs = {m.endpoint for m in obj.resolve_object_prefix("/")}
    assert leafs == {"/string", "/value"}


def test_object_names():
    # CQLUtils equivalents
    assert object_table_name("com.example.TestObject", 1) == "com_example_testobject_v1"
    assert object_column_name("/string") == "v_string"
    assert object_column_name("/my/nested/Leaf") == "v_leaf"


def test_storage_dispatch():
    lcd, stream, obj = fixture_interfaces()
    assert lcd.storage == "individual_properties"
    assert stream.storage == "individual_datastreams"
    assert obj.storage == "com_example_testobject_v1"


def test_catalog_dimension_roundtrip(spark, tmp_path):
    from astarte_data_updater_plant_spark.catalog import (
        fixture_interfaces,
        load_catalog,
        write_catalog,
    )

    base = str(tmp_path / "catalog")
    orig = fixture_interfaces()
    write_catalog(spark, orig, base)
    back = load_catalog(spark, base)
    by_name = {i.name: i for i in back}
    assert set(by_name) == {i.name for i in orig}
    for i in orig:
        j = by_name[i.name]
        assert (j.major, j.minor, j.type, j.ownership, j.aggregation,
                j.interface_id) == (i.major, i.minor, i.type, i.ownership,
                                    i.aggregation, i.interface_id)
        assert sorted(j.mappings, key=lambda m: m.endpoint) == sorted(
            i.mappings, key=lambda m: m.endpoint
        )


def test_flow_with_loaded_catalog_matches_fixture_catalog(spark, tmp_path):
    from astarte_data_updater_plant_spark.catalog import (
        fixture_interfaces,
        load_catalog,
        write_catalog,
    )
    from astarte_data_updater_plant_spark.streaming.pipeline import (
        MESSAGE_SCHEMA,
        run_batch,
    )
    from .fixtures_flow import simple_flow_messages

    base = str(tmp_path / "catalog")
    write_catalog(spark, fixture_interfaces(), base)
    msgs = simple_flow_messages()
    df = spark.createDataFrame(
        [tuple(m[f.name] for f in MESSAGE_SCHEMA.fields) for m in msgs],
        MESSAGE_SCHEMA,
    )
    a = run_batch(df, interfaces=fixture_interfaces()).orderBy(
        "kind", "path", "timestamp", "payload_json"
    ).collect()
    b = run_batch(df, interfaces=load_catalog(spark, base)).orderBy(
        "kind", "path", "timestamp", "payload_json"
    ).collect()
    assert a == b
