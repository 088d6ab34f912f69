"""Golden-fixture tests for the CDC transform chain.

Mirrors the reference's test strategy (SURVEY.md §5): hand-written wire
payloads — valid insert/update/delete, malformed JSON, missing UUID,
unmapped table — pushed through decode → validate → route → serialize,
with exact expected outputs. (Reference analogue:
source/postgres/postgres_test.go:27-106 golden pgoutput fixtures.)
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from psql_streamer_spark.routing import route, routing_stats, topic_expr
from psql_streamer_spark.transforms import (
    apply_handlers,
    decode_cdc_json,
    drop_empty_values,
    filter_dml,
    latest_per_key,
    serialize_passthrough,
    validate_split,
    with_default_key,
)

VALID_INSERT = json.dumps(
    {
        "Host": "db1",
        "Database": "test",
        "Table": "test",
        "Action": "insert",
        "WALPosition": 418152976,
        "Timestamp": "2018-07-03T16:04:27Z",
        "UUID": "2b4e8a92-0000-4000-8000-000000000001",
        "Columns": {"a": "369223", "b": "a"},
    }
)
VALID_UPDATE = VALID_INSERT.replace('"insert"', '"update"').replace("0001", "0002")
VALID_DELETE = VALID_INSERT.replace('"insert"', '"delete"').replace("0001", "0003")
BEGIN_MSG = VALID_INSERT.replace('"insert"', '"begin"').replace("0001", "0004")
MISSING_UUID = json.dumps(
    {"Host": "db1", "Database": "test", "Table": "test", "Action": "insert",
     "WALPosition": 1, "Timestamp": "2018-07-03T16:04:27Z", "UUID": "",
     "Columns": {"a": "1"}}
)
UNMAPPED_TABLE = VALID_INSERT.replace('"Table": "test"', '"Table": "ghost"')
MALFORMED = '{"Host": "db1", not json at all'


@pytest.fixture(scope="module")
def raw_df(spark):
    payloads = [
        VALID_INSERT, VALID_UPDATE, VALID_DELETE,
        BEGIN_MSG, MISSING_UUID, UNMAPPED_TABLE, MALFORMED,
    ]
    return spark.createDataFrame([(p,) for p in payloads], ["value"])


def test_decode_valid_event(spark, raw_df):
    decoded = decode_cdc_json(raw_df)
    row = decoded.filter(F.col("uuid").endswith("0001")).first()
    assert row.host == "db1"
    assert row.table == "test"
    assert row.action == "insert"
    assert row.wal_position == 418152976
    assert row.columns == {"a": "369223", "b": "a"}
    assert str(row.ts) == "2018-07-03 16:04:27"


def test_decode_malformed_yields_nulls(spark, raw_df):
    decoded = decode_cdc_json(raw_df)
    # from_json on garbage -> all-null row (never raises, never poisons)
    nulls = decoded.filter(F.col("action").isNull()).count()
    assert nulls == 1


def test_validate_split_routes_poison_to_dlq(spark, raw_df):
    decoded = decode_cdc_json(raw_df)
    valid, dlq = validate_split(decoded)
    # 7 in: 3 DML + unmapped-table + begin parse fine (begin is dropped by
    # filter_dml, never dead-lettered); missing UUID + malformed go to DLQ
    assert valid.count() == 5
    assert dlq.count() == 2


def test_filter_dml_drops_protocol_messages(spark, raw_df):
    decoded = decode_cdc_json(raw_df)
    assert filter_dml(decoded).count() == 5  # 3 valid DML + unmapped + missing-uuid


def test_topic_expr_mapping_fallback_and_discard(spark, raw_df):
    # pipeline order: decode -> validate -> filter_dml -> route
    decoded, _ = validate_split(decode_cdc_json(raw_df))
    decoded = filter_dml(decoded)
    mapping = {"test": "topic_test"}
    with_fallback = route(decoded, mapping, fallback="fb")
    got = {
        (r.table, r.topic) for r in with_fallback.select("table", "topic").collect()
    }
    assert got == {("test", "topic_test"), ("ghost", "fb")}
    # no fallback -> ghost discarded
    no_fallback = route(decoded, mapping, fallback=None)
    assert no_fallback.filter(F.col("table") == "ghost").count() == 0
    # stats keep the discard visible
    stats = {
        r.topic: r.n_events
        for r in routing_stats(decoded, mapping, fallback=None).collect()
    }
    assert stats == {"topic_test": 3, "__discarded__": 1}


def test_empty_mapping_routes_everything_to_fallback(spark, raw_df):
    decoded = filter_dml(validate_split(decode_cdc_json(raw_df))[0])
    assert route(decoded, {}, fallback="fb").filter(F.col("topic") == "fb").count() == 4
    assert route(decoded, {}, fallback=None).count() == 0


def test_once_per_jvm_memoizes_per_arguments_and_jvm(spark, monkeypatch):
    """Column expressions are built once per JVM and argument tuple: the same
    arguments return the same Column object, different ones (or a new
    JVM) build a new one, and the LRU stays within its bound."""
    from psql_streamer_spark import transforms

    mapping = {"a": "ta", "b": "tb"}
    col = topic_expr(mapping, "fb")
    assert topic_expr(dict(mapping), "fb") is col
    assert topic_expr({"a": "ta"}, "fb") is not col
    assert topic_expr(mapping, "other") is not col
    assert topic_expr(mapping, "fb", table_col="tbl") is not col

    monkeypatch.setattr(transforms, "_jvm_key", lambda: "another JVM")
    rebuilt = topic_expr(mapping, "fb")
    assert rebuilt is not col
    assert topic_expr(mapping, "fb") is rebuilt
    monkeypatch.undo()
    assert topic_expr(mapping, "fb") is col

    built = []
    build = transforms.once_per_jvm(lambda i: built.append(i) or object())
    maxsize = build.cache_info().maxsize
    for i in range(maxsize + 10):
        build(i)
    assert build(maxsize + 9) is build(maxsize + 9)
    assert len(built) == maxsize + 10
    assert build.cache_info().currsize == maxsize


def test_latest_per_key_breaks_wal_ties_delete_first(spark):
    """The one latest-wins rule: per key the highest WAL wins; on a WAL tie
    a delete wins, then the greater action, whatever the row order."""
    rows = [
        ("t", "1", "insert", 5), ("t", "1", "update", 7),
        ("t", "1", "delete", 7), ("t", "1", "insert", 7),
        ("t", "2", "insert", 3), ("t", "2", "update", 3),
        ("u", "1", "insert", 1),
    ]
    for order in (rows, rows[::-1]):
        df = spark.createDataFrame(
            order, "table string, k string, action string, wal_position long"
        )
        got = sorted(map(tuple, latest_per_key(df, "table", "k").collect()))
        assert got == [
            ("t", "1", "delete", 7), ("t", "2", "update", 3), ("u", "1", "insert", 1),
        ]


def test_serialize_roundtrip(spark, raw_df):
    """decode -> serialize -> decode is identity on valid events."""
    decoded, _ = validate_split(decode_cdc_json(raw_df))
    wire = serialize_passthrough(decoded)
    再 = decode_cdc_json(wire.select("value"))
    a = sorted(decoded.select("uuid", "action", "wal_position").collect())
    b = sorted(再.select("uuid", "action", "wal_position").collect())
    assert a == b


def test_default_key_and_empty_value_skip(spark, raw_df):
    decoded, _ = validate_split(decode_cdc_json(raw_df))
    keyed = with_default_key(decoded)
    keys = {r.key for r in keyed.select("key").collect()}
    assert "db1:test:test:insert" in keys
    # T9: empty-value skip
    df = spark.createDataFrame([("",), ("x",), (None,)], ["value"])
    assert drop_empty_values(df).count() == 1


def test_handler_chain_composes(spark, raw_df):
    out = apply_handlers(
        decode_cdc_json(raw_df),
        filter_dml,
        with_default_key,
        serialize_passthrough,
    )
    assert {"key", "value"} <= set(out.columns)
    assert out.count() == 5


def test_relation_registry_typed_projection(spark, raw_df):
    """S3+T2: registry-driven decode of the dynamic Columns map into typed
    columns; unsupported PG types dropped at registration; unknown
    relations error like generateEvent (postgres.go:380-384)."""
    from psql_streamer_spark.schema import RelationRegistry
    from psql_streamer_spark.transforms import project_table

    registry = RelationRegistry()
    struct = registry.register(
        "test", [("a", "int4"), ("b", "text"), ("geom", "geometry")]
    )
    assert [f.name for f in struct.fields] == ["a", "b"]  # geom dropped
    assert "test" in registry and registry.tables() == ["test"]

    decoded, _ = validate_split(decode_cdc_json(raw_df))
    typed = project_table(decoded, registry, "test")
    row = typed.filter(F.col("action") == "insert").collect()[0]
    assert row.a == 369223 and isinstance(row.a, int)  # int4 cast applied
    assert row.b == "a"
    assert "geom" not in typed.columns
    assert row.uuid.endswith("0001")

    with pytest.raises(KeyError, match="unknown relation"):
        project_table(decoded, registry, "ghost")
