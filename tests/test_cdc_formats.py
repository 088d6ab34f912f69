"""Golden-fixture decode tests for the CDC envelope dialects — the Spark
analogue of the reference's hand-captured pgoutput fixtures
(source/postgres/postgres_test.go:20-25,97-105): literal wire payloads in,
exact typed envelope out."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from psql_streamer_spark.sources.cdc_formats import (
    decode_dialect,
    decode_mixed,
    lsn_to_wal_position,
)
from psql_streamer_spark.transforms import filter_dml, validate_split

W2J_INSERT = json.dumps(
    {
        "action": "I",
        "schema": "public",
        "table": "users",
        "columns": [
            {"name": "id", "type": "integer", "value": 400166},
            {"name": "name", "type": "text", "value": "a"},
            {"name": "active", "type": "boolean", "value": True},
            {"name": "bio", "type": "text", "value": None},
        ],
        "timestamp": "2024-03-01 10:15:30.123456+00",
        "lsn": "1/6B3748",
    }
)
W2J_DELETE = json.dumps(
    {
        "action": "D",
        "schema": "public",
        "table": "users",
        "identity": [{"name": "id", "type": "integer", "value": 7}],
        "timestamp": "2024-03-01 10:16:00.5+00",
        "lsn": "0/FF",
    }
)
W2J_BEGIN = json.dumps(
    {"action": "B", "timestamp": "2024-03-01 10:15:30.1+00", "lsn": "1/6B3700"}
)

DBZ_CREATE = json.dumps(
    {
        "payload": {
            "before": None,
            "after": {"id": 42, "name": "bob", "score": 1.5},
            "source": {
                "name": "pg1",
                "db": "appdb",
                "schema": "public",
                "table": "users",
                "lsn": 123456789,
                "ts_ms": 1709287530123,
            },
            "op": "c",
            "ts_ms": 1709287530200,
        }
    }
)
DBZ_DELETE = json.dumps(
    {
        "payload": {
            "before": {"id": 42},
            "after": None,
            "source": {
                "name": "pg1",
                "db": "appdb",
                "schema": "public",
                "table": "users",
                "lsn": 123456999,
                "ts_ms": 1709287531000,
            },
            "op": "d",
        }
    }
)


def _df(spark, *lines):
    return spark.createDataFrame([(ln,) for ln in lines], ["value"])


def test_wal2json_insert_decodes_types_and_lsn(spark):
    row = decode_dialect(
        _df(spark, W2J_INSERT), "wal2json", host="h1", database="d1"
    ).first()
    assert row.host == "h1" and row.database == "d1"
    assert row.table == "users" and row.action == "insert"
    # lsn '1/6B3748' -> 1<<32 | 0x6B3748
    assert row.wal_position == (1 << 32) + 0x6B3748
    assert row.ts.isoformat() == "2024-03-01T10:15:30.123456"
    # heterogeneous JSON values arrive as literal text; JSON null stays NULL
    assert row.columns == {"id": "400166", "name": "a", "active": "true", "bio": None}
    assert row.uuid  # fresh v4 by default (postgres.go:349)


def test_wal2json_delete_uses_identity_and_begin_is_filtered(spark):
    decoded = decode_dialect(
        _df(spark, W2J_INSERT, W2J_DELETE, W2J_BEGIN), "wal2json"
    )
    assert decoded.count() == 3  # decode keeps protocol records...
    dml = filter_dml(decoded).orderBy("wal_position").collect()
    assert [r.action for r in dml] == ["delete", "insert"]  # ...T1 drops B
    delete = dml[0]
    assert delete.columns == {"id": "7"}  # replica identity, not `columns`
    assert delete.wal_position == 0xFF


def test_wal2json_malformed_goes_to_dlq(spark):
    decoded = decode_dialect(_df(spark, W2J_INSERT, "not json at all"), "wal2json")
    valid, dlq = validate_split(decoded)
    assert valid.count() == 1 and dlq.count() == 1
    assert dlq.first().table is None  # from_json NULLed every field


def test_debezium_create_and_snapshot_read_normalize_to_insert(spark):
    read = DBZ_CREATE.replace('"op": "c"', '"op": "r"')
    rows = decode_dialect(_df(spark, DBZ_CREATE, read), "debezium").collect()
    assert [r.action for r in rows] == ["insert", "insert"]
    r = rows[0]
    assert r.host == "pg1" and r.database == "appdb" and r.table == "users"
    assert r.wal_position == 123456789
    # event time = source.ts_ms (commit time), ms precision
    assert r.ts.isoformat() == "2024-03-01T10:05:30.123000"
    assert r.columns == {"id": "42", "name": "bob", "score": "1.5"}


def test_debezium_delete_reads_before_image(spark):
    r = decode_dialect(_df(spark, DBZ_DELETE), "debezium").first()
    assert r.action == "delete"
    assert r.columns == {"id": "42"}
    assert r.wal_position == 123456999


def test_lsn_conversion_expression(spark):
    good = ["0/0", "0/1", "1/6B3748", "7FFFFFFF/FFFFFFFF", "a/ff"]
    # garbage must not decode to 0, and a low half past 32 bits would
    # collide with another LSN ('0/1FFFFFFFF' == '1/FFFFFFFF')
    bad = ["zz/qq", "0/1FFFFFFFF", "123456789/0", "0/", "/1", "0", "", "0/1/2",
           "0/1\n", None]
    df = spark.createDataFrame([(x,) for x in good + bad], "lsn string")
    got = [r[0] for r in df.select(lsn_to_wal_position(F.col("lsn"))).collect()]
    assert got == [
        0, 1, (1 << 32) + 0x6B3748, (0x7FFFFFFF << 32) + 0xFFFFFFFF, (10 << 32) + 0xFF,
    ] + [None] * len(bad)


def test_dml_row_without_wal_position_is_dead_lettered(spark):
    """One validity rule for every dialect: a DML row whose WAL position
    did not decode goes to the DLQ; a marker row without one is still
    only dropped by filter_dml."""
    no_lsn = json.loads(W2J_INSERT)
    del no_lsn["lsn"]
    bad_lsn = W2J_INSERT.replace('"1/6B3748"', '"zz/qq"')
    begin = json.dumps({"action": "B", "timestamp": "2024-03-01 10:15:30.1+00"})
    valid, dlq = validate_split(decode_dialect(
        _df(spark, W2J_INSERT, json.dumps(no_lsn), bad_lsn, begin), "wal2json"
    ))
    assert sorted(r.action for r in valid.collect()) == ["begin", "insert"]
    assert dlq.count() == 2
    assert [r.action for r in filter_dml(valid).collect()] == ["insert"]

    # a Debezium envelope without source.lsn is dead-lettered too
    dbz = json.loads(DBZ_CREATE)
    del dbz["payload"]["source"]["lsn"]
    valid, dlq = validate_split(decode_dialect(
        _df(spark, DBZ_CREATE, json.dumps(dbz)), "debezium"
    ))
    assert valid.count() == 1 and dlq.count() == 1


def test_wal2json_non_utc_offset_converts_to_utc(spark):
    """wal2json stamps commit time in the server's log_timezone; a '+02'
    feed must convert to UTC, not have its offset stripped."""
    line = W2J_INSERT.replace("10:15:30.123456+00", "10:15:30.123456+02")
    row = decode_dialect(_df(spark, line), "wal2json").first()
    assert row.ts.isoformat() == "2024-03-01T08:15:30.123456"


MXW_INSERT = json.dumps(
    {
        "database": "shop",
        "table": "orders",
        "type": "insert",
        "ts": 1709287530,
        "xid": 23396,
        "commit": True,
        "position": "master.000006:800911",
        "data": {"id": 9, "status": "new", "amount": 12.5, "note": None},
    }
)
MXW_DELETE = json.dumps(
    {
        "database": "shop",
        "table": "orders",
        "type": "delete",
        "ts": 1709287531,
        "xid": 23400,
        "position": "master.000007:16",
        "data": {"id": 9, "status": "cancelled"},
    }
)
MXW_BOOTSTRAP = json.dumps(
    {
        "database": "shop",
        "table": "orders",
        "type": "bootstrap-insert",
        "ts": 1709287000,
        "position": "master.000006:100",
        "data": {"id": 1},
    }
)
MXW_DDL = json.dumps(
    {
        "database": "shop",
        "table": "orders",
        "type": "table-create",
        "ts": 1709286000,
        "position": "master.000006:1",
    }
)


def test_maxwell_insert_decodes_coordinates_and_payload(spark):
    row = decode_dialect(_df(spark, MXW_INSERT), "maxwell", host="m1").first()
    assert (row.host, row.database, row.table, row.action) == (
        "m1",
        "shop",
        "orders",
        "insert",
    )
    # binlog file 6, offset 800911 -> (6 << 32) | 800911
    assert row.wal_position == (6 << 32) | 800911
    assert row.ts.isoformat().startswith("2024-03-01T")
    # heterogeneous values transport as literal text; JSON null stays NULL
    assert row.columns == {
        "id": "9",
        "status": "new",
        "amount": "12.5",
        "note": None,
    }


def test_maxwell_delete_image_rides_data_and_rotation_orders(spark):
    rows = {
        r.action: r
        for r in decode_dialect(
            _df(spark, MXW_INSERT, MXW_DELETE), "maxwell"
        ).collect()
    }
    # Maxwell deletes carry the deleted row in `data` (no `before` slot)
    assert rows["delete"].columns == {"id": "9", "status": "cancelled"}
    # a later binlog FILE with a smaller offset still orders after
    assert rows["delete"].wal_position > rows["insert"].wal_position


def test_maxwell_bootstrap_normalizes_and_ddl_is_dropped(spark):
    decoded = decode_dialect(_df(spark, MXW_BOOTSTRAP, MXW_DDL), "maxwell")
    assert [r.action for r in decoded.collect()] == [
        "insert",
        "table-create",
    ]
    assert [r.action for r in filter_dml(decoded).collect()] == ["insert"]


def test_maxwell_malformed_line_routes_to_dlq(spark):
    decoded = decode_dialect(_df(spark, MXW_INSERT, "{broken"), "maxwell")
    valid, dlq = validate_split(decoded)
    assert valid.count() == 1 and dlq.count() == 1


def test_dialect_classifier_discriminates_all_fixtures(spark):
    from psql_streamer_spark.sources.cdc_formats import classify_cdc_dialect

    lines = [
        (W2J_INSERT, "wal2json"),
        (W2J_BEGIN, "wal2json"),
        (DBZ_CREATE, "debezium"),
        (DBZ_DELETE, "debezium"),
        (MXW_INSERT, "maxwell"),
        (MXW_DDL, "maxwell"),
        ('{"some":"other json"}', "unknown"),
        ("not json", "unknown"),
    ]
    got = (
        _df(spark, *[ln for ln, _ in lines])
        .select(classify_cdc_dialect(F.col("value")).alias("d"))
        .collect()
    )
    assert [r.d for r in got] == [want for _, want in lines]


def test_auto_decode_routes_each_line_like_its_clean_decoder(spark):
    mixed = _df(spark, W2J_INSERT, DBZ_CREATE, MXW_DELETE, "zzz not json")
    out = decode_mixed(mixed, host="h0", database="d0")
    rows = {r.dialect: r for r in out.collect()}
    assert set(rows) == {"wal2json", "debezium", "maxwell", "unknown"}
    # spot-parity with the clean decoders on the same lines
    dbz = decode_dialect(_df(spark, DBZ_CREATE), "debezium").first()
    assert (
        rows["debezium"].table,
        rows["debezium"].action,
        rows["debezium"].wal_position,
        rows["debezium"].columns,
    ) == (dbz.table, dbz.action, dbz.wal_position, dbz.columns)
    mxw = decode_dialect(_df(spark, MXW_DELETE), "maxwell", host="h0").first()
    assert (
        rows["maxwell"].table,
        rows["maxwell"].action,
        rows["maxwell"].wal_position,
        rows["maxwell"].columns,
    ) == (mxw.table, mxw.action, mxw.wal_position, mxw.columns)
    # the junk line becomes a DLQ-routable envelope row, never silence
    assert rows["unknown"].uuid is None and rows["unknown"].action is None
    valid, dlq = validate_split(out)
    assert valid.count() == 3 and dlq.count() == 1


def test_maxwell_garbage_position_yields_null_not_ansi_crash(spark):
    """Regression: a heartbeat-ish line with a non-'file:offset'
    position must decode with NULL wal_position (try_cast), not throw
    CAST_INVALID_INPUT under ANSI mode and kill the epoch."""

    line = json.dumps(
        {
            "database": "shop",
            "table": "orders",
            "type": "insert",
            "ts": 1709287530,
            "position": "none",
            "data": {"id": "1"},
        }
    )
    decoded = decode_dialect(_df(spark, line), "maxwell")
    row = decoded.first()
    assert row.action == "insert" and row.wal_position is None
    # an insert with no position is dead-lettered, not delivered
    valid, dlq = validate_split(decoded)
    assert valid.count() == 0 and dlq.count() == 1


CNL_BATCH = json.dumps(
    {
        "data": [
            {"id": "1", "name": "a", "score": 1.5},
            {"id": "2", "name": "b", "score": None},
        ],
        "database": "appdb",
        "es": 1709287530123,
        "id": 77,
        "isDdl": False,
        "old": None,
        "pkNames": ["id"],
        "table": "users",
        "ts": 1709287530900,
        "type": "INSERT",
    }
)
CNL_DELETE = json.dumps(
    {
        "data": [{"id": "9"}],
        "database": "appdb",
        "es": 1709287531000,
        "id": 78,
        "isDdl": False,
        "table": "users",
        "ts": 1709287531500,
        "type": "DELETE",
    }
)
CNL_DDL = json.dumps(
    {
        "data": None,
        "database": "appdb",
        "es": 1709287000000,
        "id": 76,
        "isDdl": True,
        "table": "users",
        "ts": 1709287000500,
        "type": "CREATE",
    }
)


def test_canal_batch_fans_out_one_event_per_data_element(spark):
    rows = decode_dialect(_df(spark, CNL_BATCH), "canal", host="c1").collect()
    assert len(rows) == 2  # the dialect's distinguishing feature
    assert {r.columns["id"] for r in rows} == {"1", "2"}
    for r in rows:
        assert (r.host, r.database, r.table, r.action) == (
            "c1",
            "appdb",
            "users",
            "insert",
        )
        assert r.wal_position == 77  # batch id as position analogue
        assert r.ts.isoformat().startswith("2024-03-01T")  # es, not ts
    # heterogeneous values transport as literal text; nulls stay NULL
    assert {r.columns["score"] for r in rows} == {"1.5", None}
    # per-event uuids even within one batch (default uuid() path)
    assert len({r.uuid for r in rows}) == 2


def test_canal_delete_image_and_ddl_marker(spark):
    decoded = decode_dialect(_df(spark, CNL_DELETE, CNL_DDL), "canal")
    rows = {r.action: r for r in decoded.collect()}
    assert rows["delete"].columns == {"id": "9"}  # image rides data
    assert rows["create"].columns is None  # DDL marker, data=null kept
    assert [r.action for r in filter_dml(decoded).collect()] == ["delete"]


def test_classifier_and_auto_dispatch_handle_canal(spark):
    from psql_streamer_spark.sources.cdc_formats import classify_cdc_dialect

    got = (
        _df(spark, CNL_BATCH, CNL_DDL, MXW_INSERT)
        .select(classify_cdc_dialect(F.col("value")).alias("d"))
        .collect()
    )
    # isDdl discriminates canal; maxwell (type+position, no isDdl) is
    # untouched by the new probe
    assert [r.d for r in got] == ["canal", "canal", "maxwell"]

    out = decode_mixed(_df(spark, CNL_BATCH, MXW_INSERT), host="h0")
    by_dialect = {}
    for r in out.collect():
        by_dialect.setdefault(r.dialect, []).append(r)
    assert len(by_dialect["canal"]) == 2 and len(by_dialect["maxwell"]) == 1
    clean = decode_dialect(_df(spark, CNL_BATCH), "canal", host="h0").collect()
    assert sorted(
        (r.table, r.action, r.wal_position, r.columns["id"])
        for r in by_dialect["canal"]
    ) == sorted(
        (r.table, r.action, r.wal_position, r.columns["id"]) for r in clean
    )


def test_binlog_offset_past_4gib_yields_null_not_corrupt_order(spark):
    """r16 (r15 advice #2): binlog offsets are 64-bit; an offset >= 2^32
    (one transaction larger than max_binlog_size) must yield a NULL
    wal_position (DLQ posture) instead of ORing into the file-sequence
    bits and silently mis-ordering the stream."""
    from psql_streamer_spark.sources.cdc_formats import (
        binlog_to_wal_position,
    )

    df = spark.createDataFrame(
        [
            ("mysql-bin.000007:1024",),
            (f"mysql-bin.000007:{1 << 32}",),
            (f"mysql-bin.000008:{(1 << 32) + 5}",),
        ],
        "position string",
    )
    got = df.select(
        binlog_to_wal_position(F.col("position")).alias("wp")
    ).collect()
    assert got[0].wp == (7 << 32) | 1024
    assert got[1].wp is None and got[2].wp is None
    # and the decoded row really lands in the DLQ split
    past = MXW_INSERT.replace("master.000006:800911", f"master.000006:{1 << 32}")
    valid, dlq = validate_split(
        decode_dialect(_df(spark, MXW_INSERT, past), "maxwell")
    )
    assert valid.count() == 1 and dlq.count() == 1
    assert dlq.first().wal_position is None


def test_one_dialect_table():
    """One dialect table: every JSON dialect decodes through one body (one
    envelope parse, one explode_outer), the only decoders are the table's
    entry points, and the config picks a dialect by name from the table."""
    import ast
    import inspect

    import psql_streamer_spark.config as config
    from psql_streamer_spark.sources import cdc_formats

    calls = [
        n.func.attr for n in ast.walk(ast.parse(inspect.getsource(cdc_formats)))
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    ]
    assert calls.count("explode_outer") == 1 and calls.count("from_json") == 1
    assert {n for n in dir(cdc_formats) if n.startswith("decode_")} == {
        "decode_dialect", "decode_mixed",
    }
    imported = {
        a.name for n in ast.walk(ast.parse(inspect.getsource(config)))
        if isinstance(n, ast.ImportFrom) and n.module.endswith(".cdc_formats")
        for a in n.names
    }
    assert imported == {"DIALECTS", "decode_dialect"}
