"""pgoutput binary protocol: golden-fixture vectors + distributed decode.

The byte vectors mirror the reference's own test technique and values
(source/postgres/postgres_test.go:20-25): relation 0x2d7cb (public.test,
columns a:int4 key, b:text), insert tuple ("400166", "a"), update tuple
("144110", "lala"), delete key tuple ("144110", null), begin at LSN
0x192d1188 / xid 102693. Frames here are HANDCRAFTED bytes (not built by
our encoder) so an encoder/parser shared bug cannot hide.
"""

from __future__ import annotations

import json
import struct
from datetime import datetime, timezone

import pytest

from psql_streamer_spark.sources.pgoutput_wire import (
    OID_INT4,
    OID_TEXT,
    Column,
    ProtocolError,
    Relation,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_update,
    null_col,
    parse_message,
    reassemble_frames,
    text_col,
)

REL_ID = 0x2D7CB

# Handcrafted golden frames — field-by-field per the documented protocol.
RELATION_FRAME = (
    b"R"
    + struct.pack(">I", REL_ID)
    + b"public\x00"
    + b"test\x00"
    + struct.pack(">b", 0x64)
    + struct.pack(">H", 2)
    + struct.pack(">b", 1) + b"a\x00" + struct.pack(">Ii", 0x17, -1)
    + struct.pack(">b", 0) + b"b\x00" + struct.pack(">Ii", 0x19, -1)
)
INSERT_FRAME = (
    b"I"
    + struct.pack(">I", REL_ID)
    + b"N"
    + struct.pack(">H", 2)
    + b"t" + struct.pack(">i", 6) + b"400166"
    + b"t" + struct.pack(">i", 1) + b"a"
)
UPDATE_FRAME = (
    b"U"
    + struct.pack(">I", REL_ID)
    + b"N"
    + struct.pack(">H", 2)
    + b"t" + struct.pack(">i", 6) + b"144110"
    + b"t" + struct.pack(">i", 4) + b"lala"
)
DELETE_FRAME = (
    b"D"
    + struct.pack(">I", REL_ID)
    + b"K"
    + struct.pack(">H", 2)
    + b"t" + struct.pack(">i", 6) + b"144110"
    + b"n"
)
BEGIN_FRAME = (
    b"B"
    + struct.pack(">Q", 0x192D1188)
    + struct.pack(">q", 0)  # commit ts = PG epoch
    + struct.pack(">I", 102693)
)


def _frames_df(spark):
    """The golden frames plus the whitelist and error cases, as one
    captured stream."""
    rel = Relation(
        REL_ID, "public", "test", 0x64,
        [Column("a", OID_INT4, True), Column("b", OID_TEXT)],
    )
    # point (OID 600) is outside the type whitelist
    rel_geom = Relation(
        7, "public", "shapes", 0x64,
        [Column("k", OID_INT4, True), Column("geom", 600)],
    )
    rel_toast = Relation(
        8, "public", "docs", 0x64,
        [Column("k", OID_INT4, True), Column("v", OID_TEXT)],
    )
    rows = [
        (1, 0, encode_relation(rel)),
        (2, 0, BEGIN_FRAME),                              # dropped
        (3, 101, INSERT_FRAME),
        (4, 102, UPDATE_FRAME),
        (5, 103, DELETE_FRAME),
        (6, 104, encode_insert(999, [text_col(1)])),       # unknown rel
        (7, 105, b"\x49\x00"),                             # malformed
        (8, 0, encode_relation(rel_geom)),
        (9, 0, encode_relation(rel_toast)),
        (10, 106, encode_insert(7, [text_col(5), text_col("(1,2)")])),
        (11, 107, encode_insert(8, [text_col(5), ("u", None)])),  # TOAST
        (12, 108, encode_insert(7, [text_col(5)])),        # 1 cell, 2 cols
        (13, 109, encode_insert(                           # 3 cells, 2 cols
            REL_ID, [text_col(3), text_col("y"), text_col("z")]
        )),
    ]
    return spark.createDataFrame(
        rows, "seq long, wal_position long, value binary"
    )


@pytest.fixture(scope="module")
def decoded(spark):
    """`_frames_df` through the Spark decode and validate_split:
    ({wal_position: row} delivered, sorted dead-lettered wal_positions)."""
    from pyspark.sql import functions as F

    from psql_streamer_spark.sources.pgoutput_cdc import decode_pgoutput
    from psql_streamer_spark.transforms import validate_split

    out = decode_pgoutput(
        _frames_df(spark), host="h", database="d",
        uuid=F.col("wal_position").cast("string"),
    )
    valid, dlq = validate_split(out)
    return (
        {r["wal_position"]: r for r in valid.collect()},
        sorted(r["wal_position"] for r in dlq.collect()),
    )


class TestGoldenVectors:
    def test_relation(self):
        m = parse_message(RELATION_FRAME)
        assert m["kind"] == "relation"
        rel = m["relation"]
        assert rel.relation_id == REL_ID
        assert (rel.namespace, rel.name, rel.replica_identity) == (
            "public", "test", 0x64,
        )
        assert [(c.name, c.type_oid, c.is_key) for c in rel.columns] == [
            ("a", OID_INT4, True),
            ("b", OID_TEXT, False),
        ]

    def test_insert(self):
        m = parse_message(INSERT_FRAME)
        assert m["kind"] == "insert"
        assert m["relation_id"] == REL_ID
        assert m["new_tuple"] == [("t", b"400166"), ("t", b"a")]

    def test_update_without_old_image(self):
        m = parse_message(UPDATE_FRAME)
        assert m["kind"] == "update"
        assert m["old_tuple"] is None and m["old_kind"] is None
        assert m["new_tuple"] == [("t", b"144110"), ("t", b"lala")]

    def test_delete_key_tuple(self):
        m = parse_message(DELETE_FRAME)
        assert m["kind"] == "delete"
        assert m["old_kind"] == "K"
        assert m["old_tuple"] == [("t", b"144110"), ("n", None)]

    def test_begin(self):
        m = parse_message(BEGIN_FRAME)
        assert m["kind"] == "begin"
        assert m["final_lsn"] == 0x192D1188
        assert m["xid"] == 102693
        assert m["commit_ts"] == datetime(2000, 1, 1, tzinfo=timezone.utc)

    def test_typed_values_reference_assertions(self, decoded):
        """postgres_test.go:97-105: a -> 400166, b -> 'a' (the canonical
        map<string,string> payload carries the int4 as its text form)."""
        valid, _ = decoded
        assert valid[101]["table"] == "test"
        assert valid[101]["columns"] == {"a": "400166", "b": "a"}

    def test_unknown_relation_errors(self, decoded):
        """generateEvent on an unknown relid errors (postgres_test.go:94-95);
        the decode dead-letters the frame instead of failing the job."""
        valid, dlq = decoded
        assert 104 in dlq and 104 not in valid


class TestCodecRoundtrip:
    def test_encoders_invert_parser_on_golden_frames(self):
        rel = parse_message(RELATION_FRAME)["relation"]
        assert encode_relation(rel) == RELATION_FRAME
        assert (
            encode_insert(REL_ID, [text_col(400166), text_col("a")])
            == INSERT_FRAME
        )
        assert (
            encode_update(REL_ID, [text_col(144110), text_col("lala")])
            == UPDATE_FRAME
        )
        assert (
            encode_delete(REL_ID, [text_col(144110), null_col()]) == DELETE_FRAME
        )
        assert (
            encode_begin(0x192D1188, datetime(2000, 1, 1, tzinfo=timezone.utc), 102693)
            == BEGIN_FRAME
        )

    def test_commit_roundtrip(self):
        ts = datetime(2026, 8, 13, 12, 0, 0, tzinfo=timezone.utc)
        m = parse_message(encode_commit(10, 11, ts))
        assert m["kind"] == "commit"
        assert (m["commit_lsn"], m["end_lsn"], m["commit_ts"]) == (10, 11, ts)

    def test_update_with_key_image(self):
        frame = encode_update(
            REL_ID, [text_col(2), text_col("new")],
            old_tuple=[text_col(1), null_col()], old_kind="K",
        )
        m = parse_message(frame)
        assert m["old_kind"] == "K"
        assert m["old_tuple"] == [("t", b"1"), ("n", None)]
        assert m["new_tuple"] == [("t", b"2"), ("t", b"new")]


class TestWhitelistAndErrors:
    def test_unsupported_oid_skipped(self, decoded):
        """postgres.go:421-424: a column of an unsupported type (point,
        OID 600) is dropped; the rest of the row is delivered."""
        valid, _ = decoded
        assert valid[106]["columns"] == {"k": "5"}

    def test_unchanged_toast_omitted(self, decoded):
        valid, _ = decoded
        assert valid[107]["columns"] == {"k": "5"}

    def test_arity_mismatch_errors(self, decoded):
        """A tuple with fewer or more cells than its relation has columns
        is dead-lettered, not delivered as a short or truncated map."""
        valid, dlq = decoded
        assert {108, 109} <= set(dlq)
        assert not {108, 109} & set(valid)

    @pytest.mark.parametrize(
        "frame",
        [
            b"",
            b"I" + struct.pack(">I", 1),          # truncated before marker
            b"I" + struct.pack(">I", 1) + b"X",   # bad tuple marker
            b"Z" + b"\x00" * 8,                   # unknown kind
            b"R" + struct.pack(">I", 1) + b"noterm",  # unterminated string
        ],
    )
    def test_malformed_frames_raise(self, frame):
        with pytest.raises(ProtocolError):
            parse_message(frame)


# Protocol v2 (PG 14+ streaming=on): handcrafted golden frames, same
# technique as above. The reference pins proto_version '1'
# (source/postgres/postgres.go:205-219) and never decodes these — we do,
# so a modern publisher's large in-progress transactions work.
STREAM_START_FRAME = b"S" + struct.pack(">Ib", 777, 1)
STREAM_STOP_FRAME = b"E"
STREAM_COMMIT_FRAME = b"c" + struct.pack(">IbQQq", 777, 0, 0x100, 0x110, 0)
STREAM_ABORT_FRAME = b"A" + struct.pack(">II", 777, 777)
STREAM_ABORT_SUBXACT_FRAME = b"A" + struct.pack(">II", 777, 778)
# in-stream data messages: Int32 xid immediately after the kind byte
STREAMED_INSERT_FRAME = (
    b"I"
    + struct.pack(">I", 777)
    + struct.pack(">I", REL_ID)
    + b"N"
    + struct.pack(">H", 2)
    + b"t" + struct.pack(">i", 6) + b"400166"
    + b"t" + struct.pack(">i", 1) + b"a"
)
SUBXACT_INSERT_FRAME = (
    b"I"
    + struct.pack(">I", 778)  # subtransaction xid
    + struct.pack(">I", REL_ID)
    + b"N"
    + struct.pack(">H", 1)
    + b"t" + struct.pack(">i", 1) + b"z"
)


class TestProtocolV2Stream:
    def test_stream_start(self):
        m = parse_message(STREAM_START_FRAME)
        assert m == {"kind": "stream_start", "xid": 777, "first_segment": True}

    def test_stream_stop(self):
        assert parse_message(STREAM_STOP_FRAME) == {"kind": "stream_stop"}

    def test_stream_commit(self):
        m = parse_message(STREAM_COMMIT_FRAME)
        assert m["kind"] == "stream_commit"
        assert m["xid"] == 777
        assert m["commit_lsn"] == 0x100
        assert m["end_lsn"] == 0x110
        assert m["commit_ts"] == datetime(2000, 1, 1, tzinfo=timezone.utc)

    def test_stream_abort(self):
        m = parse_message(STREAM_ABORT_FRAME)
        assert m == {"kind": "stream_abort", "xid": 777, "subxid": 777}

    def test_in_stream_xid_prefix(self):
        m = parse_message(STREAMED_INSERT_FRAME, in_stream=True)
        assert m["kind"] == "insert"
        assert m["xid"] == 777
        assert m["relation_id"] == REL_ID
        assert m["new_tuple"] == [("t", b"400166"), ("t", b"a")]

    def test_same_bytes_without_stream_context_misparse_guard(self):
        # the frame does NOT self-describe: outside a stream the xid bytes
        # get read as the relation_id and the parse derails at the tuple
        # marker — which is why the caller must track stream state
        # (reassemble_frames does)
        with pytest.raises(ProtocolError):
            parse_message(STREAMED_INSERT_FRAME, in_stream=False)

    def test_v2_encoders_invert_parser(self):
        from psql_streamer_spark.sources.pgoutput_wire import (
            encode_stream_abort,
            encode_stream_commit,
            encode_stream_start,
            encode_stream_stop,
        )

        assert encode_stream_start(777) == STREAM_START_FRAME
        assert encode_stream_stop() == STREAM_STOP_FRAME
        assert (
            encode_stream_commit(
                777, 0x100, 0x110, datetime(2000, 1, 1, tzinfo=timezone.utc)
            )
            == STREAM_COMMIT_FRAME
        )
        assert encode_stream_abort(777) == STREAM_ABORT_FRAME
        assert encode_stream_abort(777, 778) == STREAM_ABORT_SUBXACT_FRAME
        assert encode_insert(REL_ID, [text_col(400166), text_col("a")], xid=777) == (
            STREAMED_INSERT_FRAME
        )

    def test_assembler_emits_only_on_stream_commit(self):
        open_txn = [STREAM_START_FRAME, STREAMED_INSERT_FRAME, STREAM_STOP_FRAME]
        assert reassemble_frames(open_txn) == []
        out = reassemble_frames(open_txn + [STREAM_COMMIT_FRAME])
        assert [parse_message(f)["kind"] for f in out] == [
            "begin", "insert", "commit",
        ]
        assert parse_message(out[1])["new_tuple"] == [("t", b"400166"), ("t", b"a")]

    def test_assembler_abort_drops_whole_transaction(self):
        frames = [
            STREAM_START_FRAME,
            STREAMED_INSERT_FRAME,
            STREAM_STOP_FRAME,
            STREAM_ABORT_FRAME,
        ]
        assert reassemble_frames(frames) == []
        # a later commit for the aborted xid yields an empty transaction
        out = reassemble_frames(frames + [STREAM_COMMIT_FRAME])
        assert [parse_message(f)["kind"] for f in out] == ["begin", "commit"]

    def test_assembler_subxact_abort_drops_only_subxact_changes(self):
        out = reassemble_frames([
            STREAM_START_FRAME,
            STREAMED_INSERT_FRAME,       # xid 777 (toplevel)
            SUBXACT_INSERT_FRAME,        # xid 778 (subxact)
            STREAM_STOP_FRAME,
            STREAM_ABORT_SUBXACT_FRAME,  # aborts subxact 778 only
            STREAM_COMMIT_FRAME,
        ])
        assert [parse_message(f)["kind"] for f in out] == [
            "begin", "insert", "commit",
        ]
        assert out[1] == INSERT_FRAME

    def test_assembler_interleaved_segments(self):
        from psql_streamer_spark.sources.pgoutput_wire import (
            encode_stream_commit,
            encode_stream_start,
        )

        ts = datetime(2000, 1, 1, tzinfo=timezone.utc)
        # segment of xid 777, then a segment of xid 900, then commits
        out = reassemble_frames([
            STREAM_START_FRAME,
            STREAMED_INSERT_FRAME,
            STREAM_STOP_FRAME,
            encode_stream_start(900),
            encode_insert(REL_ID, [text_col("other")], xid=900),
            STREAM_STOP_FRAME,
            encode_stream_commit(900, 0x200, 0x210, ts),
            STREAM_COMMIT_FRAME,
        ])
        msgs = [parse_message(f) for f in out]
        assert [m["kind"] for m in msgs] == [
            "begin", "insert", "commit", "begin", "insert", "commit",
        ]
        assert (msgs[0]["xid"], msgs[3]["xid"]) == (900, 777)
        assert msgs[1]["new_tuple"] == [("t", b"other")]
        assert out[4] == INSERT_FRAME

    def test_assembler_passes_through_non_streamed(self):
        frames = [BEGIN_FRAME, INSERT_FRAME]
        assert reassemble_frames(frames) == frames

    def test_reassemble_frames_strips_xid_byte_exact(self):
        frames = [
            STREAM_START_FRAME,
            STREAMED_INSERT_FRAME,
            STREAM_STOP_FRAME,
            STREAM_COMMIT_FRAME,
        ]
        out = reassemble_frames(frames)
        # Begin + the DATA frame (xid stripped -> byte-identical to the
        # v1 INSERT_FRAME) + Commit
        assert len(out) == 3
        assert out[0][0:1] == b"B"
        assert out[1] == INSERT_FRAME
        assert out[2][0:1] == b"C"
        m = parse_message(out[2])
        assert m["commit_lsn"] == 0x100 and m["end_lsn"] == 0x110

    def test_reassemble_drops_aborted_and_orders_by_commit(self):
        from psql_streamer_spark.sources.pgoutput_wire import (
            encode_stream_commit,
            encode_stream_start,
        )

        ts = datetime(2000, 1, 1, tzinfo=timezone.utc)
        frames = [
            # xid 777 segment, then aborted
            STREAM_START_FRAME,
            STREAMED_INSERT_FRAME,
            STREAM_STOP_FRAME,
            # xid 900 segment, commits
            encode_stream_start(900),
            encode_insert(REL_ID, [text_col(1), text_col("x")], xid=900),
            STREAM_STOP_FRAME,
            STREAM_ABORT_FRAME,  # aborts 777
            encode_stream_commit(900, 0x200, 0x210, ts),
        ]
        out = reassemble_frames(frames)
        kinds = [parse_message(f)["kind"] for f in out]
        assert kinds == ["begin", "insert", "commit"]
        assert parse_message(out[0])["xid"] == 900

    def test_reassembled_v2_capture_decodes_like_v1(self, spark):
        """End-to-end: a protocol-v2 capture (streamed large transaction)
        reassembled at the ingest edge decodes through the distributed
        path into exactly the events the equivalent v1 capture yields."""
        from pyspark.sql import functions as F

        from psql_streamer_spark.sources.pgoutput_cdc import decode_pgoutput
        rel = Relation(
            REL_ID, "public", "test", 0x64,
            [Column("a", OID_INT4, True), Column("b", OID_TEXT)],
        )
        v2 = [
            encode_relation(rel),
            STREAM_START_FRAME,
            encode_insert(REL_ID, [text_col(400166), text_col("a")], xid=777),
            encode_update(REL_ID, [text_col(144110), text_col("lala")], xid=777),
            STREAM_STOP_FRAME,
            STREAM_COMMIT_FRAME,
        ]
        v1 = [
            encode_relation(rel),
            encode_insert(REL_ID, [text_col(400166), text_col("a")]),
            encode_update(REL_ID, [text_col(144110), text_col("lala")]),
        ]

        def decode(frames):
            rows = [(i + 1, 100 + i, f) for i, f in enumerate(frames)]
            df = spark.createDataFrame(
                rows, "seq long, wal_position long, value binary"
            )
            out = decode_pgoutput(
                df,
                uuid=F.lit("fixed"),
                ts=F.to_timestamp(F.lit("2024-01-01")),
            )
            return [
                (r["table"], r["action"], dict(r["columns"]))
                for r in out.orderBy("wal_position").collect()
            ]

        assert decode(reassemble_frames(v2)) == decode(v1)


class TestSparkDecode:
    """Distributed decode over an in-memory frame stream."""

    def test_decode_end_to_end(self, decoded):
        rows, dlq = decoded
        assert set(rows) == {101, 102, 103, 106, 107}
        assert rows[101]["action"] == "insert"
        assert rows[101]["table"] == "test"
        assert rows[101]["columns"] == {"a": "400166", "b": "a"}
        assert rows[102]["columns"] == {"a": "144110", "b": "lala"}
        # delete ships the replica identity; non-key column is NULL
        assert rows[103]["action"] == "delete"
        assert rows[103]["columns"] == {"a": "144110", "b": None}
        # unknown relation and arity mismatches -> DLQ (generateEvent
        # lookup error analogue); the malformed frame never reaches the
        # DML set
        assert dlq == [104, 108, 109]

    def test_parse_stream_flags_malformed(self, spark):
        from pyspark.sql import functions as F

        from psql_streamer_spark.sources.pgoutput_cdc import parse_stream

        parsed = parse_stream(_frames_df(spark))
        errs = parsed.filter(F.col("kind") == "error").collect()
        assert len(errs) == 1
        assert errs[0]["seq"] == 7 and "truncated" in errs[0]["parse_error"]

    def test_schema_change_resolves_latest_relation(self, spark):
        """A re-announced Relation (column added) applies only to frames
        after it — the RelationSet replace semantics (postgres.go:303-305).
        """
        from pyspark.sql import functions as F

        from psql_streamer_spark.sources.pgoutput_cdc import decode_pgoutput

        rel_v1 = Relation(5, "public", "t", 0x64, [Column("a", OID_INT4, True)])
        rel_v2 = Relation(
            5, "public", "t", 0x64,
            [Column("a", OID_INT4, True), Column("b", OID_TEXT)],
        )
        rows = [
            (1, 0, encode_relation(rel_v1)),
            (2, 10, encode_insert(5, [text_col(1)])),
            (3, 0, encode_relation(rel_v2)),
            (4, 11, encode_insert(5, [text_col(2), text_col("x")])),
        ]
        df = spark.createDataFrame(rows, "seq long, wal_position long, value binary")
        out = decode_pgoutput(df, uuid=F.lit("u"))
        got = {r["wal_position"]: r["columns"] for r in out.collect()}
        assert got == {10: {"a": "1"}, 11: {"a": "2", "b": "x"}}


class TestStreamingPipeline:
    """file_pgoutput end-to-end: captured binary frames -> CdcPipeline ->
    sinks, with the relation cache surviving across micro-batches."""

    def _write_frames(self, spark, path, rows):
        spark.createDataFrame(
            rows, "seq long, wal_position long, value binary"
        ).coalesce(1).write.mode("append").parquet(path)

    def test_relation_cache_survives_micro_batches(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from psql_streamer_spark.sources.pgoutput_cdc import PgoutputStreamDecoder
        from psql_streamer_spark.streaming.pipeline import CdcPipeline, SinkRoute
        from psql_streamer_spark.streaming.sinks import MemorySink

        rel = Relation(
            REL_ID, "public", "users", 0x64,
            [Column("a", OID_INT4, True), Column("b", OID_TEXT)],
        )
        src = str(tmp_path / "frames")
        # epoch 1: the Relation announce + one insert
        self._write_frames(spark, src, [
            (1, 0, encode_relation(rel)),
            (2, 101, encode_insert(REL_ID, [text_col(1), text_col("x")])),
        ])
        # epoch 2: DML ONLY — decodable iff the cache persisted; the
        # 1-cell insert does not match the 2-column relation
        self._write_frames(spark, src, [
            (3, 102, encode_insert(REL_ID, [text_col(2), text_col("y")])),
            (4, 103, encode_delete(REL_ID, [text_col(1), null_col()])),
            (5, 104, encode_insert(REL_ID, [text_col(3)])),
        ])

        sink, dlq = MemorySink("m"), MemorySink("dlq")
        pipe = CdcPipeline(
            spark, src, str(tmp_path / "ckpt"),
            routes=[SinkRoute(sink, {"users": "t"})], dlq_sink=dlq,
            max_files_per_trigger=1,
            decoder=PgoutputStreamDecoder(
                host="h", database="d", uuid=F.col("wal_position").cast("string")
            ),
        )
        pipe.run_to_completion()
        assert pipe.stats.batches >= 2  # the epochs really were separate
        got = {json.loads(r.value)["WALPosition"]: json.loads(r.value)
               for r in sink.rows}
        assert set(got) == {101, 102, 103}
        assert got[102]["Table"] == "users"
        assert got[102]["Columns"] == {"a": "2", "b": "y"}
        assert got[103]["Action"] == "delete"
        assert got[103]["Columns"] == {"a": "1", "b": None}
        assert [r["wal_position"] for r in dlq.rows] == [104]

    def test_compile_config_file_pgoutput_source(self, spark, tmp_path):
        from psql_streamer_spark.config import compile_config
        from psql_streamer_spark.sources.pgoutput_cdc import PgoutputStreamDecoder

        src = tmp_path / "frames"
        src.mkdir()
        conf = {
            "boltdb": str(tmp_path / "ckpt"),
            "source": {
                "pg1": {
                    "type": "file_pgoutput", "path": str(src),
                    "host": "db9", "database": "prod",
                }
            },
            "sink": {
                "logger": {"type": "stub_log", "sources": ["pg1"]},
            },
        }
        engine = compile_config(spark, conf)
        pipe = engine.pipelines["pg1"]
        assert pipe.decoder.source_format == "parquet"
        assert isinstance(pipe.decoder, PgoutputStreamDecoder)
        assert pipe.decoder.host == "db9" and pipe.decoder.database == "prod"
