"""pgoutput frame encoders the tests build fixtures with: the data
messages (Insert/Update/Delete, optionally with the protocol-v2 in-stream
xid prefix) and the v2 stream control messages. They are the inverse of
``sources.pgoutput_wire.parse_message``; the product package keeps only
the encoders its own code calls (Begin, Commit, Relation)."""

from __future__ import annotations

import struct
from datetime import datetime

from psql_streamer_spark.sources.pgoutput_wire import (
    TUPLE_BINARY,
    TUPLE_NULL,
    TUPLE_TEXT,
    TUPLE_UNCHANGED,
    datetime_to_pg_micros,
)


def _encode_tuple(cols: list[tuple[str, bytes | None]]) -> bytes:
    out = [struct.pack(">H", len(cols))]
    for flag, raw in cols:
        if flag in (TUPLE_NULL, TUPLE_UNCHANGED):
            out.append(flag.encode())
        elif flag in (TUPLE_TEXT, TUPLE_BINARY):
            if raw is None:
                raise ValueError(f"flag {flag!r} requires a value")
            out.append(flag.encode() + struct.pack(">i", len(raw)) + raw)
        else:
            raise ValueError(f"unknown tuple flag {flag!r}")
    return b"".join(out)


def text_col(value: object) -> tuple[str, bytes]:
    """Convenience: a 't' column carrying the PG text representation."""
    return (TUPLE_TEXT, str(value).encode("utf-8"))


def null_col() -> tuple[str, None]:
    return (TUPLE_NULL, None)


def _xid_prefix(xid: int | None) -> bytes:
    """Protocol-v2 in-stream xid prefix (empty outside a stream)."""
    return b"" if xid is None else struct.pack(">I", xid)


def encode_stream_start(xid: int, first_segment: bool = True) -> bytes:
    return b"S" + struct.pack(">Ib", xid, 1 if first_segment else 0)


def encode_stream_stop() -> bytes:
    return b"E"


def encode_stream_commit(
    xid: int, commit_lsn: int, end_lsn: int, commit_ts: datetime, flags: int = 0
) -> bytes:
    return b"c" + struct.pack(
        ">IbQQq", xid, flags, commit_lsn, end_lsn, datetime_to_pg_micros(commit_ts)
    )


def encode_stream_abort(xid: int, subxid: int | None = None) -> bytes:
    return b"A" + struct.pack(">II", xid, subxid if subxid is not None else xid)


def encode_insert(
    relation_id: int,
    new_tuple: list[tuple[str, bytes | None]],
    xid: int | None = None,
) -> bytes:
    return (
        b"I"
        + _xid_prefix(xid)
        + struct.pack(">I", relation_id)
        + b"N"
        + _encode_tuple(new_tuple)
    )


def encode_update(
    relation_id: int,
    new_tuple: list[tuple[str, bytes | None]],
    old_tuple: list[tuple[str, bytes | None]] | None = None,
    old_kind: str = "K",
    xid: int | None = None,
) -> bytes:
    out = [b"U", _xid_prefix(xid), struct.pack(">I", relation_id)]
    if old_tuple is not None:
        out.append(old_kind.encode() + _encode_tuple(old_tuple))
    out.append(b"N" + _encode_tuple(new_tuple))
    return b"".join(out)


def encode_delete(
    relation_id: int,
    old_tuple: list[tuple[str, bytes | None]],
    old_kind: str = "K",
    xid: int | None = None,
) -> bytes:
    return (
        b"D"
        + _xid_prefix(xid)
        + struct.pack(">I", relation_id)
        + old_kind.encode()
        + _encode_tuple(old_tuple)
    )
