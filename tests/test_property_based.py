"""Property-based tests (hypothesis): duration parsing, relation registry
whitelist, routing-expression equivalence, and decode/serialize roundtrip
over generated CDC payloads.

Spark sessions are expensive per-example, so DataFrame properties batch
many generated rows into ONE DataFrame per example and keep max_examples
small; pure-Python properties run at full default volume."""

from __future__ import annotations

import json

from hypothesis import given, settings, strategies as st

from psql_streamer_spark.config import ConfigError, parse_duration_ms
from psql_streamer_spark.schema import PG_TO_SPARK, RelationRegistry

# -- parse_duration_ms: Go-style durations ----------------------------------


@given(st.integers(min_value=0, max_value=10**6))
def test_duration_bare_numbers_are_seconds(n):
    assert parse_duration_ms(n) == n * 1000


@given(
    st.integers(min_value=0, max_value=10**6),
    st.sampled_from([("ms", 1), ("s", 1000), ("m", 60_000), ("h", 3_600_000)]),
)
def test_duration_go_suffixes(n, unit):
    suffix, factor = unit
    assert parse_duration_ms(f"{n}{suffix}") == n * factor


@given(st.text(max_size=10).filter(lambda s: not s.strip().isdigit()))
def test_duration_garbage_always_raises_not_misparses(s):
    """Any non-numeric junk raises ConfigError — never silently parses."""
    try:
        parse_duration_ms(s)
    except ConfigError:
        pass  # the only acceptable failure mode
    else:
        # parses only if it genuinely was <number><unit>
        stripped = s.strip()
        assert any(
            stripped.endswith(u) and stripped[: -len(u)].replace(".", "", 1).isdigit()
            for u in ("ms", "s", "m", "h")
        )


# -- RelationRegistry: whitelist projection is order/duplication-safe -------

_PG_TYPES = st.sampled_from(sorted(PG_TO_SPARK) + ["geometry", "jsonb", "xml"])
_COLS = st.lists(
    st.tuples(st.text("abcdefg", min_size=1, max_size=8), _PG_TYPES),
    min_size=0,
    max_size=12,
    unique_by=lambda c: c[0],
)


@given(_COLS)
def test_registry_keeps_exactly_whitelisted_columns_in_order(cols):
    reg = RelationRegistry()
    struct = reg.register("t", cols)
    expected = [name for name, pg in cols if pg.lower() in PG_TO_SPARK]
    assert [f.name for f in struct.fields] == expected
    assert reg.struct("t") is struct


# -- routing expression == dict lookup, for arbitrary mappings --------------


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.text("abcxyz_", min_size=1, max_size=6),
        st.text("topic0123", min_size=1, max_size=8),
        max_size=6,
    ),
    st.lists(st.text("abcxyz_", min_size=1, max_size=6), min_size=1, max_size=20),
    st.one_of(st.none(), st.just("fb")),
)
def test_topic_expr_equals_dict_semantics(spark, mapping, tables, fallback):
    from psql_streamer_spark.routing import topic_expr

    df = spark.createDataFrame([(t,) for t in tables], ["table"])
    got = [
        r.topic
        for r in df.select(
            topic_expr(mapping, fallback).alias("topic")
        ).collect()
    ]
    want = [mapping.get(t, fallback) for t in tables]
    assert got == want


# -- decode -> serialize -> decode identity on generated events -------------

_EVENTS = st.lists(
    st.fixed_dictionaries(
        {
            "Host": st.text("hostdb19", min_size=1, max_size=8),
            "Database": st.text("testdb", min_size=1, max_size=6),
            "Table": st.text("abc_", min_size=1, max_size=6),
            "Action": st.sampled_from(["insert", "update", "delete"]),
            "WALPosition": st.integers(min_value=0, max_value=2**62),
            "Timestamp": st.just("2024-01-01T10:00:00Z"),
            "UUID": st.uuids().map(str),
            "Columns": st.dictionaries(
                st.text("abxy", min_size=1, max_size=4),
                st.text("val0189 ", max_size=12),
                max_size=4,
            ),
        }
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(_EVENTS)
def test_decode_serialize_roundtrip_identity(spark, events):
    """decode∘serialize∘decode == decode for ANY valid wire payload —
    the reference's passthrough contract (sink/kafka/passthrough.go)."""
    from psql_streamer_spark.transforms import decode_cdc_json, serialize_passthrough

    raw = spark.createDataFrame([(json.dumps(e),) for e in events], ["value"])
    once = decode_cdc_json(raw)
    twice = decode_cdc_json(serialize_passthrough(once).select("value"))
    cols = ["host", "database", "table", "action", "wal_position", "uuid", "columns"]
    a = sorted(map(str, once.select(*cols).collect()))
    b = sorted(map(str, twice.select(*cols).collect()))
    assert a == b


# -- wal2json / Debezium decoders: build->decode roundtrip ------------------

_IDENT = st.text("abcdefghij_", min_size=1, max_size=12)
# JSON-representable payload values incl. unicode text, ints, bools, null
_VAL = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(max_size=20),
)


def _expected_text(v):
    """The literal-text transport contract for heterogeneous JSON values."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            _IDENT,  # table
            st.sampled_from(["I", "U", "D"]),
            st.dictionaries(_IDENT, _VAL, min_size=0, max_size=5),
            st.integers(min_value=0, max_value=2**31 - 1),  # lsn lo
            st.integers(min_value=0, max_value=2**31 - 1),  # lsn hi
        ),
        min_size=1,
        max_size=25,
    )
)
def test_wal2json_roundtrip_property(spark, rows):
    """decode(build(event)) recovers table/action/wal/columns for arbitrary
    generated payloads — unicode, negatives, bools, nulls."""
    import json as _json

    from psql_streamer_spark.sources.cdc_formats import decode_dialect

    lines = []
    expected = {}
    for i, (table, act, cols, _lo, hi) in enumerate(rows):
        payload = [
            {"name": k, "type": "text", "value": v} for k, v in cols.items()
        ]
        # low LSN half = row index -> wal_position doubles as a unique key
        body = {
            "action": act,
            "schema": "public",
            "table": table,
            "timestamp": "2024-03-01 10:15:30.1+00",
            "lsn": f"{hi:X}/{i:X}",
        }
        # wal2json: D carries identity, I/U carry columns
        body["identity" if act == "D" else "columns"] = payload
        lines.append((_json.dumps(body),))
        expected[(hi << 32) | i] = (
            table,
            {"I": "insert", "U": "update", "D": "delete"}[act],
            {k: _expected_text(v) for k, v in cols.items()},
        )
    df = spark.createDataFrame(lines, ["value"])
    got = {
        r.wal_position: (r.table, r.action, dict(r.columns or {}))
        for r in decode_dialect(df, "wal2json").collect()
    }
    assert got == expected


# -- pgoutput wire codec: encoder/parser roundtrip (v1 + v2) ----------------

_pg_value = st.one_of(
    st.none(),
    st.integers(min_value=-(2**31), max_value=2**31 - 1).map(str),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
        max_size=40,
    ),
)


def _tuple_cols(values):
    from tests.pgoutput_encoders import null_col, text_col

    return [null_col() if v is None else text_col(v) for v in values]


@given(
    st.integers(min_value=1, max_value=2**32 - 1),
    st.lists(_pg_value, min_size=1, max_size=8),
    st.one_of(st.none(), st.integers(min_value=1, max_value=2**32 - 1)),
)
def test_pgoutput_insert_roundtrip(relation_id, values, xid):
    """encode_insert(parse(x)) == x for any whitelist-shaped tuple, with
    and without the protocol-v2 in-stream xid prefix. A prefixed frame
    goes the product's way, through reassemble_frames: Stream Start, the
    frame, Stop, Stream Commit reassemble into Begin (carrying the xid),
    the v1 frame byte for byte, Commit."""
    from datetime import datetime, timezone

    from psql_streamer_spark.sources.pgoutput_wire import (
        parse_message,
        reassemble_frames,
    )
    from tests.pgoutput_encoders import (
        encode_insert,
        encode_stream_commit,
        encode_stream_start,
        encode_stream_stop,
    )

    cols = _tuple_cols(values)
    frame = encode_insert(relation_id, cols)
    if xid is not None:
        ts = datetime(2001, 2, 3, tzinfo=timezone.utc)
        out = reassemble_frames([
            encode_stream_start(xid),
            encode_insert(relation_id, cols, xid=xid),
            encode_stream_stop(),
            encode_stream_commit(xid, 1, 2, ts),
        ])
        assert len(out) == 3 and out[1] == frame
        assert parse_message(out[0])["xid"] == xid
    m = parse_message(frame)
    assert m["kind"] == "insert"
    assert m["relation_id"] == relation_id
    got = [(f, None if raw is None else raw.decode()) for f, raw in m["new_tuple"]]
    want = [(f, None if raw is None else raw.decode()) for f, raw in cols]
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**32 - 1),  # stream xid
            st.lists(_pg_value, min_size=1, max_size=4),     # tuple values
            st.booleans(),                                    # commit or abort
        ),
        min_size=1,
        max_size=6,
        unique_by=lambda t: t[0],  # one stream per xid (PG guarantees this)
    )
)
def test_stream_reassembly_keeps_exactly_committed_transactions(txns):
    """For any interleaving-free sequence of streamed transactions, the
    reassembled v1 frames contain exactly the committed transactions'
    tuples in commit order; aborted ones vanish."""
    from datetime import datetime, timezone

    from psql_streamer_spark.sources.pgoutput_wire import (
        parse_message,
        reassemble_frames,
    )
    from tests.pgoutput_encoders import (
        encode_insert,
        encode_stream_abort,
        encode_stream_commit,
        encode_stream_start,
        encode_stream_stop,
    )

    ts = datetime(2001, 2, 3, tzinfo=timezone.utc)
    frames = []
    want = []
    for i, (xid, values, commits) in enumerate(txns):
        frames.append(encode_stream_start(xid))
        frames.append(encode_insert(7, _tuple_cols(values), xid=xid))
        frames.append(encode_stream_stop())
        if commits:
            frames.append(encode_stream_commit(xid, i + 1, i + 2, ts))
            want.append(
                [
                    (f, None if raw is None else raw.decode())
                    for f, raw in _tuple_cols(values)
                ]
            )
        else:
            frames.append(encode_stream_abort(xid))
    out = reassemble_frames(frames)
    inserts = [
        [
            (f, None if raw is None else raw.decode())
            for f, raw in parse_message(fr)["new_tuple"]
        ]
        for fr in out
        if fr[0:1] == b"I"
    ]
    assert inserts == want
    # bracketing invariant: every commit preceded by its begin
    kinds = [parse_message(fr)["kind"] for fr in out]
    assert kinds.count("begin") == kinds.count("commit") == len(want)


# -- chunking arithmetic: chunks tile every document exactly ---------------


@given(st.integers(min_value=0, max_value=2000))
def test_chunking_formula_tiles_every_word(nw):
    """For any word count: chunk i covers [i*stride, i*stride+size); the
    computed chunk count must (a) cover every word index, (b) never emit
    an empty chunk, (c) respect the overlap contract between neighbors.
    Pure-Python mirror of the integer arithmetic both engines run."""
    from psql_streamer_spark.operators.mlprep import (
        CHUNK_SIZE_WORDS as SIZE,
        CHUNK_STRIDE_WORDS as STRIDE,
    )

    n_chunks = (nw + STRIDE - 1) // STRIDE if nw > 0 else 0
    covered = set()
    for i in range(n_chunks):
        start = i * STRIDE
        length = min(SIZE, nw - start)
        assert length > 0, (nw, i)
        covered.update(range(start, start + length))
    assert covered == set(range(nw))
    if n_chunks >= 2:
        # neighbor overlap = SIZE - STRIDE wherever the next chunk is full
        assert STRIDE < SIZE


# --------------------------------------------------------------------------
# Bloom bitmap machinery (r12): pure-Python properties of the word-array
# construction — no Spark needed, so hypothesis can hammer them.
# --------------------------------------------------------------------------
@given(
    st.lists(
        st.integers(min_value=0, max_value=65535), max_size=200, unique=True
    )
)
def test_bloom_words_roundtrip_exact_bit_set(positions):
    """build_bloom_words must encode EXACTLY the given positions: decoding
    every set bit back out of the signed 64-bit words recovers the input
    set, no extra bits, at any position mix (including bit 63 of a word,
    where the signed wrap lives)."""
    from psql_streamer_spark.operators.mlprep import BLOOM_M_BITS, build_bloom_words

    words = build_bloom_words(positions)
    assert len(words) == BLOOM_M_BITS // 64
    assert all(-(1 << 63) <= w < (1 << 63) for w in words)
    decoded = {
        i * 64 + b
        for i, w in enumerate(words)
        for b in range(64)
        if (w & ((1 << 64) - 1)) >> b & 1
    }
    assert decoded == set(positions)


@given(
    st.sets(st.text(alphabet="abcdefgh ", min_size=1, max_size=20), max_size=30),
    st.sets(st.text(alphabet="abcdefgh ", min_size=1, max_size=20), max_size=30),
)
def test_bloom_membership_never_false_negative_in_python_model(battery, probes):
    """The position-set model of the filter (what the DuckDB oracle runs
    and what the word-array encodes — pinned equal elsewhere) can never
    reject a gram that is in the battery, for ANY battery/probe mix."""
    import hashlib

    from psql_streamer_spark.operators.mlprep import BLOOM_K_HASHES, BLOOM_M_BITS

    def pos(g, s):
        return int(hashlib.md5(f"{s}|{g}".encode()).hexdigest()[:8], 16) % BLOOM_M_BITS

    bits = {pos(g, s) for g in battery for s in range(BLOOM_K_HASHES)}
    for g in probes | battery:
        hit = all(pos(g, s) in bits for s in range(BLOOM_K_HASHES))
        if g in battery:
            assert hit  # the defining guarantee


@given(st.integers(min_value=0, max_value=10**9))
def test_bloom_sizing_is_monotone_pow2_and_sufficient(n):
    from psql_streamer_spark.operators.mlprep import bloom_m_bits_for

    m = bloom_m_bits_for(n)
    assert m >= 4096
    assert m & (m - 1) == 0  # power of two
    if n > 256:  # above the floor, the ~16 bits/gram rule must hold
        assert m >= 16 * n
        assert m < 64 * n  # and not absurdly oversized (pow2 headroom <4x... allow 4x)
