"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded via Arrow-batched Pandas UDFs (`mapInPandas`).

The container has no image/audio libraries, so the actual media decode is
STUBBED (`decode_media` raises NotImplementedError); what is real — and
tested/oracle-checked — is everything Spark-side: the binary column
representation, the mapInPandas batch shape (bytes in, typed rows out),
schema contracts, and the deterministic fake feature extractor used in
place of the codec.

Scale design: binary payloads ride the same parquet row groups as their
metadata; mapInPandas streams Arrow batches so one task never holds more
than spark.sql.execution.arrow.maxRecordsPerBatch payloads; decode is a
narrow map (no shuffle), so 100 TB of media decodes at scan speed.

Reference parity note: the reference coerces bytea -> string and drops
unsupported types (source/postgres/postgres.go:405-425); we instead make
binary a first-class transported type with explicit metadata.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psql_streamer_spark.caching import persist_for, persisted, warehouse_table
from psql_streamer_spark.registry import register
from psql_streamer_spark.sources.tables import load_table


def decode_media(payload: bytes, mime: str) -> dict:
    """The real codec hook: dispatches to Pillow (image/*) or soundfile
    (audio/*) when importable. This container ships neither, so the
    deterministic fake (fake_image_features) remains the oracle-tested
    path; outside the sandbox the same operator decodes real media — a
    skip-marked test (tests/test_quality_metrics.py) exercises this branch
    wherever the codecs exist."""
    import io

    if mime.startswith("image/"):
        try:
            from PIL import Image
        except ImportError as exc:
            raise NotImplementedError(
                f"media decode for {mime!r} requires Pillow, not present in "
                "this environment; use fake_image_features for plumbing tests"
            ) from exc
        with Image.open(io.BytesIO(payload)) as img:
            return {
                "width": img.width,
                "height": img.height,
                "mode": img.mode,
                "format": img.format,
                "n_bytes": len(payload),
            }
    if mime.startswith("audio/"):
        try:
            import soundfile
        except ImportError as exc:
            raise NotImplementedError(
                f"media decode for {mime!r} requires soundfile, not present "
                "in this environment; use fake_image_features for plumbing "
                "tests"
            ) from exc
        with soundfile.SoundFile(io.BytesIO(payload)) as snd:
            return {
                "sample_rate": snd.samplerate,
                "channels": snd.channels,
                "frames": snd.frames,
                "n_bytes": len(payload),
            }
    raise NotImplementedError(f"no decoder registered for mime {mime!r}")


def fake_image_features(payload: bytes | None) -> tuple:
    """Deterministic stand-in for an image decoder: derives (n_bytes,
    width, height, checksum) purely from the payload bytes, so the DuckDB
    oracle can reproduce it. A NULL payload (missing blob, failed fetch —
    routine in a real asset table) yields NULL features, matching SQL
    NULL propagation, instead of crashing the whole Arrow batch."""
    if payload is None:
        return None, None, None, None
    n = len(payload)
    width = n % 640 + 1
    height = (n * 7) % 480 + 1
    return n, width, height, hashlib.md5(payload).hexdigest()


def _media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-cast as an opaque binary payload column with typed
    metadata — the engine's multimodal transport schema."""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.col("source").alias("origin"),
    )


# --------------------------------------------------------------------------
# mapInPandas feature extraction over the binary column.
# --------------------------------------------------------------------------
_FEATURES_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, n_pixels long, checksum string"
)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # Vectorized over the whole Arrow batch (guide §4.2): the size-derived
    # features are pure arithmetic on the byte length, so they run as
    # pandas column ops; only the md5 itself is a per-row loop (hashlib
    # has no batch entry point). Was 5 row-at-a-time .map passes
    # (fake_image_features + 4 tuple-extract lambdas) per batch —
    # fake_image_features stays as THE single-payload reference
    # implementation, pinned equal in tests/test_quality_metrics.py.
    for pdf in batches:
        # nullable pandas dtypes (Int64/Int32): NULL payloads carry through
        # as NULL features instead of poisoning the int cast
        n = pdf["payload"].str.len().astype("Int64")
        width = (n % 640 + 1).astype("Int32")
        height = (n * 7 % 480 + 1).astype("Int32")
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n,
                "width": width,
                "height": height,
                "n_pixels": width.astype("Int64") * height,
                "checksum": [
                    None if p is None else hashlib.md5(p).hexdigest()
                    for p in pdf["payload"]
                ],
            }
        )
        yield out[["doc_id", "n_bytes", "width", "height", "n_pixels", "checksum"]]


@register(
    "mm_image_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INT) AS height,
           (octet_length(encode(text)) % 640 + 1)
             * ((octet_length(encode(text)) * 7) % 480 + 1) AS n_pixels,
           md5(text) AS checksum
    FROM documents
    """,
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> typed features through a real mapInPandas pass
    (Arrow batches of bytes), with the codec stubbed deterministically."""
    media = _media_frame(spark, sf_dir)
    # Spread payloads across workers ONLY when the scan is under-split (a
    # single small local file would feed one Python worker the whole
    # corpus). At cluster scale the parquet scan already yields >= cores
    # partitions, and an unconditional repartition would full-shuffle every
    # payload byte before a narrow map — decode must stay shuffle-free.
    selected = media.select("doc_id", "payload")
    parallelism = spark.sparkContext.defaultParallelism
    if _scan_partitions(spark, selected, sf_dir) < parallelism:
        selected = selected.repartition(parallelism)
    return selected.mapInPandas(_extract_features, schema=_FEATURES_SCHEMA)


#: (applicationId, sf_dir, table) -> scan partition count. Touching .rdd
#: forces a plan conversion; the layout of an immutable snapshot never
#: changes, so pay that conversion once per session per dataset+table, not
#: per invocation. The table name is part of the key so a second caller
#: scanning a different table (or a repartitioned frame registered under
#: its own label) can never be served the first table's count.
_SCAN_PARTS: dict[tuple[str, str, str], int] = {}


def _scan_partitions(
    spark: SparkSession, df: DataFrame, sf_dir: str, table: str = "media"
) -> int:
    key = (spark.sparkContext.applicationId, sf_dir, table)
    if key not in _SCAN_PARTS:
        _SCAN_PARTS[key] = df.rdd.getNumPartitions()
    return _SCAN_PARTS[key]


# --------------------------------------------------------------------------
# Frame sampling: every 16th byte of the payload = one "frame" record.
# --------------------------------------------------------------------------
FRAME_STRIDE = 16


@register(
    "mm_frame_sample",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id, text,
             unnest(range(0, (octet_length(encode(text)) + {FRAME_STRIDE} - 1)
                              // {FRAME_STRIDE})) AS frame_idx
      FROM documents
    )
    SELECT doc_id, frame_idx,
           frame_idx * {FRAME_STRIDE} AS byte_offset,
           ascii(substr(text, CAST(frame_idx * {FRAME_STRIDE} + 1 AS INT), 1)) AS byte_value
    FROM frames
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided sampling over an opaque payload (the video frame-sample
    shape): explode of a computed offset sequence — a narrow map, rows
    scale with payload size / stride, never a shuffle."""
    d = load_table(spark, "documents", sf_dir)
    n_frames = F.ceil(F.octet_length(F.encode("text", "utf-8")) / FRAME_STRIDE).cast(
        "int"
    )
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "frame_idx",
            (F.col("frame_idx") * FRAME_STRIDE).alias("byte_offset"),
            F.ascii(
                F.substring(
                    F.col("text"), F.col("frame_idx") * FRAME_STRIDE + 1, 1
                )
            ).alias("byte_value"),
        )
    )


# --------------------------------------------------------------------------
# Modality routing on metadata (multimodal batch triage).
# --------------------------------------------------------------------------
@register(
    "mm_modality_stats",
    oracle="""
    SELECT CASE WHEN n_chars < 100 THEN 'thumbnail'
                WHEN n_chars < 300 THEN 'image'
                ELSE 'video' END AS modality,
           COUNT(*) AS n_assets,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           MIN(octet_length(encode(text))) AS min_bytes,
           MAX(octet_length(encode(text))) AS max_bytes
    FROM documents
    GROUP BY 1
    """,
)
def mm_modality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-tiered modality triage over payload metadata — the batch
    planner that decides which decode path (and which cluster pool) each
    asset goes to."""
    d = load_table(spark, "documents", sf_dir)
    nbytes = F.octet_length(F.encode("text", "utf-8"))
    return (
        d.select(
            F.when(F.col("n_chars") < 100, "thumbnail")
            .when(F.col("n_chars") < 300, "image")
            .otherwise("video")
            .alias("modality"),
            nbytes.alias("nb"),
        )
        .groupBy("modality")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum("nb").alias("total_bytes"),
            F.min("nb").alias("min_bytes"),
            F.max("nb").alias("max_bytes"),
        )
    )


# --------------------------------------------------------------------------
# Binary content-hash dedup: every media pipeline's first pass.
# --------------------------------------------------------------------------
@register(
    "mm_dedup_binary",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_md5,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
    FROM documents
    """,
)
def mm_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the opaque BINARY payload (image/audio/video alike:
    the hash never looks inside the codec): md5 of the payload bytes,
    canonical survivor = min doc_id per content hash. The text-table twin
    (dedup_fingerprint) normalizes text first; media payloads get NO
    normalization — a single differing byte is a different asset. The
    DuckDB twin hashes the VARCHAR directly: md5 over a UTF-8 string and
    md5 over its encoded bytes are the same digest, which is also why the
    binary path needs no casts. One hash + one window over the hash
    partition — the same single-shuffle shape as dedup_fingerprint."""
    from pyspark.sql import Window

    m = _media_frame(spark, sf_dir)
    h = F.md5(F.col("payload"))
    canon = F.min("doc_id").over(Window.partitionBy(h))
    return m.select(
        "doc_id",
        h.alias("content_md5"),
        canon.alias("canonical_doc_id"),
        (F.col("doc_id") != canon).alias("is_duplicate"),
    )


# --------------------------------------------------------------------------
# Perceptual (embedding) near-dup over binary payloads: mm_dedup_binary
# catches byte-identical assets only; re-encoded / lightly-edited media
# needs a feature-space match. The feature here is a deterministic
# payload-derived embedding — a 64-dim byte-bigram hashed histogram
# ((b[i]*31 + b[i+1]) % 64 bin counts) standing in for a real perceptual
# embedding (pHash / CLIP), with the SAME Spark-side plumbing a real
# model would use: mapInPandas feature extraction, then the bucketed
# hyperplane miner from dedup_embedding_lsh_pairs.
#
# The LSH twist histograms force: raw histograms live in the positive
# orthant (every pairwise cosine is ~0.87+ here), so random hyperplanes
# through the origin barely split them. Signatures are therefore computed
# on MEAN-CENTERED vectors — and to keep both engines in the same
# buckets, centering is integer-exact: ec[i] = h[i]*N - S[i] (N docs,
# S = per-dim corpus sums), a positive per-vector scaling of h - S/N that
# preserves every hyperplane sign while staying in int64 (no float mean,
# no fold-order drift). The exact-cosine rescore runs on the RAW
# histogram, so centering affects candidate generation only — precision
# is exact by construction, recall is what the bucketing buys.
# --------------------------------------------------------------------------
MM_HIST_DIM = 64
MM_COSINE_DUP = 0.99  # measured plateau: background 99.9th pct = 0.971

from psql_streamer_spark.operators.dedup import (  # noqa: E402
    DELTA_BUCKET as _MM_DELTA_BUCKET,
    DELTA_BUCKETS as _MM_DELTA_BUCKETS,
    EMB_PAIR_BUCKET as _MM_BUCKET,
    EMB_PAIR_MIN_PLANES as _MM_MIN_PLANES,
    _sim_signature as _mm_signature,
    _sim_signature_sql as _mm_signature_sql,
    _SIM_SQL_DOT as _MM_SQL_DOT,
    _SIM_SQL_NORM as _MM_SQL_NORM,
    _SQL_DELTA_PRED as _SQL_MM_DELTA_PRED,
    screen_delta_group_pairs,
    screen_unique_pairs,
)
from psql_streamer_spark.operators.similarity import (  # noqa: E402
    LSH_TABLES as _MM_TABLES,
    _dot as _mm_dot,
    _norm as _mm_norm,
)

# Corpus-adaptive mm signature width (r15): the embedding-pair sizing rule
# (expected bucket ~ _MM_BUCKET via m = ceil-div(N, _MM_BUCKET);
# p = clamp(min..max, smallest t: 2^t >= m) — see the dedup.py banner for
# why both engines compute p from pure-integer comparisons) with an
# mm-OWNED max. The embedding miner's 12-plane cap binds at
# 250 * 2^12 ~ 1M vectors; a media posting INDEX is the build-once
# artifact a growing ingest feed probes for months, so its occupancy
# envelope must extend further: 18 planes holds expected bucket <= 250 up
# to ~65M media docs. The extra planes cost one dot product each at
# build/sign time (linear, measured) and nothing at probe time; for any
# corpus below the old cap the low-p mask makes buckets BIT-IDENTICAL to
# the r14 layout (p is unchanged until m > 2^12), so small-SF oracles,
# recall floors, and the stored-model protocol are untouched. max_bucket
# above the expected envelope is REPLICA skew (byte-identical payloads
# share all planes) — that is what the probe's numpy screen is for, and
# what mm_index_stats watches.
MM_MAX_PLANES = 18


def _mm_planes(n: int) -> int:
    m = (n + _MM_BUCKET - 1) // _MM_BUCKET
    return max(_MM_MIN_PLANES, min(MM_MAX_PLANES, (m - 1).bit_length()))


_mm_sql_planes = " ".join(
    f"WHEN m <= {1 << t} THEN {t}"
    for t in range(_MM_MIN_PLANES, MM_MAX_PLANES)
)


def _mm_hist_from(media: DataFrame) -> DataFrame:
    """(doc_id, h bigint[64]) byte-bigram histograms via mapInPandas over
    any (doc_id, payload) frame — the same Arrow-batched narrow map as
    mm_image_features; a real deployment swaps the numpy bincount for a
    model forward pass. Taking the frame (not the corpus) is what lets
    the incremental miner histogram ONLY candidate documents."""
    import numpy as np

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_h = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # missing blob: no features, no pair
                    continue
                b = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                if len(b) < 2:
                    continue
                idx = (b[:-1] * 31 + b[1:]) % MM_HIST_DIM
                out_ids.append(doc_id)
                out_h.append(
                    np.bincount(idx, minlength=MM_HIST_DIM).tolist()
                )
            yield pd.DataFrame({"doc_id": out_ids, "h": out_h})

    return media.select("doc_id", "payload").mapInPandas(
        extract, schema="doc_id long, h array<long>"
    )


def _mm_hist_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide byte-bigram histograms (see _mm_hist_from)."""
    return _mm_hist_from(_media_frame(spark, sf_dir))


def _mm_model_of(hist: DataFrame) -> tuple:
    """(n_docs, S) centering model of a histogram frame: the corpus doc
    count and per-dimension column sums (model-sized driver state, the
    k-means discipline)."""
    n_docs = hist.count()
    sums = (
        hist.select(F.posexplode("h").alias("d", "c"))
        .groupBy("d")
        .agg(F.sum("c").alias("s"))
        .collect()
    )
    S = [0] * MM_HIST_DIM
    for r in sums:
        S[r.d] = r.s
    return n_docs, S


def _mm_signed_postings(
    hist: DataFrame, n_docs: int, S: list, planes: int
) -> DataFrame:
    """(doc_id, tbl, bucket, e) hyperplane postings of a histogram frame
    under the centering model (n_docs, S) with ``planes`` signature bits
    — THE single definition of the center->sign->mask pipeline, shared by
    the full miner, the posting-index build, the streaming batch signer,
    and the occupancy diagnostic (a drifted copy of this block would make
    an index and its probes silently incompatible)."""
    s_lit = F.array(*[F.lit(int(x)).cast("bigint") for x in S])
    ec = F.zip_with(
        F.col("h"), s_lit, lambda x, s: (x * F.lit(n_docs) - s).cast("double")
    )
    v = hist.select(
        "doc_id",
        ec.alias("ec"),
        F.col("h").cast("array<double>").alias("e"),
    )
    mask = (1 << planes) - 1
    sig = None
    for t in range(_MM_TABLES):
        part = v.select(
            "doc_id",
            F.lit(t).alias("tbl"),
            _mm_signature(t, F.col("ec"), MM_MAX_PLANES, dim=MM_HIST_DIM)
            .bitwiseAND(F.lit(mask))
            .alias("bucket"),
            "e",
        )
        sig = part if sig is None else sig.unionByName(part)
    return sig


_mm_pair_selects = " UNION ALL ".join(
    f"SELECT doc_id, {t} AS tbl,"
    f" ({_mm_signature_sql(t, 'ec', MM_MAX_PLANES)})"
    f" & ((1::BIGINT << (SELECT p FROM pp)) - 1) AS bucket FROM v"
    for t in range(_MM_TABLES)
)

_SQL_MM_PREFIX = f"""
    WITH hist AS (
      SELECT doc_id,
             list_transform(range(0, {MM_HIST_DIM}), d ->
               len(list_filter(bg, g -> g = d))::BIGINT) AS h
      FROM (
        SELECT doc_id,
               list_transform(range(1, len(bl)),
                 i -> (bl[i] * 31 + bl[i+1]) % {MM_HIST_DIM}) AS bg
        FROM (
          -- UTF-8 BYTES, not codepoints: the Spark side histograms the
          -- raw payload bytes (np.frombuffer uint8), so the oracle must
          -- walk the encoded form — hex() pairs decode to exactly the
          -- byte sequence, and the length guard counts bytes too. On
          -- ASCII corpora the two are identical; a multi-byte character
          -- would silently desync a codepoint-based twin.
          SELECT doc_id,
                 list_transform(regexp_extract_all(hex(encode(text)), '..'),
                                x -> CAST('0x' || x AS BIGINT)) AS bl
          FROM documents WHERE octet_length(encode(text)) >= 2
        )
      )
    ),
    tot AS (
      SELECT d, SUM(c)::BIGINT AS s
      FROM (SELECT unnest(range(0, {MM_HIST_DIM})) AS d, unnest(h) AS c
            FROM hist)
      GROUP BY d
    ),
    model AS (
      SELECT (SELECT list(s ORDER BY d) FROM tot) AS S,
             (SELECT COUNT(*) FROM hist) AS n
    ),
    v AS (
      SELECT doc_id,
             h::DOUBLE[] AS e,
             {_MM_SQL_NORM.format(a='h::DOUBLE[]')} AS nrm,
             list_transform(range(1, {MM_HIST_DIM} + 1),
               i -> (h[i] * model.n - model.S[i])::DOUBLE) AS ec
      FROM hist, model
    ),
    pm AS (SELECT (COUNT(*) + {_MM_BUCKET - 1}) // {_MM_BUCKET} AS m FROM v),
    pp AS (SELECT CASE {_mm_sql_planes} ELSE {MM_MAX_PLANES} END AS p FROM pm),
    sig AS ({_mm_pair_selects})
"""

_SQL_MM_VERIFY = f"""
    SELECT doc_a, doc_b,
           {_MM_SQL_DOT.format(a='va.e', b='vb.e')} / (va.nrm * vb.nrm) AS cosine
    FROM cand
    JOIN v va ON va.doc_id = doc_a
    JOIN v vb ON vb.doc_id = doc_b
    WHERE {_MM_SQL_DOT.format(a='va.e', b='vb.e')} / (va.nrm * vb.nrm)
            >= {MM_COSINE_DUP}
"""

_SQL_MM_DEDUP_EMBEDDING = (
    _SQL_MM_PREFIX
    + """,
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
"""
    + _SQL_MM_VERIFY
)

# delta semantics mirror dedup's _SQL_INCREMENTAL_LSH exactly: pairs where
# the PROBING side is in the md5 "arrived today" bucket — delta-corpus and
# delta-delta collisions surface, corpus-corpus pairs (mined on previous
# days) are skipped
_SQL_MM_DEDUP_INCR = (
    _SQL_MM_PREFIX
    + f""",
    newdocs AS (SELECT doc_id FROM documents WHERE {_SQL_MM_DELTA_PRED}),
    cand AS (
      SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                      GREATEST(a.doc_id, b.doc_id) AS doc_b
      FROM sig a JOIN sig b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
      WHERE a.doc_id IN (SELECT doc_id FROM newdocs)
    )
"""
    + _SQL_MM_VERIFY
)


@register("mm_dedup_embedding", oracle=_SQL_MM_DEDUP_EMBEDDING)
def mm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptually-near duplicate payload pairs at cosine >=
    MM_COSINE_DUP. Plan shape is dedup_embedding_lsh_pairs': the
    signature frame (N * LSH_TABLES rows) is the only shuffle; each
    (table, bucket) group screens its own pairs with one numpy matmul
    inside applyInPandas (never a bucket self-join), and only survivors
    take the exact sequential-fold rescore the oracle replays.
    Byte-identical payloads share identical centered vectors, hence every
    signature — exact duplicates are found with probability 1, no LSH
    luck involved (pinned in tests/test_mm_embedding.py)."""
    import numpy as np

    hist = _mm_hist_frame(spark, sf_dir).persist()
    n_docs, S = _mm_model_of(hist)  # count also materializes the persist
    v = hist.select(
        "doc_id",
        F.col("h").cast("array<double>").alias("e"),
    ).withColumn("nrm", _mm_norm(F.col("e")))
    screen_thr = MM_COSINE_DUP - 1e-6
    sig = _mm_signed_postings(hist, n_docs, S, _mm_planes(n_docs))

    def _bucket_screen(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"doc_a": [], "doc_b": []}).astype("int64")
        m = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        ids = pdf["doc_id"].to_numpy()
        # replica payloads share every bucket (identical histograms):
        # screen unique vectors only, expand pairs after (r15 verdict #1;
        # see dedup.screen_unique_pairs) — O(u^2) matmul, not O(k^2)
        lo, hi = screen_unique_pairs(m, ids, screen_thr)
        return pd.DataFrame({"doc_a": lo, "doc_b": hi})

    cand = (
        sig.groupBy("tbl", "bucket")
        .applyInPandas(_bucket_screen, schema="doc_a long, doc_b long")
        .distinct()
    )
    va = v.select(
        F.col("doc_id").alias("doc_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    vb = v.select(
        F.col("doc_id").alias("doc_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cosine = _mm_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    result = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select("doc_a", "doc_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= MM_COSINE_DUP)
    )
    return persist_for(hist, result)


# --------------------------------------------------------------------------
# Incremental media near-dup: the daily-ingest shape for the histogram
# miner, mirroring dedup_incremental_materialized_pairs (dedup.py). The
# corpus hyperplane-bucket postings are materialized ONCE as a bucketed
# table (the "written at ingest" artifact); each day's delta probes it
# with a bucket-local join — the corpus is never re-histogrammed and
# never re-shuffled, and the exact-cosine verify recomputes histograms
# for CANDIDATE documents only (the raw-histogram rescore needs no
# centering model, so the index alone carries everything the probe
# needs). At 100 TB of media this is the difference between a daily
# O(|delta| x collisions) job and re-mining the corpus.
# --------------------------------------------------------------------------
MM_BUCKET_INDEX_BUCKETS = 16


def mm_bucket_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once bucketed (doc_id, skey) posting table for the corpus'
    hyperplane buckets, skey = '<table>|<bucket>' (composite single key,
    same reasoning as band_index_table: Spark only treats bucketed scans
    as co-partitioned when the bucket column IS the full join key).
    Signatures use the corpus centering model (n, S) computed at build
    time — the model is baked into the postings, exactly like a trained
    IVF's centroids ride with its index."""

    def _build(table: str) -> None:
        from pyspark.sql import Window

        with persisted(_mm_hist_frame(spark, sf_dir)) as hist:
            n_docs, S = _mm_model_of(hist)
            # Index-level replica collapse (r17, the second half of r15
            # verdict #1): byte-identical payloads have identical histograms,
            # hence identical signatures under ANY centering model — so the
            # index stores ONE posting per unique vector (gid = the group's
            # min doc_id) plus a (gid, doc_id) members sidecar. Index rows
            # fall from O(N x tables) to O(u x tables), and every probe-side
            # bucket materialization is bounded by the unique count instead
            # of the replica count (a multi-million-row boilerplate cluster
            # was an OOM in the screening worker before this). The centering
            # model (n_docs, S) still sums over ALL docs — replicas weigh the
            # model exactly as the full miner's does.
            w = Window.partitionBy("h")
            grouped = hist.select(
                "doc_id", "h", F.min("doc_id").over(w).alias("gid")
            )
            with persisted(grouped):
                grouped.select("gid", "doc_id").write.mode("overwrite").saveAsTable(
                    f"{table}__members"
                )
                # the centering model rides beside the postings: a STREAMING
                # probe must sign brand-new payloads with the same (n, S, mask)
                # the index was built under — signature compatibility, the same
                # contract as the band index's shared expressions
                spark.createDataFrame(
                    [(n_docs, S, _mm_planes(n_docs))],
                    "n_docs long, s array<long>, planes int",
                ).write.mode("overwrite").saveAsTable(f"{table}__model")
                # the RAW histogram rides with every posting: the bucket screen
                # and the exact rescore both read vectors straight from the
                # index — a delta probe never re-reads the corpus
                uniq = grouped.filter(F.col("doc_id") == F.col("gid")).select(
                    "doc_id", "h"
                )
                sig = _mm_signed_postings(
                    uniq, n_docs, S, _mm_planes(n_docs)
                ).select(
                    F.col("doc_id").alias("gid"),
                    F.concat_ws(
                        "|",
                        F.col("tbl").cast("string"),
                        F.col("bucket").cast("string"),
                    ).alias("skey"),
                    "e",
                )
                (
                    sig.write.bucketBy(MM_BUCKET_INDEX_BUCKETS, "skey")
                    .sortBy("skey")
                    .mode("overwrite")
                    .saveAsTable(table)
                )

    return warehouse_table(spark, "mm_bucket_index", sf_dir, _build)


def mm_bucket_index_model(spark: SparkSession, table: str) -> tuple:
    """(n_docs, S, planes) the posting table was signed under."""
    r = spark.table(f"{table}__model").head()
    return int(r.n_docs), [int(x) for x in r.s], int(r.planes)


def mm_incremental_candidates(
    spark: SparkSession, sf_dir: str, bucket: int | None = None
) -> DataFrame:
    """Delta-touching candidate pairs from the COLLAPSED posting table,
    SCREENED inside each bucket exactly like the full miner: a plain
    delta-vs-bucket join explodes quadratically when the corpus has hot
    buckets (measured 15.5M raw pairs for a 5k-doc delta at 50k docs —
    near-identical payload replicas share hyperplane buckets), so each
    skey group instead runs one numpy matmul of its delta rows against
    the bucket and emits only pairs at screen cosine — |survivors|, not
    |collisions|. The groupBy key IS the table's bucket column, so the
    screen runs bucket-local on the bucketed scan: the posting index is
    never re-shuffled (plan-tested), and vectors come from the postings
    themselves — the corpus parquet is never touched.

    r17 shape: postings are one row per replica GROUP (see
    mm_bucket_index_table), so the screen emits (g_new, g_other) group
    pairs and the member expansion happens HERE, as two joins against
    the (gid, doc_id) sidecar — the heavy vectors never leave their
    bucket, the expansion shuffles only long ids (guide §8: decide on
    the lightweight proxy, expand after). A group is delta-touching iff
    ANY member falls in the md5 delta bucket; the x != y filter drops
    singleton self-pairs, least/greatest + distinct reproduce exactly
    the pre-collapse member-level candidate set (pinned by
    tests/test_mm_embedding.py parity against the full miner)."""
    from psql_streamer_spark.operators.mlprep import md5_bucket

    table = mm_bucket_index_table(spark, sf_dir)
    idx = spark.table(table)
    members = spark.table(f"{table}__members")
    if bucket is None:
        bucket = _MM_DELTA_BUCKET
    new_members = members.filter(
        md5_bucket(F.col("doc_id"), _MM_DELTA_BUCKETS) == bucket
    )
    new_gids = new_members.select("gid").distinct()
    posts = idx.join(
        F.broadcast(new_gids.withColumn("is_new", F.lit(True))),
        "gid",
        "left",
    ).select(
        "skey",
        "gid",
        "e",
        F.coalesce("is_new", F.lit(False)).alias("is_new"),
    )
    gp = screen_delta_group_posts(posts)
    return (
        gp.join(
            new_members.select(
                F.col("gid").alias("g_new"), F.col("doc_id").alias("x")
            ),
            "g_new",
        )
        .join(
            members.select(
                F.col("gid").alias("g_other"), F.col("doc_id").alias("y")
            ),
            "g_other",
        )
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
        )
        .distinct()
    )


def screen_delta_group_posts(posts: DataFrame) -> DataFrame:
    """Bucket-local delta-vs-bucket cosine screen over a COLLAPSED
    (skey, gid, e, is_new) posting frame — one row per replica group:
    each skey group runs one numpy matmul of its is_new rows against the
    whole group and emits oriented (g_new, g_other) GROUP pairs at
    MM_COSINE_DUP - 1e-6 (the full miner's screen threshold, strictly
    below the verify threshold so screening is lossless), including
    (g, g) self-pairs for new groups — within-group replica pairs
    surface in the caller's member expansion, whose x != y filter drops
    them for singletons. Shared by the incremental miner (delta = an md5
    bucket of the members) and the streaming probe (delta = a
    micro-batch's fresh postings); callers expand group pairs to member
    pairs against the index's members sidecar."""
    import numpy as np

    screen_thr = MM_COSINE_DUP - 1e-6

    def _delta_screen(pdf: pd.DataFrame) -> pd.DataFrame:
        new_mask = pdf["is_new"].to_numpy()
        if len(pdf) < 1 or not new_mask.any():
            return pd.DataFrame({"g_new": [], "g_other": []}).astype("int64")
        m = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        gids = pdf["gid"].to_numpy()
        lo, hi = screen_delta_group_pairs(m, gids, new_mask, screen_thr)
        return pd.DataFrame({"g_new": lo, "g_other": hi}).drop_duplicates()

    return (
        posts.groupBy("skey")
        .applyInPandas(_delta_screen, schema="g_new long, g_other long")
        .distinct()
    )


@register("mm_dedup_embedding_incremental", oracle=_SQL_MM_DEDUP_INCR)
def mm_dedup_embedding_incremental(
    spark: SparkSession, sf_dir: str, bucket: int | None = None
) -> DataFrame:
    """mm_dedup_embedding restricted to pairs touching the ingest delta,
    mined from the MATERIALIZED posting table instead of a fresh corpus
    pass: bucket-local candidate join, then the exact raw-histogram
    cosine verify over candidate documents ONLY (the semi-join lands
    before mapInPandas, so only colliding payloads pay the feature
    extraction). Same verify expression and threshold as the full miner,
    so a pair alerts here iff the full miner would emit it today."""
    cand = mm_incremental_candidates(spark, sf_dir, bucket).persist()
    ids = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
    )
    media = _media_frame(spark, sf_dir).join(ids, "doc_id", "semi")
    v = (
        _mm_hist_from(media)
        .select("doc_id", F.col("h").cast("array<double>").alias("e"))
        .withColumn("nrm", _mm_norm(F.col("e")))
    )
    va = v.select(
        F.col("doc_id").alias("doc_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    vb = v.select(
        F.col("doc_id").alias("doc_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cosine = _mm_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    result = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select("doc_a", "doc_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= MM_COSINE_DUP)
    )
    return persist_for(cand, result)


from psql_streamer_spark.operators.dedup import (  # noqa: E402
    BAND_BUCKET_CAP as _MM_HOT_CAP,  # reporting threshold shared with text
)

_SQL_MM_INDEX_STATS = (
    _SQL_MM_PREFIX
    + f""",
    skeyed AS (
      SELECT tbl, tbl::VARCHAR || '|' || bucket::VARCHAR AS skey
      FROM sig
    ),
    occ AS (SELECT tbl, skey, COUNT(*) AS cnt FROM skeyed GROUP BY tbl, skey)
    SELECT tbl,
           CAST(SUM(cnt) AS BIGINT) AS n_postings,
           COUNT(*) AS n_buckets,
           CAST(MAX(cnt) AS BIGINT) AS max_bucket,
           CAST(COUNT(*) FILTER (WHERE cnt > {_MM_HOT_CAP})
                AS BIGINT) AS n_hot_buckets
    FROM occ GROUP BY tbl
"""
)


@register("mm_index_stats", oracle=_SQL_MM_INDEX_STATS)
def mm_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table occupancy profile of the mm posting index — the media
    twin of dedup_band_index_stats, and the diagnostic that PREDICTED
    this round's incremental-probe rework: hot hyperplane buckets (the
    replica payloads sharing buckets) made a raw delta-vs-bucket join
    explode to 15.5M pairs; max_bucket / n_hot_buckets is the number an
    index owner watches to know the screen (not a join) must do the
    mining. One aggregate over the signature frame; |tables| output rows
    at any corpus scale."""
    hist = _mm_hist_frame(spark, sf_dir).persist()
    n_docs, S = _mm_model_of(hist)
    sig = _mm_signed_postings(
        hist, n_docs, S, _mm_planes(n_docs)
    ).select("tbl", "bucket")
    occ = sig.groupBy("tbl", "bucket").agg(F.count("*").alias("cnt"))
    out = occ.groupBy("tbl").agg(
        F.sum("cnt").cast("bigint").alias("n_postings"),
        F.count("*").alias("n_buckets"),
        F.max("cnt").cast("bigint").alias("max_bucket"),
        F.count_if(F.col("cnt") > _MM_HOT_CAP)
        .cast("bigint")
        .alias("n_hot_buckets"),
    )
    return persist_for(hist, out)
