"""Streaming media near-duplicate detection: the ingest-time face of the
mm dedup pipeline — the binary-payload twin of streaming/dedup_stream.py.

Batch mining (operators/multimodal.mm_dedup_embedding) answers "what
perceptual near-dups exist in the corpus"; its incremental form probes a
MATERIALIZED posting table with an already-indexed delta. Production
ingest needs the third form — "is this BRAND-NEW payload a near-dup of
anything indexed" — answered at arrival. The shape:

- the corpus posting table (operators.multimodal.mm_bucket_index_table)
  carries (gid, skey, raw-histogram vector) bucketed on skey — one row
  per replica GROUP (r17 collapse) with a (gid, doc_id) members sidecar
  — plus a companion one-row MODEL table (n, S, planes): new payloads
  must be signed under the index's own centering model or their buckets
  are meaningless (signature compatibility, the band-index contract);
- each micro-batch is histogrammed (the same Arrow-batched map the index
  was built from), centered and signed under the stored model, and
  screened bucket-locally against ONLY the buckets it touches (the index
  side is semi-joined down to the batch's skeys before anything moves);
- screened pairs take the exact raw-histogram cosine verify — vectors
  come from the batch frame and the postings themselves, so the corpus
  parquet is never read;
- alerts are (new_doc_id, corpus_doc_id, cosine) at MM_COSINE_DUP, with
  byte-identical payloads found with probability 1 (identical payload =>
  identical histogram => identical signature under the shared model).
  Scope of the guarantee: payloads under 2 bytes yield no bigram
  histogram and are skipped by the extractor — on BOTH the index and
  probe sides, exactly as the batch miner skips them — so a sub-2-byte
  payload is out of the near-dup domain entirely, never half-indexed.

Batch-internal pairs (two new near-copies in one micro-batch) are NOT
emitted — the same epoch granularity as the text probe; shrink
maxFilesPerTrigger to tighten it. Non-SQL-expressible as one query
(materialized index + model state + stream), so the surface is
pytest-verified (tests/test_streaming.py::test_streaming_mm_near_dup_alerts
pins alert parity against the batch miner's pairs for identical
payloads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psql_streamer_spark.caching import touch_app_table_liveness
from psql_streamer_spark.streaming.sinks import EpochParquetSink, run_gate_stream

from psql_streamer_spark.operators.multimodal import (
    MM_COSINE_DUP,
    _mm_dot,
    _mm_hist_from,
    _mm_norm,
    _mm_signed_postings,
    mm_bucket_index_model,
    screen_delta_group_posts,
)


def batch_mm_postings(
    spark: SparkSession, batch_df: DataFrame, index_table: str
) -> DataFrame:
    """(doc_id, skey, e) postings for a (doc_id, payload) micro-batch,
    signed under ``index_table``'s stored centering model — the exact
    expressions mm_bucket_index_table built the corpus postings with."""
    n_docs, S, planes = mm_bucket_index_model(spark, index_table)
    return _mm_signed_postings(
        _mm_hist_from(batch_df), n_docs, S, planes
    ).select(
        "doc_id",
        F.concat_ws(
            "|",
            F.col("tbl").cast("string"),
            F.col("bucket").cast("string"),
        ).alias("skey"),
        "e",
    )


def probe_mm_bucket_index(
    spark: SparkSession, batch_df: DataFrame, index_table: str
) -> DataFrame:
    """One micro-batch of (doc_id, payload) against the posting table;
    returns verified (new_doc_id, corpus_doc_id, cosine) alerts.

    New doc_ids must be disjoint from indexed ids (the ingest contract
    every stream here shares). Cost: O(|batch| postings + unique groups
    of the touched buckets) — the semi-join prunes the index scan to the
    batch's skeys before the screen, and the verify joins vectors
    carried by the batch frame and the postings (no corpus read).

    r17 shape: index postings are one row per replica GROUP (see
    mm_bucket_index_table), each batch doc is its own singleton group,
    and the screen emits oriented (g_new, g_other) group pairs. The
    verify runs ONCE per surviving group pair (every member of a group
    shares the group's vector, so the member cosine IS the group
    cosine); members expand only after the threshold filter, via one
    join against the (gid, doc_id) sidecar — a hot replica cluster costs
    one cosine, not one per member."""
    touch_app_table_liveness(spark, index_table)  # see its docstring
    new_posts = batch_mm_postings(spark, batch_df, index_table)
    idx = spark.table(index_table)
    members = spark.table(f"{index_table}__members")
    touched = new_posts.select("skey").distinct()
    idx_posts = idx.join(F.broadcast(touched), "skey", "semi")
    posts = idx_posts.select(
        "skey", "gid", "e", F.lit(False).alias("is_new")
    ).unionByName(
        new_posts.select(
            "skey",
            F.col("doc_id").alias("gid"),
            "e",
            F.lit(True).alias("is_new"),
        )
    )
    pairs = screen_delta_group_posts(posts)
    # corpus-side partners only: a g_other that is itself a batch doc is
    # a batch-internal pair (not emitted — same epoch granularity as
    # before), and the anti join also drops each new group's self-pair
    new_ids = new_posts.select("doc_id").distinct()
    corp = pairs.join(
        F.broadcast(new_ids.withColumnRenamed("doc_id", "g_other")),
        "g_other",
        "anti",
    )
    nv = new_posts.select(
        F.col("doc_id").alias("g_new"), F.col("e").alias("ea")
    ).dropDuplicates(["g_new"]).withColumn("na", _mm_norm(F.col("ea")))
    gv = (
        idx_posts.select(F.col("gid").alias("g_other"), F.col("e").alias("eb"))
        .dropDuplicates(["g_other"])
        .withColumn("nb", _mm_norm(F.col("eb")))
    )
    cosine = _mm_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    verified = (
        corp.join(F.broadcast(nv), "g_new")
        .join(gv, "g_other")
        .select("g_new", "g_other", cosine.alias("cosine"))
        .filter(F.col("cosine") >= MM_COSINE_DUP)
    )
    return verified.join(
        members.select(
            F.col("gid").alias("g_other"),
            F.col("doc_id").alias("corpus_doc_id"),
        ),
        "g_other",
    ).select(
        F.col("g_new").alias("new_doc_id"), "corpus_doc_id", "cosine"
    )


def start_mm_near_dup_stream(
    spark: SparkSession,
    source_dir: str,
    index_table: str,
    alert_sink_dir: str,
    checkpoint_dir: str,
):
    """Payload drop-dir (JSON rows carrying base64 is overkill here; the
    test feeds text re-encoded like _media_frame) -> per-batch
    posting-table probe -> per-epoch parquet alert sink
    (run_gate_stream). Returns the StreamingQuery (caller stops it)."""
    sink = EpochParquetSink(alert_sink_dir, name="mm_dedup_alerts")
    return run_gate_stream(
        spark,
        source_dir,
        checkpoint_dir,
        lambda batch_df, epoch_id: sink.write(
            probe_mm_bucket_index(
                spark,
                batch_df.select(
                    "doc_id", F.encode("text", "utf-8").alias("payload")
                ),
                index_table,
            ),
            epoch_id,
        ),
    )
