"""Streaming near-duplicate detection: the ingest-time face of the dedup
pipeline.

Batch dedup (operators/dedup.py) answers "what near-dups exist in the
corpus"; production ingest needs the continuous form — "is this NEW
document a near-dup of anything already indexed" — answered at arrival,
before the document enters the training corpus. The shape:

- the corpus band index is a MATERIALIZED bucketed table written at ingest
  (operators.dedup.band_index_table) — build once, probe per batch;
- each micro-batch of incoming documents is signed (MinHash over 3-gram
  shingles, the same expressions the batch path uses), banded, and joined
  against the index — cost O(|batch| x collisions), never O(|corpus|);
- collisions are verified with exact Jaccard against the corpus documents
  (candidate-driven: only colliding docs are re-shingled), and verified
  near-dup alerts flow to the sink.

This mirrors how the reference's streaming pipeline frames every per-event
transform as a handler over a micro-batch (streamer/streamer.go handler
chain); here the handler is the dedup probe. Non-SQL-expressible as one
query (stateful index + stream), so the surface is pytest-verified:
tests/test_streaming.py::test_streaming_near_dup_alerts pins alert parity
with the batch incremental miner on the same delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psql_streamer_spark.caching import touch_app_table_liveness
from psql_streamer_spark.streaming.sinks import EpochParquetSink, run_gate_stream

from psql_streamer_spark.functions.text_hash import (
    band_key_exprs,
    h32,
    minhash_agg_columns,
    shingles_expr,
    with_words,
)


def batch_band_postings(batch_df: DataFrame) -> DataFrame:
    """(doc_id, bkey) band postings for a (doc_id, text) frame — the SAME
    deterministic expressions operators.dedup.band_index_table builds the
    corpus index from. Shared by the per-batch probe (signature
    compatibility is what makes a probe valid) and the ingest loop's
    admit-time index append (an admitted document must be discoverable by
    the NEXT batch's probe)."""
    hashed = with_words(batch_df).select(
        "doc_id", F.explode(shingles_expr(F.col("__words"))).alias("shingle")
    ).select("doc_id", h32(F.col("shingle")).alias("h"))
    sig = hashed.groupBy("doc_id").agg(*minhash_agg_columns())
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), key.alias("band_key"))
            for b, key in band_key_exprs()
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id",
        F.concat_ws(
            "|", F.col("bk.band").cast("string"), F.col("bk.band_key")
        ).alias("bkey"),
    )


def probe_band_index(
    spark: SparkSession,
    batch_df: DataFrame,
    index_table: str,
    corpus: DataFrame,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """One micro-batch of (doc_id, text) against a materialized band-index
    table; returns verified (new_doc_id, corpus_doc_id, jaccard) alerts.

    The batch is signed and banded with the SAME deterministic expressions
    the index was built with — signature compatibility is what makes the
    probe valid. The index side arrives bucketed on the composite band key
    (bkey), so the collision join is bucket-local on the corpus side; the
    batch side is micro-batch-sized and shuffles trivially. Verification
    re-shingles ONLY the colliding corpus docs plus the batch docs.
    """
    touch_app_table_liveness(spark, index_table)  # see its docstring
    banded = batch_band_postings(batch_df).select(
        F.col("doc_id").alias("new_doc_id"), "bkey"
    )
    index = spark.table(index_table)
    collisions = (
        banded.join(index, "bkey")
        .filter(F.col("new_doc_id") != F.col("doc_id"))
        .select("new_doc_id", F.col("doc_id").alias("corpus_doc_id"))
        .distinct()
    )
    # exact verify: shingle-sets for batch docs and colliding corpus docs
    new_sets = with_words(batch_df).select(
        F.col("doc_id").alias("new_doc_id"),
        F.array_distinct(shingles_expr(F.col("__words"))).alias("a_ss"),
    )
    corpus_ids = collisions.select(
        F.col("corpus_doc_id").alias("doc_id")
    ).distinct()
    corpus_sets = (
        with_words(corpus.join(corpus_ids, "doc_id", "semi"))
        .select(
            F.col("doc_id").alias("corpus_doc_id"),
            F.array_distinct(shingles_expr(F.col("__words"))).alias("b_ss"),
        )
    )
    n_common = F.size(F.array_intersect("a_ss", "b_ss"))
    jac = n_common * 1.0 / (F.size("a_ss") + F.size("b_ss") - n_common)
    return (
        collisions.join(new_sets, "new_doc_id")
        .join(corpus_sets, "corpus_doc_id")
        .select("new_doc_id", "corpus_doc_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def start_near_dup_stream(
    spark: SparkSession,
    source_dir: str,
    index_table: str,
    corpus: DataFrame,
    alert_sink_dir: str,
    checkpoint_dir: str,
    jaccard_threshold: float = 0.8,
):
    """Document drop-dir -> per-batch band-index probe -> parquet alert
    sink (run_gate_stream). Returns the StreamingQuery (caller stops it)."""
    sink = EpochParquetSink(alert_sink_dir, name="dedup_alerts")
    return run_gate_stream(
        spark,
        source_dir,
        checkpoint_dir,
        lambda batch_df, epoch_id: sink.write(
            probe_band_index(
                spark, batch_df, index_table, corpus, jaccard_threshold
            ),
            epoch_id,
        ),
    )
