"""Streaming benchmark-contamination gate: the ingest-time face of the
decontamination pipeline.

Batch decontamination (operators/mlprep.py) answers "which corpus documents
overlap the eval battery"; production ingest needs the continuous form —
"does this NEW document leak benchmark text" — answered at arrival, before
the document enters the training corpus. The shape:

- the Bloom bitmap (build_bloom_words over the battery's k-seeded md5
  positions) is built ONCE from the eval battery and rides into every
  micro-batch as a one-row broadcast word-array — the fixed-size probe
  payload measured in DECONTAM_r12.json;
- each micro-batch's grams stream through the O(1) element_at+getbit
  probe; here the bitmap plays its true production role — a PRE-FILTER:
  only bloom-HIT grams (exact hits + the ~sized-FP-rate stragglers)
  continue into the exact broadcast join against the battery grams, so
  the verify join's input is |hits|, not |batch grams|;
- the Bloom no-false-negative guarantee (pinned in tests/test_decontam.py)
  is what makes the pre-filter LOSSLESS: no contaminated gram can be
  dropped before the verify, so the gate's verdicts equal the batch
  operator's exactly (parity pinned in
  tests/test_streaming.py::test_streaming_contamination_gate).

Mirrors streaming/dedup_stream.py's handler-over-micro-batch framing
(reference: streamer/streamer.go handler chain). Non-SQL-expressible as
one query (broadcast bitmap state + stream), so the surface is
pytest-verified rather than oracle-registered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psql_streamer_spark.streaming.sinks import EpochParquetSink, run_gate_stream

from psql_streamer_spark.functions.text_hash import shingles_expr, with_words
from psql_streamer_spark.operators.mlprep import (
    BLOOM_M_BITS,
    DECONTAM_K,
    _bloom_probe,
    bloom_words_df,
)


def probe_contamination(
    spark: SparkSession,
    batch_df: DataFrame,
    words: list[int],
    bench_grams: DataFrame,
    m_bits: int = BLOOM_M_BITS,
) -> DataFrame:
    """One micro-batch of (doc_id, text) against the battery bitmap;
    returns per-doc (doc_id, n_grams, n_bloom_hits, n_exact_hits,
    contaminated) with the exact verify join fed ONLY bloom hits.

    ``bench_grams`` must be the battery's distinct grams under the SAME
    tokenization (with_words + shingles_expr at DECONTAM_K) the bitmap
    was built from — signature compatibility, exactly like the dedup
    stream's band-key contract."""
    grams = (
        with_words(batch_df)
        .select(
            "doc_id",
            F.explode(shingles_expr(F.col("__words"), k=DECONTAM_K)).alias("g"),
        )
        .distinct()
    )
    probed = (
        grams.crossJoin(F.broadcast(bloom_words_df(spark, words)))
        .withColumn("bloom_hit", _bloom_probe(F.col("g"), F.col("____bloom_words"), m_bits))
        .drop("____bloom_words")
    )
    # the pre-filter: only bloom hits reach the exact join (lossless by
    # the no-false-negative guarantee); everything else is already clean
    verified = (
        probed.filter(F.col("bloom_hit"))
        .join(
            F.broadcast(bench_grams.select(F.col("g").alias("bg"))),
            F.col("g") == F.col("bg"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bloom_hits"),
            F.count("bg").alias("n_exact_hits"),
        )
    )
    totals = probed.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    # Anchor on the batch's doc_ids, not the gram frame: a doc shorter
    # than DECONTAM_K words yields zero shingles and would otherwise
    # vanish from the verdict sink — an ingest gate must distinguish
    # "evaluated clean" (n_grams=0, contaminated=false) from "never
    # evaluated" (absent row).
    return (
        batch_df.select("doc_id")
        .distinct()
        .join(totals, "doc_id", "left")
        .join(verified, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_bloom_hits", F.lit(0)).alias("n_bloom_hits"),
            F.coalesce("n_exact_hits", F.lit(0)).alias("n_exact_hits"),
        )
        .withColumn("contaminated", F.col("n_exact_hits") > 0)
    )


def start_contamination_stream(
    spark: SparkSession,
    source_dir: str,
    words: list[int],
    bench_grams: DataFrame,
    alert_sink_dir: str,
    checkpoint_dir: str,
    m_bits: int = BLOOM_M_BITS,
):
    """Document drop-dir -> per-batch bloom-gated contamination probe ->
    parquet verdict sink (run_gate_stream). Returns the StreamingQuery
    (caller stops it)."""
    sink = EpochParquetSink(alert_sink_dir, name="decontam_alerts")
    return run_gate_stream(
        spark,
        source_dir,
        checkpoint_dir,
        lambda batch_df, epoch_id: sink.write(
            probe_contamination(spark, batch_df, words, bench_grams, m_bits),
            epoch_id,
        ),
    )
