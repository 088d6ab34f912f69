"""Streaming model-based quality gate: the ingest-time face of
text_quality_model_scores.

Batch scoring answers "how does the trained quality model judge the
corpus"; production ingest needs the continuous form — "does this NEW
document clear the quality bar" — answered at arrival, before the
document enters the training corpus. The shape:

- the model is TRAINED ONCE on the existing corpus (operators.text's
  fixed-point deterministic trainer) and its 66 integer weights ride into
  every micro-batch as a broadcast frame — model state, never data;
- each micro-batch of (doc_id, text) is featurized with the IDENTICAL
  expressions the trainer used (_qm_features_from: normalized hashed TF,
  capped length, bias) and scored through the shared qm_score_features
  path, so a doc scores the same at ingest as it would in the batch query
  (parity pinned by tests/test_streaming.py::test_streaming_quality_gate);
- verdicts carry both the model score and the heuristic label, so the
  disagreement rows (model rejects what the rules pass, or vice versa)
  form the review queue a curation team actually reads.

Mirrors streaming/dedup_stream.py's / decontam_stream.py's
handler-over-micro-batch framing (reference: streamer/streamer.go handler
chain). Non-SQL-expressible as one query (trained model state + stream),
so the surface is pytest-verified rather than oracle-registered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from psql_streamer_spark.streaming.sinks import EpochParquetSink, run_gate_stream

from psql_streamer_spark.functions.text_hash import with_words
from psql_streamer_spark.operators.text import (
    FEATURE_HASH_DIMS,
    QM_FS,
    QM_LEN_CAP,
    _qm_p,
)


def score_quality_batch(
    spark: SparkSession, batch_df: DataFrame, w: list[int]
) -> DataFrame:
    """One micro-batch of (doc_id, text) under frozen weights ``w``;
    returns (doc_id, label, score, predicted, correct), bit-equal to
    qm_score_features over _qm_features_from on the same docs (pinned by
    test_streaming_quality_gate against the corpus scorer).

    SHUFFLE-FREE by construction: the batch path explodes tokens and
    groupBys (doc_id, dim) — right for a corpus, but on a micro-batch
    every shuffle stage is a fixed latency toll. Here the per-dim hashed
    TF is folded per document into a FEATURE_HASH_DIMS-slot array with
    F.aggregate, the 66 frozen weights ride in the expression as
    literals, and z is one zip_with dot product — the whole scorer is a
    single narrow projection that runs at scan speed.

    Integer semantics mirrored exactly from _qm_features_from /
    qm_score_features: x_d = (tf_d * QM_FS) DIV n_tokens (floor on
    non-negative ints — F.floor of the double ratio is exact here, every
    operand is far under 2^53), len dim = LEAST(COALESCE(nt,0), cap),
    bias dim = QM_FS, and the same rational-sigmoid score expression."""
    d = with_words(batch_df)
    ws = F.col("__words")
    nt = F.size(ws)
    unique_ratio = F.size(F.array_distinct(ws)) * F.lit(1.0) / nt
    y = (
        F.when(nt.between(20, 1000) & (unique_ratio > 0.3), 1)
        .otherwise(0)
        .alias("y")
    )
    # md5 dim per token, reduced to z via a run-length pass over the
    # SORTED dim array (r17, guide §4.1): the old fold rebuilt a 64-slot
    # tf array per token — O(tokens x 64) interpreted work and one array
    # allocation per token. Sorting the dims groups equal values into at
    # most FEATURE_HASH_DIMS runs, so tf_d is a run length and
    # z_tf = sum over runs of w[d] * ((run_len * QM_FS) DIV nt) —
    # O(n log n + runs). All-integer arithmetic, so the result is the
    # same bigint the slot fold produced (zero-count slots contributed
    # wi * 0 = 0 there and are simply absent here); NULL __words still
    # propagates NULL through sort/transform/filter/aggregate.
    dims = F.transform(
        ws,
        lambda t: (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
            % FEATURE_HASH_DIMS
        ).cast("int"),
    )
    w_tf = F.array(*[F.lit(int(x)).cast("bigint") for x in w[:FEATURE_HASH_DIMS]])

    def _z_of(sd):
        # sd is a lambda VARIABLE (let-bound below), so the references
        # inside these nested lambdas are O(1) variable reads — capturing
        # the array_sort expression directly would re-evaluate the whole
        # tokenize+hash+sort per element (the r16 from_json lesson;
        # measured as a 25x stream collapse before the let-binding)
        last = F.size(sd) - 1
        # index array via transform (empty/NULL-safe, unlike sequence)
        idxs = F.transform(sd, lambda _, i: i)
        # F.get is 0-based and yields NULL past the end (element_at would
        # throw under Spark 4's default ANSI mode); the i == last disjunct
        # absorbs the NULL comparison at the final element
        ends = F.filter(
            idxs, lambda i: (i == last) | (F.get(sd, i) != F.get(sd, i + 1))
        )
        return F.aggregate(
            ends,
            F.struct(
                F.lit(-1).cast("int").alias("p"),
                F.lit(0).cast("bigint").alias("s"),
            ),
            lambda acc, i: F.struct(
                i.alias("p"),
                (
                    acc["s"]
                    + F.get(w_tf, F.get(sd, i))
                    * F.floor(
                        (i - acc["p"]).cast("bigint") * F.lit(QM_FS) / nt
                    ).cast("bigint")
                ).alias("s"),
            ),
            lambda acc: acc["s"],
        )

    # let-binding: transform(array(sorted), sd -> ...) evaluates the sort
    # exactly once per row; [NULL] propagates a NULL z_tf as before
    z_tf = F.get(F.transform(F.array(F.array_sort(dims)), _z_of), 0)
    len_x = F.least(F.coalesce(nt, F.lit(0)), F.lit(QM_LEN_CAP)).cast(
        "bigint"
    )
    zint = (
        F.coalesce(z_tf, F.lit(0).cast("bigint"))
        + F.lit(int(w[FEATURE_HASH_DIMS])).cast("bigint") * len_x
        + F.lit(int(w[FEATURE_HASH_DIMS + 1]) * QM_FS).cast("bigint")
    )
    scored = d.select("doc_id", y, zint.alias("zint"))
    p = _qm_p(F.col("zint"))
    return scored.select(
        "doc_id",
        F.col("y").alias("label"),
        p.alias("score"),
        (p >= F.lit(0.5)).alias("predicted"),
        ((p >= F.lit(0.5)) == (F.col("y") == 1)).alias("correct"),
    )


def start_quality_stream(
    spark: SparkSession,
    source_dir: str,
    w: list[int],
    verdict_sink_dir: str,
    checkpoint_dir: str,
):
    """Document drop-dir -> per-batch model scoring -> parquet verdict
    sink (run_gate_stream). Returns the StreamingQuery (caller stops
    it)."""
    sink = EpochParquetSink(verdict_sink_dir, name="quality_verdicts")
    return run_gate_stream(
        spark,
        source_dir,
        checkpoint_dir,
        lambda batch_df, epoch_id: sink.write(
            score_quality_batch(spark, batch_df, w), epoch_id
        ),
    )
