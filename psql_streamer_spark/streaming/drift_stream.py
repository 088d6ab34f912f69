"""Streaming corpus-drift monitor: the ingest-time face of
audit_split_token_drift.

The batch audit asks "do the train and test splits disagree on token
distribution"; a long-running ingest loop needs the operational form —
"has the FEED shifted away from the corpus the models were trained on".
A feed that drifts (a crawler starts pulling a new site family, an
upstream extractor breaks and ships markup, a language mix flips)
silently invalidates the trained quality/langid/BPE models riding the
gates, so drift is the canary that tells the operator to retrain them.
The shape:

- the REFERENCE distribution is built once from the corpus the models
  were trained on: the top-``DRIFT_TOP_K`` tokens by frequency plus an
  everything-else (OOV) bucket. Capping at K is the same bound-the-model
  discipline as the BPE vocab cap and the langid bigram cap: the
  reference is O(K) driver state at ANY corpus scale (the bounded-collect
  pattern of the k-means model and bloom positions), and the monitored
  distribution is a (K+1)-category histogram whose OOV share is itself
  the strongest drift signal (a shifted feed's new vocabulary lands
  there);
- each micro-batch folds its tokens into a (K+1)-slot count array per
  document at scan speed (the quality scorer's fold — no explode, no
  token-keyed shuffle on the hot path) and ONE map-side-combined
  aggregate reduces the epoch to a single row of slot counts;
- the verdict is the triangular-discrimination statistic the batch audit
  uses — sum over slots of (p-q)^2/(p+q) between the reference shares p
  and the epoch shares q — computed as a fixed left-to-right fold of
  K+1 literal terms, so the double is reproducible run-to-run;
- one row per epoch (n_docs, n_tokens, oov_tokens, drift, alert) lands
  in an EpochParquetSink partition: at-least-once replays overwrite
  their own epoch, and the alert bit flips when drift crosses
  ``DRIFT_ALERT_THRESHOLD``.

Mirrors quality_stream.py's handler-over-micro-batch framing (reference:
streamer/streamer.go handler chain). Non-SQL-expressible as one query
(frozen reference state + stream), so the surface is pytest-verified:
per-epoch parity with the batch twin and the planted shifted-feed alert
are pinned by tests/test_streaming_drift.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psql_streamer_spark.caching import persisted
from psql_streamer_spark.functions.text_hash import with_words
from psql_streamer_spark.sources.tables import load_table
from psql_streamer_spark.streaming.sinks import EpochParquetSink, run_gate_stream

DRIFT_TOP_K = 64
# Triangular discrimination ranges [0, 2]; reference-vs-itself reads ~0
# and a disjoint-vocabulary feed reads ~2 (all mass OOV on one side,
# all reference mass unmatched on the other). 0.2 flags a feed where
# roughly a tenth of the probability mass moved — well above epoch
# sampling noise at gate batch sizes, well below a broken extractor.
DRIFT_ALERT_THRESHOLD = 0.2


def build_reference_distribution(
    spark: SparkSession, sf_dir: str, k: int = DRIFT_TOP_K
) -> tuple[list[str], list[int], int]:
    """(tokens, counts, total_tokens) for the corpus' top-``k`` tokens
    by (count desc, token) — the deterministic cap rule shared with the
    langid/BPE vocab caps. One token aggregate + a TakeOrdered top-k;
    the collect is bounded at k rows + one scalar (driver model state,
    not data)."""
    d = with_words(load_table(spark, "documents", sf_dir))
    counts = d.select(F.explode("__words").alias("token")).groupBy("token").count()
    # two actions (top-k + total) share one corpus scan
    with persisted(counts):
        top = counts.orderBy(F.col("count").desc(), "token").limit(k).collect()
        total = counts.agg(F.sum("count").alias("t")).collect()[0]["t"] or 0
    return (
        [r["token"] for r in top],
        [int(r["count"]) for r in top],
        int(total),
    )


def drift_batch(
    batch_df: DataFrame,
    ref_tokens: list[str],
    ref_counts: list[int],
    ref_total: int,
) -> DataFrame:
    """One micro-batch of (doc_id, text) against the frozen reference:
    returns ONE row (n_docs, n_tokens, oov_tokens, drift, alert).

    Shuffle shape: tokens fold per document into a (K+1)-slot count
    array (slot = literal-map lookup, last slot = OOV) at scan speed,
    then a single aggregate of K+3 map-side-combinable sums — the
    epoch's distribution never leaves the scan as exploded rows. The
    drift double is a fixed-order fold of literal terms (see banner);
    an empty epoch reports drift NULL / alert false rather than NaN.

    A degenerate reference (``ref_total <= 0`` — built from an empty
    corpus) is a WIRING error, not a data condition: fail fast here with
    a clear message instead of letting the share division blow up
    inside a foreachBatch epoch."""
    if ref_total <= 0:
        raise ValueError(
            "drift reference is empty (ref_total <= 0) — build it from a"
            " non-empty corpus before wiring the monitor"
        )
    k = len(ref_tokens)
    d = with_words(batch_df)
    # NULL text (malformed JSON under the stream's permissive schema)
    # tokenizes to a NULL __words array; coalesce to empty so those docs
    # contribute zero counts instead of NULL-poisoning the slot sums, and
    # surface them as n_null_docs — a broken-extractor feed is exactly
    # what this monitor exists to make visible (r15 advice #4).
    ws = F.coalesce(F.col("__words"), F.array().cast("array<string>"))
    slot_map = F.create_map(
        *[
            x
            for i, t in enumerate(ref_tokens)
            for x in (F.lit(t), F.lit(i))
        ]
    )
    idx = F.transform(
        ws, lambda t: F.coalesce(F.element_at(slot_map, t), F.lit(k))
    )
    # per-doc slot counts via a run-length pass over the SORTED slot
    # array (r17, same rewrite as score_quality_batch): the old fold
    # rebuilt the (k+1)-slot array once PER TOKEN — O(tokens x k) and an
    # allocation per token; sorting groups equal slots into at most k+1
    # runs, so the array is rebuilt once per RUN. Pure integer counts,
    # so every c_i (and the drift double folded from them) is unchanged.
    zero = F.expr(f"array_repeat(CAST(0 AS BIGINT), {k + 1})")

    def _cnt_of(sd):
        # sd is a lambda VARIABLE (let-bound below): capturing the
        # array_sort(transform(...)) expression directly would re-run the
        # slot-map lookup + sort per element (the r16 from_json lesson)
        last = F.size(sd) - 1
        idxs = F.transform(sd, lambda _, i: i)
        # F.get: 0-based, NULL past the end (no ANSI throw); the i == last
        # disjunct absorbs the NULL comparison at the final element
        ends = F.filter(
            idxs, lambda i: (i == last) | (F.get(sd, i) != F.get(sd, i + 1))
        )
        return F.aggregate(
            ends,
            F.struct(F.lit(-1).alias("p"), zero.alias("arr")),
            lambda acc, i: F.struct(
                i.alias("p"),
                F.transform(
                    acc["arr"],
                    lambda v, j: F.when(
                        j == F.get(sd, i), v + (i - acc["p"]).cast("bigint")
                    ).otherwise(v),
                ).alias("arr"),
            ),
            lambda acc: acc["arr"],
        )

    # let-binding: evaluates the sort once per row; [NULL] -> NULL cnt
    cnt = F.get(F.transform(F.array(F.array_sort(idx)), _cnt_of), 0)
    row = d.select(
        cnt.alias("cnt"),
        F.size(ws).alias("nt"),
        F.col("__words").isNull().cast("bigint").alias("is_null_doc"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("is_null_doc"), F.lit(0))
        .cast("bigint")
        .alias("n_null_docs"),
        F.coalesce(F.sum("nt"), F.lit(0)).cast("bigint").alias("n_tokens"),
        *[
            F.coalesce(F.sum(F.element_at(F.col("cnt"), i + 1)), F.lit(0))
            .cast("bigint")
            .alias(f"c{i}")
            for i in range(k + 1)
        ],
    )
    q_total = F.col("n_tokens").cast("double")
    ref_oov = ref_total - sum(ref_counts)
    drift = None
    for i in range(k + 1):
        p_i = (ref_counts[i] if i < k else ref_oov) / ref_total
        q_i = F.col(f"c{i}").cast("double") / q_total
        term = F.when(
            (F.lit(p_i) + q_i) > 0,
            (F.lit(p_i) - q_i) * (F.lit(p_i) - q_i) / (F.lit(p_i) + q_i),
        ).otherwise(F.lit(0.0))
        drift = term if drift is None else drift + term
    drift = F.when(F.col("n_tokens") > 0, drift).otherwise(F.lit(None))
    return row.select(
        "n_docs",
        "n_null_docs",
        "n_tokens",
        F.col(f"c{k}").alias("oov_tokens"),
        drift.alias("drift"),
        F.coalesce(
            drift > F.lit(DRIFT_ALERT_THRESHOLD), F.lit(False)
        ).alias("alert"),
    )


def start_drift_stream(
    spark: SparkSession,
    source_dir: str,
    ref: tuple[list[str], list[int], int],
    verdict_sink_dir: str,
    checkpoint_dir: str,
):
    """Document drop-dir -> per-epoch drift verdict -> parquet epoch sink
    (run_gate_stream). Returns the StreamingQuery (caller stops it)."""
    sink = EpochParquetSink(verdict_sink_dir, name="drift_verdicts")
    return run_gate_stream(
        spark,
        source_dir,
        checkpoint_dir,
        lambda batch_df, epoch_id: sink.write(
            drift_batch(batch_df, *ref), epoch_id
        ),
    )
