"""Fused ingest gate: near-dup probe + contamination gate + quality model
over ONE shared tokenize pass per micro-batch.

A real ingest runs all three admission checks on every arriving document;
run as three separate streams (dedup_stream / decontam_stream /
quality_stream) each micro-batch pays the tokenize (lower+split+filter
into `__words`) three times — and the tokenize is the shared scan-side
cost all three probes branch from (BENCH_STREAM_r13 measured the three
standalone gates at 2,229 / 2,014 / 3,323 docs/s; the floor is set by the
duplicated scan work, not the probe-specific joins). The fused gate:

- tokenizes the micro-batch ONCE into a persisted `__words` frame
  (micro-batch-sized, so the cache is trivially memory-safe);
- every probe is the UNCHANGED standalone function — with_words is
  idempotent, so probe_band_index / probe_contamination /
  score_quality_batch all defer to the shared cached tokens (parity with
  each standalone gate is therefore structural, and additionally pinned
  by tests/test_streaming.py::test_streaming_fused_gate);
- one verdict row per document carries all the signals plus the
  composite `admit` bit (quality-pass AND not contaminated AND no
  verified near-dup AND — when a trained langid model is passed, r15 —
  language-allowed) — the single row a curation pipeline routes on;
- the sink uses the per-epoch overwrite idiom (EpochParquetSink), so
  foreachBatch retries replace rather than duplicate.

Reference parity: the reference frames ingest as a handler CHAIN over
each micro-batch (streamer/streamer.go) — this is the chain fused into
one plan so shared subexpressions are paid once, which is exactly what a
declarative engine buys over sequential handlers. Non-SQL-expressible as
one query (materialized band index + broadcast bloom bitmap + trained
model state + stream), so the surface is pytest-verified rather than
oracle-registered.
"""

from __future__ import annotations

import os
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psql_streamer_spark.streaming.sinks import EpochParquetSink, run_gate_stream

from psql_streamer_spark.caching import persisted
from psql_streamer_spark.functions.text_hash import with_words
from psql_streamer_spark.operators.mlprep import BLOOM_M_BITS
from psql_streamer_spark.streaming.decontam_stream import probe_contamination
from psql_streamer_spark.streaming.dedup_stream import (
    batch_band_postings,
    probe_band_index,
)
from psql_streamer_spark.streaming.drift_stream import drift_batch
from psql_streamer_spark.streaming.quality_stream import score_quality_batch


def _drift_sink(drift_ref, drift_sink_dir) -> EpochParquetSink | None:
    """Both-or-neither validation for the drift monitor attachment: a
    half-wired pair (the reference built but no sink dir, or a dir with
    no reference) would silently write no verdicts while the operator
    believes the canary is live — raise at stream WIRING instead."""
    if (drift_ref is None) != (not drift_sink_dir):
        raise ValueError(
            "drift monitoring needs BOTH drift_ref and drift_sink_dir —"
            " got only one of the pair"
        )
    if drift_ref is None:
        return None
    return EpochParquetSink(drift_sink_dir, name="drift_verdicts")


def _validate_langid_model(langid_model) -> None:
    """Wiring-time fail-fast for the 4th signal (r15 advice #1): the
    langid signal is attached via an INNER join with langid_nb_score's
    output, and a degenerate model (empty prior — e.g. trained on a
    corpus whose lang column is all NULL) scores an EMPTY frame, so a
    silently-degenerate wired model would produce ZERO verdicts per
    epoch: nothing admitted, no error. Mirror _drift_sink's posture and
    raise before the stream starts."""
    if langid_model is None:
        return
    model, prior = langid_model
    if prior.head() is None:
        raise ValueError(
            "langid_model prior is EMPTY — a degenerate model would"
            " inner-join every epoch down to zero verdicts; train it on"
            " a corpus with non-NULL lang labels before wiring the gate"
        )


def fused_gate_verdicts(
    spark: SparkSession,
    batch_df: DataFrame,
    index_table: str,
    corpus: DataFrame,
    bloom_words: list[int],
    bench_grams: DataFrame,
    weights: list[int],
    jaccard_threshold: float = 0.8,
    m_bits: int = BLOOM_M_BITS,
    langid_model: tuple[DataFrame, DataFrame] | None = None,
    allowed_langs: list[str] | None = None,
) -> DataFrame:
    """One micro-batch of (doc_id, text) through the admission checks;
    returns ONE row per document:

    (doc_id, label, score, predicted,            -- quality model
     n_grams, n_bloom_hits, n_exact_hits,
     contaminated,                               -- decontamination
     n_near_dup, max_jaccard,                    -- verified near-dups
     [predicted_lang, lang_admit,]               -- trained langid (opt)
     admit)                                      -- the composite gate

    Pass a pre-tokenized (with_words) and persisted frame to share the
    tokenize across the probes; an un-tokenized frame still produces
    identical verdicts (with_words is applied here and is idempotent).

    Column semantics are exactly the standalone gates': the quality
    triple is score_quality_batch's, the contamination quad is
    probe_contamination's (anchored on every batch doc, gram-less docs
    report n_grams=0 / clean), and the near-dup pair aggregates
    probe_band_index's verified alerts (0 / NULL max_jaccard when no
    corpus collision verified above the threshold).

    The FOURTH signal (r15): pass ``langid_model`` — langid_nb_train's
    (model, prior) pair, both broadcastable by the LANGID_BIGRAM_CAP
    bound — and each verdict gains ``predicted_lang`` (langid_nb_score's
    argmin, computed off the SAME tokenize pass; per-doc parity with
    text_langid_model_scores is pinned in tests) and ``lang_admit``.
    ADMIT-BIT SEMANTICS: ``lang_admit`` is true iff ``predicted_lang``
    is in ``allowed_langs``; with ``allowed_langs=None`` the model runs
    TAG-ONLY (``lang_admit`` always true — the language rides the
    verdict for routing but never gates). The composite ``admit`` is
    quality-pass AND not-contaminated AND no-verified-near-dup AND
    ``lang_admit``; without a model the two columns are ABSENT and
    ``admit`` keeps its three-signal definition, so existing sinks and
    consumers are byte-unchanged."""
    tokenized = with_words(batch_df)
    quality = score_quality_batch(spark, tokenized, weights)
    contam = probe_contamination(
        spark, tokenized, bloom_words, bench_grams, m_bits
    )
    near = (
        probe_band_index(
            spark, tokenized, index_table, corpus, jaccard_threshold
        )
        .groupBy("new_doc_id")
        .agg(
            F.count("*").alias("n_near_dup"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .withColumnRenamed("new_doc_id", "doc_id")
    )
    # all verdict frames are micro-batch-sized: broadcast the joined
    # sides so assembly adds no exchange stages to the epoch.
    # coalesce the left-join count ONCE, then derive admit from the
    # coalesced column — an isNull() on the pre-coalesce join column in
    # the same select would be correct but fragile (a refactor to
    # withColumn chaining would silently resolve it against the alias)
    joined = (
        quality.join(F.broadcast(contam), "doc_id")
        .join(F.broadcast(near), "doc_id", "left")
        .withColumn("n_near_dup", F.coalesce("n_near_dup", F.lit(0)))
    )
    admit = (
        F.col("predicted")
        & ~F.col("contaminated")
        & (F.col("n_near_dup") == 0)
    )
    lang_cols: list[str] = []
    if langid_model is not None:
        from psql_streamer_spark.operators.text import langid_nb_score

        model, prior = langid_model
        lang = langid_nb_score(tokenized, model, prior).select(
            "doc_id", "predicted_lang"
        )
        joined = joined.join(F.broadcast(lang), "doc_id").withColumn(
            "lang_admit",
            F.col("predicted_lang").isin(allowed_langs)
            if allowed_langs is not None
            else F.lit(True),
        )
        admit = admit & F.col("lang_admit")
        lang_cols = ["predicted_lang", "lang_admit"]
    return joined.select(
        "doc_id",
        "label",
        "score",
        "predicted",
        "n_grams",
        "n_bloom_hits",
        "n_exact_hits",
        "contaminated",
        "n_near_dup",
        "max_jaccard",
        *lang_cols,
        admit.alias("admit"),
    )


def _fused_gate_epoch(
    spark: SparkSession,
    index_table: str,
    bloom_words: list[int],
    bench_grams: DataFrame,
    weights: list[int],
    verdict_sink_dir: str,
    jaccard_threshold: float,
    m_bits: int,
    langid_model,
    allowed_langs: list[str] | None,
    drift_ref,
    drift_sink_dir: str | None,
):
    """The per-epoch body both fused starters share, wired once: the drift
    and langid attachments are validated NOW, before any stream starts.

    ``gate_epoch(batch_df, epoch_id, corpus, on_admit=None)`` writes the
    epoch's fused verdicts (and its drift row) over ONE tokenize pass,
    then hands (tokenized, verdicts, epoch_id) to ``on_admit``."""
    verdict_sink = EpochParquetSink(verdict_sink_dir, name="fused_verdicts")
    drift_sink = _drift_sink(drift_ref, drift_sink_dir)
    _validate_langid_model(langid_model)

    def gate_epoch(batch_df, epoch_id, corpus, on_admit=None) -> None:
        # ONE tokenize pass: the persisted `__words` frame is scanned by
        # all probes inside the single verdict-write action. (A
        # concurrently-materialized variant was measured SLOWER — the
        # extra persist/count actions cost more than the stage overlap
        # bought; see BENCH_NOTES r14.)
        with persisted(with_words(batch_df)) as tokenized:
            verdicts = fused_gate_verdicts(
                spark,
                tokenized,
                index_table,
                corpus,
                bloom_words,
                bench_grams,
                weights,
                jaccard_threshold,
                m_bits,
                langid_model,
                allowed_langs,
            )
            # on_admit reads the verdicts again
            keep = persisted if on_admit is not None else nullcontext
            with keep(verdicts):
                verdict_sink.write(verdicts, epoch_id)
                if drift_sink is not None:
                    drift_sink.write(drift_batch(tokenized, *drift_ref), epoch_id)
                if on_admit is not None:
                    on_admit(tokenized, verdicts, epoch_id)

    return gate_epoch


def start_fused_gate_stream(
    spark: SparkSession,
    source_dir: str,
    index_table: str,
    corpus: DataFrame,
    bloom_words: list[int],
    bench_grams: DataFrame,
    weights: list[int],
    verdict_sink_dir: str,
    checkpoint_dir: str,
    jaccard_threshold: float = 0.8,
    m_bits: int = BLOOM_M_BITS,
    langid_model: tuple[DataFrame, DataFrame] | None = None,
    allowed_langs: list[str] | None = None,
    drift_ref: tuple[list[str], list[int], int] | None = None,
    drift_sink_dir: str | None = None,
):
    """readStream over a document drop-dir -> one fused admission verdict
    per doc per micro-batch -> per-epoch parquet sink. Returns the
    StreamingQuery (caller stops it). Optional ``langid_model`` /
    ``allowed_langs`` switch on the 4-signal verdict (see
    fused_gate_verdicts for the admit-bit semantics).

    Optional ``drift_ref`` (build_reference_distribution's
    (tokens, counts, total)) + ``drift_sink_dir`` attach the corpus-drift
    MONITOR to the same tokenize pass: one drift verdict row per epoch
    lands in its own epoch sink. Drift is an observer, never a gate — it
    does not touch the admit bit or the verdict schema (the alert means
    "retrain the gate models", a human/operator decision, not a per-doc
    admission signal)."""
    gate_epoch = _fused_gate_epoch(
        spark,
        index_table,
        bloom_words,
        bench_grams,
        weights,
        verdict_sink_dir,
        jaccard_threshold,
        m_bits,
        langid_model,
        allowed_langs,
        drift_ref,
        drift_sink_dir,
    )
    return run_gate_stream(
        spark,
        source_dir,
        checkpoint_dir,
        lambda batch_df, epoch_id: gate_epoch(batch_df, epoch_id, corpus),
    )


_BASE_POINTER = "_BASE_BOUND"


def _admitted_base_bound(admitted_dir: str) -> int:
    """Exclusive epoch bound of the admitted store's compacted base
    (0 = no compaction has run)."""
    try:
        with open(os.path.join(admitted_dir, _BASE_POINTER)) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return 0


def _admitted_base_dir(admitted_dir: str, bound: int) -> str:
    return os.path.join(admitted_dir, "_base", f"v={bound:012d}")


def compact_admitted_store(
    spark: SparkSession, admitted_dir: str, upto_epoch: int
) -> bool:
    """Fold the admitted store's per-epoch partitions strictly below
    ``upto_epoch`` (plus any prior base) into ONE compacted base
    generation, advance the pointer atomically, and sweep the folded
    partitions. Returns True when a fold ran.

    This is what bounds the closed loop's two O(epochs) terms: the
    per-epoch ``epoch=*`` partition LISTING (swept dirs stop being
    listed) and the verify-corpus union's file count (one repartitioned
    base instead of one small parquet per epoch). The base PRESERVES
    each row's ``epoch`` — that provenance is what keeps the loop's
    replay/rewind contract intact after a fold: a replayed epoch N still
    reads exactly the strictly-prior admissions by filtering
    ``epoch < N`` on the base just like on the live partitions.
    Crash-safe by ordering: base write -> pointer rename (os.replace,
    atomic) -> sweep. A crash before the rename leaves the old pointer
    and the old partitions (next compaction re-folds — the
    overwrite-mode base write is idempotent); a crash after it leaves
    already-excluded stale dirs (``epoch >= bound`` filters them) that
    the next compaction sweeps. Re-invoking with the same ``upto_epoch``
    (an epoch REPLAY that crossed the cadence) is a no-op — bound ==
    upto returns False, so a replayed epoch sees exactly the state its
    first attempt saw."""
    import shutil

    from pyspark.errors import AnalysisException

    bound = _admitted_base_bound(admitted_dir)
    if upto_epoch <= bound:
        return False
    frames = []
    old_base = _admitted_base_dir(admitted_dir, bound)
    if bound > 0 and os.path.isdir(old_base):
        frames.append(
            spark.read.parquet(old_base).select("doc_id", "text", "epoch")
        )
    try:
        frames.append(
            EpochParquetSink(admitted_dir)
            .read(spark)
            .filter(
                (F.col("epoch") >= F.lit(bound))
                & (F.col("epoch") < F.lit(upto_epoch))
            )
            .select("doc_id", "text", F.col("epoch").cast("long").alias("epoch"))
        )
    except AnalysisException:
        pass  # no epoch partitions yet
    if not frames:
        return False  # nothing on disk to fold — nothing to bound either
    new_base = _admitted_base_dir(admitted_dir, upto_epoch)
    merged = frames[0]
    for f in frames[1:]:
        merged = merged.unionByName(f)
    # one hash layout, bounded file count — the base is the verify
    # corpus' big side, so its scan parallelism should match cores
    merged.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).write.mode("overwrite").parquet(new_base)
    tmp = os.path.join(admitted_dir, f".{_BASE_POINTER}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(upto_epoch))
    os.replace(tmp, os.path.join(admitted_dir, _BASE_POINTER))
    # sweep folded epoch partitions and superseded base generations
    for name in os.listdir(admitted_dir):
        if name.startswith("epoch="):
            try:
                e = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if e < upto_epoch:
                shutil.rmtree(
                    os.path.join(admitted_dir, name), ignore_errors=True
                )
    base_root = os.path.join(admitted_dir, "_base")
    for name in os.listdir(base_root):
        if name.startswith("v=") and name != f"v={upto_epoch:012d}":
            shutil.rmtree(os.path.join(base_root, name), ignore_errors=True)
    return True


def compact_loop_index(spark: SparkSession, index_table: str) -> None:
    """Rewrite the loop's band-posting table DISTINCT, preserving its
    bucket spec — the duplicate-posting reclaim the loop's at-least-once
    appends accumulate toward (duplicates are verdict-inert, they only
    cost index bytes and probe-side collision rows). localCheckpoint
    materializes the deduped postings BEFORE the overwrite drops the
    files being read (the repo's read-then-overwrite idiom); at cluster
    scale the same fold writes a new generation and swaps names
    instead."""
    from psql_streamer_spark.operators.dedup import BAND_INDEX_BUCKETS

    deduped = spark.table(index_table).distinct().localCheckpoint()
    (
        deduped.write.bucketBy(BAND_INDEX_BUCKETS, "bkey")
        .sortBy("bkey")
        .mode("overwrite")
        .saveAsTable(index_table)
    )


def start_fused_ingest_loop(
    spark: SparkSession,
    source_dir: str,
    index_table: str,
    corpus: DataFrame,
    bloom_words: list[int],
    bench_grams: DataFrame,
    weights: list[int],
    verdict_sink_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
    jaccard_threshold: float = 0.8,
    m_bits: int = BLOOM_M_BITS,
    compact_every: int | None = None,
    langid_model=None,
    allowed_langs: list[str] | None = None,
    drift_ref: tuple[list[str], list[int], int] | None = None,
    drift_sink_dir: str | None = None,
):
    """The CLOSED ingest loop: the fused gate whose near-dup state GROWS
    with every admission. start_fused_gate_stream screens each batch
    against a frozen corpus snapshot — correct for a backfill, wrong for
    a live feed, where a document admitted at epoch N must reject its
    near-copy arriving at epoch N+1. Per epoch:

    1. probe against the CURRENT state — the bucketed band index (base
       corpus + all prior admissions) for collisions, base corpus plus
       the admitted-docs store for the exact-Jaccard verify;
    2. write the fused verdict (per-epoch overwrite sink, idempotent);
    3. write admitted (doc_id, text) into ``admitted_dir/epoch=N``
       (overwrite — idempotent) and APPEND the admitted docs' band
       postings into ``index_table`` (``insertInto`` preserves the
       bucket spec, so probes stay bucket-local as the index grows).

    Semantics and caveats, stated rather than hidden:
    - dedup granularity is the EPOCH: two near-copies arriving in the
      same micro-batch are both admitted (neither was indexed when the
      batch was probed) — the same granularity every batch-admission
      system has; shrink maxFilesPerTrigger to tighten it;
    - the posting append is at-least-once: a retried epoch re-appends
      its admitted postings. Duplicate postings cannot change any later
      verdict — the probe's collision set is DISTINCT and the verify is
      per unique (new, corpus) pair — they only cost index space, until
      the next compaction rewrite (sources/io.compact_parquet);
    - rejected documents leave NO trace in the index or the admitted
      store: a contaminated or low-quality document must not become
      dedup state (its near-copy arriving later is judged on its own
      merits — the copy of a REJECTED doc may still be admissible).

    COMPACTION CADENCE (r15): with ``compact_every=K``, every K-th epoch
    first folds the admitted store's per-epoch partitions into one
    compacted base (compact_admitted_store) and rewrites the posting
    table DISTINCT (compact_loop_index) — bounding the two O(epochs)
    growth terms the r14 design left unwired: the per-epoch partition
    listing/union and the duplicate postings of at-least-once appends.
    Replay idempotence survives the fold: a replayed epoch N re-runs its
    cadence check, compact_admitted_store(upto=N) is a no-op when the
    first attempt already advanced the bound, and because the base
    PRESERVES per-row epoch provenance the verify corpus
    (base + tail, both filtered to epoch < N; tail additionally
    epoch >= bound so a rewind's rewritten early partitions never
    double-count against their folded copies) is exactly the
    strictly-prior state the first attempt saw — a FULL rewind (fresh
    checkpoint, epochs restarting at 0) reproduces verdicts under a
    compacted store too, pinned in tests.

    Optional ``langid_model`` / ``allowed_langs`` switch on the
    4-signal verdict (fused_gate_verdicts' admit-bit semantics); a
    language-rejected document leaves no trace, like any other reject.
    Optional ``drift_ref`` + ``drift_sink_dir`` attach the corpus-drift
    monitor to the shared tokenize pass (one verdict row per epoch, its
    own idempotent sink) — an observer on the feed, never a gate: a
    drifting feed means the FROZEN gate models are going stale, exactly
    the condition this loop cannot detect from its own verdicts.

    Pass an index table the loop may own (e.g. a copy of
    band_index_table's output) — the appends (and with compact_every,
    the distinct rewrites) mutate it."""
    admitted_sink = EpochParquetSink(admitted_dir, name="fused_admitted")
    gate_epoch = _fused_gate_epoch(
        spark,
        index_table,
        bloom_words,
        bench_grams,
        weights,
        verdict_sink_dir,
        jaccard_threshold,
        m_bits,
        langid_model,
        allowed_langs,
        drift_ref,
        drift_sink_dir,
    )

    def _admit(tokenized: DataFrame, verdicts: DataFrame, epoch_id: int):
        # rejected documents leave no trace in the store or the index
        admitted = tokenized.join(
            F.broadcast(verdicts.filter(F.col("admit")).select("doc_id")),
            "doc_id",
        )
        admitted_sink.write(admitted.select("doc_id", "text"), epoch_id)
        batch_band_postings(admitted).write.insertInto(
            index_table, overwrite=False
        )

    def _gate(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.errors import AnalysisException

        # Replay idempotence: a retried epoch (crash AFTER the posting
        # append, BEFORE the checkpoint commit) finds its OWN prior
        # admissions in both the index and the admitted store. Excluding
        # exactly THIS epoch's admitted partition from the verify corpus
        # makes those ghosts inert — ghost postings still band-collide,
        # but a collision whose partner has no verify text is dropped, so
        # the replay reproduces the first attempt's verdicts exactly
        # (pinned by test_fused_ingest_loop_replay_reproduces_verdicts).
        # Scoped by EPOCH, not by the batch's doc_ids: a cross-epoch
        # doc_id reappearing in a later batch must NOT mask the earlier
        # admission it should be verified against. Strictly-prior epochs
        # (epoch < N) is exactly the state the FIRST attempt of epoch N
        # saw — correct for a single-epoch retry and for a rewind to any
        # epoch >= the compacted base bound (later epochs' sink
        # partitions still exist on disk but must not time-travel into
        # an earlier epoch's verdicts; pre-bound rewinds fail loudly —
        # see the docstring).
        if compact_every and epoch_id > 0 and epoch_id % compact_every == 0:
            # index compaction runs UNCONDITIONALLY on cadence epochs
            # (it is idempotent — DISTINCT rewrite): on an epoch replay
            # after a crash between the base-pointer rename and the
            # index rewrite, compact_admitted_store returns False (the
            # store is already folded) and gating the index rewrite on
            # it silently deferred the duplicate-posting reclaim a whole
            # cadence cycle (r15 advice #3).
            compact_admitted_store(spark, admitted_dir, epoch_id)
            compact_loop_index(spark, index_table)
        bound = _admitted_base_bound(admitted_dir)
        live_corpus = corpus.select("doc_id", "text")
        base_dir = _admitted_base_dir(admitted_dir, bound)
        if bound > 0 and os.path.isdir(base_dir):
            # per-row epoch provenance: a rewound epoch N < bound still
            # sees exactly its strictly-prior admissions
            live_corpus = live_corpus.unionByName(
                spark.read.parquet(base_dir)
                .filter(F.col("epoch") < F.lit(epoch_id))
                .select("doc_id", "text")
            )
        try:
            admitted_so_far = (
                admitted_sink.read(spark)
                .filter(
                    (F.col("epoch") >= F.lit(bound))
                    & (F.col("epoch") < F.lit(epoch_id))
                )
                .select("doc_id", "text")
            )
            live_corpus = live_corpus.unionByName(admitted_so_far)
        except AnalysisException:  # no tail partitions yet
            pass

        gate_epoch(batch_df, epoch_id, live_corpus, _admit)

    return run_gate_stream(spark, source_dir, checkpoint_dir, _gate)
