"""Text analysis operators: tokenization, language ID, quality scoring,
fingerprinting — the LLM-data-pipeline surface over `documents`.

All expression-based (JVM codegen); each has an exact DuckDB oracle. At
100 TB these are embarrassingly parallel scans — no shuffle except the
final aggregates — so throughput is bound by parquet scan + codegen.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via globals
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from psql_streamer_spark.functions.text_hash import (
    SQL_H32,
    SQL_SHINGLES3,
    SQL_WORDS,
    h32,
    shingles_expr,
    with_words,
    words_expr,
)
from psql_streamer_spark.functions.ranking import salted_topk
from psql_streamer_spark.registry import register
from psql_streamer_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Token statistics per document.
# --------------------------------------------------------------------------
@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(ws) AS n_tokens,
           len(list_distinct(ws)) AS n_unique_tokens,
           CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS n_chars_in_tokens,
           len(list_distinct(ws)) * 1.0 / len(ws) AS type_token_ratio
    FROM (SELECT doc_id, {SQL_WORDS.format(t='text')} AS ws FROM documents)
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_words(load_table(spark, "documents", sf_dir))
    ws = F.col("__words")
    return d.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        F.size(F.array_distinct(ws)).alias("n_unique_tokens"),
        F.aggregate(
            F.transform(ws, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_chars_in_tokens"),
        (F.size(F.array_distinct(ws)) * F.lit(1.0) / F.size(ws)).alias(
            "type_token_ratio"
        ),
    )


# --------------------------------------------------------------------------
# Corpus word counts (top-N) — the classic explode+count.
# --------------------------------------------------------------------------
@register(
    "text_wordcount_top20",
    oracle=f"""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest({SQL_WORDS.format(t='text')}) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word ASC
    LIMIT 20
    """,
)
def text_wordcount_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return (
        d.select(F.explode(words_expr()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Zipf-deviation diagnostic: natural language's rank-frequency curve
# follows c_r ~ c_1 / r; template farms, synthetic word salad, and spam
# flatten it (every token near-equally frequent -> ratio climbs ~r) or
# spike it (one boilerplate token dominates). A curator reads this next
# to the repetition and quality scores when deciding whether a source is
# organic text. Integer-exact: the per-rank statistic is the cross-
# multiplication n_r * r against c_1, so the only double is one final
# rounded ratio (the source-drift discipline); ranks come from a window
# over the 20-row top-K frame, never the corpus. On the driver's
# synthetic corpus the ratios climb ~linearly — the diagnostic correctly
# reporting that word salad from a small uniform vocabulary is NOT
# Zipfian (measured, not a bug).
# --------------------------------------------------------------------------
ZIPF_TOP_K = 20


@register(
    "text_zipf_deviation",
    oracle=f"""
    WITH counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest({SQL_WORDS.format(t='text')}) AS token
            FROM documents)
      GROUP BY token
    ),
    top AS (
      SELECT token, n FROM counts ORDER BY n DESC, token LIMIT {ZIPF_TOP_K}
    ),
    ranked AS (
      SELECT token, n,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT)
               AS rank
      FROM top
    ),
    c1 AS (SELECT MAX(n) AS c1 FROM top)
    SELECT rank, token, n,
           CAST(c1.c1 // rank AS BIGINT) AS zipf_expected,
           ROUND(n * rank * 1.0 / c1.c1, 6) AS zipf_ratio
    FROM ranked CROSS JOIN c1
    """,
)
def text_zipf_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency Zipf diagnostic over the corpus top-{K} tokens
    (see banner): rank, count, the count a Zipfian corpus would show
    (c_1/r, floor), and the cross-multiplied ratio n*r/c_1 that reads
    ~1 for organic text and climbs toward r for uniform word salad."""
    return zipf_deviation_frame(load_table(spark, "documents", sf_dir))


def zipf_deviation_frame(d: DataFrame) -> DataFrame:
    """text_zipf_deviation's body over any (text) frame — split out so
    the two extremes (a planted Zipf-distributed corpus reads ratios
    ~1; a planted uniform corpus reads ratio ~r at rank r) are pinned
    in tests."""
    counts = (
        d.select(F.explode(words_expr()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "token").limit(ZIPF_TOP_K)
    ranked = top.withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.col("n").desc(), "token"))
        .cast("bigint"),
    )
    c1 = top.agg(F.max("n").alias("c1"))
    return (
        ranked.crossJoin(F.broadcast(c1))
        .select(
            "rank",
            "token",
            "n",
            F.expr("CAST(c1 div rank AS BIGINT)").alias("zipf_expected"),
            F.round(
                F.col("n") * F.col("rank") * F.lit(1.0) / F.col("c1"), 6
            ).alias("zipf_ratio"),
        )
    )


# --------------------------------------------------------------------------
# Language ID: marker-word scoring (n-gram heuristic). The corpus is
# synthetic word salad, so the *accuracy* is meaningless — what the oracle
# validates is the scoring machinery (per-language marker hit counts and
# the argmax tie-break).
# --------------------------------------------------------------------------
_LANG_MARKERS = {
    "en": ("the", "a", "data", "fast"),
    "es": ("el", "la", "datos", "tabla"),
    "de": ("der", "die", "das", "und"),
}


def _sql_marker_score(lang: str) -> str:
    terms = " + ".join(
        f"len(list_filter(ws, w -> w = '{m}'))" for m in _LANG_MARKERS[lang]
    )
    return f"({terms})"


@register(
    "text_langid_scores",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           {_sql_marker_score('en')} AS score_en,
           {_sql_marker_score('es')} AS score_es,
           {_sql_marker_score('de')} AS score_de,
           CASE
             WHEN {_sql_marker_score('en')} >= {_sql_marker_score('es')}
              AND {_sql_marker_score('en')} >= {_sql_marker_score('de')} THEN 'en'
             WHEN {_sql_marker_score('es')} >= {_sql_marker_score('de')} THEN 'es'
             ELSE 'de'
           END AS predicted_lang
    FROM (SELECT doc_id, lang, {SQL_WORDS.format(t='text')} AS ws FROM documents)
    """,
)
def text_langid_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_words(load_table(spark, "documents", sf_dir))
    ws = F.col("__words")

    def score(lang: str):
        acc = F.lit(0)
        for m in _LANG_MARKERS[lang]:
            acc = acc + F.size(F.filter(ws, lambda w: w == F.lit(m)))  # noqa: B023
        return acc

    en, es, de = score("en"), score("es"), score("de")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en.alias("score_en"),
        es.alias("score_es"),
        de.alias("score_de"),
        F.when((en >= es) & (en >= de), "en")
        .when(es >= de, "es")
        .otherwise("de")
        .alias("predicted_lang"),
    )


# --------------------------------------------------------------------------
# Quality scoring: length / punctuation / stopword / repetition features.
# --------------------------------------------------------------------------
_STOPWORDS = ("the", "a", "of", "and", "to", "in")

_sql_stop_hits = " + ".join(
    f"len(list_filter(ws, w -> w = '{s}'))" for s in _STOPWORDS
)

@register(
    "text_quality_scores",
    oracle=f"""
    SELECT doc_id,
           n_chars,
           len(ws) AS n_tokens,
           n_chars * 1.0 / len(ws) AS chars_per_token,
           ({_sql_stop_hits}) * 1.0 / len(ws) AS stopword_ratio,
           len(list_distinct(ws)) * 1.0 / len(ws) AS unique_ratio,
           CASE WHEN len(ws) BETWEEN 20 AND 1000
                 AND len(list_distinct(ws)) * 1.0 / len(ws) > 0.3
                THEN 1 ELSE 0 END AS passes_quality
    FROM (SELECT doc_id, n_chars, {SQL_WORDS.format(t='text')} AS ws FROM documents)
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style length/repetition heuristics as pure expressions; the
    passes_quality bit is the pipeline's keep/drop filter."""
    d = with_words(load_table(spark, "documents", sf_dir))
    ws = F.col("__words")
    n_tokens = F.size(ws)
    # ONE membership pass over the token array; the oracle's sum of
    # per-stopword filters is the same integer (stopwords are distinct
    # tokens) but this scans the array once instead of len(_STOPWORDS)x
    stop_hits = F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS)))
    unique_ratio = F.size(F.array_distinct(ws)) * F.lit(1.0) / n_tokens
    return d.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        (F.col("n_chars") * F.lit(1.0) / n_tokens).alias("chars_per_token"),
        (stop_hits * F.lit(1.0) / n_tokens).alias("stopword_ratio"),
        unique_ratio.alias("unique_ratio"),
        F.when(
            n_tokens.between(20, 1000) & (unique_ratio > 0.3), 1
        ).otherwise(0).alias("passes_quality"),
    )


# --------------------------------------------------------------------------
# Regex tokenizer (BPE-ish pre-tokenization) — counts per token class.
# --------------------------------------------------------------------------
@register(
    "text_regex_token_classes",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
           len(regexp_extract_all(text, '[0-9]+')) AS n_number_tokens,
           len(regexp_extract_all(text, '[^a-z0-9\s]')) AS n_symbol_tokens
    FROM documents
    """,
)
def text_regex_token_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"[a-z]+"), 0)).alias("n_word_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0)).alias(
            "n_number_tokens"
        ),
        F.size(F.regexp_extract_all("text", F.lit(r"[^a-z0-9\s]"), 0)).alias(
            "n_symbol_tokens"
        ),
    )


# --------------------------------------------------------------------------
# Document fingerprinting: whole-doc hash + content-defined min-hash
# anchor (the 1-permutation winnowing primitive).
# --------------------------------------------------------------------------
@register(
    "text_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5(lower(text)) AS doc_md5,
           list_min(list_transform({SQL_SHINGLES3.format(ws='ws')},
                                   s -> {SQL_H32.format(s='s')})) AS min_shingle_hash
    FROM (SELECT doc_id, text, {SQL_WORDS.format(t='text')} AS ws FROM documents)
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_md5 = exact-dup key; min_shingle_hash = cheapest near-dup
    anchor (single-permutation MinHash) — two fingerprints, one scan."""
    d = with_words(load_table(spark, "documents", sf_dir))
    sh = shingles_expr(F.col("__words"))
    return d.select(
        "doc_id",
        F.md5(F.lower(F.col("text"))).alias("doc_md5"),
        F.array_min(F.transform(sh, lambda s: h32(s))).alias("min_shingle_hash"),
    )


# --------------------------------------------------------------------------
# Corpus-frequency scoring (IDF-style two-pass): rare-token density per doc.
# --------------------------------------------------------------------------
@register(
    "text_token_corpus_freq",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_WORDS.format(t='text')}) AS w
      FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS cf FROM tok GROUP BY w)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(cf) AS BIGINT) AS sum_corpus_freq,
           CAST(COUNT(*) FILTER (WHERE cf <= 2) AS BIGINT) AS n_rare_tokens
    FROM tok JOIN freq USING (w)
    GROUP BY doc_id
    """,
)
def text_token_corpus_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-style quality signal without transcendental math: each doc's
    token count, summed corpus frequency of its tokens, and how many of
    its tokens are corpus-rare (frequency <= 2). High sum_corpus_freq /
    n_tokens = boilerplate; high n_rare_tokens = noise or novelty — the
    integer-only form of the tf-idf quality gates a training pipeline
    applies (log-weighting is engine-local float territory; counts
    hash-compare exactly).

    Two-pass shape: explode -> corpus vocab aggregate -> join back on the
    token. The vocab is Zipf-skewed; at 100 TB the top-K head of `freq`
    is broadcastable and the tail join is the shuffle — AQE's skew-join
    split handles the hot stopword keys."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(words_expr("text")).alias("w"))
    freq = tok.groupBy("w").agg(F.count("*").alias("cf"))
    return (
        tok.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cf").alias("sum_corpus_freq"),
            F.count(F.when(F.col("cf") <= 2, 1)).alias("n_rare_tokens"),
        )
    )


TFIDF_TOP_K = 3


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_WORDS.format(t='text')}) AS w
      FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
    idf AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w),
    nn AS (SELECT COUNT(*) AS n FROM documents),
    s AS (
      SELECT tf.doc_id, tf.w AS term, tf.tf,
             LENGTH(BIN(nn.n // idf.df)) - 1 AS idf_bits,
             tf.tf * (LENGTH(BIN(nn.n // idf.df)) - 1) AS score
      FROM tf JOIN idf ON idf.w = tf.w CROSS JOIN nn
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rnk
      FROM s
    )
    SELECT doc_id, term,
           CAST(tf AS BIGINT) AS tf,
           CAST(idf_bits AS BIGINT) AS idf_bits,
           CAST(score AS BIGINT) AS score,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= {TFIDF_TOP_K}
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-TFIDF_TOP_K keyword terms, integer-exact: idf is
    the whole-bit floor(log2(N/df)) (bitlength identity — see the
    unigram-surprisal banner), score = tf * idf_bits, ties broken
    (score DESC, term ASC) identically in both engines. The standard
    keyword-extraction / routing signal a curation pipeline derives per
    document, in the repo's no-transcendentals form.

    Plan shape: tf is one map-side-combined aggregate over the exploded
    tokens; the vocab-sized (term, df) table joins BROADCAST (Zipf-
    bounded head; at 100 TB the tail join is the shuffle and AQE's
    skew split handles stopword keys); the top-k window shuffles one
    doc-keyed pass of doc x distinct-terms rows."""
    d = load_table(spark, "documents", sf_dir)
    from pyspark.sql import Window as W

    tok = d.select("doc_id", F.explode(words_expr("text")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    idf = tok.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n = d.count()  # corpus cardinality: one driver scalar, like langid's
    idf_bits = F.length(F.bin(F.expr(f"{n} div df"))) - F.lit(1)
    scored = tf.join(
        F.broadcast(idf.select("w", idf_bits.alias("idf_bits"))), "w"
    ).select(
        "doc_id",
        F.col("w").alias("term"),
        "tf",
        "idf_bits",
        (F.col("tf") * F.col("idf_bits")).alias("score"),
    )
    rnk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    )
    return (
        scored.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("idf_bits").cast("bigint").alias("idf_bits"),
            F.col("score").cast("bigint").alias("score"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# BPE-ish token counting: subword-tokenizer cost estimation without the
# tokenizer library.
# --------------------------------------------------------------------------
_BPE_RE = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"


@register(
    "text_bpe_token_estimate",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INT)
             AS n_word_punct_tokens,
           CAST(CEIL(n_chars / 4.0) AS BIGINT) AS chars_div4_estimate,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INT)
             AS n_word_tokens,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS INT)
             AS n_punct_tokens
    FROM documents
    """,
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget estimation for LLM pipelines without shipping a
    tokenizer: the GPT-style pre-tokenization regex (word runs | single
    punctuation) counts the units a BPE vocabulary would start from, and
    chars/4 is the standard English-text budget rule of thumb. Pure
    regexp_extract_all — scan-bound narrow map, the cheapest way to cost
    a 100 TB corpus before committing tokenizer compute."""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias(
            "n_word_punct_tokens"
        ),
        F.ceil(F.col("n_chars") / 4.0).alias("chars_div4_estimate"),
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0)).alias(
            "n_word_tokens"
        ),
        F.size(F.regexp_extract_all("text", F.lit("[^A-Za-z0-9 ]"), 0)).alias(
            "n_punct_tokens"
        ),
    )


# --------------------------------------------------------------------------
# Trained BPE (Sennrich et al. 2016): distributed merge-rank training +
# segmentation-table encode. The estimator above costs a corpus WITHOUT
# tokenizer compute; this is the real thing — a learned merges table and
# exact per-document token counts under it.
#
# Scale shape (the part that matters at 100 TB): BPE training never
# iterates over the corpus. One corpus-scale pass builds the distinct
# (word, count) table — Heaps-law bounded (~10-100M rows at 100 TB, vs
# trillions of tokens) — and every one of the N merge iterations is an
# aggregate over THAT table: explode adjacent piece-pairs weighted by word
# count, map-side-combined sum, TakeOrdered(1) argmax to the driver
# (k-means-style driver-held model state), then a narrow fold rewrites the
# segmentation column. Training cost is O(N * |vocab|), independent of
# corpus size. Encoding then needs no merge loop at all for in-vocab
# words: the trained table already holds each word's final segmentation,
# so corpus-wide token counts are one join against it (broadcast while the
# vocab fits, shuffle-join beyond). Only out-of-vocab words (fresh data
# under a frozen tokenizer) pay the rank-ordered merge fold, Arrow-batched
# in bpe_encode_pieces_udf.
#
# Determinism contract (what makes both ops hash-checkable): fixed
# BPE_N_MERGES, exact integer pair counts, and the tie-break
# (max count, then lexicographically smallest (left, right) pair) — the
# DuckDB oracle replays the identical training loop as a recursive CTE
# whose working set is the word table, with list_reduce applying each
# merge exactly like the Spark-side aggregate() fold.
# --------------------------------------------------------------------------
BPE_N_MERGES = 40  # merge-count FLOOR: determinism anchor for small corpora
# Corpus-adaptive sizing (the nprobe-scaling pattern): a fixed 40-merge
# model measured 2.59 tokens/word on the 31-word test vocab but degraded
# to 4.94 on a 46x larger (1,438-word) vocabulary — the model must grow
# with the vocabulary it serves. merges = clamp(ceil(|vocab| / 2),
# BPE_N_MERGES, BPE_N_MERGES_CAP): proportional to the MEASURED training
# vocab (one count over the Heaps-bounded word table, a model-sized job),
# floored at 40 so every oracle-scale corpus (vocab <= 80) trains the
# byte-identical historical model, capped so the driver-side merge loop
# stays bounded regardless of corpus. At production scale the cap is the
# honest knob to raise alongside BPE_VOCAB_CAP (32k-128k); the RULE — not
# the constant — is what the DuckDB oracle replays (bpe_n CTE below).
BPE_N_MERGES_CAP = 1024


def bpe_adaptive_merges(vocab_n: int) -> int:
    """clamp(ceil(vocab_n / 2), floor, cap) — mirrored exactly by the
    oracle's ``bpe_n`` CTE: LEAST(cap, GREATEST(floor, (COUNT(*)+1)//2))."""
    return min(BPE_N_MERGES_CAP, max(BPE_N_MERGES, (vocab_n + 1) // 2))

# trained-model memo: one entry per (app, corpus, n_merges) — the merges
# list is N rows and the segmentation frame is the Heaps-bounded vocab
# (checkpointed, so re-invocations and the encode op never retrain).
_BPE_MODEL: dict = {}

# one BPE training iteration folds the chosen merge through each word's
# piece list, leftmost non-overlapping — both engines express it as the
# same left fold: acc starts [p1]; append x unless (acc[-1], x) is the pair
def _sql_bpe_vocab(vocab_limit: int | None) -> str:
    """The training word table; with a limit, the top-``vocab_limit``
    words by (count desc, word asc) — the frequency cutoff production
    tokenizers train under (the tail is OOV by construction)."""
    base = f"""
      SELECT w AS word, COUNT(*)::BIGINT AS cnt, string_split(w, '') AS pieces
      FROM (
        SELECT unnest({SQL_WORDS.format(t='text')}) AS w FROM documents
      )
      GROUP BY w
    """
    if vocab_limit is None:
        return base
    return base + f" ORDER BY cnt DESC, word ASC LIMIT {vocab_limit}"


_SQL_BPE_BODY = f"""
    bpe_n AS (
      SELECT LEAST({BPE_N_MERGES_CAP},
                   GREATEST({BPE_N_MERGES}, (COUNT(*) + 1) // 2)) AS n
      FROM bpe_vocab
    ),
    bpe(it, kind, word, cnt, pieces, lft, rgt, pc) AS (
      SELECT 0, 'w', word, cnt, pieces,
             NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT
      FROM bpe_vocab
      UNION ALL
      (
        WITH cur AS (SELECT * FROM bpe
                     WHERE kind = 'w' AND it < (SELECT n FROM bpe_n)),
        pairs AS (
          SELECT s.lft AS lft, s.rgt AS rgt, SUM(cnt)::BIGINT AS pc
          FROM (
            SELECT cnt,
                   unnest(list_transform(range(1, len(pieces)),
                          i -> {{'lft': pieces[i], 'rgt': pieces[i+1]}})) AS s
            FROM cur
          )
          GROUP BY s.lft, s.rgt
        ),
        best AS (SELECT lft, rgt, pc FROM pairs ORDER BY pc DESC, lft, rgt LIMIT 1)
        SELECT c.it + 1, 'w', c.word, c.cnt,
               list_reduce(list_transform(c.pieces, p -> [p]),
                 (acc, x) -> CASE WHEN acc[-1] = b.lft AND x[1] = b.rgt
                                  THEN list_append(array_pop_back(acc),
                                                   b.lft || b.rgt)
                                  ELSE list_concat(acc, x) END),
               NULL, NULL, NULL
        FROM cur c, best b
        UNION ALL
        SELECT c.it + 1, 'm', NULL, NULL, NULL, b.lft, b.rgt, b.pc
        FROM (SELECT DISTINCT it FROM cur) c, best b
      )
    )
"""

_SQL_BPE_TRAIN = (
    f"\n    WITH RECURSIVE bpe_vocab AS ({_sql_bpe_vocab(None)}),\n"
    + _SQL_BPE_BODY
)


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int | None = None,
    vocab_cap: int | None = None,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Train BPE merges on the corpus word table; returns (merges, final
    word-segmentation DataFrame). merges rows are (rank, left, right,
    merged, pair_count). Driver holds only the model (N merge rows + one
    argmax row per round) — never corpus data; the segmentation table
    stays distributed. localCheckpoint per round truncates the otherwise
    N-deep fold lineage (the k-means discipline).

    ``vocab_cap``: train on only the top-N words by (count desc, word
    asc) — the frequency cutoff that bounds training state at any corpus
    size; everything below the cut encodes via the OOV merge fold.

    ``n_merges=None`` (the default) resolves corpus-adaptively via
    bpe_adaptive_merges over the measured training-vocab size — one
    count() over the word table, a model-sized job."""
    key = (spark.sparkContext.applicationId, sf_dir, n_merges, vocab_cap)
    hit = _BPE_MODEL.get(key)
    if hit is not None:
        return hit
    d = with_words(load_table(spark, "documents", sf_dir))
    words = (
        d.select(F.explode("__words").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    if vocab_cap is not None:
        words = words.orderBy(F.desc("cnt"), "word").limit(vocab_cap)
    words = (
        words.withColumn("pieces", F.split("word", ""))
        # vocab at oracle scale is tiny; a handful of partitions keeps the
        # N-round loop scheduler-bound rather than task-launch-bound. At
        # real scale drop the coalesce: every round is one map-side agg.
        .coalesce(8)
        .localCheckpoint(eager=True)
    )
    if n_merges is None:
        n_merges = bpe_adaptive_merges(words.count())
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        pairs = (
            words.filter(F.size("pieces") > 1)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(pieces)-1), i -> "
                        "struct(element_at(pieces, i) AS lft, "
                        "element_at(pieces, i+1) AS rgt))"
                    )
                ).alias("p"),
            )
            .groupBy("p.lft", "p.rgt")
            .agg(F.sum("cnt").alias("pc"))
        )
        best = pairs.orderBy(F.desc("pc"), "lft", "rgt").take(1)
        if not best:
            break
        lft, rgt, pc = best[0].lft, best[0].rgt, best[0].pc
        merged = lft + rgt
        fold = F.aggregate(
            F.slice("pieces", 2, F.size("pieces") - 1),
            F.slice("pieces", 1, 1),
            lambda acc, x: F.when(
                (F.element_at(acc, F.lit(-1)) == F.lit(lft)) & (x == F.lit(rgt)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        words = words.withColumn("pieces", fold).localCheckpoint(eager=True)
        merges.append((rank, lft, rgt, merged, pc))
    _BPE_MODEL[key] = (merges, words)
    return merges, words


@register(
    "text_bpe_train_merges",
    oracle=_SQL_BPE_TRAIN
    + """
    SELECT it - 1 AS rank, lft AS left, rgt AS right,
           lft || rgt AS merged, pc AS pair_count
    FROM bpe WHERE kind = 'm'
    """,
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer model itself: BPE_N_MERGES merge rules in
    rank order with their corpus pair counts. Hash-checked against a
    DuckDB recursive CTE replaying the identical training loop — the
    determinism contract (integer counts + lexicographic tie-break) is
    what lets two independent engines land on the same tokenizer."""
    merges, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string, pair_count bigint",
    )


@register(
    "text_bpe_encode_tokens",
    oracle=_SQL_BPE_TRAIN
    + f"""
    , bpe_final AS (
      SELECT word, len(pieces) AS n_pieces
      FROM bpe
      WHERE kind = 'w' AND it = (SELECT MAX(it) FROM bpe WHERE kind = 'w')
    ),
    docwords AS (
      SELECT doc_id, unnest({SQL_WORDS.format(t='text')}) AS w FROM documents
    )
    SELECT d.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(f.n_pieces) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(f.n_pieces) AS BIGINT) * 1.0 / COUNT(*)
             AS bpe_tokens_per_word
    FROM docwords d JOIN bpe_final f ON d.w = f.word
    GROUP BY d.doc_id
    """,
)
def text_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-document token counts under the trained tokenizer. The
    100 TB plan is the headline here: encoding is NOT a per-token merge
    loop but a single join — corpus words against the trained
    word→segment-count table (broadcast: the vocab is Heaps-bounded and
    orders of magnitude smaller than the corpus). The merge fold only
    ever runs over the vocab table during training and over OOV words in
    bpe_encode_pieces_udf."""
    _, words = _bpe_train(spark, sf_dir)
    vocab = words.select("word", F.size("pieces").alias("n_pieces"))
    d = with_words(load_table(spark, "documents", sf_dir))
    docwords = d.select("doc_id", F.explode("__words").alias("w"))
    return (
        docwords.join(F.broadcast(vocab), docwords.w == vocab.word)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_pieces").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            (F.col("n_bpe_tokens") * F.lit(1.0) / F.col("n_words")).alias(
                "bpe_tokens_per_word"
            ),
        )
    )


def bpe_encode_pieces_udf(merges: list[tuple[int, str, str, str, int]]):
    """The frozen-tokenizer encoder for data the training vocab has never
    seen: a pandas_udf (Arrow-batched, never per-row Python) that applies
    the learned merges to a word column in rank order — the reference BPE
    encode algorithm. Use when scoring NEW documents under an existing
    model; in-corpus encoding should always take the join path in
    text_bpe_encode_tokens instead. The merges list rides to executors via
    the UDF closure (broadcast-sized: N rules, not corpus data)."""
    from pyspark.sql.types import ArrayType, StringType

    ranked = [(lft, rgt, m) for _, lft, rgt, m, _ in sorted(merges)]

    @F.pandas_udf(ArrayType(StringType()))
    def encode(col: pd.Series) -> pd.Series:
        def enc(w: str) -> list[str]:
            pieces = list(w)
            for lft, rgt, m in ranked:
                if len(pieces) < 2:
                    break
                out = [pieces[0]]
                for x in pieces[1:]:
                    if out[-1] == lft and x == rgt:
                        out[-1] = m
                    else:
                        out.append(x)
                pieces = out
            return pieces

        return col.map(enc)

    return encode


# --------------------------------------------------------------------------
# HTML/markup extraction + line-level boilerplate removal: the
# CommonCrawl-shaped front door the downstream quality gates assume
# already ran. The corpus tables carry plain text, so both engines first
# synthesize the SAME deterministic HTML page per document (title +
# script + style + nav links + entity-bearing body + footer) and then
# extract — the extraction chain is the operator under test, implemented
# twice (Spark regexp/replace expressions vs DuckDB's), never shared.
# --------------------------------------------------------------------------
# synthesized page, single line (no newlines => '.' spans everything):
#   <html><head><title>Doc N</title><script ...>track('N');</script>
#   <style>...</style></head><body><div class="nav">3 links</div>
#   <h1>src &amp; co</h1><p>body-with-entities</p>
#   <div class="footer">&copy; 2026 src</div></body></html>
# body entity injection: ' a ' -> ' &lt;a&gt; ' (decodes to a tag-shaped
# string AFTER stripping — pins the strip-then-decode order), and
# ' the ' -> ' &amp; '.
_SQL_HTML_SYNTH = (
    "'<html><head><title>Doc ' || doc_id::VARCHAR || '</title>"
    "<script type=\"text/javascript\">track(''' || doc_id::VARCHAR || ''');"
    "</script><style>.nav a{color:#00f}</style></head><body>"
    '<div class="nav"><a href="/">home</a><a href="/about">about</a>'
    '<a href="/login">login</a></div>'
    "<h1>' || source || ' &amp; co</h1><p>' || "
    "replace(replace(text, ' a ', ' &lt;a&gt; '), ' the ', ' &amp; ')"
    " || '</p><div class=\"footer\">&copy; 2026 ' || source || "
    "'</div></body></html>'"
)


def _html_synth_col() -> Column:
    body = F.replace(
        F.replace(F.col("text"), F.lit(" a "), F.lit(" &lt;a&gt; ")),
        F.lit(" the "),
        F.lit(" &amp; "),
    )
    return F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title><script type="text/javascript">track(\''),
        F.col("doc_id").cast("string"),
        F.lit("');</script><style>.nav a{color:#00f}</style></head><body>"),
        F.lit('<div class="nav"><a href="/">home</a><a href="/about">about</a>'),
        F.lit('<a href="/login">login</a></div><h1>'),
        F.col("source"),
        F.lit(" &amp; co</h1><p>"),
        body,
        F.lit('</p><div class="footer">&copy; 2026 '),
        F.col("source"),
        F.lit("</div></body></html>"),
    )


@register(
    "text_html_extract",
    oracle=f"""
    WITH pages AS (
      SELECT doc_id, {_SQL_HTML_SYNTH} AS html FROM documents
    ),
    stripped AS (
      SELECT doc_id, html,
             regexp_replace(regexp_replace(regexp_replace(html,
               '<script[^>]*>.*?</script>', ' ', 'g'),
               '<style[^>]*>.*?</style>', ' ', 'g'),
               '<[^>]*>', ' ', 'g') AS no_tags
      FROM pages
    ),
    decoded AS (
      SELECT doc_id, html,
             replace(replace(replace(replace(replace(no_tags,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&copy;', '(c)'), '&amp;', '&') AS dec
      FROM stripped
    )
    SELECT doc_id,
           trim(regexp_replace(dec, ' +', ' ', 'g')) AS clean_text,
           len(regexp_extract_all(html, '<[^>]*>')) AS n_tags,
           len(regexp_extract_all(html, '<a href=')) AS n_links,
           length(trim(regexp_replace(dec, ' +', ' ', 'g'))) AS n_chars_clean
    FROM decoded
    """,
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup -> training text: drop script/style blocks wholesale, strip
    remaining tags, THEN decode entities (the order is load-bearing — a
    decoded '&lt;a&gt;' must survive as literal text, never be
    re-interpreted as a tag), collapse whitespace. Pure JVM
    regexp_replace/replace chain over one synthesized column: narrow,
    scan-bound, zero shuffle — at 100 TB this runs at parquet-read speed
    exactly like the sibling quality gates."""
    d = load_table(spark, "documents", sf_dir).withColumn(
        "html", _html_synth_col()
    )
    no_tags = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.col("html"), "<script[^>]*>.*?</script>", " "
            ),
            "<style[^>]*>.*?</style>",
            " ",
        ),
        "<[^>]*>",
        " ",
    )
    dec = no_tags
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&copy;", "(c)"),
        ("&amp;", "&"),  # ampersand LAST: never double-decode
    ):
        dec = F.replace(dec, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(dec, " +", " "))
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.size(F.regexp_extract_all("html", F.lit("<[^>]*>"), 0)).alias(
            "n_tags"
        ),
        F.size(F.regexp_extract_all("html", F.lit("<a href="), 0)).alias(
            "n_links"
        ),
        F.length(clean).alias("n_chars_clean"),
    )


# --------------------------------------------------------------------------
# Line-level boilerplate removal (RefinedWeb/CCNet line dedup + Gopher
# line rules): lines repeated across many documents (nav bars, footers,
# cookie banners) and pattern-matched chrome are dropped per line, keeping
# document order. Lines are synthesized deterministically: a nav line and
# a copyright line wrap the doc's 8-word content chunks.
# --------------------------------------------------------------------------
BOILER_CHUNK_WORDS = 8
BOILER_DF_FRACTION = 0.2  # a line in >20% of docs is chrome, not content
_BOILER_NAV = "home about contact login"
_BOILER_FOOT = "(c) 2026 all rights reserved cookie policy"
_SQL_BOILER_LINES = f"""
    SELECT doc_id, pos, line
    FROM (
      SELECT doc_id,
             list_concat(
               list_concat(['{_BOILER_NAV}'],
                 list_transform(
                   range(0, CAST(CEIL(len(ws) / {BOILER_CHUNK_WORDS}.0) AS BIGINT)),
                   i -> array_to_string(
                     list_slice(ws, i * {BOILER_CHUNK_WORDS} + 1,
                                (i + 1) * {BOILER_CHUNK_WORDS}), ' '))),
               ['{_BOILER_FOOT}']) AS lines
      FROM (SELECT doc_id, {{ws}} AS ws FROM documents)
    ), LATERAL (
      SELECT unnest(lines) AS line,
             unnest(range(1, len(lines) + 1)) AS pos
    )
"""


@register(
    "text_boilerplate_lines",
    oracle=f"""
    WITH lines AS ({_SQL_BOILER_LINES.format(ws=SQL_WORDS.format(t='text'))}),
    ndocs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM lines),
    linedf AS (
      SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY line
    ),
    flagged AS (
      SELECT l.doc_id, l.pos, l.line,
             d.df > {BOILER_DF_FRACTION} * (SELECT n FROM ndocs)
               AS dropped_df,
             regexp_matches(l.line,
               '(all rights reserved|cookie policy|^home about)')
               AS dropped_pattern
      FROM lines l JOIN linedf d ON l.line = d.line
    )
    SELECT doc_id,
           COUNT(*) AS n_lines,
           COUNT(*) FILTER (WHERE dropped_df) AS n_dropped_df,
           COUNT(*) FILTER (WHERE dropped_pattern AND NOT dropped_df)
             AS n_dropped_pattern,
           COUNT(*) FILTER (WHERE NOT dropped_df AND NOT dropped_pattern)
             AS n_kept,
           COALESCE(string_agg(line, CHR(10) ORDER BY pos)
                      FILTER (WHERE NOT dropped_df AND NOT dropped_pattern),
                    '') AS clean_text
    FROM flagged
    GROUP BY doc_id
    """,
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document line filter with a corpus-wide signal: a line's
    document frequency. The scale shape is ONE shuffle — groupBy(line) for
    the df table (map-side combined; the distinct-line table is far
    smaller than the corpus) — then a broadcast-threshold join back onto
    the line stream; the pattern rules are free per-row expressions.
    Kept lines reassemble in document order via sort_array(collect_list),
    never a global sort. This is RefinedWeb-style line dedup: at 100 TB
    the df table is exactly the heavy-hitter index text_top_ngrams_per_source
    builds, reused as a drop rule.

    NULL-text docs emit [nav, footer] on BOTH sides: DuckDB's list_concat
    treats a NULL list as empty (verified), matching Spark's
    when(size > 0).otherwise(empty) chunk guard — chrome-only pages are
    still pages."""
    d = with_words(load_table(spark, "documents", sf_dir))
    n_chunks = F.ceil(F.size("__words") / F.lit(float(BOILER_CHUNK_WORDS)))
    chunks = F.when(
        F.size("__words") > 0,
        F.transform(
            F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
            lambda i: F.array_join(
                F.slice(
                    F.col("__words"),
                    i * BOILER_CHUNK_WORDS + 1,
                    F.lit(BOILER_CHUNK_WORDS),
                ),
                " ",
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = (
        d.select(
            "doc_id",
            F.concat(
                F.array(F.lit(_BOILER_NAV)),
                chunks,
                F.array(F.lit(_BOILER_FOOT)),
            ).alias("lines"),
        )
        .select("doc_id", F.posexplode("lines").alias("pos0", "line"))
        .withColumn("pos", F.col("pos0") + 1)
        .drop("pos0")
    )
    ndocs = lines.select(
        F.countDistinct("doc_id").alias("____ndocs")
    )
    linedf = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("df")
    )
    flagged = (
        lines.join(linedf, "line")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "dropped_df",
            F.col("df") > F.lit(BOILER_DF_FRACTION) * F.col("____ndocs"),
        )
        .withColumn(
            "dropped_pattern",
            F.col("line").rlike(
                "(all rights reserved|cookie policy|^home about)"
            ),
        )
    )
    kept = ~F.col("dropped_df") & ~F.col("dropped_pattern")
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.count_if(F.col("dropped_df")).alias("n_dropped_df"),
        F.count_if(F.col("dropped_pattern") & ~F.col("dropped_df")).alias(
            "n_dropped_pattern"
        ),
        F.count_if(kept).alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept, F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s.line,
                ),
                "\n",
            ),
            F.lit(""),
        ).alias("clean_text"),
    )


# --------------------------------------------------------------------------
# Repetition detection (Gopher/CCNet-style filters): duplicate-5gram ratio
# + most-frequent-word share. Degenerate/templated generations score high
# on both; these are the standard pretraining keep/drop signals alongside
# text_quality_scores.
# --------------------------------------------------------------------------
_SQL_SHINGLES5 = (
    "list_transform(range(1, len({ws}) - 3), i -> "
    "{ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2] || ' ' || "
    "{ws}[i+3] || ' ' || {ws}[i+4])"
)


@register(
    "text_repetition_scores",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {SQL_WORDS.format(t='text')} AS ws FROM documents
    ), grams AS (
      SELECT doc_id,
             len({_SQL_SHINGLES5.format(ws='ws')}) AS n_5grams,
             len(list_distinct({_SQL_SHINGLES5.format(ws='ws')})) AS n_uniq_5grams
      FROM base
    ), words AS (
      SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_word_count
      FROM (
        SELECT doc_id, w, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(ws) AS w FROM base)
        GROUP BY doc_id, w
      ) GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(w.n_tokens AS BIGINT) AS n_tokens,
           CAST(w.top_word_count AS BIGINT) AS top_word_count,
           w.top_word_count * 1.0 / w.n_tokens AS top_word_share,
           CASE WHEN g.n_5grams = 0 THEN 0.0
                ELSE (g.n_5grams - g.n_uniq_5grams) * 1.0 / g.n_5grams
           END AS dup_5gram_ratio
    FROM words w JOIN grams g ON w.doc_id = g.doc_id
    """,
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition: the 5-gram ratio is a pure per-row expression
    (no shuffle); the top-word share needs one (doc_id, word) count pass —
    at 100 TB that single map-side-combined aggregate IS the plan, and its
    shuffle key (doc_id) matches every other per-doc aggregation here."""
    d = with_words(load_table(spark, "documents", sf_dir)).withColumn(
        "__g5", shingles_expr(F.col("__words"), 5)
    )
    ws = F.col("__words")
    g5 = F.col("__g5")
    n5 = F.size(g5)
    grams = d.select(
        "doc_id",
        F.when(
            n5 == 0, F.lit(0.0)
        ).otherwise(
            (n5 - F.size(F.array_distinct(g5))) * F.lit(1.0) / n5
        ).alias("dup_5gram_ratio"),
    )
    words = (
        d.select("doc_id", F.explode(ws).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("top_word_count"),
        )
    )
    return words.join(grams, "doc_id").select(
        "doc_id",
        "n_tokens",
        "top_word_count",
        (F.col("top_word_count") * F.lit(1.0) / F.col("n_tokens")).alias(
            "top_word_share"
        ),
        "dup_5gram_ratio",
    )


# --------------------------------------------------------------------------
# Per-domain (source) quality rollup: the corpus-curation dashboard query —
# which domains are worth keeping, at what filter pass-rate.
# --------------------------------------------------------------------------
@register(
    "text_domain_quality",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(ws)) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN len(ws) BETWEEN 20 AND 1000
                          AND len(list_distinct(ws)) * 1.0 / len(ws) > 0.3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           SUM(CASE WHEN len(ws) BETWEEN 20 AND 1000
                     AND len(list_distinct(ws)) * 1.0 / len(ws) > 0.3
                    THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS pass_rate
    FROM (SELECT source, {SQL_WORDS.format(t='text')} AS ws FROM documents)
    GROUP BY source
    """,
)
def text_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hash-aggregate on `source` over per-row quality expressions —
    integer sums only (exactly reproducible), ratio derived at the end."""
    d = with_words(load_table(spark, "documents", sf_dir))
    ws = F.col("__words")
    n_tokens = F.size(ws)
    unique_ratio = F.size(F.array_distinct(ws)) * F.lit(1.0) / n_tokens
    passes = F.when(
        n_tokens.between(20, 1000) & (unique_ratio > 0.3), 1
    ).otherwise(0)
    return (
        d.select("source", n_tokens.alias("nt"), passes.alias("p"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            F.sum("p").alias("n_pass"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "n_pass",
            (F.col("n_pass") * F.lit(1.0) / F.col("n_docs")).alias("pass_rate"),
        )
    )


# --------------------------------------------------------------------------
# Repeated-passage mining: exact 8-gram passages shared across documents.
# --------------------------------------------------------------------------
_PASSAGE_K = 8
_PASSAGE_MIN_DOCS = 3

_SQL_PASSAGE_8 = " || ' ' || ".join(f"ws[i+{j}]" for j in range(_PASSAGE_K))

_SQL_REPEATED_PASSAGES = f"""
    WITH w AS (SELECT doc_id, {SQL_WORDS.format(t='text')} AS ws FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - {_PASSAGE_K - 2}),
                    i -> {_SQL_PASSAGE_8})) AS passage
      FROM w
    )
    SELECT passage,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM g GROUP BY passage
    HAVING COUNT(DISTINCT doc_id) >= {_PASSAGE_MIN_DOCS}
"""


@register("text_repeated_passages", oracle=_SQL_REPEATED_PASSAGES)
def text_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/passage-level duplication: exact {k}-word passages
    appearing in >= {m} distinct documents, with document reach and total
    occurrence count. This is the passage analogue of document-level
    dedup — license headers, navigation chrome, and templated intros
    repeat across otherwise-distinct documents and survive doc-level
    near-dup removal; passage mining finds the spans to strip (the
    technique behind exact-substring training-data dedup).

    Scale shape: one explode (docs x ~words rows) and ONE shuffle on the
    passage. Multiplicity is kept (distinct=False) so n_occurrences
    counts within-doc repeats too. Skew: a universally-shared passage is
    one hot reduce key; partial_count runs map-side (count+count_distinct
    partials), and dropping top-frequency stopword-only passages upstream
    is the documented mitigation if a corpus makes one key pathological.
    """.format(k=_PASSAGE_K, m=_PASSAGE_MIN_DOCS)
    from psql_streamer_spark.functions.text_hash import doc_shingles

    d = load_table(spark, "documents", sf_dir)
    g = doc_shingles(d, k=_PASSAGE_K, distinct=False).withColumnRenamed(
        "shingle", "passage"
    )
    return (
        g.groupBy("passage")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= _PASSAGE_MIN_DOCS)
    )


# --------------------------------------------------------------------------
# Heavy hitters: top-5 3-gram shingles per source. The boilerplate
# detector — a gram dominating one source is a template/license header and
# feeds both the LSH band_bucket_cap choice and stopword-gram filters.
# --------------------------------------------------------------------------
_TOP_NGRAMS_K = 5

_SQL_TOP_NGRAMS = f"""
    WITH g AS (
      SELECT source, unnest({{sh}}) AS gram
      FROM (SELECT source, {{ws}} AS ws FROM documents)
    ),
    counted AS (
      SELECT source, gram, COUNT(*) AS n FROM g GROUP BY source, gram
    )
    SELECT source, gram, n, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY n DESC, gram ASC) AS rank
      FROM counted
    ) WHERE rank <= {_TOP_NGRAMS_K}
""".format(
    ws="list_filter(string_split(lower(text), ' '), w -> len(w) > 0)",
    sh="list_transform(range(1, len(ws) - 1), i -> "
    "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])",
)


_TOP_NGRAMS_SALT = 64


@register("text_top_ngrams_per_source", oracle=_SQL_TOP_NGRAMS)
def text_top_ngrams_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source heavy-hitter grams: explode -> count -> per-source top-5
    (ties broken by gram for total order). Scale shape: the gram count is
    map-side combined before its shuffle, and the ranking runs over
    per-source COUNTED grams (already aggregated), not occurrences.

    The top-k is a salted two-phase window: `source` has a handful of
    distinct values, so a single `PARTITION BY source` window would sort
    the entire corpus vocabulary on |sources| threads — measured 105 s of
    the op's 105 s at sf30; the salt fix alone took the op to 40 s.
    Phase 1 ranks within (source, xxhash64(gram) mod 64) cells by the
    final (n DESC, gram ASC) order — lossless, because after the
    aggregate each gram's count is COMPLETE and lives in exactly one
    cell, so a gram with fewer than 5 grams ahead of it in the total
    order has fewer than 5 ahead of it in its own cell. Phase 2 re-ranks
    the |sources| x 64 x 5 survivors, a frame any single thread handles
    at any corpus scale; boundary ties resolve identically in both
    phases because both use the same total order. The two phases are the
    shared `functions/ranking.salted_topk` primitive (this op's fix is
    where it was promoted from).

    Measured dead end, recorded so nobody re-digs it: a hash-keyed
    screen + exact-string rescore (count by (source, xxhash64(gram)),
    threshold from per-salt-cell count maxima, candidates broadcast back
    onto a second corpus scan — the BLAS-margin-screen pattern) halves
    the shuffle's key bytes, and the screen aggregate alone runs 114 s
    vs 222 s string-keyed at sf100. But the op-level numbers were
    neutral-to-worse on one host (sf30 56-63 s vs 40 s; sf100 218-246 s
    vs 231 s): the second tokenize+explode scan and the 170M-row persist
    cost exactly what the narrower shuffle saved, and the vocabulary
    aggregate's residual cost is single-disk shuffle bandwidth, which a
    cluster divides across executors anyway. The simple salted form wins
    locally and has no cache/persist lifecycle to manage; revisit the
    screen only on a real cluster where shuffle bytes are the scarce
    resource. For a true streaming-scale corpus the exact count swaps
    for a count-min/space-saving sketch, but the top-k contract stays
    identical."""
    d = load_table(spark, "documents", sf_dir)
    counted = (
        with_words(d)
        .select("source", F.explode(shingles_expr(F.col("__words"))).alias("gram"))
        .groupBy("source", "gram")
        .agg(F.count("*").alias("n"))
    )
    return salted_topk(
        counted,
        ["source"],
        [F.desc("n"), F.asc("gram")],
        _TOP_NGRAMS_K,
        F.col("gram"),
        n_salts=_TOP_NGRAMS_SALT,
    ).select("source", "gram", "n", "rank")


# --------------------------------------------------------------------------
# Language-ID confusion matrix: the evaluation rollup for the heuristic
# classifier above, against the corpus's labeled lang column — same
# predict-vs-truth report shape as sim_knn_label_accuracy.
# --------------------------------------------------------------------------
_SQL_LANGID_PRED = f"""
    SELECT doc_id, lang,
           CASE
             WHEN {_sql_marker_score('en')} >= {_sql_marker_score('es')}
              AND {_sql_marker_score('en')} >= {_sql_marker_score('de')} THEN 'en'
             WHEN {_sql_marker_score('es')} >= {_sql_marker_score('de')} THEN 'es'
             ELSE 'de'
           END AS predicted
    FROM (SELECT doc_id, lang, {SQL_WORDS.format(t='text')} AS ws FROM documents)
"""


@register(
    "text_langid_confusion",
    oracle=f"""
    SELECT lang AS labeled_lang, predicted AS predicted_lang,
           COUNT(*) AS n_docs
    FROM ({_SQL_LANGID_PRED})
    GROUP BY 1, 2
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(labeled, predicted, count) confusion cells for the marker-based
    language classifier — the number that decides whether the heuristic
    is good enough to gate corpus routing. One aggregate over the scoring
    map; |langs|^2 output rows at any corpus scale."""
    return (
        text_langid_scores(spark, sf_dir)
        .groupBy(
            "labeled_lang",
            F.col("predicted_lang"),
        )
        .agg(F.count("*").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# TRAINED language ID: character-bigram Naive Bayes in WHOLE BITS — the
# trained-classifier upgrade of the marker heuristic above, completing the
# trained-model trio (BPE tokenizer, quality classifier, langid). The
# heuristic can only ever name the three languages its marker lists know;
# this trains one cost table per LABELED language from the corpus itself
# and classifies by minimum total cost. Integer-exact, so it
# hash-verifies cross-engine like the quality model and the bigram LM:
#
#   cost(g | L) = floor(log2((tot_L + V) / (cf_L(g) + 1)))   [Laplace]
#   prior(L)    = floor(log2(N_docs / n_docs_L))
#   cost(doc,L) = prior(L) + sum over doc's bigram occurrences cost(g|L)
#   predict     = argmin cost, ties to the lexicographically first lang
#
# every floor(log2 a/b) is bitlength(a div b) - 1 (see the unigram
# surprisal banner for why that identity is exact). Scale shape: the
# model is |langs| x min(V, LANGID_BIGRAM_CAP) rows; training is one
# groupBy over corpus char-bigrams; scoring is per-doc bigram counts
# joined against the broadcast model.
#
# The vocabulary is CAPPED at the LANGID_BIGRAM_CAP most frequent
# bigrams (ties: lexicographically first gram wins — deterministic in
# both engines). On real text V is alphabet^2-bounded and the cap never
# binds; on synthetic/hashed corpora V grows with the corpus (the r14
# 100x scale point measured 24x wall from exactly this — SCALE_r14),
# and the cap is what keeps the model — and the langs x V densify that
# builds it — broadcastable under ANY corpus. Grams outside the capped
# vocabulary contribute no cost (inner join against the model), and the
# Laplace V is the CAPPED vocabulary size; both rules are replayed
# verbatim by the oracle CTE (the BPE vocab-cap pattern).
# --------------------------------------------------------------------------
LANGID_BIGRAM_CAP = 2048

_SQL_LANGID_NB = f"""
    WITH tokl AS (
      SELECT doc_id, lang, unnest({{words}}) AS w FROM documents
    ),
    nb_bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(cs)),
                                   i -> cs[i] || cs[i+1])) AS g
      FROM (SELECT doc_id, lang, string_split(w, '') AS cs FROM tokl)
    ),
    nb_gcnt AS (SELECT g, COUNT(*) AS gc FROM nb_bg GROUP BY g),
    nb_vocab AS (
      SELECT g FROM (
        SELECT g, ROW_NUMBER() OVER (ORDER BY gc DESC, g ASC) AS grn
        FROM nb_gcnt
      ) WHERE grn <= {LANGID_BIGRAM_CAP}
    ),
    nb_v AS (SELECT COUNT(*) AS v FROM nb_vocab),
    nb_cls AS (SELECT lang, COUNT(*) AS nd FROM documents
               WHERE lang IS NOT NULL GROUP BY lang),
    nb_n AS (SELECT COUNT(*) AS n FROM documents),
    nb_cf AS (
      SELECT b.lang, b.g, COUNT(*) AS c
      FROM nb_bg b JOIN nb_vocab vo ON vo.g = b.g
      WHERE b.lang IS NOT NULL
      GROUP BY b.lang, b.g
    ),
    nb_tot AS (SELECT lang, SUM(c)::BIGINT AS t FROM nb_cf GROUP BY lang),
    nb_model AS (
      SELECT c.lang, vo.g,
             LENGTH(BIN((t.t + nv.v) // (COALESCE(cf.c, 0) + 1))) - 1
               AS bits
      FROM nb_cls c
      CROSS JOIN nb_vocab vo
      CROSS JOIN nb_v nv
      JOIN nb_tot t ON t.lang = c.lang
      LEFT JOIN nb_cf cf ON cf.lang = c.lang AND cf.g = vo.g
    ),
    nb_prior AS (
      SELECT c.lang, LENGTH(BIN(n.n // c.nd)) - 1 AS pbits
      FROM nb_cls c CROSS JOIN nb_n n
    ),
    nb_doc_cnt AS (
      SELECT doc_id, g, COUNT(*) AS c FROM nb_bg GROUP BY doc_id, g
    ),
    nb_docsum AS (
      SELECT d.doc_id, m.lang, CAST(SUM(d.c * m.bits) AS BIGINT) AS gbits
      FROM nb_doc_cnt d JOIN nb_model m ON m.g = d.g
      GROUP BY d.doc_id, m.lang
    ),
    nb_scores AS (
      SELECT doc.doc_id, doc.lang AS labeled_lang, p.lang AS cand_lang,
             COALESCE(ds.gbits, 0) + p.pbits AS cost_bits
      FROM documents doc
      CROSS JOIN nb_prior p
      LEFT JOIN nb_docsum ds
        ON ds.doc_id = doc.doc_id AND ds.lang = p.lang
    ),
    nb_best AS (
      SELECT doc_id, labeled_lang, cand_lang, cost_bits,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cost_bits ASC, cand_lang ASC)
               AS rn
      FROM nb_scores
    )
""".format(words=SQL_WORDS.format(t='text'))


def langid_char_bigrams(d: DataFrame, cols: list[str]) -> DataFrame:
    """(``cols``..., g) char-bigram occurrences of a (doc_id, text)
    frame — the shared feature extractor of NB training and scoring
    (training passes [doc_id, lang], a label-less scorer passes
    [doc_id]). with_words is applied defensively (idempotent — an
    already-tokenized frame's cached tokens are reused, the fused
    gate's shared-scan contract)."""
    d = with_words(d)
    return d.select(*cols, F.explode("__words").alias("w")).select(
        *cols,
        F.explode(
            # guard like shingles_expr: Spark's sequence(1, 0) DESCENDS
            # ([1, 0]) instead of being empty, so a 1-char word would
            # emit two phantom "bigrams" the oracle's range(1, 1) never
            # produces
            F.expr(
                "CASE WHEN char_length(w) >= 2 THEN "
                "transform(sequence(1, char_length(w) - 1), "
                "i -> substring(w, i, 2)) "
                "ELSE array() END"
            )
        ).alias("g"),
    )


def langid_nb_train(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train the char-bigram NB on a labeled tokenized corpus frame
    (doc_id, lang, __words): returns (model, prior) — model is
    (lang, g, bits) over the LANGID_BIGRAM_CAP-capped vocabulary, prior
    is (lang, pbits). Both are model-sized and broadcastable (the
    banner's whole point); the fused ingest gate trains once and scores
    every micro-batch against the broadcast pair."""
    bg = langid_char_bigrams(d, ["doc_id", "lang"])
    # top-LANGID_BIGRAM_CAP most frequent grams (ties: g ASC) — orderBy +
    # limit is a TakeOrdered, no global sort; the capped vocab (and hence
    # the langs x V densified model below) stays broadcastable under any
    # corpus, see the banner. vocab.count() is a model-sized driver
    # scalar, like IVF's cell count.
    vocab = (
        bg.groupBy("g")
        .agg(F.count("*").alias("gc"))
        .orderBy(F.desc("gc"), F.asc("g"))
        .limit(LANGID_BIGRAM_CAP)
        .select("g")
    )
    v = vocab.count()
    # an unlabeled (NULL-lang) document contributes features/vocab but
    # cannot BE a class — exclude it from the class tables (mirrored in
    # the oracle CTE); real corpora are fully labeled, so results are
    # unchanged where it matters and a null-heavy corpus stops crashing
    # the model-sized driver sort
    cls = (
        d.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count("*").alias("nd"))
    )
    n_docs = d.count()
    cf = (
        bg.filter(F.col("lang").isNotNull())
        .join(F.broadcast(vocab), "g")
        .groupBy("lang", "g")
        .agg(F.count("*").alias("c"))
    )
    tot = cf.groupBy("lang").agg(F.sum("c").alias("t"))
    model = (
        cls.select("lang")
        .join(tot, "lang")
        .crossJoin(vocab)
        .join(cf, ["lang", "g"], "left")
        .select(
            "lang",
            "g",
            (
                F.length(
                    F.bin(
                        F.expr(f"(t + {v}) div (coalesce(c, 0) + 1)")
                    )
                )
                - F.lit(1)
            ).alias("bits"),
        )
    )
    prior = cls.select(
        "lang",
        (
            F.length(F.bin(F.expr(f"{n_docs} div nd"))) - F.lit(1)
        ).alias("pbits"),
    )
    return model, prior


def langid_nb_score(
    d: DataFrame,
    model: DataFrame,
    prior: DataFrame,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, *carry, predicted_lang, cost_bits) of a tokenized frame
    under a trained (model, prior) pair — min total cost, ties to the
    lexicographically first lang. Grams outside the model's capped
    vocabulary contribute no cost (the inner model join, see banner).
    ``carry`` columns of ``d`` ride the per-doc plan for free (no extra
    join back against the input — the corpus query carries its label
    this way).

    Plan shape (r15): the per-doc costs fold into ONE projection. The
    prior is collected to the driver (|langs| rows — model-sized, the
    bounded-collect discipline) and the argmin becomes
    array_min(array(struct(cost_L, L)...)) over a per-doc lang->gbits
    map: struct ordering compares cost first then lang, which IS the
    (cost_bits ASC, cand_lang ASC) tie-break the oracle's ROW_NUMBER
    replays. vs the windowed form this drops the docs x langs row
    inflation, the (doc_id, lang)-keyed shuffle join, and the window
    exchange — one groupBy and one doc-keyed join remain."""
    bg = langid_char_bigrams(d, ["doc_id"])
    doc_cnt = bg.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    docsum = (
        doc_cnt.join(F.broadcast(model), "g")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("c") * F.col("bits")).cast("bigint").alias("gbits"))
    )
    gmap = docsum.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("lang", "gbits"))
        ).alias("gm")
    )
    pri = sorted(
        (r.lang, int(r.pbits)) for r in prior.collect()
    )  # model-sized driver state
    if not pri:
        # untrained/empty model: no candidate langs, no scores — the
        # same zero rows the windowed form produced (its crossJoin with
        # an empty prior was empty); an empty array() literal would be
        # untypeable under array_min(...).getField
        return d.select(
            "doc_id",
            *carry,
            F.lit(None).cast("string").alias("predicted_lang"),
            F.lit(None).cast("bigint").alias("cost_bits"),
        ).filter(F.lit(False))
    cand = F.array(
        *[
            F.struct(
                (
                    F.coalesce(
                        F.element_at(F.col("gm"), F.lit(lang)), F.lit(0)
                    )
                    + F.lit(pbits)
                )
                .cast("bigint")
                .alias("c"),
                F.lit(lang).alias("l"),
            )
            for lang, pbits in pri
        ]
    )
    best = F.array_min(cand)
    return (
        d.select("doc_id", *carry)
        .join(gmap, "doc_id", "left")
        .select(
            "doc_id",
            *carry,
            best.getField("l").alias("predicted_lang"),
            best.getField("c").alias("cost_bits"),
        )
    )


def _langid_nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, labeled_lang, predicted_lang, cost_bits) under the
    corpus-trained char-bigram NB (see banner) — train + score on the
    same corpus, the registered queries' shape."""
    d = with_words(load_table(spark, "documents", sf_dir))
    model, prior = langid_nb_train(d)
    return langid_nb_score(
        d.withColumn("labeled_lang", F.col("lang")),
        model,
        prior,
        carry=("labeled_lang",),
    )


@register(
    "text_langid_model_scores",
    oracle=_SQL_LANGID_NB
    + """
    SELECT doc_id, labeled_lang, cand_lang AS predicted_lang, cost_bits
    FROM nb_best WHERE rn = 1
    """,
)
def text_langid_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc verdicts of the TRAINED char-bigram NB language classifier
    (see banner): labeled lang, predicted lang, and the winning whole-bit
    cost. Unlike the marker heuristic, the label set is learned from the
    corpus — languages the heuristic cannot name (fr, zh here) become
    predictable classes."""
    return _langid_nb_scores(spark, sf_dir)


@register(
    "text_langid_model_confusion",
    oracle=_SQL_LANGID_NB
    + """
    SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs
    FROM (SELECT labeled_lang, cand_lang AS predicted_lang
          FROM nb_best WHERE rn = 1)
    GROUP BY 1, 2
    """,
)
def text_langid_model_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Confusion cells for the trained NB langid — the measured-delta
    counterpart of text_langid_confusion (the heuristic's matrix), so
    every round records whether training still beats the markers."""
    return (
        _langid_nb_scores(spark, sf_dir)
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


_SQL_LANGID_VOCAB_STATS = f"""
    WITH tokl AS (
      SELECT doc_id, unnest({SQL_WORDS.format(t='text')}) AS w FROM documents
    ),
    vbg AS (
      SELECT unnest(list_transform(range(1, len(cs)),
                                   i -> cs[i] || cs[i+1])) AS g
      FROM (SELECT string_split(w, '') AS cs FROM tokl)
    ),
    vgcnt AS (SELECT g, COUNT(*) AS gc FROM vbg GROUP BY g),
    vcap AS (
      SELECT gc FROM (
        SELECT gc, ROW_NUMBER() OVER (ORDER BY gc DESC, g ASC) AS grn
        FROM vgcnt
      ) WHERE grn <= {LANGID_BIGRAM_CAP}
    )
    SELECT (SELECT COUNT(*) FROM vgcnt) AS full_vocab,
           (SELECT COUNT(*) FROM vcap) AS capped_vocab,
           (SELECT COALESCE(SUM(gc), 0)::BIGINT FROM vgcnt)
             AS total_occurrences,
           (SELECT COALESCE(SUM(gc), 0)::BIGINT FROM vcap)
             AS covered_occurrences
"""


@register("text_langid_vocab_stats", oracle=_SQL_LANGID_VOCAB_STATS)
def text_langid_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row occupancy report of the LANGID_BIGRAM_CAP vocabulary cap:
    full char-bigram vocabulary size, the capped size, and how many of
    the corpus' bigram OCCURRENCES the capped vocabulary still covers —
    the number that says what the cap costs (OOV grams contribute no NB
    cost, see the langid banner). On real text full_vocab is
    alphabet^2-bounded and coverage is ~100%; a synthetic/hashed corpus
    whose vocab outgrows the cap shows its coverage drop HERE before
    anyone wonders why langid confidence sagged — the model owner's
    watch number, the same role mm_index_stats / dedup_band_index_stats
    play for the index tiers. One aggregate over the corpus bigrams;
    one output row at any scale."""
    d = with_words(load_table(spark, "documents", sf_dir))
    gcnt = (
        langid_char_bigrams(d, ["doc_id"])
        .groupBy("g")
        .agg(F.count("*").alias("gc"))
    )
    capped = gcnt.orderBy(F.desc("gc"), F.asc("g")).limit(LANGID_BIGRAM_CAP)
    full = gcnt.agg(
        F.count("*").alias("full_vocab"),
        F.coalesce(F.sum("gc"), F.lit(0))
        .cast("bigint")
        .alias("total_occurrences"),
    )
    cov = capped.agg(
        F.count("*").alias("capped_vocab"),
        F.coalesce(F.sum("gc"), F.lit(0))
        .cast("bigint")
        .alias("covered_occurrences"),
    )
    return full.crossJoin(cov).select(
        "full_vocab",
        "capped_vocab",
        "total_occurrences",
        "covered_occurrences",
    )


# --------------------------------------------------------------------------
# Unigram-LM surprisal: the CCNet-style perplexity quality filter, in
# integer-exact form. CCNet ranks documents by the perplexity of a
# language model over them and keeps the low-perplexity head; the
# engine-local transcendental (ln of a smoothed probability) does not
# hash-compare across engines, so the registered form measures per-token
# Shannon surprisal in WHOLE BITS: bits(w) = floor(log2(N / cf(w))) with
# N = total corpus tokens, computed exactly as length(bin(N div cf)) - 1
# (for x >= 1, floor(log2 x) = bitlength(floor x) - 1 — no power of two
# lies strictly between floor(x) and x). High avg bits = improbable
# tokens = noisy or novel text; low = boilerplate. The average is kept
# rational as integer centibits (total*100 div n) — decimal division
# scale rules differ per engine, integer division does not.
# --------------------------------------------------------------------------
_SQL_UNIGRAM_SURPRISAL = f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_WORDS.format(t='text')}) AS w
      FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS cf FROM tok GROUP BY w),
    tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS n_total FROM freq)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(LENGTH(BIN(n_total // cf)) - 1) AS BIGINT) AS total_bits,
           CAST(SUM(LENGTH(BIN(n_total // cf)) - 1) * 100
                // COUNT(*) AS BIGINT) AS avg_centibits
    FROM tok JOIN freq USING (w) CROSS JOIN tot
    GROUP BY doc_id
"""


@register("text_unigram_surprisal", oracle=_SQL_UNIGRAM_SURPRISAL)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM surprisal (n_tokens, total_bits,
    avg_centibits) — the integer-exact form of the perplexity quality
    gate (see section banner for why bits, not nats).

    Two-pass plan: explode -> vocab count -> join back, same shape as
    text_token_corpus_freq; the corpus-total scalar rides a broadcast
    1-row frame (never a collect). At 100 TB the Zipf head of `freq` is
    broadcastable and AQE's skew-join split handles the hot stopword
    keys on the tail join."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(words_expr("text")).alias("w"))
    freq = tok.groupBy("w").agg(F.count("*").alias("cf"))
    tot = freq.agg(F.sum("cf").alias("n_total"))
    bits = F.length(F.bin(F.expr("n_total div cf"))) - F.lit(1)
    return (
        tok.join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(bits).cast("bigint").alias("total_bits"),
            (F.sum(bits) * 100).cast("bigint").alias("_tb100"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "total_bits",
            F.expr("_tb100 div n_tokens").cast("bigint").alias("avg_centibits"),
        )
    )


# --------------------------------------------------------------------------
# BM25 retrieval: top-k documents per query under the Okapi BM25 weight
# (k1 = 1.2, b = 0.75), in integer-exact cross-engine form. With
# A = total corpus tokens and N = docs, k1 and b clear to the rational
#   tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
#     = 44*A*tf / (20*A*tf + 6*A + 18*dl*N)          [avgdl = A/N]
# so each term contributes idf_bits * (44000*A*tf div (...)) exactly in
# both engines (one integer division per term, milli-scaled); idf_bits =
# bitlength(N div df) is the whole-bit idf surrogate, same discipline as
# text_unigram_surprisal. Queries are self-derived for determinism: the
# 3 longest distinct tokens (ties lexicographic) of each doc_id < 5.
# The A*tf products overflow int64 at a_total*tf > ~2.1e14 — i.e. well
# inside the 100 TB design point once any term has tf > 10 (ANSI Spark
# would throw, DuckDB would widen — either way not the recorded plan) —
# so the milli-score term runs in decimal(38,0) / HUGEINT on both sides:
# bit-identical integer arithmetic with ~1e38 headroom, no cliff.
# --------------------------------------------------------------------------
_BM25_N_QUERIES = 5
_BM25_TERMS_PER_QUERY = 3
_BM25_TOP_K = 10

_SQL_BM25_TOPK = f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_WORDS.format(t='text')}) AS w
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    corpus AS (
      SELECT CAST(SUM(dl) AS BIGINT) AS a_total,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM dl
    ),
    qterms AS (
      SELECT query_id, w FROM (
        SELECT doc_id AS query_id, w,
               ROW_NUMBER() OVER (
                 PARTITION BY doc_id ORDER BY LENGTH(w) DESC, w ASC
               ) AS rn
        FROM (SELECT DISTINCT doc_id, w FROM tok WHERE doc_id < {_BM25_N_QUERIES})
      ) WHERE rn <= {_BM25_TERMS_PER_QUERY}
    ),
    df AS (
      SELECT w, COUNT(DISTINCT doc_id) AS df
      FROM tok JOIN (SELECT DISTINCT w FROM qterms) USING (w)
      GROUP BY w
    ),
    tf AS (
      SELECT t.doc_id, t.w, COUNT(*) AS tf
      FROM tok t JOIN (SELECT DISTINCT w FROM qterms) q USING (w)
      GROUP BY t.doc_id, t.w
    ),
    scored AS (
      SELECT q.query_id, tf.doc_id,
             CAST(SUM(
               LENGTH(BIN(n_docs // df)) *
               ((CAST(44000 AS HUGEINT) * a_total * tf) //
                (CAST(20 AS HUGEINT) * a_total * tf
                 + CAST(6 AS HUGEINT) * a_total
                 + CAST(18 AS HUGEINT) * dl.dl * n_docs))
             ) AS BIGINT) AS score_milli
      FROM tf
      JOIN qterms q USING (w)
      JOIN df USING (w)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN corpus
      WHERE tf.doc_id <> q.query_id
      GROUP BY q.query_id, tf.doc_id
    )
    SELECT query_id, rank, doc_id, score_milli FROM (
      SELECT query_id, doc_id, score_milli,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY score_milli DESC, doc_id ASC
             ) AS rank
      FROM scored
    ) WHERE rank <= {_BM25_TOP_K}
"""


@register("text_bm25_topk", oracle=_SQL_BM25_TOPK)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} documents per query under integer-exact Okapi BM25 (see
    section banner for the rational-form derivation and the whole-bit
    idf surrogate).

    Scale shape: the query-term list (queries x terms rows) broadcasts to
    every path that needs it — df counting, tf counting, scoring — so the
    corpus-sized explode is scanned ONCE for tf/df of the query terms and
    never self-joined; the per-query top-k is a window over the scored
    candidates (docs sharing >= 1 query term), which is the posting-list
    union, not the corpus. At 100 TB this is the classic distributed
    retrieval plan: broadcast the query, scan the postings, rank the
    union."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select("doc_id", F.explode(words_expr("text")).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = dl.agg(
        F.sum("dl").cast("bigint").alias("a_total"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    qterms = (
        tok.filter(F.col("doc_id") < _BM25_N_QUERIES)
        .select(F.col("doc_id").alias("query_id"), "w")
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.length("w").desc(), F.col("w").asc()
                )
            ),
        )
        .filter(F.col("rn") <= _BM25_TERMS_PER_QUERY)
        .drop("rn")
    )
    uniq_terms = qterms.select("w").distinct()
    hits = tok.join(F.broadcast(uniq_terms), "w")
    df_ = hits.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    tf = hits.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    # decimal(38,0) (HUGEINT on the DuckDB side): the A*tf products pass
    # int64 at ~2.1e14 token-occurrences — see the section banner
    term_score = F.length(F.bin(F.expr("n_docs div df"))) * F.expr(
        "(cast(44000 as decimal(38,0)) * a_total * tf) div"
        " (cast(20 as decimal(38,0)) * a_total * tf"
        "  + cast(6 as decimal(38,0)) * a_total"
        "  + cast(18 as decimal(38,0)) * dl * n_docs)"
    )
    scored = (
        tf.join(F.broadcast(qterms), "w")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(term_score).cast("bigint").alias("score_milli"))
    )
    # per-query ranking is salted two-phase (functions/ranking.py): the
    # scored posting-union frame spreads over query_id x 64 reducers
    # instead of sorting on |queries| threads — for common query terms
    # the posting union is a large corpus fraction, so the single-phase
    # window was the same low-cardinality wall as top_ngrams' was.
    return salted_topk(
        scored,
        ["query_id"],
        [F.col("score_milli").desc(), F.col("doc_id").asc()],
        _BM25_TOP_K,
        F.col("doc_id"),
    ).select("query_id", "rank", "doc_id", "score_milli")


# --------------------------------------------------------------------------
# Feature-hashing vectorizer (the hashing trick): text -> sparse vector
# with NO trained vocabulary.
# --------------------------------------------------------------------------
# The bridge between the text and similarity stacks when no embedding
# model is available: each token hashes to one of FEATURE_HASH_DIMS
# buckets (md5-bucket idiom — engine-replayable, stable under corpus
# growth, no vocabulary to train, ship, or version), per-doc term
# frequencies become the sparse vector, L2-normalized so downstream
# cosine is a plain dot product. Emitted in LONG form (doc_id, dim, tf,
# weight) — the sparse-native shape: joins, dot products, and the DuckDB
# oracle all consume it directly, and no row ever materializes a dense
# 0-filled array.
#
# Determinism: tf and the per-doc sum of squares are exact integers; the
# only float ops are one sqrt and one division per row, fixed IEEE shape
# in both engines.
FEATURE_HASH_DIMS = 64

_SQL_FEATURE_HASHING = f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                w -> len(w) > 0)) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
               % {FEATURE_HASH_DIMS} AS dim,
             COUNT(*) AS tf
      FROM toks GROUP BY 1, 2
    )
    SELECT doc_id, dim, tf,
           CAST(tf AS DOUBLE)
             / sqrt(CAST(SUM(tf * tf) OVER (PARTITION BY doc_id) AS DOUBLE))
             AS weight
    FROM tf
"""


@register("text_feature_hashing", oracle=_SQL_FEATURE_HASHING)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse hashed term-frequency vectors, L2-normalized, long form —
    one row per (doc, occupied dim). One token aggregate plus one per-doc
    window for the norm; at 100 TB both shuffles key on doc_id-led keys
    and the output is bounded by min(doc tokens, FEATURE_HASH_DIMS) rows
    per doc."""
    from pyspark.sql import Window

    from psql_streamer_spark.functions.text_hash import with_words
    from psql_streamer_spark.operators.mlprep import md5_bucket

    d = with_words(load_table(spark, "documents", sf_dir))
    toks = d.select(
        "doc_id", F.explode(F.col("__words")).alias("tok")
    )
    tf = (
        toks.groupBy(
            "doc_id", md5_bucket(F.col("tok"), FEATURE_HASH_DIMS).alias("dim")
        )
        .agg(F.count("*").alias("tf"))
    )
    norm = F.sqrt(
        F.sum(F.col("tf") * F.col("tf"))
        .over(Window.partitionBy("doc_id"))
        .cast("double")
    )
    return tf.select(
        "doc_id", "dim", "tf", (F.col("tf").cast("double") / norm).alias("weight")
    )


# --------------------------------------------------------------------------
# Model-free text kNN over the hashed vectors: the vectorizer's consumer.
# --------------------------------------------------------------------------
# Nearest neighbors by hashed-TF cosine with NO embedding model anywhere:
# query docs (md5-bucket sample standing in for an external query set)
# join the corpus long-form vectors on `dim`, and cosine comes from
# INTEGER sufficient statistics — dot = SUM(tf_q * tf_c) is an exact
# bigint sum (order-free, unlike a float dot), divided once by the two
# exact-integer-derived norms; the only float ops are two sqrts, one
# multiply, one divide, fixed IEEE shape in both engines. Top-3 per query
# via row_number with a doc_id tie-break.
#
# sample_scale=True: the md5-sampled query set grows with the corpus, so
# the synthetic cost is ~N^2/50; a production query set is constant-size,
# making this one linear corpus pass per query batch.
KNN_QUERY_BUCKETS = 50  # ~2% of docs stand in for the query set
KNN_TOP_K = 3

_SQL_HASHED_KNN = f"""
    WITH tf AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
               % {FEATURE_HASH_DIMS} AS dim,
             COUNT(*) AS tf
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  w -> len(w) > 0)) AS tok
        FROM documents
      ) GROUP BY 1, 2
    ),
    ss AS (
      SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS ss FROM tf GROUP BY 1
    ),
    q AS (
      SELECT * FROM tf
      WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % {KNN_QUERY_BUCKETS} = 0
    ),
    dots AS (
      SELECT q.doc_id AS query_doc, tf.doc_id AS doc_id,
             CAST(SUM(q.tf * tf.tf) AS BIGINT) AS dot
      FROM q JOIN tf ON q.dim = tf.dim AND q.doc_id <> tf.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT dots.query_doc AS query_doc, dots.doc_id AS doc_id,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(sq.ss AS DOUBLE)) * sqrt(CAST(sc.ss AS DOUBLE)))
               AS cosine
      FROM dots
      JOIN ss sq ON sq.doc_id = dots.query_doc
      JOIN ss sc ON sc.doc_id = dots.doc_id
    )
    SELECT query_doc, doc_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_doc ORDER BY cosine DESC, doc_id
      ) AS rnk FROM scored
    ) WHERE rnk <= {KNN_TOP_K}
"""


@register("sim_hashed_text_knn", oracle=_SQL_HASHED_KNN, sample_scale=True)
def sim_hashed_text_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 hashed-cosine neighbors per sampled query doc: the hashing
    trick end-to-end (vectorize -> sparse dim-join -> integer-exact dot ->
    windowed top-k), zero trained state. The query side is broadcast (a
    query batch is small by definition); the corpus long-form rows stream
    through one dim-join and the per-pair aggregate."""
    from pyspark.sql import Window

    from psql_streamer_spark.operators.mlprep import md5_bucket

    tf = text_feature_hashing(spark, sf_dir).select("doc_id", "dim", "tf")
    ss = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("ss")
    )
    q = tf.filter(md5_bucket(F.col("doc_id"), KNN_QUERY_BUCKETS) == 0).select(
        F.col("doc_id").alias("query_doc"),
        F.col("dim").alias("qdim"),
        F.col("tf").alias("qtf"),
    )
    dots = (
        F.broadcast(q)
        .join(tf, (F.col("qdim") == F.col("dim")) & (F.col("query_doc") != F.col("doc_id")))
        .groupBy("query_doc", "doc_id")
        .agg(F.sum(F.col("qtf") * F.col("tf")).cast("bigint").alias("dot"))
    )
    sq = ss.select(F.col("doc_id").alias("query_doc"), F.col("ss").alias("qss"))
    sc = ss.select("doc_id", F.col("ss").alias("css"))
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("qss").cast("double")) * F.sqrt(F.col("css").cast("double"))
    )
    scored = (
        dots.join(F.broadcast(sq), "query_doc")
        .join(sc, "doc_id")
        .select("query_doc", "doc_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("query_doc").orderBy(
        F.col("cosine").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_TOP_K)
        .select("query_doc", "doc_id", "cosine", "rnk")
    )


# --------------------------------------------------------------------------
# Model-based quality scoring: a logistic classifier over the hashed
# feature space, trained to predict the heuristic passes_quality label —
# the loop-closer between text_feature_hashing and the rule gates
# (distill rules into a model, then score corpora the rules were never
# tuned on). Training is k-means-style driver-held state: per iteration
# ONE map-side-combined gradient aggregate over the feature table, a
# 66-value collect, and an integer weight update on the driver — cost is
# O(iters * |corpus features|) with nothing ever materialized per-doc on
# the driver.
#
# Determinism contract (why this is hash-checkable): no transcendentals
# and no float accumulation anywhere —
#   - features are exact integers: x = (tf << 8) // n_tokens plus a
#     capped length dim and a constant bias dim;
#   - the margin z is an exact int64 dot (sum of w*x), floated only by an
#     exact power-of-two division;
#   - the sigmoid is the RATIONAL surrogate p = 0.5 + (z/2)/(1+|z|) —
#     only correctly-rounded IEEE ops (+,*,/,abs), bit-identical across
#     engines, unlike exp() whose libm vs JVM rounding differs;
#   - residuals are re-quantized (floor to 2^-24) before the gradient
#     sum, so gradients are exact order-free int64 sums;
#   - updates use floor division by a power-of-two-shifted denominator
#     (the lr schedule), exact on both sides.
# Class imbalance (~90% positive here) is handled by weighting residuals
# with nneg/N vs npos/N (deterministic doubles) BEFORE quantization, so
# |rq| <= 2^24 regardless of corpus size — no int64 overflow at any sf.
# --------------------------------------------------------------------------
QM_ITERS = 16
QM_SCALE = 1 << 24   # residual/weight fixed-point scale
QM_FS = 1 << 8       # feature fixed-point scale
QM_SHIFT_BASE = 2    # lr = 2^-(base + it // decay): step decay beats
QM_SHIFT_DECAY = 8   # oscillation (measured: bal-acc 0.893 vs 0.779)
QM_LEN_CAP = 256
QM_DIMS = FEATURE_HASH_DIMS + 2  # + length dim + bias dim

_SQL_QM_LABEL = f"""
      SELECT doc_id,
             CASE WHEN len(ws) BETWEEN 20 AND 1000
                   AND len(list_distinct(ws)) * 1.0 / len(ws) > 0.3
                  THEN 1 ELSE 0 END AS y
      FROM (SELECT doc_id, {SQL_WORDS.format(t='text')} AS ws FROM documents)
"""


def _sql_fdiv(a: str, m: str) -> str:
    """Floor division for possibly-negative a, positive m — Python's //.
    DuckDB's % keeps the dividend's sign, so normalize the remainder
    first; the adjusted numerator divides exactly."""
    return f"(({a}) - (((({a}) % ({m})) + ({m})) % ({m}))) // ({m})"


_SQL_QM_Z = "(zint / 4294967296.0)"  # / (QM_SCALE * QM_FS), exact
_SQL_QM_P = f"(0.5 + (({_SQL_QM_Z} / 2) / (1 + abs({_SQL_QM_Z}))))"

_SQL_QM_TRAINED = f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             unnest({SQL_WORDS.format(t='text')}) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
               % {FEATURE_HASH_DIMS} AS dim,
             COUNT(*) AS tf
      FROM toks GROUP BY 1, 2
    ),
    ntok AS (SELECT doc_id, COUNT(*) AS nt FROM toks GROUP BY doc_id),
    lab AS ({_SQL_QM_LABEL}),
    feats AS (
      SELECT t.doc_id, t.dim::INT AS dim, (t.tf * {QM_FS}) // n.nt AS x, l.y
      FROM tf t JOIN ntok n USING (doc_id) JOIN lab l USING (doc_id)
      UNION ALL
      SELECT l.doc_id, {FEATURE_HASH_DIMS}, LEAST(COALESCE(n.nt, 0), {QM_LEN_CAP}), l.y
      FROM lab l LEFT JOIN ntok n USING (doc_id)
      UNION ALL
      SELECT l.doc_id, {FEATURE_HASH_DIMS + 1}, {QM_FS}, l.y FROM lab l
    ),
    stats AS (
      SELECT COUNT(*) AS n, SUM(y)::BIGINT AS npos,
             (COUNT(*) - SUM(y))::BIGINT AS nneg
      FROM lab
    ),
    model(it, dim, w) AS (
      SELECT 0, unnest(range(0, {QM_DIMS}))::INT, 0::BIGINT
      UNION ALL
      (
        WITH cur AS (SELECT * FROM model WHERE it < {QM_ITERS}),
        zd AS (
          SELECT f.doc_id, f.y, SUM(c.w * f.x)::BIGINT AS zint
          FROM feats f JOIN cur c ON c.dim = f.dim
          GROUP BY f.doc_id, f.y
        ),
        rq AS (
          SELECT doc_id,
                 FLOOR((({_SQL_QM_P} - y)
                        * (CASE WHEN y = 1 THEN s.nneg * 1.0 / s.n
                                ELSE s.npos * 1.0 / s.n END))
                       * {QM_SCALE})::BIGINT AS rq
          FROM zd, stats s
        ),
        grads AS (
          SELECT f.dim, SUM(r.rq * f.x)::BIGINT AS g
          FROM feats f JOIN rq r USING (doc_id)
          GROUP BY f.dim
        )
        SELECT c.it + 1, c.dim,
               c.w - {_sql_fdiv(
                 "COALESCE(g.g, 0)",
                 f"(GREATEST(1, (2 * s.npos * s.nneg) // s.n)"
                 f" << ({QM_SHIFT_BASE} + c.it // {QM_SHIFT_DECAY}))"
                 f" * {QM_FS}")}
        FROM cur c
        LEFT JOIN (SELECT * FROM grads) g ON g.dim = c.dim, stats s
      )
    ),
    final AS (SELECT dim, w FROM model WHERE it = {QM_ITERS}),
    scorez AS (
      SELECT f.doc_id, f.y, SUM(w.w * f.x)::BIGINT AS zint
      FROM feats f JOIN final w USING (dim)
      GROUP BY f.doc_id, f.y
    )
"""

_SQL_QUALITY_MODEL = _SQL_QM_TRAINED + f"""
    SELECT doc_id, y AS label,
           {_SQL_QM_P} AS score,
           ({_SQL_QM_P} >= 0.5) AS predicted,
           (({_SQL_QM_P} >= 0.5) = (y = 1)) AS correct
    FROM scorez
"""


def _qm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dim, x, y) for the corpus documents table."""
    return _qm_features_from(load_table(spark, "documents", sf_dir))


def _qm_features_from(docs: DataFrame) -> DataFrame:
    """(doc_id, dim, x, y): exact-integer features — normalized hashed TF
    dims, capped-length dim, constant bias dim — plus the heuristic
    label. Takes any (doc_id, text) frame so the streaming ingest gate
    scores micro-batches with the identical featurization."""
    from psql_streamer_spark.operators.mlprep import md5_bucket

    d = with_words(docs)
    ws = F.col("__words")
    n_tokens = F.size(ws)
    unique_ratio = F.size(F.array_distinct(ws)) * F.lit(1.0) / n_tokens
    lab = d.select(
        "doc_id",
        F.when(n_tokens.between(20, 1000) & (unique_ratio > 0.3), 1)
        .otherwise(0)
        .alias("y"),
        n_tokens.alias("nt"),
    )
    toks = d.select("doc_id", F.explode(ws).alias("tok"))
    tf = toks.groupBy(
        "doc_id", md5_bucket(F.col("tok"), FEATURE_HASH_DIMS).alias("dim")
    ).agg(F.count("*").alias("tf"))
    tf_feats = tf.join(lab, "doc_id").select(
        "doc_id",
        F.col("dim").cast("int").alias("dim"),
        # integer DIV, never float-divide-then-truncate: tf and nt are
        # positive so this is the exact floor the oracle's // computes
        F.expr(f"(tf * {QM_FS}) DIV nt").cast("bigint").alias("x"),
        "y",
    )
    len_feats = lab.select(
        "doc_id",
        F.lit(FEATURE_HASH_DIMS).alias("dim"),
        # COALESCE first: a NULL text (malformed ingest record) has
        # size(NULL-words) = NULL, and the oracle's LEAST(COALESCE(nt,0),
        # cap) scores it as length 0 — a NULL x here would NULL the whole
        # margin instead
        F.least(F.coalesce(F.col("nt"), F.lit(0)), F.lit(QM_LEN_CAP))
        .cast("bigint")
        .alias("x"),
        "y",
    )
    bias_feats = lab.select(
        "doc_id",
        F.lit(FEATURE_HASH_DIMS + 1).alias("dim"),
        F.lit(QM_FS).cast("bigint").alias("x"),
        "y",
    )
    return tf_feats.unionByName(len_feats).unionByName(bias_feats)


def _qm_p(zint: Column) -> Column:
    """The rational sigmoid surrogate, in the oracle's exact op order."""
    z = zint / F.lit(float(QM_SCALE * QM_FS))
    return F.lit(0.5) + (z / F.lit(2.0)) / (F.lit(1.0) + F.abs(z))


_QM_MODEL: dict = {}  # (app, corpus) -> (weights, feats) — same memo as _BPE_MODEL


def _qm_train(spark: SparkSession, sf_dir: str):
    """Returns (weights list[QM_DIMS], feats DataFrame persisted)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _QM_MODEL.get(key)
    if hit is not None:
        return hit
    feats = _qm_features(spark, sf_dir).coalesce(8).localCheckpoint(eager=True)
    s = feats.filter(F.col("dim") == FEATURE_HASH_DIMS + 1).agg(
        F.count("*").alias("n"), F.sum("y").alias("npos")
    ).head()
    if s is None or not s.n:
        # empty corpus (empty ingest day / filter eliminated everything):
        # nothing to fit — the zero model scores nothing, gracefully
        w = [0] * QM_DIMS
        _QM_MODEL[key] = (w, feats)
        return w, feats
    n, npos = s.n, int(s.npos)
    nneg = n - npos
    if npos == 0 or nneg == 0:
        # single-class corpus: the class-weighted residual is 0 for every
        # doc (cwf = 0), so training is a fixed point at w = 0 — skip the
        # iterations rather than divide by a zero weight mass
        w = [0] * QM_DIMS
        _QM_MODEL[key] = (w, feats)
        return w, feats
    cwf_pos, cwf_neg = nneg / n, npos / n
    wsum = max(1, (2 * npos * nneg) // n)
    w = [0] * QM_DIMS
    for it in range(QM_ITERS):
        w_df = spark.createDataFrame(
            [(d, w[d]) for d in range(QM_DIMS)], "dim int, w long"
        )
        zd = (
            feats.join(F.broadcast(w_df), "dim")
            .groupBy("doc_id", "y")
            .agg(F.sum(F.col("w") * F.col("x")).alias("zint"))
        )
        cwf = F.when(F.col("y") == 1, F.lit(cwf_pos)).otherwise(F.lit(cwf_neg))
        rq = zd.select(
            "doc_id",
            F.floor(
                ((_qm_p(F.col("zint")) - F.col("y")) * cwf) * F.lit(QM_SCALE)
            )
            .cast("bigint")
            .alias("rq"),
        )
        grads = {
            r.dim: r.g
            for r in feats.join(rq, "doc_id")
            .groupBy("dim")
            .agg(F.sum(F.col("rq") * F.col("x")).alias("g"))
            .collect()
        }
        denom = (wsum << (QM_SHIFT_BASE + it // QM_SHIFT_DECAY)) * QM_FS
        for d in range(QM_DIMS):
            w[d] -= grads.get(d, 0) // denom
    _QM_MODEL[key] = (w, feats)
    return w, feats


@register("text_quality_model_scores", oracle=_SQL_QUALITY_MODEL)
def text_quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide scores under the trained quality model: per doc the
    heuristic label, the model score, the model verdict, and whether they
    agree (so every run measures its own accuracy in-artifact — 0.96
    accuracy / 0.89 balanced accuracy at sf0.01 vs the 0.90 majority
    baseline). Scoring is one broadcast join of the 66-row weight table
    against the feature stream + one per-doc aggregate — at 100 TB the
    model rides in the closure and scoring runs at feature-build speed."""
    w, feats = _qm_train(spark, sf_dir)
    # feats is owned by the _QM_MODEL session memo (one bounded entry per
    # corpus) — do NOT persist_for-release it: its lineage is truncated by
    # localCheckpoint, so dropping the blocks would break re-invocations.
    return qm_score_features(spark, feats, w)


def qm_score_features(
    spark: SparkSession, feats: DataFrame, w: list[int]
) -> DataFrame:
    """Score a (doc_id, dim, x, y) feature frame under weights ``w``: the
    broadcast 66-row model join + one per-doc aggregate. Shared by the
    corpus query and the streaming ingest gate — identical expressions,
    so their verdicts are bit-equal on the same documents."""
    w_df = spark.createDataFrame(
        [(d, w[d]) for d in range(QM_DIMS)], "dim int, w long"
    )
    zd = (
        feats.join(F.broadcast(w_df), "dim")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.col("w") * F.col("x")).alias("zint"))
    )
    p = _qm_p(F.col("zint"))
    return zd.select(
        "doc_id",
        F.col("y").alias("label"),
        p.alias("score"),
        (p >= F.lit(0.5)).alias("predicted"),
        ((p >= F.lit(0.5)) == (F.col("y") == 1)).alias("correct"),
    )


# --------------------------------------------------------------------------
# Tokenizer evaluation: per-source compression under the trained BPE model
# — the fertility report every tokenizer change ships with (tokens/word
# and chars/token by domain; a source whose fertility spikes is one the
# vocabulary underserves, the signal for retraining or up-weighting).
# --------------------------------------------------------------------------
@register(
    "text_bpe_compression_report",
    oracle=_SQL_BPE_TRAIN
    + f"""
    , bpe_final AS (
      SELECT word, len(pieces) AS n_pieces
      FROM bpe
      WHERE kind = 'w' AND it = (SELECT MAX(it) FROM bpe WHERE kind = 'w')
    ),
    dw AS (
      SELECT doc_id, source,
             unnest({SQL_WORDS.format(t='text')}) AS w
      FROM documents
    )
    SELECT d.source,
           COUNT(DISTINCT d.doc_id) AS n_docs,
           COUNT(*) AS n_words,
           CAST(SUM(f.n_pieces) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(len(d.w)) AS BIGINT) AS n_word_chars,
           CAST(SUM(f.n_pieces) AS BIGINT) * 1.0 / COUNT(*)
             AS tokens_per_word,
           CAST(SUM(len(d.w)) AS BIGINT) * 1.0
             / CAST(SUM(f.n_pieces) AS BIGINT) AS chars_per_token
    FROM dw d JOIN bpe_final f ON d.w = f.word
    GROUP BY d.source
    """,
)
def text_bpe_compression_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source fertility of the trained tokenizer: docs, words, BPE
    tokens, word chars, tokens/word, chars/token. Same broadcast-join
    shape as the encoder — one corpus scan, one small aggregate; integer
    sufficient statistics with two final float divisions."""
    _, words = _bpe_train(spark, sf_dir)
    vocab = words.select("word", F.size("pieces").alias("n_pieces"))
    d = with_words(load_table(spark, "documents", sf_dir))
    dw = d.select("doc_id", "source", F.explode("__words").alias("w"))
    return (
        dw.join(F.broadcast(vocab), dw.w == vocab.word)
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_bpe_tokens"),
            F.sum(F.length("w")).cast("bigint").alias("n_word_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            "n_word_chars",
            (F.col("n_bpe_tokens") * F.lit(1.0) / F.col("n_words")).alias(
                "tokens_per_word"
            ),
            (
                F.col("n_word_chars") * F.lit(1.0) / F.col("n_bpe_tokens")
            ).alias("chars_per_token"),
        )
    )


# --------------------------------------------------------------------------
# Quality-model calibration: decile reliability table. A classifier whose
# score means nothing beyond its threshold cannot drive a soft curation
# policy (sampling weights by score, review-queue ordering); the decile
# bins make monotonicity and sharpness measurable in-artifact. min/max
# per bin instead of mean: exact order-free statistics, no float-sum
# ordering to replay.
# --------------------------------------------------------------------------
@register(
    "text_quality_model_calibration",
    oracle=_SQL_QM_TRAINED
    + f"""
    SELECT LEAST(CAST(FLOOR({_SQL_QM_P} * 10) AS INT), 9) AS score_decile,
           COUNT(*) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_positive,
           CAST(SUM(y) AS BIGINT) * 1.0 / COUNT(*) AS positive_rate,
           MIN({_SQL_QM_P}) AS min_score,
           MAX({_SQL_QM_P}) AS max_score
    FROM scorez
    GROUP BY 1
    """,
)
def text_quality_model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-by-decile for the trained quality model: per score
    decile the doc count, true-label positive rate, and exact score
    bounds. One reaggregation of the scoring frame."""
    w, feats = _qm_train(spark, sf_dir)
    scored = qm_score_features(spark, feats, w)
    decile = F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9))
    return (
        scored.groupBy(decile.alias("score_decile"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("label").cast("bigint").alias("n_positive"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .select(
            "score_decile",
            "n_docs",
            "n_positive",
            (F.col("n_positive") * F.lit(1.0) / F.col("n_docs")).alias(
                "positive_rate"
            ),
            "min_score",
            "max_score",
        )
    )


# --------------------------------------------------------------------------
# Vocab-capped BPE + OOV fallback: the production shape. A 100 TB corpus
# has an unbounded word tail; training state must be bounded, so the
# model trains on the top-BPE_VOCAB_CAP words and everything below the
# cut encodes through the rank-ordered merge fold (bpe_encode_pieces_udf,
# the Arrow path) — which this query makes ORACLE-VERIFIED: the DuckDB
# twin replays the capped training AND the per-rank OOV fold as a second
# recursion over merge ranks, so the UDF's encode semantics are pinned by
# hash, not just by pytest.
# --------------------------------------------------------------------------
BPE_VOCAB_CAP = 16  # at corpus scale: 32k-128k; here half the 31-word vocab

_SQL_BPE_OOV = (
    f"\n    WITH RECURSIVE bpe_vocab AS ({_sql_bpe_vocab(BPE_VOCAB_CAP)}),\n"
    + _SQL_BPE_BODY
    + f"""
    , bpe_final AS (
      SELECT word, len(pieces) AS n_pieces
      FROM bpe
      WHERE kind = 'w' AND it = (SELECT MAX(it) FROM bpe WHERE kind = 'w')
    ),
    merges AS (SELECT it AS rank, lft, rgt FROM bpe WHERE kind = 'm'),
    dw AS (
      SELECT doc_id, unnest({SQL_WORDS.format(t='text')}) AS w FROM documents
    ),
    oov_words AS (
      SELECT DISTINCT w FROM dw
      WHERE w NOT IN (SELECT word FROM bpe_final)
    ),
    oov(rank, w, pieces) AS (
      SELECT 0, w, string_split(w, '') FROM oov_words
      UNION ALL
      (
        WITH cur AS (SELECT * FROM oov WHERE rank < {BPE_N_MERGES})
        SELECT c.rank + 1, c.w,
               CASE WHEN m.lft IS NULL THEN c.pieces
                    ELSE list_reduce(list_transform(c.pieces, p -> [p]),
                      (acc, x) -> CASE WHEN acc[-1] = m.lft AND x[1] = m.rgt
                                       THEN list_append(array_pop_back(acc),
                                                        m.lft || m.rgt)
                                       ELSE list_concat(acc, x) END)
               END
        FROM cur c LEFT JOIN merges m ON m.rank = c.rank + 1
      )
    ),
    oov_final AS (
      SELECT w, len(pieces) AS n_pieces FROM oov WHERE rank = {BPE_N_MERGES}
    ),
    encoded AS (
      SELECT d.doc_id, d.w,
             f.n_pieces AS iv_pieces,
             o.n_pieces AS oov_pieces
      FROM dw d
      LEFT JOIN bpe_final f ON d.w = f.word
      LEFT JOIN oov_final o ON d.w = o.w
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           COUNT(iv_pieces) AS n_invocab_words,
           COUNT(*) - COUNT(iv_pieces) AS n_oov_words,
           CAST(SUM(COALESCE(iv_pieces, oov_pieces)) AS BIGINT)
             AS n_bpe_tokens
    FROM encoded GROUP BY doc_id
"""
)


@register("text_bpe_encode_oov_fallback", oracle=_SQL_BPE_OOV)
def text_bpe_encode_oov_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts under a vocab-capped model: in-vocab words
    take the broadcast segmentation join; OOV words run the REAL frozen
    encoder (bpe_encode_pieces_udf) over the distinct-OOV dictionary —
    one Arrow batch per distinct word, never per occurrence — and
    broadcast back. At 100 TB this is the whole encode plan: a bounded
    model, two broadcast joins, zero corpus-side Python except the
    distinct OOV dictionary."""
    merges, words = _bpe_train(spark, sf_dir, vocab_cap=BPE_VOCAB_CAP)
    vocab = words.select("word", F.size("pieces").alias("iv_pieces"))
    d = with_words(load_table(spark, "documents", sf_dir))
    dw = d.select("doc_id", F.explode("__words").alias("w"))
    joined = dw.join(F.broadcast(vocab), dw.w == vocab.word, "left").select(
        "doc_id", "w", "iv_pieces"
    )
    enc = bpe_encode_pieces_udf(merges)
    oov_sizes = (
        joined.filter(F.col("iv_pieces").isNull())
        .select("w")
        .distinct()
        .select(F.col("w").alias("ow"), F.size(enc("w")).alias("oov_pieces"))
    )
    encoded = joined.join(
        F.broadcast(oov_sizes), joined.w == oov_sizes.ow, "left"
    )
    return encoded.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.count("iv_pieces").alias("n_invocab_words"),
        (F.count("*") - F.count("iv_pieces")).alias("n_oov_words"),
        F.sum(F.coalesce("iv_pieces", "oov_pieces"))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


# --------------------------------------------------------------------------
# Quality-weighted sampling: the soft curation policy the calibration
# report justifies. Hard gates (passes_quality) throw away everything
# below the bar; score-proportional sampling keeps each document with
# probability equal to its model score — down-weighting dubious text
# instead of zeroing it (the standard data-mixing move once a quality
# classifier exists; cf. the sqrt-temperature source mixing in
# mlprep_source_mixture_weights). Determinism: the coin is
# md5_bucket(doc_id, 1000) — hash-uniform, stable across engines, runs,
# retries — compared against floor(score * 1000), so the SAME documents
# are kept everywhere; there is no rand() anywhere.
# --------------------------------------------------------------------------
QSAMPLE_BUCKETS = 1000


@register(
    "mlprep_sample_by_quality",
    oracle=_SQL_QM_TRAINED
    + f"""
    SELECT doc_id, y AS label,
           {_SQL_QM_P} AS score,
           (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % {QSAMPLE_BUCKETS}
            < FLOOR({_SQL_QM_P} * {QSAMPLE_BUCKETS})) AS sampled
    FROM scorez
    """,
)
def mlprep_sample_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: model score and the deterministic keep/drop coin — kept
    with probability ~score (exact up to the 1/{QSAMPLE_BUCKETS}
    quantization). One broadcast model join + a hash expression: at
    100 TB this samples at scan speed with zero shuffle beyond the
    scoring aggregate, and a re-run (or a second engine) keeps the
    identical document set."""
    from psql_streamer_spark.operators.mlprep import md5_bucket

    w, feats = _qm_train(spark, sf_dir)
    scored = qm_score_features(spark, feats, w)
    coin = md5_bucket(F.col("doc_id"), QSAMPLE_BUCKETS)
    thresh = F.floor(F.col("score") * QSAMPLE_BUCKETS)
    return scored.select(
        "doc_id",
        "label",
        "score",
        (coin < thresh).alias("sampled"),
    )


# --------------------------------------------------------------------------
# Bigram-LM surprisal: the trained-language-model upgrade of the unigram
# gate above. CCNet scores documents with a 5-gram KenLM; the registered
# integer-exact form here is the exact chain rule in WHOLE BITS over a
# bigram model fit on the corpus itself:
#   bits(doc) = bits(w1) + sum_i bits(w_{i+1} | w_i)
#   bits(w1)        = floor(log2(N / cf(w1)))        (unigram start)
#   bits(w2 | w1)   = floor(log2(cf(w1) / cf(w1,w2)))(conditional)
# — every quantity is a corpus count, every log2 is bitlength(a div b)-1
# (exact; see the unigram banner), and self-scoring needs no smoothing
# because every observed bigram has cf >= 1. Low avg bits = text the
# corpus LM predicts well (boilerplate, templates); high = novel or noisy
# sequences — a sharper signal than unigram surprisal, which cannot see
# word ORDER at all (a shuffled document keeps its unigram score but its
# bigram score explodes; pinned in tests).
# --------------------------------------------------------------------------
_SQL_BIGRAM_PAIRS = (
    "list_transform(range(1, len(ws)), i -> {'w1': ws[i], 'w2': ws[i+1]})"
)

_SQL_BIGRAM_SURPRISAL = f"""
    WITH base AS (
      SELECT doc_id, {SQL_WORDS.format(t='text')} AS ws FROM documents
    ),
    tok AS (SELECT doc_id, unnest(ws) AS w FROM base),
    freq1 AS (SELECT w, COUNT(*) AS cf FROM tok GROUP BY w),
    tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS n_total FROM freq1),
    pairs AS (
      SELECT doc_id, s.w1 AS w1, s.w2 AS w2
      FROM (SELECT doc_id, unnest({_SQL_BIGRAM_PAIRS}) AS s
            FROM base WHERE len(ws) >= 2)
    ),
    freq2 AS (SELECT w1, w2, COUNT(*) AS cf2 FROM pairs GROUP BY w1, w2),
    cond AS (
      SELECT p.doc_id,
             CAST(SUM(LENGTH(BIN(f1.cf // f2.cf2)) - 1) AS BIGINT) AS cbits
      FROM pairs p
      JOIN freq2 f2 USING (w1, w2)
      JOIN freq1 f1 ON f1.w = p.w1
      GROUP BY p.doc_id
    ),
    head AS (
      SELECT b.doc_id, CAST(len(b.ws) AS BIGINT) AS n_tokens,
             CAST(LENGTH(BIN(t.n_total // f1.cf)) - 1 AS BIGINT) AS hbits
      FROM base b JOIN freq1 f1 ON f1.w = b.ws[1] CROSS JOIN tot t
      WHERE len(b.ws) >= 1
    )
    SELECT h.doc_id,
           h.n_tokens,
           h.hbits + COALESCE(c.cbits, 0) AS total_bits,
           (h.hbits + COALESCE(c.cbits, 0)) * 100 // h.n_tokens
             AS avg_centibits
    FROM head h LEFT JOIN cond c USING (doc_id)
"""


@register("text_bigram_surprisal", oracle=_SQL_BIGRAM_SURPRISAL)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc chain-rule bigram-LM surprisal (whole bits) + centibit
    average. Scale shape: two count tables — unigram (Heaps-bounded) and
    bigram (bounded by distinct observed pairs, far below vocab²) — then
    one join per token pair, all map-side-combinable aggregates; the
    model IS the count tables, so 'training' is the same one corpus pass
    every freq-based gate here pays."""
    d = with_words(load_table(spark, "documents", sf_dir))
    base = d.select("doc_id", F.col("__words").alias("ws")).filter(
        F.size("ws") >= 1
    )
    tok = base.select("doc_id", F.explode("ws").alias("w"))
    freq1 = tok.groupBy("w").agg(F.count("*").alias("cf"))
    tot = freq1.agg(F.sum("cf").cast("bigint").alias("n_total"))
    pairs = (
        base.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws)-1), i -> "
                    "struct(element_at(ws, i) AS w1, "
                    "element_at(ws, i+1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    freq2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("cf2"))
    cbits = F.length(F.bin(F.expr("cf div cf2"))) - F.lit(1)
    cond = (
        pairs.join(freq2, ["w1", "w2"])
        .join(freq1.select(F.col("w").alias("w1"), "cf"), "w1")
        .groupBy("doc_id")
        .agg(F.sum(cbits).cast("bigint").alias("cbits"))
    )
    hbits = F.length(F.bin(F.expr("n_total div cf"))) - F.lit(1)
    head = (
        base.select("doc_id", F.size("ws").alias("n_tokens"),
                    F.element_at("ws", 1).alias("w"))
        .join(freq1, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            hbits.cast("bigint").alias("hbits"),
        )
    )
    total = F.col("hbits") + F.coalesce(F.col("cbits"), F.lit(0))
    return (
        head.join(cond, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            total.alias("total_bits"),
            F.expr(
                "(hbits + coalesce(cbits, 0)) * 100 div n_tokens"
            ).alias("avg_centibits"),
        )
    )
