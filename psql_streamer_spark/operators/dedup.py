"""Deduplication suite: exact, fingerprint, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine near-dup.

North-star operators for a training-data pipeline (BASELINE.json). All are
pure DataFrame compositions — the hashing lives in functions/text_hash.py
and is replayed exactly by each query's DuckDB oracle.

Scale design (100 TB):
- exact/fingerprint dedup: one hash-aggregate on the normalized key —
  map-side combined, no row explosion.
- n-gram Jaccard is quadratic in docs-per-shared-shingle; it exists as the
  ground-truth verifier. The scale path is MinHash+LSH: candidates only
  materialize for band-key collisions (sub-quadratic), then the exact
  Jaccard join runs on the (tiny) candidate set.
- band-key self-joins shuffle on the band key, never on doc pairs; hot
  band keys (boilerplate shingles) are the skew risk — AQE skew-join
  handles moderate skew, stopword-shingle filtering is the structural fix.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psql_streamer_spark.functions.text_hash import (
    MINHASH_COEFFS,
    MINHASH_P,
    band_key_exprs,
    doc_shingles,
    h32,
    minhash_agg_columns,
    shingles_expr,
    with_words,
    words_expr,
    simhash_bit_sums,
    simhash_combine,
    sql_band_keys,
    sql_doc_shingles,
    sql_minhash_aggs,
    sql_simhash_bit_sums,
    sql_simhash_combine,
    h32b,
    simhash64_bit_sums,
    simhash64_halves,
    sql_simhash64_bit_sums,
    sql_simhash64_halves,
    SQL_H32,
    SQL_H32B,
    SQL_WORDS,
)
from psql_streamer_spark.caching import INDEX_CACHE, persist_for, warehouse_table
from psql_streamer_spark.registry import register
from psql_streamer_spark.sources.tables import load_table

JACCARD_THRESHOLD = 0.8


# --------------------------------------------------------------------------
# Exact dedup: group on the full text.
# --------------------------------------------------------------------------
@register(
    "dedup_exact_text",
    oracle="""
    SELECT text, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy("text").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("n_copies"),
    )


# --------------------------------------------------------------------------
# Fingerprint dedup: md5 of normalized text; each row tagged with its
# group's canonical id (keep-first semantics without dropping rows).
# --------------------------------------------------------------------------
@register(
    "dedup_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(concat_ws(' ', lower(text))) AS fingerprint,
           MIN(doc_id) OVER (PARTITION BY md5(concat_ws(' ', lower(text))))
             AS canonical_doc_id
    FROM documents
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    fp = F.md5(F.concat_ws(" ", F.lower(F.col("text"))))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.min("doc_id").over(W.partitionBy(fp)).alias("canonical_doc_id"),
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (ground truth for near-dup).
# --------------------------------------------------------------------------
_SQL_SHINGLE_CTE = f"sh AS ({sql_doc_shingles()})"

_SQL_JACCARD_PAIRS = f"""
    WITH {_SQL_SHINGLE_CTE},
    cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           n_common * 1.0 / (ca.c + cb.c - n_common) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE n_common * 1.0 / (ca.c + cb.c - n_common) >= {JACCARD_THRESHOLD}
"""


def _jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
    shingle_sets: DataFrame | None = None,
    threshold: float | None = JACCARD_THRESHOLD,
) -> DataFrame:
    """Exact 3-gram Jaccard via inverted-index self-join; optionally
    restricted to an LSH candidate set (the scale path).

    With candidates, the pair-intersection join is DRIVEN by the candidate
    set (candidates ⋈ shingles_a ⋈ shingles_b) so the quadratic co-shingle
    blowup never materializes — a post-aggregation semi-join would still
    pay the full O(pairs-per-shingle) cost first.

    ``shingles``: an already-persisted (doc_id, shingle) frame to reuse
    when the caller has other passes over the same index (incremental
    delta mining, containment). The caller owns that cache's lifetime.

    Without it, a candidate-driven call never builds an inverted index at
    all: only the candidate docs are shingled (the doc_id semi-join lands
    BEFORE the shingling), each doc keeps its shingle SET as an array, and
    Jaccard is size(array_intersect)/union over two plain joins — no
    explode, no per-shingle shuffle, and verify cost scales with
    |candidates| (the near-dup population), not |corpus|. At 100 TB the
    corpus explode would dwarf the verification itself. ``candidates`` is
    evaluated twice here (ids + both joins); callers pass a persisted
    frame.

    ``shingle_sets``: an already-persisted (doc_id, ss: array<string>)
    per-doc distinct-shingle frame (the one-tokenize-pass index). When
    given, the candidate-driven verify semi-joins INTO the cached arrays
    instead of re-scanning and re-tokenizing the documents table — the
    verify becomes pure cache probes + two small joins."""
    caller_owns_shingles = shingles is not None
    if not caller_owns_shingles and candidates is not None:
        from psql_streamer_spark.functions.text_hash import (  # noqa: F401
            shingles_expr,
            with_words,
        )

        ids = candidates.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
        if shingle_sets is not None:
            sets = shingle_sets.join(ids, "doc_id", "semi")
        else:
            docs = load_table(spark, "documents", sf_dir).join(ids, "doc_id", "semi")
            sets = with_words(docs).select(
                "doc_id",
                F.array_distinct(shingles_expr(F.col("__words"))).alias("ss"),
            )
        n_common = F.size(F.array_intersect("a_ss", "b_ss"))
        jac = n_common * 1.0 / (F.size("a_ss") + F.size("b_ss") - n_common)
        out = (
            candidates.join(
                sets.select(F.col("doc_id").alias("doc_a"),
                            F.col("ss").alias("a_ss")),
                "doc_a",
            )
            .join(
                sets.select(F.col("doc_id").alias("doc_b"),
                            F.col("ss").alias("b_ss")),
                "doc_b",
            )
            .select("doc_a", "doc_b", jac.alias("jaccard"))
        )
        if threshold is not None:
            out = out.filter(F.col("jaccard") >= threshold)
        return out
    # the inverted index feeds three plan branches (counts + both join
    # sides) — persist it rather than re-exploding each time; released
    # via persist_for when the caller drops the result
    sh = (
        shingles
        if caller_owns_shingles
        else doc_shingles(load_table(spark, "documents", sf_dir)).persist()
    )
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("c"))
    if candidates is None:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count("*").alias("n_common"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            candidates.join(a, F.col("doc_a") == F.col("a.doc_id"))
            .join(
                b,
                (F.col("doc_b") == F.col("b.doc_id"))
                & (F.col("a.shingle") == F.col("b.shingle")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    jac = F.col("n_common") * 1.0 / (F.col("ca.c") + F.col("cb.c") - F.col("n_common"))
    result = (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )
    if threshold is not None:
        result = result.filter(F.col("jaccard") >= threshold)
    return result if caller_owns_shingles else persist_for(sh, result)


@register("dedup_ngram_jaccard_pairs", oracle=_SQL_JACCARD_PAIRS, sample_scale=True)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUND-TRUTH tier: exact pairwise Jaccard via the full
    inverted-index self-join — O(sum df^2) candidates, quadratic in any
    shingle's document frequency. Its sibling containment miner (same
    postings-join shape) measurably exhausted 66 GB of spill disk at
    sf30 (r7), so from sf10 up both sit with the other declared
    ground-truth tiers: verifiers for samples, not corpus-wide passes.
    The production path for symmetric near-dups is
    `dedup_minhash_lsh_pairs` — banded LSH candidates, then this exact
    Jaccard as a candidate-driven verify (`_jaccard_pairs(candidates=)`),
    which keeps the score identical without the quadratic mine."""
    return _jaccard_pairs(spark, sf_dir)


# --------------------------------------------------------------------------
# MinHash signatures (machinery check: 16 values per doc, both engines).
# --------------------------------------------------------------------------
_SQL_MINHASH_SIG = f"""
    WITH {_SQL_SHINGLE_CTE},
    hashed AS (SELECT doc_id, {SQL_H32.format(s='shingle')} AS h FROM sh)
    SELECT doc_id,
           {sql_minhash_aggs()}
    FROM hashed GROUP BY doc_id
"""


def _doc_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DISTINCT shingle arrays — the one-tokenize-pass index frame.

    Tokenization (split -> transform -> concat_ws per shingle) is the
    single most expensive scan-side expression in the dedup family; the
    cold LSH build used to pay it twice (signatures over the corpus, then
    verify re-shingling the candidate docs). Persisting this frame once
    lets BOTH derive from it: signatures explode the cached arrays
    (min-hash is duplicate-insensitive, so distinct arrays are safe) and
    the verify semi-joins candidate ids straight into the cached arrays.
    At 100 TB this is a materialize-the-shingle-table build step — the
    same bytes the signature explode streams transiently, held in
    MEMORY_AND_DISK for the duration of the index build and LRU-evicted
    by the registry afterwards."""
    d = load_table(spark, "documents", sf_dir)
    parallelism = spark.sparkContext.defaultParallelism
    return with_words(d.repartition(parallelism, "doc_id")).select(
        "doc_id",
        F.array_distinct(shingles_expr(F.col("__words"))).alias("ss"),
    )


def _minhash_signatures(
    spark: SparkSession, sf_dir: str, shingles: DataFrame | None = None
) -> DataFrame:
    sh = (
        shingles
        if shingles is not None
        # min() is duplicate-insensitive -> skip the distinct pass so the
        # whole explode->hash->16-min pipeline fuses into one stage.
        # (An explode-free variant — array_min(transform(...)) per row —
        # measured 4x SLOWER: higher-order functions evaluate interpreted,
        # outside whole-stage codegen, so the exploded+grouped form wins.)
        else doc_shingles(load_table(spark, "documents", sf_dir), distinct=False)
    )
    hashed = sh.select("doc_id", h32(F.col("shingle")).alias("h"))
    return hashed.groupBy("doc_id").agg(*minhash_agg_columns())


@register("dedup_minhash_signatures", oracle=_SQL_MINHASH_SIG)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_signatures(spark, sf_dir)


# --------------------------------------------------------------------------
# MinHash + LSH candidate pairs, verified with exact Jaccard.
# --------------------------------------------------------------------------
_band_selects = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, {key} AS band_key FROM sig"
    for b, key in sql_band_keys()
)

_SQL_MINHASH_LSH = f"""
    WITH {_SQL_SHINGLE_CTE},
    hashed AS (SELECT doc_id, {SQL_H32.format(s='shingle')} AS h FROM sh),
    sig AS (SELECT doc_id, {sql_minhash_aggs()} FROM hashed GROUP BY doc_id),
    banded AS ({_band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
      JOIN cand ON cand.doc_a = s1.doc_id AND cand.doc_b = s2.doc_id
      GROUP BY s1.doc_id, s2.doc_id
    )
    SELECT doc_a, doc_b,
           n_common * 1.0 / (ca.c + cb.c - n_common) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE n_common * 1.0 / (ca.c + cb.c - n_common) >= {JACCARD_THRESHOLD}
"""


def minhash_lsh_candidates(
    sig: DataFrame, band_bucket_cap: int | None = None
) -> DataFrame:
    """Banded candidate mining over a minhash-signature frame.

    ``band_bucket_cap`` is the hot-bucket guard for skewed corpora: a band
    key shared by B docs yields B(B-1)/2 candidates on ONE reducer — at
    100 TB a boilerplate-heavy corpus (license headers, templated pages)
    turns a hot band key into both a shuffle-skew straggler and a
    quadratic candidate blowup. Buckets larger than the cap are dropped
    before the self-join (the standard "skip overly common buckets" LSH
    mitigation): a true near-dup pair in a dropped bucket still surfaces
    through its other 3 bands, and *exact* duplicates are the exact-hash
    dedup operator's job upstream, not LSH's. None (the oracle-checked
    default) keeps every bucket."""
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), key.alias("band_key"))
            for b, key in band_key_exprs()
        ]
    )
    banded = sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    if band_bucket_cap is not None:
        # bucket sizes shuffle on the SAME key as the join, so the guard
        # adds no new exchange shape — just an aggregate + semi-filter
        sizes = banded.groupBy("band", "band_key").agg(
            F.count("*").alias("_bucket_n")
        )
        banded = (
            banded.join(sizes, ["band", "band_key"])
            .filter(F.col("_bucket_n") <= band_bucket_cap)
            .drop("_bucket_n")
        )
    a = banded.alias("a")
    b_ = banded.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _shingle_sets_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's materialized (doc_id, ss) shingle-set index."""
    return INDEX_CACHE.get_or_build(
        spark, "dedup_shingle_sets", sf_dir, lambda: _doc_shingle_sets(spark, sf_dir)
    )


def _minhash_sig_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's materialized MinHash signature index. Signatures
    explode the cached shingle-set arrays, so a cold build tokenizes the
    documents once for the signatures and the exact verify together."""

    def _build() -> DataFrame:
        sets = _shingle_sets_index(spark, sf_dir)
        exploded = sets.select("doc_id", F.explode("ss").alias("shingle"))
        return _minhash_signatures(spark, sf_dir, shingles=exploded)

    return INDEX_CACHE.get_or_build(spark, "dedup_minhash_sig", sf_dir, _build)


def _minhash_cand_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's materialized LSH candidate-pair index."""
    return INDEX_CACHE.get_or_build(
        spark,
        "dedup_minhash_cand",
        sf_dir,
        lambda: minhash_lsh_candidates(_minhash_sig_index(spark, sf_dir)),
    )


@register("dedup_minhash_lsh_pairs", oracle=_SQL_MINHASH_LSH)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands x 4 rows): near-dup candidates only where a
    band signature collides; exact Jaccard then verifies candidates. This
    is the 100 TB dedup path — cost scales with collisions, not pairs.

    The signature index is persisted before the self-join (without it the
    plan recomputes the whole shingle->hash->16-min aggregation once per
    band branch per join side), and the candidate set is persisted before
    the verify (it feeds the doc-id restriction and the pair joins). The
    verify shingles ONLY candidate docs (_jaccard_pairs semi-joins before
    the explode), so post-banding cost scales with |candidates|, not
    |corpus| — the property that holds at 100 TB. Skewed
    (boilerplate-heavy) corpora: see minhash_lsh_candidates'
    band_bucket_cap."""
    # All index frames go through the bounded materialized-index registry:
    # built once (persist + eager count — multi-referenced lazy caches get
    # re-planned per reference by AQE and recompute before the cache
    # fills, measured 7s vs 2.5s at sf0.1), reused by every later
    # invocation in the session, evicted with an unpersist under LRU
    # pressure. "Build the index, then probe it" — per-query rebuilds
    # would throw away the index's whole point.
    #
    # Cold-build structure (one tokenize pass): shingle-set arrays are
    # materialized FIRST, then signatures explode the cached arrays and
    # the verify semi-joins candidate ids into the same cached arrays —
    # the documents table is scanned and tokenized exactly once end to
    # end (was twice: corpus for signatures + candidates for verify;
    # measured 8.2 s -> 6.7 s cold at sf0.1, and the verify step alone
    # 3.2 s -> 1.0 s).
    sets = _shingle_sets_index(spark, sf_dir)
    cand = _minhash_cand_index(spark, sf_dir)

    # The verified-pairs frame is itself a build-once/probe-many artifact:
    # without it the exact-Jaccard verify re-runs the array_intersect
    # joins on every invocation (measured 2.5 s of a 2.6 s warm call at
    # sf0.1 — the whole repeat cost). Like sets/sig/cand it is immutable
    # for a given dataset snapshot, so it lives in the same registry.
    return INDEX_CACHE.get_or_build(
        spark,
        "dedup_minhash_verified",
        sf_dir,
        lambda: _jaccard_pairs(spark, sf_dir, candidates=cand, shingle_sets=sets),
    )


# --------------------------------------------------------------------------
# SimHash: 32-bit signature per doc + hamming-distance near-dup pairs.
# --------------------------------------------------------------------------
# SimHash features are 3-gram shingles, not single words: the corpus draws
# from a small shared vocabulary, so word-set simhashes collide massively
# (~15k hamming<=3 pairs at sf0.01); shingles keep only true near-dups.
_SQL_SIMHASH_SIG = f"""
    WITH {_SQL_SHINGLE_CTE},
    hashed AS (SELECT doc_id, {SQL_H32.format(s='shingle')} AS h FROM sh),
    sums AS (SELECT doc_id, {sql_simhash_bit_sums()} FROM hashed GROUP BY doc_id)
    SELECT doc_id, {sql_simhash_combine()} AS simhash FROM sums
"""


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    hashed = doc_shingles(d).select("doc_id", h32(F.col("shingle")).alias("h"))
    sums = hashed.groupBy("doc_id").agg(*simhash_bit_sums())
    return sums.select("doc_id", simhash_combine().alias("simhash"))


@register("dedup_simhash_signatures", oracle=_SQL_SIMHASH_SIG)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash(spark, sf_dir)


_SQL_SIMHASH_PAIRS = f"""
    WITH sig AS ({_SQL_SIMHASH_SIG}),
    banded AS (
      SELECT doc_id, simhash, 0 AS band, (simhash >> 0) & 255 AS byte FROM sig
      UNION ALL SELECT doc_id, simhash, 1, (simhash >> 8) & 255 FROM sig
      UNION ALL SELECT doc_id, simhash, 2, (simhash >> 16) & 255 FROM sig
      UNION ALL SELECT doc_id, simhash, 3, (simhash >> 24) & 255 FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@register("dedup_simhash_pairs", oracle=_SQL_SIMHASH_PAIRS, sample_scale=True)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with simhash hamming distance <= 3, blocked on any
    shared signature byte (a pair within distance 3 must agree on at least
    one of the 4 bytes — pigeonhole), so no quadratic pair scan.

    Scale note: 4 bands x 8 bits gives 256 buckets per band, a FIXED
    count, so candidate volume grows O(N^2/256) — unlike the embedding
    LSH, band width cannot simply grow with the corpus because the
    hamming<=3 guarantee needs >= 4 bands (pigeonhole over the 32-bit
    signature). Measured sub-linear through the 30x sweep (cheap long-xor
    verify; 56s at sf3 isolated), but the production path for corpora
    past ~1M docs is the Manku et al. (WWW'07) design: widen the simhash
    to 64 bits and band 4 x 16 (65,536 buckets/band, same guarantee) —
    REGISTERED below as dedup_simhash64_pairs (r6), measured flat
    through 30x (12.7 s at sf3 vs this op's 56.6 s). This 32-bit form
    stays as the compact tier for small corpora — and "small" is now
    MEASURED, not guessed: at 5k docs precision reads 0.919, at 50k it
    collapses to 0.532 (QUALITY_r11 — half the emitted pairs are 32-bit
    hamming collisions that are not Jaccard near-dups), while the
    64-bit tiers hold precision 0.999-1.0 at the same corpus. The
    quality cliff, not the candidate volume, is what retires this tier
    first as the corpus grows."""
    # The signature frame feeds the 4-band union AND both sides of the
    # self-join — 8 plan references; unpersisted, Spark recomputes the
    # full shingle-explode + md5 + 32-bit-vote aggregate each time
    # (measured 37 s at sf1 vs ~8 s for one signature pass). Both the
    # signature AND the verified pair set go through the bounded
    # materialized-index registry like the other miners (r10: the pair
    # frame was previously a lazily-persisted lineage, and composing it
    # into a larger single-action plan that ALSO contains the exact-
    # Jaccard ground-truth tree silently dropped the distinct's shuffle —
    # Spark's exchange/stage reuse falsely unified canonically-colliding
    # stages from the shared shingle lineage, so the pair-level
    # HashAggregate ran partial-only and band-duplicate pairs survived
    # (56 rows instead of 20 at sf0.01; reproduced, and gone with
    # spark.sql.exchange.reuse=false). Eager materialization makes every
    # consumer read the computed InMemoryRelation instead of re-planning
    # the raw lineage — correct in any composition, and the build-once/
    # probe-many shape this index wants anyway. Pinned in
    # tests/test_r10_regressions.py::test_simhash_pairs_stable_under_composition.)
    sig = INDEX_CACHE.get_or_build(
        spark, "dedup_simhash_sig", sf_dir, lambda: _simhash(spark, sf_dir)
    )

    def _build_pairs() -> DataFrame:
        banded = None
        for b in range(4):
            part = sig.select(
                "doc_id",
                "simhash",
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), 8 * b)
                .bitwiseAND(F.lit(255))
                .alias("byte"),
            )
            banded = part if banded is None else banded.unionByName(part)
        a = banded.alias("a")
        b_ = banded.alias("b")
        hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        return (
            a.join(
                b_,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.byte") == F.col("b.byte"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming.alias("hamming"),
            )
            .filter(F.col("hamming") <= 3)
            .distinct()
        )

    return INDEX_CACHE.get_or_build(
        spark, "dedup_simhash_pairs", sf_dir, _build_pairs
    )


# --------------------------------------------------------------------------
# 64-bit SimHash: the PRODUCTION tier (Manku et al., WWW'07 — "Detecting
# Near-Duplicates for Web Crawling"). Same hamming<=3 pigeonhole guarantee
# as the 32-bit form (4 bands, at least one must match exactly), but each
# band is 16 bits -> 65,536 buckets per band, so expected candidate volume
# is O(N^2/65536) per band instead of O(N^2/256): the bucket count that
# makes banding viable at web scale. The 32-bit tier above stays registered
# as the compact form; this one is what a >1M-doc corpus runs.
# Signature storage: two 32-bit halves (see functions/text_hash.py banner —
# a single 64-bit value would overflow both engines' signed hex casts).
# --------------------------------------------------------------------------
_s64_lo_sql, _s64_hi_sql = sql_simhash64_halves()

_SQL_SIMHASH64_SIG = f"""
    WITH {_SQL_SHINGLE_CTE},
    hashed AS (SELECT doc_id, {SQL_H32.format(s='shingle')} AS h,
                      {SQL_H32B.format(s='shingle')} AS h2 FROM sh),
    sums AS (SELECT doc_id, {sql_simhash64_bit_sums()} FROM hashed GROUP BY doc_id)
    SELECT doc_id, {_s64_lo_sql} AS sh_lo, {_s64_hi_sql} AS sh_hi FROM sums
"""


def _simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    hashed = doc_shingles(d).select(
        "doc_id",
        h32(F.col("shingle")).alias("h"),
        h32b(F.col("shingle")).alias("h2"),
    )
    sums = hashed.groupBy("doc_id").agg(*simhash64_bit_sums())
    lo, hi = simhash64_halves()
    return sums.select("doc_id", lo.alias("sh_lo"), hi.alias("sh_hi"))


@register("dedup_simhash64_signatures", oracle=_SQL_SIMHASH64_SIG)
def dedup_simhash64_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash64(spark, sf_dir)


def _sql_simhash64_pairs(bands: int, max_hamming: int) -> str:
    """DuckDB oracle for the parametrized 64-bit simhash banding: `bands`
    equal-width windows over the two 32-bit halves, pair class = hamming
    <= max_hamming. Generated (not hand-written per knob) so the Spark
    builder and the oracle share one banding definition."""
    per_half = bands // 2
    width = 32 // per_half
    mask = (1 << width) - 1
    rows = []
    for b in range(bands):
        half = "sh_lo" if b < per_half else "sh_hi"
        shift = width * (b % per_half)
        if b == 0:
            rows.append(
                f"SELECT doc_id, sh_lo, sh_hi, 0 AS band, "
                f"({half} >> {shift}) & {mask} AS bkey FROM sig"
            )
        else:
            rows.append(
                f"UNION ALL SELECT doc_id, sh_lo, sh_hi, {b}, "
                f"({half} >> {shift}) & {mask} FROM sig"
            )
    banded = "\n      ".join(rows)
    return f"""
    WITH sig AS ({_SQL_SIMHASH64_SIG}),
    banded AS (
      {banded}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sh_lo, b.sh_lo))
             + bit_count(xor(a.sh_hi, b.sh_hi)) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh_lo, b.sh_lo))
            + bit_count(xor(a.sh_hi, b.sh_hi)) <= {max_hamming}
"""


_SQL_SIMHASH64_PAIRS = _sql_simhash64_pairs(bands=4, max_hamming=3)
_SQL_SIMHASH64_PAIRS_WIDE = _sql_simhash64_pairs(bands=8, max_hamming=7)


@register("dedup_simhash64_pairs", oracle=_SQL_SIMHASH64_PAIRS)
def dedup_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with 64-bit simhash hamming distance <= 3, blocked
    on any shared 16-bit signature window (4 x 16 banding — a pair within
    distance 3 must agree exactly on at least one band, pigeonhole).

    This is the scale tier the 32-bit op's docstring promises: 65,536
    buckets per band keep expected bucket occupancy ~N/65536, so candidate
    volume is O(N^2/65536) — 256x fewer candidates than the 32-bit/4x8
    form at the same corpus (the r5 sweep's slowest absolute query). The
    verify cost per candidate is two long-xors + popcounts, JVM codegen.
    Hamming distance sums the two halves' popcounts — identical to the
    64-bit popcount, no 64-bit integer ever materialized (ANSI-safe in
    both engines). Reference anchor: the reference's dedup story is
    event-UUID exactness (event/event.go:24-34); this implements SURVEY
    §2.8's fuzzy-dedup row at production width."""
    # Index frames materialize eagerly through the registry — same r10
    # fix as the 32-bit tier: the lazily-persisted pair lineage, composed
    # cold into a plan that also carries the shared shingle lineage,
    # tripped Spark's exchange/stage reuse into dropping the distinct's
    # shuffle (31 composed vs 14 standalone at sf0.01, reproduced).
    # Eager build = every consumer reads the computed frame.
    return simhash64_banded_pairs(spark, sf_dir, bands=4, max_hamming=3)


def simhash64_banded_pairs(
    spark: SparkSession,
    sf_dir: str,
    bands: int = 4,
    max_hamming: int | None = None,
) -> DataFrame:
    """Parametrized 64-bit simhash near-dup miner: `bands` equal-width
    signature windows (over the two 32-bit halves, so `bands` must be an
    even divisor pair — 4 => 16-bit keys, 8 => 8-bit keys), candidate =
    any shared window, pair = hamming <= `max_hamming` (default
    `bands - 1`, the widest class pigeonhole-complete under this
    banding: a pair within distance bands-1 cannot differ in every
    band).

    The banding knob trades candidate volume for recall, exactly like
    the ANN tier's LSH OR-width (r10: tables 4->8 = recall 0.57->0.87
    at +68% cost): 4x16 gives 65,536 buckets/band — O(N^2/65536)
    candidates — but its hamming<=3-of-64 class demands 95.3% bit
    agreement, far stricter than Jaccard>=0.8 implies, so it reads
    recall 0.457 vs the exact-Jaccard truth (precision 1.000,
    QUALITY_r11). 8x8 gives 256 buckets/band — 256x the candidate
    density — and its hamming<=7 class (89% agreement) recovers the
    recall the narrow class forfeits (measured in QUALITY_r11 and
    floor-pinned in tests/test_quality_metrics.py). Pick by corpus
    size: the wide tier's O(N^2/256) candidate volume is the quadratic
    class (sample_scale), the 4x16 tier sub-sweeps flat to sf100; when
    recall ~1.0 at j>=0.8 is the requirement, MinHash-LSH (measured
    recall 1.000 / precision 1.000) is the production answer and
    simhash's draw is the 8-byte signature + popcount verify, not
    quality."""
    if max_hamming is None:
        max_hamming = bands - 1
    per_half = bands // 2
    if bands < 2 or bands % 2 or 32 % per_half:
        raise ValueError(f"bands must split two 32-bit halves evenly, got {bands}")
    width = 32 // per_half
    mask = (1 << width) - 1

    sig = INDEX_CACHE.get_or_build(
        spark, "dedup_simhash64_sig", sf_dir, lambda: _simhash64(spark, sf_dir)
    )

    def _build_pairs64() -> DataFrame:
        banded = None
        for band in range(bands):
            half = F.col("sh_lo") if band < per_half else F.col("sh_hi")
            part = sig.select(
                "doc_id",
                "sh_lo",
                "sh_hi",
                F.lit(band).alias("band"),
                F.shiftright(half, width * (band % per_half))
                .bitwiseAND(F.lit(mask))
                .alias("bkey"),
            )
            banded = part if banded is None else banded.unionByName(part)
        a = banded.alias("a")
        b_ = banded.alias("b")
        hamming = F.bit_count(
            F.col("a.sh_lo").bitwiseXOR(F.col("b.sh_lo"))
        ) + F.bit_count(F.col("a.sh_hi").bitwiseXOR(F.col("b.sh_hi")))
        return (
            a.join(
                b_,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming.alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )

    return INDEX_CACHE.get_or_build(
        spark,
        f"dedup_simhash64_pairs_b{bands}h{max_hamming}",
        sf_dir,
        _build_pairs64,
    )


@register(
    "dedup_simhash64_pairs_wide",
    oracle=_SQL_SIMHASH64_PAIRS_WIDE,
    sample_scale=True,
)
def dedup_simhash64_pairs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall knob of the 64-bit simhash tier turned up: 8 bands x
    8 bits, pair class hamming <= 7 (r10 verdict task 2). 256
    buckets/band makes candidate volume O(N^2/256) — the quadratic
    class, hence sample_scale — in exchange for the recall the 4x16
    tier's 95.3%-agreement class forfeits (0.457 -> measured in
    QUALITY_r11, floors in tests/test_quality_metrics.py). See
    simhash64_banded_pairs for the full trade and when MinHash-LSH is
    the better pick."""
    return simhash64_banded_pairs(spark, sf_dir, bands=8, max_hamming=7)


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs.
# --------------------------------------------------------------------------
# Threshold is data-dependent; the synthetic embeddings carry no planted
# near-dups (max pairwise cosine ~0.51), so 0.4 exercises the operator.
COSINE_DUP_THRESHOLD = 0.4

_SQL_COSINE_PAIRS = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_transform(e, x -> x*x), (x,y) -> x+y)) AS nrm
          FROM v)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_reduce(list_transform(range(1, len(a.e)+1),
                                      i -> a.e[i] * b.e[i]), (x,y) -> x+y)
             / (a.nrm * b.nrm) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_reduce(list_transform(range(1, len(a.e)+1),
                                     i -> a.e[i] * b.e[i]), (x,y) -> x+y)
            / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
"""


#: Screen slack for the BLAS candidate pass feeding the exact rescore.
#: The fold and BLAS dot products differ only in summation order; the
#: error of either is bounded by ~dim * eps_machine * |a||b| (~1e-14 for
#: 64-dim unit-scale vectors), so a 1e-6 margin is ~8 orders wider than
#: the worst disagreement — no true pair can fall outside the screen.
_COSINE_SCREEN_SLACK = 1e-6


@register("dedup_embedding_cosine_pairs", oracle=_SQL_COSINE_PAIRS, sample_scale=True)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine (ground truth): BLAS-screened candidates,
    exact-fold rescored. Output is bit-identical to the naive theta
    self-join — the rescore recomputes every surviving pair's cosine as a
    sequential left fold (same summation order as DuckDB list_reduce) —
    but the quadratic work runs as distributed block matmuls at a
    threshold lowered by _COSINE_SCREEN_SLACK, which provably (see the
    slack note) passes every pair the exact filter can accept. The sf1
    sweep measured the naive theta-join at 332 s; the screen+rescore
    composition does the same 200M-pair workload in a few seconds and
    rescans only the ~1e5 candidates. Scale path beside it:
    dedup_embedding_lsh_pairs (sub-quadratic bucketed mining) below."""
    cand = _blocked_cosine_candidates(
        spark, sf_dir, COSINE_DUP_THRESHOLD - _COSINE_SCREEN_SLACK
    )
    e = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # unrolled fixed-dim folds shared with similarity (r17): identical
    # summation order, codegen instead of interpreted lambdas
    n = e.select("vec_id", "e", _sim_norm(F.col("e")).alias("nrm"))
    a = n.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    cosine = _sim_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


# --------------------------------------------------------------------------
# Blocked-BLAS brute force: the same all-pairs semantics as
# dedup_embedding_cosine_pairs, but computed as distributed block matrix
# products instead of a per-pair expression fold. The sf1 sweep measured
# the expression form at 397 s (20k vectors, 200M pairs through the codegen
# fold); the identical O(N^2) FLOPs through numpy matmul per block-pair run
# ~2 orders of magnitude faster. Work is still quadratic — this is the
# "you really must do all-pairs" tier, with the LSH miner below as the
# sub-quadratic scale path — but the constant factor is BLAS, not codegen.
#
# Shape: vectors get a block id (xxhash64(vec_id) mod B); a tiny (B*(B+1)/2
# row) block-pair frame replicates each block to the pairs it participates
# in; applyInPandas over (block_a, block_b) does one matmul per group.
# Fully distributed — no driver collect; shuffle volume is N*B rows (each
# vector visits B block-pairs), tunable against group memory via B.
# The helper emits PAIR IDENTITY only (vec_a, vec_b): float cosines from
# BLAS sum in SIMD order and may differ from a sequential fold in the
# last ulp, so they never reach oracle-hashed columns. Two consumers:
# dedup_embedding_cosine_pairs_blocked registers the identity output
# directly (membership at threshold 0.4 is ulp-robust; exact pair parity
# vs the rescored tier pinned in tests/test_quality_metrics.py), and
# dedup_embedding_cosine_pairs uses a slack-lowered threshold as a
# lossless screen before its bit-exact fold rescore.
# --------------------------------------------------------------------------
_COSINE_BLOCKS = 16

_SQL_COSINE_PAIRS_IDS = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    n AS (SELECT vec_id, e,
                 sqrt(list_reduce(list_transform(e, x -> x*x), (x,y) -> x+y)) AS nrm
          FROM v)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_reduce(list_transform(range(1, len(a.e)+1),
                                     i -> a.e[i] * b.e[i]), (x,y) -> x+y)
            / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
"""


def _blocked_cosine_candidates(
    spark: SparkSession, sf_dir: str, thr: float
) -> DataFrame:
    """(vec_a, vec_b) with BLAS cosine >= thr, via distributed block
    matmul (see banner above). Shared by the identity-output tier and the
    screen+exact-rescore composition of dedup_embedding_cosine_pairs."""
    import numpy as np
    import pandas as pd

    B = _COSINE_BLOCKS
    v = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(B)).alias("blk"),
    )
    # block-pair frame: (ba, bb) for ba <= bb — B*(B+1)/2 rows, broadcast
    rng = spark.range(B).select(F.col("id").cast("int").alias("ba"))
    bp = rng.crossJoin(spark.range(B).select(F.col("id").cast("int").alias("bb"))).filter(
        F.col("ba") <= F.col("bb")
    )
    left = v.join(F.broadcast(bp), v.blk == F.col("ba")).select(
        "ba", "bb", F.lit("L").alias("side"), "vec_id", "e"
    )
    right = (
        v.join(F.broadcast(bp.filter(F.col("ba") < F.col("bb"))), v.blk == F.col("bb"))
        .select("ba", "bb", F.lit("R").alias("side"), "vec_id", "e")
    )
    both = left.unionByName(right)

    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        # Diagonal-ness comes from the GROUP KEY, read BEFORE any filtering:
        # inferring it from "no R rows" misreads an off-diagonal group whose
        # R-side block happens to be empty (or all-NULL) and re-emits L's
        # within-block upper triangle once per such group — duplicate pairs
        # in the output multiset (r5 advice, high).
        diagonal = bool(pdf["ba"].iloc[0] == pdf["bb"].iloc[0])
        # NULL embeddings can never pair (the expression form yields NULL
        # cosine, which fails the threshold filter) — drop before stacking
        pdf = pdf[pdf["e"].notna()]
        l_rows = pdf[pdf["side"] == "L"]
        if len(l_rows) == 0:
            return empty
        lm = np.stack(l_rows["e"].to_numpy())
        lid = l_rows["vec_id"].to_numpy()
        lm = lm / np.linalg.norm(lm, axis=1, keepdims=True)
        if diagonal:  # within-L upper triangle
            cos = lm @ lm.T
            ai, bi = np.nonzero(np.triu(cos >= thr, k=1))
            va, vb = lid[ai], lid[bi]
        else:
            r_rows = pdf[pdf["side"] == "R"]
            if len(r_rows) == 0:
                return empty
            rm = np.stack(r_rows["e"].to_numpy())
            rid = r_rows["vec_id"].to_numpy()
            rm = rm / np.linalg.norm(rm, axis=1, keepdims=True)
            ai, bi = np.nonzero(lm @ rm.T >= thr)
            va, vb = lid[ai], rid[bi]
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi})

    return both.groupBy("ba", "bb").applyInPandas(
        _block_pairs, schema="vec_a long, vec_b long"
    )


@register("dedup_embedding_cosine_pairs_blocked", oracle=_SQL_COSINE_PAIRS_IDS, sample_scale=True)
def dedup_embedding_cosine_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine via distributed block matmul, pair identity only
    (see banner above)."""
    return _blocked_cosine_candidates(spark, sf_dir, COSINE_DUP_THRESHOLD)


# --------------------------------------------------------------------------
# Embedding near-dup pair mining, bucketed (the 100 TB path).
# --------------------------------------------------------------------------
# Reuses similarity.py's deterministic random-hyperplane signatures as band
# keys: same multi-table OR-construction, but self-joined per (table,
# bucket) to mine ALL near-dup pairs instead of answering query top-k.
# Exact cosine then verifies only the candidate set, so the quadratic
# theta-join of dedup_embedding_cosine_pairs never materializes. Candidate
# cost scales with bucket collisions (corpus/2^planes per bucket per
# table), not with N^2; hot buckets are the skew risk, handled by AQE
# skew-join or by raising LSH_PLANES.
from psql_streamer_spark.operators.similarity import (  # noqa: E402
    KM_ITERS as _KM_ITERS,
    KM_K as _KM_K,
    LSH_TABLES,
    _SQL_NORM as _SIM_SQL_NORM,
    _SQL_DOT as _SIM_SQL_DOT,
    _dot as _sim_dot,
    _norm as _sim_norm,
    _signature as _sim_signature,
    _signature_sql as _sim_signature_sql,
    _vectors as _sim_vectors,
    sql_kmeans_cte as _sql_kmeans_cte,
)

# Corpus-scaled bucket count: pair mining's candidate volume is
# L * 2^p * (N/2^p)^2 / 2 = L * N^2 / 2^(p+1) — with a FIXED plane count p
# this is quadratic in N (the 30x sweep OOM'd on exactly that: 4 planes =
# 16 buckets/table = ~450M candidates from 60k vectors). p therefore
# grows with the corpus so the expected bucket size stays ~EMB_PAIR_BUCKET:
#   m = ceil-div(N, EMB_PAIR_BUCKET); p = clamp(4..12, smallest t: 2^t >= m)
# making candidates O(L * N * EMB_PAIR_BUCKET / 2) — linear. Both engines
# compute the SAME p from pure-integer comparisons (no float log2 whose
# last-ulp could straddle a ceil boundary differently per engine), and
# both mask the SAME 12-plane signature to its low p bits (bit j of the
# signature is plane j, so sig12 & (2^p - 1) IS the p-plane signature).
# The [4..12] clamp keeps every oracle-checked small SF on its original
# 16-bucket behavior (recall tests unchanged) and caps the unrolled
# hyperplane SQL; production corpora past 250 * 2^12 vectors would raise
# EMB_PAIR_MAX_PLANES (the Spark side could generate any count — the cap
# exists only to bound the static oracle text). Recall per pair falls as
# 0.63^p at the synthetic cosine-0.4 threshold, but real near-dup mining
# targets cosine >= 0.9 where per-plane collision is ~0.86 and even p=12
# keeps OR-over-4-tables recall ~0.5; raise LSH_TABLES to buy it back.
EMB_PAIR_BUCKET = 250
EMB_PAIR_MIN_PLANES = 4
EMB_PAIR_MAX_PLANES = 12


def _emb_pair_planes(n: int) -> int:
    m = (n + EMB_PAIR_BUCKET - 1) // EMB_PAIR_BUCKET
    return max(EMB_PAIR_MIN_PLANES, min(EMB_PAIR_MAX_PLANES, (m - 1).bit_length()))


_sql_emb_planes = " ".join(
    f"WHEN m <= {1 << t} THEN {t}"
    for t in range(EMB_PAIR_MIN_PLANES, EMB_PAIR_MAX_PLANES)
)

_pairband_selects = " UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl,"
    f" ({_sim_signature_sql(t, 'e', EMB_PAIR_MAX_PLANES)})"
    f" & ((1::BIGINT << (SELECT p FROM pp)) - 1) AS bucket FROM v"
    for t in range(LSH_TABLES)
)

_SQL_EMBEDDING_LSH_PAIRS = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      {_SIM_SQL_NORM.format(a='embedding::DOUBLE[]')} AS nrm
               FROM embeddings),
    pm AS (SELECT (COUNT(*) + {EMB_PAIR_BUCKET - 1}) // {EMB_PAIR_BUCKET} AS m
           FROM v),
    pp AS (SELECT CASE {_sql_emb_planes} ELSE {EMB_PAIR_MAX_PLANES} END AS p
           FROM pm),
    sig AS ({_pairband_selects}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sig a JOIN sig b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           {_SIM_SQL_DOT.format(a='va.e', b='vb.e')} / (va.nrm * vb.nrm) AS cosine
    FROM cand
    JOIN v va ON va.vec_id = vec_a
    JOIN v vb ON vb.vec_id = vec_b
    WHERE {_SIM_SQL_DOT.format(a='va.e', b='vb.e')} / (va.nrm * vb.nrm)
            >= {COSINE_DUP_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Unique-vector collapse for the bucket-local numpy screens (r16, guide
# §2.5 skew): byte-identical payloads/embeddings share EVERY hyperplane
# bucket at any signature width, so replica clusters make hot buckets
# whose k x k (or delta x k) matmul is quadratic in the replica count —
# widening planes cannot bound them (r15 verdict #1, measured max_bucket
# 1544 vs 156 expected at sf0.1). Identical vectors have identical
# cosines to everything, so the screen loses nothing by collapsing to
# np.unique rows before the matmul and expanding the surviving GROUP
# pairs back to member pairs: the emitted pair set is exactly the
# uncollapsed one (within-group pairs are cosine-1 by construction), and
# the matmul cost falls from O(k^2) to O(u^2) in the unique count. The
# 1e-6 screen slack below the verify threshold already absorbs BLAS
# rounding drift, same as before — verify recomputes the exact fold.
# --------------------------------------------------------------------------
def _unique_rows_dict(mc):
    """(uniq, inv) exact unique-row grouping via a byte-key dict — the
    r16 reference implementation (linear, ~0.22 s per 200k x 64 bucket,
    all in the per-row Python loop). Kept as the bit-exact oracle for
    _unique_rows' vectorized path and as its hash-collision fallback."""
    import numpy as np

    groups: dict[bytes, int] = {}
    inv = np.empty(len(mc), dtype=np.int64)
    firsts: list[int] = []
    for i in range(len(mc)):
        key = mc[i].tobytes()
        g = groups.setdefault(key, len(groups))
        if g == len(firsts):
            firsts.append(i)
        inv[i] = g
    return mc[firsts], inv


def _mix64(x):
    """splitmix64 finalizer, vectorized — full-avalanche bit mixing."""
    import numpy as np

    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


_ROW_KEY_R: dict = {}


def _row_hash64(hv):
    """Vectorized exact 64-bit row key of a uint64 matrix view:
    xorshift each word (bijective — pulls the float exponent/top-mantissa
    entropy into the low bits; without it, small-integer float payloads
    are all == 0 mod 2^52 and a plain linear hash collapses to ~12
    effective bits — measured 6561 distinct rows -> 962 distinct keys),
    then one einsum dot with fixed random odd multipliers (wrap-around
    uint64 arithmetic, deterministic across tasks and retries) and a
    splitmix64 finalizer. All-numpy; no float arithmetic anywhere — a
    BLAS projection was measured giving DIFFERENT results for identical
    rows at different positions (blocked summation), which would
    over-split replica groups undetectably."""
    import numpy as np

    d = hv.shape[1]
    R = _ROW_KEY_R.get(d)
    if R is None:
        R = (
            np.random.default_rng(0x5EED0 + d).integers(
                1, 2**62, size=d, dtype=np.uint64
            )
            << np.uint64(1)
        ) | np.uint64(1)
        _ROW_KEY_R[d] = R
    x = hv ^ (hv >> np.uint64(32))
    return _mix64(np.einsum("ij,j->i", x, R))


def _unique_rows(m):
    """(uniq, inv) exact unique-row grouping of a float64 matrix,
    vectorized (r17, guide §4.2): key each row (_row_hash64), argsort
    the keys, and verify every within-run adjacency on the RAW ROW
    WORDS — the equality check runs on the uint64 view, so grouping
    stays bit-exact like the r16 dict pass (distinct NaN payloads stay
    distinct, -0.0 != 0.0). A verified split INSIDE an equal-key run
    means two distinct rows collided on the 64-bit key, where
    interleaving could over-split identical rows; that (astronomically
    rare, and loudly detected) case falls back to the exact dict pass.
    Measured ~2.3-2.5x over the dict loop on unique-heavy buckets
    (200k x 64: 0.28 -> 0.12 s) and parity on a 200k pure-replica
    bucket; np.unique(axis=0) remains ~40x slower than either (its
    void-dtype SORT compares full rows)."""
    import numpy as np

    mc = np.ascontiguousarray(m, dtype=np.float64)
    n = len(mc)
    if n == 0:
        return mc, np.empty(0, dtype=np.int64)
    hv = mc.view(np.uint64)
    h = _row_hash64(hv)
    order = np.argsort(h, kind="stable")
    ho = h[order]
    run_start = np.empty(n, dtype=bool)
    run_start[0] = True
    np.not_equal(ho[1:], ho[:-1], out=run_start[1:])
    pos = np.flatnonzero(~run_start)  # positions needing row verify
    if len(pos):
        if len(pos) > n // 4:  # replica-heavy: one gather, sliced compare
            hs = hv[order]
            eq_all = np.empty(n, dtype=bool)
            eq_all[0] = False
            np.all(hs[1:] == hs[:-1], axis=1, out=eq_all[1:])
            eq = eq_all[pos]
        else:  # unique-heavy: verify only the few within-run rows
            eq = (hv[order[pos]] == hv[order[pos - 1]]).all(axis=1)
        if not eq.all():  # 64-bit key collision: exact dict path
            return _unique_rows_dict(mc)
    gid_sorted = np.cumsum(run_start) - 1
    inv = np.empty(n, dtype=np.int64)
    inv[order] = gid_sorted
    return mc[order[run_start]], inv


def _group_slices(inv, n_groups, ids):
    """Per-unique-group member-id arrays from the inverse map."""
    import numpy as np

    order = np.argsort(inv, kind="stable")
    counts = np.bincount(inv, minlength=n_groups)
    starts = np.zeros(n_groups + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    sorted_ids = ids[order]
    return [
        sorted_ids[starts[g] : starts[g + 1]] for g in range(n_groups)
    ]


def screen_unique_pairs(m, ids, thr):
    """All (lo, hi) id pairs with cosine(m[i], m[j]) >= thr, i != j,
    screened on the unique rows of m (see banner). Returns two int64
    arrays; caller wraps/dedups."""
    import numpy as np

    uniq, inv = _unique_rows(m)
    u = uniq / np.linalg.norm(uniq, axis=1, keepdims=True)
    # k=0 keeps the diagonal: a group of >= 2 identical vectors is a
    # within-group pair source (cosine exactly 1)
    gi, gj = np.nonzero(np.triu(u @ u.T >= thr, k=0))
    if not len(gi):
        empty = np.empty(0, dtype=np.int64)
        return empty, empty
    members = _group_slices(inv, len(uniq), ids)
    out_a, out_b = [], []
    for a, b in zip(gi, gj):
        ma = members[a]
        if a == b:
            if len(ma) < 2:
                continue
            ii, jj = np.triu_indices(len(ma), k=1)
            pa, pb = ma[ii], ma[jj]
        else:
            mb = members[b]
            pa = np.repeat(ma, len(mb))
            pb = np.tile(mb, len(ma))
        out_a.append(pa)
        out_b.append(pb)
    if not out_a:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty
    da = np.concatenate(out_a)
    db = np.concatenate(out_b)
    return np.minimum(da, db), np.maximum(da, db)


def screen_unique_delta_pairs(m, ids, new_mask, thr):
    """(lo, hi) pairs with a new-side row, cosine >= thr, distinct ids —
    the delta-vs-bucket screen, collapsed the same way: only groups
    containing a new row multiply against the bucket's unique rows."""
    import numpy as np

    uniq, inv = _unique_rows(m)
    u = uniq / np.linalg.norm(uniq, axis=1, keepdims=True)
    new_groups = np.unique(inv[new_mask])
    sims = u[new_groups] @ u.T  # |new groups| x |unique|
    gi_, gj = np.nonzero(sims >= thr)
    gi = new_groups[gi_]
    if not len(gi):
        empty = np.empty(0, dtype=np.int64)
        return empty, empty
    members = _group_slices(inv, len(uniq), ids)
    # new-side member ids per group (subset of members)
    order_new = np.argsort(inv[new_mask], kind="stable")
    new_ids_sorted = ids[new_mask][order_new]
    counts_new = np.bincount(inv[new_mask], minlength=len(uniq))
    starts_new = np.zeros(len(uniq) + 1, dtype=np.int64)
    np.cumsum(counts_new, out=starts_new[1:])
    out_a, out_b = [], []
    for a, b in zip(gi, gj):
        na = new_ids_sorted[starts_new[a] : starts_new[a + 1]]
        mb = members[b]
        pa = np.repeat(na, len(mb))
        pb = np.tile(mb, len(na))
        keep = pa != pb
        if not keep.all():
            pa, pb = pa[keep], pb[keep]
        if len(pa):
            out_a.append(pa)
            out_b.append(pb)
    if not out_a:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty
    da = np.concatenate(out_a)
    db = np.concatenate(out_b)
    return np.minimum(da, db), np.maximum(da, db)


def screen_delta_group_pairs(m, gids, new_mask, thr):
    """Oriented (g_new, g_other) pairs with cosine >= thr over a bucket's
    COLLAPSED posting rows — one row per replica group, gid = the group's
    representative id (the r17 mm index collapse; see the banner in
    multimodal.mm_bucket_index_table). Differences from
    screen_unique_delta_pairs, both required by the group-level caller
    protocol:

    - pairs are ORIENTED (new-side gid first), not lo/hi-normalized: the
      caller's member expansion reads new members from the left gid and
      all members from the right gid;
    - SELF-pairs (g, g) are kept for every new group: a group with >= 2
      members owes within-group replica pairs, and the expansion's
      x != y member filter drops the self-pair for singletons.

    Byte-identical VECTORS are still collapsed before the matmul (a
    micro-batch can carry replicas of each other and of indexed rows);
    the emitted pairs are row-level gids, so that collapse is invisible
    to the caller."""
    import numpy as np

    uniq, inv = _unique_rows(m)
    u = uniq / np.linalg.norm(uniq, axis=1, keepdims=True)
    new_urows = np.unique(inv[new_mask])
    sims = u[new_urows] @ u.T  # |new unique rows| x |unique rows|
    ui_, uj = np.nonzero(sims >= thr)
    ui = new_urows[ui_]
    if not len(ui):
        empty = np.empty(0, dtype=np.int64)
        return empty, empty
    members = _group_slices(inv, len(uniq), gids)
    order_new = np.argsort(inv[new_mask], kind="stable")
    new_ids_sorted = gids[new_mask][order_new]
    counts_new = np.bincount(inv[new_mask], minlength=len(uniq))
    starts_new = np.zeros(len(uniq) + 1, dtype=np.int64)
    np.cumsum(counts_new, out=starts_new[1:])
    out_a, out_b = [], []
    for a, b in zip(ui, uj):
        na = new_ids_sorted[starts_new[a] : starts_new[a + 1]]
        mb = members[b]
        out_a.append(np.repeat(na, len(mb)))
        out_b.append(np.tile(mb, len(na)))
    return np.concatenate(out_a), np.concatenate(out_b)


@register("dedup_embedding_lsh_pairs", oracle=_SQL_EMBEDDING_LSH_PAIRS)
def dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup pairs: hyperplane-signature band keys ->
    per-bucket BLAS screen -> exact-cosine rescore of survivors only.
    Recall vs the brute-force ground truth is measured in
    tests/test_quality_metrics.py.

    Two scale levers beyond the basic banding:
    - Bucket count scales with the corpus (banner above _emb_pair_planes):
      the 12-plane signature is masked to p low bits, p derived from
      count() by the same integer comparisons the oracle SQL runs.
    - Per-bucket candidate pairs are NOT materialized through a join:
      each (table, bucket) group screens its own pairs with one numpy
      matmul inside applyInPandas at threshold - slack (lossless — see
      dedup_embedding_cosine_pairs), so shuffle volume is the signature
      frame (N*L rows), not an O(sum bucket^2) candidate frame carrying
      two 64-d arrays per row. Only the ~|result| survivors take the
      exact sequential-fold rescore the oracle replays. The 30x sweep
      measured the join-then-fold verify at 33M materialized candidate
      rows / ~2 min; the grouped screen is seconds."""
    import numpy as np
    import pandas as pd

    v = _sim_vectors(spark, sf_dir).withColumn("nrm", _sim_norm(F.col("e")))
    mask = (1 << _emb_pair_planes(v.count())) - 1
    screen_thr = COSINE_DUP_THRESHOLD - 1e-6
    # signature index: computed once, feeds every bucket group
    sig = None
    for t in range(LSH_TABLES):
        part = v.select(
            "vec_id",
            "e",
            F.lit(t).alias("tbl"),
            _sim_signature(t, F.col("e"), EMB_PAIR_MAX_PLANES)
            .bitwiseAND(F.lit(mask))
            .alias("bucket"),
        )
        sig = part if sig is None else sig.unionByName(part)
    sig = sig.persist()

    def _bucket_screen(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["e"].notna()]  # NULL embedding -> NULL cosine -> no pair
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        m = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        # unique-vector collapse (screen_unique_pairs banner): identical
        # embeddings share every bucket, so the matmul runs on unique rows
        lo, hi = screen_unique_pairs(m, ids, screen_thr)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi})

    cand = (
        sig.groupBy("tbl", "bucket")
        .applyInPandas(_bucket_screen, schema="vec_a long, vec_b long")
        .distinct()
    )
    va = v.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
    vb = v.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    cosine = _sim_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    result = (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )
    return persist_for(sig, result)


# --------------------------------------------------------------------------
# Near-dup clustering: candidate pairs -> connected components -> canonical
# doc per cluster. The step every dedup pipeline runs after pair mining.
# --------------------------------------------------------------------------
def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iter: int = 20,
) -> DataFrame:
    """Large-star/small-star connected components (the alternating-star
    MapReduce algorithm of Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): every vertex converges to the
    smallest vertex id in its component.

    Each round rewires the edge set toward stars rooted at component
    minima — large-star hangs every bigger neighbor of u onto min(Γ⁺(u)),
    small-star re-roots u and its smaller neighbors the same way — and the
    edge set provably converges to one star per component in O(log n)
    rounds (vs diameter rounds for plain min-label propagation: a 12-chain
    takes 4 passes here, ~11 there). Per round: two grouped min-aggregates
    and two joins, all shuffled on vertex id, no driver-side graph.

    The iterative-plan discipline is unchanged from the propagation
    version: the candidate edge list is localCheckpoint'ed (eager) per
    round, truncating lineage so each iteration's plan stays constant-size
    instead of nesting (driver-heap explosion on deep graphs), and the
    initial checkpoint stops the upstream pair-mining pipeline (LSH
    banding + verify joins) from re-executing every round.

    Convergence detection: the (count, xxhash64-sum) signature of the edge
    set — one single-row job per round; a false stop needs a 64-bit hash-sum
    collision at equal cardinality. ``connected_components.last_rounds``
    records the passes used (test hook)."""
    e = (
        edges.select(
            F.col(edges.columns[0]).alias("src"),
            F.col(edges.columns[1]).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("hi"),
            F.least("src", "dst").alias("lo"),
        )
        .distinct()
        .localCheckpoint()
    )

    def _sig(df: DataFrame):
        return df.agg(
            F.count("*").alias("n"),
            # decimal sum: exact and order-independent; a raw long sum
            # overflows under ANSI mode
            F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")).alias("h"),
        ).first()

    sig = _sig(e)
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star: for each u, hang every LARGER neighbor v onto
        # m = min(Γ(u) ∪ {u}); emitted (v, m) always has v > m
        nbr = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = nbr.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            nbr.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star on the (hi > lo)-oriented output: re-root hi and its
        # smaller neighbors at m = min of hi's neighborhood
        mins2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = large.join(mins2, "hi")
        new_e = (
            joined.filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(mins2.select("hi", F.col("m").alias("lo")))
            .distinct()
            .localCheckpoint()
        )
        new_sig = _sig(new_e)
        e = new_e
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    connected_components.last_rounds = rounds

    # fixpoint edge set = one star per component: hi -> component minimum;
    # vertices absent from any edge are their own component
    return vertices.select(F.col(id_col).alias("vid")).join(
        e.select(F.col("hi").alias("vid"), F.col("lo").alias("star")),
        "vid",
        "left",
    ).select(
        F.col("vid").alias(id_col),
        F.coalesce("star", "vid").alias("label"),
    )


_SQL_LSH_CLUSTERS = f"""
    WITH RECURSIVE {_SQL_SHINGLE_CTE},
    hashed AS (SELECT doc_id, {SQL_H32.format(s='shingle')} AS h FROM sh),
    sig AS (SELECT doc_id, {sql_minhash_aggs()} FROM hashed GROUP BY doc_id),
    banded AS ({_band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b
      FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
      JOIN cand ON cand.doc_a = s1.doc_id AND cand.doc_b = s2.doc_id
      JOIN cnt ca ON ca.doc_id = s1.doc_id
      JOIN cnt cb ON cb.doc_id = s2.doc_id
      GROUP BY s1.doc_id, s2.doc_id, ca.c, cb.c
      HAVING COUNT(*) * 1.0 / (ca.c + cb.c - COUNT(*)) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.doc, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    )
    SELECT doc AS doc_id, MIN(r) AS cluster_id,
           COUNT(*) OVER (PARTITION BY MIN(r)) AS cluster_size
    FROM reach GROUP BY doc
"""


@register("dedup_lsh_clusters", oracle=_SQL_LSH_CLUSTERS)
def dedup_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: MinHash+LSH pairs -> connected components
    -> every document labeled with its cluster's canonical (minimum)
    doc_id and the cluster size. Keeping `WHERE doc_id = cluster_id` (or
    ranking within cluster) IS the dedup; the full assignment is emitted so
    the oracle checks the clustering itself, not just survivor counts."""
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # alternating-star rounds grow with log(component size), so this cap
    # covers components far beyond anything a dedup graph produces
    labels = connected_components(
        d.select("doc_id"), pairs, id_col="doc_id", max_iter=50
    )
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.count("*").over(W.partitionBy("label")).alias("cluster_size"),
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup: cluster the embedding space, mine
# near-dup pairs ONLY within each cluster, group them, keep one survivor
# per group (SemDeDup, Abbas et al. 2023, arXiv:2303.09540). Clustering
# is the bucketing device that replaces global pair mining: candidate
# cost is sum over clusters of |cluster|^2, not |corpus|^2, and the pair
# join is an equi-join on cluster id — cluster-local by construction
# (plan-tested). Survivor rule per the paper: within a near-dup group
# keep the member LEAST similar to its cluster centroid (preserves
# diversity); ties break on vec_id for a total order.
# --------------------------------------------------------------------------
SEM_CENTROID_STRIDE = 50  # vec_id % 50 == 0 -> deterministic centroid seeds


def semantic_pair_screen(assign: DataFrame, screen_thr: float) -> DataFrame:
    """Cluster-local BLAS pair screen: one matmul per cluster group inside
    applyInPandas, emitting (vec_a, vec_b) with BLAS cosine >= screen_thr.
    Plan shape (pinned in test_plan_quality): FlatMapGroupsInPandas over
    hashpartitioning(cluster_id) — never a self-join materializing
    intra-cluster row pairs. Callers pass threshold - margin and rescore
    survivors with the exact fold (lossless-screen discipline)."""
    import numpy as np
    import pandas as pd

    def _cluster_screen(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["e"].notna()]
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        m = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        ai, bi = np.nonzero(np.triu(m @ m.T >= screen_thr, k=1))
        va, vb = ids[ai], ids[bi]
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi})

    return (
        assign.select("cluster_id", "vec_id", "e")
        .groupBy("cluster_id")
        .applyInPandas(_cluster_screen, schema="vec_a long, vec_b long")
    )


def _semantic_dedup(v: DataFrame, cent: DataFrame) -> DataFrame:
    """SemDeDup pipeline over (vec_id, e, nrm) vectors and a small
    (cent_id, ce, cnrm) centroid frame.

    Scale design: centroids are model state (broadcast / closure-shipped,
    k rows); assignment is a narrow map; pair mining shuffles once on
    cluster id and never crosses clusters; the survivor window runs per
    near-dup group (tiny partitions). The assignment frame feeds three
    plan branches (pair mining and the final labeling) and is persisted
    for the duration of the plan.

    Both quadratic-shaped stages use the lossless-BLAS-screen discipline
    (see dedup_embedding_cosine_pairs): the 1e-6 margin is ~6 orders
    wider than the worst fold-vs-BLAS summation disagreement, and every
    emitted value (ccos, pair membership) comes from the sequential fold
    the oracle replays:
    - assignment: one mapInPandas matmul against the collected centroid
      matrix keeps, per vector, only centroids within the margin of its
      BLAS max (almost always exactly 1); the exact fold ccos + (desc
      ccos, asc cent_id) tie-break then runs on that candidate set —
      N * ~1 joined rows instead of the N * k crossJoin + window.
    - pair mining: each cluster screens its own pairs with one matmul
      at threshold - margin; survivors take the exact fold filter."""
    from pyspark.sql import Window as W

    from psql_streamer_spark.operators.similarity import cosine_margin_candidates

    margin = 1e-6
    cand = cosine_margin_candidates(v, cent, margin)
    ccos = _sim_dot(F.col("e"), F.col("ce")) / (F.col("nrm") * F.col("cnrm"))
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cent_id"))
    assign = (
        cand.join(v, "vec_id")
        .join(F.broadcast(cent), "cent_id")
        .withColumn("ccos", ccos)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "e", "nrm", F.col("cent_id").alias("cluster_id"), "ccos")
        .persist()
    )
    pair_cand = semantic_pair_screen(assign, COSINE_DUP_THRESHOLD - margin)
    pa = assign.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    pb = assign.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    pair_cos = _sim_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    pairs = (
        pair_cand.join(pa, "vec_a")
        .join(pb, "vec_b")
        .filter(pair_cos >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b")
    )
    labels = connected_components(
        assign.select("vec_id"), pairs, id_col="vec_id", max_iter=50
    )
    w_grp = W.partitionBy("group_id")
    w_keep = W.partitionBy("group_id").orderBy(F.asc("ccos"), F.asc("vec_id"))
    result = (
        labels.select("vec_id", F.col("label").alias("group_id"))
        .join(assign.select("vec_id", "cluster_id", "ccos"), "vec_id")
        .select(
            "vec_id",
            "cluster_id",
            "group_id",
            F.count("*").over(w_grp).alias("group_size"),
            F.when(F.row_number().over(w_keep) == 1, 1).otherwise(0).alias("is_kept"),
        )
    )
    return persist_for(assign, result)


# shared SemDeDup SQL body: assignment argmax -> intra-cluster pairs ->
# recursive-CTE connected components -> survivor rule. Expects CTEs `v`
# (vec_id, e, nrm over ALL embeddings rows) and `cent` (cent_id, ce,
# cnrm) to be in scope; both the stride-seeded and the k-means-trained
# variants append it to their own centroid construction.
_SQL_SEMANTIC_BODY = f"""    assign AS (
      SELECT vec_id, e, nrm, cent_id AS cluster_id, ccos FROM (
        SELECT v.vec_id, v.e, v.nrm, cent.cent_id,
               {_SIM_SQL_DOT.format(a='v.e', b='cent.ce')} / (v.nrm * cent.cnrm)
                 AS ccos,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_SIM_SQL_DOT.format(a='v.e', b='cent.ce')}
                            / (v.nrm * cent.cnrm) DESC,
                          cent.cent_id ASC) AS rn
        FROM v, cent
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM assign a JOIN assign b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE {_SIM_SQL_DOT.format(a='a.e', b='b.e')} / (a.nrm * b.nrm)
              >= {COSINE_DUP_THRESHOLD}
    ),
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION SELECT vec_b, vec_a FROM pairs
    ),
    reach(vid, r) AS (
      SELECT vec_id, vec_id FROM assign
      UNION
      SELECT reach.vid, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ),
    grp AS (SELECT vid AS vec_id, MIN(r) AS group_id FROM reach GROUP BY vid)
    SELECT a.vec_id AS vec_id, a.cluster_id AS cluster_id, g.group_id AS group_id,
           COUNT(*) OVER (PARTITION BY g.group_id) AS group_size,
           CASE WHEN ROW_NUMBER() OVER (
                  PARTITION BY g.group_id
                  ORDER BY a.ccos ASC, a.vec_id ASC) = 1
                THEN 1 ELSE 0 END AS is_kept
    FROM assign a JOIN grp g ON g.vec_id = a.vec_id
"""

_SQL_SEMANTIC_CLUSTERS = f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             {_SIM_SQL_NORM.format(a='embedding::DOUBLE[]')} AS nrm
      FROM embeddings
    ),
    stride AS (SELECT GREATEST({SEM_CENTROID_STRIDE},
                 CAST(CEIL(SQRT((SELECT COUNT(*) FROM v))) AS BIGINT)) AS st),
    cent AS (
      SELECT vec_id AS cent_id, e AS ce, nrm AS cnrm
      FROM v WHERE vec_id % (SELECT st FROM stride) = 0
    ),
""" + _SQL_SEMANTIC_BODY


@register("dedup_semantic_clusters", oracle=_SQL_SEMANTIC_CLUSTERS)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with deterministic stride-seeded centroids (every 50th
    vector), fully oracle-replayable: assignment argmax, intra-cluster
    cosine pairs, connected components (recursive-CTE oracle), and the
    keep-least-central survivor rule all use the sequential-fold float
    arithmetic both engines evaluate bit-identically. The trained-
    centroid composition is dedup_semantic_clusters_kmeans below.

    The centroid stride scales as max(50, ceil(sqrt(N))) — identical
    arithmetic in the oracle SQL — so cell count and cell size both track
    sqrt(N) and assignment + intra-cell pair mining stay O(N^1.5)
    instead of the fixed-stride O(N^2/50) (see sim_ivf_topk for the same
    trade). Small SFs floor at 50, keeping the original centroid set."""
    v = _sim_vectors(spark, sf_dir).withColumn("nrm", _sim_norm(F.col("e")))
    stride = max(SEM_CENTROID_STRIDE, math.isqrt(max(0, v.count() - 1)) + 1)
    cent = v.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    return _semantic_dedup(v, cent)


_SQL_SEMANTIC_KMEANS = f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             {_SIM_SQL_NORM.format(a='embedding::DOUBLE[]')} AS nrm
      FROM embeddings
    ),
    vnn AS (SELECT vec_id, e FROM v WHERE e IS NOT NULL),
    kparam AS (SELECT GREATEST({_KM_K},
                 CAST(FLOOR(SQRT(GREATEST(0, (SELECT COUNT(*) FROM v) - 1)::DOUBLE))
                      AS BIGINT) + 1) AS k),
    {_sql_kmeans_cte('vnn', '(SELECT k FROM kparam)')},
    cent AS (
      SELECT cluster_id AS cent_id, ce,
             {_SIM_SQL_NORM.format(a='ce')} AS cnrm
      FROM km WHERE it = {_KM_ITERS}
    ),
""" + _SQL_SEMANTIC_BODY


@register("dedup_semantic_clusters_kmeans", oracle=_SQL_SEMANTIC_KMEANS)
def dedup_semantic_clusters_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SemDeDup composition: k-means-TRAINED centroids feeding
    the same cluster -> intra-cluster pair -> group -> survivor pipeline
    as the stride variant. HASH-CHECKED since r13: training uses the
    deterministic ordered-fold Lloyd's tier (similarity.py), so the
    oracle replays it via sql_kmeans_cte (dynamic k from the same
    GREATEST/isqrt arithmetic) ahead of the shared SemDeDup body.
    Pipeline invariants (one survivor per group, cluster-local groups,
    parity with the stride variant under centroid swap) are pinned in
    tests/test_quality_metrics.py.

    Scale shape: k is NOT fixed — a fixed k means cluster size grows with
    the corpus and intra-cluster pair mining degrades to O(N^2/k) (the
    10x sweep measured exactly that at k=8: 16.6x time for 10x data).
    k = max(KM_K, ceil(sqrt(N))) balances the two quadratic pressures:
    training cost O(N*k*iters) and pair cost O(N * N/k) both become
    O(N^1.5) — the same trade the SemDeDup paper makes by growing its
    cluster count with corpus size (50k clusters for LAION). Centroids
    stay broadcast-sized (sqrt(100TB-scale N) is ~1e4-1e5 rows of 64
    floats) and the count() that sizes k is a parquet metadata read."""
    from psql_streamer_spark.operators.similarity import (
        _kmeans_train_deterministic,
    )

    raw = _sim_vectors(spark, sf_dir)
    k = max(_KM_K, math.isqrt(max(0, raw.count() - 1)) + 1)
    v = raw.withColumn("nrm", _sim_norm(F.col("e")))
    _, km = _kmeans_train_deterministic(spark, sf_dir, k=k)
    cent = km.select(
        F.col("cluster_id").alias("cent_id"),
        F.col("ce"),
        _sim_norm(F.col("ce")).alias("cnrm"),
    )
    return _semantic_dedup(v, cent)


# --------------------------------------------------------------------------
# Signature-only Jaccard estimation: at true scale the exact verify is the
# expensive stage (it re-touches document text); the MinHash estimator —
# fraction of agreeing signature components — needs ONLY the 16-int
# signatures both sides already carry. This query emits estimate AND exact
# side by side for the candidate set, which is simultaneously the
# estimator-quality audit (|est - exact| is bounded by ~1/sqrt(16) per
# pair) and the production fast path (drop `jaccard`, keep `jaccard_est`).
# --------------------------------------------------------------------------
_mh_eq_sum = " + ".join(
    f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END" for j in range(16)
)

_SQL_MINHASH_ESTIMATE = f"""
    WITH {_SQL_SHINGLE_CTE},
    hashed AS (SELECT doc_id, {SQL_H32.format(s='shingle')} AS h FROM sh),
    sig AS (SELECT doc_id, {sql_minhash_aggs()} FROM hashed GROUP BY doc_id),
    banded AS ({_band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT cand.doc_a, cand.doc_b, ({_mh_eq_sum}) / 16.0 AS jaccard_est
      FROM cand
      JOIN sig a ON a.doc_id = cand.doc_a
      JOIN sig b ON b.doc_id = cand.doc_b
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
      JOIN est ON est.doc_a = s1.doc_id AND est.doc_b = s2.doc_id
      GROUP BY s1.doc_id, s2.doc_id
    )
    SELECT est.doc_a AS doc_a, est.doc_b AS doc_b, est.jaccard_est AS jaccard_est,
           COALESCE(n_common, 0) * 1.0
             / (ca.c + cb.c - COALESCE(n_common, 0)) AS jaccard
    FROM est
    LEFT JOIN inter ON inter.doc_a = est.doc_a AND inter.doc_b = est.doc_b
    JOIN cnt ca ON ca.doc_id = est.doc_a
    JOIN cnt cb ON cb.doc_id = est.doc_b
"""


@register("dedup_minhash_jaccard_estimate", oracle=_SQL_MINHASH_ESTIMATE)
def dedup_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated (signature-agreement) vs exact Jaccard for every LSH
    candidate pair. Probes the session's materialized signature and
    candidate indexes; the estimate path touches NO document text — at
    100 TB that is the difference between joining two 64-byte signature
    rows and re-shingling the corpus."""
    sig = _minhash_sig_index(spark, sf_dir)
    cand = _minhash_cand_index(spark, sf_dir)
    eq = sum(
        (F.when(F.col(f"a.mh{j}") == F.col(f"b.mh{j}"), 1).otherwise(0))
        for j in range(16)
    )
    est = (
        cand.join(sig.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
        .join(sig.alias("b"), F.col("doc_b") == F.col("b.doc_id"))
        .select("doc_a", "doc_b", (eq / 16.0).alias("jaccard_est"))
    )
    # exact side for the audit: candidate-driven, so cost stays
    # |candidates|-bounded; the production fast path simply drops this join
    exact_pairs = _jaccard_pairs(spark, sf_dir, candidates=cand, threshold=None)
    return est.join(exact_pairs, ["doc_a", "doc_b"])


# --------------------------------------------------------------------------
# Edit-distance verify: Levenshtein captures a character-level
# near-dup notion (OCR noise, small in-place edits) that set-based Jaccard
# under-detects when edits are spread across many shingles. Levenshtein is
# O(len^2) per pair — affordable ONLY because the LSH banding has already
# cut the pair space to collisions; both engines run their built-in
# implementation on a fixed 200-char prefix so the per-pair cost is
# bounded regardless of document length.
# --------------------------------------------------------------------------
LEV_PREFIX = 200
LEV_REL_THRESHOLD = 0.2  # edits <= 20% of the longer prefix

_SQL_LEV_PAIRS = f"""
    WITH {_SQL_SHINGLE_CTE},
    hashed AS (SELECT doc_id, {SQL_H32.format(s='shingle')} AS h FROM sh),
    sig AS (SELECT doc_id, {sql_minhash_aggs()} FROM hashed GROUP BY doc_id),
    banded AS ({_band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    pre AS (SELECT doc_id, substr(text, 1, {LEV_PREFIX}) AS p FROM documents)
    SELECT doc_a, doc_b,
           CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS edit_distance
    FROM cand
    JOIN pre pa ON pa.doc_id = doc_a
    JOIN pre pb ON pb.doc_id = doc_b
    WHERE levenshtein(pa.p, pb.p)
          <= {LEV_REL_THRESHOLD} * GREATEST(len(pa.p), len(pb.p))
"""


@register("dedup_levenshtein_pairs", oracle=_SQL_LEV_PAIRS)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by relative edit distance on 200-char
    prefixes. Reuses the session's materialized candidate index (the same
    build-once artifact dedup_minhash_lsh_pairs probes), joins the two
    prefix sides, and keeps pairs whose Levenshtein distance is <= 20% of
    the longer prefix. JVM-side levenshtein (codegen'd, with its own
    early-exit threshold form) — no Python in the path."""
    cand = _minhash_cand_index(spark, sf_dir)
    pre = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.substring("text", 1, LEV_PREFIX).alias("p")
    )
    lev = F.levenshtein(F.col("pa"), F.col("pb"))
    return (
        cand.join(
            pre.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa")),
            "doc_a",
        )
        .join(
            pre.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb")),
            "doc_b",
        )
        .filter(
            lev <= LEV_REL_THRESHOLD * F.greatest(F.length("pa"), F.length("pb"))
        )
        .select("doc_a", "doc_b", lev.cast("bigint").alias("edit_distance"))
    )


# --------------------------------------------------------------------------
# Exact-substring dedup (suffix-array-style): maximal cross-doc verbatim
# token spans, the canonical "50+ token overlap" family of Lee et al. 2021
# ("Deduplicating Training Data Makes Language Models Better",
# arXiv:2107.06499). A distributed suffix array is replaced by the
# equivalent sorted-shingle-chain form: positional k-token shingles ->
# inverted-index join across docs -> maximal-run (gaps-and-islands)
# detection per (doc pair, diagonal). A shared verbatim span of S tokens
# is EXACTLY a run of S-k+1 consecutive positional shingle matches on one
# diagonal (pos_a - pos_b constant), so maximal islands reconstruct the
# maximal spans — no approximation.
#
# Scale (100 TB): everything shuffles on the shingle (the inverted index
# key) and then on (doc_a, doc_b, diag) — pair-bounded, never corpus-
# quadratic, because positional k=8-gram collisions across UNRELATED docs
# are rare; the skew risk is boilerplate shingles (license headers) whose
# doc-frequency blowup mirrors the LSH hot-bucket problem and takes the
# same guard (df-cap: drop shingles in > cap docs BEFORE the join; a
# capped shingle can split a span into two reported islands, never drop
# one entirely, since a 50-token span carries 43 distinct positions).
# Span growth is bounded: islands per doc pair <= matches / 1, and each
# island aggregates to ONE row — output is O(true shared spans).
# --------------------------------------------------------------------------
SPAN_SHINGLE_K = 8
SPAN_MIN_TOKENS = 20

# Fail-fast ceiling for the uncapped GROUND-TRUTH span miner. Its pair
# mine groups each shingle's FULL posting list into one aggregation
# buffer (collect_list below) before any df filter can apply — a
# boilerplate shingle with df ~ corpus therefore turns the old
# sort-merge self-join's graceful disk spill into a single-task OOM
# (r7 advice). The docstrings already declare the uncapped tiers
# sample-scale verifiers; this guard makes a corpus-scale invocation
# fail immediately with the production alternative named instead of
# dying mid-shuffle. The ceiling sits above every scale the tier has
# actually been measured at (sf10 = 500k docs, isolated, 21.6 s) and
# below the tiers where it was measured infeasible (sf30 = 1.5M docs);
# deliberate larger runs can raise it via the env knob.
GROUND_TRUTH_MAX_DOCS = int(
    os.environ.get("SPARK_GRAFT_GROUND_TRUTH_MAX_DOCS", "1000000")
)


def _ground_truth_scale_guard(n_docs: int, op: str, production_alt: str) -> None:
    """Raise with a clear message when a declared ground-truth tier is
    invoked at corpus scale (> GROUND_TRUTH_MAX_DOCS documents)."""
    if n_docs > GROUND_TRUTH_MAX_DOCS:
        raise ValueError(
            f"{op} is a GROUND-TRUTH verification tier (quadratic in "
            f"per-shingle doc frequency, unbounded aggregation buffers) "
            f"and is guarded at {GROUND_TRUTH_MAX_DOCS} documents; this "
            f"corpus has {n_docs}. Use {production_alt} for production "
            f"scale, or raise SPARK_GRAFT_GROUND_TRUTH_MAX_DOCS to force "
            f"a deliberate sample-scale measurement."
        )
#: Production boilerplate guard: shingles appearing in more than this many
#: documents are dropped before the inverted-index join. The self-join is
#: quadratic in per-shingle doc frequency, and a real corpus's boilerplate
#: (license headers, navigation chrome shared by 10^4+ docs) makes the
#: uncapped form a blow-up; the cap bounds per-shingle join fan-out to
#: O(cap^2) and total candidate volume to O(N_shingles * cap).
SPAN_DOC_FREQ_CAP = 64


def _sql_exact_substring_spans(cap: int | None) -> str:
    df_ctes = (
        f""",
    keep AS (SELECT shingle FROM s0 GROUP BY shingle
             HAVING COUNT(DISTINCT doc_id) <= {cap}),
    s AS (SELECT s0.* FROM s0 JOIN keep USING (shingle))"""
        if cap is not None
        else ",\n    s AS (SELECT * FROM s0)"
    )
    return f"""
    WITH w AS (SELECT doc_id, {SQL_WORDS.format(t='text')} AS ws FROM documents),
    shp AS (SELECT doc_id, unnest(range(1, len(ws) - {SPAN_SHINGLE_K} + 2)) AS pos,
                   ws
            FROM w),
    s0 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                  array_to_string(ws[pos:pos+{SPAN_SHINGLE_K}-1], ' ') AS shingle
           FROM shp){df_ctes},
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
             a.pos - b.pos AS diag
      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT doc_a, doc_b, diag, pos_a,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
      FROM m
    )
    SELECT doc_a, doc_b,
           MIN(pos_a) AS start_a,
           MIN(pos_a) - diag AS start_b,
           COUNT(*) + {SPAN_SHINGLE_K} - 1 AS span_tokens
    FROM runs GROUP BY doc_a, doc_b, diag, island
    HAVING COUNT(*) + {SPAN_SHINGLE_K} - 1 >= {SPAN_MIN_TOKENS}
"""


_SQL_EXACT_SUBSTRING_SPANS = _sql_exact_substring_spans(None)


@register("dedup_exact_substring_spans", oracle=_SQL_EXACT_SUBSTRING_SPANS, sample_scale=True)
def dedup_exact_substring_spans(
    spark: SparkSession, sf_dir: str, doc_freq_cap: int | None = None
) -> DataFrame:
    """Maximal verbatim token spans (>= SPAN_MIN_TOKENS) shared across
    documents — one row per (doc pair, span) with 1-based token offsets
    in both docs. ``doc_freq_cap`` enables the boilerplate guard (see
    section banner); None keeps every shingle — the GROUND-TRUTH tier,
    quadratic in per-shingle doc frequency. The registered production
    tier is dedup_exact_substring_spans_capped below (same dual-tier
    discipline as the exact-vs-blocked cosine pair miners)."""
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    if doc_freq_cap is None:
        # cheap zero-column count job; see _ground_truth_scale_guard
        _ground_truth_scale_guard(
            d.count(),
            "dedup_exact_substring_spans",
            "dedup_exact_substring_spans_capped",
        )
    parallelism = spark.sparkContext.defaultParallelism
    # positional shingles: pos is 1-based to mirror SQL list slicing
    npos = F.size("ws") - SPAN_SHINGLE_K + 1
    positions = F.when(
        npos >= 1, F.sequence(F.lit(1), npos)
    ).otherwise(F.array().cast("array<int>"))
    # Shingle strings (~50 B of text each) never leave the map side: every
    # downstream equality (df count, df-cap join, inverted-index self-join)
    # keys on a pair of independent native xxhash64 values instead —
    # 16 bytes per row through the postings shuffle of the full
    # positional-shingle frame (ONE shuffle total since r7 — see the
    # grouped-pair comment below). Measured at sf10, ISOLATED (fresh
    # session, this query only): 89.6 s with raw string keys -> 34.9 s
    # at the r6 rekey -> 21.6 s re-measured r7; IN-SWEEP (after ~160
    # queries' session state) the same plan read 66.7 s in
    # SCALE_r06_sf10.json — the gap is accumulated JVM/page-cache state,
    # not the operator (see SCALE.md's isolated-remeasure protocol). The
    # md5/conv variant tried between the string and xxhash64 forms paid
    # ~30% extra CPU at small SFs for the hex parse. Independence
    # requires the seed literal FIRST: Spark's multi-arg xxhash64 folds
    # left-to-right with the running hash as the next seed, so
    # xxhash64(shingle, 1) would be a pure function of k1 (any k1
    # collision is automatically a k2 collision — r6 advice);
    # xxhash64(1, shingle) hashes the shingle under a different
    # effective seed, so a pair collision needs the same text to collide
    # under two unrelated seeds (~2^-128 for non-adversarial text — the
    # same hash-keying tolerance the minhash/banding family already
    # accepts; the DuckDB oracle joins the raw strings, so a collision
    # would surface as a parity failure).
    shingle = F.concat_ws(" ", F.slice("ws", F.col("ipos"), SPAN_SHINGLE_K))

    def posts(frame):
        return (
            frame.repartition(parallelism, "doc_id")
            .select("doc_id", words_expr().alias("ws"))
            .select("doc_id", F.explode(positions).alias("ipos"), "ws")
            .select(
                "doc_id",
                F.col("ipos").cast("bigint").alias("pos"),
                F.xxhash64(shingle).alias("k1"),
                F.xxhash64(F.lit(1), shingle).alias("k2"),
            )
        )

    s = posts(d)
    if doc_freq_cap is not None:
        # capped tier only: the ground-truth tier needs every group, so
        # the aggregation-buffer screen (exactly lossless under a cap —
        # see _sampled_boilerplate_screen) applies just here
        s = _sampled_boilerplate_screen(
            s,
            posts(d.sample(fraction=_SCREEN_SAMPLE_FRACTION, seed=_SCREEN_SEED)),
            ("k1", "k2"),
            doc_freq_cap,
        )
    # ONE shuffle of the positional-shingle frame, total. The r6 form ran
    # the df-cap as aggregate + join-back and then a sort-merge SELF-join
    # — with near-unique shingle keys (70.7M rows -> 69M keys at sf30,
    # the cap removing only ~600 rows) that re-shuffled and re-sorted the
    # full frame ~5x, and the cost curve broke between sf10 and sf30
    # (21.6 s -> 143.6 s isolated, ~6.7x for 3x data). Grouping each
    # shingle's postings into an array instead makes the df filter an
    # array expression and pair generation a per-group explode that only
    # touches COLLIDING groups (ndocs >= 2 — a vanishing fraction), after
    # which every downstream frame is |pairs|-sized. Measured isolated:
    # sf30 143.6 -> 79.6 s, same 70,194 spans; the 2^-128 dual-hash key
    # discipline (see above) is unchanged — the group key IS (k1, k2).
    g = s.groupBy("k1", "k2").agg(
        F.collect_list(F.struct("doc_id", "pos")).alias("es")
    )
    ndocs = F.size(F.array_distinct(F.transform("es", lambda e: e["doc_id"])))
    keep = ndocs >= 2
    if doc_freq_cap is not None:
        keep = keep & (ndocs <= doc_freq_cap)
    m = (
        g.filter(keep)
        .select(F.explode("es").alias("e1"), "es")
        .select("e1", F.explode("es").alias("e2"))
        .filter(F.col("e1.doc_id") < F.col("e2.doc_id"))
        .select(
            F.col("e1.doc_id").alias("doc_a"),
            F.col("e2.doc_id").alias("doc_b"),
            F.col("e1.pos").alias("pos_a"),
            (F.col("e1.pos") - F.col("e2.pos")).alias("diag"),
        )
    )
    w_run = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = m.withColumn(
        "island", F.col("pos_a") - F.row_number().over(w_run)
    )
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.count("*") + SPAN_SHINGLE_K - 1).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= SPAN_MIN_TOKENS)
        .select(
            "doc_a",
            "doc_b",
            "start_a",
            (F.col("start_a") - F.col("diag")).alias("start_b"),
            "span_tokens",
        )
    )


@register(
    "dedup_exact_substring_spans_capped",
    oracle=_sql_exact_substring_spans(SPAN_DOC_FREQ_CAP),
)
def dedup_exact_substring_spans_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION tier of exact-substring span dedup: identical maximal-
    span reconstruction, but shingles present in more than
    SPAN_DOC_FREQ_CAP documents are dropped BEFORE the inverted-index
    self-join. Why this is the registered scale default: the join's
    candidate volume is sum over shingles of df^2, and boilerplate text
    (license headers, navigation chrome) gives a handful of shingles
    df ~ corpus size — quadratic blow-up the synthetic sweep corpus
    cannot exhibit but any real crawl does. The cap bounds per-shingle
    fan-out to cap^2 and total candidates to O(N_shingles * cap).
    Effect on results: a capped shingle can SPLIT a reported span into
    two islands (or drop spans made entirely of >cap-frequency text —
    which is precisely the boilerplate a curator does not want counted),
    never invent one; a 50-token genuine span carries 43 distinct
    positional shingles, so organic spans survive. The uncapped op above
    stays registered as the ground-truth verifier; both tiers carry
    matching DuckDB oracles (the cap is a df-filtered CTE there)."""
    return dedup_exact_substring_spans(spark, sf_dir, doc_freq_cap=SPAN_DOC_FREQ_CAP)


# --------------------------------------------------------------------------
# Dedup survivors: the corpus AFTER near-dup removal, audited per source.
# --------------------------------------------------------------------------
@register(
    "dedup_survivor_stats",
    oracle=f"""
    WITH clusters AS ({_SQL_LSH_CLUSTERS})
    SELECT d.source AS source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE c.doc_id = c.cluster_id) AS n_survivors,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_before,
           CAST(SUM(d.n_chars) FILTER (WHERE c.doc_id = c.cluster_id)
                AS BIGINT) AS chars_after
    FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    GROUP BY d.source
    """,
)
def dedup_survivor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last step of the dedup pipeline: keep each cluster's canonical
    (minimum-id) document, drop the rest, and report the per-source
    reduction — doc and char counts before/after. This is the number a
    corpus curator actually reads ("dedup removed N% of source X") and the
    sanity gate before training data ships; survivors themselves are the
    `doc_id = cluster_id` filter. Adds one broadcast-joinable aggregate on
    top of dedup_lsh_clusters — the clustering cost dominates, already
    round-logarithmic."""
    clusters = dedup_lsh_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    surv = F.col("doc_id") == F.col("cluster_id")
    return (
        clusters.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(surv, 1)).alias("n_survivors"),
            F.sum("n_chars").cast("bigint").alias("chars_before"),
            F.sum(F.when(surv, F.col("n_chars"))).cast("bigint").alias(
                "chars_after"
            ),
        )
    )


# --------------------------------------------------------------------------
# Cross-source duplication matrix: which SOURCES copy from each other.
# Provenance analytics over the near-dup pair graph — a crawl pipeline
# uses this to find mirror domains and decide source-level dedup order.
# --------------------------------------------------------------------------
@register(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH pairs AS ({_SQL_MINHASH_LSH})
    SELECT LEAST(da.source, db.source) AS source_x,
           GREATEST(da.source, db.source) AS source_y,
           COUNT(*) AS n_pairs,
           MIN(jaccard) AS min_jaccard,
           MAX(jaccard) AS max_jaccard
    FROM pairs
    JOIN documents da ON da.doc_id = doc_a
    JOIN documents db ON db.doc_id = doc_b
    GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts and mean similarity per unordered source pair
    (diagonal = within-source duplication). Rides the materialized
    verified-pairs index — the matrix itself is a broadcast-sized join of
    the pair list against the (doc_id, source) projection, grouped on the
    symmetrized key. min/max (not avg) of the similarity: order-
    independent aggregates stay bit-identical cross-engine, where a
    double avg depends on summation order."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Containment near-dup pairs: intersection over the SMALLER gram set.
# Jaccard under-scores subset duplication (a doc embedded inside a much
# larger one dilutes the union); containment >= threshold catches exactly
# that partial-overlap class, which web-corpus pipelines quarantine
# separately from symmetric near-dups. Same inverted-index shape as the
# Jaccard verifier — only the denominator changes.
# --------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.5

_SQL_CONTAINMENT_PAIRS = f"""
    WITH {_SQL_SHINGLE_CTE},
    cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           n_common * 1.0 / LEAST(ca.c, cb.c) AS containment
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE n_common * 1.0 / LEAST(ca.c, cb.c) >= {CONTAINMENT_THRESHOLD}
"""


@register("dedup_ngram_containment_pairs", oracle=_SQL_CONTAINMENT_PAIRS, sample_scale=True)
def dedup_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUND-TRUTH tier: exact containment over the full inverted-index
    self-join. Candidate volume is sum over shingles of df^2 — quadratic
    in any shingle's document frequency. MEASURED at sf30 (r7): the
    postings join spilled past the machine's 66 GB of free disk and
    aborted (`No space left on device`), which is this tier's honest
    scale verdict — like `dedup_exact_substring_spans` and the exact
    cosine pairs it is a verifier you run on samples, not a corpus-wide
    production pass. The registered scale defaults are
    `dedup_ngram_containment_pairs_capped` (df-capped postings, below)
    and, for symmetric near-dups, `dedup_minhash_lsh_pairs` (banded
    candidates, exact-Jaccard verify)."""
    sh = doc_shingles(load_table(spark, "documents", sf_dir)).persist()
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("c"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    containment = F.col("n_common") * 1.0 / F.least(F.col("ca.c"), F.col("cb.c"))
    result = (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select("doc_a", "doc_b", containment.alias("containment"))
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )
    return persist_for(sh, result)


# Production containment tier: shingles in more than NGRAM_DOC_FREQ_CAP
# documents are dropped from BOTH the numerator and the denominator —
# stopword-filtered containment. 64 is the same knob value as the
# capped-substring tier (SPAN_DOC_FREQ_CAP): high enough that organic
# shared passages (df 2..10s) are untouched, low enough that boilerplate
# (df ~ corpus size) cannot produce df^2 candidate blow-up.
NGRAM_DOC_FREQ_CAP = 64

_SQL_CONTAINMENT_PAIRS_CAPPED = f"""
    WITH {_SQL_SHINGLE_CTE},
    rare AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING COUNT(*) <= {NGRAM_DOC_FREQ_CAP}),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS c FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           n_common * 1.0 / LEAST(ca.c, cb.c) AS containment
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE n_common * 1.0 / LEAST(ca.c, cb.c) >= {CONTAINMENT_THRESHOLD}
"""


def _sampled_boilerplate_screen(
    postings: DataFrame,
    sampled_postings: DataFrame,
    key_cols: tuple[str, ...],
    cap: int,
) -> DataFrame:
    """Aggregation-buffer guard for the one-shuffle postings miners.

    The collect_set/collect_list groupBys build a shingle's FULL posting
    array in one aggregation buffer BEFORE the df-cap filter sees it —
    fine at every tested lake (sf100 peaked well inside executor
    memory), but a universal boilerplate shingle in a real 100 TB corpus
    (df ~ 1e8-1e9) is a multi-GB array in ONE task's buffer: an OOM
    spike no executor count fixes. Since the result keeps only groups
    with df <= cap, any key provably over the cap can be dropped BEFORE
    the aggregation without changing one output row.

    Detection is the salted_join sampled-skew pattern, sharpened to an
    EXACTLY-lossless rule: ``sampled_postings`` must be built from a
    seeded DOCUMENT-level sample of the corpus through the same key
    derivation; a key is flagged when its sampled DISTINCT-doc count
    exceeds ``cap``. A true df <= cap key has at most cap docs in the
    whole corpus, so it can never produce more than cap sampled docs —
    zero false flags, by counting, not probability. A key with
    df >> cap/fraction is flagged with overwhelming probability
    (Binomial mean df*fraction), so survivor buffers are bounded at
    ~cap/fraction entries (~6.4k at the 1% default — a few hundred KB)
    instead of df. The screen's own cost is tokenizing the sampled
    fraction plus a map-side-combined count and a Zipf-head-sized
    broadcast anti-join — it does NOT rescan the full corpus."""
    hot = (
        sampled_postings.groupBy(*key_cols)
        .agg(F.countDistinct("doc_id").alias("_sdf"))
        .filter(F.col("_sdf") > cap)
        .select(*[F.col(c).alias(f"_hot_{c}") for c in key_cols])
    )
    cond = None
    for c in key_cols:
        e = postings[c] == F.col(f"_hot_{c}")
        cond = e if cond is None else (cond & e)
    return postings.join(F.broadcast(hot), cond, "left_anti")


_SCREEN_SAMPLE_FRACTION = 0.01
_SCREEN_SEED = 42


def _capped_pair_counts(spark: SparkSession, sf_dir: str):
    """Shared df-capped postings mine: one shuffle from raw postings to
    (doc_a, doc_b, n_common) plus the per-doc capped shingle counts.
    Both capped pair tiers (containment + Jaccard) differ only in the
    score expression they put over these frames."""
    # distinct=False + collect_set: set semantics land inside the ONE
    # postings aggregation instead of a separate 1B-row distinct shuffle
    # before it — the per-(doc,shingle) dedup and the df grouping are the
    # same hash exchange
    d = load_table(spark, "documents", sf_dir)

    def posts(frame):
        # two independent 64-bit keys (seed-first second hash, same
        # discipline as the span miner at dedup.py:1693): a single
        # xxhash64 key has expected merged-shingle pairs ~ N^2/2^65 —
        # O(1..30) at this tier's own 1e8-1e9-shingle production scale,
        # where no oracle runs — while the pair is ~2^-128; +8 B/row on
        # the postings exchange buys that
        return doc_shingles(frame, distinct=False).select(
            F.xxhash64("shingle").alias("h1"),
            F.xxhash64(F.lit(1), "shingle").alias("h2"),
            "doc_id",
        )

    screened = _sampled_boilerplate_screen(
        posts(d),
        posts(d.sample(fraction=_SCREEN_SAMPLE_FRACTION, seed=_SCREEN_SEED)),
        ("h1", "h2"),
        NGRAM_DOC_FREQ_CAP,
    )
    g = (
        screened.groupBy("h1", "h2")
        .agg(F.collect_set("doc_id").alias("ds"))
        .filter(F.size("ds") <= NGRAM_DOC_FREQ_CAP)
        .persist()  # feeds both the pair mine and the per-doc counts
    )
    cnt = (
        g.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("c"))
    )
    # posexplode + suffix-slice generates exactly C(df,2) rows per group;
    # the naive explode x explode + e1<e2 filter streams df^2 rows first —
    # 2x the volume through the dominant stage (~2B rows at sf100)
    pairs = (
        g.filter(F.size("ds") >= 2)
        .select(F.posexplode("ds").alias("i", "e1"), "ds")
        .select(
            "e1",
            F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("e2"),
        )
        # e1 != e2 guards the (now ~2^-128) hash-merge case: a
        # collision-merged group could pair a doc with itself, and a
        # self-pair would have no counterpart in the string-keyed oracle
        .filter(F.col("e1") != F.col("e2"))
        .groupBy(
            F.least("e1", "e2").alias("doc_a"),
            F.greatest("e1", "e2").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    return g, cnt, pairs


@register(
    "dedup_ngram_containment_pairs_capped",
    oracle=_SQL_CONTAINMENT_PAIRS_CAPPED,
)
def dedup_ngram_containment_pairs_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION tier of containment dedup: same score, but shingles
    present in more than NGRAM_DOC_FREQ_CAP documents are excluded from
    both the intersection and the per-doc counts before any join runs.
    Motivated the same way as `dedup_exact_substring_spans_capped`: the
    uncapped postings self-join is O(sum df^2) and boilerplate shingles
    have df ~ corpus size — at sf30 the uncapped tier measurably
    exhausted 66 GB of spill disk. With the cap, candidates are bounded
    by O(N_shingles * cap) and the whole mine is ONE postings shuffle:
    group raw (non-distinct) postings by shingle-hash with collect_set —
    the per-(doc,shingle) dedup and the df grouping ride the same hash
    exchange, eliminating a separate corpus-wide distinct pass (measured
    at sf100/5M docs: 463 -> 307 s; sf3..sf30 within machine spread) —
    filter 2 <= df <= cap, then posexplode+suffix-slice exactly C(df,2)
    pairs per group. Shingle strings never shuffle — grouping keys on a
    pair of independent native xxhash64 values (seed-first second key,
    ~2^-128 merge odds; a single 64-bit key would expect O(1..30) merged
    shingles at the tier's own 1e8-1e9-shingle scale, where the
    string-keyed DuckDB oracle never runs — same discipline as the
    capped-substring tier). Dropping >cap shingles from the denominator
    too makes the score a stopword-filtered containment: a doc made
    ENTIRELY of boilerplate reports no pairs (a curator quarantines it by
    df-profile instead), while organic subset-duplication keeps its exact
    score because every shingle it shares survives the cap. Measured
    decade (current form): ~22 s at sf10, ~94-112 s at sf30, 307 s at
    sf100 (5M docs) — the sf30->sf100 step is 2.8-3.3x for 3.33x data,
    at/under linear."""
    g, cnt, pairs = _capped_pair_counts(spark, sf_dir)
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    containment = F.col("n_common") * 1.0 / F.least(F.col("ca.c"), F.col("cb.c"))
    result = (
        pairs.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select("doc_a", "doc_b", containment.alias("containment"))
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )
    return persist_for(g, result)


_SQL_JACCARD_PAIRS_CAPPED = f"""
    WITH {_SQL_SHINGLE_CTE},
    rare AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING COUNT(*) <= {NGRAM_DOC_FREQ_CAP}),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS c FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           n_common * 1.0 / (ca.c + cb.c - n_common) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE n_common * 1.0 / (ca.c + cb.c - n_common) >= {JACCARD_THRESHOLD}
"""


@register("dedup_ngram_jaccard_pairs_capped", oracle=_SQL_JACCARD_PAIRS_CAPPED)
def dedup_ngram_jaccard_pairs_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION tier of exact-Jaccard pair mining over the df-capped
    postings index — the direct sibling of
    `dedup_ngram_containment_pairs_capped` (same one-shuffle
    `_capped_pair_counts` mine, Jaccard denominator instead of the
    min-count one, stopword-filtered score semantics with the same
    cap-honesty trade). Two production paths now exist for symmetric
    near-dups: `dedup_minhash_lsh_pairs` (banded candidates + exact
    verify — probabilistic recall, lowest cost, LRU-warm serving path)
    and this tier (deterministic recall over sub-boilerplate shingles,
    one bounded postings shuffle — the shape to pick when a curator
    needs every pair whose overlap lives in <= cap-frequency text, not
    just LSH-recalled ones). The uncapped ground-truth miner stays
    registered for sample-scale verification."""
    g, cnt, pairs = _capped_pair_counts(spark, sf_dir)
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    jac = F.col("n_common") * 1.0 / (
        F.col("ca.c") + F.col("cb.c") - F.col("n_common")
    )
    result = (
        pairs.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return persist_for(g, result)


# --------------------------------------------------------------------------
# Incremental dedup: today's ingest delta vs the whole corpus. The
# production shape at 100 TB — the accumulated corpus's band index is
# already materialized (here: rebuilt, same plan); only delta x corpus
# candidates are mined, so old-old pairs are never re-verified. Cost
# scales with |delta| x collision rate, not |corpus|^2.
# --------------------------------------------------------------------------
DELTA_BUCKETS = 10
DELTA_BUCKET = 7  # deterministic ~10% "new today" slice of doc_ids

_SQL_DELTA_PRED = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
    f" % {DELTA_BUCKETS} = {DELTA_BUCKET}"
)

_SQL_INCREMENTAL_LSH = f"""
    WITH {_SQL_SHINGLE_CTE},
    hashed AS (SELECT doc_id, {SQL_H32.format(s='shingle')} AS h FROM sh),
    sig AS (SELECT doc_id, {sql_minhash_aggs()} FROM hashed GROUP BY doc_id),
    banded AS ({_band_selects}),
    newdocs AS (SELECT doc_id FROM documents WHERE {_SQL_DELTA_PRED}),
    cand AS (
      SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                      GREATEST(a.doc_id, b.doc_id) AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id <> b.doc_id
      WHERE a.doc_id IN (SELECT doc_id FROM newdocs)
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
    inter AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
      JOIN cand ON cand.doc_a = s1.doc_id AND cand.doc_b = s2.doc_id
      GROUP BY s1.doc_id, s2.doc_id
    )
    SELECT doc_a, doc_b,
           n_common * 1.0 / (ca.c + cb.c - n_common) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE n_common * 1.0 / (ca.c + cb.c - n_common) >= {JACCARD_THRESHOLD}
"""


_SQL_EXACT_INCREMENTAL = f"""
    WITH newdocs AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE {_SQL_DELTA_PRED}
    ),
    prior AS (
      SELECT doc_id, md5(text) AS fp FROM documents
      WHERE NOT ({_SQL_DELTA_PRED})
    )
    SELECT n.doc_id AS new_doc_id,
           MIN(p.doc_id) AS canonical_doc_id,
           COUNT(p.doc_id) AS n_prior_copies
    FROM newdocs n LEFT JOIN prior p ON p.fp = n.fp
    GROUP BY n.doc_id
"""


@register("dedup_exact_incremental", oracle=_SQL_EXACT_INCREMENTAL)
def dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate verdict for the ingest delta: ONE row per
    "arrived today" document (the md5-bucket delta convention shared by
    all incremental tiers) with the count of byte-identical PRIOR-corpus
    copies and the earliest one as canonical (NULL / 0 when the arrival
    is novel) — the cheapest and most common production admission check
    ("is this already in the lake"), the degenerate-threshold sibling of
    dedup_incremental_lsh_pairs, and per-arrival-shaped like the fused
    gate's verdicts so it composes as an admission signal.

    Plan shape: TWO broadcast joins, zero corpus shuffles. An outer join
    that keeps the delta side cannot broadcast (the preserved side must
    stream), so the novel rows are recovered in a second delta-sized
    step: (1) prior INNER JOIN broadcast(delta fingerprints) → grouped
    prior-copy stats, delta-sized; (2) delta LEFT JOIN broadcast(those
    stats). The prior corpus is one scan-side hash probe either way. At
    100 TB the fingerprint is computed at ingest and the prior side is
    a bucketed fingerprint index (the band-index discipline); this op
    expresses the probe's join shape."""
    d = load_table(spark, "documents", sf_dir)
    from psql_streamer_spark.operators.mlprep import md5_bucket

    return exact_incremental_verdicts(
        d, md5_bucket(F.col("doc_id"), DELTA_BUCKETS) == DELTA_BUCKET
    )


def exact_incremental_verdicts(d: DataFrame, is_delta) -> DataFrame:
    """dedup_exact_incremental's body over any (doc_id, text) frame with
    an ``is_delta`` membership Column — split out so the dup path (the
    synthetic corpora contain no cross-boundary byte copies) is pinned
    on a planted frame in tests."""
    fp = d.select("doc_id", F.md5("text").alias("fp"))
    new = fp.filter(is_delta).select(
        F.col("doc_id").alias("new_doc_id"), "fp"
    )
    prior = fp.filter(~is_delta)
    matches = (
        prior.join(F.broadcast(new), "fp")
        .groupBy("new_doc_id")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_prior_copies"),
        )
    )
    return new.select("new_doc_id").join(
        F.broadcast(matches), "new_doc_id", "left"
    ).select(
        "new_doc_id",
        "canonical_doc_id",
        F.coalesce("n_prior_copies", F.lit(0))
        .cast("bigint")
        .alias("n_prior_copies"),
    )


@register("dedup_incremental_lsh_pairs", oracle=_SQL_INCREMENTAL_LSH)
def dedup_incremental_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs touching the ingest delta (md5-bucket stand-in for
    "arrived today"): the delta's band entries probe the full band index,
    so every delta-corpus and delta-delta collision surfaces while
    corpus-corpus pairs (already mined on previous days) are skipped.

    All three index frames (shingle sets, minhash signatures, the banded
    index pre-partitioned on its join key) come from the SAME
    LRU-materialized registry dedup_minhash_lsh_pairs builds — an
    earlier form rebuilt shingles + signatures for the full corpus per
    invocation and re-shuffled the banded corpus on every delta probe,
    which measured super-linear at sf10 (90.6 s, ~N^1.7 over sf1→sf10).
    Probing the cached index instead makes each invocation cost
    O(|delta| bands shuffled + |candidates| verified): the cached banded
    frame is stored already hash-partitioned on (band, band_key), so the
    delta-vs-corpus join reads it in place with no corpus-side Exchange.
    The disk-backed variant of the same discipline (the band index as a
    bucketed table that survives the session and is appended at ingest)
    is dedup_incremental_materialized_pairs below; this tier is the
    serving-session form. Exact-Jaccard verification runs on candidate
    docs only, probed out of the cached shingle-set arrays."""
    from psql_streamer_spark.operators.mlprep import md5_bucket

    sets = _shingle_sets_index(spark, sf_dir)
    sig = _minhash_sig_index(spark, sf_dir)

    def _build_banded() -> DataFrame:
        bands = F.array(
            *[
                F.struct(F.lit(b).alias("band"), key.alias("band_key"))
                for b, key in band_key_exprs()
            ]
        )
        return (
            sig.select("doc_id", F.explode(bands).alias("bk"))
            .select(
                "doc_id",
                F.col("bk.band").alias("band"),
                F.col("bk.band_key").alias("band_key"),
            )
            # cache the frame ALREADY partitioned on the probe-join key:
            # InMemoryTableScan reports the cached plan's partitioning, so
            # every later delta probe joins against it with zero
            # corpus-side Exchange — the in-session analogue of the
            # bucketed band_index_table
            .repartition(spark.sparkContext.defaultParallelism, "band", "band_key")
        )

    banded = INDEX_CACHE.get_or_build(spark, "dedup_band_index", sf_dir, _build_banded)

    is_new = md5_bucket(F.col("doc_id"), DELTA_BUCKETS) == DELTA_BUCKET
    delta_banded = banded.filter(is_new).select(
        F.col("doc_id").alias("n_doc_id"),
        F.col("band").alias("n_band"),
        F.col("band_key").alias("n_band_key"),
    )
    cand = (
        delta_banded.join(
            banded,
            (F.col("n_band") == F.col("band"))
            & (F.col("n_band_key") == F.col("band_key"))
            & (F.col("n_doc_id") != F.col("doc_id")),
        )
        .select(
            F.least("n_doc_id", "doc_id").alias("doc_a"),
            F.greatest("n_doc_id", "doc_id").alias("doc_b"),
        )
        .distinct()
        # the verify walks candidates three times (ids + both pair joins)
        .persist()
    )
    result = _jaccard_pairs(spark, sf_dir, candidates=cand, shingle_sets=sets)
    return persist_for(cand, result)


# --------------------------------------------------------------------------
# Incremental dedup against a MATERIALIZED band index — the docstring
# above made the production claim; this operator exercises it. The corpus
# band index is written ONCE as a bucketed table (bucketed on the band
# join key, the "written at ingest" artifact); the delta probes it with a
# bucket-local join — the corpus is never re-shuffled, plan-asserted.
# --------------------------------------------------------------------------
BAND_INDEX_BUCKETS = 16

# the hot-bucket reporting threshold for the index-stats diagnostic: a
# bucket bigger than this contributes O(cap^2) candidate pairs on its
# own — the same magnitude minhash_lsh_candidates' optional guard exists
# for (its callers pick the enforcement cap per corpus; this constant
# only defines what the REPORT counts as hot, shared with its oracle)
BAND_BUCKET_CAP = 64

_SQL_BAND_INDEX_STATS = f"""
    WITH {_SQL_SHINGLE_CTE},
    hashed AS (SELECT doc_id, {SQL_H32.format(s='shingle')} AS h FROM sh),
    sig AS (SELECT doc_id, {sql_minhash_aggs()} FROM hashed GROUP BY doc_id),
    banded AS ({_band_selects}),
    buckets AS (
      SELECT band, band_key, COUNT(*) AS cnt
      FROM banded GROUP BY band, band_key
    )
    SELECT band,
           CAST(SUM(cnt) AS BIGINT) AS n_postings,
           COUNT(*) AS n_buckets,
           CAST(MAX(cnt) AS BIGINT) AS max_bucket,
           CAST(COUNT(*) FILTER (WHERE cnt > {BAND_BUCKET_CAP})
                AS BIGINT) AS n_hot_buckets
    FROM buckets GROUP BY band
"""


@register("dedup_band_index_stats", oracle=_SQL_BAND_INDEX_STATS)
def dedup_band_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band occupancy profile of the LSH band index: postings,
    distinct buckets, the largest bucket, and how many buckets exceed
    BAND_BUCKET_CAP (the hot-bucket guard's threshold). This is the
    skew diagnostic an index OWNER runs before the index hurts: a band
    whose max_bucket explodes means boilerplate keys are concentrating
    (the failure mode the cap, the df-capped tiers, and the r14 screened
    mm probe all exist for) — watch it per ingest day, re-shard or cap
    when it trends.

    Profiles the MATERIALIZED posting table itself (band_index_table's
    bkey folds '<band>|<key>' bijectively, so the band parses back out)
    rather than re-signing the corpus: the stat reads what the probes
    actually probe, reuses the build-once artifact, and costs one
    aggregate over the bucketed scan — |bands| output rows at any
    corpus scale."""
    idx = spark.table(band_index_table(spark, sf_dir))
    banded = idx.select(
        F.split(F.col("bkey"), r"\|", 2).getItem(0).cast("int").alias("band"),
        F.col("bkey").alias("band_key"),
    )
    buckets = banded.groupBy("band", "band_key").agg(
        F.count("*").alias("cnt")
    )
    return buckets.groupBy("band").agg(
        F.sum("cnt").cast("bigint").alias("n_postings"),
        F.count("*").alias("n_buckets"),
        F.max("cnt").cast("bigint").alias("max_bucket"),
        F.count_if(F.col("cnt") > BAND_BUCKET_CAP)
        .cast("bigint")
        .alias("n_hot_buckets"),
    )


def band_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once bucketed band-index table for a dataset snapshot.

    (doc_id, bkey) rows where bkey folds the band number into the band
    signature (``<band>|<key>`` — bijective with the (band, band_key)
    pair), bucketed AND sorted by bkey. The composite key matters: Spark
    only treats two bucketed scans as co-partitioned when the bucket
    column IS the full join key (requireAllClusterKeysForCoPartition
    defaults true), so bucketing on a composite single key gives the
    delta-vs-corpus join bucket-local execution — NO exchange on either
    side, only intra-partition sorts. At ingest scale this table is
    appended per batch and compacted (sources/io.compact_parquet); here it
    is written on first use per session (the default in-memory catalog
    scopes table metadata to the session; files land in the gitignored
    warehouse dir) and reused by every later invocation, through
    caching.warehouse_table."""

    def _build(table: str) -> None:
        sig = _minhash_signatures(spark, sf_dir)
        bands = F.array(
            *[
                F.struct(F.lit(b).alias("band"), key.alias("band_key"))
                for b, key in band_key_exprs()
            ]
        )
        banded = sig.select("doc_id", F.explode(bands).alias("bk")).select(
            "doc_id",
            F.concat_ws(
                "|", F.col("bk.band").cast("string"), F.col("bk.band_key")
            ).alias("bkey"),
        )
        (
            banded.write.bucketBy(BAND_INDEX_BUCKETS, "bkey")
            .sortBy("bkey")
            .mode("overwrite")
            .saveAsTable(table)
        )

    return warehouse_table(spark, "band_index", sf_dir, _build)


def materialized_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta x corpus candidate pairs mined from the bucketed band index.

    Both sides are scans of the SAME bucketed table (the delta side is a
    filter over it), so the band-collision join runs bucket-local: zero
    Exchange under the join (plan-tested) — the property that makes daily
    incremental dedup affordable when the corpus index is 100 TB and the
    delta is 0.1% of it. The only shuffle in this frame is the candidate
    distinct, which operates on |candidates|, not |corpus|."""
    from psql_streamer_spark.operators.mlprep import md5_bucket

    banded = spark.table(band_index_table(spark, sf_dir))
    is_new = md5_bucket(F.col("doc_id"), DELTA_BUCKETS) == DELTA_BUCKET
    delta = banded.filter(is_new).select(
        F.col("doc_id").alias("n_doc_id"),
        F.col("bkey").alias("n_bkey"),
    )
    return (
        delta.join(
            banded,
            (F.col("n_bkey") == F.col("bkey"))
            & (F.col("n_doc_id") != F.col("doc_id")),
        )
        .select(
            F.least("n_doc_id", "doc_id").alias("doc_a"),
            F.greatest("n_doc_id", "doc_id").alias("doc_b"),
        )
        .distinct()
    )


@register("dedup_incremental_materialized_pairs", oracle=_SQL_INCREMENTAL_LSH)
def dedup_incremental_materialized_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_incremental_lsh_pairs with the band index actually
    materialized as a bucketed table instead of rebuilt per call — same
    result (same oracle), the plan a production ingest pipeline runs:
    write the index at ingest, probe it from each day's delta with a
    bucket-local join, verify exact Jaccard on candidates only."""
    cand = materialized_band_candidates(spark, sf_dir)
    return _jaccard_pairs(spark, sf_dir, candidates=cand)


# ---------------------------------------------------------------------------
# Dedup quality report: the measured quality axis of the approximate
# near-dup tiers, mirroring sim_recall_report on the ANN side. Ground
# truth is the exact n-gram Jaccard miner (threshold 0.8); the tiers
# under audit are the MinHash-LSH production miner (whose exact-Jaccard
# verify makes precision 1.0 BY CONSTRUCTION — the report proves it and
# measures what banding loses) and the 32-bit SimHash tier (hamming<=3
# approximates Jaccard, so BOTH recall and precision are non-trivial).
# Ground-truth-dependent by definition (the truth side is the quadratic
# declared-sample-scale miner), so like the other ground-truth tiers it
# is a sample-scale verifier: exclude it beside them in corpus-scale
# sweeps.
# ---------------------------------------------------------------------------
_SQL_DEDUP_QUALITY = f"""
    WITH truthq AS ({_SQL_JACCARD_PAIRS}),
    lshq AS ({_SQL_MINHASH_LSH}),
    shq AS ({_SQL_SIMHASH_PAIRS}),
    sh64q AS ({_SQL_SIMHASH64_PAIRS}),
    sh64wq AS ({_SQL_SIMHASH64_PAIRS_WIDE}),
    approx AS (
      SELECT 'minhash_lsh' AS tier, doc_a, doc_b FROM lshq
      UNION ALL
      SELECT 'simhash' AS tier, doc_a, doc_b FROM shq
      UNION ALL
      SELECT 'simhash64' AS tier, doc_a, doc_b FROM sh64q
      UNION ALL
      SELECT 'simhash64_wide' AS tier, doc_a, doc_b FROM sh64wq
    ),
    tiers AS (SELECT 'minhash_lsh' AS tier UNION ALL SELECT 'simhash' AS tier
              UNION ALL SELECT 'simhash64' AS tier
              UNION ALL SELECT 'simhash64_wide' AS tier),
    np AS (SELECT tier, COUNT(*) AS n_pairs FROM approx GROUP BY tier),
    hits AS (
      SELECT a.tier, COUNT(*) AS n_hits
      FROM approx a JOIN truthq t
        ON a.doc_a = t.doc_a AND a.doc_b = t.doc_b
      GROUP BY a.tier
    ),
    nt AS (SELECT COUNT(*) AS n_truth FROM truthq)
    SELECT t.tier, nt.n_truth,
           COALESCE(np.n_pairs, 0) AS n_pairs,
           COALESCE(hits.n_hits, 0) AS n_hits,
           COALESCE(hits.n_hits, 0) / nt.n_truth AS recall,
           COALESCE(hits.n_hits, 0) / COALESCE(np.n_pairs, 0) AS precision
    FROM tiers t CROSS JOIN nt
    LEFT JOIN np ON np.tier = t.tier
    LEFT JOIN hits ON hits.tier = t.tier
"""


@register("dedup_quality_report", oracle=_SQL_DEDUP_QUALITY, sample_scale=True)
def dedup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall AND precision of the approximate near-dup tiers vs the
    exact-Jaccard ground truth, one row per tier: (tier, n_truth,
    n_pairs, n_hits, recall, precision). Divisions are try_divide —
    NULL on an empty truth/pair set, matching DuckDB's /0.

    Expected shape (asserted in tests/test_quality_metrics.py):
    minhash_lsh precision = 1.0 exactly (its candidates are verified
    with the same exact Jaccard the truth tier computes) with recall
    set by the 4x4 banding (~0.88 at j>=0.8 per the S-curve); the
    simhash tiers trade both ways (hamming<=3 is neither necessary nor
    sufficient for Jaccard>=0.8) — the 64-bit production tier's
    hamming<=3 is a much stricter relative bound than the 32-bit
    tier's, so it reads lower recall / higher-or-equal precision, and
    the wide (8x8, hamming<=7) knob point recovers recall at 256x the
    candidate density (the measured trade, QUALITY_r11)."""
    truth = dedup_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    lsh = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sh = dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sh64 = dedup_simhash64_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sh64w = dedup_simhash64_pairs_wide(spark, sf_dir).select("doc_a", "doc_b")
    approx = (
        lsh.withColumn("tier", F.lit("minhash_lsh"))
        .unionByName(sh.withColumn("tier", F.lit("simhash")))
        .unionByName(sh64.withColumn("tier", F.lit("simhash64")))
        .unionByName(sh64w.withColumn("tier", F.lit("simhash64_wide")))
    )
    np_ = approx.groupBy("tier").agg(F.count("*").alias("n_pairs"))
    hits = (
        approx.join(truth, ["doc_a", "doc_b"])
        .groupBy("tier")
        .agg(F.count("*").alias("n_hits"))
    )
    nt = truth.agg(F.count("*").alias("n_truth"))
    tiers = spark.createDataFrame(
        [("minhash_lsh",), ("simhash",), ("simhash64",), ("simhash64_wide",)],
        "tier string",
    )
    n_hits = F.coalesce("n_hits", F.lit(0))
    n_pairs = F.coalesce("n_pairs", F.lit(0))
    return (
        tiers.crossJoin(F.broadcast(nt))
        .join(F.broadcast(np_), "tier", "left")
        .join(F.broadcast(hits), "tier", "left")
        .select(
            "tier",
            "n_truth",
            n_pairs.alias("n_pairs"),
            n_hits.alias("n_hits"),
            F.try_divide(n_hits, F.col("n_truth")).alias("recall"),
            F.try_divide(n_hits, n_pairs).alias("precision"),
        )
    )
