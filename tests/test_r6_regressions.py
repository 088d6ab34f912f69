"""Regression tests for the round-5 advice findings (ADVICE.md r6).

Each test pins the FIXED behavior of a defect the judge's advisor found:
1. _block_pairs inferred "diagonal block" from an empty R side, so an
   off-diagonal group whose R block was empty (or all-NULL) re-emitted
   L's within-block pairs — duplicate rows in the ground-truth multiset.
2. cosine_margin_candidates dropped NULL-embedding vectors, while the
   crossJoin+window form it replaced (and the DuckDB oracle) assign them
   the lowest cent_id (NULL cosine orders last, asc-cent_id tie-break).
3. _signature zip_with'ed against a fixed-width literal sign array; a
   corpus with a different embedding width silently collapsed every
   vector into bucket 0 instead of failing.
4. k-means assignment with an empty trained model shipped a (0, 0) numpy
   array into the executor closure, where argmin raised ValueError; the
   test now pins the same case on the one trainer the k-means queries
   use.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_blocked_pairs_no_duplicates_when_blocks_empty(spark, tmp_path):
    """Six identical vectors (every pair cosine 1.0) + one NULL vector:
    with 16 hash blocks most blocks are empty, so off-diagonal (ba, bb)
    groups with a non-empty L side and an empty/all-NULL R side exist —
    the exact shape that made the pre-fix code re-emit L's internal
    pairs once per such group. The fixed multiset is exactly C(6,2)=15
    distinct pairs, no duplicates."""
    from psql_streamer_spark.operators.dedup import _blocked_cosine_candidates

    rows = [(i, [1.0, 2.0, 3.0]) for i in range(6)] + [(6, None)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(f"{sf}/embeddings.parquet")

    pairs = [
        (r.vec_a, r.vec_b)
        for r in _blocked_cosine_candidates(spark, sf, 0.9).collect()
    ]
    expected = {(a, b) for a in range(6) for b in range(a + 1, 6)}
    assert len(pairs) == len(set(pairs)), "duplicate pairs emitted"
    assert set(pairs) == expected


def test_margin_candidates_null_embedding_gets_lowest_centroid(spark):
    """NULL-embedding vectors must emit a fallback candidate on the
    lowest (non-NULL) cent_id — the row the replaced crossJoin+window
    form and the DuckDB oracle both produce."""
    from psql_streamer_spark.operators.similarity import cosine_margin_candidates

    v = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id long, e array<double>",
    )
    cent = spark.createDataFrame(
        [(5, [1.0, 0.0]), (3, [0.0, 1.0]), (7, None)],
        "cent_id long, ce array<double>",
    )
    got = {
        (r.vec_id, r.cent_id)
        for r in cosine_margin_candidates(v, cent).collect()
    }
    assert (1, 3) in got, "NULL vector must fall back to lowest cent_id"
    assert (0, 5) in got and (2, 3) in got


def test_signature_dim_mismatch_fails_loudly(spark):
    """A vector whose width differs from the sign-array width must raise,
    not silently collapse every signature to bucket 0."""
    from psql_streamer_spark.operators.similarity import _signature

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, e array<double>"
    )
    with pytest.raises(Exception, match="dim"):
        df.select(_signature(0, F.col("e")).alias("sig")).collect()
    # NULL vectors keep the legacy all-zero signature (no raise)
    dfn = spark.createDataFrame([(0, None)], "vec_id long, e array<double>")
    assert (
        dfn.select(_signature(0, F.col("e")).alias("sig")).collect()[0].sig == 0
    )


def test_kmeans_assignments_empty_model_returns_empty(spark, tmp_path):
    """All seed vec_ids (< KM_K) have NULL embeddings while later rows do
    not: the trained model is empty, and embed_kmeans_clusters must be an
    empty profile, not an executor error."""
    from psql_streamer_spark.operators.similarity import (
        EMB_DIM,
        KM_K,
        embed_kmeans_clusters,
    )

    unit = lambda i: [float(j == i) for j in range(EMB_DIM)]  # noqa: E731
    rows = [(i, None) for i in range(KM_K)] + [
        (KM_K, unit(0)),
        (KM_K + 1, unit(1)),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    out = embed_kmeans_clusters(spark, str(tmp_path))
    assert out.collect() == []
    assert out.columns == ["cluster_id", "n_vectors", "inertia"]
