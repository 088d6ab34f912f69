"""Vector similarity search over the embeddings table.

Three tiers, per the north star:
- brute-force cosine top-k: the exact baseline (oracle-checked);
- random-hyperplane LSH bucketed top-k: the approximate scale path
  (oracle-checked — the hyperplanes are derived deterministically from
  md5, so DuckDB replays them exactly);
- IVF-style coarse quantization probe: deterministic centroid assignment
  (oracle-checked).

Scale design (100 TB of vectors):
- brute force is O(Q x N) — only sane when Q (queries) is small and
  broadcastable; the query side here is broadcast so the big side never
  shuffles.
- LSH: each vector maps to a signature bucket; the pair join happens
  per-bucket. Bucket sizes are the knob (more hyperplanes = smaller
  buckets = lower recall).
- IVF: assign to nearest centroid once (broadcast centroids), probe the
  query's top-P centroids. Centroid assignment is a narrow map; only the
  probed cells are read — mirrors partition pruning.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from psql_streamer_spark.functions.ranking import salted_topk
from psql_streamer_spark.registry import register
from psql_streamer_spark.sources.tables import load_table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
# Multi-table LSH (OR-construction): L tables of B hyperplanes each. On
# unclustered random vectors a single 8-bit table has ~2% top-k recall
# (P(match) ~ 0.63^8); 4 tables x 4 bits trades ~4x candidate reduction
# for ~50% recall — the honest tradeoff when the data has no structure.
LSH_TABLES = 4
LSH_PLANES = 4
IVF_CENTROID_STRIDE = 50  # vec_id % 50 == 0 -> "trained" centroid set
IVF_PROBES = 3
# Corpus-scaled probe default (r10 verdict task 5): stride cells carry no
# trained structure, so a FIXED probe count decays recall as the cell
# count grows ~sqrt(N) (measured 0.36 -> 0.20 across the sf0.1 -> sf10
# decade). Constant recall for untrained cells needs a constant FRACTION
# of cells probed; the design point is sf0.1's 3-of-40 cells (7.5%,
# recall 0.36), expressed as the exact rational 3/40 so Spark and the
# DuckDB oracle compute the identical integer ceil (float 0.075 rounds
# differently at exact multiples). Measured at sf10 (446 cells ->
# nprobe 34): recall 0.49 — decade flat-or-better — at probe cost
# nprobe * N/cells ~ 7.5% of the corpus per query, the honest linear
# fraction untrained IVF fundamentally pays; the TRAINED k-means tier
# (tight cells, recall 0.80-0.96 at 3 probes) is what buys sublinear
# probing at scale.
IVF_PROBE_FRAC_NUM = 3
IVF_PROBE_FRAC_DEN = 40


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


def _dot(a: Column, b: Column) -> Column:
    """Sequential left fold => same summation order as DuckDB list_reduce
    => bit-identical doubles.

    Deliberately the lambda fold, NOT a 64-term unrolled chain (r17 A/B):
    in plain projection contexts the unrolled expression measured 3.4x
    SLOWER (200k pairs: 1.14 s fold vs 3.9 s unrolled, /tmp/dot_ab
    microbench) — the generated method compiles under janino's 64 KB cap
    but is big enough that HotSpot declines to JIT it, so the "compiled"
    chain runs in the bytecode interpreter while the fold loops through a
    small hot jitted body. _km_d2 keeps its unroll because the aggregate
    update path splits codegen into small methods and measured 3.6x
    FASTER there — evaluation context decides, so measure any change to
    these in situ."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    # same fold shape as _dot; see the JIT note there before unrolling
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


_SQL_DOT = (
    "list_reduce(list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i]),"
    " (x,y) -> x+y)"
)
_SQL_NORM = "sqrt(list_reduce(list_transform({a}, x -> x*x), (x,y) -> x+y))"


# --------------------------------------------------------------------------
# Brute-force cosine top-k.
# --------------------------------------------------------------------------
def _sql_brute_topk(k: int) -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      {_SQL_NORM.format(a='embedding::DOUBLE[]')} AS nrm
               FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_DOT.format(a='q.e', b='c.e')} / (q.nrm * c.nrm) AS cosine
      FROM q JOIN v c ON q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k}
"""


_SQL_BRUTE_TOPK = _sql_brute_topk(TOP_K)


# Below this corpus size (plan-statistics bytes of the embeddings scan)
# the single-window ranking wins: the r9 isolated 3-run pin measured the
# salted two-phase form ~0.25 s SLOWER than the plain window at sf0.1
# (20k vectors — each query's candidate sort is trivial, so the second
# shuffle+window is pure overhead), while at sf30+ (600k+ vectors) the
# single-phase form is the low-cardinality window wall salting exists to
# remove (r7 measurement). 48 MiB ~ sf10-sf30 boundary on this schema.
_SALTED_TOPK_MIN_BYTES = 48 * 1024 * 1024


@register("sim_bruteforce_topk", oracle=_SQL_BRUTE_TOPK)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k: queries broadcast against the full corpus; ties broken
    by neighbor_id so ranking is total and cross-engine stable."""
    return _bruteforce_topk(spark, sf_dir, TOP_K)


def _bruteforce_topk(
    spark: SparkSession, sf_dir: str, k: int, v: DataFrame | None = None
) -> DataFrame:
    """``v`` lets a caller that runs several tiers (sim_recall_report)
    pass one shared, persisted (vec_id, e, nrm) frame instead of
    re-deriving the corpus scan here (r17, guide §5)."""
    if v is None:
        v = _vectors(spark, sf_dir).withColumn("nrm", _norm(F.col("e")))
    q = v.filter(F.col("vec_id") < N_QUERIES)
    c = v
    scored = (
        F.broadcast(q.alias("q"))
        .join(c.alias("c"), F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            (_dot(F.col("q.e"), F.col("c.e")) / (F.col("q.nrm") * F.col("c.nrm"))).alias(
                "cosine"
            ),
        )
    )
    order = [F.desc("cosine"), F.asc("neighbor_id")]
    # Size-gated ranking form, decided from the scan's plan statistics
    # (parquet footer bytes — no job runs). Small corpus: one window over
    # query_id; its per-group sorts are trivial and the two-phase form's
    # extra shuffle is pure overhead (measured +0.25 s at sf0.1, the r9
    # pin). Large corpus: salted two-phase (functions/ranking.py) — the
    # scored frame spreads over query_id x 64 reducers and only the
    # |queries| x 64 x k survivor frame sees a query-only window; the
    # single-phase form would sort every candidate on N_QUERIES threads,
    # the low-cardinality window wall (r7 sf30+ measurement). Both forms
    # return identical rows (the order is total).
    corpus_bytes = int(
        str(
            _vectors(spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
    )
    if corpus_bytes < _SALTED_TOPK_MIN_BYTES:
        w = W.partitionBy("query_id").orderBy(*order)
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )
    return salted_topk(
        scored,
        ["query_id"],
        order,
        k,
        F.col("neighbor_id"),
    ).select("query_id", "neighbor_id", "cosine", "rank")


# --------------------------------------------------------------------------
# Random-hyperplane LSH, multi-table. Hyperplane (t,j) component i is
# +1/-1 derived from md5("rp:t:j:i") — deterministic in both engines, no
# stored model needed.
# --------------------------------------------------------------------------
def _hyperplane_sign_sql(t: int, j: int, i: str) -> str:
    # parity of the first hex nibble of md5("rp:<t>:<j>:<i>")
    return (
        f"CASE WHEN CAST('0x' || substr(md5('rp:{t}:{j}:' || CAST({i} AS VARCHAR)), 1, 1)"
        " AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END"
    )


def _signature_sql(t: int, vec: str, planes: int = LSH_PLANES) -> str:
    """SQL computing table t's LSH bucket id of a DOUBLE[] column."""
    bits = []
    for j in range(planes):
        dot = (
            f"list_reduce(list_transform(range(1, len({vec})+1),"
            f" i -> {vec}[i] * ({_hyperplane_sign_sql(t, j, 'i-1')})), (x,y) -> x+y)"
        )
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(bits)


#: Embedding dimensionality of the corpus (testdata embeddings are 64-d).
#: The hyperplane sign vectors are pre-materialized to this length; a
#: corpus with a different width only needs this constant (or the dim=
#: parameter) changed — the derivation is per-component, not per-width.
EMB_DIM = 64


@lru_cache(maxsize=None)
def _plane_signs(t: int, j: int, dim: int = EMB_DIM) -> tuple[float, ...]:
    """The +1/-1 sign vector of hyperplane (t, j), computed ONCE on the
    driver. Component i's sign is the parity of the first hex nibble of
    md5("rp:t:j:i") — the identical derivation the oracle SQL runs
    per-row in DuckDB (hashlib md5 of the same string is bit-identical),
    but here it is a plan-time constant: the previous expression form
    re-derived the md5 for every (row, table, plane, component), which
    the 30x sweep exposed as the dominant signature cost (dim * planes *
    tables md5 calls PER ROW for values that never vary by row)."""
    return tuple(
        1.0 if int(hashlib.md5(f"rp:{t}:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
        for i in range(dim)
    )


def _signature(
    t: int, vec: Column, planes: int = LSH_PLANES, dim: int = EMB_DIM
) -> Column:
    # Loud dimension guard: zip_with against a sign array of the wrong
    # length pads with NULLs, the dot folds to NULL, every plane bit falls
    # to 0 and ALL vectors silently collapse into bucket 0 (quadratic
    # candidates, corrupted recall) — while the oracle SQL adapts to the
    # real vector length. A width mismatch must fail, not degrade
    # (r5 advice, low). NULL vectors keep the legacy all-zero signature.
    guard = F.when(
        vec.isNotNull() & (F.size(vec) != F.lit(dim)),
        F.raise_error(
            F.concat(
                F.lit(f"_signature: embedding dim != {dim} (got "),
                F.size(vec).cast("string"),
                F.lit("); pass dim= to match the corpus"),
            )
        ).cast("int"),
    ).otherwise(F.lit(0))
    acc = guard
    for j in range(planes):
        # dot(v, hyperplane_tj) against the literal sign array: same
        # products (sign is the same ±1.0 double) and same left-fold
        # summation order as the md5-expression form and the oracle SQL.
        # Deliberately NOT unrolled like _dot/_km_d2 (r17): planes x dim
        # terms in one expression tree exceed janino's 64 KB method
        # limit, and the whole stage falls back to interpreted mode —
        # measured as CodeGenerator compile ERRORs on every signature
        # query. The lambda fold keeps the stage codegen-compiled.
        signs = F.array(*[F.lit(s) for s in _plane_signs(t, j, dim)])
        dot = F.aggregate(
            F.zip_with(vec, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        acc = acc + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return acc


def _table_selects(tables: int) -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id, e, nrm, {t} AS tbl, {_signature_sql(t, 'e')} AS bucket FROM v"
        for t in range(tables)
    )


def _sql_lsh_topk(k: int, tables: int = LSH_TABLES) -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      {_SQL_NORM.format(a='embedding::DOUBLE[]')} AS nrm
               FROM embeddings),
    sig AS ({_table_selects(tables)}),
    q AS (SELECT * FROM sig WHERE vec_id < {N_QUERIES}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM q JOIN sig c ON q.tbl = c.tbl AND q.bucket = c.bucket
                        AND q.vec_id <> c.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_SQL_DOT.format(a='q.e', b='c.e')} / (q.nrm * c.nrm) AS cosine
      FROM cand
      JOIN v q ON q.vec_id = cand.query_id
      JOIN v c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k}
"""


_SQL_LSH_TOPK = _sql_lsh_topk(TOP_K)


@register("sim_lsh_topk", oracle=_SQL_LSH_TOPK)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates are the union over L hash tables of
    the query's bucket members (OR-construction), then exact-scored. The
    bucket equi-join replaces the cross join — this is what survives at
    1000x the corpus. Recall vs sim_bruteforce_topk is the quality metric
    (sim_recall_report + tests)."""
    return _lsh_topk(spark, sf_dir, TOP_K)


#: OR-width of the wide (recall) LSH tier. The r10/r11 knob sweeps
#: measured tables 4 -> 8 at sf10: recall@10 0.57 -> 0.87 for +93%
#: isolated warm latency (RECALL_r11.json knob_sweep) — the OR-width is
#: the one LSH knob whose quality gain is corpus-size-free (per-table
#: miss prob is independent, 1-(1-p)^L), so the wide tier is the right
#: default when candidate volume, not wall-clock, is the binding budget.
LSH_TABLES_WIDE = 8

_SQL_LSH_TOPK_WIDE = _sql_lsh_topk(TOP_K, tables=LSH_TABLES_WIDE)


@register("sim_lsh_topk_wide", oracle=_SQL_LSH_TOPK_WIDE)
def sim_lsh_topk_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_lsh_topk with the OR-width knob turned up (8 tables — the
    measured 0.87-recall@10 point at sf10 vs the 4-table default's
    0.57, RECALL_r11). Registered first-class, mirroring the dedup
    side's dedup_simhash64_pairs_wide: both quality knobs the r10/r11
    sweeps measured are callable operators with DuckDB oracles, not
    tool-only settings."""
    return _lsh_topk(spark, sf_dir, TOP_K, tables=LSH_TABLES_WIDE)


def _lsh_signatures(
    v: DataFrame, tables: int, planes: int = LSH_PLANES
) -> DataFrame:
    """Slim (vec_id, tbl, bucket) signature frame of a (vec_id, e, ...)
    vector frame — ids and buckets only: the candidate join never reads
    vectors (scoring re-joins them), so the frame is persistable at
    ~24 bytes/row. Table t's signature expression is identical at every
    OR-width, which is what lets sim_recall_report serve its narrow tier
    from the wide frame's tbl < {LSH_TABLES} slice."""
    sig = None
    for t in range(tables):
        part = v.select(
            "vec_id",
            F.lit(t).alias("tbl"),
            _signature(t, F.col("e"), planes=planes).alias("bucket"),
        )
        sig = part if sig is None else sig.unionByName(part)
    return sig


def _lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    tables: int = LSH_TABLES,
    planes: int = LSH_PLANES,
    v: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """``tables`` (OR-width: more tables = more recall, more candidates)
    and ``planes`` (bucket granularity: more planes = smaller buckets =
    fewer candidates, less recall) are the LSH quality/latency knobs —
    pinned at module defaults for the registered oracle-checked ops,
    swept by tools/recall_scale.py for the measured quality axis.
    ``v`` / ``sig`` let sim_recall_report share one persisted vector
    frame and one persisted signature frame across its tiers (r17,
    guide §5) instead of re-deriving both per tier."""
    if v is None:
        v = _vectors(spark, sf_dir).withColumn("nrm", _norm(F.col("e")))
    if sig is None:
        sig = _lsh_signatures(v, tables, planes)
    q = sig.filter(F.col("vec_id") < N_QUERIES)
    cand = (
        F.broadcast(q.alias("q"))
        .join(
            sig.alias("c"),
            (F.col("q.tbl") == F.col("c.tbl"))
            & (F.col("q.bucket") == F.col("c.bucket"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
        )
        .distinct()
    )
    qv = v.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    cv = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qe"), F.col("ce")) / (F.col("qnrm") * F.col("cnrm"))).alias(
                "cosine"
            ),
        )
    )
    # per-query ranking is salted two-phase (functions/ranking.py): the
    # scored frame spreads over query_id x 64 reducers; only the
    # |queries| x 64 x k survivor frame sees a query-only window. With
    # N_QUERIES queries, the single-phase form sorted every candidate on
    # N_QUERIES threads — the low-cardinality window wall.
    return salted_topk(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        k,
        F.col("neighbor_id"),
    ).select("query_id", "neighbor_id", "cosine", "rank")


# --------------------------------------------------------------------------
# IVF-style coarse quantization: every vec_id % 50 == 0 vector is a
# centroid ("trained" deterministically); vectors assign to their nearest
# centroid; queries probe the IVF_PROBES nearest cells.
# --------------------------------------------------------------------------
def _sql_ivf_topk(k: int) -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      {_SQL_NORM.format(a='embedding::DOUBLE[]')} AS nrm
               FROM embeddings),
    stride AS (SELECT GREATEST({IVF_CENTROID_STRIDE},
                 CAST(CEIL(SQRT((SELECT COUNT(*) FROM v))) AS BIGINT)) AS st),
    cent AS (SELECT vec_id AS cent_id, e AS ce, nrm AS cnrm FROM v
             WHERE vec_id % (SELECT st FROM stride) = 0),
    npq AS (SELECT GREATEST({IVF_PROBES},
              ({IVF_PROBE_FRAC_NUM} * (SELECT COUNT(*) FROM cent)
                 + {IVF_PROBE_FRAC_DEN} - 1) // {IVF_PROBE_FRAC_DEN}) AS np),
    assign AS (
      SELECT vec_id, e, nrm, cent_id FROM (
        SELECT v.vec_id, v.e, v.nrm, cent.cent_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {_SQL_DOT.format(a='v.e', b='cent.ce')} / (v.nrm * cent.cnrm) DESC,
                 cent.cent_id ASC) AS rn
        FROM v, cent
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cent_id FROM (
        SELECT v.vec_id, cent.cent_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {_SQL_DOT.format(a='v.e', b='cent.ce')} / (v.nrm * cent.cnrm) DESC,
                 cent.cent_id ASC) AS rn
        FROM v, cent
        WHERE v.vec_id < {N_QUERIES}
      ) WHERE rn <= (SELECT np FROM npq)
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_DOT.format(a='q.e', b='c.e')} / (q.nrm * c.nrm) AS cosine
      FROM v q
      JOIN probes p ON p.query_id = q.vec_id
      JOIN assign c ON c.cent_id = p.cent_id AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k}
"""


_SQL_IVF_TOPK = _sql_ivf_topk(TOP_K)


@register("sim_ivf_topk", oracle=_SQL_IVF_TOPK)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search: nearest-centroid assignment (broadcast centroids),
    then exact scoring only inside the query's top-P cells."""
    return _ivf_stride_topk(spark, sf_dir, TOP_K)


def _ivf_stride_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    nprobe: int | None = None,
    counters: dict | None = None,
    v: DataFrame | None = None,
) -> DataFrame:
    import math

    if v is None:
        v = _vectors(spark, sf_dir).withColumn("nrm", _norm(F.col("e")))
    # sqrt-scaled stride: k = N/stride ~ sqrt(N) cells of ~sqrt(N) vectors,
    # the classical IVF balance — assignment O(N*k) and probe O(Q*P*N/k)
    # both stay O(N^1.5) instead of the fixed-stride O(N^2/50). Floors at
    # the fixed stride so small SFs (including every oracle-checked one)
    # keep their original centroid set; the count() is a parquet metadata
    # read. The oracle SQL computes the same GREATEST(50, ceil(sqrt(N))).
    stride = max(IVF_CENTROID_STRIDE, math.isqrt(max(0, v.count() - 1)) + 1)
    cent = (
        v.filter(F.col("vec_id") % stride == 0)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("e").alias("ce"),
            F.col("nrm").alias("cnrm"),
        )
    )
    if nprobe is None:
        # corpus-scaled default: constant 3/40 fraction of cells probed
        # (see IVF_PROBE_FRAC_* banner); integer ceil, identical to the
        # oracle SQL's (num*cells + den-1) // den. cent.count() is a
        # model-sized job (the centroid set is O(sqrt N)).
        cells = cent.count()
        nprobe = max(
            IVF_PROBES,
            (IVF_PROBE_FRAC_NUM * cells + IVF_PROBE_FRAC_DEN - 1)
            // IVF_PROBE_FRAC_DEN,
        )
    return _ivf_probe_topk(v, cent, k, nprobe, counters=counters)


def cosine_margin_candidates(
    v: DataFrame, cent: DataFrame, margin: float = 1e-6
) -> DataFrame:
    """(vec_id, cent_id) rows where the BLAS cosine of v against centroid
    cent_id is within ``margin`` of that vector's BLAS maximum — the
    lossless screen for exact nearest-centroid argmax (see
    dedup_embedding_cosine_pairs for the margin argument: the exact-fold
    winner's BLAS score is always within ulps of the BLAS max, so it can
    never fall outside a 1e-6 margin). Callers join back and rerank the
    (almost always single-row) candidate set with the sequential-fold
    cosine the oracle replays. Centroids are MODEL STATE: collected to
    the driver (k rows) and shipped in the Arrow closure; the scan side
    is one narrow mapInPandas — no crossJoin, no N*k shuffle.
    NULL-embedding centroids are excluded from the matmul (fold cosine
    NULL orders last, they can never beat a finite score). Whenever the
    cosine cannot decide — a NULL-embedding VECTOR against any centroid,
    or ANY vector when every centroid row is NULL (r6 advice: that case
    previously returned an empty frame) — the crossJoin+window form this
    screen replaced (and the DuckDB oracle) still keep one output row per
    vector: all cosines are NULL, NULL orders last everywhere, so the
    asc-cent_id tie-break assigns the lowest cent_id OF THE WHOLE model,
    NULL-embedding centroids included. Those paths emit that fallback
    candidate here; dropping them would silently delete assignment rows
    from IVF/SemDeDup outputs."""
    import numpy as np
    import pandas as pd

    # ONE collect over the model frame: cent may be a computed lineage
    # (trained centroids), so a second driver action would re-execute it;
    # both the matmul rows (non-NULL embeddings) and the tie-break floor
    # (min cent_id over ALL model rows — a NULL-embedding centroid with
    # the lowest id wins ties) derive from the same k-row collect
    all_rows = cent.select("cent_id", "ce").collect()
    # Model-frame contract (r7 advice): cent_id must be non-NULL. A
    # NULL-cent_id centroid with a live embedding could hold the best
    # cosine, and silently dropping it from the matmul would let the
    # screen miss the true argmax of the crossJoin+window form it must
    # mirror. No producer emits one (stride centroids carry vec_id,
    # trained centroids a cluster index), so fail loudly over the k
    # collected rows instead of guessing semantics for an id-less cell.
    if any(r.cent_id is None for r in all_rows):
        raise ValueError(
            "cosine_margin_candidates: model frame contains a NULL "
            "cent_id row; centroid ids must be non-NULL for the margin "
            "screen to mirror the crossJoin+window argmax."
        )
    cent_rows = sorted(
        (r for r in all_rows if r.ce is not None), key=lambda r: r.cent_id
    )
    fallback_cid = min((r.cent_id for r in all_rows), default=None)
    cids = np.array([int(r.cent_id) for r in cent_rows])
    C = np.array([r.ce for r in cent_rows], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True) if len(C) else C

    def _margin_candidates(batches):
        for pdf in batches:
            if fallback_cid is None:
                # zero centroid rows at all: no assignment is defined
                continue
            if len(C) == 0:
                # centroid rows exist but every embedding is NULL: every
                # vector falls back to the lowest cent_id
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "cent_id": np.full(len(pdf), fallback_cid, dtype="int64"),
                    }
                )
                continue
            nulls = pdf[pdf["e"].isna()]
            if len(nulls):
                yield pd.DataFrame(
                    {
                        "vec_id": nulls["vec_id"].to_numpy(),
                        "cent_id": np.full(len(nulls), fallback_cid, dtype="int64"),
                    }
                )
            pdf = pdf[pdf["e"].notna()]
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            X = X / np.linalg.norm(X, axis=1, keepdims=True)
            cos = X @ Cn.T
            keep = cos >= (cos.max(axis=1, keepdims=True) - margin)
            ri, ci = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[ri],
                    "cent_id": cids[ci].astype("int64"),
                }
            )

    return v.select("vec_id", "e").mapInPandas(
        _margin_candidates, schema="vec_id long, cent_id long"
    )


def _ivf_probe_topk(
    v: DataFrame,
    cent: DataFrame,
    k: int = TOP_K,
    nprobe: int = IVF_PROBES,
    counters: dict | None = None,
) -> DataFrame:
    """Shared IVF probe: cell assignment + probe-cell ranking against a
    (cent_id, ce, cnrm) model frame — always broadcast; the centroid set
    is O(model), never O(data). ``nprobe`` is the recall/latency knob
    (cells probed per query): the registered ops pin it at IVF_PROBES so
    their oracles replay it; tools/recall_scale.py sweeps it to measure
    the quality axis. ``counters`` (measurement-only, r12): when given,
    records the pre-top-k candidate volume (scored rows = sum of probed
    cell sizes over queries) and the resolved nprobe — the diagnostic
    that says whether probe cost at a scale point is candidate-bound or
    fixed-overhead-bound. Filling it runs ONE extra count action; never
    pass it on a latency-measured call."""
    sim_to_cent = _dot(F.col("e"), F.col("ce")) / (F.col("nrm") * F.col("cnrm"))
    # corpus assignment: lossless BLAS margin screen + exact fold rerank
    # over the (almost always single-row) candidate set — replaces the
    # N*k crossJoin + window with a narrow map and an O(N) join
    assign = (
        cosine_margin_candidates(v, cent)
        .join(v, "vec_id")
        .join(F.broadcast(cent), "cent_id")
        .withColumn("csim", sim_to_cent)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cent_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "e", "nrm", "cent_id")
    )
    # probe selection only touches the N_QUERIES query vectors — the
    # crossJoin is Q*k rows, model-bounded, and stays fold-exact
    probes = (
        v.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cent))
        .withColumn("csim", sim_to_cent)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cent_id"))
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "cent_id")
    )
    q = v.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        F.broadcast(probes)
        .join(assign.alias("c"), "cent_id")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("c.vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("c.vec_id").alias("neighbor_id"),
            (_dot(F.col("qe"), F.col("c.e")) / (F.col("qnrm") * F.col("c.nrm"))).alias(
                "cosine"
            ),
        )
    )
    if counters is not None:
        counters["nprobe"] = nprobe
        counters["candidates"] = scored.count()
    # per-query ranking is salted two-phase (functions/ranking.py): the
    # scored frame spreads over query_id x 64 reducers; only the
    # |queries| x 64 x k survivor frame sees a query-only window. With
    # N_QUERIES queries, the single-phase form sorted every candidate on
    # N_QUERIES threads — the low-cardinality window wall.
    return salted_topk(
        scored,
        ["query_id"],
        [F.desc("cosine"), F.asc("neighbor_id")],
        k,
        F.col("neighbor_id"),
    ).select("query_id", "neighbor_id", "cosine", "rank")


# --------------------------------------------------------------------------
# Int8 quantization: the storage path for ANN at scale (4x smaller, SIMD
# distance kernels). Per-vector affine quantization, element-wise exact.
# --------------------------------------------------------------------------
@register(
    "embed_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             list_min(embedding::DOUBLE[]) AS lo,
             list_max(embedding::DOUBLE[]) AS hi
      FROM embeddings
    )
    SELECT vec_id, lo, hi,
           CAST(list_sum(list_transform(e,
                x -> CASE WHEN hi = lo THEN 0
                          ELSE FLOOR((x - lo) / (hi - lo) * 255) END))
                AS BIGINT) AS qsum,
           CAST(CASE WHEN hi = lo THEN 0
                     ELSE FLOOR((e[1] - lo) / (hi - lo) * 255) END
                AS BIGINT) AS q_first,
           CAST(CASE WHEN hi = lo THEN 0
                     ELSE FLOOR((e[len(e)] - lo) / (hi - lo) * 255) END
                AS BIGINT) AS q_last
    FROM v
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector affine int8 quantization: x -> floor((x-lo)/(hi-lo)*255).
    Narrow map, no shuffle; every arithmetic step is the same IEEE
    expression in both engines so the codes hash-compare exactly. The
    (lo, hi) pair rides along as the dequantization key — at 100 TB this
    cuts ANN storage 4x and enables int8 SIMD distance kernels; recall
    loss is bounded by the per-vector range, which is why lo/hi are
    per-vector and not global."""
    v = _vectors(spark, sf_dir).select(
        "vec_id",
        "e",
        F.array_min("e").alias("lo"),
        F.array_max("e").alias("hi"),
    )
    # constant vectors (hi == lo) quantize to 0 instead of dividing 0/0
    q = lambda x: F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(  # noqa: E731
        F.floor((x - F.col("lo")) / (F.col("hi") - F.col("lo")) * 255)
    )
    return v.select(
        "vec_id",
        "lo",
        "hi",
        F.aggregate(
            F.transform(F.col("e"), q), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("qsum"),
        q(F.element_at("e", 1)).cast("long").alias("q_first"),
        q(F.element_at("e", -1)).cast("long").alias("q_last"),
    )


# --------------------------------------------------------------------------
# K-means centroid training (Lloyd's): the "train" step the IVF index
# above consumes. Iterative and therefore not SQL-expressible — registered
# without an oracle (rows-only driver check); determinism and convergence
# invariants are pinned in tests/test_quality_metrics.py.
#
# Design: centroids are MODEL STATE (k x dim doubles) held on the driver —
# never a joined frame. Each Lloyd's round is ONE narrow mapInPandas pass:
# every Arrow batch computes its argmin via a BLAS matmul against the
# closure-shipped centroid matrix and emits k partial (count, sum) rows,
# so the per-round cluster traffic is O(partitions * k * dim), not O(N).
# No crossJoin, no per-vector shuffle, no lineage growth (the model is a
# numpy array between rounds, so there is nothing to checkpoint). This is
# the same shape Spark MLlib's KMeans uses, and the reason k can scale
# with the corpus (see dedup_semantic_clusters_kmeans): training cost is
# N*k FLOPs through BLAS instead of N*k ROWS through a window sort.
# Determinism: init = first k dense vec_ids; argmin ties break to the
# lowest cluster id (np.argmin); partial sums reduce in stable
# (partition, cluster) order, so a re-run reproduces assignments exactly.
# --------------------------------------------------------------------------
KM_K = 8
KM_ITERS = 4


def _kmeans_partials_fn(C):
    """mapInPandas closure: per-batch argmin vs the model matrix C, then
    per-cluster (count, component-sum) partials. d2 via the expanded form
    |x|^2 - 2xC^T + |c|^2 (one matmul per batch)."""
    import numpy as np
    import pandas as pd

    cn2 = (C * C).sum(axis=1)

    def fn(batches):
        for pdf in batches:
            pdf = pdf[pdf["e"].notna()]  # NULL vectors take no part in training
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cn2[None, :]
            a = d2.argmin(axis=1)
            cs, ns, ss = [], [], []
            for c in np.unique(a):
                m = a == c
                cs.append(int(c))
                ns.append(int(m.sum()))
                ss.append(X[m].sum(axis=0).tolist())
            yield pd.DataFrame(
                {"c": pd.Series(cs, dtype="int32"), "n": ns, "s": ss}
            )

    return fn


def _train_kmeans_model(v: DataFrame, k: int, iters: int):
    """Lloyd's rounds; returns (cluster_ids, C) — the driver-held model.
    cluster_ids[i] is the stable id of row C[i] (seed vec_id); clusters
    that lose all members are dropped from the model, matching the
    aggregate-over-assignments semantics of the previous implementation."""
    import numpy as np

    seeds = (
        v.filter((F.col("vec_id") < k) & F.col("e").isNotNull())
        .select("vec_id", "e")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([int(r.vec_id) for r in seeds])
    C = np.array([r.e for r in seeds], dtype=np.float64)
    if len(C) == 0:  # empty corpus: no seeds, nothing to train
        return ids, C.reshape(0, 0)
    for _ in range(iters):
        parts = v.mapInPandas(
            _kmeans_partials_fn(C), schema="c int, n long, s array<double>"
        ).collect()
        n = np.zeros(len(C))
        s = np.zeros_like(C)
        # stable accumulation order: collect() preserves partition order,
        # rows within a partial frame are cluster-sorted
        for r in parts:
            n[r.c] += r.n
            s[r.c] += np.asarray(r.s)
        alive = n > 0
        ids, C = ids[alive], s[alive] / n[alive, None]
    return ids, C


def kmeans_assignments(
    v: DataFrame, k: int = KM_K, iters: int = KM_ITERS
) -> DataFrame:
    """Lloyd's iterations over (vec_id, e) rows; returns one row per vector
    with its final cluster and squared L2 distance.

    Scale design: centroids are MODEL STATE (k x dim doubles), never data —
    they stay a broadcast k-row frame; assignment is a narrow map over the
    corpus (crossJoin with k broadcast rows + argmin); the update is one
    posexplode + per-(cluster, dim) average — a map-side-combined aggregate
    over N*dim rows. Each iteration's centroid frame is localCheckpointed:
    k rows, so the checkpoint is O(model), and the lineage never deepens
    (the same discipline as connected_components — an un-truncated 10-iter
    plan re-runs every previous assignment per action).

    Init: the first k vec_ids (deterministic at every SF; vec_ids are
    dense from 0). Distance = squared L2; ties broken by cluster id."""
    import numpy as np
    import pandas as pd

    ids, C = _train_kmeans_model(v, k, iters)
    if len(C) == 0:
        # empty trained model (e.g. every seed vec_id < k has a NULL
        # embedding): the previous crossJoin form returned an empty frame;
        # shipping a (0, 0)-shaped C into the closure would make
        # d2.argmin(axis=1) raise in the executor (r5 advice, low)
        return v.sparkSession.createDataFrame(
            [], schema="vec_id long, cluster_id int, d2 double"
        )
    cn2 = (C * C).sum(axis=1)

    def fn(batches):
        for pdf in batches:
            pdf = pdf[pdf["e"].notna()]  # NULL vectors get no assignment row
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["e"].to_numpy()).astype(np.float64)
            d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cn2[None, :]
            a = d2.argmin(axis=1)
            best = np.maximum(d2[np.arange(len(X)), a], 0.0)  # clamp -ulp
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster_id": ids[a].astype("int32"),
                    "d2": best,
                }
            )

    # final assignment against the trained model: one narrow BLAS pass
    return v.select("vec_id", "e").mapInPandas(
        fn, schema="vec_id long, cluster_id int, d2 double"
    )


# sim_ivf_kmeans_topk moved below the deterministic trainer (its oracle
# needs sql_kmeans_cte).


# -- deterministic Lloyd's: the hash-checkable k-means tier ---------------
# The numpy trainer above is the production path (BLAS partials, partition
# -order accumulation) but its float summation order is an executor-layout
# artifact no second engine can replay — which is why the k-means family
# sat rows-only. This tier removes every order dependency:
#   - distances are sequential left folds (same op order as DuckDB's
#     list_reduce, bit-identical doubles — the _dot discipline);
#   - argmin is (d2, cluster_id) total order;
#   - the centroid update folds each (cluster, dim)'s components in
#     vec_id order with init 0.0 (array_sort(collect_list) on one side,
#     list(val ORDER BY vec_id) prepended with 0.0 on the other), then
#     one exact division by the member count.
# Cost vs the numpy tier: the update materializes per-(cluster, dim)
# member lists instead of map-side partial sums — O(N*dim) rows either
# way, but without partial aggregation. That is the price of replayable
# float summation; the production trainer keeps the partials, and the
# recall-critical consumers (sim_ivf_kmeans_topk) stay on it.
_SQL_KM_D2 = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, {dim} + 1),"
    " i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i]))), (x, y) -> x + y)"
)


def _km_d2(e: Column, ce: Column) -> Column:
    # Strictly left-associated term sum, unrolled over the fixed EMB_DIM
    # (r17, guide §1.2 step 2 / §4.1): bit-identical to the oracle's
    # list_reduce fold (float addition performed in the same order,
    # 0.0 + t1 + ... + t64), but a flat arithmetic expression that
    # whole-stage codegen compiles, where aggregate()/zip_with() lambdas
    # are evaluated interpreted per row — measured ~5x on the k-means
    # assignment crossjoin, which evaluates this N*k times per pass.
    acc = F.lit(0.0)
    for i in range(EMB_DIM):
        d = e[i] - ce[i]
        acc = acc + d * d
    return acc


def sql_kmeans_cte(src: str, k_expr: str, iters: int = KM_ITERS) -> str:
    """The deterministic Lloyd's recursion as a CTE fragment
    ``km(it, cluster_id, ce)`` over vector CTE ``src`` (must expose
    vec_id, e with NULL embeddings already filtered), seeded from
    vec_id < ``k_expr``. Shared by every hash-checked k-means consumer
    (cluster profile, trained IVF, SemDeDup)."""
    return f"""km(it, cluster_id, ce) AS (
      SELECT 0, vec_id::INT, e FROM {src} WHERE vec_id < {k_expr}
      UNION ALL
      (
        WITH cur AS (SELECT * FROM km WHERE it < {iters}),
        asg0 AS (
          SELECT {src}.vec_id, {src}.e, c.it, c.cluster_id,
                 {_SQL_KM_D2.format(dim=EMB_DIM, v=f'{src}.e', c='c.ce')} AS d2
          FROM {src}, cur c
        ),
        a1 AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY d2, cluster_id) AS rn
            FROM asg0
          ) WHERE rn = 1
        ),
        comp AS (
          SELECT a1.it, a1.cluster_id, a1.vec_id, u.dim, u.val
          FROM a1, LATERAL (
            SELECT unnest(range(1, {EMB_DIM} + 1)) AS dim, unnest(e) AS val
          ) u
        ),
        upd AS (
          SELECT it, cluster_id, dim,
                 list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)),
                             (x, y) -> x + y) / COUNT(*) AS m
          FROM comp GROUP BY it, cluster_id, dim
        )
        SELECT it + 1, cluster_id, list(m ORDER BY dim)
        FROM upd GROUP BY it, cluster_id
      )
    )"""


_SQL_KMEANS_CLUSTERS = f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    {sql_kmeans_cte('v', str(KM_K))},
    final AS (SELECT cluster_id, ce FROM km WHERE it = {KM_ITERS}),
    fasg AS (
      SELECT * FROM (
        SELECT v.vec_id, c.cluster_id,
               {_SQL_KM_D2.format(dim=EMB_DIM, v='v.e', c='c.ce')} AS d2,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_SQL_KM_D2.format(dim=EMB_DIM, v='v.e', c='c.ce')},
                                           c.cluster_id) AS rn
        FROM v, final c
      ) WHERE rn = 1
    )
    SELECT cluster_id,
           COUNT(*) AS n_vectors,
           list_reduce(list_prepend(0.0, list(d2 ORDER BY vec_id)),
                       (x, y) -> x + y) AS inertia
    FROM fasg GROUP BY cluster_id
"""


_KM_DET_MODEL: dict = {}  # (app, corpus, k, iters) memo — the _BPE_MODEL pattern


def _kmeans_train_deterministic(
    spark: SparkSession, sf_dir: str, k: int = KM_K, iters: int = KM_ITERS
):
    """Ordered-fold Lloyd's; returns (v, cents) frames. Model state is
    still k rows, localCheckpointed per round (lineage never deepens).
    Session-memoized: embed_kmeans_clusters and sim_ivf_kmeans_topk share
    the (KM_K, KM_ITERS) model instead of each retraining it."""
    key = (spark.sparkContext.applicationId, sf_dir, k, iters)
    hit = _KM_DET_MODEL.get(key)
    if hit is not None:
        return hit
    v = _vectors(spark, sf_dir).filter(F.col("e").isNotNull())
    cents = (
        v.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").cast("int").alias("cluster_id"), F.col("e").alias("ce"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        # nearest centroid = min of (d2, cluster_id) — the same total
        # order the oracle's ROW_NUMBER replays, but as an aggregate so
        # the map side reduces each vector's k candidate rows to ONE
        # before the exchange (r17, guide §2.3): the shuffle carries N
        # rows instead of N*k rows each dragging two 64-dim arrays
        # through a sort. `e` rides inside the struct but is never
        # compared (cluster_id is unique per vector, so ordering always
        # resolves at the second field).
        asg = (
            v.crossJoin(F.broadcast(cents))
            .withColumn("d2", _km_d2(F.col("e"), F.col("ce")))
            .groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cluster_id", "e")).alias("b"))
            .select(
                "vec_id",
                F.col("b.cluster_id").alias("cluster_id"),
                F.col("b.e").alias("e"),
            )
        )
        comp = asg.select(
            "cluster_id", "vec_id", F.posexplode("e").alias("dim", "val")
        )
        upd = (
            comp.groupBy("cluster_id", "dim")
            .agg(
                F.array_sort(F.collect_list(F.struct("vec_id", "val"))).alias("sv"),
                F.count("*").alias("n"),
            )
            .select(
                "cluster_id",
                "dim",
                (
                    F.aggregate(
                        F.col("sv"), F.lit(0.0), lambda a, s: a + s.val
                    )
                    / F.col("n")
                ).alias("m"),
            )
        )
        cents = (
            upd.groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s.m,
                ).alias("ce")
            )
            .localCheckpoint(eager=True)
        )
    _KM_DET_MODEL[key] = (v, cents)
    return v, cents


@register("embed_kmeans_clusters", oracle=_SQL_KMEANS_CLUSTERS)
def embed_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster profile after KM_ITERS Lloyd's rounds: size and inertia
    (sum of squared distances) per cluster — on the DETERMINISTIC trainer,
    so the DuckDB oracle replays the full training loop as a recursive
    CTE and the profile hash-matches (previously rows-only)."""
    v, cents = _kmeans_train_deterministic(spark, sf_dir)
    # same min-struct argmin as the trainer loop (guide §2.3): the
    # exchange carries one (vec_id, d2, cluster_id) row per vector, not
    # k candidate rows through a sort
    fin = (
        v.crossJoin(F.broadcast(cents))
        .withColumn("d2", _km_d2(F.col("e"), F.col("ce")))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cluster_id")).alias("b"))
        .select(
            "vec_id",
            F.col("b.d2").alias("d2"),
            F.col("b.cluster_id").alias("cluster_id"),
        )
    )
    return (
        fin.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_vectors"),
            F.array_sort(F.collect_list(F.struct("vec_id", "d2"))).alias("sv"),
        )
        .select(
            "cluster_id",
            "n_vectors",
            F.aggregate(F.col("sv"), F.lit(0.0), lambda a, s: a + s.d2).alias(
                "inertia"
            ),
        )
    )


_SQL_IVF_KMEANS_TOPK = f"""
    WITH RECURSIVE vnn AS (
      SELECT vec_id, embedding::DOUBLE[] AS e
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    {sql_kmeans_cte('vnn', str(KM_K))},
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                 {_SQL_NORM.format(a='embedding::DOUBLE[]')} AS nrm
          FROM embeddings),
    cent AS (SELECT cluster_id AS cent_id, ce,
                    {_SQL_NORM.format(a='ce')} AS cnrm
             FROM km WHERE it = {KM_ITERS}),
    assign AS (
      SELECT vec_id, e, nrm, cent_id FROM (
        SELECT v.vec_id, v.e, v.nrm, cent.cent_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {_SQL_DOT.format(a='v.e', b='cent.ce')} / (v.nrm * cent.cnrm) DESC,
                 cent.cent_id ASC) AS rn
        FROM v, cent
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cent_id FROM (
        SELECT v.vec_id, cent.cent_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {_SQL_DOT.format(a='v.e', b='cent.ce')} / (v.nrm * cent.cnrm) DESC,
                 cent.cent_id ASC) AS rn
        FROM v, cent
        WHERE v.vec_id < {N_QUERIES}
      ) WHERE rn <= {IVF_PROBES}
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_DOT.format(a='q.e', b='c.e')} / (q.nrm * c.nrm) AS cosine
      FROM v q
      JOIN probes p ON p.query_id = q.vec_id
      JOIN assign c ON c.cent_id = p.cent_id AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
"""


@register("sim_ivf_kmeans_topk", oracle=_SQL_IVF_KMEANS_TOPK)
def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search over TRAINED centroids: the index sim_ivf_topk
    approximates with stride-sampled "centroids" rebuilt on actual cluster
    structure — k-means cells are tighter, so the same probe budget
    (IVF_PROBES cells) recovers more true neighbors (recall vs brute force
    asserted in tests/test_quality_metrics.py alongside the LSH recall).
    This is the full production IVF loop: train -> assign cells -> probe
    top-P cells per query -> exact cosine inside probed cells only.
    HASH-CHECKED since r13: centroids come from the deterministic
    ordered-fold trainer, so the oracle replays training (sql_kmeans_cte)
    plus the identical probe SQL the stride variant already matched."""
    v = _vectors(spark, sf_dir).withColumn("nrm", _norm(F.col("e")))
    _, km = _kmeans_train_deterministic(spark, sf_dir)
    cent = km.select(
        F.col("cluster_id").alias("cent_id"),
        F.col("ce"),
        _norm(F.col("ce")).alias("cnrm"),
    )
    return _ivf_probe_topk(v, cent)


# --------------------------------------------------------------------------
# kNN label prediction: the evaluation story for the ANN surface. Each
# query vector's label is predicted by majority vote over its top-k exact
# cosine neighbors (ties -> smaller label, total order); accuracy is
# reported per true label. At scale the neighbor source swaps for the IVF/
# LSH index with the identical vote/report shape.
# --------------------------------------------------------------------------
_SQL_KNN_ACCURACY = f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e,
                      {_SQL_NORM.format(a='embedding::DOUBLE[]')} AS nrm
               FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nl,
             {_SQL_DOT.format(a='q.e', b='c.e')} / (q.nrm * c.nrm) AS cosine
      FROM q JOIN v c ON q.vec_id <> c.vec_id
    ),
    topk AS (
      SELECT query_id, nl FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
      ) WHERE rank <= {TOP_K}
    ),
    votes AS (
      SELECT query_id, nl, COUNT(*) AS n FROM topk GROUP BY query_id, nl
    ),
    pred AS (
      SELECT query_id, nl AS predicted FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY n DESC, nl ASC) AS r
        FROM votes
      ) WHERE r = 1
    )
    SELECT q.label AS true_label,
           COUNT(*) AS n_queries,
           COUNT(*) FILTER (WHERE pred.predicted = q.label) AS n_correct
    FROM q JOIN pred ON pred.query_id = q.vec_id
    GROUP BY q.label
"""


@register("sim_knn_label_accuracy", oracle=_SQL_KNN_ACCURACY)
def sim_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label kNN classification report over the query vectors. The
    vote and the report are decomposable aggregates over the top-k frame;
    everything rides the same broadcast-query brute-force scoring as
    sim_bruteforce_topk (random synthetic embeddings make accuracy itself
    uninformative — the contract under test is the vote pipeline)."""
    labels = load_table(spark, "embeddings", sf_dir).select("vec_id", "label")
    topk = sim_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    votes = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "nl")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("n"), F.asc("nl"))
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("nl").alias("predicted"))
    )
    truth = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        pred.join(F.broadcast(truth), "query_id")
        .groupBy("true_label")
        .agg(
            F.count("*").alias("n_queries"),
            F.count(
                F.when(F.col("predicted") == F.col("true_label"), 1)
            ).alias("n_correct"),
        )
    )


# --------------------------------------------------------------------------
# Recall report: the QUALITY axis of the approximate tiers. The latency
# of sim_lsh_topk / sim_ivf_topk is measured by the bench and the scale
# sweeps; this op measures what those tiers give up — recall@k against
# the exact brute-force ground truth, per tier, as a first-class query.
# A real ANN deployment tunes LSH_TABLES/LSH_PLANES and IVF_PROBES on
# exactly this number.
# --------------------------------------------------------------------------
RECALL_K = 10

_SQL_RECALL_REPORT = f"""
    WITH brute AS ({_sql_brute_topk(RECALL_K)}),
    lshq AS ({_sql_lsh_topk(RECALL_K)}),
    lshwq AS ({_sql_lsh_topk(RECALL_K, tables=LSH_TABLES_WIDE)}),
    ivfq AS ({_sql_ivf_topk(RECALL_K)}),
    approx AS (
      SELECT 'lsh' AS tier, query_id, neighbor_id FROM lshq
      UNION ALL
      SELECT 'lsh_wide' AS tier, query_id, neighbor_id FROM lshwq
      UNION ALL
      SELECT 'ivf' AS tier, query_id, neighbor_id FROM ivfq
    ),
    tiers AS (SELECT 'lsh' AS tier UNION ALL SELECT 'lsh_wide' AS tier
              UNION ALL SELECT 'ivf' AS tier),
    hits AS (
      SELECT a.tier, COUNT(*) AS n_hits
      FROM approx a JOIN brute b
        ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
      GROUP BY a.tier
    ),
    expected AS (SELECT COUNT(*) AS n_expected FROM brute)
    SELECT t.tier, {RECALL_K} AS k, e.n_expected,
           COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) / e.n_expected AS recall
    FROM tiers t CROSS JOIN expected e
    LEFT JOIN hits h ON h.tier = t.tier
"""


@register("sim_recall_report", oracle=_SQL_RECALL_REPORT)
def sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{RECALL_K} of each untrained approximate tier (LSH at both
    OR-widths, stride IVF) against the exact brute-force top-k over the
    same queries — one row per tier: (tier, k, n_expected, n_hits,
    recall). Measured at sf0.1: lsh 0.49, lsh_wide 0.68, ivf 0.36
    (floors in tests/test_quality_metrics.py); at sf10: 0.57 / 0.87 /
    0.49 (RECALL_r11.json). The trained
    k-means IVF tier is iterative (rows-only driver check) and its recall
    is asserted separately in tests/test_quality_metrics.py, so it stays
    out of this hash-checked report.

    Scale design: the ground-truth side is O(Q x N) BY DEFINITION — a
    recall measurement cannot avoid the exact scan. At corpus scale this
    op runs on a query SAMPLE (N_QUERIES vectors), which is how recall is
    audited in production ANN systems: the corpus side stays a single
    broadcast-query pass (no shuffle of the big side), the approx tiers
    run their normal bucketed plans, and the report joins three
    Q*k-row frames — model-sized, never corpus-sized. Measured points:
    sf0.1 and the inflated sf10 decade (tools/recall_scale.py,
    SCALE.md)."""
    from psql_streamer_spark.caching import persist_for

    # Shared-frame discipline (r17, guide §5 / §2.4): the four tiers all
    # re-derived the corpus vector scan — the before-plan showed 36
    # separate parquet scans of embeddings in one query (plans/r17) —
    # and the narrow LSH tier re-computed signatures the wide tier also
    # computes (table t's expression is OR-width-independent). One
    # persisted (vec_id, e, nrm) frame feeds every tier, and one
    # persisted slim (vec_id, tbl, bucket) frame at the WIDE width
    # serves both LSH tiers (narrow = tbl < LSH_TABLES slice). Both
    # caches are materialized before fan-out (r16 advice: lazily
    # persisted frames under concurrently-built stages can compute
    # twice) and released with the report via persist_for.
    v = _vectors(spark, sf_dir).withColumn("nrm", _norm(F.col("e"))).persist()
    v.count()
    sig8 = _lsh_signatures(v, LSH_TABLES_WIDE, LSH_PLANES).persist()
    sig8.count()
    # the exact ground truth feeds BOTH the hits join and the expected
    # count: persist the (Q x k)-row result so the O(Q x N) brute-force
    # scan behind it runs once, not twice (r16, guide §5 caching — the
    # cached frame is model-sized, its lifetime tied to the report)
    brute = (
        _bruteforce_topk(spark, sf_dir, RECALL_K, v=v)
        .select("query_id", "neighbor_id")
        .persist()
    )
    brute.count()
    lsh = _lsh_topk(
        spark, sf_dir, RECALL_K, v=v, sig=sig8.filter(F.col("tbl") < LSH_TABLES)
    ).select("query_id", "neighbor_id")
    lshw = _lsh_topk(
        spark, sf_dir, RECALL_K, tables=LSH_TABLES_WIDE, v=v, sig=sig8
    ).select("query_id", "neighbor_id")
    ivf = _ivf_stride_topk(spark, sf_dir, RECALL_K, v=v).select(
        "query_id", "neighbor_id"
    )
    approx = (
        lsh.withColumn("tier", F.lit("lsh"))
        .unionByName(lshw.withColumn("tier", F.lit("lsh_wide")))
        .unionByName(ivf.withColumn("tier", F.lit("ivf")))
    )
    hits = (
        approx.join(brute, ["query_id", "neighbor_id"])
        .groupBy("tier")
        .agg(F.count("*").alias("n_hits"))
    )
    expected = brute.agg(F.count("*").alias("n_expected"))
    tiers = spark.createDataFrame(
        [("lsh",), ("lsh_wide",), ("ivf",)], "tier string"
    )
    report = (
        tiers.crossJoin(F.broadcast(expected))
        .join(F.broadcast(hits), "tier", "left")
        .select(
            "tier",
            F.lit(RECALL_K).alias("k"),
            "n_expected",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            # try_divide: NULL on an empty corpus (n_expected = 0),
            # matching DuckDB's NULL-on-/0 — ANSI `/` would throw
            F.try_divide(
                F.coalesce("n_hits", F.lit(0)), F.col("n_expected")
            ).alias("recall"),
        )
    )
    return persist_for(v, persist_for(sig8, persist_for(brute, report)))
