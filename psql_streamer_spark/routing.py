"""Table→topic routing and fan-out expression builders (reference §2.3).

The reference routes each event's Table through a config map to a Kafka
topic, with an optional fallback topic and a counted discard path
(`sink/kafka/kafka.go:116-135,169-215`). Here the whole routing table
compiles to ONE `when`-chain expression — a broadcast-free, shuffle-free
projection that Catalyst constant-folds, so routing costs nothing at scale
(vs. the reference's per-event map lookup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from psql_streamer_spark.transforms import once_per_jvm


def topic_expr(
    mapping: dict[str, str],
    fallback: str | None = None,
    table_col: str = "table",
) -> Column:
    """Build the routing expression: mapped topic, else fallback, else NULL
    (NULL = discard, counted by the caller). Always string-typed, even with
    no mapping and no fallback. Built once per JVM and route map."""
    return _topic_expr(tuple(mapping.items()), fallback, table_col)


@once_per_jvm
def _topic_expr(
    mapping: tuple[tuple[str, str], ...], fallback: str | None, table_col: str
) -> Column:
    expr: Column | None = None
    for table, topic in mapping:
        cond = F.col(table_col) == table
        expr = F.when(cond, topic) if expr is None else expr.when(cond, topic)
    if expr is None:
        return F.lit(fallback).cast("string")  # a typed NULL when no fallback
    return expr.otherwise(F.lit(fallback))  # lit(None) when no fallback


def route(
    df: DataFrame,
    mapping: dict[str, str],
    fallback: str | None = None,
    table_col: str = "table",
) -> DataFrame:
    """Attach the `topic` column and drop unroutable events (R1's discard
    path). The single Kafka sink honors a `topic` column natively, so this
    replaces the reference's per-topic batch grouping (R2) with zero extra
    stages."""
    return df.withColumn("topic", topic_expr(mapping, fallback, table_col)).filter(
        _has_topic()
    )


@once_per_jvm
def _has_topic() -> Column:
    return F.col("topic").isNotNull()


def routing_stats(
    df: DataFrame,
    mapping: dict[str, str],
    fallback: str | None = None,
    table_col: str = "table",
) -> DataFrame:
    """Per-topic routed counts plus the discarded (`noTopic`) count — the
    reference's sink counters (kafka.go:190, stats) as one aggregation."""
    return (
        df.withColumn("topic", topic_expr(mapping, fallback, table_col))
        .groupBy(F.coalesce("topic", F.lit("__discarded__")).alias("topic"))
        .agg(F.count("*").alias("n_events"))
    )
