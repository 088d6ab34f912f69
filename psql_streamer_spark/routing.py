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

from psql_streamer_spark.transforms import _dml_event, _valid_event, once_per_jvm


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


def fan_out(
    df: DataFrame,
    columns: tuple[str, ...],
    routes: tuple[tuple, ...],
    dead_letters: bool,
) -> DataFrame:
    """One row per (row of ``df``, output it belongs to): ``columns``, then
    the output's number ``_out``, its ``topic`` and ``_p``, the value of its
    partition column as a string (NULL for an unpartitioned output). The
    CDC epoch writes these rows once for all its file sinks
    (jvm/EpochFiles.java).

    ``routes`` has one ``(mapping items, fallback, passthrough, partition
    column or None)`` per route output, numbered from 0. A route takes the
    valid DML events ``route`` keeps: those its ``topic_expr`` maps, or
    all of them with a NULL topic when it is a passthrough. With
    ``dead_letters``, output ``len(routes)`` takes the rows
    ``validate_split`` dead-letters. Built once per JVM and output set."""
    return df.select(*_fan_out(columns, routes, dead_letters))


@once_per_jvm
def _fan_out(
    columns: tuple[str, ...], routes: tuple[tuple, ...], dead_letters: bool
) -> tuple[Column, ...]:
    none = F.lit(None).cast("string")
    valid = _valid_event()
    event = valid & _dml_event()
    tags = []
    for out, (mapping, fallback, passthrough, partition) in enumerate(routes):
        topic = none if passthrough else topic_expr(dict(mapping), fallback)
        takes = event if passthrough else event & topic.isNotNull()
        part = F.col(partition).cast("string") if partition else none
        tags.append(F.when(takes, _tag(out, topic, part)))
    if dead_letters:
        tags.append(F.when(~valid, _tag(len(routes), none, none)))
    return (
        *(F.col(c) for c in columns),
        F.inline(F.array_compact(F.array(*tags))),
    )


def _tag(out: int, topic: Column, part: Column) -> Column:
    return F.struct(F.lit(out).alias("_out"), topic.alias("topic"), part.alias("_p"))


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
