"""Aggregate stage: exact per-sink counts by facility × severity × hour.

Computed from the *routed sink files* (column-pruned read-back of 4 small
columns), not by re-running the parse stage — at 10^12 rows the read-back
scan is trivially cheap next to the parse, and aggregating what was
actually written makes the counts an integrity check of the sinks.
Partial (map-side) + final hash aggregation is Catalyst-automatic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def sink_aggregates(routed: DataFrame) -> DataFrame:
    return (
        routed
        .groupBy(
            F.col("sink"),
            F.col("facility"),
            F.col("severity"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def per_sink_metrics(routed: DataFrame) -> DataFrame:
    """Per (sink, source, severity_bucket) lineage/metrics rows: row count
    and event-time watermark (max ts) — the checkpoint state payload."""
    return (
        routed
        .groupBy("sink", "source", "severity_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("ts").alias("watermark_ts"),
            F.sum("n_tok").alias("sum_n_tok"),
        )
    )


def message_templates(parsed: DataFrame,
                      msg_col: str = "msg",
                      app_col: str = "appname") -> DataFrame:
    """Drain-lite log-template mining: collapse every digit run in the
    message to ``<#>`` and count occurrences per (appname, template) —
    the classic first pass of log analytics (He et al. 2017 "Drain"),
    turning a firehose of near-identical messages ("connect from
    10.1.2.3 port 51234") into a small template table with counts.

    The normalizer is deliberately ``[0-9]+`` (ASCII), NOT ``\\d+`` —
    Java and Python regex disagree on Unicode digits for ``\\d``, and
    the oracle replays the same substitution in Python, so the pattern
    must mean the same thing on both engines.

    Scale shape: one regexp_replace map over the scan (JVM, codegen)
    feeding a (appname, template) hash aggregation with map-side
    partial combine — the shuffle carries distinct templates per task,
    never raw messages.  first_idx (min doc index) gives a stable
    exemplar pointer.  Returns
    (appname, template, n_msgs, first_seen_doc)."""
    tpl = F.regexp_replace(F.col(msg_col), "[0-9]+", "<#>")
    return (parsed
            .select(F.col(app_col).alias("appname"),
                    tpl.alias("template"),
                    F.col("doc_id"))
            .groupBy("appname", "template")
            .agg(F.count(F.lit(1)).alias("n_msgs"),
                 F.min("doc_id").alias("first_seen_doc")))


def rate_anomalies(events: DataFrame, factor: int = 2,
                   key_col: str = "event_type",
                   ts_col: str = "ts") -> DataFrame:
    """Per-key hourly rate anomalies: flag every (key, hour) bucket
    whose event count exceeds ``factor``× that key's mean hourly rate
    (mean over the hours the key actually appeared).  The detection
    predicate is the integer cross-multiplication
    ``n_bucket * n_hours > factor * key_total`` — no division, so the
    flag is exact and the DuckDB oracle bit-matches.

    Scale shape: one (key, hour) hash aggregation (map-side partial
    combine collapses the raw stream), then the per-key totals come
    from an unbounded window OVER THAT AGGREGATE — hours-per-key rows,
    ~10⁴× smaller than the event stream — so the whole operator is two
    exchanges (agg + window repartition by key), not an agg + rollup +
    self-join.  Returns (key, hour, n, key_total, n_hours,
    is_anomaly)."""
    from pyspark.sql import Window

    hourly = (events
              .groupBy(F.col(key_col).alias("k"),
                       F.date_trunc("hour", F.col(ts_col)).alias("hour"))
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("k")
    return (hourly
            .withColumn("key_total", F.sum("n").over(w))
            .withColumn("n_hours", F.count(F.lit(1)).over(w))
            .select(F.col("k").alias(key_col), "hour",
                    F.col("n").cast("long").alias("n"),
                    F.col("key_total").cast("long").alias("key_total"),
                    F.col("n_hours").cast("long").alias("n_hours"),
                    (F.col("n") * F.col("n_hours")
                     > F.lit(factor) * F.col("key_total"))
                    .cast("long").alias("is_anomaly")))
