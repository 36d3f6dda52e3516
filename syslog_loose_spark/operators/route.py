"""Routing / fan-out stage.

Rows are routed to per-sink targets partitioned by (source,
severity_bucket); unparseable rows (the *_exact dead-letter semantics,
lib.rs:137-175) go to the ``dead_letter`` sink.

Scale reasoning (the part that must survive 1000 executors / 10^12 rows):

* ONE pass: the writer partitions by (sink, source, severity_bucket) in a
  single action — never one filtered job per sink, which would re-run the
  parse stage per sink.
* Skew: without clustering, every task writes a file into every
  partition directory (tasks × dirs small-file explosion); clustering by
  raw ``source`` would put ~60% of all rows (hot nginx) into one task.
  The AQE REBALANCE hint on the writer's partition columns is the skew
  handling: at runtime the optimizer splits shuffle partitions above
  advisoryPartitionSizeInBytes and coalesces tiny ones, so task sizes
  stay even however skewed the key distribution is.
* Sink format: zstd, with parquet's dictionary encoding on for every
  column.  The token values are bytes, so the ``tokens.list.element``
  dictionary never exceeds 256 entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import PipelineConfig

SINK_COL = "sink"
DEAD_LETTER = "dead_letter"
#: the routed sinks' parquet codec, set on that write alone: the session
#: codec stays in force for the aggregates, state and every other write
SINK_CODEC = "zstd"


def with_sink(enriched: DataFrame) -> DataFrame:
    """sink = dead_letter for fallback rows, else the severity bucket."""
    return enriched.withColumn(
        SINK_COL,
        F.when(~F.col("parse_ok"), F.lit(DEAD_LETTER))
         .otherwise(F.col("severity_bucket")),
    )


def clustered_for_write(routed: DataFrame) -> DataFrame:
    """Cluster rows for the dynamic-partition fan-out write with the AQE
    REBALANCE hint on the writer partition columns (needs AQE on, the
    session.py default).  The per-task working set stays at a handful of
    open files, so (with maxConcurrentOutputFileWriters, session.py) the
    writer skips its implicit whole-row sort, which dominates fan-out
    cost for fat token rows."""
    return routed.hint("rebalance", SINK_COL, "source", "severity_bucket")


def route_write(routed: DataFrame, out_dir: str,
                mode: str = "overwrite") -> None:
    """Cluster (see clustered_for_write), then fan out in ONE partitioned
    write, compressed with SINK_CODEC.  Measured on 240k rows at 3 slots:
    zstd with the token dictionary on writes 28 B/row against snappy's
    88 B/row without it, with wall and CPU inside run-to-run noise."""
    (
        clustered_for_write(routed)
        .write
        .partitionBy(SINK_COL, "source", "severity_bucket")
        .mode(mode)
        .option("compression", SINK_CODEC)
        .parquet(out_dir)
    )


def route_write_bucketed(routed: DataFrame, table: str,
                         cfg: PipelineConfig,
                         n_buckets: int | None = None,
                         mode: str = "overwrite") -> None:
    """Managed-table variant of route_write: bucketBy(doc_id) + sortBy so
    downstream joins/dedup on doc_id are CO-LOCATED — two tables bucketed
    the same way join with zero Exchange (asserted in
    tests/test_plan_quality.py).  On an Iceberg catalog the same plan uses
    a bucket(doc_id) partition transform; the sandbox has no catalog, so
    the Hive-style managed table is the tested path."""
    (
        routed
        .write
        .bucketBy(n_buckets or cfg.shuffle_partitions, "doc_id")
        .sortBy("doc_id")
        .mode(mode)
        .format("parquet")
        .saveAsTable(table)
    )
