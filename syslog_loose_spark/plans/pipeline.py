"""End-to-end job assembly: parse → enrich → route → aggregate, resumable.

Physical profile (SURVEY §3.2/§4.4): one JVM→Python Arrow boundary (the
parse arrow_udf), one shuffle per chunk (the REBALANCE before the routed
fan-out write), one shuffle for the final aggregate.  Everything else is
narrow or a broadcast join.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import PipelineConfig
from ..operators.aggregate import per_sink_metrics, sink_aggregates
from ..operators.enrich import enrich
from ..operators.parse import parse_tokenized
from ..operators.resume import commit_chunk, completed_chunks
from ..operators.route import route_write, with_sink


def parsed_pipeline(tokens_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The per-row transformation chain (no writes)."""
    return with_sink(enrich(parse_tokenized(tokens_df, cfg.parse)))


def _machine_cpu_sec() -> float:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        return sum(int(x) for x in parts[:3]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError):  # pragma: no cover - non-Linux
        return 0.0


@contextlib.contextmanager
def _phase(timings: dict | None, name: str):
    """Accumulate (wall_sec, machine_cpu_sec) per pipeline phase when the
    caller asks for a decomposition — the per-stage evidence that locates
    scaling tails (r3 VERDICT item 2) instead of one opaque number."""
    if timings is None:
        yield
        return
    t0, c0 = time.perf_counter(), _machine_cpu_sec()
    try:
        yield
    finally:
        w, c = timings.get(name, (0.0, 0.0))
        timings[name] = (round(w + time.perf_counter() - t0, 3),
                         round(c + _machine_cpu_sec() - c0, 1))


def routed_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "routed")


def run_pipeline(spark: SparkSession, tokens_df: DataFrame, out_dir: str,
                 run_id: str, cfg: PipelineConfig = PipelineConfig(),
                 n_chunks: int = 4,
                 fail_after_chunk: int | None = None,
                 timings: dict | None = None) -> DataFrame:
    """Execute (or resume) a run.  Returns the final aggregate DataFrame.

    ``fail_after_chunk`` is a test hook: raise after committing that many
    chunks, simulating a mid-run kill for the resume-idempotence tests.
    ``timings``, when a dict, receives per-phase (wall_sec,
    machine_cpu_sec) accumulators: parse_route_write / commit_metrics /
    aggregate.
    """
    state_dir = os.path.join(out_dir, "state")
    done = completed_chunks(spark, state_dir, run_id)
    todo = [c for c in range(n_chunks) if c not in done]

    chunk_key = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_chunks))
    n_done = 0
    for c in todo:
        # a row filter, not a scan prune: every chunk reads the whole
        # input.  With a single chunk the predicate is a tautology, so
        # the per-row xxhash64 filter is skipped entirely
        chunk_in = (tokens_df if n_chunks == 1
                    else tokens_df.where(chunk_key == c))
        routed = parsed_pipeline(chunk_in, cfg)
        chunk_dir = os.path.join(routed_dir(out_dir), f"chunk={c}")
        with _phase(timings, "parse_route_write"):
            route_write(routed, chunk_dir, mode="overwrite")
        # metrics from the files just written (validates the sink contents)
        with _phase(timings, "commit_metrics"):
            written = spark.read.parquet(chunk_dir)
            commit_chunk(spark, state_dir, run_id, c,
                         per_sink_metrics(written))
        n_done += 1
        if fail_after_chunk is not None and n_done >= fail_after_chunk:
            raise RuntimeError(f"injected failure after chunk {c}")

    with _phase(timings, "aggregate"):
        all_routed = spark.read.option("basePath", routed_dir(out_dir)) \
            .parquet(routed_dir(out_dir))
        agg = sink_aggregates(all_routed)
        agg.write.mode("overwrite").parquet(
            os.path.join(out_dir, "aggregates"))
    return spark.read.parquet(os.path.join(out_dir, "aggregates"))


def read_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.option("basePath", routed_dir(out_dir)) \
        .parquet(routed_dir(out_dir))
