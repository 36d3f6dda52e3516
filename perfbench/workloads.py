"""The benchmark's workloads: inputs, one pass, output checks, and the
per-layer metrics of the traced run.

A pass calls the program's public functions only and writes into a fresh
output root.  The traced run observes layers from outside: it wraps the
names ``plans.pipeline`` calls (see ``install_tracing``) and separates the
lazy scan/parse/enrich layers with noop-sink cuts.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

import pyarrow.parquet as pq

from . import checks, gen, procstat
from .trace import StageReader, Tracer, self_times, totals, unwrap

#: Input sizes: large enough that per-row work, not per-job latency, sets
#: a pass's time, small enough for three set-up passes and a timed region
#: inside one run (see README.md, "Sizing and noise").
FANOUT_ROWS = 240_000
#: ~1300 B of banded rows per vector: 60k is above embedding_near_dups'
#: 64 MiB Arrow re-score gate (78 MB), 12k is below it (16 MB)
LARGE_VECTORS = 60_000
SMALL_VECTORS = 12_000
NEAR_DUP_THRESHOLD = 0.95

PIPELINE_SPANS = ("completed_chunks", "route_write", "per_sink_metrics",
                  "commit_chunk", "sink_aggregates")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _medians(per_pass: list[dict]) -> dict:
    return {k: _median([p[k] for p in per_pass]) for k in per_pass[0]}


def _spark_counts(stages: StageReader, spans) -> dict:
    """Jobs, stages, tasks and GC time of every job the spans ran."""
    jobs = [j for s in spans for j in stages.jobs(s.group)]
    every = [stages.stage(sid) for sid in stages.stage_ids(jobs)]
    return {"pipeline.jobs": len(jobs),
            "pipeline.stages": len(every),
            "pipeline.tasks": sum(s["numCompleteTasks"] for s in every),
            "pipeline.gc_s": sum(s["jvmGcTime"] for s in every) / 1e3}


class Workload:
    name = ""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.rows = 0            # input rows (vectors) of one pass
        self.input_bytes = 0     # parquet bytes of the input

    def prepare(self) -> None:
        """Write the seeded inputs under ``work``."""
        raise NotImplementedError

    def run_pass(self, spark, out: str, tracer: Tracer | None = None):
        raise NotImplementedError

    def check_pass(self, con, out: str) -> list[str]:
        """Problems with one pass's output (empty when correct)."""
        raise NotImplementedError

    def check_run(self, con, out: str) -> list[str]:
        """Costlier checks, made once per run on one pass's output."""
        return []

    def layers(self, spark, tracer: Tracer, stages: StageReader,
               traced: list[tuple[str, str]], con) -> dict:
        """Per-layer metrics from the traced passes (run id, output)."""
        raise NotImplementedError


class Fanout(Workload):
    name = "fanout"

    def prepare(self) -> None:
        self.inp = gen.write_tokenized(os.path.join(self.work, "input"),
                                       FANOUT_ROWS, self.seed)
        self.rows = self.inp.rows
        self.input_bytes = self.inp.file_bytes

    def frame(self, spark):
        from syslog_loose_spark.sources.tokenized import read_tokenized

        return read_tokenized(spark, self.inp.path)

    def run_pass(self, spark, out, tracer=None):
        from syslog_loose_spark.plans.pipeline import run_pipeline

        run_pipeline(spark, self.frame(spark), out, run_id="bench",
                     n_chunks=1)

    def check_pass(self, con, out):
        return checks.diff_counts(
            "aggregate",
            checks.aggregate_counts(con, os.path.join(out, "aggregates")),
            self.inp.aggregates,
        ) + checks.diff_counts(
            "routed", checks.routed_counts(con, os.path.join(out, "routed")),
            self.inp.routed)

    def check_run(self, con, out):
        return checks.routed_tokens(con, os.path.join(out, "routed"),
                                    self.inp.path, self.rows)

    def cuts(self, spark, tracer: Tracer, reps: int = 3) -> dict:
        """Noop-sink cuts over the same input: scan, + parse, + enrich
        and sink; wall, tree CPU, Python-worker CPU and JVM bytes read,
        each the median of ``reps``."""
        from syslog_loose_spark.config import PipelineConfig
        from syslog_loose_spark.operators.parse import parse_tokenized
        from syslog_loose_spark.plans.pipeline import parsed_pipeline

        cfg = PipelineConfig()
        plans = {
            "scan": lambda df: df,
            "parse": lambda df: parse_tokenized(df, cfg.parse),
            "enrich": lambda df: parsed_pipeline(df, cfg),
        }
        res = {}
        for cut, plan in plans.items():
            walls, cpus, py, read = [], [], [], []
            for r in range(reps):
                tracer.run = f"cut-{cut}-{r}"
                df = plan(self.frame(spark))
                p0 = procstat.python_worker_cpu_seconds()
                with tracer.span(f"cut.{cut}") as s:
                    df.write.format("noop").mode("overwrite").save()
                py.append(procstat.python_worker_cpu_seconds() - p0)
                walls.append(s.wall)
                cpus.append(s.info["cpu"])
                read.append(s.info["read"])
            res[cut] = {"wall": _median(walls), "cpu": _median(cpus),
                        "python_cpu": _median(py), "read": _median(read)}
        return res

    def kernel_us_per_row(self, n: int = 20_000, reps: int = 3) -> float:
        """``parse_lines`` alone, in this process, on detokenized rows."""
        from syslog_loose_spark.config import ParseConfig
        from syslog_loose_spark.operators.parse import parse_lines

        first = sorted(os.listdir(self.inp.path))[0]
        t = pq.read_table(os.path.join(self.inp.path, first),
                          columns=["tokens"]).slice(0, n)
        lines = [bytes(x).decode("utf-8", "replace")
                 for x in t.column("tokens").to_pylist()]
        cfg = ParseConfig()
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            parse_lines(lines, lines, cfg)
            times.append(time.perf_counter() - t0)
        return _median(times) / len(lines) * 1e6

    def layers(self, spark, tracer, stages, traced, con):
        rows = self.rows
        cut = self.cuts(spark, tracer)
        enrich = cut["enrich"]
        kernel = self.kernel_us_per_row()
        parse_cpu = (cut["parse"]["cpu"] - cut["scan"]["cpu"]) / rows * 1e6
        aggs = checks.aggregate_counts(
            con, os.path.join(traced[-1][1], "aggregates"))
        out = {
            "tokenized.scan_s": cut["scan"]["wall"],
            "tokenized.scan_cpu_us_per_row": cut["scan"]["cpu"] / rows * 1e6,
            "tokenized.input_bytes_per_row": cut["scan"]["read"] / rows,
            "parse.cut_s": cut["parse"]["wall"] - cut["scan"]["wall"],
            "parse.cpu_us_per_row": parse_cpu,
            "parse.kernel_us_per_row": kernel,
            "parse.boundary_us_per_row": parse_cpu - kernel,
            "parse.python_cpu_s": cut["parse"]["python_cpu"],
            "parse.dead_letter_frac": sum(
                n for k, n in aggs.items() if k[0] == gen.DEAD_LETTER) / rows,
            "enrich.cut_s": enrich["wall"] - cut["parse"]["wall"],
        }
        per_pass = []
        for run, routed_out in traced:
            spans = [s for s in tracer.spans if s.run == run]
            by: dict = {}
            for s in spans:
                by.setdefault(s.name, []).append(s)
            root, route = by["pass"][0], by["route_write"][0]
            kids = [s for s in spans if s.parent == root.id]
            route_stages = stages.stages([route.group])
            writer = max(route_stages, key=lambda s: s["id"])
            q = stages.task_quantiles(writer["id"], writer["attempt"])
            rt = totals(route_stages)
            per_pass.append({
                "route.write_s": route.wall - enrich["wall"],
                "route.cpu_s": route.info["cpu"] - enrich["cpu"],
                "route.shuffle_bytes_per_row": rt["shuffleWriteBytes"] / rows,
                "route.files_written":
                    checks.count_files(os.path.join(routed_out, "routed")),
                "route.write_tasks": writer["numCompleteTasks"],
                "route.task_skew": q[1] / q[0] if q and q[0] else 0.0,
                "route.gc_s": rt["jvmGcTime"] / 1e3,
                "route.spill_bytes":
                    rt["memoryBytesSpilled"] + rt["diskBytesSpilled"],
                "resume.state_read_s":
                    sum(s.wall for s in by["completed_chunks"]),
                "resume.commit_s": sum(s.wall for s in by["commit_chunk"]),
                "resume.commits": len(by["commit_chunk"]),
                "pipeline.read_amplification":
                    root.info["read"] / self.input_bytes,
                "pipeline.self_s": self_times(spans)[root.id],
                "aggregate.agg_s": root.end - by["sink_aggregates"][0].start,
                "aggregate.readback_bytes":
                    root.info["read"] - sum(k.info["read"] for k in kids),
                **_spark_counts(stages, spans),
            })
        out.update(_medians(per_pass))
        return out


class NearDupEmbed(Workload):
    name = "near_dup_embed"

    def prepare(self) -> None:
        self.corpora = {}
        for label, n in (("large", LARGE_VECTORS), ("small", SMALL_VECTORS)):
            path = os.path.join(self.work, f"vectors_{label}")
            size, planted = gen.write_vectors(path, n, self.seed)
            self.corpora[label] = (path, planted)
            self.rows += n
            self.input_bytes += size

    def run_pass(self, spark, out, tracer=None):
        from syslog_loose_spark.functions import dedup, similarity

        planes = similarity.plane_bands(n_bands=2, n_planes=10, dim=64)
        for label, (path, _) in self.corpora.items():
            span = tracer.span(label) if tracer else contextlib.nullcontext()
            with span as s:
                similarity.embedding_near_dups(
                    spark.read.parquet(path), threshold=NEAR_DUP_THRESHOLD,
                    planes=planes,
                ).write.parquet(os.path.join(out, label))
                if s is not None:
                    s.info["checkpoint_bytes"] = _storage_bytes(spark)
            dedup.unpersist_tracked()

    def check_pass(self, con, out):
        problems = []
        for label, (_, planted) in self.corpora.items():
            got = checks.pairs(os.path.join(out, label))
            if got != planted:
                problems.append(
                    f"{label}: {len(got & planted)} of {len(planted)} "
                    f"planted pairs found, {len(got - planted)} extra")
        return problems

    def layers(self, spark, tracer, stages, traced, con):
        per_pass = []
        for run, pairs_out in traced:
            spans = [s for s in tracer.spans if s.run == run]
            by = {s.name: s for s in spans if s.name in self.corpora}
            root = next(s for s in spans if s.name == "pass")
            counts = _spark_counts(stages, spans)
            per_pass.append({
                "similarity.large_s": by["large"].wall,
                "similarity.small_s": by["small"].wall,
                "similarity.pairs_out": sum(
                    len(checks.pairs(os.path.join(pairs_out, k)))
                    for k in self.corpora),
                "similarity.jobs": counts["pipeline.jobs"],
                "similarity.checkpoint_bytes": sum(
                    s.info["checkpoint_bytes"] for s in by.values()),
                "similarity.cpu_s": root.info["cpu"],
                **counts,
            })
        return _medians(per_pass)


def _storage_bytes(spark) -> int:
    """Memory + disk bytes of every cached or checkpointed RDD."""
    return sum(int(i.memSize()) + int(i.diskSize())
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


WORKLOADS = {w.name: w for w in (Fanout, NearDupEmbed)}


def install_tracing(tracer: Tracer) -> list:
    """Wrap the names the pipeline and the near-dup pass call."""
    from syslog_loose_spark.functions import similarity
    from syslog_loose_spark.plans import pipeline

    targets = [(pipeline, n) for n in PIPELINE_SPANS]
    targets.append((similarity, "embedding_near_dups"))
    for mod, attr in targets:
        tracer.wrap(mod, attr)
    return targets


def remove_tracing(targets) -> None:
    for mod, attr in targets:
        unwrap(mod, attr)
