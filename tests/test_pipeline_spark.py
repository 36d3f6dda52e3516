"""End-to-end Spark pipeline tests against the plain-Python oracle:
per-sink exact counts, routed-row token equality, resume idempotence.
"""

import collections
import os
from datetime import timezone

import pytest
from pyspark.sql import functions as F

from syslog_loose_spark.config import PipelineConfig
from syslog_loose_spark.oracle import parse_message
from syslog_loose_spark.plans.pipeline import (
    parsed_pipeline,
    read_routed,
    run_pipeline,
)
from syslog_loose_spark.sources.corpus import (
    GOLDEN_CORPUS,
    corpus_line,
    source_for,
)
from syslog_loose_spark.sources.tokenized import (
    generate_tokenized,
    write_fixture,
)

N_ROWS = 500
CFG = PipelineConfig()


def oracle_expectations(n_rows):
    """Expected routing/aggregation facts computed row-by-row in Python."""
    per_line = {}
    for idx in range(len(GOLDEN_CORPUS)):
        m = parse_message(corpus_line(idx), CFG.parse)
        if not (m.facility is None and m.severity is None
                and m.timestamp is None and m.hostname is None
                and m.appname is None and m.msg == corpus_line(idx)
                and m.structured_data == []):
            ok = True
        else:  # exact-parse check for true fallback detection
            from syslog_loose_spark.oracle import parse_message_exact, ParseFail
            try:
                parse_message_exact(corpus_line(idx), CFG.parse)
                ok = True
            except ParseFail:
                ok = False
        bucket = ("unknown" if m.severity is None
                  else "high" if m.severity <= 3
                  else "mid" if m.severity <= 5 else "low")
        sink = bucket if ok else "dead_letter"
        hour = (m.timestamp.astimezone(timezone.utc)
                .replace(minute=0, second=0, microsecond=0, tzinfo=None)
                if ok and m.timestamp else None)
        per_line[idx] = (sink, m.facility if ok else None,
                         m.severity if ok else None, hour)
    sink_counts = collections.Counter()
    agg_counts = collections.Counter()
    for i in range(n_rows):
        sink, fac, sev, hour = per_line[i % len(GOLDEN_CORPUS)]
        sink_counts[sink] += 1
        agg_counts[(sink, fac, sev, hour)] += 1
    return sink_counts, agg_counts


def test_parse_tokenized_matches_oracle(spark):
    df = generate_tokenized(spark, len(GOLDEN_CORPUS))
    rows = parsed_pipeline(df, CFG).orderBy("doc_id").collect()
    assert len(rows) == len(GOLDEN_CORPUS)
    for r in rows:
        idx = int(r["doc_id"].split("-")[1])
        raw = corpus_line(idx)
        m = parse_message(raw, CFG.parse)
        ctx = r["doc_id"]
        assert bytes(t & 0xFF for t in r["tokens"]).decode("utf-8") == raw, ctx
        assert r["facility"] == m.facility, ctx
        assert r["severity"] == m.severity, ctx
        assert r["hostname"] == m.hostname, ctx
        assert r["appname"] == m.appname, ctx
        assert r["msgid"] == m.msgid, ctx
        assert r["msg"] == m.msg, ctx
        want_ts = (m.timestamp.astimezone(timezone.utc).replace(tzinfo=None)
                   if m.timestamp else None)
        assert r["ts"] == want_ts, ctx
        got_sd = [(e["id"], [(p["key"], p["value"]) for p in e["params"]])
                  for e in r["structured_data"]]
        assert got_sd == m.structured_data, ctx
        assert r["source"] == source_for(idx), ctx


def test_pipeline_counts_and_token_equality(spark, tmp_path):
    out = str(tmp_path / "out")
    fixture = str(tmp_path / "input")
    write_fixture(spark, fixture, N_ROWS)
    tokens_df = spark.read.parquet(fixture)

    run_pipeline(spark, tokens_df, out, run_id="r1", cfg=CFG, n_chunks=3)

    routed = read_routed(spark, out)
    sink_counts, agg_counts = oracle_expectations(N_ROWS)

    got_sinks = {r["sink"]: r["n"] for r in
                 routed.groupBy("sink").agg(F.count("*").alias("n"))
                 .collect()}
    assert got_sinks == dict(sink_counts)

    agg = spark.read.parquet(os.path.join(out, "aggregates"))
    got_agg = {(r["sink"], r["facility"], r["severity"],
                r["hour"]): r["n"] for r in agg.collect()}
    assert got_agg == dict(agg_counts)

    # per-row token-array equality vs the input (north-rule invariant)
    joined = (routed.alias("r")
              .join(tokens_df.alias("i"), "doc_id")
              .where(F.expr("r.tokens <> i.tokens") |
                     F.expr("r.n_tok <> i.n_tok")))
    assert joined.count() == 0
    assert routed.select("doc_id").distinct().count() == N_ROWS


def test_resume_idempotent(spark, tmp_path):
    fixture = str(tmp_path / "input")
    write_fixture(spark, fixture, 200)
    tokens_df = spark.read.parquet(fixture)

    clean = str(tmp_path / "clean")
    run_pipeline(spark, tokens_df, clean, run_id="r1", cfg=CFG, n_chunks=4)

    killed = str(tmp_path / "killed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, tokens_df, killed, run_id="r1", cfg=CFG,
                     n_chunks=4, fail_after_chunk=2)
    # resume with the same run id
    run_pipeline(spark, tokens_df, killed, run_id="r1", cfg=CFG, n_chunks=4)

    a = read_routed(spark, clean).select("doc_id", "sink").orderBy("doc_id")
    b = read_routed(spark, killed).select("doc_id", "sink").orderBy("doc_id")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]

    # no duplicates after resume
    n = read_routed(spark, killed).count()
    assert n == 200
    # state has exactly one commit marker per chunk
    st = spark.read.parquet(os.path.join(killed, "state"))
    commits = (st.where("kind = 'chunk_commit'")
               .groupBy("chunk").count().collect())
    assert all(r["count"] == 1 for r in commits)
    assert len(commits) == 4
    # metrics row counts sum to the table size
    m = st.where("kind = 'metrics'").agg(F.sum("n_rows")).collect()[0][0]
    assert m == 200


def test_commit_chunk_marker_and_metrics_share_one_file(spark, tmp_path):
    """ADVICE r4: marker-implies-metrics needs marker and metrics rows in
    ONE task file — FileOutputCommitter renames files sequentially at job
    commit, so a marker in its own file could be published while metrics
    files are still pending.  Each commit_chunk append must therefore
    produce exactly one parquet part file containing both kinds."""
    import glob

    from syslog_loose_spark.operators.resume import (
        STATE_SCHEMA, commit_chunk)

    state = str(tmp_path / "state")
    metrics = spark.createDataFrame(
        [("x", "metrics", 0, "s", "src", "hi", 7, None, 21)], STATE_SCHEMA)
    for chunk in (0, 1):
        before = set(glob.glob(os.path.join(state, "part-*")))
        commit_chunk(spark, state, "rX", chunk,
                     metrics.drop("run_id", "kind", "chunk"))
        new = sorted(set(glob.glob(os.path.join(state, "part-*"))) - before)
        assert len(new) == 1, new
        kinds = {r["kind"] for r in spark.read.parquet(new[0]).collect()}
        assert kinds == {"metrics", "chunk_commit"}


def test_sink_write_plan_is_single_shuffle(spark):
    """The routed plan must contain exactly one Exchange (the
    repartition) and one ArrowEvalPython-ish Python stage."""
    df = generate_tokenized(spark, 100)
    routed = parsed_pipeline(df, CFG).repartition(
        8, F.col("source"), F.col("severity_bucket"))
    plan = routed._jdf.queryExecution().executedPlan().toString()
    # exactly one shuffle (the repartition); the dim joins must be
    # broadcasts, not shuffles
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_route_write_strategies_agree_and_rebalance_plans(spark, tmp_path):
    """The fan-out's clustering carries the AQE rebalance operator, and
    the write keeps exactly the routed (doc_id, sink) row set."""
    from syslog_loose_spark.operators.route import (
        clustered_for_write, route_write)

    toks = generate_tokenized(spark, 2000)
    routed = parsed_pipeline(toks, CFG)
    plan = clustered_for_write(routed)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "RebalancePartitions" in plan, plan
    route_write(routed, str(tmp_path / "reb"))
    a = spark.read.parquet(str(tmp_path / "reb")).select("doc_id", "sink")
    b = routed.select("doc_id", "sink")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def _parquet_files(root):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                  for f in fs if f.endswith(".parquet"))


def test_routed_sink_format_zstd_token_dictionary(spark, tmp_path):
    """The routed sinks are zstd with a dictionary-encoded token leaf and
    keep list<int32> tokens; the codec is set on that write alone, so
    the aggregates and state files keep the session codec."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "out")
    run_pipeline(spark, generate_tokenized(spark, 300), out, run_id="f",
                 cfg=CFG, n_chunks=1)
    routed = _parquet_files(os.path.join(out, "routed"))
    assert routed
    pf = pq.ParquetFile(routed[0])
    tokens_type = pf.schema_arrow.field("tokens").type
    assert pa.types.is_list(tokens_type), tokens_type
    assert tokens_type.value_type == pa.int32(), tokens_type
    md = pf.metadata
    chunks = [md.row_group(g).column(c) for g in range(md.num_row_groups)
              for c in range(md.num_columns)]
    assert {ch.compression for ch in chunks} == {"ZSTD"}
    tok = [ch for ch in chunks if ch.path_in_schema == "tokens.list.element"]
    assert tok and all(any("DICTIONARY" in e for e in ch.encodings)
                       for ch in tok), [ch.encodings for ch in tok]

    session_codec = spark.conf.get(
        "spark.sql.parquet.compression.codec").upper()
    assert session_codec != "ZSTD"
    for sub in ("aggregates", "state"):
        files = _parquet_files(os.path.join(out, sub))
        assert files, sub
        for f in files:
            md = pq.ParquetFile(f).metadata
            assert {md.row_group(g).column(c).compression
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)} <= {session_codec}, f


def test_out_of_domain_tokens_dead_letter(spark):
    """Tokens are bytes: a row holding a token above 255, below 0 or null
    is a fallback row routed to dead_letter, never a line whose token
    silently wrapped to another byte (361 & 0xFF is 'i').  Its tokens
    pass through unchanged."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType)

    line = list(b"<34>1 2003-10-11T22:14:15.003Z mymachine su - ID47 - hi")
    i = line.index(ord("i"))
    rows = {"ok": line,
            "wrap361": line[:i] + [361] + line[i + 1:],
            "neg": line[:i] + [-1] + line[i + 1:],
            "null": line[:i] + [None] + line[i + 1:]}
    schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType(), True), False),
        StructField("n_tok", IntegerType(), False),
        StructField("source", StringType(), False)])
    df = spark.createDataFrame(
        [(k, v, len(v), "nginx") for k, v in rows.items()], schema)
    got = {r["doc_id"]: r for r in parsed_pipeline(df, CFG).collect()}
    assert got["ok"]["parse_ok"] and got["ok"]["sink"] != "dead_letter"
    for k in ("wrap361", "neg", "null"):
        r = got[k]
        assert not r["parse_ok"] and r["sink"] == "dead_letter", k
        assert list(r["tokens"]) == rows[k], k
        assert r["facility"] is None and r["hostname"] is None, k
        assert r["msg"] == bytes(
            0xFF if t is None or not 0 <= t <= 255 else t
            for t in rows[k]).decode("utf-8", "replace"), k
