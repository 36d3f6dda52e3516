"""Output checks, run outside the timed region with DuckDB and pyarrow
(readers independent of Spark).  Each check returns a list of problems;
an empty list means the output is correct."""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect(":memory:", config={"threads": 2})
    con.execute(f"SET temp_directory='{tmp_dir}'")
    return con


def diff_counts(name: str, got: dict, want: dict, limit: int = 3
                ) -> list[str]:
    """Problems for every key whose count differs (at most ``limit``)."""
    bad = sorted((k for k in set(got) | set(want)
                  if got.get(k, 0) != want.get(k, 0)), key=repr)
    return [f"{name} {k}: got {got.get(k, 0)}, expected {want.get(k, 0)}"
            for k in bad[:limit]] + (
        [f"{name}: {len(bad) - limit} more keys differ"]
        if len(bad) > limit else [])


def _parquet(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def aggregate_counts(con, agg_dir: str) -> dict:
    """(sink, facility, severity, hour epoch s) -> n from the aggregates."""
    rows = con.execute(
        "SELECT sink, facility, severity, CAST(epoch(hour) AS BIGINT), "
        f"sum(n) FROM read_parquet('{_parquet(agg_dir)}') GROUP BY ALL"
    ).fetchall()
    return {tuple(r[:4]): int(r[4]) for r in rows}


def routed_counts(con, routed_dir: str) -> dict:
    """(sink, source, severity_bucket) -> rows from the routed sinks'
    hive-partition directories."""
    rows = con.execute(
        "SELECT sink, source, severity_bucket, count(*) FROM read_parquet("
        f"'{_parquet(routed_dir)}', hive_partitioning = true) GROUP BY ALL"
    ).fetchall()
    return {tuple(r[:3]): int(r[3]) for r in rows}


def routed_tokens(con, routed_dir: str, input_dir: str, rows: int
                  ) -> list[str]:
    """Every input row is routed exactly once with its token array."""
    n, distinct, unequal = con.execute(
        "SELECT count(*), count(DISTINCT r.doc_id), "
        "count(*) FILTER (WHERE r.tokens IS DISTINCT FROM i.tokens) "
        f"FROM read_parquet('{_parquet(routed_dir)}', "
        "hive_partitioning = true) r "
        f"LEFT JOIN read_parquet('{_parquet(input_dir)}') i USING (doc_id)"
    ).fetchone()
    out = []
    if n != rows or distinct != rows:
        out.append(f"routed rows {n} ({distinct} distinct doc_id), "
                   f"expected {rows}")
    if unequal:
        out.append(f"{unequal} routed token arrays differ from the input")
    return out


def pairs(path: str) -> set:
    files = glob.glob(_parquet(path), recursive=True)
    if not files:
        return set()
    t = pq.ParquetDataset(files).read(columns=["a", "b"])
    return set(zip(t.column("a").to_pylist(), t.column("b").to_pylist()))


def tree_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _, _, fs in os.walk(path) for f in fs)
