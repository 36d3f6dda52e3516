import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks


def test_a_corrupted_expected_count_is_reported():
    got = {("high", "nginx", "high"): 10, ("dead_letter", "f5", "unknown"): 2}
    assert checks.diff_counts("routed", got, dict(got)) == []
    bad = dict(got)
    bad[("high", "nginx", "high")] += 1
    problems = checks.diff_counts("routed", got, bad)
    assert len(problems) == 1 and "got 10, expected 11" in problems[0]
    missing = checks.diff_counts("routed", got, {})
    assert len(missing) == 2


def _write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def test_routed_counts_and_token_equality_read_hive_partitions(tmp_path):
    inp = tmp_path / "input"
    _write(str(inp / "part-0.parquet"), pa.table({
        "doc_id": ["a", "b", "c"],
        "tokens": [[1, 2], [3], [4, 5, 6]]}))
    routed = tmp_path / "routed" / "chunk=0"
    _write(str(routed / "sink=high" / "source=nginx" / "severity_bucket=high"
               / "part-0.parquet"),
           pa.table({"doc_id": ["a", "b"], "tokens": [[1, 2], [3]]}))
    _write(str(routed / "sink=dead_letter" / "source=f5"
               / "severity_bucket=unknown" / "part-0.parquet"),
           pa.table({"doc_id": ["c"], "tokens": [[4, 5, 7]]}))
    con = checks.connect(str(tmp_path / "tmp"))
    assert checks.routed_counts(con, str(tmp_path / "routed")) == {
        ("high", "nginx", "high"): 2,
        ("dead_letter", "f5", "unknown"): 1}
    problems = checks.routed_tokens(con, str(tmp_path / "routed"),
                                    str(inp), 3)
    assert problems == ["1 routed token arrays differ from the input"]
    assert checks.routed_tokens(con, str(tmp_path / "routed"), str(inp),
                                4)[0].startswith("routed rows 3")
    assert checks.count_files(str(tmp_path / "routed")) == 2
    assert checks.tree_bytes(str(tmp_path / "routed")) > 0
