import hashlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from syslog_loose_spark.sources.corpus import GOLDEN_CORPUS, SOURCES


def _digest(path):
    h = hashlib.sha256()
    for f in sorted(os.listdir(path)):
        with open(os.path.join(path, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_tokenized_is_deterministic_per_seed(tmp_path):
    a = gen.write_tokenized(str(tmp_path / "a"), 5000, seed=7, n_files=3)
    b = gen.write_tokenized(str(tmp_path / "b"), 5000, seed=7, n_files=3)
    c = gen.write_tokenized(str(tmp_path / "c"), 5000, seed=8, n_files=3)
    assert _digest(a.path) == _digest(b.path)
    assert a.routed == b.routed and a.aggregates == b.aggregates
    assert _digest(a.path) != _digest(c.path)


def _from_template(line: bytes, raw: bytes, off: int) -> bool:
    """``line`` is ``raw`` with at most its MM:SS digits replaced."""
    if len(line) != len(raw):
        return False
    if off < 0:
        return line == raw
    mm, ss = line[off:off + 2], line[off + 3:off + 5]
    return (line[:off] + line[off + 2:off + 3] + line[off + 5:]
            == raw[:off] + raw[off + 2:off + 3] + raw[off + 5:]
            and mm.isdigit() and ss.isdigit()
            and int(mm) < 60 and int(ss) < 60)


def test_rows_are_templates_with_new_minutes_and_seconds(tmp_path):
    inp = gen.write_tokenized(str(tmp_path / "t"), 3000, seed=3, n_files=2)
    tpl = gen.templates()
    raws = [(line.encode("utf-8"), int(o))
            for (_, line), o in zip(GOLDEN_CORPUS, tpl.mm_off)]
    t = pq.read_table(inp.path)
    assert t.num_rows == 3000
    assert t.column("doc_id").to_pylist()[:2] == ["doc-00000000",
                                                  "doc-00000001"]
    rewritten = 0
    for toks, n_tok in zip(t.column("tokens").to_pylist(),
                           t.column("n_tok").to_pylist()):
        line = bytes(toks)
        assert len(line) == n_tok
        assert any(_from_template(line, raw, o) for raw, o in raws), line
        rewritten += all(line != raw for raw, _ in raws)
    assert rewritten > 2000
    hot = t.column("source").to_pylist().count("nginx") / t.num_rows
    assert 0.55 < hot < 0.65


def test_rewritten_lines_keep_the_template_outcome():
    """Every MM:SS a row can carry leaves sink, facility, severity and
    hour as the expected counts assume."""
    tpl = gen.templates()
    for (fid, line), o, off in zip(GOLDEN_CORPUS, tpl.outcomes, tpl.mm_off):
        raw = line.encode("utf-8")
        for mm in range(60):
            for ss in range(0, 60, 7 if mm % 5 else 1):
                got = gen.outcome(gen.rewrite_mmss(raw, int(off), mm, ss)
                                  .decode("utf-8"))
                assert got == o, (fid, mm, ss)


def test_expected_counts_match_the_oracle_row_by_row(tmp_path):
    inp = gen.write_tokenized(str(tmp_path / "t"), 4000, seed=11, n_files=4)
    t = pq.read_table(inp.path)
    routed, aggs = {}, {}
    for toks, src in zip(t.column("tokens").to_pylist(),
                         t.column("source").to_pylist()):
        o = gen.outcome(bytes(toks).decode("utf-8"))
        k = (o.sink, src, o.bucket)
        routed[k] = routed.get(k, 0) + 1
        k = (o.sink, o.facility, o.severity, o.hour)
        aggs[k] = aggs.get(k, 0) + 1
    assert routed == inp.routed
    assert aggs == inp.aggregates
    assert sum(inp.routed.values()) == 4000
    assert {k[1] for k in inp.routed} == set(SOURCES)


def test_doc_ids_refuse_more_than_eight_digits():
    with pytest.raises(ValueError):
        gen._doc_ids(10 ** 8 - 1, 2)


def test_vectors_plant_one_percent_duplicates():
    t, planted = gen.vectors(3000, seed=5)
    t2, planted2 = gen.vectors(3000, seed=5)
    assert t.equals(t2) and planted == planted2
    assert len(planted) == 30
    v = np.array(t.column("embedding").to_pylist())
    u = v / np.linalg.norm(v, axis=1, keepdims=True)
    cos = u @ u.T
    np.fill_diagonal(cos, 0)
    a, b = np.nonzero(np.triu(cos) >= 0.9)
    assert set(zip(a.tolist(), b.tolist())) == planted
    assert min(cos[a, b]) > 0.999
