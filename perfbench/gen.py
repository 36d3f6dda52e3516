"""Seeded, vectorized input generators and the outputs they imply.

The program under test only ever sees the parquet files written here:
tokenized syslog rows in ``TOKENIZED_SCHEMA`` for the pipeline workloads,
and (vec_id, embedding) rows for the near-duplicate workload.  Everything
is drawn from ``numpy.random.default_rng`` keyed by the seed, so the same
seed writes byte-identical files.

Tokenized rows are GOLDEN_CORPUS templates (UTF-8 bytes, one int32 per
byte).  Each row's first ``HH:MM:SS`` has its MM and SS digits rewritten
in place: the length, the hour and the parse outcome stay those of the
template, so the expected sink of every row is the oracle's verdict on its
template, while the parser still sees distinct lines.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from syslog_loose_spark.oracle import ParseFail, parse_message_exact
from syslog_loose_spark.sources.corpus import GOLDEN_CORPUS, SOURCES

DEAD_LETTER = "dead_letter"
HOT_SHARE = 60          # percent of rows from the hot source (nginx)
_TS_RX = re.compile(rb"\d{2}:(\d{2}):\d{2}")

TOKENIZED_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("tokens", pa.list_(pa.field("element", pa.int32(),
                                         nullable=False)), nullable=False),
    pa.field("n_tok", pa.int32(), nullable=False),
    pa.field("source", pa.string(), nullable=False),
])
VECTOR_ARROW = pa.schema([
    pa.field("vec_id", pa.int64(), nullable=False),
    pa.field("embedding", pa.list_(pa.float64()), nullable=False),
])


def severity_bucket(severity: int | None) -> str:
    """The router's bucket (schema.severity_dim; null severity -> unknown)."""
    if severity is None:
        return "unknown"
    return "high" if severity <= 3 else ("mid" if severity <= 5 else "low")


@dataclass(frozen=True)
class Outcome:
    """What the pipeline must make of one line, per the oracle."""
    sink: str
    bucket: str
    facility: int | None
    severity: int | None
    hour: int | None        # epoch seconds of the UTC hour of ts


def outcome(line: str) -> Outcome:
    try:
        m = parse_message_exact(line)
    except ParseFail:
        return Outcome(DEAD_LETTER, "unknown", None, None, None)
    b = severity_bucket(m.severity)
    hour = (None if m.timestamp is None
            else int(m.timestamp.timestamp()) // 3600 * 3600)
    return Outcome(b, b, m.facility, m.severity, hour)


def rewrite_mmss(raw: bytes, mm_off: int, mm: int, ss: int) -> bytes:
    """One line with its minute and second digits replaced."""
    if mm_off < 0:
        return raw
    b = bytearray(raw)
    b[mm_off:mm_off + 5] = b"%02d:%02d" % (mm, ss)
    return bytes(b)


@dataclass(frozen=True)
class Templates:
    data: np.ndarray        # uint8, every template's bytes back to back
    start: np.ndarray       # int64 byte offset of each template in data
    length: np.ndarray      # int64 byte length of each template
    mm_off: np.ndarray      # int64 offset of the minute digits, -1 if none
    outcomes: tuple         # Outcome per template


def templates() -> Templates:
    raw = [line.encode("utf-8") for _, line in GOLDEN_CORPUS]
    length = np.array([len(b) for b in raw], dtype=np.int64)
    start = np.concatenate([[0], np.cumsum(length)[:-1]])
    mm_off = np.array([m.start(1) if (m := _TS_RX.search(b)) else -1
                       for b in raw], dtype=np.int64)
    # the oracle sees a rewritten line: a template's own MM:SS may be a
    # leap second (:60), which no generated row carries
    outcomes = tuple(outcome(rewrite_mmss(b, o, 0, 0).decode("utf-8"))
                     for b, o in zip(raw, mm_off))
    return Templates(np.frombuffer(b"".join(raw), dtype=np.uint8),
                     start, length, mm_off, outcomes)


def _doc_ids(first: int, n: int) -> pa.Array:
    """``doc-%08d`` strings for ids first..first+n-1, built as one buffer."""
    ids = np.arange(first, first + n, dtype=np.int64)
    if n and ids[-1] >= 10 ** 8:
        raise ValueError("doc ids are 8 digits wide")
    chars = np.empty((n, 12), dtype=np.uint8)
    chars[:, :4] = np.frombuffer(b"doc-", dtype=np.uint8)
    for k in range(8):
        chars[:, 11 - k] = ord("0") + (ids // 10 ** k) % 10
    offsets = np.arange(0, 12 * n + 1, 12, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(chars.tobytes()))


def tokenized_batch(tpl: Templates, seed: int, part: int, first: int,
                    n: int) -> tuple[pa.Table, np.ndarray]:
    """Rows first..first+n-1 of the table for ``seed``.  Returns the table
    and a (template, source) count matrix for the expected outputs."""
    rng = np.random.default_rng([seed, part])
    t = rng.integers(0, len(tpl.length), n)
    hot = rng.integers(0, 100, n) < HOT_SHARE
    src = np.where(hot, 0, 1 + rng.integers(0, len(SOURCES) - 1, n))
    mm = rng.integers(0, 60, n).astype(np.uint8)
    ss = rng.integers(0, 60, n).astype(np.uint8)

    lens = tpl.length[t]
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    flat = tpl.data[np.repeat(tpl.start[t] - offs[:-1], lens)
                    + np.arange(offs[-1])]
    has_ts = tpl.mm_off[t] >= 0
    pos = (offs[:-1] + tpl.mm_off[t])[has_ts]
    zero = ord("0")
    flat[pos] = zero + mm[has_ts] // 10
    flat[pos + 1] = zero + mm[has_ts] % 10
    flat[pos + 3] = zero + ss[has_ts] // 10
    flat[pos + 4] = zero + ss[has_ts] % 10

    tokens = pa.ListArray.from_arrays(
        pa.array(offs.astype(np.int32)), pa.array(flat.astype(np.int32)),
        type=TOKENIZED_ARROW.field("tokens").type)
    sources = pa.DictionaryArray.from_arrays(
        pa.array(src.astype(np.int32)), pa.array(SOURCES)).cast(pa.string())
    table = pa.Table.from_arrays(
        [_doc_ids(first, n), tokens, pa.array(lens.astype(np.int32)),
         sources], schema=TOKENIZED_ARROW)
    counts = np.bincount(t * len(SOURCES) + src,
                         minlength=len(tpl.length) * len(SOURCES))
    return table, counts.reshape(len(tpl.length), len(SOURCES))


@dataclass(frozen=True)
class TokenizedInput:
    path: str
    rows: int
    file_bytes: int
    routed: dict            # (sink, source, severity_bucket) -> rows
    aggregates: dict        # (sink, facility, severity, hour) -> rows


def expected_counts(tpl: Templates, counts: np.ndarray
                    ) -> tuple[dict, dict]:
    """Expected routed partition counts and aggregate rows, from the
    (template, source) counts of the generated table."""
    routed: dict = {}
    aggs: dict = {}
    for ti, o in enumerate(tpl.outcomes):
        for si, source in enumerate(SOURCES):
            n = int(counts[ti, si])
            if n:
                k = (o.sink, source, o.bucket)
                routed[k] = routed.get(k, 0) + n
                k = (o.sink, o.facility, o.severity, o.hour)
                aggs[k] = aggs.get(k, 0) + n
    return routed, aggs


def write_tokenized(path: str, n_rows: int, seed: int,
                    n_files: int = 12) -> TokenizedInput:
    """Write ``n_rows`` rows as ``n_files`` single-row-group parquet files
    (several files per task slot, so the scan splits evenly)."""
    tpl = templates()
    os.makedirs(path, exist_ok=True)
    per = -(-n_rows // n_files)
    counts = np.zeros((len(tpl.length), len(SOURCES)), dtype=np.int64)
    size = 0
    for part, first in enumerate(range(0, n_rows, per)):
        table, c = tokenized_batch(tpl, seed, part, first,
                                   min(per, n_rows - first))
        counts += c
        f = os.path.join(path, f"part-{part:04d}.parquet")
        pq.write_table(table, f, row_group_size=per)
        size += os.path.getsize(f)
    return TokenizedInput(path, n_rows, size, *expected_counts(tpl, counts))


def vectors(n: int, seed: int, dim: int = 64, dup_ppm: int = 10_000
            ) -> tuple[pa.Table, set]:
    """``n`` Gaussian vectors; ``dup_ppm`` of them are copies of another
    (non-copy) vector plus 1e-4 relative noise.  Independent 64-dim
    Gaussians have cosine around 0 +- 0.13, so the planted pairs are the
    only pairs at any threshold near 1.  Returns the table and the planted
    (a, b) pairs with a < b."""
    rng = np.random.default_rng([seed, n])
    v = rng.standard_normal((n, dim))
    n_dup = n * dup_ppm // 1_000_000
    perm = rng.permutation(n)
    copies, originals = perm[:n_dup], perm[n_dup:]
    src = rng.choice(originals, n_dup, replace=False)
    v[copies] = v[src] * (1 + 1e-4 * rng.standard_normal((n_dup, dim)))
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(v.ravel()))
    table = pa.Table.from_arrays([pa.array(np.arange(n, dtype=np.int64)),
                                  emb], schema=VECTOR_ARROW)
    pairs = {(int(min(a, b)), int(max(a, b))) for a, b in zip(copies, src)}
    return table, pairs


def write_vectors(path: str, n: int, seed: int, n_files: int = 6
                  ) -> tuple[int, set]:
    """Write a vector corpus as parquet; returns (file bytes, planted)."""
    table, pairs = vectors(n, seed)
    os.makedirs(path, exist_ok=True)
    per = -(-n // n_files)
    size = 0
    for part, first in enumerate(range(0, n, per)):
        f = os.path.join(path, f"part-{part:04d}.parquet")
        pq.write_table(table.slice(first, per), f, row_group_size=per)
        size += os.path.getsize(f)
    return size, pairs
