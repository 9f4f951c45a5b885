"""Seeded input generation for the benchmark, with numpy and pyarrow only.

Inputs are written once per seed, by the orchestrating process and outside
every timed process; the program under test only ever reads the files.
The same seed gives byte-identical inputs. Two input sets, each in its own
directory with a ``truth.json`` of planted facts:

    generate_table: table/part-*.parquet   bulk_export input
                    sorted/part-*.parquet  interactive_export input
    generate_docs:  docs/docs.parquet      dedup_pipeline input
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are fixed, never derived from the host, so a run on any host
# does the same work.
TABLE_ROWS = 120_000
TABLE_FILES = 4
SORTED_ROW_GROUP = 4_096
DOCS = 500
NULL_SHARE = 0.05

# Strings that exercise CSV quoting (delimiter, quote, newline, leading
# space), XML/HTML escaping and non-ASCII text.
_TRICKY = [
    "plain",
    "comma, inside",
    'quote " inside',
    "line\nbreak",
    " leading space",
    "semi;colon",
    "tab\tinside",
    "<tag>&amp;</tag>",
    "a > b & c < d",
    "unicode é ü 漢字",
    "pipe|bar",
    "\\. lone",
]
_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu",
]
_GO_ZERO_TIME = dt.datetime(1, 1, 1, tzinfo=dt.timezone.utc)


def _nulls(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.random(n) < NULL_SHARE


def make_table(rng: np.random.Generator, n: int) -> pa.Table:
    """The typed export table: unique ``key`` plus one column of each
    type the formatters render differently, every column with NULLs."""
    keys = rng.permutation(n).astype(np.int64)

    i32 = rng.integers(-(2**31), 2**31 - 1, n, dtype=np.int64).astype(np.int32)
    # finite doubles only: NaN is refused by the JSON record expression
    scale = 10.0 ** rng.integers(0, 8, n)
    f64 = np.round(rng.normal(0, 1e4, n) * scale) / scale
    f64[rng.random(n) < 0.05] = 1e21
    flag = rng.random(n) < 0.5
    micros = rng.integers(0, 2_000_000_000_000_000, n, dtype=np.int64)
    ts = pa.array(micros, pa.timestamp("us", tz="UTC")).to_pylist()
    for i in np.flatnonzero(rng.random(n) < 0.02):
        ts[i] = _GO_ZERO_TIME
    days = rng.integers(-10_000, 30_000, n, dtype=np.int32)
    tricky = rng.integers(0, len(_TRICKY), n)
    suffix = rng.integers(0, 1_000_000, n)
    name = [f"{_TRICKY[t]} #{s}" for t, s in zip(tricky, suffix)]
    ntags = rng.integers(0, 4, n)
    word = rng.integers(0, len(_WORDS), (n, 3))
    tags = [[_WORDS[w] for w in word[i, : ntags[i]]] for i in range(n)]
    attrs = [
        [(_WORDS[word[i, 0]], int(suffix[i] % 100))] if ntags[i] else []
        for i in range(n)
    ]

    def col(values, typ):
        return pa.array(values, typ, mask=_nulls(rng, n))

    return pa.table(
        {
            "key": pa.array(keys, pa.int64()),
            "i32": col(i32, pa.int32()),
            "f64": col(f64, pa.float64()),
            "flag": col(flag, pa.bool_()),
            "ts": col(ts, pa.timestamp("us", tz="UTC")),
            "d": col(days, pa.date32()),
            "name": col(name, pa.string()),
            "tags": col(tags, pa.list_(pa.string())),
            "attrs": col(attrs, pa.map_(pa.string(), pa.int32())),
        }
    )


def _edit(rng: np.random.Generator, words: list[str]) -> list[str]:
    """One or two word substitutions: keeps the 8-shingle Jaccard of a
    ~60-word document near 0.9, well above the 0.7 threshold."""
    out = list(words)
    for _ in range(int(rng.integers(1, 3))):
        out[int(rng.integers(0, len(out)))] = f"edit{int(rng.integers(0, 10**6))}"
    return out


def make_docs(rng: np.random.Generator, n: int) -> tuple[pa.Table, dict]:
    """A corpus of ``n`` documents: planted exact-duplicate clusters,
    planted near-duplicate clusters (each of size 2-8) and unique
    distractors. Returns the table and the planted truth."""
    vocab = [f"w{i:05d}" for i in range(50_000)]
    texts: list[str] = []
    exact_groups: list[list[int]] = []
    near_groups: list[list[int]] = []

    def fresh() -> list[str]:
        return [vocab[i] for i in rng.integers(0, len(vocab), 60)]

    while len(texts) < n:
        kind = rng.random()
        size = int(rng.integers(2, 9))
        if kind < 0.15 and len(texts) + size <= n:
            base = " ".join(fresh())
            exact_groups.append(list(range(len(texts), len(texts) + size)))
            texts.extend([base] * size)
        elif kind < 0.30 and len(texts) + size <= n:
            base = fresh()
            near_groups.append(list(range(len(texts), len(texts) + size)))
            texts.append(" ".join(base))
            texts.extend(" ".join(_edit(rng, base)) for _ in range(size - 1))
        else:
            texts.append(" ".join(fresh()))
    # ids are a seeded permutation so cluster members are not adjacent
    ids = rng.permutation(n).astype(np.int64) + 1
    table = pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)})
    truth = {
        "exact_groups": [sorted(int(ids[i]) for i in g) for g in exact_groups],
        "near_groups": [sorted(int(ids[i]) for i in g) for g in near_groups],
    }
    return table, truth


def _publish(out_dir: str, write) -> None:
    """Run ``write(tmp_dir)`` and move the result to ``out_dir`` only
    once complete, so an interrupted run never leaves partial inputs."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    os.replace(tmp, out_dir)


def generate_table(seed: int, out_dir: str) -> None:
    """The typed table, unordered (``table/``) and key-sorted with small
    row groups (``sorted/``), plus ``truth.json``."""

    def write(tmp: str) -> None:
        table = make_table(np.random.default_rng([seed, 0]), TABLE_ROWS)
        step = -(-TABLE_ROWS // TABLE_FILES)
        ordered = table.sort_by("key")
        os.makedirs(f"{tmp}/table")
        os.makedirs(f"{tmp}/sorted")
        for i in range(TABLE_FILES):
            pq.write_table(table.slice(i * step, step), f"{tmp}/table/part-{i:04d}.parquet")
            pq.write_table(
                ordered.slice(i * step, step),
                f"{tmp}/sorted/part-{i:04d}.parquet",
                row_group_size=SORTED_ROW_GROUP,
            )
        with open(f"{tmp}/truth.json", "w") as fh:
            json.dump({"table_rows": TABLE_ROWS}, fh)

    _publish(out_dir, write)


def generate_docs(seed: int, out_dir: str) -> None:
    """The document corpus (``docs/``) plus its planted truth."""

    def write(tmp: str) -> None:
        docs, truth = make_docs(np.random.default_rng([seed, 1]), DOCS)
        os.makedirs(f"{tmp}/docs")
        pq.write_table(docs, f"{tmp}/docs/docs.parquet")
        with open(f"{tmp}/truth.json", "w") as fh:
            json.dump({"docs": DOCS, **truth}, fh)

    _publish(out_dir, write)
