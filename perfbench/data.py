"""Seeded benchmark inputs, generated once per (seed, size) and cached.

Generation is plain Python + pyarrow (no Spark), runs before any timed
region, and is never timed.  The program only ever sees the parquet
files written here.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.host import WORK

INPUTS = os.path.join(WORK, "inputs")

# corpus: benchcorpus rows for consecutive base ids until CORPUS_CHARS
# of content (~300 bases, so every seed gives the same amount of work),
# one drifting-chain member every CHAIN_EVERY-th base (one ~75-member
# component, under split_max_component)
CORPUS_CHARS = 3_500_000
CORPUS_BASES = 600  # base-id stride between seeds; twice what a corpus uses
CHAIN_EVERY = 4
SIZE_FUNCS = 18
CORPUS_FILES = 16

# queries: tables drawn from the same distributions as the sf testdata
# tables (see README, "Query tables"), at the sizes of one scale factor:
# (documents, embeddings, events, users)
QUERY_SCALES = {
    "sf0.01": (500, 500, 10_000, 150),
    "sf0.1": (5_000, 2_000, 100_000, 1_500),
}
QUERY_SCALE = "sf0.01"
QUERY_EMBED_DIM = 64


def _write_once(path: str, write) -> str:
    """Run write(tmp_dir) once and publish tmp_dir as *path* atomically."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    os.replace(tmp, path)
    return path


def base_offset(seed: int) -> int:
    """The workload seed selects which base ids are generated: every
    benchcorpus row is a pure function of its base id, so a base-id
    offset is a seed for the whole corpus."""
    return (seed % 2**31) * CORPUS_BASES


def corpus_dir(seed: int) -> str:
    from photo_dedup_spark.benchcorpus import _rows_for_base

    def write(tmp: str) -> None:
        i, chars = base_offset(seed), 0
        parts: list[list[tuple]] = [[] for _ in range(CORPUS_FILES)]
        while chars < CORPUS_CHARS:
            rows = _rows_for_base(i, SIZE_FUNCS, CHAIN_EVERY)
            parts[i % CORPUS_FILES].extend(rows)
            chars += sum(len(r[4]) for r in rows)
            i += 1
        cols = ["repo", "path", "commit", "lang", "content"]
        for k, rows in enumerate(parts):
            table = pa.table({c: [r[j] for r in rows] for j, c in enumerate(cols)})
            pq.write_table(table, os.path.join(tmp, f"part-{k:05d}.parquet"))

    name = f"corpus_s{seed}_ch{CORPUS_CHARS}_c{CHAIN_EVERY}_f{SIZE_FUNCS}"
    return _write_once(os.path.join(INPUTS, name), write)


def corpus_truth(path: str) -> list[tuple[str, str, str]]:
    """(repo, path, sha256(content)) for every input row."""
    t = pq.read_table(path, columns=["repo", "path", "content"])
    return [
        (r, p, hashlib.sha256(c.encode()).hexdigest())
        for r, p, c in zip(
            t.column("repo").to_pylist(),
            t.column("path").to_pylist(),
            t.column("content").to_pylist(),
        )
    ]


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


# the 30 words of the sf documents (their 31st, "dup", marks near copies)
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = (("en", 0.4), ("zh", 0.15), ("es", 0.15), ("de", 0.15), ("fr", 0.15))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word soup as in the sf documents table: 10-99 words drawn
    uniformly from the 30-word vocabulary, sources src0..src19 in turn;
    then one document in twenty, in random order, is replaced by a copy
    of another document with " dup" appended (so copies of copies and
    copies of since-replaced documents occur, as in sf0.1)."""
    texts = [
        " ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k))
        for k in rng.integers(10, 100, n)
    ]
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    langs, weights = zip(*_LANGS)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": list(rng.choice(langs, n, p=weights)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Independent random unit vectors with labels 0-9, as in sf."""
    v = rng.standard_normal((n, QUERY_EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """Time-ordered events over 30 days, uniform users and types,
    exponential values (mean 50), as in sf."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    types = ["click", "purchase", "error", "signup", "view"]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(start + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": [types[j] for j in rng.integers(0, len(types), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def query_tables_dir(seed: int, scale: str = QUERY_SCALE) -> str:
    """A directory shaped like one sf testdata scale (documents /
    embeddings / events parquet) that the declared queries read through
    their ``sf_dir`` argument."""
    docs, vecs, events, users = QUERY_SCALES[scale]

    def write(tmp: str) -> None:
        rng = np.random.default_rng(seed % 2**63)
        for name, table in (
            ("documents", _documents(rng, docs)),
            ("embeddings", _embeddings(rng, vecs)),
            ("events", _events(rng, events, users)),
        ):
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))

    return _write_once(os.path.join(INPUTS, f"tables_s{seed}_{scale}"), write)


def table_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
