"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(size, seed)``: the same pair gives
parquet files with byte-identical data (``perfbench/test_perfbench.py``
checks this). The document tables (documents, events) are built with numpy and written by
pyarrow as single files, the shape ``__spark_entry__`` queries read. The
code table is ``yaschva_spark.fixtures.code_files``, written by Spark with a
fixed partition count.

Inputs are written once per ``(size, seed)`` under the benchmark's work
directory; a ``_DONE`` marker makes a half-written directory regenerate.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: words of the synthetic documents (the vocabulary of the sf0.1 documents)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DOC_LANGS = ["en", "en", "de", "fr", "es", "zh"]  # en twice: ~1/3 of docs
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DONE = "_DONE"


def _rng(seed: int, table: str) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt])


def _write_once(path: Path, write) -> Path:
    """Run ``write(tmp_path)`` unless ``path`` is complete; publish by rename."""
    if (path / _DONE).exists():
        return path
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    tmp.mkdir(parents=True)
    write(tmp)
    (tmp / _DONE).touch()
    os.replace(tmp, path)
    return path


def _documents(n_docs: int, seed: int) -> pa.Table:
    """Documents with near-duplicate families: ~6% of docs copy a recent
    original with a few words replaced. A copy is never copied again, so
    every family is a star around its original and no seed grows the long
    chains that would add rounds to connected-components operators."""
    rng = _rng(seed, "documents")
    words = np.array(WORDS)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.06:
            recent = originals[-20:]
            src = texts[recent[int(rng.integers(0, len(recent)))]].split(" ")
            for pos in rng.integers(0, len(src), size=max(1, len(src) // 12)):
                src[int(pos)] = str(rng.choice(words))
            texts.append(" ".join(src))
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(words, size=int(rng.integers(10, 110)))))
    lang = rng.choice(np.array(DOC_LANGS), size=n_docs)
    source = [f"src{k}" for k in rng.integers(0, 20, size=n_docs)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array(source, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(n_events: int, seed: int) -> pa.Table:
    rng = _rng(seed, "events")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(0, 60_000_000, size=n_events)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(t0 + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, size=n_events, dtype=np.int64)),
            "event_type": pa.array(rng.choice(np.array(EVENT_TYPES), size=n_events).tolist()),
            "value": pa.array(np.round(rng.random(n_events) * 560.0, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]),
        }
    )


def doc_tables(root: Path, n_docs: int, n_events: int, seed: int) -> Path:
    """``documents.parquet`` and ``events.parquet`` in one directory, in the
    layout ``__spark_entry__`` queries read (``f"{dir}/{name}.parquet"``)."""

    def write(tmp: Path) -> None:
        pq.write_table(_documents(n_docs, seed), tmp / "documents.parquet")
        if n_events:
            pq.write_table(_events(n_events, seed), tmp / "events.parquet")

    return _write_once(root / f"docs_{n_docs}_{n_events}_{seed}", write)


def code_tables(spark, root: Path, n_rows: int, seed: int) -> Path:
    """The north-rule code table (``fixtures.code_files``) and its repo
    dimension (``fixtures.repos_dim``), as ``code/`` and ``repos/``."""
    from yaschva_spark.fixtures import code_files, repos_dim

    def write(tmp: Path) -> None:
        code_files(spark, n_rows, seed=seed, partitions=8).write.parquet(str(tmp / "code"))
        repos_dim(spark, seed=seed).coalesce(1).write.parquet(str(tmp / "repos"))

    return _write_once(root / f"code_{n_rows}_{seed}", write)


def digest_files(path: Path) -> str:
    """sha256 over the data of every parquet file under ``path``, in name
    order, with Spark's per-write part-file UUIDs cut from the names.

    The data is hashed as decoded Arrow (schema and rows), not as file
    bytes: Spark's parquet writer lists each column chunk's encodings in
    hash-set order, which differs between JVMs for identical data."""
    h = hashlib.sha256()
    files = sorted(p for p in path.rglob("*.parquet") if not p.name.startswith((".", "_")))
    for p in files:
        rel = p.relative_to(path).as_posix()
        h.update((rel.split("-", 2)[0] + rel.split("-", 2)[1] if p.name.startswith("part-") else rel).encode())
        table = pq.read_table(p)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()

