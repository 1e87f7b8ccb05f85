"""Seeded benchmark inputs, generated once and cached as parquet.

Three input kinds, each a pure function of (kind, seed, size):

- ``pages``: the ``sources.corpus`` pages table without embedded scans
  (~1.3 KB of html per page);
- ``scan_pages``: the same table with one embedded PGM scan per page
  (~17.7 KB of html per page, scan share 100%);
- ``dup_docs``: ``(doc_id, text)`` docs of ~120 words in which every
  fourth doc is a planted near-duplicate of the doc before it.

Every input is written as exactly ``FILES`` parquet files, and the
benchmark reads each file as one split, so the task count of a scan
does not depend on the seed. Generation runs in child processes
(``python3 perfbench/inputs.py``), before Spark starts, so it adds
nothing to the set-up the benchmark measures.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES = 8

# A planted duplicate is its source with the last word dropped. Every
# doc ends by repeating its first three words, so the dropped word's
# 3-shingle also occurs at the start of the source: the copy differs in
# text but has the same shingle set, and every shingle-based near-dup
# method must put it in its source's cluster.
DUP_EVERY = 4
_DOC_VOCAB = [f"w{i:03d}" for i in range(400)]


def planted_pairs(n: int) -> list[tuple[int, int]]:
    """(source_id, duplicate_id) for every planted duplicate among n docs."""
    return [(i - 1, i) for i in range(DUP_EVERY - 1, n, DUP_EVERY)]


def _dup_docs(ids: range, seed: int) -> pa.Table:
    """Docs ``ids`` (whole groups of DUP_EVERY, so each planted copy sits
    beside its source); doc i draws from an rng seeded by (seed, i)."""
    texts: list[str] = []
    for i in ids:
        if i % DUP_EVERY == DUP_EVERY - 1:
            texts.append(texts[-1].rsplit(" ", 1)[0])
            continue
        rng = np.random.default_rng([seed, i])
        words = [_DOC_VOCAB[int(j)] for j in rng.integers(0, len(_DOC_VOCAB), int(rng.integers(100, 140)))]
        texts.append(" ".join(words + words[:3]))
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})


def _write_file(path: str, kind: str, seed: int, ids: range) -> None:
    if kind == "dup_docs":
        table = _dup_docs(ids, seed)
    else:
        from ocr_spark.sources.corpus import PAGES_SCHEMA, pages_batch

        batch = pages_batch(np.arange(ids.start, ids.stop), seed, embed_scan=kind == "scan_pages")
        table = pa.Table.from_batches([batch], schema=PAGES_SCHEMA)
    pq.write_table(table, path)


def _bounds(n: int) -> list[int]:
    # file boundaries on multiples of DUP_EVERY keep planted pairs whole
    return [round(n * f / FILES / DUP_EVERY) * DUP_EVERY for f in range(FILES)] + [n]


def ensure(cache_dir: str, kind: str, seed: int, n: int, procs: int) -> tuple[str, float]:
    """Path of the cached input, generating it first if missing, in
    ``procs`` child processes.

    Returns (path, seconds spent generating; 0.0 on a cache hit). A
    generation killed midway leaves only a ``.tmp`` directory, which the
    next call replaces.
    """
    if kind not in ("pages", "scan_pages", "dup_docs"):
        raise ValueError(f"unknown input kind {kind!r}")
    path = os.path.join(cache_dir, "inputs", f"{kind}-seed{seed}-n{n}")
    if os.path.isdir(path):
        return path, 0.0
    t0 = time.perf_counter()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    children = [subprocess.Popen([sys.executable, os.path.abspath(__file__), tmp, kind, str(seed), str(n),
                                  *(str(f) for f in range(i, FILES, procs))])
                for i in range(min(procs, FILES))]
    codes = [c.wait() for c in children]
    if any(codes):
        raise RuntimeError(f"input generation failed: exit codes {codes}")
    os.rename(tmp, path)
    return path, time.perf_counter() - t0


if __name__ == "__main__":
    # child of ensure(): write the listed files of one input
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out, kind, seed, n, *files = sys.argv[1:]
    bounds = _bounds(int(n))
    for f in map(int, files):
        _write_file(os.path.join(out, f"part-{f:05d}.parquet"), kind, int(seed), range(bounds[f], bounds[f + 1]))
