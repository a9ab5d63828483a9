"""Seeded, cached benchmark inputs.

Inputs are made untimed and cached as parquet under the work directory,
keyed by (workload, seed, size), and for curation by the corpus file's
hash. Each workload's documents are fixed; the seed permutes row order and
partition assignment, so runs with different seeds do the same work. A cached input is reused only when its
``_SUCCESS`` marker is present and its parquet footers add up to the
expected row count; otherwise it is rebuilt.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# The curation corpus: the 5,000 documents of the sf0.1 test corpus
# (doc_id, text, lang, source, n_chars), committed next to the harness.
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")


def footer_rows(path: str) -> int:
    """Rows in all parquet files under ``path``, read from the footers."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total


def _cached(path: str, rows: int) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS")) and footer_rows(path) == rows


def kg_source(spark, cache: str, seed: int, n_docs: int) -> str:
    """``gen.generate_source_repos`` table (default link/hot mix) as parquet,
    one file per core. The documents, and so the concordance graph, are the
    same for every seed (generated once per size); the seed permutes the
    rows before they are cut into files."""
    from smartlogic_concordance_transformer_spark.gen import generate_source_repos

    base = os.path.join(cache, f"kg-base-n{n_docs}")
    if not _cached(base, n_docs):
        shutil.rmtree(base, ignore_errors=True)
        generate_source_repos(spark, n_docs).write.parquet(base)
    path = os.path.join(cache, f"kg-s{seed}-n{n_docs}")
    if not _cached(path, n_docs):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        order = list(range(n_docs))
        random.Random(seed).shuffle(order)
        table = pq.read_table(base).take(order)
        files = spark.sparkContext.defaultParallelism
        step = -(-n_docs // files)
        for i in range(files):
            pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def curation_documents(seed: int, n_docs: int | None = None) -> pa.Table:
    """The committed corpus (its first ``n_docs`` by ``doc_id`` when
    given), rows permuted by ``seed``: the documents are the same for
    every seed, and the seed changes which rows share a partition."""
    table = pq.read_table(CORPUS).sort_by("doc_id")
    if n_docs is not None:
        table = table.slice(0, n_docs)
    order = list(range(table.num_rows))
    random.Random(seed).shuffle(order)
    return table.take(order)


def curation_dir(cache: str, seed: int, n_docs: int | None = None) -> str:
    """A directory holding ``documents.parquet``, the layout
    ``__spark_entry__._pipeline_raw`` and the DuckDB oracle read."""
    rows = n_docs if n_docs is not None else pq.read_metadata(CORPUS).num_rows
    with open(CORPUS, "rb") as f:
        corpus = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(cache, f"curation-{corpus}-s{seed}-n{rows}")
    if not _cached(path, rows):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(curation_documents(seed, n_docs), os.path.join(path, "documents.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def canary_table(spark, cache: str, rows: int = 200_000) -> str:
    """Fixed, seed-independent events table for the phase canary."""
    path = os.path.join(cache, f"canary-n{rows}")
    if not _cached(path, rows):
        shutil.rmtree(path, ignore_errors=True)
        spark.range(0, rows, 1, 4).selectExpr(
            "id as event_id", "concat('type', pmod(xxhash64(id, 7), 12)) as event_type"
        ).write.parquet(path)
    return path
