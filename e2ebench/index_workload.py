"""Seeded inputs and helpers for the persisted search index: segment
files, Zipf-term queries and takedown batches."""

from __future__ import annotations

import os

import numpy as np

import datagen

TOP_K = 10
QUERIES_PER_ROUND = 3
POST_COMPACTION_QUERIES = 2
DELETE_FRAC = 0.02


class Plan:
    """The seeded inputs of a run: segment files, query terms, delete ids."""

    def __init__(self, seed: int, docs_per_segment: int, max_cycles: int, work: str):
        rng = np.random.default_rng([seed, 5])
        self.text = datagen.TextSource()
        self.segments = []
        for c in range(max_cycles):
            table = datagen.make_docs(seed, docs_per_segment, c * 1_000_000, self.text)
            path = datagen.write_table(table, os.path.join(work, f"segment_{c}.parquet"))
            self.segments.append((path, table))
        n_queries = max_cycles * QUERIES_PER_ROUND + POST_COMPACTION_QUERIES
        self.queries = [self._terms(rng) for _ in range(n_queries)]
        self.deletes = []
        for c in range(max_cycles):
            # deletes reach back over every segment ingested so far
            pool = np.concatenate([t.column("doc_id").to_numpy() for _, t in self.segments[:c + 1]])
            k = int(len(self.segments[c][1]) * DELETE_FRAC)
            self.deletes.append(sorted(int(x) for x in rng.choice(pool, k, replace=False)))

    def _terms(self, rng) -> list[str]:
        vocab, p = self.text.vocab, self.text.p
        k = int(rng.integers(1, 4))
        return sorted({str(vocab[i]) for i in rng.choice(len(vocab), k, p=p)})


def ingested_bytes(tables) -> int:
    return sum(len(t.encode()) for tb in tables for t in tb.column("text").to_pylist())


def index_bytes(index_dir: str) -> tuple[int, int]:
    """(bytes, files) of the index's data files: postings, stats, dict, deletes."""
    size = files = 0
    for part in ("postings", "stats", "dict", "deletes"):
        for root, _, names in os.walk(os.path.join(index_dir, part)):
            for n in names:
                if n.endswith(".parquet"):
                    size += os.path.getsize(os.path.join(root, n))
                    files += 1
    return size, files


def run_query(spark, index_dir: str, terms: list[str]) -> list[tuple[int, float]]:
    from etl_mark1_spark.operators.indexing import bm25_search_persisted

    rows = bm25_search_persisted(spark, index_dir, terms, top_k=TOP_K).collect()
    return [(r["doc_id"], r["bm25"]) for r in rows]
