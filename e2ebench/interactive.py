"""interactive: one UI client running ad hoc SQL previews and search
queries against a persisted index that is written between them.

A round is the unit, shaped like a TPC-H power run: every SQL template
once, in a seeded order, with a BM25 query after every third one, plus
one insert batch (``write_search_index`` of a fresh segment, first) and
one delete batch (``delete_from_index``, last). The run ends with
``compact_index`` and queries on the compacted index (traced runs only,
to keep a run within its time budget). Every preview is checked against
DuckDB and every top-k against a pure-Python BM25 over the documents live
at query time, outside the timed calls.
"""

from __future__ import annotations

import copy
import os
import shutil

import datagen
import index_workload as ix
import reference
import sql_workload as sq

QUERY_EVERY = len(sq.TEMPLATES) // ix.QUERIES_PER_ROUND
N_ORDERS = 40_000
DOCS_PER_SEGMENT = 1_000


class Interactive:
    unit = "round"
    #: the second round already runs at the level later rounds keep
    warmup_units = 1
    min_units = 1
    #: kinds whose medians make p50_s; the writes are "insert" and "delete"
    request_kinds = ("sql", "search")

    def __init__(self, bench, max_rounds: int):
        self.b = bench
        self.paths = datagen.write_tpch(os.path.join(bench.work, "tpch"), bench.seed,
                                        n_orders=N_ORDERS)
        self.plan = ix.Plan(bench.seed, DOCS_PER_SEGMENT, max_rounds, bench.work)
        self.oracle = sq.Oracle(self.paths)
        self.index = os.path.join(bench.work, "index")
        self.ref = reference.BM25()
        self.round = self.n_sql = self.n_query = 0
        self.ingested = []

    def close(self) -> None:
        self.oracle.close()

    def _sql(self, spark) -> float:
        from etl_mark1_spark.plans.sql import execute_sql, preview
        from etl_mark1_spark.sources.readers import read_file

        req = sq.request(self.b.seed, self.paths, self.n_sql)
        self.n_sql += 1
        tr = self.b.tracer
        with self.b.timed(kind="sql") as t:
            dfs = {}
            for name, path in req.sources.items():
                with tr.span("sources.readers.read_file"):
                    dfs[name] = read_file(spark, path)
            with tr.span("plans.sql.execute_sql"):
                df = execute_sql(spark, req.spark_sql, sources=dfs)
            with tr.span("plans.sql.preview"):
                result = preview(df)
        self.b.verify(f"sql {req.template}", lambda: sq.check_preview(
            result, self.oracle.expected(req.duck_sql, 200, 1000)))
        return t.s

    def _search(self, spark, index: str) -> float:
        terms = self.plan.queries[self.n_query]
        self.n_query += 1
        with self.b.timed(kind="search") as t:
            with self.b.tracer.span("operators.indexing.bm25_search_persisted"):
                got = ix.run_query(spark, index, terms)
        self.b.verify(f"bm25 {terms}", lambda: reference.check_topk(
            got, self.ref, terms, ix.TOP_K))
        return t.s

    def run_unit(self, spark, index: str | None = None) -> float:
        """One round; returns the summed wall time of its timed calls."""
        from etl_mark1_spark.operators.indexing import (delete_from_index,
                                                        write_search_index)

        tr, index = self.b.tracer, index or self.index
        path, table = self.plan.segments[self.round]
        files = ix.index_bytes(index)[1] if tr.enabled else 0
        with self.b.timed(kind="insert", docs=len(table)) as t_ingest:
            with tr.span("operators.indexing.write_search_index"):
                write_search_index(spark.read.parquet(path), index)
                if tr.enabled:
                    tr.count("files", ix.index_bytes(index)[1] - files)
        self.ingested.append(table)
        for d, text in zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()):
            self.ref.add(d, text)
        total = t_ingest.s
        for i in range(len(sq.TEMPLATES)):
            total += self._sql(spark)
            if (i + 1) % QUERY_EVERY == 0:
                total += self._search(spark, index)
        ids = self.plan.deletes[self.round]
        with self.b.timed(kind="delete", docs=len(ids)) as t_del:
            with tr.span("operators.indexing.delete_from_index"):
                delete_from_index(spark, index, ids)
        for d in ids:
            self.ref.delete(d)
        self.round += 1
        return total + t_del.s

    def describe(self) -> dict:
        size, files = ix.index_bytes(self.index)
        return {"space_amp": size / ix.ingested_bytes(self.ingested),
                "index_files": files}

    def finish(self, spark, index: str | None = None) -> None:
        """Compact, then query the compacted index (traced runs only)."""
        from etl_mark1_spark.operators.indexing import compact_index

        tr, index = self.b.tracer, index or self.index
        tr.count_global("operators.indexing.files", ix.index_bytes(index)[1])
        tr.count_global("operators.indexing.tombstones",
                        sum(len(tb) for tb in self.ingested) - len(self.ref.tf))
        with self.b.timed():
            with tr.span("operators.indexing.compact_index"):
                compact_index(spark, index, index + "_compacted")
        for _ in range(ix.POST_COMPACTION_QUERIES):
            self._search(spark, index + "_compacted")

    # -- trace replay ------------------------------------------------------

    def snapshot(self):
        """Everything the next round and the compaction read, so that each
        replay does the same work on its own copy of the index."""
        saved = f"{self.index}_snapshot"
        shutil.copytree(self.index, saved)
        return (saved, self.round, self.n_sql, self.n_query, copy.deepcopy(self.ref),
                list(self.ingested))

    def restore(self, snap, name: str) -> str:
        """Rewind to ``snap``; returns a fresh copy of its index, ``name``d,
        to replay on."""
        saved, self.round, self.n_sql, self.n_query, ref, ingested = snap
        self.ref, self.ingested = copy.deepcopy(ref), list(ingested)
        target = f"{self.index}_{name}"
        shutil.copytree(saved, target)
        return target
