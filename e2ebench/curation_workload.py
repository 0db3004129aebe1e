"""curation_dag: one ``plans.dag.PipelineExecutor.execute`` per repetition.

file_input -> quality gate -> exact keep-best dedup -> MinHash near-dup
dedup -> Bloom-prefiltered decontamination against the src0 slice -> PII
redaction -> temperature mixture -> sequence packing -> versioned
file_output. Every repetition reads a fresh seeded corpus with doc ids
disjoint from the others and commits a new version of one table.

Each stage is a registered step operator calling the program's public
function. In measured runs the stages stay lazy and the sink runs the
lineage, as a user's pipeline would. In the replays of a traced run each
stage's output is materialized (inside its span when spans are recorded)
so the work lands in the layer that does it.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import functions as F

import datagen
import reference

DOCS_PER_REP = 400

GATE = ("ok_mean_word_len AND ok_symbol_ratio AND ok_alpha_words "
        "AND n_words >= 20")
#: (node id, span name of the program function the node calls)
NODES = (
    ("gate", "functions.text.gopher_quality_flags"),
    ("exact", "operators.dedup.dedup_keep_best"),
    ("near", "operators.dedup.minhash_dedup"),
    ("decontam", "operators.bloom.bloom_semi_filter"),
    ("redact", "operators.corpus.redact_pii"),
    ("mixture", "operators.corpus.temperature_mixture"),
    ("pack", "operators.corpus.pack_sequences"),
)
BUDGET = 512
ALPHA = 0.7


def _gate(df, call):
    from etl_mark1_spark.functions.text import gopher_quality_flags

    passed = call(lambda: gopher_quality_flags(df)).filter(GATE).select("doc_id")
    return df.join(passed, "doc_id", "left_semi")


def _exact(df, call):
    from etl_mark1_spark.functions.text import normalized_text
    from etl_mark1_spark.operators.dedup import dedup_keep_best

    keyed = df.withColumn("_k", normalized_text("text"))
    return call(lambda: dedup_keep_best(keyed, key_col="_k", score_col="n_chars",
                                        id_col="doc_id")).drop("_k")


def _near(df, call):
    from etl_mark1_spark.operators.dedup import minhash_dedup

    clusters = call(lambda: minhash_dedup(df, threshold=0.8))
    reps = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    return df.join(reps, "doc_id", "left_semi")


def _decontam(df, call):
    from etl_mark1_spark.operators.bloom import bloom_semi_filter
    from etl_mark1_spark.operators.dedup import word_ngrams

    grams = df.select("doc_id", "source",
                      F.explode(word_ngrams(F.col("text"), 6)).alias("gram"))
    ref = grams.filter(F.col("source") == "src0").select("gram").distinct()
    corpus = grams.filter(F.col("source") != "src0")
    hits = call(lambda: bloom_semi_filter(corpus, ref, "gram")).select("doc_id").distinct()
    return df.filter(F.col("source") != "src0").join(hits, "doc_id", "left_anti")


def _redact(df, call):
    from etl_mark1_spark.operators.corpus import redact_pii

    return call(lambda: redact_pii(df)).drop("text").withColumnRenamed("clean_text", "text")


def _mixture(df, call):
    from etl_mark1_spark.operators.corpus import temperature_mixture

    return call(lambda: temperature_mixture(df, alpha=ALPHA))


def _pack(df, call):
    from etl_mark1_spark.operators.corpus import pack_sequences

    sized = df.withColumn("n_tokens", F.size(F.split("text", " ")))
    packed = call(lambda: pack_sequences(sized, budget=BUDGET, size_col="n_tokens",
                                         shard_col="lang"))
    return packed.select("doc_id", "lang", "source", "seq_id", "n_tokens", "text")


STAGES = dict(zip((n for n, _ in NODES),
                  (_gate, _exact, _near, _decontam, _redact, _mixture, _pack)))


def register(tracer) -> None:
    """Register one step operator per node, named ``e2ebench_<node>``."""
    from etl_mark1_spark.operators.steps import register_operator

    def make(node: str, span_name: str):
        stage = STAGES[node]

        def call(fn):
            if not tracer.replaying:
                return fn()
            with tracer.span(span_name):
                return fn().localCheckpoint(eager=True)

        def step(df, params):
            if not tracer.replaying:
                return stage(df, call)
            with tracer.span("bench.rows"):
                rows_in = df.count()
            out = stage(df, call)
            with tracer.span("bench.rows"):
                out = out.localCheckpoint(eager=True)
                tracer.count_global(f"plans.dag.{node}.rows_out_in",
                                    out.count() / max(rows_in, 1))
            return out

        return step

    for node, span_name in NODES:
        register_operator(f"e2ebench_{node}", make(node, span_name))


def executor(spark, tracer):
    """A PipelineExecutor; in a replay, its versioned file_output runs
    inside a ``sources.versioned.write_version`` span (that is the call the
    built-in handler makes for ``versioned: true``)."""
    from etl_mark1_spark.plans.dag import PipelineExecutor

    ex = PipelineExecutor(spark)
    if tracer.replaying:
        builtin = ex._exec_file_output

        def file_output(node_id, config, inputs):
            with tracer.span("sources.versioned.write_version"):
                files = _files(config["path"])
                builtin(node_id, config, inputs)
                tracer.count("files", _files(config["path"]) - files)

        ex.register_node_type("file_output", file_output)
    return ex


def definition(corpus_path: str, table_dir: str, rep: int) -> dict:
    nodes = [{"id": "input", "type": "file_input",
              "config": {"path": corpus_path, "format": "parquet"}}]
    nodes += [{"id": n, "type": "transform",
               "config": {"steps": [{"operator": f"e2ebench_{n}"}]}} for n, _ in NODES]
    nodes.append({"id": "output", "type": "file_output",
                  "config": {"path": table_dir, "versioned": True,
                             "mode": "overwrite", "note": f"rep {rep}"}})
    ids = [n["id"] for n in nodes]
    return {"nodes": nodes,
            "edges": [{"source": a, "target": b} for a, b in zip(ids, ids[1:])]}


def committed_rows(spark, table_dir: str) -> list[dict]:
    from etl_mark1_spark.sources.versioned import read_table

    return [r.asDict() for r in read_table(spark, table_dir).collect()]


def redacted(text: str) -> str:
    """``text`` with each planted PII span replaced by redact_pii's token."""
    return datagen.PII_RE.sub(lambda m: "<EMAIL>" if "@" in m.group() else "<PHONE>", text)


def expected_output(corpus: dict) -> dict[int, str]:
    """The documents one repetition must commit, id -> text, worked out
    from the generator's ground truth and each stage's documented rule."""
    table = corpus["table"]
    ids = table.column("doc_id").to_pylist()
    text = dict(zip(ids, table.column("text").to_pylist()))
    src = dict(zip(ids, table.column("source").to_pylist()))
    n_chars = dict(zip(ids, table.column("n_chars").to_pylist()))
    # gate, then exact keep-best: per normalized text the most characters,
    # ties to the smallest id
    best: dict[str, int] = {}
    for d in ids:
        if reference.passes_gate(text[d]):
            k = reference.normalized(text[d])
            if k not in best or (n_chars[d], -d) > (n_chars[best[k]], -best[k]):
                best[k] = d
    live = set(best.values())
    # near duplicates: a planted copy clusters with its original and the
    # cluster keeps its smallest id
    live -= {max(p) for p in corpus["near_pairs"] if set(p) <= live}
    # decontamination: src0 goes, and so does any document sharing a word
    # 6-gram with a surviving src0 document
    ref = set().union(*(reference.word_ngrams(text[d], 6) for d in live if src[d] == "src0"))
    live = {d for d in live
            if src[d] != "src0" and not reference.word_ngrams(text[d], 6) & ref}
    # temperature mixture: keep if md5_uniform(id) < (n_min / n_source)^(1 - alpha)
    counts = Counter(src[d] for d in live)
    m = min(n ** (1.0 - ALPHA) for n in counts.values())
    live = {d for d in live if reference.md5_uniform(d) < m / counts[src[d]] ** (1.0 - ALPHA)}
    return {d: redacted(text[d]) for d in sorted(live)}


def check(corpus: dict, rows: list[dict]) -> list[str]:
    """Differences between one committed repetition and its expected output
    (empty when correct): the same documents, each with its input text
    with only the PII spans replaced, packed in doc-id order per language."""
    errors = []
    want = expected_output(corpus)
    got = {r["doc_id"]: r for r in rows}
    if len(got) != len(rows):
        errors.append("a document was packed twice")
    missing, extra = sorted(want.keys() - got.keys()), sorted(got.keys() - want.keys())
    if missing:
        errors.append(f"{len(missing)} of {len(want)} expected survivors missing, "
                      f"e.g. {missing[:5]}")
    if extra:
        errors.append(f"{len(extra)} documents survive that should not, e.g. {extra[:5]}")
    changed = sorted(d for d in want.keys() & got.keys() if got[d]["text"] != want[d])
    if changed:
        errors.append(f"{len(changed)} survivors' text differs from the input with PII "
                      f"redacted, e.g. doc {changed[0]}: {got[changed[0]]['text'][:80]!r}")
    for r in rows:
        if r["n_tokens"] != len(r["text"].split(" ")):
            errors.append(f"doc {r['doc_id']}: n_tokens does not match its text")
            break
    by_lang: dict[str, list[dict]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, group in by_lang.items():
        before = 0
        for r in sorted(group, key=lambda r: r["doc_id"]):
            if r["seq_id"] != before // BUDGET:
                errors.append(f"doc {r['doc_id']} packed into sequence {r['seq_id']}, "
                              f"expected {before // BUDGET}")
                break
            before += r["n_tokens"]
    return errors


def _files(table_dir: str) -> int:
    return sum(n.endswith(".parquet") for _, _, names in os.walk(table_dir) for n in names)


class Curation:
    unit = "repetition"
    #: a fresh session's repetitions take 23.8, 10.5, 10.6, 9.9, 9.5 s
    #: (400 docs, 4 cores): the cold one is the warm-up, and the slow
    #: slope after it shows in the window's halves
    warmup_units = 1
    #: the window holds at least two repetitions, so its halves compare
    min_units = 2
    request_kinds = ("execute",)

    def __init__(self, bench, max_reps: int):
        self.b = bench
        text = datagen.TextSource()
        self.corpora = []
        for rep in range(max_reps):
            corpus = datagen.make_corpus(bench.seed * 1000 + rep, DOCS_PER_REP,
                                         rep * 10_000_000, text)
            corpus["path"] = datagen.write_table(
                corpus["table"], os.path.join(bench.work, f"corpus_{rep}.parquet"))
            self.corpora.append(corpus)
        self.table = os.path.join(bench.work, "curated")
        self.rep = 0
        register(bench.tracer)

    def close(self) -> None:
        pass

    def run_unit(self, spark, table: str | None = None) -> float:
        """One repetition; returns the wall time of ``execute``."""
        tr, table = self.b.tracer, table or self.table
        corpus = self.corpora[self.rep]
        ex = executor(spark, tr)
        with self.b.timed(kind="execute", docs=len(corpus["table"])) as t:
            with tr.span("plans.dag.PipelineExecutor.execute"):
                report = ex.execute(definition(corpus["path"], table, self.rep))
        tr.count_global("plans.dag.retries", sum(log.attempts - 1 for log in report.node_logs))
        self.b.verify(f"curation rep {self.rep}", lambda: self._check(spark, report, corpus, table))
        self.rep += 1
        return t.s

    @staticmethod
    def _check(spark, report, corpus, table) -> str | None:
        if report.status != "succeeded":
            failed = [f"{log.node_id}: {log.message}" for log in report.node_logs
                      if log.status == "failed"]
            return f"pipeline {report.status}: {failed}"
        errors = check(corpus, committed_rows(spark, table))
        return "; ".join(errors) or None

    def describe(self) -> dict:
        return {}

    def finish(self, spark, table: str | None = None) -> None:
        pass

    def snapshot(self):
        return self.rep

    def restore(self, snap, name: str) -> str:
        """Rewind to ``snap``; returns a fresh table, ``name``d, to replay into."""
        self.rep = snap
        return f"{self.table}_{name}"
