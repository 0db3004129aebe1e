"""The benchmark's own tests (no Spark needed):

    python3 -m pytest e2ebench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import reference  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


# -- tail percentile rule ---------------------------------------------------

def test_tail_is_the_sample_with_ten_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100, shuffled order irrelevant
    pct, value = stats.tail(list(reversed(values)))
    assert value == 90.0  # 91..100 are the ten beyond it
    assert pct == pytest.approx(90.0)


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([float(v) for v in range(11)]) == (100.0 / 11, 0.0)


def test_halves_split_the_window_in_order():
    assert stats.halves([1.0, 2.0, 10.0, 20.0]) == (1.5, 15.0)


# -- spans and job attribution ----------------------------------------------

def _span(sid, name, parent, start, end):
    s = tracing.Span(sid, name, parent, start)
    s.end = end
    return s


def _event_log(tmp_path, jobs):
    """jobs: (id, submit_s, end_s, tag, [(stage, run_ms, gc_ms, shuffle_bytes)])."""
    lines = []
    for jid, submit, end, tag, tasks in jobs:
        stages = sorted({t[0] for t in tasks})
        props = {tracing.SPAN_PROPERTY: tag} if tag is not None else {}
        lines.append({"Event": "SparkListenerJobStart", "Job ID": jid,
                      "Submission Time": int(submit * 1000), "Stage IDs": stages,
                      "Properties": props})
        for stage, run_ms, gc_ms, shuffle in tasks:
            lines.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                          "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                                           "Shuffle Write Metrics": {
                                               "Shuffle Bytes Written": shuffle},
                                           "Memory Bytes Spilled": 0,
                                           "Disk Bytes Spilled": 0}})
        lines.append({"Event": "SparkListenerJobEnd", "Job ID": jid,
                      "Completion Time": int(end * 1000)})
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    return str(path)


def test_jobs_go_to_the_submitting_span_or_the_innermost_open_one(tmp_path):
    spans = [_span(0, "bench.unit", None, 100.0, 110.0),
             _span(1, "plans.sql.preview", 0, 101.0, 104.0),
             _span(2, "operators.indexing.write_search_index", 0, 105.0, 109.0),
             _span(3, "bench.rows", 2, 106.0, 107.0)]
    log = _event_log(tmp_path, [
        (0, 101.5, 102.5, "1", [(0, 500, 10, 2**20), (0, 500, 10, 2**20)]),
        # thread-pool job: no tag; the innermost span open at submission wins
        (1, 106.5, 106.8, None, [(1, 100, 0, 0)]),
        # stale tag from a reused thread: span 1 is closed, so fall back
        (2, 108.0, 108.5, "1", [(2, 200, 0, 0)]),
        (3, 111.0, 111.5, None, [(3, 50, 0, 0)]),
    ])
    jobs = tracing.read_event_log(log)
    tracing.attribute(jobs, spans)
    assert [j.span for j in jobs] == [1, 3, 2, None]
    assert jobs[0].tasks == 2 and jobs[0].task_s == pytest.approx(1.0)
    assert jobs[0].shuffle_write_mb == pytest.approx(2.0)

    m = tracing.span_metrics(jobs, spans)
    assert m["plans.sql.preview"]["jobs"] == 1
    assert m["plans.sql.preview"]["driver_gap_s"] == pytest.approx(2.0)
    w = m["operators.indexing.write_search_index"]
    assert w["self_s"] == pytest.approx(3.0)  # 4 s minus its 1 s child
    assert w["jobs"] == 1 and w["task_s"] == pytest.approx(0.2)
    # its own job and its child's job cover 0.5 + 0.3 s of its 4 s
    assert w["driver_gap_s"] == pytest.approx(3.2)

    run = tracing.run_metrics(jobs, spans, spans[0], cores=4)
    assert run["spark.jobs"] == 3  # job 3 was submitted after the unit
    assert run["spark.attributed_frac"] == pytest.approx(1.0)
    assert run["spark.parallel_eff"] == pytest.approx(1.3 / (10 * 4))


def test_tracer_tags_and_self_time_without_spark():
    tr = tracing.Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            tr.count("files", 2)
        tr.count_global("operators.indexing.tombstones", 7)
    assert [s.parent for s in tr.spans] == [None, 0]
    assert tr.spans[1].counters == {"files": 2}
    assert tr.globals == {"operators.indexing.tombstones": 7}
    off = tracing.Tracer(enabled=False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


# -- generators --------------------------------------------------------------

def _tree_bytes(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_gives_identical_parquet_and_other_seeds_differ(tmp_path):
    a = datagen.write_tpch(str(tmp_path / "a"), seed=3, n_orders=500)
    b = datagen.write_tpch(str(tmp_path / "b"), seed=3, n_orders=500)
    c = datagen.write_tpch(str(tmp_path / "c"), seed=4, n_orders=500)
    assert set(a) == {"nation", "customer", "supplier", "part", "orders", "lineitem", "events"}
    assert _tree_bytes(tmp_path / "a") == _tree_bytes(tmp_path / "b")
    assert open(a["lineitem"], "rb").read() != open(c["lineitem"], "rb").read()

    text = datagen.TextSource()
    one = datagen.make_corpus(3, 200, 0, text)
    two = datagen.make_corpus(3, 200, 0, datagen.TextSource())
    other = datagen.make_corpus(4, 200, 0, text)
    datagen.write_table(one["table"], str(tmp_path / "one.parquet"))
    datagen.write_table(two["table"], str(tmp_path / "two.parquet"))
    datagen.write_table(other["table"], str(tmp_path / "other.parquet"))
    blob = lambda n: (tmp_path / n).read_bytes()  # noqa: E731
    assert blob("one.parquet") == blob("two.parquet") != blob("other.parquet")


def test_corpus_plants_what_it_reports():
    corpus = datagen.make_corpus(5, 400, 1000, datagen.TextSource())
    t = corpus["table"]
    text = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    assert len(text) == 400 and min(text) == 1000
    for a, b in corpus["exact_pairs"]:
        assert reference.tokens(text[a]) == reference.tokens(text[b])
        assert len(text[b]) > len(text[a])  # the copy is the one keep-best keeps
    src = dict(zip(t.column("doc_id").to_pylist(), t.column("source").to_pylist()))
    src0 = set().union(*(reference.word_ngrams(text[d], 6) for d in text if src[d] == "src0"))
    for d in corpus["contaminated"]:
        assert reference.word_ngrams(text[d], 6) & src0
    assert sum(bool(datagen.PII_RE.search(x)) for x in text.values()) >= 400 // 20


def test_expected_output_follows_each_stage_rule():
    import curation_workload as cw

    corpus = datagen.make_corpus(5, 400, 1000, datagen.TextSource())
    t = corpus["table"]
    text = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    src = dict(zip(t.column("doc_id").to_pylist(), t.column("source").to_pylist()))
    want = cw.expected_output(corpus)
    kept = set(want)
    assert not kept & corpus["junk"] and not kept & corpus["contaminated"]
    assert not any(src[d] == "src0" for d in kept)
    for a, b in corpus["exact_pairs"]:
        assert b not in kept or a not in kept
    assert not any(b in kept for _, b in corpus["near_pairs"])
    # the mixture sheds part of the larger sources, not everything
    assert 0.3 * len(text) < len(kept) < 0.9 * len(text)
    pii = [d for d in kept if datagen.PII_RE.search(text[d])]
    assert pii and all(("<EMAIL>" in want[d]) or ("<PHONE>" in want[d]) for d in pii)
    assert all(want[d] == text[d] for d in kept if d not in pii)
    # a survivor set that differs by one document, or one blanked text, is wrong
    rows, before = [], {}
    for d in sorted(kept):
        lang = t.column("lang").to_pylist()[d - 1000]
        n = len(want[d].split(" "))
        seq = before.get(lang, 0)
        rows.append({"doc_id": d, "lang": lang, "seq_id": seq // cw.BUDGET,
                     "n_tokens": n, "text": want[d]})
        before[lang] = seq + n
    assert cw.check(corpus, rows) == []
    assert "missing" in cw.check(corpus, rows[1:])[0]
    blank = [dict(rows[0], text="", n_tokens=1)] + rows[1:]
    assert any("text differs" in e for e in cw.check(corpus, blank))


def test_gate_reference_counts_like_the_gopher_rules():
    assert reference.passes_gate(" ".join(["the", "cat", "of", "word"] * 5))
    assert not reference.passes_gate(" ".join(["the", "cat"] * 9))  # 18 words
    assert not reference.passes_gate(" ".join(["# ... ##"] * 10))
    assert not reference.passes_gate(" ".join(["ab"] * 30))  # mean length 2
    assert reference.md5_uniform(7) == int("8f14e45f", 16) / 2 ** 32


# -- BM25 reference ------------------------------------------------------------

def test_bm25_matches_a_hand_computed_case():
    ref = reference.BM25()
    ref.add(1, "a b a")
    ref.add(2, "B  c")
    # N = 2, avgdl = 2.5, k1 = 1.2, b = 0.75
    # "a": df 1, idf = ln(1 + 1.5 / 1.5) = ln 2; doc 1 tf 2 dl 3:
    #      2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.5)) = 4.4 / 3.38
    assert ref.search(["a"], 10) == [(1, round(math.log(2) * 4.4 / 3.38, 6))]
    # "b": df 2, idf = ln(1.2); doc 2 (dl 2) outranks doc 1 (dl 3)
    idf = math.log(1.2)
    assert ref.search(["b"], 10) == [(2, round(idf * 2.2 / 2.02, 6)),
                                     (1, round(idf * 2.2 / 2.38, 6))]
    assert ref.search(["b"], 10)[0][1] == pytest.approx(0.198568, abs=1e-6)
    ref.delete(1)
    assert ref.search(["a"], 10) == []


def test_topk_check_accepts_ties_and_rejects_wrong_scores():
    ref = reference.BM25()
    ref.add(1, "x y")
    ref.add(2, "x z")
    ref.add(3, "w w")
    want = ref.search(["x"], 10)
    assert reference.check_topk(want, ref, ["x"], 10) is None
    assert reference.check_topk(list(reversed(want)), ref, ["x"], 10) is None  # exact tie
    bad = [(want[0][0], want[0][1] + 0.01)] + want[1:]
    assert "score" in reference.check_topk(bad, ref, ["x"], 10)
    assert "hits" in reference.check_topk(want[:1], ref, ["x"], 10)


# -- BENCHMARK.json and the command line ----------------------------------------

def test_benchmark_json_names_what_run_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert all(m["unit"] == run.unit_of(m["name"]) for m in spec["per_layer"])
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "e2ebench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run([sys.executable, "e2ebench/run.py", "--workload", "interactive",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode == 2
    assert proc.stdout == ""
