"""Seeded input generators. The same seed gives byte-identical files.

Everything here is plain numpy + pyarrow: the program under test only ever
sees the files these functions write.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Gopher stopwords; the curation gate wants at least two per document.
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
LANGS = ("en", "de", "fr")
#: src0 is the "benchmark" slice the curation DAG decontaminates against;
#: the other sources are skewed so the temperature mixture has work to do.
SOURCES = ("src0", "src1", "src2", "src3", "src4")
SOURCE_WEIGHTS = (0.04, 0.46, 0.25, 0.15, 0.10)
PII_RE = re.compile(r"[a-z]+\.[a-z]+@mail\.example\.org|\+1 \d{3} \d{3} \d{4}")
_EPOCH = dt.date(1970, 1, 1)


def write_table(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 17)
    return path


# -- TPC-H-style tables ---------------------------------------------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SHIPMODES = ("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
EVENT_TYPES = ("view", "click", "cart", "purchase", "refund")
NATIONS = ("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES")


def _dates(rng, n: int, start: dt.date, days: int) -> pa.Array:
    base = (start - _EPOCH).days
    return pa.array(base + rng.integers(0, days, n), pa.int32()).cast(pa.date32())


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tpch(out_dir: str, seed: int, n_orders: int = 150_000) -> dict[str, str]:
    """TPC-H-shaped tables plus an ``events`` click log; about four
    lineitem rows per order. Returns {table name: parquet path}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part, n_supp = n_orders // 10, n_orders // 8, n_orders // 150
    paths = {}

    paths["nation"] = write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int64()),
        "n_name": list(NATIONS),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64()),
    }), os.path.join(out_dir, "nation.parquet"))

    paths["customer"] = write_table(pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int64()),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
    }), os.path.join(out_dir, "customer.parquet"))

    paths["supplier"] = write_table(pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int64()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }), os.path.join(out_dir, "supplier.parquet"))

    paths["part"] = write_table(pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"])[
            rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int64()),
        "p_retailprice": _money(rng, n_part, 900.0, 2100.0),
    }), os.path.join(out_dir, "part.parquet"))

    okeys = np.arange(1, n_orders + 1)
    paths["orders"] = write_table(pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, n_orders, 850.0, 550_000.0),
        "o_orderdate": _dates(rng, n_orders, dt.date(1992, 1, 1), 2400),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    }), os.path.join(out_dir, "orders.parquet"))

    lines_per = rng.integers(1, 8, n_orders)
    n_li = int(lines_per.sum())
    l_okey = np.repeat(okeys, lines_per)
    l_line = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    ship = rng.integers(0, 2500, n_li)
    base = (dt.date(1992, 1, 2) - _EPOCH).days
    paths["lineitem"] = write_table(pa.table({
        "l_orderkey": pa.array(l_okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li), pa.int64()),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(base + ship, pa.int32()).cast(pa.date32()),
        "l_receiptdate": pa.array(base + ship + rng.integers(1, 31, n_li),
                                  pa.int32()).cast(pa.date32()),
        "l_shipmode": np.array(SHIPMODES)[rng.integers(0, 7, n_li)],
    }), os.path.join(out_dir, "lineitem.parquet"))

    n_ev = n_orders
    paths["events"] = write_table(pa.table({
        "event_id": pa.array(np.arange(1, n_ev + 1), pa.int64()),
        "user_id": pa.array(rng.zipf(1.3, n_ev) % n_cust + 1, pa.int64()),
        "event_type": np.array(EVENT_TYPES)[
            rng.choice(5, n_ev, p=[0.55, 0.25, 0.1, 0.07, 0.03])],
        "event_date": _dates(rng, n_ev, dt.date(1998, 1, 1), 365),
        "amount": _money(rng, n_ev, 0.0, 500.0),
    }), os.path.join(out_dir, "events.parquet"))
    return paths


# -- text corpora -----------------------------------------------------------

def vocabulary(size: int = 20_000) -> list[str]:
    """``size`` distinct lowercase pseudo-words of 3 to 9 letters, the
    same on every call."""
    rng = np.random.default_rng([0, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set(STOPWORDS)
    while len(words) < size:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class TextSource:
    """Zipf-distributed word streams over one fixed vocabulary, with the
    Gopher stopwords mixed in at a fixed rate. The vocabulary does not
    depend on the run's seed: the most frequent words set how many
    shingles and postings documents share, so a per-seed vocabulary would
    change the cost of every run, not just its inputs."""

    def __init__(self, vocab_size: int = 20_000, zipf_s: float = 1.1):
        self.vocab = np.array(vocabulary(vocab_size))
        ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
        p = ranks ** -zipf_s
        self.p = p / p.sum()

    def words(self, rng, n: int) -> list[str]:
        out = self.vocab[rng.choice(len(self.vocab), n, p=self.p)]
        stop = rng.random(n) < 0.15
        out[stop] = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), int(stop.sum()))]
        return out.tolist()


def make_corpus(seed: int, n_docs: int, id_base: int, text: TextSource) -> dict:
    """A curation corpus of ``n_docs`` rows with planted defects and their
    ground truth:

    * ``exact_pairs``: a copy that differs only in case and whitespace;
    * ``near_pairs``: a copy with one word replaced (5-shingle Jaccard > 0.9);
    * ``contaminated``: non-src0 documents quoting 8 words of a src0 document;
    * ``pii``: documents carrying an email address or a phone number;
    * ``junk``: documents that fail the quality gate (symbol soup).

    src0 documents are unique and clean, so the decontamination reference
    set is exactly the src0 rows.
    """
    rng = np.random.default_rng([seed, 3])
    n_junk, n_exact, n_near = n_docs // 25, n_docs // 25, n_docs // 25
    n_cont, n_pii = n_docs // 40, n_docs // 20
    n_base = n_docs - n_junk - n_exact - n_near
    ids = id_base + np.arange(n_docs)
    sources = np.array(SOURCES)[rng.choice(len(SOURCES), n_base, p=SOURCE_WEIGHTS)]
    docs = []
    for i in range(n_base):
        words = text.words(rng, int(rng.integers(30, 70)))
        docs.append({"source": str(sources[i]), "words": words})
    src0 = [d for d in docs if d["source"] == "src0"]
    others = [i for i, d in enumerate(docs) if d["source"] != "src0"]
    pick = rng.permutation(others)
    contaminated_idx = pick[:n_cont]
    for i in contaminated_idx:
        ref = src0[int(rng.integers(0, len(src0)))]["words"]
        at = int(rng.integers(0, len(ref) - 8))
        words = docs[i]["words"]
        pos = int(rng.integers(0, len(words)))
        docs[i]["words"] = words[:pos] + ref[at:at + 8] + words[pos:]
    for i in pick[n_cont:n_cont + n_pii]:
        words = docs[i]["words"]
        if rng.random() < 0.5:
            a, b = text.vocab[rng.integers(0, 500, 2)]
            tag = f"{a}.{b}@mail.example.org"
        else:
            tag = "+1 %03d %03d %04d" % tuple(int(x) for x in rng.integers([200, 200, 0], [999, 999, 9999]))
        pos = int(rng.integers(0, len(words)))
        docs[i]["words"] = words[:pos] + ["contact", tag] + words[pos:]
    texts = [" ".join(d["words"]) for d in docs]
    srcs = [d["source"] for d in docs]
    rows_text, rows_src = list(texts), list(srcs)
    exact_pairs, near_pairs = [], []
    # copies are made of non-src0, non-contaminated, non-PII documents only
    clean = pick[n_cont + n_pii:]
    for k in range(n_exact):
        i = int(clean[k])
        t = texts[i]
        rows_text.append(t.upper()[:1] + t[1:].replace(" ", "  ", 3) + " ")
        rows_src.append(srcs[i])
        exact_pairs.append((int(ids[i]), int(ids[len(rows_text) - 1])))
    for k in range(n_near):
        i = int(clean[n_exact + k])
        words = list(docs[i]["words"])
        words[int(rng.integers(0, len(words)))] = str(text.vocab[int(rng.integers(0, len(text.vocab)))])
        rows_text.append(" ".join(words))
        rows_src.append(srcs[i])
        near_pairs.append((int(ids[i]), int(ids[len(rows_text) - 1])))
    junk = []
    for _ in range(n_junk):
        rows_text.append(" ".join(["#", "...", "##"][int(j)] for j in rng.integers(0, 3, 40)))
        rows_src.append(str(SOURCES[1 + int(rng.integers(0, 4))]))
        junk.append(int(ids[len(rows_text) - 1]))
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": rows_text,
        "lang": langs,
        "source": rows_src,
        "n_chars": pa.array([len(t) for t in rows_text], pa.int64()),
    })
    return {
        "table": table,
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "contaminated": {int(ids[i]) for i in contaminated_idx},
        "junk": set(junk),
    }


def make_docs(seed: int, n_docs: int, id_base: int, text: TextSource) -> pa.Table:
    """Plain (doc_id, text) documents for the search index."""
    rng = np.random.default_rng([seed, 4, id_base])
    lengths = rng.integers(20, 80, n_docs)
    words = text.words(rng, int(lengths.sum()))
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    return pa.table({
        "doc_id": pa.array(id_base + np.arange(n_docs), pa.int64()),
        "text": [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_docs)],
    })
