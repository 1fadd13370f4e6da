"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes plain files; the program under test sees only those
files. Sizes are fixed per workload and only the content varies with the
seed, so timings from different seeds are comparable.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SYLLABLES = (
    "ka to ri se nu ma lo pe di vo ra te mi sa ko li na ve du po "
    "ba ge ho ju fi ze cu wa ye xo"
).split()


def vocabulary(n: int = 3000) -> np.ndarray:
    """A fixed pseudo-word vocabulary (independent of the run seed)."""
    rng = np.random.default_rng(12345)
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(1, 5))
        words.add("".join(rng.choice(_SYLLABLES, size=k)))
    return np.array(sorted(words))


def zipf_probs(n: int, a: float = 1.05) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** a
    return p / p.sum()


def _words_to_len(rng, vocab, probs, n_chars: int) -> str:
    """Words drawn Zipf-style until the text reaches ``n_chars``."""
    words = rng.choice(vocab, size=max(1, n_chars // 4 + 4), p=probs)
    ends = np.cumsum([len(w) + 1 for w in words])
    k = int(np.searchsorted(ends, n_chars)) + 1
    return " ".join(words[:k])


# --------------------------------------------------------------------- rag

RAG_FILES = 8
RAG_PAGES = 10
RAG_PARAS_PER_PAGE = 8


def _wrap(text: str, width: int) -> str:
    """Break a paragraph into lines at spaces. No line but the last ends
    with sentence punctuation and none starts with a list marker, so the
    plain-text segmenter joins the lines back into exactly ``text``."""
    out, line = [], ""
    for w in text.split(" "):
        if line and len(line) + 1 + len(w) > width:
            out.append(line)
            line = w
        else:
            line = f"{line} {w}" if line else w
    out.append(line)
    return "\n".join(out)


def _paragraph_lengths(n: int) -> np.ndarray:
    """A fixed multiset of ``n`` paragraph lengths: 12% stray fragments
    (0) and lognormal lengths (median 320 chars, clipped to 12..2400) at
    evenly spaced quantiles. The seed only orders them, so the corpus, and
    its chunk count, has the same size for every seed."""
    n_frag = round(0.12 * n)
    dist = statistics.NormalDist(np.log(320), 0.8)
    q = (np.arange(n - n_frag) + 0.5) / (n - n_frag)
    long = np.clip(np.exp([dist.inv_cdf(x) for x in q]), 12, 2400).astype(int)
    return np.concatenate([np.zeros(n_frag, int), long])


def rag_corpus(rng, pdf_dir: str, n_questions: int) -> dict:
    """Fake PDFs (UTF-8 text, ``\\f`` page breaks) with long-tailed
    paragraph lengths, plus questions drawn from the corpus vocabulary.

    Returns the generator's own paragraphs (for the chunk-count check),
    the questions, and sizes."""
    vocab = vocabulary()
    probs = zipf_probs(len(vocab))
    os.makedirs(pdf_dir, exist_ok=True)
    lengths = iter(rng.permutation(_paragraph_lengths(RAG_FILES * RAG_PAGES * RAG_PARAS_PER_PAGE)))
    paragraphs: list[str] = []
    n_bytes = 0
    for f in range(RAG_FILES):
        pages = []
        for _ in range(RAG_PAGES):
            paras = []
            for _ in range(RAG_PARAS_PER_PAGE):
                n = int(next(lengths))
                if n == 0:  # stray fragments: page numbers, labels
                    text = str(rng.choice(vocab))[: int(rng.integers(2, 9))]
                else:
                    text = _words_to_len(rng, vocab, probs, n) + "."
                paragraphs.append(text)
                paras.append(_wrap(text, int(rng.integers(60, 100))))
            pages.append("\n\n".join(paras))
        data = "\f".join(pages).encode("utf-8")
        n_bytes += len(data)
        with open(os.path.join(pdf_dir, f"doc_{f:03d}.pdf"), "wb") as fh:
            fh.write(data)
    long_paras = [p for p in paragraphs if len(p) >= 80]
    questions = []
    for _ in range(n_questions):
        words = long_paras[int(rng.integers(len(long_paras)))].rstrip(".").split()
        i = int(rng.integers(0, len(words) - 6))
        questions.append(" ".join(words[i : i + 6]))
    return {
        "paragraphs": paragraphs,
        "questions": questions,
        "files": RAG_FILES,
        "pages": RAG_FILES * RAG_PAGES,
        "bytes": n_bytes,
    }


def expected_chunks(paragraphs: list[str], size: int = 500, stride: int = 450,
                    min_para: int = 10, min_chunk: int = 50) -> int:
    """The 500/450 chunking rule applied in plain Python: clean
    whitespace, drop paragraphs under ``min_para`` chars, keep short
    paragraphs whole, and cut long ones at every ``stride`` keeping
    pieces of at least ``min_chunk`` chars."""
    total = 0
    for p in paragraphs:
        t = re.sub(r"\s{2,}", " ", p).strip()
        n = len(t)
        if n < min_para:
            continue
        if n <= size:
            total += 1
        else:
            total += sum(1 for i in range(0, n, stride) if min(size, n - i) >= min_chunk)
    return total


# ----------------------------------------------------------------- queries

LANGS = np.array(["en", "zh", "fr", "es", "de"])
LANG_P = np.array([0.44, 0.15, 0.13, 0.15, 0.13])

# The fixture's own size ratios (customer : part : orders : lineitem,
# 4 lines per order on average), at ``QUERIES_ORDERS`` orders.
QUERIES_ORDERS = 3000


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    return pa.array([base + timedelta(seconds=int(s)) for s in seconds], pa.timestamp("us"))


def fixture_tables(rng, sf_dir: str, n_orders: int = QUERIES_ORDERS) -> dict:
    """The ten fixture tables of the declared-query surface, with the
    schemas FIXTURES.md gives, one parquet file each."""
    os.makedirs(sf_dir, exist_ok=True)
    n_cust, n_supp, n_part = n_orders // 10, max(10, n_orders // 150), n_orders * 2 // 15
    n_docs, n_events = n_orders // 30, n_orders * 2 // 3
    money = lambda a: np.round(a, 2)  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    retail = money(900.0 + (np.arange(n_part) % 1000) * 0.1)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    day0 = datetime(1995, 1, 1)
    odays = rng.integers(0, 2404, n_orders)
    # 1..7 lines per order; about 2% of orders have none, as in the fixture
    n_lines = np.where(rng.random(n_orders) < 0.02, 0, rng.integers(1, 8, n_orders))
    l_order = np.repeat(np.arange(n_orders), n_lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    n_li = len(l_order)
    # uniform part draw, as in the fixture: a heavy-tailed one made the
    # co-purchase graph's size, and so the graph queries' cost, vary by seed
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = money(qty * retail[l_part])
    disc = np.round(rng.integers(0, 11, n_li) / 100, 2)
    tax = np.round(rng.integers(0, 9, n_li) / 100, 2)
    ship = odays[l_order] + rng.integers(1, 122, n_li)
    flag = np.where(ship < 1900, rng.choice(["A", "R"], n_li), "N")
    status = np.where(ship < 2100, "F", "O")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": flag,
        "l_linestatus": status,
        "l_shipdate": _ts(day0, ship * 86400),
    })
    totals = np.zeros(n_orders)
    np.add.at(totals, l_order, price * (1 - disc) * (1 + tax))
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": money(np.maximum(totals, 1000.0 + rng.uniform(0, 50, n_orders))),
        "o_orderdate": _ts(day0, odays * 86400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    ev_ts = np.sort(rng.uniform(0, 30 * 86400, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array((np.datetime64("2024-01-01") + (ev_ts * 1e6).astype("timedelta64[us]")),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust // 10, n_events), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": money(rng.uniform(0.01, 490.0, n_events)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    words = np.array(
        "row the query stream fast spark line small customer group value hash "
        "batch sort data big filter dup key agg scan slow table part a merge "
        "window order column join vector".split())
    docs = [" ".join(rng.choice(words, size=int(rng.integers(8, 100)))) for _ in range(n_docs)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": docs,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    emb = rng.normal(size=(n_docs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return {
        "rows": {k: v.num_rows for k, v in t.items()},
        "bytes": sum(os.path.getsize(os.path.join(sf_dir, f"{k}.parquet")) for k in t),
    }
