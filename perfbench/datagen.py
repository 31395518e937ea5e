"""Seeded input generators for the benchmark workloads.

Everything the engine reads during a run is written here from the
``--seed`` argument alone, so the same seed gives byte-identical files
(``tests/test_perfbench.py`` checks this). The tables follow the schemas
of the engine's catalog inputs (a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``); only the scale and the values differ.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

# Tokenizer separators the reference word count splits on: anything that
# is not an ASCII letter. Mixed into the corpus so the tokenizer's real
# separators are exercised, not just spaces.
_SEPARATORS = [" ", " ", " ", " ", "\n", ", ", ". ", "'", "-", "3", "42 ", "; "]

_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EPOCH_2024 = dt.datetime(2024, 1, 1)


def _write(table: pa.Table, path: str) -> None:
    # Fixed writer settings: identical tables give identical bytes.
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


def _days(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    base = np.datetime64(_EPOCH_1995, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def make_documents(rng: np.random.Generator, n_docs: int, n_sources: int = 20) -> pa.Table:
    """Short documents over a small vocabulary, with a few exact and near
    duplicates so the dedup operators have work to find."""
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.05:  # near duplicate: one word swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
            texts.append(" ".join(words))
            continue
        n_words = int(rng.integers(8, 90))
        texts.append(" ".join(DOC_VOCAB[j] for j in rng.integers(0, len(DOC_VOCAB), n_words)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, n_sources, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def make_catalog_tables(out_dir: str, seed: int, scale: float) -> str:
    """Write the ten catalog tables at ``scale`` (1.0 = 150 customers,
    1,500 orders, 6,000 line items) into ``out_dir``; returns it."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150 * scale))
    n_supp = max(5, int(10 * scale))
    n_part = max(50, int(200 * scale))
    n_ord = max(200, int(1500 * scale))
    n_li = 4 * n_ord
    n_ev = max(500, int(1000 * scale))
    n_users = max(50, n_cust)
    n_docs = 300
    n_vec = 300
    dim = 64

    _write(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        os.path.join(out_dir, "region.parquet"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
                "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
            }
        ),
        os.path.join(out_dir, "supplier.parquet"),
    )
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 7, n_part), rng.integers(0, 7, n_part))
                ],
                "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
                "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
            }
        ),
        os.path.join(out_dir, "part.parquet"),
    )
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
                "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
                "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 499999.99)),
                "o_orderdate": pa.array(_days(rng, n_ord, 2400)),
                "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 104999.99)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
                "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
                "l_shipdate": pa.array(_days(rng, n_li, 2500)),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": pa.array(np.datetime64(_EPOCH_2024, "us") + ts.astype("timedelta64[us]")),
                "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
                "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
                "value": pa.array(_money(rng, n_ev, 0.01, 499.99)),
                "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )
    _write(make_documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32)),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return out_dir


def make_corpus(out_dir: str, seed: int, n_files: int, words_per_file: int,
                vocab_size: int = 5000) -> str:
    """The word-count corpus: Zipf-distributed words joined by the
    tokenizer's separators, written once as ``n_files`` text splits under
    ``out_dir/splits`` and once as ``out_dir/documents.parquet`` (one
    document per split, so the DataFrame path reads the same text)."""
    rng = np.random.default_rng(seed)
    vocab = []
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    for _ in range(vocab_size):
        n = int(rng.integers(2, 10))
        w = "".join(letters[rng.integers(0, 26, n)])
        # mixed case: the reference upper-cases before counting
        vocab.append(w.capitalize() if rng.random() < 0.2 else w)
    split_dir = os.path.join(out_dir, "splits")
    os.makedirs(split_dir, exist_ok=True)
    texts = []
    for f in range(n_files):
        ranks = rng.zipf(1.2, words_per_file)
        ranks = ranks[ranks <= vocab_size] - 1
        seps = rng.integers(0, len(_SEPARATORS), len(ranks))
        text = "".join(vocab[r] + _SEPARATORS[s] for r, s in zip(ranks, seps))
        texts.append(text)
        with open(os.path.join(split_dir, f"part-{f:04d}.txt"), "w", encoding="ascii") as fh:
            fh.write(text)
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_files, dtype=np.int64)),
                "text": pa.array(texts, pa.string()),
                "lang": ["en"] * n_files,
                "source": [f"split{f:04d}" for f in range(n_files)],
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    return out_dir
