"""Seeded input tables for the benchmark workloads.

Every table is a pure function of (size, seed): numpy's PCG64 stream is
stable across platforms, so the same arguments always write the same
rows and the expected outputs in ``expected.json`` stay valid. Tables
are written as parquet, one file per chunk, so Spark reads them with
one task per file.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_parquet(path: str, columns: dict, n_files: int) -> str:
    """Write ``columns`` (name -> equal-length array) as ``n_files``
    parquet files under the directory ``path``, replacing it."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    n = len(next(iter(columns.values())))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        table = pa.table({k: v[lo:hi] for k, v in columns.items()})
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))
    return path


def tpch_lineitem_orders(n_orders: int, seed: int) -> tuple[dict, dict]:
    """TPC-H-shaped ``lineitem`` and ``orders`` numeric columns.

    1-7 lines per order (about 4 lines per order, so 150k orders give
    about 600k lines, the sf0.1 sizes); prices follow the TPC-H
    retail-price formula over uniformly drawn part keys, and
    ``o_totalprice`` sums its lines' discounted, taxed prices.
    """
    rng = np.random.default_rng(seed)
    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    order_of_line = np.repeat(np.arange(n_orders), lines_per_order)
    partkey = rng.integers(1, 20_001, n_lines)
    retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1000)) / 100
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    extended = np.round(quantity * retail, 2)
    discount = rng.integers(0, 11, n_lines) / 100
    tax = rng.integers(0, 9, n_lines) / 100
    charge = extended * (1 + tax) * (1 - discount)
    total = np.round(np.bincount(order_of_line, charge, n_orders), 2)
    lineitem = {
        "l_orderkey": order_of_line.astype(np.int64),
        "l_quantity": quantity,
        "l_extendedprice": extended,
        "l_discount": discount,
        "l_tax": tax,
    }
    orders = {"o_orderkey": np.arange(n_orders, dtype=np.int64),
              "o_totalprice": total}
    return lineitem, orders


_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa")


def documents(n_docs: int, seed: int, vocab_size: int = 31,
              recent: int = 50) -> dict:
    """Short documents over a small vocabulary, the shape of the
    ``documents`` test table: 10-100 words each, so long documents
    share most of the vocabulary (the set-similarity join's hard case).
    About 12% of documents are edited copies of one of the ``recent``
    documents before them (one to three words replaced) and 2% are
    exact copies, which gives MinHash and TF-IDF near-duplicate pairs
    and multi-member clusters inside any contiguous run of ids.
    """
    rng = np.random.default_rng(seed)
    vocab = [
        _SYLLABLES[i % 10] + _SYLLABLES[(i // 10) % 10] + _SYLLABLES[i % 7]
        for i in range(vocab_size)
    ]
    texts: list = []
    for _ in range(n_docs):
        kind = rng.random()
        source = len(texts) - 1 - rng.integers(min(len(texts), recent)) \
            if texts else None
        if texts and kind < 0.02:
            texts.append(texts[source])
            continue
        if texts and kind < 0.14:
            words = texts[source].split()
            for pos in rng.integers(0, len(words), rng.integers(1, 4)):
                words[pos] = vocab[rng.integers(vocab_size)]
        else:
            words = [vocab[j] for j in rng.integers(0, vocab_size,
                                                    rng.integers(10, 101))]
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
    }
