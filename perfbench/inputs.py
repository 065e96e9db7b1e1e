"""Seeded input tables for the catalog-sweep workloads.

The catalog leaves (``kgtk_spark.queries``) read TPC-H-shaped tables and
a ``documents`` table as one parquet file each from a directory; their
DuckDB oracles read the same files. These writers produce such a
directory from a seed, with the row-count ratios, key ranges and value
distributions of the test tables described in TESTDATA.md, and one row
group per file (the layout that makes the scan-parallelism floor
matter). Only the columns the swept leaves read are written.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The test documents draw whitespace tokens uniformly from this
# vocabulary; 5% of docs are an earlier doc plus " dup" (near duplicates
# for MinHash) and ~0.16% are verbatim copies (exact duplicates).
VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(out_dir: Path, name: str, columns: dict) -> int:
    table = pa.table(columns)
    pq.write_table(table, out_dir / f"{name}.parquet", row_group_size=table.num_rows or 1)
    return table.num_rows


def write_tpch_tables(out_dir: Path, sf: float, seed: int) -> int:
    """nation/customer/supplier/orders/lineitem at scale factor ``sf``;
    returns the number of rows of the KGTK edge file that
    ``queries.tpch_edges`` derives from them."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    nk = np.arange(25, dtype=np.int32)
    rows = _write(out_dir, "nation", {
        "n_nationkey": nk,
        "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": nk % 5,
    })
    rows += _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
    })
    rows += _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
    })
    rows += _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
    })
    rows += _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
    })
    return rows


def write_documents(out_dir: Path, n_docs: int, seed: int) -> int:
    """The ``documents`` table (doc_id, text, lang, source, n_chars)."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i and r < 0.0516:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 101))]))
    doc_id = np.arange(n_docs, dtype=np.int64)
    return _write(out_dir, "documents", {
        "doc_id": doc_id,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
