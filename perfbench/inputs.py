"""Seeded benchmark inputs.

Everything the program sees is generated here from the benchmark seed:

- ``filler_docs``: entity-free documents rendered as pages, one long
  sentence each (the shape of the TPC-H-style ``documents`` table);
- ``tpch_tables``: the TPC-H-style tables the graph queries read
  (lineitem, orders, supplier, customer, embeddings, documents), written
  as parquet so that Spark and the DuckDB oracle read the same bytes.

The same seed always yields the same rows.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "stream filter group big"
).split()
_DOC_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _doc_text(rng: np.random.Generator, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n))


def filler_docs(n: int, seed: int) -> list[tuple]:
    """Pages rows (url, warc_ts, html, text, lang) with no entity
    mentions: 40-68 filler words and no sentence break, so each page is
    one long sentence that the NER scorer still has to enumerate."""
    rng = np.random.default_rng([seed, 1])
    return [
        (f"doc://{i}", None, None, _doc_text(rng, 40, 68),
         _DOC_LANGS[i % len(_DOC_LANGS)])
        for i in range(n)
    ]


def tpch_tables(out_dir: str, seed: int, n_orders: int = 15000,
                n_part: int = 2000, n_supp: int = 100, n_cust: int = 1500,
                n_vec: int = 500, dim: int = 64, n_docs: int = 500) -> None:
    """Write <out_dir>/<table>.parquet for every table the graph sweep
    reads, with the column names and types of the TPC-H-style test data
    (defaults are its sf0.01 row counts)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    t0 = datetime(1995, 1, 1)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1e3, 5e5, n_orders), 2)),
        "o_orderdate": pa.array(
            [t0 + timedelta(days=int(d)) for d in rng.integers(0, 2500, n_orders)],
            pa.timestamp("us"),
        ),
        "o_orderpriority": pa.array(
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"], n_orders)
        ),
    })

    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    write("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
        ),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 1e5, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(
            [t0 + timedelta(days=int(d)) for d in rng.integers(0, 2600, n_li)],
            pa.timestamp("us"),
        ),
    })

    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(
            rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                        "MACHINERY"], n_cust)
        ),
    })

    # tight clusters of 6 around random centres: a vector's 5 nearest
    # neighbours are the rest of its cluster, so the mutual-kNN k-core
    # peels in the same rounds whatever the seed (uniform noise varied
    # it between 7 and 15 rounds, and the sweep time with it)
    centres = rng.normal(0.0, 0.1, (-(-n_vec // 6), dim))
    emb = (np.repeat(centres, 6, axis=0)[:n_vec]
           + rng.normal(0.0, 0.002, (n_vec, dim))).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })

    texts = [_doc_text(rng, 10, 99) for _ in range(n_docs)]
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([_DOC_LANGS[i % len(_DOC_LANGS)] for i in range(n_docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
