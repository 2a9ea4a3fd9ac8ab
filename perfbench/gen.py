"""Seeded inputs for every workload.

The same seed always yields the same bytes: object payloads for the
file-system workloads, and the four lake tables (``lineitem``,
``orders``, ``customer``, ``documents``) at the sf0.1 row counts and
schemas of the repository's TPC-H-ish testdata.
"""

from __future__ import annotations

import os

import numpy as np

MiB = 1024 * 1024

LAKE_ROWS = {"lineitem": 600_000, "orders": 150_000, "customer": 15_000,
             "documents": 5_000}

_VOCAB = ("batch part spark line column order small sort fast value scan "
          "a hash slow group agg filter query big key window row table "
          "stream merge data vector join shuffle cache page file mirror "
          "write read remote local tier prefetch evict").split()


def payload(seed: int, index: int, size: int) -> bytes:
    """Bytes of one object; a pure function of (seed, index, size)."""
    rng = np.random.default_rng([seed, index, size])
    return rng.integers(0, 256, size, dtype=np.uint8).tobytes()


def strata(rng: np.random.Generator, block: int):
    """Endless uniforms in [0, 1). Each block of ``block`` values holds
    exactly one value in each 1/block-wide stratum, in seeded order, so
    a run's mix of choices follows the stated shares with far less
    sampling noise than independent draws."""
    while True:
        u = (np.arange(block) + rng.random(block)) / block
        rng.shuffle(u)
        yield from u.tolist()


def chooser(rng: np.random.Generator, shares, block: int):
    """Endless indices into ``shares`` drawn through ``strata``."""
    cdf = np.cumsum(shares) / np.sum(shares)
    for u in strata(rng, block):
        yield min(int(np.searchsorted(cdf, u, side="right")), len(cdf) - 1)


def zipf_shares(n: int, alpha: float):
    return 1.0 / np.arange(1, n + 1) ** alpha


def _dates(rng, n, start, days):
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]")
    return base + offs.astype("timedelta64[us]")


def lake_tables(seed: int):
    """{name: pyarrow.Table} for the four lake tables."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 0x1A4E])
    n_li, n_o, n_c, n_d = (LAKE_ROWS[k] for k in
                           ("lineitem", "orders", "customer", "documents"))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, n_li), 2)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_li),
        "l_partkey": rng.integers(0, 20_000, n_li),
        "l_suppkey": rng.integers(0, 1_000, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, n_li, "1992-01-02", 2_400),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1_000.0, 400_000.0, n_o), 2),
        "o_orderdate": _dates(rng, n_o, "1992-01-01", 2_400),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_o)],
    })
    customer = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.0, 9_999.0, n_c), 2),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_c)],
    })
    return {"lineitem": lineitem, "orders": orders, "customer": customer,
            "documents": _documents(rng, n_d)}


def _documents(rng, n):
    """Word-salad documents where every fifth one is a light edit of a
    random original. Near-duplicate clusters are therefore stars of the
    same depth in every seed, so the connected-components loop runs the
    same number of rounds whatever the seed."""
    import pyarrow as pa

    vocab = np.array(_VOCAB)
    texts, originals = [], []
    for i in range(n):
        if i % 5 == 4:
            words = texts[originals[int(rng.integers(0, len(originals)))]] \
                .split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(
                    vocab[rng.integers(0, len(vocab))])
        else:
            originals.append(i)
            words = list(vocab[rng.integers(0, len(vocab),
                                            int(rng.integers(12, 60)))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n)],
        "source": ["src%d" % k for k in rng.integers(0, 8, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_lake(seed: int, out_dir: str):
    """Write the lake tables as ``<out_dir>/<name>.parquet`` and return
    {name: bytes of the file}."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in lake_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes

