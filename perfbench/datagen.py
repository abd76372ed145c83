"""Star-schema inputs for the benchmark, generated from a seed.

Same tables, columns, types and value families as the fixtures the
package's queries are written against (customer, orders, lineitem, ...,
documents, embeddings), at any scale factor: row counts scale linearly
from sf0.1 (600k lineitem), dimension tables region/nation stay fixed,
and documents/embeddings never drop below the 500 rows the smallest
fixtures carry. numpy PCG64 from a fixed seed: two builds of one sf are
byte-identical, so the committed output fingerprints hold.

The directory is named ``sf<scale>`` because the package keys some
fixture sizes on that name (ml_movielens_report's twin size).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 7
SF01_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000}
MIN_ROWS = {"documents": 500, "embeddings": 500}

MKT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 4 + ["de", "zh", "fr", "es"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["large", "hot", "blue", "red", "small", "green", "cold", "dim"]
NOUN = ["ring", "bolt", "wheel", "case", "box", "cap", "pin", "rod"]
VOCAB = ("batch part spark line column order small sort fast value scan "
         "a query agg table hash list the of join scan group by key row "
         "vector shuffle filter merge read write block page cache plan").split()


def row_counts(sf: float) -> dict[str, int]:
    return {t: max(MIN_ROWS.get(t, 1), int(round(c * sf / 0.1)))
            for t, c in SF01_ROWS.items()}


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, sf: float) -> None:
    """Write every table of scale factor ``sf`` into ``out`` (atomically:
    a half-written directory is never left under the final name)."""
    tmp = f"{out}.build{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(DATA_SEED)
    n = row_counts(sf)

    _write(tmp, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"], pa.string())})
    _write(tmp, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    _write(tmp, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, nc), 2)),
        "c_mktsegment": pa.array(np.array(MKT)[rng.integers(0, 5, nc)])})

    ns = n["supplier"]
    _write(tmp, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, ns), 2))})

    npart = n["part"]
    _write(tmp, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{ADJ[i % 8]} {NOUN[(i // 8) % 8]}"
                            for i in range(npart)]),
        "p_brand": pa.array([f"Brand#{int(b)}"
                             for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(npart) * 0.1, 2))})

    no = n["orders"]
    odate = (np.datetime64("1995-01-01")
             + rng.integers(0, 2404, no).astype("timedelta64[D]"))
    _write(tmp, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[
            rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.array(PRIO)[rng.integers(0, 5, no)])})

    nl = n["lineitem"]
    lokey = rng.integers(0, no, nl)
    lship = (odate[lokey].astype("datetime64[D]")
             + rng.integers(1, 95, nl).astype("timedelta64[D]"))
    _write(tmp, "lineitem", {
        "l_orderkey": pa.array(lokey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(lship.astype("datetime64[us]"))})

    ne = n["events"]
    ets = (np.datetime64("2024-01-01T00:00:00", "us")
           + np.sort(rng.integers(0, 30 * 86400 * 1_000_000, ne))
           .astype("timedelta64[us]"))
    _write(tmp, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ets),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), pa.int64()),
        "event_type": pa.array(np.array(ETYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(80, ne), 2)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, ne)])})

    nd = n["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), ln)])
             for ln in rng.integers(5, 60, nd)]
    # ~2% exact and ~2% one-word near duplicates, so the dedup operators
    # find real structure
    for i in range(2, nd, 50):
        texts[i] = texts[i - 1]
    for i in range(27, nd, 50):
        w = texts[i - 1].split()
        w[len(w) // 2] = "changed"
        texts[i] = " ".join(w)
    _write(tmp, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), nd)]),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n["embeddings"]
    emb = rng.normal(0, 0.125, (nv, 64)).clip(-0.35, 0.35).astype(np.float32)
    _write(tmp, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32))})

    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
