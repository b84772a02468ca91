"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from ``--seed``:
the same seed gives byte-identical parquet files. Tables keep the column
names and types of the registry's sf-shaped input dirs (``documents``,
``embeddings``, ``customer``, ``orders``, ``lineitem``, ``supplier``,
``nation``, ``region``), so registry entries and their DuckDB oracles run
on them unchanged.

Documents are drawn as near-duplicate families: a base text plus copies
with a few words changed. One seeded bijection then permutes ``doc_id``
and ``vec_id`` together, so ``documents`` and ``embeddings`` stay 1:1 and
the family members land in random ingest epochs (the streaming gate's
epoch is ``doc_id % 6``). ``check_traffic`` verifies that property on the
oracle's decisions.

The dir is stamped with the seed, the sizes and ``SCHEME``; a dir whose
stamp differs is rebuilt.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump whenever a transform below changes, so stale dirs are rebuilt.
SCHEME = "families-bijection-v2"
STAMP = "_perfbench_inputs.json"

VOCAB = (
    "a the data row column table query join agg group sort filter merge "
    "scan hash key value order line part customer window stream batch "
    "spark vector big small fast slow dup"
).split()
LANGS = ("en", "en", "fr", "es", "de", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMB_DIM = 64
N_LABELS = 10


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n_docs: int):
    """Near-dup families of a seed-independent shape: every third doc is a
    copy of a distinct fresh doc with two words changed (5-char-shingle
    Jaccard well above the gate's 0.5 threshold), and doc lengths follow a
    fixed pattern. The seed picks the words, the edits and which fresh doc
    each copy takes, so every seed asks for the same amount of work."""
    fresh = [i for i in range(n_docs) if i % 3 != 2]
    sources = iter(rng.permutation(fresh).tolist())
    texts = [None] * n_docs
    family = [0] * n_docs
    for i in fresh:
        n_words = 12 + (i * 17) % 49
        texts[i] = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words))
        family[i] = i
    for i in range(2, n_docs, 3):
        src = next(sources)
        words = texts[src].split(" ")
        for pos in rng.choice(len(words), 2, replace=False):
            words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(words)
        family[i] = src
    return texts, family


def _embeddings(rng: np.random.Generator, family, n: int) -> np.ndarray:
    """One unit vector per doc, clustered by label; a near-dup family
    shares its base vector plus small noise."""
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    base = {}
    out = np.empty((n, EMB_DIM), dtype=np.float32)
    for i, f in enumerate(family):
        if f not in base:
            base[f] = centers[f % N_LABELS] + 0.9 * rng.normal(size=EMB_DIM)
        v = base[f] + 0.05 * rng.normal(size=EMB_DIM)
        out[i] = v / np.linalg.norm(v)
    return out


def _tpch(rng: np.random.Generator, out: str, n_orders: int) -> None:
    n_cust = max(n_orders // 10, 10)
    n_supp = max(n_orders // 150, 5)
    n_part = max(n_orders // 7, 20)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(rng.permutation(n_cust) + 1, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(rng.permutation(n_supp) + 1, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part) + 1, pa.int64()),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{j}" for j in rng.integers(11, 56, n_part)],
        "p_type": [f"TYPE{j}" for j in rng.integers(0, 30, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    })
    epoch = dt.datetime(1992, 1, 1)
    okeys = rng.permutation(n_orders).astype(np.int64) * 4 + 1
    odays = rng.integers(0, 2400, n_orders)
    n_lines = 1 + np.arange(n_orders) % 7  # seed-independent line count
    l_ok = np.repeat(okeys, n_lines)
    l_days = np.repeat(odays, n_lines) + rng.integers(1, 122, len(l_ok))
    n_li = len(l_ok)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, n_li), 2)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(k) + 1 for k in n_lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("R", "A", "N")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array([epoch + dt.timedelta(days=int(d)) for d in l_days], pa.timestamp("ms")),
    })
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": pa.array([epoch + dt.timedelta(days=int(d)) for d in odays], pa.timestamp("ms")),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_orders)],
    })
    for name, t in (("region", region), ("nation", nation), ("customer", customer),
                    ("supplier", supplier), ("part", part), ("orders", orders),
                    ("lineitem", lineitem)):
        _write(out, name, t)


def generate(out: str, seed: int, n_docs: int, n_orders: int) -> str:
    """Write the seeded input dir ``out`` (rebuilt unless its stamp
    matches) and return it."""
    stamp = {"scheme": SCHEME, "seed": seed, "n_docs": n_docs, "n_orders": n_orders}
    stamp_path = os.path.join(out, STAMP)
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if json.load(f) == stamp:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    texts, family = _documents(rng, n_docs)
    emb = _embeddings(rng, family, n_docs)
    # the shared bijection: row i gets doc_id == vec_id == perm[i]
    perm = rng.permutation(n_docs).astype(np.int64)
    order = np.argsort(perm)
    ids = perm[order]
    texts = [texts[i] for i in order]
    emb = emb[order]
    labels = np.array([family[i] % N_LABELS for i in order], dtype=np.int32)
    _write(out, "documents", pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{int(i) % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))
    _tpch(rng, out, n_orders)
    with open(stamp_path, "w") as f:
        json.dump(stamp, f)
    return out


def check_traffic(ingest_expected) -> None:
    """The ingest workload must keep its traffic property under every
    seed: some doc arriving in a later epoch is a near-dup of a doc that
    an earlier epoch absorbed (an odd ``dup_of``), so the gate's absorb
    path decides real rows. Raises ValueError otherwise."""
    dup_of = ingest_expected["dup_of"].dropna().astype("int64")
    if not (dup_of % 2 == 1).any():
        raise ValueError("seeded documents carry no cross-epoch near-dup")
    if not (dup_of % 2 == 0).any():
        raise ValueError("seeded documents carry no corpus near-dup")
