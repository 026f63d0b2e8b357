"""Seeded generator for the benchmark's input tables.

Writes the engine's table set (``region nation customer supplier part
orders lineitem events documents embeddings``, one parquet file each)
with the same column names, types and value shapes as the engine's
TPC-H-ish test tables.  Everything is drawn from one
``numpy.random.default_rng(seed)``, and the parquet files are written
without timestamps or creator metadata that could vary, so the same
seed and scale give byte-identical files.

The document corpus is built the way ``scripts/make_scaling_sf1.py``
scales one: base documents are word bags over a small vocabulary, and
``NEAR_DUP_RATE`` of the corpus are perturbed replicas of earlier
documents (``PERTURB`` of their tokens swapped for random vocabulary
words), plus ``EXACT_DUP_RATE`` verbatim copies.  Embeddings are
unit-normalised Gaussian vectors, with the same near-duplicate rate of
jittered replicas.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
NEAR_DUP_RATE = 0.1
EXACT_DUP_RATE = 0.005
PERTURB = 0.2
EMBED_DIM = 64


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated table set.  ``sf`` scales the
    relational tables and events like the TPC-H scale factor."""

    sf: float
    n_docs: int
    n_embeddings: int


def _days(rng, n, start="1995-01-01", span_days=2404):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n) * np.timedelta64(86_400_000_000, "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tpch(rng, sf):
    n_cust, n_supp = int(15000 * sf), max(10, int(1000 * sf))
    n_part, n_ord = int(20000 * sf), int(150000 * sf)
    out = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        },
    }
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
    }
    out["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, n_ord, span_days=2404)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lno = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    perm = rng.permutation(n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = {
        "l_orderkey": pa.array(okey[perm]),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lno[perm].astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", 2499)),
    }
    return out


def _events(rng, sf):
    n = int(1_000_000 * sf)
    start = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(150, int(15000 * sf)), n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _replica_sources(rng, n):
    """For each row, the index of the row it copies (-1 for a fresh
    row) and whether the copy is exact."""
    src = np.full(n, -1, dtype=np.int64)
    exact = np.zeros(n, dtype=bool)
    u = rng.random(n)
    dup = u < NEAR_DUP_RATE + EXACT_DUP_RATE
    dup[0] = False
    idx = np.nonzero(dup)[0]
    src[idx] = (rng.random(len(idx)) * idx).astype(np.int64)
    exact[idx] = u[idx] < EXACT_DUP_RATE
    return src, exact


def _documents(rng, n):
    vocab = np.array(VOCAB, dtype=object)
    src, exact = _replica_sources(rng, n)
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        if src[i] < 0:
            toks = vocab[rng.integers(0, len(vocab), lengths[i])]
        else:
            toks = np.array(texts[src[i]].split(), dtype=object)
            if not exact[i]:
                mask = rng.random(len(toks)) < PERTURB
                toks[mask] = vocab[rng.integers(0, len(vocab), int(mask.sum()))]
        texts.append(" ".join(toks))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n):
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    src, exact = _replica_sources(rng, n)
    for i in np.nonzero(src >= 0)[0]:
        vecs[i] = vecs[src[i]] + (0 if exact[i] else rng.normal(0, 0.05, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def generate(out_dir: str, seed: int, scale: Scale) -> str:
    """Write every table of ``scale`` drawn from ``seed`` into
    ``out_dir`` and return it."""
    rng = np.random.default_rng(seed)
    tables = _tpch(rng, scale.sf)
    tables["events"] = _events(rng, scale.sf)
    tables["documents"] = _documents(rng, scale.n_docs)
    tables["embeddings"] = _embeddings(rng, scale.n_embeddings)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(
            pa.table(tables[name]),
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            write_statistics=True,
            store_schema=False,
        )
    return out_dir


if __name__ == "__main__":
    # python3 -m perfbench.inputs OUT_DIR SEED SF N_DOCS N_EMBEDDINGS
    import sys

    out, seed, sf, n_docs, n_emb = sys.argv[1:]
    generate(out, int(seed), Scale(float(sf), int(n_docs), int(n_emb)))
