"""Seeded input generator for the benchmark workloads.

Writes the ten fixture tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each, same schemas and value domains as the sf fixtures described
in FIXTURES.md) from a seed alone: the same seed gives byte-identical
files, another seed gives other values at the same row counts.

A table set is built from independently seeded *replicas* of a small
base. Replica r of every key column is shifted by r x (the key
domain's max + 1), the `KEY_DOMAINS` rule of `tools/scale_probe.py`, so
foreign keys stay aligned inside a replica and never collide across
replicas.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()

DAY0 = np.datetime64("1995-01-01", "D")
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6
DIM = 64


def base_counts(sf: float) -> dict[str, int]:
    """Row counts of one replica at scale factor `sf` (the fixture
    ratios: lineitem 6M x sf; documents and embeddings never below 500)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    """Word texts over a shared vocabulary. About 3% of documents are
    exact copies and 15% near copies (one word appended) of an original
    of 40+ words, so exact dedup, LSH and connected components have real
    clusters to find. Near copies stay at 3-shingle Jaccard >= 0.95,
    where banded MinHash finds every pair with certainty for practical
    purposes: the LSH ops then agree with their exact oracles, as they
    do on the fixtures, which hold no pairs in the 0.5-0.9 band. Copies
    only point at originals: clusters are stars, never chains."""
    lens = rng.integers(10, 100, n)
    words = [list(rng.choice(VOCAB, k)) for k in lens]
    kind = rng.random(n)
    extra = rng.choice(VOCAB, n)
    out: list[str] = []
    long_originals: list[int] = []
    for i in range(n):
        if long_originals and kind[i] < 0.18:
            words[i] = list(words[long_originals[int(rng.integers(len(long_originals)))]])
            if kind[i] >= 0.03:
                words[i].append(extra[i])
        elif lens[i] >= 40:
            long_originals.append(i)
        out.append(" ".join(words[i]))
    return out


def gen_replica(rng, counts: dict[str, int]) -> dict[str, dict]:
    """One replica's columns (keys start at 0), as numpy/list columns."""
    nc, ns, np_, no, nl = (counts[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    ne, nd, nv = counts["events"], counts["documents"], counts["embeddings"]
    cust = np.arange(nc, dtype=np.int64)
    supp = np.arange(ns, dtype=np.int64)
    part = np.arange(np_, dtype=np.int64)
    t: dict[str, dict] = {}
    t["customer"] = {
        "c_custkey": cust,
        "c_name": [f"Customer#{k:09d}" for k in cust],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
    }
    t["supplier"] = {
        "s_suppkey": supp,
        "s_name": [f"Supplier#{k:09d}" for k in supp],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }
    t["part"] = {
        "p_partkey": part,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, np_), rng.choice(NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PTYPES, np_).tolist(),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (part % 1000) / 10.0, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(list("OFP"), no).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": (DAY0 + rng.integers(0, 2405, no)).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(list("ANR"), nl).tolist(),
        "l_linestatus": rng.choice(list("FO"), nl).tolist(),
        "l_shipdate": (DAY0 + 1 + rng.integers(0, 2499, nl)).astype("datetime64[us]"),
    }
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, ne))
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": EVENT_T0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, ne // 66), ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.minimum(np.round(rng.exponential(50.0, ne), 2), 560.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    texts = _texts(rng, nd)
    t["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    # isotropic unit vectors, as in the fixtures: LSH band buckets stay
    # near-uniform, under the occupancy cap the ANN ops apply
    vecs = rng.normal(0.0, 1.0, (nv, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": vecs.astype(np.float32),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    }
    return t


def replicas(
    seed: int, n: int, sf: float, key_domains: dict, tag: str,
    overrides: dict[str, int] | None = None,
) -> list[dict[str, dict]]:
    """`n` independently seeded replicas at `sf`, each with its keys
    shifted by the KEY_DOMAINS rule and its own reference tables."""
    counts = {**base_counts(sf), **(overrides or {})}
    reps = [
        gen_replica(np.random.default_rng([seed, r, *tag.encode()]), counts)
        for r in range(n)
    ]
    # one offset per domain: the domain-wide max over every replica + 1
    for members in key_domains.values():
        dom_max = max(int(np.max(rep[tb][c])) for rep in reps for tb, c in members)
        for r, rep in enumerate(reps):
            for tb, c in members:
                rep[tb][c] = rep[tb][c] + r * (dom_max + 1)
    nk = np.arange(25, dtype=np.int32)
    for rep in reps:
        rep["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        rep["nation"] = {"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk], "n_regionkey": nk % 5}
    return reps


def merge(reps: list[dict[str, dict]]) -> dict[str, dict]:
    """One table set from replicas; the reference tables are shared."""
    def cat(parts):
        if isinstance(parts[0], np.ndarray):
            return np.concatenate(parts)
        return [x for p in parts for x in p]

    out = {name: {c: cat([rep[name][c] for rep in reps]) for c in reps[0][name]} for name in reps[0]}
    out["region"], out["nation"] = reps[0]["region"], reps[0]["nation"]
    return out


def _arrow(name: str, cols: dict) -> pa.Table:
    arrays = {}
    for c, v in cols.items():
        if name == "embeddings" and c == "embedding":
            flat = pa.array(v.reshape(-1), type=pa.float32())
            offsets = pa.array(np.arange(0, v.size + 1, DIM, dtype=np.int32))
            arrays[c] = pa.ListArray.from_arrays(offsets, flat)
        elif isinstance(v, np.ndarray) and v.dtype.kind == "M":
            arrays[c] = pa.array(v, type=pa.timestamp("us"))
        else:
            arrays[c] = pa.array(v)
    return pa.table(arrays)


def write_tables(tables: dict[str, dict], out_dir: str) -> dict[str, dict]:
    """Write one parquet file per table; return {table: {rows, bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name in TABLES:
        tbl = _arrow(name, tables[name])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy")
        manifest[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return manifest

