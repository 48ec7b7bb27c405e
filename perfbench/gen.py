"""Seeded input generator for the benchmark.

``generate(out_dir, seed, sizes)`` writes one parquet file per table with
the fixture schemas the engine's queries and DuckDB oracles expect
(TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``). A
fixed base RNG draws the tables, so every seed sees the same data shape
and nearly the same cost; the seed then applies three distance- and
structure-preserving transforms on top:

- the fact tables' row order (orders, lineitem) is permuted;
- ``embeddings`` is multiplied by a random orthogonal matrix, which keeps
  every norm and pairwise distance;
- every word of ``documents`` gets a seed-derived suffix, which keeps
  word counts, exact duplicates and near-duplicates.

``write_staging`` writes the micro-batches the ingest workload streams.
Nothing here reads any file: the same arguments give byte-identical
output, and only ``out_dir`` is written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20_240_101
DIM = 64

WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("cold", "small", "large", "hot", "new", "old", "red", "blue")
PART_NOUN = ("widget", "bolt", "gear", "gizmo", "anvil", "plate", "ring", "rod")
PART_TYPES = ("ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

STAGING_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)

_US_PER_DAY = 86_400_000_000


def word_suffix(seed: int) -> str:
    """Base-26 letters of ``seed``: 0 -> 'a', 25 -> 'z', 26 -> 'ba'."""
    out, v = "", seed
    while True:
        out = chr(ord("a") + v % 26) + out
        v //= 26
        if v == 0:
            return out


def rotation(seed: int, dim: int = DIM) -> np.ndarray:
    """A random orthogonal ``dim`` x ``dim`` matrix drawn from ``seed``."""
    q, r = np.linalg.qr(np.random.default_rng(seed).standard_normal((dim, dim)))
    return q * np.sign(np.diag(r))


def _ts_us(start: str, offset_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offset_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int, suffix: str) -> list[str]:
    """Bags of words with the fixture's duplicate structure: ~5% of docs
    copy an earlier doc and append ' dup', ~0.5% copy one verbatim."""
    lens = rng.integers(10, 100, n)
    texts: list[str] = []
    for i in range(n):
        kind = rng.random()
        if i > 10 and kind < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup" + suffix)
        elif i > 10 and kind < 0.055:
            texts.append(texts[rng.integers(0, i)])
        else:
            idx = rng.integers(0, len(WORDS), lens[i])
            texts.append(" ".join(WORDS[j] + suffix for j in idx))
    return texts


def _unit_vectors(rng, n: int) -> np.ndarray:
    x = rng.standard_normal((n, DIM))
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _vectors(x: np.ndarray) -> pa.Array:
    flat = pa.array(x.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def base_tables(n: dict[str, int], seed: int) -> dict[str, pa.Table]:
    """Every table, drawn from BASE_SEED and transformed by ``seed``;
    ``n`` gives the rows of every table but the fixed region and nation."""
    rng = np.random.default_rng(BASE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (npart, 2))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": [
                round(900 + (i % 1000) / 10, 1) for i in range(npart)
            ],
        }
    )
    no, nl = n["orders"], n["lineitem"]
    order_days = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _ts_us("1995-01-01", order_days * _US_PER_DAY),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts_us(
                "1995-01-02", rng.integers(0, 2498, nl) * _US_PER_DAY
            ),
        }
    )
    ne = n["events"]
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": _ts_us("2024-01-01", ev_us),
            "user_id": pa.array(rng.integers(0, max(1, ne // 67), ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = _texts(rng, nd, word_suffix(seed))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vecs = _unit_vectors(rng, nv) @ rotation(seed)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": _vectors(vecs),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    perm = np.random.default_rng(seed)
    for name in ("orders", "lineitem"):
        t[name] = t[name].take(perm.permutation(t[name].num_rows))
    return t


def generate(
    out_dir: str,
    seed: int,
    sizes: dict[str, int],
    directory_tables: tuple[str, ...] = (),
) -> dict[str, int]:
    """Write every table under ``out_dir`` as ``<name>.parquet``; tables
    named in ``directory_tables`` are written as a directory holding one
    part file (the append-only shape the ingest stream requires).
    Returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in base_tables(sizes, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in directory_tables:
            os.makedirs(path, exist_ok=True)
            path = os.path.join(path, "part-00000.parquet")
        pq.write_table(table, path)
        rows[name] = table.num_rows
    return rows


def write_staging(
    staging_dir: str,
    seed: int,
    stream: int,
    n_batches: int,
    rows_per_batch: int,
    start_id: int,
) -> None:
    """Write the ``stream``-th set of ingest micro-batches: fixture-shaped
    documents + embeddings rows with ids contiguous from ``start_id``,
    one parquet file per batch."""
    rng = np.random.default_rng([seed, stream])
    os.makedirs(staging_dir, exist_ok=True)
    n = n_batches * rows_per_batch
    texts = _texts(rng, n, word_suffix(seed))
    vecs = _unit_vectors(rng, n) @ rotation(seed)
    langs = rng.choice(5, n, p=LANG_P)
    labels = rng.integers(0, 10, n)
    for b in range(n_batches):
        sl = slice(b * rows_per_batch, (b + 1) * rows_per_batch)
        ids = np.arange(start_id + sl.start, start_id + sl.stop)
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": texts[sl],
                "lang": [LANGS[i] for i in langs[sl]],
                "source": [f"src{i % 20}" for i in ids],
                "n_chars": pa.array([len(s) for s in texts[sl]], pa.int64()),
                "embedding": _vectors(vecs[sl]),
                "label": pa.array(labels[sl], pa.int32()),
            },
            schema=STAGING_SCHEMA,
        )
        path = os.path.join(staging_dir, f"batch-{b:05d}.parquet")
        pq.write_table(table, path)
