"""Seeded input generator for the benchmark.

Writes the engine's ten source tables (the star schema in
``poc_juma_etl_spark.catalog.SCHEMAS``) as one parquet file each. The content
is synthesized with the value domains of the engine's test fixtures (TPC-H-ish
keys and categories, a 30-day event stream, short English-like documents,
64-dim embeddings) and is replicated ``REPLICAS`` times with disjoint,
FK-consistent key ranges, the scheme ``tools/make_soak_data.py`` uses.

Content never depends on the seed, so every seed measures the same work. The
seed sets only the row order of each file (and, elsewhere, the refresh
schedule and the query order). Output is cached per seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPLICAS = 3
CONTENT_SEED = 42

# rows of ONE replica; the generated tables hold REPLICAS times as many
# (region and nation are replicated too, exactly like the soak generator)
BASE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_000,
    "supplier": 100,
    "part": 1_000,
    "orders": 10_000,
    "events": 8_000,
    "documents": 300,
    "embeddings": 300,
}
LINES_PER_ORDER = (1, 7)  # inclusive range of lineitems per order
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

ORDER_START = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_START).days
SHIP_START = dt.date(1995, 1, 2)
SHIP_DAYS = (dt.date(2001, 11, 4) - SHIP_START).days
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SECONDS = 30 * 86_400

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _epoch_us(d: dt.date | dt.datetime) -> int:
    if not isinstance(d, dt.datetime):
        d = dt.datetime(d.year, d.month, d.day)
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal prices, as the fixtures store them."""
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _replica(rng: np.random.Generator) -> dict[str, dict[str, object]]:
    """One replica's columns, keys starting at 0."""
    n = BASE_ROWS
    out: dict[str, dict[str, object]] = {}
    out["region"] = {
        "r_regionkey": np.arange(n["region"], dtype="int32"),
        "r_name": REGIONS,
    }
    out["nation"] = {
        "n_nationkey": np.arange(n["nation"], dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(n["nation"])],
        "n_regionkey": (np.arange(n["nation"]) % n["region"]).astype("int32"),
    }
    nc = n["customer"]
    out["customer"] = {
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, n["nation"], nc).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), nc)],
    }
    ns = n["supplier"]
    out["supplier"] = {
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, n["nation"], ns).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }
    npart = n["part"]
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    out["part"] = {
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), npart)],
        "p_size": rng.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    }
    no = n["orders"]
    out["orders"] = {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _epoch_us(ORDER_START) + rng.integers(0, ORDER_DAYS + 1, no) * 86_400_000_000,
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, len(PRIORITIES), no)],
    }
    lines = rng.integers(LINES_PER_ORDER[0], LINES_PER_ORDER[1] + 1, no)
    nl = int(lines.sum())
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = {
        "l_orderkey": np.repeat(np.arange(no, dtype="int64"), lines),
        "l_partkey": rng.integers(0, npart, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _epoch_us(SHIP_START) + rng.integers(0, SHIP_DAYS + 1, nl) * 86_400_000_000,
    }
    ne = n["events"]
    users = max(nc // 10, 1)
    out["events"] = {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _epoch_us(EVENT_START) + np.sort(rng.integers(0, EVENT_SECONDS * 1_000_000, ne)),
        "user_id": rng.integers(0, users, ne).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), ne)],
        "value": _money(rng, 0.01, 500.0, ne),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i % 20 == 19:  # every 20th doc is a near-duplicate of its predecessor
            words = texts[-1].split()
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 90))]
        texts.append(" ".join(words))
    out["documents"] = {
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), nd, p=[0.15, 0.6, 0.15, 0.1])],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": vecs.astype("float32"),
        "label": labels.astype("int32"),
    }
    return out


# key column -> table whose one-replica row count is the per-replica offset
KEY_SPANS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "region"},
    "nation": {"n_nationkey": "nation", "n_regionkey": "region"},
    "customer": {"c_custkey": "customer", "c_nationkey": "nation"},
    "supplier": {"s_suppkey": "supplier", "s_nationkey": "nation"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "users"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}


def _to_arrow(cols: dict[str, object]) -> pa.Table:
    arrays = {}
    for col, v in cols.items():
        if col in ("o_orderdate", "l_shipdate", "ts"):
            arrays[col] = _ts(np.asarray(v))
        elif col == "embedding":
            flat = pa.array(np.asarray(v).reshape(-1), type=pa.float32())
            arrays[col] = pa.ListArray.from_arrays(
                pa.array(np.arange(0, len(flat) + 1, EMBED_DIM, dtype="int32")), flat
            )
        else:
            arrays[col] = pa.array(v)
    return pa.table(arrays)


def build_tables() -> dict[str, pa.Table]:
    """All tables, REPLICAS replicas concatenated, in canonical row order."""
    rng = np.random.default_rng(CONTENT_SEED)
    spans = dict(BASE_ROWS)
    spans["users"] = max(BASE_ROWS["customer"] // 10, 1)
    parts: dict[str, list[pa.Table]] = {t: [] for t in TABLES}
    for r in range(REPLICAS):
        rep = _replica(rng)
        for name in TABLES:
            cols = dict(rep[name])
            for col, span_of in KEY_SPANS[name].items():
                arr = np.asarray(cols[col])
                cols[col] = arr + np.asarray(r * spans[span_of], dtype=arr.dtype)
            parts[name].append(_to_arrow(cols))
    return {name: pa.concat_tables(ts) for name, ts in parts.items()}


def generate(out_dir: Path, seed: int) -> dict[str, dict[str, int]]:
    """Write every table as ``<out_dir>/<name>.parquet`` with a seed-permuted
    row order; reuse a complete earlier output for the same seed. Returns
    {table: {"rows": n, "bytes": file size}}."""
    manifest = out_dir / "manifest.json"
    if manifest.exists():
        return json.loads(manifest.read_text())
    tmp = out_dir.with_name(out_dir.name + ".tmp")
    tmp.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    sizes: dict[str, dict[str, int]] = {}
    for name, table in build_tables().items():
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        path = tmp / f"{name}.parquet"
        pq.write_table(table, path)
        sizes[name] = {"rows": table.num_rows, "bytes": path.stat().st_size}
    (tmp / "manifest.json").write_text(json.dumps(sizes, indent=1, sort_keys=True))
    os.replace(tmp, out_dir)
    return sizes
