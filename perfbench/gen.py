"""Seeded input generators. The program under test only ever sees the files
written here; the same seed always yields byte-identical inputs.

- ``location_table``: Location records in the reference schema
  (``schemas.LOCATION_SCHEMA``), ``user_id`` Zipf-skewed.
- ``write_corpus``: the ten ``schemas.TESTDATA_TABLES`` (TPC-H-ish star
  schema plus events, documents and embeddings) with the column types and
  marginals of the repository's sf test data, at any scale factor.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FEATURES = np.array(["gps", "wifi", "cell", "fused"])
SOURCES = np.array(["device", "phone", "watch"])
DAY_MS = 86_400_000
BASE_MS = 1_700_000_000_000  # 2023-11-14T22:13:20Z


class Users:
    """A fixed population of ``n`` user ids with Zipf(s) activity weights."""

    def __init__(self, n: int, s: float):
        self.ids = np.array([f"u{k:05d}" for k in range(n)])
        w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
        self.p = w / w.sum()

    def draw(self, rng: np.random.Generator, k: int) -> np.ndarray:
        return self.ids[rng.choice(len(self.ids), size=k, p=self.p)]


def _nullable(rng: np.random.Generator, values: np.ndarray, null_frac: float) -> pa.Array:
    return pa.array(values, mask=rng.random(len(values)) < null_frac)


def location_table(
    rng: np.random.Generator, users: Users, n: int, timestamps: np.ndarray
) -> pa.Table:
    """``n`` Location records (reference main.go:19-41) with the given
    epoch-ms ``timestamps``; optional fields are ~10% null."""
    n_feat = rng.integers(0, 3, n)
    offsets = np.concatenate([[0], np.cumsum(n_feat)]).astype(np.int32)
    features = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(FEATURES[rng.integers(0, len(FEATURES), offsets[-1])])
    )
    return pa.table(
        {
            "accuracy": _nullable(rng, rng.uniform(1, 50, n), 0.1),
            "altitude": _nullable(rng, rng.uniform(0, 800, n), 0.1),
            "altitudeAccuracy": _nullable(rng, rng.uniform(1, 30, n), 0.1),
            "course": _nullable(rng, rng.uniform(0, 360, n), 0.1),
            "features": features,
            "latitude": rng.uniform(-90, 90, n),
            "longitude": rng.uniform(-180, 180, n),
            "speed": _nullable(rng, rng.uniform(0, 40, n), 0.1),
            "source": pa.array(SOURCES[rng.integers(0, len(SOURCES), n)]),
            "timestamp": pa.array(timestamps, pa.int64()),
            "user_id": pa.array(users.draw(rng, n)),
        }
    )


def write_bulk_load(
    rng: np.random.Generator, users: Users, rows: int, files: int, out_dir: str
) -> pa.Table:
    """One bulk load: ``rows`` records in arrival (timestamp) order spanning
    one day, split over ``files`` snappy parquet files. Returns the table."""
    ts = BASE_MS + np.sort(rng.integers(0, DAY_MS, rows))
    table = location_table(rng, users, rows, ts)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(out_dir, f"part-{i:03d}.parquet"),
            compression="snappy",
        )
    return table


# --- query corpus -----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
ADJECTIVES = ["large", "hot", "blue", "red", "small", "green", "cold", "dim"]
NOUNS = ["ring", "bolt", "case", "disk", "gear", "pipe", "cone", "plug"]
VOCAB = np.array(
    "the a customer batch part spark line column order small sort fast value "
    "scan hash slow group agg filter query big key window row table stream "
    "merge data vector join index read write".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
DAY_US = 86_400_000_000


def _us(day: str) -> int:
    return int(np.datetime64(day).astype("datetime64[us]").astype(np.int64))


def write_corpus(rng: np.random.Generator, sf: float, out_dir: str) -> dict[str, int]:
    """Write the ten tables at scale factor ``sf`` (row counts scale
    linearly from sf0.1). Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    scale = sf / 0.1
    n_cust, n_supp, n_part = int(15_000 * scale), int(1_000 * scale), int(20_000 * scale)
    n_ord, n_li, n_ev = int(150_000 * scale), int(600_000 * scale), int(100_000 * scale)
    n_doc, n_emb, n_users = int(5_000 * scale), max(500, int(2_000 * scale)), int(1_500 * scale)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 2),
        }
    )
    lo, hi = _us("1995-01-01"), _us("2001-08-01")
    n_days = (hi - lo) // DAY_US + 1
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["P", "F", "O"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": pa.array(lo + rng.integers(0, n_days, n_ord) * DAY_US, pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    okey = np.sort(rng.integers(0, n_ord, n_li))
    first = np.concatenate([[True], okey[1:] != okey[:-1]])
    idx = np.arange(n_li)
    linenumber = idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(lo + rng.integers(0, n_days, n_li) * DAY_US, pa.timestamp("us")),
        }
    )
    ev_ts = np.sort(_us("2024-01-01") + rng.integers(0, 30 * DAY_US, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 101, n_doc)]
    for j in range(max(1, n_doc // 600)):  # a few exact duplicates
        texts[(j * 577 + 101) % n_doc] = texts[(j * 331) % n_doc]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": pa.array(LANGS[rng.choice(5, n_doc, p=LANG_P)]),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return {name: t.num_rows for name, t in tables.items()}
