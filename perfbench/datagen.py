"""Seeded synthetic inputs for the benchmark.

Everything the program receives is generated here from the run's seed:
the star-schema parquet tables (the harness layout the operators read:
region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), the CSV slices the HTTP session uploads, and the
micro-batches the streaming stores ingest.  The same (seed, scale) gives
byte-identical files.

Row counts follow the harness tables at scale factor ``sf``: lineitem
6,000,000·sf, orders 1,500,000·sf, customer 150,000·sf, part
200,000·sf, supplier 10,000·sf, events 1,000,000·sf, documents 50,000·sf
and embeddings 20,000·sf.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "small", "large", "black", "white", "steel"]
NOUNS = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query stream "
    "filter big vector group"
).split()

_EPOCH = dt.datetime(1970, 1, 1)
_ORDER_START = (dt.datetime(1995, 1, 1) - _EPOCH).days
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
_EVENT_START_US = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000

# Arrow writes are deterministic for a fixed table, writer version and
# these options; statistics and dictionary pages stay on (Spark and
# DuckDB both read them).
_PARQUET_OPTS = {"compression": "snappy", "use_dictionary": True}


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents; about one in eight is a near-duplicate of an
    earlier document (a few words replaced) and one in 500 an exact
    copy, so the dedup operators find real pairs."""
    vocab = np.array(WORDS)
    out: list[str] = []
    lengths = rng.integers(8, 100, n)
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < 0.002:
            out.append(out[int(rng.integers(0, i))])
        elif i > 10 and kind[i] < 0.125:
            words = out[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
            out.append(" ".join(words))
        else:
            out.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    return out


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{COLORS[c]} {NOUNS[w]}"
                for c, w in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    order_days = _ORDER_START + rng.integers(0, _ORDER_DAYS + 1, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days_to_ts(order_days),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    l_order = np.sort(rng.integers(0, n_ord, n_li)).astype("int64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days_to_ts(order_days[l_order] + rng.integers(1, 122, n_li)),
        }
    )
    gaps = rng.integers(1, 2 * 2_592_000_000_000 // max(n_ev, 1), n_ev)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pa.array(_EVENT_START_US + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev).astype("int64"),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _texts(rng, n_doc)
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[
                rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])
            ],
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype("int32"),
        }
    )
    return t


CITIES = ["Mumbai", "Delhi", "Bangalore", "Chennai", "Kolkata", "Hyderabad",
          "Pune", "Ahmedabad", "Jaipur", "Surat", "Lucknow", "Nagpur"]
SERVICES = ["Internet", "Phone", "TV", "Cloud", "Email"]


def incidents(seed: int, rows: int) -> pa.Table:
    """The reference's canonical upload (an incident log: city, service,
    date, severity).  Dates cover May to July 2024 at day granularity,
    so larger uploads hold duplicate rows and "show all data" collapses
    them."""
    rng = np.random.default_rng([seed, 2, rows])
    start = (dt.datetime(2024, 5, 1) - _EPOCH).days
    return pa.table(
        {
            "City": np.array(CITIES)[rng.integers(0, len(CITIES), rows)],
            "Service": np.array(SERVICES)[rng.integers(0, len(SERVICES), rows)],
            "incident_date": _days_to_ts(start + rng.integers(0, 92, rows)),
            "severity": rng.integers(1, 6, rows).astype("int32"),
        }
    )


def write_csv(table: pa.Table, path: str) -> int:
    """Write ``table`` as a CSV file with a header line; returns its size."""
    import pyarrow.csv as pacsv

    pacsv.write_csv(table, path, pacsv.WriteOptions(include_header=True, quoting_style="none"))
    return os.path.getsize(path)


def write_star(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the
    bytes written per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in star_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, **_PARQUET_OPTS)
        sizes[name] = os.path.getsize(path)
    return sizes
