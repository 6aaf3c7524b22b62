"""Seeded generator for the engine's ten registry tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one Parquet file each under ``out_dir``, with
the column names, physical types and value domains of the TPC-H-ish
star schema the registered queries read (``sources/readers.py``
``TESTDATA_TABLES``). Row counts follow the scale factor ``sf``
(lineitem ~ 6M x sf). Documents carry a planted near-duplicate tail
(5% are another document plus one token, 0.2% verbatim copies) so the
dedup chains have work to do; embeddings are random unit vectors.

The same ``(sf, seed)`` gives byte-identical files.

Usage: python3 perfbench/gen_tables.py OUT_DIR SF SEED
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["bolt", "plate", "rod", "anvil", "ring", "gear", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMB_DIM = 64


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - lo_d).astype(int) + 1
    return (lo_d + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ids(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.asarray(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # planted duplicate tail: near copies (one appended token) and
    # verbatim copies of other documents
    roles = rng.random(n)
    for i in np.flatnonzero(roles < 0.052):
        src = int(rng.integers(0, n))
        if src != i and roles[src] >= 0.052:
            texts[i] = texts[src] + (" dup" if roles[i] < 0.05 else "")
    return pa.table(
        {
            "doc_id": _ids(n),
            "text": texts,
            "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM)
    return pa.table(
        {
            "vec_id": _ids(n),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def build(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table as an Arrow table, drawn from one seeded stream."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": _ids(n_cust),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -1000, 10000, n_cust),
            "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": _ids(n_supp),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -1000, 10000, n_supp),
        }
    )
    adj = np.asarray(PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.asarray(PART_NOUN)[rng.integers(0, 8, n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": _ids(n_part),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": np.asarray(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900 + (np.arange(n_part) % 1000) / 10,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": _ids(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.asarray(["F", "O", "P"])[
                rng.integers(0, 3, n_ord)
            ],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.asarray(PRIORITIES)[
                rng.integers(0, 5, n_ord)
            ],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": np.asarray(["A", "N", "R"])[
                rng.integers(0, 3, n_line)
            ],
            "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = pa.table(
        {
            "event_id": _ids(n_ev),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    out["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    return out


def write(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``{out_dir}/{table}.parquet``; returns row
    counts. Files are written under a temporary name and renamed, so a
    reader never sees a half-written table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".tmp", compression="snappy")
        os.replace(path + ".tmp", path)
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen_tables.py OUT_DIR SF SEED")
    print(write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
