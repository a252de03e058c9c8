"""Seeded generator for the catalog's input tables.

Writes the ten tables the catalog reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
parquet file each, with the column names, physical types and value
distributions of the synthetic TPC-H-like test data the catalog's
DuckDB oracles were written against. ``scale`` plays the role of the
TPC-H scale factor: lineitem has ``6_000_000 * scale`` rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data spark query table row column key value join hash sort "
    "merge filter group agg scan batch stream window order line part "
    "customer vector big small fast slow"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))
DUP_SHARE = 0.05
EMBED_DIM = 64
N_LABELS = 10
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    words = np.asarray(WORDS, dtype=object)
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            # near-duplicate: an earlier document plus a marker word
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(8, 95))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    langs, p = zip(*LANGS)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, langs, n, np.asarray(p) / sum(p)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    v = centers[labels] * 0.15 + rng.normal(0, 1, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_evt = max(1_000, int(1_000_000 * scale))
    n_user = max(15, int(15_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))
    i32, i64 = np.int32, np.int64

    def ids(n):
        return pa.array(np.arange(n, dtype=i64))

    def names(prefix, n):
        return pa.array([f"{prefix}#{i:09d}" for i in range(n)])

    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=i32)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=i32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(i32)),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": ids(n_cust),
                "c_name": names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(
                    rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": ids(n_supp),
                "s_name": names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": ids(n_part),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            np.asarray("small red blue hot old large green cold".split())[
                                rng.integers(0, 8, n_part)
                            ],
                            np.asarray("ring widget bolt gear plate rod nut pipe".split())[
                                rng.integers(0, 8, n_part)
                            ],
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
                "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": ids(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(i64)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
                "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
                "o_orderpriority": _pick(
                    rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(i64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(i64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(i64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US),
            }
        ),
        "events": pa.table(
            {
                "event_id": ids(n_evt),
                "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_evt))),
                "user_id": pa.array(rng.integers(0, n_user, n_evt).astype(i64)),
                "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_evt),
                "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_evt), 2))),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_vec),
    }
    return out


def write_tables(seed: int, scale: float, out_dir: str) -> str:
    """Write every table once per (seed, scale); a finished directory
    is reused. Returns ``out_dir``."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir
