"""Seeded TPC-H-ish fixture tables for the benchmark.

Same ten tables, column names, types and value ranges as the star schema
the catalog and its DuckDB oracles are written against (FIXTURES.md §2),
generated from ``seed`` so the benchmark owns its inputs: the same seed and
scale give byte-identical parquet files. Row counts scale linearly with
``sf`` (lineitem is 6,000,000 × sf rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "de", "es", "fr"])
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
_ADJ = "large hot blue old cold small red new".split()
_NOUN = "ring bolt plate gear nut pipe wire box".split()


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_WORDS), int(lengths.sum()))
    vocab = np.array(_WORDS)
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln
    # one document in twenty is a near-duplicate of an earlier one
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def generate(
    seed: int, sf: float, names: "tuple[str, ...]" = tuple(TABLES)
) -> dict[str, pa.Table]:
    """The named tables as pyarrow tables, deterministic in (seed, sf).
    Each table draws from its own stream, so a subset is identical to the
    same tables of a full generation."""
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    i32 = pa.int32()
    makers = {
        "region": lambda rng: pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": lambda rng: pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": lambda rng: pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"],
                    n_cust,
                ),
            }
        ),
        "supplier": lambda rng: pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": lambda rng: pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"],
                    n_part,
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": lambda rng: pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord)),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                ),
            }
        ),
        "lineitem": lambda rng: pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["O", "F"], n_li),
                "l_shipdate": _ts(_EPOCH_1995 + 1 + rng.integers(0, 2499, n_li)),
            }
        ),
        "events": lambda rng: pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": pa.array(
                    1_704_067_200_000_000
                    + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)),
                    pa.timestamp("us"),
                ),
                "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
                "event_type": rng.choice(
                    ["signup", "click", "error", "view", "purchase"], n_ev
                ),
                "value": _money(rng, 0.0, 560.0, n_ev),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": lambda rng: _documents(rng, max(1, int(50_000 * sf))),
        "embeddings": lambda rng: _embeddings(rng, max(1, int(20_000 * sf))),
    }
    return {
        n: makers[n](np.random.default_rng([seed, TABLES.index(n)]))
        for n in names
    }


def write(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One ``<name>.parquet`` per table under ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
