"""Seeded input generators for the benchmark.

Everything the program reads is made here from ``--seed``; the
program's own generators are never used. The same seed gives the same
bytes.

* :func:`write_tables` writes the ten catalog tables with the schemas
  and value domains the catalog queries expect (FIXTURES.md).
* :func:`write_delivery_source` writes the bank-account JSON-lines
  source of the delivery workload and returns the per-sink counts a
  correct run must produce.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table. The catalog queries are overhead-bound at
# these sizes; the counts keep every table non-trivial (near-duplicate
# documents, several events per user per hour) while one pass fits the
# benchmark's time budget.
TABLE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 4000,
    "documents": 150,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EPOCH_2024 = dt.datetime(2024, 1, 1)


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(start + micros.astype(np.int64), pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    return rng.integers(0, span, n).astype(np.int64) * 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary; about 5% are
    near-duplicates of an earlier document (a few leading words cut,
    or a trailing ``dup``), so the dedup operators find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            cut = int(rng.integers(0, 3))
            words = words[cut:] + (["dup"] if cut == 0 or rng.random() < 0.5 else [])
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    x = 0.35 * centroids[labels] + rng.normal(0.0, 1.0, (n, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    gaps = rng.exponential(260e6, n).astype(np.int64) + 1  # ~4.3 min apart
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(_EPOCH_2024, np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    r = TABLE_ROWS
    n_cust, n_supp, n_part, n_ord, n_li = (
        r["customer"], r["supplier"], r["part"], r["orders"], r["lineitem"]
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(_REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), pa.string()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(rng.choice(names, n_part), pa.string()),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
                "p_type": pa.array(rng.choice(_PART_TYPES, n_part), pa.string()),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, pa.float64()),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), pa.float64()),
                "o_orderdate": _ts(_EPOCH_1995, _days(rng, n_ord, 2400)),
                "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), pa.string()),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li), pa.float64()),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), pa.string()),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), pa.string()),
                "l_shipdate": _ts(_EPOCH_1995, _days(rng, n_li, 2500)),
            }
        ),
        "events": _events(rng, r["events"]),
        "documents": _documents(rng, r["documents"]),
        "embeddings": _embeddings(rng, r["embeddings"]),
    }


def write_tables(seed: int, out_dir: str) -> str:
    """Write ``<table>.parquet`` (one file, one row group each) under
    ``out_dir``, the layout ``sources.tables.load_table`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# -- delivery source ------------------------------------------------------

# Planted transform outcomes, encoded in ``balance % 10`` so the
# black-box transform can read them from the record alone.
FATE_OK, FATE_DROP, FATE_FAIL = 0, 1, 2
DROP_RATE = 0.05
FAIL_RATE = 0.03


@dataclass(frozen=True)
class DeliveryExpectation:
    """Per-sink record counts a correct run of both streams produces."""

    n_input: int
    n_dropped: int
    n_failed: int

    @property
    def n_ok(self) -> int:
        return self.n_input - self.n_dropped - self.n_failed

    def sinks(self) -> dict[str, dict[str, int]]:
        """``{stream: {prefix: records}}`` for ``01-backup``,
        ``03-success``, ``04-failed`` and the document sink."""
        return {
            "to-s3": {
                "01-backup": self.n_input,
                "03-success": self.n_ok,
                "04-failed": self.n_failed,
                "documents": 0,
            },
            "to-oss": {
                "01-backup": self.n_input,
                "03-success": self.n_input,
                "04-failed": 0,
                "documents": self.n_input,
            },
        }


def make_bank_accounts(seed: int, n: int) -> tuple[list[dict], DeliveryExpectation]:
    """``n`` bank-account records (FIXTURES.md §1) with planted
    Dropped / ProcessingFailed fates, and the counts they imply."""
    rng = np.random.default_rng(seed)
    fate = rng.choice(
        [FATE_OK, FATE_DROP, FATE_FAIL], n, p=[1 - DROP_RATE - FAIL_RATE, DROP_RATE, FAIL_RATE]
    )
    ids = rng.integers(0, 2**63 - 1, (n, 2), dtype=np.int64)
    first = rng.integers(0, 97, n)
    last = rng.integers(0, 89, n)
    words = rng.choice(_WORDS, (n, 10))
    balance = rng.integers(0, 10_000, n) * 10 + fate
    records = [
        {
            "id": f"{ids[i, 0]:016x}-{ids[i, 1]:016x}",
            "firstname": f"First{first[i]}",
            "lastname": f"Last{last[i]}",
            "description": " ".join(words[i]),
            "balance": int(balance[i]),
        }
        for i in range(n)
    ]
    exp = DeliveryExpectation(
        n_input=n,
        n_dropped=int((fate == FATE_DROP).sum()),
        n_failed=int((fate == FATE_FAIL).sum()),
    )
    return records, exp


def write_delivery_source(
    seed: int, out_dir: str, n_files: int, records_per_file: int
) -> DeliveryExpectation:
    """Land ``n_files`` equal JSON-lines files (one put_records batch
    each) under ``out_dir`` and return the expected sink counts."""
    records, exp = make_bank_accounts(seed, n_files * records_per_file)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        chunk = records[f * records_per_file : (f + 1) * records_per_file]
        with open(os.path.join(out_dir, f"part-{f:05d}.json"), "w") as fh:
            fh.writelines(json.dumps(r, ensure_ascii=False) + "\n" for r in chunk)
    return exp
