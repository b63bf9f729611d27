"""Synthetic tables for the benchmark, generated from one fixed seed.

Writes the ten tables the engine's registry reads (``io.TABLES``) as one
parquet file each. Schemas, row counts, value ranges and the documents
corpus follow the reference fixture tables (TESTDATA.md), as measured on
their sf0.001, sf0.01 and sf0.1 copies:

* rows scale linearly with ``sf`` (sf 1 = 6M lineitem rows), except
  ``documents`` and ``embeddings``, which never drop below 500 rows
  (500 and 500 at sf0.01; 5,000 and 2,000 at sf0.1);
* TPC-H-shaped dimensions and facts with the reference key ranges, and a
  month of ``events`` from 150 users per sf0.01 with ``{"k": n}`` props;
* ``documents``: lengths uniform over 10..100 words drawn from the same
  30-word vocabulary; 5 % of rows are near-duplicates (another row's text
  plus " dup": 25 of 500, 250 of 5,000) and 0.16 % exact copies (0 of 500,
  8 of 5,000);
* unit-norm 64-d ``embeddings`` with labels 0..9.

The tables do not depend on the run's ``--seed``, which only orders the
queries, so runs with different seeds measure the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (["en"] * 41 + ["de"] * 14 + ["es"] * 15 + ["fr"] * 15 + ["zh"] * 15)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)


#: every table comes from this seed
DATA_SEED = 42


def _rows(sf: float, per_sf1: int, floor: int = 1) -> int:
    return max(floor, int(round(per_sf1 * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    flat = rng.integers(0, len(WORDS), int(lengths.sum()))
    vocab = np.array(WORDS, dtype=object)
    ends = np.cumsum(lengths)
    texts = [" ".join(vocab[flat[e - k:e]]) for e, k in zip(ends, lengths)]
    n_near, n_exact = n * 5 // 100, n * 16 // 10_000
    copies = rng.choice(n, n_near + n_exact, replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for k, i in enumerate(copies):
        src = texts[rng.choice(originals)]
        texts[i] = src + " dup" if k < n_near else src
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32)),
        pa.array(vec.ravel(), pa.float32()),
    )
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(sf: float) -> dict[str, pa.Table]:
    """Every table as an Arrow table at ``sf``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = _rows(sf, 150_000), _rows(sf, 10_000)
    n_part, n_ord = _rows(sf, 200_000), _rows(sf, 1_500_000)
    n_line, n_ev = _rows(sf, 6_000_000), _rows(sf, 1_000_000)
    n_doc, n_emb = _rows(sf, 50_000, 500), _rows(sf, 20_000, 500)
    n_user = _rows(sf, 15_000)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part_keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": part_keys,
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (part_keys % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(
            _EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US
        ),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    flags = rng.integers(0, 6, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": pa.array(np.array(list("AANNRR"))[flags]),
        "l_linestatus": pa.array(np.array(list("FOFOFO"))[flags]),
        "l_shipdate": _ts(
            _EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _DAY_US
        ),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _EPOCH_2024
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_us),
        "user_id": rng.integers(0, n_user, n_ev, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
        ),
    })
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_emb)
    return out


def write(out_dir: str, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet`` (one row group
    each, like the reference fixtures); returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    return rows
