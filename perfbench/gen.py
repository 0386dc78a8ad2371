"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (``region nation customer supplier
part orders lineitem events documents embeddings``, one parquet file
each) at a scale factor, with the row counts, key ranges, value domains
and physical types of the engine's reference sf corpora:

- TPC-H-ish star: keys dense from 0, foreign keys uniform, dates and
  timestamps as ``timestamp[us]`` without a zone (midnight values);
- ``events``: one month of microsecond timestamps in event-id order;
- ``documents``: 10-100 tokens from a 30-word vocabulary, 5% of them
  near-duplicates (another document's text plus one ``dup`` token);
- ``embeddings``: 64-d unit ``float32`` vectors with a 10-class label.

The same (seed, sf) gives byte-identical files. numpy + pyarrow only,
no Spark, so generation is cheap and not part of any Spark timing.

Usage: ``python3 perfbench/gen.py <out_dir> <sf> <seed>``
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EMB_DIM = 64


def _days(base: str, offsets: np.ndarray) -> pa.Array:
    ts = np.datetime64(base, "us") + offsets.astype("timedelta64[D]")
    return pa.array(ts.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    toks = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [
        " ".join(_VOCAB[t] for t in toks[bounds[i]:bounds[i + 1]])
        for i in range(n)
    ]
    n_dup = n // 20
    dup_ids = rng.choice(n, n_dup, replace=False)
    is_dup = np.zeros(n, bool)
    is_dup[dup_ids] = True
    originals = np.flatnonzero(~is_dup)
    for d, src in zip(dup_ids, rng.choice(originals, n_dup)):
        words = texts[src].split()
        words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        texts[d] = " ".join(words)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, _EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * _EMB_DIM, _EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every input table at scale factor ``sf`` from ``seed``."""
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_li)),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    out["documents"] = _documents(rng, max(1, int(50_000 * sf)))
    out["embeddings"] = _embeddings(rng, max(1, int(20_000 * sf)))
    return out


def table_stats(sf_dir: str) -> dict[str, dict[str, int]]:
    """Rows and uncompressed bytes (parquet footers) per input table."""
    stats = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        parts = (
            [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
            if os.path.isdir(path) else [path]
        )
        rows = nbytes = 0
        for part in parts:
            md = pq.ParquetFile(part).metadata
            rows += md.num_rows
            nbytes += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
        stats[name] = {"rows": rows, "uncompressed_bytes": nbytes}
    return stats


def generate(out_dir: str, sf: float, seed: int) -> str:
    """Write every table under ``out_dir`` unless a previous call already
    did; return ``out_dir``. Tables are written to a temporary sibling
    that is renamed into place, so a reader never sees a partial set."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, out_dir)
    except OSError:  # another process renamed its copy first
        shutil.rmtree(tmp)
    return out_dir


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
