"""Seeded fixtures for the benchmark.

Two layers, so that a seed change costs seconds, not a rebuild:

* The **base** fixture is the testdata star schema (TESTDATA.md; TPC-H-ish
  ``region nation customer supplier part orders lineitem`` plus the
  ``events``, ``documents`` and ``embeddings`` tables) generated with
  NumPy from a fixed internal seed, at a scale factor.  It matches the
  testdata's column names, Arrow types and value shapes (a 30-word text
  vocabulary, ≤4 dp money doubles, µs timestamps), so every declared
  query and its DuckDB oracle twin run on it unchanged.  It does not
  depend on ``--seed``: the oracle results computed over it are reused
  by every seed.
* The **seeded variant** applies a seeded row-order permutation to the
  base tables a workload reads, and for the ETL steps writes a dirty
  ``orders`` CSV extract
  (nulls, duplicated rows, malformed numbers at seeded positions) and a
  streaming append batch (seeded sample of orders under fresh keys).
  Query definitions never see the seed; only the bytes they read do.

Everything is written under the cache directory, keyed by the scale,
the seed and a digest of this file, so repeated runs skip generation.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

BASE_SEED = 20240101
VOCAB = (
    "a the data spark stream batch part line column order small sort fast "
    "value scan hash slow group agg filter query big key window row table "
    "merge vector join customer"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "spring"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# rows per unit scale factor (sf1 = 6M lineitem, the testdata's ratio)
PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "events": 1_000_000, "users": 15_000,
    "documents": 50_000, "embeddings": 20_000,
}
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# ETL extract: the dirty orders CSV and the stream batch
ORDERS_CSV_COLUMNS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]
DIRTY_NULL_SHARE = 0.02
DIRTY_DUP_SHARE = 0.01
DIRTY_BAD_NUMBER_SHARE = 0.01
STREAM_BATCH_SHARE = 0.05


def _code_digest() -> str:
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]


def _n(kind: str, sf: float) -> int:
    return max(1, int(round(PER_SF[kind] * sf)))


def _money(rng, lo, hi, n):
    """≤2 dp doubles: exact in DECIMAL(18,4), as the oracle sums need."""
    return np.round(rng.uniform(lo, hi, n), 2)


def _strings(fmt: str, ids) -> pa.Array:
    return pa.array([fmt % i for i in ids], pa.string())


def _texts(rng, n_docs: int) -> list[str]:
    lengths = rng.integers(8, 100, n_docs)
    toks = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(vocab[toks[pos:pos + ln]]))
        pos += ln
    # planted near-duplicates (3%: copy, then rewrite ~10% of tokens) and
    # exact duplicates (0.2%), so the dedup steps have real work and real
    # output at every scale
    for i in rng.choice(n_docs, max(1, n_docs * 3 // 100), replace=False):
        src = out[int(rng.integers(0, n_docs))].split()
        for j in rng.choice(len(src), max(1, len(src) // 10), replace=False):
            src[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        out[i] = " ".join(src)
    for i in rng.choice(n_docs, max(1, n_docs // 500), replace=False):
        out[i] = out[int(rng.integers(0, n_docs))]
    return out


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The base star schema at scale factor ``sf`` (fixed seed)."""
    rng = np.random.default_rng(BASE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = _n("customer", sf)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _strings("Customer#%09d", range(nc)),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    ns = _n("supplier", sf)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _strings("Supplier#%09d", range(ns)),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    np_ = _n("part", sf)
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), np_)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, np_)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, len(P_TYPES), np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
    })
    no = _n("orders", sf)
    odays = rng.integers(0, ORDER_DAYS + 1, no)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(EPOCH_1995 + odays * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    })
    # 1..7 lines per order, 2% of orders without lines (≈4 lines/order)
    per = np.where(rng.random(no) < 0.02, 0, rng.integers(1, 8, no))
    okey = np.repeat(np.arange(no), per)
    nl = len(okey)
    starts = np.repeat(np.cumsum(per) - per, per)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(
            EPOCH_1995 + (odays[okey] + rng.integers(1, 96, nl)) * DAY_US, pa.timestamp("us")
        ),
    })
    ne, nu = _n("events", sf), _n("users", sf)
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, nu, ne), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = _n("documents", sf)
    texts = _texts(rng, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, nd, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    nv = _n("embeddings", sf)
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _write_atomic(out: Path, fill) -> Path:
    """Build a directory under a temporary name, then rename it into
    place, so an interrupted build never leaves a half fixture behind."""
    if out.is_dir():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    fill(tmp)
    try:
        tmp.rename(out)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def base_dir(cache: Path, sf: float) -> Path:
    """Base fixture for ``sf``; generated on first use."""
    def fill(d: Path) -> None:
        for name, tbl in base_tables(sf).items():
            pq.write_table(tbl, d / f"{name}.parquet")
    return _write_atomic(cache / f"base-sf{sf:g}-{_code_digest()}", fill)


def _dirty_orders_csv(orders: pa.Table, rng, path: Path) -> dict:
    """The orders extract as a dirty CSV: the reference's dirty-data
    kinds (nulls, verbatim duplicate rows, malformed numbers) at seeded
    positions.  Returns the counts planted."""
    n = orders.num_rows
    cols = {c: orders.column(c).to_pylist() for c in ORDERS_CSV_COLUMNS}
    for key in ("o_orderkey", "o_custkey"):
        cols[key] = [str(k) for k in cols[key]]
    cols["o_orderdate"] = [d.strftime("%Y-%m-%d") for d in cols["o_orderdate"]]
    price = [f"{p:.2f}" for p in cols["o_totalprice"]]
    null_rows = rng.choice(n, int(n * DIRTY_NULL_SHARE), replace=False)
    for i, which in zip(null_rows, rng.integers(0, 3, len(null_rows))):
        if which == 0:
            cols["o_orderpriority"][i] = None
        elif which == 1:
            cols["o_orderstatus"][i] = None
        else:
            price[i] = None
    bad_rows = rng.choice(n, int(n * DIRTY_BAD_NUMBER_SHARE), replace=False)
    for i, which in zip(bad_rows, rng.integers(0, 2, len(bad_rows))):
        price[i] = f"{cols['o_totalprice'][i]:.2f}".replace(".", ",") if which else "n/a"
    cols["o_totalprice"] = price
    dup_rows = np.sort(rng.choice(n, int(n * DIRTY_DUP_SHARE), replace=False))
    order = np.concatenate([np.arange(n), dup_rows])
    order = order[rng.permutation(len(order))]
    tbl = pa.table({c: pa.array(v, pa.string()) for c, v in cols.items()}).take(order)
    pacsv.write_csv(tbl, path, pacsv.WriteOptions(quoting_style="needed"))
    return {"rows": len(order), "nulls": len(null_rows), "bad_numbers": len(bad_rows),
            "duplicates": len(dup_rows)}


def _stream_batch(orders: pa.Table, rng, path: Path) -> int:
    """A seeded sample of orders re-keyed past the table's key range:
    the new orders one micro-batch appends."""
    n = orders.num_rows
    take = np.sort(rng.choice(n, max(1, int(n * STREAM_BATCH_SHARE)), replace=False))
    batch = orders.take(take)
    batch = batch.set_column(0, "o_orderkey", pa.array(np.arange(len(take)) + n, pa.int64()))
    path.mkdir()
    pq.write_table(batch, path / "part-0.parquet")
    return len(take)


def seeded_dir(cache: Path, sf: float, seed: int, tables: list[str], extract: bool,
               tag: str, keep: int = 4) -> Path:
    """``tables`` of the base fixture at ``sf`` in a seeded row order,
    plus, with ``extract``, the dirty orders CSV and the stream batch.
    Keeps the ``keep`` most recently used seeded dirs of ``tag``."""
    base = base_dir(cache, sf)
    out = cache / f"seed{seed}-{tag}-sf{sf:g}-{_code_digest()}"

    def fill(d: Path) -> None:
        rng = np.random.default_rng(seed)
        for name in sorted(tables):
            tbl = pq.read_table(base / f"{name}.parquet")
            pq.write_table(tbl.take(rng.permutation(tbl.num_rows)), d / f"{name}.parquet")
        dirty = {}
        if extract:
            orders = pq.read_table(base / "orders.parquet")
            (d / "extract").mkdir()
            dirty = _dirty_orders_csv(orders, rng, d / "extract" / "orders.csv")
            dirty["stream_rows"] = _stream_batch(orders, rng, d / "extract" / "orders_stream")
        (d / "extract.json").write_text(json.dumps(dirty))

    _write_atomic(out, fill)
    os.utime(out)
    seeds = sorted(cache.glob(f"seed*-{tag}-sf*"), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in seeds[keep:]:
        if ".tmp" not in old.name:
            shutil.rmtree(old, ignore_errors=True)
    return out
