"""Seeded input generator for the benchmark workloads.

Every table has the schema of the engine's fixture set (TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings``), one parquet file
per table, so the registered queries and their DuckDB oracles run on it
unchanged. The same seed gives byte-identical files: values come from one
``numpy`` PCG64 stream per table and the parquet writer settings are fixed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
PART_ADJ = ("red", "new", "hot", "small", "big", "old", "blue", "cold")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "widget", "gear", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EMB_DIM = 64

# 1995-01-01 .. 2001-08-01 in days since the epoch (orders / lineitem dates).
_DAY0, _DAYS = 9131, 2404
# 2024-01-01 .. 2024-01-31 in microseconds since the epoch (events.ts).
_TS0, _TS_SPAN = 1_704_067_200_000_000, 30 * 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per table, so table sizes do not shift others."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def orders_table(r: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n)),
            "o_orderdate": _days_to_ts(_DAY0 + r.integers(0, _DAYS, n)),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n)]),
        }
    )


def _docs(r: np.random.Generator, n: int, near_dup_share: float) -> pa.Table:
    """Documents over a 30-word vocabulary. A ``near_dup_share`` of them
    copy an earlier document and change one or two words (or append the
    fixture's ``dup`` marker), so the near-duplicate operators find real
    candidate pairs in a proportion the seed controls."""
    texts: list[str] = []
    is_dup = r.random(n) < near_dup_share
    for i in range(n):
        if i > 0 and is_dup[i]:
            words = texts[int(r.integers(0, i))].split()
            for _ in range(int(r.integers(0, 3))):
                words[int(r.integers(0, len(words)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            if r.random() < 0.5:
                words.append("dup")
            texts.append(" ".join(words))
        else:
            k = int(r.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[r.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(r: np.random.Generator, n: int, near_dup_share: float) -> pa.Table:
    """Unit vectors around ten label centres; a ``near_dup_share`` of them
    are a small perturbation of an earlier vector."""
    centres = r.normal(0.0, 1.0, (10, EMB_DIM))
    labels = r.integers(0, 10, n)
    vecs = centres[labels] * 0.35 + r.normal(0.0, 1.0, (n, EMB_DIM))
    dup = np.flatnonzero(r.random(n) < near_dup_share)
    dup = dup[dup > 0]
    src = (r.random(len(dup)) * dup).astype(np.int64)
    vecs[dup] = vecs[src] + r.normal(0.0, 0.01, (len(dup), EMB_DIM))
    labels[dup] = labels[src]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_tables(
    out_dir: str,
    seed: int,
    sf: float,
    n_docs: int,
    n_vecs: int,
    near_dup_share: float = 0.05,
) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))
    n_line = max(50, int(6_000_000 * sf))
    n_ev = max(50, int(1_000_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    r = _rng(seed, "customer")
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)]),
        }
    )
    r = _rng(seed, "supplier")
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
        }
    )
    r = _rng(seed, "part")
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in r.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n_part)]),
            "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
        }
    )
    tables["orders"] = orders_table(
        _rng(seed, "orders"), np.arange(n_ord, dtype=np.int64), n_cust
    )
    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * r.uniform(900.0, 2100.0, n_line), 2)),
            "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_line)]),
            "l_shipdate": _days_to_ts(_DAY0 + 1 + r.integers(0, _DAYS + 90, n_line)),
        }
    )
    r = _rng(seed, "events")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(
                _TS0 + np.sort(r.integers(0, _TS_SPAN, n_ev)), pa.timestamp("us")
            ),
            "user_id": pa.array(r.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
        }
    )
    tables["documents"] = _docs(_rng(seed, "documents"), n_docs, near_dup_share)
    tables["embeddings"] = _embeddings(_rng(seed, "embeddings"), n_vecs, near_dup_share)

    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_change_batches(
    out_dir: str,
    seed: int,
    n_orders: int,
    n_cust: int,
    n_batches: int,
    batch_rows: int,
    update_share: float,
    insert_only_every: int,
) -> list[dict]:
    """Seeded change batches for ``orders``, one parquet file each.

    A batch updates ``update_share`` of its rows (existing keys, biased
    toward recent ones: the key offset from the newest key is exponential)
    and inserts the rest as new keys. Every ``insert_only_every``-th batch
    is insert-only, so its commit is append-only. Keys are unique within a
    batch; updated rows take a status (U or V) no generated order has."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "changes")
    next_key = n_orders
    meta = []
    for b in range(n_batches):
        insert_only = insert_only_every > 0 and b % insert_only_every == insert_only_every - 1
        n_upd = 0 if insert_only else int(round(batch_rows * update_share))
        upd: set[int] = set()
        scale = max(1.0, next_key / 8)
        while len(upd) < n_upd:
            off = int(r.exponential(scale))
            if off < next_key:
                upd.add(next_key - 1 - off)
        ins = np.arange(next_key, next_key + batch_rows - n_upd, dtype=np.int64)
        next_key += len(ins)
        keys = np.concatenate([np.array(sorted(upd), dtype=np.int64), ins])
        t = orders_table(r, keys, n_cust)
        status = np.array(t["o_orderstatus"].to_pylist())
        status[:n_upd] = np.array(["U", "V"])[r.integers(0, 2, n_upd)]
        t = t.set_column(2, "o_orderstatus", pa.array(status))
        path = os.path.join(out_dir, f"batch_{b:04d}.parquet")
        _write(t, path)
        meta.append({"path": path, "rows": len(keys), "updates": n_upd, "insert_only": insert_only})
    return meta


def workload_inputs(root: str, workload: str, seed: int) -> dict:
    """Generate the inputs of one workload under ``root``; return their
    description (paths, sizes and the seeded knobs)."""
    if os.path.isdir(root):
        shutil.rmtree(root)
    r = _rng(seed, "knobs")
    info: dict = {"dir": os.path.join(root, "tables"), "seed": seed}
    if workload == "interactive_sql":
        info["rows"] = write_tables(info["dir"], seed, sf=0.01, n_docs=500, n_vecs=500)
    elif workload == "llm_curation":
        share = float(np.round(r.uniform(0.05, 0.25), 3))
        info["near_dup_share"] = share
        info["rows"] = write_tables(
            info["dir"], seed, sf=0.001, n_docs=400, n_vecs=400, near_dup_share=share
        )
    elif workload == "delta_scd2_sync":
        update_share = float(np.round(r.uniform(0.3, 0.8), 3))
        info["update_share"] = update_share
        info["rows"] = write_tables(info["dir"], seed, sf=0.01, n_docs=50, n_vecs=50)
        info["batches"] = write_change_batches(
            os.path.join(root, "changes"),
            seed,
            n_orders=info["rows"]["orders"],
            n_cust=info["rows"]["customer"],
            n_batches=16,
            batch_rows=500,
            update_share=update_share,
            insert_only_every=2,
        )
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return info

