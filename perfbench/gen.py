"""Seeded input generation for the benchmark.

Everything the engine reads during a run comes from here, derived from the
``--seed`` argument alone: the TPC-H-shaped tables (row order and parquet
row-group layout included), the query order, the dbt change batches and
PR edit choices, and the document corpus with its injected near-duplicates
and incoming admission batches. The engine is handed only the files this
module writes.

The tables follow the schemas and value domains of the engine's fixtures
(FIXTURES.md): same column names and types, same categorical vocabularies,
two-decimal prices, microsecond timestamps.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the spark data query join group order sort hash key value table "
    "column row scan filter merge stream batch window vector agg line part "
    "customer fast slow big small model index shard plan cache commit file "
    "delta graph node edge token to of and with"
).split()

DAY_US = 86_400_000_000
ORDER_EPOCH = datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = datetime(2024, 1, 1)


def generator_hash(*more: str, text: str = "") -> str:
    """Hash of this file, of the files ``more`` (the workload module,
    which picks the query mix) and of ``text`` (the oracle SQL the
    workload takes from the engine): cached inputs are keyed on it, so
    editing any of them never reuses stale inputs."""
    h = hashlib.sha256()
    for path in (__file__, *more):
        with open(path, "rb") as f:
            h.update(f.read())
    h.update(text.encode())
    return h.hexdigest()[:12]


def _ts(epoch: datetime, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(table: pa.Table, path: str, rng: np.random.Generator) -> int:
    """Write one parquet file with a seeded row-group size (the file
    layout varies with the seed, the content does not depend on it)."""
    row_group = int(rng.choice([8_192, 32_768, 131_072]))
    pq.write_table(table, path, row_group_size=row_group, compression="snappy")
    return os.path.getsize(path)


def _permuted(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
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
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.integers(-99_999, 999_999, n_cust) / 100, 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.integers(-99_999, 999_999, n_supp) / 100, 2),
    })
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    odate = rng.integers(0, ORDER_DAYS, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.integers(100_000, 50_000_000, n_ord) / 100, 2),
        "o_orderdate": _ts(ORDER_EPOCH, odate * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    n_lines = rng.integers(1, 8, n_ord)
    lkey = np.repeat(np.arange(n_ord), n_lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in n_lines]).astype(np.int32)
    n_li = len(lkey)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ORDER_EPOCH, (odate[lkey] + rng.integers(1, 122, n_li)) * DAY_US),
    })
    t["events"] = events_table(rng, 0, n_events, max(n_events // 66, 10), 0, 30)
    t["documents"] = documents_table(rng, 0, n_docs)
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.9).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def events_table(
    rng: np.random.Generator, first_id: int, n: int, n_users: int, day0: int, days: int
) -> pa.Table:
    offs = np.sort(day0 * DAY_US + rng.integers(0, days * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(EVENT_EPOCH, offs),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents_table(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    texts = [_text(rng, int(w)) for w in rng.integers(10, 100, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def near_duplicate(rng: np.random.Generator, text: str) -> str:
    """A high-similarity copy: one word appended. For a document of n
    words this adds one 3-shingle, so the exact Jaccard is
    (n-2)/(n-1) ≥ 0.95 for the ≥ 50-word documents the text filter keeps."""
    return f"{text} {WORDS[int(rng.integers(0, len(WORDS)))]}"


# -- workload input sets ------------------------------------------------------

WAREHOUSE_SF = 0.02
DBT_SF = 0.01
DBT_CYCLES = 12
CORPUS_DOCS = 400
ADMIT_BATCHES = DBT_CYCLES  # one per cycle
ADMIT_BATCH_DOCS = 100


def gen_warehouse(root: str, seed: int, queries: list[str]) -> dict:
    rng = np.random.default_rng([seed, 1])
    sizes = {}
    for name, table in tpch_tables(rng, WAREHOUSE_SF).items():
        table = table if name == "events" else _permuted(table, rng)
        sizes[name] = {"rows": table.num_rows, "bytes": _write(table, os.path.join(root, f"{name}.parquet"), rng)}
    order = [queries[i] for i in rng.permutation(len(queries))]
    return {"sizes": sizes, "query_order": order}


def gen_dbt(root: str, seed: int) -> dict:
    """Base source tables plus DBT_CYCLES change batches. Batch k holds
    updates, inserts and deletes on orders and customer, a day of new
    events, and the PR edit choice; the source tables of cycle k are the
    base with batches 1..k applied (written per cycle by the runner from
    these batch files, so landing stays untimed)."""
    rng = np.random.default_rng([seed, 2])
    t = tpch_tables(rng, DBT_SF)
    src = os.path.join(root, "base")
    os.makedirs(src, exist_ok=True)
    orders = _permuted(t["orders"], rng)
    customer = t["customer"].append_column(
        "c_updated_at", _ts(EVENT_EPOCH, np.zeros(t["customer"].num_rows, np.int64))
    )
    sizes = {
        "orders": {"rows": orders.num_rows, "bytes": _write(orders, os.path.join(src, "orders.parquet"), rng)},
        "customer": {"rows": customer.num_rows, "bytes": _write(customer, os.path.join(src, "customer.parquet"), rng)},
    }
    n_users = t["events"].num_rows // 66
    ev = t["events"]
    sizes["events"] = {"rows": ev.num_rows, "bytes": _write(ev, os.path.join(src, "events.parquet"), rng)}
    n_ord, n_cust = orders.num_rows, customer.num_rows
    next_ord, next_cust, next_event = n_ord, n_cust, ev.num_rows
    live_orders = set(range(n_ord))
    live_cust = set(range(n_cust))
    batches = []
    for k in range(1, DBT_CYCLES + 1):
        bdir = os.path.join(root, f"batch_{k:03d}")
        os.makedirs(bdir, exist_ok=True)
        lo = np.array(sorted(live_orders))
        upd = rng.choice(lo, n_ord // 100, replace=False)
        rest = np.setdiff1d(lo, upd)
        dele = rng.choice(rest, n_ord // 300, replace=False)
        ins = np.arange(next_ord, next_ord + n_ord // 200)
        next_ord += len(ins)
        live_orders -= set(dele.tolist())
        live_orders |= set(ins.tolist())
        keys = np.concatenate([upd, ins, dele])
        n = len(keys)
        ops = ["U"] * len(upd) + ["I"] * len(ins) + ["D"] * len(dele)
        ochg = pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.integers(100_000, 50_000_000, n) / 100, 2),
            "o_orderdate": _ts(ORDER_EPOCH, rng.integers(0, ORDER_DAYS, n) * DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
            "op": ops,
        })
        lc = np.array(sorted(live_cust))
        cupd = rng.choice(lc, n_cust // 50, replace=False)
        cdel = rng.choice(np.setdiff1d(lc, cupd), max(n_cust // 500, 1), replace=False)
        cins = np.arange(next_cust, next_cust + n_cust // 200)
        next_cust += len(cins)
        live_cust -= set(cdel.tolist())
        live_cust |= set(cins.tolist())
        ckeys = np.concatenate([cupd, cins, cdel])
        m = len(ckeys)
        cchg = pa.table({
            "c_custkey": pa.array(ckeys, pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in ckeys],
            "c_nationkey": pa.array(rng.integers(0, 25, m), pa.int32()),
            "c_acctbal": np.round(rng.integers(-99_999, 999_999, m) / 100, 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, m)],
            "c_updated_at": _ts(EVENT_EPOCH, np.full(m, k * 3_600_000_000, np.int64)),
            "op": ["U"] * len(cupd) + ["I"] * len(cins) + ["D"] * len(cdel),
        })
        n_new = ev.num_rows // 30
        events = events_table(rng, next_event, n_new, n_users, 29 + k, 1)
        next_event += n_new
        os.makedirs(os.path.join(bdir, "landing"), exist_ok=True)
        landed = sum(
            _write(tbl, path, rng)
            for tbl, path in (
                (ochg, os.path.join(bdir, "orders_changes.parquet")),
                (cchg, os.path.join(bdir, "customer_changes.parquet")),
                (events, os.path.join(bdir, "landing", "events.parquet")),
            )
        )
        batches.append({
            "dir": bdir,
            "landed_bytes": landed,
            "edit": int(rng.integers(0, 1 << 30)),
            "rows": {"orders": n, "customer": m, "events": n_new},
        })
    return {"sizes": sizes, "batches": batches}


def gen_corpus(root: str, seed: int) -> dict:
    """A document corpus with injected near-duplicates, plus incoming
    admission batches, each carrying near-duplicates of corpus documents.
    Injected pairs are recorded as (original, copy) so the checks can
    require every one of them to be found."""
    rng = np.random.default_rng([seed, 3])
    n_base = CORPUS_DOCS
    docs = documents_table(rng, 0, n_base)
    texts = docs.column("text").to_pylist()
    n_dup = n_base // 20
    # originals long enough that both copies pass the text filter's
    # 50-word minimum, so every injected pair reaches the dedup stage
    long_docs = np.flatnonzero([len(s.split()) >= 60 for s in texts])
    originals = rng.choice(long_docs, n_dup, replace=False)
    dup_ids = np.arange(n_base, n_base + n_dup)
    dup_texts = [near_duplicate(rng, texts[i]) for i in originals]
    corpus = pa.concat_tables([docs, pa.table({
        "doc_id": pa.array(dup_ids, pa.int64()),
        "text": dup_texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_dup)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_dup)],
        "n_chars": pa.array([len(s) for s in dup_texts], pa.int64()),
    })])
    corpus = _permuted(corpus, rng)
    sizes = {"documents": {"rows": corpus.num_rows, "bytes": _write(corpus, os.path.join(root, "documents.parquet"), rng)}}
    batches = []
    next_id = 1_000_000
    for b in range(ADMIT_BATCHES):
        fresh = documents_table(rng, next_id, ADMIT_BATCH_DOCS)
        n_near = ADMIT_BATCH_DOCS // 10
        src = rng.choice(long_docs, n_near, replace=False)
        near_ids = np.arange(next_id + ADMIT_BATCH_DOCS, next_id + ADMIT_BATCH_DOCS + n_near)
        near_texts = [near_duplicate(rng, texts[i]) for i in src]
        batch = pa.concat_tables([fresh.select(["doc_id", "text"]), pa.table({
            "doc_id": pa.array(near_ids, pa.int64()), "text": near_texts,
        })])
        path = os.path.join(root, f"admit_{b:03d}.parquet")
        _write(batch, path, rng)
        batches.append({
            "path": path,
            "injected": [[int(s), int(i)] for s, i in zip(src, near_ids)],
        })
        next_id += 10_000
    return {
        "sizes": sizes,
        "injected": [[int(o), int(d)] for o, d in zip(originals, dup_ids)],
        "batches": batches,
    }
