"""Seeded fixture generator for the perfbench workloads.

Two kinds of input:

* ``tables(dir, sf)`` writes the ten registry tables (TPC-H-shaped star
  schema, ``events``, ``documents``, ``embeddings``) at scale factor ``sf``,
  one single-row-group parquet file each, with the same schemas and value
  domains as the registry's test data. The table contents use a fixed data
  seed so that the committed per-key result fingerprints stay valid; the run
  seed only sets the key order (see ``run.py``).
* ``ingest(dir, seed, ...)`` writes the landing batches of the ``ingest``
  workload from the run seed and returns the state the pipeline must end in:
  per-merge written row counts, quarantined rows and the final table
  checksum, computed here by replaying the merges in Python.

Only numpy and pyarrow are used; everything is written under ``dir``.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
GEN_VERSION = 1

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem_columns(rng, n, n_orders, n_parts, n_supp):
    return {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_parts, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 901.0, 104998.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(EPOCH_1995 + DAY_US + rng.integers(0, 2500, n) * DAY_US),
    }


def documents(rng, n):
    texts = []
    for _ in range(n):
        texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))]))
    # 5% near-duplicates: an earlier or later document plus one marker word
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tables(out, sf):
    """Write the ten registry tables at scale factor ``sf`` into ``out``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2400, n_orders) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders)})
    t["lineitem"] = pa.table(lineitem_columns(rng, n_line, n_orders, n_part, n_supp))
    gaps = rng.exponential(30 * DAY_US / max(1, n_events), n_events)
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_events),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})
    t["documents"] = documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    for name, table in t.items():
        _write(table, os.path.join(out, f"{name}.parquet"))


# ------------------------------------------------------------------ ingest

INGEST_COLS = ["li_id", "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
               "l_quantity", "l_extendedprice", "l_discount", "l_tax",
               "l_returnflag", "l_linestatus", "l_shipdate", "rev", "op"]


def _ingest_rows(rng, ids, rev, op):
    n = len(ids)
    cols = lineitem_columns(rng, n, 150_000, 20_000, 1_000)
    cols = {"li_id": np.asarray(ids, dtype=np.int64), **cols,
            "rev": np.full(n, rev, dtype=np.int64),
            "op": pa.array(np.asarray(op, dtype=object))}
    return cols


def _checksum(state):
    """Order-independent integer checksum the harness recomputes in Spark:
    (rows, sum(li_id), sum(rev), sum(l_quantity))."""
    ids = np.fromiter(state.keys(), dtype=np.int64, count=len(state))
    vals = np.array(list(state.values()), dtype=np.int64).reshape(-1, 2)
    return [len(state), int(ids.sum()), int(vals[:, 0].sum()), int(vals[:, 1].sum())]


def ingest(out, seed, base_rows, merges, update_frac=0.01, insert_frac=0.002,
           tombstone_share=0.2, bad_rows=3, stream_files=20, stream_rows=2000):
    """Write the ingest landing batches under ``out`` and return the plan
    steps plus the expected outcome of every step."""
    rng = np.random.default_rng(seed)
    state = {}  # li_id -> (rev, l_quantity)
    steps, expect = [], []
    ids = np.arange(base_rows, dtype=np.int64)
    cols = _ingest_rows(rng, ids, 0, ["L"] * base_rows)
    _write(pa.table(cols), os.path.join(out, "load", "part-0.parquet"))
    for i, q in zip(ids, cols["l_quantity"]):
        state[int(i)] = (0, int(q))
    steps.append(("load", os.path.join(out, "load")))
    expect.append({"rows": len(state), "quarantined": 0})
    next_id = base_rows
    for b in range(1, merges + 2):
        live = np.fromiter(state.keys(), dtype=np.int64, count=len(state))
        n_upd = max(1, int(base_rows * update_frac))
        n_ins = max(1, int(base_rows * insert_frac))
        touched = rng.choice(live, n_upd + bad_rows, replace=False)
        upd, bad = touched[:n_upd], touched[n_upd:]
        ins = np.arange(next_id, next_id + n_ins, dtype=np.int64)
        next_id += n_ins
        tomb = rng.random(n_upd) < tombstone_share
        keys = np.concatenate([upd, ins, bad])
        ops = ["D" if t else "U" for t in tomb] + ["I"] * n_ins + ["U"] * bad_rows
        cols = _ingest_rows(rng, keys, b, ops)
        # rows failing the `positive_qty` constraint go to quarantine
        cols["l_quantity"][len(keys) - bad_rows:] = -1.0
        _write(pa.table(cols), os.path.join(out, f"merge_{b:03d}", "part-0.parquet"))
        for k, op, q in zip(keys[:len(keys) - bad_rows], ops, cols["l_quantity"]):
            if op == "D":
                state.pop(int(k), None)
            else:
                state[int(k)] = (b, int(q))
        kind = "optimize" if b == merges + 1 else "merge"
        steps.append((kind, os.path.join(out, f"merge_{b:03d}")))
        expect.append({"rows": len(state), "quarantined": bad_rows})
    steps.append(("vacuum", ""))
    expect.append({})
    land = os.path.join(out, "events_landing")
    for f in range(stream_files):
        n0 = f * stream_rows
        _write(pa.table({
            "event_id": np.arange(n0, n0 + stream_rows, dtype=np.int64),
            "user_id": rng.integers(0, 1500, stream_rows),
            "event_type": _pick(rng, EVENT_TYPES, stream_rows),
            "value": np.round(rng.exponential(50.0, stream_rows), 2)}),
            os.path.join(land, f"events-{f:04d}.parquet"))
    steps.append(("drain", land))
    expect.append({"rows": stream_files * stream_rows})
    return steps, expect, _checksum(state)


def write_json(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
